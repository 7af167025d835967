"""Round-8 additions: published data-selection / curation methods a
training-data platform layers over the dedup + quality surface —
DSIR hashed-ngram importance weighting + Gumbel top-k resampling (Xie
et al. 2023), CCNet perplexity bucketing (Wenzek et al. 2020), exact
chunk-grain dedup with document reconstruction (Lee et al. 2022),
the production two-stage ANN search (IVF-PQ ADC shortlist -> exact
re-rank), NDCG@k retrieval eval, t-closeness governance audit (Li et
al. 2007), filter-funnel attrition reporting, rendezvous-hash shard
placement (Thaler & Ravishankar 1998), label-propagation communities
(Raghavan et al. 2007), positional phrase search, T5 span-corruption
planning (Raffel et al. 2020), BPE merge application (Sennrich et al.
2016), and suffix/prefix split-document detection.

Every query follows the catalog determinism rules (catalog.py module
docstring): identical aliases on both engines, explicit tiebreaks on
every ranking, rounding at the edge only, and the shared md5 hash
family (functions/portable.py) wherever a bucket id must match DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.lineage import truncate_lineage
from ..functions.portable import portable_hash64, portable_hash64_sql
from ..operators.fanout import fan_out
from .catalog import register, table
from .training import _PQ_CODES, _PQ_SUBS, _adc_scored_pairs

# ---------------------------------------------------------------------------
# DSIR — importance weights from hashed-bigram bucket distributions
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 512
_DSIR_TARGET = "src0"  # the "high-quality target" slice of the corpus


@register(
    "dsir_importance_weights",
    f"""
    WITH toks AS (
        SELECT doc_id, source = '{_DSIR_TARGET}' AS is_target,
               string_split(lower(text), ' ') AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id, is_target,
               {portable_hash64_sql("ws[i] || ' ' || ws[i + 1]")}
                   % {_DSIR_BUCKETS} AS bucket
        FROM (SELECT doc_id, is_target, ws,
                     unnest(generate_series(1, len(ws) - 1)) AS i
              FROM toks WHERE len(ws) >= 2)
    ),
    bg AS (
        SELECT doc_id, is_target, bucket, count(*) AS c
        FROM grams GROUP BY 1, 2, 3
    ),
    totals AS (
        SELECT bucket,
               sum(CASE WHEN is_target THEN c ELSE 0 END) AS tc,
               sum(c) AS rc
        FROM bg GROUP BY 1
    ),
    scalars AS (
        SELECT CAST(sum(tc) AS DOUBLE) AS t_tot,
               CAST(sum(rc) AS DOUBLE) AS r_tot
        FROM totals
    ),
    ratios AS (
        SELECT bucket,
               ln((tc + 1.0) / (t_tot + {_DSIR_BUCKETS}))
             - ln((rc + 1.0) / (r_tot + {_DSIR_BUCKETS})) AS lr
        FROM totals CROSS JOIN scalars
    )
    SELECT bg.doc_id,
           CAST(sum(bg.c) AS BIGINT) AS n_bigrams,
           round(sum(bg.c * r.lr), 5) AS dsir_logw
    FROM bg JOIN ratios r ON bg.bucket = r.bucket
    GROUP BY bg.doc_id
    """,
    tags=("X-dsir",),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023):
    score every raw document by how much more likely its hashed-bigram
    features are under the target-slice distribution than under the raw
    corpus — log w(doc) = Σ_b c_doc(b)·[ln p_target(b) − ln p_raw(b)]
    with add-1 smoothing over 512 hashed buckets. Selection then samples
    by these weights; the weight computation is the whole distributed
    job, and it needs NO model — both "distributions" are one
    512-row aggregate.

    Distributed shape: one bigram explode feeding one (doc, bucket)
    keyed aggregation (map-side combined — the ONLY data-grain shuffle);
    the bucket-grain target/raw totals re-aggregate that already-reduced
    frame (metadata scale), the two corpus totals ride as a broadcast
    scalar row, and the 512-row log-ratio frame broadcast-joins back
    onto the doc-bucket counts for the per-doc weight sum. The shared
    doc-bucket frame has two consumers (totals + final join) so it is
    lazily checkpointed — Catalyst does not dedupe aliased subplans.
    Bucket ids come from the portable md5 family: uniform shuffle keys
    AND engine-exact oracle parity. At 100 TB nothing here grows with
    the corpus except the one map-combined explode."""
    docs = table(spark, sf_dir, "documents")
    bg = truncate_lineage(dsir_doc_buckets(docs), eager=False)
    model = dsir_model(bg)
    return dsir_weights(bg, model)


def dsir_doc_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, is_target, bucket, c): per-doc hashed-bigram bucket
    counts — the only data-grain frame in the DSIR pipeline."""
    ws = F.split(F.lower("text"), " ")
    # zip_with over two shifted slices beats transform+slice+array_join
    # ~2x per-row (no per-bigram array allocation; measured at sf0.1)
    grams_expr = F.expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),"
        " (a, b) -> concat(a, ' ', b))"
    )
    grams = (
        docs.select(
            "doc_id",
            (F.col("source") == _DSIR_TARGET).alias("is_target"),
            ws.alias("ws"),
        )
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            "is_target",
            F.explode(grams_expr).alias("gram"),
        )
        .select(
            "doc_id",
            "is_target",
            (portable_hash64(F.col("gram")) % _DSIR_BUCKETS).alias("bucket"),
        )
    )
    return grams.groupBy("doc_id", "is_target", "bucket").agg(
        F.count("*").alias("c")
    )


def dsir_model(bg: DataFrame) -> DataFrame:
    """(bucket, tc, rc): target and raw bucket totals. ADDITIVE across
    document slices — summing two slices' models equals the model of
    their union — so an incremental form is a plain additive upsert on
    this grain (no re-scan of history)."""
    return bg.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("tc"),
        F.sum("c").cast("long").alias("rc"),
    )


def dsir_weights(bg: DataFrame, model: DataFrame) -> DataFrame:
    """Per-doc importance log-weights from a (bucket, tc, rc) model —
    the model may come from the same frame (the catalog query) or from
    an incrementally-maintained table."""
    scalars = model.agg(
        F.sum("tc").cast("double").alias("t_tot"),
        F.sum("rc").cast("double").alias("r_tot"),
    )
    b = float(_DSIR_BUCKETS)
    ratios = model.crossJoin(F.broadcast(scalars)).select(
        "bucket",
        (
            F.log((F.col("tc") + 1.0) / (F.col("t_tot") + b))
            - F.log((F.col("rc") + 1.0) / (F.col("r_tot") + b))
        ).alias("lr"),
    )
    return (
        bg.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("c") * F.col("lr")), 5).alias("dsir_logw"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet — per-language perplexity terciles (head / middle / tail)
# ---------------------------------------------------------------------------


@register(
    "ccnet_perplexity_buckets",
    """
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    doc_bi AS (
        SELECT doc_id, w1, w2, count(*) AS dc
        FROM (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
              FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
                    FROM toks WHERE len(ws) >= 2))
        GROUP BY 1, 2, 3
    ),
    cb AS (SELECT w1, w2, sum(dc) AS cb FROM doc_bi GROUP BY 1, 2),
    cu AS (
        SELECT w, count(*) AS cu
        FROM (SELECT unnest(ws) AS w FROM toks)
        GROUP BY 1
    ),
    v AS (SELECT CAST(count(*) AS DOUBLE) AS V FROM cu),
    probs AS (
        SELECT cb.w1, cb.w2,
               (cb.cb + 0.5) / (cu.cu + 0.5 * v.V) AS p
        FROM cb JOIN cu ON cb.w1 = cu.w CROSS JOIN v
    ),
    ce AS (
        SELECT d.doc_id,
               round(-sum(d.dc * log2(p.p)) / sum(d.dc), 5) AS ce_bits
        FROM doc_bi d JOIN probs p ON d.w1 = p.w1 AND d.w2 = p.w2
        GROUP BY d.doc_id
    ),
    langed AS (
        SELECT ce.doc_id, docs.lang, ce.ce_bits
        FROM ce JOIN documents docs ON ce.doc_id = docs.doc_id
    ),
    cuts AS (
        SELECT lang,
               quantile_cont(ce_bits, CAST(1 AS DOUBLE) / 3) AS c1,
               quantile_cont(ce_bits, CAST(2 AS DOUBLE) / 3) AS c2
        FROM langed GROUP BY 1
    )
    SELECT l.doc_id, l.lang, l.ce_bits AS cross_entropy_bits,
           CASE WHEN l.ce_bits <= c.c1 THEN 'head'
                WHEN l.ce_bits <= c.c2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM langed l JOIN cuts c ON l.lang = c.lang
    """,
    tags=("X-ccnet",),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's quality split (Wenzek et al. 2020): per language, rank
    documents by LM perplexity and cut the corpus into head / middle /
    tail terciles — the bucketing CommonCrawl pipelines use to keep the
    fluent third and drop (or down-sample) the tail. The LM here is the
    corpus bigram model of bigram_lm_cross_entropy, reused as a frame.

    Distributed shape: the per-doc cross-entropy is the existing
    bigram-LM plan (corpus counts map-combined, probabilities joined at
    bigram grain); the tercile CUTOFFS are a per-language
    array-percentile aggregate — a few rows per language — broadcast
    back onto the doc frame for the bucket CASE. No data-grain window
    anywhere: the naive ntile(3) formulation sorts every document within
    a language on one machine's worth of state, while this form reduces
    to metadata, so it survives a language with 99% of the corpus. The
    doc-grain cross-entropy frame has two consumers (cutoffs + final
    join) and is lazily checkpointed. Exactness: Spark percentile() and
    DuckDB quantile_cont() share linear-interpolation semantics
    (value_percentiles_exact precedent) over identical round-5 inputs."""
    from ..operators.corpus import bigram_cross_entropy

    docs = table(spark, sf_dir, "documents")
    ce = bigram_cross_entropy(docs).select(
        "doc_id", F.col("cross_entropy_bits").alias("ce_bits")
    )
    langed = truncate_lineage(
        ce.join(docs.select("doc_id", "lang"), "doc_id"), eager=False
    )
    cuts = langed.groupBy("lang").agg(
        F.expr(
            "percentile(ce_bits, array(CAST(1 AS DOUBLE) / 3, CAST(2 AS DOUBLE) / 3))"
        ).alias("ps")
    )
    cuts = cuts.select(
        "lang", F.col("ps")[0].alias("c1"), F.col("ps")[1].alias("c2")
    )
    return langed.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        F.col("ce_bits").alias("cross_entropy_bits"),
        F.when(F.col("ce_bits") <= F.col("c1"), "head")
        .when(F.col("ce_bits") <= F.col("c2"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# Exact chunk-grain dedup with document reconstruction (Lee et al. 2022)
# ---------------------------------------------------------------------------

_CHUNK_WORDS = 16


def chunk_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, chunk, digest): the fixed 16-word chunk fan-out —
    a narrow transform (sequence + slice + md5, zero Python, zero
    shuffle), used by the batch reconstruct query."""
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    return toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("w"), F.lit(_CHUNK_WORDS))
        ).alias("start"),
        F.col("w"),
    ).select(
        "doc_id",
        ((F.col("start") - 1) / _CHUNK_WORDS).cast("long").alias("pos"),
        F.concat_ws(" ", F.slice("w", F.col("start"), _CHUNK_WORDS)).alias(
            "chunk"
        ),
    ).withColumn("digest", F.md5("chunk"))


@register(
    "chunk_dedup_reconstruct",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    ch AS (
        SELECT doc_id,
               CAST((start - 1) // {_CHUNK_WORDS} AS BIGINT) AS pos,
               array_to_string(w[start:start + {_CHUNK_WORDS - 1}], ' ') AS chunk,
               md5(array_to_string(w[start:start + {_CHUNK_WORDS - 1}], ' '))
                   AS digest
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, len(w), {_CHUNK_WORDS})) AS start
              FROM toks)
    ),
    flagged AS (
        SELECT doc_id, pos, chunk,
               doc_id * 100000 + pos
                   = min(doc_id * 100000 + pos) OVER (PARTITION BY digest)
                   AS kept
        FROM ch
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN kept THEN chunk END,
                               ' ' ORDER BY pos), '') AS dedup_text
    FROM flagged GROUP BY 1
    """,
    tags=("X-chunk-dedup",),
)
def chunk_dedup_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-grain dedup with reconstruction (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", at a
    fixed 16-word chunk grain): every chunk keeps exactly ONE owner
    corpus-wide — the lexicographically first (doc_id, position)
    occurrence — and each document is re-assembled from the chunks it
    owns, so repeated boilerplate vanishes from every copy but the
    first while unique prose survives. Unlike doc-grain dedup this
    removes duplication INSIDE surviving documents too.

    Distributed shape (the text never shuffles twice): owner election
    runs on a KEYS-ONLY projection of the chunk fan-out — Catalyst
    prunes the chunk text, so the groupBy(digest).min(owner) shuffle
    moves (digest, doc_id, pos) partial aggregates only, map-side
    combined to one row per distinct digest per map partition. The
    winners — already just (doc_id, pos) pairs — are folded to one
    sorted kept-position array per doc (a second keys-only shuffle),
    and reassembly joins that small frame back to the DOCUMENTS scan,
    re-slicing each kept chunk out of the original text with the same
    sequence/slice arithmetic chunk_frame uses. The corpus text crosses
    the wire exactly once (the doc_id join), versus twice for the
    naive window-over-digest + groupBy(doc_id) plan — at 100 TB the
    text is ~20-40x the key columns, so this halves the dominant
    shuffle. A left join keeps fully-duplicated docs (no owned chunks)
    with n_kept = 0 and an empty reconstruction — the accounting a
    dedup report needs. The oracle's integer owner key
    (doc_id*100000+pos) equals the struct min because positions are
    bounded by the chunk count; the Spark side orders on the struct
    itself."""
    docs = table(spark, sf_dir, "documents")
    keys = chunk_frame(docs).select("digest", "doc_id", "pos")
    owners = keys.groupBy("digest").agg(
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("o")
    )
    kept = owners.groupBy(F.col("o.doc_id").alias("doc_id")).agg(
        F.sort_array(F.collect_list("o.pos")).alias("kept_pos")
    )
    # join TEXT, not the split array: shuffling the word array through
    # the exchange serializes per-word overhead (~2x the bytes; the
    # rejected variant measured 1.87 s vs 0.92 s warm at sf1) — split
    # after the join, inside the final narrow projection.
    joined = docs.select("doc_id", "text").join(kept, "doc_id", "left")
    w = "split(text, ' ')"
    reassemble = (
        f"concat_ws(' ', transform(kept_pos, p -> "
        f"concat_ws(' ', slice({w}, CAST(p * {_CHUNK_WORDS} + 1 AS INT), "
        f"{_CHUNK_WORDS}))))"
    )
    return joined.select(
        "doc_id",
        F.expr(
            f"CAST(floor((size({w}) - 1) / {_CHUNK_WORDS}) + 1 AS BIGINT)"
        ).alias("n_chunks"),
        F.coalesce(F.size("kept_pos"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.expr(reassemble), F.lit("")).alias("dedup_text"),
    )


# ---------------------------------------------------------------------------
# Two-stage ANN: IVF-PQ ADC shortlist -> exact re-rank
# ---------------------------------------------------------------------------

_RERANK_SHORTLIST = 50


def _adc_oracle_ctes() -> str:
    """The codes + ADC CTE pair shared with ann_ivfpq_adc_topk's oracle
    (training.py): corpus PQ codes from the closed-form LCG codebook,
    then asymmetric distances for the 5 probe queries."""
    return f"""
    codes AS (
        SELECT vec_id,
               list_transform(generate_series(0, {_PQ_SUBS - 1}), s ->
                   CAST(list_indexof(
                       list_transform(generate_series(0, {_PQ_CODES - 1}), c ->
                           list_reduce(list_transform(generate_series(1, 8), j ->
                               (CAST(embedding[CAST(s*8+j AS INT)] AS DOUBLE)
                                - ((((s*{_PQ_CODES}+c)*8 + j) * 1103515245 + 12345)
                                   % 65536 / 32768.0 - 1.0))
                               * (CAST(embedding[CAST(s*8+j AS INT)] AS DOUBLE)
                                  - ((((s*{_PQ_CODES}+c)*8 + j) * 1103515245 + 12345)
                                     % 65536 / 32768.0 - 1.0))),
                               (a, b) -> a + b)),
                       list_min(
                       list_transform(generate_series(0, {_PQ_CODES - 1}), c ->
                           list_reduce(list_transform(generate_series(1, 8), j ->
                               (CAST(embedding[CAST(s*8+j AS INT)] AS DOUBLE)
                                - ((((s*{_PQ_CODES}+c)*8 + j) * 1103515245 + 12345)
                                   % 65536 / 32768.0 - 1.0))
                               * (CAST(embedding[CAST(s*8+j AS INT)] AS DOUBLE)
                                  - ((((s*{_PQ_CODES}+c)*8 + j) * 1103515245 + 12345)
                                     % 65536 / 32768.0 - 1.0))),
                               (a, b) -> a + b)))) - 1 AS INT)) AS codes
        FROM embeddings
    ),
    adc AS (
        SELECT q.vec_id AS query_id, x.vec_id AS cand_id,
               list_reduce(list_transform(generate_series(0, {_PQ_SUBS - 1}), s ->
                   list_reduce(list_transform(generate_series(1, 8), j ->
                       (CAST(q.embedding[CAST(s*8+j AS INT)] AS DOUBLE)
                        - ((((s*{_PQ_CODES}+x.codes[CAST(s+1 AS INT)])*8 + j)
                            * 1103515245 + 12345) % 65536 / 32768.0 - 1.0))
                       * (CAST(q.embedding[CAST(s*8+j AS INT)] AS DOUBLE)
                          - ((((s*{_PQ_CODES}+x.codes[CAST(s+1 AS INT)])*8 + j)
                              * 1103515245 + 12345) % 65536 / 32768.0 - 1.0))),
                       (a, b) -> a + b)),
                   (a, b) -> a + b) AS adc_dist
        FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
        JOIN codes x ON x.vec_id <> q.vec_id
    )"""


@register(
    "ann_ivfpq_rerank_exact",
    f"""
    WITH {_adc_oracle_ctes()},
    shortlist AS (
        SELECT query_id, cand_id, adc_rank FROM (
            SELECT query_id, cand_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY adc_dist, cand_id
                   ) AS INT) AS adc_rank
            FROM adc
        ) WHERE adc_rank <= {_RERANK_SHORTLIST}
    ),
    exact AS (
        SELECT s.query_id, s.cand_id, s.adc_rank,
               round(list_reduce(list_transform(generate_series(1, 64), j ->
                   (CAST(q.embedding[CAST(j AS INT)] AS DOUBLE)
                    - CAST(e.embedding[CAST(j AS INT)] AS DOUBLE))
                   * (CAST(q.embedding[CAST(j AS INT)] AS DOUBLE)
                      - CAST(e.embedding[CAST(j AS INT)] AS DOUBLE))),
                   (a, b) -> a + b), 6) AS l2_dist
        FROM shortlist s
        JOIN embeddings e ON e.vec_id = s.cand_id
        JOIN embeddings q ON q.vec_id = s.query_id
    )
    SELECT query_id, cand_id, l2_dist, adc_rank, CAST(rank AS INT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY l2_dist, cand_id) AS rank
        FROM exact
    ) WHERE rank <= 10
    """,
    tags=("X-ivfpq-rerank",),
)
def ann_ivfpq_rerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN serving path: the IVF-PQ ADC scan
    produces a 50-candidate shortlist per query (cheap — 8-byte codes,
    ~128x less IO than the float corpus), then ONLY the shortlist rows
    are re-scored against their true float vectors for the final exact
    top-10. This two-stage shape is what FAISS/SCANN deployments
    actually run: PQ compression bounds the scan cost, re-ranking
    removes the quantization error from the final ordering — the emitted
    adc_rank vs rank columns show exactly which candidates the
    compressed stage mis-ordered.

    Distributed shape: stage 1 is the ann_ivfpq_adc_topk plan (queries
    broadcast against a scan of codes, per-query k-cut pushed below the
    exchange by WindowGroupLimit). Stage 2 joins the tiny shortlist
    (queries x 50 rows, broadcast) against the embeddings scan to pull
    true vectors — the corpus is touched only at shortlist positions;
    at 100 TB this is the random-read tail a row-group-pruned parquet
    scan serves — then a fixed-order fold computes exact L2, rounded
    before ranking so the tiebreak (dist, cand_id) is engine-exact.
    Stage 1's per-pair work is 8 sub-table lookups, not the nested fold
    — the shared _adc_scored_pairs stage (training.py)."""
    emb = fan_out(table(spark, sf_dir, "embeddings"))

    queries = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    )
    scored = _adc_scored_pairs(spark, sf_dir)
    w_adc = Window.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    shortlist = (
        scored.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= _RERANK_SHORTLIST)
        .select("query_id", "cand_id", F.col("adc_rank").cast("int").alias("adc_rank"))
    )

    # r12 (VERDICT r11 item 4): static 64-term unroll replaces the
    # interpreted aggregate() lambda — the same A/B rule that won 35%
    # on the ADC stage (BASELINE r10: unroll tiny static folds; 64
    # terms is ~6 KB of expression, far under janino's 64 KB method
    # limit that killed the 128-code argmin unroll). Left-to-right +
    # is the oracle's list_reduce addition order, so doubles stay
    # bit-identical.
    exact_fold = "(0D + " + " + ".join(
        f"(CAST(element_at(q_emb, {j}) AS DOUBLE)"
        f" - CAST(element_at(c_emb, {j}) AS DOUBLE))"
        f" * (CAST(element_at(q_emb, {j}) AS DOUBLE)"
        f" - CAST(element_at(c_emb, {j}) AS DOUBLE))"
        for j in range(1, 65)
    ) + ")"
    cands = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    exact = (
        cands.join(F.broadcast(shortlist), "cand_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "cand_id",
            "adc_rank",
            F.round(F.expr(exact_fold), 6).alias("l2_dist"),
        )
    )
    w_ex = Window.partitionBy("query_id").orderBy("l2_dist", "cand_id")
    return (
        exact.withColumn("rank", F.row_number().over(w_ex))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "cand_id",
            "l2_dist",
            "adc_rank",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# NDCG@k — ranked-retrieval evaluation over the label-relevance task
# ---------------------------------------------------------------------------

_NDCG_K = 10


@register(
    "ndcg_at_k_eval",
    f"""
    WITH ranked AS (
        SELECT query_id, cand_id, rank FROM (
            SELECT q.vec_id AS query_id, a.vec_id AS cand_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(
                           list_reduce(list_transform(generate_series(1, 64), j ->
                               CAST(a.embedding[CAST(j AS INT)] AS DOUBLE)
                               * CAST(q.embedding[CAST(j AS INT)] AS DOUBLE)),
                               (x, y) -> x + y)
                           / (sqrt(list_reduce(list_transform(generate_series(1, 64), j ->
                               CAST(a.embedding[CAST(j AS INT)] AS DOUBLE)
                               * CAST(a.embedding[CAST(j AS INT)] AS DOUBLE)),
                               (x, y) -> x + y))
                            * sqrt(list_reduce(list_transform(generate_series(1, 64), j ->
                               CAST(q.embedding[CAST(j AS INT)] AS DOUBLE)
                               * CAST(q.embedding[CAST(j AS INT)] AS DOUBLE)),
                               (x, y) -> x + y))), 4) DESC, a.vec_id
                   ) AS rank
            FROM embeddings a
            JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
              ON a.vec_id <> q.vec_id
        ) WHERE rank <= {_NDCG_K}
    ),
    labeled AS (
        SELECT r.query_id, r.rank,
               CASE WHEN e.label = ql.label THEN 1 ELSE 0 END AS rel
        FROM ranked r
        JOIN embeddings e ON e.vec_id = r.cand_id
        JOIN embeddings ql ON ql.vec_id = r.query_id
    ),
    rtot AS (
        SELECT q.vec_id AS query_id, count(*) AS n_rel
        FROM embeddings a
        JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
          ON a.vec_id <> q.vec_id AND a.label = q.label
        GROUP BY 1
    ),
    dcg AS (
        SELECT query_id,
               sum(rel / log2(rank + 1.0)) AS dcg
        FROM labeled GROUP BY 1
    )
    SELECT d.query_id,
           round(d.dcg, 5) AS dcg,
           round(list_reduce(list_transform(
                     generate_series(1, CAST(least({_NDCG_K}, r.n_rel) AS INT)),
                     i -> 1.0 / log2(i + 1.0)), (x, y) -> x + y), 5) AS idcg,
           round(d.dcg / list_reduce(list_transform(
                     generate_series(1, CAST(least({_NDCG_K}, r.n_rel) AS INT)),
                     i -> 1.0 / log2(i + 1.0)), (x, y) -> x + y), 5) AS ndcg
    FROM dcg d JOIN rtot r ON d.query_id = r.query_id
    """,
    tags=("X-ndcg",),
)
def ndcg_at_k_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 for the label-relevance retrieval task: rank by exact
    cosine (the brute-force oracle ranking), score a hit when the
    candidate carries the query's label, normalize by the ideal DCG
    given how many relevant candidates exist at all — the standard
    graded-relevance eval a retrieval stack reports next to recall
    (ann_recall_report gives recall@k; this adds rank-position credit).

    Distributed shape: stage 1 is the brute_force_topk plan (queries
    broadcast, corpus scanned once, WindowGroupLimit k-cut); labels for
    the 50 shortlist rows come from a broadcast of the shortlist onto a
    second corpus scan; the per-query relevant-total is one conditional
    count on that same scan. The ideal-DCG series is a fixed-order
    64-free fold over at most k terms — closed form, no data. All
    per-query sums are <= 10 terms, rounded at the edge."""
    from ..operators.similarity import brute_force_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ranked = brute_force_topk(emb, queries, k=_NDCG_K).select(
        "query_id", "cand_id", "rank"
    )
    q_labels = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    c_labels = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("label").alias("c_label")
    )
    labeled = (
        c_labels.join(F.broadcast(ranked), "cand_id")
        .join(F.broadcast(q_labels), "query_id")
        .select(
            "query_id",
            "rank",
            F.when(F.col("c_label") == F.col("q_label"), 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    rtot = (
        emb.join(
            F.broadcast(q_labels),
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") == F.col("q_label")),
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("n_rel"))
    )
    dcg = labeled.groupBy("query_id").agg(
        F.sum(F.col("rel") / F.log2(F.col("rank") + 1.0)).alias("dcg")
    )
    idcg_fold = (
        f"aggregate(sequence(1, CAST(least({_NDCG_K}, n_rel) AS INT)), 0D,"
        " (x, i) -> x + 1.0D / log2(i + 1.0D))"
    )
    return dcg.join(rtot, "query_id").select(
        "query_id",
        F.round("dcg", 5).alias("dcg"),
        F.round(F.expr(idcg_fold), 5).alias("idcg"),
        F.round(F.col("dcg") / F.expr(idcg_fold), 5).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# t-closeness audit — EMD between class and global sensitive distributions
# ---------------------------------------------------------------------------

_TC_BUCKET = 1000.0


@register(
    "t_closeness_audit",
    f"""
    WITH base AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(CAST(c_acctbal AS DOUBLE) / {_TC_BUCKET}) AS BIGINT)
                   AS bucket
        FROM customer
    ),
    gdist AS (
        SELECT bucket, count(*) AS g_cnt FROM base GROUP BY 1
    ),
    gtot AS (SELECT CAST(count(*) AS DOUBLE) AS g_tot,
                    CAST(count(DISTINCT bucket) AS DOUBLE) AS n_buckets
             FROM base),
    classes AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS n
        FROM base GROUP BY 1, 2
    ),
    cdist AS (
        SELECT c_nationkey, c_mktsegment, bucket, count(*) AS c_cnt
        FROM base GROUP BY 1, 2, 3
    ),
    grid AS (
        SELECT cl.c_nationkey, cl.c_mktsegment, cl.n, g.bucket,
               COALESCE(cd.c_cnt, 0) / CAST(cl.n AS DOUBLE)
                   - g.g_cnt / gt.g_tot AS diff
        FROM classes cl
        CROSS JOIN gdist g
        CROSS JOIN gtot gt
        LEFT JOIN cdist cd
          ON cd.c_nationkey = cl.c_nationkey
         AND cd.c_mktsegment = cl.c_mktsegment
         AND cd.bucket = g.bucket
    ),
    cum AS (
        SELECT c_nationkey, c_mktsegment, n,
               sum(diff) OVER (
                   PARTITION BY c_nationkey, c_mktsegment
                   ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_diff
        FROM grid
    )
    SELECT c.c_nationkey, c.c_mktsegment,
           CAST(c.n AS BIGINT) AS n,
           round(sum(abs(c.cum_diff)) / (gt.n_buckets - 1), 5) AS t_emd
    FROM cum c CROSS JOIN gtot gt
    GROUP BY c.c_nationkey, c.c_mktsegment, c.n, gt.n_buckets
    """,
    tags=("X-t-closeness",),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (Li et al. 2007), the governance gate k_anonymity /
    l_diversity stop short of: for every quasi-identifier class
    (nation, market segment), the Earth-Mover's Distance between the
    class's sensitive-attribute distribution (account balance, fixed
    1000-unit buckets — an ordered attribute, so EMD is the running
    cumulative difference) and the global distribution. Classes with
    large t leak the sensitive attribute even when k and l pass.

    Distributed shape: three keyed aggregations over one scan reduce the
    table to metadata (global buckets, classes, class x bucket counts);
    the dense class x bucket grid, the ordered cumulative window, and
    the final EMD sum all run on that reduced frame (~classes x ~11
    buckets rows). The per-class window is bucket-bounded, never
    data-grain. Sums are <= n_buckets doubles, rounded at the edge."""
    base = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / _TC_BUCKET)
        .cast("long")
        .alias("bucket"),
    )
    base = truncate_lineage(base, eager=False)
    gdist = base.groupBy("bucket").agg(F.count("*").alias("g_cnt"))
    gtot = base.agg(
        F.count("*").cast("double").alias("g_tot"),
        F.countDistinct("bucket").cast("double").alias("n_buckets"),
    )
    classes = base.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n")
    )
    cdist = base.groupBy("c_nationkey", "c_mktsegment", "bucket").agg(
        F.count("*").alias("c_cnt")
    )
    grid = (
        classes.crossJoin(F.broadcast(gdist))
        .crossJoin(F.broadcast(gtot))
        .join(
            cdist,
            ["c_nationkey", "c_mktsegment", "bucket"],
            "left",
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            "bucket",
            "n_buckets",
            (
                F.coalesce(F.col("c_cnt"), F.lit(0)) / F.col("n").cast("double")
                - F.col("g_cnt") / F.col("g_tot")
            ).alias("diff"),
        )
    )
    w_cum = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.withColumn("cum_diff", F.sum("diff").over(w_cum))
    return cum.groupBy("c_nationkey", "c_mktsegment", "n", "n_buckets").agg(
        F.round(
            F.sum(F.abs(F.col("cum_diff"))) / (F.col("n_buckets") - 1), 5
        ).alias("t_emd")
    ).select(
        "c_nationkey",
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        "t_emd",
    )


# ---------------------------------------------------------------------------
# Filter-funnel attrition — stage-by-stage survivor accounting
# ---------------------------------------------------------------------------

_FUNNEL_LANGS = ("en", "de", "fr")


@register(
    "filter_funnel_attrition",
    f"""
    WITH flags AS (
        SELECT doc_id,
               len(w) >= 25 AS g_len,
               1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) < 0.6
                   AS g_rep,
               lang IN ('en', 'de', 'fr') AS g_lang,
               doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS g_uniq
        FROM (SELECT doc_id, lang, text,
                     string_split(lower(text), ' ') AS w
              FROM documents)
    ),
    agg AS (
        SELECT count(*) AS n0,
               sum(CASE WHEN g_len THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN g_len AND g_rep THEN 1 ELSE 0 END) AS n2,
               sum(CASE WHEN g_len AND g_rep AND g_lang THEN 1 ELSE 0 END)
                   AS n3,
               sum(CASE WHEN g_len AND g_rep AND g_lang AND g_uniq
                        THEN 1 ELSE 0 END) AS n4
        FROM flags
    )
    SELECT stage_idx, stage,
           CAST(docs_in AS BIGINT) AS docs_in,
           CAST(docs_out AS BIGINT) AS docs_out,
           CASE WHEN docs_in > 0
                THEN round((docs_in - docs_out) / CAST(docs_in AS DOUBLE), 5)
                END AS drop_rate
    FROM (
        SELECT 1 AS stage_idx, 'length' AS stage, n0 AS docs_in, n1 AS docs_out FROM agg
        UNION ALL
        SELECT 2, 'repetition', n1, n2 FROM agg
        UNION ALL
        SELECT 3, 'language', n2, n3 FROM agg
        UNION ALL
        SELECT 4, 'exact_dedup', n3, n4 FROM agg
    )
    """,
    tags=("X-funnel",),
)
def filter_funnel_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage attrition accounting for a quality-filter funnel
    (length -> repetition -> language -> exact dedup): how many
    documents enter and survive each gate, in gate order — the report a
    curation team reads before touching thresholds (Dolma/RefinedWeb
    publish exactly this table). Gates reuse the catalog's filter
    definitions (gopher length/repetition bounds, language allowlist,
    md5 first-occurrence dedup).

    Distributed shape: all gate flags are narrow codegen except the
    dedup flag's one md5(text) window shuffle (the exact-dedup
    exchange); the funnel itself is ONE conditional aggregation to a
    single row — prefix conjunctions, so each survivor count is a
    map-side combined sum — then a 4-row explode of that row into the
    stage table. Nothing after the aggregation touches data grain."""
    docs = table(spark, sf_dir, "documents")
    w_dig = Window.partitionBy(F.md5("text"))
    flags = docs.select(
        "doc_id",
        "lang",
        F.split(F.lower("text"), " ").alias("w"),
        (F.col("doc_id") == F.min("doc_id").over(w_dig)).alias("g_uniq"),
    ).select(
        (F.size("w") >= 25).alias("g_len"),
        (
            1.0 - F.size(F.array_distinct("w")) / F.size("w").cast("double")
            < 0.6
        ).alias("g_rep"),
        F.col("lang").isin(*_FUNNEL_LANGS).alias("g_lang"),
        "g_uniq",
    )
    agg = flags.agg(
        F.count("*").alias("n0"),
        F.sum(F.when(F.col("g_len"), 1).otherwise(0)).alias("n1"),
        F.sum(
            F.when(F.col("g_len") & F.col("g_rep"), 1).otherwise(0)
        ).alias("n2"),
        F.sum(
            F.when(F.col("g_len") & F.col("g_rep") & F.col("g_lang"), 1)
            .otherwise(0)
        ).alias("n3"),
        F.sum(
            F.when(
                F.col("g_len")
                & F.col("g_rep")
                & F.col("g_lang")
                & F.col("g_uniq"),
                1,
            ).otherwise(0)
        ).alias("n4"),
    )
    stages = agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("stage_idx"),
                    F.lit("length").alias("stage"),
                    F.col("n0").alias("docs_in"),
                    F.col("n1").alias("docs_out"),
                ),
                F.struct(
                    F.lit(2).alias("stage_idx"),
                    F.lit("repetition").alias("stage"),
                    F.col("n1").alias("docs_in"),
                    F.col("n2").alias("docs_out"),
                ),
                F.struct(
                    F.lit(3).alias("stage_idx"),
                    F.lit("language").alias("stage"),
                    F.col("n2").alias("docs_in"),
                    F.col("n3").alias("docs_out"),
                ),
                F.struct(
                    F.lit(4).alias("stage_idx"),
                    F.lit("exact_dedup").alias("stage"),
                    F.col("n3").alias("docs_in"),
                    F.col("n4").alias("docs_out"),
                ),
            )
        ).alias("s")
    )
    return stages.select(
        F.col("s.stage_idx").alias("stage_idx"),
        F.col("s.stage").alias("stage"),
        F.col("s.docs_in").cast("long").alias("docs_in"),
        F.col("s.docs_out").cast("long").alias("docs_out"),
        F.when(
            F.col("s.docs_in") > 0,
            F.round(
                (F.col("s.docs_in") - F.col("s.docs_out"))
                / F.col("s.docs_in").cast("double"),
                5,
            ),
        ).alias("drop_rate"),
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) shard assignment + balance audit
# ---------------------------------------------------------------------------

_HRW_SHARDS = 16


def hrw_shard_expr(n_shards: int) -> str:
    """SQL expression assigning the current row's doc_id to its
    rendezvous shard over ``n_shards`` candidates: argmax_s of the
    portable 60-bit hash of 'doc_id:s', ties to the higher s (struct
    max == the oracle's ORDER BY h DESC, s DESC). Shared by the catalog
    query and the single-shard-movement regression test."""
    return (
        f"array_max(transform(sequence(0, {n_shards - 1}), s -> "
        "struct(CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':',"
        " CAST(s AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h, s AS s))).s"
    )


@register(
    "shard_assignment_rendezvous",
    f"""
    WITH assigned AS (
        SELECT doc_id, s AS shard FROM (
            SELECT doc_id, s,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY {portable_hash64_sql(
                           "CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)"
                       )} DESC, s DESC
                   ) AS rn
            FROM documents,
                 (SELECT unnest(generate_series(0, {_HRW_SHARDS - 1})) AS s)
        ) WHERE rn = 1
    ),
    counts AS (
        SELECT shard, count(*) AS n_docs FROM assigned GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS t FROM counts)
    SELECT CAST(c.shard AS INT) AS shard,
           CAST(c.n_docs AS BIGINT) AS n_docs,
           round(c.n_docs / (t.t / {_HRW_SHARDS}) - 1.0, 5) AS skew
    FROM counts c CROSS JOIN tot t
    """,
    tags=("X-rendezvous",),
)
def shard_assignment_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: every doc
    goes to argmax_s hash(doc, s) over 16 shards, plus the balance
    audit (per-shard count and skew vs the uniform expectation). HRW is
    the placement scheme whose contract matters at fleet scale: when a
    shard is added or removed, ONLY the docs whose argmax was that
    shard move (~1/S of the data) — no global reshuffle — which is why
    it backs consistent cache/shard routing (Thaler & Ravishankar 1998).
    The regression test pins exactly that single-shard-movement
    property.

    Distributed shape: the argmax is a per-row array fold (transform
    over 16 candidate shards -> array_max on (hash, s) structs —
    first-max tiebreak matches the oracle's DESC,DESC window), zero
    explode, zero shuffle; then one keyed count and a broadcast scalar
    for the skew. The oracle unnests and windows instead — same
    semantics, test-scale only."""
    docs = table(spark, sf_dir, "documents")
    assigned = docs.select(
        F.expr(hrw_shard_expr(_HRW_SHARDS)).cast("int").alias("shard")
    )
    counts = assigned.groupBy("shard").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").cast("double").alias("t"))
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("shard").cast("int").alias("shard"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(
            F.col("n_docs") / (F.col("t") / _HRW_SHARDS) - 1.0, 5
        ).alias("skew"),
    )


# ---------------------------------------------------------------------------
# Label-propagation communities over the near-dup pair graph
# ---------------------------------------------------------------------------

_LPA_ITERS = 4
_LPA_STEPS = "".join(
    f""",
    c{i} AS (
        SELECT e.dst AS nid, p.lbl, count(*) AS c
        FROM sym e JOIN l{i} p ON e.src = p.id
        GROUP BY 1, 2
    ),
    l{i + 1} AS (
        SELECT nid AS id,
               1000000000 - (max(c * 10000000000 + (1000000000 - lbl))
                             % 10000000000) AS lbl
        FROM c{i} GROUP BY 1
    )"""
    for i in range(_LPA_ITERS)
)


def _register_lpa():
    from .training import _BANDS_CTE, _MINHASH_CTE, _PAIRS_CTE, _SHINGLES_CTE

    @register(
        "dedup_label_propagation",
        f"""
        WITH RECURSIVE {_SHINGLES_CTE}, {_MINHASH_CTE}, {_BANDS_CTE}, {_PAIRS_CTE},
        sym AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION
            SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs
        ),
        l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM sym)
        {_LPA_STEPS},
        sizes AS (
            SELECT lbl, count(*) AS community_size FROM l{_LPA_ITERS} GROUP BY 1
        )
        SELECT l.id AS doc_id, l.lbl AS community,
               CAST(s.community_size AS BIGINT) AS community_size
        FROM l{_LPA_ITERS} l JOIN sizes s ON l.lbl = s.lbl
        """,
        tags=("X-label-propagation",),
    )
    def dedup_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Near-dup COMMUNITIES by synchronous label propagation
        (Raghavan et al. 2007), the density-sensitive sibling of
        connected components (reachability) and pagerank (centrality)
        over the same LSH candidate-pair graph. Fixed 4 synchronous
        rounds with a packed-integer "max count, min label" argmax —
        deterministic, exactly reproducible, exact unrolled-CTE oracle
        (the pagerank precedent). See operators/dedup.label_propagation
        for the per-round shuffle inventory."""
        from ..operators.dedup import label_propagation, lsh_candidate_pairs

        docs = table(spark, sf_dir, "documents")
        return label_propagation(lsh_candidate_pairs(docs, k=4, rows_per_band=2))

    return dedup_label_propagation


dedup_label_propagation = _register_lpa()


# ---------------------------------------------------------------------------
# DSIR importance RESAMPLING — Gumbel top-k over the importance weights
# ---------------------------------------------------------------------------

_DSIR_SAMPLE_K = 100


def _register_dsir_resample():
    from ..functions.portable import portable_unit_uniform_sql

    u_sql = portable_unit_uniform_sql("'dsir:' || CAST(doc_id AS VARCHAR)")

    @register(
        "dsir_importance_resample",
        f"""
        WITH toks AS (
            SELECT doc_id, source = '{_DSIR_TARGET}' AS is_target,
                   string_split(lower(text), ' ') AS ws
            FROM documents
        ),
        grams AS (
            SELECT doc_id, is_target,
                   {portable_hash64_sql("ws[i] || ' ' || ws[i + 1]")}
                       % {_DSIR_BUCKETS} AS bucket
            FROM (SELECT doc_id, is_target, ws,
                         unnest(generate_series(1, len(ws) - 1)) AS i
                  FROM toks WHERE len(ws) >= 2)
        ),
        bg AS (
            SELECT doc_id, is_target, bucket, count(*) AS c
            FROM grams GROUP BY 1, 2, 3
        ),
        totals AS (
            SELECT bucket,
                   sum(CASE WHEN is_target THEN c ELSE 0 END) AS tc,
                   sum(c) AS rc
            FROM bg GROUP BY 1
        ),
        scalars AS (
            SELECT CAST(sum(tc) AS DOUBLE) AS t_tot,
                   CAST(sum(rc) AS DOUBLE) AS r_tot
            FROM totals
        ),
        ratios AS (
            SELECT bucket,
                   ln((tc + 1.0) / (t_tot + {_DSIR_BUCKETS}))
                 - ln((rc + 1.0) / (r_tot + {_DSIR_BUCKETS})) AS lr
            FROM totals CROSS JOIN scalars
        ),
        weights AS (
            SELECT bg.doc_id,
                   round(sum(bg.c * r.lr), 5) AS dsir_logw
            FROM bg JOIN ratios r ON bg.bucket = r.bucket
            GROUP BY bg.doc_id
        )
        SELECT doc_id, dsir_logw,
               round(dsir_logw + (-ln(-ln({u_sql}))), 6) AS gumbel_key
        FROM weights
        ORDER BY gumbel_key DESC, doc_id
        LIMIT {_DSIR_SAMPLE_K}
        """,
        tags=("X-dsir-resample",),
    )
    def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The RESAMPLING half of DSIR: draw a without-replacement sample
        of 100 docs with probability proportional to exp(importance
        log-weight), via the Gumbel top-k trick — key = logw + Gumbel
        noise, take the k largest. The noise is hash-seeded
        (portable_unit_uniform, g = -ln(-ln(u))), so the "random" sample
        replays identically on both engines and across task retries —
        the same determinism contract as weighted_sample_wor
        (Efraimidis-Spirakis), stated in Gumbel form because DSIR's
        weights arrive in log space where exp() would overflow first.

        Distributed shape: the dsir_importance_weights plan (one
        map-combined explode shuffle, broadcast 512-row model) plus a
        per-row key and a TakeOrderedAndProject k-cut — no global sort
        materializes; each partition keeps its top-100, the driver
        merges k-sized heaps."""
        docs = fan_out(table(spark, sf_dir, "documents"))
        from ..functions.portable import portable_unit_uniform

        bg = truncate_lineage(dsir_doc_buckets(docs), eager=False)
        weights = dsir_weights(bg, dsir_model(bg)).select(
            "doc_id", "dsir_logw"
        )
        u = portable_unit_uniform(
            F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))
        )
        keyed = weights.select(
            "doc_id",
            "dsir_logw",
            F.round(F.col("dsir_logw") + (-F.log(-F.log(u))), 6).alias(
                "gumbel_key"
            ),
        )
        return keyed.orderBy(
            F.col("gumbel_key").desc(), F.col("doc_id")
        ).limit(_DSIR_SAMPLE_K)

    return dsir_importance_resample


dsir_importance_resample = _register_dsir_resample()


# ---------------------------------------------------------------------------
# Positional phrase search over the corpus's own top trigrams
# ---------------------------------------------------------------------------

_PHRASE_TOP = 2


@register(
    "phrase_search_positional",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    tri AS (
        SELECT doc_id,
               i - 1 AS pos,
               ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS phrase
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
              FROM toks WHERE len(ws) >= 3)
    ),
    top_phrases AS (
        SELECT phrase FROM (
            SELECT phrase, count(*) AS cnt FROM tri GROUP BY 1
        ) ORDER BY cnt DESC, phrase LIMIT {_PHRASE_TOP}
    )
    SELECT t.phrase, t.doc_id, CAST(t.pos AS BIGINT) AS pos
    FROM tri t JOIN top_phrases p ON t.phrase = p.phrase
    """,
    tags=("X-phrase-search",),
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search with positions — the positional-index lookup
    a search stack runs after BM25 narrows candidates: every occurrence
    (doc, word offset) of the corpus's two most frequent trigram
    phrases (self-deriving keeps the demo non-empty at any scale; a
    production call passes literal phrases).

    Distributed shape: ONE narrow trigram fan-out feeds both sides —
    the phrase-frequency aggregate cut to top-2 by
    TakeOrderedAndProject (no global sort), broadcast back as a 2-row
    semi-filter over the same fan-out. The trigram frame has two
    consumers → lazily checkpointed, so the explode runs once. No
    positional self-joins: positions ride the explode for free
    (posexplode-style index arithmetic), which is what makes phrase
    lookup at 100 TB a scan + broadcast filter, not a pos+1 equi-join
    per word."""
    docs = table(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")
    tri_expr = F.expr(
        "transform(sequence(1, size(ws) - 2),"
        " i -> struct(i - 1 AS pos, array_join(slice(ws, i, 3), ' ') AS phrase))"
    )
    tri = truncate_lineage(
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 3)
        .select("doc_id", F.explode(tri_expr).alias("t"))
        .select("doc_id", F.col("t.pos").alias("pos"), F.col("t.phrase").alias("phrase")),
        eager=False,
    )
    top = (
        tri.groupBy("phrase")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "phrase")
        .limit(_PHRASE_TOP)
        .select("phrase")
    )
    return tri.join(F.broadcast(top), "phrase").select(
        "phrase", "doc_id", F.col("pos").cast("long").alias("pos")
    )


# ---------------------------------------------------------------------------
# T5-style span-corruption mask planning
# ---------------------------------------------------------------------------

_SPAN_LEN = 3
_SPAN_SEG = 20  # one masked span per 20 words ≈ 15% corruption at len 3


@register(
    "span_corruption_masks",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws,
               len(string_split(lower(text), ' ')) AS n
        FROM documents
    ),
    spans AS (
        SELECT doc_id, ws, i AS sentinel_id,
               i * {_SPAN_SEG} + 1
                 + {portable_hash64_sql(
                     "'span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)"
                 )} % ({_SPAN_SEG} - {_SPAN_LEN} + 1) AS span_start
        FROM (SELECT doc_id, ws, n,
                     unnest(generate_series(0, CAST(n // {_SPAN_SEG} AS INT) - 1)) AS i
              FROM toks WHERE n >= {_SPAN_SEG})
    )
    SELECT doc_id, CAST(sentinel_id AS INT) AS sentinel_id,
           CAST(span_start AS BIGINT) AS span_start,
           {_SPAN_LEN} AS span_len,
           array_to_string(ws[CAST(span_start AS INT):CAST(span_start AS INT) + {_SPAN_LEN - 1}], ' ')
               AS masked_tokens
    FROM spans
    """,
    tags=("X-span-corruption",),
)
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption planning (Raffel et al. 2020): one
    3-word masked span per 20-word segment (≈15% corruption), span
    starts hash-seeded WITHIN each segment so spans never overlap by
    construction — no rejection sampling, no sequential scan, and the
    same doc always yields the same masks on any engine or retry (the
    determinism property an interruptible 100 TB preprocessing job
    needs). Emits the mask PLAN (doc, sentinel, start, masked tokens) —
    the join-free narrow artifact the pack/tokenize stage consumes.

    Distributed shape: pure narrow codegen — sequence over segments,
    portable hash per (doc, segment), slice for the masked tokens. Zero
    shuffles, zero joins."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    ws = F.split(F.lower("text"), " ")
    base = docs.select("doc_id", ws.alias("ws"), F.size(ws).alias("n")).filter(
        F.col("n") >= _SPAN_SEG
    )
    fan = base.select(
        "doc_id",
        "ws",
        F.explode(
            F.sequence(F.lit(0), (F.col("n") / _SPAN_SEG).cast("int") - 1)
        ).alias("i"),
    )
    h = portable_hash64(
        F.concat(
            F.lit("span:"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("i").cast("string"),
        )
    )
    planned = fan.withColumn(
        "span_start",
        (F.col("i") * _SPAN_SEG + 1 + h % (_SPAN_SEG - _SPAN_LEN + 1)).cast(
            "long"
        ),
    )
    return planned.select(
        "doc_id",
        F.col("i").cast("int").alias("sentinel_id"),
        "span_start",
        F.lit(_SPAN_LEN).alias("span_len"),
        F.concat_ws(
            " ", F.expr(f"slice(ws, CAST(span_start AS INT), {_SPAN_LEN})")
        ).alias("masked_tokens"),
    )


# ---------------------------------------------------------------------------
# BPE merge APPLICATION — 3 data-dependent rounds of the training loop
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _bpe_rewrite_case(a_sql: str, b_sql: str, m_sql: str) -> str:
    """The parallel merge rewrite for a pair (a, b) with a <> b: since
    overlapping occurrences of (a, b) require a = b, leftmost-first BPE
    merging equals this position-independent transform — emit the
    merged symbol where a match starts, drop the position a match ends,
    keep everything else."""
    return (
        "list_filter(list_transform(generate_series(1, len(s)), i -> "
        f"CASE WHEN s[i] = {a_sql} AND i < len(s) AND s[i + 1] = {b_sql} "
        f"THEN {m_sql} "
        f"WHEN i > 1 AND s[i - 1] = {a_sql} AND s[i] = {b_sql} THEN NULL "
        "ELSE s[i] END), x -> x IS NOT NULL)"
    )


def _bpe_oracle() -> str:
    parts = [
        """
    WITH wf AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
              FROM documents)
        WHERE len(word) >= 1
        GROUP BY 1
    ),
    s0 AS (
        SELECT word, freq,
               list_transform(generate_series(1, length(word)),
                              i -> substr(word, i, 1)) AS s
        FROM wf
    )"""
    ]
    for r in range(_BPE_ROUNDS):
        # the 1-row top-pair frame is CROSS JOINed in (not a scalar
        # subquery: DuckDB forbids subqueries inside lambdas), so the
        # lambda sees plain columns ma/mb
        parts.append(
            f""",
    p{r} AS (
        SELECT s[i] AS a, s[i + 1] AS b, sum(freq) AS cnt
        FROM (SELECT s, freq, unnest(generate_series(1, len(s) - 1)) AS i
              FROM s{r})
        GROUP BY 1, 2
    ),
    t{r} AS (
        SELECT a AS ma, b AS mb FROM p{r} WHERE a <> b
        ORDER BY cnt DESC, a, b LIMIT 1
    ),
    s{r + 1} AS (
        SELECT word, freq, {_bpe_rewrite_case("ma", "mb", "(ma || mb)")} AS s
        FROM s{r} CROSS JOIN t{r}
    )"""
        )
    parts.append(
        f"""
    SELECT word, freq,
           array_to_string(s{_BPE_ROUNDS}.s, '|') AS tokens,
           CAST(len(s{_BPE_ROUNDS}.s) AS BIGINT) AS n_tokens
    FROM s{_BPE_ROUNDS}"""
    )
    return "".join(parts)


@register("bpe_apply_merges", _bpe_oracle(), tags=("X-bpe-apply",))
def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE data-dependent rounds of the actual BPE training loop
    (Sennrich et al. 2016): find the corpus's most frequent adjacent
    symbol pair, merge every occurrence, repeat — each round's counts
    run over the PREVIOUS round's rewritten symbol arrays, which is the
    part bpe_merge_candidates (round-1 counts only) stops short of.
    Emits every word's post-merge tokenization.

    Two scale moves: (1) everything runs at DISTINCT-WORD grain with
    frequency weights (Heaps's law — the word dict of a 100 TB corpus
    is GB-scale), exactly like real BPE trainers; (2) the merge rewrite
    is PARALLEL, not sequential: restricted to pairs with a != b (the
    overwhelming case — an (a,a) pair is skipped for that round's
    selection), overlapping occurrences are impossible, so
    leftmost-first merging equals a position-independent
    transform+filter — no per-word sequential fold, whole-stage
    codegen on both engines. Each round's top pair is a 1-row driver
    collect at build time (the pagerank/kmeans checkpoint-truncated
    precedent; per-round frames are lazily checkpointed), and the
    oracle computes the same pair with per-round scalar subqueries —
    identical (count DESC, a, b) tiebreaks."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    wf = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    s = wf.select(
        "word",
        "freq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("s"),
    )
    s = truncate_lineage(s, eager=False)
    for _ in range(_BPE_ROUNDS):
        pair_counts = (
            s.select(
                "freq",
                F.explode(
                    F.expr(
                        "zip_with(slice(s, 1, size(s) - 1),"
                        " slice(s, 2, size(s) - 1),"
                        " (x, y) -> struct(x AS a, y AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        top = (
            pair_counts.filter(F.col("a") != F.col("b"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        a_sql = "'" + a.replace("'", "''") + "'"
        b_sql = "'" + b.replace("'", "''") + "'"
        m_sql = "'" + (a + b).replace("'", "''") + "'"
        rewrite = (
            "filter(transform(sequence(1, size(s)), i -> "
            f"CASE WHEN element_at(s, i) = {a_sql} AND i < size(s)"
            f" AND element_at(s, i + 1) = {b_sql} THEN {m_sql} "
            f"WHEN i > 1 AND element_at(s, i - 1) = {a_sql}"
            f" AND element_at(s, i) = {b_sql} THEN NULL "
            "ELSE element_at(s, i) END), x -> x IS NOT NULL)"
        )
        s = truncate_lineage(
            s.select("word", "freq", F.expr(rewrite).alias("s")),
            eager=False,
        )
    return s.select(
        "word",
        F.col("freq").cast("long").alias("freq"),
        F.array_join("s", "|").alias("tokens"),
        F.size("s").cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Suffix/prefix overlap pairs — split-document boundary detection
# ---------------------------------------------------------------------------

_EDGE_WORDS = 4  # production uses ~50; 4 makes the synthetic corpus non-vacuous


@register(
    "dedup_suffix_prefix_overlap",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    edges AS (
        SELECT doc_id,
               md5(array_to_string(ws[len(ws) - {_EDGE_WORDS - 1}:len(ws)], ' '))
                   AS suffix_digest,
               md5(array_to_string(ws[1:{_EDGE_WORDS}], ' ')) AS prefix_digest
        FROM toks WHERE len(ws) >= {_EDGE_WORDS}
    )
    SELECT a.doc_id AS head_doc, b.doc_id AS tail_doc
    FROM edges a JOIN edges b
      ON a.suffix_digest = b.prefix_digest AND a.doc_id <> b.doc_id
    """,
    tags=("X-suffix-prefix",),
)
def dedup_suffix_prefix_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-document detection: pairs where one document's last
    4 words equal another's first 4 (the edge width is a constant —
    production runs ~50; the demo width keeps the synthetic corpus
    non-vacuous) — the signature of a source doc
    sharded mid-stream (or of boundary contamination between adjacent
    crawl records). Downstream either reassembles the chain
    (head -> tail) or strips the duplicated boundary.

    Distributed shape: ONE narrow projection computes both edge digests
    per doc (no explode — slice + md5 on the ends only), then a single
    self-equi-join on uniform md5 keys, suffix side against prefix
    side. At 100 TB this is the exact_dedup shuffle shape: join keys
    are 32-char digests, payload is two longs; never all-pairs."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    ws = F.split(F.lower("text"), " ")
    edges = (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= _EDGE_WORDS)
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        f"slice(ws, size(ws) - {_EDGE_WORDS - 1}, {_EDGE_WORDS})"
                    ),
                )
            ).alias("suffix_digest"),
            F.md5(
                F.concat_ws(" ", F.expr(f"slice(ws, 1, {_EDGE_WORDS})"))
            ).alias("prefix_digest"),
        )
    )
    a = edges.select(
        F.col("doc_id").alias("head_doc"),
        F.col("suffix_digest").alias("k"),
    )
    b = edges.select(
        F.col("doc_id").alias("tail_doc"),
        F.col("prefix_digest").alias("k"),
    )
    return (
        a.join(b, "k")
        .filter(F.col("head_doc") != F.col("tail_doc"))
        .select("head_doc", "tail_doc")
    )
