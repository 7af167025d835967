"""Advanced reference-parity catalog entries: the operators SURVEY.md §2
lists that need composed plans — A7 (json-array collect), J6 (correlated
scalar subquery), X1 (map fold-merge), X2 (nested-map deep merge via the
dock pipeline), X3 (route waypoint enrichment), and the full P1–P6
normalization pipeline — each with an exact DuckDB oracle.

The trips-shaped inputs are synthesized deterministically from the TPC-H
tables with IDENTICAL expressions on both engines, so the oracle exercises
the real operator code paths (normalize_trips, dock_aggregate/dock_merge,
enrich_routes) end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..normalize import month_abbrev, normalize_trips
from ..operators.dockmap import canonical_station_data, dock_aggregate, dock_merge
from ..operators.tripsmap import enrich_routes, top_trips, trip_aggregate
from .catalog import register, table

# ---------------------------------------------------------------------------
# §2.4 A7 — JSON-array aggregate (json_group_array shape)
# reference: citibike_data_process/table_updating/update_dockmap.py:148-159
# ---------------------------------------------------------------------------


@register(
    "json_array_collect",
    """
    SELECT o_orderpriority,
           '[' || string_agg('{"year":"' || year || '","n":' || n || '}',
                             ',' ORDER BY year) || ']' AS year_blobs
    FROM (
        SELECT o_orderpriority, strftime(o_orderdate, '%Y') AS year,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2
    )
    GROUP BY o_orderpriority
    """,
    tags=("A7",),
)
def json_array_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        "o_orderpriority", F.date_format("o_orderdate", "yyyy").alias("year")
    ).agg(F.count("*").alias("n"))
    return yearly.groupBy("o_orderpriority").agg(
        F.to_json(F.sort_array(F.collect_list(F.struct("year", "n")))).alias(
            "year_blobs"
        )
    )


# ---------------------------------------------------------------------------
# §2.3 J6 — correlated scalar subquery → broadcast-join rewrite
# reference: citibike_data_process/table_updating/update_dockmap.py:260-284
# ---------------------------------------------------------------------------


@register(
    "correlated_scalar_subquery",
    """
    SELECT n_name,
           CAST((SELECT count(*) FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey) AS BIGINT) AS cust_cnt
    FROM nation n
    """,
    tags=("J6",),
)
def correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The idiomatic rewrite (SURVEY.md §2.3 J6): the correlated per-row
    probe becomes one aggregation + a broadcast left join; Catalyst would
    decorrelate the subquery form to the same plan, but the DataFrame build
    states it directly."""
    nation = table(spark, sf_dir, "nation")
    counts = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        nation.join(
            F.broadcast(counts),
            nation.n_nationkey == counts.c_nationkey,
            "left",
        )
        .select("n_name", F.coalesce("cnt", F.lit(0)).alias("cust_cnt"))
    )


# ---------------------------------------------------------------------------
# §2.9 X1 — fold a collected list of single-entry maps into one map
# reference: citibike_data_process/table_updating/update_dockmap.py:146-196
# (fetchall → dict.update loop → executemany, made native)
# ---------------------------------------------------------------------------


@register(
    "map_fold_merge",
    """
    SELECT c_mktsegment,
           '{' || string_agg('"' || year || '":' || n, ',' ORDER BY year) || '}'
               AS orders_by_year
    FROM (
        SELECT c.c_mktsegment, strftime(o.o_orderdate, '%Y') AS year,
               CAST(count(*) AS BIGINT) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    )
    GROUP BY c_mktsegment
    """,
    tags=("X1", "A6"),
)
def map_fold_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregate(collect_list(entry), empty_map, map_concat) — the native
    form of the reference's year-JSON dict.update loop."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    yearly = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", F.date_format("o_orderdate", "yyyy").alias("year"))
        .agg(F.count("*").alias("n"))
    )
    folded = F.aggregate(
        F.sort_array(F.collect_list(F.struct("year", "n"))),
        F.expr("cast(map() as map<string,bigint>)"),
        lambda acc, e: F.map_concat(acc, F.map_from_entries(F.array(e))),
    )
    return yearly.groupBy("c_mktsegment").agg(F.to_json(folded).alias("orders_by_year"))


# ---------------------------------------------------------------------------
# §2.9 X2 — deep merge of nested year→months maps, via the REAL dock
# pipeline (dock_aggregate + dock_merge) on trips synthesized from orders.
# reference: citibike_data_process/table_updating/update_dockmap.py:214-251
# ---------------------------------------------------------------------------

# Shared synthesis: 6 stations keyed off o_custkey; identical expressions
# in Spark and DuckDB below.
_DOCK_TRIPS_SQL = """
    trips AS (
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y') AS year,
               strftime(o_orderdate, '%b') AS month,
               'ST' || (o_custkey % 6) AS start_station_name,
               'ID' || (o_custkey % 6) AS start_station_id,
               40.5::DOUBLE + (o_custkey % 6) * 0.01::DOUBLE AS start_station_latitude,
               -74.0::DOUBLE - (o_custkey % 6) * 0.01::DOUBLE AS start_station_longitude,
               'ST' || ((o_custkey + o_orderkey % 5) % 6) AS end_station_name,
               'ID' || ((o_custkey + o_orderkey % 5) % 6) AS end_station_id,
               40.5::DOUBLE + ((o_custkey + o_orderkey % 5) % 6) * 0.01::DOUBLE AS end_station_latitude,
               -74.0::DOUBLE - ((o_custkey + o_orderkey % 5) % 6) * 0.01::DOUBLE AS end_station_longitude
        FROM orders
    )
"""

_EXISTING_PRED = "o_orderkey % 3 <> 0"
_DELTA_PRED = "o_orderkey % 3 = 0 AND year >= '1999'"


def _synth_dock_trips(orders: DataFrame) -> DataFrame:
    sidx = F.col("o_custkey") % 6
    eidx = (F.col("o_custkey") + F.col("o_orderkey") % 5) % 6
    return orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy").alias("year"),
        month_abbrev(F.col("o_orderdate")).alias("month"),
        F.concat(F.lit("ST"), sidx.cast("string")).alias("start_station_name"),
        F.concat(F.lit("ID"), sidx.cast("string")).alias("start_station_id"),
        (F.lit(40.5) + sidx * 0.01).alias("start_station_latitude"),
        (F.lit(-74.0) - sidx * 0.01).alias("start_station_longitude"),
        F.concat(F.lit("ST"), eidx.cast("string")).alias("end_station_name"),
        F.concat(F.lit("ID"), eidx.cast("string")).alias("end_station_id"),
        (F.lit(40.5) + eidx * 0.01).alias("end_station_latitude"),
        (F.lit(-74.0) - eidx * 0.01).alias("end_station_longitude"),
    )


def _dock_side_sql(tag: str, pred: str) -> str:
    """Starts ⟗ ends monthly grain + yearly rollup + station attrs for one
    subset of the synthesized trips (mirrors dock_monthly/dock_yearly)."""
    return f"""
    t_{tag} AS (SELECT * FROM trips WHERE {pred}),
    s_{tag} AS (
        SELECT start_station_name AS station_name, year, month,
               CAST(count(*) AS BIGINT) AS month_starts,
               max(start_station_id) AS station_id,
               max(start_station_latitude) AS station_latitude,
               max(start_station_longitude) AS station_longitude
        FROM t_{tag} GROUP BY 1, 2, 3
    ),
    e_{tag} AS (
        SELECT end_station_name AS station_name, year, month,
               CAST(count(*) AS BIGINT) AS month_ends,
               max(end_station_id) AS station_id,
               max(end_station_latitude) AS station_latitude,
               max(end_station_longitude) AS station_longitude
        FROM t_{tag} GROUP BY 1, 2, 3
    ),
    m_{tag} AS (
        SELECT station_name, year, month,
               coalesce(s.station_id, e.station_id) AS station_id,
               coalesce(s.station_latitude, e.station_latitude) AS station_latitude,
               coalesce(s.station_longitude, e.station_longitude) AS station_longitude,
               coalesce(s.month_starts, 0) AS month_starts,
               coalesce(e.month_ends, 0) AS month_ends,
               coalesce(s.month_starts, 0) + coalesce(e.month_ends, 0) AS month_total
        FROM s_{tag} s FULL JOIN e_{tag} e USING (station_name, year, month)
    ),
    y_{tag} AS (
        SELECT station_name, year,
               CAST(sum(month_starts) AS BIGINT) AS year_starts,
               CAST(sum(month_ends) AS BIGINT) AS year_ends
        FROM m_{tag} GROUP BY 1, 2
    ),
    a_{tag} AS (
        SELECT station_name, max(station_id) AS station_id,
               max(station_latitude) AS station_latitude,
               max(station_longitude) AS station_longitude
        FROM m_{tag} GROUP BY 1
    )"""


_DOCK_MERGE_ORACLE = f"""
    WITH {_DOCK_TRIPS_SQL},
    {_dock_side_sql("ex", _EXISTING_PRED)},
    {_dock_side_sql("dl", _DELTA_PRED)},
    mm AS (
        SELECT station_name, year, month,
               coalesce(d.month_total, x.month_total) AS month_total,
               coalesce(d.month_starts, x.month_starts) AS month_starts,
               coalesce(d.month_ends, x.month_ends) AS month_ends
        FROM m_ex x FULL JOIN m_dl d USING (station_name, year, month)
    ),
    my AS (
        SELECT station_name, year,
               coalesce(d.year_starts, x.year_starts) AS year_starts,
               coalesce(d.year_ends, x.year_ends) AS year_ends
        FROM y_ex x FULL JOIN y_dl d USING (station_name, year)
    ),
    ma AS (
        SELECT station_name,
               coalesce(d.station_id, x.station_id) AS station_id,
               coalesce(d.station_latitude, x.station_latitude) AS station_latitude,
               coalesce(d.station_longitude, x.station_longitude) AS station_longitude
        FROM a_ex x FULL JOIN a_dl d USING (station_name)
    ),
    mj AS (
        SELECT station_name, year,
               string_agg('"' || month || '":{{"month_total":' || month_total
                          || ',"month_starts":' || month_starts
                          || ',"month_ends":' || month_ends || '}}',
                          ',' ORDER BY month) AS mjs
        FROM mm GROUP BY 1, 2
    ),
    yj AS (
        SELECT station_name,
               string_agg('"' || year || '":{{"year_starts":' || year_starts
                          || ',"year_ends":' || year_ends
                          || ',"months":{{' || mjs || '}}}}',
                          ',' ORDER BY year) AS yjs
        FROM my JOIN mj USING (station_name, year) GROUP BY 1
    )
    SELECT station_name, station_id, station_latitude, station_longitude,
           '{{' || yjs || '}}' AS station_data
    FROM ma JOIN yj USING (station_name)
"""


@register(
    "dock_deep_merge_nested_maps",
    _DOCK_MERGE_ORACLE,
    tags=("X2", "X1", "J1", "J3", "J5", "J6", "A4", "A5", "A6", "A7"),
)
def dock_deep_merge_nested_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dock pipeline + deep merge: year attrs replace, months
    union with new-wins (update_dockmap.py:229-234).

    Round-8 form: AGGREGATE ON COMPACT KEYS, DECORATE LATE. Every
    synthesized station attribute (name, id, lat, lon) and both time
    keys are pure functions of two small ints (station index, month),
    yet the r5-r7 form computed the five decorated string/double columns
    per TRIP row and hash-aggregated on string keys — 300k string
    builds + string-key hashing for an output of ~2k groups. This form
    unpivots only (is_start, station_idx) ints, runs ONE side-conditional
    aggregation at (idx, year, month) grain (fusing the per-side monthly
    rollup and the month-level new-wins merge), and synthesizes every
    string AFTER aggregation, at group grain. The same pattern at 100 TB:
    when attributes are functionally dependent on a compact key
    (dictionary-encoded dims, synthesized or surrogate keys), the wide
    decoration belongs ABOVE the aggregation, not below — shuffle bytes
    and hash cost drop by the row-to-group ratio. r8 idle A/B at sf0.1:
    head-only floor 0.29 s (scan+fan_out+project — every form pays it),
    string-grain full 0.505 s, compact-grain full ~0.38 s; the JSON tail
    is 0.04 s either way, so key compaction was the only remaining lever.
    Plan: scan → int unpivot → fused monthly agg [shuffle, map-side
    combined] → repartition(idx) [shuffle, ~500 rows] → year + station
    aggs exchange-free; two keyed shuffles, zero joins, zero interpreted
    HOFs.

    No fan_out: the r6-r8 width trail ended at zero — the int unpivot
    made the per-row work so light that even the quarter-width
    repartition+barrier is pure cost on top of the first exchange
    (r8 interleaved A/B, min-of-5 x3: fan4 0.46 s vs no-fan 0.28 s;
    earlier trail fan4 0.339 / fan8 0.364 / fan16 0.406 compared widths
    only and never re-tested none after the compact-key rework)."""
    from ..normalize import MONTH_ABBREV

    o = table(spark, sf_dir, "orders")
    sidx = F.col("o_custkey") % 6
    eidx = (F.col("o_custkey") + F.col("o_orderkey") % 5) % 6
    # identical gates to _EXISTING_PRED/_DELTA_PRED: 4-digit string years
    # compare exactly like ints, so year >= '1999' == year(date) >= 1999
    side = F.when(
        (F.col("o_orderkey") % 3 == 0) & (F.year("o_orderdate") >= 1999), "d"
    ).when(F.col("o_orderkey") % 3 != 0, "e")
    rows = o.select(
        side.alias("side"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("is_start"), sidx.alias("idx")),
                F.struct(F.lit(0).alias("is_start"), eidx.alias("idx")),
            )
        ).alias("s"),
    ).filter(F.col("side").isNotNull())

    d = F.col("side") == "d"
    e = F.col("side") == "e"
    # sum(when(cond, ...)) is NULL when the side has no row in the group
    # — exactly the absent-side signal the full-outer-join + coalesce
    # semantics need (a present side with zero starts sums to 0, not
    # NULL, matching the joined form).
    mg = rows.groupBy(F.col("s.idx").alias("idx"), "yr", "mo").agg(
        F.sum(F.when(d, F.col("s.is_start"))).alias("d_ms"),
        F.sum(F.when(d, F.lit(1))).alias("d_mt"),
        F.sum(F.when(e, F.col("s.is_start"))).alias("e_ms"),
        F.sum(F.when(e, F.lit(1))).alias("e_mt"),
    ).repartition("idx")

    # month-level new-wins: delta's row replaces existing's whole month
    use_d = F.col("d_mt").isNotNull()
    mt = F.when(use_d, F.col("d_mt")).otherwise(F.col("e_mt")).cast("long")
    ms = F.when(use_d, F.col("d_ms")).otherwise(F.col("e_ms")).cast("long")
    month_name = F.element_at(
        F.array(*[F.lit(m) for m in MONTH_ABBREV]), F.col("mo")
    )
    month_frag = F.concat(
        F.lit('"'), month_name,
        F.lit('":{"month_total":'), mt.cast("string"),
        F.lit(',"month_starts":'), ms.cast("string"),
        F.lit(',"month_ends":'), (mt - ms).cast("string"),
        F.lit("}"),
    )
    year_grain = mg.groupBy("idx", "yr").agg(
        F.array_join(F.sort_array(F.collect_list(month_frag)), ",").alias("mjs"),
        # delta's yearly sums REPLACE existing's when delta has the year
        F.coalesce(F.sum("d_ms"), F.sum("e_ms")).cast("long").alias("year_starts"),
        F.coalesce(
            F.sum(F.col("d_mt") - F.col("d_ms")),
            F.sum(F.col("e_mt") - F.col("e_ms")),
        ).cast("long").alias("year_ends"),
    )
    year_frag = F.concat(
        F.lit('"'), F.col("yr").cast("string"),
        F.lit('":{"year_starts":'), F.col("year_starts").cast("string"),
        F.lit(',"year_ends":'), F.col("year_ends").cast("string"),
        F.lit(',"months":{'), F.col("mjs"), F.lit("}}"),
    )
    station = year_grain.groupBy("idx").agg(
        F.array_join(F.sort_array(F.collect_list(year_frag)), ",").alias("yjs")
    )
    # decoration at station grain: 6 rows
    return station.select(
        F.concat(F.lit("ST"), F.col("idx").cast("string")).alias("station_name"),
        F.concat(F.lit("ID"), F.col("idx").cast("string")).alias("station_id"),
        (F.lit(40.5) + F.col("idx") * 0.01).alias("station_latitude"),
        (F.lit(-74.0) - F.col("idx") * 0.01).alias("station_longitude"),
        F.concat(F.lit("{"), F.col("yjs"), F.lit("}")).alias("station_data"),
    )


# ---------------------------------------------------------------------------
# §2.9 X3 — route waypoint enrichment (native columns, offline geometry)
# reference: citibike_data_process/table_updating/update_tripsmap.py:100-221
# ---------------------------------------------------------------------------

# Station distances are ≥ ~1.1 km by construction (0.01° lat grid), so the
# densifier always takes the >0.37 km branch: 4 interpolated points → 6
# waypoints. The oracle hardcodes that (no haversine needed in SQL).
_ROUTE_ORACLE = """
    WITH trips AS (
        SELECT strftime(o_orderdate, '%Y') AS year,
               'ST' || (o_custkey % 6) AS start_station_name,
               40.5::DOUBLE + (o_custkey % 6) * 0.01::DOUBLE AS start_station_latitude,
               -74.0::DOUBLE - (o_custkey % 6) * 0.01::DOUBLE AS start_station_longitude,
               'ST' || ((o_custkey + o_orderkey % 5) % 6) AS end_station_name,
               40.5::DOUBLE + ((o_custkey + o_orderkey % 5) % 6) * 0.01::DOUBLE AS end_station_latitude,
               -74.0::DOUBLE - ((o_custkey + o_orderkey % 5) % 6) * 0.01::DOUBLE AS end_station_longitude,
               CASE WHEN o_orderkey % 2 = 0 THEN 'classic_bike'
                    ELSE 'electric_bike' END AS rideable_type,
               o_orderdate
        FROM orders
        WHERE (o_custkey % 6) <> ((o_custkey + o_orderkey % 5) % 6)
    ),
    agg AS (
        SELECT year, start_station_name, start_station_latitude,
               start_station_longitude, end_station_name,
               end_station_latitude, end_station_longitude, rideable_type,
               CAST(count(*) AS BIGINT) AS trip_count,
               min(o_orderdate) AS trip_time
        FROM trips GROUP BY 1, 2, 3, 4, 5, 6, 7, 8
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY year
                   ORDER BY trip_count DESC, start_station_name,
                            end_station_name, rideable_type) AS rn
        FROM agg
    ),
    top AS (SELECT * FROM ranked WHERE rn <= 5),
    secs AS (
        SELECT *,
               extract(hour FROM trip_time) * 3600
               + extract(minute FROM trip_time) * 60
               + extract(second FROM trip_time) AS s0
        FROM top
    )
    -- extend_shape parity (update_tripsmap.py:176-203): every synthesized
    -- segment is > 0.37 km even under the reference's transposed-distance
    -- call, so the shape is linspace(0,1,4) = fractions {0, 1/3, 2/3, 1}
    -- PLUS the loop-exit append that duplicates the endpoint → 5 points.
    SELECT year, start_station_name, end_station_name, rideable_type,
           trip_count, CAST(rn AS INT) AS rn,
           strftime(trip_time, '%Y-%m-%d %H:%M:%S') AS trip_time,
           '[' || array_to_string(list_transform(generate_series(0, 4), i ->
               '{"timestamp":' || CAST(CAST((s0 + i * 3600) % 86400 AS DOUBLE) AS VARCHAR)
               || ',"coordinates":['
               || CAST(CASE WHEN i = 4 THEN round(end_station_longitude, 5)
                            ELSE round(start_station_longitude
                                 + (end_station_longitude - start_station_longitude)
                                   * (i / 3.0::DOUBLE), 5) END AS VARCHAR)
               || ','
               || CAST(CASE WHEN i = 4 THEN round(end_station_latitude, 5)
                            ELSE round(start_station_latitude
                                 + (end_station_latitude - start_station_latitude)
                                   * (i / 3.0::DOUBLE), 5) END AS VARCHAR)
               || ']}'), ',') || ']' AS waypoints
    FROM secs
"""


@register("route_waypoints_enrichment", _ROUTE_ORACLE, tags=("X3", "A8", "W1", "P7"))
def route_waypoints_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deliberately NO fan_out here: the synth head is cheap (a handful of
    # arithmetic/concat columns) and trip_aggregate's partial aggregation
    # collapses 150k rows to route grain before the first exchange —
    # interleaved sf0.1 A/B: plain 0.37 s vs fan_out 0.69 s (with or
    # without the pushdown barrier); the round-robin shuffle of raw rows
    # costs more than the single-core head it parallelizes.
    orders = table(spark, sf_dir, "orders")
    sidx = F.col("o_custkey") % 6
    eidx = (F.col("o_custkey") + F.col("o_orderkey") % 5) % 6
    trips = orders.select(
        F.date_format("o_orderdate", "yyyy").alias("year"),
        F.concat(F.lit("ST"), sidx.cast("string")).alias("start_station_name"),
        (F.lit(40.5) + sidx * 0.01).alias("start_station_latitude"),
        (F.lit(-74.0) - sidx * 0.01).alias("start_station_longitude"),
        F.concat(F.lit("ST"), eidx.cast("string")).alias("end_station_name"),
        (F.lit(40.5) + eidx * 0.01).alias("end_station_latitude"),
        (F.lit(-74.0) - eidx * 0.01).alias("end_station_longitude"),
        F.when(F.col("o_orderkey") % 2 == 0, "classic_bike")
        .otherwise("electric_bike")
        .alias("rideable_type"),
        F.col("o_orderdate").alias("start_time"),
    )
    enriched = enrich_routes(top_trips(trip_aggregate(trips), k=5))
    return enriched.select(
        "year",
        "start_station_name",
        "end_station_name",
        "rideable_type",
        "trip_count",
        "rn",
        F.date_format("trip_time", "yyyy-MM-dd HH:mm:ss").alias("trip_time"),
        F.to_json("waypoints").alias("waypoints"),
    )


# ---------------------------------------------------------------------------
# §1.3 + §2.2 — the COMPLETE normalization pipeline (P1 rename, P2 pad,
# P3 project+cast, P4 bbox swap, P5 derived cols, P6 filters, F1-F5, F7,
# S5 multi-format timestamp parse) on a synthesized era-variant raw frame.
# reference: clean_up.py:44-74 + db_importing.py:31-96
# ---------------------------------------------------------------------------

_RAW_TRIPS_SQL = """
    raw AS (
        SELECT CAST(event_id AS VARCHAR) AS ride_id,
               CASE WHEN event_id % 2 = 0 THEN 'classic_bike'
                    ELSE 'electric_bike' END AS rideable_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS started_at,
               strftime(ts + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS ended_at,
               CASE WHEN user_id % 29 = 0 THEN '8D OPS 01'
                    ELSE 'S' || (user_id % 50) END AS start_station_name,
               CASE WHEN event_id % 101 = 0 THEN ''
                    ELSE 'I' || (user_id % 50) END AS start_station_id,
               'S' || ((user_id + 7) % 50) AS end_station_name,
               'I' || ((user_id + 7) % 50) AS end_station_id,
               CASE WHEN event_id % 103 = 0 THEN 0.0::DOUBLE
                    ELSE 40.5::DOUBLE + (user_id % 40) * 0.01::DOUBLE END AS start_lat,
               CASE WHEN event_id % 103 = 0 THEN 0.0::DOUBLE
                    ELSE -74.2::DOUBLE + (event_id % 60) * 0.01::DOUBLE END AS start_lng,
               40.5::DOUBLE + ((user_id + 3) % 40) * 0.01::DOUBLE AS end_lat,
               -74.2::DOUBLE + ((event_id + 13) % 60) * 0.01::DOUBLE AS end_lng,
               CASE WHEN user_id % 3 = 0 THEN 'member'
                    WHEN user_id % 3 = 1 THEN 'casual'
                    ELSE 'Member' END AS member_casual
        FROM events
    )
"""

_NORMALIZE_ORACLE = f"""
    WITH {_RAW_TRIPS_SQL},
    -- P1+P2+P3: CLEAN_DICT routes start_lng→latitude col / start_lat→
    -- longitude col (the reference's deliberate START-side swap,
    -- clean_up.py:8-13; the END side maps straight through)
    conformed AS (
        SELECT strptime(started_at, '%Y-%m-%d %H:%M:%S') AS start_time,
               strptime(ended_at, '%Y-%m-%d %H:%M:%S') AS end_time,
               start_station_name, start_station_id,
               end_station_name, end_station_id,
               start_lng AS start_station_latitude,
               start_lat AS start_station_longitude,
               end_lat AS end_station_latitude,
               end_lng AS end_station_longitude,
               member_casual AS user_type,
               rideable_type
        FROM raw
        -- P6 binds to these aliases, the columns before the P4 swap
        WHERE start_station_name <> ''
          AND start_station_id <> ''
          AND start_station_latitude <> 0 AND end_station_latitude <> 0
          AND start_station_name NOT IN (
              '8D QC Station 01', 'SSP - Basement',
              'NYCBS Depot - STY - Valet Scan',
              '333 Johnson TEST 1', '8D Mobile 01', '8D OPS 01')
          AND end_station_name NOT IN (
              '8D QC Station 01', 'SSP - Basement',
              'NYCBS Depot - STY - Valet Scan',
              '333 Johnson TEST 1', '8D Mobile 01', '8D OPS 01')
          AND start_station_latitude IS NOT NULL
          AND start_station_longitude IS NOT NULL
          AND end_station_latitude IS NOT NULL
          AND end_station_longitude IS NOT NULL
          AND strftime(start_time, '%Y') = '2024'
    ),
    -- P4: bbox-conditional un-swap (db_importing.py:45-71)
    repaired AS (
        SELECT start_time, end_time, start_station_name, start_station_id,
               end_station_name, end_station_id,
               CASE WHEN start_station_latitude BETWEEN 40.478245113529454 AND 40.98852055760176
                         AND start_station_longitude BETWEEN -74.25383719445274 AND -73.59127683334592
                    THEN start_station_latitude ELSE start_station_longitude
               END AS start_station_latitude,
               CASE WHEN start_station_latitude BETWEEN 40.478245113529454 AND 40.98852055760176
                         AND start_station_longitude BETWEEN -74.25383719445274 AND -73.59127683334592
                    THEN start_station_longitude ELSE start_station_latitude
               END AS start_station_longitude,
               CASE WHEN end_station_latitude BETWEEN 40.478245113529454 AND 40.98852055760176
                         AND end_station_longitude BETWEEN -74.25383719445274 AND -73.59127683334592
                    THEN end_station_latitude ELSE end_station_longitude
               END AS end_station_latitude,
               CASE WHEN end_station_latitude BETWEEN 40.478245113529454 AND 40.98852055760176
                         AND end_station_longitude BETWEEN -74.25383719445274 AND -73.59127683334592
                    THEN end_station_longitude ELSE end_station_latitude
               END AS end_station_longitude,
               CASE WHEN lower(user_type) = 'member' THEN 'subscriber'
                    WHEN lower(user_type) = 'casual' THEN 'customer'
                    ELSE lower(user_type) END AS user_type,
               rideable_type
        FROM conformed
    )
    SELECT strftime(start_time, '%Y-%m-%d %H:%M:%S') AS start_time,
           strftime(end_time, '%Y-%m-%d %H:%M:%S') AS end_time,
           start_station_name, start_station_id,
           end_station_name, end_station_id,
           start_station_latitude, start_station_longitude,
           end_station_latitude, end_station_longitude,
           user_type, rideable_type,
           strftime(start_time, '%Y') AS year,
           strftime(start_time, '%b') AS month
    FROM repaired
"""


@register(
    "normalize_trips_pipeline",
    _NORMALIZE_ORACLE,
    tags=("P1", "P2", "P3", "P4", "P5", "P6", "F1", "F2", "F3", "F4", "F7", "S5"),
)
def normalize_trips_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize_trips() — the heart of ingestion — over a synthesized
    modern-era raw frame (era headers, swapped lat/lng, blacklist hits,
    empty ids, zero coords, mixed-case user types). The input is fanned
    out first: this is a pure narrow pipeline (no exchange anywhere), so
    on an under-split input every string/timestamp op would otherwise
    run on a single core end-to-end. barrier=True keeps clean_filters'
    year predicate (a timestamp round-trip per row) from being pushed
    back below the exchange onto the single scan task."""
    from ..operators.fanout import fan_out

    ev = fan_out(table(spark, sf_dir, "events"), barrier=True)
    raw = ev.select(
        F.col("event_id").cast("string").alias("ride_id"),
        F.when(F.col("event_id") % 2 == 0, "classic_bike")
        .otherwise("electric_bike")
        .alias("rideable_type"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("started_at"),
        F.date_format(
            F.col("ts") + F.expr("INTERVAL 10 MINUTES"), "yyyy-MM-dd HH:mm:ss"
        ).alias("ended_at"),
        F.when(F.col("user_id") % 29 == 0, "8D OPS 01")
        .otherwise(F.concat(F.lit("S"), (F.col("user_id") % 50).cast("string")))
        .alias("start_station_name"),
        F.when(F.col("event_id") % 101 == 0, "")
        .otherwise(F.concat(F.lit("I"), (F.col("user_id") % 50).cast("string")))
        .alias("start_station_id"),
        F.concat(F.lit("S"), ((F.col("user_id") + 7) % 50).cast("string")).alias(
            "end_station_name"
        ),
        F.concat(F.lit("I"), ((F.col("user_id") + 7) % 50).cast("string")).alias(
            "end_station_id"
        ),
        F.when(F.col("event_id") % 103 == 0, F.lit(0.0))
        .otherwise(F.lit(40.5) + (F.col("user_id") % 40) * 0.01)
        .alias("start_lat"),
        F.when(F.col("event_id") % 103 == 0, F.lit(0.0))
        .otherwise(F.lit(-74.2) + (F.col("event_id") % 60) * 0.01)
        .alias("start_lng"),
        (F.lit(40.5) + ((F.col("user_id") + 3) % 40) * 0.01).alias("end_lat"),
        (F.lit(-74.2) + ((F.col("event_id") + 13) % 60) * 0.01).alias("end_lng"),
        F.when(F.col("user_id") % 3 == 0, "member")
        .when(F.col("user_id") % 3 == 1, "casual")
        .otherwise("Member")
        .alias("member_casual"),
    )
    out = normalize_trips(raw, file_year="2024")
    return out.select(
        F.date_format("start_time", "yyyy-MM-dd HH:mm:ss").alias("start_time"),
        F.date_format("end_time", "yyyy-MM-dd HH:mm:ss").alias("end_time"),
        "start_station_name",
        "start_station_id",
        "end_station_name",
        "end_station_id",
        "start_station_latitude",
        "start_station_longitude",
        "end_station_latitude",
        "end_station_longitude",
        "user_type",
        "rideable_type",
        "year",
        "month",
    )


# ---------------------------------------------------------------------------
# Reshaping surface: unpivot (wide→long melt) and grouping sets
# ---------------------------------------------------------------------------


@register(
    "unpivot_lineitem_measures",
    """
    SELECT l_orderkey, l_linenumber, metric, round(val, 2) AS val
    FROM (
        SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    )
    WHERE l_orderkey % 100 = 0
    """,
    tags=("X-unpivot",),
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of the four lineitem measures via DataFrame.unpivot
    (Spark's Expand operator: one scan emits all metric rows — NOT four
    scans like the naive UNION ALL — so at 100 TB the fact table is read
    once). The modulo filter keeps the fixture output bounded; it rides
    the scan before the Expand."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.expr("substring(metric, 3)").alias("metric"),
        F.round("val", 2).alias("val"),
    )


@register(
    "grouping_sets_doc_counts",
    """
    SELECT coalesce(source, 'ALL') AS source_key,
           coalesce(lang, 'ALL') AS lang_key,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY GROUPING SETS ((source), (lang), ())
    """,
    tags=("X-grouping-sets",),
)
def grouping_sets_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain corpus accounting in ONE pass: per-source, per-lang,
    and grand totals via GROUPING SETS (Spark's Expand + single
    aggregate — not three scans). source/lang are non-null in the data,
    so the COALESCE sentinel unambiguously marks the rolled-up grain."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupingSets([["source"], ["lang"], []], "source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            F.coalesce("source", F.lit("ALL")).alias("source_key"),
            F.coalesce("lang", F.lit("ALL")).alias("lang_key"),
            "n_docs",
            "total_chars",
        )
    )


# ---------------------------------------------------------------------------
# Geo analytics: haversine trip distances (columnar twin of
# tripsmap.haversine_km — reference update_tripsmap.py:107-118)
# ---------------------------------------------------------------------------

_HAVERSINE_SQL = """
    2 * 6371.0088 * asin(sqrt(
        pow(sin(radians(end_station_latitude - start_station_latitude) / 2), 2)
        + cos(radians(start_station_latitude)) * cos(radians(end_station_latitude))
          * pow(sin(radians(end_station_longitude - start_station_longitude) / 2), 2)
    ))
"""


def _haversine_km_col():
    dlat = F.radians(F.col("end_station_latitude") - F.col("start_station_latitude"))
    dlon = F.radians(F.col("end_station_longitude") - F.col("start_station_longitude"))
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians("start_station_latitude"))
        * F.cos(F.radians("end_station_latitude"))
        * F.pow(F.sin(dlon / 2), 2)
    )
    return 2 * 6371.0088 * F.asin(F.sqrt(a))


@register(
    "trip_distance_stats",
    f"""
    WITH {_DOCK_TRIPS_SQL.strip()},
    d AS (SELECT year, {_HAVERSINE_SQL} AS km FROM trips)
    SELECT year, CAST(count(*) AS BIGINT) AS trips,
           round(avg(km), 4) AS avg_km,
           round(max(km), 4) AS max_km,
           CAST(count(CASE WHEN km = 0 THEN 1 END) AS BIGINT) AS self_loops
    FROM d GROUP BY year
    """,
    tags=("X-geo-distance",),
)
def trip_distance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-year haversine distance profile of the synthesized trips —
    the columnar (whole-stage-codegen) twin of the pandas-path
    haversine_km used by route densification. Pure column math: no
    shuffle beyond the final year rollup."""
    trips = _synth_dock_trips(table(spark, sf_dir, "orders"))
    km = _haversine_km_col()
    return (
        trips.select("year", km.alias("km"))
        .groupBy("year")
        .agg(
            F.count("*").alias("trips"),
            F.round(F.avg("km"), 4).alias("avg_km"),
            F.round(F.max("km"), 4).alias("max_km"),
            F.count(F.when(F.col("km") == 0, 1)).alias("self_loops"),
        )
    )
