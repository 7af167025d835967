"""WebDataset-style TAR shard reading — the de-facto container format
for large multimodal/LLM training corpora (a corpus is thousands of
``shard-%06d.tar`` files; each sample is a group of adjacent members
sharing a basename: ``000123.jpg`` + ``000123.txt`` + ``000123.json``).

Spark-first shape: ``binaryFile`` ships each shard's bytes to an
executor (never the driver), a pure-stdlib ``tarfile`` walk explodes
members inside an Arrow-batched ``mapInPandas``, and sample regrouping
is a plain pivot-style aggregation on (shard, key) — so at 100 TB every
stage is embarrassingly parallel at shard granularity, exactly how
WebDataset is meant to be consumed. No external library: ``tarfile`` is stdlib,
and samples come back as ordinary binary columns that chain straight
into the multimodal operators (image_dimensions / audio_metadata /
extract_features).
"""

from __future__ import annotations

import io
import posixpath
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("key", T.StringType()),      # basename up to the FIRST dot
        T.StructField("ext", T.StringType()),      # everything after it, lowercased
        T.StructField("member", T.StringType()),   # full member path in the tar
        T.StructField("ord", T.LongType()),        # member position in the tar
        T.StructField("payload", T.BinaryType()),
    ]
)


def iter_tar_members(blob: bytes) -> Iterator[tuple[str, bytes]]:
    """(member_name, payload) for every regular file in a tar, skipping
    directories and metadata sidecars (PAX headers are handled by
    tarfile itself; ``._*`` AppleDouble members are skipped like the
    zip path skips ``__MACOSX``)."""
    with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
        for info in tf:
            if not info.isfile():
                continue
            base = posixpath.basename(info.name)
            if base.startswith("._"):
                continue
            fh = tf.extractfile(info)
            if fh is None:
                continue
            yield info.name, fh.read()


def read_tar_shards(spark: SparkSession, glob: str) -> DataFrame:
    """One row per member across every shard matched by ``glob``:
    (shard, key, ext, member, payload). binaryFile keeps shard bytes off
    the driver; the tar walk runs executor-side per shard."""
    binary = spark.read.format("binaryFile").load(glob)

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                for ord_, (name, payload) in enumerate(
                    iter_tar_members(bytes(row.content))
                ):
                    base = posixpath.basename(name)
                    # WebDataset convention: the sample key is the member
                    # PATH up to the first dot of the basename; the
                    # component "extension" is everything after that dot —
                    # multi-part extensions like 000123.gt.txt must stay
                    # ONE component of sample 000123, not become a
                    # separate sample "000123.gt". The directory is part
                    # of the key: a/000123.jpg and b/000123.txt in one
                    # shard are DIFFERENT samples.
                    stem, dot, ext = base.partition(".")
                    key = posixpath.join(posixpath.dirname(name), stem)
                    rows.append(
                        (row.path, key, ext.lower(), name, ord_, payload)
                    )
            yield pd.DataFrame(
                rows, columns=["shard", "key", "ext", "member", "ord", "payload"]
            )

    return binary.select("path", "content").mapInPandas(explode, MEMBER_SCHEMA)


def group_samples(members: DataFrame, exts: tuple[str, ...]) -> DataFrame:
    """WebDataset sample regrouping: members sharing (shard, key) become
    ONE row with a binary column per requested extension (null when the
    sample lacks that component). A keyed aggregation — max_by per
    extension — so regrouping is a single shuffle on the sample key and
    never widens beyond |exts| columns.

    Duplicate members resolve LAST-WINS in tar order (max_by on the
    member position), matching tar update semantics — the later member
    supersedes on extract, so a loader sees exactly what untarring
    would produce."""
    aggs = [
        F.max_by(
            F.when(F.col("ext") == e, F.col("payload")),
            F.when(F.col("ext") == e, F.col("ord")),
        ).alias(e)
        for e in exts
    ]
    return members.groupBy("shard", "key").agg(*aggs)


def shard_manifest(members: DataFrame) -> DataFrame:
    """Per-shard audit: sample count, member count, bytes — the
    manifest a loader uses for deterministic epoch planning (and the
    fast check that a shard transfer truncated). One keyed agg."""
    return members.groupBy("shard").agg(
        F.count_distinct("key").alias("n_samples"),
        F.count("*").alias("n_members"),
        F.sum(F.octet_length("payload")).alias("n_bytes"),
    )
