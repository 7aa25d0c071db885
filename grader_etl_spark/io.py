"""Fixture table access.

All oracle-checked queries read the driver-generated parquet tables
(TESTDATA.md). ``load`` is the one scan entry point so that column
pruning / predicate pushdown behavior is auditable in one place:
callers pass ``columns=`` when they statically know the projection,
but Catalyst prunes through ``select`` anyway — the parameter exists
for readability, not necessity.
"""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, table: str, columns: list[str] | None = None) -> DataFrame:
    """Scan one fixture table from ``{sf_dir}/{table}.parquet``.

    ``events.ts`` has shipped in two encodings across fixture
    generations; both are normalized to TimestampType here so every
    consumer sees one type:

    * timestamp[us] with no timezone — what current TESTDATA produces
      at all three scales. Arrives as TIMESTAMP_NTZ, which Spark 4
      rejects in unix_micros()/epoch casts; with the session timezone
      pinned to UTC the cast to TimestampType is wall-clock-exact.
    * parquet TIMESTAMP(NANOS) — the legacy encoding. Spark's reader
      rejects it outright; with spark.sql.legacy.parquet.nanosAsLong
      (session.py) it arrives as epoch-nanos long and the µs
      floor-division is lossless at the fixture's µs resolution."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if table == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # µs-no-tz parquet arrives as TIMESTAMP_NTZ, which Spark 4
            # rejects in unix_micros()/epoch casts; with the session
            # timezone pinned to UTC this cast is wall-clock-exact.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if columns:
        df = df.select(*columns)
    return df


def fan_out(
    df: DataFrame,
    parts: int | None = None,
    max_bytes: int | None = None,
    stats_of: DataFrame | None = None,
) -> DataFrame:
    """Scatter a narrow scan before a CPU-heavy per-row kernel
    (shingling, rolling hashes, signature computation).

    On a real cluster a big table arrives in thousands of splits and
    this is a no-op (the partition count already exceeds the target).
    But a small file — or one giant row group, which parquet cannot
    split — pins the entire kernel to ONE task while every other core
    idles (measured: the brand-blocked levenshtein join ran 3× faster
    after scattering its probe side). The guard keeps the exchange out
    of plans that don't need it; when it fires, it moves only the
    pruned scan columns once — negligible against the kernel cost it
    unblocks.

    ``max_bytes`` adds a SIZE gate for the constant-shuffle aggregate
    class (round-4 audit / tests/test_shuffle_contract.py): those
    queries' exchanges must carry O(groups), never O(rows), so an
    unconditional scatter would change their scale class whenever the
    partition guard fires. With the gate the scatter only fires while
    the (column-pruned) input stats sit under an ABSOLUTE byte cap —
    the added exchange is bounded by the cap, not by the table, so the
    O(groups) shuffle-growth story is preserved at every scale while
    an under-split tiny input (the unsplittable one-row-group fixture)
    still gets its per-row work spread across cores.

    ``stats_of`` redirects the byte gate to ANOTHER frame's optimizer
    stats. Join-derived frames (candidate pair tables) carry
    multiplicative size estimates — measured ~1000× over actual at
    sf0.1 — so gating on their own stats would suppress the scatter
    exactly where it is needed; a file-backed upstream (the corpus
    scan feeding the pair join) gives an honest, linearly-scaling
    proxy for pair volume instead (prefix-filtered candidate mass is
    near-linear in corpus bytes, round-4 audit)."""
    n = parts or df.sparkSession.sparkContext.defaultParallelism * 2
    if max_bytes is not None:
        gate_frame = stats_of if stats_of is not None else df
        stats_size = int(
            gate_frame._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if stats_size > max_bytes:
            return df
    return df.repartition(n) if df.rdd.getNumPartitions() < n else df


def scatter_cap() -> int:
    """Absolute byte cap for size-gated scatters, read from the env at
    CALL time (an import-time constant silently ignored a cap set by
    tests or notebook sessions after module import — round-8 advice):
    one bounded exchange of ≤ this many bytes is negligible on any
    cluster, and past it the scan's own splits are trusted to provide
    parallelism."""
    return int(os.environ.get("SPARK_GRAFT_SCATTER_CAP", str(256 * 1024 * 1024)))


def kernel_scatter_cap() -> int:
    """Byte cap for KERNEL-class scatters (candidate-pair verify,
    shingling, signature kernels), deliberately far above the
    aggregate-class cap: these inputs are narrow rows whose per-row
    CPU cost dominates any bounded exchange, so the scatter is wanted
    at any realistic volume — but an ABSOLUTE upper bound (default
    4 GB, env SPARK_GRAFT_KERNEL_CAP) keeps even a pathological pair
    explosion at 100 TB from adding an unbounded round-robin exchange:
    past the cap the upstream shuffle's own partitioning is trusted
    (at that size AQE no longer coalesces to ~1 task, which is the
    only problem the scatter exists to fix)."""
    return int(os.environ.get("SPARK_GRAFT_KERNEL_CAP", str(4 * 1024 ** 3)))


def load_events_range(
    spark: SparkSession, sf_dir: str, start: str, end: str, columns: list[str] | None = None
) -> DataFrame:
    """events scan with a time-range predicate that actually reaches
    the parquet reader.

    A filter on the converted TimestampType column cannot be pushed
    through the timestamp_micros() expression, so on the legacy
    nanos-long encoding the range is applied to the raw epoch-nanos
    long FIRST — .explain then shows GreaterThanOrEqual/LessThan on ts
    in PushedFilters, which is what lets row-group statistics (and, on
    a date-partitioned store, partition pruning) skip data at 100 TB.
    On the current timestamp_ntz encoding the literal comparison
    pushes down as-is. Either way the returned ``ts`` is cast to
    TimestampType, matching load(). ``start`` inclusive, ``end``
    exclusive, both 'YYYY-MM-DD[ HH:MM:SS]' UTC."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")

    def nanos(s: str) -> int:
        t = dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc)
        return int(t.timestamp()) * 1_000_000_000

    if dict(df.dtypes).get("ts") == "bigint":
        df = df.filter((F.col("ts") >= nanos(start)) & (F.col("ts") < nanos(end)))
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = df.filter(
            (F.col("ts") >= F.lit(start).cast("timestamp"))
            & (F.col("ts") < F.lit(end).cast("timestamp"))
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    if columns:
        df = df.select(*columns)
    return df


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


# Defensive load for the vector family (BASELINE.md §degenerate-
# embedding probe): an embedding model's failure rows — NULL vectors,
# empty arrays, NULL or NaN components — crash 12 of 13 vector
# operators on BOTH engines (Spark: ANSI /0 on the zero norm or a
# NULL-poisoned fold; DuckDB: list_inner_product rejects NULL
# elements). One map-side filter at the scan is the 100 TB answer;
# VALID_VECTORS_SQL is the oracle's mirrored WHERE, spliced by
# wrapping the embeddings scan in a filtered subquery of the same name.
# (All-zero vectors pass the gate: they are VALID input whose cosine
# is NULL/undefined — the try_divide class, not a load problem.)

VALID_VECTORS_SQL = (
    "embedding IS NOT NULL AND len(embedding) > 0 AND "
    "list_aggregate(list_transform(embedding, "
    "x -> CASE WHEN x IS NULL OR isnan(CAST(x AS DOUBLE)) THEN 1 ELSE 0 END), "
    "'sum') = 0"
)

# The splice every embedding oracle interpolates: a filtered subquery
# that shadows the raw `embeddings` view under the same name, so the
# gate has ONE definition on the oracle side too (a future edit — e.g.
# an Inf check — propagates to all consumers instead of desyncing 15
# hand-copied literals).
VALID_EMBEDDINGS_SQL = f"(SELECT * FROM embeddings WHERE {VALID_VECTORS_SQL}) embeddings"


def valid_vectors(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Drop NULL/empty vectors and vectors with NULL/NaN components —
    the Spark half of the defensive vector load."""
    c = F.col(col)
    return df.filter(
        c.isNotNull()
        & (F.size(c) > 0)
        & F.forall(c, lambda x: x.isNotNull() & ~F.isnan(x.cast("double")))
    )
