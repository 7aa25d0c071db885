"""Small-file compaction — the table-maintenance pass every
long-running ingest needs: streaming/incremental writers (§2.8,
plans/incremental.py) emit per-batch files, and a 100 TB table
accumulating thousands of KB-sized parquet files loses scan
throughput to footer reads and task-scheduling overhead long before
it loses it to I/O.

Strategy: measure the actual on-disk bytes, size the output file
count so each file lands near ``target_bytes`` (the classic 128 MB
HDFS-block heuristic), and rewrite with a round-robin
``repartition(n)`` — an all-to-all shuffle that produces uniformly
sized files regardless of input skew. Sort-preserving variants
(compact within a partition directory, keep a Z-order) compose by
passing ``sort_cols``; date-partitioned tables compact per-partition
via the same call pointed at one partition directory (never shuffle
the whole table to fix one hot day).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession


def dir_bytes(path: str) -> int:
    """Total bytes of data files under ``path`` (local fs; on a real
    cluster this is a FileSystem.getContentSummary call)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def n_data_files(path: str) -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _leaf_file_stats(path: str, leaves: list[str]) -> dict[str, tuple[int, int]]:
    """{leaf rel path: (n data files, bytes)}."""
    out = {}
    for d in leaves:
        abs_ = os.path.join(path, d)
        n = b = 0
        for f in os.listdir(abs_):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += 1
                b += os.path.getsize(os.path.join(abs_, f))
        out[d] = (n, b)
    return out


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    max_files: int = 1,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """IN-PLACE compaction of a partitioned table, round 7 — the third
    leg of the journaled table-maintenance trio (merge, retention,
    compaction), all committing through the same staged-write +
    fsync'd-journal + atomic-swap machinery with the versioned
    manifest published as part of the commit.

    ``compact`` (above) rewrites a whole table into a NEW directory —
    right for one-off layout migrations, but a standing maintenance
    job must fix ONLY the partitions the ingest cadence fragmented and
    leave everything else byte-identical. This selects leaves holding
    more than ``max(max_files, ceil(bytes/target_bytes))`` data files,
    rewrites exactly those with one read + one clustered write (file
    count per leaf bounded by that same ceiling), and swaps them in
    under the store lock with roll-forward crash recovery. Untouched partitions are never
    listed, read, or rewritten.

    Returns a one-row audit frame: partitions compacted/untouched,
    files before/after. Idempotent: a second run finds nothing
    fragmented and no-ops without touching the table."""
    import functools
    import operator

    import pyspark.sql.functions as F

    from grader_etl_spark.plans import manifest as _manifest
    from grader_etl_spark.plans.merge import (
        _SAFE_PARTITION_VALUE,
        _cluster_output,
        _recover_unlocked,
        _stage_and_commit,
    )
    from grader_etl_spark.plans.pipeline import _store_lock

    def _rewritable(leaf: str) -> bool:
        """Only leaves whose EVERY directory value provably round-trips
        through ``cast(col as string) == value`` may be rewritten
        in-place. NULL partitions (``__HIVE_DEFAULT_PARTITION__`` —
        ``isNull`` on disk, matched by no equality literal) and
        hive-percent-escaped values (``%3A`` etc. — the cast renders
        the UNescaped value) would match zero rows, stage empty, and
        land the leaf on the journal's delete list: the partition
        would be silently trashed (ADVICE r7 high). Such leaves are
        left fragmented rather than risked; merge_into refuses them
        at write time for the same reason."""
        for seg in leaf.split("/"):
            v = seg.split("=", 1)[1]
            if v == "__HIVE_DEFAULT_PARTITION__" or not _SAFE_PARTITION_VALUE.match(v):
                return False
        return True

    def _audit(compacted, untouched, before, after):
        return spark.createDataFrame(
            [(compacted, untouched, before, after)],
            "partitions_compacted int, partitions_untouched int, "
            "files_before int, files_after int",
        )

    with _store_lock(path):
        _recover_unlocked(path)
        leaves = _manifest.leaf_dirs(path)
        if not leaves:
            return _audit(0, 0, 0, 0)
        stats = _leaf_file_stats(path, leaves)
        budget = {
            d: max(max_files, math.ceil(b / target_bytes)) for d, (n, b) in stats.items()
        }
        frag = sorted(
            d for d, (n, _b) in stats.items() if n > budget[d] and _rewritable(d)
        )
        if not frag:
            return _audit(0, len(leaves), sum(n for n, _ in stats.values()),
                          sum(n for n, _ in stats.values()))
        pcols = [seg.split("=", 1)[0] for seg in frag[0].split("/")]
        vals = [tuple(seg.split("=", 1)[1] for seg in d.split("/")) for d in frag]
        leaf_preds = [
            functools.reduce(
                operator.and_,
                [F.col(c).cast("string") == F.lit(v) for c, v in zip(pcols, t)],
            )
            for t in vals
        ]
        df = spark.read.parquet(path).filter(functools.reduce(operator.or_, leaf_preds))
        files_per = max(budget[d] for d in frag)
        # each leaf fans out to its OWN budget, so a small leaf
        # rewritten next to a large one stays within its ceiling
        per_leaf = F.lit(1)
        for d, leaf in zip(frag, leaf_preds):
            if budget[d] > 1:
                per_leaf = F.when(leaf, F.lit(budget[d])).otherwise(per_leaf)
        out = _cluster_output(df, keys=df.columns, pcols=pcols,
                              files_per_partition=files_per, n_partitions=len(frag),
                              budget=per_leaf)
        if sort_cols:
            # keep min/max footer stats tight so data skipping
            # survives compaction (partition-col prefix satisfies the
            # writer's required ordering — no second sort)
            out = out.sortWithinPartitions(*pcols, *sort_cols)
        _stage_and_commit(
            spark, path, out, pcols,
            touched=set(frag), existing_dirs=set(leaves),
            _crash_after_swaps=None,
            # compaction rewrites content 1:1 — a selected leaf that
            # fails to reappear in staging means the filter missed it;
            # abort rather than retire the partition.
            forbid_deletes=True,
        )
        after = _leaf_file_stats(path, _manifest.leaf_dirs(path))
        return _audit(
            len(frag), len(leaves) - len(frag),
            sum(n for n, _ in stats.values()),
            sum(n for n, _ in after.values()),
        )


def compact(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = 128 << 20,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Rewrite ``src_dir`` into ``dst_dir`` with files sized toward
    ``target_bytes``. Returns the compacted DataFrame (lazy reader on
    the new location)."""
    size = dir_bytes(src_dir)
    n_out = max(1, math.ceil(size / target_bytes))
    df = spark.read.parquet(src_dir)
    if sort_cols:
        # Range-partition + in-file sort: keeps min/max footer stats
        # tight so data skipping survives compaction.
        out = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(dst_dir)
    return spark.read.parquet(dst_dir)
