"""Compaction: file-count collapse, byte-sizing, row fidelity, and
stat-tightness of the sorted variant."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from grader_etl_spark.io import load
from grader_etl_spark.plans.compaction import compact, dir_bytes, n_data_files


@pytest.fixture(scope="module")
def fragmented(spark, sf_dir, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("frag") / "documents")
    load(spark, sf_dir, "documents").repartition(40).write.parquet(src)
    return src


def test_compact_collapses_small_files(spark, fragmented, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("out") / "documents")
    before_rows = spark.read.parquet(fragmented).count()
    target = max(1, dir_bytes(fragmented))  # everything fits one file
    out = compact(spark, fragmented, dst, target_bytes=target)
    assert n_data_files(fragmented) == 40
    assert n_data_files(dst) <= 2
    assert out.count() == before_rows


def test_compact_respects_target_sizing(spark, fragmented, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("out") / "documents")
    target = max(1, dir_bytes(fragmented) // 4)
    compact(spark, fragmented, dst, target_bytes=target)
    # ceil(size/target) = 4 (± encoding drift after the rewrite).
    assert 3 <= n_data_files(dst) <= 6


def test_sorted_compaction_keeps_disjoint_ranges(spark, fragmented, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("out") / "documents")
    target = max(1, dir_bytes(fragmented) // 3)
    compact(spark, fragmented, dst, target_bytes=target, sort_cols=["doc_id"])
    # Per-file doc_id ranges must not overlap (repartitionByRange).
    stats = (
        spark.read.parquet(dst)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in stats)
    for (_, prev_hi), (cur_lo, _) in zip(spans, spans[1:]):
        assert cur_lo > prev_hi


def test_compact_partitions_in_place_journaled(spark, sf_dir, tmp_path):
    """Round 7: in-place compaction rewrites ONLY fragmented leaves
    through the journaled commit — fragmented days collapse to one
    file, already-compact days stay byte-identical, the row set is
    unchanged, the manifest verifies, and a rerun no-ops."""
    import os as _os

    import pyspark.sql.functions as F

    from grader_etl_spark.io import load
    from grader_etl_spark.plans import manifest as M
    from grader_etl_spark.plans.compaction import compact_partitions

    store = str(tmp_path / "store")
    ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    days = sorted(r[0] for r in ev.select("event_date").distinct().collect())
    assert len(days) >= 3
    # day 0: written once (already compact); other days: fragmented by
    # three append batches
    ev.filter(F.col("event_date") == days[0]).coalesce(1) \
        .write.partitionBy("event_date").parquet(store)
    rest = ev.filter(F.col("event_date") != days[0])
    for i in range(3):
        rest.filter(F.col("user_id") % 3 == i).repartition(4) \
            .write.mode("append").partitionBy("event_date").parquet(store)

    def files(day):
        d = _os.path.join(store, f"event_date={day}")
        return sorted(f for f in _os.listdir(d) if f.endswith(".parquet"))

    def fstate(day):
        d = _os.path.join(store, f"event_date={day}")
        return {f: _os.stat(_os.path.join(d, f)).st_mtime_ns for f in files(day)}

    assert len(files(days[1])) > 1
    before_d0 = fstate(days[0])
    rows_before = {tuple(r) for r in spark.read.parquet(store).collect()}

    audit = compact_partitions(spark, store, sort_cols=["ts"]).collect()[0]
    assert audit["partitions_compacted"] == len(days) - 1
    assert audit["partitions_untouched"] == 1
    assert audit["files_after"] == len(days)  # one file per day now

    for day in days[1:]:
        assert len(files(day)) == 1, day
    assert fstate(days[0]) == before_d0  # untouched day byte-identical
    assert {tuple(r) for r in spark.read.parquet(store).collect()} == rows_before
    assert M.mismatches(store) == []

    # idempotent rerun: nothing fragmented, table untouched
    state = {d: fstate(d) for d in days}
    audit2 = compact_partitions(spark, store).collect()[0]
    assert audit2["partitions_compacted"] == 0
    assert {d: fstate(d) for d in days} == state


def test_compact_partitions_fans_each_leaf_to_its_own_budget(spark, tmp_path):
    """Leaves rewritten in one compaction may have different file
    budgets (ceil(bytes / target_bytes)): the large leaf fans out to
    its budget, the small leaf beside it stays one file instead of
    taking the large leaf's fan-out."""
    import os as _os

    from grader_etl_spark.plans.compaction import compact_partitions

    store = str(tmp_path / "store")
    rows = spark.range(20000).select(
        F.when(F.col("id") < 200, F.lit("small")).otherwise(F.lit("big")).alias("day"),
        F.col("id"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    for i in range(2):
        rows.filter(F.col("id") % 2 == i).repartition(6).write.mode("append") \
            .partitionBy("day").parquet(store)

    def leaf(day):
        d = _os.path.join(store, f"day={day}")
        names = [f for f in _os.listdir(d) if f.endswith(".parquet")]
        return len(names), sum(_os.path.getsize(_os.path.join(d, f)) for f in names)

    n_big, big_bytes = leaf("big")
    n_small, small_bytes = leaf("small")
    target = big_bytes // 3 + 1  # big leaf budget 3, small leaf budget 1
    assert small_bytes < target and n_big > 3 and n_small > 1

    compact_partitions(spark, store, target_bytes=target)
    assert leaf("small")[0] == 1
    assert 1 <= leaf("big")[0] <= 3
    assert spark.read.parquet(store).count() == 20000


def test_compact_partitions_crash_rolls_forward(spark, sf_dir, tmp_path, monkeypatch):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from grader_etl_spark.io import load
    from grader_etl_spark.plans import manifest as M
    from grader_etl_spark.plans import merge as merge_mod
    from grader_etl_spark.plans.compaction import compact_partitions
    from grader_etl_spark.plans.merge import _InjectedCrash, recover

    store = str(tmp_path / "store")
    ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    for i in range(2):
        ev.filter(F.col("user_id") % 2 == i).repartition(3) \
            .write.mode("append").partitionBy("event_date").parquet(store)
    rows_before = spark.read.parquet(store).count()

    real_apply = merge_mod._apply_swaps

    def crash_after_one(path, journal, on_step=None):
        done = {"n": 0}

        def step():
            done["n"] += 1
            if done["n"] > 1:
                raise _InjectedCrash("injected")

        real_apply(path, journal, on_step=step)

    monkeypatch.setattr(merge_mod, "_apply_swaps", crash_after_one)
    with _pytest.raises(_InjectedCrash):
        compact_partitions(spark, store)
    monkeypatch.undo()

    assert recover(store) is True
    assert spark.read.parquet(store).count() == rows_before
    assert M.mismatches(store) == []


def test_compact_partitions_skips_null_partition_leaf(spark, tmp_path):
    """ADVICE r8 (high): a __HIVE_DEFAULT_PARTITION__ leaf (NULL
    partition value, e.g. ParquetStore.append with a null timestamp)
    can NEVER match compaction's cast-equality filter — the old code
    staged it empty and silently trashed it via the journal's delete
    list. It must be SKIPPED: left fragmented, files byte-identical,
    while normal leaves still compact."""
    import os as _os

    import pyspark.sql.functions as F

    from grader_etl_spark.plans import manifest as M
    from grader_etl_spark.plans.compaction import compact_partitions

    store = str(tmp_path / "store")
    df = spark.range(200).select(
        F.col("id"),
        F.when(F.col("id") % 4 == 0, F.lit(None)).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 2).cast("string"))
        ).alias("k"),
    )
    for i in range(3):  # fragment every leaf, NULL one included
        df.filter(F.col("id") % 3 == i).repartition(4) \
            .write.mode("append").partitionBy("k").parquet(store)

    null_leaf = _os.path.join(store, "k=__HIVE_DEFAULT_PARTITION__")
    assert _os.path.isdir(null_leaf)

    def fstate(d):
        return {
            f: _os.stat(_os.path.join(d, f)).st_mtime_ns
            for f in _os.listdir(d) if f.endswith(".parquet")
        }

    null_before = fstate(null_leaf)
    assert len(null_before) > 1  # genuinely fragmented
    rows_before = spark.read.parquet(store).count()

    audit = compact_partitions(spark, store).collect()[0]
    assert audit["partitions_compacted"] == 2  # k0, k1 only
    # NULL leaf survives untouched, byte-identical
    assert fstate(null_leaf) == null_before
    for k in ("k=k0", "k=k1"):
        assert len(fstate(_os.path.join(store, k))) == 1
    assert spark.read.parquet(store).count() == rows_before
    assert M.mismatches(store) == []


def test_stage_and_commit_forbid_deletes_aborts_not_trashes(spark, tmp_path):
    """Terminal guard behind the skip: a selected leaf whose directory
    value does NOT round-trip through cast(col as string) — here a
    zero-padded int dir that Spark infers as int 7, rendering '7' ≠
    '007' — stages empty. With forbid_deletes the commit ABORTS with
    the live table untouched and no journal, instead of retiring the
    partition."""
    import os as _os

    import pyspark.sql.functions as F
    import pytest as _pytest

    from grader_etl_spark.plans.compaction import compact_partitions
    from grader_etl_spark.plans.merge import _journal_path

    store = str(tmp_path / "store")
    leaf = _os.path.join(store, "k=007")
    _os.makedirs(leaf)
    base = spark.range(60).select(F.col("id"))
    # three files -> fragmented -> selected for rewrite
    for i in range(3):
        tmp_out = str(tmp_path / f"b{i}")
        base.filter(F.col("id") % 3 == i).coalesce(1).write.parquet(tmp_out)
        src = next(f for f in _os.listdir(tmp_out) if f.endswith(".parquet"))
        _os.rename(_os.path.join(tmp_out, src), _os.path.join(leaf, f"part-{i}.parquet"))

    files_before = sorted(_os.listdir(leaf))
    rows_before = spark.read.parquet(store).count()
    with _pytest.raises(RuntimeError, match="forbids partition retirement"):
        compact_partitions(spark, store)
    assert sorted(f for f in _os.listdir(leaf) if f.endswith(".parquet")) == [
        f for f in files_before if f.endswith(".parquet")
    ]
    assert spark.read.parquet(store).count() == rows_before
    assert not _os.path.exists(_journal_path(store))
    parent = _os.path.dirname(store)
    assert not [d for d in _os.listdir(parent) if ".merge-staging-" in d]
