"""Copy-on-write MERGE INTO for partitioned parquet tables.

The reference's only conflict semantic is per-row ``INSERT ... ON
CONFLICT DO NOTHING`` (/root/reference/main.py:202), which
``ParquetStore.idempotent_append`` renders as a set-based anti-join.
A transactional table format (Delta/Iceberg) generalizes that to
MERGE — update/delete/insert in one keyed statement. delta-spark is
not in this container, but MERGE is a *semantic*, not a package: this
plan implements it directly on plain parquet, copy-on-write, the same
way the formats do under the hood —

1. **Prune**: only partitions that can contain matched rows are read
   or rewritten. With the standard upsert layout (the partition value
   is a function of the key, e.g. ``event_date = date(event_ts)``),
   those are exactly the source's partition values — a driver-sized
   list. If keys can MOVE between partitions, ``prune_with_source_
   partitions=False`` additionally discovers the partitions holding
   current matches with one key-only scan (broadcast source, column-
   pruned to the keys + partition columns).
2. **Compose**: per touched partition, the post-merge content is an
   anti/semi-join algebra over (target_touched, source) — never a
   row-at-a-time loop, never a full-table rewrite.
3. **Stage**: the rewritten partitions are written to a sibling
   staging directory first (Spark's whole write machinery, normal
   task retries). The live table is not touched yet.
4. **Swap**: after the staging write fully succeeds, a JOURNAL file
   is fsync'd and each touched partition directory is swapped in with
   two atomic renames (old → trash, staged → live). Untouched
   partitions are never listed, read, or rewritten — their files stay
   byte-identical.

Delta-parity clause surface:

- ``when_matched`` = "update" (whole row), "delete", or None;
  ``when_not_matched`` = "insert" or None.
- ``when_matched_condition``: a SQL predicate over the matched pair,
  target aliased ``t`` and source aliased ``s`` (Delta's
  ``WHEN MATCHED AND <cond>``) — matched rows failing it are KEPT
  unchanged; inserts are not gated.
- ``update_cols``: partial-column SET — update only these columns
  from the source, keep every other target column (Delta's
  ``SET col = s.col, ...``). With ``when_not_matched=None`` the
  source may then be a narrow changes feed (keys + partition cols +
  updated cols only).
- ``partition_cols``: multi-column partitioning, e.g.
  ``["event_date", "source"]`` — nested hive layout
  ``event_date=.../source=.../``; pruning, swaps, deletes, and the
  manifest all operate on leaf directories.

Crash contract: the journal is written only AFTER staging is
complete, so recovery is always ROLL-FORWARD — the swap loop is
idempotent (every step is guarded by existence checks), and
``recover()`` simply re-runs it. A crash before the journal exists
leaves only garbage staging dirs, which recovery sweeps. Durability
ordering is enforced with directory fsyncs: the journal's dirent is
fsync'd before the first rename (so no persisted rename can exist
without a recoverable journal), and every rename is fsync'd before
the journal is unlinked in ``_finish`` (so a missing journal proves
the commit fully persisted and the trash/staging leftovers really
are garbage — without that barrier a power loss could persist the
renames but drop the journal dirent, and the journal-less sweep
would delete the only copy of retired partitions).

Reader consistency: each commit's LAST step atomically publishes a
versioned manifest (``plans/manifest.py``) naming every partition
dir + content nonce; ``manifest.read_table``/``snapshot`` verify it
and therefore see old-or-new, never a torn mid-swap listing. (Plain
``spark.read.parquet(path)`` still works and keeps the round-6
documented mid-swap window; the manifest readers close it.)

Concurrency: by default writers serialize on the same advisory
``_store_lock`` as idempotent_append, so merge/append/merge
interleavings see each other's commits. Round 8 adds the OPTIMISTIC
mode (``optimistic=True``) — Delta's optimistic concurrency protocol
rendered on the same journal machinery: the expensive phases (target
read, merge composition, staging write) run WITHOUT the lock; the
lock is held only for the metadata-speed commit tail (conflict check,
journal publish, directory swaps, manifest bump). Conflicts are
detected by comparing the touched partitions' content NONCES (and
existence) against the snapshot taken at the start of the attempt —
exactly Delta's "did anything I read/write change since my snapshot"
check at partition granularity. Merges touching DISJOINT partition
sets therefore commit concurrently; overlapping merges make the loser
sweep its staging and RETRY from a fresh snapshot (bounded by
``max_commit_retries``). In-flight staging directories carry their
owner's pid in the name so a concurrent writer's recovery sweep skips
live work and still reclaims dead writers' garbage. Same-process
concurrency is process-granular: two optimistic writers racing the
same table must be separate processes (the racing-writer pytest and
the soak's writer mode run them that way).
"""

from __future__ import annotations

import functools
import json
import operator
import os
import re
import shutil
import uuid
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from grader_etl_spark.plans import manifest as _manifest
from grader_etl_spark.plans.manifest import _fsync_dir
from grader_etl_spark.plans.pipeline import _store_lock

# Partition directory-name rendition we accept without owning Hive's
# full escaping table: dates, ints, plain tokens. Everything Hive
# percent-escapes on disk (':' in timestamps, '/', '%', '#', ...)
# is refused rather than half-implemented — a value whose dirname we
# would compute differently from the writer silently no-ops merges.
_SAFE_PARTITION_VALUE = re.compile(r"^[A-Za-z0-9_.\-T ]+$")

_BROADCAST_ROWS = 1_000_000  # source side under this → explicit broadcast


@dataclass(frozen=True)
class MergeStats:
    inserted: int
    updated: int
    deleted: int
    partitions_rewritten: int
    noop: bool = False
    commit_retries: int = 0  # optimistic mode: conflicts retried before this commit won


class ConcurrentWriteConflict(RuntimeError):
    """An optimistic merge lost the conflict check ``max_commit_retries``
    times in a row — some other writer keeps committing to the same
    partitions. The table is untouched by this merge; retry with
    backoff or fall back to ``optimistic=False`` (queue on the lock)."""


def _journal_path(path: str) -> str:
    return path.rstrip("/") + ".merge-journal"


def _staging_pair(path: str) -> tuple[str, str]:
    """Sibling staging/trash directory names for one commit attempt.
    The OWNER PID is part of the name so a concurrent writer's
    journal-less sweep can distinguish a live writer's in-flight
    staging (skip) from a dead writer's garbage (reclaim)."""
    nonce = f"{os.getpid()}-{uuid.uuid4().hex[:12]}"
    staging = path.rstrip("/") + f".merge-staging-{nonce}"
    trash = path.rstrip("/") + f".merge-trash-{nonce}"
    return staging, trash


_OWNED_SIBLING = re.compile(r"\.merge-(?:staging|trash)-(\d+)-[0-9a-f]+$")

# THIS process's in-flight, pre-journal staging/trash dirs: any
# recovery sweep running in this process (a locked merge, retention,
# an append — or another optimistic attempt) must not reclaim them;
# pid-liveness alone cannot protect them from our own sweeps.
_LIVE_STAGING: set[str] = set()


def _owned_by_live_other(name: str) -> bool:
    """True iff ``name`` is a pid-owned staging/trash sibling whose
    owner is a LIVE process other than us. Legacy (pid-less) names and
    our own pid are sweepable — an in-flight commit of THIS process
    protects its dirs explicitly via ``_recover_unlocked(keep=...)``,
    never via pid (a crashed previous life of a recycled pid must not
    block the sweep forever)."""
    m = _OWNED_SIBLING.search(name)
    if not m:
        return False
    pid = int(m.group(1))
    if pid == os.getpid():
        return False
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # alive under another uid


def _dirname_for(partition_col: str, value) -> str:
    # Spark/Hive writes booleans lowercase (pt=true); str(True) is not
    # the on-disk rendition and would silently miss every dir.
    s = "true" if value is True else "false" if value is False else str(value)
    if not _SAFE_PARTITION_VALUE.match(s):
        raise ValueError(
            f"partition value {s!r} needs Hive percent-escaping; "
            "merge_into only handles plain-token partition values"
        )
    return f"{partition_col}={s}"


def _leaf_dirname(pcols: list[str], values) -> str:
    """Relative leaf path for a partition-value tuple:
    ``day=d1`` or ``day=d1/source=a`` (nested hive layout)."""
    return "/".join(_dirname_for(c, v) for c, v in zip(pcols, values))


def _dir_col_names(rel: str) -> list[str]:
    return [seg.split("=", 1)[0] for seg in rel.split("/")]


def _prune_empty_parents(path: str, rels: list[str]) -> None:
    """After a nested leaf is retired, its now-empty ``col=value``
    ancestors must go too — an empty intermediate dir would read as a
    phantom leaf to manifest verification. rmdir only succeeds on
    empty dirs, so this is idempotent and never races a re-populated
    parent."""
    for rel in rels:
        parent = os.path.dirname(rel)
        while parent:
            try:
                os.rmdir(os.path.join(path, parent))
            except OSError:
                break
            parent = os.path.dirname(parent)


def _apply_swaps(path: str, journal: dict, on_step=None) -> None:
    """The roll-forward-idempotent swap loop: every step checks state
    before acting, so re-running after a crash at ANY point completes
    the same commit exactly once. The live dir is only retired while
    its STAGED replacement still exists — once staged has moved in, a
    re-run must leave the committed data alone (a partition that was
    new in this merge has no trash copy to restore it from).
    ``on_step`` is a pre-rename hook (crash-injection tests)."""
    staging, trash = journal["staging"], journal["trash"]
    os.makedirs(path, exist_ok=True)  # table creation commits through here too
    os.makedirs(trash, exist_ok=True)
    step = on_step or (lambda: None)
    for d in journal["swap"]:
        live, staged, kept = os.path.join(path, d), os.path.join(staging, d), os.path.join(trash, d)
        if os.path.isdir(staged):
            if os.path.isdir(live) and not os.path.isdir(kept):
                step()
                os.makedirs(os.path.dirname(kept), exist_ok=True)
                os.rename(live, kept)
            step()
            os.makedirs(os.path.dirname(live), exist_ok=True)
            os.rename(staged, live)
    for d in journal["delete"]:
        live, kept = os.path.join(path, d), os.path.join(trash, d)
        if os.path.isdir(live) and not os.path.isdir(kept):
            step()
            os.makedirs(os.path.dirname(kept), exist_ok=True)
            os.rename(live, kept)
    _prune_empty_parents(path, journal["delete"])


def _publish_from_journal(path: str, journal: dict) -> None:
    """Publish the post-commit manifest recorded in the journal — runs
    after the swap loop on both the happy path and roll-forward
    recovery (idempotent: same version, same content). Journals
    written before manifests existed lack the key and skip."""
    man = journal.get("manifest")
    if man:
        _manifest.publish(path, man["partitions"], man["version"])


def _finish(path: str, journal: dict) -> None:
    # Durability barrier: every rename's dirent change must persist
    # BEFORE the journal unlink does — otherwise a power loss could
    # leave "journal gone, renames not", and the journal-less sweep
    # below would rmtree trash dirs holding the only copy of retired
    # partitions (the round-6 ADVICE data-loss route). Nested layouts
    # rename inside subdirectories, so fsync every dir level that saw
    # a dirent change, not just the three roots.
    changed_dirs = {path, journal["staging"], journal["trash"]}
    for rel in list(journal["swap"]) + list(journal["delete"]):
        sub = os.path.dirname(rel)
        if sub:
            for root in (path, journal["staging"], journal["trash"]):
                changed_dirs.add(os.path.join(root, sub))
    for d in sorted(changed_dirs):
        if os.path.isdir(d):
            _fsync_dir(d)
    os.remove(_journal_path(path))
    parent = os.path.dirname(_journal_path(path)) or "."
    _fsync_dir(parent)
    shutil.rmtree(journal["trash"], ignore_errors=True)
    shutil.rmtree(journal["staging"], ignore_errors=True)


def recover(path: str) -> bool:
    """Complete an interrupted merge (roll forward) and sweep orphan
    staging dirs. Returns True if a journaled commit was completed.
    Called automatically at the top of every merge_into (already under
    the store lock); this standalone entry point takes the same lock,
    so an operator running it cannot sweep the staging dir of a merge
    that is mid-flight in another process."""
    with _store_lock(path):
        return _recover_unlocked(path)


def _recover_unlocked(path: str, keep: frozenset[str] | set[str] = frozenset()) -> bool:
    jp = _journal_path(path)
    finished = False
    if os.path.exists(jp):
        with open(jp) as f:
            journal = json.load(f)
        _apply_swaps(path, journal)
        _publish_from_journal(path, journal)
        _finish(path, journal)
        finished = True
    # staging/trash dirs without a journal: a crash BEFORE commit —
    # the live table was never touched, the leftovers are garbage.
    # Exceptions: (a) dirs named in ``keep`` (an optimistic commit of
    # THIS process about to journal its own staging), (b) pid-owned
    # dirs of a LIVE other process (an optimistic writer mid-staging —
    # its commit is pre-journal by definition, so it is not garbage
    # yet). Torn journal TMP files (the commit point is the atomic
    # rename to the journal name; a tmp is pre-commit by definition)
    # sweep too.
    parent, base = os.path.split(path.rstrip("/"))
    if os.path.isdir(parent or "."):
        for d in os.listdir(parent or "."):
            full = os.path.join(parent, d)
            if d.startswith(base + ".merge-staging-") or d.startswith(base + ".merge-trash-"):
                if full in keep or full in _LIVE_STAGING or _owned_by_live_other(d):
                    continue
                shutil.rmtree(full, ignore_errors=True)
            elif d.startswith(base + ".merge-journal.tmp-"):
                try:
                    os.remove(full)
                except OSError:
                    pass
    return finished


def _cluster_output(df: DataFrame, keys: list[str], pcols: list[str],
                    files_per_partition: int, n_partitions: int,
                    budget: Column | None = None) -> DataFrame:
    """Cluster a write so each output partition lands in AT MOST
    ``files_per_partition`` files. Without this, every touched
    partition fragments into up-to-shuffle-partitions files PER MERGE
    — at a daily merge cadence that is the small-file explosion
    compaction exists to undo. Clustering key = the partition value
    (one task owns whole partitions) plus, when >1 is asked for, a
    deterministic key-hash salt that fans a hot partition across that
    many tasks.

    The salted write goes through ``repartitionById`` over exactly
    ``n_partitions`` (the touched partition count) ×
    ``files_per_partition`` tasks, task id = (partition hash mod
    ``n_partitions``) × ``files_per_partition`` + salt, so every salt
    of one partition has its own task. (A hash repartition of
    (value, salt) into the shuffle width can put two salts in one
    task and write fewer files than asked.) Two partition values may
    share a slot; a task still writes one file per partition it
    holds. ``budget``: optional per-row salt count, at most
    ``files_per_partition``, for partitions allowed fewer files."""
    if files_per_partition <= 1:
        return df.repartition(*[F.col(c) for c in pcols])
    salts = F.lit(files_per_partition) if budget is None else budget
    salt = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), salts)
    slot = F.pmod(F.hash(*[F.col(c) for c in pcols]), F.lit(n_partitions))
    task = (slot * files_per_partition + salt).cast("int")
    return df.repartitionById(n_partitions * files_per_partition, task)


def _partition_filter(pcols: list[str], tuples) -> Column:
    """OR-of-conjunctions predicate selecting exactly the touched
    partition-value tuples — equality literals on partition columns,
    so it reaches the scan as a PartitionFilter (single column folds
    to IN)."""
    if not tuples:
        # update/delete-only merge whose source partitions don't exist
        # on disk: nothing can match (reduce() over [] would throw)
        return F.lit(False)
    if len(pcols) == 1:
        return F.col(pcols[0]).isin([t[0] for t in tuples])
    preds = [
        functools.reduce(operator.and_, [F.col(c) == F.lit(v) for c, v in zip(pcols, t)])
        for t in tuples
    ]
    return functools.reduce(operator.or_, preds)


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    *,
    keys: list[str],
    partition_col: str | None = None,
    partition_cols: list[str] | None = None,
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
    when_matched_condition: str | None = None,
    update_cols: list[str] | None = None,
    prune_with_source_partitions: bool = True,
    files_per_partition: int = 1,
    optimistic: bool = False,
    max_commit_retries: int = 5,
    _crash_after_swaps: int | None = None,
    _test_before_commit=None,
) -> MergeStats:
    """MERGE ``source`` into the parquet table at ``path``.

    * ``when_matched``: "update" (whole-row replace, or
      ``update_cols``-partial SET), "delete", or None (keep target
      row — with insert this is exactly idempotent_append's
      ON CONFLICT DO NOTHING).
    * ``when_not_matched``: "insert" or None.
    * ``when_matched_condition``: SQL predicate over the matched pair
      (target ``t``, source ``s``) gating the matched clause —
      e.g. ``"s.updated_at > t.updated_at"``. Failing pairs keep the
      target row unchanged.
    * ``update_cols``: update only these columns from the source,
      keep the rest of the target row. Keys and partition columns are
      not updatable this way (a partial update cannot move a row).
    * ``partition_col`` / ``partition_cols``: single- or multi-column
      hive partitioning (exactly one of the two).
    * Duplicate keys in ``source`` raise (Delta parity: a multi-match
      merge is ambiguous). Re-running the same merge is idempotent.
    * ``optimistic``: run the read/compose/stage phases WITHOUT the
      store lock and hold it only for the nonce-checked commit tail —
      merges touching disjoint partition sets commit concurrently;
      a conflicting commit makes this one retry from a fresh snapshot
      up to ``max_commit_retries`` times, then raise
      ``ConcurrentWriteConflict`` (table untouched). Requires
      ``prune_with_source_partitions=True`` (moved-key discovery
      reads the whole table, so its conflict set IS the whole table —
      use the default locked mode for that). Writers racing the same
      table must be separate processes.
    * ``_crash_after_swaps``: test hook — abort mid-commit after N
      directory swaps to exercise the journal recovery.
    * ``_test_before_commit``: optimistic-mode test hook, called after
      staging completes and BEFORE the commit lock is taken — the
      window a conflicting writer would race into.
    """
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"when_matched={when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise ValueError(f"when_not_matched={when_not_matched!r}")
    if not keys:
        raise ValueError("keys must be non-empty")
    if (partition_col is None) == (partition_cols is None):
        raise ValueError("pass exactly one of partition_col / partition_cols")
    pcols = list(partition_cols) if partition_cols is not None else [partition_col]
    if not pcols:
        raise ValueError("partition_cols must be non-empty")
    for c in pcols:
        if c not in source.columns:
            raise ValueError(f"source lacks partition column {c!r}")
    if when_matched_condition is not None and when_matched is None:
        raise ValueError("when_matched_condition needs a when_matched clause")
    if update_cols is not None:
        if when_matched != "update":
            raise ValueError("update_cols only applies to when_matched='update'")
        bad = set(update_cols) & (set(keys) | set(pcols))
        if bad:
            raise ValueError(
                f"update_cols may not include keys or partition columns: {sorted(bad)} "
                "(a partial update cannot rekey or move a row — use whole-row "
                "update with prune_with_source_partitions=False to move keys)"
            )
        missing = [c for c in list(keys) + list(update_cols) if c not in source.columns]
        if missing:
            raise ValueError(f"source lacks columns needed for the partial update: {missing}")
    if optimistic and not prune_with_source_partitions:
        raise ValueError(
            "optimistic merge requires prune_with_source_partitions=True: "
            "moved-key discovery scans the whole table, so its conflict set "
            "is every partition — use the locked mode for key-moving merges"
        )

    src = source.persist()
    try:
        n_src = src.count()
        if n_src == 0:
            return MergeStats(0, 0, 0, 0, noop=True)
        dup = src.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
        if dup:
            raise ValueError(f"source has duplicate merge keys, e.g. {dup[0]}")
        null_pred = functools.reduce(
            operator.or_, [F.col(c).isNull() for c in pcols]
        )
        if src.filter(null_pred).limit(1).collect():
            # Refused on EVERY branch (including table creation): Spark
            # writes NULL as __HIVE_DEFAULT_PARTITION__ while
            # isin([None]) matches nothing at merge time — rows landed
            # under a null partition would be unreachable by every
            # later merge, and a replayed create batch would flip from
            # success to error, breaking replay idempotence.
            raise ValueError(
                "NULL partition values are not mergeable; coalesce "
                f"{pcols!r} to explicit sentinels first"
            )
        bsrc = F.broadcast(src) if n_src <= _BROADCAST_ROWS else src
        if optimistic:
            return _merge_optimistic(
                spark, path, src, bsrc, n_src,
                keys=keys, pcols=pcols,
                when_matched=when_matched, when_not_matched=when_not_matched,
                when_matched_condition=when_matched_condition,
                update_cols=update_cols,
                files_per_partition=files_per_partition,
                max_commit_retries=max_commit_retries,
                _test_before_commit=_test_before_commit,
            )
        with _store_lock(path):
            return _merge_locked(
                spark, path, src, bsrc, n_src,
                keys=keys, pcols=pcols,
                when_matched=when_matched, when_not_matched=when_not_matched,
                when_matched_condition=when_matched_condition,
                update_cols=update_cols,
                prune_with_source_partitions=prune_with_source_partitions,
                files_per_partition=files_per_partition,
                _crash_after_swaps=_crash_after_swaps,
            )
    finally:
        src.unpersist()


def _merge_locked(
    spark: SparkSession,
    path: str,
    src: DataFrame,
    bsrc: DataFrame,
    n_src: int,
    *,
    keys: list[str],
    pcols: list[str],
    when_matched: str | None,
    when_not_matched: str | None,
    when_matched_condition: str | None,
    update_cols: list[str] | None,
    prune_with_source_partitions: bool,
    files_per_partition: int,
    _crash_after_swaps: int | None,
) -> MergeStats:
    """The critical section: recovery of any interrupted commit, the
    snapshot reads, the staging write, and the journaled swap all
    happen under ONE hold of the advisory lock — a concurrent writer
    can neither read a half-committed table nor double-apply a
    journal."""
    _recover_unlocked(path)

    existing_leaves = _manifest.leaf_dirs(path) if os.path.isdir(path) else []
    layout_ok = bool(existing_leaves) and all(
        _dir_col_names(d) == pcols for d in existing_leaves
    )
    if not layout_ok:
        foreign = os.path.isdir(path) and (
            bool(existing_leaves)
            or any(n.endswith(".parquet") for n in os.listdir(path))
        )
        if foreign:
            # parquet files (unpartitioned table) or some OTHER col=
            # partition layout: the target is a DIFFERENT table.
            # Falling through to the create branch would silently
            # OVERWRITE it — refuse instead.
            raise ValueError(
                f"{path} holds parquet data not partitioned by "
                f"{pcols!r}; merge_into refuses to overwrite it"
            )
        if when_not_matched != "insert":
            return MergeStats(0, 0, 0, 0, noop=True)
        # Table creation commits through the SAME staging + journal +
        # swap path as updates: a crash mid-write must leave either no
        # table or the whole first batch — never a half-written live
        # table the next merge would treat as fully existing.
        n_parts = src.select(*pcols).distinct().count() if files_per_partition > 1 else 1
        first = _cluster_output(src, keys, pcols, files_per_partition, n_parts)
        staged, _ = _stage_and_commit(
            spark, path, first, pcols,
            touched=set(), existing_dirs=set(),
            _crash_after_swaps=_crash_after_swaps,
        )
        return MergeStats(n_src, 0, 0, staged)

    src_tuples = [tuple(r) for r in src.select(*pcols).distinct().collect()]
    touched = {_leaf_dirname(pcols, t): t for t in src_tuples}
    target_all = spark.read.parquet(path)
    _check_schema(src, target_all, keys, pcols, update_cols, when_not_matched)
    if not prune_with_source_partitions:
        # keys may have moved partitions: also rewrite partitions
        # holding CURRENT matches (key-only scan, broadcast probe).
        moved = (
            target_all.select(*pcols, *keys)
            .join(bsrc.select(*keys), on=keys, how="left_semi")
            .select(*pcols).distinct().collect()
        )
        for r in moved:
            t = tuple(r)
            touched[_leaf_dirname(pcols, t)] = t
    existing_dirs = set(existing_leaves)
    touched = {d: v for d, v in touched.items()
               if d in existing_dirs or when_not_matched == "insert"}

    tgt = target_all.filter(_partition_filter(pcols, list(touched.values())))
    result, n_ins, n_upd, n_del = _compose_and_count(
        tgt, src, bsrc, n_src, keys, when_matched, when_not_matched,
        when_matched_condition, update_cols,
    )
    if n_ins == 0 and n_upd == 0 and n_del == 0:
        return MergeStats(0, 0, 0, 0, noop=True)

    result = _cluster_output(result, keys, pcols, files_per_partition, len(touched))
    staged, deleted = _stage_and_commit(
        spark, path, result, pcols,
        touched=set(touched), existing_dirs=existing_dirs,
        _crash_after_swaps=_crash_after_swaps,
    )
    return MergeStats(n_ins, n_upd, n_del, staged + deleted)


def _touched_conflicts(path: str, touched: set[str], observed: dict[str, str]) -> list[str]:
    """Partitions in ``touched`` whose on-disk state no longer matches
    the snapshot ``observed`` ({existing leaf: content nonce} at
    observe time): existence flipped either way, or the content nonce
    changed — i.e. some other commit touched a partition this merge
    read or intends to write. Empty list == safe to commit."""
    out = []
    for d in sorted(touched):
        abs_ = os.path.join(path, d)
        exists = os.path.isdir(abs_)
        if exists != (d in observed):
            out.append(d)
        elif exists and _manifest.dir_nonce(abs_) != observed[d]:
            out.append(d)
    return out


def _merge_optimistic(
    spark: SparkSession,
    path: str,
    src: DataFrame,
    bsrc: DataFrame,
    n_src: int,
    *,
    keys: list[str],
    pcols: list[str],
    when_matched: str | None,
    when_not_matched: str | None,
    when_matched_condition: str | None,
    update_cols: list[str] | None,
    files_per_partition: int,
    max_commit_retries: int,
    _test_before_commit,
) -> MergeStats:
    """Optimistic-concurrency commit loop (Delta's protocol at
    partition granularity on the shared journal machinery):

    1. OBSERVE under a short lock hold: recover any crashed commit,
       stamp unmarked dirs, snapshot {leaf: nonce} + manifest version.
    2. READ + COMPOSE + STAGE without the lock: the target side is
       read via DIRECT paths to the touched leaf directories (never a
       whole-table listing — a concurrent disjoint commit renaming
       OTHER partitions mid-listing cannot fault this read), the merge
       algebra is the same ``_compose_and_count`` the locked path
       runs, and the result lands in a pid-owned staging sibling.
    3. COMMIT under the lock, metadata-speed only: re-run recovery
       (keeping our own staging), re-check every touched partition's
       nonce against the snapshot, and either journal-swap-publish
       (exactly ``_commit_journal``) or — on conflict — sweep our
       staging and retry from a fresh snapshot.

    A job failure during phase 2 is adjudicated against the conflict
    check: if a touched partition changed underneath the read, the
    failure IS the conflict (files renamed out from under in-flight
    tasks) and the attempt retries; otherwise it is a real error and
    re-raises."""
    last_conflicts: list[str] = []
    for attempt in range(max_commit_retries + 1):
        with _store_lock(path):
            _recover_unlocked(path)
            _version, observed = _current_partition_nonces(path)
        if not observed or not all(_dir_col_names(d) == pcols for d in observed):
            # Empty/absent table (creation) or foreign layout: both are
            # the locked path's business — creation is a one-time event
            # with nothing to overlap, and the foreign-layout refusal
            # should come from the single authoritative check.
            with _store_lock(path):
                return _merge_locked(
                    spark, path, src, bsrc, n_src,
                    keys=keys, pcols=pcols,
                    when_matched=when_matched, when_not_matched=when_not_matched,
                    when_matched_condition=when_matched_condition,
                    update_cols=update_cols,
                    prune_with_source_partitions=True,
                    files_per_partition=files_per_partition,
                    _crash_after_swaps=None,
                )

        src_tuples = [tuple(r) for r in src.select(*pcols).distinct().collect()]
        touched = {_leaf_dirname(pcols, t): t for t in src_tuples}
        touched = {d: v for d, v in touched.items()
                   if d in observed or when_not_matched == "insert"}
        staging = trash = None
        try:
            try:
                tgt_dirs = sorted(d for d in touched if d in observed)
                if tgt_dirs:
                    tgt = (
                        spark.read.option("basePath", path)
                        .parquet(*[os.path.join(path, d) for d in tgt_dirs])
                    )
                else:
                    template = next(iter(sorted(observed)))
                    tgt = (
                        spark.read.option("basePath", path)
                        .parquet(os.path.join(path, template))
                        .limit(0)
                    )
                _check_schema(src, tgt, keys, pcols, update_cols, when_not_matched)
                result, n_ins, n_upd, n_del = _compose_and_count(
                    tgt, src, bsrc, n_src, keys, when_matched, when_not_matched,
                    when_matched_condition, update_cols,
                )
                if n_ins == 0 and n_upd == 0 and n_del == 0:
                    return MergeStats(0, 0, 0, 0, noop=True, commit_retries=attempt)
                result = _cluster_output(result, keys, pcols, files_per_partition,
                                         len(touched))
                staging, trash = _staging_pair(path)
                _LIVE_STAGING.update((staging, trash))
                result.write.mode("overwrite").partitionBy(*pcols).parquet(staging)
            except ValueError:
                raise  # schema/clause violations are never conflicts
            except Exception:
                mid_read = _touched_conflicts(path, set(touched), observed)
                if mid_read:
                    # a concurrent commit moved our touched partitions
                    # out from under the read — the failure IS the
                    # conflict; retry from a fresh snapshot
                    last_conflicts = mid_read
                    if staging:
                        shutil.rmtree(staging, ignore_errors=True)
                    continue
                raise
            staged_dirs = set(_manifest.leaf_dirs(staging))
            staged_nonces = {}
            for d in staged_dirs:
                n = _manifest.new_nonce()
                _manifest.mark_dir(os.path.join(staging, d), n)
                staged_nonces[d] = n
            deletes = sorted(d for d in touched if d in observed and d not in staged_dirs)
            if _test_before_commit is not None:
                _test_before_commit(attempt)
            with _store_lock(path):
                _recover_unlocked(path, keep={staging, trash})
                last_conflicts = _touched_conflicts(path, set(touched), observed)
                if not last_conflicts:
                    _commit_journal(
                        spark, path, staging, trash,
                        staged_nonces=staged_nonces, deletes=deletes,
                        _crash_after_swaps=None,
                    )
                    return MergeStats(
                        n_ins, n_upd, n_del, len(staged_dirs) + len(deletes),
                        commit_retries=attempt,
                    )
            # conflict: our snapshot is stale — sweep and retry fresh
            shutil.rmtree(staging, ignore_errors=True)
        finally:
            if staging:
                _LIVE_STAGING.discard(staging)
                _LIVE_STAGING.discard(trash)
    raise ConcurrentWriteConflict(
        f"optimistic merge into {path} lost the conflict check "
        f"{max_commit_retries + 1} times; last conflicting partitions: "
        f"{last_conflicts}"
    )


def _compose_and_count(
    tgt: DataFrame,
    src: DataFrame,
    bsrc: DataFrame,
    n_src: int,
    keys: list[str],
    when_matched: str | None,
    when_not_matched: str | None,
    when_matched_condition: str | None,
    update_cols: list[str] | None,
) -> tuple[DataFrame, int, int, int]:
    """The merge composition over (touched target, source) — shared
    verbatim by the locked and optimistic paths so both commit modes
    produce identical row algebra. Returns
    (result, n_inserted, n_updated, n_deleted)."""
    matched_src = src.join(tgt.select(*keys), on=keys, how="left_semi")
    n_matched = matched_src.count()
    n_ins = (n_src - n_matched) if when_not_matched == "insert" else 0

    if when_matched is not None and (when_matched_condition or update_cols):
        result, n_upd, n_del = _compose_conditional(
            tgt, src, bsrc, keys, when_matched, when_not_matched,
            when_matched_condition, update_cols,
        )
    else:
        n_upd = n_matched if when_matched == "update" else 0
        n_del = n_matched if when_matched == "delete" else 0
        if when_matched == "update" and when_not_matched == "insert":
            result = tgt.join(bsrc.select(*keys), on=keys, how="left_anti").unionByName(src)
        else:
            keep = (
                tgt.join(bsrc.select(*keys), on=keys, how="left_anti")
                if when_matched in ("update", "delete") else tgt
            )
            parts = [keep]
            if when_matched == "update":
                parts.append(matched_src)
            if when_not_matched == "insert":
                parts.append(src.join(tgt.select(*keys), on=keys, how="left_anti"))
            result = parts[0]
            for p in parts[1:]:
                result = result.unionByName(p)
    return result, n_ins, n_upd, n_del


def _compose_conditional(
    tgt: DataFrame,
    src: DataFrame,
    bsrc: DataFrame,
    keys: list[str],
    when_matched: str,
    when_not_matched: str | None,
    when_matched_condition: str | None,
    update_cols: list[str] | None,
) -> tuple[DataFrame, int, int]:
    """The general matched-clause algebra (predicate-gated and/or
    partial-column): one inner join of the touched target against the
    broadcast source yields the matched pairs; pairs passing the
    condition are updated (column-wise t/s mix) or deleted, pairs
    failing it keep the target row via the anti-join complement.
    Returns (result, n_updated, n_deleted)."""
    pair_cond = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys]
    pairs = tgt.alias("t").join(bsrc.alias("s"), functools.reduce(operator.and_, pair_cond), "inner")
    hit = pairs.filter(F.expr(when_matched_condition)) if when_matched_condition else pairs
    n_hit = hit.count()
    hit_keys = hit.select(*[F.col(f"t.{k}").alias(k) for k in keys])
    kept = tgt.join(hit_keys, on=keys, how="left_anti")
    parts = [kept]
    n_upd = n_del = 0
    if when_matched == "update":
        n_upd = n_hit
        upd_set = set(update_cols) if update_cols is not None else set(src.columns)
        updated = hit.select(*[
            (F.col(f"s.{c}") if c in upd_set else F.col(f"t.{c}")).alias(c)
            for c in tgt.columns
        ])
        parts.append(updated)
    else:  # delete
        n_del = n_hit
    if when_not_matched == "insert":
        parts.append(src.join(tgt.select(*keys), on=keys, how="left_anti"))
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    return result, n_upd, n_del


def _check_schema(
    src: DataFrame,
    target: DataFrame,
    keys: list[str],
    pcols: list[str],
    update_cols: list[str] | None,
    when_not_matched: str | None,
) -> None:
    """Schema gate. Whole-row mode requires name-set equality; partial
    mode (``update_cols``) accepts a narrow changes feed — keys +
    partition cols + updated cols — unless inserts are requested, in
    which case the source must still carry every target column (an
    insert takes the whole source row). Beyond names, TYPES must
    match: a silently mismatched column either fails later inside
    unionByName with an opaque error or union-coerces into a surprise
    type. Partition columns are exempt when EITHER side is string —
    Spark's partition inference reads string-valued dirs back as
    date/int/string depending on content (booleans come back as the
    on-disk strings 'true'/'false'), and the string<->inferred pairs
    coerce consistently with ``_dirname_for``'s rendition; anything
    else (e.g. date vs int) is a real mismatch."""
    src_cols, tgt_cols = set(src.columns), set(target.columns)
    extra = src_cols - tgt_cols
    if extra:
        raise ValueError(
            f"merge source carries columns the target lacks: {sorted(extra)} — "
            "evolve the table first (plans/evolution.py) if the widening is intended"
        )
    if update_cols is None or when_not_matched == "insert":
        missing = tgt_cols - src_cols
        if missing:
            mode = "whole-row update" if update_cols is None else "insert clause"
            raise ValueError(
                f"merge source schema must match target columns ({mode} "
                f"semantics); missing={sorted(missing)}"
            )
    else:
        needed = set(keys) | set(pcols) | set(update_cols)
        missing = needed - src_cols
        if missing:
            raise ValueError(f"partial-update source lacks {sorted(missing)}")
    src_t, tgt_t = dict(src.dtypes), dict(target.dtypes)
    bad = {
        c: (src_t[c], tgt_t[c])
        for c in src_t
        if c not in pcols and c in tgt_t and src_t[c] != tgt_t[c]
    }
    if bad:
        raise ValueError(
            f"merge source column types differ from target: {bad} — "
            "cast the source (or evolve the table, plans/evolution.py) first"
        )
    for c in pcols:
        ps, pt = src_t.get(c), tgt_t.get(c)
        if ps and pt and ps != pt and "string" not in (ps, pt):
            raise ValueError(
                f"partition column {c!r} type mismatch: "
                f"source {ps} vs target {pt} — partition pruning would "
                "compare differently-typed values; cast the source first"
            )


def _current_partition_nonces(path: str) -> tuple[int, dict[str, str]]:
    """(current manifest version, {leaf dir: content nonce}) from
    DISK, stamping any unmarked legacy dir — the before-image the
    post-commit manifest is derived from. Caller holds the lock."""
    cur = _manifest.load_manifest(path)
    version = cur["version"] if cur else 0
    parts: dict[str, str] = {}
    for d in _manifest.leaf_dirs(path):
        abs_ = os.path.join(path, d)
        nonce = _manifest.dir_nonce(abs_)
        if nonce is None:
            nonce = _manifest.new_nonce()
            _manifest.mark_dir(abs_, nonce)
        parts[d] = nonce
    return version, parts


def _stage_and_commit(
    spark: SparkSession,
    path: str,
    result: DataFrame,
    pcols: list[str],
    *,
    touched: set[str],
    existing_dirs: set[str],
    _crash_after_swaps: int | None,
    forbid_deletes: bool = False,
) -> tuple[int, int]:
    """Write ``result`` to a sibling staging dir, stamp content
    nonces, journal the swap + the post-commit manifest, apply the
    swaps, publish the manifest, clean up. Shared by the update path
    and table creation. Returns (partitions swapped, partitions
    deleted). Caller holds the store lock.

    ``forbid_deletes``: callers whose rewrite can never legitimately
    empty a partition (compaction rewrites content 1:1) pass True —
    a touched leaf that fails to reappear in staging then ABORTS the
    commit (live table untouched, staging swept) instead of landing
    on the journal's delete list and silently trashing the partition.
    That is the terminal guard against a partition filter that fails
    to match its own directory value (ADVICE r7: NULL partitions,
    hive-escaped values, cast round-trip drift)."""
    staging, trash = _staging_pair(path)
    result.write.mode("overwrite").partitionBy(*pcols).parquet(staging)
    staged_dirs = set(_manifest.leaf_dirs(staging))
    # a touched partition absent from staging was emptied
    # (delete mode) — its live dir must be retired too.
    deletes = sorted(d for d in touched if d in existing_dirs and d not in staged_dirs)
    if forbid_deletes and deletes:
        # No journal exists yet and the live table is untouched:
        # sweeping the staging dir fully aborts.
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"staging produced no rows for touched partitions {deletes} "
            "but the caller forbids partition retirement — the rewrite's "
            "partition filter did not match the directory value; aborting "
            "without touching the live table"
        )
    staged_nonces = {}
    for d in staged_dirs:
        n = _manifest.new_nonce()
        _manifest.mark_dir(os.path.join(staging, d), n)
        staged_nonces[d] = n
    _commit_journal(
        spark, path, staging, trash,
        staged_nonces=staged_nonces, deletes=deletes,
        _crash_after_swaps=_crash_after_swaps,
    )
    return len(staged_dirs), len(deletes)


def _commit_journal(
    spark: SparkSession,
    path: str,
    staging: str,
    trash: str,
    *,
    staged_nonces: dict[str, str],
    deletes: list[str],
    _crash_after_swaps: int | None,
) -> None:
    """The commit tail every journaled table mutation shares (merge,
    retention's partition drops, GDPR erasure): derive the post-commit
    manifest, write the journal ATOMICALLY (tmp + fsync + rename — a
    crash mid-write leaves only a sweepable tmp, never a torn journal
    that recovery would choke on; the rename is the commit point),
    fsync the journal's dirent before the first rename, apply the
    swaps, publish the manifest, clean up. Caller holds the store
    lock."""
    staged_dirs = set(staged_nonces)
    version, parts = _current_partition_nonces(path)
    post = {
        d: n for d, n in parts.items() if d not in staged_dirs and d not in set(deletes)
    }
    post.update(staged_nonces)
    journal = {
        "staging": staging,
        "trash": trash,
        "swap": sorted(staged_dirs),
        "delete": sorted(deletes),
        "manifest": {"version": version + 1, "partitions": post},
    }
    jp = _journal_path(path)
    tmp = jp + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(journal, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, jp)
    # The journal's dirent must be durable BEFORE the first rename:
    # otherwise a power loss can persist renames while losing the
    # journal, and the journal-less sweep would delete the trash dirs
    # holding the only copy of retired partitions.
    _fsync_dir(os.path.dirname(jp) or ".")
    if _crash_after_swaps is not None:
        _apply_swaps_with_crash(path, journal, _crash_after_swaps)
    _apply_swaps(path, journal)
    _publish_from_journal(path, journal)
    _finish(path, journal)
    # same-session readers may hold cached file listings for the
    # swapped directories; invalidate so their next plan re-lists.
    spark.catalog.refreshByPath(path)


class _InjectedCrash(RuntimeError):
    pass


def _apply_swaps_with_crash(path: str, journal: dict, after: int) -> None:
    """Test hook: run the REAL swap loop, dying before the (after+1)-th
    rename — the journal stays on disk for recover(). Shares
    _apply_swaps so the crash tests always exercise the production
    rename sequence."""
    done = 0

    def step():
        nonlocal done
        done += 1
        if done > after:
            raise _InjectedCrash(f"injected crash after {after} renames")

    _apply_swaps(path, journal, on_step=step)
    raise _InjectedCrash("injected crash after all renames, before finish")
