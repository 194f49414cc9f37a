"""Incremental CDC merge — the engine's core operator (ST2–ST8).

Reference parity: the three plpgsql stored procedures
sql/incremental_sync_members.sql / _quests.sql / _member_quests.sql:

1. watermark = MAX(target.approximateUpdateTimestamp)            (A1, ST2)
2. guard: NULL or 1970-01-01 watermark -> raise                  (ST8)
3. stage rows from the extract with pk LIKE '<prefix>%' AND
   event-time > watermark                                        (P2, P5)
4. collapse to latest change per key                             (J4/A5, ST3)
5. delete target rows whose key is staged                        (J3)
6. insert staged rows except REMOVEs, stamped with syncTimestamp (ST4, ST5, S5)

Late/duplicate events (ts <= watermark) are silently dropped (ST6), making
replays idempotent: the watermark lives in the target table itself, so a
crashed-and-retried batch re-derives the same staging set.

Spark-first design notes (100 TB posture):
- The merge is a PURE function target×extract -> new target
  (``incremental_merge``). ``merge_into`` is the one orchestration both
  storage backends run it through: stage once, one stats aggregate, one
  write (storage.ParquetTable does an atomic swap, the bucketed store a
  partition-scoped rewrite; a Delta backend would use MERGE INTO inside
  foreachBatch).
- The staged micro-batch is small; its key set is BROADCAST to the anti-join
  so the (huge) target is never shuffled — the delete+insert rewrite touches
  each target partition exactly once, map-side.
- Latest-per-key dedup is a window over the staged batch only (never over
  the target), partitioned by key — skew-free for uuid keys.
- Divergence from the reference, on purpose: the reference's member_quest
  delete joins on questId (sql/incremental_sync_member_quests.sql:47) — a
  bug that deletes every member_quest sharing a quest with a staged row. We
  merge on the row identity memberQuestId and document the divergence
  (SURVEY.md §7 hard-part 6).
"""

from __future__ import annotations

import datetime as dt
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.dynamo import av_number, av_string, epoch_ms_to_timestamp, strip_prefix

_EPOCH = dt.datetime(1970, 1, 1)


@dataclass(frozen=True)
class MergeSpec:
    """Recipe turning extract rows of one entity into staged target rows."""

    name: str
    key_col: str
    pk_prefix: str
    project: Callable[[DataFrame], DataFrame]  # adds entity columns from extract


def _event_time() -> F.Column:
    # TIMESTAMP 'epoch' + (ms/1000) * INTERVAL '1 second'
    # (sql/incremental_sync_members.sql:28) — second precision, preserved.
    return epoch_ms_to_timestamp(F.col("eventData.ApproximateCreationDateTime"))


def _project_member(df: DataFrame) -> DataFrame:
    return df.select(
        strip_prefix(F.col("pk"), "M_").alias("memberId"),
        F.col("sk").alias("memberName"),
        _event_time().alias("approximateUpdateTimestamp"),
        F.col("eventName"),
        F.col("sequencenumber"),
    )


def _project_quest(df: DataFrame) -> DataFrame:
    return df.select(
        strip_prefix(F.col("pk"), "Q_").alias("questId"),
        F.col("sk").alias("questName"),
        _event_time().alias("approximateUpdateTimestamp"),
        F.col("eventName"),
        F.col("sequencenumber"),
    )


def _project_member_quest(df: DataFrame) -> DataFrame:
    # Keys: pk='MQ#M_<memberId>', sk='MQ_<uuid>'; questId/dollarsEarned come
    # from NewImage (sql/incremental_sync_member_quests.sql:26-31). NewImage
    # is absent for REMOVE -> nulls, which never get inserted.
    return df.select(
        strip_prefix(F.col("sk"), "MQ_").alias("memberQuestId"),
        strip_prefix(F.col("pk"), "MQ#M_").alias("memberId"),
        av_string("eventData.NewImage.questId").alias("questId"),
        av_number("eventData.NewImage.dollarsEarned").alias("dollarsEarned"),
        _event_time().alias("approximateUpdateTimestamp"),
        F.col("eventName"),
        F.col("sequencenumber"),
    )


MEMBER_SPEC = MergeSpec("member", "memberId", "M_", _project_member)
QUEST_SPEC = MergeSpec("quest", "questId", "Q_", _project_quest)
MEMBER_QUEST_SPEC = MergeSpec("member_quest", "memberQuestId", "MQ#", _project_member_quest)

ALL_SPECS = (MEMBER_SPEC, QUEST_SPEC, MEMBER_QUEST_SPEC)


def read_watermark(target: DataFrame) -> dt.datetime | None:
    """SELECT MAX(approximateUpdateTimestamp) FROM target (A1)."""
    return target.agg(F.max("approximateUpdateTimestamp")).first()[0]


def _checked_watermark(
    watermark: dt.datetime | None, spec: MergeSpec, initial_load_guard: bool = True
) -> dt.datetime:
    if watermark is None or watermark == _EPOCH:
        if initial_load_guard:
            # RAISE EXCEPTION 'Initial load has not been performed'
            # (sql/incremental_sync_members.sql:13-15)
            raise ValueError(
                f"initial load has not been performed for {spec.name}: "
                "watermark is NULL/epoch"
            )
        return _EPOCH
    return watermark


def stage_changes(
    extract: DataFrame, spec: MergeSpec, watermark: dt.datetime
) -> DataFrame:
    """Steps 3+4: filter to this entity's new changes, keep latest per key.

    Ties on event time (second precision!) are broken by Kinesis sequence
    number — the reference's NOT-IN form would keep BOTH rows of a tie
    (sql/incremental_sync_members.sql:38-40); we keep exactly one,
    deterministically.
    """
    routed = extract.filter(
        F.col("pk").startswith(spec.pk_prefix)  # pk LIKE '<prefix>%' ESCAPE
    )
    staged = spec.project(routed).filter(
        F.col("approximateUpdateTimestamp") > F.lit(watermark)
    )
    # sequencenumber is a Kinesis decimal STRING — up to ~56 digits, which
    # overflows every Spark numeric type (decimal maxes at 38 digits: the
    # cast would NULL out / throw under ANSI). Numeric order without ANY
    # width assumption: strip leading zeros, then order by (length, value)
    # — for non-negative integers a longer digit string is always the
    # larger number, and equal lengths compare lexicographically. A fixed
    # lpad width would silently truncate (and so invert) anything longer.
    seq_stripped = F.regexp_replace(F.col("sequencenumber"), "^0+", "")
    w = Window.partitionBy(spec.key_col).orderBy(
        F.desc("approximateUpdateTimestamp"),
        F.desc(F.length(seq_stripped)),
        F.desc(seq_stripped),
    )
    return (
        staged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "sequencenumber")
    )


def _staged_count_cols() -> list[Column]:
    """staged / REMOVE counts and the post-merge in-table watermark (MAX ts
    of the inserted rows), as one aggregate's columns."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("eventName") == "REMOVE", 1)).alias("r"),
        F.max(
            F.when(
                F.col("eventName") != "REMOVE",
                F.col("approximateUpdateTimestamp"),
            )
        ).alias("mx"),
    ]


def _record_counts(stats: dict, watermark: dt.datetime, row) -> None:
    stats.update(
        watermark=watermark,
        staged_count=row["n"],
        inserted_count=row["n"] - row["r"],
        # lets a long-lived caller carry the watermark forward and skip
        # the next refresh's MAX(ts) table scan (see CdcPipeline)
        next_watermark=max(watermark, row["mx"]) if row["mx"] else watermark,
    )


def _merged(
    target: DataFrame,
    staged: DataFrame,
    spec: MergeSpec,
    sync_ts: dt.datetime | None,
    stats: dict | None,
) -> DataFrame:
    """Steps 5+6 as a plan: target rows whose key is not staged, plus the
    staged non-REMOVE rows stamped with syncTimestamp. With ``stats``, the
    target and survivor row counts are observed during the caller's write
    (``finalize_merge_stats`` turns them into ``deleted_count``)."""
    if stats is not None:
        # deleted = |target slice| - |survivors|, both observed for free
        # during the caller's write action (neither node is in the
        # broadcast-keys branch, so each executes exactly once per action)
        obs_target, obs_survivors = Observation(), Observation()
        target = target.observe(obs_target, F.count(F.lit(1)).alias("n"))
        stats.update(_obs_target=obs_target, _obs_survivors=obs_survivors)
    # Micro-batches are small: broadcast the staged keys so the big target is
    # anti-joined map-side, no target shuffle.
    staged_keys = F.broadcast(staged.select(spec.key_col))
    survivors = target.join(staged_keys, spec.key_col, "left_anti")
    if stats is not None:
        survivors = survivors.observe(
            stats["_obs_survivors"], F.count(F.lit(1)).alias("n")
        )
    inserts = (
        staged.filter(F.col("eventName") != F.lit("REMOVE"))
        .withColumn(
            "syncTimestamp",
            F.lit(sync_ts).cast("timestamp") if sync_ts else F.current_timestamp(),
        )
        .select(*[f.name for f in target.schema.fields])
    )
    return survivors.unionByName(inserts)


def incremental_merge(
    target: DataFrame,
    extract: DataFrame,
    spec: MergeSpec,
    sync_ts: dt.datetime | None = None,
    initial_load_guard: bool = True,
    watermark: dt.datetime | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Pure merge: returns the new target contents (delete+insert semantics).

    update = delete + insert (ST4); REMOVE rows delete and are not
    re-inserted (ST5); syncTimestamp is stamped once per batch (F7).

    ``watermark`` overrides the MAX(ts) read — used when ``target`` is a
    pruned slice but the watermark must stay the GLOBAL table maximum.

    ``stats``, when a dict is passed, is filled with the per-statement
    diagnostics the reference's procedures RAISE INFO and surface via
    SVL_STORED_PROC_MESSAGES (sql/incremental_sync_members.sql:33,61-66):
    ``watermark``, ``staged_count`` (A2), ``deleted_count`` (rows of the
    target slice whose key is staged — the DELETE..USING row count), and
    ``inserted_count``. Cost model mirrors Redshift, where these counts are
    free statement side effects: staged/inserted come from ONE small agg
    job over the micro-batch-sized staged set, and deleted_count rides the
    caller's write action via ``df.observe`` (target-scan count minus
    survivor count — zero extra jobs, zero extra target scans), resolved by
    ``finalize_merge_stats(stats)`` AFTER that action.

    Nothing here is cached, so the agg job and the write each run the
    latest-per-key window, and the write runs it twice more (broadcast
    keys, inserts). This is the equivalence reference; the storage
    backends merge through ``merge_into``, which stages once.
    """
    if watermark is None:
        watermark = read_watermark(target)
    watermark = _checked_watermark(watermark, spec, initial_load_guard)
    staged = stage_changes(extract, spec, watermark)
    if stats is not None:
        _record_counts(stats, watermark, staged.agg(*_staged_count_cols()).first())
    return _merged(target, staged, spec, sync_ts, stats)


def merge_into(
    table,
    extract: DataFrame,
    spec: MergeSpec,
    sync_ts: dt.datetime | None = None,
    stats: dict | None = None,
    watermark: dt.datetime | None = None,
    bucket: Column | None = None,
) -> list[int] | None:
    """The CDC merge of one entity into a storage backend, with the same
    semantics as ``incremental_merge`` over the whole table:

    1. stage the batch (``stage_changes``) and persist it, so the
       latest-per-key window runs once;
    2. ONE aggregate over it gives the staged/inserted counts and the
       carried watermark and, for a bucketed table (``bucket`` is its
       bucket expression over the key), the touched buckets and the
       NULL-key guard — both invariant under the dedup, which keeps at
       least one row per key;
    3. build the merged plan against ``table.merge_slice(buckets)``;
    4. ``table.commit_merge(merged, buckets)`` writes it — the one write.

    ``table.merge_slice(None)`` must return the whole target (the
    watermark read when ``watermark`` is not carried in). Returns the
    sorted touched bucket ids (``[]`` when nothing is staged), or None for
    an unbucketed table. When nothing is staged, nothing is written.
    ``stats`` as in ``incremental_merge``, exact after return, plus the
    per-phase wall clock under ``merge_phase_sec``.
    """
    phase: dict[str, float] = {}
    t = time.perf_counter()
    if watermark is None:
        watermark = read_watermark(table.merge_slice(None))
    phase["watermark_read"] = round(time.perf_counter() - t, 4)
    watermark = _checked_watermark(watermark, spec)
    if stats is not None:
        stats["merge_phase_sec"] = phase

    staged = stage_changes(extract, spec, watermark).persist()
    try:
        t = time.perf_counter()
        cols = _staged_count_cols()
        if bucket is not None:
            cols += [
                F.collect_set(bucket).alias("bk"),
                # NULL merge keys hash to the seed bucket and would
                # silently collapse under one phantom key — fail instead,
                # strictly before anything is written
                F.count(F.when(F.col(spec.key_col).isNull(), 1)).alias("nullk"),
            ]
        row = staged.agg(*cols).first()
        phase["staged_agg"] = round(time.perf_counter() - t, 4)
        if bucket is not None and row["nullk"]:
            raise ValueError(
                f"{row['nullk']} staged row(s) have NULL merge key "
                f"{spec.key_col!r}: merge keys must be non-null"
            )
        if stats is not None:
            _record_counts(stats, watermark, row)
        buckets = sorted(int(b) for b in row["bk"]) if bucket is not None else None
        if not row["n"]:
            if stats is not None:
                stats["deleted_count"] = 0
            return buckets
        merged = _merged(table.merge_slice(buckets), staged, spec, sync_ts, stats)
        t = time.perf_counter()
        table.commit_merge(merged, buckets)
        phase["write"] = round(time.perf_counter() - t, 4)
        if stats is not None:
            finalize_merge_stats(stats)  # counts observed by the write
        return buckets
    finally:
        staged.unpersist()


def await_observation(obs, deadline: float) -> dict | None:
    """The metrics of ``obs`` once the action it is attached to has run,
    or None if they are not there by ``deadline`` (a ``time.monotonic``
    value) or ``obs`` was never attached via ``.observe``.

    ``Observation.get`` blocks forever if that action never runs (a failed
    or skipped write), which would hang the foreachBatch thread. So this
    probes the JVM-side ``getRowOrEmpty``, which returns at once, every
    20 ms up to the deadline."""
    jo = getattr(obs, "_jo", None)
    if jo is None:
        return None
    while True:
        if jo.getRowOrEmpty().isDefined():
            return obs.get  # metrics present: this cannot block
        if time.monotonic() >= deadline:
            return None
        time.sleep(0.02)


def finalize_merge_stats(stats: dict, timeout_s: float = 60.0) -> dict:
    """Resolve the pending write-action observations left in ``stats`` by
    ``incremental_merge`` into ``deleted_count``. Call AFTER executing an
    action on the merged DataFrame (the observation listener fires with
    that action).

    The wait is bounded by ``timeout_s`` (``await_observation``); on
    timeout the ``_obs_*`` handles are dropped (they hold unpicklable JVM
    refs) and ``deleted_count`` is set to None so callers log a gap
    instead of deadlocking."""
    obs_target = stats.pop("_obs_target", None)
    obs_survivors = stats.pop("_obs_survivors", None)
    if obs_target is None or obs_survivors is None:
        return stats

    deadline = time.monotonic() + timeout_s
    m_target = await_observation(obs_target, deadline)
    m_survivors = await_observation(obs_survivors, deadline)
    stats["deleted_count"] = (
        m_target["n"] - m_survivors["n"]
        if m_target is not None and m_survivors is not None
        else None
    )
    return stats
