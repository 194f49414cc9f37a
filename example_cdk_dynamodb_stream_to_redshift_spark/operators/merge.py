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
- The merge is a PURE function target×extract -> new target; storage commit
  is the caller's concern (storage.ParquetTable does atomic swap; a Delta
  backend would use MERGE INTO inside foreachBatch).
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
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Window
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


def staged_prefilter(
    extract: DataFrame, spec: MergeSpec, watermark: dt.datetime
) -> DataFrame:
    """Step 3 alone: this entity's new changes, BEFORE latest-per-key dedup.

    Split out (r14) because properties that are invariant under the dedup —
    the set of touched key buckets, whether any merge key is NULL, emptiness
    — can be derived from this frame with a cheap scan+aggregate job, no
    window shuffle: the dedup keeps at least one row per key, so key-level
    sets are identical before and after it."""
    routed = extract.filter(
        F.col("pk").startswith(spec.pk_prefix)  # pk LIKE '<prefix>%' ESCAPE
    )
    return spec.project(routed).filter(
        F.col("approximateUpdateTimestamp") > F.lit(watermark)
    )


def stage_changes(
    extract: DataFrame, spec: MergeSpec, watermark: dt.datetime
) -> DataFrame:
    """Steps 3+4: filter to this entity's new changes, keep latest per key.

    Ties on event time (second precision!) are broken by Kinesis sequence
    number — the reference's NOT-IN form would keep BOTH rows of a tie
    (sql/incremental_sync_members.sql:38-40); we keep exactly one,
    deterministically.
    """
    staged = staged_prefilter(extract, spec, watermark)
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

    ``watermark`` overrides the MAX(ts) read — used by the partition-scoped
    path, where ``target`` is a pruned slice but the watermark must stay the
    GLOBAL table maximum.

    ``stats``, when a dict is passed, is filled with the per-statement
    diagnostics the reference's procedures RAISE INFO and surface via
    SVL_STORED_PROC_MESSAGES (sql/incremental_sync_members.sql:33,61-66):
    ``watermark``, ``staged_count`` (A2), ``deleted_count`` (rows of the
    target slice whose key is staged — the DELETE..USING row count), and
    ``inserted_count``. Cost model mirrors Redshift, where these counts are
    free statement side effects: staged/inserted come from ONE small agg
    job over the micro-batch-sized staged set, and deleted_count rides the
    merge's own write action via ``df.observe`` (target-scan count minus
    survivor count, collected by Spark's Observation listener during the
    action — zero extra jobs, zero extra target scans). Because the
    observed metrics only exist after the caller executes an action on the
    returned DataFrame, ``deleted_count`` is materialized by calling
    ``finalize_merge_stats(stats)`` AFTER that action; until then the dict
    holds the pending observations.
    """
    if watermark is None:
        watermark = read_watermark(target)
    if watermark is None or watermark == _EPOCH:
        if initial_load_guard:
            # RAISE EXCEPTION 'Initial load has not been performed'
            # (sql/incremental_sync_members.sql:13-15)
            raise ValueError(
                f"initial load has not been performed for {spec.name}: "
                "watermark is NULL/epoch"
            )
        watermark = _EPOCH

    staged = stage_changes(extract, spec, watermark)

    if stats is not None:
        from pyspark.sql import Observation

        # one combined agg job over the micro-batch-sized staged set (on
        # the partitioned backend it reads the plan merge() persisted)
        counts = staged.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("eventName") == "REMOVE", 1)).alias("r"),
            # post-merge in-table watermark (MAX ts of inserted rows)
            # as a rider column — lets a long-lived caller carry the
            # watermark forward and skip the next refresh's MAX(ts)
            # table scan (see PartitionedParquetTable.merge)
            F.max(
                F.when(
                    F.col("eventName") != "REMOVE",
                    F.col("approximateUpdateTimestamp"),
                )
            ).alias("mx"),
        ).first()
        stats.update(
            staged_count=counts["n"],
            inserted_count=counts["n"] - counts["r"],
            next_watermark=(
                max(watermark, counts["mx"]) if counts["mx"] else watermark
            ),
        )
        # deleted = |target slice| - |survivors|, both observed for free
        # during the caller's write action (neither node is in the
        # broadcast-keys branch, so each executes exactly once per action)
        obs_target, obs_survivors = Observation(), Observation()
        target = target.observe(obs_target, F.count(F.lit(1)).alias("n"))
        stats.update(
            watermark=watermark,
            _obs_target=obs_target,
            _obs_survivors=obs_survivors,
        )

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


def finalize_merge_stats(stats: dict, timeout_s: float = 60.0) -> dict:
    """Resolve the pending write-action observations left in ``stats`` by
    ``incremental_merge`` into ``deleted_count``. Call AFTER executing an
    action on the merged DataFrame (the observation listener fires with
    that action).

    The wait is BOUNDED: ``Observation.get`` blocks forever if the action
    never ran (write failed/skipped, or a refactor dropped it), which would
    hang the foreachBatch merge thread. We poll the JVM-side
    ``getRowOrEmpty`` (itself a ~100 ms bounded wait) up to ``timeout_s``;
    on timeout the ``_obs_*`` handles are dropped (they hold unpicklable
    JVM refs) and ``deleted_count`` is set to None so callers log a gap
    instead of deadlocking."""
    import time

    obs_target = stats.pop("_obs_target", None)
    obs_survivors = stats.pop("_obs_survivors", None)
    if obs_target is None or obs_survivors is None:
        return stats

    deadline = time.monotonic() + timeout_s

    def _metric_n(obs) -> int | None:
        jo = getattr(obs, "_jo", None)
        if jo is None:  # never attached via .observe — no action can fire it
            return None
        while True:
            if jo.getRowOrEmpty().isDefined():
                return obs.get["n"]  # metrics present: this cannot block
            if time.monotonic() >= deadline:
                return None

    n_target = _metric_n(obs_target)
    n_survivors = _metric_n(obs_survivors)
    stats["deleted_count"] = (
        n_target - n_survivors
        if n_target is not None and n_survivors is not None
        else None
    )
    return stats
