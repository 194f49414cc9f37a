"""Structured Streaming CDC pipeline.

Reference parity: the operational loop of the reference is
  REFRESH MATERIALIZED VIEW member_quest_data_extract;   -- pull new records
  CALL incremental_sync_members|quests|member_quests();  -- merge into targets
(scripts/setup_redshift.sh:123-131, scripts/test_sync_time.sh:69-106).

Spark mapping (SURVEY.md §2.8):
- the manual REFRESH        -> one Trigger.AvailableNow micro-batch (ST1)
- the stored-proc merge     -> foreachBatch(batch -> extract -> merge) (ST2-ST8)
- stream->extract projection is plans.extract.build_extract, shared verbatim
  with the batch path.

Each micro-batch: persist the batch's extract (the MV's materialized rows),
then run the three entity merges against the Parquet-backed targets. The
watermark lives in the targets themselves, so a replayed batch is idempotent
(ST6) — exactly-once effect on at-least-once delivery.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.merge import _EPOCH as _MERGE_EPOCH
from ..operators.merge import ALL_SPECS, await_observation
from ..operators.storage import ParquetTable
from ..plans.extract import build_extract
from ..schemas import KINESIS_RECORD_SCHEMA, TARGET_SCHEMAS
from ..sources.cdc_envelope import read_cdc_record_stream


class CdcPipeline:
    """File-source Structured Streaming pipeline: envelope JSON -> targets.

    On a real deployment the source swaps to format("kinesis")/format("kafka")
    with identical downstream columns (sources/cdc_envelope.py).
    """

    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        warehouse: str,
        partitioned: bool = False,
        n_buckets: int = 16,
        extract_checks: list | None = None,
        contract_mode: str = "quarantine",
        extract_profile_specs: list | None = None,
    ):
        """``partitioned=True`` switches targets to the key-bucketed store
        (operators/partitioned_store.py): merges rewrite only the hash
        buckets containing staged keys — the 100 TB backend. Semantics are
        identical (tests/test_partitioned_merge.py).

        ``extract_checks``: optional expectation suite
        (operators/expectations.py Check list) enforced on the parsed
        extract of every micro-batch via streaming/quality_monitor
        (QualityGate). The dead-letter quarantine catches payloads that
        are not change events AT ALL; this catches rows that parse fine
        but violate the table contract (unknown eventName, malformed pk,
        missing sequence number …): violating rows are diverted to the
        contract quarantine with their failed-check names — they never
        reach the extract table, the maintained views, or the merges —
        and every batch appends its per-check violation counts to the
        contract report. ``contract_mode='abort'`` instead stops the
        stream on the first violating batch after recording it (ST8
        posture). Default None: zero cost, path unchanged.

        ``extract_profile_specs``: optional drift-profile specs
        (operators/drift.py ProfileSpec list) — each micro-batch's
        CONTRACT-CLEAN extract rows are histogram-profiled into the
        per-batch profile store (streaming/drift_maintenance
        ProfileMonitor), the ``gate.wrap(monitor.wrap(sink))``
        composition as a first-class pipeline option: contracts gate,
        then distributions are watched, then the extract publishes.
        Read back via ``drift_profiles()`` / ``drift_trend(baseline)``.
        Default None: zero cost."""
        self.spark = spark
        self.input_path = input_path
        self.warehouse = warehouse
        # per-stage wall clock of the most recent micro-batch (see
        # _merge_batch); empty until a refresh has processed a batch
        self.last_batch_stages: dict[str, float] = {}
        # entity name -> [(view name, IncrementalAggTable, delta cols)]
        self.maintained_views: dict[str, list] = {}
        # entity name -> merge stats dict of the most recent micro-batch
        # (counts, watermark, per-phase wall clock)
        self.last_merge_stats: dict[str, dict] = {}
        # entity name -> watermark carried forward from the last merge
        # (stats["next_watermark"]): skips the per-refresh MAX(ts) scan
        # of the whole target. Driver state only — a restart (or
        # re-bootstrap) falls back to the in-table watermark read (ST2).
        # The carried watermark is intentionally MONOTONIC: if a batch
        # REMOVEs the row holding the global max event time, the in-table
        # MAX drops below the carried value, so a restart can admit late
        # events (ts in that gap) that the live path skips. Monotonic is
        # the conservative side of that divergence — the live path never
        # re-admits data older than anything it has already applied, and
        # the restart path only re-applies idempotent upserts.
        self._watermarks: dict[str, dt.datetime] = {}
        self.checkpoint = os.path.join(warehouse, "_checkpoint")
        self.extract_path = os.path.join(warehouse, "member_quest_data_extract")
        self.quarantine_path = os.path.join(warehouse, "_quarantine")
        self.sync_log_path = os.path.join(warehouse, "sync_log")
        self._contract_gate = None
        if extract_checks:
            from .quality_monitor import QualityGate

            self._contract_gate = QualityGate(
                spark,
                extract_checks,
                os.path.join(warehouse, "_contract"),
                mode=contract_mode,
            )
        self._profile_monitor = None
        if extract_profile_specs:
            from .drift_maintenance import ProfileMonitor

            self._profile_monitor = ProfileMonitor(
                spark, extract_profile_specs, warehouse
            )
        if partitioned:
            from ..operators.partitioned_store import PartitionedParquetTable

            key_by_name = {spec.name: spec.key_col for spec in ALL_SPECS}
            self.targets = {
                name: PartitionedParquetTable(
                    spark,
                    os.path.join(warehouse, name),
                    schema,
                    key_by_name[name],
                    n_buckets,
                )
                for name, schema in TARGET_SCHEMAS.items()
            }
        else:
            self.targets = {
                name: ParquetTable(spark, os.path.join(warehouse, name), schema)
                for name, schema in TARGET_SCHEMAS.items()
            }

    def attach_maintained_view(
        self, name: str, entity: str, view, delta_cols: list[str]
    ) -> None:
        """Register an IncrementalAggTable (retractable, see
        streaming/agg_maintenance.py) to be maintained from ``entity``'s
        CDC deltas: every micro-batch, the merge's before/after images
        (old target rows of staged keys at -1, new non-REMOVE images at
        +1) are applied to the view BEFORE the target commit — so a
        crash between the two replays idempotently on both sides (the
        view's batch ledger skips the replay, the watermark-guarded
        merge re-runs as written). This is the reference's report family
        (sql/queries.sql:22-45) maintained instead of recomputed: the
        per-batch cost is the micro-batch plus one broadcast probe of
        the target, never the history. ``delta_cols`` are the columns
        the view's keys/aggregates read (must exist in both the target
        schema and the staged projection)."""
        self.maintained_views.setdefault(entity, []).append(
            (name, view, list(delta_cols))
        )

    def _apply_maintained_views(
        self, table, spec, extract: DataFrame, batch_id: int,
        watermark: dt.datetime | None = None,
    ) -> list[tuple[str, dict]]:
        """Compute this entity's CDC delta once per view and apply it;
        returns sync-log rows stamping each view's freshness (the
        watermark its delta was staged against + applied batch id) so
        the reference's lag monitors (sql/queries.sql:1-19) cover the
        maintained reports too. Delta row counts ride the view's own
        state-write action via ``observe`` — zero extra jobs.
        ``watermark``: carried-forward value from the last merge (same
        contract as PartitionedParquetTable.merge) — skips this path's
        own MAX(ts) scan of the target when present."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ..operators.merge import _EPOCH, read_watermark, stage_changes
        from .agg_maintenance import cdc_delta

        views = self.maintained_views.get(spec.name, ())
        if not views:
            return []
        target_df = table.read()
        if watermark is None:
            watermark = read_watermark(target_df)
        if watermark is None or watermark == _EPOCH:
            raise ValueError(
                f"initial load has not been performed for {spec.name}: "
                "cannot maintain views over an unbootstrapped target"
            )
        staged = stage_changes(extract, spec, watermark)
        out = []
        for name, view, cols in views:
            obs = Observation()
            delta = cdc_delta(target_df, staged, spec.key_col, cols).observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("_weight") < 0, 1)).alias("neg"),
            )
            applied = view.apply_delta(delta, batch_id)
            if applied:
                m = obs.get  # state write already ran: metrics are present
                n, neg = int(m["n"]), int(m["neg"])
            else:  # at-least-once replay: ledger no-op, nothing observed
                n = neg = 0
            out.append(
                (
                    f"mv:{name}",
                    {
                        "watermark": watermark,
                        "staged_count": n,
                        "deleted_count": neg,
                        "inserted_count": n - neg,
                        "_message": (
                            f"Maintained view {name} applied batch {batch_id}: "
                            f"{n - neg} upserts, {neg} retractions"
                            if applied
                            else f"Maintained view {name} replay no-op for "
                            f"batch {batch_id} (last applied "
                            f"{view.last_applied()})"
                        ),
                    },
                )
            )
        return out

    # -- batch bootstrap (initial load) -----------------------------------
    def initial_load(
        self,
        export_path: str,
        sync_ts: dt.datetime | None = None,
        accept_inv_chars: str | None = " ",
        trim_blanks: bool = True,
    ) -> None:
        """Bootstrap the targets from a DynamoDB export. Defaults mirror the
        reference's COPY options ``ACCEPTINVCHARS ' ' TRUNCATECOLUMNS
        TRIMBLANKS`` (scripts/initial_load_from_export.sh:168): invalid
        UTF-8 bytes become spaces with the row kept, trailing blanks are
        stripped from string attributes. Pass ``accept_inv_chars=None`` /
        ``trim_blanks=False`` for raw PERMISSIVE reading."""
        from ..plans.initial_load import initial_load_all
        from ..sources.export_json import read_dynamodb_export

        dump = read_dynamodb_export(
            self.spark,
            export_path,
            trim_blanks=trim_blanks,
            accept_inv_chars=accept_inv_chars,
        )
        dump.persist()
        try:
            for name, df in initial_load_all(dump, sync_ts).items():
                self.targets[name].append(df)
        finally:
            dump.unpersist()
        # a re-bootstrap rewrites the targets: any carried watermark is
        # stale — next refresh re-reads it from the table
        self._watermarks.clear()

    # -- streaming refresh ------------------------------------------------
    def _merge_batch(self, records: DataFrame, batch_id: int) -> None:
        import time as _time

        from pyspark.sql import functions as F

        # Each entity merge persists its staged batch (merge_into). With
        # the default `false`, a cached plan keeps the shuffle width it was
        # planned with, so AQE cannot coalesce the dedup window's exchange
        # and every later write of the cache opens that many files. The
        # micro-batch runs on the stream's own session, where `staged` is
        # planned and persisted: the caller's session is untouched.
        records.sparkSession.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        # Per-stage wall clock for the LAST processed batch, so a drift in
        # the refresh heartbeat decomposes instead of being one opaque
        # number (bench reports these as cdc_refresh_stages). Dict
        # assignment overhead is nil next to any Spark job.
        stages: dict[str, float] = {}
        self.last_batch_stages = stages
        _t0 = _time.perf_counter()

        # Dead-letter split (the engine's ACCEPTINVCHARS-grade tolerance,
        # made observable): a payload that does not parse to an envelope
        # bearing an eventID is not a DynamoDB change event. The reference's
        # SQL would surface NULLs into the MV and silently drop the row at
        # the pk-prefix filter; we keep the same target semantics but land
        # the RAW payload in a batch-scoped quarantine so bad producers are
        # debuggable instead of invisible. The batch is parsed ONCE: each
        # row's payload goes through one from_json (build_extract keeps
        # Catalyst from splitting it per field), the tagged extract (valid
        # + invalid rows, plus the decoded payload) is cached, and the
        # quarantine decision, the extract write and the 3 merges all read
        # that cache — no second parse.
        #
        # r14: the invalid-row COUNT rides the batch's first full-scan
        # action as an observation below the validity filter (the gate's
        # report aggregate, the extract write, or a merge's staged scan —
        # all full scans; no consumer of `extract` takes a LIMIT-style
        # action, which would under-count). The old LIMIT-1 isEmpty probe
        # was an extra serialized job on every refresh; now the parse cost
        # lands inside an already-needed action (the gate's aggregate or
        # the extract write), and the (rare) quarantine write runs after
        # the merge pool — replay-safe either
        # way: a replayed batch re-derives the same bad set and overwrites
        # its own batch_id subdirectory.
        from pyspark.sql import Observation

        cached = build_extract(records, raw_col="_raw")
        cached.persist()
        obs_bad = Observation()
        tagged = cached.observe(
            obs_bad,
            F.count(F.when(F.col("eventID").isNull(), 1)).alias("n_bad"),
        )
        extract = tagged.filter(F.col("eventID").isNotNull()).drop("_raw")
        quarantine_flushed = False

        def flush_parse_quarantine() -> None:
            # resolve the observed invalid count (a wait bounded at 5 s —
            # falls back to a LIMIT-1 probe if no full-scan action ever
            # ran, e.g. a failure before the first job) and land the raw
            # payloads.
            nonlocal quarantine_flushed
            if quarantine_flushed:
                return
            quarantine_flushed = True
            m_bad = await_observation(obs_bad, _time.monotonic() + 5.0)
            n_bad = None if m_bad is None else m_bad["n_bad"]
            bad = cached.filter(F.col("eventID").isNull()).select(
                "approximatearrivaltimestamp",
                "partitionkey",
                "shardid",
                "sequencenumber",
                F.col("_raw").alias("kinesis_data"),
            )
            if n_bad is None:
                n_bad = 0 if bad.isEmpty() else 1
            if n_bad:
                bad.write.mode("overwrite").parquet(
                    os.path.join(self.quarantine_path, f"batch_id={batch_id}")
                )

        try:
            stages["parse_quarantine_sec"] = round(_time.perf_counter() - _t0, 4)
            _t0 = _time.perf_counter()
            if self._contract_gate is not None:
                # contract gate BEFORE the extract write: the extract
                # table (the reference's MV), the maintained views, and
                # the merges see only contract-clean rows; violators live
                # in the contract quarantine with their failed checks.
                # In abort mode this raises (after recording the batch's
                # report+quarantine), foreachBatch fails, nothing below
                # publishes — the replay re-gates identically.
                # persist=False: extract derives from the already-cached
                # tagged frame — a second persist would duplicate every
                # valid row in executor memory on the refresh hot path
                extract = self._contract_gate.process_batch(
                    extract, batch_id, persist=False
                )["clean"]
                stages["contract_gate_sec"] = round(
                    _time.perf_counter() - _t0, 4
                )
                _t0 = _time.perf_counter()
            if self._profile_monitor is not None:
                # profile AFTER the gate: distributions are watched over
                # the rows the pipeline actually publishes (the
                # monitor.wrap-under-gate.wrap composition). One
                # conditional aggregation over the cached batch; the
                # store write is a collected cols x buckets local
                # relation, so the stream itself never shuffles.
                self._profile_monitor.process_batch(extract, batch_id)
                stages["drift_profile_sec"] = round(
                    _time.perf_counter() - _t0, 4
                )
                _t0 = _time.perf_counter()
            sync_ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
            _t0 = _time.perf_counter()

            # batch-id-scoped overwrite, NOT append: foreachBatch is
            # at-least-once, and a replayed batch must overwrite its own
            # subdirectory instead of appending duplicate MV rows.
            # The write runs BEFORE the merge pool: as the batch's first
            # full scan it alone materializes the cached batch. Sharing
            # the pool with the merges (r14), every thread that reached
            # the cache before it was built submitted its own
            # materialization job under AQE, so the number of Spark jobs
            # per refresh depended on thread timing.
            extract.write.mode("overwrite").parquet(
                os.path.join(self.extract_path, f"batch_id={batch_id}")
            )
            stages["extract_write_sec"] = round(_time.perf_counter() - _t0, 4)
            _t0 = _time.perf_counter()
            # The three entity merges touch disjoint targets and share only
            # the cached extract — run them CONCURRENTLY. Spark schedules
            # jobs from separate driver threads in parallel (FIFO pool),
            # so the many small stages of one merge (watermark read,
            # staging, commit) overlap another's instead of serializing
            # their scheduling gaps — measured ~1.4× on the refresh
            # heartbeat. Failures propagate: any merge error fails the
            # whole batch, foreachBatch retries, and the watermark-guarded
            # merge makes the replay idempotent (a half-committed entity
            # re-merges as a no-op).
            from concurrent.futures import ThreadPoolExecutor

            def run_merge(spec):
                tm = _time.perf_counter()
                table = self.targets[spec.name]
                stats: dict = {}
                # maintained views FIRST, against the pre-merge target:
                # their before-images are the rows the merge is about to
                # delete, and their ledger makes a crash between view
                # apply and target commit replay-safe (see
                # attach_maintained_view)
                # carried-forward watermark (None on cold start -> the
                # merge and the view path read it from the target, ST2)
                wm = self._watermarks.get(spec.name)
                mv_rows = self._apply_maintained_views(
                    table, spec, extract, batch_id, watermark=wm
                )
                table.merge(extract, spec, sync_ts, stats=stats, watermark=wm)
                nw = stats.get("next_watermark")
                if nw is not None and nw != _MERGE_EPOCH:
                    self._watermarks[spec.name] = nw
                # expose the merge's full diagnostics (incl. the per-phase
                # wall clock) for the last processed batch
                self.last_merge_stats[spec.name] = stats
                stages[f"merge_{spec.name}_sec"] = round(
                    _time.perf_counter() - tm, 4
                )
                return [(spec.name, stats)] + mv_rows

            with ThreadPoolExecutor(max_workers=len(ALL_SPECS)) as pool:
                entity_stats = [
                    row
                    for fut in [pool.submit(run_merge, s) for s in ALL_SPECS]
                    for row in fut.result()
                ]
            stages["merge_wall_sec"] = round(_time.perf_counter() - _t0, 4)
            _t0 = _time.perf_counter()
            # one log write per BATCH (not per entity): the rows are tiny
            # and the write-job overhead is what matters on the heartbeat
            self._write_sync_log(batch_id, sync_ts, entity_stats)
            stages["sync_log_write_sec"] = round(_time.perf_counter() - _t0, 4)
        finally:
            _tq = _time.perf_counter()
            try:
                flush_parse_quarantine()
            finally:
                stages["parse_quarantine_sec"] = round(
                    stages.get("parse_quarantine_sec", 0.0)
                    + (_time.perf_counter() - _tq),
                    4,
                )
                cached.unpersist()

    def refresh(self) -> None:
        """One REFRESH: process all newly-arrived records, then return (ST1)."""
        stream = read_cdc_record_stream(self.spark, self.input_path)
        query = (
            stream.writeStream.foreachBatch(self._merge_batch)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        self._record_progress(query)

    def _record_progress(self, query) -> None:
        """Persist the engine-level per-trigger metrics Spark collected
        for this run (StreamingQueryProgress): input volume and trigger
        wall-clock per micro-batch. The operational complement to the
        sync-run log — the log says what the MERGE did (staged/deleted/
        inserted counts), this says what the ENGINE did (rows in, ms
        spent), which is the number the reference's lag monitors
        (sql/queries.sql:1-19) watch from the outside. Append-mode by
        design: this is a log of RUNS, not state — replays add rows
        (each carrying its runId) instead of rewriting history."""
        import json as _json

        lines = []
        for p in query.recentProgress:
            if p is None or p.get("numInputRows") is None:
                continue
            lines.append(
                _json.dumps(
                    {
                        "run_id": str(p.get("runId")),
                        "batch_id": int(p.get("batchId", -1)),
                        "num_input_rows": int(p.get("numInputRows", 0)),
                        "trigger_ms": float(
                            p.get("durationMs", {}).get("triggerExecution", 0)
                        ),
                        "trigger_ts": str(p.get("timestamp")),
                    }
                )
            )
        if not lines:
            return
        # plain driver-side JSONL append (microseconds) — a Spark write
        # job here would tax the refresh heartbeat ~0.3s per run for
        # 1-row observability data; the table reader parses the log with
        # an explicit schema (PERMISSIVE: a torn last line from a crash
        # mid-append drops instead of failing the monitor)
        os.makedirs(os.path.join(self.warehouse, "progress_log"), exist_ok=True)
        with open(
            os.path.join(self.warehouse, "progress_log", "progress.jsonl"), "a"
        ) as fh:
            fh.write("\n".join(lines) + "\n")

    _PROGRESS_FIELDS = (
        ("run_id", "string"),
        ("batch_id", "long"),
        ("num_input_rows", "long"),
        ("trigger_ms", "double"),
        ("trigger_ts", "string"),
    )

    def progress_log_table(self) -> DataFrame:
        """Per-trigger engine metrics accumulated by refresh(); empty
        (with full schema) before the first recorded run."""
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField(n, getattr(T, "StringType")() if t == "string"
                           else T.LongType() if t == "long" else T.DoubleType())
             for n, t in self._PROGRESS_FIELDS]
        )
        path = os.path.join(self.warehouse, "progress_log")
        if not os.path.isdir(path):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).option("mode", "PERMISSIVE").json(
            path
        )

    def start(self, processing_time: str = "60 seconds"):
        """CONTINUOUS operation (ST1's other half): the reference runs its
        REFRESH+sync loop on a 1-minute EventBridge schedule forever
        (lib/example-cdk-dynamodb-stream-to-redshift-stack.ts:145); here
        that cadence is a ``processingTime`` trigger on the same
        foreachBatch merge. Shares the checkpoint with ``refresh()``, so
        the two modes can be interleaved — batches are never reprocessed.

        Returns the running StreamingQuery; the caller owns its lifecycle
        (``stop()`` / ``awaitTermination()``). Idempotence story is
        identical to refresh(): watermark-in-target merges make replayed
        batches no-ops, so crash/restart at any point is safe.
        """
        stream = read_cdc_record_stream(self.spark, self.input_path)
        return (
            stream.writeStream.foreachBatch(self._merge_batch)
            .option("checkpointLocation", self.checkpoint)
            .trigger(processingTime=processing_time)
            .start()
        )

    # -- sync-run log -----------------------------------------------------
    # Queryable merge diagnostics, mirroring the reference's per-procedure
    # RAISE INFO messages read back from SVL_STORED_PROC_MESSAGES
    # (sql/incremental_sync_members.sql:33,61-66): one row per entity-merge
    # per micro-batch, carrying the watermark the merge ran against, the
    # staged/deleted/inserted row counts, and the batch's syncTimestamp.
    @staticmethod
    def _sync_log_fields():
        from pyspark.sql import types as T

        return [
            T.StructField("entity", T.StringType()),
            T.StructField("watermark", T.TimestampType()),
            T.StructField("staged_count", T.LongType()),
            T.StructField("deleted_count", T.LongType()),
            T.StructField("inserted_count", T.LongType()),
            T.StructField("sync_ts", T.TimestampType()),
            T.StructField("message", T.StringType()),
        ]

    def _write_sync_log(
        self,
        batch_id: int,
        sync_ts: dt.datetime,
        entity_stats: list[tuple[str, dict]],
    ) -> None:
        rows = [
            (
                entity,
                stats["watermark"],
                stats["staged_count"],
                stats["deleted_count"],
                stats["inserted_count"],
                sync_ts,
                stats.get("_message")
                or f"Staged {stats['staged_count']} {entity} records; "
                f"deleted {stats['deleted_count']}; "
                f"inserted {stats['inserted_count']}",
            )
            for entity, stats in entity_stats
        ]
        # batch-scoped overwrite: a replayed batch rewrites its own log rows
        # instead of appending duplicates (same idempotence recipe as the
        # extract/quarantine writes). The write itself is DRIVER-SIDE
        # pyarrow (the _record_progress precedent): these are 3-4 rows of
        # observability data per batch, and a Spark write job taxed the
        # refresh heartbeat ~0.35s per refresh. timestamp("us", tz="UTC")
        # keeps the parquet logical type isAdjustedToUTC so Spark reads
        # the same TimestampType the old writer produced.
        import pyarrow as pa
        import pyarrow.parquet as pq

        pa_schema = pa.schema(
            [
                pa.field("entity", pa.string()),
                pa.field("watermark", pa.timestamp("us", tz="UTC")),
                pa.field("staged_count", pa.int64()),
                pa.field("deleted_count", pa.int64()),
                pa.field("inserted_count", pa.int64()),
                pa.field("sync_ts", pa.timestamp("us", tz="UTC")),
                pa.field("message", pa.string()),
            ]
        )
        names = [f.name for f in pa_schema]
        out_dir = os.path.join(self.sync_log_path, f"batch_id={batch_id}")
        os.makedirs(out_dir, exist_ok=True)
        for old in os.listdir(out_dir):  # replay overwrites its own rows
            if old.endswith(".parquet"):
                os.remove(os.path.join(out_dir, old))
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(names, r)) for r in rows], schema=pa_schema
            ),
            os.path.join(out_dir, "part-00000.parquet"),
        )

    def sync_log_table(self) -> DataFrame:
        """The sync-run log as a DataFrame; batch_id comes back as a
        partition column (or a stored column after compaction), entity is
        a regular column. Empty (with full schema) when no merge has ever
        logged — same monitor-friendly contract as quarantine_table."""
        from pyspark.sql import types as T

        from . import batch_layout

        fields = self._sync_log_fields() + [
            T.StructField("batch_id", T.IntegerType())
        ]
        return batch_layout.read_root(self.spark, self.sync_log_path, fields)

    # -- maintenance ------------------------------------------------------
    def compact(
        self, target_partitions: int = 8, keep_last: int = 2
    ) -> None:
        """Consolidate the extract / quarantine / sync-log batch-dir
        layouts (streaming/batch_layout.py — crash-safe marker protocol,
        original batch_id preserved as a data column). At one micro-batch
        a minute these stores grow ~1.4k directories a day; after
        compaction the extract MV reads one directory plus the recent
        tail.

        ``keep_last`` protects the newest batch dirs: Structured
        Streaming can only ever replay the last uncommitted batch (its
        overwrite must hit a real ``batch_id=<n>`` dir, not rows folded
        into a compact dir), so 2 is already conservative. Target tables
        have their own compaction (operators/storage.py backends)."""
        from . import batch_layout

        for root in (self.extract_path, self.quarantine_path, self.sync_log_path):
            batch_layout.compact_root(
                self.spark,
                root,
                target_partitions=target_partitions,
                keep_last=keep_last,
            )
        if self._contract_gate is not None:
            self._contract_gate.compact(
                target_partitions=target_partitions, keep_last=keep_last
            )
        if self._profile_monitor is not None:
            self._profile_monitor.compact(
                target_partitions=target_partitions, keep_last=keep_last
            )

    # -- reads ------------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return self.targets[name].read()

    def contract_report(self) -> DataFrame:
        """(batch_id, check, n_rows, violations, passed) per micro-batch
        — the extract-contract conformance dashboard. Raises if the
        pipeline was built without ``extract_checks``."""
        if self._contract_gate is None:
            raise ValueError("pipeline was built without extract_checks")
        return self._contract_gate.report()

    def drift_profiles(self) -> DataFrame:
        """(batch_id, column, bucket, cnt) — per-micro-batch histogram
        profiles of the contract-clean extract. Raises if the pipeline
        was built without ``extract_profile_specs``."""
        if self._profile_monitor is None:
            raise ValueError("pipeline was built without extract_profile_specs")
        return self._profile_monitor.profiles()

    def drift_trend(self, baseline: DataFrame, **kw) -> DataFrame:
        """(batch_id, column, psi, n_current, n_baseline, drifted) —
        each micro-batch scored against a frozen baseline profile; the
        WHEN-did-the-stream-shift table, computed from stored profiles
        only (the extract is never rescanned)."""
        if self._profile_monitor is None:
            raise ValueError("pipeline was built without extract_profile_specs")
        return self._profile_monitor.trend(baseline, **kw)

    def contract_quarantine(self) -> DataFrame:
        """Extract rows that parsed as change events but violated the
        declared contract, tagged with their failed-check names."""
        if self._contract_gate is None:
            raise ValueError("pipeline was built without extract_checks")
        empty = build_extract(
            self.spark.createDataFrame([], KINESIS_RECORD_SCHEMA)
        )
        return self._contract_gate.quarantine(empty_like=empty)

    def quarantine_table(self) -> DataFrame:
        """Raw records whose payload failed envelope validation, with the
        payload decoded to a readable string; batch_id column identifies the
        micro-batch that rejected them. A healthy pipeline that has never
        seen a bad payload returns an EMPTY DataFrame (the quarantine dir is
        only created when bad rows exist) — monitors can distinguish
        'nothing quarantined' from a query error."""
        from pyspark.sql import types as T

        from . import batch_layout

        fields = [
            T.StructField("approximatearrivaltimestamp", T.TimestampType()),
            T.StructField("partitionkey", T.StringType()),
            T.StructField("shardid", T.StringType()),
            T.StructField("sequencenumber", T.StringType()),
            T.StructField("kinesis_data", T.StringType()),
            T.StructField("batch_id", T.IntegerType()),
        ]
        return batch_layout.read_root(self.spark, self.quarantine_path, fields)

    def history_table(self, name: str) -> DataFrame:
        """SCD Type 2 history of one entity, derived from the accumulated
        extract (beyond-reference: the targets keep latest state only —
        sql/incremental_sync_members.sql:42-47 deletes the prior row; this
        view keeps every version as a validity interval).

        MV-over-extract semantics: the extract IS the full ordered change
        log (batch-id-scoped idempotent appends), so the history is a pure
        window over it — one lead() keyed by the entity key, no state to
        maintain or migrate, and a replayed batch changes nothing. At
        100 TB, materialize this with the same partition-scoped rewrite the
        merge uses, restricted to keys present in the micro-batch (only
        their open intervals can close)."""
        from ..operators.merge import ALL_SPECS as _SPECS
        from ..operators.scd import scd2_history

        from pyspark.sql import functions as F

        spec = next(s for s in _SPECS if s.name == name)
        routed = self.extract_table().filter(
            F.col("pk").startswith(spec.pk_prefix)
        )
        changes = spec.project(routed)
        return scd2_history(
            changes,
            key_cols=[spec.key_col],
            ts_col="approximateUpdateTimestamp",
            tie_cols=["sequencenumber"],
            event_col="eventName",
        )

    def extract_table(self) -> DataFrame:
        if not os.path.exists(self.extract_path):
            raise FileNotFoundError(
                "extract has not been materialized yet — run refresh() first"
            )
        # batch_id is the replay-idempotence partition key, not part of the
        # MV's logical schema. Warehouses written before the batch_id layout
        # have part files directly at the root — mixing the two layouts
        # breaks Spark's partition discovery, so read each explicitly and
        # union (legacy rows predate idempotent writes; nothing to dedup).
        import glob as _glob

        from . import batch_layout

        legacy = _glob.glob(os.path.join(self.extract_path, "part-*.parquet"))
        batch_dirs, compact_dirs = batch_layout.live_dirs(self.extract_path)
        parts = []
        if batch_dirs or compact_dirs:
            parts.append(
                batch_layout.read_root(self.spark, self.extract_path, []).drop(
                    "batch_id"
                )
            )
        if legacy:
            parts.append(self.spark.read.parquet(*legacy))
        if not parts:
            raise FileNotFoundError(
                "extract directory exists but holds no parquet data yet"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
