"""Per-layer tracing from outside the program (``--trace 1``).

Nothing in the program changes. The tracer

- wraps each layer's public entry points at run time and records a span
  (name, start, end) per call;
- tags the calls of the partitioned merge with a per-thread Spark job
  group, so the jobs of concurrent entity merges are told apart;
- counts every Spark job of a refresh from the DAG scheduler's next job
  id, and their tasks from the status tracker;
- takes Spark's own ``durationMs.addBatch`` from a StreamingQueryListener;
- snapshots the files under the warehouse around each refresh.

Layer names are module names. A layer a workload never calls reports 0.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median

PKG = "example_cdk_dynamodb_stream_to_redshift_spark"
SETUP_SAMPLES = ("plans.initial_load.load_s",)
ENTITIES = ("member", "quest", "member_quest")
MODULES = (
    "inventory", "inventory_analytics", "inventory_sql_surface", "inventory_ml",
    "inventory_pipeline", "inventory_sync", "staged",
)
LAYER_METRICS = (
    [
        ("streaming.pipeline.refresh_s", "s"),
        ("streaming.pipeline.add_batch_s", "s"),
        ("streaming.pipeline.stream_overhead_s", "s"),
        ("streaming.pipeline.sink_self_s", "s"),
        ("streaming.pipeline.jobs_per_refresh", "count"),
        ("streaming.pipeline.tasks_per_refresh", "count"),
        ("streaming.pipeline.files_written_per_refresh", "count"),
        ("streaming.quality_monitor.process_batch_s", "s"),
        ("streaming.drift_maintenance.process_batch_s", "s"),
    ]
    + [(f"operators.partitioned_store.merge_s.{e}", "s") for e in ENTITIES]
    + [
        ("operators.partitioned_store.jobs_per_merge", "count"),
        ("operators.partitioned_store.buckets_rewritten_per_refresh", "count"),
        ("operators.partitioned_store.bytes_written_per_event", "B"),
    ]
    + [(f"operators.merge.incremental_merge_s.{e}", "s") for e in ENTITIES]
    + [(f"operators.storage.overwrite_s.{e}", "s") for e in ENTITIES]
    + [
        ("operators.storage.bytes_written_per_event", "B"),
        ("plans.extract.parse_events_per_s", "1/s"),
        ("plans.initial_load.load_s", "s"),
        ("plans.queries.rewards_by_member_s", "s"),
        ("plans.queries.rewards_by_quest_s", "s"),
        ("plans.queries.target_files_read", "count"),
    ]
    + [
        (f"plans.{m}.{k}", u)
        for m in MODULES
        for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))
    ]
)


class NullTracer:
    """The untraced run: the same call sites, no measurement."""

    @contextmanager
    def span(self, name: str):
        yield

    def begin(self) -> None:
        pass

    def reports(self, by_member, by_quest):
        return by_member.toPandas(), by_quest.toPandas()

    def parse_probe(self, path: str) -> None:
        pass

    def record(self, name: str, value: float) -> None:
        pass

    def query(self, name: str, module: str, build_s: float, exec_s: float,
              jobs: int) -> None:
        pass


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer(NullTracer):
    def __init__(self, session):
        self.spark = session.spark
        self.sc = self.spark.sparkContext
        self.lock = threading.Lock()
        self.spans: list[tuple[str, float, float]] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.sums: dict[str, float] = defaultdict(float)
        self.progress: list[dict] = []
        self._group = 0
        self._install()

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            with self.lock:
                self.spans.append((name, t0, t1))
                self.samples[name + "_s"].append(t1 - t0)

    def _next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def _tasks(self, first: int, last: int) -> int:
        tracker = self.sc.statusTracker()
        n = 0
        for jid in range(first, last):
            job = tracker.getJobInfo(jid)
            if job is None:
                continue
            for sid in job.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    n += st.numCompletedTasks
        return n

    def _wrap(self, owner, attr: str, make_name, after=None, job_group=False):
        """Replace ``owner.attr`` (and every module-level alias of a plain
        function inside the package) with a span-recording wrapper."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            name = make_name(*args, **kwargs)
            group = prev = None
            if job_group:
                with tracer.lock:
                    tracer._group += 1
                    group = f"perfbench-{tracer._group}"
                prev = tracer.sc.getLocalProperty("spark.jobGroup.id")
                tracer.sc.setLocalProperty("spark.jobGroup.id", group)
            try:
                with tracer.span(name):
                    result = original(*args, **kwargs)
            finally:
                if job_group:
                    tracer.sc.setLocalProperty("spark.jobGroup.id", prev)
                    jobs = tracer.sc.statusTracker().getJobIdsForGroup(group)
                    with tracer.lock:
                        tracer.samples[name.rsplit(".", 1)[0] + ".jobs"].append(len(jobs))
            if after is not None:
                after(result, *args, **kwargs)
            return result

        setattr(owner, attr, wrapper)
        if not isinstance(owner, type):
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PKG) and \
                        getattr(mod, attr, None) is original:
                    setattr(mod, attr, wrapper)

    def _install(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from example_cdk_dynamodb_stream_to_redshift_spark.operators import (
            merge,
            partitioned_store,
            storage,
        )
        from example_cdk_dynamodb_stream_to_redshift_spark.streaming import (
            drift_maintenance,
            pipeline,
            quality_monitor,
        )

        def entity(table) -> str:
            return os.path.basename(table.root.rstrip("/"))

        def touched(result, *args, **kwargs):
            with self.lock:
                self.sums["buckets"] += len(result or ())

        pipeline.CdcPipeline.refresh = self._traced_refresh(pipeline.CdcPipeline.refresh)
        self._wrap(partitioned_store.PartitionedParquetTable, "merge",
                   lambda t, extract, spec, *a, **k:
                   f"operators.partitioned_store.merge.{spec.name}",
                   after=touched, job_group=True)
        self._wrap(merge, "incremental_merge",
                   lambda target, extract, spec, *a, **k:
                   f"operators.merge.incremental_merge.{spec.name}")
        self._wrap(storage.ParquetTable, "overwrite",
                   lambda t, *a, **k: f"operators.storage.overwrite.{entity(t)}")
        self._wrap(quality_monitor.QualityGate, "process_batch",
                   lambda *a, **k: "streaming.quality_monitor.process_batch")
        self._wrap(drift_maintenance.ProfileMonitor, "process_batch",
                   lambda *a, **k: "streaming.drift_maintenance.process_batch")

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer.lock:
                    tracer.progress.append({
                        "add_batch_ms": p.durationMs.get("addBatch", 0),
                        "rows": p.numInputRows,
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.spark.streams.addListener(self.listener)

    def _traced_refresh(self, refresh):
        tracer = self

        @functools.wraps(refresh)
        def wrapper(pipe, *args, **kwargs):
            first = tracer._next_job_id()
            n_progress = len(tracer.progress)
            before = _files(pipe.warehouse)
            with tracer.lock:
                n_spans = len(tracer.spans)
                tracer.sums["buckets"] = 0
            t0 = time.perf_counter()
            result = refresh(pipe, *args, **kwargs)
            t1 = time.perf_counter()
            last = tracer._next_job_id()
            after = _files(pipe.warehouse)
            deadline = time.monotonic() + 5.0  # progress events are async
            while len(tracer.progress) == n_progress and time.monotonic() < deadline:
                time.sleep(0.01)
            tracer._record_refresh(pipe, t0, t1, first, last, before, after,
                                   tracer.progress[n_progress:], n_spans)
            return result

        return wrapper

    def _record_refresh(self, pipe, t0, t1, first, last, before, after,
                        progress, n_spans) -> None:
        wall = t1 - t0
        add_batch = sum(p["add_batch_ms"] for p in progress) / 1000.0
        rows = sum(p["rows"] for p in progress)
        with self.lock:
            spans = [s for s in self.spans[n_spans:] if s[1] >= t0 and s[2] <= t1]
        merges = [
            (a, b) for name, a, b in spans
            if name.startswith(("operators.partitioned_store.merge.",
                                "operators.merge.incremental_merge.",
                                "operators.storage.overwrite."))
        ]
        written = {p: v for p, v in after.items() if before.get(p) != v}
        targets = tuple(os.path.join(pipe.warehouse, e) + os.sep for e in ENTITIES)
        target_bytes = sum(v[0] for p, v in written.items() if p.startswith(targets))
        s = self.samples
        s["streaming.pipeline.refresh_s"].append(wall)
        s["streaming.pipeline.add_batch_s"].append(add_batch)
        s["streaming.pipeline.stream_overhead_s"].append(wall - add_batch)
        s["streaming.pipeline.sink_self_s"].append(add_batch - _union(merges))
        s["streaming.pipeline.jobs_per_refresh"].append(last - first)
        s["streaming.pipeline.tasks_per_refresh"].append(self._tasks(first, last))
        s["streaming.pipeline.files_written_per_refresh"].append(len(written))
        backend = "partitioned_store" if hasattr(pipe.targets["member"], "merge") \
            else "storage"
        if rows:
            s[f"operators.{backend}.bytes_written_per_event"].append(target_bytes / rows)
        if backend == "partitioned_store":
            s["operators.partitioned_store.buckets_rewritten_per_refresh"].append(
                self.sums["buckets"])

    # -- hooks called by the workloads -------------------------------------
    def begin(self) -> None:
        """Start of the measured phase: drop what set-up recorded, except
        the set-up spans that are metrics of their own."""
        with self.lock:
            keep = {k: self.samples[k] for k in SETUP_SAMPLES if k in self.samples}
            self.samples = defaultdict(list, keep)
            self.sums.clear()
            self.spans.clear()
            self.progress.clear()

    def reports(self, by_member, by_quest):
        files = set(by_member.inputFiles()) | set(by_quest.inputFiles())
        self.samples["plans.queries.target_files_read"].append(len(files))
        out = []
        for name, df in (("rewards_by_member", by_member), ("rewards_by_quest", by_quest)):
            t0 = time.perf_counter()
            out.append(df.toPandas())
            self.samples[f"plans.queries.{name}_s"].append(time.perf_counter() - t0)
        return tuple(out)

    def parse_probe(self, path: str) -> None:
        """Parse one batch file to a no-op sink: the extract layer alone."""
        from example_cdk_dynamodb_stream_to_redshift_spark.plans.extract import (
            build_extract,
        )
        from example_cdk_dynamodb_stream_to_redshift_spark.sources.cdc_envelope import (
            read_cdc_records,
        )

        with open(path) as fh:
            n = sum(1 for _ in fh)
        for _ in range(3):
            t0 = time.perf_counter()
            build_extract(read_cdc_records(self.spark, path)).write.format(
                "noop").mode("overwrite").save()
            self.samples["plans.extract.parse_events_per_s"].append(
                n / (time.perf_counter() - t0))

    def record(self, name: str, value: float) -> None:
        with self.lock:
            self.samples[name].append(value)

    def query(self, name: str, module: str, build_s: float, exec_s: float,
              jobs: int) -> None:
        s = self.sums
        s[f"plans.{module}.build_s"] += build_s
        s[f"plans.{module}.exec_s"] += exec_s
        s[f"plans.{module}.jobs"] += jobs
        s["_rounds." + name] += 1
        self.samples[f"query.{name}.exec_s"].append(exec_s)

    # -- result ---------------------------------------------------------------
    def metrics(self) -> dict[str, tuple[float, str]]:
        """Every per-layer metric: medians over refreshes, merges, reports
        and probes; module sums per query round."""
        self.spark.streams.removeListener(self.listener)
        from .headline import QUERIES

        query_names = [q for q, _ in QUERIES]
        s = self.samples
        out: dict[str, tuple[float, str]] = {}
        rounds = max([self.sums.get("_rounds." + q, 0) for q in query_names] or [0]) or 1
        for name, unit in LAYER_METRICS:
            if name.startswith("plans.") and name.rsplit(".", 1)[0].split(".")[1] in MODULES:
                out[name] = (self.sums.get(name, 0.0) / rounds, unit)
            elif name.startswith("operators.partitioned_store.merge_s."):
                key = "operators.partitioned_store.merge." + name.rsplit(".", 1)[1] + "_s"
                out[name] = (median(s[key]) if s.get(key) else 0.0, unit)
            elif name == "operators.partitioned_store.jobs_per_merge":
                jobs = s.get("operators.partitioned_store.merge.jobs")
                out[name] = (median(jobs) if jobs else 0.0, unit)
            elif name.startswith(("operators.merge.incremental_merge_s.",
                                  "operators.storage.overwrite_s.")):
                layer, ent = name.rsplit("_s.", 1)
                key = f"{layer}.{ent}_s"
                out[name] = (median(s[key]) if s.get(key) else 0.0, unit)
            else:
                out[name] = (median(s[name]) if s.get(name) else 0.0, unit)
        for q in query_names:
            key = f"query.{q}.exec_s"
            out[key] = (median(s[key]) if s.get(key) else 0.0, "s")
        return out
