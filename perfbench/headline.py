"""The read-side workload: registered queries over the sf0.001 test tables.

Each round builds every query once (``spark_fn``) and materializes it once
(Arrow transfer of the whole result), over its own hard-linked copy of the
tables, so per-path caches in the program start cold in each round. Then
the two rewards reports are answered. The rows of the first round, and
every report answer, are checked against the query's DuckDB oracle SQL
over the original single-file tables, normalized by ``tests/oracle.py``;
every later round must return the rows of the first.
"""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

# the repository's sf0.001 test tables, copied byte for byte: the run reads
# nothing outside its checkout
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
# (query, plans module). A fixed subset of the oracle-checked bench
# headline: one round has to fit a run of well under a minute, so the
# queries whose set-up alone takes seconds are left out (README).
QUERIES = [
    ("latest_event_per_user", "inventory"),
    ("user_sessions", "inventory_analytics"),
    ("top_docs_per_source", "inventory_ml"),
    ("shipping_priority_q3", "inventory_sql_surface"),
    ("bm25_topk_docs", "inventory_pipeline"),
    ("uniform_sample_by_source", "staged"),
    ("sync_run_log", "inventory_sync"),
]
REPORTS = ("rewards_by_member", "rewards_by_quest")
REPORT_REPEATS = 3  # answers of both reports after each round


def _arrow_rows(tbl) -> tuple[list[str], list[tuple]]:
    cols = tbl.column_names
    return cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()]


class RefreshTimer:
    """Times the CDC refreshes the sync fixtures run."""

    def __init__(self):
        from example_cdk_dynamodb_stream_to_redshift_spark.streaming import pipeline

        self.walls: list[float] = []
        self._cls = pipeline.CdcPipeline
        self._original = refresh = self._cls.refresh
        walls = self.walls

        def timed_refresh(pipe, *args, **kwargs):
            t0 = time.perf_counter()
            out = refresh(pipe, *args, **kwargs)
            walls.append(time.perf_counter() - t0)
            return out

        self._cls.refresh = timed_refresh

    def close(self) -> None:
        self._cls.refresh = self._original


def _relayout(src: str, dst: str, parts: int) -> None:
    """Split every table into ``parts`` files (one scan task each), the
    layout a real table has; results must not depend on it."""
    import pyarrow.parquet as pq

    for name in os.listdir(src):
        tbl = pq.read_table(os.path.join(src, name))
        out = os.path.join(dst, name)
        os.makedirs(out)
        step = -(-tbl.num_rows // parts)
        for i in range(parts):
            chunk = tbl.slice(i * step, step)
            if chunk.num_rows:
                pq.write_table(chunk, os.path.join(out, f"part-{i:05d}.parquet"))


def run(session, workload: str, seed: int, seconds: float, tracer) -> dict:
    """``seed`` is not used: the query tables are the fixed test tables."""
    from example_cdk_dynamodb_stream_to_redshift_spark.plans.inventory import REGISTRY

    spark, work = session.spark, session.work
    layout = os.path.join(work, "layout")
    os.makedirs(layout)
    _relayout(DATA, layout, session.cpus)
    sc = spark.sparkContext

    def next_job() -> int:
        return int(sc._jsc.sc().dagScheduler().nextJobId())

    def answer_reports():
        """Both reports built and materialized over the re-laid-out tables;
        returns the answers and the wall time."""
        t0 = time.perf_counter()
        answers = {}
        for q in REPORTS:
            df = REGISTRY[q].spark_fn(spark, layout)
            t1 = time.perf_counter()
            answers[q] = df.toArrow()
            tracer.record(f"plans.queries.{q}_s", time.perf_counter() - t1)
        return answers, time.perf_counter() - t0

    answer_reports()  # warm-up
    timer = RefreshTimer()
    setup_s = session.elapsed()
    tracer.begin()

    rounds, errors, answers = [], [], []
    refresh_s, build_s, exec_s, report_s = [], [], [], []
    attempted = 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or not rounds:
        sf_dir = os.path.join(work, f"r{len(rounds)}")
        shutil.copytree(layout, sf_dir, copy_function=os.link)
        n_refresh = len(timer.walls)
        res = {}
        for name, module in QUERIES:
            attempted += 1
            j0 = next_job()
            try:
                t0 = time.perf_counter()
                df = REGISTRY[name].spark_fn(spark, sf_dir)
                t1 = time.perf_counter()
                arrow = df.toArrow()
                t2 = time.perf_counter()
            except Exception as ex:  # a failed query counts, the round goes on
                errors.append(f"{name}: {ex!r}"[:500])
                continue
            res[name] = (t1 - t0, t2 - t1, arrow)
            tracer.query(name, module, t1 - t0, t2 - t1, next_job() - j0)
        shutil.rmtree(sf_dir, ignore_errors=True)
        rounds.append(res)
        # the sync fixture's refreshes are refresh_p50_s, not build time
        fixture_s = sum(timer.walls[n_refresh:])
        refresh_s += timer.walls[n_refresh:]
        build_s.append(sum(v[0] for v in res.values()) - fixture_s)
        exec_s.append(sum(v[1] for v in res.values()))
        for _ in range(REPORT_REPEATS):
            attempted += 1
            try:
                answer, wall = answer_reports()
            except Exception as ex:  # counted as failed, as in a round
                errors.append(f"{REPORTS}: {ex!r}"[:500])
                continue
            answers.append(answer)
            report_s.append(wall)
    timer.close()

    return {
        "problems": _check(rounds, answers),
        "errors": errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {
            "setup_s": (setup_s, "s"),
            "refresh_p50_s": (median(refresh_s), "s"),
            "report_p50_s": (median(report_s), "s"),
            "query_exec_s": (median(exec_s), "s"),
            "query_build_s": (median(build_s), "s"),
        },
    }


def _check(rounds: list[dict], answers: list[dict]) -> list[str]:
    """The first round and every report answer against DuckDB; later
    rounds against the first."""
    from example_cdk_dynamodb_stream_to_redshift_spark.plans.inventory import REGISTRY
    from tests.oracle import duckdb_connection, normalized_rows

    con = duckdb_connection(DATA)
    oracle = {}

    def against_oracle(name: str, arrow, what: str) -> list[str]:
        if name not in oracle:
            rel = con.execute(REGISTRY[name].oracle)
            d_cols = [d[0] for d in rel.description]
            oracle[name] = (sorted(d_cols), normalized_rows(d_cols, rel.fetchall()))
        d_cols, want = oracle[name]
        cols, rows = _arrow_rows(arrow)
        if sorted(cols) != d_cols:
            return [f"{what}: columns {sorted(cols)} vs oracle {d_cols}"]
        if normalized_rows(cols, rows) != want:
            return [f"{what}: {len(rows)} rows differ from the oracle's {len(want)}"]
        return []

    problems = []
    first = {}
    for name, (_, _, arrow) in rounds[0].items():
        first[name] = normalized_rows(*_arrow_rows(arrow))
        problems += against_oracle(name, arrow, name)
    for i, res in enumerate(rounds[1:], 2):
        for name, (_, _, arrow) in res.items():
            if name in first and normalized_rows(*_arrow_rows(arrow)) != first[name]:
                problems.append(f"{name}: round {i} rows differ from round 1")
    for i, answer in enumerate(answers, 1):
        for name, arrow in answer.items():
            problems += against_oracle(name, arrow, f"{name} answer {i}")
    con.close()
    return problems
