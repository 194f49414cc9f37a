"""The two CDC workloads: the reference's REFRESH + sync loop, closed-loop.

One client: batch ``k+1`` lands only after the refresh of batch ``k`` and
the two rewards reports over its targets have returned. Every output is
checked against the replay oracle (perfbench/replay.py) and against row
conservation read from the tables themselves.
"""

from __future__ import annotations

import os
import time
from decimal import Decimal
from statistics import median

from .cdcgen import BOOTSTRAP, BOOTSTRAP_S, CdcInputs, Shape
from .replay import ENTITIES, Replay

WORKLOADS = {
    # fixed cost per batch dominates: small batches, bucketed targets,
    # expectation gate and drift profile on
    "cdc_heartbeat": dict(
        shape=Shape(members=8_000, quests=200, member_quests=12_000,
                    batch_events=2_000),
        partitioned=True, gated=True,
    ),
    # ten times the batch volume on a three times larger export, through the
    # full-rewrite backend; the run budget keeps it far from a real backlog
    "cdc_backfill": dict(
        shape=Shape(members=20_000, quests=200, member_quests=40_000,
                    batch_events=20_000, hot_keys=500, tie_pairs=200,
                    absent_removes=200, remove_reinserts=100, late_events=100,
                    stale_events=100),
        partitioned=False, gated=False,
    ),
}


# answers of both reports after each refresh
REPORT_REPEATS = 2
# whole reads of every target and log at the end of a run
READ_REPEATS = 2


class CheckFailed(AssertionError):
    pass


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _gate_kwargs() -> dict:
    from example_cdk_dynamodb_stream_to_redshift_spark.operators.drift import (
        CategoricalProfile,
    )
    from example_cdk_dynamodb_stream_to_redshift_spark.operators.expectations import (
        accepted_values,
        matches,
        not_null,
    )

    return {
        "extract_checks": [
            accepted_values("eventName", ["INSERT", "MODIFY", "REMOVE"]),
            matches("pk", "^(M_|Q_|MQ#)"),
            not_null("sequencenumber"),
        ],
        "extract_profile_specs": [
            CategoricalProfile("eventName", ("INSERT", "MODIFY", "REMOVE"))
        ],
    }


def _write_lines(path: str, lines) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    os.replace(tmp, path)  # the file source never sees a partial file


def _reports(pipe):
    """Build both rewards reports over the current targets."""
    from example_cdk_dynamodb_stream_to_redshift_spark.plans import queries

    mq = pipe.table("member_quest")
    return (
        queries.rewards_by_member(mq, pipe.table("member")),
        queries.rewards_by_quest(mq, pipe.table("quest")),
    )


def _check_report(pdf, id_col: str, name_col: str, expected: dict, what: str):
    got = {
        (i, n): v
        for i, n, v in zip(pdf[id_col], pdf[name_col], pdf["totalDollarsEarned"])
    }
    _check(len(got) == len(pdf), f"{what}: duplicate groups")
    _check(got.keys() == expected.keys(),
           f"{what}: {len(got.keys() - expected.keys())} groups not in the "
           f"oracle, {len(expected.keys() - got.keys())} oracle groups missing")
    for k, v in got.items():
        _check(abs(Decimal(repr(float(v))) - expected[k]) < Decimal("0.005"),
               f"{what}: {k} = {v}, oracle {expected[k]}")
    totals = list(pdf["totalDollarsEarned"])
    _check(all(a >= b for a, b in zip(totals, totals[1:])),
           f"{what}: not ordered by total")


def _target_rows(pdf) -> set:
    import pandas as pd

    pdf = pdf.drop(columns="syncTimestamp")
    ts = pd.to_datetime(pdf["approximateUpdateTimestamp"])
    pdf["approximateUpdateTimestamp"] = (
        ts.astype("datetime64[s]").astype("int64").tolist()
    )
    return set(pdf.itertuples(index=False, name=None))


def _oracle_rows(replay: Replay, entity: str) -> set:
    return {
        tuple(
            int((v - BOOTSTRAP).total_seconds()) + BOOTSTRAP_S
            if hasattr(v, "year") else float(v) if isinstance(v, Decimal) else v
            for v in row
        )
        for row in replay.tables[entity].values()
    }


def run(session, workload: str, seed: int, seconds: float, tracer) -> dict:
    from example_cdk_dynamodb_stream_to_redshift_spark.streaming import CdcPipeline

    spark, work = session.spark, session.work
    cfg = WORKLOADS[workload]
    shape: Shape = cfg["shape"]
    inputs = CdcInputs(seed, shape)
    export_dir = os.path.join(work, "export")
    stream_dir = os.path.join(work, "stream")
    os.makedirs(export_dir)
    os.makedirs(stream_dir)
    lines = list(inputs.export_lines())
    n_files = 4
    for i in range(n_files):
        _write_lines(os.path.join(export_dir, f"part-{i}.json"), lines[i::n_files])
    del lines

    pipe = CdcPipeline(
        spark, stream_dir, os.path.join(work, "warehouse"),
        partitioned=cfg["partitioned"], n_buckets=16,
        **(_gate_kwargs() if cfg["gated"] else {}),
    )
    replay = Replay.from_inputs(inputs)
    counts = {e: [] for e in ENTITIES}  # row count after bootstrap, each batch

    def count_targets():
        for e in ENTITIES:
            counts[e].append(pipe.table(e).count())

    with tracer.span("plans.initial_load.load"):
        pipe.initial_load(export_dir, sync_ts=BOOTSTRAP)
    count_targets()

    k = 0
    problems: list[str] = []

    def one_round():
        """Land batch k, refresh, count the targets and answer the reports;
        returns the refresh wall and the report walls."""
        nonlocal k
        events, bad = inputs.batch(k)
        _write_lines(os.path.join(stream_dir, f"b{k:05d}.json"), inputs.batch_lines(k))
        k += 1
        t0 = time.perf_counter()
        pipe.refresh()
        wall = time.perf_counter() - t0
        count_targets()
        replay.apply(events, len(bad))
        report_s = []
        for i in range(REPORT_REPEATS):
            t0 = time.perf_counter()
            by_member, by_quest = tracer.reports(*_reports(pipe))
            report_s.append(time.perf_counter() - t0)
            what = f"batch {k - 1} answer {i + 1}"
            try:
                _check_report(by_member, "memberId", "memberName",
                              replay.rewards_by_member(), f"{what} rewards_by_member")
                _check_report(by_quest, "questId", "questName",
                              replay.rewards_by_quest(), f"{what} rewards_by_quest")
            except CheckFailed as ex:
                problems.append(str(ex))
        return wall, report_s

    one_round()  # warm-up: the first refresh of a process runs cold
    setup_s = session.elapsed()
    tracer.begin()

    refresh_s, report_s = [], []
    attempted = 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or not refresh_s:
        wall, reports = one_round()
        attempted += 1 + REPORT_REPEATS  # one refresh, the pairs of reports
        refresh_s.append(wall)
        report_s += reports

    # the workload's read queries: every target and log, read whole
    build_s, exec_s = [], []
    for _ in range(READ_REPEATS):
        t0 = time.perf_counter()
        frames = _output_frames(pipe, cfg["gated"])
        t1 = time.perf_counter()
        outputs = {name: df.toPandas() for name, df in frames.items()}
        build_s.append(t1 - t0)
        exec_s.append(time.perf_counter() - t1)
        attempted += 1
        problems += _check_outputs(outputs, replay, counts)
    tracer.parse_probe(os.path.join(stream_dir, f"b{k - 1:05d}.json"))
    return {
        "problems": list(dict.fromkeys(problems)),
        "attempted": attempted,
        "failed": 0,  # a refresh that raises ends the run without a result
        "metrics": {
            "setup_s": (setup_s, "s"),
            "refresh_p50_s": (median(refresh_s), "s"),
            "report_p50_s": (median(report_s), "s"),
            "query_exec_s": (median(exec_s), "s"),
            "query_build_s": (median(build_s), "s"),
        },
    }


def _output_frames(pipe, gated: bool) -> dict:
    frames = {e: pipe.table(e) for e in ENTITIES}
    frames["sync_log"] = pipe.sync_log_table()
    frames["quarantine"] = pipe.quarantine_table()
    if gated:
        frames["contract_report"] = pipe.contract_report()
        frames["drift_profiles"] = pipe.drift_profiles()
    return frames


def _check_outputs(outputs: dict, replay: Replay, counts: dict) -> list[str]:
    """Targets, sync log, quarantine, gate report and drift profile against
    the oracle; row conservation against the tables' own counts. Returns
    the first failure of each check."""
    checks = [
        lambda: _check_targets(outputs, replay),
        lambda: _check_sync_log(outputs["sync_log"], replay, counts),
        lambda: _check_quarantine(outputs["quarantine"], replay),
    ]
    if "contract_report" in outputs:
        checks.append(lambda: _check_gate(outputs, replay))
    problems = []
    for check in checks:
        try:
            check()
        except CheckFailed as ex:
            problems.append(str(ex))
    return problems


def _check_targets(outputs: dict, replay: Replay) -> None:
    for e in ENTITIES:
        got, want = _target_rows(outputs[e]), _oracle_rows(replay, e)
        _check(got == want, f"{e}: {len(got - want)} rows not in the oracle, "
               f"{len(want - got)} oracle rows missing")


def _check_sync_log(log, replay: Replay, counts: dict) -> None:
    n_batches = len(replay.log)
    _check(sorted(set(log["batch_id"])) == list(range(n_batches)),
           f"sync log batches {sorted(set(log['batch_id']))}")
    _check(len(log) == 3 * n_batches, f"{len(log)} sync-log rows")
    for r in log.sort_values(["batch_id", "entity"]).itertuples(index=False):
        b, e = int(r.batch_id), r.entity
        wm, staged, deleted, inserted = replay.log[b][e]
        got = (r.watermark, r.staged_count, r.deleted_count, r.inserted_count)
        want_wm = int((wm - BOOTSTRAP).total_seconds()) + BOOTSTRAP_S
        _check(
            got[0] is not None and int(got[0].timestamp()) == want_wm
            and (got[1], got[2], got[3]) == (staged, deleted, inserted),
            f"sync log batch {b} {e}: {got}, oracle "
            f"({wm}, {staged}, {deleted}, {inserted})",
        )
        # conservation: rows after = rows before - deleted + inserted
        _check(
            counts[e][b + 1] == counts[e][b] - r.deleted_count + r.inserted_count,
            f"{e} batch {b}: {counts[e][b]} rows - {r.deleted_count} + "
            f"{r.inserted_count} != {counts[e][b + 1]} rows read",
        )


def _check_quarantine(quarantine, replay: Replay) -> None:
    q = quarantine.groupby("batch_id").size()
    got = {int(b): int(n) for b, n in q.items()}
    want = {b: n for b, n in enumerate(replay.quarantined) if n}
    _check(got == want, f"quarantine {got}, oracle {want}")


def _check_gate(outputs: dict, replay: Replay) -> None:
    rep = outputs["contract_report"]
    _check(len(rep) == 3 * len(replay.log), f"{len(rep)} contract-report rows")
    for r in rep.itertuples(index=False):
        n_valid = sum(replay.event_names[int(r.batch_id)].values())
        _check(r.n_rows == n_valid and r.violations == 0,
               f"contract report batch {r.batch_id}: {r}")
    prof = outputs["drift_profiles"]
    got = {
        (int(r.batch_id), r.bucket): int(r.cnt)
        for r in prof.itertuples(index=False) if r.cnt
    }
    want = {
        (b, name): n
        for b, names in enumerate(replay.event_names)
        for name, n in names.items()
    }
    _check(got == want, "drift profile counts differ from the oracle")
