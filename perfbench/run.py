"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_heartbeat --seed 1 --seconds 15 --trace 0

Run from the repository root. Spark runs as local[<CPUs this process may
use>] inside this one process. Everything the run writes goes under
``.perfbench_out/`` in the working directory and is deleted at the end.
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import time

_T_IMPORT = time.perf_counter()  # fallback for the process start time

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
WORKLOADS = ("cdc_heartbeat", "cdc_backfill", "headline_queries")
DEADLINE_S = 170  # the whole run, set-up included


def _process_age_s() -> float:
    """Seconds since this process started (Linux), else since import."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - _T_IMPORT


class Session:
    """The run's Spark session, its scratch directory and its clock."""

    def __init__(self, work: str):
        self._t0 = time.perf_counter() - _process_age_s()
        self.work = work
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp  # tempfile users inside the program
        import tempfile

        tempfile.tempdir = tmp
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
        # both JVMs (spark-submit's launcher and the driver): temp files
        # under the run's directory, no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        from example_cdk_dynamodb_stream_to_redshift_spark.session import get_spark

        self.cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            extra_conf={
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def elapsed(self) -> float:
        """Seconds since the process started."""
        return time.perf_counter() - self._t0

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)

    def _timeout(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)

    from perfbench import trace

    work = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    session = None
    try:
        session = Session(work)
        tracer = trace.Tracer(session) if args.trace else trace.NullTracer()
        if args.workload == "headline_queries":
            from perfbench import headline as workload
        else:
            from perfbench import cdc as workload
        result = workload.run(session, args.workload, args.seed, args.seconds, tracer)
        metrics = tracer.metrics() if args.trace else result["metrics"]
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
        signal.alarm(0)
    for error in result.get("errors", []):
        print(f"OPERATION FAILED: {error}", file=sys.stderr)
    for problem in result["problems"]:
        print(f"CHECK FAILED: {problem}", file=sys.stderr)
    print(json.dumps({
        "correct": not result["problems"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
