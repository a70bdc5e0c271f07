"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the workload's inputs under
``.bench_out/`` (``--seed`` draws the parts that vary), drives the
program (``server_spark``) through its public functions, checks every
output outside the timed window and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (spans are written to
``.bench_out/trace-<workload>-<seed>.json``). The exit code is 0 only
when every check passed. See perfbench/README.md for what each metric
means on each workload.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics as catalogue  # noqa: E402
from tracing import Tracer, TreeRss, now  # noqa: E402


@dataclass
class Context:
    """What a workload gets: its seed, window, tracer, scratch dir and
    the memory sampler it wraps its timed window in."""

    workload: str
    seed: int
    seconds: float
    tracer: Tracer
    work: Path
    cpus: int
    rss: TreeRss | None = None
    spark: object = None
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def fail(self, n: int, why: str) -> None:
        """Count ``n`` failed operations (already counted as attempted)."""
        self.failed += n
        if n and len(self.problems) < 20:
            self.problems.append(why)

    def start_spark(self):
        """Start the program's session (``session.get_spark``)."""
        from server_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def repeat_setup(self, reps: int, extra=None) -> list[float]:
        """Set the program up ``reps`` more times on the running JVM:
        stop the session, then time a fresh ``get_spark`` followed by
        ``extra()`` (e.g. cache warming). Returns the seconds each
        set-up took; the teardown before it is not counted."""
        out = []
        for _ in range(reps):
            self.spark.catalog.clearCache()
            self.spark.stop()
            t = now()
            self.start_spark()
            if extra is not None:
                extra()
            out.append(now() - t)
        return out

    def stop_spark(self) -> None:
        """Stop the session and the JVM behind it, and wait for both."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _versions() -> dict:
    import duckdb
    import pyspark

    commit = None
    head = ROOT / ".git" / "HEAD"
    if head.exists():  # a checkout without git history records None
        try:
            commit = subprocess.run(
                ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            commit = None
    return {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": platform.python_version(), "commit": commit}


def _pin_environment(work: Path) -> int:
    """Pin what the program reads from its environment before the JVM
    starts: cores (``local[nproc]`` and as many shuffle partitions),
    local and temporary dirs inside the checkout, driver heap and UTC.
    The heap is pinned at 1g rather than the program's 8g default: it
    keeps the JVM's lazy heap growth, the widest source of run-to-run
    spread in memory readings, small."""
    cpus = len(os.sched_getaffinity(0))
    local_dirs, tmp = work / "spark-local", work / "tmp"
    local_dirs.mkdir()
    tmp.mkdir()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(local_dirs)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python workers import server_spark too
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    sys.path.insert(0, str(ROOT))
    return cpus


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=catalogue.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "server_spark" / "__init__.py").is_file():
        print(f"perfbench: no server_spark package under {ROOT}; run from "
              "a full checkout of the repository", file=sys.stderr)
        return 2

    out = ROOT / ".bench_out"
    work = out / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cpus = _pin_environment(work)
    ctx = Context(args.workload, args.seed, args.seconds,
                  Tracer(enabled=bool(args.trace)), work, cpus, TreeRss())

    import workloads

    try:
        with ctx.rss:
            try:
                result = workloads.RUNNERS[args.workload](ctx)
            finally:
                ctx.stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["rss_mb"] = ctx.rss.median_mb
    result["bench.peak_rss_mb"] = ctx.rss.peak_mb
    if args.trace:
        t = ctx.tracer
        result["trace.overhead_pct"] = 100.0 * t.overhead_s / max(result.pop("_wall_s"), 1e-9)
        t.dump(str(out / f"trace-{args.workload}-{args.seed}.json"))

    wanted = catalogue.PER_LAYER if args.trace else catalogue.END_TO_END
    metrics = {m.name: {"value": float(result.get(m.name, 0.0)), "unit": m.unit}
               for m in wanted}
    correct = ctx.failed == 0 and ctx.attempted > 0
    info = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
            "seconds": args.seconds, "trace": args.trace, **_versions(),
            "problems": ctx.problems}
    print(json.dumps(info), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
