"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload forex_etl --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from the
seed under ``perfbench/_work/``, sets up Spark, runs timed passes of
the workload for ``--seconds`` (at least one), checks
every output untimed and prints one JSON object as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run makes one traced pass and reports the per-layer metrics. The full report (host stamp, every step, every span)
goes to ``perfbench/_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import threading
import time
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def parse_args(argv=None) -> argparse.Namespace:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--profile", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the benchmark's own tests")
    return ap.parse_args(argv)


def calibrate(iters: int = 3) -> float:
    """BASELINE.md's host-anchoring loop: seconds per iteration of
    ``((q-c)**2).sum(axis=2)`` over (2000, 500, 64); ~0.125 on a healthy
    host. Median of ``iters`` after one warm-up iteration."""
    import numpy as np

    rng = np.random.default_rng(0)
    q = rng.normal(size=(2000, 1, 64))
    c = rng.normal(size=(1, 500, 64))
    ((q - c) ** 2).sum(axis=2)
    times = []
    for _ in range(iters):
        t0 = time.monotonic()
        ((q - c) ** 2).sum(axis=2)
        times.append(time.monotonic() - t0)
    return median(times)


# -- process tree ------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop_event.wait(self.period)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=10)


# -- Spark lifetime ----------------------------------------------------------


def shutdown_spark() -> None:
    """Stop the session, end the JVM and wait for every process the run
    started (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    pids = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)
    for pid in pids:  # reap any that are still our children
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


# -- metrics -----------------------------------------------------------------


def step_medians(passes) -> dict[str, float]:
    """Median time per step name over all its runs, in first-seen order."""
    seen: dict[str, list[float]] = {}
    for p in passes:
        for name, secs in p.steps:
            seen.setdefault(name, []).append(secs)
    return {name: median(v) for name, v in seen.items()}


def end_to_end(setup_s: float, passes) -> dict[str, dict]:
    """Set-up time and the pass time: the sum over the steps of each
    step's median. Both are long windows of work, so they average out
    more of a shared host's drift than any single short step does."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": sum(step_medians(passes).values()), "unit": "s"},
    }


PER_LAYER_UNITS = {"_s": "s", "_mb": "MB", "spark_jobs": "count", "spark_stages": "count"}


def layer_unit(name: str) -> str:
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio"


def host_stamp(args, calibration: float) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": _commit(),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "profile": args.profile,
        "calibration_s_per_iter": calibration,
    }


def _commit() -> str:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:  # not a git checkout
        return "unknown"


# -- the run -----------------------------------------------------------------


def isolate(work: Path) -> None:
    """Fresh temp and Spark local dirs under the run's work dir, set
    before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))


def setup(wl):
    """Session, registry and warm-up, timed from the package import."""
    t0 = time.monotonic()
    from finance_pipeline_spark import registry, session

    spark = session.get_session("perfbench")
    t1 = time.monotonic()
    registry.load_all()
    t2 = time.monotonic()
    wl.warmup(spark)
    t3 = time.monotonic()
    return spark, {
        "total": t3 - t0,
        "get_session": t1 - t0,
        "load_all": t2 - t1,
        "warmup": t3 - t2,
    }


def run(args, work: Path, report: dict) -> dict:
    import workloads
    from spans import Tracer, wrap

    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.profile)
    t = time.monotonic()
    wl.prepare()
    report["generate_s"] = time.monotonic() - t
    calibration = calibrate()
    report["host"] = host_stamp(args, calibration)

    sampler = RssSampler()
    if args.trace:  # sampling /proc costs CPU; keep it out of timed runs
        sampler.start()
    spark, setup_times = setup(wl)
    report["setup"] = setup_times
    report["host"]["driver_memory"] = spark.conf.get("spark.driver.memory")

    passes, failed, attempted, errors = [], 0, 0, []
    t_meas = time.monotonic()
    if args.trace:
        tracer = Tracer(spark, run_id=work.name)
        with wrap(tracer, wl.trace_targets()):
            passes = [wl.run_pass(spark, 0, tracer)]
    else:
        while True:
            t = time.monotonic()
            passes.append(wl.run_pass(spark, len(passes), None))
            took = time.monotonic() - t
            if time.monotonic() - t_meas + took > args.seconds:
                break
    checks = [*passes, wl.final_check(spark)]
    for p in checks:
        attempted += p.attempted
        failed += len(p.errors)
        errors += p.errors
    report["measure_s"] = time.monotonic() - t_meas

    report["passes"] = [p.steps for p in passes]
    report["errors"] = errors
    if args.trace:
        sampler.stop()
        traced_s = sum(s for _, s in passes[0].steps)
        metrics = dict.fromkeys(workloads.per_layer_names(), 0.0)
        metrics.update({
            "session.get_session_s": setup_times["get_session"],
            "registry.load_all_s": setup_times["load_all"],
            "session.warmup_s": setup_times["warmup"],
            "host.calibration_s": calibration,
            "process.peak_rss_mb": sampler.peak / 2**20,
            "trace.overhead_frac": tracer.overhead_s / traced_s,
        })
        metrics.update(wl.layer_metrics(tracer))
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
        tracer.dump(HERE / "_out" / f"trace-{work.name}.json", {"host": report["host"]})
    else:
        metrics = end_to_end(setup_times["total"], passes)
    report["step_medians"] = step_medians(passes)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    sys.path.insert(0, str(HERE))
    args = parse_args(argv)
    if not (ROOT / "finance_pipeline_spark" / "__init__.py").is_file():
        print("perfbench: finance_pipeline_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(ROOT / "tools"))

    # Everything the JVM, py4j or the package prints goes to stderr; the
    # result is the only line written to the real stdout.
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    # A terminated run still cleans up: SIGTERM unwinds through finally.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    report: dict = {}
    isolate(work)
    try:
        result = run(args, work, report)
    finally:
        shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
    report["result"] = result
    out = HERE / "_out" / f"report-{work.name}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(report, indent=1, default=str))
    print(f"perfbench: host {json.dumps(report['host'])}", file=sys.stderr)
    for e in report["errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(f"perfbench: report {out}", file=sys.stderr)
    real_stdout.write(json.dumps(result) + "\n")
    real_stdout.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
