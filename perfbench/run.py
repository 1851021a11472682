"""Workflow benchmark for model_audit_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see workloads.py) in one Spark session on local[4]:
generates its inputs from the seed, sets up (session start plus one
warm-up pass, timed as setup_s), then runs timed passes for about S
seconds and at least three of them, checking every operation's output
after its pass.
The last stdout line is one JSON object: correct, attempted, failed and
the metrics. --trace 0 reports the end-to-end metrics; --trace 1 runs
traced (Spark event log plus a job group per span), reports the
per-layer metrics and writes the per-layer records under .perfbench_out/.
See perfbench/README.md for every metric and workload.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CPUS = 4
# The first timed pass still runs 10-30% slower than the later ones while
# the driver JVM compiles; with three passes the median never averages it
# in, as the median of two would.
MIN_PASSES = 3

LAYERS = (
    "session", "sources", "curate", "dedup", "cluster", "decontam",
    "packing", "similarity", "engine", "report", "persistence",
)


def _dur(name):
    return lambda s: s.dur if s.name == name else 0.0


def _jobs(prefix):
    return lambda s: s.jobs if s.name.startswith(prefix) else 0


def _tasks(prefix, key):
    return lambda s: s.self_tasks[key] if s.name.startswith(prefix) else 0


def _count(name, key):
    return lambda s: s.counts.get(key, 0) if s.name == name else 0


def _layer(layer, key):
    if layer == "session":  # everything set-up ran, inner spans included
        return lambda s: (
            s.total_tasks[key] if s.name == "session.warmup" else 0
        )
    return lambda s: s.self_tasks[key] if s.layer == layer else 0


# (metric, unit, passes, value): value(span) is summed over the spans of
# each pass, then the median is taken over the set-up pass or over the
# traced timed passes
SPAN_METRICS = [
    ("session.start_s", "s", "setup", _dur("session.start")),
    ("session.warmup_s", "s", "setup", _dur("session.warmup")),
    ("curate.build_s", "s", "timed", _dur("curate.build")),
    ("curate.exec_s", "s", "timed", _dur("curate.exec")),
    ("curate.jobs", "count", "timed", _jobs("curate.")),
    ("curate.tasks", "count", "timed", _tasks("curate.", "tasks")),
    ("curate.executor_cpu_s", "s", "timed",
     _tasks("curate.", "executor_cpu_s")),
    ("curate.shuffle_write_mb", "MB", "timed",
     _tasks("curate.", "shuffle_write_mb")),
    ("dedup.exec_s", "s", "timed", _dur("dedup.exec")),
    ("cluster.build_s", "s", "timed", _dur("cluster.build")),
    ("cluster.exec_s", "s", "timed", _dur("cluster.exec")),
    ("cluster.jobs", "count", "timed", _jobs("cluster.")),
    ("decontam.exec_s", "s", "timed", _dur("decontam.exec")),
    ("decontam.shuffle_write_mb", "MB", "timed",
     _tasks("decontam.", "shuffle_write_mb")),
    ("packing.exec_s", "s", "timed", _dur("packing.exec")),
    ("engine.audit_build_s", "s", "timed", _dur("engine.audit")),
    ("engine.audit_jobs", "count", "timed", _jobs("engine.audit")),
    ("report.render_s", "s", "timed", _dur("report.render")),
    ("report.jobs", "count", "timed", _jobs("report.render")),
    ("report.tasks", "count", "timed", _tasks("report.render", "tasks")),
    ("verify.s", "s", "timed", _dur("engine.verify")),
    ("verify.jobs", "count", "timed", _jobs("engine.verify")),
    ("persistence.release_s", "s", "timed", _dur("persistence.release")),
    ("persistence.tracked_after_release", "count", "timed",
     _count("persistence.release", "tracked_after_release")),
    ("persistence.cached_after_release", "count", "timed",
     _count("persistence.release", "cached_after_release")),
    ("ann.build_s", "s", "setup", _dur("ann.build")),
    ("ann.probe_s", "s", "timed", _dur("ann.probe")),
    ("ann.probe_tasks", "count", "timed", _tasks("ann.probe", "tasks")),
] + [
    (f"{layer}.{key}", "ms", "setup" if layer == "session" else "timed",
     _layer(layer, key))
    for layer in LAYERS
    for key in ("task_overhead_ms", "gc_ms")
]

# run-level figures from Workload.extra_metrics, 0 where not measured
EXTRA_METRICS = [
    ("dedup.candidate_pairs", "count"),
    ("dedup.verified_pairs", "count"),
    ("dedup.verify_yield", "ratio"),
    ("ann.recall_at_10", "ratio"),
]


def start_session(name: str, work: Path, traced: bool):
    from model_audit_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name=f"perfbench-{name}",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, wl, tracer):
        self.wl = wl
        self.tr = tracer
        self.failed = 0
        self.next_pass = 0
        self.pass_seconds: dict[int, float] = {}
        self.ops: list = []
        self.unchecked: list = []

    def one_pass(self, pass_no: int, check: bool = True) -> float:
        """Run and time one pass, then check it untimed, or at the next
        check() when `check` is false."""
        self.tr.pass_no = pass_no
        t0 = time.perf_counter()
        try:
            ops = self.wl.run_pass()
        except Exception:
            dt = time.perf_counter() - t0
            self.failed += 1
            print(f"# FAILED {self.wl.name}/{self.wl.current} "
                  f"(pass {pass_no}) raised:", flush=True)
            traceback.print_exc(file=sys.stdout)
            from model_audit_spark import persistence

            persistence.release_all()
            return dt
        dt = time.perf_counter() - t0
        self.unchecked.append((pass_no, ops))
        if check:
            self.check()
        if pass_no >= 0:
            self.pass_seconds[pass_no] = dt
            self.ops.extend(ops)
        # collect the pass's garbage on both sides between passes, so no
        # pass pays for the one before it
        gc.collect()
        self.wl.spark.sparkContext._jvm.java.lang.System.gc()
        return dt

    def check(self) -> None:
        """Check every pass run since the last check."""
        for pass_no, ops in self.unchecked:
            try:
                bad = self.wl.check_pass(ops)
            except Exception:
                print(f"# FAILED {self.wl.name} check of pass {pass_no} "
                      "raised:")
                traceback.print_exc(file=sys.stdout)
                bad = [(o.name, "check raised") for o in ops]
            for name in sorted({n for n, _ in bad}):
                self.failed += 1
                for n, msg in bad:
                    if n == name:
                        print(f"# FAILED {self.wl.name}/{name} "
                              f"(pass {pass_no}): {msg}", flush=True)
        self.unchecked = []

    def measure(self, seconds: float) -> list[int]:
        """Timed passes for about `seconds` of pass time, and at least
        MIN_PASSES of them: past the minimum a pass is started only when
        at least half of one more of the last pass's length fits. Returns
        the passes that completed."""
        first, spent = self.next_pass, 0.0
        while True:
            dt = self.one_pass(self.next_pass)
            spent += dt
            self.next_pass += 1
            if (self.next_pass - first >= MIN_PASSES
                    and spent + dt / 2 > seconds):
                break
        return [p for p in range(first, self.next_pass)
                if p in self.pass_seconds]

    def median_pass(self, passes) -> float:
        return statistics.median(self.pass_seconds[p] for p in passes)


def end_to_end(wl, run, setup_s, seconds) -> dict:
    passes = run.measure(seconds)
    if not passes:
        return {}
    pass_s = run.median_pass(passes)
    print(f"# setup_s {setup_s:.4f} s (n=1)")
    print(f"# pass_s {pass_s:.4f} s (median, n={len(passes)}; passes "
          + " ".join(f"{run.pass_seconds[p]:.3f}" for p in passes) + ")")
    print(f"# docs_per_s {wl.docs_per_pass / pass_s:.2f} 1/s "
          f"({wl.docs_per_pass} docs per pass)")
    for op in dict.fromkeys(o.name for o in run.ops):
        xs = [o.seconds for o in run.ops if o.name == op]
        print(f"# {op}_p50_s {statistics.median(xs):.4f} s (median, "
              f"n={len(xs)}, min {min(xs):.4f}, max {max(xs):.4f})")
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "docs_per_s": (wl.docs_per_pass / pass_s, "1/s"),
    }


def per_layer(wl, run, setup_s, seconds, spark, work, out_dir, seed):
    """Timed passes that alternate traced (a job group per span) and
    plain, traced first, so the tracing overhead is measured against
    passes run in the same session; the event log is on for both.
    Returns the per-layer metrics of the traced passes and writes the
    per-layer records."""
    from spans import attribute_tasks, per_pass, read_event_log
    from spans import write_records

    tracer = run.tr
    timed, plain = [], []
    tries = {True: 0, False: 0}
    spent = 0.0
    # at least one pass of each kind, even when one pass outlasts `seconds`;
    # otherwise as Runner.measure
    while spent < seconds or not tries[False]:
        tracer.traced = tries[True] <= tries[False]
        tries[tracer.traced] += 1
        n = run.next_pass
        dt = run.one_pass(n)
        spent += dt
        run.next_pass += 1
        if n in run.pass_seconds:
            (timed if tracer.traced else plain).append(n)
        if tries[False] and spent + dt / 2 > seconds:
            break
    tracer.traced = False
    extra = wl.extra_metrics()
    spark.stop()
    tasks = read_event_log(sorted((work / "eventlog").iterdir()))
    orphans = attribute_tasks(tracer.spans, tasks)

    metrics = {}
    sets = {"setup": {-1}, "timed": set(timed)}
    for name, unit, which, fn in SPAN_METRICS:
        if name.endswith("_after_release"):
            v = per_pass(tracer.spans, fn, sets[which], max)
        else:
            v = per_pass(tracer.spans, fn, sets[which])
        metrics[name] = (v, unit)
    for name, unit in EXTRA_METRICS:
        metrics[name] = (float(extra.get(name, 0)), unit)
    overhead = (
        run.median_pass(timed) - run.median_pass(plain)
        if timed and plain else 0.0
    )
    metrics["trace.overhead_s"] = (overhead, "s")

    out_dir.mkdir(exist_ok=True)
    rec = out_dir / f"{wl.name}-seed{seed}-layers.json"
    write_records(rec, tracer.spans, {
        "workload": wl.name, "seed": seed, "inputs": wl.sizes,
        "setup_s": setup_s, "traced_passes": timed,
        "plain_passes": plain, "pass_seconds": run.pass_seconds,
        "tasks_outside_spans": orphans,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    })
    print(f"# per-layer records: {rec.relative_to(ROOT)}")
    print(f"# trace.overhead_s {overhead:.4f} s (traced minus plain "
          f"pass_s, {len(timed)}+{len(plain)} passes)")
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "model_audit_spark").is_dir():
        print("perfbench: model_audit_spark not found beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    for d in ("tmp", "spark-local", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_DRIVER_MEM": "2g",
        "TMPDIR": str(work / "tmp"),
        # spark-submit's launcher JVM, which builds the driver command
        "SPARK_LAUNCHER_OPTS":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    })
    traced = bool(args.trace)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        tracer = Tracer(traced=traced)
        wl = WORKLOADS[args.workload](args.seed, work, tracer)
        print(f"# {wl.name} seed={args.seed} inputs "
              + " ".join(f"{k}={v}" for k, v in wl.sizes.items()),
              flush=True)
        run = Runner(wl, tracer)

        t0 = time.perf_counter()
        with tracer.span("session.start", "session"):
            spark = start_session(wl.name, work, traced)
        tracer.bind(spark)
        wl.bind(spark)
        tracer.pass_no = -1
        with tracer.span("session.warmup", "session"):
            wl.prepare()
            run.one_pass(-1, check=False)
        setup_s = time.perf_counter() - t0
        run.check()
        print(f"# warm-up checked in "
              f"{time.perf_counter() - t0 - setup_s:.2f} s", flush=True)

        if traced:
            metrics = per_layer(
                wl, run, setup_s, args.seconds, spark, work,
                ROOT / ".perfbench_out", args.seed,
            )
        else:
            metrics = end_to_end(wl, run, setup_s, args.seconds)
            spark.stop()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's work dir is still there
            pass

    if not metrics:
        print("perfbench: no pass completed", file=sys.stderr)
        return 1
    print(f"# failed_frac {run.failed / wl.attempted:.4f} "
          f"({run.failed}/{wl.attempted} operations)")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": wl.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
