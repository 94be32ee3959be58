"""Dashboard, ingest and curation benchmark for the flink_spark engine.

    python3 perfbench/run.py --workload {dashboard,ingest,curation}
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. Each run is one fresh process:
it writes seeded fixtures, starts Spark with ``nproc`` task threads
through ``flink_spark.session.get_spark``, runs the workload's unit
untimed to warm the JVM, then repeats the unit for ``--seconds`` and
reports medians over the timed units. Every output is checked against
results computed apart from the engine (DuckDB). The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or the per-layer ones with
``--trace 1``). The line before it is a readable report with the
workload's named figures. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

import proc
from statistics import median

T_START = proc.process_start_epoch()

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT_DIR = os.path.join(REPO, ".perfbench_out")
RUN_PARENT = os.path.join(REPO, ".perfbench_run")

# Bounded in BENCHMARK.json: set-up time and the process tree's CPU
# seconds per timed unit. Wall time per unit and peak memory are
# printed in the report line but not bounded: on a shared host they
# move with CPU steal and heap growth beyond any usable bound
# (perfbench/README.md has the measured spreads).
END_TO_END = {"setup_s": "s", "cpu_s_per_unit": "s"}


class Ctx:
    """What a workload needs: the session, its data and run directory,
    the time budget, the tracer and the pids to leave out of CPU sums."""

    def __init__(self, args, root: str, data: str, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = root
        self.data = data
        self.tracer = tracer
        self.nproc = args.cpus
        self.spark = None
        self.exclude: tuple[int, ...] = ()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.units: list[dict] = []
        self.report: dict = {}
        self.layers: dict = {}
        self.steal = 0.0

    def op(self, errs: list[str]) -> bool:
        """Count one operation; a mismatch fails it and is kept."""
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs)
        return not errs

    def cpu(self) -> dict[str, float]:
        return proc.cpu_split(self.exclude)

    def unit(self, wall_s: float, c0: dict, c1: dict, t0: float,
             t1: float) -> None:
        """Record one timed unit: its wall seconds, CPU delta per part and
        its [t0, t1] epoch interval (for the event-log window)."""
        split = {k: c1[k] - c0[k] for k in c0}
        self.units.append({"wall_s": wall_s, "cpu_s": sum(split.values()),
                           "cpu": split, "t0": t0, "t1": t1})

    def timed_loop(self, run_unit, once: bool = False) -> None:
        """Repeat ``run_unit(i)`` until ``--seconds`` have passed, at
        least once (exactly once with ``once``); the host steal share is
        taken over the same window."""
        h0, start = proc.host_times(), time.monotonic()
        i = 0
        while i == 0 or (not once and
                         time.monotonic() - start < self.seconds):
            run_unit(i)
            i += 1
        self.steal = proc.steal_share(h0, proc.host_times())


def start_spark(ctx: Ctx, local_dir: str):
    from flink_spark.session import get_spark
    from flink_spark.sources import load

    t0 = time.monotonic()
    with ctx.tracer.span("get_spark"):
        spark = get_spark(app_name=f"perfbench-{ctx.seed}", cpus=ctx.nproc,
                          local_dir=local_dir)
    t1 = time.monotonic()
    with ctx.tracer.span("first_job"):
        load(spark, ctx.data, "events").count()
    t2 = time.monotonic()
    ctx.layers["session.get_spark_s"] = t1 - t0
    ctx.layers["session.first_job_s"] = t2 - t1
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under this one,
    and wait until each has ended."""
    from pyspark import SparkContext

    kids = proc.tree()[1:]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        p = getattr(gw, "proc", None)
        if p is not None:
            try:
                p.stdin.close()
            except Exception:
                pass
            try:
                p.wait(timeout=60)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
    for pid in proc.wait_gone(kids, 30):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    proc.wait_gone(kids, 10)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "ingest", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 1,
                    help="Spark task threads (default: nproc; 1 gives the "
                         "single-threaded baseline of README.md)")
    args = ap.parse_args()

    # the engine under test lives in the checkout root; without it the
    # run must fail before producing any result
    sys.path.insert(0, REPO)
    import flink_spark  # noqa: F401

    from layers import per_layer
    from spans import ENGINE_KEYS, Tracer, engine_summary

    root = os.path.join(RUN_PARENT, str(os.getpid()))
    shutil.rmtree(root, ignore_errors=True)
    data, tmp = os.path.join(root, "data"), os.path.join(root, "tmp")
    evlog = os.path.join(root, "eventlog")
    for d in (data, tmp, evlog):
        os.makedirs(d)
    # every scratch file of the run (Spark local dir, JVM and Python
    # temp files, warehouse, checkpoints) lands under `root`; the JVMs
    # keep no perf-data file, which HotSpot writes to the system temp
    # directory whatever java.io.tmpdir says
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData"]))
    submit = []
    if args.trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", f"spark.eventLog.dir=file://{evlog}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    # the session default heap (12 GB) is sized for much larger inputs;
    # these need well under 1 GB, and the cap bounds how far G1 may grow
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.chdir(root)

    tracer = Tracer(bool(args.trace))
    ctx = Ctx(args, root, data, tracer)
    try:
        # the inputs are the benchmark's work, not the program's set-up:
        # they are written by a child process whose time setup_s leaves out
        f0 = time.time()
        subprocess.run([sys.executable, os.path.join(HERE, "fixtures.py"),
                        data, str(args.seed)], check=True)
        fixtures_s = time.time() - f0
        spark = ctx.spark = start_spark(ctx, os.path.join(root, "local"))
        setup_s = time.time() - T_START - fixtures_s
        if args.workload == "dashboard":
            import dashboard as wl
        elif args.workload == "ingest":
            import ingest as wl
        else:
            import curation as wl
        w0 = time.time()
        try:
            wl.run(ctx)
        finally:
            rss = proc.peak_rss_mb(ctx.exclude)
            w1 = time.time()
            stop_spark(spark)
        ctx.report.update(workload_s=w1 - w0, stop_s=time.time() - w1)
        units = ctx.units
        if args.trace:
            t0 = min(u["t0"] for u in units) * 1000
            t1 = max(u["t1"] for u in units) * 1000
            eng = engine_summary(evlog, t0, t1)
            for k in ENGINE_KEYS:
                ctx.layers[f"engine.{k}"] = eng[k] / len(units)
            for k in ("jvm", "jvm_jit", "jvm_gc", "python_workers",
                      "driver_python"):
                ctx.layers[f"cpu.{k}_s"] = median([u["cpu"][k] for u in units])
            ctx.layers["host.steal_share"] = ctx.steal
            os.makedirs(OUT_DIR, exist_ok=True)
            tracer.write(
                os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "layers": ctx.layers})
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(RUN_PARENT)
        except OSError:
            pass

    e2e = {
        "setup_s": setup_s,
        "cpu_s_per_unit": median([u["cpu_s"] for u in units]),
        "wall_s_per_unit": median([u["wall_s"] for u in units]),
        "peak_rss_mb": rss,
    }
    report = {"workload": args.workload, "seed": args.seed,
              "timed_units": len(units), **e2e, "fixtures_s": fixtures_s,
              **ctx.report,
              "cpu_split": {k: median([u["cpu"][k] for u in units])
                            for k in units[0]["cpu"]},
              "host.steal_share": round(ctx.steal, 4),
              "units": [[round(u[k], 3) for k in ("wall_s", "cpu_s")]
                        for u in units],
              "run_s": time.time() - T_START}
    if ctx.errors:
        print("check failures:\n  " + "\n  ".join(ctx.errors[:20]),
              file=sys.stderr)
    print("report " + json.dumps(report))
    if args.trace:
        metrics = {k: {"value": ctx.layers.get(k, 0.0), "unit": u}
                   for k, u in per_layer().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not ctx.errors, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
