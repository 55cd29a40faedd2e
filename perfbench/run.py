"""Repository benchmark: one workload per run, measured from outside.

Run from the repository root::

    python3 perfbench/run.py --workload hedera_two_tier --seed 1 --seconds 5 --trace 0

Every input is generated from ``--seed``.  A run sets up ``SETUP_ROUNDS``
times (fresh SparkContext, staged inputs, pipeline objects); the first
round also launches the JVM, and the median of the other rounds is
``setup_s``.  The last round's objects are then measured.  With
``--trace 0`` the result line carries every end-to-end metric named in
``BENCHMARK.json``; with ``--trace 1`` every per-layer metric (zero for a
layer the workload does not run), and the spans go to
``.perfbench/spans/<workload>-seed<seed>.jsonl``.  The last line of
standard output is the JSON result; details go to standard error.
Scratch data lives in ``.perfbench/work-<pid>`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
#: set-up rounds per run: the first also launches the JVM, ``setup_s``
#: is the median of the others
SETUP_ROUNDS = 4
#: driver heap of the measured session, fixed in size (-Xms = -Xmx) so
#: heap resizing does not move peak RSS from run to run; the machine is
#: shared, so the program's 16g default is not used
DRIVER_MEMORY = "3g"
#: task slots: half the machine's cores, so that the task threads, the
#: Python workers they feed, the Python driver, the JVM's compiler and
#: collector threads and the load generator do not queue for a core
SPARK_CPUS = max(1, (os.cpu_count() or 2) // 2)
#: progress updates a streaming query keeps (Spark's default is 100)
PROGRESS_RETAINED = 10_000


class Context:
    def __init__(self, args, root: str, work: str, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = root
        self.work = work
        self.tracer = tracer
        self.bench_dir = BENCH_DIR
        self.spark = None

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def new_session(self) -> float:
        """Build a fresh session with the program's ``get_spark``; returns
        its wall time."""
        from hedera_etl_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cpus=SPARK_CPUS,
            extra_confs={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # every micro-batch of a run stays in recentProgress
                "spark.sql.streaming.numRecentProgressUpdates": str(PROGRESS_RETAINED),
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
                    " -XX:-UsePerfData",
            },
        )
        return time.perf_counter() - t0


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def workload_class(name: str):
    if name == "hedera_two_tier":
        from wl_hedera import HederaTwoTier

        return HederaTwoTier
    if name == "corpus":
        from wl_corpus import Corpus

        return Corpus
    raise ValueError(f"unknown workload {name!r}")


def run_workload(ctx: Context, name: str, spec: dict) -> dict:
    import harness as H

    tr = ctx.tracer
    load_start = os.getloadavg()[0]
    wl = workload_class(name)(ctx)
    setup, get_spark = [], []
    staged = None
    for r in range(SETUP_ROUNDS):
        ctx.stop_session()  # tearing the last round down is not set-up
        with tr.span("setup.round", parent="run", round=r):
            t0 = time.perf_counter()
            get_spark.append(ctx.new_session())
            staged = wl.stage(os.path.join(ctx.work, f"round{r}"))
            setup.append(time.perf_counter() - t0)
        if r:
            shutil.rmtree(os.path.join(ctx.work, f"round{r - 1}"), ignore_errors=True)
    with tr.span("measure", parent="run"):
        e2e = wl.run(staged)
    e2e["setup_s"] = H.median(setup[1:])
    e2e["peak_rss_mb"] = H.peak_rss_mb()
    load_end = os.getloadavg()[0]

    detail = {
        "detail": "perfbench", "workload": name, "seed": ctx.seed, "trace": ctx.trace,
        "nproc": os.cpu_count(), "loadavg_1m_start": load_start, "loadavg_1m_end": load_end,
        "setup_rounds_s": setup, "samples": wl.samples,
        "checks": {k: {"got": g, "want": w} for k, (g, w) in wl.checks.items()},
    }
    print(json.dumps(detail, default=str), file=sys.stderr)

    if ctx.trace:
        layer = dict(wl.layer)
        layer["env.nproc"] = os.cpu_count()
        layer["env.loadavg_1m_start"] = load_start
        layer["env.loadavg_1m_end"] = load_end
        layer["session.get_spark_s"] = get_spark[0]
        layer["session.get_spark_warm_s"] = H.median(get_spark[1:])
        layer["setup.rounds"] = len(setup)
        layer["setup.cold_s"] = setup[0]
        for k, v in e2e.items():
            layer[f"traced.{k}"] = v
        tr.write(os.path.join(ctx.root, ".perfbench", "spans", f"{name}-seed{ctx.seed}.jsonl"))
        wanted = spec["per_layer"]
        unknown = sorted(set(layer) - {m["name"] for m in wanted})
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        values = {m["name"]: layer.get(m["name"], 0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in e2e]
        if missing:
            raise KeyError(f"end-to-end metrics not measured: {missing}")
        values = {m["name"]: e2e[m["name"]] for m in wanted}
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted
        },
    }


def stop_jvm() -> None:
    """Stop the gateway JVM too, so no process outlives the run."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if gw is not None:
            gw.shutdown()
    finally:
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="hedera-etl-spark benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    spec = load_spec(root)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if importlib.util.find_spec("hedera_etl_spark") is None:
        print("perfbench: the hedera_etl_spark package is not in this checkout", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the package; scratch files stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (root, os.environ.get("PYTHONPATH")) if x
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's helper JVM
    tempfile.tempdir = None

    import harness as H

    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = Context(args, root, work, H.Tracer(bool(args.trace), f"{args.workload}-{args.seed}"))
    try:
        result = run_workload(ctx, args.workload, spec)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t_stop = time.perf_counter()
        try:
            ctx.stop_session()
        finally:
            stop_jvm()
            shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: teardown {time.perf_counter() - t_stop:.2f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
