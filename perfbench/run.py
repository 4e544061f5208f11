"""Benchmark of the engine's two jobs (PBF -> geobuf conversion, image
tiling) and its hot operators, run from the root of a checkout:

    python3 perfbench/run.py --workload jobs --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``jobs`` (the osm_make conversion, then the
tile_images chain) and ``query_mix`` (fresh calls to the hot operators).
One process per run, on ``local[<cpus this process may use>]`` with a
fixed JVM heap.  Inputs are generated from ``--seed`` while the session
starts.  The run makes the workload's cold warm-up pass, then runs timed
passes for ``--seconds`` and at least the workload's ``timed_passes``,
checking every call's output; each end-to-end metric is the median over
the timed passes.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced passes (traced first), prints the per-layer metrics,
and writes the spans to ``.perfbench_out/``.  The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the
line before it gives the run's settings and every metric with its
sample count.
"""

from __future__ import annotations

import os

# BLAS/OpenMP pools must be single-threaded before anything loads numpy
# (pyspark can import it before the engine's session module pins them)
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_HEAP = "3g"


def make_workload(name: str, tiny: bool = False):
    """Sizes keep a run, with its session start and cold first pass,
    within about a minute (tiny: the self-test size)."""
    import workloads as w

    if name == "jobs":
        if tiny:
            return w.Jobs(w.OsmMake(300, 20, 6, node_shards=2), w.TileImages(60, n_buckets=8))
        return w.Jobs(w.OsmMake(15_000, 800, 80, node_shards=4), w.TileImages(1000, n_buckets=16))
    if name == "query_mix":
        if tiny:
            return w.QueryMix(2_000, 2_000, 200, 200, sample=20)
        return w.QueryMix(30_000, 20_000, 2_000, 1_500)
    raise ValueError(name)


WORKLOADS = ("jobs", "query_mix")

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("items_per_s", "1/s")]


def per_layer_spec():
    """(metric, unit, f(pass_spans, pass_ops) -> value) for the traced run.
    ``*_s`` of a span is its self time; counts are the span's own jobs'."""
    from spans import self_time

    def self_s(name):
        return lambda sp, ops: sum(self_time(sp, i) for i, s in enumerate(sp) if s.name == name)

    def count(layer, key, scale=1.0, agg=sum):
        return lambda sp, ops: agg([s.counts.get(key, 0) for s in sp
                                    if s.name.split(".")[0] == layer] or [0]) * scale

    def whole(key, scale=1.0):
        return lambda sp, ops: sum(s.counts.get(key, 0) for s in sp) * scale

    def residue(layer):
        return lambda sp, ops: sum(o.residue_rdds for o in ops
                                   if layer == "pass" or o.name.split(".")[0] == layer)

    return [
        ("images.decode_s", "s", self_s("images.decode")),
        ("images.python_rows_in", "count", count("images", "python_rows_in")),
        ("lineage.decode_features_s", "s", self_s("lineage.decode_features")),
        ("lineage.tile_membership_s", "s", self_s("lineage.tile_membership")),
        ("lineage.tile_rollup_s", "s", self_s("lineage.tile_rollup")),
        ("lineage.jobs", "count", count("lineage", "jobs")),
        ("lineage.bytes_written", "bytes", count("lineage", "output_bytes")),
        ("pbf.read_pbf_s", "s", self_s("pbf.read_pbf")),
        ("pbf.input_mb", "MB", count("pbf", "input_bytes", 1e-6)),
        ("pbf.python_rows_out", "count", count("pbf", "python_rows_out")),
        ("osm.decode_s", "s", self_s("osm.decode")),
        ("osm.node_features_s", "s", self_s("osm.node_features")),
        ("osm.way_features_s", "s", self_s("osm.way_features")),
        ("osm.relation_features_s", "s", self_s("osm.relation_features")),
        ("osm.shuffle_mb", "MB", count("osm", "shuffle_bytes", 1e-6)),
        ("osm.python_rows_in", "count", count("osm", "python_rows_in")),
        ("geobuf.sink_s", "s", self_s("geobuf.sink")),
        ("geobuf.bytes_out", "bytes", count("geobuf", "output_bytes")),
        ("spatial_join.tile_points_s", "s", self_s("spatial_join.tile_points")),
        ("spatial_join.tile_points_shuffle_s", "s", self_s("spatial_join.tile_points_shuffle")),
        ("spatial_join.pip_rows", "count", count("spatial_join", "python_rows_in")),
        ("spatial_join.jobs", "count", count("spatial_join", "jobs")),
        ("spatial_join.shuffle_mb", "MB", count("spatial_join", "shuffle_bytes", 1e-6)),
        ("spatial_join.task_max_over_p50", "ratio",
         count("spatial_join", "task_max_over_p50", agg=max)),
        ("spatial_join.residue_rdds", "count", residue("spatial_join")),
        ("knn.grid_knn_s", "s", self_s("knn.grid_knn")),
        ("knn.jobs", "count", count("knn", "jobs")),
        ("knn.stages", "count", count("knn", "stages")),
        ("knn.shuffle_mb", "MB", count("knn", "shuffle_bytes", 1e-6)),
        ("knn.residue_rdds", "count", residue("knn")),
        ("dedup.minhash_lsh_pairs_s", "s", self_s("dedup.minhash_lsh_pairs")),
        ("dedup.jobs", "count", count("dedup", "jobs")),
        ("dedup.shuffle_mb", "MB", count("dedup", "shuffle_bytes", 1e-6)),
        ("dedup.residue_rdds", "count", residue("dedup")),
        ("pass.exec_cpu_s", "s", whole("exec_cpu_s")),
        ("pass.gc_s", "s", whole("gc_s")),
        ("pass.spill_mb", "MB", whole("spill_bytes", 1e-6)),
        ("pass.residue_rdds", "count", residue("pass")),
        ("pass.cache_nonempty", "count", lambda sp, ops: sum(not o.cache_empty for o in ops)),
    ]


RUN_LAYER = [
    ("setup.spark_start_s", "s"), ("setup.input_s", "s"), ("setup.warmup_s", "s"),
    ("host.kernel_ms", "ms"), ("host.kernel_max_ms", "ms"), ("pass.peak_rss_mb", "MB"),
    ("trace.pass_s", "s"), ("trace.untraced_pass_s", "s"), ("trace.overhead_s", "s"),
]


def host_kernel_ms(reps: int = 16) -> float:
    """Mean wall of a fixed single-threaded numpy kernel (a sort of 2M
    doubles, ~30 ms; ~0.5 s per probe to average out sub-second jitter).
    It flags runs that landed in a slow-host window and is never used to
    rescale a metric."""
    import numpy as np

    a = np.random.default_rng(0).random(2_000_000)
    t0 = time.perf_counter()
    for _ in range(reps):
        np.sort(a)
    return (time.perf_counter() - t0) / reps * 1e3


def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of the Spark JVM plus every process it
    started (the Python daemon and workers)."""
    total = 0
    for pid in _proc_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def start_spark(work_dir: str, cpus: int, ui: bool):
    from lazyosm_spark import get_spark

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local)
    return get_spark(
        app="perfbench", cpus=cpus, driver_memory=JVM_HEAP,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work_dir} -Dderby.system.home={work_dir} -XX:-UsePerfData",
        },
    )


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _proc_tree(jvm_pid)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run in a live session: set-up, timed passes, and the
    bookkeeping of attempted and failed operations."""

    def __init__(self, spark, ctx, wl, tracer):
        self.spark, self.ctx, self.wl, self.tracer = spark, ctx, wl, tracer
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def run_pass(self, traced: bool, side_by_side: bool = False):
        """One checked pass -> (ops, first span, end span), or None if it
        raised.  ``side_by_side`` runs the pass's calls in threads (the
        untimed cold pass only)."""
        from workloads import release_caches

        self.tracer.enabled = traced
        first_span = len(self.tracer.spans)
        try:
            if side_by_side:
                calls = self.wl.calls(self.ctx)
                self.ctx.guard = False
                try:
                    with ThreadPoolExecutor(len(calls)) as pool:
                        ops = [op for got in pool.map(lambda call: call(), calls) for op in got]
                finally:
                    self.ctx.guard = True
                    release_caches(self.spark)
            else:
                ops = self.wl.run_pass(self.ctx)
        except Exception:
            self.attempted += 1
            self.failed += 1
            self.failures.append(traceback.format_exc(limit=3))
            release_caches(self.spark)
            return None
        finally:
            self.tracer.enabled = False
        self.attempted += len(ops)
        log("pass: " + ", ".join(f"{op.name} {op.wall_s:.2f}s" for op in ops))
        for op in ops:
            if op.errors:
                self.failed += 1
                self.failures.append(f"{op.name}: {'; '.join(op.errors)}")
        return ops, first_span, len(self.tracer.spans)

    def warm_up(self) -> list[float]:
        """The workload's checked warm-up passes let Python workers start,
        caches fill and the JIT settle.  The first (cold) one runs its
        calls side by side: a cold call leaves cores idle while it loads
        classes and compiles, and the cold pass is the largest part of a
        run.  -> warm-up pass walls."""
        warm_s = []
        for i in range(self.wl.warmup_passes):
            t0 = time.perf_counter()
            self.run_pass(False, side_by_side=i == 0)
            warm_s.append(time.perf_counter() - t0)
        return warm_s

    def timed(self, seconds: float, trace: bool) -> dict:
        """Passes for ``seconds``, and at least the workload's
        ``timed_passes`` (its medians need that many).  Traced runs take at
        least two and order them traced, untraced, untraced, traced, ...:
        a pass still settling then weighs on the traced side, so the
        tracing overhead is if anything overstated."""
        r = {"walls": [], "rates": [], "traced_walls": [], "traced": [], "kernel": [], "calls": {}}
        min_passes = max(self.wl.timed_passes, 2 if trace else 1)
        t_loop, n = time.perf_counter(), 0
        while n < min_passes or time.perf_counter() - t_loop < seconds:
            traced = trace and n % 4 in (0, 3)
            r["kernel"].append(host_kernel_ms())
            res = self.run_pass(traced)
            n += 1
            if res is None or any(op.errors for op in res[0]):
                continue
            ops, a, b = res
            wall = sum(op.wall_s for op in ops)
            if traced:
                r["traced_walls"].append(wall)
                r["traced"].append((a, b, ops))
            else:
                r["walls"].append(wall)
                r["rates"].append(sum(op.items for op in ops) / wall)
                for op in ops:
                    r["calls"].setdefault(op.name, []).append(op)
        return r


def per_layer_metrics(tracer, r: dict, run_vals: dict) -> dict:
    """Per-layer metrics, each the median over the traced passes."""
    out = {}
    for name, unit, f in per_layer_spec():
        vals = [f(_rebase(tracer.spans, a, b), ops) for a, b, ops in r["traced"]]
        out[name] = {"value": median(vals), "unit": unit, "n": len(vals)}
    for name, unit in RUN_LAYER:
        out[name] = {"value": median(run_vals[name]), "unit": unit, "n": len(run_vals[name])}
    return out


# per-operation names printed on the detail line: wall and, for the two
# jobs, items per second of the operation
CALL_ALIAS = {"osm_make": "osm_make_s", "tile_images": "tile_images_s",
              "spatial_join.tile_points": "tile_points_s",
              "spatial_join.tile_points_shuffle": "tile_points_skew_s",
              "knn.grid_knn": "grid_knn_s", "dedup.minhash_lsh_pairs": "minhash_lsh_s"}
RATE_ALIAS = {"osm_make": "entities_per_s", "tile_images": "images_per_s"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine must come from this checkout, never from anywhere else
    sys.path[:0] = [ROOT, HERE]
    try:
        import lazyosm_spark
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(lazyosm_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine imported from outside {ROOT}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "tests", "oracle", "reference_oracle.py")):
        print("perfbench: tests/oracle/reference_oracle.py missing", file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    os.environ["TMPDIR"] = work_dir
    # Python workers import the engine from the checkout as well
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = jvm_pid = None
    try:
        import numpy as np
        import pyspark

        from spans import Tracer
        from workloads import Context

        cpus = len(os.sched_getaffinity(0))
        wl = make_workload(args.workload)
        ctx = Context(None, None, work_dir, cpus)

        def build() -> float:
            """Input files and check oracles: no Spark, so they are made
            while the session starts."""
            t0 = time.perf_counter()
            wl.build(ctx, np.random.default_rng(args.seed))
            if hasattr(wl, "prepare_checks"):
                wl.prepare_checks()
            return time.perf_counter() - t0

        with ThreadPoolExecutor(1) as pool:
            built = pool.submit(build)
            spark = start_spark(work_dir, cpus, ui=bool(args.trace))
            jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
            spark_start_s = time.perf_counter() - T_PROCESS
            log("session started")
            input_s = built.result()
        t0 = time.perf_counter()
        ctx.spark, ctx.tracer = spark, Tracer(spark, enabled=False)
        wl.open(ctx)
        input_s += time.perf_counter() - t0
        tracer = ctx.tracer
        run = Run(spark, ctx, wl, tracer)

        warm_s = run.warm_up()
        setup_s = time.perf_counter() - T_PROCESS
        log(f"set-up done: inputs {input_s}, warm-up {warm_s}")
        r = run.timed(args.seconds, bool(args.trace))
        rss = peak_rss_mb(jvm_pid)
        log(f"timed passes done: {r['walls']} untraced, {r['traced_walls']} traced")

        if args.trace:
            tracer.collect_counts()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            detail = per_layer_metrics(tracer, r, {
                "setup.spark_start_s": [spark_start_s], "setup.input_s": [input_s],
                "setup.warmup_s": [sum(warm_s)], "host.kernel_ms": r["kernel"],
                "host.kernel_max_ms": [max(r["kernel"])], "pass.peak_rss_mb": [rss],
                "trace.pass_s": r["traced_walls"], "trace.untraced_pass_s": r["walls"],
                "trace.overhead_s": [median(r["traced_walls"]) - median(r["walls"])],
            })
            names = [m for m, *_ in per_layer_spec()] + [m for m, _ in RUN_LAYER]
        else:
            detail = {
                "setup_s": {"value": setup_s, "unit": "s", "n": 1},
                "pass_s": {"value": median(r["walls"]), "unit": "s", "n": len(r["walls"])},
                "items_per_s": {"value": median(r["rates"]), "unit": "1/s", "n": len(r["rates"])},
                "peak_rss_mb": {"value": rss, "unit": "MB", "n": 1},
            }
            for name, ops in r["calls"].items():
                detail[CALL_ALIAS[name]] = {
                    "value": median([op.wall_s for op in ops]), "unit": "s", "n": len(ops)}
                if name in RATE_ALIAS:
                    detail[RATE_ALIAS[name]] = {
                        "value": median([op.items / op.wall_s for op in ops]),
                        "unit": "1/s", "n": len(ops)}
            names = [m for m, _ in END_TO_END]
        for msg in run.failures:
            print(f"perfbench: failed operation: {msg}", file=sys.stderr)
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "jvm_heap": JVM_HEAP, "spark": pyspark.__version__,
            "java": str(spark._jvm.java.lang.System.getProperty("java.version")),
            "item": wl.item_unit,
            "host_kernel_ms": {"median": median(r["kernel"]), "max": max(r["kernel"])},
            "pass_walls": r["walls"], "traced_pass_walls": r["traced_walls"], "metrics": detail,
        }))
        stop_spark(spark, jvm_pid)
        spark = None
        log("session stopped")
        metrics = {m: {"value": detail[m]["value"], "unit": detail[m]["unit"]} for m in names}
        print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            try:
                stop_spark(spark, jvm_pid)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work_dir, ignore_errors=True)


def _rebase(spans, a, b):
    """A pass's spans with parent indices made relative to the slice."""
    import dataclasses

    return [dataclasses.replace(s, parent=None if s.parent is None else s.parent - a)
            for s in spans[a:b]]


if __name__ == "__main__":
    sys.exit(main())
