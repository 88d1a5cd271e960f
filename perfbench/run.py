"""Benchmark of the engine: one workload per invocation, closed loop.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload skewed_resumable --seed 1 --seconds 10 --trace 0

One process drives Spark on ``local[nproc]``. Each operation starts after
the previous one completes (closed loop, one client). A run:

1. starts a session and builds the workload's inputs from ``--seed``,
   three times (``setup_s`` is the median; the first also starts the
   JVM);
2. repeats the timed operation until ``--seconds`` have passed (at
   least once) and reports medians;
3. checks the outputs, untimed; a failed check counts in ``failed``.

With ``--trace 1`` the run times one operation untraced, then starts a
new JVM with Spark's event log on and times the same operation with
spans around the calls into the package's public functions; then it
runs per-layer probes and reports the ``per_layer`` metrics of
BENCHMARK.json instead of the end-to-end ones. Spans are written to
``.perfbench_out/spans-<workload>-<seed>.jsonl``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "seizury_hrv_featuresextraction_spark"
SETUPS = 3

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# public functions whose calls the traced run records as spans
TRACE_TARGETS = {
    f"{PACKAGE}.sources.registry": ["load_table", "sequences_from_events", "annotations_from_events"],
    f"{PACKAGE}.datagen": ["make_sequences", "make_annotations", "write_parquet"],
    f"{PACKAGE}.plans.hrv_pipeline": ["extract_features", "plan_stats", "choose_fused", "doc_dimensions"],
    f"{PACKAGE}.operators.skew": ["explode_chunks"],
    f"{PACKAGE}.operators.labeling": ["build_label_intervals", "label_windows"],
    f"{PACKAGE}.checkpoint": [
        "run_resumable", "input_fingerprints", "read_manifest", "write_manifest_entry",
        "bucket_output_valid", "write_snapshot", "snapshot_is_current",
    ],
    f"{PACKAGE}.operators.asof": ["asof_join"],
    f"{PACKAGE}.operators.windows": ["session_bounds"],
    f"{PACKAGE}.operators.dedup": ["minhash_lsh_pairs", "ngram_jaccard_pairs", "simhash_table"],
    f"{PACKAGE}.operators.similarity": ["brute_force_topk"],
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true", help="tiny inputs (smoke test)")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Pin the environment before numpy or the JVM start: one BLAS thread
    per task, workers import the package from this checkout, and every
    temporary file lands under ``work``."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # run the program's defaults, not a caller's overrides
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the spark-submit launcher JVM: no /tmp/hsperfdata file either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path[:0] = [ROOT, HERE]


def check_engine_importable() -> None:
    """The engine must come from this checkout, not from anywhere else."""
    import importlib

    try:
        pkg = importlib.import_module(PACKAGE)
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import {PACKAGE} from {ROOT}: {e}")
    where = os.path.dirname(os.path.abspath(pkg.__file__))
    if where != os.path.join(ROOT, PACKAGE):
        raise SystemExit(f"perfbench: {PACKAGE} imported from {where}, not from {ROOT}")


class Session:
    """Starts and stops Spark sessions; ``close`` ends the JVM and every
    Python worker it started and waits for them."""

    def __init__(self, work: str, nproc: int):
        self.work, self.nproc = work, nproc
        self.spark = None
        self.event_dir = None

    def start(self, event_log: bool = False):
        """A new session; the JVM starts too unless one is running."""
        from seizury_hrv_featuresextraction_spark.session import get_spark

        self.stop_spark()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if event_log:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.event_dir,
            })
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.nproc}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        from measure import process_tree

        gw = SparkContext._gateway
        pids = set(process_tree(gw.proc.pid)) if gw is not None else set()
        self.stop_spark()
        if gw is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.1)
        for p in pids:
            if os.path.exists(f"/proc/{p}"):
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass


def run(args, work: str) -> dict:
    import measure
    import workloads

    nproc = len(os.sched_getaffinity(0))
    wl = workloads.WORKLOADS[args.workload](work, args.seed, nproc, small=args.small)
    sess = Session(work, nproc)
    tracer = measure.Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    layer: dict[str, float] = {}
    ops: list[dict] = []
    attempted = 0

    def operation(spark, traced: bool = False) -> dict:
        """One timed operation, with CPU and memory of the JVM tree."""
        nonlocal attempted
        i = len(ops)
        group = f"perfbench-op-{i}"
        sc = spark.sparkContext
        sc.setJobGroup(group, "perfbench timed operation")
        with measure.ProcSampler(sess.jvm_pid()) as sampler:
            tracer.enabled = traced
            root = len(tracer.spans)
            t0 = time.perf_counter()
            with tracer.span("perfbench.timed"):
                attempted += wl.timed(spark, i)
            wall = time.perf_counter() - t0
            tracer.enabled = False
            op = sampler.window()
        sc.setLocalProperty("spark.jobGroup.id", None)
        op.update(wall_s=wall, root=root, group=group,
                  jobs=len(sc.statusTracker().getJobIdsForGroup(group)))
        print(f"operation {i}: {wall:.3f} s, cpu {op['cpu_s']:.1f} s, rss jvm "
              f"{op['jvm_rss_mb']:.0f} MB + python {op['python_rss_mb']:.0f} MB",
              file=sys.stderr, flush=True)
        ops.append(op)
        return op

    try:
        setup = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            spark = sess.start()
            layer.update(wl.build(spark, k))
            setup.append(time.perf_counter() - t0)
            phase(f"set-up {k}", t0)
        print(f"workload {wl.name}: {json.dumps(wl.describe())}; local[{nproc}]", flush=True)

        # The first operation runs in a JVM that has only run the set-up
        # jobs: warming up would double the length of a run, and a
        # cold first operation includes all of the JIT work, which makes
        # it steadier than an operation after a partial warm-up.
        if args.trace:
            untraced = operation(spark)
            # a new JVM with the event log on, so that the traced
            # operation starts as cold as the untraced one
            sess.close()
            spark = sess.start(event_log=True)
            wl.build(spark, SETUPS)
            install_tracer(tracer, wl)
            traced = operation(spark, traced=True)
            tracer.uninstall()
            t0 = time.perf_counter()
            layer.update(wl.probes(spark))
            phase("probes", t0)
        else:
            deadline = time.perf_counter() + args.seconds
            while not ops or time.perf_counter() < deadline:
                operation(spark)

        t0 = time.perf_counter()
        checks = wl.checks(spark)
        phase("checks", t0)
        if args.trace:
            layer.update(wl.last_call_metrics())
            root = traced["root"]
            fp = [s["end"] - s["start"] for s in tracer.spans[root:]
                  if s["name"] == "checkpoint.input_fingerprints"]
            layer.update({
                "plan.jobs": float(traced["jobs"]),
                "checkpoint.fingerprint_s": fp[0] if fp else 0.0,
                "proc.cpu_util": traced["cpu_s"] / (traced["wall_s"] * nproc),
                "proc.peak_rss_mb": traced["peak_rss_mb"],
                "proc.jvm_rss_mb": traced["jvm_rss_mb"],
                "proc.python_rss_mb": traced["python_rss_mb"],
                "trace.wall_s": traced["wall_s"],
                "trace.span_share": tracer.coverage(root),
                "trace.overhead_s": traced["wall_s"] - untraced["wall_s"],
            })
            sess.stop_spark()  # flushes the event log
            layer.update(measure.eventlog_metrics(sess.event_dir, traced["group"]))
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{wl.name}-{args.seed}.jsonl"))
            print_layer_table(tracer.self_times(root), traced["wall_s"], layer)
        else:
            wall = statistics.median(o["wall_s"] for o in ops)
            e2e = {
                "setup_s": statistics.median(setup),
                "wall_s": wall,
                "tokens_per_s": wl.tokens / wall,
                "cpu_s": statistics.median(o["cpu_s"] for o in ops),
            }
    finally:
        tracer.uninstall()
        sess.close()

    for name, ok in checks:
        if not ok:
            print(f"CHECK FAILED: {name}", flush=True)
    attempted += len(checks)
    failed = sum(not ok for _, ok in checks)
    if args.trace:
        # a layer a workload does not run reads 0 (e.g. kernel.* on operator_suite)
        unknown = set(layer) - {m["name"] for m in SPEC["per_layer"]}
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in SPEC["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in SPEC["end_to_end"]}
    for k, v in metrics.items():
        print(f"  {k:<44} {v['value']:>16.6g} {v['unit']}")
    print(f"  {'failed_frac':<44} {failed / attempted:>16.6g} ratio  "
          f"({failed} of {attempted}; timed operations: {len(ops)})")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def install_tracer(tracer, wl) -> None:
    """Spans around the package's public functions, the headline queries
    and the pyspark calls that run Spark jobs."""
    from pyspark.sql import DataFrame, DataFrameWriter

    from seizury_hrv_featuresextraction_spark.plans.driver_queries import QUERIES
    from workloads import HEADLINE

    tracer.install(TRACE_TARGETS, PACKAGE)
    tracer.patch_method(DataFrameWriter, "save", "spark.action.save")
    tracer.patch_method(DataFrameWriter, "parquet", "spark.action.parquet")
    for attr in ("collect", "count", "toPandas"):
        tracer.patch_method(DataFrame, attr, f"spark.action.{attr}")
    for q in HEADLINE:
        tracer.patch_item(QUERIES, q, f"plans.driver_queries.{q}")
    wl.span = tracer.span


def phase(name: str, t0: float) -> None:
    print(f"phase {name}: {time.perf_counter() - t0:.2f} s", file=sys.stderr, flush=True)


def print_layer_table(selfs: dict[str, list[float]], wall: float, layer: dict) -> None:
    print(f"traced operation: wall {wall:.3f} s; spans cover {layer['trace.span_share']:.1%}; "
          f"tracing overhead {layer['trace.overhead_s']:+.3f} s")
    print(f"  {'span':<48} {'calls':>6} {'total_s':>10} {'self_s':>10} {'self/wall':>9}")
    for name, (calls, total, own) in sorted(selfs.items(), key=lambda kv: -kv[1][2]):
        print(f"  {name:<48} {calls:>6} {total:>10.3f} {own:>10.3f} {own / wall:>9.1%}")


def main(argv=None) -> int:
    args = parse_args(argv)
    steal0 = _steal()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        prepare_env(work)
        check_engine_importable()
        import workloads

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    # CPU time the hypervisor gave to other guests: a noisy neighbour
    print(f"steal {(_steal() - steal0):.1f} s", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


def _steal():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


if __name__ == "__main__":
    sys.exit(main())
