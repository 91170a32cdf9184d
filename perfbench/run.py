"""Seeded benchmark of tsflex_spark's calculate / process / chunk_data.

Usage (from the repository root)::

    python3 perfbench/run.py --workload grid_native --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1            # every workload, one table
    python3 perfbench/run.py --workload sparse_pipeline --smoke  # tiny inputs (self-test)

A run generates the workload's inputs from ``--seed`` into a private work
directory under the checkout, starts the package's own ``get_spark()``
session, runs warm-up jobs until a job's time agrees with the previous
one's, then times jobs from that one on for ``--seconds`` seconds (at least
``MIN_SAMPLES`` of them) and checks one timed job against the numpy
reference. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` warms up the
same way, then restarts the SparkContext (same JVM) with an event log,
times the jobs with every layer call in a span, runs the layer probes, and
times the jobs once more in a fresh context without the log; it reports the
per-layer metrics, and ``trace.overhead_s`` is the traced ``job_s`` minus
the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path[0] == HERE:  # import the benchmark as the ``perfbench`` package
    sys.path[0] = ROOT

from perfbench.tracing import COUNTERS, SPAN_PROP, NullTracer, Tracer  # noqa: E402

WORKLOAD_NAMES = ["grid_native", "sparse_pipeline"]
MIN_SAMPLES = 2
WARMUP_MIN, WARMUP_MAX, WARMUP_SETTLE = 2, 3, 0.25
LAYERS = [
    "sources",
    "features.segmenter",
    "features.feature_collection",
    "processing.series_pipeline",
    "chunking",
]
COUNTER_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
    "peak_exec_memory_bytes": "bytes", "failed_tasks": "count",
}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "sources.read_s": "s",
    "sources.rows": "rows",
    "features.segmenter.bounds_s": "s",
    "features.segmenter.assign_s": "s",
    "features.segmenter.assigned_rows": "rows",
    "features.segmenter.fanout": "ratio",
    "features.segmenter.spine_rows": "rows",
    "features.segmenter.spine_s": "s",
    "features.feature_collection.build_s": "s",
    "features.feature_collection.jobs_before_action": "count",
    "features.feature_collection.exec_s": "s",
    "features.feature_collection.config_exec_s": "s",
    "features.feature_collection.assembly_s": "s",
    "features.feature_collection.configs": "count",
    "features.feature_collection.rows_out": "rows",
    "processing.series_pipeline.build_s": "s",
    "processing.series_pipeline.exec_s": "s",
    "processing.series_pipeline.column_step_s": "s",
    "processing.series_pipeline.numpy_step_s": "s",
    "chunking.build_s": "s",
    "chunking.exec_s": "s",
    "chunking.chunks": "rows",
    **{f"{layer}.spark.{c}": COUNTER_UNITS[c] for layer in LAYERS for c in COUNTERS},
    "trace.overhead_s": "s",
}


def pin_environment(work: str) -> None:
    """Session settings from outside, through the variables ``get_spark()``
    and the PySpark launcher already read."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(4, mem_gb // 4))}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # Python workers import the package and the benchmark's feature
        # functions from the checkout, whatever the working directory
        PYTHONPATH=os.pathsep.join(paths),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--driver-java-options",
                shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
                "pyspark-shell",
            ]
        ),
    )


def import_program() -> None:
    """Import the package from this checkout only, never an installed copy."""
    if not os.path.isfile(os.path.join(ROOT, "tsflex_spark", "__init__.py")):
        raise SystemExit(f"tsflex_spark not found in {ROOT}: run from a full checkout")
    import tsflex_spark

    assert os.path.dirname(os.path.abspath(tsflex_spark.__file__)) == os.path.join(ROOT, "tsflex_spark")


class Session:
    """The package's ``get_spark()`` session."""

    def __init__(self) -> None:
        from tsflex_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.start_s = time.perf_counter() - t
        self.sc = self.spark.sparkContext

    def stop(self) -> None:
        """Stop the context after checking that nothing outlives the run:
        no sparsity watcher, Spark job, job group or span label."""
        from tsflex_spark.features.feature_collection import join_sparsity_watchers

        join_sparsity_watchers()
        alive = [t for t in threading.enumerate() if t.name == "tsflex-sparsity"]
        # AQE may still be cancelling a broadcast it no longer needs
        deadline = time.monotonic() + 10
        while (active := list(self.sc.statusTracker().getActiveJobsIds())) and time.monotonic() < deadline:
            time.sleep(0.1)
        props = [p for p in ("spark.jobGroup.id", SPAN_PROP) if self.sc.getLocalProperty(p) is not None]
        self.spark.stop()
        assert not alive, f"{len(alive)} sparsity watcher threads outlived the run"
        assert not active, f"Spark jobs still running: {active}"
        assert not props, f"local properties outlived the run: {props}"


def shutdown_jvm() -> None:
    """Close the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Jobs:
    """Runs one workload's job back to back, each under its own run id."""

    def __init__(self, wl, spark, path: str, tr) -> None:
        from perfbench.workloads import job

        self.job, self.wl, self.spark, self.path, self.tr, self.n = job, wl, spark, path, tr, 0

    def run(self) -> tuple:
        run_id = f"job{self.n}"
        self.n += 1
        with self.tr.run(run_id), self.tr.span("job", "job"):
            t = time.perf_counter()
            outputs = self.job(self.spark, self.path, self.tr, self.wl)
            return run_id, time.perf_counter() - t, outputs

    def warm_up(self, lo: int, hi: int) -> tuple:
        """Run at least ``lo`` warm-up jobs. The next job is the first timed
        one once its time agrees with the previous job's within
        WARMUP_SETTLE, or after ``hi`` warm-up jobs. Returns the warm-up
        times and the first timed job (run id, time, outputs)."""
        warm = []
        while True:
            job = self.run()
            if len(warm) >= lo and (
                len(warm) >= hi or abs(job[1] - warm[-1]) <= WARMUP_SETTLE * min(job[1], warm[-1])
            ):
                return warm, job
            warm.append(job[1])

    def measure(self, first: tuple, seconds: float, min_samples: int) -> tuple:
        """Time jobs from ``first`` on for ``seconds`` and at least
        ``min_samples`` jobs. Returns the successful times, the number of
        failed jobs, the first job's outputs and the last successful run id."""
        last, dt, outputs = first
        times, failed = [dt], 0
        t_end = time.perf_counter() - dt + seconds
        while time.perf_counter() < t_end or len(times) + failed < min_samples:
            try:
                run_id, dt, _ = self.run()
            except Exception:
                traceback.print_exc()
                failed += 1
                if failed >= 3 * min_samples:
                    break
                continue
            times.append(dt)
            last = run_id
        return times, failed, outputs, last


def check(wl_name: str, path: str, outputs) -> tuple:
    """Compare one job's outputs with the numpy reference. Returns the
    mismatches and the row count of each output."""
    from perfbench import reference

    problems, rows = [], {}
    for name, expected in reference.EXPECTED[wl_name](path).items():
        got = outputs[name].toPandas()
        rows[name] = len(got)
        problems += [f"{name}: {p}" for p in reference.compare(expected, got)]
    for p in problems:
        print(f"MISMATCH {wl_name} {p}", file=sys.stderr)
    return problems, rows


def quartiles(values: list) -> list:
    return statistics.quantiles(values, n=4) if len(values) > 1 else values * 3


def layer_metrics(tr: Tracer, counts: dict, per_span: dict, job_run: str) -> dict:
    """Per-layer metrics from the spans of one traced job (``job_run``) and
    of the probes, plus the Spark counters of each layer's labelled calls
    (a layer absent from the workload reads 0)."""
    from perfbench.tracing import sum_counters

    def dur(name, run):
        return sum(s["end"] - s["start"] for s in tr.find(name, run))

    def dur_prefix(prefix):
        return sum(s["end"] - s["start"] for s in tr.spans if s["name"].startswith(prefix))

    seg, fc, sp = "features.segmenter", "features.feature_collection", "processing.series_pipeline"
    m = dict(counts)
    m["session.get_spark_s"] = dur("session.get_spark", "setup")
    m["sources.read_s"] = dur("sources.read", "probe")
    m[f"{seg}.bounds_s"] = dur(f"{seg}.bounds", "probe")
    m[f"{seg}.assign_s"] = dur_prefix(f"{seg}.assign.")
    m[f"{seg}.fanout"] = counts[f"{seg}.assigned_rows"] / counts["sources.rows"]
    m[f"{seg}.spine_s"] = dur_prefix(f"{seg}.spine.")
    m[f"{fc}.build_s"] = dur(f"{fc}.build", job_run)
    m[f"{fc}.jobs_before_action"] = sum(
        per_span.get(s["id"], {}).get("jobs", 0) for s in tr.find(f"{fc}.build", job_run)
    )
    m[f"{fc}.exec_s"] = dur(f"{fc}.exec", job_run)
    m[f"{fc}.config_exec_s"] = dur_prefix(f"{fc}.config_exec.")
    m[f"{fc}.assembly_s"] = m[f"{fc}.exec_s"] - m[f"{fc}.config_exec_s"]
    m[f"{sp}.build_s"] = dur(f"{sp}.build", job_run)
    m[f"{sp}.exec_s"] = dur(f"{sp}.exec", "probe")
    m[f"{sp}.column_step_s"] = dur(f"{sp}.column_step", "probe")
    m[f"{sp}.numpy_step_s"] = m[f"{sp}.exec_s"] - m[f"{sp}.column_step_s"]
    m["chunking.build_s"] = dur("chunking.build", job_run)
    m["chunking.exec_s"] = dur("chunking.exec", job_run)
    for layer in LAYERS:
        ids = [s["id"] for s in tr.spans if s["layer"] == layer and s["run"] in (job_run, "probe")]
        for k, v in sum_counters(per_span, ids).items():
            m[f"{layer}.spark.{k}"] = v
    return m


def traced_run(wl, path: str, args, sess: Session, log_dir: str) -> tuple:
    """After the warm-up in ``sess``: a SparkContext with an event log times
    the jobs with spans, checks one and runs the probes; then a fresh context
    without the log times the same jobs untraced. Both contexts share the
    warmed-up JVM. Returns the per-layer metrics, the traced and untraced
    job times and the failed job count."""
    from pyspark import SparkContext

    from perfbench import workloads
    from perfbench.tracing import event_log_files, read_event_log

    sess.stop()
    os.makedirs(log_dir)
    system = SparkContext._jvm.java.lang.System  # read by the next SparkConf
    for k, v in {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }.items():
        system.setProperty(k, v)
    traced_sess = Session()
    tr = Tracer(traced_sess.sc)
    tr.spans.append({"id": "setup/0", "name": "session.get_spark", "layer": "session",
                     "run": "setup", "parent": None, "start": 0.0, "end": sess.start_s})
    jobs = Jobs(wl, traced_sess.spark, path, tr)
    traced, failed, outputs, job_run = jobs.measure(jobs.warm_up(1, 1)[1], args.seconds, args.min_samples)
    problems, rows = check(wl.name, path, outputs)
    with tr.run("probe"):
        counts = workloads.probe(traced_sess.spark, path, tr, wl)
    traced_sess.stop()
    system.clearProperty("spark.eventLog.enabled")

    plain_sess = Session()
    jobs = Jobs(wl, plain_sess.spark, path, NullTracer())
    untraced, u_failed, _, _ = jobs.measure(jobs.warm_up(1, 1)[1], args.seconds, args.min_samples)
    plain_sess.stop()

    counts["features.feature_collection.rows_out"] = rows["features"]
    counts["chunking.chunks"] = rows.get("chunks", 0)
    per_span = read_event_log(event_log_files(log_dir))
    for s in tr.spans:
        if s["run"] in (job_run, "probe", "setup"):
            c = per_span.get(s["id"], {})
            print(f"  span {s['id']:<9} {s['name']:<44} {s['end'] - s['start']:8.3f} s  "
                  f"jobs {c.get('jobs', 0):3d}  stages {c.get('stages', 0):3d}  parent {s['parent']}")
    metrics = layer_metrics(tr, counts, per_span, job_run)
    metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return metrics, traced, untraced, failed + u_failed + bool(problems)


def run_workload(args, work: str) -> dict:
    import numpy as np

    from perfbench import workloads

    warnings.filterwarnings("ignore", message="There are gaps in the sequence")
    wl = workloads.WORKLOADS[args.workload]

    t0 = time.perf_counter()
    path = os.path.join(work, f"{wl.name}.parquet")
    rows = wl.write(path, np.random.default_rng(args.seed), args.smoke)
    gen_s = time.perf_counter() - t0
    sess = Session()
    jobs = Jobs(wl, sess.spark, path, NullTracer())
    warm, first = jobs.warm_up(*((1, 1) if args.smoke else (WARMUP_MIN, WARMUP_MAX)))
    setup_s = time.perf_counter() - first[1] - t0
    print(f"workload {wl.name}  seed {args.seed}  input rows {rows}")
    print(f"  setup_s     {setup_s:.3f} s  (inputs {gen_s:.2f} s, session {sess.start_s:.2f} s, "
          f"warm-up jobs {', '.join(f'{x:.2f}' for x in warm)} s)")
    if args.trace:
        metrics, traced, untraced, failed = traced_run(wl, path, args, sess, os.path.join(work, "eventlog"))
        attempted = len(traced) + len(untraced) + failed
        units = PER_LAYER_UNITS
        for name, times in (("traced", traced), ("untraced", untraced)):
            print(f"  {name:<9} job_s {statistics.median(times):.3f} s  (median of {len(times)} jobs)")
        for k in PER_LAYER_UNITS:
            print(f"  {k:<56} {metrics[k]:.6g} {units[k]}")
    else:
        times, failed, outputs, _ = jobs.measure(first, args.seconds, args.min_samples)
        t = time.perf_counter()
        failed += bool(check(wl.name, path, outputs)[0])
        check_s = time.perf_counter() - t
        sess.stop()
        job_s = statistics.median(times)
        attempted = len(times) + failed
        print(f"  job_s       {job_s:.3f} s  (median of {len(times)} jobs; quartiles "
              f"{', '.join(f'{q:.3f}' for q in quartiles(times))} s)")
        print(f"  rows_per_s  {rows / job_s:.1f} rows/s")
        print(f"  error_rate  {failed / attempted:.3f} fraction  ({failed} of {attempted} jobs; "
              f"check {check_s:.2f} s)")
        metrics = {"setup_s": setup_s, "job_s": job_s, "rows_per_s": rows / job_s}
        units = {"setup_s": "s", "job_s": "s", "rows_per_s": "rows/s"}
    assert set(metrics) == set(units), set(metrics) ^ set(units)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def run_all(args) -> int:
    """Every workload in its own child process, then one summary table."""
    table, ok = [], True
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0"] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        print(proc.stdout, end="")
        if proc.returncode != 0:
            return proc.returncode
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        ok &= res["correct"]
        table.append((name, {k: v["value"] for k, v in res["metrics"].items()}, res["failed"] / res["attempted"]))
    print(f"{'workload':<16} {'setup_s (s)':>12} {'job_s (s)':>10} {'rows_per_s (rows/s)':>20} "
          f"{'error_rate (fraction)':>22}")
    for name, m, err in table:
        print(f"{name:<16} {m['setup_s']:12.3f} {m['job_s']:10.3f} {m['rows_per_s']:20.1f} {err:22.3f}")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one warm-up job, one timed job")
    args = ap.parse_args(argv)
    args.min_samples = 1 if args.smoke else MIN_SAMPLES

    import_program()
    if args.workload == "all":
        return run_all(args)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    # a terminated run still stops its JVM and deletes its inputs
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        pin_environment(work)
        result = run_workload(args, work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
