"""Benchmark of the openEO/GeoTrellis Spark engine: one workload per run.

    python3 perfbench/run.py --workload zonal_batch --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run starts Spark at ``local[n]``
(``n`` = the cores this process may use, at most 8) and sets up three times
(a session whose first Python worker has imported the workload's modules;
``setup_s`` is their median). It then runs one untimed warm-up job, and
the workload's jobs in a closed loop with one client for ``--seconds``
seconds (at least one job, five requests for ``zonal_sync``; no new job
starts once the run is ``HARD_STOP_S`` old). Every output, the warm-up's
too, is checked against an independent recomputation. Two lines go to
stdout: a report of every metric of the workload (with units, sample
counts and ``n``) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 1`` instead starts Spark with an uncompressed event log, runs
one untimed job, then traced iterations: the job as a chain of per-layer
prefixes (see ``tracing.py``), the full job tagged, and the full job
untagged as the reference for the tracing overhead. Its metrics are the
per-layer ones; spans and counts go to
``.perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from procmem import PeakRss, tree_pids  # noqa: E402
from stats import layer_sum_check, median  # noqa: E402

PACKAGE = "openeo_geotrellis_extensions_spark"
SETUPS = 3
#: fewest timed operations per run, whatever --seconds says
MIN_OPS = {"job": 1, "request": 5}
#: stop starting new operations this long after the process started
HARD_STOP_S = 55.0
#: the same for the traced run, which runs at least TRACED_ITERATIONS
HARD_STOP_TRACED_S = 120.0
TRACED_ITERATIONS = 2

#: the layers whose Spark task metrics are reported
TASK_LAYERS = ("sources", "operators", "pipeline", "sinks", "runtime")
#: (sub-)layers whose self time is reported, and under which metric name
SELF_TIME_METRICS = {
    "sources": "sources.self_s",
    "operators.spatial_join": "operators.spatial_join.self_s",
    "operators.zonal": "operators.zonal.self_s",
    "operators.apply": "operators.apply.self_s",
    "pipeline.minhash": "pipeline.minhash.self_s",
    "pipeline.lsh": "pipeline.lsh.self_s",
    "pipeline.verify": "pipeline.verify.self_s",
    "pipeline.cc": "pipeline.cc.self_s",
    "sinks": "sinks.write_s",
    "runtime.salt": "runtime.salt.self_s",
    "runtime.checkpoint.write": "runtime.checkpoint.write_s",
    "runtime.checkpoint.resume": "runtime.checkpoint.resume_s",
}


def cores() -> int:
    return max(1, min(8, len(os.sched_getaffinity(0))))


class Session:
    """Starts and stops Spark for the run; owns the JVM it launches."""

    def __init__(self, n: int, work: str):
        self.n = n
        self.work = work
        self.spark = None

    def start(self, event_dir: str | None = None):
        from openeo_geotrellis_extensions_spark.runtime.session import get_spark

        self.stop()
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            # a fixed-size, pre-touched heap: peak RSS then does not depend
            # on when the collector grew the heap (heap pressure shows in
            # the per-layer gc_s instead)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": "true" if event_dir else "false",
        }
        if event_dir:
            conf["spark.eventLog.dir"] = event_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.spark = get_spark(
            app_name=f"perfbench-local[{self.n}]",
            master=f"local[{self.n}]",
            shuffle_partitions=self.n,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop the Spark session and wait (up to 10 s) until its Python
        workers have exited, so they never overlap the next session's."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            deadline = time.time() + 10
            while len(tree_pids(os.getpid())) > 2 and time.time() < deadline:
                time.sleep(0.05)

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait for the whole tree to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 20
        while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
            time.sleep(0.1)


class Background(threading.Thread):
    """Runs ``fn`` on a thread; ``join`` re-raises what it raised."""

    def __init__(self, fn):
        super().__init__(daemon=True)
        self.fn = fn
        self.error = None
        self.start()

    def run(self):
        try:
            self.fn()
        except BaseException as e:  # noqa: BLE001 - re-raised in join
            self.error = e

    def join(self, timeout=None):
        super().join(timeout)
        if self.error is not None:
            raise self.error


def setup(sess: Session, wl, event_dir: str | None = None) -> float:
    """One set-up: a fresh Spark session with one Python worker started
    that has imported the workload's modules."""
    sess.stop()
    t0 = time.perf_counter()
    spark = sess.start(event_dir)
    modules = [f"{PACKAGE}.{m}" for m in wl.modules]

    def touch(it):
        import importlib

        for m in modules:
            importlib.import_module(m)
        yield from it

    spark.range(0, 1, 1, 1).mapInPandas(touch, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    return time.perf_counter() - t0


def closed_loop(
    wl, spark, seconds: float, min_ops: int, t_start: float, body, hard_stop=HARD_STOP_S
):
    """Run ``body(i)`` back to back until ``seconds`` have passed and at
    least ``min_ops`` operations ran, but start none after ``hard_stop``
    seconds of the run (the first always runs). Returns (walls of correct
    operations, attempted, failed)."""
    walls, attempted, failed = [], 0, 0
    t_end = time.perf_counter() + seconds
    while attempted < min_ops or time.perf_counter() < t_end:
        if time.perf_counter() - t_start > hard_stop and attempted:
            break
        attempted += 1
        try:
            wall, ok = body(attempted - 1)
        except Exception:
            traceback.print_exc()
            wall, ok = None, False
        if ok:
            walls.append(wall)
        else:
            failed += 1
            print(f"[perfbench] {wl.name} op {attempted - 1} failed its check", file=sys.stderr)
    return walls, attempted, failed


def timed_job(wl, spark):
    def body(i):
        t0 = time.perf_counter()
        out = wl.run_job(spark, i)
        wall = time.perf_counter() - t0
        return wall, wl.check(spark, out)

    return body


def run_untraced(wl, sess, args, t_start, n, prepared):
    # the first set-up (JVM launch) overlaps the input generation; the
    # others run alone
    setups = [setup(sess, wl)]
    prepared()
    setups += [setup(sess, wl) for _ in range(SETUPS - 1)]
    # the warm-up job pays the JIT compilation, code generation and class
    # loading of the workload's plans; the timed jobs run warm
    body = timed_job(wl, sess.spark)
    warm, w_att, w_failed = closed_loop(wl, sess.spark, 0, 1, t_start, body)
    walls, attempted, failed = closed_loop(
        wl, sess.spark, args.seconds, MIN_OPS[wl.op], t_start, body
    )
    attempted += w_att
    failed += w_failed
    job_s = median(walls) if walls else 0.0
    output_mb = median(wl.out_bytes) / 1e6 if wl.out_bytes else 0.0
    report = {
        "workload": wl.name,
        "cores": n,
        "master": f"local[{n}]",
        "setup_s": (median(setups), "s", f"median of {len(setups)} set-ups", setups),
        "warmup_job_s": (warm[0] if warm else None, "s", "untimed"),
        "job_s": (job_s, "s", f"median of {len(walls)} {wl.op}s", walls),
        "output_mb": (output_mb, "MB", f"median of {len(wl.out_bytes)} outputs"),
        "failed_share": (failed / attempted, "ratio", f"{failed} of {attempted}"),
    }
    if walls:
        report.update(wl.report(walls))
    values = {"setup_s": median(setups), "job_s": job_s}
    return report, values, attempted, failed


def run_traced(wl, sess, args, t_start, n, prepared):
    from eventlog import TaskSums, fold_event_log
    from tracing import Tracer, call_times, layer_task_sums, layer_times

    # one session, event log on from the start; one untimed job warms it.
    # Each traced iteration runs the prefix chain, then the full job tagged
    # (the traced job wall), then the full job untagged (the reference for
    # the tracing overhead): the three run back to back, equally warm.
    event_dir = os.path.join(sess.work, "eventlog")
    os.makedirs(event_dir, exist_ok=True)
    setup(sess, wl, event_dir)
    prepared()
    spark = sess.spark
    plain = timed_job(wl, spark)
    _, attempted, failed = closed_loop(wl, spark, 0, 1, t_start, plain)
    tracers, traced, ref = [], [], []

    def body(i):
        tr = Tracer(spark, i, t_start)
        counts, chain_ok = wl.trace_job(spark, i, tr)
        with tr.group("job"):
            out = wl.run_job(spark, i)
        wall = tr.last[1]
        ok = wl.check(spark, out)
        tr.settle()
        ref_wall, ref_ok = plain(i)
        tracers.append((tr, counts, wall))
        if ok and ref_ok:
            traced.append(wall)
            ref.append(ref_wall)
        return wall, ok and chain_ok and ref_ok

    _, t_att, t_failed = closed_loop(
        wl, spark, args.seconds, TRACED_ITERATIONS, t_start, body, HARD_STOP_TRACED_S
    )
    attempted += t_att
    failed += t_failed
    sess.stop()  # flushes and closes the event log
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    job_ids: dict[str, list[int]] = {}
    sums = fold_event_log(logs[0], job_ids)

    per_layer: dict[str, float] = {}
    self_rows, task_rows, gaps, jobs_per_op = [], [], [], []
    for tr, counts, wall in tracers:
        selfs = layer_times(tr)
        self_rows.append((selfs, call_times(tr), counts, tr.values))
        task_rows.append(layer_task_sums(tr, sums))
        gaps.append(layer_sum_check(selfs, wall)[0])
        jobs_per_op.append(sums.get(f"{tr.it}/job", TaskSums()).jobs)
    k = len(tracers)

    def med(get):
        vals = [v for v in (get(r) for r in self_rows) if v is not None]
        return median(vals) if vals else 0.0

    for layer, name in SELF_TIME_METRICS.items():
        per_layer[name] = med(lambda r: r[0].get(layer))
    per_layer["operators.zonal.call_s"] = med(lambda r: r[1].get("operators.zonal"))
    for key in {k for r in self_rows for k in (*r[2], *r[3])}:
        per_layer[key] = med(lambda r: r[2].get(key, r[3].get(key)))
    for top in TASK_LAYERS:
        total = sum(
            (s for rows in task_rows for layer, s in rows.items()
             if layer.split(".")[0] == top),
            TaskSums(),
        )
        for field, v in total.as_dict().items():
            per_layer[f"{top}.{field}"] = v / max(1, k)
    per_layer["trace.job_s"] = median(traced) if traced else 0.0
    per_layer["trace.untraced_job_s"] = median(ref) if ref else 0.0
    per_layer["trace.overhead_s"] = per_layer["trace.job_s"] - per_layer["trace.untraced_job_s"]
    per_layer["trace.layer_sum_gap"] = median(gaps) if gaps else 0.0
    per_layer["trace.iterations"] = k
    per_layer["trace.jobs_per_op"] = median(jobs_per_op) if jobs_per_op else 0.0
    per_layer["run.cores"] = n

    spans = []
    for tr, counts, wall in tracers:
        spans.append({"name": tr.root, "start": None, "end": None, "parent": None})
        for s in tr.spans:
            spans.append({**s, "job_ids": job_ids.get(s["group"], [])})
    out_dir = os.path.join(os.getcwd(), ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}.json"), "w") as f:
        json.dump({
            "workload": wl.name, "seed": args.seed, "cores": n,
            "spans": spans,
            "counts": [c for _, c, _ in tracers],
            "task_sums": {g: s.as_dict() for g, s in sums.items()},
            "per_layer": per_layer,
        }, f, indent=1)
    report = {
        "workload": wl.name,
        "cores": n,
        "trace_iterations": k,
        "layer_sum_gap": per_layer["trace.layer_sum_gap"],
        "layer_sum_within_10pct": all(g <= 0.10 for g in gaps),
        "tracing_overhead_s": per_layer["trace.overhead_s"],
    }
    return report, per_layer, attempted, failed


def load_spec() -> dict:
    """BENCHMARK.json: the metric names and units every run prints."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"[perfbench] no {PACKAGE}/ under {root}: run from a checkout root", file=sys.stderr)
        return 2
    spec = load_spec()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    n = cores()
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM and its Python workers inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, root)

    wl = WORKLOADS[args.workload](args.seed, work)
    sess = Session(n, work)
    try:
        with PeakRss() as rss:
            # inputs and expected outputs are computed while the JVM starts
            prep = Background(wl.prepare)
            run = run_traced if args.trace else run_untraced
            report, values, attempted, failed = run(wl, sess, args, t_start, n, prep.join)
            sess.shutdown()
    finally:
        sess.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        values["peak_rss_mb"] = rss.peak_mb
        report["peak_rss_mb"] = (rss.peak_mb, "MB", "process tree")
    report["wall_s"] = time.perf_counter() - t_start
    print(json.dumps({"report": report}))
    listed = spec["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
            for m in listed
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
