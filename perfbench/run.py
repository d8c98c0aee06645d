"""Seeded, output-checked benchmark of the engine's RAG serving, ingest
and curation paths.

Run from the repository root:

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 15 --trace 0

Workloads: rag_serve, ingest_append, curation_batch (see NOTES.md).
With ``--trace 0`` the last stdout line is the JSON result with the
end-to-end metrics; with ``--trace 1`` each operation runs twice on the
same state, with spans off and on, and the JSON carries the per-layer
metrics instead. Every output is checked; failures are counted in
``failed`` and listed on stderr. Lines before the JSON print the same
numbers, and the per-workload names, by name with their unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

from sparkstats import SparkStatus
from tracing import Tracer
from workloads import WORKLOADS, Ops, geomean

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH_DIR = os.path.join(ROOT, ".bench_scratch")  # all writes stay in the checkout
OUT_DIR = os.path.join(ROOT, ".bench_out")
SETUP_REPS = 3
DRIVER_MEM = "6g"

END_TO_END = {  # name -> unit; the metrics BENCHMARK.json gates
    "setup_s": "s",
    "peak_rss_gb": "GB",
    "work_per_s": "1/s",
}
SPARK_COUNTERS = (
    "jobs", "tasks", "outside_jobs_s", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "python_worker_s", "python_bytes_sent", "python_bytes_returned",
)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=10)
        self.peak = max(self.peak, self._tree_rss())
        return self.peak / 1e9


class Ctx:
    def __init__(self, args, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = tracer
        self.here = HERE
        self.bench_dir = BENCH_DIR
        self.scratch = os.path.join(BENCH_DIR, f"{args.workload}-{os.getpid()}")
        self.cpus = len(os.sched_getaffinity(0))


def _configure_env(ctx) -> None:
    for d in (ctx.scratch, os.path.join(BENCH_DIR, "tmp"), os.path.join(BENCH_DIR, "spark-local")):
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(BENCH_DIR, "spark-local")
    os.environ["TMPDIR"] = os.path.join(BENCH_DIR, "tmp")


def _start_session(ctx):
    from pyspark.sql import functions as F

    from emails_to_vector_db_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(BENCH_DIR, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.tracer.enabled:  # keep every job/stage/execution of the run
        for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                  "spark.sql.ui.retainedExecutions"):
            conf[k] = "1000000"
    tr = ctx.tracer
    tr.active = True
    try:
        t0 = time.perf_counter()
        with tr.span("session.start"):
            spark = get_spark(app_name="perfbench", cpus=ctx.cpus, extra_conf=conf)
        t1 = time.perf_counter()
        with tr.span("session.warmup"):
            # JVM codegen and a shuffle, as bench.py warms them. Python
            # workers start in each workload's untimed prepare step.
            spark.range(0, 1000, numPartitions=ctx.cpus).groupBy(
                (F.col("id") % 7).alias("k")
            ).count().write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    finally:
        tr.active = False
    return spark, t1 - t0, t2 - t1


def _stop_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def tail(values: list[float]) -> tuple[float | None, float, int]:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, sample count)."""
    n = len(values)
    if n < 11:
        return None, 0.0, n
    xs = sorted(values)
    return xs[n - 11], 100.0 * (n - 10) / n, n


def _end_to_end(wl, ops, setups, peak_gb) -> tuple[dict, list[str]]:
    walls = ops.walls(wl.op_kind)
    if not walls:
        raise RuntimeError(f"no {wl.op_kind} completed in the measured phase")
    metrics = {
        "setup_s": statistics.median(setups),
        "peak_rss_gb": peak_gb,
        "work_per_s": wl.work_per_s(ops, walls),
    }
    t_val, t_pct, t_n = tail(walls)
    t_txt = f"{t_val:.6f} s (p{t_pct:.1f} of {t_n})" if t_val is not None else f"n/a ({t_n} samples)"
    rate = ops.failed / max(1, ops.attempted)
    lines = [
        f"error_rate {rate:.6f} ({ops.failed}/{ops.attempted})",
        f"op_geomean_s {geomean(walls):.6f} s (n={len(walls)} {wl.op_kind} ops)",
    ]
    return metrics, lines + wl.report(ops, statistics.median(walls), t_txt)


def _per_layer(wl, ops, tracer, session_times) -> tuple[dict, dict]:
    recs = [r for r in ops.records if r["counters"] is not None]
    n = max(1, len(recs))
    out = {
        "session.start_s": statistics.median(s for s, _ in session_times),
        "session.warmup_s": statistics.median(w for _, w in session_times),
    }
    for c in SPARK_COUNTERS:
        out[f"spark.{c}"] = sum(r["counters"][c] for r in recs) / n
    out["spark.persisted_rdds_after"] = max((r["counters"]["persisted_rdds_after"] for r in recs), default=0.0)
    out["spark.rerun_mismatches"] = float(sum(1 for r in recs if not r["rerun_equal"]))
    diffs = [r["wall"] - r["untraced_wall"] for r in recs]
    out["trace.overhead_s"] = statistics.median(diffs) if diffs else 0.0
    extra = wl.layer_metrics(ops)
    selft = tracer.self_time_by_layer()
    total = sum(r["wall"] for r in recs) or 1e-12
    extra["spark.python_worker_share"] = out["spark.python_worker_s"] * n / total
    for layer, s in sorted(selft.items()):
        extra[f"self_s.{layer}"] = s
    return out, extra


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: the share of CPU time the
    hypervisor gave to other guests, printed to explain noisy runs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def _write(name: str, payload: dict) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, name)
    with open(path, "w") as fh:
        json.dump(payload, fh)
    return path


def _unit(name: str) -> str:
    if "share" in name:
        return "share"
    if name.endswith("_s") or name.startswith("self_s."):
        return "s"
    return "bytes" if "bytes" in name else "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "emails_to_vector_db_spark")):
        print("perfbench: the engine package emails_to_vector_db_spark/ is not "
              f"in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(args, tracer)
    _configure_env(ctx)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        wl = WORKLOADS[args.workload](ctx)
        print(f"inputs_digest {wl.digest}")
        ops = Ops(tracer, None)
        setups, session_times = [], []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark, start_s, warm_s = _start_session(ctx)
            wl.setup(spark, rep, ops)
            setups.append(time.perf_counter() - t0)
            session_times.append((start_s, warm_s))
        if tracer.enabled:
            ops.stats = SparkStatus(spark)
        t_prep = time.perf_counter()
        wl.prepare(spark, ops)
        t_run = time.perf_counter()
        steal0, total0 = _cpu_steal()
        wl.run(spark, ops)
        run_s = time.perf_counter() - t_run
        steal1, total1 = _cpu_steal()
        spark.stop()
        spark = None
        peak_gb = rss.stop()

        for f in ops.failures:
            print(f"FAILED {f}", file=sys.stderr)
        print(f"setup_s runs {[round(s, 4) for s in setups]}")
        print(f"session start/warmup s {[(round(a, 3), round(b, 3)) for a, b in session_times]}")
        print(f"prepare_s {t_run - t_prep:.3f}")
        print(f"measured_phase_s {run_s:.3f}")
        print(f"host_cpu_steal_share {(steal1 - steal0) / max(1, total1 - total0):.4f}")
        if tracer.enabled:
            metrics, extra = _per_layer(wl, ops, tracer, session_times)
            units = {k: _unit(k) for k in metrics}
            for k, v in {**metrics, **extra}.items():
                print(f"{k} {v:.6g} {_unit(k)}")
            path = _write(f"trace_{args.workload}_seed{args.seed}.json", {
                "workload": args.workload, "seed": args.seed,
                "inputs_digest": wl.digest, "per_layer": metrics,
                "layer_detail": extra, "ops": ops.records,
                "spans": tracer.dump(), "failures": ops.failures,
            })
            print(f"trace_file {os.path.relpath(path, ROOT)}")
        else:
            metrics, lines = _end_to_end(wl, ops, setups, peak_gb)
            units = END_TO_END
            for line in lines:
                print(line)
            for k, v in metrics.items():
                print(f"{k} {v:.6f} {units[k]}")
            _write(f"result_{args.workload}_seed{args.seed}.json", {
                "workload": args.workload, "seed": args.seed,
                "inputs_digest": wl.digest, "setup_s": setups,
                "metrics": metrics, "ops": ops.records, "failures": ops.failures,
            })
        result = {
            "correct": ops.failed == 0,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(ctx.scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
