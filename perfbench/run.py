"""Repository benchmark: one closed-loop workload, one client, one run.

    python3 perfbench/run.py --workload segment --seed 1 --seconds 5 --trace 0

Run from the repository root. The run builds a ``local[nproc]`` session
with ``dask_image_spark.session.get_spark`` in a fresh JVM, warms it up
(``setup_s`` is build + warm-up), then sends jobs back to back
for ``--seconds`` seconds, each on a distinct seeded input, and finishes
the workload's current pass (a fixed number of jobs, or one of each
request kind). Outputs are checked against independent references after
the clock stops.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records a span
and the Spark/``/proc`` counters around every layer call and reports the
per-layer metrics instead. Human-readable lines come first; the last line
of standard output is one JSON object. A fuller result file, with the
effective environment, goes to ``.perfbench_work/results/``.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170  # a run that is still going then exits non-zero, no result
E2E_UNITS = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "latency_s.p50": "s",
    "latency_s.tail": "s",
    "peak_rss_mb": "MB",
}
# peak_rss_mb moves by more than a tenth between runs of the same code, and
# a run has too few jobs for a tail with ten samples beyond it (its p90
# stand-in moved by more than a quarter between seeds), so both are
# reported per layer (traced runs), not gated end to end
GATED = ("setup_s", "items_per_s", "latency_s.p50")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("segment", "dedup", "interactive"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(run_dir: str) -> dict:
    """Point every scratch path of Spark, the JVM and Python at the
    checkout, and make the engine and this directory importable by the
    Python workers. Returns the extra session confs."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    for d in (local, tmp, os.path.join(run_dir, "data"), os.path.join(run_dir, "io")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_IO_DIR"] = os.path.join(run_dir, "io")
    # every JVM, the spark-submit launcher's too: no perf-data files and
    # no temp files outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


class Context:
    """What a workload sees: the session, the seed, where to write inputs,
    and ``layer()`` — a span plus per-call counters in a traced run."""

    def __init__(self, seed: int, traced: bool, run_dir: str):
        from probes import ProcTree, Tracer

        self.seed = seed
        self.traced = traced
        self.data_dir = os.path.join(run_dir, "data")
        self.spark = None
        self.tracer = Tracer(traced)
        self.counters = None
        self.proc = ProcTree()
        self.recording = False
        self.jobs: list[dict] = []  # traced: per job {layer: [record]}

    @contextmanager
    def layer(self, name: str, tasks: bool = False, counted: bool = True):
        if not self.recording:
            yield
            return
        from probes import union_length

        if not counted:
            with self.tracer.span(name) as sp:
                yield
            sp.counters = {"s": sp.end - sp.start}
            self.jobs[-1].setdefault(name, []).append(sp.counters)
            return
        storage = self.counters.storage_bytes() if name == "caching.release" else 0
        cpu0 = self.proc.snapshot()["py_cpu_s"]
        with self.counters.group(name) as gid, self.tracer.span(name) as sp:
            yield
        rec = self.counters.read(gid, task_intervals=tasks)
        rec["py_worker_cpu_s"] = self.proc.snapshot()["py_cpu_s"] - cpu0
        rec["s"] = sp.end - sp.start

        def covered(key):
            return union_length((max(a, sp.start), min(b, sp.end))
                                for a, b in rec.pop(key) if b > sp.start and a < sp.end)

        # call time with no Spark job running, and with no task running
        rec["driver_s"] = rec["s"] - covered("job_intervals")
        rec["idle_s"] = rec["s"] - covered("task_intervals")
        rec["storage_bytes"] = storage
        sp.counters = rec
        self.jobs[-1].setdefault(name, []).append(rec)


def build_session(confs: dict):
    from dask_image_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_confs=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(ctx: Context) -> None:
    """Stop the SparkContext, then the gateway JVM, and wait for every
    child process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    for _ in range(100):
        if not ctx.proc.descendants():
            return
        time.sleep(0.1)
    for pid in ctx.proc.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tail(lat: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile with
    at least ten samples beyond it, but never below p90. Under 100 samples
    that is p90 by linear interpolation between the order statistics, with
    fewer than ten samples beyond it."""
    s = sorted(lat)
    n = len(s)
    if n >= 100:
        return s[n - 11], 100.0 * (n - 10) / n, 10
    v = statistics.quantiles(s, n=10, method="inclusive")[-1] if n > 1 else s[0]
    return v, 90.0, sum(x > v for x in s)


def environment(spark, workload) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        # read back after the first table load: load_table pins it to 32
        # whatever SPARK_GRAFT_SHUFFLE_PARTITIONS says
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "env_SPARK_GRAFT_SHUFFLE_PARTITIONS": os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS"),
        "adaptive": spark.conf.get("spark.sql.adaptive.enabled"),
        "arrow": spark.conf.get("spark.sql.execution.arrow.pyspark.enabled"),
        "spark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "machine": platform.machine(),
        "sizes": workload.sizes(),
    }


def per_layer(ctx: Context, setup, sampler, notes: list[dict], e2e: dict) -> dict:
    """Per-layer metrics of a traced run: medians, over the jobs that
    called a layer, of the per-job sums of its records (ratios are pooled
    over the run); 0 for a layer no job called."""
    jobs = ctx.jobs

    def med(layers, key):
        if isinstance(layers, str):
            layers = (layers,)
        vals = [sum(r.get(key, 0) for layer in layers if layer in j for r in j[layer])
                for j in jobs if any(layer in j for layer in layers)]
        return statistics.median(vals) if vals else 0.0

    def note(key):
        vals = [n[key] for n in notes if key in n]
        return statistics.median(vals) if vals else 0.0

    def pooled(num, den):
        d = sum(n.get(den, 0) for n in notes)
        return sum(n.get(num, 0) for n in notes) / d if d else 0.0

    def scan_input(key):
        # a counted scan call where the job scans its own input; otherwise
        # the scans run inside the query's jobs
        vals = []
        for j in jobs:
            counted = [r for r in j.get("sources.scan", ()) if "jobs" in r]
            recs = counted or [r for q in queries for r in j.get(q, ())]
            if recs:
                vals.append(sum(r.get(key, 0) for r in recs))
        return statistics.median(vals) if vals else 0.0

    text = ("textops.signatures", "textops.band_pairs")
    queries = ("queries.build", "queries.exec")
    chunk_rows = sum(r.get("shuffle_write_records", 0)
                     for j in jobs for r in j.get("chunked", ()))
    pixels = sum(n.get("chunked.pixels", 0) for n in notes)
    m = {
        "session.build_s": setup[0],
        "session.warmup_s": setup[1],
        "sources.scan_s": med("sources.scan", "s"),
        "sources.rows": scan_input("input_records"),
        "sources.input_bytes": scan_input("input_bytes"),
        "chunked.s": med("chunked", "s"),
        "chunked.tiles": note("chunked.tiles"),
        "chunked.halo_rows_ratio": chunk_rows / pixels if pixels else 0.0,
        "chunked.shuffle_write_bytes": med("chunked", "shuffle_write_bytes"),
        "chunked.task_run_s": med("chunked", "task_run_s"),
        "chunked.jvm_cpu_s": med("chunked", "jvm_cpu_s"),
        "chunked.py_worker_cpu_s": med("chunked", "py_worker_cpu_s"),
        "chunked.gc_s": med("chunked", "gc_s"),
        "chunked.spill_bytes": med("chunked", "spill_bytes"),
        "label_cc.s": med("label_cc", "s"),
        "label_cc.jobs": med("label_cc", "jobs"),
        "label_cc.stages": med("label_cc", "stages"),
        "label_cc.blocks": note("label_cc.blocks"),
        "label_cc.driver_s": med("label_cc", "driver_s"),
        "label_cc.task_run_s": med("label_cc", "task_run_s"),
        "label_cc.py_worker_cpu_s": med("label_cc", "py_worker_cpu_s"),
        "label_cc.shuffle_write_bytes": med("label_cc", "shuffle_write_bytes"),
        "label_cc.components": note("label_cc.components"),
        "ndmeasure.s": med("ndmeasure", "s"),
        "ndmeasure.labels": note("ndmeasure.labels"),
        "ndmeasure.stages": med("ndmeasure", "stages"),
        "ndmeasure.shuffle_write_bytes": med("ndmeasure", "shuffle_write_bytes"),
        "textops.signatures_s": med("textops.signatures", "s"),
        "textops.shingles": note("textops.shingles"),
        "textops.jvm_cpu_s": med(text, "jvm_cpu_s"),
        "textops.band_pairs_s": med("textops.band_pairs", "s"),
        "textops.band_rows": note("textops.band_rows"),
        "textops.candidate_pairs": note("textops.candidate_pairs"),
        "textops.pair_precision": pooled("textops.true_pairs", "textops.candidate_pairs"),
        "textops.planted_recall": pooled("textops.planted_found", "textops.planted_pairs"),
        "textops.shuffle_write_bytes": med(text, "shuffle_write_bytes"),
        "textops.spill_bytes": med(text, "spill_bytes"),
        "queries.build_s": med("queries.build", "s"),
        "queries.exec_s": med("queries.exec", "s"),
        "queries.jobs": med(queries, "jobs"),
        "queries.stages": med(queries, "stages"),
        "queries.tasks": med(queries, "tasks"),
        "queries.idle_s": med("queries.exec", "idle_s"),
        "caching.release_s": med("caching.release", "s"),
        "caching.storage_bytes_peak": max(
            (r["storage_bytes"] for j in jobs for r in j.get("caching.release", ())),
            default=0),
        "latency_s.tail": e2e["latency_s.tail"],
        "peak_rss_mb": sampler.peak_total,
        "proc.driver_rss_mb_peak": sampler.peak_jvm,
        "proc.py_workers_rss_mb_peak": sampler.peak_py,
    }
    return {k: float(v) for k, v in m.items()}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith(("_s", ".s")) or name.startswith("latency_s."):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_mb_peak", "_mb")):
        return "MB"
    if name.endswith(("ratio", "precision", "recall")):
        return "ratio"
    return "count"


def set_up(ctx: Context, wl, confs: dict):
    """One cold set-up: the session build (JVM launch included), then the
    workload's warm-up; returns (build_s, warmup_s) and the environment."""
    t0 = time.perf_counter()
    ctx.spark = build_session(confs)
    t1 = time.perf_counter()
    wl.warmup(ctx)
    setup = (t1 - t0, time.perf_counter() - t1)
    return setup, environment(ctx.spark, wl)


def measure(ctx: Context, wl, seconds: float) -> dict:
    """The timed closed loop: jobs back to back until ``seconds`` have
    passed and the current pass of the workload's mix is complete."""
    from probes import RssSampler, cpu_times

    sampler = RssSampler(ctx.proc)
    sampler.start()
    cpu0 = cpu_times()
    m = {"lat": [], "items": 0, "done": [], "errors": [], "notes": [],
         "gen_s": 0.0, "sampler": sampler}
    t_end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < t_end or i % wl.pass_len:
        g0 = time.perf_counter()
        inp = wl.make_input(ctx, i)
        m["gen_s"] += time.perf_counter() - g0
        ctx.tracer.job = i
        ctx.jobs.append({})
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(f"{wl.name}.job"):
                out = wl.run(ctx, inp)
        except Exception as e:  # noqa: BLE001 - a failed job is counted
            m["errors"].append(f"job {i}: {type(e).__name__}: {e}"[:400])
        else:
            m["lat"].append(time.perf_counter() - t0)
            m["items"] += inp["items"]
            m["done"].append((inp, out))
            if ctx.traced:
                m["notes"].append(wl.notes(inp, out))
        i += 1
    sampler.stop()
    cpu1 = cpu_times()
    m["attempted"] = i
    m["cpu_steal_frac"] = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
    return m


def run(args) -> int:
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    confs = prepare_environment(run_dir)
    from probes import SparkCounters
    from workloads import WORKLOADS

    ctx = Context(args.seed, bool(args.trace), run_dir)
    wl = WORKLOADS[args.workload]()
    try:
        t0 = time.perf_counter()
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t0
        setup, env = set_up(ctx, wl, confs)
        if ctx.traced:
            ctx.counters = SparkCounters(ctx.spark)
            ctx.recording = True
        m = measure(ctx, wl, args.seconds)
        ctx.recording = False

        c0 = time.perf_counter()
        errors, wrong = m["errors"], 0
        for inp, out in m["done"]:
            problems = wl.check(ctx, inp, out)
            if problems:
                wrong += 1
                errors.extend(problems)
        check_s = time.perf_counter() - c0
        lat, attempted = m["lat"], m["attempted"]
        failed = (attempted - len(m["done"])) + wrong

        tail_v, tail_p, tail_n = tail(lat) if lat else (0.0, 0.0, 0)
        e2e = {
            "setup_s": sum(setup),
            "items_per_s": m["items"] / sum(lat) if lat else 0.0,
            "latency_s.p50": statistics.median(lat) if lat else 0.0,
            "latency_s.tail": tail_v,
            "peak_rss_mb": m["sampler"].peak_total,
        }
        info = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "environment": env,
            "items_unit": wl.unit, "jobs": attempted, "failed": failed,
            "failed_frac": failed / attempted if attempted else 1.0,
            "latency_samples": len(lat), "latencies_s": lat,
            "tail_percentile": tail_p, "tail_samples_beyond": tail_n,
            "build_s": setup[0], "warmup_s": setup[1], "prepare_s": prepare_s,
            "input_gen_s": m["gen_s"], "check_s": check_s,
            "cpu_steal_frac": m["cpu_steal_frac"],
            "end_to_end": e2e, "errors": errors,
        }
        layers = None
        if ctx.traced:
            layers = per_layer(ctx, setup, m["sampler"], m["notes"], e2e)
            info["per_layer"] = layers
            info.update(trace_summary(ctx, wl, e2e, env, args))
        write_result(info, ctx, args)
        report(info, layers)
        metrics = layers if ctx.traced else {k: e2e[k] for k in GATED}
        units = {k: unit_of(k) for k in metrics} if ctx.traced else E2E_UNITS
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        stop_session(ctx)
        shutil.rmtree(run_dir, ignore_errors=True)


def trace_summary(ctx, wl, e2e, env, args) -> dict:
    """Self time per span name (a span minus its children), the share of
    traced job time the layer spans cover, and the tracing overhead
    against the untraced result of the same workload and seed, if any."""
    spans = ctx.tracer.spans
    job = f"{wl.name}.job"
    self_s: dict[str, float] = {}
    for k, s in enumerate(spans):
        self_s[s.name] = self_s.get(s.name, 0.0) + ctx.tracer.self_time(k)
    job_spans = [s for s in spans if s.name == job]
    job_s = sum(s.end - s.start for s in job_spans)
    # task run time of the job's layer calls over the job's slot time
    # (cores x job time): how much of the job the engine's tasks fill
    slots = env["nproc"]
    busy = [sum(r.get("task_run_s", 0.0) for recs in j.values() for r in recs)
            / (slots * (s.end - s.start)) for j, s in zip(ctx.jobs, job_spans)]
    out = {
        "trace_spans": len(spans),
        "trace_self_s": self_s,
        "trace_layer_share": 1.0 - self_s.get(job, 0.0) / job_s if job_s else 0.0,
        "trace_task_slot_share": statistics.median(busy) if busy else 0.0,
    }
    base = result_path(wl.name, args.seed, 0)
    if not os.path.exists(base):
        out["tracing_overhead"] = "absent: no untraced result for this workload and seed"
        return out
    with open(base) as f:
        untraced = json.load(f)
    if untraced.get("environment") != env:
        out["tracing_overhead"] = "absent: the untraced result has another environment"
    else:
        out["tracing_overhead"] = {k: e2e[k] - untraced["end_to_end"][k] for k in e2e}
    return out


def result_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(WORK, "results", f"{workload}-seed{seed}-trace{trace}.json")


def write_result(info: dict, ctx: Context, args) -> None:
    path = result_path(info["workload"], args.seed, args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if ctx.traced:
        info["spans"] = [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "job": s.job,
             "counters": {k: v for k, v in s.counters.items()}}
            for s in ctx.tracer.spans
        ]
    with open(path, "w") as f:
        json.dump(info, f, indent=1, default=float)
    info.pop("spans", None)


def report(info: dict, layers: dict | None) -> None:
    env = info["environment"]
    print(f"workload {info['workload']} seed {info['seed']} trace {info['trace']}: "
          f"{info['jobs']} jobs ({info['seconds']:g} s clock, then the pass "
          f"completed), one closed-loop client, "
          f"master {env['master']}, sizes {json.dumps(env['sizes'])}")
    for k, v in info["end_to_end"].items():
        unit = E2E_UNITS[k].replace("items", info["items_unit"])
        extra = ""
        if k == "latency_s.tail":
            extra = (f"  (p{info['tail_percentile']:.1f} of {info['latency_samples']} "
                     f"samples, {info['tail_samples_beyond']} beyond)")
        print(f"  {k:<16} {v:>14.6g} {unit}{extra}")
    print(f"  {'failed_frac':<16} {info['failed_frac']:>14.6g} "
          f"({info['failed']} of {info['jobs']} failed or wrong)")
    print(f"  correct: {info['failed'] == 0}; checked outside the clock in "
          f"{info['check_s']:.2f} s; inputs generated in {info['input_gen_s']:.2f} s "
          f"(+{info['prepare_s']:.2f} s before set-up); CPU steal "
          f"{100 * info['cpu_steal_frac']:.1f}% of the timed window")
    for e in info["errors"][:10]:
        print(f"  error: {e}")
    if layers is not None:
        for k, v in layers.items():
            print(f"  {k:<30} {v:>14.6g} {unit_of(k)}")
        print(f"  layer spans cover {100 * info['trace_layer_share']:.1f}% of traced job time; "
              f"tasks fill {100 * info['trace_task_slot_share']:.1f}% of its "
              f"{info['environment']['nproc']} task slots (median job)")
        oh = info["tracing_overhead"]
        if isinstance(oh, dict):
            for k, v in oh.items():
                print(f"  tracing overhead {k:<16} {v:+.6g}")
        else:
            print(f"  tracing overhead: {oh}")


def main(argv=None) -> int:
    args = parse_args(argv)
    for pkg in ("dask_image_spark", "tests"):
        if not os.path.isdir(os.path.join(ROOT, pkg)):
            print(f"perfbench: {pkg}/ not found next to perfbench/; run from a "
                  f"checkout of the repository", file=sys.stderr)
            return 2
    watchdog = threading.Timer(DEADLINE_S, _deadline)
    watchdog.daemon = True
    watchdog.start()
    return run(args)


def _deadline() -> None:
    from probes import ProcTree

    print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
    for pid in ProcTree().descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
