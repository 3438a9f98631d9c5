"""Benchmark runner for the ekuiper_spark engine.

    python3 perfbench/run.py --workload {batch_headline,stream_rules}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  Inputs are generated from the seed; the
engine is reached only through its public entry points.  Human-readable
detail goes to stderr; the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (and writes the
spans to ``.perfbench_work/trace-<workload>-<seed>.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 2
WORKLOADS = ("batch_headline", "stream_rules")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Ctx:
    """What a workload gets: its seed, run length, scratch space and log."""

    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.work = work
        with open(os.path.join(HERE, "workloads.json")) as f:
            self.spec = json.load(f)
        self.log = log

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _pin_environment(work: str) -> None:
    """Keep every file Spark, the JVM and the engine write inside ``work``
    and make the engine importable by Python workers."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # one --driver-java-options: a --conf spark.driver.extraJavaOptions
    # beside it would replace it.  -XX:-UsePerfData stops the JVM writing
    # its counters to /tmp/hsperfdata_<user>.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={work} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


def _cpu_ticks() -> list[int]:
    """The host's aggregate CPU counters (``/proc/stat``), in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_ticks`` readings (the 8th counter is steal)."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def _workload(name: str, ctx: Ctx):
    if name == "batch_headline":
        from batch import Batch
        return Batch(ctx)
    from stream import Stream
    return Stream(ctx)


def _setup(wl):
    """Session start plus the workload's own set-up, ``wl.SETUP_REPS`` times.
    The first repetition also launches the JVM and imports the engine, so
    it is logged but left out: returns the live session and the median of
    the later repetitions."""
    from ekuiper_spark import get_spark

    spark, reps = None, []
    for _ in range(wl.SETUP_REPS):
        if spark is not None:
            wl.teardown()
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", CPUS)
        wl.setup(spark)
        reps.append(time.perf_counter() - t0)
    log(f"setup reps (s): {', '.join(f'{r:.3f}' for r in reps)}")
    return spark, statistics.median(reps[1:])


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _pin_environment(work)
    load0 = os.getloadavg()[0]
    ticks0 = _cpu_ticks()
    ncpu = os.cpu_count() or 1
    spark = sampler = None
    try:
        import tracing

        sampler = tracing.RssSampler().start()
        ctx = Ctx(args, work)
        wl = _workload(args.workload, ctx)
        spark, setup_s = _setup(wl)
        tracer = tracing.Tracer(True) if args.trace else None
        res = wl.run(tracing.Tracer(False), tracer)
        res["e2e"]["setup_s"] = setup_s
        res["e2e"]["peak_rss_mb"] = sampler.stop()
        wl.teardown()
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    load1 = os.getloadavg()[0]
    steal = _steal_share(ticks0, _cpu_ticks())
    loaded = load0 > ncpu / 2
    res["e2e"]["ops_failed_ratio"] = res["failed"] / max(res["attempted"], 1)
    log(f"workload={args.workload} seed={args.seed} loadavg start={load0:.2f} "
        f"end={load1:.2f} steal={steal:.3f} flagged_loaded={int(loaded)} "
        f"(threshold nproc/2={ncpu / 2})")
    runs_log = os.path.join(ROOT, ".perfbench_work", "runs.jsonl")
    with open(runs_log, "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "loadavg": [load0, load1], "steal": steal,
                            "flagged_loaded": loaded, "e2e": res["e2e"]}) + "\n")
    with open(runs_log) as f:
        flags = [json.loads(line)["flagged_loaded"] for line in f]
    log(f"{sum(flags)} of {len(flags)} runs in {runs_log} started above nproc/2")
    for k, v in sorted(res["e2e"].items()):
        log(f"e2e {k} = {v:.6g}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        layers = dict(res["layers"])
        traced, plain = res["traced_e2e"], res["e2e"]
        layers["trace.overhead_latency_ms"] = traced["latency_ms"] - plain["latency_ms"]
        layers["trace.overhead_pct"] = 100.0 * (traced["latency_ms"] / plain["latency_ms"] - 1)
        # self time per second of traced wall time: the share each layer
        # kept the benchmark's calling thread(s) busy
        for layer, s in tracer.self_times(res.get("traced_spans")).items():
            layers[f"self.{layer}_share"] = s / res["traced_wall_s"]
        out = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec["per_layer"]}
        trace_path = os.path.join(ROOT, ".perfbench_work",
                                  f"trace-{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "loadavg": [load0, load1], "flagged_loaded": loaded,
                       "e2e_untraced": plain, "e2e_traced": traced,
                       "layers": layers, "detail": res.get("detail"),
                       "spans": tracer.spans}, f, default=str)
        log(f"trace written to {trace_path}")
    else:
        out = {m["name"]: {"value": float(res["e2e"][m["name"]]), "unit": m["unit"]}
               for m in spec["end_to_end"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
