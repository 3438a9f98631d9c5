"""``batch_headline``: the pinned headline queries, one at a time, each
compiled, planned and executed to the ``noop`` sink, in warm passes."""

from __future__ import annotations

import math
import random
import statistics
import time

import datagen
import oracle
import tracing

# data shape is fixed (the seed only orders the queries), so the pinned
# fingerprints of the two queries without a DuckDB oracle stay valid
DATA_SEED = 20240101
SCALE = 0.005
# untimed noop passes after the check pass: the JIT is still compiling
# during the first pass after the check, which runs ~20% slower and uses
# ~20% more CPU than the passes after it (21, 9.7, 7.8, 7.8, 7.7 s on a
# 4-vCPU VM); one tiny noop query as warm-up instead did not help
WARM_PASSES = 1


def _decontam(spark, sf_dir):
    from pyspark.sql import functions as F

    from ekuiper_spark.datapipe.decontam import contamination_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    eval_df = (docs.orderBy("doc_id").limit(50)
               .select(F.col("doc_id").alias("eval_id"), "text"))
    return contamination_profile(docs, eval_df, n=8)


def _paragraph_dedup(spark, sf_dir):
    from ekuiper_spark.datapipe.dedup import drop_duplicate_paragraphs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return drop_duplicate_paragraphs(docs)


EXTRA = {"dp_decontam": _decontam, "dp_paragraph_dedup": _paragraph_dedup}


class Batch:
    # session restarts are cheap here (~0.5 s), so take more of them
    SETUP_REPS = 4

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spec = ctx.spec["batch_headline"]
        self.names = self.spec["queries"]
        self.data = ctx.path("data")
        datagen.write_tables(self.data, DATA_SEED, SCALE)
        self.rng = random.Random(ctx.seed)

    def fns(self):
        import __spark_entry__ as entry

        qs = entry.queries()
        return {n: qs.get(n) or EXTRA[n] for n in self.names}

    def setup(self, spark) -> None:
        """What a fresh session pays before its first result: catalog load,
        then compile, plan and run of the first pinned query."""
        self.spark = spark
        self.queries = self.fns()
        first = self.names[0]
        self.queries[first](spark, self.data).write.format("noop").mode("overwrite").save()

    def teardown(self) -> None:
        pass

    def _run_query(self, name: str, tracer) -> float:
        spark = self.spark
        t0 = time.perf_counter()
        with tracer.span(name, "bench"):
            with tracer.span("build_" + name, "translator"):
                df = self.queries[name](spark, self.data)
            if tracer.enabled:
                with tracer.span("plan", "translator") as s:
                    plan = df._jdf.queryExecution().executedPlan()
                    s["nodes"] = sum(1 for ln in plan.treeString().splitlines() if ln.strip())
            with tracer.span("execute", "exec"):
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        # the similarity operators cache intermediate frames; drop them so
        # every pass runs the same plan from the same state
        spark.catalog.clearCache()
        return wall

    def _passes(self, seconds: float, tracer, count: int = 0):
        """Whole passes in seeded order, at least one; a further pass starts
        only if a pass as long as the last one still ends within
        ``seconds``, so a run never measures much past its window.  With
        ``count`` set, exactly that many passes instead."""
        times = {n: [] for n in self.names}
        pass_walls, per_pass_layers = [], []
        failed = 0
        t_end = time.perf_counter() + seconds
        while (len(pass_walls) < count if count else
               not pass_walls or time.perf_counter() + pass_walls[-1] <= t_end):
            order = list(self.names)
            self.rng.shuffle(order)
            t0 = time.perf_counter()
            n_spans = len(tracer.spans)
            exec0 = tracing.last_execution_id(self.spark) if tracer.enabled else 0
            with tracer.span(f"pass{len(pass_walls)}", "bench"):
                for name in order:
                    try:
                        times[name].append(self._run_query(name, tracer))
                    except Exception as e:  # counted, reported, run goes on
                        failed += 1
                        self.ctx.log(f"{name} failed: {type(e).__name__}: {e}")
            pass_walls.append(time.perf_counter() - t0)
            if tracer.enabled:
                per_pass_layers.append(tracing.layer_metrics(
                    tracer, self.spark, exec0, [], 1, spans=tracer.spans[n_spans:]))
        return times, pass_walls, failed, per_pass_layers

    def check(self) -> tuple[int, int, dict]:
        """One untimed pass that collects every output and compares it with
        DuckDB (or with the pinned fingerprint where no oracle exists)."""
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        pinned = self.spec["pinned_fingerprints"]
        con = oracle.duckdb_con(self.data)
        bad, detail = 0, {}
        for name in self.names:
            try:
                df = self.queries[name](self.spark, self.data)
                got = oracle.fingerprint(df.columns, [tuple(r) for r in df.collect()])
                self.spark.catalog.clearCache()
            except Exception as e:  # a failing query is a failed check
                got = f"{type(e).__name__}: {e}"
            want = (oracle.duckdb_fingerprint(con, oracles[name]) if name in oracles
                    else tuple(pinned.get(name, ())))
            ok = got == want
            bad += not ok
            detail[name] = {"rows": got[0] if ok else None, "ok": ok}
            if not ok:
                self.ctx.log(f"{name}: output {got} != expected {want}")
        con.close()
        return len(self.names), bad, detail

    def run(self, tracer_off, tracer_on) -> dict:
        t0 = time.perf_counter()
        attempted, failed, detail = self.check()
        self.ctx.log(f"check pass (untimed, also the warm-up) {time.perf_counter() - t0:.1f}s")
        _, warm, warm_failed, _ = self._passes(0, tracer_off, count=WARM_PASSES)
        self.ctx.log("warm passes (untimed, s): " + ", ".join(f"{w:.2f}" for w in warm))
        attempted += len(self.names) * WARM_PASSES
        failed += warm_failed
        times, walls, failed_ops, _ = self._passes(self.ctx.seconds, tracer_off)
        self.ctx.log("timed passes (s): " + ", ".join(f"{w:.2f}" for w in walls))
        self.ctx.log("query walls (s): " + ", ".join(
            f"{n}={statistics.median(v):.3f}" for n, v in times.items() if v))
        attempted += sum(len(v) for v in times.values()) + failed_ops
        failed += failed_ops
        e2e = self._e2e(times, walls)
        out = {"attempted": attempted, "failed": failed, "e2e": e2e,
               "detail": {"checks": detail, "pass_s": walls,
                          "query_median_s": {n: statistics.median(v) for n, v in times.items() if v}}}
        if tracer_on is not None:
            tracer_on.install(self.spark)
            try:
                t2, w2, f2, layers = self._passes(self.ctx.seconds, tracer_on)
            finally:
                tracer_on.uninstall()
            out["failed"] += f2
            out["attempted"] += sum(len(v) for v in t2.values()) + f2
            out["traced_wall_s"] = sum(w2)
            out["layers"] = {k: statistics.median(p[k] for p in layers) for k in layers[0]}
            out["traced_e2e"] = self._e2e(t2, w2)
            out["detail"]["layers_per_pass"] = layers
        return out

    def _e2e(self, times, walls) -> dict:
        medians = [statistics.median(v) for v in times.values() if v]
        every = sorted(x for v in times.values() for x in v)
        return {
            "ops_per_s": len(every) / sum(walls),
            "latency_ms": 1000.0 * math.exp(statistics.fmean(math.log(m) for m in medians)),
            # mean of the slower half of the executions (11 of a 21-query
            # pass): a run times one pass, so no percentile above the median
            # has ten executions beyond it, and the median itself hops
            # between query clusters (~0.31 s, ~0.40 s) from run to run
            "tail_latency_ms": 1000.0 * statistics.fmean(every[len(every) // 2:]),
            "pass_s": statistics.median(walls),
        }
