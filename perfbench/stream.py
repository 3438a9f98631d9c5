"""``stream_rules``: one generated sensor stream at a fixed offered rate
feeding three standing rules (filter, event-time tumbling window,
keyed analytic), each delivering to a sink that stamps receipt time.
A monitoring client starts, polls and deletes the rules through the REST
control plane over HTTP.

The stream is Spark's ``rate`` source: it releases rows on the wall clock
whether or not the rules keep up (an open loop), and each row carries its
creation time.  Every other column is a closed-form function of the row id
and the seed, so the outputs can be checked exactly afterwards.
"""

from __future__ import annotations

import statistics
import threading
import time
from datetime import datetime, timezone

import numpy as np

import tracing
from rest import RestClient

RATE = 2000                 # offered events per second
DEVICES = 16
TICK_US = 1_000_000 // RATE  # event-time spacing of consecutive ids
BASE_US = 1_700_000_000_000_000
WARM_S = 10.0
WARM_BATCHES = 3
POLL_S = 1.0                # status poll period per rule


def _hash(ids, salt):
    """Multiplicative hash, identical in numpy and in Spark SQL."""
    return (ids * 2654435761 + salt) % 4294967296


def closed_form(ids: np.ndarray, salt: int) -> dict:
    h = _hash(ids.astype("int64"), salt)
    return {
        "device": (h // 65536) % DEVICES,
        "temperature": ((h // 7) % 222) / 10.0,
        "ts_us": BASE_US + ids * TICK_US - ((h // 13) % 500) * 1000,
    }


class Stream:
    # a set-up starts every rule and waits for its first delivery (~4.5 s)
    SETUP_REPS = 3

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rules = ctx.spec["stream_rules"]["rules"]
        self.salt = ctx.seed % 1_000_003
        self.srv = None
        self.client = None
        self._setups = 0

    def _source(self, spark):
        from pyspark.sql import functions as F

        h = F.expr(f"(value * 2654435761 + {self.salt}) % 4294967296")
        return (spark.readStream.format("rate")
                .option("rowsPerSecond", RATE).option("numPartitions", 2).load()
                .select(F.col("value").alias("id"),
                        (F.floor(h / 65536) % DEVICES).alias("device"),
                        ((F.floor(h / 7) % 222) / 10.0).alias("temperature"),
                        F.timestamp_micros(F.lit(BASE_US) + F.col("value") * TICK_US
                                           - (F.floor(h / 13) % 500) * 1000).alias("ts"),
                        F.unix_millis("timestamp").alias("created_ms")))

    def setup(self, spark) -> None:
        """What a fresh session pays before its first results: register the
        stream, start the REST server, then start every rule, wait for its
        first delivery and delete it again."""
        from ekuiper_spark import Catalog
        from ekuiper_spark.server import RestServer

        self.spark = spark
        catalog = Catalog()
        catalog.register_df("demo", self._source(spark))
        self.srv = RestServer(spark, catalog).start()
        self.runtime = self.srv.runtime
        self.client = RestClient(self.srv.port)
        self._setups += 1
        off = tracing.Tracer(False)
        ids = self._start(off, f"setup{self._setups}")
        self._poll(ids, off, time.time() + 60,
                   done=lambda: all(self.received[n] for n in ids))
        self._stop(ids, off)

    def teardown(self) -> None:
        if self.client is not None:
            self.client.close()
        if self.srv is not None:
            self.srv.stop()
        self.srv = self.client = None

    def _start(self, tracer, tag: str):
        """Register the rules with sinks that stamp receipt time (a Python
        sink cannot travel over HTTP, so registration goes through the
        server's runtime) and start them over HTTP."""
        from ekuiper_spark.streaming.runtime import Rule

        self.received = {r["name"]: [] for r in self.rules}
        lock = threading.Lock()
        ids = {}
        for r in self.rules:
            name = r["name"]
            rid = f"{name}_{tag}"

            def sink(batch_df, epoch, _name=name):
                with tracer.span("sink_" + _name, "bench"):
                    rows = batch_df.collect()
                    t = time.time()
                with lock:
                    self.received[_name].append((t, rows))

            self.runtime.create_rule(Rule(id=rid, sql=r["sql"], options=dict(r["options"]),
                                          actions=[{"foreach_batch": {"fn": sink}}]))
            ids[name] = rid
        # control-plane requests (start, status, delete) and those that failed
        self.ctl_ops = self.ctl_failures = 0
        for rid in ids.values():
            code, _ = self.client.request("POST", f"/rules/{rid}/start", None, tracer, "start")
            self.ctl_failures += code != 200
            self.ctl_ops += 1
        return ids

    def _poll(self, ids, tracer, until: float, done=None) -> None:
        """Poll every rule's status once per ``POLL_S`` until ``until`` (or
        until ``done()`` holds); a rule not running counts as a failure."""
        while time.time() < until and not (done and done()):
            t_next = time.time() + POLL_S
            for rid in ids.values():
                code, st = self.client.request("GET", f"/rules/{rid}/status", None,
                                               tracer, "status")
                self.ctl_ops += 1
                self.ctl_failures += code != 200 or st.get("status") != "running"
            time.sleep(max(0.0, min(t_next, until) - time.time()))

    def _stop(self, ids, tracer) -> dict:
        progress = {}
        for name, rid in ids.items():
            progress[name] = list(self.runtime.queries[rid].recentProgress)
            code, _ = self.client.request("DELETE", f"/rules/{rid}", None, tracer, "delete")
            self.ctl_failures += code != 200
            self.ctl_ops += 1
        return progress

    def _measure(self, tracer, tag: str):
        """Start the rules, warm them up, then poll for ``--seconds``.
        Returns the measure window (wall times, the last SQL execution
        before it and the spans opened in it), the rules' progress and what
        the sinks received."""
        ids = self._start(tracer, tag)
        queries = [self.runtime.queries[rid] for rid in ids.values()]
        self._poll(ids, tracer, time.time() + 60,
                   done=lambda: all(len(q.recentProgress) >= WARM_BATCHES for q in queries))
        self._poll(ids, tracer, time.time() + WARM_S)
        exec0 = tracing.last_execution_id(self.spark) if tracer.enabled else -1
        first_span = len(tracer.spans)
        with tracer.span("measure", "bench") as m:
            t0 = time.time()
            self._poll(ids, tracer, t0 + self.ctx.seconds)
            t1 = time.time()
        # spans opened inside the window (before the deletes below)
        spans = [s for s in tracer.spans[first_span:] if s["t0"] < m["t1"]] if m else []
        progress = self._stop(ids, tracer)
        window = {"t0": t0, "t1": t1, "exec0": exec0, "spans": spans}
        return window, progress, self.received

    def run(self, tracer_off, tracer_on) -> dict:
        w, progress, received = self._measure(tracer_off, "a")
        e2e, per_rule = self._e2e(w["t0"], w["t1"], progress, received)
        attempted, failed, checks = self._check(received)
        out = {"attempted": attempted + self.ctl_ops, "failed": failed + self.ctl_failures,
               "e2e": e2e, "detail": {"per_rule": per_rule, "checks": checks}}
        if tracer_on is not None:
            tracer_on.install(self.spark)
            try:
                w, progress, received = self._measure(tracer_on, "b")
            finally:
                tracer_on.uninstall()
            out["traced_e2e"], _ = self._e2e(w["t0"], w["t1"], progress, received)
            a2, f2, _ = self._check(received)
            out["attempted"] += a2 + self.ctl_ops
            out["failed"] += f2 + self.ctl_failures
            # totals and shares cover the measure window only: spans opened
            # in it, SQL executions started in it, progress events stamped
            # in it.  Per-request medians cover every traced request, since
            # rules start before the window and are deleted after it.
            units = w["t1"] - w["t0"]
            spans = w["spans"]
            inside = [p for ps in progress.values() for p in ps
                      if w["t0"] <= self._ts(p) < w["t1"]]
            out["traced_wall_s"] = units
            out["traced_spans"] = spans
            out["layers"] = tracing.layer_metrics(tracer_on, self.spark, w["exec0"], inside,
                                                  units=units, spans=spans)
            out["layers"]["runtime.start_ms"] = tracing.start_median(tracer_on.spans)
            out["layers"].update(tracing.route_medians(tracer_on.spans))
            out["detail"]["progress"] = progress
        return out

    @staticmethod
    def _ts(p: dict) -> float:
        return datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=timezone.utc).timestamp()

    def _e2e(self, t0, t1, progress, received):
        per_rule = {}
        for r in self.rules:
            name = r["name"]
            col = r["created_col"]
            lat = [t * 1000.0 - row[col] for t, rows in received[name] if t0 <= t < t1
                   for row in rows]
            # batch k takes the rows released since batch k-1 started, so
            # rows of batches 2..n over the span of their start times is
            # the consumption rate, free of batch-boundary quantisation
            batches = sorted((self._ts(p), p["numInputRows"]) for p in progress[name]
                             if t0 <= self._ts(p) < t1)
            consumed = sum(n for _, n in batches[1:])
            per_rule[name] = {
                "events_per_s": consumed / (batches[-1][0] - batches[0][0]),
                "latency_p50_ms": statistics.median(lat),
                "latency_p90_ms": statistics.quantiles(lat, n=10)[-1],
                "samples": len(lat),
            }
            self.ctx.log(f"{name}: {per_rule[name]}")
        rules = per_rule.values()
        # latencies as geometric means over rules, as on batch_headline: each
        # rule weighs the same, so the window rule (2-4 s, stepping by one
        # micro-batch) does not drown the filter and analytic rules (< 1.5 s)
        return {
            "ops_per_s": statistics.fmean(x["events_per_s"] for x in rules),
            "latency_ms": statistics.geometric_mean(x["latency_p50_ms"] for x in rules),
            "tail_latency_ms": statistics.geometric_mean(x["latency_p90_ms"] for x in rules),
        }, per_rule

    def _check(self, received) -> tuple[int, int, dict]:
        """Compare every delivered row with its closed form; one operation
        per delivered row, plus one per id missing from a rule's output."""
        attempted = failed = 0
        checks = {}
        for r in self.rules:
            name = r["name"]
            rows = [row for _, rs in received[name] for row in rs]
            bad = getattr(self, "_check_" + r["check"])(rows)
            attempted += max(len(rows), 1) + bad[1]
            failed += bad[0] + bad[1]
            checks[name] = {"rows": len(rows), "wrong": bad[0], "missing": bad[1]}
            if bad != (0, 0):
                self.ctx.log(f"{name}: {bad[0]} wrong rows, {bad[1]} missing of {len(rows)}")
        return attempted, failed, checks

    def _check_filter(self, rows):
        if not rows:
            return 0, 1
        ids = np.array([r["id"] for r in rows], dtype="int64")
        cf = closed_form(np.arange(ids.max() + 1, dtype="int64"), self.salt)
        temp = np.array([r["temperature"] for r in rows])
        wrong = int(np.sum(~np.isclose(temp, cf["temperature"][ids])) +
                    np.sum(temp <= 20) + (len(ids) - len(np.unique(ids))))
        want = np.flatnonzero(cf["temperature"] > 20)
        return wrong, len(np.setdiff1d(want, ids))

    def _check_window(self, rows):
        """Every delivered window row must match the closed form, and every
        (window, device) key that has events and closes no later than the
        newest delivered window must be there: windows close in event-time
        order, so one delivered window means all earlier ones were due."""
        if not rows:
            return 0, 1
        top = max(r["max_id"] for r in rows)
        # jitter is under 0.5 s, so 1 s of ids past ``top`` covers every
        # event of the newest delivered window
        ids = np.arange(top + RATE + 1, dtype="int64")
        cf = closed_form(ids, self.salt)
        win = cf["ts_us"] // 1_000_000
        wrong = 0
        seen = set()
        for r in rows:
            ws = int(r["ws"].replace(tzinfo=timezone.utc).timestamp())
            sel = (win == ws) & (cf["device"] == r["device"])
            key = ws * DEVICES + r["device"]
            if (key in seen or int(sel.sum()) != r["n"] or int(ids[sel].max()) != r["max_id"]
                    or not np.isclose(cf["temperature"][sel].sum(), r["sum_t"])):
                wrong += 1
            seen.add(key)
        last = max(seen) // DEVICES
        due = np.unique((win * DEVICES + cf["device"])[win <= last])
        return wrong, len(np.setdiff1d(due, np.fromiter(seen, dtype="int64")))

    def _check_analytic(self, rows):
        if not rows:
            return 0, 1
        ids = np.array([r["id"] for r in rows], dtype="int64")
        n = int(ids.max()) + 1
        cf = closed_form(np.arange(n, dtype="int64"), self.salt)
        dev, temp = cf["device"], cf["temperature"]
        prev = np.full(n, np.nan)
        run = np.zeros(n)
        for d in range(DEVICES):
            idx = np.flatnonzero(dev == d)
            prev[idx[1:]] = temp[idx[:-1]]
            run[idx] = np.cumsum(temp[idx])
        got_prev = np.array([np.nan if r["prev_t"] is None else r["prev_t"] for r in rows])
        got_run = np.array([r["run_t"] for r in rows])
        wrong = int(np.sum(~np.isclose(got_prev, prev[ids], equal_nan=True)) +
                    np.sum(~np.isclose(got_run, run[ids], rtol=1e-9)) +
                    (len(ids) - len(np.unique(ids))))
        return wrong, n - len(np.unique(ids))
