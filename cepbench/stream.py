"""``billing_stream``: an open loop at a fixed input rate through the
streaming CEP operator.

A generator thread makes headerless billing CSV files visible in a
source directory on a fixed schedule (write elsewhere, then rename),
whatever the engine does. Event time runs ``COMPRESSION`` times faster
than wall time, so the 6-minute watermark and the 1-hour ``WITHIN``
resolve inside the run. Events arrive out of order by up to 5 minutes
of event time and never later than the watermark allows.

The engine runs ``read_billing_csv_stream`` ->
``match_pattern_stream(billing_pattern(emit_timeouts=True), "6 minutes")``
into a ``foreachBatch`` sink that stamps when each alert arrived. After
the last scheduled file, a far-future sentinel event on a key of its
own moves the watermark past every deadline, so every alert is emitted.
Alerts are then compared with ``cep_alerts_with_timeouts`` on the same
events, and that with its DuckDB oracle.

The traced run also measures the LLM-data query layers once
(``corpus.trace_queries``) after the stream has stopped.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import sys
import threading
import time

import numpy as np
import pandas as pd

import corpus
import gate
import gen
import layers

COMPRESSION = 1800  # event seconds per wall second
TICK_S = 0.25  # one file per tick
MAX_DELAY_S = 300  # out-of-orderness, event seconds (watermark delay is 360)
MEAN_GAP_S = 600  # per-key mean gap between short-gap events, event seconds
N_KEYS = 10000  # sets the rate: about 1.33 events per key per wall second
SENTINEL = "sentinel,2099-01-01 00:00:00,50,50\n"
MAX_LAG_S = 0.5  # a file made visible later than this behind schedule voids the run
DRAIN_TIMEOUT_S = 60


def make_files(seed: int, seconds: int, n_keys: int | None = None):
    """The run's events, split into per-tick CSV files by arrival time.
    Returns (files, events, topup_file): ``files`` is a list of
    ``(csv_text, n_rows)``, ``events`` the same rows as an ``events``
    table, ``topup_file`` maps ``(id, datetime)`` to the file index."""
    horizon = seconds * COMPRESSION
    walk = gen.billing_walk(seed, n_keys or N_KEYS, int(horizon / 400) + 10, MEAN_GAP_S)
    prev = walk.groupby("user_id")["value"].shift(1).fillna(50).astype(np.int64)
    walk = walk.assign(bb=prev)[walk["t_s"] < horizon].reset_index(drop=True)
    rng = np.random.default_rng(seed + 7)
    arrival = walk["t_s"].to_numpy() + rng.integers(0, MAX_DELAY_S + 1, len(walk))
    file_idx = arrival // int(TICK_S * COMPRESSION)
    when = pd.to_datetime(gen.EPOCH) + pd.to_timedelta(walk["t_s"], unit="s")
    stamp = when.dt.strftime("%Y-%m-%d %H:%M:%S")
    ids = walk["user_id"].astype(str)
    lines = ids + "," + stamp + "," + walk["bb"].astype(str) + "," + walk["value"].astype(str) + "\n"
    order = np.argsort(arrival, kind="stable")
    files = []
    for i in range(int(file_idx.max()) + 1):
        sel = order[file_idx[order] == i]
        files.append(("".join(lines.iloc[sel]), len(sel)))
    topup_file = dict(zip(zip(ids, stamp), file_idx.tolist()))
    return files, gen.events_frame(walk[["user_id", "t_s", "value"]], seed), topup_file


class Generator(threading.Thread):
    """Makes file ``i`` visible at ``start + i * TICK_S``."""

    def __init__(self, files, src: str, staging: str, start: float) -> None:
        super().__init__(daemon=True)
        self.files, self.src, self.staging, self.start_at = files, src, staging, start
        self.log: list[tuple[float, float, int]] = []  # (due, visible, rows)

    def publish(self, i: int, text: str) -> float:
        tmp = f"{self.staging}/f{i:05d}.csv"
        with open(tmp, "w") as f:
            f.write(text)
        os.rename(tmp, f"{self.src}/f{i:05d}.csv")
        return time.perf_counter()

    def run(self) -> None:
        for i, (text, n) in enumerate(self.files):
            due = self.start_at + i * TICK_S
            time.sleep(max(0.0, due - time.perf_counter()))
            self.log.append((due, self.publish(i, text), n))


def _progress(q) -> list[dict]:
    import json

    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]


def _state(p: dict) -> dict:
    """The CEP operator's state-store figures; empty on a trigger that
    planned no stateful operator (the first, before any input)."""
    ops = p.get("stateOperators") or [{}]
    return ops[0]


def _start(spark, src: str, chk: str, sink):
    from flink_cep_examples_spark.plans import billing_pattern
    from flink_cep_examples_spark.sources import read_billing_csv_stream
    from flink_cep_examples_spark.streaming import match_pattern_stream

    out = match_pattern_stream(
        read_billing_csv_stream(spark, src), billing_pattern(emit_timeouts=True), "6 minutes"
    )
    w = out.writeStream.outputMode("append").option("checkpointLocation", chk)
    if callable(sink):
        return w.foreachBatch(sink).start()
    return w.format(sink).trigger(availableNow=True).start()


def run(ctx, seed: int, seconds: int, trace: bool) -> dict:
    from flink_cep_examples_spark.queries import QUERIES
    from flink_cep_examples_spark.queries.cep import ORACLE_WITH_TIMEOUTS

    data = f"{ctx.work}/data"
    files, events, topup_file = make_files(seed, seconds)
    ref_dir = f"{data}/ref"
    os.makedirs(ref_dir)
    gen.write_events(f"{ref_dir}/events.parquet", events)
    expected = len(gate.oracle_rows(ORACLE_WITH_TIMEOUTS, ref_dir))
    # warm-up input: two seconds at the full rate, one trigger's worth
    warm_files, _, _ = make_files(seed + 1_000_003, 2)
    src, staging, warm_src = f"{data}/src", f"{data}/staging", f"{data}/warm"
    for d in (src, staging, warm_src):
        os.makedirs(d)
    for i, (text, _) in enumerate(warm_files):
        with open(f"{warm_src}/f{i:05d}.csv", "w") as f:
            f.write(text)

    spark = ctx.start_session()
    # warm-up: the same pipeline over a small finished directory
    _start(spark, warm_src, f"{data}/chk-warm", "noop").awaitTermination()

    lock = threading.Lock()
    received: list[tuple[float, list]] = []
    sink_s: list[float] = []

    def sink(batch_df, batch_id):
        t0 = time.perf_counter()
        rows = batch_df.collect()
        t1 = time.perf_counter()
        with lock:
            received.append((t1, rows))
            sink_s.append(t1 - t0)

    q = _start(spark, src, f"{data}/chk", sink)
    while not q.recentProgress:  # first (empty) trigger done: the query is up
        time.sleep(0.05)
    wall_offset = time.time() - time.perf_counter()
    start = time.perf_counter() + 0.1
    setup_s = start - ctx.t0
    g = Generator(files, src, staging, start)
    g.start()
    g.join()
    sentinel_due = start + len(files) * TICK_S
    time.sleep(max(0.0, sentinel_due - time.perf_counter()))
    sentinel_visible = g.publish(len(files), SENTINEL)
    deadline = time.perf_counter() + DRAIN_TIMEOUT_S
    while time.perf_counter() < deadline:
        with lock:
            n = sum(len(r) for _, r in received)
        if n >= expected:
            break
        time.sleep(0.05)
    q.processAllAvailable()
    progress = _progress(q)
    q.stop()

    # --- gate (outside the timed region) ---
    ref = gate.Collected(QUERIES["cep_alerts_with_timeouts"](spark, ref_dir))
    errors = []
    ok, msg = gate.check_oracle("cep_alerts_with_timeouts", ref, ref_dir)
    if not ok:
        errors.append(f"cep_alerts_with_timeouts: {msg}")
    got = gate.alert_set([r for _, rows in received for r in rows])
    want = gate.alert_set(ref.rows)
    missing, extra = want - got, got - want
    mismatched = sum(missing.values()) + sum(extra.values())
    if mismatched:
        errors.append(f"stream vs batch: {sum(missing.values())} missing, {sum(extra.values())} extra")

    # --- latency and progress ---
    latencies = []
    for t, rows in received:
        for r in rows:
            i = topup_file.get((r["id"], r["topupDatetime"]))
            if r["tag"] == "match" and i is not None:  # a wrong alert is counted by the gate
                latencies.append(t - g.log[i][1])
    lags = [vis - due for due, vis, _ in g.log]
    rate = sum(n for _, _, n in g.log) / (len(files) * TICK_S)

    def t_of(p):
        ts = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        return ts - wall_offset

    data_p = [p for p in progress if p["numInputRows"] > 0 and t_of(p) < sentinel_visible]
    visible = np.array([vis for _, vis, _ in g.log])
    cum_rows = np.cumsum([n for _, _, n in g.log])
    backlog, done = [], 0
    for p in progress:
        if t_of(p) >= sentinel_visible:
            break
        k = int(np.searchsorted(visible, t_of(p), side="right"))
        backlog.append((cum_rows[k - 1] if k else 0) - done)
        done += p["numInputRows"]
    # the first two triggers ramp up from an idle query
    steady = backlog[2:] or backlog
    grew = steady[-1] > 1.5 * steady[0] + 0.5 * rate
    behind = max(lags) > MAX_LAG_S
    if grew or behind:
        errors.append(f"open loop invalid: backlog grew={grew}, max generator lag={max(lags):.3f}s")
    for e in errors:
        print(f"gate: {e}", file=sys.stderr)

    durations = [p["durationMs"]["triggerExecution"] / 1e3 for p in data_p]
    starts = [t_of(p) for p in data_p]
    consumed = sum(p["numInputRows"] for p in data_p)
    last_end = max(t + d for t, d in zip(starts, durations))
    attempted = max(expected, 1)
    # a wrong reference or a void open loop fails every expected alert
    failed = attempted if (not ok or grew or behind) else mismatched
    result = {"attempted": attempted, "failed": failed, "samples": len(latencies)}
    if not trace:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "events_per_s": (consumed / (last_end - start), "events/s"),
            "pass_s": (statistics.median(np.diff(starts)) if len(starts) > 1 else durations[0], "s"),
            "query_p50_s": (float(np.percentile(durations, 50)), "s"),
            "query_p90_s": (float(np.percentile(durations, 90)), "s"),
            "alert_latency_p50_s": (float(np.percentile(latencies, 50)), "s"),
            "alert_latency_p95_s": (float(np.percentile(latencies, 95)), "s"),
            "peak_rss_mb": (ctx.peak_rss_mb(), "MB"),
        }
        return result

    def med(key):
        return layers.p50([p["durationMs"].get(key, 0) / 1e3 for p in data_p])

    before = [p for p in progress if t_of(p) < sentinel_visible]
    # trigger time inside the window from the first file to the sentinel
    busy = sum(
        max(0.0, min(t_of(p) + p["durationMs"]["triggerExecution"] / 1e3, sentinel_visible) - max(t_of(p), start))
        for p in before
    )
    state_end = _state(before[-1])
    # the LLM-data query layers, which no end-to-end workload runs
    values, checks, corpus_errors = corpus.trace_queries(ctx, spark, seed)
    for e in corpus_errors:
        print(f"gate: {e}", file=sys.stderr)
    result["attempted"] += checks
    result["failed"] += len(corpus_errors)
    result["metrics"] = layers.render(
        {
            **values,
            "session.start_s": ctx.session_start_s,
            "stream.trigger_p50_s": med("triggerExecution"),
            "stream.add_batch_p50_s": med("addBatch"),
            "stream.planning_p50_s": med("queryPlanning"),
            "stream.offset_commit_p50_s": med("walCommit") + med("commitOffsets"),
            "stream.state_commit_p50_ms": layers.p50([_state(p).get("commitTimeMs", 0) for p in data_p]),
            "stream.rows_per_trigger_p50": layers.p50([p["numInputRows"] for p in data_p]),
            "stream.busy_share": busy / (sentinel_visible - start),
            "stream.sink_s": layers.p50(sink_s),
            "stream.state_rows_end": state_end.get("numRowsTotal", 0),
            "stream.state_bytes_end": state_end.get("memoryUsedBytes", 0),
            "stream.watermark_dropped_rows": sum(
                _state(p).get("numRowsDroppedByWatermark", 0) for p in progress
            ),
            "generator.lag_s": max(lags),
            "stream.backlog_rows_max": max(backlog),
        }
    )
    return result
