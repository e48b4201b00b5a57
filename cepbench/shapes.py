"""``cep_shapes_small``: a closed loop, one client, over a pool of small
tables, cycling through one catalog query per CEP dispatch tier.

Every call runs the query function and a noop write of its result. On
tables of about 5k events, driver-side plan construction is a large
share of each call, so the workload shows construction and dispatch
changes. The warm-up calls every query on every pool table and its rows
are the ones checked; the engine's path-keyed schema memo misses on the
first read of each table there and hits on every timed call.

The traced run also times the six reference-tier queries over a larger
table at ``local[nproc]`` and ``local[1]`` for the core-scaling ratio.
"""

from __future__ import annotations

import math
import sys
import time
import traceback

import gate
import gen
import layers
from spans import group_metrics

#: One query per dispatch tier, in cycle order.
SHAPES = (
    "cep_alerts_with_timeouts",  # ABC kernel with timeouts
    "cep_match_recognize",  # MATCH_RECOGNIZE, one row per match
    "cep_match_recognize_all_rows",  # MATCH_RECOGNIZE, all rows per match
    "cep_alternation_pattern",  # alternation
    "cep_permute_pattern",  # PERMUTE
    "cep_absence_not_followed_by",  # notFollowedBy
    "cep_group_longest_chain",  # loop-group chain
    "cep_group_nested",  # nested chain
    "cep_group_alt_mixed",  # mixed branch
    "cep_group_absence",  # group absence
    "cep_keyed_process",  # keyed process function
    "cep_alerts_with_timeouts_nfa",  # the NFA twin of the ABC kernel
)
NFA_TWIN = "cep_alerts_with_timeouts_nfa"
POOL = 2
N_KEYS, PER_KEY = 72, 70  # about 5k events per table
NOMINAL_CYCLE_S = 7  # one cycle's wall time on a 4-core host

#: The reference-tier queries timed at two core counts in the traced
#: run, over a table of about 100k events (the size of sf0.1).
BATCH_QUERIES = (
    "cep_alerts_with_timeouts",
    "cep_match_recognize",
    "cep_keyed_process",
    "cep_alerts_with_timeouts_nfa",
    "cep_group_longest_chain",
    "cep_group_nested",
)
BATCH_KEYS = 1440



def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def collect(spark, names, sf_dir) -> dict:
    """One untimed call per query; the collected rows feed the gate."""
    from flink_cep_examples_spark.queries import QUERIES

    return {n: gate.Collected(QUERIES[n](spark, sf_dir)) for n in names}


def gate_rows(collected: dict, sf_dir: str) -> list[str]:
    errors = []
    for name, got in collected.items():
        ok, msg = gate.check_oracle(name, got, sf_dir)
        if not ok:
            errors.append(f"{sf_dir}: {name}: {msg}")
    if NFA_TWIN in collected:  # the CEP gate, not the corpus one
        errors += gate.cross_check_tiers(
            collected["cep_alerts_with_timeouts"],
            collected[NFA_TWIN],
            collected["cep_match_recognize"],
        )
    return errors


def _gate_pool(warm: list[dict], pool: list[str]) -> tuple[int, list[str]]:
    """Check the warm-up rows of every query on every pool table.
    Returns (checks, errors)."""
    errors = []
    for rows, d in zip(warm, pool):
        errors += gate_rows(rows, d)
    return len(SHAPES) * len(pool), errors


def cycles_for(seconds: int) -> int:
    """Whole cycles to time: enough for ``seconds`` at the nominal cycle
    time, and at least three, so that each query's median rests on
    three calls. A fixed count, not a deadline, so a slow moment on the
    host cannot change how many calls a run's percentiles are taken
    over."""
    return max(3, math.ceil(seconds / NOMINAL_CYCLE_S))


def _cycle_tables(pool: list[str], k: int) -> list[str]:
    """Table of each call in cycle ``k``: each query alternates between
    the pool tables from cycle to cycle."""
    return [pool[(k + i) % len(pool)] for i in range(len(SHAPES))]


def run(ctx, seed: int, seconds: int, trace: bool) -> dict:
    from flink_cep_examples_spark.queries import QUERIES

    pool, rows = [], []
    for i in range(POOL):
        d = f"{ctx.work}/data/pool{i}"
        rows.append(gen.write_batch_tables(d, seed * 100 + i, N_KEYS, PER_KEY))
        pool.append(d)

    spark = ctx.start_session()
    # warm-up: every query on every pool table, the first call of each
    # query in this JVM included; the rows are checked after the timed
    # loop. Table i's first read (a schema-memo miss) is by query i, so
    # each query's output is checked on the memo-hit path as well.
    warm = [collect(spark, SHAPES[i:] + SHAPES[:i], d) for i, d in enumerate(pool)]
    setup_s = time.perf_counter() - ctx.t0

    if trace:
        return _traced(ctx, spark, pool, warm, seed, seconds)

    latencies: dict[str, list[float]] = {n: [] for n in SHAPES}
    failed = 0
    n_cycles = cycles_for(seconds)
    for k in range(n_cycles):
        for name, d in zip(SHAPES, _cycle_tables(pool, k)):
            t0 = time.perf_counter()
            try:
                noop(QUERIES[name](spark, d))
            except Exception:  # noqa: BLE001 — a failed call is counted, the loop goes on
                traceback.print_exc()
                failed += 1
            latencies[name].append(time.perf_counter() - t0)

    checks, errors = _gate_pool(warm, pool)
    for e in errors:
        print(f"gate: {e}", file=sys.stderr)
    failed += len(errors)
    return {
        "attempted": n_cycles * len(SHAPES) + checks,
        "failed": failed,
        "metrics": ctx.batch_metrics(setup_s, latencies, sum(rows) / POOL),
        "samples": n_cycles * len(SHAPES),
    }


def traced_call(tracer, spark, name: str, sf_dir: str) -> dict:
    from flink_cep_examples_spark.queries import QUERIES

    with tracer.span("call:construct", query=name) as c:
        df = QUERIES[name](spark, sf_dir)
    with tracer.span("call:execute", query=name) as e:
        noop(df)
    return {"c": c["id"], "e": e["id"]}


def resolve_calls(tracer, sc, raw: list[dict]) -> list[dict]:
    """Attach durations, self times and stage metrics to traced calls."""
    timed = tracer.self_times()
    with tracer.counter.mute():
        out = []
        for r in raw:
            construct = layers.subtree(timed, timed[r["c"]])
            for s in construct:
                s.update(group_metrics(sc, [tracer.group_id(s["id"])]))
            ex = dict(timed[r["e"]])
            ex.update(group_metrics(sc, [tracer.group_id(ex["id"])]))
            out.append({"construct": construct, "execute": ex})
    return out


def _batch_pass_s(spark, sf_dir: str) -> float:
    from flink_cep_examples_spark.queries import QUERIES

    t0 = time.perf_counter()
    for name in BATCH_QUERIES:
        noop(QUERIES[name](spark, sf_dir))
    return time.perf_counter() - t0


def _core_speedup(ctx, seed: int, warm_dir: str) -> float:
    """One pass of the reference-tier queries over a table of about 100k
    events at ``local[nproc]``, then at ``local[1]``, each in a new
    session of the same (warm) JVM after two warm-up calls on a small
    table, with the wrappers switched off: the ratio of the two pass
    times."""
    big = f"{ctx.work}/data/batch"
    gen.write_batch_tables(big, seed * 100 + 99, BATCH_KEYS, PER_KEY)
    ctx.tracer.active = False
    passes = []
    for cores in (ctx.nproc, 1):
        spark = ctx.restart_session(cores)
        # the new context's first pandas calls start its Python workers
        collect(spark, ("cep_keyed_process", NFA_TWIN), warm_dir)
        passes.append(_batch_pass_s(spark, big))
    return passes[1] / passes[0]


def _traced(ctx, spark, pool, warm, seed, seconds) -> dict:
    from flink_cep_examples_spark.sources import events_as_billing

    tracer = ctx.tracer
    sc = spark.sparkContext
    raw = []
    n_cycles = cycles_for(seconds)
    for k in range(n_cycles):
        for name, d in zip(SHAPES, _cycle_tables(pool, k)):
            raw.append(traced_call(tracer, spark, name, d))
    calls = resolve_calls(tracer, sc, raw)
    values = layers.cep_ledger(calls, n_cycles)
    # the untraced pass_s definition, on traced calls
    per_query: dict[str, list[float]] = {}
    for c in calls:
        per_query.setdefault(c["construct"][0]["query"], []).append(
            c["execute"]["end"] - c["construct"][0]["start"]
        )
    values["trace.pass_s"] = sum(layers.p50(v) for v in per_query.values())

    src = []
    for d in pool:
        with tracer.span("sources:execute") as s:
            noop(events_as_billing(spark, d))
        src.append(s["end"] - s["start"])
    values["sources.execute_s"] = layers.p50(src)

    attempted, errors = _gate_pool(warm, pool)
    attempted += len(raw)

    values["scaling.core_speedup"] = _core_speedup(ctx, seed, pool[0])
    values["session.start_s"] = ctx.session_start_s

    for e in errors:
        print(f"gate: {e}", file=sys.stderr)
    return {
        "attempted": attempted,
        "failed": len(errors),
        "metrics": layers.render(values),
        "samples": len(raw),
    }
