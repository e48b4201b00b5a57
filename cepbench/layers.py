"""Which package functions belong to which layer, and how the traced
spans roll up into the per-layer metrics named in ``BENCHMARK.json``.

Layer metrics a workload does not exercise are reported as 0 (for
example the streaming metrics on ``cep_shapes_small``)."""

from __future__ import annotations

import statistics

PER_LAYER = (
    ("session.start_s", "s"),
    ("sources.construct_s", "s"),
    ("sources.construct_jobs", "count"),
    ("sources.execute_s", "s"),
    ("plans.build_s", "s"),
    ("sql.parse_s", "s"),
    ("sql.construct_s", "s"),
    ("sql.py4j_calls", "count"),
    ("fast_path.construct_s", "s"),
    ("fast_path.py4j_calls", "count"),
    ("fast_path.execute_s", "s"),
    ("fast_path.executor_cpu_s", "s"),
    ("fast_path.jobs", "count"),
    ("nfa.construct_s", "s"),
    ("nfa.execute_s", "s"),
    ("nfa.executor_cpu_s", "s"),
    ("keyed_process.execute_s", "s"),
    ("keyed_process.executor_cpu_s", "s"),
    ("dispatch.nfa_share", "ratio"),
    ("exchange.shuffle_write_bytes", "bytes"),
    ("exchange.shuffle_read_bytes", "bytes"),
    ("exchange.spill_bytes", "bytes"),
    ("exchange.stages", "count"),
    ("exchange.tasks", "count"),
    ("stream.trigger_p50_s", "s"),
    ("stream.add_batch_p50_s", "s"),
    ("stream.planning_p50_s", "s"),
    ("stream.offset_commit_p50_s", "s"),
    ("stream.state_commit_p50_ms", "ms"),
    ("stream.rows_per_trigger_p50", "rows"),
    ("stream.busy_share", "ratio"),
    ("stream.sink_s", "s"),
    ("stream.state_rows_end", "rows"),
    ("stream.state_bytes_end", "bytes"),
    ("stream.watermark_dropped_rows", "rows"),
    ("generator.lag_s", "s"),
    ("stream.backlog_rows_max", "rows"),
    ("queries.construct_s", "s"),
    ("queries.construct_jobs", "count"),
    ("queries.execute_s", "s"),
    ("queries.execute_jobs", "count"),
    ("scaling.core_speedup", "ratio"),
    ("trace.pass_s", "s"),
)


def targets() -> dict[str, list[tuple[object, str]]]:
    """Layer name -> the (owner, attribute) pairs to wrap."""
    from importlib import import_module

    from spans import public_functions

    def mod(name):  # package __init__s re-export functions that shadow module names
        return import_module(f"flink_cep_examples_spark.{name}")

    match_recognize = mod("sql.match_recognize")
    pattern = mod("plans.pattern")
    sql = [p for p in public_functions(match_recognize) if p[1] != "parse_match_recognize"]
    return {
        "sources": public_functions(mod("sources.billing")) + public_functions(mod("sources.tables")),
        "plans": public_functions(pattern) + [(pattern.Pattern, "build")],
        "sql.parse": [(match_recognize, "parse_match_recognize")],
        "sql": sql,
        "fast_path": public_functions(mod("operators.fast_path")),
        # the NFA tier's entry points; the schema helpers the compiled
        # kernels share with it stay unwrapped, in their caller's self time
        "nfa": [p for p in public_functions(mod("operators.cep_batch")) if p[1].startswith("match_pattern")],
        "keyed_process": public_functions(mod("operators.keyed_process")),
        "stream": public_functions(mod("streaming.cep_stream")),
    }


def layer_of(span_name: str) -> str:
    return span_name.split(":", 1)[0]


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span below it (spans are in start order)."""
    ids = {root["id"]}
    out = [root]
    for s in spans[root["id"] + 1 :]:
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def call_tier(call: dict) -> str:
    """The tier that executed a call, from the layers its construction
    went through: the keyed process function, else the NFA if an
    ``operators.cep_batch`` matcher built the plan, else a compiled
    kernel."""
    layers = {layer_of(s["name"]) for s in call["construct"]}
    for tier in ("keyed_process", "nfa"):
        if tier in layers:
            return tier
    return "fast_path"


def cep_ledger(calls: list[dict], n_cycles: int) -> dict:
    """Per-layer metrics over traced CEP calls. Each call holds
    ``construct`` (its span subtree, with per-span ``jobs``), ``execute``
    (the noop-write span with its stage metrics)."""
    m: dict[str, float] = {}

    def add(k, v):
        m[k] = m.get(k, 0) + v

    pattern_calls = nfa_calls = 0
    for c in calls:
        for s in c["construct"][1:]:
            layer = layer_of(s["name"])
            if layer == "sources":
                add("sources.construct_s", s["self"])
                add("sources.construct_jobs", s["jobs"])
            elif layer == "plans":
                add("plans.build_s", s["self"])
            elif layer == "sql.parse":
                add("sql.parse_s", s["self"])
                add("sql.py4j_calls", s["self_py4j"])
            elif layer == "sql":
                add("sql.construct_s", s["self"])
                add("sql.py4j_calls", s["self_py4j"])
            elif layer == "fast_path":
                add("fast_path.construct_s", s["self"])
                add("fast_path.py4j_calls", s["self_py4j"])
            elif layer == "nfa":
                add("nfa.construct_s", s["self"])
        ex = c["execute"]
        tier = call_tier(c)
        if tier == "fast_path":
            add("fast_path.execute_s", ex["dur"])
            add("fast_path.executor_cpu_s", ex["executor_cpu_s"])
            add("fast_path.jobs", ex["jobs"])
        elif tier in ("nfa", "keyed_process"):
            add(f"{tier}.execute_s", ex["dur"])
            add(f"{tier}.executor_cpu_s", ex["executor_cpu_s"])
        if tier != "keyed_process":
            pattern_calls += 1
            nfa_calls += tier == "nfa"
        for st in [ex] + c["construct"]:
            add("exchange.shuffle_write_bytes", st.get("shuffleWriteBytes", 0))
            add("exchange.shuffle_read_bytes", st.get("shuffleReadBytes", 0))
            add("exchange.spill_bytes", st.get("spill_bytes", 0))
            add("exchange.stages", st.get("stages", 0))
            add("exchange.tasks", st.get("numTasks", 0))
    out = {k: v / n_cycles for k, v in m.items()}
    out["dispatch.nfa_share"] = nfa_calls / pattern_calls if pattern_calls else 0.0
    return out


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def render(values: dict) -> dict:
    """Every per-layer metric as (value, unit); unexercised layers are 0."""
    return {name: (values.get(name, 0.0), unit) for name, unit in PER_LAYER}
