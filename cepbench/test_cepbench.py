"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest cepbench/test_cepbench.py -q -p no:cacheprovider

- the same seed gives byte-identical input files, another seed does not;
- the py4j command counter, which skips memory-release commands,
  gives exactly the same count for repeated warm calls of a query;
- a call's tier is read from its spans: NFA only when a
  ``cep_batch`` matcher built it, and only the matchers are wrapped.
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import layers  # noqa: E402
import stream  # noqa: E402


def _write_all(out: str, seed: int) -> list[str]:
    gen.write_batch_tables(out, seed, 50, 70)
    gen.write_corpus(out, seed, 200, 100, 0.1)
    files, _, _ = stream.make_files(seed, 2, n_keys=100)
    with open(f"{out}/stream.csv", "w") as f:
        f.write("".join(text for text, _ in files))
    return sorted(os.listdir(out))


def test_same_seed_same_files(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    names = _write_all(a, 7)
    assert names == _write_all(b, 7)
    _write_all(c, 8)
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert differ == names


def _call(*span_names: str) -> dict:
    spans = [{"name": "call:construct", "self": 0.0, "jobs": 0}]
    spans += [{"name": n, "self": 0.0, "self_py4j": 0, "jobs": 0} for n in span_names]
    return {"construct": spans, "execute": {"dur": 1.0, "executor_cpu_s": 0.5, "jobs": 1}}


def test_tier_comes_from_spans():
    kernel = _call("sql:sql_with_match_recognize", "fast_path:match_pattern_loop_chain")
    nfa = _call("fast_path:helper", "nfa:match_pattern")
    keyed = _call("keyed_process:billing_low_level_alerts")
    assert [layers.call_tier(c) for c in (kernel, nfa, keyed)] == ["fast_path", "nfa", "keyed_process"]
    ledger = layers.cep_ledger([kernel, kernel, nfa, keyed], n_cycles=1)
    assert ledger["dispatch.nfa_share"] == pytest.approx(1 / 3)
    assert ledger["fast_path.jobs"] == 2 and ledger["nfa.execute_s"] == 1.0


def test_only_nfa_matchers_are_wrapped():
    names = [attr for _, attr in layers.targets()["nfa"]]
    assert "match_pattern" in names
    assert all(n.startswith("match_pattern") for n in names), names


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from flink_cep_examples_spark.session import get_spark

    work = tmp_path_factory.mktemp("spark")
    s = get_spark(
        app_name="cepbench-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.local.dir": str(work), "spark.sql.warehouse.dir": str(work / "wh")},
    )
    yield s
    s.stop()


@pytest.mark.parametrize(
    "query",
    [
        "cep_alerts_with_timeouts",
        "cep_match_recognize",
        "cep_group_longest_chain",
        "cep_alternation_pattern",
    ],
)
def test_py4j_counts_repeat_exactly(spark, tmp_path, query):
    from flink_cep_examples_spark.queries import QUERIES, load_all

    from spans import Py4jCounter

    load_all()
    sf_dir = str(tmp_path)
    gen.write_batch_tables(sf_dir, 3, 100, 70)
    counter = Py4jCounter()
    counter.install()
    try:
        counts = []
        for _ in range(3):
            c0 = counter.count
            QUERIES[query](spark, sf_dir)
            counts.append(counter.count - c0)
    finally:
        counter.uninstall()
    assert counts[1] == counts[2] > 0, counts
