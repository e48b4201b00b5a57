"""The ``queries.*`` per-layer metrics: the LLM-data query families
(``sampling``, ``dedup``, ``pipeline``, ``ivf``, ``text``) traced once
over a small seeded corpus.

No end-to-end workload runs these queries (see ``README.md``), so the
traced run of ``billing_stream`` measures them after its stream has
stopped: one warm-up call per query whose rows are checked against the
oracles, then one traced call per query.
"""

from __future__ import annotations

import os

import gen
from shapes import collect, gate_rows, resolve_calls, traced_call

#: One call per query, in this order.
QUERIES = (
    "docs_training_order",
    "dedup_clusters",
    "sources_kmv_jaccard",
    "corpus_clean_pipeline",
    "ivf_topk",
    "docs_bm25_topk",
    "ann_ivfadc_topk",
)
DOCS, VECS, DUP_SHARE = 600, 500, 0.1


def trace_queries(ctx, spark, seed: int) -> tuple[dict, int, list[str]]:
    """Returns (per-layer values, checks, gate errors)."""
    corpus_dir = f"{ctx.work}/data/corpus"
    os.makedirs(corpus_dir)
    gen.write_corpus(corpus_dir, seed, DOCS, VECS, DUP_SHARE)
    warm = collect(spark, QUERIES, corpus_dir)
    errors = gate_rows(warm, corpus_dir)
    tracer = ctx.tracer
    calls = resolve_calls(
        tracer, spark.sparkContext, [traced_call(tracer, spark, n, corpus_dir) for n in QUERIES]
    )
    values = {
        "queries.construct_s": sum(c["construct"][0]["dur"] for c in calls),
        "queries.construct_jobs": sum(s["jobs"] for c in calls for s in c["construct"]),
        "queries.execute_s": sum(c["execute"]["dur"] for c in calls),
        "queries.execute_jobs": sum(c["execute"]["jobs"] for c in calls),
    }
    return values, len(warm), errors
