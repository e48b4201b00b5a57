"""Round-16 optimization profiler (guide §1: measure first).

For each headline bench query:
  - capture ``explain("formatted")`` to ``plans/r16/<name>_<tag>.txt``
  - time the noop-sink materialization (min / median of N samples,
    after one warmup pass) — same methodology as bench.py
  - count Spark JOBS the full invocation runs (query construction +
    the noop write), via a per-query job group: multi-action queries
    (IVF training collects, KMV two-phase) pay per-job overhead that
    plan text alone never shows
  - summarize plan shape: #Exchange, #ArrowEvalPython/BatchEvalPython,
    join strategies, #scans
  - time driver-side plan construction (the query function call alone)
    and count the py4j commands it sends, leaving out the ``m`` memory
    releases garbage collection interleaves (cepbench/spans.py's
    Py4jCounter): ``construct_s`` (min over the timed calls) and
    ``construct_py4j`` (the first timed call, on a warm schema memo)

Usage:
  python tools/perf_profile.py [--tag before] [--queries a,b,c]
                               [--samples 3] [--plans-only]

Writes a JSON summary to plans/r16/profile_<tag>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

sys.path.insert(0, os.path.join(HERE, "cepbench"))

from bench import HEADLINE  # noqa: E402
from spans import Py4jCounter  # noqa: E402
from flink_cep_examples_spark.queries import QUERIES, load_all  # noqa: E402
from flink_cep_examples_spark.session import get_spark  # noqa: E402


def explain_formatted(df) -> str:
    qe = df._jdf.queryExecution()
    try:
        return df.sparkSession._jvm.PythonSQLUtils.explainString(
            qe, "formatted"
        )
    except Exception:
        return qe.explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )


def plan_shape(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "py_eval": len(
            re.findall(r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)
        ),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "scans": len(re.findall(r"Scan parquet|Scan ExistingRDD", plan)),
        "sorts": len(re.findall(r"\bSort \[", plan)),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
    }


def construct(counter, fn, spark, sf_dir):
    """One query-function call alone: (DataFrame, seconds, py4j commands)."""
    c0 = counter.count
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    return df, time.perf_counter() - t0, counter.count - c0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--samples", type=int, default=3)
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default="r17", help="plans/<out>/ output dir")
    args = ap.parse_args()

    out_dir = os.path.join(HERE, "plans", args.out)
    os.makedirs(out_dir, exist_ok=True)

    load_all()
    names = (
        args.queries.split(",") if args.queries else [n for n in HEADLINE if n in QUERIES]
    )
    counter = Py4jCounter()
    counter.install()
    spark = get_spark(app_name=f"perf-profile-{args.tag}")
    sc = spark.sparkContext
    st = sc.statusTracker()

    summary: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        sc.setJobDescription(f"{name}: construct")
        # one throwaway construction+run: warms codegen AND lets the
        # train-once persisted-index paths do their first-call work
        # outside the timed region (bench.py warms up the same way)
        df = fn(spark, args.sf_dir)
        plan = explain_formatted(df)
        with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as fh:
            fh.write(plan)
        rec: dict = {"plan": plan_shape(plan)}
        if not args.plans_only:
            df.write.format("noop").mode("overwrite").save()  # warmup
            # count jobs for ONE full invocation (construction + noop)
            group = f"prof-{name}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df, construct_s, construct_py4j = construct(counter, fn, spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            first = time.perf_counter() - t0
            job_ids = st.getJobIdsForGroup(group)
            n_stages = 0
            n_tasks = 0
            for jid in job_ids:
                ji = st.getJobInfo(jid)
                if ji is None:
                    continue
                for sid in ji.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        n_stages += 1
                        n_tasks += si.numTasks
            sc.setJobGroup(f"prof-{name}-t", name)
            times = [first]
            construct_times = [construct_s]
            for _ in range(args.samples - 1):
                t0 = time.perf_counter()
                df, c_s, _ = construct(counter, fn, spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
                construct_times.append(c_s)
            times_s = sorted(times)
            rec.update(
                {
                    "min_s": round(times_s[0], 3),
                    "med_s": round(times_s[len(times_s) // 2], 3),
                    "all_s": [round(t, 3) for t in times],
                    "construct_s": round(min(construct_times), 4),
                    "construct_py4j": construct_py4j,
                    "jobs": len(job_ids),
                    "stages": n_stages,
                    "tasks": n_tasks,
                }
            )
        summary[name] = rec
        print(
            f"{name}: {rec.get('min_s', '-')}s min, "
            f"construct={rec.get('construct_s', '-')}s/"
            f"{rec.get('construct_py4j', '-')} py4j, jobs={rec.get('jobs', '-')}, "
            f"stages={rec.get('stages', '-')}, plan={rec['plan']}",
            flush=True,
        )

    with open(os.path.join(out_dir, f"profile_{args.tag}.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    print("WROTE", os.path.join(out_dir, f"profile_{args.tag}.json"))


if __name__ == "__main__":
    main()
