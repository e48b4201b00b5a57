"""Seeded CEP benchmark: one workload per run, from the repository root.

    python3 cepbench/run.py --workload cep_shapes_small --seed 1 --seconds 10 --trace 0

Inputs are generated from ``--seed`` into a fresh directory under
``.cepbench_work/`` in the current directory, the engine is driven only
through the package's public functions, outputs are checked against
the DuckDB oracles, and the last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). See ``cepbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cep_shapes_small", "billing_stream")
HEAP = "1g"  # driver JVM heap, the executors' too in local mode


def _processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident pages) of every live process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        fields = stat[stat.rindex(")") + 2 :].split()
        if fields[0] != "Z":
            out[int(entry)] = (int(fields[1]), pages)
    return out


def _descendants(procs: dict[int, tuple[int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from ``/proc``."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> int:
        procs, me = _processes(), os.getpid()
        return self._page * sum(procs.get(p, (0, 0))[1] for p in [me, *_descendants(procs, me)])

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_bytes = max(self.peak_bytes, self.tree_rss())
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


class Context:
    """What a workload needs from the harness: its work directory, the
    session factory, the tracer (traced runs only) and metric helpers."""

    def __init__(self, work: str, nproc: int, rss: RssSampler, trace: bool) -> None:
        self.work = work
        self.nproc = nproc
        # task slots: half the usable cores, so that the task threads do
        # not compete with the driver's Python process, the JVM's own
        # threads and the Python workers for the rest
        self.cores = max(1, nproc // 2)
        self.rss = rss
        self.trace = trace
        self.t0 = T0
        self.spark = None
        self.tracer = None
        self.session_start_s = 0.0

    def _conf(self) -> dict:
        return {
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.hadoop.hadoop.tmp.dir": f"{self.work}/tmp",
            "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        }

    def _get_spark(self, cores: int):
        from flink_cep_examples_spark.session import get_spark

        return get_spark(
            app_name="cepbench", master=f"local[{cores}]",
            shuffle_partitions=cores, extra_conf=self._conf(),
        )

    def start_session(self):
        """Load the query catalog and start the session; in a traced run,
        count py4j commands from the start and wrap the layer functions."""
        from flink_cep_examples_spark.queries import load_all

        load_all()
        if self.trace:
            import layers
            from spans import Py4jCounter, Tracer

            counter = Py4jCounter()
            counter.install()
        t0 = time.perf_counter()
        self.spark = self._get_spark(self.cores)
        self.session_start_s = time.perf_counter() - t0
        if self.trace:
            self.tracer = Tracer(f"run{os.getpid()}", counter, self.spark.sparkContext)
            self.tracer.install(layers.targets())
        return self.spark

    def restart_session(self, cores: int):
        """A new session with another core count, in the same JVM."""
        self.spark.stop()
        self.spark = self._get_spark(cores)
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext
        return self.spark

    def peak_rss_mb(self) -> float:
        self.rss.peak_bytes = max(self.rss.peak_bytes, self.rss.tree_rss())
        return self.rss.peak_bytes / 2**20

    def batch_metrics(self, setup_s: float, latencies: dict[str, list[float]], events_per_call: float) -> dict:
        """End-to-end metrics of a closed-loop batch run. A pass is one
        call of every query, each at its median call time. The median is
        taken over all calls; the tails over the queries' median call
        times, because a run holds too few calls for a call-level tail
        with ten samples beyond it, and one call that a slow moment of
        the host stretched would become that tail.

        Every end-to-end metric is printed on every workload, so on this
        closed loop ``events_per_s`` restates ``pass_s`` and the
        ``alert_latency_*`` pair restates the call latencies: every alert
        of a batch call is visible when its call ends."""
        import statistics

        import numpy as np

        per_query = [statistics.median(v) for v in latencies.values()]
        calls = [x for v in latencies.values() for x in v]
        pass_s = sum(per_query)
        return {
            "setup_s": (setup_s, "s"),
            "events_per_s": (events_per_call * len(per_query) / pass_s, "events/s"),
            "pass_s": (pass_s, "s"),
            "query_p50_s": (float(np.percentile(calls, 50)), "s"),
            "query_p90_s": (float(np.percentile(per_query, 90)), "s"),
            "alert_latency_p50_s": (float(np.percentile(calls, 50)), "s"),
            "alert_latency_p95_s": (float(np.percentile(per_query, 95)), "s"),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
        }

    def shutdown(self) -> None:
        """Stop Spark, then the JVM it runs in, and wait for every child
        process of this run to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — fall through to kill
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        _reap_children()


def _reap_children(timeout: float = 20.0) -> None:
    """Wait for this process's descendants to end; kill what outlives
    the timeout."""
    import signal

    deadline = time.time() + timeout
    while kids := _descendants(_processes(), os.getpid()):
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "flink_cep_examples_spark")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    cwd = os.getcwd()
    work = os.path.join(cwd, ".cepbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher included: temp files in the work
    # directory and no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    # a fixed-size heap keeps the JVM's resident size from following the
    # garbage collector's resizing decisions from run to run
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT]

    rss = RssSampler()
    rss.start()
    ctx = Context(work, len(os.sched_getaffinity(0)), rss, bool(args.trace))
    try:
        if args.workload == "cep_shapes_small":
            import shapes as workload
        else:
            import stream as workload
        res = workload.run(ctx, args.seed, args.seconds, bool(args.trace))
        if args.trace:
            ctx.tracer.dump(os.path.join(cwd, ".cepbench_work", f"spans-{args.workload}-{args.seed}.json"))
    finally:
        ctx.shutdown()
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in res["metrics"].items()}
    print(f"samples: {res['samples']}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
