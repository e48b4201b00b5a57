"""Per-layer tracing from outside the package.

Spans are recorded around calls into the package's public functions.
The functions are wrapped here and the wrappers are bound under every
name the package's modules look them up by, so no package code changes.
A span records name, start, end, parent and run id, plus the py4j
commands the Python process sent while it was open. Spans stay in memory and
are written once, when the run ends.

Spark work is attributed by job group: each span runs under its own
group, and the stages of the group's jobs are read from the status
store (``statusStore().lastStageAttempt``), which is filled even with
the UI disabled.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import threading
import time

import py4j.clientserver

_MEMORY_COMMAND = "m\n"  # py4j proxy release; shares the channel, never counted


class Py4jCounter:
    """Counts py4j commands the main thread sends, without the memory
    release commands that garbage collection interleaves at random."""

    def __init__(self) -> None:
        self.count = 0
        self.muted = False
        self._thread = threading.main_thread()
        self._orig = None

    @contextlib.contextmanager
    def mute(self):
        """Leave the benchmark's own bookkeeping calls uncounted."""
        prev, self.muted = self.muted, True
        try:
            yield
        finally:
            self.muted = prev

    def install(self) -> None:
        cls = py4j.clientserver.ClientServerConnection
        orig = cls.send_command
        counter = self

        @functools.wraps(orig)
        def send_command(conn, command):
            if (
                not counter.muted
                and threading.current_thread() is counter._thread
                and not command.startswith(_MEMORY_COMMAND)
            ):
                counter.count += 1
            return orig(conn, command)

        self._orig = orig
        cls.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            py4j.clientserver.ClientServerConnection.send_command = self._orig
            self._orig = None


class Tracer:
    """In-memory span recorder. Nesting follows the call stack of the
    main thread. Each span runs its Spark jobs under a job group of its
    own, so the jobs a layer launches are attributed to it and not to
    the span that called it. While ``active`` is false the wrapped
    functions run as if unwrapped and record nothing."""

    def __init__(self, run_id: str, counter: Py4jCounter, sc) -> None:
        self.run_id = run_id
        self.counter = counter
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.active = True

    def group_id(self, sid: int) -> str:
        return f"{self.run_id}-s{sid}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": None,
            "end": None,
            "py4j": 0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        with self.counter.mute():
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", self.group_id(sid))
        c0 = self.counter.count
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.counter.count - c0
            self._stack.pop()
            with self.counter.mute():
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, targets: dict[str, list[tuple[object, str]]]) -> None:
        """Wrap ``owner.attr`` for every (owner, attr) listed under a
        layer name, and rebind the wrapper wherever a loaded package
        module holds the original object. The wrapper keeps the
        original's module and qualified name, so closures that Spark
        pickles find it by reference and workers run the original."""
        pkg_modules = [
            m
            for n, m in list(sys.modules.items())
            if n.startswith("flink_cep_examples_spark") and m is not None
        ]
        for layer, items in targets.items():
            for owner, attr in items:
                orig = inspect.getattr_static(owner, attr)
                wrapped = self.wrap(orig, f"{layer}:{attr}")
                setattr(owner, attr, wrapped)
                for mod in pkg_modules:
                    for k, v in list(vars(mod).items()):
                        if v is orig:
                            setattr(mod, k, wrapped)

    def self_times(self) -> list[dict]:
        """Each span with its duration and self time (duration minus the
        part its direct children cover) and self py4j count."""
        child_t = [0.0] * len(self.spans)
        child_p = [0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_t[s["parent"]] += s["end"] - s["start"]
                child_p[s["parent"]] += s["py4j"]
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            out.append(
                {
                    **s,
                    "dur": dur,
                    "self": dur - child_t[s["id"]],
                    "self_py4j": s["py4j"] - child_p[s["id"]],
                }
            )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.self_times(), f)


def public_functions(module) -> list[tuple[object, str]]:
    """(module, name) for every public function the module defines."""
    return [
        (module, n)
        for n, f in vars(module).items()
        if inspect.isfunction(f)
        and not n.startswith("_")
        and f.__module__ == module.__name__
    ]


STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numTasks",
)


def group_metrics(sc, group_ids) -> dict:
    """Jobs, stages and summed task metrics of the given job groups, read
    from Spark's status store after the listener bus has drained.
    Skipped stages ran no tasks and are not counted."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0)
    out["jobs"] = 0
    out["stages"] = 0
    for gid in group_ids:
        for jid in tracker.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                for k in STAGE_FIELDS:
                    out[k] += int(getattr(st, k)())
    # executorRunTime is in ms, executorCpuTime in ns
    out["executor_run_s"] = out.pop("executorRunTime") / 1e3
    out["executor_cpu_s"] = out.pop("executorCpuTime") / 1e9
    out["spill_bytes"] = out.pop("memoryBytesSpilled") + out.pop("diskBytesSpilled")
    return out
