"""Spans around calls into the package's layers, recorded from the
benchmark's own files only.

``Tracer.install`` replaces public functions on their modules with
bracketing wrappers. Where the package reaches a function through a
module-level binding (``plans.pipeline`` imports ``knn_topk`` and
``chunk_text`` by name) the binding on that module is wrapped instead.
``prepare_corpus`` imports ``dedup_corpus`` and every ``pin`` caller
imports ``pin`` inside the function body, so wrapping the defining
module's attribute reaches them too. Nothing in the package changes.

Each span records wall time, the Spark job-id range it covers
(``dagScheduler().nextJobId()`` before and after) and the py4j round
trips made inside it (a counting wrapper on the gateway client's
``send_command``). Action-time work per job comes from the status store
(``statusStore().stageList``), read once at the end of the run. Spans
stay in memory until the run record is written. A span's self time is
its duration minus the part covered by its child spans.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time


class NullTracer:
    """Stands in when tracing is off: same calls, no bookkeeping."""

    min_cycles = 0

    def begin_cycle(self) -> bool:
        return False

    def span(self, name: str, kind: str | None = None):
        return contextlib.nullcontext()


class Tracer:
    """Records spans only in traced cycles. ``begin_cycle`` switches
    tracing on and off in the order off, on, on, off, ... so traced and
    untraced cycles sit at the same positions of a run, and their
    difference is the tracing overhead."""

    min_cycles = 4  # off, on, on, off

    def __init__(self, spark):
        self.active = False
        self.cycles = 0
        self.traced_cycles = 0
        self._dag = spark._jsc.sc().dagScheduler()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._py4j = itertools.count()
        self.py4j_calls = 0
        self.pin_calls = 0
        self._patched: list[tuple[object, str, object]] = []
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(*a, **kw):
            self.py4j_calls = next(self._py4j) + 1
            return send(*a, **kw)

        self._client, self._send = client, send
        client.send_command = counting_send

    def begin_cycle(self) -> bool:
        self.active = self.cycles % 4 in (1, 2)
        self.cycles += 1
        self.traced_cycles += self.active
        return self.active

    def _job(self) -> int:
        return int(self._dag.nextJobId())

    @contextlib.contextmanager
    def span(self, name: str, kind: str | None = None):
        if not self.active or threading.current_thread() is not threading.main_thread():
            yield
            return
        rec = {
            "id": next(self._ids),
            "name": name,
            "kind": kind,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "job0": self._job(),
        }
        rec["py4j0"] = self.py4j_calls
        rec["t0"] = time.perf_counter()
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            rec["py4j1"] = self.py4j_calls
            rec["job1"] = self._job()
            self._stack.pop()
            self.spans.append(rec)

    def install(self, targets: list[tuple[object, str, str]]) -> None:
        """Wrap ``module.attr`` in a span named ``name`` for each target."""
        for module, attr, name in targets:
            fn = getattr(module, attr)
            self._patched.append((module, attr, fn))
            setattr(module, attr, self._wrap(fn, name))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return wrapper

    def count_calls(self, module, attr: str) -> None:
        fn = getattr(module, attr)
        lock = threading.Lock()

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if self.active:
                with lock:
                    self.pin_calls += 1
            return fn(*a, **kw)

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def uninstall(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()
        self._client.send_command = self._send


# ---------------------------------------------------------------- analysis


def jobs_of(spans: list[dict]) -> set[int]:
    return {j for s in spans for j in range(s["job0"], s["job1"])}


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total seconds, self seconds (duration minus
    the union of its children's intervals)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, dict] = {}
    for s in spans:
        covered, end = 0.0, s["t0"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["t0"]):
            lo, hi = max(c["t0"], end), min(c["t1"], s["t1"])
            if hi > lo:
                covered += hi - lo
                end = hi
        row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += s["t1"] - s["t0"]
        row["self_s"] += s["t1"] - s["t0"] - covered
    return out


def py4j_of(spans: list[dict], name: str) -> int:
    """py4j round trips inside spans called ``name``, less the two job-id
    reads each nested span adds."""
    parent = {s["id"]: s["parent"] for s in spans}
    nested: dict[int, int] = {}
    for s in spans:
        p = s["parent"]
        while p is not None:
            nested[p] = nested.get(p, 0) + 1
            p = parent[p]
    return sum(
        s["py4j1"] - s["py4j0"] - 2 * nested.get(s["id"], 0)
        for s in spans
        if s["name"] == name
    )


STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "jvmGcTime",
    "inputBytes",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def stage_metrics(spark, job_ids: set[int]) -> dict[int, dict]:
    """job id -> {"stages": {stage id: {field: value}}} for the given jobs,
    from the status store (skipped stages are left out: they did no
    work in that job)."""
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    store = sc.statusStore()
    gw = spark.sparkContext._gateway
    stage_of_job: dict[int, list[int]] = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        jid = int(j.jobId())
        if jid in job_ids:
            ids = j.stageIds().mkString(",")
            stage_of_job[jid] = [int(x) for x in ids.split(",") if x]
    wanted = {s for ids in stage_of_job.values() for s in ids}
    stages: dict[int, dict] = {}
    it = store.stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    ).iterator()
    while it.hasNext():
        st = it.next()
        sid = int(st.stageId())
        if sid not in wanted or st.status().toString() == "SKIPPED":
            continue
        row = stages.setdefault(sid, {f: 0 for f in STAGE_FIELDS})
        for f in STAGE_FIELDS:
            row[f] += int(getattr(st, f)())
    return {
        jid: {"stages": {s: stages[s] for s in ids if s in stages}}
        for jid, ids in stage_of_job.items()
    }


def sum_stages(per_job: dict[int, dict], job_ids: set[int]) -> dict[str, int]:
    """Stage totals over ``job_ids``; a stage is counted once."""
    seen: dict[int, dict] = {}
    for jid in job_ids:
        seen.update(per_job.get(jid, {}).get("stages", {}))
    tot = {f: 0 for f in STAGE_FIELDS}
    for row in seen.values():
        for f in STAGE_FIELDS:
            tot[f] += row[f]
    tot["stages"] = len(seen)
    return tot
