"""The two workloads. Each is driven by one closed-loop client: a single
caller in the benchmark's process that issues the next operation only
after the previous one returned.

A workload exposes ``warmup(spark)`` (the warm-up half of one set-up)
and ``measure(spark, tracer, seconds, samples)``, which runs a fixed
number of whole cycles sized to take about ``seconds`` on a 4-core host
(``CYCLE_S`` each), and appends to ``samples``:

- ``write``: (wall s, CPU s, docs, traced) per write-side operation —
  one ``prepare_corpus`` build plus ``count()``, or one ``run_once``
  batch;
- ``read``: (wall s, CPU s, traced) per read-side operation — the
  ``collect()`` of the prepared ledger that its checks read, or one
  ``search(...).collect()``;
- ``cycle``: (wall s, CPU s, traced) per cycle whose operations all
  returned: its write plus its reads, without the checks between them;
- ``probes``: (wall s, CPU s) per ``HostProbe`` sort, run before every
  cycle once the run has a probe;
- ``failed``: operations that raised or whose output check failed.

``traced`` says whether the tracer recorded spans in that cycle. CPU
seconds are those of the program's threads (see ``Clock``): this
process's, and the Spark JVM's other than its JIT compiler and
garbage-collector threads.

The work is fixed rather than bounded by the clock because the Spark
JVM is still warming up during the measured phase, and a clock-bounded
loop would place its median at a different point of the warm-up curve
on a slow run than on a fast one. A ``prepare_corpus`` call keeps
getting faster for about ten calls (17.3, 4.9, 4.1, 4.0, 4.0, 3.7, ...
2.4 s on a 4-core host); with a fixed count, every run's median sits at
the same call. corpus_prep's warm-up is the cold call and one more: the
CPU of the first warm call still carries much of the interpreted-code
cost, and a run has room for only one such extra call.

Checks run outside the timed regions.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import time

import pyarrow.dataset as pads

from . import checks, inputs

DOC_DDL = "doc_id BIGINT, text STRING"
QUERY_DDL = "query_id INT, query_text STRING"
SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}


class Samples:
    def __init__(self):
        self.write: list[tuple[float, float, int, bool]] = []
        self.read: list[tuple[float, float, bool]] = []
        self.cycle: list[tuple[float, float, bool]] = []
        self.probe = None  # a HostProbe, once the session is up
        self.probes: list[tuple[float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def between_cycles(self) -> None:
        if self.probe:
            self.probes += self.probe(HostProbe.PER_CYCLE)

    def fail(self, what: str, problems) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(f"{what}: {problems}")


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, or None when the
    process or thread has ended."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


# JVM threads whose work the JVM schedules on its own clock rather than
# the operation's: JIT compilers ("C1/C2 CompilerThre") and the garbage
# collector ("GC Thread#n", "G1 Conc#n", "G1 Refine#n", ...)
_JVM_SERVICE = ("CompilerThre", "GC Thread", "G1 ")


def program_ticks(root: int | None = None) -> dict[tuple[int, int], int]:
    """CPU clock ticks (user + system) used so far by each thread of
    process ``root`` (this one by default) and every process under it —
    the Spark JVM and any Python workers — except the JVM's JIT compiler
    and garbage-collector threads. Keyed by (pid, tid). Time the host gave
    to another guest (steal) is not in it."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        st = _stat(f"/proc/{name}/stat") if name.isdigit() else None
        if st:
            parent[int(name)] = int(st[1][1])  # fields: state ppid ...
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    todo, ticks = [root or os.getpid()], {}
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st and not any(s in st[0] for s in _JVM_SERVICE):
                ticks[(pid, int(tid))] = int(st[1][11]) + int(st[1][12])  # utime stime
    return ticks


class Clock:
    """Wall seconds, and CPU seconds of the program's threads, since the
    last ``lap``.

    Program threads are those of ``program_ticks``: the Python client,
    and the JVM's driver, scheduler and task threads. The JIT compiler
    and garbage-collector threads are left out because their work lands
    on whichever operation is running when the JVM gets to it: in the
    calls just after the cold one, the compiler threads used 5-8 CPU
    seconds per ``prepare_corpus`` call (on 4-6 in program threads) and
    shrank call by call, and a G1 marking burst added 4 CPU seconds to
    three calls of one run and none to the others. A thread that ends
    between two laps is left out too: compiler threads end this way,
    taking up to 4 CPU seconds with them."""

    def __init__(self):
        self.t, self.ticks = time.perf_counter(), program_ticks()

    def lap(self) -> tuple[float, float]:
        t, ticks = time.perf_counter(), program_ticks()
        used = sum(n - self.ticks.get(k, 0) for k, n in ticks.items())
        out = (t - self.t, used * _TICK_S)
        self.t, self.ticks = t, ticks
        return out


class HostProbe:
    """A fixed piece of JVM work that does not touch the package: sorting
    a copy of the same 2M pseudo-random ints. Timed with ``Clock`` before
    every cycle, it tells how fast this host ran Java code at the time
    (see ``run.end_to_end``)."""

    N = 2_000_000
    PER_CYCLE = 2

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._arrays = jvm.java.util.Arrays
        self._data = jvm.java.util.Random(42).ints(self.N).toArray()

    def __call__(self, times: int) -> list[tuple[float, float]]:
        out = []
        for _ in range(times):
            clock = Clock()
            self._arrays.sort(self._arrays.copyOf(self._data, self.N))
            out.append(clock.lap())
        return out


def _pkg():
    from retrieval_augmented_generation_rag_data_pipeline_spark.plans import pipeline

    return pipeline


def _count(seconds: float, unit_s: float, at_least: int) -> int:
    return max(at_least, round(seconds / unit_s))


class CorpusPrep:
    name = "corpus_prep"
    CYCLE_S = 4.4  # one prepare_corpus call with its collect()
    WARMUP_CALLS = 2  # the cold call and one more

    def __init__(self, paths: dict):
        self.paths = paths
        self.first_hash: str | None = None
        self.state: dict = {}

    def warmup(self, spark) -> None:
        df = spark.read.schema(DOC_DDL).parquet(self.paths["corpus"])
        for _ in range(self.WARMUP_CALLS):
            out = _pkg().prepare_corpus(df, splits=SPLITS, seed=13)
            out.count()
            out.collect()

    def measure(self, spark, tracer, seconds: float, samples: Samples) -> None:
        pipeline = _pkg()
        df = spark.read.schema(DOC_DDL).parquet(self.paths["corpus"])
        input_ids = set(self.paths["ids"])
        n_docs = len(input_ids)
        for _ in range(_count(seconds, self.CYCLE_S, at_least=max(2, tracer.min_cycles))):
            samples.between_cycles()
            samples.attempted += 2
            traced = tracer.begin_cycle()
            try:
                clock = Clock()
                with tracer.span("plans.queries.build", "build"):
                    out = pipeline.prepare_corpus(df, splits=SPLITS, seed=13)
                with tracer.span("exec.count", "action"):
                    n = out.count()
                write = clock.lap()
                with tracer.span("exec.collect", "action"):
                    rows = [tuple(r) for r in out.collect()]
                read = clock.lap()
            except Exception as e:  # noqa: BLE001 - a failed op is data
                samples.failed += 2
                samples.problems.append(f"prepare_corpus raised {e!r:.300}")
                continue
            problems = checks.check_prepare(rows, input_ids, self.paths["copy_groups"])
            if n != n_docs:
                problems.append(f"count() {n} != {n_docs}")
            h = checks.rows_hash(rows)
            self.first_hash = self.first_hash or h
            if h != self.first_hash:
                problems.append("row hash differs from the first call's")
            samples.write.append((*write, n_docs, traced))
            samples.read.append((*read, traced))
            samples.cycle.append((write[0] + read[0], write[1] + read[1], traced))
            if problems:
                samples.fail("prepare_corpus", problems)
                samples.fail("prepare_corpus read", problems)


class IngestIndexSearch:
    name = "ingest_index_search"
    CYCLE_S = 5.0  # one run_once batch with its search

    def __init__(self, paths: dict, work: pathlib.Path):
        self.paths = paths
        self.work = work
        self.state: dict = {}

    def _fresh(self, tag: str) -> tuple[str, str]:
        d = self.work / tag
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        return str(d / "index"), str(d / "ledger")

    def warmup(self, spark) -> None:
        pipeline = _pkg()
        idx, led = self._fresh("warmup")
        docs = spark.read.schema(DOC_DDL).parquet(self.paths["warmup"])
        pipeline.run_once(spark, docs, idx, ledger_path=led, chunk_words=inputs.CHUNK_WORDS)
        _, qpath = self.paths["searches"][0]
        q = spark.read.schema(QUERY_DDL).parquet(qpath)
        pipeline.search(spark, idx, q, k=inputs.TOP_K).collect()

    def measure(self, spark, tracer, seconds: float, samples: Samples) -> None:
        """One index and ledger for the whole run: the first n seeded
        batches arrive in order, each followed by its searches."""
        pipeline = _pkg()
        plan = self.paths["plan"]
        n = _count(seconds, self.CYCLE_S, at_least=max(2, tracer.min_cycles))
        idx, led = self._fresh("measure")
        arrived: list[tuple[int, str]] = []
        searches = self.paths["searches"]
        for b, batch_path in enumerate(self.paths["batches"][:n]):
            samples.between_cycles()
            samples.attempted += 1
            traced = tracer.begin_cycle()
            docs = spark.read.schema(DOC_DDL).parquet(batch_path)
            arrived += plan["batches"][b]
            try:
                clock = Clock()
                with tracer.span("plans.pipeline.run_once", "action"):
                    pipeline.run_once(
                        spark, docs, idx, ledger_path=led, chunk_words=inputs.CHUNK_WORDS
                    )
                write = clock.lap()
                samples.write.append((*write, len(plan["batches"][b]), traced))
            except Exception as e:  # noqa: BLE001
                samples.fail("run_once", repr(e)[:300])
                return
            cycle = list(write)
            vec_ids = pads.dataset(idx, format="parquet").to_table(columns=["vec_id"])
            ledger_rows = pads.dataset(led, format="parquet").count_rows()
            problems = checks.check_index(vec_ids["vec_id"].to_pylist(), ledger_rows, arrived)
            if problems:
                samples.fail("run_once", problems)
            chunks = checks.expected_index(arrived)
            for (sb, qpath), (_, queries) in zip(searches, plan["searches"]):
                if sb != b:
                    continue
                samples.attempted += 1
                q = spark.read.schema(QUERY_DDL).parquet(qpath)
                try:
                    clock = Clock()
                    with tracer.span("plans.pipeline.search"):
                        with tracer.span("plans.queries.build", "build"):
                            res = pipeline.search(spark, idx, q, k=inputs.TOP_K)
                        with tracer.span("exec.collect", "action"):
                            rows = [tuple(r) for r in res.collect()]
                    read = clock.lap()
                    samples.read.append((*read, traced))
                except Exception as e:  # noqa: BLE001
                    samples.fail("search", repr(e)[:300])
                    cycle = None
                    continue
                if cycle:
                    cycle = [cycle[0] + read[0], cycle[1] + read[1]]
                bad = checks.check_search(rows, queries, chunks)
                if bad:
                    samples.fail("search", bad)
            if cycle:
                samples.cycle.append((*cycle, traced))
        self.state = {
            "ledger_rows": ledger_rows,
            "index_files": sum(1 for _ in pathlib.Path(idx).rglob("*.parquet")),
            "docs": len(arrived),
        }


def make(workload: str, paths: dict, work: pathlib.Path):
    if workload == "corpus_prep":
        return CorpusPrep(paths)
    return IngestIndexSearch(paths, work)
