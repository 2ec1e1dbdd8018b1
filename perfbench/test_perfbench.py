"""Self-tests of the benchmark itself (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import pathlib
import inspect
import re
import subprocess
import sys
import threading
import time
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, inputs, run, trace, workloads

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def _files(root: pathlib.Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    for seed, d in ((7, "a"), (7, "b"), (8, "c")):
        inputs.write_inputs(workload, seed, tmp_path / d)
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_corpus_shares_are_as_recorded():
    rows = inputs.corpus_rows(3)
    texts = [t for _, t in rows]
    n_near = inputs.CORPUS_NEAR_CHAINS * inputs.CORPUS_CHAIN_LEN
    assert len(rows) == inputs.CORPUS_BASE_DOCS + inputs.CORPUS_EXACT_COPIES + n_near
    assert len({i for i, _ in rows}) == len(rows)
    base = set(inputs.base_texts())
    assert sum(t in base for t in texts) == inputs.CORPUS_BASE_DOCS + inputs.CORPUS_EXACT_COPIES


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def _fake_run():
    samples = workloads.Samples()
    samples.write = [
        (2.0, 4.0, 30, False), (2.2, 4.4, 30, True), (2.1, 4.2, 30, True), (1.9, 3.8, 30, False)
    ]
    samples.read = [(1.0, 2.0, False), (1.1, 2.2, True)]
    samples.cycle = [(3.0, 6.0, False), (3.3, 6.6, True), (2.9, 5.6, False)]
    samples.probes = [(0.5, run.PROBE_REF_S * 2)] * 3  # a host at half the reference speed
    span = {"kind": None, "parent": None, "t0": 0.0, "t1": 1.0, "job0": 0, "job1": 2,
            "py4j0": 0, "py4j1": 10}
    spans = [
        {**span, "id": 0, "name": "plans.pipeline.search"},
        {**span, "id": 1, "name": "plans.queries.build", "kind": "build", "parent": 0,
         "t1": 0.4, "job1": 1, "py4j1": 6},
        {**span, "id": 2, "name": "exec.collect", "kind": "action", "parent": 0,
         "t0": 0.4, "job0": 1},
    ]
    tracer = types.SimpleNamespace(spans=spans, pin_calls=0, traced_cycles=2)
    steal = {"before": {"steal_pct": 0.1, "loadavg": 0.5}, "after": {"steal_pct": 0.2, "loadavg": 1.5}}
    state = {"ledger_rows": 120, "index_files": 120, "docs": 120}
    return samples, tracer, steal, state


def test_printed_metrics_are_exactly_the_declared_ones():
    samples, tracer, steal, state = _fake_run()
    e2e = run.result_metrics(run.end_to_end(2.0, samples), "end_to_end")
    layers = run.result_metrics(run.per_layer(tracer, {}, samples, steal, state, 900.0), "per_layer")
    assert list(e2e) == [m["name"] for m in SPEC["end_to_end"]]
    assert list(layers) == [m["name"] for m in SPEC["per_layer"]]
    assert e2e["setup_s"]["value"] == 1.0
    assert e2e["batch_norm_cpu_p50_s"]["value"] == pytest.approx(3.9 / 2)  # untraced samples only
    assert e2e["cycle_norm_cpu_p50_s"]["value"] == pytest.approx(5.8 / 2)
    raw = run.unscaled(2.0, samples)
    assert (raw["setup_s"], raw["batch_cpu_p50_s"], raw["batch_p50_s"]) == (2.0, 3.9, 1.95)
    assert layers["trace.overhead_pct"]["value"] == pytest.approx(100 * (4.3 / 3.9 - 1))
    assert layers["sources.sinks.files_per_doc"]["value"] == 1.0
    assert layers["exec.prejob_share"]["value"] == 0.5
    with pytest.raises(KeyError):
        run.result_metrics({"undeclared_metric": 1.0}, "end_to_end")


def test_self_time_excludes_children():
    _, tracer, _, _ = _fake_run()
    table = trace.self_times(tracer.spans)
    assert table["plans.pipeline.search"]["self_s"] == pytest.approx(0.0)
    assert table["exec.collect"]["self_s"] == pytest.approx(0.6)


def _index_case():
    docs = [(11, "a b c"), (12, " ".join(["w"] * 40))]
    vec_ids = list(checks.expected_index(docs))
    return docs, vec_ids


def test_index_checks_catch_corruption():
    docs, vec_ids = _index_case()
    assert vec_ids == ["11:0", "12:0", "12:1"]
    assert checks.check_index(vec_ids, 2, docs) == []
    assert checks.check_index(vec_ids[:-1], 2, docs)  # dropped row
    assert checks.check_index(vec_ids + vec_ids[:1], 2, docs)  # duplicate vec_id
    assert checks.check_index(vec_ids, 1, docs)  # ledger short


def test_prepare_checks_catch_corruption():
    rows = [
        (1, True, 1, True, True, "train"),
        (2, False, None, None, False, None),
        (3, True, 1, False, False, None),
    ]
    groups = [[1, 3]]
    assert checks.check_prepare(rows, {1, 2, 3}, groups) == []
    assert checks.check_prepare(rows[:2], {1, 2, 3}, groups)  # dropped row
    assert checks.check_prepare([rows[0], (2, False, None, None, False, "val"), rows[2]], {1, 2, 3}, groups)
    assert checks.check_prepare([rows[0], (2, False, None, None, True, "val"), rows[2]], {1, 2, 3}, groups)
    # dedup merged nothing: each copy is its own component and survives
    keep_all = rows[:2] + [(3, True, 3, True, True, "train")]
    assert checks.check_prepare(keep_all, {1, 2, 3}, groups)
    # merged, but both copies kept
    assert checks.check_prepare(rows[:2] + [(3, True, 1, True, True, "val")], {1, 2, 3}, groups)
    assert checks.rows_hash(rows) == checks.rows_hash(rows[::-1])


def test_search_checks_catch_corruption():
    chunks = {f"{i}:0": f"text {i}" for i in range(6)}
    queries = [(0, "text 0"), (1, "a phrase")]
    good = [(0, f"{i}:0", 1.0 - i / 10, i + 1) for i in range(5)]
    good += [(1, f"{i}:0", 0.5 - i / 10, i + 1) for i in range(5)]
    assert checks.check_search(good, queries, chunks, exact=1) == []
    assert checks.check_search(good[1:], queries, chunks, exact=1)  # dropped row
    swapped = [(0, "1:0", 0.9, 1), (0, "0:0", 1.0, 2)] + good[2:]
    assert checks.check_search(swapped, queries, chunks, exact=1)  # scores rise
    wrong_text = [(0, "5:0", 1.0, 1)] + good[1:]
    assert checks.check_search(wrong_text, queries, chunks, exact=1)


class _FakePipeline:
    """Stands in for ``plans.pipeline``: writes the index and ledger the
    real one would (optionally with one duplicated vec_id) and answers
    searches from them, so the workload's own loop and checks run
    without Spark."""

    def __init__(self, duplicate_on_batch=None):
        self.duplicate_on_batch = duplicate_on_batch
        self.batches = 0

    def run_once(self, spark, docs_path, index_path, ledger_path, chunk_words):
        docs = pq.read_table(docs_path).to_pylist()
        rows = checks.expected_index([(d["doc_id"], d["text"]) for d in docs])
        vec_ids, texts = list(rows), list(rows.values())
        if self.batches == self.duplicate_on_batch:
            vec_ids.append(vec_ids[0])
            texts.append(texts[0])
        for path, table in (
            (index_path, pa.table({"vec_id": vec_ids, "text": texts})),
            (ledger_path, pa.table({"key": [str(d["doc_id"]) for d in docs]})),
        ):
            pathlib.Path(path).mkdir(parents=True, exist_ok=True)
            pq.write_table(table, f"{path}/part-{self.batches}.parquet")
        self.batches += 1

    def search(self, spark, index_path, queries_path, k):
        index = pq.read_table(index_path).to_pylist()
        by_text = {r["text"]: r["vec_id"] for r in index}
        others = [r["vec_id"] for r in index]
        rows = []
        for q in pq.read_table(queries_path).to_pylist():
            top = by_text.get(q["query_text"])
            ids = ([top] if top else []) + [v for v in others if v != top]
            sims = [1.0 if top else 0.5] + [0.4 - i / 100 for i in range(k - 1)]
            rows += [(q["query_id"], ids[i], sims[i], i + 1) for i in range(k)]
        return types.SimpleNamespace(collect=lambda: rows)


class _FakeReader:
    def schema(self, ddl):
        return self

    def parquet(self, path):
        return path


# the duplicate stays in the index, so every later batch's check fails too
@pytest.mark.parametrize("duplicate_on_batch, failed", [(None, 0), (2, 2)])
def test_corrupted_index_counts_as_a_failed_operation(
    duplicate_on_batch, failed, tmp_path, monkeypatch
):
    fake = _FakePipeline(duplicate_on_batch)
    monkeypatch.setattr(workloads, "_pkg", lambda: fake)
    paths = inputs.write_inputs("ingest_index_search", 5, tmp_path / "inputs")
    wl = workloads.make("ingest_index_search", paths, tmp_path)
    samples = workloads.Samples()
    seconds = 4 * wl.CYCLE_S  # four batches
    wl.measure(types.SimpleNamespace(read=_FakeReader()), trace.NullTracer(), seconds, samples)
    assert samples.attempted == 4 * (1 + inputs.SEARCHES_PER_BATCH)
    assert samples.failed == failed, samples.problems
    if failed:
        assert "duplicate vec_id" in samples.problems[0]


class _FakePrepare:
    """Stands in for ``plans.pipeline.prepare_corpus``: every doc passes
    quality and each exact text is one dedup component, or, with
    ``merge=False``, nothing is merged and every doc is kept."""

    def __init__(self, merge: bool):
        self.merge = merge

    def prepare_corpus(self, docs_path, splits, seed):
        docs = pq.read_table(docs_path).to_pylist()
        first: dict[str, int] = {}
        for d in sorted(docs, key=lambda d: d["doc_id"]):
            first.setdefault(d["text"], d["doc_id"])
        rows = []
        for d in docs:
            cid = first[d["text"]] if self.merge else d["doc_id"]
            keep = cid == d["doc_id"]
            rows.append((d["doc_id"], True, cid, keep, keep, "train" if keep else None))
        return types.SimpleNamespace(count=lambda: len(rows), collect=lambda: rows)


@pytest.mark.parametrize("merge", [True, False])
def test_keep_everything_counts_as_failed(merge, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "_pkg", lambda: _FakePrepare(merge))
    paths = inputs.write_inputs("corpus_prep", 5, tmp_path / "inputs")
    wl = workloads.make("corpus_prep", paths, tmp_path)
    samples = workloads.Samples()
    wl.measure(types.SimpleNamespace(read=_FakeReader()), trace.NullTracer(), 0, samples)
    assert samples.attempted == 4  # two calls, each a build + count() and a collect()
    assert samples.failed == (0 if merge else samples.attempted), samples.problems
    if not merge:
        assert "split over components" in samples.problems[0]


def _spin(seconds: float) -> None:
    t = time.process_time()
    while time.process_time() - t < seconds:
        pass


def test_clock_counts_program_threads_of_child_processes():
    clock = workloads.Clock()
    child = subprocess.Popen(
        [sys.executable, "-c", f"import time\n{inspect.getsource(_spin)}\n_spin(0.5)\nprint(1, flush=True)\ninput()"],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        child.stdout.readline()  # the child has spun and still runs
        wall, cpu = clock.lap()
    finally:
        child.communicate("\n", timeout=30)
    assert cpu >= 0.45 and wall >= cpu - 0.05
    assert clock.lap()[1] < 0.2  # a lap starts where the last one ended


def test_clock_leaves_out_jvm_service_threads():
    def compiler():  # named as the JVM names a JIT compiler thread
        with open(f"/proc/self/task/{threading.get_native_id()}/comm", "w") as f:
            f.write("C2 CompilerThre")
        _spin(0.5)
        spun.set()
        done.wait()

    spun, done = threading.Event(), threading.Event()
    clock = workloads.Clock()
    t = threading.Thread(target=compiler)
    t.start()
    try:
        assert spun.wait(30)
        assert clock.lap()[1] < 0.2
    finally:
        done.set()
        t.join()


def test_chunk_texts_follow_spark_tokenizing():
    assert inputs.chunk_texts("  Ab\tc d  ", chunk_words=2) == ["ab c d"]
    assert inputs.chunk_texts("") == []


def test_tail_percentile():
    assert run.tail_percentile(19) is None
    assert run.tail_percentile(40) == 75
    assert run.tail_percentile(100) == 90
