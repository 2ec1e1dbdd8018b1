"""Output checks. Each returns a list of problems; an empty list means the
operation's output is correct. A non-empty list counts the operation as
failed in ``error_rate``. Plain Python, so the self-tests run without
Spark."""

from __future__ import annotations

import hashlib
import math

from . import inputs


def rows_hash(rows: list[tuple]) -> str:
    """Order-independent hash of a result's rows."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def check_prepare(
    rows: list[tuple], input_ids: set[int], copy_groups: list[list[int]]
) -> list[str]:
    """One ``prepare_corpus`` result: one row per input doc, ``split`` set
    exactly for final keeps, ``keep`` only for quality keeps, one
    ``keep_dedup`` survivor per dedup component, and the docs of each
    exact-copy group (``copy_groups``, known from the input) merged into
    one component whenever they pass quality."""
    problems = []
    ids = [r[0] for r in rows]
    if len(ids) != len(input_ids) or set(ids) != input_ids:
        problems.append(f"{len(ids)} rows for {len(input_ids)} input docs")
    survivors: dict[int, int] = {}
    for doc_id, keep_quality, cid, keep_dedup, keep, split in rows:
        if (split is not None) != bool(keep):
            problems.append(f"doc {doc_id}: keep={keep} but split={split!r}")
        if keep and not keep_quality:
            problems.append(f"doc {doc_id}: kept without passing quality")
        if keep_quality:
            survivors[cid] = survivors.get(cid, 0) + bool(keep_dedup)
    bad = [cid for cid, n in survivors.items() if n != 1]
    if bad:
        problems.append(f"{len(bad)} dedup components without exactly one survivor")
    by_id = {r[0]: r for r in rows}
    for group in copy_groups:
        members = [by_id[i] for i in group if i in by_id and by_id[i][1]]
        if len({r[2] for r in members}) > 1:
            problems.append(f"exact copies {group} split over components")
        if len(problems) > 5:
            break
    return problems[:6]


def expected_index(docs: list[tuple[int, str]]) -> dict[str, str]:
    """vec_id -> chunk text the index must hold after ``docs`` arrived."""
    return {
        f"{doc_id}:{i}": chunk
        for doc_id, text in docs
        for i, chunk in enumerate(inputs.chunk_texts(text))
    }


def check_index(vec_ids: list[str], ledger_rows: int, docs: list[tuple[int, str]]) -> list[str]:
    """State after a ``run_once`` batch: one index row per chunk, unique
    ``vec_id``s, and one ledger row per ingested doc."""
    problems = []
    want = expected_index(docs)
    if len(vec_ids) != len(want):
        problems.append(f"index has {len(vec_ids)} rows, expected {len(want)} chunks")
    if len(set(vec_ids)) != len(vec_ids):
        problems.append("duplicate vec_id in index")
    elif set(vec_ids) != set(want):
        problems.append("index vec_ids differ from the ingested chunks")
    if ledger_rows != len(docs):
        problems.append(f"ledger has {ledger_rows} rows, expected {len(docs)}")
    return problems


def check_search(
    rows: list[tuple],
    queries: list[tuple[int, str]],
    chunks: dict[str, str],
    k: int = inputs.TOP_K,
    exact: int = inputs.EXACT_QUERIES,
) -> list[str]:
    """``search`` rows (query_id, vec_id, sim, rank): k rows per query in
    rank order with non-increasing scores; the first ``exact`` queries
    are indexed chunk texts, so their rank-1 row scores 1.0 and carries
    the query's own text."""
    problems = []
    by_query: dict[int, list[tuple]] = {}
    for qid, vec_id, sim, rank in rows:
        by_query.setdefault(qid, []).append((rank, sim, vec_id))
    for qid, text in queries:
        got = sorted(by_query.get(qid, []))
        if [r for r, _, _ in got] != list(range(1, k + 1)):
            problems.append(f"query {qid}: ranks {[r for r, _, _ in got]}")
            continue
        sims = [s for _, s, _ in got]
        if any(b > a for a, b in zip(sims, sims[1:])):
            problems.append(f"query {qid}: scores not non-increasing {sims}")
        if qid < exact:
            top_sim, top_vec = got[0][1], got[0][2]
            if not math.isclose(top_sim, 1.0, rel_tol=0.0, abs_tol=1e-9):
                problems.append(f"query {qid}: exact-text rank-1 score {top_sim!r}")
            if chunks.get(top_vec) != text:
                problems.append(f"query {qid}: rank-1 text differs from the query")
    if set(by_query) - {q for q, _ in queries}:
        problems.append("rows for unknown query ids")
    return problems
