"""Seeded workload inputs.

Everything here is plain Python (no Spark): the benchmark generates the
inputs before the session starts, writes them as Parquet under the run
directory, and hands the package only those files. The same seed gives
byte-identical files; another seed gives another corpus, batch order and
query mix.

The base texts are the 500 rows of ``data/documents.parquet`` (the
sf0.001 ``documents`` table of the repository's test data, seed 42).
"""

from __future__ import annotations

import pathlib
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

BASE_DOCUMENTS = pathlib.Path(__file__).resolve().parent / "data" / "documents.parquet"

# corpus_prep: shares of the seeded corpus, recorded here and in the
# run record. Near copies come in chains (a copy of a copy), so the
# dedup closure needs more than one round to join a chain's ends.
CORPUS_BASE_DOCS = 500
CORPUS_EXACT_COPIES = 50
CORPUS_NEAR_CHAINS = 25
CORPUS_CHAIN_LEN = 2

# ingest_index_search: up to BATCHES batches of BATCH_DOCS docs arrive
# into one index, each followed by SEARCHES_PER_BATCH searches of QUERIES
# queries; a run takes as many batches as its time allows. A batch holds
# more docs than Spark's parallel-listing threshold (32 paths; the index
# keeps one directory per doc), so every search lists the index the same
# way.
BATCH_DOCS = 40
BATCHES = 12
SEARCHES_PER_BATCH = 1
QUERIES = 10
EXACT_QUERIES = 5
TOP_K = 5
CHUNK_WORDS = 32

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
QUERY_SCHEMA = pa.schema([("query_id", pa.int32()), ("query_text", pa.string())])

_SPARK_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def base_texts() -> list[str]:
    table = pq.read_table(BASE_DOCUMENTS, columns=["doc_id", "text"])
    rows = sorted(zip(table["doc_id"].to_pylist(), table["text"].to_pylist()))
    return [text for _, text in rows]


def chunk_texts(text: str, chunk_words: int = CHUNK_WORDS) -> list[str]:
    """The chunks ``operators.text.chunk_text`` makes of ``text``: lower
    case, split on Java ``\\s+``, empty tokens dropped, ``chunk_words``
    tokens per chunk joined by one space. Written out independently so
    the index contents can be checked against it."""
    toks = [t for t in _SPARK_WS.split(text.lower()) if t]
    return [
        " ".join(toks[i : i + chunk_words]) for i in range(0, len(toks), chunk_words)
    ]


def _ids(rng: random.Random, n: int) -> list[int]:
    return rng.sample(range(1, 10_000_000), n)


def _near_copy(rng: random.Random, text: str) -> str:
    """One word replaced by another word of the same text, then a case
    and whitespace variant (which ``normalize_text`` folds away)."""
    words = text.split()
    i = rng.randrange(len(words))
    words[i] = rng.choice(words)
    out = " ".join(words)
    return ("  " + out.upper()) if rng.random() < 0.5 else (out + " \t")


def corpus_rows(seed: int) -> list[tuple[int, str]]:
    """(doc_id, text) rows of the corpus_prep input: every base doc once
    under its own id (1..500), then CORPUS_EXACT_COPIES exact copies and
    CORPUS_NEAR_CHAINS chains of CORPUS_CHAIN_LEN near copies of
    seed-chosen base docs under ids above the base range, in seeded row
    order. Base ids stay fixed, so the duplicate graph among base docs,
    and with it the number of closure rounds, does not move with the
    seed; the seed moves which docs are copied, the edits and the order."""
    rng = random.Random(f"corpus_prep:{seed}")
    texts = base_texts()
    copies = [texts[i] for i in rng.sample(range(len(texts)), CORPUS_EXACT_COPIES)]
    for i in rng.sample(range(len(texts)), CORPUS_NEAR_CHAINS):
        t = texts[i]
        for _ in range(CORPUS_CHAIN_LEN):
            t = _near_copy(rng, t)
            copies.append(t)
    rows = list(enumerate(texts + copies, start=1))
    rng.shuffle(rows)
    return rows


def copy_groups(rows: list[tuple[int, str]]) -> list[list[int]]:
    """Ids of the docs that share one exact text, for every text held by
    more than one doc: the exact copies made above, plus any base docs
    that already repeat a text. Dedup must merge each group."""
    by_text: dict[str, list[int]] = {}
    for doc_id, text in rows:
        by_text.setdefault(text, []).append(doc_id)
    return sorted(sorted(ids) for ids in by_text.values() if len(ids) > 1)


def ingest_plan(seed: int) -> dict:
    """Arrival batches and search queries of one ingest run.

    Returns {"batches": [[(doc_id, text), ...], ...],
             "searches": [[batch_no, [(query_id, text), ...]], ...]}.
    After batch b, SEARCHES_PER_BATCH searches run; each has
    EXACT_QUERIES queries that are the exact text of a chunk already
    indexed and QUERIES - EXACT_QUERIES 8-word phrases from any base
    doc (indexed or not)."""
    rng = random.Random(f"ingest_index_search:{seed}")
    texts = base_texts()
    order = rng.sample(range(len(texts)), BATCH_DOCS * BATCHES)
    ids = _ids(rng, len(order))
    docs = [(ids[j], texts[i]) for j, i in enumerate(order)]
    batches = [docs[b * BATCH_DOCS : (b + 1) * BATCH_DOCS] for b in range(BATCHES)]
    searches = []
    for b in range(BATCHES):
        indexed = [c for _, t in docs[: (b + 1) * BATCH_DOCS] for c in chunk_texts(t)]
        for _ in range(SEARCHES_PER_BATCH):
            queries = rng.sample(indexed, EXACT_QUERIES)
            for _ in range(QUERIES - EXACT_QUERIES):
                words = rng.choice(texts).split()
                start = rng.randrange(max(1, len(words) - 8))
                queries.append(" ".join(words[start : start + 8]))
            searches.append([b, list(enumerate(queries))])
    return {"batches": batches, "searches": searches}


def warmup_batch(seed: int) -> list[tuple[int, str]]:
    rng = random.Random(f"ingest_warmup:{seed}")
    texts = base_texts()
    picks = rng.sample(range(len(texts)), 10)
    return list(zip(_ids(rng, len(picks)), [texts[i] for i in picks]))


def write_docs(rows: list[tuple[int, str]], path: pathlib.Path) -> str:
    table = pa.table(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}, schema=DOC_SCHEMA
    )
    return _write(table, path)


def write_queries(rows: list[tuple[int, str]], path: pathlib.Path) -> str:
    table = pa.table(
        {"query_id": [r[0] for r in rows], "query_text": [r[1] for r in rows]},
        schema=QUERY_SCHEMA,
    )
    return _write(table, path)


def _write(table: pa.Table, path: pathlib.Path) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return str(path)


def write_inputs(workload: str, seed: int, root: pathlib.Path) -> dict:
    """Write one workload's inputs under ``root`` and return their paths
    (plus the in-memory plan the checks need)."""
    if workload == "corpus_prep":
        rows = corpus_rows(seed)
        return {
            "corpus": write_docs(rows, root / "corpus.parquet"),
            "ids": [r[0] for r in rows],
            "copy_groups": copy_groups(rows),
        }
    if workload == "ingest_index_search":
        plan = ingest_plan(seed)
        return {
            "batches": [
                write_docs(b, root / f"batch_{i:02d}.parquet")
                for i, b in enumerate(plan["batches"])
            ],
            "searches": [
                (b, write_queries(q, root / f"search_{i:02d}.parquet"))
                for i, (b, q) in enumerate(plan["searches"])
            ],
            "warmup": write_docs(warmup_batch(seed), root / "warmup.parquet"),
            "plan": plan,
        }
    raise ValueError(f"unknown workload {workload!r}")
