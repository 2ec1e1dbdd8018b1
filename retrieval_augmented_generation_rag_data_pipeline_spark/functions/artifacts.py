"""Frozen-artifact provenance: training-slice fingerprints.

The train/freeze/apply seam (tools/train_quantizer.py,
tools/train_lm.py) commits metadata-sized artifacts trained on a
driver-generated testdata slice. If the driver ever regenerates
testdata with a new seed, a frozen artifact silently measures a STALE
distribution — recall/perplexity numbers quietly degrade while every
gate stays green (round-10 verdict item 5). Each artifact therefore
embeds a fingerprint of its training slice (row count + content hash),
and tests/test_vectors.py / tests/test_text_ops.py recompute it
against the live testdata — a reseeded corpus fails the integrity test
instead of silently skewing the measurements.

DuckDB computes the hash: engine-independent of the system under test,
one ordered aggregation, no Spark session needed at test time.

``load_artifact`` is the one loader of the committed JSON artifacts
(LM, classifier, subword, langid, quantizer, public suffixes, DSIR
target): it resolves the default path, caches per path, and parses.
"""

from __future__ import annotations

import json
import pathlib

_CACHE: dict[str, dict] = {}


def load_artifact(path: str | None, default_name: str) -> dict:
    """The parsed JSON artifact at ``path`` (default:
    ``artifacts/<default_name>``), read once per process and path.
    Callers share the returned dict, so they must not mutate it."""
    if path is None:
        path = str(pathlib.Path(__file__).resolve().parents[2] / "artifacts" / default_name)
    art = _CACHE.get(path)
    if art is None:
        art = _CACHE[path] = json.loads(pathlib.Path(path).read_text())
    return art


def corpus_fingerprint(
    parquet_path: str, key: str, payload: str, where: str | None = None
) -> dict:
    """{"rows": n, "md5": h} over ``key:payload`` rows ordered by
    (key, payload) — deterministic for a fixed file content,
    independent of row order on disk AND of duplicate keys (the
    secondary payload sort breaks engine-nondeterministic string_agg
    tie order). ``payload`` is any SQL expression castable to VARCHAR
    (e.g. ``text``, ``embedding``); ``key``/``payload``/``where`` are
    trusted SQL fragments from in-repo callers — only the path is
    escaped (training data can live anywhere)."""
    import duckdb

    w = f"WHERE {where}" if where else ""
    path_lit = parquet_path.replace("'", "''")
    n, h = (
        duckdb.connect()
        .execute(
            f"SELECT count(*), "
            f"md5(string_agg(CAST({key} AS VARCHAR) || ':' || "
            f"CAST({payload} AS VARCHAR), '|' "
            f"ORDER BY {key}, CAST({payload} AS VARCHAR))) "
            f"FROM read_parquet('{path_lit}') {w}"
        )
        .fetchone()
    )
    return {"rows": int(n), "md5": h}
