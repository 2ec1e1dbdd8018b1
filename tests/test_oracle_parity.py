"""Driver-mimicking differential harness: every REGISTRY query runs on
Spark AND DuckDB at sf0.001; results must match on row count, column
names, and (order-insensitively) values.

This is a local pre-flight for the driver's CORRECTNESS gate (which runs
the same comparison at sf0.01).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

from retrieval_augmented_generation_rag_data_pipeline_spark.plans.queries import REGISTRY

import os

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is one file per table; Spark-written scale
        # replicas (tools/make_scale_replica.py) are directories of
        # part files — glob those
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _oracle_for(name: str, sql: str) -> str:
    """The registry's oracle strings are static (built at import from
    the committed artifacts). One gate is deliberately sf-dir-aware:
    dedup_semantic prefers <sf_dir>/quantizer.json (cells follow the
    corpus — see its docstring), so when a scale replica carries one,
    rebuild its oracle from the SAME local quantizer; parity at
    replica scale then checks the seam the static string cannot see.
    Driver sf dirs carry no local quantizer and use the string as-is."""
    if name == "dedup_semantic":
        import json
        import pathlib

        qpath = pathlib.Path(SF_DIR) / "quantizer.json"
        if qpath.is_file():
            from retrieval_augmented_generation_rag_data_pipeline_spark.plans.queries import (
                _semdedup_sql,
            )

            return _semdedup_sql(json.loads(qpath.read_text())["centroids"])
    return sql


@pytest.mark.parametrize(
    "name", [n for n, (_f, sql) in REGISTRY.items() if sql is not None]
)
def test_query_matches_oracle(spark, duck, name):
    fn, sql = REGISTRY[name]
    sql = _oracle_for(name, sql)
    _assert_same(name, fn(spark, SF_DIR).toPandas(), duck.execute(sql).fetchdf())


@pytest.mark.parametrize("name", ["decontaminate", "decontaminate_fuzzy"])
def test_decontaminate_oracles_drop_per_row(spark, tmp_path, name):
    """Both decontaminate oracles drop per row, like the operators: a
    corpus with a duplicated id (one contaminated row, one clean twin)
    and NULL ids (one contaminated row, one clean) must match row for
    row. The benchmark is the corpus rows with doc_id < 20, so the
    contaminated rows copy a benchmark row's text."""
    src = f"{SF_DIR}/documents.parquet"
    if os.path.isdir(src):
        src = f"{src}/*.parquet"
    clean = [
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo",
        "mike november oscar papa quebec romeo sierra tango uniform victor",
    ]
    con = duckdb.connect()
    con.execute(
        f"""COPY (
          SELECT * FROM '{src}' WHERE doc_id < 60
          UNION ALL
          SELECT * REPLACE (CAST(900 AS BIGINT) AS doc_id)
            FROM '{src}' WHERE doc_id = 3
          UNION ALL
          SELECT CAST(900 AS BIGINT), '{clean[0]}', 'en', 'web', {len(clean[0])}
          UNION ALL
          SELECT * REPLACE (CAST(NULL AS BIGINT) AS doc_id)
            FROM '{src}' WHERE doc_id = 5
          UNION ALL
          SELECT CAST(NULL AS BIGINT), '{clean[1]}', 'en', 'web', {len(clean[1])}
        ) TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    fn, sql = REGISTRY[name]
    got = fn(spark, str(tmp_path)).toPandas()
    exp = con.execute(sql).fetchdf()
    con.close()
    # the clean twin and the clean NULL-id row survive; their
    # contaminated copies do not
    assert sorted(got.n_chars[got.doc_id.isna()].tolist()) == [len(clean[1])]
    assert sorted(got.n_chars[got.doc_id == 900].tolist()) == [len(clean[0])]
    _assert_same(name, got, exp)


def _assert_same(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> None:
    got, exp = normalize(got), normalize(exp)
    assert list(got.columns) == list(exp.columns), (
        f"{name} columns {list(got.columns)} != {list(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name} rows {len(got)} != {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if pd.api.types.is_float_dtype(g):
            # rtol covers summation-order divergence: a 6M-row double
            # sum legitimately differs between engines by O(n*ulp)
            # relative (~3e-15 observed at sf1) while any real logic
            # error is orders of magnitude larger
            ok = np.isclose(
                g.to_numpy(), e.to_numpy(dtype="float64"), rtol=1e-12, atol=1e-9, equal_nan=True
            )
            assert ok.all(), f"{name}.{c}: {int((~ok).sum())} float mismatches; first: {g[~ok].head(3).tolist()} vs {e[~ok].head(3).tolist()}"
        else:
            mism = (g != e) & ~(g.isna() & e.isna())
            assert not mism.any(), (
                f"{name}.{c}: {int(mism.sum())} mismatches; first: "
                f"{g[mism].head(3).tolist()} vs {e[mism].head(3).tolist()}"
            )
