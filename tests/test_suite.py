"""Driver-gate emulation: every suite entry's Spark DataFrame must match its
DuckDB oracle SQL — row count, schema (column names), and exact values —
on the same parquet tables, like CORRECTNESS_r{N}.json will check."""

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from alexandria_spark import suite
from alexandria_spark.sources.tables import TESTDATA_TABLES

# default sf0.001 keeps CI fast; the pre-close driver-faithful sweep runs
# the same file at the driver's own scale: AX_SUITE_SF=/root/testdata/sf0.01
SF = os.environ.get("AX_SUITE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    c = duckdb.connect()
    for t in TESTDATA_TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield c
    c.close()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def _value_hash(pdf: pd.DataFrame) -> str:
    """Driver-faithful value hash: string repr of every cell, so an int64 910
    vs a float64 910.0 (e.g. DuckDB SUM(BIGINT) -> HUGEINT -> float64) hashes
    DIFFERENTLY even when numerically equal. This is the gate the driver runs."""
    import hashlib

    h = hashlib.sha256()
    for c in pdf.columns:
        h.update(c.encode())
        col = pdf[c]
        for v in col.to_numpy():
            h.update(repr(v).encode())
    return h.hexdigest()


ENTRY_NAMES = sorted(suite.ENTRIES)


@pytest.mark.parametrize("name", ENTRY_NAMES)
def test_entry_matches_oracle(spark, duck, name):
    _check_entry(spark, duck, name)


# the entries that serve through a cold entry point with a finite k: by
# default they run on the driver (plans/query.py::_LOCAL_MAX_BYTES), so
# they are also gated on the distributed side of that guard
COLD_SERVING = ["engines_search_topk", "index_search_or_topk",
                "index_search_topk", "merge_search_topk"]


@pytest.mark.parametrize("name", COLD_SERVING)
def test_cold_serving_entry_matches_oracle_distributed(spark, duck, name,
                                                       monkeypatch):
    from alexandria_spark.plans import query as qmod

    monkeypatch.setattr(qmod, "_LOCAL_MAX_BYTES", 0)
    _check_entry(spark, duck, name)


def _check_entry(spark, duck, name):
    fn, sql = suite.ENTRIES[name]
    got = _normalize(fn(spark, SF).toPandas())
    exp = _normalize(duck.sql(sql).df())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), f"{name}: {len(got)} vs {len(exp)} rows"
    for c in got.columns:
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        # dtype-strict: an int/float kind mismatch is a hash mismatch at the
        # driver even when values are numerically equal (the r01 failure mode).
        assert g.dtype.kind == e.dtype.kind, (
            f"{name}.{c}: dtype kind {g.dtype} (spark) vs {e.dtype} (oracle)"
        )
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(e.dtype, np.floating):
            assert np.allclose(
                g.astype(np.float64), e.astype(np.float64), rtol=0, atol=0, equal_nan=True
            ), f"{name}.{c}: max diff {np.max(np.abs(g - e))}"
        else:
            mism = g != e
            assert not mism.any(), f"{name}.{c}: {g[mism][:5]} vs {e[mism][:5]}"
    assert _value_hash(got) == _value_hash(exp), f"{name}: value-hash mismatch"
