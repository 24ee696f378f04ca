"""Mimic the driver's DuckDB-oracle comparison for every registry query.

For each entry in arhivum_spark.queries.REGISTRY with an oracle SQL: run the
Spark query and the DuckDB SQL at sf0.01, sort columns by name, sort rows,
and compare values — catching any mismatch before the driver does.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from arhivum_spark.queries import REGISTRY
from tests.conftest import SF_ORACLE_DIR, SF_TEST_DIR

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _normalize(pdf):
    """Normalize a pandas frame the way the driver's value-hash sees it.

    Crucially, this is DTYPE-SENSITIVE: a DuckDB HUGEINT sum() surfaces in
    pandas as object/float where Spark's BIGINT stays int64 — the driver's
    hash distinguishes them, so this test must too (round-1 lesson: the old
    int(v) coercion passed here while the driver failed 5 queries).
    """
    pdf = pdf.rename(columns=str.lower)
    pdf = pdf[sorted(pdf.columns)]
    out = []
    for row in pdf.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, bool) or type(v).__name__ == "bool_":
                vals.append(("b", bool(v)))
            elif isinstance(v, float) or type(v).__name__ in (
                "float32", "float64"
            ):
                v = round(float(v), 6)
                if v == -0.0:
                    v = 0.0
                vals.append(("f", "nan" if math.isnan(v) else v))
            elif isinstance(v, int) or type(v).__name__ in (
                "int8", "int16", "int32", "int64", "uint64"
            ):
                vals.append(("i", int(v)))
            else:
                # Decimal / object / str — keep the type tag so a HUGEINT
                # that pandas renders as Decimal/object mismatches int64.
                vals.append((type(v).__name__, str(v)))
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


@pytest.mark.parametrize(
    "name", [n for n, (_f, sql) in REGISTRY.items() if sql is not None]
)
def test_query_matches_oracle(spark, name):
    _assert_matches_oracle(spark, name, SF_ORACLE_DIR)


@pytest.mark.parametrize(
    "sf_dir",
    [SF_TEST_DIR, os.path.join(os.path.dirname(SF_ORACLE_DIR), "sf0.1")],
    ids=["sf0.001", "sf0.1"],
)
def test_docs_minhash_lsh_matches_oracle_at_other_scales(spark, sf_dir):
    """At sf0.01 the doc pairs matched under star-only candidates too;
    at sf0.001 and sf0.1 hub election lost true pairs (26 of 28, 250 of
    256). Bucket-local pairs must recover every oracle pair at all three."""
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        pytest.skip(f"no documents table under {sf_dir}")
    _assert_matches_oracle(spark, "docs_minhash_lsh_pairs", sf_dir)


def _assert_matches_oracle(spark, name, sf_dir):
    fn, sql = REGISTRY[name]
    spark_pdf = fn(spark, sf_dir).toPandas()

    con = _duck(sf_dir)
    duck_pdf = con.execute(sql).df()
    con.close()

    assert sorted(c.lower() for c in spark_pdf.columns) == sorted(
        c.lower() for c in duck_pdf.columns
    ), f"{name}: column mismatch {list(spark_pdf.columns)} vs {list(duck_pdf.columns)}"
    a = _normalize(spark_pdf)
    b = _normalize(duck_pdf)
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    mism = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:5]
    assert not mism, (
        f"{name}: value mismatch at sorted rows {mism}: "
        f"{[(a[i], b[i]) for i in mism]}"
    )
