"""Local replica of the driver's correctness gate: run every
queries()[name] on Spark and its oracle_sql()[name] on DuckDB over the
same parquet tables; compare row count, column names, and the
order-insensitive multiset of stringified rows."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


def _duck(sf_dir):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _rowset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


QUERY_NAMES = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_oracle_pair(spark, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = _duck(SF_DIR)
    res = con.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    # type strictness: integer-family columns must agree at 64-bit
    stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    for col, st in stypes.items():
        if st in ("int", "smallint", "tinyint"):
            dcol_type = str(res.description[dcols.index(col)][1]).lower()
            assert "int" in dcol_type or "number" in dcol_type
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    assert _rowset(srows, scols) == _rowset(drows, dcols), f"{name}: values differ"


@pytest.mark.parametrize(
    "name", ["dedup_lsh_jaccard", "dedup_decontaminate", "dedup_clusters"]
)
def test_dedup_oracles_hold_over_the_size_gates(spark, name, monkeypatch):
    """Over both dedup size gates (patched to 0: no pair-derived
    broadcast hint, the label-loop clustering) the oracles still hold."""
    from latex_ocr_spark.operators import dedup as D

    monkeypatch.setattr(D, "_BROADCAST_ROW_LIMIT", 0)
    monkeypatch.setattr(D, "_UNION_FIND_MAX_PAIRS", 0)
    test_oracle_pair(spark, name)


def test_no_rows_only_queries_remain():
    """Round 3 gave every registered query a hard oracle; a future
    oracle-less registration must be a conscious, red-test decision."""
    qs = entrymod.queries()
    assert set(qs) - set(entrymod.oracle_sql()) == set()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "conv_id", "turn_idx", "span_idx", "raw_match", "latex_norm", "conv_seq",
    ]
