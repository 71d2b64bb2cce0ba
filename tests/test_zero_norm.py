"""The zero-norm cosine contract (functions/vectors.py): a cosine is
0.0 when either norm is 0, in numpy, on the JVM and in the oracle SQL,
and every other cosine keeps the bits of the plain division.

The owners are pinned one by one against the unguarded formula, then
every oracle-backed query that reads ``embeddings`` runs on a copy of
the sf0.01 fixture with three vectors set to all zeros and must match
its oracle.
"""

from __future__ import annotations

import re
from decimal import Decimal

import duckdb
import numpy as np
import pytest

from bitcoin_datawarehouse_spark.functions import vectors
from bitcoin_datawarehouse_spark.registry import ORACLES, QUERIES
from bitcoin_datawarehouse_spark.tables import TABLES

from .conftest import SF_ORACLE

#: vec_ids zeroed in the fixture copy: two below IVF_N_CENTROIDS (so
#: zero vectors are centroids and query vectors) and one corpus vector
ZERO_IDS = (3, 4, 250)

#: every oracle whose SQL reads the embeddings table — new ones join
#: the zero-vector matrix automatically
EMBEDDING_ORACLES = sorted(
    n for n, sql in ORACLES.items() if sql and re.search(r"\bembeddings\b", sql)
)


def _vectors():
    """Rows 0..5 of a (6 × 5) and rows 0..3 of b (4 × 5), one zero row
    in each."""
    rng = np.random.default_rng(11)
    a, b = rng.normal(size=(6, 5)), rng.normal(size=(4, 5))
    a[2] = 0.0
    b[1] = 0.0
    return a, b


def _plain(a, b):
    """The unguarded dim-ordered cosine: dot / outer(|a|, |b|)."""
    dot = np.zeros((len(a), len(b)))
    asq, bsq = np.zeros(len(a)), np.zeros(len(b))
    for j in range(a.shape[1]):
        dot += np.outer(a[:, j], b[:, j])
        asq += a[:, j] * a[:, j]
        bsq += b[:, j] * b[:, j]
    with np.errstate(invalid="ignore", divide="ignore"):
        return dot / np.outer(np.sqrt(asq), np.sqrt(bsq))


def test_numpy_zero_norm_cosine_is_zero(monkeypatch):
    a, b = _vectors()
    ref = _plain(a, b)
    live = np.ones(ref.shape, dtype=bool)
    live[2, :] = live[:, 1] = False
    assert np.isnan(ref[~live]).all()  # what the unguarded formula gives

    cos, a_nrm = vectors.cosine_grid(a, b)
    assert cos.tobytes() == np.where(live, ref, 0.0).tobytes()
    assert a_nrm[2] == 0.0
    b_nrm = vectors.dim_ordered_norms(b)
    assert vectors.cosine_grid(a, b, b_nrm)[0].tobytes() == cos.tobytes()

    monkeypatch.setattr(vectors, "BLOCK_CELLS", 8)  # 2-row blocks
    blocks = [c for _, c in vectors.cosine_row_blocks(a, a_nrm, b, b_nrm)]
    assert len(blocks) == 3
    assert np.concatenate(blocks).tobytes() == cos.tobytes()


def test_jvm_zero_norm_cosine_is_zero(spark):
    from pyspark.sql import functions as F

    a, b = _vectors()
    rows = [
        (i, j, a[i].tolist(), b[j].tolist())
        for i in range(len(a))
        for j in range(len(b))
    ]
    df = spark.createDataFrame(
        rows, "i int, j int, a array<double>, b array<double>"
    ).select(
        "i",
        "j",
        "a",
        "b",
        vectors.norm_col(F.col("a")).alias("an"),
        vectors.norm_col(F.col("b")).alias("bn"),
    )
    got = {
        (r["i"], r["j"]): r["cos"]
        for r in df.select(
            "i",
            "j",
            vectors.cosine_col(
                F.col("a"), F.col("an"), F.col("b"), F.col("bn")
            ).alias("cos"),
        ).collect()
    }
    plain = {
        (r["i"], r["j"]): r["cos"]
        for r in df.filter((F.col("an") != 0) & (F.col("bn") != 0))
        .select(
            "i",
            "j",
            (
                vectors.dot_col(F.col("a"), F.col("b"))
                / (F.col("an") * F.col("bn"))
            ).alias("cos"),
        )
        .collect()
    }
    ref = np.nan_to_num(_plain(a, b), nan=0.0)
    for (i, j), c in got.items():
        if i == 2 or j == 1:
            assert c == 0.0 and (i, j) not in plain
        else:
            assert c == plain[(i, j)]
        assert c == ref[i, j]


def test_sql_zero_norm_cosine_is_zero():
    a, b = _vectors()
    con = duckdb.connect()
    con.execute("CREATE TABLE va (vec_id BIGINT, e DOUBLE[])")
    con.execute("CREATE TABLE vb (vec_id BIGINT, e DOUBLE[])")
    con.executemany(
        "INSERT INTO va VALUES (?, ?)", [(i, r.tolist()) for i, r in enumerate(a)]
    )
    con.executemany(
        "INSERT INTO vb VALUES (?, ?)", [(i, r.tolist()) for i, r in enumerate(b)]
    )
    dot = (
        "list_reduce(list_transform(list_zip(x.e, y.e), p -> p[1] * p[2]),"
        " (acc, x) -> acc + x)"
    )
    rows = con.execute(
        f"""WITH {vectors.sql_normed("na", "va")},
        {vectors.sql_normed("nb", "vb")}
        SELECT x.vec_id, y.vec_id, {vectors.SQL_COS.format(a="x", b="y")},
               {dot} / (x.nrm * y.nrm)
        FROM na x CROSS JOIN nb y"""
    ).fetchall()
    assert len(rows) == len(a) * len(b)
    ref = _plain(a, b)
    for i, j, cos, plain in rows:
        if i == 2 or j == 1:
            assert cos == 0.0 and plain is None  # DuckDB's x / 0 is NULL
        else:
            assert cos == plain == ref[i, j]


@pytest.fixture(scope="module")
def zero_fixture(tmp_path_factory):
    """(sf_dir, duckdb views) for a copy of sf0.01 whose ``ZERO_IDS``
    embeddings are all zeros; the other tables link to the fixture."""
    d = tmp_path_factory.mktemp("zero_norm")
    con = duckdb.connect()
    con.execute(
        f"""COPY (
              SELECT * REPLACE (
                CASE WHEN vec_id IN {ZERO_IDS}
                     THEN list_transform(embedding, x -> CAST(0 AS FLOAT))
                     ELSE embedding END AS embedding)
              FROM '{SF_ORACLE}/embeddings.parquet')
            TO '{d}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    for t in TABLES:
        if t != "embeddings":
            (d / f"{t}.parquet").symlink_to(f"{SF_ORACLE}/{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    zeros = con.execute(
        "SELECT list(vec_id ORDER BY vec_id) FROM embeddings"
        " WHERE list_reduce(list_transform(embedding, x -> abs(x)),"
        " (acc, x) -> acc + x) = 0"
    ).fetchone()[0]
    assert tuple(zeros) == ZERO_IDS
    return str(d), con


def _canon(rows, cols):
    """Order-insensitive rows over name-sorted columns; floats by repr
    and decimals by string, so scale differences fail like a hash."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, Decimal):
            return str(v)
        return repr(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def test_embedding_oracles_cover_the_cosine_family():
    assert len(EMBEDDING_ORACLES) >= 28


@pytest.mark.parametrize("name", EMBEDDING_ORACLES)
def test_zero_vectors_match_oracle(spark, zero_fixture, name):
    from bitcoin_datawarehouse_spark.functions.cachereg import (
        release_tracked_caches,
    )

    sf_dir, con = zero_fixture
    try:
        sdf = QUERIES[name](spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
    finally:
        release_tracked_caches()
    res = con.execute(ORACLES[name])
    ocols = [c[0] for c in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert _canon(srows, sdf.columns) == _canon(orows, ocols)
