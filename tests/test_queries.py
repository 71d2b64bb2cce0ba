"""Smoke + semantics tests for the registered analytical operators.

The full DuckDB-oracle sweep lives in tools/check_oracle.py (and the
driver's own gate); here we keep a fast representative subset plus
semantic assertions that an oracle can't express (plan shape,
approx-sketch error, ANN recall).
"""

from __future__ import annotations

import duckdb
import pytest

from bitcoin_datawarehouse_spark.registry import ORACLES, QUERIES
from bitcoin_datawarehouse_spark.tables import TABLES

from .conftest import SF_SMALL

ORACLE_SUBSET = [
    "pricing_summary",
    "join_star_regional_revenue",
    "window_topk_per_group",
    "asof_join_daily_price",
    "dedup_minhash_lsh",
    "similarity_bruteforce_topk",
    "text_quality_score",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    return con


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(repr(r[i]) for i in order) for r in rows
    )
    return out


@pytest.mark.parametrize("name", ORACLE_SUBSET)
def test_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_SMALL)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(ORACLES[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert _normalize(srows, sdf.columns) == _normalize(orows, ocols)


def test_every_query_runs_and_has_stable_schema(spark):
    for name, fn in QUERIES.items():
        df = fn(spark, SF_SMALL)
        assert df.columns, name
        # schema must be resolvable without executing
        df.schema  # noqa: B018


def test_every_query_output_is_driver_canonicalizable(spark):
    """The driver canonicalizes results with a pandas sort over every
    column; ArrayType/MapType/StructType cells are unhashable there and
    crash the gate (r01: multimodal_feature_extract).  Enforce
    scalar-only output schemas for every registered query, and actually
    round-trip the rows-only ones (no oracle → the driver sorts them
    raw) through the same pandas sort."""
    from pyspark.sql import types as T

    complex_types = (T.ArrayType, T.MapType, T.StructType)
    for name, fn in QUERIES.items():
        df = fn(spark, SF_SMALL)
        for field in df.schema.fields:
            assert not isinstance(field.dataType, complex_types), (
                f"{name}.{field.name}: {field.dataType} is not "
                "driver-sortable"
            )

    for name in sorted(set(QUERIES) - set(ORACLES)):
        pdf = QUERIES[name](spark, SF_SMALL).toPandas()
        pdf.sort_values(by=list(pdf.columns))  # raises on unsortable cells


def test_approx_count_distinct_error(spark):
    exact = {
        r["o_orderpriority"]: r["n_customers"]
        for r in QUERIES["agg_count_distinct"](spark, SF_SMALL).collect()
    }
    approx = {
        r["o_orderpriority"]: r["approx_customers"]
        for r in QUERIES["agg_approx_count_distinct"](spark, SF_SMALL).collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) / v < 0.05, (k, approx[k], v)


def test_ann_recall_vs_bruteforce(spark):
    exact = QUERIES["similarity_bruteforce_topk"](spark, SF_SMALL).collect()
    ann = QUERIES["similarity_ann_lsh"](spark, SF_SMALL).collect()
    exact_pairs = {(r["query_id"], r["cand_id"]) for r in exact}
    ann_pairs = {(r["query_id"], r["cand_id"]) for r in ann}
    recall = len(exact_pairs & ann_pairs) / len(exact_pairs)
    # deterministic (md5-derived hashing) — measured 0.54 on the
    # fixture; margin guards regressions in the bucket/rerank
    # composition without pinning the exact value
    assert recall >= 0.4, recall


def test_ngram_jaccard_symmetric_bounds(spark):
    rows = QUERIES["dedup_ngram_jaccard"](spark, SF_SMALL).collect()
    assert rows, "fixture contains planted near-dups"
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0.5 <= r["jaccard"] <= 1.0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_asof_join_partition_by_and_tie_break(spark):
    """Regression: the per-entity (partition_by) as-of mode raised an
    ambiguous-self-join AnalysisException; duplicate right rows per
    key picked a run-dependent value."""
    from bitcoin_datawarehouse_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 2), ("a", 5), ("b", 3), ("b", 1)], "grp string, k long"
    )
    right = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 4, 40.0), ("b", 2, 1.0), ("b", 2, 2.0)],
        "grp string, rk long, price double",
    )
    out = asof_join(
        left, right, "k", "rk", ["price"], partition_by=["grp"]
    )
    got = {(r["grp"], r["k"]): r["price"] for r in out.collect()}
    assert got == {
        ("a", 2): 10.0,
        ("a", 5): 40.0,
        ("b", 3): 2.0,   # duplicate right rows: greatest value wins
        ("b", 1): None,  # no prior observation → ASOF LEFT null
    }


def test_kmeans_improves_quantizer(spark):
    """Lloyd iterations must tighten the clusters: mean cosine of each
    vector to its assigned centroid is higher under the trained
    quantizer than under the fixed smallest-vec_id seed."""
    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        IVF_N_CENTROIDS,
        _normed,
    )
    from bitcoin_datawarehouse_spark.operators.kmeans import (
        assign_to_centroids,
        kmeans_fit,
    )
    from bitcoin_datawarehouse_spark.operators.similarity import dot_col

    emb = _normed(spark, SF_SMALL)

    def mean_cos(cent):
        a = assign_to_centroids(emb, cent)
        joined = (
            a.join(emb, "vec_id")
            .join(
                cent.withColumnRenamed("centroid_id", "cid"),
                F.col("centroid_id") == F.col("cid"),
            )
        )
        cos = dot_col(F.col("e"), F.col("ce")) / (F.col("nrm") * F.col("cn"))
        return joined.agg(F.avg(cos)).first()[0]

    seed = emb.filter(F.col("vec_id") < IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    trained = kmeans_fit(emb)
    assert trained.count() <= IVF_N_CENTROIDS
    assert mean_cos(trained) > mean_cos(seed)




def test_lsh_dedup_recall_vs_exact(spark):
    """LSH-candidate semantic dedup: every emitted pair must also be
    an exact-grid pair (no false positives — the rerank is exact), and
    recall is bounded below (measured 0.55 at sf0.01: near-random
    fixture vectors at a p99.9 threshold are sign-LSH's hard case;
    planted-paraphrase corpora with cos ≥ 0.9 recall far higher)."""
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in QUERIES["dedup_embedding_cosine"](spark, SF_SMALL).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in QUERIES["dedup_embedding_cosine_lsh"](spark, SF_SMALL).collect()
    }
    assert lsh <= exact, "LSH path emitted a pair the exact grid did not"
    assert exact, "fixture yields no pairs — threshold drifted"
    assert len(lsh) / len(exact) >= 0.4


def test_connected_components_long_chain_converges_in_log_rounds(spark):
    """The r7 VERDICT scale-killer: a chain-shaped dup component
    (boilerplate paragraph chains) has diameter = length, which
    exhausts any fixed superstep cap under min-label propagation.
    The round-8 alternating-star rewrite must converge on a planted
    10⁴-node path — with ids SCRAMBLED by a multiplicative
    permutation so the path is not pre-sorted — in ≤ ~2·log₂(n) star
    rounds, labeling every node with the component minimum."""
    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.operators.graph import (
        _star_contraction,
        connected_components,
    )

    n = 10_000
    mult = 3643  # unit mod 10^4 → a bijection; p(0) = 0 stays the min
    ids = spark.range(n).select(
        ((F.col("id") * mult) % n).alias("p"), F.col("id")
    )
    edges = (
        spark.range(n - 1)
        .select(((F.col("id") * mult) % n).alias("src"),
                (((F.col("id") + 1) * mult) % n).alias("dst"))
    )
    star, rounds = _star_contraction(edges, max_rounds=40)
    assert rounds <= 27, f"path of {n} took {rounds} star rounds"
    labels = connected_components(
        ids.select(F.col("p").alias("vertex")), edges, max_supersteps=40
    )
    bad = labels.filter(F.col("component") != 0).count()
    assert bad == 0 and labels.count() == n


def test_connected_components_matches_union_find(spark):
    """Random-graph pin against an independent python union-find:
    multiple components, isolated vertices, duplicate and
    both-direction edges."""
    import random

    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(8)
    n = 300
    raw = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(220)
    ]
    raw += [(b, a) for a, b in raw[:30]]  # reversed duplicates
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in range(n)}
    # canonicalize union-find roots to component minima
    comp_min: dict[int, int] = {}
    for v, r in want.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {v: comp_min[r] for v, r in want.items()}

    vertices = spark.range(n).select(F.col("id").alias("vertex"))
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(vertices, edges).collect()
    }
    assert got == want


def test_connected_components_local_gate_matches_distributed(spark):
    """r12 auto-regime pin: the size-gated driver-side union-find
    (edge count ≤ CC_LOCAL_EDGE_MAX) and the forced-distributed
    alternating-star loop (local_edge_max=0) label every vertex
    identically — multiple components, isolated vertices, reversed
    duplicates, and a planted chain (the star loop's worst shape)."""
    import random

    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(17)
    n = 400
    raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(250)]
    raw += [(b, a) for a, b in raw[:40]]  # reversed duplicates
    raw += [(i, i + 1) for i in range(n, n + 60)]  # planted chain
    vertices = spark.range(n + 61).select(F.col("id").alias("vertex"))
    edges = spark.createDataFrame(raw, "src long, dst long")
    local = {
        (r["vertex"], r["component"])
        for r in connected_components(vertices, edges).collect()
    }
    dist = {
        (r["vertex"], r["component"])
        for r in connected_components(
            vertices, edges, local_edge_max=0
        ).collect()
    }
    assert local == dist and len(local) == n + 61


def test_semdedup_planted_keep_rule(spark):
    """SemDeDup semantics on planted clusters: within a duplicate
    neighbourhood the member FARTHEST from the centroid survives
    (lowest centroid-cosine), ties go to the smallest vec_id, and
    non-duplicate / singleton members are untouched."""
    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.operators.semdedup import (
        semdedup_flags,
    )
    from bitcoin_datawarehouse_spark.operators.similarity import norm_col

    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "centroid_id long, ce array<double>",
    ).withColumn("cn", norm_col(F.col("ce")))
    emb = spark.createDataFrame(
        [
            # cluster 0: v10/v11 pair-cos ≈ 0.982 ≥ τ; v11 is farther
            # from the centroid (cos_c 0.958 < 0.995) → v10 drops
            (10, [1.0, 0.1, 0.0, 0.0]),
            (11, [1.0, 0.3, 0.0, 0.0]),
            # cluster 0, below τ to both → kept
            (12, [0.9, -0.4, 0.1, 0.0]),
            # cluster 1 non-duplicate (cos to v21/v22 ≈ 0.927 < τ)
            (20, [0.0, 1.0, 0.4, 0.0]),
            # cluster 1 IDENTICAL twins: cos_c tie → smaller id wins
            (21, [0.05, 1.0, 0.0, 0.0]),
            (22, [0.05, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, e array<double>",
    ).withColumn("nrm", norm_col(F.col("e")))

    rows = {
        r["vec_id"]: r
        for r in semdedup_flags(emb, cent, tau=0.95).collect()
    }
    assert {v: r["centroid_id"] for v, r in rows.items()} == {
        10: 0, 11: 0, 12: 0, 20: 1, 21: 1, 22: 1,
    }
    assert {v: r["keep"] for v, r in rows.items()} == {
        10: False, 11: True, 12: True, 20: True, 21: True, 22: False,
    }


def test_semdedup_drops_are_same_cluster_exact_pairs(spark):
    """Corpus cross-check vs the exact pair grid: every dropped vector
    shares an above-threshold exact-grid pair with some same-cluster
    member, and every vector in no such pair is kept."""
    flags = {
        r["vec_id"]: r
        for r in QUERIES["dedup_semantic_semdedup"](
            spark, SF_SMALL
        ).collect()
    }
    cluster_of = {v: r["centroid_id"] for v, r in flags.items()}
    paired = set()
    for r in QUERIES["dedup_embedding_cosine"](spark, SF_SMALL).collect():
        if cluster_of[r["vec_a"]] == cluster_of[r["vec_b"]]:
            paired.add(r["vec_a"])
            paired.add(r["vec_b"])
    dropped = {v for v, r in flags.items() if not r["keep"]}
    assert dropped, "fixture yields no semantic drops — threshold drifted"
    assert dropped <= paired, "dropped a vector with no in-cluster dup"
    assert all(
        flags[v]["keep"] for v in set(flags) - paired
    ), "a vector with no in-cluster duplicate was dropped"


def test_auto_semdedup_sql_rule_matches_python():
    """The auto variant's oracle computes K* = ceil(sqrt(N)) in SQL
    (AUTO_K_SQL) — honest only if it selects the IDENTICAL K as
    auto_semdedup_k at every corpus size.  CEIL is tie-free (an
    exact-.5 sqrt would need N = x²+x+¼); verify exhaustively for
    every N ≤ 3·10⁶ plus decade spot-checks."""
    from bitcoin_datawarehouse_spark.operators.semdedup import (
        SEMDEDUP_MAX_K,
        SEMDEDUP_MIN_K,
        auto_semdedup_k,
    )

    con = duckdb.connect()
    rule = (
        f"GREATEST({SEMDEDUP_MIN_K}, LEAST({SEMDEDUP_MAX_K}, "
        "CAST(CEIL(SQRT(n)) AS INT)))"
    )
    rows = con.execute(
        f"SELECT n, {rule} FROM "
        "(SELECT unnest(generate_series(1, 3000000)) AS n)"
    ).fetchall()
    bad = [(n, s) for n, s in rows if s != auto_semdedup_k(n)]
    assert not bad, f"SQL K rule diverges from python: {bad[:5]}"
    for n in (10**7, 10**9, 10**12):
        (got,) = con.execute(
            f"SELECT {rule} FROM (SELECT CAST({n} AS BIGINT) AS n)"
        ).fetchone()
        assert got == auto_semdedup_k(n), n


def test_auto_semdedup_equals_fixed_sizes_run(spark):
    """auto(N) must reproduce a fixed-size two-level run at
    (K, Kc) = two_level_sizes(N) bit-for-bit — the auto≡fixed
    contract the LSH auto width carries (the gate corpus sits above
    both floors: 500 → k1 8 → K 64, Kc 8, so the auto variant
    genuinely exercises the sizing rule there)."""
    from bitcoin_datawarehouse_spark.operators.semdedup import (
        _semdedup_two_level_query,
        coarse_rank_base,
        two_level_sizes,
    )

    assert two_level_sizes(500) == (64, 8)  # the sf0.001/sf0.01 corpora
    assert two_level_sizes(50) == (16, 4)  # floors engage below 64
    assert two_level_sizes(20_000_000) == (65536, 256)  # caps aligned
    # disjoint router ranks: [K, K+Kc) normally, [0, Kc) when N <= K
    assert coarse_rank_base(500) == 64
    assert coarse_rank_base(16) == 0
    fine_k, coarse_k = two_level_sizes(500)
    fixed = {
        tuple(r)
        for r in _semdedup_two_level_query(
            spark, SF_SMALL, fine_k, coarse_rank_base(500), coarse_k
        ).collect()
    }
    auto = {
        tuple(r) for r in QUERIES["dedup_semantic_semdedup_auto"](
            spark, SF_SMALL
        ).collect()
    }
    assert fixed == auto


def test_two_level_k1_sql_rule_matches_python():
    """The two-level oracle computes k1 = min{k : k³ ≥ N} in SQL
    (float cbrt seed + ±1 integer fixup).  The fixup must make the
    rule integer-exact regardless of libm's cbrt rounding — verify
    SQL ≡ python exhaustively for every N ≤ 3·10⁶ (covers all
    perfect cubes in range, the hazard class) plus decade
    spot-checks, and pin the clamp alignment Kc = √K."""
    from bitcoin_datawarehouse_spark.operators.semdedup import (
        semdedup_k1,
        two_level_sizes,
    )

    con = duckdb.connect()
    rule = (
        "CASE WHEN n <= 1 THEN 1 ELSE s"
        " - CASE WHEN (s-1)*(s-1)*(s-1) >= n THEN 1 ELSE 0 END"
        " + CASE WHEN s*s*s < n THEN 1 ELSE 0 END END"
    )
    rows = con.execute(
        f"SELECT n, {rule} FROM (SELECT n,"
        " CAST(CEIL(CBRT(CAST(n AS DOUBLE))) AS BIGINT) AS s FROM"
        " (SELECT unnest(generate_series(1, 3000000)) AS n))"
    ).fetchall()
    bad = [(n, s) for n, s in rows if s != semdedup_k1(n)]
    assert not bad, f"SQL k1 rule diverges from python: {bad[:5]}"
    for n in (10**7, 10**9, 10**12):
        (got,) = con.execute(
            f"SELECT {rule} FROM (SELECT CAST({n} AS BIGINT) AS n,"
            f" CAST(CEIL(CBRT(CAST({n} AS DOUBLE))) AS BIGINT) AS s)"
        ).fetchone()
        assert got == semdedup_k1(n), n
    # clamp alignment: Kc is exactly √K in every regime
    for n in (1, 5, 50, 500, 5000, 10**6, 10**8, 10**12):
        fine, coarse = two_level_sizes(n)
        assert coarse * coarse == fine, (n, fine, coarse)


def test_two_level_assignment_matches_independent_reference(spark):
    """The two-level routing (fine→coarse, occupied-cell restriction,
    within-cell argmax, both tie-breaks) against an independent
    brute-force numpy reimplementation of the spec on the fixture —
    the NTILE-oracle precedent: a second implementation, not the
    kernel's own code path."""
    import numpy as np

    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        _normed,
    )
    from bitcoin_datawarehouse_spark.operators.semdedup import (
        _semdedup_two_level_query,
        coarse_rank_base,
        two_level_sizes,
    )

    rows = sorted(
        _normed(spark, SF_SMALL).select("vec_id", "e").collect(),
        key=lambda r: r["vec_id"],
    )
    vids = np.array([r["vec_id"] for r in rows])
    mat = np.array([list(r["e"]) for r in rows], dtype=np.float64)
    n = len(vids)
    fine_k, coarse_k = two_level_sizes(n)
    base = coarse_rank_base(n)

    # dim-ordered cosine grid (the parity contract's fold order)
    def cos_grid(a, b):
        d = np.zeros((len(a), len(b)))
        asq = np.zeros(len(a))
        bsq = np.zeros(len(b))
        for j in range(a.shape[1]):
            d += np.outer(a[:, j], b[:, j])
            asq += a[:, j] * a[:, j]
            bsq += b[:, j] * b[:, j]
        return d / np.outer(np.sqrt(asq), np.sqrt(bsq))

    order = np.argsort(vids)  # rank-based codebook selection
    fmask = np.zeros(n, dtype=bool)
    fmask[order[:fine_k]] = True
    cmask = np.zeros(n, dtype=bool)
    cmask[order[base : base + coarse_k]] = True
    fids, fmat = vids[fmask], mat[fmask]
    cidv, cmat = vids[cmask], mat[cmask]
    f2c = cidv[np.argmax(cos_grid(fmat, cmat), axis=1)]
    occupied = np.unique(f2c)
    occ_cols = np.isin(cidv, occupied)
    x2c = cidv[occ_cols][
        np.argmax(cos_grid(mat, cmat[occ_cols]), axis=1)
    ]
    expected = {}
    for i in range(n):
        members = np.where(f2c == x2c[i])[0]
        cg = cos_grid(mat[i : i + 1], fmat[members])[0]
        expected[int(vids[i])] = int(fids[members[np.argmax(cg)]])

    got = {
        r["vec_id"]: r["centroid_id"]
        for r in _semdedup_two_level_query(
            spark, SF_SMALL, fine_k, base, coarse_k
        ).collect()
    }
    assert got == expected


@pytest.mark.parametrize(
    "n,m,d", [(5, 3, 4), (1, 3, 4), (2, 2, 4), (7, 3, 1), (9, 40, 3)]
)
def test_cosine_row_blocks_bit_equal_to_untiled_fold(monkeypatch, n, m, d):
    """The tiler changes no cell: concatenating its row blocks gives
    the bytes of the untiled dimension-ordered grid, on shapes whose
    row count is not a multiple of the block rows (n=5 over 2-row
    blocks), a single row, two rows, one column, and a b side wider
    than the whole cap (1-row blocks)."""
    import numpy as np

    from bitcoin_datawarehouse_spark.functions import vectors

    monkeypatch.setattr(vectors, "BLOCK_CELLS", 7)
    rng = np.random.default_rng(n * 100 + m * 10 + d)
    a, b = rng.normal(size=(n, d)), rng.normal(size=(m, d))
    an = np.sqrt((a * a).sum(axis=1))
    bn = np.sqrt((b * b).sum(axis=1))
    ref = np.zeros((n, m))
    for j in range(d):
        ref += np.outer(a[:, j], b[:, j])
    ref /= np.outer(an, bn)
    blocks = list(vectors.cosine_row_blocks(a, an, b, bn))
    assert [s for s, _ in blocks] == list(
        range(0, n, max(1, 7 // m))
    )
    tiled = np.concatenate([c for _, c in blocks])
    assert tiled.shape == (n, m)
    assert tiled.tobytes() == ref.tobytes()


def test_cosine_row_blocks_bound_a_hot_bucket(monkeypatch):
    """A planted one-bucket pin: a 6 000-vector self-grid is 288 MB as
    one n×n grid (the old LSH-bucket allocation).  Under a small cell
    cap the tiler's tracemalloc peak stays a few MB while its blocks
    still cover every row of the grid."""
    import tracemalloc

    import numpy as np

    from bitcoin_datawarehouse_spark.functions import vectors

    n = 6000
    rng = np.random.default_rng(6000)
    mat = rng.normal(size=(n, 4))
    nrm = vectors.dim_ordered_norms(mat)
    full_bytes = n * n * 8
    monkeypatch.setattr(vectors, "BLOCK_CELLS", 1 << 16)
    tracemalloc.start()
    try:
        covered = 0
        for s, cos in vectors.cosine_row_blocks(mat, nrm, mat, nrm):
            assert s == covered and cos.shape[1] == n
            covered += len(cos)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert covered == n
    assert full_bytes == 288_000_000
    assert peak < full_bytes // 50, peak


def test_two_level_split_variant_bit_equal_to_fused(spark):
    """The cap-regime 3-exchange variant (separate fine-assign and
    decision shuffles) must produce the IDENTICAL flag frame as the
    fused per-cell kernel — same routing, grids, tie-breaks; the
    choice is purely physical (task sizing at the Kc clamp)."""
    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        COSINE_DUP_THRESHOLD,
        _normed,
    )
    from bitcoin_datawarehouse_spark.operators.semdedup import (
        coarse_rank_base,
        semdedup_flags_two_level,
        semdedup_flags_two_level_split,
        two_level_sizes,
    )

    emb = _normed(spark, SF_SMALL)
    n = emb.count()
    fine_k, coarse_k = two_level_sizes(n)
    base = coarse_rank_base(n)
    head = [
        r["vec_id"]
        for r in emb.select("vec_id")
        .orderBy("vec_id")
        .limit(base + coarse_k)
        .collect()
    ]
    cent = emb.filter(F.col("vec_id") <= head[fine_k - 1]).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    coarse = emb.filter(
        (F.col("vec_id") >= head[base])
        & (F.col("vec_id") <= head[base + coarse_k - 1])
    ).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    fused = {
        tuple(r)
        for r in semdedup_flags_two_level(
            emb, cent, coarse, COSINE_DUP_THRESHOLD
        ).collect()
    }
    split = {
        tuple(r)
        for r in semdedup_flags_two_level_split(
            emb, cent, coarse, COSINE_DUP_THRESHOLD
        ).collect()
    }
    assert fused == split and fused


def test_bpe_merges_match_python_reference(spark):
    """The iterative BPE training loop vs an INDEPENDENT python
    reference (the Sennrich get_stats / merge_vocab pair over symbol
    tuples — no strings-with-brackets, no Spark): planted corpus with
    overlap-counting cases (aaa → pair (a,a) counts twice per word)
    and tie-break cases, 6 merge rounds."""
    from collections import Counter

    from bitcoin_datawarehouse_spark.operators.bpe import bpe_train

    corpus_words = (
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        + ["aaa"] * 4 + ["banana"] * 2
    )

    # --- reference implementation over symbol TUPLES ---
    def get_stats(vocab):
        stats = Counter()
        for syms, cnt in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += cnt
        return stats

    def merge_vocab(vocab, pair):
        out = {}
        for syms, cnt in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and (syms[i], syms[i + 1]) == pair
                ):
                    merged.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            out[tuple(merged)] = cnt
        return out

    vocab = Counter(tuple(w) for w in corpus_words)
    vocab = {k: v for k, v in vocab.items()}
    want = []
    for r in range(6):
        stats = get_stats(vocab)
        if not stats:
            break
        # max count, tie → lexicographically smallest (a, b)
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        want.append((r, a, b, a + b, c))
        vocab = merge_vocab(vocab, (a, b))

    # --- Spark side over the same corpus ---
    from pyspark.sql import functions as F

    words = (
        spark.createDataFrame(
            [(w,) for w in corpus_words], "word string"
        )
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(
            F.regexp_replace("word", "(.)", "[$1]").alias("s"), "cnt"
        )
    )
    got = bpe_train(words, 6)
    assert got == want and len(got) == 6


def test_full_curation_deterministic_and_funnel_monotone(spark):
    """The composite must be bit-deterministic across runs (every
    sampling decision is hash-derived, no RNG state) and its packed
    output must respect per-(split, domain) invariants: offsets start
    at 0, are strictly increasing with doc_id, and chunk_id is
    consistent with the pack budget."""
    from collections import defaultdict

    from bitcoin_datawarehouse_spark.operators.trainprep import (
        PACK_BUDGET,
    )

    fn = QUERIES["trainprep_full_curation"]
    a = {tuple(r) for r in fn(spark, SF_SMALL).collect()}
    b = {tuple(r) for r in fn(spark, SF_SMALL).collect()}
    assert a == b and a

    groups = defaultdict(list)
    for r in fn(spark, SF_SMALL).collect():
        groups[(r["split"], r["domain"])].append(r)
    for rows in groups.values():
        rows.sort(key=lambda r: r["doc_id"])
        off = 0
        for r in rows:
            assert r["start_offset"] == off
            assert r["chunk_id"] == off // PACK_BUDGET
            off += r["n_tokens"]


def test_full_curation_survives_all_dropped_corpus(spark, tmp_path):
    """Robustness: a corpus where the quality gate drops EVERYTHING
    must flow through all seven stages to an empty result — no
    empty-frame crash in dedup windows, mixture aggregates, or pack
    windows.  Schemas are copied from the real fixture with the text
    column degenerated to one word (n_words = 1 < the Gopher floor)."""
    import duckdb as _dd

    d = str(tmp_path)
    con = _dd.connect()
    con.execute(
        f"""COPY (SELECT doc_id, 'x' AS text, lang, source,
                         CAST(1 AS BIGINT) AS n_chars
            FROM '{SF_SMALL}/documents.parquet' LIMIT 5)
            TO '{d}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * FROM '{SF_SMALL}/embeddings.parquet' LIMIT 5)
            TO '{d}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    out = QUERIES["trainprep_full_curation"](spark, d).collect()
    assert out == []


def test_bpe_encode_bounds_and_reference_word_encoding(spark):
    """Encode invariants on the fixture (every word compresses to
    between 1 token and its character count; ratio consistent), plus
    a direct check that the Spark replace-chain encoding of sample
    words equals a python reference applying the SAME learned merges
    greedily left-to-right."""
    from bitcoin_datawarehouse_spark.operators.bpe import (
        BPE_MERGE_ROUNDS,
        bpe_train,
        bpe_word_table,
    )

    rows = QUERIES["text_bpe_encode"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_words"]
        assert r["n_bpe_tokens"] >= r["n_words"]  # ≥1 token per word
        got = r["n_bpe_tokens"] / r["n_words"]
        assert abs(r["bpe_per_word"] - got) < 1e-6

    merges = bpe_train(
        bpe_word_table(spark, SF_SMALL), BPE_MERGE_ROUNDS
    )
    pairs = [(a, b) for _, a, b, _m, _c in merges]

    def ref_encode(word: str) -> int:
        syms = list(word)
        for a, b in pairs:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    import duckdb as _dd
    from pyspark.sql import functions as F

    words = [
        r[0]
        for r in _dd.sql(
            f"""SELECT word FROM (SELECT unnest(list_filter(
                string_split_regex(lower(text), '[^a-z0-9]+'),
                t -> t <> '')) AS word
                FROM '{SF_SMALL}/documents.parquet') GROUP BY 1
                ORDER BY COUNT(*) DESC LIMIT 50"""
        ).fetchall()
    ]
    s = F.regexp_replace(F.col("word"), "(.)", "[$1]")
    for a, b in pairs:
        s = F.replace(s, F.lit(f"[{a}][{b}]"), F.lit(f"[{a}{b}]"))
    nt = F.length(s) - F.length(F.replace(s, F.lit("["), F.lit("")))
    got_counts = {
        r["word"]: r["nt"]
        for r in spark.createDataFrame([(w,) for w in words], "word string")
        .select("word", nt.alias("nt"))
        .collect()
    }
    for w in words:
        assert got_counts[w] == ref_encode(w), w


def test_bpe_encode_degenerate_corpus_matches_oracle(spark, tmp_path):
    """Review-caught hole: when training stops early (a fully merged /
    single-character vocabulary leaves no pairs), the encode oracle's
    per-round join must pass the corpus THROUGH rather than annihilate
    it.  Cross-engine compare on a corpus of single-char words (zero
    learnable merges) and on one that exhausts merges mid-run."""
    import duckdb as _dd

    for docs in (
        [(1, "a b c"), (2, "c a")],  # zero pairs at round 0
        [(1, "ab ab ab"), (2, "ab")],  # merges exhaust after round 0
        # token-less and NULL-text docs must emit NO row (r9 kernel
        # path, review-caught: the oracle's unnest drops them, and
        # NULL text crashed the kernel)
        [(1, "ab ab"), (2, "!!! ???"), (3, None)],
    ):
        d = tmp_path / f"deg_{docs[0][1].replace(' ', '')}"
        d.mkdir()
        spark.createDataFrame(
            docs, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(d / "documents.parquet")
        )
        got = sorted(
            tuple(r)
            for r in QUERIES["text_bpe_encode"](spark, str(d)).collect()
        )
        con = _dd.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{d}/documents.parquet/*.parquet'"
        )
        want = sorted(
            tuple(r)
            for r in con.execute(ORACLES["text_bpe_encode"]).fetchall()
        )
        assert got == want and got, docs


def test_bpe_delta_training_equals_full_recount(spark):
    """The r9 get_stats-delta trainer must be BIT-EQUAL to the full
    per-round recount on the real fixture vocabulary — the delta is
    an exact integer maintenance rule, not an approximation.  Also
    re-checked on a planted corpus with overlap (aaa) and tie cases
    at a round count that exhausts the vocabulary mid-run (early-stop
    parity)."""
    from bitcoin_datawarehouse_spark.operators.bpe import (
        BPE_MERGE_ROUNDS,
        bpe_train,
        bpe_train_full_recount,
        bpe_word_table,
    )
    from pyspark.sql import functions as F

    words = bpe_word_table(spark, SF_SMALL)
    assert bpe_train(words, BPE_MERGE_ROUNDS) == bpe_train_full_recount(
        words, BPE_MERGE_ROUNDS
    )

    planted = (
        spark.createDataFrame(
            [(w,) for w in ["aaa"] * 3 + ["ab"] * 2 + ["ba"] * 2],
            "word string",
        )
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(F.regexp_replace("word", "(.)", "[$1]").alias("s"), "cnt")
    )
    assert bpe_train(planted, 20) == bpe_train_full_recount(planted, 20)


def test_bpe_delta_training_randomized_vocab_property(spark):
    """Randomized-vocabulary property pin: for seeded random corpora
    (skewed alphabet so merges collide and cascade), the delta
    trainer equals the pure-python Sennrich reference over symbol
    tuples — the same oracle shape as the planted test but exploring
    count/tie structure the planted corpus can't."""
    import random
    from collections import Counter

    from bitcoin_datawarehouse_spark.operators.bpe import bpe_train
    from pyspark.sql import functions as F

    def ref_train(corpus_words, n_rounds):
        def get_stats(vocab):
            stats = Counter()
            for syms, cnt in vocab.items():
                for i in range(len(syms) - 1):
                    stats[(syms[i], syms[i + 1])] += cnt
            return stats

        def merge_vocab(vocab, pair):
            out = Counter()
            for syms, cnt in vocab.items():
                merged, i = [], 0
                while i < len(syms):
                    if i < len(syms) - 1 and (syms[i], syms[i + 1]) == pair:
                        merged.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                out[tuple(merged)] += cnt
            return dict(out)

        vocab = dict(Counter(tuple(w) for w in corpus_words))
        want = []
        for r in range(n_rounds):
            stats = get_stats(vocab)
            if not stats:
                break
            (a, b), c = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
            want.append((r, a, b, a + b, c))
            vocab = merge_vocab(vocab, (a, b))
        return want

    for seed in (7, 41, 1234):
        rng = random.Random(seed)
        corpus = [
            "".join(
                rng.choice("aab")  # skewed binary-ish alphabet
                for _ in range(rng.randint(1, 7))
            )
            for _ in range(rng.randint(20, 60))
        ]
        words = (
            spark.createDataFrame([(w,) for w in corpus], "word string")
            .groupBy("word")
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .select(
                F.regexp_replace("word", "(.)", "[$1]").alias("s"), "cnt"
            )
        )
        assert bpe_train(words, 10) == ref_train(corpus, 10), seed


def test_tokenized_curation_consistent_with_composite_and_bpe(spark):
    """The tokenizer-aware composite must keep EXACTLY the regex
    composite's survivor set (same stages, same sampling — only the
    measuring stick changes), carry per-doc n_tokens equal to the
    BPE encode gate's n_bpe_tokens, differ from the regex counts on
    a material share of docs (proving the measure actually changed),
    and satisfy the packing invariants under the new counts."""
    from collections import defaultdict

    from bitcoin_datawarehouse_spark.operators.trainprep import (
        PACK_BUDGET,
    )

    tok = QUERIES["trainprep_tokenized_curation"](spark, SF_SMALL).collect()
    reg = QUERIES["trainprep_full_curation"](spark, SF_SMALL).collect()
    assert {r["doc_id"] for r in tok} == {r["doc_id"] for r in reg}
    reg_by_id = {r["doc_id"]: r for r in reg}
    enc = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in QUERIES["text_bpe_encode"](spark, SF_SMALL).collect()
    }
    n_diff = 0
    for r in tok:
        assert r["n_tokens"] == enc[r["doc_id"]]
        assert r["split"] == reg_by_id[r["doc_id"]]["split"]
        assert r["domain"] == reg_by_id[r["doc_id"]]["domain"]
        if r["n_tokens"] != reg_by_id[r["doc_id"]]["n_tokens"]:
            n_diff += 1
    assert n_diff > len(tok) // 2  # the measure materially changed

    groups = defaultdict(list)
    for r in tok:
        groups[(r["split"], r["domain"])].append(r)
    for rows in groups.values():
        rows.sort(key=lambda r: r["doc_id"])
        off = 0
        for r in rows:
            assert r["start_offset"] == off
            assert r["chunk_id"] == off // PACK_BUDGET
            off += r["n_tokens"]


def test_bpe_local_trainer_equals_distributed(spark):
    """The driver-local indexed trainer (bpe_train_auto's small-vocab
    regime: lazy-heap argmax + posting-list delta, zero Spark jobs
    per round) must be bit-equal to the distributed delta trainer —
    on the fixture vocabulary at a round count that exhausts it
    mid-run (early-stop parity), on the planted overlap/tie corpus,
    and on seeded random vocabularies."""
    import random

    from bitcoin_datawarehouse_spark.operators.bpe import (
        bpe_train,
        bpe_train_auto,
        bpe_word_table,
    )
    from pyspark.sql import functions as F

    words = bpe_word_table(spark, SF_SMALL)
    assert bpe_train_auto(words, 40) == bpe_train(words, 40)

    for seed in (3, 99):
        rng = random.Random(seed)
        corpus = [
            "".join(rng.choice("aab") for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(20, 60))
        ]
        w = (
            spark.createDataFrame([(x,) for x in corpus], "word string")
            .groupBy("word")
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .select(
                F.regexp_replace("word", "(.)", "[$1]").alias("s"), "cnt"
            )
        )
        assert bpe_train_auto(w, 15) == bpe_train(w, 15), seed


def test_bpe_kernel_apply_equals_chained_replace(spark):
    """The r9 Arrow-kernel apply (min-rank-present loop over a
    broadcast rank dict) must be bit-equal to the chained-literal-
    replace JVM plan applying the SAME merges in training order —
    the rank-monotonicity argument (a merge only creates pairs
    containing its new symbol; any learned pair containing it has a
    later rank) made executable."""
    from bitcoin_datawarehouse_spark.operators.bpe import (
        BPE_MERGE_ROUNDS,
        bpe_apply_kernel,
        bpe_encode_chained,
        bpe_train,
        bpe_word_table,
    )
    from bitcoin_datawarehouse_spark.tables import load_table

    merges = bpe_train(bpe_word_table(spark, SF_SMALL), BPE_MERGE_ROUNDS)
    assert len(merges) == BPE_MERGE_ROUNDS
    docs = load_table(spark, SF_SMALL, "documents")
    got = sorted(
        tuple(r) for r in bpe_apply_kernel(docs, merges).collect()
    )
    want = sorted(
        tuple(r) for r in bpe_encode_chained(docs, merges).collect()
    )
    assert got == want and got


def test_bpe_persisted_tokenizer_round_trip(spark, tmp_path):
    """Train → save_bpe_merges → load_bpe_merges → encode_with must
    reproduce both the merge table and the direct-kernel encode
    exactly (the ivf_index build/serve discipline: the artifact IS
    the tokenizer)."""
    from bitcoin_datawarehouse_spark.operators.bpe import (
        BPE_MERGE_ROUNDS,
        bpe_apply_kernel,
        bpe_train,
        bpe_word_table,
        encode_with,
        load_bpe_merges,
        save_bpe_merges,
    )
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse
    from bitcoin_datawarehouse_spark.tables import load_table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    merges = bpe_train(bpe_word_table(spark, SF_SMALL), BPE_MERGE_ROUNDS)
    save_bpe_merges(wh, spark, merges)
    assert load_bpe_merges(wh) == merges

    docs = load_table(spark, SF_SMALL, "documents")
    got = sorted(tuple(r) for r in encode_with(wh, docs).collect())
    from bitcoin_datawarehouse_spark.operators.bpe import _with_ratio

    want = sorted(
        tuple(r) for r in _with_ratio(bpe_apply_kernel(docs, merges)).collect()
    )
    assert got == want and got


def test_chunk_retrieval_hits_reconstruct_to_source_spans(spark):
    """Every chunk-retrieval result row must map back to a REAL chunk
    of its document: (doc_id, chunk_ix) exists in the registered
    chunk frame with exactly the claimed start_tok (the arithmetic
    reconstruction start_tok = chunk_ix · stride is the chunking
    contract, here re-verified against the actual frame).  Plus the
    serving invariants: the query workload is the N smallest doc_ids,
    no result returns the query's own document, and rnk is dense
    1..k' per query."""
    from bitcoin_datawarehouse_spark.operators.chunk_retrieval import (
        N_CHUNK_QUERY_DOCS,
    )
    from bitcoin_datawarehouse_spark.operators.similarity import TOP_K
    from bitcoin_datawarehouse_spark.operators.text_stats import (
        text_chunk_windows,
    )

    rows = QUERIES["similarity_chunk_retrieval"](spark, SF_SMALL).collect()
    assert rows
    chunks = {
        (r["doc_id"], r["chunk_ix"]): (r["start_tok"], r["chunk_text"])
        for r in text_chunk_windows(spark, SF_SMALL).collect()
    }
    want_queries = sorted({d for d, _ in chunks})[:N_CHUNK_QUERY_DOCS]
    assert sorted({r["query_doc"] for r in rows}) == want_queries

    from collections import defaultdict

    per_q = defaultdict(list)
    for r in rows:
        assert r["doc_id"] != r["query_doc"]
        key = (r["doc_id"], r["chunk_ix"])
        assert key in chunks, key
        start_tok, chunk_text = chunks[key]
        assert r["start_tok"] == start_tok
        assert chunk_text  # the span is real, non-empty text
        per_q[r["query_doc"]].append(r["rnk"])
    for q, rnks in per_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), q
        assert len(rnks) <= TOP_K


def test_ivf_auto_nprobe_hits_target_and_is_minimal(spark):
    """The round-8 closed tuning loop (r7 VERDICT item 7): the chosen
    nprobe must (a) reproduce the fixed-impl rows bit-for-bit at the
    same nprobe (auto ≡ fixed — the adaptivity is one integer, never
    a plan change), (b) reach the recall target against brute force,
    and (c) be MINIMAL — one probe fewer falls below target (the
    order-statistic rule picks the knee, not a safe overshoot)."""
    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        IVF_RECALL_TARGET,
        _ivf_topk_impl,
        auto_ivf_nprobe,
    )
    from bitcoin_datawarehouse_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        similarity_bruteforce_topk,
    )

    n = auto_ivf_nprobe(spark, SF_SMALL)
    assert 1 <= n <= 16

    auto_rows = {
        tuple(r)
        for r in QUERIES["similarity_ivf_topk_auto"](
            spark, SF_SMALL
        ).collect()
    }
    fixed_rows = {
        tuple(r) for r in _ivf_topk_impl(spark, SF_SMALL, n).collect()
    }
    assert auto_rows == fixed_rows and auto_rows

    bf = {
        (r["query_id"], r["cand_id"])
        for r in similarity_bruteforce_topk(spark, SF_SMALL).collect()
    }

    def recall(nprobe: int) -> float:
        got = {
            (r["query_id"], r["cand_id"])
            for r in _ivf_topk_impl(spark, SF_SMALL, nprobe).collect()
        }
        return len(got & bf) / (N_QUERIES * TOP_K)

    assert recall(n) >= IVF_RECALL_TARGET
    if n > 1:
        assert recall(n - 1) < IVF_RECALL_TARGET


def test_semdedup_auto_split_switch_rule_and_bit_equality(spark):
    """The round-8 physical-plan selector (r7 VERDICT item 1): the
    fused cell kernel is chosen while the estimated coarse cell
    (⌈N/Kc⌉ rows × dim) fits the task budget, the 3-exchange split
    variant beyond it — and the registered auto query returns the
    BIT-IDENTICAL frame on both sides of the threshold (the switch is
    physical, never semantic; the oracle is oblivious to it)."""
    from bitcoin_datawarehouse_spark.operators.semdedup import (
        SEMDEDUP_FUSED_MAX_CELL_FLOATS,
        two_level_sizes,
        use_split_variant,
    )

    d = 64  # fixture embedding dim
    # fixture scale: N = 500 → Kc = 8 → cells ≈ 63 rows × 64 ≪ 2^25
    assert not use_split_variant(500, d)
    # clamp regime: Kc = 256 ⇒ cells = N/256; the budget (2^25 slots
    # at d = 64 → 524 288 rows/cell) puts the flip at N = 256·2^25/d
    flip_n = 256 * SEMDEDUP_FUSED_MAX_CELL_FLOATS // d  # = 134 217 728
    assert two_level_sizes(flip_n)[1] == 256
    assert not use_split_variant(flip_n, d)  # exactly at budget: fused
    assert use_split_variant(flip_n + 256, d)  # one row per cell over
    assert use_split_variant(10**10, d)  # deep clamp regime: split
    # wider vectors flip proportionally earlier
    assert use_split_variant(flip_n, 2 * d)

    # bit-equality across the threshold ON THE REGISTERED QUERY: force
    # the split path at fixture scale by shrinking the budget so the
    # estimated cell (63 rows × 64 = 4 032 slots) exceeds it
    fused = {
        tuple(r)
        for r in QUERIES["dedup_semantic_semdedup_auto"](
            spark, SF_SMALL
        ).collect()
    }
    forced_split = {
        tuple(r)
        for r in QUERIES["dedup_semantic_semdedup_auto"](
            spark, SF_SMALL, max_cell_floats=1024
        ).collect()
    }
    assert fused == forced_split and fused


def test_two_level_with_coarse_eq_fine_matches_flat(spark):
    """When every fine centroid self-routes (generic position — no
    exact-twin ties among the fixture's first K vectors, asserted
    first), a two-level run with coarse = fine degenerates to the
    flat assignment: cells are singletons, the occupied set is all of
    them, and the vector routing IS the flat argmax.  Pins that the
    hierarchical machinery adds no behavior beyond the routing."""
    import numpy as np

    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        _normed,
    )
    from bitcoin_datawarehouse_spark.operators.semdedup import (
        _semdedup_query,
        _semdedup_two_level_query,
    )

    k = 23
    rows = sorted(
        _normed(spark, SF_SMALL)
        .filter(f"vec_id < {k}")
        .select("vec_id", "e")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    mat = np.array([list(r["e"]) for r in rows], dtype=np.float64)
    cos = mat @ mat.T / np.outer(
        np.linalg.norm(mat, axis=1), np.linalg.norm(mat, axis=1)
    )
    np.fill_diagonal(cos, -2.0)
    assert cos.max() < 1.0 - 1e-9, "fixture has twin centroids"

    flat = {
        tuple(r) for r in _semdedup_query(spark, SF_SMALL, k).collect()
    }
    two = {
        tuple(r)
        for r in _semdedup_two_level_query(
            spark, SF_SMALL, k, 0, k  # router ranks [0, k) = the fine set
        ).collect()
    }
    assert flat == two


def test_pq_encode_identities_and_packing(spark):
    """PQ encode invariants on the fixture corpus: every codebook
    seed vector (vec_id < 16) is its own nearest sub-centroid in
    every subspace — vec k must encode to the nibble-repeated pattern
    k·0x11111111 — and every packed code fits 8 nibbles."""
    rows = {
        r["vec_id"]: r["pq_code"]
        for r in QUERIES["similarity_pq_encode"](spark, SF_SMALL).collect()
    }
    assert len(rows) == 500
    for k in range(16):
        assert rows[k] == k * 0x11111111, (k, hex(rows[k]))
    assert all(0 <= c < (1 << 32) for c in rows.values())


def test_pq_adc_recall_vs_exact_l2(spark):
    """Quantization loss isolated: ADC approximates squared L2, so
    its honest baseline is the EXACT L2 top-k (computed here in
    numpy), not the cosine ranking.  Pins recall well above chance
    (chance ≈ k/N = 1%) and exactly-k ranked rows per query."""
    import numpy as np

    from bitcoin_datawarehouse_spark.tables import load_table

    emb = sorted(
        load_table(spark, SF_SMALL, "embeddings").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.array([r["vec_id"] for r in emb])
    mat = np.array([list(r["embedding"]) for r in emb], dtype=np.float64)
    exact = set()
    for qi in range(10):
        d2 = ((mat - mat[qi]) ** 2).sum(axis=1)
        mask = ids != ids[qi]
        order = np.lexsort((ids[mask], d2[mask]))[:5]
        exact |= {(ids[qi], int(ids[mask][o])) for o in order}

    adc_rows = QUERIES["similarity_pq_adc_topk"](spark, SF_SMALL).collect()
    adc = {(r["query_id"], r["cand_id"]) for r in adc_rows}
    per_query = {}
    for r in adc_rows:
        per_query.setdefault(r["query_id"], []).append(r["rnk"])
    assert all(
        sorted(v) == list(range(1, 6)) for v in per_query.values()
    )
    recall = len(exact & adc) / len(exact)
    assert recall >= 0.2, recall


def test_pq_adc_ranks_planted_twin_first(spark, tmp_path):
    """The claim PQ actually makes at production thresholds: a TRUE
    near-duplicate (±0.5% jitter, the gen_sf decorrelation model)
    quantizes to (nearly) the same codes as its twin, so ADC ranks it
    first — quantization error hurts ranking among far-apart
    near-random vectors (recall test above), not among real
    near-dups."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    # vec_id 0..9 = the query set, 0..15 = the codebook seeds
    base = rng.standard_normal((40, 64))
    for vid in range(40):
        rows.append((vid, [float(x) for x in base[vid]]))
    for q in range(10):
        jit = base[q] * (1.0 + rng.uniform(-0.005, 0.005, 64))
        rows.append((100 + q, [float(x) for x in jit]))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    for name in ("similarity_pq_adc_topk", "similarity_ivfpq_topk"):
        top1 = {
            r["query_id"]: r["cand_id"]
            for r in QUERIES[name](spark, str(tmp_path)).collect()
            if r["rnk"] == 1
        }
        # the ±0.5% twin shares its query's coarse cell (cos ≈ 1 ⇒
        # same nearest centroid), so the IVF-PQ probe finds it too
        assert top1 == {q: 100 + q for q in range(10)}, (name, top1)


def test_pq_trained_subcodebooks_drop_in(spark):
    """The docstring claim, substantiated: a TRAINED per-subspace
    codebook is the same (M, K, SUB_DIM) artifact as the seed one and
    drops into pq_encode unchanged — and training (a few numpy Lloyd
    steps per subspace, deterministic seed-start) strictly reduces
    mean reconstruction error vs the raw seed codebook."""
    import numpy as np
    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.operators.pq import (
        PQ_K,
        PQ_M,
        PQ_SUB_DIM,
        _collect_subcodebooks,
        _sub_d2,
        pq_encode,
    )
    from bitcoin_datawarehouse_spark.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    seed = _collect_subcodebooks(emb)
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    mat = np.array([list(r["e"]) for r in rows], dtype=np.float64)

    trained = seed.copy()
    for m in range(PQ_M):
        sub = mat[:, m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM]
        for _ in range(5):  # Lloyd from the seed start
            codes = np.argmin(_sub_d2(sub, trained[m]), axis=1)
            for c in range(PQ_K):
                members = sub[codes == c]
                if len(members):
                    trained[m][c] = members.mean(axis=0)

    def recon_err(cb):
        total = 0.0
        for m in range(PQ_M):
            sub = mat[:, m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM]
            total += _sub_d2(sub, cb[m]).min(axis=1).sum()
        return total / len(mat)

    assert recon_err(trained) < recon_err(seed)

    out = pq_encode(emb, trained).collect()
    assert len(out) == len(rows)
    assert all(0 <= r["pq_code"] < (1 << 32) for r in out)


def test_wide_lsh_full_recall_on_true_near_dups(spark, tmp_path):
    """The scale-tier (8×12) LSH dedup's core claim: widening buckets
    sheds junk candidates WITHOUT losing true near-dups, because
    cosine ≈ 1 vectors agree on effectively every sign projection.
    Planted corpus: 40 clusters × 4 jittered copies (±0.5%
    multiplicative — the gen_sf.py decorrelation model, cosine
    ≥ 0.9999 intra-cluster).  Every intra-cluster pair must survive
    both the narrow and the wide variant."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    truth = set()
    for _ in range(40):
        base = rng.standard_normal(16)
        ids = []
        for _ in range(4):
            jit = base * (1.0 + rng.uniform(-0.005, 0.005, 16))
            rows.append((vid, [float(x) for x in jit]))
            ids.append(vid)
            vid += 1
        truth |= {
            (a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
        }
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    wide = {
        (r["vec_a"], r["vec_b"])
        for r in QUERIES["dedup_embedding_cosine_lsh_wide"](
            spark, str(tmp_path)
        ).collect()
    }
    missed = truth - wide
    assert not missed, f"wide LSH lost true near-dup pairs: {missed}"

def test_pii_redaction_on_planted_rows(spark):
    """The fixture corpus has zero PII (the gate verifies parity at
    zero hits) — prove the kernel on planted rows."""
    from bitcoin_datawarehouse_spark.operators.curation import pii_scan_frame

    rows = [
        (1, "contact bob.smith+x@example.co.uk or 10.0.0.1 now"),
        (2, "call +14155551234 and 192.168.1.1 or a@b.io twice a@b.io"),
        (3, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in pii_scan_frame(df).collect()}
    assert got[1]["n_emails"] == 1 and got[1]["n_ipv4"] == 1
    assert got[2]["n_emails"] == 2 and got[2]["n_phones"] == 1
    assert got[2]["n_ipv4"] == 1
    assert got[3]["n_emails"] == got[3]["n_ipv4"] == got[3]["n_phones"] == 0
    # redaction actually rewrites the text (digest changes) iff PII hit
    import hashlib

    assert got[3]["redacted_md5"] == hashlib.md5(rows[2][1].encode()).hexdigest()
    assert got[1]["redacted_md5"] != hashlib.md5(rows[0][1].encode()).hexdigest()


def test_gopher_rules_have_mixed_outcomes(spark):
    rows = QUERIES["text_gopher_rules"](spark, SF_SMALL).collect()
    kept = sum(r["keep"] for r in rows)
    assert 0 < kept < len(rows), "thresholds must discriminate on the fixture"
    # every rule bit is the advertised predicate
    for r in rows[:50]:
        assert r["r_word_count"] == (30 <= r["n_words"] <= 90)
        assert r["r_stopwords"] == (r["n_stop_hits"] >= 2)


def test_decontam_flags_and_excludes_eval_docs(spark):
    rows = QUERIES["decontam_ngram_overlap"](spark, SF_SMALL).collect()
    assert all(r["doc_id"] % 97 != 0 for r in rows)
    flagged = [r for r in rows if r["contaminated"]]
    assert flagged, "fixture vocabulary guarantees some shingle overlap"
    for r in rows:
        assert 0.0 <= r["overlap_frac"] <= 1.0
        assert r["n_contaminated"] <= r["n_shingles"]


def test_global_shuffle_is_balanced_permutation(spark):
    rows = QUERIES["trainprep_global_shuffle"](spark, SF_SMALL).collect()
    n = len(rows)
    assert n == 500
    # a permutation: ranks within each shard are 1..len(shard)
    from collections import defaultdict

    shards = defaultdict(list)
    for r in rows:
        shards[r["shard_id"]].append(r["shard_rank"])
    assert len(shards) == 16
    for ranks in shards.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # md5 balance: no shard dwarfs the others
    sizes = sorted(len(v) for v in shards.values())
    assert sizes[0] >= 10 and sizes[-1] <= 60


def test_substring_spans_on_planted_duplicates(spark, tmp_path):
    """ExactSubstr semantics on planted data: a shared 8-token passage
    across two docs is flagged in both, a within-doc repeat is
    flagged, and a unique doc reports zero duplication."""
    passage = "one two three four five six seven eight"
    rows = [
        (1, passage + " tail alpha beta"),
        (2, "head gamma delta " + passage),
        (3, "wholly unique words nine ten eleven twelve thirteen fourteen"),
        (4, passage + " " + passage),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["doc_id"]: r
        for r in QUERIES["dedup_substring_spans"](spark, str(tmp_path)).collect()
    }
    assert got[3]["n_dup_windows"] == 0
    assert got[3]["dup_tokens"] == 0
    assert got[3]["dup_ratio"] == 0.0
    # docs 1/2/4 all contain the passage -> its window is duplicated
    assert got[1]["n_dup_windows"] >= 1 and got[1]["dup_tokens"] >= 8
    assert got[2]["n_dup_windows"] >= 1 and got[2]["dup_tokens"] >= 8
    # doc 4 is the passage twice: every one of its 16 tokens is part of
    # a duplicated window (the repeat makes interior windows match too)
    assert got[4]["n_tokens"] == 16
    assert got[4]["dup_tokens"] == 16
    assert got[4]["dup_ratio"] == 1.0


def test_lm_quality_buckets_and_score_ordering(spark):
    rows = QUERIES["text_lm_quality"](spark, SF_SMALL).collect()
    assert len(rows) == 500
    from collections import Counter

    sizes = Counter(r["bucket"] for r in rows)
    # NTILE(3): tertiles differ by at most one
    assert max(sizes.values()) - min(sizes.values()) <= 1
    by_bucket = {
        b: [r["bits_per_token"] for r in rows if r["bucket"] == b]
        for b in ("head", "middle", "tail")
    }
    # tertile assignment is monotone in the score
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
    for r in rows:
        assert r["n_bigrams"] == r["n_tokens"] - 1
        assert r["bits_per_token"] > 0


def test_lm_quality_approx_mode_matches_exact_on_fixture(spark):
    """The production approx-percentile bucketing must reproduce the
    exact NTILE path row-for-row on the fixture: the fixture's 500
    scores are all distinct (asserted — ties are the documented
    divergence surface, where approx floors a whole tie group into the
    lower bucket while NTILE splits it by doc_id rank) and well under
    the sketch accuracy, so the discrete percentile IS the NTILE
    boundary element."""
    from bitcoin_datawarehouse_spark.operators.lm_quality import (
        text_lm_quality_buckets,
    )

    exact = {
        r["doc_id"]: tuple(r)
        for r in text_lm_quality_buckets(
            spark, SF_SMALL, mode="exact"
        ).collect()
    }
    approx = {
        r["doc_id"]: tuple(r)
        for r in text_lm_quality_buckets(
            spark, SF_SMALL, mode="approx"
        ).collect()
    }
    assert set(approx) == set(exact)
    # scores/counts identical (same _lm_scores frame feeds both modes)
    for d in exact:
        assert approx[d][:4] == exact[d][:4]
    # bucket contract: equal wherever the score is untied (the fixture
    # has 499 distinct scores over 500 docs); a tie group gets ONE
    # bucket in approx mode, drawn from the exact path's buckets for
    # that group (NTILE may split the group by doc_id rank — the
    # documented divergence surface)
    from collections import defaultdict

    by_score = defaultdict(list)
    for d, v in exact.items():
        by_score[v[3]].append(d)
    for score, docs in by_score.items():
        a_buckets = {approx[d][4] for d in docs}
        e_buckets = {exact[d][4] for d in docs}
        if len(docs) == 1:
            assert a_buckets == e_buckets, (score, docs)
        else:
            assert len(a_buckets) == 1, (score, docs)
            assert a_buckets <= e_buckets, (score, docs)


def test_lm_quality_ranks_repetitive_text_as_predictable(spark, tmp_path):
    """An LM trained on the corpus must score a repetitive document as
    far more predictable (fewer bits/token) than one of unique words."""
    rows = [
        (1, "spam ham " * 20),
        (2, "aardvark bizarre cantaloupe dromedary eucalyptus fjord "
            "glyph hyacinth iguana jackal"),
        (3, "spam ham spam ham mixed with other words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r
        for r in QUERIES["text_lm_quality"](spark, str(tmp_path)).collect()
    }
    assert got[1]["bits_per_token"] < got[2]["bits_per_token"]
    assert got[1]["bucket"] == "head" and got[2]["bucket"] == "tail"


def test_stratified_sample_exact_n_per_stratum(spark):
    rows = QUERIES["trainprep_stratified_sample"](spark, SF_SMALL).collect()
    from collections import defaultdict

    per = defaultdict(list)
    for r in rows:
        per[r["source"]].append(r["sample_rank"])
    # every stratum contributes exactly n, ranked 1..n, deterministic
    for ranks in per.values():
        assert sorted(ranks) == list(range(1, 11))
    again = QUERIES["trainprep_stratified_sample"](spark, SF_SMALL).collect()
    assert {(r["source"], r["doc_id"]) for r in rows} == {
        (r["source"], r["doc_id"]) for r in again
    }


def test_profile_column_stats_shape_and_bounds(spark):
    rows = {r["col"]: r for r in QUERIES["profile_column_stats"](spark, SF_SMALL).collect()}
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    }
    for r in rows.values():
        assert r["n_nulls"] >= 0 and r["n_distinct"] >= 1
        if r["min_num"] is not None:
            assert r["min_num"] <= r["max_num"]
        else:
            assert r["min_str"] <= r["max_str"]
    assert rows["o_orderkey"]["n_distinct"] >= rows["o_orderstatus"]["n_distinct"]


def test_incremental_batch_consistent_with_full_minhash(spark):
    """Any full-corpus minhash near-dup pair that crosses the
    batch/index split must surface as is_dup for the batch member."""
    inc = {
        r["doc_id"]: r
        for r in QUERIES["dedup_incremental_batch"](spark, SF_SMALL).collect()
    }
    assert len(inc) == 125  # doc_id % 4 == 0 of 500
    full = QUERIES["dedup_minhash_lsh"](spark, SF_SMALL).collect()
    crossing = set()
    for r in full:
        if r["jaccard"] >= 0.5:
            a, b = r["doc_a"], r["doc_b"]
            if (a % 4 == 0) != (b % 4 == 0):
                crossing.add(a if a % 4 == 0 else b)
    for did in crossing:
        assert inc[did]["is_dup"], did
        assert inc[did]["match_jaccard"] >= 0.5
    # clean docs carry NULL match fields
    for r in inc.values():
        if not r["is_dup"]:
            assert r["match_id"] is None and r["match_jaccard"] is None


def test_funnel_stage_timestamps_strictly_ordered(spark):
    rows = QUERIES["funnel_view_signup_purchase"](spark, SF_SMALL).collect()
    assert rows and {r["reached_stage"] for r in rows} <= {0, 1, 2, 3}
    for r in rows:
        stages = [r["t_view"], r["t_signup"], r["t_purchase"]]
        # reached_stage counts the filled prefix, later stages are NULL
        assert [s is not None for s in stages] == [
            i < r["reached_stage"] for i in range(3)
        ]
        filled = [s for s in stages if s is not None]
        assert filled == sorted(filled) and len(set(filled)) == len(filled)


def test_cohort_retention_bounds(spark):
    rows = QUERIES["cohort_weekly_retention"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["week_offset"] >= 0
        assert 0 < r["n_active"] <= r["cohort_size"]
        if r["week_offset"] == 0:
            assert r["retention"] == 1.0
        else:
            assert r["retention"] <= 1.0


def test_multiprobe_recall_dominates_single_probe(spark):
    exact = QUERIES["similarity_bruteforce_topk"](spark, SF_SMALL).collect()
    single = QUERIES["similarity_ann_lsh"](spark, SF_SMALL).collect()
    multi = QUERIES["similarity_ann_multiprobe"](spark, SF_SMALL).collect()
    exact_p = {(r["query_id"], r["cand_id"]) for r in exact}
    single_p = {(r["query_id"], r["cand_id"]) for r in single}
    multi_p = {(r["query_id"], r["cand_id"]) for r in multi}
    r_single = len(exact_p & single_p) / len(exact_p)
    r_multi = len(exact_p & multi_p) / len(exact_p)
    # Hamming-1 probing enlarges the candidate set, so recall is
    # monotonically >=; on the fixture it is strictly better
    assert r_multi >= r_single
    assert r_multi >= 0.6, (r_single, r_multi)


def test_recursive_spine_is_contiguous_and_zero_filled(spark):
    """The recursive CTE must emit exactly SPINE_DAYS consecutive days
    starting at the earliest order day, with zero-filled revenue on
    calendar days that had no orders."""
    import datetime

    from bitcoin_datawarehouse_spark.operators.sql_surface import SPINE_DAYS

    rows = sorted(
        QUERIES["sql_recursive_date_spine"](spark, SF_SMALL).collect(),
        key=lambda r: r.day_idx,
    )
    assert len(rows) == SPINE_DAYS
    assert [r.day_idx for r in rows] == list(range(SPINE_DAYS))
    for prev, cur in zip(rows, rows[1:]):
        assert cur.order_day - prev.order_day == datetime.timedelta(days=1)
    # zero-fill contract: revenue/n_items are non-null everywhere and
    # agree on emptiness
    for r in rows:
        assert r.revenue is not None and r.n_items is not None
        assert (r.n_items == 0) == (r.revenue == 0.0)


def test_token_histogram_counts_are_consistent(spark):
    """term_count >= doc_count (every counted doc contributes >=1
    occurrence), counts positive, rows unique by token, and the list
    is sorted by (term_count desc, token) with K-bounded length."""
    from bitcoin_datawarehouse_spark.operators.text_stats import (
        TOKEN_HIST_TOP_K,
    )

    rows = QUERIES["text_token_histogram"](spark, SF_SMALL).collect()
    assert 0 < len(rows) <= TOKEN_HIST_TOP_K
    assert len({r.token for r in rows}) == len(rows)
    for r in rows:
        assert r.term_count >= r.doc_count > 0


def test_fuzzy_decontam_best_match_shape(spark):
    """One row per flagged corpus doc; eval/corpus sides disjoint by
    the mod rule; jaccard in (0, 1]; verdict consistent with the
    threshold."""
    from bitcoin_datawarehouse_spark.operators.curation import (
        FUZZY_EVAL_MOD,
    )
    from bitcoin_datawarehouse_spark.operators.dedup import (
        JACCARD_THRESHOLD,
    )

    rows = QUERIES["decontam_minhash_fuzzy"](spark, SF_SMALL).collect()
    assert rows, "fixture must produce cross-boundary candidates"
    assert len({r.doc_id for r in rows}) == len(rows)
    for r in rows:
        assert r.doc_id % FUZZY_EVAL_MOD != 0
        assert r.eval_doc_id % FUZZY_EVAL_MOD == 0
        assert 0.0 < r.jaccard <= 1.0
        assert r.contaminated == (r.jaccard >= JACCARD_THRESHOLD)


def test_substring_winnowed_flags_runs_at_any_alignment(spark, tmp_path):
    """The winnowing guarantee, exercised adversarially: a duplicated
    run of ≥ 1.5·W tokens must be flagged in BOTH copies regardless
    of where each copy sits in its document — the alignment cases a
    plain stride-s sampling provably misses (copies at different
    offsets mod s).  Runs are planted at every pairwise offset
    combination 0..s-1 with distinct filler everywhere else."""
    import random

    from bitcoin_datawarehouse_spark.operators.substring import (
        WINDOW_TOKENS,
        WINNOW_S,
    )

    rng = random.Random(42)
    run_len = WINDOW_TOKENS + WINNOW_S - 1  # 1.5·W - 1: the bound
    rows = []
    expect_dup = []
    doc_id = 0
    for off_a in range(WINNOW_S):
        for off_b in range(WINNOW_S):
            run = " ".join(
                f"run{off_a}{off_b}tok{i}" for i in range(run_len)
            )
            for off in (off_a, off_b):
                pad_l = " ".join(
                    f"u{doc_id}x{i}" for i in range(off + 2)
                )
                pad_r = " ".join(
                    f"v{doc_id}y{i}" for i in range(rng.randint(2, 6))
                )
                rows.append((doc_id, f"{pad_l} {run} {pad_r}"))
                expect_dup.append(doc_id)
                doc_id += 1
    # plus clean docs that must stay unflagged
    clean_ids = []
    for _ in range(4):
        rows.append(
            (doc_id,
             " ".join(f"c{doc_id}z{i}" for i in range(run_len + 6)))
        )
        clean_ids.append(doc_id)
        doc_id += 1
    # plus repeated-token docs: a token repeated with period < W makes
    # every window in an s-group IDENTICAL — the argmin tie case where
    # kernel (np first-position) and oracle (composite arg_min key)
    # must pin the same winner or dup_tokens/dup_ratio diverge
    for rep in ("ha", "na na boo"):
        for off in (0, 1):
            pad_l = " ".join(f"p{doc_id}q{i}" for i in range(off + 2))
            pad_r = " ".join(f"r{doc_id}s{i}" for i in range(3))
            body = " ".join(rep.split() * (3 * run_len))
            rows.append((doc_id, f"{pad_l} {body} {pad_r}"))
            expect_dup.append(doc_id)
            doc_id += 1
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    sdf = QUERIES["dedup_substring_spans_winnowed"](spark, str(tmp_path))
    srows = sdf.collect()
    got = {r["doc_id"]: r for r in srows}
    missed = [d for d in expect_dup if got[d]["n_dup_windows"] == 0]
    assert not missed, f"winnowing missed planted runs in docs {missed}"
    for d in clean_ids:
        assert got[d]["n_dup_windows"] == 0

    # hash-gate rehearsal on the adversarial corpus: the fixture gate
    # never contains periodic text, so the tie-break agreement between
    # kernel and oracle is only proven here
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    res = con.execute(ORACLES["dedup_substring_spans_winnowed"])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert _normalize(
        [tuple(r) for r in srows], sdf.columns
    ) == _normalize(orows, ocols)


def test_substring_hot_hash_cap_is_output_identical(spark, tmp_path):
    """The skew lever changes the physical plan only: on a planted
    100-way duplicated window (the boilerplate case) the capped path
    must produce bit-identical per-doc statistics to the default
    window-count path, and its plan must broadcast the hot-hash set."""
    from bitcoin_datawarehouse_spark.operators.substring import (
        substring_spans,
    )
    from bitcoin_datawarehouse_spark.plans.audit import df_plan

    boiler = "subscribe to our newsletter for more great daily content"
    rows = [
        (i, f"doc {i} body word{i}a word{i}b {boiler} tail{i}")
        for i in range(100)
    ]
    rows.append((100, "a wholly unique document with no shared passage "
                      "at all in it"))
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    base = sorted(
        map(tuple, substring_spans(spark, str(tmp_path)).collect())
    )
    capped_df = substring_spans(spark, str(tmp_path), hot_hash_cap=50)
    capped = sorted(map(tuple, capped_df.collect()))
    assert capped == base
    assert any(r[0] < 100 and r[3] > 0 for r in base)  # boiler flagged
    plan = df_plan(capped_df)
    assert "BroadcastHashJoin" in plan  # the hot set joins broadcast


def test_substring_winnowed_shrinks_the_intermediate(spark):
    """The point of the lever: the winnowed kernel emits a fraction of
    the stride-1 window rows (expected ~2/(s+1)) on the real fixture."""
    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.operators.substring import (
        WINNOW_S,
        doc_windows,
    )

    full = doc_windows(spark, SF_SMALL).filter(F.col("h").isNotNull()).count()
    sampled = (
        doc_windows(spark, SF_SMALL, winnow_s=WINNOW_S)
        .filter(F.col("h").isNotNull())
        .count()
    )
    assert sampled < 0.75 * full
    assert sampled > 0


def test_auto_lsh_width_selection_and_equivalence(spark):
    """The runtime width rule: fixture-floor at the driver gate's
    corpus size (so auto and the pinned 8×5 tier agree), ~+3.3 bits
    per corpus decade, clamped to the measured-good range — and the
    auto entrypoint's output is bit-identical to the fixed-width body
    at the width it selects."""
    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        AUTO_LSH_MAX_BITS,
        AUTO_LSH_MIN_BITS,
        _lsh_dedup,
        auto_lsh_bits,
        dedup_embedding_cosine_lsh_auto,
    )
    from bitcoin_datawarehouse_spark.tables import load_table

    # the sf0.01 driver-gate corpus (2 000 vectors) lands on the
    # proven fixture tier; decades grow the width; clamps hold
    assert auto_lsh_bits(2_000) == 5
    assert auto_lsh_bits(20_000) == 8
    assert auto_lsh_bits(200_000) == 12
    assert auto_lsh_bits(2_000_000) == 15
    assert auto_lsh_bits(10) == AUTO_LSH_MIN_BITS
    assert auto_lsh_bits(10**12) == AUTO_LSH_MAX_BITS
    assert auto_lsh_bits(0) == AUTO_LSH_MIN_BITS
    # monotone in the corpus size
    widths = [auto_lsh_bits(n) for n in (10, 1_000, 10_000, 10**6, 10**9)]
    assert widths == sorted(widths)

    n = load_table(spark, SF_SMALL, "embeddings").count()
    got = sorted(
        map(tuple, dedup_embedding_cosine_lsh_auto(spark, SF_SMALL).collect())
    )
    want = sorted(
        map(
            tuple,
            _lsh_dedup(spark, SF_SMALL, bits=auto_lsh_bits(n)).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_auto_lsh_sql_rule_matches_python():
    """The auto variant's ORACLE computes the width rule in SQL
    (AUTO_BITS_SQL) — the gate only stays honest if the SQL rule
    selects the IDENTICAL width as auto_lsh_bits at every corpus
    size.  ROUND-half-away vs Python banker's rounding could in
    principle differ on an exact .5; verify exhaustively for every
    N ≤ 3·10⁶ (three decades past the sf0.1 corpus) plus decade
    spot-checks to 10¹²."""
    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        AUTO_LSH_MAX_BITS,
        AUTO_LSH_MIN_BITS,
        AUTO_LSH_TARGET_BUCKET,
        auto_lsh_bits,
    )

    con = duckdb.connect()
    rule = (
        f"GREATEST({AUTO_LSH_MIN_BITS}, LEAST({AUTO_LSH_MAX_BITS}, "
        f"CAST(ROUND(LOG2(GREATEST(n / {AUTO_LSH_TARGET_BUCKET}.0, "
        "1.0))) AS INT)))"
    )
    rows = con.execute(
        f"SELECT n, {rule} FROM "
        "(SELECT unnest(generate_series(1, 3000000)) AS n)"
    ).fetchall()
    bad = [(n, s) for n, s in rows if s != auto_lsh_bits(n)]
    assert not bad, f"SQL width rule diverges from python: {bad[:5]}"
    for n in (10**7, 10**8, 10**9, 10**12):
        (got,) = con.execute(
            f"SELECT {rule} FROM (SELECT CAST({n} AS BIGINT) AS n)"
        ).fetchone()
        assert got == auto_lsh_bits(n), n


def test_minhash_hot_bucket_cap_semantics(spark, tmp_path):
    """The boilerplate guard, pinned on planted corpora: (a) a planted
    mega-clique of identical documents (every pair a candidate only
    through hot buckets) is dropped by the capped tier while a small
    genuine near-dup pair survives; (b) at sub-cap density the capped
    output is bit-identical to the uncapped row."""
    from bitcoin_datawarehouse_spark.operators.dedup import (
        MINHASH_HOT_BUCKET_CAP,
        minhash_lsh_pairs,
    )

    boiler = ("subscribe to our newsletter today for daily updates and "
              "market insights delivered straight to your inbox")
    rows = [(i, boiler) for i in range(40)]  # 40-way identical clique
    shared = ("the quick brown fox jumps over the lazy dog near the wide "
              "river bank every single morning while the cold autumn wind "
              "keeps blowing gently across the quiet valley floor")
    rows += [
        (100, shared + " today"),
        (101, shared + " tonight"),
        (102, "a wholly unrelated document about parquet bucketing and "
              "shuffle exchanges in spark"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(spark, str(tmp_path)).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            spark, str(tmp_path), hot_bucket_cap=MINHASH_HOT_BUCKET_CAP
        ).collect()
    }
    clique_pairs = {(a, b) for a in range(40) for b in range(40) if a < b}
    assert clique_pairs <= uncapped          # uncapped sees the clique
    assert not (clique_pairs & capped)       # cap drops every clique pair
    assert (100, 101) in capped              # the genuine pair survives
    assert not any(102 in p for p in capped)

    # sub-cap density: identical outputs (the fixture gate's property)
    small = [(i, f"document {i} with its own entirely distinct words "
                 f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(6)]
    small += [(100, "the quick brown fox jumps over the lazy dog by the "
                    "river bank"),
              (101, "the quick brown fox jumps over the lazy dog by the "
                    "river bend")]
    spark.createDataFrame(
        small, "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    u2 = sorted(map(tuple, minhash_lsh_pairs(spark, str(tmp_path)).collect()))
    c2 = sorted(
        map(
            tuple,
            minhash_lsh_pairs(
                spark, str(tmp_path), hot_bucket_cap=MINHASH_HOT_BUCKET_CAP
            ).collect(),
        )
    )
    assert u2 == c2 and len(u2) > 0


def test_paragraph_dedup_on_planted_rows(spark):
    """Global first-occurrence paragraph dedup, pinned on planted docs:
    a paragraph repeated across docs AND within one doc survives only
    at its first (doc_id, pos); reassembly is byte-exact."""
    import hashlib

    from bitcoin_datawarehouse_spark.operators.paragraph import (
        PARA_W,
        dedup_paragraphs_frame,
    )

    boiler = " ".join(f"b{i}" for i in range(PARA_W))      # boilerplate chunk
    u = lambda tag: " ".join(f"{tag}{i}" for i in range(PARA_W))
    rows = [
        # doc 1: boiler, unique, boiler AGAIN (within-doc dup)
        (1, "web", f"{boiler} {u('a')} {boiler}"),
        # doc 2: unique, boiler (cross-doc dup)
        (2, "web", f"{u('c')} {boiler}"),
        # doc 3: all unique + a short tail chunk (< PARA_W tokens)
        (3, "news", f"{u('d')} tail1 tail2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: r for r in dedup_paragraphs_frame(docs).collect()}

    assert got[1]["n_paras"] == 3 and got[1]["n_kept"] == 2
    assert got[2]["n_paras"] == 2 and got[2]["n_kept"] == 1
    assert got[3]["n_paras"] == 2 and got[3]["n_kept"] == 2

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    # doc 1 keeps [boiler, a...] in order; doc 2 keeps only its unique
    assert got[1]["dedup_md5"] == md5(boiler + "\n" + u("a"))
    assert got[2]["dedup_md5"] == md5(u("c"))
    assert got[3]["dedup_md5"] == md5(u("d") + "\n" + "tail1 tail2")


def test_gapfill_locf_on_planted_gaps(spark):
    """Dense spine + LOCF + islands, pinned on a hand-built series:
    type 'a' observes buckets {0, 3, 4, 7} of an 8-bucket range (gap
    runs [1,2] and [5,6]); type 'b' has no gaps at all."""
    import datetime as dt

    from bitcoin_datawarehouse_spark.operators.gapfill import (
        BUCKET_S,
        dense_locf_frame,
    )

    t0 = dt.datetime(2024, 1, 1)
    mk = lambda et, idx, n: [
        (et, t0 + dt.timedelta(seconds=idx * BUCKET_S + 5 * j))
        for j in range(n)
    ]
    rows = (
        mk("a", 0, 3) + mk("a", 3, 1) + mk("a", 4, 2) + mk("a", 7, 1)
        + mk("b", 0, 1) + mk("b", 1, 2)
    )
    e = spark.createDataFrame(rows, "event_type string, ts timestamp")
    dense = dense_locf_frame(e).collect()

    a = sorted((r for r in dense if r["event_type"] == "a"),
               key=lambda r: r["b"])
    assert [r["n_events"] for r in a] == [3, 3, 3, 1, 2, 2, 2, 1]
    assert [r["filled"] for r in a] == [
        False, True, True, False, False, True, True, False]
    b = sorted((r for r in dense if r["event_type"] == "b"),
               key=lambda r: r["b"])
    assert [(r["n_events"], r["filled"]) for r in b] == [
        (1, False), (2, False)]

    # islands over the same frame: two runs for 'a' (len 2 and 2)
    from pyspark.sql import Window as W, functions as F

    seq = W.partitionBy("event_type").orderBy("b")
    gaps = (
        dense_locf_frame(e)
        .where("filled")
        .select(
            "event_type",
            ((F.col("b") / BUCKET_S).cast("long")
             - F.row_number().over(seq)).alias("grp"),
        )
    )
    runs = gaps.groupBy("event_type", "grp").count().collect()
    a_runs = sorted(r["count"] for r in runs if r["event_type"] == "a")
    assert a_runs == [2, 2]
    assert not [r for r in runs if r["event_type"] == "b"]


def test_er_clusters_finer_than_blocks_and_pairs_scored(spark):
    """ER invariants at sf0.001: the distance-1 entity clustering is
    strictly FINER than the nation blocking (transitivity over a tight
    threshold yields entities, not blocks), every canonical id is its
    cluster's min member, and pair scores respect the threshold."""
    from bitcoin_datawarehouse_spark.operators.er import (
        ER_PAIR_MAX_DIST,
        er_entity_clusters,
        er_fuzzy_name_pairs,
    )
    from tests.conftest import SF_SMALL

    pairs = er_fuzzy_name_pairs(spark, SF_SMALL).collect()
    assert pairs and all(r["dist"] <= ER_PAIR_MAX_DIST for r in pairs)
    assert all(r["custkey_a"] < r["custkey_b"] for r in pairs)

    labels = er_entity_clusters(spark, SF_SMALL).collect()
    assert len(labels) == 150
    by_entity = {}
    for r in labels:
        by_entity.setdefault(r["entity_id"], []).append(r)
    # finer than the 25 nation blocks, but not all singletons
    assert 25 < len(by_entity) < 150
    for eid, members in by_entity.items():
        keys = sorted(m["c_custkey"] for m in members)
        assert eid == keys[0]
        assert [m for m in members if m["is_canonical"]] == [
            m for m in members if m["c_custkey"] == keys[0]
        ]


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_er_passjoin_equals_naive_and_catches_indels(spark):
    """The PassJoin candidate plan is exactly the naive blocked join's
    output at SF_SMALL, and — the part the fixture can't exercise with
    its fixed-width names — shifted probe windows recover pairs whose
    edits are INSERT/DELETE (segment positions shift by the net indel
    count), verified against a brute-force Levenshtein DP."""
    from bitcoin_datawarehouse_spark.operators.er import (
        ER_PAIR_MAX_DIST,
        er_fuzzy_name_pairs,
        er_fuzzy_name_pairs_passjoin,
        er_fuzzy_pairs_passjoin_frame,
    )
    from tests.conftest import SF_SMALL

    naive = sorted(
        tuple(r) for r in er_fuzzy_name_pairs(spark, SF_SMALL).collect()
    )
    pj = sorted(
        tuple(r)
        for r in er_fuzzy_name_pairs_passjoin(spark, SF_SMALL).collect()
    )
    assert naive and pj == naive

    # planted indel corpus: same entity under dropped / doubled chars
    # (lengths differ, so every true pair here crosses a length edit);
    # plus same-length sub pairs in each segment and far-apart decoys
    base = "Customer#000004711"
    names = [
        base,                      # 1: reference
        base[:9] + base[10:],      # 2: one digit deleted  (dist 1)
        base[:9] + "00" + base[9:],  # 3: two inserted       (dist 2)
        base.replace("C", "K", 1),   # 4: sub in segment 0   (dist 1)
        base[:8] + "X" + base[9:],   # 5: sub in segment 1   (dist 1)
        base[:17] + "9",             # 6: sub in segment 2   (dist 1)
        "Supplier#000004711",        # 7: decoy (dist > 2)
        base[:6] + base[8:],         # 8: two deleted        (dist 2)
    ]
    rows = [(i + 1, n, 0) for i, n in enumerate(names)]
    c = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey long"
    )
    got = {
        (r["custkey_a"], r["custkey_b"], r["dist"])
        for r in er_fuzzy_pairs_passjoin_frame(
            c, ER_PAIR_MAX_DIST
        ).collect()
    }
    want = {
        (ka, kb, _lev(na, nb))
        for ka, na, _ in rows
        for kb, nb, _ in rows
        if ka < kb and _lev(na, nb) <= ER_PAIR_MAX_DIST
    }
    assert got == want
    # the indel pairs specifically are present (1,2), (1,3), (1,8)
    assert {(1, 2), (1, 3), (1, 8)} <= {(a, b) for a, b, _ in want}


def test_numeric_correlation_bounds_and_counts(spark):
    """Hash gate proves cross-engine equality; this pins the math is a
    real correlation: values in [-1, 1], group counts partition the
    table, and quantity⊥price in TPC-H-ish data is near zero."""
    from bitcoin_datawarehouse_spark.operators.profiling import (
        profile_numeric_correlation,
    )
    from bitcoin_datawarehouse_spark.tables import load_table
    from tests.conftest import SF_SMALL

    rows = profile_numeric_correlation(spark, SF_SMALL).collect()
    assert len(rows) == 3
    assert all(abs(r["corr_qty_price"]) <= 1.0 for r in rows)
    assert sum(r["n_rows"] for r in rows) == load_table(
        spark, SF_SMALL, "lineitem"
    ).count()
    # price = quantity × unit price with independent draws — weakly
    # positive by construction, far from degenerate ±1
    assert all(-0.5 < r["corr_qty_price"] < 0.9 for r in rows)


def test_cdc_snapshot_diff_classifies_and_apply_roundtrips(spark):
    """Planted snapshots cover every op class (insert, delete,
    update-one-col, update-both, NULL→value, value→NULL, unchanged);
    apply_changes(old, diff) must reproduce new EXACTLY."""
    from bitcoin_datawarehouse_spark.operators.cdc import (
        apply_changes,
        snapshot_diff,
    )

    schema = "k long, price double, status string"
    old = spark.createDataFrame(
        [
            (1, 10.0, "A"),   # unchanged
            (2, 20.0, "B"),   # price update
            (3, 30.0, "C"),   # both-column update
            (4, 40.0, None),  # NULL -> value (update)
            (5, 50.0, "E"),   # value -> NULL (update)
            (6, 60.0, "F"),   # deleted
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, 21.0, "B"),
            (3, 31.0, "D"),
            (4, 40.0, "X"),
            (5, 50.0, None),
            (7, 70.0, "G"),   # inserted
        ],
        schema,
    )
    diff = snapshot_diff(old, new, ["k"], ["price", "status"])
    got = {r["k"]: r["op"] for r in diff.collect()}
    assert got == {
        2: "update",
        3: "update",
        4: "update",
        5: "update",
        6: "delete",
        7: "insert",
    }
    replayed = apply_changes(old, diff, ["k"], ["price", "status"])
    assert sorted(map(tuple, replayed.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_cdc_snapshot_diff_query_partitions_key_space(spark):
    """On the fixture derivation: keys ≡3 (mod 10) are exactly the
    inserts, ≡7 the deletes, and every update really differs."""
    from bitcoin_datawarehouse_spark.operators.cdc import cdc_snapshot_diff
    from tests.conftest import SF_SMALL

    rows = cdc_snapshot_diff(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        if r["op"] == "insert":
            assert r["o_orderkey"] % 10 == 3
            assert r["old_o_totalprice"] is None
        elif r["op"] == "delete":
            assert r["o_orderkey"] % 10 == 7
            assert r["new_o_totalprice"] is None
        else:
            assert r["op"] == "update"
            assert (
                r["old_o_totalprice"] != r["new_o_totalprice"]
                or r["old_o_orderstatus"] != r["new_o_orderstatus"]
            )


def test_trainprep_weighted_sample_matches_python_reimplementation(spark):
    """The kept set is a pure function of (doc_id, length, Σw): an
    independent hashlib/IEEE reimplementation must select the IDENTICAL
    documents — the determinism claim, verified outside both engines."""
    import hashlib

    from bitcoin_datawarehouse_spark.operators.trainprep import (
        WEIGHTED_SAMPLE_K,
        trainprep_weighted_sample,
    )
    from bitcoin_datawarehouse_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "text"
    )
    weights = {
        r["doc_id"]: len(r["text"]) for r in docs.collect()
    }
    sw = float(sum(weights.values()))
    expected = set()
    for doc_id, w in weights.items():
        u = (
            int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
            / 4294967296.0
        )
        if u < min(1.0, WEIGHTED_SAMPLE_K * float(w) / sw):
            expected.add(doc_id)
    got = trainprep_weighted_sample(spark, SF_SMALL).collect()
    assert {r["doc_id"] for r in got} == expected
    # expected-size contract: within 4 sigma of K (binomial bound)
    assert abs(len(got) - WEIGHTED_SAMPLE_K) < 4 * WEIGHTED_SAMPLE_K**0.5
    assert all(0.0 < r["incl_p"] <= 1.0 for r in got)


def test_rolling_zscore_matches_numpy_reference(spark):
    """The rolling z-score against an independent numpy sliding-window
    computation at the exposed 6-dp surface, including the degenerate
    frames (n = 1 → z = 0) at each user's head."""
    import numpy as np

    from bitcoin_datawarehouse_spark.operators.window_extra import (
        ZSCORE_WINDOW_ROWS,
        events_rolling_zscore,
    )
    from bitcoin_datawarehouse_spark.tables import load_table

    rows = events_rolling_zscore(spark, SF_SMALL).collect()
    ev = sorted(
        (
            (r["user_id"], int(r["ts"].timestamp() * 1000), r["event_id"], r["value"])
            for r in load_table(spark, SF_SMALL, "events").select(
                "user_id", "ts", "event_id", "value"
            ).collect()
        )
    )
    by_user: dict[int, list] = {}
    for u, t, e, v in ev:
        by_user.setdefault(u, []).append((t, e, v))
    want = {}
    for u, seq in by_user.items():
        vals = [v for _, _, v in seq]
        for i, (t, e, v) in enumerate(seq):
            frame = np.array(vals[max(0, i - ZSCORE_WINDOW_ROWS + 1) : i + 1])
            mean = frame.mean()
            std = frame.std()  # population std — matches Σx²/n − mean²
            z = (v - mean) / std if std > 0 else 0.0
            want[e] = (mean, z)
    assert len(rows) == len(want)
    for r in rows:
        mean, z = want[r["event_id"]]
        assert abs(r["rolling_mean"] - mean) < 1e-5, r["event_id"]
        assert abs(r["zscore"] - z) < 1e-4, (r["event_id"], r["zscore"], z)
    # first event of every user is a degenerate frame → z exactly 0
    heads = {seq[0][1] for seq in by_user.values()}
    for r in rows:
        if r["event_id"] in heads:
            assert r["zscore"] == 0.0


def test_minhash_estimate_error_matches_python_reference(spark):
    """The sketch-calibration harness against a from-scratch python
    MinHash (md5-seeded mins, band keys, agreement counts, exact
    shingle Jaccard): identical candidate pairs, identical agreement
    counts, exact error arithmetic, and the estimator's theoretical
    accuracy actually holds on the fixture."""
    import hashlib
    import re

    from bitcoin_datawarehouse_spark.operators.dedup import (
        MINHASH_BAND_SIZE,
        MINHASH_SEEDS,
    )
    from bitcoin_datawarehouse_spark.registry import QUERIES
    from bitcoin_datawarehouse_spark.tables import load_table

    pat = re.compile("[^a-z0-9]+")
    shingles = {}
    for r in load_table(spark, SF_SMALL, "documents").collect():
        tk = [t for t in pat.split(r["text"].lower()) if t]
        ss = {
            f"{tk[i]} {tk[i + 1]} {tk[i + 2]}" for i in range(len(tk) - 2)
        }
        if ss:
            shingles[r["doc_id"]] = ss
    sig = {
        d: [
            min(hashlib.md5(f"{k}:{s}".encode()).hexdigest() for s in ss)
            for k in range(MINHASH_SEEDS)
        ]
        for d, ss in shingles.items()
    }
    buckets: dict[tuple, set] = {}
    nb = MINHASH_SEEDS // MINHASH_BAND_SIZE
    for d, mins in sig.items():
        for b in range(nb):
            key = (b, ",".join(mins[b * 3 : b * 3 + 3]))
            buckets.setdefault(key, set()).add(d)
    cands = set()
    for ds in buckets.values():
        for x in ds:
            for y in ds:
                if x < y:
                    cands.add((x, y))
    want = {}
    for a, b in cands:
        agree = sum(1 for x, y in zip(sig[a], sig[b]) if x == y)
        inter = len(shingles[a] & shingles[b])
        jac = inter / (len(shingles[a]) + len(shingles[b]) - inter)
        want[(a, b)] = (agree, jac)

    rows = QUERIES["dedup_minhash_estimate_error"](
        spark, SF_SMALL
    ).collect()
    got = {(r["doc_a"], r["doc_b"]): r for r in rows}
    assert set(got) == set(want)
    errs = []
    for k, (agree, jac) in want.items():
        r = got[k]
        assert r["n_agree"] == agree, k
        assert r["jaccard"] == jac, k
        assert r["jaccard_est"] == agree / MINHASH_SEEDS, k
        assert r["abs_err"] == abs(agree / MINHASH_SEEDS - jac), k
        errs.append(r["abs_err"])
    mean = sum(errs) / len(errs)
    assert abs(rows[0]["mean_abs_err"] - mean) < 1e-6
    # 12 permutations: E|err| ≲ √(J(1-J)/12) ≤ 0.145 — the fixture's
    # candidate pairs (high-J by LSH construction) should sit under it
    assert mean < 0.2, mean


def test_ivf_recall_matches_python_set_intersection(spark):
    """The recall harness against the obvious python computation over
    the two registered topk results: per-query hit counts are the set
    intersections, recall bounded (0, 1], and the mean is the exact
    hit ratio."""
    from bitcoin_datawarehouse_spark.registry import QUERIES

    bf = {}
    for r in QUERIES["similarity_bruteforce_topk"](spark, SF_SMALL).collect():
        bf.setdefault(r["query_id"], set()).add(r["cand_id"])
    ivf = {}
    for r in QUERIES["similarity_ivf_topk"](spark, SF_SMALL).collect():
        ivf.setdefault(r["query_id"], set()).add(r["cand_id"])
    want = {q: len(c & ivf.get(q, set())) for q, c in bf.items()}
    total = sum(want.values())
    k = len(next(iter(bf.values())))

    rows = QUERIES["similarity_ivf_recall"](spark, SF_SMALL).collect()
    assert {r["query_id"]: r["hits"] for r in rows} == want
    for r in rows:
        assert r["recall_at_k"] == want[r["query_id"]] / k
        assert r["mean_recall"] == total / (len(bf) * k)
        assert 0.0 <= r["recall_at_k"] <= 1.0
    # the IVF tier should be genuinely lossy-but-useful on the fixture
    assert 0.0 < rows[0]["mean_recall"] <= 1.0


def test_bm25_matches_independent_python_reference(spark):
    """text_bm25_topk against a from-scratch python BM25 over the
    collected corpus (Okapi + Lucene idf, same 6-dp per-term rounding
    spec): identical top-20 doc ids in order, scores equal to the
    decimal-sum surface within float-parse noise."""
    import math
    import re

    from bitcoin_datawarehouse_spark.operators.bm25 import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOP_K,
    )
    from bitcoin_datawarehouse_spark.registry import QUERIES
    from bitcoin_datawarehouse_spark.tables import load_table

    pat = re.compile("[^a-z0-9]+")
    docs = {
        r["doc_id"]: [t for t in pat.split(r["text"].lower()) if t]
        for r in load_table(spark, SF_SMALL, "documents").collect()
    }
    n = len(docs)
    avgdl = sum(len(tk) for tk in docs.values()) / n
    df = {
        t: sum(1 for tk in docs.values() if t in tk) for t in BM25_TERMS
    }
    scores = {}
    for did, tk in docs.items():
        s = 0.0
        for t in BM25_TERMS:
            tf = tk.count(t)
            if tf == 0:
                continue
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            w = idf * (tf * (BM25_K1 + 1)) / (
                tf + BM25_K1 * (1 - BM25_B + BM25_B * len(tk) / avgdl)
            )
            s += round(w, 6)
        if s:
            scores[did] = s
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[
        :BM25_TOP_K
    ]

    got = QUERIES["text_bm25_topk"](spark, SF_SMALL).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert abs(r["bm25"] - s) < 1e-9, (r["doc_id"], r["bm25"], s)
        assert r["doc_len"] == len(docs[r["doc_id"]])


def test_profile_drift_psi_matches_numpy_reference(spark):
    """PSI's numeric contract, independent of the oracle: per-bucket
    terms and the total must agree with a numpy computation of the
    same add-half-smoothed formula over counts DuckDB produced from
    the raw parquet.  Since round 8 the exposed terms are 6-dp-rounded
    (the BM25 transcendental precedent that upgraded PSI to the full
    hash gate), so the tolerance is the half-step 5e-7 plus ln's
    cross-library last-ulp wiggle."""
    import numpy as np

    from bitcoin_datawarehouse_spark.registry import QUERIES

    con = duckdb.connect()
    counts = con.execute(
        f"""
        WITH ref AS (
          SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS b,
                 COUNT(*) AS n
          FROM '{SF_SMALL}/orders.parquet'
          WHERE o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1),
        cur AS (
          SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS b,
                 COUNT(*) AS n
          FROM '{SF_SMALL}/orders.parquet'
          WHERE o_orderdate >= TIMESTAMP '1997-01-01' GROUP BY 1)
        SELECT COALESCE(r.b, c.b) AS b,
               COALESCE(r.n, 0) AS nr, COALESCE(c.n, 0) AS nc
        FROM ref r FULL OUTER JOIN cur c ON r.b = c.b
        """
    ).fetchall()
    b = np.array([r[0] for r in counts])
    nr = np.array([r[1] for r in counts], dtype=np.float64)
    nc = np.array([r[2] for r in counts], dtype=np.float64)
    nb = float(len(b))
    p_ref = (nr + 0.5) / (nr.sum() + nb / 2)
    p_cur = (nc + 0.5) / (nc.sum() + nb / 2)
    terms = (p_cur - p_ref) * np.log(p_cur / p_ref)
    want = {int(k): float(t) for k, t in zip(b, terms)}
    total = float(terms.sum())

    rows = QUERIES["profile_drift_psi"](spark, SF_SMALL).collect()
    assert {r["bucket"] for r in rows} == set(want)
    # exposed terms are ROUND(·, 6): half-step bound per term, and the
    # total accumulates one half-step per bucket
    for r in rows:
        w = want[r["bucket"]]
        assert abs(r["psi_term"] - w) <= 5.1e-7, (
            r["bucket"], r["psi_term"], w,
        )
        assert abs(r["psi_total"] - total) <= 5.1e-7 * len(rows)
    # every term is non-negative only when mass moves; the TOTAL is
    # always >= 0 for smoothed distributions (Gibbs' inequality form)
    assert total >= 0.0 and rows[0]["psi_total"] >= 0.0


def test_profile_group_trend_matches_numpy_least_squares(spark):
    """Slope/intercept/R² agree with numpy's independent least-squares
    on the collected points, per group, at the exposed 6-dp surface."""
    import numpy as np

    from bitcoin_datawarehouse_spark.operators.profiling import (
        profile_group_trend,
    )
    from bitcoin_datawarehouse_spark.tables import load_table
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMALL

    pts = (
        load_table(spark, SF_SMALL, "orders")
        .select(
            "o_orderpriority",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1995-01-01")
            ).cast("double").alias("x"),
            F.col("o_totalprice").alias("y"),
        )
        .collect()
    )
    by_group: dict[str, list[tuple[float, float]]] = {}
    for r in pts:
        by_group.setdefault(r["o_orderpriority"], []).append(
            (r["x"], r["y"])
        )
    rows = {
        r["o_orderpriority"]: r
        for r in profile_group_trend(spark, SF_SMALL).collect()
    }
    assert set(rows) == set(by_group)
    for g, xy in by_group.items():
        x = np.array([p[0] for p in xy])
        y = np.array([p[1] for p in xy])
        slope, intercept = np.polyfit(x, y, 1)
        pred = slope * x + intercept
        ss_res = float(((y - pred) ** 2).sum())
        ss_tot = float(((y - y.mean()) ** 2).sum())
        r2 = 1.0 - ss_res / ss_tot
        assert rows[g]["n_rows"] == len(xy)
        assert abs(rows[g]["slope_per_day"] - slope) < 5e-6
        assert abs(rows[g]["intercept"] - intercept) < 5e-6
        assert abs(rows[g]["r2"] - r2) < 5e-6
        assert 0.0 <= rows[g]["r2"] <= 1.0


def test_pagerank_matches_numpy_power_iteration(spark):
    """The hash gate proves engine parity; this pins the math — an
    independent numpy power iteration over the same transition graph
    reproduces every rank at the exposed 6-dp surface, and total mass
    is conserved (no dangling nodes in the fixture graph)."""
    import numpy as np

    from bitcoin_datawarehouse_spark.operators.pagerank import (
        PR_ITERS,
        graph_pagerank_event_transitions,
    )
    from bitcoin_datawarehouse_spark.tables import load_table
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w_user).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .count()
        .collect()
    )
    nodes = sorted({r["src"] for r in edges} | {r["dst"] for r in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    m = np.zeros((n, n))
    for r in edges:
        m[idx[r["dst"]], idx[r["src"]]] += r["count"]
    outw = m.sum(axis=0)
    assert (outw > 0).all(), "fixture graph must have no dangling nodes"
    p = np.full(n, 1.0 / n)
    for _ in range(PR_ITERS):
        p = 0.15 / n + 0.85 * (m / outw) @ p
    got = {
        r["node"]: r["pagerank"]
        for r in graph_pagerank_event_transitions(spark, SF_SMALL).collect()
    }
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - p[idx[v]]) < 5e-6, (v, got[v], p[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 5e-6


def test_affinity_brand_pairs_matches_python_reimplementation(spark):
    """Exact pair counts, marginals, and lift recomputed independently
    in python from the raw basket contents at SF_SMALL."""
    from collections import Counter
    from itertools import combinations

    from bitcoin_datawarehouse_spark.operators.affinity import (
        AFFINITY_MIN_SUPPORT,
        affinity_brand_pairs,
    )
    from bitcoin_datawarehouse_spark.tables import load_table
    from tests.conftest import SF_SMALL

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = {
        r["p_partkey"]: r["p_brand"]
        for r in load_table(spark, SF_SMALL, "part").collect()
    }
    baskets: dict[int, set[str]] = {}
    for r in li.collect():
        baskets.setdefault(r["l_orderkey"], set()).add(
            part[r["l_partkey"]]
        )
    n_orders = len(baskets)
    marg = Counter(b for s in baskets.values() for b in s)
    both = Counter(
        pair
        for s in baskets.values()
        for pair in combinations(sorted(s), 2)
    )
    want = {
        (a, b): (
            n,
            marg[a],
            marg[b],
            round(n * n_orders / (marg[a] * marg[b]), 6),
        )
        for (a, b), n in both.items()
        if n >= AFFINITY_MIN_SUPPORT
    }
    got = {
        (r["brand_a"], r["brand_b"]): (
            r["n_both"],
            r["n_a"],
            r["n_b"],
            r["lift"],
        )
        for r in affinity_brand_pairs(spark, SF_SMALL).collect()
    }
    assert set(got) == set(want) and want
    for k, (n, na, nb, lift) in want.items():
        gn, gna, gnb, glift = got[k]
        assert (gn, gna, gnb) == (n, na, nb), k
        assert abs(glift - lift) < 2e-6, (k, glift, lift)


def test_tpch_q13_keeps_zero_order_customers_and_q21_semantics(spark):
    """Q13's defining subtlety: the priority exclusion lives in the
    JOIN CONDITION, so customers with no qualifying orders land in the
    c_count=0 bucket instead of vanishing — custdist must partition
    the customer table exactly.  Q4's semi join must never count an
    order twice however many lines ship late."""
    from bitcoin_datawarehouse_spark.operators.tpch_extra import (
        tpch_q4_priority_check,
        tpch_q13_customer_distribution,
    )
    from bitcoin_datawarehouse_spark.tables import load_table
    from tests.conftest import SF_SMALL

    dist = {
        r["c_count"]: r["custdist"]
        for r in tpch_q13_customer_distribution(spark, SF_SMALL).collect()
    }
    n_cust = load_table(spark, SF_SMALL, "customer").count()
    assert sum(dist.values()) == n_cust
    # independent python recompute, including the zero bucket (the
    # fixture is dense enough that every customer has orders, so the
    # partition-sum above plus this exact histogram pin the LEFT-OUTER
    # semantics the query exists for)
    from collections import Counter

    per_cust = Counter(
        r["o_custkey"]
        for r in load_table(spark, SF_SMALL, "orders")
        .where("o_orderpriority <> '1-URGENT'")
        .collect()
    )
    custkeys = [
        r["c_custkey"]
        for r in load_table(spark, SF_SMALL, "customer").collect()
    ]
    want = Counter(per_cust.get(k, 0) for k in custkeys)
    assert dist == dict(want)

    q4 = {
        r["o_orderpriority"]: r["order_count"]
        for r in tpch_q4_priority_check(spark, SF_SMALL).collect()
    }
    o = load_table(spark, SF_SMALL, "orders")
    from pyspark.sql import functions as F

    window_orders = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).count()
    assert 0 < sum(q4.values()) <= window_orders


def test_profile_key_skew_bounds_and_row_conservation(spark):
    """Hash gate proves engine parity; this pins the math: shares are
    ordered and bounded, and the Herfindahl index sits between its
    uniform lower bound (1/n_keys) and its max-share upper bound
    (Σs² ≤ top1·Σs = top1)."""
    from bitcoin_datawarehouse_spark.operators.profiling import (
        profile_key_skew,
    )
    from bitcoin_datawarehouse_spark.tables import load_table
    from tests.conftest import SF_SMALL

    rows = profile_key_skew(spark, SF_SMALL).collect()
    n_orders = load_table(spark, SF_SMALL, "orders").count()
    assert {r["keycol"] for r in rows} == {"o_custkey", "o_orderpriority"}
    for r in rows:
        assert r["n_rows"] == n_orders
        assert 0 < r["top1_share"] <= r["top10_share"] <= 1.0
        assert (
            1.0 / r["n_keys"] - 2e-6
            <= r["hhi"]
            <= r["top1_share"] + 2e-6
        )
    by = {r["keycol"]: r for r in rows}
    # the 5-value priority key is massively more concentrated than
    # the customer key — the diagnostic must rank them accordingly
    assert by["o_orderpriority"]["hhi"] > 10 * by["o_custkey"]["hhi"]


def test_equidepth_hist_is_equal_depth_with_monotone_edges(spark):
    """The defining properties: bin sizes differ by at most 1, edges
    are monotone (bin k's hi <= bin k+1's lo), shares sum to 1, and
    counts partition the table."""
    from bitcoin_datawarehouse_spark.operators.profiling import (
        EQUIDEPTH_BINS,
        profile_equidepth_hist,
    )
    from bitcoin_datawarehouse_spark.tables import load_table
    from tests.conftest import SF_SMALL

    rows = sorted(
        profile_equidepth_hist(spark, SF_SMALL).collect(),
        key=lambda r: r["bin"],
    )
    n = load_table(spark, SF_SMALL, "orders").count()
    assert [r["bin"] for r in rows] == list(range(1, EQUIDEPTH_BINS + 1))
    sizes = [r["n_rows"] for r in rows]
    assert sum(sizes) == n
    assert max(sizes) - min(sizes) <= 1
    for a, b in zip(rows, rows[1:]):
        assert a["lo"] <= a["hi"] <= b["lo"] <= b["hi"]
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-5


def test_events_twap_matches_python_and_resists_burst_skew(
    spark, tmp_path
):
    """Planted series: value 10 held for 9 days, then a burst of 100
    samples at value 1000 within one minute at the window's end.  A
    plain AVG is dragged to ~990 by the burst; TWAP must stay ~10
    (the burst holds for only a minute).  Also pins the pre-window
    sample's carry-in and an exact python recomputation."""
    import datetime

    from bitcoin_datawarehouse_spark.operators.gapfill import (
        TWAP_T0,
        TWAP_T1,
        events_twap,
    )
    from tests.conftest import SF_SMALL

    fixture = {
        r["user_id"]: r
        for r in events_twap(spark, SF_SMALL).collect()
    }
    assert fixture
    for r in fixture.values():
        assert 0 < r["held_ms"] <= (
            (
                datetime.datetime.fromisoformat(TWAP_T1)
                - datetime.datetime.fromisoformat(TWAP_T0)
            ).total_seconds()
            * 1000
        )
        assert 0.0 < r["twap"] < 500.0  # value domain of the fixture

    # planted: user 1 = pre-window sample at value 10 (carry-in),
    # then a 1-minute burst of value 1000 at the end of the window
    # tz-AWARE UTC datetimes: naive ones route through time.mktime in
    # the HOST timezone while the window literals parse in the pinned
    # UTC session — on a non-UTC host the planted burst would shift
    # out of the window (review-caught)
    utc = datetime.timezone.utc
    t0 = datetime.datetime.fromisoformat(TWAP_T0).replace(tzinfo=utc)
    t1 = datetime.datetime.fromisoformat(TWAP_T1).replace(tzinfo=utc)
    rows = [(1, t0 - datetime.timedelta(days=1), 100, "view", 10.0, "{}")]
    burst_start = t1 - datetime.timedelta(minutes=1)
    for i in range(100):
        rows.append(
            (
                1,
                burst_start + datetime.timedelta(microseconds=1000 * i),
                200 + i,
                "view",
                1000.0,
                "{}",
            )
        )
    ev = spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, event_id long, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path)
    ev.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = events_twap(spark, d).collect()
    assert len(got) == 1
    r = got[0]
    window_ms = (t1 - t0).total_seconds() * 1000
    burst_ms = 60_000
    want = (10.0 * (window_ms - burst_ms) + 1000.0 * burst_ms) / window_ms
    assert abs(r["twap"] - want) < 1e-4, (r["twap"], want)
    assert r["twap"] < 15.0  # the burst barely moves it
    assert r["held_ms"] == window_ms


def test_chunk_windows_reconstruct_documents(spark):
    """Chunk offsets must tile every document exactly: per doc the
    starts are 0, stride, 2·stride, …; each chunk's text is the
    corresponding token slice; and splicing each chunk's FIRST stride
    tokens (whole final chunk) reconstructs the full token sequence."""
    import re

    from bitcoin_datawarehouse_spark.operators.text_stats import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )
    from bitcoin_datawarehouse_spark.tables import load_table

    pat = re.compile("[^a-z0-9]+")
    docs = {
        r["doc_id"]: [t for t in pat.split(r["text"].lower()) if t]
        for r in load_table(spark, SF_SMALL, "documents").collect()
    }
    rows = QUERIES["text_chunk_windows"](spark, SF_SMALL).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {d for d, tk in docs.items() if tk}
    for did, chunks in by_doc.items():
        tk = docs[did]
        chunks.sort(key=lambda r: r["chunk_ix"])
        rebuilt: list[str] = []
        for i, c in enumerate(chunks):
            assert c["chunk_ix"] == i
            assert c["start_tok"] == i * CHUNK_STRIDE
            want_n = min(CHUNK_TOKENS, len(tk) - c["start_tok"])
            assert c["n_tok"] == want_n
            toks = c["chunk_text"].split(" ")
            assert toks == tk[c["start_tok"] : c["start_tok"] + want_n]
            last = i == len(chunks) - 1
            rebuilt.extend(toks if last else toks[:CHUNK_STRIDE])
        assert rebuilt == tk, did


def test_length_batches_invariants(spark):
    """Batch-planning invariants: every doc sits in the smallest
    ceiling bucket >= its length; batches hold <= LENGTH_BATCH_SIZE
    docs from ONE bucket; batch_max is the true member max; within a
    bucket every batch except the last is FULL and batch indices are
    contiguous from 0 (the padding-waste accounting depends on all of
    these)."""
    from collections import defaultdict

    from bitcoin_datawarehouse_spark.operators.trainprep import (
        LENGTH_BATCH_SIZE,
        LENGTH_BUCKETS,
    )

    rows = QUERIES["trainprep_length_batches"](spark, SF_SMALL).collect()
    assert rows
    batches = defaultdict(list)
    for r in rows:
        want_bucket = next(b for b in LENGTH_BUCKETS if r["n_tok"] <= b)
        assert r["bucket"] == want_bucket
        assert r["pad_waste"] == r["batch_max"] - r["n_tok"] >= 0
        batches[(r["bucket"], r["batch_ix"])].append(r)
    per_bucket = defaultdict(list)
    for (bucket, ix), members in batches.items():
        assert 1 <= len(members) <= LENGTH_BATCH_SIZE
        assert max(m["n_tok"] for m in members) == members[0]["batch_max"]
        per_bucket[bucket].append((ix, len(members)))
    for bucket, ixs in per_bucket.items():
        ixs.sort()
        assert [i for i, _ in ixs] == list(range(len(ixs)))
        for i, sz in ixs[:-1]:
            assert sz == LENGTH_BATCH_SIZE, (bucket, i)


def test_seed_selection_is_rank_based_on_strided_ids(spark):
    """The PQ codebook seed and the brute-force query workload must
    select BY RANK of vec_id, not a ``vec_id < K`` value window:
    scaled fixtures (gen_sf) stride copied ids by powers of ten, so a
    value window silently shrinks — or empties — the selected set
    (the r7 semdedup coarse-router bug class; r9 VERDICT item 4)."""
    from bitcoin_datawarehouse_spark.operators.pq import (
        PQ_K,
        PQ_M,
        PQ_SUB_DIM,
        _collect_subcodebooks,
    )

    n = 40
    stride = 10  # ids 0, 10, 20, ... — only 2 fall under `< PQ_K`
    rows = [
        (i * stride, [float((i + j) % 7) + 0.25 for j in range(64)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, e array<double>")
    cb = _collect_subcodebooks(emb)
    assert cb.shape == (PQ_M, PQ_K, PQ_SUB_DIM)
    # built from the PQ_K smallest ids (rank selection), row-ordered
    import numpy as np

    want = np.array(
        [rows[i][1] for i in range(PQ_K)], dtype=np.float64
    )
    got = np.concatenate([cb[m] for m in range(PQ_M)], axis=1)
    assert np.array_equal(got, want)
