"""Skew-utility equivalence tests + property-based merge tests.

The salted rewrites must be semantically identical to their plain
forms; the loader's incremental merge must match a reference model
(a plain dict, last-write-wins per key) under arbitrary batch
sequences — hypothesis drives the batch shapes.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.functions.skew import (
    salted_agg_sum,
    salted_join,
)
from bitcoin_datawarehouse_spark.pipeline import Loader, Warehouse, rows_to_df
from bitcoin_datawarehouse_spark.tables import load_table
from tests.conftest import SF_SMALL


def test_salted_agg_matches_plain(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    val = F.col("l_quantity").cast("decimal(38,10)")
    plain = {
        r["l_suppkey"]: r["s"]
        for r in li.groupBy("l_suppkey").agg(F.sum(val).alias("s")).collect()
    }
    salted = {
        r["l_suppkey"]: r["s"]
        for r in salted_agg_sum(
            li, "l_suppkey", val, "s", n_salts=8,
            salt_by=["l_orderkey", "l_linenumber"],
        ).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark):
    orders = load_table(spark, SF_SMALL, "orders")
    cust = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = (
        orders.join(cust, "o_custkey")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
    )
    salted = (
        salted_join(orders, cust, "o_custkey", n_salts=8)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
    )
    a = {r["o_custkey"]: r["n"] for r in plain.collect()}
    b = {r["o_custkey"]: r["n"] for r in salted.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# property-based merge correctness
# ---------------------------------------------------------------------------

batch_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # key (small range → conflicts)
        st.integers(min_value=-100, max_value=100),  # payload value
    ),
    min_size=0,
    max_size=8,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(batch_strategy, min_size=1, max_size=3))
def test_merge_matches_model(spark, tmp_path_factory, batches):
    """Sequential incremental merges == dict model (last batch wins per
    key; within a batch, the row with the highest order stamp wins)."""
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    ld = Loader(wh, "s", "t")
    model: dict[int, int] = {}
    for batch in batches:
        rows = [
            {"k": k, "v": v, "ord": i} for i, (k, v) in enumerate(batch)
        ]
        if not rows:
            continue
        # model: last occurrence (max ord) per key wins
        for r in rows:
            model[r["k"]] = r["v"]
        ld.load_incremental(
            rows_to_df(spark, rows), unique_keys=["k"], order_col="ord"
        )
    if model:
        got = {r["k"]: r["v"] for r in wh.read("s", "t").collect()}
        assert got == model
    else:
        assert ld.get_record_count() == 0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(batch_strategy, min_size=1, max_size=3))
def test_scd2_matches_model(spark, tmp_path_factory, batches):
    """Sequential SCD2 loads == a history model: per key, each value
    CHANGE closes the open version at the batch date and opens a new
    one; same-value re-delivery is a no-op; within a batch the last
    occurrence (max ord) wins."""
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    ld = Loader(wh, "s", "d")
    model: dict[int, list[list]] = {}  # key -> [[v, from, to], ...]
    loaded = False
    for i, batch in enumerate(batches):
        ts = f"2024-01-{i + 1:02d}"
        rows = [
            {"k": k, "v": v, "ord": j} for j, (k, v) in enumerate(batch)
        ]
        if not rows:
            continue
        loaded = True
        last = {r["k"]: r["v"] for r in rows}  # max-ord occurrence wins
        for k, v in last.items():
            if k not in model:
                model[k] = [[v, ts, None]]
            else:
                cur = model[k][-1]
                if cur[0] != v:
                    cur[2] = ts
                    model[k].append([v, ts, None])
        ld.load_scd2(
            rows_to_df(spark, rows),
            unique_keys=["k"],
            batch_ts=ts,
            compare_cols=["v"],
            order_col="ord",
        )
    if not loaded:
        return
    got = sorted(
        (
            r["k"],
            r["v"],
            r["valid_from"].date().isoformat(),
            r["valid_to"].date().isoformat() if r["valid_to"] else None,
            r["is_current"],
        )
        for r in wh.read("s", "d").collect()
    )
    want = sorted(
        (k, v, f, t, t is None)
        for k, vers in model.items()
        for (v, f, t) in vers
    )
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=batch_strategy)
def test_full_refresh_then_delete_model(spark, tmp_path_factory, batch):
    """Full refresh replaces; delete-by-predicate removes exactly the
    matching rows."""
    if not batch:
        return
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    ld = Loader(wh, "s", "t")
    rows = [{"k": k, "v": v, "ord": i} for i, (k, v) in enumerate(batch)]
    ld.load_full_refresh(rows_to_df(spark, rows))
    assert ld.get_record_count() == len(rows)
    deleted = ld.delete_by_condition("v < 0")
    expect_deleted = sum(1 for r in rows if r["v"] < 0)
    assert deleted == expect_deleted
    assert ld.get_record_count() == len(rows) - expect_deleted


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["web", "books", "code"]),  # shard
            st.integers(min_value=0, max_value=400),  # n_tokens
        ),
        min_size=1,
        max_size=40,
    )
)
def test_pack_sequences_invariants(spark, docs):
    """Concat-then-chunk packing invariants, independent of data:
    per-shard offsets are the exclusive prefix sums in doc order,
    chunk ids are non-decreasing, and every chunk except a shard's
    last starts strictly inside the budget grid."""
    import pandas as pd

    from pyspark.sql import functions as F, Window as W

    budget = 256
    pdf = pd.DataFrame(
        [
            {"doc_id": i, "source": s, "n_tokens": t}
            for i, (s, t) in enumerate(docs)
        ]
    )
    sdf = spark.createDataFrame(pdf)
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    out = (
        sdf.withColumn(
            "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .withColumn("chunk_id", F.floor(F.col("start_offset") / budget))
        .collect()
    )
    by_shard: dict = {}
    for r in sorted(out, key=lambda r: (r["source"], r["doc_id"])):
        acc, prev_chunk = by_shard.get(r["source"], (0, 0))
        assert r["start_offset"] == acc, r
        assert r["chunk_id"] == acc // budget
        assert r["chunk_id"] >= prev_chunk
        by_shard[r["source"]] = (acc + r["n_tokens"], r["chunk_id"])


_PII_FRAGMENTS = st.sampled_from(
    [
        "plain words here",
        "bob.smith+tag@mail.example.org",
        "10.20.30.40",
        "+4915123456789",
        "a@b.io",
        "ends with dot. 1.2.3.4",
        "almost@an@email",
        "123.456",
    ]
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(frags=st.lists(_PII_FRAGMENTS, min_size=1, max_size=6))
def test_pii_redaction_idempotent_and_complete(spark, frags):
    """Redaction properties over arbitrary fragment compositions:
    scanning the REDACTED text finds zero PII (completeness), and
    redacting twice equals redacting once (idempotence)."""
    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.operators.curation import (
        pii_scan_frame,
        redact_col,
    )

    text = " ".join(frags)
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    red = df.select("doc_id", redact_col(F.col("text")).alias("text"))
    rescan = pii_scan_frame(red).first()
    assert rescan["n_emails"] == rescan["n_ipv4"] == rescan["n_phones"] == 0
    once = red.first()["text"]
    twice = red.select(
        "doc_id", redact_col(F.col("text")).alias("text")
    ).first()["text"]
    assert once == twice


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.sets(
        st.integers(min_value=0, max_value=10_000_000), min_size=1, max_size=60
    )
)
def test_global_shuffle_permutation_property(spark, ids):
    """For ANY doc_id set: output is a permutation (every id exactly
    once), per-shard ranks are dense 1..n, and the assignment is
    deterministic (same ids → same shards/ranks on a re-run)."""
    from collections import defaultdict

    from bitcoin_datawarehouse_spark.operators.curation import (
        global_shuffle_frame,
    )

    df = spark.createDataFrame([(i,) for i in sorted(ids)], ["doc_id"])
    rows = global_shuffle_frame(df).collect()
    assert {r["doc_id"] for r in rows} == ids and len(rows) == len(ids)
    shards = defaultdict(list)
    for r in rows:
        shards[r["shard_id"]].append(r["shard_rank"])
    for ranks in shards.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    again = {
        (r["doc_id"], r["shard_id"], r["shard_rank"])
        for r in global_shuffle_frame(df).collect()
    }
    assert again == {(r["doc_id"], r["shard_id"], r["shard_rank"]) for r in rows}


# ---------------------------------------------------------------------------
# property-based cross-engine parity of the dsum money surface
# ---------------------------------------------------------------------------

# money-shaped doubles: 2-dp ledger values, 6-dp computed products
# (price*(1-disc)*(1+tax) has up to 6 decimal places), negatives, and
# magnitudes up to 10^12 (cents well inside the 2^53 exactness bound of
# the DECIMAL(p,2)→DOUBLE cast) — the documented domain of dsum
_money = st.one_of(
    st.decimals(
        min_value=-(10**12), max_value=10**12, places=2, allow_nan=False
    ).map(float),
    st.decimals(
        min_value=-(10**6), max_value=10**6, places=6, allow_nan=False
    ).map(float),
    # half-way boundary probes: exactly .XX5 at the 3rd decimal, where
    # a double-rounding surface (ROUND(CAST(sum AS DOUBLE),2)) diverges
    # between engines — the decimal-rounded surface must not
    st.integers(min_value=-(10**6), max_value=10**6).map(
        lambda n: n / 100.0 + 0.005
    ),
    # the magnitude band where DuckDB's DIRECT double→decimal cast
    # (binary value × 10^10 in double arithmetic) diverges from
    # Spark's shortest-repr cast — hypothesis found 1006857039.85
    # here, which forced SQL_DEC's string-routed cast; keep the band
    # hot so a regression re-finds it immediately
    st.decimals(
        min_value=10**8, max_value=10**11, places=2, allow_nan=False
    ).map(float),
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=st.lists(_money, min_size=1, max_size=40))
def test_dsum_surface_matches_duckdb_exactly(spark, vals):
    """functions/numeric.py contract: the dsum/SQL_DSUM pair produces
    BIT-IDENTICAL doubles on Spark and DuckDB for money-shaped inputs —
    including negatives, large magnitudes, and half-way rounding
    boundaries (hypothesis drives the shapes).  This is the invariant
    the driver's value hash depends on."""
    import duckdb
    import pandas as pd

    from bitcoin_datawarehouse_spark.functions.numeric import SQL_DSUM, dsum

    sdf = spark.createDataFrame(pd.DataFrame({"v": vals}))
    (got,) = sdf.agg(dsum(F.col("v"), "s")).collect()[0]

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"v": vals}))
    (want,) = con.execute(f"SELECT {SQL_DSUM('v', 's')} FROM t").fetchone()

    assert repr(got) == repr(want), (got, want, vals)


# ---------------------------------------------------------------------------
# distributed global rank == monolithic window (functions/ranking.py)
# ---------------------------------------------------------------------------

@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(min_value=1, max_value=200),
    k=st.integers(min_value=1, max_value=7),
)
def test_distributed_ntile_matches_window_ntile(spark, n, k):
    """with_global_rank + ntile_bucket must reproduce
    row_number/NTILE over the same total order EXACTLY — including the
    uneven-bucket arithmetic when total % k != 0 and totals smaller
    than k."""
    from pyspark.sql import Window as W

    from bitcoin_datawarehouse_spark.functions.ranking import (
        ntile_bucket,
        with_global_rank,
    )

    # deterministic but shuffled-looking keys: value collisions forced
    # via % 17 so the doc_id tiebreak matters
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") * 31 % 17).alias("v")
    )
    ranked = with_global_rank(df, ["v", "doc_id"], "rk", "tot")
    got = {
        r["doc_id"]: (r["rk"], ntb)
        for r in ranked.withColumn(
            "b", ntile_bucket(F.col("rk"), F.col("tot"), k)
        ).collect()
        for ntb in [r["b"]]
    }
    w = W.orderBy("v", "doc_id")
    want = {
        r["doc_id"]: (r["rk"], r["b"])
        for r in df.select(
            "doc_id",
            F.row_number().over(w).alias("rk"),
            F.ntile(k).over(w).alias("b"),
        ).collect()
    }
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=st.lists(_money, min_size=1, max_size=40))
def test_davg_surface_matches_duckdb_exactly(spark, vals):
    """davg/SQL_DAVG parity: the decimal sums are bit-identical by the
    dsum contract; the exposed mean adds one decimal→double conversion
    (≤1 ulp apart between engines) absorbed by ROUND(·, 6) — exact
    repr equality must survive the same adversarial value shapes."""
    import duckdb
    import pandas as pd

    from bitcoin_datawarehouse_spark.functions.numeric import SQL_DAVG, davg

    sdf = spark.createDataFrame(pd.DataFrame({"v": vals}))
    (got,) = sdf.agg(davg(F.col("v"), "a")).collect()[0]

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"v": vals}))
    (want,) = con.execute(f"SELECT {SQL_DAVG('v', 'a')} FROM t").fetchone()

    assert repr(got) == repr(want), (got, want, vals)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.one_of(
            st.floats(
                min_value=-1e12, max_value=1e12,
                allow_nan=False, allow_infinity=False,
            ),
            # exact 1e-6 half-way ties: k/2^j quotients (the davg
            # counterexample class — native ROUND diverges here)
            st.tuples(
                st.integers(min_value=-(10**9), max_value=10**9),
                st.sampled_from([2, 4, 8, 16, 64, 128]),
            ).map(lambda t: t[0] / t[1] / 10**6 * 2 + 5e-7),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_str_round6_matches_duckdb_exactly(spark, vals):
    """The engine-neutral 6-dp rounding primitive itself: str_round6
    (Spark) and SQL_STR_ROUND6 (DuckDB) must agree bit-for-bit on
    arbitrary doubles INCLUDING exact half-way ties, where the native
    ROUND(double, 6) of the two engines rounds apart."""
    import duckdb
    import pandas as pd

    from bitcoin_datawarehouse_spark.functions.numeric import (
        SQL_STR_ROUND6,
        str_round6,
    )

    sdf = spark.createDataFrame(pd.DataFrame({"v": vals}))
    got = sorted(
        repr(r["r"])
        for r in sdf.select(str_round6(F.col("v")).alias("r")).collect()
    )
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"v": vals}))
    want = sorted(
        repr(r[0])
        for r in con.execute(
            f"SELECT {SQL_STR_ROUND6('v')} AS r FROM t"
        ).fetchall()
    )
    assert got == want, (got, want, vals)


def test_micro6_exact_below_2_pow_33(spark):
    """micro6's documented bound, on Spark's own double→decimal cast:
    every 6-dp value k·10⁻⁶ with |k·10⁻⁶| < 2³³ comes back as exactly
    k (random draws, the run of k just under the edge, negatives),
    while just above 2³³ — where ulp = 2⁻¹⁹ > 10⁻⁶ — consecutive k
    collide on one double and some come back wrong."""
    import random

    from bitcoin_datawarehouse_spark.functions.numeric import micro6

    def n_wrong(ks):
        df = spark.createDataFrame(
            [(k, float(f"{k}e-6")) for k in ks], "k long, d double"
        )
        return df.filter(
            micro6(F.round(F.col("d"), 6)) != F.col("k")
        ).count()

    rng = random.Random(33)
    lo, hi = 2**32 * 10**6, 2**33 * 10**6
    below = [rng.randrange(lo, hi) for _ in range(5000)]
    below += list(range(hi - 5000, hi))
    below += [-k for k in below[:2000]]
    assert n_wrong(below) == 0
    assert n_wrong(list(range(hi, hi + 2000))) > 0


# ---------------------------------------------------------------------------
# ntile_bucket exactness at 2^53+ ranks (functions/ranking.py)
# ---------------------------------------------------------------------------

def _py_ntile(rank: int, total: int, k: int) -> int:
    """Exact Python model of SQL NTILE(k) bucket assignment."""
    q, r = divmod(total, k)
    big_span = r * (q + 1)
    if rank <= big_span:
        return (rank - 1) // (q + 1) + 1
    return r + (rank - big_span - 1) // q + 1


def test_ntile_bucket_exact_beyond_double_precision(spark):
    """ntile_bucket must assign boundary ranks exactly at totals past
    2^53, where a double-division implementation rounds the quotient
    up to the next integer and misassigns the bucket (the module
    docstring targets billions-of-rows frames; the property test above
    only exercises n <= 200)."""
    from bitcoin_datawarehouse_spark.functions.ranking import ntile_bucket

    rows = []
    for total, k in [
        (2**53 + 1, 3),
        (2**53 - 1, 7),
        (2**60 + 12345, 3),
        (2**62 + 7, 5),
        ((2**53) * 3 + 2, 2),
    ]:
        q, r = divmod(total, k)
        # every bucket boundary rank +/- 1 (the misassignment sites),
        # plus the frame edges
        ranks = {1, total}
        for b in range(1, k):
            edge = b * (q + 1) if b <= r else r * (q + 1) + (b - r) * q
            ranks |= {max(1, edge - 1), edge, min(total, edge + 1)}
        rows += [
            (rank, total, k, _py_ntile(rank, total, k))
            for rank in sorted(ranks)
        ]
    df = spark.createDataFrame(
        rows, "rank long, total long, k int, expected int"
    )
    got = df.select(
        "rank",
        "total",
        "k",
        "expected",
        # k is constant per group in the data; evaluate per distinct k
        *[
            F.when(
                F.col("k") == kk,
                ntile_bucket(F.col("rank"), F.col("total"), kk),
            ).alias(f"b{kk}")
            for kk in (2, 3, 5, 7)
        ],
    ).collect()
    for r in got:
        b = r[f"b{r['k']}"]
        assert b == r["expected"], (r["rank"], r["total"], r["k"], b)


# ---------------------------------------------------------------------------
# adversarial skew: with_global_rank under a 90%-tied score column
# ---------------------------------------------------------------------------

def test_global_rank_splits_heavy_score_ties(spark):
    """with_global_rank range-partitions on (score, doc_id); the
    unique tiebreaker must SPLIT a dominant tie group across
    partitions (no partition above ~2x the mean) while keeping ranks
    and NTILE buckets exactly equal to the monolithic window."""
    import math

    from pyspark.sql import Window as W

    from bitcoin_datawarehouse_spark.functions.ranking import (
        ntile_bucket,
        with_global_rank,
    )

    n = 5000
    # 90% of documents share one score — the CCNet-style perplexity
    # column after clipping, the worst case for range partitioning
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, F.lit(5.0))
        .otherwise(F.col("id").cast("double") / n)
        .alias("score"),
    )
    npart = spark.sparkContext.defaultParallelism
    # the same partitioning with_global_rank applies internally
    sizes = [
        r["c"]
        for r in df.repartitionByRange(npart, "score", "doc_id")
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    mean = n / npart
    assert max(sizes) <= 2 * math.ceil(mean), (sizes, mean)

    ranked = with_global_rank(df, ["score", "doc_id"], "rk", "tot")
    got = {
        r["doc_id"]: (r["rk"], r["b"])
        for r in ranked.withColumn(
            "b", ntile_bucket(F.col("rk"), F.col("tot"), 3)
        ).collect()
    }
    w = W.orderBy("score", "doc_id")
    want = {
        r["doc_id"]: (r["rk"], r["b"])
        for r in df.select(
            "doc_id",
            F.row_number().over(w).alias("rk"),
            F.ntile(3).over(w).alias("b"),
        ).collect()
    }
    assert got == want


def test_global_rank_blocks_release_without_manual_call(spark):
    """Scoped cache ownership (r6 VERDICT item 5): a loop of ranked
    queries must NOT accrete storage once its result frames are
    dropped — the localCheckpoint blocks are RDD-owned and the
    ContextCleaner reclaims them on garbage collection, with no
    release protocol for library callers.  Cleanup is asynchronous (weak-reference
    queue), so the assertion polls under GC nudges."""
    import gc
    import time

    from bitcoin_datawarehouse_spark.functions.ranking import (
        with_global_rank,
    )

    sc = spark.sparkContext

    def cached_bytes():
        return sum(
            i.memSize() + i.diskSize()
            for i in sc._jsc.sc().getRDDStorageInfo()
        )

    # DELTA against the session baseline, not absolute zero: in a
    # shared test session other fixtures may legitimately hold caches
    baseline = cached_bytes()
    df = spark.range(50_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97).alias("v")
    )
    for _ in range(3):
        r = with_global_rank(df, ["v", "doc_id"], "rk", "tot")
        assert r.count() == 50_000
        del r
        gc.collect()
    deadline = time.time() + 60
    while time.time() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        if cached_bytes() <= baseline:
            break
        time.sleep(1)
    assert cached_bytes() <= baseline, (
        "ranked-query storage never released"
    )


# --- matview combine_states monoid property (round 12) ---------------------
#
# The delta-log streaming view folds MANY state slices through
# combine_states; the pairwise tests in test_matview.py don't exercise
# arbitrary k-way splits, group/null patterns, or fold depth.  Decimal
# sums make the fold order-independent, so ANY split of the rows must
# expose bit-identical results to the direct aggregate.

from bitcoin_datawarehouse_spark.pipeline.matview import (  # noqa: E402
    Measure,
    _agg_exprs,
    combine_states,
    exposed_cols,
)

_MV_MEASURES = [
    Measure("total", "sum", "v"),
    Measure("n", "count", None),
    Measure("n_v", "count", "v"),
    Measure("vmin", "min", "v"),
    Measure("vmax", "max", "v"),
    Measure("vavg", "avg", "v"),
]

_mv_row = st.tuples(
    st.sampled_from("abcd"),
    st.one_of(
        st.none(), st.integers(-(10**6), 10**6).map(lambda i: i / 100)
    ),
    st.integers(0, 3),  # which slice the row lands in
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.lists(_mv_row, min_size=1, max_size=40))
def test_combine_states_fold_matches_direct_aggregate(spark, data):
    """agg(∪ slices) == fold(combine_states, agg(slice_i)) on the
    exposed engine-neutral surface, for ANY row partition — the monoid
    law every maintenance path (append, delta log, compaction) rests
    on, including all-null groups and empty-slice-free folds."""
    rows = [(g, i, v) for i, (g, v, _) in enumerate(data)]
    schema = "g string, id long, v double"
    keys = ["g"]

    def agg(frame):
        return frame.groupBy("g").agg(*_agg_exprs(_MV_MEASURES))

    def expose(state):
        return sorted(
            tuple(r)
            for r in state.select(
                *exposed_cols(keys, _MV_MEASURES)
            ).collect()
        )

    slices: dict[int, list] = {}
    for i, (g, v, s) in enumerate(data):
        slices.setdefault(s, []).append((g, i, v))
    frames = [
        agg(spark.createDataFrame(r, schema)) for r in slices.values()
    ]
    state = frames[0]
    for f in frames[1:]:
        state = combine_states(state, f, keys, _MV_MEASURES)
    assert expose(state) == expose(agg(spark.createDataFrame(rows, schema)))
