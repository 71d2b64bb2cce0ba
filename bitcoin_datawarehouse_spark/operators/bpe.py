"""BPE tokenizer TRAINING as iterative DataFrame aggregates, plus a
production-scale APPLY kernel and a persisted tokenizer artifact
(SURVEY.md §2.12 north-star family — the tokenizer-training half of
an LLM data pipeline, next to the scoring/dedup/packing operators;
r7 VERDICT item 6, production shape per r8 VERDICT item 1).

Byte-pair encoding (Sennrich et al. 2016): start from the corpus
word-frequency table with words split into single-character symbols;
each round, count every ADJACENT symbol pair weighted by word
frequency (overlaps count — the reference ``get_stats``), merge the
most frequent pair everywhere (greedy left-to-right non-overlapping —
the reference ``merge_vocab``), repeat N rounds.  The merge table IS
the trained tokenizer.

Spark-first shape:

* ONE corpus pass builds the word-frequency table (explode → hash
  aggregate with map-side combine) — after that, every round touches
  only the VOCABULARY-sized frame, never the corpus.  At 100 TB the
  corpus aggregate is the only heavy stage; vocabulary is millions of
  rows at web scale, comfortably distributed.
* Symbol sequences ride as ONE DELIMITED STRING per word —
  ``low → [l][o][w]`` (the CLAUDE.md pack-set-columns rule: array
  columns cache/shuffle as slow generic objects).  The bracket form
  makes both BPE primitives single built-in JVM expressions:
  pair counting = ``regexp_extract_all`` + slice-zip explode
  (overlap-counting, exactly ``get_stats``), and the merge =
  ``replace(s, '[a][b]', '[ab]')`` — literal left-to-right
  non-overlapping replacement, exactly ``merge_vocab``'s greedy scan
  (pytest-pinned against an independent python reference).  Tokens
  are ``[a-z0-9]+`` so the delimiters can never collide.
* TRAINING runs the ``get_stats``-DELTA rule (:func:`bpe_train`):
  the pair-count frame is maintained incrementally — per round only
  the words CONTAINING the merged pair are re-counted (their old
  pairs subtracted, their post-merge pairs added), never the whole
  vocabulary.  At production merge counts (10⁴–10⁵ rounds) the full
  recount is the scale wall the r8 verdict flagged: every round would
  re-explode every symbol of every word, where the delta touches a
  geometrically shrinking slice.  All counts stay exact integers, so
  delta ≡ full recount bit-for-bit
  (``test_bpe_delta_training_equals_full_recount``, plus a
  randomized-vocabulary property test against the pure-python
  reference).
* Rounds follow the PageRank superstep discipline: the words and
  pair-count frames are eagerly localCheckpoint-ed per round (lineage
  truncation; blocks are RDD-owned, ContextCleaner-reclaimed), and
  the driver collects only the ONE-ROW argmax per round (bounded
  planning state — the codebook pattern).  Ties break on
  (count DESC, pair_a, pair_b) — tokens are ASCII so both engines
  compare identically.
* APPLY (:func:`bpe_apply_kernel`) is one Arrow ``mapInPandas``
  kernel carrying the bounded merge table as a RANK DICT in the task
  closure (the codebook pattern used by every other operator here):
  per word, repeatedly merge the lowest-rank adjacent pair present,
  greedy left-to-right — provably equal to replaying the merges in
  training order (a merge can only create pairs containing its new
  symbol, and any learned pair containing that symbol has a LATER
  rank, so min-rank-present order IS training order; pinned bit-equal
  against the chained-literal-replace plan in
  ``test_bpe_kernel_apply_equals_chained_replace``).  Per-partition
  word memo (Zipf: the hot words dominate) and per-doc aggregation
  FINISHED inside the kernel (CLAUDE.md rule) — the plan is scan →
  repartition → kernel → projection, zero shuffles after the spread.
  The chained-replace plan (kept as :func:`bpe_encode_chained` for
  the equality pin) is JVM-only but builds one codegen expression
  PER MERGE — fine at 8, an expression-tree blow-up at 30 000; the
  kernel's cost per merge is one dict entry.
* The trained merge table persists as a Warehouse model table
  (:func:`save_bpe_merges` / :func:`load_bpe_merges` /
  :func:`encode_with` — the ``ivf_index`` build/serve discipline):
  train once, serve encodes from the artifact without retraining.

The oracle unrolls the N rounds as CTE chains (w0 → p0 → b0 → w1 →
…) — DuckDB recomputes the identical word table, pair counts, argmax
and replacement per round, so the hash gate proves the whole
iterative training loop cross-engine.  Every count is an exact
integer; no float surface at all.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.functions.numeric import (
    SQL_STR_ROUND6,
    str_round6,
)
from bitcoin_datawarehouse_spark.operators.dedup import tokens_col
from bitcoin_datawarehouse_spark.registry import query
from bitcoin_datawarehouse_spark.tables import load_table
from bitcoin_datawarehouse_spark.functions.localframe import local_rows_df

#: merge rounds of the registered gate query (parametric in
#: production — a real tokenizer runs tens of thousands; the
#: 256-round decade probe is SCALING.md "Round 9: BPE production shape")
BPE_MERGE_ROUNDS = 8

#: merge-table row type: (merge_round, pair_a, pair_b, merged, count)
MergeRow = tuple[int, str, str, str, int]

#: the delta trainer truncates the words frame's lineage every this
#: many rounds — between checkpoints the chain is narrow
#: (filter/union/replace, zero exchanges), so laziness trades a few
#: re-derived vocab scans for one fewer materialization job per
#: round.  Measured at a 413k-word synthetic vocabulary (64 rounds):
#: K=1 0.490 s/round, K=4 0.388, K=8 0.413 — K=4 balances the chain
#: re-derivation against the materialization floor (SCALING.md)
_WORDS_CHECKPOINT_EVERY = 4

_MERGE_TABLE_DDL = (
    "merge_round int, pair_a string, pair_b string,"
    " merged string, pair_count bigint"
)

_SQL_TOKENS = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " t -> t <> '')"
)


def bpe_word_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, cnt): corpus word frequencies with words pre-split into
    bracketed single-character symbols — the one corpus-sized pass."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return (
        docs.repartition(par)
        .select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(
            F.regexp_replace("word", "(.)", "[$1]").alias("s"), "cnt"
        )
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, c): adjacent-symbol pair counts weighted by word
    frequency — overlaps count, mirroring the reference
    ``get_stats`` (and the oracle's slice-zip).  Accepts signed
    ``cnt`` rows so the delta trainer can feed
    (old words × −cnt) ∪ (merged words × +cnt) through the same
    aggregate and read off the per-pair delta."""
    toks = F.regexp_extract_all(F.col("s"), F.lit(r"\[([^\]]*)\]"), F.lit(1))
    zipped = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
    )
    return (
        words.select(F.explode(zipped).alias("p"), "cnt")
        .select(
            F.col("p")["0"].alias("a"), F.col("p")["1"].alias("b"), "cnt"
        )
        .groupBy("a", "b")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )


def bpe_train_full_recount(
    words: DataFrame, n_rounds: int
) -> list[MergeRow]:
    """REFERENCE trainer: re-aggregate ALL pair counts every round
    (the pre-r9 shape).  Correct at any round count but rescans the
    full vocabulary per round — kept as the independent
    implementation the delta trainer is pinned bit-equal against
    (and as the honest baseline in the decade probe).

    Driver-coordinated supersteps, data never: per round one
    vocabulary-sized aggregate + a 1-row TakeOrdered collect, then the
    literal replace + eager localCheckpoint.  Stops early if no pairs
    remain (fully merged vocabulary)."""
    words = words.localCheckpoint()
    merges: list[MergeRow] = []
    for r in range(n_rounds):
        best = (
            _pair_counts(words)
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, c = best[0]["a"], best[0]["b"], int(best[0]["c"])
        merges.append((r, a, b, a + b, c))
        words = words.select(
            F.replace(
                F.col("s"), F.lit(f"[{a}][{b}]"), F.lit(f"[{a}{b}]")
            ).alias("s"),
            "cnt",
        ).localCheckpoint()
    return merges


def bpe_train(words: DataFrame, n_rounds: int) -> list[MergeRow]:
    """PRODUCTION trainer: ``get_stats``-delta pair counts.

    The pair-count frame ``pc`` is built once from the initial
    vocabulary, then maintained incrementally: per round, only the
    words whose symbol string CONTAINS the merged pair ``[a][b]``
    are re-counted — their pre-merge pairs enter the aggregate with
    ``−cnt``, their post-merge pairs with ``+cnt`` — and the summed
    delta folds into ``pc`` (zero-count pairs dropped).  Words not
    containing the pair contribute exactly the same pairs before and
    after, so skipping them is exact, not approximate; every count is
    an integer, so delta ≡ full recount bit-for-bit.

    Per round: one 1-row argmax collect over the MATERIALIZED pair
    frame (cheap — the frame was checkpointed by the previous round's
    fold), one delta aggregate over the TOUCHED slice folded into the
    eager pc localCheckpoint.  Two lineage disciplines keep the round
    floor at ~2 jobs:

    * ``words_next`` is ONE narrow ``replace`` projection over the
      whole frame (untouched words are no-ops) — never the
      filter(~contains) ∪ merged(touched) union, which references the
      previous frame TWICE and turns the un-checkpointed lineage into
      a binary tree (2^k re-derivations; measured 19.6 s vs 4.7 s on
      the 8-round gate at sf0.1 before this fix).
    * the delta input derives from the chain ONCE: touched words
      explode into (pre-merge, −cnt) and (post-merge, +cnt) rows in a
      single pass, so the pair aggregate sees both sides without
      re-scanning.
    * the words frame is only checkpointed every
      ``_WORDS_CHECKPOINT_EVERY`` rounds: between checkpoints the
      chain is narrow single-reference replaces (zero exchanges), so
      laziness trades ≤ K stacked string scans for one fewer
      materialization job per round.

    At 10⁴–10⁵ rounds the touched slice shrinks geometrically (later
    merges are rarer pairs), which is what makes production merge
    counts viable where the full recount rescans everything every
    round."""
    words = words.localCheckpoint()
    pc = _pair_counts(words).localCheckpoint()
    merges: list[MergeRow] = []
    for r in range(n_rounds):
        best = (
            pc.orderBy(F.col("c").desc(), "a", "b").limit(1).collect()
        )
        if not best:
            break
        a, b, c = best[0]["a"], best[0]["b"], int(best[0]["c"])
        merges.append((r, a, b, a + b, c))
        pat = f"[{a}][{b}]"
        rep = f"[{a}{b}]"
        both_sides = F.array(
            F.struct(
                F.col("s").alias("s"), (-F.col("cnt")).alias("cnt")
            ),
            F.struct(
                F.replace(F.col("s"), F.lit(pat), F.lit(rep)).alias("s"),
                F.col("cnt").alias("cnt"),
            ),
        )
        delta = _pair_counts(
            words.filter(F.col("s").contains(pat))
            .select(F.explode(both_sides).alias("x"))
            .select("x.s", "x.cnt")
        )
        pc = (
            pc.unionAll(delta)
            .groupBy("a", "b")
            .agg(F.sum("c").cast("bigint").alias("c"))
            .filter(F.col("c") > 0)
            .localCheckpoint()
        )
        words = words.select(
            F.replace(F.col("s"), F.lit(pat), F.lit(rep)).alias("s"),
            "cnt",
        )
        if (r + 1) % _WORDS_CHECKPOINT_EVERY == 0:
            words = words.localCheckpoint()
    return merges


#: vocabulary row-count under which :func:`bpe_train_auto` finishes
#: training DRIVER-LOCALLY.  A word-frequency table is a MODEL-SIZED
#: artifact for real corpora (a few million (string, count) rows ≈
#: 10² MB — the 100 TB corpus reduces to it in the ONE corpus
#: aggregate), and a 32 k-merge production run through the
#: distributed loop is a 64 k-job driver program even with delta
#: counts.  Below the threshold the indexed local trainer runs the
#: whole merge loop in-process (lazy-heap argmax + per-pair posting
#: lists — zero Spark jobs per round); above it the distributed delta
#: loop remains the path.  Both are pinned bit-equal.
BPE_LOCAL_VOCAB_MAX = 2_000_000


def bpe_train_local(
    word_counts: list[tuple[str, int]], n_rounds: int
) -> list[MergeRow]:
    """Driver-local BPE training over a collected word-frequency
    table — the indexed ``get_stats``-delta structure (pair → posting
    list of word indices, pair-count dict, lazy max-heap keyed
    (−count, a, b)), so per round the work is O(touched words) + heap
    pops, never a vocabulary rescan.  Semantics are EXACTLY the
    distributed trainer's: overlap-counting pair stats, greedy
    left-to-right non-overlapping merge, ties (count DESC, a, b),
    early stop when no pairs remain."""
    import heapq
    from collections import Counter, defaultdict

    vocab: list[list[str]] = []
    cnts: list[int] = []
    for w, c in word_counts:
        vocab.append(list(w))
        cnts.append(int(c))

    stats: Counter = Counter()
    index: dict[tuple, set] = defaultdict(set)
    for i, syms in enumerate(vocab):
        c = cnts[i]
        for j in range(len(syms) - 1):
            p = (syms[j], syms[j + 1])
            stats[p] += c
            index[p].add(i)
    heap = [(-c, a, b) for (a, b), c in stats.items()]
    heapq.heapify(heap)

    def push(p: tuple) -> None:
        heapq.heappush(heap, (-stats[p], p[0], p[1]))

    merges: list[MergeRow] = []
    for r in range(n_rounds):
        best = None
        while heap:
            negc, a, b = heap[0]
            cur = stats.get((a, b), 0)
            if cur == -negc and cur > 0:
                best = (a, b, cur)
                break
            heapq.heappop(heap)  # stale or zeroed entry
        if best is None:
            break
        a, b, c = best
        merges.append((r, a, b, a + b, c))
        pair = (a, b)
        touched = sorted(index.pop(pair, ()))
        changed: set = set()
        for i in touched:
            syms = vocab[i]
            cw = cnts[i]
            # subtract the word's old pair contributions
            for j in range(len(syms) - 1):
                p = (syms[j], syms[j + 1])
                stats[p] -= cw
                if stats[p] <= 0:
                    del stats[p]
                index[p].discard(i)
                changed.add(p)
            # greedy left-to-right non-overlapping merge
            out: list[str] = []
            j = 0
            n = len(syms)
            while j < n:
                if j < n - 1 and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            vocab[i] = out
            # add the new contributions
            for j in range(len(out) - 1):
                p = (out[j], out[j + 1])
                stats[p] = stats.get(p, 0) + cw
                index[p].add(i)
                changed.add(p)
        for p in changed:
            if p in stats:
                push(p)
    return merges


def bpe_train_auto(words: DataFrame, n_rounds: int) -> list[MergeRow]:
    """Production trainer entry: ONE vocabulary count decides the
    regime — a driver-sized word table collects once and trains
    in-process (:func:`bpe_train_local`: zero Spark jobs per round —
    the shape that makes 10⁴–10⁵ merges a minutes-scale driver loop),
    a larger-than-driver table trains through the distributed delta
    loop (:func:`bpe_train`).  Both regimes are pinned bit-equal, so
    the switch is physical only — the ivf/semdedup auto-switch
    discipline applied to tokenizer training.  ``words`` must be the
    INITIAL word table (:func:`bpe_word_table`'s single-character
    bracket groups — the local unwrap strips brackets to recover the
    raw word)."""
    # ONE limit-probe replaces the count-then-collect pair (r12): a
    # collect of at most BPE_LOCAL_VOCAB_MAX+1 rows both DECIDES the
    # regime (more rows came back than the cap ⇒ distributed) and IS
    # the local trainer's input when the local regime wins — the same
    # driver budget as the old gated collect, one action instead of
    # two, and the limit short-circuits where the count scanned
    # everything.
    rows = (
        words.select("s", "cnt").limit(BPE_LOCAL_VOCAB_MAX + 1).collect()
    )
    if len(rows) <= BPE_LOCAL_VOCAB_MAX:
        # the collected form is bracketed symbols — unwrap to the raw
        # word (single chars) for the local trainer
        wc = [
            (r["s"].replace("[", "").replace("]", ""), int(r["cnt"]))
            for r in rows
        ]
        return bpe_train_local(wc, n_rounds)
    return bpe_train(words, n_rounds)


# -- apply ----------------------------------------------------------------

_TOKEN_RE = re.compile(r"[a-z0-9]+")


def bpe_encode_word_py(word: str, ranks: dict, pairs: list) -> int:
    """Pure-python BPE encode of one word → its token COUNT.

    Repeatedly merge the lowest-rank adjacent pair present, greedy
    left-to-right non-overlapping (``str.replace`` semantics).  Equal
    to replaying the merge table in training order: a merge only
    creates pairs containing its new symbol, and any LEARNED pair
    containing that symbol was learned later (the symbol didn't exist
    before), so min-rank-present order is training order and absent
    merges are no-ops."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        for i in range(len(syms) - 1):
            rk = ranks.get((syms[i], syms[i + 1]))
            if rk is not None and (best_rank is None or rk < best_rank):
                best_rank = rk
        if best_rank is None:
            break
        a, b = pairs[best_rank]
        out: list[str] = []
        i = 0
        n = len(syms)
        while i < n:
            if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def bpe_apply_kernel(
    docs: DataFrame, merges: list[MergeRow]
) -> DataFrame:
    """Corpus encode via ONE Arrow kernel: (doc_id, n_words,
    n_bpe_tokens) per document, merges carried as a broadcast-sized
    rank dict in the closure (the codebook pattern).

    Cost per merge is one dict entry, not one expression node — the
    shape that survives a 30 000-merge production tokenizer where the
    chained-replace plan hits the codegen expression-tree bound.
    Per-doc aggregation FINISHES inside the kernel (one row out per
    doc, zero shuffles after the repartition spread); a per-partition
    word memo exploits the Zipfian word distribution."""
    # normalize to dense rank order (round numbers are already
    # consecutive from training, but don't depend on it)
    ordered = sorted(merges, key=lambda m: m[0])
    pair_list = [(m[1], m[2]) for m in ordered]
    rank_of = {p: i for i, p in enumerate(pair_list)}

    def gen(batches: Iterable) -> Iterator:
        import pandas as pd

        memo: dict[str, int] = {}

        def enc(word: str) -> int:
            n = memo.get(word)
            if n is None:
                n = bpe_encode_word_py(word, rank_of, pair_list)
                memo[word] = n
            return n

        for pdf in batches:
            ids, nw, nt = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # token-less and NULL-text docs emit NO row — the
                # oracle's unnest and the chained-replace plan's
                # explode both drop them (review-caught divergence:
                # an (id, 0, 0, NULL) row hash-mismatches the gate,
                # and .lower() on NULL crashed the serve path)
                ws = _TOKEN_RE.findall(text.lower()) if text else []
                if not ws:
                    continue
                ids.append(doc_id)
                nw.append(len(ws))
                nt.append(sum(enc(w) for w in ws))
            yield pd.DataFrame(
                {"doc_id": ids, "n_words": nw, "n_bpe_tokens": nt}
            )

    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", "text")
        .repartition(par)
        .mapInPandas(
            gen, "doc_id bigint, n_words bigint, n_bpe_tokens bigint"
        )
    )


def bpe_encode_chained(
    docs: DataFrame, merges: list[MergeRow]
) -> DataFrame:
    """The pre-r9 JVM apply: one chained literal ``replace`` per merge
    inside whole-stage codegen.  Correct and Python-free, but the
    expression tree grows one node per merge — kept as the
    independent implementation the kernel is pinned bit-equal
    against, and as the probe baseline for the expression-tree
    bound."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    s = F.regexp_replace(F.col("word"), "(.)", "[$1]")
    for _, a, b, _m, _c in merges:
        s = F.replace(s, F.lit(f"[{a}][{b}]"), F.lit(f"[{a}{b}]"))
    n_tok = F.length(s) - F.length(F.replace(s, F.lit("["), F.lit("")))
    return (
        docs.repartition(par)
        .select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("word")
        )
        .select("doc_id", n_tok.alias("nt"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("nt").cast("bigint").alias("n_bpe_tokens"),
        )
    )


def _with_ratio(enc: DataFrame) -> DataFrame:
    return enc.select(
        "doc_id",
        "n_words",
        "n_bpe_tokens",
        str_round6(
            F.col("n_bpe_tokens").cast("double") / F.col("n_words")
        ).alias("bpe_per_word"),
    )


# -- persisted tokenizer artifact ------------------------------------------

#: warehouse schema holding trained model artifacts
BPE_MODEL_SCHEMA = "models"


def save_bpe_merges(
    warehouse, spark: SparkSession, merges: list[MergeRow],
    name: str = "bpe_tokenizer",
) -> None:
    """Persist a trained merge table as a Warehouse model table
    (atomic replace; the ivf_index build/serve discipline — train
    once, every later encode serves from the artifact)."""
    df = local_rows_df(spark, merges, _MERGE_TABLE_DDL)
    warehouse.write_atomic(df, BPE_MODEL_SCHEMA, name, coalesce=1)


def load_bpe_merges(
    warehouse, name: str = "bpe_tokenizer"
) -> list[MergeRow]:
    """Load a persisted merge table back into the bounded driver
    artifact (ordered by round; the table is merge-count-sized —
    10⁴–10⁵ rows at production scale, a driver-safe collect)."""
    rows = (
        warehouse.read(BPE_MODEL_SCHEMA, name)
        .orderBy("merge_round")
        .collect()
    )
    return [
        (
            int(r["merge_round"]),
            r["pair_a"],
            r["pair_b"],
            r["merged"],
            int(r["pair_count"]),
        )
        for r in rows
    ]


def encode_with(
    warehouse, docs: DataFrame, name: str = "bpe_tokenizer"
) -> DataFrame:
    """Serve path: encode ``docs`` (doc_id, text) with a PERSISTED
    tokenizer — load the bounded merge table, run the Arrow apply
    kernel.  No retraining, no corpus pass beyond the encode itself."""
    merges = load_bpe_merges(warehouse, name)
    return _with_ratio(bpe_apply_kernel(docs, merges))


def bpe_parts_from_merges(
    spark: SparkSession, merges: list[MergeRow]
) -> dict[str, DataFrame]:
    """Package a trained merge list as a single-part model for the
    versioned ``pipeline.model_registry`` — {"merges": frame}."""
    return {"merges": local_rows_df(spark, merges, _MERGE_TABLE_DDL)}


def encode_resolved(model, docs: DataFrame) -> DataFrame:
    """Encode ``docs`` with a generation resolved from the versioned
    registry (part "merges") — the bounded merge table collects
    (merge-count-sized) into the Arrow apply kernel; one atomic
    generation, never a mixed tokenizer."""
    rows = model.parts["merges"].orderBy("merge_round").collect()
    merges = [
        (
            int(r["merge_round"]),
            r["pair_a"],
            r["pair_b"],
            r["merged"],
            int(r["pair_count"]),
        )
        for r in rows
    ]
    return _with_ratio(bpe_apply_kernel(docs, merges))


# -- oracles ----------------------------------------------------------------


def _bpe_oracle(n_rounds: int) -> str:
    parts = [
        f"""w0 AS (
      SELECT regexp_replace(word, '(.)', '[\\1]', 'g') AS s,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_SQL_TOKENS}) AS word FROM documents)
      GROUP BY 1
    )"""
    ]
    for r in range(n_rounds):
        parts.append(
            f"""t{r} AS (
      SELECT regexp_extract_all(s, '\\[([^\\]]*)\\]', 1) AS toks, cnt
      FROM w{r}
    ),
    p{r} AS (
      SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(cnt) AS BIGINT) AS c
      FROM t{r}, UNNEST(list_zip(toks[1:-2], toks[2:])) AS u(pr)
      GROUP BY 1, 2
    ),
    b{r} AS (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
    w{r + 1} AS (
      SELECT replace(s, '[' || a || '][' || b || ']',
                     '[' || a || b || ']') AS s, cnt
      FROM w{r} CROSS JOIN b{r}
    )"""
        )
    sel = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS merge_round, a AS pair_a,"
        f" b AS pair_b, a || b AS merged, c AS pair_count FROM b{r}"
        for r in range(n_rounds)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + sel


def _encode_oracle(n_rounds: int) -> str:
    """Train-then-APPLY oracle: the full training CTE chain, then the
    corpus re-tokenized with every learned merge applied in order —
    per round one literal ``replace`` over the bracketed form with the
    (a, b) values riding in from that round's argmax CTE."""
    train = _bpe_oracle(n_rounds)
    with_part = train[: train.rindex("\n    SELECT")]  # drop final SELECT
    enc_chain = []
    prev = "e0"
    for r in range(n_rounds):
        # LEFT JOIN ON TRUE, not CROSS JOIN: when training stopped
        # early (b{r} empty — a fully merged / single-char vocabulary)
        # the Spark side applies no further merges, so the oracle must
        # pass the corpus through unchanged instead of annihilating it
        # (review-caught: a CROSS JOIN with an empty b{r} emptied every
        # later e{k} and returned zero rows against Spark's full count)
        enc_chain.append(
            f"""e{r + 1} AS (
      SELECT doc_id,
             CASE WHEN b{r}.a IS NULL THEN s
                  ELSE replace(s, '[' || b{r}.a || '][' || b{r}.b || ']',
                               '[' || b{r}.a || b{r}.b || ']')
             END AS s
      FROM {prev} LEFT JOIN b{r} ON TRUE
    )"""
        )
        prev = f"e{r + 1}"
    enc_joined = ",\n    ".join(enc_chain)
    return f"""{with_part},
    docw AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS word FROM documents
    ),
    e0 AS (
      SELECT doc_id,
             regexp_replace(word, '(.)', '[\\1]', 'g') AS s
      FROM docw
    ),
    {enc_joined}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(s) - length(replace(s, '[', '')))
                AS BIGINT) AS n_bpe_tokens,
           {SQL_STR_ROUND6(
               "CAST(SUM(length(s) - length(replace(s, '[', '')))"
               " AS DOUBLE) / COUNT(*)"
           )} AS bpe_per_word
    FROM {prev}
    GROUP BY doc_id
    """


@query("text_bpe_encode", oracle=_encode_oracle(BPE_MERGE_ROUNDS))
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer train → APPLY, end to end: the corpus encoded with
    the ``BPE_MERGE_ROUNDS`` merges :func:`text_bpe_merges` learns —
    per document its word count, BPE token count, and tokens-per-word
    (the compression statistic a tokenizer-training loop monitors).

    r10 shape: training through the PRODUCTION entrypoint
    :func:`bpe_train_auto` (r9 VERDICT item 2) — the vocabulary count
    routes a driver-sized word table to the in-process indexed
    trainer (zero Spark jobs per merge round; at fixture scale this
    also stops paying the distributed delta loop's per-round job
    floor) and a larger one to the distributed delta loop, both
    pinned bit-equal in pytest.  Apply runs through the Arrow kernel
    (:func:`bpe_apply_kernel`) — the merge table rides as a rank dict
    in the task closure, so merge count is a dict size, not an
    expression-tree depth (r8 VERDICT item 1).

    The oracle re-trains in SQL (the unrolled CTE chain) and applies
    each round's argmax via per-round literal replace — so the gate
    proves train AND apply cross-engine, including that both engines
    learned the SAME merges.
    """
    merges = bpe_train_auto(
        bpe_word_table(spark, sf_dir), BPE_MERGE_ROUNDS
    )
    docs = load_table(spark, sf_dir, "documents")
    return _with_ratio(bpe_apply_kernel(docs, merges))


@query("text_bpe_encode_served", oracle=_encode_oracle(BPE_MERGE_ROUNDS))
def text_bpe_encode_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PERSISTED-tokenizer serving configuration, driver-proven:
    train (:func:`bpe_train_auto`) → ``save_bpe_merges`` into a scratch
    Warehouse model table → ``load_bpe_merges`` → the Arrow apply
    kernel — the full build/serve round trip under the SAME oracle as
    ``text_bpe_encode`` (rows are bit-identical by the load≡train
    pytest, so one oracle is the contract for both; the ivf_index
    persisted-twin discipline).

    Scratch-warehouse residue/concurrency rules owned by
    ``pipeline.catalog.scratch_root``."""
    from bitcoin_datawarehouse_spark.pipeline.catalog import (
        Warehouse,
        scratch_root,
    )

    wh = Warehouse(spark, scratch_root("bds_bpe", sf_dir))
    merges = bpe_train_auto(
        bpe_word_table(spark, sf_dir), BPE_MERGE_ROUNDS
    )
    save_bpe_merges(wh, spark, merges)
    docs = load_table(spark, sf_dir, "documents")
    return encode_with(wh, docs)


@query("text_bpe_merges", oracle=_bpe_oracle(BPE_MERGE_ROUNDS))
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first ``BPE_MERGE_ROUNDS`` byte-pair merges trained on the
    documents corpus: (merge_round, pair_a, pair_b, merged,
    pair_count) — deterministic tie-break on (count DESC, pair), all
    integer-exact (module docstring has the full design).  r10: runs
    the PRODUCTION entrypoint :func:`bpe_train_auto` (r9 VERDICT item
    2), so the driver gate proves the auto-switch itself — the
    fixture vocabulary routes to the in-process indexed trainer,
    pinned bit-equal to the distributed ``get_stats``-delta loop in
    pytest (which stays the >2M-vocab path and keeps its own
    cross-engine proof through the encode gates' history).  The
    oracle is unchanged: DuckDB's full per-round recount.

    The returned frame is the collected merge table re-created on the
    driver — the merge table is the OUTPUT of an iterative driver-
    coordinated training loop and is bounded by the round count (the
    codebook pattern); the distributed work is the corpus aggregate +
    the per-round delta passes inside :func:`bpe_train`.
    """
    merges = bpe_train_auto(
        bpe_word_table(spark, sf_dir), BPE_MERGE_ROUNDS
    )
    return local_rows_df(spark, merges, _MERGE_TABLE_DDL)
