"""Seeded input generators for the benchmark.

Everything the program reads is made here from ``--seed``: the
LLM-corpus tables (``documents``, ``embeddings``) as parquet in the
fixture layout ``tables.load_table`` expects, and the Bitcoin replay
rows the sync workload feeds through ``FileReplaySource``.  The same
seed gives byte-identical inputs.

The corpus tables are fitted to the sf0.01 fixture the registry's
oracles were written against (500 documents, 500 embeddings, seed 42),
whose structure was measured from its parquet files:

* documents: 10-100 tokens drawn uniformly from a 30-word vocabulary
  (mean 54.3 tokens); exactly 5% of the docs (25 of 500) are an exact
  copy of another doc, earlier or later, with one ``dup`` token
  appended (a copy of a copy carries two); ``lang`` is ``en`` for 3/7
  of the docs; ``source`` is ``src{doc_id % 20}``;
* embeddings: 64-d unit vectors with no planted near-duplicates (the
  highest pairwise cosine is 0.51, the p99.9 0.38), labels 0-9.

Sizes follow the fixture's too: 500 of each at sf0.01, and at sf0.1
5 000 documents and 2 000 embeddings.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EMB_DIM = 64
DUP_SHARE = 0.05


@dataclass(frozen=True)
class CorpusSize:
    documents: int
    embeddings: int


def corpus_size(sf: float) -> CorpusSize:
    docs = max(500, int(50_000 * sf))
    return CorpusSize(documents=docs, embeddings=min(docs, 2000))


def _write(tbl: pa.Table, path: Path) -> None:
    # one row group, like the fixture files (one input split per table)
    pq.write_table(tbl, path, row_group_size=1 << 24)


def write_corpus(out: Path, seed: int, sf: float) -> CorpusSize:
    """Write ``documents`` and ``embeddings`` under ``out`` for ``seed``."""
    out.mkdir(parents=True, exist_ok=True)
    size = corpus_size(sf)
    rng = np.random.default_rng([seed, 1])
    _write(_documents(rng, size.documents), out / "documents.parquet")
    _write(_embeddings(rng, size.embeddings), out / "embeddings.parquet")
    return size


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-vocabulary docs; ``DUP_SHARE`` of them, at random
    positions, replaced by a copy of another doc plus a ``dup`` token."""
    texts = [
        " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(k))])
        for k in rng.integers(10, 101, n)
    ]
    for i in np.sort(rng.choice(n, round(DUP_SHARE * n), replace=False)):
        src = (int(i) + int(rng.integers(1, n))) % n
        texts[i] = texts[src] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Independent random unit vectors in ``EMB_DIM`` dimensions."""
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
        pa.array(v.reshape(-1), pa.float32()),
    )
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


# -- Bitcoin replay rows (warehouse_sync) -----------------------------------

SYNC_START = dt.date(2025, 1, 1)
ENTITIES = ["miner", "exchange", "user"]


@dataclass(frozen=True)
class SyncSize:
    """Target and batch sizes: ``base_days`` days of history in every
    target before each timed op, one more day per op's batch."""

    base_days: int
    blocks_per_day: int
    tx_per_block: int

    @property
    def reorg_tx(self) -> int:
        """Transactions of the previous day an op's batch re-sends (2%)."""
        return max(1, self.blocks_per_day * self.tx_per_block // 50)

    @property
    def batch_rows(self) -> int:
        # blocks + 3 x transactions (tx, inputs, outputs) + 1 price
        b = self.blocks_per_day
        return b + 3 * (b * self.tx_per_block + self.reorg_tx) + 1


def sync_day(
    seed: int, day: int, size: SyncSize, variant: int = 0, reorg: bool = False
) -> dict[int, list[dict]]:
    """One day of rows in the remote JSON shape, keyed by query id.

    ``variant`` re-draws the day's values (not its keys), so every timed
    op loads a fresh batch of the same size into the same start state.
    ``reorg`` re-sends ``size.reorg_tx`` transactions of the previous
    day (with their inputs and outputs) in the day's first block, with
    new values: existing keys the merge must replace, not duplicate."""
    rng = np.random.default_rng([seed, 2, day, variant])
    d = str(SYNC_START + dt.timedelta(days=day))
    bpd, tpb = size.blocks_per_day, size.tx_per_block
    blocks, txs, ins, outs = [], [], [], []
    for j in range(bpd):
        h = day * bpd + j
        bh = f"blk{h:08d}"
        ids = [f"tx{h:08d}_{t:03d}" for t in range(tpb)]
        if reorg and j == 0 and day > 0:
            prev = (day - 1) * bpd
            ids += [f"tx{prev + k // tpb:08d}_{k % tpb:03d}" for k in range(size.reorg_tx)]
        n = len(ids)
        fees = np.round(rng.integers(0, 2000, n) * 1e-6, 8)
        vals = np.round(rng.integers(10_000, 5_000_000, n) * 1e-6, 8)
        addr = rng.integers(0, 5000, (2, n))
        ent = rng.integers(0, 3, (2, n))
        blocks.append({
            "hash": bh,
            "height": h,
            "previous_block_hash": f"blk{h - 1:08d}" if h else None,
            "total_fees": float(np.round(fees.sum(), 8)),
            "transaction_count": n,
            "date": d,
        })
        for t, tx in enumerate(ids):
            fee, val = float(fees[t]), float(vals[t])
            out = float(np.round(val - fee, 8))
            txs.append({
                "id": tx,
                "block_time": f"{d}T{j % 24:02d}:{t % 60:02d}:00",
                "block_hash": bh,
                "fee": fee,
                "input_value": val,
                "output_value": out,
                "date": d,
            })
            ins.append({"tx_id": tx, "address": f"addr{addr[0, t]}", "value": val,
                        "entity": ENTITIES[ent[0, t]], "date": d})
            outs.append({"tx_id": tx, "address": f"addr{addr[1, t]}", "value": out,
                         "entity": ENTITIES[ent[1, t]], "date": d})
    price = [{"date": d, "price": float(np.round(rng.uniform(30_000, 90_000), 2))}]
    return {2177353: ins, 2177447: outs, 5816212: price, 2177280: txs, 2177266: blocks}


def sync_history(seed: int, size: SyncSize) -> dict[int, list[dict]]:
    rows: dict[int, list[dict]] = {}
    for day in range(size.base_days):
        for qid, part in sync_day(seed, day, size).items():
            rows.setdefault(qid, []).extend(part)
    return rows

