"""Untimed correctness checks.

* queries: the Spark result against the query's ``registry.ORACLES``
  DuckDB SQL over the same generated parquet, compared as canonical row
  multisets (columns by name, rows sorted, floats by ``repr``, decimals
  by string — the order-insensitive compare of ``tools/check_oracle.py``);
* sync: the warehouse end state against the state the benchmark expects
  from its own generated rows.
"""

from __future__ import annotations

import hashlib
from decimal import Decimal
from pathlib import Path


def canonical(rows, cols) -> str:
    """Order-insensitive digest of a result set."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, (float, list)):
                v = repr(v)
            elif isinstance(v, Decimal):
                v = str(v)
            vals.append(v)
        out.append(repr(tuple(vals)))
    out.sort()
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for line in out:
        h.update(line.encode())
    return h.hexdigest()


class Oracle:
    """DuckDB over the generated fixture directory."""

    def __init__(self, data_dir: Path, tables: list[str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'"
            )

    def digest(self, sql: str) -> str:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        return canonical(res.fetchall(), cols)

    def close(self) -> None:
        self.con.close()


#: post-transform target columns checked per reference job target
#: (TRANSFORM_SPEC renames; ``dimension_attribute_name`` is UPPER(entity))
SYNC_TARGETS = {
    "input": ("transaction_id", ["address", "bitcoin_amount", "date", "dimension_attribute_name"]),
    "output": ("transaction_id", ["address", "bitcoin_amount", "date", "dimension_attribute_name"]),
    "price_usd": ("date", ["price_in_dollar"]),
    "transactions": ("transaction_id", ["block_time", "fee", "input_value", "output_value", "block_hash", "date"]),
    "block": ("hash", ["height", "previous_block_hash", "total_fees", "transaction_count", "date"]),
}

_QID_TARGET = {2177353: "input", 2177447: "output", 5816212: "price_usd",
               2177280: "transactions", 2177266: "block"}
_RENAMES = {"tx_id": "transaction_id", "value": "bitcoin_amount",
            "price": "price_in_dollar", "id": "transaction_id"}


def expected_sync_state(rows_by_qid: dict[int, list[dict]]) -> dict[str, dict]:
    """target -> {key: values} the merge must leave behind (a new row
    replaces an old one on the same key)."""
    out: dict[str, dict] = {}
    for qid, rows in rows_by_qid.items():
        target = _QID_TARGET[qid]
        key, cols = SYNC_TARGETS[target]
        state = out.setdefault(target, {})
        for r in rows:
            r = {_RENAMES.get(k, k): v for k, v in r.items()}
            if "entity" in r:
                r["dimension_attribute_name"] = r["entity"].upper()
            state[r[key]] = tuple(r[c] for c in cols)
    return out


def check_sync_state(wh, expected: dict[str, dict], jobs: list[str]) -> list[str]:
    """Mismatch descriptions (empty when the end state is right)."""
    problems = []
    for target, want in expected.items():
        key, cols = SYNC_TARGETS[target]
        rows = wh.read("bitcoin", target).select(key, *cols).collect()
        got = {r[0]: tuple(r[1:]) for r in rows}
        if len(rows) != len(want):
            problems.append(f"{target}: {len(rows)} rows, expected {len(want)}")
        elif got.keys() != want.keys():
            problems.append(f"{target}: key set differs")
        else:
            bad = [k for k in want if got[k] != want[k]]
            if bad:
                problems.append(f"{target}: {len(bad)} rows with wrong values, e.g. {bad[0]}")
    status = {
        r["job_name"]: r["status"]
        for r in wh.read("etl", "etl_job").select("job_name", "status").collect()
    }
    for j in jobs:
        if status.get(j) != 1:
            problems.append(f"control row {j}: status={status.get(j)}")
    return problems
