"""Output checks: published tables against the generator's
expectation, SQL results against DuckDB over the same Parquet, search
results against the generator's id sets.  Each returns a list of
mismatch descriptions; an empty list means the output is correct.

The checks run in a child process of the benchmark, next to the
generator (``gen.states``) that holds the expectation, so neither the
live graph nor pyarrow, DuckDB and the tables read back for checking
are in the measured driver's memory:

    python3 perfbench/check.py --workload sync_wide --seed 1 --out DIR

writes the model, the query plan and state 0 under ``DIR`` and prints
the state (path and doc counts) as one JSON line; then it answers one
JSON request per stdin line with one JSON line on stdout:

    {"op": "next"}                              -> the next state
    {"op": "tables", "dest": D}                 -> {"bad": [...], "stored_ratio": r}
    {"op": "query", "dest": D, "name": Q, "rows": [...]}  -> {"bad": [...]}
    {"op": "search", "name": S, "ids": [...]}   -> {"bad": [...]}
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import checksum, states

HIDDEN_SUFFIXES = ("__staging", "__old")


def published_tables(dest: str) -> list[str]:
    return sorted(
        e for e in os.listdir(dest)
        if os.path.isdir(os.path.join(dest, e)) and not e.endswith(HIDDEN_SUFFIXES)
    )


def _pylist(col: pa.ChunkedArray) -> list:
    t = col.type
    if pa.types.is_timestamp(t):
        us = pc.cast(col, pa.timestamp("us", tz=t.tz))
        return pc.cast(us, pa.int64()).to_pylist()
    vals = col.to_pylist()
    if pa.types.is_map(t):
        return [None if v is None else tuple(sorted(v)) for v in vals]
    if pa.types.is_list(t):
        return [None if v is None else tuple(v) for v in vals]
    return vals


def table_digest(path: str) -> list[int]:
    """[row count, checksum] of one published table, with columns in
    sorted-name order (the generator's canonical row layout)."""
    t = pq.read_table(path)
    cols = [_pylist(t.column(c)) for c in sorted(t.column_names)]
    return checksum(zip(*cols)) if cols else [0, 0]


def check_tables(dest: str, expected: dict[str, list[int]]) -> list[str]:
    """Every expected table must match; a table on disk that the
    expectation lacks must be empty (a delta can empty a link table)."""
    bad = []
    on_disk = set(published_tables(dest))
    for name in sorted(on_disk | set(expected)):
        want = expected.get(name, [0, 0])
        if name not in on_disk:
            if want[0]:
                bad.append(f"{name}: missing, want {want[0]} rows")
            continue
        got = table_digest(os.path.join(dest, name))
        if got != want:
            bad.append(f"{name}: rows/checksum {got} != {want}")
    return bad


def published_bytes(dest: str) -> int:
    total = 0
    for name in published_tables(dest):
        for root, _, files in os.walk(os.path.join(dest, name)):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files if not f.startswith((".", "_"))
            )
    return total


def _same(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    key = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def check_query(dest: str, q: dict, got: list[tuple]) -> list[str]:
    """The same query on DuckDB over the published Parquet files."""
    con = duckdb.connect()
    try:
        for t in q["tables"]:
            glob = os.path.join(dest, t, "*.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
        want = [tuple(r) for r in con.execute(q["duck"]).fetchall()]
    finally:
        con.close()
    return [] if _same(got, want) else [f"rows {sorted(got)[:3]} != {sorted(want)[:3]}"]


def check_ids(ids: list[str], want: list[int]) -> list[str]:
    got = checksum((i,) for i in ids)
    return [] if got == want else [f"ids {got} != {want}"]


def serve(workload: str, seed: int, out: str, node_index: bool, stdin, stdout) -> None:
    """Answer the benchmark's requests against the current state."""
    gen = states(workload, seed, out, node_index)
    st = next(gen)
    with open(os.path.join(out, "plan.json")) as f:
        plan = json.load(f)

    def public(st: dict) -> dict:
        return {k: v for k, v in st.items() if k not in ("tables", "searches")}

    def reply(obj: dict) -> None:
        stdout.write(json.dumps(obj) + "\n")
        stdout.flush()

    reply(public(st))
    for line in stdin:
        req = json.loads(line)
        op = req["op"]
        if op == "next":
            st = next(gen)
            reply(public(st))
        elif op == "tables":
            reply({"bad": check_tables(req["dest"], st["tables"]),
                   "stored_ratio": published_bytes(req["dest"]) / st["bytes"]})
        elif op == "query":
            rows = [tuple(r) for r in req["rows"]]
            reply({"bad": check_query(req["dest"], plan["queries"][req["name"]], rows)})
        elif op == "search":
            reply({"bad": check_ids(req["ids"], st["searches"][req["name"]])})
        else:
            raise ValueError(f"unknown request {op!r}")


def main() -> None:
    ap = argparse.ArgumentParser(description="generator and output checks")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--node-index", action="store_true")
    a = ap.parse_args()
    serve(a.workload, a.seed, a.out, a.node_index, sys.stdin, sys.stdout)


if __name__ == "__main__":
    main()
