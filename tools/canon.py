"""Row canonicalisers for gate-query results.

Both forms render every cell to a string, join a row's cells with
``\\x01``, sort the rows and SHA-256 the result, so row order never
matters.

- Oracle form (Spark vs DuckDB): floats at 9 significant digits, columns
  in name order; the two engines round and order columns differently.
- Snapshot form (Spark vs Spark): bit-exact, doubles as IEEE-754 bytes,
  so a 1-ulp drift from a restructured plan is caught.  Saved snapshot
  directories pin its hash bytes: any change to the rendering makes
  every saved snapshot read FAIL.
"""

from __future__ import annotations

import hashlib
import struct


def _digest(lines, head: bytes = b""):
    h = hashlib.sha256(head)
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h


def oracle_cell(v) -> str:
    if v is None:
        return "\0"
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def oracle_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = ("\x01".join(oracle_cell(r[i]) for i in order) for r in rows)
    return _digest(lines).hexdigest()[:16]


def compare_oracle(con, sql: str, scols: list[str], srows: list[tuple]) -> tuple[bool, str]:
    """(ok, verdict) of Spark's rows against ``sql`` on DuckDB ``con``."""
    # DuckDB HUGEINT/DECIMAL surfaces as decimal128 in Arrow-normalising
    # harnesses and hash-mismatches Spark's int64 even when fetchall()
    # values compare equal: fail loudly here, not in the driver
    schema = con.execute(sql).fetch_arrow_table().schema
    dec = [f"{f.name}:{f.type}" for f in schema if "decimal" in str(f.type)]
    if dec:
        return False, f"FAIL decimal column(s) in oracle result: {dec}"
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    ok_rows = len(srows) == len(orows)
    ok_cols = sorted(scols) == sorted(ocols)
    h_s, h_o = oracle_hash(scols, srows), oracle_hash(ocols, orows)
    ok = ok_rows and ok_cols and h_s == h_o
    verdict = (
        f"{'OK' if ok else 'FAIL'} rows {len(srows)}/{len(orows)} "
        f"cols={'ok' if ok_cols else f'{scols} vs {ocols}'} "
        f"hash {'ok' if h_s == h_o else f'{h_s} vs {h_o}'}"
    )
    if ok_rows and ok_cols and h_s != h_o:
        sset = {tuple(oracle_cell(v) for v in r) for r in srows}
        oset = {tuple(oracle_cell(v) for v in r) for r in orows}
        verdict += (
            f"\n  spark-only: {list(sset - oset)[:3]}"
            f"\n  oracle-only: {list(oset - sset)[:3]}"
        )
    return ok, verdict


def snapshot_cell(v) -> str:
    if v is None:
        return "\0"
    if isinstance(v, bool):
        return f"b{int(v)}"
    if isinstance(v, float):
        return "f" + struct.pack("<d", v).hex()
    if isinstance(v, bytes):
        return "y" + v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(snapshot_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{snapshot_cell(x)}" for k, x in sorted(v.items())) + "}"
    return "s" + str(v)


def snapshot_hash(cols: list[str], rows: list[tuple]) -> str:
    lines = ("\x01".join(snapshot_cell(v) for v in r) for r in rows)
    return _digest(lines, "\x01".join(cols).encode()).hexdigest()
