#!/usr/bin/env python3
"""Cross-checks recorded corpus results against DuckDB.

    python3 perfbench/run.py --record                  # writes .bench_build/record/
    python3 perfbench/oracle_check.py [--write]

For every query in `.bench_build/record/expected.tsv` that has oracle SQL in
`.bench_build/record/oracle_sql.json`, runs that SQL in DuckDB over the tables in
`perfbench/corpus/sf0.01` and compares its row count and order-insensitive
fingerprint (the harness's RowHash) with graft's. Exits 1 on any mismatch. With
`--write`, and only when every check passes, stores the recorded values as
`perfbench/corpus/expected.tsv`, the file the `corpus-sf0.01` workload checks against.
"""
import hashlib
import json
import math
import sys
from decimal import Decimal
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
DATA = ROOT / "perfbench" / "corpus" / "sf0.01"
RECORD = ROOT / ".bench_build" / "record"
EXPECTED = ROOT / "perfbench" / "corpus" / "expected.tsv"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def num(d):
    if math.isnan(d):
        return "nan"
    if math.isinf(d):
        return "inf" if d > 0 else "-inf"
    if d == math.floor(d) and abs(d) < 1e15:
        return str(int(d))
    return f"{d:.6f}"


def render(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        return num(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\u0001".join(render(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big")
    return len(rows), f"{total % (1 << 64):016x}"


def main():
    recorded = {}
    for line in (RECORD / "expected.tsv").read_text().splitlines():
        name, rows, fp = line.split("\t")
        recorded[name] = (int(rows), fp)
    oracle = json.loads((RECORD / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA / (t + '.parquet')}')")
    bad = 0
    for name, want in recorded.items():
        if name not in oracle:
            print(f"NO ORACLE {name}: kept as recorded from graft")
            continue
        rel = con.sql(oracle[name])
        got = fingerprint(rel.columns, rel.fetchall())
        ok = got == want
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: graft {want[0]} rows {want[1]}, duckdb {got[0]} rows {got[1]}")
    if bad:
        print(f"{bad} mismatch(es); expected results not written")
        return 1
    if "--write" in sys.argv:
        header = ("# query\trows\tfingerprint -- graft's results over perfbench/corpus/sf0.01,\n"
                  "# cross-checked against DuckDB by oracle_check.py\n")
        EXPECTED.write_text(header + (RECORD / "expected.tsv").read_text())
        print(f"wrote {EXPECTED.relative_to(ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
