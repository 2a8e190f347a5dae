#!/usr/bin/env python3
"""Derives query_mix's expected results from the DuckDB oracle.

    python3 perfbench/expectations.py [SF_DIR]

Run from the repository root after a benchmark build. For every query in
the mix it takes the query's oracle SQL from the program's registry
(`perfbench.Main oracle-sql`, which reads `Registry.oracleSql`), runs it in
DuckDB over views of SF_DIR's parquet tables (default: the sf0.1 directory
TESTDATA.md lists),
and writes perfbench/expectations.json: the row count, the column names and
an order-insensitive content hash per query. The harness computes the same
hash over each Spark result and fails the run on any difference.

The canonical cell rendering here and in perfbench/src/perfbench/Check.scala
must agree; `selftest()` (run by `run.py --selftest`) checks both against
one shared fixture digest.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import struct
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)
FIXTURE_HASH = "191f056ea8d9f999"  # SelfTest.FixtureHash


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:" + struct.pack(">d", v).hex()
    if isinstance(v, decimal.Decimal):
        return "m:" + ("0" if v == 0 else format(v.normalize(), "f"))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return f"t:{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if isinstance(v, dt.date):
        return cell(dt.datetime(v.year, v.month, v.day))
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return "?" + str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = "\x1f".join(cell(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
    return {"rows": len(rows), "hash": f"{total % (1 << 64):016x}",
            "columns": sorted(columns)}


def selftest():
    rows = [
        (1, 2.5, "abc", None, decimal.Decimal("12.30"),
         dt.datetime(2024, 1, 2, 3, 4, 5, 123456), dt.date(2024, 1, 2), [3, 1]),
        (-7, -0.1, "", 4, decimal.Decimal("0.00"), None, None, []),
    ]
    d = digest(["n", "x", "s", "z", "m", "t", "d", "a"], rows)
    ok = d["hash"] == FIXTURE_HASH and d["rows"] == 2
    print(f"{'ok  ' if ok else 'FAIL'} gate: python digest matches the shared "
          f"constant ({d['hash']})")
    return ok


def oracle_sql():
    """The mix's oracle SQL, from the program's registry."""
    sys.path.insert(0, str(HERE))
    import run
    root = Path.cwd()
    build_dir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    cp = run.build(root, build_dir)
    cmd = run.java_cmd(cp, build_dir, ["oracle-sql"])
    out = subprocess.run(cmd, cwd=build_dir, capture_output=True, text=True,
                         check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    import duckdb
    sys.path.insert(0, str(HERE))
    import run
    sf = Path(sys.argv[1] if len(sys.argv) > 1 else run.from_repo(
        Path.cwd(), "TESTDATA.md", r"\|\s*0\.1\s*\|\s*`([^`]+?)/?`"))
    sqls = oracle_sql()
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = sf / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in sorted(sqls.items()):
        res = con.sql(sql)
        out[name] = digest(res.columns, res.fetchall())
        print(f"{name}: {out[name]['rows']} rows {out[name]['hash']}")
    doc = {"source": f"DuckDB {duckdb.__version__} over {sf.name} "
                     "(Registry.oracleSql)", "queries": out}
    (HERE / "expectations.json").write_text(json.dumps(doc, indent=1) + "\n")


if __name__ == "__main__":
    main()
