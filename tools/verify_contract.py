"""Driver-style contract verification: run every queries() entry on Spark
and its oracle_sql() twin on DuckDB, compare row count + sorted-column
value multiset. Mirrors the driver's CORRECTNESS gate so mismatches are
caught before a round ends.

Usage: python tools/verify_contract.py [--json out.json] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(val):
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return f"{val:.6f}"
    if isinstance(val, bool):
        return str(bool(val)).lower()
    if hasattr(val, "isoformat"):
        try:
            return val.isoformat(sep=" ").replace("+00:00", "")
        except TypeError:  # datetime.date
            return val.isoformat() + " 00:00:00"
    if isinstance(val, (bytes, bytearray)):
        return val.hex()
    return str(val)


def frame_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = [cols[i] for i in order]
    vals = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return names, vals


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    record: dict[str, dict] = {}

    import __spark_entry__ as entrymod
    from finetoo_sp_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            record[name] = {"ok": False, "err": str(e)[:200]}
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            record[name] = {"ok": False, "err": str(e)[:200]}
            continue
        sn, sv = frame_sig(scols, srows)
        on, ov = frame_sig(ocols, orows)
        status = []
        if len(srows) != len(orows):
            status.append(f"rowcount {len(srows)} != {len(orows)}")
        if sn != on:
            status.append(f"schema {sn} != {on}")
        elif sv != ov:
            bad = next(
                (i for i, (a, b) in enumerate(zip(sv, ov)) if a != b), min(len(sv), len(ov))
            )
            status.append(
                f"values differ at #{bad}:\n    spark:  {sv[bad] if bad < len(sv) else '<none>'}"
                f"\n    oracle: {ov[bad] if bad < len(ov) else '<none>'}"
            )
        if status:
            print(f"FAIL {name}: " + "; ".join(status))
            failures.append(name)
        else:
            print(f"ok {name}: {len(srows)} rows match  [{time.time()-t0:.1f}s]")
            if len(srows) == 0:
                print(f"  WARN {name}: 0 rows (matching, but trivially)")
        record[name] = {
            "ok": name not in failures,
            "rows": len(srows),
            "oracle_rows": len(orows),
            "sec": round(time.time() - t0, 2),
        }

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "n_queries": len(record), "failures": failures,
                 "queries": record},
                f, indent=1,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
