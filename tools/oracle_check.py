"""Local differential harness mimicking the driver's t2 correctness gate.

Runs every registry query on Spark AND its DuckDB oracle at a given sf
dir, then compares row count, sorted column names, and an
order-insensitive value representation. Exit code 1 on any mismatch.

Usage: python tools/oracle_check.py [--json OUT.json] [sf_dir] [query ...]

With --json the per-query results are ALSO written as a driver-format
correctness artifact ({name: {rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}}) — used to produce CORRECTNESS_full.json
covering every registered query, since the driver's own
CORRECTNESS_r*.json records only a 50-query window per round. Each entry
also carries spark_digest and oracle_digest, the md5 of each side's
canonical rows, so the output identity of a refactor is a `diff` of the
files written before and after it; spark_order_digest and
oracle_order_digest are the same md5 over the rows in emitted order,
so the diff also covers each side's output order.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style canonical float: repr at 12 significant digits
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, columns, keep_order=False):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        out.append("\x1f".join(normalize_cell(row[i]) for i in order))
    if not keep_order:
        out.sort()
    return out


def digest(canon_rows) -> str:
    return hashlib.md5("\x1e".join(canon_rows).encode()).hexdigest()


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from hadoop_mapreduce_spark import get_spark
    from hadoop_mapreduce_spark.registry import ORACLE, QUERIES
    from hadoop_mapreduce_spark.session import release_caches

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    failures = []
    report: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
            sc = canon([tuple(r) for r in srows], scols)
            s_ord = digest(canon([tuple(r) for r in srows], scols, True))
            # operators that scoped_persist a mid-plan materialisation
            # are released here, so a 153-query run doesn't accumulate
            # dead cached partitions (ADVICE r5)
            release_caches()
        except Exception as e:  # noqa: BLE001
            release_caches()
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None, "err": f"spark: {e}"[:500]}
            continue
        sql = ORACLE.get(name)
        if sql is None:
            status = "rows-only" if len(srows) >= 0 else "??"
            print(f"ok    {name:28s} {len(srows):7d} rows  ({status}, {time.time()-t0:.1f}s)")
            report[name] = {"rows_match": len(srows) >= 0, "schema_match": None,
                            "hash_match": None, "spark_rows": len(srows),
                            "oracle_rows": None, "err": None,
                            "note": "rows-only (no SQL oracle by contract)",
                            "spark_digest": digest(sc), "oracle_digest": None,
                            "spark_order_digest": s_ord,
                            "oracle_order_digest": None}
            continue
        try:
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": len(srows),
                            "oracle_rows": None, "err": f"duckdb: {e}"[:500],
                            "spark_digest": digest(sc), "oracle_digest": None,
                            "spark_order_digest": s_ord,
                            "oracle_order_digest": None}
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        schema_ok = sorted(scols) == sorted(ocols)
        if not schema_ok:
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        oc = canon(orows, ocols)
        hash_ok = False
        if not problems:
            hash_ok = sc == oc
            if not hash_ok:
                ndiff = sum(1 for a, b in zip(sc, oc) if a != b)
                problems.append(f"values differ ({ndiff} of {len(sc)} rows)")
                for a, b in list(zip(sc, oc))[:2000]:
                    if a != b:
                        problems.append(f"  spark : {a[:200]}")
                        problems.append(f"  oracle: {b[:200]}")
                        break
        report[name] = {"rows_match": len(srows) == len(orows),
                        "schema_match": schema_ok, "hash_match": hash_ok,
                        "spark_rows": len(srows), "oracle_rows": len(orows),
                        "err": problems[0] if problems else None,
                        "spark_digest": digest(sc), "oracle_digest": digest(oc),
                        "spark_order_digest": s_ord,
                        "oracle_order_digest": digest(canon(orows, ocols, True))}
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
        else:
            print(f"ok    {name:28s} {len(srows):7d} rows  (match, {time.time()-t0:.1f}s)")

    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "queries": report}, f, indent=1)
        print(f"\nwrote {json_out} ({len(report)} queries)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main())
