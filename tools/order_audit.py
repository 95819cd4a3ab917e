"""Audit: does every oracle's declared order pin a TOTAL order?

tests/test_oracle_parity_all.py compares rows IN EMITTED ORDER whenever
the query declares order keys in the registry (ORDER_KEYS); a
non-total key would make that comparison flaky (Spark and DuckDB may
interleave tied rows differently). This tool checks the property on
data at a given sf: for each ordered oracle it asks DuckDB whether any
declared key tuple occurs more than once. Queries with duplicated keys
are printed as NON-TOTAL and should grow a tie-breaker key in their
registry declaration.

Usage: python tools/order_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from hadoop_mapreduce_spark.registry import ORACLE, ORDER_KEYS

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    non_total, no_order, errors = [], [], []
    for name, sql in sorted(ORACLE.items()):
        if not ORDER_KEYS[name]:
            no_order.append(name)
            continue
        key = ", ".join(f'"{k.partition(" ")[0]}"' for k in ORDER_KEYS[name])
        probe = (f"SELECT {key}, COUNT(*) AS __n FROM ({sql.rstrip().rstrip(';')}) "
                 f"GROUP BY ALL HAVING COUNT(*) > 1 LIMIT 5")
        try:
            dups = con.execute(probe).fetchall()
        except Exception as e:  # noqa: BLE001
            errors.append((name, str(e).splitlines()[0][:120]))
            continue
        if dups:
            non_total.append((name, key, len(dups)))
            print(f"NON-TOTAL  {name}: key ({key}) has tied tuples, e.g. {dups[0]}")
        else:
            print(f"total      {name:32s} ({key})")

    print()
    print(f"{len(no_order)} oracles with no declared order "
          f"(multiset comparison applies): {no_order}")
    for name, err in errors:
        print(f"ERROR      {name}: {err}")
    if non_total:
        print(f"\n{len(non_total)} NON-TOTAL order keys: "
              f"{[n for n, _, _ in non_total]}")
        return 1
    print("\nall ordered oracles have total sort keys at this sf")
    return 0


if __name__ == "__main__":
    sys.exit(main())
