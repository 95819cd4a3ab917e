"""The benchmark's workloads: what each operation builds, where it sinks,
and how its output is checked.

An operation is one call into the program: a builder that returns a lazy
DataFrame, then a sink that executes it. Checks run in a separate,
untimed pass and compare against DuckDB, which never shares code with the
engine under test.
"""

from __future__ import annotations

import glob
import os
import time

import gen

# The two curation headline queries whose builders run most of the eager
# (persist and count) jobs, plus dedup_embedding_lsh, the approximate
# operator whose recall is reported. The other eleven curation headline
# queries are left out to keep runs short: every run pays each query's
# first, cold execution (several seconds each on a 4-core machine) in its
# check pass.
CURATION = ["split_leakage_guard", "dedup_components_star", "dedup_embedding_lsh"]
# The approximate operator whose recall is reported, and its exact twin.
LSH_QUERY, EXACT_QUERY = "dedup_embedding_lsh", "dedup_embedding_cosine"

FIXTURE_SF = 0.02
CORPUS_FILES, CORPUS_MB = 16, 2.0


def compare(spark_rows, spark_cols, oracle_rows, oracle_cols) -> str | None:
    """None when the engine's output matches the oracle's by row count,
    column names and canonical values (the repository's differential
    harness, ``tools/oracle_check.py``); else what differs."""
    from oracle_check import canon

    if len(spark_rows) != len(oracle_rows):
        return f"rows {len(spark_rows)} != oracle {len(oracle_rows)}"
    if sorted(spark_cols) != sorted(oracle_cols):
        return f"columns {sorted(spark_cols)} != oracle {sorted(oracle_cols)}"
    a, b = canon(spark_rows, spark_cols), canon(oracle_rows, oracle_cols)
    if a != b:
        bad = sum(1 for x, y in zip(a, b) if x != y)
        return f"values differ in {bad} of {len(a)} rows"
    return None


def check_tsv_lines(lines, expected_total: int, expected_distinct: int) -> str | None:
    """None when ``key\\tcount`` lines are strictly increasing by key (a
    global sort of distinct keys) and their counts sum to
    ``expected_total`` over ``expected_distinct`` keys."""
    prev = None
    total = distinct = 0
    for line in lines:
        key, _, cnt = line.rstrip("\n").rpartition("\t")
        if prev is not None and key.encode() <= prev:
            return f"not globally sorted at line {distinct + 1}: {key!r}"
        prev = key.encode()
        total += int(cnt)
        distinct += 1
    if (total, distinct) != (expected_total, expected_distinct):
        return (f"sum(cnt)={total} distinct={distinct}, reference "
                f"{expected_total} / {expected_distinct}")
    return None


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*"))
               if os.path.isfile(f)) / 1e6


def ngram_reference(corpus_dir: str, n: int) -> dict:
    """DuckDB's count of per-line n-grams over the ``*.txt`` files of
    ``corpus_dir``, with the engine's normalisation (delete
    non-alphanumerics, lowercase, split on whitespace)."""
    import duckdb

    sql = f"""
    WITH lines AS (
      SELECT unnest(string_split(content, chr(10))) AS line
      FROM read_text('{corpus_dir}/*.txt')),
    toks AS (
      SELECT list_filter(string_split_regex(lower(regexp_replace(
               line, '[^a-zA-Z0-9\\s]+', '', 'g')), '\\s+'), x -> x <> '') AS t
      FROM lines),
    grams AS (
      SELECT array_to_string(t[i:i + {n - 1}], ' ') AS g
      FROM (SELECT t, unnest(generate_series(1, len(t) - {n - 1})) AS i
            FROM toks WHERE len(t) >= {n}))
    SELECT count(*), count(DISTINCT g), (SELECT sum(len(t)) FROM toks)
    FROM grams"""
    with duckdb.connect() as con:
        total, distinct, tokens = con.execute(sql).fetchone()
    return {"occurrences": int(total), "distinct": int(distinct),
            "tokens": int(tokens)}


class NgramCorpus:
    """The reference program as the CLI runs it: per-line n-gram counts of
    a directory of text files, globally sorted, written as TSV."""

    name = "ngram_corpus"
    recall = 1.0  # exact program: every output is checked exactly
    session_conf: dict[str, str] = {}  # as the CLI runs it

    def __init__(self, work: str, seed: int):
        self.work = work
        self.ops = ["ngram_n3", "ngram_n5"]
        self.corpus, self.stats = gen.make_corpus(
            os.path.join(work, "data"), seed, CORPUS_FILES, CORPUS_MB)
        if "ngrams" not in self.stats:
            self.stats = gen.update_stats(self.corpus, {"ngrams": {
                str(n): ngram_reference(self.corpus, n) for n in (3, 5)}})

    @staticmethod
    def n_of(op: str) -> int:
        return int(op.rsplit("n", 1)[1])

    def out_dir(self, op: str) -> str:
        return os.path.join(self.work, "out", op)

    def catalog(self, spark) -> None:
        from hadoop_mapreduce_spark.sources.tables import read_text_lines

        read_text_lines(spark, self.corpus).inputFiles()

    def build(self, spark, op: str):
        from hadoop_mapreduce_spark.operators.ngram import ngram_count_text

        return ngram_count_text(spark, self.corpus, n=self.n_of(op))

    def sink(self, df, op: str) -> None:
        from hadoop_mapreduce_spark.sources.tables import write_tsv

        write_tsv(df, self.out_dir(op))

    def output_mb(self, op: str) -> float:
        return dir_mb(self.out_dir(op))

    def check(self, spark, op: str) -> tuple[float, str | None]:
        """Run the program once and check its TSV against the reference;
        returns the program's seconds and what is wrong, if anything."""
        t0 = time.perf_counter()
        self.sink(self.build(spark, op), op)
        program_s = time.perf_counter() - t0
        ref = self.stats["ngrams"][str(self.n_of(op))]

        def lines():
            for path in sorted(glob.glob(os.path.join(self.out_dir(op), "part-*"))):
                with open(path, encoding="utf-8") as fh:
                    yield from fh

        return program_s, check_tsv_lines(lines(), ref["occurrences"], ref["distinct"])

    def prefixes(self, spark, op: str):
        """The program cut after each of its stages, each a DataFrame to
        force through the noop sink; the last stage (the TSV write) is the
        program run itself."""
        from pyspark.sql import functions as F

        from hadoop_mapreduce_spark.functions.text import normalize_text, tokenize
        from hadoop_mapreduce_spark.operators.ngram import explode_ngrams, ngram_count
        from hadoop_mapreduce_spark.sources.tables import read_text_lines

        n = self.n_of(op)
        lines = read_text_lines(spark, self.corpus)
        return [
            ("scan", lines),
            ("tokenize", lines.select(tokenize(normalize_text(F.col("value"))))),
            ("explode", explode_ngrams(lines, "value", n)),
            ("agg", ngram_count(lines, "value", n, sort=False)),
            ("sort", ngram_count(lines, "value", n, sort=True)),
        ]

    def occurrences(self, op: str) -> int:
        return self.stats["ngrams"][str(self.n_of(op))]["occurrences"]

    def text_column(self, spark):
        return None  # the tokenizer's self time comes from the prefixes

    def close(self) -> None:
        pass


class Curation:
    """Curation headline queries over a seeded star schema, each executed
    through the noop sink and checked against its DuckDB oracle."""

    name = "curation"
    ops = CURATION
    # bench.py's session at fixture scale: AQE off, since at a few MB its
    # stage barriers cost more than its re-planning saves
    session_conf = {"spark.sql.adaptive.enabled": "false"}

    def __init__(self, work: str, seed: int):
        root = os.path.join(work, "data")
        self.tables, self.stats = gen.make_tables(root, seed, FIXTURE_SF)
        self._duck = None
        self.recall = 0.0  # set by the check of LSH_QUERY

    def catalog(self, spark) -> None:
        from hadoop_mapreduce_spark.sources.tables import load_tables

        for df in load_tables(spark, self.tables).values():
            df.schema  # file listing and footer reads only

    def build(self, spark, op: str):
        from hadoop_mapreduce_spark.registry import QUERIES

        return QUERIES[op](spark, self.tables)

    def sink(self, df, op: str) -> None:
        df.write.format("noop").mode("overwrite").save()

    def output_mb(self, op: str) -> float:
        return 0.0

    def prefixes(self, spark, op: str) -> list:
        return []

    def text_column(self, spark):
        from hadoop_mapreduce_spark.sources.tables import load_table

        return load_table(spark, self.tables, "documents").select("text")

    def duck(self):
        import duckdb

        if self._duck is None:
            self._duck = duckdb.connect()
            for t in self.stats["rows"]:
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.tables}/{t}.parquet')")
        return self._duck

    def oracle(self, op: str):
        from hadoop_mapreduce_spark.registry import ORACLE

        cur = self.duck().execute(ORACLE[op])
        return cur.fetchall(), [d[0] for d in cur.description]

    def check(self, spark, op: str) -> tuple[float, str | None]:
        """Run the query once, collecting its rows, and compare them with
        the oracle's; returns the query's seconds and what is wrong, if
        anything."""
        from hadoop_mapreduce_spark.session import release_caches

        t0 = time.perf_counter()
        df = self.build(spark, op)
        rows, cols = [tuple(r) for r in df.collect()], df.columns
        release_caches()
        program_s = time.perf_counter() - t0
        if op == LSH_QUERY:
            # approximate by design: every pair it reports must be an exact
            # pair, and the share of exact pairs it finds is the recall
            exact, _ = self.oracle(EXACT_QUERY)
            exact_pairs = {(r[0], r[1]) for r in exact}
            found = {(r[cols.index("id1")], r[cols.index("id2")]) for r in rows}
            self.recall = len(found) / len(exact_pairs) if exact_pairs else 1.0
            extra = found - exact_pairs
            return program_s, (f"{len(extra)} reported pairs are not exact pairs"
                               if extra else None)
        return program_s, compare(rows, cols, *self.oracle(op))

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


def make(name: str, work: str, seed: int):
    if name == "ngram_corpus":
        return NgramCorpus(work, seed)
    if name == "curation":
        return Curation(work, seed)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("ngram_corpus", "curation")
