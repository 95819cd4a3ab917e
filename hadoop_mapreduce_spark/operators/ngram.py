"""The flagship query: n-gram frequency count, globally sorted.

This is the reference's entire program (reference WordCount.java:64-164;
pipeline inventory SURVEY.md §2.A ops 1-12), re-expressed declaratively:

  reference op                         here
  ---------------------------------    ----------------------------------
  TextInputFormat scan (op-1)          spark.read.text / documents table
  normalise (op-2, WordCount.java:76)  lower(regexp_replace(...))  [DELETE semantics]
  tokenise (op-3)                      split + filter('' !=)
  n-gram assembly (op-4/5)             transform(sequence(...), slice+concat_ws)
  map to (k,1) + combiner (op-6/7)     groupBy().count() — Spark's hash
                                       aggregate always runs partial (map-
                                       side) + final, so the reference's
                                       hand-wired combiner (WordCount.java:150)
                                       is implicit
  range partitioner + sort (op-9/11)   orderBy(ngram) — sampling-based
                                       RangePartitioning: no 26-partition cap
                                       (WordCount.java:36-38) and no first-
                                       letter skew (WordCount.java:54-59)
  TextOutputFormat sink (op-12)        sources.tables.write_tsv

The n-gram layer has two kernels, each defined once here: the bag
``explode_ngrams`` (one row per occurrence — the counting program
above) and the set ``explode_ngram_set`` (one row per distinct n-gram
of a document — the unit of the decontamination, novelty and
shingle-Jaccard operators; the Spark twin of the oracles'
``SELECT DISTINCT doc_id, unnest(ngrams_sql(t, n))``).

Scale notes (100 TB): the only shuffle is the final-aggregate exchange on
``ngram``; partial aggregation bounds map output by distinct-ngrams-per-
task, and the global sort is a second, sampling-planned range exchange.
With AQE on, post-aggregation partition sizing is handled at runtime.
For top-k consumers prefer ``ngram_topk`` (no global sort at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.functions.text import (
    ngrams_from_tokens,
    normalize_text,
    tokenize,
)


def explode_ngrams(df: DataFrame, text_col: str, n: int, keep_cols: list[str] | None = None) -> DataFrame:
    """One output row per n-gram occurrence in ``text_col``.

    Per-document semantics: n-grams do not cross document boundaries.
    (For raw text files, a "document" is one line — see ``ngram_count_text``
    for the reference's cross-line mode.)

    Two-step projection on purpose: the token array is bound to a real
    column *below* the Generate, so tokenisation runs once per document.
    Nesting tokenize() inside the n-gram transform makes the lambda
    re-tokenise the document at every window position — O(len^2) per doc,
    measured 10x slower on the fixture.
    """
    keep = [F.col(c) for c in (keep_cols or [])]
    toks = df.select(*keep, tokenize(normalize_text(F.col(text_col))).alias("__t"))
    return toks.select(*keep, F.explode(ngrams_from_tokens(F.col("__t"), n)).alias("ngram"))


def explode_ngram_set(df: DataFrame, text_col: str, n: int,
                      keep_cols: list[str] | None = None) -> DataFrame:
    """One output row per DISTINCT n-gram of each row's ``text_col``:
    ``(*keep_cols, ngram)``, the per-document gram set.

    The same two-step projection as :func:`explode_ngrams` (tokens bound
    below the Generate); ``array_distinct`` dedups each row's n-grams
    in-row, so the set costs no shuffle.
    """
    keep = [F.col(c) for c in (keep_cols or [])]
    toks = df.select(*keep, tokenize(normalize_text(F.col(text_col))).alias("__t"))
    return toks.select(*keep, F.explode(F.array_distinct(
        ngrams_from_tokens(F.col("__t"), n))).alias("ngram"))


def ngram_count(df: DataFrame, text_col: str, n: int = 3, sort: bool = True) -> DataFrame:
    """n-gram frequency count over a text column → (ngram, cnt).

    ``sort=True`` reproduces the reference's globally-sorted output
    (report.md:139-145). At extreme scale a consumer that doesn't need
    total order should pass sort=False and skip the range exchange.
    """
    counts = explode_ngrams(df, text_col, n).groupBy("ngram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counts.orderBy("ngram") if sort else counts


def ngram_count_text(
    spark: SparkSession, path: str, n: int = 3, cross_line: bool = False
) -> DataFrame:
    """Reference CLI equivalent: count n-grams in a directory of text files.

    cross_line=False (default): n-grams are per-line — deterministic and
    oracle-checkable.
    cross_line=True: reference-faithful mode where n-grams span newlines
    within one file (the static token queue at reference WordCount.java:68-71;
    SURVEY.md §1.4). The reference's cross-*file* leakage (a bug — the
    queue is never cleared between splits) is deliberately not
    reproduced. Implementation: per-partition streaming with an
    (n-1)-token carry (see ``_ngram_count_cross_line``) — the one
    legitimate imperative escape hatch named by SURVEY §7; no
    whole-file reassembly, so a single multi-GB text file costs O(n)
    carry memory instead of an OOM-prone file-sized collect_list
    (VERDICT r5 item 3).
    """
    lines = spark.read.text(path)
    if not cross_line:
        return ngram_count(lines, "value", n)
    return _ngram_count_cross_line(spark, lines, n)


def _ngram_count_cross_line(
    spark: SparkSession, lines: DataFrame, n: int
) -> DataFrame:
    """Cross-line n-gram counts with (n-1)-token carry across line AND
    split boundaries — the distributed twin of the reference's static
    token queue (WordCount.java:68-71) minus its cross-file leakage.

    Shape (all sizes bounded at 100 TB-of-text):

      1. Lines are range-partitioned and sorted by (file, block-start,
         in-split row id), so each task sees each file's lines as one
         contiguous ordered run (the block-start byte offset pins the
         order of SPLITS within a file; the monotonic id orders rows
         within a split).
      2. ONE ``mapInPandas`` pass streams each partition with a per-file
         deque of the last n-1 tokens: it emits per-batch partial
         counts for every n-gram that ENDS inside the partition's own
         token stream, plus one tiny boundary stub per (file, task) —
         (first n-1 tokens, last n-1 tokens, token count). Memory is
         O(batch + carry), never O(file).
      3. The stubs (a few tokens per task — KBs at any scale) group by
         file; one ``applyInPandas`` walk chains them in task order and
         emits exactly the junction n-grams that cross a partition
         boundary, handling runt partitions shorter than n-1 tokens by
         rolling the carry through them.
      4. Partial counts union junction counts → one final hash
         aggregation (map-side combined) → global sort.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    carry_len = n - 1
    base = lines.select(
        F.input_file_name().alias("file"),
        F.col("_metadata.file_block_start").alias("blk"),
        F.monotonically_increasing_id().alias("pos"),
        tokenize(normalize_text(F.col("value"))).alias("toks"),
    ).repartitionByRange("file", "blk", "pos").sortWithinPartitions(
        "file", "blk", "pos")

    part_schema = ("kind string, ngram string, cnt long, file string, "
                   "pid long, head array<string>, tail array<string>, m long")

    def stream_partition(batches):
        import collections

        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        # per-file state: carry deque, head list, token count
        state: dict[str, list] = {}

        def flush_counts(counts):
            if not counts:
                return None
            items = list(counts.items())
            return pd.DataFrame({
                "kind": "cnt", "ngram": [k for k, _ in items],
                "cnt": [v for _, v in items], "file": None, "pid": pid,
                "head": None, "tail": None, "m": None,
            })

        for batch in batches:
            counts: dict[str, int] = {}
            for file, toks in zip(batch["file"], batch["toks"]):
                st = state.get(file)
                if st is None:
                    st = state[file] = [
                        collections.deque(maxlen=max(carry_len, 1)), [], 0]
                carry, head, _ = st
                for tk in toks:
                    if len(head) < carry_len:
                        head.append(tk)
                    if len(carry) == carry_len and carry_len > 0:
                        g = " ".join(carry) + " " + tk
                        counts[g] = counts.get(g, 0) + 1
                    elif carry_len == 0:
                        counts[tk] = counts.get(tk, 0) + 1
                    carry.append(tk)
                    st[2] += 1
            out = flush_counts(counts)
            if out is not None:
                yield out
        if state:
            import pandas as pd

            yield pd.DataFrame({
                "kind": "stub", "ngram": None, "cnt": None,
                "file": list(state.keys()), "pid": pid,
                "head": [st[1] for st in state.values()],
                "tail": [list(st[0]) for st in state.values()],
                "m": [st[2] for st in state.values()],
            })

    streamed = base.mapInPandas(stream_partition, part_schema)
    from hadoop_mapreduce_spark.session import scoped_persist

    # one materialisation point: partial counts AND stubs come out of a
    # single python pass; both consumers below read the cache instead of
    # re-running the tokenise+stream stage
    streamed = scoped_persist(streamed)
    partial = streamed.where(F.col("kind") == "cnt").select("ngram", "cnt")

    stubs = streamed.where(F.col("kind") == "stub").select(
        "file", "pid", "head", "tail", "m")

    def junctions(pdf):
        import pandas as pd

        pdf = pdf.sort_values("pid")
        counts: dict[str, int] = {}
        carry: list[str] = []
        for head, tail, m in zip(pdf["head"], pdf["tail"], pdf["m"]):
            head, tail = list(head), list(tail)
            if carry and carry_len > 0:
                j = carry + head
                lo = len(carry)
                # windows that START in the carry and END in this task's
                # head — exactly the boundary-crossing n-grams
                for s in range(max(0, lo - carry_len), lo):
                    if s + n <= len(j):
                        g = " ".join(j[s:s + n])
                        counts[g] = counts.get(g, 0) + 1
            if m >= carry_len:
                carry = tail
            else:
                carry = (carry + head)[-carry_len:] if carry_len else []
        items = list(counts.items())
        return pd.DataFrame({"ngram": [k for k, _ in items],
                             "cnt": [v for _, v in items]})

    junction = stubs.groupBy("file").applyInPandas(
        junctions, "ngram string, cnt long")
    counts = (
        partial.unionByName(junction)
        .groupBy("ngram").agg(F.sum("cnt").alias("cnt"))
    )
    return counts.orderBy("ngram")


def ngram_topk(df: DataFrame, text_col: str, n: int = 3, k: int = 100) -> DataFrame:
    """Top-k most frequent n-grams — the scale-friendly variant: partial
    agg → final agg → per-partition top-k → driver-side k-merge via
    ``limit`` (Spark's TakeOrderedAndProject), no full sort."""
    counts = ngram_count(df, text_col, n, sort=False)
    return counts.orderBy(F.desc("cnt"), F.asc("ngram")).limit(k)
