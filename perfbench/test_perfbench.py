"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import collections
import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(os.path.dirname(HERE), "tools")]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def test_corpus_same_seed_same_bytes(tmp_path):
    a, sa = gen.make_corpus(str(tmp_path / "a"), 7, files=5, target_mb=0.05)
    b, sb = gen.make_corpus(str(tmp_path / "b"), 7, files=5, target_mb=0.05)
    c, _ = gen.make_corpus(str(tmp_path / "c"), 8, files=5, target_mb=0.05)
    assert _files(a) == _files(b)
    assert sa == sb and sa["files"] == 5 and len(_files(a)) == 5
    assert _files(a) != _files(c)
    # every file ends on a line boundary
    assert all(v.endswith(b"\n") for v in _files(a).values())
    # any integer is a seed, and -7 is not 7
    assert gen.corpus_bytes(-7, 0.01)[0] != gen.corpus_bytes(7, 0.01)[0]


def test_tables_same_seed_same_values():
    a, b = gen.star_tables(3, 0.001), gen.star_tables(3, 0.001)
    c = gen.star_tables(4, 0.001)
    assert a.keys() == b.keys()
    for name in a:
        for col in a[name]:
            assert a[name][col].equals(b[name][col]), (name, col)
    assert not a["lineitem"]["l_partkey"].equals(c["lineitem"]["l_partkey"])


def test_ngram_reference_matches_python(tmp_path):
    d, _ = gen.make_corpus(str(tmp_path), 5, files=3, target_mb=0.02)
    for n in (3, 5):
        grams = collections.Counter()
        tokens = 0
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f)) as fh:
                for line in fh:
                    t = re.sub(r"[^a-zA-Z0-9\s]+", "", line).lower().split()
                    tokens += len(t)
                    grams.update(" ".join(t[i:i + n]) for i in range(len(t) - n + 1))
        ref = workloads.ngram_reference(d, n)
        assert ref == {"occurrences": sum(grams.values()),
                       "distinct": len(grams), "tokens": tokens}


@pytest.mark.parametrize("n, index, beyond", [(30, 19, 10), (20, 9, 10), (100, 89, 10)])
def test_tail_has_ten_samples_beyond(n, index, beyond):
    samples = list(np.random.default_rng(n).permutation(np.arange(n, dtype=float)))
    value, pct, got_beyond = run.tail(samples)
    assert value == index and got_beyond == beyond
    assert sum(1 for s in samples if s > value) == beyond
    assert pct == pytest.approx(100.0 * (index + 1) / n)


def test_tail_falls_back_to_max_with_few_samples():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert run.tail(list(map(float, range(19)))) == (18.0, 100.0, 0)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


class _FakeWorkload:
    """Two operations whose outputs are checked against expected values;
    one expected value is corrupted."""

    ops = ["good", "corrupted"]
    rows = [(1, "a", 0.5), (2, "b", 1.25)]
    cols = ["k", "s", "x"]

    def check(self, spark, op):
        expected = list(self.rows)
        if op == "corrupted":
            expected[1] = (2, "b", 1.2500001)
        return 0.0, workloads.compare(self.rows, self.cols, expected, self.cols)


def test_corrupted_expected_value_is_an_error():
    results = run.check_pass(None, _FakeWorkload())
    failed = sum(1 for r in results if r["error"])
    assert [r["op"] for r in results if r["error"]] == ["corrupted"]
    assert 1.0 - run.success_rate(failed, len(results)) > 0


def test_tsv_check_catches_corruption():
    good = ["a b\t2\n", "a c\t1\n", "b a\t3\n"]
    assert workloads.check_tsv_lines(good, 6, 3) is None
    assert workloads.check_tsv_lines(["a b\t2\n", "a c\t2\n", "b a\t3\n"], 6, 3)
    assert workloads.check_tsv_lines([good[1], good[0], good[2]], 6, 3)
    assert workloads.check_tsv_lines(good + [good[2]], 9, 4)
