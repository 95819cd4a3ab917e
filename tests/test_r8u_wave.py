"""Invariants for the r8u wave (negative-sampling table / HLL
intersection audit). Oracle parity is enforced by
test_oracle_parity_all; these replay the sqrt-chain smoothing exactly
and pin the inclusion-exclusion identity + accuracy envelope."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from hadoop_mapreduce_spark.functions.portable import HLL_M
from hadoop_mapreduce_spark.functions.text import normalize_text  # noqa: F401
from hadoop_mapreduce_spark.operators.textstats import (
    hll_intersection_audit,
    negative_sampling_table,
)
from hadoop_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR
import re


def _toks(text: str) -> list:
    t = re.sub(r"[^a-zA-Z0-9\t\n\x0B\f\r ]+", "", text).lower()
    return [w for w in re.split(r"[\t\n\x0B\f\r ]+", t) if w]


def test_negative_sampling_exact_sqrt_chain_replay(spark):
    rows = negative_sampling_table(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents").select("text").collect()
    cnt = Counter(w for d in docs for w in _toks(d.text))
    w = {t: math.floor(math.sqrt(math.sqrt(float(c) * c * c)) * 1e6 + 0.5)
         for t, c in cnt.items()}
    tw = sum(w.values())
    order = sorted(cnt, key=lambda t: (-cnt[t], t))[:64]
    assert [r.token for r in rows] == order
    cum = 0
    for r, t in zip(rows, order):
        assert r.cnt == cnt[t]
        assert r.weight_e6 == w[t] * 1_000_000 // tw
        cum += w[t]
        assert r.cum_weight_e6 == cum * 1_000_000 // tw
    # CDF is strictly increasing and bounded by the full mass
    cws = [r.cum_weight_e6 for r in rows]
    assert cws == sorted(cws) and cws[-1] <= 1_000_000
    # smoothing flattens: top token's weight share < its count share
    tot_c = sum(cnt.values())
    assert rows[0].weight_e6 < rows[0].cnt * 1_000_000 // tot_c + 1_000


def test_hll_intersection_identity_and_accuracy(spark):
    rows = hll_intersection_audit(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "text").collect()
    vocab = defaultdict(set)
    for d in docs:
        vocab[d.source].update(_toks(d.text))
    srcs = sorted(vocab)
    assert len(rows) == len(srcs) * (len(srcs) - 1) // 2

    def regs(tokens):
        m = {}
        for t in tokens:
            hv = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            b, rest = hv % HLL_M, hv // HLL_M
            rho = 49 if rest == 0 else 49 - rest.bit_length()
            m[b] = max(m.get(b, 0), rho)
        return m

    def est(m):
        n_hit = len(m)
        s = sum(1 << (49 - r) for r in m.values()) \
            + (HLL_M - n_hit) * (1 << 49)
        raw = 6.810691763087074e+21 / float(s)
        v = HLL_M - n_hit
        if v > 0 and raw <= 2.5 * HLL_M:
            return math.floor(HLL_M * math.log(HLL_M / float(v)) + 0.5)
        return math.floor(raw + 0.5)

    for r in rows:
        a, b = vocab[r.s1], vocab[r.s2]
        assert r.exact_common == len(a & b)
        ra, rb_ = regs(a), regs(b)
        ru = dict(ra)
        for k, v in rb_.items():
            ru[k] = max(ru.get(k, 0), v)
        want = est(ra) + est(rb_) - est(ru)
        assert r.est_common == want
        assert r.err_signed == want - r.exact_common
        # small-cardinality regime: linear counting keeps the audit
        # tight — inclusion-exclusion error within max(4, 15%)
        assert abs(r.err_signed) <= max(4, r.exact_common * 15 // 100)
