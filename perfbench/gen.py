"""Seeded input generators for the benchmark.

Everything here is vectorised NumPy and single-process, and the same seed
always gives identical bytes:

* ``make_corpus``: a directory of plain-text files for the n-gram program,
  drawn as recurring phrases over a Zipf vocabulary, with varied line
  lengths, plus a little case and punctuation so the tokenizer's
  normalisation has work to do.
* ``make_tables``: the ten-table parquet star schema the registry queries
  read (same table names, column names and physical types as the engine's
  test fixtures, with value ranges modelled on them).

Both are cached per seed under the caller's work directory, each with a
``<dir>.json`` beside it that records what was generated (beside, not
inside: the n-gram program reads every file in its input directory).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def _vocabulary(rng: np.random.Generator, size: int) -> list[bytes]:
    """``size`` distinct lowercase words, shorter at higher frequency rank
    (2-3 letters at the top, up to 10 in the tail), so that bytes per token
    barely depend on the seed."""
    lens = np.clip(2 + np.log2(np.arange(size) + 2).astype(np.int64) // 2, 2, 10)
    chars = _LETTERS[rng.integers(0, 26, size=int(lens.sum()))].tobytes()
    ends = np.cumsum(lens).tolist()
    words = [chars[e - n:e] for e, n in zip(ends, lens.tolist())]
    seen: set[bytes] = set()
    for i, w in enumerate(words):
        while w in seen:  # rare collision: redraw one letter longer
            w = _LETTERS[rng.integers(0, 26, size=min(len(w) + 1, 10))].tobytes()
        seen.add(w)
        words[i] = w
    return words


# Corpus shape: a vocabulary of VOCAB words and PHRASES phrases over it, both
# Zipf-ranked with these exponents.
VOCAB, PHRASES, WORD_S, PHRASE_S = 50000, 50000, 1.05, 1.1


def _zipf(n: int, s: float) -> np.ndarray:
    p = 1.0 / (np.arange(1, n + 1, dtype=np.float64) + 2.7) ** s
    return p / p.sum()


def _phrase_stream(rng: np.random.Generator, n_tok: int) -> np.ndarray:
    """``n_tok`` word ids drawn as a stream of phrases: a Zipf-ranked set of
    PHRASES short word sequences (1-4 words, each word Zipf over the
    vocabulary). Common phrases recur, so short n-grams repeat far more
    often than long ones, as in real text; with words drawn independently
    even 3-grams would almost never repeat."""
    plen = rng.choice(np.arange(1, 5), size=PHRASES, p=[0.2, 0.3, 0.3, 0.2])
    pstart = np.cumsum(plen) - plen
    pwords = rng.choice(VOCAB, size=int(plen.sum()), p=_zipf(VOCAB, WORD_S))
    ids = rng.choice(PHRASES, size=n_tok, p=_zipf(PHRASES, PHRASE_S))
    lens = plen[ids]
    pos = np.arange(int(lens.sum())) - np.repeat(np.cumsum(lens) - lens, lens)
    return pwords[np.repeat(pstart[ids], lens) + pos][:n_tok]


def corpus_bytes(seed: int, target_mb: float) -> tuple[list[bytes], np.ndarray, int]:
    """The corpus as one ``bytes`` per rendered token (with its trailing
    space or newline), cut at the last line end within ``target_mb``; the
    indices of the line-final tokens; and the number of distinct words.

    Words come in phrases (see ``_phrase_stream``). Each token is one of
    four renderings of its word (plain, Capitalised, trailing comma,
    trailing full stop); all four normalise to the same token. Line
    lengths are a mix of short and long lines (1-80 tokens).
    """
    rng = np.random.default_rng([seed % 2**64, 1])
    words = _vocabulary(rng, VOCAB)
    target = int(target_mb * 1e6)
    n_tok = target // 3  # more than enough: every rendered token is >= 3 bytes
    tok = _phrase_stream(rng, n_tok)
    variant = rng.choice(4, size=n_tok, p=[0.85, 0.07, 0.05, 0.03])
    # line lengths: 70% geometric short lines, 30% long uniform lines
    n_lines = n_tok // 8 + 16
    short = rng.geometric(1 / 6, size=n_lines)
    long_ = rng.integers(20, 81, size=n_lines)
    lens = np.where(rng.random(n_lines) < 0.7, short, long_)
    ends = np.cumsum(lens)
    ends = ends[ends <= n_tok]
    eol = np.zeros(n_tok, dtype=np.int64)
    eol[ends - 1] = 1
    rendered = []
    for w in words:
        cap = w[:1].upper() + w[1:]
        rendered.extend([w, cap, w + b",", w + b"."])
    width = np.array([len(r) + 1 for r in rendered], dtype=np.int64)
    idx = tok * 4 + variant
    # keep whole lines while the byte count stays within the target
    line_end = np.flatnonzero(eol)
    size_at_end = np.cumsum(width[idx])[line_end]
    keep = line_end[: max(1, int(np.searchsorted(size_at_end, target, side="right")))]
    n = int(keep[-1]) + 1
    table = np.array([r + b" " for r in rendered] + [r + b"\n" for r in rendered],
                     dtype=object)
    return (table[idx[:n] + eol[:n] * len(rendered)].tolist(), keep,
            int(np.unique(tok[:n]).size))


def make_corpus(root: str, seed: int, files: int = 16,
                target_mb: float = 2.0) -> tuple[str, dict]:
    """Write (once per seed) the text corpus under ``root``; return its
    directory and stats (the n-gram stats are filled in by the caller's
    reference count and cached beside the files)."""
    out = os.path.join(root, f"corpus-s{seed}-f{files}-m{target_mb:g}")
    stats_path = out + ".json"
    if os.path.exists(stats_path):
        with open(stats_path) as fh:
            return out, json.load(fh)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pieces, line_ends, words = corpus_bytes(seed, target_mb)
    # split on line boundaries into ``files`` files of about equal size, so
    # that the input splits, and so the tasks, are balanced for every seed
    targets = np.arange(1, files) * len(pieces) / files
    cut = line_ends[np.searchsorted(line_ends, targets)] + 1
    bounds = [0, *cut.tolist(), len(pieces)]
    total = 0
    for f in range(files):
        data = b"".join(pieces[bounds[f]:bounds[f + 1]])
        total += len(data)
        with open(os.path.join(tmp, f"part-{f:03d}.txt"), "wb") as fh:
            fh.write(data)
    stats = {"seed": seed, "files": files, "bytes": total,
             "lines": int(line_ends.size),
             "rendered_tokens": len(pieces), "distinct_words": words}
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _write_json(stats_path, stats)
    return out, stats


def _write_json(path: str, obj: dict) -> None:
    """Write ``obj`` to ``path`` atomically: a stats file exists only once
    the data it describes is complete."""
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh, sort_keys=True)
    os.replace(path + ".tmp", path)


def update_stats(data_dir: str, extra: dict) -> dict:
    """Merge ``extra`` into the stats recorded beside ``data_dir``."""
    with open(data_dir + ".json") as fh:
        stats = json.load(fh)
    stats.update(extra)
    _write_json(data_dir + ".json", stats)
    return stats


# --- star schema -------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = ("a agg batch big column customer data fast filter group hash join "
              "key line merge order part query row scan slow small sort spark "
              "stream table the value vector window").split()
_LANGS = ["en", "de", "es", "fr", "zh"]


def _fmt(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}{k:09d}" for k in keys.tolist()]


def _days(base: str, offsets: np.ndarray) -> np.ndarray:
    return (np.datetime64(base, "D") + offsets).astype("datetime64[us]")


def star_tables(seed: int, sf: float) -> dict:
    """Column dicts for the ten tables at scale factor ``sf`` (sf=0.1 gives
    600,000 lineitem rows, like the engine's sf0.1 fixture)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed % 2**64, 3])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 100)
    # recall is steady across seeds only with ~1000 exact pairs, which
    # takes about 2000 vectors
    n_emb = max(int(20_000 * sf), 2_000)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t = {}
    t["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(_REGIONS)}
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = {"n_nationkey": pa.array(nk),
                   "n_name": pa.array([f"NATION_{k}" for k in nk.tolist()]),
                   "n_regionkey": pa.array(nk % 5)}
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": pa.array(ck), "c_name": pa.array(_fmt("Customer#", ck)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)])}
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": pa.array(sk), "s_name": pa.array(_fmt("Supplier#", sk)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))}
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    t["part"] = {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names[rng.integers(0, names.size, n_part)]),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)]),
        "p_type": pa.array(np.array(_PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1))}
    ok = np.arange(n_ord, dtype=np.int64)
    t["orders"] = {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days("1995-01-01", rng.integers(0, 2404, n_ord))),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)])}
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days("1995-01-02", rng.integers(0, 2498, n_li)))}
    # events: ids follow time order; microsecond timestamps with no ties
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10**6
    ts = np.unique(rng.integers(0, span, int(n_ev * 1.01) + 10))[:n_ev]  # sorted
    n_ev = ts.size
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array((start + ts).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 10), n_ev,
                                         dtype=np.int64)),
        "event_type": pa.array(np.array(_EVENTS)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev).tolist()])}
    # documents: 10-100 words from a 31-word vocabulary; 5% are an earlier
    # document plus " dup" (near duplicates), 0.2% exact copies
    lens = rng.integers(10, 101, n_doc)
    wid = rng.integers(0, len(_DOC_WORDS), int(lens.sum()))
    vocab = np.array(_DOC_WORDS, dtype=object)
    splits = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(vocab[wid], splits)]
    kind = rng.random(n_doc)
    src = rng.integers(0, np.maximum(np.arange(n_doc), 1))
    for i in range(1, n_doc):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(
            5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))}
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))}
    return t


def make_tables(root: str, seed: int, sf: float) -> tuple[str, dict]:
    """Write (once per seed and scale) the star schema as one parquet file
    per table; return the directory and per-table row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(root, f"tables-s{seed}-sf{sf:g}")
    stats_path = out + ".json"
    if os.path.exists(stats_path):
        with open(stats_path) as fh:
            return out, json.load(fh)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = {}
    for name, cols in star_tables(seed, sf).items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        rows[name] = table.num_rows
    stats = {"seed": seed, "sf": sf, "rows": rows, "bytes": sum(
        os.path.getsize(os.path.join(tmp, f)) for f in os.listdir(tmp))}
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _write_json(stats_path, stats)
    return out, stats
