"""Seeded input generators for the benchmark.

Both generators are pure functions of their seed: the same seed writes the
same bytes.

* `write_gate_corpus` writes the ten parquet tables the gate queries read, in
  the layout and value distributions of the engine's sf0.01 test corpus
  (TPC-H-ish star schema plus `events`, `documents` and `embeddings`).
* `write_wordcount_corpus` writes a Zipf-distributed text corpus for the
  MapReduce word-count job and returns the word counts it wrote, so the
  job's output can be checked against counts recorded at write time rather
  than against a second tokenizer.
"""
import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 corpus. documents and embeddings do not scale
# with sf in the engine's corpus; they are 500 rows at sf0.001 and sf0.01.
GATE_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
EVENT_USERS = 150

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

# The reference word-count task splits lines on runs of these characters
# (graft.tasks.WordCount.DelimRegex = "[ ,.\"']+").
WORD_DELIMS = " ,.\"'"


def _days(rng, start, end, n):
    """n uniform midnight timestamps in [start, end], as microseconds."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = int((start - datetime.date(1970, 1, 1)).days)
    return pa.array((base + d) * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_gate_corpus(out_dir, seed):
    """Write the gate's ten parquet tables under `out_dir` for `seed`."""
    rng = np.random.default_rng([seed, 1])
    n = GATE_ROWS
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    k = np.arange(n["customer"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(k, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": pa.array(rng.integers(0, 25, len(k)), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, len(k))]})
    k = np.arange(n["supplier"])
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(k, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": pa.array(rng.integers(0, 25, len(k)), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(k))})
    k = np.arange(n["part"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, len(k)), rng.integers(0, 8, len(k)))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, len(k))],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, len(k))],
        "p_size": pa.array(rng.integers(1, 51, len(k)), pa.int32()),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2)})
    k = np.arange(n["orders"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(k, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], len(k)), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, len(k))],
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(k)),
        "o_orderdate": _days(rng, datetime.date(1995, 1, 1),
                             datetime.date(2001, 8, 1), len(k)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, len(k))]})
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, datetime.date(1995, 1, 2),
                            datetime.date(2001, 11, 4), m)})
    m = n["events"]
    start_us = int((datetime.datetime(2024, 1, 1) -
                    datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    gaps = np.maximum(1, (rng.exponential(259.0, m) * 1e6).astype(np.int64))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": pa.array(start_us + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, m), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, m)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, m), 2)),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, m)]})
    m = n["documents"]
    texts = [" ".join(DOC_WORDS[i] for i in rng.integers(0, len(DOC_WORDS), w))
             for w in rng.integers(10, 100, m)]
    # One document in twenty is an earlier or later document plus " dup":
    # the near-duplicate pairs the dedup operators look for.
    for i in np.flatnonzero(rng.random(m) < 0.05):
        texts[i] = texts[int(rng.integers(0, m))] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(m), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, m, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(m)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    v = rng.standard_normal((m, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet", compression="snappy")


def vocabulary(rng, size):
    """`size` distinct lowercase words of 2 to 12 letters, in draw order."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", np.uint8)
    seen = {}
    while len(seen) < size:
        for ln in rng.integers(2, 13, size):
            seen.setdefault(letters[rng.integers(0, 26, ln)].tobytes().decode(), None)
            if len(seen) == size:
                break
    return list(seen)


def write_wordcount_corpus(paths, seed, total_tokens, vocab=50_000, zipf_s=1.1):
    """Write a Zipf(s) text corpus of `total_tokens` words split over `paths`.

    Tokens are drawn from a seeded vocabulary of lowercase words and joined
    by separators made only of delimiter characters, so tokenizing with the
    word-count task's delimiter set yields exactly the drawn tokens. The
    token count, not the byte count, is fixed, so every seed gives the job
    the same number of pairs. Returns {word: count} over every file written.
    """
    rng = np.random.default_rng([seed, 2])
    words = vocabulary(rng, vocab)
    wbytes = np.array([w.encode() for w in words], dtype=object)
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    cdf = np.cumsum(p / p.sum())
    # Ranks are shuffled over the vocabulary so hot words land in every
    # reduce partition rather than in alphabetical clumps.
    rank_to_word = rng.permutation(vocab)
    seps = np.array([b" ", b" ", b" ", b", ", b". ", b" \"", b"' ", b" '",
                     b"\" "], dtype=object)
    counts = np.zeros(vocab, np.int64)
    words_per_line = 12
    for path in paths:
        left = total_tokens // len(paths)
        with open(path, "wb") as f:
            while left > 0:
                n = min(200_000, left)
                left -= n
                idx = rank_to_word[np.searchsorted(cdf, rng.random(n), side="right")
                                   .clip(0, vocab - 1)]
                counts += np.bincount(idx, minlength=vocab)
                sep = seps[rng.integers(0, len(seps), n)]
                sep[words_per_line - 1::words_per_line] = b"\n"
                sep[-1] = b"\n"
                f.write(b"".join(np.column_stack([wbytes[idx], sep]).ravel()))
    return {words[i]: int(c) for i, c in enumerate(counts) if c}
