"""Seeded input generator for the benchmark.

Writes the ten tables the queries read (`region` .. `embeddings`) as
parquet files with the same column names and physical types as the
program's test fixtures. The same seed always gives the same bytes.

- The relational tables follow the fixtures' uniform value domains at
  the row counts of scale factor 0.01.
- `documents` draws words from a Zipf distribution over a fixed
  vocabulary of about 20k words whose head is the fixtures' own
  vocabulary, so word count and the inverted index shuffle thousands of
  keys. Document lengths match the fixtures (about 300 characters). A
  stated share of documents are edited copies of earlier ones.
- `embeddings` are unit-norm 64-d vectors drawn around ten centroids,
  with the same number of vectors around each.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 1000, "embeddings": 500,
}
NEAR_DUP_SHARE = 0.2
VOCAB_SIZE = 20000
ZIPF_S = 1.0
EMB_DIM = 64
EMB_CLUSTERS = 10

# The fixtures' document vocabulary, placed at the head of the Zipf ranks.
FIXTURE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def vocabulary():
    """Fixture words first, then distinct letter-only pseudo-words. The
    vocabulary is the same for every seed; only the sampling varies."""
    rng = np.random.default_rng(0)
    onsets = list("bcdfghjklmnprstvwz") + ["ch", "sh", "th", "tr", "st", "pl"]
    vowels = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
    words, seen = list(FIXTURE_WORDS), set(FIXTURE_WORDS)
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        w = "".join(onsets[rng.integers(len(onsets))] + vowels[rng.integers(len(vowels))]
                    for _ in range(n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _ts(start, seconds):
    return pa.array((np.datetime64(start, "us") + (seconds * 1e6).astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def _days(rng, lo, hi, n):
    span = (np.datetime64(hi) - np.datetime64(lo)).astype(int)
    return pa.array(np.datetime64(lo, "us") + rng.integers(0, span + 1, n).astype("timedelta64[D]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def relational(rng, n):
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [["P", "O", "F"][i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li)})
    e = n["events"]
    gaps = rng.exponential(30 * 86400 / e, e)
    t["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": _ts("2024-01-01T00:00:00", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": _money(rng, 0.01, 490.02, e),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)]})
    return t


def documents(rng, vocab, n):
    """Zipf-vocabulary documents. Exactly NEAR_DUP_SHARE of them are copies
    of an original document with a share of their words replaced, dropped
    or inserted; the edit shares are spread evenly over 0-10% so every
    seed has the same mix of close and distant copies."""
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -ZIPF_S)
    cdf /= cdf[-1]
    draw = lambda k: [vocab[min(i, VOCAB_SIZE - 1)] for i in np.searchsorted(cdf, rng.random(k))]
    n_dups = int(round(n * NEAR_DUP_SHARE))
    is_dup = np.zeros(n, dtype=bool)
    is_dup[rng.choice(np.arange(1, n), n_dups, replace=False)] = True
    rates = iter(rng.permutation(np.linspace(0.0, 0.1, n_dups)))
    texts, originals = [], []
    for i in range(n):
        if is_dup[i] and originals:
            words = texts[originals[rng.integers(0, len(originals))]].split(" ")
            rate = next(rates)
            for j in np.flatnonzero(rng.random(len(words)) < rate)[::-1]:
                op = rng.integers(0, 3)
                if op == 0:
                    words[j] = draw(1)[0]
                elif op == 1 and len(words) > 4:
                    del words[j]
                else:
                    words.insert(j, draw(1)[0])
        else:
            words = draw(int(rng.integers(6, 71)))
            originals.append(i)
        texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    return table, n - len(originals)


def embeddings(rng, n):
    cent = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.permutation(np.arange(n) % EMB_CLUSTERS)
    v = cent[label] + 0.6 * rng.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def generate(seed, out_dir):
    """Write every table under out_dir; return a summary of the inputs."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = vocabulary()
    tables = relational(rng, SIZES)
    tables["documents"], n_dups = documents(rng, vocab, SIZES["documents"])
    tables["embeddings"] = embeddings(rng, SIZES["embeddings"])
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    docs = tables["documents"]
    n_chars = np.array(docs.column("n_chars").to_pylist())
    words = {w for t in docs.column("text").to_pylist() for w in t.split(" ")}
    return {
        "seed": seed,
        "rows": {k: v.num_rows for k, v in tables.items()},
        "bytes": sum(os.path.getsize(os.path.join(out_dir, f"{k}.parquet")) for k in tables),
        "documents": {"vocabulary": VOCAB_SIZE, "zipf_s": ZIPF_S,
                      "distinct_words": len(words),
                      "near_dup_share": NEAR_DUP_SHARE, "near_dups": n_dups,
                      "chars_p50": float(np.median(n_chars)),
                      "chars_mean": round(float(n_chars.mean()), 1)},
        "embeddings": {"dim": EMB_DIM, "clusters": EMB_CLUSTERS},
    }


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(int(sys.argv[1]), sys.argv[2])))
