"""Seeded input generator for the graft benchmark.

The program under test only ever sees the parquet tables written here, one
file per table with one row group, the layout of the repository's fixtures.
The same (workload, seed) always gives the same bytes.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

Side files that the checks need but the program must not see (the planted
near-duplicate groups) go to `<out_dir>/../truth/`.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 1; sf 0.1 matches the repository's sf0.1
# fixtures (600,000 lineitem rows).
ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
}
# Scale factor of the etl_templates star schema, and the corpus size.
STAR_SF = 0.02
CORPUS_DOCS = 2_000
WORKLOADS = ["curation_corpus", "etl_templates"]
SMALL_DOCS = 500          # documents/embeddings tables beside the star schema
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "der", "die",
             "und", "le", "la", "les", "et", "el", "los", "y", "es", "una"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30, compression="snappy")


def _words(rng, n_vocab):
    """Pseudo-words of 3..9 lowercase letters, all distinct."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen, out = set(STOPWORDS), []
    while len(out) < n_vocab:
        w = "".join(rng.choice(letters, rng.integers(3, 10)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out)


def _texts(rng, vocab, lengths):
    """Word draws with weight rank^-0.5, one stopword in ~6 tokens. The
    mild skew keeps word 3-shingles shared by many documents rare, so
    the pair joins of the near-duplicate oracles stay small."""
    p = np.arange(1, len(vocab) + 1) ** -0.5
    p /= p.sum()
    total = int(lengths.sum())
    toks = vocab[rng.choice(len(vocab), total, p=p)]
    stop = rng.random(total) < 0.16
    toks[stop] = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), stop.sum())]
    out, i = [], 0
    for n in lengths:
        out.append(list(toks[i:i + n]))
        i += n
    return out


def documents(rng, n):
    """A corpus with planted exact-duplicate and near-duplicate groups and
    a few low-quality documents. Returns (columns, truth rows)."""
    vocab = _words(rng, 6000)
    n_low = n // 40
    n_exact = n // 12        # extra exact copies
    n_near = n // 8          # extra near copies
    n_base = n - n_low - n_exact - n_near
    base = _texts(rng, vocab, rng.integers(25, 70, n_base))
    docs, group, kind = [], [], []
    for i, t in enumerate(base):
        docs.append(t); group.append(i); kind.append("base")
    # each planted copy gets a base of its own, so every run plants the
    # same number of duplicate pairs
    picked = rng.choice(n_base, n_exact + n_near, replace=False)
    for g in picked[:n_exact]:
        docs.append(list(base[g])); group.append(int(g)); kind.append("exact")
    for g in picked[n_exact:]:
        t = list(base[g])
        # one token in 50 substituted, at least one: the 3-shingle Jaccard
        # to the base stays >= ~0.7
        n_sub = max(1, len(t) // 50)
        for pos in rng.choice(len(t), n_sub, replace=False):
            t[pos] = vocab[rng.integers(0, len(vocab))]
        docs.append(t); group.append(int(g)); kind.append("near")
    punct = np.array(["!!", "??", "..", ";;", "--", "**"])
    for _ in range(n_low):
        if rng.random() < 0.5:  # too short
            t = list(vocab[rng.integers(0, len(vocab), rng.integers(3, 9))])
        else:                   # punctuation-heavy
            t = [f"{w}{punct[rng.integers(0, len(punct))]}"
                 for w in vocab[rng.integers(0, len(vocab), rng.integers(20, 40))]]
        docs.append(t); group.append(-1); kind.append("low")
    # ids are a permutation, so planted groups are not contiguous
    ids = rng.permutation(len(docs)).astype(np.int64)
    order = np.argsort(ids)
    text = [" ".join(docs[j]) for j in order]
    cols = {
        "doc_id": pa.array(ids[order]),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, len(text))]),
        "source": pa.array([f"src{j % 20}" for j in range(len(text))]),
        "n_chars": pa.array(np.array([len(t) for t in text], np.int64)),
    }
    truth = {
        "doc_id": pa.array(ids[order]),
        "group_id": pa.array(np.array(group, np.int64)[order]),
        "kind": pa.array(np.array(kind)[order]),
    }
    return cols, truth


def star(rng, out, sf):
    n = {k: int(v * sf) for k, v in ROWS_PER_SF.items()}
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, c)])})
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s))})
    p = n["part"]
    pk = np.arange(p, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, p), rng.integers(0, 7, p))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, p)]),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 2))})
    o = n["orders"]
    days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    odate = EPOCH_1995 + rng.integers(0, days + 1, o) * DAY_US
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, o)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, o)])})
    li = n["lineitem"]
    lok = rng.integers(0, o, li)
    qty = rng.integers(1, 51, li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, p, li)),
        "l_suppkey": pa.array(rng.integers(0, s, li)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, li)]),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, li) * DAY_US)})
    e = n["events"]
    _write(out, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, e))),
        "user_id": pa.array(rng.integers(0, max(150, e // 60), e)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, e)]),
        "value": pa.array(_money(rng, 0.01, 490.0, e)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})
    docs, _ = documents(rng, SMALL_DOCS)
    _write(out, "documents", docs)
    m = SMALL_DOCS
    emb = rng.normal(0, 0.15, (m, EMBED_DIM)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m).astype(np.int32))})
    return n


def etl_batches(rng, out, n_customer):
    """The mutation batches of etl_templates: an upsert batch over
    `customer` (changed balances, new keys, planted null keys) and a list
    of keys to delete."""
    n_upd, n_new, n_null = n_customer // 10, n_customer // 20, n_customer // 100
    upd = rng.choice(n_customer, n_upd, replace=False).astype(np.int64)
    keys = np.concatenate([upd, np.arange(n_customer, n_customer + n_new)])
    k = len(keys) + n_null
    key_arr = pa.array(list(keys) + [None] * n_null, pa.int64())
    _write(out, "cust_batch", {
        "c_custkey": key_arr,
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, k)])})
    dels = rng.choice(n_customer + n_new, n_customer // 25, replace=False)
    _write(out, "cust_deletes", {"c_custkey": pa.array(np.sort(dels).astype(np.int64))})


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    if workload == "curation_corpus":
        docs, truth = documents(rng, CORPUS_DOCS)
        _write(out, "documents", docs)
        tdir = os.path.join(os.path.dirname(os.path.abspath(out)), "truth")
        os.makedirs(tdir, exist_ok=True)
        _write(tdir, "planted", truth)
    else:
        n = star(rng, out, STAR_SF)
        etl_batches(rng, out, n["customer"])


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
