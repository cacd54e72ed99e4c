"""Checks of a run's inputs and outputs, independent of the program.

Expected results come from DuckDB over the generated tables (the `oracle`
SQL of the checked `SparkEntry.queries` entries, or SQL written here).
Files are read back with readers other than graft's: DuckDB for parquet,
Python's json and csv modules for text, a pure-Python TFRecord reader with
its own crc32c, and, for Avro, avro-core's GenericDatumReader in the
benchmark's JVM (its per-file summary is `avro.json`). `check` returns the
list of problems found; an empty list means every check passed.
"""
import csv
import glob
import gzip
import itertools
import json
import re
import struct
from pathlib import Path

import duckdb

import gen

# Recall floors for the planted near-duplicate pairs. Exact n-gram Jaccard
# finds every planted pair; MinHash-LSH (16 hashes, 4 bands) and SimHash
# (Hamming <= 3 of 48 bits) are probabilistic, so their floors sit below
# what they find; every run of the reference sets (README) met them.
RECALL_FLOOR = {"d_ngram_jaccard": 1.0, "d_minhash_lsh": 0.80, "d_simhash_neardup": 0.60}
PAIR_THRESHOLD = {"d_ngram_jaccard": 0.2, "d_minhash_lsh": 0.5}
# Entries whose DuckDB oracle takes 10-12 s on the corpus (per-row list
# recomputation; a recursive CTE): recomputed here in Python instead.
RECOMPUTED = {"d_ngram_jaccard", "d_dedup_clusters"}


def check(workload, work, res, seed):
    work = Path(work)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{work / 'tmp'}'")
    for f in sorted((work / "in").glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    problems = check_inputs(con, workload, work, seed)
    last = work / "jvm" / f"pass_{int(res['facts']['last_pass'])}"
    if workload == "etl_templates":
        problems += check_etl(con, work, last, res)
    else:
        problems += check_curation(con, work, last)
    return problems


def _expect(problems, ok, what):
    if not ok:
        problems.append(what)


def _rows(con, sql):
    return sorted(con.execute(sql).fetchall())


# ---------------------------------------------------------------- inputs

def check_inputs(con, workload, work, seed):
    p = []
    regen = work / "regen" / "in"
    gen.generate(workload, seed, str(regen))
    for f in sorted((work / "in").glob("*.parquet")):
        _expect(p, f.read_bytes() == (regen / f.name).read_bytes(),
                f"generator: {f.name} differs between two generations with seed {seed}")
    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    if workload == "curation_corpus":
        n = gen.CORPUS_DOCS
        _expect(p, one("SELECT count(*) = count(DISTINCT doc_id) AND min(doc_id) = 0 "
                       f"AND max(doc_id) = {n - 1} FROM documents"),
                "generator: doc_id is not 0..n-1 without gaps")
        _expect(p, one(f"SELECT count(*) FROM documents") == n, "generator: corpus size")
        _expect(p, one("SELECT bool_and(n_chars = length(text)) AND bool_and(lang IN "
                       "('de','en','es','fr','zh')) FROM documents"),
                "generator: n_chars or lang out of range")
        truth = work / "truth" / "planted.parquet"
        _expect(p, one(f"""SELECT count(*) = 0 FROM read_parquet('{truth}') t
            JOIN documents d USING (doc_id)
            JOIN read_parquet('{truth}') b ON b.group_id = t.group_id AND b.kind = 'base'
            JOIN documents bd ON bd.doc_id = b.doc_id
            WHERE t.kind = 'exact' AND d.text <> bd.text"""),
                "generator: an exact copy differs from its base")
        return p
    n = {k: int(v * gen.STAR_SF) for k, v in gen.ROWS_PER_SF.items()}
    for table, key in [("customer", "c_custkey"), ("orders", "o_orderkey"),
                       ("part", "p_partkey"), ("supplier", "s_suppkey"),
                       ("events", "event_id"), ("lineitem", None)]:
        _expect(p, one(f"SELECT count(*) FROM {table}") == n[table], f"generator: {table} rows")
        if key:
            _expect(p, one(f"SELECT count(DISTINCT {key}) = count(*) AND min({key}) = 0 "
                           f"FROM {table}"), f"generator: {table}.{key} not unique from 0")
    ranges = {
        "customer": "c_acctbal BETWEEN -999.99 AND 9999.99 AND c_nationkey BETWEEN 0 AND 24",
        "orders": f"o_custkey BETWEEN 0 AND {n['customer'] - 1} AND o_orderdate "
                  "BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '2001-08-01'",
        "lineitem": f"l_orderkey BETWEEN 0 AND {n['orders'] - 1} AND l_quantity BETWEEN 1 AND 50 "
                    "AND l_discount BETWEEN 0 AND 0.1 AND l_tax BETWEEN 0 AND 0.08",
        "part": "p_size BETWEEN 1 AND 50 AND p_retailprice BETWEEN 900 AND 999.9",
    }
    for table, cond in ranges.items():
        _expect(p, one(f"SELECT bool_and({cond}) FROM {table}"), f"generator: {table} ranges")
    _expect(p, one("SELECT count(*) FILTER (c_custkey IS NULL) = "
                   f"{n['customer'] // 100} AND count(DISTINCT c_custkey) = count(c_custkey) "
                   "FROM cust_batch"), "generator: cust_batch null or duplicate keys")
    return p


# ------------------------------------------------------------------- etl

_T = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ (0x82F63B78 if _c & 1 else 0)
    _T.append(_c)


def crc32c(data):
    c = 0xFFFFFFFF
    for x in data:
        c = _T[(c ^ x) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def masked_crc(data):
    c = crc32c(data)
    return ((((c >> 15) | (c << 17)) & 0xFFFFFFFF) + 0xA282EAD8) & 0xFFFFFFFF


def _varint(b, i):
    v = s = 0
    while True:
        x = b[i]
        i += 1
        v |= (x & 0x7F) << s
        s += 7
        if x < 0x80:
            return v, i


def _fields(b):
    """(field number, wire type, value) of one protobuf message."""
    i = 0
    while i < len(b):
        tag, i = _varint(b, i)
        f, w = tag >> 3, tag & 7
        if w == 0:
            v, i = _varint(b, i)
        elif w == 2:
            n, i = _varint(b, i)
            v, i = b[i:i + n], i + n
        elif w == 5:
            v, i = b[i:i + 4], i + 4
        elif w == 1:
            v, i = b[i:i + 8], i + 8
        else:
            raise ValueError(f"wire type {w}")
        yield f, w, v


def parse_example(b):
    """tf.train.Example -> {feature name: list of values}."""
    out = {}
    for f, _, features in _fields(b):
        assert f == 1
        for _, _, entry in _fields(features):
            kv = dict((k, v) for k, _, v in _fields(entry))
            name = kv[1].decode()
            kind, w, lst = next(_fields(kv[2]))
            vals = []
            for _, w2, v in _fields(lst):
                if kind == 1:
                    vals.append(bytes(v).decode())
                elif kind == 3 and w2 == 2:  # packed int64
                    j = 0
                    while j < len(v):
                        x, j = _varint(v, j)
                        vals.append(x - (1 << 64) if x >= 1 << 63 else x)
                elif kind == 3:
                    vals.append(v - (1 << 64) if v >= 1 << 63 else v)
                elif kind == 2 and w2 == 2:  # packed float
                    vals += list(struct.unpack(f"<{len(v) // 4}f", v))
                else:
                    vals.append(struct.unpack("<f", v)[0])
            out[name] = vals
    return out


def read_tfrecord(path):
    """Records of a gzip TFRecord file; raises on bad framing or crc."""
    data = gzip.decompress(Path(path).read_bytes())
    i, recs = 0, []
    while i < len(data):
        header = data[i:i + 8]
        (n,) = struct.unpack("<Q", header)
        (hcrc,) = struct.unpack("<I", data[i + 8:i + 12])
        if hcrc != masked_crc(header):
            raise ValueError(f"{path}: length crc mismatch at {i}")
        payload = data[i + 12:i + 12 + n]
        (pcrc,) = struct.unpack("<I", data[i + 12 + n:i + 16 + n])
        if len(payload) != n or pcrc != masked_crc(payload):
            raise ValueError(f"{path}: payload crc mismatch at {i}")
        recs.append(payload)
        i += 16 + n
    return recs


def _listing(path):
    return Path(path).read_text().split("\n") if Path(path).exists() else None


# DuckDB forms of the queries EtlTemplates.scala runs.
ORDERS_BY_MONTH = """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
    substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS ym FROM orders"""
LINEITEM_CSV = ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag "
                "FROM lineitem")
CSV_HEADER = "l_orderkey,l_linenumber,l_quantity,l_extendedprice,l_returnflag"
CUSTOMER_NATION = """SELECT c_custkey, c_name, c_acctbal, c_mktsegment, n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey"""
ORDERS_TF = "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders"
ORDERS_BY_PRIORITY = """SELECT o_orderpriority, count(*) AS n_orders,
    sum(o_orderkey)::BIGINT AS key_sum FROM orders GROUP BY o_orderpriority"""
ORDERS_DOCS = """SELECT o_orderkey, o_custkey, o_orderpriority,
    CASE WHEN o_orderkey % 40 = 0 THEN repeat(o_orderpriority, 200) ELSE o_orderstatus END AS note
    FROM orders"""
# seed from customer, upsert the non-null batch rows, then delete
EXPECTED_CUSTOMER = """WITH b AS (SELECT * FROM cust_batch WHERE c_custkey IS NOT NULL),
    up AS (SELECT * FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM b)
           UNION ALL SELECT * FROM b)
    SELECT * FROM up WHERE c_custkey NOT IN (SELECT c_custkey FROM cust_deletes)"""


def check_etl(con, work, d, res):
    p = []
    facts = res["facts"]
    last = int(facts["last_pass"])
    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731

    # query-to-text, JSON split by month: exact names, rows per file, notify
    files = sorted(glob.glob(f"{d}/text/orders_*.json"))
    want = {ym: [r[1:] for r in rows] for ym, rows in itertools.groupby(
        _rows(con, f"SELECT ym, o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                   f"o_orderpriority FROM ({ORDERS_BY_MONTH})"),
        key=lambda r: r[0])}
    _expect(p, [f"{d}/text/orders_{k}.json" for k in sorted(want)] == files,
            "query_to_text_json: file names differ from the distinct split keys")
    for f in files:
        ym = f[len(f"{d}/text/orders_"):-len(".json")]
        got = []
        for line in Path(f).read_text().splitlines():
            r = json.loads(line)
            _expect(p, r["ym"] == ym, f"query_to_text_json: row of {r['ym']} in {f}")
            got.append((r["o_orderkey"], r["o_custkey"], r["o_orderstatus"],
                        r["o_totalprice"], r["o_orderpriority"]))
        _expect(p, sorted(got) == want.get(ym), f"query_to_text_json: rows of {f}")
    _expect(p, _listing(f"{d}/notify/text_json.txt") == files, "query_to_text_json: notify listing")

    # query-to-text, CSV with a header
    f = f"{d}/text/lineitem.csv"
    with open(f, newline="") as fh:
        lines = list(csv.reader(fh))
    _expect(p, lines[0] == CSV_HEADER.split(","), "query_to_text_csv: header line")
    got = sorted((int(a), int(b), float(c), float(e), g) for a, b, c, e, g in lines[1:])
    _expect(p, got == _rows(con, LINEITEM_CSV), "query_to_text_csv: rows")

    # query-to-avro split by segment, read back with avro-core in the driver
    avro = json.loads((work / "jvm" / "avro.json").read_text())
    seg = {r[0]: r[1:] for r in con.execute(
        f"SELECT c_mktsegment, count(*), sum(c_custkey) FROM ({CUSTOMER_NATION}) GROUP BY 1")
        .fetchall()}
    afiles = sorted(k for k in avro if k.startswith(f"{d}/avro/"))
    _expect(p, afiles == [f"{d}/avro/cust_{s}.avro" for s in sorted(seg)],
            "query_to_avro: file names differ from the distinct split keys")
    for k in afiles:
        s = k[len(f"{d}/avro/cust_"):-len(".avro")]
        a = avro[k]
        _expect(p, (a["rows"], a["key_sum"]) == tuple(seg.get(s, (None, None)))
                and a["segments"] == [s], f"query_to_avro: rows of {k}")
    _expect(p, _listing(f"{d}/notify/avro.txt") == afiles, "query_to_avro: notify listing")

    # query-to-tfrecord split by priority: framing, crc32c, features
    tfiles = sorted(glob.glob(f"{d}/tfr/ord_*.tfrecord"))
    got = {}
    for f in tfiles:
        key = re.match(r".*/ord_(.*)-p\d{5}\.tfrecord$", f).group(1)
        for rec in read_tfrecord(f):
            ex = parse_example(rec)
            _expect(p, ex["o_orderpriority"] == [key], f"query_to_tfrecord: key of a row in {f}")
            c, s = got.get(key, (0, 0))
            got[key] = (c + 1, s + ex["o_orderkey"][0])
    want = {r[0]: (r[1], r[2]) for r in con.execute(
        f"SELECT o_orderpriority, count(*), sum(o_orderkey) FROM ({ORDERS_TF}) GROUP BY 1")
        .fetchall()}
    _expect(p, got == want, "query_to_tfrecord: rows per split key")
    _expect(p, _listing(f"{d}/notify/tfr.txt") == tfiles, "query_to_tfrecord: notify listing")

    # query-to-table
    t = work / "jvm" / "warehouse" / f"orders_by_priority_p{last}"
    _expect(p, _rows(con, f"SELECT * FROM read_parquet('{t}/*.parquet')")
            == _rows(con, ORDERS_BY_PRIORITY), "query_to_table: table contents")
    _expect(p, facts[f"table_rows_{last}"] == 5, "query_to_table: returned row count")

    # upsert (with planted null keys), delete: the final table, the counts,
    # the failed-row notify and error branch
    n_cust = int(gen.ROWS_PER_SF["customer"] * gen.STAR_SF)
    n_null = n_cust // 100
    got = _rows(con, f"SELECT * FROM read_parquet('{d}/tables/customer/*.parquet')")
    _expect(p, got == _rows(con, EXPECTED_CUSTOMER), "query_to_upsert/delete: final table")
    after_upsert = one(f"SELECT count(*) FROM (SELECT c_custkey FROM customer UNION "
                       f"SELECT c_custkey FROM cust_batch WHERE c_custkey IS NOT NULL)")
    _expect(p, (facts[f"seed_written_{last}"], facts[f"upsert_written_{last}"],
                facts[f"delete_written_{last}"]) == (n_cust, after_upsert, len(got)),
            "query_to_upsert/delete: written counts")
    _expect(p, Path(f"{d}/notify/failed.txt").read_text() == str(n_null),
            "query_to_upsert: failed-row notify")
    errs = [v for k, v in avro.items() if k.startswith(f"{d}/errors/")]
    _expect(p, sum(v["rows"] for v in errs) == n_null and sum(v["null_keys"] for v in errs)
            == n_null, "query_to_upsert: error-branch rows")

    # keyed documents: key path, entity body, index exclusions
    docs = f"read_parquet('{d}/docs/*.parquet')"
    _expect(p, one(f"""SELECT count(*) = 0 FROM {docs} g FULL JOIN ({ORDERS_DOCS}) o
        ON g.__key__ = 'Order/' || o.o_orderkey
        WHERE g.__key__ IS NULL OR o.o_orderkey IS NULL
           OR g.doc.o_orderkey <> o.o_orderkey OR g.doc.note <> o.note
           OR g.__unindexed__ <> CASE WHEN strlen(o.note) > 1500
                                 THEN ['o_custkey', 'note'] ELSE ['o_custkey'] END"""),
            "query_to_documents: keys, bodies or index exclusions")

    # avro-to-upsert over the Avro files this pass wrote
    _expect(p, _rows(con, f"SELECT c_custkey, c_name, c_acctbal, c_mktsegment, n_name FROM "
                          f"read_parquet('{d}/tables/cust_from_avro/*.parquet')")
            == _rows(con, CUSTOMER_NATION), "avro_to_upsert: table contents")
    _expect(p, facts[f"avro_written_{last}"] == n_cust, "avro_to_upsert: written count")

    # dummy-to-upsert: row count, sequential unique keys, configured ranges
    g = f"read_parquet('{d}/dummy/gen_items/*.parquet')"
    ok = con.execute(f"""SELECT count(*) = 50000 AND count(DISTINCT item_id) = 50000
        AND min(item_id) = 0 AND max(item_id) = 49999
        AND bool_and(qty IS NULL OR qty BETWEEN 1 AND 100)
        AND bool_and(price IS NULL OR price BETWEEN 0.5 AND 99.5)
        AND bool_and(color IS NULL OR color IN ('red', 'green', 'blue'))
        AND bool_and(tag IS NULL OR regexp_full_match(tag,
            '[0-9a-f]{{8}}-[0-9a-f]{{4}}-[0-9a-f]{{4}}-[0-9a-f]{{4}}-[0-9a-f]{{12}}'))
        AND count(qty) BETWEEN 42500 AND 47500 FROM {g}""").fetchone()[0]
    _expect(p, ok, "dummy_to_upsert: generated rows out of contract")
    _expect(p, facts[f"dummy_written_{last}"] == 50000, "dummy_to_upsert: written count")
    return p


# -------------------------------------------------------------- curation

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True) \
        if len(df) else df


def _shingles(text):
    t = re.findall(r"[a-z0-9]+", text.lower())
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def check_curation(con, work, d):
    p = []
    oracle = json.loads((work / "jvm" / "oracle.json").read_text())
    for name, sql in oracle.items():
        if name in RECOMPUTED:
            continue
        got = _canon(con.execute(f"SELECT * FROM read_parquet('{d}/{name}/*.parquet')").df())
        want = _canon(con.execute(sql).df())
        con.register(f"oracle_{name}", want)
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            p.append(f"{name}: shape {list(got.columns)}x{len(got)} vs oracle "
                     f"{list(want.columns)}x{len(want)}")
        elif not got.equals(want):
            p.append(f"{name}: values differ from the DuckDB oracle")

    # near-duplicate pairs against the planted groups
    truth = work / "truth" / "planted.parquet"
    planted = set(con.execute(f"""SELECT a.doc_id, b.doc_id FROM read_parquet('{truth}') a
        JOIN read_parquet('{truth}') b ON a.group_id = b.group_id AND a.doc_id < b.doc_id
        WHERE a.group_id >= 0""").fetchall())
    text = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    sh = {}
    for name in RECALL_FLOOR:
        pairs = con.execute(f"SELECT d1, d2 FROM read_parquet('{d}/{name}/*.parquet')").fetchall()
        recall = len(planted & set(pairs)) / len(planted)
        _expect(p, recall >= RECALL_FLOOR[name],
                f"{name}: planted-pair recall {recall:.3f} below {RECALL_FLOOR[name]}")
        if name in PAIR_THRESHOLD:
            for a, b in pairs:
                sa = sh.setdefault(a, _shingles(text[a]))
                sb = sh.setdefault(b, _shingles(text[b]))
                j = len(sa & sb) / len(sa | sb)
                if j < PAIR_THRESHOLD[name]:
                    p.append(f"{name}: pair ({a}, {b}) has Jaccard {j:.3f}")
                    break

    # exact 3-shingle Jaccard of every pair sharing a shingle
    index = {}
    for doc, t in text.items():
        s = sh.setdefault(doc, _shingles(t))
        for x in s:
            index.setdefault(x, []).append(doc)
    shared = {}
    for docs in index.values():
        docs.sort()
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                shared[a, b] = shared.get((a, b), 0) + 1
    want = {k: n / (len(sh[k[0]]) + len(sh[k[1]]) - n) for k, n in shared.items()}
    want = {k: j for k, j in want.items() if j >= PAIR_THRESHOLD["d_ngram_jaccard"]}
    got = {(a, b): j for a, b, j in con.execute(
        f"SELECT d1, d2, jaccard FROM read_parquet('{d}/d_ngram_jaccard/*.parquet')").fetchall()}
    _expect(p, got.keys() == want.keys() and all(abs(got[k] - want[k]) < 1e-12 for k in got),
            "d_ngram_jaccard: pairs or values differ from the exact recomputation")

    # connected components of the (oracle-checked) MinHash pairs, each
    # labelled with its smallest document id
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in con.execute(f"SELECT d1, d2 FROM read_parquet('{d}/d_minhash_lsh/*.parquet')").fetchall():
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    got = dict(con.execute(
        f"SELECT doc_id, cluster_id FROM read_parquet('{d}/d_dedup_clusters/*.parquet')").fetchall())
    _expect(p, got == want, "d_dedup_clusters: clusters differ from the components of the pairs")

    # the curated corpus: the batch (even ids) that passes the quality
    # oracle, one document (the smallest id) per distinct text, less the
    # second document of each MinHash oracle pair inside that set (the
    # pairs are per pair, so those over the set are the corpus pairs
    # restricted to it); rows unchanged
    corpus = f"read_parquet('{d}/corpus/*.parquet')"
    want = [r[0] for r in _rows(con, """WITH kept AS (
            SELECT min(doc_id) AS doc_id FROM documents JOIN oracle_t_quality q USING (doc_id)
            WHERE doc_id % 2 = 0 AND q.keep GROUP BY text),
        losers AS (SELECT d2 FROM oracle_d_minhash_lsh
                   WHERE d1 IN (SELECT doc_id FROM kept) AND d2 IN (SELECT doc_id FROM kept))
        SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT d2 FROM losers)""")]
    got = [r[0] for r in _rows(con, f"SELECT doc_id FROM {corpus}")]
    _expect(p, got == want, f"corpus_update: {len(got)} documents, expected {len(want)} "
            f"({len(set(want) - set(got))} missing, {len(set(got) - set(want))} extra)")
    _expect(p, con.execute(f"""SELECT count(*) = 0 FROM {corpus} c JOIN documents s USING (doc_id)
        WHERE c.text <> s.text OR c.lang <> s.lang OR c.source <> s.source
           OR c.n_chars <> s.n_chars""").fetchone()[0], "corpus_update: rows changed")
    return p
