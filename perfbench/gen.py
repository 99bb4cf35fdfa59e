"""Seeded input generators for the benchmark.

Everything the program receives is made here from the run's seed: the
TPC-H-shaped tables (same schemas and value domains as the repository's
sf test data), the small side tables of the agent lake, and the SQL text
of every call. The same seed always gives the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the part column order scan a slow agg key window "
         "table merge vector join spark line small fast group customer batch "
         "sort value hash filter big data").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]

US_PER_DAY = 86_400_000_000


def _ts(days_us):
    return pa.array(days_us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(seed, sf):
    """The ten sf tables as {name: pyarrow.Table}, sized like the repo's sf data."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    day0 = 9131  # 1995-01-01 in days since epoch
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts((day0 + rng.integers(0, 2404, n_ord)) * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts((day0 + 1 + rng.integers(0, 2498, n_line)) * US_PER_DAY)})
    ev_ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)) + 19723 * US_PER_DAY  # 2024-01-01
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def side_tables(seed, n_tables):
    """Small auxiliary tables an agent lake accumulates (rarely queried)."""
    rng = np.random.default_rng(seed + 7919)
    out = {}
    for i in range(n_tables):
        n = int(rng.integers(200, 2001))
        out[f"aux_{i:02d}"] = pa.table({
            "id": pa.array(np.arange(n), pa.int64()),
            "k": pa.array(rng.integers(0, 20, n), pa.int32()),
            "name": [f"item{j}" for j in rng.integers(0, 500, n)],
            "v": _money(rng, 0.0, 1000.0, n)})
    return out


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


# ---------------------------------------------------------------- agent SQL
AGENT_NAMESPACES = {"tpch": ["region", "nation", "customer", "supplier", "part", "orders",
                             "lineitem", "events"],
                    "text": ["documents", "embeddings"]}
ANALYZED = {"orders": ["o_totalprice", "o_custkey"], "part": ["p_retailprice", "p_size"]}


def _day(days):
    return f"{np.datetime64('1970-01-01') + np.timedelta64(days, 'D')} 00:00:00"


def _date(rng):
    return _day(9131 + int(rng.integers(0, 2400)))


def select_templates():
    """The agent's SELECT templates: filter, aggregate, join, window and
    top-k shapes; every ORDER BY is total so LIMIT is deterministic."""
    return [
        lambda r, n: ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > "
                      f"{int(r.integers(1000, 450000))} AND o_orderstatus = '{'FOP'[int(r.integers(0, 3))]}' "
                      f"ORDER BY o_orderkey LIMIT {[10, 100, 1000][int(r.integers(0, 3))]}"),
        lambda r, n: ("SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total FROM orders "
                      f"WHERE o_orderdate >= TIMESTAMP '{_date(r)}' GROUP BY o_orderpriority "
                      "ORDER BY o_orderpriority"),
        lambda r, n: ("SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS qty, AVG(l_discount) AS disc, "
                      f"COUNT(*) AS n FROM lineitem WHERE l_shipdate <= TIMESTAMP '{_date(r)}' "
                      "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
        lambda r, n: ("SELECT c.c_mktsegment, COUNT(*) AS n, SUM(o.o_totalprice) AS rev FROM orders o "
                      "JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = "
                      f"{int(r.integers(0, 25))} GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"),
        lambda r, n: (lambda d: (
            "SELECT n.n_name, COUNT(*) AS n, SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev "
            "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey JOIN nation n "
            f"ON s.s_nationkey = n.n_nationkey WHERE l.l_shipdate >= TIMESTAMP '{_day(d)}' "
            f"AND l.l_shipdate < TIMESTAMP '{_day(d + 30 + int(r.integers(0, 60)))}' "
            "GROUP BY n.n_name ORDER BY n.n_name"))(9131 + int(r.integers(0, 2400))),
        lambda r, n: (lambda a: (
            "SELECT o_custkey, o_orderkey, o_totalprice, RANK() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey) AS r FROM orders WHERE o_custkey BETWEEN "
            f"{a} AND {a + 40} ORDER BY o_custkey, r"))(int(r.integers(0, n["customer"] - 41))),
        lambda r, n: ("SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_brand = "
                      f"'Brand#{int(r.integers(1, 26))}' AND p_size > {int(r.integers(1, 45))} "
                      f"ORDER BY p_retailprice DESC, p_partkey LIMIT {int(r.integers(5, 50))}"),
        lambda r, n: ("SELECT event_type, COUNT(*) AS n, AVG(value) AS avg_value FROM events "
                      f"WHERE user_id < {int(r.integers(10, 1500))} GROUP BY event_type ORDER BY event_type"),
        lambda r, n: ("SELECT doc_id, lang, source, n_chars FROM documents WHERE lang = "
                      f"'{LANGS[int(r.integers(0, 5))]}' AND n_chars > {int(r.integers(40, 500))} "
                      "ORDER BY doc_id LIMIT 1000"),
        lambda r, n: ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_acctbal > "
                      f"{int(r.integers(-900, 9000))} ORDER BY c_custkey LIMIT 1000"),
        lambda r, n: (f"SELECT k, COUNT(*) AS n, SUM(v) AS total FROM aux_{int(r.integers(0, n['side'])):02d} "
                      f"WHERE v > {int(r.integers(0, 900))} GROUP BY k ORDER BY k"),
        lambda r, n: ("SELECT s_suppkey, s_acctbal, SUM(s_acctbal) OVER (PARTITION BY s_nationkey "
                      "ORDER BY s_suppkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running "
                      f"FROM supplier WHERE s_nationkey = {int(r.integers(0, 25))} ORDER BY s_suppkey"),
    ]


def catalog_verbs(namespaces):
    """The agent's catalog verbs, each a function of (rng) -> SQL."""
    tables = [(ns, t) for ns, ts in sorted(namespaces.items()) for t in ts]

    def pick(r):
        return tables[int(r.integers(0, len(tables)))]
    analyzed = sorted(ANALYZED)
    return [
        lambda r: "LIST NAMESPACES",
        lambda r: f"LIST TABLES IN {sorted(namespaces)[int(r.integers(0, len(namespaces)))]}",
        lambda r: "DESCRIBE TABLE {}.{}".format(*pick(r)),
        lambda r: "SHOW SNAPSHOTS IN {}.{}".format(*pick(r)),
        lambda r: "SHOW FILES IN {}.{}".format(*pick(r)),
        lambda r: f"SHOW STATS IN tpch.{analyzed[int(r.integers(0, len(analyzed)))]}",
        lambda r: "SHOW CREATE TABLE {}.{}".format(*pick(r)),
    ]


# The SELECT shapes in the order a cycle uses them.
SELECT_ORDER = [0, 3, 5, 6, 9, 1, 4, 10, 2, 8, 11, 7]


def agent_cycles(seed, namespaces, sizes):
    """Endless seeded agent session, one cycle at a time. A cycle is a list
    of (kind, tool, sql, op): every SELECT template once, every catalog verb
    once and one COUNT(*) -- 12 SELECTs, 7 verbs and 1 count, the session's
    60/35/5 mix. The agent looks round the catalog, then queries. Shapes and
    verbs come in a fixed order, so every cycle of every seed holds the same
    mix; the seed picks tables and literals."""
    r = np.random.default_rng(seed + 101)
    verbs, temps = catalog_verbs(namespaces), select_templates()
    tables = [(ns, t) for ns, ts in sorted(namespaces.items()) for t in ts]
    kinds = ["catalog"] * len(verbs) + ["select"] * len(SELECT_ORDER) + ["count"]
    while True:
        shapes, verb_ids, calls = iter(SELECT_ORDER), iter(range(len(verbs))), []
        for kind in kinds:
            if kind == "select":
                t = next(shapes)
                calls.append((kind, "query_table", temps[t](r, sizes), f"t{t:02d}"))
            elif kind == "catalog":
                sql = verbs[next(verb_ids)](r)
                calls.append((kind, "query_catalog", sql, " ".join(sql.split()[:2])))
            else:
                ns, t = tables[int(r.integers(0, len(tables)))]
                calls.append((kind, "query_table", f"SELECT COUNT(*) FROM {ns}.{t}", kind))
        yield calls
