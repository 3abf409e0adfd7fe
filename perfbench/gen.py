"""Seeded inputs for the three workloads: the same seed gives the same bytes.

Nothing here calls the program under test. The checks in checks.py read
these inputs back and compute the expected outputs on their own.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# ---------------------------------------------------------------- regions

def load_regions():
    """The reference's locations.json boxes, ordered by region ID (the
    lowest ID wins a point on a shared edge)."""
    with open(os.path.join(HERE, "locations.json")) as f:
        regs = json.load(f)
    return sorted(regs, key=lambda r: r["ID"])


def region_of(ids, regions=None):
    """Region ID per event id, from the documented synthetic point:
    lon = (-1300 + id % 660) / 10.0, lat = (240 + (id * 7919) % 260) / 10.0,
    inclusive box containment, 'NONE' outside every box."""
    regions = regions or load_regions()
    ids = np.asarray(ids, dtype=np.int64)
    lon = (-1300 + ids % 660) / 10.0
    lat = (240 + (ids * 7919) % 260) / 10.0
    out = np.full(ids.shape, "NONE", dtype=object)
    free = np.ones(ids.shape, dtype=bool)
    for r in regions:
        lo, hi = min(r["east"], r["west"]), max(r["east"], r["west"])
        hit = free & (lon >= lo) & (lon <= hi) & (lat >= r["south"]) & (lat <= r["north"])
        out[hit] = r["ID"]
        free &= ~hit
    return out

# ------------------------------------------------------------ region_live

REGION_LIVE = {
    "events_per_file": 500,
    "event_span_ms": 5000,          # event time covered by one file
    "backlog_files": 6,
    "release_interval_ms": 1000,    # open-loop live schedule: 1 file/s
    "ooo_share": 0.05,              # events stamped up to 20 s early
    "ooo_max_ms": 20000,
    "silent_region": "USA1",
}
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
TS_BASE_US = 1704067200_000_000     # 2024-01-01T00:00:00Z, a 30 s boundary


def live_file_count(seconds):
    return max(4, int(seconds * 1000 // REGION_LIVE["release_interval_ms"]))


def silence_range(backlog, live):
    """File indices in which the silent region carries no events: the
    middle third of the live phase."""
    return backlog + live // 3, backlog + (2 * live) // 3


def gen_region_live(out_dir, seed, seconds):
    p = REGION_LIVE
    rng = np.random.default_rng([seed, 1])
    backlog, live = p["backlog_files"], live_file_count(seconds)
    s_lo, s_hi = silence_range(backlog, live)
    regions = load_regions()
    os.makedirs(out_dir, exist_ok=True)
    next_id = 1_000_000 + int(rng.integers(0, 660 * 260))
    files = []
    for k in range(backlog + live):
        n = p["events_per_file"]
        ids = []
        while len(ids) < n:
            cand = next_id + np.cumsum(rng.integers(1, 4, size=2 * n))
            next_id = int(cand[-1])
            if s_lo <= k < s_hi:
                cand = cand[region_of(cand, regions) != p["silent_region"]]
            ids.extend(cand.tolist())
        ids = np.array(ids[:n], dtype=np.int64)
        start_us = TS_BASE_US + k * p["event_span_ms"] * 1000
        ts = start_us + np.sort(rng.integers(0, p["event_span_ms"] * 1000, size=n))
        late = rng.random(n) < p["ooo_share"]
        ts = np.where(late, ts - rng.integers(1, p["ooo_max_ms"] * 1000, size=n), ts)
        tbl = pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, 1500, size=n), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, size=n)]),
            "value": pa.array(np.round(rng.random(n) * 560.0, 2)),
            "props": pa.array(['{"k": %d}' % v for v in rng.integers(0, 100, size=n)]),
        })
        name = "part-%05d.parquet" % k
        pq.write_table(tbl, os.path.join(out_dir, name))
        files.append({"name": name, "events": n})
    meta = {"backlog": backlog, "live": live, "silence": [s_lo, s_hi],
            "release_interval_ms": p["release_interval_ms"], "files": files}
    with open(os.path.join(out_dir, "..", "region_live.json"), "w") as f:
        json.dump(meta, f)
    return meta

# ------------------------------------------------------------ snap_upsert

# Where each value comes from is in perfbench/README.md ("snap_upsert").
SNAP = {
    "base_rows": 60_000,            # orders-shaped; 150,000 (sf0.1) does not fit the run time
    "key_stride": 4,                # base keys are multiples of 4; inserts fill the gaps
    "buckets": 8,                   # range layout with 8 buckets, as the s06/s07 legs
    "hot_keys": 3000,
    "zipf_s": 1.1,
    # SnapOps.delta1's 10 : 5 : 1 update : delete : insert mix, at about
    # 1 % of the base per commit (s06 commits 1 % of customer each time)
    "updates": 400, "deletes": 200, "inserts": 40,
    "warmup_commits": 1,
    # the writer commits whole rounds of this pattern, so every run has the
    # same mix of bucket-local and table-wide deltas
    "round": ["one_bucket", "all_buckets", "all_buckets"],
}
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DATE_BASE_US = 788918400_000_000    # 1995-01-01


def delta_count(seconds):
    return SNAP["warmup_commits"] + len(SNAP["round"]) * (2 * seconds + 4)


def _orders_rows(rng, keys):
    n = len(keys)
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15000, size=n), pa.int64()),
        "o_orderstatus": pa.array([STATUSES[i] for i in rng.integers(0, 3, size=n)]),
        "o_totalprice": pa.array(np.round(1000.0 + rng.random(n) * 499000.0, 2)),
        "o_orderdate": pa.array(DATE_BASE_US + rng.integers(0, 2404, size=n) * 86_400_000_000,
                                pa.timestamp("us", tz="UTC")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, size=n)]),
    }


def gen_snap_upsert(out_dir, seed, seconds):
    p = SNAP
    rng = np.random.default_rng([seed, 2])
    os.makedirs(os.path.join(out_dir, "deltas"), exist_ok=True)
    n, stride = p["base_rows"], p["key_stride"]
    span = n * stride
    pq.write_table(pa.table(_orders_rows(rng, np.arange(n, dtype=np.int64) * stride)),
                   os.path.join(out_dir, "base.parquet"))
    hot_w = 1.0 / np.arange(1, p["hot_keys"] + 1) ** p["zipf_s"]
    hot_w /= hot_w.sum()
    # one global hot set, spread over the key space: hot keys are skewed
    # but live in every bucket
    hot_all = rng.choice(n, size=p["hot_keys"], replace=False) * stride
    # one-bucket deltas draw from a fixed hot set per bucket
    margin = 1000
    width = span // p["buckets"]
    hot_bucket = [rng.permutation(np.arange(b * width + margin, (b + 1) * width - margin, stride))[:p["hot_keys"]]
                  for b in range(p["buckets"])]
    kinds = []
    for d in range(delta_count(seconds)):
        w = p["warmup_commits"]
        one = d >= w and p["round"][(d - w) % len(p["round"])] == "one_bucket"
        if one:
            b = int(rng.integers(0, p["buckets"]))
            lo, hi = b * width + margin, (b + 1) * width - margin
            hot = hot_bucket[b]
        else:
            lo, hi = 0, span
            hot = hot_all
        upd = rng.choice(hot, size=p["updates"], replace=False, p=hot_w)
        used = set(upd.tolist())
        ins = []
        while len(ins) < p["inserts"]:
            k = int(rng.integers(lo // stride, hi // stride)) * stride + int(rng.integers(1, stride))
            if k not in used:
                used.add(k); ins.append(k)
        dels = []
        while len(dels) < p["deletes"]:
            k = int(rng.integers(lo // stride, hi // stride)) * stride
            if k not in used:
                used.add(k); dels.append(k)
        keys = np.concatenate([upd, np.array(ins), np.array(dels)]).astype(np.int64)
        cols = _orders_rows(rng, keys)
        cols["_deleted"] = pa.array([False] * (len(upd) + len(ins)) + [True] * len(dels))
        pq.write_table(pa.table(cols), os.path.join(out_dir, "deltas", "d%05d.parquet" % d))
        kinds.append("one_bucket" if one else "all_buckets")
    meta = {"deltas": len(kinds), "kinds": kinds, "warmup": p["warmup_commits"], "round": len(p["round"]),
            "buckets": p["buckets"], "delta_rows": p["updates"] + p["inserts"] + p["deletes"]}
    with open(os.path.join(out_dir, "snap_upsert.json"), "w") as f:
        json.dump(meta, f)
    return meta

# -------------------------------------------------------------- batch_mix

BATCH_SF = 0.01
VOCAB = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge data "
         "join the customer vector").split()


# q109_pagerank_stable refuses some generated graphs ("top-20 order still
# churning after 14 lazy supersteps"). A failure that depends on the seed
# cannot be counted alike in every run, so the face reads a graph that
# does not depend on the seed: the lineitem and orders tables of this
# fixed seed, on which it refuses every time. See perfbench/README.md.
GRAPH_SEED = 15
GRAPH_TABLES = ("orders", "lineitem")


def gen_batch_tables(out_dir, seed, sf=BATCH_SF, only=None):
    """TPC-H-shaped tables plus events, documents and embeddings, with the
    column domains of the repo's staged test data, scaled by `sf`; with
    `only`, just the tables it names."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET TimeZone='UTC'")

    def u(expr, salt):
        return f"((hash({expr}, {int(seed)}, '{salt}') % 1000003)::DOUBLE / 1000003.0)"

    def ui(expr, salt, n):
        return f"(hash({expr}, {int(seed)}, '{salt}') % {int(n)})::BIGINT"

    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), max(500, int(20000 * sf))
    words = "[" + ",".join("'%s'" % w for w in VOCAB) + "]"
    langs = "['en','en','en','zh','de','es','fr']"
    segs = "['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']"
    ptypes = "['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD']"
    adj = "['hot','large','small','red','blue','steel','brass','plastic']"
    nouns = "['ring','bolt','nut','gear','pipe','valve','screw','spring']"
    tables = {
        "region": "SELECT i::INTEGER AS r_regionkey, (['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[i+1] AS r_name FROM range(5) t(i)",
        "nation": "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            {ui('i', 'cn', 25)}::INTEGER AS c_nationkey, round(-999.99 + {u('i', 'cb')} * 10999.98, 2) AS c_acctbal,
            {segs}[{ui('i', 'cs', 5)} + 1] AS c_mktsegment FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            {ui('i', 'sn', 25)}::INTEGER AS s_nationkey, round(-999.99 + {u('i', 'sb')} * 10999.98, 2) AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i AS p_partkey, {adj}[{ui('i', 'pa', 8)} + 1] || ' ' || {nouns}[{ui('i', 'pn', 8)} + 1] AS p_name,
            'Brand#' || ({ui('i', 'pb', 25)} + 1) AS p_brand, {ptypes}[{ui('i', 'pt', 6)} + 1] AS p_type,
            ({ui('i', 'ps', 50)} + 1)::INTEGER AS p_size, round(900.0 + (i % 1000) * 0.1, 2) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, {ui('i', 'oc', n_cust)} AS o_custkey,
            (['F','O','P'])[{ui('i', 'os', 3)} + 1] AS o_orderstatus,
            round(1000.0 + {u('i', 'op')} * 499000.0, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days({ui('i', 'od', 2404)}::INTEGER) AS o_orderdate,
            (['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])[{ui('i', 'oo', 5)} + 1] AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""SELECT {ui('i', 'lo', n_ord)} AS l_orderkey, {ui('i', 'lp', n_part)} AS l_partkey,
            {ui('i', 'ls', n_supp)} AS l_suppkey, ({ui('i', 'ln', 7)} + 1)::INTEGER AS l_linenumber,
            ({ui('i', 'lq', 50)} + 1)::DOUBLE AS l_quantity, round(900.0 + {u('i', 'le')} * 104099.0, 2) AS l_extendedprice,
            ({ui('i', 'ld', 11)})::DOUBLE / 100 AS l_discount, ({ui('i', 'lt', 9)})::DOUBLE / 100 AS l_tax,
            (['A','N','R'])[{ui('i', 'lr', 3)} + 1] AS l_returnflag, (['F','O'])[{ui('i', 'lu', 2)} + 1] AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days({ui('i', 'lh', 2498)}::INTEGER) AS l_shipdate
            FROM range({n_li}) t(i) ORDER BY l_orderkey, l_linenumber""",
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds((i * (2592000000000 // {n_ev}) + {ui('i', 'et', 2592000000000 // n_ev)})::BIGINT) AS ts,
            {ui('i', 'eu', 1500)} AS user_id, {[t for t in EVENT_TYPES]}[{ui('i', 'ey', 5)} + 1] AS event_type,
            round({u('i', 'ev')} * 560.0, 2) AS value, '{{"k": ' || {ui('i', 'ek', 100)} || '}}' AS props
            FROM range({n_ev}) t(i)""",
        # one doc in ten repeats an earlier doc with one word swapped: the
        # dedup and similarity faces need near-duplicates to find
        "documents": f"""WITH base AS (
              SELECT i AS doc_id, array_to_string(list_transform(range(10 + {ui('i', 'dl', 90)}),
                     w -> {words}[(hash(i, w, {int(seed)}, 'dw') % {len(VOCAB)})::BIGINT + 1]), ' ') AS text
              FROM range({n_doc}) t(i)),
            mixed AS (
              SELECT b.doc_id, CASE WHEN b.doc_id % 10 = 7 AND b.doc_id > 10
                THEN o.text || ' ' || {words}[{ui('b.doc_id', 'dx', len(VOCAB))} + 1] ELSE b.text END AS text
              FROM base b LEFT JOIN base o ON o.doc_id = b.doc_id - 1 - {ui('b.doc_id', 'dp', 10)})
            SELECT doc_id, text, {langs}[{ui('doc_id', 'dg', 7)} + 1] AS lang,
                   'src' || {ui('doc_id', 'dsrc', 20)} AS source, length(text)::BIGINT AS n_chars
            FROM mixed ORDER BY doc_id""",
        "embeddings": f"""SELECT i AS vec_id,
            list_transform(range(64), d -> ((((hash({ui('i', 'el', 10)}, d, {int(seed)}, 'ec') % 1000003)::DOUBLE / 1000003.0) - 0.5) * 0.4
                 + (((hash(i, d, {int(seed)}, 'en') % 1000003)::DOUBLE / 1000003.0) - 0.5) * 0.1)::FLOAT) AS embedding,
            {ui('i', 'el', 10)}::INTEGER AS label FROM range({n_emb}) t(i)""",
    }
    for name, sql in tables.items():
        if only and name not in only:
            continue
        con.execute(f"COPY ({sql}) TO '{os.path.join(out_dir, name + '.parquet')}' (FORMAT parquet)")
    con.close()
    return {"sf": sf, "rows": {"customer": n_cust, "orders": n_ord, "lineitem": n_li,
                               "events": n_ev, "documents": n_doc, "embeddings": n_emb}}
