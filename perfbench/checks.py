"""Correctness checks, computed apart from the program, and their self-tests.

Each check is a pure comparison of loaded outputs against expectations
the benchmark computes itself from the inputs gen.py wrote. `selftest_*`
feeds each check a deliberately corrupted copy of the real outputs and
reports any corruption the check failed to notice, so no check can pass
vacuously.
"""
import collections
import glob
import json
import os
import re
import sys

import duckdb
import pyarrow.parquet as pq

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW_US = 30_000_000


def _con():
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET TimeZone='UTC'")
    return con

# ------------------------------------------------------------ region_live

def load_events(files_dir, meta):
    """(file index, event_id, ts in µs, props) of every generated event."""
    out = []
    for k, f in enumerate(meta["files"]):
        t = pq.read_table(os.path.join(files_dir, f["name"]), columns=["event_id", "ts", "props"])
        ids = t.column("event_id").to_numpy()
        ts = t.column("ts").cast("int64").to_numpy()
        out.extend(zip([k] * len(ids), ids.tolist(), ts.tolist(), t.column("props").to_pylist()))
    return out


def committed_files(sink):
    """Files the file sink committed, from its own _spark_metadata log."""
    paths = set()
    for p in glob.glob(os.path.join(sink, "_spark_metadata", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    if e.get("action") == "add":
                        paths.add(re.sub(r"^file:(//)?", "", e["path"]))
    return sorted(paths)


def load_sink(sink):
    """(topic, key, id, text, region) of every row in the wire sink."""
    files = committed_files(sink)
    if not files:
        return []
    con = _con()
    return con.execute(
        "SELECT topic, decode(key), json_extract_string(decode(value), '$.id'), "
        "json_extract_string(decode(value), '$.text'), "
        "json_extract_string(decode(value), '$.region') "
        "FROM read_parquet(?, hive_partitioning = true)", [files]).fetchall()


def check_sink(events, regions, rows):
    """Every in-region event exactly once, under raw-tweets-<region>,
    with its id and text; nothing else."""
    want = collections.Counter()
    for (_, eid, _, props), reg in zip(events, regions):
        if reg != "NONE":
            want[("raw-tweets-" + reg, str(eid), str(eid), props, reg)] += 1
    got = collections.Counter(rows)
    fails = []
    missing = want - got
    extra = got - want
    dups = [r for r, n in got.items() if n > 1]
    if missing:
        fails.append(f"sink: {sum(missing.values())} expected rows missing, e.g. {next(iter(missing))}")
    if extra:
        fails.append(f"sink: {sum(extra.values())} unexpected rows, e.g. {next(iter(extra))}")
    if dups:
        fails.append(f"sink: {len(dups)} rows emitted more than once, e.g. {dups[0]}")
    return fails


def check_monitor(events, regions, mon_rows, dropped, catalog):
    """The last count per (30 s window, region) equals the recount, and no
    row was dropped by the watermark."""
    want = collections.Counter()
    for (_, _, ts, _), reg in zip(events, regions):
        if reg in catalog:
            want[(ts // WINDOW_US * WINDOW_US // 1000, reg)] += 1
    last = {}
    for r in sorted(mon_rows, key=lambda r: r["batch"]):
        if r["w_start_ms"] is not None:
            last[(r["w_start_ms"], r["region"])] = r["n"]
    fails = []
    bad = [(k, last.get(k), n) for k, n in want.items() if last.get(k) != n]
    bad += [(k, n, 0) for k, n in last.items() if k not in want]
    if bad:
        fails.append(f"monitor: {len(bad)} (window, region) counts differ, e.g. {bad[0]} (key, got, want)")
    if dropped != 0:
        fails.append(f"monitor: {dropped} rows dropped by the watermark")
    return fails


def check_stalls(events, regions, mon_rows, file_batch, meta, silent):
    """A monitor batch flags the silent region as stalled exactly when it
    carried none of that region's events."""
    carried = collections.defaultdict(bool)
    for (k, _, _, _), reg in zip(events, regions):
        b = file_batch.get(meta["files"][k]["name"])
        if b is not None and reg == silent:
            carried[b] = True
    flagged = collections.defaultdict(bool)
    batches = set()
    for r in mon_rows:
        batches.add(r["batch"])
        if r["region"] == silent and r["stalled"]:
            flagged[r["batch"]] = True
    fails = []
    wrong = [b for b in sorted(batches) if flagged[b] == carried[b]]
    if wrong:
        fails.append(f"stall: {len(wrong)} monitor batches flag {silent} wrongly, e.g. batch {wrong[0]}")
    lo, hi = meta["silence"]
    silent_batches = {file_batch.get(meta["files"][k]["name"]) for k in range(lo, hi)} - {None}
    if not silent_batches or not any(flagged[b] for b in silent_batches):
        fails.append(f"stall: no batch of the planned silence flagged {silent}")
    return fails


def region_inputs(work):
    meta = json.load(open(os.path.join(work, "region", "region_live.json")))
    events = load_events(os.path.join(work, "region", "files"), meta)
    regions = gen.region_of([e[1] for e in events]).tolist()
    return meta, events, regions


def region_outputs(sink, check_dir):
    mon = [json.loads(l) for l in open(os.path.join(check_dir, "monitor_rows.jsonl")) if l.strip()]
    fb = json.load(open(os.path.join(check_dir, "monitor_files.json")))
    return load_sink(sink), mon, fb


def check_region(inputs, outputs, dropped):
    meta, events, regions = inputs
    rows, mon, fb = outputs
    catalog = {r["ID"] for r in gen.load_regions()}
    silent = gen.REGION_LIVE["silent_region"]
    lo, hi = meta["silence"]
    fails = []
    if any(reg == silent for (k, _, _, _), reg in zip(events, regions) if lo <= k < hi):
        fails.append("inputs: the silent region has events inside the planned silence")
    return (fails + check_sink(events, regions, rows) + check_monitor(events, regions, mon, dropped, catalog)
            + check_stalls(events, regions, mon, fb, meta, silent))


def selftest_region(inputs, outputs, dropped):
    rows, mon, fb = outputs
    i = len(rows) // 2
    r = rows[i]
    other = "USA0" if r[4] != "USA0" else "USA1"
    last = max((m for m in mon if m["w_start_ms"] is not None), key=lambda m: m["batch"])
    flag = next(m for m in mon if m["region"] == gen.REGION_LIVE["silent_region"])
    corrupt = {
        "drop one event": (rows[:i] + rows[i + 1:], mon),
        "duplicate one event": (rows + [r], mon),
        "relabel one event's region": (rows[:i] + [("raw-tweets-" + other, r[1], r[2], r[3], other)] + rows[i + 1:], mon),
        "miscount one window": (rows, [dict(m, n=m["n"] + 1) if m is last else m for m in mon]),
        "flip one stall flag": (rows, [dict(m, stalled=not m["stalled"]) if m is flag else m for m in mon]),
    }
    return [name for name, (bad_rows, bad_mon) in corrupt.items()
            if not check_region(inputs, (bad_rows, bad_mon, fb), dropped)]

# ------------------------------------------------------------ snap_upsert

SNAP_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
             "epoch_us(o_orderdate) AS o_orderdate, o_orderpriority")


def _rows(con, path, extra=""):
    return con.execute(f"SELECT {SNAP_COLS}{extra} FROM read_parquet(?)", [path]).fetchall()


def snap_folds(work, commits, wanted, skip=None):
    """Latest-wins fold of the base and the first `commits` deltas; returns
    {prefix length: {key: row}} for each prefix length in `wanted`."""
    con = _con()
    d = os.path.join(work, "snap")
    state = {r[0]: r for r in _rows(con, os.path.join(d, "base.parquet"))}
    out = {}
    if 0 in wanted:
        out[0] = dict(state)
    for k in range(commits):
        if k != skip:
            for r in _rows(con, os.path.join(d, "deltas", "d%05d.parquet" % k), ", _deleted"):
                if r[-1]:
                    state.pop(r[0], None)
                else:
                    state[r[0]] = r[:-1]
        if k + 1 in wanted:
            out[k + 1] = dict(state)
    return out


def snap_outputs(info):
    con = _con()
    read = lambda name: _rows(con, os.path.join(info["dir"], name, "*.parquet"))
    return {"head": read("head"), "follow": read("follow"),
            "sampled": {v: read(f"v{v}") for v in info["sampled"]}}


def _diff(name, rows, want):
    got = {r[0]: r for r in rows}
    if len(got) != len(rows):
        return [f"{name}: {len(rows) - len(got)} duplicate keys"]
    if got == want:
        return []
    miss = [k for k in want if k not in got]
    extra = [k for k in got if k not in want]
    changed = [k for k in want if k in got and got[k] != want[k]]
    return [f"{name}: {len(miss)} keys missing, {len(extra)} extra, {len(changed)} rows differ"]


def check_snap(info, outputs, folds):
    base, n = info["base_version"], info["commits"]
    fails = []
    if info["head_version"] != base + n:
        fails.append(f"snap: head version {info['head_version']} != base {base} + {n} commits")
    fails += _diff("snap head", outputs["head"], folds[n])
    for v, got in outputs["sampled"].items():
        fails += _diff(f"snap v{v}", got, folds[v - base])
    fails += _diff("follower", outputs["follow"], folds[n])
    if info["follow_cursor"] != info["head_version"]:
        fails.append(f"follower: cursor {info['follow_cursor']} != source head {info['head_version']}")
    return fails


def selftest_snap(work, info, outputs):
    n = info["commits"]
    skip = n // 2
    folds = snap_folds(work, n, {n} | {v - info["base_version"] for v in info["sampled"]}, skip=skip)
    return [] if check_snap(info, outputs, folds) else ["skip one delta in the expected table state"]

# -------------------------------------------------------------- batch_mix

sys.path.insert(0, os.path.join(ROOT, "tools"))
from oracle_check import canon  # noqa: E402  the repo's own comparison rule


def oracle_con(data_dir):
    """A DuckDB connection with a view per table the directory holds."""
    con = _con()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    return con


def oracle_answer(con, sql):
    """(sorted column names, canonical rows) of a face's oracle SQL."""
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    return sorted(cols), canon(rel.fetchall(), cols)


def load_face(con, path):
    rel = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = [d[0] for d in rel.description]
    return sorted(cols), canon(rel.fetchall(), cols)


def check_face(name, got, want):
    if got[0] != want[0]:
        return [f"{name}: columns {got[0]} != oracle {want[0]}"]
    if len(got[1]) != len(want[1]):
        return [f"{name}: {len(got[1])} rows != oracle {len(want[1])}"]
    if got[1] != want[1]:
        diffs = [(a, b) for a, b in zip(got[1], want[1]) if a != b][:2]
        return [f"{name}: values differ, e.g. {diffs}"]
    return []


def selftest_face(name, got, want):
    rows = list(got[1])
    if not rows:
        return ["alter one row of a face (face has no rows)"]
    rows[len(rows) // 2] = rows[len(rows) // 2] + "|altered"
    return [] if check_face(name, (got[0], sorted(rows)), want) else ["alter one row of a face"]
