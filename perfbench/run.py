#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result as the last line.

    python3 perfbench/run.py --workload region_live --seed 1 --seconds 8 --trace 0

Builds the program and the benchmark from source on first use (into
.bench_build/ at the root of the checkout), stages seeded inputs in a
fresh directory there, runs the workload in its own JVM, checks the
outputs against computations made apart from the program, removes the
directory, and prints one JSON object. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
WORKLOADS = ("region_live", "snap_upsert", "batch_mix")
RUN_LIMIT_S = 170
# The workload JVM's heap is pinned (-Xms = -Xmx) under the parallel
# collector. The program's own options (build.sbt: G1, -Xmx8g) were
# measured side by side: peak RSS then follows G1's heap sizing (2.3 to
# 3.5 GB between runs of snap_upsert or batch_mix), region_live's lag and
# snap_upsert's commit times rise by a third, and the full schedule of
# runs no longer fits its hour. See perfbench/README.md ("JVM options").
HEAP = "3g"

sys.path.insert(0, HERE)

# ----------------------------------------------------------------- metrics

# the workload value behind each end-to-end metric; names, units and
# bounds of every metric are in BENCHMARK.json
END_TO_END = {
    # the median where a workload's operations are alike; over batch_mix's
    # unlike faces the geometric mean, so that each face counts equally
    "op_ms": {"region_live": "ingest.lag_p50_ms", "snap_upsert": "snap.commit_p50_ms",
              "batch_mix": "batch.query_geomean_ms"},
    "work_per_s": {"region_live": "ingest.catchup_events_per_s", "snap_upsert": "snap.delta_rows_per_s",
                   "batch_mix": "batch.faces_per_s"},
}


def log(*a):
    print(*a, file=sys.stderr, flush=True)

# ------------------------------------------------------------------- build

def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the distribution
    that holds the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("no Spark distribution found: set SPARK_HOME")
    return jars


def sources(top):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    comp = ":".join(os.path.join(jars, j) for j in
                    ("scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    with tempfile.NamedTemporaryFile("w", suffix=".args", dir=BUILD, delete=False) as a:
        a.write("\n".join(files))
    try:
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", comp, "scala.tools.nsc.Main",
                            "-nowarn", "-classpath", classpath, "-d", out, "@" + a.name],
                           stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    finally:
        os.unlink(a.name)
    if r.returncode != 0:
        sys.exit(f"compile failed ({out})")


def build(jars):
    """Compile the program and the benchmark unless the sources are
    unchanged since the last build. Returns (classpath, source digest)."""
    main = sources(MAIN_SRC)
    if not main:
        sys.exit(f"program sources not found under {MAIN_SRC}")
    os.makedirs(BUILD, exist_ok=True)
    bench = sources(os.path.join(HERE, "src"))
    main_digest, bench_digest = source_digest(main), source_digest(bench)
    stamp = os.path.join(BUILD, "stamp.json")
    old = json.load(open(stamp)) if os.path.exists(stamp) else {}
    cp_main, cp_bench = os.path.join(BUILD, "main"), os.path.join(BUILD, "bench")
    new = {"main": main_digest, "bench": bench_digest}
    if old.get("main") != main_digest:
        log("building the program ...")
        scalac(jars, os.path.join(jars, "*"), cp_main, main)
        old = {}
    if old.get("bench") != bench_digest:
        log("building the benchmark ...")
        scalac(jars, os.path.join(jars, "*") + ":" + cp_main, cp_bench, bench)
    if old != new:
        with open(stamp + ".tmp", "w") as f:
            json.dump(new, f)
        os.replace(stamp + ".tmp", stamp)
    return ":".join([cp_main, cp_bench, RESOURCES, os.path.join(jars, "*")]), main_digest

# --------------------------------------------------------------- identity

def identity(args, digest, info):
    def git(*cmd):
        try:
            return subprocess.run(["git", "-C", ROOT, *cmd], capture_output=True, text=True,
                                  timeout=10).stdout.strip() or None
        except Exception:
            return None
    commit = git("rev-parse", "HEAD")
    dirty = None
    if commit:
        # untracked files count: build() compiles every source file present
        dirty = bool(git("status", "--porcelain", "--", "src/main", "perfbench", "BENCHMARK.json"))
    return {"commit": commit, "dirty": dirty, "source_sha256": digest[:16], "nproc": os.cpu_count(),
            "cpus": args.cpus, "java": info.get("java_version"), "spark": info.get("spark_version"),
            "seed": args.seed, "workload": args.workload, "trace": args.trace}

# -------------------------------------------------------------------- run

# from the program's own run options (build.sbt javaOptions): the module
# opens Spark needs on JDK 17, no UI, UTC; the heap differs, see HEAP
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio", "java.util",
    "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def run_jvm(args, classpath, work, out, t0):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # two malloc arenas: the JVM's native memory, and so its peak RSS, stops
    # depending on how many threads happened to allocate at once
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), MALLOC_ARENA_MAX="2")
    env.pop("SPARK_GRAFT_MASTER", None)
    # -Djava.io.tmpdir and -XX:-UsePerfData keep the JVM's own files inside
    # the run directory: its temporary files, and no hsperfdata file under /tmp
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-cp", classpath,
           "graftbench.Main", "--workload", args.workload, "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
           "--cpus", str(args.cpus), "--out", out]
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env, start_new_session=True)
    try:
        rc = p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t0)))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit("workload JVM overran the run limit and was killed")
    if rc != 0:
        sys.exit(f"workload JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def stage_inputs(args, work):
    import gen
    if args.workload == "region_live":
        return gen.gen_region_live(os.path.join(work, "region", "files"), args.seed, args.seconds)
    if args.workload == "snap_upsert":
        return gen.gen_snap_upsert(os.path.join(work, "snap"), args.seed, args.seconds)
    gen.gen_batch_tables(os.path.join(work, "graph"), gen.GRAPH_SEED, only=gen.GRAPH_TABLES)
    return gen.gen_batch_tables(os.path.join(work, "data"), args.seed)


def rounds(res):
    return sorted({int(k.split(".")[0][1:]) for k in res["values"] if k.startswith("r")})


def check(args, work, res):
    """Run every check on every round, then its self-tests on round 0.
    Returns (failures, face executions whose output disagrees with the
    oracle)."""
    import checks
    fails, face_fails = [], []
    info = res["info"]
    if args.workload == "region_live":
        inputs = checks.region_inputs(work)
        for r in rounds(res):
            outputs = checks.region_outputs(info[f"r{r}.sink"], info[f"r{r}.check"])
            dropped = res["values"][f"r{r}.monitor.rows_dropped_by_watermark"]
            fails += [f"round {r}: {x}" for x in checks.check_region(inputs, outputs, dropped)]
            if r == 0:
                fails += [f"self-test not caught: {x}" for x in checks.selftest_region(inputs, outputs, dropped)]
    elif args.workload == "snap_upsert":
        for r in [r for r in rounds(res) if f"r{r}.check" in info]:
            ci = json.loads(info[f"r{r}.check"])
            outputs = checks.snap_outputs(ci)
            n = ci["commits"]
            folds = checks.snap_folds(work, n, {n} | {v - ci["base_version"] for v in ci["sampled"]})
            fails += [f"round {r}: {x}" for x in checks.check_snap(ci, outputs, folds)]
            if r == 0:
                fails += [f"self-test not caught: {x}" for x in checks.selftest_snap(work, ci, outputs)]
    else:
        bm = os.path.join(work, "bm")
        # face -> {"sql": oracle SQL, "data": the table directory it read}
        oracle = json.load(open(os.path.join(bm, "oracle_sql.json")))
        cons, want = {}, {}
        passes = [p for r in rounds(res) for p in json.loads(info[f"r{r}.passes"])]
        for p in ["warm"] + passes:
            for name in sorted(oracle):
                path = os.path.join(bm, p, name)
                if not glob.glob(os.path.join(path, "*.parquet")):
                    # set-up runs only the lifecycle faces; a face that threw
                    # is already a failed operation
                    continue
                data = oracle[name]["data"]
                if data not in cons:
                    cons[data] = checks.oracle_con(data)
                con = cons[data]
                if name not in want:
                    want[name] = checks.oracle_answer(con, oracle[name]["sql"])
                got = checks.load_face(con, path)
                bad = checks.check_face(name, got, want[name])
                if bad:
                    face_fails += [f"pass {p}: {x}" for x in bad[:1]]
                elif p == passes[0]:
                    fails += [f"self-test not caught: {x}" for x in checks.selftest_face(name, got, want[name])]
    return fails, face_fails


def metrics(args, res, t0):
    """name -> (value, unit) for every metric BENCHMARK.json lists for
    this mode; a layer the workload does not exercise reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    v = res["values"]
    if not args.trace:
        got = {"setup_s": res["first_op_ms"] / 1000.0 - t0, "peak_rss_mb": v["peak_rss_mb"]}
        got.update({k: v[f"r0.{src[args.workload]}"] for k, src in END_TO_END.items()})
        return {m["name"]: (got[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    first = min(m["round"] for m in res["main_times"] if m["traced"])
    untraced = [m["s"] for m in res["main_times"] if not m["traced"]]
    traced = [m["s"] for m in res["main_times"] if m["traced"]]
    got = {"trace.overhead_pct": (statistics.mean(traced) / statistics.mean(untraced) - 1.0) * 100.0,
           "trace.repeat_mismatches": float(len(repeat_mismatches(res)))}
    return {m["name"]: (got.get(m["name"], v.get(f"r{first}.{m['name']}", v.get(m["name"], 0.0))), m["unit"])
            for m in spec["per_layer"]}


def repeat_mismatches(res):
    """Job, stage and task counts of the two traced rounds, key by key."""
    a, b = sorted(m["round"] for m in res["main_times"] if m["traced"])[:2]
    by = {}
    for k, n in res["repeats"].items():
        r, key = k.split("|", 1)
        by.setdefault(key, {})[int(r)] = n
    return sorted(f"{key}: {r[a]} vs {r[b]}" for key, r in by.items()
                  if a in r and b in r and r[a] != r[b])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=min(4, os.cpu_count() or 1),
                    help="Spark local[n] threads (default: min(4, nproc))")
    args = ap.parse_args()

    jars = spark_jars()
    classpath, digest = build(jars)
    t0 = time.time()  # set-up starts here: compiling is not set-up
    os.makedirs(os.path.join(ROOT, ".bench_build", "runs"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".bench_build", "runs"))
    try:
        stage_inputs(args, work)
        log(f"inputs staged in {time.time() - t0:.1f} s")
        res = run_jvm(args, classpath, work, os.path.join(work, "result.json"), t0)
        t1 = time.time()
        log(f"workload JVM done at {t1 - t0:.1f} s, set-up took {res['first_op_ms'] / 1000.0 - t0:.1f} s")
        fails, face_fails = check(args, work, res)
        log(f"checks took {time.time() - t1:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log("values " + json.dumps(res["values"], sort_keys=True))
    for f in fails + face_fails:
        log("CHECK FAILED:", f)
    if args.trace:
        mismatches = repeat_mismatches(res)
        log(f"job/stage/task counts compared between traced rounds: {len(res['repeats'])} "
            f"(round, count) entries, {len(mismatches)} differ")
        for m in mismatches:
            log("count differs between traced rounds:", m)
    print("identity " + json.dumps(identity(args, digest, res["info"]), sort_keys=True))
    print("ops " + json.dumps(res["ops"], sort_keys=True))
    # a face whose output disagrees with the oracle is a failed operation,
    # not a broken benchmark; every other check failure is
    print(json.dumps({"correct": not fails, "attempted": res["attempted"],
                      "failed": res["failed"] + len(face_fails),
                      "metrics": {k: {"value": x, "unit": u} for k, (x, u) in metrics(args, res, t0).items()}}))


if __name__ == "__main__":
    main()
