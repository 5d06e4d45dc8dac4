#!/usr/bin/env python3
"""graft benchmark: the paper's tile pipeline and the query surface.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (closed loop, one client, local[nproc]):
  tiles_linear  248-tile ref248 mix, linear method, runCli + decile SQL
  query_suite   passes over a fixed panel of SparkEntry.queries on
                perfbench/data/sf0.01, one pass per op

The first run in a checkout builds the engine and the harness with sbt
(perfbench/build.sbt depends on the root build); later runs reuse the build
until a source file changes. All scratch output goes to .bench_build/.

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1 the
per-layer ones, and writes the spans to .bench_build/work/<run>/spans.json.
The last stdout line is one JSON object: correct, attempted, failed, metrics.
Exits nonzero on any failed or mismatched op, and when it cannot build.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("tiles_linear", "query_suite")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
DECILE_SQL = """
    WITH s AS (SELECT sum(cnt) AS total FROM histo),
         t AS (SELECT value, cnt,
                      floor(((sum(cnt) OVER (ORDER BY value)) / s.total) * 10) AS pct
               FROM histo, s)
    SELECT pct * 10 AS percentile, min(value) AS min_value,
           max(value) AS max_value, sum(cnt) AS cnt
    FROM t GROUP BY pct ORDER BY min(value)
"""
BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 170
# A fixed, pre-touched heap: a growing one (the root build's -Xmx8g alone)
# spread op_s.p50 and cpu_s across seeds by ~0.2 of their median, and
# peak_rss_mb by ~0.35. At 2 GiB young collections run inside each op, so
# peak_mem_mb sees the heap an op holds; at 8 GiB none ran inside an op.
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash(root):
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt")]
    for top in (os.path.join(root, "project"), os.path.join(root, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target" and x != "project")
            files += [os.path.join(d, n) for n in sorted(names)]
    files.append(os.path.join(HERE, "build.sbt"))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out_dir):
    """Compile engine + harness once per source state; returns the launch spec."""
    launch = os.path.join(out_dir, "launch.txt")
    stamp = os.path.join(out_dir, "build.hash")
    digest = source_hash(root)
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest:
        return launch
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(out_dir, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}", 3)
    shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), launch)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return launch


def run_jvm(launch, args, work, deadline):
    lines = open(launch).read().splitlines()
    cp, opts = lines[0], [x for x in lines[1:] if x]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + opts + HEAP + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace), work,
            os.path.join(HERE, "data", "sf0.01")])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its deadline; see {log}", 4)
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        fail(f"JVM exited {rc} without a result; see {log}", 4)
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def check_deciles(res):
    """The paper's decile SQL in DuckDB over each op's histogram.csv."""
    import duckdb
    con = duckdb.connect()
    for op in res["ops"]:
        if op["error"] is not None:
            continue
        csv = os.path.join(op["out"], "histogram.csv")
        con.execute("CREATE OR REPLACE TABLE histo AS SELECT * FROM read_csv(?, header=false, "
                    "delim=',', columns={'value': 'DOUBLE', 'cnt': 'BIGINT'})", [csv])
        want = [tuple(float(x) for x in row) for row in con.sql(DECILE_SQL).fetchall()]
        got = [tuple(float(x) for x in row) for row in op["deciles"]]
        if got != want:
            op["error"] = "deciles differ from DuckDB"


def check_counts(res, data_dir):
    """Each query's row count against DuckDB running its oracle SQL; an op
    fails when any query of its pass threw or miscounted."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    want, no_oracle = {}, {}
    for name, sql in res["oracle_sql"].items():
        if sql is None:
            no_oracle[name] = "no SparkEntry.oracleSql entry"
        else:
            want[name] = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    for op in res["ops"]:
        if op["error"] is not None:
            continue
        bad = []
        for q in op["queries"]:
            if q["error"] is not None:
                bad.append(f"{q['name']}: {q['error']}")
            elif q["name"] in want and q["count"] != want[q["name"]]:
                bad.append(f"{q['name']}: {q['count']} rows, DuckDB oracle {want[q['name']]}")
        if bad:
            op["error"] = "; ".join(bad)
    return no_oracle


def quartile_note(xs):
    return f"n={len(xs)}" if len(xs) < 2 else \
        f"n={len(xs)} q1={statistics.quantiles(xs, n=4)[0]:.4f} q3={statistics.quantiles(xs, n=4)[2]:.4f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_DEADLINE_S

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("no engine sources here (build.sbt, src/main/scala); run from a checkout root", 2)
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found", 2)
    with open(spec_path) as fh:
        spec = json.load(fh)

    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    build_start = time.monotonic()
    launch = build(root, out_dir)
    deadline += time.monotonic() - build_start  # the build has its own budget

    work_root = os.path.join(out_dir, "work")
    shutil.rmtree(work_root, ignore_errors=True)
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-t{args.trace}")
    os.makedirs(work)
    try:
        res = run_jvm(launch, args, work, deadline)
        no_oracle = {}
        if args.workload == "query_suite":
            no_oracle = check_counts(res, os.path.join(HERE, "data", "sf0.01"))
        else:
            check_deciles(res)
    finally:
        for d in ("tiles", "out", "warm-out", "warm-out-traced", "spark-local", "tmp"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    ops = res["ops"]
    failed = [op for op in ops if op["error"] is not None]
    # timings come from the untraced ops that succeeded, or from all of them
    # when none did (the run still reports, and exits 1)
    untraced = [op for op in ops if not op["traced"]]
    timed = [op for op in untraced if op["error"] is None] or untraced
    walls = [op["wall_s"] for op in timed]
    cpus = [op["cpu_s"] for op in timed]

    if args.trace:
        wanted = spec["per_layer"]
        values = res["layers"]
    else:
        wanted = spec["end_to_end"]
        values = {
            "setup_s": res["setup_s"],
            "op_s.p50": statistics.median(walls),
            "cpu_s": statistics.median(cpus),
            "peak_mem_mb": res["peak_heap_mb"] + res["native_peak_mb"],
        }
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    # human-readable record: metrics with their units, then the evidence
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} cores={res['cores']} "
          f"run_s={res['run_s']:.3f} passes={res['passes']} ops={len(ops)}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(f"  error_rate = {len(failed) / len(ops):.4f} ({len(failed)}/{len(ops)})")
    print(f"  op wall s: {quartile_note(walls)}; peak heap {res['peak_heap_mb']:.1f} MB, "
          f"native peak {res['native_peak_mb']:.1f} MB, peak_rss_mb = {res['peak_rss_mb']:.1f} MB")
    if "pixels_per_op" in res:
        print(f"  mpx_per_s = {res['pixels_per_op'] / statistics.median(walls) / 1e6:.2f} Mpx/s "
              f"({res['tiles']} tiles, {res['pixels_per_op'] / 1e6:.1f} Mpx, {res['bins']} bins per op)")
    else:
        lat = sorted(q["wall_s"] for op in timed for q in op["queries"])
        print(f"  query_s.p50 = {statistics.median(lat):.4f} s, "
              f"query_s.max = {lat[-1]:.4f} s over {len(lat)} queries")
        for name, why in sorted(no_oracle.items()):
            print(f"  unchecked {name}: {why}")
    if args.trace:
        print(f"  spans: {os.path.join(work, 'spans.json')}")
    h = res["host"]
    print(f"  host: steal_ticks {h['before']['steal_ticks']} -> {h['after']['steal_ticks']}, "
          f"loadavg '{h['before']['loadavg']}' -> '{h['after']['loadavg']}'")
    for op in failed:
        print(f"  FAILED {op['id']} {op['name']}: {op['error']}")

    correct = not failed
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
