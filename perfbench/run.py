#!/usr/bin/env python3
"""ERA5 ingestion-cycle and operator-gate benchmark.

    python3 perfbench/run.py --workload era5_steady --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program and the benchmark's
classes (perfbench/build.py), runs one workload in one JVM on local[nproc], checks
the outputs, writes the full artifact under .bench_build/artifacts, prints
every metric with its unit and, last, one JSON result line. With --trace 0
the result line holds the end-to-end metrics, with --trace 1 the per-layer
ones. Compare two sets of artifacts with perfbench/compare.py.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave nothing in the checkout but .bench_build
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

XMX = "3g"
TIMEOUT_S = 170
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def git_state(root):
    def git(*a):
        r = subprocess.run(["git", "-C", root, *a], capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    sha = git("rev-parse", "HEAD") if os.path.isdir(os.path.join(root, ".git")) else None
    if sha is None:
        return {"git_sha": None, "git_dirty": None, "note": "not a git checkout"}
    return {"git_sha": sha, "git_dirty": bool(git("status", "--porcelain", "--untracked-files=no"))}


def oracle_check(gates_out, fixtures):
    """Compare each gate's saved result to its DuckDB oracle SQL over the
    same tables: columns sorted by name, rows sorted, values compared as
    strings, an empty result on both sides a failure."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixtures}/{t}.parquet/*.parquet')")
    oracle = json.load(open(os.path.join(gates_out, "oracle_sql.json")))

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df.columns):
            df = df.sort_values(by=list(df.columns), kind="mergesort")
        return df.reset_index(drop=True).astype(str).values.tolist()

    verdict = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = norm(con.execute(
                f"SELECT * FROM read_parquet('{gates_out}/{name}/*.parquet')").fetchdf())
            want = norm(con.execute(sql).fetchdf())
            verdict[name] = "OK" if got == want and got else (
                "VACUOUS_EMPTY" if got == want else f"MISMATCH ({len(got)} vs {len(want)} rows)")
        except Exception as e:  # a missing result or a failing query is a failure
            verdict[name] = f"ERROR {type(e).__name__}: {e}"
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no program sources here; run from the root of a checkout")
    t_build = time.time()
    classpath, digest = build.build(root)
    build_s = time.time() - t_build

    base = os.path.join(root, ".bench_build")
    work = os.path.join(base, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_GRAFT_TMPDIR=tmp,
               SPARK_GRAFT_CHECKPOINT_DIR=os.path.join(tmp, "ckpt"))
    fixtures = os.path.join(base, "fixtures", "gen-m0.01")
    out_json = os.path.join(work, "result.json")
    cmd = (["java"] + [x for o in ADD_OPENS for x in ("--add-opens", o)] +
           [f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out_json, "--fixtures", fixtures])
    log_path = os.path.join(base, "last-run.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit(f"perfbench: run exceeded {TIMEOUT_S} s, see {log_path}")
        if code != 0 or not os.path.exists(out_json):
            sys.exit(f"perfbench: the JVM exited with {code}, see {log_path}")
        r = json.load(open(out_json))
        if r["gates"] != metrics.GATES:
            sys.exit("perfbench: GatesBench.Gates differs from metrics.GATES")
        attempted, failed = r["attempted"], r["failed"]
        oracle = None
        if a.workload == "operator_gates":
            oracle = oracle_check(os.path.join(work, "gates_out"), fixtures)
            attempted += len(oracle)
            failed += sum(v != "OK" for v in oracle.values())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    med = r["medians"]
    ops = r["ops_s"]
    op_p50 = statistics.median(ops)
    values = {
        "op_s_p50": (op_p50, "s"),
        "setup_s": (r["setup_s"], "s"),
        "live_heap_peak_mb": (r["live_heap_peak_mb"], "MB"),
        "failed_frac": (failed / attempted, "ratio"),
    }
    if a.workload == "era5_backfill":
        values["months_per_s"] = (med["months_per_s"], "1/s")
    elif a.workload == "era5_steady":
        values["cycle_s_p50"] = (op_p50, "s")
    else:
        values["gates_s"] = (op_p50, "s")
    for name, (unit, _, _) in metrics.PER_LAYER.items():
        if name not in values:
            values[name] = (med.get(name, 0.0), unit)

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
        "operations": len(ops), "ops_s": ops,
        "provenance": {
            **git_state(root), "source_digest": digest, "nproc": nproc,
            "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"], "spark_master": r["spark_master"],
            "xmx": XMX, "max_heap_mb": r["max_heap_mb"], "seed": a.seed,
            "seed_applies": a.workload != "operator_gates",
            "era5": r["era5"], "gates": r["gates"],
            "gate_fixture": f"GenFixture multiplier {r['gate_fixture_multiplier']} (fixed tables)",
            "session_s": r["session_s"], "build_s": build_s,
        },
        "failures": r["failures"],
        "oracle": oracle,
        "samples": r["samples"],
        "spans": r["spans"],
    }
    arts = os.path.join(base, "artifacts")
    os.makedirs(arts, exist_ok=True)
    n = len(glob.glob(os.path.join(arts, "*.json")))
    with open(os.path.join(arts, f"{n:05d}-{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)

    for k, (v, u) in sorted(values.items()):
        print(f"{a.workload:15s} {k:40s} {v:16.6g} {u}")
    for f in r["failures"]:
        print(f"{a.workload:15s} FAILED {f}")
    if oracle:
        for k, v in oracle.items():
            print(f"{a.workload:15s} oracle {k}: {v}")
    names = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k][0], "unit": values[k][1]} for k in names}}))


if __name__ == "__main__":
    main()
