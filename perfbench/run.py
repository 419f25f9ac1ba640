#!/usr/bin/env python3
"""End-to-end benchmark of the library's three scheduled jobs.

Runs one workload (BatchJob, StreamJob or CorpusJob driven through the
same library calls as its main) on seeded inputs, checks every output
against the DuckDB twins in SparkEntry.oracleSql, and prints one JSON
result as the last line of stdout.

    python3 perfbench/run.py --workload batch_daily --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1    # every workload, e2e metrics
    python3 perfbench/run.py --smoke                    # tiny inputs, all checks

Run it from the repository root. The first run builds the library and
the harness with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["batch_daily", "stream_ingest", "corpus_curate"]

# Input scale factor per workload: sf scales orders (1.5M*sf) and
# documents (50k*sf, at least 500).
SIZES = {"batch_daily": 0.01, "stream_ingest": 0.004, "corpus_curate": 0.01}
SMOKE_SIZES = {"batch_daily": 0.001, "stream_ingest": 0.001, "corpus_curate": 0.001}
SETUPS = 3
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---- build ---------------------------------------------------------------

def _source_files():
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    tops += sorted(glob.glob(os.path.join(ROOT, "project", "*.sbt")))
    tops += sorted(glob.glob(os.path.join(ROOT, "project", "*.properties")))
    tops += sorted(glob.glob(os.path.join(HERE, "project", "*.properties")))
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [f for f in tops if os.path.isfile(f)]
    for t in trees:
        for d, _, fs in sorted(os.walk(t)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """Compile library + harness once per source state; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("library sources (build.sbt, src/main/scala) not found next to perfbench/")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(TARGET, "bench-build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        # resolve only from the local repositories, as the tier-1 build does
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    if rc != 0 or not os.path.isfile(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip()


# ---- one harness run -------------------------------------------------------

def harness(cp, workload, seed, seconds, trace, sizes, setups):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dderby.system.home={run_dir}",
           "-cp", cp, "graftbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", run_dir, "--cpus", str(cpus()),
           "--sf", str(sizes[workload]), "--setups", str(setups)]
    # the job mains read SPARK_GRAFT_CPUS for their session
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               SPARK_GRAFT_CPUS=str(cpus()))
    log = os.path.join(WORK, f"{workload}.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"{workload}: harness timed out after {RUN_TIMEOUT_S}s; log in {log}")
    res_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.isfile(res_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"{workload}: harness failed (exit {rc}); log in {log}")
    with open(res_file) as fh:
        return json.load(fh)


# ---- correctness against the DuckDB twins ---------------------------------

def _norm(df):
    """Order-insensitive, type-stable view of a result (as tools/check.py)."""
    import pandas as pd

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if hasattr(v, "tolist"):
            return repr(list(v))
        return repr(v)

    cols = sorted(df.columns)
    rows = sorted(tuple(cell(v) for v in r) for r in df[cols].itertuples(index=False))
    return cols, rows


def check(res):
    """Compare every output with its twin; return (failed, messages)."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {cpus()}")
    inputs = sorted(glob.glob(os.path.join(res["input_dir"], "*.parquet")))
    for f in inputs:
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name}_all AS SELECT * FROM read_parquet('{f}/*.parquet')")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {name}_all")
    sql = res["oracle_sql"]
    expected = {}

    def compute(twin):
        if twin.startswith("pack_sequences:"):
            split = twin.split(":", 1)[1]
            manifest = oracle("pretraining_corpus")
            con.register("oracle_manifest", manifest[2])
            con.execute(
                "CREATE OR REPLACE VIEW documents AS SELECT d.* FROM documents_all d "
                f"JOIN oracle_manifest m USING (doc_id) WHERE m.split = '{split}'")
            out = _norm(con.sql(sql["pack_sequences"]).df())
            con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM documents_all")
            return out + (None,)
        df = con.sql(sql[twin]).df()
        keep = df[["doc_id", "split"]] if twin == "pretraining_corpus" else None
        return _norm(df) + (keep,)

    def oracle(twin):
        if twin not in expected:
            expected[twin] = compute(twin)
        return expected[twin]

    failed, msgs = 0, []
    for out in res["outputs"]:
        try:
            want = oracle(out["twin"])[:2]
            got = _norm(con.sql(f"SELECT * FROM read_parquet('{out['path']}/*.parquet', "
                                "hive_partitioning = false)").df())
        except Exception as e:  # an unreadable output or twin is a failed output
            failed += 1
            msgs.append(f"FAIL {out['name']}: {str(e)[:200]}")
            continue
        if want != got:
            failed += 1
            why = (f"columns {want[0]} vs {got[0]}" if want[0] != got[0]
                   else f"rows {len(want[1])} vs {len(got[1])}" if len(want[1]) != len(got[1])
                   else "values differ")
            msgs.append(f"FAIL {out['name']} vs {out['twin']}: {why}")
    con.close()
    return failed, msgs


# ---- result ---------------------------------------------------------------

def manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def one(cp, workload, seed, seconds, trace, sizes=SIZES, setups=SETUPS):
    t0 = time.monotonic()
    res = harness(cp, workload, seed, seconds, trace, sizes, setups)
    t1 = time.monotonic()
    bad, msgs = check(res)
    res["stamp"]["harness_wall_s"] = t1 - t0
    res["stamp"]["check_wall_s"] = time.monotonic() - t1
    attempted = int(res["attempted"]) + len(res["outputs"])
    failed = int(res["failed"]) + bad
    m = manifest()
    values = dict(res["e2e"]) if trace == 0 else dict(res["layers"])
    spec = m["end_to_end"] if trace == 0 else m["per_layer"]
    metrics = {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in spec}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    detail = dict(res, check=msgs, ops_failed_frac=failed / attempted)
    detail.pop("oracle_sql", None)
    with open(os.path.join(WORK, "results", f"{workload}-seed{seed}-trace{trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    for msg in msgs:
        print(msg, file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, res


def summary(workload, out, res):
    st = res["stamp"]
    print(f"# {workload}: seed={st['seed']} sf={st['sf']} cpus={st['cpus']} "
          f"heap_max_mb={st['heap_max_mb']} load={st['load_before']}->{st['load_after']} "
          f"calibrate={st['calibrate_before_s']:.3f}->{st['calibrate_after_s']:.3f}s "
          f"rows={st['input_rows']} harness={st['harness_wall_s']:.1f}s "
          f"check={st['check_wall_s']:.1f}s")
    print(f"#   correct={out['correct']} attempted={out['attempted']} failed={out['failed']} "
          f"ops_failed_frac={out['failed'] / out['attempted']:.4f}")
    for k, v in out["metrics"].items():
        print(f"#   {k} = {v['value']:.6g} {v['unit']}")


def smoke(cp):
    """Every workload once on tiny inputs, traced, with every check."""
    m = manifest()
    names = [s["name"] for s in m["end_to_end"] + m["per_layer"]]
    with open(os.path.join(HERE, "predictions.json")) as fh:
        predicted = set(json.load(fh)["per_layer"])
    ok = predicted == {s["name"] for s in m["per_layer"]}
    if not ok:
        print(f"# predictions.json does not match per_layer: "
              f"{sorted(predicted ^ {s['name'] for s in m['per_layer']})}")
    for w in WORKLOADS:
        out, res = one(cp, w, 1, 1, 1, sizes=SMOKE_SIZES, setups=1)
        summary(w, out, res)
        values = {**res["e2e"], **res["layers"]}
        missing = [n for n in names if not isinstance(values.get(n), (int, float))
                   or not math.isfinite(values[n])]
        if missing or not out["correct"]:
            ok = False
            print(f"# {w}: SMOKE FAIL missing={missing} correct={out['correct']}")
    print(json.dumps({"smoke": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload or --smoke is required")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the repository root")
    cp = build()
    if a.smoke:
        return smoke(cp)
    if a.workload == "all":
        outs = []
        for w in WORKLOADS:
            out, res = one(cp, w, a.seed, a.seconds, a.trace)
            summary(w, out, res)
            outs.append(out)
        merged = {"correct": all(o["correct"] for o in outs),
                  "attempted": sum(o["attempted"] for o in outs),
                  "failed": sum(o["failed"] for o in outs),
                  "metrics": {f"{w}.{k}": v for w, o in zip(WORKLOADS, outs)
                              for k, v in o["metrics"].items()}}
        print(json.dumps(merged))
        return 0
    out, res = one(cp, a.workload, a.seed, a.seconds, a.trace)
    summary(a.workload, out, res)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
