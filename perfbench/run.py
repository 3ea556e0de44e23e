#!/usr/bin/env python3
"""Repository benchmark: generated-input workloads on local[4].

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: jh_interactive, doc_curation, shelf_stream (see
perfbench/README.md). The script builds the program and the benchmark
from source with sbt when the sources changed since the last build
(outputs under .bench_build/), runs one JVM in a fresh, empty working
directory, checks the outputs against the registry's DuckDB oracles and
the generators' own counts, and prints one JSON object as the last line
of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. A traced run also writes its span and
count records to .bench_build/traces/<workload>-seed<n>.jsonl, and, when
an untraced run of the same workload and seed and of the same build came
first, the tracing overhead: the difference of their op_p50_s.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("jh_interactive", "doc_curation", "shelf_stream")
HEAP = "3g"
RUN_LIMIT_S = 170.0
CHECK_BUDGET_S = 15.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath file and the sources' stamp."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from the root of a repository checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "sbt", "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return cp_file, stamp
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is not set and spark-submit is not on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    env.setdefault("COURSIER_MODE", "offline")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    log("building with sbt ...")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=800)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    # a class-data-sharing archive of the classes one short run loads:
    # later JVMs map it instead of loading and verifying those classes
    # from the jars again, which takes seconds per run
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    dump_dir = os.path.join(BUILD, "runs", f"archive-{os.getpid()}")
    shutil.rmtree(dump_dir, ignore_errors=True)
    os.makedirs(dump_dir)
    try:
        rc = run_jvm(cp_file, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                     ["--workload", "jh_interactive", "--seed", "0", "--seconds", "1",
                      "--trace", "0"], dump_dir, time.time() + 300)
    finally:
        shutil.rmtree(dump_dir, ignore_errors=True)
    if rc != 0:
        log("no class-data-sharing archive; runs load classes from the jars")
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp_file, stamp


def run_jvm(cp_file, jvm_opts, main_args, run_dir, deadline):
    with open(cp_file) as fh:
        cp = ":".join(line.strip() for line in fh if line.strip())
    argfile = os.path.join(run_dir, "jvm.args")
    with open(argfile, "w") as fh:
        fh.write(f'-cp "{cp}"\n')
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *jvm_opts]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"@{argfile}", "graft.perfbench.Main", *main_args]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("JVM over its time limit; stopping it")
            return None
        finally:
            # also when this script is interrupted or terminated
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort")


# The near-duplicate cluster oracles end in a recursive transitive
# closure that DuckDB cannot fit in 2 GB even at 500 documents; the
# closure is replaced by a union-find over the oracle's own edge list,
# and the rest of the oracle runs unchanged on the resulting labels.
CLOSURE_START = "sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),"
CLOSURE_END = "cc AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u)"


def components(con, sql):
    import pandas as pd
    prefix = sql[:sql.index(CLOSURE_START)].rstrip().rstrip(",")
    edges = con.sql(prefix + " SELECT u, v FROM edges").fetchall()
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for u, v in edges:
        a, b = find(u), find(v)
        if a != b:
            parent[max(a, b)] = min(a, b)
    cc = pd.DataFrame({"doc_id": list(parent)}, dtype="int64")
    cc["cluster_id"] = cc["doc_id"].map(find).astype("int64")
    con.register("cc", cc)
    rest = sql[sql.index(CLOSURE_END) + len(CLOSURE_END):].lstrip(",\n ")
    return con.sql("WITH " + rest).df()


def oracle_check(check):
    """Runs the check's DuckDB SQL and compares it with the program's
    parquet result exactly (column names, dtypes, values), as the
    registry's correctness gate does."""
    import duckdb
    import pandas as pd
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 4})
    try:
        for name, path in check["tables"].items():
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        flat = " ".join(check["sql"].split())
        exp = components(con, flat) if CLOSURE_START in flat else con.sql(check["sql"]).df()
    finally:
        con.close()
    got = pd.read_parquet(check["result"])
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs oracle {len(exp)}"
    if len(got) == 0:
        return "empty result"
    g, e = canon(got), canon(exp)
    for c in g.columns:
        if g[c].dtype != e[c].dtype:
            return f"{c}: dtype {g[c].dtype} vs oracle {e[c].dtype}"
        neq = ~((g[c] == e[c]) | (g[c].isna() & e[c].isna()))
        if neq.any():
            i = neq.idxmax()
            return f"{c}: {int(neq.sum())} diffs, first {g[c][i]!r} vs oracle {e[c][i]!r}"
    return None


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM is stopped and the run
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail(f"{bench_json} is missing")
    with open(bench_json) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp_file, stamp = build()
    # the JVM gets what is left of the run's limit after the checks' share
    deadline = time.time() + RUN_LIMIT_S - CHECK_BUDGET_S
    run_dir = os.path.join(BUILD, "runs",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        rc = run_jvm(cp_file,
                     [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else [],
                     ["--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", str(args.trace)],
                     run_dir, deadline)
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as fh:
            for line in fh:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        result_file = os.path.join(run_dir, "out", "result.json")
        if rc != 0 or not os.path.exists(result_file):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                tail = fh.read()[-4000:]
            fail(f"JVM exited with {rc}, no result\n{tail}", 1)
        with open(result_file) as fh:
            res = json.load(fh)

        checks = []
        t_checks = time.time()
        for ch in res["checks"]:
            if ch["kind"] == "jvm":
                err = None if ch["ok"] else ch["detail"]
            else:
                try:
                    err = oracle_check(ch)
                except Exception as e:  # a broken check is a failed check
                    err = f"{type(e).__name__}: {e}"
            checks.append({"name": ch["name"], "ok": err is None, "error": err})
            if err:
                log(f"check FAILED {ch['name']}: {err}")
        log(f"oracle checks took {time.time() - t_checks:.1f} s")
        bad = sum(not c["ok"] for c in checks)
        attempted = res["attempted"] + len(checks)
        failed = res["failed"] + bad
        for e in res["errors"]:
            log(f"error: {e}")

        e2e = dict(res["end_to_end"])
        e2e["fail_ratio"] = {"value": failed / attempted, "unit": "ratio", "n": attempted}
        results = os.path.join(BUILD, "results")
        overhead = None
        untraced = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if args.trace and os.path.exists(untraced):
            # tracing overhead: this traced run against the untraced run
            # of the same workload, seed and build
            with open(untraced) as fh:
                base = json.load(fh)
            if base.get("stamp") == stamp:
                overhead = e2e["op_p50_s"]["value"] - base["end_to_end"]["op_p50_s"]["value"]
                e2e["trace_overhead_s"] = {"value": overhead, "unit": "s", "n": 1}
        box = res["box"]
        print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
              f"checks={len(checks) - bad}/{len(checks)}: " +
              " ".join(f"{k}={v['value']:.4g} {v['unit']} (n={v['n']})"
                       for k, v in e2e.items()))
        print("box: " + " ".join(f"{k}={v}" for k, v in box.items()))

        source = res["per_layer"] if args.trace else \
            {k: v["value"] for k, v in res["end_to_end"].items()}
        metrics = {}
        for m in wanted:
            v = source.get(m["name"])
            if v is None or not math.isfinite(v):
                fail(f"metric {m['name']} was not measured", 1)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}

        record = dict(res, checks=checks, fail_ratio=failed / attempted,
                      trace_overhead_s=overhead, stamp=stamp)
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results,
                               f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as fh:
            json.dump(record, fh)
        if args.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            dst = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            shutil.copyfile(os.path.join(run_dir, "out", "trace.jsonl"), dst)
            with open(dst, "a") as fh:
                for c in checks:
                    fh.write(json.dumps(dict(c, type="check")) + "\n")
                fh.write(json.dumps({"type": "trace_overhead", "workload": args.workload,
                                     "seconds": overhead}) + "\n")

        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
