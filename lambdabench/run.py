#!/usr/bin/env python3
"""Lambda benchmark: one command, three workloads, correctness-checked.

    python3 lambdabench/run.py --workload batch_recompute --seed 1 \
        --seconds 10 --trace 0 [--size sf0.1|sf0.001]

Run from the repository root. The first run builds the engine and the
benchmark's Scala program with sbt (offline, into its own target dir);
later runs reuse the build while the sources are unchanged. Inputs are
generated from the seed (gen.py), the workload runs in one JVM with Spark
as local[n], n = the machine's cores (at most 4), and the outputs are
checked: DuckDB oracles for the batch views, Python exact Jaccard for
near-dup pairs, and the JVM-side checks each workload runs.

Human-readable lines come first; the last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics
with `--trace 0`, per-layer metrics with `--trace 1`, as named in
BENCHMARK.json). Each run's full record (every workload metric, checks,
host covariates, the per-layer rollup of a traced run) is saved under
`<build dir>/results/` for compare.py. Exits non-zero when a check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[lambdabench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"[lambdabench] engine sources missing at {engine}; "
                         "run from a full checkout of the repository")
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (engine, os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def classpath():
    """Build if any source changed since the last build; return the classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = build_dir()
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    log("building engine + benchmark with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        # build.sbt compiles against $SPARK_HOME/jars: take the first Spark
        # install on PATH that has them (a pip pyspark's spark-submit has not)
        for d in env.get("PATH", "").split(os.pathsep):
            home = os.path.dirname(os.path.normpath(d))
            if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
                env["SPARK_HOME"] = home
                break
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.autostart=false"
                       " -Xmx2g").strip()
    p = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        stdout, stderr = p.communicate(timeout=850)
    except subprocess.TimeoutExpired:
        # the sbt launcher forks its JVM: stop the whole group
        os.killpg(p.pid, signal.SIGKILL)
        stdout, stderr = p.communicate()
    lines = [l for l in stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(stdout[-4000:] + stderr[-4000:])
        raise SystemExit("[lambdabench] build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def cpu_steal():
    """Jiffies the hypervisor took from this machine's CPUs (/proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(cp, args, work):
    cpus = str(min(4, os.cpu_count() or 1))
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "lambdabench.Main", "--cpus", cpus] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # Spark's scratch stays inside the work dir even when the caller's
    # environment points it elsewhere
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -9
            log(f"JVM exceeded {JVM_TIMEOUT_S} s and was killed")
    return rc


# ---- Python-side correctness checks -------------------------------------

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def check_oracles(res, inp):
    """Each batch view with a declared oracle equals the oracle's SQL over
    exactly the events the master ingested (name-sorted columns, values
    compared as strings, as tools/check.py does)."""
    import duckdb
    import pandas as pd
    f = res["facts"]
    files = [f"{inp}/initial/events.parquet"] + \
        [f"{inp}/slices/{k}/events.parquet" for k in f["ingested_slices"]]
    con = duckdb.connect()
    con.sql("CREATE VIEW events AS SELECT * FROM read_parquet(["
            + ",".join(f"'{x}'" for x in files) + "])")
    out = {}
    for name, view in (("batch_workflow", "url_hour"), ("bounce_rate_view", "bounce")):
        got = canon(pd.read_parquet(os.path.join(f["views"], view)))
        want = canon(con.sql(f["oracles"][name]).df())
        ok = list(got.columns) == list(want.columns) and len(got) == len(want) and \
            bool((got.astype(str).values == want.astype(str).values).all())
        out[f"oracle.{name}"] = dict(ok=ok, detail=f"{len(got)} rows vs oracle {len(want)}")
    return out


def check_pairs(res, inp):
    """Every emitted near-dup pair has exact shingle Jaccard >= threshold,
    and its reported Jaccard is the exact one (rounded to 4 places)."""
    import pandas as pd
    f = res["facts"]
    thr = float(f["threshold"])
    docs = pd.read_parquet(f"{inp}/corpus/docs.parquet", columns=["doc_id", "text"])
    text = dict(zip(docs.doc_id, docs.text))
    pairs = pd.read_parquet(os.path.join(f["out"], "pairs"))
    below = off = 0
    for i, j, jac in zip(pairs.i, pairs.j, pairs.jaccard):
        exact = gen.jaccard(text[i], text[j])
        below += exact < thr
        off += abs(exact - jac) > 1e-4
    return {"corpus.pairs_exact_jaccard": dict(
        ok=below == 0 and off == 0 and len(pairs) > 0,
        detail=f"{len(pairs)} pairs, {below} below {thr}, {off} misreported")}


# ---- tracing overhead and records ---------------------------------------

def records_dir():
    d = os.path.join(build_dir(), "results")
    os.makedirs(d, exist_ok=True)
    return d


def tracing_overhead(rec):
    """Traced run's end-to-end metrics minus the latest untraced run's of
    the same workload, seed and size (None when there is none)."""
    best = None
    for path in glob.glob(os.path.join(records_dir(), "*.json")):
        try:
            r = json.load(open(path))
        except (OSError, ValueError):
            continue
        if r.get("trace") == 0 and all(r.get(k) == rec[k] for k in ("workload", "seed", "size")):
            if best is None or r["time"] > best["time"]:
                best = r
    if best is None:
        return None
    return {k: {"value": v["value"] - best["e2e"][k]["value"], "unit": v["unit"]}
            for k, v in rec["e2e"].items() if k in best["e2e"]}


def fmt(v):
    return f"{v:>14.4f}" if isinstance(v, (int, float)) else f"{v!s:>14}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="sf0.1")
    a = ap.parse_args()

    started = time.time()
    spec = json.load(open(SPEC))
    cp = classpath()
    build_s = time.time() - started
    work = os.path.join(build_dir(), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    t0 = time.time()
    gen.generate(a.workload, a.seed, a.size, inp)
    gen_s = time.time() - t0
    steal0 = cpu_steal()
    t0 = time.time()
    rc = run_jvm(cp, ["--workload", a.workload, "--input", inp, "--work", work,
                      "--seconds", str(a.seconds), "--trace", str(a.trace)], work)
    steal1 = cpu_steal()
    jvm_s = time.time() - t0
    t0 = time.time()
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        raise SystemExit(f"[lambdabench] JVM failed (exit {rc}); work dir kept at {work}")
    res = json.load(open(res_path))
    checks = dict(res["checks"])
    try:
        if a.workload == "batch_recompute":
            checks.update(check_oracles(res, inp))
        if a.workload in ("batch_recompute", "corpus_dedup"):
            checks.update(check_pairs(res, inp))
    except Exception as e:  # noqa: BLE001 - a crashed check is a failed check
        checks["python_checks"] = dict(ok=False, detail=repr(e))
    correct = res["error"] is None and all(c["ok"] for c in checks.values())
    check_s = time.time() - t0

    rec = dict(workload=a.workload, seed=a.seed, size=a.size, seconds=a.seconds,
               trace=a.trace, time=time.time(), build_s=build_s, gen_s=gen_s, jvm_s=jvm_s,
               check_s=check_s, e2e=res["metrics"],
               table=res["facts"].get("table", {}), checks=checks,
               host=dict(res["facts"].get("host") or {},
                         cpu_steal_jiffies=None if steal0 is None else steal1 - steal0),
               attempted=res["attempted"],
               failed=res["failed"], correct=correct,
               phases=res["facts"].get("phases"), samples=res["facts"].get("samples"),
               wall_s=time.time() - started)
    if a.trace:
        rec["rollup"] = json.load(open(os.path.join(work, "rollup.json")))
        rec["tracing_overhead"] = tracing_overhead(rec)
    name = f"{a.workload}-seed{a.seed}-{a.size}-trace{a.trace}-{int(rec['time'] * 1000)}"
    with open(os.path.join(records_dir(), name + ".json"), "w") as f:
        json.dump(rec, f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(records_dir(), name + ".spans.jsonl"))

    for k, v in rec["e2e"].items():
        print(f"{a.workload} e2e   {k:<24} {fmt(v['value'])} {v['unit']}")
    for k, v in rec["table"].items():
        print(f"{a.workload} table {k:<24} {fmt(v['value'])} {v['unit']}")
    for k, v in checks.items():
        print(f"{a.workload} check {k:<40} {'ok' if v['ok'] else 'FAILED'}  {v['detail']}")
    print(f"{a.workload} host  {json.dumps(rec['host'])}")
    if a.trace:
        print(f"{a.workload} tracing overhead (traced - untraced): "
              f"{json.dumps(rec['tracing_overhead'])}")
        print(f"{a.workload} rollup: {len(rec['rollup'])} per-layer values, record {name}.json")

    if a.trace:
        metrics = {m["name"]: {"value": rec["rollup"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["metrics"][m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(dict(correct=correct, attempted=res["attempted"], failed=res["failed"],
                          metrics=metrics)))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
