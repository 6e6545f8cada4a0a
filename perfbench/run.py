#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
harness (an sbt project in this directory that compiles the graft
sources with it) and later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed with the schemas and
distributions of `tools/gen_sf.py`, once per (scale, seed), before the
JVM starts, so generation is not part of any metric.

Each run checks its outputs: DuckDB runs `SparkEntry.oracleSql` on the
same tables for every oracle-covered query (the rules of
`tools/local_verify.py`), every timed pass must reproduce the warm-up
pass's result digests, and the live indexes of `corpus` check their
verdicts, search results and pages (see IndexLive.scala). The last
stdout line is the result: `{"correct", "attempted", "failed",
"metrics"}`, with the end-to-end metrics under `--trace 0` and the
per-layer metrics under `--trace 1`. The line before it is a summary
for people: every end-to-end figure that applies to the workload, the
error rate and the host-contention record.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# workload -> scale factor of its generated tables (BENCHMARK.json says
# why each workload exists)
WORKLOADS = {
    "traffic_small": 0.1,
    "corpus": 0.03,
}

# the JVM flags Spark needs on JDK 17 outside spark-submit (build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

RUN_LIMIT_S = 170  # a run must end within 180 s once built


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_process(cmd, cwd, timeout, env=None, log=None):
    """Runs `cmd` in its own process group and waits for it; on timeout
    the whole group is killed and reaped."""
    out = open(log, "w") if log else subprocess.DEVNULL
    try:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=out, text=True, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail(f"{cmd[0]} did not finish within {timeout:.0f} s")
        return p.returncode, stdout
    finally:
        if log:
            out.close()


# ---------------------------------------------------------------- build

def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds the harness when the sources changed since the last build
    and returns its runtime classpath."""
    stamp = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build", "sbt.log")
    rc, out = run_process(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, timeout=850, env=env, log=log)
    lines = [l for l in (out or "").splitlines() if ".jar" in l and "perfbench" in l]
    if rc != 0 or not lines:
        sys.stderr.write((out or "")[-3000:])
        fail(f"build failed (exit {rc}); sbt output above, details in {log}")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(stamp, "w").write(digest)
    return cp


# ----------------------------------------------------------------- data

def tables(sf, seed):
    """The generated tables for (sf, seed), made on first use."""
    out = os.path.join(WORK, "data", f"sf{sf}_seed{seed}")
    done = os.path.join(out, ".done")
    if not os.path.exists(done):
        sys.path.insert(0, HERE)
        import gen
        shutil.rmtree(out, ignore_errors=True)
        gen.generate(REPO, sf, seed, out)
        open(done, "w").close()
        prune(os.path.dirname(out), keep=12)
    return out


def prune(parent, keep):
    dirs = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                  key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


# --------------------------------------------------------------- oracle

def oracle_check(data, outdir):
    """Names of the oracle-covered queries whose warm-up result differs
    from DuckDB running the query's oracle SQL on the same tables:
    same columns, no HUGEINT/DECIMAL leak, same dtype kinds, and the
    same rows with exact values once both sides are sorted."""
    import duckdb
    sql_file = os.path.join(outdir, "oracle_sql.json")
    if not os.path.exists(sql_file):
        return {}
    oracle = json.load(open(sql_file))
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        pdir = os.path.join(outdir, name)
        try:
            why = compare(con, sql, pdir)
        except Exception as e:  # an oracle that cannot run is a failure too
            why = f"compare error {e}"
        if why:
            bad[name] = why
    return bad


def compare(con, sql, pdir):
    if not os.path.isdir(pdir):
        return "no output"
    s = con.sql(f"SELECT * FROM read_parquet('{pdir}/*.parquet')").df()
    rel = con.sql(sql)
    d = rel.df()
    sc, dc = sorted(s.columns), sorted(d.columns)
    if sc != dc:
        return f"columns {sc} vs {dc}"
    leaks = [c for c, t in zip(rel.columns, map(str, rel.types))
             if "HUGEINT" in t.upper() or "DECIMAL" in t.upper()]
    if leaks:
        return f"oracle emits HUGEINT/DECIMAL in {leaks}"
    kinds = [c for c in sc if s[c].dtype.kind != d[c].dtype.kind]
    if kinds:
        return f"dtype kind differs in {kinds}"
    s = s[sc].sort_values(sc).reset_index(drop=True)
    d = d[dc].sort_values(dc).reset_index(drop=True)
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for c in sc:
        a, b = s[c], d[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            neq = ~((a.isna() & b.isna()) | (a == b))
        else:
            neq = ~((a.isna() & b.isna()) | (a.astype(object) == b.astype(object)))
        if neq.any():
            i = neq.idxmax()
            return f"col {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


# -------------------------------------------------------------- metrics

def tail(values):
    """(value, percentile): the highest percentile with at least ten
    samples beyond it once there are 100 samples (p90 or higher); with
    fewer, the maximum, since a lower percentile would not be a tail."""
    v = sorted(values)
    n = len(v)
    if n < 100:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def med(xs):
    return statistics.median(xs) if xs else 0.0


MODULES = ["operators", "dedup", "text", "ann", "multimodal"]

LAYER_KEYS = [
    "plan.analysis_s", "plan.optimizer_s", "plan.physical_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_s",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.peak_mem_mb",
    "shuffle.write_mb", "shuffle.records", "shuffle.write_s", "shuffle.fetch_wait_s", "spill.mb",
    "scan.read_mb", "scan.records", "skew.task_max_over_median",
    "shape.nodes", "shape.exchanges", "shape.broadcasts", "shape.sorts", "shape.smj",
    "shape.bhj", "shape.window_group_limits", "shape.sort_agg_fallback_tasks",
    "caches.peak_mb",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.wal_commit_s",
    "streaming.planning_s",
]

RATIOS = {"skew.task_max_over_median", "trace.overhead", "index.admit_ratio",
          "error_rate", "recall_at_10"}


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("per_doc"):
        return "B"
    return "ratio" if name in RATIOS else "count"


def latencies(calls, kind):
    """p50, tail, tail percentile and sample count of one kind of call."""
    lat = [c["latency_s"] for c in calls if c["kind"] == kind]
    if not lat:
        return {}
    t, pct = tail(lat)
    return {f"{kind}_p50_s": med(lat), f"{kind}_tail_s": t,
            f"{kind}_tail_pct": pct, f"{kind}_samples": len(lat)}


def end_to_end(rec):
    """The gated end-to-end metrics, and every other end-to-end figure
    the workload has, over the untraced passes."""
    passes = [p for p in rec["passes"] if not p["traced"]]
    calls = [c for p in passes for c in p["calls"]]
    figures = {}
    for kind in ("query", "ingest", "serve"):
        figures.update(latencies(calls, kind))
    m = {
        "setup_s": rec["setup"]["total_s"],
        "pass_s": med([p["wall_s"] for p in passes]),
        "cpu_s": med([p["cpu_s"] for p in passes]),
    }
    figures["peak_rss_mb"] = rec["peak_rss_mb"]
    ex = rec["extra"]
    for k in ("index_build_s", "recall_at_10", "index_bytes_per_doc"):
        if k in ex:
            figures[k] = ex[k]
    figures["passes"] = len(passes)
    return m, figures


def per_layer(rec):
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]
    m = {k: med([p["layers"].get(k, 0.0) for p in traced]) for k in LAYER_KEYS}
    for mod in MODULES:
        for part in ("call_s", "materialize_s"):
            m[f"{mod}.{part}"] = med([sum(c[part] for c in p["calls"] if c["module"] == mod)
                                      for p in traced])
    m["caches.release_s"] = med([sum(c["release_s"] for c in p["calls"]) for p in traced])
    m["setup.session_s"] = rec["setup"]["session_s"]
    m["setup.warmup_s"] = rec["setup"]["warmup_s"]
    m["trace.overhead"] = (med([p["wall_s"] for p in traced]) /
                           med([p["wall_s"] for p in plain]))
    ex = rec["extra"]
    appends = ex.get("append_bytes", [])
    m["index.append_mb"] = med([b / 2 ** 20 for b in appends])
    m["index.files_per_append"] = med(ex.get("append_files", []))
    m["index.admit_ratio"] = ex.get("admit_ratio", 0.0)
    serve = [c for p in traced for c in p["calls"] if c["name"] == "serve_ann"]
    results = med(ex.get("ann_result_rows", []))
    scanned = sum((c["layers"] or {}).get("scan.records", 0.0) for c in serve)
    m["ann.rows_scanned_per_result"] = scanned / (results * len(serve)) if serve and results else 0.0
    return m


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for f in ("build.sbt", "tools/gen_sf.py", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(REPO, f)):
            fail(f"{f} not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = classpath()
    t0 = time.time()
    data = tables(WORKLOADS[a.workload], a.seed)
    work = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-cp", cp, "perfbench.Main",
            a.workload, data, work, str(a.seconds), str(a.trace), out])
    log = os.path.join(work, "jvm.log")
    rc, _ = run_process(cmd, cwd=work, timeout=RUN_LIMIT_S - (time.time() - t0), log=log)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"the harness exited with {rc}")
    rec = json.load(open(out))

    bad = oracle_check(data, os.path.join(work, "out"))
    for name, why in bad.items():
        print(f"perfbench: {name} differs from the DuckDB oracle: {why}", file=sys.stderr)
    all_calls = rec["warm_calls"] + [c for p in rec["passes"] for c in p["calls"]]
    attempted = len(all_calls)
    failed = sum(1 for c in all_calls if not c["ok"] or c["name"] in bad)
    failed = min(attempted, failed + rec["check_failures"])

    e2e, figures = end_to_end(rec)
    figures = {**e2e, "error_rate": failed / attempted, **figures}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed,
        "figures": {k: {"value": round(v, 6), "unit": unit(k)} for k, v in figures.items()},
        "host": rec["host"], "failures": rec["failures"][:5]}))

    metrics = per_layer(rec) if a.trace else e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
