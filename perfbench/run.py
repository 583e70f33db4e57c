#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run.

    python3 perfbench/run.py --workload <etl|jobs_heavy>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness (perfbench/harness, sbt, offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run makes its
inputs from --seed, starts one JVM (local[nproc]) that times its cold
set-up and the passes, checks every output, and prints one JSON object
as the last line of stdout: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. METRICS.md describes the metrics and workloads.
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

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")

# Bump when a generator's output for a given seed changes on purpose.
GEN_VERSION = 1

# Two of the job-heaviest registry queries (56 and 50 jobs per pass at
# sf0.01). METRICS.md says why the others are left out.
JOBS_HEAVY = ["q312_dedup_merge", "q212_hits"]

# The engine's sf0.01 test fixture, as committed here: the one table the
# two queries read. Its digest is fixed; the seed sets only query order.
FIXTURE = os.path.join(HERE, "data", "sf0.01")
FIXTURE_SHA256 = "0f6b91449f3ad92a72f227a94ed204876348f4650fa8fe64b3a61e0a93c2ce99"

# Input sizes. `warm` is the small input the stream drain warms up on.
# `jvm` adds JVM flags for the workload.
WORKLOADS = {
    "etl": {"input": {"etl": dict(months=3, uris_per_month=600, days=4, notices_per_day=800),
                      "docs": dict(files_per_landing=2, docs_per_file=200)},
            "warm": {"docs": dict(files_per_landing=1, docs_per_file=40)},
            "jvm": []},
    # C1 only: under C2 this mix's pass walls kept falling for ten-plus
    # passes while the compiler competed for the cores (METRICS.md).
    "jobs_heavy": {"queries": JOBS_HEAVY,
                   "jvm": ["-XX:TieredStopAtLevel=1"]},
}
JVM_TIMEOUT_S = 160  # the whole run must end within 180 s

PACKS = ["Dedup", "Graph"]
LAYER_METRICS = (
    ["sources." + m for m in ("cf_extract_s", "fat_extract_s", "merge_s", "csv_s",
                              "read_partitions", "parse_error_ratio",
                              "fetch_per_unique_uri", "files_written", "bytes_written")]
    + [f"ops.{p}.wall_s" for p in PACKS]
    + [f"q.{q}.{m}" for q in JOBS_HEAVY for m in ("wall_s", "jobs")]
    + ["sched.jobs", "sched.stages", "sched.tasks", "sched.ms_per_job",
       "exec.run_s", "exec.cpu_s", "exec.busy_ratio",
       "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
       "ckpt.pinned_rdds", "ckpt.storage_mib", "ckpt.release_s", "driver.result_bytes"]
    + ["streaming." + m for m in ("batches", "add_batch_s", "latest_offset_s",
                                  "planning_s", "commit_s", "jobs_per_batch",
                                  "batch_growth", "compact_s", "store_files",
                                  "store_bytes", "keys_per_doc", "admit_ratio")]
    + ["jvm.gc_s", "jvm.jit_s", "host.ext_busy_cores", "trace.overhead_s"])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "harness")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns[:] = sorted(d for d in dns if d not in ("target", ".bsp") and not
                            (d == "project" and os.path.basename(dp) == "project"))
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the
    classpath file."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "build.json")
    fp = _fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            same = json.load(f).get("fingerprint") == fp
        with open(cp_file) as f:
            present = all(os.path.exists(e) for e in f.read().split("\n")[1].split(":"))
        if same and present:
            return cp_file
    sbt_home = os.path.join(BUILD, "sbt")
    os.makedirs(os.path.join(sbt_home, "tmp"), exist_ok=True)
    # sbt's state, caches and server socket stay inside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g",
            f"-Dsbt.global.base={sbt_home}", f"-Dsbt.boot.directory={sbt_home}/boot",
            f"-Dsbt.ivy.home={sbt_home}/ivy2", f"-Djava.io.tmpdir={sbt_home}/tmp",
            f"-Djna.tmpdir={sbt_home}/tmp", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    # JAVA_TOOL_OPTIONS also reaches the launcher script's own `java` probes
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    log("building engine and harness (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
                           stderr=lf, text=True, timeout=800)
        lf.write(p.stdout)
    cps = [l for l in p.stdout.splitlines() if "harness/target/scala-2.13/classes" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (rc={p.returncode}); see .bench_build/build.log", 3)
    with open(cp_file, "w") as f:
        f.write("-cp\n" + cps[-1].strip() + "\n")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "build_s": time.time() - t0}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cp_file


# --------------------------------------------------------------- inputs

def make_inputs(workload, seed, run_dir):
    """Return the run's input and warm-up directories, what was planted
    in the input, its digest and whether the digest is the one recorded
    for this seed (the fixed one, for the fixture)."""
    if workload == "jobs_heavy":
        digest = gen.digest(FIXTURE)
        return FIXTURE, FIXTURE, {}, digest, digest == FIXTURE_SHA256
    spec = WORKLOADS[workload]
    src, warm = os.path.join(run_dir, "input"), os.path.join(run_dir, "warm")
    made = {**gen.etl(src, seed, **spec["input"]["etl"]),
            **gen.stream(f"{src}/docs", seed, **spec["input"]["docs"])}
    gen.stream(f"{warm}/docs", seed + 7919, **spec["warm"]["docs"])
    digest = gen.digest(src)
    book = os.path.join(BUILD, "digests.json")
    known = json.load(open(book)) if os.path.exists(book) else {}
    key = f"{workload}:{seed}:v{GEN_VERSION}:{json.dumps(spec['input'], sort_keys=True)}"
    ok = known.get(key, digest) == digest
    if not ok:
        log(f"INPUT DIGEST MISMATCH for {key}: {digest} vs recorded {known[key]}")
    known[key] = known.get(key, digest)
    with open(book, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)
    return src, warm, made, digest, ok


# --------------------------------------------------------------- checks

def oracle_checks(tables_dir, results_dir):
    """Each query's parquet result against its DuckDB oracle, compared
    as scripts/selfcheck.py compares them: columns sorted by name, rows
    by all columns, values and column types exact."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from selfcheck import TABLES, fetch, table_glob, vals_equal
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{tables_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_glob(tables_dir, t)}'")
    oracles = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    out = []
    for q, sql in oracles.items():
        if sql is None:
            out.append((f"oracle.{q}", False, "no oracle SQL registered"))
            continue
        try:
            g = fetch(con, f"SELECT * FROM read_parquet('{results_dir}/{q}/*.parquet')")
            w = fetch(con, sql)
            if g[0] != w[0]:
                out.append((f"oracle.{q}", False, f"columns {g[0]} vs {w[0]}"))
            elif g[1] != w[1]:
                out.append((f"oracle.{q}", False, f"types {g[1]} vs {w[1]}"))
            elif len(g[2]) != len(w[2]):
                out.append((f"oracle.{q}", False, f"rows {len(g[2])} vs {len(w[2])}"))
            else:
                bad = next(((i, g[0][c], gv, wv) for i, (gr, wr) in enumerate(zip(g[2], w[2]))
                            for c, (gv, wv) in enumerate(zip(gr, wr)) if not vals_equal(gv, wv)), None)
                out.append((f"oracle.{q}", bad is None,
                            "" if bad is None else f"row {bad[0]} col {bad[1]}: "
                            f"spark={bad[2]!r} duckdb={bad[3]!r}"))
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            out.append((f"oracle.{q}", False, f"{type(e).__name__}: {e}"))
    return out


# -------------------------------------------------------------- metrics

def med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def ok_ratio(checks):
    """Share of check kinds that hold. A kind is a check's name without
    its pass prefix (`pass3.cf_ok` -> `cf_ok`) and holds only if every
    instance does, so the denominator does not grow with the number of
    passes and one failed kind moves the ratio by 1/kinds."""
    kinds = {}
    for name, ok, _ in checks:
        head, _, rest = name.partition(".")
        k = rest if rest and (head.startswith("pass") or head == "warmup") else name
        kinds[k] = kinds.get(k, True) and ok
    return sum(kinds.values()) / len(kinds)


def end_to_end(passes, setup, rss, out_ratio, ok):
    """Pass timings are min-of-N over the run's passes, per call (as
    graft.Bench takes each query's best run): this host has CPU-steal
    bursts that slow some calls, never speed one. `wall_s` is the pass
    with every call at its best; on etl `batch_p50_s` is the median over
    the drain's micro-batches of each batch's best, on jobs_heavy (no
    micro-batches) it is `wall_s`. setup_s is the run's one cold set-up,
    the one its passes follow."""
    best_call = {}
    for p in passes:
        for c in p["calls"]:
            best_call[c["name"]] = min(best_call.get(c["name"], c["wall_s"]), c["wall_s"])
    if any(p["batch_s"] for p in passes):
        n = min(len(p["batch_s"]) for p in passes)
        batch = med(min(p["batch_s"][i] for p in passes) for i in range(n))
    else:  # no micro-batches: the batch is the whole query mix, one pass
        batch = sum(best_call.values())
    vals = {
        "setup_s": (setup, "s"),
        "wall_s": (sum(best_call.values()), "s"),
        "query_p50_s": (med(best_call.values()), "s"),
        "batch_p50_s": (batch, "s"),
        "out_bytes_per_in_byte": (out_ratio, "ratio"),
        "peak_rss_mib": (rss, "MiB"),
        "ok_ratio": (ok, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def per_layer(rep, passes):
    traced = [p for p in passes if p["traced"]]
    cores = rep["cores"]
    v = {m: 0.0 for m in LAYER_METRICS}
    for k in LAYER_METRICS:  # listener counts and the harness's layer readings
        if any(k in p["layer"] for p in traced):
            v[k] = med(p["layer"].get(k, 0.0) for p in traced)
    wall = med(p["wall_s"] for p in traced)
    v["sched.ms_per_job"] = 1e3 * wall / v["sched.jobs"] if v["sched.jobs"] else 0.0
    v["exec.busy_ratio"] = v["exec.run_s"] / (wall * cores) if wall else 0.0
    v["ckpt.release_s"] = med(p["release_s"] for p in traced)
    groups = {}
    for p in traced:
        per = {}
        for c in p["calls"]:
            per[c["group"]] = per.get(c["group"], 0.0) + c["wall_s"]
            if c["group"].startswith("ops."):
                groups.setdefault(f"q.{c['name']}.wall_s", []).append(c["wall_s"])
                groups.setdefault(f"q.{c['name']}.jobs", []).append(
                    c.get("counts", {}).get("sched.jobs", 0.0))
            elif c["group"] == "sources":
                groups.setdefault(f"sources.{c['name']}_s", []).append(c["wall_s"])
        for g, w in per.items():
            if g.startswith("ops."):
                groups.setdefault(f"{g}.wall_s", []).append(w)
    for k, xs in groups.items():
        if k in v:
            v[k] = med(xs)
    if v["streaming.batches"]:
        ingest_jobs = med(sum(c.get("counts", {}).get("sched.jobs", 0.0) for c in p["calls"]
                              if c["name"].startswith("ingest.")) for p in traced)
        v["streaming.jobs_per_batch"] = ingest_jobs / v["streaming.batches"]
    v["jvm.gc_s"] = rep["jvm"]["gc_s"]
    v["jvm.jit_s"] = rep["jvm"]["jit_s"]
    v["host.ext_busy_cores"] = med(p["ext_busy_cores"] for p in passes)
    # each traced pass against the mean of its untraced neighbours, so a
    # warming or drifting host does not read as tracing cost
    diffs = []
    for i, p in enumerate(passes):
        if p["traced"]:
            nb = [q["wall_s"] for q in passes[max(0, i - 1):i + 2] if not q["traced"]]
            diffs.append(p["wall_s"] - statistics.mean(nb))
    v["trace.overhead_s"] = med(diffs)
    return {k: {"value": v[k], "unit": unit_of(k)} for k in LAYER_METRICS}


def unit_of(name):
    if name.endswith("ms_per_job"):
        return "ms"
    if name.endswith(("_ratio", "per_doc", "per_unique_uri", "growth", "per_batch",
                      "busy_cores")):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mib"):
        return "MiB"
    return "count"


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: build.sbt and src/main/scala/graft not found", 2)
    cp_file = build()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    src, warm, made, digest, digest_ok = make_inputs(a.workload, a.seed, run_dir)
    log(f"inputs {a.workload} seed={a.seed} sha256={digest} {made}")

    spec = WORKLOADS[a.workload]
    extra = []
    if "queries" in spec:
        extra.append("queries=" + ",".join(spec["queries"]))
    if a.workload == "etl":
        extra.append("planted=" + ",".join(f"{k}:{v}" for k, v in made.items()))
    add_opens = [x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                             "java.net", "java.nio", "java.util", "java.util.concurrent",
                             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                             "sun.security.action", "sun.util.calendar")
                 for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    report = os.path.join(run_dir, "report.json")
    # The heap is fixed and pre-touched so peak RSS does not follow the
    # collector's heap sizing. No perf-data file in /tmp.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=896m",
            "-XX:-UsePerfData", *spec["jvm"],
            f"-Djava.io.tmpdir={run_dir}/tmp", f"@{cp_file}"] + add_opens
           + ["perfbench.Main", a.workload, src, warm, f"{run_dir}/work", str(a.seconds),
              str(a.trace), str(a.seed), report] + extra)
    budget = JVM_TIMEOUT_S - (time.time() - t_start)
    try:
        p = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=budget)
    except subprocess.TimeoutExpired:
        fail(f"harness JVM exceeded {budget:.0f} s and was killed", 4)
    if p.returncode != 0 or not os.path.exists(report):
        fail(f"harness JVM failed (rc={p.returncode})", 4)
    with open(report) as f:
        rep = json.load(f)
    t_jvm = time.time()

    passes = rep["passes"]
    calls = [c for p in passes for c in p["calls"]]
    checks = [(c["name"], c["ok"], c["detail"]) for c in rep["checks"]]
    checks.append(("input_digest", digest_ok, digest))
    bad_calls = [c["name"] for c in calls if not c["ok"]]
    checks.append(("calls", not bad_calls, f"failed calls: {bad_calls}"))
    out_ratio = None
    if "queries" in spec:
        checks += oracle_checks(src, f"{run_dir}/work/results")
        out_ratio = gen.input_bytes(f"{run_dir}/work/results") / gen.input_bytes(src)
        log(f"oracle checks took {time.time() - t_jvm:.1f} s")
    attempted = len(calls) + len(checks)
    failed = len(bad_calls) + sum(not ok for _, ok, _ in checks)
    for name, ok, detail in checks:
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")
    if out_ratio is None:
        out_ratio = med(p["out_bytes"] / p["in_bytes"] for p in passes)
    plain = [p for p in passes if not p["traced"]]
    log(f"passes={len(passes)} walls={[round(p['wall_s'], 3) for p in passes]} "
        f"calls={[[round(c['wall_s'], 2) for c in p['calls']] for p in passes]} "
        f"batches={[[round(b, 2) for b in p['batch_s']] for p in passes]} "
        f"setup={rep['setup_s']:.3f} "
        f"ext_busy_cores={[round(p['ext_busy_cores'], 2) for p in passes]}")

    if a.trace:
        metrics = per_layer(rep, passes)
        with open(os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-layers.json"), "w") as f:
            json.dump(metrics, f, indent=1)
        shutil.copy(os.path.join(run_dir, "work", "spans.json"),
                    os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-spans.json"))
    else:
        metrics = end_to_end(plain, rep["setup_s"], rep["peak_rss_mib"], out_ratio,
                             ok_ratio(checks))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
