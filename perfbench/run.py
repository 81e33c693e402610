#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the harness and graft with sbt (into
.bench_build/). Each run starts one JVM with one SparkSession at local[k],
sets the workload up, runs its closed loop for the given seconds, checks
every output, and prints the metrics by name with their units. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the span tree is kept under .bench_build/results/.
See perfbench/README.md.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
DATA = BENCH / "data"
WORKLOADS = ("geostore-api", "corpus-batch", "ingest-mixed")
# the sf0.01 test tables the benchmark's queries read
TABLES = ("documents", "embeddings", "events")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 840  # the first run in a checkout builds first
# fixed heap flags, so peak_rss_mb compares like with like; no hsperfdata
# file outside the checkout
JVM_FLAGS = ["-Xms1g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

END_TO_END = {  # name -> unit
    "setup_s": "s", "ops_per_s": "1/s", "query_p50_ms": "ms", "query_tail_ms": "ms",
    "lookup_p50_ms": "ms", "lookup_tail_ms": "ms", "write_p50_ms": "ms", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "tables.loads": "count", "tables.load_ms": "ms",
    "operators.build_ms": "ms", "operators.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimize_ms": "ms",
    "catalyst.plan_ms": "ms", "catalyst.graft_rules_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.delay_ms": "ms",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.result_kb": "KB", "exec.core_util": "ratio",
    "driver.gap_ms": "ms", "iterate.jobs": "count",
    "catalog.get_ms": "ms", "catalog.find_ms": "ms", "catalog.write_ms": "ms",
    "catalog.bytes_per_write": "B", "catalog.versions": "count",
    "stores.jobs": "count", "stores.job_ms": "ms", "stores.chain_len": "count",
    "stores.compactions": "count", "stores.bytes_written_mb": "MB",
    "stores.files_written": "count",
    "pipeline.add_batch_ms": "ms", "pipeline.plan_ms": "ms",
    "pipeline.wal_ms": "ms", "pipeline.accepted_ratio": "ratio",
    # the workload-level figures that only some workloads have
    "batch_p50_ms": "ms", "batch_max_ms": "ms", "docs_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio", "failed_frac": "ratio",
    "trace.spans": "count", "trace.overhead_pct": "%",
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"[bench] {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_digest():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes() if f.is_file() else b"-")
    return h.hexdigest()


def build(deadline):
    """Compile graft and the harness once per source state; return the
    runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        die("no graft sources under src/main/scala: run from the root of a graft checkout")
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    digest = source_digest()
    if stamp.is_file() and stamp.read_text() == digest and cp_file.is_file():
        cp = cp_file.read_text().strip()
        # graft's classes live in the checkout's target/: rebuild if it is gone
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    # sbt keeps its own state and temp files inside the checkout too
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
            "-Dsbt.server.autostart=false", f"-Dsbt.global.base={BUILD / 'sbt-global'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               JAVA_OPTS=f"-Dfile.encoding=UTF-8 -Xmx2g -XX:-UsePerfData "
                         f"-Djava.io.tmpdir={BUILD / 'tmp'}")
    log("[bench] building graft and the harness (sbt) ...")
    blog = BUILD / "build.log"
    with open(blog, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=out,
                stderr=subprocess.STDOUT, timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {blog}")
    text = blog.read_text(errors="replace")
    cps = [ln.strip() for ln in text.splitlines()
           if ln.strip() and not ln.startswith("[") and ".jar" in ln and os.pathsep in ln]
    if p.returncode != 0 or not cps:
        log("\n".join(text.splitlines()[-30:]))
        die(f"build failed (exit {p.returncode}); see {blog}")
    cp_file.write_text(cps[-1])
    stamp.write_text(digest)
    return cps[-1]


# ---------------------------------------------------------------- checks

def check_queries(checked, check_dir, deadline):
    """Names of the checked queries whose output differs from the oracle.
    graft's own oracle check, scripts/check.py, compares each query's
    warm-up output under check_dir with DuckDB running its oracle SQL over
    the benchmark's tables; a query passes only on its PASS line."""
    oracle = {c["name"]: c["oracle"] for c in checked if c["oracle"] is not None}
    wrong = {c["name"] for c in checked if c["oracle"] is None}
    for n in sorted(wrong):
        log(f"[bench] WRONG query:{n}: no oracle SQL for this query")
    if not oracle:
        return wrong
    check_dir.mkdir(parents=True, exist_ok=True)
    (check_dir / "oracle_sql.json").write_text(json.dumps(oracle))
    try:
        p = subprocess.run(
            [sys.executable, str(ROOT / "scripts" / "check.py"), str(DATA), str(check_dir),
             *oracle], stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=max(1, deadline - time.time()))
        out = p.stdout + p.stderr
    except subprocess.TimeoutExpired:
        out = "scripts/check.py timed out"
    # a verdict line reads "<WORD>  <name>: <detail>"
    verdict = {}
    for ln in out.splitlines():
        _, _, rest = ln.partition(" ")
        verdict.setdefault(rest.strip().split(":", 1)[0], ln)
    for n in sorted(oracle):
        ln = verdict.get(n, "")
        if not ln.startswith("PASS"):
            log(f"[bench] WRONG query:{n}: {ln or 'no verdict; ' + out[-300:]}")
            wrong.add(n)
    return wrong


# ---------------------------------------------------------------- metrics

def percentile(xs, p):
    """Linear-interpolated percentile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_pct(n):
    """The highest percentile with at least ten samples beyond it, and
    never below the median."""
    return max(50.0, 100.0 * (1 - 10.0 / n)) if n else 50.0


def latency(xs):
    """(p50, tail, tail percentile, n) of a list of op times."""
    if not xs:
        return 0.0, 0.0, 0.0, 0
    p = tail_pct(len(xs))
    return percentile(xs, 50), percentile(xs, p), p, len(xs)


def metrics_of(res, wrong):
    """(end-to-end metrics, other workload figures, tail details)."""
    ok = [s for s in res["samples"] if s["timed"] and s["ok"]
          and not (s["kind"] == "query" and s["name"] in wrong)]
    by = lambda *kinds: [s["ms"] for s in ok if s["kind"] in kinds]  # noqa: E731
    qry = latency(by("query"))
    look = latency(by("lookup"))
    # a write changes the lake: a catalog create or upsert, an ingest batch
    writes = by("write", "batch")
    batches = by("batch")
    # the wall time of the timed ops themselves: the harness's own work
    # between ops (generating inputs, du walks, model checks) is left out
    busy_s = sum(s["ms"] for s in res["samples"] if s["timed"]) / 1000.0
    e2e = {
        "setup_s": res["setup"]["setup_s"],
        "ops_per_s": len(ok) / busy_s,
        "query_p50_ms": qry[0], "query_tail_ms": qry[1],
        "lookup_p50_ms": look[0], "lookup_tail_ms": look[1],
        "write_p50_ms": percentile(writes, 50) if writes else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    facts = res["facts"]
    extra = {
        "batch_p50_ms": percentile(batches, 50) if batches else 0.0,
        "batch_max_ms": max(batches) if batches else 0.0,
        "docs_per_s": facts.get("docs_per_s", 0.0),
        "stored_bytes_per_input_byte": facts.get("stored_bytes_per_input_byte", 0.0),
    }
    return e2e, extra, {"query_tail_ms": qry, "lookup_tail_ms": look}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    cp = build(t_start + BUILD_LIMIT_S)
    limit = time.time() + RUN_LIMIT_S
    if not all((DATA / f"{t}.parquet").is_file() for t in TABLES):
        die(f"benchmark tables missing under {DATA}")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = BUILD / "work" / f"{tag}-{os.getpid()}"
    results = BUILD / "results"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    out = work / "result.json"
    jvm_log = results / f"{tag}.log"
    cmd = (["java", *JVM_FLAGS, *ADD_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", str(DATA), "--work", str(work), "--out", str(out)]
           + (["--spans", str(results / f"{tag}-spans.json")] if a.trace else []))
    try:
        with open(jvm_log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=lf,
                                 stderr=subprocess.STDOUT)

            def stop(signum, _frame):  # never leave the JVM behind
                p.kill()
                p.wait()
                die(f"stopped by signal {signum}", 1)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                rc = p.wait(timeout=max(1, limit - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                die(f"run exceeded {RUN_LIMIT_S} s; see {jvm_log}", 1)
        for ln in jvm_log.read_text(errors="replace").splitlines():
            if ln.startswith("[bench]"):
                log(ln)
        if rc != 0 or not out.is_file():
            log("\n".join(jvm_log.read_text(errors="replace").splitlines()[-25:]))
            die(f"benchmark JVM failed (exit {rc}); see {jvm_log}", 1)
        res = json.loads(out.read_text())
        wrong = check_queries(res["checked"], work / "check", limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    samples = res["samples"]
    failed = sum(1 for s in samples
                 if not s["ok"] or (s["kind"] == "query" and s["name"] in wrong))
    attempted = len(samples)
    e2e, extra, tails = metrics_of(res, wrong)
    extra["failed_frac"] = failed / attempted if attempted else 1.0

    timed = [s for s in samples if s["timed"]]
    print(f"workload {a.workload}  seed {a.seed}  k={res['k']}  rounds {res['rounds']}  "
          f"measured {res['measure_s']:.1f} s  timed ops {len(timed)}  "
          f"attempted {attempted}  failed {failed}")
    st = res["setup"]
    print(f"  setup: session {st['session_s']:.2f} s, init {st['init_s']:.2f} s, "
          f"warm-up {st['warmup_s']:.2f} s")
    for name, v in {**e2e, **extra}.items():
        unit = END_TO_END.get(name) or PER_LAYER[name]
        note = ""
        if name in tails:
            _, _, pct, n = tails[name]
            note = f"  (p{pct:.1f} of {n} samples)"
        print(f"  {name:30s} {v:14.4f} {unit}{note}")

    if a.trace:
        layers = {**res["layers"], **res["facts"], **extra}
        untraced = results / f"{a.workload}-untraced-last.json"
        if untraced.is_file():
            base = json.loads(untraced.read_text())["ops_per_s"]
            layers["trace.overhead_pct"] = 100.0 * (base / e2e["ops_per_s"] - 1)
        else:
            log("[bench] no untraced run of this workload yet: trace.overhead_pct is 0")
            layers["trace.overhead_pct"] = 0.0
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
        (results / f"{tag}-layers.json").write_text(json.dumps(metrics, indent=1))
        print("  per-layer (traced run):")
        for n, m in metrics.items():
            print(f"    {n:30s} {m['value']:14.4f} {m['unit']}")
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}
        (results / f"{a.workload}-untraced-last.json").write_text(
            json.dumps({"seed": a.seed, "ops_per_s": e2e["ops_per_s"]}))

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
