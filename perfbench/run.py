#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload ja_tokenize --seed 1 --seconds 10 --trace 0

Steps: generate the seeded corpus (perfbench/gen.py; the tables are the
committed SF 0.001 test tables under perfbench/data/), build the harness
(perfbench/build.sbt compiles graft's sources plus perfbench/src; cached
under .bench_build/ until a source changes), run the measured JVM (set-up,
check, closed loop of one plan at a time on local[k], k <= nproc), compare
its dumped results with the DuckDB oracle, and print the metrics. With
--trace 1 the metrics are the per-layer ones. Every file it writes stays
under .bench_build/; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = ".bench_build"
XMX = "2g"
ARCHIVE = os.path.join(BUILD, "classes.jsa")
# a run ends within RUN_LIMIT_S, or BUILD_RUN_LIMIT_S when it builds; child
# processes past the deadline are killed
START = time.time()
RUN_LIMIT_S, BUILD_RUN_LIMIT_S = 170, 880
DEADLINE = START + RUN_LIMIT_S
WORKLOADS = ("ja_tokenize", "sql_relational")
HOT = ("q141", "q138", "q131", "q144", "q214", "q224", "q216", "q67", "q160")  # slowest Pipeline queries
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(corpus_dir, workload, k):
    """Compile the harness with sbt (offline), write the java argfile, and
    dump a class-data-sharing archive of a set-up's classes (every JVM of
    the benchmark then starts from it)."""
    argfile = os.path.join(BUILD, "java.args")
    stampfile = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(argfile) and os.path.exists(stampfile) and open(stampfile).read() == stamp:
        return argfile
    for f in (stampfile, argfile, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.abspath(os.path.join(BUILD, "sbt-tmp"))
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also the launcher script's own JVMs
    log("building the harness (sbt package)")
    t = time.time()
    global DEADLINE
    DEADLINE = START + BUILD_RUN_LIMIT_S
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                            "export Runtime/fullClasspathAsJars"], cwd="perfbench", env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=DEADLINE - time.time())
    except subprocess.TimeoutExpired:
        fail("sbt build ran past the run's deadline")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    cp = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if not cp:
        fail("sbt printed no classpath")
    with open(argfile, "w") as fh:
        fh.write("-cp\n" + json.dumps(cp[-1].strip()) + "\n")
    work = os.path.join(BUILD, "work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java(argfile, work, "setup", workload, corpus_dir, k, 0, 0,
         os.path.abspath(os.path.join(work, "setup.json")), "setup.log",
         [f"-XX:ArchiveClassesAtExit={os.path.abspath(ARCHIVE)}"])
    log(f"built in {time.time() - t:.1f}s")
    with open(stampfile, "w") as fh:
        fh.write(stamp)
    return argfile


def java(argfile, work, mode, workload, corpus_dir, k, seconds, trace, out, logname,
         jvm_opts=None):
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={os.path.abspath(ARCHIVE)}"]
    cmd = ["java", f"@{os.path.abspath(argfile)}", f"-Xmx{XMX}", "-XX:-UsePerfData", *jvm_opts,
           f"-Djava.io.tmpdir={os.path.abspath(work)}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["perfbench.Harness", "--mode", mode, "--workload", workload,
            "--data", os.path.abspath(gen.TABLES), "--corpus", corpus_dir,
            "--work", os.path.abspath(work), "--cores", str(k), "--seconds", str(seconds),
            "--trace", str(trace), "--out", out]
    t0 = time.time()
    with open(os.path.join(work, logname), "w") as fh:
        try:
            p = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=max(10.0, DEADLINE - t0))
        except subprocess.TimeoutExpired:  # the child is killed and reaped
            fail(f"harness ({mode}) ran past the run's deadline", 1)
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, logname)).read()[-4000:])
        fail(f"harness ({mode}) exited with {p.returncode}", 1)
    with open(out) as fh:
        res = json.load(fh)
    res["setup_s"] = res["setup_done_epoch_us"] / 1e6 - t0
    return res


def oracle_check(verify):
    """Compare the dumped query results against the DuckDB oracle."""
    if not os.path.exists(os.path.join(verify, "oracle_sql.json")):
        return 0, []
    try:
        p = subprocess.run([sys.executable, "scripts/check.py", gen.TABLES, verify],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=max(10.0, DEADLINE + 8 - time.time()))
    except subprocess.TimeoutExpired:
        fail("the oracle check ran past the run's deadline", 1)
    fails = [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    checked = sum(1 for l in p.stdout.splitlines() if l.startswith(("ok ", "FAIL", "rows-only")))
    if p.returncode != 0 and not fails:
        fails = ["check.py: " + p.stdout[-300:]]
    return checked, fails


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def end_to_end(main):
    passes = main["passes"]
    walls = [op["wall_s"] for p in passes for op in p["ops"]]
    p75 = stats.percentile(walls, 75)
    if p75 is None:
        fail(f"only {len(walls)} query samples: too few for a p75 (need 10 beyond it)", 1)
    return {
        "setup_s": (main["setup_s"], "s"),
        "wall_s": (stats.median([p["wall_s"] for p in passes]), "s"),
        "cpu_s": (stats.median([sum(op["cpu_s"] for op in p["ops"]) for p in passes]), "s"),
        "heap_mb": (main["heap_mb"], "MB"),
        "query_p50_s": (stats.median(walls), "s"),
        "query_p75_s": (p75, "s"),
    }, {"query_samples": len(walls), "passes": len(passes)}


FAMILIES = ("Dedup", "Similarity", "Retrieval", "TextAnalysis", "Graph", "Quantize", "Sampling",
            "Robust", "Sketches", "Temporal", "Privacy", "Clustering", "Multimodal")
SPAN_LAYERS = ("workload", "pass", "query", "phase", "job", "stage", "ja", "expr", "operators")
MB = 1 / 1048576


def per_layer(main, k):
    """The per-layer metrics of a traced run, as {name: (value, unit)}."""
    passes = main["passes"]
    n = len(passes)
    ops = [op for p in passes for op in p["ops"]]

    def per_pass(key, scale=1.0):
        return sum(op[key] for op in ops) / n * scale

    wall = stats.median([p["wall_s"] for p in passes])
    cpu = stats.median([sum(op["cpu_s"] for op in p["ops"]) for p in passes])
    corpus_walls = [sum(op["wall_s"] for op in p["ops"] if op["kind"] == "corpus") for p in passes]
    # every corpus plan tokenizes the whole corpus once
    chars = main["corpus_chars"] * sum(op["kind"] == "corpus" for op in passes[0]["ops"])
    m = {
        "ja.dict_init_ms": (main["ja.dict_init_ms"], "ms"),
        "ja.dict_heap_mb": (main["ja.dict_heap_mb"], "MB"),
        "ja.normal.chars_per_s": (main["ja.normal.chars_per_s"], "1/s"),
        "ja.search.chars_per_s": (main["ja.search.chars_per_s"], "1/s"),
        "ja.extended.chars_per_s": (main["ja.extended.chars_per_s"], "1/s"),
        "ja.ascii.chars_per_s": (main["ja.ascii.chars_per_s"], "1/s"),
        "ja.tokens_per_char": (main["ja.tokens_per_char"], "ratio"),
        # single-thread time to tokenize a pass's corpus chars, as a share of
        # the pass's executor CPU; both bases are reported beside it
        "ja.cpu_share": (chars / main["ja.normal.chars_per_s"] / cpu, "ratio"),
        "ja.cpu_share.base_chars": (chars, "count"),
        "ja.cpu_share.base_cpu_s": (cpu, "s"),
        "workload.chars_per_s": (chars / stats.median(corpus_walls) if chars else 0.0, "1/s"),
        "rules.tokenize_nodes": (sum(p["tokenize_nodes"] for p in passes) / n, "count"),
        "queries.jobs": (per_pass("jobs"), "count"),
        "queries.stages": (per_pass("stages"), "count"),
        "queries.tasks": (per_pass("tasks"), "count"),
        "queries.shuffle_read_mb": (per_pass("shuffle_read_b", MB), "MB"),
        "queries.shuffle_write_mb": (per_pass("shuffle_write_b", MB), "MB"),
        "queries.spill_mb": (per_pass("spill_b", MB), "MB"),
        "queries.gc_s": (per_pass("gc_ms", 1 / 1000), "s"),
        "queries.input_records": (per_pass("input_records"), "count"),
        "queries.cpu_util": (cpu / (wall * k), "ratio"),
        "queries.floor_s": (main["floor_s"], "s"),
        "trace.wall_s": (wall, "s"),
        "trace.bookkeeping_s": (main["trace_bookkeeping_s"] / n, "s"),
    }
    for ph, name in (("analysis", "analysis_ms"), ("optimization", "optimize_ms"),
                     ("planning", "planning_ms")):
        m[f"queries.{name}"] = (sum(op["phases_ms"].get(ph, 0.0) for op in ops) / len(ops), "ms")
    for key, v in main.items():
        if key.startswith("expr."):
            m[key] = (v, "1/s" if key.endswith("rows_per_s") else "bool")
    # each probe query's median over its timed runs
    probe = [{"name": r["name"], "family": r["family"],
              **{f: stats.median([x[f] for x in r["runs"]])
                 for f in ("wall_s", "cpu_s", "shuffle_read_b", "shuffle_write_b")}}
             for r in main["operator_probe"]]
    for h in HOT:
        q = [r for r in probe if r["name"].split("_")[0] == h]
        m[f"queries.{h}.wall_s"] = (sum(r["wall_s"] for r in q), "s")
        m[f"queries.{h}.cpu_s"] = (sum(r["cpu_s"] for r in q), "s")
    for f in FAMILIES:
        q = [r for r in probe if r["family"] == f]
        m[f"operators.{f}.wall_s"] = (sum(r["wall_s"] for r in q), "s")
        m[f"operators.{f}.cpu_s"] = (sum(r["cpu_s"] for r in q), "s")
        m[f"operators.{f}.shuffle_mb"] = (
            sum(r["shuffle_read_b"] + r["shuffle_write_b"] for r in q) * MB, "MB")
    # pass-level layers per pass; the probes once per run
    self_s = stats.self_times(main["spans"])
    for layer in SPAN_LAYERS:
        per = n if layer in ("pass", "query", "phase", "job", "stage") else 1
        m[f"self.{layer}_s"] = (self_s.get(layer, 0.0) / per, "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala/graft") or not os.path.exists("scripts/check.py"):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    if not os.path.exists(os.path.join(gen.TABLES, "documents.parquet")):
        fail(f"the benchmark's tables are missing ({gen.TABLES})")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    k = min(4, os.cpu_count() or 1)

    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        gen_id = hashlib.sha256(fh.read()).hexdigest()[:12]
    corpus_dir = os.path.abspath(os.path.join(BUILD, "corpus", f"seed{a.seed}-{gen_id}"))
    if not os.path.exists(os.path.join(corpus_dir, "corpus_stats.json")):
        shutil.rmtree(corpus_dir, ignore_errors=True)
        corpus = gen.generate(a.seed, corpus_dir)
    else:
        corpus = json.load(open(os.path.join(corpus_dir, "corpus_stats.json")))
    log(f"corpus: {json.dumps(corpus)}")
    argfile = build(corpus_dir, a.workload, k)

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.abspath(os.path.join(work, "run.json"))
    res = java(argfile, work, "run", a.workload, corpus_dir, k, a.seconds, a.trace, out,
               "run.log")
    res["corpus_chars"] = corpus["chars"] if a.workload == "ja_tokenize" else 0

    checked, oracle_fails = oracle_check(os.path.join(work, "verify"))
    attempted = res["attempted"] + checked
    failed = res["failed"] + len(oracle_fails)
    for f in res["failures"] + oracle_fails:
        log(f"FAILED {f}")

    if a.trace:
        metrics, extra = per_layer(res, k), {}
        metrics["check.fail_ratio"] = (failed / attempted, "ratio")
    else:
        metrics, extra = end_to_end(res)
    bad = [n for n in metrics if not stats.valid_name(n)]
    if bad:
        fail(f"invalid metric names: {bad}", 1)
    provenance = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": os.cpu_count(), "k": k, "sf": gen.SF, "corpus": corpus, "git_sha": git_sha(),
        "jvm": res["jvm"], "xmx": XMX, "xmx_mb": res["xmx_mb"], "spark": res["spark"],
        "floor_s": res["floor_s"], "check_s": res["check_s"], "source_sha256": source_stamp(),
        "fail_ratio": failed / attempted, "attempted": attempted, "failed": failed, **extra}
    print(json.dumps({"provenance": provenance}))
    for n, (v, u) in sorted(metrics.items()):
        print(f"{n} = {v} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
