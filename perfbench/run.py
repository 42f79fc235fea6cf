#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. It builds the engine
and the harness from source (sbt, once per source state, into
``.bench_build``), generates the workload's inputs from the seed, runs the
harness JVM with a pinned heap, checks the outputs, and prints one JSON
line as its last line of output::

    {"correct": true, "attempted": 120, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer metrics, and the span
and counter artifact is written to ``.bench_build/runs/<run>/layers.json``.
Workloads and their sizes are defined in ``WORKLOADS`` below and described
in ``perfbench/README.md``.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
DEADLINE_S = 175
HEAP = "2g"

# Each timed query must also be oracle-checked in every run, so the list
# leaves out the queries whose DuckDB oracle alone takes more than a few
# seconds on this corpus (q26, q27, q72, q110).
CURATION_QUERIES = [
    "q25_dedup_exact", "q29_knn_cosine", "q31_lang_id", "q33_token_stats",
    "q46_cosine_neardup", "q91_lsh_neardup_pairs", "q102_lsh_neardup_auto",
    "q105_seq_pack", "q106_repetition", "q113_semdedup",
]

# `tail`: the percentile reported as op_tail_s; a run gathers at least
# stats.min_samples(tail) timed samples for it.
WORKLOADS = {
    "corpus_curation": {"kind": "batch", "mult": 3, "queries": CURATION_QUERIES, "tail": 75},
    "telegram_ingest": {"kind": "ingest", "rate": 20.0, "kits": 60, "tail": 90},
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------ build

def _source_files():
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        base = os.path.join(ROOT, top)
        for d, subdirs, files in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.join(d, f)
    for f in ("build.sbt", "perfbench/build.sbt"):
        yield os.path.join(ROOT, f)


def build():
    """Compiles engine and harness when their sources changed since the
    last build; returns the harness's runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a repository checkout")
    h = hashlib.sha256()
    for f in _source_files():
        if os.path.exists(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    t0 = time.time()
    # Offline build from the local dependency caches, as the repository's
    # own test command runs it, unless the caller configured sbt itself.
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx4g")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    lines = open(os.path.join(BUILD, "build.log")).read().strip().splitlines()
    if r.returncode != 0 or not lines or "/perfbench/target/" not in lines[-1]:
        fail(f"build failed, see {BUILD}/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


# ----------------------------------------------------------------- inputs

def inputs(workload, seed, cp):
    """Generates (once per seed) the workload's inputs; returns their dir.
    The curation corpus is the seeded base (``gen.sample_base``)
    replicated by the engine's ``graft.MakeScale``."""
    cfg = WORKLOADS[workload]
    tag = f"x{cfg['mult']}" if cfg["kind"] == "batch" else f"r{cfg['rate']}-h"
    d = os.path.join(BUILD, "inputs", f"{workload}-{tag}-{seed}")
    done = os.path.join(d, ".complete")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        if cfg["kind"] == "batch":
            work = os.path.join(BUILD, "inputs", f"tmp-{workload}-{seed}")
            shutil.rmtree(work, ignore_errors=True)
            gen.sample_base(os.path.join(work, "base"), seed)
            run_java(cp, work, "graft.MakeScale",
                     [os.path.join(work, "base"), d, str(cfg["mult"])], DEADLINE_S)
            shutil.rmtree(work, ignore_errors=True)
        else:
            # the window (up to 60 s), the warm-up and a traced run's ladder
            count = 22000
            expected = gen.telegrams(os.path.join(d, "telegrams.tsv"), seed, count, cfg["kits"])
            gen.history(os.path.join(d, "history.tsv"), seed, cfg["kits"])
            with open(os.path.join(d, "expected.json"), "w") as f:
                json.dump([[k, t, v] for (k, t), v in sorted(expected.items())], f)
        open(done, "w").close()
        log(f"inputs for seed {seed} written")
    return d


# ----------------------------------------------------------------- checks

def _check_module():
    spec = importlib.util.spec_from_file_location("repo_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _digest(cols, rows):
    h = hashlib.sha256("\x02".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x03")
    return h.hexdigest()


def oracle_check(corpus, check_dir, queries):
    """Hash-compares each query's check-pass output with its DuckDB oracle
    (``SparkEntry.oracleSql``) on the same corpus, canonicalised as
    ``tools/check.py`` does. Oracle digests are cached per corpus content
    and SQL text. Returns ``{query: reason}`` for every mismatch."""
    import duckdb
    check = _check_module()
    h = hashlib.sha256()
    for f in sorted(os.listdir(corpus)):
        if f.endswith(".parquet"):
            h.update(f.encode())
            with open(os.path.join(corpus, f), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    cache_key = h.hexdigest()
    oracles = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    cache_dir = os.path.join(BUILD, "oracle-cache")
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{os.path.join(BUILD, 'duckdb_tmp')}'")
    for t in check.TABLES:
        p = os.path.join(corpus, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for q in queries:
        out = os.path.join(check_dir, q)
        if not os.path.isdir(out):
            continue  # the check pass already recorded why
        if q not in oracles:
            bad[q] = "no oracle SQL"
            continue
        sql = oracles[q]
        key = hashlib.sha256(f"{cache_key}\x00{q}\x00{sql}".encode()).hexdigest()
        cached = os.path.join(cache_dir, key)
        if os.path.exists(cached):
            expect = open(cached).read()
        else:
            try:
                rel = con.sql(sql)
                drift = [c for c, t in zip(rel.columns, rel.types)
                         if str(t).upper() in ("HUGEINT", "UHUGEINT")]
                if drift:
                    bad[q] = f"oracle type drift {drift}"
                    continue
                e_cols, e_rows = check.canon([c.lower() for c in rel.columns], rel.fetchall())
            except Exception as e:  # an oracle that fails is a failed check
                bad[q] = f"oracle error: {e}"
                continue
            expect = _digest(e_cols, e_rows)
            with open(cached, "w") as f:
                f.write(expect)
        got = con.sql(f"SELECT * FROM '{out}/*.parquet'")
        g_cols, g_rows = check.canon([c.lower() for c in got.columns], got.fetchall())
        if _digest(g_cols, g_rows) != expect:
            bad[q] = f"output differs from oracle ({len(g_rows)} rows)"
    return bad


# ---------------------------------------------------------------- harness

def run_java(cp, work_dir, main_class, argv, remaining_s):
    """Runs ``main_class`` in a JVM with the pinned heap, its temporary
    and scratch files under ``work_dir``, its output in ``work_dir/jvm.log``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work_dir, "scratch"),
               SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={tmp}"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, main_class] + argv)
    logf = os.path.join(work_dir, "jvm.log")
    with open(logf, "w") as out:
        p = subprocess.Popen(cmd, cwd=work_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, remaining_s))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{main_class} did not finish in time, see {logf}")
    if rc != 0:
        fail(f"{main_class} exited with {rc}, see {logf}")


def run_jvm(cp, run_dir, argv, t_start):
    run_java(cp, run_dir, "perfbench.Main", argv, DEADLINE_S - (time.time() - t_start))
    res = json.load(open(os.path.join(run_dir, "result.json")))
    log("harness finished")
    for k, v in res["confs"].items():
        log(f"conf {k}={v}")
    return res


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def metric(value, unit):
    return {"value": value, "unit": unit}


def batch_run(args, cfg, cp, run_dir, t_start):
    corpus = inputs(args.workload, args.seed, cp)
    res = run_jvm(cp, run_dir, [
        "--corpus", corpus, "--workload", args.workload, "--out", run_dir,
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--seed", str(args.seed),
        "--queries", ",".join(cfg["queries"]), "--min-samples", str(stats.min_samples(cfg["tail"])),
    ], t_start)
    bad = dict(res["check_errors"])
    bad.update(oracle_check(corpus, os.path.join(run_dir, "check"), cfg["queries"]))
    for q, why in sorted(bad.items()):
        log(f"FAILED {q}: {why}")
    samples = res["samples"]
    threw = [s for s in samples if s["error"] is not None]
    for s in threw[:5]:
        log(f"FAILED {s['query']} (pass {s['pass']}): {s['error']}")
    ok = [s for s in samples if s["error"] is None and s["query"] not in bad]
    attempted = len(cfg["queries"]) + len(samples)
    failed = len(bad) + len(threw) + sum(1 for s in samples if s["error"] is None and s["query"] in bad)
    untraced = [p["s"] for p in res["passes"] if not p["traced"]]
    if args.trace:
        traced = [p["s"] for p in res["passes"] if p["traced"]]
        spans = json.load(open(os.path.join(run_dir, "spans.json")))
        overhead = stats.median(traced) - stats.median(untraced)
        log(f"tracing overhead: {overhead:.3f} s per pass ({len(traced)} traced, "
            f"{len(untraced)} untraced passes)")
        metrics = layers.batch_layers(spans, res, overhead)
    else:
        times = [s["build_s"] + s["exec_s"] for s in ok]
        log(f"{len(times)} timed executions in {len(untraced)} passes")
        metrics = {
            "setup_s": metric(_setup_s(res), "s"),
            "pass_s": metric(stats.typical_pass([(s["query"], s["build_s"] + s["exec_s"])
                                                 for s in ok]), "s"),
            "op_p50_s": metric(stats.percentile(times, 50), "s"),
            "op_tail_s": metric(stats.tail(times, cfg["tail"]), "s"),
            "peak_rss_mb": metric(res["peak_rss_mb"], "MB"),
        }
    return failed == 0, attempted, failed, metrics


def _setup_s(res):
    return res["setup"]["build_s"] + res["setup"]["warmup_s"]


def ingest_run(args, cfg, cp, run_dir, t_start):
    d = inputs(args.workload, args.seed, cp)
    res = run_jvm(cp, run_dir, [
        "--corpus", d, "--workload", args.workload, "--out", run_dir,
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--seed", str(args.seed),
        "--telegrams", os.path.join(d, "telegrams.tsv"), "--rate", str(cfg["rate"]),
        "--history", os.path.join(d, "history.tsv"),
    ], t_start)
    import duckdb
    duckdb.execute(f"SET temp_directory = '{os.path.join(BUILD, 'duckdb_tmp')}'")
    telegrams = [l.split("\t", 2)[:2] for l in open(os.path.join(d, "telegrams.tsv"))]
    sent = {(k, int(t)) for k, t in telegrams[:res["sent"]]}
    expected = {(k, t): v for k, t, v in json.load(open(os.path.join(d, "expected.json")))
                if (k, t) in sent}
    history = {}
    for line in open(os.path.join(d, "history.tsv")):
        k, t, v = line.rstrip("\n").split("\t")
        history[(k, int(t))] = float(v)
    rows = duckdb.sql(f"SELECT kit, ts, value FROM '{run_dir}/archive_dump/*.parquet'").fetchall()
    archive_bad = stats.archive_check({**history, **expected}, rows)
    wire = [l for l in open(os.path.join(run_dir, "wire.txt")).read().splitlines() if l.strip()]
    missing, dup, extra, wrong = stats.forward_check(expected, wire)
    errors = len(res["read_errors"]) + len(res["batch_errors"])
    log(f"{res['reads_started']} reads, {len(res['read_errors'])} failed; "
        f"{len(res['batch_errors'])} failed batches")
    if archive_bad:
        log(f"FAILED archive: {archive_bad} keys differ from the batch recomputation")
    if missing or dup or extra or wrong:
        log(f"FAILED forward: missing {missing}, duplicated {dup}, unexpected {extra}, wrong {wrong}")
    for e in (res["read_errors"] + res["batch_errors"])[:5]:
        log(f"FAILED: {e}")
    if not res["drained"]:
        log("FAILED: the stream did not drain")
    attempted = len(expected) + res["reads_started"]
    failed = archive_bad + missing + dup + extra + wrong + errors + (0 if res["drained"] else 1)
    if args.trace:
        spans = json.load(open(os.path.join(run_dir, "spans.json")))
        metrics = layers.ingest_layers(spans, res, len(rows), len(wire))
    else:
        lat = res["latencies"]
        if not lat or not res["reads"]:
            fail("no telegram latency or no successful read was measured")
        log(f"{len(lat)} telegram latencies, {len(res['reads'])} reads, "
            f"generator at most {res['gen_lag_max_s']:.3f} s late")
        series = stats.backlog_series(res["commits"], res["schedule"])
        if stats.backlog_growing(series, res["rate"], 0.0, res["window_s"]):
            log(f"warning: the backlog grew during the window; {res['rate']}/s is above "
                "the stream's sustainable rate")
        metrics = {
            "setup_s": metric(_setup_s(res) + res["stream_start_s"], "s"),
            "pass_s": metric(statistics.mean(res["reads"]), "s"),
            "op_p50_s": metric(stats.percentile(lat, 50), "s"),
            "op_tail_s": metric(stats.tail(lat, cfg["tail"]), "s"),
            "peak_rss_mb": metric(res["peak_rss_mb"], "MB"),
        }
    return failed == 0, attempted, failed, metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = build()
    t_start = time.time()  # the build is outside the run's own deadline
    steal0, total0 = cpu_ticks()
    cfg = WORKLOADS[args.workload]
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    runner = batch_run if cfg["kind"] == "batch" else ingest_run
    correct, attempted, failed, metrics = runner(args, cfg, cp, run_dir, t_start)
    if args.trace:
        with open(os.path.join(run_dir, "layers.json"), "w") as f:
            json.dump({"metrics": metrics, "spans": "spans.json"}, f, indent=1)
        log(f"per-layer artifact: {run_dir}/layers.json, spans: {run_dir}/spans.json")
    steal1, total1 = cpu_ticks()
    if total1 > total0:
        log(f"host CPU steal during the run: {100.0 * (steal1 - steal0) / (total1 - total0):.1f} %")
    for k in ("checkpoint", "archive", "scratch", "tmp"):
        shutil.rmtree(os.path.join(run_dir, k), ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
