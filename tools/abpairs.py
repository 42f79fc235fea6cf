#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs for one workload.

    python3 tools/abpairs.py --parent <git-ref> --workload <name> \\
        --pairs N --seed-from S [--parent-dir DIR] [--out FILE]

Run from the root of the working tree. The parent commit is exported with
``git archive`` into ``--parent-dir`` (default: a new directory under the
system temp dir; an export of the same commit is reused, with its
``.bench_build``). The change side is run from a snapshot too, so both
sides run from an export rather than one from the working tree: the
working tree's tracked files, with their uncommitted edits, and its
untracked files that git does not ignore are copied into the sibling
directory ``<parent-dir>-change``, which keeps its own ``.bench_build``
between invocations. Pair i runs ``python3 perfbench/run.py --workload
<name> --seed S+i --seconds 20 --trace 0`` once in each export, one run at
a time; the parent goes first in even pairs and second in odd ones. Every result line is appended to ``--out`` as
``{"pair", "seed", "side", "result"}``. At the end it prints, per
end-to-end metric of ``BENCHMARK.json``, each side's median and quartiles,
the change against the parent, the parent's IQR/median and the pairs the
change won (ties count for neither). For a batch workload each record
also carries the run's per-query median build and exec times, read from
the samples of ``.bench_build/runs/<workload>-<seed>-t0/result.json``,
and a second table prints their medians over the pairs per side, so a
claim names the layer it moved. For an ingest workload each record
carries the run's median read and median read wait instead (from the
``reads`` and ``read_waits`` of that result.json), and a second table
prints their medians over the pairs per side: ``pass_s`` is the mean
read, so this separates typical reads from tail reads. Exits 1 if any
run is not ``correct: true`` or printed no result line. Benchmark files
are only read.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.getcwd()


def quartiles(xs):
    """(q1, median, q3) of `xs`, inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(records, better):
    """Per-metric summary of `records` ({"pair", "side", "result"} dicts)
    for the metrics in `better` (name -> "lower" | "higher"). Only pairs
    with a result on both sides count."""
    by_pair = {}
    for r in records:
        by_pair.setdefault(r["pair"], {})[r["side"]] = r["result"]
    pairs = [p for _, p in sorted(by_pair.items()) if "parent" in p and "change" in p]
    out = {}
    for name, direction in better.items():
        both = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                for p in pairs
                if name in p["parent"].get("metrics", {}) and name in p["change"].get("metrics", {})]
        if not both:
            continue
        par = [a for a, _ in both]
        chg = [b for _, b in both]
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        sign = -1 if direction == "lower" else 1
        wins = sum(1 for a, b in both if sign * (b - a) > 0)
        out[name] = {
            "pairs": len(both),
            "parent": {"q1": pq1, "median": pmed, "q3": pq3},
            "change": {"q1": cq1, "median": cmed, "q3": cq3},
            "change_frac": (cmed - pmed) / pmed if pmed else None,
            "parent_iqr_frac": (pq3 - pq1) / pmed if pmed else None,
            "wins": wins,
            # the gain rule: 9 in 10 pairs won and a median move beyond the parent's IQR
            "claimable": wins * 10 >= 9 * len(both) and abs(cmed - pmed) > pq3 - pq1,
        }
    return out


LAYERS = ("build_s", "exec_s")


def query_medians(result_path):
    """{query: {"build_s", "exec_s"}}: the medians of a batch run's timed
    samples that did not throw, from its result.json; None without samples."""
    try:
        with open(result_path) as f:
            samples = json.load(f).get("samples")
    except (OSError, ValueError):
        return None
    if not samples:
        return None
    by_query = {}
    for s in samples:
        if s.get("error") is None:
            by_query.setdefault(s["query"], []).append(s)
    return {q: {layer: statistics.median(s[layer] for s in ss) for layer in LAYERS}
            for q, ss in by_query.items()}


READS = (("read_s", "reads"), ("read_wait_s", "read_waits"))


def read_medians(result_path):
    """{"read_s", "read_wait_s"}: the medians of an ingest run's timed
    reads and of their lock waits, from its result.json; None without
    reads (a batch run has none)."""
    try:
        with open(result_path) as f:
            res = json.load(f)
    except (OSError, ValueError):
        return None
    if not res.get("reads"):
        return None
    return {name: statistics.median(res[key]) for name, key in READS}


def summarize_reads(records):
    """{"parent"|"change": {"read_s", "read_wait_s"}}: per side, the median
    over pairs of each run's median read and read wait. Only pairs with
    reads on both sides count; None if there are none."""
    by_pair = {}
    for r in records:
        if r.get("reads"):
            by_pair.setdefault(r["pair"], {})[r["side"]] = r["reads"]
    pairs = [p for p in by_pair.values() if "parent" in p and "change" in p]
    if not pairs:
        return None
    return {side: {name: statistics.median(p[side][name] for p in pairs) for name, _ in READS}
            for side in ("parent", "change")}


def format_reads(summary):
    lines = [f"{'per run median':<16} {'parent':>10} {'change':>10}"]
    for name, _ in READS:
        lines.append(f"{name:<16} {summary['parent'][name]:>10.4g} {summary['change'][name]:>10.4g}")
    return "\n".join(lines)


def summarize_queries(records):
    """{query: {"parent"|"change": {"build_s", "exec_s"}}}: per side, the
    median over pairs of each run's per-query medians. Only pairs where
    both sides timed the query count."""
    by_pair = {}
    for r in records:
        if r.get("queries"):
            by_pair.setdefault(r["pair"], {})[r["side"]] = r["queries"]
    per_query = {}
    for p in by_pair.values():
        if "parent" not in p or "change" not in p:
            continue
        for q in sorted(set(p["parent"]) & set(p["change"])):
            for side in ("parent", "change"):
                runs = per_query.setdefault(q, {}).setdefault(side, {})
                for layer in LAYERS:
                    runs.setdefault(layer, []).append(p[side][q][layer])
    return {q: {side: {layer: statistics.median(xs) for layer, xs in layers.items()}
                for side, layers in sides.items()}
            for q, sides in per_query.items()}


def format_queries(summary):
    lines = [f"{'query':<24} {'build parent':>12} {'build change':>12} "
             f"{'exec parent':>12} {'exec change':>12}"]
    for q, s in sorted(summary.items()):
        p, c = s["parent"], s["change"]
        lines.append(f"{q:<24} {p['build_s']:>12.4f} {c['build_s']:>12.4f} "
                     f"{p['exec_s']:>12.4f} {c['exec_s']:>12.4f}")
    return "\n".join(lines)


def format_summary(summary):
    def pct(x):
        return "n/a" if x is None else f"{100 * x:+.1f} %"
    lines = [f"{'metric':<12} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30} "
             f"{'change':>9} {'par IQR/med':>11} {'wins':>7}"]
    for name, s in summary.items():
        p, c = s["parent"], s["change"]
        lines.append(
            f"{name:<12} {p['median']:<9.4g} [{p['q1']:.4g}, {p['q3']:.4g}]".ljust(44)
            + f"{c['median']:<9.4g} [{c['q1']:.4g}, {c['q3']:.4g}]".ljust(31)
            + f"{pct(s['change_frac']):>9} {s['parent_iqr_frac'] or 0:>11.3f} "
            + f"{s['wins']:>3}/{s['pairs']:<3}" + ("  claimable" if s["claimable"] else ""))
    return "\n".join(lines)


def export_parent(ref, parent_dir):
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{ref}^{{commit}}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    stamp = os.path.join(parent_dir, ".abpairs-commit")
    if os.path.exists(stamp) and open(stamp).read().strip() == sha:
        return sha
    if os.path.exists(parent_dir) and os.listdir(parent_dir):
        sys.exit(f"{parent_dir} is not empty and holds no export of {sha}")
    os.makedirs(parent_dir, exist_ok=True)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", parent_dir], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {sha} failed")
    with open(stamp, "w") as f:
        f.write(sha + "\n")
    return sha


def snapshot_tree(root, dest):
    """Copies the tracked files of the working tree at `root`, with their
    uncommitted edits, and its untracked files that git does not ignore
    into `dest`, with their modes and times. The files an earlier
    snapshot copied are removed first; everything else in `dest` (its
    ``.bench_build``, sbt's ``target`` dirs) is kept. Returns the number
    of files in the snapshot."""
    listing = subprocess.run(
        ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        cwd=root, check=True, capture_output=True).stdout.decode()
    # a tracked file deleted in the working tree is left out
    files = sorted({p for p in listing.split("\0")
                    if p and os.path.lexists(os.path.join(root, p))})
    manifest = os.path.join(dest, ".abpairs-files")
    if os.path.exists(manifest):
        with open(manifest) as f:
            old = set(f.read().split("\0")) - {""}
    elif os.path.exists(dest) and os.listdir(dest):
        sys.exit(f"{dest} is not empty and holds no snapshot of a working tree")
    else:
        old = set()
    for p in old:
        if os.path.lexists(os.path.join(dest, p)):
            os.remove(os.path.join(dest, p))
    for p in files:
        dst = os.path.join(dest, p)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy2(os.path.join(root, p), dst, follow_symlinks=False)
    with open(manifest, "w") as f:
        f.write("\0".join(files))
    return len(files)


def run_once(side_root, workload, seed, log):
    env = dict(os.environ)
    env.pop("CARGO_TARGET_DIR", None)  # each side builds into its own .bench_build
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "20", "--trace", "0"]
    r = subprocess.run(cmd, cwd=side_root, env=env, stdout=subprocess.PIPE,
                       stderr=log, stdin=subprocess.DEVNULL, text=True)
    for line in reversed(r.stdout.strip().splitlines()):
        try:
            return json.loads(line)
        except ValueError:
            continue
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git ref of the parent commit")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed-from", type=int, required=True)
    ap.add_argument("--parent-dir", help="where to export the parent (reused if it holds it)")
    ap.add_argument("--out", help="JSON-lines file of every result (appended)")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    parent_dir = args.parent_dir or tempfile.mkdtemp(prefix="abpairs-parent-")
    sha = export_parent(args.parent, parent_dir)
    change_dir = os.path.normpath(parent_dir) + "-change"
    n_files = snapshot_tree(ROOT, change_dir)
    out = args.out or f"abpairs-{args.workload}-s{args.seed_from}.jsonl"
    log_path = out + ".log"
    print(f"parent {sha[:12]} in {parent_dir}; working tree ({n_files} files) in {change_dir}; "
          f"results -> {out}, run logs -> {log_path}", file=sys.stderr, flush=True)
    records, bad = [], 0
    with open(out, "a") as res, open(log_path, "a") as log:
        for i in range(args.pairs):
            seed = args.seed_from + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                root = parent_dir if side == "parent" else change_dir
                result = run_once(root, args.workload, seed, log)
                if result is None or result.get("correct") is not True:
                    bad += 1
                rec = {"pair": i, "seed": seed, "side": side, "result": result}
                result_json = os.path.join(
                    root, ".bench_build", "runs", f"{args.workload}-{seed}-t0", "result.json")
                queries = query_medians(result_json)
                if queries:
                    rec["queries"] = queries
                reads = read_medians(result_json)
                if reads:
                    rec["reads"] = reads
                res.write(json.dumps(rec) + "\n")
                res.flush()
                print(json.dumps(rec), flush=True)
                if result is not None:
                    records.append(rec)
    print(format_summary(summarize(records, better)))
    per_query = summarize_queries(records)
    if per_query:
        print(format_queries(per_query))
    reads = summarize_reads(records)
    if reads:
        print(format_reads(reads))
    for side in ("parent", "change"):
        att = sum(r["result"].get("attempted", 0) for r in records if r["side"] == side)
        fail = sum(r["result"].get("failed", 0) for r in records if r["side"] == side)
        print(f"{side}: {fail} of {att} operations failed")
    if bad:
        print(f"{bad} run(s) not correct or without a result line", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
