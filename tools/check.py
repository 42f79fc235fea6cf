#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <outDir> [query ...]

Reads each <outDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from <outDir>/oracle_sql.json in DuckDB against the
same sf tables, canonicalizes both (sort columns by name, round floats
to 4 decimals, sort rows), and diffs. DuckDB here is a dev-time checker
only — the engine itself is pure Scala/Spark.

DuckDB's limits come from the host: one thread per usable core, half of
the memory (MemTotal, or a lower cgroup limit), and a spill directory
under <outDir> that is removed at exit. They are printed once.
"""
import sys, os, json, glob, atexit, shutil, tempfile
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 4)
                if v == 0:
                    v = 0.0  # normalize -0.0
            vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    return [cols[i] for i in order], out

def host_memory_bytes():
    with open("/proc/meminfo") as f:
        total = next(int(l.split()[1]) * 1024 for l in f
                     if l.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            return min(total, int(f.read()))
    except (OSError, ValueError):  # no cgroup v2 limit, or "max"
        return total

def connect(out_dir):
    tmp = tempfile.mkdtemp(prefix=".duckdb_tmp_", dir=out_dir)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    limits = {"threads": len(os.sched_getaffinity(0)),
              "memory_limit": f"{host_memory_bytes() // 2 >> 20}MiB",
              "temp_directory": tmp}
    print("duckdb: " + ", ".join(f"{k}={v}" for k, v in limits.items()))
    return duckdb.connect(config=limits)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    con = connect(out_dir)
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = n_skip = 0
    for name in names:
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet output")
            n_bad += 1
            continue
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        g_cols, g_rows = canon([c.lower() for c in got.columns], got.fetchall())
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(g_rows)} rows)")
            n_skip += 1
            continue
        try:
            exp = con.sql(oracles[name])
            # Driver-parity type guard: this script compares str(v) of
            # Python ints, which erases DuckDB's int128 widening (an
            # uncast sum(BIGINT) -> HUGEINT), but the DRIVER's
            # canonicalizer renders int128 differently and hash-fails.
            # Fail here so "green locally" == "green at the driver".
            drift = [(c, str(t)) for c, t in zip(exp.columns, exp.types)
                     if str(t).upper() in ("HUGEINT", "UHUGEINT")]
            if drift:
                print(f"FAIL {name}: oracle type drift {drift} — CAST the "
                      f"oracle column(s) to BIGINT (DuckDB widens sum() "
                      f"to int128; the driver hash-fails on it)")
                n_bad += 1
                continue
            e_cols, e_rows = canon([c.lower() for c in exp.columns], exp.fetchall())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_bad += 1
            continue
        if g_cols != e_cols:
            print(f"FAIL {name}: columns {g_cols} != {e_cols}")
            n_bad += 1
        elif g_rows != e_rows:
            print(f"FAIL {name}: rows {len(g_rows)} vs {len(e_rows)}")
            gs, es = set(g_rows), set(e_rows)
            for x in list(gs - es)[:3]:
                print(f"   got-only: {x.replace(chr(1), ' | ')}")
            for x in list(es - gs)[:3]:
                print(f"   exp-only: {x.replace(chr(1), ' | ')}")
            n_bad += 1
        else:
            print(f"OK   {name} ({len(g_rows)} rows)")
            n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail, {n_skip} rows-only")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
