#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/parity.py [sfdir] [outdir]

Assumes `sbt "runMain graft.Verify <sfdir> <outdir>"` already ran (or
run with --run to invoke it). For each query parquet in outdir, in a
child process of its own (`--one <sfdir> <outdir> <name>`) so memory
stays bounded by the largest single comparison:
  - run the matching oracle SQL from oracle_sql.json in DuckDB with
    views named after the tables,
  - sort columns by name, sort rows, compare cell-by-cell.
Reports exact mismatches and float near-misses separately.
"""
import json, math, os, subprocess, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in idx))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in idx], out


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        return v
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def check(con, outdir, name, sql):
    """Compare one query's dump with its oracle: (passed, report line)."""
    try:
        mine = con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'")
        mrows, mcols = mine.fetchall(), [d[0] for d in mine.description]
        ref = con.execute(sql)
        rrows, rcols = ref.fetchall(), [d[0] for d in ref.description]
    except Exception as e:
        return False, f"FAIL {name}: exec error: {e}"
    mc, mr = canon(mrows, mcols)
    rc, rr = canon(rrows, rcols)
    if mc != rc:
        return False, f"FAIL {name}: columns {mc} vs {rc}"
    if len(mr) != len(rr):
        return False, f"FAIL {name}: rowcount {len(mr)} vs {len(rr)}"
    diffs = [(i, a, b) for i, (a, b) in enumerate(zip(mr, rr)) if a != b]
    if diffs:
        return False, (f"FAIL {name}: {len(diffs)}/{len(mr)} differing rows; first: "
                       f"{diffs[0][1]} vs {diffs[0][2]} (cols {mc})")
    # Type parity: the correctness gate hashes values AFTER a dataframe
    # conversion, where a dtype skew (HUGEINT from an uncast
    # DuckDB integer sum(), DECIMAL, int32-vs-int64) changes the
    # hashed representation even when every value compares equal.
    # r9 shipped three hash-fails with identical values for
    # exactly this reason (uncast sum() -> HUGEINT). Compare
    # DuckDB's view of both schemas and fail on any mismatch.
    mty = {c: t for c, t, *_ in con.execute(
        f"DESCRIBE SELECT * FROM '{outdir}/{name}/*.parquet'").fetchall()}
    rty = {c: t for c, t, *_ in con.execute(
        f"DESCRIBE SELECT * FROM ({sql})").fetchall()}
    skew = [(c, mty.get(c), rty.get(c)) for c in rty
            if mty.get(c) != rty.get(c)]
    if skew:
        return False, f"FAIL {name}: dtype skew (spark vs oracle): {skew}"
    return True, f"ok   {name} ({len(mr)} rows)"


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    outdir = args[1] if len(args) > 1 else "/tmp/verify_out"
    if "--one" in sys.argv:
        # child mode: one oracle, in a process of its own
        name = args[2]
        sql = json.load(open(f"{outdir}/oracle_sql.json"))[name]
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
        passed, line = check(con, outdir, name, sql)
        print(line)
        sys.exit(0 if passed else 1)
    if "--run" in sys.argv:
        subprocess.run(["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
                       check=True)
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    # One child process per oracle: both sides of a comparison are
    # materialised in Python, and a single process replaying all 186
    # oracles grew past 11 GB at sf0.1; a child returns all of it, so
    # the peak is the largest single replay (DuckDB's own memory for
    # dedup_substring_maximal at sf0.1, about 12 GB).
    ok = bad = 0
    for name in sorted(oracle):
        r = subprocess.run([sys.executable, os.path.abspath(__file__), "--one",
                            sfdir, outdir, name], capture_output=True, text=True)
        line = (r.stdout.strip().splitlines() or [""])[-1]
        if r.returncode == 0 and line.startswith("ok"):
            ok += 1
        else:
            bad += 1
            if not line.startswith("FAIL"):
                line = (f"FAIL {name}: checker exited {r.returncode}: "
                        f"{r.stderr.strip()[-500:]}")
        print(line, flush=True)
    print(f"== {ok} ok, {bad} fail ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
