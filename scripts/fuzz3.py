#!/usr/bin/env python3
"""Adversarial cross-engine fuzz for winsorize / ngram_novelty /
interval_union: generate random small datasets designed to hit
rounding/tie/tokenization edges, run the Spark side once per batch
(FuzzMain), replay the oracle SQL in DuckDB, diff exactly.

Usage: python3 scripts/fuzz3.py <seed0> <n_datasets>
"""
import json, math, os, random, shutil, subprocess, sys
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = "/tmp/fuzz3"
QUERIES = ["winsorize", "ngram_novelty", "interval_union", "percentiles",
           "histogram_equidepth", "perplexity_bucket", "pipeline_funnel"]
WORDS = ["a", "b", "c", "aa", "bb", "the", "x"]


def gen_documents(rng, path):
    n = rng.randint(5, 60)
    texts = []
    for _ in range(n):
        kind = rng.random()
        if kind < 0.1:
            t = rng.choice(["", " ", "  ", "a", "a ", " a", "\t", "\n", "a  b"])
        elif kind < 0.2:
            # unicode + weird ws
            t = " ".join(rng.choice(["é", "ü", "日本", "a\tb", "x", ""])
                         for _ in range(rng.randint(1, 6)))
        else:
            t = " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 12)))
            if rng.random() < 0.3:
                t = t + rng.choice([" ", "  ", ""])
            if rng.random() < 0.3:
                t = rng.choice([" ", "  ", ""]) + t
        texts.append(t)
    # duplicate some texts to make shared shingles across docs
    for i in range(n // 3):
        texts[rng.randrange(n)] = texts[rng.randrange(n)]
    tbl = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(["en", "de", "zh"]) for _ in range(n)]),
        "source": pa.array(["s%d" % (i % 3) for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, path)


def gen_events(rng, path):
    n = rng.randint(10, 200)
    users = [rng.randint(0, 4) for _ in range(n)]
    # micros timestamps in a tiny range to force overlaps/ties
    base = 1_600_000_000_000_000
    tss = [base + rng.randint(0, 50) * 1_000_000 for _ in range(n)]
    vals = []
    for _ in range(n):
        k = rng.random()
        if k < 0.3:
            # exact .5 tie candidates at the 1e6 quantization
            vals.append(rng.randint(0, 20) / 2 + 0.0000005 * rng.randint(0, 2))
        elif k < 0.5:
            vals.append(rng.randint(0, 10) + 0.5)
        elif k < 0.6:
            vals.append(0.0)
        else:
            vals.append(rng.uniform(0, 30))
    types = [rng.choice(["view", "view", "view", "click"]) for _ in range(n)]
    tbl = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(tss, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(types),
        "value": pa.array(vals, pa.float64()),
        "props": pa.array(["{}"] * n),
    })
    pq.write_table(tbl, path)


def gen_lineitem(rng, path):
    n = rng.choice([51, 151, 251, 301])
    flags = [rng.choice(["A", "N", "R"]) for _ in range(n)]
    prices = []
    for _ in range(n):
        k = rng.random()
        if k < 0.5:
            # 4-dp values: interpolation midpoints are exact decimal
            # ties at the 4th digit -> round()-rule divergence bait
            prices.append(rng.randint(9000000, 11000000) / 10000.0)
        elif k < 0.8:
            # values whose midpoints land on x.xxxx5 digits
            prices.append(rng.randint(900000000, 1100000000) / 1000000.0)
        else:
            prices.append(rng.uniform(900.0, 1100.0))
    tbl = pa.table({
        "l_orderkey": pa.array([rng.randint(0, 50) for _ in range(n)], pa.int64()),
        "l_returnflag": pa.array(flags),
        "l_extendedprice": pa.array(prices, pa.float64()),
    })
    pq.write_table(tbl, path)


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


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in idx], out


def main():
    seed0 = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    nds = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    # oracle_sql.json from a FRESH graft.Verify dump (the bench-record
    # protocol): a stale dump replays stale interpolated artifact
    # paths (e.g. split_by_cluster's label table) or fails outright
    oracle_path = sys.argv[3] if len(sys.argv) > 3 else None
    if oracle_path is None or not os.path.exists(oracle_path):
        sys.exit("usage: fuzz3.py [seed] [n_datasets] <oracle_sql.json "
                 "from a fresh Verify dump>")
    shutil.rmtree(ROOT, ignore_errors=True)
    os.makedirs(ROOT)
    dirs = []
    for i in range(nds):
        rng = random.Random(seed0 + i)
        d = f"{ROOT}/ds{seed0 + i}"
        os.makedirs(d)
        gen_documents(rng, f"{d}/documents.parquet")
        gen_events(rng, f"{d}/events.parquet")
        gen_lineitem(rng, f"{d}/lineitem.parquet")
        dirs.append(d)
    out = f"{ROOT}/out"
    r = subprocess.run(
        ["sbt", "-batch", "Test/runMain graft.FuzzMain " + out + " "
         + ",".join(QUERIES) + " " + " ".join(dirs)],
        cwd="/root/repo", capture_output=True, text=True)
    # sbt -batch exits non-zero when the run fails; the build prints no
    # `[success]` trailer to look for (build.sbt: showSuccess := false)
    if r.returncode != 0:
        print(r.stdout[-4000:])
        print(r.stderr[-2000:])
        sys.exit(1)
    oracle = json.load(open(oracle_path))
    bad = 0
    for d in dirs:
        ds = os.path.basename(d)
        con = duckdb.connect()
        for t in ["documents", "events", "lineitem"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        for name in QUERIES:
            try:
                mine = con.execute(f"SELECT * FROM '{out}/{ds}/{name}/*.parquet'")
                mrows, mcols = mine.fetchall(), [c[0] for c in mine.description]
                ref = con.execute(oracle[name])
                rrows, rcols = ref.fetchall(), [c[0] for c in ref.description]
            except Exception as e:
                print(f"ERR  {ds}/{name}: {e}")
                bad += 1
                continue
            mc, mr = canon(mrows, mcols)
            rc, rr = canon(rrows, rcols)
            if mc != rc or len(mr) != len(rr):
                print(f"FAIL {ds}/{name}: shape {mc}x{len(mr)} vs {rc}x{len(rr)}")
                bad += 1
                continue
            diffs = [(a, b) for a, b in zip(mr, rr) if a != b]
            if diffs:
                print(f"FAIL {ds}/{name}: {len(diffs)} diffs; first {diffs[0]}")
                bad += 1
        con.close()
    print(f"done: {nds} datasets, {bad} failures")


if __name__ == "__main__":
    main()
