#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify on a
scale factor, then compare every query's parquet output against its DuckDB
oracle (columns sorted by name, rows compared in emitted order and as
sorted multisets)."""
import json, os, subprocess, sys, math

# positional args only — a flag like --skip=d25 must not be mistaken
# for the dataset selector (ADVICE r13)
_pos = [a for a in sys.argv[1:] if not a.startswith("--")]
SF = _pos[0] if _pos else "sf0.001"
# an absolute path selects an ad-hoc dataset dir (e.g. the replicated
# /root/repo/.sf1 from tools/make_sf1.py); a bare name maps to the
# driver testdata as before
SFDIR = SF if SF.startswith("/") else f"/root/testdata/{SF}"
# Verify output goes under the checkout's git-ignored .tmp/, so runs of
# two checkouts side by side never share an output directory
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".tmp", f"verify_{SF.replace('/', '_')}")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

if "--no-run" not in sys.argv:
    r = subprocess.run(["bash", "tools/run_class.sh", "graft.Verify", SFDIR, OUT],
                       capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-5000:]); sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)

import duckdb
con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SFDIR}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

# Vacuity floors (judge r14 #2): an empty-vs-empty (or tiny-vs-tiny)
# oracle compare passes even when a broken upstream pipeline emptied
# BOTH sides — r14 found four gates vacuous for rounds. Every gate must
# emit at least its recorded minimum row count (tools/gate_floors.json,
# regenerated via tools/gen_floors.py after intentional output changes);
# scale_overrides relax named scales where a smaller output is correct.
import os
_floors_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "gate_floors.json")
_fl = json.load(open(_floors_path)) if os.path.exists(_floors_path) else {}
# override keys are PORTABLE scale tags (ADVICE r15): an absolute
# dataset path like /some/checkout/.sf1 normalizes to its basename tag
# "sf1", so the committed gate_floors.json works at any checkout path
_sf_key = SF if not SF.startswith("/") else (
    os.path.basename(SF.rstrip("/")).lstrip(".") or SF)
_sf_over = {**_fl.get("scale_overrides", {}).get(SF, {}),
            **_fl.get("scale_overrides", {}).get(_sf_key, {})}
def floor_of(name):
    if name in _sf_over:
        return _sf_over[name]
    return _fl.get("floors", {}).get(name, _fl.get("default", 1))

def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0: v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    return out

def type_diff(got_rel, got_cols, exp_rel, exp_cols):
    """Per-column DuckDB type comparison on sorted (name, type) pairs —
    positional after sorting by name, so duplicate column names don't
    collapse into a dict and mask a mismatch on one of the duplicates.
    The driver's hash is typed, so a HUGEINT oracle vs BIGINT Spark column
    fails it even when every value matches (s1_sessions, round 2)."""
    # sort by name ONLY (stable): duplicate-name groups keep emitted
    # positional order, so a type permutation WITHIN a duplicate-name
    # group still surfaces (sorting full (name, type) pairs would align
    # permuted types and mask it)
    got_t = sorted(zip(got_cols, (str(t) for t in got_rel.types)),
                   key=lambda p: p[0])
    exp_t = sorted(zip(exp_cols, (str(t) for t in exp_rel.types)),
                   key=lambda p: p[0])
    if len(got_t) != len(exp_t):
        return [("<arity>", str(len(got_t)), str(len(exp_t)))]
    return [(gc, gt, et) for (gc, gt), (ec, et) in zip(got_t, exp_t)
            if gc == ec and gt != et]

# --skip=a,b: exclude named gates from the oracle replay (the sf1-scale
# runs exclude deliberately-quadratic ANCHOR oracles like d25 whose
# DuckDB replay is O(n^2) by design at any scale; their Spark outputs
# are still written and verified separately — see BASELINE.md round-13)
skips = set()
for a in sys.argv:
    if a.startswith("--skip="):
        skips = set(a[7:].split(","))
for s in skips & set(oracle):
    print(f"SKIP {s} (anchor oracle excluded by --skip)")
    del oracle[s]

fails = 0
for name, sql in sorted(oracle.items()):
    try:
        got_rel = con.sql(f"SELECT * FROM '{OUT}/{name}/*.parquet'")
        got_cols = [c.lower() for c in got_rel.columns]
        got = norm(got_rel.fetchall(), got_cols)
        exp_rel = con.sql(sql)
        exp_cols = [c.lower() for c in exp_rel.columns]
        exp = norm(exp_rel.fetchall(), exp_cols)
        tdiff = type_diff(got_rel, got_cols, exp_rel, exp_cols)
    except Exception as e:
        print(f"FAIL {name}: error {e}")
        fails += 1
        continue
    if sorted(got_cols) != sorted(exp_cols):
        print(f"FAIL {name}: columns {sorted(got_cols)} vs {sorted(exp_cols)}")
        fails += 1
    elif tdiff:
        for c, g, e in tdiff:
            print(f"FAIL {name}: TYPE {c}: spark={g} oracle={e}")
        fails += 1
    elif got != exp:
        status = "ORDER-ONLY" if sorted(got, key=repr) == sorted(exp, key=repr) else "VALUES"
        print(f"FAIL {name}: {status} rows {len(got)} vs {len(exp)}")
        if status == "VALUES":
            sg, se = sorted(got, key=repr), sorted(exp, key=repr)
            diffs = [(a, b) for a, b in zip(sg, se) if a != b][:3]
            for a, b in diffs: print(f"   got {a}\n   exp {b}")
            only_g = [x for x in sg if x not in se][:3]
            only_e = [x for x in se if x not in sg][:3]
            if only_g: print(f"   only-got {only_g}")
            if only_e: print(f"   only-exp {only_e}")
        fails += 1
    elif len(got) < floor_of(name):
        print(f"FAIL {name}: VACUOUS {len(got)} rows < floor {floor_of(name)}"
              f" — empty/near-empty output matched an equally empty oracle;"
              f" fix the pipeline or regenerate tools/gate_floors.json")
        fails += 1
    else:
        print(f"OK   {name} ({len(got)} rows)")
print(f"\n{len(oracle) - fails}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
