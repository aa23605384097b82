#!/usr/bin/env python3
"""One-command sf1 validation tier (judge r13 next-step #7): stage the
deterministic 10x dataset, replay every oracle gate against it, bench the
full query map, and emit driver-format artifacts.

    python3 tools/sf1gate.py [--fresh] [--no-bench]

Steps:
  1. tools/make_sf1.py -> /root/repo/.sf1 (skipped when present;
     --fresh rebuilds).
  2. tools/check.py /root/repo/.sf1 (no skips since round 16: the
     quadratic anchors run over the deterministic md5 anchor slice
     at this tier — see SparkEntry.anchorSlice — so even d25's oracle
     replays in DuckDB in ~3 min). Parsed into CORRECTNESS_sf1.json
     (driver format: per-gate rows/schema/hash).
  3. graft.Bench on the sf1 dir (stores already staged by the verify
     run) -> BENCH_sf1.json (driver format).
Exit code 0 iff every replayed gate matched.
"""
import json, os, re, subprocess, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(REPO, ".sf1")
SKIPS = ""


def run(cmd, **kw):
    print("+ " + " ".join(cmd), flush=True)
    return subprocess.run(cmd, cwd=REPO, **kw)


def main():
    fresh = "--fresh" in sys.argv
    if fresh or not os.path.exists(os.path.join(SF1, "lineitem.parquet")):
        r = run([sys.executable, "tools/make_sf1.py", SF1])
        if r.returncode != 0:
            sys.exit("make_sf1 failed")
    else:
        print(f"sf1 dataset present at {SF1} (use --fresh to rebuild)")

    # oracle replay — capture check.py's per-gate lines. --no-run
    # passes through: re-parse an existing .tmp/verify_* dump (e.g.
    # after re-running graft.Verify for a crashed subset) without
    # re-running the whole engine pass.
    extra = [a for a in sys.argv if a == "--no-run"]
    skips = [f"--skip={SKIPS}"] if SKIPS else []
    r = run([sys.executable, "tools/check.py", SF1] + skips + extra,
            capture_output=True, text=True)
    print(r.stdout[-4000:])
    if r.stderr:
        print(r.stderr[-2000:])
    results = {}
    for line in r.stdout.splitlines():
        m = re.match(r"OK   (\S+) \((\d+) rows\)", line)
        if m:
            results[m.group(1)] = {
                "rows_match": True, "schema_match": True,
                "hash_match": True, "spark_rows": int(m.group(2)),
                "oracle_rows": int(m.group(2)), "err": None}
            continue
        m = re.match(r"FAIL (\S+): (.*)", line)
        if m:
            results[m.group(1)] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": m.group(2)}
            continue
        m = re.match(r"SKIP (\S+)", line)
        if m:
            results[m.group(1)] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": None,
                "oracle_rows": None,
                "err": "anchor oracle excluded by --skip (see tool header)"}
    with open(os.path.join(REPO, "CORRECTNESS_sf1.json"), "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    ok = sum(1 for v in results.values() if v["hash_match"])
    bad = [k for k, v in results.items() if v["hash_match"] is False]
    print(f"CORRECTNESS_sf1.json: {ok} matched, {len(bad)} failed, "
          f"{len(results) - ok - len(bad)} skipped")
    if bad:
        print("FAILED:", bad)

    if "--no-bench" not in sys.argv:
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF1,
                   SPARK_GRAFT_CPUS="32", SPARK_DRIVER_MEM="64g")
        r2 = run(["bash", "tools/run_class.sh", "graft.Bench"],
                 capture_output=True, text=True, env=env)
        line = next((l for l in r2.stdout.splitlines()
                     if l.startswith('{"metric"') and '"queries"' in l), None)
        if line:
            with open(os.path.join(REPO, "BENCH_sf1.json"), "w") as f:
                f.write(line + "\n")
            d = json.loads(line)
            print(f"BENCH_sf1.json: {d['value']:.1f}s over {d['n']} queries")
        else:
            print("bench produced no parseable line")
            print(r2.stdout[-2000:])
            print(r2.stderr[-2000:])

    sys.exit(1 if (bad or r.returncode != 0) else 0)


if __name__ == "__main__":
    main()
