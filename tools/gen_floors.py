#!/usr/bin/env python3
"""Regenerate the vacuity-floor file + row-count audit (judge r14 #2).

Round 14 proved four gates sat VACUOUS for rounds: check.py happily
passes an empty-vs-empty oracle compare, so a broken upstream pipeline
that empties both sides goes green. This writes:

  tools/gate_floors.json  minimum Spark-side output rows per gate,
                          enforced by check.py (and therefore by
                          tools/sf1gate.py, which wraps it)
  GATE_ROWS.md            the in-repo audit table of every gate's
                          row count per verified scale

Floor policy: floor(gate) = min over the observed scales (sf0.001,
sf0.01 verify outputs, and CORRECTNESS_sf1.json spark_rows when
present). Testdata per sf dir is immutable and every gate is
deterministic, so the minimum observed count is a zero-false-positive
tripwire; a gate whose output legitimately changes updates this file
in the same commit (regenerate with this tool). Scales where a gate's
correct output is SMALLER than the cross-scale floor get an explicit
scale_override (e.g. v9's multi-doc search finds 0 neighbours in the
500-vector sf0.001 slice but 1+ from sf0.01 up).

Run AFTER a green `tools/check.py sf0.001` + `tools/check.py sf0.01`
(it reads their .tmp/verify_* outputs).
"""
import json, os, sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALES = ["sf0.001", "sf0.01"]

# Gates ADJUDICATED to legitimately shrink below their cross-scale floor
# at the sf1 tier (rationale lives in GATE_ROWS.md): share-threshold
# heavy hitters thin out at 10x the distinct keys (q24/q45) and the
# sparser 10x repeat-trade graph has an empty 3-core (q55). Any OTHER
# gate coming in under floor at sf1 is a regression, not an
# adjudication — this tool fails loudly instead of silently writing a
# self-relaxing override (ADVICE r15).
SF1_ADJUDICATED = {"q24_heavy_hitters", "q45_group_heavy_hitters",
                   "q55_kcore"}


def counts_for(scale):
    out = os.path.join(REPO, ".tmp", f"verify_{scale}")
    if not os.path.isdir(out):
        sys.exit(f"{out} missing — run tools/check.py {scale} first")
    con = duckdb.connect()
    c = {}
    for name in sorted(os.listdir(out)):
        p = os.path.join(out, name)
        if os.path.isdir(p):
            c[name] = con.sql(
                f"SELECT count(*) FROM '{p}/*.parquet'").fetchone()[0]
    return c


def main():
    per_scale = {s: counts_for(s) for s in SCALES}
    gates = sorted(set().union(*[set(c) for c in per_scale.values()]))
    sf1_path = os.path.join(REPO, "CORRECTNESS_sf1.json")
    sf1 = {}
    if os.path.exists(sf1_path):
        for k, v in json.load(open(sf1_path)).items():
            if v.get("spark_rows") is not None:
                sf1[k] = v["spark_rows"]

    floors, overrides = {}, {s: {} for s in SCALES}
    # PORTABLE scale tag: check.py normalizes an absolute dataset path
    # (e.g. <checkout>/.sf1) to its basename tag, so the committed
    # override key works at any checkout path (ADVICE r15)
    sf1_key = "sf1"
    overrides[sf1_key] = {}
    for g in gates:
        obs = [per_scale[s][g] for s in SCALES if g in per_scale[s]]
        if g in sf1:
            obs.append(sf1[g])
        floor = max(1, min(obs))
        floors[g] = floor
        for s in SCALES:
            if g in per_scale[s] and per_scale[s][g] < floor:
                overrides[s][g] = per_scale[s][g]
        # a gate whose sf1 output is legitimately SMALLER than the gate
        # floor gets its verified sf1 count as the sf1-scale override —
        # but ONLY if a human adjudicated it onto SF1_ADJUDICATED (the
        # rationale lives in GATE_ROWS.md). Anything else under floor at
        # sf1 is a silent-regression candidate: fail loudly rather than
        # self-relax the very protection the floors exist for.
        if g in sf1 and sf1[g] < floor:
            if g not in SF1_ADJUDICATED:
                sys.exit(
                    f"REFUSING to write floors: gate {g} is under its "
                    f"floor at sf1 ({sf1[g]} < {floor}) and is NOT on "
                    "the adjudicated allowlist (SF1_ADJUDICATED in this "
                    "tool). Investigate the regression; if the smaller "
                    "output is genuinely correct, add the gate to the "
                    "allowlist WITH a GATE_ROWS.md rationale, then rerun.")
            overrides[sf1_key][g] = sf1[g]

    data = {
        "_doc": "Vacuity floors: check.py fails a gate whose Spark "
                "output has fewer rows than floors[gate] (default for "
                "unlisted gates: default). scale_overrides relax a "
                "named scale where a smaller output is the correct "
                "answer. Regenerate with tools/gen_floors.py after an "
                "intentional output change.",
        "default": 1,
        "floors": floors,
        "scale_overrides": {s: o for s, o in overrides.items() if o},
    }
    with open(os.path.join(REPO, "tools", "gate_floors.json"), "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)

    lines = [
        "# Gate output-row audit",
        "",
        "Per-gate Spark-side output rows at each verified scale, plus the",
        "enforced vacuity floor (see `tools/gen_floors.py` for the policy",
        "and `tools/check.py` for enforcement). A gate at 0 rows can no",
        "longer pass silently; a gate whose output shrinks below its",
        "recorded floor fails VACUOUS until this audit is regenerated",
        "deliberately.",
        "",
        "| gate | sf0.001 | sf0.01 | sf1 | floor |",
        "|---|---|---|---|---|",
    ]
    for g in gates:
        row = [g] + [str(per_scale[s].get(g, "—")) for s in SCALES]
        row.append(str(sf1.get(g, "—")))
        row.append(str(floors[g]))
        lines.append("| " + " | ".join(row) + " |")
    if overrides[sf1_key]:
        lines += [
            "",
            "Adjudicated sf1 scale overrides (output legitimately shrinks",
            "as the corpus grows; each verified hash-matching its equally",
            "sized oracle before the floor fired): " + ", ".join(
                f"{g}={v}" for g, v in sorted(overrides[sf1_key].items())),
            "— share-threshold heavy hitters thin out at 10x the distinct",
            "keys (q24/q45), and the sparser 10x repeat-trade graph has an",
            "empty 3-core (q55, the r12 sf0.1 finding one scale later).",
        ]
    with open(os.path.join(REPO, "GATE_ROWS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    n_small = sum(1 for g in gates if floors[g] < 10)
    print(f"wrote floors for {len(gates)} gates "
          f"({n_small} with floor < 10) + GATE_ROWS.md")


if __name__ == "__main__":
    main()
