#!/usr/bin/env python3
"""One-command sf30 spot gate (VERDICT r15 #6): one scale step past sf10
for the five heaviest shapes, enough to expose any super-linear step the
10x hop hides. NOT the full surface — five queries, each with a
correctness row and a bench row, plus the sf30/sf10 time ratio.

Fixture: tools/run.sh graft.tools.MakeSf /root/testdata/sf0.1 /tmp/sf30 300
  (300 key-shifted sf0.1 copies in ONE application -- stacking MakeSf
  (sf0.1->sf1->sf10->sf30) buried the copy salt past the 16-char prefix
  Dedup.tokenHashes reads, giving cross-copy docs IDENTICAL minhash
  signatures and quadratic cross-copy candidate pairs: the r16 sf30
  4.4x q101 flag was this fixture artifact, not an engine defect.
  One application keeps per-key cardinalities at sf0.1 levels, so
  a per-query time ratio materially above 3 flags a super-linear step;
  the pass bar is <= 3.5x per VERDICT r15 #6.)

Steps:
  1. graft.Verify on the 5 spot queries at sf30 (+ DumpEdges101).
  2. graft.tools.TimeQ 2 reps -> BENCH_sf30.json (min per query,
     per-query ratio vs BENCH_sf10.json, max ratio).
  3. Correctness rows: q179/q224 direct DuckDB crosscheck (their
     verbatim oracles stay in budget); q101/q135/q156 via the
     scale-generic sf10_checks.py decomposed/law/staged rows.
  -> CORRECTNESS_sf30.json

Usage: python3 tools/sf30_gate.py [--skip-verify] [--skip-bench]
                                  [--sf30 /tmp/sf30]
"""
import json, os, re, subprocess, sys, time
from class_snapshot import jvm_env, machine, snapshot_runner

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPOT = ["q101_dedup_pipeline", "q135_incremental_dedup", "q156_pagerank",
        "q179_prefix_filter_join", "q224_full_outer_join_bucketed"]
# verbatim-oracle-replayable at sf30 vs gated by sf10_checks rows
DIRECT = ["q179_prefix_filter_join", "q224_full_outer_join_bucketed"]
CHECKED = [q for q in SPOT if q not in DIRECT]


def sh(cmd, env=None, log=None):
    print(f"[gate] $ {cmd}", flush=True)
    e = dict(os.environ)
    if env:
        e.update(env)
    t0 = time.time()
    with open(log, "a") if log else open(os.devnull, "w") as f:
        rc = subprocess.call(cmd, shell=True, env=e, stdout=f, stderr=f,
                             cwd=REPO)
    print(f"[gate]   rc={rc} ({time.time()-t0:.0f}s)", flush=True)
    return rc


def main():
    args = set(sys.argv[1:])
    sf30 = "/tmp/sf30"
    for a in sys.argv[1:]:
        if a.startswith("--sf30="):
            sf30 = a.split("=", 1)[1]
    out = "/tmp/ver_sf30_gate"
    log = "/tmp/sf30_gate.log"
    run = snapshot_runner("/tmp/graft_cls_gate30")
    env_jvm = jvm_env()

    if "--skip-verify" not in args:
        sh(f"{run} graft.Verify {sf30} {out} {','.join(SPOT)}", env_jvm, log)
        sh(f"{run} graft.tools.DumpEdges101 {sf30} {out}", env_jvm, log)

    if "--skip-bench" not in args:
        tq_log = "/tmp/sf30_gate_timeq.log"
        open(tq_log, "w").close()
        sh(f"{run} graft.tools.TimeQ {sf30} 2 {' '.join(SPOT)}", env_jvm, tq_log)
        times = {}
        for line in open(tq_log):
            m = re.match(r"\[timeq\] rep\d+ (\S+): ([0-9.]+) s", line)
            if m:
                times.setdefault(m.group(1), []).append(float(m.group(2)))
        mins = {q: round(min(ts), 2) for q, ts in sorted(times.items())}
        sf10_b = json.load(open(os.path.join(REPO, "BENCH_sf10.json")))
        ratios = {q: round(mins[q] / sf10_b["queries"][q], 2)
                  for q in mins if q in sf10_b.get("queries", {})}
        bench = {"metric": "total", "value": round(sum(mins.values()), 1),
                 "unit": "sec", "queries": mins, "reps": 2, "sf": 30.0,
                 "ratio_vs_sf10": ratios,
                 "max_ratio": max(ratios.values()) if ratios else None,
                 "note": "5-query spot, min/query; 3x rows vs sf10 -> "
                         "ratio materially above 3 = super-linear step "
                         "(bar 3.5, VERDICT r15 #6)"}
        json.dump(bench, open(os.path.join(REPO, "BENCH_sf30.json"), "w"),
                  indent=1)
        print(f"[gate] BENCH_sf30.json total_min={bench['value']} "
              f"max_ratio={bench['max_ratio']}")

    # direct crosscheck for the in-budget oracles only
    osql_path = f"{out}/oracle_sql.json"
    osql = json.load(open(osql_path))
    json.dump({q: s for q, s in osql.items() if q in DIRECT},
              open(osql_path, "w"))
    cc_json = "/tmp/cc_sf30_gate.json"
    sh(f"python3 tools/crosscheck.py {sf30} {out} {cc_json}",
       {"GRAFT_DUCK_MEM": machine()["duck_mem"]}, log)
    json.dump(osql, open(osql_path, "w"), indent=0)  # restore for checks
    report = json.load(open(cc_json)) if os.path.exists(cc_json) else {}
    report = {q: r for q, r in report.items() if q in SPOT}

    chk_json = "/tmp/chk_sf30_gate.json"
    sh(f"python3 tools/sf10_checks.py {sf30} {out} --only {','.join(CHECKED)} "
       f"--json {chk_json}", None, log)
    if os.path.exists(chk_json):
        for q, row in json.load(open(chk_json)).items():
            report[q] = row

    json.dump(dict(sorted(report.items())),
              open(os.path.join(REPO, "CORRECTNESS_sf30.json"), "w"),
              indent=1)
    green = sum(1 for r in report.values() if r.get("hash_match"))
    print(f"[gate] CORRECTNESS_sf30.json: {green}/{len(report)} green")


if __name__ == "__main__":
    main()
