#!/usr/bin/env python3
"""Full-surface sf1 gate (VERDICT r15 item 3): every query must assert
something AT sf1, the way the sf10 spot surface already does.

The old CORRECTNESS_sf1.json predated the r13-r15 oracle promotions (31
rows-only = the r12-era registry) and q235 entirely. This gate re-derives
the artifact from scratch:

  1. graft.Verify over the FULL surface at /tmp/sf1.
  2. crosscheck.py with a per-oracle wall-clock budget
     (GRAFT_DUCK_TIMEOUT, default 900 s): every oracle replays VERBATIM
     unless genuinely over budget — no hand-maintained exclusion list.
  3. tools/sf10_checks.py (sf-generic law/slice checks) for whatever
     remains: the registry rows-only queries + any timeout from step 2.
  4. Merge (a law row overrides its rows-only/timeout row), write
     CORRECTNESS_sf1.json, stamp ARTIFACTS_MANIFEST.json.

Exit non-zero if any row FAILS or asserts nothing.

Usage: python3 tools/sf1_gate.py [--skip-verify] [--dirty-ok]
"""
import json, os, subprocess, sys, time
from class_snapshot import jvm_env, machine, snapshot_runner

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")
SF1 = "/tmp/sf1"
OUT = "/tmp/ver_sf1"
LOG = "/tmp/sf1_gate.log"


def sh(cmd, env=None, log=LOG):
    print(f"[sf1_gate] $ {cmd}", flush=True)
    e = dict(os.environ)
    if env:
        e.update(env)
    t0 = time.time()
    with open(log, "a") as f:
        rc = subprocess.call(cmd, shell=True, env=e, stdout=f, stderr=f,
                             cwd=REPO)
    print(f"[sf1_gate]   rc={rc} ({time.time()-t0:.0f}s)", flush=True)
    return rc


def main():
    args = set(sys.argv[1:])
    sys.path.insert(0, TOOLS)
    import round_artifacts as ra
    if "--dirty-ok" not in args:
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=REPO,
                               capture_output=True, text=True).stdout.strip()
        if dirty:
            print("[sf1_gate] REFUSING: working tree dirty (stamp would lie)"
                  " — commit first or pass --dirty-ok\n" + dirty)
            return 2

    run = snapshot_runner("/tmp/graft_cls_sf1gate")
    env_jvm = jvm_env()
    if "--skip-verify" not in args:
        if sh(f"{run} graft.Verify {SF1} {OUT}", env_jvm) != 0:
            print("[sf1_gate] Verify FAILED — see", LOG)
            return 1

    cc_json = "/tmp/cc_sf1.json"
    sh(f"python3 tools/crosscheck.py {SF1} {OUT} {cc_json}",
       {"GRAFT_DUCK_MEM": machine()["duck_mem"],
        "GRAFT_DUCK_TIMEOUT": os.environ.get("GRAFT_DUCK_TIMEOUT", "900")})
    report = json.load(open(cc_json))

    need = sorted(q for q, r in report.items()
                  if r.get("err") == "no_oracle"
                  or str(r.get("err") or "").startswith("oracle_timeout"))
    print(f"[sf1_gate] rows needing law/slice checks ({len(need)}): "
          f"{' '.join(need)}")
    if need:
        chk_json = "/tmp/chk_sf1.json"
        sh(f"python3 tools/sf10_checks.py {SF1} {OUT} "
           f"--only {','.join(need)} --json {chk_json}")
        if os.path.exists(chk_json):
            for q, row in json.load(open(chk_json)).items():
                row["spark_rows"] = report.get(q, {}).get("spark_rows")
                report[q] = row

    art = os.path.join(REPO, "CORRECTNESS_sf1.json")
    json.dump(dict(sorted(report.items())), open(art, "w"), indent=1)

    def bucket(r):
        if r.get("hash_match") is True:
            return "green"
        e = str(r.get("err") or "")
        # declared-lawless or over-budget rows are SILENT (the gate's
        # complaint); anything else non-green is a real failure
        return "silent" if (e == "no_oracle"
                            or e.startswith("oracle_timeout")) else "fail"
    green = [q for q, r in report.items() if bucket(r) == "green"]
    silent = [q for q, r in report.items() if bucket(r) == "silent"]
    fails = [q for q, r in report.items() if bucket(r) == "fail"]
    print(f"[sf1_gate] CORRECTNESS_sf1.json: {len(green)} asserting, "
          f"{len(silent)} silent, {len(fails)} FAIL of {len(report)}")
    if silent:
        print(f"[sf1_gate] SILENT (no law check registered): {' '.join(sorted(silent))}")
    if fails:
        print(f"[sf1_gate] FAIL: {' '.join(sorted(fails))}")

    manifest, _ = ra.load_manifest()
    ra.stamp(manifest, "CORRECTNESS_sf1.json", fixture=SF1,
             asserting=len(green), silent=len(silent), fails=len(fails))
    return 1 if (fails or silent) else 0


if __name__ == "__main__":
    sys.exit(main())
