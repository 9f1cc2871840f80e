#!/usr/bin/env python3
"""Dev-only end-of-round artifact refresher + staleness gate.

History: CORRECTNESS_skew.json went stale in r14 (a fixture commit landed
after its mid-round refresh and the green q163 row no longer described
HEAD), and AGAIN in r15 (engine commit `275b960` landed after the skew
refresh). r15 added the commit-stamped manifest so staleness is
DETECTABLE; r16 (VERDICT r15 item 1) makes it ENFORCED: the tool itself
decides fresh-vs-stale against the last engine-touching commit, exits
non-zero on stale, and can close a small gap incrementally by re-running
the taint-derived changed set against the skew fixture instead of a full
refresh.

    python3 tools/round_artifacts.py            # full skew refresh (fixture + verify + crosscheck)
    python3 tools/round_artifacts.py --sf1 REF  # + changed-set-vs-REF crosscheck at sf1
    python3 tools/round_artifacts.py --check    # exit 3 unless every manifest
                                                #   commit CONTAINS the last
                                                #   commit touching src/main
    python3 tools/round_artifacts.py --delta    # stale manifest -> re-run the
                                                #   taint-derived changed set
                                                #   (manifest commit..HEAD) at
                                                #   the skew fixture, merge the
                                                #   rows, re-stamp

Run AFTER the last engine commit of the round (the tool refuses a dirty
tree), then run `--check` as the round's FINAL step — if any engine
commit slipped in after a stamp, `--check` fails and `--delta` closes
the gap without paying for a full skew re-run.
"""
import json, os, subprocess, sys, tempfile
from class_snapshot import machine

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")
TMP = tempfile.gettempdir()  # $TMPDIR, else /tmp
SKEW = os.path.join(TMP, "graft_skew")
SKEW_ART = "CORRECTNESS_skew.json"
SKEW_FIXTURE = "graft.tools.MakeSkew of sf0.1"


def sh(args, **kw):
    print("[round_artifacts] $", " ".join(args))
    return subprocess.run(args, **kw)


def git(*args):
    return subprocess.run(["git", *args], capture_output=True, text=True,
                          cwd=REPO)


def head_commit():
    return git("rev-parse", "HEAD").stdout.strip()


def last_engine_commit():
    """The newest commit touching engine behavior — src/main or build.sbt.
    Tests, tools, and docs can move past a stamp without invalidating it;
    an engine change cannot."""
    return git("log", "-1", "--format=%H", "--", "src/main", "build.sbt").stdout.strip()


def is_fresh(stamp_commit, engine_commit):
    """Fresh iff the stamped commit already contains the last engine
    commit (equality or descendant — a docs-only commit after the stamp
    is fine)."""
    if not stamp_commit:
        return False
    return git("merge-base", "--is-ancestor", engine_commit,
               stamp_commit).returncode == 0


def load_manifest():
    mpath = os.path.join(REPO, "ARTIFACTS_MANIFEST.json")
    return (json.load(open(mpath)) if os.path.exists(mpath) else {}), mpath


def stamp(manifest, name, **info):
    manifest[name] = {"commit": head_commit(),
                      "engine_commit": last_engine_commit(), **info}
    json.dump(manifest, open(os.path.join(REPO, "ARTIFACTS_MANIFEST.json"), "w"),
              indent=1)


def check():
    """Exit 0 iff every manifest stamp contains the last engine commit."""
    manifest, _ = load_manifest()
    eng = last_engine_commit()
    if not manifest:
        print("[round_artifacts] --check: NO manifest — run a refresh first")
        return 3
    stale = [n for n, info in manifest.items()
             if not is_fresh(info.get("commit"), eng)]
    if stale:
        print(f"[round_artifacts] --check: STALE vs engine commit {eng[:9]}: "
              f"{' '.join(stale)}")
        print("[round_artifacts] run --delta (skew changed-set) or a full refresh")
        return 3
    print(f"[round_artifacts] --check: all {len(manifest)} stamps contain "
          f"engine commit {eng[:9]} — fresh")
    return 0


def require_clean():
    dirty = git("status", "--porcelain").stdout.strip()
    if dirty:
        print("[round_artifacts] REFUSING: working tree dirty — commit first\n" + dirty)
        return False
    return True


def delta():
    """Close a stale window incrementally: taint-derive the queries whose
    builders/oracles changed since the skew stamp, re-run EXACTLY those at
    the skew fixture, merge their rows into CORRECTNESS_skew.json, and
    re-stamp. Unchanged queries can't have changed answers (the engine is
    deterministic and their code is commit-identical), so the merged
    artifact describes HEAD."""
    if not require_clean():
        return 2
    manifest, _ = load_manifest()
    info = manifest.get(SKEW_ART)
    if not info:
        print("[round_artifacts] --delta: no skew stamp — run a full refresh")
        return 2
    ref = info["commit"]
    eng = last_engine_commit()
    if is_fresh(ref, eng):
        print(f"[round_artifacts] --delta: stamp {ref[:9]} already fresh — nothing to do")
        return 0
    sys.path.insert(0, TOOLS)
    import changed_set as cs
    seeds = cs.diff_symbols(ref)
    print(f"[round_artifacts] --delta seeds since {ref[:9]}: {' '.join(seeds) or '(none)'}")
    qs, _ = cs.consumers(seeds) if seeds else ([], [])
    if not qs:
        print("[round_artifacts] --delta: no consumer queries — re-stamping only")
        stamp(manifest, SKEW_ART, fixture=SKEW_FIXTURE, crosscheck_exit=0,
              delta_of=ref, delta_queries=[])
        return 0
    print(f"[round_artifacts] --delta queries ({len(qs)}): {' '.join(qs)}")
    out = os.path.join(TMP, "ver_skew_delta")
    sh(["rm", "-rf", out])
    r = sh([os.path.join(TOOLS, "run.sh"), "graft.Verify", SKEW, out, ",".join(qs)])
    if r.returncode != 0:
        print("[round_artifacts] --delta: skew Verify FAILED")
        return 1
    part = os.path.join(TMP, "skew_delta.json")
    env = dict(os.environ, GRAFT_DUCK_MEM=os.environ.get("GRAFT_DUCK_MEM", machine()["duck_mem"]))
    # crosscheck sees the FULL oracle_sql.json but only the filtered
    # queries' parquet — its exit code counts every unfiltered query as
    # "no spark result", so judge the gated queries' rows directly
    sh([sys.executable, os.path.join(TOOLS, "crosscheck.py"), SKEW, out, part],
       env=env)
    rows = json.load(open(part))
    bad = [q for q in qs
           if q not in rows
           or (rows[q].get("err") not in (None, "no_oracle"))
           or (rows[q].get("err") is None and rows[q].get("hash_match") is not True)]
    if bad:
        print(f"[round_artifacts] --delta: skew FAIL for {' '.join(bad)}")
        return 1
    art_path = os.path.join(REPO, SKEW_ART)
    full = json.load(open(art_path))
    for q in qs:
        full[q] = rows[q]
    json.dump(dict(sorted(full.items())), open(art_path, "w"), indent=1)
    stamp(manifest, SKEW_ART, fixture=SKEW_FIXTURE, crosscheck_exit=0,
          delta_of=ref, delta_queries=qs)
    print(f"[round_artifacts] --delta: merged {len(qs)} rows, re-stamped at "
          f"{head_commit()[:9]}")
    return 0


def main():
    if "--check" in sys.argv:
        return check()
    if "--delta" in sys.argv:
        return delta()
    if not require_clean():
        return 2
    manifest, _ = load_manifest()

    # 1. skew gate: deterministic fixture from sf0.1, full Verify, crosscheck
    r = sh([os.path.join(TOOLS, "run.sh"), "graft.tools.MakeSkew",
            "/root/testdata/sf0.1", SKEW])
    if r.returncode != 0:
        return 1
    out = os.path.join(TMP, "ver_skew")
    sh(["rm", "-rf", out])
    r = sh([os.path.join(TOOLS, "run.sh"), "graft.Verify", SKEW, out])
    if r.returncode != 0:
        print("[round_artifacts] skew Verify FAILED")
        return 1
    env = dict(os.environ, GRAFT_DUCK_MEM=os.environ.get("GRAFT_DUCK_MEM", machine()["duck_mem"]))
    r = sh([sys.executable, os.path.join(TOOLS, "crosscheck.py"), SKEW, out,
            os.path.join(REPO, SKEW_ART)], env=env)

    # law pass (r16, VERDICT r15 item 8): the rows-only queries must
    # assert something on the SKEW fixture too — the Zipf hot-key mass is
    # the other place LSH bucket caps can starve ANN recall. Same
    # sf-generic checks + merge the sf1 gate uses.
    art = os.path.join(REPO, SKEW_ART)
    report = json.load(open(art))
    need = sorted(q for q, row in report.items()
                  if row.get("err") == "no_oracle"
                  or str(row.get("err") or "").startswith("oracle_timeout"))
    law_rc = 0
    if need:
        print(f"[round_artifacts] skew law checks ({len(need)}): {' '.join(need)}")
        chk = os.path.join(TMP, "chk_skew.json")
        law_rc = sh([sys.executable, os.path.join(TOOLS, "sf10_checks.py"),
                     SKEW, out, "--only", ",".join(need), "--json", chk]).returncode
        if os.path.exists(chk):
            for q, row in json.load(open(chk)).items():
                row["spark_rows"] = report.get(q, {}).get("spark_rows")
                report[q] = row
        json.dump(dict(sorted(report.items())), open(art, "w"), indent=1)
    stamp(manifest, SKEW_ART, fixture=SKEW_FIXTURE, crosscheck_exit=r.returncode,
          law_exit=law_rc)

    # 2. optional sf1 changed-set refresh: only the queries whose builders
    # changed since REF re-run at /tmp/sf1 (full-surface sf1 is a
    # once-per-several-rounds cost; the changed set is the staleness risk)
    if "--sf1" in sys.argv:
        ref = sys.argv[sys.argv.index("--sf1") + 1]
        env2 = dict(os.environ, GRAFT_GATE_SF=os.path.join(TMP, "sf1"),
                    GRAFT_DUCK_MEM=os.environ.get("GRAFT_DUCK_MEM", machine()["duck_mem"]))
        r = sh([sys.executable, os.path.join(TOOLS, "changed_set.py"),
                "--run", "--diff", ref], env=env2)
        stamp(manifest, "sf1_changed_set", ref=ref, gate_exit=r.returncode)

    print("[round_artifacts] done; manifest:", json.dumps(manifest, indent=1))
    # the stamp is at HEAD with a clean tree, so it is fresh by
    # construction — but re-verify so a future refactor can't silently
    # break the invariant the tool exists to hold
    return check()


if __name__ == "__main__":
    sys.exit(main())
