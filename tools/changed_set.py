#!/usr/bin/env python3
"""Dev-only changed-set gate (VERDICT r14 item 2).

q163 broke in r14 because a fixture-helper change (`87608cb`, span-derived
plantedCorpus offsets) was re-verified against a HAND-built list of
affected queries, and the list missed one consumer. This tool derives the
consumer set mechanically instead:

    python3 tools/changed_set.py plantedCorpus            # list consumers
    python3 tools/changed_set.py --run plantedCorpus      # verify+crosscheck them
    python3 tools/changed_set.py --diff                   # symbols from git diff
    python3 tools/changed_set.py --run --diff             # the one-command gate

Algorithm: parse every src/main *.scala for `def`/`val` definitions
(indentation-block heuristic), taint-propagate from the seed symbols to
any definition whose body mentions a tainted name (word-boundary, so
`Pipeline.plantedCorpus` and bare `docSpan` both hit), then report every
`Q("qNNN_...")` registration whose block — builder AND oracle SQL —
contains a tainted symbol. `--run` then runs graft.Verify on exactly that
query list at sf0.01 and hash-compares via tools/crosscheck.py; non-zero
exit on any mismatch. NOT part of the shipped engine.
"""
import os, re, subprocess, sys, tempfile

SRC = os.path.join(os.path.dirname(__file__), "..", "src", "main", "scala")
DEF_RE = re.compile(
    r"^(\s*)(?:private(?:\[\w+\])?\s+)?(?:final\s+)?(?:lazy\s+)?(?:def|val)\s+(\w+)")
Q_RE = re.compile(r'Q\(\s*\n?\s*"(q\w+)"')
# names too generic to propagate taint through (they'd taint everything)
STOP = {"all", "apply", "main", "s", "t", "q", "df", "fn"}


def scala_files():
    for root, _, files in os.walk(SRC):
        for f in files:
            if f.endswith(".scala"):
                yield os.path.join(root, f)


def parse_defs(path):
    """(name, body) per TOP-LEVEL object member (indent <= 2) — local vals
    share names codebase-wide (`span`, `base`, ...) and would explode the
    taint set, so they stay subsumed inside their enclosing member's body
    and never become taint symbols themselves."""
    lines = open(path).read().splitlines()
    marks = []  # (line_idx, indent, name)
    for i, ln in enumerate(lines):
        m = DEF_RE.match(ln)
        if m and len(m.group(1)) <= 2:
            marks.append((i, len(m.group(1)), m.group(2)))
    out = []
    for k, (i, ind, name) in enumerate(marks):
        end = len(lines)
        for j, jind, _ in marks[k + 1:]:
            if jind <= ind:
                end = j
                break
        out.append((name, "\n".join(lines[i:end])))
    return out


def ambiguous_names():
    """Names that also occur as LOCAL vals/defs or parameters anywhere —
    these (`dir`, `join`, `area`, ...) cannot carry taint: once tainted
    they'd word-match in every query body and the set explodes to 226.
    Fixture helpers and pipeline stages (plantedCorpus, dedupPipeline,
    trainingShards) have distinctive names and stay carriers."""
    local = set()
    local_def = re.compile(r"^\s{3,}.*?\b(?:def|val|var)\s+(\w+)")
    param = re.compile(r"[(,]\s*(\w+)\s*:")
    for p in scala_files():
        for ln in open(p):
            m = local_def.match(ln)
            if m:
                local.add(m.group(1))
            for m in param.finditer(ln):
                local.add(m.group(1))
    return local


INTERP_RE = re.compile(r"\$\{([^}]*)\}|\$(\w+)")


def strip_strings(body):
    """Blank out string-literal CONTENT (column names like col("cluster")
    would otherwise word-match carrier defs named `cluster`) while keeping
    `${...}` / `$name` interpolation spans — oracle SQL references fixture
    helpers through those."""
    def keep_interp(m):
        return " ".join(g for pair in INTERP_RE.findall(m.group(0)) for g in pair if g)
    body = re.sub(r'""".*?"""', keep_interp, body, flags=re.S)
    body = re.sub(r'"[^"\n]*"', keep_interp, body)
    # comments are CITATIONS, not dataflow ("q112's two-level trick",
    # "same fix as q68") — they'd create taint edges across the whole repo
    body = re.sub(r"/\*.*?\*/", " ", body, flags=re.S)
    return re.sub(r"//[^\n]*", " ", body)


def consumers(seeds):
    defs = []  # (name, qname, body) — body string-stripped for matching
    for p in scala_files():
        for name, body in parse_defs(p):
            m = Q_RE.search(body)  # query name BEFORE strings are blanked
            defs.append((name, m.group(1) if m else None, strip_strings(body)))
    ambiguous = ambiguous_names() - set(seeds)  # a seed always carries
    tainted, carriers = set(seeds), set(seeds)
    changed = True
    while changed:
        changed = False
        pat = re.compile(r"\b(" + "|".join(map(re.escape, sorted(carriers))) + r")\b")
        for name, _, body in defs:
            if name in tainted or name in STOP or len(name) < 3:
                continue
            # strip the declaration line so a def doesn't taint on its own name
            if pat.search(body.split("\n", 1)[-1]):
                tainted.add(name)
                if name not in ambiguous:
                    carriers.add(name)
                    changed = True
    # every Q("...") whose defining block mentions a taint CARRIER
    # (ambiguous tainted names would false-positive every block)
    pat = re.compile(r"\b(" + "|".join(map(re.escape, sorted(carriers))) + r")\b")
    qs = set()
    for _, qname, body in defs:
        if qname and pat.search(body):
            qs.add(qname)
    dropped = sorted(tainted - carriers)
    if dropped:
        print(f"[changed_set] WARNING ambiguous tainted names not propagated "
              f"(gate their consumers by hand if they are fixture-bearing): "
              f"{' '.join(dropped)}")
    return sorted(qs), sorted(carriers)


def diff_symbols(ref):
    """Seed symbols = names of defs whose body is touched by git diff."""
    out = subprocess.run(["git", "diff", "--unified=0", ref, "--", "src/main"],
                         capture_output=True, text=True, cwd=os.path.dirname(SRC) + "/../..")
    syms, cur_file, cur_defs = set(), None, []
    for ln in out.stdout.splitlines():
        if ln.startswith("+++ b/"):
            cur_file = ln[6:]
            p = os.path.join(os.path.dirname(SRC), "..", "..", cur_file)
            cur_defs = []
            if os.path.exists(p) and p.endswith(".scala"):
                lines = open(p).read().splitlines()
                for i, l in enumerate(lines):
                    m = DEF_RE.match(l)
                    # attribute to TOP-LEVEL members only — a hunk inside a
                    # nested local (`val rhs = ...`) belongs to its enclosing
                    # member, not to the generic local name
                    if m and len(m.group(1)) <= 2:
                        cur_defs.append((i + 1, len(m.group(1)), m.group(2)))
        elif ln.startswith("@@") and cur_defs:
            m = re.search(r"\+(\d+)", ln)
            if m:
                lineno = int(m.group(1))
                best = None
                for i, ind, name in cur_defs:
                    if i <= lineno:
                        best = name
                if best:
                    syms.add(best)
    return sorted(syms)


def main():
    args = sys.argv[1:]
    run = "--run" in args
    args = [a for a in args if a != "--run"]
    if args and args[0] == "--diff":
        ref = args[1] if len(args) > 1 else "HEAD"
        seeds = diff_symbols(ref)
        print(f"[changed_set] diff-derived seeds: {' '.join(seeds) or '(none)'}")
    else:
        seeds = args
    if not seeds:
        print("usage: changed_set.py [--run] (SYMBOL... | --diff [ref])")
        return 2
    qs, tainted = consumers(seeds)
    print(f"[changed_set] tainted defs ({len(tainted)}): {' '.join(tainted)}")
    print(f"[changed_set] consumer queries ({len(qs)}): {' '.join(qs)}")
    if not run or not qs:
        return 0
    sf = os.environ.get("GRAFT_GATE_SF", "/root/testdata/sf0.01")
    out = os.path.join(tempfile.gettempdir(), "changed_set_out")
    subprocess.run(["rm", "-rf", out])
    tools = os.path.dirname(os.path.abspath(__file__))
    r = subprocess.run([os.path.join(tools, "run.sh"), "graft.Verify", sf, out,
                        ",".join(qs)])
    if r.returncode != 0:
        print("[changed_set] Verify FAILED")
        return 1
    r = subprocess.run([sys.executable, os.path.join(tools, "crosscheck.py"), sf, out],
                       capture_output=True, text=True)
    bad = 0
    for ln in r.stdout.splitlines():
        for q in qs:
            if f" {q}" in ln or ln.startswith(q):
                print(ln)
                if ln.startswith("FAIL"):
                    bad += 1
    print(f"[changed_set] {len(qs)} queries gated, {bad} FAIL")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
