#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

1. Generator: the same seed gives byte-identical input files, another seed
   gives other files, other copy salts and another per-pass query order;
   the scale-up keeps every document token's length (so it cannot move
   tokens across the 16-character token-hash prefix) and leaves sf0.1's
   token-length distribution intact.
2. Timed action: for the four queries whose `count()` time hides most of
   their work (q155, q24, q96, q21), the executed plan of the timed action
   deserializes every column of the query's schema.
3. BENCHMARK.json names the same workloads and metrics as the harness.
Exits non-zero on the first failed group.
"""
import collections
import filecmp
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

PLAN_CASES = ["q155_boilerplate_strip", "q24_dedup_signatures", "q96_pii_redact",
              "q21_text_stats"]


def check(ok, what):
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        sys.exit(1)


def token_lengths(table):
    return collections.Counter(len(t) for s in table["text"].to_pylist() for t in s.split())


def generator(work):
    a, b, c = (os.path.join(work, d, "sf0.1") for d in ("a", "b", "c"))
    gen.generate(7, a)
    gen.generate(7, b)
    gen.generate(8, c)
    same = all(filecmp.cmp(os.path.join(a, f"{t}.parquet"), os.path.join(b, f"{t}.parquet"),
                           shallow=False) for t in gen.TABLES)
    check(same, "same seed gives byte-identical tables")
    differ = [t for t in gen.TABLES if not filecmp.cmp(
        os.path.join(a, f"{t}.parquet"), os.path.join(c, f"{t}.parquet"), shallow=False)]
    check(set(differ) == set(gen.TABLES) - {"region", "nation"},
          f"another seed changes every seeded table ({len(differ)} of {len(gen.TABLES)} differ)")
    check(gen.copy_salts(7, 10) != gen.copy_salts(8, 10), "another seed changes the copy salts")
    names = run.WORKLOADS["geo_report"]["queries"]
    check(gen.query_order(names, 7, 1) != gen.query_order(names, 8, 1)
          and gen.query_order(names, 7, 1) != gen.query_order(names, 7, 2)
          and gen.query_order(names, 7, 1) == gen.query_order(names, 7, 1),
          "query order is a function of (seed, pass)")

    base = gen.gen_base(7)
    copies = 10
    scaled = gen.scale_up(base, copies, 7)
    n = base["documents"].num_rows
    docs = scaled["documents"]
    check(docs.num_rows == copies * n, f"scale-up makes {copies} copies of the documents")
    lengths_ok = all(
        [len(t) for t in docs.slice(k * n, n)["text"][i].as_py().split()]
        == [len(t) for t in base["documents"]["text"][i].as_py().split()]
        for k in range(copies) for i in range(0, n, 97))
    check(lengths_ok, "every scaled token keeps its sf0.1 length")
    want = token_lengths(base["documents"])
    got = token_lengths(docs)
    check(all(got[k] == copies * v for k, v in want.items()) and set(got) == set(want),
          f"token-length distribution unchanged (longest token {max(want)} chars, horizon 16)")
    tok0 = set(t for s in docs.slice(0, n)["text"].to_pylist() for t in s.split())
    tok1 = set(t for s in docs.slice(n, n)["text"].to_pylist() for t in s.split())
    check(not (tok0 & tok1), "copies share no token (cross-copy Jaccard 0)")
    keys = scaled["lineitem"]["l_orderkey"].to_numpy()
    check(keys.max() < copies * base["orders"].num_rows, "key shifts stay inside the scaled key space")


def plans(work):
    classpath = run.build(run.tree_digest())
    run_dir = os.path.join(work, "plan")
    data = os.path.join(run_dir, "sf0.1")
    gen.generate(7, data)
    cmd = run.java_cmd(classpath, run_dir, [
        "mode=plancheck", f"data={data}", f"queries={','.join(PLAN_CASES)}",
        f"cores={os.cpu_count() or 1}"])
    rc = run.run_jvm(cmd, run_dir, 600)
    with open(os.path.join(run_dir, "jvm.log")) as f:
        for line in f:
            if line.startswith("plancheck"):
                print(line[len("plancheck "):].rstrip())
    check(rc == 0, "timed action materializes every schema column")


def config():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    check([w["name"] for w in b["workloads"]] == list(run.WORKLOADS),
          "BENCHMARK.json workloads match workloads.json")
    check([(m["name"], m["unit"]) for m in b["end_to_end"]] == run.END_TO_END,
          "BENCHMARK.json end-to-end metrics match the harness")
    check([(m["name"], m["unit"]) for m in b["per_layer"]] == run.PER_LAYER,
          "BENCHMARK.json per-layer metrics match the harness")


def main():
    work = os.path.join(run.WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        generator(work)
        config()
        plans(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
