"""Class snapshot for the gates: a copy of target/scala-2.13/classes with
tools/run.sh beside it, so a concurrent sbt compile cannot swap class
files under the gate's JVMs. Also the cores, heap and DuckDB sizes the
gates run with on this machine (`machine`).

tools/run.sh runs the classes of the tree it sits in
(<root>/tools/run.sh -> <root>/target/scala-2.13/classes), so the
snapshot is laid out as such a tree.
"""
import os, shutil

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLASSES = "target/scala-2.13/classes"


def snapshot_runner(root):
    """Copy the classes and tools/run.sh under `root`; return the runner.
    Exits if the runner would not run the snapshot's classes."""
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(os.path.join(REPO, CLASSES), os.path.join(root, CLASSES))
    os.makedirs(os.path.join(root, "tools"))
    runner = os.path.join(root, "tools", "run.sh")
    shutil.copy2(os.path.join(REPO, "tools", "run.sh"), runner)
    # the runner must resolve its classes from its own location, and the
    # snapshot must hold the mains the gates run
    rule = 'CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/' + CLASSES + '"'
    if rule not in open(runner).read():
        raise SystemExit(f"[gate] {runner} does not resolve its classes from "
                         f"its own location; it would not run the snapshot")
    if not os.path.isfile(os.path.join(root, CLASSES, "graft", "Verify.class")):
        raise SystemExit(f"[gate] no compiled graft.Verify under {root}/{CLASSES}"
                         " (run sbt compile first)")
    return runner


def machine(duck_cap_gb=24):
    """The sizes the gates give Spark and DuckDB on this machine:
    cores = the CPUs this process may run on (nproc); heap = half of
    MemTotal, at most 64g; duck_mem = half of MemTotal, at most
    `duck_cap_gb` GB; duck_threads = min(16, cores). 32 cores and a
    MemTotal of at least 128 GiB give 32, 64g, 24GB and 16."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    half_gb = max(1, kb // 2 // 2**20)
    return {"cores": cores, "heap": f"{min(64, half_gb)}g",
            "duck_mem": f"{min(duck_cap_gb, half_gb)}GB",
            "duck_threads": min(16, cores)}


def jvm_env():
    """SPARK_DRIVER_MEM and SPARK_GRAFT_CPUS for a gate's JVMs."""
    m = machine()
    return {"SPARK_DRIVER_MEM": m["heap"], "SPARK_GRAFT_CPUS": str(m["cores"])}
