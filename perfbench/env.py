"""The environment every benchmark process runs in, identical for the
parent commit and the change: core count, driver heap, JIT tier, import
path and the directories Spark and Python may write to (all under the work
directory, inside the checkout)."""

from __future__ import annotations

import os


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of physical memory, at most 4 GiB: the package default
    (16g) is more than this kind of box has."""
    with open("/proc/meminfo") as f:
        total_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, total_kib // 2**20 // 4))}g"


def bench_env(root: str, work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        # Spark's Python workers import the package (pandas UDFs), so the
        # checkout root must be on their path, not only on ours.
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        # Every JVM (Spark's launcher and the driver JVM): temp files in the
        # work directory, no hsperfdata file (it always goes to /tmp), and
        # the JIT's first tier only. With the full tiered JIT, C2 goes on
        # compiling for the whole of a one-minute run, takes about a fifth
        # of a 4-vCPU box, and entry times fall by half over a dozen passes,
        # so a run's figure depends on how far compilation got; with C1
        # alone they show no such trend after the warm-up.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
    )
    return env


def spark_conf(work: str) -> dict[str, str]:
    return {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
