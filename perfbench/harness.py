"""Run-time plumbing shared by the workloads: a fresh work directory
inside the checkout, the Spark session as the program ships it,
percentiles, peak memory and process clean-up.

Everything a run writes lands under ``.perfbench-work/`` (deleted when
the run ends) or ``.perfbench-out/`` (traces), both at the checkout
root; nothing under the repository's tracked files is touched.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

PROCESS_START = time.perf_counter()

ROOT = os.path.abspath(os.getcwd())
PACKAGE = "advent_of_code_flink_paimon_spark"
WORK_BASE = os.path.join(ROOT, ".perfbench-work")
OUT_DIR = os.path.join(ROOT, ".perfbench-out")


def require_program() -> None:
    """Fail fast (no result line) when the program is not beside us."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.stderr.write(f"perfbench: no {PACKAGE}/ package under {ROOT}\n")
        sys.exit(2)


def make_workdir(tag: str) -> str:
    """Fresh per-run directory; also becomes TMPDIR and Spark's local
    dir so no scratch file escapes the checkout."""
    path = os.path.join(WORK_BASE, f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "tmp")
    return path


def start_spark(workdir: str):
    """``session.get_spark`` on local[nproc] with the UI off — the only
    added confs keep the JVM's scratch files and the default SQL
    warehouse inside the work directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from advent_of_code_flink_paimon_spark import session

    tmp = os.path.join(workdir, "tmp")
    return session.get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this driver process plus the JVM (VmHWM)."""
    kb = _vm_hwm_kb("self")
    pid = jvm_pid(spark)
    if pid:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            spark.sparkContext._gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def cleanup(workdir: str) -> None:
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        os.rmdir(WORK_BASE)
    except OSError:
        pass


def pct(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


class Result:
    """Collects metric values and the correctness tally for one run."""

    def __init__(self):
        self.metrics: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def fail(self, n: int, why: str) -> None:
        """Count ``n`` failed operations (0 is a no-op)."""
        if n:
            self.failed += int(n)
            self.problems.append(f"{why}: {n}")

    def invalid(self, why: str) -> None:
        """A validity check failed: the run's numbers cannot be trusted."""
        self.problems.append(f"invalid: {why}")

    def line(self, names: list[str]) -> str:
        valid = not any(p.startswith("invalid:") for p in self.problems)
        missing = [n for n in names if n not in self.metrics]
        if missing:
            self.problems.append(f"invalid: metrics not measured: {missing}")
            valid = False
        return json.dumps(
            {
                "correct": bool(valid and self.failed == 0 and self.attempted > 0),
                "attempted": int(self.attempted),
                "failed": int(self.failed),
                "metrics": {
                    n: {"value": self.metrics[n][0], "unit": self.metrics[n][1]}
                    for n in names
                    if n in self.metrics
                },
            }
        )


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole VM so far (``/proc/stat``):
    the time the hypervisor gave the VM's CPUs to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (f[7] if len(f) > 7 else 0), sum(f)


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return (t1[0] - t0[0]) / (t1[1] - t0[1]) if t1[1] > t0[1] else 0.0
