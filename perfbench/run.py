"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_roundtrip --seed 1 --seconds 5 --trace 0

Run from the repository root. The launcher sizes the Spark session to the
machine, keeps every file the run writes under ``.bench_build/perfbench``
in the current directory, runs ``harness.py`` in its own process group,
stops that whole group when the worker is done, and relays the worker's
result: the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. It exits non-zero, printing no
result, when the engine package is not in the current directory or the
worker fails.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("etl_roundtrip", "catalog_mix")
WORKER_TIMEOUT_S = 170
PACKAGE = "advanced_strapi_import_spark"


def physical_mem_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_mem() -> str:
    """4 GiB, or half of physical memory on smaller machines: the
    session's own 24g default is larger than many machines."""
    half_gib = physical_mem_bytes() // (2 << 30)
    return f"{max(1, min(4, half_gib))}g"


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def worker_env(root: str, work: str) -> dict:
    env = dict(os.environ)
    tmp, jtmp, local = (os.path.join(work, d) for d in ("tmp", "jtmp", "local"))
    for d in (tmp, jtmp, local):
        os.makedirs(d, exist_ok=True)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH", "")) if p),
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--driver-java-options", f"-Djava.io.tmpdir={jtmp}",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell"]),
        "PYTHONHASHSEED": "0",
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def stop_group(pgid: int) -> None:
    """SIGTERM then SIGKILL the process group, and wait until it is empty."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    work = os.path.join(root, ".bench_build", "perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # a SIGTERM to the launcher must still stop the worker's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(
        [sys.executable, os.path.join(here, "harness.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--work", work],
        cwd=work, env=worker_env(root, work), stdout=subprocess.PIPE,
        text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S}s", file=sys.stderr)
        out, code = "", 1
    else:
        code = proc.returncode
    finally:
        stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
