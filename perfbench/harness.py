"""Benchmark worker: one workload, one process, one Spark session.

Started by ``run.py`` with the environment it sets up. Phases:

1. set-up: session start, the workload's ``prepare`` and its warm-up
   passes (``setup_s``);
2. timed: whole passes, one op at a time; another pass starts while it
   is expected to end within half a pass of ``--seconds``;
3. report: every figure on stderr, and as the last stdout line the
   end-to-end metrics (``--trace 0``) or, for a traced run, the
   per-layer metrics (``--trace 1``).

Wall and CPU time on a shared virtual machine move with the CPU time the
hypervisor steals and with the JIT compiler, which is still busy in the
timed pass, so the per-pass metrics a run gates on are work counts
(Spark jobs, shuffle bytes); the timings are reported beside them.
"""

from __future__ import annotations

import os
import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import PER_LAYER, StatusStore, Tracer, layer_metrics  # noqa: E402

END_TO_END = [("setup_s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes")]


def steal_s() -> float:
    """CPU time the hypervisor has stolen from this machine, all CPUs
    (0 on bare metal)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def peak_rss_mib(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def make_workload(name: str, spark, work: str, seed: int):
    if name == "etl_roundtrip":
        from etl import EtlRoundtrip
        return EtlRoundtrip(spark, work, seed)
    if name == "catalog_mix":
        from catalog import CatalogMix
        return CatalogMix(spark, work, seed)
    raise SystemExit(f"unknown workload {name!r}")


class Runner:
    def __init__(self, spark, workload) -> None:
        self.spark = spark
        self.workload = workload
        self.tracer = None
        self.n_ops = 0
        self.failures: list[str] = []
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.status = StatusStore(spark)

    def run_op(self, name: str, fn, timed: bool) -> float:
        from advanced_strapi_import_spark import caching

        tr = self.tracer if timed else None
        op_id = f"op{self.n_ops}"
        self.n_ops += 1
        if tr is not None:
            tr.begin_op(op_id)
        t0 = time.perf_counter()
        try:
            ok, detail, rows = fn(tr)
        except Exception as exc:  # an op that raises counts as failed
            traceback.print_exc(file=sys.stderr)
            ok, detail, rows = False, f"{type(exc).__name__}: {exc}", 0
        t1 = time.perf_counter()
        # frames the caching module still holds (no public accessor)
        live = (len(getattr(caching, "_TRACKED", ()))
                + len(getattr(caching, "_CHECKPOINTED", ())))
        if tr is not None:
            tr.end_op()
        self.workload.after_op()
        rec = {"op": name, "s": t1 - t0, "ok": ok, "rows": rows}
        if tr is not None:
            rec["trace"] = tr.collect_op(t0, t1, live)
        print(f"# {'ok' if ok else 'FAILED'} {name} {t1 - t0:.2f}s: {detail}",
              file=sys.stderr)
        if not ok:
            self.failures.append(f"{name}: {detail}")
        if timed:
            self.records.append(rec)
        return t1 - t0

    def run_pass(self, timed: bool) -> float:
        if timed:
            # level both heaps outside the pass, so no pass pays for the
            # garbage of the one before it
            gc.collect()
            self.spark._jvm.System.gc()
            self.status.drain()
            j0, s0 = self.status.newest_job(), steal_s()
        t0 = time.perf_counter()
        lat = [(name, self.run_op(name, fn, timed))
               for name, fn in self.workload.pass_ops()]
        wall = time.perf_counter() - t0
        if not timed:
            print("# warm pass: " + ", ".join(f"{n} {s:.2f}s" for n, s in lat),
                  file=sys.stderr)
            return wall
        s1 = steal_s()
        self.status.drain()
        j1 = self.status.newest_job()
        # ids only grow and only this workload runs jobs: the pass ran
        # exactly the jobs j0+1..j1 (the traced run attributes each one)
        rec = {"wall": wall, "steal": s1 - s0, "jobs": j1 - j0,
               "shuffle_bytes": self.status.shuffle_write_bytes(j0 + 1, j1)}
        self.passes.append(rec)
        print("# timed pass: " + ", ".join(f"{k} {v:.2f}" for k, v in rec.items()),
              file=sys.stderr)
        return wall


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    from advanced_strapi_import_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter() - T_START
    workload = make_workload(args.workload, spark, args.work, args.seed)
    runner = Runner(spark, workload)
    failed_setup = False
    try:
        workload.prepare()
        warm = [runner.run_pass(timed=False)
                for _ in range(workload.warm_passes)]
    except Exception:
        traceback.print_exc(file=sys.stderr)
        failed_setup = True
    if failed_setup or runner.failures:
        spark.stop()
        print("# set-up or warm-up ops failed: " + "; ".join(runner.failures),
              file=sys.stderr)
        return 1
    setup_s = time.perf_counter() - T_START
    print(f"# session {t_session:.2f}s, set-up {setup_s:.2f}s, "
          f"warm-up passes {[round(w, 2) for w in warm]}", file=sys.stderr)

    tracer = None
    if args.trace:
        tracer = Tracer(spark)
        tracer.install()
        runner.tracer = tracer

    t_timed = time.perf_counter()
    while True:
        runner.run_pass(timed=True)
        elapsed = time.perf_counter() - t_timed
        if elapsed + 0.5 * quantile([p["wall"] for p in runner.passes], 0.5) > args.seconds:
            break
    pids = [os.getpid()]
    proc = getattr(getattr(spark.sparkContext, "_gateway", None), "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    rss = peak_rss_mib(pids)

    def per_pass(key: str) -> float:
        return quantile([p[key] for p in runner.passes], 0.5)

    lat = [r["s"] for r in runner.records]
    by_op: dict[str, list[float]] = {}
    for r in runner.records:
        by_op.setdefault(r["op"], []).append(r["s"])
    op_p50 = {op: quantile(xs, 0.5) for op, xs in by_op.items()}
    # every figure, gated or not; run.* are the per-pass medians
    figures = {
        "setup_s": setup_s, "jobs": per_pass("jobs"),
        "shuffle_bytes": per_pass("shuffle_bytes"),
        "run.wall_s": per_pass("wall"), "run.op_s_p50": quantile(lat, 0.5),
        "run.op_s_p75": quantile(lat, 0.75), "driver.peak_rss_mb": rss,
    }
    print(f"# {len(runner.passes)} timed passes, {len(lat)} ops", file=sys.stderr)
    if warm:
        print(f"# the first timed pass took {runner.passes[0]['wall'] / warm[-1]:.2f} x "
              "the last warm-up pass", file=sys.stderr)
    for op, xs in by_op.items():
        print(f"#   {op}: p50 {op_p50[op]:.3f}s over {len(xs)}", file=sys.stderr)
    for k, v in figures.items():
        print(f"# {k} = {v:.4f}", file=sys.stderr)
    workload.report(runner.records)

    failures = list(runner.failures)
    if tracer is not None:
        tmp = os.environ.get("TMPDIR", "")
        scratch = len(os.listdir(tmp)) if tmp and os.path.isdir(tmp) else 0
        layers = layer_metrics([r["trace"] for r in runner.records], tracer.overhead,
                               scratch, len(runner.passes))
        layers.update((k, v) for k, v in figures.items() if "." in k)
        failures += tracer.failures
        negative = [k for k, u in PER_LAYER if u in ("count", "bytes") and layers[k] < 0]
        if negative:
            failures.append("negative per-layer count: " + ", ".join(negative))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
        for k, u in PER_LAYER:
            print(f"# {k} = {layers[k]:.6g} {u}", file=sys.stderr)
        print(f"# traced run.wall_s {figures['run.wall_s']:.4f}s, tracing bookkeeping "
              f"{tracer.overhead:.3f}s over {tracer.ops_traced} ops; "
              f"self-test {'passed' if not tracer.failures else 'FAILED'}",
              file=sys.stderr)
        for f in tracer.failures[:20]:
            print(f"#   self-test: {f}", file=sys.stderr)
        # the per-op records, kept in memory until now, outlive the run's
        # work directory
        out = os.path.join(os.path.dirname(args.work),
                           f"trace-{args.workload}-seed{args.seed}.json")
        with open(out, "w", encoding="utf-8") as fh:
            json.dump({"passes": runner.passes, "ops": runner.records,
                       "layers": layers, "failures": failures}, fh, indent=1)
        print(f"# per-op trace records: {out}", file=sys.stderr)
    else:
        metrics = {k: {"value": figures[k], "unit": u} for k, u in END_TO_END}
    spark.stop()
    n_failed = sum(1 for r in runner.records if not r["ok"])
    result = {"correct": not failures, "attempted": len(runner.records),
              "failed": n_failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
