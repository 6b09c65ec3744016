"""Traced runs: layer spans and per-op Spark metrics.

Spans wrap the public functions listed in :data:`LAYERS`, replacing each
function under every name an engine module looks it up by. A span sets
the Spark job group to ``<op id>/<span id>`` and restores the enclosing
group on exit, so every job names the span (and through the span table,
the layer and op) that started it. Micro-batch jobs run under the
stream's runId instead; a streaming listener records which op started
each stream.

After each op the tracer drains the listener bus and reads, from the
status store, every job submitted during the op. It attributes each job
by its group. A job the op cannot claim, or a job id missing from the
store, is a self-test failure reported in the run's result.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# layer -> (module, attribute) pairs. "Engine.<verb>" names a method.
LAYERS = {
    "api": [("advanced_strapi_import_spark.api", "Engine.validate_csv"),
            ("advanced_strapi_import_spark.api", "Engine.import_csv"),
            ("advanced_strapi_import_spark.api", "Engine.export_csv")],
    "api.write": [("advanced_strapi_import_spark.api", "Engine.write_table")],
    "sources": [("advanced_strapi_import_spark.sources.csv_source", "csv_scan"),
                ("advanced_strapi_import_spark.sources.zip_source", "zip_entries"),
                ("advanced_strapi_import_spark.sources.zip_source", "media_files"),
                ("advanced_strapi_import_spark.plans.registry", "load")],
    "validate": [("advanced_strapi_import_spark.operators.validate", "validate_df")],
    "resolve": [("advanced_strapi_import_spark.operators.resolve",
                 "resolve_all_relations")],
    "components": [("advanced_strapi_import_spark.operators.components", n)
                   for n in ("build_single_component", "build_repeatable_component")],
    "media": [("advanced_strapi_import_spark.operators.media", "match_media")],
    "upsert": [("advanced_strapi_import_spark.operators.upsert", "merge")],
    "export": [("advanced_strapi_import_spark.operators.export", n)
               for n in ("flatten_scalar_relation", "flatten_multi_relation",
                         "flatten_single_component", "flatten_repeatable_component",
                         "drop_metadata")],
    "export.write": [("advanced_strapi_import_spark.operators.export", "write_csv")],
    "caching": [("advanced_strapi_import_spark.caching", "checkpoint_tracked"),
                ("advanced_strapi_import_spark.caching", "persist_tracked")],
    "streaming": [("advanced_strapi_import_spark.streaming.ingest",
                   "run_available_now")],
}
# layers whose functions build lazy plans: span time less child spans is
# driver build time
BUILD_LAYERS = ("validate", "resolve", "components", "media", "upsert", "export")

PER_LAYER = [
    ("api.self_s", "s"), ("api.write_s", "s"),
    ("sources.scan_s", "s"), ("sources.scans", "count"),
    ("validate.build_s", "s"), ("resolve.build_s", "s"), ("resolve.jobs", "count"),
    ("components.build_s", "s"), ("media.build_s", "s"),
    ("upsert.build_s", "s"), ("upsert.jobs", "count"),
    ("export.build_s", "s"), ("export.write_s", "s"),
    ("plans.fn_s", "s"), ("plans.fn_jobs", "count"), ("plans.build_s", "s"),
    ("caching.fills", "count"), ("caching.fill_s", "s"), ("caching.live_frames", "count"),
    ("streaming.drains", "count"), ("streaming.drain_s", "s"),
    ("streaming.batches", "count"), ("streaming.batch_jobs", "count"),
    ("streaming.scratch_dirs", "count"),
    ("spark.plan_s", "s"), ("spark.exec_s", "s"), ("spark.idle_s", "s"),
    ("spark.actions", "count"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("python.run_s", "s"), ("python.boot_s", "s"), ("python.sent_bytes", "bytes"),
    ("trace.overhead_s", "s"), ("trace.unattributed_jobs", "count"),
    ("driver.peak_rss_mb", "MiB"),
    ("run.wall_s", "s"), ("run.op_s_p50", "s"), ("run.op_s_p75", "s"),
]

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9, "us": 1e-6}
# Python-worker SQL metrics of the Arrow/pandas exec nodes
_PY_METRICS = {"time to start Python workers": "python.boot_s",
               "time to initialize Python workers": "python.boot_s",
               "time to run Python workers": "python.run_s",
               "data sent to Python workers": "python.sent_bytes"}


def _metric_value(text: str) -> float:
    """'total (min, med, max ...)\\n3.9 s (...)' or '532.0 B' -> number."""
    last = text.strip().split("\n")[-1].strip()
    parts = last.replace(",", "").split(" ")
    try:
        num = float(parts[0])
    except ValueError:
        return 0.0
    return num * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else num


class StatusStore:
    """JSON reads of Spark's status store: jobs, stages, SQL executions."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self.jsc = spark.sparkContext._jsc.sc()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def newest_job(self) -> int:
        """Id of the newest job (ids only grow); -1 before the first."""
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def job(self, jid: int) -> dict:
        return self._json(self.store.job(jid))

    def stage_attempts(self, sid: int) -> list[dict]:
        """Attempts of stage ``sid`` that ran tasks (skipped stages ran none)."""
        return [st for st in self._json(self.store.stageData(
                    int(sid), False, None, False, self.no_quantiles))
                if st.get("numCompleteTasks") or st.get("numFailedTasks")]

    def newest_execution(self) -> int:
        n = self.sql_store.executionsCount()
        if not n:
            return -1
        return self.sql_store.executionsList(int(n - 1), 1).apply(0).executionId()

    def executions_after(self, last: int) -> list[dict]:
        """SQL executions with an id above ``last``, without plan text."""
        n = int(self.sql_store.executionsCount())
        k = 8
        while True:
            page = self.sql_store.executionsList(max(0, n - k), k)
            ids = [page.apply(i).executionId() for i in range(page.size())]
            if not ids or min(ids) <= last or k >= n:
                break
            k *= 2
        out = []
        for i in range(page.size()):
            ex = page.apply(i)
            if ex.executionId() > last:
                d = self._json(ex)
                d.pop("physicalPlanDescription", None)
                out.append(d)
        return out

    def shuffle_write_bytes(self, first_job: int, last_job: int) -> float:
        """Shuffle bytes written by the stages of jobs ``first_job..last_job``."""
        stages = set()
        for jid in range(first_job, last_job + 1):
            stages.update(self.job(jid).get("stageIds") or [])
        return float(sum(st["shuffleWriteBytes"] for sid in stages
                         for st in self.stage_attempts(sid)))


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = StatusStore(spark)
        self.spans: list[list] = []   # [layer, parent, t0, t1] per span id
        self.stack: list[int] = []
        self.op_id = None
        self.last_op = None
        self.new_runs: list[str] = []
        self.stream_op: dict[str, str] = {}
        self.batches: list[dict] = []
        self.overhead = 0.0
        self.last_job = self.store.newest_job()
        self.last_exec = self.store.newest_execution()
        self.failures: list[str] = []
        self.ops_traced = 0

    # -- installation --------------------------------------------------
    def install(self) -> None:
        for layer, targets in LAYERS.items():
            for module, attr in targets:
                self._patch(layer, module, attr)
        self._add_stream_listener()

    def _patch(self, layer: str, module: str, attr: str) -> None:
        __import__(module)
        mod = sys.modules[module]
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, self.wrap(layer, getattr(cls, meth)))
            return
        orig = getattr(mod, attr)
        wrapped = self.wrap(layer, orig)
        for name, m in list(sys.modules.items()):
            if not name.startswith("advanced_strapi_import_spark") or m is None:
                continue
            for key, val in list(vars(m).items()):
                if val is orig:
                    setattr(m, key, wrapped)

    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def span(*args, **kwargs):
            if tracer.op_id is None:
                return fn(*args, **kwargs)
            sid = tracer.enter(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.exit(sid)

        return span

    def _add_stream_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                # delivered on the listener bus, possibly after the op
                # returned: collect_op assigns it once the bus is drained
                tracer.new_runs.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                tracer.batches.append({
                    "run": str(p.runId),
                    "ms": (p.durationMs or {}).get("triggerExecution", 0)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Listener())

    # -- spans ---------------------------------------------------------
    def enter(self, layer: str) -> int:
        sid = len(self.spans)
        self.spans.append([layer, self.stack[-1] if self.stack else None,
                           time.perf_counter(), None])
        self.stack.append(sid)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{self.op_id}/{sid}")
        return sid

    def exit(self, sid: int) -> None:
        self.spans[sid][3] = time.perf_counter()
        self.stack.pop()
        parent = self.stack[-1] if self.stack else None
        self.sc.setLocalProperty(
            "spark.jobGroup.id", f"{self.op_id}/{parent}" if parent is not None
            else f"{self.op_id}/op")

    def begin_op(self, op_id: str) -> None:
        self.op_id = op_id
        self.spans, self.stack = [], []
        self.sc.setLocalProperty("spark.jobGroup.id", f"{op_id}/op")

    def end_op(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.last_op, self.op_id = self.op_id, None

    # -- per-op reads -----------------------------------------------------
    def collect_op(self, t0: float, t1: float, live_frames: int) -> dict:
        """Per-op metrics; also checks the op's job attribution."""
        c0 = time.perf_counter()
        self.store.drain()
        m: dict[str, float] = defaultdict(float)
        op = self.last_op
        for run in self.new_runs:
            self.stream_op[run] = op
        self.new_runs = []
        spans = self.spans
        top = self.store.newest_job()
        jobs = []
        for jid in range(self.last_job + 1, top + 1):
            try:
                jobs.append(self.store.job(jid))
            except Py4JJavaError:  # evicted, or never recorded
                self.failures.append(f"{op}: job {jid} missing from the status store")
        self.last_job = max(self.last_job, top)

        def chain(sid):
            while sid is not None:
                yield spans[sid][0]
                sid = spans[sid][1]

        stage_ids = set()
        intervals, plans_intervals = [], []
        for j in jobs:
            group = j.get("jobGroup") or ""
            owner, _, sid = group.partition("/")
            if owner == op and sid == "op":
                layers = []
            elif owner == op and sid.isdigit() and int(sid) < len(spans):
                layers = list(chain(int(sid)))
            elif self.stream_op.get(group) == op:
                layers = ["stream_batch"]
            else:
                self.failures.append(f"{op}: job {j['jobId']} has group {group!r}")
                m["trace.unattributed_jobs"] += 1
                continue
            m["spark.jobs"] += 1
            for layer in set(layers):
                m[f"jobs.{layer}"] += 1
            if "stream_batch" in layers:
                m["streaming.batch_jobs"] += 1
            stage_ids.update(j.get("stageIds") or [])
            if j.get("submissionTime") and j.get("completionTime"):
                iv = (j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
                intervals.append(iv)
                if "plans" in layers:
                    plans_intervals.append(iv)
        for sid in stage_ids:
            for st in self.store.stage_attempts(sid):
                m["spark.stages"] += 1
                m["spark.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                m["spark.task_run_s"] += st["executorRunTime"] / 1e3
                m["spark.task_cpu_s"] += st["executorCpuTime"] / 1e9
                m["spark.gc_s"] += st["jvmGcTime"] / 1e3
                m["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                m["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
                m["spark.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                m["spark.input_bytes"] += st["inputBytes"]
        covered = _union(intervals)
        m["spark.exec_s"] = covered
        m["plans.job_s"] = _union(plans_intervals)
        m["spark.idle_s"] = max(0.0, (t1 - t0) - covered)
        first_job = {}
        for j in jobs:
            if j.get("submissionTime"):
                first_job[j["jobId"]] = j["submissionTime"]
        execs = self.store.executions_after(self.last_exec)
        if execs:
            self.last_exec = max(self.last_exec, max(e["executionId"] for e in execs))
        for e in execs:
            if e.get("rootExecutionId", e["executionId"]) == e["executionId"]:
                m["spark.actions"] += 1
            starts = [first_job[int(k)] for k in (e.get("jobs") or {}) if int(k) in first_job]
            if starts and e.get("submissionTime"):
                m["spark.plan_s"] += max(0.0, (min(starts) - e["submissionTime"]) / 1e3)
            names = {x["accumulatorId"]: x["name"] for x in e.get("metrics") or []}
            for acc, text in (e.get("metricValues") or {}).items():
                name = names.get(int(acc), "")
                if name in _PY_METRICS:
                    m[_PY_METRICS[name]] += _metric_value(text)
        # layer times from the span table
        for layer, parent, a, b in spans:
            if parent is not None and spans[parent][0] == layer:
                continue  # inside a span of its own layer, which covers it
            dur = (b or t1) - a
            m[f"span.{layer}"] += dur
            m[f"calls.{layer}"] += 1
            if parent is not None:
                m[f"child.{spans[parent][0]}"] += dur
        for run in {b["run"] for b in self.batches}:
            if self.stream_op.get(run) == op:
                for b in self.batches:
                    if b["run"] == run:
                        m["streaming.batches"] += 1
                        m["streaming.drain_s"] += b["ms"] / 1e3
        self.batches = [b for b in self.batches if self.stream_op.get(b["run"]) != op]
        m["streaming.drains"] += sum(1 for r, o in self.stream_op.items() if o == op)
        m["caching.live_frames"] += live_frames
        self.ops_traced += 1
        self.overhead += time.perf_counter() - c0
        return dict(m)


def _union(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    covered, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            covered += b - a
            end = b
        elif b > end:
            covered += b - end
            end = b
    return covered


def layer_metrics(per_op: list[dict], overhead_s: float, scratch_dirs: int,
                  passes: int) -> dict:
    """Fold per-op records into the per-layer metrics, as totals per pass."""
    t: dict[str, float] = defaultdict(float)
    for rec in per_op:
        for k, v in rec.items():
            t[k] += v
    out = {
        "api.self_s": t["span.api"] - t["child.api"],
        "api.write_s": t["span.api.write"],
        "sources.scan_s": t["span.sources"],
        "sources.scans": t["calls.sources"],
        "resolve.jobs": t["jobs.resolve"],
        "upsert.jobs": t["jobs.upsert"],
        "export.write_s": t["span.export.write"],
        "plans.fn_s": t["span.plans"],
        "plans.fn_jobs": t["jobs.plans"],
        "plans.build_s": max(0.0, t["span.plans"] - t["plans.job_s"]),
        "caching.fills": t["calls.caching"],
        "caching.fill_s": t["span.caching"],
        "caching.live_frames": t["caching.live_frames"],
        "streaming.drains": t["streaming.drains"],
        "streaming.drain_s": t["streaming.drain_s"],
        "streaming.batches": t["streaming.batches"],
        "streaming.batch_jobs": t["streaming.batch_jobs"],
        "trace.unattributed_jobs": t["trace.unattributed_jobs"],
    }
    for layer in BUILD_LAYERS:
        out[f"{layer}.build_s"] = t[f"span.{layer}"] - t[f"child.{layer}"]
    for key in ("spark.plan_s", "spark.exec_s", "spark.idle_s", "spark.actions",
                "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
                "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
                "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.input_bytes",
                "python.run_s", "python.boot_s", "python.sent_bytes"):
        out[key] = t[key]
    per_pass = {k: v / passes for k, v in out.items()}
    per_pass["trace.overhead_s"] = overhead_s / passes
    # counted once per run: scratch directories still on disk at the end
    per_pass["streaming.scratch_dirs"] = scratch_dirs
    return per_pass
