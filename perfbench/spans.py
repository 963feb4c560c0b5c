"""Traced mode: spans around each call into a layer, plus per-layer counters
read from Spark's own status stores.

Everything here runs from outside the engine. Each op gets a root span and
a job group named after it; construction, the Catalyst phases (forced with
``executedPlan()`` before the action) and the action are its child spans,
and every Spark job of the group becomes a span under the construction or
the action, from the application status store's submission and completion
times. Stage metrics come from ``statusStore().lastStageAttempt``, Python
worker metrics from the SQL status store's plan graphs, streaming trigger
phases from a ``StreamingQueryListener``. Spans stay in memory until
``write``.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
STREAM_PHASES = ["addBatch", "walCommit", "queryPlanning", "commitOffsets"]
_MB = 1024 * 1024
_UNITS = {"B": 1, "KiB": 1024, "MiB": _MB, "GiB": 1024 * _MB, "TiB": 1024**4,
          "ms": 1, "s": 1000, "m": 60_000, "min": 60_000, "h": 3_600_000,
          "ns": 1e-6}

LAYER_METRICS = {
    # name: unit
    "session.import_s": "s",
    "session.start_s": "s",
    "registry.construct_ms": "ms",
    "registry.construct_jobs": "count",
    "registry.conf_changes": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "python.eval_nodes": "count",
    "python.rows_received": "count",
    "python.bytes_sent": "MB",
    "python.bytes_received": "MB",
    "python.stage_run_ms": "ms",
    "python.worker_run_ms": "ms",
    "sources.persisted_rdds": "count",
    "sources.cached_mb": "MB",
    "sources.output_mb": "MB",
    "sources.write_ms": "ms",
    "streaming.triggers": "count",
    "streaming.trigger_ms": "ms",
    **{f"streaming.{p}_ms": "ms" for p in STREAM_PHASES},
    "result.fetch_ms": "ms",
    "result.rows": "count",
    "trace.bookkeeping_ms": "ms",
    "trace.unaccounted_pct": "%",
}

# Spark's SQL metrics on Python-evaluation plan nodes.
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "number of output rows": "python.rows_received",
    "time to run Python workers": "python.worker_run_ms",
}

# Metrics that are a level at the end of the window, not a per-pass sum.
LEVELS = {"session.import_s", "session.start_s", "sources.persisted_rdds",
          "sources.cached_mb", "trace.unaccounted_pct"}


def module_metric_names(modules: list[str]) -> dict[str, str]:
    return {f"{m}.{k}": "ms" for m in modules for k in ("construct_ms", "action_ms")}


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _epoch(date_option, default: float) -> float:
    """Seconds since the epoch of a Scala ``Option[java.util.Date]``."""
    return date_option.get().getTime() / 1000 if date_option.isDefined() else default


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``"28,572"``, or the total line of
    ``"total (min, med, max ...)\\n1.2 MiB (...)"``; sizes in bytes, times in ms."""
    lines = text.strip().splitlines()
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    tokens = line.replace(",", "").split()
    value = float(tokens[0])
    if len(tokens) > 1 and tokens[1] in _UNITS:
        value *= _UNITS[tokens[1]]
    return value


class _StreamProgress(StreamingQueryListener):
    def __init__(self):
        self.events: list[tuple[float, dict]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        started = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self.events.append((started, dict(p.durationMs)))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    def __init__(self, spark, session_import_s: float, session_start_s: float):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._tracker = self.sc._jsc.sc().statusTracker()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stream = _StreamProgress()
        spark.streams.addListener(self._stream)
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self.session = {"session.import_s": session_import_s,
                        "session.start_s": session_start_s}
        self._seen_stages: set[int] = set()
        self._exec_offset = 0  # SQL executions before this index are examined
        self._conf_text, self._conf_dict = "", {}
        self._seq = 0

    # -- one op ---------------------------------------------------------------

    def run_op(self, name: str, module: str, construct, action):
        """Run ``action(construct())`` under spans; returns (wall_s, result).

        Raises what the op raises, after recording its spans."""
        self._seq += 1
        root = f"{self._seq}:{name}"
        conf_before = self._conf()
        w0 = time.time()
        r0 = time.perf_counter()
        self.sc.setJobGroup(root, name)
        marks = [time.perf_counter()]
        result = error = None
        try:
            df = construct()
            marks.append(time.perf_counter())
            df._jdf.queryExecution().executedPlan()
            marks.append(time.perf_counter())
            result = action(df)
            marks.append(time.perf_counter())
        except Exception as exc:  # recorded, then re-raised
            marks.append(time.perf_counter())
            error = exc
        b0 = time.perf_counter()
        self._record(root, name, module, w0, r0, marks, result, conf_before,
                     df if len(marks) > 2 else None, error)
        self.records[-1]["trace.bookkeeping_ms"] = (time.perf_counter() - b0) * 1000
        if error is not None:
            raise error
        return marks[-1] - r0, result

    def _record(self, root, name, module, w0, r0, marks, result, conf_before, df, error):
        t0 = marks[0]
        wall = lambda t: w0 + (t - r0)  # noqa: E731
        rec: dict = defaultdict(float)
        rec["op"] = name
        rec["module"] = module
        self._span(root, None, name, w0, wall(marks[-1]), error=repr(error) if error else None)
        children = ["construct", "catalyst", "action"]
        for i in range(len(marks) - 1):
            self._span(f"{root}/{children[i]}", root, children[i], wall(marks[i]), wall(marks[i + 1]))
        construct_end = wall(marks[1])
        rec["registry.construct_ms"] = (marks[1] - t0) * 1000
        rec[f"{module}.construct_ms"] = rec["registry.construct_ms"]
        if len(marks) > 3:
            rec[f"{module}.action_ms"] = (marks[3] - marks[2]) * 1000
        accounted = sum(marks[i + 1] - marks[i] for i in range(len(marks) - 1))
        rec["wall_ms"] = (marks[-1] - r0) * 1000
        rec["unaccounted_pct"] = abs(rec["wall_ms"] - accounted * 1000) / max(rec["wall_ms"], 1e-9) * 100

        conf_after = self._conf()
        rec["registry.conf_changes"] = sum(
            conf_before.get(k) != conf_after.get(k) for k in conf_before.keys() | conf_after.keys())

        if df is not None:
            # a memoized frame carries the phases of the op that first planned it
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                summary = phases.get(phase)
                if summary.isDefined() and summary.get().startTimeMs() >= w0 * 1000 - 1:
                    rec[f"catalyst.{phase}_ms"] = summary.get().durationMs()

        jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(root))
        self._python(set(jobs), rec)
        ran_python = rec["python.eval_nodes"] > 0
        last_done = 0.0
        for job_id in jobs:
            jd = self._job(job_id)
            if jd is None:
                continue
            submitted = _epoch(jd.submissionTime(), w0)
            done = _epoch(jd.completionTime(), wall(marks[-1]))
            last_done = max(last_done, done)
            parent = f"{root}/construct" if submitted < construct_end else f"{root}/action"
            rec["exec.jobs"] += 1
            if submitted < construct_end:
                rec["registry.construct_jobs"] += 1
            wrote = False
            for sid in _seq(jd.stageIds()):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                wrote |= self._stage(sid, rec, ran_python)
            if wrote:
                rec["sources.write_ms"] += (done - submitted) * 1000
            self._span(f"{root}/job{job_id}", parent, f"job {job_id}", submitted, done)

        if hasattr(result, "shape"):  # a fetched frame, not a written path
            rec["result.rows"] = len(result)
            if last_done:
                rec["result.fetch_ms"] = max(0.0, wall(marks[-1]) - last_done) * 1000
        self.records.append(rec)

    def _job(self, job_id: int, timeout_s: float = 2.0):
        """Job data once the status store has recorded the job's end (the
        listener bus is asynchronous); None if it never does."""
        deadline = time.perf_counter() + timeout_s
        while True:
            info = self._tracker.getJobInfo(job_id)
            if info.isDefined() and info.get().status().name() != "RUNNING":
                return self._store.job(job_id)
            if time.perf_counter() > deadline:
                return None
            time.sleep(0.005)

    def _stage(self, sid: int, rec, ran_python: bool) -> bool:
        sd = self._store.lastStageAttempt(sid)
        if sd.status().name() == "SKIPPED":
            return False
        rec["exec.stages"] += 1
        rec["exec.tasks"] += sd.numCompleteTasks()
        rec["exec.run_ms"] += sd.executorRunTime()
        rec["exec.cpu_ms"] += sd.executorCpuTime() / 1e6
        rec["exec.gc_ms"] += sd.jvmGcTime()
        rec["exec.input_mb"] += sd.inputBytes() / _MB
        rec["exec.shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
        rec["exec.shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
        rec["exec.spill_mb"] += sd.diskBytesSpilled() / _MB
        rec["sources.output_mb"] += sd.outputBytes() / _MB
        if ran_python and self._stage_runs_python(sid):
            rec["python.stage_run_ms"] += sd.executorRunTime()
        return sd.outputBytes() > 0

    def _stage_runs_python(self, sid: int) -> bool:
        try:
            todo = [self._store.operationGraphForStage(sid).rootCluster()]
        except Exception:  # py4j error: no graph recorded for the stage
            return False
        while todo:
            cluster = todo.pop()
            if PYTHON_NODE.search(cluster.name()):
                return True
            todo += _seq(cluster.childClusters())
        return False

    def _python(self, jobs: set[int], rec) -> None:
        """Python-worker metrics of the SQL executions that ran the jobs.

        Only executions listed after the last fully examined one are read:
        ops run one after another, so a completed execution that ran none
        of this op's jobs belongs to no later op either."""
        count = self._sql.executionsCount()
        executions = _seq(self._sql.executionsList(self._exec_offset, count - self._exec_offset))
        settled = True
        for ex in executions:
            eid = ex.executionId()
            if not {int(j) for j in _seq(ex.jobs().keys())} & jobs:
                settled = settled and ex.completionTime().isDefined()
                self._exec_offset += settled
                continue
            deadline = time.perf_counter() + 2.0
            while not ex.completionTime().isDefined() and time.perf_counter() < deadline:
                time.sleep(0.005)
                ex = self._sql.execution(eid).get()
            self._exec_offset += settled
            if not PYTHON_NODE.search(ex.physicalPlanDescription()):
                continue  # one string instead of a py4j call per plan node
            values = {int(kv._1()): kv._2() for kv in _seq(self._sql.executionMetrics(eid))}
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                if not PYTHON_NODE.search(node.name()):
                    continue
                rec["python.eval_nodes"] += 1
                for m in _seq(node.metrics()):
                    text = values.get(int(m.accumulatorId()))
                    if text is None:
                        continue
                    key = PYTHON_METRICS.get(m.name())
                    if key:
                        v = parse_metric(text)
                        rec[key] += v / _MB if key.startswith("python.bytes") else v

    def _conf(self) -> dict[str, str]:
        """The session conf. Reading it key by key costs ~100 ms of py4j
        calls, so it is re-read only when its one-string form changed."""
        text = self.spark._jsparkSession.sessionState().conf().getAllConfs().toString()
        if text != self._conf_text:
            self._conf_text, self._conf_dict = text, dict(self.spark.conf.getAll)
        return self._conf_dict

    def _span(self, sid, parent, name, start, end, **attrs) -> None:
        self.spans.append({"span": sid, "parent": parent, "name": name,
                           "start": start, "end": end,
                           **{k: v for k, v in attrs.items() if v is not None}})

    # -- aggregation ----------------------------------------------------------

    def layer_metrics(self, records: list[dict], passes: float, window: tuple[float, float],
                      modules: list[str]) -> dict[str, float]:
        """Per-pass sums of the records' counters (levels as read at the end)."""
        out = {name: 0.0 for name in {**LAYER_METRICS, **module_metric_names(modules)}}
        for rec in records:
            for key, value in rec.items():
                if key in out and key not in LEVELS:
                    out[key] += value / passes
        out.update(self.session)
        out["sources.persisted_rdds"] = self.sc._jsc.getPersistentRDDs().size()
        out["sources.cached_mb"] = sum(
            (r.memSize() + r.diskSize()) for r in self.sc._jsc.sc().getRDDStorageInfo()) / _MB
        out["trace.unaccounted_pct"] = max((r["unaccounted_pct"] for r in records), default=0.0)
        time.sleep(0.2)  # let the last progress events arrive
        for started, durations in list(self._stream.events):
            if window[0] <= started <= window[1]:
                out["streaming.triggers"] += 1 / passes
                out["streaming.trigger_ms"] += durations.get("triggerExecution", 0) / passes
                for phase in STREAM_PHASES:
                    out[f"streaming.{phase}_ms"] += durations.get(phase, 0) / passes
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")
