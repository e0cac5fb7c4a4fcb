"""The traced run (``--trace 1``): spans, event-log parsing, per-layer
summary.

Spans come from two places and share a request id:

- the benchmark's own clock around each request and its ``build`` (the
  library call that returns a DataFrame) and ``execute`` (the noop write)
  phases, kept in memory;
- the Spark event log, read after the session stops: every job carries
  the request id as its job group and the phase as a local property, so
  jobs, their stages and their tasks fold under the request and phase
  that ran them.

Catalyst phase times come from the write's QueryExecution (its
``tracker()``), handed over by a QueryExecutionListener implemented in
Python through the py4j callback server.

Everything is summarised per request kind and as means per request over
the whole traced run; the spans are written as JSON lines when the run
ends.
"""

from __future__ import annotations

import bisect
import contextlib
import glob
import json
import os
import statistics
import threading
import time

PY_METRICS = {
    "pyworker.run_s": "time to run Python workers",
    "pyworker.boot_s": "time to start Python workers",
    "pyworker.bytes_sent": "data sent to Python workers",
    "pyworker.bytes_received": "data returned from Python workers",
}
# Per-layer metrics and their units: means per request over the traced
# run, except the run-level stream, store, cache, write, memory and trace
# figures.
LAYER_METRICS = {
    "request.s": "s", "build.s": "s", "build.jobs": "count", "build.share": "ratio",
    "exec.s": "s", "request.remainder_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_gap_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "spill.disk_bytes": "B",
    "pyworker.run_s": "s", "pyworker.boot_s": "s",
    "pyworker.bytes_sent": "B", "pyworker.bytes_received": "B",
    "scan.files": "count", "scan.bytes": "B", "scan.rows_per_result_row": "ratio",
    "store.write_bytes": "B", "store.write_files": "count", "store.files_after": "count",
    "stream.batch_s": "s", "cache.persisted_bytes": "B",
    "write.p50_s": "s", "store.amplification": "ratio", "trace.pass_s": "s",
    "mem.peak_rss_mb": "MB",
}
PHASES = ("analysis", "optimization", "planning")


class _NullSpan:
    @contextlib.contextmanager
    def phase(self, name):
        yield

    def note_result(self, out):
        pass

    def end(self, failed: bool = False):
        pass


def phase_ms(qe) -> dict:
    """Catalyst phase durations (ms) recorded by a QueryExecution."""
    tracked = qe.tracker().phases()
    out = {}
    for p in PHASES:
        opt = tracked.get(p)
        if opt.isDefined():
            out[p] = float(opt.get().durationMs())
    return out


class _QEListener:
    """Receives each finished QueryExecution and keeps its phase times."""

    def __init__(self):
        self.lock = threading.Lock()
        self.events: list[tuple[str, dict]] = []

    def onSuccess(self, func_name, qe, duration_ns):
        with self.lock:
            self.events.append((str(func_name), phase_ms(qe)))

    def onFailure(self, func_name, qe, exception):
        with self.lock:
            self.events.append((str(func_name), {}))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _Span:
    def __init__(self, tracer: "Tracer", rid: str, kind: str, op: str):
        self.t = tracer
        self.rec = {"rid": rid, "kind": kind, "op": op, "start": time.time(), "phases": {}}
        self.persisted = 0
        self.n_events = 0
        tracer.spark.sparkContext.setJobGroup(rid, kind)

    @contextlib.contextmanager
    def phase(self, name):
        sc = self.t.spark.sparkContext
        sc.setLocalProperty("perfbench.phase", name)
        with self.t.listener.lock:
            self.n_events = len(self.t.listener.events)
        t0 = time.time()
        try:
            yield
        finally:
            self.rec["phases"][name] = (t0, time.time())
            self.persisted = max(self.persisted, self.t.persisted_bytes())
            sc.setLocalProperty("perfbench.phase", None)

    def note_result(self, out):
        """What the build returned: a DataFrame (its own QueryExecution
        holds the analysis time) or a streaming append's trigger times."""
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            self.rec["analysis_ms"] = phase_ms(out._jdf.queryExecution()).get("analysis", 0.0)
        elif isinstance(out, list):
            self.rec["stream_batch_s"] = [x / 1000.0 for x in out]

    def end(self, failed: bool = False):
        self.rec["end"] = time.time()
        self.rec["failed"] = failed
        self.rec["persisted_bytes"] = self.persisted
        if "execute" in self.rec["phases"]:
            self.rec["catalyst_ms"] = self.t.wait_write_phases(self.n_events)
            self.rec["catalyst_ms"]["analysis"] = self.rec.get("analysis_ms", 0.0)
        self.t.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.t.spans.append(self.rec)


class Tracer:
    """Off: a no-op. On: spans per request plus a QueryExecution listener."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.n = 0
        self.listener = None
        if enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            gw = spark.sparkContext._gateway
            ensure_callback_server_started(gw)
            self.listener = _QEListener()
            spark._jsparkSession.listenerManager().register(self.listener)

    def request(self, kind: str, op: str):
        if not self.enabled:
            return _NullSpan()
        self.n += 1
        return _Span(self, f"r{self.n}", kind, op)

    def persisted_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def wait_write_phases(self, n_before: int, timeout: float = 5.0) -> dict:
        """Optimization and planning times of the noop write's
        QueryExecution (reported as ``overwrite``): the first such listener
        event after ``n_before``. Events arrive asynchronously, so a build-
        phase collect can still land after the write started."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.listener.lock:
                done = [p for f, p in self.listener.events[n_before:] if f == "overwrite"]
            if done:
                return dict(done[0])
            time.sleep(0.005)
        return {}

    # -- event log ------------------------------------------------------------

    def parse_event_log(self, log_dir: str) -> dict:
        """Jobs, stages and SQL metrics per request id from the event log."""
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
        jobs: dict[int, dict] = {}
        stages: dict[int, dict] = {}
        acc_names: dict[int, str] = {}
        exec_rid: dict[int, str] = {}
        exec_start: dict[int, float] = {}
        driver_acc: list[tuple[int, int, int]] = []

        def plan_metrics(info):
            for m in info.get("metrics", []):
                acc_names[int(m["accumulatorId"])] = (m["name"], m["metricType"])
            for c in info.get("children", []):
                plan_metrics(c)

        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    e = ev["Event"]
                    if e == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        rid = props.get("spark.jobGroup.id")
                        jobs[jid] = {
                            "rid": rid,
                            "phase": props.get("perfbench.phase"),
                            "start": ev["Submission Time"] / 1000.0,
                            "stages": list(ev["Stage IDs"]),
                        }
                        eid = props.get("spark.sql.execution.id")
                        if rid and eid is not None:
                            exec_rid.setdefault(int(eid), rid)
                    elif e == "SparkListenerJobEnd":
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                    elif e == "SparkListenerStageCompleted":
                        si = ev["Stage Info"]
                        st = stages.setdefault(si["Stage ID"], _zero_stage())
                        st["start"] = si.get("Submission Time", 0) / 1000.0
                        st["end"] = si.get("Completion Time", 0) / 1000.0
                        st["tasks"] += si["Number of Tasks"]
                    elif e == "SparkListenerTaskEnd":
                        st = stages.setdefault(ev["Stage ID"], _zero_stage())
                        _add_task(st, ev)
                    elif e.endswith("SparkListenerSQLExecutionStart"):
                        exec_start[int(ev["executionId"])] = ev["time"] / 1000.0
                        plan_metrics(ev["sparkPlanInfo"])
                    elif e.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                        plan_metrics(ev["sparkPlanInfo"])
                    elif e.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                        for m in ev.get("sqlPlanMetrics", []):
                            acc_names[int(m["accumulatorId"])] = (m["name"], m["metricType"])
                    elif e.endswith("SparkListenerDriverAccumUpdates"):
                        for aid, val in ev["accumUpdates"]:
                            driver_acc.append((int(ev["executionId"]), int(aid), int(val)))
        return {
            "jobs": jobs, "stages": stages, "acc_names": acc_names, "exec_rid": exec_rid,
            "exec_start": exec_start, "driver_acc": driver_acc,
        }

    def summary(self, log_dir: str, traced_pass_s: float, info: dict, spans_path: str,
                result_rows: dict, store_files_after: int) -> dict:
        """Per-layer metrics (means per request over the traced run); adds
        the per-kind table and self times to ``info``; writes the spans."""
        log = self.parse_event_log(log_dir)
        per_rid = {s["rid"]: _zero_request() for s in self.spans}
        # Jobs a request starts on other threads (a streaming query's own
        # job group) carry no request id: the closed loop runs one request
        # at a time, so the request open at submission time owns them.
        spans = sorted(self.spans, key=lambda s: s["start"])
        starts = [s["start"] for s in spans]

        def owner(rid, t):
            if rid in per_rid:
                return next(s for s in spans if s["rid"] == rid)
            i = bisect.bisect_right(starts, t) - 1
            return spans[i] if i >= 0 and t <= spans[i]["end"] else None

        for jid, job in log["jobs"].items():
            span = owner(job["rid"], job["start"])
            if span is None:
                continue
            job["rid"] = span["rid"]
            job["phase"] = job["phase"] or next(
                (ph for ph, (a, b) in span["phases"].items() if a <= job["start"] <= b), None
            )
            req = per_rid[span["rid"]]
            req["jobs"].append(jid)
            if job["phase"] == "build":
                req["build.jobs"] += 1
            for sid in job["stages"]:
                st = log["stages"].get(sid)
                if st is None:
                    continue  # skipped stage: never ran
                req["sched.stages"] += 1
                req["sched.tasks"] += st["tasks"]
                for k in _STAGE_SUMS:
                    req[k] += st[k]
                for aid, v in st["acc"].items():
                    _add_sql_metric(req, log["acc_names"].get(aid), v)
        for eid, aid, val in log["driver_acc"]:
            span = owner(log["exec_rid"].get(eid), log["exec_start"].get(eid, 0.0))
            if span is not None:
                _add_sql_metric(per_rid[span["rid"]], log["acc_names"].get(aid), val)

        rows = []
        span_out = []
        for s in self.spans:
            if s["failed"]:
                continue
            req = per_rid[s["rid"]]
            row = _request_metrics(s, req, log, result_rows.get(s["kind"], 0))
            rows.append(row)
            span_out.extend(_spans(s, req, log))
        metrics = _mean_rows(rows)
        write_lat = [r["request.s"] for r in rows if r["op"] == "write"]
        metrics["write.p50_s"] = statistics.median(write_lat) if write_lat else 0.0
        metrics["store.amplification"] = info.get("store_amplification", 0.0)
        metrics["store.files_after"] = float(store_files_after)
        batches = [b for s in self.spans if not s["failed"] for b in s.get("stream_batch_s", [])]
        metrics["stream.batch_s"] = statistics.mean(batches) if batches else 0.0
        metrics["trace.pass_s"] = traced_pass_s
        metrics["mem.peak_rss_mb"] = info["peak_rss_mb"]
        metrics["cache.persisted_bytes"] = max((r["cache.persisted_bytes"] for r in rows), default=0)
        info["per_kind"] = {
            kind: _mean_rows([r for r in rows if r["kind"] == kind])
            for kind in sorted({r["kind"] for r in rows})
        }
        info["self_s"] = _self_times(span_out, len(rows))
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            for sp in span_out:
                f.write(json.dumps(sp) + "\n")
        info["spans_file"] = spans_path
        return {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in LAYER_METRICS.items()
        }


_STAGE_SUMS = (
    "task_run_ms", "task_cpu_ns", "gc_ms", "shuffle_write", "shuffle_read", "spill_disk",
    "input_bytes", "input_records", "output_bytes", "output_records",
)


def _zero_stage() -> dict:
    return {"tasks": 0, "start": 0.0, "end": 0.0, "acc": {}, **{k: 0 for k in _STAGE_SUMS}}


def _add_task(st: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    im = m.get("Input Metrics", {})
    om = m.get("Output Metrics", {})
    st["task_run_ms"] += m.get("Executor Run Time", 0)
    st["task_cpu_ns"] += m.get("Executor CPU Time", 0)
    st["gc_ms"] += m.get("JVM GC Time", 0)
    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["spill_disk"] += m.get("Disk Bytes Spilled", 0)
    st["input_bytes"] += im.get("Bytes Read", 0)
    st["input_records"] += im.get("Records Read", 0)
    st["output_bytes"] += om.get("Bytes Written", 0)
    st["output_records"] += om.get("Records Written", 0)
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        try:
            upd = int(a.get("Update"))
        except (TypeError, ValueError):
            continue
        st["acc"][a["ID"]] = st["acc"].get(a["ID"], 0) + upd


_SQL_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}


def _add_sql_metric(req: dict, name_type, value: int) -> None:
    """Add one SQL metric update, times converted to seconds."""
    if name_type is None:
        return
    name, mtype = name_type
    req["acc"][name] = req["acc"].get(name, 0) + value * _SQL_UNIT.get(mtype, 1)


def _zero_request() -> dict:
    return {"jobs": [], "build.jobs": 0, "sched.stages": 0, "sched.tasks": 0, "acc": {},
            **{k: 0 for k in _STAGE_SUMS}}


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        a = max(a, cur)
        total += b - a
        cur = b
    return total


def _request_metrics(s: dict, req: dict, log: dict, result_rows: int) -> dict:
    lat = s["end"] - s["start"]
    build = s["phases"].get("build", (0.0, 0.0))
    execute = s["phases"].get("execute", (0.0, 0.0))
    build_s, exec_s = build[1] - build[0], execute[1] - execute[0]
    job_iv = [(j["start"], j.get("end", j["start"])) for jid in req["jobs"] for j in [log["jobs"][jid]]]
    acc = req["acc"]
    scan_rows = req["input_records"]
    row = {
        "kind": s["kind"], "op": s["op"],
        "request.s": lat, "build.s": build_s, "exec.s": exec_s,
        "request.remainder_s": lat - build_s - exec_s,
        "build.jobs": req["build.jobs"], "build.share": build_s / lat if lat else 0.0,
        "sched.jobs": len(req["jobs"]), "sched.stages": req["sched.stages"],
        "sched.tasks": req["sched.tasks"],
        "sched.driver_gap_s": lat - _covered(job_iv, s["start"], s["end"]),
        "exec.task_run_s": req["task_run_ms"] / 1e3, "exec.task_cpu_s": req["task_cpu_ns"] / 1e9,
        "exec.gc_s": req["gc_ms"] / 1e3,
        "shuffle.write_bytes": req["shuffle_write"], "shuffle.read_bytes": req["shuffle_read"],
        "spill.disk_bytes": req["spill_disk"],
        **{k: acc.get(name, 0) for k, name in PY_METRICS.items()},
        "scan.files": acc.get("number of files read", 0),
        "scan.bytes": req["input_bytes"],
        "scan.rows_per_result_row": scan_rows / max(result_rows or req["output_records"], 1),
        "store.write_bytes": req["output_bytes"],
        "store.write_files": acc.get("number of written files", 0),
        "stream.batch_s": (sum(s.get("stream_batch_s", [])) / len(s["stream_batch_s"]))
        if s.get("stream_batch_s") else 0.0,
        "cache.persisted_bytes": s["persisted_bytes"],
    }
    for p in PHASES:
        row[f"catalyst.{p}_ms"] = s.get("catalyst_ms", {}).get(p, 0.0)
    return row


def _mean_rows(rows: list[dict]) -> dict:
    if not rows:
        return {}
    keys = [k for k, v in rows[0].items() if isinstance(v, (int, float))]
    out = {k: sum(r[k] for r in rows) / len(rows) for k in keys}
    total = sum(r["request.s"] for r in rows)
    out["build.share"] = sum(r["build.s"] for r in rows) / total if total else 0.0
    out["requests"] = len(rows)
    return out


def _spans(s: dict, req: dict, log: dict) -> list[dict]:
    """request -> build/execute -> job -> stage spans of one request."""
    rid = s["rid"]
    out = [{"rid": rid, "id": rid, "parent": None, "layer": "request", "name": s["kind"],
            "start": s["start"], "end": s["end"]}]
    for ph, (a, b) in s["phases"].items():
        out.append({"rid": rid, "id": f"{rid}.{ph}", "parent": rid, "layer": ph,
                    "name": ph, "start": a, "end": b})
    for jid in req["jobs"]:
        j = log["jobs"][jid]
        parent = f"{rid}.{j['phase']}" if j["phase"] in s["phases"] else rid
        out.append({"rid": rid, "id": f"job{jid}", "parent": parent, "layer": "job",
                    "name": f"job {jid}", "start": j["start"], "end": j.get("end", j["start"])})
        for sid in j["stages"]:
            st = log["stages"].get(sid)
            if st is not None and st["end"]:
                out.append({"rid": rid, "id": f"stage{sid}", "parent": f"job{jid}",
                            "layer": "stage", "name": f"stage {sid}", "start": st["start"],
                            "end": st["end"], "tasks": st["tasks"]})
    return out


def _self_times(spans: list[dict], n_requests: int) -> dict:
    """Per layer: mean self time per request (span minus its children)."""
    children: dict[str, list] = {}
    for sp in spans:
        if sp["parent"]:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    total: dict[str, float] = {}
    for sp in spans:
        own = (sp["end"] - sp["start"]) - _covered(children.get(sp["id"], []), sp["start"], sp["end"])
        total[sp["layer"]] = total.get(sp["layer"], 0.0) + own
    return {k: v / max(n_requests, 1) for k, v in sorted(total.items())}
