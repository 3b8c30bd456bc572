"""Per-layer tracing for the traced (``--trace 1``) run.

Spans are recorded by the benchmark around each call it makes into a
layer's public function; the rest comes from Spark's own public
instruments: an uncompressed, non-rolling event log (jobs, stages,
tasks), ``QueryExecution.tracker().phases()`` (Catalyst) and a
``StreamingQueryListener`` (micro-batch ``durationMs``).  Nothing
inside the engine is patched.  With tracing off every hook is a no-op.

Attribution: each op runs under its own job group.  Jobs started from
engine-owned driver threads do not inherit the group, so a job with no
benchmark group is attributed to the op whose wall-clock window holds
its submission time (one closed-loop client: windows never overlap).
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import json
import os
import statistics
import time
from collections import defaultdict

#: Event-log configs that make the log plain JSON lines (no zstd, no
#: rolling directory) so it parses without extra packages.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

#: ``trace.reconciled_frac`` must reach this: the share of traced timed
#: ops whose independently measured parts -- Python build spans, Catalyst
#: optimization + planning (tracker), and the op's Spark jobs (event log,
#: JVM clock) -- all lie inside the op's wall and add up to no more than it.
RECONCILE_MIN = 0.95
RECONCILE_SLACK_S = 0.01
TRIGGER_SLACK_S = 0.5


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name):
        yield

    def note_df(self, df):
        pass

    def op_start(self, *a):
        pass

    def op_end(self, *a):
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark, log_dir: str):
        self.spark, self.log_dir = spark, log_dir
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.ops: dict[int, dict] = {}
        self.cur: int | None = None
        self._df = None
        self.progress: list[dict] = []
        self._listen()

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time(), self.cur))

    def note_df(self, df):
        self._df = df

    def op_start(self, op_id: int, kind: str, layer: str, phase: str):
        self.cur, self._df = op_id, None
        self.spark.sparkContext.setJobGroup(f"bench-op-{op_id}", kind)
        self.ops[op_id] = {"kind": kind, "layer": layer, "phase": phase,
                           "t0": time.time()}

    def op_end(self, op_id: int, result_rows: int | None):
        rec = self.ops[op_id]
        rec["t1"] = time.time()
        rec["rows"] = result_rows
        self.cur = None
        if self._df is not None:
            rec["catalyst_ms"] = _phases(self._df)
        self.spark.sparkContext.setJobGroup("bench-idle", "between ops")

    # -- streaming -------------------------------------------------------
    def _listen(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                sink.append({
                    "t": datetime.datetime.fromisoformat(p.timestamp).timestamp(),
                    "name": p.name, "batch": p.batchId,
                    "rows": p.numInputRows, "ms": dict(p.durationMs),
                    "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Listener())

    def settle(self, quiet_s: float = 1.0, max_s: float = 10.0) -> None:
        """Wait until no streaming progress event has arrived for
        ``quiet_s``: the listener bus delivers them asynchronously, and
        events still queued when the session stops are lost."""
        deadline = time.monotonic() + max_s
        seen = -1
        while len(self.progress) != seen and time.monotonic() < deadline:
            seen = len(self.progress)
            time.sleep(quiet_s)

    # -- event log -------------------------------------------------------
    def read_event_log(self) -> list[dict]:
        """Parse the log; call after the session stopped (log complete)."""
        files = [f for f in glob.glob(os.path.join(self.log_dir, "*"))
                 if os.path.isfile(f)]
        events = []
        for f in files:
            with open(f) as fh:
                for line in fh:
                    events.append(json.loads(line))
        return events


def _phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) from the query's tracker."""
    try:
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        it = phases.iterator()
        out = {}
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
        return out
    except Exception:  # a DataFrame without a JVM plan (e.g. pandas)
        return {}


def _sum_union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_metrics(tr: Tracer, events: list[dict], timed_passes: int,
                  timed_wall_s: float, ingest_in_b: int) -> dict[str, float]:
    """Per-layer metrics over the timed phase, per timed pass where a
    quantity is additive."""
    timed = {i: o for i, o in tr.ops.items() if o["phase"] == "timed"}
    n = max(1, timed_passes)

    # jobs -> op (by group, else by submission-time window over ALL ops)
    windows = sorted((o["t0"], o["t1"], i) for i, o in tr.ops.items() if "t1" in o)
    job_op, job_iv, stage_job = {}, {}, {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            grp = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            sub = e["Submission Time"] / 1000.0
            op = None
            if grp.startswith("bench-op-"):
                op = int(grp[len("bench-op-"):])
            else:
                for t0, t1, i in windows:
                    if t0 <= sub <= t1:
                        op = i
                        break
            job_op[jid] = op
            job_iv[jid] = [sub, sub]
            for s in e.get("Stage IDs", []):
                stage_job[s] = jid
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in job_iv:
                job_iv[e["Job ID"]][1] = e["Completion Time"] / 1000.0

    agg = defaultdict(float)
    stages = set()
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(e["Stage ID"])
        if job_op.get(jid) not in timed:
            continue
        stages.add(e["Stage ID"])
        ti, m = e["Task Info"], e.get("Task Metrics") or {}
        run = m.get("Executor Run Time", 0)
        in_b = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        kind = timed[job_op[jid]]["kind"]
        agg["tasks"] += 1
        agg["run_ms"] += run
        agg["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        agg["gc_ms"] += m.get("JVM GC Time", 0)
        agg["sched_ms"] += max(0, (ti["Finish Time"] - ti["Launch Time"]) - run
                               - m.get("Executor Deserialize Time", 0)
                               - m.get("Result Serialization Time", 0))
        agg["input_b"] += in_b
        agg[f"input_b:{kind}"] += in_b
        agg[f"output_b:{kind}"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        agg["sr_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        agg["sw_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        agg["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    jobs_by_op = defaultdict(list)
    for jid, op in job_op.items():
        if op in timed:
            jobs_by_op[op].append(jid)

    spans_by_op = defaultdict(list)
    for name, t0, t1, op in tr.spans:
        if op in timed:
            spans_by_op[op].append((name, t0, t1))

    def span_s(op, prefix):
        return sum(t1 - t0 for nm, t0, t1 in spans_by_op[op] if nm.startswith(prefix))

    def per_pass(kinds, prefix=None):
        """Op wall (or the named spans' time) of ``kinds``, per pass."""
        tot = 0.0
        for i, o in timed.items():
            if o["kind"] in kinds:
                tot += (o["t1"] - o["t0"]) if prefix is None else span_s(i, prefix)
        return tot / n

    # reconciliation and the catalyst / transfer split
    rec_ok, cat = 0, defaultdict(float)
    transfer = 0.0
    for i, o in timed.items():
        wall = o["t1"] - o["t0"]
        ph = o.get("catalyst_ms", {})
        for k in ("analysis", "optimization", "planning"):
            cat[k] += ph.get(k, 0.0)
        jobs = [tuple(job_iv[j]) for j in jobs_by_op[i]]
        builds = [(t0, t1) for nm, t0, t1 in spans_by_op[i] if nm.endswith(".build")]
        plan_s = (ph.get("optimization", 0.0) + ph.get("planning", 0.0)) / 1000.0
        inside = all(o["t0"] - RECONCILE_SLACK_S <= a and b <= o["t1"] + RECONCILE_SLACK_S
                     for a, b in jobs)
        # eager jobs (localCheckpoint) may run inside a build span: union
        if inside and _sum_union(builds + jobs) + plan_s <= wall + RECONCILE_SLACK_S:
            rec_ok += 1
        action = span_s(i, "action")
        if action:
            in_action = _sum_union([
                (max(a, o["t0"]), min(b, o["t1"])) for a, b in jobs
                if not any(x <= a and b <= y for x, y in builds)])
            transfer += max(0.0, action - in_action - plan_s)

    jobs_total = sum(len(v) for v in jobs_by_op.values())
    query_kinds = {o["kind"] for o in timed.values() if o["layer"] == "queries"}
    out = {
        "queries.build_s": per_pass(query_kinds, "queries.build"),
        "queries.build_jobs": _jobs_in_spans(tr, job_iv, "queries.build") / n,
        "catalyst.analysis_ms": cat["analysis"] / n,
        "catalyst.optimization_ms": cat["optimization"] / n,
        "catalyst.planning_ms": cat["planning"] / n,
        "exec.jobs": jobs_total / n,
        "exec.stages": len(stages) / n,
        "exec.tasks": agg["tasks"] / n,
        "exec.executor_run_ms": agg["run_ms"] / n,
        "exec.executor_cpu_ms": agg["cpu_ms"] / n,
        "exec.gc_ms": agg["gc_ms"] / n,
        "exec.scheduler_delay_ms": agg["sched_ms"] / n,
        "exec.busy_cores": (agg["run_ms"] / 1000.0) / timed_wall_s if timed_wall_s else 0.0,
        "exec.input_bytes": agg["input_b"] / n,
        "exec.shuffle_read_bytes": agg["sr_b"] / n,
        "exec.shuffle_write_bytes": agg["sw_b"] / n,
        "exec.spill_bytes": agg["spill_b"] / n,
        "transfer.s": transfer / n,
        "trace.reconciled_frac": rec_ok / max(1, len(timed)),
    }
    out["dedup.exact_s"] = per_pass({"dedup_hash"})  # the headline exact_dedup
    out["dedup.lsh_s"] = per_pass({"lsh"})
    out["dedup.jaccard_s"] = per_pass({"jaccard"})
    out["components.cc_s"] = per_pass({"cc"})
    cc_ops = [i for i, o in timed.items() if o["kind"] == "cc"]
    out["components.cc_jobs"] = sum(len(jobs_by_op[i]) for i in cc_ops) / n
    out["sinks.publish_s"] = per_pass({"publish"})
    n_lookups = sum(1 for o in timed.values() if o["kind"] in ("term", "suggest"))
    out["sinks.lookup_input_bytes"] = (
        (agg["input_b:term"] + agg["input_b:suggest"]) / n_lookups if n_lookups else 0.0)
    out["manifest.commit_s"] = per_pass({"append"})
    per_kind_jobs = defaultdict(list)
    for i, o in timed.items():
        per_kind_jobs[o["kind"]].append(len(jobs_by_op[i]))
    out["_jobs_per_op"] = {k: statistics.median(v) for k, v in sorted(per_kind_jobs.items())}
    out["sinks.upsert_bytes_per_input_byte"] = (
        agg["output_b:ingest"] / ingest_in_b if ingest_in_b else 0.0)
    out.update(stream_metrics(tr, n))
    return out


def _jobs_in_spans(tr: Tracer, job_iv, prefix: str) -> int:
    iv = [(t0, t1) for nm, t0, t1, op in tr.spans
          if nm.startswith(prefix) and op is not None and tr.ops[op]["phase"] == "timed"]
    return sum(1 for a, _ in job_iv.values() if any(t0 <= a <= t1 for t0, t1 in iv))


def stream_metrics(tr: Tracer, n: int) -> dict[str, float]:
    """Micro-batch split over the traced timed ops (batches that read
    rows; a batch is placed by its trigger start)."""
    timed = [(o["t0"], o["t1"]) for o in tr.ops.values() if o["phase"] == "timed"]
    # the long-running ingest query may start the trigger that picks up a
    # chunk a few ms before the chunk lands (it lists files after starting)
    ps = [p for p in tr.progress if p["rows"] > 0
          and any(a - TRIGGER_SLACK_S <= p["t"] <= b for a, b in timed)]
    drains = [(t0, t1) for nm, t0, t1, op in tr.spans
              if nm == "stream.drain" and op is not None and tr.ops[op]["phase"] == "timed"]
    start_stop = [
        1000.0 * (t1 - t0) - sum(p["ms"].get("triggerExecution", 0) for p in ps
                                 if t0 <= p["t"] <= t1)
        for t0, t1 in drains]

    def med(key):
        vals = [p["ms"].get(key, 0) for p in ps]
        return float(statistics.median(vals)) if vals else 0.0

    n = max(1, n)
    return {
        "stream.batches": len(ps) / n,
        "stream.input_rows": sum(p["rows"] for p in ps) / n,
        "stream.start_stop_ms": float(statistics.median(start_stop)) if start_stop else 0.0,
        "stream.trigger_ms": med("triggerExecution"),
        "stream.query_planning_ms": med("queryPlanning"),
        "stream.add_batch_ms": med("addBatch"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.commit_offsets_ms": med("commitOffsets"),
        "stream.state_commit_ms": (float(statistics.median(
            [p["state_commit_ms"] for p in ps])) if ps else 0.0),
        "stream.state_rows": (float(statistics.median(
            [p["state_rows"] for p in ps])) if ps else 0.0),
    }


#: Time spent in a layer only one workload exercises: printed as metric
#: lines on that workload's traced run, kept out of the JSON line, where
#: the other workload could only report a constant 0.
WORKLOAD_TIMES = {
    "etl_batch": {
        "queries.build_s": "s", "dedup.exact_s": "s", "dedup.lsh_s": "s",
        "dedup.jaccard_s": "s", "components.cc_s": "s", "sinks.publish_s": "s",
    },
    "ingest_serve": {
        "manifest.commit_s": "s", "stream.start_stop_ms": "ms", "stream.trigger_ms": "ms",
        "stream.query_planning_ms": "ms", "stream.add_batch_ms": "ms",
        "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
        "stream.state_commit_ms": "ms",
    },
}
