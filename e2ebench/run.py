"""End-to-end benchmark of the insight_spark engine.

Run from the root of a checkout:

    python3 e2ebench/run.py --workload etl_batch --seed 1 --seconds 15 --trace 0

Workloads: ``etl_batch`` and ``ingest_serve`` (see workloads.py; sizes,
reasons and the measured steadiness are recorded in notes.json).

One closed-loop client runs the workload's fixed op multiset pass after
pass on a ``local[4]`` session.  Protocol:

1. inputs: seeded generation and the DuckDB expectations (not timed).
2. set-up: session start, engine-side preparation, then one cold pass;
   ``setup_s`` is the three summed (the cold pass counted by its op
   walls, like a timed pass).  The cold pass is the only warm-up: the
   whole run must fit a per-run budget of about a minute.
3. timed: a fixed number of passes, ``round(--seconds / nominal pass)``
   and at least one; ``pass_s`` is the median of their walls, a pass
   wall being its op walls summed.

Every op's result is checked against the oracle after its timer stops; a
wrong result or an error counts as failed.  The last stdout line is the
JSON result; the lines before it name every metric with its unit.  With
``--trace 1`` the run first runs the same workload and seed untraced in
a child process (the denominator of ``trace.overhead``), then the same
passes with the tracing hooks on, and prints the per-layer metrics
(names and units from BENCHMARK.json) instead; a ``trace.reconciled_frac``
below ``tracing.RECONCILE_MIN`` makes the run incorrect.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

#: Timed passes are reported "still falling" when the last one beats the
#: first by more than this share.
FALLING = 0.03
MIN_TIMED = 1
CORES = 4


def _die(msg: str) -> None:
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def _tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with >= 10 samples beyond it: (value, pct, n)."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else 0.0), 100.0, n
    k = n - 11  # 10 samples lie above index k
    return s[k], 100.0 * (k + 1) / n, n


def _rss_mb(spark) -> float:
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            hwm = next(line for line in fh if line.startswith("VmHWM"))
        return py + int(hwm.split()[1]) / 1024.0
    except (OSError, StopIteration):
        return py


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "insight_spark", "__init__.py")):
        _die("run from the root of an insight_spark checkout (engine sources not found)")
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    twin = None
    if args.trace:
        # trace.overhead's denominator: the same seed, untraced, run first
        # in its own process (the event log cannot be switched off in one)
        twin = untraced_twin(args)
    units = per_layer_units(root)

    # everything the run writes stays under the checkout
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "scratch", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    # spark-submit's launcher JVM: no hsperfdata file outside the work dir
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.chdir(work)
    try:
        result, lines = run(args, work, twin, units)
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
    for line in lines:
        print(line)
    print(json.dumps(result))


def untraced_twin(args) -> dict:
    """Run this workload and seed untraced; its pass_s and op counts."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        _die(f"untraced twin run exited {proc.returncode}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    return {"pass_s": res["metrics"]["pass_s"]["value"],
            "attempted": res["attempted"], "failed": res["failed"]}


def per_layer_units(root: str) -> dict[str, str]:
    """BENCHMARK.json's per_layer metrics: name -> unit."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def start_session(work: str, trace: bool):
    from insight_spark.engine import session_builder
    import tracing as tr_mod

    b = (session_builder("e2ebench", f"local[{CORES}]")
         .config("spark.driver.memory", "2g")
         .config("spark.ui.showConsoleProgress", "false")
         # fixed heap (no resize pauses); no hsperfdata file outside the work dir
         .config("spark.driver.extraJavaOptions",
                 f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"))
    if trace:
        for k, v in tr_mod.EVENT_LOG_CONF.items():
            b = b.config(k, v)
        b = b.config("spark.eventLog.dir", "file://" + os.path.join(work, "eventlog"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str, twin: dict | None, units: dict[str, str]):
    import tracing as tr_mod
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed)
    n_timed = max(MIN_TIMED, round(args.seconds / wl.nominal_pass_s))
    t0 = time.perf_counter()
    wl.inputs()
    plan = [wl.pass_ops(i) for i in range(1 + n_timed)]  # all expectations, up front
    inputs_s = time.perf_counter() - t0

    t_setup = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    session_s = time.perf_counter() - t_setup
    from insight_spark.queries import set_lint_default

    set_lint_default(False)
    null = tr_mod.NullTracer()
    tracer = tr_mod.Tracer(spark, os.path.join(work, "eventlog")) if args.trace else None

    stats = {"attempted": 0, "failed": 0, "op_id": 0}
    lat: dict[str, list[float]] = {}
    failures: list[str] = []

    def run_pass(i: int, phase: str, tr) -> float:
        """Run pass ``i``; returns its op walls summed (checks excluded)."""
        wall = 0.0
        for op in plan[i]:
            stats["op_id"] += 1
            oid = stats["op_id"]
            tr.op_start(oid, op.kind, op.layer, phase)
            t0 = time.perf_counter()
            try:
                res, err = op.run(tr), None
            except Exception as exc:  # a failed op is counted, the run goes on
                res, err = None, exc
            dt = time.perf_counter() - t0
            tr.op_end(oid, len(res) if hasattr(res, "__len__") else None)
            wall += dt
            ok = err is None
            if ok:
                try:
                    ok = bool(op.check(res))
                except Exception as exc:
                    ok, err = False, exc
            stats["attempted"] += 1
            if not ok:
                stats["failed"] += 1
                failures.append(f"pass {i} {op.kind}: {err!r}" if err else
                                f"pass {i} {op.kind}: wrong result")
            if phase == "timed":
                lat.setdefault(op.kind, []).append(dt)
        return wall

    try:
        t0 = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t0
        cold = run_pass(0, "cold", null)
        setup_s = session_s + prepare_s + cold
        cold_ops = stats["attempted"]
        tr = tracer if args.trace else null
        timed = [run_pass(1 + k, "timed", tr) for k in range(n_timed)]
        per = {}
        if args.trace:
            tracer.settle()
            per = wl.traced_extras(tracer)
            per["engine.peak_rss_mb"] = _rss_mb(spark)
    finally:
        wl.close()
        stop_session(spark)

    attempted, failed = stats["attempted"], stats["failed"]
    # diagnostic: were pass walls still falling through the timed phase?
    still_falling = (timed[-1] < (1 - FALLING) * timed[0]) if len(timed) > 1 else "n/a"
    lines = [
        f"workload {args.workload} seed {args.seed}: inputs+oracle {inputs_s:.3f} s "
        f"(not in setup_s), session {session_s:.3f} s, prepare {prepare_s:.3f} s, "
        f"cold pass {cold:.3f} s (op walls; checks not counted)",
        f"warm-up: the cold pass only, {cold_ops} ops in {cold:.3f} s (counted in "
        f"setup_s, in no other metric)",
        f"timed passes={n_timed} walls={[round(w, 3) for w in timed]} "
        f"still_falling={still_falling}",
    ]
    lines += [f"failure {f}" for f in failures[:10]]
    metrics = {"setup_s": (setup_s, "s"), "pass_s": (statistics.median(timed), "s")}
    side = {"fail_frac": (failed / max(1, attempted), "ratio")}
    for kind, v in sorted(lat.items()):
        side[f"{kind}_p50_s"] = (statistics.median(v), "s")
    reads = [d for k in ("term", "suggest", "snapshot") for d in lat.get(k, [])]
    if reads:
        val, pct, n = _tail(reads)
        side["read_tail_s"] = (val, "s")
        lines.append(f"read_tail_s is p{pct:.1f} of {n} reads")
    for name, (v, unit) in {**metrics, **side}.items():
        lines.append(f"metric {name} {v:.6f} {unit}")

    if args.trace:
        per.update(tr_mod.layer_metrics(tracer, tracer.read_event_log(), n_timed,
                                        sum(timed), per.pop("_ingest_in_b", 0)))
        per["engine.session_s"] = session_s
        per["trace.overhead"] = statistics.median(timed) / twin["pass_s"]
        lines.append(f"trace.overhead: traced pass_s {statistics.median(timed):.3f} s over "
                     f"pass_s {twin['pass_s']:.3f} s of an untraced run of the same seed")
        attempted += twin["attempted"]
        failed += twin["failed"]
        lines.append(f"exec.jobs per op, median by kind: {per.pop('_jobs_per_op')}")
        reconciled = per["trace.reconciled_frac"] >= tr_mod.RECONCILE_MIN
        lines.append(f"trace.reconciled_frac tolerance >= {tr_mod.RECONCILE_MIN}: "
                     f"{'met' if reconciled else 'NOT met (run reported incorrect)'}")
        for name in units:
            per.setdefault(name, 0.0)
        for name, unit in {**units, **tr_mod.WORKLOAD_TIMES[args.workload]}.items():
            lines.append(f"metric {name} {per[name]:.6f} {unit}")
        out = {n: {"value": per[n], "unit": u} for n, u in units.items()}
    else:
        reconciled = True
        out = {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()}
    result = {"correct": failed == 0 and reconciled, "attempted": attempted, "failed": failed,
              "metrics": out}
    return result, lines


if __name__ == "__main__":
    main()
