"""Layered benchmark of the decode -> enrich -> route -> curate engine.

Usage, from the repository root::

    python3 perfbench/run.py --workload route --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

``--seconds`` is the measured time of one run; ``BENCHMARK.json`` fixes it
(``run_seconds``) so both sides of a comparison measure alike.

One run, for one workload (see ``workloads.py`` for why each exists):

1. make the seeded inputs (cached under ``.perfbench/inputs``; untimed);
2. time the single-thread micro-legs (kernel decode, Arrow in and out) on
   the workload's own pages, before Spark starts;
3. build the session at ``local[nproc]`` and ship the package ``SETUPS``
   times (once with ``--trace 1``; the first build also starts the JVM),
   then run one warm-up operation on a small input in the last session;
   ``setup_s`` is the median build plus the warm-up.  The warm-up runs once,
   not once per build, because it is most of a set-up and a run must stay
   short enough for 22 runs per workload to fit in an hour;
4. in that session, run operations in a closed loop until their timed
   wall reaches ``--seconds`` (at least ``min_ops``); ``peak_rss_mb`` is the
   peak over steps 3 and 4 only;
5. check the outputs (outside the timed section);
6. with ``--trace 1``: build one more session with Spark's event log on,
   wrap the engine's layer calls in spans, repeat step 4 and derive the
   per-layer metrics; the traced/untraced ratio is the tracing overhead.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the gated end-to-end metrics,
``GATED``, with ``--trace 0``; the per-layer metrics with ``--trace 1``).  A full record,
including the workload's own per-layer table and every span, is written to
``.perfbench/results/``.  Every Spark, JVM and Python-worker process is
stopped and waited for before the result is printed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
OP_TIMEOUT_S = 90.0
RUN_BUDGET_S = 120.0  # no new operation starts after this (180 s limit)
PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")

# End-to-end metrics.  Workloads share names: ``docs_per_s`` is route's
# pages/s, curate's docs/s and stream_curate's docs/s per drain; ``op_p50_s``
# is the median run, the median micro-batch or the median query;
# ``cpu_ms_per_doc`` is the CPU time of the whole process tree (driver, JVM,
# Python workers) per input doc.  Queries report ``queries.total_s`` and
# ``queries.cpu_s`` per pass instead.
E2E_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "queries.total_s": "s",
    "op_p50_s": "s",
    "cpu_ms_per_doc": "ms",
    "queries.cpu_s": "s",
    "peak_rss_mb": "MB",
}
# The JSON line carries only the metrics ``BENCHMARK.json`` gates.  On a
# shared 4-vCPU VM the hypervisor took up to a quarter of a run's CPU time
# from it, unevenly, and wall-time rates spread 18-55 % across seeds; CPU time,
# which excludes stolen time, is what stays comparable between two sets of
# runs.  The wall-time metrics, peak RSS and ``failed_frac`` (the JSON's
# ``failed`` / ``attempted``; 0 on a good run) are on the human-readable
# lines and in the record.
GATED = ("setup_s", "cpu_ms_per_doc", "queries.cpu_s")
LAYER_UNITS = {
    "kernel.decode_us_per_page": "us",
    "functions.arrow_in_us_per_page": "us",
    "functions.arrow_out_us_per_page": "us",
    "functions.python_run_s": "s",
    "functions.python_share": "ratio",
    "functions.python_init_s": "s",
    "functions.bytes_to_python": "bytes",
    "functions.bytes_from_python": "bytes",
    "functions.python_stages": "count",
    "stage.count": "count",
    "stage.tasks": "count",
    "stage.task_s": "s",
    "stage.gc_s": "s",
    "stage.shuffle_read_bytes": "bytes",
    "stage.shuffle_write_bytes": "bytes",
    "stage.spill_bytes": "bytes",
    "stage.skew_max": "ratio",
    "stage.dominant_share": "ratio",
    "trace.jobs_per_op": "count",
    "trace.driver_s": "s",
    "trace.overhead_frac": "ratio",
}
# --- processes ------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            if fields[0] != "Z":
                kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _cpu(pid: int) -> float:
    """utime + stime of ``pid`` and of the children it has reaped, s."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return 0.0
    fields = stat[stat.rindex(")") + 2 :].split()
    return sum(int(x) for x in fields[11:15]) / CLK_TCK


def tree_cpu_s() -> float:
    """CPU time of this process tree so far (driver JVM + Python workers).
    A worker that exits is reaped by its parent in the tree, so a
    difference of two readings counts it too."""
    me = os.getpid()
    return _cpu(me) + sum(_cpu(p) for p in descendants(me))


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot: a run whose share grew was slowed by its neighbours."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / CLK_TCK


class RssSampler(threading.Thread):
    """Peak summed RSS of this process tree (driver JVM + Python workers)."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_event.is_set():
            total = _rss(me) + sum(_rss(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            self._stop_event.wait(self.period)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


class Watchdog:
    """Cancels every running Spark job if an operation outlives its limit."""

    def __init__(self, sc, limit: float):
        self.timer = threading.Timer(limit, sc.cancelAllJobs)

    def __enter__(self):
        self.timer.start()
        return self

    def __exit__(self, *exc):
        self.timer.cancel()
        self.timer.join()


# --- sessions ---------------------------------------------------------------------


def build(name: str, procs: int, traced: bool):
    from mysql_cdc_rs_spark.session import build_session

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = os.path.join(WORK, "eventlog")
    spark = build_session(f"perfbench-{name}", master=f"local[{procs}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark) -> None:
    """Stop Spark, then the JVM gateway, then wait for every descendant."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


# --- measurement -------------------------------------------------------------------


def run_ops(spark, wl, seconds: float, deadline: float, tracer=None) -> list[dict]:
    """Closed loop: each operation starts when the previous one returned."""
    from workloads import OpResult

    ops: list[dict] = []
    spent = 0.0
    while len(ops) < wl.min_ops or spent < seconds:
        if ops and time.monotonic() > deadline:
            break
        t0, c0 = time.time(), tree_cpu_s()
        with Watchdog(spark.sparkContext, OP_TIMEOUT_S):
            try:
                if tracer is not None:
                    with tracer.span(f"op{len(ops)}", "perfbench/run.py"):
                        r = wl.op(spark, len(ops))
                else:
                    r = wl.op(spark, len(ops))
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                print(f"[perfbench] {wl.name} op {len(ops)} failed: {e!r}"[:400], flush=True)
                r = OpResult(time.time() - t0, [], 0, 1, 1)
        ops.append({
            "t0": t0, "t1": time.time(), "cpu_s": tree_cpu_s() - c0, "r": r,
            "detail": r.detail,
        })
        spent += r.wall
    return ops


def e2e(wl, ops: list[dict], setup_s: float) -> dict:
    ok = [o for o in ops if o["r"].samples]
    good = [o["r"] for o in ok]
    walls = [r.wall for r in good]
    samples = [x for r in good for x in r.samples]
    med = statistics.median(walls) if walls else float("nan")
    cpu = statistics.median(o["cpu_s"] for o in ok) if ok else float("nan")
    out = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(samples) if samples else float("nan"),
        "n_samples": len(samples),
        "op_walls": walls,
        "op_samples": [r.samples for r in good],
        "op_cpu_s": [o["cpu_s"] for o in ok],
    }
    if wl.name == "queries":
        out["queries.total_s"] = med
        out["queries.cpu_s"] = cpu
    else:
        out["docs_per_s"] = good[0].items / med if walls else 0.0
        out["cpu_ms_per_doc"] = 1000 * cpu / good[0].items if ok else float("nan")
    return out


def traced_layers(spark, wl, tracer, ops, log_dir) -> dict:
    import tracing as T

    jobs, stages, broadcasts = T.read_event_log(
        log_dir, spark.sparkContext.applicationId
    )
    per_op = []
    for o in ops:
        js = T.jobs_between(jobs, o["t0"], o["t1"])
        st = [stages[i] for i in sorted({s for j in js for s in j.stages}) if i in stages]
        rec = T.stage_metrics(st)
        rec["trace.jobs_per_op"] = len(js)
        rec["trace.driver_s"] = (o["t1"] - o["t0"]) - T.busy_s(js, o["t0"], o["t1"])
        per_op.append(rec)
    out = T.median_of(per_op)
    out.update(wl.layer_metrics(spark, tracer, (jobs, stages, broadcasts), ops))
    return out


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import mysql_cdc_rs_spark.session
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    engine = os.path.abspath(mysql_cdc_rs_spark.session.__file__)
    if not engine.startswith(os.path.join(ROOT, "mysql_cdc_rs_spark") + os.sep):
        print(f"perfbench: the engine imported from {engine}, not {ROOT}", file=sys.stderr)
        return 2
    from micro import micro_legs

    # a traced run reads back only its own event log; inputs are kept for
    # this seed only
    shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
    for old in glob.glob(os.path.join(WORK, "inputs", "seed*")):
        if os.path.basename(old) != f"seed{args.seed}":
            shutil.rmtree(old, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog", "results"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR (package zip, gateway files)

    started = time.monotonic()
    deadline = started + RUN_BUDGET_S
    procs = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed, WORK, procs)
    record: dict = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": procs, "load_start": os.getloadavg(),
    }
    steal0 = steal_s()
    phases = record["phases_s"] = {}
    wl.prepare()
    phases["inputs"] = time.monotonic() - started
    record["micro"] = micro_legs(wl.sample_pages())
    phases["micro"] = time.monotonic() - started
    sampler = RssSampler()
    sampler.start()
    spark = None
    problems: list[str] = []
    try:
        # a traced run reports no setup_s: one build is enough
        builds = []
        for _ in range(1 if args.trace else SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = build(wl.name, procs, traced=False)
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm(spark)
        warm_s = time.perf_counter() - t0
        phases["setups"] = time.monotonic() - started
        ops = run_ops(spark, wl, args.seconds, deadline)
        phases["ops"] = time.monotonic() - started
        sampler.stop()  # the checks and the traced session are not the program's
        try:
            problems = wl.verify(spark)
        except Exception as e:  # noqa: BLE001 - a failed check is a failure
            problems = [f"{wl.name}: check raised {e!r}"[:400]]
        phases["verify"] = time.monotonic() - started
        metrics = e2e(wl, ops, statistics.median(builds) + warm_s)
        record.update(builds=builds, warm_s=warm_s, e2e=metrics)
        if wl.name == "queries":
            record["per_query_s"] = {
                q: statistics.median(o["detail"]["per_query"][q] for o in ops)
                for q in ops[0]["detail"]["per_query"]
            }
        if args.trace:
            import tracing as T

            spark.stop()
            spark = build(wl.name, procs, traced=True)
            tracer = T.Tracer(spark.sparkContext)
            tracer.install()
            try:
                wl.warm(spark)
                tops = run_ops(spark, wl, args.seconds, deadline + 40, tracer)
                layers = traced_layers(
                    spark, wl, tracer, tops, os.path.join(WORK, "eventlog")
                )
            finally:
                tracer.uninstall()
            traced_med = statistics.median(o["r"].wall for o in tops if o["r"].samples)
            layers["trace.overhead_frac"] = traced_med / statistics.median(
                metrics["op_walls"]
            ) - 1
            layers.update(record["micro"])
            for q, s in record.get("per_query_s", {}).items():
                layers[f"queries.{q}_s"] = s
            record["layers"] = layers
            record["self_time_s"] = tracer.self_times()
            record["spans"] = [s.__dict__ for s in tracer.spans]
    finally:
        phases["traced"] = time.monotonic() - started
        stop_all(spark)
        sampler.stop()  # no-op unless set-up or the operations raised
        phases["stop"] = time.monotonic() - started
    metrics["peak_rss_mb"] = sampler.peak / 2**20
    record["load_end"] = os.getloadavg()
    record["steal_s"] = steal_s() - steal0
    record["elapsed_s"] = time.monotonic() - started

    every = ops + (tops if args.trace else [])
    attempted = sum(o["r"].attempted for o in every)
    failed = min(attempted, sum(o["r"].failed for o in every) + len(problems))
    record.update(attempted=attempted, failed=failed, problems=problems)
    out = os.path.join(
        WORK, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    report(record, metrics)
    if args.trace:
        result = {k: {"value": record["layers"][k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        result = {
            k: {"value": metrics[k], "unit": E2E_UNITS[k]}
            for k in GATED if k in metrics
        }
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": result,
    }), flush=True)
    return 0


def report(record: dict, m: dict) -> None:
    """Human-readable lines, printed before the JSON line."""
    name = record["workload"]
    p = f"[perfbench] {name}"
    print(f"{p} seed={record['seed']} nproc={record['nproc']} load "
          f"{record['load_start'][0]:.2f}->{record['load_end'][0]:.2f} "
          f"cpu steal {record['steal_s']:.1f} s")
    for k, v in record["micro"].items():
        print(f"{p} {k} = {v:.3f} us (single thread, canary)")
    print(f"{p} setup_s = {m['setup_s']:.3f} s (median of {len(record['builds'])} "
          f"builds + a {record['warm_s']:.3f} s warm-up)")
    for k in ("docs_per_s", "queries.total_s", "op_p50_s", "cpu_ms_per_doc", "queries.cpu_s"):
        if k in m:
            print(f"{p} {k} = {m[k]:.4f} {E2E_UNITS[k]} ({m['n_samples']} op samples)")
    frac = record["failed"] / max(1, record["attempted"])
    print(f"{p} failed_frac = {frac:.4f} ratio ({record['failed']}/{record['attempted']})")
    print(f"{p} peak_rss_mb = {m['peak_rss_mb']:.1f} {E2E_UNITS['peak_rss_mb']}")
    print(f"{p} correct = {record['failed'] == 0} {record['problems']}")
    for k, v in sorted(record.get("layers", {}).items()):
        shown = f"{v:.6g}" if isinstance(v, float) else v
        print(f"{p} layer {k} = {shown}")


def run_all(args) -> int:
    """Every workload in turn, each in its own process; prints one table."""
    rows = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        res = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        lines = res.stdout.strip().splitlines()
        sys.stdout.write("\n".join(line for line in lines[:-1] if line.startswith("[perfbench]")) + "\n")
        if res.returncode != 0 or not lines:
            print(f"[perfbench] {name} exited {res.returncode}: {res.stderr[-400:]}")
            return 1
        rows[name] = json.loads(lines[-1])
    print(json.dumps({"correct": all(r["correct"] for r in rows.values()),
                      "attempted": sum(r["attempted"] for r in rows.values()),
                      "failed": sum(r["failed"] for r in rows.values()),
                      "workloads": rows}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
