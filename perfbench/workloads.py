"""The four workloads: why each exists and which layer it isolates.

All load comes from one driver process at ``local[nproc]``.  Every workload
is a closed loop: the next run or micro-batch starts only when the previous
one has committed.  Each workload owns

- ``prepare``: its seeded inputs (cached; see ``inputs.py``);
- ``warm``: one operation on a small input, the last step of set-up;
- ``op``: one timed operation;
- ``verify``: the full output check, run once per run outside the timed
  section (each ``op`` also checks what it can without extra Spark jobs);
- ``layer_metrics``: the workload's own per-layer numbers in a traced run.

The end-to-end metrics read as follows on each workload:

============== =========================== ============================
workload       rate                        ``op_p50_s``
============== =========================== ============================
route          ``docs_per_s``: pages/s     median ``run_pipeline`` wall
curate         ``docs_per_s``              median ``curate`` wall
stream_curate  ``docs_per_s`` per drain    median micro-batch
                                           ``triggerExecution``
queries        ``queries.total_s`` (pass)  median query
============== =========================== ============================
"""

from __future__ import annotations

import os
import random
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

import inputs
import tracing as T

# The warm-up input: the set-up runs one operation on it in a fresh JVM.
WARM_FILES = [300]


@dataclass
class OpResult:
    wall: float  # wall time of the whole operation, s
    samples: list[float]  # op_p50_s samples: the op, or its micro-batches
    items: int  # pages, docs or queries processed
    attempted: int  # runs, micro-batches or queries
    failed: int = 0
    detail: dict = field(default_factory=dict)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _window_jobs(jobs, op):
    return T.jobs_between(jobs, op["t0"], op["t1"])


def _job_s(js) -> float:
    return sum(max(0.0, (j.end or j.submit) - j.submit) for j in js)


def _stages_of(js, stages):
    ids = {s for j in js for s in j.stages}
    return [stages[i] for i in sorted(ids) if i in stages]


def _span_s(tracer, name, op) -> float:
    return sum(
        s.end - s.start
        for s in tracer.spans
        if s.name == name and op["t0"] <= s.start <= op["t1"]
    )


class Workload:
    name = ""
    min_ops = 2

    def __init__(self, seed: int, work: str, procs: int):
        self.seed, self.work, self.procs = seed, work, procs
        self.base = os.path.join(work, "inputs", f"seed{seed}")
        self.scratch = os.path.join(work, "scratch", self.name)

    def fresh_dir(self, tag: str) -> str:
        path = os.path.join(self.scratch, tag)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def warm_files(self) -> str:
        return inputs.page_files(
            self.seed, f"{self.base}/warm-{len(WARM_FILES)}x{WARM_FILES[0]}",
            inputs.WARM_BASE, WARM_FILES, True, self.procs,
        )

    def sample_pages(self) -> list[bytes]:
        import pyarrow.parquet as pq

        raws: list[bytes] = []
        for f in sorted(os.listdir(self.pages_dir)):
            if f.endswith(".parquet"):
                raws += pq.read_table(
                    os.path.join(self.pages_dir, f), columns=["html"]
                ).column("html").to_pylist()
            if len(raws) >= 2000:
                break
        return raws[:2000]

    def layer_metrics(self, spark, tracer, log, ops) -> dict:
        return {}


# --- route --------------------------------------------------------------------


class Route(Workload):
    """``plans.pipeline.run_pipeline`` over generator pages, with its
    defaults (resume lineage, routed write, post-write metrics), into a
    fresh ``SinkCatalog`` each time.

    Isolates the kernel and the ``functions`` boundary: the one write stage
    runs the decode UDF, so most task time is in Python workers, plus the
    sink write and the ~27 small jobs of lineage and metrics.  It has no
    dedup shuffle, so a dedup gain should show no change here.
    """

    name = "route"
    N_PAGES = 12_000
    # the first run after the warm-up is still ~20 % slower; a median of
    # four keeps it out of op_p50_s
    min_ops = 4

    def prepare(self) -> None:
        per = self.N_PAGES // self.procs
        self.n = per * self.procs
        self.pages_dir = inputs.page_files(
            self.seed, f"{self.base}/route-{per}x{self.procs}",
            inputs.ROUTE_BASE, [per] * self.procs, False, self.procs,
        )
        self.warm_dir = self.warm_files()

    def _run(self, spark, src: str, tag: str):
        from mysql_cdc_rs_spark.plans import pipeline as P
        from mysql_cdc_rs_spark.sources.catalog import SinkCatalog

        pages = spark.read.parquet(src)
        cat = SinkCatalog(spark, self.fresh_dir(tag))
        t0 = time.perf_counter()
        res = P.run_pipeline(pages, cat)
        return time.perf_counter() - t0, res, pages, cat

    def warm(self, spark) -> None:
        self._run(spark, self.warm_dir, "warm")

    def op(self, spark, k: int) -> OpResult:
        wall, res, pages, cat = self._run(spark, self.pages_dir, f"op{k % 2}")
        self._last = (pages, cat)
        bad = int(sum(res.route_counts.values()) != self.n)
        return OpResult(wall, [wall], self.n, 1, bad)

    def verify(self, spark) -> list[str]:
        """Every input url lands in exactly one route, with its text
        byte-identical to the input's ``text`` column (one Spark job)."""
        from pyspark.sql import functions as F

        pages, cat = self._last
        want = pages.select("url", F.col("text").alias("want"), F.lit(1).alias("w"))
        got = cat.read("routed").select(
            "url", F.col("text").alias("got"), F.lit(1).alias("g")
        )
        bad = ~F.col("got").eqNullSafe(F.col("want")) | F.col("w").isNull() | F.col(
            "g"
        ).isNull()
        row = want.join(got, "url", "full_outer").agg(
            F.count("*").alias("n"), F.sum(F.when(bad, 1).otherwise(0)).alias("bad")
        ).first()
        if row["n"] != self.n or row["bad"]:
            return [f"route: {row['bad']} url/text mismatches over {row['n']} rows"]
        return []

    def layer_metrics(self, spark, tracer, log, ops) -> dict:
        jobs, stages, broadcasts = log
        per_op = []
        for op in ops:
            js = _window_jobs(jobs, op)
            write_jobs = [j for j in js if "operators.route.write_routes@" in j.desc]
            metric_jobs = [
                j for j in js
                if re.search(r"DataFrame\.collect@[\w/]*plans/pipeline\.py", j.desc)
                and "operators.route" not in j.desc
            ]
            per_op.append({
                "plans.pipeline.jobs": len(js),
                "plans.pipeline.lineage_s": _span_s(
                    tracer, "plans.checkpoint.lineage_summary", op
                ),
                "plans.pipeline.metrics_s": _job_s(metric_jobs),
                "operators.route.write_s": _span_s(
                    tracer, "operators.route.write_routes", op
                ),
                "operators.route.bytes_written": sum(
                    s.bytes_written for s in _stages_of(write_jobs, stages)
                ),
                "operators.enrich.broadcast_s": sum(
                    v for t, v in broadcasts if op["t0"] <= t <= op["t1"]
                ),
            })
        return T.median_of(per_op)


# --- curate / stream_curate (one shared input) ------------------------------


class _CurationInput(Workload):
    """K chunk files of B pages each, in doc_id order with ascending mtimes:
    ``curate`` reads them as one batch table, the stream drains them one
    file per trigger.  Each side checks its survivor set against the other
    side's, which ``verify`` computes afresh with the same code."""

    CHUNKS, CHUNK_PAGES = 4, 500

    def prepare(self) -> None:
        tag = f"{self.CHUNKS}x{self.CHUNK_PAGES}"
        self.n = self.CHUNKS * self.CHUNK_PAGES
        self.pages_dir = inputs.page_files(
            self.seed, f"{self.base}/chunks-{tag}", inputs.CHUNK_BASE,
            [self.CHUNK_PAGES] * self.CHUNKS, True, self.procs,
        )
        self.warm_dir = self.warm_files()

    def _curate(self, spark, src: str, collect: bool):
        from mysql_cdc_rs_spark.plans import training_pipeline as TP

        pages = spark.read.parquet(src)
        t0 = time.perf_counter()
        s = TP.curate(pages)
        n = s.count()
        paused = 0.0
        ids = None
        if collect:  # untimed: the survivor set for the check
            p0 = time.perf_counter()
            ids = sorted(r[0] for r in s.select("doc_id").collect())
            paused = time.perf_counter() - p0
        TP.release(s)
        return time.perf_counter() - t0 - paused, n, ids

    def _drain(self, spark, src: str, tag: str, timeout: float = 150.0):
        from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
        from mysql_cdc_rs_spark.streaming import stream_pipeline as SP

        d = self.fresh_dir(tag)
        cat = SinkCatalog(spark, f"{d}/catalog")
        t0 = time.perf_counter()
        q = SP.start_curation_stream(
            SP.stream_pages(spark, src, max_files_per_trigger=1), cat, f"{d}/ckpt"
        )
        done = q.awaitTermination(timeout)
        wall = time.perf_counter() - t0
        if not done:
            q.stop()
        ok = done and q.exception() is None
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        ids = None
        if ok:
            ids = sorted(
                r[0] for r in SP.read_curated(cat).select("doc_id").collect()
            )
        return wall, progress, ids, cat


class Curate(_CurationInput):
    """``plans.training_pipeline.curate`` + ``count()`` + ``release()`` over
    the chunk pages read as one table.

    Isolates ``operators.dedup``: the shingle -> minhash -> band stages
    carry most of the task time, with no Python and no sink write; decode is
    the smaller share, so a kernel gain shows here only in proportion.
    """

    name = "curate"
    min_ops = 3

    def warm(self, spark) -> None:
        self._curate(spark, self.warm_dir, False)

    def op(self, spark, k: int) -> OpResult:
        wall, n, ids = self._curate(spark, self.pages_dir, k == 0)
        if ids is not None:
            self.ids = ids
        bad = int(n != len(self.ids))
        return OpResult(wall, [wall], self.n, 1, bad)

    def verify(self, spark) -> list[str]:
        stream = self._drain(spark, self.pages_dir, "ref")[2]
        if stream != self.ids:
            return [f"curate: batch {len(self.ids)} survivors != stream {len(stream or [])}"]
        return []

    def layer_metrics(self, spark, tracer, log, ops) -> dict:
        from mysql_cdc_rs_spark.operators import dedup as DD
        from mysql_cdc_rs_spark.plans import training_pipeline as TP

        jobs, stages, _ = log
        per_op = []
        for op in ops:
            js = _window_jobs(jobs, op)
            persist = [j for j in js if "DataFrame.count@mysql_cdc_rs_spark/plans/training_pipeline.py" in j.desc]
            final = [j for j in js if j.desc.endswith(tuple(
                f"DataFrame.count@{s.at}" for s in tracer.spans
                if s.name == "DataFrame.count" and s.at.startswith("perfbench/")
            )) and j not in persist]
            dd = _stages_of(final, stages)
            per_op.append({
                "plans.training_pipeline.persist_s": _job_s(persist),
                # the result stage of the survivors count: the anti-join
                # probe (AQE plans it inside a codegen stage, so no scope
                # names the join itself)
                "plans.training_pipeline.antijoin_s": dd[-1].task_s if dd else 0.0,
                "operators.dedup.task_s": sum(s.task_s for s in dd),
                "operators.dedup.shuffle_write_bytes": sum(s.shuffle_write for s in dd),
                "operators.dedup.spill_bytes": sum(s.spill for s in dd),
            })
        out = T.median_of(per_op)
        # dedup counts: untimed extra actions on one more curate() plan
        s = TP.curate(spark.read.parquet(self.pages_dir))
        pairs = DD.lsh_candidate_pairs(s._curate_persisted)
        out["operators.dedup.candidate_pairs"] = pairs.count()
        out["operators.dedup.drops"] = pairs.select("doc_b").distinct().count()
        TP.release(s)
        return out


class StreamCurate(_CurationInput):
    """``streaming.stream_pipeline.start_curation_stream`` draining the K
    pre-landed chunk files, one file per ``availableNow`` trigger, into a
    fresh catalog and checkpoint each drain.

    The only workload that reads its own writes: each micro-batch probes
    the ``dedup_seen_buckets`` state and appends to it, so per-batch fixed
    cost dominates and batch time grows with the state.  A batch-dedup gain
    that costs the probe or the appends shows here.
    """

    name = "stream_curate"
    # One drain per run: a second drain adds ~20 s, which the 22 runs per
    # workload of a regression comparison cannot afford within an hour.
    min_ops = 1

    def warm(self, spark) -> None:
        self._drain(spark, self.warm_dir, "warm")

    def op(self, spark, k: int) -> OpResult:
        wall, progress, ids, cat = self._drain(spark, self.pages_dir, f"op{k % 2}")
        self._last = cat
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in progress]
        add = [p["durationMs"].get("addBatch", 0) / 1000 for p in progress]
        if ids is not None and not hasattr(self, "ids"):
            self.ids = ids
        bad = self.CHUNKS - len(progress)
        if ids is None or ids != getattr(self, "ids", None):
            bad = self.CHUNKS
        return OpResult(
            wall, trig or [wall], self.n, self.CHUNKS, bad,
            detail={"trigger_s": trig, "add_batch_s": add},
        )

    def verify(self, spark) -> list[str]:
        ids = getattr(self, "ids", None)
        batch = self._curate(spark, self.pages_dir, True)[2]
        if ids != batch:
            return [f"stream_curate: stream {len(ids or [])} survivors != batch {len(batch)}"]
        return []

    STAGE_SPLIT = {"count": ["decode_quality", "banding"], "append": ["probe_write", "seen_append"]}

    def layer_metrics(self, spark, tracer, log, ops) -> dict:
        jobs, stages, broadcasts = log
        per_op = []
        for op in ops:
            js = _window_jobs(jobs, op)
            n_b = max(1, len(op["detail"]["trigger_s"]))
            # call-site lines inside stream_pipeline.py name the split:
            # per batch, the persist barriers (count) then the two appends
            sites: dict[tuple[str, int], list] = {}
            for j in js:
                m = re.search(
                    r"(DataFrame\.count|SinkCatalog\.append)@[\w/]*stream_pipeline\.py:(\d+)",
                    j.desc,
                )
                if m:
                    kind = "count" if "count" in m.group(1) else "append"
                    sites.setdefault((kind, int(m.group(2))), []).append(j)
            rec = {"streaming.jobs_per_batch": len(js) / n_b}
            for kind, labels in self.STAGE_SPLIT.items():
                lines = sorted(line for k, line in sites if k == kind)
                for label, line in zip(labels, lines):
                    rec[f"streaming.{label}_s"] = _job_s(sites[(kind, line)]) / n_b
            trig, add = op["detail"]["trigger_s"], op["detail"]["add_batch_s"]
            rec["streaming.add_batch_s"] = _median(add)
            rec["streaming.harness_s"] = _median([t - a for t, a in zip(trig, add)])
            if len(trig) >= 4:
                rec["streaming.state_growth"] = (trig[-1] + trig[-2]) / (trig[0] + trig[1])
            per_op.append(rec)
        out = T.median_of(per_op)
        out["streaming.state_rows"] = self._last.read("dedup_seen_buckets").count()
        return out


# --- queries ------------------------------------------------------------------

# The 20 queries ``bench.py`` times (its ``BENCH_QUERIES``), copied so the
# benchmark outlives that script.
QUERY_SET = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "j1_broadcast_part_join",
    "a12_event_stats_rollup",
    "w13_context_chain",
    "w2_sessionize",
    "d1_update_diff",
    "dedup_lsh_pairs",
    "dedup_simhash",
    "text_doc_stats",
    "ann_brute_force_topk",
    "ann_lsh_topk",
    "pipeline_event_type_counts",
    "pipeline_text_md5",
    "p3_row_decode",
    "mm_decode_stats",
    "ivf_kmeans_train",
    "emb_neardup_pairs",
    "training_curate_survivors",
]


class Queries(Workload):
    """The benched oracle queries (``queries.QUERIES``) on the engine's
    fixed testdata (``sources.testdata.DEFAULT_SF_DIR``, sf0.1; sf0.01 next
    to it for the warm-up), each written to a ``noop`` sink; one pass runs
    the set in a seed-chosen order.  The input is fixed, so the seed only
    sets that order.

    Most queries are sub-second and decode-free, so time goes to per-job
    fixed cost, ``sources.testdata.spread()``, ``queries.ordered()`` and the
    session config.  ``pipeline_text_md5`` is the one place where page
    generation and decode are two Python stages.
    """

    name = "queries"

    def prepare(self) -> None:
        from mysql_cdc_rs_spark.sources.testdata import DEFAULT_SF_DIR

        self.tables = DEFAULT_SF_DIR
        self.warm_tables = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")
        for d in (self.tables, self.warm_tables):
            if not os.path.isdir(d):
                raise FileNotFoundError(f"queries: no testdata directory {d}")
        self.order = random.Random(self.seed).sample(QUERY_SET, len(QUERY_SET))

    def sample_pages(self) -> list[bytes]:
        import pyarrow.parquet as pq

        from mysql_cdc_rs_spark.sources.pages_from_documents import make_page

        docs = pq.read_table(f"{self.tables}/documents.parquet").slice(0, 2000)
        return [
            make_page(d["doc_id"], d["text"], d["lang"], d["source"])[2]
            for d in docs.to_pylist()
        ]

    def _pass(self, spark, sf: str) -> OpResult:
        from mysql_cdc_rs_spark.queries import QUERIES

        per, failed = {}, 0
        for name in self.order:
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, sf).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failed query is counted
                failed += 1
                print(f"[perfbench] {name} failed: {e!r}"[:300], flush=True)
            per[name] = time.perf_counter() - t0
        wall = sum(per.values())
        return OpResult(
            wall, list(per.values()), len(per), len(per), failed, {"per_query": per}
        )

    def warm(self, spark) -> None:
        self._pass(spark, self.warm_tables)

    def op(self, spark, k: int) -> OpResult:
        return self._pass(spark, self.tables)

    def verify(self, spark) -> list[str]:
        from mysql_cdc_rs_spark.oracle_compare import compare_all

        return [
            f"queries: {r.name} differs from its oracle: {r.detail[:200]}"
            for r in compare_all(spark, self.tables, self.order)
            if not r.ok
        ]

    def layer_metrics(self, spark, tracer, log, ops) -> dict:
        jobs, stages, broadcasts = log
        per_op = []
        for op in ops:
            st = _stages_of(_window_jobs(jobs, op), stages)
            per_op.append({
                "sources.scan_s": sum(
                    s.task_s for s in st if any(x.startswith("Scan") for x in s.scopes)
                ),
                "sources.pagegen_s": sum(
                    s.task_s for s in st if "MapInPandas" in s.scopes
                ),
                "sources.one_task_stages": sum(1 for s in st if len(s.tasks) == 1),
            })
        return T.median_of(per_op)


WORKLOADS = {w.name: w for w in (Route, Curate, StreamCurate, Queries)}
