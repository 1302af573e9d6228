"""Training-data curation pipeline: the composition showcase.

decode -> text-quality filter -> near-duplicate removal (minhash-LSH) ->
surviving corpus.  This is what the engine is FOR at 100 TB: every stage is
one of the already-tested operators, chained without any driver-side
materialization:

    pages (binary html)
      -> decode_pages            (vectorized UDF, one pass)
      -> keep text-bearing docs  (event_type html/plain)
      -> quality gate            (token count >= min_tokens, JVM-side)
      -> LSH near-dup pairs      (shingle -> minhash -> band bucket join)
      -> drop the higher doc of every candidate pair (keep-first)
      -> survivors

Scale shape: the only shuffles are the dedup groupBys (doc_id, bucket) —
the quality gate and decode are shuffle-free; candidate-pair generation is
bucket-local (no O(n^2)); the drop set is applied with a plain hash
left-anti join on doc_id.  The drop set is NOT broadcast: its size is
proportional to the corpus's near-dup mass (20-40%+ on web corpora), so a
forced broadcast would OOM the driver exactly when dedup matters most.
Declaring the join and letting AQE pick the strategy gives the best of
both — a runtime broadcast when drops genuinely is small, a shuffled hash
join on the uniform doc_id key otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.functions.columns import url_bucket
from mysql_cdc_rs_spark.functions.text import SHINGLE_WORDS, words_of
from mysql_cdc_rs_spark.operators import dedup as DD
from mysql_cdc_rs_spark.operators import stats as S
from mysql_cdc_rs_spark.operators.decode import decode_pages
from mysql_cdc_rs_spark.session import require_census_conf

DEFAULT_MIN_TOKENS = 20
# With ``verify_jaccard`` set, only each doc_b's VERIFY_MAX_PAIRS
# lowest-doc_a candidate pairs are verified (a partitioned row_number, no
# global sort).  This is scale-critical, not cosmetic: on a high-dup-mass
# corpus candidacy is quadratic-ish inside the capped buckets — the 200k
# generator corpus yields 12.77M candidate pairs for 151k candidate drops
# (84 pairs/doc_b), and verifying ALL of them is O(|pairs| x shingles/doc)
# ≈ 4B join rows, which OOM'd a 32-core local run and would dominate a
# fleet job for no recall gain.  The lowest-id partners are the near-dup
# cluster's core members, so a real duplicate verifies against them; a
# doc_b whose only high-J partner falls outside the window survives
# (documented under-drop risk, favoring keeping data over dropping it).
VERIFY_MAX_PAIRS = 4


def quality_corpus(
    decoded: DataFrame,
    min_tokens: int = DEFAULT_MIN_TOKENS,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """The curation input shared by batch, resumable and streaming curation:
    (doc_id, text, *keep) of the html/plain docs with at least
    ``min_tokens`` words (JVM-side gate).  doc_id is the url's trailing
    integer, which both page generators emit.  ``min_tokens`` is at least
    ``SHINGLE_WORDS``, the shingle length, so every quality doc has band
    buckets."""
    if min_tokens < SHINGLE_WORDS:
        raise ValueError(
            f"min_tokens must be at least {SHINGLE_WORDS}, got {min_tokens}"
        )
    doc_id = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    return (
        decoded.filter(F.col("event_type").isin("html", "plain"))
        .select(doc_id.alias("doc_id"), "text", *keep)
        .filter(F.size(words_of(F.col("text"))) >= min_tokens)
    )


def keep_first(quality: DataFrame, pairs: DataFrame) -> DataFrame:
    """Keep-first policy: any doc that is the HIGHER member of a candidate
    pair is a near-duplicate of an earlier doc -> dropped.  No broadcast
    hint: the drop set scales with the corpus's dup mass (see module
    docstring)."""
    drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return quality.join(drops, "doc_id", "left_anti")


def curate(
    pages: DataFrame,
    min_tokens: int = DEFAULT_MIN_TOKENS,
    verify_jaccard: float | None = None,
) -> DataFrame:
    """pages -> surviving (doc_id, text) corpus.

    verify_jaccard: opt-in exact-verification stage.  By default survivors
    drop on LSH candidacy alone, which over-drops on band collisions
    (bucket agreement without real similarity).  With a threshold set, the
    exact word-3-gram Jaccard is computed for each doc_b's
    ``VERIFY_MAX_PAIRS`` lowest-doc_a candidate pairs
    (``ngram_jaccard_pairs(candidates=...)``) and only pairs at or above
    the threshold drop their doc_b.  Off (None) leaves the plan
    byte-identical to round 4's.

    The session must exclude AQE's empty-relation rule
    (``session.require_census_conf``), as ``build_session``'s does.
    """
    require_census_conf(pages.sparkSession)
    # The quality corpus feeds TWO branches (the LSH drops set and the
    # survivors anti-join); without a persist Spark re-executes the whole
    # decode subtree for each — at 100 TB that doubles the most expensive
    # stage.  MEMORY_AND_DISK spills gracefully on executors that can't
    # hold their slice.
    from pyspark import StorageLevel

    quality = quality_corpus(decode_pages(pages), min_tokens).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Materialize the cache in its own job before both branches fan out
    # over it.  The anti-join's first action otherwise runs the drops
    # subtree and the survivors scan as CONCURRENT sibling stages racing
    # to build the same cached partitions: the losing task parks on a
    # block write lock the winner holds while feeding a Python decode
    # worker — the runner stall captured in BENCH/hang/ (and the likely
    # shape of the round-4 12.8M hang).  One extra count() job per
    # curate() call, which is the record's ``quality``; the decode work
    # itself was owed either way.
    n_quality = quality.count()

    # the cap census is observed ABOVE the persist: inside it, every
    # call's cached plan (and cache entry) would be a new one
    lsh = Observation()
    pairs = DD.lsh_candidate_pairs(quality, obs=lsh)
    if verify_jaccard is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("doc_b").orderBy("doc_a")
        bounded = (
            pairs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= VERIFY_MAX_PAIRS)
            .drop("_rn")
        )
        pairs = DD.ngram_jaccard_pairs(
            quality, min_jaccard=verify_jaccard, candidates=bounded
        )
    survivors = keep_first(quality, pairs)
    # hand the persist lifecycle and the record to the caller:
    # release(survivors) after the consuming action
    survivors._curate_persisted = quality
    survivors._curate_observed = (n_quality, lsh)
    return survivors


def release(survivors: DataFrame) -> dict | None:
    """Unpersist the quality corpus cached by ``curate`` and return its
    record (None for a frame ``curate`` did not return): ``quality``, the
    persist barrier's count, and the cap census (``stats.cap_record``) that
    the survivors' first action observed, 0 when no doc passed the gate and
    left out when no action ran.

    ``curate`` must persist lazily (its result is consumed by callers it
    does not control), so it cannot unpersist itself; call this after the
    consuming action or a long-lived session (bench loop, notebook)
    accumulates one cached plan per invocation."""
    q = getattr(survivors, "_curate_persisted", None)
    if q is None:
        return None
    q.unpersist()
    n_quality, lsh = survivors._curate_observed
    return {"quality": n_quality, **(S.observed(lsh) if n_quality else S.NO_CAP)}


def curate_resumable(pages: DataFrame, catalog) -> DataFrame:
    """Checkpoint-resumable curation: the same decode -> quality gate ->
    LSH near-dup drop as curate(), split into two CheckpointedStage units
    ('curate_quality', 'curate_survivors') whose parquet outputs + lineage
    manifests let a rerun skip completed stages — the batch analog of
    resuming the reference's reader from a GTID checkpoint, and how the
    100 TB job survives a mid-run failure without re-decoding the corpus.

    Stage lineage (``checkpoint.lineage_record``) is stable across runs
    AND parallelism levels; a change to the input changes it and forces a
    recompute of that stage and everything after it.  It is one aggregate
    job per stage: the survivors stage reads its input twice in one plan,
    so one ``Observation`` on a write cannot carry it.
    """
    from mysql_cdc_rs_spark.plans.checkpoint import CheckpointedStage

    pages_b = pages.withColumn("url_bucket", url_bucket(F.col("url")))

    def quality_fn(df: DataFrame) -> DataFrame:
        decoded = decode_pages(df.drop("url_bucket"))
        return quality_corpus(decoded, keep=("url_bucket",))

    quality = CheckpointedStage(catalog, "curate_quality").run(
        pages_b, quality_fn
    )

    def survivors_fn(qdf: DataFrame) -> DataFrame:
        return keep_first(qdf, DD.lsh_candidate_pairs(qdf.select("doc_id", "text")))

    return CheckpointedStage(catalog, "curate_survivors").run(
        quality, survivors_fn
    )
