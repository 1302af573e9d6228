"""Deduplication operators over the documents table.

Training-data-pipeline staples, each designed for 100 TB first and oracle
verifiability second:

- exact:     hash-groupBy on md5(text) — one shuffle on a short key.
- minhash:   word-shingle minhash signatures; NO pairwise comparison — LSH
             banding turns near-dup detection into an equi-join on band
             buckets, which is the only formulation that survives 10^12 docs
             (pairwise cosine/jaccard is O(n^2) and dead on arrival).
- simhash:   64->32-bit sign-sketch; near-dups share the sketch value
             (or low hamming distance at scale).
- ngram jaccard: EXACT verifier applied only to LSH candidate pairs.

All hashing is portable_hash60 (md5-based) so every operator has an exact
DuckDB oracle.  Skew note: shingle explode multiplies rows ~Nx; the explode
happens AFTER a select of (doc_id, text) only, and the re-aggregation key is
doc_id (uniform), so no hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.functions.text import (
    MERSENNE_P,
    minhash_coeffs,
    portable_hash60,
    word_shingles,
    words_of,
)
from mysql_cdc_rs_spark.operators import stats as S

MINHASH_K = 64   # hash family size (production-grade; r=4 rows/band)
LSH_BANDS = 16   # bands of ROWS_PER_BAND minhash values each
ROWS_PER_BAND = MINHASH_K // LSH_BANDS
SIMHASH_BITS = 32
MAX_BUCKET = 512  # degenerate-bucket cap: max members considered per bucket


def exact_dedup_stats(docs: DataFrame) -> DataFrame:
    """Exact-dup census: total docs, distinct texts, redundant rows."""
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(F.md5("text")).alias("n_distinct_texts"),
        (F.count("*") - F.count_distinct(F.md5("text"))).alias("n_redundant"),
    )


def exact_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Exact dedup keeping the lowest doc_id per text hash."""
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    )


def shingled(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded rows — distinct per doc."""
    return (
        docs.select("doc_id", words_of(F.col("text")).alias("words"))
        .select("doc_id", F.explode(word_shingles("words")).alias("shingle"))
        .distinct()
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id -> MINHASH_K minhash values (universal-hash family).

    ONE md5 base hash per shingle, then k = MINHASH_K integer (a*h + b) % p
    derivations — k=64 costs 1 hash + 64 multiply-adds per shingle, not 64
    hashes.  Min-aggregations over the exploded shingles: ONE shuffle on
    doc_id, map-side partial mins, no per-row Python.  Deliberately NO
    distinct on the exploded shingles: min() is idempotent to duplicates,
    and the distinct would hash-repartition the largest intermediate of the
    whole dedup path (the exploded corpus) for nothing.

    The k aggregates are SQL strings, one ``F.expr`` each: the same plan as
    the Column-API build, but about one py4j call per aggregate instead of
    ten, which took the driver seconds per plan at k=64.
    """
    sh = docs.select(
        "doc_id", words_of(F.col("text")).alias("words")
    ).select(
        "doc_id", F.explode(word_shingles("words")).alias("shingle")
    ).withColumn(
        "h", portable_hash60(F.col("shingle")) % F.lit(MERSENNE_P)
    )
    aggs = []
    for i in range(MINHASH_K):
        a, b = minhash_coeffs(i)
        aggs.append(F.expr(f"min(({a} * h + {b}) % {MERSENNE_P}) AS mh{i}"))
    return sh.groupBy("doc_id").agg(*aggs)


def banded_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, bucket) — one row per doc per band.

    Built as one ``inline`` SQL string over the band structs (see
    ``minhash_signatures`` for why strings)."""

    def band(b: int) -> str:
        mh = ", ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        return f"named_struct('band_id', {b}, 'bucket', concat_ws('_', {mh}))"

    structs = ", ".join(band(b) for b in range(LSH_BANDS))
    return minhash_signatures(docs).selectExpr(
        "doc_id", f"inline(array({structs}))"
    )


def doc_rank(rows: DataFrame, name: str, *keys: str) -> DataFrame:
    """``rows`` plus column ``name``: each row's 1-based position in its
    ``keys`` group, ordered by doc_id — the bucket position that both the
    member cap and keep-first read."""
    w = Window.partitionBy(*keys).orderBy("doc_id")
    return rows.withColumn(name, F.row_number().over(w))


def ranked_buckets(docs: DataFrame) -> DataFrame:
    """``banded_buckets(docs)`` ranked within each band bucket (``rn``)."""
    return doc_rank(banded_buckets(docs), "rn", "band_id", "bucket")


def keep_first_drops(
    ranked: DataFrame, pos: str, obs: Observation | None
) -> DataFrame:
    """Keep-first's drop set: the distinct doc_ids of ``ranked`` that sit
    at bucket position 2 to ``MAX_BUCKET`` of some bucket.  Position 1 is
    the bucket's keeper, and members past the cap are never compared, so
    they survive.  ``pos`` is the SQL expression of the position (``rn``
    in batch, prior members + arrival rank in the stream); ``obs``, when
    given, observes the cap census (``stats.cap_record``) on it.

    Over ``ranked_buckets`` this is exactly the distinct ``doc_b`` of
    ``lsh_candidate_pairs``, without building a pair: no member arrays,
    no explode."""
    if obs is not None:
        ranked = ranked.observe(obs, *S.cap_record(pos, MAX_BUCKET))
    return (
        ranked.where(F.expr(pos).between(2, MAX_BUCKET))
        .select("doc_id")
        .distinct()
    )


def _capped_pairs(ranked: DataFrame, max_bucket: int, *keys: str) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b, for every pair of the ``max_bucket``
    lowest-ranked (``rn``) members of each ``keys`` group of ``ranked``:
    the i < j pairs of the group's sorted member array.

    The cap is applied BEFORE the collect_list, on a window over the same
    key as the groupBy: they share partitioning, so the cap costs a sort,
    not an extra shuffle, and no executor ever materializes an unbounded
    member array."""
    pairs = F.expr(
        "flatten(transform(sequence(1, size(ids) - 1), "
        "i -> transform(slice(ids, i + 1, size(ids) - i), "
        "y -> struct(element_at(ids, i) AS doc_a, y AS doc_b))))"
    )
    return (
        ranked.where(F.col("rn") <= max_bucket)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    max_bucket: int = MAX_BUCKET,
    obs: Observation | None = None,
) -> DataFrame:
    """Near-dup candidate pairs: docs sharing any LSH band bucket.

    Scale-critical shape: NO self-join (a self-join would recompute the
    whole shingle->minhash subtree twice and shuffle the corpus against
    itself).  Instead: groupBy bucket -> member list -> explode in-bucket
    pairs.  Bucket occupancy is small by LSH construction, so the pair
    arrays stay tiny; work is one shuffle on the bucket key.

    Degenerate buckets (e.g. boilerplate/empty-ish docs sharing a
    signature) are HARD-CAPPED at ``max_bucket`` members, the lowest
    doc_ids (deterministic; see ``_capped_pairs``).  Curation needs only
    the distinct ``doc_b`` and takes it from ``keep_first_drops``; the
    pairs are for consumers of the partners (the Jaccard verifier).

    ``obs`` observes the cap census (``stats.cap_record``) on the window,
    in whatever action runs the pairs; the pairs do not change.
    """
    ranked = ranked_buckets(docs)
    if obs is not None:
        ranked = ranked.observe(obs, *S.cap_record("rn", max_bucket))
    return _capped_pairs(ranked, max_bucket, "band_id", "bucket").distinct()


def shared_shingle_inter(
    docs: DataFrame, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """(doc_a, doc_b, n_inter) for docs sharing >=1 shingle — the standalone
    feed of the Jaccard verifier.

    Same degenerate-group discipline as lsh_candidate_pairs: a stop-word
    3-gram shared by millions of docs would otherwise explode O(n^2) pairs
    in one group, so membership is HARD-CAPPED at ``max_bucket`` lowest
    doc_ids per shingle.  For pairs whose docs both survive every cap the
    count is exact; docs shed by a cap contribute nothing for that shingle
    — bounded work is the contract, exactness holds whenever no group
    exceeds the cap.
    """
    ranked = doc_rank(shingled(docs), "rn", "shingle")
    return (
        _capped_pairs(ranked, max_bucket, "shingle")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    min_jaccard: float = 0.0,
    candidates: DataFrame | None = None,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Exact word-3-gram Jaccard verifier.

    Two modes:
    - ``candidates`` given — the 100 TB shape: exact Jaccard is computed
      ONLY for the supplied (doc_a, doc_b) pairs (lsh_candidate_pairs
      output is the natural feed), via two equi-joins of the pairs against
      the shingle rows.  Work is O(|candidates| * shingles-per-doc), never
      corpus-quadratic.
    - standalone — small-SF exactness over shared-shingle pairs, with the
      ``max_bucket`` cap enforced (see shared_shingle_inter): a degenerate
      common shingle cannot explode the group.
    """
    sh = shingled(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    if candidates is not None:
        cand = candidates.select("doc_a", "doc_b").distinct()
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        # merge-join hints, deliberately: every input here scales with the
        # corpus (|pairs| with its dup mass, shingles with its text), and
        # the pair x shingle intermediate defeats Catalyst's size
        # estimation — at 200k generator docs the planner mis-estimated it
        # under the broadcast threshold and OOM'd the driver building the
        # broadcast (caught by the round-5 verify census).  SMJ is the
        # spill-safe strategy for joins whose BOTH sides are unbounded by
        # construction; this is the same reasoning as curate's un-hinted
        # anti-join, landing on the opposite conclusion because there the
        # small side CAN legitimately be small.
        inter = (
            cand.hint("merge")
            .join(a.hint("merge"), "doc_a")
            .join(b.hint("merge"), ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_inter"))
        )
        # the per-doc size table is corpus-sized too (one row per doc) —
        # same no-broadcast reasoning on the at-scale path; standalone
        # mode below stays planner-chosen (it is the small-SF oracle leg)
        sizes = sizes.hint("merge")
    else:
        inter = shared_shingle_inter(docs, max_bucket)
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").alias("sa"), "doc_a")
        .withColumnRenamed("n_sh", "n_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").alias("sb"), "doc_b")
        .withColumnRenamed("n_sh", "n_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def simhash(docs: DataFrame) -> DataFrame:
    """SIMHASH_BITS-bit simhash per doc from word hashes (sign-of-sum per
    bit).

    One explode + one groupBy(doc_id) with one conditional sum per bit — all
    JVM-side; the bit assembly is a single sum of powers of two.
    """
    w = docs.select(
        "doc_id", F.explode(words_of(F.col("text"))).alias("word")
    ).withColumn("h", portable_hash60(F.col("word")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = w.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return per_doc.select("doc_id", sim.alias("simhash"))
