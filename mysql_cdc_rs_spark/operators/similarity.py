"""Similarity search over the embeddings table (array<float> column).

- brute-force cosine top-k: broadcast the (small) query set against the
  corpus — ONE pass over the corpus, no corpus self-shuffle.  This is the
  exactness baseline and also the correct 100 TB plan when |queries| is
  small: broadcast(queries) x corpus is embarrassingly parallel.
- LSH-bucketed variant (random-hyperplane signs): corpus is pre-bucketed by
  a portable deterministic sign-sketch; queries probe only their bucket —
  the scale path when |queries| is large.

Dot products run JVM-side via higher-order functions (zip_with + aggregate,
double precision, sequential fold) — bit-reproducible against the DuckDB
oracle's list_cosine_similarity on double-cast lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from mysql_cdc_rs_spark.operators.dedup import MAX_BUCKET


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, neighbor_id): each query's ``k`` highest-``sim``
    candidates, ties to the lower vec_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"))
    )


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """(query_id, rank, neighbor_id) — exact cosine top-k per query.

    Output is rank/id only (no float column): float round-trip noise can't
    flip equality checks, only genuine rank changes could.
    """
    # Norms are folded ONCE PER VECTOR on each join input (they depend on
    # one side only), not per scored pair: inlined in the pair projection,
    # cosine() re-folds sqrt(dot(q,q)) and sqrt(dot(e,e)) |queries| resp.
    # |corpus| times over — 3 interpreted 64-dim folds per pair where one
    # suffices.  sim is arithmetically IDENTICAL: same sequential folds,
    # same sqrt operands, same multiply order as cosine().
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    ).withColumn("_nq", F.sqrt(_dot(F.col("q_emb"), F.col("q_emb"))))
    scored = (
        corpus.withColumn(
            "_ne", F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        )
        .crossJoin(broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "sim",
            _dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("_nq") * F.col("_ne")),
        )
    )
    return _top_k(scored, k)


# --- LSH (random hyperplane) path -------------------------------------------

N_PLANES = 8


def plane_weight(plane: int, dim: int) -> int:
    """Deterministic pseudo-hyperplane weight in {-1,+1}.

    Computed in Python from md5("plane:dim") and inlined as a CONSTANT in
    both the Spark expression and the DuckDB oracle — bucket assignment is
    engine-independent and costs nothing at runtime.
    """
    import hashlib

    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 0 else -1


def lsh_bucket(emb, dim: int):
    """Sign-sketch bucket id: bit p = sign(sum_d w(p,d) * emb[d]).

    The projection is ONE aggregate(zip_with(emb, weights, *)) fold per
    plane over a literal weights array — codegen stays compact at any dim
    (a chained `+` expression tree grows linearly and blows past the
    codegen limit around dim 768).  The fold is sequential left-to-right
    in double, starting at 0.0: bit-identical to the oracle's chained sum
    because 0.0 + x == x for every product the fold sees.
    """
    bucket = F.lit(0).cast("long")
    for p in range(N_PLANES):
        weights = F.array(
            *[F.lit(float(plane_weight(p, d))) for d in range(dim)]
        )
        proj = F.aggregate(
            F.zip_with(emb, weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_bucket_sql(emb_expr: str, dim: int) -> str:
    """DuckDB twin of lsh_bucket (1-based list indexing)."""
    parts = []
    for p in range(N_PLANES):
        terms = " + ".join(
            f"{emb_expr}[{d + 1}]::DOUBLE * ({float(plane_weight(p, d))})"
            for d in range(dim)
        )
        parts.append(
            f"(CASE WHEN ({terms}) > 0 THEN {1 << p} ELSE 0 END)::BIGINT"
        )
    return "(" + " + ".join(parts) + ")"


def lsh_topk(
    corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10
) -> DataFrame:
    """ANN top-k probing only the query's LSH bucket.

    At 10^12 vectors the bucket column is the table's physical partition key
    (write once, probe by partition pruning); here it is computed inline.
    """
    # NOTE: deliberately NOT the per-side norm precompute brute_force_topk
    # uses — here the bucket equi-join keeps only ~|queries| x bucket-size
    # pairs, far fewer than |corpus|, so folding a norm for every corpus
    # row costs more than the per-pair re-folds it would save (measured:
    # 0.94s -> 1.04s at sf1.0 with the precompute).
    cb = corpus.withColumn("bucket", lsh_bucket(F.col("embedding"), dim))
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    ).withColumn("bucket", lsh_bucket(F.col("q_emb"), dim))
    scored = (
        cb.join(broadcast(q), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("q_emb"), F.col("embedding")))
    )
    return _top_k(scored, k)


def neardup_pairs(
    corpus: DataFrame, dim: int, min_cos: float, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """Embedding near-duplicate pairs within LSH buckets (cos >= threshold).

    Same scale shape as dedup.lsh_candidate_pairs: the corpus is scanned
    ONCE (a self-join would evaluate the bucket projection twice over the
    corpus), bucket members are capped at ``max_bucket`` via a row_number
    window sharing the groupBy's partitioning, and pairs explode in-bucket
    from the bounded member array.
    """
    # the vector norm rides inside the member struct: folded once per
    # corpus vector in the single scan, so each in-bucket pair folds ONE
    # dot product instead of three (struct sort order is unchanged —
    # vec_id leads and is unique)
    cb = corpus.select(
        "vec_id",
        "embedding",
        lsh_bucket(F.col("embedding"), dim).alias("bucket"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    w = Window.partitionBy("bucket").orderBy("vec_id")
    bounded = cb.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= max_bucket
    )
    members = (
        bounded.groupBy("bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("vec_id", "embedding", "nrm"))
            ).alias("ms")
        )
        .where(F.size("ms") >= 2)
    )
    # The members relation is tiny in BYTES (one row per occupied bucket),
    # so AQE coalesces the post-agg stage to a handful of tasks — but the
    # work below it (pair explode + one dot fold per pair) is QUADRATIC in
    # bucket occupancy, not byte-proportional.  Round-robin the bucket
    # rows across the session's cores before exploding (measured at sf1.0:
    # the 930k-pair dot stage ran on 5 tasks, 1.83s -> spread).  Target is
    # defaultParallelism, never a constant.
    members = members.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism
    )
    pairs = members.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(ms) - 1), "
                "i -> transform(slice(ms, i + 1, size(ms) - i), "
                "y -> struct(element_at(ms, i) AS a, y AS b))))"
            )
        ).alias("p")
    )
    return (
        pairs.withColumn(
            "sim",
            _dot(F.col("p.a.embedding"), F.col("p.b.embedding"))
            / (F.col("p.a.nrm") * F.col("p.b.nrm")),
        )
        .where(F.col("sim") >= min_cos)
        .select(
            F.col("p.a.vec_id").alias("vec_a"),
            F.col("p.b.vec_id").alias("vec_b"),
        )
        .distinct()
    )


# --- IVF (inverted-file) path ------------------------------------------------

KMEANS_SCALE = 1_000_000  # fixed-point e6 units: exact in BIGINT + double


def _int_embeddings(corpus: DataFrame) -> DataFrame:
    """embedding float[] -> exact e6 BIGINT[] (portable across engines)."""
    return corpus.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
            f"* {KMEANS_SCALE} + 0.5) AS BIGINT))"
        ).alias("ei"),
    )


def kmeans_centroids_int(
    corpus: DataFrame, dim: int, k: int = 8, rounds: int = 1
) -> list[tuple[int, list[int]]]:
    """The trained coarse-quantizer codebook: init at the k lowest vec_ids,
    then ``rounds`` exact-integer Lloyd's updates.  Returns
    [(cent_id, e6_ints)] — driver-held k*dim ints, broadcast-sized."""
    e6 = _int_embeddings(corpus)
    cents = [
        (int(r["vec_id"]), list(r["ei"]))
        for r in e6.orderBy("vec_id").limit(k).collect()
    ]
    for _ in range(rounds):
        assigned = _assign_int(e6, cents)
        means = assigned.groupBy("cent_id").agg(
            *[
                F.floor(
                    F.sum(F.element_at("ei", d + 1)) / F.count("*")
                ).cast("long").alias(f"m{d}")
                for d in range(dim)
            ]
        )
        cents = sorted(
            (int(r["cent_id"]), [int(r[f"m{d}"]) for d in range(dim)])
            for r in means.collect()
        )
    return cents


def kmeans_train_int(
    corpus: DataFrame, dim: int, k: int = 8, iters: int = 2
) -> DataFrame:
    """Distributed Lloyd's k-means — the IVF coarse-quantizer TRAINING step
    the assignment path consumes (closing the 'assignment only' gap).

    Everything is EXACT integer arithmetic so the result is bit-identical
    in any engine: embeddings quantize to e6 BIGINTs, distances are
    integer squared-L2, new centroids are floor(per-dim mean).  Ties break
    to the lowest cent_id.  Init = the k lowest vec_ids (deterministic).

    Scale shape: per iteration the corpus is scanned once against k
    BROADCAST literal centroids (k*dim ints — driver-held, like the
    reference's bounded caches) and the recompute is one groupBy(cent_id)
    with dim column aggregates — map-side partials, no wide shuffle.
    Empty clusters drop out (both engines derive clusters purely from the
    group results, so they agree).  Returns (vec_id, cent_id, dist) after
    ``iters`` assignment rounds.
    """
    e6 = _int_embeddings(corpus)
    cents = kmeans_centroids_int(corpus, dim, k, rounds=iters - 1)
    return _assign_int(e6, cents).select("vec_id", "cent_id", "dist")


def _assign_int(e6: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Assign each e6 vector to its min-squared-L2 centroid (ties -> lowest
    cent_id).  ONE expression: distances via transform over the literal
    centroid matrix (each fold evaluated exactly once), then an argmin fold
    over the k (id, dist) structs.  A when-chain over separate fold
    expressions re-evaluates every distance 2-3x after projection collapse
    — measured 5x slower."""
    ids_sql = "array(" + ",".join(str(cid) + "L" for cid, _ in cents) + ")"
    cent_sql = "array(" + ",".join(
        "array(" + ",".join(f"{v}L" for v in c) + ")" for _, c in cents
    ) + ")"
    best = F.expr(
        "aggregate("
        f"  zip_with({ids_sql}, transform({cent_sql}, c -> "
        "     aggregate(zip_with(ei, c, (a, b) -> (a - b) * (a - b)), "
        "               0L, (acc, v) -> acc + v)), "
        "    (i, d) -> struct(i AS cid, d AS dist)), "
        "  CAST(NULL AS struct<cid:bigint, dist:bigint>), "
        "  (best, x) -> CASE WHEN best IS NULL OR x.dist < best.dist "
        "               THEN x ELSE best END)"
    )
    return e6.select("vec_id", "ei", best.alias("b")).select(
        "vec_id", "ei",
        F.col("b.cid").cast("int").alias("cent_id"),
        F.col("b.dist").alias("dist"),
    )

def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every vector to its max-cosine centroid (coarse quantizer).

    At 10^12 scale the assignment is a one-off build job and the centroid id
    becomes the table's physical partition key; queries probe one (or a few)
    centroid partitions — partition pruning does the candidate cut.

    Scale shape (the round-3 formulation crossJoined corpus x k then took a
    row_number window over vec_id — a full shuffle of a k-expanded corpus
    just to compute an argmax): the codebook is collapsed to ONE row (an
    array of k (cent_id, embedding) structs, broadcast — k*dim values,
    bounded by construction like the reference's LRU caches), and the
    argmax-cosine is a transform + fold PROJECTION per corpus row.  The
    corpus is scanned once, never expanded, never shuffled; no Window.

    The per-centroid cosine uses the exact same double arithmetic as
    ``cosine()`` (sequential zip_with/aggregate folds), so assignments are
    bit-identical to the former window formulation and to the SQL oracles
    FOR FINITE SIMS.  A zero-norm vector or centroid yields sim = NaN,
    where the two formulations legitimately diverge: every SQL comparison
    with NaN is false, so the fold keeps its incumbent, while Spark's
    orderBy ranks NaN as the LARGEST double and the old window would have
    ranked that centroid first.  The fold's keep-incumbent behavior is the
    intended semantic (a degenerate centroid never wins an assignment);
    k-means-trained codebooks cannot contain zero-norm centroids (a
    centroid is a mean of assigned member vectors), and the generator
    corpus has no zero-norm embeddings, so the divergence is unreachable
    in every shipped query.  Ties break to the lowest cent_id (struct
    array is sorted by cent_id and the fold keeps the incumbent on equal
    sim).
    """
    # centroid norms are computed ONCE on the k-row side (sqrt of the same
    # sequential fold cosine() uses) and travel inside the codebook structs
    # — inlining sqrt(dot(cemb,cemb)) in the per-row lambda would re-fold
    # it per corpus row x per centroid after projection collapse
    codebook = centroids.select(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("cemb"),
                    F.sqrt(
                        _dot(F.col("embedding"), F.col("embedding"))
                    ).alias("nc"),
                )
            )
        ).alias("cents")
    )
    # the corpus-vector norm is attached BELOW the join: a withColumn above
    # it would be collapsed into the transform lambda and re-folded once
    # per centroid; as a join-input attribute it is computed once per row
    withne = corpus.withColumn(
        "_ne", F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    )
    scored = withne.crossJoin(broadcast(codebook))
    sims = F.expr(
        "transform(cents, c -> struct(c.cid AS cid, "
        "  aggregate(zip_with(embedding, c.cemb, "
        "            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) "
        "  / (_ne * c.nc) AS sim))"
    )
    best = F.aggregate(
        sims,
        F.lit(None).cast("struct<cid:bigint,sim:double>"),
        lambda b, x: F.when(
            b.isNull() | (x["sim"] > b["sim"]), x
        ).otherwise(b),
    )
    return scored.withColumn("_best", best).select(
        "vec_id", "embedding", F.col("_best.cid").alias("cent_id")
    )


def ivf_topk_nprobe(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """ANN top-k probing the query's ``nprobe`` nearest IVF cells — the
    recall lever of inverted-file search: nprobe=1 misses neighbors that
    fell just across a cell boundary; probing the next-nearest cells
    recovers them at ``nprobe``x the candidate cost, still a tiny fraction
    of the corpus.  Plan shape is unchanged from nprobe=1: the corpus is
    scanned once (assignment), the (query, probe-cell) pairs are a
    BROADCAST side of queries*nprobe rows, and the cell id remains the
    partition-pruning key at 10^12 scale."""
    assigned = ivf_assign(corpus, centroids)
    c = centroids.select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    qscored = q.crossJoin(broadcast(c)).withColumn(
        "cent_sim", cosine(F.col("q_emb"), F.col("cent_emb"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cent_sim").desc(), F.col("cent_id").asc()
    )
    probes = (
        qscored.withColumn("r", F.row_number().over(wq))
        .where(F.col("r") <= nprobe)
        .select("query_id", "q_emb", "cent_id")
    )
    scored = (
        assigned.join(broadcast(probes), "cent_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("q_emb"), F.col("embedding")))
    )
    return _top_k(scored, k)


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, centroids: DataFrame, k: int = 10
) -> DataFrame:
    """ANN top-k probing only the query's IVF cell (nprobe=1)."""
    assigned = ivf_assign(corpus, centroids)
    q = ivf_assign(queries, centroids).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "cent_id",
    )
    scored = (
        assigned.join(broadcast(q), "cent_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("q_emb"), F.col("embedding")))
    )
    return _top_k(scored, k)
