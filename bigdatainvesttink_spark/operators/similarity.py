"""Similarity search over ``embeddings`` (SURVEY.md §2-D3): brute-force
cosine top-k as the exactness baseline, label-blocked near-dup pairs, and a
sign-LSH bucketed variant as the 100 TB path.

All vector math runs on float64 (embeddings are float32 at rest — both
engines widen before multiplying). Blocked/grid-sized scoring stays in
JVM-side higher-order functions (zip_with / aggregate — no data leaves
Tungsten); the UNBLOCKED brute-force truth paths run through the Arrow
matmul top-k (functions/vectorized.brute_force_topk, round-6 re-plan —
the pair-join form materialized |Q| x |corpus| array-carrying rows and
was the 10x scale run's wall). Scores are rounded to 6dp on both engines
before ranking so cross-engine float noise (~1e-15) can never reorder
results; ties break on vec_id.

Scale notes:
  * brute force is O(Q*N) — correct baseline, and the right choice when Q is
    small; the matmul kernel emits only the could-be-top-k superset, so
    O(Q*N) is compute, never rows;
  * the near-dup pair search blocks on `label` (the IVF-cell analog): work
    drops from N^2 to sum(block^2); at 100 TB blocks come from a coarse
    quantizer and the same plan applies;
  * sign-LSH reduces candidate generation to an 8-bit bucket equi-join;
    hyperplanes are pseudo-random integers derived from (plane, dim) index
    arithmetic so the oracle reproduces them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import LOG
from ..io import load_table
from ..registry import query

_W_FORMULA = "((p*64 + d + 1) * 2654435761) % 2001 - 1000"  # plane weights


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with float64 vectors + precomputed L2 norm."""
    e = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        "label",
        as_double.alias("e"),
    ).withColumn("norm", F.sqrt(_dot(F.col("e"), F.col("e"))))


def _n_vectors(sf_dir: str) -> int | None:
    """Embedding-corpus row count from the parquet footer (driver-side,
    metadata-only; None when the path isn't pyarrow-reachable) — the
    bounded statistic behind `_bounded_broadcast`."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
    except (OSError, ImportError, ValueError):
        return None


def _bounded_broadcast(df: DataFrame, est_rows: int | None,
                       row_bytes: int) -> DataFrame:
    """Broadcast hint gated on an observed size estimate (the
    c_stream_neardup_flags pattern, VERDICT r8 ask #1): the gated sides
    (d3 eval queries, hot-shingle lists, TF-IDF document frequencies)
    are corpus-proportional, so a hard ``F.broadcast`` would force the
    build at ANY corpus size and OOM where it should degrade. Hint only
    while est_rows * row_bytes stays inside the 10 MB-class default
    (SPARK_GRAFT_BOUNDED_BROADCAST_BYTES overrides — shared by every
    call site, hence the neutral name); past it the equi-join becomes
    an ordinary shuffle. Unknown size (None) DROPS the hint — fail-safe
    (VERDICT r9 ask #2): a broken statistic source at a 100 TB corpus
    must degrade to a shuffle, not silently force the broadcast; AQE's
    runtime size measurement still broadcasts genuinely small sides."""
    import os

    if est_rows is None:
        LOG.warning(
            "bounded-broadcast statistic unavailable (footer unreadable); "
            "dropping the broadcast hint — AQE decides at runtime"
        )
        return df
    cap = int(
        os.environ.get("SPARK_GRAFT_BOUNDED_BROADCAST_BYTES", str(10 << 20))
    )
    if est_rows * row_bytes <= cap:
        return F.broadcast(df)
    return df


def _dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product via higher-order functions (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# DuckDB spelling of the same float64 pipeline.
_O_VEC = """
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS norm
    FROM embeddings
"""


# --------------------------------------------------------------------------
# D3a: brute-force cosine top-k — every 10th vector queries the full set.
# Plan: tiny query side broadcast against one scan of the corpus; ranking
# window partitions by query id.
@query(
    "d3_ann_bruteforce_topk",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        q AS (SELECT * FROM v WHERE vec_id % 10 = 0),
        scored AS (
            SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                   round(list_dot_product(q.e, v.e) / (q.norm * v.norm), 6) AS cosine
            FROM q JOIN v ON v.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, cosine, rnk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
            FROM scored
        ) r WHERE rnk <= 5
    """,
)
def d3_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Re-planned round 6: the BroadcastNestedLoopJoin materialized one
    # row per (query, corpus) pair carrying both 64-dim arrays — the
    # wall of the 10x scale run. brute_force_topk scans the corpus once,
    # scores each Arrow batch with a single matmul, and only the
    # could-be-top-k superset ever becomes rows (proof of exact
    # equivalence in functions/vectorized.py).
    from ..functions.vectorized import brute_force_topk

    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    return brute_force_topk(v, q, 5)


# --------------------------------------------------------------------------
# D3b: embedding near-dup pairs — the corpus has no natural near-dups (max
# same-label cosine 0.41), so blended clones (3*a + next) are synthesized
# with identical integer/float arithmetic on both engines; pair search then
# blocks on label and thresholds cosine >= 0.9.
@query(
    "d3_embedding_neardup",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        nxt AS (
            SELECT a.vec_id, a.label,
                   [3.0 * a.e[i+1] + b.e[i+1] FOR i IN range(64)] AS e
            FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
        ),
        aug AS (
            SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS norm FROM v
            UNION ALL
            SELECT vec_id + 100000, label, e, sqrt(list_dot_product(e, e)) FROM nxt
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
               round(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6) AS cosine
        FROM aug a JOIN aug b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6) >= 0.9
    """,
)
def d3_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir).select("vec_id", "label", "e")
    nxt = (
        v.alias("a")
        .join(v.alias("b"), F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            (F.col("a.vec_id") + 100000).alias("vec_id"),
            F.col("a.label").alias("label"),
            F.zip_with(
                "a.e", "b.e", lambda x, y: F.lit(3.0) * x + y
            ).alias("e"),
        )
    )
    # Both sides of the label-blocked pair join consume aug; persist so
    # the corpus ⋈ corpus augmentation join runs once, not twice (§5).
    aug = v.unionByName(nxt).persist()
    a, b = aug.alias("x"), aug.alias("y")
    # Arrow-vectorized cosine: the candidate set is |block|^2-sized, and the
    # per-pair zip_with fold allocates an intermediate array each time —
    # numpy einsum over Arrow batches is ~10x cheaper. round6 keeps it
    # interchangeable with the JVM fold and the oracle (module docstring).
    from ..functions.vectorized import cosine_pandas

    cosine = F.round(cosine_pandas(F.col("x.e"), F.col("y.e")), 6)
    return (
        a.join(
            b,
            (F.col("x.label") == F.col("y.label"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            F.col("x.label").alias("label"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.9)
    )


def _sign_lsh_bucketed(v: DataFrame) -> DataFrame:
    """v plus its 8-bit sign-LSH ``bucket`` (shared by search + recall eval)."""
    p = F.explode(F.sequence(F.lit(0), F.lit(7))).alias("p")
    weights = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: (
            ((F.col("p") * 64 + d + 1) * 2654435761) % 2001 - 1000
        ).cast("double"),
    )
    proj = v.select("vec_id", "e", p).select(
        "vec_id", "p", _dot(F.col("e"), weights).alias("dotp")
    )
    bucketed = proj.groupBy("vec_id").agg(
        F.sum(
            F.when(
                F.col("dotp") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p AS INT))"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("bucket")
    )
    return v.join(bucketed, "vec_id")


# --------------------------------------------------------------------------
# D3c: sign-LSH bucketing (the scale path) — 8 deterministic pseudo-random
# hyperplanes hash every vector to an 8-bit bucket; queries then rank only
# within-bucket candidates. Candidate generation is a bucket equi-join:
# at 100 TB the all-pairs problem becomes 256 co-partitioned joins.
@query(
    "d3_ann_lsh_bucketed",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        proj AS (
            SELECT vec_id, p,
                   list_sum([e[d+1] * CAST({_W_FORMULA} AS DOUBLE)
                             FOR d IN range(64)]) AS dotp
            FROM v, (SELECT unnest(range(8)) AS p)
        ),
        bucketed AS (
            SELECT vec_id,
                   CAST(SUM(CASE WHEN dotp > 0
                        THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM proj GROUP BY vec_id
        ),
        vv AS (SELECT v.*, b.bucket FROM v JOIN bucketed b USING (vec_id)),
        q AS (SELECT * FROM vv WHERE vec_id % 10 = 0),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
                   round(list_dot_product(q.e, c.e) / (q.norm * c.norm), 6) AS cosine
            FROM q JOIN vv c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, bucket, cosine, rnk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
            FROM scored
        ) r WHERE rnk <= 3
    """,
)
def d3_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    vv = _sign_lsh_bucketed(_vectors(spark, sf_dir))
    q = vv.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        vv.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("bucket"),
            F.round(
                _dot(F.col("qe"), F.col("e")) / (F.col("qnorm") * F.col("norm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)


# --------------------------------------------------------------------------
# Vector utilities — the prep steps every embedding pipeline runs before
# search/clustering. All element-wise work stays in JVM higher-order
# functions; nothing leaves Tungsten.

_DIM = 64


# L2 normalization: unit-length vectors (rounded to 6dp on both engines so
# the fold-order of the norm can't flip a last ulp).
@query(
    "d3_embedding_normalize",
    oracle=f"""
        WITH v AS ({_O_VEC})
        SELECT vec_id, CAST(i AS BIGINT) AS pos,
               round(e[i + 1] / norm, 6) AS unit_x
        FROM v, (SELECT unnest(range({_DIM})) AS i)
        WHERE norm > 0
    """,
)
def d3_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Long form (one row per dimension): the driver's canonicalizer hashes
    # scalar cells only; the array-valued variant is F.transform inline.
    v = _vectors(spark, sf_dir).filter(F.col("norm") > 0)
    unit = F.transform("e", lambda x: F.round(x / F.col("norm"), 6))
    return v.select(
        "vec_id", F.posexplode(unit).alias("pos", "unit_x")
    ).withColumn("pos", F.col("pos").cast("long"))


# Per-vector int8-style scalar quantization: min/max range mapped onto
# [0, 255] with floor + clamp (floor, not round: both engines floor doubles
# identically, while round ties could disagree). min/max are order-free, so
# no float hazard anywhere.
@query(
    "d3_embedding_quantize",
    oracle=f"""
        WITH v AS ({_O_VEC})
        SELECT vec_id, list_min(e) AS mn, list_max(e) AS mx,
               CAST(i AS BIGINT) AS pos,
               CASE WHEN list_min(e) = list_max(e)
                    THEN CAST(0 AS BIGINT)
                    ELSE LEAST(CAST(floor((e[i + 1] - list_min(e)) * 256
                                          / (list_max(e) - list_min(e)))
                                    AS BIGINT), 255)
               END AS q_x
        FROM v, (SELECT unnest(range({_DIM})) AS i)
    """,
)
def d3_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    mn, mx = F.array_min("e"), F.array_max("e")
    q = F.when(
        mn == mx, F.transform("e", lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(
            "e",
            lambda x: F.least(
                F.floor((x - mn) * 256 / (mx - mn)).cast("long"), F.lit(255)
            ),
        )
    )
    return (
        v.select(
            "vec_id",
            mn.alias("mn"),
            mx.alias("mx"),
            F.posexplode(q).alias("pos", "q_x"),
        )
        .withColumn("pos", F.col("pos").cast("long"))
        .select("vec_id", "mn", "mx", "pos", "q_x")
    )


# Per-label centroids: decimal-exact per-dimension means (posexplode ->
# two-phase agg -> re-collect ordered by dim). The oracle rebuilds the same
# (label, dim) grid with a range join. This IS the IVF training step's
# inner loop, expressed as one shuffle on (label, dim).
@query(
    "d3_label_centroids",
    oracle=f"""
        WITH v AS ({_O_VEC})
        SELECT label, CAST(i AS BIGINT) AS pos,
               CAST(SUM(CAST(e[i + 1] AS DECIMAL(27,6))) AS DOUBLE)
                   / COUNT(*) AS m,
               COUNT(*) AS n_vectors
        FROM v, (SELECT unnest(range({_DIM})) AS i)
        GROUP BY label, i
    """,
)
def d3_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Long form (label, pos, m): one shuffle on (label, pos); consumers that
    # want the dense vector re-collect with array_sort(collect_list(...)).
    v = _vectors(spark, sf_dir)
    ex = v.select("label", F.posexplode("e").alias("pos", "x"))
    return (
        ex.groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(27,6)")).cast("double")
                / F.count("*")
            ).alias("m"),
            F.count("*").alias("n_vectors"),
        )
        .withColumn("pos", F.col("pos").cast("long"))
        .select("label", "pos", "m", "n_vectors")
    )


def _ivf_centroids(v: DataFrame) -> DataFrame:
    """(cell, c: dense centroid vector, cnorm) — decimal-exact means per
    label, shared by the probe search and the recall eval."""
    ex = v.select("label", F.posexplode("e").alias("pos", "x"))
    grid = ex.groupBy("label", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(27,6)")).cast("double") / F.count("*")
        ).alias("m")
    )
    return (
        grid.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("c")
        )
        .select(
            F.col("label").alias("cell"),
            "c",
            F.sqrt(_dot(F.col("c"), F.col("c"))).alias("cnorm"),
        )
    )


def _ivf_assigned(v: DataFrame, modulus: int = 13) -> DataFrame:
    """(query_id, qe, qnorm, cell): each sampled query assigned to its
    nearest centroid via the 25-row broadcast cross join."""
    cent = _ivf_centroids(v)
    q = v.filter(F.col("vec_id") % modulus == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    scored = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "qe",
        "qnorm",
        "cell",
        F.round(
            _dot(F.col("qe"), F.col("c")) / (F.col("qnorm") * F.col("cnorm")), 6
        ).alias("ccos"),
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("cell").asc()
    )
    return (
        scored.withColumn("arnk", F.row_number().over(wa))
        .filter(F.col("arnk") == 1)
        .select("query_id", "qe", "qnorm", "cell")
    )


# --------------------------------------------------------------------------
# IVF probe search: the full inverted-file ANN read path. Train = the
# per-label centroids above; probe = assign each query vector to its nearest
# centroid (25-row broadcast cross join), then brute-force ONLY inside that
# cell — work drops from O(Q*N) to O(Q*N/cells). At 100 TB the corpus is
# hash-partitioned by cell id, so the probe join is a broadcast of the tiny
# assigned-query side against a partition-pruned scan. Centroids are
# decimal-exact means, so both engines see bit-identical floats; cosines are
# rounded to 6dp before ranking, ties on id/label.
@query(
    "d3_ivf_probe_topk",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        cent AS (
            SELECT label, list(m ORDER BY pos) AS c
            FROM (
                SELECT label, i AS pos,
                       CAST(SUM(CAST(e[i + 1] AS DECIMAL(27,6))) AS DOUBLE)
                           / COUNT(*) AS m
                FROM v, (SELECT unnest(range({_DIM})) AS i)
                GROUP BY label, i
            ) grid
            GROUP BY label
        ),
        cn AS (SELECT label AS cell, c,
                      sqrt(list_dot_product(c, c)) AS cnorm FROM cent),
        q AS (SELECT vec_id AS query_id, e AS qe, norm AS qnorm
              FROM v WHERE vec_id % 13 = 1),
        assign AS (
            SELECT query_id, qe, qnorm, cell,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY round(list_dot_product(qe, c)
                                      / (qnorm * cnorm), 6) DESC,
                                cell ASC) AS arnk
            FROM q CROSS JOIN cn
        ),
        probe AS (
            SELECT a.query_id, a.cell, v.vec_id AS neighbor_id,
                   round(list_dot_product(a.qe, v.e)
                         / (a.qnorm * v.norm), 6) AS cosine
            FROM assign a JOIN v ON v.label = a.cell AND v.vec_id <> a.query_id
            WHERE a.arnk = 1
        )
        SELECT query_id, cell, neighbor_id, cosine, rnk FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rnk
            FROM probe
        ) r WHERE rnk <= 3
    """,
)
def d3_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    assigned = _ivf_assigned(v)
    n = _n_vectors(sf_dir)
    probe = v.join(
        # query rows carry the dim-64 vector (~600 B/row UnsafeRow)
        _bounded_broadcast(assigned, None if n is None else n // 13 + 1,
                           600),
        (F.col("label") == F.col("cell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "cell",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("qe"), F.col("e")) / (F.col("qnorm") * F.col("norm")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return probe.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)


# --------------------------------------------------------------------------
# D3h: ANN quality evaluation — recall@5 of the sign-LSH candidate stage
# against the brute-force ground truth. This is the operator a production
# ANN deployment runs continuously: approximate indexes trade recall for
# cost, and the trade must be MEASURED, not assumed (the tuning loop for
# bands/planes/probes). Scale shape: ground truth is computed over a SAMPLE
# of queries (here every 10th vector, the same probe set the search queries
# use) — never the full corpus; the candidate join is the same 8-bit-bucket
# equi-join as d3_ann_lsh_bucketed; the final rollup is per-query then a
# tiny aggregate. recall = hits/5 is an integer ratio -> bit-exact.
@query(
    "d3_ann_recall_eval",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        q AS (SELECT * FROM v WHERE vec_id % 10 = 0),
        truth AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY round(list_dot_product(q.e, v.e)
                                          / (q.norm * v.norm), 6) DESC,
                                    v.vec_id ASC) AS rnk
                FROM q JOIN v ON v.vec_id <> q.vec_id
            ) r WHERE rnk <= 5
        ),
        proj AS (
            SELECT vec_id, p,
                   list_sum([e[d+1] * CAST({_W_FORMULA} AS DOUBLE)
                             FOR d IN range(64)]) AS dotp
            FROM v, (SELECT unnest(range(8)) AS p)
        ),
        bucketed AS (
            SELECT vec_id,
                   CAST(SUM(CASE WHEN dotp > 0
                        THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM proj GROUP BY vec_id
        ),
        vv AS (SELECT v.*, b.bucket FROM v JOIN bucketed b USING (vec_id)),
        cand AS (
            SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM (SELECT * FROM vv WHERE vec_id % 10 = 0) qq
            JOIN vv c ON c.bucket = qq.bucket AND c.vec_id <> qq.vec_id
        ),
        nc AS (SELECT query_id, COUNT(*) AS n_candidates
               FROM cand GROUP BY query_id)
        SELECT t.query_id,
               COALESCE(MAX(nc.n_candidates), 0) AS n_candidates,
               CAST(SUM(CASE WHEN c.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               SUM(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   / 5.0 AS recall_at_5
        FROM truth t
        LEFT JOIN cand c
          ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
        LEFT JOIN nc ON nc.query_id = t.query_id
        GROUP BY t.query_id
    """,
)
def d3_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = d3_ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    vv = _sign_lsh_bucketed(_vectors(spark, sf_dir))
    q = vv.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("bucket").alias("qbucket")
    )
    cand = (
        vv.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    nc = cand.groupBy("query_id").agg(F.count("*").alias("n_candidates"))
    hits = truth.join(
        cand.withColumn("__hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    per_q = hits.groupBy("query_id").agg(
        F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hits")
    )
    return (
        per_q.join(nc, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            "n_hits",
            (F.col("n_hits") / F.lit(5.0)).alias("recall_at_5"),
        )
    )


# --------------------------------------------------------------------------
# D3i: IVF recall eval — the same measurement as d3_ann_recall_eval for the
# OTHER index family: how much of the brute-force top-5 survives when the
# search is restricted to the query's single assigned IVF cell (nprobe=1).
# Together with the LSH eval this gives the engine's two approximate
# indexes a continuously-computable quality metric; raising nprobe trades
# cost for recall and this query is how that knob gets tuned.
@query(
    "d3_ivf_recall_eval",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        q AS (SELECT vec_id AS query_id, e AS qe, norm AS qnorm
              FROM v WHERE vec_id % 13 = 1),
        truth AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, v.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                           ORDER BY round(list_dot_product(q.qe, v.e)
                                          / (q.qnorm * v.norm), 6) DESC,
                                    v.vec_id ASC) AS rnk
                FROM q JOIN v ON v.vec_id <> q.query_id
            ) r WHERE rnk <= 5
        ),
        cent AS (
            SELECT label, list(m ORDER BY pos) AS c
            FROM (
                SELECT label, i AS pos,
                       CAST(SUM(CAST(e[i + 1] AS DECIMAL(27,6))) AS DOUBLE)
                           / COUNT(*) AS m
                FROM v, (SELECT unnest(range({_DIM})) AS i)
                GROUP BY label, i
            ) grid
            GROUP BY label
        ),
        cn AS (SELECT label AS cell, c,
                      sqrt(list_dot_product(c, c)) AS cnorm FROM cent),
        assign AS (
            SELECT query_id, cell FROM (
                SELECT q.query_id, cn.cell,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                           ORDER BY round(list_dot_product(q.qe, cn.c)
                                          / (q.qnorm * cn.cnorm), 6) DESC,
                                    cn.cell ASC) AS arnk
                FROM q CROSS JOIN cn
            ) a WHERE arnk = 1
        ),
        cand AS (
            SELECT a.query_id, v.vec_id AS neighbor_id
            FROM assign a JOIN v
              ON v.label = a.cell AND v.vec_id <> a.query_id
        ),
        nc AS (SELECT query_id, COUNT(*) AS n_candidates
               FROM cand GROUP BY query_id)
        SELECT t.query_id,
               COALESCE(MAX(nc.n_candidates), 0) AS n_candidates,
               CAST(SUM(CASE WHEN c.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               SUM(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   / 5.0 AS recall_at_5
        FROM truth t
        LEFT JOIN cand c
          ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
        LEFT JOIN nc ON nc.query_id = t.query_id
        GROUP BY t.query_id
    """,
)
def d3_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # truth re-planned round 6 onto the one-scan matmul top-k (see
    # functions/vectorized.brute_force_topk — the pair-join predecessor
    # was the 10x scale run's wall)
    from ..functions.vectorized import brute_force_topk

    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") % 13 == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    truth = brute_force_topk(v, q, 5).select("query_id", "neighbor_id")
    assigned = _ivf_assigned(v).select("query_id", "cell")
    n = _n_vectors(sf_dir)
    cand = v.join(
        # two longs per row after the projection (~32 B UnsafeRow)
        _bounded_broadcast(assigned, None if n is None else n // 13 + 1,
                           32),
        (F.col("label") == F.col("cell")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", F.col("vec_id").alias("neighbor_id"))
    nc = cand.groupBy("query_id").agg(F.count("*").alias("n_candidates"))
    hits = truth.join(
        cand.withColumn("__hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    per_q = hits.groupBy("query_id").agg(
        F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hits")
    )
    return per_q.join(nc, "query_id", "left").select(
        "query_id",
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        "n_hits",
        (F.col("n_hits") / F.lit(5.0)).alias("recall_at_5"),
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) codebook assignment — the memory-compression
# layer under disk-scale ANN (IVF-PQ): each 64-dim vector becomes 4 codes,
# one per 16-dim subspace, pointing at the nearest codeword. Codewords here
# are the label-conditioned subspace centroids (decimal-exact means — the
# same deterministic stand-in for k-means codebooks the IVF family uses,
# so the oracle can rebuild them bit-identically; swap in trained
# centroids in production). Distances fold left-to-right in both engines
# and are ROUND(,6)'d BEFORE the argmin with label as tiebreak, making the
# assignment decision itself deterministic cross-engine. Plan: the
# codebook is 40 rows — broadcast; the scored candidates are
# (sampled vectors x 10 codewords) per subspace, pruned by a 10-row
# window; the vector corpus shuffles only for that per-(vector, subspace)
# ranking.
PQ_SUBSPACES = 4
PQ_SUBDIM = 16  # _DIM / PQ_SUBSPACES


_PQ_ASSIGN_ORACLE = f"""
        WITH v AS ({_O_VEC}),
        grid AS (
            SELECT label, i,
                   CAST(SUM(CAST(e[i + 1] AS DECIMAL(27,6))) AS DOUBLE)
                       / COUNT(*) AS m
            FROM v, (SELECT unnest(range({_DIM})) AS i)
            GROUP BY label, i
        ),
        cb AS (
            SELECT label, i // {PQ_SUBDIM} AS s,
                   list(m ORDER BY i ASC) AS c
            FROM grid GROUP BY label, i // {PQ_SUBDIM}
        ),
        q AS (
            SELECT vec_id, s,
                   e[s * {PQ_SUBDIM} + 1 : s * {PQ_SUBDIM} + {PQ_SUBDIM}]
                       AS sub
            FROM v, (SELECT unnest(range({PQ_SUBSPACES})) AS s)
            WHERE vec_id % 5 = 2
        ),
        scored AS (
            SELECT q.vec_id, q.s, cb.label,
                   ROUND(list_sum([
                       (q.sub[k + 1] - cb.c[k + 1])
                       * (q.sub[k + 1] - cb.c[k + 1])
                       FOR k IN range({PQ_SUBDIM})]), 6) AS d6
            FROM q JOIN cb ON cb.s = q.s
        )
        SELECT vec_id, CAST(s AS BIGINT) AS subspace,
               label AS code, d6 AS qerr
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id, s ORDER BY d6 ASC, label ASC) AS rn
            FROM scored
        ) r WHERE rn = 1
    """


@query("d3_pq_codebook_assign", oracle=_PQ_ASSIGN_ORACLE)
def d3_pq_codebook_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    grid = v.select("label", F.posexplode("e").alias("pos", "x")).groupBy(
        "label", "pos"
    ).agg(
        (
            F.sum(F.col("x").cast("decimal(27,6)")).cast("double")
            / F.count("*")
        ).alias("m")
    )
    cb = (
        grid.withColumn("s", F.expr(f"pos div {PQ_SUBDIM}"))
        .groupBy("label", "s")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda r: r.m,
            ).alias("c")
        )
    )
    q = (
        v.filter(F.col("vec_id") % 5 == 2)
        .select(
            "vec_id",
            "e",
            F.explode(
                F.array(*[F.lit(s) for s in range(PQ_SUBSPACES)])
            ).alias("s"),
        )
        .select(
            "vec_id",
            "s",
            F.expr(f"slice(e, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias(
                "sub"
            ),
        )
    )
    scored = q.join(F.broadcast(cb), "s").select(
        "vec_id",
        "s",
        "label",
        F.round(
            F.aggregate(
                F.zip_with(
                    "sub", "c", lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("d6"),
    )
    w = Window.partitionBy("vec_id", "s").orderBy(
        F.col("d6").asc(), F.col("label").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("s").cast("long").alias("subspace"),
            F.col("label").alias("code"),
            F.col("d6").alias("qerr"),
        )
    )


# --------------------------------------------------------------------------
# IVF centroid drift — the index-maintenance stability metric: rebuild the
# per-label centroids from two disjoint halves of the corpus (even / odd
# vec_ids — the deterministic stand-in for "yesterday's index vs today's
# delta") and measure per-label L2 drift and cosine agreement. High drift
# flags cells whose centroid no longer represents its population — the
# signal that triggers an IVF re-train at scale. Both half-centroids are
# decimal-exact means on a (label, dim) grid (one shuffle each, map-side
# partial); the drift fold runs left-to-right identically in both engines
# and rounds to 6dp.
@query(
    "d3_centroid_drift",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        grid AS (
            SELECT label, i, vec_id % 2 AS half,
                   CAST(SUM(CAST(e[i + 1] AS DECIMAL(27,6))) AS DOUBLE)
                       / COUNT(*) AS m,
                   COUNT(*) AS n
            FROM v, (SELECT unnest(range({_DIM})) AS i)
            GROUP BY label, i, vec_id % 2
        ),
        halves AS (
            SELECT label, half, list(m ORDER BY i ASC) AS c,
                   MIN(n) AS n_vectors
            FROM grid GROUP BY label, half
        )
        SELECT a.label,
               a.n_vectors AS n_even, b.n_vectors AS n_odd,
               ROUND(sqrt(list_sum([
                   (a.c[k + 1] - b.c[k + 1]) * (a.c[k + 1] - b.c[k + 1])
                   FOR k IN range({_DIM})])), 6) AS l2_drift,
               ROUND(list_dot_product(a.c, b.c)
                     / (sqrt(list_dot_product(a.c, a.c))
                        * sqrt(list_dot_product(b.c, b.c))), 6)
                   AS cosine_agreement
        FROM halves a JOIN halves b
          ON a.label = b.label AND a.half = 0 AND b.half = 1
    """,
)
def d3_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    grid = (
        v.select(
            "label",
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode("e").alias("pos", "x"),
        )
        .groupBy("label", "half", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(27,6)")).cast("double")
                / F.count("*")
            ).alias("m"),
            F.count("*").alias("n"),
        )
    )
    halves = grid.groupBy("label", "half").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda r: r.m
        ).alias("c"),
        F.min("n").alias("n_vectors"),
    )
    a = halves.filter(F.col("half") == 0).alias("a")
    b = halves.filter(F.col("half") == 1).alias("b")
    diff2 = F.aggregate(
        F.zip_with(F.col("a.c"), F.col("b.c"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = _dot(F.col("a.c"), F.col("b.c")) / (
        F.sqrt(_dot(F.col("a.c"), F.col("a.c")))
        * F.sqrt(_dot(F.col("b.c"), F.col("b.c")))
    )
    return a.join(b, F.col("a.label") == F.col("b.label")).select(
        F.col("a.label").alias("label"),
        F.col("a.n_vectors").alias("n_even"),
        F.col("b.n_vectors").alias("n_odd"),
        F.round(F.sqrt(diff2), 6).alias("l2_drift"),
        F.round(cos, 6).alias("cosine_agreement"),
    )


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup — the embedding-space analog of the text
# near-dedup chain (Abbas et al.'s SemDeDup shape): cosine near-dup pairs
# (d3_embedding_neardup's label-blocked candidates) resolved into clusters
# by the same large-star/small-star connected components the Jaccard path
# uses, with the minimum vec_id as the canonical keeper per cluster. The
# oracle rebuilds the identical pairs and closes them with a recursive
# CTE. Non-clustered vectors are implicitly kept (not emitted — the
# output is the duplicate-cluster map, same contract as d2_cc_clusters).
@query(
    "d3_semantic_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE v AS ({_O_VEC}),
        nxt AS (
            SELECT a.vec_id, a.label,
                   [3.0 * a.e[i+1] + b.e[i+1] FOR i IN range(64)] AS e
            FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
        ),
        aug AS (
            SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS norm FROM v
            UNION ALL
            SELECT vec_id + 100000, label, e, sqrt(list_dot_product(e, e)) FROM nxt
        ),
        prs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM aug a JOIN aug b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6)
                  >= 0.9
        ),
        edges AS (
            SELECT vec_a AS u, vec_b AS v FROM prs
            UNION ALL
            SELECT vec_b AS u, vec_a AS v FROM prs
        ),
        reach(src, node) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges) nodes
            UNION
            SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
        )
        SELECT src AS vec_id, MIN(node) AS cluster_id,
               COUNT(DISTINCT node) AS cluster_size,
               CAST(src = MIN(node) AS INT) AS is_canonical
        FROM reach GROUP BY src
    """,
)
def d3_semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import connected_components

    pairs = d3_embedding_neardup(spark, sf_dir).select(
        F.col("vec_a").alias("u"), F.col("vec_b").alias("v")
    )
    labels = connected_components(pairs)
    w = Window.partitionBy("component")
    return labels.select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
        (F.col("node") == F.col("component")).cast("int").alias(
            "is_canonical"
        ),
    )


# --------------------------------------------------------------------------
# SemDeDup cell-blocked SCALE PATH (VERDICT r7 ask #4): the registered
# d3_semantic_dedup_clusters twin is label-blocked all-pairs BY SPEC
# (quadratic in the block, 24.6x at 10x). This query is the configuration
# that survives 100 TB: k-means CELLS from the exact integer-micro
# fixed-point loop of d3_kmeans_ivf_clusters (same quantization, same
# first-k seeding, same floor(s/n + 0.5) requantized update, 3 Lloyd
# iterations), with the cell count scaled to hold CELL SIZE constant
# (k = max(8, n // 128) — Abbas et al.'s SemDeDup shape, where cluster
# count grows with the corpus so within-cell pairing is ~n * 128, linear).
# Candidate pairs exist ONLY within a cell — missing cross-cell near-dups
# is the documented recall trade, not a bug. The oracle re-runs the entire
# fit as unrolled CTEs over the same augmented table, so the cell
# assignment is embedded in the oracle and blocking cannot drift.
# Plan shape: per Lloyd iteration one broadcast of k centroids + one
# Arrow-batched int64 matmul argmin scan + one k-row aggregate; pairing is
# a cell-key equi-join; components via large-star/small-star. The only
# driver-side data are k centroid rows per iteration and one COUNT scalar.
SEMDEDUP_CELL = 128


def _semdedup_cell_oracle(n_iter: int = 3, dim: int = 64) -> str:
    sql = f"""
        WITH RECURSIVE v AS ({_O_VEC}),
        nxt AS (
            SELECT a.vec_id, a.label,
                   [3.0 * a.e[i+1] + b.e[i+1] FOR i IN range({dim})] AS e
            FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
        ),
        aug AS (
            SELECT vec_id, label, e FROM v
            UNION ALL
            SELECT vec_id + 100000, label, e FROM nxt
        ),
        augn AS (
            SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS norm
            FROM aug
        ),
        kk AS (
            SELECT GREATEST(8, COUNT(*) // {SEMDEDUP_CELL}) AS k FROM aug
        ),
        exq AS (
            SELECT vec_id, i AS pos,
                   CAST(floor(e[i + 1] * 1000000 + 0.5) AS BIGINT) AS xu
            FROM aug, (SELECT unnest(range({dim})) AS i)
        ),
        seed AS (
            SELECT vec_id, rn - 1 AS cid FROM (
                SELECT vec_id,
                       ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
                FROM aug
            ) r WHERE rn <= (SELECT k FROM kk)
        ),
        c0 AS (
            SELECT s.cid, e.pos, e.xu AS cu
            FROM seed s JOIN exq e ON e.vec_id = s.vec_id
        )"""
    for t in range(1, n_iter + 1):
        sql += f""",
        d{t} AS (
            SELECT e.vec_id, c.cid,
                   SUM((e.xu - c.cu) * (e.xu - c.cu)) AS d2
            FROM exq e JOIN c{t - 1} c ON c.pos = e.pos
            GROUP BY e.vec_id, c.cid
        ),
        a{t} AS (
            SELECT vec_id, cid, d2 FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
                FROM d{t}) r
            WHERE rn = 1
        )"""
        if t < n_iter:
            sql += f""",
        s{t} AS (
            SELECT a.cid, e.pos, SUM(CAST(e.xu AS HUGEINT)) AS s,
                   COUNT(*) AS n
            FROM a{t} a JOIN exq e ON e.vec_id = a.vec_id
            GROUP BY a.cid, e.pos
        ),
        c{t} AS (
            SELECT c.cid, c.pos,
                   CAST(COALESCE(
                       floor(CAST(s.s AS DOUBLE) / s.n + 0.5),
                       c.cu) AS BIGINT) AS cu
            FROM c{t - 1} c
            LEFT JOIN s{t} s ON s.cid = c.cid AND s.pos = c.pos
        )"""
    sql += f""",
        cells AS (SELECT vec_id, cid AS cell FROM a{n_iter}),
        prs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM augn a
            JOIN cells ca ON ca.vec_id = a.vec_id
            JOIN cells cb ON cb.cell = ca.cell
            JOIN augn b ON b.vec_id = cb.vec_id
                       AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6)
                  >= 0.9
        ),
        edges AS (
            SELECT vec_a AS u, vec_b AS v FROM prs
            UNION ALL
            SELECT vec_b AS u, vec_a AS v FROM prs
        ),
        reach(src, node) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges) nodes
            UNION
            SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
        )
        SELECT r.src AS vec_id, c.cell,
               MIN(r.node) AS cluster_id,
               COUNT(DISTINCT r.node) AS cluster_size,
               CAST(r.src = MIN(r.node) AS INT) AS is_canonical
        FROM reach r JOIN cells c ON c.vec_id = r.src
        GROUP BY r.src, c.cell
    """
    return sql


@query("d3_semdedup_cell_blocked", oracle=_semdedup_cell_oracle())
def d3_semdedup_cell_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .clustering import kmeans_fit
    from .curation import connected_components

    v = _vectors(spark, sf_dir).select("vec_id", "label", "e")
    nxt = (
        v.alias("a")
        .join(v.alias("b"), F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            (F.col("a.vec_id") + 100000).alias("vec_id"),
            F.col("a.label").alias("label"),
            F.zip_with(
                "a.e", "b.e", lambda x, y: F.lit(3.0) * x + y
            ).alias("e"),
        )
    )
    aug = v.unionByName(nxt)
    # r11 (VERDICT r10 ask #5): materialize the corpus⋈corpus augmentation
    # ONCE to scratch parquet and read it back. Unmaterialized, aug's join
    # re-ran ~8x here: the bounded count, each of kmeans_fit's Lloyd
    # passes, and the three cells/augn consumers below. A .cache() was the
    # r10 attempt and is measured-and-rejected (in-suite 7.0 -> 46 s, both
    # passes — columnar-cache build + late-suite memory churn); the
    # scratch-parquet write truncates the plan with zero block-manager
    # footprint, lives entirely inside this one query execution, and at
    # 100 TB is the standard stage-output materialization for a
    # many-consumer subtree (guide §5: write + read back). cells (the
    # final Lloyd assignment, 2 longs/row) gets the same treatment: its
    # three consumers re-ran the mapInPandas assignment scan.
    from ..session import scratch_dir

    root = scratch_dir("semdedup-")
    # Spread the materialized file: the union plan coalesces to ~2
    # partitions at sf0.1, and every Lloyd-pass argmin scan (an Arrow
    # int64 matmul against k ~ n/128 centroids — CPU cost AQE's
    # byte-based sizing cannot see) would inherit that 2-task layout from
    # the parquet split. Sizing is row-derived, not a core-count
    # constant: ~8k rows per partition (measured optimum at sf0.1 — each
    # extra partition costs ~1 s of Python-worker spin-up per Lloyd pass
    # against the matmul spread it buys: 2p 11.0-11.7 s, 8p 8.5-9.9 s,
    # 32p 9.2-14.3 s warm), capped at defaultParallelism so large corpora
    # use every core.
    n_v = v.count()
    parts = max(
        2,
        min(spark.sparkContext.defaultParallelism, (2 * n_v) // 8000),
    )
    aug.repartition(parts).write.parquet(f"{root}/aug")
    aug = spark.read.parquet(f"{root}/aug")
    # One bounded scalar to the driver: the cell count is a model
    # hyperparameter derived from corpus size (constant expected cell
    # size is what makes within-cell pairing linear in n).
    n = aug.count()
    k = max(8, n // SEMDEDUP_CELL)
    xu = F.transform(
        "e",
        lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("long"),
    )
    assigned, _ = kmeans_fit(
        aug.select("vec_id", "label", xu.alias("xu")), k=k
    )
    assigned.select("vec_id", F.col("cluster").alias("cell")).write.parquet(
        f"{root}/cells"
    )
    cells = spark.read.parquet(f"{root}/cells")
    augn = aug.withColumn("norm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    x = augn.join(cells, "vec_id").alias("x")
    y = augn.join(cells, "vec_id").alias("y")
    from ..functions.vectorized import cosine_pandas

    cosine = F.round(cosine_pandas(F.col("x.e"), F.col("y.e")), 6)
    pairs = (
        x.join(
            y,
            (F.col("x.cell") == F.col("y.cell"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("u"),
            F.col("y.vec_id").alias("v"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.9)
        .select("u", "v")
    )
    labels = connected_components(pairs)
    w = Window.partitionBy("component")
    return (
        labels.select(
            F.col("node").alias("vec_id"),
            F.col("component").alias("cluster_id"),
            F.count("*").over(w).alias("cluster_size"),
            (F.col("node") == F.col("component")).cast("int").alias(
                "is_canonical"
            ),
        )
        .join(cells, "vec_id")
        .select(
            "vec_id", "cell", "cluster_id", "cluster_size", "is_canonical"
        )
    )


# --------------------------------------------------------------------------
# D3: k-NN classification eval — the standard embedding-quality probe:
# every 10th vector is held out and classified by majority vote of its 5
# nearest training neighbors (cosine), reported as per-class accuracy.
# Same plan skeleton as the brute-force top-k (broadcast query side, one
# corpus scan, per-query ranking window); the vote and the accuracy
# rollup touch only Q*k rows. At scale the neighbor stage swaps to the
# IVF probe (d3_ivf_probe_topk) with this exact vote/rollup tail — the
# eval is scan-strategy-agnostic. Votes tie-break on (count DESC, label
# ASC); accuracy is an exact-integer ratio, so no rounding is needed.
@query(
    "d3_knn_classify",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        q AS (SELECT * FROM v WHERE vec_id % 10 = 0),
        t AS (SELECT * FROM v WHERE vec_id % 10 <> 0),
        scored AS (
            SELECT q.vec_id AS query_id, q.label AS true_label,
                   t.label AS n_label,
                   round(list_dot_product(q.e, t.e) / (q.norm * t.norm), 6)
                       AS cosine,
                   t.vec_id AS neighbor_id
            FROM q JOIN t ON TRUE
        ),
        top5 AS (
            SELECT query_id, true_label, n_label FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id ASC) AS rnk
                FROM scored
            ) r WHERE rnk <= 5
        ),
        votes AS (
            SELECT query_id, true_label, n_label, COUNT(*) AS n_votes
            FROM top5 GROUP BY 1, 2, 3
        ),
        pred AS (
            SELECT query_id, true_label, n_label AS pred_label FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY n_votes DESC, n_label ASC) AS vr
                FROM votes
            ) r WHERE vr = 1
        )
        SELECT true_label, COUNT(*) AS n_queries,
               COUNT(*) FILTER (WHERE pred_label = true_label)
                   AS n_correct,
               CAST(COUNT(*) FILTER (WHERE pred_label = true_label)
                    AS DOUBLE) / COUNT(*) AS accuracy
        FROM pred GROUP BY true_label
    """,
)
def d3_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    t = v.filter(F.col("vec_id") % 10 != 0)
    # neighbor search re-planned round 6 onto the one-scan matmul top-k
    # (functions/vectorized.brute_force_topk); the 5-row-per-query
    # survivors pick up labels via broadcast joins afterwards
    from ..functions.vectorized import brute_force_topk

    top5 = (
        brute_force_topk(t, q.select("query_id", "qe", "qnorm"), 5)
        .join(
            F.broadcast(q.select("query_id", "true_label")), "query_id"
        )
        .join(
            # corpus-sized label map: no broadcast hint — the survivors
            # side is 5|Q| rows, Catalyst/AQE picks the strategy
            v.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .select("query_id", "true_label", "n_label")
    )
    votes = top5.groupBy("query_id", "true_label", "n_label").agg(
        F.count("*").alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("n_label").asc()
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", "true_label", F.col("n_label").alias("pred_label"))
    )
    correct = F.count_if(F.col("pred_label") == F.col("true_label"))
    return pred.groupBy("true_label").agg(
        F.count("*").alias("n_queries"),
        correct.alias("n_correct"),
        (correct.cast("double") / F.count("*")).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# D3: near-dup threshold sweep — the tuning curve for a semantic-dedup
# rollout: at each candidate cosine threshold, how many same-label pairs
# and how many distinct documents would be flagged. The label-blocked
# pair scan runs ONCE (the d3_embedding_neardup blocking discipline — no
# all-pairs work); the sweep itself is a constant x3 explode of the
# bounded PAIR set, never of the corpus. Counts are exact integers over
# 6dp-rounded cosines, so the whole report is rounding-policy-free past
# the cosine grid.
@query(
    "d3_dedup_threshold_sweep",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        pairs AS (
            SELECT a.vec_id AS ia, b.vec_id AS ib,
                   round(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6)
                       AS cosine
            FROM v a JOIN v b
              ON b.label = a.label AND b.vec_id > a.vec_id
        ),
        swept AS (
            SELECT t.thr, ia, ib
            FROM pairs
            JOIN (VALUES (0.30), (0.35), (0.40)) AS t(thr)
              ON pairs.cosine >= t.thr
        ),
        np AS (SELECT thr, COUNT(*) AS n_pairs FROM swept GROUP BY thr),
        nd AS (
            SELECT thr, COUNT(DISTINCT vec) AS n_docs_flagged
            FROM (
                SELECT thr, ia AS vec FROM swept
                UNION ALL SELECT thr, ib FROM swept
            ) m
            GROUP BY thr
        )
        SELECT np.thr AS threshold, np.n_pairs, nd.n_docs_flagged
        FROM np JOIN nd ON nd.thr = np.thr
    """,
)
def d3_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    a = v.select(
        F.col("vec_id").alias("ia"),
        F.col("label").alias("la"),
        F.col("e").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("ib"),
        F.col("label").alias("lb"),
        F.col("e").alias("eb"),
        F.col("norm").alias("nb"),
    )
    # Arrow-vectorized pair cosine (the d3_embedding_neardup discipline —
    # the JVM zip_with fold allocates per pair; einsum over Arrow batches
    # is ~10x cheaper on |block|^2 candidates, interchangeable under the
    # module's round-6dp contract).
    #
    # Rounding-boundary margin (ADVICE r10): einsum's pairwise/SIMD
    # summation can differ from a sequential fold by a few ulps BEFORE
    # round(,6), so a raw cosine within ~1 ulp of an x.xxxxx5 boundary
    # could in principle round differently and flip a `cosine >= thr`
    # verdict. Two layers keep that from mattering here: (1) both engines
    # CONSUME the same rounded grid — the oracle also rounds to 6dp
    # before comparing against the same thresholds, so only a raw value
    # within 1 ulp of a .5e-6 boundary is even at risk; (2) the fixture
    # embeddings are dimension-64 sums of 6-significant-digit doubles
    # whose cosines carry ~1e-16 relative error against a 5e-7-wide
    # boundary band — a ~1e9 safety factor, the same margin argument
    # brute_force_topk's 2e-6 tie analysis makes explicit. Verified
    # empirically: oracle hash-exact at sf0.01/sf0.1 for every rounded-
    # cosine consumer since the kernel swap (r10) and again this round.
    from ..functions.vectorized import cosine_pandas

    pairs = a.join(
        b, (F.col("lb") == F.col("la")) & (F.col("ib") > F.col("ia"))
    ).select(
        "ia",
        "ib",
        F.round(cosine_pandas(F.col("ea"), F.col("eb")), 6).alias("cosine"),
    )
    thr = F.explode(
        F.array(F.lit(0.30), F.lit(0.35), F.lit(0.40))
    ).alias("thr")
    # Two consumers (pair counts + distinct members) — pin the swept pair
    # set so the blocked pair join and cosine scan run once (§5).
    swept = (
        pairs.select("ia", "ib", "cosine", thr)
        .filter(F.col("cosine") >= F.col("thr"))
        .select("thr", "ia", "ib")
        .persist()
    )
    members = swept.select("thr", F.col("ia").alias("vec")).unionAll(
        swept.select("thr", F.col("ib").alias("vec"))
    )
    n_pairs = swept.groupBy("thr").agg(F.count("*").alias("n_pairs"))
    n_docs = members.groupBy("thr").agg(
        F.countDistinct("vec").alias("n_docs_flagged")
    )
    return (
        n_pairs.join(n_docs, "thr")
        .select(
            F.col("thr").alias("threshold"), "n_pairs", "n_docs_flagged"
        )
    )


# --------------------------------------------------------------------------
# D3: dimension-truncation recall — the Matryoshka-representation
# question: how much ANN quality survives if you rank with only the
# FIRST 16 of 64 dimensions (4x cheaper scan, 4x smaller index)? Truth
# is the full-dimension brute-force top-5; the candidate ranking re-runs
# the same top-5 with sliced vectors (slice + renormalize, all JVM-side
# HOFs); the report is per-query hits and recall@5 — same eval tail as
# the LSH/IVF recall rows, so all three index strategies read on one
# scale. Exact-integer hit counts; only the cosines are 6dp-gridded.
TRUNC_DIMS = 16


@query(
    "d3_truncation_recall_eval",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        vt AS (
            SELECT vec_id, e[1:{TRUNC_DIMS}] AS et,
                   sqrt(list_dot_product(e[1:{TRUNC_DIMS}],
                                         e[1:{TRUNC_DIMS}])) AS normt
            FROM v
        ),
        q AS (SELECT * FROM v WHERE vec_id % 10 = 0),
        qt AS (SELECT * FROM vt WHERE vec_id % 10 = 0),
        truth AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY round(list_dot_product(q.e, v.e)
                                          / (q.norm * v.norm), 6) DESC,
                                    v.vec_id ASC) AS rnk
                FROM q JOIN v ON v.vec_id <> q.vec_id
            ) r WHERE rnk <= 5
        ),
        trunc_top AS (
            SELECT query_id, neighbor_id FROM (
                SELECT qt.vec_id AS query_id, vt.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY qt.vec_id
                           ORDER BY round(list_dot_product(qt.et, vt.et)
                                          / (qt.normt * vt.normt), 6) DESC,
                                    vt.vec_id ASC) AS rnk
                FROM qt JOIN vt ON vt.vec_id <> qt.vec_id
            ) r WHERE rnk <= 5
        )
        SELECT t.query_id,
               CAST(SUM(CASE WHEN c.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               SUM(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   / 5.0 AS recall_at_5
        FROM truth t
        LEFT JOIN trunc_top c
          ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
        GROUP BY t.query_id
    """,
)
def d3_truncation_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = d3_ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    v = _vectors(spark, sf_dir)
    et = F.slice("e", 1, TRUNC_DIMS)
    vt = v.select(
        "vec_id",
        et.alias("et"),
        F.sqrt(_dot(et, et)).alias("normt"),
    )
    qt = vt.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("et").alias("qe"),
        F.col("normt").alias("qnorm"),
    )
    # one-scan matmul top-k over the truncated space (round-6 re-plan,
    # functions/vectorized.brute_force_topk)
    from ..functions.vectorized import brute_force_topk

    trunc_top = brute_force_topk(
        vt.select("vec_id", F.col("et").alias("e"),
                  F.col("normt").alias("norm")),
        qt,
        5,
    ).select("query_id", "neighbor_id")
    hit = trunc_top.withColumn("hit", F.lit(1))
    return (
        truth.join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(5.0)
            ).alias("recall_at_5"),
        )
    )


# --------------------------------------------------------------------------
# D3: IVF nprobe sweep — the remaining tuning axis after
# d3_dedup_threshold_sweep (threshold) and d3_truncation_recall_eval
# (dimensions): recall@5 and candidate cost as the probe widens from 1
# to 2 to 4 cells. Cell ranking reuses the broadcast centroid
# machinery; each nprobe tier is a filter on the per-query cell rank
# (no re-scan per tier — the x3 explode happens on the RANKED CELL
# list, and the corpus join runs once against the union of probed
# cells). Recall and cost are exact-integer ratios over the whole
# query set, so the report needs no rounding policy.
NPROBES = (1, 2, 4)


@query(
    "d3_ivf_nprobe_sweep",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        cent AS (
            SELECT label, list(m ORDER BY pos) AS c
            FROM (
                SELECT label, i AS pos,
                       CAST(SUM(CAST(e[i + 1] AS DECIMAL(27,6))) AS DOUBLE)
                           / COUNT(*) AS m
                FROM v, (SELECT unnest(range({_DIM})) AS i)
                GROUP BY label, i
            ) grid
            GROUP BY label
        ),
        cn AS (SELECT label AS cell, c,
                      sqrt(list_dot_product(c, c)) AS cnorm FROM cent),
        q AS (SELECT vec_id AS query_id, e AS qe, norm AS qnorm
              FROM v WHERE vec_id % 13 = 1),
        nq AS (SELECT COUNT(*) AS n_queries FROM q),
        ranked_cells AS (
            SELECT query_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY round(list_dot_product(qe, c)
                                      / (qnorm * cnorm), 6) DESC,
                                cell ASC) AS crnk
            FROM q CROSS JOIN cn
        ),
        truth AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, v.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                           ORDER BY round(list_dot_product(q.qe, v.e)
                                          / (q.qnorm * v.norm), 6) DESC,
                                    v.vec_id ASC) AS rnk
                FROM q JOIN v ON v.vec_id <> q.query_id
            ) r WHERE rnk <= 5
        ),
        cand AS (
            SELECT rc.query_id, rc.crnk, v.vec_id AS neighbor_id
            FROM ranked_cells rc
            JOIN v ON v.label = rc.cell
            WHERE rc.crnk <= {max(NPROBES)}
              AND v.vec_id <> rc.query_id
        ),
        sweep AS (
            SELECT np.np, c.query_id, c.neighbor_id
            FROM cand c
            JOIN (VALUES {", ".join(f"({p})" for p in NPROBES)}) AS np(np)
              ON c.crnk <= np.np
        )
        SELECT s.np AS nprobe,
               (SELECT n_queries FROM nq) AS n_queries,
               CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(SUM(CASE WHEN t.query_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               CAST(SUM(CASE WHEN t.query_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS DOUBLE)
                   / (5 * (SELECT n_queries FROM nq)) AS recall_at_5
        FROM sweep s
        LEFT JOIN truth t
          ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
        GROUP BY s.np
    """,
)
def d3_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    cent = _ivf_centroids(v)
    q = v.filter(F.col("vec_id") % 13 == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    nq = q.agg(F.count("*").alias("n_queries"))
    wc = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("cell").asc()
    )
    ranked_cells = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "cell",
            F.round(
                _dot(F.col("qe"), F.col("c"))
                / (F.col("qnorm") * F.col("cnorm")),
                6,
            ).alias("ccos"),
        )
        .withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= max(NPROBES))
        .select("query_id", "cell", "crnk")
    )
    # truth re-planned round 6 onto the one-scan matmul top-k
    from ..functions.vectorized import brute_force_topk

    truth = (
        brute_force_topk(v, q.select("query_id", "qe", "qnorm"), 5)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    cand = v.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("cell")
    ).join(F.broadcast(ranked_cells), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    nps = F.explode(
        F.array(*[F.lit(p) for p in NPROBES])
    ).alias("nprobe")
    sweep = (
        cand.select("query_id", "neighbor_id", "crnk", nps)
        .filter(F.col("crnk") <= F.col("nprobe"))
        .select("nprobe", "query_id", "neighbor_id")
    )
    return (
        sweep.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
        )
        .crossJoin(F.broadcast(nq))
        .select(
            "nprobe",
            "n_queries",
            "n_candidates",
            "n_hits",
            (
                F.col("n_hits").cast("double")
                / (5 * F.col("n_queries"))
            ).alias("recall_at_5"),
        )
    )


# --------------------------------------------------------------------------
# D3: binary quantization + Hamming re-rank recall — each 64-dim float
# vector compresses to 64 SIGN BITS packed into two 32-bit halves (8
# bytes total, a 32x compression), candidate ranking is integer
# XOR+popcount Hamming distance, and the eval scores Hamming top-5
# against float-cosine ground truth per query. This is the
# binary-quantization index path modern vector stores ship (the cheap
# first-pass filter before float re-ranking); the recall@5 readout is
# its production tuning metric, joining the LSH/IVF/truncation recall
# rows on one scale. All distance math is exact integer ops — no
# rounding policy anywhere past the sign comparison.
@query(
    "d3_binary_quant_recall",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        q AS (SELECT * FROM v WHERE vec_id % 10 = 0),
        truth AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY round(list_dot_product(q.e, v.e)
                                          / (q.norm * v.norm), 6) DESC,
                                    v.vec_id ASC) AS rnk
                FROM q JOIN v ON v.vec_id <> q.vec_id
            ) r WHERE rnk <= 5
        ),
        coded AS (
            SELECT vec_id,
                   CAST(list_sum([CASE WHEN e[d + 1] >= 0
                        THEN (CAST(1 AS BIGINT) << d) ELSE 0 END
                        FOR d IN range(32)]) AS BIGINT) AS code_lo,
                   CAST(list_sum([CASE WHEN e[d + 33] >= 0
                        THEN (CAST(1 AS BIGINT) << d) ELSE 0 END
                        FOR d IN range(32)]) AS BIGINT) AS code_hi
            FROM v
        ),
        ham AS (
            SELECT qc.vec_id AS query_id, c.vec_id AS neighbor_id,
                   bit_count(xor(qc.code_lo, c.code_lo))
                   + bit_count(xor(qc.code_hi, c.code_hi)) AS hamming
            FROM (SELECT * FROM coded WHERE vec_id % 10 = 0) qc
            JOIN coded c ON c.vec_id <> qc.vec_id
        ),
        bq_top AS (
            SELECT query_id, neighbor_id, hamming FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY hamming ASC, neighbor_id ASC) AS rnk
                FROM ham
            ) r WHERE rnk <= 5
        )
        SELECT t.query_id,
               CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   / 5.0 AS recall_at_5
        FROM truth t
        LEFT JOIN bq_top b
          ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
        GROUP BY t.query_id
    """,
)
def d3_binary_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = d3_ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    v = _vectors(spark, sf_dir).drop("label", "norm")

    def pack(offset: int) -> Column:
        return (
            F.aggregate(
                F.expr(
                    f"transform(sequence(0, 31), d -> CASE WHEN"
                    f" e[d + {offset}] >= 0 THEN shiftleft(1L, d)"
                    f" ELSE 0L END)"
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        ).cast("long")

    coded = v.select(
        "vec_id", pack(0).alias("code_lo"), pack(32).alias("code_hi")
    )
    qc = coded.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("code_lo").alias("q_lo"),
        F.col("code_hi").alias("q_hi"),
    )
    ham = coded.crossJoin(F.broadcast(qc)).filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.col("q_lo").bitwiseXOR(F.col("code_lo")))
            + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("code_hi")))
        ).alias("hamming"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    bq_top = (
        ham.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    joined = truth.join(bq_top, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.sum(F.coalesce("__hit", F.lit(0)))
        .cast("long")
        .alias("n_hits"),
    ).select(
        "query_id",
        "n_hits",
        (F.col("n_hits") / F.lit(5.0)).alias("recall_at_5"),
    )


# --------------------------------------------------------------------------
# D3: adaptive index routing — the planner-style decision a vector store
# makes per query: probe the LSH bucket when it holds a useful, bounded
# candidate set; fall back to brute force when the bucket is empty (no
# candidates at all) or overfull (probing would approach a full scan
# anyway). Pure reuse of the sign-LSH bucket machinery; the output is the
# routing table (per-query candidate counts + chosen path + the cost the
# router expects to pay, in scored-vector units) and is what a routing
# policy is tuned against. One bucket-count aggregate + a broadcast join
# of the tiny query side — the corpus is never rescanned per query.
ROUTE_MAX_CANDIDATES = 40


@query(
    "d3_query_routing",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        proj AS (
            SELECT vec_id, p,
                   list_sum([e[d+1] * CAST({_W_FORMULA} AS DOUBLE)
                             FOR d IN range(64)]) AS dotp
            FROM v, (SELECT unnest(range(8)) AS p)
        ),
        bucketed AS (
            SELECT vec_id,
                   CAST(SUM(CASE WHEN dotp > 0
                        THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM proj GROUP BY vec_id
        ),
        sizes AS (
            SELECT bucket, COUNT(*) AS bn FROM bucketed GROUP BY bucket
        ),
        nv AS (SELECT COUNT(*) AS n FROM v),
        routed AS (
            SELECT b.vec_id AS query_id,
                   s.bn - 1 AS n_candidates
            FROM bucketed b JOIN sizes s ON s.bucket = b.bucket
            WHERE b.vec_id % 10 = 0
        )
        SELECT query_id, CAST(n_candidates AS BIGINT) AS n_candidates,
               CASE WHEN n_candidates BETWEEN 1 AND {ROUTE_MAX_CANDIDATES}
                    THEN 'lsh_probe' ELSE 'brute_force' END AS route,
               CAST(CASE WHEN n_candidates
                              BETWEEN 1 AND {ROUTE_MAX_CANDIDATES}
                         THEN n_candidates ELSE nv.n - 1 END AS BIGINT)
                   AS expected_scored
        FROM routed, nv
    """,
)
def d3_query_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    bucketed = _sign_lsh_bucketed(v).select("vec_id", "bucket")
    sizes = bucketed.groupBy("bucket").agg(F.count("*").alias("bn"))
    nv = v.agg(F.count("*").alias("n"))
    routed = (
        bucketed.filter(F.col("vec_id") % 10 == 0)
        .join(sizes, "bucket")
        .select(
            F.col("vec_id").alias("query_id"),
            (F.col("bn") - 1).cast("long").alias("n_candidates"),
        )
    )
    probe = F.col("n_candidates").between(1, ROUTE_MAX_CANDIDATES)
    return routed.crossJoin(F.broadcast(nv)).select(
        "query_id",
        "n_candidates",
        F.when(probe, "lsh_probe").otherwise("brute_force").alias("route"),
        F.when(probe, F.col("n_candidates"))
        .otherwise(F.col("n") - 1)
        .cast("long")
        .alias("expected_scored"),
    )


# --------------------------------------------------------------------------
# Distributed covariance / correlation grid over the embedding dimensions —
# the PCA / whitening prep step every embedding-curation pipeline runs
# (SemDeDup-style pipelines PCA-reduce before clustering). Scale shape: the
# corpus is touched ONCE; each vector emits its d(d+1)/2 = 2080
# upper-triangle products map-side via nested HOFs (no self-join, no
# per-doc shuffle), and the hash aggregate's map-side partials collapse
# every partition to <= 2080 rows before the only shuffle. Everything
# downstream (dimension sums, n, diagonal) is a grid-sized broadcast.
# Exactness: inputs quantized to the 6dp integer-micro grid, products are
# exact int64, sums ride DECIMAL(38,0) (= DuckDB HUGEINT), and the final
# cov/corr doubles are single correctly-rounded IEEE expressions evaluated
# in the same order on both engines — the d4_quality_logreg discipline.
# Reference analog: the reference ships raw columns to ClickHouse/Grafana
# (app/for_clickhouse/from_rabbitmq_to_clickhouse.py:1); in-engine
# second-moment analytics replace that external hop.


# Shared WITH-body: the integer-micro covariance-numerator grid (upper
# triangle i <= j; `num` = n*S_ij - S_i*S_j in HUGEINT = Spark DECIMAL(38,0)).
_COV_GRID_SQL = f"""
        ex AS (
            SELECT vec_id, label, i AS pos,
                   CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000
                              + 0.5) AS BIGINT) AS xu
            FROM embeddings, (SELECT unnest(range({_DIM})) AS i)
        ), sums AS (
            SELECT pos, SUM(CAST(xu AS HUGEINT)) AS s FROM ex GROUP BY pos
        ), nn AS (SELECT COUNT(*) AS n FROM embeddings),
        prods AS (
            SELECT a.pos AS i, b.pos AS j,
                   SUM(CAST(a.xu AS HUGEINT) * b.xu) AS sij
            FROM ex a JOIN ex b
              ON a.vec_id = b.vec_id AND a.pos <= b.pos
            GROUP BY a.pos, b.pos
        ), grid AS (
            SELECT i, j, n,
                   CAST(n AS HUGEINT) * sij - sa.s * sb.s AS num
            FROM prods
            CROSS JOIN nn
            JOIN sums sa ON sa.pos = prods.i
            JOIN sums sb ON sb.pos = prods.j
        )"""


_COV_ORACLE = f"""
        WITH {_COV_GRID_SQL}
        SELECT CAST(g.i AS BIGINT) AS i, CAST(g.j AS BIGINT) AS j,
               CAST(g.n AS BIGINT) AS n_vectors,
               CAST(g.num AS DOUBLE)
                   / (CAST(g.n AS DOUBLE) * CAST(g.n AS DOUBLE)
                      * 1000000000000.0) AS cov,
               CASE WHEN di.num = 0 OR dj.num = 0 THEN NULL
                    ELSE CAST(g.num AS DOUBLE)
                         / (sqrt(CAST(di.num AS DOUBLE))
                            * sqrt(CAST(dj.num AS DOUBLE)))
               END AS corr
        FROM grid g
        JOIN grid di ON di.i = g.i AND di.j = g.i
        JOIN grid dj ON dj.i = g.j AND dj.j = g.j
    """


def _cov_dec(c: Column) -> Column:
    return c.cast("decimal(38,0)")


def _cov_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, n, num) for i <= j — the Spark spelling of _COV_GRID_SQL."""
    v = load_table(spark, sf_dir, "embeddings")
    dec = _cov_dec

    def micro(x):
        return F.floor(x.cast("double") * F.lit(1000000) + F.lit(0.5)).cast(
            "long"
        )

    base = v.select("vec_id", F.transform("embedding", micro).alias("xu"))

    # Upper-triangle second moments via a per-Arrow-batch integer matmul
    # (r11; guide §4.2). The previous spelling exploded 2080 (i, j, p)
    # structs per vector into a 66M-row decimal hash aggregate at sf0.1 —
    # profiled as the dominant cost of all three covariance/PCA
    # consumers. numpy's V.T @ V over int64 micro vectors is exact while
    # a batch's |partial| stays under int64: |p| <= 4e12 per row pair, so
    # batches up to ~2.3M rows are safe and Arrow batches are 10k rows by
    # default (spark.sql.execution.arrow.maxRecordsPerBatch) — four
    # orders of headroom, asserted in the kernel. Cross-batch totals ride
    # the same DECIMAL(38,0) sum as before, so sij is bit-identical.
    import numpy as np
    import pandas as pd

    iu0, iu1 = (x.tolist() for x in np.triu_indices(_DIM))

    def _part(batches):
        triu = (np.array(iu0), np.array(iu1))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            assert len(pdf) <= 2_300_000, (
                "cov partial batch too large for exact int64"
            )
            V = np.stack(pdf["xu"].to_numpy()).astype(np.int64)
            S = V.T @ V
            yield pd.DataFrame(
                {"i": triu[0], "j": triu[1], "p": S[triu]}
            )

    prods = (
        # explicit projection: mapInPandas is opaque to column pruning
        # (guide §4.2) — ship only the micro vectors.
        base.select("xu")
        .mapInPandas(_part, schema="i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum(dec(F.col("p"))).alias("sij"))
    )
    sums = (
        base.select(F.posexplode("xu").alias("pos", "xu_v"))
        .groupBy("pos")
        .agg(F.sum(dec(F.col("xu_v"))).alias("s"))
    )
    nn = v.agg(F.count("*").alias("n"))
    grid = (
        prods.crossJoin(F.broadcast(nn))
        .join(
            F.broadcast(
                sums.select(F.col("pos").alias("i"), F.col("s").alias("si"))
            ),
            "i",
        )
        .join(
            F.broadcast(
                sums.select(F.col("pos").alias("j"), F.col("s").alias("sj"))
            ),
            "j",
        )
        .select(
            "i",
            "j",
            "n",
            (dec(F.col("n")) * F.col("sij") - F.col("si") * F.col("sj")).alias(
                "num"
            ),
        )
    )
    return grid


@query("d3_embedding_covariance", oracle=_COV_ORACLE)
def d3_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _cov_grid(spark, sf_dir)
    diag = grid.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"), F.col("num").alias("dnum")
    )
    return (
        grid.join(
            F.broadcast(
                diag.select(F.col("d").alias("i"), F.col("dnum").alias("di_num"))
            ),
            "i",
        )
        .join(
            F.broadcast(
                diag.select(F.col("d").alias("j"), F.col("dnum").alias("dj_num"))
            ),
            "j",
        )
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            F.col("n").cast("long").alias("n_vectors"),
            (
                F.col("num").cast("double")
                / (
                    F.col("n").cast("double")
                    * F.col("n").cast("double")
                    * F.lit(1000000000000.0)
                )
            ).alias("cov"),
            F.when(
                (F.col("di_num") == 0) | (F.col("dj_num") == 0),
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.col("num").cast("double")
                / (
                    F.sqrt(F.col("di_num").cast("double"))
                    * F.sqrt(F.col("dj_num").cast("double"))
                )
            )
            .alias("corr"),
        )
    )


# --------------------------------------------------------------------------
# Top principal component of the embedding covariance by exactly-unrolled
# power iteration — the PCA step itself (dimension weights + top-eigenvalue
# estimate). Iteration state is the 64-entry weight vector on the integer-
# micro grid (d6_markov_stationary / d2_pagerank_fixed discipline): the
# matvec y = C_num . w is pure DECIMAL(38,0) x DECIMAL(38,0) integer
# arithmetic (DuckDB HUGEINT), and the max-abs renormalization requantizes
# through one correctly-rounded double division + floor, identical on both
# engines. Everything after the one covariance-grid build is grid-sized:
# fullm is 64x64 rows, each iteration one broadcast join + tiny agg. The
# corpus is touched only by the persisted covariance grid. (At extreme row
# counts the DECIMAL(38,0) matvec headroom shrinks — num ~ n^2 var_u^2;
# beyond ~1e9 rows rescale the micro grid before iterating.)
PCA_ITERS = 4


def _pca_chain_sql() -> str:
    """WITH-body: covariance grid + the unrolled power iteration, ending at
    w{PCA_ITERS} (weights, micro units) and m{PCA_ITERS} (last max-abs)."""
    sql = f"""
        WITH {_COV_GRID_SQL},
        fullm AS (
            SELECT i, j, num FROM grid
            UNION ALL
            SELECT j AS i, i AS j, num FROM grid WHERE i < j
        ),
        w0 AS (
            SELECT unnest(range({_DIM})) AS pos,
                   CAST(1000000 AS HUGEINT) AS w_u
        )"""
    for k in range(1, PCA_ITERS + 1):
        sql += f""", y{k} AS (
            SELECT f.i AS pos, SUM(f.num * w.w_u) AS y
            FROM fullm f JOIN w{k - 1} w ON w.pos = f.j
            GROUP BY f.i
        ), m{k} AS (SELECT MAX(abs(y)) AS m FROM y{k}),
        w{k} AS (
            SELECT pos,
                   CAST(floor(CAST(y AS DOUBLE) * 1000000.0
                              / CAST(m AS DOUBLE) + 0.5) AS HUGEINT) AS w_u
            FROM y{k}, m{k}
        )"""
    return sql


def _pca_oracle() -> str:
    return _pca_chain_sql() + f"""
        SELECT CAST(w.pos AS BIGINT) AS pos,
               CAST(w.w_u AS DOUBLE) / 1000000.0 AS weight,
               CAST(m.m AS DOUBLE)
                   / (1000000.0 * CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE)
                      * 1000000000000.0) AS eigenvalue_est,
               CAST(nn.n AS BIGINT) AS n_vectors
        FROM w{PCA_ITERS} w, m{PCA_ITERS} m, nn"""


def _pca_weights(spark: SparkSession, sf_dir: str) -> tuple[int, int, list[int]]:
    """(n, mx, w) — the driver-side power iteration on exact Python ints
    (see _pca_state for the full story). Split out (r11) so consumers that
    only need the 64 weight INTEGERS (d3_pca_project_scores inlines them
    as int64 literals) skip the 1-row DataFrame wrapper."""
    import math

    grid = _cov_grid(spark, sf_dir)
    rows = grid.select("i", "j", "n", "num").collect()  # <= DIM^2 rows
    n = int(rows[0]["n"]) if rows else 0
    C = [[0] * _DIM for _ in range(_DIM)]
    for r in rows:
        i, j, num = int(r["i"]), int(r["j"]), int(r["num"])
        C[i][j] = num
        if i != j:
            C[j][i] = num
    w = [1000000] * _DIM
    mx = 0
    for _ in range(PCA_ITERS):
        y = [
            sum(C[i][j] * w[j] for j in range(_DIM)) for i in range(_DIM)
        ]
        mx = max(abs(v) for v in y)
        if mx == 0:
            raise ValueError(
                "pca power iteration: zero covariance matvec (degenerate "
                "input); the component is undefined"
            )
        w = [
            int(math.floor(float(v) * 1000000.0 / float(mx) + 0.5))
            for v in y
        ]
    return n, mx, w


def _pca_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The iteration state is MODEL-sized, not data-sized: the covariance
    # grid is DIM*(DIM+1)/2 = 2080 exact-integer rows at ANY corpus size
    # (the same bounded class as kmeans_fit's k centroid rows), so the
    # power iteration runs on the driver in exact Python integers after
    # one bounded collect. The previous formulation kept the loop in the
    # JVM as single-row array<array<decimal>> HOF folds — shuffle-free,
    # but each of the 4 matvec steps was a multi-second single-task
    # interpreted-decimal stage plus a load-bearing persist (HOF lambdas
    # re-evaluate their arguments per element); profiling showed 3 x
    # ~3-4 s one-core stages per PCA query. Python ints ARE the
    # DECIMAL(38,0) arithmetic (arbitrary precision, exact), and the
    # renormalize is the identical correctly-rounded IEEE expression
    # (float(int) and DECIMAL->DOUBLE casts are both correctly rounded),
    # so every w/mx value is bit-identical — proven by the unchanged
    # DuckDB oracle, which replays the loop as unrolled CTEs.
    # Returns the 1-row final state (n, mx, w: array<decimal> micros).
    from decimal import Decimal

    from pyspark.sql import types as T

    n, mx, w = _pca_weights(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("mx", T.DecimalType(38, 0)),
            T.StructField("w", T.ArrayType(T.DecimalType(38, 0))),
        ]
    )
    return spark.createDataFrame(
        [(n, Decimal(mx), [Decimal(x) for x in w])], schema
    )


@query("d3_pca_power_iteration", oracle=_pca_oracle())
def d3_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _pca_state(spark, sf_dir)
    return df.select(
        "n",
        "mx",
        F.posexplode("w").alias("pos", "w_u"),
    ).select(
        F.col("pos").cast("long").alias("pos"),
        (F.col("w_u").cast("double") / F.lit(1000000.0)).alias("weight"),
        (
            F.col("mx").cast("double")
            / (
                F.lit(1000000.0)
                * F.col("n").cast("double")
                * F.col("n").cast("double")
                * F.lit(1000000000000.0)
            )
        ).alias("eigenvalue_est"),
        F.col("n").cast("long").alias("n_vectors"),
    )


# --------------------------------------------------------------------------
# PCA apply — project every embedding onto the learned top component and
# read out per-label score separation (does the first PC see the label
# structure?). Completes the train -> apply arc: the component comes from
# the same unrolled iteration as d3_pca_power_iteration (shared
# _pca_state / _pca_chain_sql), and each vector's score is one broadcast
# of the 64-entry weight row + a per-row zip_with/aggregate fold — the
# corpus is touched once, map-side, after the grid-sized training.
# Scores are uncentered (w . x, micro^2 units scaled back by 1e12): the
# per-label COMPARISON is offset-invariant, so centering would only
# subtract the same constant from every row. All sums are exact integers;
# the three doubles are single correctly-rounded expressions.
@query(
    "d3_pca_project_scores",
    oracle=_pca_chain_sql()
    + f""", xv AS (
            SELECT vec_id, label, SUM(e.xu * w.w_u) AS score_raw
            FROM ex e JOIN w{PCA_ITERS} w ON w.pos = e.pos
            GROUP BY vec_id, label
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM(score_raw) AS DOUBLE)
                   / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0)
                   AS mean_score,
               MIN(CAST(score_raw AS DOUBLE) / 1000000000000.0)
                   AS min_score,
               MAX(CAST(score_raw AS DOUBLE) / 1000000000000.0)
                   AS max_score
        FROM xv GROUP BY label""",
)
def d3_pca_project_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: the per-row score used to be an interpreted DECIMAL(38,0)
    # zip_with/aggregate HOF fold over a broadcast weight row — profiled
    # at 48.6 executor-core-seconds at sf0.1 (the single hottest stage of
    # the d3 family). The weights are already exact Python ints on the
    # driver (_pca_weights), so the dot product is inlined as a 64-term
    # int64 literal expression instead: whole-stage-codegen arithmetic,
    # no broadcast join, no Python/decimal boundary. Exactness is
    # unchanged — |xu| <= ~2e6 and |w_u| <= 1e6, so each term is
    # <= 2e12 and the 64-term row sum <= 1.3e14, inside int64 with four
    # orders of headroom; the per-label SUM then rides DECIMAL(38,0)
    # exactly as before (and as the oracle's HUGEINT).
    _, _, w = _pca_weights(spark, sf_dir)
    v = load_table(spark, sf_dir, "embeddings")
    xu = F.transform(
        "embedding",
        lambda x: F.floor(
            x.cast("double") * F.lit(1000000) + F.lit(0.5)
        ).cast("long"),
    )
    score = None
    for j, wj in enumerate(w):
        term = F.element_at(F.col("xu"), j + 1) * F.lit(int(wj))
        score = term if score is None else (score + term)
    scored = v.select("vec_id", "label", xu.alias("xu")).select(
        "label", score.alias("score_raw")
    )
    return scored.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vectors"),
        (
            F.sum(F.col("score_raw").cast("decimal(38,0)")).cast("double")
            / (F.count("*").cast("double") * F.lit(1000000000000.0))
        ).alias("mean_score"),
        F.min(
            F.col("score_raw").cast("double") / F.lit(1000000000000.0)
        ).alias("min_score"),
        F.max(
            F.col("score_raw").cast("double") / F.lit(1000000000000.0)
        ).alias("max_score"),
    )


# --------------------------------------------------------------------------
# D3: MMR diversified rerank — Maximal Marginal Relevance over each query's
# cosine top-8: pick 3 results trading relevance against redundancy
# (score = 0.7*rel - 0.3*max sim to already-picked), the standard RAG
# post-filter after d3_rrf_hybrid-style retrieval. The iterative argmax is
# unrolled to its 3 fixed steps so DuckDB replays it exactly; every join
# after candidate generation runs on the BOUNDED pick grid (queries x 8
# candidates, pairwise sims = queries x 64 rows) — at 100 TB candidates
# come from the LSH/IVF stages and MMR's cost is unchanged. Scores are raw
# IEEE products of round6 cosines (identical bits cross-engine, no ROUND
# on the composite — ADVICE.md half-trap discipline); ties break on
# neighbor_id. topk/psim are persisted: four consumers, one corpus scan.
@query(
    "d3_mmr_rerank",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        q AS (SELECT * FROM v WHERE vec_id % 10 = 0),
        scored AS (
            SELECT q.vec_id AS query_id, v.vec_id AS nid,
                   round(list_dot_product(q.e, v.e) / (q.norm * v.norm), 6)
                       AS rel
            FROM q JOIN v ON v.vec_id <> q.vec_id
        ),
        topk AS (
            SELECT query_id, nid, rel FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY rel DESC, nid ASC) AS rnk
                FROM scored) r
            WHERE rnk <= 8
        ),
        psim AS (
            SELECT t1.query_id, t1.nid AS a, t2.nid AS b,
                   round(list_dot_product(va.e, vb.e)
                         / (va.norm * vb.norm), 6) AS sim
            FROM topk t1
            JOIN topk t2 ON t2.query_id = t1.query_id AND t2.nid <> t1.nid
            JOIN v va ON va.vec_id = t1.nid
            JOIN v vb ON vb.vec_id = t2.nid
        ),
        p1 AS (
            SELECT query_id, nid AS p1_id, rel AS p1_rel FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY rel DESC, nid ASC) AS rnk
                FROM topk) r
            WHERE rnk = 1
        ),
        c2 AS (
            SELECT t.query_id, t.nid, t.rel,
                   0.7 * t.rel - 0.3 * ps.sim AS score
            FROM topk t
            JOIN p1 ON p1.query_id = t.query_id AND t.nid <> p1.p1_id
            JOIN psim ps ON ps.query_id = t.query_id AND ps.a = t.nid
                 AND ps.b = p1.p1_id
        ),
        p2 AS (
            SELECT query_id, nid AS p2_id, score AS p2_score FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY score DESC, nid ASC) AS rr
                FROM c2) r
            WHERE rr = 1
        ),
        c3 AS (
            SELECT t.query_id, t.nid,
                   0.7 * t.rel - 0.3 * GREATEST(s1.sim, s2.sim) AS score
            FROM topk t
            JOIN p1 ON p1.query_id = t.query_id AND t.nid <> p1.p1_id
            JOIN p2 ON p2.query_id = t.query_id AND t.nid <> p2.p2_id
            JOIN psim s1 ON s1.query_id = t.query_id AND s1.a = t.nid
                 AND s1.b = p1.p1_id
            JOIN psim s2 ON s2.query_id = t.query_id AND s2.a = t.nid
                 AND s2.b = p2.p2_id
        ),
        p3 AS (
            SELECT query_id, nid AS p3_id, score AS p3_score FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY score DESC, nid ASC) AS rr
                FROM c3) r
            WHERE rr = 1
        )
        SELECT query_id, CAST(1 AS INT) AS pick, p1_id AS neighbor_id,
               p1_rel AS mmr_score FROM p1
        UNION ALL
        SELECT query_id, CAST(2 AS INT), p2_id, p2_score FROM p2
        UNION ALL
        SELECT query_id, CAST(3 AS INT), p3_id, p3_score FROM p3
    """,
)
def d3_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    # candidate stage re-planned round 6 onto the one-scan matmul top-k
    # (functions/vectorized.brute_force_topk); the MMR algebra below is
    # unchanged and runs over the 8-row-per-query survivors
    from ..functions.vectorized import brute_force_topk

    wrel = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("nid").asc()
    )
    topk = (
        brute_force_topk(v, q, 8)
        .select(
            "query_id",
            F.col("neighbor_id").alias("nid"),
            F.col("cosine").alias("rel"),
        )
        .persist()  # four consumers below; one corpus scan
    )
    va = v.select(F.col("vec_id").alias("a_id"), F.col("e").alias("ae"),
                  F.col("norm").alias("anorm"))
    vb = v.select(F.col("vec_id").alias("b_id"), F.col("e").alias("be"),
                  F.col("norm").alias("bnorm"))
    t1 = topk.select("query_id", F.col("nid").alias("a"))
    t2 = topk.select(F.col("query_id").alias("q2"), F.col("nid").alias("b"))
    psim = (
        t1.join(t2, (F.col("q2") == F.col("query_id")) & (F.col("b") != F.col("a")))
        .join(va, F.col("a_id") == F.col("a"))
        .join(vb, F.col("b_id") == F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            F.round(
                _dot(F.col("ae"), F.col("be"))
                / (F.col("anorm") * F.col("bnorm")),
                6,
            ).alias("sim"),
        )
        .persist()  # consumed by both pick rounds
    )
    p1 = (
        topk.withColumn("rnk", F.row_number().over(wrel))
        .filter(F.col("rnk") == 1)
        .select("query_id", F.col("nid").alias("p1_id"), F.col("rel").alias("p1_rel"))
    )
    c2 = (
        topk.join(
            p1.select(F.col("query_id").alias("pq"), "p1_id"),
            (F.col("pq") == F.col("query_id")) & (F.col("nid") != F.col("p1_id")),
        )
        .join(
            psim.select(
                F.col("query_id").alias("sq"), "a", "b", "sim"
            ),
            (F.col("sq") == F.col("query_id"))
            & (F.col("a") == F.col("nid"))
            & (F.col("b") == F.col("p1_id")),
        )
        .select(
            "query_id",
            "nid",
            "rel",
            (F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("sim")).alias("score"),
        )
    )
    wscore = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("nid").asc()
    )
    p2 = (
        c2.withColumn("rr", F.row_number().over(wscore))
        .filter(F.col("rr") == 1)
        .select("query_id", F.col("nid").alias("p2_id"), F.col("score").alias("p2_score"))
    )
    c3 = (
        topk.join(
            p1.select(F.col("query_id").alias("pq"), "p1_id"),
            (F.col("pq") == F.col("query_id")) & (F.col("nid") != F.col("p1_id")),
        )
        .join(
            p2.select(F.col("query_id").alias("pq2"), "p2_id"),
            (F.col("pq2") == F.col("query_id")) & (F.col("nid") != F.col("p2_id")),
        )
        .join(
            psim.select(F.col("query_id").alias("s1q"), F.col("a").alias("s1a"),
                        F.col("b").alias("s1b"), F.col("sim").alias("sim1")),
            (F.col("s1q") == F.col("query_id"))
            & (F.col("s1a") == F.col("nid"))
            & (F.col("s1b") == F.col("p1_id")),
        )
        .join(
            psim.select(F.col("query_id").alias("s2q"), F.col("a").alias("s2a"),
                        F.col("b").alias("s2b"), F.col("sim").alias("sim2")),
            (F.col("s2q") == F.col("query_id"))
            & (F.col("s2a") == F.col("nid"))
            & (F.col("s2b") == F.col("p2_id")),
        )
        .select(
            "query_id",
            "nid",
            (
                F.lit(0.7) * F.col("rel")
                - F.lit(0.3) * F.greatest(F.col("sim1"), F.col("sim2"))
            ).alias("score"),
        )
    )
    p3 = (
        c3.withColumn("rr", F.row_number().over(wscore))
        .filter(F.col("rr") == 1)
        .select("query_id", F.col("nid").alias("p3_id"), F.col("score").alias("p3_score"))
    )
    out = (
        p1.select(
            "query_id",
            F.lit(1).cast("int").alias("pick"),
            F.col("p1_id").alias("neighbor_id"),
            F.col("p1_rel").alias("mmr_score"),
        )
        .unionAll(
            p2.select(
                "query_id",
                F.lit(2).cast("int").alias("pick"),
                F.col("p2_id").alias("neighbor_id"),
                F.col("p2_score").alias("mmr_score"),
            )
        )
        .unionAll(
            p3.select(
                "query_id",
                F.lit(3).cast("int").alias("pick"),
                F.col("p3_id").alias("neighbor_id"),
                F.col("p3_score").alias("mmr_score"),
            )
        )
    )
    return out


# --------------------------------------------------------------------------
# D3: Mahalanobis OOD scorer (diagonal covariance) — the classic
# out-of-distribution detector over an embedding corpus: each vector is
# scored against its own label's per-dimension Gaussian fit
# (md2_own = Sum_d (x_d - mu_d)^2 / var_d) and against the global fit
# (md2_global), the per-class confidence signal behind Mahalanobis-based
# OOD papers (Lee et al. 2018) and the data-curation "does this example
# belong to its cluster" gate. Exactness discipline is the
# d3_embedding_covariance one: micro-integer quantization makes every
# moment an exact BIGINT (s_d, q_d, n), and the per-dim ratio collapses to
# (x_u*n - s_d)^2 / (n*q_d - s_d^2) — the micro/n scale factors cancel —
# evaluated in double and folded over the FIXED 64-dim order on both
# engines; zero-variance dims contribute 0 by convention. Plan: two
# grid-sized aggregates (label x 64, 64) broadcast back onto one corpus
# scan; per-row work is an O(64) JVM fold. The avg of md2_own over any
# label is exactly dim (=64) by construction — the test invariant.
_MD2_OUTLIER_THRESHOLD = 68.0


def _md2_fold(xu: str, sa: str, qa: str, n: str) -> Column:
    """Sum_d (xu_d*n - sa_d)^2 / (n*qa_d - sa_d^2), zero-var dims -> 0."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(63)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.when(
            F.col(n) * F.get(F.col(qa), i)
            - F.get(F.col(sa), i) * F.get(F.col(sa), i)
            == 0,
            F.lit(0.0),
        ).otherwise(
            (
                (F.get(F.col(xu), i) * F.col(n) - F.get(F.col(sa), i))
                .cast("double")
                * (F.get(F.col(xu), i) * F.col(n) - F.get(F.col(sa), i))
                .cast("double")
            )
            / (
                F.col(n) * F.get(F.col(qa), i)
                - F.get(F.col(sa), i) * F.get(F.col(sa), i)
            ).cast("double")
        ),
    )


@query(
    "d3_ood_mahalanobis",
    oracle="""
        WITH xu AS (
            SELECT vec_id, label,
                   [CAST(FLOOR(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                    FOR e IN embedding] AS xu
            FROM embeddings
        ),
        longf AS (
            SELECT label, i, xu[i + 1] AS x FROM xu, range(64) t(i)
        ),
        st AS (
            SELECT label, i, CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM(x * x) AS BIGINT) AS q,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM longf GROUP BY 1, 2
        ),
        starr AS (
            SELECT label, list(s ORDER BY i) AS sa,
                   list(q ORDER BY i) AS qa, MAX(n) AS n
            FROM st GROUP BY label
        ),
        glst AS (
            SELECT i, CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM(x * x) AS BIGINT) AS q,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM longf GROUP BY i
        ),
        glarr AS (
            SELECT list(s ORDER BY i) AS gsa, list(q ORDER BY i) AS gqa,
                   MAX(n) AS gn
            FROM glst
        ),
        scored AS (
            SELECT v.vec_id, v.label,
                   list_sum([CASE WHEN st.n * st.qa[i+1]
                                       - st.sa[i+1] * st.sa[i+1] = 0
                                  THEN 0.0
                                  ELSE CAST(v.xu[i+1] * st.n - st.sa[i+1]
                                            AS DOUBLE)
                                       * CAST(v.xu[i+1] * st.n - st.sa[i+1]
                                              AS DOUBLE)
                                       / CAST(st.n * st.qa[i+1]
                                              - st.sa[i+1] * st.sa[i+1]
                                              AS DOUBLE) END
                             FOR i IN range(64)]) AS md2_own,
                   list_sum([CASE WHEN g.gn * g.gqa[i+1]
                                       - g.gsa[i+1] * g.gsa[i+1] = 0
                                  THEN 0.0
                                  ELSE CAST(v.xu[i+1] * g.gn - g.gsa[i+1]
                                            AS DOUBLE)
                                       * CAST(v.xu[i+1] * g.gn - g.gsa[i+1]
                                              AS DOUBLE)
                                       / CAST(g.gn * g.gqa[i+1]
                                              - g.gsa[i+1] * g.gsa[i+1]
                                              AS DOUBLE) END
                             FOR i IN range(64)]) AS md2_global
            FROM xu v JOIN starr st ON st.label = v.label
            CROSS JOIN glarr g
        )
        SELECT vec_id, label, md2_own, md2_global,
               CAST(CASE WHEN md2_own > 68.0 THEN 1 ELSE 0 END AS INT)
                   AS is_outlier
        FROM scored
    """,
)
def d3_ood_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "embeddings")
    micro = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5)).cast(
            "long"
        ),
    )
    xu = v.select("vec_id", "label", micro.alias("xu"))
    longf = xu.select("label", F.posexplode("xu").alias("i", "x"))

    def _stats(df: DataFrame, keys: list[str]) -> DataFrame:
        return df.groupBy(*keys, "i").agg(
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("q"),
            F.count("*").cast("long").alias("n"),
        )

    def _to_arrays(df: DataFrame, keys: list[str], pfx: str) -> DataFrame:
        def ordered(val: str) -> Column:
            return F.transform(
                F.array_sort(F.collect_list(F.struct("i", val))),
                lambda t: t[val],
            )

        return df.groupBy(*keys).agg(
            ordered("s").alias(f"{pfx}sa"),
            ordered("q").alias(f"{pfx}qa"),
            F.max("n").alias(f"{pfx}n"),
        )

    st = _stats(longf, ["label"]).persist()  # labels x 64 rows, 2 readers
    starr = _to_arrays(st, ["label"], "")
    # global moments are the label moments re-summed — the 64x explode and
    # corpus aggregation run ONCE; this second pass is grid-sized input
    glarr = _to_arrays(
        st.groupBy(F.lit(1).alias("g"), "i").agg(
            F.sum("s").alias("s"),
            F.sum("q").alias("q"),
            F.sum("n").cast("long").alias("n"),
        ),
        ["g"],
        "g",
    ).drop("g")
    scored = (
        xu.join(F.broadcast(starr), "label")
        .crossJoin(F.broadcast(glarr))
        .select(
            "vec_id",
            "label",
            _md2_fold("xu", "sa", "qa", "n").alias("md2_own"),
            _md2_fold("xu", "gsa", "gqa", "gn").alias("md2_global"),
        )
    )
    return scored.select(
        "vec_id",
        "label",
        "md2_own",
        "md2_global",
        F.when(F.col("md2_own") > _MD2_OUTLIER_THRESHOLD, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_outlier"),
    )


# --------------------------------------------------------------------------
# D3: index-selection frontier — the tuning dashboard that joins every
# candidate-generation strategy's recall eval on one scale: sign-LSH
# buckets, IVF nprobe=1, 64-bit binary-quantization rerank, and 16-dim
# Matryoshka truncation, each against the same brute-force truth. Mean
# recall is computed from exact integer sums (Sum(hits) / (5 * queries),
# floor-quantized), and the candidate column carries the scan-cost proxy
# where the method has one (bucket methods; the rerank methods score the
# full corpus by design — NULL there). Composition, not duplication:
# both the Spark side and the oracle reuse the four registered evals
# verbatim (the oracle embeds their SQL as CTEs via the registry), so
# this report can never drift from the per-method queries it summarizes.
from ..registry import _ORACLE as _REGISTERED_ORACLES


def _frontier_oracle() -> str:
    lsh = _REGISTERED_ORACLES["d3_ann_recall_eval"]
    ivf = _REGISTERED_ORACLES["d3_ivf_recall_eval"]
    bq = _REGISTERED_ORACLES["d3_binary_quant_recall"]
    tr = _REGISTERED_ORACLES["d3_truncation_recall_eval"]
    summary = """
        SELECT '{m}' AS method, CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(n_hits) AS BIGINT) AS total_hits,
               CAST((2 * SUM(n_hits) * 1000000 + 5 * COUNT(*))
                    // (10 * COUNT(*)) AS BIGINT) AS mean_recall_ppm,
               {cand} AS avg_candidates_ppk
        FROM {src}"""
    cand_expr = (
        "CAST((2 * SUM(n_candidates) * 1000 + COUNT(*))"
        " // (2 * COUNT(*)) AS BIGINT)"
    )
    return " UNION ALL ".join(
        [
            f"WITH lshq AS ({lsh}), ivfq AS ({ivf}), bqq AS ({bq}), "
            f"trq AS ({tr})"
            + summary.format(m="lsh_bucket", cand=cand_expr, src="lshq"),
            summary.format(m="ivf_nprobe1", cand=cand_expr, src="ivfq"),
            summary.format(
                m="binary_quant64", cand="CAST(NULL AS BIGINT)", src="bqq"
            ),
            summary.format(
                m="truncate_16d", cand="CAST(NULL AS BIGINT)", src="trq"
            ),
        ]
    )


@query("d3_index_frontier", oracle=_frontier_oracle())
def d3_index_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _summarize(df: DataFrame, method: str, has_cand: bool) -> DataFrame:
        cand = (
            F.expr(
                "(2 * SUM(n_candidates) * 1000 + COUNT(*))"
                " div (2 * COUNT(*))"
            ).cast("long")
            if has_cand
            else F.lit(None).cast("long")
        )
        return df.agg(
            F.lit(method).alias("method"),
            F.count("*").cast("long").alias("n_queries"),
            F.sum("n_hits").cast("long").alias("total_hits"),
            F.expr(
                "(2 * SUM(n_hits) * 1000000 + 5 * COUNT(*))"
                " div (10 * COUNT(*))"
            )
            .cast("long")
            .alias("mean_recall_ppm"),
            cand.alias("avg_candidates_ppk"),
        )

    return (
        _summarize(d3_ann_recall_eval(spark, sf_dir), "lsh_bucket", True)
        .unionAll(
            _summarize(d3_ivf_recall_eval(spark, sf_dir), "ivf_nprobe1", True)
        )
        .unionAll(
            _summarize(
                d3_binary_quant_recall(spark, sf_dir), "binary_quant64", False
            )
        )
        .unionAll(
            _summarize(
                d3_truncation_recall_eval(spark, sf_dir), "truncate_16d", False
            )
        )
    )


# --------------------------------------------------------------------------
# D3: contrastive-pair mining — the training-data constructor for
# embedding models (SimCSE/InfoNCE-style): POSITIVES are same-label pairs
# with the highest cosine (mined inside label blocks — the supervised
# positive set), HARD NEGATIVES are cross-label pairs that look similar
# anyway (cosine above the same bar) — exactly the pairs that teach a
# contrastive loss its margin. Neither side is all-pairs: positives
# block on label (Sum block^2, the SemDeDup discipline), hard negatives
# only form inside sign-LSH buckets (the ANN candidate generator reused
# as a miner — recall < 1 by design; at 100 TB you widen with more
# bands, never with a cross join). Top-25 per kind on round6 cosine with
# (vec_a, vec_b) tiebreaks.
CONTRASTIVE_MIN_COS = 0.3


@query(
    "d3_contrastive_pairs",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        proj AS (
            SELECT vec_id, p,
                   list_sum([e[d+1] * CAST({_W_FORMULA} AS DOUBLE)
                             FOR d IN range(64)]) AS dotp
            FROM v, (SELECT unnest(range(8)) AS p)
        ),
        bucketed AS (
            SELECT vec_id,
                   CAST(SUM(CASE WHEN dotp > 0
                        THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM proj GROUP BY vec_id
        ),
        vv AS (SELECT v.*, b.bucket FROM v JOIN bucketed b USING (vec_id)),
        pos AS (
            SELECT 'positive' AS kind, a.vec_id AS vec_a, b.vec_id AS vec_b,
                   a.label AS label_a, b.label AS label_b,
                   round(list_dot_product(a.e, b.e)
                         / (a.norm * b.norm), 6) AS cosine
            FROM v a JOIN v b
              ON b.label = a.label AND b.vec_id > a.vec_id
            WHERE round(list_dot_product(a.e, b.e)
                        / (a.norm * b.norm), 6) >= {CONTRASTIVE_MIN_COS}
        ),
        neg AS (
            SELECT 'hard_negative' AS kind, a.vec_id AS vec_a,
                   b.vec_id AS vec_b, a.label AS label_a, b.label AS label_b,
                   round(list_dot_product(a.e, b.e)
                         / (a.norm * b.norm), 6) AS cosine
            FROM vv a JOIN vv b
              ON b.bucket = a.bucket AND b.vec_id > a.vec_id
                 AND b.label <> a.label
            WHERE round(list_dot_product(a.e, b.e)
                        / (a.norm * b.norm), 6) >= {CONTRASTIVE_MIN_COS}
        ),
        unioned AS (SELECT * FROM pos UNION ALL SELECT * FROM neg)
        SELECT kind, vec_a, vec_b, label_a, label_b, cosine, rnk FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY kind
                ORDER BY cosine DESC, vec_a ASC, vec_b ASC) AS rnk
            FROM unioned
        ) r WHERE rnk <= 25
    """,
)
def d3_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    vv = _sign_lsh_bucketed(v)

    # Arrow-vectorized pair cosine (see d3_dedup_threshold_sweep): the
    # candidate sets here are label-blocked / bucket-blocked pair joins,
    # exactly the |block|^2 shape the round-6dp contract designates for
    # the einsum kernel.
    from ..functions.vectorized import cosine_pandas

    def _pairs(left: DataFrame, cond, kind: str) -> DataFrame:
        a, b = left.alias("a"), left.alias("b")
        cos = F.round(cosine_pandas(F.col("a.e"), F.col("b.e")), 6)
        return (
            a.join(b, cond)
            .select(
                F.lit(kind).alias("kind"),
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.col("a.label").alias("label_a"),
                F.col("b.label").alias("label_b"),
                cos.alias("cosine"),
            )
            .filter(F.col("cosine") >= CONTRASTIVE_MIN_COS)
        )

    pos = _pairs(
        v,
        (F.col("b.label") == F.col("a.label"))
        & (F.col("b.vec_id") > F.col("a.vec_id")),
        "positive",
    )
    neg = _pairs(
        vv,
        (F.col("b.bucket") == F.col("a.bucket"))
        & (F.col("b.vec_id") > F.col("a.vec_id"))
        & (F.col("b.label") != F.col("a.label")),
        "hard_negative",
    )
    wr = Window.partitionBy("kind").orderBy(
        F.col("cosine").desc(), F.col("vec_a").asc(), F.col("vec_b").asc()
    )
    return (
        pos.unionAll(neg)
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 25)
    )


# --------------------------------------------------------------------------
# D3: clustering-quality eval — purity and NMI of the IVF nearest-centroid
# partition against the true labels: the standard external clustering
# metrics, computed on the SAME centroid machinery the IVF read path uses
# (_ivf_centroids), so this is the quality report for that index's cell
# structure. Per-cell purity is an exact rational (majority count /
# cell size) through the floor-ppm path; NMI assembles from the exact
# integer contingency grid with round6 ln terms decimal-summed (the
# entropy discipline of d4_unigram_entropy), one sqrt at the end. Plan:
# one 25-row broadcast cross join assigns the corpus, then everything is
# grid-sized. The NMI column repeats on every cell row (single-metric
# convenience, same shape as other report queries).
@query(
    "d3_cluster_purity_nmi",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        cent AS (
            SELECT label, list(m ORDER BY pos) AS c
            FROM (
                SELECT label, i AS pos,
                       CAST(SUM(CAST(e[i + 1] AS DECIMAL(27,6))) AS DOUBLE)
                           / COUNT(*) AS m
                FROM v, (SELECT unnest(range(64)) AS i)
                GROUP BY label, i
            ) grid
            GROUP BY label
        ),
        cn AS (SELECT label AS cell, c,
                      sqrt(list_dot_product(c, c)) AS cnorm FROM cent),
        assigned AS (
            SELECT vec_id, label, cell FROM (
                SELECT v.vec_id, v.label, cn.cell,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY round(list_dot_product(v.e, cn.c)
                                          / (v.norm * cn.cnorm), 6) DESC,
                                    cn.cell ASC) AS arnk
                FROM v CROSS JOIN cn
            ) r WHERE arnk = 1
        ),
        cont AS (
            SELECT cell, label, CAST(COUNT(*) AS BIGINT) AS n
            FROM assigned GROUP BY 1, 2
        ),
        nc AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS nc FROM cont GROUP BY 1),
        nl AS (SELECT label, CAST(SUM(n) AS BIGINT) AS nl FROM cont GROUP BY 1),
        nn AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM cont),
        mi AS (
            SELECT CAST(SUM(CAST(ROUND(
                       (CAST(c.n AS DOUBLE) / nn.n)
                       * ln(CAST(nn.n AS DOUBLE) * c.n
                            / (CAST(nc.nc AS DOUBLE) * nl.nl)), 6)
                       AS DECIMAL(27,6))) AS DOUBLE) AS mi
            FROM cont c JOIN nc ON nc.cell = c.cell
                        JOIN nl ON nl.label = c.label
            CROSS JOIN nn
        ),
        hc AS (
            SELECT CAST(SUM(CAST(ROUND(
                       -(CAST(nc AS DOUBLE) / nn.n)
                       * ln(CAST(nc AS DOUBLE) / nn.n), 6)
                       AS DECIMAL(27,6))) AS DOUBLE) AS h
            FROM nc CROSS JOIN nn
        ),
        hl AS (
            SELECT CAST(SUM(CAST(ROUND(
                       -(CAST(nl AS DOUBLE) / nn.n)
                       * ln(CAST(nl AS DOUBLE) / nn.n), 6)
                       AS DECIMAL(27,6))) AS DOUBLE) AS h
            FROM nl CROSS JOIN nn
        ),
        cellrows AS (
            SELECT cell, nc AS n_vecs, label AS majority_label,
                   n AS n_majority
            FROM (
                SELECT c.cell, nc.nc, c.label, c.n,
                       ROW_NUMBER() OVER (PARTITION BY c.cell
                           ORDER BY c.n DESC, c.label ASC) AS rn
                FROM cont c JOIN nc ON nc.cell = c.cell
            ) x WHERE rn = 1
        )
        SELECT cell, n_vecs, majority_label,
               CAST(n_majority AS BIGINT) AS n_majority,
               CAST((2 * n_majority * 1000000 + n_vecs)
                    // (2 * n_vecs) AS BIGINT) AS purity_ppm,
               ROUND(mi.mi / sqrt(hc.h * hl.h), 6) AS nmi
        FROM cellrows CROSS JOIN mi CROSS JOIN hc CROSS JOIN hl
    """,
)
def d3_cluster_purity_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    cent = _ivf_centroids(v)
    scored = v.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "cell",
        F.round(
            _dot(F.col("e"), F.col("c")) / (F.col("norm") * F.col("cnorm")),
            6,
        ).alias("ccos"),
    )
    wa = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cell").asc()
    )
    assigned = (
        scored.withColumn("arnk", F.row_number().over(wa))
        .filter(F.col("arnk") == 1)
        .select("vec_id", "label", "cell")
    )
    cont = assigned.groupBy("cell", "label").agg(
        F.count("*").cast("long").alias("n")
    ).persist()  # contingency grid feeds margins, MI and cell rows
    nc = cont.groupBy("cell").agg(F.sum("n").cast("long").alias("nc"))
    nl = cont.groupBy("label").agg(F.sum("n").cast("long").alias("nl"))
    nn = cont.agg(F.sum("n").cast("long").alias("nt"))
    dec = lambda c: F.round(c, 6).cast("decimal(27,6)")
    mi = (
        cont.join(F.broadcast(nc), "cell")
        .join(F.broadcast(nl), "label")
        .crossJoin(F.broadcast(nn))
        .agg(
            F.sum(
                dec(
                    (F.col("n").cast("double") / F.col("nt"))
                    * F.log(
                        F.col("nt").cast("double")
                        * F.col("n")
                        / (F.col("nc").cast("double") * F.col("nl"))
                    )
                )
            )
            .cast("double")
            .alias("mi")
        )
    )
    hc = (
        nc.crossJoin(F.broadcast(nn))
        .agg(
            F.sum(
                dec(
                    -(F.col("nc").cast("double") / F.col("nt"))
                    * F.log(F.col("nc").cast("double") / F.col("nt"))
                )
            )
            .cast("double")
            .alias("hcv")
        )
    )
    hl = (
        nl.crossJoin(F.broadcast(nn))
        .agg(
            F.sum(
                dec(
                    -(F.col("nl").cast("double") / F.col("nt"))
                    * F.log(F.col("nl").cast("double") / F.col("nt"))
                )
            )
            .cast("double")
            .alias("hlv")
        )
    )
    wmaj = Window.partitionBy("cell").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    cellrows = (
        cont.join(F.broadcast(nc), "cell")
        .withColumn("rn", F.row_number().over(wmaj))
        .filter(F.col("rn") == 1)
        .select(
            "cell",
            F.col("nc").alias("n_vecs"),
            F.col("label").alias("majority_label"),
            F.col("n").cast("long").alias("n_majority"),
        )
    )
    return (
        cellrows.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .select(
            "cell",
            "n_vecs",
            "majority_label",
            "n_majority",
            F.expr("(2 * n_majority * 1000000 + n_vecs) div (2 * n_vecs)")
            .cast("long")
            .alias("purity_ppm"),
            F.round(
                F.col("mi") / F.sqrt(F.col("hcv") * F.col("hlv")), 6
            ).alias("nmi"),
        )
    )


# --------------------------------------------------------------------------
# PQ distortion report — the tuning read-out over d3_pq_codebook_assign
# (whose result it consumes directly, Spark-side and oracle-side alike):
# per subspace, how many codewords the querying sample actually uses and
# the total / mean quantization error. Rising mean distortion or
# codeword collapse (codes_used << codebook size) is the signal to
# re-train the codebooks before ANN recall quietly degrades
# (cf. d3_centroid_drift for the IVF analog). The per-vector qerr terms
# are already 6dp-rounded by the assign step, so the decimal re-sum here
# is order-independent and exact; one grid-sized groupBy(subspace).
@query(
    "d3_pq_distortion",
    oracle=f"""
        WITH assign AS ({_PQ_ASSIGN_ORACLE})
        SELECT subspace,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(COUNT(DISTINCT code) AS BIGINT) AS codes_used,
               CAST(SUM(CAST(qerr AS DECIMAL(27,6))) AS DOUBLE)
                   AS total_qerr,
               CAST(SUM(CAST(qerr AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)
                   AS mean_qerr
        FROM assign GROUP BY subspace
    """,
)
def d3_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = d3_pq_codebook_assign(spark, sf_dir)
    total = F.sum(F.col("qerr").cast("decimal(27,6)")).cast("double")
    return assign.groupBy("subspace").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.countDistinct("code").cast("long").alias("codes_used"),
        total.alias("total_qerr"),
        (total / F.count("*")).alias("mean_qerr"),
    )


# --------------------------------------------------------------------------
# Embedding health report — the vector-ingest QA gate: a batch arriving
# from an embedder is audited per label for dimension violations, zero
# vectors, and norm drift BEFORE it reaches the index builders (the
# fixture corpus is pre-normalized, so the audit seeds deterministic
# pathologies the way CORPUS_SQL seeds duplicates: 3x-scaled copies at
# +100k, zeroed at +200k, 32-dim truncations at +300k). One corpus
# scan, all math in per-row HOFs, one grid-sized groupBy(label); norm
# means round6 each term then decimal-sum. At 100 TB this is the cheap
# pass that catches a half-deployed embedder revision (bimodal norms)
# before ANN recall mysteriously halves.
@query(
    "d3_embedding_health",
    oracle="""
        WITH batch AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings
            UNION ALL
            SELECT vec_id + 100000, label,
                   [x * 3.0 FOR x IN CAST(embedding AS DOUBLE[])]
            FROM embeddings WHERE vec_id % 17 = 0
            UNION ALL
            SELECT vec_id + 200000, label,
                   [x * 0.0 FOR x IN CAST(embedding AS DOUBLE[])]
            FROM embeddings WHERE vec_id % 23 = 0
            UNION ALL
            SELECT vec_id + 300000, label,
                   CAST(embedding AS DOUBLE[])[1:32]
            FROM embeddings WHERE vec_id % 29 = 0
        ),
        v AS (
            SELECT label, len(e) AS dim,
                   sqrt(list_dot_product(e, e)) AS norm
            FROM batch
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(COUNT(*) FILTER (WHERE dim <> 64) AS BIGINT)
                   AS n_bad_dim,
               CAST(COUNT(*) FILTER (WHERE norm = 0) AS BIGINT) AS n_zero,
               CAST(COUNT(*) FILTER (WHERE norm > 1.5) AS BIGINT)
                   AS n_outsized,
               CAST(SUM(CAST(ROUND(norm, 6) AS DECIMAL(27,6))) AS DOUBLE)
                   / COUNT(*) AS mean_norm,
               ROUND(MIN(norm), 6) AS min_norm,
               ROUND(MAX(norm), 6) AS max_norm
        FROM v GROUP BY label
    """,
)
def d3_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    base = e.select("vec_id", "label", as_double.alias("e"))

    def seeded(offset: int, mod: int, xform) -> DataFrame:
        return e.filter(F.col("vec_id") % mod == 0).select(
            (F.col("vec_id") + offset).alias("vec_id"),
            "label",
            xform.alias("e"),
        )

    batch = (
        base.unionAll(
            seeded(100000, 17, F.transform("embedding",
                                           lambda x: x.cast("double") * 3.0))
        )
        .unionAll(
            seeded(200000, 23, F.transform("embedding",
                                           lambda x: x.cast("double") * 0.0))
        )
        .unionAll(
            seeded(300000, 29,
                   F.slice(F.transform("embedding",
                                       lambda x: x.cast("double")), 1, 32))
        )
    )
    v = batch.select(
        "label",
        F.size("e").alias("dim"),
        F.sqrt(_dot(F.col("e"), F.col("e"))).alias("norm"),
    )
    return v.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.count_if(F.col("dim") != 64).cast("long").alias("n_bad_dim"),
        F.count_if(F.col("norm") == 0).cast("long").alias("n_zero"),
        F.count_if(F.col("norm") > 1.5).cast("long").alias("n_outsized"),
        (
            F.sum(F.round("norm", 6).cast("decimal(27,6)")).cast("double")
            / F.count("*")
        ).alias("mean_norm"),
        F.round(F.min("norm"), 6).alias("min_norm"),
        F.round(F.max("norm"), 6).alias("max_norm"),
    )


# --------------------------------------------------------------------------
# Stale-index recall under deletions — the index-maintenance eval the
# recall suite (LSH/IVF/binary/truncation) is missing: 10% of the
# corpus is deleted (vec_id % 10 == 3, disjoint from the query sample),
# but the serving index was never rebuilt, so it still RANKS the
# deleted vectors and tombstone-filters them at serving time — wasting
# top-k slots. Per query: live-truth hits among the stale (filtered)
# top-5, tombstoned slots, and recall@5 against the LIVE brute-force
# truth. The answer to "how often must we rebuild after deletes"
# measured exactly; both rankings reuse the d3a brute-force shape
# (query sample broadcast, one corpus scan each).
@query(
    "d3_stale_index_recall",
    oracle=f"""
        WITH v AS ({_O_VEC}),
        q AS (SELECT * FROM v WHERE vec_id % 10 = 0),
        live AS (SELECT * FROM v WHERE vec_id % 10 <> 3),
        truth AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, l.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY round(list_dot_product(q.e, l.e)
                                          / (q.norm * l.norm), 6) DESC,
                                    l.vec_id ASC) AS rnk
                FROM q JOIN live l ON l.vec_id <> q.vec_id
            ) r WHERE rnk <= 5
        ),
        stale AS (
            SELECT query_id, neighbor_id,
                   CASE WHEN neighbor_id % 10 = 3 THEN 1 ELSE 0 END
                       AS tombstoned
            FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY round(list_dot_product(q.e, v.e)
                                          / (q.norm * v.norm), 6) DESC,
                                    v.vec_id ASC) AS rnk
                FROM q JOIN v ON v.vec_id <> q.vec_id
            ) r WHERE rnk <= 5
        )
        SELECT t.query_id,
               CAST(SUM(CASE WHEN s.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               CAST(MAX(ts.n_tomb) AS BIGINT) AS n_tombstoned,
               SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   / 5.0 AS recall_at_5
        FROM truth t
        LEFT JOIN (SELECT * FROM stale WHERE tombstoned = 0) s
          ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id
        JOIN (SELECT query_id, SUM(tombstoned) AS n_tomb
              FROM stale GROUP BY query_id) ts
          ON ts.query_id = t.query_id
        GROUP BY t.query_id
    """,
)
def d3_stale_index_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )

    # both index generations share the one-scan matmul top-k (round-6
    # re-plan, functions/vectorized.brute_force_topk)
    from ..functions.vectorized import brute_force_topk

    def topk(corpus: DataFrame) -> DataFrame:
        return (
            brute_force_topk(corpus, q, 5)
            .select("query_id", "neighbor_id")
        )

    truth = topk(v.filter(F.col("vec_id") % 10 != 3))
    stale = topk(v).withColumn(
        "tombstoned",
        F.when(F.col("neighbor_id") % 10 == 3, 1).otherwise(0),
    )
    served = stale.filter(F.col("tombstoned") == 0).withColumn(
        "hit", F.lit(1)
    )
    tombs = stale.groupBy("query_id").agg(
        F.sum("tombstoned").alias("n_tomb")
    )
    return (
        truth.join(served, ["query_id", "neighbor_id"], "left")
        .join(tombs, "query_id")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
            F.max("n_tomb").cast("long").alias("n_tombstoned"),
            (F.sum(F.coalesce("hit", F.lit(0))) / F.lit(5.0)).alias(
                "recall_at_5"
            ),
        )
    )
