"""Similarity search over the ``embeddings`` table (64-dim float vectors).

- q85: brute-force cosine top-k against a query vector — the exact
  baseline. All arithmetic in JVM higher-order functions (zip_with +
  aggregate); elements cast to double before accumulating so Spark and
  DuckDB agree bit-for-bit after rounding.
- q86: per-vector nearest neighbor within label partitions (blocked
  brute force — the "bucketed" scale pattern with label as the bucket).
- q87: random-hyperplane (sign) LSH bucketing — the scale path: the
  hyperplanes are deterministic literals derived from md5 at plan-build
  time, so the oracle reproduces them exactly. Candidates come from one
  bucket equi-join instead of an all-pairs product.

Near-dup by embedding cosine (the dedup flavor) is q88.
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ._util import (
    _cache_evict,  # noqa: F401  (re-export: tests and sibling plans import from here)
    _cache_put,
    _session_cache,
    fitted_family,
    refresh_then_serve,
    source_fingerprint,
    standing_hex,
    t,
    tw,
)

DIM = 64
QUERY_VEC_ID = 0
N_PLANES = 8

# ---- malformed-vector ingestion contract ---------------------------------
# An ANN INDEX ingests only well-formed vectors: NULL or wrong-length
# embeddings (failed embedding jobs, truncated writes — routine at
# corpus scale) are EXCLUDED from fit and codes, so they can never be
# hits and can never poison a centroid. The brute-force scan paths
# don't need the filter — their arithmetic NULLs malformed rows out of
# every top-k identically in both engines (see the cosine note below)
# — but fit arithmetic (element_at into sliced subvectors, Lloyd
# means) is task-fatal or engine-divergent on them, so the index
# builders go through this gate and their oracles carry the same
# predicate. Zero-norm vectors are VALID here (a legitimate L2 point);
# the cosine guard handles them at scoring time. NON-FINITE (NaN/±Inf)
# or NULL elements are rejected too (r18, r17 ADVICE): NaN sorts
# differently across the two engines' tie machinery (DuckDB's ORDER BY
# ranks NaN greatest; the in-row negated sort key ranks it last), so a
# NaN-poisoned vector must never reach a fit or an argmin — the
# element test is a CASE-per-element sum, written identically in both
# engines so NULL elements count as invalid rather than falling into
# three-valued-logic divergence.
EMB_VALID_SQL = (
    f"(SELECT * FROM embeddings "
    f"WHERE embedding IS NOT NULL AND len(embedding) = {DIM} "
    f"AND list_aggregate(list_transform(embedding, "
    f"x -> CASE WHEN isfinite(x) THEN 0 ELSE 1 END), 'sum') = 0)"
)


def valid_embeddings(e: DataFrame) -> DataFrame:
    """The Spark half of the ingestion gate (see EMB_VALID_SQL)."""
    finite = (
        "x IS NOT NULL AND NOT isnan(CAST(x AS DOUBLE)) "
        f"AND abs(CAST(x AS DOUBLE)) != {_INF}"
    )
    return e.where(F.expr(
        f"embedding IS NOT NULL AND size(embedding) = {DIM} AND aggregate("
        f"transform(embedding, x -> CASE WHEN {finite} THEN 0 ELSE 1 END), "
        "0, (acc, x) -> acc + x) = 0"
    ))


# ---- vector math as Spark-SQL text ---------------------------------------
# Every vector expression is ONE Spark-SQL string: the helpers below
# take column names or SQL fragments and return text, and each consumer
# parses its whole expression with a single ``F.expr`` — one py4j call,
# where the Column API paid ~8 ms and dozens of gateway round trips per
# higher-order lambda (pyspark's ``_create_lambda``; see
# :func:`_plane_dot_expr`). The text resolves to the Catalyst
# expressions the Column form built: elements CAST to double, a
# sequential ``aggregate`` fold from a ``0.0D`` seed, so values stay
# bit-identical to the DuckDB twins after rounding. Lambda variables
# shadow columns of the same name, so a fragment that names a column
# is only ever an ARGUMENT of a higher-order function, never spliced
# into a lambda body that binds that name.
_INF = "CAST('Infinity' AS DOUBLE)"


def _fsum(arr: str) -> str:
    """Sequential left fold of an array<double>, seeded 0.0D."""
    return f"aggregate({arr}, 0.0D, (acc, x) -> acc + x)"


def _dbl(a: str) -> str:
    return f"transform({a}, x -> CAST(x AS DOUBLE))"


def _dot(a: str, b: str) -> str:
    """Sequential-order dot product of two array<float> fragments,
    double accumulation (matches DuckDB list_aggregate('sum') order)."""
    return _fsum(
        f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
    )


def _norm(a: str) -> str:
    return f"sqrt({_fsum(f'transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))')})"


def _cos(a: str, b: str, na: str | None = None, nb: str | None = None) -> str:
    """Cosine of two vector fragments; ``na``/``nb`` name precomputed
    norms (q164's norms-once discipline — the quotient is bit-equal to
    the per-pair form)."""
    return f"({_dot(a, b)} / nullif({na or _norm(a)} * {nb or _norm(b)}, 0.0D))"


def _neg_cos(a: str, b: str, na: str | None = None, nb: str | None = None) -> str:
    """Negated cosine as an ascending sort key: NULL (zero norm) → +inf,
    so a null-sim cell ranks LAST, as the oracle's NULLS LAST does."""
    return f"coalesce(-{_cos(a, b, na, nb)}, {_INF})"


_DOT_SQL = (
    "list_aggregate(list_transform(range(1, {dim} + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
)
_NORM_SQL = (
    "sqrt(list_aggregate(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)


# Cosine similarity is NULL for a zero-norm vector, identically in both
# engines (nullif on the denominator). Without the guard, ONE zero
# embedding — a failed-embedding row, routine at corpus scale — kills
# every cosine-based query under Spark's ANSI mode (DIVIDE_BY_ZERO is a
# task-fatal error in Spark 4 defaults) instead of just ranking last.
# NULL similarities fall out of every top-k (both engines sort NULLs
# after real values in the orders used here).
def cosine_sql(a: str, b: str) -> str:
    dot = _DOT_SQL.format(a=a, b=b, dim=DIM)
    return (
        f"({dot} / nullif({_NORM_SQL.format(a=a)} * {_NORM_SQL.format(a=b)}, 0.0))"
    )


def cosine_col(a: str, b: str) -> Column:
    """Spark twin of :func:`cosine_sql` over two column names."""
    return F.expr(_cos(a, b))


@register(
    "q85_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT vec_id, label,
           round({cosine_sql('embedding', 'qv')}, 4) AS cos_sim
    FROM embeddings, q
    WHERE vec_id != {QUERY_VEC_ID}
    ORDER BY {cosine_sql('embedding', 'qv')} DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity", "ann-baseline"),
)
def q85_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vector 0.

    Plan: the 1-row query vector cross-broadcasts to every partition
    (BroadcastNestedLoopJoin over a single row — effectively free), then
    TakeOrderedAndProject keeps 10 rows per partition. Linear scan, no
    shuffle of the embedding table."""
    e = t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qv"))
    sim = cosine_col("embedding", "qv")
    return (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", sim.alias("_sim"))
        .orderBy(F.col("_sim").desc(), "vec_id")
        .limit(10)
        .select("vec_id", "label", F.round("_sim", 4).alias("cos_sim"))
    )


def _hyperplanes(tag: str = "") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^DIM, derived
    from md5(tag + plane,dim) — pure function, embedded as literals in
    BOTH the Spark plan and the oracle SQL. A non-empty ``tag`` derives
    an INDEPENDENT plane family (the multi-table LSH tables of q172)."""
    planes = []
    for h in range(N_PLANES):
        row = []
        for d in range(DIM):
            digest = hashlib.md5(f"{tag}plane{h}:{d}".encode()).hexdigest()
            row.append(round(int(digest[:8], 16) / float(0xFFFFFFFF) * 2.0 - 1.0, 6))
        planes.append(row)
    return planes


_PLANES = _hyperplanes()


def _table_planes(tid: int) -> list[list[float]]:
    """Plane family for multi-table LSH table ``tid`` — independent of
    the default family (different md5 tag) and of every other table."""
    return _hyperplanes(f"t{tid}:")


def _plane_dot_expr(emb_sql: str, plane: list[float]) -> str:
    """The per-plane dot as ONE Spark-SQL string: sequential-fold sum,
    double accumulation, parsed JVM-side in one py4j call instead of
    hundreds (pyspark's ``lit(list)`` lits every ELEMENT and each
    higher-order lambda costs several gateway round-trips; measured
    10 s → 0.05 s to construct the 6-table key projection, identical
    values — the q172 serve wall was driver-side plan CONSTRUCTION,
    not execution). The precedent the whole SQL-text vector layer
    (:func:`_dot` and friends) generalizes. ``{v!r}D`` literals: repr
    round-trips the exact double, the D suffix keeps Spark from
    parsing DECIMAL."""
    lits = ", ".join(f"{v!r}D" for v in plane)
    return (
        f"aggregate(zip_with({emb_sql}, array({lits}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (a, x) -> a + x)"
    )


def _bucket_col(
    emb: str,
    n_planes: int = N_PLANES,
    planes: list[list[float]] | None = None,
) -> Column:
    """Sign-LSH bucket id of the embedding column named ``emb``:
    bit h = (embedding · plane_h) >= 0, each plane's dot one parsed
    :func:`_plane_dot_expr`."""
    terms = []
    for h, plane in enumerate((planes or _PLANES)[:n_planes]):
        dot = _plane_dot_expr(emb, plane)
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << h} ELSE 0 END)")
    return F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")


def _bucket_sql(
    emb: str, n_planes: int = N_PLANES, planes: list[list[float]] | None = None
) -> str:
    terms = []
    for h, plane in enumerate((planes or _PLANES)[:n_planes]):
        lits = ", ".join(str(v) for v in plane)
        dot = (
            f"list_aggregate(list_transform(range(1, {DIM} + 1), "
            f"i -> CAST({emb}[i] AS DOUBLE) * ([{lits}])[i]), 'sum')"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << h} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


BLOCK_CAP = 128  # rows per block before the quadratic is sub-bucketed
N_SUB_PLANES = 2  # 4 sub-buckets — quarters an oversized block


def capped_sub_col(n: str, emb: str, cap: int, n_planes: int = N_SUB_PLANES):
    """Bounded-blocking refinement shared by q86/q88's label blocks
    and q164's IVF cells: keys whose population ``n`` exceeds ``cap``
    refine with an ``n_planes`` sign-LSH sub-bucket; at or below the
    cap, sub = 0 — bit-identical to the uncapped rule. ONE definition
    (plus its SQL twin below) so the blocking semantics can never
    drift between consumers."""
    return (
        F.when(F.col(n) > cap, _bucket_col(emb, n_planes))
        .otherwise(F.lit(0))
        .cast("long")
    )


def capped_sub_sql(n: str, emb: str, cap: int,
                   n_planes: int = N_SUB_PLANES) -> str:
    """DuckDB twin of :func:`capped_sub_col`."""
    return (
        f"CAST(CASE WHEN {n} > {cap} THEN {_bucket_sql(emb, n_planes)} "
        f"ELSE 0 END AS BIGINT)"
    )


def blocked_embeddings(e: DataFrame) -> DataFrame:
    """Embeddings + a bounded blocking key: (label, sub).

    The label-blocked quadratic (q86/q88) is O(Σ block²) — fine until
    one skewed label holds a large share of the table, when its block
    alone reverts to ~O(n²). Bound it: labels whose population exceeds
    ``BLOCK_CAP`` are refined with a 2-plane sign-LSH sub-bucket (the
    q87 hyperplanes — deterministic, oracle-reproducible), splitting
    the hot block ~4-way; small labels keep sub = 0, so results below
    the cap are bit-identical to the uncapped query. Recursing on
    still-hot sub-blocks adds planes — same shape. The per-label count
    is a broadcast aggregate (10s–1000s of labels), never a shuffle of
    the vectors.

    Also carries ``nrm`` — the vector's norm, computed ONCE here so the
    pairwise consumers (q86/q88) divide precomputed norms instead of
    re-evaluating two sqrt(Σx²) higher-order expressions per PAIR
    (q164's discipline; bit-identical quotient)."""
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("_n"))
    return (
        e.join(F.broadcast(counts), "label")
        .withColumn(
            "sub", capped_sub_col("_n", "embedding", BLOCK_CAP)
        )
        .withColumn("nrm", F.expr(_norm("embedding")))
        .drop("_n")
    )


def _blocked_sql() -> str:
    """DuckDB CTE text (counts/blocked) mirroring blocked_embeddings."""
    return f"""
    counts AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
    blocked AS (
      SELECT e.vec_id, e.label, e.embedding,
             {capped_sub_sql('c.n', 'e.embedding', BLOCK_CAP)} AS sub
      FROM embeddings e JOIN counts c ON e.label = c.label
    )"""


@register(
    "q86_nn_per_label",
    oracle=f"""
    WITH {_blocked_sql()},
    pairs AS (
      SELECT a.vec_id AS vec_id, a.label AS label, b.vec_id AS nn_vec_id,
             {cosine_sql('a.embedding', 'b.embedding')} AS sim
      FROM blocked a JOIN blocked b
        ON a.label = b.label AND a.sub = b.sub AND a.vec_id != b.vec_id
      WHERE a.vec_id < 100
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn_vec_id) AS rn
      FROM pairs
    )
    SELECT vec_id, label, nn_vec_id, round(sim, 4) AS cos_sim
    FROM ranked WHERE rn = 1
    ORDER BY vec_id
    """,
    tags=("similarity", "blocked-knn"),
)
def q86_nn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest neighbor within each label block (vec_id < 100 probe set).

    The label is the coarse quantizer of an IVF index: the equi-join on
    label bounds comparisons to one block instead of all pairs. At
    100 TB, labels become learned centroid assignments; the plan shape
    (equi-join + per-key top-1 window) is unchanged. Oversized labels
    are sub-bucketed by sign-LSH (``blocked_embeddings``) so one skewed
    label can never revert the join to all-pairs."""
    e = t(spark, sf_dir, "embeddings")
    blocked = blocked_embeddings(e)
    a = blocked.where(F.col("vec_id") < 100).alias("a")
    b = blocked.alias("b")
    sim = F.expr(_cos("a.embedding", "b.embedding", "a.nrm", "b.nrm"))
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.sub") == F.col("b.sub"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.label").alias("label"),
        F.col("b.vec_id").alias("nn_vec_id"),
        sim.alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "nn_vec_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "label", "nn_vec_id", F.round("sim", 4).alias("cos_sim"))
        .orderBy("vec_id")
    )


@register(
    "q87_lsh_buckets",
    oracle=f"""
    SELECT {_bucket_sql('embedding')} AS bucket,
           count(*) AS n_vectors,
           min(vec_id) AS min_vec_id
    FROM embeddings
    GROUP BY 1
    ORDER BY bucket
    """,
    tags=("similarity", "lsh"),
)
def q87_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket histogram (8 planes → 256 buckets).

    This is the ANN scale path: vectors hash to buckets in one narrow
    pass; a query probes only its bucket (plus hamming-1 neighbors for
    recall). Bucket population balance is what this query inspects."""
    e = t(spark, sf_dir, "embeddings")
    return (
        e.select(_bucket_col("embedding").alias("bucket"), "vec_id")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("bucket")
    )


@register(
    "q88_embedding_near_dup",
    oracle=f"""
    WITH {_blocked_sql()}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           round({cosine_sql('a.embedding', 'b.embedding')}, 4) AS cos_sim
    FROM blocked a JOIN blocked b
      ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
    WHERE {cosine_sql('a.embedding', 'b.embedding')} >= 0.35
    ORDER BY vec_a, vec_b
    """,
    tags=("dedup", "embedding"),
)
def q88_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within label blocks
    (threshold 0.35 — the corpus has no true dups; the operator and its
    blocked-join shape are what's under test). Blocks are capped via
    ``blocked_embeddings``: an oversized label is sub-bucketed by
    sign-LSH, trading a sliver of cross-bucket recall for a hard bound
    on the quadratic (near-dups have cosine ≈ 1, so they land in the
    same sub-bucket with high probability)."""
    e = t(spark, sf_dir, "embeddings")
    blocked = blocked_embeddings(e)
    a, b = blocked.alias("a"), blocked.alias("b")
    sim = F.expr(_cos("a.embedding", "b.embedding", "a.nrm", "b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            sim.alias("_sim"),
        )
        .where(F.col("_sim") >= 0.35)
        .select("vec_a", "vec_b", "label", F.round("_sim", 4).alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


# Multi-probe spread: the query's own bucket plus its 4 hamming-1
# neighbors (5/16 of the table in expectation with 4 planes). Measured
# recall@5 vs the exact scan: 0.4 at sf0.001/0.01/0.1 — the in-band
# audit below makes that number part of the query result, q16/q102
# style, so a recall regression is a correctness FAIL, not a guess.
_PROBE_XORS = (0, 1, 2, 4, 8)
Q89_RECALL_TARGET = 0.2
ANN_K = 5


def _exact_topk_sql(k: int, src: str = "embeddings") -> str:
    """CTE text: the exact top-k neighbor ids (the q85 scan at k).
    ``src`` names the relation scanned — q175/q176 grade against the
    gated valid-embeddings CTE so the audit's ground truth matches the
    corpus the index actually ingested."""
    return f"""
    exact AS (
      SELECT vec_id FROM {src}, (SELECT embedding AS xqv FROM {src}
                                      WHERE vec_id = {QUERY_VEC_ID})
      WHERE vec_id != {QUERY_VEC_ID}
      ORDER BY {cosine_sql('embedding', 'xqv')} DESC, vec_id
      LIMIT {k}
    )"""


@register(
    "q89_ann_probe",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label, embedding,
             {_bucket_sql("embedding", 4)} AS bucket
      FROM embeddings
    ),
    q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = {QUERY_VEC_ID}),
    probes AS (
      SELECT qv, xor(qbucket, v) AS pbucket
      FROM q, (SELECT unnest([{", ".join(str(v) for v in _PROBE_XORS)}]) AS v)
    ),
    hits AS (
      SELECT vec_id, label, bucket, {cosine_sql('embedding', 'qv')} AS cs
      FROM b JOIN probes ON b.bucket = probes.pbucket
      WHERE vec_id != {QUERY_VEC_ID}
      ORDER BY cs DESC, vec_id
      LIMIT {ANN_K}
    ),
    {_exact_topk_sql(ANN_K)},
    marked AS (
      SELECT h.vec_id, h.label, h.bucket, h.cs,
             (e.vec_id IS NOT NULL) AS in_exact_topk
      FROM hits h LEFT JOIN exact e ON h.vec_id = e.vec_id
    ),
    rec AS (
      SELECT CAST(sum(CASE WHEN in_exact_topk THEN 1 ELSE 0 END) AS DOUBLE)
               / {ANN_K} AS recall_at_k
      FROM marked
    )
    SELECT vec_id, label, bucket, round(cs, 4) AS cos_sim, in_exact_topk,
           recall_at_k, (recall_at_k >= {Q89_RECALL_TARGET}) AS recall_ok
    FROM marked, rec
    ORDER BY cs DESC, vec_id
    """,
    tags=("similarity", "ann", "lsh"),
)
def q89_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-probed ANN search — the scale path end-to-end, with its
    recall measured IN-BAND against the exact scan.

    The query vector hashes to its sign-LSH bucket; the probe scores
    that bucket plus its hamming-1 neighbors (a broadcast equi-join on
    the bucket id — the embeddings table never shuffles), then top-5 by
    cosine. Each result row carries whether it appears in the exact
    top-5 (q85's scan at k=5), plus the probe's recall@5 and a
    recall_ok contract bit — the q16/q102 discipline: the approximation
    ships with the evidence that would falsify it. The audit side is a
    second linear scan; at 100 TB you run it on a sampled query set,
    not per query — the contract shape is what's pinned here."""
    e = t(spark, sf_dir, "embeddings")
    # 4 planes -> 16 coarse buckets: the probe set stays large enough to
    # rank meaningfully at test SFs; production tunes planes to data size.
    b = e.select(
        "vec_id", "label", "embedding", _bucket_col("embedding", 4).alias("bucket")
    )
    q = (
        b.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket"))
    )
    probes = q.select(
        "qv",
        F.explode(
            F.array(*[F.col("qbucket").bitwiseXOR(F.lit(v)) for v in _PROBE_XORS])
        ).alias("pbucket"),
    )
    sim = cosine_col("embedding", "qv")
    hits = (
        b.where(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(probes), F.col("bucket") == F.col("pbucket"))
        .select("vec_id", "label", "bucket", sim.alias("_sim"))
        .orderBy(F.col("_sim").desc(), "vec_id")
        .limit(ANN_K)
    )
    queries1 = b.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    marked = _mark_exact_topk(
        hits.withColumn("query_id", F.lit(QUERY_VEC_ID).cast("long")), b, queries1, ANN_K
    )
    return _with_recall(
        marked, ANN_K, Q89_RECALL_TARGET, F.col("_sim").desc()
    ).select(
        "vec_id", "label", "bucket", F.round("_sim", 4).alias("cos_sim"),
        "in_exact_topk", "recall_at_k", "recall_ok",
    )


def sample_queries(
    e: DataFrame, sample_frac: float = 0.02, tag: str = "audit1"
) -> DataFrame:
    """Deterministic pseudo-random query sample for recall audits:
    (query_id, qv) rows where the first 4 hex chars of
    md5(tag:vec_id) fall below ``sample_frac`` of the 16-bit space —
    the q46 hash-sample technique, so the same set reproduces in any
    engine and any run without a seed or a shuffle."""
    if not 0.0 < sample_frac <= 1.0:
        raise ValueError(f"sample_frac must be in (0, 1], got {sample_frac}")
    thr = int(sample_frac * 65536)
    key = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{tag}:"), F.col("vec_id").cast("string"))), 1, 4),
        16,
        10,
    ).cast("long")
    return e.where(key < F.lit(thr)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )


def exact_topk_per_query(
    b: DataFrame, queries: DataFrame, k: int, metric: str = "cosine"
) -> DataFrame:
    """(query_id, vec_id) — the exact top-k neighbor ids of EACH query
    vector: the ground truth an ANN audit compares against. ``metric``
    is ``"cosine"`` (descending similarity — q85/q89/q68's space) or
    ``"l2"`` (ascending squared distance — q157/PQ's space: PQ
    approximates L2, so its audit must rank by L2 too).

    ``queries`` is (query_id, qv) and broadcasts; the data side never
    shuffles — scoring is a map-side crossJoin, then one window keyed
    by query_id ranks each query's scored rows (|queries| partitions of
    n rows each). This is the audit tool for a SAMPLED query set, not a
    per-query production path: cost is O(n × |queries|)."""
    # NULLS LAST explicitly on both metrics: a malformed vector scores
    # NULL, and Spark's bare .asc() is NULLS FIRST while DuckDB's ASC
    # is NULLS LAST — without the suffix the dirty rows occupy the
    # exact top-k in one engine only and every recall audit diverges
    if metric == "cosine":
        score = cosine_col("embedding", "qv")
        order = F.col("_es").desc_nulls_last()
    elif metric == "l2":
        score = F.expr(_l2(_dbl("embedding"), _dbl("qv")))
        order = F.col("_es").asc_nulls_last()
    else:
        raise ValueError(f"unknown metric: {metric!r}")
    scored = (
        b.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", score.alias("_es"))
    )
    w = Window.partitionBy("query_id").orderBy(order, "vec_id")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select("query_id", "vec_id")
    )


def _mark_exact_topk(
    hits: DataFrame, b: DataFrame, queries: DataFrame, k: int,
    metric: str = "cosine",
) -> DataFrame:
    """Left-mark each (query_id, vec_id) hit row with membership in that
    query's exact top-k — the audit side of the ANN contract. ``b``
    must carry (vec_id, embedding); ``hits`` must carry query_id."""
    exact = exact_topk_per_query(b, queries, k, metric).withColumn(
        "in_exact_topk", F.lit(True)
    )
    return hits.join(F.broadcast(exact), ["query_id", "vec_id"], "left").withColumn(
        "in_exact_topk", F.coalesce("in_exact_topk", F.lit(False))
    )


def _with_recall(
    marked: DataFrame, k: int, target: float, key: Column
) -> DataFrame:
    """Attach each query's recall@k column (hit-count / k, exact in
    both engines) and its contract bit, ordered by the score ``key``
    (``_sim`` descending for the cosine serves, ``dist`` ascending for
    the L2 ones), ties by vec_id.

    One window pass: the hit count is ``sum(...) OVER (PARTITION BY
    query_id)`` on the marked rows themselves. A groupBy joined back
    onto ``marked`` plans and runs the marked subtree (the ANN probe
    and the exact-scan audit) twice, plus the broadcast's own jobs."""
    hits = F.sum(F.col("in_exact_topk").cast("long")).over(
        Window.partitionBy("query_id")
    )
    return (
        marked.withColumn("recall_at_k", hits.cast("double") / F.lit(float(k)))
        .withColumn("recall_ok", F.col("recall_at_k") >= target)
        .orderBy(key, "vec_id")
    )


def recall_audit(
    b: DataFrame, queries: DataFrame, hits: DataFrame, k: int,
    metric: str = "cosine",
) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact scan.

    ``b``: (vec_id, embedding) corpus; ``queries``: (query_id, qv) —
    typically ``sample_queries(e, sample_frac)``; ``hits``: the ANN
    candidates (query_id, vec_id). Returns one row per query:
    (query_id, n_found, recall_at_k). Mean recall is one aggregate
    away: ``audit.agg(F.avg("recall_at_k"))`` — kept separate so
    callers can inspect the per-query distribution (a fine mean can
    hide dead queries). This is the production form of q89/q68's
    in-band single-probe audit: at 100 TB you run it over a sampled
    query set on a schedule, not per query.

    A query whose ANN path produced NO hits still gets a row (recall
    0.0) — dead queries are the failure an audit exists to surface, so
    they must not silently drop out of the mean."""
    marked = _mark_exact_topk(hits, b, queries, k, metric)
    found = F.sum(F.col("in_exact_topk").cast("long"))
    per_q = marked.groupBy("query_id").agg(found.alias("n_found"))
    return (
        queries.select("query_id")
        .join(per_q, "query_id", "left")
        .withColumn("n_found", F.coalesce("n_found", F.lit(0)))
        .withColumn(
            "recall_at_k", F.col("n_found").cast("double") / F.lit(float(k))
        )
    )


def _margin_probes_col(
    qv: str,
    qbucket: str,
    n_planes: int = 4,
    top_m: int | None = None,
    planes: list[list[float]] | None = None,
):
    """MARGIN-RANKED multi-probe sequence (Lv et al. 2007, public):
    probe the query's own bucket, the ``top_m`` single-plane flips
    ranked by ascending |qv · plane| (the least-confident sign bits —
    the planes the query sits closest to, so flipping them is where
    missed neighbors most likely live), and the DOUBLE flip of the two
    smallest-|margin| planes (the most likely hamming-2 bucket — one
    extra probe that removed the fixed ring's zero-hit query class at
    both sampled SFs, RECALL_REPORT.json).

    ``top_m`` defaults to ``min(n_planes, 4)``: at 4 planes the top-4
    margin-ranked flips ARE the full hamming-1 ring, so the default
    reproduces the round-11 probe set exactly (same buckets, probe
    count 6/16); at 8+ planes the ranking is what makes the scheme
    scale — probe count stays m+2 = O(m) while the bucket space grows
    2^planes, instead of ring enumeration's O(n_planes) probes over an
    exponentially finer partition with no confidence ordering. Pure
    column expression (the planes are literals), deterministic per
    query; |margin| ties break by plane mask ascending (struct sort is
    lexicographic), identically replayable in SQL. ``qv``/``qbucket``
    name the query-vector and bucket columns; the whole probe array is
    one parsed expression."""
    if top_m is None:
        top_m = min(n_planes, 4)
    if not 1 <= top_m <= n_planes:
        raise ValueError(f"top_m must be in [1, {n_planes}], got {top_m}")
    margins = ", ".join(
        f"named_struct('m', abs({_plane_dot_expr(qv, plane)}), 'mask', {1 << h})"
        for h, plane in enumerate((planes or _PLANES)[:n_planes])
    )
    ranked = f"array_sort(array({margins}))"  # ascending |margin|, ties by mask
    flips = "".join(f", {qbucket} ^ {ranked}[{i}].mask" for i in range(top_m))
    return F.expr(
        f"array_distinct(array({qbucket}{flips}, "
        f"{qbucket} ^ {ranked}[0].mask ^ {ranked}[1].mask))"
    )


def lsh_probe_hits(
    b: DataFrame,
    queries: DataFrame,
    k: int,
    probe_xors: tuple[int, ...] | None = None,
    n_planes: int = 4,
    top_m: int | None = None,
) -> DataFrame:
    """Multi-query LSH-probed ANN: each query probes its own bucket
    plus neighbor buckets; top-k by cosine per query — the q89
    single-probe plan generalized to a query SET. ``b`` must carry
    (vec_id, embedding, bucket); ``queries`` (query_id, qv, qbucket).
    One broadcast equi-join on the bucket id — the corpus never
    shuffles; ranking is a per-query window over probed rows. Norms
    precompute per corpus row and per query (q164's discipline),
    leaving only the dot product per probed pair.

    Probe choice: by default the probe set is MARGIN-AUGMENTED per
    query (:func:`_margin_probes_col` — the full hamming-1 ring plus
    the double flip of the two least-confident planes), which for ONE
    extra probed bucket (6/16 vs the fixed list's 5/16) eliminated the
    fixed list's zero-hit query class (RECALL_REPORT.json). Pass
    ``probe_xors`` (e.g. ``_PROBE_XORS``) for the fixed hamming-xor
    variant q89's oracle pins.

    ``n_planes`` MUST match the plane count the ``bucket`` / ``qbucket``
    columns were built with (``_bucket_col(..., n_planes)``) — a
    mismatched count silently probes a wrong neighbor set, which is why
    it is an explicit parameter rather than inherited from the module
    default. ``top_m`` bounds the margin-ranked single flips at higher
    plane counts (see :func:`_margin_probes_col`)."""
    # query norm BEFORE the multi-probe explode — once per query, not
    # once per probed bucket
    plist = (
        F.array(*[F.col("qbucket").bitwiseXOR(F.lit(v)) for v in probe_xors])
        if probe_xors is not None
        else _margin_probes_col("qv", "qbucket", n_planes=n_planes, top_m=top_m)
    )
    probes = queries.withColumn("_qn", F.expr(_norm("qv"))).select(
        "query_id",
        "qv",
        "_qn",
        F.explode(plist).alias("pbucket"),
    )
    bn = b.withColumn("_bn", F.expr(_norm("embedding")))
    sim = F.expr(_cos("embedding", "qv", "_bn", "_qn"))
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), "vec_id")
    return (
        bn.join(F.broadcast(probes), F.col("bucket") == F.col("pbucket"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("_sim"))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


# 8-plane margin-ranked multiprobe (q171): 256 buckets, probe count
# pinned at TOP_M + 2 = 6 of 256 (own bucket + top-4 margin-ranked
# single flips + smallest-two double flip). The plane count is where
# LSH earns its keep at 100 TB — 16 buckets (4 planes) cannot shard a
# large corpus, and the margin ranking keeps probe count constant as
# planes grow instead of ring enumeration's every-plane flip.
Q171_TOP_M = 4
Q171_SAMPLE_FRAC = 0.02


def _sample_pred_sql(id_expr: str, frac: float, tag: str = "audit1") -> str:
    """SQL twin of :func:`sample_queries`'s hash predicate: first 4 hex
    chars of md5(tag:id) below ``frac`` of the 16-bit space. Spark
    compares the value numerically (conv base-16); fixed-width
    lowercase hex compares identically as a string, so the twin uses a
    lexicographic bound — the q46 discipline."""
    thr = int(frac * 65536)
    return (
        f"substr(md5('{tag}:' || CAST({id_expr} AS VARCHAR)), 1, 4) "
        f"< '{thr:04x}'"
    )


def _plane_dot_sql(emb: str, plane: list[float]) -> str:
    lits = ", ".join(str(v) for v in plane)
    return (
        f"list_aggregate(list_transform(range(1, {DIM} + 1), "
        f"i -> CAST({emb}[i] AS DOUBLE) * ([{lits}])[i]), 'sum')"
    )


def _q171_oracle() -> str:
    """Chained-CTE replay of the 8-plane margin-ranked multiprobe:
    bucket every valid vector at 8 planes, hash-sample the query set,
    rank each query's |margin| per plane (ties by mask — the struct
    sort order Spark uses), take the top-m single flips plus the
    smallest-two double flip plus the own bucket (UNION dedups, as
    array_distinct does), score probed rows by cosine, top-k per
    query."""
    margin_rows = "\n      UNION ALL\n".join(
        f"      SELECT query_id, {1 << h} AS mask, "
        f"abs({_plane_dot_sql('qv', plane)}) AS m FROM q"
        for h, plane in enumerate(_PLANES)
    )
    return f"""
    WITH e AS (SELECT * FROM {EMB_VALID_SQL} AS v),
    b AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding', 8)} AS bucket
      FROM e
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {_bucket_sql('embedding', 8)} AS qbucket
      FROM e
      WHERE {_sample_pred_sql('vec_id', Q171_SAMPLE_FRAC)}
    ),
    margins AS (
{margin_rows}
    ),
    ranked AS (
      SELECT query_id, mask,
             row_number() OVER (PARTITION BY query_id ORDER BY m, mask) AS rk
      FROM margins
    ),
    probes AS (
      SELECT query_id, qbucket AS pbucket FROM q
      UNION
      SELECT r.query_id, xor(q.qbucket, CAST(r.mask AS BIGINT))
      FROM ranked r JOIN q ON r.query_id = q.query_id
      WHERE r.rk <= {Q171_TOP_M}
      UNION
      SELECT q.query_id,
             xor(xor(q.qbucket, CAST(r1.mask AS BIGINT)), CAST(r2.mask AS BIGINT))
      FROM q
      JOIN ranked r1 ON r1.query_id = q.query_id AND r1.rk = 1
      JOIN ranked r2 ON r2.query_id = q.query_id AND r2.rk = 2
    ),
    scored AS (
      SELECT p.query_id, b.vec_id,
             {cosine_sql('b.embedding', 'q.qv')} AS cs
      FROM b
      JOIN probes p ON b.bucket = p.pbucket
      JOIN q ON q.query_id = p.query_id
      WHERE b.vec_id != p.query_id
    ),
    topk AS (
      SELECT query_id, vec_id, cs,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, vec_id) AS rk
      FROM scored
    )
    SELECT query_id, vec_id, round(cs, 4) AS cos_sim
    FROM topk
    WHERE rk <= {ANN_K}
    ORDER BY query_id, vec_id
    """


@register(
    "q171_ann_multiprobe_8planes",
    oracle=_q171_oracle(),
    tags=("similarity", "ann", "lsh"),
)
def q171_ann_multiprobe_8planes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-plane margin-ranked multiprobe ANN over a sampled query SET —
    the scale form of q89's 4-plane single-query probe.

    256 buckets shard the corpus ~32× finer than q89's 16; each query
    still probes exactly TOP_M + 2 = 6 buckets (own + top-4
    least-confident single flips + smallest-two double flip), so the
    probed fraction FALLS as planes grow instead of the hamming-1
    ring's every-plane enumeration. One broadcast equi-join on the
    bucket id — the corpus never shuffles; per-query top-k is a window
    over probed rows only. This single-table form is the BUILDING
    BLOCK: its recall saturates on small corpora (min 0.0 even at
    37/256 probes — measured during q172's calibration), which is why
    the SERVING family is q172's multi-table composition, fleet-gated
    as ``lsh_multiprobe_8p`` in tools/recall_report.py. Plan shape and
    probe count are pinned in tests/test_plan_shapes.py. Generalizes
    the §2.1 #4 ``ihash(key)%R`` routing (common_map.go:90-107) to
    similarity space at production plane counts."""
    e = valid_embeddings(
        t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    )
    b = e.select(
        "vec_id", "embedding", _bucket_col("embedding", 8).alias("bucket")
    )
    qs = sample_queries(e, Q171_SAMPLE_FRAC).withColumn(
        "qbucket", _bucket_col("qv", 8)
    )
    hits = lsh_probe_hits(b, qs, ANN_K, n_planes=8, top_m=Q171_TOP_M)
    return (
        hits.select(
            "query_id", "vec_id", F.round("_sim", 4).alias("cos_sim")
        ).orderBy("query_id", "vec_id")
    )


# Multi-table LSH (q172): L INDEPENDENT 8-plane tables, margin-probed
# per table, candidates unioned then reranked exactly — the classic
# recall fix (Indyk-Motwani / Lv et al.): a neighbor missed by one
# table's buckets is found by another, so miss probability MULTIPLIES
# across tables while probe count stays L × (top_m + 2). Operating
# point chosen FROM THE MEASURED CURVE (tools/recall_report.py
# --sweep, RECALL_REPORT.json sweep_8p: L ∈ {4,6,8} × top_m ∈ {4,6,8}
# at both fixture SFs): L=8, top_m=6 is the smallest swept budget with
# min recall ≥ 0.4 and ZERO zero-hit queries at BOTH SFs — 64 probes
# vs the previous point's 48 (+33%) buys 2× the worst-query recall
# (0.2 → 0.4) and mean 0.49 → 0.59. L=4 at ANY top_m still has dead
# queries; single-table 8-plane probing saturates at min 0.0 even at
# 37 probes — on a small corpus the tail queries' neighbors are
# cosine-noise no single partition finds. The floor rides in
# FLEET_FLOORS['lsh_multiprobe_8p'].
N_TABLES_8P = 8
Q172_TOP_M = 6


def lsh_multitable_keys_df(
    e: DataFrame, n_tables: int = N_TABLES_8P, n_planes: int = 8
) -> DataFrame:
    """(vec_id, tbl, bucket) — the multi-table LSH key table, q172's
    fit core: each vector's bucket id under every one of the
    ``n_tables`` independent plane families. Ids and buckets only —
    the 64-float embeddings never ride the L-way union. Kept as a
    separate function so the cold-start test can poison it and prove
    an attached session never re-keys the corpus."""
    keyed = None
    for tid in range(n_tables):
        planes = _table_planes(tid)
        kt = e.select(
            "vec_id",
            F.lit(tid).alias("tbl"),
            _bucket_col("embedding", n_planes, planes).alias("bucket"),
        )
        keyed = kt if keyed is None else keyed.unionByName(kt)
    return keyed


def _lsh8_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-table key table fit (the ``lsh_bands_for``
    discipline), memoized/persisted via the ``fitted_family``
    lifecycle (:func:`lsh8_index_for`). The payoff is double at this
    family's plane counts: the corpus is keyed once per session
    instead of per query, AND the L × planes × DIM expression tree —
    whose Catalyst ANALYSIS, not execution, was the measured wall on
    fresh plans — is walked once per fit instead of once per serve
    call."""
    e = valid_embeddings(
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    return lsh_multitable_keys_df(e).localCheckpoint(eager=True)


# The fit params every serve path must agree on: a key table built at
# n planes probed by code expecting m planes silently returns a wrong
# neighbor set (the lsh_probe_hits docstring's warning) — so they ride
# the meta stamp, attach refuses a mismatch, and lsh_multitable_hits
# validates an explicitly-passed keys artifact against them.
LSH8_PARAMS = {"n_tables": N_TABLES_8P, "n_planes": 8}

# Multi-table key-table lifecycle via fitted_family: ``keys`` (vec_id,
# tbl, bucket) partitioned by tbl — each serving table is its own file
# set, so a probe that needs one table's buckets prunes to it.
lsh8_index_for, lsh8_index_save, lsh8_index_load, lsh8_index_attach = fitted_family(
    "lsh8",
    "embeddings.parquet",
    [("keys", ["vec_id", "tbl", "bucket"], "tbl")],
    _lsh8_fit,
    params=LSH8_PARAMS,
)


def _multitable_probes_df(
    queries: DataFrame, n_tables: int, n_planes: int, top_m: int
) -> DataFrame:
    """(query_id, tbl, pbucket) — every query's margin-ranked probe set
    under every table, built in THREE projections: one parsed expr per
    table computes the SIGNED per-plane dots as a (d, mask) struct
    array — each plane's big dot-product text is emitted exactly ONCE
    — then, after the per-table stack, the ranked margin array
    (array_sort over (abs(d), mask)) and the bucket id (fold of the
    sign bits) both derive from that one raw column, a true
    let-binding rather than a lean on Catalyst CSE. Cheap column ops
    finish with the top-m flips + double flip. Same probe sets as
    :func:`_margin_probes_col` per table
    (tests/test_plan_shapes.py::test_multitable_probes_df_matches_column_path);
    ~6× fewer driver-side gateway calls and no duplicated subtree for
    Catalyst to re-analyze — the naive per-table Column build made
    plan CONSTRUCTION, not execution, the q172 serve wall."""
    cols: list = ["query_id"]
    for t in range(n_tables):
        planes = _table_planes(t)[:n_planes]
        structs = ", ".join(
            f"named_struct('d', {_plane_dot_expr('qv', p)}, 'mask', {1 << h})"
            for h, p in enumerate(planes)
        )
        cols.append(F.expr(f"array({structs})").alias(f"_raw{t}"))
    base = queries.select(*cols)
    stack = (
        f"stack({n_tables}, "
        + ", ".join(f"{t}, _raw{t}" for t in range(n_tables))
        + ") AS (tbl, raw)"
    )
    # ranked: same (m, mask) struct order _margin_probes_col sorts by
    # (mask is unique per plane, so the extra field can't reorder ties)
    st = base.selectExpr("query_id", stack).selectExpr(
        "query_id",
        "tbl",
        "array_sort(transform(raw, "
        "s -> named_struct('m', abs(s.d), 'mask', s.mask))) AS ranked",
        "CAST(aggregate(raw, 0, "
        "(a, s) -> a + IF(s.d >= 0, s.mask, 0)) AS BIGINT) AS qbucket",
    )
    flips = ", ".join(f"qbucket ^ ranked[{i}].mask" for i in range(top_m))
    probes = (
        f"array_distinct(array(qbucket, {flips}, "
        f"qbucket ^ ranked[0].mask ^ ranked[1].mask))"
    )
    return st.select(
        "query_id", "tbl", F.explode(F.expr(probes)).alias("pbucket")
    )


# Query-side broadcast gate for the ANN serve paths (the q164
# size-gate discipline applied to serving): the probe set (queries ×
# L × (top_m + 2) narrow rows) and the normed query table (queries ×
# DIM doubles) broadcast while the query batch is at most this many
# rows (~50 MB of qv doubles at DIM=64 — comfortable); a production
# query batch past the gate flips BOTH joins to key-partitioned
# shuffle joins instead of OOMing executors with a forced multi-GB
# broadcast. At that volume the join keys supply the parallelism the
# broadcast existed to rescue: (tbl, bucket) has L × 2^planes values,
# query_id has one per query.
ANN_BROADCAST_MAX_QUERIES = 100_000


def _query_count_for(
    spark: SparkSession, sf_dir: str, frac: float, queries: DataFrame
) -> int:
    """Memoized row count of a hash-sampled query set — the
    ``_assign_count_for`` discipline for the serve-path size gate:
    one job per (session, source fingerprint, frac), not one per
    serve call."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    cache = _session_cache(spark)
    key = (f"qsample_count:{frac}",) + source_fingerprint(src)
    n = cache.get(key)
    if n is None:
        n = queries.count()
        _cache_put(cache, key, n)
    return n


def lsh_multitable_hits(
    e: DataFrame,
    queries: DataFrame,
    k: int,
    n_tables: int = N_TABLES_8P,
    n_planes: int = 8,
    top_m: int = Q172_TOP_M,
    keys: DataFrame | None = None,
    broadcast_max_queries: int = ANN_BROADCAST_MAX_QUERIES,
    query_rows: int | None = None,
) -> DataFrame:
    """Multi-table margin-probed LSH ANN: candidates gathered by id
    across ``n_tables`` independent plane families, deduped, then
    reranked by exact cosine — FAISS's gather-then-refine shape.

    Scale shape: the keyed index is L rows of (vec_id, tbl, bucket) per
    vector — ids only, the 64-float embeddings never ride the union.
    The query-side structures (probe set, normed query table) are
    SIZE-GATED (:data:`ANN_BROADCAST_MAX_QUERIES`): broadcast for
    sampled/interactive query batches, key-partitioned shuffle joins
    past the gate — a production query batch can outgrow any broadcast
    budget, and a forced broadcast there OOMs executors (the q164
    build-side discipline applied to serving; both modes plan-pinned
    in tests/test_plan_shapes.py and row-identical on a forced-gate
    run). The gate's count runs EAGERLY at plan construction — callers
    that serve repeatedly should pass ``query_rows`` (q172 memoizes it
    per session+source via :func:`_query_count_for`). The one
    always-shuffle is the candidate-set distinct on (query_id,
    vec_id), bounded by probes × bucket size; the rerank joins
    candidates back to the vector store by id. ``e``: (vec_id,
    embedding) valid vectors; ``queries``: (query_id, qv). Pass
    ``keys`` (the fitted :func:`lsh8_index_for` artifact) to serve
    from the index instead of re-keying the corpus inline — a keys
    artifact that carries fit params (``_mms_fit_params``, stamped by
    the ``fitted_family`` load/fit paths) is VALIDATED against this
    call's ``n_tables``/``n_planes``: a mismatch silently probes a
    wrong neighbor set, so it refuses with ValueError instead."""
    if keys is not None:
        fitted = getattr(keys, "_mms_fit_params", None)
        if fitted is not None and fitted != {
            "n_tables": n_tables,
            "n_planes": n_planes,
        }:
            raise ValueError(
                f"multi-table LSH keys were fitted with {fitted}, but this "
                f"serve call expects n_tables={n_tables}, n_planes={n_planes}"
                " — a mismatched key table probes wrong buckets; refit or "
                "pass matching parameters"
            )
    keyed = (
        keys
        if keys is not None
        else lsh_multitable_keys_df(e, n_tables=n_tables, n_planes=n_planes)
    )
    will_broadcast = (
        queries.count() if query_rows is None else query_rows
    ) <= broadcast_max_queries
    probed = _multitable_probes_df(queries, n_tables, n_planes, top_m)
    # above the gate the shuffle is HINTED, not just unhinted: the
    # fixture-sized stats would let the static planner re-broadcast
    # the very side the gate exists to keep off the wire (at real
    # batch volumes the estimate alone would shuffle, but the mode
    # must be deterministic to pin)
    build_probes = (
        F.broadcast(probed) if will_broadcast else probed.hint("shuffle_hash")
    )
    cand = (
        keyed.join(
            build_probes,
            (keyed.tbl == probed.tbl) & (F.col("bucket") == F.col("pbucket")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    qn = queries.withColumn("_qn", F.expr(_norm("qv")))
    build_qn = F.broadcast(qn) if will_broadcast else qn.hint("shuffle_hash")
    sim = F.expr(_cos("embedding", "qv", "_bn", "_qn"))
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), "vec_id")
    return (
        cand.join(e.withColumn("_bn", F.expr(_norm("embedding"))), "vec_id")
        .join(build_qn, "query_id")
        .select("query_id", "vec_id", sim.alias("_sim"))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def _q172_oracle() -> str:
    """Chained-CTE replay of the multi-table probe: per-table buckets
    and margins (same plane literals), per-(query, table) probe union,
    DISTINCT candidate gather, exact-cosine rerank, top-k."""
    keyed_rows = []
    qkey_rows = []
    margin_rows = []
    for tid in range(N_TABLES_8P):
        planes = _table_planes(tid)
        keyed_rows.append(
            f"      SELECT vec_id, {tid} AS tbl, "
            f"{_bucket_sql('embedding', 8, planes)} AS bucket FROM e"
        )
        qkey_rows.append(
            f"      SELECT query_id, {tid} AS tbl, "
            f"{_bucket_sql('qv', 8, planes)} AS qbucket FROM q"
        )
        for h, plane in enumerate(planes):
            margin_rows.append(
                f"      SELECT query_id, {tid} AS tbl, {1 << h} AS mask, "
                f"abs({_plane_dot_sql('qv', plane)}) AS m FROM q"
            )
    keyed = "\n      UNION ALL\n".join(keyed_rows)
    qkey = "\n      UNION ALL\n".join(qkey_rows)
    margins = "\n      UNION ALL\n".join(margin_rows)
    return f"""
    WITH e AS (SELECT * FROM {EMB_VALID_SQL} AS v),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM e
      WHERE {_sample_pred_sql('vec_id', Q171_SAMPLE_FRAC)}
    ),
    keyed AS (
{keyed}
    ),
    qkey AS (
{qkey}
    ),
    margins AS (
{margins}
    ),
    ranked AS (
      SELECT query_id, tbl, mask,
             row_number() OVER (PARTITION BY query_id, tbl
                                ORDER BY m, mask) AS rk
      FROM margins
    ),
    probes AS (
      SELECT query_id, tbl, qbucket AS pbucket FROM qkey
      UNION
      SELECT r.query_id, r.tbl, xor(k.qbucket, CAST(r.mask AS BIGINT))
      FROM ranked r
      JOIN qkey k ON r.query_id = k.query_id AND r.tbl = k.tbl
      WHERE r.rk <= {Q172_TOP_M}
      UNION
      SELECT k.query_id, k.tbl,
             xor(xor(k.qbucket, CAST(r1.mask AS BIGINT)), CAST(r2.mask AS BIGINT))
      FROM qkey k
      JOIN ranked r1 ON r1.query_id = k.query_id AND r1.tbl = k.tbl AND r1.rk = 1
      JOIN ranked r2 ON r2.query_id = k.query_id AND r2.tbl = k.tbl AND r2.rk = 2
    ),
    cand AS (
      SELECT DISTINCT p.query_id, b.vec_id
      FROM keyed b
      JOIN probes p ON b.tbl = p.tbl AND b.bucket = p.pbucket
      WHERE b.vec_id != p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.vec_id,
             {cosine_sql('e.embedding', 'q.qv')} AS cs
      FROM cand c
      JOIN e ON e.vec_id = c.vec_id
      JOIN q ON q.query_id = c.query_id
    ),
    topk AS (
      SELECT query_id, vec_id, cs,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, vec_id) AS rk
      FROM scored
    )
    SELECT query_id, vec_id, round(cs, 4) AS cos_sim
    FROM topk
    WHERE rk <= {ANN_K}
    ORDER BY query_id, vec_id
    """


@register(
    "q172_ann_multitable_lsh",
    oracle=_q172_oracle(),
    tags=("similarity", "ann", "lsh"),
)
def q172_ann_multitable_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table 8-plane LSH ANN over a sampled query set — the
    SERVING family at production plane counts, fleet-gated.

    q171 shows one 8-plane table with margin-ranked probes; this is the
    recall fix that makes 8 planes servable: L = 8 independent plane
    families, each margin-probed (top-6 single flips + the
    smallest-two double flip), candidates unioned by id and reranked
    exactly. Miss probability multiplies across tables — the operating
    point is chosen from the MEASURED curve (RECALL_REPORT.json
    sweep_8p, L × top_m grid at both fixture SFs): min recall 0.4,
    ZERO zero-hit queries, where every single-table budget up to
    37/256 probes still had dead queries and L=4 at any top_m keeps a
    dead-query class (FLEET_FLOORS['lsh_multiprobe_8p'] = 0.4). Probe
    count is pinned: L × (top_m + 2) = 64 (table, bucket) pairs per
    query, a 3.1% scan of the 8 × 256 table-bucket space regardless of
    corpus size. Serves from the fitted key table
    (:func:`lsh8_index_for` — memoized, persistable, attachable like
    every index family): the corpus is keyed once per session+source,
    not once per query set; the query-side structures are size-gated
    (:data:`ANN_BROADCAST_MAX_QUERIES`)."""
    e = valid_embeddings(
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    qs = sample_queries(e, Q171_SAMPLE_FRAC)
    hits = lsh_multitable_hits(
        e,
        qs,
        ANN_K,
        keys=lsh8_index_for(spark, sf_dir),
        query_rows=_query_count_for(spark, sf_dir, Q171_SAMPLE_FRAC, qs),
    )
    return hits.select(
        "query_id", "vec_id", F.round("_sim", 4).alias("cos_sim")
    ).orderBy("query_id", "vec_id")


N_IVF_CENTROIDS = 8
# 4 of 8 learned cells per query. MEASURED calibration: the learned
# codebook's cells are balanced (max_frac 0.13-0.15, q155), so nprobe
# bounds scanned fraction at ~4/8. Raised 3→4 in round 12 because the
# fleet audit (tools/recall_report.py) found a ZERO-HIT sampled query
# at nprobe=3 (IVF min recall@5 = 0.0); at 4 the worst sampled query
# reads 0.4-0.6 across SFs and zero-hit count is 0 for both IVF and
# IVFADC — now gated by FLEET_FLOORS (assert_fleet_floors, run in
# tests). Both engines replay nprobe, so the oracles moved together.
# The pinned-query target below keeps margin under the measured mean
# (0.73 at sf0.01); a broken codebook (wrong init hash, mis-assigned
# cells) collapses it to ~0.1 and fails loudly.
N_PROBE = 4
Q68_RECALL_TARGET = 0.5
N_KMEANS_ITERS = 2


def ivf_cells_policy(
    n_vectors: int, floor: int = N_IVF_CENTROIDS, cap: int = 1 << 16
) -> int:
    """Scale-aware IVF cell count — the PRODUCTION sizing for every
    coarse codebook in the catalog (IVF q68, standing IVF q175,
    IVFADC q160/q211): k ∝ √N (the FAISS guideline — cells grow as
    √N, so probed rows per query ≈ nprobe·√N instead of nprobe·N/k
    at frozen k), snapped to the nearest power of two (stable probe
    arithmetic and file layout across refits), clamped to
    [floor, cap].

    The FIXTURE families deliberately PIN k = N_IVF_CENTROIDS = 8 at
    every SF (the ``k`` param stamp + ``ivf_codebook``'s default):
    the DuckDB oracles replay an 8-cell fit CTE-for-CTE, and an
    8-row codebook keeps those replays tractable. The pin is the
    proven WRONG point at scale — measured in SCALING.md round 16:
    at the 100×-organic fixture (200k vectors) frozen k=8 probes
    N/2 rows per query while k=64 probes N/16 and serves 7.1×
    faster. This policy is what a deployment applies at fit time
    (``ivf_codebook(e, k=None)``); at that same fixture it picks
    k=512 (√200000 ≈ 447 → 2⁹), probing N/128 per query. Each
    refresh act (q207/q213) is where the policy would re-evaluate k
    as the corpus grows — k rides the mutable param stamp exactly
    like the moved boundary."""
    import math

    if n_vectors <= 1:
        return floor
    return max(floor, min(cap, 1 << round(math.log2(math.sqrt(n_vectors)))))


def ivf_codebook(
    e: DataFrame, k: int | None = N_IVF_CENTROIDS, iters: int = N_KMEANS_ITERS
) -> DataFrame:
    """LEARNED IVF codebook: deterministic sampled k-means (Lloyd),
    returning (cid, cv) with cv array<double>.

    ``k=None`` applies the scale-aware sizing at fit time
    (:func:`ivf_cells_policy` over a count of the fit population —
    one cheap aggregate, paid once per fit). The catalog's fixture
    families pass the default ORACLE PIN ``k = N_IVF_CENTROIDS``
    instead, so every DuckDB oracle replays the same 8-cell fit.

    Every step is a pure function of the data so the DuckDB oracle
    replays the identical codebook (``_ivf_codebook_sql``):

    - init: the ``k`` vectors ranked first by md5('ivf:'||vec_id) — a
      deterministic pseudo-random sample, no seed/no rand();
    - ``iters`` Lloyd rounds, UNROLLED into one lazy plan (pagerank's
      discipline — no driver action): assign each vector to its
      max-cosine centroid (ties → lowest cid), then recompute each
      centroid as the element-wise mean of its cell, ROUNDED to 6
      decimals — the cross-engine float discipline: the mean's
      summation-order wobble (~1e-13 relative) dies at the 6th decimal,
      so both engines iterate from bit-identical centroids;
    - an emptied cell keeps its previous centroid (left join +
      coalesce), identically in both engines.

    Scale shape: the codebook is k rows, collapses to ONE broadcast
    row of structs, and each round's assignment is an IN-ROW argmax —
    a pure map pass, zero exchanges; the only shuffle per round is the
    (cluster, pos) partial-sum aggregate for the means, map-side
    combinable down to k×DIM rows per task. The embeddings never
    shuffle. This is the spark.ml KMeans dataflow restated in pure
    DataFrame ops so the oracle can replay it; swap in spark.ml (fit
    once, broadcast centroids) when cross-engine replay isn't needed."""
    if k is None:
        k = ivf_cells_policy(e.count())
    init = (
        e.select(
            "vec_id",
            F.expr(_dbl("embedding")).alias("cv"),
            F.md5(
                F.concat(F.lit("ivf:"), F.col("vec_id").cast("string"))
            ).alias("_ord"),
        )
        .orderBy("_ord", "vec_id")
        .limit(k)
    )
    cent = init.select(
        (F.row_number().over(Window.orderBy("_ord", "vec_id")) - 1)
        .cast("long")
        .alias("cid"),
        "cv",
    )
    # vector norms once, OUTSIDE the Lloyd loop (q164's discipline):
    # each round's assignment divides the precomputed norm instead of
    # re-evaluating sqrt(Σx²) per (vector, centroid) pair × iters —
    # the quotient is bit-equal to the oracle's per-pair cosine
    ev = e.withColumn("_en", F.expr(_norm("embedding")))
    for _ in range(iters):
        # in-row argmax (r17): the k-row codebook collapses to ONE
        # broadcast row of (cid, cv, _cn) structs; each vector ranks
        # its cell inside a sort_array expression — the assignment
        # half of a Lloyd round is a pure map pass with ZERO
        # exchanges. The previous crossJoin-explode + groupBy(vec_id)
        # form hash-exchanged every corpus row (with its embedding)
        # once per iteration. Sentinel/tie semantics identical to
        # _assign_to_codebook (and the oracle's row_number replay):
        # NULL sim → +inf → last, ties → lowest cid. O(k) running
        # argmin (r18, :func:`_inrow_min`), no per-row k log k sort.
        assign = ev.crossJoin(F.broadcast(_ivf_cells_row(cent))).select(
            _cells_argmin("embedding", "_en").alias("cluster"), "embedding"
        )
        # element-wise means via posexplode + narrow agg, NOT DIM avg
        # aggregate expressions: the values are identical (same rows,
        # same per-element avg + rounding — the oracle keeps the wide
        # per-element form), but the wide form's nested codegen
        # dominated the fit wall at sf0.1. The exploded shuffle is
        # map-side combinable down to k×DIM (512) rows per task, so it
        # stays cheap at any corpus size; the second grouping rebuilds
        # the array in pos order.
        ex = assign.select(
            "cluster",
            F.posexplode(F.expr(_dbl("embedding"))).alias("pos", "v"),
        )
        per_elem = ex.groupBy("cluster", "pos").agg(
            F.round(F.avg("v"), 6).alias("m")
        )
        means = per_elem.groupBy("cluster").agg(
            F.expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
            .alias("cv_new")
        )
        # means is <= k rows by construction (one per cluster), but its
        # plan-time size estimate is a full-table aggregate's (unknown →
        # large), so Spark picks a sort-merge join inside the broadcast
        # subquery where AQE never re-plans; the explicit broadcast is
        # always right here. An emptied cell keeps its previous centroid
        # (coalesce).
        cent = cent.join(
            F.broadcast(means), cent.cid == means.cluster, "left"
        ).select("cid", F.coalesce("cv_new", "cv").alias("cv"))
    # "fit once, broadcast centroids": materialize the k-row codebook
    # NOW. Downstream consumers (assignment, probe ranking, the audit)
    # each reference the codebook 2-4 times; without the checkpoint the
    # whole unrolled-Lloyd subtree (64 avg aggregates × iters) is
    # replicated into every consumer's plan and re-analyzed per call —
    # measured +4.7 s of pure plan-compile time on q68 at sf0.1. The
    # checkpoint is 8 rows; the fit runs exactly once.
    return cent.localCheckpoint(eager=True)


# _session_cache / _cache_put / _cache_evict live in plans/_util.py
# (shared with the fitted_family factory); re-exported from this module
# for the sibling plans and tests that historically import them here.


def codebook_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted codebook AS AN INDEX ARTIFACT: fit once per
    (session, source fingerprint) and reused across queries — a
    production IVF index is built once and served many times; re-running
    Lloyd per query would be the benchmark measuring an anti-pattern.

    The cache key includes the embeddings file's size+mtime (the q152
    checkpoint-fingerprint discipline), so regenerating the testdata in
    place invalidates the entry, and the fit itself is deterministic —
    a cache hit and a fresh fit are bit-identical, making the cache
    result-invisible. Entries are 8 localCheckpointed rows each."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    cache = _session_cache(spark)
    key = ("ivf",) + source_fingerprint(src)
    df = cache.get(key)
    if df is None:
        # tw (fan_out) spreads a degenerate single-row-group scan
        # before the Lloyd rounds; a no-op on real multi-split layouts,
        # and the 6-decimal mean rounding makes the codebook partition-
        # order-invariant (verified bit-equal at all fixture SFs)
        df = ivf_codebook(tw(spark, sf_dir, "embeddings"))
        _cache_put(cache, key, df)
    return df


def _inrow_min(keyed: str) -> str:
    """O(k) running minimum over an array of ``struct<_k double,
    cid bigint>`` — bit-identical to
    ``element_at(sort_array(keyed), 1)`` (structs compare
    lexicographically in both forms; verified bit-equal on 2M crafted
    rows incl. +inf ties) without the O(k log k) per-row sort or the
    sorted copy (r17 ADVICE). MEASUREMENT NOTE (r18): the fold must
    reference ``keyed`` exactly ONCE — a first draft that also took
    ``element_at(keyed, 1)`` and ``size(keyed)`` re-evaluated the
    whole keyed transform (k distance computations) per reference,
    3× the arithmetic; hence the sentinel accumulator (+inf key,
    2⁶² cid — loses every tie to a real entry, so an all-+inf row
    still resolves to the lowest real cid exactly like the sorted
    head). Callers must make ``_k`` non-NULL (the +inf sentinel
    discipline) — a NULL key would make the struct comparison NULL
    and freeze the fold on the accumulator."""
    return (
        f"aggregate({keyed}, named_struct('_k', {_INF}, 'cid', {2**62}L), "
        "(acc, c) -> CASE WHEN c < acc THEN c ELSE acc END)"
    )


def _ivf_cells_row(cent: DataFrame) -> DataFrame:
    """A (cid, cv) codebook collapsed to ONE broadcastable row: the
    ``_cells`` array of (cid, cv, _cn) structs every in-row IVF
    assignment and probe ranking reads."""
    return cent.select(
        F.struct("cid", "cv", F.expr(_norm("cv")).alias("_cn")).alias("_c")
    ).agg(F.collect_list("_c").alias("_cells"))


def _cells_argmin(vec: str, vnorm: str) -> Column:
    """cid of the max-cosine cell of vector column ``vec`` (norm column
    ``vnorm``) among the in-scope ``_cells`` (:func:`_ivf_cells_row`):
    NULL sim → +inf → last, ties → lowest cid."""
    keyed = (
        f"transform(_cells, c -> named_struct("
        f"'_k', {_neg_cos(vec, 'c.cv', vnorm, 'c._cn')}, 'cid', c.cid))"
    )
    return F.expr(f"{_inrow_min(keyed)}.cid")


def _assign_to_codebook(part: DataFrame, centn: DataFrame) -> DataFrame:
    """One broadcast-argmax assignment pass: every row of ``part``
    ((vec_id, label, embedding) — the whole corpus at fit time, an
    increment batch at ingest time) gets its max-cosine cell from the
    normed codebook ``centn`` (cid, cv, _cn). Ties break toward the
    LOWEST cid — (sim, -cid) max = the oracle's ORDER BY sim DESC, cid
    row_number()=1. Norms once per side (q164's discipline): the
    quotient is bit-equal to the oracle's per-pair cosine.

    The argmax runs IN-ROW (r17, the probe-ranking discipline applied
    to assignment): the codebook collapses to ONE broadcast row of
    (cid, cv, _cn) structs and each vector picks its cell with a
    sort_array over a k-entry struct array — a pure map pass, ZERO
    exchanges. The previous form (crossJoin-explode to N×k rows +
    groupBy(vec_id).max_by) partial-aggregated map-side but still
    hash-exchanged every corpus row WITH its embedding once per
    assignment — at 100 TB that is a full-corpus shuffle per fit /
    refresh / increment for a decision that needs only k broadcast
    rows. NULL sims (zero-norm vectors) rank LAST via the +inf
    sentinel on the negated sort key, ties toward the lowest cid —
    exactly the oracle's (sim DESC NULLS LAST, cid) replay, and
    bit-equal to the old max_by(struct(sim, -cid)) form (all-NULL →
    cid of the lowest id, identically). r18: the winner comes from an
    O(k) running min (:func:`_inrow_min`) instead of a per-row
    sort_array — same (key, cid) order, no k log k sort at the cell
    policy's scaled k."""
    cells = centn.select(
        F.struct("cid", "cv", "_cn").alias("_c")
    ).agg(F.collect_list("_c").alias("_cells"))
    return (
        part.withColumn("_en", F.expr(_norm("embedding")))
        .crossJoin(F.broadcast(cells))
        .select(
            "vec_id", "label", _cells_argmin("embedding", "_en").alias("cluster"),
            "embedding",
        )
    )


def _with_cnorm(cent: DataFrame) -> DataFrame:
    return cent.select("cid", "cv", F.expr(_norm("cv")).alias("_cn"))


def _ivf_fit(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The FULL IVF index fit: (cent, assign) with assign = (vec_id,
    label, cluster, embedding) — the INVERTED LISTS, i.e. the corpus
    materialized with its cell id. The codebook alone is not the
    index: without the lists every query re-assigns the whole corpus
    to cells (one broadcast-argmax pass — measured 5.1× serve wall at
    the 10× fixture, linear in the corpus), which is the index build
    billed to every lookup, q157's original sin. With the lists
    cached (:func:`ivf_index_for`, the ``fitted_family`` lifecycle),
    serve cost is the probed cells' rows only. At 100 TB the lists are
    a maintained table partitioned by cell (vectors stored in cell
    order — exactly what FAISS's IVF layout is); here they are one
    eager localCheckpoint per (session, source fingerprint), built
    from the same codebook q68/q155 share through the cache."""
    cent = codebook_for(spark, sf_dir)
    # The lists stay MAP-SHAPED in the session memo (r18): the in-row
    # assignment needs no exchange, and the in-session probed-cell
    # serves read the checkpoint through a broadcast join either way.
    # The cell-clustered LAYOUT (FAISS's inverted-list order) is a
    # property of the PERSISTED artifact, so the one clustering
    # shuffle now happens at save time — fitted_family's
    # rebalance-by-partition-column, which also AQE-splits a skewed
    # cell — instead of shuffling the corpus-with-embeddings TWICE per
    # save (fit repartition + save repartition; the checkpoint erases
    # outputPartitioning so the second exchange was never elided —
    # r17 ADVICE).
    assign = _assign_to_codebook(
        tw(spark, sf_dir, "embeddings"), _with_cnorm(cent)
    ).localCheckpoint(eager=True)
    return (cent, assign)


# IVF lifecycle via fitted_family: ``lists`` partitioned by cluster —
# the partition column IS the probe predicate, so an nprobe-cell query
# reads only those cells' files. Attach additionally primes the
# standalone codebook key ("ivf"), which q87/q89/q147's probes read
# alone (codebook_for).
ivf_index_for, ivf_index_save, ivf_index_load, ivf_index_attach = fitted_family(
    "ivf_lists",
    "embeddings.parquet",
    [
        ("coarse", ["cid", "cv"], None),
        ("lists", ["vec_id", "label", "cluster", "embedding"], "cluster"),
    ],
    _ivf_fit,
    prime_extra=lambda cache, fp, value: _cache_put(cache, ("ivf",) + fp, value[0]),
    params={"k": N_IVF_CENTROIDS, "iters": N_KMEANS_ITERS, "nprobe": N_PROBE},
)


def _materialize_shared_ctes(sql: str) -> str:
    """Mark every CTE that ``sql`` references more than once ``AS
    MATERIALIZED``. DuckDB otherwise evaluates an inlined CTE once per
    reference, and the Lloyd chains read step r-1 twice per step, so
    the work doubles per iteration (the trap the LSH band CTEs hit,
    plans/dedup.py). Materializing changes no result: at sf0.001 on 4
    cores q212's oracle went from 25.8 s to 2.0 s and q160's from
    14.2 s to 1.2 s."""
    for name in re.findall(r"(?:WITH|,)\s*(\w+) AS \(", sql):
        if len(re.findall(rf"\b{name}\b", sql)) > 2:  # defined + 2 uses
            sql = re.sub(rf"\b{name} AS \(", f"{name} AS MATERIALIZED (", sql, count=1)
    return sql


def _ivf_codebook_sql(
    k: int = N_IVF_CENTROIDS,
    iters: int = N_KMEANS_ITERS,
    src: str = "embeddings",
    prefix: str = "",
) -> str:
    """DuckDB CTE text replaying :func:`ivf_codebook` exactly; the final
    codebook CTE is named ``<prefix>cent``. ``src`` names the relation
    the fit reads — q175 fits on the STANDING subset only (the
    index-freshness pattern: the codebook is a snapshot, increments
    assign to it). ``prefix`` namespaces the intermediate CTEs so one
    oracle can replay TWO independent fits (q177 compares the standing
    codebook against a full-corpus refit)."""
    p = prefix
    ctes = [
        f"""{p}cent0 AS (
      SELECT cid, cv FROM (
        SELECT row_number() OVER (ORDER BY md5(concat('ivf:', CAST(vec_id AS VARCHAR))), vec_id) - 1 AS cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        FROM {src})
      WHERE cid < {k}
    )"""
    ]
    for r in range(1, iters + 1):
        avgs = ", ".join(
            f"round(avg(CAST(embedding[{i + 1}] AS DOUBLE)), 6) AS m{i}"
            for i in range(DIM)
        )
        mlist = ", ".join(f"m.m{i}" for i in range(DIM))
        ctes.append(f"""{p}assign{r} AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT e.vec_id, e.embedding, c.cid AS cluster,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cosine_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
        FROM {src} e, {p}cent{r - 1} c)
      WHERE rn = 1
    )""")
        ctes.append(f"""{p}cent{r} AS (
      SELECT p.cid,
             CASE WHEN m.cluster IS NULL THEN p.cv
                  ELSE list_value({mlist}) END AS cv
      FROM {p}cent{r - 1} p LEFT JOIN (
        SELECT cluster, {avgs} FROM {p}assign{r} GROUP BY cluster) m
        ON m.cluster = p.cid
    )""")
    ctes.append(f"{p}cent AS (SELECT cid, cv FROM {p}cent{iters})")
    return ",\n    ".join(ctes)


@register(
    "q68_ivf_ann",
    oracle=f"""
    WITH {_ivf_codebook_sql()},
    sims AS (
      SELECT e.vec_id, e.label, e.embedding, c.cid,
             {cosine_sql('e.embedding', 'c.cv')} AS sim
      FROM embeddings e, cent c
    ),
    assign AS (
      SELECT vec_id, label, embedding, cid AS cluster
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cid) AS rn
            FROM sims)
      WHERE rn = 1
    ),
    probe AS (
      SELECT cid FROM sims WHERE vec_id = {QUERY_VEC_ID}
      ORDER BY sim DESC, cid LIMIT {N_PROBE}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    hits AS (
      SELECT a.vec_id, a.label, a.cluster,
             {cosine_sql('a.embedding', 'qv')} AS cs
      FROM assign a JOIN probe p ON a.cluster = p.cid, q
      WHERE a.vec_id != {QUERY_VEC_ID}
      ORDER BY cs DESC, a.vec_id
      LIMIT {ANN_K}
    ),
    {_exact_topk_sql(ANN_K)},
    marked AS (
      SELECT h.vec_id, h.label, h.cluster, h.cs,
             (e.vec_id IS NOT NULL) AS in_exact_topk
      FROM hits h LEFT JOIN exact e ON h.vec_id = e.vec_id
    ),
    rec AS (
      SELECT CAST(sum(CASE WHEN in_exact_topk THEN 1 ELSE 0 END) AS DOUBLE)
               / {ANN_K} AS recall_at_k
      FROM marked
    )
    SELECT vec_id, label, cluster, round(cs, 4) AS cos_sim, in_exact_topk,
           recall_at_k, (recall_at_k >= {Q68_RECALL_TARGET}) AS recall_ok
    FROM marked, rec
    ORDER BY cs DESC, vec_id
    """,
    tags=("similarity", "ivf", "ann"),
)
def q68_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbor: a coarse
    codebook partitions vectors into cluster lists; a query searches
    only its ``N_PROBE`` nearest clusters' lists instead of the table.

    The codebook is LEARNED: a deterministic sampled k-means
    (:func:`ivf_codebook` — hash-sampled init, unrolled Lloyd rounds,
    rounded means) that the oracle replays CTE-for-CTE, so the index
    build itself is value-checked cross-engine. Cell balance — the
    property IVF's speedup actually depends on — is surfaced by
    q155_ivf_cells as an in-band contract.
    Scale shape: assignment is one pass over the table against a
    BROADCAST codebook with a partial-aggregable argmax (max_by) — no
    vector ever shuffles for index build; the probe joins the
    (tiny, broadcast) probed-centroid list, so query cost is the
    probed lists only — the IVF trade the LSH variant (q87/q89) makes
    with hyperplanes instead of centroids."""
    e = t(spark, sf_dir, "embeddings")
    # serve from the memoized index: codebook + INVERTED LISTS (the
    # per-vector cell assignment with its argmax — ties break toward
    # the LOWEST cid, (sim, -cid) max = the oracle's ORDER BY sim
    # DESC, cid row_number()=1 — is computed once per source
    # fingerprint inside ivf_index_for, not per query)
    cent, assign = ivf_index_for(spark, sf_dir)
    probe = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .crossJoin(F.broadcast(cent))
        .select("cid", cosine_col("embedding", "cv").alias("sim"))
        .orderBy(F.col("sim").desc(), "cid")
        .limit(N_PROBE)
        .select("cid")
    )
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qv"))
    qsim = cosine_col("embedding", "qv")
    hits = (
        assign.join(F.broadcast(probe), assign.cluster == F.col("cid"))
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", "cluster", qsim.alias("_sim"))
        .orderBy(F.col("_sim").desc(), "vec_id")
        .limit(ANN_K)
    )
    queries1 = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    marked = _mark_exact_topk(
        hits.withColumn("query_id", F.lit(QUERY_VEC_ID).cast("long")), e, queries1, ANN_K
    )
    return _with_recall(
        marked, ANN_K, Q68_RECALL_TARGET, F.col("_sim").desc()
    ).select(
        "vec_id", "label", "cluster", F.round("_sim", 4).alias("cos_sim"),
        "in_exact_topk", "recall_at_k", "recall_ok",
    )


def ivf_probe_hits(
    e: DataFrame,
    cent: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """Multi-query IVF ANN: assign the corpus to the (cid, cv) codebook
    once, rank each query's nprobe nearest cells, scan only those
    cells' lists — q68's plan generalized to a query SET, the IVF twin
    of :func:`lsh_probe_hits`. Returns (query_id, vec_id, _sim).

    Scale shape: the codebook broadcasts for BOTH the corpus assignment
    and the query-cell ranking; the probed-cell join broadcasts the
    (|queries| × nprobe)-row probe set; the corpus never shuffles."""
    # in-row argmax assignment (r17) — the _assign_to_codebook
    # discipline minus the label column: pure map pass, no exchange
    assign = (
        e.withColumn("_en", F.expr(_norm("embedding")))
        .crossJoin(F.broadcast(_ivf_cells_row(cent)))
        .select("vec_id", _cells_argmin("embedding", "_en").alias("cluster"), "embedding")
    )
    return ivf_serve_hits(assign, cent, queries, k, nprobe)


def ivf_serve_hits(
    assign: DataFrame,
    cent: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = N_PROBE,
    keep_rank: bool = False,
) -> DataFrame:
    """The SERVE half of :func:`ivf_probe_hits`, over a PRECOMPUTED
    (vec_id, cluster, embedding) assignment — the fitted inverted
    lists from :func:`ivf_index_for` / a saved index attach. This is
    the plan a query job runs per request batch: rank each query's
    nprobe nearest cells against the broadcast codebook, join the
    broadcast probe set to the lists, top-k per query. The corpus-side
    assignment is never recomputed and never shuffles.

    Norms are computed once per LIST VECTOR and once per QUERY before
    the probed-cell join (q164's discipline — the identical sqrt
    expression a per-pair cosine would evaluate, so the quotient stays
    bit-equal to the oracle's per-pair form), leaving only the dot
    product per (query, candidate) pair — the work that actually
    scales with probed-list volume. ``keep_rank=True`` surfaces the
    per-query rank (``_rk``) the top-k filter already computed, so a
    caller that reports ranks doesn't pay a second window sort.

    The probe RANKING runs INSIDE each query row: the codebook
    collapses to ONE broadcast row of (cid, cv, norm) structs, and
    each query computes sim → sort_array → slice(nprobe) as a
    higher-order-function expression — the (|queries| × k)-row
    exchange + window sort the row_number form paid is gone entirely
    (measured: at k=512 × 10k queries that exchange was ~25 s of a
    62 s serve; see SCALING.md round 17). Ties and NULL sims order
    exactly as the window did — (sim DESC, cid ASC), null sims LAST
    via an +inf sentinel on the negated sort key — so the probed-cell
    SET stays bit-identical to the oracle's row_number replay. The
    collapsed codebook row is ~0.5 KB × k (34 MB at the k=2¹⁶ policy
    cap — inside the 64 MB broadcast threshold)."""
    qn = queries.withColumn("_qn", F.expr(_norm("qv")))
    # the cosine arithmetic of cosine_col, negated for the ascending
    # struct sort (:func:`_neg_cos` — null-sim cells rank LAST, as the
    # window's default NULLS LAST did)
    ranked = (
        f"sort_array(transform(_cells, c -> named_struct("
        f"'_nq', {_neg_cos('qv', 'c.cv', '_qn', 'c._cn')}, 'cid', c.cid)))"
    )
    probe = (
        qn.crossJoin(F.broadcast(_ivf_cells_row(cent)))
        .select(
            "query_id",
            "qv",
            "_qn",
            F.expr(f"explode(slice({ranked}, 1, {nprobe}))").alias("_p"),
        )
        .select("query_id", "qv", F.col("_p.cid").alias("cid"), "_qn")
    )
    lists = assign.select(
        "vec_id", "cluster", "embedding", F.expr(_norm("embedding")).alias("_bn")
    )
    sim = F.expr(_cos("embedding", "qv", "_bn", "_qn"))
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), "vec_id")
    ranked = (
        lists.join(F.broadcast(probe), lists.cluster == F.col("cid"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("_sim"))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
    )
    return ranked if keep_rank else ranked.drop("_rk")


Q155_BALANCE_BOUND = 0.5


@register(
    "q155_ivf_cells",
    oracle=f"""
    WITH {_ivf_codebook_sql()},
    sims AS (
      SELECT e.vec_id, c.cid, {cosine_sql('e.embedding', 'c.cv')} AS sim
      FROM embeddings e, cent c
    ),
    assign AS (
      SELECT vec_id, cid AS cluster
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cid) AS rn
            FROM sims)
      WHERE rn = 1
    ),
    cells AS (SELECT cluster, count(*) AS n_vectors FROM assign GROUP BY cluster),
    tot AS (SELECT sum(n_vectors) AS n FROM cells),
    mx AS (SELECT max(n_vectors) AS mx FROM cells)
    SELECT cluster, n_vectors,
           round(CAST(n_vectors AS DOUBLE) / n, 4) AS frac,
           round(CAST(mx AS DOUBLE) / n, 4) AS max_frac,
           (CAST(mx AS DOUBLE) / n <= {Q155_BALANCE_BOUND}) AS balanced_ok
    FROM cells, tot, mx
    ORDER BY cluster
    """,
    tags=("similarity", "ivf", "index-quality"),
)
def q155_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF CELL BALANCE — the index-quality stat q68's speedup claim
    rests on: probing N_PROBE of k cells only cuts work if no cell
    holds most of the table. One row per learned-codebook cell with its
    population and fraction, plus the in-band contract (q89's
    discipline): max_frac and a balanced_ok bit asserting no cell
    exceeds Q155_BALANCE_BOUND (0.5) of the corpus.

    Scale shape: the cell assignment comes from the memoized inverted
    lists (ivf_index_for — one broadcast-codebook argmax per source
    fingerprint, embeddings never shuffle); the total and the largest
    cell are ``sum``/``max OVER ()`` over the k-row cell table — one
    window pass, no 1-row aggregates cross-joined back (each was
    another plan of the cell table and its own jobs), no eager
    count."""
    _cent, assign = ivf_index_for(spark, sf_dir)
    whole = Window.partitionBy()
    cells = assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vectors"))
    n = F.sum("n_vectors").over(whole)
    frac = F.col("n_vectors").cast("double") / n
    max_frac = F.max("n_vectors").over(whole).cast("double") / n
    return (
        cells.select(
            "cluster",
            "n_vectors",
            F.round(frac, 4).alias("frac"),
            F.round(max_frac, 4).alias("max_frac"),
            (max_frac <= Q155_BALANCE_BOUND).alias("balanced_ok"),
        )
        .orderBy("cluster")
    )


@register(
    "q147_semantic_decontamination",
    oracle=f"""
    WITH eval_set AS (
      SELECT vec_id AS eval_id, embedding AS ev FROM embeddings
      WHERE vec_id % 25 = 0
    ),
    sims AS (
      SELECT e.vec_id, eval_id, {cosine_sql('e.embedding', 'ev')} AS cs
      FROM embeddings e, eval_set
      WHERE e.vec_id % 25 <> 0
    )
    SELECT vec_id,
           round(max(cs), 4) AS max_eval_sim,
           CAST(sum(CASE WHEN cs >= 0.30 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_close_eval,
           (sum(CASE WHEN cs >= 0.30 THEN 1 ELSE 0 END) > 0) AS contaminated
    FROM sims
    GROUP BY vec_id
    ORDER BY vec_id
    """,
    tags=("similarity", "decontamination", "training-pipeline"),
)
def q147_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination: flag training examples whose
    embedding is too close to any held-out eval example — the
    paraphrase-robust complement to q06's exact n-gram protocol (an
    eval item rephrased shares no 5-grams but keeps high cosine).
    Same deterministic eval membership as q06 (id-keyed predicate).

    Scale shape: the eval set is benchmark-sized (thousands) against a
    100 TB train side, so its vectors BROADCAST and the check is a
    map-side crossJoin + per-row max — the train embeddings never
    shuffle; the only exchange carries (vec_id, partial max/count).
    For eval sets too big to broadcast, fall back to the sign-LSH
    bucket equi-join (q87/q89) as the candidate filter. Threshold
    compares raw float cosine identically in both engines (same IEEE
    ops, same order); only the surfaced max is rounded."""
    e = t(spark, sf_dir, "embeddings")
    is_eval = F.col("vec_id") % 25 == 0
    eval_set = e.where(is_eval).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("ev"),
        F.expr(_norm("embedding")).alias("_en"),
    )
    # norms once per side (q164's discipline): train-side norm per row,
    # eval-side norm inside the broadcast — per (train, eval) pair only
    # the dot product remains; quotient bit-equal to the per-pair form
    cs = F.expr(_cos("embedding", "ev", "_tn", "_en"))
    return (
        e.where(~is_eval)
        .withColumn("_tn", F.expr(_norm("embedding")))
        .crossJoin(F.broadcast(eval_set))
        .select("vec_id", cs.alias("cs"))
        .groupBy("vec_id")
        .agg(
            F.round(F.max("cs"), 4).alias("max_eval_sim"),
            # when/otherwise, not a bare boolean cast: a NULL cosine (a
            # malformed vector on either side) must count as "not
            # close" — the oracle's CASE ... ELSE 0 — rather than
            # poison the whole sum to NULL when a train vector has no
            # measurable similarity to ANY eval item
            F.sum(
                F.when(F.col("cs") >= 0.30, F.lit(1)).otherwise(F.lit(0)).cast("long")
            ).alias("n_close_eval"),
        )
        .withColumn("contaminated", F.col("n_close_eval") > 0)
        .orderBy("vec_id")
    )


# ---- Product quantization (PQ) ANN ---------------------------------------
N_SUB = 8          # subspaces
SUB_DIM = DIM // N_SUB
K_PQ = 32          # centroids per subspace -> 5-bit codes
PQ_ITERS = 2
PQ_FIT_SAMPLE = 2048  # Lloyd fits on this many hash-ranked vectors, not the corpus
PQ_SHORTLIST = 100  # ADC shortlist size; exact rerank runs on these only
Q157_RECALL_TARGET = 0.6  # measured >= 0.8 across SFs; floor w/ margin


def _l2(a: str, b: str) -> str:
    """Sequential-order squared-L2 distance of two array<double>
    fragments (same accumulation order as the DuckDB twin)."""
    return _fsum(f"zip_with({a}, {b}, (x, y) -> (x - y) * (x - y))")


def _l2_sql(a: str, b: str, dim: int = SUB_DIM) -> str:
    return (
        f"list_aggregate(list_transform(range(1, {dim} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
    )


def _subvectors(e: DataFrame, carry: tuple = ()) -> DataFrame:
    """(vec_id, *carry, sub, sv) — each vector split into N_SUB
    contiguous SUB_DIM-dim subvectors (double-cast). One narrow
    generate, no shuffle. ``carry`` names extra columns to ride along
    (q211's increment encode threads ``cluster`` through instead of
    joining it back afterwards)."""
    return e.select(
        "vec_id", *carry, F.posexplode(F.expr(_chunked("embedding"))).alias("sub", "sv")
    )


def _chunked(col: str) -> str:
    """Array of the N_SUB contiguous SUB_DIM-dim double subvectors of
    an embedding column — the in-row twin of :func:`_subvectors`
    (``_chunked(e)[s+1]`` == the (sub = s) row's ``sv``)."""
    ev = _dbl(col)
    return "array(" + ", ".join(
        f"slice({ev}, {s * SUB_DIM + 1}, {SUB_DIM})" for s in range(N_SUB)
    ) + ")"


# Per-vector count of subspaces whose refit code, mapped through the
# in-scope ``_map`` alignment (``_map[sub+1][r_cid+1]`` = standing cid),
# differs from the standing code — the q212/q215 code-churn numerator.
_CODE_MISMATCHES = (
    "aggregate(zip_with(transform(r_codes, (c, s) -> "
    "element_at(element_at(_map, s + 1), CAST(c AS INT) + 1)), s_codes, "
    "(m, s0) -> CASE WHEN m != CAST(s0 AS BIGINT) THEN 1 ELSE 0 END), "
    "0, (acc, x) -> acc + x)"
)


def _renest(flat: str, item: str) -> str:
    """Re-nest a (sub, cid)-sorted flat N_SUB × K_PQ list of structs by
    slicing: ``[sub+1][cid+1]`` = ``item`` of the flat entry ``f``.

    Slicing by position is only right on a DENSE grid, so the grid is
    checked in-row: the list must hold exactly N_SUB × K_PQ entries and
    entry i must be (i div K_PQ, i mod K_PQ). A missing or duplicated
    (sub, cid) would otherwise shift every entry after it by one and
    mislabel every code; instead the task fails with ``raise_error``
    naming the offending position."""
    n = N_SUB * K_PQ
    return (
        f"CASE WHEN size({flat}) = {n} THEN "
        f"transform(sequence(0, {N_SUB - 1}), s -> transform("
        f"slice({flat}, s * {K_PQ} + 1, {K_PQ}), (f, c) -> "
        f"CASE WHEN f.sub = s AND f.cid = c THEN {item} "
        "ELSE raise_error(concat('PQ grid entry ', "
        f"s * {K_PQ} + c, ' is (', f.sub, ', ', f.cid, "
        f"'), expected (', s, ', ', c, ')')) END)) "
        f"ELSE raise_error(concat('PQ grid has ', size({flat}), "
        f"' entries, expected {n}')) END"
    )


def _pq_cells_row(cent: DataFrame) -> DataFrame:
    """Collapse a (sub, cid, cv) PQ codebook to ONE broadcastable row:
    ``_cells_by_sub[sub+1][cid+1] = struct(cid, cv)``. Both dimensions
    are contiguous, 0-based and DENSE by construction (the seed
    ranking mints cids 0..K_PQ-1 per subspace and an emptied Lloyd
    cell keeps its previous centroid, so the codebook is always
    exactly N_SUB × K_PQ rows; :func:`_subvectors` mints subs
    0..N_SUB-1), so the encode and LUT passes index it positionally
    in-row. ONE global aggregation — the (sub, cid)-sorted flat list
    is re-nested by slicing in-row on the single output row — rather
    than a groupBy(sub) + global agg chain: at fixture scale each
    extra tiny stage is ~0.1 s of pure scheduling per serve (measured
    while chasing the r18 A/B), and the collapse output is one row
    either way."""
    cells = _renest("_f", "named_struct('cid', f.cid, 'cv', f.cv)")
    return cent.agg(
        F.sort_array(F.collect_list(F.struct("sub", "cid", "cv"))).alias("_f")
    ).select(F.expr(cells).alias("_cells_by_sub"))


def _pq_code_expr(chunks: str) -> Column:
    """``array<int>`` of per-subspace argmin-L2 codes of ``chunks``
    against the in-scope ``_cells_by_sub`` (one broadcast row,
    :func:`_pq_cells_row`) — pure in-row, O(K_PQ) per subspace via the
    running min. Tie order (d ASC, cid ASC) and the never-NULL
    distance contract match the oracle's row_number replay exactly."""
    keyed = (
        "transform(element_at(_cells_by_sub, s + 1), c -> named_struct("
        f"'_k', {_l2('ch', 'c.cv')}, 'cid', c.cid))"
    )
    return F.expr(f"transform({chunks}, (ch, s) -> CAST({_inrow_min(keyed)}.cid AS INT))")


def _pq_lut_expr(qchunks: str) -> Column:
    """``array<array<double>>`` ADC lookup table of a query's chunk
    array against the in-scope ``_cells_by_sub``:
    ``lut[sub+1][cid+1] = ||qchunk_sub − cv_{sub,cid}||²`` — built
    once per (query[, probed cell]) row, so scoring a candidate is one
    in-row sum over its codes instead of N_SUB joined rows."""
    d = _l2(f"element_at({qchunks}, s + 1)", "c.cv")
    return F.expr(f"transform(_cells_by_sub, (cells, s) -> transform(cells, c -> {d}))")


def _adc_dist(codes: str, lut: str) -> Column:
    """round(Σ_sub lut[sub+1][codes[sub+1]+1], 6) — the in-row ADC
    distance of one candidate's code row against one query LUT.
    Ascending-sub accumulation; the 6-decimal surface round is the
    cross-engine float discipline the narrow groupBy(sum) form used."""
    contrib = (
        f"transform({codes}, (c, s) -> "
        f"element_at(element_at({lut}, s + 1), CAST(c AS INT) + 1))"
    )
    return F.expr(f"round({_fsum(contrib)}, 6)")


def pq_codebooks(e: DataFrame) -> DataFrame:
    """LEARNED per-subspace PQ codebooks: (sub, cid, cv) with cv a
    SUB_DIM-dim array<double> — deterministic Lloyd per subspace, all
    N_SUB fits in ONE dataflow (sub is just another grouping column).

    Same replayability discipline as :func:`ivf_codebook`: init = the
    subvectors of the K_PQ globally hash-ranked vectors (one seed set
    shared by every subspace — a single TakeOrdered, no per-subspace
    sampling pass); PQ_ITERS unrolled Lloyd rounds with 6-decimal
    rounded means; argmin ties break to the lowest cid; an emptied cell
    keeps its previous centroid. The DuckDB oracle replays it
    CTE-for-CTE (_pq_codebook_sql). Fit cost is SAMPLE-BOUNDED: Lloyd
    runs over the first PQ_FIT_SAMPLE hash-ranked vectors (one parallel
    TakeOrdered over the corpus, then per-round joins/aggregates over
    N_SUB × sample narrow rows) — scale-flat at any corpus size; the
    codebook is N_SUB × K_PQ rows and localCheckpoints eagerly
    ("fit once")."""
    # ONE hash ranking serves both roles: the first K_PQ rows seed the
    # centroids, the first PQ_FIT_SAMPLE rows are the Lloyd fit set —
    # k-means cost is bounded by the sample at ANY corpus size (the
    # full-corpus fit measured 48× wall at the 100× fixture; the
    # sample-fit is scale-flat). orderBy+limit is a parallel
    # TakeOrdered; the row_number window runs over the 2048-row sample
    # only, never the corpus.
    sample = (
        e.select(
            "vec_id",
            "embedding",
            F.md5(
                F.concat(F.lit("pq:"), F.col("vec_id").cast("string"))
            ).alias("_ord"),
        )
        .orderBy("_ord", "vec_id")
        .limit(PQ_FIT_SAMPLE)
        .select(
            (F.row_number().over(Window.orderBy("_ord", "vec_id")))
            .cast("long")
            .alias("rn"),
            "vec_id",
            "embedding",
        )
        .localCheckpoint(eager=True)
    )
    cent = _subvectors(
        sample.where(F.col("rn") <= K_PQ).select(
            (F.col("rn") - 1).alias("vec_id"), "embedding"
        )
    ).select("sub", F.col("vec_id").alias("cid"), F.col("sv").alias("cv"))
    sv = _subvectors(sample.select("vec_id", "embedding"))
    for _ in range(PQ_ITERS):
        # in-row argmin per subspace (r17, the _pq_encode discipline):
        # assignment is a pure map pass — the explode + groupBy
        # (vec_id, sub) exchange per Lloyd round is gone; min_by
        # struct(d, cid) == ascending sort_array head, distances never
        # NULL on the gated SUB_DIM subvectors.
        cells = cent.groupBy("sub").agg(
            F.collect_list(F.struct("cid", "cv")).alias("_cells")
        )
        keyed = (
            "transform(_cells, c -> named_struct("
            f"'_k', {_l2('sv', 'c.cv')}, 'cid', c.cid))"
        )
        assign = sv.join(F.broadcast(cells), "sub").select(
            "sub", F.expr(f"{_inrow_min(keyed)}.cid").alias("cluster"), "sv"
        )
        means = assign.groupBy("sub", "cluster").agg(
            *[
                F.round(F.avg(F.element_at("sv", i + 1)), 6).alias(f"m{i}")
                for i in range(SUB_DIM)
            ]
        )
        cent = cent.join(
            F.broadcast(means),
            (cent.sub == means.sub) & (cent.cid == means.cluster),
            "left",
        ).select(
            cent.sub.alias("sub"),
            "cid",
            F.when(F.col("cluster").isNull(), F.col("cv"))
            .otherwise(F.array(*[F.col(f"m{i}") for i in range(SUB_DIM)]))
            .alias("cv"),
        )
    return cent.localCheckpoint(eager=True)


def _pq_fit(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The full PQ INDEX fit: (codebooks, codes).

    The CODES table (vec_id, sub, cluster — N_SUB narrow rows per
    vector) is the one linear-cost pass of PQ: assigning every vector
    to its nearest centroid per subspace. Building it per QUERY would
    make every lookup pay the index build (measured 48×-of-base wall at
    the 100× fixture); building it once per (session, source
    fingerprint) — :func:`pq_index_for`, the ``fitted_family``
    lifecycle — is what "index" means: serving cost is then the
    broadcast lookup table + one aggregation over the codes, sublinear
    in the raw vector bytes. The codes localCheckpoint eagerly
    (~N_SUB × corpus ids — 40 MB at 1.6M code rows, disk-backed)."""
    # ingestion gate: the fit sample and the codes pass see only
    # well-formed vectors (element_at into an empty subvector slice
    # is task-fatal under ANSI; the oracle filters identically)
    e = valid_embeddings(t(spark, sf_dir, "embeddings"))
    cent = pq_codebooks(e)
    # REBALANCE: the in-row encode is map-shaped (one partition per
    # input split); AQE sizes the materialized codes table sensibly —
    # one partition locally, ~advisory-sized at scale (guide-§6 file
    # sizing; flat PQ has no cluster column to cluster by)
    codes = (
        _pq_encode(valid_embeddings(tw(spark, sf_dir, "embeddings")), cent)
        .hint("rebalance")
        .localCheckpoint(eager=True)
    )
    return (cent, codes)


def _pq_encode(v: DataFrame, cent: DataFrame, carry: tuple = ()) -> DataFrame:
    """(vec_id[, *carry], codes) — the WIDE codes row of each vector:
    ``codes`` is an ``array<int>`` with ``codes[s+1]`` the per-subspace
    argmin-L2 PQ code of the vector's s-th subvector against the
    broadcast codebooks. The encode pass shared by the full fit, the
    standing fit, q214's increment encode (FAISS's ``add()`` for a
    trained flat PQ) and — through :func:`_ivfadc_codes` — every
    IVFADC encode.

    WIDE LAYOUT (r18): one row per vector instead of N_SUB narrow
    (vec_id, sub, cluster) rows. The r17 in-row argmin had already
    made the encode a pure map pass; the wide row additionally cuts
    encode/ADC row volume N_SUB× and lets every ADC serve score a
    candidate with ONE in-row LUT sum instead of N_SUB joined rows +
    a (query_id, vec_id) hash exchange — at 100 TB that exchange was
    (queries × corpus) rows per serve. The whole codebook collapses
    to ONE broadcast row (:func:`_pq_cells_row`); each code is an
    O(K_PQ) running argmin (:func:`_pq_code_expr`). Distances are
    never NULL (the valid_embeddings gate pins SUB_DIM-length
    subvectors); ties break toward the lowest cid, exactly the
    narrow form's min_by struct(d, cid) and the oracle's replay."""
    return v.crossJoin(F.broadcast(_pq_cells_row(cent))).select(
        "vec_id", *carry, _pq_code_expr(_chunked("embedding")).alias("codes")
    )


# PQ lifecycle (fit-memo / persist / load / attach) via fitted_family.
# The codes are deliberately NOT partitioned: plain PQ has no coarse
# cells — ADC scans every vector's codes, so there is no probe
# predicate to prune on (that is IVFADC's trade), and partitioning by
# vec_id would just shatter the table into tiny files. WIDE layout
# since r18: one (vec_id, codes array<int>) row per vector.
pq_index_for, pq_index_save, pq_index_load, pq_index_attach = fitted_family(
    "pq",
    "embeddings.parquet",
    [("pq", ["sub", "cid", "cv"], None), ("codes", ["vec_id", "codes"], None)],
    _pq_fit,
    params={"n_sub": N_SUB, "k_pq": K_PQ},
)


def pq_probe_hits(
    e: DataFrame,
    cent: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """Multi-query PQ ANN serving: ADC shortlist + exact rerank per
    query — q157's plan generalized to a query SET, the PQ twin of
    :func:`lsh_probe_hits` / :func:`ivf_probe_hits`. ``e`` is the raw
    (vec_id, embedding) table (rerank only touches shortlist rows);
    ``cent``/``codes`` come from :func:`pq_index_for`; ``queries`` is
    (query_id, qv). Returns (query_id, vec_id, approx_dist, dist) —
    each query's top-k by exact squared-L2 over its ADC shortlist.

    Scale shape: the per-query lookup tables (|queries| LUT rows of
    N_SUB × K_PQ doubles) BROADCAST against the WIDE codes table —
    each (query, candidate) is scored by ONE in-row LUT sum over the
    candidate's code row (r18; the narrow layout scored N_SUB rows per
    pair and hash-exchanged (queries × corpus) partial rows through a
    groupBy(query_id, vec_id) — the honest O(N·queries) ADC scan now
    has no exchange at all before the shortlist ranking). The
    corpus's raw vectors are touched only by the shortlist equi-join
    (|queries| × shortlist rows); ranking windows are per-query. Audit
    with ``recall_audit(..., metric="l2")`` — PQ approximates L2, so
    cosine ground truth would mis-grade it."""
    ql = queries.crossJoin(F.broadcast(_pq_cells_row(cent))).select(
        "query_id", _pq_lut_expr(_chunked("qv")).alias("_qlut")
    )
    scored = codes.join(
        F.broadcast(ql), codes.vec_id != ql.query_id
    ).select(
        "query_id",
        "vec_id",
        _adc_dist("codes", "_qlut").alias("approx_dist"),
    )
    ws = Window.partitionBy("query_id").orderBy(F.col("approx_dist").asc(), "vec_id")
    sl = (
        scored.withColumn("_rk", F.row_number().over(ws))
        .where(F.col("_rk") <= shortlist)
        .drop("_rk")
    )
    ed = F.expr(_l2(_dbl("embedding"), _dbl("qv")))
    rer = (
        sl.join(e.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", "approx_dist", F.round(ed, 6).alias("dist"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), "vec_id")
    return (
        rer.withColumn("_rk", F.row_number().over(wr))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def _pq_codebook_sql(
    iters: int = PQ_ITERS,
    src: str | None = None,
    fit_src: str | None = None,
    prefix: str = "",
) -> str:
    """DuckDB CTE text replaying :func:`pq_codebooks` over relation
    ``src`` (any CTE/table with (vec_id, embedding) — q157 fits raw
    embeddings, q160 fits coarse-cell RESIDUALS; None = the
    valid-embeddings gate over the raw table, mirroring
    :func:`pq_index_for`); final CTEs: ``<prefix>pcent`` (sub, cid,
    cv) and ``<prefix>subv`` (vec_id, sub, sv). ``fit_src`` optionally
    names a DIFFERENT relation for the sample-fit chain
    (seed/subv_fit) than the one ``subv`` covers — q211 fits the
    codebooks on STANDING residuals while encoding ALL residuals
    against them. ``prefix`` namespaces every CTE so one oracle can
    replay two independent PQ fits (q212's drift audit)."""
    if src is None:
        src = EMB_VALID_SQL
    if fit_src is None:
        fit_src = src
    p = prefix
    sv_expr = (
        f"list_transform(range(1, {SUB_DIM} + 1), "
        f"i -> CAST(embedding[sub * {SUB_DIM} + i] AS DOUBLE))"
    )
    ctes = [
        f"""{p}subs AS (SELECT unnest(range({N_SUB})) AS sub)""",
        f"""{p}subv AS (
      SELECT vec_id, sub, {sv_expr} AS sv FROM {src}, {p}subs
    )""",
        f"""{p}pranked AS (
      SELECT row_number() OVER (ORDER BY md5(concat('pq:', CAST(vec_id AS VARCHAR))), vec_id) AS rn,
             vec_id, embedding
      FROM {fit_src}
    )""",
        f"""{p}pseed AS (
      SELECT rn - 1 AS cid, embedding FROM {p}pranked WHERE rn <= {K_PQ}
    )""",
        f"""{p}subv_fit AS (
      SELECT p.vec_id, sub, {sv_expr} AS sv
      FROM {p}pranked p, {p}subs WHERE p.rn <= {PQ_FIT_SAMPLE}
    )""",
        f"""{p}pcent0 AS (
      SELECT sub, cid, {sv_expr} AS cv FROM {p}pseed, {p}subs
    )""",
    ]
    for r in range(1, iters + 1):
        avgs = ", ".join(
            f"round(avg(sv[{i + 1}]), 6) AS m{i}" for i in range(SUB_DIM)
        )
        mlist = ", ".join(f"m.m{i}" for i in range(SUB_DIM))
        ctes.append(f"""{p}passign{r} AS (
      SELECT vec_id, sub, sv, cluster FROM (
        SELECT v.vec_id, v.sub, v.sv, c.cid AS cluster,
               row_number() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY {_l2_sql('v.sv', 'c.cv')} ASC, c.cid) AS rn
        FROM {p}subv_fit v JOIN {p}pcent{r - 1} c ON v.sub = c.sub)
      WHERE rn = 1
    )""")
        ctes.append(f"""{p}pcent{r} AS (
      SELECT p.sub, p.cid,
             CASE WHEN m.cluster IS NULL THEN p.cv
                  ELSE list_value({mlist}) END AS cv
      FROM {p}pcent{r - 1} p LEFT JOIN (
        SELECT sub, cluster, {avgs} FROM {p}passign{r} GROUP BY sub, cluster) m
        ON m.sub = p.sub AND m.cluster = p.cid
    )""")
    ctes.append(f"{p}pcent AS (SELECT sub, cid, cv FROM {p}pcent{iters})")
    return ",\n    ".join(ctes)


@register(
    "q157_pq_ann",
    oracle=_materialize_shared_ctes(f"""
    WITH {_pq_codebook_sql()},
    codes AS (
      SELECT vec_id, sub, cluster FROM (
        SELECT v.vec_id, v.sub, c.cid AS cluster,
               row_number() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY {_l2_sql('v.sv', 'c.cv')} ASC, c.cid) AS rn
        FROM subv v JOIN pcent c ON v.sub = c.sub)
      WHERE rn = 1
    ),
    qsub AS (SELECT sub, sv AS qv FROM subv WHERE vec_id = {QUERY_VEC_ID}),
    lut AS (
      SELECT c.sub, c.cid, {_l2_sql('c.cv', 'q.qv')} AS qd
      FROM pcent c JOIN qsub q ON c.sub = q.sub
    ),
    scored AS (
      SELECT k.vec_id, round(sum(l.qd), 6) AS approx_dist
      FROM codes k JOIN lut l ON k.sub = l.sub AND k.cluster = l.cid
      WHERE k.vec_id != {QUERY_VEC_ID}
      GROUP BY k.vec_id
    ),
    shortlist AS (
      SELECT vec_id, approx_dist FROM scored
      ORDER BY approx_dist ASC, vec_id LIMIT {PQ_SHORTLIST}
    ),
    qfull AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    ),
    rerank AS (
      SELECT s.vec_id, s.approx_dist,
             round({_l2_sql('list_transform(e.embedding, x -> CAST(x AS DOUBLE))', 'qv', 64)}, 6) AS dist
      FROM shortlist s JOIN embeddings e ON e.vec_id = s.vec_id, qfull
    ),
    hits AS (
      SELECT vec_id, approx_dist, dist FROM rerank
      ORDER BY dist ASC, vec_id LIMIT {ANN_K}
    ),
    exact AS (
      SELECT vec_id
      FROM (SELECT vec_id,
                   {_l2_sql('list_transform(embedding, x -> CAST(x AS DOUBLE))', 'qv', 64)} AS ed
            FROM embeddings, qfull WHERE vec_id != {QUERY_VEC_ID})
      ORDER BY ed ASC, vec_id LIMIT {ANN_K}
    ),
    marked AS (
      SELECT h.vec_id, h.approx_dist, h.dist, (e.vec_id IS NOT NULL) AS in_exact_topk
      FROM hits h LEFT JOIN exact e ON h.vec_id = e.vec_id
    ),
    rec AS (
      SELECT CAST(sum(CASE WHEN in_exact_topk THEN 1 ELSE 0 END) AS DOUBLE)
               / {ANN_K} AS recall_at_k
      FROM marked
    )
    SELECT vec_id, approx_dist, dist, in_exact_topk, recall_at_k,
           (recall_at_k >= {Q157_RECALL_TARGET}) AS recall_ok
    FROM marked, rec
    ORDER BY dist ASC, vec_id
    """),
    tags=("similarity", "ann", "sketch", "quantization"),
)
def q157_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-QUANTIZATION ANN (Jégou et al.'s IVFADC sketch, the ADC
    half): every vector is compressed to N_SUB 5-bit codes (its nearest
    learned centroid per 8-dim subspace), and a query is scored against
    CODES ONLY — one lookup table of K_PQ × N_SUB squared distances per
    query, summed per vector — never against the raw vectors.

    This is the memory-side ANN trade (q87/q89 trade candidate COUNT,
    q68 trades candidate LISTS): 64 floats become 8 five-bit codes
    (~50× compression), and shortlist cost is an integer-keyed lookup
    join. At
    100 TB the codes table replaces the embeddings for serving; the
    codebooks (128 rows) broadcast; the only exchange carries
    (vec_id, partial distance sums).

    The serving shape is the full production pattern: ADC SHORTLIST
    (top-PQ_SHORTLIST by code distance — raw vectors untouched) →
    EXACT RERANK of the shortlist only (one equi-join back to the
    embeddings for PQ_SHORTLIST rows) → top-k. A few dozen centroids
    per 8-dim subspace is deliberately lossy — direct ADC top-5
    measured recall 0.0-0.2, which is WHY real PQ systems rerank; with
    the rerank the recall is the probability the true neighbors survive
    the shortlist (measured 0.8-1.0 at K_PQ=32 across all three SFs;
    K_PQ=16 or a 50-row shortlist measured as low as 0.4 at sf0.1 —
    the constants are calibrated, not guessed). Same audit discipline as q89/q68: the
    result ships with in-band recall@5 against the exact L2 scan (PQ
    approximates L2, so the audit metric is L2 — not cosine) and a
    recall_ok contract bit.

    Determinism: the fit replays CTE-for-CTE in the oracle
    (hash-ranked seed set shared across subspaces, unrolled Lloyd,
    6-decimal rounded means, argmin ties to lowest cid); approx_dist is
    rounded at the surface only."""
    e = t(spark, sf_dir, "embeddings")
    cent, codes = pq_index_for(spark, sf_dir)
    return _pq_serve(e, cent, codes, Q157_RECALL_TARGET).select(
        "vec_id", "approx_dist", "dist", "in_exact_topk", "recall_at_k",
        "recall_ok",
    )


def _pq_serve(
    e: DataFrame, cent: DataFrame, codes: DataFrame, target: float
) -> DataFrame:
    """The flat-PQ serve chain for the pinned query, shared by q157 (the
    full-corpus index) and q214/q216 (a standing index's codes plus its
    encoded increment): ADC shortlist over ``codes`` → exact rerank of
    the shortlist → top-k → the in-band L2 recall audit (PQ
    approximates L2, so the audit metric is L2). Returns (vec_id,
    approx_dist, dist, in_exact_topk, query_id, recall_at_k,
    recall_ok) ordered by dist."""
    # one LUT row for the pinned query (broadcast), one in-row sum per
    # candidate code row — no groupBy(vec_id) exchange (r18 wide codes)
    qlut = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .crossJoin(F.broadcast(_pq_cells_row(cent)))
        .select(_pq_lut_expr(_chunked("embedding")).alias("_qlut"))
    )
    scored = (
        codes.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qlut))
        .select(
            "vec_id",
            _adc_dist("codes", "_qlut").alias("approx_dist"),
        )
    )
    shortlist = scored.orderBy(F.col("approx_dist").asc(), "vec_id").limit(
        PQ_SHORTLIST
    )
    qfull = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.expr(_dbl("embedding")).alias("qv")
    )
    ed = F.expr(_l2(_dbl("embedding"), "qv"))
    rerank = (
        shortlist.join(e, "vec_id")
        .crossJoin(F.broadcast(qfull))
        .select("vec_id", "approx_dist", F.round(ed, 6).alias("dist"))
    )
    hits = rerank.orderBy(F.col("dist").asc(), "vec_id").limit(ANN_K)
    exact = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qfull))
        .select("vec_id", ed.alias("_ed"))
        # asc_nulls_last: malformed vectors have NULL _ed and must not
        # occupy exact-top-k slots (DuckDB ASC is NULLS LAST)
        .orderBy(F.col("_ed").asc_nulls_last(), "vec_id")
        .limit(ANN_K)
        .select("vec_id", F.lit(True).alias("in_exact_topk"))
    )
    marked = hits.join(F.broadcast(exact), "vec_id", "left").select(
        "vec_id", "approx_dist", "dist",
        F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
        F.lit(QUERY_VEC_ID).alias("query_id"),
    )
    return _with_recall(marked, ANN_K, target, F.col("dist").asc())


# ---------------------------------------------------------------------------
# q160: IVFADC — the composed Jégou serving index (coarse IVF cells +
# product quantization of the RESIDUALS + asymmetric distance within
# probed cells + exact rerank). q68 contributes the learned coarse
# codebook (cells bound WHAT is scanned), q157 contributes the PQ
# machinery (codes bound what a scan COSTS); composing them on residuals
# is what the actual paper serves: residuals have far less variance than
# raw vectors, so the same PQ budget quantizes them more finely.
# ---------------------------------------------------------------------------

# MEASURED calibration (round 8): pinned-query recall@5 is 0.8 / 0.6 /
# 0.4 at sf0.001/0.01/0.1, and the sampled-population mean is 0.59
# (sf0.01) / 0.55 (sf0.1) — essentially q68's coarse-probe population
# mean (0.62): the recall cost of IVFADC is the PROBING trade it
# inherits from IVF (nprobe/k cells scanned), while the PQ+rerank half
# is near-lossless on top of it (PQ-only population mean 0.71-0.91).
# The floor is set under the measured minimum with margin; a broken
# composition (mis-joined codes, wrong residual) collapses it to ~0.
Q160_RECALL_TARGET = 0.3


def _ivfadc_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The full IVFADC INDEX fit: (coarse_cent, pq_cent, codes) with
    codes = (vec_id, cluster, sub, code) — the coarse cell AND the
    per-subspace residual code of every vector. Memoized/persisted via
    the ``fitted_family`` lifecycle (:func:`ivfadc_index_for`); the
    coarse codebook is SHARED with q68 through the same session cache
    (one fit serves both).

    Build shape: one broadcast-argmax pass assigns cells (the corpus
    never shuffles for the index); residuals are a narrow map
    (vector − its cell centroid); the residual PQ fit is
    sample-bounded (PQ_FIT_SAMPLE hash-ranked residuals); the codes
    pass is one broadcast join + partial argmin. At serve time the
    codes table REPLACES the raw vectors and the cluster column is the
    probe predicate — ADC cost is the probed cells' codes only,
    ~nprobe/k of the corpus."""
    # the coarse half IS q68's index — codebook AND inverted lists
    # come from the shared memo (one assignment pass serves q68,
    # q155, and this composition)
    cent, assign = ivf_index_for(spark, sf_dir)
    # ingestion gate: the shared inverted lists may carry malformed
    # vectors (q68's scoring NULLs them out, so they are inert
    # there), but the residual subtraction and PQ fit would turn
    # them into NULL-element arrays that poison Lloyd means — and
    # diverge from the oracle's NULL ordering. Residuals and codes
    # are built over well-formed vectors only (EMB_VALID_SQL twin).
    # three consumers (PQ sample fit, codes assignment, the cluster
    # map) — materialize the assignment+subtract once
    resid = _ivfadc_residuals(valid_embeddings(assign), cent).localCheckpoint(
        eager=True
    )
    pcent = pq_codebooks(resid.select("vec_id", "embedding"))
    # map-shaped wide codes (r18): the encode needs no exchange and the
    # in-session serve joins on the broadcast LUT, so the table is NOT
    # re-clustered here — the ONE clustering shuffle happens at save
    # time (fitted_family's rebalance-by-partition-column), where the
    # partitionBy("cluster") file layout is what wants cell locality.
    # The r17 form shuffled the codes twice per save (fit repartition +
    # save repartition; the checkpoint erases outputPartitioning so the
    # second exchange was never elided — r17 ADVICE).
    codes = _ivfadc_codes(resid, pcent).localCheckpoint(eager=True)
    return (cent, pcent, codes)


def _ivfadc_residuals(assigned: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cluster, embedding) with embedding = the RESIDUAL of
    each assigned vector against its cell centroid — one broadcast
    join + narrow map, shared by the full fit, the standing fit, and
    q211's increment encode (FAISS's add() path)."""
    return assigned.join(
        F.broadcast(cent), assigned.cluster == cent.cid
    ).select(
        "vec_id",
        "cluster",
        F.expr(f"zip_with({_dbl('embedding')}, cv, (x, y) -> x - y)").alias("embedding"),
    )


def _ivfadc_codes(resid: DataFrame, pcent: DataFrame) -> DataFrame:
    """(vec_id, cluster, codes): the WIDE residual-PQ code row of every
    assigned vector — :func:`_pq_encode` with the coarse ``cluster``
    riding along (it is the probe predicate at serve time). Shared by
    the full fit, the standing fit, and q211's increment encode; a
    pure map pass, zero exchanges, one row per vector (r18 — the r17
    narrow form emitted N_SUB rows per vector)."""
    return _pq_encode(
        resid.select("vec_id", "cluster", "embedding"), pcent,
        carry=("cluster",),
    )


# IVFADC lifecycle via fitted_family. ``codes`` is written PARTITIONED
# BY cluster: a query that probes nprobe cells reads only those cells'
# files (partition pruning does the inverted-list seek) — exactly
# FAISS's IVF layout expressed as a parquet table. WIDE layout since
# r18: one (vec_id, cluster, codes array<int>) row per vector.
ivfadc_index_for, ivfadc_index_save, ivfadc_index_load, ivfadc_index_attach = (
    fitted_family(
        "ivfadc",
        "embeddings.parquet",
        [
            ("coarse", ["cid", "cv"], None),
            ("pq", ["sub", "cid", "cv"], None),
            ("codes", ["vec_id", "cluster", "codes"], "cluster"),
        ],
        _ivfadc_fit,
        params={"k_coarse": N_IVF_CENTROIDS, "n_sub": N_SUB, "k_pq": K_PQ},
    )
)


def ivfadc_probe_hits(
    cent: DataFrame,
    pcent: DataFrame,
    codes: DataFrame,
    e: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = N_PROBE,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """Multi-query IVFADC serving: per query, rank its ``nprobe``
    nearest coarse cells (cosine, like q68's probe), form the query
    RESIDUAL against each probed cell's centroid, ADC-score only the
    probed cells' codes, shortlist, exact-rerank. Returns (query_id,
    vec_id, cluster, approx_dist, dist) — top-k per query by exact
    squared L2.

    Scale shape: every per-query structure broadcasts (probed cells ×
    N_SUB × K_PQ lookup rows); the codes table is filtered to probed
    cells BY the lookup equi-join itself (cluster is a join key), so
    ADC cost is sublinear in the corpus — the probed fraction — and
    raw vectors are touched for |queries| × shortlist rows only."""
    qs = queries.select("query_id", F.expr(_dbl("qv")).alias("qv"))
    # probe ranking runs IN-ROW over a collapsed one-row codebook (the
    # ivf_serve_hits discipline — no (|queries| × k) exchange + window
    # sort, the term that grows with the cell-count policy's knob).
    # The struct carries cv so the winner's centroid feeds the residual
    # without a join-back; cid is unique, so the trailing cv field can
    # never influence the (sim DESC, cid ASC, nulls-last) order.
    cells = cent.select(F.struct("cid", "cv").alias("_c")).agg(
        F.collect_list("_c").alias("_cells")
    )
    ranked = (
        f"sort_array(transform(_cells, c -> named_struct("
        f"'_nq', {_neg_cos('qv', 'c.cv')}, 'cid', c.cid, 'cv', c.cv)))"
    )
    qres = (
        qs.crossJoin(F.broadcast(cells))
        .select(
            "query_id",
            "qv",
            F.expr(f"explode(slice({ranked}, 1, {nprobe}))").alias("_p"),
        )
        .selectExpr(
            "query_id", "_p.cid AS pcell", "zip_with(qv, _p.cv, (x, y) -> x - y) AS qr"
        )
    )
    # one ADC LUT row per (query, probed cell), built in-row against
    # the one-row collapsed PQ codebook (r18 wide codes): the
    # cluster equi-join below is STILL the probe predicate — only the
    # probed cells' code rows match — but each candidate is scored by
    # ONE in-row LUT sum instead of N_SUB joined rows + a
    # groupBy(query_id, vec_id, cluster) hash exchange of every scored
    # pair.
    lut = qres.crossJoin(F.broadcast(_pq_cells_row(pcent))).select(
        "query_id", "pcell", _pq_lut_expr(_chunked("qr")).alias("_qlut")
    )
    scored = (
        codes.join(F.broadcast(lut), codes.cluster == lut.pcell)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "cluster",
            _adc_dist("codes", "_qlut").alias("approx_dist"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), "vec_id"
    )
    sl = (
        scored.withColumn("_rk", F.row_number().over(ws))
        .where(F.col("_rk") <= shortlist)
        .drop("_rk")
    )
    ed = F.expr(_l2(_dbl("embedding"), _dbl("qv")))
    rer = (
        sl.join(e.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id", "vec_id", "cluster", "approx_dist",
            F.round(ed, 6).alias("dist"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), "vec_id")
    return (
        rer.withColumn("_rk", F.row_number().over(wr))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def _ivfadc_oracle_sql() -> str:
    qr_expr = (
        f"list_transform(range(1, {DIM} + 1), "
        f"i -> CAST(q.embedding[i] AS DOUBLE) - c.cv[i])"
    )
    return _materialize_shared_ctes(f"""
    WITH {_ivf_codebook_sql()},
    csims AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {cosine_sql('e.embedding', 'c.cv')} AS sim
      FROM {EMB_VALID_SQL} e, cent c
    ),
    cassign AS (
      SELECT vec_id, embedding, cid AS cluster
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cid) AS rn
            FROM csims)
      WHERE rn = 1
    ),
    resid AS (
      SELECT a.vec_id, a.cluster,
             list_transform(range(1, {DIM} + 1),
                            i -> CAST(a.embedding[i] AS DOUBLE) - c.cv[i]) AS embedding
      FROM cassign a JOIN cent c ON c.cid = a.cluster
    ),
    {_pq_codebook_sql(src="resid")},
    codes AS (
      SELECT s.vec_id, r.cluster, s.sub, s.code FROM (
        SELECT vec_id, sub, cid AS code FROM (
          SELECT v.vec_id, v.sub, c.cid,
                 row_number() OVER (PARTITION BY v.vec_id, v.sub
                                    ORDER BY {_l2_sql('v.sv', 'c.cv')} ASC, c.cid) AS rn
          FROM subv v JOIN pcent c ON v.sub = c.sub)
        WHERE rn = 1) s
      JOIN resid r ON r.vec_id = s.vec_id
    ),
    probe AS (
      SELECT cid FROM csims WHERE vec_id = {QUERY_VEC_ID}
      ORDER BY sim DESC, cid LIMIT {N_PROBE}
    ),
    qres AS (
      SELECT c.cid AS pcell, {qr_expr} AS qr
      FROM cent c JOIN probe p ON c.cid = p.cid,
           (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
    ),
    qsub AS (
      SELECT pcell, sub,
             list_transform(range(1, {SUB_DIM} + 1), i -> qr[sub * {SUB_DIM} + i]) AS qsv
      FROM qres, subs
    ),
    lut AS (
      SELECT q.pcell, q.sub, c.cid, {_l2_sql('c.cv', 'q.qsv')} AS qd
      FROM pcent c JOIN qsub q ON c.sub = q.sub
    ),
    scored AS (
      SELECT k.vec_id, k.cluster, round(sum(l.qd), 6) AS approx_dist
      FROM codes k JOIN lut l
        ON l.pcell = k.cluster AND l.sub = k.sub AND l.cid = k.code
      WHERE k.vec_id != {QUERY_VEC_ID}
      GROUP BY 1, 2
    ),
    shortlist AS (
      SELECT vec_id, cluster, approx_dist FROM scored
      ORDER BY approx_dist ASC, vec_id LIMIT {PQ_SHORTLIST}
    ),
    qfull AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    ),
    rerank AS (
      SELECT s.vec_id, s.cluster, s.approx_dist,
             round({_l2_sql('list_transform(e.embedding, x -> CAST(x AS DOUBLE))', 'qv', DIM)}, 6) AS dist
      FROM shortlist s JOIN embeddings e ON e.vec_id = s.vec_id, qfull
    ),
    hits AS (
      SELECT vec_id, cluster, approx_dist, dist FROM rerank
      ORDER BY dist ASC, vec_id LIMIT {ANN_K}
    ),
    exact AS (
      SELECT vec_id
      FROM (SELECT vec_id,
                   {_l2_sql('list_transform(embedding, x -> CAST(x AS DOUBLE))', 'qv', DIM)} AS ed
            FROM embeddings, qfull WHERE vec_id != {QUERY_VEC_ID})
      ORDER BY ed ASC, vec_id LIMIT {ANN_K}
    ),
    marked AS (
      SELECT h.vec_id, h.cluster, h.approx_dist, h.dist,
             (e.vec_id IS NOT NULL) AS in_exact_topk
      FROM hits h LEFT JOIN exact e ON h.vec_id = e.vec_id
    ),
    rec AS (
      SELECT CAST(sum(CASE WHEN in_exact_topk THEN 1 ELSE 0 END) AS DOUBLE)
               / {ANN_K} AS recall_at_k
      FROM marked
    )
    SELECT vec_id, cluster, approx_dist, dist, in_exact_topk, recall_at_k,
           (recall_at_k >= {Q160_RECALL_TARGET}) AS recall_ok
    FROM marked, rec
    ORDER BY dist ASC, vec_id
    """)


@register(
    "q160_ivfadc",
    oracle=_ivfadc_oracle_sql(),
    tags=("similarity", "ann", "ivf", "quantization", "sketch"),
)
def q160_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the COMPOSED Jégou serving index, assembled from the
    two halves the catalog already proves separately: q68's learned
    coarse codebook bounds WHAT is scanned (inverted cell lists,
    ``N_PROBE`` of ``N_IVF_CENTROIDS`` probed per query), and q157's
    product quantization bounds what scanning COSTS (each vector's
    RESIDUAL against its cell centroid compressed to N_SUB 5-bit
    codes; distances via one lookup table per probed cell, raw vectors
    untouched until rerank). Quantizing residuals instead of raw
    vectors is the paper's point: residuals carry far less variance,
    so the same code budget is finer.

    Serving shape (the production pattern end-to-end): probe cells →
    per-cell query residual → ADC over probed cells' CODES ONLY →
    PQ_SHORTLIST shortlist → exact rerank of shortlist rows → top-k,
    shipped with the in-band L2 recall@5 contract
    (ground truth = exact scan; embeddings are unit-norm, so the
    cosine cell probe and the L2 ADC rank the same neighborhoods).

    Scale shape: every learned structure broadcasts (8 coarse
    centroids, 256 PQ centroids, per-query LUTs); the codes table
    replaces the embeddings at serve time and is filtered to probed
    cells by the LUT equi-join itself (cluster is a join key), so ADC
    cost ~ nprobe/k of the corpus — sublinear scan, constant-size
    index artifacts, rerank touches PQ_SHORTLIST raw rows. Index build
    (one broadcast-argmax cell pass, sample-bounded residual PQ fit,
    one codes pass) is memoized per (session, source fingerprint) via
    :func:`ivfadc_index_for` — fit once, serve many."""
    e = t(spark, sf_dir, "embeddings")
    cent, pcent, codes = ivfadc_index_for(spark, sf_dir)
    return _ivfadc_serve(e, cent, pcent, codes, Q160_RECALL_TARGET).select(
        "vec_id", "cluster", "approx_dist", "dist", "in_exact_topk",
        "recall_at_k", "recall_ok",
    )


def _ivfadc_serve(
    e: DataFrame, cent: DataFrame, pcent: DataFrame, codes: DataFrame,
    target: float,
) -> DataFrame:
    """q160's serve tail for the pinned query, shared with q211/q213 (a
    standing index's codes plus its encoded increment): the
    :func:`ivfadc_probe_hits` chain, then the in-band L2 recall audit
    against the exact scan. Returns the hit rows with in_exact_topk,
    recall_at_k and recall_ok, ordered by dist."""
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    hits = ivfadc_probe_hits(cent, pcent, codes, e, q, ANN_K)
    marked = _mark_exact_topk(hits, e, q, ANN_K, metric="l2")
    return _with_recall(marked, ANN_K, target, F.col("dist").asc())


# ---------------------------------------------------------------------------
# Index persistence — one layout for every fitted structure, ONE
# implementation: plans/_util.fitted_family generates the fit-memo /
# save / load / attach quartet for each family (see the factory calls
# at each family's definition site). Every save writes a directory of
# named parquet sub-tables, the corpus-sized table partitioned by its
# probe predicate when one exists (FAISS's IVF layout as parquet);
# loads restore the FITTED schema; attach is fingerprint- and
# param-checked (stale/mismatched -> ValueError) and primes the
# session cache under exactly the keys the *_for memo computes, so a
# fresh serving session never refits. All fits are deterministic, so
# save -> load is result-identical to the session artifact — pinned
# per family by the roundtrip tests in tests/test_operators.py.
# Reference analog: the spill-file contract (common.go:36-43) —
# intermediate artifacts durable on the shared FS, re-readable by
# later jobs without refitting.
# ---------------------------------------------------------------------------


# --- semantic dedup (SemDeDup-style: cluster, then dedup inside cells) ------

# Within-cell cosine threshold. The driver corpus has no planted dups
# (q88's note), so 0.35 — the same bar q88 uses — keeps the operator's
# removal path exercised (a few percent of vectors) without degenerating
# to keep-everything or drop-everything.
SEMDEDUP_TAU = 0.35
# Straggler-cell cap: a cell whose population exceeds this is refined
# with the q86 sign-LSH sub-bucket (N_SUB_PLANES planes → 4-way split),
# bounding the within-cell quadratic under cell skew. Cells at or below
# the cap keep sub = 0, so their results are bit-identical to the
# uncapped rule. Replayed verbatim by the oracle, so either mode is
# value-checked cross-engine.
SEMDEDUP_CELL_CAP = 256
# Build-side row gate for the pair join: broadcast the lower-id side
# while the whole assignment fits a comfortable broadcast (~150 MB at
# DIM=64 doubles), else fall back to the (cluster, sub)-keyed shuffle
# join — by the time a corpus outgrows the broadcast, k has grown with
# it (cells stay capped), so the equi-join has the key cardinality the
# broadcast existed to compensate for.
SEMDEDUP_BROADCAST_MAX_ROWS = 250_000


def semantic_dedup_df(
    assign: DataFrame,
    tau: float = SEMDEDUP_TAU,
    cell_cap: int = SEMDEDUP_CELL_CAP,
    broadcast_max_rows: int = SEMDEDUP_BROADCAST_MAX_ROWS,
    assign_rows: int | None = None,
) -> DataFrame:
    """q164's core over an (vec_id, cluster, embedding) assignment
    table: GREEDY-BY-ID semantic dedup inside each cluster — a vector
    is ``dup`` iff an EARLIER (lower-id) vector of the same cluster
    (and, in a straggler cell, the same sign-LSH sub-bucket) sits
    within cosine ``tau``; else ``kept``. For dups, the strongest
    earlier match is reported (ties → lowest id).

    Greedy ε-ball pruning, not transitive closure: SemDeDup's rule
    (keep one representative per ε-ball, chosen by a fixed order), the
    standard curation semantics for embedding-space dedup — q148 is
    the closure-based pipeline for text. Greedy is one self-join + one
    aggregate; closure would add the iterative CC on top for little
    curation benefit at ε this tight.

    Pair-expansion shape, both scale regimes IN CODE:

    - **Skew bound.** Cells above ``cell_cap`` are sub-bucketed by the
      q86 sign-LSH planes (the per-cell count is a broadcast k-row
      aggregate), so the quadratic is Σ|cell∩sub|² — one skewed cell
      can never revert the join to ~all-pairs. cos ≈ 1 pairs share
      hyperplane signs with high probability, so near-dups survive the
      split; sub = 0 below the cap keeps small cells exact.
    - **Size-gated build side.** The lower-id side broadcasts while
      the assignment's row count (one driver-side scalar probe over
      the already-checkpointed lists) is at most
      ``broadcast_max_rows`` — at small corpus sizes the k-valued
      cluster key would cap a shuffle join's parallelism at k tasks,
      serializing the quadratic, and the broadcast rescues it. Past
      the gate the join runs (cluster, sub)-keyed with NO broadcast
      hint: a multi-GB forced broadcast would OOM executors, and at
      that scale k (growing with the corpus at capped cell size)
      supplies the join parallelism instead.

    Vector NORMS are computed once per VECTOR before the join
    (sqrt(Σx²) — the identical expression a per-pair cosine would
    evaluate, so the quotient is bit-equal to the oracle's per-pair
    form while the higher-order-function work per pair drops 3× to the
    dot product alone). Both modes are plan-pinned
    (tests/test_plan_shapes.py) and oracle-green on every fixture.
    """
    from ..sources.io import fan_out

    counts = assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("_n"))
    sub = capped_sub_col("_n", "embedding", cell_cap)
    # size gate: one cheap count over the checkpointed assignment (a
    # documented driver-side scalar probe, like graph.py's convergence
    # aggregates). NOTE this count runs EAGERLY at DataFrame-
    # construction time — callers that build the plan repeatedly for
    # one index should pass ``assign_rows`` (q164 memoizes it per
    # source fingerprint via _assign_count_for, so explain-only /
    # plan-shape paths pay the job once per session+source).
    will_broadcast = (
        assign.count() if assign_rows is None else assign_rows
    ) <= broadcast_max_rows
    # fan_out BEFORE the per-pair math, broadcast mode only: the
    # checkpointed assignment is a handful of partitions and the
    # broadcast join inherits the stream side's parallelism; in shuffle
    # mode the (cluster, sub) exchange already redistributes, so the
    # round-robin spread would be a wasted extra shuffle.
    spread = fan_out(assign) if will_broadcast else assign
    base = spread.join(F.broadcast(counts), "cluster").select(
        "vec_id",
        "cluster",
        "embedding",
        sub.alias("sub"),
        F.expr(_norm("embedding")).alias("nrm"),
    )
    a = base.select(
        F.col("vec_id").alias("m_id"),
        F.col("cluster").alias("a_cluster"),
        F.col("sub").alias("a_sub"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    sim = F.expr(_cos("a_emb", "embedding", "a_nrm", "nrm"))
    # above the gate the policy is AUTHORITATIVE: force the
    # (cluster, sub)-keyed sort-merge join rather than leaving the
    # strategy to the planner's size estimate — estimates are routinely
    # wrong after filters/checkpoints (guide §3.1), and an
    # auto-broadcast of a corpus-sized build side is exactly the OOM
    # this gate exists to prevent (SMJ spills gracefully; cells are
    # capped so no single key dominates a sort)
    build = F.broadcast(a) if will_broadcast else a.hint("merge")
    pairs = (
        base.join(
            build,
            (F.col("a_cluster") == F.col("cluster"))
            & (F.col("a_sub") == F.col("sub")),
        )
        .where(F.col("m_id") < F.col("vec_id"))
        .select("vec_id", "m_id", sim.alias("cs"))
        .where(F.col("cs") >= tau)
    )
    best = pairs.groupBy("vec_id").agg(
        F.max_by(
            "m_id", F.struct(F.col("cs"), (-F.col("m_id")).alias("nm"))
        ).alias("match_vec_id"),
        F.max("cs").alias("cs"),
    )
    return (
        assign.select("vec_id", "cluster")
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("match_vec_id").isNotNull(), F.lit("dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            "match_vec_id",
            F.round("cs", 4).alias("cos_sim"),
        )
        .orderBy("vec_id")
    )


@register(
    "q164_semantic_dedup",
    oracle=f"""
    WITH {_ivf_codebook_sql()},
    sims AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {cosine_sql('e.embedding', 'c.cv')} AS sim
      FROM embeddings e, cent c
    ),
    assign AS (
      SELECT vec_id, embedding, cid AS cluster
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cid) AS rn
            FROM sims)
      WHERE rn = 1
    ),
    ccounts AS (SELECT cluster, count(*) AS n FROM assign GROUP BY cluster),
    blocked AS (
      SELECT a.vec_id, a.embedding, a.cluster,
             {capped_sub_sql('c.n', 'a.embedding', SEMDEDUP_CELL_CAP)} AS sub
      FROM assign a JOIN ccounts c ON a.cluster = c.cluster
    ),
    pairs AS (
      SELECT b.vec_id AS vec_id, a.vec_id AS m_id,
             {cosine_sql('a.embedding', 'b.embedding')} AS cs
      FROM blocked a JOIN blocked b
        ON a.cluster = b.cluster AND a.sub = b.sub AND a.vec_id < b.vec_id
      WHERE {cosine_sql('a.embedding', 'b.embedding')} >= {SEMDEDUP_TAU}
    ),
    best AS (
      SELECT vec_id, m_id AS match_vec_id, cs FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cs DESC, m_id) AS rn
        FROM pairs)
      WHERE rn = 1
    )
    SELECT s.vec_id, s.cluster,
           CASE WHEN b.vec_id IS NOT NULL THEN 'dup' ELSE 'kept' END AS status,
           b.match_vec_id, round(b.cs, 4) AS cos_sim
    FROM assign s LEFT JOIN best b ON b.vec_id = s.vec_id
    ORDER BY s.vec_id
    """,
    tags=("dedup", "embedding", "clustering", "training-pipeline"),
)
def q164_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, public): embed
    → cluster → dedup inside each cluster only. The fitted IVF
    assignment (:func:`ivf_index_for` — memoized, attachable) IS the
    clustering, so the expensive step is shared with q68/q155 and
    costs nothing extra here; the within-cell pass marks each vector
    ``dup``/``kept`` by the greedy ε-ball rule (see
    :func:`semantic_dedup_df`).

    Scale shape: the only quadratic is WITHIN a cell — Σ|cell∩sub|²,
    bounded by the codebook's cell balance (q155's in-band contract)
    AND, in code, by :data:`SEMDEDUP_CELL_CAP`: straggler cells
    sub-bucket by q86's sign-LSH split, which preserves near-dups
    with high probability since cos ≈ 1 pairs share hyperplane signs
    (at 100 TB also raise k so cells sit at ~10⁴-10⁵ vectors). The
    pair join's build side is size-gated
    (:data:`SEMDEDUP_BROADCAST_MAX_ROWS`): broadcast while the
    assignment is comfortably small, (cluster, sub)-keyed shuffle
    join past it — see :func:`semantic_dedup_df`. Assignment is one
    broadcast-codebook pass; the greedy rule is embarrassingly
    parallel per cell; no global structure is ever shuffled. The
    oracle replays codebook, cells, sub-buckets, and the greedy rule
    CTE-for-CTE, so the whole chain — fit included — is value-checked
    cross-engine."""
    cent, assign = ivf_index_for(spark, sf_dir)
    return semantic_dedup_df(
        assign, assign_rows=_assign_count_for(spark, sf_dir, assign)
    )


def _assign_count_for(spark: SparkSession, sf_dir: str, assign: DataFrame) -> int:
    """Memoized row count of the fitted IVF assignment — piggybacked on
    the index artifact's fingerprint so q164's size gate costs one job
    per (session, source), not one per DataFrame construction (the
    assignment is checkpointed, so the job is cheap, but explain-only
    and plan-shape paths shouldn't pay even that repeatedly)."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    cache = _session_cache(spark)
    key = ("ivf_assign_count",) + source_fingerprint(src)
    n = cache.get(key)
    if n is None:
        n = assign.count()
        _cache_put(cache, key, n)
    return n


# --- q175: index freshness — increments assign to a standing codebook ------

# ~90% of vectors are the STANDING corpus (the snapshot the codebook
# was fitted on); the rest arrive later as the INCREMENT. 4-hex md5
# threshold, the q46/q167 split discipline.
Q175_STANDING_HEX = "e666"
# Measured in-band recall@5 for the pinned query: 1.0 / 0.8 / 0.8 at
# sf0.001 / 0.01 / 0.1 — the stale-codebook penalty is invisible at a
# 10% increment (centroids barely move). Target one notch under the
# weakest measurement, the q68 calibration discipline; a codebook that
# stops seeing the standing corpus (wrong split, broken fit) collapses
# it and fails loudly. At sf0.1 an increment vector lands in the
# pinned query's top-5 (is_new=true in the result), demonstrating
# reachability-without-refit in the checked output itself.
Q175_RECALL_TARGET = 0.6


def _standing_key() -> Column:
    """The standing/increment split key: first 4 hex chars of
    md5('ing1:' || vec_id) — replayed verbatim by the oracle."""
    return F.substring(
        F.md5(F.concat(F.lit("ing1:"), F.col("vec_id").cast("string"))), 1, 4
    )


# The boundary a REFRESHED standing index stamps: lexicographically
# above every 4-hex md5 prefix ('f' < 'g'), so the increment carve
# `NOT (key < boundary)` is provably empty — the q188 discipline
# applied to the ANN family ('ffff' would leave 'ffff'-keyed vectors
# double-assigned against lists that already hold them).
IVF_REFRESHED_HEX = "g000"


def _standing_family(kind: str, tables: list[tuple], body, **params):
    """ONE lifecycle for the three standing quantized indexes (IVF
    q175/q177/q207, IVFADC q211–q213, flat PQ q214–q216).
    ``body(spark, sf_dir, hex_b)`` fits every table on the valid
    vectors whose split key sorts below ``hex_b``:

    - the session memo (``*_for``, hence save and the serves) is the
      body at :data:`Q175_STANDING_HEX` with its last, corpus-sized
      table pinned by an eager localCheckpoint — many plans read it;
    - the refresh — the retrain q177/q212/q215's alarms call for — is
      the SAME body at :data:`IVF_REFRESHED_HEX` (everything standing,
      zero pending increments), written straight from the plan (its
      one consumer) through the family writer with the moved boundary
      stamped. It never reads the memo, whose cache key carries no
      boundary.

    ``standing_hex`` is the one mutable param, read back by the serves
    through :func:`standing_hex`; ``params`` are the layout contracts
    attach refuses to move. Returns (family, refresh)."""

    def memo_fit(spark: SparkSession, sf_dir: str) -> tuple:
        *head, corpus = body(spark, sf_dir, Q175_STANDING_HEX)
        return (*head, corpus.localCheckpoint(eager=True))

    family = fitted_family(
        kind,
        "embeddings.parquet",
        tables,
        memo_fit,
        params={"standing_hex": Q175_STANDING_HEX, **params},
        mutable=("standing_hex",),
    )

    def refresh(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
        family.write(
            sf_dir, out_dir, body(spark, sf_dir, IVF_REFRESHED_HEX),
            standing_hex=IVF_REFRESHED_HEX,
        )

    refresh.__name__ = refresh.__qualname__ = f"{kind}_index_refresh"
    return family, refresh


def _ivf_standing_fit(
    spark: SparkSession, sf_dir: str, hex_b: str
) -> tuple[DataFrame, DataFrame]:
    """The STANDING-corpus IVF index fit: (cent, lists) with the
    codebook fitted on — and the inverted lists covering — only the
    valid vectors below the boundary ``hex_b``. This is the maintained
    artifact of the index-freshness pattern (q175/q176): a periodic
    offline job refits it; BETWEEN refits, serving sessions attach it
    and pay only increment assignment (one broadcast-argmax over the
    new vectors) plus probed-cell reads — FAISS's train()-then-add()
    split with the trained index as a persisted table. Same gate
    (valid_embeddings), same codebook fit, same assignment pass as the
    full-corpus IVF family — only the fit population differs. The
    lists stay map-shaped; the one clustering shuffle happens at write
    time (the _ivf_fit note)."""
    standing = valid_embeddings(tw(spark, sf_dir, "embeddings")).where(
        _standing_key() < hex_b
    )
    cent = ivf_codebook(standing)
    return (cent, _assign_to_codebook(standing, _with_cnorm(cent)))


# Standing-corpus IVF lifecycle — the NINTH persisted family. Same
# layout as the full-corpus IVF index (coarse + lists partitioned by
# cluster, so probed-cell serves prune files); k and iters are the
# immutable contracts.
ivf_standing_family, ivf_standing_index_refresh = _standing_family(
    "ivf_standing",
    [
        ("coarse", ["cid", "cv"], None),
        ("lists", ["vec_id", "label", "cluster", "embedding"], "cluster"),
    ],
    _ivf_standing_fit,
    k=N_IVF_CENTROIDS,
    iters=N_KMEANS_ITERS,
)
(
    ivf_standing_index_for,
    ivf_standing_index_save,
    ivf_standing_index_load,
    ivf_standing_index_attach,
) = ivf_standing_family


def _q175_oracle(standing_pred: str | None = None) -> str:
    """q175's full serve chain. ``standing_pred`` overrides the
    standing carve — q207 passes ``'TRUE'`` (a refreshed index covers
    everything; the increment is empty and is_new false throughout)."""
    if standing_pred is None:
        standing_pred = (
            "substr(md5('ing1:' || CAST(vec_id AS VARCHAR)), 1, 4) "
            f"< '{Q175_STANDING_HEX}'"
        )
    return f"""
    WITH ev AS (SELECT * FROM {EMB_VALID_SQL} AS v),
    standing AS (SELECT * FROM ev WHERE {standing_pred}),
    {_ivf_codebook_sql(src='standing')},
    sims AS (
      SELECT e.vec_id, e.label, e.embedding, c.cid,
             (NOT ({standing_pred})) AS is_new,
             {cosine_sql('e.embedding', 'c.cv')} AS sim
      FROM ev e, cent c
    ),
    lists AS (
      SELECT vec_id, label, embedding, cid AS cluster, is_new
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cid) AS rn
            FROM sims)
      WHERE rn = 1
    ),
    probe AS (
      SELECT cid FROM sims WHERE vec_id = {QUERY_VEC_ID}
      ORDER BY sim DESC, cid LIMIT {N_PROBE}
    ),
    q AS (SELECT embedding AS qv FROM ev WHERE vec_id = {QUERY_VEC_ID}),
    hits AS (
      SELECT a.vec_id, a.label, a.cluster, a.is_new,
             {cosine_sql('a.embedding', 'qv')} AS cs
      FROM lists a JOIN probe p ON a.cluster = p.cid, q
      WHERE a.vec_id != {QUERY_VEC_ID}
      ORDER BY cs DESC, a.vec_id
      LIMIT {ANN_K}
    ),
    {_exact_topk_sql(ANN_K, src='ev')},
    marked AS (
      SELECT h.vec_id, h.label, h.cluster, h.is_new, h.cs,
             (e.vec_id IS NOT NULL) AS in_exact_topk
      FROM hits h LEFT JOIN exact e ON h.vec_id = e.vec_id
    ),
    rec AS (
      SELECT CAST(sum(CASE WHEN in_exact_topk THEN 1 ELSE 0 END) AS DOUBLE)
               / {ANN_K} AS recall_at_k
      FROM marked
    )
    SELECT vec_id, label, cluster, is_new, round(cs, 4) AS cos_sim,
           in_exact_topk, recall_at_k,
           (recall_at_k >= {Q175_RECALL_TARGET}) AS recall_ok
    FROM marked, rec
    ORDER BY cs DESC, vec_id
    """


@register(
    "q175_ivf_incremental_serve",
    oracle=_q175_oracle(),
    tags=("similarity", "ivf", "ann", "incremental", "training-pipeline"),
)
def q175_ivf_incremental_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX FRESHNESS: new vectors become searchable WITHOUT a refit —
    the production pattern between periodic retrains (FAISS's add()
    after train(); every vector DB's ingest path).

    The codebook is fitted on the STANDING corpus only (the ~90%
    hash-split snapshot); the increment (~10%, the vectors that
    "arrived since") is assigned to those SAME, now-stale centroids —
    one broadcast-argmax pass over just the increment — and unioned
    into the inverted lists. The pinned query then probes nprobe cells
    of the combined lists; each hit carries ``is_new`` (an increment
    vector surfacing in results proves reachability without refit) and
    the q68-style in-band recall contract vs the exact scan over the
    FULL corpus — the honest measure, since the index answers for data
    its codebook never saw. The oracle refits the standing-only
    codebook CTE-for-CTE (``_ivf_codebook_sql(src='standing')``) and
    replays assignment, probe, and audit.

    Scale shape: the standing index is the MAINTAINED artifact — the
    ninth persisted family (:func:`ivf_standing_index_for`, save/
    attach like every other), fitted once per (session, source
    fingerprint) or attached from disk with no refit. A serve call
    pays only increment assignment (broadcast codebook over just the
    new vectors — no shuffle of either side) plus probed-cell reads
    (the attached lists are cluster-partitioned parquet). Staleness is
    the trade: centroids drift from the true distribution until the
    next refit — which is why the recall audit rides in-band, the
    signal a production pipeline alerts on to trigger retraining.

    Reference analog: none (SURVEY §2.3 extension — the ANN-side twin
    of q161's incremental dedup: increments broadcast, the standing
    corpus never reshuffles)."""
    return _serve_ivf_incr_view(
        spark, sf_dir, ivf_standing_index_for(spark, sf_dir)
    )


def _serve_ivf_incr_view(
    spark: SparkSession, sf_dir: str, art: tuple
) -> DataFrame:
    """Serve q175's view from a standing (cent, lists) artifact:
    assign the increment carve to the broadcast codebook, union into
    the lists, probe/top-k/recall-audit. The increment boundary is the
    ARTIFACT's stamped one (:func:`standing_hex`), so a refreshed
    index (q207) serves an empty increment through this same path —
    shared by q175 and q207."""
    cent, slists = art
    e = valid_embeddings(t(spark, sf_dir, "embeddings"))
    centn = _with_cnorm(cent)
    incr = e.where(~(_standing_key() < standing_hex(cent)))
    lists = slists.withColumn("is_new", F.lit(False)).unionByName(
        _assign_to_codebook(incr, centn).withColumn("is_new", F.lit(True))
    )
    probe = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .crossJoin(F.broadcast(centn))
        .select(
            "cid",
            F.expr(_cos("embedding", "cv", nb="_cn")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "cid")
        .limit(N_PROBE)
        .select("cid")
    )
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    qsim = cosine_col("embedding", "qv")
    hits = (
        lists.join(F.broadcast(probe), lists.cluster == F.col("cid"))
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", "cluster", "is_new", qsim.alias("_sim"))
        .orderBy(F.col("_sim").desc(), "vec_id")
        .limit(ANN_K)
    )
    queries1 = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    marked = _mark_exact_topk(
        hits.withColumn("query_id", F.lit(QUERY_VEC_ID).cast("long")),
        e,
        queries1,
        ANN_K,
    )
    return _with_recall(
        marked, ANN_K, Q175_RECALL_TARGET, F.col("_sim").desc()
    ).select(
        "vec_id", "label", "cluster", "is_new",
        F.round("_sim", 4).alias("cos_sim"),
        "in_exact_topk", "recall_at_k", "recall_ok",
    )


# --- q177: refit-drift audit — WHEN to retrain the standing index ----------

# Churn threshold for the refit recommendation: the fraction of
# standing vectors whose cell assignment would change under a
# full-corpus refit (cells aligned by nearest-centroid matching — the
# cheap proxy for a Hungarian assignment; when the matching is not a
# bijection the metric over-counts, which is the conservative
# direction for an alerting signal). Measured on the fixtures
# (deterministic fits, both engines replay): 0.3297 / 0.2967 / 0.1012
# at sf0.001 / 0.01 / 0.1. At the realistic fixture (sf0.1, 5k
# vectors) a 10% increment barely moves the cells — churn 0.10, serve
# on. The toy fixtures sit ABOVE the threshold: an 8-centroid fit
# over ≤1k vectors is seed-unstable between the standing subset and
# the full corpus (the two fits draw different md5-ordered seed
# rows), and "the standing fit no longer resembles what a refit
# would build" is exactly the condition the audit exists to flag —
# the recommendation bit is True there by design, not by accident.
Q177_CHURN_TAU = 0.25


def _q177_oracle() -> str:
    standing_pred = (
        "substr(md5('ing1:' || CAST(vec_id AS VARCHAR)), 1, 4) "
        f"< '{Q175_STANDING_HEX}'"
    )
    return f"""
    WITH ev AS (SELECT * FROM {EMB_VALID_SQL} AS v),
    standing AS (SELECT * FROM ev WHERE {standing_pred}),
    {_ivf_codebook_sql(src='standing')},
    {_ivf_codebook_sql(src='embeddings', prefix='r')},
    sassign AS (
      SELECT vec_id, cid AS s_cl
      FROM (SELECT s.vec_id, c.cid,
                   row_number() OVER (PARTITION BY s.vec_id
                                      ORDER BY {cosine_sql('s.embedding', 'c.cv')} DESC, c.cid) AS rn
            FROM standing s, cent c)
      WHERE rn = 1
    ),
    rassign AS (
      -- the refit candidate is the q68 family: fitted and assigned
      -- over the RAW table (its scoring NULLs malformed rows out);
      -- the churn join keys on sassign, so only standing∩valid rows
      -- reach the metric in both engines
      SELECT vec_id, cid AS r_cl
      FROM (SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cosine_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
            FROM embeddings e, rcent c)
      WHERE rn = 1
    ),
    pairs AS (
      SELECT s.cid AS s_cid, r.cid AS r_cid,
             {cosine_sql('s.cv', 'r.cv')} AS cs
      FROM cent s, rcent r
    ),
    near_s AS (
      SELECT s_cid, r_cid AS nearest_refit_cid, cs FROM (
        SELECT *, row_number() OVER (PARTITION BY s_cid
                                     ORDER BY cs DESC, r_cid) AS rn
        FROM pairs)
      WHERE rn = 1
    ),
    map_r AS (
      SELECT r_cid, s_cid AS mapped_s FROM (
        SELECT *, row_number() OVER (PARTITION BY r_cid
                                     ORDER BY cs DESC, s_cid) AS rn
        FROM pairs)
      WHERE rn = 1
    ),
    churn AS (
      SELECT round(CAST(sum(CASE WHEN m.mapped_s != s.s_cl THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*), 4) AS churn_frac
      FROM sassign s
      JOIN rassign r ON r.vec_id = s.vec_id
      JOIN map_r m ON m.r_cid = r.r_cl
    ),
    pop AS (SELECT s_cl AS cid, count(*) AS n_standing FROM sassign GROUP BY s_cl)
    SELECT n.s_cid AS cid,
           CAST(coalesce(p.n_standing, 0) AS BIGINT) AS n_standing,
           n.nearest_refit_cid,
           round(1.0 - n.cs, 4) AS centroid_shift,
           c.churn_frac,
           (c.churn_frac >= {Q177_CHURN_TAU}) AS refit_recommended
    FROM near_s n LEFT JOIN pop p ON p.cid = n.s_cid, churn c
    ORDER BY cid
    """


@register(
    "q177_index_refit_drift",
    oracle=_q177_oracle(),
    tags=("similarity", "ivf", "incremental", "monitoring",
          "training-pipeline"),
)
def q177_index_refit_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFIT-DRIFT AUDIT — the alerting signal that closes the index-
    freshness loop: q175/q176 serve increments from a STALE standing
    codebook between retrains; this query measures how stale, and
    recommends (or doesn't) the retrain. Production twin: every vector
    DB / FAISS deployment schedules re-train on exactly these signals
    rather than on a timer.

    Compares the standing index's codebook (the ninth persisted
    family, :func:`ivf_standing_index_for`) against a FULL-corpus
    refit candidate (the q68 family, :func:`ivf_index_for` — shared
    through the same session cache, so the audit costs no new fit
    when both families are already serving). Per standing cell:
    population and centroid shift (1 − cosine to the nearest refit
    centroid — codebooks are aligned by nearest-neighbor matching,
    since independent k-means runs don't share cid semantics). Global,
    on every row: ``churn_frac`` — the fraction of standing vectors
    whose cell would CHANGE under the refit (refit cells mapped back
    to standing cells through the alignment) — and the
    ``refit_recommended`` bit (churn ≥ :data:`Q177_CHURN_TAU`).

    Scale shape: both codebooks are k rows (broadcast everywhere);
    the k×k alignment is trivial; churn is one broadcast-mapped join
    of the two ID-only assignment tables (narrow rows) with a
    partial-aggregable mean — no vector ever reshuffles, and when the
    two families are attached artifacts the audit reads lists that
    already exist. The oracle replays BOTH fits CTE-for-CTE (the
    prefix-namespaced ``_ivf_codebook_sql``), the alignment, and the
    churn join, so the entire drift computation is value-checked
    cross-engine.

    Reference analog: none (SURVEY §2.3 extension — monitoring for
    the q175/q176 freshness lifecycle)."""
    cent_s, slists = ivf_standing_index_for(spark, sf_dir)
    cent_r, rlists = ivf_index_for(spark, sf_dir)
    cs = cent_s.select(F.col("cid").alias("s_cid"), F.col("cv").alias("s_cv"))
    cr = cent_r.select(F.col("cid").alias("r_cid"), F.col("cv").alias("r_cv"))
    pairs = cs.crossJoin(F.broadcast(cr)).select(
        "s_cid", "r_cid", cosine_col("s_cv", "r_cv").alias("cs")
    )
    near_s = pairs.groupBy("s_cid").agg(
        F.max_by(
            "r_cid", F.struct(F.col("cs"), (-F.col("r_cid")).alias("nr"))
        ).alias("nearest_refit_cid"),
        F.max("cs").alias("mcs"),
    )
    map_r = pairs.groupBy("r_cid").agg(
        F.max_by(
            "s_cid", F.struct(F.col("cs"), (-F.col("s_cid")).alias("ns"))
        ).alias("mapped_s")
    )
    sa = slists.select("vec_id", F.col("cluster").alias("s_cl"))
    ra = rlists.select("vec_id", F.col("cluster").alias("r_cl"))
    churn = (
        sa.join(ra, "vec_id")
        .join(F.broadcast(map_r), F.col("r_cl") == F.col("r_cid"))
        .agg(
            F.round(
                F.sum((F.col("mapped_s") != F.col("s_cl")).cast("long")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                4,
            ).alias("churn_frac")
        )
    )
    pop = sa.groupBy("s_cl").agg(F.count(F.lit(1)).alias("n_standing"))
    return (
        near_s.join(pop, near_s.s_cid == pop.s_cl, "left")
        .crossJoin(F.broadcast(churn))
        .select(
            F.col("s_cid").alias("cid"),
            F.coalesce("n_standing", F.lit(0)).cast("long").alias("n_standing"),
            "nearest_refit_cid",
            F.round(F.lit(1.0) - F.col("mcs"), 4).alias("centroid_shift"),
            "churn_frac",
            (F.col("churn_frac") >= Q177_CHURN_TAU).alias("refit_recommended"),
        )
        .orderBy("cid")
    )


# --- q207: the retrain — q177's refit alarm gets its act ---------------------


@register(
    "q207_ivf_refresh_serve",
    oracle=_q175_oracle(standing_pred="TRUE"),
    tags=("similarity", "ivf", "ann", "incremental", "lifecycle",
          "training-pipeline"),
)
def q207_ivf_refresh_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFRESH-THEN-SERVE for the ANN index — closes q177's alarm →
    act loop (the q188 pattern applied to the ninth family): run
    :func:`ivf_standing_index_refresh` (the standing fit at the moved
    boundary — a full-corpus refit — stamped with it), ATTACH the
    refreshed artifact through the ordinary fingerprint+param gate
    (``standing_hex`` is mutable; a doctored ``k``/``iters`` or a
    stale fingerprint still refuses),
    and serve q175's view from it. The serve carves increments at the
    artifact's stamped boundary — provably empty for a refreshed
    index — so the view is the full-corpus IVF serve with
    ``is_new = false`` on every row, exactly what the oracle recomputes
    from scratch (q175's chain with the standing carve = TRUE).

    The session cache entry is restored afterwards (the returned plan
    closes over the attached artifact directly), so running q207 can
    never poison a later q175/q176/q177 call whose oracle models the
    STALE boundary.

    Scale shape: the refresh is the one-shot retrain the alarm gates
    (one codebook k-means over the corpus + one assignment pass, the
    lists written straight from the plan); the attach+serve after it
    is q175's ordinary probed-cell cost with an EMPTY increment scan.

    Reference analog: none (SURVEY §2.3 maintenance block — the
    retrain half of the index-freshness lifecycle)."""
    return refresh_then_serve(
        spark, sf_dir, ivf_standing_family,
        refresh_fn=ivf_standing_index_refresh,
        serve_fn=_serve_ivf_incr_view,
    )


# --- q211/q212/q213: the IVFADC index-freshness lifecycle -------------------
# The q175/q177/q207 template applied to the PRODUCTION-grADE index
# (q160's composed Jégou IVFADC): a STANDING artifact fitted on the
# corpus snapshot, an incremental-add serve that residual-PQ-encodes
# arrivals against the standing codebooks (FAISS's add() after
# train()), a per-subspace codebook-drift audit that says WHEN to
# retrain, and the refresh-then-serve act the alarm gates. Same
# standing/increment hash carve as the IVF family (one corpus
# snapshot boundary across index families).
# ---------------------------------------------------------------------------

# MEASURED calibration: pinned-query recall@5 under the STANDING
# IVFADC artifact (codebooks fitted on the ~90% standing carve, all
# vectors encoded against them) is 1.0 / 0.8 / 0.6 at
# sf0.001/0.01/0.1 — at a 10% increment the stale-codebook penalty is
# invisible (and the standing fit happens to probe better than the
# full fit's 0.8/0.6/0.4 on these fixtures). Floor one notch under
# the weakest measurement, the q68/q160/q175 discipline; a broken
# encode (wrong residual space, mis-joined codes) collapses it to ~0.
Q211_RECALL_TARGET = 0.4


def _ivfadc_standing_fit(
    spark: SparkSession, sf_dir: str, hex_b: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The STANDING-corpus IVFADC fit: (coarse_cent, pq_cent, codes)
    with every learned structure fitted on — and the codes covering —
    only the valid vectors below ``hex_b``. The residual PQ codebooks
    and codes are fitted over the standing lists exactly as
    :func:`_ivfadc_fit` does over the full corpus."""
    # at the standing boundary the coarse half IS the ninth family's
    # memo (one fit serves q175/q176/q207 and this family); any other
    # boundary (the refresh) fits it here — that memo's key carries no
    # boundary, so reading it would return the stale standing lists
    cent, lists = (
        ivf_standing_index_for(spark, sf_dir)
        if hex_b == Q175_STANDING_HEX
        else _ivf_standing_fit(spark, sf_dir, hex_b)
    )
    resid = _ivfadc_residuals(lists, cent).localCheckpoint(eager=True)
    pcent = pq_codebooks(resid.select("vec_id", "embedding"))
    # map-shaped wide codes; the one clustering shuffle happens at
    # write time (the _ivfadc_fit note)
    return (cent, pcent, _ivfadc_codes(resid, pcent))


# Standing-corpus IVFADC lifecycle — the FIFTEENTH persisted family.
# Same layout as the full-corpus IVFADC index (coarse + per-subspace
# PQ codebooks + codes partitioned by cluster, so probed-cell serves
# prune files); k_coarse/n_sub/k_pq are the immutable contracts.
ivfadc_standing_family, ivfadc_standing_index_refresh = _standing_family(
    "ivfadc_standing",
    [
        ("coarse", ["cid", "cv"], None),
        ("pq", ["sub", "cid", "cv"], None),
        ("codes", ["vec_id", "cluster", "codes"], "cluster"),
    ],
    _ivfadc_standing_fit,
    k_coarse=N_IVF_CENTROIDS,
    n_sub=N_SUB,
    k_pq=K_PQ,
)
(
    ivfadc_standing_index_for,
    ivfadc_standing_index_save,
    ivfadc_standing_index_load,
    ivfadc_standing_index_attach,
) = ivfadc_standing_family


def _q211_oracle(standing_pred: str | None = None) -> str:
    """q211's full serve chain: standing-fitted codebooks (coarse CTE
    over the standing carve, PQ fit sampled from STANDING residuals
    only via ``fit_src``), ALL valid vectors encoded against them,
    then q160's probe/ADC/shortlist/rerank/audit chain verbatim.
    ``standing_pred`` overrides the carve — q213 passes ``'TRUE'`` (a
    refreshed index covers everything; is_new false throughout)."""
    if standing_pred is None:
        standing_pred = (
            "substr(md5('ing1:' || CAST(vec_id AS VARCHAR)), 1, 4) "
            f"< '{Q175_STANDING_HEX}'"
        )
    qr_expr = (
        f"list_transform(range(1, {DIM} + 1), "
        f"i -> CAST(q.embedding[i] AS DOUBLE) - c.cv[i])"
    )
    return _materialize_shared_ctes(f"""
    WITH ev AS (SELECT * FROM {EMB_VALID_SQL} AS v),
    standing AS (SELECT * FROM ev WHERE {standing_pred}),
    {_ivf_codebook_sql(src='standing')},
    csims AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {cosine_sql('e.embedding', 'c.cv')} AS sim
      FROM ev e, cent c
    ),
    cassign AS (
      SELECT vec_id, embedding, cid AS cluster
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cid) AS rn
            FROM csims)
      WHERE rn = 1
    ),
    resid AS (
      SELECT a.vec_id, a.cluster,
             list_transform(range(1, {DIM} + 1),
                            i -> CAST(a.embedding[i] AS DOUBLE) - c.cv[i]) AS embedding
      FROM cassign a JOIN cent c ON c.cid = a.cluster
    ),
    resid_s AS (SELECT * FROM resid WHERE {standing_pred}),
    {_pq_codebook_sql(src="resid", fit_src="resid_s")},
    codes AS (
      SELECT s.vec_id, r.cluster, s.sub, s.code FROM (
        SELECT vec_id, sub, cid AS code FROM (
          SELECT v.vec_id, v.sub, c.cid,
                 row_number() OVER (PARTITION BY v.vec_id, v.sub
                                    ORDER BY {_l2_sql('v.sv', 'c.cv')} ASC, c.cid) AS rn
          FROM subv v JOIN pcent c ON v.sub = c.sub)
        WHERE rn = 1) s
      JOIN resid r ON r.vec_id = s.vec_id
    ),
    probe AS (
      SELECT cid FROM csims WHERE vec_id = {QUERY_VEC_ID}
      ORDER BY sim DESC, cid LIMIT {N_PROBE}
    ),
    qres AS (
      SELECT c.cid AS pcell, {qr_expr} AS qr
      FROM cent c JOIN probe p ON c.cid = p.cid,
           (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
    ),
    qsub AS (
      SELECT pcell, sub,
             list_transform(range(1, {SUB_DIM} + 1), i -> qr[sub * {SUB_DIM} + i]) AS qsv
      FROM qres, subs
    ),
    lut AS (
      SELECT q.pcell, q.sub, c.cid, {_l2_sql('c.cv', 'q.qsv')} AS qd
      FROM pcent c JOIN qsub q ON c.sub = q.sub
    ),
    scored AS (
      SELECT k.vec_id, k.cluster, round(sum(l.qd), 6) AS approx_dist
      FROM codes k JOIN lut l
        ON l.pcell = k.cluster AND l.sub = k.sub AND l.cid = k.code
      WHERE k.vec_id != {QUERY_VEC_ID}
      GROUP BY 1, 2
    ),
    shortlist AS (
      SELECT vec_id, cluster, approx_dist FROM scored
      ORDER BY approx_dist ASC, vec_id LIMIT {PQ_SHORTLIST}
    ),
    qfull AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    ),
    rerank AS (
      SELECT s.vec_id, s.cluster, s.approx_dist,
             round({_l2_sql('list_transform(e.embedding, x -> CAST(x AS DOUBLE))', 'qv', DIM)}, 6) AS dist
      FROM shortlist s JOIN embeddings e ON e.vec_id = s.vec_id, qfull
    ),
    hits AS (
      SELECT vec_id, cluster, (NOT ({standing_pred})) AS is_new,
             approx_dist, dist
      FROM rerank
      ORDER BY dist ASC, vec_id LIMIT {ANN_K}
    ),
    exact AS (
      SELECT vec_id
      FROM (SELECT vec_id,
                   {_l2_sql('list_transform(embedding, x -> CAST(x AS DOUBLE))', 'qv', DIM)} AS ed
            FROM embeddings, qfull WHERE vec_id != {QUERY_VEC_ID})
      ORDER BY ed ASC, vec_id LIMIT {ANN_K}
    ),
    marked AS (
      SELECT h.vec_id, h.cluster, h.is_new, h.approx_dist, h.dist,
             (e.vec_id IS NOT NULL) AS in_exact_topk
      FROM hits h LEFT JOIN exact e ON h.vec_id = e.vec_id
    ),
    rec AS (
      SELECT CAST(sum(CASE WHEN in_exact_topk THEN 1 ELSE 0 END) AS DOUBLE)
               / {ANN_K} AS recall_at_k
      FROM marked
    )
    SELECT vec_id, cluster, is_new, approx_dist, dist, in_exact_topk,
           recall_at_k, (recall_at_k >= {Q211_RECALL_TARGET}) AS recall_ok
    FROM marked, rec
    ORDER BY dist ASC, vec_id
    """)


@register(
    "q211_ivfadc_incremental_serve",
    oracle=_q211_oracle(),
    tags=("similarity", "ann", "ivf", "quantization", "incremental",
          "training-pipeline"),
)
def q211_ivfadc_incremental_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC INDEX FRESHNESS — new vectors become searchable WITHOUT
    a refit, on the production-grade index: FAISS's ``add()`` for a
    trained IVFADC. The coarse codebook, residual PQ codebooks, and
    standing codes are the FIFTEENTH persisted family
    (:func:`ivfadc_standing_index_for`, fitted on the ~90% standing
    hash carve); the increment (~10%, "arrived since") is assigned to
    the standing coarse cells (one broadcast argmax over just the new
    vectors), residual-PQ-ENCODED against the standing per-subspace
    codebooks (one broadcast join + partial argmin — the codebooks
    never refit), and unioned into the codes table. The pinned query
    then runs q160's full serving chain (probe → ADC over probed
    cells' codes → shortlist → exact rerank) over the combined codes,
    each hit carrying ``is_new`` and the in-band L2 recall contract
    vs the exact scan over the FULL corpus — the honest measure,
    since the index answers for data its codebooks never saw.

    Scale shape: increment encode cost is increment-rows × (k_coarse
    + N_SUB × K_PQ broadcast lookups) — nothing standing ever
    reshuffles or re-encodes; the serve is q160's probed-cell ADC.
    Staleness (codebooks drift from the true distribution) is the
    trade — q212 is the audit that measures it, q213 the retrain act.

    Reference analog: none (SURVEY §2.3 extension — the IVFADC twin
    of q175's incremental ANN serve)."""
    cent, pcent, codes = ivfadc_standing_index_for(spark, sf_dir)
    return _serve_ivfadc_incr_view(spark, sf_dir, (cent, pcent, codes))


def _serve_ivfadc_incr_view(
    spark: SparkSession, sf_dir: str, art: tuple
) -> DataFrame:
    """Serve q211's view from a standing (cent, pcent, codes)
    artifact: residual-PQ-encode the increment carve against the
    broadcast codebooks, union into the codes, run q160's serve tail
    (:func:`_ivfadc_serve`), mark is_new. The increment boundary is the
    ARTIFACT's stamped one (:func:`standing_hex`), so a refreshed index
    (q213) serves an empty increment through this same path — shared
    by q211 and q213."""
    cent, pcent, codes_s = art
    e = t(spark, sf_dir, "embeddings")
    is_new = ~(_standing_key() < F.lit(standing_hex(cent)))
    # FAISS add(): coarse-assign the increment, residual-encode it
    # against the STANDING PQ codebooks — the index never refits
    inc_resid = _ivfadc_residuals(
        _assign_to_codebook(valid_embeddings(e).where(is_new), _with_cnorm(cent)),
        cent,
    )
    combined = codes_s.unionByName(_ivfadc_codes(inc_resid, pcent))
    # is_new is a pure function of vec_id (the hash carve), so it marks
    # on the OUTPUT — no flag threads through the serve
    return _ivfadc_serve(e, cent, pcent, combined, Q211_RECALL_TARGET).select(
        "vec_id", "cluster", is_new.alias("is_new"), "approx_dist", "dist",
        "in_exact_topk", "recall_at_k", "recall_ok",
    )


# --- q212: per-subspace codebook-drift audit — WHEN to retrain IVFADC -------

# Churn threshold for the retrain recommendation: the fraction of
# standing (vec_id, sub) code assignments that would CHANGE under a
# full-corpus refit, with refit codewords mapped back to standing
# codewords by nearest-L2 matching per subspace (q177's alignment
# generalized to the per-subspace PQ codebooks; non-bijective
# matchings over-count — the conservative direction for an alert).
# MEASURED on the fixtures (deterministic fits, both engines replay):
# 0.4294 / 0.4242 / 0.3789 at sf0.001/0.01/0.1 — PQ code churn runs
# structurally higher than q177's coarse-cell churn (32 codewords per
# subspace vs 8 cells: finer partitions flip more easily), and the
# toy fixtures sit ABOVE the threshold for q177's reason (a
# 32-codeword Lloyd over ≤1k sampled residuals is seed-unstable
# between the standing subset and the full corpus — exactly the
# condition the audit flags). At the realistic fixture (sf0.1) the
# refit barely moves the codebooks — churn 0.38, serve on.
Q212_CODE_CHURN_TAU = 0.40


def _q212_oracle() -> str:
    standing_pred = (
        "substr(md5('ing1:' || CAST(vec_id AS VARCHAR)), 1, 4) "
        f"< '{Q175_STANDING_HEX}'"
    )
    resid_expr = (
        f"list_transform(range(1, {DIM} + 1), "
        f"i -> CAST(a.embedding[i] AS DOUBLE) - c.cv[i])"
    )
    return _materialize_shared_ctes(f"""
    WITH ev AS (SELECT * FROM {EMB_VALID_SQL} AS v),
    standing AS (SELECT * FROM ev WHERE {standing_pred}),
    {_ivf_codebook_sql(src='standing', prefix='s')},
    sassign AS (
      SELECT vec_id, embedding, cid AS cluster
      FROM (SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cosine_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
            FROM standing e, scent c)
      WHERE rn = 1
    ),
    sresid AS (
      SELECT a.vec_id, a.cluster, {resid_expr} AS embedding
      FROM sassign a JOIN scent c ON c.cid = a.cluster
    ),
    {_pq_codebook_sql(src='sresid', prefix='s')},
    s_codes AS (
      SELECT vec_id, sub, cid AS code FROM (
        SELECT v.vec_id, v.sub, c.cid,
               row_number() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY {_l2_sql('v.sv', 'c.cv')} ASC, c.cid) AS rn
        FROM ssubv v JOIN spcent c ON v.sub = c.sub)
      WHERE rn = 1
    ),
    {_ivf_codebook_sql(src='embeddings', prefix='r')},
    rassign AS (
      SELECT vec_id, embedding, cid AS cluster
      FROM (SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cosine_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
            FROM ev e, rcent c)
      WHERE rn = 1
    ),
    rresid AS (
      SELECT a.vec_id, a.cluster, {resid_expr} AS embedding
      FROM rassign a JOIN rcent c ON c.cid = a.cluster
    ),
    {_pq_codebook_sql(src='rresid', prefix='r')},
    r_codes AS (
      SELECT vec_id, sub, cid AS code FROM (
        SELECT v.vec_id, v.sub, c.cid,
               row_number() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY {_l2_sql('v.sv', 'c.cv')} ASC, c.cid) AS rn
        FROM rsubv v JOIN rpcent c ON v.sub = c.sub)
      WHERE rn = 1
    ),
    pairs AS (
      SELECT s.sub, s.cid AS s_cid, r.cid AS r_cid,
             {_l2_sql('s.cv', 'r.cv')} AS d
      FROM spcent s JOIN rpcent r ON s.sub = r.sub
    ),
    near_s AS (
      SELECT sub, s_cid, r_cid AS nearest_refit_cid, d FROM (
        SELECT *, row_number() OVER (PARTITION BY sub, s_cid
                                     ORDER BY d ASC, r_cid) AS rn
        FROM pairs)
      WHERE rn = 1
    ),
    map_r AS (
      SELECT sub, r_cid, s_cid AS mapped_s FROM (
        SELECT *, row_number() OVER (PARTITION BY sub, r_cid
                                     ORDER BY d ASC, s_cid) AS rn
        FROM pairs)
      WHERE rn = 1
    ),
    churn AS (
      SELECT round(CAST(sum(CASE WHEN m.mapped_s != s.code THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*), 4) AS code_churn_frac
      FROM s_codes s
      JOIN r_codes r ON r.vec_id = s.vec_id AND r.sub = s.sub
      JOIN map_r m ON m.sub = r.sub AND m.r_cid = r.code
    ),
    pop AS (
      SELECT sub, code AS cid, count(*) AS n_codes FROM s_codes GROUP BY 1, 2
    )
    SELECT n.sub, n.s_cid AS cid,
           CAST(coalesce(p.n_codes, 0) AS BIGINT) AS n_codes,
           n.nearest_refit_cid,
           round(n.d, 6) AS centroid_shift,
           c.code_churn_frac,
           (c.code_churn_frac >= {Q212_CODE_CHURN_TAU}) AS retrain_recommended
    FROM near_s n LEFT JOIN pop p ON p.sub = n.sub AND p.cid = n.s_cid, churn c
    ORDER BY n.sub, n.s_cid
    """)


@register(
    "q212_ivfadc_codebook_drift",
    oracle=_q212_oracle(),
    tags=("similarity", "ann", "quantization", "incremental", "monitoring",
          "training-pipeline"),
)
def q212_ivfadc_codebook_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SUBSPACE CODEBOOK-DRIFT AUDIT — the alerting signal that
    closes the IVFADC freshness loop: q211 encodes increments against
    STALE standing codebooks between retrains; this query measures how
    stale, and recommends (or doesn't) the retrain. q177's alignment
    audit generalized to the per-subspace PQ codebooks.

    Compares the standing family's PQ codebooks
    (:func:`ivfadc_standing_index_for`) against the FULL-corpus refit
    candidate (the q160 family, :func:`ivfadc_index_for` — shared
    through the same session cache, so the audit costs no new fit
    when both families are already serving). Per (sub, standing
    codeword): population (how many standing codes use it) and
    ``centroid_shift`` (L2 distance to the nearest refit codeword in
    the same subspace — codebooks aligned by nearest-neighbor
    matching, since independent Lloyd runs don't share cid
    semantics). Global, on every row: ``code_churn_frac`` — the
    fraction of standing (vec_id, sub) code assignments that would
    CHANGE under the refit (refit codewords mapped back through the
    alignment) — and the ``retrain_recommended`` bit (churn ≥
    :data:`Q212_CODE_CHURN_TAU`). Note the two codebooks live in
    residual spaces of DIFFERENT coarse codebooks (standing vs full
    refit) — that coarse drift flowing into the residuals is part of
    what the audit measures, exactly as q177's refit candidate moves
    the cells it compares against.

    Scale shape: both codebook sets are N_SUB × K_PQ rows (broadcast
    everywhere); the per-subspace alignment is K_PQ × K_PQ; churn is
    one broadcast-mapped join of the two (vec_id, sub, code) tables
    (narrow rows) with a partial-aggregable mean — no vector ever
    reshuffles, and when the two families are attached artifacts the
    audit reads codes that already exist. The oracle replays BOTH
    fits CTE-for-CTE (prefix-namespaced coarse + PQ codebook CTEs),
    the alignment, and the churn join.

    Reference analog: none (SURVEY §2.3 extension — monitoring for
    the q211 freshness lifecycle)."""
    _cent_s, pcent_s, codes_s = ivfadc_standing_index_for(spark, sf_dir)
    _cent_r, pcent_r, codes_r = ivfadc_index_for(spark, sf_dir)
    return _pq_codebook_drift(
        pcent_s, codes_s, pcent_r, codes_r, Q212_CODE_CHURN_TAU
    )


def _pq_codebook_drift(
    pcent_s: DataFrame,
    codes_s: DataFrame,
    pcent_r: DataFrame,
    codes_r: DataFrame,
    tau: float,
) -> DataFrame:
    """The per-subspace codebook-drift audit shared by q212 (IVFADC's
    residual codebooks) and q215 (flat PQ): align the standing
    codebooks ``pcent_s`` to the refit candidate ``pcent_r`` by
    nearest L2 per subspace, count how often a standing code would
    change under the refit (``codes_s`` vs ``codes_r``, refit codewords
    mapped back through the alignment), and flag the retrain at churn
    ≥ ``tau``. One row per (sub, standing codeword)."""
    sp = pcent_s.select(
        "sub", F.col("cid").alias("s_cid"), F.col("cv").alias("s_cv")
    )
    rp = pcent_r.select(
        "sub", F.col("cid").alias("r_cid"), F.col("cv").alias("r_cv")
    )
    pairs = sp.join(F.broadcast(rp), "sub").select(
        "sub", "s_cid", "r_cid",
        F.expr(_l2("s_cv", "r_cv")).alias("d"),
    )
    near_s = pairs.groupBy("sub", "s_cid").agg(
        F.min_by("r_cid", F.struct(F.col("d"), F.col("r_cid"))).alias(
            "nearest_refit_cid"
        ),
        F.min("d").alias("_mind"),
    )
    map_r = pairs.groupBy("sub", "r_cid").agg(
        F.min_by("s_cid", F.struct(F.col("d"), F.col("s_cid"))).alias(
            "mapped_s"
        )
    )
    # wide-codes churn (r18): ONE corpus-row join on vec_id instead of
    # the N_SUB× (vec_id, sub) narrow-row shuffle, and the alignment
    # map collapses to an in-row array (_map[sub+1][r_cid+1] =
    # mapped_s) — per joined row the N_SUB compares run in-row, so the
    # exchange volume drops N_SUB× and the broadcast-map join
    # disappears. Arithmetic identical to the oracle's (vec_id, sub)
    # replay: sum over subs of mismatches / (rows × N_SUB).
    # ONE global aggregation (the _pq_cells_row note); _renest checks
    # the (sub, r_cid) grid is dense before slicing it
    mrow = map_r.agg(
        F.sort_array(
            F.collect_list(
                F.struct("sub", F.col("r_cid").alias("cid"), "mapped_s")
            )
        ).alias("_f")
    ).select(F.expr(_renest("_f", "f.mapped_s")).alias("_map"))
    sc = codes_s.select("vec_id", F.col("codes").alias("s_codes"))
    rc = codes_r.select("vec_id", F.col("codes").alias("r_codes"))
    mism = F.expr(_CODE_MISMATCHES)
    churn = (
        sc.join(rc, "vec_id")
        .crossJoin(F.broadcast(mrow))
        .agg(
            F.round(
                F.sum(mism).cast("double")
                / (F.count(F.lit(1)) * F.lit(N_SUB)),
                4,
            ).alias("code_churn_frac")
        )
    )
    pop = (
        codes_s.select(F.posexplode("codes").alias("sub", "p_code"))
        .groupBy("sub", F.col("p_code").alias("p_cid"))
        .agg(F.count(F.lit(1)).alias("n_codes"))
    )
    return (
        near_s.join(
            pop,
            (near_s.sub == pop.sub) & (near_s.s_cid == pop.p_cid),
            "left",
        )
        .select(
            # the oracle's range(N_SUB) is BIGINT; posexplode yields INT
            near_s.sub.cast("long").alias("sub"),
            F.col("s_cid").alias("cid"),
            F.coalesce("n_codes", F.lit(0)).cast("long").alias("n_codes"),
            "nearest_refit_cid",
            F.round(F.col("_mind"), 6).alias("centroid_shift"),
        )
        .crossJoin(F.broadcast(churn))
        .withColumn("retrain_recommended", F.col("code_churn_frac") >= tau)
        .orderBy("sub", "cid")
    )


# --- q213: the retrain — q212's alarm gets its act ---------------------------


@register(
    "q213_ivfadc_refresh_serve",
    oracle=_q211_oracle(standing_pred="TRUE"),
    tags=("similarity", "ann", "quantization", "incremental", "lifecycle",
          "training-pipeline"),
)
def q213_ivfadc_refresh_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFRESH-THEN-SERVE for the production index — closes q212's
    alarm → act loop (the q188/q207 pattern applied to the fifteenth
    family): run :func:`ivfadc_standing_index_refresh` (the standing
    fit at the moved boundary — a full-corpus refit of coarse + PQ +
    codes — stamped with it), ATTACH the
    refreshed artifact through the ordinary fingerprint+param gate
    (``standing_hex`` is mutable; a doctored ``k_pq``/``n_sub`` or a
    stale fingerprint still refuses), and serve q211's view from it.
    The serve carves increments at the artifact's stamped boundary —
    provably empty for a refreshed index — so the view is the
    full-corpus IVFADC serve with ``is_new = false`` on every row,
    exactly what the oracle recomputes from scratch (q211's chain
    with the standing carve = TRUE).

    The session cache entry is restored afterwards (the returned plan
    closes over the attached artifact directly), so running q213 can
    never poison a later q211/q212 call whose oracle models the STALE
    boundary.

    Scale shape: the refresh is the one-shot retrain the alarm gates
    (one coarse k-means + one assignment pass + the sample-bounded
    residual PQ fit + one codes pass, written straight from the plan);
    the attach+serve after it is q160's ordinary probed-cell ADC cost
    with an EMPTY increment encode.

    Reference analog: none (SURVEY §2.3 maintenance block — the
    retrain half of the production-index lifecycle)."""
    return refresh_then_serve(
        spark, sf_dir, ivfadc_standing_family,
        refresh_fn=ivfadc_standing_index_refresh,
        serve_fn=_serve_ivfadc_incr_view,
    )


# --- q214/q215/q216: the flat-PQ index-freshness lifecycle ------------------
# The q175/q177/q207 template applied to the LAST fit-once index
# family: q157's flat PQ (codes-only ADC shortlist + exact rerank).
# A STANDING artifact fitted on the corpus snapshot, an
# incremental-add serve that PQ-encodes arrivals against the standing
# per-subspace codebooks (FAISS's add() on a trained flat PQ), a
# codebook-drift audit that says WHEN to retrain, and the
# refresh-then-serve act the alarm gates. Same standing/increment
# hash carve as the IVF and IVFADC families — ONE corpus-snapshot
# boundary across every index family.
# ---------------------------------------------------------------------------

# MEASURED calibration: pinned-query recall@5 under the STANDING flat
# PQ (codebooks fitted on the ~90% standing carve, all vectors
# encoded against them) — see the q214 docstring for the per-SF
# numbers; floored one notch under the weakest measurement, the
# q68/q157/q211 discipline. A broken encode (wrong subspace split,
# mis-joined codes) collapses it to ~0.
Q214_RECALL_TARGET = 0.6


def _pq_standing_fit(
    spark: SparkSession, sf_dir: str, hex_b: str
) -> tuple[DataFrame, DataFrame]:
    """The STANDING-corpus flat-PQ fit: (codebooks, codes) with the
    per-subspace codebooks fitted on — and the codes covering — only
    the valid vectors below ``hex_b``. Same gate (valid_embeddings),
    same sample-bounded Lloyd, same encode pass as the full-corpus
    family (:func:`_pq_fit`) — only the fit population differs."""
    def standing(e: DataFrame) -> DataFrame:
        return valid_embeddings(e).where(_standing_key() < hex_b)

    cent = pq_codebooks(standing(t(spark, sf_dir, "embeddings")))
    # REBALANCE — the _pq_fit note: AQE sizes the codes, pinned or written
    codes = _pq_encode(standing(tw(spark, sf_dir, "embeddings")), cent)
    return (cent, codes.hint("rebalance"))


# Standing-corpus flat-PQ lifecycle — the SIXTEENTH persisted family.
# Same layout as the full-corpus PQ index (codes deliberately
# unpartitioned: flat ADC scans every code, there is no probe
# predicate to prune on); n_sub/k_pq are the immutable contracts.
pq_standing_family, pq_standing_index_refresh = _standing_family(
    "pq_standing",
    [
        ("pq", ["sub", "cid", "cv"], None),
        ("codes", ["vec_id", "codes"], None),
    ],
    _pq_standing_fit,
    n_sub=N_SUB,
    k_pq=K_PQ,
)
(
    pq_standing_index_for,
    pq_standing_index_save,
    pq_standing_index_load,
    pq_standing_index_attach,
) = pq_standing_family


def _q214_oracle(standing_pred: str | None = None) -> str:
    """q214's full serve chain: standing-fitted per-subspace codebooks
    (sample-fit chain over the standing carve via ``fit_src``), ALL
    valid vectors encoded against them, then q157's ADC shortlist /
    exact-rerank / audit chain verbatim. ``standing_pred`` overrides
    the carve — q216 passes ``'TRUE'`` (a refreshed index covers
    everything; is_new false throughout)."""
    if standing_pred is None:
        standing_pred = (
            "substr(md5('ing1:' || CAST(vec_id AS VARCHAR)), 1, 4) "
            f"< '{Q175_STANDING_HEX}'"
        )
    return _materialize_shared_ctes(f"""
    WITH ev AS (SELECT * FROM {EMB_VALID_SQL} AS v),
    standing AS (SELECT * FROM ev WHERE {standing_pred}),
    {_pq_codebook_sql(src='ev', fit_src='standing')},
    codes AS (
      SELECT vec_id, sub, cluster FROM (
        SELECT v.vec_id, v.sub, c.cid AS cluster,
               row_number() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY {_l2_sql('v.sv', 'c.cv')} ASC, c.cid) AS rn
        FROM subv v JOIN pcent c ON v.sub = c.sub)
      WHERE rn = 1
    ),
    qsub AS (SELECT sub, sv AS qv FROM subv WHERE vec_id = {QUERY_VEC_ID}),
    lut AS (
      SELECT c.sub, c.cid, {_l2_sql('c.cv', 'q.qv')} AS qd
      FROM pcent c JOIN qsub q ON c.sub = q.sub
    ),
    scored AS (
      SELECT k.vec_id, round(sum(l.qd), 6) AS approx_dist
      FROM codes k JOIN lut l ON k.sub = l.sub AND k.cluster = l.cid
      WHERE k.vec_id != {QUERY_VEC_ID}
      GROUP BY k.vec_id
    ),
    shortlist AS (
      SELECT vec_id, approx_dist FROM scored
      ORDER BY approx_dist ASC, vec_id LIMIT {PQ_SHORTLIST}
    ),
    qfull AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    ),
    rerank AS (
      SELECT s.vec_id, s.approx_dist,
             round({_l2_sql('list_transform(e.embedding, x -> CAST(x AS DOUBLE))', 'qv', DIM)}, 6) AS dist
      FROM shortlist s JOIN embeddings e ON e.vec_id = s.vec_id, qfull
    ),
    hits AS (
      SELECT vec_id, (NOT ({standing_pred})) AS is_new, approx_dist, dist
      FROM rerank
      ORDER BY dist ASC, vec_id LIMIT {ANN_K}
    ),
    exact AS (
      SELECT vec_id
      FROM (SELECT vec_id,
                   {_l2_sql('list_transform(embedding, x -> CAST(x AS DOUBLE))', 'qv', DIM)} AS ed
            FROM embeddings, qfull WHERE vec_id != {QUERY_VEC_ID})
      ORDER BY ed ASC, vec_id LIMIT {ANN_K}
    ),
    marked AS (
      SELECT h.vec_id, h.is_new, h.approx_dist, h.dist,
             (e.vec_id IS NOT NULL) AS in_exact_topk
      FROM hits h LEFT JOIN exact e ON h.vec_id = e.vec_id
    ),
    rec AS (
      SELECT CAST(sum(CASE WHEN in_exact_topk THEN 1 ELSE 0 END) AS DOUBLE)
               / {ANN_K} AS recall_at_k
      FROM marked
    )
    SELECT vec_id, is_new, approx_dist, dist, in_exact_topk,
           recall_at_k, (recall_at_k >= {Q214_RECALL_TARGET}) AS recall_ok
    FROM marked, rec
    ORDER BY dist ASC, vec_id
    """)


@register(
    "q214_pq_incremental_serve",
    oracle=_q214_oracle(),
    tags=("similarity", "ann", "quantization", "incremental",
          "training-pipeline"),
)
def q214_pq_incremental_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAT-PQ INDEX FRESHNESS — new vectors become searchable WITHOUT
    a refit: FAISS's ``add()`` for a trained flat PQ. The per-subspace
    codebooks and standing codes are the SIXTEENTH persisted family
    (:func:`pq_standing_index_for`, fitted on the ~90% standing hash
    carve); the increment (~10%, "arrived since") is PQ-ENCODED
    against the standing codebooks (one broadcast join + partial
    argmin — the codebooks never refit) and unioned into the codes
    table. The pinned query then runs q157's full serving chain (ADC
    shortlist over the combined codes → exact rerank → top-k), each
    hit carrying ``is_new`` and the in-band L2 recall contract vs the
    exact scan over the FULL corpus — the honest measure, since the
    index answers for data its codebooks never saw.

    MEASURED recall@5 under the standing fit: 1.0 / 1.0 / 0.8 at
    sf0.001 / 0.01 / 0.1 — the stale-codebook penalty is invisible at
    a 10% increment (the shortlist-then-rerank chain absorbs code
    noise, q157's own observation), and at sf0.1 an increment vector
    lands in the pinned query's top-5 (``is_new = true`` in the
    checked output — reachability-without-refit demonstrated in the
    result itself); target one notch under the weakest,
    :data:`Q214_RECALL_TARGET`.

    Scale shape: increment encode cost is increment-rows × N_SUB ×
    K_PQ broadcast lookups — nothing standing ever re-encodes; the
    serve is q157's codes-only ADC. Staleness (codebooks drift from
    the true distribution) is the trade — q215 is the audit that
    measures it, q216 the retrain act.

    Reference analog: none (SURVEY §2.3 extension — the flat-PQ twin
    of q175's incremental ANN serve)."""
    cent, codes = pq_standing_index_for(spark, sf_dir)
    return _serve_pq_incr_view(spark, sf_dir, (cent, codes))


def _serve_pq_incr_view(
    spark: SparkSession, sf_dir: str, art: tuple
) -> DataFrame:
    """Serve q214's view from a standing (cent, codes) artifact:
    PQ-encode the increment carve against the broadcast codebooks,
    union into the codes, run q157's serve chain (:func:`_pq_serve`),
    mark is_new. The increment boundary is the ARTIFACT's stamped one
    (:func:`standing_hex`), so a refreshed index (q216) serves an
    empty increment through this same path — shared by q214 and
    q216."""
    cent, codes_s = art
    e = t(spark, sf_dir, "embeddings")
    is_new = ~(_standing_key() < F.lit(standing_hex(cent)))
    combined = codes_s.unionByName(
        _pq_encode(valid_embeddings(e).where(is_new), cent)
    )
    # is_new is a pure function of vec_id (the hash carve), so it marks
    # on the OUTPUT — no flag threads through the serve
    return _pq_serve(e, cent, combined, Q214_RECALL_TARGET).select(
        "vec_id", is_new.alias("is_new"), "approx_dist", "dist",
        "in_exact_topk", "recall_at_k", "recall_ok",
    )


# --- q215: per-subspace codebook-drift audit — WHEN to retrain flat PQ ------

# Churn threshold for the retrain recommendation: the fraction of
# standing (vec_id, sub) code assignments that would CHANGE under a
# full-corpus refit, with refit codewords mapped back to standing
# codewords by nearest-L2 matching per subspace (q212's alignment on
# the flat-PQ family; non-bijective matchings over-count — the
# conservative direction for an alert). MEASURED on the fixtures
# (deterministic fits, both engines replay): 0.189 / 0.2014 / 0.3092
# at sf0.001 / 0.01 / 0.1 — structurally LOWER than q212's IVFADC
# churn (no coarse-residual indirection: both fits see the same raw
# subvectors, so only sample membership differs), and RISING with
# corpus size (once the corpus outgrows PQ_FIT_SAMPLE, the capped
# standing and full fit samples diverge in membership and the seeds
# move). Threshold between the two regimes: the toy fixtures stay
# quiet, the realistic fixture fires — the drift class this audit
# exists to catch, with q216 as the gated response.
Q215_CODE_CHURN_TAU = 0.25


def _q215_oracle() -> str:
    standing_pred = (
        "substr(md5('ing1:' || CAST(vec_id AS VARCHAR)), 1, 4) "
        f"< '{Q175_STANDING_HEX}'"
    )
    return _materialize_shared_ctes(f"""
    WITH ev AS (SELECT * FROM {EMB_VALID_SQL} AS v),
    standing AS (SELECT * FROM ev WHERE {standing_pred}),
    {_pq_codebook_sql(src='standing', prefix='s')},
    s_codes AS (
      SELECT vec_id, sub, cid AS code FROM (
        SELECT v.vec_id, v.sub, c.cid,
               row_number() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY {_l2_sql('v.sv', 'c.cv')} ASC, c.cid) AS rn
        FROM ssubv v JOIN spcent c ON v.sub = c.sub)
      WHERE rn = 1
    ),
    {_pq_codebook_sql(src='ev', prefix='r')},
    r_codes AS (
      SELECT vec_id, sub, cid AS code FROM (
        SELECT v.vec_id, v.sub, c.cid,
               row_number() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY {_l2_sql('v.sv', 'c.cv')} ASC, c.cid) AS rn
        FROM rsubv v JOIN rpcent c ON v.sub = c.sub)
      WHERE rn = 1
    ),
    pairs AS (
      SELECT s.sub, s.cid AS s_cid, r.cid AS r_cid,
             {_l2_sql('s.cv', 'r.cv')} AS d
      FROM spcent s JOIN rpcent r ON s.sub = r.sub
    ),
    near_s AS (
      SELECT sub, s_cid, r_cid AS nearest_refit_cid, d FROM (
        SELECT *, row_number() OVER (PARTITION BY sub, s_cid
                                     ORDER BY d ASC, r_cid) AS rn
        FROM pairs)
      WHERE rn = 1
    ),
    map_r AS (
      SELECT sub, r_cid, s_cid AS mapped_s FROM (
        SELECT *, row_number() OVER (PARTITION BY sub, r_cid
                                     ORDER BY d ASC, s_cid) AS rn
        FROM pairs)
      WHERE rn = 1
    ),
    churn AS (
      SELECT round(CAST(sum(CASE WHEN m.mapped_s != s.code THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*), 4) AS code_churn_frac
      FROM s_codes s
      JOIN r_codes r ON r.vec_id = s.vec_id AND r.sub = s.sub
      JOIN map_r m ON m.sub = r.sub AND m.r_cid = r.code
    ),
    pop AS (
      SELECT sub, code AS cid, count(*) AS n_codes FROM s_codes GROUP BY 1, 2
    )
    SELECT n.sub, n.s_cid AS cid,
           CAST(coalesce(p.n_codes, 0) AS BIGINT) AS n_codes,
           n.nearest_refit_cid,
           round(n.d, 6) AS centroid_shift,
           c.code_churn_frac,
           (c.code_churn_frac >= {Q215_CODE_CHURN_TAU}) AS retrain_recommended
    FROM near_s n LEFT JOIN pop p ON p.sub = n.sub AND p.cid = n.s_cid, churn c
    ORDER BY n.sub, n.s_cid
    """)


@register(
    "q215_pq_codebook_drift",
    oracle=_q215_oracle(),
    tags=("similarity", "ann", "quantization", "incremental", "monitoring",
          "training-pipeline"),
)
def q215_pq_codebook_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SUBSPACE CODEBOOK-DRIFT AUDIT for the flat-PQ family — the
    alerting signal that closes its freshness loop: q214 encodes
    increments against STALE standing codebooks between retrains; this
    query measures how stale, and recommends (or doesn't) the retrain.
    q212's audit on the flat family — simpler, because both codebook
    sets live in the SAME space (raw subvectors; no coarse-residual
    indirection).

    Compares the standing family's codebooks
    (:func:`pq_standing_index_for`) against the FULL-corpus refit
    candidate (the q157 family, :func:`pq_index_for` — shared through
    the same session cache, so the audit costs no new fit when both
    families are already serving). Per (sub, standing codeword):
    population and ``centroid_shift`` (L2 to the nearest refit
    codeword in the same subspace, nearest-neighbor alignment — cid
    semantics aren't shared across independent Lloyd runs). Global,
    on every row: ``code_churn_frac`` — the fraction of standing
    (vec_id, sub) assignments that would CHANGE under the refit
    (refit codewords mapped back through the alignment) — and the
    ``retrain_recommended`` bit (churn ≥ :data:`Q215_CODE_CHURN_TAU`).

    MEASURED churn on the fixtures: 0.189 / 0.2014 / 0.3092 at
    sf0.001 / 0.01 / 0.1 — lower than q212's IVFADC numbers (both
    fits see the same raw subvectors here, so only fit-sample
    membership differs) and rising with corpus size: once the corpus
    outgrows PQ_FIT_SAMPLE, the capped standing and full samples
    diverge in membership and the seed set moves. The threshold sits
    between the two regimes — quiet at the toy fixtures, firing at
    sf0.1, where q216 is the gated act.

    Scale shape: both codebook sets are N_SUB × K_PQ rows (broadcast
    everywhere); the per-subspace alignment is K_PQ × K_PQ; churn is
    one broadcast-mapped join of the two (vec_id, sub, code) tables
    (narrow rows) with a partial-aggregable mean — no vector ever
    reshuffles, and when the two families are attached artifacts the
    audit reads codes that already exist. The oracle replays BOTH
    fits CTE-for-CTE (prefix-namespaced codebook CTEs), the
    alignment, and the churn join.

    Reference analog: none (SURVEY §2.3 extension — monitoring for
    the q214 freshness lifecycle)."""
    cent_s, codes_s = pq_standing_index_for(spark, sf_dir)
    cent_r, codes_r = pq_index_for(spark, sf_dir)
    return _pq_codebook_drift(
        cent_s, codes_s, cent_r, codes_r, Q215_CODE_CHURN_TAU
    )


# --- q216: the retrain — q215's alarm gets its act ---------------------------


@register(
    "q216_pq_refresh_serve",
    oracle=_q214_oracle(standing_pred="TRUE"),
    tags=("similarity", "ann", "quantization", "incremental", "lifecycle",
          "training-pipeline"),
)
def q216_pq_refresh_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFRESH-THEN-SERVE for the flat-PQ index — closes q215's alarm
    → act loop (the q188/q207/q213 pattern applied to the sixteenth
    family): run :func:`pq_standing_index_refresh` (the standing fit
    at the moved boundary — a full-corpus refit of codebooks + codes —
    stamped with it), ATTACH the
    refreshed artifact through the ordinary fingerprint+param gate
    (``standing_hex`` is mutable; a doctored ``k_pq``/``n_sub`` or a
    stale fingerprint still refuses), and serve q214's view from it.
    The serve carves increments at the artifact's stamped boundary —
    provably empty for a refreshed index — so the view is the
    full-corpus flat-PQ serve with ``is_new = false`` on every row,
    exactly what the oracle recomputes from scratch (q214's chain
    with the standing carve = TRUE).

    The session cache entry is restored afterwards (the returned plan
    closes over the attached artifact directly), so running q216 can
    never poison a later q214/q215 call whose oracle models the STALE
    boundary.

    Scale shape: the refresh is the one-shot retrain the alarm gates
    (one sample-bounded Lloyd + one encode pass over the corpus, the
    cheapest of the index retrains); the attach+serve after it is
    q157's ordinary codes-only ADC cost with an EMPTY increment
    encode.

    Reference analog: none (SURVEY §2.3 maintenance block — the
    retrain half of the flat-PQ lifecycle)."""
    return refresh_then_serve(
        spark, sf_dir, pq_standing_family,
        refresh_fn=pq_standing_index_refresh,
        serve_fn=_serve_pq_incr_view,
    )
