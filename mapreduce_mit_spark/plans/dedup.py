"""Deduplication operators over ``documents``.

The four standard training-data dedup strategies, each Spark-first and
(where the math is deterministic) DuckDB-oracle-checked:

- exact dedup: hash-groupBy on normalized content (one shuffle on the
  hash — this is how you dedup 100 TB: the shuffle key is 32 bytes/doc,
  not the document).
- MinHash + LSH banding: shingle → minhash signature → band keys →
  bucket self-join. Candidate generation cost is O(docs × bands), never
  O(docs²). md5-based min-hash for cross-engine parity (swap xxhash64
  at scale — see functions/hashing.py).
- n-gram Jaccard: exact pairwise verification via an exploded
  token-join (the verify stage you run AFTER LSH narrows candidates;
  scoped to a doc_id window here to stay bounded).
- SimHash: 32-bit near-dup fingerprint via per-bit weighted votes.

The synthetic corpus has few/no true duplicates — empty candidate sets
are valid output; tests/test_operators.py injects synthetic dups to prove
recall.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import minhash_cols, minhash_sql_exprs, norm_text_col, norm_text_sql
from ..functions.textfns import tokens_col, tokens_sql
from ..registry import register
from ._util import fitted_family, t, tw

N_HASHES = 12
BAND_SIZE = 3
N_BANDS = N_HASHES // BAND_SIZE

# q148 runs its exact-dedup pre-pass only when distinct contents are
# below this fraction of the corpus (i.e. exact-dup mass > 2%): below
# breakeven the pre-pass machinery costs more than the LSH/verify work
# it saves (measured: 2× at sf0.1 on an all-distinct corpus). The
# probe is an HLL estimate over the raw text at rsd 0.02 — the
# estimate's σ equals the 2% margin, which is fine because the regimes
# the probe separates sit many σ from the threshold and a borderline
# corpus mis-routes into a near-breakeven path (see the probe comment
# in _dedup_pipeline).
DEDUP_PREPASS_DISTINCT_RATIO = 0.98


@register(
    "q80_exact_dedup",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, md5({norm_text_sql('text')}) AS content_hash FROM documents
    )
    SELECT content_hash,
           min(doc_id) AS keeper_doc_id,
           count(*)    AS n_copies
    FROM hashed
    GROUP BY content_hash
    ORDER BY content_hash
    """,
    tags=("dedup", "exact"),
)
def q80_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the lowest doc_id.
    Equivalent to dropDuplicates(content) but keeps group stats."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(norm_text_col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("content_hash")
    )


def token_seq_key_col() -> Column:
    """q148's collapse key as a reusable expression: md5 of the
    CASE-SENSITIVE token sequence (\\x1f-joined — tokens are letter
    runs, so the separator can't occur inside one), with a per-doc
    unique fallback for token-less docs (they must never collapse:
    the fuzzy chain can't link empty token sets, so q148 keeps each
    as a singleton — see the pre-pass comment in _dedup_pipeline).
    Docs equal under this key provably behave identically through
    shingle → minhash → band → Jaccard-verify, which is what makes
    collapsing (q148) or exact-classifying (q163 admission) on it
    invisible to the final survivor set. Contrast q80's norm_text
    key, which case-folds — the right notion for user-facing exact
    dedup, the wrong one for rebuild-equivalence."""
    toks = tokens_col("text")
    return (
        F.when(F.size(toks) >= 1, F.md5(F.concat_ws("\x1f", toks)))
        .otherwise(F.concat(F.lit("tokenless:"), F.col("doc_id").cast("string")))
    )


def token_seq_key_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`token_seq_key_col` (same bytes into md5:
    chr(31) == \\x1f; both token lists are empty-filtered and
    NULL-free, so array_to_string == concat_ws)."""
    toks = tokens_sql(expr)
    return (
        f"CASE WHEN len({toks}) >= 1"
        f" THEN md5(array_to_string({toks}, chr(31)))"
        f" ELSE 'tokenless:' || CAST(doc_id AS VARCHAR) END"
    )


def shingles_col(toks: Column | None = None) -> Column:
    """Word 3-gram shingles from the tokenized text (Spark side).

    Pass a materialized token COLUMN (not the tokenizer expression):
    embedding the split() inside each element_at makes Catalyst
    re-tokenize per shingle — O(n_tokens²) per document (measured 10×
    on q81). minhash_signatures stages tokens in a projection first."""
    toks = tokens_col("text") if toks is None else toks
    # Token-less docs (NULL/empty/punct-only text) emit NO shingles —
    # not the [''] singleton the short-doc branch would produce: a
    # single empty-string shingle would band every empty document in
    # the corpus into one bucket (candidate-pair garbage and a
    # one-reducer skew bomb), and its NULL/'' handling diverges across
    # engines. Token-less docs are NEVER near-dup candidates; exact
    # dedup (q80) is the operator that de-duplicates them.
    return (
        F.when(
            F.size(toks) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2), F.element_at(toks, i + 3)
                ),
            ),
        )
        .when(F.size(toks) >= 1, F.array(F.array_join(toks, " ")))
        .otherwise(F.array().cast("array<string>"))
    )


def shingles_sql() -> str:
    return shingles_over_sql(tokens_sql("text"))


def shingles_over_sql(tk: str) -> str:
    """DuckDB word-3-gram shingles over an arbitrary token-list expr
    (the parameterized core of :func:`shingles_sql`; q158's windowed
    train banding shingles CHUNKS of the token array, not the text)."""
    return f"""CASE WHEN len({tk}) >= 3
        THEN list_transform(range(1, len({tk}) - 1),
                            i -> concat({tk}[i], ' ', {tk}[i+1], ' ', {tk}[i+2]))
        WHEN len({tk}) >= 1 THEN [array_to_string({tk}, ' ')]
        ELSE [] END"""


def _band_key_cols() -> list[Column]:
    return [
        F.md5(F.concat(*[F.col(f"mh{b * BAND_SIZE + r}") for r in range(BAND_SIZE)])).alias(
            f"band{b}"
        )
        for b in range(N_BANDS)
    ]


def minhash_signatures_df(docs: DataFrame) -> DataFrame:
    """doc_id + mh0..mh{N-1} minhash signature columns over an arbitrary
    (doc_id, text, ...) DataFrame — the reusable core of q81/q148 (the
    q148 exact-dedup pre-pass feeds it the distinct-content corpus)."""
    return (
        docs.select("doc_id", tokens_col("text").alias("toks"))
        .select("doc_id", shingles_col(F.col("toks")).alias("shingles"))
        .select("doc_id", *minhash_cols(F.col("shingles"), N_HASHES))
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signatures over the full documents table.

    fan_out (via tw) because minhash is the heaviest per-row compute in
    the catalog; the scan's partition count caps the stage otherwise."""
    return minhash_signatures_df(tw(spark, sf_dir, "documents"))


@register(
    "q81_minhash_lsh",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {shingles_sql()} AS shingles FROM documents
    ),
    sig AS (
      SELECT doc_id, {", ".join(minhash_sql_exprs("shingles", N_HASHES))} FROM sh
    ),
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band_idx, md5(concat(mh{b * BAND_SIZE}, mh{b * BAND_SIZE + 1}, mh{b * BAND_SIZE + 2})) AS band_key FROM sig WHERE mh{b * BAND_SIZE} IS NOT NULL"
          for b in range(N_BANDS)
      )}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "minhash-lsh"),
)
def q81_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding candidate pairs.

    Plan shape: signatures (narrow) → posexplode to (band_idx, band_key)
    → self-join on the band key (shuffle keyed by 32-byte band hash) →
    group to pairs. At 100 TB the join key distributes uniformly (md5),
    so no skew; candidate volume is controlled by band/row tuning
    (12 hashes = 4 bands × 3 rows ⇒ ~jaccard>0.6 pairs surface).
    Self-join pinned to sort-merge for the same reason as
    lsh_candidate_pairs: equal-size sides, pre-explode size estimate."""
    a, b = (lsh_bands_for(spark, sf_dir).alias(x) for x in ("a", "b"))
    return (
        a.join(
            b.hint("merge"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
        .orderBy("doc_a", "doc_b")
    )


def _lsh_bands_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole-corpus LSH BAND TABLE fit — the similarity side's
    ``codebook_for`` discipline applied to dedup: every real dedup
    service stores its minhash signatures/bands as a maintained table
    (recomputing them is the dominant cost of every banding consumer),
    so the band table is built once per (session, source fingerprint)
    via the ``fitted_family`` lifecycle (:func:`lsh_bands_for`) and
    served to q81, q148's direct route, q158's eval side, q159, and
    q161. Deterministic (md5 minhash over the same tokens), so the
    memo is result-invisible; fingerprint keying makes in-place
    testdata regeneration invalidate it. ~4 narrow rows per document
    (band_idx + 32-char key), localCheckpointed eagerly."""
    return _lsh_bands_df(tw(spark, sf_dir, "documents")).localCheckpoint(eager=True)


def _lsh_bands_df(docs: DataFrame) -> DataFrame:
    # Shingle-less docs (NULL/empty/too-short text) have NULL minhashes
    # and therefore NO bands: an empty document is not a near-dup
    # CANDIDATE of every other empty document (at corpus scale that is
    # both wrong and a one-bucket skew bomb). The oracle twin filters
    # identically (_lsh_bands_sql) — without this, DuckDB's NULL-
    # skipping concat() quietly hashes empty signatures to a shared
    # md5('') bucket while Spark's NULL-strict concat drops them.
    return (
        minhash_signatures_df(docs)
        .select(
            "doc_id",
            F.posexplode(F.array(*_band_key_cols())).alias("band_idx", "band_key"),
        )
        .where(F.col("band_key").isNotNull())
    )


# Band-table lifecycle via fitted_family (the dedup side of the
# similarity index families): ``bands`` (doc_id, band_idx, band_key)
# partitioned by band_idx. Banding consumers touch every band, so the
# partitioning buys locality (one band's rows are co-filed for the
# per-band self-join), not pruning; the win of persistence is the fit
# itself — an attached session (q81/q148/q158/q159/q161/q162) serves
# candidates without ever re-tokenizing or re-minhashing the corpus.
lsh_bands_for, lsh_index_save, lsh_index_load, lsh_index_attach = fitted_family(
    "lsh_bands",
    "documents.parquet",
    [("bands", ["doc_id", "band_idx", "band_key"], "band_idx")],
    _lsh_bands_fit,
    params={"n_hashes": N_HASHES, "band_size": BAND_SIZE},
)


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs over the full documents table (see the _df core)."""
    return lsh_candidate_pairs_df(tw(spark, sf_dir, "documents"))


def lsh_candidate_pairs_df(docs: DataFrame, bands: DataFrame | None = None) -> DataFrame:
    """Distinct (doc_a, doc_b) LSH candidate pairs over ``docs``
    — the production candidate generator (one shuffle keyed by the
    32-byte band hash; candidate volume O(docs × bands), never O(n²)).
    Pass ``bands`` to serve the self-join from a precomputed band
    table (``lsh_bands_for``'s memo) instead of re-banding ``docs``.

    The band self-join is pinned to sort-merge (`hint("merge")`): both
    sides are the SAME exploded table, so broadcasting one side is
    never right at scale — but the plan-time size estimate sits below
    the session's broadcast threshold (the estimate comes from the
    parquet scan, before the ×N_BANDS posexplode, and no shuffle sits
    under the join for AQE to re-decide from), and at the 100× study
    scale the resulting forced broadcast build OOM'd the driver. The
    hint makes the always-correct physical choice deterministic."""
    bt = bands if bands is not None else _lsh_bands_df(docs)
    a, b = (bt.alias(x) for x in ("a", "b"))
    return (
        a.join(
            b.hint("merge"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "q82_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({tokens_sql('text')})) AS token
      FROM documents WHERE doc_id < 100
    ),
    sizes AS (
      SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) AS jaccard
    FROM shared
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.8
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "jaccard"),
)
def q82_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard for pairs with jaccard ≥ 0.8 (the
    verification stage after LSH). Set sizes via one aggregate;
    intersections via an exploded equi-join on token — never a
    cartesian product. Scoped to doc_id < 100: at scale this runs on
    LSH candidates only, not all pairs."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_col("text"))).alias("token")
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = toks.alias("a"), toks.alias("b")
    shared = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_shared").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("n_shared"))
    return (
        shared.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


N_SIMHASH_BITS = 32


def _hexval_spark(tok: Column, j: int) -> Column:
    """Value of md5 hex digit ⌊j/4⌋ of a token (Spark side)."""
    ch = F.substring(F.md5(tok), 1 + j // 4, 1)
    return F.instr(F.lit("0123456789abcdef"), ch) - 1


def _bit_sql(j: int) -> str:
    """DuckDB expression for bit j of md5(token) (same construction)."""
    hv = f"(strpos('0123456789abcdef', substr(md5(token), {1 + j // 4}, 1)) - 1)"
    return f"(({hv} >> {j % 4}) & 1)"


@register(
    "q83_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM documents
    ),
    votes AS (
      SELECT doc_id,
             {", ".join(f"sum(CASE WHEN {_bit_sql(j)} = 1 THEN 1 ELSE -1 END) AS s{j}" for j in range(N_SIMHASH_BITS))}
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(N_SIMHASH_BITS))} AS BIGINT)
             AS simhash
    FROM votes
    ORDER BY doc_id
    """,
    tags=("dedup", "simhash"),
)
def q83_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: every token occurrence votes ±1 on
    each bit (bit source = md5 hex nibbles, cross-engine identical);
    fingerprint bit = sign of the vote sum.

    Plan: explode tokens → 32 conditional sums in ONE hash aggregate
    (single shuffle on doc_id) → bit-pack. The banded hamming pairing
    that completes the dedup path is q77_simhash_pairs."""
    return simhash_fingerprints(spark, sf_dir).orderBy("doc_id")


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — the q83 fingerprint computation, unordered.

    The token hash is computed ONCE per token occurrence: the first 8
    md5 hex chars become a 32-bit int in a pre-aggregation projection,
    and each bit vote is a shift of that int — instead of embedding
    ``md5(token)`` in all 32 aggregate expressions and trusting
    codegen subexpression elimination to dedupe it. Bit j is hex
    nibble ⌊j/4⌋ (string position), low bit first within the nibble —
    the identical construction the DuckDB oracle spells per-nibble, so
    fingerprints stay cross-engine bit-identical."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens_col("text")).alias("token")).select(
        "doc_id",
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long").alias("h32"),
    )
    # h32's nibble i (string position, 0-based) sits at bits 4*(7-i);
    # bit j of the fingerprint = bit (4*(7 - j//4) + j%4) of h32.
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h32"), 4 * (7 - j // 4) + j % 4).bitwiseAND(1)
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(N_SIMHASH_BITS)
        ]
    )
    packed = None
    for j in range(N_SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return votes.select("doc_id", packed.cast("long").alias("simhash"))


@register(
    "q84_edit_distance",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE a.p_partkey < 200 AND b.p_partkey < 200
      AND levenshtein(a.p_name, b.p_name) <= 4
    ORDER BY key_a, key_b
    """,
    tags=("dedup", "edit-distance"),
)
def q84_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate pairs, blocked by brand.

    The blocking key turns O(n²) into O(sum of block²) — same shape as
    q86/q88: at 100 TB the block is a cheap signature (brand here;
    simhash band or length bucket for text) and the quadratic work only
    happens inside blocks. Spark and DuckDB share the classic
    levenshtein definition, so values hash-match exactly."""
    p = t(spark, sf_dir, "part").where(F.col("p_partkey") < 200)
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .where(dist <= 4)
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.alias("edit_dist"),
        )
        .orderBy("key_a", "key_b")
    )


def _jaccard_pairs_sql() -> str:
    """The q82 candidate-pair SQL as CTE text (doc_id < 100, j >= 0.8)."""
    return f"""
    toks AS (
      SELECT doc_id, unnest(list_distinct({tokens_sql('text')})) AS token
      FROM documents WHERE doc_id < 100
    ),
    sizes AS (
      SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.8
    )"""


@register(
    "q78_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_jaccard_pairs_sql()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT doc_id FROM documents WHERE doc_id < 100),
    reach(node, r) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    comp AS (SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY node)
    SELECT c.doc_id, c.cluster,
           count(*) OVER (PARTITION BY c.cluster) AS cluster_size,
           (c.doc_id = c.cluster) AS is_keeper
    FROM comp c
    ORDER BY c.doc_id
    """,
    tags=("dedup", "clustering", "iterative"),
)
def q78_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: candidate pairs (q82's token-Jaccard >= 0.8)
    closed into connected components; each doc gets a cluster id (the
    min doc_id reachable) and the cluster representative is flagged.

    This is the step that turns pairwise similarity into actual dedup
    decisions. Spark side: iterative min-label propagation
    (operators/graph.py) — a genuinely non-SQL dataflow (driver-side
    convergence loop over DataFrame rounds); the oracle reproduces it
    with a recursive CTE, so even the iterative operator is value-checked."""
    from ..operators.graph import connected_components

    pairs = q82_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    nodes = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100).select("doc_id")
    comp = connected_components(
        nodes, pairs, node_col="doc_id", src_col="doc_a", dst_col="doc_b",
        shuffle_partitions=8,  # sized to the 100-node probe set
    )
    # cluster sizes via agg + join (q09's skew discipline — no window
    # over an unbounded-cardinality cluster key)
    cmap = comp.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster"))
    sizes = cmap.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cmap.join(sizes, "cluster")
        .withColumn("is_keeper", F.col("doc_id") == F.col("cluster"))
        .select("doc_id", "cluster", "cluster_size", "is_keeper")
        .orderBy("doc_id")
    )

@register(
    "q79_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_jaccard_pairs_sql()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT doc_id FROM documents WHERE doc_id < 100),
    reach(node, r) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    comp AS (SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY node),
    sized AS (
      SELECT doc_id, cluster,
             CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) - 1 AS n_removed
      FROM comp
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars, s.n_removed
    FROM sized s JOIN documents d ON s.doc_id = d.doc_id
    WHERE s.doc_id = s.cluster
    ORDER BY d.doc_id
    """,
    tags=("dedup", "clustering", "iterative", "training-pipeline"),
)
def q79_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEDUPLICATED CORPUS: q78's clusters reduced to one
    representative each (min doc_id), joined back to the documents
    table with a per-survivor count of removed near-duplicates.

    This is the pipeline's actual output artifact — the table the next
    stage trains on. Scale shape: the cluster map is (doc_id, cluster)
    pairs — narrow — and the representative filter is a per-row
    predicate on that map; only surviving ids join back to the corpus
    (an equi-join on doc_id, broadcastable when the survivor set is
    small relative to the corpus)."""
    from ..operators.graph import connected_components

    pairs = q82_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    d = t(spark, sf_dir, "documents")
    nodes = d.where(F.col("doc_id") < 100).select("doc_id")
    comp = connected_components(
        nodes, pairs, node_col="doc_id", src_col="doc_a", dst_col="doc_b",
        shuffle_partitions=8,
    )
    sizes = comp.groupBy("label").agg((F.count(F.lit(1)) - 1).alias("n_removed"))
    survivors = (
        comp.where(F.col("node") == F.col("label"))
        .join(sizes, "label")
        .select(F.col("node").alias("doc_id"), "n_removed")
    )
    return (
        survivors.join(d, "doc_id")
        .select("doc_id", "lang", "source", "n_chars", "n_removed")
        .orderBy("doc_id")
    )


def _simhash_fp_sql() -> str:
    """The q83 fingerprint computation as CTE text (toks/votes/fp)."""
    votes = ", ".join(
        f"sum(CASE WHEN {_bit_sql(j)} = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(N_SIMHASH_BITS)
    )
    packed = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(N_SIMHASH_BITS)
    )
    return f"""
    toks AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM documents
    ),
    votes AS (
      SELECT doc_id, {votes}
      FROM toks GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id, CAST({packed} AS BIGINT) AS simhash FROM votes
    )"""


@register(
    "q77_simhash_pairs",
    oracle=f"""
    WITH {_simhash_fp_sql()},
    bands AS (
      SELECT doc_id, simhash, b AS band, (simhash >> (b * 8)) & 255 AS byte
      FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= 3
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "simhash", "banding"),
)
def q77_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via byte banding — the pairing step that
    completes q83, mirroring how q81 completes minhash signatures.

    Pigeonhole recall guarantee: 4 byte-bands over a 32-bit fingerprint
    means any pair at hamming distance <= 3 shares at least one intact
    band, so the band equi-join (one shuffle on (band, byte), ~1/256
    selectivity per band) finds every such pair without an all-pairs
    product; the exact hamming filter then prunes band collisions."""
    fp = simhash_fingerprints(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.shiftright("simhash", b * 8).bitwiseAND(255) for b in range(4)])
        ).alias("band", "byte"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.where(hamming <= 3)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


def _lsh_bands_sql() -> str:
    """q81's LSH banding as CTE text (sh/sig/bands) over the full corpus.

    Every CTE is emitted ``AS MATERIALIZED``. The hint changes no
    result; it stops DuckDB from inlining the CTE and re-evaluating the
    whole shingle→minhash→band chain once per reference. Oracles
    self-join ``bands`` (q148, q159, q167) or read it from several
    stages (q163); inlined, they ran for minutes (sf0.001, 4 cores:
    q148 232 s → 2.0 s, q163 101 s → 1.3 s). A single-reference
    caller (q158) pays nothing for it."""
    # WHERE mh0 IS NOT NULL: shingle-less docs emit no bands (see
    # _lsh_bands_df — DuckDB concat() would otherwise hash their
    # all-NULL signatures to a shared md5('') bucket)
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(concat(mh{b * BAND_SIZE}, mh{b * BAND_SIZE + 1}, mh{b * BAND_SIZE + 2})) AS band_key "
        f"FROM sig WHERE mh{b * BAND_SIZE} IS NOT NULL"
        for b in range(N_BANDS)
    )
    return f"""
    sh AS MATERIALIZED (
      SELECT doc_id, {shingles_sql()} AS shingles FROM documents
    ),
    sig AS MATERIALIZED (
      SELECT doc_id, {", ".join(minhash_sql_exprs("shingles", N_HASHES))} FROM sh
    ),
    bands AS MATERIALIZED (
      {bands_union}
    )"""


def jaccard_verified_pairs(
    d: DataFrame,
    cand: DataFrame,
    threshold: float = 0.8,
    hot_degree: int = 64,
    salt_fanout: int = 16,
) -> DataFrame:
    """Exact token-Jaccard verification of LSH candidate pairs —
    skew-safe against a BOILERPLATE corpus.

    The shared-token count joins each candidate doc's token set once
    per pair it participates in. On an organic corpus a near-dup doc
    sits in O(1) pairs; a template corpus (the adversary: hundreds of
    near-identical documents, which LSH correctly buckets into one
    clique) puts one doc in thousands of pairs, and an unsalted join on
    doc_a would funnel that doc's entire pair×token expansion through
    ONE reducer.

    Differential salting bounds that: a cheap degree aggregate over the
    candidate pairs finds docs with >= ``hot_degree`` pairs, hot pairs
    get a salt derived from the OTHER doc of the pair (deterministic,
    no rand(): every pair lands in exactly one salt bucket, so counts
    stay exact), and only HOT docs' token sets are replicated
    ``salt_fanout`` ways. A cold corpus pays three cheap joins against
    an empty hot set; the adversarial key is split ``salt_fanout`` ways
    (pinned by
    tests/test_plan_shapes.py::test_dedup_verify_join_survives_boilerplate_corpus).

    The hot-set joins carry NO broadcast hint on purpose: on an organic
    corpus the set is tiny and AQE broadcasts it from runtime stats,
    but under a universal-duplication adversary (the 100× fixture:
    every doc replicated 100 ways) EVERY doc is hot and a forced
    broadcast is an O(corpus) driver build — the 100× study's first
    q148 run died exactly there. Letting AQE decide keeps both regimes
    safe: broadcast when actually small, shuffle when not.

    The second join is keyed (doc_b, token): token already spreads a
    hot doc_b's pairs across its whole vocabulary, so per-key fan-in is
    bounded by the doc's candidate degree — no salt needed there."""
    cand_docs = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    toks = d.join(cand_docs, "doc_id", "left_semi").select(
        "doc_id", F.explode(F.array_distinct(tokens_col("text"))).alias("token")
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))

    hot = (
        cand.groupBy("doc_a")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .where(F.col("_deg") >= hot_degree)
        .select("doc_a")
    )
    cand_s = cand.join(
        hot.withColumn("_hot", F.lit(True)), "doc_a", "left"
    ).withColumn(
        "_salt",
        F.when(
            F.col("_hot").isNotNull(),
            F.pmod(F.xxhash64("doc_b"), F.lit(salt_fanout)).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("_hot")
    ta = toks.select(F.col("doc_id").alias("doc_a"), "token")
    ta_hot = ta.join(hot, "doc_a", "left_semi").select(
        "doc_a",
        "token",
        F.explode(F.sequence(F.lit(0), F.lit(salt_fanout - 1))).alias("_salt"),
    )
    ta_cold = ta.join(hot, "doc_a", "left_anti").withColumn("_salt", F.lit(0))
    tb = toks.select(F.col("doc_id").alias("doc_b"), "token")
    shared = (
        cand_s.join(ta_hot.unionByName(ta_cold), ["doc_a", "_salt"])
        .join(tb, ["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_shared").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_shared")
    )
    return (
        shared.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(jac >= threshold)
        .select("doc_a", "doc_b")
    )


@register(
    "q148_dedup_pipeline",
    oracle=f"""
    WITH RECURSIVE {_lsh_bands_sql()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
    ctoks AS (
      SELECT doc_id, unnest(list_distinct({tokens_sql('text')})) AS token
      FROM documents WHERE doc_id IN (SELECT doc_id FROM cdocs)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM ctoks GROUP BY doc_id),
    shared AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_shared
      FROM cand c
        JOIN ctoks a ON a.doc_id = c.doc_a
        JOIN ctoks b ON b.doc_id = c.doc_b AND b.token = a.token
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT s.doc_a, s.doc_b
      FROM shared s
        JOIN sizes sa ON sa.doc_id = s.doc_a
        JOIN sizes sb ON sb.doc_id = s.doc_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM verified
    ),
    reach(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    comp AS (SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY node),
    sized AS (
      SELECT doc_id, cluster,
             CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) - 1 AS n_removed
      FROM comp
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars, s.n_removed
    FROM sized s JOIN documents d ON s.doc_id = d.doc_id
    WHERE s.doc_id = s.cluster
    ORDER BY d.doc_id
    """,
    tags=("dedup", "clustering", "iterative", "training-pipeline", "end-to-end"),
)
def q148_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup chain, end-to-end over the FULL corpus:
    exact-dedup PRE-PASS (collapse byte-identical token streams, run
    adaptively when the probe finds real dup mass) → MinHash-LSH
    candidates over DISTINCT contents only → exact token-Jaccard
    verification restricted to CANDIDATE PAIRS ONLY → connected
    components → replica re-expansion → one survivor per cluster with
    its removed-dup count.

    The pre-pass is the C4/RefinedWeb discipline: a raw crawl is mostly
    verbatim copies, so minhashing and verifying each copy separately
    multiplies every downstream stage by the duplication factor — the
    100× adversarial fixture (every doc replicated) produced 24.7M
    verified pairs and needed a 48 GiB heap without it; with it the
    same fixture runs in the default 8 g heap at 1.3× the sf0.1 wall
    (SCALING.md round 6). On an ALREADY-DISTINCT corpus the machinery
    costs ~2× the fuzzy chain for zero savings, so one aggregate-only
    probe (count + HLL distinct over the raw text bytes — no tokenize,
    no shuffle; byte distinctness lower-bounds collapsible dup mass)
    routes: dup mass > 2% → pre-pass; else the direct chain — both
    paths provably produce the identical survivor set, so the routing
    never shows in the result.

    The collapse key is md5 of the TOKEN SEQUENCE (not norm_text):
    identical token sequences provably behave identically through
    shingle → minhash → band → Jaccard-verify (identical signatures;
    jaccard 1 with each other; identical similarity to any third doc),
    so collapsing on it cannot change the final survivor set — which is
    why the oracle, which runs the chain with NO pre-pass, stays green.
    A norm_text key would over-collapse: tokenization is case-sensitive
    ("Foo" vs "foo" are different tokens) while norm_text lowercases.

    Scale shape after the pre-pass: the content-key pass shuffles
    32-byte hashes (q80's cost); the replica map is (doc_id, rep_id) —
    narrow; LSH/verify/CC run on distinct contents; re-expansion is one
    equi-join of the narrow map against the rep→cluster labels. No
    stage ever touches all O(n²) pairs — candidates are band-bucketed,
    the verify join (jaccard_verified_pairs) is differentially salted
    so a boilerplate corpus cannot funnel one doc's pair×token
    expansion through one reducer, and the closure runs on the verified
    edge list only. The analog of the reference's final merged artifact
    (master_splitmerge.go:14-51): the table the next stage consumes."""
    return _dedup_pipeline(spark, sf_dir)


def _dedup_pipeline(
    spark: SparkSession, sf_dir: str, force_route: str | None = None
) -> DataFrame:
    """q148's body. ``force_route`` ('prepass' | 'direct' | None) exists
    for the equivalence test that pins the routing-invisibility claim:
    both forced routes must produce the identical survivor table on the
    same corpus. None = route by the dup-mass probe."""
    from ..operators.graph import connected_components
    from ..sources.io import fan_out

    if force_route not in (None, "prepass", "direct"):
        raise ValueError(f"unknown force_route: {force_route!r}")
    d = t(spark, sf_dir, "documents")
    base = fan_out(d)  # spread once; every downstream pass inherits it
    # ---- dup-mass probe: ONE aggregate-only job over the RAW scan —
    # count + HLL distinct of the text BYTES. No tokenize, no md5, no
    # fan_out shuffle, no persist: the aggregate is map-side partial
    # (each scan split ships one HLL sketch), so the probe costs one
    # pass over the column it was going to read anyway (round-6 probe
    # re-tokenized the whole corpus first: ~1.3 s of pure overhead at
    # sf0.1 on the direct route, where the tokenize work is discarded).
    # Byte-identical ⊆ token-identical, so byte distinctness is a
    # LOWER bound on collapsible dup mass: the pre-pass triggers
    # exactly when cheaply-detectable verbatim mass exists (the
    # C4/RefinedWeb crawl regime it exists for); corpora whose dups
    # differ only in non-token bytes route direct — a perf trade only.
    # Routing stays RESULT-INVISIBLE: the pre-pass provably preserves
    # the survivor set (below), so both paths satisfy the same oracle.
    # rsd 0.02: the HLL register array scales as 1/rsd² and its
    # per-row update cost with it — rsd 0.01 measured 0.69 s vs 0.02's
    # 0.37 s at sf0.1 for one extra digit the routing doesn't need.
    # The regimes the probe separates sit many σ from the 2% threshold
    # (raw crawls: tens of percent dup mass; curated corpora: ~0), and
    # a borderline corpus mis-routes into a near-breakeven path anyway
    # — routing is result-invisible, so the noise costs at most a few
    # percent of wall, never correctness.
    if force_route is None:
        stats = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("text", 0.02).alias("nd"),
        ).first()
        prepass = stats["nd"] < stats["n"] * DEDUP_PREPASS_DISTINCT_RATIO
    else:
        prepass = force_route == "prepass"
    if prepass:
        # the collapse key (md5 of the TOKEN sequence — see docstring)
        # is only ever computed on this branch, where its cost is repaid
        # by every downstream stage running on distinct contents only.
        # persist: reps and rep_map both consume it; eager
        # localCheckpoints because reps is consumed by 4 later subplans
        # (both band-join sides, the verify tokenizer, the CC node set)
        # and rep_map AFTER the closure loop — materializing the tiny
        # tables once beats re-running the groupBy per consumer, and
        # lets ck unpersist without a re-tokenize.
        # Token-less docs get a UNIQUE collapse key (their own id): the
        # pre-pass-invisibility proof rests on identical token
        # sequences verifying as jaccard-1 pairs of each other, which
        # fails for EMPTY sequences (0/0 — the fuzzy chain never links
        # them), so collapsing them would remove docs the no-pre-pass
        # oracle keeps. Token-less docs are singletons on every route;
        # q80 is the exact-dedup operator for them.
        ck = base.select("doc_id", token_seq_key_col().alias("_ck")).persist()
        reps = (
            ck.groupBy("_ck")
            .agg(F.min("doc_id").alias("rep_id"))
            .localCheckpoint(eager=True)
        )
        rep_map = (
            ck.join(reps, "_ck")
            .select("doc_id", "rep_id")
            .localCheckpoint(eager=True)
        )
        ck.unpersist()
        docs = base.join(
            reps.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi"
        )
        nodes = reps.select(F.col("rep_id").alias("doc_id"))
    else:
        rep_map = None
        docs = base
        nodes = d.select("doc_id")
    # ---- fuzzy chain (over distinct contents when the pre-pass ran).
    # cand cached: it feeds the doc filter AND the verify join.
    # direct route: serve the band self-join from the memoized
    # whole-corpus band table (docs == the full corpus there); the
    # pre-pass route bands its collapsed representative set fresh
    cand = lsh_candidate_pairs_df(
        docs, bands=None if prepass else lsh_bands_for(spark, sf_dir)
    ).persist()
    verified = jaccard_verified_pairs(docs, cand, threshold=0.8)
    comp = connected_components(
        nodes, verified,
        node_col="doc_id", src_col="doc_a", dst_col="doc_b",
        shuffle_partitions=16,
    )
    cand.unpersist()
    # ---- re-expand replicas into their representative's cluster. The
    # component label is the min rep id reachable, and each rep is the
    # min doc_id of its content group, so the label is also the min
    # doc_id over ALL docs in the expanded cluster — survivor selection
    # (doc_id == label) needs no renumbering.
    if rep_map is not None:
        full = rep_map.join(
            comp.select(F.col("node").alias("rep_id"), "label"), "rep_id"
        ).select("doc_id", "label")
    else:
        full = comp.select(F.col("node").alias("doc_id"), "label")
    # cluster sizes via agg + join, NOT a window over label: a
    # pathological corpus (one giant dup cluster) would pin a window
    # partition on one task; the aggregate is map-side combinable and
    # only KEEPER rows cross the join (q09's skew discipline)
    sizes = full.groupBy("label").agg(
        (F.count(F.lit(1)) - 1).alias("n_removed")
    )
    survivors = (
        full.where(F.col("doc_id") == F.col("label"))
        .join(sizes, "label")
        .select("doc_id", "n_removed")
    )
    return (
        survivors.join(d, "doc_id")
        .select("doc_id", "lang", "source", "n_chars", "n_removed")
        .orderBy("doc_id")
    )


EVAL_MOD = 25            # q06/q147's eval-membership protocol
CONTAIN_THRESHOLD = 0.5  # fraction of the eval item's tokens present

# Containment-aware candidate generation (q158): MinHash band collision
# probability tracks JACCARD, so an eval item buried in a much longer
# train document rarely collides — the train doc's shingle set dilutes
# the eval item's. The production fix: band the train side in
# EVAL-SIZED WINDOWS (q38's sliding-window chunking composed with
# q81's banding), so a contained span meets the eval item at chunk
# scale where their Jaccard IS high. Whole-doc bands stay in the union,
# making candidate recall monotonically >= plain banding's.
DECON_WINDOW = 64   # tokens per train-side banding window (eval-sized)
DECON_STRIDE = 32   # half-overlap: any span of <=33 tokens lies wholly
#                     inside some window; longer contained spans overlap
#                     one window in >=64 of their tokens


def _decon_train_bands_df(d: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) for the TRAIN side of q158: the
    union of whole-document bands and DECON_WINDOW-token sliding-window
    bands. One narrow generate per doc — tokenize once, slice windows
    from the token array, shingle+minhash each window; nothing
    shuffles. Band volume is ~(1 + n_tokens/DECON_STRIDE) x plain
    banding for LONG docs and exactly 1x for short ones — linear in
    corpus tokens, the same asymptotic cost as the banding pass itself.

    PER-DOC LENGTH GATE: a doc with <= DECON_WINDOW tokens would emit
    one window that is BYTE-IDENTICAL to its whole-doc chunk (the slice
    covers the full token array), i.e. duplicate shingles → duplicate
    minhash → duplicate band rows that the candidate DISTINCT throws
    away — pure wasted minhash compute and band volume. The gate is an
    expression on size(tk), not a corpus-level max-length probe: it
    needs no driver action, is provably result-invisible per doc (only
    exact duplicates are skipped — the no-window equivalence the round-8
    SCALING.md addendum measured as a 3.7x band-row premium on
    short-doc corpora), and keeps windows for exactly the docs where
    containment recall needs them (pinned by
    tests/test_quality.py::test_fuzzy_decon_flags_buried_eval and the
    short-doc band-count test beside it)."""
    toks = d.select("doc_id", tokens_col("text").alias("tk"))
    n_chunks_minus1 = (
        f"(greatest(size(tk) - {DECON_WINDOW}, 0) + {DECON_STRIDE - 1})"
        f" div {DECON_STRIDE}"
    )
    # ONE generate per doc — the whole-document token array is element
    # 0 of the per-doc chunk list, the sliding windows follow (only
    # for docs the length gate says can differ from element 0). A
    # union of two branches would plan two independent scan+tokenize
    # passes over the train corpus (tokenize is the heaviest per-row
    # compute in the catalog); the fused explode tokenizes once.
    chunk_list = F.expr(
        f"concat(array(tk), CASE WHEN size(tk) > {DECON_WINDOW} THEN transform("
        f"sequence(CAST(0 AS BIGINT), CAST({n_chunks_minus1} AS BIGINT)), "
        f"cid -> slice(tk, CAST(cid * {DECON_STRIDE} + 1 AS INT), {DECON_WINDOW})) "
        f"ELSE array() END)"
    )
    both = toks.select("doc_id", F.explode(chunk_list).alias("tk"))
    sigs = both.select(
        "doc_id", shingles_col(F.col("tk")).alias("shingles")
    ).select("doc_id", *minhash_cols(F.col("shingles"), N_HASHES))
    return sigs.select(
        "doc_id",
        F.posexplode(F.array(*_band_key_cols())).alias("band_idx", "band_key"),
    ).where(F.col("band_key").isNotNull())  # shingle-less chunks: no bands


def _decon_train_bands_sql() -> str:
    """DuckDB twin of :func:`_decon_train_bands_df` as CTE text; final
    CTE ``tband`` (doc_id, band_idx, band_key) over non-eval docs."""
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(concat(mh{b * BAND_SIZE}, mh{b * BAND_SIZE + 1}, mh{b * BAND_SIZE + 2})) AS band_key "
        f"FROM tsig WHERE mh{b * BAND_SIZE} IS NOT NULL"
        for b in range(N_BANDS)
    )
    return f"""ttk AS (
      SELECT doc_id, {tokens_sql('text')} AS tk FROM documents
      WHERE doc_id % {EVAL_MOD} <> 0
    ),
    tchunks AS (
      SELECT doc_id, tk FROM ttk
      UNION ALL
      SELECT doc_id,
             tk[(cid * {DECON_STRIDE} + 1):(cid * {DECON_STRIDE} + {DECON_WINDOW})] AS tk
      FROM (
        SELECT doc_id, tk,
               unnest(range(0, (greatest(len(tk) - {DECON_WINDOW}, 0) + {DECON_STRIDE - 1}) // {DECON_STRIDE} + 1)) AS cid
        FROM ttk)
    ),
    tsh AS (
      SELECT doc_id, {shingles_over_sql('tk')} AS shingles FROM tchunks
    ),
    tsig AS (
      SELECT doc_id, {", ".join(minhash_sql_exprs("shingles", N_HASHES))} FROM tsh
    ),
    tband AS (
      {bands_union}
    )"""


@register(
    "q158_fuzzy_decontamination",
    oracle=f"""
    WITH {_lsh_bands_sql()},
    {_decon_train_bands_sql()},
    eb AS (SELECT * FROM bands WHERE doc_id % {EVAL_MOD} = 0),
    cand AS (
      SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
      FROM tband t JOIN eb e
        ON t.band_idx = e.band_idx AND t.band_key = e.band_key
    ),
    etoks AS (
      SELECT doc_id AS eval_id, unnest(list_distinct({tokens_sql('text')})) AS token
      FROM documents
      WHERE doc_id % {EVAL_MOD} = 0
        AND doc_id IN (SELECT eval_id FROM cand)
    ),
    esizes AS (SELECT eval_id, count(*) AS en FROM etoks GROUP BY eval_id),
    ttoks AS (
      SELECT doc_id AS train_id, unnest(list_distinct({tokens_sql('text')})) AS token
      FROM documents
      WHERE doc_id IN (SELECT train_id FROM cand)
    ),
    shared AS (
      SELECT c.train_id, c.eval_id, count(*) AS n
      FROM cand c
        JOIN ttoks t ON t.train_id = c.train_id
        JOIN etoks e ON e.eval_id = c.eval_id AND e.token = t.token
      GROUP BY 1, 2
    ),
    cont AS (
      SELECT s.train_id, s.eval_id,
             CAST(s.n AS DOUBLE) / es.en AS containment
      FROM shared s JOIN esizes es ON es.eval_id = s.eval_id
      WHERE CAST(s.n AS DOUBLE) / es.en >= {CONTAIN_THRESHOLD}
    )
    SELECT train_id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_flagged_evals,
           round(max(containment), 4) AS max_containment
    FROM cont
    GROUP BY 1
    ORDER BY doc_id
    """,
    tags=("dedup", "decontamination", "minhash-lsh", "training-pipeline"),
)
def q158_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination — the third leg of the trio: q06
    catches verbatim n-gram overlap, q147 catches paraphrase via
    embeddings, and this catches NEAR-VERBATIM text (light edits,
    truncation, formatting churn) that breaks exact n-grams but keeps
    high token overlap. Flags train documents whose token CONTAINMENT
    of any eval item (|train ∩ eval| / |eval|) reaches
    CONTAIN_THRESHOLD, with candidates from a BIPARTITE MinHash-LSH
    band join — never an all-pairs product.

    Scale shape (the asymmetry is the point): the eval side is
    benchmark-sized at any corpus scale, so its bands AND its token
    sets broadcast; the train corpus is banded in one narrow pass and
    NEVER shuffles — candidates come from a map-side equi-join against
    the broadcast eval bands, and only candidate train docs' tokens are
    ever exploded for the verify. Same q148 verify discipline
    (candidates only), but keyed by containment, not Jaccard: an eval
    item embedded in a longer train doc has low Jaccard and high
    containment, and containment is what leaks eval answers.

    CANDIDATES ARE CONTAINMENT-AWARE: plain MinHash bands under-recall
    when the train doc is much longer than the eval item (collision
    probability tracks Jaccard, and the long doc dilutes it), so the
    train side is banded as the UNION of whole-document bands and
    DECON_WINDOW-token sliding windows (q38's chunking composed with
    q81's banding — :func:`_decon_train_bands_df`). A contained eval
    span meets the eval item at window scale, where their Jaccard is
    high; whole-doc bands stay in the union so recall is monotonically
    >= plain banding's. The buried-eval regime is pinned by a pytest
    that plain banding provably misses
    (tests/test_operators.py::test_fuzzy_decon_flags_buried_eval).

    Broadcast note: the eval side here is the `doc_id % EVAL_MOD`
    protocol stand-in (~4% of the corpus), so this force-broadcast
    grows with corpus size in THIS test harness; in production the eval
    side is a FIXED benchmark list (thousands of items at any corpus
    scale), which is what the broadcast is sized for. With a
    mod-membership eval set at real scale, drop the hint and let AQE
    decide from runtime stats."""
    from ..sources.io import fan_out

    d = t(spark, sf_dir, "documents")
    base = fan_out(d)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    tb = _decon_train_bands_df(base.where(~is_eval))
    # eval bands from the memoized whole-corpus band table (banding is
    # per-row, so filtering the table equals banding the filtered docs)
    eb = lsh_bands_for(spark, sf_dir).where(is_eval)
    cand = (
        tb.alias("t")
        .join(
            F.broadcast(eb.alias("e")),
            (F.col("t.band_idx") == F.col("e.band_idx"))
            & (F.col("t.band_key") == F.col("e.band_key")),
        )
        .select(
            F.col("t.doc_id").alias("train_id"), F.col("e.doc_id").alias("eval_id")
        )
        .distinct()
        # eager checkpoint: three lazy consumers (both semi filters and
        # the verify join) would each re-run the band join otherwise;
        # the candidate set is tiny (bounded by eval-band collisions)
        .localCheckpoint(eager=True)
    )
    etoks = (
        d.where(is_eval)
        .join(
            F.broadcast(cand.select("eval_id").distinct()),
            F.col("doc_id") == F.col("eval_id"),
            "left_semi",
        )
        .select(
            F.col("doc_id").alias("eval_id"),
            F.explode(F.array_distinct(tokens_col("text"))).alias("token"),
        )
    )
    esizes = etoks.groupBy("eval_id").agg(F.count(F.lit(1)).alias("en"))
    ttoks = (
        d.join(
            cand.select("train_id").distinct(),
            F.col("doc_id") == F.col("train_id"),
            "left_semi",
        )
        .select(
            F.col("doc_id").alias("train_id"),
            F.explode(F.array_distinct(tokens_col("text"))).alias("token"),
        )
    )
    shared = (
        cand.join(ttoks, "train_id")
        .join(F.broadcast(etoks), ["eval_id", "token"])
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    containment = F.col("n").cast("double") / F.col("en")
    cont = (
        shared.join(F.broadcast(esizes), "eval_id")
        .where(containment >= CONTAIN_THRESHOLD)
        .select("train_id", "eval_id", containment.alias("containment"))
    )
    out = (
        cont.groupBy("train_id")
        .agg(
            F.count(F.lit(1)).alias("n_flagged_evals"),
            F.round(F.max("containment"), 4).alias("max_containment"),
        )
        .select(
            F.col("train_id").alias("doc_id"), "n_flagged_evals", "max_containment"
        )
        .orderBy("doc_id")
    )
    return out


# q130's split thresholds (first 4 md5 hex chars of doc_id):
# < 'cccc' → train (80%), < 'e666' → val (10%), else test.
SPLIT_TRAIN_HEX = "cccc"
SPLIT_VAL_HEX = "e666"


def _split_sql(id_expr: str) -> str:
    h = f"substr(md5(CAST({id_expr} AS VARCHAR)), 1, 4)"
    return (
        f"CASE WHEN {h} < '{SPLIT_TRAIN_HEX}' THEN 'train' "
        f"WHEN {h} < '{SPLIT_VAL_HEX}' THEN 'val' ELSE 'test' END"
    )


def _split_col(id_col: str = "doc_id") -> Column:
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    return (
        F.when(h < SPLIT_TRAIN_HEX, F.lit("train"))
        .when(h < SPLIT_VAL_HEX, F.lit("val"))
        .otherwise(F.lit("test"))
    )


@register(
    "q159_split_leakage",
    oracle=f"""
    WITH {_lsh_bands_sql()},
    tagged AS (
      SELECT doc_id, band_idx, band_key, {_split_sql('doc_id')} AS split
      FROM bands
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.split AS split_a, b.split AS split_b
      FROM tagged a JOIN tagged b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      WHERE (a.split = 'train') <> (b.split = 'train')
    ),
    cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
    ctoks AS (
      SELECT doc_id, unnest(list_distinct({tokens_sql('text')})) AS token
      FROM documents WHERE doc_id IN (SELECT doc_id FROM cdocs)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM ctoks GROUP BY doc_id),
    shared AS (
      SELECT c.doc_a, c.doc_b, c.split_a, c.split_b, count(*) AS n_shared
      FROM cand c
        JOIN ctoks a ON a.doc_id = c.doc_a
        JOIN ctoks b ON b.doc_id = c.doc_b AND b.token = a.token
      GROUP BY 1, 2, 3, 4
    ),
    leaks AS (
      SELECT s.doc_a, s.doc_b, s.split_a, s.split_b,
             round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) AS jaccard
      FROM shared s
        JOIN sizes sa ON sa.doc_id = s.doc_a
        JOIN sizes sb ON sb.doc_id = s.doc_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.8
    )
    SELECT CASE WHEN split_a = 'train' THEN doc_b ELSE doc_a END AS holdout_doc_id,
           CASE WHEN split_a = 'train' THEN split_b ELSE split_a END AS holdout_split,
           CASE WHEN split_a = 'train' THEN doc_a ELSE doc_b END AS train_doc_id,
           jaccard
    FROM leaks
    ORDER BY holdout_doc_id, train_doc_id
    """,
    tags=("dedup", "split", "training-pipeline", "decontamination"),
)
def q159_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-LEAKAGE AUDIT: near-duplicate pairs that STRADDLE the
    train/holdout boundary of q130's deterministic split — the
    integrity check every eval pipeline needs (a val/test doc with a
    near-verbatim train twin silently inflates eval metrics; random
    splits leak whenever the corpus wasn't near-dup'd FIRST).

    Candidates come from the q81 LSH banding with a CROSS-SPLIT
    predicate pushed into the band self-join (exactly one side in
    train), so within-split near-dups — q148's job — never reach the
    verify; verification is the exact token-Jaccard on candidates
    only. Output: one row per leaking (holdout doc, train doc) pair
    with the verified jaccard.

    Scale shape: identical to q148's candidate stage (band-keyed
    self-join, merge-pinned; the split tag is a pure per-row hash
    expression — no join against a split table), and the verify
    explodes candidate docs' tokens only. An empty result is the audit
    PASSING (the driver corpus happens to contain a handful of real
    cross-split near-dups, so it also exercises the non-empty path);
    tests/test_quality.py injects a straddling pair to prove recall."""
    d = t(spark, sf_dir, "documents")
    tagged = lsh_bands_for(spark, sf_dir).withColumn("split", _split_col())
    a, b = tagged.alias("a"), tagged.alias("b")
    cand = (
        a.join(
            b.hint("merge"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & ((F.col("a.split") == "train") != (F.col("b.split") == "train")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.split").alias("split_a"),
            F.col("b.split").alias("split_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    verified = jaccard_verified_pairs_scored(d, cand.select("doc_a", "doc_b"))
    out = verified.join(cand, ["doc_a", "doc_b"])
    holdout_is_b = F.col("split_a") == "train"
    return out.select(
        F.when(holdout_is_b, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
            "holdout_doc_id"
        ),
        F.when(holdout_is_b, F.col("split_b")).otherwise(F.col("split_a")).alias(
            "holdout_split"
        ),
        F.when(holdout_is_b, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
            "train_doc_id"
        ),
        "jaccard",
    ).orderBy("holdout_doc_id", "train_doc_id")


def jaccard_verified_pairs_scored(
    d: DataFrame, cand: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Like :func:`jaccard_verified_pairs` but surfacing the rounded
    jaccard value per verified pair (doc_a, doc_b, jaccard). Unsalted:
    for the audit queries whose candidate sets are boundary-filtered
    and small; the salted variant remains the q148 production path."""
    cand_docs = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    toks = d.join(cand_docs, "doc_id", "left_semi").select(
        "doc_id", F.explode(F.array_distinct(tokens_col("text"))).alias("token")
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    ta = toks.select(F.col("doc_id").alias("doc_a"), "token")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "token")
    shared = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_shared").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_shared")
    )
    return (
        shared.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# q161: incremental dedup — an incoming BATCH against an existing corpus.
# Production dedup is rarely the q148 full re-cluster: a crawl lands in
# increments, and each increment is checked against the standing corpus
# (exact hash first, then near-dup) without re-touching the corpus.
# ---------------------------------------------------------------------------

INCR_BATCH_MOD = 10   # batch membership protocol (q158's EVAL_MOD style):
INCR_BATCH_REM = 7    # doc_id % 10 == 7 -> the incoming batch (~10%)

# Shared by q161 (batch) and q162 (streaming, stream_queries.py): the
# classification is per-doc and the corpus is static, so the streamed
# result is batch-boundary-independent and both check against the SAME
# SQL — the strongest correctness statement the streaming variant can
# make (stream == batch == oracle).
def _incr_stage_sql(
    p: str, batch_ids: str, corpus_ids: str, key_sql: str | None = None
) -> str:
    """One incremental-classification STAGE as DuckDB CTE text: classify
    the docs in id-set CTE ``batch_ids`` against those in ``corpus_ids``
    (exact hash first, then LSH-candidate + Jaccard-verified near-dup,
    else new). Emits CTEs prefixed ``p``, ending in ``{p}cls`` =
    (doc_id, status, match_doc_id, jaccard). Requires the global
    ``bands`` CTE (:func:`_lsh_bands_sql`) in scope. q161's oracle is
    ONE stage; q163's (stream_queries.py) is two CHAINED stages — the
    second stage's corpus set includes the first stage's admitted
    ('new') docs, which is how SQL replays corpus evolution without
    recursion when the number of increments is fixed. ``key_sql``
    mirrors classify_increment's ``exact_key``: default norm_text md5
    (q161/q162); q163 passes :func:`token_seq_key_sql`."""
    k = key_sql if key_sql is not None else f"md5({norm_text_sql('text')})"
    return f"""{p}bh AS MATERIALIZED (
      SELECT doc_id, {k} AS h FROM documents
      WHERE doc_id IN (SELECT doc_id FROM {batch_ids})
    ),
    {p}ch AS MATERIALIZED (
      SELECT doc_id, {k} AS h FROM documents
      WHERE doc_id IN (SELECT doc_id FROM {corpus_ids})
    ),
    {p}exact AS MATERIALIZED (
      SELECT b.doc_id, min(c.doc_id) AS exact_match
      FROM {p}bh b JOIN {p}ch c ON c.h = b.h
      GROUP BY 1
    ),
    {p}cand AS MATERIALIZED (
      SELECT DISTINCT b.doc_id AS doc_a, c.doc_id AS doc_b
      FROM bands b JOIN bands c
        ON b.band_idx = c.band_idx AND b.band_key = c.band_key
      WHERE b.doc_id IN (SELECT doc_id FROM {batch_ids})
        AND c.doc_id IN (SELECT doc_id FROM {corpus_ids})
    ),
    {p}cdocs AS MATERIALIZED (SELECT doc_a AS doc_id FROM {p}cand
                 UNION SELECT doc_b FROM {p}cand),
    {p}ctoks AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct({tokens_sql('text')})) AS token
      FROM documents WHERE doc_id IN (SELECT doc_id FROM {p}cdocs)
    ),
    {p}sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM {p}ctoks GROUP BY doc_id),
    {p}shared AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b, count(*) AS n_shared
      FROM {p}cand c
        JOIN {p}ctoks a ON a.doc_id = c.doc_a
        JOIN {p}ctoks b ON b.doc_id = c.doc_b AND b.token = a.token
      GROUP BY 1, 2
    ),
    {p}scored AS MATERIALIZED (
      SELECT s.doc_a, s.doc_b,
             round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) AS jaccard
      FROM {p}shared s
        JOIN {p}sizes sa ON sa.doc_id = s.doc_a
        JOIN {p}sizes sb ON sb.doc_id = s.doc_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.8
    ),
    {p}best AS MATERIALIZED (
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_a
                                     ORDER BY jaccard DESC, doc_b) AS rn
        FROM {p}scored)
      WHERE rn = 1
    ),
    {p}cls AS MATERIALIZED (
      SELECT d.doc_id,
             CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
                  WHEN n.doc_a IS NOT NULL THEN 'near_dup'
                  ELSE 'new' END AS status,
             CASE WHEN e.doc_id IS NOT NULL THEN e.exact_match
                  ELSE n.doc_b END AS match_doc_id,
             CASE WHEN e.doc_id IS NOT NULL THEN CAST(NULL AS DOUBLE)
                  ELSE n.jaccard END AS jaccard
      FROM documents d
        LEFT JOIN {p}exact e ON e.doc_id = d.doc_id
        LEFT JOIN {p}best n ON n.doc_a = d.doc_id
      WHERE d.doc_id IN (SELECT doc_id FROM {batch_ids})
    )"""


INCR_DEDUP_ORACLE = f"""
    WITH {_lsh_bands_sql()},
    s0batch AS MATERIALIZED (SELECT doc_id FROM documents
                WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM}),
    s0corpus AS MATERIALIZED (SELECT doc_id FROM documents
                 WHERE doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}),
    {_incr_stage_sql('s0', 's0batch', 's0corpus')}
    SELECT doc_id, status, match_doc_id, jaccard FROM s0cls
    ORDER BY doc_id
    """


@register(
    "q161_incremental_dedup",
    oracle=INCR_DEDUP_ORACLE,
    tags=("dedup", "incremental", "minhash-lsh", "training-pipeline"),
)
def q161_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup: classify each document of an incoming batch
    against the STANDING corpus — 'exact' (normalized-content hash
    already present; match = lowest holding corpus doc), 'near_dup'
    (LSH candidate verified at token-Jaccard >= 0.8; match = the
    best-scoring corpus doc), or 'new'. This is the production shape
    q148 deliberately is not: a crawl lands in increments, and each
    increment is admitted or dropped WITHOUT re-clustering the corpus
    (q148 re-clusters; this one never touches corpus-corpus pairs).
    Batch membership uses the id protocol (doc_id % INCR_BATCH_MOD ==
    INCR_BATCH_REM, ~10%), mirroring q158's eval protocol.

    Scale shape (the asymmetry carries the design): the batch is
    increment-sized at any corpus scale, so its content hashes AND its
    band keys BROADCAST; the corpus is hashed and banded in narrow
    passes and never shuffles — in production both corpus tables are
    precomputed index artifacts maintained alongside the corpus (the
    codebook_for discipline applied to dedup), so an increment costs
    one broadcast hash probe + one broadcast band probe + a verify
    join over candidate documents only. Batch-internal duplicates are
    q148's job applied to the increment before admission; exact status
    wins over near_dup (its jaccard is NULL — the hash is the
    evidence). Reference analog: the golden pipeline's check-then-add
    merge discipline (master_splitmerge.go:14-51).

    The body is :func:`incremental_dedup_df` with the id-protocol
    batch predicate and the memoized band table; the chained
    corpus-lifecycle equivalence (q148 build → q161 batches ==
    from-scratch q148 over the union) is pinned through that core by
    tests/test_operators.py::test_incremental_dedup_chained_equals_full_rebuild."""
    d = t(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == INCR_BATCH_REM
    # both band sides from the memoized whole-corpus band table
    # (per-row banding: filtering the table == banding the filtered
    # docs). In production the corpus side is exactly this maintained
    # table; the batch side would be banded fresh (it is new data) —
    # here both live in the same documents table under the id protocol.
    return incremental_dedup_df(d, is_batch, bands=lsh_bands_for(spark, sf_dir))


def incremental_dedup_df(
    d: DataFrame, is_batch: Column, bands: DataFrame | None = None
) -> DataFrame:
    """q161's core over an arbitrary documents DataFrame: classify the
    rows matching ``is_batch`` against the rest (the standing corpus).
    ``bands``: a precomputed (doc_id, band_idx, band_key) table for ALL
    of ``d`` (the maintained index artifact); None bands ``d`` fresh.
    Returns (doc_id, status, match_doc_id, jaccard) for batch rows."""
    from ..sources.io import fan_out

    base = fan_out(d)
    if bands is None:
        bands = _lsh_bands_df(base)
    return classify_increment(
        d.where(is_batch),
        base.where(~is_batch),
        batch_bands=bands.where(is_batch),
        corpus_bands=bands.where(~is_batch),
        verify_docs=d,
    )


def classify_increment(
    batch: DataFrame,
    corpus: DataFrame,
    *,
    batch_bands: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
    verify_docs: DataFrame | None = None,
    corpus_hashes: DataFrame | None = None,
    exact_key: Column | None = None,
) -> DataFrame:
    """Classify an increment against a standing corpus given as two
    SEPARATE DataFrames — the shape a streaming consumer has (the
    micro-batch arrives on its own; the corpus and its band table are
    static index artifacts). :func:`incremental_dedup_df` (and so
    q161) delegates here with both sides carved out of one table by
    the id protocol; q162 calls it per micro-batch.

    ``batch_bands`` / ``corpus_bands``: precomputed (doc_id, band_idx,
    band_key) tables for each side (None bands that side fresh —
    banding is per-row, so a fresh banding of the same rows is
    identical to a filtered slice of a whole-table band table).
    ``verify_docs``: (doc_id, text) source for the Jaccard verify,
    defaulting to batch ∪ corpus; the verify semi-joins it down to
    candidate docs only. ``corpus_hashes``: a precomputed (doc_id, h)
    normalized-content-hash table for the corpus (the second
    maintained index artifact; None hashes the corpus fresh — a
    repeat caller like q162's micro-batch loop should NOT re-hash the
    corpus per call). ``exact_key``: the exact-tier key EXPRESSION
    (over doc_id, text), defaulting to the case-folding norm_text md5
    — q161/q162's classification contract, aligned with q80. The
    admission loop (q163) passes :func:`token_seq_key_col` instead so
    its exact tier collapses exactly what a from-scratch q148 rebuild
    would collapse; a precomputed ``corpus_hashes`` must be keyed the
    SAME way as ``exact_key``. Returns (doc_id, status, match_doc_id,
    jaccard) for batch rows."""
    key = exact_key if exact_key is not None else F.md5(norm_text_col("text"))
    bh = batch.select(F.col("doc_id").alias("b_id"), key.alias("h"))
    ch = (
        corpus_hashes
        if corpus_hashes is not None
        else corpus.select("doc_id", key.alias("h"))
    )
    exact = (
        ch.join(F.broadcast(bh), "h")
        .groupBy("b_id")
        .agg(F.min("doc_id").alias("exact_match"))
        .select(F.col("b_id").alias("doc_id"), "exact_match")
    )
    bb = batch_bands if batch_bands is not None else _lsh_bands_df(batch)
    cb = corpus_bands if corpus_bands is not None else _lsh_bands_df(corpus)
    if verify_docs is None:
        verify_docs = batch.select("doc_id", "text").unionByName(
            corpus.select("doc_id", "text")
        )
    cand = (
        cb.alias("c")
        .join(
            F.broadcast(bb.alias("b")),
            (F.col("c.band_idx") == F.col("b.band_idx"))
            & (F.col("c.band_key") == F.col("b.band_key")),
        )
        .select(F.col("b.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b"))
        .distinct()
        # eager: consumed by the verify's cand_docs explode AND the
        # shared-token join — candidates are batch-collision-bounded
        .localCheckpoint(eager=True)
    )
    scored = jaccard_verified_pairs_scored(verify_docs, cand)
    w = Window.partitionBy("doc_a").orderBy(F.col("jaccard").desc(), "doc_b")
    best = (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("near_match"),
                "jaccard")
    )
    has_exact = F.col("exact_match").isNotNull()
    return (
        batch.select("doc_id")
        .join(F.broadcast(exact), "doc_id", "left")
        .join(F.broadcast(best), "doc_id", "left")
        .select(
            "doc_id",
            F.when(has_exact, F.lit("exact"))
            .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.when(has_exact, F.col("exact_match"))
            .otherwise(F.col("near_match"))
            .alias("match_doc_id"),
            F.when(has_exact, F.lit(None).cast("double"))
            .otherwise(F.col("jaccard"))
            .alias("jaccard"),
        )
        .orderBy("doc_id")
    )


# --- q186: exact set-similarity self-join via prefix filtering -------------

# Jaccard threshold as an integer ratio (3/5 = 0.6) so the prefix
# length and the final gate are integer-exact in both engines.
Q186_T_NUM, Q186_T_DEN = 3, 5


@register(
    "q186_setsim_join_prefix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({shingles_sql()})) AS token
      FROM documents
    ),
    dfreq AS (SELECT token, count(*) AS df FROM toks GROUP BY token),
    ordered AS (
      SELECT t.doc_id, t.token,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY f.df, t.token) AS pos
      FROM toks t JOIN dfreq f USING (token)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    pfx AS (
      SELECT o.doc_id, o.token
      FROM ordered o JOIN sizes s USING (doc_id)
      WHERE o.pos <= s.n - (({Q186_T_NUM} * s.n + {Q186_T_DEN - 1})
                            // {Q186_T_DEN}) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pfx a JOIN pfx b ON a.token = b.token AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_shared
      FROM cand c
        JOIN toks ta ON ta.doc_id = c.doc_a
        JOIN toks tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, n_shared,
           round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4)
             AS jaccard
    FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_shared * {Q186_T_DEN} >= {Q186_T_NUM} * (sa.n + sb.n - n_shared)
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "jaccard", "setsim", "training-pipeline"),
)
def q186_setsim_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join over the WHOLE corpus via PREFIX
    FILTERING (AllPairs/PPJoin, Bayardo et al. WWW'07) — the
    deterministic alternative to banded-LSH candidate generation
    (q81/q148): where LSH trades recall for cost probabilistically,
    the prefix filter is LOSSLESS. Sets are word-3-gram SHINGLES
    (:func:`shingles_col` — unigram token sets over a shared synthetic
    vocabulary are near-identical corpus-wide and would qualify ~60% of
    ALL pairs; shingle sets isolate true near-dups). Order every
    document's shingles by a GLOBAL rarity order (document frequency,
    then shingle); two sets
    with Jaccard ≥ t MUST share a token within their first
    ``|d| - ceil(t·|d|) + 1`` tokens of that order, so joining on
    prefix tokens only provably generates every qualifying pair — and
    because prefixes are the RAREST tokens, the join's fan-out is
    governed by rare-token frequencies, not by stopwords (the reason a
    naive token join explodes). Candidates then verify with the exact
    intersection join (q82's stage), gated integer-exactly:
    ``n_shared·5 ≥ 3·union``.

    Scale shape: one token explode, one doc-frequency aggregate
    (map-side combined), one per-doc window for prefix positions, a
    join whose left/right sides are PREFIX tokens only (≈(1−t)·|d| per
    doc), and verification on candidates only. No parameter tuning,
    no recall floor to audit — exactness is structural, pinned in
    tests/test_operators.py against the brute-force all-pairs join.

    Reference analog: none (SURVEY §2.3 dedup block; complements the
    LSH family — run THIS when the contract is 'every pair', LSH when
    the corpus makes even prefix joins too hot)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", tokens_col("text").alias("_tk")
    )
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_col(F.col("_tk")))).alias("token"),
    )
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ordered = toks.join(dfreq, "token").select(
        "doc_id",
        "token",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "token"))
        .alias("pos"),
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pfx = ordered.join(sizes, "doc_id").where(
        F.col("pos")
        <= F.col("n")
        - F.expr(f"({Q186_T_NUM} * n + {Q186_T_DEN - 1}) div {Q186_T_DEN}")
        + 1
    )
    a, b = pfx.alias("a"), pfx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ta, tb = toks.alias("ta"), toks.alias("tb")
    inter = (
        cand.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("doc_b"))
            & (F.col("ta.token") == F.col("tb.token")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    union_n = F.col("sa.n") + F.col("sb.n") - F.col("n_shared")
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(F.col("n_shared") * Q186_T_DEN >= Q186_T_NUM * union_n)
        .select(
            "doc_a",
            "doc_b",
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
            "n_shared",
            F.round(F.col("n_shared").cast("double") / union_n, 4).alias(
                "jaccard"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )
