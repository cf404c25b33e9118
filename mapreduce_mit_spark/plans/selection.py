"""Data-selection / tokenizer-prep pack over ``documents``.

The operators a 100 TB pre-training pipeline runs BETWEEN corpus
hygiene (quality.py) and shard assembly (pipeline.py): deciding WHICH
cleaned documents to train on, in what proportions, and preparing the
tokenizer that will consume them.

- **DSIR importance weighting** (q190): hashed-n-gram importance
  resampling (Xie et al. 2023, "Data Selection for Language Models via
  Importance Resampling") reduced to its exactly-testable unigram
  core: two hashed-bucket LMs — target (the domain you want more of)
  and raw (what you have) — give every document a log-likelihood-ratio
  weight Σ_b n_b·(ln p_t(b) − ln p_r(b)). The LMs are the TWELFTH
  persisted family: 256-row bucket-count tables, fitted once, attached
  everywhere.
- **stratified top-k selection** (q191): the act after the weights —
  per-language top-K by DSIR weight via the two-level (shard-local
  top-K → global top-K) refinement, so no task ever sorts a whole
  language.
- **BPE first merge** (q192): the tokenizer-training step — adjacent
  symbol-pair counts over the word-frequency table (Sennrich et al.
  2016), the exactly-SQL-expressible first iteration of BPE training.
- **weighted sampling without replacement** (q193): Efraimidis-
  Spirakis priorities in their EXACT-INTEGER form — a doc with weight
  w gets priority max of w md5 draws (distributionally u^(1/w)), all
  comparisons on hex strings, zero float hazard.

Cross-engine determinism: bucket keys and sampling draws are md5
prefixes (the repo's split idiom); the one float surface (q190's
weight) is a sum of identically-computed ln terms rounded to 4
decimals in both engines (the q149/q63 discipline); q191 ranks on the
ROUNDED weight with a doc_id tiebreak; q192/q193 are exact
integers/strings end to end.

Reference analog: none of these exist in the reference (SURVEY §2.3
training-pipeline extensions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.textfns import tokens_col, tokens_sql
from ..registry import register
from ._util import fitted_family, refresh_then_serve, t, tw

# --- q190: DSIR importance weights (twelfth persisted family) --------------

# 256 hashed feature buckets: the first 2 hex chars of md5(token) — the
# same split idiom every other carve uses, so both engines bucket
# identically with no hex→int conversion anywhere.
DSIR_BUCKETS = 256
# The target distribution: English documents (the fixture's largest
# language). In production this is the trusted domain sample (wiki,
# books); the fit is identical — a second bucket-count pass over it.
DSIR_TARGET_LANG = "en"


def _bucket_col(token: Column) -> Column:
    return F.substring(F.md5(token), 1, 2)


def _dsir_occ(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket) — one row per token occurrence, already
    hashed to its feature bucket. Tokens never leave this projection:
    the LMs, the weights, and every shuffle downstream are keyed on the
    2-hex bucket, not the text."""
    return docs.select(
        "doc_id", "lang", F.explode(tokens_col("text")).alias("token")
    ).select("doc_id", "lang", _bucket_col(F.col("token")).alias("bucket"))


def _dsir_lm_fit(spark: SparkSession, sf_dir: str):
    return _dsir_count_tables(spark, sf_dir)


def _dsir_count_tables(spark: SparkSession, sf_dir: str):
    """FIT CORE for the twelfth family (kept separate from
    ``_dsir_lm_fit`` so the cold-start test can poison it without
    touching ``_dsir_occ``, which the SERVE path legitimately reruns —
    scoring needs per-doc features; only the LM must never refit):
    two 256-row bucket-count tables — target (DSIR_TARGET_LANG docs
    only) and raw (all docs) — from ONE tokenize pass."""
    occ = _dsir_occ(tw(spark, sf_dir, "documents"))
    raw = (
        occ.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    target = (
        occ.where(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    return (target, raw)


(
    dsir_lm_for,
    dsir_lm_save,
    dsir_lm_load,
    dsir_lm_attach,
) = dsir_lm_family = fitted_family(
    "dsir_lm",
    "documents.parquet",
    [
        ("target", ["bucket", "c"], None),
        ("raw", ["bucket", "c"], None),
    ],
    _dsir_lm_fit,
    params={"n_buckets": DSIR_BUCKETS, "target_lang": DSIR_TARGET_LANG},
)


def _dsir_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 256-row (bucket, llr) table: add-one-smoothed
    ln p_target(b) − ln p_raw(b). Built from the fitted family's two
    count tables; broadcast by every consumer. The smoothing denominators
    (totals + 256) come from 1-row aggregates over the 256-row tables —
    never a data-sized pass at serve time."""
    target, raw = dsir_lm_for(spark, sf_dir)
    tt = target.agg(F.sum("c").cast("double").alias("tt"))
    tr = raw.agg(F.sum("c").cast("double").alias("tr"))
    return (
        raw.select("bucket", F.col("c").alias("cr"))
        .join(target.select("bucket", F.col("c").alias("ct")), "bucket", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                    / (F.col("tt") + float(DSIR_BUCKETS))
                )
                - F.log((F.col("cr") + 1.0) / (F.col("tr") + float(DSIR_BUCKETS)))
            ).alias("llr"),
        )
    )


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR weight: Σ_b n_db · llr(b), rounded to 4
    decimals (both engines sum ≤256 per-doc terms of identically-
    computed doubles — the q149 float discipline). Shared by q190
    (the weight view) and q191 (the selection)."""
    occ = _dsir_occ(tw(spark, sf_dir, "documents"))
    n_db = occ.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("n"))
    return (
        n_db.join(F.broadcast(_dsir_llr(spark, sf_dir)), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("n") * F.col("llr")), 4).alias("weight"),
        )
    )


# The shared oracle CTE chain: replays tokenize → bucket → two LMs →
# llr → per-doc weight, verbatim.
_DSIR_W_CTES = f"""
    occ0 AS (
      SELECT doc_id, lang, unnest({tokens_sql('text')}) AS token FROM documents
    ),
    occ AS (
      SELECT doc_id, lang, substr(md5(token), 1, 2) AS bucket FROM occ0
    ),
    raw_c AS (SELECT bucket, count(*) AS cr FROM occ GROUP BY bucket),
    tgt_c AS (
      SELECT bucket, count(*) AS ct FROM occ
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
    ),
    tots AS (
      SELECT (SELECT CAST(sum(cr) AS DOUBLE) FROM raw_c) AS tr,
             (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) FROM tgt_c) AS tt
    ),
    llr AS (
      SELECT r.bucket,
             ln((coalesce(t.ct, 0) + 1.0) / (tt + {DSIR_BUCKETS}.0))
               - ln((r.cr + 1.0) / (tr + {DSIR_BUCKETS}.0)) AS llr
      FROM raw_c r LEFT JOIN tgt_c t USING (bucket), tots
    ),
    n_db AS (
      SELECT doc_id, bucket, count(*) AS n FROM occ GROUP BY doc_id, bucket
    ),
    w AS (
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
             round(sum(n * llr), 4) AS weight
      FROM n_db JOIN llr USING (bucket) GROUP BY doc_id
    )
"""


@register(
    "q190_dsir_importance",
    oracle=f"""
    WITH {_DSIR_W_CTES}
    SELECT d.doc_id, d.lang,
           CAST(coalesce(w.n_tokens, 0) AS BIGINT) AS n_tokens,
           w.weight,
           (coalesce(w.weight, -1e9) > 0) AS selected
    FROM documents d LEFT JOIN w USING (doc_id)
    ORDER BY d.doc_id
    """,
    tags=("selection", "language-model", "training-pipeline"),
)
def q190_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR IMPORTANCE WEIGHTS (Xie et al. 2023): score every document
    by how much more likely its hashed-unigram features are under the
    TARGET distribution (``lang = 'en'`` here; the trusted domain
    sample in production) than under the RAW corpus —
    weight = Σ_b n_db · (ln p_t(b) − ln p_r(b)) with add-one smoothing
    over 256 md5 buckets. ``selected`` is the sign gate: positive
    means "more target-like than the corpus average".

    The two bucket LMs are the TWELFTH persisted family
    (:func:`dsir_lm_for` — save/attach/fingerprint/param-stamp like
    the other eleven): fitted once per corpus snapshot, 256 rows each,
    so every scoring job joins against a BROADCAST 256-row llr table —
    the model side of the join is constant-size no matter how large
    the corpus grows. Contrast q149, whose vocabulary-sized LM join
    must shuffle: hashing buys a model that broadcasts at any scale,
    at the price of bucket collisions the smoothing absorbs.

    Scale shape: one tokenize pass (generator, no Python), one
    (doc_id, bucket) partial agg — map-side combinable, ≤256 rows per
    doc — then a broadcast join and a doc_id agg. Zero
    vocabulary-sized or corpus-sized shuffles; the only wide exchange
    is keyed on doc_id. At 100 TB the fit is one scheduled pass and
    the serve is O(corpus tokens) map work.

    Reference analog: none (SURVEY §2.3 selection extension)."""
    d = t(spark, sf_dir, "documents")
    w = _dsir_weights(spark, sf_dir)
    return (
        d.select("doc_id", "lang")
        .join(w, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            "weight",
            (F.coalesce("weight", F.lit(-1e9)) > 0).alias("selected"),
        )
        .orderBy("doc_id")
    )


# --- q191: stratified top-K selection (two-level refinement) ---------------

Q191_K = 20
Q191_SHARDS = 8


@register(
    "q191_dsir_select",
    oracle=f"""
    WITH {_DSIR_W_CTES},
    scored AS (
      SELECT d.doc_id, d.lang, w.weight,
             row_number() OVER (
               PARTITION BY d.lang ORDER BY w.weight DESC, d.doc_id
             ) AS sel_rank
      FROM documents d JOIN w USING (doc_id)
      WHERE w.weight IS NOT NULL
    )
    SELECT lang, sel_rank, doc_id, weight
    FROM scored WHERE sel_rank <= {Q191_K}
    ORDER BY lang, sel_rank
    """,
    tags=("selection", "top-k", "training-pipeline"),
)
def q191_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED TOP-K SELECTION — the act after q190's weights: keep
    the K most target-like documents PER LANGUAGE (the per-stratum
    budget a data-mixture recipe hands down; q183's epoch budgets are
    the next stage).

    Per-language top-K is the few-giant-groups window problem (5
    languages = 5 tasks sorting a fifth of the corpus each at 100 TB),
    so the rank runs as the classic TWO-LEVEL refinement: (1) shard
    each language 8 ways by an md5 hash of doc_id, window-rank within
    (lang, shard) — no task ever sorts more than a shard — and keep K
    per shard; (2) window-rank the ≤ 8·K survivors per language — a
    constant-size input — and keep K. Exact by the standard argument:
    any global top-K member is top-K within its own shard, so level 1
    can never evict it. The oracle ranks the whole language in one
    window — brute force against refinement, values must agree.

    Ordering is (weight DESC, doc_id) on the ROUNDED weight — both
    engines rank identical values, so the selected set is
    deterministic cross-engine.

    Scale shape: level 1's window partitions are bounded by shard
    size (grow the shard count with the data); level 2's input is
    languages × shards × K rows — KBs at any corpus size. Nothing
    sorts a whole stratum anywhere.

    Reference analog: the reference's test-side top-k
    (test_test.go sort/head) lifted to a stratified, shard-refined
    form (SURVEY §2.1 #14 extension)."""
    d = t(spark, sf_dir, "documents")
    scored = (
        d.select("doc_id", "lang")
        .join(_dsir_weights(spark, sf_dir), "doc_id")
        .where(F.col("weight").isNotNull())
        .withColumn(
            "_shard",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("sh1:"), F.col("doc_id").cast("string"))),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("long")
            % Q191_SHARDS,
        )
    )
    w1 = Window.partitionBy("lang", "_shard").orderBy(
        F.col("weight").desc(), F.col("doc_id")
    )
    survivors = (
        scored.withColumn("_lr", F.row_number().over(w1))
        .where(F.col("_lr") <= Q191_K)
        .drop("_lr", "_shard")
    )
    w2 = Window.partitionBy("lang").orderBy(F.col("weight").desc(), F.col("doc_id"))
    return (
        survivors.withColumn("sel_rank", F.row_number().over(w2))
        .where(F.col("sel_rank") <= Q191_K)
        # row_number is INT in Spark, BIGINT in DuckDB — the type-tagged
        # value hash needs them identical
        .select(
            "lang", F.col("sel_rank").cast("long").alias("sel_rank"),
            "doc_id", "weight",
        )
        .orderBy("lang", "sel_rank")
    )


# --- q192: BPE first merge — adjacent pair counts ---------------------------

Q192_TOP = 20


@register(
    "q192_bpe_pair_merge",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({tokens_sql('text')}) AS word FROM documents
    ),
    wf AS (SELECT word, count(*) AS wfreq FROM toks GROUP BY word),
    pos AS (
      SELECT word, wfreq, unnest(generate_series(1, length(word) - 1)) AS i
      FROM wf WHERE length(word) >= 2
    ),
    p AS (SELECT substr(word, i, 2) AS pair, wfreq, word FROM pos),
    a AS (
      SELECT pair, CAST(sum(wfreq) AS BIGINT) AS n_occurrences,
             CAST(count(DISTINCT word) AS BIGINT) AS n_words
      FROM p GROUP BY pair
    )
    SELECT pair, n_occurrences, n_words
    FROM a ORDER BY n_occurrences DESC, pair LIMIT {Q192_TOP}
    """,
    tags=("selection", "tokenizer", "training-pipeline"),
)
def q192_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE FIRST MERGE (Sennrich et al. 2016): the tokenizer-training
    primitive — count adjacent symbol pairs over the corpus's
    word-frequency table and surface the top merge candidates. This is
    exactly one iteration of BPE training with character symbols; the
    iterative loop (merge the winner, re-pair, repeat) composes this
    same job N times with the symbol table fed back in — each
    iteration is this plan, so its scale shape IS the trainer's.

    The key cost insight, same as the reference's combiner: pair
    counting runs over the WORD-FREQUENCY table (vocabulary-sized),
    not the corpus — a word seen a million times contributes its pairs
    once, weighted by its count. The corpus is touched exactly once
    (the word count); everything after is vocabulary-scale.

    Scale shape: one tokenize + word-count pass (map-side combinable);
    the pair explode is a generator over vocabulary rows ≤ word-length
    wide; the pair agg shuffles vocabulary-sized data on short string
    keys; top-K is TakeOrdered. Exact integers end to end.

    Reference analog: wc.go's word count is literally stage 1 of this
    plan (SURVEY §2.3 tokenizer extension)."""
    d = tw(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wfreq"))
    )
    pairs = (
        wf.where(F.length("word") >= 2)
        .select(
            "word",
            "wfreq",
            F.explode(F.expr("sequence(1, length(word) - 1)")).alias("i"),
        )
        .select(
            F.expr("substring(word, i, 2)").alias("pair"), "wfreq", "word"
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("wfreq").cast("long").alias("n_occurrences"),
            F.countDistinct("word").cast("long").alias("n_words"),
        )
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(Q192_TOP)
    )


# --- q193: weighted sampling without replacement (Efraimidis-Spirakis) ------

Q193_K = 100
Q193_W_DIV = 300  # weight = 1 + min(n_chars div 300, 7) -> 1..8
Q193_W_CAP = 7


def _q193_weight() -> Column:
    return 1 + F.least(
        F.floor(F.col("n_chars") / Q193_W_DIV).cast("long"), F.lit(Q193_W_CAP)
    )


@register(
    "q193_weighted_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             1 + LEAST(n_chars // {Q193_W_DIV}, {Q193_W_CAP}) AS w
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, w, unnest(generate_series(0, w - 1)) AS i FROM d
    ),
    p AS (
      SELECT doc_id, lang, w,
             md5('samp1:' || CAST(doc_id AS VARCHAR) || ':'
                 || CAST(i AS VARCHAR)) AS u
      FROM c
    ),
    a AS (
      SELECT doc_id, lang, CAST(w AS BIGINT) AS w, max(u) AS priority
      FROM p GROUP BY doc_id, lang, w
    )
    SELECT doc_id, lang, w, priority
    FROM a ORDER BY priority DESC, doc_id LIMIT {Q193_K}
    """,
    tags=("selection", "sampling", "training-pipeline"),
)
def q193_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED SAMPLING WITHOUT REPLACEMENT — Efraimidis-Spirakis
    (2006) priorities in their EXACT-INTEGER form: a document with
    integer weight w draws w independent md5 uniforms and its priority
    is their MAX (the max of w uniforms is distributed as u^(1/w) —
    the E-S key — with no ln/exp anywhere). The global top-K by
    priority is then a weight-proportional sample without replacement.
    All draws are md5 hex strings and all comparisons lexicographic,
    so the selected set is bit-deterministic in both engines — the
    float-key E-S formula (exp(ln(u)/w)) would ride on last-ulp libm
    agreement; this variant cannot wobble.

    Weights here derive from document length (1..8, capped); in
    production they're quality scores (q166) or DSIR weights (q190)
    quantized to small integers — the cap bounds the explode factor.

    Scale shape: the w-fold explode is a GENERATOR over metadata rows
    only (doc_id + small columns, never the payload), ≤ 8× row
    amplification; per-doc max collapses map-side; the global top-K is
    TakeOrdered (per-partition heaps + driver merge of K rows — no
    global sort, no single-task window). At 100 TB this is one map
    pass over metadata.

    Reference analog: none (SURVEY §2.3 sampling extension; the
    trainer-side subsampling every data-constrained run does)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", _q193_weight().alias("w")
    )
    cand = d.select(
        "doc_id",
        "lang",
        "w",
        F.explode(F.expr("sequence(0, w - 1)")).alias("i"),
    )
    pri = cand.select(
        "doc_id",
        "lang",
        "w",
        F.md5(
            F.concat(
                F.lit("samp1:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("i").cast("string"),
            )
        ).alias("u"),
    )
    return (
        pri.groupBy("doc_id", "lang", "w")
        .agg(F.max("u").alias("priority"))
        .select("doc_id", "lang", F.col("w").cast("long").alias("w"), "priority")
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(Q193_K)
    )


# --- q194: curriculum phases via scalable running token totals --------------

Q194_PHASES = 4


@register(
    "q194_curriculum_budget",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, n_chars,
             CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tok
      FROM documents
    ),
    o AS (
      SELECT doc_id, n_chars, n_tok,
             CAST(sum(n_tok) OVER (
               ORDER BY n_chars, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM d
    ),
    t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM d),
    p AS (
      SELECT o.*, LEAST(((GREATEST(cum, 1) - 1) * {Q194_PHASES}) // total,
                        {Q194_PHASES - 1}) AS phase
      FROM o, t
    )
    SELECT CAST(phase AS BIGINT) AS phase,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS phase_tokens,
           min(cum) AS cum_lo, max(cum) AS cum_hi,
           min(n_chars) AS chars_lo, max(n_chars) AS chars_hi
    FROM p GROUP BY phase ORDER BY phase
    """,
    tags=("selection", "curriculum", "training-pipeline"),
)
def q194_curriculum_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM PHASE ASSIGNMENT: order the corpus easy→hard (here
    by document length; a learned difficulty score slots in unchanged)
    and cut it into equal-TOKEN phases — each document's phase is
    determined by the RUNNING token total at its position, the way a
    curriculum dataloader consumes budgets (Bengio et al. 2009's
    schedule, materialized as a manifest).

    The interesting operator is the running total itself: the naive
    ``SUM() OVER (ORDER BY ...)`` drags the entire corpus through ONE
    task (the q17 pathology, for running sums instead of ranks). This
    plan runs :func:`operators.quantiles.global_running_sum` — q153's
    range-partition + local-prefix + broadcast-partition-subtotal
    strategy applied to cumulative sums — so no task ever holds more
    than a shuffle partition while producing the bit-identical
    inclusive running total the oracle computes with the single-task
    window. Phase arithmetic is exact integers:
    ``least((cum-1)·P div total, P-1)``.

    Scale shape: one tokenize-count map, one range shuffle, a P-row
    broadcast — the whole corpus is never globally sorted on one
    task. Output is P summary rows.

    Reference analog: none (SURVEY §2.3 training-pipeline extension;
    the scalable-running-total operator is the general contribution —
    same shape serves billing cutoffs and watermark budgeting)."""
    from ..operators.quantiles import global_running_sum

    d = tw(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(tokens_col("text")).cast("long").alias("n_tok"),
    )
    cum = global_running_sum(
        d, ["n_chars", "doc_id"], "n_tok", alias="cum"
    ).withColumn("cum", F.col("cum").cast("long"))
    tot = d.agg(F.sum("n_tok").cast("long").alias("total"))
    p = cum.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_chars",
        "n_tok",
        "cum",
        F.expr(
            f"least(((greatest(cum, 1) - 1) * {Q194_PHASES}) div total, "
            f"{Q194_PHASES - 1})"
        )
        .cast("long")
        .alias("phase"),
    )
    return (
        p.groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("phase_tokens"),
            F.min("cum").alias("cum_lo"),
            F.max("cum").alias("cum_hi"),
            F.min("n_chars").alias("chars_lo"),
            F.max("n_chars").alias("chars_hi"),
        )
        .orderBy("phase")
    )


# --- q196/q197: iterative BPE training (thirteenth persisted family) -------

BPE_MERGES = 6
Q197_TOP = 30

# Initial symbolization: one space between every character. Identical
# regex in both engines ('.' = one codepoint in Java regex and RE2).
_SYM0_SPARK = "trim(regexp_replace(word, '(.)', '$1 '))"
_SYM0_DUCK = "trim(regexp_replace(word, '(.)', '\\1 ', 'g'))"


def _merge_apply_expr(s: str, pair: str, merged: str) -> str:
    """Apply ONE merge to a space-joined symbol string, in SQL common
    to both engines: pad with sentinel spaces, then TWO sequential
    ``replace`` passes of ``' l r ' -> ' lr '``, then trim.

    Two passes are exact BPE left-to-right merge semantics for every
    pair with l != r, and for l == r chains shorter than 5: pass 1
    replaces every other occurrence in a chain (each miss lost its
    leading space to the consumed neighbor on its left); the misses
    are isolated after pass 1 — their left neighbor now ends with the
    replacement's trailing space — so pass 2 catches them all, and a
    replacement can never create a NEW occurrence of the same pair
    (the merged symbol contains no space). Verified against a
    pure-Python BPE trainer in tests/test_selection.py.

    KNOWN DIVERGENCE (l == r, run length >= 5): on a run of 5+ of the
    same symbol the pass-1 scan resumes AFTER each match, so 'aaaaa'
    merges to 'aa a aa' where greedy left-to-right gives 'aa aa a'
    (same merge count), and 'aaaaaa' yields 2 merges vs greedy's 3.
    The DuckDB oracle applies the IDENTICAL two-pass replace, so
    engine == oracle holds everywhere including these chains (pinned
    by test_bpe_self_overlap_chain_matches_oracle); only the claim of
    equality with a true-greedy trainer is restricted to the l != r /
    short-chain regime."""
    padded = f"concat(' ', {s}, ' ')"
    pat = f"concat(' ', {pair}, ' ')"
    rep = f"concat(' ', {merged}, ' ')"
    return f"trim(replace(replace({padded}, {pat}, {rep}), {pat}, {rep}))"


def _bpe_pair_counts(d: DataFrame) -> DataFrame:
    """(pair, n): adjacent-symbol pair counts over (s, wfreq) rows,
    weighted by word frequency — the BPE statistic.

    Rows whose symbolization has collapsed to a SINGLE symbol (e.g.
    the word 'he' after the merge 'h e') contribute zero pairs and are
    filtered BEFORE the pairing transform: without the filter,
    ``sequence(0, size-2)`` on a 1-symbol row is ``[0, -1]`` and the
    ``[i+1]`` index walks off the array (INVALID_ARRAY_INDEX under
    ANSI mode; NULL pairs competing in the merge argmax otherwise).
    The DuckDB oracle's range() over len-1 rows is naturally empty, so
    the filter is what keeps engine == oracle on real corpora."""
    return (
        d.where(F.size(F.split("s", " ")) >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(split(s, ' ')) - 2), "
                    "i -> concat(split(s, ' ')[i], ' ', split(s, ' ')[i+1]))"
                )
            ).alias("pair"),
            "wfreq",
        )
        .groupBy("pair")
        .agg(F.sum("wfreq").cast("long").alias("n"))
    )


def _bpe_word_freq(
    spark: SparkSession, sf_dir: str, where: Column | None = None
) -> DataFrame:
    """(word, wfreq) over the corpus — wc.go's own plan; the ONLY
    corpus-sized pass BPE training makes. ``where`` restricts the
    document set (q200's standing-carve fit)."""
    docs = tw(spark, sf_dir, "documents")
    if where is not None:
        docs = docs.where(where)
    return (
        docs.select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wfreq"))
    )


def _bpe_merges_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIT CORE for the thirteenth family (full corpus). q200's
    standing-carve fit shares :func:`_bpe_train_merges`."""
    return _bpe_train_merges(_bpe_word_freq(spark, sf_dir))


def _bpe_train_merges(wf: DataFrame) -> DataFrame:
    """BPE_MERGES iterations of (count adjacent pairs → take the
    argmax (n DESC, pair ASC) → apply the merge to the symbolization)
    over an arbitrary (word, wfreq) table. Every iteration runs on the
    VOCABULARY-sized (s, wfreq) table — the corpus was folded into
    word frequencies once, so N merges cost N tiny jobs regardless of
    corpus size (each level localCheckpointed to keep lineage flat).
    The winner is selected and applied LAZILY via a broadcast 1-row
    crossJoin — no driver round-trip inside the loop."""
    cur = (
        wf.where(F.length("word") >= 2)
        .select(F.expr(_SYM0_SPARK).alias("s"), "wfreq")
        .localCheckpoint(eager=True)
    )
    winners = []
    for r in range(BPE_MERGES):
        win = (
            _bpe_pair_counts(cur)
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .select(
                F.lit(r).cast("long").alias("merge_rank"),
                "pair",
                F.expr("replace(pair, ' ', '')").alias("merged"),
                "n",
            )
            .localCheckpoint(eager=True)
        )
        winners.append(win)
        cur = (
            cur.crossJoin(
                F.broadcast(
                    win.select(
                        F.col("pair").alias("_p"), F.col("merged").alias("_m")
                    )
                )
            )
            .select(F.expr(_merge_apply_expr("s", "_p", "_m")).alias("s"), "wfreq")
            .localCheckpoint(eager=True)
        )
    merges = winners[0]
    for w in winners[1:]:
        merges = merges.unionByName(w)
    return merges.localCheckpoint(eager=True)


(
    bpe_merges_for,
    bpe_merges_save,
    bpe_merges_load,
    bpe_merges_attach,
) = bpe_merges_family = fitted_family(
    "bpe_merges",
    "documents.parquet",
    [("merges", ["merge_rank", "pair", "merged", "n"], None)],
    _bpe_merges_fit,
    params={"n_merges": BPE_MERGES},
)


def _bpe_train_ctes(where_sql: str = "TRUE") -> str:
    """The UNROLLED oracle chain: wf → s0 → (pc_r → w_r → s_{r+1}) for
    each merge level, generated once. Each level's winner is the same
    (n DESC, pair ASC) argmax; the merge application is the identical
    two-pass padded replace. ``where_sql`` restricts the TRAINING
    document set (q200's standing-carve fit)."""
    parts = [
        f"""
    toks AS (SELECT unnest({tokens_sql('text')}) AS word
             FROM documents WHERE {where_sql}),
    wf AS MATERIALIZED (
      SELECT word, count(*) AS wfreq FROM toks GROUP BY word
    ),
    s0 AS MATERIALIZED (
      SELECT {_SYM0_DUCK} AS s, wfreq FROM wf WHERE length(word) >= 2
    )"""
    ]
    for r in range(BPE_MERGES):
        # corpus-exhaustion guard (cross-engine edge): when the
        # vocabulary runs out of adjacent pairs before BPE_MERGES
        # rounds, w{r} is EMPTY and the scalar subquery yields NULL —
        # replace(s, NULL, ...) would NULL every row. COALESCE to a
        # chr(1) sentinel that can never appear in a letters-only
        # symbolization, so exhausted levels are no-ops, exactly like
        # the Spark side's empty-winner crossJoin contributing nothing.
        pat = f"' ' || COALESCE((SELECT pair FROM w{r}), chr(1)) || ' '"
        rep = f"' ' || COALESCE((SELECT merged FROM w{r}), chr(1)) || ' '"
        parts.append(
            f"""
    pc{r} AS MATERIALIZED (
      SELECT pair, CAST(sum(wfreq) AS BIGINT) AS n
      FROM (
        SELECT unnest([l[i] || ' ' || l[i+1]
                       for i in generate_series(1, len(l) - 1)]) AS pair,
               wfreq
        FROM (SELECT string_split(s, ' ') AS l, wfreq FROM s{r})
      ) GROUP BY pair
    ),
    w{r} AS MATERIALIZED (
      SELECT CAST({r} AS BIGINT) AS merge_rank, pair,
             replace(pair, ' ', '') AS merged, n
      FROM pc{r} ORDER BY n DESC, pair LIMIT 1
    ),
    s{r + 1} AS MATERIALIZED (
      SELECT trim(replace(replace(' ' || s || ' ', {pat}, {rep}),
                          {pat}, {rep})) AS s,
             wfreq
      FROM s{r}
    )"""
        )
    return ",".join(parts)


@register(
    "q196_bpe_train",
    oracle=f"""
    WITH {_bpe_train_ctes()}
    SELECT * FROM (
      {" UNION ALL ".join(f"SELECT * FROM w{r}" for r in range(BPE_MERGES))}
    ) ORDER BY merge_rank
    """,
    tags=("selection", "tokenizer", "iterative", "training-pipeline"),
)
def q196_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE BPE TRAINING (Sennrich et al. 2016), end to end: N
    merge rounds of count-pairs → argmax → apply-merge, producing the
    fitted merge table — the THIRTEENTH persisted family
    (:func:`bpe_merges_for`, save/attach like the other twelve). q192
    is one round of this loop; this is the loop, and the oracle
    replays ALL of it — the argmax and the merge application are
    unrolled level by level in pure SQL (the two-pass padded-replace
    identity makes BPE's left-to-right merge exactly expressible), so
    the driver value-checks the entire iterative computation, not just
    a step.

    Scale shape: the corpus is touched ONCE (the word count); every
    iteration runs on the vocabulary-sized symbolization table, so N
    merges are N small jobs whose cost is independent of corpus size —
    the property that makes BPE trainable at 100 TB (the real
    tokenizer trains on exactly this word-frequency reduction). The
    per-level winner is a broadcast 1-row crossJoin, not a driver
    round-trip.

    Reference analog: wc.go's word count is stage 1 verbatim; the
    merge loop is SURVEY §2.3's tokenizer extension."""
    return bpe_merges_for(spark, sf_dir).orderBy("merge_rank")


@register(
    "q197_bpe_vocab",
    oracle=f"""
    WITH {_bpe_train_ctes()},
    allw AS MATERIALIZED (
      SELECT {_SYM0_DUCK} AS s, wfreq FROM wf
    ),
    {",".join(f'''
    a{r + 1} AS MATERIALIZED (
      SELECT trim(replace(replace(' ' || s || ' ',
                   ' ' || COALESCE((SELECT pair FROM w{r}), chr(1)) || ' ',
                   ' ' || COALESCE((SELECT merged FROM w{r}), chr(1)) || ' '),
                   ' ' || COALESCE((SELECT pair FROM w{r}), chr(1)) || ' ',
                   ' ' || COALESCE((SELECT merged FROM w{r}), chr(1)) || ' ')) AS s, wfreq
      FROM {"allw" if r == 0 else f"a{r}"}
    )''' for r in range(BPE_MERGES))}
    SELECT symbol, CAST(sum(wfreq) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(s, ' ')) AS symbol, wfreq
          FROM a{BPE_MERGES})
    GROUP BY symbol ORDER BY n DESC, symbol LIMIT {Q197_TOP}
    """,
    tags=("selection", "tokenizer", "training-pipeline"),
)
def q197_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZE-AND-COUNT — the serve half of q196's lifecycle:
    apply the FITTED merge table to every corpus word (all words this
    time, single-character ones included) in rank order, then count
    the resulting symbols weighted by word frequency — the vocabulary
    a trained tokenizer actually induces on the corpus.

    The serve reads the merge ARTIFACT (6 rows — the bounded model
    read every serve path makes, graph.py's documented tiny-read
    class) and folds the merges into one composed column expression,
    so tokenization is a single map pass over the vocabulary table
    with zero joins and zero Python. The oracle re-derives the merges
    from scratch AND re-applies them — the whole lifecycle is
    value-checked.

    Scale shape: identical to q196's — corpus touched once for word
    frequencies, everything after vocabulary-sized. The composed
    expression deepens linearly in N merges and is PARSER-limited:
    measured, ANTLR stack-overflows at roughly 80-90 nested replaces
    (the exact depth varies with the driver thread's free stack) — a
    production merge count runs
    :func:`bpe_apply_scan` (the Arrow-batched linear-scan tokenizer
    over the SAME artifact), pinned equivalent on the fitted merges
    and at 300 synthetic merges in tests/test_selection.py.

    Reference analog: none (SURVEY §2.3 tokenizer extension)."""
    merges = bpe_merges_for(spark, sf_dir)
    # bounded artifact read: N_MERGES rows, rank-ordered
    rows = sorted(
        ((r["merge_rank"], r["pair"], r["merged"]) for r in merges.collect())
    )
    wf = _bpe_word_freq(spark, sf_dir)
    expr = _SYM0_SPARK
    for _rank, pair, merged in rows:
        expr = _merge_apply_expr(
            expr, f"'{pair}'", f"'{merged}'"
        )
    return (
        wf.select(F.expr(expr).alias("s"), "wfreq")
        .select(F.explode(F.split("s", " ")).alias("symbol"), "wfreq")
        .groupBy("symbol")
        .agg(F.sum("wfreq").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "symbol")
        .limit(Q197_TOP)
    )


# --- q199: DSIR LM drift audit — WHEN to refit the selection model ---------

# Simulated arrival window: the same md5-carve idiom as q178/q187 —
# ~10% of documents "arrived since" the standing model was fitted.
Q199_INCR_HEX = "e666"
# Retrain threshold on the total-variation distance between the
# standing raw-LM bucket distribution and the arrival window's.
Q199_TV_TAU = 0.02
Q199_TOP = 10


def _sel_incr_key() -> Column:
    return F.coalesce(
        F.substring(
            F.md5(F.concat(F.lit("sel1:"), F.col("doc_id").cast("string"))), 1, 4
        ),
        F.lit("0000"),
    )


_Q199_INCR_SQL = (
    "COALESCE(substr(md5('sel1:' || CAST(doc_id AS VARCHAR)), 1, 4), '0000') "
    f">= '{Q199_INCR_HEX}'"
)


def _q199_oracle() -> str:
    return f"""
    WITH occ0 AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM documents
    ),
    occ AS (
      SELECT doc_id, substr(md5(token), 1, 2) AS bucket FROM occ0
    ),
    inc AS (SELECT doc_id FROM documents WHERE {_Q199_INCR_SQL}),
    s_c AS (SELECT bucket, count(*) AS ns FROM occ GROUP BY bucket),
    i_c AS (
      SELECT bucket, count(*) AS ni FROM occ
      WHERE doc_id IN (SELECT doc_id FROM inc) GROUP BY bucket
    ),
    tots AS (
      SELECT (SELECT CAST(sum(ns) AS DOUBLE) FROM s_c) AS ts,
             (SELECT CAST(coalesce(sum(ni), 0) AS DOUBLE) FROM i_c) AS ti
    ),
    j AS (
      SELECT s.bucket, s.ns, coalesce(i.ni, 0) AS ni,
             (s.ns + 1.0) / (ts + {DSIR_BUCKETS}.0) AS ps,
             (coalesce(i.ni, 0) + 1.0) / (ti + {DSIR_BUCKETS}.0) AS pi
      FROM s_c s LEFT JOIN i_c i USING (bucket), tots
    ),
    tv AS (SELECT round(sum(abs(pi - ps)) / 2, 4) AS tv_global FROM j)
    SELECT bucket, CAST(ns AS BIGINT) AS n_standing,
           CAST(ni AS BIGINT) AS n_incr,
           round(ps, 4) AS p_standing, round(pi, 4) AS p_incr,
           round(abs(pi - ps), 4) AS delta,
           tv_global, (tv_global >= {Q199_TV_TAU}) AS refit_recommended
    FROM j, tv
    ORDER BY round(abs(pi - ps), 4) DESC, bucket LIMIT {Q199_TOP}
    """


@register(
    "q199_dsir_lm_drift",
    oracle=_q199_oracle(),
    tags=("selection", "maintenance", "drift", "training-pipeline"),
)
def q199_dsir_lm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-MODEL DRIFT AUDIT — q177's refit-drift discipline applied
    to the twelfth family: the standing raw bucket LM serves every
    scoring job between refits (q190/q195); this query measures how
    far the ARRIVAL WINDOW's feature distribution has moved from it
    and recommends (or doesn't) the refit. The signal is the total-
    variation distance between the two add-one-smoothed bucket
    distributions — the quantity that bounds how much any DSIR weight
    can be off under the stale model — plus the top drifted buckets
    for attribution. Production twin: data-drift monitors in front of
    every learned filter (fastText quality gates, DSIR samplers) alarm
    on exactly this statistic.

    The standing side reads the FITTED family's raw count table
    (:func:`dsir_lm_for` — an attached artifact costs no fit); the
    arrival side is one bucket-count pass over the window only. Both
    are 256-row tables: the whole audit after the window scan is
    sketch-sized, broadcastable arithmetic.

    Scale shape: O(window tokens) map work + two 256-row tables —
    the audit costs a fraction of one scoring run, which is what
    makes running it on every arrival batch viable at 100 TB.

    Reference analog: none (SURVEY §2.3 monitoring extension for the
    selection lifecycle)."""
    docs = tw(spark, sf_dir, "documents")
    _target, raw = dsir_lm_for(spark, sf_dir)
    incr_occ = _dsir_occ(docs.where(_sel_incr_key() >= Q199_INCR_HEX))
    i_c = incr_occ.groupBy("bucket").agg(F.count(F.lit(1)).alias("ni"))
    ts = raw.agg(F.sum("c").cast("double").alias("ts"))
    ti = i_c.agg(
        F.coalesce(F.sum("ni"), F.lit(0)).cast("double").alias("ti")
    )
    j = (
        raw.select("bucket", F.col("c").alias("ns"))
        .join(i_c, "bucket", "left")
        .withColumn("ni", F.coalesce("ni", F.lit(0)))
        .crossJoin(F.broadcast(ts))
        .crossJoin(F.broadcast(ti))
        .select(
            "bucket",
            "ns",
            "ni",
            ((F.col("ns") + 1.0) / (F.col("ts") + float(DSIR_BUCKETS))).alias(
                "ps"
            ),
            ((F.col("ni") + 1.0) / (F.col("ti") + float(DSIR_BUCKETS))).alias(
                "pi"
            ),
        )
    )
    tv = j.agg(
        F.round(F.sum(F.abs(F.col("pi") - F.col("ps"))) / 2, 4).alias(
            "tv_global"
        )
    )
    return (
        j.crossJoin(F.broadcast(tv))
        .select(
            "bucket",
            F.col("ns").cast("long").alias("n_standing"),
            F.col("ni").cast("long").alias("n_incr"),
            F.round("ps", 4).alias("p_standing"),
            F.round("pi", 4).alias("p_incr"),
            F.round(F.abs(F.col("pi") - F.col("ps")), 4).alias("delta"),
            "tv_global",
            (F.col("tv_global") >= Q199_TV_TAU).alias("refit_recommended"),
        )
        .orderBy(F.col("delta").desc(), "bucket")
        .limit(Q199_TOP)
    )


# --- q200: tokenizer drift audit — WHEN to retrain the BPE merges ----------

# Coverage-drop threshold: if the standing tokenizer compresses the
# arrival window this much less than its own training corpus, retrain.
Q200_COV_TAU = 0.05

_Q200_STANDING_SQL = (
    "COALESCE(substr(md5('sel1:' || CAST(doc_id AS VARCHAR)), 1, 4), '0000') "
    f"< '{Q199_INCR_HEX}'"
)


def _q200_apply_chain(src: str, prefix: str) -> str:
    """Oracle fragment: apply the standing merges (w0..wN-1 CTEs from
    the training chain) to ``src``'s (s, wfreq) rows, one two-pass
    replace per level — the q197 application, parameterized so both
    corpus sides run the SAME fitted merges."""
    parts = []
    for r in range(BPE_MERGES):
        # same corpus-exhaustion sentinel as _bpe_train_ctes
        pat = f"' ' || COALESCE((SELECT pair FROM w{r}), chr(1)) || ' '"
        rep = f"' ' || COALESCE((SELECT merged FROM w{r}), chr(1)) || ' '"
        src_cte = src if r == 0 else f"{prefix}{r}"
        parts.append(
            f"""
    {prefix}{r + 1} AS MATERIALIZED (
      SELECT trim(replace(replace(' ' || s || ' ', {pat}, {rep}),
                          {pat}, {rep})) AS s, wfreq
      FROM {src_cte}
    )"""
        )
    return ",".join(parts)


def _q200_oracle() -> str:
    sym_counts = lambda chain: f"""
      SELECT symbol, CAST(sum(wfreq) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(s, ' ')) AS symbol, wfreq
            FROM {chain}{BPE_MERGES})
      GROUP BY symbol
    """
    return f"""
    WITH {_bpe_train_ctes(_Q200_STANDING_SQL)},
    sw AS MATERIALIZED (
      SELECT {_SYM0_DUCK} AS s, count(*) AS wfreq
      FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS word
            FROM documents WHERE {_Q200_STANDING_SQL})
      GROUP BY word
    ),
    iw AS MATERIALIZED (
      SELECT {_SYM0_DUCK} AS s, count(*) AS wfreq
      FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS word
            FROM documents WHERE NOT ({_Q200_STANDING_SQL}))
      GROUP BY word
    ),
    {_q200_apply_chain('sw', 'sa')},
    {_q200_apply_chain('iw', 'ia')},
    sc AS MATERIALIZED ({sym_counts('sa')}),
    ic AS MATERIALIZED ({sym_counts('ia')}),
    tots AS (
      SELECT (SELECT CAST(sum(n) AS DOUBLE) FROM sc) AS ts,
             (SELECT CAST(sum(n) AS DOUBLE) FROM ic) AS ti,
             (SELECT CAST(coalesce(sum(CASE WHEN length(symbol) > 1
                                            THEN n END), 0) AS DOUBLE)
              FROM sc) AS ms,
             (SELECT CAST(coalesce(sum(CASE WHEN length(symbol) > 1
                                            THEN n END), 0) AS DOUBLE)
              FROM ic) AS mi
    ),
    mt AS (
      -- exhausted levels (empty w{{r}}) contribute NULL merged rows;
      -- filter them so row count matches the Spark side's per-artifact-
      -- row output on a corpus that runs dry before BPE_MERGES rounds
      SELECT * FROM (
        {" UNION ALL ".join(f"SELECT CAST({r} AS BIGINT) AS merge_rank, (SELECT merged FROM w{r}) AS merged" for r in range(BPE_MERGES))}
      ) WHERE merged IS NOT NULL
    )
    SELECT m.merge_rank, m.merged,
           CAST(coalesce(s.n, 0) AS BIGINT) AS n_standing,
           CAST(coalesce(i.n, 0) AS BIGINT) AS n_incr,
           round(coalesce(s.n, 0) / ts, 4) AS share_standing,
           round(coalesce(i.n, 0) / ti, 4) AS share_incr,
           round(ms / ts, 4) AS cov_standing,
           round(mi / ti, 4) AS cov_incr,
           round(ms / ts - mi / ti, 4) AS cov_drop,
           ((ms / ts - mi / ti) >= {Q200_COV_TAU}) AS retrain_recommended
    FROM mt m
    LEFT JOIN sc s ON s.symbol = m.merged
    LEFT JOIN ic i ON i.symbol = m.merged, tots
    ORDER BY m.merge_rank
    """


@register(
    "q200_tokenizer_drift",
    oracle=_q200_oracle(),
    tags=("selection", "tokenizer", "maintenance", "drift"),
)
def q200_tokenizer_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER DRIFT AUDIT — the q177/q199 retrain signal for the
    BPE family: a tokenizer frozen at training time compresses new
    data progressively worse as the corpus drifts (new domains, new
    scripts — the merged symbols stop firing). This query fits the
    standing merges on the STANDING carve only, applies them to BOTH
    the standing corpus and the arrival window, and compares
    per-merge firing shares and the global MERGE COVERAGE (fraction
    of symbol occurrences that are multi-character, i.e. actually
    compressed); ``retrain_recommended`` trips when the arrival
    window's coverage falls ``Q200_COV_TAU`` below the training
    corpus's — the tokenizer-side n_new_clamped.

    Scale shape: one word-frequency pass per side, the N-merge fit on
    the vocabulary-sized standing table, and two vocabulary-sized
    applications — nothing corpus-sized after the word counts. The
    ENTIRE computation (training chain, both applications, both
    coverage ratios) is replayed by the oracle level-for-level.

    Reference analog: none (SURVEY §2.3 monitoring extension for the
    tokenizer lifecycle)."""
    import os

    from ._util import _cache_put, _session_cache, source_fingerprint

    standing = _sel_incr_key() < Q199_INCR_HEX
    # memoize the standing-carve fit like every other fitted artifact
    # (session cache, fingerprint-keyed): the audit is meant to run per
    # arrival batch, and refitting identical standing merges each call
    # was its whole cost (bench: 4.0 s -> serve-sized)
    cache = _session_cache(spark)
    key = ("bpe_standing",) + source_fingerprint(
        os.path.join(sf_dir, "documents.parquet")
    )
    merges = cache.get(key)
    if merges is None:
        merges = _bpe_train_merges(
            _bpe_word_freq(spark, sf_dir, where=standing)
        )
        _cache_put(cache, key, merges)
    rows = sorted(
        (r["merge_rank"], r["pair"], r["merged"]) for r in merges.collect()
    )
    expr = _SYM0_SPARK
    for _rank, pair, merged in rows:
        expr = _merge_apply_expr(expr, f"'{pair}'", f"'{merged}'")

    def side_counts(pred: Column) -> DataFrame:
        return (
            _bpe_word_freq(spark, sf_dir, where=pred)
            .select(F.expr(expr).alias("s"), "wfreq")
            .select(F.explode(F.split("s", " ")).alias("symbol"), "wfreq")
            .groupBy("symbol")
            .agg(F.sum("wfreq").cast("long").alias("n"))
        )

    sc = side_counts(standing)
    ic = side_counts(~standing)
    mcol = F.sum(
        F.when(F.length("symbol") > 1, F.col("n")).otherwise(F.lit(0))
    ).cast("double")
    tots = (
        sc.agg(F.sum("n").cast("double").alias("ts"), mcol.alias("ms"))
        .crossJoin(
            F.broadcast(
                ic.agg(
                    F.sum("n").cast("double").alias("ti"), mcol.alias("mi")
                )
            )
        )
    )
    mt = spark.createDataFrame(
        [(r, m) for r, _p, m in rows], "merge_rank bigint, merged string"
    )
    return (
        mt.join(
            sc.select(F.col("symbol").alias("_ss"), F.col("n").alias("n_s")),
            F.col("merged") == F.col("_ss"),
            "left",
        )
        .join(
            ic.select(F.col("symbol").alias("_is"), F.col("n").alias("n_i")),
            F.col("merged") == F.col("_is"),
            "left",
        )
        .crossJoin(F.broadcast(tots))
        .select(
            "merge_rank",
            "merged",
            F.coalesce("n_s", F.lit(0)).cast("long").alias("n_standing"),
            F.coalesce("n_i", F.lit(0)).cast("long").alias("n_incr"),
            F.round(F.coalesce("n_s", F.lit(0)) / F.col("ts"), 4).alias(
                "share_standing"
            ),
            F.round(F.coalesce("n_i", F.lit(0)) / F.col("ti"), 4).alias(
                "share_incr"
            ),
            F.round(F.col("ms") / F.col("ts"), 4).alias("cov_standing"),
            F.round(F.col("mi") / F.col("ti"), 4).alias("cov_incr"),
            F.round(
                F.col("ms") / F.col("ts") - F.col("mi") / F.col("ti"), 4
            ).alias("cov_drop"),
            (
                (F.col("ms") / F.col("ts") - F.col("mi") / F.col("ti"))
                >= Q200_COV_TAU
            ).alias("retrain_recommended"),
        )
        .orderBy("merge_rank")
    )


def bpe_apply_scan(col: Column, merges_rows) -> Column:
    """The PRODUCTION-merge-count tokenizer the q197/q200 docstrings
    promise: apply the fitted merge table to a space-joined
    symbolization column via ONE Arrow-batched pandas UDF that loops
    over the merges in rank order — each level the identical two-pass
    padded ``str.replace`` the composed SQL path runs (Python
    ``str.replace`` shares SQL ``replace``'s non-overlapping
    left-to-right scan, so the semantics match character for
    character, l == r chains included).

    The composed path (:func:`_merge_apply_expr` folded N times)
    deepens the SQL text linearly in merge count and is PARSER-limited
    well before codegen matters: measured, ANTLR stack-overflows at
    roughly 80-90 nested replaces, the exact depth varying with the
    driver thread's free stack (the working side is pinned at 40 in
    tests/test_selection.py) — a real 32k-merge vocabulary is three
    orders of magnitude past that. This path keeps the plan ONE node
    and moves the per-merge work into the Arrow kernel loop;
    ``merges_rows`` is the same bounded artifact read q197 makes
    (N_MERGES rows). Equivalence with the composed path is pinned both
    on the fitted merges (real corpus) and at 300 synthetic merges in
    tests/test_selection.py.

    ``merges_rows``: iterable of (merge_rank, pair, merged)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    pats = [
        (f" {pair} ", f" {merged} ")
        for _rank, pair, merged in sorted(merges_rows)
    ]

    # explicit SCALAR functionType (the modern.py idiom): the module's
    # `from __future__ import annotations` stringifies type hints, which
    # pandas_udf's hint inference cannot resolve against a local import
    @pandas_udf("string", PandasUDFType.SCALAR)
    def _apply(s):
        def one(x: str) -> str:
            x = f" {x} "
            for pat, rep in pats:
                if pat in x:
                    x = x.replace(pat, rep).replace(pat, rep)
            return x.strip()

        # na_action="ignore" keeps NULL rows NULL instead of letting the
        # f-string pad render them as the literal string "None"
        return s.map(one, na_action="ignore")

    return _apply(col)


# --- q208/q209: the retrains — q199's and q200's alarms get their acts ------


def dsir_lm_refresh(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """The RETRAIN job q199's ``refit_recommended`` calls for: refit
    BOTH 256-row bucket LMs over the FULL current corpus (standing ∪
    the arrival window whose drift tripped the alarm) and persist them
    in the twelfth family's exact layout. No boundary moves here — the
    DSIR LM is always full-corpus-as-of-fit-time; freshness lives in
    WHICH corpus snapshot the fingerprint stamps — so the params
    re-stamp unchanged and the attach gate still refuses a doctored
    bucket count or target language.

    Cost: one tokenize+bucket-count pass over the corpus — the refit
    price q199's sketch-sized audit deliberately gates."""
    dsir_lm_family.write(sf_dir, out_dir, _dsir_count_tables(spark, sf_dir))


@register(
    "q208_dsir_refresh_serve",
    oracle=None,  # set below: q190's oracle — refresh == from-scratch fit
    tags=("selection", "language-model", "lifecycle", "training-pipeline"),
)
def q208_dsir_refresh_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFRESH-THEN-SERVE for the DSIR bucket LMs — closes q199's
    alarm → act loop (the q188 pattern applied to the twelfth family):
    run :func:`dsir_lm_refresh` (full-corpus refit persisted to disk),
    ATTACH the refreshed artifact through the ordinary
    fingerprint+param gate, and serve q190's importance-weight view
    from it. A refreshed LM equals the from-scratch fit by definition,
    so this registers q190's oracle VERBATIM — the driver value-checks
    that the persisted-artifact round trip (write → stamp → gate →
    read → serve) loses nothing.

    The session cache entry is restored afterwards (the returned plan
    closes over the attached 256-row tables directly), so q208 never
    poisons a later q190/q195/q199 call in the same session.

    Scale shape: the refresh is the one corpus pass the alarm gates;
    the serve after it is q190's ordinary cost — the model side stays
    a broadcast 256-row table at any corpus size.

    Reference analog: none (SURVEY §2.3 maintenance block — the
    retrain half of the selection-model lifecycle)."""
    # plan-build reads the cache (the attached artifact) once; the
    # returned DataFrame closes over it, so the helper's finally-restore
    # cannot un-attach the served plan
    return refresh_then_serve(
        spark, sf_dir, dsir_lm_family,
        refresh_fn=dsir_lm_refresh,
        serve_fn=lambda s, d, _art: q190_dsir_importance(s, d),
    )


def bpe_merges_refresh(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """The RETRAIN job q200's ``retrain_recommended`` calls for: refit
    the BPE merge table over the FULL current corpus (the standing
    carve q200 fitted on PLUS the arrival window whose coverage drop
    tripped the alarm) and persist it in the thirteenth family's
    layout. The params re-stamp unchanged (``n_merges`` is the
    immutable contract); freshness lives in the source fingerprint.

    Cost: one word-count pass over the corpus + N vocabulary-sized
    merge rounds — q196's training price, which the coverage audit
    deliberately gates."""
    bpe_merges_family.write(
        sf_dir, out_dir, _bpe_train_merges(_bpe_word_freq(spark, sf_dir))
    )


@register(
    "q209_bpe_refresh_serve",
    oracle=None,  # set below: q197's oracle — refresh == from-scratch fit
    tags=("selection", "tokenizer", "lifecycle", "training-pipeline"),
)
def q209_bpe_refresh_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFRESH-THEN-SERVE for the BPE merge table — closes q200's
    alarm → act loop (the q188 pattern applied to the thirteenth
    family): run :func:`bpe_merges_refresh` (full-corpus retrain
    persisted to disk), ATTACH through the ordinary fingerprint+param
    gate (a doctored ``n_merges`` stamp refuses — the existing family
    test), and serve q197's induced-vocabulary view from the attached
    artifact. Registers q197's oracle VERBATIM: the driver
    value-checks the whole persisted round trip against the
    from-scratch unrolled SQL training chain.

    The session cache entry is restored afterwards, so q209 never
    poisons a later q196/q197/q198/q200 call in the same session.

    Scale shape: the retrain is q196's price (corpus touched once);
    the serve is q197's — merges folded into one composed expression
    over the vocabulary table.

    Reference analog: none (SURVEY §2.3 maintenance block — the
    retrain half of the tokenizer lifecycle)."""
    return refresh_then_serve(
        spark, sf_dir, bpe_merges_family,
        refresh_fn=bpe_merges_refresh,
        serve_fn=lambda s, d, _art: q197_bpe_vocab(s, d),
    )


def _bind_refresh_oracles() -> None:
    from ..registry import REGISTRY

    REGISTRY["q208_dsir_refresh_serve"].oracle = REGISTRY[
        "q190_dsir_importance"
    ].oracle
    REGISTRY["q209_bpe_refresh_serve"].oracle = REGISTRY[
        "q197_bpe_vocab"
    ].oracle


_bind_refresh_oracles()
