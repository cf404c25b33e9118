"""Training-data pipeline assembly operators over ``documents``.

The dedup/similarity/text-analysis plans clean and score a corpus;
these four queries are the ASSEMBLY stage that turns the cleaned corpus
into model-ready training data — the operations a 100 TB pretraining
pipeline runs after filtering and before the trainer reads a batch:

- q36 corpus shuffle  — deterministic pseudorandom permutation
- q37 sequence packing — fill fixed token budgets with contiguous docs
- q38 doc chunking     — overlapping sliding token windows per doc
- q39 mixture sampling — per-language rate-controlled downsampling

All four are pure DataFrame expressions with exact DuckDB oracles. The
shared randomness primitive is md5 over a salted key: hex md5 is
uniform, identical across engines, and ORDER/threshold comparisons on
the hex STRING avoid any cross-engine hex→int parsing. Changing the
salt string re-randomizes every epoch deterministically.

(The reference has no counterpart for any of these — SURVEY §2.2 marks
the training-pipeline block as capability extensions.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.textfns import tokens_col, tokens_sql
from ..registry import register
from ._util import t

# q37: context-window token budget per packed sequence
PACK_BUDGET = 512
# q38: sliding-window chunking geometry (tokens)
CHUNK_WINDOW = 64
CHUNK_STRIDE = 48
# q39: per-language keep rates as 2-hex-digit md5 thresholds.
# P(md5_hex < 'XY') = 0xXY/256 exactly, so '80'=1/2, '40'=1/4, '20'=1/8;
# 'g' sorts after every hex digit = keep everything.
MIX_THRESHOLDS = {"en": "g", "zh": "c0", "de": "80", "fr": "40", "es": "20"}
MIX_DEFAULT = "80"


@register(
    "q36_corpus_shuffle",
    oracle="""
    SELECT doc_id, md5('shuf1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key
    LIMIT 100
    """,
    tags=("pipeline", "shuffle", "training-pipeline"),
)
def q36_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle: order by a salted md5 of the doc id.

    Training epochs need the corpus in pseudorandom order; a salted hash
    gives a reproducible permutation (new salt = new epoch) with no RNG
    state to coordinate across executors. At scale the full permutation
    is materialized by ``orderBy(shuffle_key).write`` — a range-
    partitioned distributed sort, one shuffle, no driver involvement;
    the checkable artifact here is the permutation's head, which plans
    as TakeOrderedAndProject (k rows per partition, never a full sort).
    """
    d = t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("shuf1:"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", key.alias("shuffle_key"))
        .orderBy("shuffle_key")
        .limit(100)
    )


@register(
    "q37_pack_sequences",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang,
             CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT lang, doc_id, n_tokens,
             COALESCE(CAST(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) // {PACK_BUDGET} AS bin
      FROM sized
    )
    SELECT lang, bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_packed,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM packed
    GROUP BY lang, bin
    ORDER BY lang, bin
    """,
    tags=("pipeline", "packing", "training-pipeline"),
)
def q37_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: fill {PACK_BUDGET}-token context windows with
    contiguous documents, per language.

    bin = exclusive-prefix-sum(n_tokens) div budget — the streaming
    packer: a document goes into the current bin if any budget remains,
    so a bin may overrun by at most one document (standard
    concat-then-split packing, not best-fit). One window shuffle on
    ``lang`` + an aggregation that REUSES the lang hash partitioning
    (grouping key (lang, bin) is a superset — verified: no exchange
    between the partial and final HashAggregate); the only other
    exchange is the output sort. At 100 TB the partition key becomes
    (lang, shard) with doc order given by q36's shuffle key.
    """
    d = t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "lang", F.size(tokens_col("text")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        sized.withColumn("cum_excl", F.sum("n_tokens").over(w))
        .withColumn("bin", F.expr(f"coalesce(cum_excl, CAST(0 AS BIGINT)) div {PACK_BUDGET}"))
    )
    return (
        packed.groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens_packed"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "bin")
    )


@register(
    "q38_doc_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS tk,
             CAST(len({tokens_sql('text')}) AS BIGINT) AS n
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, n,
             unnest(range(0, (greatest(n - {CHUNK_WINDOW}, 0) + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE} + 1)) AS chunk_id,
             tk
      FROM toks
    )
    SELECT doc_id,
           chunk_id,
           chunk_id * {CHUNK_STRIDE} + 1 AS start_token,
           CAST(len(list_slice(tk, chunk_id * {CHUNK_STRIDE} + 1,
                               chunk_id * {CHUNK_STRIDE} + {CHUNK_WINDOW})) AS BIGINT)
             AS n_chunk_tokens,
           md5(array_to_string(list_slice(tk, chunk_id * {CHUNK_STRIDE} + 1,
                                          chunk_id * {CHUNK_STRIDE} + {CHUNK_WINDOW}), ' '))
             AS chunk_md5
    FROM chunks
    WHERE doc_id < 200
    ORDER BY doc_id, chunk_id
    """,
    tags=("pipeline", "chunking", "training-pipeline"),
)
def q38_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: {CHUNK_WINDOW}-token chunks every
    {CHUNK_STRIDE} tokens (overlap = window − stride), the standard
    long-document → context-window preprocessing step.

    n_chunks = 1 + ceil(max(n − window, 0) / stride), so the final
    chunk always reaches the document's last token and a short document
    yields exactly one chunk. Chunk CONTENT is surfaced as md5 so the
    oracle compares exact text without hauling full chunk strings
    through the hash. Generator-based (explode of an int sequence) —
    stays in whole-stage codegen, per-doc work is linear in n_chunks,
    nothing shuffles (the only exchange is the output sort).
    """
    d = t(spark, sf_dir, "documents")
    toks = d.where(F.col("doc_id") < 200).select(
        "doc_id",
        tokens_col("text").alias("tk"),
        F.size(tokens_col("text")).cast("long").alias("n"),
    )
    n_chunks_minus1 = f"(greatest(n - {CHUNK_WINDOW}, 0) + {CHUNK_STRIDE - 1}) div {CHUNK_STRIDE}"
    chunks = toks.select(
        "doc_id",
        "tk",
        F.expr(f"explode(sequence(CAST(0 AS BIGINT), {n_chunks_minus1}))").alias("chunk_id"),
    )
    chunk = F.expr(f"slice(tk, CAST(chunk_id * {CHUNK_STRIDE} + 1 AS INT), {CHUNK_WINDOW})")
    return chunks.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * CHUNK_STRIDE + 1).alias("start_token"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


@register(
    "q39_mixture_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, source,
             md5('mix1:' || CAST(doc_id AS VARCHAR)) AS mix_key,
             CASE lang
               WHEN 'en' THEN '{MIX_THRESHOLDS["en"]}'
               WHEN 'zh' THEN '{MIX_THRESHOLDS["zh"]}'
               WHEN 'de' THEN '{MIX_THRESHOLDS["de"]}'
               WHEN 'fr' THEN '{MIX_THRESHOLDS["fr"]}'
               WHEN 'es' THEN '{MIX_THRESHOLDS["es"]}'
               ELSE '{MIX_DEFAULT}'
             END AS threshold
      FROM documents
    )
    SELECT doc_id, lang, source, mix_key
    FROM keyed
    WHERE mix_key < threshold
    ORDER BY doc_id
    """,
    tags=("pipeline", "mixture", "sampling", "training-pipeline"),
)
def q39_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling: per-language keep rates via md5 thresholding —
    the data-mixing step that rebalances a multilingual corpus to a
    target language distribution before training.

    P(md5_hex < 'XY') is exactly 0xXY/256, and lowercase-hex string
    comparison is identical across engines, so the sample is
    deterministic, exact, and needs no hex→int conversion. The filter
    is a pure per-row predicate — pushed to the scan, no shuffle, and
    composes with q36's shuffle and q37's packing downstream. Rates
    live in one CASE expression; at scale they'd come from a broadcast
    config dimension keyed by (lang, source).
    """
    d = t(spark, sf_dir, "documents")
    threshold = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in MIX_THRESHOLDS.items() for x in kv]
        )[F.col("lang")],
        F.lit(MIX_DEFAULT),
    )
    key = F.md5(F.concat(F.lit("mix1:"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "lang", "source", key.alias("mix_key"), threshold.alias("_thr"))
        .where(F.col("mix_key") < F.col("_thr"))
        .drop("_thr")
        .orderBy("doc_id")
    )


SESSION_GAP_US = 1800 * 1_000_000  # 30 min, microseconds — q72's gap
MAX_SESSION_EVENTS = 256  # hard cap per emitted session (flood guard)


@register(
    "q154_event_sequences",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    s AS (
      SELECT *, sum(CASE WHEN gap_us IS NULL OR gap_us > {SESSION_GAP_US}
                         THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess
      FROM o
    ),
    capped AS (
      SELECT *, (row_number() OVER (PARTITION BY user_id, sess
                                    ORDER BY ts, event_id) - 1)
                  // {MAX_SESSION_EVENTS} AS chunk
      FROM s
    ),
    renum AS (
      SELECT *, dense_rank() OVER (PARTITION BY user_id
                                   ORDER BY sess, chunk) AS session_id
      FROM capped
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           -- coalesce: an all-NULL-type session is '' in Spark's
           -- array_join (it skips NULL elements) and NULL in string_agg
           coalesce(string_agg(event_type, '>' ORDER BY ts, event_id), '') AS seq,
           min(ts) AS started_at,
           CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
             AS dur_secs
    FROM renum
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    tags=("pipeline", "sessionization", "sequences", "training-pipeline"),
)
def q154_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior-sequence construction: each user's event stream split
    into sessions at >30-minute silences (q72's gap, batch-side), each
    session emitted as the ORDERED event-type string a sequence model
    trains on — the events-table analog of q37/q38's document packing.

    FLOOD GUARD: a gap-session longer than MAX_SESSION_EVENTS (256) is
    split into consecutive chunks of at most that many events — the
    same budget discipline q37 applies to token packing. Without it the
    per-session collect_list is bounded only by session length, and a
    single-user event flood (bot traffic: no 30-min silence, ever)
    makes one group — and the task holding it — unbounded. Sessions are
    renumbered densely after the split, so organic corpora (every
    session under the cap) produce byte-identical output to the
    uncapped query.

    Plan: three window passes ALL keyed by user_id — the lag/running
    sum (gap → sess), the within-session row_number (chunk), and the
    dense_rank renumber. hash(user_id) satisfies the (user_id, sess)
    clustering requirement, so Catalyst plans ONE exchange with
    re-sorts between passes; per-user fan-in stays a user's own events.
    The in-order concatenation is an array_sort over structs collected
    per (user, session) group — deterministic (ties break on event_id),
    group size ≤ the cap by construction. Gap arithmetic in integer
    MICROseconds on both engines, so sub-second timestamps cannot
    diverge under double epoch rounding."""
    e = t(spark, sf_dir, "events")
    # asc_nulls_last throughout: a NULL event time sorts to the END of
    # the user's stream in both engines (Spark's bare asc is NULLS
    # FIRST) — it then opens its own final session (NULL gap), instead
    # of displacing the session structure from the front
    _ts_order = (F.col("ts").asc_nulls_last(), F.col("event_id"))
    w = Window.partitionBy("user_id").orderBy(*_ts_order)
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    sess = F.sum(is_new).over(
        Window.partitionBy("user_id").orderBy(*_ts_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = e.select("user_id", "ts", "event_id", "event_type", sess.alias("sess"))
    chunk = F.floor(
        (
            F.row_number().over(
                Window.partitionBy("user_id", "sess").orderBy(*_ts_order)
            )
            - 1
        )
        / MAX_SESSION_EVENTS
    )
    capped = s.withColumn("chunk", chunk)
    session_id = F.dense_rank().over(
        Window.partitionBy("user_id").orderBy("sess", "chunk")
    )
    renum = capped.withColumn("session_id", session_id.cast("long"))
    ordered_types = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ),
        lambda r: r.event_type,
    )
    return (
        renum.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(ordered_types, ">").alias("seq"),
            F.min("ts").alias("started_at"),
            ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
             / F.lit(1_000_000)).cast("long").alias("dur_secs"),
        )
        .select(
            "user_id", "session_id", "n_events", "seq", "started_at", "dur_secs",
        )
        .orderBy("user_id", "session_id")
    )


TEMP_ALPHA_SQRT = True  # alpha = 0.5, computed as sqrt() (IEEE-exact both engines)
TEMP_TARGET_FRAC = 0.5  # sample ~half the corpus, redistributed across sources


@register(
    "q156_temperature_mix",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n_s FROM documents GROUP BY source
    ),
    tot AS (
      SELECT sum(sqrt(CAST(n_s AS DOUBLE))) AS z, sum(n_s) AS n FROM counts
    ),
    rates AS (
      SELECT source, n_s,
             round(least(1.0,
               (sqrt(CAST(n_s AS DOUBLE)) / z) * ({TEMP_TARGET_FRAC} * n) / n_s
             ), 6) AS rate
      FROM counts, tot
    ),
    thr AS (
      SELECT source, rate,
             CASE WHEN rate >= 1.0 THEN 'g'
                  ELSE printf('%04x', CAST(floor(rate * 65536) AS INT)) END AS hex_thr
      FROM rates
    )
    SELECT d.doc_id, d.source, t.rate
    FROM documents d JOIN thr t ON d.source = t.source
    WHERE substr(md5(concat('tmix1:', CAST(d.doc_id AS VARCHAR))), 1, 4) < t.hex_thr
    ORDER BY d.doc_id
    """,
    tags=("pipeline", "mixture", "sampling", "rebalancing", "training-pipeline"),
)
def q156_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-based source rebalancing (the mBERT/XLM exponent
    trick, alpha = 0.5): a source's share of the sampled corpus is
    proportional to sqrt(its population) instead of its population, so
    head sources are downsampled and tail sources keep (up to) all
    their documents — the data-mixing step that stops one dominant
    crawl from drowning minority sources. q39 is the fixed-rate flavor
    (rates from config); here the rates are COMPUTED from the corpus.

    Per-source acceptance rate: w_s = sqrt(n_s)/Σ sqrt(n_s) (the
    temperature weight), target volume = TEMP_TARGET_FRAC × N, so
    rate_s = min(1, w_s × target / n_s), rounded to 6 decimals — the
    cross-engine float discipline: sqrt is IEEE-correctly-rounded in
    both engines, counts are exact integers, and the rounding kills the
    Σ sqrt summation-order wobble before the threshold compare.
    Membership: the first 4 md5 hex chars of 'tmix1:'||doc_id compared
    LEXICOGRAPHICALLY against printf('%04x', floor(rate × 65536)) —
    q39's string-threshold technique (P(hex4 < H) = H/65536 exactly,
    'g' sorts after every hex digit = keep all), so the selection
    replays exactly in both engines and across epochs (salt bump
    re-randomizes) with no hex→int parsing anywhere.

    Scale shape: counts is a per-source aggregate (dozens of rows,
    broadcast); the corpus never shuffles — membership is a pure
    per-row predicate against the broadcast rate table."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tot = counts.agg(
        F.sum(F.sqrt(F.col("n_s").cast("double"))).alias("z"),
        F.sum("n_s").alias("n"),
    )
    rate = F.round(
        F.least(
            F.lit(1.0),
            (F.sqrt(F.col("n_s").cast("double")) / F.col("z"))
            * (F.lit(TEMP_TARGET_FRAC) * F.col("n"))
            / F.col("n_s"),
        ),
        6,
    )
    hex_thr = F.when(F.col("rate") >= 1.0, F.lit("g")).otherwise(
        F.format_string("%04x", F.floor(F.col("rate") * 65536).cast("int"))
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source", rate.alias("rate"), hex_thr.alias("hex_thr")
    )
    key = F.substring(
        F.md5(F.concat(F.lit("tmix1:"), F.col("doc_id").cast("string"))), 1, 4
    )
    return (
        d.join(F.broadcast(rates), "source")
        .where(key < F.col("hex_thr"))
        .select("doc_id", "source", "rate")
        .orderBy("doc_id")
    )


# --- q170: the corpus→trainer capstone ------------------------------------

def _q170_oracle() -> str:
    """q170's chained-CTE oracle: q145's gate cores (span share +
    quality4, the SAME CTE text via the shared helpers) → q148's
    closure chain over the gated docs (the q167 oracle's CTE text with
    candidates restricted to gated docs) → q167's cluster-keyed arm →
    q39's mixture thresholds → q37's packing rule — one funnel table,
    replayed stage for stage."""
    from ..functions.textfns import tokens_sql
    from .dedup import _lsh_bands_sql
    from .quality import _QUALITY4_SQL, _SPAN_PER_DOC_SQL

    arm = (
        "CASE WHEN substr(md5(CAST({k} AS VARCHAR)), 1, 4) < 'cccc' THEN 'train' "
        "WHEN substr(md5(CAST({k} AS VARCHAR)), 1, 4) < 'e666' THEN 'val' "
        "ELSE 'test' END"
    )
    mix_case = (
        "CASE d.lang "
        + " ".join(
            f"WHEN '{lang}' THEN '{thr}'" for lang, thr in MIX_THRESHOLDS.items()
        )
        + f" ELSE '{MIX_DEFAULT}' END"
    )
    stage = (
        "SELECT '{name}' AS stage, lang, CAST(count(*) AS BIGINT) AS n_docs,"
        " CAST(sum(n_tokens) AS BIGINT) AS n_tokens,"
        " CAST(NULL AS BIGINT) AS n_bins"
        " FROM sized JOIN {src} USING (doc_id) GROUP BY lang"
    )
    return f"""
    WITH RECURSIVE {_SPAN_PER_DOC_SQL},
    {_QUALITY4_SQL},
    sized AS MATERIALIZED (
      SELECT doc_id, lang, CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    curated AS MATERIALIZED (
      SELECT d.doc_id
      FROM documents d
        LEFT JOIN span_per_doc p ON d.doc_id = p.doc_id
        JOIN quality ON d.doc_id = quality.doc_id
      WHERE coalesce(p.n_shared, 0) * 10 <= coalesce(p.n_spans, 0) * 9
        AND quality.quality4 >= 5000
    ),
    {_lsh_bands_sql()},
    cbands AS (
      SELECT * FROM bands WHERE doc_id IN (SELECT doc_id FROM curated)
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cbands a JOIN cbands b
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
      SELECT doc_id, doc_id FROM curated
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    comp AS (SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY node),
    survivors AS MATERIALIZED (SELECT doc_id, cluster FROM comp WHERE doc_id = cluster),
    train AS MATERIALIZED (
      SELECT s.doc_id FROM survivors s
      WHERE {arm.format(k='s.cluster')} = 'train'
    ),
    mixed AS MATERIALIZED (
      SELECT t.doc_id
      FROM train t JOIN documents d ON d.doc_id = t.doc_id
      WHERE md5('mix1:' || CAST(t.doc_id AS VARCHAR)) < {mix_case}
    ),
    packed AS MATERIALIZED (
      SELECT s.lang, s.doc_id, s.n_tokens,
             COALESCE(CAST(sum(s.n_tokens) OVER (
               PARTITION BY s.lang ORDER BY s.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) // {PACK_BUDGET} AS bin
      FROM sized s JOIN mixed m ON m.doc_id = s.doc_id
    )
    SELECT * FROM (
      SELECT '1_raw' AS stage, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST(NULL AS BIGINT) AS n_bins
      FROM sized GROUP BY lang
      UNION ALL {stage.format(name='2_curated', src='curated')}
      UNION ALL {stage.format(name='3_dedup', src='survivors')}
      UNION ALL {stage.format(name='4_train', src='train')}
      UNION ALL {stage.format(name='5_mixture', src='mixed')}
      UNION ALL
      SELECT '6_packed', lang, CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT), CAST(max(bin) + 1 AS BIGINT)
      FROM packed GROUP BY lang
    )
    ORDER BY stage, lang
    """


@register(
    "q170_corpus_to_trainer",
    oracle=_q170_oracle(),
    tags=("pipeline", "capstone", "dedup", "quality", "split", "packing",
          "mixture", "training-pipeline"),
)
def q170_corpus_to_trainer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPSTONE: one oracle-checked corpus→trainer chain composing
    the catalog's stages end to end, surfacing per-stage survivorship
    per language:

    1. **raw** — the crawl (documents as landed).
    2. **curated** — q145's gate cores (q09's skew-safe span share,
       q63's integer-exact quality score), with two deliberate
       capstone adjustments: (a) no language gate — the capstone
       targets a MULTILINGUAL trainer, so language treatment is q39's
       per-language mixture rates (stage 5), not a hard gate; (b) the
       span gate drops a doc only when >90% of its spans are cross-doc
       boilerplate (q145's standalone majority rule would double-count
       the near-dup mass stage 3's closure is about to remove — and on
       the synthetic corpus at sf0.1, where 3-token spans collide
       pervasively, it degenerates to drop-everything).
    3. **dedup** — q148's closure over the curated corpus (memoized
       band table filtered to survivors of stage 2, merge-pinned band
       self-join, salted Jaccard verify on candidates only,
       pointer-jumped connected components), keeping one
       representative per near-dup cluster (the min-id doc — the
       cluster label itself).
    4. **train** — q167's cluster-keyed split arm (md5 of the CLUSTER,
       never the doc, so near-dups can't straddle arms even before
       dedup picks representatives); the funnel follows the train arm.
    5. **mixture** — q39's per-language md5-threshold sampling
       rebalances the multilingual mix.
    6. **packed** — q37's budget packing (exclusive prefix sum div
       {PACK_BUDGET} per lang): final n_bins is the number of packed
       context windows the trainer will read.

    Scale shape: no stage adds cost beyond its standalone query — the
    span/quality gates are one tokenize + one span shuffle + a pure
    map; the closure rides the memoized band table (filtered BEFORE
    the self-join, so curation shrinks the quadratic); split/mixture
    are pure maps; packing is one window per lang. Every stage's doc
    set is a doc_id semi-join against the shared ``sized`` scan. The
    oracle replays all six stages in one chained CTE (the q148/q167
    discipline), so the composed per-stage counts and token totals —
    not just the final table — are value-checked cross-engine.

    Reference analog: none (SURVEY §2.3 — the training-pipeline block
    is a capability extension; this query is its composition proof)."""
    from ..operators.graph import connected_components
    from ._util import tw
    from .dedup import (
        jaccard_verified_pairs,
        lsh_bands_for,
        lsh_candidate_pairs_df,
    )
    from .quality import _span_share, quality4_df

    d = t(spark, sf_dir, "documents")
    docs = tw(spark, sf_dir, "documents")
    # (doc_id, lang, n_tokens) feeds all six funnel branches — built
    # from the FANNED frame (tokenize is CPU-bound and the raw parquet
    # scan is one split at test SF), then lazily checkpointed so the
    # corpus tokenizes ONCE, not once per stage branch of the final
    # union (3 narrow columns, linear in docs)
    sized = docs.select(
        "doc_id", "lang", F.size(tokens_col("text")).cast("long").alias("n_tokens")
    ).localCheckpoint(eager=False)

    # stage 2: q145's gates (span-dedup keep AND quality >= 0.5)
    per_doc = _span_share(docs)
    curated = (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(quality4_df(docs), "doc_id")
        .where(
            (F.coalesce("n_shared", F.lit(0)) * 10
             <= F.coalesce("n_spans", F.lit(0)) * 9)
            & (F.col("quality4") >= 5000)
        )
        .select("doc_id")
        # eager: the span-share + quality subtree is the chain's most
        # expensive gate and THREE consumers read it (stage-2 branch,
        # the band filter feeding the closure, the CC node set) — one
        # doc_id column, materialized once
        .localCheckpoint(eager=True)
    )

    # stage 3: q148's closure over the CURATED corpus — filter the
    # memoized band table before the self-join so curation shrinks the
    # candidate quadratic instead of post-filtering pairs
    bands = lsh_bands_for(spark, sf_dir).join(curated, "doc_id", "left_semi")
    cand = lsh_candidate_pairs_df(docs, bands=bands)
    ver = jaccard_verified_pairs(docs, cand)
    comp = connected_components(
        curated, ver, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    cmap = comp.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster")
    )
    survivors = cmap.where(F.col("doc_id") == F.col("cluster"))

    # stage 4: q167's cluster-keyed arm
    h = F.substring(F.md5(F.col("cluster").cast("string")), 1, 4)
    train = (
        survivors.where(
            F.when(h < "cccc", "train").when(h < "e666", "val").otherwise("test")
            == "train"
        ).select("doc_id")
    )

    # stage 5: q39's per-language mixture thresholds
    threshold = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in MIX_THRESHOLDS.items() for x in kv]
        )[F.col("lang")],
        F.lit(MIX_DEFAULT),
    )
    mix_key = F.md5(F.concat(F.lit("mix1:"), F.col("doc_id").cast("string")))
    # lang comes from the already-checkpointed sized — no second
    # documents scan for a column pair the checkpoint carries
    mixed = (
        train.join(sized.select("doc_id", "lang"), "doc_id")
        .where(mix_key < threshold)
        .select("doc_id")
    )

    # stage 6: q37's packing over the sampled train docs
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        sized.join(mixed, "doc_id", "left_semi")
        .withColumn("cum_excl", F.sum("n_tokens").over(w))
        .withColumn(
            "bin",
            F.expr(f"coalesce(cum_excl, CAST(0 AS BIGINT)) div {PACK_BUDGET}"),
        )
    )

    def stage(name: str, ids: DataFrame | None) -> DataFrame:
        base = sized if ids is None else sized.join(ids, "doc_id", "left_semi")
        return base.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        ).select(
            F.lit(name).alias("stage"),
            "lang",
            "n_docs",
            "n_tokens",
            F.lit(None).cast("long").alias("n_bins"),
        )

    funnel = (
        stage("1_raw", None)
        .unionAll(stage("2_curated", curated))
        .unionAll(stage("3_dedup", survivors.select("doc_id")))
        .unionAll(stage("4_train", train))
        .unionAll(stage("5_mixture", mixed))
        .unionAll(
            packed.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                (F.max("bin") + 1).alias("n_bins"),
            )
            .select(
                F.lit("6_packed").alias("stage"),
                "lang", "n_docs", "n_tokens", "n_bins",
            )
        )
    )
    return funnel.orderBy("stage", "lang")


# --- q173: the dedup-FIRST recomposition of the capstone -------------------

def _q173_oracle() -> str:
    """q173's chained-CTE oracle: q148's closure over the RAW corpus →
    q145's gate cores evaluated on the SURVIVOR corpus only (the span
    doc-frequency is recomputed post-dedup — the whole point of this
    ordering) → q167's cluster-keyed arm → q39's mixture → q37's
    packing. Same helpers as q170's oracle; only the chain order and
    the span-gate scope differ."""
    from ..functions.textfns import tokens_sql
    from .dedup import _lsh_bands_sql
    from .quality import _QUALITY4_SQL, _SPANS_SQL

    arm = (
        "CASE WHEN substr(md5(CAST({k} AS VARCHAR)), 1, 4) < 'cccc' THEN 'train' "
        "WHEN substr(md5(CAST({k} AS VARCHAR)), 1, 4) < 'e666' THEN 'val' "
        "ELSE 'test' END"
    )
    mix_case = (
        "CASE d.lang "
        + " ".join(
            f"WHEN '{lang}' THEN '{thr}'" for lang, thr in MIX_THRESHOLDS.items()
        )
        + f" ELSE '{MIX_DEFAULT}' END"
    )
    stage = (
        "SELECT '{name}' AS stage, lang, CAST(count(*) AS BIGINT) AS n_docs,"
        " CAST(sum(n_tokens) AS BIGINT) AS n_tokens,"
        " CAST(NULL AS BIGINT) AS n_bins"
        " FROM sized JOIN {src} USING (doc_id) GROUP BY lang"
    )
    return f"""
    WITH RECURSIVE {_lsh_bands_sql()},
    sized AS MATERIALIZED (
      SELECT doc_id, lang, CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    cand AS MATERIALIZED (
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
    survivors AS MATERIALIZED (
      SELECT doc_id, cluster FROM comp WHERE doc_id = cluster
    ),
    stok AS MATERIALIZED (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents
      WHERE doc_id IN (SELECT doc_id FROM survivors)
    ),
    sspans AS (
      SELECT doc_id, md5(unnest({_SPANS_SQL})) AS span_hash FROM stok
    ),
    sgc AS (
      SELECT span_hash, count(DISTINCT doc_id) AS n_docs
      FROM sspans GROUP BY span_hash
    ),
    span_per_doc AS (
      SELECT s.doc_id,
             count(*) AS n_spans,
             CAST(sum(CASE WHEN g.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared
      FROM sspans s JOIN sgc g ON s.span_hash = g.span_hash
      GROUP BY s.doc_id
    ),
    {_QUALITY4_SQL},
    curated AS MATERIALIZED (
      SELECT s.doc_id
      FROM survivors s
        LEFT JOIN span_per_doc p ON s.doc_id = p.doc_id
        JOIN quality ON s.doc_id = quality.doc_id
      WHERE coalesce(p.n_shared, 0) * 10 <= coalesce(p.n_spans, 0) * 9
        AND quality.quality4 >= 5000
    ),
    train AS MATERIALIZED (
      SELECT s.doc_id FROM survivors s
      JOIN curated c ON c.doc_id = s.doc_id
      WHERE {arm.format(k='s.cluster')} = 'train'
    ),
    mixed AS MATERIALIZED (
      SELECT t.doc_id
      FROM train t JOIN documents d ON d.doc_id = t.doc_id
      WHERE md5('mix1:' || CAST(t.doc_id AS VARCHAR)) < {mix_case}
    ),
    packed AS MATERIALIZED (
      SELECT s.lang, s.doc_id, s.n_tokens,
             COALESCE(CAST(sum(s.n_tokens) OVER (
               PARTITION BY s.lang ORDER BY s.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) // {PACK_BUDGET} AS bin
      FROM sized s JOIN mixed m ON m.doc_id = s.doc_id
    )
    SELECT * FROM (
      SELECT '1_raw' AS stage, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST(NULL AS BIGINT) AS n_bins
      FROM sized GROUP BY lang
      UNION ALL {stage.format(name='2_dedup', src='survivors')}
      UNION ALL {stage.format(name='3_curated', src='curated')}
      UNION ALL {stage.format(name='4_train', src='train')}
      UNION ALL {stage.format(name='5_mixture', src='mixed')}
      UNION ALL
      SELECT '6_packed', lang, CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT), CAST(max(bin) + 1 AS BIGINT)
      FROM packed GROUP BY lang
    )
    ORDER BY stage, lang
    """


@register(
    "q173_trainer_dedup_first",
    oracle=_q173_oracle(),
    tags=("pipeline", "capstone", "dedup", "quality", "split", "packing",
          "mixture", "training-pipeline"),
)
def q173_trainer_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q170's stages recomposed DEDUP-FIRST — the ordering for a corpus
    where replication dominates (mirror crawls, CommonCrawl re-fetches):

    1. **raw** — the crawl as landed.
    2. **dedup** — q148's closure over the RAW corpus (full memoized
       band table, candidates-only Jaccard verify, pointer-jumped CC),
       one representative per near-dup cluster.
    3. **curated** — q145's gates on the SURVIVOR corpus: the span
       doc-frequency is recomputed post-dedup, so a span shared only
       among clones of one document is no longer "cross-doc" — exactly
       the signal q170's gate-first ordering destroys on a replicated
       corpus (SCALING.md round-12: 10× clone fixture → gate-first
       curated = ∅; here survivors ≈ one per clone family). Gate
       thresholds are IDENTICAL to q170's (>90% boilerplate span share,
       quality4 ≥ 5000) so the two funnels differ only in ordering.
    4. **train** — q167's cluster-keyed arm (md5 of the cluster label).
    5. **mixture** — q39's per-language thresholds.
    6. **packed** — q37's budget packing.

    Scale shape: the closure now runs over the raw corpus (no curated
    pre-filter shrinks the band self-join — the price of this
    ordering, which is why q170's gate-first form is the default for
    organic corpora, per FineWeb); the gates then tokenize only
    survivors. Both orderings ride the same memoized band table and
    the same per-stage semi-join funnel discipline.

    Reference analog: none (SURVEY §2.3 capability extension; this is
    the composition proof for the dedup-first ordering)."""
    from ..operators.graph import connected_components
    from ._util import tw
    from .dedup import (
        jaccard_verified_pairs,
        lsh_bands_for,
        lsh_candidate_pairs_df,
    )
    from .quality import _span_share, quality4_df

    d = t(spark, sf_dir, "documents")
    docs = tw(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "lang", F.size(tokens_col("text")).cast("long").alias("n_tokens")
    ).localCheckpoint(eager=False)

    # stage 2: q148's closure over the raw corpus
    bands = lsh_bands_for(spark, sf_dir)
    cand = lsh_candidate_pairs_df(docs, bands=bands)
    ver = jaccard_verified_pairs(docs, cand)
    comp = connected_components(
        d.select("doc_id"), ver, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    # eager: the closure subtree is the chain's most expensive stage and
    # THREE consumers read its survivor set (stage-2 branch, the
    # survivor-corpus gates, the train arm) — two narrow columns
    survivors = (
        comp.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster"))
        .where(F.col("doc_id") == F.col("cluster"))
        .localCheckpoint(eager=True)
    )

    # stage 3: q145's gates over the SURVIVOR corpus only
    sdocs = docs.join(survivors.select("doc_id"), "doc_id", "left_semi")
    per_doc = _span_share(sdocs)
    curated = (
        survivors.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(quality4_df(sdocs), "doc_id")
        .where(
            (F.coalesce("n_shared", F.lit(0)) * 10
             <= F.coalesce("n_spans", F.lit(0)) * 9)
            & (F.col("quality4") >= 5000)
        )
        .select("doc_id")
    )

    # stage 4: q167's cluster-keyed arm over gated survivors
    h = F.substring(F.md5(F.col("cluster").cast("string")), 1, 4)
    train = (
        survivors.join(curated, "doc_id", "left_semi")
        .where(
            F.when(h < "cccc", "train").when(h < "e666", "val").otherwise("test")
            == "train"
        )
        .select("doc_id")
    )

    # stage 5: q39's per-language mixture thresholds
    threshold = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in MIX_THRESHOLDS.items() for x in kv]
        )[F.col("lang")],
        F.lit(MIX_DEFAULT),
    )
    mix_key = F.md5(F.concat(F.lit("mix1:"), F.col("doc_id").cast("string")))
    mixed = (
        train.join(sized.select("doc_id", "lang"), "doc_id")
        .where(mix_key < threshold)
        .select("doc_id")
    )

    # stage 6: q37's packing
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        sized.join(mixed, "doc_id", "left_semi")
        .withColumn("cum_excl", F.sum("n_tokens").over(w))
        .withColumn(
            "bin",
            F.expr(f"coalesce(cum_excl, CAST(0 AS BIGINT)) div {PACK_BUDGET}"),
        )
    )

    def stage(name: str, ids: DataFrame | None) -> DataFrame:
        base = sized if ids is None else sized.join(ids, "doc_id", "left_semi")
        return base.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        ).select(
            F.lit(name).alias("stage"),
            "lang",
            "n_docs",
            "n_tokens",
            F.lit(None).cast("long").alias("n_bins"),
        )

    funnel = (
        stage("1_raw", None)
        .unionAll(stage("2_dedup", survivors.select("doc_id")))
        .unionAll(stage("3_curated", curated))
        .unionAll(stage("4_train", train))
        .unionAll(stage("5_mixture", mixed))
        .unionAll(
            packed.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                (F.max("bin") + 1).alias("n_bins"),
            )
            .select(
                F.lit("6_packed").alias("stage"),
                "lang", "n_docs", "n_tokens", "n_bins",
            )
        )
    )
    return funnel.orderBy("stage", "lang")


# --- q183: epoch-aware repetition sampling ---------------------------------

# Per-language epoch budgets: (whole epochs, fractional-epoch md5
# threshold — first 2 hex chars, so P(extra copy) = 0xXY/256). en 2.5
# epochs, fr 1.5, es/de 1.0, zh 0.5 — the data-constrained regime where
# high-value subsets repeat and low-value ones subsample.
EPOCH_BUDGETS = {
    "en": (2, "80"),
    "fr": (1, "80"),
    "es": (1, "00"),
    "de": (1, "00"),
    "zh": (0, "80"),
}
_EPOCH_MAX = max(b for b, _ in EPOCH_BUDGETS.values()) + 2  # range() bound


def _q183_oracle() -> str:
    base_case = " ".join(
        f"WHEN '{lang}' THEN {base}" for lang, (base, _) in EPOCH_BUDGETS.items()
    )
    frac_case = " ".join(
        f"WHEN '{lang}' THEN '{frac}'" for lang, (_, frac) in EPOCH_BUDGETS.items()
    )
    return f"""
    WITH k AS (
      SELECT lang, n_chars,
             (CASE lang {base_case} ELSE 1 END)
             + (CASE WHEN substr(md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 2)
                          < (CASE lang {frac_case} ELSE '00' END)
                     THEN 1 ELSE 0 END) AS n_copies
      FROM documents
    ),
    e AS (
      SELECT k.lang, k.n_chars, r.epoch
      FROM k JOIN (SELECT range AS epoch FROM range(0, {_EPOCH_MAX})) r
        ON r.epoch < k.n_copies
    )
    SELECT lang, epoch, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM e
    GROUP BY lang, epoch
    ORDER BY lang, epoch
    """


@register(
    "q183_epoch_repetition",
    oracle=_q183_oracle(),
    tags=("pipeline", "mixture", "sampling", "training-pipeline"),
)
def q183_epoch_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-AWARE REPETITION SAMPLING: the data-constrained training
    regime (Muennighoff et al. 2023, "Scaling Data-Constrained
    Language Models" — repeating data up to ~4 epochs is nearly as
    good as fresh data) needs FRACTIONAL epochs per subset: en at 2.5
    epochs, fr at 1.5, zh subsampled to 0.5. Every document of a
    language gets its whole-epoch copies, plus one more iff
    md5('ep1:'||doc_id) falls under the language's fractional
    threshold — the q39/q46 determinism idiom lifted from keep/drop to
    copy COUNTS, so every worker (and every rerun, and the oracle)
    agrees on exactly which documents repeat without any coordination
    or RNG state. The result is the per-(language, epoch) manifest —
    documents and characters a trainer reads per pass.

    Plan shape: one scan; copies materialize as
    ``explode(sequence(0, n_copies-1))`` — a generator, not a join, so
    the only shuffle is the final group-sized aggregation. The row
    multiplication is bounded by the max budget (≤ {m}×), and at 100 TB
    the explode happens AFTER the pack-selection filters, on doc ids +
    metadata, never on payload text (the downstream packer re-joins
    text by id per epoch — q37's discipline).

    Reference analog: none (SURVEY §2.3 training-pipeline extension);
    composes with q39 (mixture rates), q36 (shuffle), q37 (packing)."""
    base = F.coalesce(
        F.create_map(
            *[
                x
                for lang, (b, _) in EPOCH_BUDGETS.items()
                for x in (F.lit(lang), F.lit(b))
            ]
        )[F.col("lang")],
        F.lit(1),
    )
    frac = F.coalesce(
        F.create_map(
            *[
                x
                for lang, (_, fr) in EPOCH_BUDGETS.items()
                for x in (F.lit(lang), F.lit(fr))
            ]
        )[F.col("lang")],
        F.lit("00"),
    )
    key = F.substring(
        F.md5(F.concat(F.lit("ep1:"), F.col("doc_id").cast("string"))), 1, 2
    )
    # when(key < frac) — not a bare cast — so a NULL doc_id's NULL
    # comparison lands in otherwise(0) exactly like SQL CASE's
    # not-true branch (a cast would propagate NULL and silently drop
    # the row from every epoch)
    d = t(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        (base + F.when(key < frac, 1).otherwise(0)).alias("n_copies"),
    )
    e = d.where(F.col("n_copies") > 0).select(
        "lang",
        "n_chars",
        F.explode(
            F.expr("sequence(CAST(0 AS BIGINT), CAST(n_copies - 1 AS BIGINT))")
        ).alias("epoch"),
    )
    return (
        e.groupBy("lang", "epoch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", "epoch")
    )


q183_epoch_repetition.__doc__ = q183_epoch_repetition.__doc__.format(
    m=_EPOCH_MAX - 1
)
