"""Shared plan helpers.

Cross-engine float discipline: Spark and DuckDB may sum doubles in
different orders, so every aggregated double surfaced to the driver's
value-hash is wrapped in ``round(, N)``. Rounding a sum whose
order-dependent wobble is ~1e-10 relative makes the two engines
bit-identical except on astronomically unlikely boundary values.
Row-level arithmetic (same ops, same inputs) is bit-identical without
rounding, but we still round surfaced metrics for stable display.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import fan_out, load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def tw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Wide load: ``load_table`` + ``fan_out`` — for pipelines whose cost
    is CPU-bound per-row compute (tokenize/minhash/simhash/vector math),
    where an under-parallelized scan serializes the whole stage."""
    return fan_out(load_table(spark, sf_dir, name))


def money_sum(col: str = "value", alias: str = "total_value") -> Column:
    """Order-independent money sum: accumulate integer cents, surface
    dollars. ``sum(bigint)/100.0`` is a deterministic function of an
    exact integer, so Spark and DuckDB produce bit-identical doubles
    regardless of partitioning/summation order. Shared by the batch
    window plans and their streaming twins."""
    return (F.sum(F.expr(f"CAST(round({col} * 100) AS BIGINT)")) / 100.0).alias(alias)


def rsum(col: Column | str, alias: str, nd: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c), nd).alias(alias)


def ravg(col: Column | str, alias: str, nd: int = 4) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.avg(c), nd).alias(alias)


def source_fingerprint(src_path: str) -> tuple:
    """The one fingerprint for a source file: (realpath, size,
    mtime_ns). realpath — not abspath — so an index saved against the
    real path and attached via a symlinked fixture dir (the stream
    staging dirs are symlinks) resolves to the SAME identity, and two
    path spellings of one file can't defeat the staleness check."""
    import os

    real = os.path.realpath(src_path)
    st = os.stat(real)
    return (real, st.st_size, st.st_mtime_ns)


def write_index_meta(
    out_dir: str,
    src_path: str,
    schemas: dict[str, str] | None = None,
    params: dict | None = None,
) -> None:
    """Stamp a persisted index with its source file's fingerprint
    (realpath + size + mtime_ns — the same triple the session cache
    keys on), so a later attach can detect staleness instead of
    silently serving an index fitted on superseded data.

    ``schemas`` maps sub-table name -> fitted ``schema.json()``. Loads
    use it to restore exact fitted types: parquet partition-column
    discovery re-infers types from directory values (an int-looking
    ``cluster=7`` reads back IntegerType even when the fitted column
    was LongType), and without the cast an attached index poisons the
    serving session's schema and fails the type-tagged value hash.

    ``params`` are the FIT parameters (plane counts, table counts,
    split keys …) the artifact's layout depends on. Attach validates
    them (:func:`check_index_meta` ``expect_params``) — an index whose
    bucket columns were keyed at 8 planes silently probes a wrong
    neighbor set if served by code expecting a different plane count,
    so a mismatch must refuse, not mislead."""
    import json
    import os

    fp = source_fingerprint(src_path)
    meta = {"source": fp[0], "size": fp[1], "mtime_ns": fp[2]}
    if schemas:
        meta["schemas"] = schemas
    if params:
        meta["params"] = params
    with open(os.path.join(out_dir, "_meta.json"), "w") as f:
        json.dump(meta, f)


def check_index_meta(
    out_dir: str,
    src_path: str,
    expect_params: dict | None = None,
    mutable_keys: tuple = (),
) -> tuple:
    """Validate a persisted index against the CURRENT source file.
    Returns the session-cache key fingerprint tail (realpath, size,
    mtime_ns) on success; raises ValueError when the index predates a
    source regeneration (same staleness discipline as the in-session
    fingerprint keys — a stale index must refuse to serve, not
    quietly return results fitted on other data).

    ``expect_params``: the fit parameters the SERVING code assumes.
    A saved artifact stamped with different params (or predating the
    param stamp entirely) refuses with ValueError — the plane-count
    class of silent divergence (a bucket column keyed at n planes
    probed by code expecting m planes returns a wrong neighbor set
    with no error anywhere).

    ``mutable_keys``: params whose VALUE may legitimately differ
    between the stamp and the serving default because the serving
    code reads the stamped value at runtime (the refresh lifecycle's
    moved standing boundary). A mutable key must still be PRESENT in
    the stamp; only the equality check is waived."""
    import json
    import os

    with open(os.path.join(out_dir, "_meta.json")) as f:
        meta = json.load(f)
    cur = source_fingerprint(src_path)
    # realpath the STORED source too: indexes saved before the realpath
    # switch stamped abspath, so an index saved via a symlinked staging
    # dir would otherwise read as spuriously stale and force a refit.
    if cur != (os.path.realpath(meta["source"]), meta["size"], meta["mtime_ns"]):
        raise ValueError(
            f"persisted index at {out_dir} is stale: fitted on "
            f"{(meta['source'], meta['size'], meta['mtime_ns'])}, "
            f"current source is {cur} — refit (…_index_save) or point "
            "at the matching data"
        )
    if expect_params:
        got = meta.get("params")
        ok = (
            got is not None
            and set(got) == set(expect_params)
            and all(
                k in mutable_keys or got[k] == v
                for k, v in expect_params.items()
            )
        )
        if not ok:
            raise ValueError(
                f"persisted index at {out_dir} was fitted with params "
                f"{got}, but this serving code expects {expect_params} "
                f"(mutable: {list(mutable_keys)}) — a mismatched index "
                "silently serves wrong neighbors; refit (…_index_save) "
                "with the current code"
            )
    return cur


def _session_cache(spark) -> dict:
    """Per-session index cache: {fingerprint key: artifact}, stored AS
    AN ATTRIBUTE of the session object itself. Lifetime therefore
    equals the session's: when the session is dropped, the dict — and
    the localCheckpoint blocks its DataFrames pin — goes with it. No
    module-global registry: a global map keyed by session (even a
    WeakKeyDictionary) can never evict, because each cached DataFrame
    holds a strong reference back to its session, keeping the key
    reachable through the map's own values; attached to the session,
    that same reference is just an internal cycle the garbage
    collector handles. (id(spark) keys were worse still: never
    evictable AND a recycled id could alias a new session onto a dead
    session's DataFrames.)"""
    d = getattr(spark, "_mms_index_cache", None)
    if d is None:
        d = {}
        spark._mms_index_cache = d
    return d


def _cache_evict(value) -> None:
    """Best-effort release of an evicted cache entry's checkpoint
    blocks. Entries are DataFrames or tuples of DataFrames, each the
    result of an eager ``localCheckpoint``; unpersisting tells the
    block manager now instead of waiting for the session to die."""
    dfs = value if isinstance(value, tuple) else (value,)
    for df in dfs:
        try:
            df.unpersist()
        except Exception:
            pass


def _cache_put(cache: dict, key: tuple, value) -> None:
    """Insert an index artifact, dropping any entry it supersedes.

    Keys are (kind, realpath, size, mtime_ns): when a source file is
    regenerated IN PLACE, the fingerprint changes but (kind, realpath)
    stays — without this sweep the old entry (and the eagerly
    localCheckpointed blocks its DataFrames pin) leaks until the
    session dies. Distinct paths (other sf dirs) are untouched."""
    for k in [k for k in cache if k[:2] == key[:2] and k != key]:
        _cache_evict(cache.pop(k))
    cache[key] = value


class Family:
    """What :func:`fitted_family` returns: the four lifecycle functions,
    the family's identity (``kind``, the session-cache tag; ``source``,
    the fingerprinted file) and its ONE artifact writer ``write``.
    Iterating yields ``(for, save, load, attach)``, the quartet each
    definition site binds to module-level names."""

    def __init__(self, kind, source, for_, save, load, attach, write):
        self.kind, self.source = kind, source
        self.for_, self.save, self.load, self.attach = for_, save, load, attach
        self.write = write

    def __iter__(self):
        return iter((self.for_, self.save, self.load, self.attach))


def fitted_family(
    kind: str,
    source: str,
    tables: list[tuple],
    fit,
    prime_extra=None,
    params: dict | None = None,
    mutable: tuple = (),
) -> Family:
    """Factory for the fit/save/load/attach quartet every persisted
    model family shares — ONE implementation of the artifact
    lifecycle instead of a hand-rolled copy per family:

    - ``<family>_for(spark, sf_dir, **fit_kwargs)``: the memoized fit
      — once per (session, source fingerprint), served from the
      session cache thereafter. ``fit(spark, sf_dir, **kwargs)`` must
      return one DataFrame per entry in ``tables`` (a bare DataFrame
      for single-table families), each already localCheckpointed if
      the family wants eager materialization.
    - ``write(sf_dir, out_dir, value, **moved)``: the ONE artifact
      writer — every sub-table to ``out_dir/<name>`` parquet
      (partitioned where the table declares a partition column),
      stamped with the source fingerprint, each table's fitted schema,
      and the fit ``params`` with ``moved`` applied. A refresh builds
      its tables and hands them here with the moved values; moving a
      param that is not ``mutable`` raises ValueError before anything
      is written.
    - ``<family>_save(spark, sf_dir, out_dir)``: fit (the memo), then
      ``write``.
    - ``<family>_load(spark, out_dir)``: read the sub-tables back
      through :func:`read_index_table` so partition-column type
      re-inference can never change the serving schema.
    - ``<family>_attach(spark, sf_dir, out_dir)``: fingerprint- AND
      param-checked (stale or mismatched → ValueError), then primed
      into the session cache under exactly the key ``_for`` computes,
      so every consumer transparently serves from disk with no refit.
      ``prime_extra(cache, fp, value)`` hooks families that maintain
      a second cache entry (IVF's standalone codebook key).

    ``kind``: the session-cache kind tag. ``source``: the fingerprint
    base file inside ``sf_dir`` (e.g. ``embeddings.parquet``).
    ``tables``: [(subdir, [cols...], partition_col | None), ...] in
    the same order ``fit`` returns DataFrames. ``params`` rides the
    meta stamp and is REQUIRED to match at attach; it is also tagged
    onto every served DataFrame as ``_mms_fit_params`` so serving
    helpers can validate an explicitly-passed artifact (the
    lsh_multitable_hits plane-count check, :func:`standing_hex`).
    ``mutable`` names params whose stamped value may differ from the
    fit-time default (the refresh lifecycle's moved standing
    boundary): attach still requires them PRESENT, and loads tag the
    ARTIFACT's stamped values so serving code binds to what was
    actually fitted."""
    import os

    def _tag(value, stamped: dict | None = None):
        eff = stamped if stamped is not None else params
        if eff:
            for df in value if isinstance(value, tuple) else (value,):
                df._mms_fit_params = dict(eff)
        return value

    def for_fn(spark, sf_dir: str, **fit_kwargs):
        src = os.path.join(sf_dir, source)
        cache = _session_cache(spark)
        key = (kind,) + source_fingerprint(src)
        value = cache.get(key)
        if value is None:
            value = _tag(fit(spark, sf_dir, **fit_kwargs))
            _cache_put(cache, key, value)
        return value

    def write_fn(sf_dir: str, out_dir: str, value, **moved) -> None:
        fixed = sorted(set(moved) - set(mutable))
        if fixed:
            raise ValueError(
                f"{kind}: params {fixed} are not mutable (mutable: "
                f"{list(mutable)}) — an artifact whose layout contract "
                "moved must be refitted under new code, not restamped"
            )
        dfs = value if isinstance(value, tuple) else (value,)
        schemas = {}
        for (name, _cols, part), df in zip(tables, dfs):
            # cluster a partitioned write by its partition column so the
            # tree gets one file set per partition value, not
            # source-partitions × values tiny files. REBALANCE, not
            # repartition (r17 ADVICE): a plain hash repartition on a
            # low-cardinality partition column (lsh8's 'tbl' has ~8
            # values) collapses a corpus-sized write to <= |values|
            # tasks and one giant file per value; the AQE rebalance
            # hint clusters by the column AND splits skewed partitions,
            # so write parallelism survives hot cells. Fits are
            # map-shaped since r18 (no fit-side repartition), so this
            # is the ONE clustering shuffle a write pays.
            w = (
                df.hint("rebalance", part) if part else df
            ).write.mode("overwrite")
            if part:
                w = w.partitionBy(part)
            w.parquet(os.path.join(out_dir, name))
            schemas[name] = df.schema.json()
        write_index_meta(
            out_dir,
            os.path.join(sf_dir, source),
            schemas=schemas,
            params=dict(params or {}, **moved) or None,
        )

    def save_fn(spark, sf_dir: str, out_dir: str) -> None:
        write_fn(sf_dir, out_dir, for_fn(spark, sf_dir))

    def load_fn(spark, out_dir: str):
        import json

        # tag the STAMPED params (not the factory defaults): a
        # refreshed artifact's moved boundary must be what serving
        # code reads back, or the carve double-counts
        stamped = None
        meta_path = os.path.join(out_dir, "_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                stamped = json.load(f).get("params")
        dfs = tuple(
            read_index_table(spark, out_dir, name, cols)
            for name, cols, _part in tables
        )
        return _tag(dfs[0] if len(tables) == 1 else dfs, stamped=stamped)

    def attach_fn(spark, sf_dir: str, out_dir: str):
        fp = check_index_meta(
            out_dir,
            os.path.join(sf_dir, source),
            expect_params=params,
            mutable_keys=mutable,
        )
        value = load_fn(spark, out_dir)
        cache = _session_cache(spark)
        _cache_put(cache, (kind,) + fp, value)
        if prime_extra is not None:
            prime_extra(cache, fp, value)
        return value

    for f, suffix in (
        (for_fn, "for"),
        (save_fn, "save"),
        (load_fn, "load"),
        (attach_fn, "attach"),
        (write_fn, "write"),
    ):
        f.__name__ = f.__qualname__ = f"{kind}_{suffix}"
    return Family(kind, source, for_fn, save_fn, load_fn, attach_fn, write_fn)


def standing_hex(artifact: DataFrame) -> str:
    """The increment-carve boundary of a standing artifact (the
    q175/q211/q214 ANN indexes, the q178/q187 snapshots): the
    ``standing_hex`` param :func:`fitted_family` tags on every fitted or
    loaded DataFrame, so a refreshed artifact (boundary moved past every
    md5 prefix) serves through the same path with an empty increment.
    An untagged frame raises ValueError: carving at a default boundary
    the artifact never declared would silently double-count or drop
    the rows between the two."""
    try:
        return artifact._mms_fit_params["standing_hex"]
    except (AttributeError, KeyError):
        raise ValueError(
            "artifact carries no standing_hex stamp — pass the DataFrame "
            "a fitted_family fit, load or attach returned, not a frame "
            "derived from it"
        ) from None


def read_index_table(
    spark: SparkSession, out_dir: str, name: str, cols: list[str]
) -> DataFrame:
    """Read one persisted index sub-table and restore its FITTED
    schema from the ``_meta.json`` schema stamp (see
    :func:`write_index_meta`). Every ``*_index_load`` goes through
    this so partition-column type re-inference can never change the
    serving schema; indexes saved before schema stamping existed fall
    back to the raw parquet types."""
    import json
    import os

    from pyspark.sql.types import StructType

    df = spark.read.parquet(os.path.join(out_dir, name))
    try:
        with open(os.path.join(out_dir, "_meta.json")) as f:
            stamp = (json.load(f).get("schemas") or {}).get(name)
    except FileNotFoundError:
        stamp = None
    if stamp is None:
        return df.select(*cols)
    fitted = {
        f.name: f.dataType for f in StructType.fromJson(json.loads(stamp)).fields
    }
    return df.select(
        *[
            F.col(c).cast(fitted[c]).alias(c) if c in fitted else F.col(c)
            for c in cols
        ]
    )


def hex_int_sql(hexpr: str, start: int, length: int) -> str:
    """DuckDB: parse a hex substring into an integer via nibble
    positions — the SQL twin of Spark's ``conv(substring(<hex>, start,
    length), 16, 10)``. Shared by the multimodal oracles, q166's
    bucket hash, q168's query sample, and q169's checksum."""
    acc = "0"
    for i in range(length):
        nib = f"(strpos('0123456789abcdef', substr({hexpr}, {start + i}, 1)) - 1)"
        acc = f"(({acc}) * 16 + {nib})"
    return acc


def refresh_then_serve(
    spark: SparkSession,
    sf_dir: str,
    family: Family,
    refresh_fn,
    serve_fn,
) -> DataFrame:
    """Shared REFRESH → ATTACH → SERVE → cache-restore choreography for
    the lifecycle "act" queries (q188/q189/q207/q208/q209/q213/q216):

    1. build a PID-KEYED scratch dir under the system temp root —
       two concurrent sessions refreshing the same source must not
       race overwrite-vs-attach on one directory (torn
       _meta.json/parquet reads); each pid writes its own tree, keyed
       by the source fingerprint so re-runs in one process reuse the
       same path idempotently;
    2. ``refresh_fn(spark, sf_dir, out_dir)`` — the family's retrain
       job, persisting the refreshed artifact through ``family.write``;
    3. save the session-cache entry for ``(family.kind,
       fingerprint(family.source))``, then ``family.attach`` — the
       ordinary fingerprint+param gate (a doctored stamp still
       refuses), which installs the refreshed artifact in the cache
       and returns it;
    4. ``serve_fn(spark, sf_dir, artifact)`` builds the returned plan —
       either closing over the artifact directly or plan-building
       through the cache entry the attach installed; the plan is
       complete before step 5 runs;
    5. restore the saved cache entry in a ``finally``, so the act can
       never poison a later same-session call whose oracle models the
       default (fresh-fit) artifact.
    """
    import os
    import tempfile

    fp = source_fingerprint(os.path.join(sf_dir, family.source))
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"mms_{family.kind}_refresh",
        f"pid{os.getpid()}",
        "-".join(map(str, fp[1:])),
    )
    refresh_fn(spark, sf_dir, out_dir)

    cache = _session_cache(spark)
    key = (family.kind,) + fp
    prev = cache.get(key)
    try:
        artifact = family.attach(spark, sf_dir, out_dir)
        return serve_fn(spark, sf_dir, artifact)
    finally:
        if prev is not None:
            cache[key] = prev
        else:
            cache.pop(key, None)
