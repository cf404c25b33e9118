"""MapReduce-compatibility API.

The reference's entire programming model is
``Sequential(jobName, files, nReduce, mapF, reduceF)``
(/root/reference/src/mapreduce/master.go:55-58) with
``mapF(filename, contents) -> [KeyValue]`` and
``reduceF(key, values) -> value`` (common_map.go:20,
common_reduce.go:20). This module keeps that surface verbatim so a
reference user can port a job unchanged:

    result = run_job(spark, "wcseq", ["pg-*.txt"], map_fn, reduce_fn, 3)

Implementation: the one-line Spark translation (SURVEY.md header) —
``wholeTextFiles → flatMap → groupByKey(R) → reduceF → sortByKey``.
The master/worker scheduler, spill files, RPC, retry and merge
(schedule.go, common_rpc.go, master_splitmerge.go) have NO counterpart
here: Spark's DAG scheduler, shuffle and task retry subsume them.

This is deliberately the engine's ONE arbitrary-Python surface (a
fidelity shim, serialization-bound by design — SURVEY §7.5 risk 6).
Every named production operator goes through DataFrame built-ins
instead; ``wordcount_dataframe`` in plans/text_analysis.py is the fast
path for the same computation.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from ..sources.io import corpus_rdd

KeyValue = tuple[str, str]
MapFn = Callable[[str, str], Iterable[KeyValue]]
ReduceFn = Callable[[str, list[str]], str]

# Reference tokenizer: split on runs of non-letters (wc.go:55-57).
# In Python, [^\W\d_] ≡ Unicode letter (validated byte-for-byte against
# both golden outputs, SURVEY §5.3).
_WORD_RE = re.compile(r"[^\W\d_]+", re.UNICODE)


def run_job(
    spark: SparkSession,
    job_name: str,
    input_paths: str | list[str],
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    n_reduce: int = 3,
) -> DataFrame:
    """Run a reference-style MapReduce job; returns DataFrame(key, value)
    sorted by key (the contract of the reference's merge step,
    master_splitmerge.go:39-48).

    ``n_reduce`` maps to the reduce-side partition count — the same knob
    as the reference's R (hash(key) % R routing, common_map.go:90-98),
    honored by Spark's HashPartitioner.
    """
    paths = ",".join(input_paths) if isinstance(input_paths, list) else input_paths
    kvs = (
        corpus_rdd(spark, paths)
        .flatMap(lambda kv: map_fn(kv[0], kv[1]))
        .groupByKey(numPartitions=max(n_reduce, 1))
        .map(lambda kv: (kv[0], reduce_fn(kv[0], list(kv[1]))))
        .sortByKey()
    )
    return spark.createDataFrame(kvs, schema="key string, value string")


# --- The two reference applications, ported function-for-function ------


def wc_map(_filename: str, contents: str) -> Iterable[KeyValue]:
    """wc.go:22-30 — emit ("word", "1") per token occurrence."""
    for word in _WORD_RE.findall(contents):
        yield (word, "1")


def wc_reduce(_key: str, values: list[str]) -> str:
    """wc.go:36-51 — parse values as ints, sum, format back to string."""
    return str(sum(int(v) for v in values))


def ii_map(filename: str, contents: str) -> Iterable[KeyValue]:
    """ii.go:22-30 — emit ("word", document-name) per token occurrence."""
    for word in _WORD_RE.findall(contents):
        yield (word, filename)


def ii_reduce(_key: str, values: list[str]) -> str:
    """ii.go:36-58 — value = "<n_distinct_docs> doc1,doc2,..." with docs
    deduped and sorted lexicographically."""
    docs = sorted(set(values))
    return f"{len(docs)} {','.join(docs)}"


def word_count(spark: SparkSession, input_paths: str | list[str], n_reduce: int = 3) -> DataFrame:
    return run_job(spark, "wcseq", input_paths, wc_map, wc_reduce, n_reduce)


def inverted_index(spark: SparkSession, input_paths: str | list[str], n_reduce: int = 3) -> DataFrame:
    return run_job(spark, "iiseq", input_paths, ii_map, ii_reduce, n_reduce)
