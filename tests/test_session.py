"""Session factory defaults and the corpus scan's map-side parallelism."""

from __future__ import annotations

import os

from mapreduce_mit_spark import session
from mapreduce_mit_spark.sources.io import corpus_rdd, read_corpus


def test_default_cpus_follow_usable_cores(monkeypatch):
    """Unset SPARK_GRAFT_CPUS → the cores this process may run on, not a
    fixed count that oversubscribes a small box; set → the override."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == 3


def test_corpus_map_stage_uses_every_core(spark, tmp_path):
    """16 small files must not pack into 2 splits: the map stage of the
    corpus scan (read_corpus and run_job's input) gets at least
    min(n_files, defaultParallelism) partitions."""
    n_files = 16
    for i in range(n_files):
        (tmp_path / f"pg-{i}.txt").write_text(f"word{i} " * (500 * (i + 1)))
    glob = str(tmp_path / "pg-*.txt")
    want = min(n_files, spark.sparkContext.defaultParallelism)
    assert corpus_rdd(spark, glob).getNumPartitions() >= want
    docs = read_corpus(spark, glob)
    assert docs.rdd.getNumPartitions() >= want
    assert docs.count() == n_files
