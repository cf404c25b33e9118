"""Session factory defaults, warm-query codegen and the corpus scan's
map-side parallelism."""

from __future__ import annotations

import os

from mapreduce_mit_spark import registry, session
from mapreduce_mit_spark.sources.io import corpus_rdd, read_corpus

from .conftest import SF_SMALL


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


def test_warm_repeat_compiles_nothing(spark):
    """A warm repeat of the relational benchmark's six queries finds all
    its generated classes in the codegen cache: at Spark's default cache
    size (100 entries) every warm round recompiled about 25 classes."""
    registry.load_all_plans()
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    names = (
        "q01_pricing_summary", "q03_shipping_priority", "q22_multiway_join",
        "q26_range_join", "q71_sliding_window", "q103_orc_roundtrip",
    )

    def one_round():
        for name in names:
            registry.REGISTRY[name].fn(spark, SF_SMALL).collect()

    one_round()
    before = compiles.getCount()
    one_round()
    assert compiles.getCount() == before
