"""One-table recall report over EVERY ANN family — the catalog's
approximate paths audited against exact ground truth on the SAME
sampled query set.

q68/q89/q157/q160 each carry an in-band recall audit with its own
knobs; this script is the single artifact that replaces reading four
code paths: for one hash-sampled query set it serves every family
through its multi-query path (lsh_probe_hits / ivf_probe_hits /
pq_probe_hits / ivfadc_probe_hits), audits each with recall_audit
against the exact scan in that family's OWN metric (cosine for the
bucket/cell families, L2 for the quantized ones — PQ approximates L2,
so grading it on cosine would be the wrong contract), and emits one
table plus RECALL_REPORT.json.

Usage:
    python tools/recall_report.py [sf_dir] [sample_frac]

Defaults: /root/testdata/sf0.01, 0.05. FLEET_FLOORS below are the
per-family contracts: a MINIMUM per-query recall and a hard
zero-hit-queries == 0 gate — a mean can hide a dead query class, so
the floor is on the worst sampled query, and main() exits nonzero on
a violation (assert_fleet_floors, also run as a pytest:
tests/test_operators.py::test_recall_report_all_families).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


# Per-family MIN-recall floors (worst sampled query, not the mean).
# Calibrated against measured mins at sf0.001/sf0.01 with margin:
# lsh margin-multiprobe 0.2/0.2, ivf(nprobe=4) 0.4/0.6, pq 0.4/0.6,
# ivfadc(nprobe=4) 0.4/0.4 — floors sit one notch under the weaker SF
# so a genuine index-quality regression (a new zero- or near-zero-hit
# query class) goes red while deterministic reruns stay green.
# lsh_multiprobe_8p: 0.4 — the serving family moved to the L=8,
# top_m=6 point of the measured operating curve (sweep_8p in
# RECALL_REPORT.json: min 0.4/0.4 at the fixture SFs), and the floor
# follows the ivf precedent (floor == weakest measurement; the sweep
# is deterministic, so reruns are exact).
FLEET_FLOORS = {
    "lsh_multiprobe": 0.2,
    "lsh_multiprobe_8p": 0.4,
    "ivf": 0.4,
    "pq_adc_rerank": 0.4,
    "ivfadc": 0.35,
}


def fleet_floor_violations(report: dict) -> list[str]:
    """Collected FLEET_FLOORS violations (empty == pass): a family's
    WORST sampled query below its floor, any zero-true-neighbor query,
    or a family missing from the report entirely."""
    violations: list[str] = []
    missing = set(FLEET_FLOORS) - set(report)
    if missing:
        violations.append(f"families missing from report: {sorted(missing)}")
    for fam, floor in FLEET_FLOORS.items():
        r = report.get(fam)
        if r is None:
            continue
        if r["zero_hit_queries"] != 0:
            violations.append(
                f"{fam}: {r['zero_hit_queries']} zero-hit queries "
                f"(min recall {r['min_recall']}) — a silent dead query class"
            )
        if r["min_recall"] < floor:
            violations.append(
                f"{fam}: min recall {r['min_recall']} < floor {floor}"
            )
    return violations


def assert_fleet_floors(report: dict) -> None:
    """Hard gate: raise ValueError listing EVERY violation. A real
    exception, not ``assert`` — python -O strips asserts, which would
    have turned both the CLI gate (main exits nonzero via the raise)
    and the pytest wrapper into silent passes."""
    violations = fleet_floor_violations(report)
    if violations:
        raise ValueError("FLEET_FLOORS violated:\n  " + "\n  ".join(violations))


def build_report(spark: SparkSession, sf_dir: str, sample_frac: float = 0.05) -> dict:
    """{family: {metric, k, n_queries, mean_recall, min_recall,
    zero_hit_queries}} — every family over the SAME query set."""
    from mapreduce_mit_spark.plans.similarity import (
        ANN_K,
        _bucket_col,
        ivf_index_for,
        ivfadc_index_for,
        ivfadc_probe_hits,
        lsh_probe_hits,
        pq_index_for,
        pq_probe_hits,
        recall_audit,
        sample_queries,
        valid_embeddings,
    )
    from mapreduce_mit_spark.sources.io import load_table

    e = valid_embeddings(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    )
    queries = sample_queries(e, sample_frac)

    b = e.select(
        "vec_id", "embedding", _bucket_col("embedding", 4).alias("bucket")
    )
    qb = queries.withColumn("qbucket", _bucket_col("qv", 4))
    cent_ivf, _lists = ivf_index_for(spark, sf_dir)
    cent_pq, codes_pq = pq_index_for(spark, sf_dir)
    cent_c, pcent, codes_adc = ivfadc_index_for(spark, sf_dir)

    from mapreduce_mit_spark.plans.similarity import ivf_probe_hits

    from mapreduce_mit_spark.plans.similarity import (
        lsh8_index_for,
        lsh_multitable_hits,
    )

    families = {
        # margin-ordered multiprobe (the serving default; q89's pinned
        # fixed-xor variant stays available via _PROBE_XORS)
        "lsh_multiprobe": ("cosine", lsh_probe_hits(b, qb, ANN_K)),
        # production plane count (q172): 6 independent 8-plane tables,
        # margin-probed per table, candidates reranked exactly — the
        # family that actually shards a large corpus; floors keep the
        # multi-table recall honest (single-table 8-plane saturates at
        # min 0.0 on the fixtures even at 37/256 probes)
        "lsh_multiprobe_8p": (
            "cosine",
            lsh_multitable_hits(
                e, queries, ANN_K, keys=lsh8_index_for(spark, sf_dir)
            ),
        ),
        "ivf": ("cosine", ivf_probe_hits(e, cent_ivf, queries, ANN_K)),
        "pq_adc_rerank": ("l2", pq_probe_hits(e, cent_pq, codes_pq, queries, ANN_K)),
        "ivfadc": ("l2", ivfadc_probe_hits(cent_c, pcent, codes_adc, e, queries, ANN_K)),
    }
    report: dict = {}
    for fam, (metric, hits) in families.items():
        audit = recall_audit(e, queries, hits, ANN_K, metric=metric).collect()
        recalls = [r.recall_at_k for r in audit]
        report[fam] = {
            "metric": metric,
            "k": ANN_K,
            "n_queries": len(recalls),
            "mean_recall": round(sum(recalls) / len(recalls), 4),
            "min_recall": round(min(recalls), 4),
            "zero_hit_queries": sum(1 for r in recalls if r == 0.0),
        }
    return report


def build_8p_sweep(
    spark: SparkSession, sf_dir: str, sample_frac: float = 0.05
) -> dict:
    """The 8-plane multi-table family's OPERATING CURVE: recall vs
    probe budget over L ∈ {4, 6, 8} tables × top_m ∈ {4, 6, 8}
    margin-ranked flips, same query set for every cell. Published so
    the FLEET_FLOORS choice for the serving family
    (lsh_multiprobe_8p: L=6, top_m=6) is a point ON a measured curve,
    not a bare constant — the knobs trade probes for recall, and the
    curve is what a capacity plan reads. Each cell's key table is
    built inline (the fitted lsh8 artifact is pinned at the serving
    L, and a mismatched-keys serve correctly refuses)."""
    from mapreduce_mit_spark.plans.similarity import (
        ANN_K,
        lsh_multitable_hits,
        lsh_multitable_keys_df,
        recall_audit,
        sample_queries,
        valid_embeddings,
    )
    from mapreduce_mit_spark.sources.io import load_table

    e = valid_embeddings(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    queries = sample_queries(e, sample_frac)
    sweep: dict = {}
    for n_tables in (4, 6, 8):
        keys = lsh_multitable_keys_df(e, n_tables=n_tables).localCheckpoint(
            eager=True
        )
        for top_m in (4, 6, 8):
            hits = lsh_multitable_hits(
                e, queries, ANN_K, n_tables=n_tables, top_m=top_m,
                keys=keys, query_rows=1,
            )
            audit = recall_audit(e, queries, hits, ANN_K).collect()
            recalls = [r.recall_at_k for r in audit]
            probes = n_tables * (top_m + 2)
            sweep[f"L={n_tables},top_m={top_m}"] = {
                "probes_per_query": probes,
                "scan_frac_of_tablespace": round(probes / (n_tables * 256), 4),
                "n_queries": len(recalls),
                "mean_recall": round(sum(recalls) / len(recalls), 4),
                "min_recall": round(min(recalls), 4),
                "zero_hit_queries": sum(1 for r in recalls if r == 0.0),
            }
        keys.unpersist()
    return sweep


def main() -> None:
    from mapreduce_mit_spark.session import get_spark

    args = [a for a in sys.argv[1:] if a != "--sweep"]
    do_sweep = "--sweep" in sys.argv[1:]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    frac = float(args[1]) if len(args) > 1 else 0.05
    spark = get_spark("recall-report", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    report = build_report(spark, sf_dir, frac)

    hdr = f"{'family':<16} {'metric':<7} {'k':>2} {'nq':>4} {'mean':>7} {'min':>7} {'zero':>5}"
    print(hdr)
    print("-" * len(hdr))
    for fam, r in report.items():
        print(
            f"{fam:<16} {r['metric']:<7} {r['k']:>2} {r['n_queries']:>4} "
            f"{r['mean_recall']:>7.4f} {r['min_recall']:>7.4f} {r['zero_hit_queries']:>5}"
        )
    payload = {"sf_dir": sf_dir, "sample_frac": frac, "families": report}
    if do_sweep:
        # the operating curve, both fixture SFs (siblings of sf_dir)
        payload["sweep_8p"] = {}
        base = os.path.dirname(sf_dir.rstrip("/"))
        for sf_name in ("sf0.001", "sf0.01"):
            d = os.path.join(base, sf_name)
            if not os.path.isdir(d):
                continue
            sweep = build_8p_sweep(spark, d, frac)
            payload["sweep_8p"][sf_name] = sweep
            hdr2 = (
                f"{'config':<14} {'probes':>6} {'scan%':>6} {'nq':>4} "
                f"{'mean':>7} {'min':>7} {'zero':>5}"
            )
            print(f"\n8p operating curve @ {sf_name}")
            print(hdr2)
            print("-" * len(hdr2))
            for cfg, r in sweep.items():
                print(
                    f"{cfg:<14} {r['probes_per_query']:>6} "
                    f"{100 * r['scan_frac_of_tablespace']:>6.1f} "
                    f"{r['n_queries']:>4} {r['mean_recall']:>7.4f} "
                    f"{r['min_recall']:>7.4f} {r['zero_hit_queries']:>5}"
                )
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "RECALL_REPORT.json",
    )
    if do_sweep:
        # keep any previously-committed sweep when rerun without it;
        # merging is unnecessary the other way (sweep reruns replace)
        with open(out, "w") as f:
            json.dump(payload, f, indent=1)
    else:
        try:
            with open(out) as f:
                prior = json.load(f)
            if "sweep_8p" in prior:
                payload["sweep_8p"] = prior["sweep_8p"]
        except (FileNotFoundError, ValueError):
            pass
        with open(out, "w") as f:
            json.dump(payload, f, indent=1)
    print(f"\nwritten: {out}")
    assert_fleet_floors(report)
    print("fleet floors: PASS")


if __name__ == "__main__":
    main()
