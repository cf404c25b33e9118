"""Documentation staleness gates.

The README's generated query-catalog map must match the live registry —
a new, deleted or renamed query, one moved to another file, or changed
tags, family or oracle kind must fail here until
`python tools/gen_opmap.py --write` is re-run. Rows name each query's
`path::function_name`, so edits that only shift line numbers do not.
"""

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def test_readme_opmap_is_fresh():
    import gen_opmap

    expected = gen_opmap.generate()
    with open(os.path.join(REPO, "README.md")) as f:
        text = f.read()
    m = re.search(
        re.escape(gen_opmap.BEGIN) + r".*?" + re.escape(gen_opmap.END),
        text,
        flags=re.S,
    )
    assert m, "README.md is missing the generated OPMAP section"
    assert m.group(0) == expected, (
        "README query map is stale — run `python tools/gen_opmap.py --write`"
    )


def test_preflight_summary_coverage_check(tmp_path):
    """The round-close gate rejects a summary that silently lost
    queries, accepts a full one, and rejects unknown extras."""
    import json

    import preflight

    from mapreduce_mit_spark import registry

    registry.load_all_plans()
    full = {"queries": {n: {"status": "OK"} for n in registry.REGISTRY}}
    p = tmp_path / "s.json"
    p.write_text(json.dumps(full))
    assert preflight.check_summary_coverage(str(p)) is None

    short = dict(full["queries"])
    short.pop(next(iter(short)))
    p.write_text(json.dumps({"queries": short}))
    assert "missing" in preflight.check_summary_coverage(str(p))

    extra = dict(full["queries"])
    extra["q999_ghost"] = {"status": "OK"}
    p.write_text(json.dumps({"queries": extra}))
    assert "extra" in preflight.check_summary_coverage(str(p))


def test_preflight_contention_trust_check(tmp_path, monkeypatch):
    """The r13 contention gate: a BENCH_DETAIL whose run-A flagship
    subtotal disagrees with the min-of-A/B series by >1.5× must FAIL
    (the r12 measurement class); a heavily-contended calibration must
    WARN; a healthy artifact passes clean; a pre-A/B artifact warns
    instead of silently passing (the malformed-artifact class the
    drift check also closes)."""
    import json

    import preflight

    def write(detail):
        (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(detail))

    monkeypatch.setattr(preflight, "REPO", str(tmp_path))

    healthy = {
        "queries": {"q148_dedup_pipeline": 6.0, "q01_pricing_summary": 0.5},
        "flagships_isolated": {"q148_dedup_pipeline": 5.8},
        "calibration_s": 0.2,
    }
    write(healthy)
    errs, warns = preflight.check_bench_contention_trust()
    assert errs == [] and warns == []

    corrupted = dict(healthy, queries={"q148_dedup_pipeline": 12.0})
    write(corrupted)
    errs, warns = preflight.check_bench_contention_trust()
    assert errs and "contention-inflated" in errs[0]

    import bench

    contended = dict(healthy, calibration_s=3.0 * bench.REF_CALIBRATION_S)
    write(contended)
    errs, warns = preflight.check_bench_contention_trust()
    assert errs == [] and warns and "trust region" in warns[0]

    legacy = {"queries": {"q148_dedup_pipeline": 6.0}, "calibration_s": 0.2}
    write(legacy)
    errs, warns = preflight.check_bench_contention_trust()
    assert errs == [] and warns and "predates" in warns[0]


def test_opmap_covers_whole_registry():
    """Every registered query appears exactly once in the map."""
    import gen_opmap

    from mapreduce_mit_spark import registry

    registry.load_all_plans()
    section = gen_opmap.generate()
    for name in registry.REGISTRY:
        assert section.count(f"| `{name}` |") == 1, name
