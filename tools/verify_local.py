"""Local replica of the driver's correctness gate.

Runs every catalog query on Spark AND its DuckDB oracle at a given SF,
compares row count, column names, and order-insensitive values
(exact for ints/strings/timestamps, 1e-9-relative for floats — stricter
in spirit than the driver's value hash, so passing here predicts
passing there).

Usage: python tools/verify_local.py [--bare] [--types] [--summary PATH]
       [sf_dir] [query ...]

``--summary PATH`` additionally writes a machine-readable JSON artifact
(per-query status/rows/seconds + per-tag-family pass counts). Committed
once per round (VERIFY_SUMMARY_r{N}.json) so the driver-unsampled
queries carry in-repo verification evidence, not just prose.

``--bare`` runs on a default SparkSession with NONE of our session
factory's confs — replicating the driver's environment (the r1 q28
failure was invisible without this).

``--types`` additionally fails any query whose oracle/Spark cells have
different PYTHON types even when values compare equal (int vs float,
date vs datetime, Decimal anywhere), and any oracle column whose DuckDB
type is not the canonical mapping of the Spark column type. The r2 q15/
q56 failures were exactly this class — values bit-identical, oracle
column typed HUGEINT — invisible to the value compare.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_mit_spark import registry  # noqa: E402
from mapreduce_mit_spark.session import get_spark  # noqa: E402
from mapreduce_mit_spark.sources.io import TABLE_NAMES  # noqa: E402
from mapreduce_mit_spark.typemap import type_mismatches  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def canon(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name, normalize cell values, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return ("null",)
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, float):
            if math.isnan(v):
                return ("nan",)
            return ("f", round(v, 9))
        if isinstance(v, int):
            return ("f", float(v)) if abs(v) < 2**52 else ("i", v)
        return ("s", str(v))

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def cell_type_mismatches(
    spark_rows: list[tuple],
    spark_cols: list[str],
    duck_rows: list[tuple],
    duck_cols: list[str],
) -> list[str]:
    """Columns whose non-null Python cell types differ across engines.

    Order-insensitive: compares the SET of types per column, so it works
    without matching rows up. Catches int-vs-float, date-vs-datetime,
    Decimal — all invisible to the value compare's 1e-9 canon."""

    def col_types(rows, cols):
        out: dict[str, set[str]] = {c: set() for c in cols}
        for r in rows:
            for c, v in zip(cols, r):
                if v is not None:
                    out[c].add(type(v).__name__)
        return out

    st, dt = col_types(spark_rows, spark_cols), col_types(duck_rows, duck_cols)
    return [
        f"{c}: spark {sorted(st[c])} vs oracle {sorted(dt.get(c, set()))}"
        for c in sorted(st)
        if st[c] != dt.get(c, set())
    ]


def approx_equal(a: list[tuple], b: list[tuple]) -> tuple[bool, str]:
    if len(a) != len(b):
        return False, f"row count {len(a)} vs {len(b)}"
    for i, (ra, rb) in enumerate(zip(a, b)):
        if ra == rb:
            continue
        for ca, cb in zip(ra, rb):
            if ca == cb:
                continue
            if ca[0] == "f" and cb[0] == "f":
                x, y = ca[1], cb[1]
                if math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    continue
            return False, f"row {i}: {ra} vs {rb}"
    return True, ""


def main() -> int:
    # one line per finished query reaches a piped reader at once, so a
    # caller that kills the sweep on a timeout still sees how far it got
    sys.stdout.reconfigure(line_buffering=True)
    argv = sys.argv[1:]
    bare = "--bare" in argv
    types = "--types" in argv
    summary_path = None
    if "--summary" in argv:
        i = argv.index("--summary")
        if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
            print(
                "usage: verify_local.py [--bare] [--types] "
                "[--summary OUT.json] [SF_DIR] [QUERY ...]"
            )
            return 2
        summary_path = argv[i + 1]
        del argv[i : i + 2]
    argv = [a for a in argv if a not in ("--bare", "--types")]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    registry.load_all_plans()
    unknown = only - set(registry.REGISTRY)
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2
    if bare:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("verify_bare").getOrCreate()
    else:
        spark = get_spark("verify_local")
    con = duck_con(sf_dir)
    failures = []
    results: dict[str, dict] = {}

    def record(name: str, status: str, rows: int, t0: float, why: str = "") -> None:
        results[name] = {
            "status": status,
            "rows": rows,
            "secs": round(time.time() - t0, 2),
            **({"why": why[:300]} if why else {}),
        }

    for name, q in sorted(registry.REGISTRY.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            spark_cols = sdf.columns
            spark_schema = sdf.schema
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            failures.append(name)
            record(name, "FAIL", -1, t0, "spark error")
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            continue
        if q.oracle is None:
            record(name, "rows-only", len(spark_rows), t0)
            print(f"rows  {name}: {len(spark_rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(q.oracle)
            duck_cols = list(rel.columns)
            duck_rows = rel.fetchall()
        except Exception:
            failures.append(name)
            record(name, "FAIL", len(spark_rows), t0, "duckdb error")
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            failures.append(name)
            why = f"columns {sorted(spark_cols)} vs {sorted(duck_cols)}"
            record(name, "FAIL", len(spark_rows), t0, why)
            print(f"FAIL  {name}: {why}")
            continue
        if types:
            probs = type_mismatches(spark_schema, duck_cols, list(rel.types))
            probs += cell_type_mismatches(spark_rows, spark_cols, duck_rows, duck_cols)
            if probs:
                failures.append(name)
                record(name, "FAIL", len(spark_rows), t0, f"type contract: {probs}")
                print(f"FAIL  {name}: type contract: {probs}")
                continue
        ok, why = approx_equal(canon(spark_rows, spark_cols), canon(duck_rows, duck_cols))
        exact = (
            canon(spark_rows, spark_cols) == canon(duck_rows, duck_cols) if ok else False
        )
        if ok:
            tag = "OK   " if exact else "OK~  "
            record(name, "OK" if exact else "OK~", len(spark_rows), t0)
            print(f"{tag} {name}: {len(spark_rows)} rows [{time.time()-t0:.1f}s]")
        else:
            failures.append(name)
            record(name, "FAIL", len(spark_rows), t0, why)
            print(f"FAIL  {name}: {why}")

    if summary_path:
        import json

        families: dict[str, dict[str, int]] = {}
        for name, r in results.items():
            for tag in registry.REGISTRY[name].tags or ("untagged",):
                fam = families.setdefault(tag, {"pass": 0, "total": 0})
                fam["total"] += 1
                fam["pass"] += r["status"] != "FAIL"
        summary = {
            "sf_dir": sf_dir,
            "bare": bare,
            "types": types,
            "total": len(results),
            "oracle_checked": sum(
                r["status"] in ("OK", "OK~") for r in results.values()
            ),
            "rows_only": sum(r["status"] == "rows-only" for r in results.values()),
            "failures": sorted(failures),
            "families": dict(sorted(families.items())),
            "queries": results,
        }
        with open(summary_path, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=False)
        print(f"summary written: {summary_path}")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries verified")
    return 0


if __name__ == "__main__":
    sys.exit(main())
