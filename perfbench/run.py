"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One run:

1. makes a fresh per-run directory under ``.perfbench_run/`` and points
   ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM's temp dir and the Spark
   warehouse at it; ``SPARK_GRAFT_CPUS`` is set to the cores this
   process may use;
2. writes the workload's seeded inputs there (``inputs.py``);
3. starts the session (``session.get_spark``), loads the catalog
   (``registry.load_all_plans``) and runs the untimed warm-up passes;
4. runs timed passes, each one every operation built and collected
   once, until ``--seconds`` have passed (whole passes only);
5. stops the session and waits for the JVM and its Python workers to
   exit, then checks every pass's result of every operation against
   DuckDB's evaluation of the query's oracle SQL over the same inputs;
6. removes the per-run directory and prints the result.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
and Spark status-store figures per operation and prints the per-layer
metrics instead (spans are written to ``.perfbench_out/``).
"""

from __future__ import annotations

import time


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / 100.0)


T_START = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    warmup: int                 # untimed passes after the session starts
    scale: int                  # thousandths of sf1: 10 is sf0.01
    n_vecs: int = 500
    serve_only: bool = False    # a timed pass must fit no index


# Why these operations, and what was left out, is in README.md.
WORKLOADS = {
    "relational": Workload(
        ops=(
            "q01_pricing_summary", "q03_shipping_priority", "q22_multiway_join",
            "q26_range_join", "q71_sliding_window", "q103_orc_roundtrip",
        ),
        warmup=7, scale=10,
    ),
    "ann_serve": Workload(
        ops=("q85_cosine_topk", "q155_ivf_cells", "q68_ivf_ann"),
        warmup=8, scale=1, n_vecs=400, serve_only=True,
    ),
}


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM by closing its stdin, and wait for
    it and every process it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    descendants = _children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while any(_alive(p) for p in descendants) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in descendants:
        if _alive(p):
            os.kill(p, 9)
    if _alive(proc.pid) or any(_alive(p) for p in descendants):
        raise RuntimeError("the Spark JVM or one of its workers did not exit")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    wl = WORKLOADS[workload]
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = None  # gettempdir() keeps its first answer; take TMPDIR
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import inputs
    from mapreduce_mit_spark import registry, session
    from spans import Tracer
    from verify_local import approx_equal, canon, duck_con

    def diff(got: tuple, want: tuple) -> str | None:
        """The result check of tools/verify_local.py; None on a match."""
        if got[0] != want[0]:
            return f"columns {got[0]} vs {want[0]}"
        ok, why = approx_equal(got[1], want[1])
        return None if ok else why

    data_dir = os.path.join(run_dir, "data")
    sizes = inputs.write_tables(data_dir, seed, wl.scale, wl.n_vecs)

    t = time.perf_counter()
    spark = session.get_spark(
        f"perfbench-{workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    t = time.perf_counter()
    registry.load_all_plans()
    load_s = time.perf_counter() - t

    queries = {name: registry.REGISTRY[name] for name in wl.ops}
    tracer = Tracer(spark, trace)
    results: dict[str, list] = {name: [] for name in queries}   # distinct results per query
    records: dict[str, dict] = {}   # pass number -> {"wall", "ops", "which", "cache_added"}

    def one_pass(p: str) -> dict:
        rec = {"ops": {}, "which": {}, "cache_added": {}}
        for name, q in queries.items():
            group = f"{name}#{p}"
            keys_before = set(getattr(spark, "_mms_index_cache", {}))
            t0 = time.time()
            try:
                df, build_s = tracer.call("plans.build", name, group + "/build", q.fn, spark, data_dir)
                rows, collect_s = tracer.call("exec.collect", name, group + "/collect", df.collect)
            except Exception:
                traceback.print_exc()
                continue
            tracer.add(name, t0, time.time(), parent=f"pass#{p}")
            rec["ops"][name] = build_s + collect_s
            rec["cache_added"][name] = len(set(getattr(spark, "_mms_index_cache", {})) - keys_before)
            got = (sorted(df.columns), canon(rows, df.columns))
            seen = results[name]
            rec["which"][name] = next((i for i, r in enumerate(seen) if r == got), len(seen))
            if rec["which"][name] == len(seen):
                seen.append(got)
        rec["wall"] = sum(rec["ops"].values())
        records[p] = rec
        return rec

    first_pass_s = one_pass("0")["wall"]
    for p in range(1, wl.warmup):
        one_pass(str(p))
    setup_s = time.perf_counter() - T_START
    timed: dict[str, dict] = {}
    gc_ms = tracer.jvm_gc_ms() if trace else 0
    t_timed = time.perf_counter()
    while time.perf_counter() - t_timed < seconds or not timed:
        p = str(wl.warmup + len(timed))
        timed[p] = one_pass(p)
    gc_ms = tracer.jvm_gc_ms() - gc_ms if trace else 0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_rss_mb = (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0
    _stop_spark(spark)

    # every operation of every pass, warm-up included, is one attempt; it
    # fails on an exception, a result unequal to the expected one, or (on
    # a serve-only workload) an index fit during a timed pass
    attempted = len(queries) * len(records)
    failed = 0
    con = duck_con(data_dir)
    for name, q in queries.items():
        rel = con.sql(q.oracle)
        want = (sorted(rel.columns), canon(rel.fetchall(), list(rel.columns)))
        wrong = {i for i, got in enumerate(results[name]) if diff(got, want)}
        for i in sorted(wrong):
            print(f"FAIL {name}: {diff(results[name][i], want)}", file=sys.stderr)
        for p, rec in records.items():
            if name not in rec["which"] or rec["which"][name] in wrong:
                failed += 1
            elif wl.serve_only and p in timed and rec["cache_added"][name]:
                print(f"FAIL {name}#{p}: fitted an index while serving", file=sys.stderr)
                failed += 1
    if trace:
        from spans import bound_violations

        for v in bound_violations(tracer, set(timed), cores):
            print(f"FAIL {v}", file=sys.stderr)
            failed += 1
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed}

    op_med = {name: _median([r["ops"][name] for r in timed.values() if name in r["ops"]])
              for name in queries}
    if trace:
        from spans import per_layer

        out["metrics"] = per_layer(tracer, timed, cores, start_s, load_s, first_pass_s, gc_ms)
        out["metrics"]["memory.peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"{workload}-s{seed}-spans.json"))
    else:
        out["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": sum(op_med.values()), "unit": "s"},
            "query_geomean_s": {"value": math.exp(statistics.fmean(
                math.log(max(v, 1e-9)) for v in op_med.values())), "unit": "s"},
        }
    print(json.dumps({"workload": workload, "seed": seed, "inputs": sizes,
                      "pass_s": [round(r["wall"], 3) for r in records.values()],
                      "op_median_s": op_med}), file=sys.stderr)
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    runs = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass  # missing, or another run's directory is still in it
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
