"""Catalog-wide dirty-input hardening gate.

Round-8 fixed two single-row killers ad hoc (zero-norm cosine, U+0130
case folding); this test systematizes the class. It builds a DIRTY
copy of the sf0.001 fixture (tools/dirty_fixture.py appends malformed
rows — NULL/empty/punct-only text, NULL lang/source, NULL and
zero-length and zero-norm embeddings, NULL event time/user/value/type,
NULL TPC-H attributes — schemas byte-preserved), then replays the
ENTIRE oracle harness against it: every registered query runs on Spark
AND its DuckDB oracle over the same dirt, and must match row-for-row.

What this pins, catalog-wide:
- no query is task-fatal on a malformed row (Spark 4 ANSI makes
  element_at/divide/cast on one bad row kill the whole job);
- both engines agree on the NULL semantics (Spark's NULLS FIRST asc
  vs DuckDB's NULLS LAST, NULL-strict vs NULL-skipping concat,
  equi-joins dropping NULL keys, CASE-vs-cast on NULL comparisons —
  each of these diverged somewhere in the catalog before round 9);
- index fits exclude malformed vectors (the EMB_VALID_SQL contract)
  and token-less docs emit no LSH bands, in both engines.

Runs the harness in a subprocess (fresh driver-style session, exactly
like the correctness gate). On a 4-core box it took 505 s alone and
712 s inside the full suite, against its 900 s budget; it is the
widest single gate in the suite and earns its wall time.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from .conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_survives_malformed_rows(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from dirty_fixture import make_dirty

    dirty = str(tmp_path / "dirty")
    dirtied = make_dirty(SF_SMALL, dirty)
    assert {"documents", "embeddings", "events", "lineitem"} <= set(dirtied)

    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "verify_local.py"), dirty],
            capture_output=True,
            text=True,
            timeout=900,
            cwd=REPO,
        )
    except subprocess.TimeoutExpired as e:
        # the partial stdout arrives as bytes even with text=True
        out = e.stdout or b""
        if isinstance(out, bytes):
            out = out.decode(errors="replace")
        done = [
            ln
            for ln in out.replace("\r", "\n").splitlines()
            if ln.startswith(("OK", "FAIL", "rows"))
        ]
        pytest.fail(
            f"dirty-input sweep timed out after {e.timeout:.0f}s with "
            f"{len(done)} queries done; last lines:\n" + "\n".join(done[-20:])
        )
    tail = "\n".join(
        ln
        for ln in (proc.stdout + proc.stderr).replace("\r", "\n").splitlines()
        if ln.startswith(("FAIL", "rows", "all queries")) or "FAILURES" in ln
    )
    assert proc.returncode == 0, f"dirty-input sweep failed:\n{tail[-4000:]}"
