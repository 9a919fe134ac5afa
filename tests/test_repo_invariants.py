"""Repository invariants that need no Spark session: every scratch dir in
the query packs lives under the session-scratch root (and every test
scratch dir under pytest's tmp_path), and every registered query has a
COVERAGE.md row."""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _registered_names() -> list[str]:
    import __spark_entry__ as entry

    return list(entry.queries().keys())


def test_no_bare_mkdtemp_outside_session_scratch():
    """Every scratch/landing dir in the query packs must live under the
    PID-reaped ``session_scratch`` root: a bare
    ``tempfile.mkdtemp(prefix=...)`` accumulates in /tmp across gate and
    bench runs with nothing to reclaim it. ``mkdtemp(dir=session_scratch(
    ...))`` keeps per-invocation uniqueness (streaming checkpoints must
    not be reused) while bounding /tmp to one root per live process.
    Tests take pytest's ``tmp_path`` (pytest prunes old runs), so under
    ``tests/`` no ``mkdtemp`` is allowed at all."""
    offenders = []
    for top, allowed in (
        ("hive_server_spark", r"mkdtemp\(\s*dir=session_scratch"),
        ("tests", None),
    ):
        for dirpath, _dirs, files in os.walk(os.path.join(REPO, top)):
            for fn in files:
                path = os.path.join(dirpath, fn)
                if not fn.endswith(".py") or path == os.path.abspath(__file__):
                    continue
                with open(path) as f:
                    for i, line in enumerate(f, 1):
                        if "mkdtemp(" not in line or line.lstrip().startswith("#"):
                            continue
                        if allowed is None or not re.search(allowed, line):
                            offenders.append(f"{os.path.relpath(path, REPO)}:{i}")
    assert not offenders, (
        f"bare mkdtemp outside session_scratch: {offenders}"
    )


def test_every_query_has_a_coverage_row():
    """COVERAGE.md is the judge-facing claims ledger; a registered query
    absent from it is an undocumented capability (stale ledger rows
    have happened). Every name must appear verbatim — no wildcard
    family rows."""
    with open(os.path.join(REPO, "COVERAGE.md")) as f:
        text = f.read()
    missing = [n for n in _registered_names() if n not in text]
    assert not missing, f"queries with no COVERAGE.md mention: {missing}"
