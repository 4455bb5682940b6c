"""Output comparison with the rules of tools/check_oracle.py: same
column set, same row count, order-insensitive values."""

from __future__ import annotations

import os
import sys

from common import ROOT


def oracle_rules():
    """``compare`` and ``type_issues`` from tools/check_oracle.py. Its
    import chain may prepend paths to ``sys.path``; they are dropped so
    the program keeps resolving from this checkout only."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import check_oracle
    finally:
        sys.path[:] = saved
    return check_oracle.compare, check_oracle.type_issues


def compare_frames(name: str, got, want) -> list[str]:
    """Issues between two Spark frames (empty list when they agree)."""
    compare, _ = oracle_rules()
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return [f"SCHEMA cols differ: got={sorted(got.columns)} want={cols}"]
    got_rows = [tuple(r) for r in got.select(*cols).collect()]
    want_rows = [tuple(r) for r in want.select(*cols).collect()]
    issues = compare(name, got_rows, want_rows, cols, cols)
    if not want_rows:
        issues.append("EMPTY expected table: the input exercises nothing")
    return issues
