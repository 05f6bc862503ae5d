"""``tools/check_oracle.py::row_digest``: the per-entry digest two gate
files are compared by must not depend on row or column order."""

from __future__ import annotations

from tools.check_oracle import row_digest


def test_digest_ignores_row_and_column_order():
    cols = ["query_id", "item_id", "dist_r"]
    rows = [(0, 7, 0.25), (0, 3, 0.5), (1, 9, None), (1, 2, 1.0)]
    d = row_digest(rows, cols)
    assert d == row_digest(list(reversed(rows)), cols)
    swapped = [(r[2], r[0], r[1]) for r in rows]
    assert d == row_digest(swapped, ["dist_r", "query_id", "item_id"])


def test_digest_sees_values_and_multiplicity():
    cols = ["a", "b"]
    rows = [(1, "x"), (2, "y")]
    d = row_digest(rows, cols)
    assert d != row_digest([(1, "x"), (2, "z")], cols)
    assert d != row_digest(rows + [(2, "y")], cols)
    assert d != row_digest(rows, ["a", "c"])
