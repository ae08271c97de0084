"""Order-insensitive value digests of query results.

A digest is the SHA-256 of a result after ``tests/conftest.py::canonicalize``
(columns sorted by name, every cell rendered deterministically, rows sorted),
so it matches exactly when the oracle comparison in the test suite would.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

from tests.conftest import canonicalize

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def digest(df: pd.DataFrame) -> dict:
    """``{"rows", "columns", "sha256"}`` of a pandas result."""
    c = canonicalize(df)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    for row in c.itertuples(index=False, name=None):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return {"rows": len(c), "columns": list(c.columns), "sha256": h.hexdigest()}


def load_expected() -> dict[str, dict[str, dict]]:
    """``{sf: {query: digest}}`` as written by ``make_digests.py``."""
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def mismatch(expected: dict, got: dict) -> str | None:
    """Why ``got`` differs from ``expected``, or None when they match."""
    if got["columns"] != expected["columns"]:
        return f"columns {got['columns']} != {expected['columns']}"
    if got["rows"] != expected["rows"]:
        return f"{got['rows']} rows != {expected['rows']}"
    if got["sha256"] != expected["sha256"]:
        return "value digest differs"
    return None
