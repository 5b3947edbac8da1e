"""Digest of a query result, shared by the DuckDB oracle command and the
check of the engine's outputs.

The canonical form is the repository's own, `canon()` of
`scripts/check_oracle.py`: columns sorted by name, floats rendered at 9
significant digits, timestamps at microseconds, and rows sorted. The digest
also records the column names, each column's dtype kind (integers of any
width and sign count as one kind, as in that script) and the row count, so
a result that renders the same text from a different type still differs.
"""
import hashlib
import os
import sys

import pandas as pd

sys.path.append(os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
from check_oracle import canon  # noqa: E402


def kind(dtype) -> str:
    k = dtype.kind
    return "i" if k in ("i", "u") else k


def digest(df: pd.DataFrame) -> dict:
    c = canon(df)
    h = hashlib.sha256()
    h.update("\x1f".join(c.columns).encode())
    for row in c.itertuples(index=False, name=None):
        h.update(b"\x1e")
        h.update("\x1f".join(row).encode())
    return {
        "columns": list(c.columns),
        "kinds": [kind(df[col].dtype) for col in c.columns],
        "rows": len(c),
        "sha256": h.hexdigest(),
    }


def compare(oracle: dict, engine: dict) -> str:
    """Empty string when the two digests agree, else what differs."""
    if oracle["columns"] != engine["columns"]:
        return f"columns {engine['columns']} != oracle {oracle['columns']}"
    if oracle["kinds"] != engine["kinds"]:
        return f"kinds {engine['kinds']} != oracle {oracle['kinds']}"
    if oracle["rows"] != engine["rows"]:
        return f"{engine['rows']} rows != oracle {oracle['rows']}"
    if oracle["sha256"] != engine["sha256"]:
        return "values differ"
    return ""
