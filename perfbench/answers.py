"""Order-insensitive answer of one query result: row count, schema and
a value hash.

Cells and column types are normalized as the engine's oracle tests
compare them (``tests/oracle_utils.py``: cells to strings, floats at 10
significant digits, rows sorted, integer widths folded into one type
token); ``expected.json`` holds answers hashed this way and is
regenerated by ``make_expected.py`` when that normalization changes.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_utils import (  # noqa: E402
    _canon_duck_type as duck_type,
    _canon_spark_type as spark_type,
    _norm_cell,
)

__all__ = ["answer", "duck_type", "mismatches", "spark_answer"]


def answer(columns: list[str], types: list[str], rows) -> dict:
    """``{"rows", "schema", "hash"}`` of a result given as column
    names, canonical type tokens and row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {
        "rows": len(lines),
        "schema": [[columns[i], types[i]] for i in order],
        "hash": digest,
    }


def spark_answer(df) -> dict:
    fields = df.schema.fields
    return answer(
        [f.name for f in fields],
        [spark_type(f.dataType) for f in fields],
        [tuple(r) for r in df.collect()],
    )


def mismatches(expected: dict, got: dict) -> list[str]:
    """What differs between an expected and an observed answer."""
    out = []
    if expected["schema"] != got["schema"]:
        out.append(f"schema {got['schema']} != {expected['schema']}")
    if expected["rows"] != got["rows"]:
        out.append(f"rows {got['rows']} != {expected['rows']}")
    if expected["hash"] != got["hash"]:
        out.append("value hash differs")
    return out
