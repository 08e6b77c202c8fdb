"""Result checks against the registry's DuckDB oracles.

The comparison is the one the repo's correctness gate makes: the same row
count, the same column names, and the same multiset of canonical rows, where
a cell's canonical form keeps its type (int, float and decimal compare
apart) and floats compare to 12 significant digits.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (float, np.floating)):
        return "f:NaN" if math.isnan(v) else f"f:{v:.12g}"
    if isinstance(v, Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canon_rows(pdf) -> list[tuple[str, ...]]:
    """Column-name-sorted, row-sorted canonical form of a pandas frame."""
    cols = sorted(pdf.columns)
    return sorted(tuple(_canon(v) for v in row) for row in pdf[cols].itertuples(index=False))


def connect(tmp_dir: str):
    """An in-memory DuckDB connection that spills, if ever, under ``tmp_dir``."""
    return duckdb.connect(config={"temp_directory": tmp_dir})


class Oracle:
    """DuckDB views over one directory of the input tables."""

    def __init__(self, sf_dir: str, tmp_dir: str):
        self.con = connect(tmp_dir)
        for t in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def mismatch(self, got, sql: str) -> str | None:
        """None when ``got`` (a pandas frame) equals the oracle's result,
        else a one-line description of the first difference found."""
        want = self.con.execute(sql).fetchdf()
        if len(got) != len(want):
            return f"rows {len(got)} != oracle {len(want)}"
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
        a, b = canon_rows(got), canon_rows(want)
        if a != b:
            diff = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            return f"row {diff}: {a[diff]} != oracle {b[diff]}"
        return None

    def close(self) -> None:
        self.con.close()
