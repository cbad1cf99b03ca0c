"""Engine-independent expected state, computed by DuckDB straight from
ledger parquet: valid rows only, last writer wins by
``(ts, lsn, src_part)`` per ``(conv_id, turn_idx)``, deletes dropped.

Rows are compared as canonical tuples of ``COLS`` (timestamps as epoch
micros, NULL as None), so the same value reads the same on both sides.
"""

from __future__ import annotations

import duckdb
import pandas as pd

COLS = ("conv_id", "turn_idx", "role", "text", "tool", "tool_version", "ts")

# the ledger contract's row rules, restated here rather than imported
# from the engine so the reference cannot inherit an engine bug
_VALID = (
    "conv_id IS NOT NULL AND length(conv_id) > 0 AND turn_idx IS NOT NULL "
    "AND turn_idx >= 0 AND lsn IS NOT NULL AND src_part IS NOT NULL "
    "AND op IN ('I', 'U', 'D') AND ts IS NOT NULL "
    "AND (op = 'D' OR role IS NULL OR role IN ('user', 'assistant', 'system', 'tool')) "
    "AND (op = 'D' OR text IS NOT NULL)"
)


def _select(glob: str) -> str:
    src = (
        f"read_parquet('{glob}', union_by_name = true, hive_partitioning = false)"
    )
    names = {r[0] for r in duckdb.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()}
    cols = ", ".join(
        ("epoch_us(ts) AS ts" if c == "ts" else c) if c in names else f"NULL AS {c}"
        for c in COLS
    )
    return (
        f"SELECT {cols}, op, epoch_us(ts) AS o_ts, lsn AS o_lsn, src_part AS o_part "
        f"FROM {src} WHERE {_VALID}"
    )


def winners(ledger_glob: str) -> dict[tuple, tuple]:
    """``{key: (row, order)}`` of the last writer per key over the files
    matching ``ledger_glob``; ``row`` is None for a key whose last
    writer is a delete."""
    sql = (
        f"SELECT * FROM ({_select(ledger_glob)}) "
        "QUALIFY row_number() OVER (PARTITION BY conv_id, turn_idx "
        "ORDER BY o_ts DESC, o_lsn DESC, o_part DESC) = 1"
    )
    out = {}
    n = len(COLS)
    for r in duckdb.sql(sql).fetchall():
        row = None if r[n] == "D" else tuple(r[:n])
        out[(r[0], r[1])] = (row, tuple(r[n + 1:]))
    return out


def apply(state: dict, newer: dict) -> None:
    """Fold ``newer`` winners into ``state`` by the same order."""
    for k, (row, order) in newer.items():
        cur = state.get(k)
        if cur is None or order > cur[1]:
            state[k] = (row, order)


def live_rows(state: dict) -> set[tuple]:
    return {row for row, _ in state.values() if row is not None}


def canon_frame(pdf) -> set[tuple]:
    """Canonical row tuples of an engine result (pandas, from
    ``read_live(...).toPandas()`` or ``lookup_fast``)."""
    cols = []
    for c in COLS:
        if c not in pdf.columns:
            cols.append([None] * len(pdf))
        elif c == "ts":
            ts = pd.to_datetime(pdf[c], utc=True).dt.tz_localize(None)
            us = ts.astype("datetime64[us]").astype("int64")
            cols.append([None if m else int(v) for v, m in zip(us, ts.isna())])
        else:
            cols.append(
                [None if v is None or v != v else (int(v) if c == "turn_idx" else v)
                 for v in pdf[c].tolist()]
            )
    return set(zip(*cols))
