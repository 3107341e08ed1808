"""Pure helpers behind the benchmark's numbers: percentiles, the tail
rule, canonical results and their digests, and span self-time.

Nothing here touches Spark, so the logic is unit-tested on its own
(``python -m pytest perfbench``).
"""

from __future__ import annotations

import decimal
import hashlib
import math
import statistics
from collections.abc import Iterable, Sequence

import numpy as np

TAIL_BEYOND = 10  # samples that must lie above the reported tail


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile, n)``. Over n sorted samples the value
    at 0-based rank ``n - beyond - 1`` has exactly ``beyond`` samples
    after it, so its percentile is ``100 * (n - beyond) / n``. With
    ``n <= beyond`` no percentile qualifies; the maximum is returned
    with percentile 100 so the caller can print that the sample was too
    small."""
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    if n <= beyond:
        return float(xs[-1]), 100.0, n
    return float(xs[n - beyond - 1]), 100.0 * (n - beyond) / n, n


# -- result digests ------------------------------------------------------

FLOAT_DIGITS = 10  # significant digits kept; sums over 10^5 rows differ
#                    between engines only past ~1e-13 relative


def canon_value(v) -> str:
    """One cell, engine-neutral: integers exactly, floats and decimals
    to FLOAT_DIGITS significant digits (summation order differs between
    Spark and DuckDB), -0.0 as 0, NaN/None/NaT as ``null``, timestamps
    in ISO form, sequences element-wise."""
    if v is None:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "null"
        if f == 0.0:
            return "0"
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return f"{f:.{FLOAT_DIGITS}g}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{canon_value(v[k])}" for k in sorted(v)
        ) + "}"
    if isinstance(v, bytes):
        return v.hex()
    iso = getattr(v, "isoformat", None)
    if iso is not None:
        try:
            import pandas as pd

            if pd.isna(v):
                return "null"
        except (TypeError, ValueError):
            pass
        return iso()
    return str(v)


def canon_rows(columns: Sequence[str], rows: Iterable[Sequence]) -> list[tuple[str, ...]]:
    """Order-insensitive canonical form: columns sorted by lowercased
    name, every cell through :func:`canon_value`, rows sorted."""
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=names.__getitem__)
    return sorted(tuple(canon_value(r[i]) for i in order) for r in rows)


def canon_frame(pdf) -> dict:
    """Canonical result of a pandas frame (Spark ``toPandas()`` and
    DuckDB ``.df()`` both land here, so both sides share one path):
    sorted lowercased column names and :func:`canon_rows`."""
    cols = list(pdf.columns)
    return {
        "columns": sorted(c.lower() for c in cols),
        "rows": canon_rows(cols, pdf.itertuples(index=False, name=None)),
    }


def digest(canon: dict) -> str:
    """sha256 over a canonical result's column names and rows."""
    h = hashlib.sha256()
    h.update(("|".join(canon["columns"]) + "\n").encode())
    for row in canon["rows"]:
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest()[:16]


FLOAT_REL_TOL = 1e-6


def _close(x: str, y: str) -> bool:
    try:
        return math.isclose(float(x), float(y), rel_tol=FLOAT_REL_TOL)
    except ValueError:
        return False


def same_result(a: dict, b: dict) -> bool:
    """Equal canonical results, except that numbers need only agree to
    FLOAT_REL_TOL. Two engines sum floats in different orders, and a
    query that rounds a sum (``round(sum(x), 2)``) can then land one
    cent apart when the exact sum sits on a half cent."""
    if a["columns"] != b["columns"] or len(a["rows"]) != len(b["rows"]):
        return False
    return all(
        len(ra) == len(rb) and all(x == y or _close(x, y) for x, y in zip(ra, rb))
        for ra, rb in zip(a["rows"], b["rows"])
    )


# -- spans ---------------------------------------------------------------


def self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part of its
    interval covered by its direct children (overlapping children are
    merged first, so concurrent children are not subtracted twice).
    Spans are dicts with ``id``, ``parent``, ``layer``, ``start`` and
    ``end``; the result sums self time by ``layer``."""
    children: dict[object, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo) - covered
    return out

