#!/usr/bin/env python3
"""Compare the benchmark's generated tables with a reference data dir.

    python3 perfbench/compare_inputs.py <reference-dir> <sf>

The reference dir holds one ``<table>.parquet`` per table, like the
engine's test data. For every table the script prints the row counts,
then one line per column whose summary differs: type, distinct count,
null count, min, max and mean (numbers) or mean length (strings). A
count or mean that differs by more than 10 % (or a type that differs)
is marked ``!``. The generated side is built in memory; nothing is
written.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import datagen  # noqa: E402

TOL = 0.10


def summary(col: pa.ChunkedArray) -> dict:
    t = col.type
    out = {"type": str(t).replace("item:", "element:"),
           "nulls": col.null_count}
    if pa.types.is_list(t):
        col = pc.list_value_length(col)
        out["type"] += " (len)"
        t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        out["distinct"] = len(pc.unique(col))
        out["mean"] = pc.mean(pc.utf8_length(col)).as_py()
        return out
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        col = col.cast(pa.timestamp("us")).cast(pa.int64())
        out["distinct"] = len(pc.unique(col))
        mm = pc.min_max(col).as_py()
        out["min"] = str(pa.scalar(mm["min"], pa.timestamp("us")).as_py())
        out["max"] = str(pa.scalar(mm["max"], pa.timestamp("us")).as_py())
        return out
    out["distinct"] = len(pc.unique(col))
    mm = pc.min_max(col).as_py()
    out.update(min=mm["min"], max=mm["max"], mean=pc.mean(col).as_py())
    return out


def differs(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) > TOL * max(abs(a), abs(b), 1e-12)
    return a != b


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    ref_dir, sf = argv[0], float(argv[1])
    ours = datagen.generate(sf)
    flagged = 0
    for name in datagen.TABLES:
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        gen = ours[name]
        mark = "!" if differs(ref.num_rows, gen.num_rows) else " "
        flagged += mark == "!"
        print(f"{mark} {name}: rows ref {ref.num_rows} ours {gen.num_rows}")
        for c in ref.column_names:
            if c not in gen.column_names:
                print(f"!   {c}: missing")
                flagged += 1
                continue
            a, b = summary(ref.column(c)), summary(gen.column(c))
            bad = [k for k in a if differs(a[k], b.get(k))
                   and k in ("type", "distinct", "nulls", "mean")]
            if a != b:
                m = "!" if bad else " "
                flagged += bool(bad)
                print(f"{m}   {c}: ref {a}\n        ours {b}")
        for c in gen.column_names:
            if c not in ref.column_names:
                print(f"!   {c}: not in the reference")
                flagged += 1
    print(f"{flagged} flagged differences")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
