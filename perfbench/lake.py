"""The lake half of a workload: the paper's ingest pipeline.

An object lands, a job applies it, the refined table and its view are
updated, and analysts read them. Here:

- each delivery is a parquet file of op-coded changes (mostly inserts,
  some updates, a few deletes) drawn from ``--seed``, landed atomically
  in a landing directory;
- ``streaming.sinks.cdc_apply_sink`` (availableNow) drains it into an
  ``io.versioned`` table; delivery 0, the whole input table as inserts,
  creates that table during set-up;
- ``io.matview.refresh_aggregate_view`` folds the change into a count
  and sum per group; ``io.versioned.compact_table`` merges the small
  files each delivery leaves;
- ``LakeSQL`` reads: an aggregate over the current version, a point
  lookup by key, the aggregate ``VERSION AS OF`` an older version, and
  the view.

:class:`Lake` replays every delivery in pandas, so each read, the view
and the final table can be compared with what the deliveries imply.
"""

from __future__ import annotations

import os
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


class LakeSpec(NamedTuple):
    table: str  # input table the lake table starts as
    key: str  # primary key
    group: str  # group key of the view and of the aggregate reads
    measure: str  # summed column; an update adds 1 to it
    inserts: int  # rows per delivery; the seed picks which
    updates: int
    deletes: int


class Lake:
    def __init__(self, spec: LakeSpec, data_dir: str, work: str, seed: int):
        self.spec = spec
        self.rng = np.random.default_rng(seed)
        base = pq.read_table(os.path.join(data_dir, f"{spec.table}.parquet"))
        self.schema = base.schema.append(pa.field("seq", pa.int64()))
        df = base.to_pandas()
        df["seq"] = np.int64(0)
        self.state = df.set_index(spec.key, drop=False)
        self.next_key = int(df[spec.key].max()) + 1
        self.seq = 0
        self.work = work
        self.table = os.path.join(work, "lake", "table")
        self.view = os.path.join(work, "lake", "view")
        self.landing = os.path.join(work, "lake", "landing")
        self.checkpoint = os.path.join(work, "lake", "checkpoint")
        os.makedirs(self.landing)
        self.aggs: dict[int, pd.DataFrame] = {}  # table version -> agg
        self.delivered_bytes = 0

    # -- deliveries and their replay -------------------------------------

    def land(self, changes: pd.DataFrame) -> int:
        """Write one delivery where the sink will find it; the rename
        makes the file appear whole. Returns its row count."""
        tbl = pa.Table.from_pandas(
            changes.reset_index(drop=True),
            schema=self.schema.append(pa.field("_op", pa.string())),
            preserve_index=False,
        )
        name = f"delivery-{self.seq:05d}.parquet"
        tmp = os.path.join(self.work, name)
        pq.write_table(tbl, tmp)
        self.delivered_bytes += os.path.getsize(tmp)
        os.rename(tmp, os.path.join(self.landing, name))
        return len(changes)

    def land_base(self) -> int:
        """Delivery 0: every input row as an insert."""
        return self.land(self.state.assign(_op="insert"))

    def land_next(self) -> int:
        """Draw the next delivery from the live rows, land it and apply
        it to the replay."""
        s, rng = self.spec, self.rng
        self.seq += 1
        n_ins, n_upd, n_del = s.inserts, s.updates, s.deletes
        live = self.state.index.to_numpy()
        picked = rng.choice(live, n_upd + n_del, replace=False)
        upd_keys, del_keys = picked[:n_upd], picked[n_upd:]
        ins = self.state.loc[rng.choice(live, n_ins)].copy()
        ins[s.key] = np.arange(self.next_key, self.next_key + n_ins,
                               dtype=ins[s.key].dtype)
        self.next_key += n_ins
        ins.index = ins[s.key]
        upd = self.state.loc[upd_keys].copy()
        upd[s.measure] = upd[s.measure] + 1
        changes = pd.concat([
            ins.assign(_op="insert"), upd.assign(_op="update"),
            self.state.loc[del_keys].assign(_op="delete"),
        ])
        changes["seq"] = np.int64(self.seq)
        rows = self.land(changes)
        kept = self.state.drop(index=np.concatenate([upd_keys, del_keys]))
        self.state = pd.concat([
            kept, changes[changes["_op"] != "delete"].drop(columns="_op"),
        ])
        return rows

    def agg(self) -> pd.DataFrame:
        """The expected aggregate of the live rows: count and sum of the
        measure per group."""
        g = self.state.groupby(self.spec.group)[self.spec.measure]
        return g.agg(n="size", total="sum").reset_index()

    def record(self, version: int) -> None:
        self.aggs[version] = self.agg()

    def point_key(self) -> int:
        """A seeded key: a live one mostly, sometimes a deleted one."""
        if self.rng.random() < 0.8:
            return int(self.rng.choice(self.state.index.to_numpy()))
        return int(self.rng.integers(0, self.next_key))

    def older_version(self) -> int:
        """A seeded version that is not the current one, if any."""
        versions = sorted(self.aggs)
        return int(self.rng.choice(versions[:-1] or versions))

    # -- the engine's side -----------------------------------------------

    def agg_sql(self, version: int | None = None) -> str:
        s = self.spec
        asof = "" if version is None else f" VERSION AS OF {version}"
        return (f"SELECT {s.group}, count(*) AS n, sum({s.measure}) AS total "
                f"FROM lake{asof} GROUP BY {s.group}")

    def point_sql(self, key: int) -> str:
        return f"SELECT * FROM lake WHERE {self.spec.key} = {key}"

    def expected_point(self, key: int) -> pd.DataFrame:
        return self.state[self.state[self.spec.key] == key]

    def sink_schema(self, spark):
        """The deliveries' schema as Spark reads it."""
        return spark.read.parquet(
            os.path.join(self.landing, "delivery-00000.parquet")
        ).schema

    def bytes_on_disk(self) -> int:
        """Bytes under the table and view directories."""
        total = 0
        for root in (self.table, self.view):
            for d, _dirs, files in os.walk(root):
                total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total

    def live_bytes(self) -> tuple[int, int]:
        """Files and bytes the table's current version references."""
        from aws_etl_project2_fiap_spark.io import versioned as V

        d = V.describe_table(self.table)
        return d["num_files"], d["total_bytes"]
