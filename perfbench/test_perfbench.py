"""Tests of the benchmark's own logic (no Spark):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import decimal

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import datagen, stats
from perfbench.lake import Lake, LakeSpec
from perfbench.run import LAKE_OPS, pass_order
from perfbench.trace import Tracer


# -- tail rule -----------------------------------------------------------


def test_tail_leaves_exactly_ten_samples_above():
    xs = list(range(100))
    value, pct, n = stats.tail(xs)
    assert n == 100
    assert sum(1 for x in xs if x > value) == 10
    assert value == 89
    assert pct == pytest.approx(90.0)


def test_tail_is_order_independent():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 11.0, 10.0]
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_tail_with_eleven_samples_is_the_minimum():
    xs = [float(i) for i in range(11)]
    value, pct, n = stats.tail(xs)
    assert value == 0.0 and n == 11
    assert pct == pytest.approx(100.0 / 11)


def test_tail_too_few_samples_reports_max_at_100():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert stats.tail([float(i) for i in range(10)]) == (9.0, 100.0, 10)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        stats.tail([])


# -- self time -----------------------------------------------------------


def _span(sid, parent, layer, start, end):
    return {"id": sid, "parent": parent, "layer": layer,
            "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, "bench", 0.0, 10.0),
        _span(1, 0, "workload", 1.0, 3.0),
        _span(2, 0, "exec", 3.0, 9.0),
    ]
    st = stats.self_times(spans)
    assert st == pytest.approx({"bench": 2.0, "workload": 2.0, "exec": 6.0})
    # self times partition the root interval
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_merges_overlapping_children():
    spans = [
        _span(0, None, "bench", 0.0, 10.0),
        _span(1, 0, "a", 1.0, 5.0),
        _span(2, 0, "b", 4.0, 6.0),  # overlaps a: covered is [1, 6]
    ]
    assert stats.self_times(spans)["bench"] == pytest.approx(5.0)


def test_self_time_only_direct_children_and_clipped():
    spans = [
        _span(0, None, "bench", 0.0, 10.0),
        _span(1, 0, "workload", 2.0, 8.0),
        _span(2, 1, "exec", 3.0, 4.0),  # grandchild: not bench's child
        _span(3, 0, "exec", 9.0, 12.0),  # runs past its parent: clipped
    ]
    st = stats.self_times(spans)
    assert st["bench"] == pytest.approx(10.0 - 6.0 - 1.0)
    assert st["workload"] == pytest.approx(5.0)
    assert st["exec"] == pytest.approx(1.0 + 3.0)


def test_self_time_sums_by_layer():
    spans = [_span(i, None, "exec", i, i + 0.5) for i in range(4)]
    assert stats.self_times(spans) == {"exec": pytest.approx(2.0)}


def test_tracer_nests_spans_and_inherits_the_op():
    tr = Tracer(True)
    with tr.span("bench", "q", op=3):
        with tr.span("sinks", "drain"):
            pass
    with tr.span("session", "build"):
        pass
    inner, outer, other = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["op"] == outer["op"] == 3 and other["op"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    st = stats.self_times([s for s in tr.spans if s["op"] is not None])
    assert set(st) == {"bench", "sinks"}


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("bench", "q", op=1):
        pass
    assert tr.spans == []


# -- digests -------------------------------------------------------------


def test_canon_value_engine_neutral_numbers():
    assert stats.canon_value(4) == stats.canon_value(4.0) == "4"
    assert stats.canon_value(np.int64(7)) == "7"
    assert stats.canon_value(-0.0) == "0"
    assert stats.canon_value(decimal.Decimal("1.50")) == stats.canon_value(1.5)
    # summation-order noise far below the kept digits vanishes
    assert stats.canon_value(sum([0.1] * 10)) == stats.canon_value(1.0)
    assert stats.canon_value(123456.78901234567) == stats.canon_value(
        123456.78901234569
    )
    assert stats.canon_value(1.0 / 3.0) != stats.canon_value(0.3333)


def test_canon_value_nulls_and_types():
    assert stats.canon_value(None) == "null"
    assert stats.canon_value(float("nan")) == "null"
    assert stats.canon_value(pd.NaT) == "null"
    assert stats.canon_value(True) == "true"
    assert stats.canon_value([1, 2.0, None]) == "[1,2,null]"
    assert stats.canon_value(np.array([0.5, 1.5])) == "[0.5,1.5]"
    ts = dt.datetime(2024, 1, 1, 0, 0, 1)
    assert stats.canon_value(ts) == stats.canon_value(pd.Timestamp(ts))


def _canon(columns, rows):
    return stats.canon_frame(pd.DataFrame(rows, columns=columns))


def test_digest_ignores_row_and_column_order_and_case():
    a = _canon(["B", "a"], [(1, "x"), (2, "y")])
    b = _canon(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b and stats.digest(a) == stats.digest(b)


def test_digest_sees_value_and_multiplicity_changes():
    base = stats.digest(_canon(["a"], [(1,), (2,)]))
    assert stats.digest(_canon(["a"], [(1,), (3,)])) != base
    assert stats.digest(_canon(["a"], [(1,), (2,), (2,)])) != base
    assert stats.digest(_canon(["b"], [(1,), (2,)])) != base


def test_int_vs_float_frames_agree():
    # DuckDB renders an integer SUM as float64, Spark as int64
    s = pd.DataFrame({"k": ["a", "b"], "n": np.array([4, 5], dtype=np.int64)})
    d = pd.DataFrame({"K": ["b", "a"], "n": np.array([5.0, 4.0])})
    assert stats.canon_frame(s) == stats.canon_frame(d)
    assert len(stats.canon_frame(s)["rows"]) == 2


def test_same_result_tolerates_a_cent_flip_on_a_rounded_sum():
    # round(sum, 2) of a sum sitting on a half cent: engines disagree
    a = _canon(["k", "revenue"], [(1, 390850.37), (2, 17.5)])
    b = _canon(["k", "revenue"], [(1, 390850.38), (2, 17.5)])
    assert stats.digest(a) != stats.digest(b)
    assert stats.same_result(a, b)


def test_same_result_rejects_real_differences():
    a = _canon(["k", "v"], [(1, 100.0), (2, "x")])
    assert not stats.same_result(a, _canon(["k", "v"], [(1, 100.1), (2, "x")]))
    assert not stats.same_result(a, _canon(["k", "v"], [(1, 100.0), (2, "y")]))
    assert not stats.same_result(a, _canon(["k", "w"], [(1, 100.0), (2, "x")]))
    assert not stats.same_result(a, _canon(["k", "v"], [(1, 100.0)]))
    # a NULL is not close to a number
    assert not stats.same_result(a, _canon(["k", "v"], [(1, None), (2, "x")]))


# -- inputs --------------------------------------------------------------


def test_generate_is_deterministic_and_keyed():
    a = datagen.generate(0.001)
    b = datagen.generate(0.001)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    fk = a["lineitem"].column("l_orderkey").to_numpy()
    assert fk.max() < a["orders"].num_rows
    other = datagen.generate(0.001, seed=7)
    assert not other["lineitem"].equals(a["lineitem"])


def test_data_digest_follows_the_contents():
    a = datagen.generate(0.001)
    assert datagen.data_digest(a) == datagen.data_digest(datagen.generate(0.001))
    assert datagen.data_digest(a) != datagen.data_digest(
        datagen.generate(0.001, seed=7))


def test_fingerprint_depends_on_scale():
    assert datagen.fingerprint(0.01) != datagen.fingerprint(0.02)
    assert datagen.fingerprint(0.01) == datagen.fingerprint(0.01)


def test_generated_counts_follow_the_test_data():
    # small scales keep at least 500 documents and embeddings
    assert datagen.counts(0.01)["documents"] == 500
    assert datagen.counts(0.01)["embeddings"] == 500
    assert datagen.counts(0.1)["embeddings"] == 2000
    assert datagen.counts(0.1)["lineitem"] == 600_000


# -- pass order ----------------------------------------------------------


def test_pass_order_is_fixed_and_ends_with_the_lake_block():
    qs = [f"q{i}" for i in range(8)]
    a = pass_order(qs)
    assert a == pass_order(list(reversed(qs)))
    assert a[:len(qs)] == sorted(qs) and a[len(qs):] == LAKE_OPS


# -- lake deliveries and their replay ------------------------------------

SPEC = LakeSpec("t", "k", "g", "m", 6, 4, 2)


def _lake(tmp_path, seed=1, n=40):
    base = pd.DataFrame({
        "k": np.arange(n, dtype=np.int64),
        "g": np.array(["a", "b", "c", "d"])[np.arange(n) % 4],
        "m": np.arange(n, dtype=np.float64),
    })
    data = tmp_path / "data"
    data.mkdir(exist_ok=True)
    base.to_parquet(data / "t.parquet", index=False)
    work = tmp_path / f"work{len(list(tmp_path.iterdir()))}"
    return Lake(SPEC, str(data), str(work), seed)


def _landed(lake, seq):
    return pq.read_table(
        f"{lake.landing}/delivery-{seq:05d}.parquet"
    ).to_pandas()


def test_base_delivery_inserts_every_row(tmp_path):
    lake = _lake(tmp_path)
    assert lake.land_base() == 40
    got = _landed(lake, 0)
    assert set(got["_op"]) == {"insert"} and (got["seq"] == 0).all()
    assert sorted(got["k"]) == list(range(40))


def test_delivery_replay_applies_inserts_updates_deletes(tmp_path):
    lake = _lake(tmp_path)
    before = lake.state.copy()
    rows = lake.land_next()
    got = _landed(lake, 1)
    assert len(got) == rows and got["k"].is_unique
    assert (got["seq"] == 1).all()
    ins, upd, dele = (got[got["_op"] == op] for op in
                      ("insert", "update", "delete"))
    assert (len(ins), len(upd), len(dele)) == (6, 4, 2)
    assert (ins["k"] >= 40).all()
    state = lake.state.set_index("k", drop=False)
    assert not state.index.isin(dele["k"]).any()
    for _, r in upd.iterrows():
        assert state.loc[r["k"], "m"] == before.loc[r["k"], "m"] + 1
    assert state.index.isin(ins["k"]).sum() == len(ins)
    assert len(state) == 40 + len(ins) - len(dele)
    assert lake.state.index.is_unique


def test_replay_aggregate_matches_the_state(tmp_path):
    lake = _lake(tmp_path)
    for _ in range(3):
        lake.land_next()
    agg = lake.agg().set_index("g")
    st = lake.state
    for g in "abcd":
        part = st[st["g"] == g]
        assert agg.loc[g, "n"] == len(part)
        assert agg.loc[g, "total"] == pytest.approx(part["m"].sum())


def test_deliveries_depend_only_on_the_seed(tmp_path):
    a, b, c = _lake(tmp_path, 5), _lake(tmp_path, 5), _lake(tmp_path, 6)
    for lake in (a, b, c):
        lake.land_next()
        lake.land_next()
    assert _landed(a, 2).equals(_landed(b, 2))
    assert not _landed(a, 2).equals(_landed(c, 2))


def test_versions_recorded_for_time_travel(tmp_path):
    lake = _lake(tmp_path)
    lake.record(1)
    first = lake.agg()
    lake.land_next()
    lake.record(3)
    assert lake.older_version() == 1
    assert lake.aggs[1].equals(first)
    assert not lake.aggs[3].equals(first)
