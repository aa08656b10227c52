"""Spark-free unit tests of ``streaming.stateful.in_order_rows``, the
per-key in-order policing shared by the stream twins of the keyed
recurrences (Kalman, CUSUM, funnel, transitions)."""

import pandas as pd
import pytest

from hazelcast_jet_spark.streaming.stateful import in_order_rows


def _batch():
    # two arrival frames plus an empty one; t=2 appears twice (ties)
    return [pd.DataFrame({"t": [3, 2], "v": ["c", "b1"]}),
            pd.DataFrame({"t": [], "v": []}),
            pd.DataFrame({"t": [2, 1], "v": ["b2", "a"]})]


def _before(last):
    return lambda rows: rows["t"] <= last


def test_rows_sorted_stably_ties_keep_arrival_order():
    take = in_order_rows("op", "t", "raise")
    rows = take(("k",), _batch(), lambda rows: None)
    assert rows["v"].tolist() == ["a", "b1", "b2", "c"]
    assert rows.index.tolist() == [0, 1, 2, 3]
    # past the small-array cutoff, where an unstable sort reorders ties
    ts = [(7 * i) % 3 for i in range(64)]
    frames = [pd.DataFrame({"t": ts[:40], "v": range(40)}),
              pd.DataFrame({"t": ts[40:], "v": range(40, 64)})]
    rows = take(("k",), frames, lambda rows: None)
    want = sorted(range(64), key=lambda i: ts[i])
    assert rows["v"].tolist() == want


def test_raise_names_op_and_key():
    take = in_order_rows("stream_op", "t", "raise")
    with pytest.raises(RuntimeError,
                       match="in-order delivery violated") as ei:
        take(("k9",), _batch(), _before(1))
    assert "stream_op" in str(ei.value) and "k9" in str(ei.value)
    assert "1 late row(s)" in str(ei.value)


def test_drop_discards_only_late_rows():
    take = in_order_rows("op", "t", "drop")
    rows = take(("k",), _batch(), _before(2))
    assert rows["v"].tolist() == ["c"]
    assert rows.index.tolist() == [0]


def test_only_late_rows_yield_nothing():
    assert in_order_rows("op", "t", "drop")(("k",), _batch(),
                                             _before(3)) is None
    assert in_order_rows("op", "t", "raise")(("k",), [pd.DataFrame(
        {"t": [], "v": []})], _before(0)) is None


def test_list_order_and_no_late_rows():
    take = in_order_rows("op", ["t", "v"], "raise")
    frame = pd.DataFrame({"t": [2, 2, 1], "v": ["y", "x", "z"]})
    rows = take(("k",), [frame], _before(0))
    assert rows["v"].tolist() == ["z", "x", "y"]


def test_bad_policy_rejected_before_any_batch():
    with pytest.raises(ValueError, match="on_out_of_order"):
        in_order_rows("op", "t", "explode")
