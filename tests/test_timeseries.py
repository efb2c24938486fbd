"""EWMA features (operators/timeseries.py): closed-form weighted sum
must equal the literal recursion, ties ordered by the tiebreak, and
alpha=1 degenerates to the last value."""

from __future__ import annotations

from datetime import datetime

import pytest

from quanta_contrib.operators.timeseries import ewma_by_key


def _rows(vals, key=1):
    return [
        (key, i, datetime(2024, 1, 1, 0, 0, i), float(v)) for i, v in enumerate(vals)
    ]


SCHEMA = "user_id int, event_id int, ts timestamp, value double"


def _recursive_ewma(vals, a):
    e = vals[0]
    for x in vals[1:]:
        e = a * x + (1 - a) * e
    return e


@pytest.mark.parametrize("alpha", [0.5, 0.2])
def test_ewma_matches_literal_recursion(spark, alpha):
    vals = [10.0, 20.0, 5.0, 40.0, 1.0]
    df = spark.createDataFrame(_rows(vals), SCHEMA)
    row = ewma_by_key(df, alpha=alpha).collect()[0]
    want = _recursive_ewma(vals, alpha)
    assert row["n_events"] == 5
    assert row["last_value_bp"] == 1_0000
    assert row["ewma_bp"] == int(want * 10_000 + 0.5)


def test_ewma_alpha_one_is_last_value(spark):
    df = spark.createDataFrame(_rows([3.0, 9.0, 2.5]), SCHEMA)
    row = ewma_by_key(df, alpha=1.0).collect()[0]
    assert row["ewma_bp"] == row["last_value_bp"] == 25_000


def test_ewma_orders_ties_by_tiebreak(spark):
    # two rows share a timestamp: event_id must break the tie, so the
    # "last" value is the higher event_id's
    ts = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, 2, ts, 100.0), (1, 1, ts, 1.0)], SCHEMA
    )
    row = ewma_by_key(df, alpha=0.5).collect()[0]
    assert row["last_value_bp"] == 100_0000
    assert row["ewma_bp"] == int((0.5 * 100.0 + 0.5 * 1.0) * 10_000 + 0.5)


def test_ewma_rejects_bad_alpha(spark):
    df = spark.createDataFrame(_rows([1.0]), SCHEMA)
    with pytest.raises(ValueError, match="alpha"):
        ewma_by_key(df, alpha=0.0)


def test_psi_drift_matches_hand_computation(spark):
    """Two days, one key, 2 bins: PSI against the hand formula with
    add-one smoothing; day 1 has no predecessor -> NULL psi."""
    import math
    from datetime import datetime

    from quanta_contrib.operators.timeseries import psi_drift

    d1, d2 = datetime(2024, 1, 1, 5), datetime(2024, 1, 2, 7)
    # day1: 3 low, 1 high; day2: 1 low, 3 high (drift!)
    rows = (
        [(i, d1, "click", 10.0) for i in range(3)]
        + [(3, d1, "click", 80.0)]
        + [(4, d2, "click", 10.0)]
        + [(i, d2, "click", 80.0) for i in range(5, 8)]
    )
    df = spark.createDataFrame(
        rows, "event_id int, ts timestamp, event_type string, value double"
    )
    out = {r["day"].day: r for r in psi_drift(df, lo=0.0, hi=100.0, n_bins=2).collect()}
    assert out[1]["psi_bp"] is None
    p = [(1 + 1) / 6, (3 + 1) / 6]          # day2 smoothed probs
    q = [(3 + 1) / 6, (1 + 1) / 6]          # day1 smoothed probs
    want = sum((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q))
    assert out[2]["psi_bp"] == int(want * 10_000 + 0.5)
    assert out[2]["n_rows"] == 4


def test_psi_drift_gap_days_not_compared(spark):
    """A 2-day gap between observations must NOT produce a psi (only
    consecutive days compare)."""
    from datetime import datetime

    from quanta_contrib.operators.timeseries import psi_drift

    rows = [(1, datetime(2024, 1, 1), "e", 10.0), (2, datetime(2024, 1, 3), "e", 10.0)]
    df = spark.createDataFrame(
        rows, "event_id int, ts timestamp, event_type string, value double"
    )
    out = psi_drift(df, lo=0.0, hi=100.0, n_bins=2).collect()
    assert all(r["psi_bp"] is None for r in out)


def test_psi_drift_identical_days_zero(spark):
    from datetime import datetime

    from quanta_contrib.operators.timeseries import psi_drift

    rows = [
        (i, datetime(2024, 1, d), "e", float(v))
        for d in (1, 2)
        for i, v in enumerate([5.0, 5.0, 95.0])
    ]
    df = spark.createDataFrame(
        rows, "event_id int, ts timestamp, event_type string, value double"
    )
    out = {r["day"].day: r["psi_bp"] for r in psi_drift(df, lo=0.0, hi=100.0, n_bins=2).collect()}
    assert out[2] == 0


def _gf_df(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")


def test_gapfill_locf_and_linear_exact(spark):
    from quanta_contrib.operators.timeseries import gapfill

    # observations at hours 0 and 3 -> ticks 1,2 are gaps; linear walks
    # 10 -> 40 in thirds, locf carries 10
    rows = [
        (1, datetime(2024, 1, 1, 0, 10), 10.0),
        (1, datetime(2024, 1, 1, 3, 50), 40.0),
    ]
    out = {
        r["tick"].hour: r
        for r in gapfill(_gf_df(spark, rows), bucket="1 hour").collect()
    }
    assert sorted(out) == [0, 1, 2, 3]
    assert [out[h]["is_gap"] for h in (0, 1, 2, 3)] == [False, True, True, False]
    assert [out[h]["value_locf"] for h in (0, 1, 2, 3)] == [10.0, 10.0, 10.0, 40.0]
    assert out[1]["value_linear"] == 20.0
    assert out[2]["value_linear"] == 30.0


def test_gapfill_per_tick_reducer_is_max_and_spine_per_key(spark):
    from quanta_contrib.operators.timeseries import gapfill

    rows = [
        (1, datetime(2024, 1, 1, 0, 5), 3.0),
        (1, datetime(2024, 1, 1, 0, 40), 7.0),  # same tick -> max = 7
        (2, datetime(2024, 1, 5, 0, 0), 1.0),  # key 2 spans ONE tick
    ]
    out = gapfill(_gf_df(spark, rows), bucket="1 hour").collect()
    k1 = [r for r in out if r["user_id"] == 1]
    k2 = [r for r in out if r["user_id"] == 2]
    assert len(k1) == 1 and k1[0]["value"] == 7.0
    assert len(k2) == 1 and not k2[0]["is_gap"]  # no cross-key spine bleed


def test_gapfill_bucket_validation(spark):
    from quanta_contrib.operators.timeseries import gapfill

    df = _gf_df(spark, [(1, datetime(2024, 1, 1), 1.0)])
    with pytest.raises(ValueError, match="unsupported bucket unit"):
        gapfill(df, bucket="1 week")
    with pytest.raises(ValueError, match="bucket must look like"):
        gapfill(df, bucket="hourly")


def test_scd2_noop_upserts_collapse(spark):
    from quanta_contrib.operators.timeseries import scd2_history

    rows = [
        (1, 1, datetime(2024, 1, 1), "free"),
        (1, 2, datetime(2024, 1, 2), "free"),  # no-op: same attrs
        (1, 3, datetime(2024, 1, 3), "pro"),
        (1, 4, datetime(2024, 1, 4), "pro"),  # no-op
        (1, 5, datetime(2024, 1, 5), "free"),  # back to free = NEW version
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = sorted(
        scd2_history(df).collect(), key=lambda r: r["version"]
    )
    assert [(r["event_type"], r["version"], r["is_current"]) for r in out] == [
        ("free", 1, False), ("pro", 2, False), ("free", 3, True)
    ]
    assert out[0]["valid_to"] == out[1]["valid_from"]  # contiguous intervals
    assert out[2]["valid_to"] is None


def test_scd2_null_attr_is_a_state(spark):
    from quanta_contrib.operators.timeseries import scd2_history

    rows = [
        (1, 1, datetime(2024, 1, 1), "a"),
        (1, 2, datetime(2024, 1, 2), None),  # null is a distinct state
        (1, 3, datetime(2024, 1, 3), None),  # ...that collapses with itself
        (1, 4, datetime(2024, 1, 4), "a"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = scd2_history(df).collect()
    assert len(out) == 3
    assert [r["event_type"] for r in sorted(out, key=lambda r: r["version"])] == [
        "a", None, "a"
    ]


def test_scd2_requires_attrs(spark):
    from quanta_contrib.operators.timeseries import scd2_history

    df = spark.createDataFrame(
        [(1, 1, datetime(2024, 1, 1), "a")],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    with pytest.raises(ValueError, match="attr_cols"):
        scd2_history(df, attr_cols=())


def _m4(spark, rows, **kw):
    from quanta_spark.operators.timeseries import m4_downsample

    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    return m4_downsample(df, key_col="k", ts_col="ts", value_col="value", **kw)


def test_m4_picks_actual_rows_with_deterministic_tiebreaks(spark):
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    # one 1h bucket; min value 1.0 appears at minutes 10 and 30 ->
    # EARLIEST wins; max value 9.0 at minutes 20 and 40 -> EARLIEST
    # wins; first/last are the boundary rows
    rows = [
        ("a", t(5), 4.0),
        ("a", t(10), 1.0),
        ("a", t(20), 9.0),
        ("a", t(30), 1.0),
        ("a", t(40), 9.0),
        ("a", t(50), 6.0),
    ]
    out = _m4(spark, rows, bucket="1 hours").collect()
    assert len(out) == 1
    r = out[0]
    assert r["bucket"] == datetime(2024, 1, 1, 0, 0)
    assert (r["t_first"], r["v_first"]) == (t(5), 4.0)
    assert (r["t_min"], r["v_min"]) == (t(10), 1.0)
    assert (r["t_max"], r["v_max"]) == (t(20), 9.0)
    assert (r["t_last"], r["v_last"]) == (t(50), 6.0)
    assert r["n"] == 6


def test_m4_single_row_bucket_is_all_four_points(spark):
    rows = [("a", datetime(2024, 1, 1, 3, 7), 5.5)]
    r = _m4(spark, rows, bucket="1 hours").collect()[0]
    assert (
        r["t_first"] == r["t_min"] == r["t_max"] == r["t_last"]
        == datetime(2024, 1, 1, 3, 7)
    )
    assert r["v_first"] == r["v_min"] == r["v_max"] == r["v_last"] == 5.5
    assert r["n"] == 1


def test_m4_drops_nan_and_null_and_isolates_keys(spark):
    rows = [
        ("a", datetime(2024, 1, 1, 0, 1), 2.0),
        ("a", datetime(2024, 1, 1, 0, 2), float("nan")),
        ("a", None, 3.0),
        (None, datetime(2024, 1, 1, 0, 3), 4.0),
        ("b", datetime(2024, 1, 1, 0, 4), 7.0),
    ]
    out = {r["k"]: r for r in _m4(spark, rows, bucket="1 hours").collect()}
    assert set(out) == {"a", "b"}
    assert out["a"]["n"] == 1 and out["a"]["v_max"] == 2.0
    assert out["b"]["n"] == 1 and out["b"]["v_min"] == 7.0


def test_m4_one_exchange_partial_agg(spark):
    df = spark.createDataFrame(
        [("a", datetime(2024, 1, 1), 1.0)], "k string, ts timestamp, value double"
    )
    from quanta_spark.operators.timeseries import m4_downsample

    plan = (
        m4_downsample(df, key_col="k", ts_col="ts", value_col="value")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # map-side partial aggregation: the n->4 reduction runs inside the
    # scan stage (struct min/max lowers to SortAggregate — declarative
    # struct aggs aren't hash-buffer-able — but the partial_min/max
    # pass BELOW the exchange is what bounds the shuffle to
    # O(keys x buckets) structs, not rows)
    first_exchange = plan.index("Exchange")
    assert "partial_min" in plan[first_exchange:], plan


def test_m4_validates_bucket_and_streaming_watermark(spark):
    with pytest.raises(ValueError, match="bucket"):
        _m4(spark, [("a", datetime(2024, 1, 1), 1.0)], bucket="1 fortnight")
