"""interval_join bucket auto-sizing (VERDICT r04 ask #6): the bucket
width derives from the median interval duration, the longest interval's
explode fan-out is capped by construction, and a degenerate explicit
bucket is rejected loudly instead of silently exploding.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from quanta_contrib.operators.asof import MAX_INTERVAL_FANOUT, interval_join

T0 = dt.datetime(2026, 1, 1)


def _mk(spark):
    # 50 short sessions (10 minutes) + one degenerate 30-DAY interval —
    # the exact mix where a fixed minute-scale bucket melts an executor
    iv = [
        (f"s{i}", T0 + dt.timedelta(hours=i), T0 + dt.timedelta(hours=i, minutes=10))
        for i in range(50)
    ] + [("mega", T0, T0 + dt.timedelta(days=30))]
    intervals = spark.createDataFrame(iv, "iv_id string, start timestamp, end timestamp")
    pts = [(f"p{i}", T0 + dt.timedelta(hours=i, minutes=m)) for i in range(50) for m in (5, 30)]
    points = spark.createDataFrame(pts, "pt_id string, ts timestamp")
    return points, intervals


def test_interval_join_auto_bucket_matches_brute_force(spark):
    points, intervals = _mk(spark)
    got = {
        (r["pt_id"], r["iv_id"])
        for r in interval_join(points, intervals).collect()
    }
    want = {
        (r["pt_id"], r["iv_id"])
        for r in points.crossJoin(intervals)
        .filter((F.col("ts") >= F.col("start")) & (F.col("ts") <= F.col("end")))
        .collect()
    }
    assert got == want and len(want) > 50  # every point hits mega + half hit a session


def test_interval_join_auto_bucket_caps_fanout(spark):
    points, intervals = _mk(spark)
    # re-derive the auto width the operator picks and assert the cap
    dur = F.unix_timestamp("end") - F.unix_timestamp("start")
    med_s, max_s = intervals.agg(
        F.percentile_approx(dur, 0.5), F.max(dur)
    ).collect()[0]
    w = max(int(med_s), -(-int(max_s) // (MAX_INTERVAL_FANOUT - 1)), 1)
    assert int(max_s) // w + 1 <= MAX_INTERVAL_FANOUT
    # and the exploded bucket table is bounded end-to-end
    exploded = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp("start") / w),
                F.floor(F.unix_timestamp("end") / w),
            )
        ),
    )
    per_iv = exploded.groupBy("iv_id").count().agg(F.max("count")).collect()[0][0]
    assert per_iv <= MAX_INTERVAL_FANOUT


def test_interval_join_rejects_degenerate_explicit_bucket(spark):
    """The cap on explicit buckets is enforced INSIDE the plan (exact,
    per interval) so the operator stays lazy — the failure surfaces at
    execution, not at plan-construction time."""
    points, intervals = _mk(spark)
    joined = interval_join(points, intervals, bucket="1 minute")  # lazy: no error yet
    with pytest.raises(Exception, match="MAX_INTERVAL_FANOUT"):
        joined.collect()


def test_interval_join_explicit_bucket_is_lazy_and_streaming_safe(spark, tmp_path):
    """An explicit bucket must not trigger any eager aggregate: a
    STREAMING intervals side (where .collect() would raise
    AnalysisException) still builds a valid stream-static equi-join
    plan. Only bucket='auto' needs the batch-side width derivation."""
    points, intervals = _mk(spark)
    d = str(tmp_path / "iv")
    intervals.write.parquet(d)
    stream_iv = spark.readStream.schema(
        "iv_id string, start timestamp, end timestamp"
    ).parquet(d)
    joined = interval_join(points, stream_iv, bucket="1 hour")
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("iv_join_lazy")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["pt_id"], r["iv_id"])
        for r in spark.sql("select * from iv_join_lazy").collect()
        if r["iv_id"] != "mega"  # mega spans 721 hourly buckets, under the cap
    }
    want = {
        (r["pt_id"], r["iv_id"])
        for r in points.crossJoin(intervals)
        .filter((F.col("ts") >= F.col("start")) & (F.col("ts") <= F.col("end")))
        .collect()
        if r["iv_id"] != "mega"
    }
    assert got == want and len(want) > 0


def test_interval_join_auto_rejects_streaming_intervals(spark, tmp_path):
    """bucket='auto' needs an eager width aggregate, impossible on a
    streaming intervals side — the guard must say so clearly instead
    of surfacing an opaque AnalysisException from .collect()
    (ADVICE r05)."""
    points, intervals = _mk(spark)
    d = str(tmp_path / "iv_auto")
    intervals.write.parquet(d)
    stream_iv = spark.readStream.schema(
        "iv_id string, start timestamp, end timestamp"
    ).parquet(d)
    with pytest.raises(ValueError, match="BATCH intervals side"):
        interval_join(points, stream_iv, bucket="auto")


def test_interval_join_rejects_unknown_bucket_unit(spark):
    points, intervals = _mk(spark)
    with pytest.raises(ValueError, match="unsupported bucket unit"):
        interval_join(points, intervals, bucket="1 week")


def test_scd2_asof_join_picks_version_at_event_time(spark):
    from datetime import datetime

    from quanta_contrib.operators.asof import scd2_asof_join

    d = lambda day: datetime(2024, 1, day)  # noqa: E731
    hist = spark.createDataFrame(
        [
            (1, "bronze", d(1), d(10), 1, False),
            (1, "gold", d(10), None, 2, True),
            (2, "silver", d(5), None, 1, True),
        ],
        "user_id long, tier string, valid_from timestamp, valid_to timestamp, "
        "version int, is_current boolean",
    )
    pts = spark.createDataFrame(
        [
            (1, d(2)),   # inside v1
            (1, d(10)),  # boundary: valid_from inclusive -> v2
            (1, d(20)),  # open current version
            (2, d(1)),   # before user 2's first version -> NULLs
            (3, d(2)),   # unknown key -> NULLs
        ],
        "user_id long, ts timestamp",
    )
    out = {(r["user_id"], r["ts"]): (r["tier"], r["version"])
           for r in scd2_asof_join(pts, hist).collect()}
    assert out[(1, d(2))] == ("bronze", 1)
    assert out[(1, d(10))] == ("gold", 2)  # half-open intervals
    assert out[(1, d(20))] == ("gold", 2)
    assert out[(2, d(1))] == (None, None)
    assert out[(3, d(2))] == (None, None)
    inner = scd2_asof_join(pts, hist, how="inner").count()
    assert inner == 3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="how"):
        scd2_asof_join(pts, hist, how="full")
