"""Incremental rollup maintenance: merge(rollup(old), rollup(delta))
must equal rollup(all) exactly, in any fold order, and the join-based
merge over a bucketed history must shuffle ONLY the delta."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from quanta_spark.operators.rollup import rollup_aggregate, rollup_merge


def _rows(spark, triples):
    return spark.createDataFrame(triples, "k string, value double, uid long")


def _collect(df):
    cols = [c for c in df.columns if c != "hll"]
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_merge_equals_full_recompute(spark):
    a = _rows(spark, [("x", 1.5, 1), ("x", 2.25, 2), ("y", -3.0, 1)])
    b = _rows(spark, [("x", 0.125, 3), ("z", 7.0, 9)])
    merged = rollup_merge(
        rollup_aggregate(a, ["k"], "value", distinct_col="uid"),
        rollup_aggregate(b, ["k"], "value", distinct_col="uid"),
    )
    full = rollup_aggregate(a.union(b), ["k"], "value", distinct_col="uid")
    assert _collect(merged) == _collect(full)
    # the maintained HLL must estimate the union's distinct uids
    est = {
        r["k"]: r["e"]
        for r in merged.select("k", F.hll_sketch_estimate("hll").alias("e")).collect()
    }
    assert est == {"x": 3, "y": 1, "z": 1}


def test_merge_is_fold_order_invariant(spark):
    parts = [
        _rows(spark, [("x", 1.0, 1), ("y", 2.0, 2)]),
        _rows(spark, [("x", 3.0, 3)]),
        _rows(spark, [("y", 4.0, 2), ("z", 5.0, 5)]),
    ]
    rs = [rollup_aggregate(p, ["k"], "value", distinct_col="uid") for p in parts]
    fwd = rollup_merge(rollup_merge(rs[0], rs[1]), rs[2])
    rev = rollup_merge(rs[2], rollup_merge(rs[1], rs[0]))
    assert _collect(fwd) == _collect(rev)
    for df in (fwd, rev):
        est = {
            r["k"]: r["e"]
            for r in df.select("k", F.hll_sketch_estimate("hll").alias("e")).collect()
        }
        assert est == {"x": 2, "y": 1, "z": 1}


def test_disjoint_groups_pass_through_unchanged(spark):
    h = rollup_aggregate(_rows(spark, [("x", 1.5, 1)]), ["k"], "value")
    d = rollup_aggregate(_rows(spark, [("z", -2.5, 2)]), ["k"], "value")
    out = {r["k"]: r for r in rollup_merge(h, d).collect()}
    assert out["x"]["n"] == 1 and out["x"]["sum_e6"] == 1_500_000
    assert out["x"]["min_v"] == out["x"]["max_v"] == 1.5
    assert out["z"]["sum_e6"] == -2_500_000


def test_null_and_nan_rows_dropped(spark):
    df = _rows(
        spark,
        [("x", 1.0, 1), ("x", float("nan"), 2), (None, 9.0, 3), ("x", None, 4)],
    )
    out = rollup_aggregate(df, ["k"], "value").collect()
    assert len(out) == 1 and out[0]["n"] == 1 and out[0]["sum_e6"] == 1_000_000


def test_validation_errors(spark):
    df = _rows(spark, [("x", 1.0, 1)])
    with pytest.raises(ValueError, match="keys"):
        rollup_aggregate(df, [])
    h = rollup_aggregate(df, ["k"], "value", distinct_col="uid")
    d = rollup_aggregate(df, ["k"], "value")  # no hll column
    with pytest.raises(ValueError, match="schemas differ"):
        rollup_merge(h, d)


def test_bucketed_history_merge_shuffles_only_delta(spark, tmp_path):
    """The scale contract: with the history rollup persisted bucketed
    on the key, the merge plan's ONLY exchange is the delta side —
    history rides its layout, raw history is never rescanned."""
    from quanta_contrib.plans.bucketing import write_bucketed

    hist = rollup_aggregate(
        _rows(spark, [(f"k{i % 50}", float(i), i) for i in range(500)]),
        ["k"],
        "value",
    )
    write_bucketed(
        hist, "qs_rollup_hist", n_buckets=8, key="k",
        path=os.path.join(str(tmp_path), "hist"),
    )
    try:
        delta = rollup_aggregate(
            _rows(spark, [("k1", 9.0, 1), ("knew", 2.0, 2)]), ["k"], "value"
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            merged = rollup_merge(spark.table("qs_rollup_hist"), delta)
            plan = merged._jdf.queryExecution().executedPlan().toString()
            # the history branch — SortMergeJoin down to the bucketed
            # FileScan — must be exchange-free (the scan's hash
            # distribution satisfies the join); every exchange in the
            # plan belongs to the delta's own aggregation
            join_at = plan.index("SortMergeJoin")
            hist_scan = plan.index("qs_rollup_hist")
            assert "Bucketed: true" in plan, plan
            assert "Exchange" not in plan[join_at:hist_scan], (
                "history reshuffled:\n" + plan
            )
            out = {r["k"]: r for r in merged.collect()}
            assert out["k1"]["n"] == 11 and out["knew"]["n"] == 1
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS qs_rollup_hist")


def test_rollup_sink_replayed_batch_is_noop(spark, tmp_path):
    """foreachBatch replays the last uncommitted batch after a crash:
    a batch id at-or-below the committed marker must not fold twice."""
    from quanta_spark.sinks.rollup import RollupSink

    sink = RollupSink(base_dir=str(tmp_path / "r"), keys=("k",), value_col="value")
    b0 = _rows(spark, [("x", 1.0, 1), ("y", 2.0, 2)])
    b1 = _rows(spark, [("x", 3.0, 3)])
    sink(b0, 0)
    sink(b1, 1)
    want = _collect(sink.read_rollup(spark))
    sink(b1, 1)  # replay of committed batch
    sink(b0, 0)  # stale replay
    assert _collect(sink.read_rollup(spark)) == want
    assert sink.batches_folded == [0, 1]
    assert sink.batches_skipped == [1, 0]
    out = {r["k"]: r for r in sink.read_rollup(spark).collect()}
    assert out["x"]["n"] == 2 and out["x"]["sum_e6"] == 4_000_000


def test_rollup_sink_crash_before_marker_refolds_cleanly(spark, tmp_path):
    """A generation directory written without its marker (crash between
    write and commit) is an orphan: the refold starts from the LAST
    COMMITTED generation and overwrites it."""
    import os

    from quanta_spark.sinks.rollup import RollupSink

    base = str(tmp_path / "r")
    sink = RollupSink(base_dir=base, keys=("k",), value_col="value")
    sink(_rows(spark, [("x", 1.0, 1)]), 0)
    # simulate: batch 1's data written but the marker rename never ran
    b1 = _rows(spark, [("x", 10.0, 2)])
    from quanta_spark.operators.rollup import rollup_aggregate, rollup_merge

    orphan = rollup_merge(
        spark.read.parquet(os.path.join(base, "gen=0")),
        rollup_aggregate(b1, ["k"], "value"),
    )
    orphan.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    assert sink.latest_gen() == 0  # marker unmoved: batch 1 uncommitted
    sink(b1, 1)  # the replay Structured Streaming would issue
    out = sink.read_rollup(spark).collect()[0]
    assert out["n"] == 2 and out["sum_e6"] == 11_000_000
    assert sink.latest_gen() == 1


def test_rollup_sink_prunes_old_generations(spark, tmp_path):
    import os

    from quanta_spark.sinks.rollup import RollupSink

    sink = RollupSink(
        base_dir=str(tmp_path / "r"), keys=("k",), value_col="value", keep_gens=2
    )
    for i in range(5):
        sink(_rows(spark, [("x", float(i), i)]), i)
    gens = sorted(
        int(n.split("=")[1])
        for n in os.listdir(sink.base_dir)
        if n.startswith("gen=")
    )
    assert gens == [3, 4]
    assert sink.read_rollup(spark).collect()[0]["n"] == 5


def test_hist_merge_is_linear_and_quantiles_exact(spark):
    """Cell-wise-summed per-batch histograms equal the full-scan
    histogram, and per-group quantiles off the merged rollup match a
    hand-computed answer."""
    from quanta_spark.operators.rollup import (
        rollup_aggregate,
        rollup_merge,
        rollup_quantiles,
    )

    hist = (0, 10, 10)  # bin width 1: value v lands in bin floor(v)
    a = _rows(spark, [("x", float(v), v) for v in [0, 1, 1, 2, 9]])
    b = _rows(spark, [("x", float(v), v) for v in [1, 5]])
    merged = rollup_merge(
        rollup_aggregate(a, ["k"], "value", hist=hist),
        rollup_aggregate(b, ["k"], "value", hist=hist),
    )
    full = rollup_aggregate(a.union(b), ["k"], "value", hist=hist)
    assert merged.first()["hist"] == full.first()["hist"] == [
        1, 3, 1, 0, 0, 1, 0, 0, 0, 1,
    ]
    q = {
        r["q_bp"]: (r["bin_idx"], r["bin_upper"], r["cum_cnt"])
        for r in rollup_quantiles(merged, [5000, 9900], *hist).collect()
    }
    # n=7: p50 target ceil(3.5)=4 -> bin 1 (cum 4); p99 target 7 -> bin 9
    assert q[5000] == (1, 2, 4)
    assert q[9900] == (9, 10, 7)


def test_hist_out_of_range_clamps_to_edge_bins(spark):
    from quanta_spark.operators.rollup import rollup_aggregate

    df = _rows(spark, [("x", -5.0, 1), ("x", 99.0, 2), ("x", 3.0, 3)])
    h = rollup_aggregate(df, ["k"], "value", hist=(0, 4, 4)).first()["hist"]
    assert h == [1, 0, 0, 2]  # -5 clamps low, 99 clamps high


def test_hist_validation(spark):
    from quanta_spark.operators.rollup import rollup_aggregate, rollup_quantiles

    df = _rows(spark, [("x", 1.0, 1)])
    with pytest.raises(ValueError, match="hi > lo"):
        rollup_aggregate(df, ["k"], "value", hist=(5, 5, 4))
    with pytest.raises(ValueError, match="n_bins"):
        rollup_aggregate(df, ["k"], "value", hist=(0, 10, 0))
    plain = rollup_aggregate(df, ["k"], "value")
    with pytest.raises(ValueError, match="hist"):
        rollup_quantiles(plain, [5000], 0, 10, 10)


def test_rollup_sink_maintains_streaming_percentiles(spark, tmp_path):
    """RollupSink(hist=...): quantiles read off the committed rollup
    equal the batch quantiles over all folded data."""
    from quanta_spark.operators.rollup import rollup_aggregate, rollup_quantiles
    from quanta_spark.sinks.rollup import RollupSink

    hist = (0, 100, 20)
    sink = RollupSink(
        base_dir=str(tmp_path / "r"), keys=("k",), value_col="value", hist=hist
    )
    b0 = _rows(spark, [("x", float(v), v) for v in range(0, 50, 5)])
    b1 = _rows(spark, [("x", float(v), v) for v in range(50, 100, 5)])
    sink(b0, 0)
    sink(b1, 1)
    got = rollup_quantiles(sink.read_rollup(spark), [5000, 9500], *hist)
    want = rollup_quantiles(
        rollup_aggregate(b0.union(b1), ["k"], "value", hist=hist), [5000, 9500], *hist
    )
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(got) == key(want)


def test_fold_sink_time_travel_generations(spark, tmp_path):
    from quanta_spark.sinks.rollup import RollupSink

    sink = RollupSink(
        base_dir=str(tmp_path / "r"), keys=("k",), value_col="value", keep_gens=10
    )
    for i in range(4):
        sink(_rows(spark, [("x", float(i + 1), i)]), i)
    assert sink.generations() == [0, 1, 2, 3]
    assert sink.read_state_as_of(spark, 1).first()["n"] == 2
    assert sink.read_state_as_of(spark, 3).first()["n"] == 4
    with pytest.raises(FileNotFoundError, match="not retained"):
        sink.read_state_as_of(spark, 99)


def test_latest_snapshot_merge_order_invariant_and_tie_break(spark):
    """Last-writer-wins: merge equals one-shot aggregate in any fold
    order; ts ties break by seq; n_upserts counts every changelog row."""
    from datetime import datetime

    from quanta_spark.operators.rollup import latest_aggregate, latest_merge

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, t(0), 10, "a"), (1, t(5), 11, "b"), (1, t(5), 12, "c"),  # tie -> seq 12
        (2, t(3), 20, "x"),
    ]
    mk = lambda rs: spark.createDataFrame(  # noqa: E731
        rs, "user_id long, ts timestamp, event_id long, event_type string"
    )
    agg = lambda df: latest_aggregate(  # noqa: E731
        df, ["user_id"], payload_cols=("event_type",)
    )
    mrg = lambda a, b: latest_merge(a, b, keys=["user_id"])  # noqa: E731
    full = {r["user_id"]: r for r in agg(mk(rows)).collect()}
    assert full[1]["event_type"] == "c" and full[1]["n_upserts"] == 3
    fwd = mrg(mrg(agg(mk(rows[:1])), agg(mk(rows[1:2]))), agg(mk(rows[2:])))
    rev = mrg(agg(mk(rows[2:])), mrg(agg(mk(rows[1:2])), agg(mk(rows[:1]))))
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(fwd) == key(rev) == key(agg(mk(rows)))
    # disjoint keys pass through
    m = mrg(agg(mk(rows[:1])), agg(mk([(9, t(1), 90, "z")])))
    assert {r["user_id"]: r["event_type"] for r in m.collect()} == {1: "a", 9: "z"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keys"):
        latest_aggregate(mk(rows), [])


def test_rollup_aggregate_hist_range_overflow_raises(spark):
    """ADVICE r06 fix: share histogram_counts' 2^52 overflow contract —
    a huge (hi-lo)*n_bins domain must raise, not bin wrongly."""
    import pytest

    from quanta_spark.operators.rollup import rollup_aggregate

    df = spark.createDataFrame([("x", 1.0, 1)], "k string, value double, n int")
    with pytest.raises(ValueError, match="2\\^52"):
        rollup_aggregate(df, ["k"], hist=(0, 1 << 51, 256))


def test_rollup_sink_fresh_checkpoint_regression_is_loud(spark, tmp_path):
    """ADVICE r06 fix: a batch id behind the committed generation by
    MORE than a replay step (fresh checkpoint against an old rollup)
    keeps the exactly-once no-op but is recorded and logged loudly."""
    from quanta_spark.sinks.rollup import RollupSink

    sink = RollupSink(base_dir=str(tmp_path / "r"), keys=("k",), value_col="value")
    b = _rows(spark, [("x", 1.0, 1)])
    sink(b, 0)
    sink(b, 5)
    sink(b, 0)  # fresh-checkpoint restart signature
    assert sink.batch_id_regressions == [(0, 5)]
    assert sink.batches_skipped == [0]
