"""Unit tests for the as-of join, binned range join, deterministic
sampling, and single-scan profiling."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.asof import asof_join
from prioritizing_event_processing_with_apache_kafka_spark.operators.rangejoin import (
    bin_range_join,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
    hash_coin,
    hash_sample,
    profile,
    stratified_hash_sample,
)


def _ts(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute, second)


@pytest.fixture()
def quotes(spark):
    # (key, ts, px): the classic trades/quotes as-of fixture.
    return spark.createDataFrame(
        [
            ("a", _ts(0), 1.0),
            ("a", _ts(10), 2.0),
            ("a", _ts(20), 3.0),
            ("b", _ts(5), 10.0),
        ],
        ["sym", "ts", "px"],
    )


@pytest.fixture()
def trades(spark):
    return spark.createDataFrame(
        [
            ("a", _ts(0), 100),   # exactly on the first quote
            ("a", _ts(15), 101),  # between quotes 2 and 3
            ("a", _ts(25), 102),  # after the last quote
            ("b", _ts(1), 103),   # before b's only quote
            ("c", _ts(9), 104),   # key with no quotes at all
        ],
        ["sym", "ts", "trade_id"],
    )


def _match_map(out):
    return {r["trade_id"]: r["px"] for r in out.collect()}


def test_asof_backward_inclusive(quotes, trades):
    out = asof_join(trades, quotes, on="sym", right_cols=["px"])
    assert _match_map(out) == {100: 1.0, 101: 2.0, 102: 3.0, 103: None, 104: None}


def test_asof_backward_strict_excludes_equal_ts(quotes, trades):
    out = asof_join(trades, quotes, on="sym", right_cols=["px"], allow_exact=False)
    assert _match_map(out)[100] is None  # same-ts quote no longer visible


def test_asof_forward(quotes, trades):
    out = asof_join(trades, quotes, on="sym", right_cols=["px"], direction="forward")
    assert _match_map(out) == {100: 1.0, 101: 3.0, 102: None, 103: 10.0, 104: None}


def test_asof_forward_strict(quotes, trades):
    out = asof_join(
        trades,
        quotes,
        on="sym",
        right_cols=["px"],
        direction="forward",
        allow_exact=False,
    )
    assert _match_map(out)[100] == 2.0  # skips the equal-ts quote


def test_asof_tolerance(quotes, trades):
    # trades 101/102 sit exactly 300s after their quotes: kept at
    # tolerance=300 (inclusive), nulled at 299.
    m300 = _match_map(
        asof_join(trades, quotes, on="sym", right_cols=["px"], tolerance_seconds=300)
    )
    assert m300[100] == 1.0 and m300[101] == 2.0 and m300[102] == 3.0
    m299 = _match_map(
        asof_join(trades, quotes, on="sym", right_cols=["px"], tolerance_seconds=299)
    )
    assert m299[100] == 1.0 and m299[101] is None and m299[102] is None


def test_asof_right_tie_deterministic(spark):
    left = spark.createDataFrame([("k", _ts(1), 1)], ["g", "ts", "lid"])
    right = spark.createDataFrame(
        [("k", _ts(0), 7, "first"), ("k", _ts(0), 9, "second")],
        ["g", "ts", "rid", "tag"],
    )
    out = asof_join(
        left, right, on="g", right_cols=["tag"], right_tie="rid"
    ).collect()
    assert out[0]["tag"] == "second"  # max tie wins, deterministically


def test_bin_range_join_matches_naive(spark, sf_dir):
    from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    iv = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("iid"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 40 MINUTES")).alias("hi"),
    )
    pts = events.select(F.col("ts"), F.col("event_id"))
    # Bin width (900s) << interval length (2400s): sequence-explode must
    # still find every match.
    fast = bin_range_join(pts, iv, point_ts="ts", bin_width_seconds=900)
    naive = iv.join(pts, (F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi")))
    assert (
        fast.select("iid", "event_id").sort("iid", "event_id").collect()
        == naive.select("iid", "event_id").sort("iid", "event_id").collect()
    )


def test_hash_sample_partitioning_invariant(spark, sf_dir):
    from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    a = hash_sample(events, key="event_id", fraction=0.3)
    b = hash_sample(events.repartition(7, "user_id"), key="event_id", fraction=0.3)
    ids = lambda df: sorted(r[0] for r in df.select("event_id").collect())
    assert ids(a) == ids(b) and 0 < len(ids(a)) < events.count()


def test_stratified_sample_fractions(spark, sf_dir):
    from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    sampled = stratified_hash_sample(
        events,
        key="event_id",
        strata_col="event_type",
        fractions={"error": 1.0},
        default_fraction=0.2,
    )
    total = dict(events.groupBy("event_type").count().collect())
    kept = dict(sampled.groupBy("event_type").count().collect())
    assert kept["error"] == total["error"]  # fraction 1.0 keeps everything
    other_total = sum(v for k, v in total.items() if k != "error")
    other_kept = sum(v for k, v in kept.items() if k != "error")
    assert 0.1 < other_kept / other_total < 0.3


def test_hash_coin_range(spark):
    df = spark.range(0, 5000).select(hash_coin("id").alias("c"))
    lo, hi = df.agg(F.min("c"), F.max("c")).collect()[0]
    assert 0.0 <= lo and hi < 1.0
    # roughly uniform: mean near 0.5
    mean = df.agg(F.avg("c")).collect()[0][0]
    assert 0.4 < mean < 0.6


def test_profile_mixed_types_and_nulls(spark):
    rows = [
        (1, "a", 2.5, dt.datetime(2024, 1, 1)),
        (2, None, 0.5, dt.datetime(2024, 2, 1)),
        (2, "c", None, None),
    ]
    df = spark.createDataFrame(rows, ["i", "s", "d", "t"])
    prof = {r["col_name"]: r for r in profile(df).collect()}
    assert prof["i"]["n_rows"] == 3
    assert prof["i"]["n_distinct"] == 2 and prof["i"]["n_nulls"] == 0
    assert prof["s"]["n_nulls"] == 1 and prof["s"]["min_str"] == "a"
    assert prof["d"]["min_str"] == "0.5" and prof["d"]["n_nulls"] == 1
    assert prof["t"]["n_distinct"] == 2
    approx = {
        r["col_name"]: r for r in profile(df, approx_distinct=True).collect()
    }
    assert approx["i"]["n_distinct"] in (1, 2, 3)


def test_reservoir_sample_exact_and_partitioning_invariant(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
        hash_coin,
        reservoir_hash_sample,
    )
    from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    got = reservoir_hash_sample(
        events.repartition(13), key="event_id", strata_col="event_type", n=20
    )
    # naive truth: full rank over the whole stratum, no prefilter
    rank = F.row_number().over(
        Window.partitionBy("event_type").orderBy(hash_coin("event_id"), "event_id")
    )
    truth = events.withColumn("rn", rank).filter(F.col("rn") <= 20)
    key = lambda df: sorted(
        (r["event_type"], r["event_id"]) for r in df.select("event_type", "event_id").collect()
    )
    assert key(got) == key(truth)
    counts = {r[0]: r[1] for r in got.groupBy("event_type").count().collect()}
    assert all(c == 20 for c in counts.values())


def test_reservoir_sample_small_stratum_returns_all(spark):
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
        reservoir_hash_sample,
    )

    df = spark.createDataFrame(
        [(i, "tiny" if i < 5 else "big") for i in range(100)], "id long, s string"
    )
    out = reservoir_hash_sample(df, key="id", strata_col="s", n=10)
    counts = {r["s"]: r["count"] for r in out.groupBy("s").count().collect()}
    assert counts == {"tiny": 5, "big": 10}


def test_asof_null_keys_never_match(spark):
    # SQL semantics: NULL key never equals NULL key — a NULL-keyed left
    # row gets the LEFT-join no-match shape, not another NULL-keyed
    # right row's values.
    left = spark.createDataFrame(
        [(None, _ts(10)), ("a", _ts(10))], "sym string, ts timestamp"
    )
    right = spark.createDataFrame(
        [(None, _ts(5), 99.0), ("a", _ts(5), 1.5)], "sym string, ts timestamp, px double"
    )
    rows = {
        r["sym"]: (r["asof_ts"], r["px"])
        for r in asof_join(left, right, on="sym", right_cols=["px"]).collect()
    }
    assert rows["a"] == (_ts(5), 1.5)
    assert rows[None] == (None, None)


def test_asof_string_tie_column_orders_correctly(spark):
    # A string tie column must keep its ordering (it used to be cast to
    # double, silently becoming NULL and losing determinism).
    left = spark.createDataFrame([("a", _ts(10))], "sym string, ts timestamp")
    right = spark.createDataFrame(
        [("a", _ts(5), 1.0, "m"), ("a", _ts(5), 2.0, "z"), ("a", _ts(5), 3.0, "k")],
        "sym string, ts timestamp, px double, oid string",
    )
    row = asof_join(
        left, right, on="sym", right_cols=["px"], right_tie="oid"
    ).first()
    assert row["px"] == 2.0  # 'z' sorts last → its px carried


def test_asof_unknown_tie_column_raises(spark):
    left = spark.createDataFrame([("a", _ts(1))], "sym string, ts timestamp")
    right = spark.createDataFrame([("a", _ts(0), 1.0)], "sym string, ts timestamp, px double")
    with pytest.raises(ValueError, match="right_tie"):
        asof_join(left, right, on="sym", right_cols=["px"], right_tie="nope")
