"""Event-log analytics (operators/events.py): tumbling windows, gap
sessionization, and batch==streaming plan equivalence."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from web_based_search_engine_spark.operators.events import (
    sessionize,
    tumbling_window_stats,
)

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)


def _ts(minute, second=0):
    return dt.datetime(2024, 3, 1, 10 + minute // 60, minute % 60, second)


def _events(spark, rows):
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def test_tumbling_window_counts_and_bounds(spark):
    ev = _events(spark, [
        (1, _ts(0), 1, "click", 1.0),
        (2, _ts(30), 1, "click", 2.0),
        (3, _ts(59, 59), 2, "click", 4.0),   # still hour 10
        (4, _ts(60), 2, "click", 8.0),        # hour 11
        (5, _ts(5), 1, "view", 0.5),
    ])
    out = {
        (r["window_start"].hour, r["event_type"]): r
        for r in tumbling_window_stats(ev, "1 hour").collect()
    }
    assert out[(10, "click")]["n_events"] == 3
    assert out[(10, "click")]["sum_value"] == 7.0
    assert out[(10, "click")]["min_value"] == 1.0
    assert out[(10, "click")]["max_value"] == 4.0
    assert out[(11, "click")]["n_events"] == 1
    assert out[(10, "view")]["n_events"] == 1
    assert len(out) == 3


def test_sessionize_gap_semantics(spark):
    """Inclusive-gap merge: an event exactly `gap` after the previous one
    still MERGES (session_window pane is [ts, ts+gap], closed); one second
    beyond opens a new session."""
    ev = _events(spark, [
        (1, _ts(0), 1, "click", 1.0),
        (2, _ts(30), 1, "click", 1.0),      # exactly 30:00 -> still merges
        (3, _ts(60, 1), 1, "click", 1.0),   # 30:01 gap -> NEW session
        (4, _ts(0), 2, "click", 1.0),       # other user: own session
    ])
    rows = sorted(
        sessionize(ev, "30 minutes").collect(),
        key=lambda r: (r["user_id"], r["session_start"]),
    )
    assert [(r["user_id"], r["n_events"]) for r in rows] == [(1, 2), (1, 1), (2, 1)]
    assert rows[0]["session_start"] == _ts(0)
    assert rows[0]["session_end"] == _ts(30)
    assert rows[1]["session_start"] == _ts(60, 1)


def test_sessionize_streaming_equals_batch(spark, tmp_path):
    """The SAME sessionize() call runs as a Structured Streaming query
    (session_window state merge + watermark) and lands the batch answer."""
    rows = [
        (i, _ts(7 * i + 60 * (i // 10)), i % 3, "click", float(i)) for i in range(40)
    ]  # 7-min spacing with an hour jump every 10 events -> per-user gaps of
    #    21 min (merge) except across a jump (81 min -> session break)
    src = str(tmp_path / "events_src")
    _eb = spark.createDataFrame(rows, EVENT_SCHEMA)
    _eb.coalesce(2).write.parquet(src)

    batch = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"], r["sum_value"])
        for r in sessionize(spark.read.parquet(src), "30 minutes").collect()
    }

    stream_in = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (
        sessionize(stream_in, "30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"], r["sum_value"])
        for r in spark.sql("select * from sess_out").collect()
    }
    assert streamed == batch and len(batch) > 3


def test_window_stats_streaming_equals_batch(spark, tmp_path):
    rows = [(i, _ts(3 * i), i % 5, "t" + str(i % 2), float(i)) for i in range(50)]
    src = str(tmp_path / "ev_src2")
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(2).write.parquet(src)

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_window_stats(spark.read.parquet(src), "1 hour").collect()
    }
    stream_in = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (
        tumbling_window_stats(stream_in, "1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from win_out").collect()
    }
    assert streamed == batch and len(batch) >= 2


def test_aqe_conf_split(spark, built_index, tmp_path):
    """QueryEngine pins AQE off on a PRIVATE session clone — serving gets
    AQE-off plans while the caller's session conf (ETL/analytics default)
    is never mutated; builder-set confs carry into the clone."""
    from web_based_search_engine_spark.plans.query import QueryEngine

    before = spark.conf.get("spark.sql.adaptive.enabled")
    qe = QueryEngine(spark, built_index["storage"])
    assert qe.spark is not spark
    assert qe.spark.conf.get("spark.sql.adaptive.enabled") == "false"
    # caller's session untouched; engine DataFrames bound to the clone
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    assert qe.docs.sparkSession is qe.spark
    # initialSessionOptions (builder confs) survive into the clone
    assert qe.spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # serving pins a small point-query shuffle width on the clone only
    assert qe.spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_window_stats_watermark_drops_late_events(spark, tmp_path):
    """Append-mode streaming with a watermark: an event arriving in a later
    micro-batch with an event-time older than (max seen ts - watermark) is
    DROPPED; the on-time panes emit once finalized.  This is the semantics
    that bounds state at 100 TB — without it every window stays open
    forever."""
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    # batch 1: events at 10:00-10:30 and one at 14:00 (advances the
    # watermark to 14:00 - 1h = 13:00, finalizing the 10:00 pane)
    b1 = [(1, _ts(0), 1, "click", 1.0), (2, _ts(30), 1, "click", 2.0),
          (3, _ts(240), 1, "click", 4.0)]
    spark.createDataFrame(b1, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "late_out")

    def run_stream():
        # file sink, not memory: only durable sinks support restart from a
        # checkpoint, and the second run must resume the first's watermark
        stream_in = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        q = (
            tumbling_window_stats(stream_in, "1 hour", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()
    # batch 2: a LATE event for the already-finalized 10:00 window
    b2 = [(4, _ts(10), 1, "click", 100.0), (5, _ts(300), 1, "click", 8.0)]
    spark.createDataFrame(b2, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    run_stream()

    rows = {r["window_start"].hour: r for r in spark.read.parquet(out).collect()}
    # the 10:00 pane was emitted from batch 1 only — the late 100.0 never lands
    assert rows[10]["n_events"] == 2 and rows[10]["sum_value"] == 3.0


def test_asof_join_matches_pandas_merge_asof(spark):
    import pandas as pd

    from web_based_search_engine_spark.operators.events import asof_join

    right_rows = [
        (1, 10.0, "a"), (1, 20.0, "b"), (1, 30.0, "c"),
        (2, 15.0, "x"),
    ]
    left_rows = [
        (101, 1, 5.0),   # before any right row -> null
        (102, 1, 10.0),  # equal ts -> visible (>= semantics)
        (103, 1, 25.0),  # between b and c -> b
        (104, 1, 99.0),  # after all -> c
        (105, 2, 14.9),  # just before x -> null
        (106, 3, 50.0),  # key with no right rows -> null
    ]
    right = spark.createDataFrame(right_rows, "user_id long, ts double, cfg string")
    left = spark.createDataFrame(left_rows, "event_id long, user_id long, ts double")
    got = {
        r["event_id"]: (r["asof_cfg"], r["asof_ts"])
        for r in asof_join(left, right, ["user_id"]).collect()
    }
    lp = pd.DataFrame(left_rows, columns=["event_id", "user_id", "ts"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["user_id", "ts", "cfg"]).sort_values("ts")
    ref = pd.merge_asof(lp, rp, on="ts", by="user_id", direction="backward")
    for _, row in ref.iterrows():
        want_cfg = None if pd.isna(row["cfg"]) else row["cfg"]
        assert got[row["event_id"]][0] == want_cfg, row["event_id"]
    assert got[102] == ("a", 10.0)       # equal-ts inclusion
    assert got[101] == (None, None) and got[106] == (None, None)


def test_asof_join_is_partitioning_invariant(spark):
    from web_based_search_engine_spark.operators.events import asof_join

    right = spark.createDataFrame(
        [(u, float(t), t * u) for u in range(4) for t in range(0, 100, 7)],
        "user_id long, ts double, v long",
    )
    left = spark.createDataFrame(
        [(i, i % 4, float(i % 97)) for i in range(200)],
        "event_id long, user_id long, ts double",
    )
    a = sorted(map(tuple, asof_join(left, right, ["user_id"]).collect()))
    b = sorted(
        map(
            tuple,
            asof_join(left.repartition(13), right.repartition(3), ["user_id"]).collect(),
        )
    )
    assert a == b


def test_length_profile_matches_numpy(spark):
    import numpy as np

    from web_based_search_engine_spark.functions.textstats import length_profile

    rows = []
    for g, sizes in (("a", [1, 2, 3, 10]), ("b", [5] * 9 + [100])):
        for i, n in enumerate(sizes):
            rows.append((g, " ".join(["w"] * n)))
    rows.append(("c", None))  # null text -> 0 tokens
    df = spark.createDataFrame(rows, "lang string, text string")
    got = {r["lang"]: r.asDict() for r in length_profile(df, "text", "lang").collect()}
    for g, sizes in (("a", [1, 2, 3, 10]), ("b", [5] * 9 + [100]), ("c", [0])):
        arr = np.array(sizes, dtype=float)
        assert got[g]["n_docs"] == len(sizes)
        assert got[g]["mean_tokens"] == round(float(arr.mean()), 6)
        for q in (50, 90, 99):
            assert got[g][f"p{q}"] == round(float(np.percentile(arr, q)), 6), (g, q)
        assert got[g]["max_tokens"] == int(arr.max())


def test_asof_join_null_timestamps_never_match(spark):
    """SQL ASOF semantics (ADVICE r2): a NULL right_ts row is dropped (it
    must not carry-forward to every left row); a NULL left_ts row passes
    through with NULL as-of columns."""
    from web_based_search_engine_spark.operators.events import asof_join

    right = spark.createDataFrame(
        [(1, None, "ghost"), (1, 10.0, "a")],
        "user_id long, ts double, cfg string",
    )
    left = spark.createDataFrame(
        [(101, 1, 5.0), (102, 1, 10.0), (103, 1, None)],
        "event_id long, user_id long, ts double",
    )
    got = {
        r["event_id"]: (r["asof_cfg"], r["asof_ts"])
        for r in asof_join(left, right, ["user_id"]).collect()
    }
    assert got[101] == (None, None)      # before 'a'; 'ghost' must not leak
    assert got[102] == ("a", 10.0)
    assert got[103] == (None, None)      # NULL left ts: row kept, no match
    assert len(got) == 3
