"""Non-file streaming sources (SURVEY.md §2.9 source surface): the
deterministic rate-micro-batch path equals its closed-form batch twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
    rate_events_batch_twin,
    stream_rate_minutely,
)


def test_rate_stream_equals_batch_twin(spark):
    n_rows = 1000
    streamed = {
        (r["minute_ts"], r["user_id"]): (r["n"], r["decivalue_sum"])
        for r in stream_rate_minutely(spark, n_rows=n_rows).collect()
    }
    batch = {
        (r["minute_ts"], r["user_id"]): (r["n"], r["decivalue_sum"])
        for r in rate_events_batch_twin(spark, n_rows)
        .groupBy(
            F.date_trunc("minute", F.col("ts")).alias("minute_ts"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 10).cast("long")).alias("decivalue_sum"),
        )
        .collect()
    }
    assert streamed == batch
    assert sum(n for n, _ in streamed.values()) == n_rows


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Single-batch availableNow input → the watermarked stream-stream
    join must emit exactly the batch time-bounded join."""
    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        stream_stream_click_purchase,
    )

    streamed = {
        (r["click_id"], r["purchase_id"])
        for r in stream_stream_click_purchase(spark, sf_dir).collect()
    }
    ev = read_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    batch = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(
            p,
            (F.col("user_id") == F.col("u2"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert streamed == batch and streamed


def test_stream_static_enrich_equals_batch_join(spark, sf_dir):
    """Stateless stream-static broadcast join over availableNow input
    must emit exactly the batch left join."""
    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        stream_static_enrich_events,
    )

    got = {
        tuple(r)
        for r in stream_static_enrich_events(spark, sf_dir).collect()
    }
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    want = {
        tuple(r)
        for r in ev.join(cust, "user_id", "left")
        .select("event_id", "user_id", "event_type", "c_name", "c_mktsegment")
        .collect()
    }
    assert got == want


def test_stream_stream_left_outer_edge_cases(spark, tmp_path):
    """Deterministic late/unmatched edge cases for the LEFT OUTER
    stream-stream join: unmatched click emits exactly one NULL row
    after watermark expiry; multi-match click emits one row per match;
    a purchase 1s outside the 1h bound, one BEFORE the click, and one
    by a different user never match."""
    import datetime

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        stream_stream_click_purchase_left_outer,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ts(sec):
        return t0 + datetime.timedelta(seconds=sec)

    rows = [
        # (event_id, ts, user_id, event_type)
        (1, ts(0), 10, "click"),      # two matches (101, 102)
        (2, ts(0), 20, "click"),      # match exactly at the 1h bound
        (3, ts(0), 30, "click"),      # purchase 1s too late -> NULL
        (4, ts(100), 40, "click"),    # purchase BEFORE click -> NULL
        (5, ts(0), 50, "click"),      # other user's purchase -> NULL
        (101, ts(60), 10, "purchase"),
        (102, ts(120), 10, "purchase"),
        (201, ts(3600), 20, "purchase"),
        (301, ts(3601), 30, "purchase"),
        (401, ts(50), 40, "purchase"),
        (501, ts(60), 99, "purchase"),
    ]
    df = spark.createDataFrame(
        [(e, t, u, et, 0.0, "{}") for e, t, u, et in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = {
        (r["click_id"], r["purchase_id"])
        for r in stream_stream_click_purchase_left_outer(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        (1, 101),
        (1, 102),
        (2, 201),
        (3, None),
        (4, None),
        (5, None),
    }


def test_stream_stream_left_outer_equals_batch(spark, sf_dir):
    """Drained LEFT OUTER stream-stream join == batch left interval
    join on the real events table (multiset equality — a click can
    legitimately repeat with NULL only never)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        stream_stream_click_purchase_left_outer,
    )

    streamed = Counter(
        (r["click_id"], r["purchase_id"])
        for r in stream_stream_click_purchase_left_outer(
            spark, sf_dir
        ).collect()
    )
    ev = read_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    batch = Counter(
        (r["click_id"], r["purchase_id"])
        for r in c.join(
            p,
            (F.col("user_id") == F.col("u2"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
            "left_outer",
        ).collect()
    )
    assert streamed == batch and streamed


def test_stream_stream_full_outer_edge_cases(spark, tmp_path):
    """FULL OUTER adds the purchase side: unmatched purchases emit
    exactly one (NULL, purchase_id) row; matched pairs and unmatched
    clicks behave exactly as in the left-outer flavor."""
    import datetime

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        stream_stream_click_purchase_full_outer,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ts(sec):
        return t0 + datetime.timedelta(seconds=sec)

    rows = [
        (1, ts(0), 10, "click"),      # matches 101
        (2, ts(0), 30, "click"),      # purchase 1s too late -> (2, NULL)
        (101, ts(60), 10, "purchase"),
        (301, ts(3601), 30, "purchase"),  # -> (NULL, 301)
        (501, ts(60), 99, "purchase"),    # no clicks for user -> (NULL, 501)
    ]
    df = spark.createDataFrame(
        [(e, t, u, et, 0.0, "{}") for e, t, u, et in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = {
        (r["click_id"], r["purchase_id"])
        for r in stream_stream_click_purchase_full_outer(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        (1, 101),
        (2, None),
        (None, 301),
        (None, 501),
    }
