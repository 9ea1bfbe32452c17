"""Co-located bucketed joins: the standing-layout scale story — two fact
tables bucketed on the join key merge WITHOUT any Exchange."""

from __future__ import annotations

from pyspark.sql import functions as F

from fusionspark.io import load_table, write_bucketed


def test_bucketed_join_and_agg_have_no_shuffle(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_bucketed", "l_orderkey", buckets=8)
    write_bucketed(o, "o_bucketed", "o_orderkey", buckets=8)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # force the merge-join path so the assertion is about bucketing,
        # not about the small test tables fitting a broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        joined = spark.table("li_bucketed").join(
            spark.table("o_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle on either side

        # aggregation on the bucket key also skips its exchange
        agg = spark.table("li_bucketed").groupBy("l_orderkey").agg(
            F.sum("l_extendedprice").alias("s")
        )
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in aplan

        # and the result is right (spot check row counts)
        assert joined.count() == li.join(
            o, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_date_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """The warehouse fact layout: events written partitionBy(event_date)
    must serve a single-day filter through PartitionFilters — the scan
    lists ONLY that day's directory (at 100 TB: touching 1/365th of the
    table), with the predicate absent from post-scan Filters."""
    from fusionspark.io import load_table

    out = str(tmp_path / "events_by_day")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    one_day = ev.select("event_date").first()["event_date"]
    df = spark.read.parquet(out).filter(F.col("event_date") == F.lit(one_day))

    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "event_date" in pf          # predicate reached the partition layer
    n_day = df.count()
    assert 0 < n_day < ev.count()


def test_load_table_is_timezone_neutral(spark, sf_dir):
    """load_table must not mutate the caller's session timezone (ADVICE r5),
    and the NTZ→timestamp conversion must be zone-FREE: epoch micros of the
    events ts column are identical whatever zone the session is in."""
    original = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = load_table(spark, sf_dir, "events")
        assert (
            spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        ), "load_table mutated the session timezone"
        ny = df.agg(F.min(F.unix_micros("ts")).alias("m")).first()["m"]
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = load_table(spark, sf_dir, "events").agg(
            F.min(F.unix_micros("ts")).alias("m")
        ).first()["m"]
        assert ny == utc
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)
