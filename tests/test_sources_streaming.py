"""OSM XML source parity (conflate.py:22-62) + Structured Streaming
geo-tag vs batch equivalence."""

import pyspark.sql.functions as F

from osm_admin_boundary_conflation_spark import datagen
from osm_admin_boundary_conflation_spark.operators import spatial_join as SJ
from osm_admin_boundary_conflation_spark.sources.osm_xml import load_osm
from osm_admin_boundary_conflation_spark.streaming.stream_geotag import stream_geotag

SAMPLE_OSM = """<?xml version='1.0' encoding='UTF-8'?>
<osm version='0.6'>
  <node id='1' lat='44.8' lon='20.4'/>
  <node id='2' lat='44.81' lon='20.41'>
    <tag k='created_by' v='test'/>
  </node>
  <node id='3' lat='44.82' lon='20.42'/>
  <way id='10'>
    <nd ref='1'/>
    <nd ref='2'/>
    <nd ref='3'/>
    <tag k='boundary' v='administrative'/>
    <tag k='admin_level' v='9'/>
  </way>
  <relation id='100'>
    <member type='way' ref='10' role='outer'/>
    <tag k='type' v='boundary'/>
    <tag k='name' v='Test'/>
  </relation>
</osm>
"""


def test_osm_xml_source(spark, tmp_path):
    p = tmp_path / "sample.osm"
    p.write_text(SAMPLE_OSM)
    dfs = load_osm(spark, str(p))
    nodes = {r["id"]: r for r in dfs["nodes"].collect()}
    assert set(nodes) == {1, 2, 3}
    assert nodes[1]["lat"] == 44.8 and nodes[1]["lon"] == 20.4
    assert nodes[2]["tags"] == {"created_by": "test"}
    ways = dfs["ways"].collect()
    assert len(ways) == 1
    assert list(ways[0]["node_ids"]) == [1, 2, 3]
    assert ways[0]["tags"]["admin_level"] == "9"
    rels = dfs["relations"].collect()
    assert len(rels) == 1
    assert rels[0]["members"][0]["ref"] == 10 and rels[0]["members"][0]["role"] == "outer"
    assert rels[0]["tags"]["type"] == "boundary"


def test_stream_geotag_matches_batch(spark, sf_dir, tmp_path):
    pages = datagen.build_pages(spark, sf_dir)
    boundaries = datagen.build_boundaries(spark, sf_dir)
    in_dir, out_dir, ck_dir = (str(tmp_path / d) for d in ("in", "out", "ck"))
    # two "arriving" micro-batch files
    pages.filter(F.col("doc_id") % 2 == 0).write.mode("overwrite").parquet(in_dir)
    pages.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(in_dir)

    stream_geotag(spark, in_dir, boundaries, out_dir, ck_dir)
    got = {
        (r["url"], r["level9_id"], r["verdict"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["url"], r["level9_id"], r["verdict"])
        for r in SJ.geotag_pages(pages, boundaries).collect()
    }
    assert got == want


def test_stateful_stream_sessions_match_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState session windows: closed sessions emitted by
    the stateful stream equal the batch sessionization, except each
    user's final session (still open when the bounded stream drains)."""
    from pyspark.sql import Window

    from osm_admin_boundary_conflation_spark.streaming.stream_sessions import (
        stream_sessionize,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts", "event_id")
    in_dir = str(tmp_path / "ev_in")
    # two time-ordered micro-batch files (cross-batch order preserved)
    cut = ev.agg(F.percentile_approx("ts", 0.5)).collect()[0][0]
    ev.filter(F.col("ts") <= cut).write.mode("overwrite").parquet(in_dir)
    ev.filter(F.col("ts") > cut).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema("user_id bigint, ts timestamp, event_id bigint").parquet(
        in_dir
    )
    out_rows = []
    q = (
        stream_sessionize(stream)
        .writeStream.foreachBatch(lambda df, _id: out_rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start_us"], r["n_events"], r["duration_us"]) for r in out_rows
    }

    # batch reference (same session math as q_events_sessionize)
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | ((us - F.lag(us).over(w)) > 1800000000), 1).otherwise(0),
    )
    ws = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = gaps.withColumn("session_no", F.sum("new_session").over(ws))
    batch = sess.groupBy("user_id", "session_no").agg(
        F.min(us).alias("session_start_us"),
        F.count("*").alias("n_events"),
        (F.max(us) - F.min(us)).alias("duration_us"),
    )
    rows = batch.collect()
    last_per_user = {}
    for r in rows:
        cur = last_per_user.get(r["user_id"])
        if cur is None or r["session_no"] > cur["session_no"]:
            last_per_user[r["user_id"]] = r
    want = {
        (r["user_id"], r["session_start_us"], r["n_events"], r["duration_us"])
        for r in rows
        if r is not last_per_user[r["user_id"]]
    }
    finals = {
        (r["user_id"], r["session_start_us"], r["n_events"], r["duration_us"])
        for r in last_per_user.values()
    }
    # every gap-closed session is emitted, bit-identical to batch
    assert want <= got
    # anything extra is a FINAL session legitimately closed by the
    # event-time timeout once the end-of-stream watermark passed
    # last_event + gap; none is fabricated
    assert got - want <= finals
    assert len(want) > 0


def test_stream_dedup_suppresses_across_batches(spark, tmp_path):
    """A key seen in micro-batch 1 is NOT re-emitted by micro-batch 2."""
    import pyspark.sql.functions as F

    from osm_admin_boundary_conflation_spark.streaming.stream_dedup import stream_dedup

    in_dir, out_dir, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    b1 = spark.createDataFrame(
        [(1, "alpha beta", "en", "s", 10), (2, "gamma", "en", "s", 5)], cols
    )
    # batch 2: one exact dup of key 'alpha beta' + one novel key
    b2 = spark.createDataFrame(
        [(3, "alpha beta", "en", "s", 10), (4, "delta", "en", "s", 5)], cols
    )
    b1.coalesce(1).write.mode("overwrite").parquet(in_dir)
    b2.coalesce(1).write.mode("append").parquet(in_dir)

    stream_dedup(spark, in_dir, out_dir, ck)
    got = {r.key for r in spark.read.parquet(out_dir).collect()}
    want = {
        r.key
        for r in b1.union(b2)
        .select(F.md5(F.encode("text", "UTF-8")).alias("key"))
        .distinct()
        .collect()
    }
    assert got == want and len(got) == 3


def test_stream_drop_count_retention_guard(spark, tmp_path):
    """The drop-count undercount guard fires only when a batch's progress
    was evicted from recentProgress: a retention equal to the run's
    batch count passes, one less raises."""
    import os
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from osm_admin_boundary_conflation_spark.streaming.stream_windows import (
        stream_window_counts_with_drops,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # one file per micro-batch; the last holds a straggler far behind
    # the watermark. Replay order pinned via mtimes.
    hours = [[10, 10], [12, 13], [14, 1]]
    for i, hs in enumerate(hours):
        ts = [datetime(2024, 1, 1, h, 5, tzinfo=timezone.utc) for h in hs]
        t = pa.table(
            {
                "event_id": pa.array([10 * i + j for j in range(len(hs))], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([1] * len(hs), pa.int64()),
                "event_type": ["view"] * len(hs),
                "value": [1.0] * len(hs),
                "props": ["{}"] * len(hs),
            }
        )
        f = in_dir / f"part-{i}.parquet"
        pq.write_table(t, f)
        os.utime(f, (1_600_000_000 + 100 * i,) * 2)

    def run(tag, retention):
        ck = str(tmp_path / f"ck_{tag}")
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(retention))
        spark.conf.set("spark.sql.shuffle.partitions", "1")  # one state store
        try:
            dropped = stream_window_counts_with_drops(
                spark, str(in_dir), str(tmp_path / f"out_{tag}"), ck
            )
        finally:
            spark.conf.unset("spark.sql.streaming.numRecentProgressUpdates")
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        return dropped, len([f for f in os.listdir(f"{ck}/commits") if f.isdigit()])

    # three data batches plus the no-data batch that advances the
    # watermark. Spark keeps numRecentProgressUpdates - 1 updates, so a
    # limit of n_batches + 1 retains every batch and n_batches evicts one
    n_batches = 4
    dropped, committed = run("exact", n_batches + 1)
    assert committed == n_batches
    assert dropped == 1  # the hour-1 straggler's window
    with pytest.raises(RuntimeError, match="evicted"):
        run("short", n_batches)
