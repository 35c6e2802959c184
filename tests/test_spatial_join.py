"""End-to-end geo-tag pipeline tests: engine vs closed-form expectation,
plus parallelism/salting invariance (SURVEY.md §5 items 2/4/6)."""

import duckdb
import pytest

from osm_admin_boundary_conflation_spark import datagen
from osm_admin_boundary_conflation_spark.operators import spatial_join as SJ


def expected_geotag(sf_dir: str):
    """Single-node oracle: recompute page→boundary assignment in DuckDB
    from the same closed forms (rectangles → point-in-rect is exact)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    con.execute(f"CREATE VIEW nation AS SELECT * FROM read_parquet('{sf_dir}/nation.parquet')")
    q = f"""
    WITH {datagen.PAGES_CTE}, {datagen.BOUNDARIES_CTE}
    SELECT g.url AS url, b.level9_id AS level9_id
    FROM pages_geo g LEFT JOIN boundaries b
      ON g.lon >= b.min_lon AND g.lon < b.max_lon
     AND g.lat >= b.min_lat AND g.lat < b.max_lat
    ORDER BY url
    """
    rows = con.execute(q).fetchall()
    con.close()
    return {u: b for u, b in rows}


@pytest.fixture(scope="module")
def geotag(spark, sf_dir):
    pages = datagen.build_pages(spark, sf_dir)
    boundaries = datagen.build_boundaries(spark, sf_dir)
    return SJ.geotag_pages(pages, boundaries).cache()


def test_geotag_matches_oracle(geotag, sf_dir):
    exp = expected_geotag(sf_dir)
    got = {r["url"]: r["level9_id"] for r in geotag.collect()}
    assert len(got) == len(exp)
    mismatches = {u: (got[u], exp[u]) for u in exp if got[u] != exp[u]}
    assert not mismatches, list(mismatches.items())[:5]


def test_geotag_all_matched_exactly_once(geotag):
    # the 5x5 grid tiles the full coordinate space -> every page matches once
    verdicts = {r["verdict"] for r in geotag.select("verdict").distinct().collect()}
    assert verdicts == {SJ.VERDICT_MATCHED}


def test_hotspot_exists(geotag):
    # >=30% of pages share one boundary (skew driver for salting tests)
    counts = geotag.groupBy("level9_id").count().collect()
    total = sum(r["count"] for r in counts)
    assert max(r["count"] for r in counts) >= 0.3 * total


def test_salted_path_identical(spark, sf_dir, geotag):
    pages = datagen.build_pages(spark, sf_dir)
    boundaries = datagen.build_boundaries(spark, sf_dir)
    salted = SJ.geotag_pages(pages, boundaries, broadcast_boundaries=False, n_salt=8)
    base = {(r["url"], r["level9_id"], r["verdict"]) for r in geotag.collect()}
    alt = {(r["url"], r["level9_id"], r["verdict"]) for r in salted.collect()}
    assert base == alt


def test_extracted_text_byte_identical_across_runs(spark, sf_dir):
    pages = datagen.build_pages(spark, sf_dir)
    a = SJ.extract_pages_geo(pages, res=6).select("url", "text")
    b = SJ.extract_pages_geo(pages.repartition(7), res=6).select("url", "text")
    ra = {r["url"]: r["text"].encode() for r in a.collect()}
    rb = {r["url"]: r["text"].encode() for r in b.collect()}
    assert ra == rb


def test_extract_pages_geo_is_one_python_pass(spark, sf_dir):
    """html→text→geo is one ArrowEvalPython node holding one UDF, so
    extract_text runs once per page, not once per output column."""
    import re

    d = SJ.extract_pages_geo(datagen.build_pages(spark, sf_dir), res=6)
    plan = d._jdf.queryExecution().executedPlan().toString()
    nodes = re.findall(r"ArrowEvalPython \[(.*?)\], \[(.*?)\]", plan)
    assert len(nodes) == 1, plan
    udfs, outputs = nodes[0]
    assert udfs.startswith("extract_page_udf(") and "," not in outputs, nodes


def test_observed_metrics(spark, sf_dir):
    """A9: named observation counters on the extraction stage."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    pages = datagen.build_pages(spark, sf_dir)
    obs = Observation("extract_metrics")
    d = SJ.extract_pages_geo(pages, res=6).observe(
        obs, F.count(F.lit(1)).alias("rows_in"), F.count("lat").alias("rows_with_geo")
    )
    d.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["rows_in"] == 500 and got["rows_with_geo"] == 500


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Bucketing for co-located joins (the 100 TB fact-fact strategy):
    two tables bucketed on the join key by the same bucket count join
    WITHOUT any Exchange in the physical plan — pre-shuffled at write
    time, reusable across every downstream join on that key."""
    import pyspark.sql.functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS buckdemo")
    try:
        (
            orders.write.mode("overwrite")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .saveAsTable("buckdemo.orders_b")
        )
        (
            li.withColumnRenamed("l_orderkey", "o_orderkey")
            .write.mode("overwrite")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .saveAsTable("buckdemo.lineitem_b")
        )
        joined = spark.table("buckdemo.orders_b").join(
            spark.table("buckdemo.lineitem_b").hint("merge"), "o_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        # and it computes the right thing
        got = joined.agg(F.count("*")).collect()[0][0]
        want = orders.join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        ).count()
        assert got == want > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS buckdemo.lineitem_b")
        spark.sql("DROP TABLE IF EXISTS buckdemo.orders_b")
        spark.sql("DROP DATABASE IF EXISTS buckdemo")


def test_ann_topk_plan_is_take_ordered(spark, sf_correct):
    """VERDICT r02 #3: every ANN top-k must compile to
    TakeOrderedAndProject (parallel partial top-k), never a
    partition-less Window funnelling all scored rows into one task."""
    from osm_admin_boundary_conflation_spark import queries as Q

    for name in ("ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_topk", "ann_ivf_multiprobe"):
        df = Q.QUERIES[name](spark, sf_correct)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, name
        assert "Window" not in plan, name


def test_build_pages_spreads_large_directory_corpus(spark, tmp_path):
    """A Spark-style documents.parquet DIRECTORY holding one >4 MiB file
    still trips build_pages' single-split guard: the corpus size is
    summed over the directory's files, not read off the directory
    inode."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = tmp_path / "documents.parquet"
    docs.mkdir()
    rng = random.Random(4)
    n = 1200  # 1200 x 5000 chars, written uncompressed: ~5.7 MiB
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": [rng.randbytes(2500).hex() for _ in range(n)],
            "lang": ["en"] * n,
        }
    )
    pq.write_table(table, docs / "part-00000.parquet", compression="none")
    (docs / "_SUCCESS").write_bytes(b"")
    assert (docs / "part-00000.parquet").stat().st_size > 4 * 1024 * 1024

    par = spark.sparkContext.defaultParallelism
    assert spark.read.parquet(str(docs)).rdd.getNumPartitions() < par
    assert datagen.build_pages(spark, str(tmp_path)).rdd.getNumPartitions() == par
