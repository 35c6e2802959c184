"""Seeded inputs and expected output digests for the benchmark workloads.

Everything here runs in DuckDB, never in Spark, so the job process's first
Spark action is its cold pass. The expected digests come from the engine's
own DuckDB oracles (``queries.ORACLES``) run over the same generated tables
the job reads.

The seed picks:
- the replica key offsets and the text variant of each replica (pages);
- the key offset of the documents behind the skewed point world and its
  hot cell;
- the key offset of the orders behind the OSM world.
The amount of work does not depend on the seed: every seed gives the same
row counts, text lengths and skew shape.
"""

from __future__ import annotations

import os
import random

import duckdb
import pyarrow as pa

from osm_admin_boundary_conflation_spark import datagen
from osm_admin_boundary_conflation_spark.queries import ORACLES

# Input sizes. "bench" is what BENCHMARK.json runs measure; "selftest" is the
# sf0.001-sized smoke used by perfbench/selftest.py.
SIZES = {
    "bench": {
        "geotag_crawl": {"docs": 2500, "replicas": 9, "page_words": 400},
        "geotag_skewed_shuffle": {"docs": 2500},
        "conflate_osm": {"orders": 2000},
    },
    "selftest": {
        "geotag_crawl": {"docs": 500, "replicas": 2, "page_words": 60},
        "geotag_skewed_shuffle": {"docs": 100},
        "conflate_osm": {"orders": 1500},
    },
}

# Vocabulary of the synthetic page bodies. No word, reversed or with its
# vowels rotated, reads "lat" or "lon": extract_geo must only ever find the
# coordinates the page header carries.
_WORDS = (
    "batch part spark line column order small sort fast value scan slow filter "
    "customer stream hash table key group merge big agg join vector query a the "
    "boundary village river road border city region map node way relation"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
# text variants per replica, as in tools/scaleup_bench.text_variant
_VARIANTS = ("text", "reverse(text)", "translate(text, 'aeiou', 'uoiea')")

# Skewed point world: the constants of the hot cell in the registry's
# geotag_skewed_salted oracle, replaced per seed (see _skew_hot_cell).
_SKEW_HOT_LAT, _SKEW_HOT_LON = 4001001, 2501001
_SKEW_POINTS_PER_DOC = 300
PAGES_ROW_GROUP = 512
SKEW_POINT_FILES = 8


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _copy(con, sql: str, path: str, row_group_size: int = 122_880) -> None:
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE {row_group_size})")


def row_digest(con, sql: str, cols: list[str]) -> tuple[int, str]:
    """(row count, md5 over the sorted rows) of ``sql`` projected to
    ``cols``; NULLs and types are normalised through VARCHAR so the
    oracle and the Spark output compare equal when their values do."""
    row = " || '|' || ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in cols)
    n, digest = con.execute(
        f"SELECT count(*), md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) "
        f"FROM (SELECT {row} AS r FROM ({sql}))"
    ).fetchone()
    return int(n), digest


def _write_nation(con, base: str) -> None:
    _copy(
        con,
        "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
        "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)",
        os.path.join(base, "nation.parquet"),
    )
    con.execute(f"CREATE VIEW nation AS SELECT * FROM read_parquet('{base}/nation.parquet')")


def _base_docs(rng: random.Random, n: int, words: int) -> pa.Table:
    """n documents of ``words`` words each (the length varies by +-25%)."""
    texts = [" ".join(rng.choices(_WORDS, k=rng.randint(words * 3 // 4, words * 5 // 4))) for _ in range(n)]
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i % len(_LANGS)] for i in range(n)],
    })


def setup_geotag_crawl(base: str, seed: int, size: dict) -> dict:
    """Pages table in the input_hint schema (url, warc_ts, html, text,
    lang): ``docs`` base documents replicated ``replicas`` times with
    seeded key offsets and text variants, padded to ``page_words``."""
    rng = random.Random(seed)
    con = _connect()
    _write_nation(con, base)
    base_docs = _base_docs(rng, size["docs"], size["page_words"])  # noqa: F841 (read by DuckDB)
    # replica r gets doc_id + r * unit (unit far above the base key range)
    # and one of the text variants; replica 0 keeps the base text
    unit = rng.randrange(1, 1000) * 1_000_000
    variants = [_VARIANTS[0]] + [rng.choice(_VARIANTS) for _ in range(size["replicas"] - 1)]
    replicas = " UNION ALL ".join(
        f"SELECT doc_id + {r * unit} AS doc_id, {v} AS text, lang FROM base_docs"
        for r, v in enumerate(variants)
    )
    _copy(con, replicas, os.path.join(base, "documents.parquet"))
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{base}/documents.parquet')")
    # html/text exactly as datagen.build_pages lays them out, from the
    # oracle's own PAGES_CTE closed forms
    html = (
        "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title></head><body><p>geo: lat '"
        " || lat_str || ' lon ' || lon_str || '</p><p>' || body_text || '</p></body></html>'"
    )
    pages_sql = (
        f"WITH {datagen.PAGES_CTE} SELECT url, TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS warc_ts, "
        f"encode({html}) AS html, {datagen.EXTRACTED_TEXT_SQL} AS text, lang FROM pages_geo"
    )
    # many small row groups, as a crawl table written by many tasks has:
    # Spark splits the scan across its cores instead of one task
    # extracting every page
    _copy(con, pages_sql, os.path.join(base, "pages.parquet"), row_group_size=PAGES_ROW_GROUP)
    n = con.execute(f"SELECT count(*) FROM read_parquet('{base}/pages.parquet')").fetchone()[0]
    return {
        "input_rows": int(n),
        "expect": {
            "geotag": row_digest(con, ORACLES["geotag"], COLUMNS["geotag"]),
            "geo": row_digest(
                con, f"SELECT url, md5(text) AS text_md5 FROM read_parquet('{base}/pages.parquet')", COLUMNS["geo"]
            ),
        },
    }


def _skew_hot_cell(rng: random.Random) -> tuple[int, int]:
    """A seeded hot cell: lat/lon bases (1e-5 deg, odd) whose 449-step
    spread stays inside one res-6 cell of one nation rectangle."""
    row, col = rng.randrange(5), rng.randrange(5)
    j, m = rng.randrange(31), rng.randrange(95)
    return 3_500_000 + 200_000 * row + 6_250 * j + 1_001, 1_000_000 + 600_000 * col + 6_250 * m + 1_001


def setup_skewed_shuffle(base: str, seed: int, size: dict) -> dict:
    """The geotag_skewed_salted point world (300 points per document,
    90% in one hot cell) with a seeded document key offset and hot cell,
    written as SKEW_POINT_FILES parquet files of (url, lat, lon)."""
    rng = random.Random(seed)
    con = _connect()
    _write_nation(con, base)
    offset = rng.randrange(0, 10_000) * 1_000
    _copy(
        con,
        f"SELECT CAST(i + {offset} AS BIGINT) AS doc_id FROM range({size['docs']}) t(i)",
        os.path.join(base, "documents.parquet"),
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{base}/documents.parquet')")
    hot_lat, hot_lon = _skew_hot_cell(rng)
    oracle = ORACLES["geotag_skewed_salted"]
    if oracle.count(str(_SKEW_HOT_LAT)) != 1 or oracle.count(str(_SKEW_HOT_LON)) != 1:
        raise RuntimeError("the geotag_skewed_salted oracle no longer names its hot cell constants once")
    oracle = oracle.replace(str(_SKEW_HOT_LAT), str(hot_lat)).replace(str(_SKEW_HOT_LON), str(hot_lon))
    pts_dir = os.path.join(base, "points")
    os.makedirs(pts_dir)
    lat = f"(CASE WHEN i % 10 <> 0 THEN {hot_lat} + 2 * (i % 449) ELSE 3500001 + 2 * ((i * 31) % 499999) END)"
    lon = f"(CASE WHEN i % 10 <> 0 THEN {hot_lon} + 2 * ((i * 7) % 449) ELSE 1000001 + 2 * ((i * 57) % 1499999) END)"
    pts = (
        f"SELECT d.doc_id * {_SKEW_POINTS_PER_DOC} + r AS i FROM documents d, range({_SKEW_POINTS_PER_DOC}) t(r)"
    )
    for k in range(SKEW_POINT_FILES):
        _copy(
            con,
            f"SELECT 'p' || CAST(i AS VARCHAR) AS url, CAST({lat} AS DOUBLE) / 100000.0 AS lat, "
            f"CAST({lon} AS DOUBLE) / 100000.0 AS lon FROM ({pts}) WHERE i % {SKEW_POINT_FILES} = {k} ORDER BY i",
            os.path.join(pts_dir, f"part-{k:02d}.parquet"),
        )
    return {
        "input_rows": size["docs"] * _SKEW_POINTS_PER_DOC,
        "expect": {"counts": row_digest(con, oracle, COLUMNS["counts"])},
    }


def setup_conflate_osm(base: str, seed: int, size: dict) -> dict:
    """orders keys (a seeded contiguous range) from which the engine
    builds the OSM world and the strip world."""
    rng = random.Random(seed)
    con = _connect()
    offset = rng.randrange(0, 100_000) * 20
    _copy(
        con,
        f"SELECT CAST(i + {offset} AS BIGINT) AS o_orderkey FROM range({size['orders']}) t(i)",
        os.path.join(base, "orders.parquet"),
    )
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{base}/orders.parquet')")
    return {
        "input_rows": size["orders"],
        "expect": {
            "verdicts": row_digest(con, ORACLES["conflate_verdicts"], COLUMNS["verdicts"]),
            "edit_plan": row_digest(con, ORACLES["edit_plan_summary"], COLUMNS["edit_plan"]),
            "segments": row_digest(con, ORACLES["segment_tiles"], COLUMNS["segments"]),
        },
    }


SETUP = {
    "geotag_crawl": setup_geotag_crawl,
    "geotag_skewed_shuffle": setup_skewed_shuffle,
    "conflate_osm": setup_conflate_osm,
}

# The columns each checked stage output is compared on with its oracle.
COLUMNS = {
    "geotag": ["url", "level9_id", "cell_id", "verdict"],
    "geo": ["url", "text_md5"],
    "counts": ["level9_id", "n_points"],
    "verdicts": ["way_id", "n_rels", "verdict", "osm_way_id", "error_context"],
    "edit_plan": ["way_id", "n_updates", "n_creates", "n_deletes"],
    "segments": ["fp", "parents", "n_parents", "admin_level"],
}

# How a stage output is read back where it is not compared row for row:
# the edit plan is checked as the oracle's per-way summary.
OUTPUT_SQL = {
    "edit_plan": (
        "SELECT way_id, sum(CASE WHEN op = 'update' THEN 1 ELSE 0 END) AS n_updates, "
        "sum(CASE WHEN op = 'create' THEN 1 ELSE 0 END) AS n_creates, "
        "sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS n_deletes FROM {p} GROUP BY way_id"
    ),
}


def output_digest(stage_dir: str, stage: str) -> tuple[int, str]:
    """(row count, md5) of a stage's parquet output, as row_digest gives it."""
    sql = OUTPUT_SQL.get(stage, "SELECT * FROM {p}")
    return row_digest(_connect(), sql.format(p=f"read_parquet('{stage_dir}/*.parquet')"), COLUMNS[stage])
