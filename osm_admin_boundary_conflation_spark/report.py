"""S12: HTML conflation report artifact.

Mirrors /root/reference/conflate-report.py + templates/index_template.html:
a self-contained HTML page with a toggleable legend (error explanations,
totals, per-error counts with percentages) and a per-way grid whose
error contexts are linkified to openstreetmap.org (ways / nodes /
relations by verdict class; endpoint distances formatted '{:.2f}m' —
conflate-report.py:49-62).

Scale shape: counts aggregate in Spark; only the (capped, deterministic
way_id-ordered) grid rows are collected driver-side — the reference is
fully driver-side, so a bounded collect IS the operator here. The
reference's `[0:-1]` quirk (conflate-report.py:73 silently drops the
last way from the grid) is reproduced for parity.
"""

from __future__ import annotations

import html as _html

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# reference conflate-report.py:13-30 (paraphrased descriptions)
ERROR_DESCRIPTIONS = {
    "CONFLATED": "Way already conflated — OSM geometry matches the source.",
    "CHECKED_POSSIBLE": "Conflation possible — all checks passed (dry run).",
    "ERROR_WAY_NOT_FOUND": "No OSM way found for this boundary.",
    "ERROR_MULTIPLE_SINGLE_WAY": "Multiple OSM candidate ways for a single-relation way.",
    "ERROR_SHARED_WAY_NOT_FOUND": "No shared OSM way between the two relations.",
    "ERROR_MULTIPLE_SHARED_WAYS": "Multiple shared OSM ways between the two relations.",
    "ERROR_OVERLAPPING_WAYS": "Way belongs to three or more relations.",
    "ERROR_NATIONAL_BORDER": "Candidate way is part of a national border.",
    "ERROR_UNEXPECTED_TAG": "Candidate way carries a tag outside the allowlist.",
    "ERROR_NODE_IN_OTHER_WAYS": "Candidate nodes are shared with non-boundary ways.",
    "ERROR_NODE_IN_NATIONAL_BORDER": "Candidate nodes are shared with a national border way.",
    "ERROR_NODE_IN_OTHER_RELATION": "Candidate way belongs to a non-boundary relation.",
    "ERROR_NODE_IN_NATIONAL_RELATION": "Candidate way belongs to a national-border relation.",
    "ERROR_NODES_WITH_TAGS": "Candidate nodes carry tags.",
    "ERROR_END_POINTS_FAR_APART": "End points differ by more than the threshold.",
    "ERROR_TOO_MANY_NODES": "Way exceeds 2000 nodes (OSM changeset limit).",
    "ERROR_CLOSED_SHAPE": "Way is a closed shape.",
    "ERROR_INVALID_SHAPE": "Way geometry is invalid.",
}

_WAY_LINK_VERDICTS = {
    "ERROR_MULTIPLE_SHARED_WAYS",
    "ERROR_MULTIPLE_SINGLE_WAY",
    "ERROR_NODE_IN_OTHER_WAYS",
    "ERROR_NODE_IN_NATIONAL_BORDER",
}


def _linkify(verdict: str, context: str | None) -> str:
    if not context:
        return ""
    if verdict in _WAY_LINK_VERDICTS:
        kind = "way"
    elif verdict == "ERROR_NODES_WITH_TAGS":
        kind = "node"
    elif verdict == "ERROR_NODE_IN_OTHER_RELATION":
        kind = "relation"
    elif verdict == "ERROR_END_POINTS_FAR_APART":
        return f"{float(context):.2f}m"
    else:
        return _html.escape(context)
    return ",".join(
        f'<a href="https://www.openstreetmap.org/{kind}/{x}" target="_blank">{x}</a>'
        for x in context.split(",")
    )


def render_report(
    total_ways: int,
    processed_ways: int,
    ways_with_osm: int,
    count_per_error: list[tuple[str, int]],
    grid_rows: list[dict],
) -> str:
    legend_errors = "\n".join(
        f"<li><strong>{k}</strong> &mdash; {_html.escape(v)}</li>"
        for k, v in sorted(ERROR_DESCRIPTIONS.items())
    )
    error_stats = "\n".join(
        f"<li><strong>{k}</strong> &mdash; {v} ({100.0 * v / total_ways:.2f}%)</li>"
        for k, v in count_per_error
    )
    rows = "\n".join(
        "<tr><td>{way}</td><td>{osm}</td><td>{verdict}</td><td>{ctx}</td></tr>".format(
            way=r["way_id"],
            osm="" if r["osm_way_id"] is None else (
                f'<a href="https://www.openstreetmap.org/way/{r["osm_way_id"]}" '
                f'target="_blank">{r["osm_way_id"]}</a>'
            ),
            verdict=r["verdict"],
            ctx=_linkify(r["verdict"], r["error_context"]),
        )
        for r in grid_rows
    )
    return f"""<!doctype html>
<html lang="en">
<head>
  <meta charset="utf-8">
  <title>OSM admin boundary conflation report</title>
  <meta name="description" content="OSM admin boundary conflation report">
</head>
<body>
  <h1>OSM admin boundary conflation report</h1>
  <div id="legend">
    <p>List of all conflation states:</p>
    <ul>
{legend_errors}
    </ul>
    <p>Statistics:</p>
    <ul>
      <li><strong>Total ways</strong> &mdash; {total_ways}</li>
      <li><strong>Processed ways</strong> &mdash; {processed_ways}</li>
      <li><strong>Ways found in OSM</strong> &mdash; {ways_with_osm}</li>
    </ul>
    <p>Statistics of conflation errors:</p>
    <ul>
{error_stats}
    </ul>
  </div>
  <table id="grid" border="1">
    <tr><th>Way ID</th><th>OSM Way</th><th>Conflation potential</th><th>Additional context</th></tr>
{rows}
  </table>
</body>
</html>
"""


def write_report(verdicts: DataFrame, path: str, max_grid_rows: int = 10000) -> dict:
    """Aggregate in Spark, render driver-side, write the artifact.
    Returns the stats dict (for tests / logs)."""
    per_verdict = (
        verdicts.groupBy("verdict")
        .agg(F.count("*").alias("n"), F.count("osm_way_id").alias("with_osm"))
        .collect()
    )
    counts = {r["verdict"]: r["n"] for r in per_verdict}
    total_ways = sum(counts.values())
    ways_with_osm = sum(r["with_osm"] for r in per_verdict)
    count_per_error = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    grid = [
        r.asDict()
        for r in verdicts.select("way_id", "osm_way_id", "verdict", "error_context")
        .orderBy("way_id")
        .limit(max_grid_rows)
        .collect()
    ]
    # reference quirk (conflate-report.py:73): the LAST way is dropped
    # from the grid
    grid = grid[:-1]
    html_text = render_report(total_ways, total_ways, ways_with_osm, count_per_error, grid)
    with open(path, "w", encoding="utf-8") as f:
        f.write(html_text)
    return {
        "total_ways": total_ways,
        "ways_with_osm": ways_with_osm,
        "count_per_error": count_per_error,
        "grid_rows": len(grid),
        "path": path,
    }
