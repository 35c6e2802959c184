"""PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the capabilities of
stalker314314/osm-admin-boundary-conflation (reference at /root/reference,
surveyed in SURVEY.md) as an idiomatic PySpark engine:

- Geo-tagging of Common-Crawl-style web pages against admin-boundary
  polygons via grid-cell (H3-style) hash joins with explicit salting.
- The reference's conflation verdict battery (processing_state.py) as a
  declarative when()-chain over joined DataFrames.
- Boundary segmentation / tiling (translation.py semantics) as
  explode + groupBy + grouped-map stages.
- Quality metrics (IoU / area-diff, measure_quality.py semantics) as
  vectorized Arrow UDFs over a pure-numpy geometry kernel.
- Checkpoint-resumable stages with per-partition lineage metrics.
- Training-data pipeline operators: dedup (exact/MinHash/SimHash/Jaccard),
  ANN similarity search, text quality / language id.

No per-row Python anywhere: geometry and text kernels run as pandas/Arrow
UDFs; everything else is built-in pyspark.sql.functions expressions.
"""

__version__ = "0.1.0"
