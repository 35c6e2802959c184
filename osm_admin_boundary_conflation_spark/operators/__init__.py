"""Engine operators: spatial join, conflation battery, segmentation,
quality metrics, dedup, similarity search, diffing."""
