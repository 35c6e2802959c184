"""Checkpoint-resumable stages with per-partition lineage metrics.

The reference checkpoints by atomically rewriting a pickle of the whole
state after every way (conflate.py:562-564 via atomic_write.py) and
resumes by skipping rows whose state != NO (conflate.py:486-487;
measure_quality.py:126-130 re-reads the output CSV and skips done
keys). The Spark-native equivalents:

- a *stage output table* written once per stage (parquet here, Iceberg
  on a real cluster — the write is atomic through Spark's commit
  protocol, the analogue of atomic_write's tmp+rename);
- *resume* = if the stage table exists and is complete, read it instead
  of recomputing (whole-stage memoization), plus `resume_anti_join` for
  row-level resume: work_list LEFT ANTI JOIN checkpoint ON key;
- a *metrics ledger* with per-partition lineage rows (run_id, stage,
  partition_id, rows_out, wall hint) — FIXTURES.md F5. Each recomputed
  stage adds one parquet file to `_metrics/`, written to a dot-prefixed
  temp name and renamed into place (atomic_write's tmp+rename).

No Spark job for the metrics: the rows are read from the committed
part-file footers. `part-NNNNN-*` is written by write task NNNNN, so
partition_id is the stage's real output layout. Nor for reading a stage
back, recomputed or resumed: a recomputed stage is read with the schema
it was just written with, a resumed one with the Spark schema stored in
its first part file's footer (key `org.apache.spark.sql.parquet.row.
metadata`, read with pyarrow). A stage directory whose footer lacks that
key, e.g. one written by another writer, is read with inference.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SUCCESS_MARK = "_SUCCESS"
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

LEDGER_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("partition_id", pa.int32()),
        ("rows_out", pa.int64()),
        ("stage_wall_ms", pa.int64()),
    ]
)


def _visible(d: str) -> list[str]:
    """Data files Spark reads in `d`: hidden (`.`/`_`) names skipped."""
    return sorted(f for f in os.listdir(d) if not f.startswith((".", "_")))


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema a stage was written with, from the footer of its
    first part file (Spark writes one even for an empty stage), or None
    when that footer does not carry one."""
    files = _visible(path)
    if not files:
        return None
    meta = pq.read_schema(os.path.join(path, files[0])).metadata or {}
    row_meta = meta.get(SPARK_ROW_METADATA)
    return None if row_meta is None else StructType.fromJson(json.loads(row_meta))


class StageRunner:
    """Run named stages exactly once per checkpoint directory.

    >>> runner = StageRunner(spark, "/tmp/ckpt", run_id="r1")
    >>> out = runner.stage("extract", lambda: build_extract_df(...))
    Re-running with the same checkpoint dir short-circuits to a parquet
    scan of the stage output (kill/resume-safe: incomplete writes have
    no _SUCCESS marker and are recomputed).
    """

    def __init__(self, spark: SparkSession, checkpoint_dir: str, run_id: str = "run"):
        self.spark = spark
        self.dir = checkpoint_dir
        self.run_id = run_id
        self.ledger = os.path.join(checkpoint_dir, "_metrics")
        self.recomputed: list[str] = []
        self.resumed: list[str] = []

    def _path(self, stage: str) -> str:
        return os.path.join(self.dir, f"stage={stage}")

    def is_done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._path(stage), SUCCESS_MARK))

    def stage(self, name: str, build) -> DataFrame:
        path = self._path(name)
        if self.is_done(name):
            self.resumed.append(name)
            schema = _footer_schema(path)
            reader = self.spark.read if schema is None else self.spark.read.schema(schema)
            return reader.parquet(path)
        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(path)
        self.recomputed.append(name)
        self._log_metrics(name, path, wall_s=time.time() - t0)
        # the written schema is known, so the read starts no inference job
        return self.spark.read.schema(df.schema).parquet(path)

    def _log_metrics(self, stage: str, path: str, wall_s: float) -> None:
        rows: dict[int, int] = {}
        for f in _visible(path):  # part-NNNNN-<uuid>-cMMM...: NNNNN = task partition
            pid = int(f.split("-")[1])
            rows[pid] = rows.get(pid, 0) + pq.read_metadata(os.path.join(path, f)).num_rows
        n = len(rows)
        wall_ms = round(wall_s * 1000)
        table = pa.table(
            [[self.run_id] * n, [stage] * n, list(rows), list(rows.values()), [wall_ms] * n],
            schema=LEDGER_SCHEMA,
        )
        os.makedirs(self.ledger, exist_ok=True)
        final = f"{len(_visible(self.ledger)):05d}-{stage}.parquet"
        tmp = os.path.join(self.ledger, f".{final}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.ledger, final))

    def metrics(self) -> DataFrame:
        # by explicit path: Spark's file index skips the `_metrics` dir itself
        return self.spark.read.parquet(*(os.path.join(self.ledger, f) for f in _visible(self.ledger)))

    def metrics_history(self) -> list[dict]:
        """The run ledger: one entry per recomputed stage, in commit order."""
        return [
            {"file": f, "rows": pq.read_table(os.path.join(self.ledger, f)).to_pylist()}
            for f in _visible(self.ledger)
        ]


def resume_anti_join(work: DataFrame, checkpoint: DataFrame, keys: list[str]) -> DataFrame:
    """Row-level resume (P3/J5): keep only work rows not yet in the
    checkpoint table (measure_quality.py:126-130 semantics)."""
    return work.join(checkpoint.select(*keys).distinct(), keys, "left_anti")
