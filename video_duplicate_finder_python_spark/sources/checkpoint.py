"""Per-stage checkpoints with lineage + counters (SURVEY O3/O4/O16/O18).

The lakehouse analog of the reference's SQLite cache
(/root/reference/src/core/database.py): every pipeline stage idempotently
overwrites a parquet directory (Iceberg table in a real deployment — the
writer is a single seam) next to a ``_metrics.json`` carrying the stage's
config/input fingerprint, row counters, per-partition row counts, wall
time, and upstream lineage. A rerun whose fingerprint matches reads the
checkpoint instead of recomputing — the distributed analog of the
reference's hash cache probe (database.py:93-130) and its delete-then-insert
idempotent writes (database.py:196-209); leading-underscore metric files
are invisible to Spark's parquet reader, so the directory stays a clean
table.

Job budget: a stage costs its write job(s) and nothing else. A freshly
written stage is read back with the schema it was just written with
(``spark.read.schema(...)``), and a cached stage with the schema stored in
its ``_metrics.json``: ``spark.read.parquet`` without a schema runs a
footer-inference Spark job (~0.1 CPU-s warm) per read. Row counts come
from the parquet footers (no job), and the stage's ``counters`` callback
runs AFTER the write, so a counter read from an ``Observation`` on the
stage's own dataflow (the candidates stage's drop counts) is filled by the
write instead of costing a job of its own. A meta written without the
schema field (older checkpoints) falls back to inference.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType


@dataclass
class StageMetrics:
    stage: str
    fingerprint: str
    rows_out: int
    wall_s: float
    cached: bool
    lineage: list[str] = field(default_factory=list)
    partitions: list[dict] = field(default_factory=list)
    counters: dict = field(default_factory=dict)


def observed_metrics(obs: Observation) -> dict | None:
    """``obs.get`` after the action that ran the observed frame, or None
    when no result arrived. The known cause is an action whose executed
    plan no longer held the observed node: AQE (or the optimizer) replaces
    a subtree over an empty input with an empty relation (e.g. a self-join
    of zero bucket rows), the observation completes with an empty row, and
    pyspark fails converting it. None is never a count: each caller
    recomputes the value in a job of its own or treats it as unknown, so a
    failed observation can cost a job but not change a result."""
    try:
        return obs.get
    except Py4JJavaError:
        return None


class CheckpointManager:
    """Idempotent, fingerprint-invalidated parquet stage checkpoints.

    ``base_dir=None`` disables persistence: stages are materialized with
    ``localCheckpoint`` (still truncates lineage and yields counters) —
    the in-memory mode tests and small jobs use.
    """

    def __init__(self, spark: SparkSession, base_dir: str | Path | None = None):
        self.spark = spark
        self.base_dir = Path(base_dir) if base_dir is not None else None
        self.metrics: dict[str, StageMetrics] = {}

    # -- internals ---------------------------------------------------------
    def _meta_path(self, name: str) -> Path:
        assert self.base_dir is not None
        return self.base_dir / name / "_metrics.json"

    def _read_meta(self, name: str) -> dict | None:
        p = self._meta_path(name)
        if not p.exists():
            return None
        try:
            return json.loads(p.read_text())
        except (json.JSONDecodeError, OSError):
            return None

    @staticmethod
    def _footer_partition_counts(path: str) -> tuple[int, list[dict]]:
        """Per-partition row counts + total from the parquet footers of the
        freshly-written checkpoint — pure driver-side metadata reads, zero
        Spark jobs (each ``part-*`` file is one write-task's partition).
        The round-1 shape ran a count() job plus a groupBy(partition_id)
        job per stage; those two extra actions per stage were the largest
        chunk of the serial residue that held scaling efficiency under the
        0.8 bar. On Iceberg the manifest row counts provide the same
        numbers, also without a scan."""
        import pyarrow.parquet as pq

        parts = []
        total = 0
        for i, f in enumerate(sorted(Path(path).glob("part-*"))):
            n = pq.ParquetFile(f).metadata.num_rows
            total += n
            parts.append({"id": i, "rows": int(n)})
        return total, parts

    def _partition_counts(self, path: str, out: DataFrame) -> tuple[int, list[dict]]:
        """Footer counts for local checkpoints; for a non-local ``base_dir``
        (hdfs://, s3a:// — the real deployment) pathlib can't see the
        files, so fall back to one Spark count() job over the just-written
        (page-cached) checkpoint ``out``. On Iceberg the manifest row
        counts replace both branches."""
        if Path(path).exists():
            return self._footer_partition_counts(path)
        return out.count(), []

    def _read(self, path: str, schema: StructType | None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(path)

    # -- public ------------------------------------------------------------
    def stage(
        self,
        name: str,
        fingerprint: str,
        build: Callable[[], DataFrame],
        lineage: list[str] | None = None,
        counters: Callable[[], dict] | None = None,
    ) -> DataFrame:
        """Return the stage's DataFrame, recomputing only on fingerprint miss."""
        lineage = lineage or []
        if self.base_dir is not None:
            meta = self._read_meta(name)
            path = str(self.base_dir / name)
            if meta is not None and meta.get("fingerprint") == fingerprint:
                schema = meta.get("schema")
                df = self._read(path, StructType.fromJson(schema) if schema else None)
                self.metrics[name] = StageMetrics(
                    stage=name,
                    fingerprint=fingerprint,
                    rows_out=meta.get("rows_out", -1),
                    wall_s=0.0,
                    cached=True,
                    lineage=lineage,
                    partitions=meta.get("partitions", []),
                    counters=meta.get("counters", {}),
                )
                return df

        t0 = time.monotonic()
        df = build()

        if self.base_dir is None:
            # lazy checkpoint + count: materialization and row counting in
            # ONE job (eager localCheckpoint followed by count() was two
            # driver-blocking actions per stage — serial scaling residue)
            out = df.localCheckpoint(eager=False)
            rows = out.count()
            parts = []
        else:
            path = str(self.base_dir / name)
            df.write.mode("overwrite").parquet(path)
            out = self._read(path, df.schema)
            rows, parts = self._partition_counts(path, out)
        # after the write: observed counters are complete only once the
        # action over the stage's dataflow has run
        extra = counters() if counters is not None else {}
        wall = time.monotonic() - t0

        m = StageMetrics(
            stage=name,
            fingerprint=fingerprint,
            rows_out=rows,
            wall_s=wall,
            cached=False,
            lineage=lineage,
            partitions=parts,
            counters=extra,
        )
        self.metrics[name] = m
        if self.base_dir is not None:
            meta = {**asdict(m), "schema": df.schema.jsonValue()}
            self._meta_path(name).write_text(json.dumps(meta, indent=1))
        return out

    def metrics_summary(self) -> dict[str, dict]:
        return {k: asdict(v) for k, v in self.metrics.items()}
