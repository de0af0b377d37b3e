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
from the parquet footers through sources/storage.py (no job, on a local
dir or a URI), and the stage's ``counters`` callback runs AFTER the
write, so a counter read from an ``Observation`` on the stage's own
dataflow (the candidates stage's drop counts) is filled by the write
instead of costing a job of its own. A meta written without the
schema field (older checkpoints) falls back to inference.
"""

from __future__ import annotations

import time
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType

from .storage import Storage


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

    ``base_dir`` is a local path or a URI (``file://``, ``s3a://``, ...);
    ``base_dir=None`` disables persistence: stages are materialized with
    ``localCheckpoint`` (still truncates lineage and yields counters) —
    the in-memory mode tests and small jobs use.
    """

    def __init__(self, spark: SparkSession, base_dir: str | Path | None = None):
        self.spark = spark
        self.storage = Storage(base_dir) if base_dir is not None else None
        self.metrics: dict[str, StageMetrics] = {}

    # -- internals ---------------------------------------------------------
    def _read_meta(self, name: str) -> dict | None:
        """The stage's meta, or None: a missing, torn or unreadable
        ``_metrics.json`` means recompute."""
        try:
            return self.storage.read_json(f"{name}/_metrics.json")
        except (ValueError, OSError):
            return None

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
        if self.storage is not None:
            meta = self._read_meta(name)
            path = self.storage.uri(name)
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

        if self.storage is None:
            # lazy checkpoint + count: materialization and row counting in
            # ONE job (eager localCheckpoint followed by count() was two
            # driver-blocking actions per stage — serial scaling residue)
            out = df.localCheckpoint(eager=False)
            rows = out.count()
            parts = []
        else:
            path = self.storage.uri(name)
            df.write.mode("overwrite").parquet(path)
            out = self._read(path, df.schema)
            counts = self.storage.footer_rows(name)
            rows = sum(counts)
            parts = [{"id": i, "rows": n} for i, n in enumerate(counts)]
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
        if self.storage is not None:
            # inside the stage dir: the next overwrite deletes it with the
            # old rows, so a crash before the new meta means recompute
            meta = {**asdict(m), "schema": df.schema.jsonValue()}
            self.storage.write_json(f"{name}/_metrics.json", meta)
        return out

    def metrics_summary(self) -> dict[str, dict]:
        return {k: asdict(v) for k, v in self.metrics.items()}
