"""The one storage seam for the engine's own metadata beside Spark's data
files: stage checkpoint metas (sources/checkpoint.py), the signature
store's manifest and schema (streaming/ingest.py), and parquet-footer row
counts. All IO goes through ``pyarrow.fs``, so a base dir may be a local
path or a URI (``file://``, ``s3://``, ``s3a://``, ``hdfs://``).
"""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow.parquet as pq
from pyarrow import fs as pafs


class Storage:
    """A base dir as Spark reads it (``uri``) and as pyarrow reads it
    (``fs`` + ``path``). A scheme pyarrow cannot open raises here."""

    def __init__(self, base_dir: str | Path):
        base = str(base_dir)
        if "://" in base:
            # pyarrow speaks s3://, not Hadoop's s3a:// alias
            self.fs, self.root = pafs.FileSystem.from_uri(
                base.replace("s3a://", "s3://", 1)
            )
            self.root_uri = base.rstrip("/")
        else:
            self.fs = pafs.LocalFileSystem()
            # absolute path: pyarrow's LocalFileSystem and Spark resolve
            # relative paths against different working directories
            self.root = self.root_uri = str(Path(base).resolve())

    def path(self, rel: str = "") -> str:
        return f"{self.root.rstrip('/')}/{rel}" if rel else self.root

    def uri(self, rel: str = "") -> str:
        return f"{self.root_uri}/{rel}" if rel else self.root_uri

    def read_json(self, rel: str) -> dict | None:
        """None when there is no file; a file that does not parse raises."""
        p = self.path(rel)
        if self.fs.get_file_info(p).type == pafs.FileType.NotFound:
            return None
        with self.fs.open_input_stream(p) as f:
            return json.loads(f.read().decode())

    def write_json(self, rel: str, doc: dict) -> None:
        """Write-then-rename, so a reader never sees a torn document
        (atomic on local and HDFS renames; copy + delete on S3)."""
        p = self.path(rel)
        with self.fs.open_output_stream(p + ".tmp") as f:
            f.write(json.dumps(doc).encode())
        self.fs.move(p + ".tmp", p)

    def footer_rows(self, rel: str = "") -> list[int]:
        """Row count of each ``part-*.parquet`` file in dir ``rel``, in
        file-name order, read from the footers: no Spark job."""
        sel = pafs.FileSelector(self.path(rel), allow_not_found=True)
        counts = []
        for info in sorted(self.fs.get_file_info(sel), key=lambda i: i.base_name):
            name = info.base_name
            if info.is_file and name.startswith("part-") and name.endswith(".parquet"):
                with self.fs.open_input_file(info.path) as f:
                    counts.append(pq.ParquetFile(f).metadata.num_rows)
        return counts
