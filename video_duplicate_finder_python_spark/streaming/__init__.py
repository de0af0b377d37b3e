"""Streaming surface.

The reference is strictly batch (SURVEY.md §2: no streaming, watermarks, or
late-data handling anywhere in it), and the north rule targets batch over
Iceberg snapshots: "late data" is a new snapshot, and only its new or
changed docs pay for signatures. The Structured-Streaming ingest here
(readStream on the pages source → foreachBatch into a url-hash-partitioned
signature store, whose ``(url, content_hash)`` anti-join signs only the
delta and whose partition-targeted upserts are O(delta)) is the natural
extension point beyond the reference.
"""

from .ingest import PAGES_SCHEMA, SignatureStore, StreamingSignatureIngest

__all__ = ["PAGES_SCHEMA", "SignatureStore", "StreamingSignatureIngest"]
