"""Fragment contract for streaming ingest of interleaved corpora.

At 10^12-doc scale documents do not arrive atomically: an interleaved
text+media document is written as FRAGMENTS (crawler chunks, page
ranges, media sidecars) that land across micro-batches, possibly more
than once (at-least-once sources). Every fragment carries
``(doc_id, frag_id ∈ [0, n_frags), n_frags, spans)`` (``FRAGMENTS_SCHEMA``).
The ingest writer knows how many fragments it split a document into, so
completion is a per-key local test (distinct frag_ids seen == n_frags) —
no global coordination, no watermark needed for the happy path.
Redeliveries are byte-identical to the first delivery, so a consumer may
keep any one copy of a (doc_id, frag_id).

The assembler that turns this stream into exactly-once complete docs
for the unchanged vectorized kernel is ``streaming_staged.py``.

The reference has no streaming of any kind (its detect_paragraphs.py
batch-processes a closed directory of images); this is an engine
extension per SURVEY.md §7.6.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .schema import IN_SPAN

FRAGMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("frag_id", IntegerType(), False),
        StructField("n_frags", IntegerType(), False),
        StructField("spans", ArrayType(IN_SPAN, False), False),
    ]
)
