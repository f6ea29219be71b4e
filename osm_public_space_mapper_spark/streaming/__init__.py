"""Structured Streaming surface.

The reference is strictly one-shot batch (SURVEY.md §2.7: no watermarks,
windows, or stateful operators exist anywhere in it), so every module here is
engine-side surface; tests/test_streaming.py drives each through an
availableNow trigger:

  ingest    image rows → geotag → project → res-7 cell bucket → Icelite append
            (foreachBatch), with per-partition lineage
  geofence  the J12 point-in-mask join (`pip_join_expr`); the same operator
            runs on a batch or a streaming points frame
  dedup     watermarked exact dedup, windowed unique counts and near-dup
            tombstones over 64-bit fingerprints
  windows   watermarked event-time window counts and stateful
            sessionization

Batch resume ("resumable from checkpoint with per-partition lineage") stays
in tables/icelite.py: `commit_resumable` anti-joins already-committed
partitions.
"""
