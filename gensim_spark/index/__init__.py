"""The persistent inverted index: sharded, compressed posting runs.

- ``packing``    — delta+varint run encoding with per-block max-weight
  metadata (the block-max WAND skip structure).
- ``layout``     — doc-sharded shard tables of packed runs + term-bucketed
  plain postings (the relational scoring path), head-term salting; the
  packed store's snapshot log records each shard group's commit,
  lineage and metrics (checkpoint/resume).
- ``wand``       — block-max WAND top-k over packed shards, score-exact vs
  the exhaustive join-agg plan.
"""

from gensim_spark.index import layout, packing, wand  # noqa: F401
