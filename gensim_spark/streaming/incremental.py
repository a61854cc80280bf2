"""Incremental index maintenance with Structured Streaming over
Iceberg-semantics tables.

Reference analogue: ``Similarity.add_documents`` buffer-and-spill
(gensim/similarities/docsim.py:367-416 — buffer until ``shardsize`` then
close a shard) and ``reopen_shard`` compaction (docsim.py:466-478). Here the
micro-batch IS the buffer: each batch of new pages is tokenized, counted,
committed as an Iceberg APPEND SNAPSHOT on the counts table, and the
vocabulary table advances with an OVERWRITE snapshOT carrying ``merge_with``
semantics (same token keeps its id; new tokens get fresh sequential ids —
dictionary.py:532-591), which is exactly gensim's online id assignment
continued across batches.

Exactly-once: the batch id is recorded in the snapshot summary; a replayed
micro-batch (stream restart after a crash between the table commit and the
stream checkpoint) detects its own batch id in the snapshot log and skips —
the commit itself is atomic (icetable.py), so no partial appends exist.

Weighting note: BM25 idfs/avgdl are corpus-global, so incremental appends
update raw counts + vocab continuously while weighted shards are refreshed
by a periodic compaction job (recompute stats → re-weight → packed-shard
snapshots) — the same late-data/compaction split a streaming warehouse uses.
Old counts snapshots stay scannable during compaction (readers time-travel);
``expire_snapshots`` reclaims them afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gensim_spark.index.icetable import IceTable

COUNTS_DDL = "doc_id bigint, token string, tf bigint, dl bigint"
VOCAB_DDL = ("token string, term_id bigint, df bigint, cf bigint,"
             " first_doc bigint")


def counts_table(store_dir: str) -> IceTable:
    loc = f"{store_dir}/counts"
    try:
        return IceTable.load(loc)
    except FileNotFoundError:
        return IceTable.create(loc, COUNTS_DDL)


def vocab_table(store_dir: str) -> IceTable:
    loc = f"{store_dir}/vocab"
    try:
        return IceTable.load(loc)
    except FileNotFoundError:
        return IceTable.create(loc, VOCAB_DDL)


def read_counts(spark: SparkSession, store_dir: str) -> DataFrame:
    return counts_table(store_dir).scan(spark)


def read_vocab(spark: SparkSession, store_dir: str) -> DataFrame:
    return vocab_table(store_dir).scan(spark)


def start_incremental_build(spark: SparkSession, pages_stream: DataFrame,
                            store_dir: str,
                            checkpoint_dir: str,
                            html_col: str = "html"):
    """pages readStream → appends (doc_id, token, tf, dl) micro-batches as
    counts-table snapshots and advances the vocab table across batches.

    Returns the StreamingQuery.
    """
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_pages_batch(batch_df, batch_id, store_dir, html_col=html_col)

    return (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def process_pages_batch(batch_df: DataFrame, batch_id: int, store_dir: str,
                        html_col: str = "html") -> None:
    """One micro-batch of the incremental build (the foreachBatch body,
    module-level so crash/replay paths are directly testable)."""
    from gensim_spark.functions.textprep import extract_tokenize_bow

    s = batch_df.sparkSession
    ct = counts_table(store_dir)
    vt0 = vocab_table(store_dir)
    # Each batch performs TWO commits (counts append, then vocab
    # overwrite). The VOCAB commit — the last one — is the batch's
    # completion marker: only skip the whole batch if it made it there.
    # A crash between the two commits leaves the batch_id in counts but
    # not vocab; the replay then skips only the counts append and redoes
    # the vocab update, so no batch's tokens are ever lost.
    if any(snap.summary.get("batch_id") == str(batch_id)
           for snap in vt0.snapshots):
        return  # replayed batch — fully committed
    counts_done = any(snap.summary.get("batch_id") == str(batch_id)
                      for snap in ct.snapshots)
    counts = extract_tokenize_bow(batch_df, html_col=html_col)
    counts.persist()
    if not counts_done:
        n_docs = counts.select("doc_id").distinct().count()
        ct.append(counts.select("doc_id", "token", "tf", "dl"),
                  summary={"batch_id": batch_id, "docs": n_docs})
    new_stats = counts.groupBy("token").agg(
        F.sum("tf").alias("cf"),
        F.count(F.lit(1)).alias("df"),
        F.min("doc_id").alias("first_doc"),
    )
    vt = vocab_table(store_dir)
    old = vt.scan(s) if vt.current_snapshot is not None else None
    if old is None or vt.current_snapshot.summary.get(
            "total-records") == "0":
        from gensim_spark.operators.vocab import assign_term_ids

        vocab = assign_term_ids(new_stats, distributed=False).select(
            "token", "term_id", "df", "cf", "first_doc"
        )
    else:
        from pyspark.sql import Window

        base_n = old.count()
        joined = old.alias("a").join(new_stats.alias("b"), "token",
                                     "full_outer")
        kept = joined.filter(F.col("a.term_id").isNotNull()).select(
            "token", F.col("a.term_id").alias("term_id"),
            (F.coalesce(F.col("a.df"), F.lit(0))
             + F.coalesce(F.col("b.df"), F.lit(0))).alias("df"),
            (F.coalesce(F.col("a.cf"), F.lit(0))
             + F.coalesce(F.col("b.cf"), F.lit(0))).alias("cf"),
            F.col("a.first_doc").alias("first_doc"),
        )
        fresh = (
            joined.filter(F.col("a.term_id").isNull())
            .select("token", F.col("b.df").alias("df"),
                    F.col("b.cf").alias("cf"),
                    F.col("b.first_doc").alias("first_doc"))
            .withColumn(
                "term_id",
                F.lit(base_n)
                + F.row_number().over(
                    Window.orderBy("first_doc", "token")
                ) - F.lit(1),
            )
            .select("token", "term_id", "df", "cf", "first_doc")
        )
        vocab = kept.unionByName(fresh)
    # snapshot isolation replaces the _next-dir swap dance: readers on
    # the previous snapshot are untouched until this commit lands
    vt.append(vocab.select("token", "term_id", "df", "cf", "first_doc"),
              operation="overwrite", summary={"batch_id": batch_id})
    counts.unpersist()


def compact(spark: SparkSession, store_dir: str, index_dir: str,
            variant: str = "okapi") -> IceTable:
    """Periodic compaction: recompute corpus-global stats from all appended
    counts snapshots and rebuild weighted packed shards as Iceberg
    snapshots (the reopen_shard analogue), replacing the packed store a
    previous compaction left in ``index_dir``. Returns the index
    IceTable."""
    from gensim_spark.index.layout import write_packed_shards
    from gensim_spark.operators import bm25 as M

    counts = read_counts(spark, store_dir)
    vocab = read_vocab(spark, store_dir)
    num_docs = counts.select("doc_id").distinct().count()
    stats = M.fit_from_vocab(vocab, num_docs, variant=variant)
    with_ids = counts.join(
        F.broadcast(vocab.select("token", "term_id")), "token"
    ).select("doc_id", "term_id", "tf", "dl")
    weighted = M.weight_postings(with_ids, stats, dl="inline")
    return write_packed_shards(weighted, index_dir, resume=False)


def streaming_event_stats(events_stream: DataFrame,
                          watermark: str = "1 hour",
                          window: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window rollup of an event stream — the
    late-data-tolerant aggregation surface (SURVEY.md §2.6 streaming note)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "total")
    )
