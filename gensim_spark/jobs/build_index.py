#!/usr/bin/env python
"""Index build job: pages parquet (url, warc_ts, html, text, lang) → packed
shard store (a snapshot table: ``metadata/`` + ``data/``) + vocab table +
``build_metrics.json``. Resumable: a re-run skips the shard groups the
store's snapshot log records as committed (``--no-resume`` rebuilds)."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)


def run(spark, input_path: str, output: str, variant: str = "okapi",
        docs_per_shard: int = 32768, num_groups: int = 8,
        from_html: bool = False, resume: bool = True,
        positional: bool = False,
        positional_n_buckets: int = 64) -> dict:
    """The job body; returns build metrics, with one entry per committed
    shard group (docs/terms/postings/wall_sec, read back from the group's
    snapshot summary, and ``bytes``, its ``added-files-size``), the
    store's ``bytes_per_posting`` over those groups, and ``column_bytes``:
    compressed bytes per packed column over the current snapshot's files,
    summed from the footer sizes each manifest entry records. Importable
    so tests can drive it on the shared session without a subprocess."""
    from pyspark.sql import functions as F

    from gensim_spark.index.layout import (open_packed_store,
                                           write_packed_shards)
    from gensim_spark.plans import pipeline as P

    t0 = time.perf_counter()
    # open (and, when resuming, check) the packed store before anything is
    # written: a refused resume must leave the index as it was
    open_packed_store(output, docs_per_shard, num_groups, resume)
    pages = spark.read.parquet(input_path)
    if "doc_id" not in pages.columns:
        pages = pages.withColumn(
            "doc_id", F.monotonically_increasing_id())
    if from_html:
        idx = P.build_from_pages(pages, variant=variant)
    else:
        docs = pages.select("doc_id", "text")
        tok = P.tokenize(docs)
        idx = P.build(tok, variant=variant)
    idx.vocab.write.mode("overwrite").parquet(f"{output}/vocab")
    # resume=True: the store opened above is the one to fill (a fresh
    # table when not resuming)
    table = write_packed_shards(
        idx.weighted, output, docs_per_shard=docs_per_shard,
        num_groups=num_groups, resume=True,
    )
    groups = {
        s.summary["group"]: {
            **{k: json.loads(s.summary[k]) for k in
               ("docs", "terms", "postings", "wall_sec")},
            "bytes": int(s.summary["added-files-size"])}
        for s in table.snapshots if "group" in s.summary
    }
    postings = sum(g["postings"] for g in groups.values())
    column_bytes: dict[str, int] = {}
    for f in table.plan_files():
        for col, size in f["column-sizes"].items():
            column_bytes[col] = column_bytes.get(col, 0) + size
    if positional:
        # phrase/NEAR query support: positions through the SAME bucketed
        # table (positions column rides along; bucket pruning + term_id
        # pushdown at query time), plus the doclen table the scorer joins.
        # The table is replaced, like the packed one when not resuming, so
        # a rebuild may change --positional-n-buckets.
        import shutil

        from gensim_spark.index.layout import write_postings_bucketed
        from gensim_spark.operators.positional import positional_postings

        docs_tok = idx.docs
        if docs_tok is None:
            # the fused --from-html build keeps no token frame (extract →
            # tokenize → BoW is ONE mapInPandas stage); re-derive tokens
            # with the same extraction + simple_preprocess semantics
            # (byte-identical per url) for the positional store
            from gensim_spark.functions.textprep import (
                extract_html_text_udf, tokenize_pages)

            extracted = pages.withColumn(
                "text", extract_html_text_udf(F.col("html")))
            docs_tok = tokenize_pages(extracted).select("doc_id", "tokens")
        shutil.rmtree(f"{output}/positional", ignore_errors=True)
        write_postings_bucketed(
            positional_postings(docs_tok, idx.vocab),
            f"{output}/positional", n_buckets=positional_n_buckets)
        idx.doclen.write.mode("overwrite").parquet(f"{output}/doclen")
    wall = time.perf_counter() - t0
    metrics = {
        "num_docs": idx.num_docs,
        "avgdl": idx.stats.avgdl,
        "variant": variant,
        # the fit parameters the weighted postings were built with — the
        # served scorers (serving.phrase_topk_served) read these back so
        # they can never diverge from the distributed scores (ADVICE r4)
        "k1": idx.stats.k1,
        "b": idx.stats.b,
        "epsilon": idx.stats.epsilon,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(idx.num_docs / wall, 1),
        "positional": bool(positional),
        "positional_n_buckets": positional_n_buckets if positional else None,
        "groups": groups,
        "bytes_per_posting": (sum(g["bytes"] for g in groups.values())
                              / postings if postings else None),
        "column_bytes": column_bytes,
    }
    with open(f"{output}/build_metrics.json", "w") as f:
        json.dump(metrics, f, indent=1)
    return metrics


def _footer_max_doc_id(path: str) -> int | None:
    """max(doc_id) of a plain parquet table (the doclen table) from its
    row-group statistics — no Spark job and no data page read, so the
    append guard does not scan a 10^9-row column for one scalar. A row
    group without statistics (a foreign writer) reads its file's column."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    mx = None
    for frag in pads.dataset(path, format="parquet").get_fragments():
        frag.ensure_complete_metadata()
        for rg in frag.row_groups:
            v = ((rg.statistics or {}).get("doc_id") or {}).get("max")
            if v is None:
                v = pc.max(frag.to_table(columns=["doc_id"])
                           .column("doc_id")).as_py()
            if v is not None and (mx is None or v > mx):
                mx = v
    return mx


def add_documents(spark, input_path: str, index_dir: str,
                  from_html: bool = False) -> dict:
    """Grow a ``--positional`` index in place: append the new pages'
    positional postings, doclen rows, AND packed term-store shards
    instead of rebuilding (VERDICT r4 #3 — ``add_documents`` on a
    phrase-enabled index forced a full rebuild). Phrase/NEAR/span AND
    term/WAND/served queries all see the appended docs. Mirrors the
    ``layout.append_packed_shards`` contract:

    - **Frozen model** (the reference's ``Similarity.add_documents``
      semantics — the Dictionary and the fitted weights don't refit on
      append, docsim.py:367-416): appended docs are indexed against the
      build-time vocab; their tokens outside it are ignored, and scoring
      keeps the build-time num_docs/df/avgdl, so existing docs' phrase
      and NEAR scores are bit-identical before and after the append.
      Refreshing the statistics is a rebuild, by design.
    - **Boundary guard**: new doc_ids must lie strictly above the
      positional store's current max (the doc_id upper bounds in its
      manifests) and the doclen table's (parquet footer statistics) — no
      data scan — and start at the packed store's next shard boundary
      (snapshot metadata, no job); the input must carry an explicit
      ``doc_id`` column — auto-assigned ids would collide with the
      existing range. A positional store written as plain parquet by an
      earlier version raises ``layout.BucketedFormatError`` here, before
      any write.
    - The served paths need no change: ``serving.phrase_topk_served`` and
      ``PackedIndexServer`` plan the appends' snapshots.

    Returns {"docs": n_appended, "wall_sec": ...} and records the append
    in build_metrics.json (num_docs stays the frozen scoring N;
    num_docs_total tracks the grown corpus)."""
    from pyspark.sql import functions as F

    from gensim_spark.index.layout import append_postings_bucketed
    from gensim_spark.operators.positional import positional_postings

    t0 = time.perf_counter()
    with open(f"{index_dir}/build_metrics.json") as f:
        meta = json.load(f)
    if not meta.get("positional"):
        raise SystemExit("add_documents grows the positional store — this "
                         "index was built without --positional")
    pages = spark.read.parquet(input_path)
    if "doc_id" not in pages.columns:
        raise SystemExit("append input needs an explicit doc_id column "
                         "(above the index's current max) — auto-assigned "
                         "ids would collide with the existing range")
    if from_html:
        from gensim_spark.functions.textprep import (
            extract_html_text_udf, tokenize_pages)

        extracted = pages.withColumn(
            "text", extract_html_text_udf(F.col("html")))
        docs_tok = tokenize_pages(extracted).select("doc_id", "tokens")
    else:
        from gensim_spark.plans import pipeline as P

        docs_tok = P.tokenize(pages.select("doc_id", "text"))
    docs_tok = docs_tok.persist()
    # boundary guards on the INPUT docs (not the vocab-joined postings —
    # an all-OOV doc with a colliding id would otherwise slip past the
    # postings-level check and append a duplicate doclen row), ALL
    # evaluated before any write: the positional (manifest bounds) and
    # doclen (footer statistics) maxima, plus the packed store's
    # next-shard boundary (strictest — the WAND reader needs appended docs
    # in fresh shards)
    from gensim_spark.index.layout import (append_packed_shards,
                                           max_doc_id_bucketed,
                                           next_shard_boundary)

    # a pending marker from a crashed earlier append means the three
    # stores may disagree (positional written, doclen/packed not) —
    # refuse loudly instead of guessing; the marker names the batch
    if meta.get("pending_append"):
        pa = meta["pending_append"]
        raise ValueError(
            f"index has a half-applied append (input={pa['input']!r}, "
            f"min_doc_id={pa['min_doc_id']}): a previous add_documents "
            "crashed mid-write and the positional/doclen/packed stores "
            "may disagree for that id range. Rebuild the index (or "
            "restore it from before that append) before appending again.")
    mn = docs_tok.agg(F.min("doc_id").alias("mn")).collect()[0]["mn"]
    if mn is not None:
        maxes = [m for m in (max_doc_id_bucketed(f"{index_dir}/positional"),
                             _footer_max_doc_id(f"{index_dir}/doclen"))
                 if m is not None]
        if maxes and int(mn) <= max(maxes):
            raise ValueError(
                f"add_documents needs doc_ids > {max(maxes)} (index max); "
                f"got {mn}. Interleaved ids need a rebuild or the "
                "streaming incremental store.")
        boundary = next_shard_boundary(index_dir)
        if int(mn) < boundary:
            raise ValueError(
                f"add_documents needs doc_ids >= {boundary}: the packed "
                f"term store's next shard boundary (the WAND reader keeps "
                f"one run per (shard, term), so appended docs cannot "
                f"extend a committed tail shard). Re-id the batch to start "
                f"at {boundary}, or rebuild; got {mn}.")
    # mark the append in-flight BEFORE any write: the three stores cannot
    # be appended atomically, so a crash mid-way must be detectable (the
    # marker clears when the append record commits below)
    if mn is not None:
        meta["pending_append"] = {"input": input_path,
                                  "min_doc_id": int(mn)}
        with open(f"{index_dir}/build_metrics.json", "w") as f:
            json.dump(meta, f, indent=1)
    vocab = spark.read.parquet(f"{index_dir}/vocab")
    append_postings_bucketed(positional_postings(docs_tok, vocab),
                             f"{index_dir}/positional")
    # doclen parity with the one-shot build: dl = FULL token count (incl.
    # out-of-vocab tokens), one row per doc with >= 1 token
    doclen_new = (docs_tok.filter(F.size("tokens") > 0)
                  .select("doc_id",
                          F.size("tokens").cast("long").alias("dl")))
    doclen_new.write.mode("append").parquet(f"{index_dir}/doclen")
    # grow the TERM-QUERY store too (WAND / served): weight the new docs
    # against the frozen vocab/stats and pack them as fresh shards —
    # without this, phrase queries would see appended docs but term
    # queries would not
    from gensim_spark.functions.textprep import bow_counts_udf
    from gensim_spark.operators import bm25 as M

    stats = M.fit_from_vocab(vocab, meta["num_docs"],
                             variant=meta.get("variant", "okapi"),
                             k1=meta.get("k1", 1.5),
                             b=meta.get("b", 0.75),
                             epsilon=meta.get("epsilon", 0.25))
    counts = docs_tok.select(
        "doc_id",
        F.size("tokens").cast("long").alias("dl"),
        F.explode(bow_counts_udf("tokens")).alias("e"),
    ).select("doc_id", F.col("e.token").alias("token"),
             F.col("e.tf").alias("tf"), "dl")
    with_dl = counts.join(
        F.broadcast(vocab.select("token", "term_id")), "token"
    ).select("doc_id", "term_id", "tf", "dl")
    weighted_new = M.weight_postings(with_dl, stats, dl="inline")
    # mn is already validated against the shard boundary above — skip
    # append_packed_shards' own pass over the weighted lineage
    append_packed_shards(weighted_new, index_dir, min_doc_id=mn)
    n_new = docs_tok.count()
    docs_tok.unpersist()
    rec = {"input": input_path, "docs": int(n_new),
           "wall_sec": round(time.perf_counter() - t0, 2)}
    meta.pop("pending_append", None)  # all stores written: commit
    meta.setdefault("appends", []).append(rec)
    meta["num_docs_total"] = meta.get(
        "num_docs_total", meta["num_docs"]) + int(n_new)
    with open(f"{index_dir}/build_metrics.json", "w") as f:
        json.dump(meta, f, indent=1)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet dir")
    ap.add_argument("--output", required=True, help="index output dir")
    ap.add_argument("--variant", default="okapi",
                    choices=["okapi", "lucene", "atire"])
    ap.add_argument("--docs-per-shard", type=int, default=32768)
    ap.add_argument("--num-groups", type=int, default=8)
    ap.add_argument("--from-html", action="store_true",
                    help="extract text from the html column (Arrow UDF path)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--positional", action="store_true",
                    help="also write the positional bucketed store + "
                         "doclen (enables query_index --phrase/--near)")
    ap.add_argument("--positional-n-buckets", type=int, default=64)
    ap.add_argument("--append", action="store_true",
                    help="grow an existing --positional index with the "
                         "input pages (frozen vocab/stats; doc_id column "
                         "required, ids above the index's current max)")
    args = ap.parse_args()

    from gensim_spark.session import get_spark

    spark = get_spark("gensim_spark_build")
    if args.append:
        metrics = add_documents(spark, args.input, args.output,
                                from_html=args.from_html)
    else:
        metrics = run(spark, args.input, args.output, variant=args.variant,
                      docs_per_shard=args.docs_per_shard,
                      num_groups=args.num_groups, from_html=args.from_html,
                      resume=not args.no_resume,
                      positional=args.positional,
                      positional_n_buckets=args.positional_n_buckets)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
