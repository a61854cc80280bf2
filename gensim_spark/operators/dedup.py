"""Deduplication operators for large-scale training-data pipelines.

Not part of the gensim reference surface — these are the web-scale corpus
hygiene operators a 10^12-document indexing pipeline needs before vocabulary
build (exact dup removal, MinHash/LSH and SimHash near-dup detection, n-gram
Jaccard verification, embedding-cosine near-dup).

All hash-derived values use :func:`gensim_spark.functions.hashing.hash60`
(md5-based) so every stage is bit-for-bit oracle-checkable in ANSI SQL.

Scale notes:
- exact dedup = one hash-agg shuffle on a 16-byte digest (group key is the
  digest, never the text).
- MinHash: signatures are a narrow per-doc aggregation (shuffle on doc_id —
  or none if shingles are computed per-row from the tokens array, which is
  what ``minhash_signatures`` does: zero shuffles until the band join).
  Candidate generation shuffles on (band_id, band_hash) — bucket sizes are
  the skew hazard; cap with ``max_bucket`` (drops degenerate buckets, e.g.
  boilerplate pages, exactly like production near-dup pipelines do).
- SimHash: per-doc bit-vote aggregation, no pairwise work at all.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gensim_spark.functions.hashing import hash60


def exact_dup_groups(docs: DataFrame, text_col: str = "text",
                     doc_col: str = "doc_id") -> DataFrame:
    """(doc_id, text_hash, keep): keep=True for the smallest doc_id per
    identical-text group — the canonical survivor."""
    h = docs.select(F.col(doc_col).alias("doc_id"),
                    F.md5(F.col(text_col).cast("string")).alias("text_hash"))
    w = Window.partitionBy("text_hash")
    return h.withColumn("keep", F.col("doc_id") == F.min("doc_id").over(w))


def shingles(docs: DataFrame, tokens_col: str = "tokens", n: int = 3,
             doc_col: str = "doc_id",
             distinct: bool | str = True) -> DataFrame:
    """(doc_id, shingle): distinct n-gram token shingles, built per-row from
    the tokens array with zero shuffles (no posexplode + window needed).

    ``distinct=False`` skips the dedup exchange — for consumers that filter
    the gram stream first (e.g. a broadcast-probe) and dedup the survivors,
    so the shuffle carries hits instead of the whole gram stream.
    ``distinct="row"`` dedups per document with ``array_distinct`` BEFORE
    the explode — set semantics per doc (identical rows to ``True``, since
    a shingle can only repeat within its own document) with zero exchanges:
    the scale shape for per-doc distinct-gram consumers."""
    toks = F.col(tokens_col)
    # guard: sequence(0, -1) is DESCENDING in Spark ([0, -1]), so a doc with
    # fewer than n tokens must short-circuit to an empty gram list — not
    # feed slice() a zero start (runtime error) or emit partial grams
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    if distinct == "row":
        grams = F.array_distinct(grams)
    sh = F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>"))
    out = docs.select(F.col(doc_col).alias("doc_id"),
                      F.explode(sh).alias("shingle"))
    return out.distinct() if distinct is True else out


def gram_hashes(docs: DataFrame, tokens_col: str = "tokens", n: int = 3,
                doc_col: str = "doc_id",
                distinct: bool | str = True) -> DataFrame:
    """(doc_id, gram_hash): 64-bit hash per token n-gram — the bandwidth-lean
    twin of :func:`shingles` for membership-style consumers (e.g.
    decontamination), where only gram *identity* matters, never the text.

    Each token is xxhash64-hashed ONCE, then every gram folds its n token
    hashes with a rotate(5)-xor combine — pure long shift/xor expressions, so
    the pass never materializes per-gram strings (a 13-gram shingle string
    copies every token ~13x; at 10^8+ grams that allocation IS the stage
    cost). The combine is position-sensitive (token j contributes its hash
    rotated by 5*(n-1-j) bits), ANSI-safe (no arithmetic overflow paths),
    and engine-portable in structure — though the hash values themselves are
    Spark-specific, so oracles must compare *counts via the exact string
    path*, not hash values. Collisions are the usual 64-bit ~2^-64 per pair:
    negligible, documented, and the exact :func:`shingles` path remains the
    default wherever byte-exact semantics are required.
    """
    toks = F.col(tokens_col)
    th = F.transform(toks, lambda t: F.xxhash64(t))

    def _comb(acc: Column, x: Column) -> Column:
        rot = F.shiftleft(acc, 5).bitwiseOR(F.shiftrightunsigned(acc, 59))
        return rot.bitwiseXOR(x)

    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx,
        lambda i: F.aggregate(F.slice(th, i + 1, n),
                              F.lit(0).cast("long"), _comb),
    )
    if distinct == "row":
        # per-doc set semantics with zero exchanges (see shingles)
        grams = F.array_distinct(grams)
    gh = F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<long>"))
    out = docs.select(F.col(doc_col).alias("doc_id"),
                      F.explode(gh).alias("gram_hash"))
    return out.distinct() if distinct is True else out


def minhash_signatures(docs: DataFrame, tokens_col: str = "tokens",
                       num_hashes: int = 8, shingle_n: int = 3,
                       doc_col: str = "doc_id") -> DataFrame:
    """(doc_id, sig_0 … sig_{H-1}): per-doc MinHash signature — min over
    shingles of the seeded hash60 (md5-based, oracle-checkable). ``doc_id``
    keeps ``doc_col``'s type (long, string, …).

    The input is one row per document. Several rows for one doc give one
    signature row per input row, each the min over that row's shingles —
    not one row with the min over their union; group such input into one
    token list per doc first.

    ZERO-shuffle Arrow-batched stage — per doc, shingles are built and
    hashed with CPython's native md5 and the minima emitted directly
    (``int.from_bytes(digest[:8]) >> 4`` IS ``int(hexdigest[:15], 16)``,
    bit-identical to the SQL ``conv(substring(md5(..),1,15),16,10)``). The
    signature never leaves its partition, nothing is exploded, and the md5
    runs in C. Measured at sf1.0 (2.85M grams × 4 seeds): the relational
    aggregate (``min(seeded(..))`` per gram group, kept as the test
    oracle) took 12.0 s, this stage well under half that; the old explode
    → distinct → groupBy shape cost 17.6 s, its dedup exchange feeding an
    idempotent min (min over a multiset == min over the set). Same
    per-task-iterator shape as the pipeline's ``bow_counts_udf`` stage.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    prefixes = [f"{h}:".encode("utf-8") for h in range(num_hashes)]
    names = [f"sig_{h}" for h in range(num_hashes)]
    n, H = int(shingle_n), int(num_hashes)

    def gen(batches):
        from hashlib import md5
        for pdf in batches:
            ids: list = []
            sig_cols: list[list[int]] = [[] for _ in range(H)]
            for did, toks in zip(pdf["doc_id"], pdf["_toks"]):
                if toks is None or len(toks) < n:
                    continue  # no shingles → no row (same as the agg form)
                grams = [" ".join(toks[i:i + n]).encode("utf-8")
                         for i in range(len(toks) - n + 1)]
                ids.append(did)
                for h in range(H):
                    p = prefixes[h]
                    sig_cols[h].append(min(
                        int.from_bytes(md5(p + g).digest()[:8], "big") >> 4
                        for g in grams))
            out = {"doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype)}
            for h in range(H):
                out[names[h]] = pd.Series(sig_cols[h], dtype="int64")
            yield pd.DataFrame(out)

    from gensim_spark.functions.scanwidth import widen_if_narrow

    schema = StructType(
        [StructField("doc_id", docs.schema[doc_col].dataType)]
        + [StructField(c, LongType()) for c in names])
    # md5-per-gram is the heaviest per-byte stage in the repo (~2 s per
    # compressed input MB per core) — fan the Arrow stage out on fine
    # byte-proportional chunks; no-op when the frame is already wide
    return widen_if_narrow(
        docs.select(F.col(doc_col).alias("doc_id"),
                    F.col(tokens_col).alias("_toks")),
        bytes_per_partition=64 * 1024,
    ).mapInPandas(gen, schema)


def minhash_band_pairs(signatures: DataFrame, bands: int = 4,
                       rows_per_band: int = 2,
                       max_bucket: int = 1000) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band. (doc_a, doc_b), doc_a<doc_b.

    band_hash = hash of the band's signature slice. Buckets larger than
    ``max_bucket`` are dropped (boilerplate guard — at web scale a single
    "404 page" bucket would otherwise quadratically explode the self-join).
    """
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows_per_band + r}").cast("string")
                 for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"),
                     hash60(F.concat_ws("_", *parts)).alias("band_hash"))
        )
    banded = signatures.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_hash")
    # ONE bucket aggregation, then pairs generated ROW-LOCALLY from each
    # bucket's sorted member list — replacing the old self-join shape,
    # which (a) paid a window-over-partition exchange+sort purely to tag
    # bucket sizes for the max_bucket gate, and (b) embedded the whole
    # signature pipeline once per join side (plan-level exchange reuse did
    # NOT kick in — verified on the executed AQE plan — so lazy signatures
    # were evaluated up to 4x). Here the signature stage feeds exactly one
    # map-side-combined collect_list shuffle; singleton buckets (the
    # overwhelming majority on a mostly-unique corpus) emit nothing, the
    # max_bucket boilerplate guard is a size filter on the same row, and
    # each surviving bucket expands its own sorted member array to
    # (doc_a < doc_b) combinations in a per-row JVM fold. Gated bucket
    # width bounds the per-row expansion at max_bucket²/2. Pair output is
    # identical to the join form: a bucket's members are collected as a
    # set, so a doc id that repeats in the input yields no (d, d) pair and
    # the max_bucket gate counts distinct docs; the final distinct dedups
    # across bands, as before.
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("_ds"))
        .filter(F.size("_ds") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("_ds") <= max_bucket)
    ds = F.col("_ds")
    pair_arr = F.flatten(F.transform(
        ds,
        lambda x, i: F.transform(
            F.slice(ds, i + 2, F.size(ds)),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        ),
    ))
    return (
        buckets.select(F.explode(pair_arr).alias("_p"))
        .select("_p.doc_a", "_p.doc_b")
        .distinct()
    )


def ngram_jaccard(docs: DataFrame, pairs: DataFrame, tokens_col: str = "tokens",
                  shingle_n: int = 3, doc_col: str = "doc_id") -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (the verify stage after
    LSH): (doc_a, doc_b, jaccard)."""
    sh = shingles(docs, tokens_col, shingle_n, doc_col)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("n_inter").cast("double")
             / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
            .alias("jaccard"),
        )
    )


def simhash(docs: DataFrame, tokens_col: str = "tokens", bits: int = 16,
            doc_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash): weighted bit-vote fingerprint. Each distinct token
    votes ±tf on each of ``bits`` bits of its hash60; bit set iff vote > 0."""
    tf = (
        docs.select(F.col(doc_col).alias("doc_id"),
                    F.explode(tokens_col).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("th", hash60(F.col("token")))
    )
    votes = (
        tf.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
            "tf", "th",
        )
        .withColumn(
            "vote",
            F.when(F.expr("shiftright(th, bit)").bitwiseAND(1) == 1,
                   F.col("tf")).otherwise(-F.col("tf")),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
            .otherwise(F.lit(0))
        ).alias("simhash")
    )


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.95,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Embedding-cosine near-dup pairs above threshold — BRUTE-FORCE half
    self-join. O(N²): test-oracle / small-corpus only. The scale path is
    :func:`embedding_near_dups_lsh` (bucket-equijoin, no cartesian)."""
    from gensim_spark.operators.simsearch import cosine_expr

    a = embeddings.select(F.col(id_col).alias("id_a"),
                          F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("id_b"),
                          F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                cosine_expr(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dups_lsh(embeddings: DataFrame, threshold: float = 0.95,
                            planes: int = 6, dims: int = 64,
                            max_bucket: int | None = 100_000,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-random-projection LSH — the
    100 TB path: candidates are restricted to equal-bucket vectors
    (bucket-equijoin, shuffle on a long key, NO cartesian product), then
    verified with the exact JVM-side cosine. Misses only cross-bucket pairs
    (recall dial = ``planes``; fewer planes → bigger buckets → higher
    recall). ``max_bucket`` drops degenerate buckets (e.g. all-zero junk
    embeddings) that would otherwise blow up quadratically — same boilerplate
    guard as :func:`minhash_band_pairs`."""
    from gensim_spark.operators.simsearch import cosine_expr, lsh_buckets

    b = lsh_buckets(embeddings, planes, dims, id_col, vec_col)
    e = embeddings.join(b, embeddings[id_col] == b.vec_id).select(
        b.vec_id, F.col(vec_col).alias("_v"), "bucket"
    )
    if max_bucket is not None:
        w = Window.partitionBy("bucket")
        e = (
            e.withColumn("_sz", F.count(F.lit(1)).over(w))
            .filter(F.col("_sz") <= max_bucket)
            .drop("_sz")
        )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("_v").alias("va"),
                 "bucket")
    bb = e.select(F.col("vec_id").alias("id_b"), F.col("_v").alias("vb"),
                  "bucket")
    return (
        a.join(bb, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                cosine_expr(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _min_labels(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Component of every node ``0..n-1`` of the undirected graph with
    edges ``(a[i], b[i])``, as the smallest node index in it.

    Union-find in whole-array steps: each round hooks every tree root that
    an edge joins to another tree under the smallest such root, then jumps
    every pointer to its root; it stops when no edge spans two trees, so
    the result is exact. Roots are ordered by a fixed random priority, not
    by index, so the number of rounds does not depend on how the ids
    happen to be ordered along a path (4M-node path: 2.8 s, 4-core VM)."""
    pri = np.random.default_rng(0).permutation(n)     # node → priority
    a, b = pri[a], pri[b]
    p = np.arange(n)                                  # priority → parent
    while True:
        ra, rb = p[a], p[b]
        live = ra != rb
        if not live.any():
            break
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(p, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            up = p[p]
            if np.array_equal(up, p):
                break
            p = up
    root = p[pri]
    first = np.full(n, n)
    np.minimum.at(first, root, np.arange(n))
    return first[root]


def connected_components(pairs: DataFrame, src_col: str = "doc_a",
                         dst_col: str = "doc_b", max_iter: int = 50,
                         stats: dict | None = None) -> DataFrame:
    """(node, component): component = min node id of each connected component
    of the undirected candidate-pair graph.

    The missing last stage of a near-dup pipeline: LSH emits *pairs*, but a
    keep/drop decision needs *clusters* (a chain a-b, b-c must collapse to
    one canonical doc even though (a, c) was never emitted as a pair).

    The distinct, self-loop-free edge set is checkpointed once and its size
    picks the path. The budget is ``spark.sql.autoBroadcastJoinThreshold``,
    the setting that already decides what the driver may hold and broadcast
    (``-1`` forces the star rounds):

    * **Local finish** (edges × 16 B within the budget): the edges are
      collected with Arrow, components are computed in numpy (ids ranked by
      ``np.unique``, then an exact union-find, :func:`_min_labels`), and the
      result comes back as an Arrow-built local frame with the ids' type.
      Its exact size statistics let the consumer's join broadcast it
      whenever it fits the same budget (up to 2 × edges rows, so a graph
      near the budget joins by sort-merge instead). This is the last
      phase of Kiveris et al.: once the graph fits on one machine, finish
      there. At the 64 MB session budget the local finish beat the star
      rounds 5–7× at every size timed, 10⁴ to the budget's 4M edges
      (4-core VM).
    * **Star rounds** (above the budget): alternating large-star /
      small-star (Kiveris et al., "Connected Components in MapReduce and
      Beyond", ACM SoCC 2014) — the standard shuffle-based CC method. Each
      round is two hash-aggregations + joins on node id; converges in
      O(log^2 n) rounds (2-3 rounds for the shallow clusters near-dup
      graphs produce). Nothing is collected to the driver except the
      one-row convergence probe, so this holds at 10^12-edge scale;
      per-round ``localCheckpoint`` truncates the iterative plan lineage
      (SCALE.md discipline).

      - large-star(u): connect every neighbor v > u to m(u) = min(Γ(u) ∪ {u}).
      - small-star(u): orient edges toward the larger endpoint, connect
        every smaller neighbor and u itself to m(u).

      At the fixpoint the edge set is a star forest (node → component min).

    Ids may be of any orderable type (long, int, string, …); the output
    keeps the ``src_col`` type. ``stats`` (optional dict) receives build
    metrics: ``rounds`` (star iterations run; 0 for the local finish) and
    ``star_edges`` (edges of the final star forest, nodes − components).
    """
    # lazy local checkpoint: the count evaluates ``pairs``, once, and both
    # paths then read the checkpointed blocks (a cache() here made the star
    # rounds 20-25% slower at 10^5-10^6 edges)
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_e = edges.count()
    spark = pairs.sparkSession
    budget = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    if n_e * 2 * 8 <= budget:
        import pandas as pd

        pdf = edges.toPandas()
        m = len(pdf)
        nodes, idx = np.unique(np.concatenate(
            [pdf["src"].to_numpy(), pdf["dst"].to_numpy()]),
            return_inverse=True)
        comp = nodes[_min_labels(idx[:m], idx[m:], len(nodes))]
        if stats is not None:
            stats["rounds"] = 0
            stats["star_edges"] = int(np.count_nonzero(comp != nodes))
        id_type = edges.schema["src"].dataType.simpleString()
        return spark.createDataFrame(
            pd.DataFrame({"node": nodes, "component": comp}),
            f"node {id_type}, component {id_type}")

    def _mins(g: DataFrame) -> DataFrame:
        return g.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m"))

    e = edges
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star works on the full neighborhood of every node, so the
        # (by now star-oriented) edge list is re-symmetrized each round.
        sym = (
            e.union(e.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst")))
            .distinct()
        )
        # large-star: emit (v, m(u)) for every neighbor v > u. No dedup
        # exchange here — the small-star orientation's distinct directly
        # below subsumes it (one fewer corpus-edge shuffle per round).
        ls = (
            sym.join(_mins(sym), "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        # small-star: orient toward the larger endpoint, emit (v, m) for the
        # smaller neighbors and for u itself.
        oriented = ls.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).distinct()
        m = _mins(oriented)
        ss = (
            oriented.join(m, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(m.select(F.col("src"), F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        # fixpoint: both sides deduped, so equal counts + empty difference
        # means set equality. e's count is carried over from the previous
        # round (it IS the previous ss), so the probe costs one count job
        # plus — only when the counts already agree — one exceptAll job.
        n_ss = ss.count()
        if n_ss == n_e and ss.exceptAll(e).limit(1).count() == 0:
            e = ss
            break
        e = ss
        n_e = n_ss

    if stats is not None:
        stats["rounds"] = rounds
        stats["star_edges"] = n_e

    roots = e.select(F.col("dst").alias("node")).distinct() \
        .join(e.select(F.col("src").alias("node")).distinct(), "node",
              "left_anti")
    return (
        e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
        .union(roots.select("node", F.col("node").alias("component")))
    )


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   doc_col: str = "doc_id", src_col: str = "doc_a",
                   dst_col: str = "doc_b") -> DataFrame:
    """(doc_id, cluster_id, keep): every document labeled with the canonical
    (minimum) doc id of its near-dup cluster; singletons label themselves.
    ``keep`` marks the one survivor per cluster — the standard train-data
    dedup contract (drop everything with keep = false).

    ``docs`` is one row per document: a doc id on several rows gives that
    many identical output rows, one per input row."""
    comp = connected_components(pairs, src_col, dst_col)
    out = (
        docs.select(F.col(doc_col).alias("doc_id"))
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )
    return out.withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
