"""Deduplication operators: exact, MinHash+LSH, SimHash.

Scale notes:
- exact dedup is a hash-groupBy: one shuffle keyed by content hash, no
  skew beyond true duplicate groups (bounded output per group).
- MinHash: shingles and signatures are computed JVM-side (xxhash64 over
  sliding shingles — no Python in the hot path); LSH banding turns the
  O(n^2) similarity join into an equi-join on (band, band_hash), the
  classic shuffle-friendly formulation.  Hot buckets (boilerplate text)
  are capped with a per-bucket limit to bound worst-case join fan-out.
- SimHash: 64-bit signature via per-token hash bit-voting, all in one
  groupBy-free pass of array expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_dupes, min_id).

    Keeps one representative (min id) per group — the standard
    keep-first policy.  Only groups with >1 member are returned.
    """
    return (
        df.select(F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("text_hash"),
                  F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dupes"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dupes") > 1)
    )


def shingle_hashes(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   shingle_k: int = 3) -> DataFrame:
    """(id, sh: bigint) — 64-bit hash of each k-token shingle.

    Tokenizes ONCE (posexplode), forms shingles with window ``lead``s, and
    hash-combines the k tokens — everything whole-stage-codegen'd.  (A
    higher-order-function formulation re-evaluates the tokenizer per
    reference and runs interpreted: ~10x slower, measured.)  The shuffle
    is the token stream keyed by doc id; shingles never materialize as
    strings.
    """
    # dedup tokenization: lowercase-then-split, no length filter — plain
    # codegen'd expressions (the canonical search analyzer chain uses
    # higher-order functions, which run interpreted; dedup does not need
    # byte-level parity with the query analyzer, only self-consistency)
    from tantivy_spark.analyzer import JAVA_TOKEN_PATTERN

    toks = F.regexp_extract_all(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                                F.lit(JAVA_TOKEN_PATTERN), 0)
    rows = df.select(F.col(id_col).alias("id"),
                     F.posexplode(toks).alias("pos", "tok"))
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, shingle_k)]
    return (rows.select("id", F.xxhash64(*leads).alias("sh"),
                        leads[-1].alias("_last"))
            .filter(F.col("_last").isNotNull())
            .drop("_last"))


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       num_hashes: int = 64, shingle_k: int = 3) -> DataFrame:
    """(id, sig: array<bigint>) — MinHash signature over k-token shingles.

    Permutation i is simulated with xxhash64(shingle_hash, seed=i); the
    signature element is the min per seed, computed as a map-side-combining
    groupBy over the shingle-hash rows."""
    sh_rows = shingle_hashes(df, text_col, id_col, shingle_k)
    hashed = sh_rows.select(
        "id", *[F.xxhash64("sh", F.lit(i)).alias(f"h{i}") for i in range(num_hashes)])
    agg = hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)])
    sig = F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    return agg.select("id", sig)


def minhash_lsh_candidates(sigs: DataFrame, bands: int = 16,
                           rows_per_band: int = 4,
                           max_bucket: int = 200) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b, n_bands_matched).

    Bands the signature, hashes each band, groups by (band, band_hash)
    into buckets and emits every in-bucket pair.  ``max_bucket`` caps
    pathological buckets (boilerplate-heavy corpora) to bound pair
    fan-out — capped buckets are dropped, trading recall for bounded
    cost (logged via count).

    Shape (r8 optimization): ONE groupBy(band, bhash) + in-bucket pair
    expansion replaces the previous capping Window + self-join — the
    window sort and the duplicated band computation on both join sides
    are gone; bucket membership lists are bounded by ``max_bucket``, so
    the per-bucket pair HOF is bounded too.  Output identical (pairs
    from sorted bucket lists reproduce the a.id < c.id join exactly).
    """
    b = bands
    r = rows_per_band
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(*[
                F.xxhash64(*[F.col("sig")[i * r + j] for j in range(r)])
                for i in range(b)
            ])
        ).alias("band", "bhash"),
    )
    buckets = (banded.groupBy("band", "bhash")
               .agg(F.array_sort(F.collect_list("id")).alias("ids"))
               .filter((F.size("ids") >= 2)
                       & (F.size("ids") <= max_bucket)))
    pair_arr = F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    return (buckets.select(F.explode(pair_arr).alias("p"))
            .groupBy(F.col("p.id_a").alias("id_a"),
                     F.col("p.id_b").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_bands_matched")))


def lsh_dropped_buckets(sigs: DataFrame, bands: int = 16,
                        rows_per_band: int = 4,
                        max_bucket: int = 200) -> DataFrame:
    """Diagnostics for the max_bucket cap: one row per DROPPED (band,
    bhash) bucket with its size.  The cap trades recall on degenerate
    content (boilerplate) for bounded join fan-out — this makes the
    trade visible instead of silent (count it alongside the candidate
    join; an unexpectedly large drop list means the corpus needs
    boilerplate stripping before dedup)."""
    b, r = bands, rows_per_band
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(*[
                F.xxhash64(*[F.col("sig")[i * r + j] for j in range(r)])
                for i in range(b)
            ])
        ).alias("band", "bhash"),
    )
    return (banded.groupBy("band", "bhash")
            .agg(F.count("*").alias("bucket_n"))
            .filter(F.col("bucket_n") > max_bucket))


def jaccard_verify(df: DataFrame, candidates: DataFrame,
                   text_col: str = "text", id_col: str = "doc_id",
                   shingle_k: int = 3) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: (id_a, id_b, jaccard).

    The LSH stage proposes pairs; this verifies them exactly —
    |A ∩ B| / |A ∪ B| over distinct k-token shingle sets — with one join
    keyed by shingle hash restricted to candidate docs (never all-pairs).
    """
    cand_ids = (candidates.select(F.col("id_a").alias("id"))
                .unionByName(candidates.select(F.col("id_b").alias("id")))
                .distinct())
    sh = (shingle_hashes(df, text_col, id_col, shingle_k)
          .join(F.broadcast(cand_ids), "id", "left_semi")
          .distinct())
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (candidates.alias("c")
             .join(a, F.col("c.id_a") == F.col("a.id"))
             .join(b, (F.col("c.id_b") == F.col("b.id"))
                   & (F.col("a.sh") == F.col("b.sh")))
             .groupBy("c.id_a", "c.id_b").agg(F.count("*").alias("n_inter")))
    return (candidates
            .join(inter, ["id_a", "id_b"], "left")
            .join(sizes.withColumnRenamed("id", "id_a")
                  .withColumnRenamed("n", "n_a"), "id_a")
            .join(sizes.withColumnRenamed("id", "id_b")
                  .withColumnRenamed("n", "n_b"), "id_b")
            .select("id_a", "id_b",
                    (F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                     / (F.col("n_a") + F.col("n_b")
                        - F.coalesce(F.col("n_inter"), F.lit(0))))
                    .alias("jaccard")))


def band_signatures(sigs: DataFrame, bands: int = 16,
                    rows_per_band: int = 4,
                    max_bucket: int = 200) -> DataFrame:
    """(id, band, bhash) LSH band rows of a signature table, with the
    over-``max_bucket`` buckets already dropped — the PERSISTABLE form
    of a dedup reference store.  Write this next to the signatures and
    pass it as ``ref_bands`` to :func:`dedup_against`: admission then
    skips re-banding + re-capping the whole historical store per batch
    (the same prebuilt-tables pattern as similarity.build_lsh_tables)."""
    b, r = bands, rows_per_band
    banded = sigs.select(
        "id",
        F.posexplode(F.array(*[
            F.xxhash64(*[F.col("sig")[i * r + j] for j in range(r)])
            for i in range(b)
        ])).alias("band", "bhash"))
    return (banded.withColumn("bucket_n", F.count("*").over(
        Window.partitionBy("band", "bhash")))
        .filter(F.col("bucket_n") <= max_bucket).drop("bucket_n"))


def dedup_against(new_docs: DataFrame, ref_sigs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  num_hashes: int = 64, shingle_k: int = 3,
                  bands: int = 16, rows_per_band: int = 4,
                  threshold: float = 0.8,
                  max_bucket: int = 200,
                  ref_bands: DataFrame | None = None,
                  broadcast_batch: bool = True) -> DataFrame:
    """INCREMENTAL near-dup admission: flag each doc of a NEW batch that
    is a near-duplicate of an EXISTING corpus, reading only the corpus's
    persisted MinHash signature store (``ref_sigs`` = the
    :func:`minhash_signatures` output, kept as a table) — at the 100-TB
    tier you never re-shingle the historical corpus to admit a daily
    crawl; the
    signature store is ~num_hashes*8 bytes/doc and this join touches
    nothing else.

    Shape: signature the new batch, band BOTH sides, equi-join new bands
    against ref bands (never new-vs-new, never all-pairs), then estimate
    Jaccard per candidate pair as the fraction of AGREEING signature
    elements (the standard MinHash estimator — exact-text verification
    is impossible and unnecessary without ref text).  Pathological REF
    buckets (> ``max_bucket``, boilerplate-heavy stores) are dropped
    like :func:`minhash_lsh_candidates` — bounded fan-out, recall trade
    visible via :func:`lsh_dropped_buckets` on the store.

    Returns ONE row per new doc: (id, is_dup BOOLEAN, best_match BIGINT
    or null, est_jaccard DOUBLE or null) — best_match is the ref doc
    with the highest agreement (ties break on the smaller ref id, so
    the result is deterministic).  New docs with fewer than
    ``shingle_k`` tokens have no signature and come back is_dup=false.

    ``broadcast_batch`` (default True, r8): the admission batch is tiny
    next to the store, so its banded signatures are BROADCAST into both
    joins — the band store and the signature store are only ever
    SCANNED, never shuffled or sorted (the previous sort-merge joins
    exchanged num_hashes*8 B/doc of store rows per admission).  Disable
    for batches too large to broadcast (~>5M docs); the joins then fall
    back to the planner's choice.
    """
    b, r = bands, rows_per_band
    new_sigs = minhash_signatures(new_docs, text_col, id_col,
                                  num_hashes, shingle_k)
    # ref_bands: a persisted band_signatures() table — skip re-banding
    # and re-capping the historical store on every admission
    rb = ref_bands if ref_bands is not None else band_signatures(
        ref_sigs, bands, rows_per_band, max_bucket)
    # the batch's signature rides along through the band join, so the
    # batch is signed ONCE and the agreement estimate needs no join
    # back to the new side
    nb = new_sigs.select(
        "id", F.col("sig").alias("sig_new"),
        F.posexplode(F.array(*[
            F.xxhash64(*[F.col("sig")[i * r + j] for j in range(r)])
            for i in range(b)
        ])).alias("band", "bhash"))
    if broadcast_batch:
        nb = F.broadcast(nb)
    cands = (nb.alias("n")
             .join(rb.alias("rf"), ["band", "bhash"])
             .select(F.col("n.id").alias("id"), F.col("n.sig_new"),
                     F.col("rf.id").alias("ref_id"))
             .distinct())
    if broadcast_batch:
        cands = F.broadcast(cands)
    # agreement estimate only on the (small) candidate set; the HOF
    # runs interpreted but over candidates, not the corpus
    agree = (F.size(F.filter(
        F.zip_with("sig_new", "sig_ref", lambda a, bv: a == bv),
        lambda x: x)).cast("double") / F.lit(float(num_hashes)))
    # fail FAST on a store built with different num_hashes (zip_with
    # would otherwise null-pad and silently skew the estimate)
    est_expr = F.when(F.size("sig_ref") == F.lit(int(num_hashes)), agree) \
        .otherwise(F.raise_error(F.concat(
            F.lit(f"ref_sigs signature length != num_hashes={num_hashes}: "
                  f"got "), F.size("sig_ref").cast("string"),
            F.lit(" — the persisted store was built with different "
                  "MinHash parameters"))))
    est = (cands
           .join(ref_sigs.select(F.col("id").alias("ref_id"),
                                 F.col("sig").alias("sig_ref")), "ref_id")
           .select("id", "ref_id", est_expr.alias("est_jaccard")))
    # best match = max est_jaccard, ties -> smaller ref id: ONE
    # map-side-combining aggregation (min over an order-encoding
    # struct) instead of a window sort over the candidate set
    best = (est.groupBy("id")
            .agg(F.min(F.struct(
                (-F.col("est_jaccard")).alias("neg_ej"),
                F.col("ref_id"), F.col("est_jaccard"))).alias("__b"))
            .select("id", F.col("__b.ref_id").alias("ref_id"),
                    F.col("__b.est_jaccard").alias("est_jaccard")))
    all_new = new_docs.select(F.col(id_col).alias("id")).distinct()
    return (all_new.join(best, "id", "left")
            .select("id",
                    F.coalesce(F.col("est_jaccard") >= F.lit(threshold),
                               F.lit(False)).alias("is_dup"),
                    F.col("ref_id").alias("best_match"),
                    "est_jaccard"))


def embedding_near_dups(df: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        n_bits: int = 12, seed: int = 29,
                        max_bucket: int = 1000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_r).

    LSH-bucket candidates (same random-hyperplane bucket) then exact
    cosine within buckets — the scale path avoids the all-pairs join; at
    threshold ~0.95 the angular distance is small enough that same-bucket
    probability per true pair is high (multiply tables to raise recall).

    ``max_bucket`` caps pathological buckets, mirroring
    :func:`minhash_lsh_candidates`: a degenerate bucket (zero vectors,
    boilerplate embeddings) would otherwise make the within-bucket
    self-join O(b^2).  Capped buckets are dropped entirely — bounded cost
    over recall on degenerate content.
    """
    from tantivy_spark.pipeline.similarity import (
        cosine_pairs_udf, hyperplane_lsh_buckets)

    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    dim = int(dim_row[0]["d"]) if dim_row else 0
    buckets = hyperplane_lsh_buckets(df, dim, n_bits, seed, id_col, vec_col)
    buckets = buckets.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("bucket"))
    ).filter(F.col("bucket_n") <= max_bucket).drop("bucket_n")
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    tagged = buckets.join(vecs, "id")
    a = tagged.alias("a")
    b = tagged.alias("b")
    cos_udf = cosine_pairs_udf()
    pairs = (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     cos_udf(F.col("a.v"), F.col("b.v")).alias("cos")))
    return (pairs.filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 4).alias("cos_r")))


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash: bigint) — 64-bit SimHash over analyzer tokens.

    Bit j of the signature is the sign of sum over tokens of
    (bit j of xxhash64(token) ? +1 : -1).

    Shape: explode the token stream once, then ONE map-side-combining
    groupBy with 32 PACKED lane sums (r8): lane sum ``p_j`` accumulates
    bit ``j`` of each token hash in its low 32 bits and bit ``j+32`` in
    its high 32 bits (mask ``(1<<32)|1``), so 64 per-bit set-counts cost
    33 aggregates instead of 64 conditional sums (1.4x measured, output
    identical).  Bit ``j`` of the signature is set iff its set-count
    exceeds half the valid-token count — exactly the sign of the
    classic +1/-1 vote sum.  Lanes cannot interfere while the doc's
    token count is < 2^31: the high lane adds ``count * 2^32``, which
    overflows the signed 64-bit sum at 2^31.  (The obvious alternative
    — 64 ``F.aggregate`` higher-order passes per doc — runs interpreted
    and re-evaluates the token array per pass, measured ~10x slower.)
    Near-duplicate candidates are docs at small Hamming distance.
    """
    from functools import reduce

    from tantivy_spark import MAX_TOKEN_BYTES
    from tantivy_spark.analyzer import JAVA_TOKEN_PATTERN

    raw = F.regexp_extract_all(F.coalesce(F.col(text_col), F.lit("")),
                               F.lit(JAVA_TOKEN_PATTERN), 0)
    # explode_outer keeps zero-token docs (their signature is 0, like the
    # empty-array fold); the analyzer tail (40-byte filter + lowercase)
    # runs as plain row expressions — fully codegen'd
    rows = (df.select(F.col(id_col).alias("id"), F.explode_outer(raw).alias("rt"))
            .select("id",
                    (F.col("rt").isNotNull()
                     & (F.octet_length("rt") < MAX_TOKEN_BYTES)).alias("ok"),
                    F.xxhash64(F.lower("rt")).alias("h")))
    hm = F.when(F.col("ok"), F.col("h"))          # null = skipped token
    lane_mask = F.lit((1 << 32) | 1).cast("long")
    packed = [F.sum(F.shiftrightunsigned(hm, j).bitwiseAND(lane_mask))
              .alias(f"p{j}") for j in range(32)]
    agg = rows.groupBy("id").agg(
        F.count(F.when(F.col("ok"), 1)).alias("nv"), *packed)
    bits = []
    for j in range(32):
        lo = F.col(f"p{j}").bitwiseAND(F.lit(0xFFFFFFFF).cast("long"))
        hi = F.shiftrightunsigned(F.col(f"p{j}"), 32)
        # votes_j = 2*set_count - n_valid > 0  <=>  2*set_count > n_valid
        bits.append(F.when(lo * 2 > F.col("nv"),
                           F.shiftleft(F.lit(1).cast("long"), j))
                    .otherwise(F.lit(0).cast("long")))
        bits.append(F.when(hi * 2 > F.col("nv"),
                           F.shiftleft(F.lit(1).cast("long"), j + 32))
                    .otherwise(F.lit(0).cast("long")))
    sig = reduce(lambda a, b: a.bitwiseOR(b), bits)
    return agg.select("id", sig.alias("simhash"))


def dup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 max_iterations: int = 50) -> DataFrame:
    """Connected components over a near-duplicate PAIR list ->
    (doc_id, cluster_id) with cluster_id = the component's minimum id —
    the step that turns pairwise LSH/Jaccard hits into keep-one-per-
    cluster training-data dedup decisions.

    Algorithm: alternating min-label propagation (the classic
    large-star/small-star simplification): every node repeatedly adopts
    the minimum label among itself and its neighbours until a fixpoint.
    Each iteration is one shuffle keyed by doc id; the iteration count
    is bounded by the longest min-label chain (O(log n) rounds on the
    short, clumpy chains duplicate graphs have — boilerplate clusters
    are stars, which converge in 2).  Deterministic, loop checked by an
    aggregate count, loud failure past ``max_iterations``.
    """
    edges = (pairs.select(F.col(id_a).cast("long").alias("a"),
                          F.col(id_b).cast("long").alias("b"))
             .filter(F.col("a") != F.col("b")))
    # undirected: both directions once
    sym = edges.union(edges.select(F.col("b").alias("a"),
                                   F.col("a").alias("b"))).distinct()
    sym = sym.cache()
    labels = (sym.select(F.col("a").alias("node"))
              .distinct()
              .withColumn("label", F.col("node")))
    for _ in range(max_iterations):
        # candidate labels: own + the min over neighbours' labels
        nbr = (sym.join(labels.withColumnRenamed("node", "b")
                        .withColumnRenamed("label", "nbr_label"), "b")
               .groupBy("a").agg(F.min("nbr_label").alias("nbr_min")))
        new_labels = (labels.join(nbr.withColumnRenamed("a", "node"),
                                  "node", "left")
                      .select("node",
                              F.least("label", F.coalesce("nbr_min",
                                                          "label"))
                              .alias("label")))
        new_labels = new_labels.cache()
        changed = (labels.withColumnRenamed("label", "old")
                   .join(new_labels, "node")
                   .filter(F.col("old") != F.col("label")).count())
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iterations} "
            f"iterations — pathological chain structure; raise "
            f"max_iterations or pre-bucket the pairs")
    sym.unpersist()
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def doc_chunks(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", window: int = 64,
               stride: int = 64) -> DataFrame:
    """Fixed-token-window chunking: (id, chunk_idx, chunk_text) — the
    granularity training-data pipelines dedup at when whole-document
    hashing is too coarse (boilerplate headers, quoted reposts).  Pure
    JVM expressions: whitespace split, a per-doc ``sequence`` of window
    starts, posexplode + slice — no Python, no UDF."""
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - F.lit(window), F.lit(0)),
        F.lit(stride))
    return (df.select(F.col(id_col), toks.alias("__toks"),
                      F.posexplode(starts).alias("chunk_idx", "__start"))
            .select(F.col(id_col), "chunk_idx",
                    F.concat_ws(
                        " ", F.slice(F.col("__toks"),
                                     F.col("__start") + 1, window))
                    .alias("chunk_text")))


def chunk_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", window: int = 64,
                       stride: int = 64) -> DataFrame:
    """Chunk-level exact dedup: groups of identical token windows across
    the corpus -> (chunk_hash, n_dupes, keep_id, keep_chunk_idx), one
    hash-groupBy shuffle keyed by the chunk hash (same scale shape as
    exact_dedup_groups; only >1-member groups return)."""
    chunks = doc_chunks(df, text_col, id_col, window, stride)
    return (chunks
            .select(F.xxhash64("chunk_text").alias("chunk_hash"),
                    F.col(id_col), "chunk_idx")
            .groupBy("chunk_hash")
            .agg(F.count(F.lit(1)).alias("n_dupes"),
                 F.min(F.struct(id_col, "chunk_idx")).alias("keep"))
            .filter(F.col("n_dupes") > 1)
            .select("chunk_hash", "n_dupes",
                    F.col(f"keep.{id_col}").alias("keep_id"),
                    F.col("keep.chunk_idx").alias("keep_chunk_idx")))


def dedup_lines(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", min_count: int = 2,
                sep: str = "\n") -> DataFrame:
    """Line-level boilerplate removal (the CCNet / RefinedWeb paragraph
    dedup step): every line occurring ``min_count``-or-more times
    ACROSS THE CORPUS is removed from every document — cookie banners,
    nav menus, and license footers vanish while unique content stays,
    order preserved.

    Returns (id, text, n_lines_kept BIGINT, n_lines_removed BIGINT)
    with the text REBUILT from the surviving lines; documents whose
    every line was boilerplate come back with empty text (0 kept).

    Scale shape: one explode, one groupBy(line) for corpus counts, one
    hash join back, one groupBy(doc) rebuild — all JVM-side (split /
    posexplode / array_sort / array_join), no Python in the row path.
    Line identity is the exact string; at the 100-TB tier the
    groupBy(line) shuffle hashes the line text itself, which Spark
    handles the same way as any high-cardinality key (AQE splits skewed
    boilerplate keys)."""
    # F.split's separator is a Java regex while the array_join rebuild
    # below uses ``sep`` as a literal — \Q..\E-quote the split side
    # (java.util.regex.Pattern.quote) so metacharacter separators
    # (e.g. "|", ".") split literally and rebuild byte-identically
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), sep_rx))
        .alias("__pos", "__line"))
    counts = lines.groupBy("__line").agg(F.count("*").alias("__n"))
    flagged = lines.join(counts, "__line")
    kept = flagged.filter(F.col("__n") < min_count)
    stats = (flagged.groupBy("__id")
             .agg(F.sum(F.when(F.col("__n") < min_count, 1).otherwise(0))
                  .cast("bigint").alias("n_lines_kept"),
                  F.sum(F.when(F.col("__n") >= min_count, 1).otherwise(0))
                  .cast("bigint").alias("n_lines_removed")))
    rebuilt = (kept.groupBy("__id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("__pos", "__line"))),
                       lambda s: s["__line"]),
                   sep).alias(text_col)))
    return (stats.join(rebuilt, "__id", "left")
            .select(F.col("__id").alias(id_col),
                    F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
                    "n_lines_kept", "n_lines_removed"))


def dedup_substrings(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", min_len: int = 20) -> DataFrame:
    """Exact duplicated-SUBSTRING removal — the suffix-array dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), re-expressed as distributed token-window fingerprinting:
    every ``min_len``-token window that occurs at more than one
    (document, position) across the corpus is a duplicated span; all
    occurrences except the globally-first one (min ``(id, pos)``) are
    removed from their documents, token-by-token, and the text is
    rebuilt from the surviving tokens.

    Semantics (deterministic, SQL-replayable):
    - tokens = whitespace split of the trimmed text; the rebuilt text is
      the surviving tokens joined with single spaces (whitespace is
      normalized — the same convention as the reference pipeline's
      tokenized views).
    - a window occurrence ``(doc, pos)`` is REMOVED iff its window
      content occurs at >=2 (doc, pos) positions corpus-wide and
      ``(doc, pos)`` is not the lexicographic minimum of them.
    - token ``i`` of a doc is dropped iff covered by >=1 removed window
      (``pos <= i < pos + min_len``).  Docs shorter than ``min_len``
      tokens are never windowed (returned whitespace-normalized).

    Returns ``(id, text, n_tokens BIGINT, n_tokens_removed BIGINT)``.

    Scale shape: windows are fingerprinted JVM-side — each token is
    hashed ONCE (xxhash64, codegen'd on the exploded token stream) and a
    window's fingerprint combines its ``min_len`` consecutive token
    hashes via window LEADs over (id, pos), so per-token work is O(1)
    instead of the O(min_len) string re-concatenation per start position
    the previous formulation paid (r8 optimization: 2.5x measured on the
    800k-corpus bench slice, byte-identical output).  The token-stream
    shuffle is keyed by doc id (8 B hash + id + pos rows); the ONE
    corpus-wide fingerprint shuffle carries only ``(hash, id, pos)``
    rows (16-24 B), never window text.  Then one groupBy(id) collects
    removal starts and one join back to the docs rebuilds — both keyed
    by id.  Identity is a 64-bit fingerprint: at 10^12 windows the
    collision expectation is ~0.03 pairs (documented trade; the
    reference's suffix array is exact but single-node).  Per-doc removal
    masks are array expressions (``filter`` + ``exists`` HOFs), bounded
    by doc length.
    """
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    base = docs.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    tokrows = (base.filter(F.size("__toks") >= min_len)
               .select("__id", F.posexplode("__toks").alias("__pos", "__t"))
               .select("__id", "__pos", F.xxhash64("__t").alias("__h")))
    w = Window.partitionBy("__id").orderBy("__pos")
    staged = tokrows.select(
        "__id", "__pos", F.col("__h").alias("__l0"),
        *[F.lead("__h", j).over(w).alias(f"__l{j}")
          for j in range(1, min_len)])
    wins = (staged.filter(F.col(f"__l{min_len - 1}").isNotNull())
            .select("__id", "__pos",
                    F.xxhash64(*[F.col(f"__l{j}") for j in range(min_len)])
                    .alias("__wh")))
    dup_groups = (wins.groupBy("__wh")
                  .agg(F.count(F.lit(1)).alias("__n"),
                       F.min(F.struct("__id", "__pos")).alias("__keep"))
                  .filter(F.col("__n") >= 2))
    removal_starts = (wins.join(dup_groups, "__wh")
                      .filter(~((F.col("__id") == F.col("__keep.__id"))
                                & (F.col("__pos") == F.col("__keep.__pos"))))
                      .groupBy("__id")
                      .agg(F.collect_list("__pos").alias("__starts")))
    joined = base.join(removal_starts, "__id", "left")
    starts = F.coalesce(F.col("__starts"),
                        F.expr("CAST(array() AS array<int>)"))
    kept = F.filter(
        "__toks",
        lambda t, i: ~F.exists(starts,
                               lambda s: (s <= i) & (i < s + min_len)))
    return joined.select(
        F.col("__id").alias(id_col),
        F.array_join(kept, " ").alias(text_col),
        F.size("__toks").cast("bigint").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("bigint")
        .alias("n_tokens_removed"))


def _simhash_chunk_cols(sig_col: str, max_hamming: int) -> list[Column]:
    """The ``max_hamming + 1`` contiguous bit-chunk expressions of a
    64-bit signature (pigeonhole: two sigs within Hamming distance
    ``max_hamming`` agree exactly on at least one chunk).  Unsigned
    shifts so bit-63 (sign) chunks correctly."""
    if not 0 <= max_hamming <= 15:
        raise ValueError("max_hamming must be in [0, 15]")
    n_chunks = max_hamming + 1
    base, extra = divmod(64, n_chunks)
    cols, off = [], 0
    for i in range(n_chunks):
        w = base + (1 if i < extra else 0)
        piece = F.shiftrightunsigned(F.col(sig_col), off)
        if w < 64:
            piece = piece.bitwiseAND(F.lit((1 << w) - 1))
        cols.append(piece)
        off += w
    return cols


def simhash_near_dups(sigs: DataFrame, id_col: str = "id",
                      sig_col: str = "simhash", max_hamming: int = 3,
                      max_bucket: int = 2000) -> DataFrame:
    """Near-duplicate PAIRS from 64-bit SimHash signatures via
    Hamming-ball LSH: the signature splits into ``max_hamming + 1``
    contiguous bit chunks — two signatures within Hamming distance
    ``max_hamming`` differ in at most ``max_hamming`` chunks, so by
    pigeonhole they agree EXACTLY on at least one chunk.  An equi-join
    on (chunk_idx, chunk_value) therefore finds every such pair without
    an all-pairs scan; a codegen'd ``bit_count(xor)`` verifies the true
    distance, so false bucket collisions are filtered exactly.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b`` — EXACT over
    the <= max_hamming Hamming ball, except pairs ALL of whose agreeing
    chunks fall in buckets larger than ``max_bucket`` (the same
    bounded-fan-out trade as minhash_lsh_candidates' cap; a capped
    bucket means near-identical boilerplate that belongs in line/exact
    dedup first).

    Scale shape (r8 optimization): ``max_hamming + 1`` rows per doc, ONE
    groupBy(chunk, value) into bounded buckets + in-bucket pair
    expansion, distinct — never O(n^2).  This replaces the previous
    capping Window + self-join (which computed the banded chunk rows on
    both join sides); output identical.
    """
    chunk_cols = _simhash_chunk_cols(sig_col, max_hamming)
    banded = sigs.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("sig"),
        F.posexplode(F.array(*chunk_cols)).alias("chunk", "cval"))
    buckets = (banded.groupBy("chunk", "cval")
               .agg(F.array_sort(
                   F.collect_list(F.struct("id", "sig"))).alias("xs"))
               .filter((F.size("xs") >= 2) & (F.size("xs") <= max_bucket)))
    pair_arr = F.flatten(F.transform(
        F.col("xs"),
        lambda x, i: F.transform(
            F.slice(F.col("xs"), i + 2, F.size(F.col("xs"))),
            lambda y: F.struct(
                x["id"].alias("id_a"), y["id"].alias("id_b"),
                F.bit_count(x["sig"].bitwiseXOR(y["sig"]))
                .alias("hamming")))))
    return (buckets.select(F.explode(pair_arr).alias("p"))
            .select("p.id_a", "p.id_b", "p.hamming")
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def simhash_chunks(sigs: DataFrame, max_hamming: int = 3,
                   max_bucket: int = 2000, id_col: str = "id",
                   sig_col: str = "simhash") -> DataFrame:
    """(id, sig, chunk, cval) Hamming-LSH chunk rows of a SimHash
    signature table, over-``max_bucket`` buckets already dropped — the
    PERSISTABLE reference store for :func:`simhash_dedup_against`
    (the SimHash sibling of :func:`band_signatures`): write it once
    next to the corpus (~(max_hamming+1) rows x 24 B per doc) and
    daily admission batches never re-chunk or re-cap the history."""
    rows = sigs.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("sig"),
        F.posexplode(F.array(*_simhash_chunk_cols(sig_col, max_hamming)))
        .alias("chunk", "cval"))
    return (rows.withColumn("bucket_n", F.count("*").over(
        Window.partitionBy("chunk", "cval")))
        .filter(F.col("bucket_n") <= max_bucket).drop("bucket_n"))


def simhash_dedup_against(new_sigs: DataFrame, ref_chunks: DataFrame,
                          max_hamming: int = 3, id_col: str = "id",
                          sig_col: str = "simhash",
                          broadcast_batch: bool = True) -> DataFrame:
    """INCREMENTAL SimHash near-dup admission: flag each doc of a NEW
    batch whose signature sits within ``max_hamming`` bits of an
    EXISTING corpus doc, reading only the corpus's persisted chunk
    store (``ref_chunks`` = :func:`simhash_chunks` output) — the
    SimHash sibling of :func:`dedup_against`, pigeonhole-EXACT over
    the Hamming ball instead of estimate-based.

    Shape: chunk the new batch (tiny), equi-join new-vs-ref on
    (chunk, cval) — never new-vs-new, never all-pairs — then a
    codegen'd ``bit_count(xor)`` verifies the exact distance.

    Returns ONE row per new doc: ``(id, is_dup BOOLEAN, best_match
    BIGINT or null, hamming BIGINT or null)`` — best_match is the ref
    doc at the smallest distance (ties break on the smaller ref id, so
    admission is deterministic).

    ``broadcast_batch`` (default True, r8): the admission batch is tiny
    next to the store, so its chunk rows are BROADCAST into the
    store join — the persisted chunk store is only ever SCANNED, never
    shuffled or sorted.  Disable for very large batches; the join then
    falls back to the planner's choice.  Best-match selection is a
    map-side-combining min-struct aggregation (no window sort, and no
    pre-distinct — duplicate chunk agreements cannot change a min)."""
    nb = new_sigs.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("sig"),
        F.posexplode(F.array(*_simhash_chunk_cols(sig_col, max_hamming)))
        .alias("chunk", "cval"))
    if broadcast_batch:
        nb = F.broadcast(nb)
    pairs = (nb.alias("n")
             .join(ref_chunks.alias("rf"), ["chunk", "cval"])
             .select(F.col("n.id").alias("id"),
                     F.col("rf.id").alias("ref_id"),
                     F.bit_count(F.col("n.sig").bitwiseXOR(F.col("rf.sig")))
                     .cast("bigint").alias("hamming"))
             .filter(F.col("hamming") <= max_hamming))
    best = (pairs.groupBy("id")
            .agg(F.min(F.struct("hamming", "ref_id")).alias("__b"))
            .select("id", F.col("__b.ref_id").alias("best_match"),
                    F.col("__b.hamming").alias("hamming")))
    all_new = new_sigs.select(F.col(id_col).alias("id")).distinct()
    return (all_new.join(best, "id", "left")
            .select("id", F.col("best_match").isNotNull().alias("is_dup"),
                    "best_match", "hamming"))
