"""Deduplication operators for training-data pipelines.

Exact (hash groupBy), n-gram Jaccard, MinHash + LSH banding. Everything
JVM-side; MinHash uses the SQL-portable md5-prefix word hash so the
DuckDB oracle reproduces signatures exactly.

Scale notes: exact dedup is one hash-aggregate shuffle on a 16-byte
key; MinHash-LSH shuffles (band_id, band_hash) — bounded fanout
n_bands per doc — then joins only within buckets, never all-pairs.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import WORD_HASH

MERSENNE61 = (1 << 61) - 1


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Exact duplicate groups: md5(text) -> canonical id + group size."""
    return (df.groupBy(F.md5(F.col(text)).alias("text_hash"))
              .agg(F.min(id_col).alias("canonical_id"),
                   F.count("*").alias("dup_count")))


def shingles_from_tokens_expr(tok_col: str = "__toks", n: int = 3) -> str:
    """Distinct word n-gram shingles as a SQL expression over a
    PRE-MATERIALIZED token array column: split runs once per row. (A
    `split(text)` inlined at every element_at site is re-evaluated per
    element inside the transform lambda, O(words^2) splits per
    document: 8.6 s against 1.1 s on the sf0.1 signature build.)"""
    parts = ", ".join(f"element_at({tok_col}, i + {j})" for j in range(n))
    return (f"array_distinct(transform(sequence(1, size({tok_col}) - {n - 1}), "
            f"i -> concat_ws(' ', {parts})))")


def minhash_signature(df: DataFrame, id_col: str = "doc_id", text: str = "text",
                      n_hashes: int = 16, shingle_n: int = 2) -> DataFrame:
    """MinHash signature: h_k = min over shingles of (a_k*h(s)+b_k) mod M.

    The shingle set and the md5-prefix hashes are materialized ONCE
    (two narrow projections), then the k min-folds run over the small
    int array — not k re-tokenizations of the text.
    """
    wh = WORD_HASH.format(w="s")
    toks = df.select(F.col(id_col), F.split(F.col(text), " ").alias("__toks"))
    sh = shingles_from_tokens_expr("__toks", shingle_n)
    base = toks.select(F.col(id_col),
                       F.expr(f"transform({sh}, s -> {wh})").alias("__sh_hashes"))
    cols = []
    for k in range(n_hashes):
        a = 2 * k + 1
        b = (k * 40503 + 17) % 65536
        cols.append(F.expr(
            f"aggregate(__sh_hashes, {MERSENNE61}L, "
            f"(acc, h) -> least(acc, ({a}L * h + {b}L) % {MERSENNE61}L))").alias(f"mh_{k}"))
    return base.select(id_col, *cols)


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", text: str = "text",
                      n_hashes: int = 16, bands: int = 4,
                      shingle_n: int = 2) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing any band
    of the MinHash signature. Returns distinct (doc_a, doc_b) with
    doc_a < doc_b."""
    rows_per_band = n_hashes // bands
    sig = minhash_signature(df, id_col, text, n_hashes, shingle_n)
    band_cols = []
    for b in range(bands):
        cs = [f"mh_{b * rows_per_band + i}" for i in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws("_", *cs)).alias(f"band_{b}"))
    banded = sig.select(id_col, *band_cols)
    stacked = banded.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("bh"))
            for b in range(bands)])).alias("e")
    ).select(id_col, F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))
    # Materialize the (id, band, hash) table ONCE, pre-partitioned on
    # the join key. Without the checkpoint the whole shingle+md5+
    # signature pipeline is recomputed on BOTH sides of the self-join;
    # without the repartition AQE coalesces the tiny-by-bytes shuffle
    # to one task even though the join OUTPUT (within-bucket pairs) is
    # quadratic in bucket size — parallelism must follow the output.
    # Identical partitioning also makes the self-join zero-shuffle.
    # At 1e9 docs set spark.spatial4n.stageDir to route this through
    # a parquet stage instead of block-manager memory (staging.stage).
    from ..staging import stage
    n_parts = stacked.sparkSession.sparkContext.defaultParallelism
    stacked = stage(stacked.repartition(n_parts, "band", "bh"), "lsh_bands")
    left = stacked.select(F.col(id_col).alias("doc_a"), "band", "bh")
    right = stacked.select(F.col(id_col).alias("doc_b"), "band", "bh")
    pairs = (left.join(right, ["band", "bh"], "inner")
                 .where(F.col("doc_a") < F.col("doc_b"))
                 .select("doc_a", "doc_b").distinct())
    return pairs


def simhash_neardup_pairs(df: DataFrame, id_col: str = "doc_id",
                          text: str = "text", bits: int = 48,
                          bands: int = 4,
                          max_hamming: int = 3) -> DataFrame:
    """SimHash near-duplicate pairs: band bucketing + exact hamming
    refine. Returns (doc_a < doc_b, hamming <= max_hamming).

    Pigeonhole EXACTNESS guarantee: with the signature split into
    `bands` equal slices, any pair within hamming distance <= bands-1
    has at least one identical slice, so the band equi-join proposes
    ALL such pairs — for max_hamming <= bands-1 this operator is exact,
    not approximate (asserted against brute force in test_dedup_simhash).

    Entirely JVM: the signature stages once (text.with_simhash's single
    md5-array pass), bands explode to (band, slice) keys, the self-join
    shuffles on the key exactly like minhash_lsh_pairs (same
    repartition-then-checkpoint rationale — parallelism must follow the
    quadratic-in-bucket join OUTPUT, and the identical partitioning
    makes the self-join zero-shuffle), and the refine is one codegen
    bit_count(xor) per candidate. At 100 TB: no all-pairs stage; hot
    band buckets (boilerplate-heavy corpora) salt or AQE-split like any
    hash join; set spark.spatial4n.stageDir for a parquet stage at
    1e9+ docs (staging.stage).
    """
    from .text import with_simhash
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming {max_hamming} exceeds the banding guarantee "
            f"(bands-1 = {bands - 1}); raise bands or lower max_hamming")
    width = bits // bands
    mask = (1 << width) - 1
    sigs = with_simhash(df.select(id_col, text), text=text, bits=bits) \
        .select(id_col, "simhash")
    stacked = sigs.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.expr(f"shiftright(simhash, {b * width}) & {mask}L")
                      .alias("bv"))
            for b in range(bands)])).alias("e")
    ).select(id_col, "simhash",
             F.col("e.band").alias("band"), F.col("e.bv").alias("bv"))
    from ..staging import stage
    n_parts = stacked.sparkSession.sparkContext.defaultParallelism
    stacked = stage(stacked.repartition(n_parts, "band", "bv"),
                    "simhash_bands")
    left = stacked.select(F.col(id_col).alias("doc_a"),
                          F.col("simhash").alias("__sa"), "band", "bv")
    right = stacked.select(F.col(id_col).alias("doc_b"),
                           F.col("simhash").alias("__sb"), "band", "bv")
    ham = F.expr("bit_count(__sa ^ __sb)")
    return (left.join(right, ["band", "bv"], "inner")
                .where(F.col("doc_a") < F.col("doc_b"))
                .withColumn("hamming", ham.cast("int"))
                .where(F.col("hamming") <= max_hamming)
                .select("doc_a", "doc_b", "hamming").distinct())


def embedding_neardup_pairs(embeddings: DataFrame, id_col: str = "vec_id",
                            emb: str = "embedding",
                            threshold: float = 0.9,
                            n_planes: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH bucket join (candidate
    generation bounded to same-bucket pairs, never all-pairs) -> exact
    cosine refine >= threshold. Returns (id_a < id_b, cosine)."""
    from .similarity import cosine_expr, make_hyperplane_tables_udf
    bk = make_hyperplane_tables_udf(n_planes, 1)
    b = embeddings.withColumn("__bkt", F.element_at(bk(F.col(emb)), 1))
    left = b.select(F.col(id_col).alias("id_a"),
                    F.col(emb).alias("__ea"), "__bkt")
    right = b.select(F.col(id_col).alias("id_b"),
                     F.col(emb).alias("__eb"), "__bkt")
    pairs = (left.join(right, "__bkt", "inner")
                 .where(F.col("id_a") < F.col("id_b")))
    cos = F.expr(cosine_expr("__ea", "__eb"))
    return (pairs.withColumn("cosine", cos)
                 .where(F.col("cosine") >= threshold)
                 .select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r")))


def ngram_jaccard_on_pairs(df: DataFrame, pairs: DataFrame,
                           id_col: str = "doc_id", text: str = "text",
                           n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard refine over candidate pairs (doc_a, doc_b)
    — the production composition: LSH banding proposes, Jaccard
    disposes. Shingle sets are materialized once per doc and joined to
    both sides (two narrow equi-joins, never all-pairs)."""
    toks = df.select(F.col(id_col).alias("__id"),
                     F.split(F.col(text), " ").alias("__toks"))
    sh = shingles_from_tokens_expr("__toks", n)
    s = toks.select("__id", F.expr(sh).alias("__sh"))
    j = (pairs.join(s.withColumnRenamed("__id", "doc_a")
                     .withColumnRenamed("__sh", "sh_a"), "doc_a")
              .join(s.withColumnRenamed("__id", "doc_b")
                     .withColumnRenamed("__sh", "sh_b"), "doc_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select("doc_a", "doc_b",
                    F.round(inter / union.cast("double"), 6).alias("jaccard"))


def embedding_neardup_banded(embeddings: DataFrame, id_col: str = "vec_id",
                             emb: str = "embedding",
                             threshold: float = 0.9,
                             n_planes: int = 16,
                             n_tables: int = 4) -> DataFrame:
    """Banded multi-table embedding near-dup: n_tables independent
    hyperplane hash tables of n_planes bits each; candidates are pairs
    colliding in ANY table; exact cosine refine >= threshold.

    The scale story vs the single-table variant: one table of P planes
    partitions into 2^P buckets — with P small enough for recall, the
    within-bucket pair count grows O(N^2 / 2^P). Banding keeps P large
    (tight buckets whose sizes stay bounded as N grows) and recovers
    recall through table multiplicity: collision prob for cosine c is
    1 - (1 - p^P)^T with p = 1 - acos(c)/pi. At 1e9 rows: P=16-24,
    T=4-8; bucket join stays a shuffle on (table, bucket) keys.
    """
    from .similarity import cosine_expr, make_hyperplane_tables_udf
    bk = make_hyperplane_tables_udf(n_planes, n_tables)
    tagged = (embeddings
              .select(F.col(id_col), bk(F.col(emb)).alias("__bkts"))
              .select(id_col, F.posexplode("__bkts").alias("tbl", "bkt")))
    left = tagged.select(F.col(id_col).alias("id_a"), "tbl", "bkt")
    right = tagged.select(F.col(id_col).alias("id_b"), "tbl", "bkt")
    # dedupe candidate ids BEFORE rejoining vectors: the distinct runs
    # on narrow (id_a, id_b) rows, never shuffling embedding arrays
    cand = (left.join(right, ["tbl", "bkt"], "inner")
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b").distinct())
    e = embeddings.select(F.col(id_col), F.col(emb))
    pairs = (cand.join(e.withColumnRenamed(id_col, "id_a")
                        .withColumnRenamed(emb, "__ea"), "id_a")
                 .join(e.withColumnRenamed(id_col, "id_b")
                        .withColumnRenamed(emb, "__eb"), "id_b"))
    cos = F.expr(cosine_expr("__ea", "__eb"))
    return (pairs.withColumn("cosine", cos)
                 .where(F.col("cosine") >= threshold)
                 .select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r")))


def dedup_clusters(df: DataFrame, id_col: str = "doc_id",
                   text: str = "text", n_hashes: int = 16, bands: int = 4,
                   shingle_n: int = 2,
                   stage_dir: str | None = None,
                   method: str = "minhash") -> DataFrame:
    """Near-dup CLUSTERS: candidate pairs -> connected components.

    The production dedup tail: every doc gets a cluster_id (= min doc
    id of its component; singletons label themselves), so a downstream
    `where(doc_id == cluster_id)` keeps one canonical doc per near-dup
    group. `stage_dir` stages CC rounds through parquet (spill-safe at
    1e9+ nodes) instead of localCheckpoint.

    `method`: "minhash" (shingle-Jaccard similarity, probabilistic
    banding) or "simhash" (hamming-distance similarity, pigeonhole-
    exact banding via simhash_neardup_pairs) — the two candidate
    generators share the pair schema, so the CC tail is identical.
    """
    from .components import connected_components
    if method == "minhash":
        pairs = minhash_lsh_pairs(df, id_col, text, n_hashes, bands,
                                  shingle_n)
    elif method == "simhash":
        pairs = simhash_neardup_pairs(df, id_col, text).select(
            "doc_a", "doc_b")
    else:
        raise ValueError(f"unknown dedup method {method!r}")
    cc = connected_components(pairs, "doc_a", "doc_b",
                              vertices=df.select(id_col),
                              stage_dir=stage_dir)
    return cc.select(F.col("node").alias(id_col),
                     F.col("label").alias("cluster_id"))
