"""Spark-side query registry: one callable per implemented operator.

Each function takes (spark, sf_dir) and returns a DataFrame whose columns
(names AND types) match the corresponding oracle in oracles.py exactly —
integral columns cast to long because the DuckDB mirrors emit BIGINT.

Image/point/zone queries run over the committed fixtures (same parquet the
oracles read); document/embedding queries use sf_dir tables.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .fixtures import FIXTURE_DIR, ensure_test_fixtures
from .operators import spatial
from .operators.tiling import tile_images, with_data_offsets, with_tile_order


def _images(spark: SparkSession) -> DataFrame:
    ensure_test_fixtures()
    return spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet"))


def _points(spark: SparkSession) -> DataFrame:
    ensure_test_fixtures()
    return spark.read.parquet(str(FIXTURE_DIR / "points_test.parquet"))


def _zones(spark: SparkSession) -> DataFrame:
    ensure_test_fixtures()
    return spark.read.parquet(str(FIXTURE_DIR / "zones_test.parquet"))


def _longs(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("long"))
    return df


# --- tiling / ordering / offsets ------------------------------------------

def q_tile_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = spatial.tile_manifest(_images(spark), tile=512, level=None)
    return _longs(m, "level", "ty", "tx", "lw", "lh", "ntx", "nty", "px_w", "px_h")


def q_tile_offsets_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real pixel work (decode → pyramid → cut, compression='raw') checked
    against the closed-form SQL manifest: byte counts, the deterministic tile
    order (W1), and the prefix-sum data offsets (A1)."""
    imgs = _images(spark).filter(F.col("fmt") == "raw")
    tiles = with_data_offsets(with_tile_order(
        tile_images(imgs, tile=512, compression="raw")), ghost=True)
    out = tiles.select("image_id", "level", "plane", "ty", "tx",
                       "byte_count", "tile_rank", "data_offset")
    return _longs(out, "level", "plane", "ty", "tx", "byte_count",
                  "tile_rank", "data_offset")


# --- spatial joins ----------------------------------------------------------

def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tiles = spatial.tile_manifest(_images(spark), tile=512, level=0)
    out = spatial.pip_join(_points(spark), tiles)
    return _longs(out, "level", "ty", "tx")


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tiles = spatial.tile_manifest(_images(spark), tile=512, level=0)
    out = spatial.knn_join(_points(spark), tiles, k=5, ring=2)
    out = out.withColumn("dist2", F.round("dist2", 12))
    return _longs(out, "level", "ty", "tx", "rank")


def q_knn_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-kNN via the 2→4→8 ring ladder: under-dense points escalate
    until they find k candidates. k=2 makes the fixture data exercise every
    rung (203 points resolve at ring 2, 13 at ring 4, 749 escalate to 8 —
    most fixture points hold <k tiles in their 2-ring, the exact gap the
    bounded-radius knn_join leaves open)."""
    tiles = spatial.tile_manifest(_images(spark), tile=512, level=0)
    out = spatial.knn_join_adaptive(_points(spark), tiles, k=2, rings=(2, 4, 8))
    out = out.withColumn("dist2", F.round("dist2", 12))
    return _longs(out, "level", "ty", "tx", "rank", "ring")


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tiles = spatial.tile_manifest(_images(spark), tile=512, level=0)
    return spatial.zonal_stats(_zones(spark), tiles)


def q_zonal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7+ — zonal statistics over DECODED raster values: the cell-bucketed
    zone pairing runs on closed-form manifest extents, then the per-tile
    pixel stats (one mapInPandas decode, plan-tested to appear exactly once)
    join in and aggregate per zone. Oracle: the same closed-form fixture
    pattern that pins tile_pixel_sums, extended with per-tile min/max."""
    out = spatial.zonal_pixel_stats(_zones(spark), _images(spark))
    return _longs(out, "value_min", "value_max")


def q_caption_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text operators applied to the image table's caption column — the
    text side of the image+caption pair (BASELINE.json input_hint): the
    SAME token_stats kernel that serves documents runs over captions, so
    the multimodal table plugs into the whole text-pipeline surface."""
    from .operators.text import token_stats
    caps = _images(spark).select(F.col("image_id").alias("doc_id"),
                                 F.col("caption").alias("text"))
    return token_stats(caps).withColumnRenamed("doc_id", "image_id")


def q_phash_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.phash_canonical(_images(spark))


def q_dedup_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.dedup_images(_images(spark)).select(
        "image_id", "w", "h", "fmt", "phash")


def q_dataset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input-size accounting (A5, cmd/cogger/main.go:36-49): bytes + pixels
    per format — the one metadata query that intentionally reads `bytes`
    (length only)."""
    return (_images(spark).groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum(F.length("bytes").cast("long")).alias("total_bytes"),
                 F.sum(F.col("w").cast("long") * F.col("h")).alias("total_px")))


def q_point_grid_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.point_grid_counts(_points(spark), salt_buckets=32)


def q_points_within_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_DWithin-shaped self range join (cell filter + exact refine)."""
    return spatial.distance_join(_points(spark), radius_deg=0.05)


def q_tile_offsets_planar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PlanarConfiguration=2 production path (per-band tiles) checked
    against the closed-form SQL manifest: every band gets its own
    single-band tile (plane p = band p, plane nplanes = mask), the W1 order
    key covers the plane dimension, and the ghost-free prefix sums mirror
    the planar file layout (planar multi-band files carry no GDAL ghost,
    cog.go:600-608)."""
    imgs = _images(spark).filter(F.col("fmt") == "raw")
    tiles = with_data_offsets(
        with_tile_order(tile_images(imgs, tile=512, compression="raw",
                                    planar=True)),
        ghost=False)
    out = tiles.select("image_id", "level", "plane", "ty", "tx",
                       "byte_count", "tile_rank", "data_offset")
    return _longs(out, "level", "plane", "ty", "tx", "byte_count",
                  "tile_rank", "data_offset")


def q_tile_pixel_sums_strips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME per-tile pixel statistics, registered under the name of the
    retired strip route. tile_pixel_stats now streams every image through
    one-tile-row level-0 blocks, so this runs the block kernel that
    tile_pixel_sums runs and pins the block-boundary stats against the same
    closed-form oracle; the name and registry entry stay for the query
    contract."""
    stats = spatial.tile_pixel_stats(_images(spark), tile=512)
    out = stats.select("image_id", "ty", "tx", "px_count", "px_sum")
    return _longs(out, "ty", "tx", "px_count", "px_sum")


def q_tile_pixel_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel work against pure SQL: per-tile pixel count and sum from
    the decode+slice kernel (raw and deflate inputs alike), reconciled with
    the closed-form fixture-pattern oracle — pins decoded CONTENT, not just
    metadata, into the oracle-checked set."""
    stats = spatial.tile_pixel_stats(_images(spark), tile=512)
    out = stats.select("image_id", "ty", "tx", "px_count", "px_sum")
    return _longs(out, "ty", "tx", "px_count", "px_sum")


SPATIAL_QUERIES = {
    "point_grid_counts": q_point_grid_counts,
    "points_within_radius": q_points_within_radius,
    "dataset_stats": q_dataset_stats,
    "tile_manifest": q_tile_manifest,
    "tile_offsets_raw": q_tile_offsets_raw,
    "tile_offsets_planar": q_tile_offsets_planar,
    "tile_pixel_sums": q_tile_pixel_sums,
    "tile_pixel_sums_strips": q_tile_pixel_sums_strips,
    "pip_join": q_pip_join,
    "knn_join": q_knn_join,
    "knn_adaptive": q_knn_adaptive,
    "zonal_stats": q_zonal_stats,
    "zonal_pixel_stats": q_zonal_pixel_stats,
    "phash_canonical": q_phash_canonical,
    "caption_token_stats": q_caption_token_stats,
    "dedup_images": q_dedup_images,
}


# --- documents / embeddings (sf_dir tables) ---------------------------------

def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q_doc_token_stats(spark, sf_dir):
    from .operators.text import token_stats
    return token_stats(_tbl(spark, sf_dir, "documents"))


def q_doc_token_bpe(spark, sf_dir):
    from .operators.text import token_count_bpe
    return token_count_bpe(_tbl(spark, sf_dir, "documents"))


def q_doc_quality(spark, sf_dir):
    from .operators.text import quality_score
    return quality_score(_tbl(spark, sf_dir, "documents"))


def q_doc_langid(spark, sf_dir):
    from .operators.text import lang_id
    return lang_id(_tbl(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark, sf_dir):
    from .operators.text import fingerprint
    return fingerprint(_tbl(spark, sf_dir, "documents"))


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training. Checked against a DuckDB oracle
    that unrolls the 12 merge rounds as chained materialized CTEs
    (oracles.BPE_MERGES) — same pair weighting, tiebreak, and greedy merge;
    exactness vs a pure-Python reference is also pinned in tests/test_bpe.py."""
    from .operators.bpe import bpe_train
    merges = bpe_train(_tbl(spark, sf_dir, "documents"), n_merges=12)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, left string, right string")


def q_vocab_counts(spark, sf_dir):
    from .operators.text import vocab_counts
    return vocab_counts(_tbl(spark, sf_dir, "documents"))


def q_bigram_counts(spark, sf_dir):
    from .operators.text import bigram_counts
    return bigram_counts(_tbl(spark, sf_dir, "documents"), top_n=100)


def q_tfidf_top_terms(spark, sf_dir):
    from .operators.text import tfidf_top_terms
    return tfidf_top_terms(_tbl(spark, sf_dir, "documents"), k=3)


def q_unigram_commonness(spark, sf_dir):
    from .operators.text import unigram_commonness
    return unigram_commonness(_tbl(spark, sf_dir, "documents"))


def q_benchmark_contamination(spark, sf_dir):
    from .operators.dedup import benchmark_contamination
    return benchmark_contamination(_tbl(spark, sf_dir, "documents"))


def q_exact_dedup_docs(spark, sf_dir):
    from .operators.dedup import exact_dedup
    return exact_dedup(_tbl(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", "n_chars")


def q_ngram_jaccard_pairs(spark, sf_dir):
    from .operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(_tbl(spark, sf_dir, "documents"), threshold=0.5)


def q_minhash_lsh_dedup(spark, sf_dir):
    from .operators.dedup import minhash_lsh_dedup
    return minhash_lsh_dedup(_tbl(spark, sf_dir, "documents"), threshold=0.5)


def q_simhash_pairs(spark, sf_dir):
    from .operators.dedup import simhash_pairs
    return simhash_pairs(_tbl(spark, sf_dir, "documents"), max_hamming=3)


def q_duplicate_ngrams(spark, sf_dir):
    """Cross-document repeated 5-gram passages (>=2 distinct docs) with
    document frequency — linear explode + hash aggregate, no pairwise work."""
    from .operators.dedup import duplicate_ngrams
    return duplicate_ngrams(_tbl(spark, sf_dir, "documents"), n=5, min_docs=2)


def q_dup_span_ratio(spark, sf_dir):
    """Per-document contamination score: fraction of distinct 5-grams shared
    with other documents."""
    from .operators.dedup import duplicated_span_ratio
    return duplicated_span_ratio(_tbl(spark, sf_dir, "documents"),
                                 n=5, min_docs=2)


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (data mixing): per-lang keep
    fractions decided by an md5 hash of doc_id — reproducible by the SQL
    oracle bit-for-bit, no RNG state anywhere."""
    from .operators.text import stratified_sample
    out = stratified_sample(_tbl(spark, sf_dir, "documents"),
                            {"en": 0.5, "de": 0.25, "zh": 1.0}, key="lang")
    return out.select("doc_id", "lang", "source", "n_chars")


def q_pack_sequences(spark, sf_dir):
    """Boundary-agnostic causal-LM sequence packing: global-order token
    cumsum -> bin of each document's last token + offset of its first."""
    from .operators.text import pack_sequences
    return pack_sequences(_tbl(spark, sf_dir, "documents"), budget=1024)


def q_embed_neardup(spark, sf_dir):
    from .operators.similarity import cosine_neardup_pairs
    return cosine_neardup_pairs(_tbl(spark, sf_dir, "embeddings"), threshold=0.4)


def q_ann_cosine_topk(spark, sf_dir):
    from .operators.similarity import brute_force_topk
    return brute_force_topk(_tbl(spark, sf_dir, "embeddings"), k=10, query_mod=50)


def q_ann_lsh_topk(spark, sf_dir):
    """Hyperplane LSH registered at exhaustive probe width (probe = every
    bucket, one table): the candidate set is the full corpus, so the
    exact-cosine re-rank makes the output EQUAL the exact top-k and the
    brute-force oracle is a valid exact check — the same registration trick
    as ann_ivf_topk / ann_ivf_pq_topk. The approximate configuration
    (8 tables, probe=1) and its recall are pinned in
    tests/test_similarity.py."""
    from .operators.similarity import N_PLANES, ann_lsh_topk
    return ann_lsh_topk(_tbl(spark, sf_dir, "embeddings"), k=10, query_mod=50,
                        n_tables=1, probe=2 ** N_PLANES)


def q_ann_pq_topk(spark, sf_dir):
    """PQ/ADC compressed-code ANN with exact re-rank. At these parameters
    (16 x 4-dim subspaces, 32 centroids, rerank 128) the shortlist recall is
    1.0 on the test corpora, so the output equals the exact top-k — the
    oracle IS the exact baseline, the strongest check an ANN can pass; the
    codes cut scan bandwidth 16x regardless."""
    from .operators.similarity import ann_pq_topk
    return ann_pq_topk(_tbl(spark, sf_dir, "embeddings"), k=10, query_mod=50,
                       m=16, kcent=32, rerank=128)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN registered at exhaustive parameters (nprobe = n_lists): every
    query probes every inverted list, so the candidate set is the full corpus
    and the exact-cosine re-rank makes the output EQUAL the exact top-k — the
    brute-force oracle is therefore a valid exact check (same trick as
    ann_pq_topk). Sub-linear behavior (nprobe < n_lists) plus its recall is
    pinned separately in tests/test_similarity.py."""
    from .operators.similarity import ivf_topk
    return ivf_topk(_tbl(spark, sf_dir, "embeddings"), k=10, query_mod=50,
                    n_lists=16, nprobe=16)


def q_embed_dup_clusters(spark, sf_dir):
    from .operators.similarity import embed_dup_clusters
    return embed_dup_clusters(_tbl(spark, sf_dir, "embeddings"), threshold=0.4)


def q_ann_ivf_pq_topk(spark, sf_dir):
    """IVF+PQ registered at exhaustive parameters: nprobe = n_lists scans
    every list and rerank = 4096 (> any test corpus) keeps EVERY candidate in
    the exact-cosine re-rank, so PQ quantization error cannot change the
    output — it equals the exact top-k and the brute-force oracle applies.
    The sublinear/compressed configuration's recall is pinned in
    tests/test_similarity.py."""
    from .operators.similarity import ivf_pq_topk
    return ivf_pq_topk(_tbl(spark, sf_dir, "embeddings"), k=10, query_mod=50,
                       n_lists=16, nprobe=16, rerank=4096)


def q_dup_clusters(spark, sf_dir):
    """Connected components over the EXACT blocked near-dup pairs (so the
    recursive-CTE oracle sees the same edge set; the LSH-fed variant is
    dedup_clusters)."""
    from .operators.dedup import cluster_duplicates, ngram_jaccard_pairs
    pairs = ngram_jaccard_pairs(_tbl(spark, sf_dir, "documents"), threshold=0.5)
    return cluster_duplicates(pairs)


DOC_QUERIES = {
    "dup_clusters": q_dup_clusters,
    "ann_ivf_topk": q_ann_ivf_topk,       # exhaustive params -> exact oracle
    "ann_ivf_pq_topk": q_ann_ivf_pq_topk,  # exhaustive params -> exact oracle
    "doc_token_stats": q_doc_token_stats,
    "doc_token_bpe": q_doc_token_bpe,
    "doc_quality": q_doc_quality,
    "doc_langid": q_doc_langid,
    "doc_fingerprint": q_doc_fingerprint,
    "tfidf_top_terms": q_tfidf_top_terms,
    "unigram_commonness": q_unigram_commonness,
    "benchmark_contamination": q_benchmark_contamination,
    "vocab_counts": q_vocab_counts,
    "bpe_merges": q_bpe_merges,           # unrolled recursive-CTE oracle
    "bigram_counts": q_bigram_counts,
    "exact_dedup_docs": q_exact_dedup_docs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "duplicate_ngrams": q_duplicate_ngrams,
    "stratified_sample": q_stratified_sample,
    "pack_sequences": q_pack_sequences,
    "dup_span_ratio": q_dup_span_ratio,
    "minhash_lsh_dedup": q_minhash_lsh_dedup,    # no oracle (LSH buckets)
    "simhash_pairs": q_simhash_pairs,            # no oracle (crc signatures)
    "embed_neardup": q_embed_neardup,
    "embed_dup_clusters": q_embed_dup_clusters,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,       # exhaustive probe -> exact oracle
    "ann_pq_topk": q_ann_pq_topk,
}


# --- generic relational queries (sf_dir TPC-H-ish views) --------------------

def q_pricing_summary(spark, sf_dir):
    li = _tbl(spark, sf_dir, "lineitem")
    # NTZ-to-NTZ comparison: immune to whatever session timezone the caller runs
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order")))


def q_orders_topk_per_customer(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (o.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice",
                    F.col("rn").cast("long").alias("rn")))


def q_nation_revenue(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    n = _tbl(spark, sf_dir, "nation")
    return (o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


def _ntz_epoch_us(col):
    """Exact microseconds-since-epoch of a tz-naive timestamp, computed from
    calendar fields only — no session-timezone dependence, so the query never
    mutates (or even reads) the caller's session config. unix_date/hour/
    minute are tz-free on NTZ; date_part('SECOND') keeps the µs fraction as
    an exact DECIMAL(8,6)."""
    secs = (F.unix_date(F.to_date(col)).cast("long") * 86400
            + F.hour(col).cast("long") * 3600
            + F.minute(col).cast("long") * 60)
    frac_us = (F.date_part(F.lit("SECOND"), col) * 1000000).cast("long")
    return secs * F.lit(1000000).cast("long") + frac_us


def _ntz_epoch_long(col):
    """Whole seconds since epoch (floor for the positive-epoch test data)."""
    return (F.unix_date(F.to_date(col)).cast("long") * 86400
            + F.hour(col).cast("long") * 3600
            + F.minute(col).cast("long") * 60
            + F.second(col).cast("long"))


def q_events_by_type(spark, sf_dir):
    e = _tbl(spark, sf_dir, "events")
    epoch = _ntz_epoch_long(F.col("ts"))
    return (e.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.round(F.sum("value"), 2).alias("sum_value"),
                 F.min(epoch).alias("first_epoch"),
                 F.max(epoch).alias("last_epoch")))


def q_events_sessionize(spark, sf_dir):
    """Sessionization: per-user session segmentation on 30-min inactivity
    gaps (lag + running sum of gap flags), then per-session rollup."""
    e = _tbl(spark, sf_dir, "events")
    # exact µs → one correctly-rounded division: bit-identical to DuckDB's
    # epoch(ts) double, with zero session-timezone dependence
    epoch = _ntz_epoch_us(F.col("ts")) / F.lit(1000000.0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.when(
        F.lag(epoch).over(w).isNull()
        | ((epoch - F.lag(epoch).over(w)) > 1800.0), 1).otherwise(0)
    sess = (e.withColumn("is_new", gap)
            .withColumn("session_id", F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"),
                 F.min(_ntz_epoch_long(F.col("ts"))).alias("first_epoch"))
            .withColumn("session_id", F.col("session_id").cast("long")))


def q_events_asof_purchase(spark, sf_dir):
    """As-of join: each click paired with the user's latest purchase at or
    before it (kdb aj / merge_asof semantics) — the oracle uses DuckDB's
    NATIVE ASOF LEFT JOIN, so the union-fill-down formulation is checked
    against a first-class reference implementation."""
    from .operators.temporal import asof_join
    e = _tbl(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    # deterministic tie policy for multiple purchases at one instant:
    # keep the greatest event_id per (user, ts) — mirrored in the oracle
    # (ASOF alone picks an arbitrary same-ts winner in each engine)
    wdup = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .withColumn("_rn", F.row_number().over(wdup))
                 .filter(F.col("_rn") == 1).drop("_rn"))
    j = asof_join(clicks, purchases, on="user_id", ts="ts",
                  payload=("event_id", "value"), suffix="_prior")
    ep_l = _ntz_epoch_long(F.col("ts"))
    # null payloads (no prior purchase) -> sentinels: the driver's float
    # compare uses np.array_equal, where NaN != NaN
    return (j.select(
        "event_id", "user_id", ep_l.alias("ts_epoch"),
        F.col("event_id_prior").isNotNull().alias("has_prior"),
        F.coalesce("event_id_prior", F.lit(-1)).alias("prior_event_id"),
        F.round(F.coalesce("value_prior", F.lit(0.0)), 2)
         .alias("prior_value")))


def q_events_asof_next(spark, sf_dir):
    """FORWARD as-of join with a tolerance window: each click paired with
    the user's EARLIEST purchase at or after it, but only within 1 hour
    (pandas merge_asof direction='forward' + tolerance). DuckDB has no
    native forward ASOF, so the oracle is the defining correlated form — a
    LATERAL 'first right row in [l.ts, l.ts + 1h]' subquery."""
    from .operators.temporal import asof_join
    e = _tbl(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    wdup = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .withColumn("_rn", F.row_number().over(wdup))
                 .filter(F.col("_rn") == 1).drop("_rn"))
    j = asof_join(clicks, purchases, on="user_id", ts="ts",
                  payload=("event_id", "value"), suffix="_next",
                  direction="forward", tolerance="INTERVAL 1 HOUR")
    ep_l = _ntz_epoch_long(F.col("ts"))
    return (j.select(
        "event_id", "user_id", ep_l.alias("ts_epoch"),
        F.col("event_id_next").isNotNull().alias("has_next"),
        F.coalesce("event_id_next", F.lit(-1)).alias("next_event_id"),
        F.round(F.coalesce("value_next", F.lit(0.0)), 2)
         .alias("next_value")))


def q_events_hourly_rollup(spark, sf_dir):
    """Hierarchical time rollup (the hypertable continuous-aggregate shape):
    ROLLUP(event_type, hour-bucket) emits hour rows, per-type subtotals, and
    the grand total in ONE pass — Spark's rollup() and DuckDB's GROUP BY
    ROLLUP are checked against each other. Nulls in grouping columns map to
    sentinels (driver float compare; grouping_id disambiguates)."""
    e = _tbl(spark, sf_dir, "events")
    hour = (F.floor(_ntz_epoch_long(F.col("ts")) / 3600) * 3600).cast("long")
    g = (e.withColumn("hour_epoch", hour)
         .rollup("event_type", "hour_epoch")
         .agg(F.count(F.lit(1)).alias("n_events"),
              F.round(F.sum("value"), 2).alias("sum_value"),
              F.grouping_id().alias("gid")))
    return (g.select(
        F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
        F.coalesce("hour_epoch", F.lit(-1)).alias("hour_epoch"),
        "n_events", "sum_value", F.col("gid").cast("long").alias("gid")))


def q_events_value_median(spark, sf_dir):
    e = _tbl(spark, sf_dir, "events")
    return (e.groupBy("event_type")
            .agg(F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
                 F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90_value")))


RELATIONAL_QUERIES = {
    "events_sessionize": q_events_sessionize,
    "events_asof_purchase": q_events_asof_purchase,
    "events_asof_next": q_events_asof_next,
    "events_hourly_rollup": q_events_hourly_rollup,
    "events_value_median": q_events_value_median,
    "pricing_summary": q_pricing_summary,
    "orders_topk_per_customer": q_orders_topk_per_customer,
    "nation_revenue": q_nation_revenue,
    "events_by_type": q_events_by_type,
}


ALL_QUERIES = {**SPATIAL_QUERIES, **DOC_QUERIES, **RELATIONAL_QUERIES}
