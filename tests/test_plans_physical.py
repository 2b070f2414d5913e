"""Physical-plan audits: the plans we designed for are the plans we get.

These assertions encode the scale contract (SURVEY.md §4): column pruning
into the parquet scan (never reading `bytes` for metadata queries), filter
pushdown, broadcast joins for small dimensions, equi-join (not theta) shapes
for the spatial joins, and whole-stage codegen on the JVM-only paths.
"""

import pyspark.sql.functions as F

from cogger_spark import queries
from cogger_spark.operators import spatial

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_manifest_scan_prunes_bytes_column(spark, fixture_dir):
    df = queries.q_tile_manifest(spark, SF)
    plan = _plan(df)
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln or "ReadSchema" in ln]
    txt = "\n".join(scan) or plan
    assert "bytes" not in txt, f"manifest scan reads bytes!\n{txt}"
    assert "image_id" in txt


def test_manifest_is_jvm_only(spark, fixture_dir):
    plan = _plan(queries.q_tile_manifest(spark, SF))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, f"Python stage in metadata-only plan: {marker}"
    assert "*(1)" in plan  # whole-stage-codegen span marker


def test_filter_pushdown_reaches_scan(spark, fixture_dir, tmp_path):
    from cogger_spark.fixtures import FIXTURE_DIR
    images = spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet"))
    df = images.filter(F.col("fmt") == "raw").select("image_id", "w")
    plan = _plan(df)
    assert "PushedFilters" in plan and "fmt" in plan.split("PushedFilters", 1)[1], plan
    # partitioned on fmt, the same filter prunes whole directories: the
    # image table's partition pruning is a parquet scan's PartitionFilters
    images.write.partitionBy("fmt").parquet(str(tmp_path / "by_fmt"))
    parted = (spark.read.parquet(str(tmp_path / "by_fmt"))
              .filter(F.col("fmt") == "raw").select("image_id", "w"))
    plan = _plan(parted)
    assert "fmt" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0], plan
    assert parted.count() == df.count() > 0


def test_zonal_join_broadcasts_zones(spark, fixture_dir):
    from cogger_spark.fixtures import FIXTURE_DIR
    images = spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet"))
    zones = spark.read.parquet(str(FIXTURE_DIR / "zones_test.parquet"))
    tiles = spatial.tile_manifest(images, level=0)
    plan = _plan(spatial.zonal_stats(zones, tiles))
    assert "BroadcastHashJoin" in plan, plan


def test_zonal_pixel_stats_decodes_once(spark, fixture_dir):
    """The expensive pixel-decode subtree must appear exactly ONCE in the
    plan: the zone pairing runs on the closed-form manifest extents and the
    stats join in after it (r5 self-review — joining stats into the zonal
    input too planned, and ran, the whole decode twice)."""
    from cogger_spark.fixtures import FIXTURE_DIR
    images = spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet"))
    zones = spark.read.parquet(str(FIXTURE_DIR / "zones_test.parquet"))
    plan = _plan(spatial.zonal_pixel_stats(zones, images))
    assert plan.count("MapInPandas") == 1, plan


def test_pip_join_is_equi_join_on_cells(spark, fixture_dir):
    from cogger_spark.fixtures import FIXTURE_DIR
    images = spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet"))
    points = spark.read.parquet(str(FIXTURE_DIR / "points_test.parquet"))
    tiles = spatial.tile_manifest(images, level=0)
    plan = _plan(spatial.pip_join(points, tiles))
    # must be a hash equi-join keyed on cell_id, never a nested-loop theta join
    assert "cell_id" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nation_revenue_broadcasts_dim(spark):
    plan = _plan(queries.q_nation_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_pricing_summary_partial_aggregation(spark):
    plan = _plan(queries.q_pricing_summary(spark, SF))
    # Catalyst plans partial (map-side) + final hash aggregation
    assert plan.count("HashAggregate") >= 2, plan


def test_bucketed_join_has_no_exchange(spark, fixture_dir, save_bucketed):
    """Both sides bucketed on the join key → SortMergeJoin without Exchange
    (the pay-the-shuffle-once pattern for repeated image_id joins)."""
    from cogger_spark.fixtures import FIXTURE_DIR
    images = spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet"))
    save_bucketed(images.select("image_id", "w", "h", "fmt"),
                  "t_meta", "image_id", 8)
    save_bucketed(images.select("image_id", "caption", "phash"),
                  "t_caps", "image_id", 8)
    # at fixture sizes the planner would broadcast (also shuffle-free, but it
    # bypasses bucketing); disable broadcast to expose the at-scale SMJ shape
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_meta").join(spark.table("t_caps"), "image_id")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == images.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_exact_dedup_exchange_key_is_digest_not_text(spark):
    """The dedup shuffle must be keyed on sha2(text), never on the raw text
    column — at 100 TB the text IS the payload, so a text-keyed exchange
    doubles the job (VERDICT r1). sha2-256 not md5: chosen-prefix md5
    collisions would let crafted documents dedupe into one (ADVICE r2).
    Also asserts map-side partial aggregation (min_by partials collapse
    duplicates before the shuffle)."""
    from cogger_spark.operators.dedup import exact_dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(exact_dedup(docs))
    assert "sha2(" in plan, plan  # digest computed map-side
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert exchanges, plan
    for ln in exchanges:
        key = ln.split("hashpartitioning(", 1)[1]
        assert "text#" not in key, f"exchange keyed on raw text:\n{ln}"
    # min_by over a struct plans as ObjectHashAggregate; partial + final
    n_aggs = sum(plan.count(a) for a in
                 ("ObjectHashAggregate", "HashAggregate", "SortAggregate"))
    assert n_aggs >= 2, plan


def test_pack_sequences_no_single_partition_window(spark):
    """The global token cumsum must be a distributed prefix sum: a
    no-partitionBy Window plans WindowExec over SinglePartition — one task
    scans every row (VERDICT r3 #1). The fixed plan has no Window at all
    (range-partitioned sort + broadcast offsets + mapInPandas local cumsum)
    and no SinglePartition exchange anywhere."""
    from cogger_spark.operators.text import pack_sequences
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pack_sequences(docs))
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_vocab_rank_no_single_partition_window(spark):
    """vocab_counts' global rank is the same distributed prefix count — no
    single-task sort of the whole vocabulary (VERDICT r3 #6)."""
    from cogger_spark.operators.text import vocab_counts
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(vocab_counts(docs))
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_bigram_rank_bounded_by_take_ordered(spark):
    """bigram_counts bounds the ranked set with TakeOrderedAndProject
    (per-partition top-n + bounded merge) BEFORE the rank window, so the
    residual single-partition window sees <= top_n rows, never the corpus's
    distinct-bigram count (VERDICT r3 #6)."""
    from cogger_spark.operators.text import bigram_counts
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bigram_counts(docs, top_n=100))
    assert "TakeOrderedAndProject" in plan, plan


def test_tfidf_rank_window_partitioned_by_doc(spark):
    """tfidf's rank window must be PARTITIONED BY doc_id (bounded by one
    document's vocabulary) — never a global-order window — and the
    vocabulary-sized document-frequency side must broadcast."""
    from cogger_spark.operators.text import tfidf_top_terms
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(tfidf_top_terms(docs))
    assert "SinglePartition" not in plan, plan
    assert "windowspecdefinition(doc_id" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_contamination_broadcast_join_no_pairwise(spark):
    """benchmark_contamination joins exploded candidate grams against the
    (small) benchmark gram set — a broadcast equi-join, never a sort-merge
    of the full gram relation or any cartesian shape."""
    from cogger_spark.operators.dedup import benchmark_contamination
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(benchmark_contamination(docs))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_distance_join_is_cell_equijoin(spark):
    """The range join must plan as a cell EQUI-join (+ exact refine) —
    never a cartesian/theta shape — with both sides full-width."""
    from cogger_spark.operators.spatial import distance_join
    from cogger_spark.fixtures import FIXTURE_DIR, ensure_test_fixtures
    ensure_test_fixtures()
    pts = spark.read.parquet(f"{FIXTURE_DIR}/points_test.parquet")
    plan = _plan(distance_join(pts, radius_deg=0.05))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert any("cell_id" in ln for ln in joins), plan
    assert "SinglePartition" not in plan, plan
