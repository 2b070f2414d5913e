#!/usr/bin/env python
"""Capture .explain("formatted") for the flagship queries into PLANS.md —
the plan-quality audit artifact (pushdown / pruning / broadcast / codegen),
regenerated whenever operators change."""

from __future__ import annotations

import io
import os
import pathlib
import sys
from contextlib import redirect_stdout

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> None:
    from cogger_spark.session import get_spark
    from cogger_spark import queries as Q

    spark = get_spark("plan-capture", cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"

    picks = [
        ("tile_manifest",
         "metadata-only: 3-column scan, one whole-stage-codegen span, no Python"),
        ("pip_join",
         "cell equi-join + exact refine; Python only in the cell-encode UDF"),
        ("knn_join", "ring explode → equi-join → top-k window"),
        ("knn_adaptive",
         "ring ladder 2→4→8: per-rung equi-join + anti-join escalation, "
         "one lazy DAG"),
        ("exact_dedup_docs",
         "hash aggregate keyed on sha2-256(text) with map-side min_by "
         "partials — the exchange never carries the payload as its key"),
        ("tile_offsets_planar",
         "planar production: narrow per-band tile kernel → interleave-group "
         "order key window (one sort per image partition)"),
        ("tile_pixel_sums_strips",
         "block-streamed pixel stats: one narrow mapInPandas over one-tile-row "
         "level-0 blocks, no whole-image task memory"),
        ("zonal_stats", "broadcast zones → cover-cell join → hash agg"),
        ("zonal_pixel_stats",
         "pixel-level zonal stats: zone pairing on closed-form extents, "
         "then ONE mapInPandas decode subtree joins in post-pairing "
         "(plan-tested single decode; r5)"),
        ("phash_canonical", "partial+final hash aggregate, no window"),
        ("nation_revenue", "broadcast dim join + partial aggregation"),
        ("pricing_summary", "filter pushdown + partial/final agg"),
        ("events_sessionize", "two windows sharing one sort/shuffle"),
        ("ann_pq_topk",
         "compressed-code scan: broadcast query LUTs, zip_with+element_at "
         "scoring JVM-side, exact re-rank of the shortlist"),
        ("pack_sequences",
         "distributed prefix sum: range-partitioned sort + broadcast "
         "partition offsets + mapInPandas local cumsum — no Window, no "
         "SinglePartition anywhere (r4; was a single-partition window)"),
        ("vocab_counts",
         "explode → partial/final hash agg → distributed prefix count for "
         "the global rank — no single-task sort of the vocabulary (r4)"),
        ("tfidf_top_terms",
         "per-(doc,token) agg → broadcast vocabulary-sized df join → rank "
         "window PARTITIONED BY doc_id (bounded by one doc's vocabulary)"),
        ("benchmark_contamination",
         "distinct-gram explode → broadcast benchmark-gram equi-join → "
         "per-doc hash agg; linear, no pairwise work (r5)"),
        ("points_within_radius",
         "distance range join: cell equi-join (A single cell, B 1-ring) + "
         "exact euclidean refine — never a theta/cartesian join (r5)"),
        ("events_asof_purchase",
         "as-of join: union-fill-down — per-key sort (ts, side), ONE "
         "struct filled with last(ignorenulls); one shuffle on the key "
         "(r5)"),
        ("events_asof_next",
         "FORWARD as-of + 1h tolerance: same union-fill-down under a "
         "descending per-key sort; matched right ts rides in the struct "
         "for the tolerance cut (r5)"),
    ]

    out = ["# PLANS — captured physical plans (explain format)\n",
           "Regenerate: `python scripts/capture_plans.py`. Assertions on these\n"
           "shapes live in tests/test_plans_physical.py.\n"]
    for name, note in picks:
        df = Q.ALL_QUERIES[name](spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n_{note}_\n\n```\n{buf.getvalue().strip()}\n```\n")

    pathlib.Path(__file__).resolve().parent.parent.joinpath("PLANS.md") \
        .write_text("".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
