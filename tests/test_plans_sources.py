"""Resume of the CLI convert from the files it committed, COG files read
back through the consumer-side reader, bucketed tile tables, and the batch
operators run per micro-batch of a Structured Streaming file source."""

import hashlib
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType, TimestampType)

from cogger_spark import queries
from cogger_spark.operators.spatial import tile_manifest

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])

EVENTS_ARROW = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                          ("user_id", pa.int64()), ("event_type", pa.string()),
                          ("value", pa.float64()), ("props", pa.string())])


def _job(images):
    return tile_manifest(images, tile=512, level=None)


def _file_stream(spark, in_dir, files_per_batch, schema=None):
    """A parquet file source over `in_dir`, `files_per_batch` files per
    micro-batch, in file-modification order."""
    return (spark.readStream
            .schema(schema or spark.read.parquet(in_dir).schema)
            .option("maxFilesPerTrigger", files_per_batch)
            .parquet(in_dir))


def _drain_each_batch(stream, checkpoint, handle):
    """Hand every non-empty micro-batch of `stream` to `handle` until the
    backlog is drained (Trigger.AvailableNow)."""
    def run(batch, _batch_id):
        if not batch.isEmpty():
            handle(batch)
    (stream.writeStream.foreachBatch(run)
     .option("checkpointLocation", checkpoint)
     .trigger(availableNow=True).start().awaitTermination())


def _drain_to_parquet(agg, out_dir, checkpoint):
    """Run a watermarked streaming aggregation in append mode until the
    backlog is drained; each closed group lands in `out_dir` once."""
    (agg.writeStream.outputMode("append").format("parquet")
     .option("path", out_dir)
     .option("checkpointLocation", checkpoint)
     .trigger(availableNow=True).start().awaitTermination())


def _events(seed=5, users=6, per_user=40):
    """A small events table: per-user gaps of 1 s to ~67 min (never exactly
    the 30-min session gap, where the batch and streaming session
    boundaries differ) over about two days."""
    rng = np.random.RandomState(seed)
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    for u in range(users):
        t = t0 + pd.Timedelta(seconds=int(rng.randint(0, 3600)))
        for _ in range(per_user):
            gap = int(rng.randint(1, 4000))
            t += pd.Timedelta(seconds=1801 if gap == 1800 else gap)
            rows.append((u, t, ("click", "view", "purchase")[rng.randint(3)],
                         rng.randint(0, 10000) / 100.0))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type", "value"])
    pdf = pdf.sort_values(["ts", "user_id"]).reset_index(drop=True)
    pdf.insert(0, "event_id", np.arange(len(pdf), dtype=np.int64))
    pdf["props"] = ""
    return pdf[["event_id", "ts", "user_id", "event_type", "value", "props"]]


def _write_events(pdf, path):
    pq.write_table(pa.Table.from_pandas(pdf, schema=EVENTS_ARROW,
                                        preserve_index=False), path)


def _events_arriving(pdf, in_dir, n_chunks=3):
    """Write `pdf` as `n_chunks` interleaved files in mtime order, then two
    far-future sentinel 'flush' events (user -1) that advance the watermark
    so every real group closes before the AvailableNow drain stops — the
    finite-stream flush idiom; a live stream needs no sentinels."""
    chunks = [pdf.iloc[i::n_chunks] for i in range(n_chunks)]
    for k in (1, 2):
        chunks.append(pd.DataFrame({
            "event_id": [-k],
            "ts": [pdf["ts"].max() + pd.Timedelta(days=365 * k)],
            "user_id": [-1], "event_type": ["flush"], "value": [0.0],
            "props": [""]}))
    os.makedirs(in_dir)
    for i, c in enumerate(chunks):
        p = os.path.join(in_dir, f"batch_{i:02d}.parquet")
        _write_events(c, p)
        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))


def test_checkpoint_resume_equals_uninterrupted(spark, smoke_images, tmp_path,
                                                capsys):
    """A CLI convert killed after committing some images, then rerun into
    the same directory: every file equals an uninterrupted run's (sha256),
    the committed files are not rewritten, a stale tmp left by the kill
    is replaced, the rerun reports exactly the missing images as written
    and a second rerun writes none. The directory listing, the lineage,
    names every image with its file size."""
    from cogger_spark import cli
    from cogger_spark.operators.tiling import convert_images
    from cogger_spark.sources.tiffdir import read_tiff_dir

    def run(out):
        assert cli.main(["convert", "--images", smoke_images,
                         "--out", str(out)]) == 0
        report = capsys.readouterr().out.strip().splitlines()[-1]
        return int(re.search(r"images=(\d+) ", report).group(1))

    def digests(out):
        return {f.name: hashlib.sha256(f.read_bytes()).hexdigest()
                for f in out.iterdir()}

    def stamps(out):
        return {f.name: (f.stat().st_ino, f.stat().st_mtime_ns)
                for f in out.iterdir()}

    full, part = tmp_path / "full", tmp_path / "part"
    assert run(full) == 50
    images = spark.read.parquet(smoke_images)
    ids = sorted(r.image_id for r in images.select("image_id").collect())
    done, missing = ids[::3], sorted(set(ids) - set(ids[::3]))
    # the killed run: some images committed, one tmp left half written
    convert_images(images.filter(F.col("image_id").isin(done)), str(part))
    committed = stamps(part)
    assert sorted(committed) == [f"{i}.tif" for i in done]
    (part / f".{missing[0]}.tmp").write_bytes(b"II*\x00 half a COG")

    assert run(part) == len(missing)
    assert digests(part) == digests(full)  # no tmp left either
    assert {n: st for n, st in stamps(part).items()
            if n in committed} == committed
    assert run(part) == 0

    lineage = read_tiff_dir(spark, str(part)).select("image_id", "n_bytes")
    assert {r.image_id: r.n_bytes for r in lineage.collect()} == {
        i: (part / f"{i}.tif").stat().st_size for i in ids}


def test_cog_files_roundtrip_through_cogread(spark, smoke_images, tmp_path):
    """Composition: convert to files → read the directory back (tiffdir
    source) → header audit + thumbnails run directly on the files, with
    headers matching the source dims."""
    from cogger_spark.operators.cogread import extract_thumbnails, read_cog_headers
    from cogger_spark.operators.tiling import convert_images
    from cogger_spark.sources.tiffdir import read_tiff_dir
    import pyspark.sql.functions as F
    src = spark.read.parquet(smoke_images).limit(6)
    out = tmp_path / "rt_out"
    convert_images(src, str(out), tile=512)
    cogs = read_tiff_dir(spark, str(out)).withColumnRenamed("bytes", "cog")
    hdrs = {r.image_id: (r.w, r.h) for r in read_cog_headers(cogs).collect()}
    want = {r.image_id: (r.w, r.h) for r in src.select("image_id", "w", "h").collect()}
    assert hdrs == want
    thumbs = extract_thumbnails(cogs)
    assert thumbs.filter(F.col("thumb").isNull()).count() == 0
    assert thumbs.count() == 6


@pytest.mark.parametrize("assemble", ["assemble_cogs", "assemble_cog_parts"])
def test_materialized_tiles_assemble_without_exchange(spark, fixture_dir,
                                                      save_bucketed, assemble):
    """Persisted bucketed tiles: assembly (groupBy image_id) reads
    pre-clustered buckets — no Exchange in the plan, and the assembled
    rows (blobs, or parts) equal the direct pipeline's."""
    from cogger_spark.fixtures import FIXTURE_DIR
    from cogger_spark.operators import tiling

    images = spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet")).limit(8)
    save_bucketed(tiling.tile_images(images, tile=512), "t_tiles_b",
                  "image_id", 4)
    op = getattr(tiling, assemble)
    assembled = op(spark.table("t_tiles_b"), tile=512)
    plan = assembled._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    def rows(df):
        return sorted(tuple(bytes(v) if isinstance(v, bytearray) else v
                            for v in r) for r in df.collect())

    direct = rows(op(tiling.tile_images(images, tile=512), tile=512))
    assert rows(assembled) == direct


def test_streaming_available_now_matches_batch(spark, smoke_images, tmp_path):
    """The tile manifest appended per micro-batch of arriving image files
    equals the one-shot batch manifest."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    spark.read.parquet(smoke_images).repartition(4).write.parquet(in_dir)
    _drain_each_batch(_file_stream(spark, in_dir, 2), str(tmp_path / "ckpt"),
                      lambda b: _job(b).write.mode("append").parquet(out_dir))
    got = spark.read.parquet(out_dir)
    want = _job(spark.read.parquet(in_dir))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_stream_cog_matches_batch(spark, smoke_images, tmp_path):
    """cog_pipeline run per micro-batch: the streamed blobs equal the batch
    run, byte for byte (incremental ingest reuses the batch operator)."""
    import hashlib
    from cogger_spark.operators.tiling import cog_pipeline
    in_dir, out_dir = str(tmp_path / "sc_in"), str(tmp_path / "sc_out")
    spark.read.parquet(smoke_images).limit(12).repartition(3).write.parquet(in_dir)
    _drain_each_batch(
        _file_stream(spark, in_dir, 2), str(tmp_path / "sc_ck"),
        lambda b: cog_pipeline(b).write.mode("append").parquet(out_dir))
    got = {r.image_id: hashlib.md5(bytes(r.cog)).hexdigest()
           for r in spark.read.parquet(out_dir).collect()}
    want = {r.image_id: hashlib.md5(bytes(r.cog)).hexdigest()
            for r in cog_pipeline(spark.read.parquet(in_dir)).collect()}
    assert len(got) == 12
    assert got == want


def test_stream_cog_files_matches_batch_convert(spark, smoke_images, tmp_path):
    """convert_images run per micro-batch writes the same .tif files the
    batch tile → assemble route produces."""
    import pathlib
    from cogger_spark.operators.tiling import (assemble_cogs, convert_images,
                                               tile_images)
    in_dir, out = str(tmp_path / "scf_in"), tmp_path / "scf_out"
    src = spark.read.parquet(smoke_images).limit(10)
    src.repartition(3).write.parquet(in_dir)
    _drain_each_batch(_file_stream(spark, in_dir, 2), str(tmp_path / "scf_ck"),
                      lambda b: convert_images(b, str(out), tile=512))
    want = {r.image_id: bytes(r.cog)
            for r in assemble_cogs(tile_images(src, tile=512),
                                   tile=512).collect()}
    files = {f.stem: f.read_bytes() for f in pathlib.Path(out).glob("*.tif")}
    assert len(files) == 10
    assert files == want


def test_streaming_asof_enrich_matches_batch(spark, tmp_path):
    """Streaming as-of enrichment: each left micro-batch is as-of joined
    (forward, with tolerance) against a right table ingested first — equal
    to the batch asof_join, with both matched and unmatched rows."""
    import datetime as dt

    from cogger_spark.operators.temporal import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 9, m)
    right_dir = str(tmp_path / "right")
    spark.createDataFrame(
        [(f"e_{i}", 1000 + i, i % 3, t(5 * i), float(i)) for i in range(12)],
        "image_id string, event_id long, user_id long, ts timestamp, "
        "value double").write.parquet(right_dir)
    left = spark.createDataFrame(
        [(i, i % 4, t(7 * i % 60)) for i in range(30)],
        "event_id long, user_id long, ts timestamp")
    in_dir = tmp_path / "left_in"
    in_dir.mkdir()
    for i, part in enumerate((left.filter(F.col("event_id") < 15),
                              left.filter(F.col("event_id") >= 15))):
        stage = tmp_path / "stage" / f"f{i}"
        part.coalesce(1).write.parquet(str(stage))
        os.replace(next(stage.rglob("*.parquet")), in_dir / f"left_{i}.parquet")

    def enrich(batch):
        return asof_join(batch, spark.read.parquet(right_dir),
                         direction="forward", tolerance="INTERVAL 20 MINUTES")

    out = str(tmp_path / "enriched")
    _drain_each_batch(_file_stream(spark, str(in_dir), 1), str(tmp_path / "ck"),
                      lambda b: enrich(b).write.mode("append").parquet(out))
    got = {r.event_id: (r.event_id_prior, r.value_prior)
           for r in spark.read.parquet(out).collect()}
    want = {r.event_id: (r.event_id_prior, r.value_prior)
            for r in enrich(left).collect()}
    assert got == want and len(got) == 30
    assert any(v[0] is not None for v in got.values())
    assert any(v[0] is None for v in got.values())


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Watermarked streaming sessionization on F.session_window equals the
    batch q_events_sessionize rollups session for session; (user_id,
    first_epoch) keys a session in both."""
    pdf = _events()
    _write_events(pdf, tmp_path / "events.parquet")
    in_dir = str(tmp_path / "ss_in")
    _events_arriving(pdf, in_dir)
    # watermark wider than the data span: file arrival order can then never
    # drop a 'late' event; closure is driven by the sentinels
    agg = (_file_stream(spark, in_dir, 1, EVENTS_SCHEMA)
           .withWatermark("ts", "40 days")
           .groupBy("user_id", F.session_window("ts", "30 minutes"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
                F.min(queries._ntz_epoch_long(F.col("ts"))).alias("first_epoch")))
    out = str(tmp_path / "ss_out")
    _drain_to_parquet(agg, out, str(tmp_path / "ss_ck"))

    got = {(r.user_id, r.first_epoch): (r.n_events, r.sum_value)
           for r in spark.read.parquet(out)
           .filter(F.col("user_id") >= 0).collect()}
    want = {(r.user_id, r.first_epoch): (r.n_events, r.sum_value)
            for r in queries.q_events_sessionize(spark, str(tmp_path)).collect()}
    assert len(want) > len(pdf["user_id"].unique())  # gaps split sessions
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 1e-6, k


def test_streaming_watermark_window_counts(spark, tmp_path):
    """Hourly windowed + watermarked streaming counts per event_type equal
    the hour rows of the batch q_events_hourly_rollup once the watermark
    has closed every window."""
    pdf = _events(seed=11)
    _write_events(pdf, tmp_path / "events.parquet")
    in_dir = str(tmp_path / "ev_in")
    _events_arriving(pdf, in_dir)
    agg = (_file_stream(spark, in_dir, 1, EVENTS_SCHEMA)
           .withWatermark("ts", "40 days")
           .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"))
           .select(queries._ntz_epoch_long(F.col("win.start")).alias("hour_epoch"),
                   "event_type", "n_events", "sum_value"))
    out = str(tmp_path / "ev_out")
    _drain_to_parquet(agg, out, str(tmp_path / "ev_ck"))

    got = {(r.event_type, r.hour_epoch): (r.n_events, r.sum_value)
           for r in spark.read.parquet(out)
           .filter(F.col("event_type") != "flush").collect()}
    want = {(r.event_type, r.hour_epoch): (r.n_events, r.sum_value)
            for r in queries.q_events_hourly_rollup(spark, str(tmp_path))
            .filter(F.col("gid") == 0).collect()}
    assert sum(n for n, _ in want.values()) == len(pdf)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 1e-6, k
