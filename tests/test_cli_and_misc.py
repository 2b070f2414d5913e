"""Split sink (S6), validation predicates (P4), dataset stats (A5),
resume anti-join, and a real spark-submit --py-files run (S7)."""

import pathlib
import subprocess
import sys
import zipfile

import duckdb
import pyspark.sql.functions as F
import pytest

from cogger_spark import oracles, queries
from tests.test_spatial_oracle import compare


def test_split_sink_equals_joined_cog(spark, smoke_images):
    from cogger_spark.operators.tiling import assemble_cogs, tile_images
    images = spark.read.parquet(smoke_images).limit(6)
    tiles = tile_images(images, tile=512)
    joined = {r.image_id: bytes(r.cog)
              for r in assemble_cogs(tiles, tile=512).collect()}
    split = {r.image_id: (bytes(r.header), bytes(r.data))
             for r in assemble_cogs(tile_images(images, tile=512), tile=512,
                                    split=True).collect()}
    assert set(joined) == set(split)
    for iid, (hdr, data) in split.items():
        assert hdr + data == joined[iid]
        assert hdr[:2] == b"II"


def test_validate_images_split(spark, smoke_images):
    from cogger_spark.operators.validate import validate_images
    good = spark.read.parquet(smoke_images)
    bad = spark.createDataFrame(
        [("bad_dim", b"\x00", -1, 4, "raw", "c", 0),
         ("bad_fmt", b"\x00", 1, 1, "bmp", "c", 0),
         ("bad_size", b"\x00\x00\x00", 2, 1, "raw", "c", 0),
         ("bad_caption", b"\x00\x00", 2, 1, "raw", "", 0),
         # NULL payload must be quarantined, not fall through the
         # three-valued raw-size predicate into the valid set
         ("bad_null_bytes", None, 2, 1, "raw", "c", 0),
         ("bad_empty_bytes", b"", 2, 1, "deflate", "c", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long")
    valid, rejects = validate_images(good.unionByName(bad))
    assert valid.count() == good.count()
    got = {r.image_id: r.reject_reason for r in rejects.collect()}
    assert got == {"bad_dim": "nonpositive dims", "bad_fmt": "unknown fmt",
                   "bad_size": "bad raw payload size",
                   "bad_caption": "missing caption",
                   "bad_null_bytes": "missing payload",
                   "bad_empty_bytes": "missing payload"}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _nodes(plan):
    """A physical plan's nodes, depth first; an AQE plan not yet run
    stands for its initial plan."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        yield from _nodes(plan.executedPlan())
        return
    yield plan
    for child in _seq(plan.children()):
        yield from _nodes(child)


def test_resume_delta_anti_join(spark, smoke_images, tmp_path):
    """The CLI's resume delta: its convert job joins the committed ids as
    a broadcast left-anti join, the image bytes cross no shuffle but
    ensure_fanout's round-robin one, and it writes exactly the images
    planned less those committed."""
    from cogger_spark import cli
    from cogger_spark.operators.tiling import convert_images
    images = spark.read.parquet(smoke_images)
    ids = sorted(r.image_id for r in images.select("image_id").collect())
    out = tmp_path / "out"
    convert_images(images.filter(F.col("image_id").isin(ids[:20])), str(out))

    job, metrics = cli._convert(spark, images, str(out), 512, "deflate")
    nodes = list(_nodes(job._jdf.queryExecution().executedPlan()))

    def named(name):
        return [n for n in nodes if n.nodeName() == name]
    # the broadcast side is the listing's ids, built right of a left-anti
    [bx] = named("BroadcastExchange")
    assert [a.name() for a in _seq(bx.output())] == ["image_id"]
    [join] = named("BroadcastHashJoin")
    assert "LeftAnti, BuildRight" in join.toString(), join.toString()
    carrying_bytes = [n.toString() for n in named("Exchange")
                      if "bytes" in [a.name() for a in _seq(n.output())]]
    # the smoke table is one split, so ensure_fanout fans it out
    assert len(carrying_bytes) == 1, carrying_bytes
    assert "RoundRobinPartitioning" in carrying_bytes[0]

    job.write.format("noop").mode("overwrite").save()
    assert metrics.get["images"] == 30
    assert sorted(p.stem for p in out.glob("*.tif")) == ids


def test_dataset_stats_matches_oracle(spark, fixture_dir):
    compare(queries.SPATIAL_QUERIES["dataset_stats"](spark, "/root/testdata/sf0.01"),
            oracles.DATASET_STATS)


@pytest.mark.slow
def test_spark_submit_py_files(spark, tmp_path, smoke_images):
    """The north rule's deployment shape: package the engine, run the CLI
    under spark-submit --py-files. The manifest has its rows, and convert
    writes one .tif per image with the bytes convert_images writes."""
    import hashlib
    import os
    from cogger_spark.operators.tiling import convert_images
    repo = pathlib.Path(__file__).resolve().parent.parent
    zpath = tmp_path / "cogger_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in (repo / "cogger_spark").rglob("*.py"):
            z.write(f, f.relative_to(repo))
    spark_submit = pathlib.Path(sys.executable).parent / "spark-submit"
    if not spark_submit.exists():
        import pyspark
        spark_submit = pathlib.Path(pyspark.__file__).parent / "bin" / "spark-submit"

    def submit(*args):
        proc = subprocess.run(
            [str(spark_submit), "--master", "local[4]",
             "--conf", "spark.ui.enabled=false",
             "--py-files", str(zpath),
             str(repo / "cogger_spark" / "cli.py"), *args],
            capture_output=True, text=True, timeout=600,
            env={"PYSPARK_PYTHON": sys.executable,
                 "PYSPARK_DRIVER_PYTHON": sys.executable,
                 "PATH": "/usr/bin:/bin", "HOME": "/root",
                 "JAVA_HOME": os.environ.get("JAVA_HOME", "")})
        assert proc.returncode == 0, proc.stderr[-3000:]
        return proc

    out = tmp_path / "manifest_out"
    proc = submit("manifest", "--images", smoke_images, "--out", str(out))
    files = list(out.glob("*.parquet"))
    assert files, proc.stdout
    n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchall()[0][0]
    assert n > 50

    cogs, want = tmp_path / "cogs", tmp_path / "want"
    submit("convert", "--images", smoke_images, "--out", str(cogs))
    convert_images(spark.read.parquet(smoke_images), str(want))

    def digests(d):
        return {f.name: hashlib.sha256(f.read_bytes()).hexdigest()
                for f in d.iterdir()}
    got = digests(cogs)
    assert len(got) == 50 and all(f.endswith(".tif") for f in got)
    assert got == digests(want)


def test_cli_convert_checkpointed(spark, smoke_images, tmp_path, capsys):
    """CLI convert: one committed .tif per image, each a well-formed TIFF of
    the image's size; a rerun into the same directory is a no-op (every
    image already committed, no file rewritten)."""
    import re
    from cogger_spark import cli
    from cogger_spark.tiff import parse_tiff
    out = tmp_path / "cog_out"

    def run():
        assert cli.main(["convert", "--images", smoke_images,
                         "--out", str(out)]) == 0
        report = capsys.readouterr().out.strip().splitlines()[-1]
        return int(re.search(r"images=(\d+) ", report).group(1))

    assert run() == 50
    dims = {r.image_id: (r.w, r.h) for r in
            spark.read.parquet(smoke_images).select("image_id", "w", "h")
            .collect()}
    files = sorted(out.iterdir())
    assert [f.name for f in files] == sorted(f"{i}.tif" for i in dims)
    for f in files:
        main = parse_tiff(f.read_bytes()).ifds[0]
        assert (main.image_width, main.image_height) == dims[f.stem], f.name
    stamps = {f.name: f.stat().st_mtime_ns for f in files}
    # second run: nothing left to do
    assert run() == 0
    assert {f.name: f.stat().st_mtime_ns for f in out.iterdir()} == stamps


def test_cog_pipeline_blobs_to_write_tiff_dir(spark, smoke_images, tmp_path):
    import hashlib
    import pathlib
    from cogger_spark.operators.tiling import cog_pipeline
    from cogger_spark.sources.tiffdir import write_tiff_dir
    from cogger_spark.tiff import parse_tiff
    images = spark.read.parquet(smoke_images).limit(5)
    cogs = cog_pipeline(images, tile=512)
    out = tmp_path / "cogs"
    write_tiff_dir(cogs, str(out))
    blobs = {r.image_id: bytes(r.cog) for r in cogs.collect()}
    files = sorted(pathlib.Path(out).glob("*.tif"))
    assert len(files) == 5
    for f in files:
        iid = f.stem
        data = f.read_bytes()
        assert hashlib.md5(data).hexdigest() == \
            hashlib.md5(blobs[iid]).hexdigest()
        assert parse_tiff(data).ifds  # well-formed TIFF


def test_rewrite_tiffs_idempotent_on_own_cogs(spark, smoke_images):
    """rewrite(engine COG) == engine COG byte-for-byte: the byte-reshuffle
    operator is a fixed point on already-COG inputs (same tree, same order,
    same tags), and it round-trips the reference fixtures too."""
    from cogger_spark.operators.tiling import cog_pipeline, rewrite_tiffs
    images = spark.read.parquet(smoke_images).limit(8)
    cogs = {r.image_id: bytes(r.cog)
            for r in cog_pipeline(images, tile=512).collect()}
    tiffs = spark.createDataFrame(
        [(k, v) for k, v in cogs.items()], "image_id string, bytes binary")
    redone = {r.image_id: bytes(r.cog) for r in rewrite_tiffs(tiffs).collect()}
    assert redone == cogs


def test_rewrite_tiff_sets_matches_reference_goldens(spark):
    """The reference's multi-file golden cases THROUGH the Spark operator:
    md5(engine output) == committed cog_ext_*.tif."""
    import hashlib
    import pathlib
    from cogger_spark.operators.tiling import rewrite_tiff_sets, rewrite_tiffs
    td = pathlib.Path("/root/reference/testdata")
    rows = []
    for i, name in enumerate(["exttest.tif", "exttest.tif.ovr"]):
        rows.append(("ext_ovr", i, (td / name).read_bytes()))
    for i, name in enumerate(["exttest.tif", "exttest.tif.2", "exttest.tif.4"]):
        rows.append(("ext_multi", i, (td / name).read_bytes()))
    df = spark.createDataFrame(rows, "image_id string, part_id int, bytes binary")
    got = {r.image_id: hashlib.md5(bytes(r.cog)).hexdigest()
           for r in rewrite_tiff_sets(df).collect()}
    want = {
        "ext_ovr": hashlib.md5((td / "cog_ext_ovr.tif").read_bytes()).hexdigest(),
        "ext_multi": hashlib.md5((td / "cog_ext_multi.tif").read_bytes()).hexdigest(),
    }
    assert got == want

    # single-file goldens through the single-blob Spark operator too
    singles = [(n, (td / n).read_bytes())
               for n in ("gray.tif", "rgbmask.tif", "band4.tif")]
    sdf = spark.createDataFrame(singles, "image_id string, bytes binary")
    got1 = {r.image_id: hashlib.md5(bytes(r.cog)).hexdigest()
            for r in rewrite_tiffs(sdf).collect()}
    for name, _ in singles:
        expected = hashlib.md5((td / f"cog_{name}").read_bytes()).hexdigest()
        assert got1[name] == expected, name


def test_cli_rewrite_dir_golden(spark, tmp_path):
    """CLI rewrite over a directory of .tif files reproduces the committed
    golden COGs byte-for-byte — the reference CLI's own job, distributed."""
    import hashlib
    import pathlib
    import shutil
    from cogger_spark import cli
    src = pathlib.Path("/root/reference/testdata")
    in_dir = tmp_path / "tifs"
    in_dir.mkdir()
    names = ["rgb.tif", "gray.tif", "band4mask.tif"]
    for n in names:
        shutil.copy(src / n, in_dir / n)
    out = tmp_path / "cogs"
    rc = cli.main(["rewrite", "--in-dir", str(in_dir), "--out", str(out)])
    assert rc == 0
    for n in names:
        got = (out / n).read_bytes()
        want = (src / f"cog_{n}").read_bytes()
        assert hashlib.md5(got).hexdigest() == hashlib.md5(want).hexdigest(), n


def test_cli_rewrite_multifile_golden(spark, tmp_path):
    """--multifile groups main + external overview parts per image
    (loader.go multi-reader) before rewriting."""
    import hashlib
    import pathlib
    import shutil
    from cogger_spark import cli
    src = pathlib.Path("/root/reference/testdata")
    in_dir = tmp_path / "tifs_multi"
    in_dir.mkdir()
    for n in ("exttest.tif", "exttest.tif.2", "exttest.tif.4"):
        shutil.copy(src / n, in_dir / n)
    out = tmp_path / "cogs_multi"
    rc = cli.main(["rewrite", "--in-dir", str(in_dir), "--out", str(out),
                   "--multifile"])
    assert rc == 0
    got = (out / "exttest.tif").read_bytes()
    want = (src / "cog_ext_multi.tif").read_bytes()
    assert hashlib.md5(got).hexdigest() == hashlib.md5(want).hexdigest()


def test_cli_rewrite_one_matches_reference_golden(tmp_path):
    """`rewrite-one` — the reference CLI's exact single-invocation UX
    (positional main.tif [+ overview.tifs], --output) — must reproduce the
    reference golden bytes, including a multi-file external-overview set."""
    import hashlib
    import pathlib
    from cogger_spark import cli
    ref = pathlib.Path("/root/reference/testdata")
    # single-file case (cogger_test.go TestCases)
    out1 = tmp_path / "single.tif"
    rc = cli.main(["rewrite-one", str(ref / "rgb.tif"),
                   "--output", str(out1)])
    assert rc == 0
    golden1 = hashlib.md5((ref / "cog_rgb.tif").read_bytes()).hexdigest()
    assert hashlib.md5(out1.read_bytes()).hexdigest() == golden1
    # multi-file main + external overviews (cogger_test.go TestMultiFiles)
    out2 = tmp_path / "multi.tif"
    rc = cli.main(["rewrite-one", str(ref / "exttest.tif"),
                   str(ref / "exttest.tif.2"), str(ref / "exttest.tif.4"),
                   "--output", str(out2)])
    assert rc == 0
    golden2 = hashlib.md5(
        (ref / "cog_ext_multi.tif").read_bytes()).hexdigest()
    assert hashlib.md5(out2.read_bytes()).hexdigest() == golden2
