"""Streaming raster ingestion (streaming/binaryingest.py): the byte-real
decode kernel driven by a binaryFile stream — drain, incremental pickup
of late-arriving files, checkpointed-restart de-duplication, and value
identity with the batch-side e4_pixel_tile_stats algebra."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

from caseguarddatapipeline_spark.operators.multimodal import (
    _binaryfile_fixture_dir,
)
from caseguarddatapipeline_spark.streaming.binaryingest import (
    raster_tiles_from_files,
    run_raster_ingest,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stream_drains_decodes_and_restarts_exactly_once(spark, tmp_path):
    fixture = _binaryfile_fixture_dir(spark, SF_DIR)
    rasters = sorted(
        f for f in os.listdir(fixture)
        if f.rsplit(".", 1)[-1] in ("ppm", "bmp", "png")
    )
    assert len(rasters) >= 8
    first, late = rasters[:6], rasters[6:10]
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    for f in first:
        shutil.copy(os.path.join(fixture, f), in_dir)

    run_raster_ingest(spark, in_dir, out_dir, ckpt, max_files_per_trigger=4)
    got = spark.read.parquet(out_dir)
    ids_first = {int(f.split("_")[1].split(".")[0]) for f in first}
    assert {r.doc_id for r in got.select("doc_id").collect()} == ids_first
    # value identity with the batch-side kernel: same files, same tiles
    ref = raster_tiles_from_files(
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{ppm,bmp,png}")
        .load(in_dir)
    )
    lhs = sorted(tuple(r) for r in got.drop("ingest_batch").collect())
    rhs = sorted(tuple(r) for r in ref.collect())
    assert lhs == rhs

    # late arrivals: a re-run on the same checkpoint decodes ONLY them
    for f in late:
        shutil.copy(os.path.join(fixture, f), in_dir)
    run_raster_ingest(spark, in_dir, out_dir, ckpt, max_files_per_trigger=4)
    got2 = spark.read.parquet(out_dir)
    ids_all = ids_first | {
        int(f.split("_")[1].split(".")[0]) for f in late
    }
    assert {r.doc_id for r in got2.select("doc_id").collect()} == ids_all
    # exactly once per image: tile counts per doc unchanged vs a clean
    # full decode (no doc decoded twice across the two drains)
    per_doc = {
        r.doc_id: r.n
        for r in got2.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    full_ref = raster_tiles_from_files(
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{ppm,bmp,png}")
        .load(in_dir)
    )
    ref_per_doc = {
        r.doc_id: r.n
        for r in full_ref.groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_doc == ref_per_doc

    # idle re-run: nothing new arrived -> no new rows
    run_raster_ingest(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == got2.count()


def test_fresh_checkpoint_on_existing_output_fails_fast(spark, tmp_path):
    """Batch ids restart at 0 under a fresh checkpoint; pointing one at
    an output dir holding higher-numbered partitions must fail instead
    of silently mixing stale partitions into reads."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    fixture = _binaryfile_fixture_dir(spark, SF_DIR)
    raster = next(
        f for f in sorted(os.listdir(fixture))
        if f.rsplit(".", 1)[-1] in ("ppm", "bmp", "png")
    )
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    shutil.copy(os.path.join(fixture, raster), in_dir)
    os.makedirs(os.path.join(out_dir, "ingest_batch=7"))
    with pytest.raises(StreamingQueryException, match="does not own"):
        run_raster_ingest(spark, in_dir, out_dir, str(tmp_path / "ck2"))


def test_document_ingest_extracts_real_text_and_restarts(spark, tmp_path):
    """The document-modality twin (run_document_ingest): .pdf/.docx
    files drain through the REAL parsers into replay-exact batch
    partitions; extracted text must equal the generating document text
    (the parsers round-trip), and a checkpointed restart re-decodes
    nothing."""
    import duckdb

    from caseguarddatapipeline_spark.streaming.binaryingest import (
        run_document_ingest,
    )

    fixture = _binaryfile_fixture_dir(spark, SF_DIR)
    docs = sorted(
        f for f in os.listdir(fixture)
        if f.rsplit(".", 1)[-1] in ("pdf", "docx")
    )
    assert len(docs) >= 8
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    os.makedirs(in_dir)
    first, late = docs[:6], docs[6:10]
    for f in first:
        shutil.copy(os.path.join(fixture, f), in_dir)
    run_document_ingest(spark, in_dir, out_dir, ckpt, max_files_per_trigger=3)
    got = spark.read.parquet(out_dir)
    assert got.count() == len(first)

    # late arrivals: only the new files decode on the next drain
    for f in late:
        shutil.copy(os.path.join(fixture, f), in_dir)
    run_document_ingest(spark, in_dir, out_dir, ckpt, max_files_per_trigger=3)
    got = spark.read.parquet(out_dir)
    assert got.count() == len(first) + len(late)
    ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    want = {int(f.split(".")[0].split("_")[1]) for f in first + late}
    assert ids == want

    # value identity: extracted text == the generating documents.text
    expected = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    }
    for r in got.select("doc_id", "doc_format", "extracted_text").collect():
        assert r["extracted_text"] == expected[r["doc_id"]], r["doc_id"]
        assert r["doc_format"] == ("pdf" if r["doc_id"] < 64 else "docx")

    # replay-exact: a third drain with nothing new adds nothing
    run_document_ingest(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == len(first) + len(late)


def test_both_ingest_streams_fail_loudly_on_unnamed_file(spark, tmp_path):
    """A file outside the ``doc_<id>.<ext>`` naming convention must fail
    the micro-batch, never land with a NULL doc_id — in the raster
    stream and in the document stream alike."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from caseguarddatapipeline_spark.streaming.binaryingest import (
        run_document_ingest,
    )

    fixture = _binaryfile_fixture_dir(spark, SF_DIR)
    for run, ext in ((run_raster_ingest, "ppm"), (run_document_ingest, "pdf")):
        src = next(f for f in sorted(os.listdir(fixture)) if f.endswith("." + ext))
        in_dir = tmp_path / ext / "in"
        os.makedirs(in_dir)
        shutil.copy(os.path.join(fixture, src), in_dir / f"scan_0001.{ext}")
        with pytest.raises(
            StreamingQueryException, match="does not carry a doc_<id> identity"
        ):
            run(spark, str(in_dir), str(tmp_path / ext / "out"),
                str(tmp_path / ext / "ck"))
