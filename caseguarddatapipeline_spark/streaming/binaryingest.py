"""Streaming file ingestion (round 11 — the E4 x streaming cell): drain
a DIRECTORY OF RASTER OR DOCUMENT FILES through the byte-real decode
kernels as one Structured Streaming query.

The reference ingests binary documents one SOAP fetch at a time and
pushes each through its format handlers (soap_downloader.py:101-161,
docproc/format_config.py:147-230). Spark-first, arriving files ARE the
stream: ``readStream.format("binaryFile")`` lists new files per
micro-batch (the same source the batch-side ``e4_binaryfile_scan``
uses, streaming face), ``maxFilesPerTrigger`` is the rate limit, and
each micro-batch goes through ``docparse.file_docs`` (doc_id from the
``doc_<id>.<ext>`` file name, failing loudly on any other name) into
either the production ``_pixel_tiles_kernel`` (multimodal.py — full
PNG/BMP/PPM/baseline-JPEG pixel decode, per-32x32-tile stats) or the
by-extension ``docparse.dispatch_stage`` over the ten byte-real document
parsers. Output rows land in the batch's OWN ``ingest_batch=N``
partition directory: replay-exact exactly like the assembly sinks — a
replayed batch overwrites its own directory byte-for-byte.

At 100 TB: one file = one row = one kernel call; tile stats are
partition-local (no shuffle before a downstream embedder); the output
is a lake table partitioned by ingest batch that ``maintain_index``-
style compaction can fold, and the checkpoint carries the seen-files
log so restart never re-decodes completed batches
(tests/test_binary_ingest.py drives drain, incremental pickup of
late-arriving files, and checkpointed restart de-duplication).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.docparse import PARSERS, dispatch_stage, file_docs
from ..operators.multimodal import _pixel_tiles_kernel

TILE_SCHEMA = (
    "doc_id long, fmt string, img_w int, img_h int, tile_y int, "
    "tile_x int, byte_sum long, byte_min int, byte_max int"
)


def raster_tiles_from_files(files: DataFrame) -> DataFrame:
    """binaryFile rows (path, content, ...) → per-tile stats through the
    byte-real decode kernel. Shared by the stream below and any batch
    caller; doc_id comes from the file name (``docparse.file_docs``)."""
    return file_docs(files).mapInPandas(_pixel_tiles_kernel, TILE_SCHEMA)


def _run_file_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    glob: str,
    transform,
    max_files_per_trigger: int,
    files_per_batch_dir: int,
    what: str,
):
    """Shared machinery of the file-modality ingest streams: binaryFile
    readStream (fixed schema — streaming sources don't infer) →
    per-micro-batch ``transform`` kernel → the batch's OWN
    ``ingest_batch=N`` parquet partition, availableNow + checkpoint.
    Ownership of out_dir vs a FRESH checkpoint is guarded per batch
    (same hazard the assembly corpus guards: batch ids restart at 0
    under a new checkpoint, and stale high-numbered partitions from a
    previous run would silently mix into reads)."""
    os.makedirs(out_dir, exist_ok=True)
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(input_dir)
    )

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        ahead = sorted(
            b
            for d in os.listdir(out_dir)
            if d.startswith("ingest_batch=")
            and (b := int(d.split("=", 1)[1])) > batch_id
        )
        if ahead:
            raise RuntimeError(
                f"{what} ingest output {out_dir} already holds batch "
                f"partitions {ahead} ahead of batch {batch_id}: this "
                "checkpoint does not own this output — point at an empty "
                "dir or restore the matching checkpoint"
            )
        (
            transform(batch)
            # repartition, NOT coalesce: coalesce is a narrow dependency,
            # so it would collapse the upstream decode kernel itself to
            # files_per_batch_dir tasks (serial decode per trigger). The
            # exchange here moves only the small kernel-output rows; the
            # byte-heavy decode keeps one task per input split.
            .repartition(files_per_batch_dir)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"ingest_batch={batch_id}"))
        )

    query = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def run_raster_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    glob: str = "*.{ppm,bmp,png,jpg,jpeg}",
    max_files_per_trigger: int = 16,
    files_per_batch_dir: int = 1,
):
    """Drain every raster file currently in ``input_dir`` (availableNow)
    through the decode kernel into ``out_dir/ingest_batch=N`` parquet.
    Returns the finished StreamingQuery. Re-running with the same
    checkpoint picks up only files that arrived since the last drain."""
    return _run_file_ingest(
        spark, input_dir, out_dir, checkpoint_dir, glob,
        raster_tiles_from_files, max_files_per_trigger,
        files_per_batch_dir, "raster",
    )


DOC_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("doc_format", StringType()),
        StructField("extracted_text", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def doc_text_from_files(files: DataFrame) -> DataFrame:
    """binaryFile rows → extracted text through the REAL document
    parsers, dispatched per Arrow batch by extension over
    ``docparse.PARSERS`` — the streaming face of ``u3_binary_dispatch``.
    doc_id comes from the file name like the raster twin."""
    docs = file_docs(files).withColumnRenamed("ext", "doc_format")
    return dispatch_stage(docs, PARSERS, DOC_TEXT_SCHEMA)


def run_document_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    glob: str = "*.{pdf,docx}",
    max_files_per_trigger: int = 16,
    files_per_batch_dir: int = 1,
):
    """The reference's actual ingestion loop as ONE streaming query —
    soap_downloader.py:101-161 fetches case documents to disk and
    docproc/format_config.py:147-230 parses them; here arriving
    .pdf/.docx files ARE the stream and each micro-batch runs the real
    in-repo parsers (xref/FlateDecode, ZIP/OOXML), landing extracted
    text in replay-exact ``ingest_batch=N`` partitions. Same checkpoint
    / late-arrival / restart semantics as ``run_raster_ingest``
    (tests/test_binary_ingest.py drives both)."""
    return _run_file_ingest(
        spark, input_dir, out_dir, checkpoint_dir, glob,
        doc_text_from_files, max_files_per_trigger,
        files_per_batch_dir, "document",
    )
