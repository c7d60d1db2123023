"""MIME sniffing: real container bytes from the repo's own builder twins
must sniff to the type the kernel routing expects."""

import numpy as np
from pyspark.sql import functions as F

from open_ocr_spark.dataops.mime import sniff_mime_col


def _sniff(spark, payloads):
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "i long, html binary",
    )
    sniffed = df.select("i", sniff_mime_col(F.col("html"))).orderBy("i")
    return [r.mime for r in sniffed.collect()]


def test_real_containers_sniff_correctly(spark):
    from open_ocr_spark.dataops.gif import encode_gif
    from open_ocr_spark.dataops.jpeg import encode_jpeg
    from open_ocr_spark.dataops.multimodal import (
        encode_bmp24,
        encode_png,
        encode_wav,
    )
    from open_ocr_spark.kernels.docx_text import build_docx
    from open_ocr_spark.kernels.rtf_text import build_rtf

    img = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    payloads = [
        b"%PDF-1.4\n1 0 obj\n",
        build_rtf(["hello"]),
        build_docx(["hello"]),  # zip container
        encode_png(img),
        encode_gif(img),
        encode_jpeg(img),
        encode_bmp24(img),
        encode_wav([0, 1000, -1000]),
        b"WARC/1.0\r\nWARC-Type: response\r\n",
        b"<html><body>x</body></html>",
        b"  <!DOCTYPE HTML>\n<p>y</p>",
        b"just some plain words",
        b"\x00\x01\x02binary soup",
        b"",
    ]
    assert _sniff(spark, payloads) == [
        "application/pdf",
        "application/rtf",
        "application/zip",
        "image/png",
        "image/gif",
        "image/jpeg",
        "image/bmp",
        "audio/wav",
        "application/warc",
        "text/html",
        "text/html",
        "text/plain",
        "application/octet-stream",
        "application/octet-stream",
    ]


def test_offset_magics(spark):
    payloads = [
        b"RIFF\x10\x00\x00\x00WAVEfmt ",
        b"RIFF\x10\x00\x00\x00AVI LIST",
        b"\x00\x00\x00\x18ftypisomiso2",
        b"\x1a\x45\xdf\xa3ebml",
        b"\x1f\x8b\x08\x00gz",
    ]
    assert _sniff(spark, payloads) == [
        "audio/wav",
        "video/x-msvideo",
        "video/mp4",
        "video/webm",
        "application/gzip",
    ]


def test_sniff_is_shuffle_free(spark):
    df = spark.range(10).select(
        F.encode(F.concat(F.lit("t"), F.col("id")), "utf-8").alias("html")
    )
    plan = (df.select(sniff_mime_col(F.col("html")))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
