"""Multimodal column plumbing tests (I5): binary columns + metadata,
Arrow-batched feature extraction, 1-to-N frame sampling, gated decode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.multimodal.columns import (
    attach_binary,
    decode_media,
    extract_features,
    sample_frames,
)


@pytest.fixture
def media(spark):
    df = spark.createDataFrame(
        [(1, "hello world", "s1"), (2, "x" * 130, "s2")],
        "doc_id long, text string, source string",
    )
    return attach_binary(df, "text")


def test_metadata_struct(media):
    rows = {r["doc_id"]: r for r in media.collect()}
    assert rows[1]["media_meta"]["n_bytes"] == 11
    assert rows[1]["media_meta"]["mime"] == "application/octet-stream"
    assert rows[1]["media_meta"]["source"] == "s1"
    assert bytes(rows[1]["content"]) == b"hello world"
    # a frame without a source column gets a NULL source, same struct
    bare = attach_binary(media.select("doc_id", "text"), "text")
    assert bare.schema["media_meta"] == media.schema["media_meta"]
    assert bare.filter("doc_id = 1").first()["media_meta"]["source"] is None


def test_extract_features_deterministic(media):
    import hashlib

    rows = {r["id"]: r for r in extract_features(media, "doc_id").collect()}
    # [len, md5 hex words 0:4, 4:8, 8:12] — SQL-recomputable (oracle)
    h = hashlib.md5(b"hello world").hexdigest()
    assert rows[1]["features"] == [
        11.0,
        float(int(h[0:4], 16)),
        float(int(h[4:8], 16)),
        float(int(h[8:12], 16)),
    ]
    assert rows[2]["n_bytes"] == 130
    # schema contract: array<float>
    feats_field = extract_features(media, "doc_id").schema["features"]
    assert feats_field.simpleString() == "features:array<float>"


def test_sample_frames_one_to_n(media):
    rows = sample_frames(media, "doc_id", stride=64).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    assert len(by_id[1]) == 1  # 11 bytes -> 1 frame
    assert len(by_id[2]) == 3  # 130 bytes, stride 64 -> 3 frames
    assert bytes(by_id[2][2]["frame_bytes"]) == b"xx"  # tail frame 2 bytes


def test_pixel_decode_gated(media):
    """Both directions of the optional-PIL gate: without PIL (and no
    injected decoder) the operator raises with wiring instructions;
    with PIL importable it must return a real plan (not raise)."""
    from etl_work_flow_for_big_data_spark.multimodal.columns import decode_pixels

    try:
        import PIL.Image  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if has_pil:
        # corpus bytes aren't valid images → all-null rows, no failure
        rows = decode_pixels(media).collect()
        assert len(rows) == media.count()
        for r in rows:
            assert r["width"] is None and r["height"] is None
            assert r["mode"] is None and r["pixels"] is None
    else:
        with pytest.raises(NotImplementedError, match="decoder"):
            decode_pixels(media)


def test_pixel_decode_injected_decoder(media):
    """The injected-decoder seam exercises the REAL Spark plumbing
    (schema, Arrow batches, per-record failure isolation) without an
    imaging dependency: a decoder that understands even-length payloads
    and rejects the rest must yield decoded rows for the former and
    all-null rows — not task failures — for the latter."""
    from etl_work_flow_for_big_data_spark.multimodal.columns import decode_pixels

    def fake(b: bytes):
        if len(b) % 2:
            raise ValueError("odd payload")
        return (len(b), 2, "L", bytes(reversed(b)))

    rows = {r["id"]: r for r in decode_pixels(media, decoder=fake).collect()}
    assert len(rows) == media.count()
    src = {r["doc_id"]: bytes(r["content"]) for r in media.collect()}
    for i, b in src.items():
        if len(b) % 2 == 0:
            assert (rows[i]["width"], rows[i]["height"], rows[i]["mode"]) == (
                len(b),
                2,
                "L",
            )
            assert bytes(rows[i]["pixels"]) == bytes(reversed(b))
        else:
            assert rows[i]["width"] is None and rows[i]["pixels"] is None


def test_pixel_decode_memoryerror_is_loud(media):
    """MemoryError is systemic, not per-record: a decoder that exhausts
    executor memory must fail the task, not quietly emit a null row the
    way a corrupt payload does."""
    from etl_work_flow_for_big_data_spark.multimodal.columns import decode_pixels

    def oom(b: bytes):
        raise MemoryError("simulated allocator failure")

    with pytest.raises(Exception, match="MemoryError|simulated allocator"):
        decode_pixels(media, decoder=oom).collect()


def _png(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + b"\x08\x06\x00\x00\x00"
    )


def _gif(w: int, h: int) -> bytes:
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\xf7\x00\x00"


def _bmp(w: int, h: int) -> bytes:
    # 14-byte file header + BITMAPINFOHEADER with negative (top-down) height
    return (
        b"BM"
        + (26).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (26).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + (-h).to_bytes(4, "little", signed=True)
    )


def _jpeg(w: int, h: int) -> bytes:
    # SOI, APP0 (skipped by the marker walk), then SOF0 with dims
    app0 = b"\xff\xe0" + (15).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 8
    sof0 = (
        b"\xff\xc0"
        + (17).to_bytes(2, "big")
        + b"\x08"
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + b"\x03" + b"\x00" * 9
    )
    return b"\xff\xd8" + app0 + sof0


def test_decode_media_on_a_stream(spark, tmp_path):
    """``fan_out`` passes a streaming frame through (it has no RDD to
    probe), so the multimodal kernels run inside a streaming query."""
    from etl_work_flow_for_big_data_spark.sources.registry import DEFAULT as SOURCES

    schema = "doc_id long, content binary"
    src = str(tmp_path / "media")
    spark.createDataFrame([(1, _png(640, 480)), (2, _gif(3, 2))], schema).write.parquet(src)
    got = []
    q = (
        decode_media(SOURCES.read_stream(spark, "parquet", src, schema), "doc_id")
        .writeStream.foreachBatch(lambda batch, _: got.extend(batch.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert {r["id"]: (r["format"], r["width"], r["height"]) for r in got} == {
        1: ("png", 640, 480),
        2: ("gif", 3, 2),
    }


def test_decode_media_parses_headers(spark):
    from etl_work_flow_for_big_data_spark.multimodal.columns import HEADER_FORMATS

    payloads = [
        (1, _png(640, 480)),
        (2, _gif(320, 200)),
        (3, _bmp(800, 600)),
        (4, _jpeg(1024, 768)),
        (5, b"not an image at all"),
        (6, b"\x89PN"),  # truncated BEFORE the full magic: unknown
        (7, None),  # null payload: all-null row, not a task failure
        (8, b"\x89PNG\r\n\x1a\n\x00\x00"),  # full magic, dims truncated
        (9, b"GIF89a\x01"),
        (10, b"BM\x00"),
        (11, b"\xff\xd8\xff"),  # JPEG SOI, SOF missing
        # JPEG with 0xFF fill bytes padding between segments (legal per
        # spec): the walk must skip fills, not read a garbage length
        (12, b"\xff\xd8" + b"\xff\xff\xff" + _jpeg(99, 77)[2:]),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, content binary")
    rows = {r["id"]: r for r in decode_media(df, "doc_id").collect()}
    assert (rows[1]["format"], rows[1]["width"], rows[1]["height"]) == ("png", 640, 480)
    assert (rows[2]["format"], rows[2]["width"], rows[2]["height"]) == ("gif", 320, 200)
    assert (rows[3]["format"], rows[3]["width"], rows[3]["height"]) == ("bmp", 800, 600)
    assert (rows[4]["format"], rows[4]["width"], rows[4]["height"]) == (
        "jpeg",
        1024,
        768,
    )
    assert rows[5]["format"] is None and rows[5]["width"] is None
    assert rows[6]["format"] is None
    assert rows[5]["n_bytes"] == len(b"not an image at all")
    assert rows[7]["format"] is None and rows[7]["n_bytes"] is None
    # recognized magic + truncated header → (format, null, null),
    # consistently for every format in HEADER_FORMATS
    truncated = {8: "png", 9: "gif", 10: "bmp", 11: "jpeg"}
    assert set(truncated.values()) == set(HEADER_FORMATS)
    for i, fmt in truncated.items():
        assert (rows[i]["format"], rows[i]["width"], rows[i]["height"]) == (
            fmt,
            None,
            None,
        ), fmt
    assert (rows[12]["format"], rows[12]["width"], rows[12]["height"]) == (
        "jpeg",
        99,
        77,
    )


@pytest.mark.parametrize(
    "fmt,payload",
    [
        ("png", _png(0xFFFFFFFF, 1)[:24]),  # width 2^32-1, 24-byte IHDR
        ("bmp", _bmp(1, 2**31)),  # height field -2^31
    ],
    ids=["png", "bmp"],
)
def test_decode_media_out_of_int32_dims_are_null(spark, fmt, payload):
    """A header dimension the int width/height columns cannot hold is
    a corrupt record: one row with null dims, never a task failure."""
    df = spark.createDataFrame([(1, payload)], "doc_id long, content binary")
    rows = decode_media(df, "doc_id").collect()
    assert [(r["format"], r["width"], r["height"], r["n_bytes"]) for r in rows] == [
        (fmt, None, None, len(payload))
    ]


def test_jpeg_walk_progressive_and_exif_variants():
    """The two most common real-world JPEG shapes beyond baseline JFIF:
    progressive encoding (SOF2 instead of SOF0) and an EXIF preamble
    (APP1 segment, often kilobytes of TIFF data, before any SOF).
    Direct `_parse_header` unit — the walk is pure stdlib."""
    from etl_work_flow_for_big_data_spark.multimodal.columns import _parse_header

    # progressive: SOF2 (0xC2) carries dims exactly like SOF0
    sof2 = (
        b"\xff\xc2"
        + (17).to_bytes(2, "big")
        + b"\x08"
        + (768).to_bytes(2, "big")
        + (1024).to_bytes(2, "big")
        + b"\x03" + b"\x00" * 9
    )
    assert _parse_header(b"\xff\xd8" + sof2) == ("jpeg", 1024, 768)

    # EXIF preamble: APP1 with "Exif\0\0" + TIFF body precedes SOF; the
    # walk must skip the whole segment by its declared length — the TIFF
    # body below deliberately embeds 0xFFC0-looking bytes that a naive
    # scan-for-marker would misread as a SOF with garbage dims
    tiff = b"MM\x00\x2a" + b"\xff\xc0\x12\x34" + b"\x00" * 20
    app1_body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + (2 + len(app1_body)).to_bytes(2, "big") + app1_body
    assert _parse_header(b"\xff\xd8" + app1 + _jpeg(640, 480)[2:]) == (
        "jpeg",
        640,
        480,
    )
    # EXIF preamble + progressive combined, and truncation after APP1
    assert _parse_header(b"\xff\xd8" + app1 + sof2) == ("jpeg", 1024, 768)
    assert _parse_header(b"\xff\xd8" + app1) == ("jpeg", None, None)


def test_metadata_scan_prunes_payload(media, tmp_path):
    """Metadata-only query over parquet must not read the content column
    (ReadSchema shows the pruned scan)."""
    path = str(tmp_path / "media")
    media.write.mode("overwrite").parquet(path)
    spark = media.sparkSession
    plan = (
        spark.read.parquet(path)
        .select(F.col("media_meta.n_bytes"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "content" not in plan


def test_resize_media_strides_bytes(media):
    from etl_work_flow_for_big_data_spark.multimodal.columns import resize_media

    rows = {r["id"]: r for r in resize_media(media, "doc_id", factor=4).collect()}
    assert bytes(rows[1]["resized"]) == b"hello world"[::4]
    assert rows[2]["n_bytes"] == 130
    assert len(bytes(rows[2]["resized"])) == 33  # ceil(130/4)


@pytest.mark.parametrize(
    "kernel",
    ["decode_media", "decode_pixels", "extract_features", "resize_media", "sample_frames"],
)
def test_null_payload_rule(spark, kernel):
    """A NULL payload never fails the task: the 1-to-1 kernels give it
    an all-null row, ``sample_frames`` gives it zero rows; the non-null
    payload beside it still gets its output."""
    from etl_work_flow_for_big_data_spark.multimodal import columns

    df = spark.createDataFrame([(1, None), (2, b"hello")], "doc_id long, content binary")
    if kernel == "decode_pixels":
        out = columns.decode_pixels(df, decoder=lambda b: (len(b), 1, "L", b))
    else:
        out = getattr(columns, kernel)(df, "doc_id")
    rows = out.collect()
    assert 2 in {r["id"] for r in rows}
    nulls = [r for r in rows if r["id"] == 1]
    if kernel == "sample_frames":
        assert nulls == []
    else:
        assert len(nulls) == 1
        assert all(v is None for k, v in nulls[0].asDict().items() if k != "id")
