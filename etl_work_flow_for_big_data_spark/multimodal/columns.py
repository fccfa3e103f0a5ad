"""Multimodal column plumbing: binary payloads + metadata + Pandas-UDF
feature extraction (SURVEY.md §2.I I5).

Media columns are opaque ``binary`` with a typed metadata struct. Every
media operator is one per-record function plugged into one kernel,
``_media_kernel``: a ``fan_out`` projection of (id, content) and one
Arrow-batched ``mapInPandas`` (never row-at-a-time Python) that hands
each payload to the function and prefixes the record's id to every
output row. Each function states its NULL rule, and a NULL or corrupt
payload yields null output, never a task failure. The functions:

- ``decode_media``: REAL header-level decode — container format +
  pixel dimensions parsed from magic bytes (PNG/GIF/BMP/JPEG), zero
  dependencies;
- ``decode_pixels``: real PIL-backed pixel decode when PIL is
  importable (or any injected per-record decoder); otherwise raises
  ``NotImplementedError`` with wiring instructions (the honest gate —
  no fake pixels, ever);
- ``extract_features`` / ``resize_media`` / ``sample_frames``:
  deterministic, SQL-recomputable fakes of embedding, thumbnailing and
  frame extraction (1-to-N) that exercise the REAL Spark plumbing.

At 100 TB: binaries ride in their own column (parquet column pruning
keeps metadata-only queries from touching bytes); mapInPandas keeps
the Python boundary amortized over Arrow batches.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.catalog import fan_out

#: schema of the metadata struct attached alongside every media column
MEDIA_META_SCHEMA = "struct<mime:string,n_bytes:long,source:string>"


def attach_binary(
    df: DataFrame, text_col: str, mime: str = "application/octet-stream"
) -> DataFrame:
    """Materialize a binary media column (here: utf-8 bytes of a text
    column — the fixture stand-in for real image/audio payloads) plus
    its metadata struct."""
    content = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("content", content).withColumn(
        "media_meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.octet_length(content).cast("long").alias("n_bytes"),
            F.col("source").alias("source")
            if "source" in df.columns
            else F.lit(None).cast("string").alias("source"),
        ),
    )


#: container formats whose headers ``decode_media`` parses natively
HEADER_FORMATS = ("png", "gif", "bmp", "jpeg")

DECODE_SCHEMA = "id long, format string, width int, height int, n_bytes long"


def _int32_dims(fmt: str, w: int, h: int) -> tuple[str, int | None, int | None]:
    if w > 2**31 - 1 or h > 2**31 - 1:
        return (fmt, None, None)
    return (fmt, w, h)


def _parse_header(b: bytes) -> tuple[str | None, int | None, int | None]:
    """(format, width, height) from container magic bytes — pure
    stdlib, no imaging dependency. Unknown payloads return
    (None, None, None); a recognized magic with a truncated/missing
    dimension header returns (format, None, None) — consistently for
    every format. A PNG or BMP dimension above 2^31-1 (the int
    columns of ``DECODE_SCHEMA`` cannot hold it) is a corrupt header
    and gets the truncated-header answer too. Never raises: at 100 TB
    a corrupt record must not kill the task."""
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        if len(b) < 24:  # magic present, IHDR dims truncated
            return ("png", None, None)
        # 8-byte signature, IHDR length+type, then 4-byte BE width/height
        return _int32_dims(
            "png",
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
        )
    if b[:6] in (b"GIF87a", b"GIF89a"):
        if len(b) < 10:
            return ("gif", None, None)
        # logical screen descriptor: 2-byte LE width/height at offset 6
        return (
            "gif",
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
        )
    if b[:2] == b"BM":
        if len(b) < 26:
            return ("bmp", None, None)
        # BITMAPINFOHEADER: 4-byte LE signed width/height at 18/22
        # (height may be negative = top-down rows)
        w = int.from_bytes(b[18:22], "little", signed=True)
        h = int.from_bytes(b[22:26], "little", signed=True)
        return _int32_dims("bmp", abs(w), abs(h))
    if b[:2] == b"\xff\xd8":
        # walk marker segments to the first SOFn (dimensions live there)
        o, n = 2, len(b)
        while o + 9 <= n and b[o] == 0xFF:
            # 0xFF fill/padding bytes are legal between segments: the
            # marker is the first non-0xFF byte. Without this skip, a
            # fill byte falls into the length-skip branch and reads a
            # garbage length, derailing the walk.
            if b[o + 1] == 0xFF:
                o += 1
                continue
            marker = b[o + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                o += 2  # standalone marker, no length field
                continue
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                return (
                    "jpeg",
                    int.from_bytes(b[o + 7 : o + 9], "big"),
                    int.from_bytes(b[o + 5 : o + 7], "big"),
                )
            o += 2 + int.from_bytes(b[o + 2 : o + 4], "big")
        return ("jpeg", None, None)
    return (None, None, None)


def _media_kernel(
    df: DataFrame,
    id_col: str,
    content_col: str,
    schema: str,
    per_record: Callable[[bytes | None], Iterable[tuple]],
) -> DataFrame:
    """The one Arrow-batched shell behind every media operator:
    ``per_record`` gets each payload as ``bytes`` (``None`` for NULL)
    and returns that record's output tuples — one for a 1-to-1 kernel,
    any number for a 1-to-N one. Each tuple gets the record's id in
    front and fills ``schema``'s columns by position."""
    # fan_out (r15): a one-file binary table scans as ONE task, so the
    # whole Arrow kernel ran in a single Python worker; no-op when the
    # input already has >= cores splits (see catalog.fan_out)
    src = fan_out(
        df.select(F.col(id_col).alias("id"), F.col(content_col).alias("content"))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # integer column labels: Spark fills ``schema`` by position
            yield pd.DataFrame.from_records(
                [
                    (i, *out)
                    for i, b in zip(pdf["id"], pdf["content"])
                    for out in per_record(None if b is None else bytes(b))
                ]
            )

    return src.mapInPandas(run, schema=schema)


def decode_media(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """Header-level media decode, dependency-free: container format and
    pixel dimensions parsed from magic bytes (PNG IHDR, GIF logical
    screen descriptor, BMP BITMAPINFOHEADER, JPEG SOFn scan) in an
    Arrow-batched ``mapInPandas`` kernel. Unknown formats / truncated
    headers yield null format/dims — never a task failure. Full pixel
    decode (the PIL/ffmpeg slot) remains honestly gated in
    ``decode_pixels``."""

    def header(b: bytes | None) -> list[tuple]:
        if b is None:  # NULL payload (routine in binary columns) → all-null row
            return [(None, None, None, None)]
        return [(*_parse_header(b), len(b))]

    return _media_kernel(df, id_col, content_col, DECODE_SCHEMA, header)


PIXELS_SCHEMA = "id long, width int, height int, mode string, pixels binary"


def decode_pixels(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    decoder=None,
) -> DataFrame:
    """Full pixel decode through the standard Arrow ``mapInPandas``
    shape (same plumbing as ``decode_media``/``extract_features``).
    ``content_col`` keeps its historical second-positional slot.

    Decoder resolution, honest at every step:

    - ``decoder`` given — a ``bytes -> (width, height, mode,
      pixel_bytes)`` callable — it is used as-is (the injection seam,
      also how the decode path is exercised in imaging-less CI);
    - PIL importable — PIL-backed decode (``Image.open`` + ``load`` +
      ``tobytes``), imported INSIDE the kernel so each executor
      resolves it locally;
    - neither — ``NotImplementedError`` with wiring instructions.
      Gate, don't fake: no synthetic pixels from this function, ever.

    Per-record DECODE failures (corrupt/unknown/null payloads) yield
    all-null rows, never task failures — at 100 TB a corrupt record
    must not kill the job (same contract as ``decode_media``).
    ``ImportError`` and ``MemoryError`` inside the kernel are NOT
    record failures and are re-raised: an executor without PIL, or one
    whose memory a payload exhausts mid-decode, must fail the task
    loudly, not silently null out its whole partition.
    """
    if decoder is None:
        try:
            import importlib

            importlib.import_module("PIL.Image")
        except ImportError as exc:
            raise NotImplementedError(
                "pixel decode requires PIL (or an injected decoder); "
                "neither is available in this environment. Wire a real "
                "decoder as decode_pixels(df, decoder=fn) where fn: "
                "bytes -> (width, height, mode, pixel_bytes), or "
                "install pillow. The surrounding Spark plumbing "
                "(schema, Arrow batching, partition parallelism) is "
                "exercised by the injected-decoder tests, and "
                "header-level format/dimension decode is available "
                "dependency-free via decode_media."
            ) from exc

        def decoder(b: bytes):
            import io

            from PIL import Image

            img = Image.open(io.BytesIO(b))
            img.load()
            return (img.width, img.height, img.mode, img.tobytes())

    def pixels(b: bytes | None) -> list[tuple]:
        if b is not None:  # NULL payload → all-null row
            try:
                w, h, mode, pix = decoder(b)
                return [(w, h, mode, pix)]
            except (ImportError, MemoryError):
                # systemic, not per-record: executor lacks the imaging
                # library, or the payload OOMed the decode — fail the
                # task, don't silently null data
                raise
            except Exception:  # corrupt/unknown payload → null row
                pass
        return [(None, None, None, None)]

    return _media_kernel(df, id_col, content_col, PIXELS_SCHEMA, pixels)


FEATURE_SCHEMA = "id long, n_bytes long, features array<float>"


def extract_features(df: DataFrame, id_col: str, content_col: str = "content") -> DataFrame:
    """Deterministic fake feature extraction over Arrow batches — the
    mapInPandas twin of a real embedding model. Features are a stable,
    cross-engine-checkable function of the bytes: byte length plus
    three 16-bit words of the md5 digest (each < 2^24, so exact in
    float32). An oracle can recompute every value in pure SQL
    (octet_length + md5 hex substrings), which lets the driver
    hash-check this Python stage end-to-end."""
    import hashlib

    def featurize(b: bytes | None) -> list[tuple]:
        # NULL payload → all-null row (duck's md5(NULL) is NULL)
        if b is None:
            return [(None, None)]
        h = hashlib.md5(b).hexdigest()
        words = [float(int(h[j : j + 4], 16)) for j in (0, 4, 8)]
        return [(len(b), [float(len(b)), *words])]

    return _media_kernel(df, id_col, content_col, FEATURE_SCHEMA, featurize)


RESIZE_SCHEMA = "id long, n_bytes long, resized binary"


def resize_media(
    df: DataFrame, id_col: str, content_col: str = "content", factor: int = 4
) -> DataFrame:
    """Deterministic fake resize (image-downsample twin): keep every
    ``factor``-th byte — the 1-to-1 binary→binary mapInPandas shape a
    real thumbnailer/resampler uses (smaller payload out, same row
    count). Exact values are SQL-recomputable over ASCII fixtures, so
    the Python stage is oracle-checkable like the feature/frame
    fakes."""

    def resize(b: bytes | None) -> list[tuple]:
        if b is None:  # NULL payload → all-null row
            return [(None, None)]
        return [(len(b), b[::factor])]

    return _media_kernel(df, id_col, content_col, RESIZE_SCHEMA, resize)


FRAME_SCHEMA = "id long, frame_idx int, frame_bytes binary"


def sample_frames(
    df: DataFrame, id_col: str, content_col: str = "content", stride: int = 64
) -> DataFrame:
    """Deterministic fake frame sampling (video-decode twin): slices
    the payload every ``stride`` bytes, one output row per 'frame' —
    exercises the 1-to-N mapInPandas shape real frame extraction uses."""

    def frames(b: bytes | None) -> list[tuple]:
        # NULL payload → no frames (a 1-to-N stage's natural null
        # semantics: nothing to slice, zero output rows — matches the
        # oracle's empty generate_series)
        if b is None:
            return []
        n = max(1, (len(b) + stride - 1) // stride)
        return [(k, b[k * stride : (k + 1) * stride]) for k in range(n)]

    return _media_kernel(df, id_col, content_col, FRAME_SCHEMA, frames)
