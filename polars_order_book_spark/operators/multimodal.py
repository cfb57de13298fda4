"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Treats image/audio/video as ``binary`` columns with typed metadata, processed
by Arrow-batched ``mapInPandas`` — the Spark pattern for decode / resize /
feature-extract at 100 TB (each batch is one Arrow RecordBatch; no per-row
Python).

Codec strategy (import-try gated): real codecs (PIL for images, soundfile for
audio) are attempted at import time; payloads bearing real-format magic bytes
decode through them when present and raise ``NotImplementedError`` when not.
Payloads WITHOUT real magic (e.g. the testdata's utf-8 stand-ins) always take
the deterministic fake path (``decode_image_stub``), whose outputs are pure
functions of the bytes — so the Spark-side plumbing (schema, batching, UDF
signature) stays real and oracle-checkable in any environment, and a
codec-equipped cluster changes only the real-magic branch.
"""

from __future__ import annotations

import importlib

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
)

from polars_order_book_spark.operators.order_book import _register_self_by_value


def _import_optional(name: str):
    """Best-effort import of an optional codec library; None when absent."""
    try:
        return importlib.import_module(name)
    except Exception:
        return None


# Ship this module inside UDF closures (pickle-by-value) so executors don't
# need the package on their PYTHONPATH — same contract as operators/
# order_book.py. Without this, mapInPandas closures referencing module-level
# decode_* fail with ModuleNotFoundError on workers (caught by the /verify
# outside-repo recipe, r5).
_register_self_by_value(__name__)


# Detected once at import; decode functions accept an explicit module handle
# so both branches are unit-testable in a codec-less container.
_PIL_IMAGE = _import_optional("PIL.Image")
_SOUNDFILE = _import_optional("soundfile")
_DETECT = object()  # sentinel: "use the detected module"

# Magic prefixes containing non-ASCII bytes (\x89, \xff) cannot occur in
# utf-8 text payloads; ASCII-lookalike prefixes (GIF8, RIFF, fLaC, OggS) CAN
# ("GIF89a is an image format..." is valid prose), so those additionally
# require binary evidence — a NUL byte in the head — before the payload is
# routed to a real codec. Text never contains NUL; every real container
# format has one in its first bytes (length/version/reserved fields).
_IMAGE_MAGIC_BINARY = (b"\x89PNG", b"\xff\xd8\xff")
_IMAGE_MAGIC_ASCII = (b"GIF87a", b"GIF89a", b"BM", b"RIFF")
_AUDIO_MAGIC_BINARY: tuple[bytes, ...] = ()
_AUDIO_MAGIC_ASCII = (b"RIFF", b"fLaC", b"OggS")

_IMAGE_MAGIC = (_IMAGE_MAGIC_BINARY, _IMAGE_MAGIC_ASCII)
_AUDIO_MAGIC = (_AUDIO_MAGIC_BINARY, _AUDIO_MAGIC_ASCII)


def _has_magic(payload: bytes, magics) -> bool:
    binary, ascii_ = magics
    head = bytes(payload[:8])
    if any(head.startswith(m) for m in binary):
        return True
    if any(head.startswith(m) for m in ascii_):
        return b"\x00" in bytes(payload[:64])
    return False


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a binary payload column from text (the testdata has no real
    media; utf-8 bytes stand in for an encoded image)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def decode_image_stub(payload: bytes) -> dict:
    """Deterministic fake decode for payloads without real-format magic —
    dimensions are pure functions of the byte length (oracle-checkable)."""
    if _has_magic(payload, _IMAGE_MAGIC):
        raise NotImplementedError(
            "payload has real image magic bytes; decode_image_stub only fakes "
            "non-image payloads — route through decode_image"
        )
    n = len(payload)
    return {
        "n_bytes": n,
        "first_byte": payload[0] if n else 0,
        "fake_width": 64 + n % 512,
        "fake_height": 64 + (n * 7) % 512,
        "fake_channels": 3,
    }


# PNG color type -> band count, exactly PIL's getbands() for each mode:
# 0 grayscale (L), 2 truecolor (RGB), 3 palette (P -> 1 band), 4 gray+alpha
# (LA), 6 truecolor+alpha (RGBA).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_png_header(b: bytes) -> "dict | None":
    """Pure-Python PNG IHDR parse — (width, height, channels) straight from
    the header bytes, no codec library. Layout (PNG spec §5.2/§11.2.2):
    8-byte signature, then the IHDR chunk (4-byte length, 'IHDR', width u32be,
    height u32be, bit depth u8, color type u8). Returns None when the payload
    is not a well-formed PNG head."""
    import struct

    if len(b) < 26 or not b.startswith(b"\x89PNG\r\n\x1a\n") or b[12:16] != b"IHDR":
        return None
    width, height = struct.unpack(">II", b[16:24])
    color_type = b[25]
    if color_type not in _PNG_CHANNELS:
        return None
    return {"width": width, "height": height, "channels": _PNG_CHANNELS[color_type]}


def parse_wav_header(b: bytes) -> "dict | None":
    """Pure-Python RIFF/WAVE parse — sample rate / channels / frame count from
    the fmt and data chunk headers, no codec library. Walks the RIFF chunk
    list (4-byte id, u32le size, payload padded to even). Returns None when
    the payload is not a well-formed WAV."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, rate, channels, block_align, data_size = 12, None, None, None, None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        (size,) = struct.unpack("<I", b[pos + 4:pos + 8])
        if cid == b"fmt " and pos + 8 + 16 <= len(b):
            channels, rate, _byte_rate, block_align = struct.unpack(
                "<HIIH", b[pos + 10:pos + 22]
            )
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size % 2)
    if rate is None or not channels or not block_align:
        return None
    frames = (data_size // block_align) if data_size is not None else 0
    return {"sample_rate": rate, "channels": channels, "frames": frames}


def decode_image(payload: bytes, image_module=_DETECT) -> dict:
    """Import-try-gated image decode with a header-parse fallback.

    Real-format payloads (PNG/JPEG/GIF/BMP/RIFF magic) decode through PIL when
    it is importable — emitting REAL width/height/channels in the same columns.
    Without PIL, PNG payloads fall back to the pure-Python IHDR parse (same
    real dimensions, zero dependencies); other real formats raise
    ``NotImplementedError``. Everything else takes the deterministic stub.
    ``image_module`` overrides the detected codec (tests inject a fake PIL,
    or None to simulate its absence).
    """
    mod = _PIL_IMAGE if image_module is _DETECT else image_module
    b = bytes(payload)
    if _has_magic(b, _IMAGE_MAGIC):
        if mod is None:
            hdr = parse_png_header(b)
            if hdr is None:
                raise NotImplementedError(
                    "real image payload but no codec available (install Pillow; "
                    "only PNG parses codec-free)"
                )
            return {
                "n_bytes": len(b),
                "first_byte": b[0] if b else 0,
                "fake_width": hdr["width"],
                "fake_height": hdr["height"],
                "fake_channels": hdr["channels"],
            }
        import io

        img = mod.open(io.BytesIO(b))
        width, height = img.size
        return {
            "n_bytes": len(payload),
            "first_byte": payload[0] if len(payload) else 0,
            "fake_width": int(width),
            "fake_height": int(height),
            "fake_channels": len(img.getbands()),
        }
    return decode_image_stub(payload)


def decode_audio(payload: bytes, audio_module=_DETECT) -> dict:
    """Import-try-gated audio decode: RIFF/FLAC/Ogg magic routes through
    soundfile when importable (real sample rate / frames / channels), raises
    when not; other payloads take the deterministic fake tier model."""
    mod = _SOUNDFILE if audio_module is _DETECT else audio_module
    b = bytes(payload)
    n = len(b)
    if _has_magic(b, _AUDIO_MAGIC):
        if mod is None:
            hdr = parse_wav_header(b)
            if hdr is None:
                raise NotImplementedError(
                    "real audio payload but no codec available (install "
                    "soundfile; only WAV parses codec-free)"
                )
            rate = hdr["sample_rate"]
            return {
                "n_bytes": n,
                "fake_sample_rate": rate,
                "fake_duration_ms": int(hdr["frames"] * 1000 // rate) if rate else 0,
                "fake_channels": hdr["channels"],
                "rms_proxy": sum(b) // n if n else 0,
            }
        import io

        info = mod.info(io.BytesIO(b))
        rate = int(info.samplerate)
        return {
            "n_bytes": n,
            "fake_sample_rate": rate,
            "fake_duration_ms": int(info.frames * 1000 // rate) if rate else 0,
            "fake_channels": int(info.channels),
            "rms_proxy": sum(b) // n if n else 0,
        }
    rate = 8000 * (1 + n % 3)  # 8/16/24 kHz fake tiers
    return {
        "n_bytes": n,
        "fake_sample_rate": rate,
        "fake_duration_ms": (n * 1000) // (rate * 2) if n else 0,
        "fake_channels": 1 + n % 2,
        "rms_proxy": sum(b) // n if n else 0,
    }


IMAGE_FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("first_byte", LongType()),
    StructField("fake_width", LongType()),
    StructField("fake_height", LongType()),
    StructField("fake_channels", LongType()),
])


def extract_image_features(df: DataFrame, id_col: str = "doc_id",
                           payload_col: str = "payload") -> DataFrame:
    """mapInPandas feature extraction over binary payloads. Batch shape: each
    Arrow batch becomes one pandas DataFrame; output rows align 1:1."""

    none_row = {k: None for k in
                ("n_bytes", "first_byte", "fake_width", "fake_height",
                 "fake_channels")}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads (attach_payload emits them for NULL text) yield
            # a NULL-feature row instead of crashing the executor on
            # bytes(None) — the 1:1 row alignment the docstring promises
            # (r8 self-review).
            feats = [decode_image(p) if p is not None else dict(none_row)
                     for p in pdf[payload_col]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf[id_col].to_numpy())
            yield out

    return df.select(id_col, payload_col).mapInPandas(run, IMAGE_FEATURE_SCHEMA)


AUDIO_FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("fake_sample_rate", LongType()),
    StructField("fake_duration_ms", LongType()),
    StructField("fake_channels", LongType()),
    StructField("rms_proxy", LongType()),
])


def extract_audio_features_stub(df: DataFrame, id_col: str = "doc_id",
                                payload_col: str = "payload") -> DataFrame:
    """Audio-modality plumbing (mapInPandas over binary): real-magic payloads
    decode through soundfile when importable (see ``decode_audio``); others
    get deterministic fake sample-rate/duration/loudness derived from the
    bytes. rms_proxy = mean byte value, the cheapest 'loudness' stand-in that
    is a pure function of the payload."""

    none_row = {k: None for k in
                ("n_bytes", "fake_sample_rate", "fake_duration_ms",
                 "fake_channels", "rms_proxy")}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads -> NULL-feature rows, same contract as
            # extract_image_features (r8 self-review)
            out = [decode_audio(p) if p is not None else dict(none_row)
                   for p in pdf[payload_col]]
            res = pd.DataFrame(out)
            res.insert(0, "doc_id", pdf[id_col].to_numpy())
            yield res

    return df.select(id_col, payload_col).mapInPandas(run, AUDIO_FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("out_bytes", LongType()),
    StructField("resized_md5", StringType()),
])


def resize_image_stub(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    target_w: int = 32,
    target_h: int = 32,
) -> DataFrame:
    """Resize plumbing over binary payloads (mapInPandas, binary in → derived
    bytes out). Real-magic payloads resize through PIL when importable (md5
    over the raw RGB pixel bytes — deterministic given the decode); other
    payloads use the deterministic stand-in, a prefix crop to the target byte
    budget (w·h·3/8). Output carries the md5 of the resized payload so results
    are comparable across engines without shipping raw bytes through the
    comparator."""
    import hashlib

    budget = target_w * target_h * 3 // 8

    def resize_one(p: "bytes | None") -> "bytes | None":
        if p is None:
            return None  # NULL payload -> NULL resized bytes (r8 review)
        b = bytes(p)
        if _has_magic(b, _IMAGE_MAGIC):
            if _PIL_IMAGE is None:
                raise NotImplementedError(
                    "real image payload but no codec available (install Pillow)"
                )
            import io

            img = _PIL_IMAGE.open(io.BytesIO(b)).convert("RGB")
            return img.resize((target_w, target_h)).tobytes()
        return b[:budget]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [resize_one(p) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].to_numpy(),
                    "out_bytes": [len(r) if r is not None else None
                                  for r in resized],
                    "resized_md5": [hashlib.md5(r).hexdigest() if r is not None
                                    else None for r in resized],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, RESIZE_SCHEMA)


def frame_sample_stub(df: DataFrame, id_col: str = "doc_id",
                      payload_col: str = "payload", every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' plumbing: one output row per sampled offset per doc —
    the explode shape a video pipeline produces (doc → frames). Offsets are
    byte positions; a real implementation would seek keyframes."""
    if every_n_bytes <= 0:
        raise ValueError(f"every_n_bytes must be > 0, got {every_n_bytes}")
    n = F.length(F.col(payload_col))
    # sequence(0, -1) generates a DESCENDING [0, -1] — an empty/NULL payload
    # would emit two spurious frames (byte_offset 0 and -64) instead of
    # none (r8 self-review). Empty docs sample zero frames.
    offsets = F.when(
        n > 0,
        F.sequence(F.lit(0), F.floor((n - 1) / F.lit(every_n_bytes)).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    return df.select(
        F.col(id_col),
        F.explode(offsets).alias("frame_no"),
    ).select(
        F.col(id_col),
        F.col("frame_no").cast("long").alias("frame_no"),
        (F.col("frame_no") * every_n_bytes).cast("long").alias("byte_offset"),
    )
