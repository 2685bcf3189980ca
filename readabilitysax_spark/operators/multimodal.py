"""Multimodal column plumbing: image/audio/video/PDF assets as opaque
binary + typed metadata, audited in ONE Arrow-batched ``mapInArrow``
pass (``media_audit``).

The decode step is REAL for two modalities, pure stdlib (no PIL/ffmpeg
in this container):

* image/png  — PNG signature + IHDR chunk parse (width, height, bit
  depth, color type) with CRC verification; IDAT is not rasterized.
* audio/wav  — RIFF/WAVE parse via stdlib ``wave`` (channels, sample
  rate, sample width, frame count → duration).
* video/mp4  — container-level only: the ftyp box (major brand) is
  parsed, but frame decode needs a codec stack this container lacks,
  so ``decode_ok`` is False for video by design (documented stub).

Every stage is a per-row function of the asset (``synth_asset``,
``decode_media``, ``resize_asset``, ``sample_asset_frames``), so the
stages are testable without Spark and the Spark pass is one loop.
Spark-side design is the real point at 100 TB: binary payloads stay in
one Arrow-batched pass, the output prunes the payload column so
downstream stages never shuffle the heavy bytes, and size-skewed media
blobs take the same Arrow batch caps as HTML extraction
(operators/extract.py).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from ..sources.pdfgen import synth_doc_pdf
from .pdftext import extract_text_from_pdf

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
RESIZE_MAX_SIDE = 32  # media_audit resizes images to fit this box
FRAME_EVERY_N = 100  # media_audit keeps every n-th audio sample
_EMPTY = {
    "width": None, "height": None, "bit_depth": None, "color_type": None,
    "sample_rate": None, "n_channels": None, "n_samples": None,
    "duration_s": None, "container_brand": None,
}


def decode_png(payload: bytes) -> dict | None:
    """Parse PNG signature + IHDR (the spec's first chunk): returns
    width/height/bit_depth/color_type, or None if not a valid PNG.
    CRC of the IHDR chunk is verified (zlib.crc32 per the PNG spec)."""
    if len(payload) < 33 or not payload.startswith(_PNG_SIG):
        return None
    (length,) = struct.unpack(">I", payload[8:12])
    if payload[12:16] != b"IHDR" or length != 13:
        return None
    ihdr = payload[16:29]
    (crc,) = struct.unpack(">I", payload[29:33])
    if zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF != crc:
        return None
    width, height, bit_depth, color_type = struct.unpack(">IIBB", ihdr[:10])
    if width == 0 or height == 0:
        return None
    out = dict(_EMPTY)
    out.update(width=width, height=height, bit_depth=bit_depth,
               color_type=color_type)
    return out


def decode_wav(payload: bytes) -> dict | None:
    """Parse a RIFF/WAVE header with stdlib ``wave``: sample rate,
    channels, frame count, duration. Returns None on malformed input."""
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            rate = w.getframerate()
            n = w.getnframes()
            out = dict(_EMPTY)
            out.update(
                sample_rate=rate,
                n_channels=w.getnchannels(),
                n_samples=n,
                duration_s=round(n / rate, 6) if rate else None,
            )
            return out
    except (wave.Error, EOFError, struct.error):
        return None


def parse_mp4_ftyp(payload: bytes) -> dict | None:
    """Container-level MP4 parse: the leading ftyp box's major brand.
    Frame/codec decode is intentionally NOT implemented (no codec stack
    in this container) — callers get decode_ok=False for video."""
    if len(payload) < 12:
        return None
    (size,) = struct.unpack(">I", payload[0:4])
    if payload[4:8] != b"ftyp" or size < 12 or size > len(payload):
        return None
    out = dict(_EMPTY)
    out["container_brand"] = payload[8:12].decode("ascii", "replace")
    return out


def decode_media(media_type: str, payload: bytes) -> tuple[bool, dict]:
    """(decode_ok, features) for one blob. Video is container-parse
    only → decode_ok False even when the ftyp box is readable."""
    if media_type == "image/png":
        f = decode_png(payload)
        return (True, f) if f else (False, dict(_EMPTY))
    if media_type == "audio/wav":
        f = decode_wav(payload)
        return (True, f) if f else (False, dict(_EMPTY))
    f = parse_mp4_ftyp(payload)
    return False, (f if f else dict(_EMPTY))


# ---- deterministic synthesis (test fixture; real, decodable bytes) ----
#
# Sized so every decoded feature is an analytic function of doc_id and
# therefore DuckDB-oracle-checkable:
#   png: width = 1 + id%64, height = 1 + id%48, 8-bit grayscale,
#        IDAT stored (zlib level 0) → n_bytes = 68 + height*(1+width)
#   wav: mono 16-bit, rate = 8000 + (id%5)*1000, frames = 400 + id%100
#        → n_bytes = 44 + 2*frames (stdlib wave header is 44 bytes)
#   mp4: 16-byte ftyp('isom') box + utf-8 text → n_bytes = 16 + len(text)

def _encode_gray_png(width: int, height: int, rows: list[bytes]) -> bytes:
    """8-bit grayscale PNG, filter-0 scanlines, stored IDAT (zlib level
    0) so the size is analytic: n_bytes = 68 + height*(1+width)."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    raw = b"".join(b"\x00" + r for r in rows)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 0)) + chunk(b"IEND", b""))


def synth_png(doc_id: int) -> bytes:
    width = 1 + doc_id % 64
    height = 1 + doc_id % 48
    return _encode_gray_png(width, height, [
        bytes((doc_id + x + y) % 256 for x in range(width))
        for y in range(height)
    ])


def synth_wav(doc_id: int) -> bytes:
    rate = 8000 + (doc_id % 5) * 1000
    n_frames = 400 + doc_id % 100
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            b"".join(
                struct.pack("<h", ((doc_id * 131 + i * 17) % 2048) - 1024)
                for i in range(n_frames)
            )
        )
    return buf.getvalue()


def synth_mp4(doc_id: int, text: str) -> bytes:
    body = text.encode("utf-8")
    return struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", doc_id & 0xFFFFFFFF) + body


def synth_asset(doc_id: int, text: str) -> tuple[str, bytes]:
    """(media_type, payload) of one documents row: the modality rotates
    by doc_id % 3 over png, wav and mp4."""
    kind = doc_id % 3
    if kind == 0:
        return "image/png", synth_png(doc_id)
    if kind == 1:
        return "audio/wav", synth_wav(doc_id)
    return "video/mp4", synth_mp4(doc_id, text)


# ---- per-row stages: resize / frame-sample / the audit row ----

def decode_png_pixels(payload: bytes) -> tuple[int, int, list[bytes]] | None:
    """Decode an 8-bit grayscale PNG with filter-0 scanlines (the shape
    this module synthesizes) to (width, height, rows). Returns None for
    other color types / filters — honestly partial, the way a pure-
    stdlib decoder must be."""
    meta = decode_png(payload)
    if not meta or meta["bit_depth"] != 8 or meta["color_type"] != 0:
        return None
    w, h = meta["width"], meta["height"]
    # concatenate IDAT chunks
    pos, idat = 33, b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        tag = payload[pos + 4:pos + 8]
        if tag == b"IDAT":
            idat += payload[pos + 8:pos + 8 + length]
        if tag == b"IEND":
            break
        pos += 12 + length
    try:
        raw = zlib.decompress(idat)
    except zlib.error:
        return None
    stride = 1 + w
    if len(raw) != stride * h:
        return None
    rows = []
    for y in range(h):
        line = raw[y * stride:(y + 1) * stride]
        if line[0] != 0:  # only filter type 0 supported
            return None
        rows.append(line[1:])
    return w, h, rows


def resize_png(payload: bytes, max_side: int) -> bytes | None:
    """REAL nearest-neighbor downscale of a decodable grayscale PNG so
    max(width, height) <= max_side; re-encoded with stored-IDAT (same
    analytic size law as synth_png). Returns None if undecodable."""
    decoded = decode_png_pixels(payload)
    if decoded is None:
        return None
    w, h, rows = decoded
    m = max(w, h)
    if m <= max_side:
        nw, nh = w, h
        out_rows = rows
    else:
        nw = max(1, w * max_side // m)
        nh = max(1, h * max_side // m)
        out_rows = [
            bytes(rows[y * h // nh][x * w // nw] for x in range(nw))
            for y in range(nh)
        ]
    return _encode_gray_png(nw, nh, out_rows)


def resize_asset(
    media_type: str, payload: bytes, max_side: int
) -> tuple[bool | None, int | None, int | None, int | None]:
    """(resize_ok, new_width, new_height, resized_bytes) of one asset:
    png rows are downscaled by ``resize_png``; every other modality has
    no resize stage and gets all NULLs."""
    if media_type != "image/png":
        return None, None, None, None
    resized = resize_png(payload, max_side)
    if resized is None:
        return False, None, None, None
    meta = decode_png(resized)
    return True, meta["width"], meta["height"], len(resized)


def sample_asset_frames(
    media_type: str, payload: bytes, every_n: int
) -> tuple[bool, int, int]:
    """(frames_ok, n_frames, frame_bytes) of one asset.

    * audio/wav — REAL: every ``every_n``-th 16-bit mono PCM sample,
      n_frames = ceil(samples / every_n).
    * image/png — the image is its own single frame.
    * video/mp4 — STUB: real frame decode needs a codec stack this
      container lacks, so frames_ok is False.
    """
    if media_type == "audio/wav":
        feats = decode_wav(payload)
        if feats is not None:
            n = -(-feats["n_samples"] // every_n)
            return True, n, 2 * n
    elif media_type == "image/png" and decode_png(payload) is not None:
        return True, 1, len(payload)
    return False, 0, 0


def audit_row(doc_id: int, text: str, max_side: int, every_n: int) -> dict:
    """The ``media_audit`` row of one documents row: its synthesized
    asset decoded, resized and frame-sampled, and its synthesized PDF
    (``pdfgen.synth_doc_pdf``) text-extracted. The pdf text md5 is
    hashlib.md5 over UTF-8 bytes — the same function as the JVM
    ``md5(text)``."""
    media_type, payload = synth_asset(doc_id, text)
    decode_ok, feats = decode_media(media_type, payload)
    resize_ok, new_w, new_h, resized_bytes = resize_asset(
        media_type, payload, max_side
    )
    frames_ok, n_frames, frame_bytes = sample_asset_frames(
        media_type, payload, every_n
    )
    try:
        pdf_text, n_pages = extract_text_from_pdf(synth_doc_pdf(doc_id, text))
        pdf_ok = True
    except Exception:  # one hostile PDF is an error row, not a failed task
        pdf_text, n_pages, pdf_ok = "", 0, False
    return {
        "media_id": doc_id,
        "media_type": media_type,
        "n_bytes": len(payload),
        "decode_ok": decode_ok,
        "width": feats["width"],
        "height": feats["height"],
        "sample_rate": feats["sample_rate"],
        "n_samples": feats["n_samples"],
        "duration_s": feats["duration_s"],
        "resize_ok": resize_ok,
        "new_width": new_w,
        "new_height": new_h,
        "resized_bytes": resized_bytes,
        "frames_ok": frames_ok,
        "n_frames": n_frames,
        "frame_bytes": frame_bytes,
        "pdf_ok": pdf_ok,
        "n_pdf_pages": n_pages,
        "pdf_text_len": len(pdf_text),
        "pdf_text_md5": hashlib.md5(pdf_text.encode("utf-8")).hexdigest(),
    }


MEDIA_AUDIT_SCHEMA = pa.schema([
    pa.field("media_id", pa.int64()),
    pa.field("media_type", pa.string()),
    pa.field("n_bytes", pa.int64()),
    pa.field("decode_ok", pa.bool_()),
    pa.field("width", pa.int32()),
    pa.field("height", pa.int32()),
    pa.field("sample_rate", pa.int32()),
    pa.field("n_samples", pa.int64()),
    pa.field("duration_s", pa.float64()),
    pa.field("resize_ok", pa.bool_()),
    pa.field("new_width", pa.int32()),
    pa.field("new_height", pa.int32()),
    pa.field("resized_bytes", pa.int64()),
    pa.field("frames_ok", pa.bool_()),
    pa.field("n_frames", pa.int32()),
    pa.field("frame_bytes", pa.int64()),
    pa.field("pdf_ok", pa.bool_()),
    pa.field("n_pdf_pages", pa.int32()),
    pa.field("pdf_text_len", pa.int32()),
    pa.field("pdf_text_md5", pa.string()),
])


def media_audit(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, …) → one ``audit_row`` per document
    (at ``RESIZE_MAX_SIDE``, ``FRAME_EVERY_N``) in ONE ``mapInArrow``
    pass: each doc's asset is synthesized and run through the feature /
    resize / frame-sample / PDF-text stages in the same batch loop. Zero-shuffle, zero-join, one Python crossing
    (guide §4.1/§2.4) — at 100 TB the "every decision is per-asset →
    never shuffle the bytes" layout the module docstring mandates.
    Non-png rows carry NULL resize columns."""
    from pyspark.sql.pandas.types import from_arrow_schema

    max_side, every_n = RESIZE_MAX_SIDE, FRAME_EVERY_N

    def audit_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield pa.RecordBatch.from_pylist(
                [
                    audit_row(int(doc_id), text, max_side, every_n)
                    for doc_id, text in zip(
                        batch.column("doc_id").to_pylist(),
                        batch.column("text").to_pylist(),
                    )
                ],
                schema=MEDIA_AUDIT_SCHEMA,
            )

    return documents.select("doc_id", "text").mapInArrow(
        audit_batches, from_arrow_schema(MEDIA_AUDIT_SCHEMA)
    )
