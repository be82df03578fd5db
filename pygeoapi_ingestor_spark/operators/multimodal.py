"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata
struct; decode / feature-extraction run as Arrow-batched ``mapInPandas``
stages. Two decode paths coexist:

- ``real_decode`` — a working stdlib-only codec for the formats a
  library-free runtime can honestly parse: PNM images (P2/P3/P5/P6),
  uncompressed 24/32-bit BMP, PCM WAV audio, and a minimal ``PPMV``
  multi-frame video container (concatenated P6 frames). Includes true
  pixel access (``decode_image_pixels``). Formats needing heavy
  codec libraries (JPEG/PNG/MP4) raise ``ValueError`` — wire PIL/libav
  into the same hook on a cluster that has them.
  ``synthesize_decode_roundtrip`` runs it distributed.
- ``decode_stub`` — a deterministic fake (dimensions from the payload
  hash) kept for the catalog's oracle-gated queries, whose payloads are
  manufactured from text columns and must stay reproducible in an
  external SQL engine.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, media_type string, payload binary, "
    "width int, height int, n_frames int, sha256 string"
)


def attach_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Manufacture a deterministic binary payload + metadata from a source
    column (test harness for the multimodal path; in production the
    payload arrives from the storage layer)."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).cast("bigint").alias("media_id"),
        F.when(F.col(id_col) % 3 == 0, "image")
        .when(F.col(id_col) % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        payload.alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("n_frames"),
        F.sha2(payload, 256).alias("sha256"),
    )


def _pnm_header(payload: bytes) -> tuple[str, int, int, int, int]:
    """Parse a PNM (P2/P3/P5/P6) header: returns (magic, width, height,
    maxval, raster_offset). Whitespace/comment handling per the netpbm
    spec: any run of whitespace separates tokens, ``#`` starts a comment
    to end-of-line, and exactly ONE whitespace byte follows maxval
    before binary raster data."""
    magic = payload[:2].decode("ascii", errors="strict")
    if magic not in ("P2", "P3", "P5", "P6"):
        raise ValueError(f"not a PNM payload: {magic!r}")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = tokens
    if w <= 0 or h <= 0 or not (0 < maxval < 65536):
        raise ValueError(f"bad PNM geometry {w}x{h} maxval={maxval}")
    return magic, w, h, maxval, pos


def _bmp_header(payload: bytes) -> tuple[int, int, int, int, int]:
    """Parse an uncompressed BITMAPINFOHEADER-family BMP: returns
    (width, height, bits_per_pixel, pixel_offset, top_down)."""
    import struct

    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    pixel_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(
            f"unsupported BMP (compression={compression}, bpp={bpp})"
        )
    top_down = h < 0
    return w, abs(h), bpp, pixel_off, int(top_down)


def _wav_header(payload: bytes) -> dict:
    """Parse a PCM RIFF/WAVE file: channels, sample rate, and frame
    count (frames = data bytes / block align) by walking the chunk list."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, data_size = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack_from(
                "<HHI", payload, pos + 8
            )
            block_align = struct.unpack_from("<H", payload, pos + 20)[0]
            fmt = (audio_fmt, channels, rate, block_align)
        elif cid == b"data":
            # clamp to the bytes actually present after the chunk
            # header — a truncated/lying size field must not inflate
            # n_frames (same never-trust-the-header policy as PPMV)
            data_size = min(size, max(len(payload) - pos - 8, 0))
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data_size is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, rate, block_align = fmt
    if audio_fmt != 1:
        raise ValueError(f"unsupported WAV encoding {audio_fmt} (PCM only)")
    return {
        "channels": channels,
        "sample_rate": rate,
        "n_frames": data_size // max(block_align, 1),
    }


PPMV_MAGIC = b"PPMV"


def _ppmv_frames(payload: bytes) -> tuple[int, int, int]:
    """Parse the minimal multi-frame container (``PPMV`` magic +
    concatenated P6 frames): returns (width, height, n_frames), read by
    walking each embedded frame header — the count is derived from the
    actual frames present, never trusted from a header field."""
    if payload[:4] != PPMV_MAGIC:
        raise ValueError("not a PPMV payload")
    pos, n, w0, h0 = 4, 0, None, None
    while pos < len(payload):
        magic, w, h, maxval, off = _pnm_header(payload[pos:])
        if magic != "P6":
            raise ValueError("PPMV frames must be P6")
        if w0 is None:
            w0, h0 = w, h
        elif (w, h) != (w0, h0):
            raise ValueError("PPMV frame geometry changed mid-stream")
        bytes_per = 3 * (2 if maxval > 255 else 1)
        pos += off + w * h * bytes_per
        n += 1
    if pos != len(payload) or n == 0:
        raise ValueError("PPMV truncated")
    return w0, h0, n


def real_decode(payload: bytes, media_type: str) -> dict:
    """Stdlib-only codec: sniffs the actual container magic (the
    ``media_type`` tag is advisory — storage-layer tags lie) and
    returns the same {width, height, n_frames} dict as ``decode_stub``.
    Supports PNM / uncompressed BMP images, PCM WAV audio, and the PPMV
    frame container; anything else (JPEG/PNG/MP4...) raises ValueError
    — plug a codec library into this hook where one is installed."""
    payload = bytes(payload)
    if payload[:2] in (b"P2", b"P3", b"P5", b"P6"):
        _, w, h, _, _ = _pnm_header(payload)
        return {"width": w, "height": h, "n_frames": 1}
    if payload[:2] == b"BM":
        w, h, _, _, _ = _bmp_header(payload)
        return {"width": w, "height": h, "n_frames": 1}
    if payload[:4] == b"RIFF":
        wav = _wav_header(payload)
        return {"width": None, "height": None, "n_frames": wav["n_frames"]}
    if payload[:4] == PPMV_MAGIC:
        w, h, n = _ppmv_frames(payload)
        return {"width": w, "height": h, "n_frames": n}
    raise ValueError(
        f"undecodable payload (magic {payload[:4]!r}); this runtime "
        "decodes PNM/BMP/WAV/PPMV — wire PIL/libav here for more"
    )


def decode_image_pixels(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a single-frame image payload to (width, height, packed
    RGB bytes). P6/P5/P3/P2 and uncompressed 24/32-bit BMP (BGR(A),
    bottom-up or top-down, 4-byte row padding) all normalize to the
    same RGB triple layout, so downstream pixel ops are format-blind."""
    payload = bytes(payload)
    if payload[:2] in (b"P2", b"P3", b"P5", b"P6"):
        magic, w, h, maxval, off = _pnm_header(payload)
        if maxval > 255:
            raise ValueError("16-bit PNM not supported")
        if magic in ("P5", "P6"):
            raster = payload[off : off + w * h * (3 if magic == "P6" else 1)]
            vals = list(raster)
        else:
            vals = [int(t) for t in payload[off - 1 :].split()]
        if magic in ("P2", "P5"):  # gray -> RGB
            vals = [v for g in vals for v in (g, g, g)]
        if len(vals) != w * h * 3:
            raise ValueError("PNM raster truncated")
        return w, h, bytes(vals)
    if payload[:2] == b"BM":
        w, h, bpp, off, top_down = _bmp_header(payload)
        step = bpp // 8
        row_stride = (w * step + 3) & ~3
        out = bytearray(w * h * 3)
        for y in range(h):
            src_y = y if top_down else h - 1 - y
            base = off + src_y * row_stride
            for x in range(w):
                b, g, r = payload[base + x * step : base + x * step + 3]
                i = (y * w + x) * 3
                out[i : i + 3] = bytes((r, g, b))
        return w, h, bytes(out)
    raise ValueError("not a decodable single-frame image payload")


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Pack RGB triples as a binary P6 PPM — the write half of the
    stdlib codec."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb buffer does not match geometry")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def image_mean_rgb(payload: bytes) -> tuple[float, float, float]:
    """Mean R/G/B over the decoded raster — the feature-extraction stage
    a training pipeline hangs quality filters off (all-black frames,
    constant-color thumbnails)."""
    w, h, rgb = decode_image_pixels(payload)
    n = w * h
    return (
        sum(rgb[0::3]) / n,
        sum(rgb[1::3]) / n,
        sum(rgb[2::3]) / n,
    )


def decode_stub(payload: bytes, media_type: str) -> dict:
    """Deterministic fake decode: derives plausible dimensions/frame
    counts from the payload hash. Same signature and output schema as the
    real decoder."""
    digest = hashlib.sha256(payload).digest()
    w = 64 + digest[0] % 192
    h = 64 + digest[1] % 192
    frames = 1 if media_type == "image" else 1 + digest[2] % 120
    return {"width": int(w), "height": int(h), "n_frames": int(frames)}


def extract_metadata(df: DataFrame) -> DataFrame:
    """Arrow-batched decode pass: fills width/height/n_frames from the
    payload through ``decode_stub``. ``mapInPandas`` keeps the binary
    column inside Arrow batches — no per-row Python round-trips."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [decode_stub(p, t) for p, t in zip(pdf["payload"], pdf["media_type"])]
            pdf = pdf.copy()
            pdf["width"] = [m["width"] for m in meta]
            pdf["height"] = [m["height"] for m in meta]
            pdf["n_frames"] = [m["n_frames"] for m in meta]
            yield pdf

    return df.mapInPandas(decode_batches, schema=MEDIA_SCHEMA)


RESIZED_SCHEMA = MEDIA_SCHEMA + ", resized_width int, resized_height int"
FRAMES_SCHEMA = "media_id bigint, frame_idx int, frame_sha256 string"


def resize_stub(payload: bytes, width: int, height: int, target: int) -> tuple[int, int]:
    """Aspect-preserving resize plan (the real codec call is the stub's
    only missing piece; the geometry math is the production logic)."""
    if width <= 0 or height <= 0:
        return target, target
    scale = target / max(width, height)
    return max(1, round(width * scale)), max(1, round(height * scale))


def resize_media(df: DataFrame) -> DataFrame:
    """Arrow-batched resize pass over decoded media (expects
    ``extract_metadata`` output) to a 128-pixel long side. Geometry is
    real; pixel work is where the codec library plugs in."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = [
                resize_stub(p, w, h, 128)
                for p, w, h in zip(pdf["payload"], pdf["width"], pdf["height"])
            ]
            pdf = pdf.copy()
            pdf["resized_width"] = [d[0] for d in dims]
            pdf["resized_height"] = [d[1] for d in dims]
            yield pdf

    return df.mapInPandas(batches, schema=RESIZED_SCHEMA)


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling for video rows: one output row per 10th frame
    index with a deterministic per-frame fingerprint (real extraction
    swaps the fingerprint for decoded frame bytes). Non-video rows pass
    through with frame 0.

    The fingerprint is sha256 over the TEXT ``"<payload-sha-hex>:<idx>"``
    rather than raw payload bytes, so an external SQL oracle can replay
    the whole mapInPandas stage symbolically — the multimodal pipeline
    stays value-hash-gated end to end."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, mtype, sha_hex, n_frames in zip(
                pdf["media_id"], pdf["media_type"], pdf["sha256"], pdf["n_frames"]
            ):
                # pd.isna, not `or`: a null int column arrives as float
                # NaN in pandas, and NaN is truthy — `int(NaN or 1)`
                # would raise instead of defaulting
                nf = 1 if pd.isna(n_frames) else (int(n_frames) or 1)
                idxs = range(0, nf, 10) if mtype == "video" else [0]
                for i in idxs:
                    digest = hashlib.sha256(f"{sha_hex}:{i}".encode()).hexdigest()
                    rows.append(
                        {"media_id": mid, "frame_idx": int(i), "frame_sha256": digest}
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_sha256"])

    return df.mapInPandas(batches, schema=FRAMES_SCHEMA)


ROUNDTRIP_SCHEMA = (
    "media_id bigint, media_kind string, width int, height int, "
    "n_frames int, mean_r double"
)


def synthesize_decode_roundtrip(df: DataFrame, id_col: str) -> DataFrame:
    """Distributed proof that the REAL codec inverts real bytes: per id,
    SYNTHESIZE a deterministic payload (even ids: a P6 PPM of
    id-derived geometry and constant color; odd ids: a PPMV container
    with an id-derived frame count), then immediately decode it with
    ``real_decode`` + ``decode_image_pixels`` and emit only
    DECODED facts (geometry, frame count, mean red channel). An
    external oracle replays the generator formulas symbolically, so
    hash equality certifies the encode->decode round trip bit-exactly —
    the codec analog of the text-derived fingerprint trick
    ``sample_frames`` uses. One Arrow-batched mapInPandas stage; the
    payload never leaves the executor."""
    ids = df.select(F.col(id_col).cast("bigint").alias("media_id"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h, v = 4 + mid % 13, 3 + mid % 7, mid % 256
                rgb = bytes((v, v, v)) * (w * h)
                frame = encode_ppm(w, h, rgb)
                if mid % 2 == 0:
                    kind, payload = "image", frame
                else:
                    kind = "video"
                    payload = PPMV_MAGIC + frame * (1 + mid % 5)
                meta = real_decode(payload, kind)
                # mean over frame 0 (PPMV frames are back-to-back P6s;
                # decode_image_pixels reads exactly one raster)
                first = payload if kind == "image" else payload[4:]
                mean_r, _, _ = image_mean_rgb(first)
                rows.append(
                    {
                        "media_id": mid,
                        "media_kind": kind,
                        "width": meta["width"],
                        "height": meta["height"],
                        "n_frames": meta["n_frames"],
                        "mean_r": mean_r,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_kind", "width", "height",
                    "n_frames", "mean_r",
                ],
            )

    return ids.mapInPandas(batches, schema=ROUNDTRIP_SCHEMA)
