"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

Decode status (honest inventory):

- **REAL, dependency-free**: PPM (P5/P6) and BMP (24-bit BI_RGB) images,
  plus baseline JPEG/JFIF — a full pure-numpy ITU-T T.81 sequential
  codec in ``kernels.jpeg`` (encoder: 4:4:4 + Annex K tables; decoder:
  table-driven, arbitrary sampling factors, restart markers) — in
  ``decode_image``; RIFF/WAV PCM-16 audio in ``decode_audio``; RIFF/AVI
  video containers in ``parse_avi`` (header meta + per-frame chunk
  extraction). MJPG-codec AVI therefore decodes END TO END without PIL:
  container parse + per-frame baseline-JPEG decode, both native. The
  synthetic corpus stores decodable PPM frames, so video features run
  on real pixels end to end. These are the formats a
  100 TB pre-processing pipeline actually materializes between stages
  (decode once at ingest, keep raw planes/PCM thereafter).
- **GATED**: progressive/arithmetic/12-bit JPEG, WebP (PIL), MP4/MKV
  (libav) are not decodable in this container — PNG decodes natively at
  EVERY legal depth/color/interlace combination since r6
  (``kernels.png``); ``decode_image`` raises ``NotImplementedError`` for
  the gated formats unless PIL imports, and non-AVI video payloads fall
  back to clearly-marked deterministic features of the raw bytes.

The Spark-side machinery — schema, Arrow batch shape, mapInPandas UDF
signatures, partitioning — is real and tested end-to-end over
real decoded pixels/samples for image/audio rows.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("sample_rate", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                    StructField("format", StringType()),
                ]
            ),
        ),
    ]
)

_KINDS = ("image", "audio", "video")


# ---------------------------------------------------------------------------
# Real encoders (used by the synthesizer) — PPM P6 and WAV PCM-16
# ---------------------------------------------------------------------------


def encode_ppm(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM (P6)."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 mono samples → RIFF/WAV (PCM, 1 channel, 16-bit)."""
    data = samples.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


# ITU-T G.711 companded telephony audio: 8-bit µ-law (WAV format tag 7)
# and A-law (tag 6) → int16. The expansion formulas below are the public
# G.711 reference shapes (sign/segment/mantissa fields; µ-law bias 0x84,
# A-law XOR 0x55); a 256-entry table makes the numpy decode one gather.
def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    ulaw = np.empty(256, dtype=np.int16)
    for code in range(256):
        u = ~code & 0xFF
        t = ((u & 0x0F) << 3) + 0x84
        t <<= (u & 0x70) >> 4
        ulaw[code] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    alaw = np.empty(256, dtype=np.int16)
    for code in range(256):
        a = code ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[code] = t if (a & 0x80) else -t
    return ulaw, alaw


_ULAW_TO_PCM, _ALAW_TO_PCM = _g711_tables()


def encode_wav_g711(codes: np.ndarray, sample_rate: int, law: str) -> bytes:
    """8-bit µ-law/A-law CODE bytes → RIFF/WAV (format tag 7/6, mono).
    Takes already-companded codes (the wire format) — the encoder exists
    so tests can roundtrip the decode tables without fixtures."""
    tag = {"ulaw": 7, "alaw": 6}[law]
    data = np.asarray(codes, dtype=np.uint8).tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, tag, 1, sample_rate, sample_rate, 1, 8,
        b"data", len(data),
    )
    return hdr + data


# ---------------------------------------------------------------------------
# Real decoders — pure byte parsing, no codec libraries
# ---------------------------------------------------------------------------


def _decode_ppm(payload: bytes) -> np.ndarray:
    """PPM/PGM (P6/P5, maxval ≤ 255) → uint8 array (h, w, 3) or (h, w)."""
    fields: list[bytes] = []
    pos = 2  # past magic
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to EOL
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(payload[start:pos])
    pos += 1  # single whitespace after maxval
    w, h, maxval = (int(f) for f in fields)
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    channels = 3 if payload[:2] == b"P6" else 1
    n = w * h * channels
    arr = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    return arr.reshape((h, w, 3) if channels == 3 else (h, w))


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB BMP → uint8 array (h, w, 3) in RGB order."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP not supported")
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only uncompressed 24-bit BMP (got bpp={bpp})")
    h = abs(h_signed)
    row_bytes = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * h, offset=data_offset
    ).reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:  # bottom-up storage
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


def _pil_available() -> bool:
    try:  # pragma: no cover - PIL absent in this container
        import PIL.Image  # noqa: F401

        return True
    except Exception:
        return False


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload to a uint8 numpy array.

    Dependency-free decoders: PPM/PGM (``P6``/``P5`` magic), 24-bit BI_RGB
    BMP (``BM``), PNG at every legal depth (1/2/4/8/16-bit) and color
    type, Adam7 or not (``\\x89PNG`` magic — ``kernels.png``, stdlib-zlib
    inflate + full Sub/Up/Average/Paeth unfilter), and baseline JPEG/JFIF
    (``FF D8`` magic — ``kernels.jpeg``, table-driven ITU-T T.81
    sequential decoder; also what makes MJPG-in-AVI frames decode).
    Progressive/arithmetic/12-bit JPEG and other compressed formats
    (WebP/...) require PIL and raise ``NotImplementedError`` when it is
    absent — the honest gate for this container."""
    payload = bytes(payload)
    if payload[:2] in (b"P6", b"P5"):
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from autoscan_spark.kernels.png import decode_png

        try:
            return decode_png(payload)
        except NotImplementedError:
            if not _pil_available():  # 16-bit/sub-byte depth etc.
                raise
            # fall through to PIL for the exotic variants
    if payload[:2] == b"\xff\xd8":
        from autoscan_spark.kernels.jpeg import decode_jpeg

        try:
            return decode_jpeg(payload)
        except NotImplementedError:
            if not _pil_available():  # progressive/12-bit etc.
                raise
            # fall through to PIL for the exotic variants
    if not _pil_available():
        raise NotImplementedError(
            "compressed-image decode requires PIL/pillow, not present in this "
            "container; PPM/PGM/BMP/baseline-JPEG decode natively"
        )
    import io

    import PIL.Image

    return np.asarray(PIL.Image.open(io.BytesIO(payload)))  # pragma: no cover


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAV → (int16 sample array with shape (n,) mono or
    (n, channels), sample_rate). Pure byte parsing. Formats: PCM-16
    (tag 1) plus the G.711 companded telephony pair — A-law (tag 6) and
    µ-law (tag 7), 8-bit codes expanded through the standard tables."""
    payload = bytes(payload)
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("only RIFF/WAV audio decodes natively")
    pos = 12
    fmt = None
    while pos + 8 <= len(payload):
        chunk_id = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = pos + 8
        if chunk_id == b"fmt ":
            audio_fmt, channels, rate = struct.unpack_from("<HHI", payload, body)
            bits = struct.unpack_from("<H", payload, body + 14)[0]
            if not (
                (audio_fmt == 1 and bits == 16)
                or (audio_fmt in (6, 7) and bits == 8)
            ):
                raise NotImplementedError(
                    "only PCM-16 / G.711 A-law / G.711 mu-law WAV decode"
                    f" natively (got format tag {audio_fmt}, {bits}-bit)"
                )
            fmt = (audio_fmt, channels, rate)
        elif chunk_id == b"data":
            if fmt is None:
                raise ValueError("WAV data chunk before fmt chunk")
            audio_fmt, channels, rate = fmt
            if audio_fmt == 1:
                samples = np.frombuffer(
                    payload, dtype="<i2", count=size // 2, offset=body
                )
            else:
                codes = np.frombuffer(
                    payload, dtype=np.uint8, count=size, offset=body
                )
                table = _ALAW_TO_PCM if audio_fmt == 6 else _ULAW_TO_PCM
                samples = table[codes]
            if channels > 1:
                samples = samples.reshape(-1, channels)
            return samples, rate
        pos = body + size + (size & 1)
    raise ValueError("WAV without data chunk")


# ---------------------------------------------------------------------------
# Real AVI (RIFF) container: encoder + frame parser, dependency-free
# ---------------------------------------------------------------------------


def encode_avi(frames: list[bytes], fps: int, width: int, height: int,
               codec: bytes = b"MJPG") -> bytes:
    """Build a minimal spec-shaped AVI container (RIFF 'AVI ' with hdrl
    avih/strh/strf headers and a movi list of '00dc' frame chunks).

    ``codec`` is the fourcc stored in strh/strf: ``b"MJPG"`` for real
    Motion-JPEG frames, ``b"PPM "`` (custom) when the frame payloads are
    binary PPM — which is what ``synthesize_media`` writes, so sampled
    frames are decodable by ``decode_image`` with no dependencies.
    """
    if len(codec) != 4:
        raise ValueError("codec fourcc must be 4 bytes")
    usec_per_frame = 1_000_000 // max(fps, 1)
    avih = struct.pack(
        "<14I", usec_per_frame, 0, 0, 0x10, len(frames), 0, 1, 0,
        width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIiI4H",
        b"vids", codec, 0, 0, 0,           # type, handler, flags, prio, lang
        0, 1, max(fps, 1), 0, len(frames), # initialframes, scale, rate, start, length
        max((len(f) for f in frames), default=0),  # suggested buffer
        -1, 0,                             # quality, samplesize
        0, 0, 0, 0,                        # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, codec,
        width * height * 3, 0, 0, 0, 0,
    )

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(listtype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", listtype + body)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def parse_avi(payload: bytes) -> tuple[dict, list[bytes]]:
    """Parse an AVI container: returns (meta, frames) where meta carries
    n_frames / fps / width / height / codec from the avih+strf headers and
    frames are the raw '..dc'/'..db' chunk payloads of stream 0, in order.
    Pure byte walking (struct/slices) — no dependencies; MJPG-codec frame
    payloads are baseline JFIF streams that ``decode_image`` decodes
    natively via ``kernels.jpeg``."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    meta: dict = {}
    frames: list[bytes] = []

    # Iterative depth-first walk (explicit continuation stack, in-order):
    # Python recursion on LIST nesting would let an adversarially nested
    # untrusted payload (thousands of LISTs) raise RecursionError — which in
    # a pandas UDF fails the TASK instead of surfacing as the documented
    # ValueError. The stack is bounded by nesting depth in *bytes* (each
    # level consumes ≥ 12 bytes of payload), so it cannot blow up.
    buf = payload
    stack: list[tuple[int, int]] = []
    pos, end = 12, len(payload)
    while True:
        if pos + 8 > end:
            if not stack:
                break
            pos, end = stack.pop()
            continue
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body, nxt = pos + 8, pos + 8 + size + (size & 1)
        if body + size > len(buf):
            raise ValueError(f"truncated chunk {fourcc!r} at {pos}")
        # header parses must honor the chunk's DECLARED size: a short
        # avih/strf would otherwise silently read the next chunk's
        # bytes as header fields (garbage n_frames/fps/dims)
        if fourcc == b"LIST":
            stack.append((nxt, end))  # resume after the LIST once done
            pos, end = body + 4, body + size
            continue
        if fourcc == b"avih":
            if size < 20:
                raise ValueError(f"avih chunk too short ({size} bytes)")
            usec, _, _, _, total = struct.unpack_from("<5I", buf, body)
            meta["n_frames"] = total
            meta["fps"] = round(1_000_000 / usec) if usec else None
        elif fourcc == b"strf" and "width" not in meta:
            if size < 20:
                raise ValueError(f"strf chunk too short ({size} bytes)")
            _, w, h, _, _, codec = struct.unpack_from("<IiiHH4s", buf, body)
            meta.update(width=w, height=h, codec=codec.decode("ascii", "replace"))
        elif fourcc[:2] == b"00" and fourcc[2:4] in (b"dc", b"db"):
            frames.append(bytes(buf[body : body + size]))
        pos = nxt
    return meta, frames


# ---------------------------------------------------------------------------
# Synthesizer: REAL payloads (PPM images, WAV audio, PPM-in-AVI video)
# ---------------------------------------------------------------------------


def synthesize_media(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic media table with REAL decodable payloads: images
    alternate binary PPM (P6) gradients with PNG across the codec's depth
    matrix — 8-bit RGB cycling the Sub/Up/Average/Paeth scanline filters,
    16-bit gray (alternating Adam7 interlace), and 4-bit packed gray —
    audio cycles PCM-16 / G.711 µ-law / G.711 A-law WAV sine-ish waves,
    video is a REAL AVI (RIFF) container — alternating rows carry raw PPM
    frames and baseline-JPEG (MJPG fourcc) frames, so BOTH video codecs
    the pipeline supports are exercised; container parse AND frame decode
    are dependency-free end to end (``kernels.jpeg``/``kernels.png``)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id in pdf["id"]:
                media_id = int(media_id)
                kind = _KINDS[media_id % 3]
                rng = np.random.default_rng(seed * 1_000_003 + media_id)
                if kind == "image":
                    w = 32 + (media_id % 8) * 16
                    h = 32 + (media_id % 5) * 16
                    yy, xx = np.mgrid[0:h, 0:w]
                    img = np.stack(
                        [
                            (xx * 255 // max(w - 1, 1)).astype(np.uint8),
                            (yy * 255 // max(h - 1, 1)).astype(np.uint8),
                            rng.integers(0, 256, (h, w), dtype=np.uint8),
                        ],
                        axis=-1,
                    )
                    # variant cycle keeps half the rows PPM and spreads
                    # the PNG rows across the codec's depth matrix: 8-bit
                    # RGB (cycling all five filters), 16-bit gray
                    # (alternating Adam7), 4-bit packed gray
                    variant = (media_id // 3) % 6
                    if variant == 1:
                        from autoscan_spark.kernels.png import encode_png

                        payload = encode_png(
                            img, filter_type=(media_id // 6) % 5
                        )
                        fmt = "png"
                    elif variant == 3:
                        from autoscan_spark.kernels.png import encode_png

                        gray16 = (
                            img[:, :, 0].astype(np.uint16) * 257
                        ) ^ (img[:, :, 2].astype(np.uint16) << 8)
                        payload = encode_png(
                            gray16,
                            filter_type=(media_id // 6) % 5,
                            interlace=bool((media_id // 18) % 2),
                        )
                        fmt = "png16"
                    elif variant == 5:
                        from autoscan_spark.kernels.png import encode_png

                        payload = encode_png(
                            img[:, :, 0] >> 4,
                            filter_type=(media_id // 6) % 5,
                            depth=4,
                        )
                        fmt = "png4"
                    else:
                        payload = encode_ppm(img)
                        fmt = "ppm"
                    meta = {"width": w, "height": h, "sample_rate": None,
                            "duration_ms": None, "format": fmt}
                elif kind == "audio":
                    rate = 16000
                    dur_ms = 200 + (media_id % 10) * 100
                    t = np.arange(rate * dur_ms // 1000)
                    freq = 220.0 + (media_id % 12) * 55.0
                    wave = (np.sin(2 * np.pi * freq * t / rate) * 12000).astype(np.int16)
                    codec = ("pcm", "ulaw", "alaw")[(media_id // 3) % 3]
                    if codec == "pcm":
                        payload = encode_wav_pcm16(wave, rate)
                        fmt = "wav"
                    else:
                        # nearest-code companding through the decode table
                        # (deterministic; the wire bytes are real G.711)
                        table = (
                            _ULAW_TO_PCM if codec == "ulaw" else _ALAW_TO_PCM
                        )
                        codes = np.abs(
                            table[None, :].astype(np.int32)
                            - wave[:, None].astype(np.int32)
                        ).argmin(axis=1).astype(np.uint8)
                        payload = encode_wav_g711(codes, rate, codec)
                        fmt = f"wav-{codec}"
                    meta = {"width": None, "height": None, "sample_rate": rate,
                            "duration_ms": dur_ms, "format": fmt}
                else:
                    fps = 4
                    w, h = 24, 16
                    n_frames = 4 + media_id % 12
                    frames = []
                    for i in range(n_frames):
                        yy, xx = np.mgrid[0:h, 0:w]
                        frame = np.stack(
                            [
                                ((xx + i * 7) * 255 // max(w - 1, 1) % 256).astype(np.uint8),
                                (yy * 255 // max(h - 1, 1)).astype(np.uint8),
                                rng.integers(0, 256, (h, w), dtype=np.uint8),
                            ],
                            axis=-1,
                        )
                        if media_id % 2:
                            from autoscan_spark.kernels.jpeg import encode_jpeg

                            frames.append(encode_jpeg(frame, quality=90))
                        else:
                            frames.append(encode_ppm(frame))
                    codec = b"MJPG" if media_id % 2 else b"PPM "
                    payload = encode_avi(frames, fps, w, h, codec=codec)
                    meta = {"width": w, "height": h, "sample_rate": None,
                            "duration_ms": n_frames * 1000 // fps, "format": "avi"}
                rows.append((media_id, kind, payload, meta))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return spark.range(0, n, 1).mapInPandas(gen, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Distributed operators over decoded media
# ---------------------------------------------------------------------------

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("features", StringType()),  # csv of FEATURE_DIM floats
        StructField("n_bytes", LongType()),
    ]
)


def _bucket_means(arr: np.ndarray) -> list[float]:
    chunks = np.array_split(arr.astype(np.float64).ravel(), FEATURE_DIM)
    return [round(float(c.mean()) if len(c) else 0.0, 6) for c in chunks]


def extract_features(media: DataFrame) -> DataFrame:
    """Per-item feature vector via mapInPandas (batch shape = Arrow batch).

    Images/audio run the REAL decode (PPM/BMP pixels, WAV samples) and take
    FEATURE_DIM bucket means — a stand-in for a CNN/encoder forward pass
    with identical batching. AVI video parses the REAL container and
    decodes its frames (PPM codec dependency-free; MJPG needs PIL); a
    non-AVI video payload falls back to a bytes hash, clearly marked."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                payload = bytes(payload)
                if kind == "image":
                    vec = _bucket_means(decode_image(payload))
                elif kind == "audio":
                    samples, _rate = decode_audio(payload)
                    vec = _bucket_means(samples)
                elif payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
                    _, frames = parse_avi(payload)
                    pix = np.concatenate(
                        [decode_image(f).ravel() for f in frames]
                    ) if frames else np.zeros(1, dtype=np.uint8)
                    vec = _bucket_means(pix)
                else:  # non-AVI video: FAKE (no decoder) — bytes hash
                    fake = np.frombuffer(payload, dtype=np.uint8)
                    vec = _bucket_means(fake)
                feats.append(",".join(str(v) for v in vec))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "features": feats,
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)
