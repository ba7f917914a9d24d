"""[EXT] Multimodal column plumbing (north-star op).

Images/audio/video are opaque ``binary`` columns plus typed metadata
structs. The Spark-side machinery here — schemas, Arrow batch shapes,
``mapInPandas`` signatures, partition sizing — is real and tested; the
actual codec work (image decode, resample, frame extraction) needs
libraries this container doesn't ship (PIL/ffmpeg/torchaudio), so each
codec is gated: injected decoder if provided, deterministic fake for
tests, ``NotImplementedError`` only when a real decode is demanded.

Scale notes: binary payloads dominate row size — repartition by
``maxRecordsPerBatch``-friendly counts before these stages and keep
metadata-only branches (filters on width/duration) in native columns
so pruning happens without touching bytes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: media row contract: payload + typed metadata
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)

IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, channels int, mean_luma double"
)

FRAME_SAMPLE_SCHEMA = "media_id long, frame_idx int, frame_png binary"


def attach_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Typed metadata from the payload without decoding: byte length +
    magic-number sniffing — native expressions, no Python."""
    p = F.col(payload_col)
    return df.withColumn("n_bytes", F.octet_length(p).cast("long")).withColumn(
        "sniffed_mime",
        F.when(F.hex(F.substring(p, 1, 3)) == "FFD8FF", "image/jpeg")
        .when(F.hex(F.substring(p, 1, 4)) == "89504E47", "image/png")
        # RIFF is a generic container (WebP, AVI, WAV) — require the
        # 'WAVE' form tag at bytes 9-12 or a WebP image would route
        # into the audio path
        .when(
            (F.hex(F.substring(p, 1, 4)) == "52494646")
            & (F.hex(F.substring(p, 9, 4)) == "57415645"),
            "audio/wav",
        )
        .otherwise(F.lit("application/octet-stream")),
    )


#: decoder contract: payload bytes -> (width, height, channels, mean_luma)
ImageDecoder = Callable[[bytes], tuple[int, int, int, float]]


def png_image_decoder(data: bytes) -> tuple[int, int, int, float]:
    """REAL image decode, stdlib-only: 8-bit greyscale/RGB/RGBA PNG via
    zlib inflate + full scanline unfiltering (filters 0-4 incl. Paeth).
    mean_luma is the Rec.601 luma averaged over pixels, normalized to
    [0, 1]. Mirrors the reference's real-decoder role
    (text_processor.py:43-80 is the bs4/PyPDF2 analog for text); PIL
    handles formats beyond PNG via ``pil_image_decoder``."""
    import struct
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, idat, meta = 8, b"", None
    while pos < len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, color = struct.unpack(">IIBB", body[:10])
            if body[12] != 0:  # Adam7: 7-pass layout the sequential
                # unfilter below would silently mis-decode
                raise ValueError("interlaced PNG unsupported (use PIL)")
            meta = (w, h, depth, color)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color = meta
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if depth != 8 or channels is None:
        raise ValueError(f"unsupported PNG (depth={depth}, color={color})")
    raw = zlib.decompress(idat)
    stride = w * channels
    out = bytearray()
    prev = bytearray(stride)
    for y in range(h):
        off = y * (stride + 1)
        ftype = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        for i in range(stride):
            a = line[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if ftype == 1:
                line[i] = (line[i] + a) & 0xFF
            elif ftype == 2:
                line[i] = (line[i] + b) & 0xFF
            elif ftype == 3:
                line[i] = (line[i] + (a + b) // 2) & 0xFF
            elif ftype == 4:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        out += line
        prev = line
    n = w * h
    if channels >= 3:  # RGB/RGBA: Rec.601 luma, alpha ignored
        total = sum(
            0.299 * out[i] + 0.587 * out[i + 1] + 0.114 * out[i + 2]
            for i in range(0, len(out), channels)
        )
    else:  # grey / grey+alpha
        total = float(sum(out[i] for i in range(0, len(out), channels)))
    return w, h, channels, total / n / 255.0


def pil_image_decoder(data: bytes) -> tuple[int, int, int, float]:
    """REAL image decode via PIL (any format PIL reads). Import-gated:
    raises ImportError where Pillow isn't installed — callers fall back
    to ``png_image_decoder`` (PNG-only, stdlib) or the deterministic
    fake. Same Rec.601 mean-luma definition as png_image_decoder, so
    the two agree on the same image (pinned by a skip-gated test)."""
    import io

    import numpy as np
    from PIL import Image  # noqa: F401 — the gate

    img = Image.open(io.BytesIO(data))
    channels = len(img.getbands())
    rgb = np.asarray(img.convert("RGB"), dtype=np.float64)
    luma = (
        0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    ).mean() / 255.0
    return img.width, img.height, channels, float(luma)


def real_image_decoder() -> ImageDecoder:
    """Best available REAL decoder: PIL if importable, else the stdlib
    PNG decoder."""
    try:
        import PIL  # noqa: F401

        return pil_image_decoder
    except ImportError:
        return png_image_decoder


def fake_image_decoder(data: bytes) -> tuple[int, int, int, float]:
    """Deterministic stand-in decoder for tests/CI: derives stable
    pseudo-dimensions from the payload digest. NOT a real decode —
    real deployments inject a PIL/libvips-backed decoder."""
    import hashlib

    h = hashlib.md5(data).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    # luma = byte/256: an exact binary fraction, so the value is
    # bit-identical across engines (no decimal-rounding boundary)
    return width, height, 3, h[2] / 256.0


def extract_image_features(
    media: DataFrame, decoder: ImageDecoder | None = None
) -> DataFrame:
    """Arrow-batched image feature extraction.

    ``decoder=None`` EXPLICITLY selects the deterministic fake — the
    oracle-checkable fixture path (the registry query's payloads are
    synthetic, not real images). A production caller must inject
    ``real_image_decoder()`` (PIL, else stdlib PNG) or its own; this
    asymmetry vs ``extract_audio_features`` (whose default IS the real
    wave decoder, because WAV payloads are cheap to synthesize for
    real) is deliberate and the fake's output is digest-derived —
    plausible-looking but fabricated, never ship it to a model."""
    dec = decoder if decoder is not None else fake_image_decoder

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                w, h, c, luma = dec(bytes(r["payload"]))
                rows.append(
                    dict(media_id=r["media_id"], width=w, height=h, channels=c, mean_luma=luma)
                )
            yield pd.DataFrame(rows, columns=["media_id", "width", "height", "channels", "mean_luma"])

    imgs = media.filter(F.col("kind") == "image").select("media_id", "payload")
    return imgs.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, sample_rate int, channels int, n_samples long, "
    "duration_s double, rms double"
)

#: audio decoder contract: payload -> (rate, channels, n_samples, rms)
AudioDecoder = Callable[[bytes], tuple[int, int, int, float]]


def make_pcm8_wav(samples: bytes, sample_rate: int = 8000) -> bytes:
    """A REAL mono 8-bit-PCM WAV file around the given unsigned sample
    bytes, via the stdlib ``wave`` writer (RIFF header + fmt + data
    chunks — the payload parses in any WAV reader)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(sample_rate)
        w.writeframes(samples)
    return buf.getvalue()


def wav_audio_decoder(data: bytes) -> tuple[int, int, int, float]:
    """REAL audio decode, stdlib-only: parses the RIFF/WAVE container
    with the ``wave`` module (PCM 8/16/32-bit, any channel count) and
    computes the RMS amplitude.

    Determinism: RMS accumulates the *integer* sum of squared sample
    offsets, then takes one sqrt of one division — IEEE sqrt is
    correctly rounded (unlike ln), so the value is bit-identical in any
    engine that sees the same samples."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        rate, ch, width, n = (
            w.getframerate(),
            w.getnchannels(),
            w.getsampwidth(),
            w.getnframes(),
        )
        raw = w.readframes(n)
    if width == 1:  # unsigned 8-bit
        vals = [b - 128 for b in raw]
        full = 128
    elif width == 2:
        vals = list(struct.unpack(f"<{len(raw) // 2}h", raw))
        full = 32768
    elif width == 4:
        vals = list(struct.unpack(f"<{len(raw) // 4}i", raw))
        full = 2147483648
    else:
        raise ValueError(f"unsupported PCM sample width {width}")
    ss = sum(v * v for v in vals)  # exact integer
    count = max(len(vals), 1)
    return rate, ch, n, (ss / (full * full * count)) ** 0.5


def extract_audio_features(
    media: DataFrame, decoder: AudioDecoder | None = None
) -> DataFrame:
    """Arrow-batched audio feature extraction over ``kind == 'audio'``
    rows — same mapInPandas shape as the image path. Default decoder is
    the REAL stdlib WAV parser (``wav_audio_decoder``)."""
    dec = decoder or wav_audio_decoder

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                rate, ch, n, rms = dec(bytes(r["payload"]))
                rows.append(
                    dict(
                        media_id=r["media_id"],
                        sample_rate=rate,
                        channels=ch,
                        n_samples=n,
                        duration_s=n / rate if rate else 0.0,
                        rms=rms,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sample_rate",
                    "channels",
                    "n_samples",
                    "duration_s",
                    "rms",
                ],
            )

    auds = media.filter(F.col("kind") == "audio").select("media_id", "payload")
    return auds.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


def fake_frame_decoder(data: bytes, every_n: int):
    """Deterministic stand-in "video" decoder: treats the payload as a
    sequence of 64-byte frames and samples every ``every_n``-th one.
    NOT a real decode — exercises the 1-to-many mapInPandas shape with
    reproducible output; real deployments inject ffmpeg here."""
    n_frames = (len(data) + 63) // 64
    for i in range(0, n_frames, every_n):
        yield i, data[i * 64 : (i + 1) * 64]


def sample_video_frames(
    media: DataFrame, every_n: int = 30, decoder: Callable | None = None
) -> DataFrame:
    """Frame-sampling plumbing: one input row -> N frame rows (the
    mapInPandas 1-to-many shape). Real frame extraction requires
    ffmpeg — absent a decoder this raises, by design."""
    if decoder is None:
        raise NotImplementedError(
            "video frame sampling needs an injected ffmpeg-backed decoder; "
            "none is available in this environment"
        )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                for idx, png in decoder(bytes(r["payload"]), every_n):
                    rows.append(dict(media_id=r["media_id"], frame_idx=idx, frame_png=png))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_png"])

    vids = media.filter(F.col("kind") == "video").select("media_id", "payload")
    return vids.mapInPandas(run, FRAME_SAMPLE_SCHEMA)
