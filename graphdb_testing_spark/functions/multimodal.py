"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with a typed metadata struct —
the 100 TB-scale layout is ``(media_id, modality, content BINARY,
meta STRUCT)`` in parquet, partitioned by modality.  Decode /
feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages so bytes never round-trip through Python
row-at-a-time.

Two decode paths (round-8 closed the heavy-codec seam — no
``NotImplementedError`` remains anywhere in the engine):

- ``decode_stub="real"`` — genuine pure-stdlib decodes, sniffed from
  the payload's magic bytes: 24-bit BMP (``struct``-parsed header +
  numpy row unpack), 16-bit PCM WAV (stdlib ``wave``), and 8-bit RGB
  **PNG** — a real COMPRESSED codec: zlib/DEFLATE inflate + all five
  scanline un-filters (None/Sub/Up/Average/Paeth) in numpy.  Real
  summary features (channel moments + luminance histogram for
  images; amplitude moments + time-slice energies for audio).
- ``decode_stub="fake"`` — deterministic hash-derived vectors; the
  oracle-comparable path (DuckDB can replicate md5, not a codec).

Both share the same Arrow-batched ``mapInPandas`` shape, so the
Spark-side plumbing — schema, batching, partitioning, UDF signature —
is identical whichever decoder is plugged in; a heavier external
codec (JPEG via PIL, FLAC/ffmpeg — not in this container) plugs in as
one more magic-byte branch of ``_real_feature``, exactly how the PNG
branch did.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def synthetic_media(docs: DataFrame, modality: str = "image") -> DataFrame:
    """Deterministic fake media table derived from ``documents`` —
    text bytes stand in for encoded media so the binary-column
    pipeline is exercised with real (opaque) payloads."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(modality).alias("modality"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            (F.length("text") * 10).cast("long").alias("duration_ms"),
            F.lit("synthetic").alias("codec"),
        ).alias("meta"),
    )


def synthetic_real_media(
    docs: DataFrame, modality: str = "image", image_codec: str = "bmp"
) -> DataFrame:
    """Deterministic REAL-codec media table derived from
    ``documents``: each doc's text bytes are hashed into pixel /
    sample data and encoded as an actual 24-bit BMP or zlib-DEFLATE
    PNG (``image``, per ``image_codec``) or 16-bit PCM WAV
    (``audio``) — valid files any external tool can open, generated
    distributed in the same Arrow batch shape."""
    if modality not in ("image", "audio"):
        raise ValueError("modality must be 'image' or 'audio'")
    if image_codec not in ("bmp", "png"):
        raise ValueError("image_codec must be 'bmp' or 'png'")

    nblocks = 12 if modality == "image" else 16  # ×16 md5 bytes
    enc_image = encode_png if image_codec == "png" else encode_bmp

    def run(batches: "Iterator") -> "Iterator":
        import numpy as np

        for pdf in batches:
            def enc(row):
                # hex-string md5 chain, NOT raw-digest chaining — the
                # same bytes are replicable in any engine with a
                # VARCHAR md5 (the DuckDB oracle re-derives them)
                doc_id, text = row
                seed = hashlib.md5(f"{doc_id}|{text[:64]}".encode()).hexdigest()
                raw = b"".join(
                    hashlib.md5(f"{seed}|{i}".encode()).digest()
                    for i in range(nblocks)
                )
                rng = np.frombuffer(raw, dtype=np.uint8)
                if modality == "image":
                    return enc_image(rng.reshape(8, 8, 3))
                sig = (rng.astype(np.int16) - 128) * 256
                return encode_wav(sig)

            pdf = pdf.copy()
            pdf["content"] = [
                enc(t) for t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pdf[["doc_id", "content"]]

    enc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    payloads = docs.select("doc_id", "text").mapInPandas(run, enc_schema)
    return payloads.select(
        F.col("doc_id").alias("media_id"),
        F.lit(modality).alias("modality"),
        "content",
        F.struct(
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(32 if modality == "audio" else 0).cast("long").alias("duration_ms"),
            F.lit(image_codec if modality == "image" else "wav").alias("codec"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Real pure-stdlib codecs: 24-bit BMP and 16-bit PCM WAV
# ---------------------------------------------------------------------------


def encode_bmp(pixels) -> bytes:
    """Encode an ``(h, w, 3)`` uint8 RGB array as an uncompressed
    24-bit BMP (BITMAPINFOHEADER, bottom-up, BGR, 4-byte row pad) —
    the Windows DIB format, public since 1990."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    body = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


def decode_bmp(data: bytes):
    """Decode an uncompressed 24-bit BMP into ``(h, w, 3)`` uint8
    RGB.  Raises ``ValueError`` on anything but the 24bpp
    uncompressed layout :func:`encode_bmp` writes."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", data, 10)[0]
    _, w, h, _, bpp, comp = struct.unpack_from("<IiiHHI", data, 14)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP layout (bpp={bpp}, compression={comp})")
    stride = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(data, dtype=np.uint8, count=h * stride, offset=offset)
    px = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    return px[::-1, :, ::-1].copy()  # bottom-up BGR -> top-down RGB


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels) -> bytes:
    """Encode an ``(h, w, 3)`` uint8 RGB array as an 8-bit truecolor
    PNG (RFC 2083 layout: IHDR / IDAT / IEND, zlib-DEFLATE body) —
    a real compressed codec, pure stdlib + numpy.

    Scanline filters deliberately CYCLE through all five PNG filter
    types (row i uses filter i % 5), so every decode exercises every
    un-filter branch — the encoder doubles as the decoder's
    adversary, instead of always emitting the trivial filter 0."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    bpp = 3
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int32)
    for y in range(h):
        row = px[y].reshape(-1).astype(np.int32)
        ft = y % 5
        if ft == 0:  # None
            filt = row.copy()
        elif ft == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            filt = row - left
        elif ft == 2:  # Up
            filt = row - prev
        elif ft == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            filt = row - (left + prev) // 2
        else:  # Paeth — fully vectorized: encode-side inputs are all
            # known up front (left/up/up-left come from raw rows, no
            # recurrence through the output as in decode)
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
            p = left + prev - upleft
            pa = np.abs(p - left)
            pb = np.abs(p - prev)
            pc = np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, prev, upleft),
            )
            filt = row - pred
        raw.append(ft)
        raw.extend((filt & 0xFF).astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes):
    """Decode an 8-bit truecolor PNG into ``(h, w, 3)`` uint8 RGB:
    chunk walk (CRC-verified, length-bounds-checked), zlib inflate,
    then all five scanline un-filters.  Raises ``ValueError`` on any
    other PNG flavor (palette, alpha, interlace, 16-bit) and on any
    malformed/truncated chunk — the layout :func:`encode_png` writes.

    Size bound: filters None/Up/Sub un-filter as whole-row numpy ops,
    but Average and Paeth carry a serial byte recurrence through the
    OUTPUT row, so they run as an O(w) Python-int loop per row (~1e7
    bytes/sec).  Fine for thumbnails and test rasters; megapixel
    corpora should route through a native codec branch of the same
    mapInPandas stage (the documented plug-in seam in
    :func:`extract_features`)."""
    import struct
    import zlib

    import numpy as np

    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    idat = bytearray()
    while pos + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        # declared length is untrusted: bounds-check before slicing so
        # a truncated/malformed chunk raises the codec's ValueError,
        # not struct.error leaking through mapInPandas error reporting
        if pos + 12 + ln > len(data):
            raise ValueError("truncated PNG chunk")
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + ln)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            if len(body) != 13:
                raise ValueError("truncated PNG IHDR")
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "unsupported PNG flavor (need 8-bit RGB, no interlace):"
                    f" depth={depth} color={ctype} interlace={interlace}"
                )
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    bpp, stride = 3, w * 3
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT length does not match dimensions")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if ft == 0:
            cur = row
        elif ft == 2:  # Up — fully vectorized
            cur = (row + prev) & 0xFF
        elif ft == 1:  # Sub — grouped cumulative sum, stride bpp
            cur = row.reshape(-1, bpp)
            cur = np.mod(np.cumsum(cur, axis=0), 256).reshape(-1)
        elif ft == 3:  # Average — serial recurrence through the output;
            # plain Python-int lists beat numpy scalar indexing ~10x here
            rl, pl = row.tolist(), prev.tolist()
            cl = [0] * stride
            for x in range(stride):
                left = cl[x - bpp] if x >= bpp else 0
                cl[x] = (rl[x] + (left + pl[x]) // 2) & 0xFF
            cur = np.asarray(cl, dtype=np.int32)
        elif ft == 4:  # Paeth — same serial recurrence, inlined predictor
            rl, pl = row.tolist(), prev.tolist()
            cl = [0] * stride
            for x in range(stride):
                a = cl[x - bpp] if x >= bpp else 0  # left
                b = pl[x]                            # up
                c = pl[x - bpp] if x >= bpp else 0   # up-left
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cl[x] = (rl[x] + pred) & 0xFF
            cur = np.asarray(cl, dtype=np.int32)
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = cur.astype(np.uint8)
        prev = cur.astype(np.int32)
    return out.reshape(h, w, 3)


def encode_wav(samples, rate: int = 8000) -> bytes:
    """Encode an int16 mono array as a PCM WAV via stdlib ``wave``."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(data: bytes):
    """Decode a 16-bit PCM WAV into ``(samples int16 array, rate)``."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(data), "rb") as wv:
        if wv.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM WAV supported")
        frames = wv.readframes(wv.getnframes())
        rate = wv.getframerate()
    return np.frombuffer(frames, dtype="<i2"), rate


def _real_feature(content: bytes, dim: int) -> list[float]:
    """Decode the payload (magic-byte sniff: BMP, PNG, or WAV) and
    emit a ``dim``-length summary feature.

    - image: R/G/B channel means and stds (÷255) then an
      evenly-binned luminance histogram over the remaining slots;
    - audio: mean, std, RMS of the normalized signal then energy in
      the remaining ``dim-3`` equal time slices.
    All arithmetic is float64 numpy reductions — deterministic on a
    given platform; parity-tested against an independent per-payload
    reference, not a SQL oracle (DuckDB has no codec)."""
    import numpy as np

    h = content or b""
    if h[:2] == b"BM" or h[:8] == PNG_MAGIC:
        dec = decode_png if h[:8] == PNG_MAGIC else decode_bmp
        px = dec(h).astype(np.float64) / 255.0
        chans = [px[:, :, c].reshape(-1) for c in range(3)]
        head = [c.mean() for c in chans] + [c.std() for c in chans]
        lum = 0.299 * chans[0] + 0.587 * chans[1] + 0.114 * chans[2]
        nbins = max(dim - 6, 1)
        hist = np.histogram(lum, bins=nbins, range=(0.0, 1.0))[0] / max(len(lum), 1)
        out = head + hist.tolist()
    elif h[:4] == b"RIFF" and h[8:12] == b"WAVE":
        sig = decode_wav(h)[0].astype(np.float64) / 32768.0
        out = [sig.mean(), sig.std(), float(np.sqrt((sig**2).mean()))]
        nsl = max(dim - 3, 1)
        for sl in np.array_split(sig, nsl):
            out.append(float((sl**2).sum()))
    else:
        raise ValueError(
            "unknown payload magic for decode_stub='real' (supported: "
            "24-bit BMP, 8-bit RGB PNG, 16-bit PCM WAV); use 'fake' for "
            "opaque bytes"
        )
    return [float(x) for x in out[:dim]] + [0.0] * max(dim - len(out), 0)


def _fake_feature(content: bytes, dim: int) -> list[float]:
    """Deterministic pseudo-feature from the payload hash — the test
    stand-in for a real encoder."""
    out: list[float] = []
    h = content or b""
    seed = b""
    while len(out) < dim:
        seed = hashlib.md5(seed + h[:64]).digest()
        out.extend(b / 255.0 for b in seed)
    return out[:dim]


def extract_features(
    media: DataFrame, dim: int = 16, decode_stub: str = "fake", batch_hint: int | None = None
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``decode_stub="real"`` decodes BMP/PNG/WAV payloads with the
    pure-stdlib codecs above (PNG is a genuine compressed codec:
    zlib-DEFLATE + scanline un-filtering) and emits genuine signal
    statistics; ``"fake"`` emits deterministic hash-derived vectors
    (the oracle-comparable path).  An external heavyweight codec
    (JPEG via PIL, audio via librosa/ffmpeg — not in this container)
    plugs in as one more magic-byte branch of ``_real_feature``; the
    mapInPandas shape — iterator of pandas batches in/out, no driver
    collect — is exactly what a real GPU/codec stage uses.
    """
    try:
        featurize = {"fake": _fake_feature, "real": _real_feature}[decode_stub]
    except KeyError:
        raise ValueError(
            f"decode_stub must be 'fake' or 'real', got {decode_stub!r}"
        ) from None

    def run(batches: "Iterator") -> "Iterator":
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["content"].map(lambda b: len(b or b"")),
                    "feature": pdf["content"].map(lambda b: featurize(b, dim)),
                }
            )

    cols = media.select("media_id", "modality", "content")
    return cols.mapInPandas(run, FEATURE_SCHEMA)


def decode_checksums(media: DataFrame) -> DataFrame:
    """``(media_id, modality, n_bytes, wsum)`` — decode every payload
    with the REAL codec (BMP/PNG→top-down RGB raster, WAV→int16
    samples) and emit the position-weighted integer checksum
    ``Σ (k+1)·v_k`` over the decoded values.

    The weighting makes the checksum order-sensitive: a BGR swap,
    a bottom-up row flip, a row-pad leak, a PNG un-filter slip, or
    WAV frame misalignment each change ``wsum`` even when the value
    multiset is identical — so a hash-exact oracle on ``wsum``
    certifies the whole encode→bytes→decode round trip, not just
    byte counts."""

    def run(batches: "Iterator") -> "Iterator":
        import numpy as np
        import pandas as pd

        for pdf in batches:
            sums = []
            for b in pdf["content"]:
                b = bytes(b)
                if b[:2] == b"BM":
                    v = decode_bmp(b).reshape(-1).astype(np.int64)
                elif b[:8] == PNG_MAGIC:
                    v = decode_png(b).reshape(-1).astype(np.int64)
                else:
                    v = decode_wav(b)[0].astype(np.int64)
                sums.append(int(((np.arange(len(v)) + 1) * v).sum()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["content"].map(lambda x: len(bytes(x))),
                    "wsum": sums,
                }
            )

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("modality", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("wsum", T.LongType()),
        ]
    )
    return media.select("media_id", "modality", "content").mapInPandas(
        run, out_schema
    )


def resize_images(
    media: DataFrame, width: int, height: int, codec: str = "passthrough"
) -> DataFrame:
    """Image resize stage.

    ``codec="passthrough"`` (default) passes the payload through and
    rewrites only the metadata — the shape a PIL/GPU transform plugs
    into.  ``codec="bmp"`` / ``codec="png"`` actually re-encode:
    decode the payload, nearest-neighbor resample to ``(height,
    width)`` with numpy index arithmetic, re-encode in the same
    format — a real pixel kernel (for PNG, a real decompress →
    transform → recompress cycle) in the same Arrow ``mapInPandas``
    stage."""
    new_meta = F.struct(
        F.lit(width).alias("width"),
        F.lit(height).alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.codec").alias("codec"),
    )
    if codec == "passthrough":
        return media.withColumn("meta", new_meta)

    if codec not in ("bmp", "png"):
        raise ValueError("codec must be 'passthrough', 'bmp', or 'png'")
    dec, enc = (
        (decode_png, encode_png) if codec == "png" else (decode_bmp, encode_bmp)
    )

    def run(batches: "Iterator") -> "Iterator":
        import numpy as np

        def rz(data: bytes) -> bytes:
            px = dec(data)
            h0, w0, _ = px.shape
            # nearest-neighbor: center-of-cell source index per target
            ri = np.minimum((np.arange(height) + 0.5) * h0 // height, h0 - 1).astype(int)
            ci = np.minimum((np.arange(width) + 0.5) * w0 // width, w0 - 1).astype(int)
            return enc(px[np.ix_(ri, ci)])

        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = pdf["content"].map(rz)
            yield pdf

    return media.withColumn("meta", new_meta).mapInPandas(run, media.schema)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled
    timestamp (real decoder would attach the frame bytes).  The
    explode is JVM-side; only decode is Python."""
    return (
        media.filter(F.col("modality") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("ts_ms"),
        )
    )
