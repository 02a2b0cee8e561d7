"""Multimodal columns: images/audio/video as opaque ``binary`` payloads
with typed metadata, plus the Spark-side plumbing for decode /
feature-extract / resize / frame-sample stages.

``decoder="real"`` is a WORKING path for every container with a pure
numpy/stdlib codec in this repo: uncompressed 24-bit BMP,
non-interlaced 8-bit PNG, baseline JPEG (jpeg.py), 16-bit PCM WAV, and
uncompressed AVI video (video.py, chunk-skip frame sampling).  Only
compressed video codecs (h264/vp9) and progressive/arithmetic JPEG
still raise NotImplementedError at their guard — the documented
PIL/ffmpeg integration points.  ``decoder="fake"`` remains a
deterministic stand-in for those (schema, partitioning, Arrow batch
shape, and UDF signature identical to the real path).

Schema convention:

    payload: binary                -- the encoded media bytes
    media: struct<kind string,     -- 'image' | 'audio' | 'video'
                  format string,   -- 'png', 'wav', ...
                  width int, height int,
                  sample_rate int, n_frames int>

All stages (here and in video.py) run through one driver,
``_map_payloads``: one ``mapInArrow`` pass in which each task decodes
a whole Arrow batch, amortizing per-batch setup; batch size is
controlled by spark.sql.execution.arrow.maxRecordsPerBatch.  Each stage
supplies only its per-payload function.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from torchestra_spark.functions.jpeg import _luma, decode_jpeg_pixels, encode_jpeg

MEDIA_STRUCT = (
    "kind string, format string, width int, height int, sample_rate int, n_frames int"
)


def attach_media_metadata(
    df: DataFrame,
    payload_col: str = "payload",
    kind: str = "image",
    fmt: str = "png",
    width: int = 0,
    height: int = 0,
    sample_rate: int = 0,
    n_frames: int = 0,
) -> DataFrame:
    return df.withColumn(
        "media",
        F.struct(
            F.lit(kind).alias("kind"),
            F.lit(fmt).alias("format"),
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.lit(sample_rate).alias("sample_rate"),
            F.lit(n_frames).alias("n_frames"),
        ),
    )


# --------------------------------------------------------- real codecs
# Pure-numpy/stdlib decoders for the container formats that need no
# external codec library: uncompressed 24-bit BMP, non-interlaced 8-bit
# PNG (zlib inflate + scanline unfiltering), baseline JPEG (jpeg.py:
# huffman + IDCT in numpy), and 16-bit PCM WAV.  This makes
# decoder="real" a working path in this environment; video (mp4)
# remains the one documented integration stub.


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> uncompressed 24-bit BMP bytes (BI_RGB,
    bottom-up rows, 4-byte row padding) — test/synthesis helper."""
    import struct

    h, w, _ = pixels.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    data_size = (row + pad) * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + data_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0)
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        bgr = pixels[y, :, ::-1].tobytes()  # RGB -> BGR
        rows.append(bgr + b"\x00" * pad)
    return header + info + b"".join(rows)


def decode_bmp_pixels(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP -> (h, w, 3) uint8 RGB (the raw pixels
    behind ``decode_bmp``, for transforms that must re-encode —
    luminance is lossy)."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    bottom_up = h > 0
    h = abs(h)
    row = w * 3
    stride = row + (4 - row % 4) % 4
    buf = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=off)
    rows = buf.reshape(h, stride)[:, :row].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP -> (h, w) float32 luminance in [0,1]."""
    return _luma(decode_bmp_pixels(payload))


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> non-interlaced 8-bit truecolor PNG bytes
    (filter-0 scanlines, one zlib IDAT) — test/synthesis helper, the
    ``encode_bmp`` twin."""
    import struct
    import zlib

    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_pixels(payload: bytes) -> np.ndarray:
    """Non-interlaced 8-bit PNG (grayscale / RGB / gray+alpha / RGBA)
    -> (h, w, 3) uint8 RGB, pure stdlib+numpy: ``zlib`` inflate + per-
    scanline unfiltering.  Filter types 0-4 are all supported: None and
    Up are whole-row vector ops, Sub is a per-channel-lane cumsum mod
    256, Average/Paeth recurse on the in-row left neighbor so they fall
    back to a per-byte loop (our encoder emits filter 0, so the oracle
    path never pays it).  Palette (color type 3), 16-bit and Adam7-
    interlaced PNGs raise NotImplementedError.  Alpha is dropped,
    grayscale replicated to 3 channels."""
    import struct
    import zlib

    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    idat = []
    w = h = ctype = None
    while pos + 8 <= len(payload):
        ln = struct.unpack_from(">I", payload, pos)[0]
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise NotImplementedError(f"only 8-bit PNG supported (depth={depth})")
            if ctype not in (0, 2, 4, 6):
                raise NotImplementedError("palette PNG (color type 3) not supported")
            if interlace != 0:
                raise NotImplementedError("Adam7-interlaced PNG not supported")
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    raw = zlib.decompress(b"".join(idat))
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    stride = w * ch + 1
    lines = np.frombuffer(raw, np.uint8, count=stride * h).reshape(h, stride)
    filters = lines[:, 0]
    data = lines[:, 1:].astype(np.int64)
    recon = np.zeros((h, w * ch), dtype=np.uint8)
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        f, row = int(filters[y]), data[y]
        if f == 0:  # None
            r = row
        elif f == 1:  # Sub: per-channel-lane cumsum mod 256
            r = row.reshape(w, ch).cumsum(axis=0).reshape(-1) % 256
        elif f == 2:  # Up
            r = (row + prev) % 256
        elif f in (3, 4):  # Average / Paeth: left-recursive, per byte
            r = np.zeros(w * ch, dtype=np.int64)
            for x in range(w * ch):
                a = int(r[x - ch]) if x >= ch else 0  # left
                b = int(prev[x])  # up
                if f == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prev[x - ch]) if x >= ch else 0  # up-left
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                r[x] = (int(row[x]) + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {f}")
        recon[y] = r
        prev = r.astype(np.int64)
    img = recon.reshape(h, w, ch)
    if ctype == 0:
        return np.repeat(img, 3, axis=2)
    if ctype == 4:
        return np.repeat(img[:, :, :1], 3, axis=2)
    if ctype == 6:
        return img[:, :, :3].copy()
    return img


def decode_png(payload: bytes) -> np.ndarray:
    """Non-interlaced 8-bit PNG -> (h, w) float32 luminance in [0,1]
    (the ``decode_bmp`` twin; same Rec.601 weights)."""
    return _luma(decode_png_pixels(payload))


# magic bytes -> (pixel decoder, encoder) of every image container with
# a pure-numpy codec: what decoder="real" and resize_image understand
_IMAGE_CODECS = (
    (b"BM", decode_bmp_pixels, encode_bmp),
    (PNG_MAGIC, decode_png_pixels, encode_png),
    (b"\xff\xd8", decode_jpeg_pixels, encode_jpeg),  # lossy re-encode
)


def _image_codec(payload: bytes):
    """(pixel decoder, encoder) of the image container ``payload`` is
    in, sniffed by its magic bytes; None for any other payload."""
    for magic, dec, enc in _IMAGE_CODECS:
        if payload.startswith(magic):
            return dec, enc
    return None


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """float samples in [-1,1] -> 16-bit PCM mono WAV bytes."""
    import struct

    pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm16 = (pcm * 32767.0).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm16))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm16))
        + pcm16
    )


def decode_wav(payload: bytes) -> np.ndarray:
    """16-bit PCM WAV -> float32 mono samples in [-1,1] (channels
    averaged)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    channels, bits = 1, 16
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, channels, _sr, _br, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
            if fmt_tag != 1 or bits != 16:
                raise NotImplementedError("only 16-bit PCM WAV supported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if data is None:
        raise ValueError("WAV has no data chunk")
    pcm = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    if channels > 1:
        pcm = pcm[: len(pcm) // channels * channels].reshape(-1, channels).mean(axis=1)
    return pcm


def _pool_features(signal: np.ndarray, n: int) -> np.ndarray:
    """Mean-pool a 1-D signal into n equal buckets (deterministic,
    length-independent feature vector)."""
    if signal.size == 0:
        return np.zeros(n, dtype=np.float32)
    edges = np.linspace(0, signal.size, n + 1).astype(np.int64)
    sums = np.add.reduceat(
        signal.astype(np.float64), np.minimum(edges[:-1], signal.size - 1)
    )
    counts = np.maximum(np.diff(edges), 1)
    # reduceat quirk: repeated indices return the single element
    out = np.where(np.diff(edges) > 0, sums / counts, 0.0)
    return out.astype(np.float32)


def _real_decode(payload: bytes, n: int) -> np.ndarray:
    """Sniff the container by magic bytes and decode with the pure-numpy
    codec; unsupported formats raise NotImplementedError (video needs
    ffmpeg — the documented integration point)."""
    if payload is None or len(payload) == 0:
        return np.zeros(n, dtype=np.float32)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _pool_features(decode_wav(payload), n)
    codec = _image_codec(payload)
    if codec is None:
        raise NotImplementedError(
            "real decoding supports uncompressed BMP, non-interlaced 8-bit "
            "PNG, baseline JPEG, and 16-bit PCM WAV here; video requires "
            "ffmpeg (not available in this environment)"
        )
    return _pool_features(_luma(codec[0](payload)).ravel(), n)


def _fake_decode(payload: bytes, n: int) -> np.ndarray:
    """Deterministic stand-in for a codec: n float32 features derived
    from the payload bytes (stable across partitioning/retries)."""
    if payload is None or len(payload) == 0:
        return np.zeros(n, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    idx = np.arange(n)
    return (arr[idx % len(arr)].astype(np.float32) / 255.0) * (1.0 + (idx % 7) * 0.01)


def _map_payloads(df: DataFrame, payload_col: str, id_col: str, out_ddl: str, fn) -> DataFrame:
    """(id, <out_ddl columns>) from ONE Arrow-batched ``mapInArrow``
    pass over the binary column ``payload_col``.

    ``fn(payload)`` gets one payload (``bytes``, or None for a NULL: each
    stage keeps its own NULL policy) and returns a list of output rows,
    each a tuple matching ``out_ddl``; the payload's id repeats once per
    row.  The id passes through as an Arrow array, ``take``-repeated per
    output row: a pandas round trip would turn a bigint id column holding
    a NULL into float64 and round ids above 2**53.  Decoding is CPU-heavy
    and media tables are often a few files, so the input is first spread
    over the session's parallelism (``_ensure_parallelism``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from torchestra_spark.functions.dedup import _ensure_parallelism

    id_type = df.schema[id_col].dataType.simpleString()
    schema = StructType.fromDDL(f"__id {id_type}, {out_ddl}")
    out_fields = list(to_arrow_schema(schema))[1:]
    sel = _ensure_parallelism(
        df.select(F.col(id_col).alias("__id"), F.col(payload_col).alias("__p"))
    )

    def run(batches):
        for b in batches:
            outs = [fn(p) for p in b.column(1).to_pylist()]
            rows = [r for o in outs for r in o]
            ids = b.column(0).take(np.repeat(np.arange(b.num_rows), [len(o) for o in outs]))
            arrays = [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(out_fields)]
            yield pa.RecordBatch.from_arrays([ids] + arrays, names=schema.names)

    return sel.mapInArrow(run, schema).withColumnRenamed("__id", id_col)


def _resize_nearest(px: np.ndarray, height: int, width: int) -> np.ndarray:
    """Nearest-neighbor resample of an (h, w, ...) image to (height,
    width): two integer index vectors — the deterministic choice
    (bilinear would tie the oracle to float rounding)."""
    h0, w0 = px.shape[:2]
    yi = (np.arange(height, dtype=np.int64) * h0) // height
    xi = (np.arange(width, dtype=np.int64) * w0) // width
    return px[yi][:, xi]


def _resize_payloads(
    df: DataFrame, payload_col: str, id_col: str, width: int, height: int, codec_of
) -> DataFrame:
    """(id, payload) with every image resampled to (height, width) and
    re-encoded by ``codec_of(payload) -> (pixel decoder, encoder)``;
    NULL payloads pass through as NULL."""

    def resize(p):
        if p is None:
            return [(None,)]
        b = bytes(p)
        dec, enc = codec_of(b)
        return [(enc(_resize_nearest(dec(b), height, width)),)]

    return _map_payloads(df, payload_col, id_col, "payload binary", resize)


def decode_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    n_features: int = 64,
    decoder: str = "fake",
) -> DataFrame:
    """payload binary -> features array<float>[n_features].

    decoder='real' decodes uncompressed BMP, non-interlaced 8-bit PNG,
    baseline JPEG and 16-bit PCM WAV with the pure-numpy codecs above
    (luminance / PCM samples mean-pooled into ``n_features`` buckets;
    uncompressed AVI video is sampled per frame by
    ``video.frame_sample``); other containers raise NotImplementedError
    at the PIL/ffmpeg integration point.  decoder='fake' remains the
    deterministic stand-in for formats that need external codecs.  NULL
    and empty payloads give ``n_features`` zeros.
    """
    if decoder not in ("fake", "real"):
        raise ValueError(decoder)
    kernel = _real_decode if decoder == "real" else _fake_decode
    return _map_payloads(
        df, payload_col, id_col, "features array<float>", lambda p: [(kernel(p, n_features),)]
    )


def resize_bmp(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    width: int = 224,
    height: int = 224,
) -> DataFrame:
    """REAL image resize over binary BMP payloads: decode (pure-numpy
    BMP reader above) -> nearest-neighbor resample -> re-encode BMP.
    Returns (id, payload) with every image exactly (height, width).

    The Spark shape is the multimodal contract: opaque binary column
    in, opaque binary column out, Arrow-batched mapInArrow, no
    external codec.  NULL payloads pass through as NULL; non-BMP
    payloads raise at the codec (same contract as decode_features)."""
    return _resize_payloads(
        df, payload_col, id_col, width, height, lambda b: (decode_bmp_pixels, encode_bmp)
    )


def resize_image(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    width: int = 224,
    height: int = 224,
) -> DataFrame:
    """Container-preserving image resize over MIXED binary payloads:
    sniffs each payload by magic (BMP, PNG or JPEG), decodes with the
    pure-numpy codec, nearest-neighbor resamples to (height, width),
    and re-encodes in the SAME container — the ``resize_bmp`` kernel
    generalized to a heterogeneous image column (the realistic corpus
    shape: one binary column, many formats).  NULL payloads pass
    through; unsupported containers raise at the codec (same contract
    as ``decode_features``)."""

    def codec_of(b: bytes):
        codec = _image_codec(b)
        if codec is None:
            raise NotImplementedError(
                "resize_image supports BMP, non-interlaced 8-bit PNG, "
                "and baseline JPEG; video frames require ffmpeg"
            )
        return codec

    return _resize_payloads(df, payload_col, id_col, width, height, codec_of)


def resize_stub(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    width: int = 224,
    height: int = 224,
    decoder: str = "fake",
) -> DataFrame:
    """Resize plumbing: emits (id, width, height, pixels array<float>)
    where the fake decoder produces width*height deterministic values
    (the real path would decode->resize->reencode)."""
    return decode_features(df, payload_col, id_col, n_features=width * height, decoder=decoder)


def frame_sample_stub(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_n: int = 10,
    frame_features: int = 16,
    decoder: str = "fake",
) -> DataFrame:
    """Video frame-sampling plumbing: (id, frame_idx, features).  The
    fake decoder fabricates max(1, len(payload) // every_n) frames (one
    frame, index 0, for a NULL or empty payload); ``decoder="real"``
    delegates to :func:`torchestra_spark.functions.video.frame_sample`
    — real demux of uncompressed AVI containers (compressed codecs
    raise there, at the fourcc check)."""
    if decoder == "real":
        from torchestra_spark.functions.video import frame_sample

        return frame_sample(
            df, payload_col, id_col, every_n=every_n, frame_features=frame_features
        )

    def sample(p):
        p = p or b""
        return [
            (fi, _fake_decode(p + bytes([fi % 256]), frame_features))
            for fi in range(max(1, len(p) // every_n))
        ]

    return _map_payloads(df, payload_col, id_col, "frame_idx int, features array<float>", sample)
