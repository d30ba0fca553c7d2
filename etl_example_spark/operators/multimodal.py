"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, with Arrow-batched decode/feature UDFs.

Design (the part that matters at 100 TB):
- payloads are ``BinaryType`` columns riding next to a metadata struct
  (modality, format, width/height/duration, byte size) — never exploded
  into rows, never stringified;
- per-item work (decode, resize, frame-sample, feature-extract) runs via
  ``mapInPandas``: Arrow batches stream through Python with bounded
  memory (batch size × item size), and partition counts control
  decode parallelism independent of file layout;
- the decode kernel is pluggable, and the UNCOMPRESSED formats decode
  for real in pure numpy: binary PPM images (``decode_ppm`` /
  ``nn_resize`` / ``encode_ppm``), 8-bit non-interlaced PNG — an
  ACTUAL compressed format: stdlib-zlib DEFLATE plus all five scanline
  filters (``decode_png`` / ``encode_png``) — and RIFF PCM16 WAV audio
  (``decode_wav`` / ``encode_wav``) — all oracle-verified end-to-end
  (m39/m40, m42, m41), plus BASELINE SEQUENTIAL JPEG — the dominant
  web-image format: marker walk, Annex-C huffman rebuild, entropy
  decode with restart markers, dequant + orthonormal IDCT, chroma
  upsampling, JFIF YCbCr->RGB (``decode_jpeg`` / ``encode_jpeg``,
  m43: the DC-only path is exact by construction and externally
  verified; the AC/color paths are bounded-error property-tested).
  Codec libraries (PIL/ffmpeg/torchaudio) are NOT in this environment,
  so mp4 / progressive JPEG / palette-or-16-bit PNG route to
  ``decode_stub``, which raises NotImplementedError exactly where the
  codec call belongs; ``fake_decode_features`` is the deterministic
  stand-in used by tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature_hash", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def attach_binary_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Demo wrapper: treat each document's UTF-8 bytes as an opaque media
    payload with metadata — the ingestion shape a real image/audio table
    has (payload column + typed metadata struct)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("raw").alias("format"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("media"),
    )


MODALITIES = ["image", "audio", "video"]
MODALITY_FORMATS = {"image": "png", "audio": "wav", "video": "mp4"}


def attach_mixed_media(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mixed-modality demo table: documents become image/audio/video items
    by ``doc_id % 3``, with modality-appropriate metadata (dims for visual
    media, duration for timed media). Same payload-beside-struct shape as
    :func:`attach_binary_payload`, but exercising all three modalities."""
    payload = F.encode(F.col(text_col), "UTF-8")
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.pmod(F.col(id_col), 3) + 1).cast("int"),
    )
    fmt = F.element_at(
        F.array(*[F.lit(MODALITY_FORMATS[m]) for m in MODALITIES]),
        (F.pmod(F.col(id_col), 3) + 1).cast("int"),
    )
    n_bytes = F.length(payload).cast("long")
    timed = modality.isin("audio", "video")
    visual = modality.isin("image", "video")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            modality.alias("modality"),
            fmt.alias("format"),
            n_bytes.alias("n_bytes"),
            F.when(visual, F.lit(64)).alias("width"),
            F.when(visual, F.lit(64)).alias("height"),
            # demo contract: 10ms of media per payload byte
            F.when(timed, n_bytes * 10).alias("duration_ms"),
        ).alias("media"),
    )


def decode_stub(payload: bytes, fmt: str) -> object:
    """The pluggable EXTERNAL-codec boundary (PIL.Image.open / av.open /
    soundfile) for formats outside the engine's own stdlib codecs —
    which now cover every modality: PPM/PNG/JPEG (:func:`decode_ppm`,
    :func:`decode_png`, :func:`decode_jpeg`), WAV (:func:`decode_wav`),
    and MJPEG-in-AVI video (:func:`parse_avi_mjpeg` +
    :func:`decode_avi_frame`). Formats beyond those (e.g. H.264, FLAC)
    need a library this container doesn't ship — STUB by contract."""
    raise NotImplementedError(
        "no built-in codec for this format; plug an external decoder "
        "here (e.g. PIL.Image.open(io.BytesIO(payload)))"
    )


def decode_ppm(payload: bytes):
    """REAL image decode for binary (P6) PPM — the one raster format an
    uncompressed-numpy path fully covers with no codec library: header
    ``P6 <width> <height> <maxval>`` in ASCII (``#`` comments allowed),
    one whitespace byte, then ``height*width*3`` raw RGB bytes. Returns
    a ``(height, width, 3)`` uint8 ndarray."""
    import numpy as np

    def token(pos: int) -> tuple[bytes, int]:
        while True:
            while pos < len(payload) and payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":
                while pos < len(payload) and payload[pos] != 0x0A:
                    pos += 1
            else:
                break
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        return payload[start:pos], pos

    magic, pos = token(0)
    if magic != b"P6":
        raise ValueError(f"not a binary PPM (P6) payload: magic={magic!r}")
    w_tok, pos = token(pos)
    h_tok, pos = token(pos)
    max_tok, pos = token(pos)
    width, height, maxval = int(w_tok), int(h_tok), int(max_tok)
    if not 0 < maxval < 256:
        raise ValueError(f"only 8-bit PPM supported, maxval={maxval}")
    pos += 1  # exactly one whitespace byte separates header from raster
    n = width * height * 3
    raster = payload[pos : pos + n]
    if len(raster) != n:
        raise ValueError(
            f"truncated PPM raster: expected {n} bytes, got {len(raster)}"
        )
    return np.frombuffer(raster, dtype=np.uint8).reshape(height, width, 3)


def encode_ppm(arr) -> bytes:
    """Inverse of :func:`decode_ppm`: a ``(height, width, 3)`` uint8
    array as canonical binary PPM bytes."""
    import numpy as np

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    if c != 3:
        raise ValueError(f"PPM is RGB; got {c} channels")
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: PNG color type -> channel count (8-bit, non-interlaced support)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png(payload: bytes):
    """REAL compressed-image decode for 8-bit non-interlaced PNG —
    entirely stdlib (zlib inflate, struct, crc32) + numpy: chunk walk
    with CRC verification, IDAT concatenation, inflate, and per-row
    reversal of all five scanline filters (None/Sub/Up/Average/Paeth).
    Color types 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA). Returns a
    ``(height, width, channels)`` uint8 ndarray.

    Unlike the PPM path this exercises an actual compression pipeline
    (DEFLATE + predictive filters), so the codec boundary is no longer
    stub-only for compressed formats; palette/16-bit/interlaced PNGs
    still route to the pluggable ``decoder=``.
    """
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = 8
    ihdr = None
    idat = b""
    while pos + 12 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk data")
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if crc != (zlib.crc32(ctype + data) & 0xFFFFFFFF):
            raise ValueError(f"bad CRC on {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("missing/malformed IHDR")
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8 or color not in _PNG_CHANNELS:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color={color}); "
            "plug a full codec via decoder="
        )
    if comp != 0 or filt != 0 or interlace != 0:
        raise ValueError("unsupported PNG compression/filter/interlace")
    ch = _PNG_CHANNELS[color]
    stride = w * ch
    raw = zlib.decompress(idat)
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG raster size mismatch: {len(raw)} != {h * (stride + 1)}"
        )
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = ch
    p = 0
    for r in range(h):
        f = raw[p]
        line = np.frombuffer(raw, np.uint8, stride, p + 1)
        p += stride + 1
        if f == 0:
            rec = line.copy()
        elif f == 2:  # Up — uint8 addition wraps mod 256 by itself
            rec = line + prev
        elif f in (1, 3, 4):  # Sub/Average/Paeth: left-dependent, so
            rec32 = np.zeros(stride, dtype=np.int32)  # sequential
            for i in range(stride):
                a = int(rec32[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    pp = a + b - c
                    pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = c
                rec32[i] = (int(line[i]) + pred) % 256
            rec = rec32.astype(np.uint8)
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[r] = rec
        prev = rec
    return out.reshape(h, w, ch)


def encode_png(arr, filter_mode: str = "cycle") -> bytes:
    """Inverse of :func:`decode_png`: 8-bit gray/gray+alpha/RGB/RGBA
    array as PNG bytes. ``filter_mode='cycle'`` applies scanline filter
    ``row % 5`` (forward filtering is vectorizable — the neighbors are
    the ORIGINAL bytes), so a round trip through :func:`decode_png`
    exercises every filter's sequential inverse; ``'zero'`` writes
    unfiltered rows."""
    import struct
    import zlib

    import numpy as np

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    bpp = ch
    stride = w * ch
    flat = a.reshape(h, stride).astype(np.int32)
    zero = np.zeros(bpp, dtype=np.int32)
    scanlines = []
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        cur = flat[r]
        left = np.concatenate([zero, cur[:-bpp]]) if stride > bpp else (
            np.zeros(stride, dtype=np.int32)
        )
        up = prev
        diag = np.concatenate([zero, up[:-bpp]]) if stride > bpp else (
            np.zeros(stride, dtype=np.int32)
        )
        f = (r % 5) if filter_mode == "cycle" else 0
        if f == 0:
            filt = cur
        elif f == 1:
            filt = (cur - left) % 256
        elif f == 2:
            filt = (cur - up) % 256
        elif f == 3:
            filt = (cur - (left + up) // 2) % 256
        else:  # Paeth
            pp = left + up - diag
            pa = np.abs(pp - left)
            pb = np.abs(pp - up)
            pc = np.abs(pp - diag)
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, up, diag),
            )
            filt = (cur - pred) % 256
        scanlines.append(bytes([f]) + filt.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    idat = zlib.compress(b"".join(scanlines))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def nn_resize(arr, width: int, height: int):
    """Nearest-neighbor resize by pure numpy fancy indexing: output
    pixel (i, j) takes source pixel (i*H_in//H_out, j*W_in//W_out) —
    the deterministic floor mapping, so results are bit-reproducible
    across runs and engines."""
    import numpy as np

    h_in, w_in = arr.shape[:2]
    rows = (np.arange(height) * h_in) // height
    cols = (np.arange(width) * w_in) // width
    return arr[rows][:, cols]


def decode_media(payload: bytes, fmt: str, decoder=None):
    """Format dispatch for the decode kernel. An explicitly injected
    ``decoder`` — a ``Callable[[bytes, str], np.ndarray]`` — WINS over
    the built-ins for every format (the user said "use my codec": a
    cluster shipping PIL/ffmpeg plugs in ``lambda p, f:
    np.asarray(PIL.Image.open(io.BytesIO(p)))`` without forking the
    operators, and can override the stdlib paths wholesale). Without
    one, PPM/PNG/baseline-JPEG/WAV decode for real (stdlib + numpy);
    the rest route to :func:`decode_stub`, which raises."""
    if decoder is not None:
        return decoder(payload, fmt)
    if fmt == "ppm":
        return decode_ppm(payload)
    if fmt == "png":
        return decode_png(payload)
    if fmt in ("jpeg", "jpg"):
        return decode_jpeg(payload)
    if fmt == "wav":
        return decode_wav(payload)
    return decode_stub(payload, fmt)


def fake_decode_features(payload: bytes, dims: int = 8) -> list[float]:
    """Deterministic stand-in feature vector: byte-histogram moments.
    Replaces the (stubbed) codec+model path so the distributed plumbing is
    testable end-to-end."""
    import hashlib

    digest = hashlib.md5(payload).digest()
    return [b / 255.0 for b in digest[:dims]]


def decoded_features(arr, dims: int = 8) -> list[float]:
    """Feature vector from a DECODED media array: the first ``dims``
    flattened samples scaled to [0, 1] (zero-padded) — a deterministic
    reduction so a plugged-in codec path stays testable without a model.
    A real build replaces this with the embedding forward pass."""
    import numpy as np

    flat = np.asarray(arr).ravel().astype("float64")[:dims]
    out = [float(v) / 255.0 for v in flat]
    return out + [0.0] * (dims - len(out))


def extract_features(
    media_df: DataFrame,
    dims: int = 8,
    batch_size_hint: int = 256,
    decoder=None,
) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, payload, media) rows.

    ``mapInPandas`` streams Arrow record batches through Python — memory
    is bounded by batch size, not partition size, and the output schema is
    declared up front (FEATURE_SCHEMA) so Catalyst can keep planning
    around the UDF.

    ``decoder`` makes the codec boundary pluggable without forking the
    operator: when given (``Callable[[bytes, str], np.ndarray]``, e.g. a
    PIL wrapper on a cluster that ships it), payloads decode through
    :func:`decode_media` and featurize from the decoded array
    (:func:`decoded_features`); with no decoder, the kernel keeps the
    deterministic byte-digest stand-in ``fake_decode_features``.
    """
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            if decoder is None:
                feats = [fake_decode_features(p, dims) for p in payloads]
            else:
                feats = [
                    decoded_features(
                        decode_media(bytes(p), m["format"], decoder), dims
                    )
                    for p, m in zip(payloads, pdf["media"])
                ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "modality": [m["modality"] for m in pdf["media"]],
                    "n_bytes": [len(p) for p in payloads],
                    "feature_hash": [
                        hashlib.md5(b",".join(f"{x:.6f}".encode() for x in fv)).hexdigest()
                        for fv in feats
                    ],
                    "feature": feats,
                }
            )

    return media_df.mapInPandas(batches, FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_payload", T.BinaryType()),
        T.StructField("frame_hash", T.StringType()),
    ]
)


def sample_frames(
    media_df: DataFrame, every_ms: int = 1000, max_frames: int = 8
) -> DataFrame:
    """Frame sampling for video payloads: one output row per sampled frame
    (``min(duration // every_ms + 1, max_frames)`` frames per item).

    ``mapInPandas`` fan-OUT: input rows become multiple output rows inside
    the Arrow batch, so the expansion happens executor-side with no
    explode-shuffle. This is the metadata-driven PLUMBING demo (frame
    payloads are the deterministic stand-in ``md5(hex(payload) |
    frame_idx)`` so fan-out/schema/batching are oracle-checkable via the
    hex hash chain); the REAL container path is the m48 registration —
    :func:`parse_avi_mjpeg`'s idx1 seek table + :func:`decode_avi_frame`
    decode actual sampled frame bytes through the baseline-JPEG codec.
    """
    import hashlib

    videos = media_df.filter(F.col("media.modality") == "video").select(
        "doc_id", "payload", F.col("media.duration_ms").alias("duration_ms")
    )

    def frames(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "frame_payload": [],
                "frame_hash": [],
            }
            for doc_id, payload, duration in zip(
                pdf["doc_id"], pdf["payload"], pdf["duration_ms"]
            ):
                if payload is None or pd.isna(duration):
                    # payload-less item: no frames (oracle NULL-skip)
                    continue
                n = min(int(duration) // every_ms + 1, max_frames)
                for i in range(n):
                    key = f"{bytes(payload).hex().upper()}|{i}"
                    digest = hashlib.md5(key.encode())
                    out["doc_id"].append(int(doc_id))
                    out["frame_idx"].append(i)
                    out["frame_payload"].append(digest.digest())
                    out["frame_hash"].append(digest.hexdigest())
            yield pd.DataFrame(out)

    return videos.mapInPandas(frames, FRAME_SCHEMA)


CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
        T.StructField("chunk_hash", T.StringType()),
    ]
)


def chunk_audio(
    media_df: DataFrame, chunk_ms: int = 2000, max_chunks: int = 16
) -> DataFrame:
    """Audio chunking for timed payloads: one row per ``chunk_ms`` window
    (capped), with exact [start_ms, end_ms) bounds — the segmentation step
    before transcription/embedding of long audio. Same mapInPandas fan-out
    shape as :func:`sample_frames`; the chunk id is the deterministic
    ``md5(hex(payload) | idx)`` stand-in for the (stubbed) codec's actual
    byte-range slice."""
    import hashlib

    audio = media_df.filter(F.col("media.modality") == "audio").select(
        "doc_id", "payload", F.col("media.duration_ms").alias("duration_ms")
    )

    def chunks(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [],
                "chunk_idx": [],
                "start_ms": [],
                "end_ms": [],
                "chunk_hash": [],
            }
            for doc_id, payload, duration in zip(
                pdf["doc_id"], pdf["payload"], pdf["duration_ms"]
            ):
                if payload is None or pd.isna(duration):
                    # payload-less item: nothing to slice — emit no
                    # chunks, matching the oracle's NULL-duration skip
                    continue
                dur = int(duration)
                n = min((dur + chunk_ms - 1) // chunk_ms, max_chunks)
                for i in range(n):
                    key = f"{bytes(payload).hex().upper()}|{i}"
                    out["doc_id"].append(int(doc_id))
                    out["chunk_idx"].append(i)
                    out["start_ms"].append(i * chunk_ms)
                    out["end_ms"].append(min((i + 1) * chunk_ms, dur))
                    out["chunk_hash"].append(
                        hashlib.md5(key.encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return audio.mapInPandas(chunks, CHUNK_SCHEMA)


def resize_media(
    media_df: DataFrame,
    width: int = 32,
    height: int = 32,
    decoder=None,
    encoder=None,
) -> DataFrame:
    """Resize plumbing for visual payloads (image/video): same schema out
    as in, with updated dimensions and the re-encoded payload.

    PPM-format images resize FOR REAL inside the Arrow batch —
    ``decode_ppm`` -> ``nn_resize`` (numpy nearest-neighbor) ->
    ``encode_ppm`` — exercising the actual decode/transform/re-encode
    cycle a production image pipeline runs per batch. Other visual
    formats go through the pluggable codec boundary: a supplied
    ``decoder(payload, fmt) -> ndarray`` (PIL/ffmpeg wrapper on a
    cluster that ships one) decodes them, ``nn_resize`` scales, and
    ``encoder(arr, fmt) -> bytes`` re-encodes (default: canonical PPM
    raster bytes). With no decoder, the stand-in emits ``md5(payload)``
    bytes so the pipeline stays deterministic end-to-end (the stubbed
    ``decode_stub`` marks where the codec belongs). Non-visual payloads
    pass through untouched."""
    import hashlib

    out_schema = media_df.schema

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized_payloads = []
            metas = []
            for payload, media in zip(pdf["payload"], pdf["media"]):
                meta = dict(media)
                if meta["modality"] in ("image", "video"):
                    if meta["format"] == "ppm":
                        resized = encode_ppm(
                            nn_resize(
                                decode_ppm(bytes(payload)), width, height
                            )
                        )
                    elif decoder is not None:
                        arr = nn_resize(
                            decode_media(
                                bytes(payload), meta["format"], decoder
                            ),
                            width,
                            height,
                        )
                        resized = (
                            encoder(arr, meta["format"])
                            if encoder is not None
                            else encode_ppm(arr)
                        )
                    else:
                        resized = hashlib.md5(bytes(payload)).digest()
                    meta["width"], meta["height"] = width, height
                    meta["n_bytes"] = len(resized)
                    resized_payloads.append(resized)
                else:
                    resized_payloads.append(bytes(payload))
                metas.append(meta)
            pdf = pdf.copy()
            pdf["payload"] = resized_payloads
            pdf["media"] = metas
            yield pdf

    return media_df.mapInPandas(kernel, out_schema)


def media_stats(media_df: DataFrame) -> DataFrame:
    """Relational side of the multimodal table: per-modality byte totals.
    Pure built-ins over the metadata struct — binary payloads are never
    deserialized for stats."""
    return (
        media_df.groupBy(F.col("media.modality").alias("modality"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum("media.n_bytes").alias("total_bytes"),
            F.min("media.n_bytes").alias("min_bytes"),
            F.max("media.n_bytes").alias("max_bytes"),
        )
        .orderBy("modality")
    )


def encode_text_stub(
    df: DataFrame,
    dims: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic stand-in for a text-embedding model, as the REAL
    inference plumbing: ``mapInPandas`` over Arrow batches, one Python
    worker call per batch (the shape a torch/onnx encoder plugs into —
    swap the digest for a model forward pass and nothing else changes).
    The fake embedding is the ASCII codes of the text's md5 hex digest,
    so the output is a pure function of the text and the whole
    encode -> search pipeline stays oracle-checkable.
    """
    import hashlib

    schema = f"{id_col} long, embedding array<double>"

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            digests = [
                hashlib.md5((t or "").encode()).hexdigest()
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "embedding": [
                        [float(ord(d[j])) for j in range(dims)]
                        for d in digests
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(encode, schema)


def decode_wav(payload: bytes):
    """REAL audio decode for RIFF PCM WAV — the one audio container an
    uncompressed-numpy path fully covers with no codec library: RIFF
    header, ``fmt `` chunk (must be PCM, 16-bit), ``data`` chunk of
    little-endian int16 samples. Returns (sample_rate, channels,
    samples) with samples a ``(n,)`` int16 ndarray (interleaved if
    multichannel). Unknown chunks (LIST, cue…) are skipped like every
    real reader does."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, bits = 12, None, None, None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, channels, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if fmt_tag != 1:
                raise ValueError(f"only PCM (fmt=1) supported, got {fmt_tag}")
            if bits != 16:
                raise ValueError(f"only 16-bit PCM supported, got {bits}")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return rate, channels, np.frombuffer(data, dtype="<i2")


def encode_wav(samples, rate: int = 16_000, channels: int = 1) -> bytes:
    """Inverse of :func:`decode_wav`: int16 samples as canonical
    minimal RIFF PCM bytes."""
    import struct

    import numpy as np

    a = np.ascontiguousarray(samples, dtype="<i2")
    data = a.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# Baseline JPEG codec — stdlib + numpy, no codec library
# ---------------------------------------------------------------------------
#
# Scope: baseline sequential DCT (SOF0), 8-bit, grayscale or YCbCr with
# any integer-ratio sampling factors (4:4:4 / 4:2:2 / 4:2:0), custom or
# standard huffman tables (the decoder rebuilds any DHT via the Annex C
# canonical-code procedure), restart intervals, APPn/COM skipping.
# Progressive (SOF2), arithmetic coding, and 12-bit precision route to
# the pluggable ``decoder=`` as before.


def _jpeg_zigzag() -> list[int]:
    """Raster index of each zigzag position, generated (not transcribed):
    diagonal s = row+col walks alternate direction; odd diagonals run
    row-ascending, even ones row-descending."""
    out = []
    for s in range(15):
        rs = range(max(0, s - 7), min(7, s) + 1)
        rows = rs if s % 2 == 1 else reversed(list(rs))
        out.extend(r * 8 + (s - r) for r in rows)
    return out


_ZIGZAG = _jpeg_zigzag()


def _dct_matrix():
    """Orthonormal 8x8 DCT-II matrix — identical to the JPEG FDCT
    normalization (F = M f M^T), so no extra scaling anywhere."""
    import math

    import numpy as np

    m = np.zeros((8, 8))
    for u in range(8):
        for x in range(8):
            c = (1 / 8) ** 0.5 if u == 0 else 0.5
            m[u, x] = c * math.cos((2 * x + 1) * u * math.pi / 16)
    return m


class _BitReader:
    """Entropy-segment bit reader: 0xFF00 byte-unstuffing, RSTn sync."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1
                else:  # a marker — entropy data ended prematurely
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02X} in entropy data"
                    )
            self.bits = b
            self.nbits = 8
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self, n: int) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.nbits = 0
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != (
            0xD0 + (n & 7)
        ):
            raise ValueError(
                f"expected RST{n & 7} at byte {self.pos}, got "
                f"{self.data[self.pos:self.pos + 2]!r}"
            )
        self.pos += 2


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> symbol via the Annex C canonical procedure."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _huff_read(reader: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code in entropy data")


def _extend(v: int, t: int) -> int:
    """JPEG EXTEND: t-bit magnitude bits -> signed value."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes):
    """REAL baseline JPEG decode — stdlib + numpy: marker walk, DQT/DHT
    table parse (canonical huffman rebuild per Annex C), interleaved or
    single-component entropy decode with byte-unstuffing and restart
    markers, dequantize + de-zigzag, orthonormal IDCT, chroma
    upsampling by sample replication, JFIF YCbCr->RGB. Returns uint8
    ``(h, w)`` for grayscale or ``(h, w, 3)`` RGB.

    Progressive/arithmetic/12-bit JPEGs raise ValueError and route to
    the pluggable ``decoder=`` in :func:`decode_media`. EVERY malformed
    or truncated payload raises ValueError too (fuzz-tested over all
    truncation points) — a codec at the Arrow batch boundary must fail
    with a catchable, meaningful error, never a raw IndexError from
    half-parsed state."""
    import struct

    try:
        return _decode_jpeg(payload)
    except (IndexError, struct.error) as e:
        raise ValueError(f"truncated/malformed JPEG payload: {e}") from e


def _decode_jpeg(payload: bytes):
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, object] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
    sof = None
    restart_interval = 0
    while True:
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        (seglen,) = __import__("struct").unpack(">H", payload[pos : pos + 2])
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT — possibly several tables per segment
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int32)
                for i in range(64):
                    tbl[_ZIGZAG[i]] = seg[p + 1 + i]
                qt[tq] = tbl.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT — possibly several tables
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                p += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, ncomp = (
                seg[0],
                int.from_bytes(seg[1:3], "big"),
                int.from_bytes(seg[3:5], "big"),
                seg[5],
            )
            if prec != 8:
                raise ValueError("only 8-bit baseline JPEG supported")
            comps = []
            for i in range(ncomp):
                cid, hv, tqi = seg[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tqi}
                )
            sof = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"non-baseline JPEG (SOF marker 0xFF{marker:02X}); "
                "plug a full codec via decoder="
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i : 3 + 2 * i]
                scan.append({"cs": cs, "td": tdta >> 4, "ta": tdta & 0xF})
            pos += seglen
            break
        # APPn / COM / anything else: skip
        pos += seglen

    if sof is None:
        raise ValueError("missing SOF0 before SOS")
    h, w, comps = sof["h"], sof["w"], sof["comps"]
    by_id = {c["id"]: c for c in comps}
    for s in scan:
        c = by_id[s["cs"]]
        c["td"], c["ta"] = s["td"], s["ta"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    m = _dct_matrix()

    if len(scan) == 1 and len(comps) == 1:
        # non-interleaved single-component scan: MCU == one block
        c = comps[0]
        bx, by = -(-w // 8), -(-h // 8)
        mcus_x, mcus_y = bx, by
        layout = [(c, 1, 1)]
        plane_shapes = {c["id"]: (by * 8, bx * 8)}
    else:
        mcus_x = -(-w // (8 * hmax))
        mcus_y = -(-h // (8 * vmax))
        layout = [(c, c["h"], c["v"]) for c in comps]
        plane_shapes = {
            c["id"]: (mcus_y * c["v"] * 8, mcus_x * c["h"] * 8)
            for c in comps
        }

    planes = {
        cid: np.zeros(shape, dtype=np.float64)
        for cid, shape in plane_shapes.items()
    }
    reader = _BitReader(payload, pos)
    preds = {c["id"]: 0 for c in comps}
    n_mcus = mcus_x * mcus_y
    rst = 0
    for mcu in range(n_mcus):
        if restart_interval and mcu and mcu % restart_interval == 0:
            reader.sync_restart(rst)
            rst = (rst + 1) & 7
            preds = {c["id"]: 0 for c in comps}
        my, mx = divmod(mcu, mcus_x)
        for c, ch, cv in layout:
            dc_tbl = huff[(0, c["td"])]
            ac_tbl = huff[(1, c["ta"])]
            q = qt[c["tq"]]
            for v_ in range(cv):
                for h_ in range(ch):
                    coef = np.zeros(64, dtype=np.int32)
                    t = _huff_read(reader, dc_tbl)
                    diff = _extend(reader.read_bits(t), t) if t else 0
                    preds[c["id"]] += diff
                    coef[0] = preds[c["id"]]
                    k = 1
                    while k < 64:
                        rs_sym = _huff_read(reader, ac_tbl)
                        run, size = rs_sym >> 4, rs_sym & 0xF
                        if size == 0:
                            if run == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += run
                        if k > 63:
                            raise ValueError("AC coefficient overrun")
                        coef[k] = _extend(reader.read_bits(size), size)
                        k += 1
                    block = np.zeros((8, 8))
                    for i in range(64):
                        block.flat[_ZIGZAG[i]] = coef[i]
                    block *= q
                    px = m.T @ block @ m + 128.0
                    r0 = (my * cv + v_) * 8
                    c0 = (mx * ch + h_) * 8
                    planes[c["id"]][r0 : r0 + 8, c0 : c0 + 8] = px

    out_planes = []
    for c in comps:
        p = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:h, :w])
    if len(comps) == 1:
        return np.clip(np.rint(out_planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


class _BitWriter:
    """Entropy bit writer: MSB-first, 0xFF byte-stuffing, 1-padded flush."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)


def _fixed_length_huff(symbols: set[int]) -> tuple[list[int], list[int]]:
    """A valid DHT (BITS, HUFFVAL) giving every used symbol the same
    code length L with 2^L > n (the all-ones code stays unused, so the
    canonical code is a strict prefix code). Compression-suboptimal and
    entirely legal — the decoder rebuilds ANY table from BITS/HUFFVAL,
    including libjpeg's Annex K defaults, via the same Annex C walk."""
    vals = sorted(symbols)
    n = len(vals)
    length = 1
    while (1 << length) - 1 < n:
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    return bits, vals


def _optimal_huff(freqs: dict[int, int]) -> tuple[list[int], list[int]]:
    """Frequency-optimal canonical DHT (BITS, HUFFVAL), length-limited
    to 16 bits the way real encoders build theirs: plain huffman over
    the symbol frequencies plus one zero-frequency DUMMY symbol,
    overlong codes folded upward per Annex K.3 (move a pair up from the
    deepest level), then one code removed from the deepest used length
    — the dummy's slot — which leaves the code incomplete there so the
    all-ones codeword is never assigned (libjpeg's reservation trick).
    Canonical assignment gives shorter codes to more frequent symbols,
    ties by symbol value, so tables are deterministic. Exercises the
    decoder's variable-length canonical walk the way interop JPEGs do —
    fixed-length tables never leave one length."""
    import heapq
    import itertools

    if not freqs:
        freqs = {0: 1}
    tie = itertools.count()
    # dummy first so it merges earliest and sinks deepest
    heap = [(0, next(tie), "DUMMY")]
    for sym, f in sorted(freqs.items()):
        heap.append((f, next(tie), sym))
    heapq.heapify(heap)
    depth: dict[object, int] = {}

    def deepen(node, by):
        if isinstance(node, tuple):
            for child in node:
                deepen(child, by)
        else:
            depth[node] = depth.get(node, 0) + by

    while len(heap) > 1:
        f1, _, n1 = heapq.heappop(heap)
        f2, _, n2 = heapq.heappop(heap)
        deepen(n1, 1)
        deepen(n2, 1)
        heapq.heappush(heap, (f1 + f2, next(tie), (n1, n2)))
    counts = [0] * (max(max(depth.values()) + 2, 18))
    for _, d in depth.items():
        counts[d] += 1
    # Annex K.3: fold levels deeper than 16 upward
    for ln in range(len(counts) - 1, 16, -1):
        while counts[ln] > 0:
            j = ln - 2
            while counts[j] == 0:
                j -= 1
            counts[ln] -= 2
            counts[ln - 1] += 1
            counts[j] -= 1
            counts[j + 1] += 2
    # drop one code from the deepest used length — the dummy's slot;
    # the deepest level goes incomplete, so all-ones is never assigned
    top = max(i for i in range(1, 17) if counts[i])
    counts[top] -= 1
    bits = [counts[i] for i in range(1, 17)]
    assert sum(bits) == len(freqs)
    # canonical fill: most frequent symbols take the shortest codes
    by_freq = sorted(freqs, key=lambda s: (-freqs[s], s))
    vals: list[int] = []
    i = 0
    for ln in range(1, 17):
        vals.extend(by_freq[i : i + bits[ln - 1]])
        i += bits[ln - 1]
    return bits, vals


def _huff_encode_table(
    bits: list[int], vals: list[int]
) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length); inverse view of the Annex C walk."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return table


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    t = abs(v).bit_length()
    return t, v if v > 0 else v + (1 << t) - 1


def _block_symbols(coef) -> tuple[list, list]:
    """Zigzag-ordered quantized block -> (dc entry, ac entries) as
    (symbol, extra-bit value, extra-bit count) triples; DC symbol left
    as the category placeholder (diff applied by the caller)."""
    ac = []
    run = 0
    last = 63
    while last > 0 and coef[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        if coef[k] == 0:
            run += 1
            continue
        while run > 15:
            ac.append((0xF0, 0, 0))  # ZRL
            run -= 16
        t, extra = _magnitude(int(coef[k]))
        ac.append(((run << 4) | t, extra, t))
        run = 0
    if last < 63:
        ac.append((0x00, 0, 0))  # EOB
    return coef, ac


#: quality-100 table: every step 1 (AC roundoff only); DC8 keeps the
#: flat-block path exact (DC of a flat block of value v is 8(v-128),
#: divisible by 8, and the IDCT of a DC-only block is exactly flat)
_JPEG_Q_UNIT = [1] * 64


def encode_jpeg(
    arr,
    quant=None,
    chroma_quant=None,
    subsampling: tuple[int, int] = (1, 1),
    restart_interval: int = 0,
    optimize_huffman: bool = True,
) -> bytes:
    """Baseline JPEG encoder — the test/oracle counterpart of
    :func:`decode_jpeg` (the same role :func:`encode_png` plays for the
    PNG path): grayscale ``(h, w)`` or RGB ``(h, w, 3)`` uint8 input,
    orthonormal FDCT, quantization by the given raster-order 64-entry
    tables (default: all-ones — "quality 100", DCT roundoff only),
    frequency-optimal length-limited canonical huffman tables by
    default (``optimize_huffman=False`` falls back to fixed-length
    tables — both are legal DHTs; the decoder rebuilds either through
    the same Annex C walk), optional 2x1/2x2 chroma subsampling
    (``subsampling=(h, v)`` factors applied to the LUMA plane, chroma
    stays 1x1 — (2, 2) is 4:2:0) and restart intervals. Edge padding
    replicates border pixels."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    m = _dct_matrix()
    q_luma = np.asarray(quant if quant is not None else _JPEG_Q_UNIT,
                        dtype=np.int32).reshape(8, 8)
    q_chroma = np.asarray(
        chroma_quant if chroma_quant is not None else q_luma,
        dtype=np.int32,
    ).reshape(8, 8)

    if gray:
        comps = [{"id": 1, "h": 1, "v": 1, "tq": 0, "plane": a.astype(np.float64)}]
    else:
        rgb = a.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        sh, sv = subsampling
        if (sh, sv) != (1, 1):
            # average-pool chroma by the sampling ratio (pad first)
            ph, pw = -(-h // sv) * sv, -(-w // sh) * sh
            def pool(p):
                p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
                return p.reshape(ph // sv, sv, pw // sh, sh).mean(axis=(1, 3))
            cb, cr = pool(cb), pool(cr)
        comps = [
            {"id": 1, "h": sh, "v": sv, "tq": 0, "plane": y},
            {"id": 2, "h": 1, "v": 1, "tq": 1, "plane": cb},
            {"id": 3, "h": 1, "v": 1, "tq": 1, "plane": cr},
        ]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # quantize every block, in MCU traversal order per component
    for c in comps:
        p = c["plane"]
        th, tw = mcus_y * c["v"] * 8, mcus_x * c["h"] * 8
        p = np.pad(
            p,
            ((0, th - p.shape[0]), (0, tw - p.shape[1])),
            mode="edge",
        )
        q = q_luma if c["tq"] == 0 else q_chroma
        blocks = {}
        for by in range(th // 8):
            for bx in range(tw // 8):
                f = m @ (p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0) @ m.T
                qc = np.rint(f / q).astype(np.int32)
                blocks[(by, bx)] = qc.flat[_ZIGZAG]
        c["blocks"] = blocks

    # first pass: collect huffman symbol frequencies (DC diffs need
    # MCU order)
    from collections import Counter

    dc_syms: dict[int, Counter] = {0: Counter(), 1: Counter()}
    ac_syms: dict[int, Counter] = {0: Counter(), 1: Counter()}
    units = []  # (comp, zigzag coefs) in scan order
    preds = {c["id"]: 0 for c in comps}
    for mcu in range(mcus_x * mcus_y):
        if restart_interval and mcu and mcu % restart_interval == 0:
            preds = {c["id"]: 0 for c in comps}
        my, mx = divmod(mcu, mcus_x)
        for c in comps:
            for v_ in range(c["v"]):
                for h_ in range(c["h"]):
                    coef = c["blocks"][(my * c["v"] + v_, mx * c["h"] + h_)]
                    tid = 0 if c["tq"] == 0 else 1
                    diff = int(coef[0]) - preds[c["id"]]
                    preds[c["id"]] = int(coef[0])
                    t, _ = _magnitude(diff)
                    dc_syms[tid][t] += 1
                    _, ac = _block_symbols(coef)
                    ac_syms[tid].update(s for s, _, _ in ac)
                    units.append((c, tid, diff, ac))

    n_tables = 2 if any(c["tq"] == 1 for c in comps) else 1
    dc_tbls, ac_tbls, dht = {}, {}, b""
    import struct

    def build(counter):
        if optimize_huffman:
            return _optimal_huff(dict(counter) or {0: 1})
        return _fixed_length_huff(set(counter) or {0})

    for tid in range(n_tables):
        bits, vals = build(dc_syms[tid])
        dc_tbls[tid] = _huff_encode_table(bits, vals)
        dht += bytes([0x00 | tid]) + bytes(bits) + bytes(vals)
        bits, vals = build(ac_syms[tid])
        ac_tbls[tid] = _huff_encode_table(bits, vals)
        dht += bytes([0x10 | tid]) + bytes(bits) + bytes(vals)

    # entropy-encode
    writer = _BitWriter()
    rst = 0
    per_mcu = sum(c["h"] * c["v"] for c in comps)
    for i, (c, tid, diff, ac) in enumerate(units):
        mcu = i // per_mcu
        if (
            restart_interval
            and mcu
            and mcu % restart_interval == 0
            and i % per_mcu == 0
        ):
            writer.flush()
            writer.out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
        t, extra = _magnitude(diff)
        code, ln = dc_tbls[tid][t]
        writer.write(code, ln)
        if t:
            writer.write(extra, t)
        for sym, ex, exbits in ac:
            code, ln = ac_tbls[tid][sym]
            writer.write(code, ln)
            if exbits:
                writer.write(ex, exbits)
    writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = bytes([0]) + bytes(
        int(q_luma.flat[_ZIGZAG[i]]) for i in range(64)
    )
    if n_tables == 2:
        dqt += bytes([1]) + bytes(
            int(q_chroma.flat[_ZIGZAG[i]]) for i in range(64)
        )
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    sos = bytes([len(comps)])
    for c in comps:
        tid = 0 if c["tq"] == 0 else 1
        sos += bytes([c["id"], (tid << 4) | tid])
    sos += bytes([0, 63, 0])

    out = b"\xff\xd8" + seg(0xDB, dqt) + seg(0xC0, sof) + seg(0xC4, dht)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, sos) + bytes(writer.out) + b"\xff\xd9"
    return out


def average_hash(arr) -> int:
    """Perceptual average-hash (aHash) of a decoded raster, in pure
    integer arithmetic: per-pixel gray = r + g + b for an RGB input
    (an integer luma surrogate — no float weights, so the hash is
    exactly reproducible in SQL) or the pixel value itself for a 2-D
    grayscale input; bit p set iff gray_p · n_pixels > Σ gray (the
    mean threshold as an integer cross-multiplication, never a float
    mean), bits packed row-major LSB-first.

    The image-dedup primitive: visually identical images hash equal,
    small brightness/crop perturbations land within small Hamming
    distance — what photo-dedup pipelines bucket on before expensive
    verification. For RESOLUTION-invariant bucketing, canonicalize
    through ``nn_resize`` to a fixed grid first (the m45 composition:
    decode → resize 8×8 → hash); hashing the raw raster (m44) only
    collides byte-identical rasters.

    The returned int is arbitrary-precision (64 canonical-grid bits
    exceed a signed BIGINT) — callers emitting it into a Spark column
    split it (:func:`ahash_words`) or hex it."""
    import numpy as np

    a = arr.astype(np.int64)
    gray = (a.sum(axis=2) if a.ndim == 3 else a).reshape(-1)
    total = int(gray.sum())
    n = gray.shape[0]
    bits = (gray * n) > total
    return int(sum(1 << p for p, b in enumerate(bits) if b))


def ahash_words(h: int) -> tuple[int, int]:
    """Split a 64-bit aHash into (lo, hi) signed-safe 32-bit words —
    bit 63 of a packed hash overflows a signed BIGINT column."""
    return h & 0xFFFFFFFF, (h >> 32) & 0xFFFFFFFF


#: fixed-point scale for the integer DCT basis (values in [-2^14, 2^14])
DCT_BASIS_SCALE = 14


def dct_basis_int(n: int = 8, scale: int = DCT_BASIS_SCALE):
    """Orthonormal DCT-II basis quantized to integers:
    ``B[u][y] = round(c(u) · cos((2y+1)uπ/2n) · 2^scale)`` with
    c(0)=√(1/n), c(u)=√(2/n) — the standard JPEG/pHash transform made
    BIT-deterministic: every engine that shares these integer literals
    computes the identical coefficients, so a DCT hash becomes
    externally hash-verifiable (float libm cosines differ across
    platforms at the ulp; a quantized basis cannot). Quantization only
    perturbs coefficient VALUES (≈2^-14 relative), never determinism —
    for a perceptual hash thresholded at the median, indistinguishable
    from the float transform."""
    import math

    import numpy as np

    b = np.zeros((n, n), dtype=np.int64)
    for u in range(n):
        c = math.sqrt((1.0 if u == 0 else 2.0) / n)
        for y in range(n):
            b[u, y] = round(
                c * math.cos((2 * y + 1) * u * math.pi / (2 * n))
                * (1 << scale)
            )
    return b


def dct_phash(gray8) -> int:
    """DCT-based perceptual hash of an 8×8 grayscale grid, in pure
    integer arithmetic: 2-D DCT-II via the fixed-point basis
    (C = B·P·Bᵀ, int64 throughout), then bit q−1 is set iff AC
    coefficient q exceeds the MEDIAN of the 63 AC coefficients
    (median, not mean, so a single dominant frequency cannot saturate
    the hash; the DC term is excluded as pure brightness).
    63 bits, BIGINT-safe.

    Provenance note: canonical pHash oversamples — resize to 32×32,
    DCT, keep the LOW-frequency 8×8 block, threshold at that block's
    median. This variant applies the same transform+threshold directly
    at the 8×8 canonical grid (callers canonicalize via ``nn_resize``
    first, the m45 path), trading the low-pass oversampling stage for
    integer-exactness end to end; the thresholding rule matches pHash,
    the pre-filter does not.

    vs :func:`average_hash`: aHash thresholds raw pixels (sensitive
    to smooth gradients — half the bits flip on a brightness ramp);
    pHash thresholds frequency magnitudes, the standard robustness
    step up in photo-dedup pipelines."""
    import numpy as np

    p = np.asarray(gray8, dtype=np.int64)
    if p.shape != (8, 8):
        raise ValueError(f"dct_phash expects an 8x8 grid, got {p.shape}")
    b = dct_basis_int()
    coef = (b @ p @ b.T).reshape(-1)
    ac = coef[1:]
    med = int(np.sort(ac)[31])  # 32nd order statistic of 63 = median
    return int(
        sum(1 << q for q, v in enumerate(ac) if int(v) > med)
    )


#: fixed-point scale for the integer DFT-bin trig tables (m47)
DFT_TABLE_SCALE = 14


def dft_bin_tables(k: int, n: int = 32, scale: int = DFT_TABLE_SCALE):
    """Quantized single-bin DFT tables: ``C[i] = round(cos(2πki/n)·2^s)``
    and ``S[i] = round(-sin(2πki/n)·2^s)`` — the per-bin correlation
    kernels of the Goertzel/DFT energy detector, made bit-deterministic
    the same way :func:`dct_basis_int` makes the image transform
    deterministic: both engines multiply by the SAME integer literals,
    so no libm sine can disagree. Returns (C, S) as int64 arrays."""
    import math

    import numpy as np

    c = np.array(
        [
            round(math.cos(2 * math.pi * k * i / n) * (1 << scale))
            for i in range(n)
        ],
        dtype=np.int64,
    )
    s = np.array(
        [
            round(-math.sin(2 * math.pi * k * i / n) * (1 << scale))
            for i in range(n)
        ],
        dtype=np.int64,
    )
    return c, s


def dft_bin_energy(samples, k: int, scale: int = DFT_TABLE_SCALE) -> int:
    """Integer spectral energy of ``samples`` (int16 PCM) at DFT bin
    ``k``: real/imag correlations against the quantized tables, each
    FLOOR-divided once by 2^scale, then the squared magnitude. FLOOR
    is the contract: Python's // floors but DuckDB v1.0.0's integer
    // TRUNCATES toward zero (measured: -7 // 2 = -3), so the m47
    oracle spells the floor out as floor(x / 16384.0) — exact, the
    divisor being a power of two — rather than trusting //; a mixed
    floor/truncate pair diverges on every negative correlation.
    All int64: |Σ x·C| ≤ n·32768·2^14 ≈ 1.7e10 for n = 32, so the
    squares stay far inside the 2^63 ceiling."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    c, s = dft_bin_tables(k, len(x))
    dr = int(x @ c) // (1 << scale)
    di = int(x @ s) // (1 << scale)
    return dr * dr + di * di


# --------------------------------------------------------------------------
# VIDEO: real MJPEG-in-AVI container codec (stdlib struct + the JPEG codec)
#
# The last modality to get a real codec (image: PPM/PNG/JPEG, audio: WAV).
# Motion-JPEG in an AVI RIFF container is the one video format a
# no-dependency path fully covers: every frame is an independent baseline
# JPEG (encode_jpeg/decode_jpeg above), and the container is plain RIFF
# chunk algebra — headers, a 'movi' payload list, and the 'idx1' frame
# index that makes SEEKING to a sampled frame an O(1) ranged read instead
# of a sequential scan (the property frame-sampling at 100 TB needs:
# sample k frames from an hour of video without decoding the hour).
# Replaces the reference's opaque-blob treatment of media columns
# (cf. /root/reference/src/job.py handling only scalar columns).

_AVIF_HASINDEX = 0x10
_AVIIF_KEYFRAME = 0x10


def encode_avi_mjpeg(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Mux pre-encoded JPEG frames into a spec-shaped AVI: RIFF('AVI ')
    with LIST hdrl (avih + LIST strl(strh 'vids'/'MJPG' + strf
    BITMAPINFOHEADER)), LIST movi of even-padded '00dc' chunks, and the
    idx1 keyframe index (every MJPEG frame is a keyframe)."""
    import struct

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(fourcc: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", fourcc + data)

    n = len(frames)
    avih = struct.pack(
        "<14I",
        1_000_000 // max(fps, 1),  # dwMicroSecPerFrame
        0,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        _AVIF_HASINDEX,
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        0,  # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,  # dwReserved
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<10I",
            0,  # dwFlags
            0,  # wPriority | wLanguage
            0,  # dwInitialFrames
            1,  # dwScale
            max(fps, 1),  # dwRate (fps = rate/scale)
            0,  # dwStart
            n,  # dwLength in frames
            0,  # dwSuggestedBufferSize
            0xFFFFFFFF,  # dwQuality (driver default)
            0,  # dwSampleSize (0: variable-size samples)
        )
        + struct.pack("<4h", 0, 0, width, height)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        width,
        height,
        1,  # biPlanes
        24,  # biBitCount
        b"MJPG",  # biCompression
        width * height * 3,  # biSizeImage
        0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )

    movi_body = b""
    index = b""
    for fb in frames:
        # idx1 offsets are relative to the position of the 'movi'
        # fourcc; the first chunk id sits 4 bytes past it
        off = 4 + len(movi_body)
        movi_body += chunk(b"00dc", fb)
        index += b"00dc" + struct.pack(
            "<III", _AVIIF_KEYFRAME, off, len(fb)
        )
    movi = lst(b"movi", movi_body)
    idx1 = chunk(b"idx1", index)

    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def parse_avi_mjpeg(payload: bytes):
    """REAL AVI demux: RIFF walk with structure verification, header
    decode, and the idx1-driven frame table. Returns
    ``(meta, frame_table)`` where meta is ``{n_frames, width, height,
    fps_rate, fps_scale, handler}`` and ``frame_table[i]`` is the
    ``(absolute_offset, length)`` of frame i's JPEG bytes inside
    ``payload`` — the seek table, so sampling frame i reads exactly
    ``length`` bytes at ``offset`` (a ranged read at scale, never a
    scan). Each entry is cross-checked against the movi chunk header it
    points at — a corrupt index fails loudly, not with garbage JPEGs."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    riff_len = struct.unpack("<I", payload[4:8])[0]
    if 8 + riff_len > len(payload):
        raise ValueError("truncated RIFF payload")

    meta = {}
    movi_pos = None  # offset of the 'movi' fourcc
    idx_entries = []

    pos = 12
    end = 8 + riff_len
    while pos + 8 <= end:
        fourcc = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if fourcc == b"LIST":
            kind = body[:4]
            if kind == b"hdrl":
                _parse_avi_hdrl(body[4:], meta)
            elif kind == b"movi":
                movi_pos = pos + 8
        elif fourcc == b"idx1":
            for e in range(len(body) // 16):
                ckid = body[e * 16 : e * 16 + 4]
                flags, off, ln = struct.unpack(
                    "<III", body[e * 16 + 4 : e * 16 + 16]
                )
                if ckid == b"00dc":
                    idx_entries.append((off, ln))
        pos += 8 + size + (size % 2)

    if movi_pos is None:
        raise ValueError("AVI without a movi list")
    if "n_frames" not in meta:
        raise ValueError("AVI without an avih header")
    if len(idx_entries) != meta["n_frames"]:
        raise ValueError(
            f"idx1 has {len(idx_entries)} frames, avih says "
            f"{meta['n_frames']}"
        )

    frame_table = []
    for off, ln in idx_entries:
        at = movi_pos + off
        if payload[at : at + 4] != b"00dc":
            raise ValueError(f"idx1 offset {off} does not hit a 00dc chunk")
        ck_len = struct.unpack("<I", payload[at + 4 : at + 8])[0]
        if ck_len != ln:
            raise ValueError("idx1 length disagrees with chunk header")
        frame_table.append((at + 8, ln))
    return meta, frame_table


def _parse_avi_hdrl(body: bytes, meta: dict) -> None:
    import struct

    pos = 0
    while pos + 8 <= len(body):
        fourcc = body[pos : pos + 4]
        size = struct.unpack("<I", body[pos + 4 : pos + 8])[0]
        data = body[pos + 8 : pos + 8 + size]
        if fourcc == b"avih":
            vals = struct.unpack("<14I", data[:56])
            meta["n_frames"] = vals[4]
            meta["width"] = vals[8]
            meta["height"] = vals[9]
        elif fourcc == b"LIST" and data[:4] == b"strl":
            _parse_avi_hdrl(data[4:], meta)
        elif fourcc == b"strh" and data[:4] == b"vids":
            meta["handler"] = data[4:8].decode("ascii")
            vals = struct.unpack("<10I", data[8:48])
            meta["fps_scale"] = vals[3]
            meta["fps_rate"] = vals[4]
        pos += 8 + size + (size % 2)


def decode_avi_frame(payload: bytes, frame_table, idx: int):
    """Decode frame ``idx`` via its seek-table entry: slice exactly the
    frame's JPEG bytes out of the container, decode through the real
    baseline-JPEG parser. Raises IndexError past the last frame."""
    off, ln = frame_table[idx]
    return decode_jpeg(payload[off : off + ln])


def media_placeholder_tokens(media_col: str = "media") -> Column:
    """Deterministic TOKEN COST of a media item in an interleaved
    training sequence — the counting contract a multimodal packer
    needs before (and independent of) any decode: a media segment
    occupies placeholder positions in the token stream exactly like a
    <image> patch grid does in a VLM.

    - image: one token per 16x16 patch — (w div 16) * (h div 16)
    - audio: 25 tokens per second — duration_ms div 40
    - video: a patch grid per SAMPLED frame (the m36 1 fps / cap-8
      contract) — (w div 16) * (h div 16) * least(duration_ms div
      1000, 8)

    Pure integer metadata arithmetic (no payload touch, SQL-replayable
    verbatim), so packing plans budget media before a single byte is
    decoded — at 100 TB the packer runs on the metadata table alone.
    """
    m = F.col(media_col)
    patches = (
        F.floor(m["width"] / 16) * F.floor(m["height"] / 16)
    ).cast("long")
    return (
        F.when(m["modality"] == "image", patches)
        .when(
            m["modality"] == "audio",
            F.floor(m["duration_ms"] / 40).cast("long"),
        )
        .otherwise(
            patches
            * F.least(
                F.floor(m["duration_ms"] / 1000), F.lit(8)
            ).cast("long")
        )
    )


def interleaved_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Explode each document into its interleaved training-sequence
    SEGMENTS: seg 0 is the document's media item (modality by the
    attach_mixed_media demo mapping, token cost =
    :func:`media_placeholder_tokens`), seg 1 its text (whitespace
    tokens) — the caption-style image+text interleaving a multimodal
    training shard carries. Returns one row per segment with the full
    provenance (id, seg_idx, modality, n_tokens); token costs are
    integer metadata arithmetic, so the segment table (and anything
    packed from it) is hash-checkable against SQL."""
    from etl_example_spark.operators.text import token_count

    media = attach_mixed_media(df, text_col, id_col)
    media_seg = media.join(
        df.select(id_col, *extra_cols), id_col
    ).select(
        *extra_cols,
        F.col(id_col),
        F.lit(0).alias("seg_idx"),
        F.col("media")["modality"].alias("modality"),
        media_placeholder_tokens("media").alias("n_tokens"),
    )
    text_seg = df.select(
        *extra_cols,
        F.col(id_col),
        F.lit(1).alias("seg_idx"),
        F.lit("text").alias("modality"),
        token_count(text_col).cast("long").alias("n_tokens"),
    )
    return media_seg.unionByName(text_seg)


def attach_media_array(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """ARRAY-OF-MEDIA demo table — the schema real interleaved training
    documents carry (N media items per document, not one): each
    document gets ``n = 1 + doc_id % 3`` media item structs, item ``i``
    with modality ``(doc_id + i) % 3`` (image/audio/video), the
    document's bytes split evenly across items (``n_bytes = total div
    n``), and the :func:`attach_mixed_media` metadata contract per item
    (64x64 visual dims, 10 ms of media per payload byte). Pure
    metadata arithmetic over ``transform(sequence(...))`` — one row per
    document, the media array built in-row with no explode, no
    payload touch, SQL-replayable verbatim."""
    nb = F.length(
        F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8")
    ).cast("long")
    n_media = (F.pmod(F.col(id_col), 3) + 1).cast("int")

    def item(i: Column) -> Column:
        mod_idx = F.pmod(F.col(id_col) + i, 3)
        modality = F.element_at(
            F.array(*[F.lit(m) for m in MODALITIES]),
            (mod_idx + 1).cast("int"),
        )
        fmt = F.element_at(
            F.array(*[F.lit(MODALITY_FORMATS[m]) for m in MODALITIES]),
            (mod_idx + 1).cast("int"),
        )
        item_bytes = F.floor(nb / n_media).cast("long")
        timed = modality.isin("audio", "video")
        visual = modality.isin("image", "video")
        return F.struct(
            modality.alias("modality"),
            fmt.alias("format"),
            item_bytes.alias("n_bytes"),
            F.when(visual, F.lit(64)).alias("width"),
            F.when(visual, F.lit(64)).alias("height"),
            F.when(timed, item_bytes * 10).alias("duration_ms"),
        )

    return df.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), n_media - 1), item
        ).alias("media"),
    )


def interleaved_multi_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """ORDER-PRESERVING interleave of the array-of-media schema — the
    generalization of :func:`interleaved_segments` (one media + one
    text segment, caption shape) to real interleaved training
    documents: ``n`` media items sit at arbitrary offsets inside the
    text, so a document explodes into ``2n + 1`` segments — even
    ``seg_idx`` = text span ``s`` (the document's whitespace tokens
    split ``div (n+1)`` per span, remainder on the last span, so span
    tokens always sum to the document total), odd ``seg_idx`` = media
    item ``(seg_idx-1)/2`` costed by
    :func:`media_placeholder_tokens`. ``seg_idx`` derives from the
    media item's ARRAY POSITION (posexplode), so the training-sequence
    order is the document's own item order — never a sort. Token costs
    stay pure integer metadata arithmetic; the segment table and
    anything packed from it hash-checks against SQL (m50)."""
    from etl_example_spark.operators.text import token_count

    media = attach_media_array(df, text_col, id_col)
    media_seg = media.join(
        df.select(id_col, *extra_cols), id_col
    ).select(
        *extra_cols,
        F.col(id_col),
        F.posexplode("media").alias("_i", "_m"),
    ).select(
        *extra_cols,
        F.col(id_col),
        (F.col("_i") * 2 + 1).cast("int").alias("seg_idx"),
        F.col("_m")["modality"].alias("modality"),
        media_placeholder_tokens("_m").alias("n_tokens"),
    )
    n_spans = (F.pmod(F.col(id_col), 3) + 2).cast("long")
    text_seg = (
        df.select(
            *extra_cols,
            F.col(id_col),
            token_count(text_col).cast("long").alias("_ntoks"),
            n_spans.alias("_ns"),
        )
        .select(
            *extra_cols,
            F.col(id_col),
            "_ntoks",
            "_ns",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("_ns") - 1)
            ).alias("_s"),
        )
        .select(
            *extra_cols,
            F.col(id_col),
            (F.col("_s") * 2).cast("int").alias("seg_idx"),
            F.lit("text").alias("modality"),
            (
                F.floor(F.col("_ntoks") / F.col("_ns"))
                + F.when(
                    F.col("_s") == F.col("_ns") - 1,
                    F.pmod(F.col("_ntoks"), F.col("_ns")),
                ).otherwise(F.lit(0))
            ).cast("long").alias("n_tokens"),
        )
    )
    return media_seg.unionByName(text_seg)
