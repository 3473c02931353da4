"""Multimodal (image/audio/video) column plumbing (LLM-pipeline).

Media assets are opaque `binary` payload columns + a typed metadata
struct — the lakehouse pattern for 100 TB multimodal corpora: the
bytes travel inside parquet (or as object-store paths for very large
assets), metadata is columnar and prunable, and every decode /
feature-extract / resize step is an Arrow-batched Pandas UDF so the
Python work is vectorized per batch, never per row.

`decode_media` decodes WAV PCM (stdlib `wave`), binary PPM/PGM
(handwritten header parse), baseline PNG (zlib DEFLATE + scanline
defilter) and baseline-sequential JPEG (full Huffman + dequant + IDCT
path, pure numpy) for real — no codec libraries needed — and those
real bytes flow through the same featurize/resize path as the
synthetic assets (tests/test_multimodal.py). Formats still beyond the
pure-python decoders (MP3/MP4, progressive JPEG) are stubbed behind
NotImplementedError because the container has no codec libraries; a
real deployment adds PIL/soundfile/ffmpeg branches in `decode_media`
and nothing else changes.

Payloads here are derived from `documents.text` bytes (the driver
corpus has no binary table); the operators never look at them as text.

Scale notes: payload columns make parquet row groups large — feature
extraction repartitions by doc_id so batches stay bounded; metadata
queries (media_catalog, frame_sample) never touch the payload bytes
after the initial projection, so column pruning keeps their scans
cheap.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from covid_weather_etl_spark.functions.numeric import fround, fround_sql
from covid_weather_etl_spark.queries.registry import register
from covid_weather_etl_spark.sources.catalog import load_tables

N_SAMPLE_FRAMES = 4
BYTES_PER_FRAME = 100  # fake container: one "frame" per 100 payload bytes


def media_assets(docs: DataFrame) -> DataFrame:
    """documents → media-asset table: opaque binary payload + typed
    metadata struct (the schema a real multimodal corpus carries)."""
    payload = F.encode(F.col("text"), "UTF-8")
    n_frames = (F.octet_length(payload) / BYTES_PER_FRAME).cast("int") + 1
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).alias("n_bytes"),
            F.md5(payload).alias("fingerprint"),
            F.when(F.col("lang") == "en", "video/fake")
             .otherwise("image/fake").alias("mime"),
            n_frames.alias("n_frames"),
        ).alias("meta"),
    )


@register(
    "media_catalog",
    survey="multimodal",
    oracle="""
    SELECT doc_id AS asset_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS fingerprint,
           CASE WHEN lang = 'en' THEN 'video/fake'
                ELSE 'image/fake' END AS mime,
           CAST(FLOOR(octet_length(encode(text)) / 100) AS INT) + 1 AS n_frames
    FROM documents
    """,
)
def media_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata catalog over the media assets — byte size, content
    fingerprint, sniffed mime, frame count. Reads ONLY the metadata
    struct (payload pruned from the scan after projection)."""
    t = load_tables(spark, sf_dir, ("documents",))
    return media_assets(t["documents"]).select(
        "asset_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.fingerprint").alias("fingerprint"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_frames").alias("n_frames"),
    )


@register(
    "frame_sample",
    survey="multimodal",
    oracle=f"""
    WITH assets AS (
        SELECT doc_id AS asset_id,
               CAST(FLOOR(octet_length(encode(text)) / {BYTES_PER_FRAME}) AS INT)
                 + 1 AS n_frames
        FROM documents
    )
    SELECT asset_id, n_frames,
           CAST(FLOOR(i * (n_frames - 1) / ({N_SAMPLE_FRAMES} - 1)) AS INT)
             AS frame_idx,
           CAST(FLOOR(i * (n_frames - 1) / ({N_SAMPLE_FRAMES} - 1)) AS INT)
             * {BYTES_PER_FRAME} AS byte_offset
    FROM assets,
         (SELECT unnest(generate_series(0, {N_SAMPLE_FRAMES} - 1)) AS i)
    WHERE n_frames >= {N_SAMPLE_FRAMES}
    UNION ALL
    SELECT asset_id, n_frames,
           unnest(generate_series(0, n_frames - 1)) AS frame_idx,
           unnest(generate_series(0, n_frames - 1)) * {BYTES_PER_FRAME}
             AS byte_offset
    FROM assets WHERE n_frames < {N_SAMPLE_FRAMES}
    """,
)
def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evenly-spaced frame sampling plan (video keyframe extraction
    shape): k frame indices per asset via `sequence` + `explode` —
    integer arithmetic only, no payload bytes touched, so the planner
    prunes the binary column entirely. Assets with fewer frames than k
    emit every frame."""
    t = load_tables(spark, sf_dir, ("documents",))
    assets = media_assets(t["documents"]).select(
        "asset_id", F.col("meta.n_frames").alias("n_frames"))
    k = N_SAMPLE_FRAMES
    sampled = (assets
               .filter(F.col("n_frames") >= k)
               .select("asset_id", "n_frames",
                       F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
                        .alias("i"))
               .select("asset_id", "n_frames",
                       (F.col("i") * (F.col("n_frames") - 1) / (k - 1))
                       .cast("int").alias("frame_idx")))
    short = (assets
             .filter(F.col("n_frames") < k)
             .select("asset_id", "n_frames",
                     F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1))
                      .alias("frame_idx")))
    return (sampled.unionByName(short)
            .withColumn("byte_offset",
                        (F.col("frame_idx") * BYTES_PER_FRAME)
                        .cast("bigint")))


# ---------------------------------------------------------------------------
# decode + featurize (Arrow-batched; decode stubbed)
# ---------------------------------------------------------------------------

N_FEATURES = 8

FEATURE_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType()),
    T.StructField("n_bytes", T.IntegerType()),
    # double, not float: the feature floats are exact-integer-moment
    # IEEE chains mirrored by the media_features oracle — a float32
    # squeeze here would shift the 1e-5 grid snap (measured: 88/500
    # last-digit flips at sf0.01)
    T.StructField("features", T.ArrayType(T.DoubleType())),
])


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for image/audio decode: the payload bytes
    themselves as a uint8 array (a real decoder returns pixels/samples
    the same way)."""
    return np.frombuffer(payload, dtype=np.uint8)


def _featurize(arr: np.ndarray) -> list[float]:
    """8-dim feature vector over decoded samples: mean, std, min, max,
    plus a 4-bin histogram density. Every float derives from EXACT
    integer moments in a fixed op order (mean = S/n; std =
    sqrt(n·S2 − S²)/n — both single correctly-rounded IEEE chains, so
    the values are bit-reproducible in SQL — the r8 graduation of
    media_features); matches the independent python reimplementation
    in tests/test_multimodal.py to float tolerance."""
    if arr.size == 0:
        return [0.0] * N_FEATURES
    n = int(arr.size)
    a = arr.astype(np.int64)
    s = int(a.sum())
    s2 = int((a * a).sum())
    hist = np.bincount(arr >> 6, minlength=4)
    return [s / n,
            float(np.sqrt(float(n * s2 - s * s)) / n),
            float(arr.min()), float(arr.max()),
            *(int(h) / n for h in hist)]


def _decode_wav(payload: bytes) -> np.ndarray:
    """Real WAV PCM decode (stdlib `wave`, no codec libs): mono uint8
    sample stream. 16-bit PCM is rescaled to 8-bit and multi-channel
    audio is mixed down so every decoder feeds the same uint8
    featurize/resample path."""
    import io
    import wave
    with wave.open(io.BytesIO(payload), "rb") as w:
        nch = w.getnchannels()
        sw = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if sw == 1:
        arr = np.frombuffer(raw, dtype=np.uint8)
    elif sw == 2:
        arr = (((np.frombuffer(raw, dtype="<i2").astype(np.int32) + 32768)
                >> 8).astype(np.uint8))
    else:
        raise NotImplementedError(f"{8 * sw}-bit PCM not supported")
    if nch > 1:
        arr = (arr[:arr.size // nch * nch]
               .reshape(-1, nch).mean(axis=1).astype(np.uint8))
    return arr


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Real binary netpbm decode (P6=PPM pixels, P5=PGM grayscale),
    handwritten header parse: returns the flat uint8 raster."""
    magic = payload[:2]
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":          # comment to end of line
            while pos < len(payload) and payload[pos] not in (10, 13):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1                                      # single whitespace before raster
    width, height, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm samples not supported")
    n = width * height * (3 if magic == b"P6" else 1)
    raster = payload[pos:pos + n]
    if len(raster) != n:
        raise ValueError(f"truncated netpbm raster: {len(raster)} < {n}")
    return np.frombuffer(raster, dtype=np.uint8)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # grayscale, RGB, RGBA


def _decode_png(payload: bytes) -> np.ndarray:
    """Real baseline-PNG decode, pure stdlib: chunk walk, zlib (the
    actual DEFLATE decompression — this is a genuinely compressed
    format, unlike WAV/PPM), then scanline defiltering (all five PNG
    filter types: None/Sub/Up/Average/Paeth). Supports the baseline
    subset: bit depth 8, color types 0/2/6, non-interlaced — the same
    subset most minimal decoders ship first. Returns the flat uint8
    raster; per-byte defilter loops are fine here because rasters are
    asset-sized (the Arrow batch, not the row, is the unit of
    vectorization upstream)."""
    import struct
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat, hdr = 8, [], None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length                     # 4 len + 4 type + data + 4 crc
    if hdr is None:
        raise ValueError("PNG without IHDR")
    w, h, depth, color, _comp, _filt, interlace = hdr
    if depth != 8 or color not in _PNG_CHANNELS or interlace != 0:
        raise NotImplementedError(
            f"beyond baseline subset: depth={depth} color={color} "
            f"interlace={interlace}")
    ch = _PNG_CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("truncated PNG scanline data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    p = 0
    for y in range(h):
        f = raw[p]
        cur = np.frombuffer(raw[p + 1:p + 1 + stride],
                            dtype=np.uint8).copy()
        p += 1 + stride
        if f == 1:                                        # Sub
            for i in range(ch, stride):
                cur[i] = (int(cur[i]) + int(cur[i - ch])) & 0xFF
        elif f == 2:                                      # Up
            cur += prev                                   # uint8 wraps
        elif f == 3:                                      # Average
            for i in range(stride):
                left = int(cur[i - ch]) if i >= ch else 0
                cur[i] = (int(cur[i]) + (left + int(prev[i])) // 2) & 0xFF
        elif f == 4:                                      # Paeth
            for i in range(stride):
                a = int(cur[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                q = a + b - c
                pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc
                                                          else c)
                cur[i] = (int(cur[i]) + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = cur
        prev = out[y]
    return out.reshape(-1)


#: JPEG zigzag scan order: zigzag position -> natural block index.
_JPEG_ZZ = []
for _s in range(15):
    _lo, _hi = max(0, _s - 7), min(_s, 7)
    _rows = range(_hi, _lo - 1, -1) if _s % 2 == 0 else range(_lo, _hi + 1)
    _JPEG_ZZ.extend(r * 8 + (_s - r) for r in _rows)
_JPEG_ZZ = np.array(_JPEG_ZZ)

#: 8x8 DCT-II basis: _JPEG_DCT[u, x] = 0.5 c(u) cos((2x+1)uπ/16).
_JPEG_DCT = np.array(
    [[0.5 * (1 / np.sqrt(2) if u == 0 else 1.0)
      * np.cos((2 * x + 1) * u * np.pi / 16)
      for x in range(8)] for u in range(8)])


class _JpegBitReader:
    """Entropy-segment bit reader: un-stuffs FF00, stops at markers,
    and re-aligns across RSTn restart markers."""

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos, self.bits, self.nbits = data, pos, 0, 0

    def _next_byte(self) -> int:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:                       # stuffed FF
                self.pos += 2
                return 0xFF
            raise EOFError("marker in entropy data")
        self.pos += 1
        return b

    def read_bit(self) -> int:
        if self.nbits == 0:
            self.bits, self.nbits = self._next_byte(), 8
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        """Consume an RSTn marker and byte-align."""
        self.nbits = 0
        if (self.data[self.pos] == 0xFF
                and 0xD0 <= self.data[self.pos + 1] <= 0xD7):
            self.pos += 2


def _jpeg_huff_decode(reader: _JpegBitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _decode_jpeg(payload: bytes) -> np.ndarray:
    """Real baseline JPEG decode, pure stdlib+numpy — the full
    ISO/IEC 10918-1 baseline sequential path: marker walk, DQT/DHT
    table load, canonical Huffman entropy decode with byte un-stuffing
    and restart-marker re-alignment, DC prediction, run-length AC with
    ZRL/EOB, dezigzag, dequantize, exact float 8x8 IDCT, per-component
    sampling-factor placement, nearest-neighbor chroma upsample and
    JFIF YCbCr→RGB. Supports the baseline subset: SOF0, 8-bit samples,
    1 or 3 components, sampling factors ≤ 2 (covers 4:4:4, 4:2:2,
    4:2:0). Progressive (SOF2), arithmetic coding and 12-bit samples
    raise NotImplementedError. Returns the flat uint8 raster
    (interleaved RGB for color, luma for grayscale); per-block Python
    loops are fine because rasters are asset-sized — the Arrow batch,
    not the row, is the unit of vectorization upstream."""
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None            # (H, W, [(cid, h, v, tq)])
    restart_interval = 0
    pos = 2
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        seg = payload[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:                                   # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                n = 64 * (2 if pq else 1)
                raw = seg[i + 1:i + 1 + n]
                tbl = (np.frombuffer(raw, dtype=">u2") if pq
                       else np.frombuffer(raw, dtype=np.uint8))
                zz = np.zeros(64, dtype=np.int64)
                zz[_JPEG_ZZ] = tbl
                qt[tq] = zz
                i += 1 + n
        elif marker == 0xC4:                                 # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = seg[i + 1:i + 17]
                nsym = sum(bits)
                vals = seg[i + 17:i + 17 + nsym]
                table, code, k = {}, 0, 0
                for length in range(1, 17):
                    for _ in range(bits[length - 1]):
                        table[(length, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[(tc, th)] = table
                i += 17 + nsym
        elif marker == 0xC0:                                 # SOF0 baseline
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError("12-bit JPEG not supported")
            comps = [(seg[6 + 3 * c], seg[7 + 3 * c] >> 4,
                      seg[7 + 3 * c] & 15, seg[8 + 3 * c])
                     for c in range(ncomp)]
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "beyond baseline-sequential JPEG (progressive/arithmetic)")
        elif marker == 0xDD:                                 # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:                                 # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF0")
            ns = seg[0]
            scan = [(seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                    for c in range(ns)]
            return _jpeg_scan(payload, pos + 2 + seglen, frame, scan,
                              qt, huff, restart_interval)
        pos += 2 + seglen
    raise ValueError("JPEG without SOS scan")


def _jpeg_scan(payload, pos, frame, scan, qt, huff, restart_interval):
    """Decode the (single, baseline) entropy-coded scan → raster."""
    hgt, wid, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-wid // (8 * hmax))
    mcus_y = -(-hgt // (8 * vmax))
    planes = {cid: np.zeros((mcus_y * v * 8, mcus_x * h * 8))
              for cid, h, v, _tq in comps}
    meta = {cid: (h, v, tq) for cid, h, v, tq in comps}
    reader = _JpegBitReader(payload, pos)
    pred = {cid: 0 for cid, _td, _ta in scan}
    n_mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                reader.restart()
                pred = {cid: 0 for cid in pred}
            n_mcu += 1
            for cid, td, ta in scan:
                h, v, tq = meta[cid]
                for by in range(v):
                    for bx in range(h):
                        coeff = np.zeros(64)
                        t = _jpeg_huff_decode(reader, huff[(0, td)])
                        diff = _jpeg_extend(reader.receive(t), t)
                        pred[cid] += diff
                        coeff[0] = pred[cid]
                        k = 1
                        while k < 64:
                            rs = _jpeg_huff_decode(reader, huff[(1, ta)])
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r != 15:
                                    break        # EOB
                                k += 16          # ZRL
                                continue
                            k += r
                            coeff[_JPEG_ZZ[k]] = _jpeg_extend(
                                reader.receive(s), s)
                            k += 1
                        block = (coeff * qt[tq]).reshape(8, 8)
                        px = _JPEG_DCT.T @ block @ _JPEG_DCT + 128.0
                        y0 = (my * v + by) * 8
                        x0 = (mx * h + bx) * 8
                        planes[cid][y0:y0 + 8, x0:x0 + 8] = px
    full = []
    for cid, h, v, _tq in comps:
        p = np.repeat(np.repeat(planes[cid], vmax // v, axis=0),
                      hmax // h, axis=1)
        full.append(p[:hgt, :wid])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8).reshape(-1)
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8).reshape(-1)


def decode_media(payload: bytes, mime: str = "", fake: bool = False) -> np.ndarray:
    """Decode one media payload to a flat uint8 sample array.

    Real pure-python decoders cover WAV PCM (sniffed RIFF/WAVE),
    binary PPM/PGM (P6/P5), baseline PNG (zlib DEFLATE + scanline
    defilter) and baseline-sequential JPEG (Huffman entropy decode +
    dequant + IDCT — the full lossy-codec path); the synthetic
    `*/fake` assets derived from the driver corpus use the
    deterministic byte-identity decoder. Formats still needing codec
    libraries (progressive JPEG, MP3, MP4) remain stubbed in this
    environment — a production build adds PIL/soundfile/ffmpeg
    branches here and nothing downstream changes."""
    if fake or mime.endswith("/fake"):
        return _fake_decode(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _decode_wav(payload)
    if payload[:2] in (b"P6", b"P5"):
        return _decode_ppm(payload)
    if payload[:8] == _PNG_MAGIC:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload)
    raise NotImplementedError(
        "no codec for this payload: supported real formats are WAV PCM, "
        "PPM/PGM, baseline PNG and baseline-sequential JPEG; MP3/MP4 and "
        "progressive JPEG require codec libraries (PIL/ffmpeg) not "
        "present in this environment")


def featurize_assets(assets: DataFrame, batch_rows: int = 256) -> DataFrame:
    """`mapInPandas` feature extraction: Arrow streams batches of
    (asset_id, payload) into Python; numpy featurizes each decoded
    payload; only the small feature vectors come back. At 100 TB this
    is the canonical shape — bytes stay in the executor, one Python
    worker per core, batch size bounds Arrow memory."""
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_featurize(decode_media(p, m))
                     for p, m in zip(pdf["payload"], pdf["mime"])]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "n_bytes": pdf["n_bytes"].astype("int32"),
                "features": feats,
            })

    return (assets
            .select("asset_id", "payload",
                    F.col("meta.n_bytes").alias("n_bytes"),
                    F.col("meta.mime").alias("mime"))
            .mapInPandas(extract, schema=FEATURE_SCHEMA))


_FEAT_ORACLE = f"""
    WITH chars AS MATERIALIZED (
        SELECT doc_id AS asset_id,
               ascii(unnest(split(text, ''))) AS byte
        FROM documents
    ),
    m AS (
        SELECT asset_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(byte) AS BIGINT) AS s,
               CAST(SUM(byte * byte) AS BIGINT) AS s2,
               CAST(MIN(byte) AS BIGINT) AS mn,
               CAST(MAX(byte) AS BIGINT) AS mx,
               CAST(SUM(CASE WHEN byte // 64 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS h0,
               CAST(SUM(CASE WHEN byte // 64 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS h1,
               CAST(SUM(CASE WHEN byte // 64 = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS h2,
               CAST(SUM(CASE WHEN byte // 64 = 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS h3
        FROM chars GROUP BY asset_id
    )
    SELECT asset_id, CAST(n AS INT) AS n_bytes,
           {fround_sql("CAST(s AS DOUBLE) / n", 5)} AS f0,
           {fround_sql("sqrt(CAST(n * s2 - s * s AS DOUBLE)) / n", 5)} AS f1,
           CAST(mn AS DOUBLE) AS f2, CAST(mx AS DOUBLE) AS f3,
           {fround_sql("CAST(h0 AS DOUBLE) / n", 5)} AS f4,
           {fround_sql("CAST(h1 AS DOUBLE) / n", 5)} AS f5,
           {fround_sql("CAST(h2 AS DOUBLE) / n", 5)} AS f6,
           {fround_sql("CAST(h3 AS DOUBLE) / n", 5)} AS f7
    FROM m
"""


@register("media_features", survey="multimodal", oracle=_FEAT_ORACLE)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode(+stub)→featurize over every media asset.

    Graduated from rows-only in r8: _featurize derives every float
    from exact integer moments in a fixed op order (mean = S/n, std =
    sqrt(n·S2 − S²)/n, histogram densities cᵢ/n), and the driver
    corpus's fake decode is byte identity over ASCII text — so the
    DuckDB twin recomputes the moments per byte and mirrors the same
    IEEE chains; outputs snap to the 1e-5 grid with the portable
    floor-round on both sides. The REAL decoders stay pinned by
    planted-asset tests."""
    t = load_tables(spark, sf_dir, ("documents",))
    feats = featurize_assets(media_assets(t["documents"]))
    return feats.select(
        "asset_id", "n_bytes",
        *[fround(F.col("features")[i], 5).alias(f"f{i}")
          for i in range(N_FEATURES)],
    ).orderBy("asset_id")


# ---------------------------------------------------------------------------
# resize (Arrow-batched; decode stubbed, resampling real)
# ---------------------------------------------------------------------------

TARGET_SAMPLES = 64

RESIZE_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType()),
    T.StructField("n_bytes_in", T.IntegerType()),
    T.StructField("n_bytes_out", T.IntegerType()),
    T.StructField("resized", T.BinaryType()),
])


def _fake_resize(arr: np.ndarray, target: int = TARGET_SAMPLES) -> np.ndarray:
    """Nearest-neighbor resample of the decoded 1-D sample array to a
    fixed length — the 1-D analog of image resize (a real build swaps
    in PIL's `Image.resize`/ffmpeg scale and nothing else changes)."""
    if arr.size == 0:
        return np.zeros(target, dtype=np.uint8)
    idx = (np.arange(target, dtype=np.int64) * arr.size) // target
    return arr[idx]


def resize_assets(assets: DataFrame,
                  target: int = TARGET_SAMPLES) -> DataFrame:
    """`mapInPandas` resize: payload bytes → decode (stub) → fixed-size
    resample → new binary payload. Bytes never leave the executor; the
    output rows are uniformly `target` bytes, which is what makes the
    downstream training-batch layout predictable at 100 TB."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [_fake_resize(decode_media(p, m), target).tobytes()
                   for p, m in zip(pdf["payload"], pdf["mime"])]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "n_bytes_in": pdf["n_bytes"].astype("int32"),
                "n_bytes_out": np.int32(target),
                "resized": out,
            })

    return (assets
            .select("asset_id", "payload",
                    F.col("meta.n_bytes").alias("n_bytes"),
                    F.col("meta.mime").alias("mime"))
            .mapInPandas(run, schema=RESIZE_SCHEMA))


_RESIZE_ORACLE = f"""
    SELECT doc_id AS asset_id,
           CAST(length(text) AS INT) AS n_bytes_in,
           CAST({TARGET_SAMPLES} AS INT) AS n_bytes_out,
           md5(array_to_string(
               list_transform(
                   generate_series(0, {TARGET_SAMPLES - 1}),
                   i -> split(text, '')[(i * length(text))
                                        // {TARGET_SAMPLES} + 1]),
               '')) AS checksum
    FROM documents
"""


@register("media_resize", survey="multimodal", oracle=_RESIZE_ORACLE)
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize every media asset to TARGET_SAMPLES samples; returns
    sizes + content checksum (not the bytes — the driver compare
    wants stable strings).

    Graduated from rows-only in r8: nearest-neighbor resampling is
    pure integer index selection (idx = (i·n)//target) and the driver
    corpus's fake decode is byte identity over ASCII text, so the
    DuckDB twin rebuilds the resized byte string by character index
    and md5s it — a hash match proves the Arrow-batched kernel's
    resample byte-for-byte. The python oracle in
    tests/test_multimodal.py keeps pinning the resampling through the
    REAL decoders."""
    t = load_tables(spark, sf_dir, ("documents",))
    resized = resize_assets(media_assets(t["documents"]))
    return (resized
            .select("asset_id", "n_bytes_in", "n_bytes_out",
                    F.md5("resized").alias("checksum"))
            .orderBy("asset_id"))


# ---------------------------------------------------------------------------
# perceptual-hash near-duplicate detection (image/audio dedup)
# ---------------------------------------------------------------------------

#: aHash geometry: 64 blocks → 64-bit hash, 4×16-bit bands. Banding is
#: COMPLETE for hamming ≤ 3 (pigeonhole: 4 bands, ≤3 differing bits →
#: at least one band untouched).
PHASH_BITS = 64
PHASH_BANDS = 4
PHASH_HAM_MAX = 3

PHASH_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType()),
    T.StructField("phash", T.LongType()),
])


def ahash64(arr: np.ndarray) -> int:
    """64-bit average hash of a decoded sample array: split into 64
    equal blocks, bit = block mean above the mean of block means —
    translation of the classic 8×8 aHash to the flat uint8 stream
    every decoder in this module emits. The threshold is evaluated in
    PURE INTEGERS (block mean > mean of block means ⟺
    64·block_sum > Σ block_sums — same predicate with the float
    divides cancelled), which makes the whole hash exact integer
    algebra and therefore SQL-replayable (the r8 graduation of
    media_phash_dedup); inputs shorter than 64 samples tile
    cyclically (np.resize semantics) into 64 one-sample blocks."""
    if arr.size == 0:
        return 0
    if arr.size >= PHASH_BITS:
        n = arr.size // PHASH_BITS
        bs = (arr[:n * PHASH_BITS].astype(np.int64)
              .reshape(PHASH_BITS, n).sum(axis=1))
    else:
        bs = np.resize(arr, PHASH_BITS).astype(np.int64)
    bits = PHASH_BITS * bs > bs.sum()
    val = 0
    for b in bits[:PHASH_BITS]:
        val = (val << 1) | int(b)
    # two's-complement into a signed 64-bit for the LongType column
    return val - (1 << 64) if val >= (1 << 63) else val


def phash_assets(assets: DataFrame, batch_rows: int = 256) -> DataFrame:
    """mapInPandas decode→aHash: bytes stay in the executor, 8 bytes
    of hash per asset come back (same Arrow-batch shape as
    featurize_assets)."""
    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = [ahash64(decode_media(p, m))
                      for p, m in zip(pdf["payload"], pdf["mime"])]
            yield pd.DataFrame({"asset_id": pdf["asset_id"],
                                "phash": pd.Series(hashes, dtype="int64")})

    return (assets.select("asset_id", "payload",
                          F.col("meta.mime").alias("mime"))
            .mapInPandas(hash_batch, schema=PHASH_SCHEMA))


_PHASH_ORACLE = f"""
    WITH chars AS MATERIALIZED (
        SELECT doc_id AS asset_id, length(text) AS L,
               generate_subscripts(split(text, ''), 1) AS p,
               ascii(unnest(split(text, ''))) AS byte
        FROM documents
    ),
    big AS (
        SELECT asset_id, (p - 1) // (L // {PHASH_BITS}) AS blk,
               CAST(SUM(byte) AS BIGINT) AS s
        FROM chars
        WHERE L >= {PHASH_BITS} AND p <= (L // {PHASH_BITS}) * {PHASH_BITS}
        GROUP BY 1, 2
    ),
    small AS (
        SELECT c.asset_id, g.i AS blk, CAST(c.byte AS BIGINT) AS s
        FROM (SELECT unnest(generate_series(0, {PHASH_BITS - 1})) AS i) g
        JOIN chars c ON c.L < {PHASH_BITS} AND c.p = (g.i % c.L) + 1
    ),
    blocks AS (SELECT * FROM big UNION ALL SELECT * FROM small),
    tot AS (SELECT asset_id, SUM(s) AS ts FROM blocks GROUP BY 1),
    hv AS (
        SELECT b.asset_id,
               SUM(CASE WHEN {PHASH_BITS} * b.s > t.ts
                        THEN CAST(1 AS HUGEINT) << ({PHASH_BITS - 1} - b.blk)
                        ELSE CAST(0 AS HUGEINT) END) AS v
        FROM blocks b JOIN tot t ON t.asset_id = b.asset_id
        GROUP BY b.asset_id
    ),
    h AS (
        SELECT asset_id, v,
               CASE WHEN v >= (CAST(1 AS HUGEINT) << 63)
                    THEN CAST(v - (CAST(1 AS HUGEINT) << 64) AS BIGINT)
                    ELSE CAST(v AS BIGINT) END AS phash
        FROM hv
    ),
    bands AS (
        SELECT asset_id, phash, g.i AS band,
               CAST((v // (CAST(1 AS HUGEINT) << (16 * g.i))) % 65536
                    AS BIGINT) AS bval
        FROM h,
             (SELECT unnest(generate_series(0, {PHASH_BANDS - 1})) AS i) g
    ),
    cand AS (
        SELECT DISTINCT a.asset_id AS asset_id_1, b.asset_id AS asset_id_2,
               a.phash AS h1, b.phash AS h2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bval = b.bval
         AND a.asset_id < b.asset_id
    )
    SELECT asset_id_1, asset_id_2,
           CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(h1, h2)) <= {PHASH_HAM_MAX}
"""


@register("media_phash_dedup", survey="multimodal,LLM-dedup,J1",
          oracle=_PHASH_ORACLE)
def media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate detection over the media-asset table:
    decode → 64-bit average hash (aHash) per asset, then banded
    Hamming search — the image-dedup analog of simhash_near_dup, and
    the standard first pass of multimodal corpus dedup (resized /
    re-encoded copies keep their block-luminance pattern, so their
    aHashes sit within a few bits).

    Pipeline: (1) mapInPandas decode+hash — bytes never leave the
    executor, 8 bytes/asset return; (2) split each hash into 4×16-bit
    bands JVM-side (shiftrightunsigned + mask, codegen) and groupBy
    band value to generate candidates — complete for hamming ≤ 3
    by pigeonhole, never all-pairs; (3) exact verify
    via bit_count(xor) ≤ PHASH_HAM_MAX=3.

    Graduated from rows-only in r8: the aHash threshold is pure
    integer algebra (64·block_sum > Σ block_sums) and the driver
    corpus's fake decode is byte identity over ASCII text, so the
    DuckDB twin replays the ENTIRE pipeline — per-byte block sums
    (incl. the cyclic-tiling branch for <64-byte payloads), the bit
    build in HUGEINT with a two's-complement fold, 16-bit banding and
    the Hamming verify. tests/test_multimodal.py pins planted
    near-identical PPM recall through the REAL netpbm decoder,
    non-dup separation, and band completeness. Scale: candidate rate
    is governed by band width exactly as simhash — widen bands as the
    corpus grows."""
    t = load_tables(spark, sf_dir, ("documents",))
    hashes = phash_assets(media_assets(t["documents"])) \
        .localCheckpoint(eager=False)  # decode once; reused by both sides
    bands = hashes.select(
        "asset_id", "phash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     (F.shiftrightunsigned(F.col("phash"), 16 * i)
                      .bitwiseAND(F.lit(0xFFFF))).alias("bval"))
            for i in range(PHASH_BANDS)])).alias("b")) \
        .select("asset_id", "phash", "b.band", "b.bval")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, ["band", "bval"])
            .filter(F.col("a.asset_id") < F.col("b.asset_id"))
            .select(F.col("a.asset_id").alias("asset_id_1"),
                    F.col("b.asset_id").alias("asset_id_2"),
                    F.col("a.phash").alias("h1"),
                    F.col("b.phash").alias("h2"))
            .distinct())
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (cand.select("asset_id_1", "asset_id_2",
                        ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= PHASH_HAM_MAX))
