"""Multimodal column plumbing: media spans as opaque references/bytes with
typed metadata, decoded/feature-extracted by one Arrow-batched operator.

Every public operator here and in functions/jpeg.py is a row function
run by the one media operator (`_map_rows`, a ``worker.kernel`` body):
one ``to_pylist`` per Arrow batch, one ``RecordBatch`` out.  The decode
heads (`media_pixel_stats`, `media_audio_stats`, `media_adpcm_stats`,
`media_gif_frames`, `media_jpeg_stats`) share one NULL rule: a row
whose bytes (spans, for `media_features`/`frame_sample`) are NULL
yields no output row.
`media_features_from_bytes` instead keeps it as a ``format='unknown'``
row, like any other undecodable member.  In every operator a row whose
doc_id is NULL yields no output row.

Real decode paths (no PIL/ffmpeg needed): PNG pixels (all five row
filters; depths 1/2/4/8/16; gray, gray+alpha, RGB, RGBA, palette),
WAV PCM16 audio (stdlib struct), animated-GIF frames (own LZW; all
four disposal methods, interlace, transparency), baseline JPEG
(functions/jpeg.py — pure-numpy Huffman+IDCT, 4:2:0/4:2:2, restart
intervals), IMA ADPCM compressed audio (format 0x11, the integer
recurrence SQL-certified), plus PNG/JPEG/GIF header metadata.  PNG
coverage is complete for single-image files (all depths/types incl.
Adam7 interlace); what remains (progressive/12-bit JPEG, other audio
codecs, real video containers) raises NotImplementedError — wire PIL/ffmpeg
into the same row functions on a cluster that has them.
`fake_decode` remains for the reference-shaped metadata plumbing
whose oracles predate the real codecs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType,
                               LongType, StringType, StructField,
                               StructType)

from medcat_spark import worker


def _map_rows(df: DataFrame, schema: StructType, rec) -> DataFrame:
    """The one media operator: ``rec(row dict)`` → iterable of output
    rows (tuples in ``schema`` order), transposed to one output batch
    per input batch and run by ``worker.kernel`` (batches with no
    output rows yield nothing)."""
    def body(batches):
        for rows in batches:
            out = [o for r in rows for o in rec(r)]
            yield dict(zip(schema.names, map(list, zip(*out))))
    return df.mapInArrow(worker.kernel(schema, body), schema=schema)


# (doc_id, media_bytes): the output of every synth_*_column generator
_DOC_BYTES_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("media_bytes", BinaryType()),
])


def _synth_column(docs: DataFrame, id_col: str, encode) -> DataFrame:
    """(doc_id string, media_bytes binary): one ``encode(int(doc_id))``
    fixture blob per doc with a doc_id."""
    def rec(r):
        if r[id_col] is None:
            return ()
        did = int(r[id_col])
        return [(str(did), encode(did))]
    return _map_rows(docs.select(id_col), _DOC_BYTES_SCHEMA, rec)


def _decode_head(df: DataFrame, schema: StructType, bytes_col: str,
                 id_col: str, stats) -> DataFrame:
    """A decode head: ``stats(bytes)`` → output rows after ``doc_id``.
    A NULL ``bytes_col`` or ``id_col`` yields no row (the module's NULL
    rule)."""
    def rec(r):
        b = r[bytes_col]
        if b is None or r[id_col] is None:
            return ()
        did = str(r[id_col])
        return [(did,) + row for row in stats(b)]
    return _map_rows(df, schema, rec)


def _media_spans(spans):
    """(span_idx, span) per non-text span with a media_ref; NULL: none."""
    return ((i, s) for i, s in enumerate(spans or ())
            if s["kind"] != "text" and s.get("media_ref"))


MEDIA_FEATURE_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("span_idx", IntegerType()),
    StructField("kind", StringType()),
    StructField("media_ref", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("phash", StringType()),
])


def fake_decode(media_ref: str) -> dict:
    """Deterministic stand-in for image/audio decode.

    A real implementation would fetch bytes and run PIL/librosa here;
    the fake derives metadata from the reference hash so tests and
    oracles are reproducible.  Raise NotImplementedError semantics are
    confined to `real_decode`.
    """
    h = hashlib.md5(media_ref.encode()).hexdigest()
    return {"width": 64 + int(h[:4], 16) % 1024,
            "height": 64 + int(h[4:8], 16) % 1024,
            "phash": h[:16]}


def real_decode(media_bytes: bytes) -> dict:
    """Real header decode for the formats whose metadata needs no
    library: PNG (IHDR chunk), JPEG (SOF frame header), GIF (logical
    screen descriptor) — pure struct parsing of the container bytes.
    Pixel decode / audio / video stay behind NotImplementedError until a
    cluster provides PIL/ffmpeg.

    Returns {format, width, height, phash} (phash = md5 of the bytes —
    a content fingerprint; a perceptual hash needs pixel decode).
    """
    import struct

    b = media_bytes or b""
    h = hashlib.md5(b).hexdigest()[:16]

    # PNG: 8-byte signature, first chunk must be IHDR (width/height BE)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
        w, ht = struct.unpack(">II", b[16:24])
        return {"format": "png", "width": int(w), "height": int(ht),
                "phash": h}

    # GIF: 6-byte signature then little-endian logical screen size
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        w, ht = struct.unpack("<HH", b[6:10])
        return {"format": "gif", "width": int(w), "height": int(ht),
                "phash": h}

    # JPEG: walk the marker stream to the first SOFn (C0-CF minus
    # C4/C8/CC), whose payload is precision(1) height(2BE) width(2BE)
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker == 0xFF:          # fill byte
                i += 1
                continue
            if marker in (0x01, 0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                i += 2                  # standalone marker, no length
                continue
            if i + 4 > len(b):
                break
            seg_len = struct.unpack(">H", b[i + 2:i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= len(b):
                    ht, w = struct.unpack(">HH", b[i + 5:i + 9])
                    return {"format": "jpeg", "width": int(w),
                            "height": int(ht), "phash": h}
                break
            i += 2 + seg_len
        raise ValueError("truncated or SOF-less JPEG stream")

    raise NotImplementedError(
        "only PNG/JPEG/GIF headers decode without libraries; wire "
        "PIL/ffmpeg here on a real cluster for pixel/audio/video decode")


MEDIA_BYTES_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("media_ref", StringType()),
    StructField("format", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("phash", StringType()),
])


def media_features_from_bytes(df: DataFrame, bytes_col: str = "media_bytes",
                              id_col: str = "doc_id",
                              ref_col: str = "media_ref") -> DataFrame:
    """media_features over a REAL binary column: Arrow-batched header
    decode of PNG/JPEG/GIF bytes (real_decode).  Undecodable rows get
    null dims and format 'unknown' instead of failing the batch —
    corpus-scale media tables always contain corrupt members."""
    def rec(r):
        if r[id_col] is None:
            return ()
        b = r[bytes_col]
        try:
            meta = real_decode(b)
        except (NotImplementedError, ValueError):
            meta = {"format": "unknown", "width": None, "height": None,
                    "phash": hashlib.md5(b or b"").hexdigest()[:16]}
        return [(str(r[id_col]), r[ref_col], meta["format"], meta["width"],
                 meta["height"], meta["phash"])]
    return _map_rows(df, MEDIA_BYTES_SCHEMA, rec)


def media_features(docs_with_spans: DataFrame) -> DataFrame:
    """Extract per-media-span features from interleaved documents.

    Input: (doc_id, spans array<struct<kind,text,media_ref,offset>>).
    One output row per media span; Arrow-batched, model-free.  A row
    whose ``spans`` is NULL gives no output rows.
    """
    def rec(r):
        if r["doc_id"] is None:
            return
        for i, s in _media_spans(r["spans"]):
            meta = fake_decode(s["media_ref"])
            yield (str(r["doc_id"]), i, s["kind"], s["media_ref"],
                   meta["width"], meta["height"], meta["phash"])
    return _map_rows(docs_with_spans, MEDIA_FEATURE_SCHEMA, rec)


def media_resize(features: DataFrame, target_w: int = 224,
                 target_h: int = 224) -> DataFrame:
    """Aspect-preserving resize plumbing over media_features rows: the
    output dims/scale are the real computation a resize UDF performs;
    the pixel work itself lives behind real_decode on a real cluster.
    Pure codegen arithmetic — no Python.

    → (..., out_w, out_h, scale): scale = min(target/width,
    target/height), dims rounded down, floor-capped at 1.
    """
    from pyspark.sql import functions as F
    scale = F.least(F.lit(float(target_w)) / F.col("width"),
                    F.lit(float(target_h)) / F.col("height"))
    return features.select(
        "doc_id", "span_idx", "kind", "media_ref", "width", "height",
        F.round(scale, 6).alias("scale"),
        F.greatest(F.floor(F.col("width") * scale), F.lit(1))
         .cast("int").alias("out_w"),
        F.greatest(F.floor(F.col("height") * scale), F.lit(1))
         .cast("int").alias("out_h"))


FRAME_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("span_idx", IntegerType()),
    StructField("media_ref", StringType()),
    StructField("duration_ms", IntegerType()),
    StructField("frame_idx", IntegerType()),
    StructField("ts_ms", IntegerType()),
    StructField("frame_ref", StringType()),
])


def fake_duration_ms(media_ref: str) -> int:
    """Deterministic duration stand-in (ffprobe on a real cluster)."""
    h = hashlib.md5(media_ref.encode()).hexdigest()
    return 1000 + int(h[8:12], 16) % 60000


def frame_sample(docs_with_spans: DataFrame, interval_ms: int = 1000,
                 max_frames: int = 16) -> DataFrame:
    """Frame-sampling plumbing for video/audio spans: one row per
    sampled timestamp, Arrow-batched; frame decode itself is behind
    real_decode.  Mirrors ffmpeg -vf fps sampling: frames at
    0, interval, 2*interval, ... capped at max_frames.  A row whose
    ``spans`` is NULL gives no output rows.
    """
    def rec(r):
        if r["doc_id"] is None:
            return
        for i, s in _media_spans(r["spans"]):
            ref = s["media_ref"]
            dur = fake_duration_ms(ref)
            for f_i in range(min(dur // interval_ms + 1, max_frames)):
                yield (str(r["doc_id"]), i, ref, dur, f_i,
                       f_i * interval_ms, f"{ref}#f{f_i}")
    return _map_rows(docs_with_spans, FRAME_SCHEMA, rec)


# ---------------------------------------------------------------------------
# REAL PNG pixel codec (stdlib zlib — no PIL needed): closes the
# "pixel decode honestly stubbed" gap for the one format the standard
# library can fully handle.  8-bit gray/RGB/RGBA, no interlace/palette;
# all five PNG row filters reconstructed per the spec.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def png_encode(pixels, filter_type: int = 0) -> bytes:
    """Minimal PNG writer for numpy uint8 arrays shaped (H, W) gray,
    (H, W, 3) RGB or (H, W, 4) RGBA.  ``filter_type`` applies one PNG
    row filter (0-4) to EVERY row — exercised by tests to prove the
    decoder reconstructs each filter, not just the trivial one."""
    import struct
    import zlib

    import numpy as np

    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        color, ch = 0, 1
        px = px[:, :, None]
    elif px.ndim == 3 and px.shape[2] == 3:
        color, ch = 2, 3
    elif px.ndim == 3 and px.shape[2] == 4:
        color, ch = 6, 4
    else:
        raise ValueError(f"unsupported pixel shape {px.shape}")
    hgt, w = px.shape[:2]
    raw = bytearray()
    prior = np.zeros(w * ch, dtype=np.int64)
    for y in range(hgt):
        row = px[y].reshape(-1).astype(np.int64)
        if filter_type == 0:
            flt = row
        elif filter_type == 1:    # Sub
            left = np.concatenate([np.zeros(ch, np.int64), row[:-ch]])
            flt = (row - left) % 256
        elif filter_type == 2:    # Up
            flt = (row - prior) % 256
        elif filter_type == 3:    # Average
            left = np.concatenate([np.zeros(ch, np.int64), row[:-ch]])
            flt = (row - (left + prior) // 2) % 256
        elif filter_type == 4:    # Paeth
            left = np.concatenate([np.zeros(ch, np.int64), row[:-ch]])
            ul = np.concatenate([np.zeros(ch, np.int64), prior[:-ch]])
            p = left + prior - ul
            pa, pb, pc = abs(p - left), abs(p - prior), abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prior, ul))
            flt = (row - pred) % 256
        else:
            raise ValueError(f"bad filter type {filter_type}")
        raw.append(filter_type)
        raw.extend(flt.astype(np.uint8).tobytes())
        prior = row

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    ihdr = struct.pack(">IIBBBBB", w, hgt, 8, color, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def png_decode_pixels(b: bytes):
    """Full PNG pixel decode with stdlib zlib: parse chunks, inflate
    IDAT, reconstruct every row filter (None/Sub/Up/Average/Paeth).
    Bit depths 1/2/4 (gray + palette, MSB-first unpacking), 8 and 16
    (big-endian, returned as uint16); color types gray / gray+alpha /
    RGB / RGBA / palette (PLTE lookup to RGB).  Filters operate on
    BYTES with bpp = max(1, channels*depth//8) per the spec.  Adam7
    interlace decodes as seven independently-filtered sub-images
    scattered onto the pixel grid — full non-animated PNG coverage."""
    import struct
    import zlib

    import numpy as np

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    i, w = 8, None
    hgt = bitd = color = interlace = None
    idat = bytearray()
    plte = None
    while i + 8 <= len(b):
        (ln,) = struct.unpack(">I", b[i:i + 4])
        tag = b[i + 4:i + 8]
        data = b[i + 8:i + 8 + ln]
        if tag == b"IHDR":
            w, hgt, bitd, color, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
        i += 12 + ln
    if w is None:
        raise ValueError("PNG without IHDR")
    paletted = color == 3
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    ok_depth = (bitd in (8, 16) and color in (0, 2, 4, 6)) or \
        (bitd in (1, 2, 4) and color in (0, 3)) or \
        (bitd == 8 and paletted)
    if channels is None or not ok_depth or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG bit depth {bitd} / color type {color} / interlace "
            f"{interlace}: malformed depth/type combos need a library")
    if paletted and plte is None:
        raise ValueError("paletted PNG without PLTE chunk")
    raw = zlib.decompress(bytes(idat))
    bpp = max(1, channels * bitd // 8)           # filter byte offset

    def defilter(pos, n_rows, stride):
        """Reconstruct n_rows filtered scanlines starting at ``pos``;
        returns (rows uint8 (n_rows, stride), new pos)."""
        rows = np.empty((n_rows, stride), dtype=np.uint8)
        prior = np.zeros(stride, dtype=np.int64)
        for y in range(n_rows):
            if pos >= len(raw):
                raise ValueError("PNG IDAT truncated")
            ft = raw[pos]
            row = np.frombuffer(raw, np.uint8, stride,
                                pos + 1).astype(np.int64)
            pos += stride + 1
            if ft == 0:
                rec = row
            elif ft == 2:                   # Up — vectorizable
                rec = (row + prior) % 256
            elif ft in (1, 3, 4):           # left-dependent: scan
                rec = np.empty(stride, dtype=np.int64)
                for x in range(stride):
                    left = rec[x - bpp] if x >= bpp else 0
                    up = prior[x]
                    ul = prior[x - bpp] if x >= bpp else 0
                    if ft == 1:
                        pred = left
                    elif ft == 3:
                        pred = (left + up) // 2
                    else:
                        p = left + up - ul
                        pa, pb, pc = (abs(p - left), abs(p - up),
                                      abs(p - ul))
                        pred = left if pa <= pb and pa <= pc \
                            else (up if pb <= pc else ul)
                    rec[x] = (row[x] + pred) % 256
            else:
                raise ValueError(f"bad PNG filter byte {ft}")
            rows[y] = rec.astype(np.uint8)
            prior = rec
        return rows, pos

    def to_samples(rows, width):
        """Filtered bytes → per-pixel sample values (n, width[, ch])."""
        n = rows.shape[0]
        if bitd == 16:
            s = rows.astype(np.uint16).reshape(n, width * channels, 2)
            v = (s[:, :, 0] << 8) | s[:, :, 1]      # big-endian
            return v.reshape(n, width) if channels == 1 \
                else v.reshape(n, width, channels)
        if bitd < 8:
            bits = np.unpackbits(rows, axis=1)[:, :width * bitd] \
                .reshape(n, width, bitd)
            wts = (1 << np.arange(bitd - 1, -1, -1)).astype(np.uint8)
            return (bits * wts).sum(axis=2).astype(np.uint8)
        return rows.reshape(n, width) if channels == 1 \
            else rows.reshape(n, width, channels)

    if not interlace:
        stride = (w * channels * bitd + 7) // 8
        if len(raw) != hgt * (stride + 1):
            raise ValueError("PNG IDAT length mismatch")
        rows, _ = defilter(0, hgt, stride)
        vals = to_samples(rows, w)
    else:
        # Adam7: seven sub-images, each independently filtered
        dtype = np.uint16 if bitd == 16 else np.uint8
        if channels == 1:
            vals = np.zeros((hgt, w), dtype=dtype)
        else:
            vals = np.zeros((hgt, w, channels), dtype=dtype)
        pos = 0
        for x0, y0, dx, dy in ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                               (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                               (0, 1, 1, 2)):
            wp = (w - x0 + dx - 1) // dx
            hp = (hgt - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            stride = (wp * channels * bitd + 7) // 8
            rows, pos = defilter(pos, hp, stride)
            sub = to_samples(rows, wp)
            vals[y0::dy, x0::dx] = sub
        if pos != len(raw):
            raise ValueError("PNG IDAT length mismatch")

    if paletted:
        if int(vals.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index out of range")
        return plte[vals]
    return vals


PIXEL_STATS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mean_px", DoubleType()),
    StructField("px_sum", LongType()),
])


def synth_png_column(docs: DataFrame, id_col: str = "doc_id",
                     height: int = 6, width: int = 8) -> DataFrame:
    """Deterministic PNG fixture generator for the pixel-stat oracle:
    per doc an (height×width) grayscale gradient pixel[i] =
    (i + doc_id) % 256, written with row filter ``doc_id % 5`` so every
    PNG filter type (None/Sub/Up/Average/Paeth) is exercised across the
    corpus.  Output: (doc_id string, media_bytes binary)."""
    import numpy as np
    base = np.arange(height * width, dtype=np.int64)
    return _synth_column(docs, id_col, lambda did: png_encode(
        ((base + did) % 256).reshape(height, width), filter_type=did % 5))


def media_pixel_stats(df: DataFrame, bytes_col: str = "media_bytes",
                      id_col: str = "doc_id") -> DataFrame:
    """REAL pixel-level feature extraction over a binary PNG column:
    png_decode_pixels → per-image mean (rounded 6 dp, the oracle
    contract).  The batch shape, schema and partitioning are exactly
    what a PIL/ffmpeg-backed extractor would use — swapping the decoder
    is a one-line change on a real cluster."""
    def stats(b):
        px = png_decode_pixels(b)
        return [(int(px.shape[1]), int(px.shape[0]),
                 round(float(px.mean()), 6), int(px.astype("int64").sum()))]
    return _decode_head(df, PIXEL_STATS_SCHEMA, bytes_col, id_col, stats)


# ---------------------------------------------------------------------------
# REAL WAV PCM codec (stdlib struct): RIFF/fmt/data chunk walk, 16-bit
# mono/stereo little-endian PCM.  Same posture as the PNG codec above —
# the one audio container the standard library can fully handle, so the
# decode stage is real, not a fake; compressed codecs stay behind
# NotImplementedError.
# ---------------------------------------------------------------------------


def wav_encode(samples, sample_rate: int = 16000) -> bytes:
    """Minimal RIFF/WAVE writer for numpy int16 arrays shaped (N,) mono
    or (N, C) multi-channel; frames interleave channel-major per the
    spec."""
    import struct

    import numpy as np

    smp = np.ascontiguousarray(samples, dtype=np.int16)
    if smp.ndim == 1:
        smp = smp[:, None]
    n_ch = smp.shape[1]
    data = smp.reshape(-1).tobytes()
    byte_rate = sample_rate * n_ch * 2
    fmt = struct.pack("<HHIIHH", 1, n_ch, sample_rate, byte_rate,
                      n_ch * 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(b: bytes):
    """Parse a RIFF/WAVE stream: walk chunks (tolerating extras like
    LIST/fact).  Uncompressed PCM16 returns raw samples; format 0x11
    (mono IMA ADPCM) decodes through the integer recurrence.  Other
    codecs genuinely need a library.  Returns (int16 (N, C), rate)."""
    import struct

    import numpy as np

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    i = 12
    rate = n_ch = bits = audio_fmt = block_align = None
    data = None
    while i + 8 <= len(b):
        tag = b[i:i + 4]
        (ln,) = struct.unpack("<I", b[i + 4:i + 8])
        chunk = b[i + 8:i + 8 + ln]
        if tag == b"fmt ":
            audio_fmt, n_ch, rate = struct.unpack("<HHI", chunk[:8])
            (block_align,) = struct.unpack("<H", chunk[12:14])
            (bits,) = struct.unpack("<H", chunk[14:16])
        elif tag == b"data":
            data = chunk
        i += 8 + ln + (ln & 1)          # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAVE missing fmt/data chunk")
    if audio_fmt == 0x11:                 # IMA ADPCM (DVI4)
        if n_ch != 1:
            raise NotImplementedError("stereo IMA ADPCM interleaving")
        if not block_align or block_align < 5:
            raise ValueError("IMA ADPCM needs a sane block align")
        return ima_adpcm_decode(data, block_align), rate
    if audio_fmt != 1 or bits != 16:
        raise NotImplementedError(
            f"WAVE format {audio_fmt} / {bits}-bit: only uncompressed "
            "PCM16 and IMA ADPCM decode without a codec library")
    smp = np.frombuffer(data, dtype="<i2")
    if n_ch > 1:
        smp = smp.reshape(-1, n_ch)
    else:
        smp = smp.reshape(-1, 1)
    return smp, rate


AUDIO_STATS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", IntegerType()),
    StructField("duration_ms", IntegerType()),
    StructField("rms", DoubleType()),
    StructField("zero_crossings", IntegerType()),
])


def synth_wav_column(docs: DataFrame, id_col: str = "doc_id",
                     n_samples: int = 480,
                     sample_rate: int = 16000) -> DataFrame:
    """Deterministic WAV fixture generator: per doc a PCM16 mono signal
    sample[i] = ((i * (doc_id % 97 + 3)) % 2001) - 1000 — integer
    arithmetic a SQL oracle can replay exactly.  Output: (doc_id string,
    media_bytes binary)."""
    import numpy as np
    idx = np.arange(n_samples, dtype=np.int64)
    return _synth_column(docs, id_col, lambda did: wav_encode(
        ((idx * (did % 97 + 3)) % 2001 - 1000).astype(np.int16),
        sample_rate=sample_rate))


def media_audio_stats(df: DataFrame, bytes_col: str = "media_bytes",
                      id_col: str = "doc_id") -> DataFrame:
    """REAL audio feature extraction over a binary WAV column:
    wav_decode → per-clip duration, RMS (6 dp) and zero-crossing count
    (sign flips between consecutive samples, zeros carrying the
    previous sign — the SQL-replayable convention)."""
    def stats(b):
        import numpy as np
        smp, rate = wav_decode(b)
        mono = smp[:, 0].astype(np.float64)
        n = mono.shape[0]
        sgn = np.where(mono > 0, 1, np.where(mono < 0, -1, 0))
        for k in range(1, len(sgn)):      # zeros inherit prior sign
            if sgn[k] == 0:
                sgn[k] = sgn[k - 1]
        zc = int(np.sum(sgn[1:] * sgn[:-1] < 0))
        return [(int(rate), n, int(n * 1000 // rate),
                 round(float(np.sqrt((mono ** 2).mean())), 6), zc)]
    return _decode_head(df, AUDIO_STATS_SCHEMA, bytes_col, id_col, stats)


# ---------------------------------------------------------------------------
# REAL animated-GIF frame decode (pure-Python GIF-variant LZW): the
# "video" leg of the multimodal trio.  GIF87a/89a logical screen +
# global/local color tables, graphic-control extensions (per-frame
# delay, transparency, disposal none/keep/restore-bg), interlace, and
# sub-rectangle frames composited onto the running canvas.  Paired with
# a real LZW encoder so fixtures are genuine GIF byte streams.
# ---------------------------------------------------------------------------


def lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-variant LZW compress a palette-index sequence (LSB-first
    variable-width codes, CLEAR emitted at start and on table overflow
    at 4096)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    nxt, w = end + 1, min_code_size + 1
    emit(clear, w)
    buf = ()
    for k in indices:
        k = int(k)
        cand = buf + (k,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf], w)
        table[cand] = nxt
        nxt += 1
        if nxt == (1 << w) + 1 and w < 12:
            w += 1
        if nxt >= 4097:                  # table full: reset
            emit(clear, w)
            table = {(i,): i for i in range(clear)}
            nxt, w = end + 1, min_code_size + 1
        buf = (k,)
    if buf:
        emit(table[buf], w)
        nxt += 1
        if nxt == (1 << w) + 1 and w < 12:
            w += 1
    emit(end, w)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def lzw_decode(data: bytes, min_code_size: int):
    """Inverse of lzw_encode: returns the palette-index list."""
    clear = 1 << min_code_size
    end = clear + 1
    pos = 0                              # bit cursor

    def read(width):
        nonlocal pos
        v = 0
        for i in range(width):
            byte = pos >> 3
            if byte >= len(data):
                return None
            v |= ((data[byte] >> (pos & 7)) & 1) << i
            pos += 1
        return v

    table = [bytes([i]) for i in range(clear)] + [b"", b""]
    w = min_code_size + 1
    out = bytearray()
    prev = None
    while True:
        code = read(w)
        if code is None or code == end:
            break
        if code == clear:
            table = table[:end + 1]
            w = min_code_size + 1
            prev = None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError("LZW: first code after clear not literal")
            out.extend(table[code])
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = table[prev] + table[prev][:1]
            else:
                raise ValueError(f"LZW code {code} beyond table")
            out.extend(entry)
            table.append(table[prev] + entry[:1])
            if len(table) == (1 << w) and w < 12:
                w += 1
        prev = code
    return list(out)


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_encode(frames, palette, delays_ms=None, min_code_size=None) -> bytes:
    """Minimal GIF89a writer: full-canvas frames of palette indices
    (numpy uint8 (H, W)), one global color table, a graphic-control
    extension per frame carrying its delay."""
    import struct

    import numpy as np

    frames = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    hgt, w = frames[0].shape
    pal = list(palette)
    bits = max(1, (len(pal) - 1).bit_length())
    gct_size = 1 << bits
    mcs = min_code_size or max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, hgt, 0x80 | (bits - 1), 0, 0)
    for i in range(gct_size):
        r, g, bl = pal[i] if i < len(pal) else (0, 0, 0)
        out += bytes((r, g, bl))
    for fi, fr in enumerate(frames):
        delay = (delays_ms[fi] if delays_ms else 0) // 10
        out += b"\x21\xf9\x04" + struct.pack("<BHB", 0x04, delay, 0) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, hgt, 0)
        out.append(mcs)
        comp = lzw_encode(fr.reshape(-1), mcs)
        for off in range(0, len(comp), 255):
            blk = comp[off:off + 255]
            out.append(len(blk))
            out += blk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def gif_decode_frames(b: bytes, max_frames: int = 256):
    """Decode every frame of a GIF87a/89a stream.  Returns a list of
    dicts {frame_idx, delay_ms, pixels} where pixels is the full
    (H, W, 3) uint8 canvas AFTER compositing the frame (sub-rectangles,
    transparency and all four disposal methods honored — none/keep,
    restore-background, and restore-previous).

    ``max_frames`` bounds the decoded canvases (each is H·W·3 bytes):
    a pathological million-frame stream inside an Arrow batch would
    otherwise exhaust executor memory — excess frames raise so the
    caller chooses between sampling and a bigger budget."""
    import struct

    import numpy as np

    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream")
    w, hgt, packed, bg, _ar = struct.unpack("<HHBBB", b[6:13])
    i = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(b, np.uint8, 3 * n, i).reshape(n, 3)
        i += 3 * n
    canvas = np.zeros((hgt, w, 3), dtype=np.uint8)
    if gct is not None:
        canvas[:, :] = gct[bg] if bg < len(gct) else 0
    frames = []
    delay_ms, transp, disposal = 0, None, 0
    while i < len(b):
        blk = b[i]
        if blk == 0x3B:                 # trailer
            break
        if blk == 0x21:                 # extension
            label = b[i + 1]
            i += 2
            if label == 0xF9:           # graphic control
                sz = b[i]
                gpacked, delay_cs, tidx = struct.unpack(
                    "<BHB", b[i + 1:i + 5])
                delay_ms = delay_cs * 10
                disposal = (gpacked >> 2) & 7
                transp = tidx if gpacked & 1 else None
                i += sz + 1
            while b[i] != 0:            # skip (remaining) sub-blocks
                i += b[i] + 1
            i += 1
            continue
        if blk != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{blk:02x}")
        left, top, fw, fh, fpacked = struct.unpack("<HHHHB", b[i + 1:i + 10])
        i += 10
        ct = gct
        if fpacked & 0x80:
            n = 2 << (fpacked & 7)
            ct = np.frombuffer(b, np.uint8, 3 * n, i).reshape(n, 3)
            i += 3 * n
        if ct is None:
            raise ValueError("GIF frame without any color table")
        mcs = b[i]
        i += 1
        comp = bytearray()
        while b[i] != 0:
            ln = b[i]
            comp += b[i + 1:i + 1 + ln]
            i += 1 + ln
        i += 1
        idx = np.array(lzw_decode(bytes(comp), mcs),
                       dtype=np.int32)[:fw * fh].reshape(fh, fw)
        if fpacked & 0x40:              # interlaced: reorder rows
            de = np.empty_like(idx)
            src = 0
            for start, step in _GIF_INTERLACE:
                for y in range(start, fh, step):
                    de[y] = idx[src]
                    src += 1
            idx = de
        # disposal 2 restores the painted region to background after
        # the frame shows; disposal 3 restores the canvas AS IT WAS
        # before this frame (1-frame history — the spec's maximum)
        before = canvas.copy() if disposal in (2, 3) else None
        region = canvas[top:top + fh, left:left + fw]
        rgb = ct[np.clip(idx, 0, len(ct) - 1)]
        if transp is not None:
            mask = idx != transp
            region[mask] = rgb[mask]
        else:
            region[:, :] = rgb
        if len(frames) >= max_frames:
            raise ValueError(
                f"GIF exceeds max_frames={max_frames}; sample frames "
                "or raise the budget")
        frames.append({"frame_idx": len(frames), "delay_ms": delay_ms,
                       "pixels": canvas.copy()})
        if disposal == 2:               # restore to background AFTER emit
            bgc = gct[bg] if gct is not None and bg < len(gct) else 0
            before[top:top + fh, left:left + fw] = bgc
            canvas = before
        elif disposal == 3:             # restore previous AFTER emit
            canvas = before
        delay_ms, transp, disposal = 0, None, 0
    return frames


GIF_FRAME_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("ts_ms", IntegerType()),
    StructField("delay_ms", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mean_px", DoubleType()),
])


def synth_gif_column(docs: DataFrame, id_col: str = "doc_id",
                     height: int = 6, width: int = 8) -> DataFrame:
    """Deterministic animated-GIF fixture: doc_id % 3 + 1 frames on a
    4-shade gray palette, pixel index (i + frame + doc_id) % 4, frame f
    delayed (f+1)*100 ms — every value a SQL oracle can replay."""
    import numpy as np
    pal = [(0, 0, 0), (85, 85, 85), (170, 170, 170), (255, 255, 255)]
    base = np.arange(height * width, dtype=np.int64)

    def encode(did):
        n_frames = did % 3 + 1
        frames = [((base + f + did) % 4).reshape(height, width)
                  .astype(np.uint8) for f in range(n_frames)]
        return gif_encode(frames, pal, delays_ms=[(f + 1) * 100
                                                  for f in range(n_frames)])
    return _synth_column(docs, id_col, encode)


def media_gif_frames(df: DataFrame, bytes_col: str = "media_bytes",
                     id_col: str = "doc_id") -> DataFrame:
    """REAL video-style frame extraction over a binary GIF column: one
    output row per decoded frame with its timeline position (cumulative
    prior delays) and mean pixel value — the real-decoder replacement
    for the fake_duration frame_sample plumbing."""
    def stats(b):
        ts = 0
        for fr in gif_decode_frames(b):
            px = fr["pixels"]
            yield (fr["frame_idx"], ts, fr["delay_ms"], int(px.shape[1]),
                   int(px.shape[0]), round(float(px.mean()), 6))
            ts += fr["delay_ms"]
    return _decode_head(df, GIF_FRAME_SCHEMA, bytes_col, id_col, stats)


# ---------------------------------------------------------------------------
# IMA ADPCM (DVI4) WAV decode — real compressed audio (format tag
# 0x11), the classic 4-bit predictive codec.  The decode is a pure
# integer recurrence over (predictor, step-index) state, which makes
# it SQL-certifiable: the oracle replays the same recurrence as a
# recursive CTE over the fixture's arithmetic nibble stream while the
# engine decodes the REAL block-aligned WAV bytes.
# ---------------------------------------------------------------------------

IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767]
IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]


def ima_adpcm_step(pred: int, idx: int, nibble: int):
    """One IMA ADPCM decode step → (new_pred, new_idx).  Pure integer
    arithmetic (the SQL-replayable contract)."""
    step = IMA_STEP_TABLE[idx]
    diff = step >> 3
    if nibble & 4:
        diff += step
    if nibble & 2:
        diff += step >> 1
    if nibble & 1:
        diff += step >> 2
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + IMA_INDEX_TABLE[nibble & 7]))
    return pred, idx


def adpcm_encode_nibbles(nibbles, sample_rate: int = 16000,
                         predictor: int = 0, index: int = 0) -> bytes:
    """Build a real one-block IMA ADPCM WAV (format 0x11, mono) from a
    RAW nibble stream — the fixture builder: the nibbles are the exact
    integer contract the decoder must recover (low nibble first within
    each byte, 4-byte block header pred/index/reserved)."""
    import struct

    nibbles = [int(n) & 0xF for n in nibbles]
    if len(nibbles) % 2:
        raise ValueError("nibble count must be even (byte packing)")
    data = struct.pack("<hBB", predictor, index, 0)
    data += bytes((nibbles[i] | (nibbles[i + 1] << 4))
                  for i in range(0, len(nibbles), 2))
    block_align = len(data)
    n_samples = len(nibbles) + 1
    fmt = struct.pack("<HHIIHH", 0x11, 1, sample_rate,
                      sample_rate * block_align // n_samples,
                      block_align, 4)
    fmt += struct.pack("<HH", 2, n_samples)     # cbSize, samples/block
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def ima_adpcm_decode(data: bytes, block_align: int):
    """Decode mono IMA ADPCM blocks: per block a 4-byte header whose
    predictor is emitted as the first sample, then one sample per
    nibble (low nibble first).  Returns int16 samples (N, 1)."""
    import struct

    import numpy as np

    out = []
    for off in range(0, len(data), block_align):
        blk = data[off:off + block_align]
        if len(blk) < 4:
            raise ValueError("ADPCM block shorter than its header")
        pred, idx, _rsv = struct.unpack("<hBB", blk[:4])
        if idx > 88:
            raise ValueError(f"ADPCM step index {idx} out of range")
        out.append(pred)
        for byte in blk[4:]:
            for nib in (byte & 0xF, byte >> 4):
                pred, idx = ima_adpcm_step(pred, idx, nib)
                out.append(pred)
    return np.asarray(out, dtype=np.int16).reshape(-1, 1)


ADPCM_STATS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", IntegerType()),
    StructField("sum_samples", LongType()),
    StructField("min_sample", IntegerType()),
    StructField("max_sample", IntegerType()),
])


def synth_adpcm_column(docs: DataFrame, id_col: str = "doc_id",
                       n_nibbles: int = 64) -> DataFrame:
    """Deterministic IMA ADPCM fixture: per doc a real one-block
    compressed WAV whose nibble stream is nibble[i] = (i*7 + doc_id)
    % 16 — the integer contract the SQL oracle replays as a recursive
    CTE."""
    return _synth_column(docs, id_col, lambda did: adpcm_encode_nibbles(
        [(i * 7 + did) % 16 for i in range(n_nibbles)]))


def media_adpcm_stats(df: DataFrame, bytes_col: str = "media_bytes",
                      id_col: str = "doc_id") -> DataFrame:
    """Compressed-audio feature extraction: wav_decode routes format
    0x11 through the IMA recurrence; stats are pure integers so the
    certification is exact (no float rounding contract needed)."""
    def stats(b):
        smp, rate = wav_decode(b)
        mono = smp[:, 0].astype("int64")
        return [(int(rate), int(mono.shape[0]), int(mono.sum()),
                 int(mono.min()), int(mono.max()))]
    return _decode_head(df, ADPCM_STATS_SCHEMA, bytes_col, id_col, stats)
