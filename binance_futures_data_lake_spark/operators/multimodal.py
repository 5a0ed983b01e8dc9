"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

The image path uses a REAL codec (r4 — the r1-r3 ``_fake_decode`` stub is
gone): 8-bit grayscale PNG implemented on stdlib ``zlib`` + ``struct``
per the public PNG spec (signature, IHDR/IDAT/IEND chunks, CRC32, all
five scanline filters). ``synthetic_media`` ENCODES deterministic pixels
into real PNG payloads and ``image_features`` DECODES
them — so the driver oracle can hash-check the whole roundtrip: pixels
are an arithmetic function of (text, dims) that DuckDB recomputes in
SQL, and any codec bug (chunk parse, inflate, defilter) breaks the
feature hash.

The audio path (r4, second half) gets the same treatment: a REAL
PCM16 WAV codec on stdlib ``struct`` per the public RIFF/WAVE layout
(RIFF size, ``fmt `` chunk, ``data`` chunk, even-byte chunk padding).
``synthetic_media(kind="audio")`` ENCODES deterministic int16 samples
derived from the document text into real WAV containers and
``audio_features`` DECODES them into clip-level stats (RMS, peak,
zero-crossing count) — again fully SQL-replayable, so the oracle
attests the container roundtrip including the 44-byte header size.
Video payloads remain opaque bytes with typed metadata; their decode is
a real libav boundary and stays out of scope.

Scale design:
- payloads stay opaque `binary` end-to-end — Spark never interprets them,
  so Tungsten just moves pointers; only the UDF touches bytes;
- `mapInPandas` streams Arrow record batches — per-batch memory is bounded
  by `spark.sql.execution.arrow.maxRecordsPerBatch` regardless of media
  size distribution;
- feature extraction emits SMALL fixed-width rows (stats, not pixels), so
  the expensive binary column is dropped before any shuffle — project the
  payload away as early as possible and never groupBy while carrying it.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

# --- minimal real PNG codec (8-bit grayscale, stdlib only) ------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def png_encode_gray(
    pixels: bytes, width: int, height: int, filter_type: int = 0
) -> bytes:
    """Encode 8-bit grayscale pixels (row-major) as a real PNG.

    ``filter_type`` applies that PNG scanline filter to every row (0=None,
    1=Sub, 2=Up, 3=Average, 4=Paeth) — the encoder normally emits 0, the
    other types exist so the decoder's defilter paths are testable with
    genuine filtered files. Deterministic: fixed zlib level, no ancillary
    chunks, so identical pixels ⇒ identical bytes."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"unknown PNG filter type {filter_type}")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    lines = []
    prev = bytes(width)
    for y in range(height):
        cur = pixels[y * width : (y + 1) * width]
        if filter_type == 0:
            enc = cur
        else:
            enc = bytearray(width)
            for x in range(width):
                a = cur[x - 1] if x else 0
                b = prev[x]
                c = prev[x - 1] if x else 0
                if filter_type == 1:
                    pred = a
                elif filter_type == 2:
                    pred = b
                elif filter_type == 3:
                    pred = (a + b) // 2
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (cur[x] - pred) & 0xFF
            enc = bytes(enc)
        lines.append(bytes([filter_type]) + enc)
        prev = cur
    idat = zlib.compress(b"".join(lines), 6)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def png_decode_gray(data: bytes) -> tuple[int, int, bytes]:
    """Decode an 8-bit grayscale non-interlaced PNG → (width, height,
    pixels). Full chunk walk (multi-IDAT safe), zlib inflate, and all five
    defilter types; the all-None-filters case (what our encoder emits) is
    one vectorized slice."""
    import numpy as np

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, width, height, idat = 8, None, None, []
    while pos + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            width, height, bit, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if bit != 8 or color != 0 or interlace != 0:
                raise NotImplementedError(
                    "only 8-bit grayscale non-interlaced PNG is supported"
                )
        elif tag == b"IDAT":
            idat.append(chunk)
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("malformed PNG: missing IHDR/IDAT")
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != height * (width + 1):
        raise ValueError("malformed PNG: wrong decompressed size")
    arr = np.frombuffer(raw, np.uint8).reshape(height, width + 1)
    filters, scans = arr[:, 0], arr[:, 1:]
    if not filters.any():  # fast path: every scanline filter is None
        return width, height, scans.tobytes()
    out = np.zeros((height, width), np.uint8)
    prev = np.zeros(width, np.int32)
    for y in range(height):
        ft = int(filters[y])
        line = scans[y].astype(np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:
            cur = (line + prev) & 0xFF
        elif ft in (1, 3, 4):
            cur = np.empty(width, np.int32)
            a = 0
            for x in range(width):
                b = int(prev[x])
                c = int(prev[x - 1]) if x else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                a = (line[x] + pred) & 0xFF
                cur[x] = a
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = cur.astype(np.uint8)
        prev = out[y].astype(np.int32)
    return width, height, out.tobytes()

# --- minimal real WAV codec (PCM16, stdlib only) ----------------------------


def wav_encode_pcm16(samples: bytes, sample_rate: int, n_channels: int = 1) -> bytes:
    """Encode little-endian int16 PCM frames as a real RIFF/WAVE file.

    Canonical 44-byte header (RIFF size + ``fmt `` + ``data``), no
    ancillary chunks — deterministic: identical samples ⇒ identical
    bytes. ``samples`` is the raw interleaved frame buffer."""
    if len(samples) % (2 * n_channels):
        raise ValueError("sample buffer is not whole int16 frames")
    fmt = struct.pack(
        "<HHIIHH",
        1,  # PCM
        n_channels,
        sample_rate,
        sample_rate * n_channels * 2,  # byte rate
        n_channels * 2,  # block align
        16,  # bits/sample
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode_pcm16(data: bytes) -> tuple[int, int, bytes]:
    """Decode a PCM16 RIFF/WAVE file → (sample_rate, n_channels,
    samples). Full chunk walk — unknown chunks are skipped, chunk sizes
    are padded to even offsets per the RIFF spec, multi-``data`` files
    concatenate — so real-world WAVs parse, not only our encoder's."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE signature")
    pos, rate, ch, chunks = 12, None, None, []
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", data, pos + 4)
        if pos + 8 + ln > len(data):
            raise ValueError(
                f"truncated WAV: chunk {tag!r} declares {ln} bytes but only "
                f"{len(data) - pos - 8} remain"
            )
        chunk = data[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            audio_fmt, ch, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", chunk)
            if audio_fmt != 1 or bits != 16:
                raise NotImplementedError("only 16-bit PCM WAV is supported")
        elif tag == b"data":
            chunks.append(chunk)
    if rate is None or not chunks:
        raise ValueError("malformed WAV: missing fmt/data chunk")
    return rate, ch, b"".join(chunks)


MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),           # image | audio | video
    T.StructField("payload", T.BinaryType()),        # opaque encoded bytes
    T.StructField("meta", T.StructType([
        T.StructField("format", T.StringType()),     # png/jpeg/wav/mp4/...
        T.StructField("width", T.IntegerType()),     # images/video
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),  # audio
        T.StructField("duration_ms", T.LongType()),     # audio/video
    ])),
])

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_intensity", T.DoubleType()),
    T.StructField("std_intensity", T.DoubleType()),
    T.StructField("phash", T.LongType()),
])


def synthetic_media(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Deterministic media table derived from `documents`, so the pipeline
    has real binary data to move without bundled assets.

    ``kind="image"``: payload is a REAL grayscale PNG whose pixels are the
    document's utf-8 bytes tiled to width×height (dims keyed on doc_id) —
    identical (text, dims) ⇒ byte-identical PNG, and the pixel values are
    an arithmetic function of the text a SQL oracle can recompute without
    a decoder. ``kind="audio"``: payload is a REAL PCM16 mono WAV whose
    samples are ``(codepoint % 192 − 96) · 180`` over the text's unicode
    CODEPOINTS tiled to ``doc_id % 800 + 400`` samples — character-based
    (not byte-based) so the SQL oracle's ``ascii(substr(text, i, 1))``
    derivation agrees for arbitrary text, not only ASCII (for ASCII the
    two coincide: cp < 128 < 192). ASCII text straddles 96 ('`'), so
    clips genuinely cross zero and zero-crossing stats are non-trivial;
    again pure arithmetic a SQL oracle replays. Other kinds keep opaque
    utf-8 payloads (a video decoder is out of scope)."""
    from binance_futures_data_lake_spark.operators.textdedup import (
        widen_narrow_scan,
    )

    # r13: the payload build AND the downstream decode kernels pipeline
    # inside the input scan's stage (the binary column never crosses a
    # shuffle), so a one-row-group fixture pins ALL the Python codec work
    # to one task. Widen the narrow TEXT input before the build — the
    # guarded exchange moves fixture text once, never media bytes, and
    # never fires on a wide deploy-scale table (guide §2.5/§6).
    docs = widen_narrow_scan(docs)
    if kind == "audio":
        import numpy as np
        import pandas as pd

        def build_wav(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            for pdf in batches:
                if pdf.empty:
                    continue
                rows = []
                for did, text in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                    did = int(did)
                    n = did % 800 + 400
                    # codepoints, vectorized (utf-32-le = one u4 per char)
                    tb = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
                    v = (
                        ((np.resize(tb, n) % 192).astype(np.int32) - 96) * 180
                    ).astype("<i2")
                    rows.append(
                        (
                            did,
                            "audio",
                            wav_encode_pcm16(v.tobytes(), 16000),
                            {
                                "format": "wav",
                                "width": 0,
                                "height": 0,
                                "n_channels": 1,
                                "sample_rate": 16000,
                                "duration_ms": n * 1000 // 16000,
                            },
                        )
                    )
                yield pd.DataFrame(
                    rows, columns=["media_id", "kind", "payload", "meta"]
                )

        return docs.select("doc_id", "text").mapInPandas(build_wav, MEDIA_SCHEMA)
    if kind != "image":
        meta = F.struct(
            F.lit("wav").alias("format"),
            (F.pmod(F.col("doc_id"), F.lit(64)) + 32).cast("int").alias("width"),
            (F.pmod(F.col("doc_id"), F.lit(48)) + 24).cast("int").alias("height"),
            F.lit(1).alias("n_channels"),
            F.lit(16000).alias("sample_rate"),
            (F.length("text").cast("long") * 10).alias("duration_ms"),
        )
        return docs.select(
            F.col("doc_id").alias("media_id"),
            F.lit(kind).alias("kind"),
            F.encode("text", "utf-8").cast("binary").alias("payload"),
            meta.alias("meta"),
        )

    import numpy as np
    import pandas as pd

    def build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for did, text in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                did = int(did)
                w, h = did % 64 + 32, did % 48 + 24
                tb = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                px = np.resize(tb, w * h)  # cyclic tile to the pixel count
                rows.append(
                    (
                        did,
                        "image",
                        png_encode_gray(px.tobytes(), w, h),
                        {
                            "format": "png",
                            "width": w,
                            "height": h,
                            "n_channels": 1,
                            "sample_rate": 16000,
                            "duration_ms": len(text) * 10,
                        },
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return docs.select("doc_id", "text").mapInPandas(build, MEDIA_SCHEMA)


def _decode_image(payload: bytes, fmt: str) -> tuple[int, int, bytes]:
    """Dispatch to the real decoder for the payload's format. PNG is
    implemented (stdlib codec above); other image formats would need a
    real imaging library and raise explicitly rather than faking it."""
    if payload is None:
        raise ValueError("null media payload")
    if fmt == "png":
        return png_decode_gray(payload)
    raise NotImplementedError(f"no decoder for image format {fmt!r}")


def image_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode → per-image intensity stats + 64-bit aHash-style
    fingerprint. The binary column is consumed inside the UDF and never
    emitted — output rows are fixed-width.

    The batch math is ONE vectorized pass over the batch's concatenated
    pixels (ragged layout: offsets + ``np.add.reduceat``), not a Python
    loop per image: per-image sums/sumsq give mean/std, and the 64
    aHash block sums come from one reduceat over per-image block
    boundaries. Only the decode call itself is per-item — inflate +
    defilter per image, exactly as any real codec. The kernel is
    ``mapInArrow``: payloads are sliced as zero-copy memoryviews off the
    Arrow binary buffer (the mapInPandas predecessor materialized one
    Python ``bytes`` per payload AND one Python ``dict`` per meta struct
    — that conversion, not the codec, was ~95% of the stage: 20k → 77k
    imgs/s on the 100k-image probe). Per-image results are independent
    of batch composition, so the output is deterministic under any
    partitioning (tested)."""
    import numpy as np
    import pyarrow as pa

    def extract(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            pay = rb.column(1)
            if pay.null_count:
                raise ValueError("null media payload")
            meta = rb.column(2)
            off_np = np.int64 if pa.types.is_large_binary(pay.type) else np.int32
            offs = np.frombuffer(pay.buffers()[1], off_np)[
                pay.offset : pay.offset + n + 1
            ].astype(np.int64)
            # Arrow buffers expose SIGNED char ('b') through the buffer
            # protocol — memoryview == bytes would then compare signed vs
            # unsigned elements and silently never match; cast to 'B'
            data_mv = memoryview(pay.buffers()[2]).cast("B")
            fmt_arr = meta.field("format")
            ufmt = fmt_arr.unique().to_pylist()
            fmts = None if len(ufmt) == 1 else fmt_arr.to_pylist()
            w_meta = meta.field("width").to_numpy(zero_copy_only=False)
            h_meta = meta.field("height").to_numpy(zero_copy_only=False)
            j = np.arange(64)
            # Bounded sub-chunks: a monolithic per-batch pixel frame
            # (thousands of images → tens of MB of fresh float64) pays a
            # first-touch page fault per page, every batch; a ~256-image
            # chunk (a few MB) stays inside the allocator's recycled
            # arena after the first iteration AND fits L2/L3. Measured in
            # the worker environment: the same 10M-float workload runs
            # 0.02 s chunked vs 5.0 s monolithic.
            chunk = 256
            for s in range(0, n, chunk):
                e = min(s + chunk, n)
                m = e - s
                # decode is inherently per-item (inflate + defilter per
                # image, as any real codec would be); everything after is
                # chunk-vectorized. Decoded dims are authoritative — a
                # metadata/payload mismatch surfaces as an error here
                # rather than silently mis-shaped stats.
                decoded = [
                    _decode_image(
                        data_mv[offs[i] : offs[i + 1]],
                        ufmt[0] if fmts is None else fmts[i],
                    )
                    for i in range(s, e)
                ]
                ws = np.array([d[0] for d in decoded], dtype=np.int64)
                hs = np.array([d[1] for d in decoded], dtype=np.int64)
                bad = np.flatnonzero((ws != w_meta[s:e]) | (hs != h_meta[s:e]))
                if bad.size:
                    i = s + int(bad[0])
                    raise ValueError(
                        f"metadata dims {(int(w_meta[i]), int(h_meta[i]))} != "
                        f"decoded {(int(ws[int(bad[0])]), int(hs[int(bad[0])]))}"
                    )
                n_px = ws * hs
                px = np.frombuffer(
                    b"".join(d[2] for d in decoded), dtype=np.uint8
                ).astype(np.float64)
                off = np.zeros(m, dtype=np.int64)
                np.cumsum(n_px[:-1], out=off[1:])
                sums = np.add.reduceat(px, off)
                means = sums / n_px
                sumsq = np.add.reduceat(px * px, off)
                stds = np.sqrt(np.maximum(sumsq / n_px - means * means, 0.0))
                # aHash: 64 blocks/image, array_split sizing (first n%64
                # blocks one longer); one reduceat over the chunk's block
                # boundaries
                bounds = (off[:, None] + j * (n_px // 64)[:, None]
                          + np.minimum(j, (n_px % 64)[:, None]))
                sizes = (n_px // 64)[:, None] + (j < (n_px % 64)[:, None])
                block_means = (
                    np.add.reduceat(px, bounds.ravel()).reshape(-1, 64) / sizes
                )
                bits = (block_means > means[:, None]).astype(np.uint64)
                phash = (bits << j.astype(np.uint64)).sum(axis=1, dtype=np.uint64)
                yield pa.record_batch(
                    [
                        rb.column(0).slice(s, m),
                        pa.array(offs[s + 1 : e + 1] - offs[s:e]),
                        pa.array(ws.astype(np.int32)),
                        pa.array(hs.astype(np.int32)),
                        # full precision out — consumers round at
                        # comparison time (np.round is half-even; the
                        # oracle convention is half-away via
                        # functions/scalars.round6)
                        pa.array(means),
                        pa.array(stds),
                        pa.array((phash - np.uint64(2**63)).view(np.int64)),
                    ],
                    names=[
                        "media_id", "n_bytes", "width", "height",
                        "mean_intensity", "std_intensity", "phash",
                    ],
                )

    return media.select("media_id", "payload", "meta").mapInArrow(
        extract, IMAGE_FEATURES_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("mean_amplitude", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak_abs", T.LongType()),
    T.StructField("zero_crossings", T.LongType()),
])


def audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched WAV decode → clip-level audio stats (duration, mean,
    RMS, peak, zero-crossing count). Same scale contract as
    ``image_features``: the binary column is consumed inside the UDF and
    never shuffled; everything after the per-item decode is ONE
    vectorized pass over the batch's concatenated samples (offsets +
    ``reduceat``); per-clip results are independent of batch composition,
    so output is deterministic under any partitioning.

    Zero crossings count strict sign flips between adjacent samples
    (``v[i−1]·v[i] < 0``); clip-boundary products are masked out of the
    one concatenated product vector."""
    import numpy as np
    import pandas as pd

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
      # bounded sub-chunks, same rationale as image_features: a
      # monolithic per-batch sample frame pays a first-touch page fault
      # per fresh page; ~1k-clip chunks stay in the allocator's recycled
      # arena and in cache
      for pdf0 in batches:
        for s0 in range(0, len(pdf0), 1024):
            pdf = pdf0.iloc[s0 : s0 + 1024]
            if pdf.empty:
                continue
            payloads = pdf["payload"].tolist()
            decoded = [wav_decode_pcm16(p) for p in payloads]
            rates = np.array([d[0] for d in decoded], dtype=np.int32)
            chans = np.array([d[1] for d in decoded])
            if (chans != 1).any():
                raise NotImplementedError("clip stats expect mono WAV")
            v = np.frombuffer(
                b"".join(d[2] for d in decoded), dtype="<i2"
            ).astype(np.int64)
            n = np.array([len(d[2]) // 2 for d in decoded], dtype=np.int64)
            off = np.zeros(len(pdf), dtype=np.int64)
            np.cumsum(n[:-1], out=off[1:])
            # a WAV with an EMPTY data chunk is valid (0 samples) but
            # breaks reduceat (zero-length segments repeat the next
            # clip's value; a trailing empty clip indexes past v) and
            # divides by zero — compute over the NONZERO clips' compacted
            # offsets and scatter back. For n == 0 the float stats
            # (mean_amplitude, rms) are null; the integer stats
            # (peak_abs, zero_crossings) stay 0, the same values a real
            # all-silence clip produces — callers needing to distinguish
            # the two must check n_samples
            nz = n > 0
            k = len(pdf)
            sums = np.full(k, np.nan)
            sumsq = np.full(k, np.nan)
            peaks = np.zeros(k, dtype=np.int64)
            zcr = np.zeros(k, dtype=np.int64)
            if nz.any():
                off_nz = off[nz]
                sums[nz] = np.add.reduceat(v.astype(np.float64), off_nz)
                sumsq[nz] = np.add.reduceat((v * v).astype(np.float64), off_nz)
                peaks[nz] = np.maximum.reduceat(np.abs(v), off_nz)
                if len(v) > 1:
                    prod = v[:-1] * v[1:]
                    neg = prod < 0
                    neg[off_nz[1:] - 1] = False  # mask cross-clip products
                    # a final 1-sample clip starts AT len(neg) — no pairs,
                    # zcr stays 0; cross-clip masking means dropping its
                    # offset can't leak counts into the preceding segment
                    in_rng = off_nz < len(neg)
                    nz_rng = nz.copy()
                    nz_rng[nz] = in_rng
                    zcr[nz_rng] = np.add.reduceat(
                        neg.astype(np.int64), off_nz[in_rng]
                    )
            n_safe = np.where(nz, n, 1)
            yield pd.DataFrame({
                "media_id": pdf["media_id"].astype(np.int64),
                "n_bytes": np.array([len(p) for p in payloads], dtype=np.int64),
                "sample_rate": rates,
                "n_samples": n,
                "duration_ms": n * 1000 // rates,
                "mean_amplitude": sums / n_safe,
                "rms": np.sqrt(sumsq / n_safe),
                "peak_abs": peaks,
                "zero_crossings": zcr,
            })

    return media.select("media_id", "payload").mapInPandas(
        extract, AUDIO_FEATURES_SCHEMA
    )


AUDIO_FINGERPRINT_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("afp", T.LongType()),
])


def audio_fingerprint(media: DataFrame, n_frames: int = 64) -> DataFrame:
    """Arrow-batched WAV decode → 63-bit energy-contour fingerprint: the
    clip splits into ``n_frames`` equal frames (array_split sizing, the
    same closed-form block mapping as the image aHash), per-frame energy
    is the INTEGER sum of squared samples (exact — no float drift can
    desync an oracle), and bit *i* is set iff energy rises from frame i
    to i+1. Sign-of-delta contours are the classic audio-matching
    fingerprint shape: level-invariant (gain scales all frames
    together), cheap, and hamming-comparable, which is exactly what
    :func:`textdedup.hamming_near_pairs` consumes — text, image, and
    audio near-dup all share one banded-hamming engine.

    Clips shorter than ``n_frames`` samples emit a null fingerprint
    (callers filter; a contour over sub-sample frames is meaningless).
    Same scale contract as the other kernels: the binary column is
    consumed in-kernel and never shuffled; per-clip results are
    independent of batch composition. Energy stays inside int64 up to
    ~1.6e6-sample frames at full PCM16 amplitude — hour-scale mono
    clips; beyond that, chunk the clip first."""
    import numpy as np
    import pandas as pd

    if not (2 <= n_frames <= 64):
        raise ValueError(f"n_frames must be in [2, 64], got {n_frames}")

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
      # bounded sub-chunks, same rationale as audio_features/image_features
      for pdf0 in batches:
        for s0 in range(0, len(pdf0), 1024):
            pdf = pdf0.iloc[s0 : s0 + 1024]
            if pdf.empty:
                continue
            decoded = [wav_decode_pcm16(p) for p in pdf["payload"].tolist()]
            if any(d[1] != 1 for d in decoded):
                raise NotImplementedError("fingerprint expects mono WAV")
            n = np.array([len(d[2]) // 2 for d in decoded], dtype=np.int64)
            ok = n >= n_frames
            k = len(pdf)
            afp = np.zeros(k, dtype=np.int64)
            if ok.any():
                # concatenate ONLY the kept clips: reduceat segments are
                # delimited by the NEXT bound, so a skipped clip between
                # two kept ones would otherwise leak its samples into the
                # previous clip's final frame
                v = np.frombuffer(
                    b"".join(d[2] for d, o in zip(decoded, ok) if o),
                    dtype="<i2",
                ).astype(np.int64)
                n_ok = n[ok]
                off_ok = np.zeros(int(ok.sum()), dtype=np.int64)
                np.cumsum(n_ok[:-1], out=off_ok[1:])
                j = np.arange(n_frames)
                bounds = (off_ok[:, None] + j * (n_ok // n_frames)[:, None]
                          + np.minimum(j, (n_ok % n_frames)[:, None]))
                # INTEGER frame energies — exact, SQL-replayable
                e = np.add.reduceat(v * v, bounds.ravel()).reshape(-1, n_frames)
                bits = (e[:, 1:] > e[:, :-1]).astype(np.int64)
                afp[ok] = (bits << j[:-1]).sum(axis=1)
            out_fp = pd.Series(afp, dtype="Int64")
            out_fp[~ok] = pd.NA
            yield pd.DataFrame({
                "media_id": pdf["media_id"].astype(np.int64).to_numpy(),
                "afp": out_fp,
            })

    return media.select("media_id", "payload").mapInPandas(
        extract, AUDIO_FINGERPRINT_SCHEMA
    )
