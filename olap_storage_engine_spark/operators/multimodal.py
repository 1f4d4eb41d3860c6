"""Multimodal column support (SURVEY §2 Part C, X5).

Design: image/audio/video payloads are opaque ``binary`` columns with a
typed metadata struct alongside (modality, media type, byte size,
checksum).  Feature extraction (decode / resize / frame-sample) runs as
Arrow-batched ``mapInPandas``.

All six shipped modalities decode for REAL in pure python/numpy (no
PIL/libjpeg/pyav in this container): BMP (signature, DIB header,
bottom-up padded rows), PNG (CRC chunk walk + stdlib inflate + all
five scanline filters), WAV (RIFF chunk walk, PCM16), baseline JPEG
(full SOF0 marker/Huffman/IDCT pipeline, operators/jpegcodec.py),
animated GIF (variable-width LZW, operators/gifcodec.py), and
MJPEG-in-AVI video (RIFF hdrl/movi/idx1 container with index-seek
frame sampling, operators/avicodec.py, r9).  ``decode_features`` is
the format-agnostic byte-profile first pass (length, head/tail bytes,
byte mean) for payloads whose format is unknown or unsupported.
Production swap-in point: a real 100 TB pipeline would replace the
pure-python frame/pixel kernels with native decoders behind the same
mapInPandas signatures.

Scale notes: binary payloads ride the normal columnar path (Parquet
keeps them contiguous per page); mapInPandas streams Arrow record
batches so peak memory is one batch of payloads per core, not one
partition.  Metadata-only queries never touch the payload bytes thanks
to Parquet column pruning.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

from .spread import spread


def attach_binary_payload(
    docs: DataFrame, text_col: str = "text", modality: str = "text"
) -> DataFrame:
    """Build a multimodal table from the documents fixture: the UTF-8
    bytes of the text stand in for an opaque media payload, with the
    typed metadata struct a real pipeline would carry."""
    payload = F.encode(F.col(text_col), "UTF-8")
    cols = [docs[c] for c in docs.columns]
    return docs.select(
        *cols,
        payload.alias("payload"),
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit("application/octet-stream").alias("media_type"),
            F.length(payload).alias("n_bytes"),
            F.sha2(payload, 256).alias("sha256"),
        ).alias("meta"),
    )


def payload_metadata(mm: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Metadata-only projection — reads only the meta struct; Parquet
    column pruning never materializes the payload bytes."""
    return mm.select(
        id_col,
        F.col("meta.modality").alias("modality"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha256").alias("sha256"),
    )


def decode_features(
    mm: DataFrame,
    id_col: str = "doc_id",
    batch_hint: int | None = None,
) -> DataFrame:
    """Arrow-batched byte-profile extraction over binary payloads:
    byte length, first / last byte values, and the byte mean —
    format-agnostic, the cheap first-pass profile for payloads whose
    format is unknown.  For format-aware decode use the codec paths:
    decode_bmp_features, decode_png_features, decode_audio_features,
    decode_jpeg_features, decode_gif_features, decode_video_features
    (all real pure-python/numpy decoders; the former
    ``fake=False`` NotImplementedError gate was retired in r9 when
    the last modality — video — got a real container codec)."""
    schema = f"{id_col} long, n_bytes int, first_byte int, last_byte int, byte_mean double"

    def extract(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = pdf["payload"]
            n = payloads.map(len)
            first = payloads.map(lambda b: b[0] if len(b) else -1)
            last = payloads.map(lambda b: b[-1] if len(b) else -1)
            mean = payloads.map(
                lambda b: float(np.frombuffer(b, dtype=np.uint8).mean())
                if len(b)
                else 0.0
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n.astype("int32"),
                    "first_byte": first.astype("int32"),
                    "last_byte": last.astype("int32"),
                    "byte_mean": mean,
                }
            )

    return mm.select(id_col, "payload").mapInPandas(extract, schema=schema)


def encode_bmp(width: int, height: int, red_row: "list[int]", g: int, b: int) -> bytes:
    """Pure-python 24-bit uncompressed BMP writer: BITMAPFILEHEADER +
    BITMAPINFOHEADER (BI_RGB), bottom-up rows padded to 4 bytes.  The
    red channel varies along x (``red_row[x]``); green/blue are flat —
    enough structure that a decoder faking the parse (e.g. reading
    bytes at fixed offsets without honoring row padding) gets the
    channel means wrong."""
    import numpy as np

    row_size = (3 * width + 3) // 4 * 4
    pixel_bytes = row_size * height
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + pixel_bytes, 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0
    )
    row = np.zeros(row_size, dtype=np.uint8)
    # BMP stores BGR; padding bytes stay zero
    row[2 : 3 * width : 3] = np.asarray(red_row, dtype=np.uint8)
    row[1 : 3 * width : 3] = g
    row[0 : 3 * width : 3] = b
    return header + dib + row.tobytes() * height


def attach_image_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL (decodable) BMP image per document, its content a
    deterministic function of the id: width 8 + id%25, height
    4 + id%13, red ramps 0..width-1 along x, green = (id*7)%256,
    blue = id%256.  Runs as an Arrow-batched mapInPandas so encoding
    is distributed with the rows; determinism makes the decode
    round-trip oracle-checkable in closed form."""
    fields = [f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields]
    schema = ", ".join(
        fields + ["payload binary", "img_w int", "img_h int"]
    )

    def attach(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            ws = (8 + ids % 25).astype("int32")
            hs = (4 + ids % 13).astype("int32")
            payloads = [
                encode_bmp(int(w), int(h), list(range(int(w))), int(i * 7 % 256), int(i % 256))
                for i, w, h in zip(ids, ws, hs)
            ]
            out = pdf.copy()
            out["payload"] = pd.Series(payloads, index=pdf.index, dtype=object)
            out["img_w"] = ws
            out["img_h"] = hs
            yield out

    # per-row encode/decode work: restore parallelism when the fixture
    # arrives as a single scan partition (no-op at real scale)
    return spread(docs).mapInPandas(attach, schema=schema)


def bmp_stats(buf: bytes):
    """Parse one BMP payload — signature, pixel offset, DIB
    width/height/bpp/compression, per-row 4-byte padding, bottom-up
    row order — and return (w, h, mean_r, mean_g, mean_b, n_bytes)
    from the decoded pixel array.  One numpy reshape per image, no
    Python-per-pixel work.  Raises on malformed payloads rather than
    guessing (a corrupt 100 TB ingest should fail loudly, not average
    garbage)."""
    import numpy as np

    if buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (off,) = struct.unpack_from("<I", buf, 10)
    dib_size, w, h = struct.unpack_from("<Iii", buf, 14)
    planes, bpp, comp = struct.unpack_from("<HHI", buf, 26)
    if dib_size < 40 or planes != 1 or bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant: bpp={bpp} comp={comp}")
    top_down = h < 0
    h = abs(h)
    row_size = (3 * w + 3) // 4 * 4
    px = np.frombuffer(buf, dtype=np.uint8, count=row_size * h, offset=off)
    rows = px.reshape(h, row_size)[:, : 3 * w].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    bgr = rows.astype(np.float64)
    return (
        w,
        h,
        float(bgr[:, :, 2].mean()),
        float(bgr[:, :, 1].mean()),
        float(bgr[:, :, 0].mean()),
        len(buf),
    )


_BMP_FEAT_COLS = ["width", "height", "mean_r", "mean_g", "mean_b", "n_bytes"]


def _bmp_feature_frame(decoded, ids, id_col):
    import pandas as pd

    out = pd.DataFrame(decoded, columns=_BMP_FEAT_COLS, index=ids.index)
    out.insert(0, id_col, ids)
    out["width"] = out["width"].astype("int32")
    out["height"] = out["height"].astype("int32")
    out["n_bytes"] = out["n_bytes"].astype("int32")
    return out


def _fused_codec_features(
    docs: DataFrame,
    id_col: str,
    payload_fn,
    row_fn,
    cols: list,
    int32_cols: tuple,
    schema: str,
) -> DataFrame:
    """Generic fused attach+decode over a deterministic payload recipe
    (r14 — the attach_and_decode_bmp_features shape generalized to
    every codec): encode the payload and immediately re-parse it
    within the same Arrow batch.  The full bytes are still produced
    and fully decoded per row — no shortcut past the codec — but the
    payload crosses the JVM↔Python boundary ZERO times instead of two
    and the pipeline pays ONE Python worker fan-out instead of two
    (optimization guide §4: you control how many columns cross;
    payload bytes produced and consumed in Python should never
    round-trip through the JVM).  Per-codec fused≡two-step equality
    is pinned in tests/test_multimodal_codec.py."""

    def fused(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            rows = [row_fn(payload_fn(int(i))) for i in ids]
            out = pd.DataFrame(rows, columns=cols, index=pdf.index)
            out.insert(0, id_col, pdf[id_col])
            for c in int32_cols:
                out[c] = out[c].astype("int32")
            yield out

    return spread(docs.select(id_col)).mapInPandas(fused, schema=schema)


def decode_bmp_features(
    mm: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """REAL image decode over an existing payload column: parse each
    BMP via :func:`bmp_stats` in an Arrow-batched mapInPandas."""
    schema = (
        f"{id_col} long, width int, height int, "
        "mean_r double, mean_g double, mean_b double, n_bytes int"
    )

    def decode(batches: Iterator) -> Iterator:
        for pdf in batches:
            yield _bmp_feature_frame(
                [bmp_stats(b) for b in pdf["payload"]], pdf[id_col], id_col
            )

    return mm.select(id_col, "payload").mapInPandas(decode, schema=schema)


def attach_and_decode_bmp_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Fused attach+decode: encode the deterministic BMP per row and
    immediately parse it back within the same Arrow batch.  Result is
    identical to ``decode_bmp_features(attach_image_payload(docs))``
    (full bytes are still produced and fully re-parsed — no shortcut
    past the codec), but the payload crosses the JVM↔Python boundary
    zero times instead of two and the pipeline pays one Python worker
    fan-out instead of two (VERDICT r8 task 3)."""
    schema = (
        f"{id_col} long, width int, height int, "
        "mean_r double, mean_g double, mean_b double, n_bytes int"
    )

    def attach_decode(batches: Iterator) -> Iterator:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            decoded = [
                bmp_stats(
                    encode_bmp(
                        8 + int(i) % 25,
                        4 + int(i) % 13,
                        list(range(8 + int(i) % 25)),
                        int(i * 7 % 256),
                        int(i % 256),
                    )
                )
                for i in ids
            ]
            yield _bmp_feature_frame(decoded, pdf[id_col], id_col)

    return spread(docs.select(id_col)).mapInPandas(
        attach_decode, schema=schema
    )


def multimodal_join(
    docs: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """Text + embedding side-by-side: the canonical multimodal row
    (document joined to its vector by id).  Broadcast the smaller side
    when one qualifies; at matched scale this is a co-partitioned hash
    join on the shared key."""
    return (
        docs.join(embeddings, docs["doc_id"] == embeddings["vec_id"])
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.col("label").alias("emb_label"),
            F.size("embedding").alias("emb_dim"),
        )
    )


# ---------------------------------------------------------------------------
# PNG — a real, pure-stdlib codec (zlib + struct; no PIL)
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # greyscale, truecolor, truecolor+alpha


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(rgb, filters=(0, 1, 2)) -> bytes:
    """Pure-stdlib PNG writer: 8-bit truecolor (color type 2), no
    interlace; per-scanline filter types cycle through ``filters`` so
    a decoder that ignores filtering (the most common fake) cannot
    round-trip.  ``rgb`` is a (h, w, 3) uint8 array."""
    import zlib

    import numpy as np

    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    h, w, _ = rgb.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = bytearray()
    prev = np.zeros((w, 3), np.uint8)
    for y in range(h):
        row = rgb[y]
        ft = filters[y % len(filters)]
        if ft == 0:  # None
            enc = row
        elif ft == 1:  # Sub: raw - left (uint8 wraparound)
            left = np.vstack([np.zeros((1, 3), np.uint8), row[:-1]])
            enc = row - left
        elif ft == 2:  # Up: raw - above
            enc = row - prev
        else:
            raise ValueError(f"encoder supports filters 0/1/2, got {ft}")
        raw.append(ft)
        raw += enc.tobytes()
        prev = row
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def png_decode(buf: bytes):
    """Full PNG parse to a (h, w, channels) uint8 array: signature,
    chunk walk with CRC verification, IHDR validation (8-bit,
    greyscale/truecolor/truecolor-alpha, no interlace), concatenated
    IDAT inflate, and ALL FIVE scanline filters reconstructed
    (None/Sub/Up/Average/Paeth).  Sub vectorizes as a per-channel
    cumulative sum mod 256; Average/Paeth carry a true left-to-right
    data dependency and run a per-pixel loop — fine at thumbnail
    size, and a 100 TB ingest decodes per-row in C via a real codec
    anyway (this path exists so the plumbing is verifiable without
    one).  Malformed payloads raise — never averaged into garbage."""
    import zlib

    import numpy as np

    if buf[: len(PNG_SIG)] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = len(PNG_SIG), None, []
    while pos < len(buf):
        (ln,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + ln)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in _PNG_CHANNELS or comp or filt or interlace:
        raise ValueError(
            f"unsupported PNG variant: depth={depth} color={color} "
            f"interlace={interlace}"
        )
    ch = _PNG_CHANNELS[color]
    stride = w * ch
    data = zlib.decompress(b"".join(idat))
    if len(data) != (stride + 1) * h:
        raise ValueError("PNG scanline payload length mismatch")
    out = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for y in range(h):
        ft = data[y * (stride + 1)]
        raw = np.frombuffer(
            data, np.uint8, count=stride, offset=y * (stride + 1) + 1
        )
        if ft == 0:
            rec = raw.copy()
        elif ft == 1:  # Sub == per-channel prefix sum mod 256
            rec = (
                raw.reshape(w, ch).astype(np.int64).cumsum(0) % 256
            ).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up
            rec = raw + prev
        elif ft in (3, 4):  # Average / Paeth: left-dependent
            rec = np.zeros(stride, np.uint8)
            up = prev.astype(np.int64)
            rw = raw.astype(np.int64)
            for x in range(stride):
                a = int(rec[x - ch]) if x >= ch else 0
                b = int(up[x])
                if ft == 3:
                    rec[x] = (rw[x] + (a + b) // 2) % 256
                else:
                    c = int(prev[x - ch]) if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    rec[x] = (rw[x] + pr) % 256
        else:
            raise ValueError(f"PNG filter type {ft} out of range")
        out[y] = rec
        prev = rec
    return out.reshape(h, w, ch)


def attach_png_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL (decodable) PNG per document with the SAME
    deterministic content as the BMP fixture (width 8 + id%25, height
    4 + id%13, red ramps along x, flat green (id*7)%256 / blue
    id%256), scanline filters cycling None/Sub/Up — so the decode
    round-trip is closed-form oracle-checkable AND exercises the
    unfilter paths."""
    fields = [
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    ]
    schema = ", ".join(fields + ["payload binary"])

    def attach(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = [_png_payload(int(i)) for i in ids]
            out = pdf.copy()
            out["payload"] = pd.Series(
                payloads, index=pdf.index, dtype=object
            )
            yield out

    # per-row encode/decode work: restore parallelism when the fixture
    # arrives as a single scan partition (no-op at real scale)
    return spread(docs).mapInPandas(attach, schema=schema)


def _png_payload(i: int) -> bytes:
    """The deterministic PNG fixture recipe — ONE definition shared by
    attach_png_payload and the fused attach+decode path (r14)."""
    import numpy as np

    w, h = int(8 + i % 25), int(4 + i % 13)
    img = np.zeros((h, w, 3), np.uint8)
    img[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]
    img[:, :, 1] = int(i * 7 % 256)
    img[:, :, 2] = int(i % 256)
    return encode_png(img)


def _png_feature_row(b: bytes) -> tuple:
    """Decode one PNG payload to the feature tuple — ONE definition
    shared by decode_png_features and the fused path (r14)."""
    px = png_decode(bytes(b)).astype("float64")
    h, w = px.shape[:2]
    return (
        w,
        h,
        float(px[:, :, 0].mean()),
        float(px[:, :, 1].mean()),
        float(px[:, :, 2].mean()),
    )


def decode_png_features(mm: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL PNG decode to per-channel means — the format-parsing twin
    of decode_bmp_features over the PNG codec (CRC walk, inflate,
    unfilter).  Arrow-batched mapInPandas."""
    schema = (
        f"{id_col} long, width int, height int, "
        "mean_r double, mean_g double, mean_b double"
    )

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [_png_feature_row(b) for b in pdf["payload"]]
            out = pd.DataFrame(
                rows,
                columns=["width", "height", "mean_r", "mean_g", "mean_b"],
                index=pdf.index,
            )
            out.insert(0, id_col, pdf[id_col])
            out["width"] = out["width"].astype("int32")
            out["height"] = out["height"].astype("int32")
            yield out

    return mm.select(id_col, "payload").mapInPandas(decode, schema=schema)


def attach_and_decode_png_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Fused PNG encode+decode — the attach_and_decode_bmp_features
    shape for the PNG codec (r14): full bytes still produced and fully
    re-parsed per row, zero payload crossings of the JVM↔Python
    boundary, one Python fan-out instead of two."""
    return _fused_codec_features(
        docs,
        id_col,
        _png_payload,
        _png_feature_row,
        ["width", "height", "mean_r", "mean_g", "mean_b"],
        ("width", "height"),
        f"{id_col} long, width int, height int, "
        "mean_r double, mean_g double, mean_b double",
    )


# ---------------------------------------------------------------------------
# WAV — a real, pure-stdlib audio codec (RIFF/WAVE PCM16; struct only)
# ---------------------------------------------------------------------------


def encode_wav_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """Pure-stdlib RIFF/WAVE writer: canonical 44-byte header + mono
    16-bit little-endian PCM.  ``samples`` is an int16 array."""
    import numpy as np

    pcm = np.ascontiguousarray(samples, dtype="<i2").tobytes()
    byte_rate = sample_rate * 2
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16)
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


def wav_decode(buf: bytes):
    """Full RIFF/WAVE parse: RIFF signature + declared size, chunk walk
    honoring word alignment, fmt validation (PCM, mono, 16-bit), data
    extraction.  Returns (sample_rate, int16 numpy array).  Malformed
    payloads raise — never decoded into garbage."""
    import numpy as np

    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    (riff_size,) = struct.unpack_from("<I", buf, 4)
    if riff_size + 8 != len(buf):
        raise ValueError("RIFF size mismatch")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(buf):
        tag = buf[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", buf, pos + 4)
        if pos + 8 + ln > len(buf):
            # a declared chunk length past the buffer would otherwise
            # silently truncate the slice into a short PCM array
            raise ValueError(
                f"WAVE chunk {tag!r} declares {ln} bytes but only "
                f"{len(buf) - pos - 8} remain"
            )
        body = buf[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif tag == b"data":
            data = body
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt /data chunk")
    audio_fmt, channels, rate, _, block, bits = fmt
    if audio_fmt != 1 or channels != 1 or bits != 16 or block != 2:
        raise ValueError(
            f"unsupported WAVE variant: fmt={audio_fmt} ch={channels} "
            f"bits={bits}"
        )
    if len(data) % 2:
        raise ValueError("PCM16 data length must be even")
    return rate, np.frombuffer(data, dtype="<i2")


def attach_audio_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL (decodable) WAV per document: a deterministic
    integer sawtooth — sample[i] = (id*13 + 7*i) mod 65536 − 32768,
    n_samples = 64 + id%129, rate 8000 — so decoded amplitude stats
    are closed-form oracle-checkable from the id alone."""
    fields = [
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    ]
    schema = ", ".join(fields + ["payload binary"])

    def attach(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = [_wav_payload(int(i)) for i in ids]
            out = pdf.copy()
            out["payload"] = pd.Series(
                payloads, index=pdf.index, dtype=object
            )
            yield out

    # per-row encode/decode work: restore parallelism when the fixture
    # arrives as a single scan partition (no-op at real scale)
    return spread(docs).mapInPandas(attach, schema=schema)


def _wav_payload(i: int) -> bytes:
    """The deterministic WAV fixture recipe — ONE definition shared by
    attach_audio_payload and the fused attach+decode path (r14)."""
    import numpy as np

    n = int(64 + i % 129)
    idx = np.arange(n, dtype=np.int64)
    wave = (int(i) * 13 + 7 * idx) % 65536 - 32768
    return encode_wav_pcm16(wave.astype("<i2"), 8000)


def _wav_feature_row(b: bytes) -> tuple:
    """Decode one WAV payload to the feature tuple — ONE definition
    shared by decode_audio_features and the fused path (r14)."""
    import math

    import numpy as np

    rate, pcm = wav_decode(bytes(b))
    s = pcm.astype(np.int64)
    n = len(s)
    return (
        rate,
        n,
        float(s.sum()) / n if n else 0.0,
        math.sqrt(float((s * s).sum()) / n) if n else 0.0,
    )


def attach_and_decode_audio_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Fused WAV encode+decode — zero payload boundary crossings, one
    Python fan-out (r14, see _fused_codec_features)."""
    return _fused_codec_features(
        docs,
        id_col,
        _wav_payload,
        _wav_feature_row,
        ["sample_rate", "n_samples", "mean_amp", "rms"],
        ("sample_rate", "n_samples"),
        f"{id_col} long, sample_rate int, n_samples int, "
        "mean_amp double, rms double",
    )


def decode_audio_features(mm: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL audio decode: parse each RIFF/WAVE payload and reduce the
    PCM stream to (rate, n_samples, mean amplitude, RMS) — the audio
    twin of the image decode paths.  Arrow-batched mapInPandas; sums
    run in int64 so the stats are exact before the final division."""
    schema = (
        f"{id_col} long, sample_rate int, n_samples int, "
        "mean_amp double, rms double"
    )

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [_wav_feature_row(b) for b in pdf["payload"]]
            out = pd.DataFrame(
                rows,
                columns=["sample_rate", "n_samples", "mean_amp", "rms"],
                index=pdf.index,
            )
            out.insert(0, id_col, pdf[id_col])
            out["sample_rate"] = out["sample_rate"].astype("int32")
            out["n_samples"] = out["n_samples"].astype("int32")
            yield out

    return mm.select(id_col, "payload").mapInPandas(decode, schema=schema)


def resample_audio_features(
    mm: DataFrame, factor: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Sample-rate normalization — the audio twin of image resize: every
    corpus mixes source rates, and training pipelines decimate to one
    target rate before feature extraction.  Decode each WAV, keep every
    ``factor``-th sample (integer decimation; a production pipeline
    would low-pass first — this is the deterministic, oracle-checkable
    core of that op, exactly like nearest-neighbor is for resize), then
    RE-ENCODE at rate/factor to prove the write side and emit the
    resampled stream's exact stats.

    One Arrow pass does decode -> decimate -> encode -> stats; nothing
    crosses the Python boundary twice (the r9 fused-pipeline pattern).
    Only (id, payload) enters the pass — shipping the documents' text
    column through Arrow cost ~0.4 s at sf0.1 (r10 regression triage).
    """
    if factor < 1:
        raise ValueError(f"decimation factor must be >= 1, got {factor}")
    mm = mm.select(id_col, "payload")
    schema = (
        f"{id_col} long, sample_rate int, n_samples int, "
        "mean_amp double, rms double, n_bytes_out int"
    )

    def run(batches: Iterator) -> Iterator:
        import math

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for b in pdf["payload"]:
                rate, pcm = wav_decode(bytes(b))
                kept = pcm[::factor]
                out_rate = rate // factor
                buf = encode_wav_pcm16(kept.astype("<i2"), out_rate)
                s = kept.astype(np.int64)
                n = len(s)
                rows.append(
                    (
                        out_rate,
                        n,
                        float(s.sum()) / n if n else 0.0,
                        math.sqrt(float((s * s).sum()) / n) if n else 0.0,
                        len(buf),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "sample_rate",
                    "n_samples",
                    "mean_amp",
                    "rms",
                    "n_bytes_out",
                ],
                index=pdf.index,
            )
            out.insert(0, id_col, pdf[id_col])
            for c in ("sample_rate", "n_samples", "n_bytes_out"):
                out[c] = out[c].astype("int32")
            yield out

    return mm.select(id_col, "payload").mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# JPEG — baseline SOF0 codec (operators/jpegcodec.py; pure numpy)
# ---------------------------------------------------------------------------


def attach_jpeg_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL (decodable, spec-conformant baseline) JPEG per
    document.  Content is a FLAT integer-YCbCr image — the codec's
    exact regime (see jpegcodec module docstring): with unit quant
    tables a flat block round-trips bit-for-bit, so decoded RGB is the
    exact closed-form conversion of (y, cb, cr) = (id*5, id*11,
    id*17) mod 256 at size (8·(1+id%4)) × (8·(1+id%3))."""
    from . import jpegcodec as J

    fields = [
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    ]
    schema = ", ".join(fields + ["payload binary"])

    def attach(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = [_jpeg_payload(int(i)) for i in ids]
            out = pdf.copy()
            out["payload"] = pd.Series(
                payloads, index=pdf.index, dtype=object
            )
            yield out

    # per-row encode/decode work: restore parallelism when the fixture
    # arrives as a single scan partition (no-op at real scale)
    return spread(docs).mapInPandas(attach, schema=schema)


def _jpeg_payload(i: int) -> bytes:
    """The deterministic JPEG fixture recipe — ONE definition shared by
    attach_jpeg_payload and the fused attach+decode path (r14)."""
    import numpy as np

    from . import jpegcodec as J

    w, h = int(8 * (1 + i % 4)), int(8 * (1 + i % 3))
    img = np.zeros((h, w, 3), np.uint8)
    img[:, :, 0] = int(i * 5 % 256)
    img[:, :, 1] = int(i * 11 % 256)
    img[:, :, 2] = int(i * 17 % 256)
    return J.encode_jpeg(img)


def _jpeg_feature_row(b: bytes) -> tuple:
    """Decode one JPEG payload to the feature tuple — ONE definition
    shared by decode_jpeg_features and the fused path (r14)."""
    from . import jpegcodec as J

    px = J.decode_jpeg(bytes(b)).astype("float64")
    h, w = px.shape[:2]
    return (
        w,
        h,
        float(px[:, :, 0].mean()),
        float(px[:, :, 1].mean()),
        float(px[:, :, 2].mean()),
    )


def attach_and_decode_jpeg_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Fused JPEG encode+decode — zero payload boundary crossings, one
    Python fan-out (r14, see _fused_codec_features)."""
    return _fused_codec_features(
        docs,
        id_col,
        _jpeg_payload,
        _jpeg_feature_row,
        ["width", "height", "mean_r", "mean_g", "mean_b"],
        ("width", "height"),
        f"{id_col} long, width int, height int, "
        "mean_r double, mean_g double, mean_b double",
    )


def decode_jpeg_features(mm: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL baseline-JPEG decode to per-channel RGB means: the full
    marker walk, Huffman + bitstream decode, dequantize, IDCT, and
    integer color conversion run for every payload
    (operators/jpegcodec.decode_jpeg).  Arrow-batched mapInPandas."""
    from . import jpegcodec as J

    schema = (
        f"{id_col} long, width int, height int, "
        "mean_r double, mean_g double, mean_b double"
    )

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [_jpeg_feature_row(b) for b in pdf["payload"]]
            out = pd.DataFrame(
                rows,
                columns=["width", "height", "mean_r", "mean_g", "mean_b"],
                index=pdf.index,
            )
            out.insert(0, id_col, pdf[id_col])
            out["width"] = out["width"].astype("int32")
            out["height"] = out["height"].astype("int32")
            yield out

    return mm.select(id_col, "payload").mapInPandas(decode, schema=schema)


def resize_nearest(px, out_h: int, out_w: int):
    """Nearest-neighbor resize of an (h, w, c) array with the integer
    source mapping ``src = floor(dst * in / out)`` — exact integer
    arithmetic, so resized stats are closed-form oracle-checkable."""
    import numpy as np

    h, w = px.shape[:2]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return px[ys][:, xs]


def resize_bilinear(px, out_h: int, out_w: int):
    """Bilinear resize (align_corners=False pixel-center convention,
    edges clamped) in float64 — the real interpolation path; validated
    against a direct per-pixel reference in tests, not the SQL oracle
    (float weights aren't closed-form-stable across engines)."""
    import numpy as np

    h, w = px.shape[:2]
    fy = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    fx = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(fy).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(fx).astype(np.int64), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = np.clip(fy - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(fx - x0, 0.0, 1.0)[None, :, None]
    p = px.astype(np.float64)
    top = p[y0][:, x0] * (1 - wx) + p[y0][:, x1] * wx
    bot = p[y1][:, x0] * (1 - wx) + p[y1][:, x1] * wx
    return top * (1 - wy) + bot * wy


def resize_image_features(
    mm: DataFrame,
    out_w: int,
    out_h: int,
    method: str = "nearest",
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL decode → resize → stats over PNG payloads: the
    normalize-thumbnail step of a multimodal training pipeline,
    Arrow-batched (one decode + one vectorized resample per image, no
    per-pixel Python).  ``method``: "nearest" (exact integer source
    mapping — oracle-checkable) or "bilinear" (float interpolation).
    """
    if method not in ("nearest", "bilinear"):
        raise ValueError(f"unknown resize method {method!r}")
    schema = (
        f"{id_col} long, width int, height int, "
        "mean_r double, mean_g double, mean_b double"
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for b in pdf["payload"]:
                px = png_decode(bytes(b))
                rs = (
                    resize_nearest(px, out_h, out_w)
                    if method == "nearest"
                    else resize_bilinear(px, out_h, out_w)
                ).astype("float64")
                rows.append(
                    (
                        out_w,
                        out_h,
                        float(rs[:, :, 0].mean()),
                        float(rs[:, :, 1].mean()),
                        float(rs[:, :, 2].mean()),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=["width", "height", "mean_r", "mean_g", "mean_b"],
                index=pdf.index,
            )
            out.insert(0, id_col, pdf[id_col])
            out["width"] = out["width"].astype("int32")
            out["height"] = out["height"].astype("int32")
            yield out

    return mm.select(id_col, "payload").mapInPandas(run, schema=schema)


def attach_video_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a multi-frame 'video' per document: an ``array<binary>``
    of REAL PNG frames (2 + id%4 of them) + frame count — the
    Spark-native way to carry short clips through a pipeline.  Frame f
    of doc i is flat with green (i*7 + f*31) % 256 (red ramp, blue
    i % 256), so per-frame stats are closed-form."""
    fields = [
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    ]
    schema = ", ".join(fields + ["frames array<binary>", "n_frames int"])

    def attach(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            frames_col, counts = [], []
            for i in ids:
                n = int(2 + i % 4)
                w, h = int(8 + i % 25), int(4 + i % 13)
                frames = []
                for f in range(n):
                    img = np.zeros((h, w, 3), np.uint8)
                    img[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]
                    img[:, :, 1] = int((i * 7 + f * 31) % 256)
                    img[:, :, 2] = int(i % 256)
                    frames.append(encode_png(img))
                frames_col.append(frames)
                counts.append(n)
            out = pdf.copy()
            out["frames"] = pd.Series(
                frames_col, index=pdf.index, dtype=object
            )
            out["n_frames"] = pd.Series(
                counts, index=pdf.index, dtype="int32"
            )
            yield out

    # per-row encode/decode work: restore parallelism when the fixture
    # arrives as a single scan partition (no-op at real scale)
    return spread(docs).mapInPandas(attach, schema=schema)


def frame_sample_features(
    mm: DataFrame, every_k: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Frame sampling + decode, in the only order that survives video
    at scale: SELECT the kept frames FIRST with a row-local JVM array
    filter (``filter(frames, (_, i) -> i % k = 0)``) so dropped frames
    are never shipped to Python, THEN decode only the survivors in one
    Arrow pass.  Returns (id, n_frames, n_sampled, mean_g) where
    mean_g averages the sampled frames' green-channel means."""
    sampled = mm.select(
        id_col,
        "n_frames",
        F.filter(
            F.col("frames"), lambda _, i: i % every_k == 0
        ).alias("__kept"),
    )
    schema = f"{id_col} long, n_frames int, n_sampled int, mean_g double"

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for nf, kept in zip(pdf["n_frames"], pdf["__kept"]):
                means = []
                for fr in kept:
                    px = png_decode(bytes(fr)).astype("float64")
                    means.append(float(px[:, :, 1].mean()))
                rows.append(
                    (
                        int(nf),
                        len(means),
                        sum(means) / len(means) if means else 0.0,
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=["n_frames", "n_sampled", "mean_g"],
                index=pdf.index,
            )
            out.insert(0, id_col, pdf[id_col])
            out["n_frames"] = out["n_frames"].astype("int32")
            out["n_sampled"] = out["n_sampled"].astype("int32")
            yield out

    return sampled.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# Video — real MJPEG-in-AVI container (operators/avicodec.py, r9)
# ---------------------------------------------------------------------------


def attach_avi_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL video file per document: an AVI 1.0 container
    (RIFF hdrl/movi/idx1) whose single MJPEG stream holds 2 + id%4
    complete baseline-JPEG frames.  Frame content stays in the JPEG
    codec's EXACT regime (flat integer-YCbCr, unit quant — see
    attach_jpeg_payload): frame f of doc i is
    (y, cb, cr) = ((i*5 + f*29) % 256, i*11 % 256, i*17 % 256) at size
    8·(1+i%4) × 8·(1+i%3), so each decoded frame's RGB is closed-form
    from (i, f) and the whole container round-trip is
    oracle-checkable."""
    from . import avicodec as A, jpegcodec as J

    fields = [
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    ]
    schema = ", ".join(fields + ["payload binary", "n_frames int"])

    def attach(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads, counts = [], []
            for i in ids:
                payloads.append(_avi_payload(int(i)))
                counts.append(int(2 + int(i) % 4))
            out = pdf.copy()
            out["payload"] = pd.Series(
                payloads, index=pdf.index, dtype=object
            )
            out["n_frames"] = pd.Series(
                counts, index=pdf.index, dtype="int32"
            )
            yield out

    # per-row encode/decode work: restore parallelism when the fixture
    # arrives as a single scan partition (no-op at real scale)
    return spread(docs).mapInPandas(attach, schema=schema)


def _avi_payload(i: int) -> bytes:
    """The deterministic AVI/MJPEG fixture recipe — ONE definition
    shared by attach_avi_payload and the fused attach+decode path
    (r14)."""
    import numpy as np

    from . import avicodec as A, jpegcodec as J

    n = int(2 + i % 4)
    w, h = int(8 * (1 + i % 4)), int(8 * (1 + i % 3))
    frames = []
    for f in range(n):
        img = np.zeros((h, w, 3), np.uint8)
        img[:, :, 0] = int((i * 5 + f * 29) % 256)
        img[:, :, 1] = int(i * 11 % 256)
        img[:, :, 2] = int(i * 17 % 256)
        frames.append(J.encode_jpeg(img))
    return A.encode_avi_mjpeg(frames, w, h)


def _video_feature_row(b: bytes, every_k: int) -> tuple:
    """Decode one AVI payload (idx1-seek frame sampling at every_k)
    to the feature tuple — ONE definition shared by
    decode_video_features and the fused path (r14)."""
    from . import avicodec as A

    meta, frames = A.decode_frames(bytes(b), every_k=every_k)
    px = [f.astype("float64") for f in frames]
    k = len(px)
    return (
        int(meta["n_frames"]),
        k,
        int(meta["width"]),
        int(meta["height"]),
        sum(float(p[:, :, 0].mean()) for p in px) / k,
        sum(float(p[:, :, 1].mean()) for p in px) / k,
        sum(float(p[:, :, 2].mean()) for p in px) / k,
    )


def attach_and_decode_video_features(
    docs: DataFrame, every_k: int = 1, id_col: str = "doc_id"
) -> DataFrame:
    """Fused AVI/MJPEG encode+decode (with the idx1 every_k sampling
    path) — zero payload boundary crossings, one Python fan-out (r14,
    see _fused_codec_features)."""
    return _fused_codec_features(
        docs,
        id_col,
        _avi_payload,
        lambda b: _video_feature_row(b, every_k),
        [
            "n_frames",
            "n_sampled",
            "width",
            "height",
            "mean_r",
            "mean_g",
            "mean_b",
        ],
        ("n_frames", "n_sampled", "width", "height"),
        f"{id_col} long, n_frames int, n_sampled int, width int, "
        "height int, mean_r double, mean_g double, mean_b double",
    )


def decode_video_features(
    mm: DataFrame, every_k: int = 1, id_col: str = "doc_id"
) -> DataFrame:
    """REAL video decode over AVI/MJPEG payloads: the full container
    walk (RIFF grammar, hdrl validation, idx1 cross-check against the
    movi stream) plus a complete baseline-JPEG decode of each KEPT
    frame, reduced to per-channel means over the kept frames.

    ``every_k > 1`` is the frame-sampling path that matters at scale:
    the reader seeks through the idx1 index and slices only the
    sampled frames' byte ranges — dropped frames are never
    entropy-decoded (operators/avicodec.decode_frames).  Output
    columns: (id, n_frames, n_sampled, width, height,
    mean_r/g/b)."""
    from . import avicodec as A

    schema = (
        f"{id_col} long, n_frames int, n_sampled int, width int, "
        "height int, mean_r double, mean_g double, mean_b double"
    )

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [
                _video_feature_row(b, every_k) for b in pdf["payload"]
            ]
            out = pd.DataFrame(
                rows,
                columns=[
                    "n_frames",
                    "n_sampled",
                    "width",
                    "height",
                    "mean_r",
                    "mean_g",
                    "mean_b",
                ],
                index=pdf.index,
            )
            out.insert(0, id_col, pdf[id_col])
            for c in ("n_frames", "n_sampled", "width", "height"):
                out[c] = out[c].astype("int32")
            yield out

    return mm.select(id_col, "payload").mapInPandas(decode, schema=schema)


# ---------------------------------------------------------------------------
# GIF — real animated-image format (operators/gifcodec.py; pure python LZW)
# ---------------------------------------------------------------------------


def attach_gif_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL animated GIF per document (2 + id%4 flat frames,
    frame f filled with palette index (id*3 + f*7) % 256, size
    (8 + id%25) x (4 + id%13), the deterministic fixture palette) —
    GIF is lossless over indices, so decoded per-channel stats are
    closed-form from the id alone."""
    from . import gifcodec as G

    fields = [
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    ]
    schema = ", ".join(fields + ["payload binary"])

    def attach(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = [_gif_payload(int(i)) for i in ids]
            out = pdf.copy()
            out["payload"] = pd.Series(
                payloads, index=pdf.index, dtype=object
            )
            yield out

    return spread(docs).mapInPandas(attach, schema=schema)


def _gif_payload(i: int) -> bytes:
    """The deterministic GIF fixture recipe — ONE definition shared by
    attach_gif_payload and the fused attach+decode path (r14)."""
    import numpy as np

    from . import gifcodec as G

    w, h = int(8 + i % 25), int(4 + i % 13)
    frames = [
        np.full((h, w), int((i * 3 + f * 7) % 256), np.uint8)
        for f in range(int(2 + i % 4))
    ]
    return G.encode_gif(frames)


def _gif_feature_row(b: bytes) -> tuple:
    """Decode one GIF payload to the feature tuple — ONE definition
    shared by decode_gif_features and the fused path (r14)."""
    import numpy as np

    from . import gifcodec as G

    frames, pal = G.decode_gif(bytes(b))
    rgb = np.stack([pal[f].astype(np.float64) for f in frames])
    return (
        len(frames),
        frames[0].shape[1],
        frames[0].shape[0],
        float(rgb[..., 0].mean()),
        float(rgb[..., 1].mean()),
        float(rgb[..., 2].mean()),
    )


def attach_and_decode_gif_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Fused GIF encode+decode — zero payload boundary crossings, one
    Python fan-out (r14, see _fused_codec_features)."""
    return _fused_codec_features(
        docs,
        id_col,
        _gif_payload,
        _gif_feature_row,
        ["n_frames", "width", "height", "mean_r", "mean_g", "mean_b"],
        ("n_frames", "width", "height"),
        f"{id_col} long, n_frames int, width int, height int, "
        "mean_r double, mean_g double, mean_b double",
    )


def decode_gif_features(mm: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL animated-GIF decode: full LZW + block-structure parse per
    payload, frames mapped through the palette, per-channel means over
    ALL frames.  Arrow-batched mapInPandas."""
    from . import gifcodec as G

    schema = (
        f"{id_col} long, n_frames int, width int, height int, "
        "mean_r double, mean_g double, mean_b double"
    )

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [_gif_feature_row(b) for b in pdf["payload"]]
            out = pd.DataFrame(
                rows,
                columns=[
                    "n_frames", "width", "height",
                    "mean_r", "mean_g", "mean_b",
                ],
                index=pdf.index,
            )
            out.insert(0, id_col, pdf[id_col])
            for c in ("n_frames", "width", "height"):
                out[c] = out[c].astype("int32")
            yield out

    return mm.select(id_col, "payload").mapInPandas(decode, schema=schema)
