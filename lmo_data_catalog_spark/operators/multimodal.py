"""Multimodal-column plumbing: opaque binary payloads + typed
metadata, processed by Arrow-batched pandas functions via
``mapInPandas``.

Header-level image decode is REAL: :func:`parse_image_dims` reads
PNG IHDR / GIF logical-screen / JPEG SOF dimensions from raw bytes
with the stdlib only, and every kernel consults it first. PNG PIXEL
decode is also real (:func:`decode_png_pixels`: zlib inflate + all
five scanline filters, 8-bit gray/RGB/gray-alpha/RGBA plus
1/2/4/8-bit palette with tRNS alpha, fuzz-tested against a
forward-filtering encoder in tests/test_png_decode.py),
surfaced as :func:`png_pixel_stats`. WAV/PCM AUDIO decode is real
too (:func:`decode_wav_pcm`: manual RIFF chunk walk, integer PCM
8/16/24/32-bit + IEEE float 32/64, WAVE_FORMAT_EXTENSIBLE resolve;
compressed formats raise), surfaced as :func:`wav_audio_stats`
(per-channel RMS/peak — tests/test_wav_decode.py pins sine-wave
RMS = A/√2 analytically). JPEG PIXEL decode is real as well
(operators/jpeg.py::decode_jpeg_pixels: baseline SOF0 AND
progressive SOF2 Huffman — spectral selection + successive
approximation per T.81 §G.2 — dequant + IDCT + chroma upsampling +
YCbCr→RGB, restart intervals, round-tripped against independent
encoders in tests/test_jpeg_decode.py / test_jpeg_progressive.py),
surfaced as :func:`jpeg_pixel_stats`.
Payloads that are not a recognized container (e.g. the text-derived
fixture payloads) fall back to a deterministic fake keyed on byte
length in the meta kernels, and pixel decode of the REMAINING shapes
(arithmetic-coded JPEG, 12-bit/hierarchical JPEG, 16-bit PNG — Adam7
interlace decodes as of r11) stays gated on a codec library that is
not in this container — strict kernels raise rather than fake.
What is also real and tested: the binary column representation, the
mapInPandas signature, Arrow batch shapes, output schema, and
partition behavior — the parts that matter for Spark at scale.

Scale notes: mapInPandas streams Arrow record batches through one
Python worker per core; payload bytes never hit the driver. Batch
size is governed by spark.sql.execution.arrow.maxRecordsPerBatch —
lower it for large payloads so a batch fits executor memory.
"""

from __future__ import annotations

import struct as _struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = "doc_id long, n_bytes int, width int, height int"

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def parse_image_dims(payload: bytes) -> tuple[str, int, int] | None:
    """Stdlib-only image header parse → ``(format, width, height)``,
    or None if the payload is not a recognized image container.

    - PNG: IHDR is mandated to be the first chunk, so width/height are
      the two big-endian u32s at bytes 16..24 (PNG spec §11.2.2).
    - GIF: logical screen width/height, little-endian u16 at bytes
      6..10 (GIF89a spec §18).
    - JPEG: walk the marker segments to the first frame header (SOF0-
      SOF15 except the DHT/JPG/DAC pseudo-SOFs C4/C8/CC); height then
      width are big-endian u16s at offsets 5/7 into the segment.
    """
    import struct

    if (
        payload[:8] == PNG_SIGNATURE
        and len(payload) >= 24
        and payload[12:16] == b"IHDR"
    ):
        w, h = struct.unpack(">II", payload[16:24])
        return ("png", w, h)
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w, h = struct.unpack("<HH", payload[6:10])
        return ("gif", w, h)
    if payload[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(payload):
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD9:
                i += 2
                continue
            (seg_len,) = struct.unpack(">H", payload[i + 2 : i + 4])
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return ("jpeg", w, h)
            i += 2 + seg_len
    return None


def with_payload(df: DataFrame, *, text_col: str, payload_col: str = "payload") -> DataFrame:
    """Attach a synthetic binary payload column (UTF-8 bytes of the
    text) — the stand-in for real image/audio bytes in fixtures."""
    return df.withColumn(payload_col, F.encode(F.col(text_col), "UTF-8"))


def decode_image_meta(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Decode image metadata from binary payloads via mapInPandas.

    Recognized containers (PNG/GIF/JPEG) get their TRUE dimensions via
    :func:`parse_image_dims`; anything else falls back to the
    deterministic byte-length fake so non-image fixture payloads keep
    a stable, oracle-checkable geometry.
    """
    import pandas as pd

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            n = pdf[payload_col].apply(len)
            parsed = [parse_image_dims(bytes(b)) for b in pdf[payload_col]]
            fake_w, fake_h = 64 + n % 576, 64 + (n * 7) % 416
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": n,
                    "width": [
                        p[1] if p else fw for p, fw in zip(parsed, fake_w)
                    ],
                    "height": [
                        p[2] if p else fh for p, fh in zip(parsed, fake_h)
                    ],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        decode, schema=IMAGE_META_SCHEMA
    )


FRAME_SCHEMA = "doc_id long, frame_idx int, ts_ms long, frame binary"


def sample_frames(
    df: DataFrame,
    *,
    n_frames: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame-sampling plumbing: one input 'video' row → ``n_frames``
    output rows (uniformly spaced), each carrying a frame payload
    slice — the 1→N batch shape of real video decode.

    Fake duration/frames are derived from payload length; a real
    decoder replaces the slicing with codec output, nothing else
    changes. At scale this explodes row counts — size
    ``arrow.maxRecordsPerBatch`` for the OUTPUT rows, not the input.
    """
    import pandas as pd

    def sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "ts_ms": [],
                "frame": [],
            }
            for _, row in pdf.iterrows():
                payload = row[payload_col]
                dur_ms = 1000 + (len(payload) * 13) % 9000  # fake duration
                step = max(1, len(payload) // n_frames)
                for i in range(n_frames):
                    out["doc_id"].append(row[id_col])
                    out["frame_idx"].append(i)
                    out["ts_ms"].append(i * dur_ms // n_frames)
                    out["frame"].append(payload[i * step : (i + 1) * step])
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(
        sample, schema=FRAME_SCHEMA
    )


#: Adam7 pass origins and strides (PNG spec §8.2): (x0, y0, dx, dy)
ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw, offset: int, h: int, stride: int, bpp: int):
    """Reconstruct ``h`` scanlines of ``stride`` bytes starting at
    ``raw[offset]`` (each prefixed by its filter byte), applying the
    five PNG filters (spec §9). The shared core of the sequential and
    Adam7 paths — each Adam7 pass is filtered as an independent
    sub-image, so ``prior`` starts at zero per call."""
    import numpy as np

    out = np.empty((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        pos = offset + y * (stride + 1)
        f = raw[pos]
        row = np.frombuffer(raw, np.uint8, stride, pos + 1)
        if f == 0:  # None
            rec = row.copy()
        elif f == 1:  # Sub: mod-256 prefix sum per filter-unit lane
            rec = (
                row.reshape(stride // bpp, bpp)
                .astype(np.uint32)
                .cumsum(axis=0)
                .astype(np.uint8)
                .reshape(stride)
            )
        elif f == 2:  # Up (uint8 addition wraps mod 256)
            rec = row + prior
        elif f == 3:  # Average — sequential in x
            rec = np.empty(stride, np.uint8)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(row[x]) + ((a + int(prior[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth — sequential in x
            rec = np.empty(stride, np.uint8)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prior[x])
                c = int(prior[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise NotImplementedError(f"unknown PNG filter type {f}")
        out[y] = rec
        prior = rec
    return out


def _png_samples(out, h: int, w: int, channels: int, depth: int):
    """Byte canvas → sample array: (h, w, channels) uint8 at depth 8,
    or uint16 at depth 16 (big-endian sample pairs, spec §7.1)."""
    import numpy as np

    if depth == 8:
        return out.reshape(h, w, channels)
    b = out.reshape(h, w, channels, 2).astype(np.uint16)
    return (b[..., 0] << 8) | b[..., 1]


def _png_adam7(raw, w, h, bpp, depth, units, paletted):
    """Adam7 deinterlace (spec §8.2): seven independently-filtered
    sub-images scattered onto the full canvas at the pass offsets.
    Returns pixel-unit rows — an (h, w) palette-index plane when
    ``paletted`` (indices unpacked MSB-first per pass, since packing
    is per REDUCED image scanline) or an (h, w*units) byte canvas
    otherwise. Empty passes (zero width or height) contribute no
    bytes, not even filter bytes (spec §8.2 note)."""
    import numpy as np

    passes = []
    expected = 0
    for x0, y0, dx, dy in ADAM7_PASSES:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = (pw * depth + 7) // 8 if paletted else pw * units
        passes.append((x0, y0, dx, dy, pw, ph, stride, expected))
        expected += ph * (stride + 1)
    if expected != len(raw):
        raise NotImplementedError(
            f"Adam7 IDAT stream length {len(raw)} != expected {expected}"
        )
    canvas = np.zeros((h, w * (1 if paletted else units)), dtype=np.uint8)
    for x0, y0, dx, dy, pw, ph, stride, offset in passes:
        sub = _png_unfilter(raw, offset, ph, stride, bpp)
        if paletted:
            if depth == 8:
                idx = sub
            else:
                bits = np.unpackbits(sub, axis=1)
                idx = bits.reshape(ph, -1, depth) @ (
                    1 << np.arange(depth - 1, -1, -1)
                )
            canvas[y0::dy, x0::dx] = idx[:, :pw].astype(np.uint8)
        else:
            px = sub.reshape(ph, pw, units)
            view = canvas.reshape(h, w, units)
            view[y0::dy, x0::dx] = px
    return canvas


def decode_png_pixels(payload: bytes):
    """Full PNG pixel decode with the stdlib + numpy only: zlib
    inflate of the concatenated IDAT stream, then per-scanline
    reconstruction of all five PNG filters (None/Sub/Up/Average/
    Paeth, spec §9). Returns an ``(h, w, channels)`` uint8 array.

    Supported: 8-bit depth, color types 0 (gray), 2 (RGB), 4
    (gray+alpha), 6 (RGBA), plus palette (type 3) at bit depths
    1/2/4/8 with optional tRNS alpha — palette rows reconstruct with
    filter distance 1 byte (spec §9: filtering works on bytes, and a
    packed-index pixel is under one byte), indices unpack MSB-first
    (§7.2) and map through PLTE (→ RGB) or PLTE+tRNS (→ RGBA, alpha
    defaulting to 255 past the tRNS table, §11.3.2), Adam7 INTERLACE
    (method 1, spec §8.2: seven independently-filtered sub-images
    deinterlaced onto the canvas — r11, closing that boundary; empty
    passes contribute no bytes), and 16-BIT depth for the non-palette
    color types (r11: filter unit = channels*2 bytes per §9, samples
    recombine big-endian per §7.1 → uint16 array). Malformed streams
    raise ``NotImplementedError`` (strict contract, like
    :func:`decode_image_real`): the point is an honest boundary, not
    a silent wrong decode — an out-of-range palette index also raises
    rather than clamping. Sub reconstruction is a mod-256 prefix sum
    per filter-unit lane (vectorized); Average/Paeth are inherently
    sequential per byte and run as Python loops — acceptable in an
    Arrow-batched worker for the thumbnail-scale images of a metadata
    pipeline, and swappable for a codec library at full scale without
    touching the Spark plumbing.
    """
    import struct
    import zlib

    import numpy as np

    if payload[:8] != PNG_SIGNATURE:
        raise NotImplementedError("payload is not a PNG")
    i = 8
    idat = bytearray()
    ihdr = None
    plte = None
    trns = None
    while i + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[i : i + 4])
        typ = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + ln]
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"tRNS":
            trns = data
        elif typ == b"IEND":
            break
        i += 12 + ln
    if ihdr is None:
        raise NotImplementedError("PNG without IHDR")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
    paletted = ctype == 3
    if paletted:
        if depth not in (1, 2, 4, 8) or comp != 0 or filt != 0:
            raise NotImplementedError(
                f"unsupported palette PNG (depth={depth}): "
                "1/2/4/8-bit indices only"
            )
        if plte is None or len(plte) % 3 or not plte:
            raise NotImplementedError("palette PNG without a valid PLTE")
        # filtering works on BYTES (spec §9); packed indices make the
        # filter distance 1 byte regardless of depth
        bpp = 1
        stride = (w * depth + 7) // 8
    elif depth not in (8, 16) or channels is None or comp != 0 or filt != 0:
        raise NotImplementedError(
            f"unsupported PNG (depth={depth}, color_type={ctype}): "
            "only 8/16-bit gray/RGB/gray-alpha/RGBA and palette supported"
        )
    else:
        # filtering works on BYTES (spec §9): at 16-bit the filter
        # unit is channels*2 bytes and samples combine big-endian
        # (§7.1) after reconstruction
        bpp = channels * (depth // 8)
        stride = w * bpp
    raw = zlib.decompress(bytes(idat))
    if interlace == 0:
        if len(raw) != h * (stride + 1):
            raise NotImplementedError(
                f"IDAT stream length {len(raw)} != expected "
                f"{h * (stride + 1)}"
            )
        out = _png_unfilter(raw, 0, h, stride, bpp)
    elif interlace == 1:
        out = _png_adam7(
            raw, w, h, bpp, depth if paletted else 8,
            1 if paletted else bpp, paletted,
        )
        # _png_adam7 returns pixel-unit rows: (h, w) index plane for
        # palette images, (h, w*bpp) bytes otherwise — exactly the
        # post-unpack shape of the sequential path below
        if not paletted:
            return _png_samples(out, h, w, channels, depth)
        idx = out.astype(np.int64)
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        if idx.max() >= pal.shape[0]:
            raise NotImplementedError(
                f"palette index {int(idx.max())} out of range "
                f"({pal.shape[0]} PLTE entries)"
            )
        rgb = pal[idx]
        if trns is None:
            return rgb
        if len(trns) > pal.shape[0]:
            raise NotImplementedError("tRNS longer than PLTE")
        alpha = np.full(pal.shape[0], 255, dtype=np.uint8)
        alpha[: len(trns)] = np.frombuffer(trns, np.uint8)
        return np.concatenate([rgb, alpha[idx][..., None]], axis=-1)
    else:
        raise NotImplementedError(
            f"unknown PNG interlace method {interlace}"
        )
    if not paletted:
        return _png_samples(out, h, w, channels, depth)
    if depth == 8:
        idx = out
    else:
        # MSB-first packed indices (spec §7.2): unpack each row's bits,
        # regroup into depth-sized fields, keep the first w pixels
        bits = np.unpackbits(out, axis=1)
        idx = bits.reshape(h, -1, depth) @ (
            1 << np.arange(depth - 1, -1, -1)
        )
    idx = idx[:, :w].astype(np.int64)
    pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
    if idx.max() >= pal.shape[0]:
        raise NotImplementedError(
            f"palette index {int(idx.max())} out of range "
            f"({pal.shape[0]} PLTE entries)"
        )
    rgb = pal[idx]
    if trns is None:
        return rgb
    if len(trns) > pal.shape[0]:
        raise NotImplementedError("tRNS longer than PLTE")
    alpha = np.full(pal.shape[0], 255, dtype=np.uint8)
    alpha[: len(trns)] = np.frombuffer(trns, np.uint8)
    return np.concatenate([rgb, alpha[idx][..., None]], axis=-1)


PNG_STATS_SCHEMA = (
    "doc_id long, width int, height int, channels int, n_pixels long, "
    "mean_channels array<double>"
)


def png_pixel_stats(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-image pixel statistics from REAL pixel decode
    (:func:`decode_png_pixels`) via mapInPandas: geometry plus the
    per-channel mean over all pixels — the verifiable output of a
    decode stage (a wrong unfilter shifts every mean). Strict like
    :func:`decode_image_real`: any non-PNG or unsupported-PNG payload
    raises rather than faking."""
    import pandas as pd

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "width": [],
                "height": [],
                "channels": [],
                "n_pixels": [],
                "mean_channels": [],
            }
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                px = decode_png_pixels(bytes(b))
                h, w, c = px.shape
                rows["doc_id"].append(did)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["channels"].append(c)
                rows["n_pixels"].append(h * w)
                rows["mean_channels"].append(
                    [round(float(m), 6) for m in px.reshape(-1, c).mean(0)]
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        stats, schema=PNG_STATS_SCHEMA
    )


def jpeg_pixel_stats(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-image pixel statistics from REAL JPEG decode — baseline
    SOF0 or progressive SOF2 (:func:`..jpeg.decode_jpeg_pixels` —
    Huffman + dequant + IDCT + chroma upsampling + YCbCr->RGB) via
    mapInPandas; the JPEG counterpart of :func:`png_pixel_stats` and
    the same strict contract: arithmetic-coded/12-bit/non-JPEG
    payloads raise rather than faking (a wrong IDCT or upsample
    shifts every mean)."""
    import pandas as pd

    from .jpeg import decode_jpeg_pixels

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "width": [],
                "height": [],
                "channels": [],
                "n_pixels": [],
                "mean_channels": [],
            }
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                px = decode_jpeg_pixels(bytes(b))
                h, w, c = px.shape
                rows["doc_id"].append(did)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["channels"].append(c)
                rows["n_pixels"].append(h * w)
                rows["mean_channels"].append(
                    [round(float(m), 6) for m in px.reshape(-1, c).mean(0)]
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        stats, schema=PNG_STATS_SCHEMA
    )


JPEG_STATS_TOLERANT_SCHEMA = PNG_STATS_SCHEMA + ", status string, reason string"


def jpeg_pixel_stats_tolerant(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Crawl-ingest variant of :func:`jpeg_pixel_stats` (r11 verdict
    ask #4): a 100 TB ingest must not die on the long tail of codec
    classes the strict decoder correctly refuses. Every payload gets
    a row: ``status`` is ``ok`` (full pixel stats), or
    ``codec_unsupported`` (the decoder's honest boundary —
    arithmetic-coded SOF9/SOF11, 12-bit, hierarchical, CMYK, ... —
    stats null, width/height from the header walk when parseable),
    or ``malformed`` (truncated/corrupt entropy stream or not a JPEG
    at all). ``reason`` carries the decoder's message so the
    downstream audit can aggregate the tail by cause.

    Arithmetic-coded JPEG specifically is a DOCUMENTED PERMANENT
    NON-GOAL of the strict decoder: a correct §D decoder needs the
    exact T.81 Table D.3 Qe state machine from the spec text, which
    is not available in this environment and must not be
    reconstructed from memory (a near-miss table would decode
    plausible-but-wrong pixels — worse than refusing). This operator
    is the production answer: route the refusals, never fake them.
    Strict siblings keep raising for pipelines that want the
    fail-fast contract."""
    import pandas as pd

    from .jpeg import decode_jpeg_pixels

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "width": [],
                "height": [],
                "channels": [],
                "n_pixels": [],
                "mean_channels": [],
                "status": [],
                "reason": [],
            }
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                payload = bytes(b)
                rows["doc_id"].append(did)
                try:
                    px = decode_jpeg_pixels(payload)
                except (
                    # the decoder's documented refusal classes (see
                    # the corruption-fuzz test): loud boundary for
                    # unsupported codecs, parse errors for garbage
                    NotImplementedError,
                    ValueError,
                    KeyError,
                    IndexError,
                    _struct.error,
                ) as e:
                    meta = parse_image_dims(payload)
                    dims_ok = meta is not None and meta[0] == "jpeg"
                    rows["width"].append(meta[1] if dims_ok else None)
                    rows["height"].append(meta[2] if dims_ok else None)
                    rows["channels"].append(None)
                    rows["n_pixels"].append(None)
                    rows["mean_channels"].append(None)
                    rows["status"].append(
                        "codec_unsupported"
                        if isinstance(e, NotImplementedError) and dims_ok
                        else "malformed"
                    )
                    rows["reason"].append(str(e))
                    continue
                h, w, c = px.shape
                rows["width"].append(w)
                rows["height"].append(h)
                rows["channels"].append(c)
                rows["n_pixels"].append(h * w)
                rows["mean_channels"].append(
                    [round(float(m), 6) for m in px.reshape(-1, c).mean(0)]
                )
                rows["status"].append("ok")
                rows["reason"].append(None)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        stats, schema=JPEG_STATS_TOLERANT_SCHEMA
    )


REAL_META_SCHEMA = (
    "doc_id long, format string, n_bytes int, width int, height int"
)


def decode_image_real(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Strict image decode: every payload MUST be a recognized image
    container (PNG/GIF/JPEG — parsed for real by
    :func:`parse_image_dims`); any other payload raises, because full
    pixel decode of arbitrary formats needs a codec library that is
    not in this container. Unlike :func:`decode_image_meta` there is
    no fake fallback — this is the production-contract kernel."""
    import pandas as pd

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            metas = []
            for b in pdf[payload_col]:
                m = parse_image_dims(bytes(b))
                if m is None:
                    raise NotImplementedError(
                        "payload is not PNG/GIF/JPEG; decoding other "
                        "formats requires a codec library (Pillow/libvips) "
                        "not available in this environment"
                    )
                metas.append(m)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "format": [m[0] for m in metas],
                    "n_bytes": pdf[payload_col].apply(len),
                    "width": [m[1] for m in metas],
                    "height": [m[2] for m in metas],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        decode, schema=REAL_META_SCHEMA
    )


def decode_wav_pcm(payload: bytes):
    """Full WAV/RIFF audio decode with the stdlib + numpy only:
    manual chunk walk (not the ``wave`` module, which rejects
    WAVE_FORMAT_EXTENSIBLE and float PCM) → ``(sample_rate,
    (n_frames, channels) float64 array in [-1, 1])``.

    Supported sample formats — the shapes uncompressed capture and
    dataset audio actually use:

    - PCM (format tag 1): unsigned 8-bit, signed 16/24/32-bit
      little-endian, normalized by 2^(bits-1) (u8 is offset-binary:
      ``(x - 128) / 128``).
    - IEEE float (format tag 3): float32/float64 passthrough.
    - WAVE_FORMAT_EXTENSIBLE (0xFFFE): resolved to the real format
      via the first two bytes of the SubFormat GUID (fmt chunk
      offset 24), then handled as above.

    Compressed formats (ADPCM, µ-law, MP3-in-WAV, …) raise
    ``NotImplementedError`` — same honest-boundary contract as
    :func:`decode_png_pixels`: decoding those needs a codec library
    that is not in this container. Chunk sizes are word-aligned per
    the RIFF spec (odd-length chunks carry a pad byte); a data chunk
    shorter than its declared size (truncated file) raises.
    """
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("payload is not a RIFF/WAVE container")
    fmt = None
    data = None
    i = 12
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (ln,) = struct.unpack("<I", payload[i + 4 : i + 8])
        body = payload[i + 8 : i + 8 + ln]
        if cid == b"fmt " and fmt is None:
            if ln < 16 or len(body) < 16:
                raise NotImplementedError(f"fmt chunk too short ({ln} bytes)")
            fmt = struct.unpack("<HHIIHH", body[:16])
            if fmt[0] == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE
                if ln < 40 or len(body) < 26:
                    raise NotImplementedError(
                        "extensible fmt chunk without SubFormat GUID"
                    )
                (sub,) = struct.unpack("<H", body[24:26])
                fmt = (sub, *fmt[1:])
        elif cid == b"data" and data is None:
            if len(body) < ln:
                raise NotImplementedError(
                    f"truncated data chunk: {len(body)} of {ln} bytes"
                )
            data = body
        i += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise NotImplementedError("WAV without fmt/data chunk")
    tag, channels, rate, _byte_rate, _block_align, bits = fmt
    if channels < 1 or rate < 1:
        raise NotImplementedError(f"degenerate fmt (ch={channels}, rate={rate})")
    if tag == 1:  # integer PCM
        if bits == 8:
            x = (np.frombuffer(data, np.uint8).astype(np.float64) - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(data, "<i2").astype(np.float64) / 32768.0
        elif bits == 24:
            b = np.frombuffer(data, np.uint8)
            b = b[: len(b) - len(b) % 3].reshape(-1, 3).astype(np.uint32)
            raw = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            x = (raw.astype(np.int32) - ((raw & 0x800000) << 1).astype(
                np.int64
            )).astype(np.float64) / 8388608.0
        elif bits == 32:
            x = np.frombuffer(data, "<i4").astype(np.float64) / 2147483648.0
        else:
            raise NotImplementedError(f"unsupported PCM bit depth {bits}")
    elif tag == 3:  # IEEE float
        if bits == 32:
            x = np.frombuffer(data, "<f4").astype(np.float64)
        elif bits == 64:
            x = np.frombuffer(data, "<f8").astype(np.float64)
        else:
            raise NotImplementedError(f"unsupported float bit depth {bits}")
    else:
        raise NotImplementedError(
            f"compressed WAV format tag {tag}: decoding needs a codec "
            "library not available in this environment"
        )
    n_frames = len(x) // channels
    return rate, x[: n_frames * channels].reshape(n_frames, channels)


WAV_STATS_SCHEMA = (
    "doc_id long, sample_rate int, channels int, n_frames long, "
    "duration_s double, rms_channels array<double>, "
    "peak_channels array<double>"
)


def wav_audio_stats(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-clip audio statistics from REAL sample decode
    (:func:`decode_wav_pcm`) via mapInPandas: sample geometry plus
    per-channel RMS and absolute peak — the verifiable output of a
    decode stage (a wrong bit-depth scale or channel de-interleave
    shifts every RMS). Strict like :func:`png_pixel_stats`: any
    non-WAV or compressed payload raises rather than faking."""
    import pandas as pd

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "sample_rate": [],
                "channels": [],
                "n_frames": [],
                "duration_s": [],
                "rms_channels": [],
                "peak_channels": [],
            }
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                rate, samples = decode_wav_pcm(bytes(b))
                n, c = samples.shape
                rows["doc_id"].append(did)
                rows["sample_rate"].append(rate)
                rows["channels"].append(c)
                rows["n_frames"].append(n)
                rows["duration_s"].append(round(n / rate, 6))
                rows["rms_channels"].append(
                    [
                        round(float(r), 6)
                        for r in ((samples**2).mean(0) ** 0.5
                                  if n else [0.0] * c)
                    ]
                )
                rows["peak_channels"].append(
                    [
                        round(float(p), 6)
                        for p in (abs(samples).max(0) if n else [0.0] * c)
                    ]
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        stats, schema=WAV_STATS_SCHEMA
    )


GIF_FRAME_STATS_SCHEMA = (
    "doc_id long, frame_idx int, n_frames int, ts_ms long, "
    "width int, height int, mean_r double, mean_g double, mean_b double"
)


def gif_frame_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_n: int = 1,
) -> DataFrame:
    """REAL video-style frame sampling: decode every GIF payload's
    full frame sequence (:func:`operators.gif.decode_gif_frames` —
    LZW, interlace, disposal/transparency composition), keep every
    ``every_n``-th composed frame, and emit its presentation
    timestamp (cumulative prior-frame delays) plus per-channel pixel
    means — the verifiable output of a decode+sample stage (a wrong
    disposal or LZW reset shifts the means of every later frame).

    Scale shape mirrors :func:`sample_frames`: Arrow-batched
    mapInPandas, 1 input row → ceil(n_frames/every_n) output rows,
    decode parallelism = input partitioning (payloads are opaque
    binaries, so there is nothing to push down — size
    ``spark.sql.files.maxPartitionBytes`` for payload width). Strict
    contract: non-GIF or malformed payloads raise."""
    import pandas as pd

    from .gif import decode_gif_frames

    if every_n < 1:
        raise ValueError("every_n must be >= 1")

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "n_frames": [],
                "ts_ms": [],
                "width": [],
                "height": [],
                "mean_r": [],
                "mean_g": [],
                "mean_b": [],
            }
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                w, h, frames = decode_gif_frames(bytes(b))
                ts = 0
                for i, (delay_ms, px) in enumerate(frames):
                    if i % every_n == 0:
                        means = px.reshape(-1, 3).mean(0)
                        rows["doc_id"].append(did)
                        rows["frame_idx"].append(i)
                        rows["n_frames"].append(len(frames))
                        rows["ts_ms"].append(ts)
                        rows["width"].append(w)
                        rows["height"].append(h)
                        rows["mean_r"].append(round(float(means[0]), 6))
                        rows["mean_g"].append(round(float(means[1]), 6))
                        rows["mean_b"].append(round(float(means[2]), 6))
                    ts += delay_ms
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        stats, schema=GIF_FRAME_STATS_SCHEMA
    )


AUDIO_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, n_frames int, t_ms long, "
    "rms double, zcr double, spectral_centroid_hz double"
)


def audio_frame_features(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_ms: int = 25,
    hop_ms: int = 10,
) -> DataFrame:
    """Frame-level audio features from REAL WAV decode — the standard
    front end of speech/audio dataset curation (VAD gating, silence
    trimming, clip quality scoring): downmix to mono, slice into
    ``frame_ms`` windows every ``hop_ms``, and per frame emit RMS
    energy, zero-crossing rate (strict sign flips / (L-1)), and the
    spectral centroid in Hz from an rFFT magnitude spectrum
    (rectangular window; 0.0 when the frame has no energy).

    1 input row → floor((n-L)/H)+1 output rows via Arrow-batched
    mapInPandas, the same explode shape as :func:`gif_frame_stats`;
    numpy does the per-frame math vectorized (one stride-tricks
    window view + one batched rFFT per clip, no Python loop over
    frames). Strict contract: non-WAV or compressed payloads raise.
    Frames are timestamped by start sample (``t_ms = s*1000//rate``),
    so downstream joins against transcript windows are exact."""
    import pandas as pd

    if frame_ms <= 0 or hop_ms <= 0:
        raise ValueError("frame_ms and hop_ms must be positive")

    def feats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "n_frames": [],
                "t_ms": [],
                "rms": [],
                "zcr": [],
                "spectral_centroid_hz": [],
            }
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                rate, samples = decode_wav_pcm(bytes(b))
                mono = samples.mean(axis=1)
                L = max(1, rate * frame_ms // 1000)
                H = max(1, rate * hop_ms // 1000)
                n = len(mono)
                nf = (n - L) // H + 1 if n >= L else 0
                if nf <= 0:
                    continue
                idx = (
                    np.arange(nf)[:, None] * H + np.arange(L)[None, :]
                )
                frames = mono[idx]  # (nf, L)
                rms = np.sqrt((frames**2).mean(axis=1))
                flips = (frames[:, 1:] * frames[:, :-1]) < 0
                zcr = (
                    flips.sum(axis=1) / (L - 1) if L > 1
                    else np.zeros(nf)
                )
                mag = np.abs(np.fft.rfft(frames, axis=1))
                freqs = np.fft.rfftfreq(L, d=1.0 / rate)
                power = mag.sum(axis=1)
                cent = np.where(
                    power > 0, (mag * freqs).sum(axis=1)
                    / np.where(power > 0, power, 1.0), 0.0
                )
                for i in range(nf):
                    rows["doc_id"].append(did)
                    rows["frame_idx"].append(i)
                    rows["n_frames"].append(nf)
                    rows["t_ms"].append(int(i * H * 1000) // rate)
                    rows["rms"].append(round(float(rms[i]), 6))
                    rows["zcr"].append(round(float(zcr[i]), 6))
                    rows["spectral_centroid_hz"].append(
                        round(float(cent[i]), 6)
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        feats, schema=AUDIO_FRAME_SCHEMA
    )


def mel_filter_weights(
    n_bins: int, n_mels: int, rate: int, *, frame_len: int | None = None
) -> list[list[float]]:
    """Triangular mel filterbank weights (the HTK convention used by
    every ASR front end: mel(f) = 2595 log10(1 + f/700), band centers
    equally spaced in mel between 0 and rate/2, each filter a
    triangle over its neighbors' centers) as a plain Python
    ``n_mels x n_bins`` matrix over rFFT bin frequencies — pure math,
    shared by the log-mel kernel, the registry fold's literal
    generator, and its DuckDB oracle, so all three use the SAME
    weights to the last bit.

    ``frame_len`` is the rFFT input length L that produced the bins;
    bin k sits at ``k * rate / L``. When omitted it is inferred as
    ``(n_bins - 1) * 2``, which is only correct for EVEN L — an odd
    frame length (e.g. 11025 Hz × 25 ms = 275 samples → 138 bins)
    would infer L=274 and shift every bin frequency slightly (r12
    advisor finding), so callers that know L must pass it."""
    import math

    def mel(f: float) -> float:
        return 2595.0 * math.log10(1.0 + f / 700.0)

    def imel(m: float) -> float:
        return 700.0 * (10.0 ** (m / 2595.0) - 1.0)

    fmax = rate / 2.0
    centers = [
        imel(mel(fmax) * i / (n_mels + 1)) for i in range(n_mels + 2)
    ]
    # bin k of an L-point rFFT sits at k * rate / L; n_bins = L//2 + 1
    L = frame_len if frame_len is not None else (n_bins - 1) * 2
    if L // 2 + 1 != n_bins:
        raise ValueError(
            f"frame_len {L} yields {L // 2 + 1} rFFT bins, not {n_bins}"
        )
    out = []
    for b in range(n_mels):
        lo, c, hi = centers[b], centers[b + 1], centers[b + 2]
        row = []
        for k in range(n_bins):
            f = k * rate / L
            if lo < f <= c and c > lo:
                row.append((f - lo) / (c - lo))
            elif c < f < hi and hi > c:
                row.append((hi - f) / (hi - c))
            else:
                row.append(0.0)
        out.append(row)
    return out


AUDIO_LOGMEL_SCHEMA = (
    "doc_id long, frame_idx int, n_frames int, t_ms long, "
    "log_mel array<double>"
)


def audio_logmel_features(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_ms: int = 25,
    hop_ms: int = 10,
    n_mels: int = 16,
) -> DataFrame:
    """Log-mel filterbank energies per frame — the stage after
    :func:`audio_frame_features` that completes the ASR front end
    (r11 verdict ask #6): mono downmix, ``frame_ms`` windows every
    ``hop_ms``, rFFT POWER spectrum, triangular mel filterbank
    (:func:`mel_filter_weights`), natural log with a 1e-10 floor.
    Same explode shape and strict-decode contract as the sibling;
    the filterbank is one (n_mels x n_bins) @ (n_bins x n_frames)
    matrix multiply per clip — numpy-vectorized, no per-frame Python.
    Physics pinned in tests/test_audio_features.py: a pure tone's
    argmax band is the band whose triangle contains the tone."""
    import pandas as pd

    if frame_ms <= 0 or hop_ms <= 0:
        raise ValueError("frame_ms and hop_ms must be positive")
    if n_mels <= 0:
        raise ValueError("n_mels must be positive")

    def feats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "n_frames": [],
                "t_ms": [],
                "log_mel": [],
            }
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                rate, samples = decode_wav_pcm(bytes(b))
                mono = samples.mean(axis=1)
                L = max(1, rate * frame_ms // 1000)
                H = max(1, rate * hop_ms // 1000)
                n = len(mono)
                nf = (n - L) // H + 1 if n >= L else 0
                if nf <= 0:
                    continue
                idx = (
                    np.arange(nf)[:, None] * H + np.arange(L)[None, :]
                )
                frames = mono[idx]
                power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
                W = np.array(
                    mel_filter_weights(
                        power.shape[1], n_mels, rate, frame_len=L
                    )
                )
                logmel = np.log(power @ W.T + 1e-10)
                for i in range(nf):
                    rows["doc_id"].append(did)
                    rows["frame_idx"].append(i)
                    rows["n_frames"].append(nf)
                    rows["t_ms"].append(int(i * H * 1000) // rate)
                    rows["log_mel"].append(
                        [round(float(v), 6) for v in logmel[i]]
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        feats, schema=AUDIO_LOGMEL_SCHEMA
    )


AUDIO_RESAMPLE_SCHEMA = (
    "doc_id long, rate_in int, rate_out int, n_in long, n_out long, "
    "duration_s double, rms_in double, rms_out double"
)


def resample_pcm(samples, rate_in: int, rate_out: int):
    """Linear-interpolation resample of a mono float signal — the
    deterministic core of sample-rate standardization (no windowed
    sinc: interpolation error is the documented tradeoff, acceptable
    for feature pipelines; a polyphase kernel slots in behind the
    same signature). Output length = round(n * rate_out / rate_in);
    output sample k sits at input position k * rate_in / rate_out
    (same t=0 anchor), clamped interpolation at the tail."""
    import numpy as np

    if rate_in <= 0 or rate_out <= 0:
        raise ValueError("rates must be positive")
    n = len(samples)
    if n == 0 or rate_in == rate_out:
        return np.asarray(samples, dtype=np.float64).copy()
    n_out = int(round(n * rate_out / rate_in))
    pos = np.arange(n_out) * (rate_in / rate_out)
    i0 = np.minimum(pos.astype(np.int64), n - 1)
    i1 = np.minimum(i0 + 1, n - 1)
    frac = pos - i0
    x = np.asarray(samples, dtype=np.float64)
    return x[i0] * (1.0 - frac) + x[i1] * frac


def audio_resample_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    rate_out: int = 16000,
) -> DataFrame:
    """Sample-rate standardization audit: decode WAV → mono downmix →
    linear resample to ``rate_out`` → emit geometry plus RMS before/
    after (a broken resampler shifts energy; a correct one preserves
    it to interpolation error). Same Arrow-batched 1→1 shape as
    wav_audio_stats; strict decode contract."""
    import pandas as pd

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "rate_in": [],
                "rate_out": [],
                "n_in": [],
                "n_out": [],
                "duration_s": [],
                "rms_in": [],
                "rms_out": [],
            }
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                rate, samples = decode_wav_pcm(bytes(b))
                mono = samples.mean(axis=1)
                out = resample_pcm(mono, rate, rate_out)
                rows["doc_id"].append(did)
                rows["rate_in"].append(rate)
                rows["rate_out"].append(rate_out)
                rows["n_in"].append(len(mono))
                rows["n_out"].append(len(out))
                rows["duration_s"].append(
                    round(len(out) / rate_out, 6) if rate_out else 0.0
                )
                rows["rms_in"].append(
                    round(float(np.sqrt((mono**2).mean())), 6)
                    if len(mono)
                    else 0.0
                )
                rows["rms_out"].append(
                    round(float(np.sqrt((out**2).mean())), 6)
                    if len(out)
                    else 0.0
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        stats, schema=AUDIO_RESAMPLE_SCHEMA
    )
