"""GIF decode round-trips against an INDEPENDENT in-test encoder.

The encoder below implements GIF89a (logical screen, color tables,
graphic-control extensions, interlace, variable-width LZW with
mid-stream clears) directly from the public spec, sharing no code
with operators/gif.py — so a round-trip match pins both directions,
the same strategy as the PNG/JPEG test encoders.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lmo_data_catalog_spark.operators.gif import decode_gif_frames

# --------------------------------------------------------- test encoder


class _BitPacker:
    """LSB-first bit packer (GIF appendix F byte order)."""

    def __init__(self):
        self.bytes = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.bytes.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def done(self) -> bytes:
        if self.nbits:
            self.bytes.append(self.acc & 0xFF)
        return bytes(self.bytes)


def lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Greedy longest-match LZW, emitting CLEAR whenever the table
    fills (the common encoder behavior; the decoder must also survive
    streams that never clear — covered separately)."""
    clear = 1 << min_code_size
    eoi = clear + 1

    def fresh():
        return {bytes([i]): i for i in range(clear)}

    table = fresh()
    next_code = eoi + 1
    width = min_code_size + 1
    out = _BitPacker()
    out.put(clear, width)

    cur = b""
    for byte in indices:
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        out.put(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code > (1 << 12) - 1:
            out.put(clear, width)
            table = fresh()
            next_code = eoi + 1
            width = min_code_size + 1
        cur = bytes([byte])
    if cur:
        out.put(table[cur], width)
    out.put(eoi, width)
    return out.done()


def _subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _interlace_rows(h: int) -> list[int]:
    rows = []
    for first, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        rows.extend(range(first, h, step))
    return rows


def encode_gif(
    screen_wh: tuple[int, int],
    palette: np.ndarray,
    frames: list[dict],
    *,
    bg_idx: int = 0,
) -> bytes:
    """frames: dicts with keys idx (2-D uint8 index grid), left, top,
    delay_cs, transparent (int|None), disposal (int), interlace
    (bool), local_palette (ndarray|None)."""
    w, h = screen_wh
    gct_field = max(0, (len(palette) - 1).bit_length() - 1)
    assert len(palette) == 2 << gct_field, "palette must be 2^(f+1) long"
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | gct_field)  # GCT present
    out.append(bg_idx)
    out.append(0)  # aspect
    out += palette.astype(np.uint8).tobytes()

    for f in frames:
        idx = np.asarray(f["idx"], dtype=np.uint8)
        fh, fw = idx.shape
        transparent = f.get("transparent")
        flags = (f.get("disposal", 0) & 0x07) << 2
        if transparent is not None:
            flags |= 0x01
        out += bytes([0x21, 0xF9, 4, flags])
        out += struct.pack("<H", f.get("delay_cs", 0))
        out.append(transparent if transparent is not None else 0)
        out.append(0)  # GCE terminator

        out.append(0x2C)
        out += struct.pack(
            "<HHHH", f.get("left", 0), f.get("top", 0), fw, fh
        )
        lp = f.get("local_palette")
        ipacked = 0
        if f.get("interlace"):
            ipacked |= 0x40
        if lp is not None:
            lf = max(0, (len(lp) - 1).bit_length() - 1)
            assert len(lp) == 2 << lf
            ipacked |= 0x80 | lf
        out.append(ipacked)
        if lp is not None:
            out += lp.astype(np.uint8).tobytes()

        n_colors = len(lp) if lp is not None else len(palette)
        min_code = max(2, (n_colors - 1).bit_length())
        rows = idx
        if f.get("interlace"):
            rows = idx[_interlace_rows(fh)]
        out.append(min_code)
        out += _subblocks(lzw_encode(rows.tobytes(), min_code))
    out.append(0x3B)
    return bytes(out)


def _pal(n: int, seed: int = 1) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(n, 3)).astype(np.uint8)


# ------------------------------------------------------------- round-trips


def test_single_frame_exact_pixels():
    pal = _pal(8)
    rng = np.random.RandomState(0)
    idx = rng.randint(0, 8, size=(11, 7)).astype(np.uint8)
    gif = encode_gif((7, 11), pal, [{"idx": idx}])
    w, h, frames = decode_gif_frames(gif)
    assert (w, h) == (7, 11)
    assert len(frames) == 1
    assert np.array_equal(frames[0][1], pal[idx])


def test_256_color_noise_forces_code_growth():
    """64x64 of 256-color noise pushes the LZW table through every
    width 9→12 and across encoder CLEAR resets."""
    pal = _pal(256)
    rng = np.random.RandomState(7)
    idx = rng.randint(0, 256, size=(64, 64)).astype(np.uint8)
    gif = encode_gif((64, 64), pal, [{"idx": idx}])
    _, _, frames = decode_gif_frames(gif)
    assert np.array_equal(frames[0][1], pal[idx])


def test_deferred_clear_full_table():
    """A stream whose table fills but never clears must keep decoding
    at 12-bit width (deferred-clear clause, spec appendix F)."""
    pal = _pal(256)
    rng = np.random.RandomState(3)
    idx = rng.randint(0, 256, size=(80, 64)).astype(np.uint8)

    # encoder variant that never emits CLEAR: freeze table when full
    clear, eoi = 256, 257
    table = {bytes([i]): i for i in range(256)}
    next_code, width = eoi + 1, 9
    pk = _BitPacker()
    pk.put(clear, width)
    cur = b""
    for byte in idx.tobytes():
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        pk.put(table[cur], width)
        if next_code < (1 << 12):
            table[nxt] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        cur = bytes([byte])
    pk.put(table[cur], width)
    pk.put(eoi, width)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", 64, 80)
    out += bytes([0x87, 0, 0])
    out += pal.tobytes()
    out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, 64, 80) + bytes([0])
    out.append(8)
    out += _subblocks(pk.done())
    out.append(0x3B)

    _, _, frames = decode_gif_frames(bytes(out))
    assert np.array_equal(frames[0][1], pal[idx])


def test_interlaced_matches_sequential():
    pal = _pal(16)
    rng = np.random.RandomState(5)
    idx = rng.randint(0, 16, size=(13, 9)).astype(np.uint8)
    seq = encode_gif((9, 13), pal, [{"idx": idx}])
    inter = encode_gif((9, 13), pal, [{"idx": idx, "interlace": True}])
    _, _, fs = decode_gif_frames(seq)
    _, _, fi = decode_gif_frames(inter)
    assert np.array_equal(fs[0][1], fi[0][1])
    assert np.array_equal(fs[0][1], pal[idx])


def test_animation_disposal_and_transparency():
    """3-frame animation: disposal 1 (keep), 2 (restore background),
    3 (restore previous), with a transparent patch — compared against
    a straight-line numpy compositor."""
    pal = _pal(4)
    bg = 0
    base = np.full((6, 6), 1, dtype=np.uint8)
    patch2 = np.full((3, 3), 2, dtype=np.uint8)
    patch3 = np.array([[3, 0], [0, 3]], dtype=np.uint8)  # 0 = transparent

    gif = encode_gif(
        (6, 6),
        pal,
        [
            {"idx": base, "delay_cs": 10, "disposal": 1},
            {
                "idx": patch2,
                "left": 1,
                "top": 2,
                "delay_cs": 20,
                "disposal": 2,
            },
            {
                "idx": patch3,
                "left": 3,
                "top": 0,
                "delay_cs": 30,
                "disposal": 3,
                "transparent": 0,
            },
        ],
        bg_idx=bg,
    )
    _, _, frames = decode_gif_frames(gif)
    assert [d for d, _ in frames] == [100, 200, 300]

    # independent compositor
    canvas = np.empty((6, 6, 3), dtype=np.uint8)
    canvas[:, :] = pal[bg]
    want = []
    canvas[:, :] = pal[base]  # frame 1 full cover, disposal keep
    want.append(canvas.copy())
    canvas[2:5, 1:4] = pal[patch2]
    want.append(canvas.copy())
    canvas[2:5, 1:4] = pal[bg]  # disposal 2 after frame 2
    prev = canvas[0:2, 3:5].copy()
    mask = patch3 != 0
    canvas[0:2, 3:5][mask] = pal[patch3[mask]]
    want.append(canvas.copy())
    canvas[0:2, 3:5] = prev  # disposal 3 (not visible in emitted frames)

    for (_, got), exp in zip(frames, want):
        assert np.array_equal(got, exp)


def test_local_palette_overrides_global():
    gpal = _pal(4, seed=1)
    lpal = _pal(4, seed=2)
    idx = np.arange(4, dtype=np.uint8).reshape(2, 2)
    gif = encode_gif(
        (2, 2), gpal, [{"idx": idx, "local_palette": lpal}]
    )
    _, _, frames = decode_gif_frames(gif)
    assert np.array_equal(frames[0][1], lpal[idx])


def test_two_color_min_code_size_floor():
    """1-bit images still use min LZW code size 2 (spec floor)."""
    pal = _pal(2)
    idx = (np.indices((5, 8)).sum(0) % 2).astype(np.uint8)
    gif = encode_gif((8, 5), pal, [{"idx": idx}])
    _, _, frames = decode_gif_frames(gif)
    assert np.array_equal(frames[0][1], pal[idx])


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    h=st.integers(1, 17),
    w=st.integers(1, 17),
    ncol=st.sampled_from([2, 4, 8, 16, 32, 64, 128, 256]),
    interlace=st.booleans(),
)
def test_fuzz_round_trip(seed, h, w, ncol, interlace):
    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, size=(ncol, 3)).astype(np.uint8)
    idx = rng.randint(0, ncol, size=(h, w)).astype(np.uint8)
    gif = encode_gif(
        (w, h), pal, [{"idx": idx, "interlace": interlace}]
    )
    gw, gh, frames = decode_gif_frames(gif)
    assert (gw, gh) == (w, h)
    assert np.array_equal(frames[0][1], pal[idx])


def test_malformed_raises():
    pal = _pal(4)
    idx = np.zeros((3, 3), dtype=np.uint8)
    good = encode_gif((3, 3), pal, [{"idx": idx}])
    with pytest.raises(ValueError):
        decode_gif_frames(b"NOTAGIF" + good)
    with pytest.raises(ValueError):
        decode_gif_frames(good[:20])  # truncated mid color table/blocks
    # frame exceeding the logical screen
    bad = encode_gif((3, 3), pal, [{"idx": idx, "left": 2}])
    with pytest.raises(ValueError):
        decode_gif_frames(bad)


def _manual_gif(
    w: int, h: int, pal: np.ndarray, indices: bytes, min_code: int = 2
) -> bytes:
    """Hand-assembled single-frame GIF where the LZW pixel stream is
    supplied verbatim — lets tests craft streams whose pixel count
    disagrees with the image descriptor."""
    assert len(pal) == 4
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | 0x01)  # GCT present, 4 entries
    out += b"\x00\x00"
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out.append(min_code)
    out += _subblocks(lzw_encode(indices, min_code))
    out += b"\x3b"
    return bytes(out)


def test_overlong_lzw_raises():
    """A stream emitting MORE pixels than the descriptor claims must
    raise, mirroring the short-stream check (ADVICE r11) — silent
    truncation would accept corrupt payloads."""
    pal = _pal(4)
    ok = _manual_gif(2, 2, pal, bytes([0, 1, 2, 3]))
    _, _, frames = decode_gif_frames(ok)  # manual assembly is valid
    assert np.array_equal(
        frames[0][1], pal[np.array([[0, 1], [2, 3]], dtype=np.uint8)]
    )
    bad = _manual_gif(2, 2, pal, bytes([0, 1, 2, 3, 1, 2]))
    with pytest.raises(ValueError, match="past image size|pixels for"):
        decode_gif_frames(bad)


def test_oversized_header_caps_allocation():
    """A 13-byte header claiming 65535x65535 (a ~12.9 GB canvas) must
    raise BEFORE allocating (ADVICE r11 OOM surface)."""
    pal = _pal(4)
    idx = np.zeros((2, 2), dtype=np.uint8)
    good = encode_gif((2, 2), pal, [{"idx": idx}])
    huge = bytearray(good)
    huge[6:10] = struct.pack("<HH", 65535, 65535)
    with pytest.raises(ValueError, match="decode cap"):
        decode_gif_frames(bytes(huge))
    # the cap is configurable per call site
    with pytest.raises(ValueError, match="decode cap"):
        decode_gif_frames(good, max_pixels=3)


# --------------------------------------------------------- Spark operator


def test_gif_frame_stats_spark(spark):
    """End-to-end: animated GIFs as a binary column → gif_frame_stats
    with every_n=2 → per-frame means match the decoder directly."""
    from lmo_data_catalog_spark.operators.multimodal import gif_frame_stats

    pal = _pal(8)
    rng = np.random.RandomState(11)
    payloads = []
    for doc in range(4):
        n = 3 + doc  # 3..6 frames
        frames = [
            {
                "idx": rng.randint(0, 8, size=(9, 9)).astype(np.uint8),
                "delay_cs": 5 * (i + 1),
            }
            for i in range(n)
        ]
        payloads.append((doc, encode_gif((9, 9), pal, frames)))

    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {
        (r["doc_id"], r["frame_idx"]): r
        for r in gif_frame_stats(df, every_n=2).collect()
    }

    n_expected = 0
    for doc, payload in payloads:
        w, h, frames = decode_gif_frames(payload)
        ts = 0
        for i, (delay, px) in enumerate(frames):
            if i % 2 == 0:
                n_expected += 1
                r = got[(doc, i)]
                assert (r["width"], r["height"]) == (w, h)
                assert r["n_frames"] == len(frames)
                assert r["ts_ms"] == ts
                means = px.reshape(-1, 3).mean(0)
                assert r["mean_r"] == round(float(means[0]), 6)
                assert r["mean_g"] == round(float(means[1]), 6)
                assert r["mean_b"] == round(float(means[2]), 6)
            ts += delay
    assert len(got) == n_expected


def test_frame_count_amplification_cap():
    """r12 advisor (medium): the canvas cap bounds ONE allocation, but
    each frame appends a canvas COPY — a near-cap canvas with many
    tiny frames amplifies a few-byte payload into GBs of copies. The
    total-pixel cap must raise instead, and legitimate animations
    must keep decoding."""
    pal = _pal(4)
    frame = {"idx": np.zeros((4, 4), dtype=np.uint8)}
    many = encode_gif((4, 4), pal, [dict(frame) for _ in range(20)])
    # 20 frames x 16 px = 320 total; cap below that must refuse...
    with pytest.raises(ValueError, match="total decoded pixels"):
        decode_gif_frames(many, max_total_pixels=300)
    # ...and a cap at/above it must decode all frames
    w, h, frames = decode_gif_frames(many, max_total_pixels=320)
    assert (w, h, len(frames)) == (4, 4, 20)
    # default cap: MAX_TOTAL_PIXELS / canvas area bounds frame count
    from lmo_data_catalog_spark.operators.gif import MAX_TOTAL_PIXELS

    assert MAX_TOTAL_PIXELS >= 20 * 16  # sanity: legit animations fit


def test_decoder_refuses_corruption_with_typed_errors():
    """Crawl-grade robustness of the strict decoder: single-byte
    corruptions, truncations and random garbage must each either
    decode or raise one of the refusal types a caller routes on
    (ValueError, including GifResourceCap; IndexError; struct.error),
    never anything else. Deterministic seed."""
    import random

    rng = random.Random(13)
    pal = _pal(8)
    idx = np.arange(36, dtype=np.uint8).reshape(6, 6) % 8
    good = encode_gif((6, 6), pal, [{"idx": idx}, {"idx": idx}])

    payloads = []
    for _ in range(40):  # single-byte corruptions
        pos = rng.randrange(len(good))
        val = rng.randrange(256)
        payloads.append(good[:pos] + bytes([val]) + good[pos + 1 :])
    for _ in range(20):  # truncations
        payloads.append(good[: rng.randrange(len(good))])
    for _ in range(20):  # random garbage
        payloads.append(
            bytes(rng.randrange(256) for _ in range(rng.randrange(80)))
        )

    for payload in payloads:
        try:
            decode_gif_frames(payload)
        except (ValueError, IndexError, struct.error):
            pass
    with pytest.raises(ValueError, match="signature"):
        decode_gif_frames(b"not a gif")


def _straddling_final_code_gif() -> bytes:
    """A structurally valid GIF whose LZW stream's FINAL
    pixel-producing code is a multi-pixel dictionary entry that
    straddles past n_pixels — the real-world-encoder shape the r13
    verdict asked to pin (sloppy encoders emit one code too many when
    the dictionary entry at the boundary is multi-pixel; conformant
    decoders must refuse rather than silently truncate).

    Hand-packed stream for a 2x2 image (n_pixels=4), min_code_size=2
    (CLEAR=4, EOI=5, first dict code=6), codes CLEAR,0,1,0,6:

    - 0        -> out=[0]                         len 1
    - 1        -> dict[6]=[0,1], out=[0,1]        len 2
    - 0        -> dict[7]=[1,0], out=[0,1,0]      len 3  (width->4)
    - 6=[0,1]  -> out len 5 > 4: STRADDLE

    LSB-first packing: widths [3,3,3,3,4] -> bytes 0x44 0x60.
    """
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", 2, 2)
    out.append(0x80 | 1)  # GCT present, 4 entries
    out += b"\x00\x00"  # bg idx, aspect
    out += bytes(range(12))  # 4-color GCT
    out.append(0x2C)  # image descriptor
    out += struct.pack("<HHHH", 0, 0, 2, 2)
    out.append(0)  # no LCT, no interlace
    out.append(2)  # LZW min code size
    out += bytes([2, 0x44, 0x60, 0])  # one 2-byte sub-block + term
    out.append(0x3B)
    return bytes(out)


def test_straddling_final_lzw_code_is_corruption():
    """r13 verdict ask #6: the straddling-final-LZW-code shape must
    raise in the strict decoder as corruption, NOT as a resource
    cap."""
    from lmo_data_catalog_spark.operators.gif import GifResourceCap

    payload = _straddling_final_code_gif()
    with pytest.raises(ValueError, match="produced 5 pixels") as exc:
        decode_gif_frames(payload)
    assert not isinstance(exc.value, GifResourceCap)


def test_resource_cap_is_typed_not_message_matched(spark):
    """r13 advisor: cap refusals are classified BY EXCEPTION TYPE
    (GifResourceCap), so rewording a decoder message can never
    silently reclassify rows. Pins both cap sites raising the
    subclass and a corruption raising the plain ValueError."""
    from lmo_data_catalog_spark.operators.gif import GifResourceCap

    pal = _pal(4)
    idx = np.zeros((4, 4), dtype=np.uint8)
    ok = encode_gif((4, 4), pal, [{"idx": idx}] * 25)
    # canvas cap site
    huge = bytearray(ok)
    huge[6:10] = struct.pack("<HH", 65535, 65535)
    with pytest.raises(GifResourceCap):
        decode_gif_frames(bytes(huge))
    # total-frame-pixel cap site
    with pytest.raises(GifResourceCap):
        decode_gif_frames(ok, max_total_pixels=300)
    # corruption is NOT the cap type
    with pytest.raises(ValueError) as exc:
        decode_gif_frames(b"GIF89a\x00")
    assert not isinstance(exc.value, GifResourceCap)
