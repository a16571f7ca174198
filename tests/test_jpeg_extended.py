"""Extended-sequential JPEG (SOF1, T.81) contracts — round 8,
VERDICT r7 "What's missing #1": the scanned-document profile. 12-bit
samples with 16-bit quantization tables (Pq=1) and per-image optimal
Huffman tables (DC categories past the Annex K range), plus the
8-bit SOF1 variant; decode shares the baseline scan machinery."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bigdataflink_spark.operators.multimodal import (
    _optimal_dht,
    jpeg_decode,
    jpeg_encode,
    jpeg_encode_extended,
)


def _img12(h, w, seed=0):
    rng = np.random.RandomState(seed)
    base = rng.randint(0, 4096, (h // 4 + 2, w // 4 + 2, 3))
    img = np.repeat(np.repeat(base, 4, 0), 4, 1)[:h, :w]  # smooth-ish
    return img.astype(np.uint16)


def test_sof1_12bit_roundtrip_smooth_gradient_near_exact():
    g = np.linspace(0, 4095, 64 * 64).reshape(64, 64)
    img = np.stack([g, g, g], axis=-1).astype(np.uint16)
    blob = jpeg_encode_extended(img, quality=95, precision=12)
    dec = jpeg_decode(blob)
    assert dec.dtype == np.uint16 and dec.shape == img.shape
    err = np.abs(dec.astype(np.int64) - img.astype(np.int64)).max()
    # 12-bit keeps ~16x the 8-bit tonal resolution: a smooth ramp at
    # q95 lands within a handful of 12-bit steps (≪ one 8-bit step)
    assert err <= 8, err


def test_sof1_stream_structure_and_16bit_dqt():
    img = _img12(24, 40, seed=2)
    blob = jpeg_encode_extended(img, quality=90, precision=12)
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    assert b"\xff\xc1" in blob and b"\xff\xc0" not in blob
    # DQT Pq nibble = 1 (16-bit entries), precision byte = 12
    i = blob.find(b"\xff\xdb")
    assert blob[i + 4] >> 4 == 1
    j = blob.find(b"\xff\xc1")
    assert blob[j + 4] == 12
    # no APP0: JFIF is defined for 8-bit samples only
    assert b"JFIF" not in blob
    dec = jpeg_decode(blob)
    assert dec.dtype == np.uint16 and dec.shape == img.shape


def test_sof1_8bit_variant_matches_baseline_quality():
    rng = np.random.RandomState(5)
    base = rng.randint(0, 256, (8, 11, 3))
    img = np.repeat(np.repeat(base, 4, 0), 4, 1).astype(np.uint8)
    ext = jpeg_decode(jpeg_encode_extended(img, quality=90, precision=8))
    bas = jpeg_decode(jpeg_encode(img, quality=90))
    assert ext.dtype == np.uint8
    # same coefficients, different entropy tables: decoded pixels of
    # the SOF1 stream match the SOF0 stream exactly
    assert (ext == bas).all()


@settings(max_examples=10, deadline=None)
@given(
    h=st.integers(9, 40),
    w=st.integers(9, 40),
    sub=st.sampled_from(["444", "420", "422"]),
    q=st.sampled_from([75, 90, 95]),
    seed=st.integers(0, 10_000),
)
def test_sof1_12bit_decodes_all_shapes(h, w, sub, q, seed):
    img = _img12(h, w, seed=seed)
    dec = jpeg_decode(jpeg_encode_extended(img, quality=q, subsample=sub,
                                           precision=12))
    assert dec.shape == img.shape and dec.dtype == np.uint16
    assert int(dec.max()) <= 4095


def test_optimal_dht_never_assigns_all_ones_code():
    # the T.81 C.2 requirement the virtual-symbol trick exists for
    for freqs in (
        {0: 100, 1: 50, 2: 25, 3: 12, 15: 1},
        {i: 1 for i in range(180)},  # forces deep codes
        {0x00: 1000, 0xF0: 1},
        {5: 7},
    ):
        bits, vals = _optimal_dht(freqs)
        assert sum(bits) == len(vals)
        assert set(vals) >= {s for s, f in freqs.items() if f > 0}
        # rebuild canonical codes; no code may be all 1s at its length
        code, k = 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                assert code != (1 << ln) - 1, (ln, code)
                code += 1
                k += 1
            code <<= 1


def test_wild_profile_gates_updated():
    # SOF1 (round 8) and SOF3 (round 9) no longer gate; the
    # arithmetic-coded and differential / hierarchical SOFs still do,
    # clearly
    img = _img12(16, 16, seed=9)
    blob = bytearray(jpeg_encode_extended(img, precision=12))
    j = blob.find(b"\xff\xc1")
    blob[j + 1] = 0xC5  # differential sequential (SOF5)
    with pytest.raises(NotImplementedError, match="SOF5"):
        jpeg_decode(bytes(blob))
    blob[j + 1] = 0xCD  # differential arithmetic sequential (SOF13)
    with pytest.raises(NotImplementedError, match="SOF13"):
        jpeg_decode(bytes(blob))
    blob[j + 1] = 0xC9  # arithmetic sequential (SOF9)
    with pytest.raises(NotImplementedError, match="SOF9"):
        jpeg_decode(bytes(blob))
    # a DCT stream masquerading as SOF3 routes to the lossless path
    # and fails CONTROLLED (its SOS Ss=0 is no legal predictor)
    blob[j + 1] = 0xC3
    with pytest.raises(ValueError, match="predictor"):
        jpeg_decode(bytes(blob))


def test_sof1_12bit_sample_range_enforced():
    bad = np.full((8, 8, 3), 4096, dtype=np.uint16)
    with pytest.raises(AssertionError, match="12 bits"):
        jpeg_encode_extended(bad, precision=12)


def _generic_factor_encode(img, factors, quality=90):
    """Test-local minimal sequential encoder with ARBITRARY per-
    component sampling factors (the library encoder only emits
    444/422/420) — exists to mint fractional-ratio streams (e.g.
    3x1 luma over 2x1 chroma) that wild scanners produce but no
    in-repo profile does. Interleaved single scan, Annex K tables."""
    import struct

    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        _BitWriter,
        _H_AC_CHR,
        _H_AC_LUM,
        _H_DC_CHR,
        _H_DC_LUM,
        _ZIGZAG,
        _dqt_segments,
        _dht_segments,
        _emit_block,
        _huff_codes,
        _quant_tables,
        _zigzag_quant_blocks,
    )

    h, w = img.shape[:2]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    qlum, qchr = _quant_tables(quality)
    f = img.astype(np.float64)
    y = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
    cb = (-0.168736 * f[:, :, 0] - 0.331264 * f[:, :, 1]
          + 0.5 * f[:, :, 2] + 128)
    cr = (0.5 * f[:, :, 0] - 0.418688 * f[:, :, 1]
          - 0.081312 * f[:, :, 2] + 128)
    comps_px = [np.clip(p, 0, 255) - 128.0 for p in (y, cb, cr)]
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    zzs = []
    for ci, (ch, cv) in enumerate(factors):
        cw, chh = -(-w * ch // hmax), -(-h * cv // vmax)  # T.81 A.1.1
        # downsample by index gather to the component grid, then pad
        xs = (np.arange(cw, dtype=np.int64) * hmax) // ch
        ys = (np.arange(chh, dtype=np.int64) * vmax) // cv
        p = comps_px[ci][np.minimum(ys, h - 1)][:, np.minimum(xs, w - 1)]
        W, H = mcus_x * ch * 8, mcus_y * cv * 8
        p = np.pad(p, ((0, H - chh), (0, W - cw)), mode="edge")
        zzs.append(_zigzag_quant_blocks(p, qlum if ci == 0 else qchr))
    dc = [_huff_codes(*_H_DC_LUM)] + [_huff_codes(*_H_DC_CHR)] * 2
    ac = [_huff_codes(*_H_AC_LUM)] + [_huff_codes(*_H_AC_CHR)] * 2
    bw = _BitWriter()
    dc_prev = [0, 0, 0]
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (ch, cv) in enumerate(factors):
                for r in range(cv):
                    for c in range(ch):
                        dc_prev[ci] = _emit_block(
                            zzs[ci][my * cv + r][mx * ch + c],
                            dc_prev[ci], dc[ci], ac[ci], bw)
    scan = bw.flush()

    def seg(marker, payload):
        return (bytes([0xFF, marker])
                + struct.pack(">H", len(payload) + 2) + payload)

    sof_comps = b"".join(
        bytes([ci + 1, (ch << 4) | cv, 0 if ci == 0 else 1])
        for ci, (ch, cv) in enumerate(factors)
    )
    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, 3) + sof_comps)
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return (b"\xff\xd8" + _dqt_segments(quality) + _dht_segments()
            + sof + sos + scan + b"\xff\xd9")


def test_fractional_chroma_ratio_decodes():
    """Round 8: the last wild-JPEG geometry gate — hmax/ch not an
    integer (3x1 luma over 2x1 chroma) decodes via the T.81 index
    gather instead of raising. Constant chroma makes subsampling
    lossless, so decoded colors must track the source within normal
    DCT error; a misaligned fractional grid would smear them."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import jpeg_decode

    h, w = 16, 30
    ramp = np.linspace(40, 215, h * w).reshape(h, w)
    img = np.stack(
        [ramp, ramp * 0.5 + 60, np.full((h, w), 90.0)], axis=-1
    ).astype(np.uint8)
    for factors in [((3, 1), (2, 1), (1, 1)), ((3, 2), (2, 1), (1, 2)),
                    ((4, 1), (3, 1), (2, 1))]:
        blob = _generic_factor_encode(img, factors)
        dec = jpeg_decode(blob)
        assert dec.shape == img.shape
        err = np.abs(dec.astype(np.int64) - img.astype(np.int64)).mean()
        assert err <= 6.0, (factors, err)


def test_integral_ratio_gather_matches_repeat_exactly():
    """The gather upsampler must be pixel-identical to the previous
    repeat-based one on every integral profile (444/422/420) — pinned
    against the committed q187/q188 contract by re-decoding."""
    import numpy as np

    from bigdataflink_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode,
    )

    rng = np.random.RandomState(21)
    img = np.repeat(np.repeat(rng.randint(0, 256, (5, 7, 3)), 4, 0), 4, 1
                    ).astype(np.uint8)
    for sub in ("444", "422", "420"):
        dec = jpeg_decode(jpeg_encode(img, quality=90, subsample=sub))
        # identical geometry: (y*cv)//vmax == y//(vmax//cv) for
        # integral ratios, so this decode is byte-identical to the
        # round-7 decoder's — guarded further by the q187/q188/q204
        # oracles, which hash every decoded value
        assert dec.shape == img.shape
        err = np.abs(dec.astype(np.int64) - img.astype(np.int64)).mean()
        assert err <= 8.0, (sub, err)


def test_sof1_grayscale_and_restart_markers():
    """Round-8 late: the dominant real scanned-document shapes — a
    single-component grayscale SOF1 stream (2-D input), and DRI/RSTn
    restart markers with DC-predictor resets agreed between the
    stats pass and the emit pass (a mismatch would corrupt every
    post-restart DC category)."""
    g = np.linspace(0, 4095, 40 * 56).reshape(40, 56).astype(np.uint16)
    blob = jpeg_encode_extended(g, quality=95, precision=12)
    # single component, 16-bit DQT, no chroma table
    j = blob.find(b"\xff\xc1")
    assert blob[j + 9] == 1  # SOF component count
    assert blob.count(b"\xff\xdb") == 1  # only the luma DQT
    dec = jpeg_decode(blob)
    assert dec.shape == (40, 56, 3) and dec.dtype == np.uint16
    assert (dec[:, :, 0] == dec[:, :, 1]).all()  # gray replicated
    err = np.abs(
        dec[:, :, 0].astype(np.int64) - g.astype(np.int64)
    ).max()
    assert err <= 12, err

    # restarts: DRI present, RSTn in the scan, decode matches the
    # restart-free stream's pixels exactly (same coefficients)
    rng = np.random.RandomState(4)
    base = rng.randint(0, 4096, (9, 12, 3))
    img = np.repeat(np.repeat(base, 4, 0), 4, 1).astype(np.uint16)
    plain = jpeg_decode(
        jpeg_encode_extended(img, quality=92, precision=12)
    )
    with_ri = jpeg_encode_extended(
        img, quality=92, precision=12, restart_interval=2
    )
    assert b"\xff\xdd" in with_ri and b"\xff\xd0" in with_ri
    assert (jpeg_decode(with_ri) == plain).all()
    # grayscale + restarts together (per-block restart units)
    g8 = (g >> 4).astype(np.uint8)
    b8 = jpeg_encode_extended(g8, quality=90, precision=8,
                              restart_interval=3)
    assert b"\xff\xdd" in b8
    d8 = jpeg_decode(b8)
    assert np.abs(
        d8[:, :, 0].astype(np.int64) - g8.astype(np.int64)
    ).max() <= 2
