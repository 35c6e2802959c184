"""Baseline JPEG codec (functions/jpeg_codec.py): bit-exact entropy
round trips, pixel differentials against a direct IDCT reference, and
honest rejections. No Spark needed — these are pure-kernel tests."""

import struct

import numpy as np
import pytest

from osm_admin_boundary_conflation_spark.functions import jpeg_codec as J


def _quant(dc=16, ac=4):
    q = np.full((8, 8), ac, dtype=np.int64)
    q[0, 0] = dc
    return q


def _ref_pixels(coeffs, quant):
    """Independent reference: dequant -> orthonormal IDCT -> +128 ->
    clamp, assembled to an image. Shares only the DCT basis definition
    with the decoder, none of the entropy machinery."""
    by, bx = coeffs.shape[:2]
    deq = (coeffs * quant).astype(np.float64)
    px = np.einsum("ux,vy,abuv->abxy", J._A, J._A, deq)
    px = np.clip(np.rint(px + 128.0), 0, 255).astype(np.uint8)
    return px.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)


def _random_coeffs(rng, shape):
    coeffs = np.zeros(shape + (8, 8), dtype=np.int64)
    flat_blocks = coeffs.reshape(-1, 64)
    for blk in flat_blocks:
        nz = rng.randint(0, 12)
        idx = rng.choice(64, size=nz, replace=False)
        blk[idx] = rng.randint(-255, 255, size=nz)
        blk[0] = rng.randint(-700, 700)  # big DC diffs -> long codes
    return coeffs


def test_coefficient_round_trip_is_bit_exact():
    """Encoder plants arbitrary quantized coefficients (random sparsity,
    negative values, big DC swings); the decoder must recover every
    integer exactly BEFORE any float enters — this pins the whole
    entropy layer: canonical Huffman, DC categories + sign extension,
    AC run/size, EOB, ZRL, byte stuffing."""
    rng = np.random.RandomState(1234)
    for _ in range(8):
        shape = (rng.randint(1, 5), rng.randint(1, 5))
        coeffs = _random_coeffs(rng, shape)
        blob = J.encode_baseline_jpeg(coeffs, _quant(), shape[1] * 8, shape[0] * 8)
        got, qtabs = J.decode_baseline_jpeg(blob, return_coeffs=True)
        assert np.array_equal(got[0], coeffs)
        assert np.array_equal(qtabs[0], _quant())


def test_pixels_match_direct_idct_reference():
    rng = np.random.RandomState(77)
    coeffs = _random_coeffs(rng, (3, 4))
    blob = J.encode_baseline_jpeg(coeffs, _quant(), 32, 24)
    img = J.decode_baseline_jpeg(blob)
    assert img.shape == (24, 32) and img.dtype == np.uint8
    assert np.array_equal(img, _ref_pixels(coeffs, _quant()))


def test_zrl_runs_and_eob_edge_cases():
    """>16-zero runs force ZRL symbols; a nonzero at position 63 must
    suppress EOB; an all-zero block is DC-diff-0 + EOB only."""
    coeffs = np.zeros((1, 3, 8, 8), dtype=np.int64)
    coeffs[0, 0, 7, 7] = 5  # zigzag position 63: run of 62 zeros -> 3 ZRLs
    # block 1 all zero; block 2 a lone mid-block value
    coeffs[0, 2, 3, 3] = -9
    blob = J.encode_baseline_jpeg(coeffs, _quant(), 24, 8)
    got, _ = J.decode_baseline_jpeg(blob, return_coeffs=True)
    assert np.array_equal(got[0], coeffs)


def test_restart_markers_reset_dc_predictor():
    rng = np.random.RandomState(5)
    coeffs = _random_coeffs(rng, (2, 4))
    blob = J.encode_baseline_jpeg(coeffs, _quant(), 32, 16, restart_interval=3)
    assert any(bytes([0xFF, 0xD0 + m]) in blob for m in range(8))
    got, _ = J.decode_baseline_jpeg(blob, return_coeffs=True)
    assert np.array_equal(got[0], coeffs)
    # without RST handling the same stream must NOT decode: corrupt one
    # marker id and the decoder should notice the sequence break
    idx = blob.index(b"\xff\xd0", 200)
    bad = blob[:idx] + b"\xff\xd4" + blob[idx + 2 :]
    with pytest.raises(ValueError, match="expected RST"):
        J.decode_baseline_jpeg(bad, return_coeffs=True)


def test_byte_stuffing_survives():
    """DC value chosen so the entropy stream contains literal 0xFF
    bytes (stuffed as FF00); the decoder must unstuff, not treat them
    as markers."""
    rng = np.random.RandomState(11)
    for _ in range(20):
        coeffs = _random_coeffs(rng, (1, 2))
        blob = J.encode_baseline_jpeg(coeffs, _quant(), 16, 8)
        if b"\xff\x00" in blob[20:]:
            break
    else:
        pytest.skip("no stuffed byte produced in 20 seeds (unexpected)")
    got, _ = J.decode_baseline_jpeg(blob, return_coeffs=True)
    assert np.array_equal(got[0], coeffs)


def test_color_444_round_trip_and_ycbcr():
    rng = np.random.RandomState(9)
    coeffs = np.zeros((3, 1, 2, 8, 8), dtype=np.int64)
    for ci in range(3):
        coeffs[ci] = _random_coeffs(rng, (1, 2))
    blob = J.encode_baseline_jpeg(coeffs, _quant(), 16, 8)
    got, _ = J.decode_baseline_jpeg(blob, return_coeffs=True)
    assert np.array_equal(got, coeffs)
    img = J.decode_baseline_jpeg(blob)
    assert img.shape == (8, 16, 3)
    # spot-check the YCbCr->RGB math on the first pixel
    y, cb, cr = (
        float(_ref_pixels(coeffs[c], _quant())[0, 0]) for c in range(3)
    )
    want = np.clip(
        np.rint(
            [
                y + 1.402 * (cr - 128),
                y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128),
                y + 1.772 * (cb - 128),
            ]
        ),
        0,
        255,
    ).astype(np.uint8)
    assert np.array_equal(img[0, 0], want)


def test_dc_only_constant_blocks_decode_losslessly():
    """The gated-query closed form: even block value v, DC quant 16 =>
    quantized DC (v-128)/2 is exact and decode returns exactly v."""
    for v in (0, 2, 128, 200, 254):
        coeffs = np.zeros((1, 1, 8, 8), dtype=np.int64)
        coeffs[0, 0, 0, 0] = (v - 128) // 2
        img = J.decode_baseline_jpeg(J.encode_baseline_jpeg(coeffs, _quant(), 8, 8))
        assert (img == v).all()


def test_non_multiple_of_8_dimensions_crop():
    coeffs = np.zeros((2, 2, 8, 8), dtype=np.int64)
    img = J.decode_baseline_jpeg(J.encode_baseline_jpeg(coeffs, _quant(), 13, 11))
    assert img.shape == (11, 13)


def test_honest_rejections():
    coeffs = np.zeros((1, 1, 8, 8), dtype=np.int64)
    blob = J.encode_baseline_jpeg(coeffs, _quant(), 8, 8)
    with pytest.raises(ValueError, match="missing SOI"):
        J.decode_baseline_jpeg(b"XX" + blob[2:])
    # flip SOF0 -> SOF2: progressive frames are not decoded at all, so
    # the frame marker itself is rejected before any scan is read
    idx = blob.index(b"\xff\xc0")
    prog = blob[:idx] + b"\xff\xc2" + blob[idx + 2 :]
    with pytest.raises(NotImplementedError, match="frame marker 0xFFC2"):
        J.decode_baseline_jpeg(prog)
    # arithmetic-coded progressive (SOF10) stays an honest rejection
    arith = blob[:idx] + b"\xff\xca" + blob[idx + 2 :]
    with pytest.raises(NotImplementedError, match="arithmetic"):
        J.decode_baseline_jpeg(arith)
    # illegal sampling byte (factor 0): hard ValueError, not a decode
    sof_at = idx + 2 + 2  # past marker + length
    bad = bytearray(blob)
    bad[sof_at + 6 + 1] = 0x01  # component 1 sampling h=0
    with pytest.raises(ValueError, match="illegal sampling"):
        J.decode_baseline_jpeg(bytes(bad))
    with pytest.raises(ValueError, match="truncated|expected marker"):
        J.decode_baseline_jpeg(blob[:20])
    # fractional upsampling ratio (hmax=3 not divisible by h=2): honest
    # NotImplementedError — no real encoder emits this layout
    y3 = np.zeros((1, 3, 8, 8), dtype=np.int64)
    c2 = np.zeros((1, 2, 8, 8), dtype=np.int64)
    c1 = np.zeros((1, 1, 8, 8), dtype=np.int64)
    frac = J.encode_baseline_jpeg(
        [y3, c2, c1], _quant(), 24, 8, sampling=[(3, 1), (2, 1), (1, 1)]
    )
    with pytest.raises(NotImplementedError, match="fractional"):
        J.decode_baseline_jpeg(frac)


def test_property_roundtrip_random_coeff_matrices():
    """Hypothesis-style property (seeded sweep): ANY int coefficient
    block within JPEG's codable range must entropy-round-trip exactly,
    for 1..3 components and varying restart intervals."""
    rng = np.random.RandomState(20260817)
    for trial in range(25):
        nc = rng.choice([1, 3])
        by, bx = rng.randint(1, 4), rng.randint(1, 4)
        coeffs = np.zeros((nc, by, bx, 8, 8), dtype=np.int64)
        for ci in range(nc):
            coeffs[ci] = _random_coeffs(rng, (by, bx))
        ri = int(rng.choice([0, 1, 2, 5]))
        blob = J.encode_baseline_jpeg(coeffs, _quant(), bx * 8, by * 8, restart_interval=ri)
        got, _ = J.decode_baseline_jpeg(blob, return_coeffs=True)
        assert np.array_equal(got, coeffs), f"trial {trial} nc={nc} ri={ri}"


def test_fuzz_corruption_never_hangs_or_miscrashes():
    """Deterministic byte-corruption fuzz: a flipped byte anywhere in
    the stream must either still decode (corruption may land in
    ignorable padding / produce other valid symbols) or raise a clean
    ValueError/NotImplementedError — never hang, never segfault-style
    explode. Bounds the entropy decoder's failure behavior."""
    rng = np.random.RandomState(99)
    coeffs = _random_coeffs(rng, (2, 2))
    blob = bytearray(J.encode_baseline_jpeg(coeffs, _quant(), 16, 16))
    for i in range(2, len(blob), max(1, len(blob) // 60)):
        bad = bytearray(blob)
        bad[i] ^= 0x5A
        try:
            J.decode_baseline_jpeg(bytes(bad))
        except (ValueError, NotImplementedError, IndexError, struct.error):
            pass



def test_sos_component_order_resolved_by_id():
    """ADVICE r05 #4: an externally produced baseline JPEG may list SOS
    components in a different order than SOF0; MCU interleave follows
    SCAN order (T.81 B.2.3) but storage/tables resolve by component ID.
    A positional decoder would swap planes silently — require the
    reordered-scan file to decode IDENTICALLY to the frame-order one."""
    rng = np.random.RandomState(21)
    coeffs = np.zeros((3, 2, 2, 8, 8), dtype=np.int64)
    for ci in range(3):
        coeffs[ci] = _random_coeffs(rng, (2, 2))
    normal = J.encode_baseline_jpeg(coeffs, _quant(), 16, 16)
    for order in ([2, 1, 0], [1, 2, 0]):
        reordered = J.encode_baseline_jpeg(
            coeffs, _quant(), 16, 16, scan_order=order
        )
        assert reordered != normal  # genuinely a different byte stream
        got, _ = J.decode_baseline_jpeg(reordered, return_coeffs=True)
        assert np.array_equal(got, coeffs)
        assert np.array_equal(
            J.decode_baseline_jpeg(reordered), J.decode_baseline_jpeg(normal)
        )


def test_sos_unknown_or_duplicate_component_id_rejected():
    """Scan entries naming a component SOF0 never declared (or naming
    one twice) must error, not decode with garbage table bindings."""
    coeffs = np.zeros((3, 1, 1, 8, 8), dtype=np.int64)
    coeffs[:, :, :, 0, 0] = 4
    blob = bytearray(J.encode_baseline_jpeg(coeffs, _quant(), 8, 8))
    sos = blob.find(b"\xff\xda")
    assert sos > 0
    # entries live at sos+5 .. sos+5+2*3, as (component_id, tables) pairs
    bad = bytearray(blob)
    bad[sos + 5] = 77  # unknown id
    with pytest.raises(ValueError, match="not among SOF0"):
        J.decode_baseline_jpeg(bytes(bad))
    dup = bytearray(blob)
    dup[sos + 5 + 2] = dup[sos + 5]  # second entry repeats first id
    with pytest.raises(ValueError, match="twice"):
        J.decode_baseline_jpeg(bytes(dup))


def test_encoder_rejects_invalid_scan_order():
    coeffs = np.zeros((3, 1, 1, 8, 8), dtype=np.int64)
    with pytest.raises(ValueError, match="scan_order"):
        J.encode_baseline_jpeg(coeffs, _quant(), 8, 8, scan_order=[0, 0, 1])


# ---------------------------------------------------------------------------
# Chroma subsampling (VERDICT r05 item 4): 4:2:0 / 4:2:2 MCU tiling
# ---------------------------------------------------------------------------


def test_420_coefficient_round_trip_is_bit_exact():
    """4:2:0 interleave: each MCU carries four Y data units then one Cb
    and one Cr (T.81 A.2.3). Random coefficients in every block of all
    three planes must survive encode->decode bit-exactly, including
    across restart markers (per-component DC predictors reset)."""
    rng = np.random.RandomState(420)
    # 40x24 frame -> mcus_x=3, mcus_y=2; Y grid 4x6, chroma 2x3
    y = _random_coeffs(rng, (4, 6))
    cb = _random_coeffs(rng, (2, 3))
    cr = _random_coeffs(rng, (2, 3))
    for rst in (0, 1, 3):
        blob = J.encode_baseline_jpeg(
            [y, cb, cr], _quant(), 40, 24,
            sampling=[(2, 2), (1, 1), (1, 1)], restart_interval=rst,
        )
        got, qtabs = J.decode_baseline_jpeg(blob, return_coeffs=True)
        assert isinstance(got, list)
        assert np.array_equal(got[0], y)
        assert np.array_equal(got[1], cb)
        assert np.array_equal(got[2], cr)


def test_420_pixels_match_444_on_prereplicated_chroma():
    """Differential 4:2:0 vs 4:4:4: if the 4:4:4 encoding carries the
    chroma planes pre-replicated 2x2 (what box upsampling reconstructs),
    both files must decode to the SAME RGB image. This pins the MCU
    tiling, the chroma crop, and the upsample path against the already-
    verified 4:4:4 decoder with no reference to internal state."""
    rng = np.random.RandomState(99)
    q = _quant()
    # DC-only planes so chroma replication in coefficient space is exact:
    # a constant 8x8 block upsampled 2x2 equals four constant blocks.
    def dc_only(shape, lo=-40, hi=40):
        c = np.zeros(shape + (8, 8), dtype=np.int64)
        c[:, :, 0, 0] = rng.randint(lo, hi, size=shape)
        return c

    y = dc_only((4, 4))
    cb = dc_only((2, 2))
    cr = dc_only((2, 2))
    sub = J.encode_baseline_jpeg(
        [y, cb, cr], q, 32, 32, sampling=[(2, 2), (1, 1), (1, 1)]
    )
    # pre-replicate each chroma block 2x2 in the block grid
    cb_full = np.repeat(np.repeat(cb, 2, axis=0), 2, axis=1)
    cr_full = np.repeat(np.repeat(cr, 2, axis=0), 2, axis=1)
    full = J.encode_baseline_jpeg(np.stack([y, cb_full, cr_full]), q, 32, 32)
    assert np.array_equal(J.decode_baseline_jpeg(sub), J.decode_baseline_jpeg(full))


def test_422_and_scan_order_and_odd_dims():
    """4:2:2 (Y 2x1), SOS scan order Cr,Y,Cb, and non-MCU-multiple
    dimensions: coefficients round-trip and the decoded image crops to
    the declared WxH."""
    rng = np.random.RandomState(422)
    # 36x20 -> mcus_x=ceil(36/16)=3, mcus_y=ceil(20/8)=3
    y = _random_coeffs(rng, (3, 6))
    cb = _random_coeffs(rng, (3, 3))
    cr = _random_coeffs(rng, (3, 3))
    blob = J.encode_baseline_jpeg(
        [y, cb, cr], _quant(), 36, 20,
        sampling=[(2, 1), (1, 1), (1, 1)], scan_order=[2, 0, 1],
    )
    got, _ = J.decode_baseline_jpeg(blob, return_coeffs=True)
    assert np.array_equal(got[0], y)
    assert np.array_equal(got[1], cb)
    assert np.array_equal(got[2], cr)
    assert J.decode_baseline_jpeg(blob).shape == (20, 36, 3)


def test_420_dc_only_closed_form_exact():
    """Closed form: even luma v with DC quant 16 and constant chroma
    138 (DC coeff 5) must decode to exactly (v+14, v-11, v+18) per
    pixel — each T.871 offset is at least 0.08 from a rounding
    boundary, so the result is unambiguous."""
    q = np.ones((8, 8), dtype=np.int64)
    q[0, 0] = 16
    v = 120
    y = np.zeros((2, 2, 8, 8), dtype=np.int64)
    y[:, :, 0, 0] = (v - 128) // 2
    cb = np.zeros((1, 1, 8, 8), dtype=np.int64)
    cr = np.zeros((1, 1, 8, 8), dtype=np.int64)
    cb[0, 0, 0, 0] = 5
    cr[0, 0, 0, 0] = 5
    blob = J.encode_baseline_jpeg(
        [y, cb, cr], q, 16, 16, sampling=[(2, 2), (1, 1), (1, 1)]
    )
    img = J.decode_baseline_jpeg(blob)
    assert (img[:, :, 0] == v + 14).all()
    assert (img[:, :, 1] == v - 11).all()
    assert (img[:, :, 2] == v + 18).all()


def test_encoder_rejects_bad_sampling_grids():
    y = np.zeros((2, 2, 8, 8), dtype=np.int64)
    c = np.zeros((1, 1, 8, 8), dtype=np.int64)
    with pytest.raises(ValueError, match="expected block grid"):
        J.encode_baseline_jpeg(
            [y, c, c], _quant(), 32, 32, sampling=[(2, 2), (1, 1), (1, 1)]
        )  # 32x32 needs a 4x4 Y grid, not 2x2
    with pytest.raises(ValueError, match="sampling factors"):
        J.encode_baseline_jpeg(
            [y, c, c], _quant(), 16, 16, sampling=[(5, 1), (1, 1), (1, 1)]
        )
