"""Progressive (SOF2) and 12-bit (SOF1) JPEG decode — the round-10
"progressive/12-bit → typed quarantine" gap, closed in round 11.

The load-bearing idea: the progressive fixture encoder reuses the
baseline encoder's QUANTIZED COEFFICIENT BLOCKS and changes only the
scan structure, and the decoder reconstructs every file from a shared
coefficient store. So ``decode(progressive) == decode(baseline)``
pins the entire progressive scan machinery (spectral selection,
successive approximation, DC/AC refinement, EOB runs, correction
bits) against an independently-verified path — the baseline decoder
is oracle-checked at sf0.01 by the media_jpeg_histogram contract
query. No image library exists in this container, so cross-encoder
validation against libjpeg/PIL is environmental; the refinement
control flow mirrors the public libjpeg structure and is documented
as such in the code.
"""

import random
import struct

import numpy as np
import pytest

from yandex_tracker_exporter_spark import multimodal as mm


def _rand_pixels(w, h, seed):
    return np.random.RandomState(seed).randint(
        0, 256, size=w * h
    ).astype(np.uint8).tobytes()


@pytest.mark.parametrize("w,h,seed", [(8, 8, 1), (16, 8, 2), (24, 16, 3), (32, 32, 4)])
def test_progressive_equals_baseline_gray(w, h, seed):
    pix = _rand_pixels(w, h, seed)
    base, _, _ = mm._jpeg_decode_planes(mm.encode_jpeg_gray(w, h, pix))
    prog, pw, ph = mm._jpeg_decode_planes(
        mm.encode_jpeg_gray_progressive(w, h, pix)
    )
    assert (pw, ph) == (w, h)
    assert all(np.array_equal(a, b) for a, b in zip(base, prog))


@pytest.mark.parametrize("al", [1, 2, 3])
def test_progressive_successive_approximation_depths(al):
    """Deeper point transforms mean MORE refinement scans (one DC + one
    AC refinement round per bit) — every depth must reconstruct the
    same planes the baseline carries."""
    w, h = 40, 24
    pix = _rand_pixels(w, h, 10 + al)
    base, _, _ = mm._jpeg_decode_planes(mm.encode_jpeg_gray(w, h, pix))
    prog, _, _ = mm._jpeg_decode_planes(
        mm.encode_jpeg_gray_progressive(w, h, pix, al=al)
    )
    assert all(np.array_equal(a, b) for a, b in zip(base, prog))


def test_progressive_equals_baseline_color_444():
    """Three 1x1 components: the DC scan is interleaved (ns=3, MCU
    order), the AC scans are per-component — both orders must land on
    the same coefficients the baseline interleaved scan carries."""
    w, h = 16, 16
    blocks = [
        mm._jpeg_quantize_blocks(w, h, _rand_pixels(w, h, 20 + c))
        for c in range(3)
    ]
    comps = [(1, 1, 1, blocks[0]), (2, 1, 1, blocks[1]), (3, 1, 1, blocks[2])]
    base, _, _ = mm._jpeg_decode_planes(mm._encode_jpeg_coeffs(w, h, comps))
    prog, _, _ = mm._jpeg_decode_planes(
        mm._encode_jpeg_progressive_coeffs(w, h, comps)
    )
    assert len(base) == len(prog) == 3
    assert all(np.array_equal(a, b) for a, b in zip(base, prog))


def test_progressive_eob_run_heavy_constant_blocks():
    """Block-constant input has zero AC everywhere: every AC scan is
    pure EOB runs and every refinement scan is pure correction-free
    EOBs — the degenerate path that found most EOB bugs in real
    decoders."""
    img = np.zeros((8, 32), dtype=np.uint8)
    for b in range(4):
        img[:, b * 8:(b + 1) * 8] = b * 60 + 10
    base, _, _ = mm._jpeg_decode_planes(mm.encode_jpeg_gray(32, 8, img.tobytes()))
    prog, _, _ = mm._jpeg_decode_planes(
        mm.encode_jpeg_gray_progressive(32, 8, img.tobytes())
    )
    assert np.array_equal(base[0], prog[0])
    assert np.array_equal(base[0], img)  # block-constant is bit-exact


def test_progressive_scan_script_really_is_progressive():
    """The fixture must actually exercise the machinery it claims to:
    an SOF2 frame, >= 5 SOS segments, at least one with a nonzero
    successive-approximation byte (a refinement scan)."""
    p = mm.encode_jpeg_gray_progressive(24, 16, _rand_pixels(24, 16, 5))
    assert p.find(b"\xff\xc2") > 0 and p.find(b"\xff\xc0") < 0
    sos_at = []
    i = 0
    while True:
        i = p.find(b"\xff\xda", i + 1)
        if i < 0:
            break
        sos_at.append(i)
    assert len(sos_at) >= 5
    ahal = []
    for i in sos_at:
        (seglen,) = struct.unpack(">H", p[i + 2:i + 4])
        ahal.append(p[i + 2 + seglen - 1])
    assert any(b >> 4 for b in ahal), "no refinement scan in the script"
    assert any((b & 0x0F) > 0 for b in ahal), "no point-transformed scan"


def test_12bit_extended_sequential_roundtrip():
    """SOF1 at 12-bit precision: block-constant samples round-trip
    bit-exactly (DC quantizer 8 divides 8*(v-2048) for every v), the
    planes come back uint16 in [0, 4095], and the decode_jpeg contract
    fields hold."""
    w, h = 16, 8
    img = np.zeros((h, w), dtype=np.int64)
    img[:, :8] = 3000
    img[:, 8:] = 123
    payload = mm.encode_jpeg_gray12(w, h, img.reshape(-1))
    assert payload.find(b"\xff\xc1") > 0  # extended sequential marker
    planes, pw, ph = mm._jpeg_decode_planes(payload)
    assert (pw, ph) == (w, h)
    assert planes[0].dtype == np.uint16
    assert np.array_equal(planes[0], img.astype(np.uint16))
    d = mm.decode_jpeg(payload)
    assert d["content_checksum"] == int(img.sum())
    assert mm._decode_payload_verbose(payload)[1] == "ok"
    # extremes of the 12-bit range survive the clip
    img2 = np.full((8, 8), 4095, dtype=np.int64)
    img2[:4] = 0
    planes2, _, _ = mm._jpeg_decode_planes(
        mm.encode_jpeg_gray12(8, 8, img2.reshape(-1))
    )
    # 0/4095 split inside ONE block is lossy (AC quantization) — but
    # values stay inside the legal 12-bit range
    assert planes2[0].max() <= 4095
    with pytest.raises(ValueError, match="12-bit samples"):
        mm.encode_jpeg_gray12(8, 8, [5000] * 64)


def test_progressive_and_12bit_quarantine_shapes():
    """The fuzz/quarantine posture extends to the new paths: random
    corruptions never leak a non-ValueError, a progressive SOF claiming
    huge dims hits the decode cap BEFORE allocating, and the still-
    unsupported processes (lossless, arithmetic) stay malformed."""
    rng = random.Random(99)
    pix = _rand_pixels(24, 16, 7)
    goods = [
        mm.encode_jpeg_gray_progressive(24, 16, pix),
        mm.encode_jpeg_gray_progressive(24, 16, pix, al=2),
        mm.encode_jpeg_gray12(16, 8, list(range(0, 4096, 32))),
    ]
    for g in goods:
        assert mm._decode_payload_verbose(g)[1] == "ok"
        for _ in range(150):
            b = bytearray(g)
            op = rng.randrange(3)
            if op == 0:
                for _ in range(rng.randrange(1, 5)):
                    b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
                p = bytes(b)
            elif op == 1:
                p = bytes(b[: rng.randrange(len(b))])
            else:
                p = bytes(b[: rng.randrange(len(b))]) + bytes(
                    rng.randrange(256) for _ in range(rng.randrange(0, 20))
                )
            mm._decode_payload_verbose(p)  # dict-or-None, never raises

    giant = bytearray(goods[0])
    i = bytes(giant).find(b"\xff\xc2")
    giant[i + 5:i + 9] = struct.pack(">HH", 60000, 60000)
    assert mm._decode_payload_verbose(bytes(giant))[1] == "cap_exceeded"

    # lossless (SOF3) and arithmetic (SOF9) remain typed quarantines
    base = bytearray(mm.encode_jpeg_gray(8, 8, _rand_pixels(8, 8, 9)))
    j = bytes(base).find(b"\xff\xc0")
    for marker in (0xC3, 0xC9):
        b2 = bytearray(base)
        b2[j + 1] = marker
        assert mm._decode_payload_verbose(bytes(b2))[1] == "malformed"


def test_progressive_payload_flows_through_operators(spark):
    """The decode-backed operators accept progressive payloads exactly
    like baseline ones — same histogram, same decode_media row."""
    pix = _rand_pixels(16, 16, 31)
    base = mm.encode_jpeg_gray(16, 16, pix)
    prog = mm.encode_jpeg_gray_progressive(16, 16, pix)
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(prog))],
        "media_id long, payload binary",
    )
    hist = mm.jpeg_gray_histogram(df).collect()
    by_id = {}
    for r in hist:
        by_id.setdefault(r["media_id"], {})[r["bucket"]] = r["n_pixels"]
    assert by_id[1] == by_id[2]
    rows = {r["media_id"]: r for r in mm.decode_media(df).collect()}
    assert rows[1]["content_checksum"] == rows[2]["content_checksum"]
    assert rows[1]["format"] == rows[2]["format"] == "jpeg"


def _rand_blocks(rng, n, scale=12):
    return [rng.randint(-scale, scale, size=64).astype(np.int32) for _ in range(n)]


def test_progressive_equals_baseline_subsampled_420():
    """4:2:0 progressive — the most common JPEG on the web. The Y
    component's MCU grid carries a PADDING column here (w=24 with
    16-px MCUs): interleaved DC scans code it, non-interleaved AC
    scans must skip it (T.81 A.2.2/A.2.3) — and the cropped planes
    still match the baseline interleaved scan bit-for-bit."""
    rng = np.random.RandomState(42)
    w, h = 24, 16
    mcux, mcuy = -(-w // 16), -(-h // 16)
    comps = [
        (1, 2, 2, _rand_blocks(rng, mcux * mcuy * 4)),
        (2, 1, 1, _rand_blocks(rng, mcux * mcuy)),
        (3, 1, 1, _rand_blocks(rng, mcux * mcuy)),
    ]
    base, _, _ = mm._jpeg_decode_planes(mm._encode_jpeg_coeffs(w, h, comps))
    prog, _, _ = mm._jpeg_decode_planes(
        mm._encode_jpeg_progressive_coeffs(w, h, comps)
    )
    assert all(np.array_equal(a, b) for a, b in zip(base, prog))


def test_progressive_equals_baseline_subsampled_422_refined():
    """4:2:2 with a two-bit successive approximation (al=2): two DC and
    two AC refinement rounds over a horizontally-subsampled frame."""
    rng = np.random.RandomState(43)
    w, h = 40, 24
    mcux, mcuy = -(-w // 16), -(-h // 8)
    comps = [
        (1, 2, 1, _rand_blocks(rng, mcux * mcuy * 2)),
        (2, 1, 1, _rand_blocks(rng, mcux * mcuy)),
        (3, 1, 1, _rand_blocks(rng, mcux * mcuy)),
    ]
    base, _, _ = mm._jpeg_decode_planes(mm._encode_jpeg_coeffs(w, h, comps))
    prog, _, _ = mm._jpeg_decode_planes(
        mm._encode_jpeg_progressive_coeffs(w, h, comps, al=2)
    )
    assert all(np.array_equal(a, b) for a, b in zip(base, prog))


def test_progressive_restart_intervals():
    """Restart markers INSIDE progressive scans (camera files do this):
    RSTn resets the DC predictors and the EOB run at every interval in
    every scan — the restart-bearing progressive stream must decode
    bit-identically to the unmarked baseline of the same blocks, and
    the payload must actually carry RST markers."""
    rng = np.random.RandomState(5)
    w, h = 40, 32
    pix = rng.randint(0, 256, size=w * h).astype(np.uint8).tobytes()
    base, _, _ = mm._jpeg_decode_planes(mm.encode_jpeg_gray(w, h, pix))
    prog = mm._encode_jpeg_progressive_coeffs(
        w, h, [(1, 1, 1, mm._jpeg_quantize_blocks(w, h, pix))],
        al=1, restart_interval=3,
    )
    n_rst = sum(prog.count(bytes([0xFF, 0xD0 + i])) for i in range(8))
    assert n_rst >= 20  # every scan restarts every 3 blocks
    pp, _, _ = mm._jpeg_decode_planes(prog)
    assert np.array_equal(base[0], pp[0])

    # subsampled + refined + restarted, all at once
    mcux, mcuy = 3, 2
    comps = [
        (1, 2, 2, _rand_blocks(rng, mcux * mcuy * 4, 15)),
        (2, 1, 1, _rand_blocks(rng, mcux * mcuy, 15)),
        (3, 1, 1, _rand_blocks(rng, mcux * mcuy, 15)),
    ]
    b2, _, _ = mm._jpeg_decode_planes(
        mm._encode_jpeg_coeffs(48, 32, comps, restart_interval=2)
    )
    p2, _, _ = mm._jpeg_decode_planes(
        mm._encode_jpeg_progressive_coeffs(
            48, 32, comps, al=2, restart_interval=2
        )
    )
    assert all(np.array_equal(a, b) for a, b in zip(b2, p2))


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _eob_scan_bomb(n_scans: int) -> bytes:
    """The shared scan-bomb fixture (ADVICE r11 medium): per scan the
    decoder walks every block while consuming ~2 entropy bytes, so
    without the cross-scan count rail total work grows linearly in
    payload size at ~6.5 ms per 1024x1024 scan — the executor-stall
    shape the sequential entropy budget cannot see (progressive scans
    are exempt from it, and decode SUCCEEDS, so no quarantine fires).
    ONE builder serves this pin and the junk-probe payload
    (tools/make_manifest.py media_wave4) — see encode_jpeg_eob_scan_stream."""
    return mm.encode_jpeg_eob_scan_stream(n_scans)


def test_progressive_scan_count_rail():
    """ADVICE r11 (medium): unbounded tiny EOB-run scans must hit the
    scan-count rail and QUARANTINE (ValueError), not stall the
    executor; a stream under the cap still decodes, and every
    legitimate encoder script stays far below the rail."""
    cap = mm.JPEG_MAX_DC_PASSES + mm.JPEG_MAX_SCANS_PER_COMPONENT  # 1 comp
    with pytest.raises(ValueError, match="too many JPEG scans"):
        mm._jpeg_decode_planes(_eob_scan_bomb(cap + 1))
    # under the cap: decodes to the level-shift constant (all coefs 0)
    planes, w, h = mm._jpeg_decode_planes(_eob_scan_bomb(cap - 1))
    assert (w, h) == (256, 256)
    assert int(planes[0].astype(np.int64).sum()) == 128 * 256 * 256

    # the deepest legitimate script this package emits (al=13 -> 29
    # scans for gray, 3 + 2*3*13 = 81 for color... still under the
    # 3-component cap of 14 + 192) stays well clear of the rail
    pix = _rand_pixels(16, 16, 9)
    deep = mm.encode_jpeg_gray_progressive(16, 16, pix, al=13)
    assert deep.count(b"\xff\xda") == 3 + 2 * 13
    base, _, _ = mm._jpeg_decode_planes(mm.encode_jpeg_gray(16, 16, pix))
    prog, _, _ = mm._jpeg_decode_planes(deep)
    assert np.array_equal(base[0], prog[0])


def test_dqt_redefinition_latched_at_first_sos():
    """ADVICE r11: a DQT segment redefining a table BETWEEN scans must
    not retroactively re-quantize coefficients decoded under the
    earlier table — each component's quant table latches at its first
    SOS (libjpeg semantics). Splicing a doubled table 0 between two
    scans (and again before EOI) must leave the decode bit-identical
    to the unmodified stream."""
    pix = _rand_pixels(24, 16, 11)
    clean = mm.encode_jpeg_gray_progressive(24, 16, pix, al=1)
    want, _, _ = mm._jpeg_decode_planes(clean)

    doubled = bytes(
        min(255, 2 * int(mm._JPEG_QT_NAT[mm._JPEG_ZZ[i]])) for i in range(64)
    )
    dqt2 = _seg(0xDB, b"\x00" + doubled)
    # before the SECOND SOS (mid-stream) and before EOI (post-stream);
    # 0xFFDA cannot occur inside entropy data (0xFF is stuffed), so
    # offset search is marker-exact
    second_sos = clean.index(b"\xff\xda", clean.index(b"\xff\xda") + 2)
    # the DHT for scan 2 sits before its SOS; splice ahead of the SOS
    # itself so the redefinition lands between scan 1 and scan 2
    spliced = (
        clean[:second_sos] + dqt2
        + clean[second_sos:-2] + dqt2 + clean[-2:]
    )
    got, _, _ = mm._jpeg_decode_planes(spliced)
    assert np.array_equal(want[0], got[0])
    # and the doubled table REALLY changes the image when it is the
    # table in effect at first SOS (guards against a vacuous pin)
    head = clean.index(b"\xff\xc2")  # DQT is the segment before SOF2
    swapped = clean[:2] + dqt2 + clean[head:]
    alt, _, _ = mm._jpeg_decode_planes(swapped)
    assert not np.array_equal(want[0], alt[0])
