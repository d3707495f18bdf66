"""Arithmetic-coded (SOF9) JPEG: the T.81 Annex D QM coder and its
integration into the production ``jpeg`` decoder.

Ground truth is the SYSTEM libjpeg(-turbo), driven as a subprocess
through a tiny C shim (tests/native/jpegshim.c) compiled on demand —
gcc and the libjpeg dev headers are baked into the image; nothing is
installed, and the production decode path never touches the shim.
Tests that need the shim skip cleanly where it cannot be built.

The two directions validated against the reference implementation:
  * libjpeg-ENCODED arithmetic scans (randomized images, gray/color,
    4:4:4/4:2:0/4:2:2, restart intervals) must decode through OUR
    production path to pixels IDENTICAL to our decode of libjpeg's
    Huffman encode of the same image — both carry the same quantized
    coefficients (verified via jpeg_read_coefficients while building
    this suite), so any entropy-decode divergence shows up as a pixel
    diff with probability ~1.
  * OUR QM-encoded fixtures must decode under libjpeg to the same
    closed-form pixels our decoder produces (±1 for libjpeg's integer
    IDCT vs our float IDCT).

The same shim retro-validates the HUFFMAN decode paths (baseline,
progressive, multi-scan) against real libjpeg output — the strongest
cross-check the native-decode seam has had (round 10 closed it with an
independent pure-Python PNG decoder; a real codec binary is stronger).
"""

from __future__ import annotations

import io
import os
import shutil
import struct
import subprocess

import numpy as np
import pytest

from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    jpegarith as ja,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    multimodal as MM,
)

SHIM_SRC = os.path.join(os.path.dirname(__file__), "native", "jpegshim.c")

_HAVE_TOOLCHAIN = bool(shutil.which("gcc")) and os.path.exists(
    "/usr/include/jpeglib.h"
)


@pytest.fixture(scope="session")
def jpegshim(tmp_path_factory):
    if not _HAVE_TOOLCHAIN:
        pytest.skip("gcc + libjpeg dev headers not available")
    exe = str(tmp_path_factory.mktemp("jpegshim") / "jpegshim")
    subprocess.run(
        ["gcc", "-O2", "-o", exe, SHIM_SRC, "-ljpeg"], check=True
    )
    return exe


def _shim_encode(exe, img, quality=85, arith=1, prog=0, sub=0, rst=0):
    h, w, nc = img.shape
    r = subprocess.run(
        [exe, "encode", str(w), str(h), str(nc), str(quality),
         str(arith), str(prog), str(sub), str(rst)],
        input=img.tobytes(), capture_output=True,
    )
    assert r.returncode == 0, r.stderr.decode()
    return r.stdout


def _shim_decode(exe, jpg):
    r = subprocess.run([exe, "decode"], input=jpg, capture_output=True)
    assert r.returncode == 0, r.stderr.decode()
    hdr, rest = r.stdout.split(b"\n", 1)
    w, h, nc = map(int, hdr.split())
    return np.frombuffer(rest, dtype=np.uint8).reshape(h, w, nc)


def _shim_coefs(exe, jpg):
    r = subprocess.run([exe, "coefs"], input=jpg, capture_output=True)
    assert r.returncode == 0, r.stderr.decode()
    f = io.BytesIO(r.stdout)
    ncomp = int(f.readline())
    out = {}
    for _ in range(ncomp):
        cid, wb, hb = map(int, f.readline().split())
        out[cid] = np.frombuffer(
            f.read(wb * hb * 128), dtype="<i2"
        ).reshape(hb, wb, 64).astype(np.int32)
    return out


# ---------------------------------------------------------------- #
# QM coder, shim-free                                               #
# ---------------------------------------------------------------- #


def test_qm_coder_self_roundtrip():
    """Encoder and decoder are exact inverses over random decision
    sequences with shared adaptive contexts — including carry and
    byte-stuffing paths (long MPS runs drive C through 0xFF bytes)."""
    rng = np.random.default_rng(7)
    for _ in range(25):
        n = int(rng.integers(1, 4000))
        bits = rng.integers(0, 2, n).tolist()
        ctxs = rng.integers(0, 12, n).tolist()
        enc = ja.QMEncoder()
        st = bytearray(12)
        for b, cx in zip(bits, ctxs):
            enc.encode(st, cx, int(b))
        stream = enc.finish()
        dec = ja.QMDecoder(stream.replace(b"\xff\x00", b"\xff"))
        st2 = bytearray(12)
        got = [dec.decode(st2, cx) for cx in ctxs]
        assert got == [int(b) for b in bits]


def test_qm_coder_skewed_and_constant_streams():
    """Heavily-skewed and constant inputs exercise the fast-attack
    state chain, MPS/LPS exchange, and the stuffing of emitted 0xFF
    bytes; compression of a constant stream must be near-total."""
    for p_one in (0.0, 1.0, 0.02, 0.98):
        rng = np.random.default_rng(int(p_one * 100) + 1)
        bits = (rng.random(5000) < p_one).astype(int).tolist()
        enc = ja.QMEncoder()
        st = bytearray(1)
        for b in bits:
            enc.encode(st, 0, b)
        stream = enc.finish()
        if p_one in (0.0, 1.0):
            assert len(stream) < 40  # ~5000 identical decisions
        dec = ja.QMDecoder(stream.replace(b"\xff\x00", b"\xff"))
        st2 = bytearray(1)
        assert [dec.decode(st2, 0) for _ in bits] == bits


def test_dc_ac_model_roundtrip():
    """The Annex F statistical models (DC conditioning categories,
    AC EOB/run/magnitude trees) round-trip random coefficient blocks
    under every conditioning setting they dispatch on."""
    rng = np.random.default_rng(13)
    for lo, hi, kx in ((0, 1, 5), (0, 2, 9), (1, 3, 1), (0, 0, 63)):
        blocks = []
        for _ in range(24):
            blk = [0] * 64
            for _ in range(int(rng.integers(0, 24))):
                blk[int(rng.integers(1, 64))] = int(
                    rng.integers(-2047, 2048)
                )
            blk[0] = int(rng.integers(-2048, 2048))
            blocks.append(blk)
        enc = ja.QMEncoder()
        dstats, astats = ja.new_dc_stats(), ja.new_ac_stats()
        fixed = ja.new_fixed_bin()
        ctx = pred = 0
        for blk in blocks:
            ctx = ja.encode_dc_diff(
                enc, dstats, ctx, lo, hi, blk[0] - pred
            )
            pred = blk[0]
            ja.encode_ac_block(enc, astats, fixed, kx, blk)
        stream = enc.finish().replace(b"\xff\x00", b"\xff")
        dec = ja.QMDecoder(stream)
        dstats, astats = ja.new_dc_stats(), ja.new_ac_stats()
        fixed = ja.new_fixed_bin()
        ctx = pred = 0
        for blk in blocks:
            out = [0] * 64
            diff, ctx = ja.decode_dc_diff(dec, dstats, ctx, lo, hi)
            pred += diff
            out[0] = pred
            ja.decode_ac_block(dec, astats, fixed, kx, out)
            assert out == blk


def test_arith_fixtures_closed_form():
    """Every synthesize_arith_jpeg_media variant — incl. the SOF10
    progressive one with its DC refinement reassembly — decodes
    through the production path to its closed form (the oracle
    contract of q_jpeg_arith_stats), over both parities of the
    refinement bit."""
    maker = MM._make_dc_jpeg_arith()
    for d in range(16):
        dc = (d * 7) % 100 - 50
        v = 128 + 2 * dc
        px = MM.decode_jpeg_pixels(maker([dc, 0, 0], d % 4))
        nch = 1 if d % 4 == 0 else 3
        assert px.shape == (8, 16, nch)
        assert int(px.min()) == v and int(px.max()) == v
    # odd DC values drive the progressive refinement bit to 1 (the
    # doc_id-derived dcs above are all even: 2·dc is, dc may not be —
    # cover both refinement parities explicitly)
    for dc in (-7, -2, 3, 48):
        px = MM.decode_jpeg_pixels(maker([dc, 0, 0], 3))
        assert int(px.min()) == int(px.max()) == 128 + 2 * dc


def test_arith_malformed_inputs_raise_typed():
    maker = MM._make_dc_jpeg_arith()
    good = maker([10, 0, 0], 1)
    # bad DAC class nibble
    dac_at = good.find(b"\xff\xcc")
    bad = bytearray(good)
    bad[dac_at + 4] = 0x20  # class 2: invalid
    with pytest.raises(ValueError, match="DAC"):
        MM.decode_jpeg_pixels(bytes(bad))
    # AC conditioning Kx = 0 is out of range
    bad = bytearray(good)
    assert bad[dac_at + 6] == 0x10
    bad[dac_at + 7] = 0
    with pytest.raises(ValueError, match="DAC"):
        MM.decode_jpeg_pixels(bytes(bad))
    # restart variant with its RST0 corrupted to RST3: mis-sequenced
    rstd = maker([10, 0, 0], 2)
    broken = rstd.replace(b"\xff\xd0", b"\xff\xd3", 1)
    with pytest.raises(ValueError, match="restart"):
        MM.decode_jpeg_pixels(broken)
    # a sequential scan header under a progressive-arithmetic SOF is
    # a typed spec violation (round 11: SOF10 decodes for real now)
    prog = good.replace(b"\xff\xc9", b"\xff\xca", 1)
    with pytest.raises(ValueError, match="Se != 0"):
        MM.decode_jpeg_pixels(prog)
    # arithmetic LOSSLESS (SOF11) stays a typed refusal
    lossless = good.replace(b"\xff\xc9", b"\xff\xcb", 1)
    with pytest.raises(NotImplementedError, match="SOF"):
        MM.decode_jpeg_pixels(lossless)


def _arith_intervals(ncomp, dcs, mcus=2):
    """One destuffed-interval QM encode of DC-only MCUs (AC all EOB),
    default conditioning — the building block for hand-assembled SOF9
    fixtures below."""
    enc = ja.QMEncoder()
    dst, ast, fx = ja.new_dc_stats(), ja.new_ac_stats(), ja.new_fixed_bin()
    zeros = [0] * 64
    ctxs = [0] * ncomp
    for m in range(mcus):
        for ci in range(ncomp):
            d = dcs[ci] if m == 0 else 0
            ctxs[ci] = ja.encode_dc_diff(enc, dst, ctxs[ci], 0, 1, d)
            ja.encode_ac_block(enc, ast, fx, 5, zeros)
    return enc.finish()


def _seg(m, b):
    return bytes([0xFF, m]) + struct.pack(">H", len(b) + 2) + b


def test_arith_12bit_grayscale():
    """SOF9 at 12-bit precision (Pq=1 table, 2048 level shift) — the
    arithmetic twin of the 12-bit Huffman path, closed-form pinned
    so the precision plumbing is not a shipped-untested surface."""
    dqt = _seg(0xDB, bytes([0x10])
               + b"".join(struct.pack(">H", 16) for _ in range(64)))
    sof = _seg(0xC9, bytes([12]) + struct.pack(">HH", 8, 16)
               + bytes([1, 1, 0x11, 0]))
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    for dc in (-900, -1, 0, 777):
        jpg = (b"\xff\xd8" + dqt + sof + sos
               + _arith_intervals(1, [dc]) + b"\xff\xd9")
        px = MM.decode_jpeg_pixels(jpg)
        v = 2048 + 2 * dc
        assert px.shape == (8, 16, 1)
        assert int(px.min()) == v == int(px.max())


def test_arith_cmyk_four_component():
    """SOF9 with four components + Adobe APP14: the arithmetic walk
    feeds the same inverted-ink CMYK→RGB closed form as the Huffman
    CMYK leg."""
    import math

    app14 = _seg(0xEE, b"Adobe" + struct.pack(">HHH", 100, 0, 0)
                 + bytes([0]))
    dqt = _seg(0xDB, bytes([0]) + bytes([16] * 64))
    sof = _seg(0xC9, bytes([8]) + struct.pack(">HH", 8, 16) + bytes([4])
               + b"".join(bytes([c, 0x11, 0]) for c in (1, 2, 3, 4)))
    sos = _seg(0xDA, bytes([4])
               + b"".join(bytes([c, 0x00]) for c in (1, 2, 3, 4))
               + bytes([0, 63, 0]))
    dcs = [10, 20, -30, 40]
    jpg = (b"\xff\xd8" + app14 + dqt + sof + sos
           + _arith_intervals(4, dcs) + b"\xff\xd9")
    px = MM.decode_jpeg_pixels(jpg)
    c, m, y, k = (float(128 + 2 * d) for d in dcs)
    exp = [math.floor(c * k / 255.0 + 0.5), math.floor(m * k / 255.0 + 0.5),
           math.floor(y * k / 255.0 + 0.5)]
    assert [int(px[0, 0, i]) for i in range(3)] == exp
    assert int(px.min()) == min(exp) and int(px.max()) == max(exp)


def test_arith_12bit_progressive():
    """SOF10 at 12-bit: DC-first (Al=1) + fixed-bin DC refinement +
    all-EOB AC scan reassemble the exact 12-bit DC — pins the
    precision plumbing of the arithmetic progressive walk (both
    refinement-bit parities)."""
    dqt = _seg(0xDB, bytes([0x10])
               + b"".join(struct.pack(">H", 16) for _ in range(64)))
    sof = _seg(0xCA, bytes([12]) + struct.pack(">HH", 8, 16)
               + bytes([1, 1, 0x11, 0]))
    for dc in (-901, -900, 0, 776, 777):
        out = b"\xff\xd8" + dqt + sof
        # DC first, Al=1: diffs of (dc >> 1)
        enc = ja.QMEncoder()
        dst = ja.new_dc_stats()
        ctx = 0
        for m in range(2):
            ctx = ja.encode_dc_diff(
                enc, dst, ctx, 0, 1, (dc >> 1) if m == 0 else 0
            )
        out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01])) + enc.finish()
        # DC refinement, Ah=1/Al=0: bit 0 of dc per block
        enc = ja.QMEncoder()
        fx = ja.new_fixed_bin()
        for m in range(2):
            enc.encode(fx, 0, dc & 1)
        out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10])) + enc.finish()
        # AC first over [1, 63]: all EOB
        enc = ja.QMEncoder()
        ast = ja.new_ac_stats()
        for m in range(2):
            enc.encode(ast, 0, 1)
        out += _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + enc.finish()
        px = MM.decode_jpeg_pixels(out + b"\xff\xd9")
        v = 2048 + 2 * dc
        assert px.shape == (8, 16, 1)
        assert int(px.min()) == v == int(px.max()), (dc, px.min())


def test_arith_multiscan_per_component():
    """A SOF9 frame whose three components arrive over three separate
    single-component scans (statistics and QM state reset per scan) —
    the arithmetic twin of _jpeg_multiscan_sequential's layout."""
    dqt = _seg(0xDB, bytes([0]) + bytes([16] * 64))
    sof = _seg(0xC9, bytes([8]) + struct.pack(">HH", 8, 16) + bytes([3])
               + b"".join(bytes([c, 0x11, 0]) for c in (1, 2, 3)))
    out = b"\xff\xd8" + dqt + sof
    for cid, dc in ((1, 25), (2, 0), (3, 0)):
        out += (_seg(0xDA, bytes([1, cid, 0x00, 0, 63, 0]))
                + _arith_intervals(1, [dc]))
    px = MM.decode_jpeg_pixels(out + b"\xff\xd9")
    v = 128 + 2 * 25
    assert px.shape == (8, 16, 3)
    assert int(px.min()) == v == int(px.max())
    # a frame whose scans never cover component 3 is malformed
    partial = b"\xff\xd8" + dqt + sof
    for cid in (1, 2):
        partial += (_seg(0xDA, bytes([1, cid, 0x00, 0, 63, 0]))
                    + _arith_intervals(1, [5]))
    with pytest.raises(ValueError, match="never scanned"):
        MM.decode_jpeg_pixels(partial + b"\xff\xd9")


def _fractional_sampling_jpeg() -> bytes:
    """A 3-component frame with sampling factors 3/2/1 — hmax=3 over
    hs=2 is a non-integer ratio."""
    def seg(m, b):
        return bytes([0xFF, m]) + struct.pack(">H", len(b) + 2) + b

    dqt = seg(0xDB, bytes([0]) + bytes([16] * 64))
    sof = seg(0xC0, bytes([8]) + struct.pack(">HH", 24, 24)
              + bytes([3, 1, 0x31, 0, 2, 0x21, 0, 3, 0x11, 0]))
    dht_dc = seg(0xC4, bytes([0x00]) + bytes([0, 0, 0, 12] + [0] * 12)
                 + bytes(range(12)))
    dht_ac = seg(0xC4, bytes([0x10]) + bytes([1] + [0] * 15)
                 + bytes([0]))
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    return (b"\xff\xd8" + dqt + dht_dc + dht_ac + sof + sos
            + b"\x00" * 40 + b"\xff\xd9")


def test_fractional_sampling_refusal_matches_libjpeg_ours():
    """Non-integer chroma subsampling is a PERMANENT boundary with
    reference precedent (libjpeg: 'Fractional sampling not
    implemented yet') — our side of the pin: a typed refusal."""
    with pytest.raises(NotImplementedError, match="non-integer"):
        MM.decode_jpeg_pixels(_fractional_sampling_jpeg())


def test_lossless_family_refusal_matches_libjpeg(jpegshim):
    """After round 11 the decode surface equals (and at 12-bit exceeds)
    stock libjpeg-turbo's: every SOF we refuse, the reference refuses
    too ('Unsupported JPEG process'). Sweep the whole refused family on
    both sides so a silently-widened or silently-narrowed boundary
    cannot drift unnoticed."""
    dqt = _seg(0xDB, bytes([0]) + bytes([16] * 64))
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    for marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xCB, 0xCD, 0xCE, 0xCF):
        sof = _seg(marker, bytes([8]) + struct.pack(">HH", 8, 16)
                   + bytes([1, 1, 0x11, 0]))
        jpg = b"\xff\xd8" + dqt + sof + sos + b"\x00" * 20 + b"\xff\xd9"
        with pytest.raises(NotImplementedError, match="SOF"):
            MM.decode_jpeg_pixels(jpg)
        r = subprocess.run([jpegshim, "decode"], input=jpg,
                           capture_output=True)
        assert r.returncode != 0, hex(marker)
        assert b"Unsupported JPEG process" in r.stderr, hex(marker)
    # >4-component frames: refused on both sides as well (libjpeg
    # rejects the 5th component's SOS entry in every constructible
    # layout — interleaved 4+1 and five per-component scans both fail
    # with 'Invalid component ID'; ours is typed at the frame header)
    sof5 = _seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 16)
                + bytes([5])
                + b"".join(bytes([c, 0x11, 0]) for c in range(1, 6)))
    sos5 = _seg(0xDA, bytes([1, 5, 0x00, 0, 63, 0]))
    jpg5 = b"\xff\xd8" + dqt + sof5 + sos5 + b"\x00" * 20 + b"\xff\xd9"
    with pytest.raises(NotImplementedError, match="component"):
        MM.decode_jpeg_pixels(jpg5)
    r = subprocess.run([jpegshim, "decode"], input=jpg5,
                       capture_output=True)
    assert r.returncode != 0


def test_fractional_sampling_refusal_matches_libjpeg_theirs(jpegshim):
    """...and the reference side: the same stream fails under real
    libjpeg too (nonzero exit through its error path), so refusing it
    matches the reference implementation rather than trailing it."""
    r = subprocess.run(
        [jpegshim, "decode"], input=_fractional_sampling_jpeg(),
        capture_output=True,
    )
    assert r.returncode != 0
    assert b"Fractional sampling" in r.stderr


# ---------------------------------------------------------------- #
# against the reference implementation                              #
# ---------------------------------------------------------------- #


def test_arith_decode_matches_huffman_twin_pixels(jpegshim):
    """libjpeg encodes the same random image twice — Huffman and
    arithmetic — which provably carries identical quantized
    coefficients; our production decode of both must be pixel-
    IDENTICAL (same IDCT/color path on both sides of the entropy
    decoder, so any QM divergence surfaces)."""
    rng = np.random.default_rng(42)
    cases = [
        (nc, sub, rst)
        for nc, sub in ((1, 0), (3, 0), (3, 1), (3, 2))
        for rst in (0, 3)
    ]
    for seed in range(6):
        r = np.random.default_rng(seed)
        w, h = int(r.integers(8, 60)), int(r.integers(8, 50))
        for nc, sub, rst in cases:
            img = rng.integers(0, 256, (h, w, nc), dtype=np.uint8)
            jh = _shim_encode(jpegshim, img, arith=0, sub=sub, rst=rst)
            jar = _shim_encode(jpegshim, img, arith=1, sub=sub, rst=rst)
            ph = MM.decode_jpeg_pixels(jh)
            pa = MM.decode_jpeg_pixels(jar)
            assert ph.shape == pa.shape
            assert np.array_equal(ph, pa), (seed, nc, sub, rst)


def test_arith_coefficients_match_libjpeg_exactly(jpegshim):
    """Belt and braces under the pixel test: the entropy-decoded
    QUANTIZED COEFFICIENTS of a libjpeg arithmetic scan, read through
    our QM primitives, equal jpeg_read_coefficients output bit for
    bit (immune to IDCT rounding)."""
    zz = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
          12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21,
          28, 35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30,
          37, 44, 51, 58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61,
          54, 47, 55, 62, 63]
    for seed in (3, 17, 91):
        rng = np.random.default_rng(seed)
        w, h = int(rng.integers(8, 64)), int(rng.integers(8, 48))
        img = rng.integers(0, 256, (h, w, 1), dtype=np.uint8)
        jpg = _shim_encode(jpegshim, img, quality=70, arith=1)
        truth = _shim_coefs(jpegshim, jpg)[1]
        # minimal marker walk to the scan (gray, one scan, no DRI)
        pos, ent = 2, None
        while pos + 2 <= len(jpg):
            m = jpg[pos + 1]
            if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
                pos += 2
                continue
            if m == 0xD9:
                break
            (ln,) = struct.unpack(">H", jpg[pos + 2 : pos + 4])
            if m == 0xDA:
                ent = pos + 2 + ln
                break
            pos += 2 + ln
        body = jpg[ent:]
        clean = body[: body.find(b"\xff\xd9")].replace(
            b"\xff\x00", b"\xff"
        )
        dec = ja.QMDecoder(clean)
        dst, ast = ja.new_dc_stats(), ja.new_ac_stats()
        fixed = ja.new_fixed_bin()
        hb, wb = truth.shape[:2]
        mine = np.zeros((hb, wb, 64), dtype=np.int32)
        ctx = pred = 0
        for by in range(hb):
            for bx in range(wb):
                blk = mine[by, bx]
                diff, ctx = ja.decode_dc_diff(dec, dst, ctx, 0, 1)
                pred += diff
                blk[0] = pred
                ja.decode_ac_block(dec, ast, fixed, 5, blk)
        nat = np.zeros_like(mine)
        for k in range(64):
            nat[:, :, zz[k]] = mine[:, :, k]
        assert np.array_equal(nat, truth)


def test_our_arith_encodes_decode_under_libjpeg(jpegshim):
    """Every fixture variant our QM ENCODER produces — sequential
    AND progressive — is accepted by libjpeg and decodes to the
    closed-form pixels (±1 for libjpeg's integer IDCT/color path vs
    our float one)."""
    maker = MM._make_dc_jpeg_arith()
    for d in range(16):
        dc = (d * 7) % 100 - 50
        v = 128 + 2 * dc
        jpg = maker([dc, 0, 0], d % 4)
        ref = _shim_decode(jpegshim, jpg)
        assert int(ref.min()) >= v - 1 and int(ref.max()) <= v + 1


def test_arith_progressive_decode_matches_huffman_twin(jpegshim):
    """SOF10: libjpeg's FULL jpeg_simple_progression scan script
    (DC first + DC refinement + spectral AC bands + two AC
    successive-approximation refinement passes) under arithmetic
    coding decodes pixel-identically to our decode of its Huffman
    progressive twin — exercising decode_ac_refine and the fixed-bin
    DC refinement against the reference implementation."""
    rng = np.random.default_rng(9)
    for seed in range(5):
        r = np.random.default_rng(seed + 31)
        w, h = int(r.integers(8, 70)), int(r.integers(8, 50))
        for nc, sub in ((1, 0), (3, 0), (3, 1)):
            for rst in (0, 2):
                img = rng.integers(0, 256, (h, w, nc), dtype=np.uint8)
                jh = _shim_encode(
                    jpegshim, img, arith=0, prog=1, sub=sub, rst=rst
                )
                jar = _shim_encode(
                    jpegshim, img, arith=1, prog=1, sub=sub, rst=rst
                )
                ph = MM.decode_jpeg_pixels(jh)
                pa = MM.decode_jpeg_pixels(jar)
                assert np.array_equal(ph, pa), (seed, nc, sub, rst)


def test_progressive_app14_rgb_honored(jpegshim):
    """A progressive stream with an Adobe APP14 transform=0 marker
    must skip the YCbCr→RGB conversion (the planes ARE the output) —
    pins the round-11 fix where _jpeg_progressive parsed APP14 but
    dropped it at reconstruction. libjpeg agrees on the
    interpretation, so both decoders differ only by IDCT rounding."""
    rng = np.random.default_rng(77)
    img = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    jpg = _shim_encode(jpegshim, img, quality=90, arith=0, prog=1)
    app14 = (
        b"\xff\xee" + struct.pack(">H", 14)
        + b"Adobe" + struct.pack(">HHH", 100, 0, 0) + bytes([0])
    )
    # REPLACE the JFIF APP0 with the Adobe APP14 (JFIF takes
    # precedence when both are present — in libjpeg AND, since the
    # round-11 review fix, in our walks too; real Adobe files carry
    # no JFIF)
    assert jpg[2:4] == b"\xff\xe0"
    app0_len = 2 + struct.unpack(">H", jpg[4:6])[0]
    spliced = jpg[:2] + app14 + jpg[2 + app0_len :]
    ours = MM.decode_jpeg_pixels(spliced).astype(int)
    ref = _shim_decode(jpegshim, spliced).astype(int)
    assert ours.shape == ref.shape
    assert np.abs(ours - ref).max() <= 1
    # and the result genuinely differs from the YCbCr interpretation
    converted = MM.decode_jpeg_pixels(jpg).astype(int)
    assert np.abs(ours - converted).max() > 8
    # BOTH markers present: JFIF wins and the Adobe transform is
    # ignored — our decode equals the plain-JFIF decode exactly, and
    # libjpeg agrees (round-11 review fix: previously the Adobe
    # transform was honored unconditionally)
    both = jpg[:2] + app14 + jpg[2:]
    ours_both = MM.decode_jpeg_pixels(both).astype(int)
    assert np.array_equal(ours_both, converted)
    ref_both = _shim_decode(jpegshim, both).astype(int)
    assert np.abs(ours_both - ref_both).max() <= 4  # IDCT+color tail


def test_sos_component_count_bounds_are_typed():
    """An SOS naming zero components (or more than T.81's four) is a
    typed ValueError in every scan layout, never a raw IndexError
    escaping the strict-poison contract (round-11 review fix)."""
    maker = MM._make_dc_jpeg_arith()
    seq = maker([10, 0, 0], 0)  # gray SOF9, single scan
    sos_at = seq.find(b"\xff\xda")
    bad = bytearray(seq)
    bad[sos_at + 4] = 0  # Ns = 0
    with pytest.raises(ValueError, match="component count"):
        MM.decode_jpeg_pixels(bytes(bad))
    prog = maker([10, 0, 0], 3)  # SOF10, first scan interleaved
    sos_at = prog.find(b"\xff\xda")
    bad = bytearray(prog)
    bad[sos_at + 4] = 0
    with pytest.raises(ValueError, match="component count"):
        MM.decode_jpeg_pixels(bytes(bad))
    # Huffman multi-scan walk: 12-bit color fixture, Ns patched to 5
    huff = MM._dc_jpeg([1, 2, 3], prec=12)
    sos_at = huff.find(b"\xff\xda")
    bad = bytearray(huff)
    bad[sos_at + 4] = 5
    with pytest.raises(ValueError, match="component count|truncated"):
        MM.decode_jpeg_pixels(bytes(bad))


def test_huffman_paths_match_libjpeg(jpegshim):
    """Retro cross-check of the HUFFMAN decode paths against real
    libjpeg pixels: grayscale baseline and progressive are IDCT-only
    (tolerance ±1 for jidctint vs our float IDCT); 4:4:4 color adds
    libjpeg's fixed-point YCbCr→RGB, which compounds with the IDCT
    rounding (measured tail: max 4 on 0.01% of pixels, mean ~0.4) —
    bounded as max ≤ 5, mean ≤ 1.0, frac(>2) ≤ 0.1%, which a wrong
    decode (mean tens, frac ~1) trips immediately. Subsampled layouts
    are excluded — replication vs fancy upsampling legitimately
    differs."""
    rng = np.random.default_rng(5)
    for seed in range(8):
        r = np.random.default_rng(seed + 100)
        w, h = int(r.integers(8, 80)), int(r.integers(8, 60))
        for nc, prog in ((1, 0), (1, 1), (3, 0), (3, 1)):
            img = rng.integers(0, 256, (h, w, nc), dtype=np.uint8)
            jpg = _shim_encode(
                jpegshim, img, quality=90, arith=0, prog=prog
            )
            ours = MM.decode_jpeg_pixels(jpg).astype(int)
            ref = _shim_decode(jpegshim, jpg).astype(int)
            assert ours.shape == ref.shape
            d = np.abs(ours - ref)
            if nc == 1:
                assert d.max() <= 1, (seed, prog, d.max())
            else:
                assert d.max() <= 5, (seed, prog, d.max())
                assert d.mean() <= 1.0, (seed, prog, d.mean())
                assert (d > 2).mean() <= 1e-3, (seed, prog)
