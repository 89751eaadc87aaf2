"""FLAC decode tests (round 11) — an INDEPENDENT encoder written from
the format spec (RFC 9639 / xiph FLAC format), mirroring the JPEG test
strategy: fixtures are produced by this encoder, never by the decoder
under test, so agreement is evidence about the spec, not about shared
code.  FLAC is lossless, so every assertion is exact: the decoded
mean-|amplitude| must EQUAL the one computed directly from the source
PCM, and the decoder's STREAMINFO-MD5 verification closes the loop
(the encoder stamps the true MD5 of the interleaved samples; a decoder
that reconstructs even one sample wrong reports opaque, not a number).
"""

from __future__ import annotations

import hashlib

import pytest

from etl_olho_vivo_spark.operators import multimodal
from tests.media_pairs import media_near_dups


# ---------------------------------------------------------------------------
# independent encoder
# ---------------------------------------------------------------------------


class _BW:
    """MSB-first bit writer."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def w(self, v, n):
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.n += n
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def align(self):
        if self.n:
            self.w(0, 8 - self.n)

    def out(self):
        assert self.n == 0
        return bytes(self.buf)


def _crc8(buf):
    c = 0
    for b in buf:
        c ^= b
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1)
    return c


def _crc16(buf):
    c = 0
    for b in buf:
        c ^= b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1)
    return c


def _rice(bw, v, k):
    u = (v << 1) if v >= 0 else (-(v << 1) - 1)
    q = u >> k
    bw.w(0, q)
    bw.w(1, 1)
    if k:
        bw.w(u, k)


def _best_k(vals):
    if not vals:
        return 0
    mean = sum((v << 1) if v >= 0 else (-(v << 1) - 1) for v in vals) / len(
        vals
    )
    k = 0
    while (1 << (k + 1)) < mean + 1 and k < 14:
        k += 1
    return k


def _residual(bw, res, order, bs, porder=0, k=None, method=0,
              escape_raw=None):
    bw.w(method, 2)
    bw.w(porder, 4)
    plen = 4 + method
    idx = 0
    for p in range(1 << porder):
        n = (bs >> porder) - (order if p == 0 else 0)
        part = res[idx:idx + n]
        idx += n
        if escape_raw is not None:
            bw.w((1 << plen) - 1, plen)
            bw.w(escape_raw, 5)
            for v in part:
                if escape_raw:
                    bw.w(v, escape_raw)
        else:
            kk = _best_k(part) if k is None else k
            bw.w(kk, plen)
            for v in part:
                _rice(bw, v, kk)
    assert idx == len(res)


FIXED = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))


def _sub(bw, x, sbps, kind="fixed2", porder=0, k=None, method=0,
         escape_raw=None, wasted=0, coefs=None, shift=0, prec=None):
    """Encode one subframe.  kind: constant | verbatim | fixed<0-4> |
    lpc (with coefs/shift/prec)."""
    bw.w(0, 1)  # padding
    xs = [v >> wasted for v in x]
    ebps = sbps - wasted

    def header(tcode):
        bw.w(tcode, 6)
        if wasted:
            bw.w(1, 1)
            bw.w(0, wasted - 1)  # unary(wasted-1): zeros then a 1
            bw.w(1, 1)
        else:
            bw.w(0, 1)

    if kind == "constant":
        assert len(set(xs)) == 1
        header(0)
        bw.w(xs[0], ebps)
        return
    if kind == "verbatim":
        header(1)
        for v in xs:
            bw.w(v, ebps)
        return
    if kind == "lpc":
        order = len(coefs)
        prec = prec or 12
        header(32 + order - 1)
        for v in xs[:order]:
            bw.w(v, ebps)
        bw.w(prec - 1, 4)
        bw.w(shift, 5)
        for c in coefs:
            bw.w(c, prec)
        res = [
            xs[i]
            - (sum(c * xs[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
            for i in range(order, len(xs))
        ]
    else:
        order = int(kind[5:])
        header(8 + order)
        for v in xs[:order]:
            bw.w(v, ebps)
        res = [
            xs[i] - sum(c * xs[i - 1 - j]
                        for j, c in enumerate(FIXED[order]))
            for i in range(order, len(xs))
        ]
    _residual(bw, res, order, len(xs), porder=porder, k=k, method=method,
              escape_raw=escape_raw)


_SS_CODE = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6}


def _utf8(n):
    if n < 0x80:
        return bytes([n])
    assert n < 0x800
    return bytes([0xC0 | (n >> 6), 0x80 | (n & 0x3F)])


def _frame(idx, chans, sr, bps, mode="indep", **sub_kw):
    """One complete frame.  mode: indep | ls | rs | ms."""
    bs = len(chans[0])
    bw = _BW()
    bw.w(0x3FFE, 14)
    bw.w(0, 1)
    bw.w(0, 1)  # fixed blocking
    bw.w(6 if bs <= 256 else 7, 4)
    bw.w(0, 4)  # sample rate: from STREAMINFO
    ch_code = {"indep": len(chans) - 1, "ls": 8, "rs": 9, "ms": 10}[mode]
    bw.w(ch_code, 4)
    bw.w(_SS_CODE[bps], 3)
    bw.w(0, 1)
    for b in _utf8(idx):
        bw.w(b, 8)
    bw.w(bs - 1, 8 if bs <= 256 else 16)
    hdr = bw.out()
    body = _BW()
    if mode == "indep":
        subs = [(c, bps) for c in chans]
    else:
        l, r = chans
        side = [a - b for a, b in zip(l, r)]
        if mode == "ls":
            subs = [(l, bps), (side, bps + 1)]
        elif mode == "rs":
            subs = [(side, bps + 1), (r, bps)]
        else:
            mid = [(a + b) >> 1 for a, b in zip(l, r)]
            subs = [(mid, bps), (side, bps + 1)]
    for x, sbps in subs:
        _sub(body, x, sbps, **sub_kw)
    body.align()
    frame = hdr + bytes([_crc8(hdr)]) + body.out()
    return frame + _crc16(frame).to_bytes(2, "big")


def _streaminfo(bs, sr, nch, bps, total, md5):
    bw = _BW()
    bw.w(bs, 16)
    bw.w(bs, 16)
    bw.w(0, 24)
    bw.w(0, 24)
    bw.w(sr, 20)
    bw.w(nch - 1, 3)
    bw.w(bps - 1, 5)
    bw.w(total, 36)
    si = bw.out() + md5
    assert len(si) == 34
    return b"\x80\x00\x00\x22" + si  # last-block flag, type 0, len 34


def _pcm_md5(chans, bps):
    if bps % 8:
        return b"\x00" * 16
    nb = bps // 8
    h = hashlib.md5()
    h.update(b"".join(
        v.to_bytes(nb, "little", signed=True)
        for frame in zip(*chans) for v in frame
    ))
    return h.digest()


def make_flac(chans, sr=8000, bps=16, blocksize=64, mode="indep",
              extra_meta=b"", **sub_kw):
    """Full stream: magic, STREAMINFO (+ optional extra metadata
    blocks), frames of ``blocksize`` (shorter final frame allowed)."""
    total = len(chans[0])
    si = _streaminfo(blocksize, sr, len(chans), bps, total,
                     _pcm_md5(chans, bps))
    if extra_meta:
        si = si[:4].replace(b"\x80", b"\x00") + si[4:] + extra_meta
    out = b"fLaC" + si
    for i, start in enumerate(range(0, total, blocksize)):
        block = [c[start:start + blocksize] for c in chans]
        out += _frame(i, block, sr, bps, mode=mode, **sub_kw)
    return out


def _pcm(n, seed=3, amp=1000, nch=2):
    """Deterministic smooth-ish integer PCM (no numpy needed)."""
    chans = []
    for c in range(nch):
        x, v = [], 0
        s = seed + 17 * c
        for i in range(n):
            s = (s * 1103515245 + 12345) & 0x7FFFFFFF
            v = max(-amp, min(amp, v + (s % 61) - 30))
            x.append(v)
        chans.append(x)
    return chans


def _expect(chans, sr, bps):
    n = len(chans[0])
    sum_abs = sum(abs(v) for c in chans for v in c)
    mean = round(sum_abs / (n * len(chans)) / (1 << (bps - 1)), 6)
    return (len(chans), sr, bps, n, round(n / sr, 6), mean)


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def parse():
    return multimodal._audio_parser()


def test_flac_roundtrip_fixed_stereo(parse):
    """Headline: 16-bit stereo, fixed-order-2 prediction, multi-frame
    (uneven final block) — decoded features are EXACT, and the
    STREAMINFO MD5 the encoder stamped is what the decoder verified."""
    chans = _pcm(150)
    flac = make_flac(chans, blocksize=64)
    got = parse(flac)
    assert got == (len(flac), "flac") + _expect(chans, 8000, 16)


@pytest.mark.parametrize("mode", ["indep", "ls", "rs", "ms"])
def test_flac_stereo_decorrelation_modes(parse, mode):
    """All four channel assignments reconstruct the SAME samples —
    decorrelation is lossless by construction."""
    chans = _pcm(96, seed=11)
    flac = make_flac(chans, blocksize=32, mode=mode)
    assert parse(flac)[1:] == ("flac",) + _expect(chans, 8000, 16)


@pytest.mark.parametrize(
    "kind,kw",
    [
        ("constant", {}),
        ("verbatim", {}),
        ("fixed0", {}),
        ("fixed1", {}),
        ("fixed3", {}),
        ("fixed4", {}),
        ("fixed2", {"porder": 2}),            # 4 rice partitions
        ("fixed2", {"method": 1}),            # rice2 (5-bit params)
        ("fixed2", {"escape_raw": 14}),       # raw-bits escape
        ("fixed2", {"wasted": 3}),            # wasted-bits shift
        ("lpc", {"coefs": [3, -2], "shift": 1, "prec": 6}),
        ("lpc", {"coefs": [1489, -510], "shift": 10}),  # realistic Q10
    ],
)
def test_flac_subframe_types(parse, kind, kw):
    chans = _pcm(128, seed=7, nch=1)
    if kind == "constant":
        chans = [[-416] * 128]
    if kw.get("wasted"):
        chans = [[v << kw["wasted"] for v in chans[0]]]
    flac = make_flac(chans, blocksize=64, **{"kind": kind, **kw})
    assert parse(flac)[1:] == ("flac",) + _expect(chans, 8000, 16)


def test_flac_8bit_mono_and_12bit_no_md5(parse):
    """8-bit (1-byte MD5 lanes) and 12-bit (MD5 not byte-packable →
    zero digest, check skipped) both decode exactly."""
    chans8 = [[v % 100 - 50 for v in range(80)]]
    assert parse(make_flac(chans8, bps=8, blocksize=16))[1:] == \
        ("flac",) + _expect(chans8, 8000, 8)
    chans12 = _pcm(64, seed=5, amp=1800, nch=1)
    assert parse(make_flac(chans12, bps=12, blocksize=32))[1:] == \
        ("flac",) + _expect(chans12, 8000, 12)


def test_flac_skips_other_metadata_blocks(parse):
    """PADDING/VORBIS_COMMENT-style blocks between STREAMINFO and the
    frames are walked over, not choked on."""
    chans = _pcm(40, nch=1)
    pad = b"\x81\x00\x00\x04zzzz"  # last-flag, type 1 (padding), 4 bytes
    flac = make_flac(chans, blocksize=40, extra_meta=pad)
    assert parse(flac)[1:] == ("flac",) + _expect(chans, 8000, 16)


def test_flac_corruption_degrades_to_opaque(parse):
    """Every tamper lands on opaque, never a crash — CRC-8 (header),
    CRC-16 (frame), MD5 (whole-stream reconstruction), truncation,
    trailing garbage, bad magic."""
    chans = _pcm(96)
    flac = make_flac(chans, blocksize=32)

    def opaque(b):
        assert parse(b) == (len(b), "opaque") + (None,) * 6

    opaque(flac[:-1])                       # truncated final frame
    opaque(flac + b"junk")                  # trailing garbage
    opaque(b"fLaC" + b"not metadata")       # mangled metadata
    # flip one bit inside the LAST frame's residual area (three bytes
    # before the final CRC-16) — the frame CRC must catch it
    bad = bytearray(flac)
    bad[-5] ^= 0x10
    opaque(bytes(bad))
    # flip one bit of a frame-header byte right after the sync code —
    # the header CRC-8 must catch it before any subframe is read
    hdr_pos = flac.index(b"\xff\xf8")
    bad = bytearray(flac)
    bad[hdr_pos + 2] ^= 0x40
    opaque(bytes(bad))
    # corrupt the stamped MD5: frames all verify, whole-stream doesn't
    md5_pos = 8 + 18  # magic+blockheader(4)+streaminfo[18:]
    bad = bytearray(flac)
    bad[md5_pos] ^= 0xFF
    opaque(bytes(bad))
    # STREAMINFO total_samples contradicts the decoded stream
    wrong_total = make_flac(chans, blocksize=32)
    bad = bytearray(wrong_total)
    bad[8 + 17] ^= 0x01  # low byte of the 36-bit total
    opaque(bytes(bad))


@pytest.mark.sweep
def test_flac_decode_audio_mixed_corpus(spark):
    """The Spark leg: decode_audio over a mixed media column — FLAC
    rows get real features, WAV keeps its path, text stays opaque,
    NULL stays NULL."""
    import struct

    chans = _pcm(100, seed=23)
    flac = make_flac(chans, sr=16000, blocksize=50)
    wav = (b"RIFF" + (36 + 4).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
           + b"data" + (4).to_bytes(4, "little")
           + struct.pack("<2h", 1000, -1000))
    rows = [
        (1, bytearray(flac)),
        (2, bytearray(wav)),
        (3, bytearray(b"just some text bytes")),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r for r in multimodal.decode_audio(df).collect()}
    exp = _expect(chans, 16000, 16)
    assert out[1]["media_kind"] == "flac"
    assert (out[1]["n_channels"], out[1]["sample_rate"],
            out[1]["bits_per_sample"], out[1]["n_frames"]) == exp[:4]
    assert out[1]["duration_s"] == exp[4]
    assert out[1]["mean_abs_amplitude"] == exp[5]
    assert out[2]["media_kind"] == "wav"
    assert out[2]["sample_rate"] == 8000
    assert out[3]["media_kind"] == "opaque"
    assert out[4]["media_kind"] is None


def _wav16(chans, sr):
    """Minimal 16-bit PCM WAV from per-channel sample lists."""
    import struct

    nch = len(chans)
    data = b"".join(
        struct.pack("<h", v) for frame in zip(*chans) for v in frame
    )
    return (b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little")
            + struct.pack("<HHIIHH", 1, nch, sr, sr * nch * 2, nch * 2, 16)
            + b"data" + len(data).to_bytes(4, "little") + data)


def test_audio_fingerprint_container_invariance(spark):
    """The same PCM encoded as WAV and as FLAC fingerprints
    IDENTICALLY (the decode is bit-exact, the fingerprint is a pure
    function of the samples), and the media near-dup path pairs the two rows
    at Hamming 0 — audio → fingerprint → dedup, end to end."""
    chans = _pcm(4096, seed=41, amp=12000)
    rows = [
        (1, bytearray(_wav16(chans, 8000))),
        (2, bytearray(make_flac(chans, blocksize=256))),
        (3, bytearray(b"opaque text media")),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r for r in
           multimodal.audio_fingerprint(df).collect()}
    assert out[1]["media_kind"] == "wav"
    assert out[2]["media_kind"] == "flac"
    assert out[1]["afp"] is not None
    assert out[1]["afp"] == out[2]["afp"]
    assert out[1]["duration_s"] == out[2]["duration_s"] == 0.512
    assert out[3]["afp"] is None and out[3]["media_kind"] == "opaque"
    assert out[4]["afp"] is None

    pairs = [(r["doc_a"], r["doc_b"], r["hamming"])
             for r in media_near_dups(df, "audio").collect()]
    assert pairs == [(1, 2, 0)]


@pytest.mark.sweep
def test_audio_fingerprint_gain_invariance_and_discrimination(spark):
    """Uniform gain change (exact integer halving) keeps the
    fingerprint bit-identical — band energies scale together, the
    median comparison is scale-free — while a genuinely different
    signal diverges far beyond the pairing threshold."""
    base = [[v * 2 for v in c] for c in _pcm(2048, seed=9, amp=8000)]
    half = [[v // 2 for v in c] for c in base]
    other = _pcm(2048, seed=1234, amp=8000)
    df = spark.createDataFrame(
        [(1, bytearray(_wav16(base, 8000))),
         (2, bytearray(_wav16(half, 8000))),
         (3, bytearray(_wav16(other, 8000)))],
        "doc_id long, media binary",
    )
    fps = {r["doc_id"]: r["afp"] for r in
           multimodal.audio_fingerprint(df).collect()}
    assert fps[1] == fps[2]
    diff = bin((fps[1] ^ fps[3]) & ((1 << 64) - 1)).count("1")
    assert diff > 10, diff
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             media_near_dups(df, "audio", max_hamming=6).collect()}
    assert pairs == {(1, 2)}


@pytest.mark.sweep
def test_audio_fingerprint_noise_robustness(spark):
    """A lightly perturbed copy (±1 LSB on a few % of samples — a
    re-quantization-grade change) stays within a small Hamming
    distance of the original: near-dup, not exact-dup."""
    chans = _pcm(4096, seed=77, amp=12000)
    noisy = [list(c) for c in chans]
    for c in noisy:
        for i in range(0, len(c), 37):
            c[i] += 1 if i % 2 else -1
    df = spark.createDataFrame(
        [(1, bytearray(_wav16(chans, 8000))),
         (2, bytearray(_wav16(noisy, 8000)))],
        "doc_id long, media binary",
    )
    fps = {r["doc_id"]: r["afp"] for r in
           multimodal.audio_fingerprint(df).collect()}
    ham = bin((fps[1] ^ fps[2]) & ((1 << 64) - 1)).count("1")
    assert ham <= 6, ham
    pairs = [(r["doc_a"], r["doc_b"]) for r in
             media_near_dups(df, "audio", max_hamming=6).collect()]
    assert pairs == [(1, 2)]


@pytest.mark.sweep
def test_flac_unknown_total_bomb_degrades_to_opaque(parse):
    """FLAC is the real decode amplifier — a ~12-byte CONSTANT
    subframe expands to 65k samples (×5000+), so a few-KB
    unknown-total (total=0 is legal) stream would otherwise
    materialize gigabytes; the in-loop cumulative guard stops the
    frame walk at the 2^24-sample cap.  Sweep tier: the guard fires
    only after ~16M cheap constant samples decode, ~1.5 s."""
    # --- FLAC, unknown total: 257 hand-built
    # max-blocksize CONSTANT frames ≈ 4 KB claiming 16.8M samples
    bs = 65535
    frames = b""
    for idx in range(257):
        bw = _BW()
        bw.w(0x3FFE, 14)
        bw.w(0, 2)          # reserved + fixed blocking
        bw.w(7, 4)          # blocksize: 16-bit field
        bw.w(0, 4)          # sample rate: from STREAMINFO
        bw.w(0, 4)          # mono
        bw.w(2, 3)          # 12-bit (keeps MD5 out of the hot loop)
        bw.w(0, 1)
        for b in _utf8(idx):
            bw.w(b, 8)
        bw.w(bs - 1, 16)
        hdr = bw.out()
        body = _BW()
        body.w(0, 1)
        body.w(0, 6)        # CONSTANT
        body.w(0, 1)        # no wasted bits
        body.w(0, 12)       # the constant sample
        body.align()
        f = hdr + bytes([_crc8(hdr)]) + body.out()
        frames += f + _crc16(f).to_bytes(2, "big")
    bomb = (b"fLaC"
            + _streaminfo(bs, 8000, 1, 12, 0, b"\x00" * 16) + frames)
    assert len(bomb) < 8192  # the whole point: tiny bytes, huge claim
    got = parse(bomb)
    assert got == (len(bomb), "opaque") + (None,) * 6


def test_audio_decode_size_bounds_reject_cheaply(parse):
    """The header-visible variants of the 2^24-sample bound — shared
    with the image decoders — reject before any decode work."""
    import struct

    # --- FLAC, STREAMINFO total already over the cap: instant reject
    big_total = (b"fLaC"
                 + _streaminfo(64, 8000, 2, 16, 1 << 25, b"\x00" * 16))
    assert parse(big_total)[1] == "opaque"

    # --- PCM WAV over the cap (guard fires before numpy touches it)
    data = bytes(17 * 1024 * 1024)
    wav = (b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
           + b"data" + len(data).to_bytes(4, "little") + data)
    assert parse(wav)[1] == "opaque"

    # --- ADPCM over the cap (nibbles would expand 4x past it)
    adata = bytes(15 * 1024 * 1024)
    adpcm = (b"RIFF" + (38 + len(adata)).to_bytes(4, "little") + b"WAVE"
             + b"fmt " + (20).to_bytes(4, "little")
             + struct.pack("<HHIIHHHH", 0x11, 1, 8000, 8000, 8, 4, 2, 9)
             + b"data" + len(adata).to_bytes(4, "little") + adata)
    assert parse(adpcm)[1] == "opaque"


def test_flac_parser_survives_cloudpickle():
    """Same by-value contract as the WAV leg: the closure (now with
    the FLAC branch inside) must round-trip through cloudpickle."""
    import pickle

    import cloudpickle

    parse = multimodal._audio_parser()
    clone = pickle.loads(cloudpickle.dumps(parse))
    flac = make_flac(_pcm(48, nch=1), blocksize=48)
    assert clone(flac) == parse(flac)
    assert clone(flac)[1] == "flac"
