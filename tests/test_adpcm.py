"""IMA/DVI ADPCM WAV decode tests (round 11) — an INDEPENDENT encoder
written from the IMA 1992 recommended-practices algorithm, mirroring
the JPEG/FLAC test strategy.  ADPCM is lossy, so exactness comes from
the codec's defining property instead of the source PCM: the encoder
TRACKS the reconstruction the decoder must produce (predictor updates
are specified to be identical on both sides), and every decoded
feature is asserted EXACTLY against that tracked reconstruction.  The
89-entry step table is typed here independently of the engine's copy,
so a transcription slip in either breaks the round trip."""

from __future__ import annotations

import struct

import pytest

from etl_olho_vivo_spark.operators import multimodal
from tests.media_pairs import media_near_dups

STEP = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
    449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
    1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
    3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
    9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
    22385, 24623, 27086, 29794, 32767,
)
ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)


def test_step_table_shape():
    """89 monotonically increasing entries ending at int16 max — the
    structural invariants of the IMA table."""
    assert len(STEP) == 89
    assert all(a < b for a, b in zip(STEP, STEP[1:]))
    assert STEP[-1] == 32767


def _enc_nibble(sample, pred, idx):
    """Quantize one delta; return (nibble, reconstructed, new_idx) —
    the reconstruction is the decoder-side update, run in lockstep."""
    step = STEP[idx]
    delta = sample - pred
    n = 0
    if delta < 0:
        n = 8
        delta = -delta
    if delta >= step:
        n |= 4
        delta -= step
    if delta >= step >> 1:
        n |= 2
        delta -= step >> 1
    if delta >= step >> 2:
        n |= 1
    diff = step >> 3
    if n & 1:
        diff += step >> 2
    if n & 2:
        diff += step >> 1
    if n & 4:
        diff += step
    if n & 8:
        diff = -diff
    pred = max(-32768, min(32767, pred + diff))
    idx = max(0, min(88, idx + ADJ[n & 7]))
    return n, pred, idx


def make_adpcm_wav(chans, sr=8000, words_per_chan=2, with_fact=True,
                   fact_override=None, spb_override=None,
                   idx_override=None):
    """Encode per-channel int16 sample lists as an IMA ADPCM WAV.
    Returns (wav_bytes, recon) where recon is the per-channel
    reconstruction the decoder is REQUIRED to emit (truncated to the
    fact count when ``with_fact``)."""
    nch = len(chans)
    n = len(chans[0])
    spb = 8 * words_per_chan + 1
    block_align = 4 * nch * (1 + words_per_chan)
    idxs = [0] * nch
    recon = [[] for _ in range(nch)]
    data = bytearray()
    for start in range(0, n, spb):
        # header: the block's first sample verbatim + carried index
        preds = []
        for c in range(nch):
            block = chans[c][start:start + spb]
            pred = block[0]
            preds.append(pred)
            recon[c].append(pred)
            data += struct.pack("<h", pred) + bytes(
                [idxs[c] if idx_override is None else idx_override, 0]
            )
        # nibble words, round-robin across channels
        nibbles = [[] for _ in range(nch)]
        for c in range(nch):
            block = chans[c][start:start + spb]
            pred = preds[c]
            for i in range(1, spb):
                # pad a short final block by holding the last sample
                sample = block[i] if i < len(block) else block[-1]
                nib, pred, idxs[c] = _enc_nibble(sample, pred, idxs[c])
                nibbles[c].append(nib)
                recon[c].append(pred)
        for w in range(words_per_chan):
            for c in range(nch):
                for b in range(4):
                    lo = nibbles[c][8 * w + 2 * b]
                    hi = nibbles[c][8 * w + 2 * b + 1]
                    data.append(lo | (hi << 4))
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, nch, sr, sr * block_align // spb,
        block_align, 4, 2, spb if spb_override is None else spb_override,
    )
    out = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    if with_fact:
        fact = n if fact_override is None else fact_override
        out += b"fact" + (4).to_bytes(4, "little") + fact.to_bytes(
            4, "little"
        )
        recon = [c[:n] for c in recon]
    out += b"data" + len(data).to_bytes(4, "little") + bytes(data)
    return (b"RIFF" + (4 + len(out)).to_bytes(4, "little") + b"WAVE"
            + out), recon


def _pcm(n, seed=3, amp=9000, nch=1, step_cap=400):
    chans = []
    for c in range(nch):
        x, v = [], 0
        s = seed + 31 * c
        for _ in range(n):
            s = (s * 1103515245 + 12345) & 0x7FFFFFFF
            v = max(-amp, min(amp, v + (s % (2 * step_cap + 1)) - step_cap))
            x.append(v)
        chans.append(x)
    return chans


def _expect(recon, sr):
    import numpy as np

    arr = np.asarray(recon, dtype=np.float64) / 32768.0
    n = len(recon[0])
    return (len(recon), sr, 4, n, round(n / sr, 6),
            round(float(np.abs(arr).mean()), 6))


@pytest.fixture(scope="module")
def parse():
    return multimodal._audio_parser()


@pytest.mark.parametrize("nch,n,words", [(1, 100, 2), (2, 340, 4)])
def test_adpcm_roundtrip_exact_vs_tracked_reconstruction(
    parse, nch, n, words
):
    """Mono and stereo, multi-block, fact-truncated final block: every
    decoded feature equals the encoder-tracked reconstruction's."""
    chans = _pcm(n, seed=11, nch=nch)
    wav, recon = make_adpcm_wav(chans, words_per_chan=words)
    got = parse(wav)
    assert got == (len(wav), "wav") + _expect(recon, 8000)


def test_adpcm_without_fact_keeps_padded_frames(parse):
    """No fact chunk → the zero-padded tail of the final block counts
    (n_frames = blocks × samples-per-block)."""
    chans = _pcm(20, seed=5)  # spb = 17 → 2 blocks → 34 frames
    wav, recon = make_adpcm_wav(chans, with_fact=False)
    got = parse(wav)
    assert got[5] == 34 and got == (len(wav), "wav") + _expect(recon, 8000)


def test_adpcm_lies_degrade_to_opaque(parse):
    """Structural lies land on opaque, never a crash: step index > 88,
    fmt samples-per-block contradicting block_align, fact counts that
    don't fit the block count."""
    chans = _pcm(40, seed=9)

    def opaque(b):
        assert parse(b) == (len(b), "opaque") + (None,) * 6

    opaque(make_adpcm_wav(chans, idx_override=89)[0])
    opaque(make_adpcm_wav(chans, spb_override=16)[0])
    opaque(make_adpcm_wav(chans, fact_override=1000)[0])
    # fact so small the stream would have spare full blocks
    opaque(make_adpcm_wav(chans, fact_override=10)[0])


@pytest.mark.sweep
def test_adpcm_near_dups_with_its_pcm_source(spark):
    """The lossy-compression near-dup story: an ADPCM re-encode of a
    PCM original is a NEAR duplicate (small Hamming distance on the
    spectral fingerprint), so the audio near-dup pass catches
    re-encoded copies across codecs."""
    chans = _pcm(4096, seed=77, amp=12000, nch=2)
    adpcm, _ = make_adpcm_wav(chans, words_per_chan=8)
    pcm_data = b"".join(
        struct.pack("<h", v) for fr in zip(*chans) for v in fr
    )
    pcm_wav = (b"RIFF" + (36 + len(pcm_data)).to_bytes(4, "little")
               + b"WAVE" + b"fmt " + (16).to_bytes(4, "little")
               + struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
               + b"data" + len(pcm_data).to_bytes(4, "little") + pcm_data)
    df = spark.createDataFrame(
        [(1, bytearray(pcm_wav)), (2, bytearray(adpcm))],
        "doc_id long, media binary",
    )
    fps = {r["doc_id"]: r for r in
           multimodal.audio_fingerprint(df).collect()}
    assert fps[2]["media_kind"] == "wav"
    ham = bin((fps[1]["afp"] ^ fps[2]["afp"]) & ((1 << 64) - 1)).count("1")
    assert ham <= 6, ham
    pairs = [(r["doc_a"], r["doc_b"]) for r in
             media_near_dups(df, "audio", max_hamming=6).collect()]
    assert pairs == [(1, 2)]
