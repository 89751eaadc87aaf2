"""Multimodal columns: opaque binary media + typed metadata (SURVEY §2.11).

Design for 100 TB of mixed media:
- media bytes live in a ``BinaryType`` column (Parquet handles binary
  natively, with page-level compression);
- typed metadata travels alongside in a struct column so filters/pruning
  (``media_meta.media_type = 'image/png'``) never touch the bytes;
- decode / feature-extraction is the one legitimately-Python stage, so it
  runs as ``mapInPandas`` — Arrow-batched, one Python worker per task,
  vectorized within the batch.  Partition count controls decode
  parallelism; the schema out of the UDF is explicit.

Codec status (round 11): ``decode_media`` REALLY decodes the four
raster formats reachable without any new dependency — BMP
(BITMAPINFOHEADER), binary PNM (P5/P6), **PNG** (non-interlaced
8-bit gray/RGB/gray+alpha/RGBA: stdlib zlib inflate + the five
scanline filters, chunk CRCs verified, geometry-bounded inflate), and
**JPEG** (baseline sequential SOF0/SOF1 — interleaved single-scan OR
multi-scan with one SOS per component subset, both legal T.81 — AND
progressive SOF2 —
spectral selection + successive approximation: canonical Huffman
entropy decode, zigzag dequantization, vectorized-einsum IDCT,
nearest-neighbor chroma upsampling
for 4:4:4/4:2:2/4:2:0 and grayscale, DRI/RSTn restart markers,
JFIF YCbCr→RGB) — with a pure-stdlib+numpy parser shipped by value
inside the mapInPandas closure: parsed width/height from the header
and the mean sample value over the decoded payload (padding-aware for
24-bit BMP rows, unfiltered scanlines for PNG, post-conversion RGB
samples for JPEG).  Every other byte stream (including this corpus'
text/plain media) takes the ``opaque`` fallback: deterministic byte
statistics with checksum-derived pseudo-dimensions, the original stub
semantics — so a corrupt or unknown file NEVER crashes a 100 TB decode
job, it just reports ``media_kind='opaque'``.  ``decode_audio`` does
the same for the audio leg: real RIFF/WAVE PCM chunk parsing (channels
/ sample rate / bit depth / frames / duration / numpy-vectorized mean
amplitude) AND a full FLAC decoder (round 11 — every subframe type,
Rice/Rice2 residuals, stereo decorrelation, verified against all
three stream checksums incl. the STREAMINFO MD5 of the reconstructed
samples), opaque-with-NULLs otherwise.  ``video_fingerprint`` REALLY
demuxes MJPEG-in-AVI (RIFF chunk walk → every stride-th ``00dc``
frame, each a complete JPEG the decoder consumes) AND uncompressed
YUV4MPEG2 (round 11: stream-header geometry → every stride-th raw
picture's luma plane re-wrapped as P5 PGM) — video → frames →
decode → dHash dedup end to end for both — NULL fingerprint
otherwise.

DECISION RECORD (round 12) — why MPEG audio (Layer I/II/III) stays
opaque rather than getting the Layer-II decoder the round-11 verdict
floated: the polyphase synthesis window D[512] (ISO 11172-3 Table
3-B.3) and the per-layer bit-allocation tables are TABULATED-ONLY —
no generator recurrence exists to derive them from.  The ADPCM
precedent does not transfer: its 89-entry step table follows a
published ~1.1 geometric recurrence, so a typo is caught by a
property test against the recurrence, and the test-side encoder is
genuinely independent.  For Layer II both the decoder and any
test-side encoder would consume the SAME hand-typed 512-coefficient
table, so the repo's independent-encoder discipline becomes circular:
one mistyped coefficient yields plausible-but-wrong PCM that
round-trips its own encoder perfectly and silently corrupts every
downstream fingerprint.  Absent an authoritative in-container source
to diff the table against (no libav, no mpg123/mad/lame — re-probed
round 15, 2026-08-16, via importlib + ctypes.util.find_library +
shutil.which over av/cv2/soundfile/librosa/ffmpeg/ffprobe/avcodec/
avformat/mpg123/mad/mp3lame: all absent), honest coverage means
opaque fallback.  Revisit the moment a libav
lands in the environment: MP3/Layer-II would slot into
``_audio_parser`` — and H.26x/VPx/AV1 into ``_avi_demuxer`` — without
touching the Spark plumbing.  (Progressive JPEG — formerly on this list — went native in
round 11; arithmetic-coded, hierarchical, lossless, and 12-bit JPEG
remain opaque by design: vanishingly rare in web corpora.)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("media_kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_pixel", T.DoubleType()),
    ]
)


def attach_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize a binary media column + typed metadata struct.

    (Here the "media" is the utf-8 bytes of the text — the container has no
    real media; the column types and layout are the real design.)
    """
    return df.withColumns(
        {
            "media": F.encode(F.col(text_col), "UTF-8"),
            "media_meta": F.struct(
                F.lit("text/plain").alias("media_type"),
                F.octet_length(F.col(text_col)).alias("n_bytes"),
            ),
        }
    )


def _media_parser(pixels: bool = False):
    """Factory for the per-row media feature extractor — defined inside
    a factory (not at module top level) so cloudpickle ships the
    returned function BY VALUE with the mapInPandas closure: Spark's
    Python workers do not have this package on ``sys.path`` (the driver
    controls the session), and a module-global reference would fail
    with ``ModuleNotFoundError`` on the worker.  Tests call the factory
    directly, so there is exactly ONE definition to keep correct.

    The returned ``parse(media) -> (n_bytes, checksum, media_kind,
    width, height, mean_pixel)``:

    - **BMP** (``BM`` magic, BITMAPINFOHEADER): width/height are the
      signed int32 LE fields at offsets 18/22 (|height| — negative
      means top-down row order); for the uncompressed 24-bit layout the
      mean pixel EXCLUDES the per-row padding to the 4-byte boundary,
      other layouts fall back to the raw payload mean.
    - **PNM** (``P5`` grayscale / ``P6`` RGB, binary): header tokens
      (whitespace-separated, ``#`` comments legal) give width, height,
      maxval; mean over the sample payload bytes.
    - **PNG** (8-byte signature): IHDR-validated non-interlaced 8-bit
      gray/RGB/gray+alpha/RGBA; IDAT chunks concatenated, zlib
      inflated, the five scanline filters (None/Sub/Up/Average/Paeth)
      reversed; mean over the reconstructed sample bytes.  Chunk CRCs
      verified; palette/16-bit/interlaced/corrupt → opaque.
    - anything else (or any malformed header): ``opaque`` — byte count,
      checksum, checksum-derived pseudo-dimensions (``% 640``/``% 480``,
      the original stub semantics, still what the registry oracle
      recomputes for this corpus' text media) and NULL mean_pixel.
      Malformed real-format bytes degrade to opaque instead of raising:
      one corrupt file must not kill a 100 TB decode job.
    """

    def parse_bmp(m: bytes):
        # anything shorter than the 14-byte file header + 40-byte
        # INFOHEADER cannot be a decodable file — opaque, not a guess
        if len(m) < 54:
            return None
        # BITMAPINFOHEADER (and its V4/V5 extensions) only — the ancient
        # 12-byte COREHEADER packs int16 dims at different offsets and
        # would read as garbage here, so it degrades to opaque.  The
        # size must be one of the EXACT published header sizes, not
        # merely >= 40: a text document that happens to start with
        # "BM" ("BMW dealership …") decodes its ASCII bytes at offset
        # 14 to some huge int, and a >= test would sail past it and
        # report garbage dimensions as a real bitmap
        if int.from_bytes(m[14:18], "little") not in (40, 52, 56, 108, 124):
            return None
        # plausibility gates a real encoder always satisfies and ASCII
        # text essentially never does: planes is mandated == 1, bpp is
        # one of the legal depths, pixel data starts at or after the
        # 54-byte headers and inside the buffer
        if int.from_bytes(m[26:28], "little") != 1:
            return None
        w = int.from_bytes(m[18:22], "little", signed=True)
        h = int.from_bytes(m[22:26], "little", signed=True)
        if w <= 0 or h == 0:
            return None
        height = abs(h)
        offset = int.from_bytes(m[10:14], "little")
        if not 54 <= offset <= len(m):
            return None
        bpp = int.from_bytes(m[28:30], "little")
        if bpp not in (1, 4, 8, 16, 24, 32):
            return None
        compression = int.from_bytes(m[30:34], "little")
        payload = m[offset:]
        if bpp == 24 and compression == 0:
            row = ((w * 3 + 3) // 4) * 4
            if len(payload) >= row * height:
                import numpy as np

                tot = cnt = 0
                lines = []
                for r in range(height):
                    chunk = payload[r * row : r * row + w * 3]
                    tot += sum(chunk)
                    cnt += len(chunk)
                    lines.append(
                        np.frombuffer(chunk, dtype=np.uint8)
                        .reshape(w, 3)
                        .mean(axis=1)
                    )
                # BMP rows are bottom-up unless height was negative
                gray = np.stack(lines[::-1] if h > 0 else lines)
                return (
                    w, height,
                    round(tot / cnt, 4) if cnt else None,
                    gray,
                )
        if payload:
            return w, height, round(sum(payload) / len(payload), 4), None
        return w, height, None, None

    def parse_pnm(m: bytes):
        # P5/P6 header: magic, width, height, maxval — whitespace
        # separated with '#'-to-EOL comments; payload starts after the
        # single whitespace byte following maxval
        pos, tokens = 2, []
        while len(tokens) < 3 and pos < len(m):
            c = m[pos : pos + 1]
            if c == b"#":
                nl = m.find(b"\n", pos)
                if nl < 0:
                    return None
                pos = nl + 1
            elif c.isspace():
                pos += 1
            else:
                end = pos
                while end < len(m) and not m[end : end + 1].isspace():
                    end += 1
                tokens.append(m[pos:end])
                pos = end
        if len(tokens) < 3 or pos >= len(m):
            return None
        try:
            w, h, maxval = (int(t) for t in tokens)
        except ValueError:
            return None
        if w <= 0 or h <= 0 or not 0 < maxval < 65536:
            return None
        channels = 3 if m[:2] == b"P6" else 1
        sample = 2 if maxval > 255 else 1
        need = w * h * channels * sample
        payload = m[pos + 1 : pos + 1 + need]
        if len(payload) < need:
            return None
        gray = None
        if sample == 1:
            import numpy as np

            gray = (
                np.frombuffer(payload, dtype=np.uint8)
                .reshape(h, w, channels)
                .mean(axis=2)
            )
        return w, h, round(sum(payload) / len(payload), 4), gray

    def parse_png(m: bytes):
        # PNG (round 10): the dominant real-corpus raster format,
        # decodable with ONLY stdlib zlib — non-interlaced 8-bit
        # gray(0)/RGB(2)/gray+alpha(4)/RGBA(6).  Chunk CRCs are
        # verified (zlib.crc32 over type+data) and the decompressed
        # scanline length must match the header exactly; anything else
        # — palette images, 16-bit, Adam7 interlace, truncation, CRC
        # damage — degrades to opaque rather than guessing.
        import zlib

        if len(m) < 33 or m[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        pos, w, h, channels = 8, None, None, None
        idat = bytearray()
        saw_iend = False
        while pos + 12 <= len(m):
            ln = int.from_bytes(m[pos:pos + 4], "big")
            typ = m[pos + 4:pos + 8]
            if pos + 12 + ln > len(m):
                return None
            data = m[pos + 8:pos + 8 + ln]
            crc = int.from_bytes(m[pos + 8 + ln:pos + 12 + ln], "big")
            if crc != zlib.crc32(typ + data):
                return None
            if typ == b"IHDR":
                # must be the FIRST chunk, exactly 13 bytes
                if ln != 13 or pos != 8:
                    return None
                w = int.from_bytes(data[0:4], "big")
                h = int.from_bytes(data[4:8], "big")
                depth, color, comp, filt, inter = data[8:13]
                if depth != 8 or comp != 0 or filt != 0 or inter != 0:
                    return None
                channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
                if channels is None or w <= 0 or h <= 0:
                    return None
                # dim guard (mirrors the JPEG SOF guard): a hostile
                # header must not let the inflate below allocate GiB
                if w * h > (1 << 24):
                    return None
            elif typ == b"IDAT":
                idat += data
            elif typ == b"IEND":
                saw_iend = True
                break
            pos += 12 + ln
        if w is None or not idat or not saw_iend:
            return None
        stride = w * channels
        expect = h * (1 + stride)
        try:
            # bound the inflate to the geometry the header promised:
            # a deflate bomb whose stream exceeds h*(1+stride) bytes
            # degrades to opaque instead of allocating its full output
            dec = zlib.decompressobj()
            raw = dec.decompress(bytes(idat), expect + 1)
        except zlib.error:
            return None
        if len(raw) != expect or dec.unconsumed_tail or not dec.eof:
            # short = corrupt; tail left / not-at-eof = stream had more
            # output than the header's geometry (bomb) — both opaque
            return None
        bpp = channels  # bytes per pixel at depth 8
        prev = bytearray(stride)
        tot = 0
        lines = []
        for r in range(h):
            off = r * (1 + stride)
            ft = raw[off]
            line = bytearray(raw[off + 1:off + 1 + stride])
            if ft == 0:
                pass
            elif ft == 1:  # Sub
                for i in range(bpp, stride):
                    line[i] = (line[i] + line[i - bpp]) & 0xFF
            elif ft == 2:  # Up
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 0xFF
            elif ft == 3:  # Average
                for i in range(stride):
                    a = line[i - bpp] if i >= bpp else 0
                    line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
            elif ft == 4:  # Paeth
                for i in range(stride):
                    a = line[i - bpp] if i >= bpp else 0
                    b = prev[i]
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c
                    )
                    line[i] = (line[i] + pr) & 0xFF
            else:
                return None
            tot += sum(line)
            lines.append(bytes(line))
            prev = line
        import numpy as np

        gray = (
            np.frombuffer(b"".join(lines), dtype=np.uint8)
            .reshape(h, w, channels)
            .mean(axis=2)
        )
        return w, h, round(tot / (h * stride), 4), gray

    def parse_jpeg(m: bytes):
        # JPEG: baseline sequential (SOF0/SOF1, round 10) AND
        # progressive (SOF2, round 11) DCT — decodable with NO
        # dependency beyond numpy (already on every executor for the
        # Arrow path): canonical Huffman entropy decode, zigzag
        # dequantization, one vectorized 8x8 IDCT over every block at
        # once (two einsum contractions), nearest-neighbor chroma
        # upsampling (4:4:4 / 4:2:2 / 4:2:0 and grayscale), DRI/RSTn
        # restart markers, 0xFF00 byte-stuffing.  Both modes run
        # through ONE coefficient-store pipeline: a sequential scan is
        # simply the full spectral band (Ss=0..Se=63, Ah=Al=0) — one
        # interleaved scan of all components OR several scans covering
        # disjoint component subsets (one SOS per component is legal
        # T.81; round 12) — while progressive accumulates DC-first /
        # DC-refine / AC-first / AC-refine scans (spectral selection +
        # successive approximation, ITU T.81 G.1.2) into the same
        # per-component coefficient arrays before the shared
        # dequant+IDCT finish.  Arithmetic coding, hierarchical /
        # lossless modes, 12-bit precision, >2x sampling factors,
        # truncation, or any malformed structure degrades to opaque —
        # one corrupt file must not kill a 100 TB decode job.
        # Per-symbol Huffman reads are Python-side, so this is the
        # correctness-complete stdlib path; a production cluster would
        # drop a native codec into this same slot.
        import numpy as np

        ZIG = (
            0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
            12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21,
            28, 35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30,
            37, 44, 51, 58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61,
            54, 47, 55, 62, 63,
        )

        class _Bad(Exception):
            pass

        n = len(m)
        if n < 4 or m[:3] != b"\xff\xd8\xff":
            return None
        qt = {}       # id -> list[64] dequant steps, zigzag order
        hufftab = {}  # (class 0=DC/1=AC, id) -> {(length, code): symbol}
        frame = None  # (h, w, [(cid, hs, vs, tq), ...])
        progressive = False
        restart_interval = 0
        coefs: list = []    # per comp: (bh_full, bw_full, 64) int32, NATURAL order
        geom = None         # (hmax, vmax, mcux, mcuy, [(bw_ni, bh_ni), ...])
        scans_done = 0
        dc_seen: set = set()
        bitbuf = bitcnt = 0
        pos = 2

        def receive(nbits):
            nonlocal bitbuf, bitcnt, pos
            while bitcnt < nbits:
                if pos >= n:
                    raise _Bad
                b = m[pos]
                pos += 1
                if b == 0xFF:
                    if pos < n and m[pos] == 0x00:
                        pos += 1  # stuffed data byte
                    else:
                        raise _Bad  # marker where data expected
                bitbuf = (bitbuf << 8) | b
                bitcnt += 8
            bitcnt -= nbits
            out = (bitbuf >> bitcnt) & ((1 << nbits) - 1)
            bitbuf &= (1 << bitcnt) - 1  # keep ints small over a scan
            return out

        def huffdec(tbl):
            code = 0
            for length in range(1, 17):
                code = (code << 1) | receive(1)
                v = tbl.get((length, code))
                if v is not None:
                    return v
            raise _Bad

        def extend(v, s):
            return v - (1 << s) + 1 if v < (1 << (s - 1)) else v

        def do_scan(seg, data_start):
            """Decode one SOS segment's entropy data into the
            coefficient store; leaves pos at the next marker."""
            nonlocal pos, bitbuf, bitcnt
            if frame is None or len(seg) < 1:
                raise _Bad
            fh, fw, comps = frame
            ns = seg[0]
            if ns < 1 or len(seg) < 1 + 2 * ns + 3:
                raise _Bad
            sel = []
            for c in range(ns):
                cs, tda = seg[1 + 2 * c:3 + 2 * c]
                idx = next(
                    (i for i, cc in enumerate(comps) if cc[0] == cs),
                    None,
                )
                if idx is None:
                    raise _Bad
                sel.append((idx, tda >> 4, tda & 15))
            ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            if not progressive:
                # a sequential scan spans the whole band, but the
                # components may be SPLIT across scans (one SOS per
                # component is legal T.81 — round 12, per ADVICE);
                # each component decodes exactly once
                if ss != 0 or se != 63 or ah or al:
                    raise _Bad
                if any(idx in dc_seen for idx, _, _ in sel):
                    raise _Bad  # sequential component re-scanned
            else:
                if ss == 0:
                    if se != 0:
                        raise _Bad  # DC scans carry only coefficient 0
                elif ns != 1 or not ss <= se <= 63:
                    raise _Bad  # AC scans are single-component
                if al > 13 or (ah and ah != al + 1):
                    raise _Bad  # successive approximation steps by 1 bit
            dc_scan = ss == 0
            dcs, acs = [], []
            for (idx, td, ta) in sel:
                if dc_scan and ah == 0:
                    if (0, td) not in hufftab:
                        raise _Bad
                    dcs.append(hufftab[(0, td)])
                    dc_seen.add(idx)
                else:
                    dcs.append(None)
                if (not progressive) or not dc_scan:
                    if (1, ta) not in hufftab:
                        raise _Bad
                    acs.append(hufftab[(1, ta)])
                else:
                    acs.append(None)
            hmax, vmax, mcux, mcuy, ni_dims = geom
            pos = data_start
            bitbuf = bitcnt = 0
            eobrun = 0
            preds = [0] * ns
            rst = 0
            p1 = 1 << al
            m1 = (-1) << al

            def resync():
                nonlocal bitbuf, bitcnt, pos, rst, eobrun, preds
                bitbuf = bitcnt = 0  # byte-align
                # un-consumed pad bytes may precede the marker (a pad
                # byte of 1s is 0xFF + stuffed 0x00): scan forward to
                # the next real marker, which must be the expected RSTn
                while pos + 1 < n and not (
                    m[pos] == 0xFF and m[pos + 1] != 0x00
                ):
                    pos += 1
                if pos + 2 > n or m[pos] != 0xFF \
                        or m[pos + 1] != 0xD0 + (rst & 7):
                    raise _Bad
                pos += 2
                rst += 1
                eobrun = 0
                preds = [0] * ns

            def dc_first(ci, blk):
                s = huffdec(dcs[ci])
                if s > 11:
                    raise _Bad
                diff = extend(receive(s), s) if s else 0
                preds[ci] += diff
                blk[0] = preds[ci] << al

            def dc_refine(ci, blk):
                if receive(1):
                    blk[0] = int(blk[0]) | p1

            def ac_first(ci, blk):
                nonlocal eobrun
                if eobrun > 0:
                    eobrun -= 1
                    return
                k = 1 if not progressive else ss
                while k <= se:
                    rs = huffdec(acs[ci])
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r == 15:
                            k += 16  # ZRL
                            continue
                        if progressive:
                            # EOBn: run of (1<<r)+ext band-empty blocks
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += receive(r)
                        break  # EOB (baseline ignores r, as round 10 did)
                    k += r
                    if k > se or s > 10:
                        raise _Bad
                    blk[ZIG[k]] = extend(receive(s), s) << al
                    k += 1

            def ac_refine(ci, blk):
                # T.81 G.1.2.3: correction bits for already-nonzero
                # coefficients, one new +-(1<<Al) coefficient per (r,1)
                # symbol, EOB runs whose member blocks still receive
                # whole-band correction bits
                nonlocal eobrun

                def correct(z):
                    v = int(blk[z])
                    if v and receive(1) and (v & p1) == 0:
                        blk[z] = v + (p1 if v >= 0 else m1)
                        return
                    return v

                if eobrun > 0:
                    eobrun -= 1
                    for k in range(ss, se + 1):
                        correct(ZIG[k])
                    return
                k = ss
                while k <= se:
                    rs = huffdec(acs[ci])
                    r, s = rs >> 4, rs & 15
                    newval = 0
                    if s == 0:
                        if r < 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += receive(r)
                            break
                        # r == 15: skip 16 zero-history positions
                    else:
                        if s != 1:
                            raise _Bad
                        newval = p1 if receive(1) else m1
                    while k <= se:
                        z = ZIG[k]
                        if int(blk[z]):
                            correct(z)
                        else:
                            r -= 1
                            if r < 0:
                                break
                        k += 1
                    if newval:
                        if k > se:
                            raise _Bad
                        blk[ZIG[k]] = newval
                    k += 1
                if eobrun > 0:
                    # the EOB run includes THIS block: its remaining
                    # band positions still carry correction bits
                    for kk in range(k, se + 1):
                        correct(ZIG[kk])
                    eobrun -= 1

            def decode_block(ci, blk):
                if not progressive:
                    dc_first(ci, blk)
                    ac_first(ci, blk)
                elif dc_scan:
                    (dc_first if ah == 0 else dc_refine)(ci, blk)
                else:
                    (ac_first if ah == 0 else ac_refine)(ci, blk)

            unit = 0  # restart counting: MCUs (interleaved) or blocks
            if ns > 1:
                for my in range(mcuy):
                    for mx in range(mcux):
                        if restart_interval and unit \
                                and unit % restart_interval == 0:
                            resync()
                        unit += 1
                        for ci, (idx, _, _) in enumerate(sel):
                            _, hs, vs, _ = comps[idx]
                            for by in range(vs):
                                for bx in range(hs):
                                    decode_block(
                                        ci,
                                        coefs[idx][my * vs + by,
                                                   mx * hs + bx],
                                    )
            else:
                # non-interleaved: the component's OWN block grid
                # (ceil(cw/8) x ceil(ch/8)), not the MCU-padded one
                idx = sel[0][0]
                bw_ni, bh_ni = ni_dims[idx]
                for by in range(bh_ni):
                    for bx in range(bw_ni):
                        if restart_interval and unit \
                                and unit % restart_interval == 0:
                            resync()
                        unit += 1
                        decode_block(0, coefs[idx][by, bx])
            # leave pos at the first byte of the next marker so the
            # outer loop resumes cleanly after the entropy data
            while pos + 1 < n and not (
                m[pos] == 0xFF and m[pos + 1] != 0x00
            ):
                pos += 1

        try:
            while pos + 2 <= n:
                if m[pos] != 0xFF:
                    raise _Bad
                marker = m[pos + 1]
                if marker == 0xFF:
                    # legal fill byte (B.1.1.2): any run of 0xFF may
                    # precede a marker — consume ONE byte so the real
                    # marker code is still read next iteration
                    pos += 1
                    continue
                pos += 2
                if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                    continue  # standalone markers
                if marker == 0xD9:  # EOI
                    if not scans_done:
                        raise _Bad
                    break
                if pos + 2 > n:
                    raise _Bad
                seglen = int.from_bytes(m[pos:pos + 2], "big")
                if seglen < 2 or pos + seglen > n:
                    raise _Bad
                seg = m[pos + 2:pos + seglen]
                if marker == 0xDB:  # DQT — possibly several tables
                    i = 0
                    while i < len(seg):
                        pq, tq = seg[i] >> 4, seg[i] & 15
                        i += 1
                        if pq not in (0, 1) or tq > 3:
                            raise _Bad
                        step = 2 if pq else 1
                        if i + 64 * step > len(seg):
                            raise _Bad
                        qt[tq] = [
                            int.from_bytes(
                                seg[i + k * step:i + (k + 1) * step], "big"
                            )
                            for k in range(64)
                        ]
                        i += 64 * step
                elif marker == 0xC4:  # DHT — possibly several tables
                    i = 0
                    while i + 17 <= len(seg):
                        tc, th = seg[i] >> 4, seg[i] & 15
                        if tc > 1 or th > 3:
                            raise _Bad
                        bits = seg[i + 1:i + 17]
                        total = sum(bits)
                        vals = seg[i + 17:i + 17 + total]
                        if len(vals) < total:
                            raise _Bad
                        lut, code, k = {}, 0, 0
                        for length in range(1, 17):
                            for _ in range(bits[length - 1]):
                                lut[(length, code)] = vals[k]
                                code += 1
                                k += 1
                            code <<= 1
                        hufftab[(tc, th)] = lut
                        i += 17 + total
                    if i != len(seg):
                        raise _Bad
                elif marker in (0xC0, 0xC1, 0xC2):
                    # baseline / extended sequential / progressive
                    if frame is not None or len(seg) < 6 or seg[0] != 8:
                        raise _Bad
                    progressive = marker == 0xC2
                    h = int.from_bytes(seg[1:3], "big")
                    w = int.from_bytes(seg[3:5], "big")
                    nc = seg[5]
                    # dim guard: a corrupt header must not allocate GiB
                    if h <= 0 or w <= 0 or nc not in (1, 3):
                        raise _Bad
                    if w * h > (1 << 24) or len(seg) < 6 + 3 * nc:
                        raise _Bad
                    comps = []
                    for c in range(nc):
                        cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                        hs, vs = hv >> 4, hv & 15
                        if hs not in (1, 2) or vs not in (1, 2):
                            raise _Bad
                        if nc == 1:
                            # single-component frames: the data-unit
                            # grid is ceil(w/8) x ceil(h/8) regardless
                            # of declared sampling factors
                            hs = vs = 1
                        comps.append((cid, hs, vs, tq))
                    frame = (h, w, comps)
                    hmax = max(c[1] for c in comps)
                    vmax = max(c[2] for c in comps)
                    mcux = -(-w // (8 * hmax))
                    mcuy = -(-h // (8 * vmax))
                    ni_dims = []
                    for (cid, hs, vs, tq) in comps:
                        cw = -(-(w * hs) // hmax)
                        ch = -(-(h * vs) // vmax)
                        ni_dims.append((-(-cw // 8), -(-ch // 8)))
                        coefs.append(np.zeros(
                            (mcuy * vs, mcux * hs, 64), dtype=np.int32
                        ))
                    geom = (hmax, vmax, mcux, mcuy, ni_dims)
                elif 0xC0 <= marker <= 0xCF:
                    # other SOFs (hierarchical/lossless/12-bit), DAC
                    # (arithmetic), reserved JPG — unsupported
                    raise _Bad
                elif marker == 0xDD:  # DRI
                    if len(seg) < 2:
                        raise _Bad
                    restart_interval = int.from_bytes(seg[0:2], "big")
                elif marker == 0xDA:  # SOS — entropy data follows
                    do_scan(seg, pos + seglen)
                    scans_done += 1
                    if scans_done > 99:
                        raise _Bad  # hostile scan flood
                    if not progressive and \
                            dc_seen == set(range(len(frame[2]))):
                        # sequential image complete — single-scan OR
                        # one-SOS-per-component; stopping here (not at
                        # EOI) keeps the old tolerance for truncated
                        # but fully-scanned baseline files
                        break
                    continue  # do_scan left pos at the next marker
                # APPn / COM / other tables: skip
                pos += seglen
            if frame is None or not scans_done:
                raise _Bad
            h, w, comps = frame
            if dc_seen != set(range(len(comps))):
                raise _Bad  # every component needs a DC-first scan
            hmax, vmax = geom[0], geom[1]

            # IDCT basis: A[u, x] = c(u)/2 * cos((2x+1)u*pi/16);
            # pixels = A^T . coefs . A  (coefs natural row=v, col=u),
            # contracted over EVERY block of a component at once
            x = np.arange(8)
            A = 0.5 * np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
            A[0, :] *= 1 / np.sqrt(2.0)
            inv = np.empty(64, dtype=np.int64)
            for k, z in enumerate(ZIG):
                inv[z] = k  # natural position z holds zigzag index k

            full = []
            for i, (cid, hs, vs, tq) in enumerate(comps):
                if tq not in qt:
                    raise _Bad
                qnat = np.array(qt[tq], dtype=np.float64)[inv]
                B = (coefs[i].astype(np.float64) * qnat)
                bh_b, bw_b = B.shape[:2]
                B = B.reshape(bh_b, bw_b, 8, 8)
                px = np.einsum("ji,mnjk,kl->mnil", A, B, A) + 128.0
                plane = np.clip(np.rint(px), 0, 255)
                plane = plane.transpose(0, 2, 1, 3).reshape(
                    bh_b * 8, bw_b * 8
                )
                if hs < hmax:
                    plane = np.repeat(plane, hmax // hs, axis=1)
                if vs < vmax:
                    plane = np.repeat(plane, vmax // vs, axis=0)
                full.append(plane[:h, :w])
            if len(full) == 1:
                mean = float(full[0].mean())
                gray = full[0]
            else:  # JFIF YCbCr -> RGB, then mean over all three samples
                y, cb, cr = full
                r = y + 1.402 * (cr - 128.0)
                g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
                b = y + 1.772 * (cb - 128.0)
                rgb = np.clip(np.rint(np.stack([r, g, b])), 0, 255)
                mean = float(rgb.mean())
                gray = rgb.mean(axis=0)
            return w, h, round(mean, 4), gray
        except (_Bad, IndexError, ValueError):
            return None

    def parse(media):
        # NULL media (null text upstream) → NULL features, never a crash
        if media is None:
            return (None,) * (7 if pixels else 6)
        m = bytes(media)
        n = len(m)
        # pixels mode skips the checksum: the gray-grid consumers
        # (dHash, resize) never read it, and it is a full Python pass
        # over every byte of the corpus
        checksum = None if pixels else sum(m) % 2147483647
        parsed, kind = None, "opaque"
        if m[:2] == b"BM":
            parsed = parse_bmp(m)
            kind = "bmp"
        elif m[:2] in (b"P5", b"P6"):
            parsed = parse_pnm(m)
            kind = "pnm"
        elif m[:8] == b"\x89PNG\r\n\x1a\n":
            parsed = parse_png(m)
            kind = "png"
        elif m[:3] == b"\xff\xd8\xff":
            parsed = parse_jpeg(m)
            kind = "jpeg"
        if parsed is None:
            if pixels:
                return (n, None, "opaque", None, None, None, None)
            return (n, checksum, "opaque", checksum % 640, checksum % 480,
                    None)
        w, h, mean, gray = parsed
        out = (n, checksum, kind, w, h, mean)
        return out + (gray,) if pixels else out

    return parse


def decode_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched decode/feature-extract over the binary column —
    real header+payload decode for BMP/PNM, deterministic byte stats
    for everything else (module docstring).  The parser comes from
    ``_media_parser`` so the shipped closure is self-contained."""
    parse = _media_parser()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [parse(m) for m in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": pd.Series(
                        [f[0] for f in feats], dtype="Int32"
                    ),
                    "checksum": pd.Series(
                        [f[1] for f in feats], dtype="Int64"
                    ),
                    "media_kind": pd.Series(
                        [f[2] for f in feats], dtype="object"
                    ),
                    "width": pd.Series(
                        [f[3] for f in feats], dtype="Int32"
                    ),
                    "height": pd.Series(
                        [f[4] for f in feats], dtype="Int32"
                    ),
                    "mean_pixel": pd.Series(
                        [f[5] for f in feats], dtype="Float64"
                    ),
                }
            )

    return df.select(id_col, "media").mapInPandas(batches, DECODED_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("media_kind", T.StringType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("mean_abs_amplitude", T.DoubleType()),
    ]
)


def _audio_parser(samples: bool = False):
    """Factory for the WAV/FLAC feature extractor — same by-value
    shipping rationale as ``_media_parser`` (workers lack this
    package).  With ``samples=True`` (the ``audio_fingerprint``
    variant, mirroring ``_media_parser(pixels=True)``) each parse
    result carries one extra element: the decoded audio as a mono
    float64 numpy array normalized to [-1, 1] (channel-averaged), or
    None for opaque media.

    The returned ``parse(media) -> (n_bytes, media_kind, n_channels,
    sample_rate, bits_per_sample, n_frames, duration_s,
    mean_abs_amplitude)`` REALLY decodes the two audio formats
    parseable with zero dependencies — RIFF/WAVE integer PCM and
    FLAC (``parse_flac`` below).  The WAV leg:

    - walks the chunk list (4-byte id, uint32 LE size, word-aligned
      bodies — a LIST/INFO chunk before ``fmt `` is legal and skipped),
      takes the FIRST ``fmt `` and ``data`` chunks;
    - accepts only what it can honestly decode: format tag 1 (integer
      PCM), 8- or 16-bit, ``block_align == n_channels * bytes_per_sample``
      (a lying block_align would mis-frame every sample after the first);
    - amplitude is the mean |sample| normalized to [0, 1] (8-bit is
      unsigned around 128, 16-bit signed LE), vectorized via
      ``numpy.frombuffer`` — no per-sample Python loop on a 100 TB
      decode job;
    - format tag 0x11 (IMA/DVI ADPCM, round 11 — the ubiquitous
      compressed-WAV variant) REALLY decompresses: per-block predictor
      /step-index headers, round-robin 4-byte nibble words, the
      standard 89-entry step table, ``fact``-chunk frame-count
      truncation of the zero-padded final block;
    - anything else — truncated chunk, float/extensible formats,
      a text document starting with "RIFF" — degrades to ``opaque``
      with NULL audio fields, never an executor crash.
    """

    # IMA/DVI ADPCM constants (IMA "Recommended Practices for
    # Enhancing Digital Audio Compatibility", 1992 — the table every
    # WAV codec ships verbatim; transcription cross-checked against an
    # independently-typed copy in tests/test_adpcm.py)
    _IMA_STEP = (
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
        34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
        143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
        449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
        1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
        3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
        9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
        22385, 24623, 27086, 29794, 32767,
    )
    _IMA_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)

    def _ima_blocks(data, nch, block_align):
        """Decode IMA ADPCM `data` into per-channel int sample lists.
        Block layout: per-channel 4-byte header (int16 LE predictor =
        the block's first sample, step index, reserved), then 4-byte
        nibble words round-robin across channels, low nibble first.
        Returns None on any structural lie (bad step index, ragged
        block) — caller degrades to opaque."""
        chans = [[] for _ in range(nch)]
        for base in range(0, len(data) - block_align + 1, block_align):
            preds, idxs = [], []
            for c in range(nch):
                off = base + 4 * c
                pred = int.from_bytes(
                    data[off:off + 2], "little", signed=True
                )
                idx = data[off + 2]
                if idx > 88:
                    return None
                preds.append(pred)
                idxs.append(idx)
                chans[c].append(pred)
            for w, woff in enumerate(
                range(base + 4 * nch, base + block_align, 4)
            ):
                c = w % nch
                pred, idx = preds[c], idxs[c]
                out = chans[c]
                for byte in data[woff:woff + 4]:
                    for n in (byte & 0xF, byte >> 4):
                        step = _IMA_STEP[idx]
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
                        idx = max(0, min(88, idx + _IMA_ADJ[n & 7]))
                        out.append(pred)
                preds[c], idxs[c] = pred, idx
        return chans

    def parse_wav(m: bytes):
        if len(m) < 44 or m[:4] != b"RIFF" or m[8:12] != b"WAVE":
            return None
        fmt = data = fact = None
        pos = 12
        while pos + 8 <= len(m):
            cid = m[pos : pos + 4]
            size = int.from_bytes(m[pos + 4 : pos + 8], "little")
            body = m[pos + 8 : pos + 8 + size]
            if len(body) < size:
                return None  # truncated chunk — not a decodable file
            if cid == b"fmt " and fmt is None:
                fmt = body
            elif cid == b"data" and data is None:
                data = body
            elif cid == b"fact" and fact is None and size >= 4:
                fact = int.from_bytes(body[0:4], "little")
            pos += 8 + size + (size & 1)  # bodies are word-aligned
        if fmt is None or data is None or len(fmt) < 16:
            return None
        audio_format = int.from_bytes(fmt[0:2], "little")
        n_channels = int.from_bytes(fmt[2:4], "little")
        sample_rate = int.from_bytes(fmt[4:8], "little")
        block_align = int.from_bytes(fmt[12:14], "little")
        bits = int.from_bytes(fmt[14:16], "little")
        if n_channels < 1 or sample_rate <= 0:
            return None
        if audio_format == 0x11:  # IMA/DVI ADPCM (round 11)
            if bits != 4 or block_align <= 4 * n_channels \
                    or (block_align - 4 * n_channels) % (4 * n_channels):
                return None
            spb = (block_align - 4 * n_channels) * 2 // n_channels + 1
            if len(fmt) >= 20 and int.from_bytes(
                fmt[18:20], "little"
            ) != spb:
                return None  # header lies about samples-per-block
            n_blocks = len(data) // block_align
            if n_blocks * spb * n_channels > (1 << 24):
                # same bomb bound as the image decoders (w*h > 2^24):
                # nibbles expand 4x + Python-int overhead on top
                return None
            decoded = _ima_blocks(
                data[: n_blocks * block_align], n_channels, block_align
            ) if n_blocks else [[] for _ in range(n_channels)]
            if decoded is None:
                return None
            n_frames = n_blocks * spb
            if fact is not None:
                # compressed WAV carries the true frame count; the
                # final block may be zero-padded past it
                if fact > n_frames or fact <= (n_blocks - 1) * spb:
                    return None
                n_frames = fact
                decoded = [c[:n_frames] for c in decoded]
            duration = round(n_frames / sample_rate, 6)
            mono = None
            if n_frames == 0:
                mean = None
            else:
                import numpy as np

                arr = np.asarray(decoded, dtype=np.float64) / 32768.0
                mean = round(float(np.abs(arr).mean()), 6)
                if samples:
                    mono = arr.mean(axis=0)
            return (n_channels, sample_rate, bits, n_frames, duration,
                    mean, mono)
        if audio_format != 1:
            return None
        if bits not in (8, 16) or block_align != n_channels * (bits // 8):
            return None
        n_frames = len(data) // block_align
        if n_frames * n_channels > (1 << 24):
            return None  # shared decode-size bound (float64 blow-up ×8)
        duration = round(n_frames / sample_rate, 6)
        usable = data[: n_frames * block_align]
        mono = None
        if not usable:
            mean = None
        else:
            import numpy as np

            if bits == 8:  # unsigned, silence at 128
                s = np.frombuffer(usable, dtype=np.uint8).astype(np.int16)
                norm = (s - 128) / 128.0
            else:  # signed 16-bit little-endian
                s = np.frombuffer(usable, dtype="<i2")
                norm = s.astype(np.float64) / 32768.0
            mean = round(float(np.abs(norm).mean()), 6)
            if samples:
                mono = norm.reshape(-1, n_channels).mean(axis=1)
        return n_channels, sample_rate, bits, n_frames, duration, mean, mono

    def parse_flac(m: bytes):
        """Full FLAC decode (round 11, pure stdlib) — the lossless
        audio format actually specified enough to implement from
        scratch (RFC 9639 / the xiph format spec; no tabulated
        psychoacoustic windows like MPEG audio).  Real decode, not a
        header skim: every frame's subframes are reconstructed —
        CONSTANT / VERBATIM / FIXED 0-4 / LPC 1-32, Rice and Rice2
        residual partitions incl. the raw-bits escape, wasted bits,
        and left/right/mid-side stereo decorrelation — because the
        mean-|amplitude| feature needs the samples, and because the
        three checksums (header CRC-8 poly 0x07, frame CRC-16 poly
        0x8005, STREAMINFO MD5 over the interleaved little-endian
        samples) are the honesty proof that the reconstruction is
        bit-exact.  Any failure — bad magic, reserved codes, CRC or
        MD5 mismatch, truncation — returns None and the caller
        degrades to ``opaque``: one corrupt file never kills a 100 TB
        decode job.

        Straggler bound (round 12, per ADVICE): the hot per-byte /
        per-bit loops are table-driven CRCs (one 256-entry table per
        polynomial, built once per file — ~8× fewer Python ops than
        the former bit-at-a-time loops over every frame byte),
        32-bits-at-a-time unary scanning, and numpy-vectorized
        per-frame |sample| sums + MD5 byte packing — so a max-size
        file (the shared 2^24-sample bound) costs seconds, not
        minutes, of single-core time per row."""
        import hashlib

        import numpy as np

        # table-driven CRC-8 (poly 0x07) / CRC-16 (poly 0x8005)
        crc8_tbl, crc16_tbl = [], []
        for byte in range(256):
            c = byte
            for _ in range(8):
                c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1)
            crc8_tbl.append(c)
            c = byte << 8
            for _ in range(8):
                c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 \
                    else (c << 1)
            crc16_tbl.append(c)

        if len(m) < 42 or m[:4] != b"fLaC":
            return None
        # ---- metadata blocks: need STREAMINFO (type 0, 34 bytes)
        pos, streaminfo = 4, None
        while True:
            if pos + 4 > len(m):
                return None
            last, btype = m[pos] & 0x80, m[pos] & 0x7F
            size = int.from_bytes(m[pos + 1:pos + 4], "big")
            if pos + 4 + size > len(m):
                return None
            if btype == 0:
                if streaminfo is not None or size != 34:
                    return None
                streaminfo = m[pos + 4:pos + 38]
            elif btype == 127:
                return None  # forbidden block type
            pos += 4 + size
            if last:
                break
        if streaminfo is None:
            return None
        sr = ((streaminfo[10] << 12) | (streaminfo[11] << 4)
              | (streaminfo[12] >> 4))
        nch = ((streaminfo[12] >> 1) & 0x7) + 1
        bps = (((streaminfo[12] & 1) << 4) | (streaminfo[13] >> 4)) + 1
        total = (((streaminfo[13] & 0x0F) << 32)
                 | int.from_bytes(streaminfo[14:18], "big"))
        md5_want = streaminfo[18:34]
        if sr == 0 or total * nch > (1 << 24):
            return None  # shared decode-size bound

        # ---- MSB-first bit reader over the remaining bytes
        bitpos = pos * 8
        nbits = len(m) * 8

        def getbits(n):
            nonlocal bitpos
            if bitpos + n > nbits:
                raise EOFError
            end = bitpos + n
            first, lastb = bitpos >> 3, (end + 7) >> 3
            v = int.from_bytes(m[first:lastb], "big")
            v >>= (lastb << 3) - end
            bitpos = end
            return v & ((1 << n) - 1)

        def signed(v, n):
            return v - (1 << n) if v >> (n - 1) else v

        def unary():
            # word-at-a-time: peek up to 32 bits, count leading zeros
            # via bit_length — one iteration consumes a whole zero run
            # chunk instead of one bit
            nonlocal bitpos
            q = 0
            while True:
                if bitpos >= nbits:
                    raise EOFError
                avail = min(32, nbits - bitpos)
                end = bitpos + avail
                first, lastb = bitpos >> 3, (end + 7) >> 3
                v = int.from_bytes(m[first:lastb], "big")
                v >>= (lastb << 3) - end
                v &= (1 << avail) - 1
                if v:
                    lead = avail - v.bit_length()
                    bitpos += lead + 1
                    return q + lead
                q += avail
                bitpos = end

        def crc8(buf):
            c = 0
            for b in buf:
                c = crc8_tbl[c ^ b]
            return c

        def crc16(buf):
            c = 0
            for b in buf:
                c = crc16_tbl[(c >> 8) ^ b] ^ ((c << 8) & 0xFFFF)
            return c

        def residual(bs, order):
            method = getbits(2)
            if method > 1:
                raise ValueError
            plen = 4 + method
            escape = (1 << plen) - 1
            porder = getbits(4)
            nparts = 1 << porder
            if bs % nparts or (bs >> porder) < order:
                raise ValueError
            out = []
            for p in range(nparts):
                n = (bs >> porder) - (order if p == 0 else 0)
                k = getbits(plen)
                if k == escape:
                    raw = getbits(5)
                    out.extend(
                        signed(getbits(raw), raw) if raw else 0
                        for _ in range(n)
                    )
                else:
                    for _ in range(n):
                        u = (unary() << k) | (getbits(k) if k else 0)
                        out.append((u >> 1) ^ -(u & 1))
            return out

        def subframe(bs, sbps):
            if getbits(1):
                raise ValueError  # padding bit must be 0
            t = getbits(6)
            wasted = 1 + unary() if getbits(1) else 0
            ebps = sbps - wasted
            if ebps <= 0:
                raise ValueError
            if t == 0:  # CONSTANT
                x = [signed(getbits(ebps), ebps)] * bs
            elif t == 1:  # VERBATIM
                x = [signed(getbits(ebps), ebps) for _ in range(bs)]
            elif 8 <= t <= 12 or t >= 32:  # FIXED order / LPC order
                order = t - 8 if t <= 12 else t - 31
                if order > bs:
                    raise ValueError
                x = [signed(getbits(ebps), ebps) for _ in range(order)]
                if t >= 32:
                    prec = getbits(4)
                    if prec == 15:
                        raise ValueError
                    prec += 1
                    shift = signed(getbits(5), 5)
                    if shift < 0:
                        raise ValueError
                    coefs = [signed(getbits(prec), prec)
                             for _ in range(order)]
                    for r in residual(bs, order):
                        pred = sum(
                            c * x[-1 - j] for j, c in enumerate(coefs)
                        ) >> shift
                        x.append(r + pred)
                else:
                    fixed = ((), (1,), (2, -1), (3, -3, 1),
                             (4, -6, 4, -1))[order]
                    for r in residual(bs, order):
                        x.append(r + sum(
                            c * x[-1 - j] for j, c in enumerate(fixed)
                        ))
            else:
                raise ValueError  # reserved subframe type
            if wasted:
                x = [v << wasted for v in x]
            return x

        # ---- frame sequence until clean end-of-stream
        sample_bytes = bps // 8 if bps % 8 == 0 else None
        md5 = hashlib.md5() if sample_bytes else None
        n_samples = 0
        sum_abs = 0
        mono_parts = [] if samples else None
        srate_tbl = (0, 88200, 176400, 192000, 8000, 16000, 22050,
                     24000, 32000, 44100, 48000, 96000)
        try:
            while bitpos < nbits:
                fstart = bitpos >> 3
                if getbits(14) != 0x3FFE or getbits(1):
                    return None
                getbits(1)  # blocking strategy — both legal
                bs_code, sr_code = getbits(4), getbits(4)
                ch_code, ss_code = getbits(4), getbits(3)
                if getbits(1):
                    return None  # reserved bit
                lead = getbits(8)  # UTF-8-coded frame/sample number
                n1 = 8 - (255 - lead).bit_length() if lead >= 0x80 else 0
                if n1 == 1 or n1 > 7:
                    return None
                for _ in range(max(0, n1 - 1)):
                    if getbits(8) >> 6 != 0b10:
                        return None
                if bs_code == 0:
                    return None
                elif bs_code == 1:
                    bs = 192
                elif bs_code <= 5:
                    bs = 576 << (bs_code - 2)
                elif bs_code == 6:
                    bs = getbits(8) + 1
                elif bs_code == 7:
                    bs = getbits(16) + 1
                else:
                    bs = 256 << (bs_code - 8)
                if (n_samples + bs) * nch > (1 << 24):
                    # a CONSTANT subframe expands ~10 bytes to 65k
                    # samples (x26000): without this in-loop bound an
                    # unknown-total (total=0) stream is a decode bomb
                    return None
                if sr_code == 12:
                    getbits(8)  # kHz — STREAMINFO stays authoritative
                elif sr_code in (13, 14):
                    getbits(16)
                elif sr_code == 15:
                    return None
                elif srate_tbl[sr_code] not in (0, sr):
                    return None  # header contradicts STREAMINFO
                fbps = (0, 8, 12, 0, 16, 20, 24, 32)[ss_code]
                if ss_code == 3 or (fbps and fbps != bps):
                    return None
                if ch_code < 8:
                    mode, fch = None, ch_code + 1
                elif ch_code <= 10:
                    mode, fch = ch_code, 2
                else:
                    return None
                if fch != nch:
                    return None
                want8 = getbits(8)
                if crc8(m[fstart:(bitpos >> 3) - 1]) != want8:
                    return None
                chans = []
                for ci in range(fch):
                    side = (mode == 8 and ci == 1) or \
                           (mode == 9 and ci == 0) or \
                           (mode == 10 and ci == 1)
                    chans.append(subframe(bs, bps + (1 if side else 0)))
                if mode == 8:    # left/side → right = left - side
                    chans = [chans[0],
                             [a - b for a, b in zip(*chans)]]
                elif mode == 9:  # side/right → left = right + side
                    chans = [[a + b for a, b in zip(*chans)], chans[1]]
                elif mode == 10:  # mid/side
                    left, right = [], []
                    for mid, sd in zip(*chans):
                        m2 = (mid << 1) | (sd & 1)
                        left.append((m2 + sd) >> 1)
                        right.append((m2 - sd) >> 1)
                    chans = [left, right]
                if bitpos & 7:
                    if getbits(8 - (bitpos & 7)):
                        return None  # footer padding must be zero
                want16 = getbits(16)
                if crc16(m[fstart:(bitpos >> 3) - 2]) != want16:
                    return None
                n_samples += bs
                carr = np.asarray(chans, dtype=np.int64)
                sum_abs += int(np.abs(carr).sum())
                if mono_parts is not None:
                    mono_parts.append(
                        carr.mean(axis=0) / (1 << (bps - 1))
                    )
                if md5 is not None:
                    inter = carr.T  # frames × channels, interleaved
                    if sample_bytes in (1, 2, 4):
                        md5.update(
                            inter.astype(f"<i{sample_bytes}").tobytes()
                        )
                    else:  # 24-bit: no native dtype — explicit pack
                        md5.update(b"".join(
                            int(v).to_bytes(
                                sample_bytes, "little", signed=True
                            )
                            for frame in inter for v in frame
                        ))
        except (EOFError, ValueError, OverflowError):
            return None
        if n_samples == 0 or (total and n_samples != total):
            return None
        if md5 is not None and md5_want != b"\x00" * 16 \
                and md5.digest() != md5_want:
            return None  # decoded audio does not match the source
        mean = round(sum_abs / (n_samples * nch) / (1 << (bps - 1)), 6)
        mono = None
        if mono_parts:
            import numpy as np

            mono = np.concatenate(mono_parts)
        return (nch, sr, bps, n_samples,
                round(n_samples / sr, 6), mean, mono)

    width = 9 if samples else 8

    def parse(media):
        if media is None:  # NULL media → NULL features, never a crash
            return (None,) * width
        m = bytes(media)
        if m[:4] == b"RIFF":
            parsed, kind = parse_wav(m), "wav"
        elif m[:4] == b"fLaC":
            parsed, kind = parse_flac(m), "flac"
        else:
            parsed = kind = None
        if parsed is None:
            return (len(m), "opaque") + (None,) * (width - 2)
        out = (len(m), kind) + parsed[:6]
        return out + (parsed[6],) if samples else out

    return parse


def decode_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched audio decode over the binary column — real
    RIFF/WAVE PCM parsing and checksum-verified FLAC decoding
    (``_audio_parser``), ``opaque`` with NULL audio fields for
    everything else.  Same 100 TB shape as ``decode_media``:
    metadata-first schema, partition-parallel, one self-contained
    closure."""
    parse = _audio_parser()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [parse(m) for m in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": pd.Series([f[0] for f in feats], dtype="Int32"),
                    "media_kind": pd.Series(
                        [f[1] for f in feats], dtype="object"
                    ),
                    "n_channels": pd.Series(
                        [f[2] for f in feats], dtype="Int32"
                    ),
                    "sample_rate": pd.Series(
                        [f[3] for f in feats], dtype="Int32"
                    ),
                    "bits_per_sample": pd.Series(
                        [f[4] for f in feats], dtype="Int32"
                    ),
                    "n_frames": pd.Series([f[5] for f in feats], dtype="Int32"),
                    "duration_s": pd.Series(
                        [f[6] for f in feats], dtype="Float64"
                    ),
                    "mean_abs_amplitude": pd.Series(
                        [f[7] for f in feats], dtype="Float64"
                    ),
                }
            )

    return df.select(id_col, "media").mapInPandas(batches, AUDIO_SCHEMA)


def _avi_demuxer():
    """Factory for the MJPEG-in-AVI frame extractor — the one VIDEO
    container walkable with zero dependencies (RIFF chunk grammar, the
    same walker shape as the WAV parser; each ``00dc``/``00db`` chunk
    of the ``movi`` LIST is a complete JPEG the round-10 decoder
    consumes).  Returns ``demux(media) -> list[bytes] | None`` — the
    ordered compressed frames, or None when the bytes are not a
    walkable AVI (caller falls back / degrades).  Shipped by value
    like the other parsers."""

    def demux(m: bytes):
        if len(m) < 12 or m[:4] != b"RIFF" or m[8:12] != b"AVI ":
            return None
        frames = []

        def walk(pos, end):
            while pos + 8 <= end:
                cid = m[pos:pos + 4]
                size = int.from_bytes(m[pos + 4:pos + 8], "little")
                body_start = pos + 8
                if body_start + size > end:
                    return False  # truncated chunk
                if cid == b"LIST" and size >= 4:
                    # recurse into any LIST — movi may nest 'rec ' lists
                    if not walk(body_start + 4, body_start + size):
                        return False
                elif cid[2:4] in (b"dc", b"db"):
                    # compressed / uncompressed video frame for any
                    # stream id (digits at cid[0:2])
                    if cid[:2].isdigit():
                        frames.append(m[body_start:body_start + size])
                pos = body_start + size + (size & 1)  # word-aligned
            return True

        if not walk(12, len(m)):
            return None
        return frames

    return demux


def _y4m_demuxer():
    """Factory for the YUV4MPEG2 (.y4m) frame extractor — the standard
    UNCOMPRESSED video interchange format (mjpegtools / ffmpeg's
    ``-f yuv4mpeg``), walkable with zero dependencies: one ASCII
    stream header (``YUV4MPEG2 W<w> H<h> F<n>:<d> ... C<cs>\\n``),
    then ``FRAME[ params]\\n`` + exactly one raw planar picture per
    frame (luma plane first, chroma planes after, size fixed by the
    header's geometry + colorspace).

    Returns ``demux(media) -> list[bytes] | None`` — one **P5 PGM**
    per frame wrapping the luma plane, so sampled frames flow straight
    into the existing ``decode_media`` / ``image_dhash`` pipeline
    (video → frames → decode → perceptual dedup, same contract as the
    MJPEG-in-AVI path) — or None when the bytes are not a walkable
    Y4M (caller falls back to the slicing stub).  Honest coverage:
    C420*(jpeg/mpeg2/paldv)/C422/C444/Cmono plane geometries; unknown
    colorspaces, absurd geometry (w*h > 2^24, the shared image-bomb
    bound), or a truncated frame payload degrade to None — never an
    executor crash, and never a half-parsed guess.  Shipped by value
    like the other parsers."""

    def demux(m: bytes):
        if not m.startswith(b"YUV4MPEG2"):
            return None
        nl = m.find(b"\n", 0, 4096)  # stream header is one short line
        if nl < 0:
            return None
        w = h = None
        cs = b"420jpeg"  # the spec's default colorspace
        for tok in m[9:nl].split(b" "):
            if not tok:
                continue
            tag, val = tok[:1], tok[1:]
            try:
                if tag == b"W":
                    w = int(val)
                elif tag == b"H":
                    h = int(val)
                elif tag == b"C":
                    cs = val
            except ValueError:
                return None
        if w is None or h is None or w <= 0 or h <= 0 or w * h > (1 << 24):
            return None
        luma = w * h
        if cs in (b"420jpeg", b"420mpeg2", b"420paldv", b"420"):
            # exact 8-bit tags only: C420p10/C420p12 are 2 bytes/sample
            chroma = 2 * ((w + 1) // 2) * ((h + 1) // 2)
        elif cs == b"422":
            chroma = 2 * ((w + 1) // 2) * h
        elif cs == b"444":
            chroma = 2 * luma
        elif cs == b"mono":
            chroma = 0
        else:
            return None  # alpha/10-bit/unknown colorspaces: not a guess
        pgm_header = b"P5\n%d %d\n255\n" % (w, h)
        frames = []
        pos = nl + 1
        while pos < len(m):
            if m[pos:pos + 5] != b"FRAME":
                return None  # desynced — not a walkable stream
            fnl = m.find(b"\n", pos + 5, pos + 5 + 4096)
            if fnl < 0:
                return None
            body = fnl + 1
            if body + luma + chroma > len(m):
                return None  # truncated picture
            frames.append(pgm_header + m[body:body + luma])
            pos = body + luma + chroma
        return frames

    return demux


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def _block_mean_fn():
    """Factory for the area-mean block resampler: integer-repeat
    tiny inputs up to the target grid, then compute EVERY block mean in
    two vectorized ``np.add.reduceat`` passes (row sums, then column
    sums) divided by the exact block areas — no per-cell Python loop in
    the decode hot path.  Used by the dHash cell grid; shipped by value
    inside its closure."""

    def block_mean(gray, rows, cols):
        import numpy as np

        g = np.asarray(gray, dtype=np.float64)
        if g.shape[0] < rows:
            g = np.repeat(g, -(-rows // g.shape[0]), axis=0)
        if g.shape[1] < cols:
            g = np.repeat(g, -(-cols // g.shape[1]), axis=1)
        h, w = g.shape
        rb = np.linspace(0, h, rows + 1).astype(np.int64)
        cb = np.linspace(0, w, cols + 1).astype(np.int64)
        sums = np.add.reduceat(
            np.add.reduceat(g, rb[:-1], axis=0), cb[:-1], axis=1
        )
        return sums / np.outer(np.diff(rb), np.diff(cb))

    return block_mean


def _dhash_fn():
    """Factory for the 64-bit difference-hash (dHash) over a decoded
    grayscale grid — the standard perceptual fingerprint for image
    near-dup at corpus scale (LAION-style dedup): block-mean the grid
    to 8×9 cells, emit one bit per horizontal neighbor pair
    (``right > left``).  Gradient SIGNS survive uniform brightness and
    scale changes, so re-encoded/resized copies collide while distinct
    images differ in ~32 bits.  Deterministic: block boundaries come
    from integer linspace, ties (==) are 0.  Shipped by value inside
    the mapInPandas closure like the parsers."""

    block_mean = _block_mean_fn()

    def dhash(gray):
        import numpy as np

        if gray is None:
            return None
        g = np.asarray(gray, dtype=np.float64)
        if g.ndim != 2 or g.size == 0:
            return None
        cells = block_mean(g, 8, 9)
        val = 0
        for i in range(8):
            for j in range(8):
                if cells[i, j + 1] > cells[i, j]:
                    val |= 1 << (i * 8 + j)
        return val - (1 << 64) if val >= (1 << 63) else val  # signed i64

    return dhash


def image_dhash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched perceptual fingerprinting over the binary column:
    decode (same parsers as ``decode_media``, pixel-grid variant) →
    64-bit dHash.  Non-raster / corrupt media yield a NULL dhash (the
    opaque contract) and simply never pair."""
    parse = _media_parser(pixels=True)
    dhash = _dhash_fn()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [parse(m) for m in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "media_kind": pd.Series(
                        [r[2] for r in rows], dtype="object"
                    ),
                    "width": pd.Series([r[3] for r in rows], dtype="Int32"),
                    "height": pd.Series(
                        [r[4] for r in rows], dtype="Int32"
                    ),
                    "dhash": pd.Series(
                        [dhash(r[6]) for r in rows], dtype="Int64"
                    ),
                }
            )

    return df.select(id_col, "media").mapInPandas(batches, DHASH_SCHEMA)


AFP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_kind", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("afp", T.LongType()),
    ]
)


def _afp_fn():
    """Factory for the 64-bit audio spectral fingerprint — the audio
    sibling of the image dHash, using Haitsma & Kalker's (2002)
    time-differential band-energy sign: build a 9×9 grid of spectral
    energies (9 equal time segments × 9 equal bands of each segment's
    ``numpy.fft.rfft`` power spectrum, DC bin dropped — amplitude
    offsets carry no identity) and emit one bit per (segment, band)
    cell of the 8×8 double difference,
    ``(E[i+1,j]-E[i+1,j+1]) - (E[i,j]-E[i,j+1]) > 0``.
    Sign-of-difference bits are exactly invariant under uniform gain
    (every energy scales together) and under container/codec
    round-trips of the same PCM (WAV vs FLAC of one signal fingerprint
    identically — tested); empirically (prototyped against the three
    simpler designs) ±1-LSB requantization noise flips ≤ ~2 bits while
    spectrally-similar-but-different signals diverge by ≥ ~19.
    Deterministic; None in → None out.  Shipped by value inside the
    mapInPandas closure like the parsers."""

    def afp(mono):
        import numpy as np

        if mono is None or len(mono) < 16:
            return None
        grid = []
        for seg in np.array_split(np.asarray(mono), 9):
            spec = np.abs(np.fft.rfft(seg)) ** 2
            grid.append([b.sum() for b in np.array_split(spec[1:], 9)])
        g = np.asarray(grid)
        d = g[:, :-1] - g[:, 1:]  # per-segment band slope
        bits = (d[1:] - d[:-1]) > 0  # its change across time: 8×8
        val = 0
        for i in range(8):
            for j in range(8):
                if bits[i, j]:
                    val |= 1 << (i * 8 + j)
        return val - (1 << 64) if val >= (1 << 63) else val  # signed i64

    return afp


def audio_fingerprint(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched audio fingerprinting over the binary column:
    decode (same parsers as ``decode_audio``, mono-samples variant) →
    64-bit spectral fingerprint (``_afp_fn``).  Opaque / corrupt /
    too-short media yield a NULL ``afp`` (the opaque contract) and
    simply never pair.  100 TB shape: the decode is the costly,
    embarrassingly-parallel stage; only (doc_id, 8-byte fingerprint)
    rows ever shuffle."""
    parse = _audio_parser(samples=True)
    afp = _afp_fn()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [parse(m) for m in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "media_kind": pd.Series(
                        [r[1] for r in rows], dtype="object"
                    ),
                    "sample_rate": pd.Series(
                        [r[3] for r in rows], dtype="Int32"
                    ),
                    "duration_s": pd.Series(
                        [r[6] for r in rows], dtype="Float64"
                    ),
                    "afp": pd.Series(
                        [afp(r[8]) for r in rows], dtype="Int64"
                    ),
                }
            )

    return df.select(id_col, "media").mapInPandas(batches, AFP_SCHEMA)


VFP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_kind", T.StringType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("vfp", T.LongType()),
    ]
)


def _vfp_votes_fn():
    """Factory for the per-video 64-bit fingerprint fold: bitwise
    MAJORITY vote (= the bitwise median frame) over the sampled
    frames' dHashes.  Rationale (round 12 — video as a first-class
    near-dup kind):

    - container invariance is inherited from the frame dHash — two
      muxes of the same pictures (MJPEG-in-AVI vs Y4M) yield per-frame
      hashes within re-encode distance, and a per-bit majority over
      many frames absorbs those few-bit flips entirely, so the video
      fingerprints land even CLOSER than their worst frame pair;
    - a majority is deterministic and order-free: no alignment step,
      no anchor-frame choice, ties (exactly half the frames) resolve
      to 0;
    - temporal structure is deliberately NOT encoded: a time-segmented
      variant (per-segment majorities, the audio fingerprint's shape)
      was considered and rejected because it breaks on the common
      re-encode operations that CHANGE the time axis (frame-rate
      resampling, trims) — the identity we dedup on is "same
      pictures", and a reversed or re-paced copy of a clip IS a
      near-dup for training-data purposes;
    - the boundary of that identity (round 13, pinned by
      tests/test_video_fp.py::test_video_excerpt_is_not_a_near_dup):
      re-paces and MINORITY trims keep the fingerprint, but an
      EXCERPT whose frames are a minority of the source (a 10 s cut
      from a 2-min clip) folds its own majority over a different
      frame population and will NOT match the source.  That is the
      decision, not an accident: "same pictures by majority" —
      sub-clip containment is retrieval's job (ANN over per-frame
      hashes), not dedup's.  That retrieval side exists since round
      14: ``video_frame_fingerprints`` (the unfolded per-frame
      relation, same decode pass) + ``media_containment_pairs``
      (pigeonhole pairing + matched-frame-fraction rollup) report
      the excerpt this fold correctly refuses to pair.

    Returns ``fold(hashes) -> signed i64 | None`` over an iterable of
    signed 64-bit frame dHashes."""

    def fold(hashes):
        votes = [0] * 64
        n = 0
        for h in hashes:
            if h is None:
                continue
            h &= (1 << 64) - 1
            n += 1
            for b in range(64):
                votes[b] += (h >> b) & 1
        if n == 0:
            return None
        val = 0
        for b in range(64):
            if 2 * votes[b] > n:  # strict majority; ties → 0
                val |= 1 << b
        return val - (1 << 64) if val >= (1 << 63) else val

    return fold


def video_fingerprint(
    df: DataFrame, id_col: str = "doc_id", stride: int = 1
) -> DataFrame:
    """Arrow-batched per-VIDEO perceptual fingerprinting over the
    binary column — the third fingerprint family beside ``image_dhash``
    and ``audio_fingerprint``: demux (the MJPEG-in-AVI / Y4M walkers
    ``_avi_demuxer`` / ``_y4m_demuxer``), decode every ``stride``-th frame
    through the image parser, dHash each, fold with the bitwise
    majority (``_vfp_votes_fn``).  Non-demuxable / zero-decodable-frame
    media yield a NULL ``vfp`` (the opaque contract) and never pair.
    ``n_frames`` is the demuxed TOTAL (not the sampled count) so
    telemetry sees the true clip length; ``width``/``height`` are the
    first DECODABLE sampled frame's geometry (the clip resolution —
    the quality-gate dial a crawled video firehose actually needs;
    NULL when no sampled frame decodes), read from the same decode
    pass that feeds the fold, never an extra pass.

    100 TB shape: identical to the image/audio legs — the decode is
    the costly, embarrassingly-parallel Arrow stage (one demux + one
    JPEG/PGM decode per sampled frame, all executor-side); only
    (doc_id, 8-byte fingerprint) rows ever shuffle.  ``stride`` is the
    decode-cost dial: 1 folds every frame (most noise immunity), 4
    quarters the decode at a measured few-bit fingerprint cost."""
    if stride <= 0:
        raise ValueError(f"stride must be positive, got {stride}")
    demux_avi = _avi_demuxer()
    demux_y4m = _y4m_demuxer()
    parse = _media_parser(pixels=True)
    dhash = _dhash_fn()
    fold = _vfp_votes_fn()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            kinds, counts, widths, heights, vfps = [], [], [], [], []
            for media in pdf["media"]:
                kind, nf, w, h, vfp = "opaque", None, None, None, None
                if media is not None:
                    m = bytes(media)
                    frames = demux_avi(m)
                    if frames is not None:
                        kind = "avi"
                    else:
                        frames = demux_y4m(m)
                        if frames is not None:
                            kind = "y4m"
                    if frames:
                        nf = len(frames)
                        hashes = []
                        for i in range(0, len(frames), stride):
                            parsed = parse(frames[i])
                            if w is None and parsed[3] is not None:
                                w, h = parsed[3], parsed[4]
                            hashes.append(dhash(parsed[6]))
                        vfp = fold(hashes)
                kinds.append(kind)
                counts.append(nf)
                widths.append(w)
                heights.append(h)
                vfps.append(vfp)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "media_kind": pd.Series(kinds, dtype="object"),
                    "n_frames": pd.Series(counts, dtype="Int32"),
                    "width": pd.Series(widths, dtype="Int32"),
                    "height": pd.Series(heights, dtype="Int32"),
                    "vfp": pd.Series(vfps, dtype="Int64"),
                }
            )

    return df.select(id_col, "media").mapInPandas(batches, VFP_SCHEMA)


FRAME_FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("fp", T.LongType()),
    ]
)


def video_frame_fingerprints(
    df: DataFrame, id_col: str = "doc_id", stride: int = 1
) -> DataFrame:
    """(doc_id, frame_idx, fp) — one row per DECODABLE sampled frame:
    the per-frame dHash relation ``video_fingerprint`` folds away.

    This is the retrieval side of the round-13 excerpt decision
    (``_vfp_votes_fn``: "sub-clip containment is retrieval's job —
    ANN over per-frame hashes, not dedup's"): the majority fold
    deliberately cannot see a 10 s excerpt inside a 2-min compilation
    because the excerpt folds its own majority over a different frame
    population, so containment needs the UNFOLDED relation.  Same
    demux + JPEG/PGM decode + dHash pass as ``video_fingerprint`` —
    a caller indexing a corpus pays the decode once and keeps both
    artifacts.  ``frame_idx`` is the demux index (0-based, pre-stride)
    so excerpt offsets stay meaningful; non-demuxable media and
    undecodable frames emit no row (an opaque doc simply cannot be
    probed or matched — the NULL-fp contract at frame granularity).

    100 TB shape: the decode is the embarrassingly-parallel Arrow
    stage; what shuffles afterwards is (8-byte id, 4-byte idx, 8-byte
    fp) rows — ~1000× smaller than the frames.  The relation is
    frames-per-video × corpus-sized: persist it partitioned like the
    fingerprint store (the caller's one-decode index) and query it
    with ``media_containment_pairs`` (probe-scaled, never re-decodes).
    """
    if stride <= 0:
        raise ValueError(f"stride must be positive, got {stride}")
    demux_avi = _avi_demuxer()
    demux_y4m = _y4m_demuxer()
    parse = _media_parser(pixels=True)
    dhash = _dhash_fn()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, fps = [], [], []
            for doc_id, media in zip(
                pdf[id_col].astype("int64"), pdf["media"]
            ):
                if media is None:
                    continue
                m = bytes(media)
                frames = demux_avi(m)
                if frames is None:
                    frames = demux_y4m(m)
                if not frames:
                    continue
                for i in range(0, len(frames), stride):
                    h = dhash(parse(frames[i])[6])
                    if h is None:
                        continue
                    ids.append(doc_id)
                    idxs.append(i)
                    fps.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "fp": pd.Series(fps, dtype="int64"),
                }
            )

    return df.select(id_col, "media").mapInPandas(batches, FRAME_FP_SCHEMA)


def media_containment_pairs(
    probe_frames: DataFrame,
    index_frames: DataFrame,
    *,
    max_hamming: int = 6,
    n_bands: int = 8,
    min_frac: float = 0.5,
    max_index_df: int | None = None,
    self_probe: bool | None = None,
) -> DataFrame:
    """Sub-clip containment over per-frame fingerprint relations —
    MEDIA-AGNOSTIC: any (doc_id, frame_idx, fp) relation qualifies,
    video frames (``video_frame_fingerprints``) and overlapping
    hop-grid windows (the ``audio_containment`` registry row) alike,
    typically with the index
    side read back from its persisted parquet.  Reports (doc_probe,
    doc_index, matched_frames, probe_frames, frac) for every probe
    clip whose frames are ≥ ``min_frac`` covered by near frames
    (Hamming ≤ ``max_hamming``) of one index clip — the 10-s-excerpt-
    in-a-2-min-compilation case the whole-clip fingerprints cannot
    and must not see (round-13 decision, ``_vfp_votes_fn``).

    Mechanics — the exact-dup-collapse lesson at fingerprint
    granularity (the editdist row's shape): repeated content makes
    IDENTICAL fingerprint values the dominant match mass (the same
    establishing shot across a series' episodes, a repeated n-gram, a
    mirrored clip), so the near-match machinery runs over DISTINCT
    fingerprint VALUES only —

    1. exact value matches are one slim equi-join of the two distinct-
       value sets (hamming 0, no banding needed);
    2. near matches (1..max_hamming) run the pigeonhole pairing
       (``hamming_near_dups_incremental``) between distinct values,
       where its identity guard excludes exactly the hamming-0 pairs
       leg 1 already has;
    3. the matched VALUE pairs roll up WITHOUT ever expanding to
       frame-pair rows (round 16): the probe side pre-aggregates to
       (doc, value, #distinct frames), the match relation collapses
       to distinct (value, index doc) — the index side pre-collapsed
       to distinct (doc, fp), since "how many index frames carry the
       value" is irrelevant to coverage — and matched_frames is the
       SUM of per-value frame counts (exact because a frame carries
       exactly one fingerprint value, so the distinct-frame count
       factors by value).

    Measured rationale: the naive frame-pair formulation paid the
    banded join and the exact verify per frame PAIR — under 10×
    verbatim replicas (identical fps across every replica family)
    that is ~100× candidate volume for ~unchanged distinct-value
    work, 74 s vs this form's pairing cost that tracks distinct
    values.  A probe frame matching many index frames still counts
    once — containment is "how much of the probe is covered", not
    match volume.

    The threshold compares in exact integer arithmetic
    (``matched * 1e6 >= round(min_frac * 1e6) * total``): a float
    ``0.6 * n`` boundary is engine-dependent (DECIMAL vs IEEE), and
    cross-engine oracles must agree on boundary pairs.  Self pairs
    (probe doc present in the index) are excluded — every clip
    trivially contains itself.

    ``max_index_df`` is the STOP-FRAME dial (the stopword/IDF idea at
    frame granularity): a fingerprint value carried by more than this
    many DISTINCT index docs — a network logo card, a silence window,
    a black frame, a stopword n-gram in text surrogates — asserts
    containment in everything and carries no discriminative signal,
    so it is dropped from the INDEX side before any pairing.  Probe
    totals still count every probe frame, so the dial is conservative:
    a probe consisting mostly of stop-frames reports nothing rather
    than reporting everything.  Default None = exact semantics (every
    match counts — what the registry oracle pins)."""
    from etl_olho_vivo_spark.operators.dedup import (
        _hamming_validate,
        hamming_near_dups_incremental,
    )

    if not 0 < min_frac <= 1:
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    if max_index_df is not None and max_index_df < 1:
        raise ValueError(f"max_index_df must be >= 1, got {max_index_df}")
    _hamming_validate(64, max_hamming, n_bands)
    thr_ppm = round(min_frac * 1_000_000)

    # self-probe (probing a corpus against itself — the registry rows
    # and any corpus-wide audit): every index value IS a probe value,
    # so the exact leg's distinct-value equi-join is algebraically the
    # index value set itself — the join (and, with no stop-frame dial,
    # the second distinct) drops out of the plan (round 15).
    # ``self_probe`` makes the collapse reachable when the two
    # relations are the same DATA but different DataFrame objects —
    # the CLI reading one parquet path twice (round 16, advisor item);
    # a caller asserting True for genuinely different relations would
    # get the collapsed (wrong) plan, so only pass it for
    # provably-identical inputs.  None keeps the object-identity
    # fallback.
    if self_probe is None:
        self_probe = probe_frames is index_frames

    i_docs = index_frames.select(
        F.col("fp").alias("ifp"), F.col("doc_id").alias("doc_index")
    ).dropDuplicates()
    if max_index_df is not None:
        keep = (
            i_docs.groupBy("ifp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_index_df)
            .select("ifp")
        )
        i_docs = i_docs.join(keep, "ifp", "left_semi")

    i_vals = i_docs.select(F.col("ifp").alias("fp")).distinct()
    if self_probe:
        # i_vals ⊆ p_vals, so p_vals ∩ i_vals = i_vals
        p_vals = i_vals if max_index_df is None \
            else probe_frames.select("fp").distinct()
        exact = i_vals.select(
            F.col("fp").alias("pfp"), F.col("fp").alias("ifp")
        )
    else:
        p_vals = probe_frames.select("fp").distinct()
        exact = p_vals.join(i_vals, "fp").select(
            F.col("fp").alias("pfp"), F.col("fp").alias("ifp")
        )
    near = hamming_near_dups_incremental(
        p_vals, i_vals, hash_col="fp", bits=64,
        max_hamming=max_hamming, n_bands=n_bands, id_col="fp",
        # downstream collapses at the distinct (value, index doc)
        # relation — the pairing's own pair-dedup would add an
        # exchange over the candidates for nothing (multi-band
        # duplicates verify to the same hamming)
        dedup_pairs=False,
    ).select(F.col("doc_new").alias("pfp"), F.col("doc_old").alias("ifp"))
    vpairs = exact.unionByName(near)

    # Round 16 — the rollup works at VALUE granularity end to end
    # (guide §8: decide with small rows; §2.3 aggregate before you
    # shuffle).  The old shape expanded matched values to one row per
    # (probe doc, probe FRAME, index doc) and shuffled that frame-pair-
    # sized relation twice through count_distinct(pframe).  Every
    # probe frame carries exactly ONE fingerprint (the video/audio
    # builders construct one fp per (doc_id, frame_idx); duplicate
    # rows from unioned parquet repeat the same fp), so the distinct-
    # frame count factors: matched_frames(probe, index) =
    # Σ over matched values v of #distinct probe frames carrying v.
    # ``p_cnt`` pre-aggregates the probe side to (doc, value, n) —
    # count_distinct(frame_idx) keeps duplicate-row inputs from
    # inflating, the pinned granularity — and ``vd`` de-duplicates the
    # (value, index doc) match relation so a value matching one index
    # doc through SEVERAL index values (exact + near) still counts its
    # frames once.  The frame-pair relation never crosses an exchange.
    p_cnt = probe_frames.groupBy(
        F.col("fp").alias("pfp"),
        F.col("doc_id").alias("doc_probe"),
    ).agg(F.count_distinct("frame_idx").alias("__nf__"))
    vd = (
        vpairs.join(i_docs, "ifp")
        .select("pfp", "doc_index")
        .distinct()
    )
    matched = (
        vd.join(p_cnt, "pfp")
        .filter(F.col("doc_probe") != F.col("doc_index"))
        .groupBy("doc_probe", "doc_index")
        .agg(F.sum("__nf__").alias("matched_frames"))
    )
    # probe-scaled relation: one row per probe doc — AQE broadcasts it.
    # count_distinct, not count: matched_frames counts DISTINCT probe
    # frame_idx, so a probe relation carrying duplicate (doc_id,
    # frame_idx) rows (video-contain --probe-is-index over unioned
    # parquet) must not inflate the denominator and deflate frac.
    totals = probe_frames.groupBy(
        F.col("doc_id").alias("doc_probe")
    ).agg(F.count_distinct("frame_idx").alias("probe_frames"))
    return (
        matched.join(totals, "doc_probe")
        .filter(
            F.col("matched_frames") * 1_000_000
            >= F.lit(thr_ppm) * F.col("probe_frames")
        )
        .select(
            "doc_probe", "doc_index",
            F.col("matched_frames").cast("long").alias("matched_frames"),
            F.col("probe_frames").cast("long").alias("probe_frames"),
            F.round(
                F.col("matched_frames") / F.col("probe_frames"), 6
            ).alias("frac"),
        )
    )
