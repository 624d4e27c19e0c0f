"""Multimodal plumbing: media side-table, stub decode/features/frames,
media-concept triples, and the span invariant under the full pipeline."""

import pytest

from nobletools_spark.model import MatchConfig
from nobletools_spark.operators.matcher import annotate, span_invariant_violations
from nobletools_spark.operators.multimodal import (
    decode_media,
    extract_features,
    media_concept_triples,
    media_table_from_docs,
    sample_frames,
)
from nobletools_spark.sources.fixtures import pytest_index, synthetic_corpus_df


@pytest.fixture(scope="module")
def docs(spark):
    return synthetic_corpus_df(spark, 80, seed=3, media_frac=0.5).cache()


@pytest.fixture(scope="module")
def media(spark, docs):
    return media_table_from_docs(docs).cache()


def test_media_table(spark, docs, media):
    rows = media.collect()
    assert rows
    r = rows[0]
    assert r.media_type == "image/fake" and isinstance(r.content, (bytes, bytearray))
    assert r.metadata["origin"] == r.media_ref


def test_decode_deterministic(spark, media):
    a = {r.media_ref: (r.width, r.height, bytes(r.pixels))
         for r in decode_media(media).collect()}
    b = {r.media_ref: (r.width, r.height, bytes(r.pixels))
         for r in decode_media(media).collect()}
    assert a == b and a
    for w, h, px in a.values():
        assert 16 <= w < 32 and 16 <= h < 32 and len(px) == w * h


def test_features_shape(spark, media):
    rows = extract_features(media, dim=16).collect()
    assert rows and all(len(r.feature) == 16 for r in rows)
    assert all(0.0 <= v < 1.0 for r in rows for v in r.feature)


def test_frame_sampling(spark, media):
    rows = sample_frames(media).collect()
    by_ref = {}
    for r in rows:
        by_ref.setdefault(r.media_ref, []).append(r)
    assert all(1 <= len(v) <= 4 for v in by_ref.values())
    for v in by_ref.values():
        assert [f.frame_idx for f in sorted(v, key=lambda x: x.ts_ms)] == \
               list(range(len(v)))


def test_media_concept_triples(spark, docs, media):
    mentions = annotate(docs, pytest_index(), MatchConfig())
    t = media_concept_triples(docs, mentions)
    rows = t.collect()
    assert rows and all(r.pred == "illustrates-concept" for r in rows)
    # every subject is a real media_ref
    refs = {r.media_ref for r in media.collect()}
    assert {r.subj for r in rows} <= refs


def test_span_invariant_after_media_ops(spark, docs, media):
    # media processing never mutates the documents table
    decode_media(media).count()
    assert span_invariant_violations(docs, docs.select("doc_id", "spans")) == 0


def _make_bmp(w, h, rgb_rows):
    """Minimal 24-bit BMP writer (bottom-up, padded rows)."""
    import struct

    stride = (w * 3 + 3) & ~3
    pix = b""
    for row in reversed(rgb_rows):               # bottom-up storage
        line = b"".join(bytes((b, g, r)) for r, g, b in row)
        pix += line + b"\0" * (stride - len(line))
    header = b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                       2835, 2835, 0, 0)
    return header + info + pix


def _make_png(w, h, ch, raw, filters=None):
    """Minimal PNG writer with per-row filter types."""
    import struct
    import zlib

    def chunk(ctype, body):
        c = ctype + body
        return struct.pack(">I", len(body)) + c + \
            struct.pack(">I", zlib.crc32(c))

    color = {1: 0, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    stride = w * ch
    filters = filters or [0] * h
    scan = b""
    prev = bytearray(stride)
    for y in range(h):
        line = bytearray(raw[y * stride:(y + 1) * stride])
        ft = filters[y]
        enc = bytearray(line)
        for i in reversed(range(stride)):
            a = line[i - ch] if i >= ch else 0
            b_ = prev[i]
            c_ = prev[i - ch] if i >= ch else 0
            if ft == 1:
                enc[i] = (line[i] - a) & 0xFF
            elif ft == 2:
                enc[i] = (line[i] - b_) & 0xFF
            elif ft == 3:
                enc[i] = (line[i] - (a + b_) // 2) & 0xFF
            elif ft == 4:
                p = a + b_ - c_
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c_)
                pr = a if (pa <= pb and pa <= pc) else \
                    (b_ if pb <= pc else c_)
                enc[i] = (line[i] - pr) & 0xFF
        scan += bytes([ft]) + bytes(enc)
        prev = line
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b""))


def _make_wav(samples, framerate=8000, channels=1):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(framerate)
        wf.writeframes(samples)
    return buf.getvalue()


def test_decode_bmp_exact():
    from nobletools_spark.operators.multimodal import decode_bmp

    rows = [[(255, 0, 0), (0, 255, 0), (0, 0, 255)],
            [(10, 20, 30), (40, 50, 60), (70, 80, 90)]]
    w, h, ch, px = decode_bmp(_make_bmp(3, 2, rows))
    assert (w, h, ch) == (3, 2, 3)
    # top-down RGB, row padding stripped
    assert px[:9] == bytes((255, 0, 0, 0, 255, 0, 0, 0, 255))
    assert px[9:12] == bytes((10, 20, 30))


def test_decode_png_all_filters():
    from nobletools_spark.operators.multimodal import decode_png

    raw = bytes(range(0, 60))                    # 4x5 RGB gradient
    for ft in (0, 1, 2, 3, 4):
        blob = _make_png(4, 5, 3, raw, filters=[ft] * 5)
        w, h, ch, px = decode_png(blob)
        assert (w, h, ch) == (4, 5, 3)
        assert px == raw, f"filter {ft}"
    # mixed filters + grayscale
    blob = _make_png(4, 5, 3, raw, filters=[0, 1, 2, 3, 4])
    assert decode_png(blob)[3] == raw
    gray = bytes(range(20))
    assert decode_png(_make_png(5, 4, 1, gray))[3] == gray


def test_decode_png_truncated_idat_raises_value_error():
    """A PNG whose IDAT inflates to fewer bytes than h*(stride+1) must
    raise ValueError (not IndexError) for direct callers; pipeline
    callers still get the malformed-row fallback via _decode_any."""
    import pytest

    from nobletools_spark.operators.multimodal import decode_png

    raw = bytes(range(0, 60))
    blob = _make_png(4, 5, 3, raw, filters=[0] * 5)
    # rebuild with IDAT holding only the first 2 rows' worth of data
    import struct
    import zlib

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    ihdr = struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0)
    short = zlib.compress(b"\x00" + raw[:12] + b"\x00" + raw[12:24])
    bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", short) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="truncated"):
        decode_png(bad)


def _make_avi(n_frames, uspf=40000):
    frames = [b"\xff\xd8" + bytes([i]) * 5 + b"\xff\xd9"
              for i in range(n_frames)]

    def chunk(fourcc, body):
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + len(body).to_bytes(4, "little") + body + pad

    avih = uspf.to_bytes(4, "little") + b"\x00" * 52
    hdrl = b"hdrl" + chunk(b"avih", avih)
    movi = b"movi" + b"".join(chunk(b"00dc", f) for f in frames)
    body = b"AVI " + chunk(b"LIST", hdrl) + chunk(b"LIST", movi)
    return b"RIFF" + len(body).to_bytes(4, "little") + body, frames


def test_parse_avi_demuxes_mjpeg_frames():
    """Real RIFF/AVI demux: frame-rate from avih, ##dc payloads byte-
    identical, truncation raises ValueError."""
    import pytest

    from nobletools_spark.operators.multimodal import parse_avi, sniff_media

    blob, frames = _make_avi(10)
    assert sniff_media(blob) == "video/avi"
    uspf, got = parse_avi(blob)
    assert uspf == 40000 and got == frames
    with pytest.raises(ValueError):
        parse_avi(blob[:len(blob) // 2])


def test_parse_avi_deeply_nested_lists_raise_value_error():
    """An adversarial AVI with thousands of nested LISTs must raise
    ValueError (caught by the sample_frames stub fallback), never
    RecursionError (which would escape it and kill the stage)."""
    import pytest

    from nobletools_spark.operators.multimodal import parse_avi

    inner = b""
    for _ in range(2000):
        body = b"losi" + inner
        inner = b"LIST" + len(body).to_bytes(4, "little") + body
    blob = b"RIFF" + (len(inner) + 4).to_bytes(4, "little") + b"AVI " + inner
    with pytest.raises(ValueError):
        parse_avi(blob)


def test_sample_frames_avi_real_sampling(spark):
    """sample_frames on an AVI picks source frames at ~every_ms spacing
    from the container's own frame rate (25 fps, 200 ms → every 5th
    frame), carries source indexes/timestamps and the ENCODED payloads;
    non-AVI rows keep the deterministic stub fallback."""
    from nobletools_spark.operators.multimodal import sample_frames

    blob, frames = _make_avi(10)  # 25 fps
    media = spark.createDataFrame(
        [("m1", blob), ("m2", b"not a video at all")],
        "media_ref string, content binary")
    out = sample_frames(media, every_ms=200, max_frames=4).collect()
    avi = sorted((r.frame_idx, r.ts_ms, bytes(r.frame))
                 for r in out if r.media_ref == "m1")
    assert avi == [(0, 0, frames[0]), (5, 200, frames[5])]
    stub = [r for r in out if r.media_ref == "m2"]
    assert stub and all(len(bytes(r.frame)) == 16 for r in stub)


def _box(typ, body):
    return (8 + len(body)).to_bytes(4, "big") + typ + body


def _make_mp4(n_frames, timescale=1000, delta=40, stts_entries=None):
    """Minimal ISO-BMFF: ftyp + mdat (samples) + moov with one video
    trak whose stts/stsz/stsc/stco tables index straight into mdat —
    25 fps at the defaults; pass stts_entries [(count, delta), ...]
    for variable frame rate."""
    frames = [b"\x00\x00\x01\x65" + bytes([i]) * (4 + i % 3)
              for i in range(n_frames)]
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat_body = b"".join(frames)
    mdat_off = len(ftyp) + 8                     # first sample offset
    mdat = _box(b"mdat", mdat_body)
    entries = stts_entries or [(n_frames, delta)]
    stts = _box(b"stts", b"\x00" * 4 + len(entries).to_bytes(4, "big")
                + b"".join(c.to_bytes(4, "big") + d.to_bytes(4, "big")
                           for c, d in entries))
    stsz = _box(b"stsz", b"\x00" * 4 + (0).to_bytes(4, "big")
                + n_frames.to_bytes(4, "big")
                + b"".join(len(f).to_bytes(4, "big") for f in frames))
    # all samples in one chunk at mdat_off
    stsc = _box(b"stsc", b"\x00" * 4 + (1).to_bytes(4, "big")
                + (1).to_bytes(4, "big") + n_frames.to_bytes(4, "big")
                + (1).to_bytes(4, "big"))
    stco = _box(b"stco", b"\x00" * 4 + (1).to_bytes(4, "big")
                + mdat_off.to_bytes(4, "big"))
    stbl = _box(b"stbl", stts + stsz + stsc + stco)
    minf = _box(b"minf", stbl)
    hdlr = _box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    mdhd = _box(b"mdhd", b"\x00" * 12 + timescale.to_bytes(4, "big")
                + b"\x00" * 8)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", mdia)
    moov = _box(b"moov", trak)
    return ftyp + mdat + moov, frames


def test_parse_mp4_demuxes_samples():
    """ISO-BMFF demux: timestamps from stts/mdhd, sample payloads
    sliced via stsz/stsc/stco; truncation raises ValueError."""
    import pytest

    from nobletools_spark.operators.multimodal import parse_mp4, sniff_media

    blob, frames = _make_mp4(10)
    assert sniff_media(blob) == "video/mp4"
    times, got = parse_mp4(blob)
    assert got == frames
    assert times == [i * 40 for i in range(10)]
    with pytest.raises(ValueError):
        parse_mp4(blob[:40])


def test_sample_frames_mp4_real_sampling(spark):
    """sample_frames on an MP4 picks the first sample at/after each
    every_ms target (25 fps, 200 ms → samples 0 and 5) with source
    indexes, container timestamps, and encoded payloads."""
    from nobletools_spark.operators.multimodal import sample_frames

    blob, frames = _make_mp4(10)
    media = spark.createDataFrame([("v1", blob)],
                                  "media_ref string, content binary")
    out = sorted((r.frame_idx, r.ts_ms, bytes(r.frame))
                 for r in sample_frames(media, every_ms=200,
                                        max_frames=4).collect())
    assert out == [(0, 0, frames[0]), (5, 200, frames[5])]


def test_sample_frames_mp4_vfr_gap_no_burst(spark):
    """A variable-frame-rate timestamp gap must not burst consecutive
    frames: the sampling target catches up PAST each emitted sample.
    times = [0, 10000, 10040, ...] with every_ms=1000 → exactly frames
    at ts 0 and 10000, not a run of near-adjacent ones."""
    from nobletools_spark.operators.multimodal import sample_frames

    blob, frames = _make_mp4(6, stts_entries=[(1, 10000), (5, 40)])
    media = spark.createDataFrame([("v1", blob)],
                                  "media_ref string, content binary")
    out = sorted((r.frame_idx, r.ts_ms)
                 for r in sample_frames(media, every_ms=1000,
                                        max_frames=4).collect())
    assert out == [(0, 0), (1, 10000)]


def _evint(n):
    """EBML size/track vint with the length-marker bit."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            return ((1 << (7 * length)) | n).to_bytes(length, "big")
    raise ValueError(n)


def _eel(eid, body):
    """One EBML element: raw id bytes + size vint + body."""
    return eid + _evint(len(body)) + body


def _sblock(track, relts, flags, payload):
    return _eel(b"\xa3", _evint(track)
                + relts.to_bytes(2, "big", signed=True)
                + bytes([flags]) + payload)


def _make_mkv(n_frames, delta_ticks=40, ts_scale=1_000_000):
    """Minimal EBML/Matroska: header + Segment(Info(TimestampScale),
    Tracks(video track 1 + audio track 2), two Clusters of unlaced
    SimpleBlocks at delta_ticks spacing, plus one audio block that
    must be filtered out). Default TimestampScale = 1 ms/tick."""
    frames = [b"\x9d\x01*" + bytes([i]) * (3 + i % 3)
              for i in range(n_frames)]
    header = _eel(b"\x1aE\xdf\xa3", _eel(b"\x42\x82", b"webm"))
    info = _eel(b"\x15\x49\xa9\x66",
                _eel(b"\x2a\xd7\xb1",
                     ts_scale.to_bytes(8, "big").lstrip(b"\x00") or b"\x00"))
    ventry = _eel(b"\xae", _eel(b"\xd7", b"\x01") + _eel(b"\x83", b"\x01"))
    aentry = _eel(b"\xae", _eel(b"\xd7", b"\x02") + _eel(b"\x83", b"\x02"))
    tracks = _eel(b"\x16\x54\xae\x6b", ventry + aentry)
    half = (n_frames + 1) // 2
    c1 = _eel(b"\xe7", b"\x00") + b"".join(
        _sblock(1, i * delta_ticks, 0x00, frames[i]) for i in range(half))
    c1 += _sblock(2, 0, 0x00, b"AUDIO-SKIP-ME")
    base2 = half * delta_ticks
    c2 = _eel(b"\xe7", base2.to_bytes(4, "big").lstrip(b"\x00") or b"\x00") \
        + b"".join(_sblock(1, (i - half) * delta_ticks, 0x00, frames[i])
                   for i in range(half, n_frames))
    segment = _eel(b"\x18\x53\x80\x67",
                   info + tracks + _eel(b"\x1f\x43\xb6\x75", c1)
                   + _eel(b"\x1f\x43\xb6\x75", c2))
    return header + segment, frames


def test_parse_mkv_demuxes_blocks():
    """EBML/Matroska demux: cluster+block timestamps scaled by
    TimestampScale, video-track payloads byte-identical, the audio
    track's blocks filtered out, truncation raises ValueError."""
    import pytest

    from nobletools_spark.operators.multimodal import parse_mkv, sniff_media

    blob, frames = _make_mkv(10)
    assert sniff_media(blob) == "video/webm"
    times, got = parse_mkv(blob)
    assert got == frames and all(b"AUDIO" not in f for f in got)
    assert times == [i * 40 for i in range(10)]
    with pytest.raises(ValueError):
        parse_mkv(blob[:len(blob) - 7])
    # a non-default TimestampScale (0.5 ms/tick) halves the ms values
    blob2, _ = _make_mkv(4, ts_scale=500_000)
    times2, _ = parse_mkv(blob2)
    assert times2 == [0, 20, 40, 60]


def test_parse_mkv_lacing_modes():
    """All three Matroska lacing modes unpack: Xiph 255-run sizes,
    fixed equal split, EBML first-size + signed deltas. Laced frames
    share the block timestamp (documented simplification); malformed
    lace sizes raise ValueError."""
    import pytest

    from nobletools_spark.operators.multimodal import parse_mkv

    def svint(d):
        for length in range(1, 9):
            bias = (1 << (7 * length - 1)) - 1
            if 0 <= d + bias < (1 << (7 * length)) - 1:
                return ((1 << (7 * length)) | (d + bias)).to_bytes(
                    length, "big")
        raise ValueError(d)

    def shell(block_body):
        header = _eel(b"\x1aE\xdf\xa3", _eel(b"\x42\x82", b"webm"))
        tracks = _eel(b"\x16\x54\xae\x6b",
                      _eel(b"\xae", _eel(b"\xd7", b"\x01")
                           + _eel(b"\x83", b"\x01")))
        cluster = _eel(b"\x1f\x43\xb6\x75", _eel(b"\xe7", b"\x07")
                       + _eel(b"\xa3", block_body))
        return header + _eel(b"\x18\x53\x80\x67", tracks + cluster)

    fr = [b"A" * 300, b"BB", b"ccc"]
    head = _evint(1) + (0).to_bytes(2, "big") + bytes([0x02])  # Xiph
    xiph = head + bytes([2]) + b"\xff\x2d" + bytes([2]) + b"".join(fr)
    t, got = parse_mkv(shell(xiph))
    assert got == fr and t == [7, 7, 7]

    fixed = _evint(1) + (0).to_bytes(2, "big") + bytes([0x04]) \
        + bytes([2]) + b"X" * 5 + b"Y" * 5 + b"Z" * 5
    t, got = parse_mkv(shell(fixed))
    assert got == [b"X" * 5, b"Y" * 5, b"Z" * 5]

    ebml = _evint(1) + (0).to_bytes(2, "big") + bytes([0x06]) \
        + bytes([2]) + _evint(300) + svint(-298) + b"".join(fr)
    t, got = parse_mkv(shell(ebml))
    assert got == fr

    bad_fixed = _evint(1) + (0).to_bytes(2, "big") + bytes([0x04]) \
        + bytes([2]) + b"X" * 7   # 7 not divisible by 3
    with pytest.raises(ValueError):
        parse_mkv(shell(bad_fixed))


def test_sample_frames_webm_real_sampling(spark):
    """sample_frames on a Matroska file picks the first block at/after
    each every_ms target (25 fps, 200 ms → frames 0 and 5) with source
    indexes, container timestamps, and encoded payloads."""
    from nobletools_spark.operators.multimodal import sample_frames

    blob, frames = _make_mkv(10)
    media = spark.createDataFrame([("w1", blob)],
                                  "media_ref string, content binary")
    out = sorted((r.frame_idx, r.ts_ms, bytes(r.frame))
                 for r in sample_frames(media, every_ms=200,
                                        max_frames=4).collect())
    assert out == [(0, 0, frames[0]), (5, 200, frames[5])]


def test_parse_mp4_corrupt_counts_raise_value_error():
    """Declared table counts are bounded against their box sizes — a
    corrupt stsz count must ValueError immediately (stub fallback),
    not allocate gigabytes or spin."""
    import pytest

    from nobletools_spark.operators.multimodal import parse_mp4

    blob, _ = _make_mp4(4)
    # stsz layout: ...b'stsz' + verflags(4) + fixed(4) + count(4)
    i = blob.index(b"stsz")
    bad = blob[:i + 12] + (0xFFFFFFF0).to_bytes(4, "big") + blob[i + 16:]
    with pytest.raises(ValueError):
        parse_mp4(bad)
    # missing mdhd → ValueError, not TypeError
    j = blob.index(b"mdhd")
    nomdhd = blob[:j] + b"free" + blob[j + 4:]
    with pytest.raises(ValueError):
        parse_mp4(nomdhd)


def test_decode_wav_round_trip():
    import struct

    from nobletools_spark.operators.multimodal import decode_wav

    samples = struct.pack("<8h", 0, 1000, -1000, 32000, -32000, 5, -5, 0)
    nch, rate, n, out, sw = decode_wav(_make_wav(samples, 8000, 1))
    assert (nch, rate, n, sw) == (1, 8000, 8, 2)
    assert out == samples


def test_decode_media_auto_spark(spark):
    """decoder='auto' really decodes BMP/PNG/WAV through the distributed
    mapInPandas path and falls back to the fake codec for unknowns."""
    from nobletools_spark.operators.multimodal import decode_media

    rows = [("m://bmp", "application/octet-stream",
             _make_bmp(3, 2, [[(1, 2, 3)] * 3, [(4, 5, 6)] * 3]), {}),
            ("m://png", "application/octet-stream",
             _make_png(2, 2, 3, bytes(range(12))), {}),
            ("m://wav", "application/octet-stream",
             _make_wav(b"\x00\x01" * 4), {}),
            ("m://junk", "application/octet-stream", b"garbage", {})]
    media = spark.createDataFrame(
        rows, "media_ref string, media_type string, content binary, "
              "metadata map<string,string>")
    got = {r.media_ref: r for r in decode_media(media).collect()}
    assert got["m://bmp"].media_type == "image/bmp"
    assert (got["m://bmp"].width, got["m://bmp"].height) == (3, 2)
    assert bytes(got["m://bmp"].pixels)[:3] == bytes((1, 2, 3))
    assert got["m://png"].media_type == "image/png"
    assert bytes(got["m://png"].pixels) == bytes(range(12))
    assert got["m://wav"].media_type == "audio/wav"
    assert got["m://wav"].width == 1 and got["m://wav"].height == 8000
    assert got["m://junk"].media_type == "application/octet-stream"


def test_real_features_spark(spark):
    """Image features carry real channel stats; audio features carry
    real RMS — both computed distributed."""
    import numpy as np

    from nobletools_spark.operators.multimodal import extract_features

    red = _make_bmp(4, 4, [[(255, 0, 0)] * 4] * 4)     # solid red
    loud = _make_wav(np.full(1000, 16384, dtype="<i2").tobytes())
    quiet = _make_wav(np.zeros(1000, dtype="<i2").tobytes())
    media = spark.createDataFrame(
        [("m://red", "x", red, {}), ("m://loud", "x", loud, {}),
         ("m://quiet", "x", quiet, {})],
        "media_ref string, media_type string, content binary, "
        "metadata map<string,string>")
    got = {r.media_ref: list(r.feature)
           for r in extract_features(media).collect()}
    # solid red: R mean 1.0 / std 0, G mean 0
    assert got["m://red"][0] == pytest.approx(1.0)
    assert got["m://red"][1] == pytest.approx(0.0)
    assert got["m://red"][2] == pytest.approx(0.0)
    # RMS separates loud from silent
    assert got["m://loud"][0] == pytest.approx(0.5, abs=1e-3)
    assert got["m://quiet"][0] == pytest.approx(0.0)


def test_malformed_recognized_payloads_fall_back(spark):
    """A payload whose magic bytes match but whose body is truncated or
    an unsupported variant must fall back to the fake codec, not kill
    the stage (one bad row in a multi-TB media job)."""
    from nobletools_spark.operators.multimodal import (
        decode_media,
        extract_features,
    )

    rows = [("m://bmw", "x", b"BMW is not a bitmap at all", {}),
            ("m://trunc_png", "x", b"\x89PNG\r\n\x1a\n" + b"\x00" * 10, {}),
            ("m://bad_wav", "x", b"RIFF1234WAVEjunk", {}),
            ("m://good", "x", _make_bmp(2, 1, [[(9, 9, 9), (1, 1, 1)]]), {})]
    media = spark.createDataFrame(
        rows, "media_ref string, media_type string, content binary, "
              "metadata map<string,string>")
    got = {r.media_ref: r for r in decode_media(media).collect()}
    assert len(got) == 4                       # nothing crashed
    assert got["m://bmw"].media_type == "x"    # fake fallback, type kept
    assert got["m://good"].media_type == "image/bmp"
    feats = {r.media_ref: r for r in extract_features(media).collect()}
    assert len(feats) == 4 and all(len(f.feature) == 16
                                   for f in feats.values())


def test_non_16bit_wav_falls_back_to_hash_features(spark):
    """8-bit PCM silence must NOT produce near-max RMS via int16
    misinterpretation — features fall back to the hash path."""
    import io
    import wave

    from nobletools_spark.operators.multimodal import extract_features

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)           # 8-bit PCM
        wf.setframerate(8000)
        wf.writeframes(b"\x80" * 1000)   # silence in unsigned 8-bit
    media = spark.createDataFrame(
        [("m://8bit", "x", buf.getvalue(), {})],
        "media_ref string, media_type string, content binary, "
        "metadata map<string,string>")
    feat = extract_features(media).collect()[0].feature
    # hash fallback values are bytes/256 in [0,1); crucially the first
    # element is NOT the bogus 0.996 RMS of misread int16 silence
    assert len(feat) == 16 and abs(feat[0] - 0.996) > 0.05


def test_parse_mkv_all_ones_vints_are_values():
    """RFC 8794 reserves the all-ones vint for UNKNOWN only in element
    data sizes; a block track number of 127 minimally encoded as 0xFF
    and an EBML lace first-size of 127 (0xFF) are ordinary values and
    must demux, not fall to the stub."""
    from nobletools_spark.operators.multimodal import parse_mkv

    def shell127(block_body):
        header = _eel(b"\x1aE\xdf\xa3", _eel(b"\x42\x82", b"webm"))
        tracks = _eel(b"\x16\x54\xae\x6b",
                      _eel(b"\xae", _eel(b"\xd7", bytes([127]))
                           + _eel(b"\x83", b"\x01")))
        cluster = _eel(b"\x1f\x43\xb6\x75", _eel(b"\xe7", b"\x05")
                       + _eel(b"\xa3", block_body))
        return header + _eel(b"\x18\x53\x80\x67", tracks + cluster)

    # track 127 as the all-ones 1-byte vint 0xFF, no lacing
    body = b"\xff" + (0).to_bytes(2, "big") + bytes([0x00]) + b"FRAME"
    t, got = parse_mkv(shell127(body))
    assert got == [b"FRAME"] and t == [5]

    # EBML lacing whose FIRST lace size is 127 encoded as 0xFF
    fr = [b"G" * 127, b"hh"]
    body2 = b"\xff" + (0).to_bytes(2, "big") + bytes([0x06]) \
        + bytes([1]) + b"\xff" + b"".join(fr)
    t2, got2 = parse_mkv(shell127(body2))
    assert got2 == fr and t2 == [5, 5]


def test_parse_mkv_single_frame_ebml_lace():
    """A 1-frame EBML lace carries NO size vints (the spec writes
    nframes-1 sizes): the single frame is the whole payload."""
    from nobletools_spark.operators.multimodal import parse_mkv

    def shell(block_body):
        header = _eel(b"\x1aE\xdf\xa3", _eel(b"\x42\x82", b"webm"))
        tracks = _eel(b"\x16\x54\xae\x6b",
                      _eel(b"\xae", _eel(b"\xd7", b"\x01")
                           + _eel(b"\x83", b"\x01")))
        cluster = _eel(b"\x1f\x43\xb6\x75", _eel(b"\xe7", b"\x07")
                       + _eel(b"\xa3", block_body))
        return header + _eel(b"\x18\x53\x80\x67", tracks + cluster)

    body = _evint(1) + (0).to_bytes(2, "big") + bytes([0x06]) \
        + bytes([0]) + b"ONLYFRAME"
    t, got = parse_mkv(shell(body))
    assert got == [b"ONLYFRAME"] and t == [7]


def test_parse_avi_multi_stream_keeps_primary():
    """dc/db chunks from a second video stream must not interleave
    into the primary stream's frame sequence."""
    from nobletools_spark.operators.multimodal import parse_avi

    def chunk(fourcc, data):
        return fourcc + len(data).to_bytes(4, "little") + data \
            + (b"\x00" if len(data) % 2 else b"")

    movi = (b"movi" + chunk(b"00dc", b"A0") + chunk(b"01dc", b"B0")
            + chunk(b"00dc", b"A1") + chunk(b"01dc", b"B1"))
    movi_list = chunk(b"LIST", movi)
    avih = chunk(b"avih", (40000).to_bytes(4, "little") + b"\x00" * 52)
    payload = b"AVI " + avih + movi_list
    blob = b"RIFF" + len(payload).to_bytes(4, "little") + payload
    us, frames = parse_avi(blob)
    assert frames == [b"A0", b"A1"]      # stream 00 only, in order
    assert us == 40000


def test_parse_mkv_unknown_size_cluster():
    """Live-muxed / unfinalized Matroska (OBS, ffmpeg pipes) writes
    Clusters with the unknown-size vint: the cluster must end at the
    first non-cluster-child element (RFC 8794 §6.2) and demux for real
    instead of falling back to the stub."""
    from nobletools_spark.operators.multimodal import parse_mkv

    blob, frames = _make_mkv(6)
    # rebuild with cluster 1 unsized: header + Segment(Info, Tracks,
    # Cluster[unknown size](ts + blocks), Cluster[sized](...))
    header = _eel(b"\x1aE\xdf\xa3", _eel(b"\x42\x82", b"webm"))
    info = _eel(b"\x15\x49\xa9\x66",
                _eel(b"\x2a\xd7\xb1", b"\x0f\x42\x40"))
    ventry = _eel(b"\xae", _eel(b"\xd7", b"\x01") + _eel(b"\x83", b"\x01"))
    tracks = _eel(b"\x16\x54\xae\x6b", ventry)
    c1_body = _eel(b"\xe7", b"\x00") + b"".join(
        _sblock(1, i * 40, 0x00, frames[i]) for i in range(3))
    c2_body = _eel(b"\xe7", bytes([120])) + b"".join(
        _sblock(1, (i - 3) * 40, 0x00, frames[i]) for i in range(3, 6))
    unsized_c1 = b"\x1f\x43\xb6\x75" + b"\xff" + c1_body
    seg_body = info + tracks + unsized_c1 + _eel(b"\x1f\x43\xb6\x75",
                                                 c2_body)
    blob2 = header + _eel(b"\x18\x53\x80\x67", seg_body)
    times, got = parse_mkv(blob2)
    assert got == frames
    assert times == [i * 40 for i in range(6)]


def test_sample_frames_absurd_timescale_falls_back_to_stub(spark):
    """An mkv whose TimestampScale makes ts_ms overflow int32 must hit
    the documented stub fallback (one bad row), never crash the Python
    worker on the Arrow int32 cast."""
    from nobletools_spark.operators.multimodal import sample_frames

    blob, _ = _make_mkv(4, ts_scale=2**55)
    media = spark.createDataFrame([("v1", blob)],
                                  "media_ref string, content binary")
    rows = sample_frames(media, every_ms=1000, max_frames=4).collect()
    assert rows                      # stub frames, not a crashed stage
    assert all(len(r.frame) == 16 for r in rows)   # md5-stub payloads
    assert all(-2**31 <= r.ts_ms < 2**31 for r in rows)


def test_decode_png_bounded_inflate():
    """A PNG whose IDAT inflates far beyond the declared dimensions
    raises ValueError after a BOUNDED inflate (decompression bomb
    guard) — and a correct PNG still round-trips."""
    import struct
    import zlib

    import pytest

    from nobletools_spark.operators.multimodal import decode_png

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    magic = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # 2x2 gray
    good_raw = b"\x00\x01\x02\x00\x03\x04"
    good = (magic + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(good_raw))
            + chunk(b"IEND", b""))
    w, h, ch, px = decode_png(good)
    assert (w, h, ch) == (2, 2, 1) and px == b"\x01\x02\x03\x04"
    bomb = (magic + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 50_000_000))
            + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="oversized PNG body"):
        decode_png(bomb)


def test_media_adjacent_concept_edges(spark):
    """Adjacency-scoped media edges: a figure links to concepts in the
    text spans immediately before/after it (the caption), not to every
    concept in the document; neighbors widens the window; rel_pos is
    the signed span-order distance."""
    import pytest as _pytest

    from nobletools_spark.model import MatchConfig
    from nobletools_spark.operators.multimodal import (
        media_adjacent_concept_edges,
    )
    from nobletools_spark.sources.fixtures import SPANS_DDL, builtin_index

    t0 = "the patient has spark."            # C101, span pos 0
    t2 = "figure shows vector."              # C102, span pos 2
    t3 = "the customer ordered data."        # C103, span pos 3
    docs = spark.createDataFrame(
        [("d1", [("text", t0, None, 0),
                 ("media", None, "media://x", len(t0) + 1),
                 ("text", t2, None, len(t0) + 2),
                 ("text", t3, None, len(t0) + len(t2) + 3)])],
        SPANS_DDL)
    m = annotate(docs, builtin_index(), MatchConfig())
    got = {(r.subj, r.obj, r.rel_pos)
           for r in media_adjacent_concept_edges(docs, m).collect()}
    assert got == {("media://x", "C101", -1), ("media://x", "C102", 1)}
    wide = {(r.obj, r.rel_pos)
            for r in media_adjacent_concept_edges(docs, m,
                                                  neighbors=2).collect()}
    assert wide == {("C101", -1), ("C102", 1), ("C103", 2)}
    with _pytest.raises(ValueError):
        media_adjacent_concept_edges(docs, m, neighbors=0)


def test_sample_frames_rejects_degenerate_params(spark):
    """every_ms <= 0 would fail or degenerate the timed-frame target
    inside an executor; max_frames < 1 would ZeroDivisionError in the
    stub path — both rejected loudly on the driver."""
    import pytest

    from nobletools_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame([(1, b"x")], "media_id long, content binary")
    with pytest.raises(ValueError):
        sample_frames(df, every_ms=0)
    with pytest.raises(ValueError):
        sample_frames(df, max_frames=0)


def test_decode_png_rejects_bombs_and_bad_filters():
    """A PNG declaring huge dimensions raises before inflating (the
    decode cap) and an invalid scanline filter type raises instead of
    decoding garbage — both land in the deterministic-stub fallback."""
    import struct
    import zlib

    import pytest

    from nobletools_spark.operators.multimodal import decode_png

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    sig = b"\x89PNG\r\n\x1a\n"
    # 65535 x 65535 RGBA: ~17 GB declared from a few bytes of IDAT
    ihdr = struct.pack(">IIBBBBB", 65535, 65535, 8, 6, 0, 0, 0)
    bomb = (sig + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 64))
            + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="decode cap"):
        decode_png(bomb)
    # 1x1 grayscale with invalid filter type 7
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    bad = (sig + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x07\x41"))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="filter"):
        decode_png(bad)
