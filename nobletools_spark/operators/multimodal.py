"""Multimodal (image/audio/video) column plumbing for the interleaved
documents table. Media spans (kind='media', media_ref) are carried
through the KG pipeline untouched (per-row span invariant); this module
gives them a typed side-table and the decode / feature-extract / resize /
frame-sample operators a training-data pipeline needs.

Design: media payloads are opaque ``binary`` columns with typed metadata
(media_type, width/height/duration where known). All heavy work runs in
Arrow-batched ``mapInPandas`` — one Python worker call per batch of
media rows, the right shape for multi-GB media partitions.

Codecs: BMP (24-bit), PNG (8-bit gray/RGB/RGBA, all filter types), and
WAV (PCM) decode for REAL with stdlib-only parsers (struct/zlib/wave) —
``decoder='auto'`` sniffs the magic bytes; exotic formats fall back to
``decoder='fake'`` deterministic bytes-derived outputs so the plumbing
stays exercised, and ``decoder='pil'`` raises NotImplementedError unless
Pillow imports on the executor (not in this container). Video frame
sampling REALLY demuxes RIFF/AVI (stdlib chunk walk — MJPEG AVIs yield
their encoded JPEG frames at the container's own frame rate), ISO-BMFF/
MP4 (moov sample tables: stts/stsz/stsc/stco), and EBML/Matroska
(mkv/webm: cluster+block timestamps, all three lacing modes)
containers; only truly exotic containers fall back to the
deterministic stub.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_DDL = ("media_ref string, media_type string, content binary, "
             "metadata map<string,string>")

FEATURES_DDL = ("media_ref string, media_type string, feature array<float>, "
                "width int, height int")

FRAMES_DDL = ("media_ref string, frame_idx int, frame binary, ts_ms int")

_FEATURE_DIM = 16


def media_table_from_docs(docs_df: DataFrame) -> DataFrame:
    """Derive the typed media side-table from interleaved documents:
    one row per media span, deterministic fake payload derived from the
    media_ref (content would come from object storage at scale — the
    fetch is a mapInPandas stage keyed by media_ref, not shown here)."""
    refs = (docs_df
            .select(F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "media")
            .select(F.col("s.media_ref").alias("media_ref"))
            .distinct())
    return refs.select(
        "media_ref",
        F.lit("image/fake").alias("media_type"),
        F.encode(F.concat(F.lit("payload:"), F.col("media_ref")), "UTF-8")
         .alias("content"),
        F.create_map(F.lit("origin"), F.col("media_ref")).alias("metadata"),
    )


def _fake_decode(content: bytes) -> tuple[int, int, bytes]:
    """Deterministic stand-in for an exotic codec: dimensions and pixel
    bytes derived from a content digest (keeps the plumbing exercised
    for formats the stdlib decoders below don't cover)."""
    d = hashlib.md5(content or b"").digest()
    width = 16 + d[0] % 16
    height = 16 + d[1] % 16
    pixels = (d * ((width * height) // len(d) + 1))[: width * height]
    return width, height, pixels


# ---------------------------------------------------------------------------
# Real stdlib-only codecs
# ---------------------------------------------------------------------------


def decode_bmp(content: bytes) -> tuple[int, int, int, bytes]:
    """Uncompressed 24-bit BMP → (width, height, channels, RGB bytes,
    top-down row order). Pure struct parsing: BITMAPFILEHEADER (14 B) +
    BITMAPINFOHEADER; rows are 4-byte padded, stored bottom-up, BGR."""
    import struct

    if content[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", content, 10)[0]
    w, h = struct.unpack_from("<ii", content, 18)
    planes, bpp = struct.unpack_from("<HH", content, 26)
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} comp={compression}")
    bottom_up = h > 0
    h = abs(h)
    row_stride = (w * 3 + 3) & ~3
    import numpy as np

    body = np.frombuffer(content, dtype=np.uint8,
                         count=row_stride * h, offset=data_off)
    rows = body.reshape(h, row_stride)[:, :w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return w, h, 3, rows[:, :, ::-1].tobytes()  # BGR -> RGB in C


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+A, RGBA


def decode_png(content: bytes) -> tuple[int, int, int, bytes]:
    """8-bit non-interlaced PNG → (width, height, channels, raw bytes,
    top-down). Stdlib only: chunk walk + zlib inflate + scanline
    unfilter (all five filter types, RFC 2083 §6)."""
    import struct
    import zlib

    if content[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, idat, w = 8, b"", None
    while pos < len(content):
        ln, ctype = struct.unpack_from(">I4s", content, pos)
        body = content[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", body)
            if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
                raise ValueError(
                    f"unsupported PNG: depth={depth} color={color}")
            ch = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("no IHDR")
    stride = w * ch
    need = h * (stride + 1)
    # declared-size cap BEFORE inflating: bounding the inflate to the
    # attacker-declared IHDR size alone still allocates `need` bytes —
    # a bomb declaring honest huge dimensions (65535x65535 RGBA ≈ 17 GB
    # from ~17 MB of IDAT) would OOM the executor instead of raising
    # the catchable ValueError one bad row deserves
    if need > 256 * 1024 * 1024:
        raise ValueError(
            f"PNG declares {w}x{h}x{ch} = {need} bytes — over the "
            f"256 MiB single-image decode cap")
    dec = zlib.decompressobj()
    raw = dec.decompress(idat, need + 1)
    # a stream longer than `need` shows up either as the +1 byte or as
    # an unconsumed tail still holding compressed input
    if len(raw) != need or dec.decompress(dec.unconsumed_tail, 1):
        raise ValueError(
            f"truncated or oversized PNG body: got {len(raw)}+ bytes, "
            f"need {need}")
    out = bytearray(h * stride)
    prev = bytearray(stride)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        for i in range(stride):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ftype == 1:
                line[i] = (line[i] + a) & 0xFF
            elif ftype == 2:
                line[i] = (line[i] + b) & 0xFF
            elif ftype == 3:
                line[i] = (line[i] + (a + b) // 2) & 0xFF
            elif ftype == 4:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
            elif ftype != 0:
                # 5-255 are invalid — falling through as type 0 would
                # return silently-wrong pixels instead of the documented
                # ValueError -> deterministic-stub fallback
                raise ValueError(f"invalid PNG scanline filter {ftype}")
        out[y * stride:(y + 1) * stride] = line
        prev = line
    return w, h, ch, bytes(out)


def decode_wav(content: bytes) -> tuple[int, int, int, bytes, int]:
    """PCM WAV → (n_channels, framerate, n_frames, sample bytes,
    sample_width_bytes) via the stdlib ``wave`` module."""
    import io
    import wave

    with wave.open(io.BytesIO(content)) as wf:
        return (wf.getnchannels(), wf.getframerate(), wf.getnframes(),
                wf.readframes(wf.getnframes()), wf.getsampwidth())


def sniff_media(content: bytes) -> str:
    if content[:2] == b"BM":
        return "image/bmp"
    if content[:8] == _PNG_MAGIC:
        return "image/png"
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return "audio/wav"
    if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        return "video/avi"
    if content[4:8] == b"ftyp":
        return "video/mp4"
    if content[:4] == b"\x1aE\xdf\xa3":
        # Matroska and WebM share the EBML container magic; the DocType
        # distinction doesn't change demuxing, so both sniff as webm
        return "video/webm"
    return "unknown"


def _mp4_boxes(buf: bytes, pos: int, end: int):
    """Iterate ISO-BMFF boxes in buf[pos:end] → (type, body_start,
    box_end). Handles 64-bit (size==1) and to-end (size==0) boxes."""
    while pos + 8 <= end:
        size = int.from_bytes(buf[pos:pos + 4], "big")
        typ = buf[pos + 4:pos + 8]
        hdr = 8
        if size == 1:
            size = int.from_bytes(buf[pos + 8:pos + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("truncated mp4 box")
        yield typ, pos + hdr, pos + size
        pos += size


def _mp4_find(buf: bytes, pos: int, end: int, path: tuple[bytes, ...]):
    """First box at the given path of nested types, as (start, end)."""
    for typ, s, e in _mp4_boxes(buf, pos, end):
        if typ == path[0]:
            return (s, e) if len(path) == 1 else _mp4_find(buf, s, e,
                                                           path[1:])
    return None


def parse_mp4(content: bytes) -> tuple[list[int], list[bytes]]:
    """Minimal stdlib ISO-BMFF (MP4) demuxer: (per-sample timestamps in
    ms, encoded sample payloads) for the first VIDEO track. Reads the
    moov sample tables the way any demuxer does — mdhd timescale, stts
    decode deltas, stsz sizes, stsc sample→chunk runs, stco/co64 chunk
    offsets — and slices the samples straight out of mdat; no codec
    decode (sampling needs none). Raises ValueError on non-MP4 or
    missing/inconsistent tables."""
    if content[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file")
    moov = _mp4_find(content, 0, len(content), (b"moov",))
    if moov is None:
        raise ValueError("no moov box")
    for typ, ts_, te_ in _mp4_boxes(content, *moov):
        if typ != b"trak":
            continue
        mdia = _mp4_find(content, ts_, te_, (b"mdia",))
        if mdia is None:
            continue
        hdlr = _mp4_find(content, *mdia, path=(b"hdlr",))
        if hdlr is None or content[hdlr[0] + 8:hdlr[0] + 12] != b"vide":
            continue
        mdhd = _mp4_find(content, *mdia, path=(b"mdhd",))
        if mdhd is None or mdhd[1] - mdhd[0] < 16:
            raise ValueError("video trak without usable mdhd")
        version = content[mdhd[0]]
        ts_off = mdhd[0] + (20 if version == 1 else 12)
        if ts_off + 4 > mdhd[1]:
            raise ValueError("truncated mdhd")
        timescale = int.from_bytes(content[ts_off:ts_off + 4], "big") or 1
        stbl = _mp4_find(content, *mdia, path=(b"minf", b"stbl"))
        if stbl is None:
            raise ValueError("video trak without stbl")
        tables: dict[bytes, tuple[int, int]] = {}
        for btyp, bs, be in _mp4_boxes(content, *stbl):
            tables[btyp] = (bs, be)

        def u32(pos: int) -> int:
            return int.from_bytes(content[pos:pos + 4], "big")

        if b"stsz" not in tables or b"stts" not in tables \
                or b"stsc" not in tables \
                or (b"stco" not in tables and b"co64" not in tables):
            raise ValueError("incomplete sample tables")
        def bounded(table: bytes, count: int, entry_bytes: int,
                    header: int) -> int:
            """A declared entry count must fit inside its box — corrupt
            counts (0xFFFFFFFF) would otherwise allocate GBs or spin;
            the contract is ValueError → caller's stub fallback."""
            bs, be = tables[table]
            if header + count * entry_bytes > be - bs:
                raise ValueError(f"{table.decode()} count {count} "
                                 f"exceeds box size")
            return count

        # stsz: fixed sample_size or per-sample list
        p = tables[b"stsz"][0] + 4
        fixed, n = u32(p), u32(p + 4)
        if fixed:
            # no per-sample entries to bound; n·fixed must fit the file
            if n * fixed > len(content):
                raise ValueError("stsz sample count exceeds file size")
            sizes = [fixed] * n
        else:
            n = bounded(b"stsz", n, 4, 12)
            sizes = [u32(p + 8 + 4 * i) for i in range(n)]
        # stts: cumulative decode times
        p = tables[b"stts"][0] + 4
        times, t = [], 0
        for i in range(bounded(b"stts", u32(p), 8, 8)):
            cnt, delta = u32(p + 4 + 8 * i), u32(p + 8 + 8 * i)
            if len(times) + cnt > n:
                cnt = n - len(times)
            for _ in range(cnt):
                times.append(t)
                t += delta
        # stsc runs + chunk offsets → per-sample file offsets
        p = tables[b"stsc"][0] + 4
        runs = [(u32(p + 4 + 12 * i), u32(p + 8 + 12 * i))
                for i in range(bounded(b"stsc", u32(p), 12, 8))]
        if b"stco" in tables:
            p = tables[b"stco"][0] + 4
            chunk_offs = [u32(p + 4 + 4 * i)
                          for i in range(bounded(b"stco", u32(p), 4, 8))]
        else:
            p = tables[b"co64"][0] + 4
            chunk_offs = [int.from_bytes(content[p + 4 + 8 * i:
                                                 p + 12 + 8 * i], "big")
                          for i in range(bounded(b"co64", u32(p), 8, 8))]
        frames: list[bytes] = []
        si = 0
        run_i = 0  # runs and chunks are both chunk-ordered: advance a
        # pointer instead of rescanning all runs per chunk (O(c+r))
        spc = 0
        for ci, coff in enumerate(chunk_offs):
            while run_i < len(runs) and ci + 1 >= runs[run_i][0]:
                spc = runs[run_i][1]
                run_i += 1
            off = coff
            for _ in range(spc):
                if si >= n:
                    break
                if off + sizes[si] > len(content):
                    raise ValueError("sample beyond end of file")
                frames.append(content[off:off + sizes[si]])
                off += sizes[si]
                si += 1
        if si != n or len(times) < n:
            raise ValueError("inconsistent sample tables")
        return [tt * 1000 // timescale for tt in times[:n]], frames
    raise ValueError("no video trak")


def parse_avi(content: bytes) -> tuple[int, list[bytes]]:
    """Minimal stdlib RIFF/AVI demuxer: (microseconds-per-frame,
    encoded video frames). Walks the chunk tree — ``avih`` carries
    dwMicroSecPerFrame as its first u32; video frame chunks are the
    ``##dc``/``##db`` entries under the ``movi`` LIST, returned as-is
    (MJPEG AVIs yield JPEG bytes, DIB AVIs raw bitmaps — frame
    SAMPLING needs no pixel decode). Chunk sizes are validated and
    odd sizes padded per RIFF; raises ValueError on a non-AVI or
    truncated container."""
    if len(content) < 12 or content[:4] != b"RIFF" \
            or content[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    us_per_frame = 0
    # collect frames PER STREAM id: a multi-video-stream AVI must not
    # interleave unrelated streams into one sequence at one frame rate
    by_stream: dict[bytes, list[bytes]] = {}
    # Iterative walk (explicit stack of (pos, end) ranges): a corrupt
    # container with deeply nested LISTs must raise ValueError, never
    # RecursionError — the stub-fallback contract only catches ValueError.
    stack: list[tuple[int, int]] = [(12, len(content))]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            fourcc = content[pos:pos + 4]
            size = int.from_bytes(content[pos + 4:pos + 8], "little")
            data = pos + 8
            if data + size > end:
                raise ValueError("truncated AVI chunk")
            if fourcc == b"LIST":
                if len(stack) >= 64:
                    raise ValueError("AVI LIST nesting too deep")
                stack.append((data + size + (size & 1), end))
                pos, end = data + 4, data + size
                continue
            if fourcc == b"avih" and size >= 4:
                us_per_frame = int.from_bytes(content[data:data + 4],
                                              "little")
            elif fourcc[2:4] in (b"dc", b"db"):
                by_stream.setdefault(fourcc[:2], []).append(
                    content[data:data + size])
            pos = data + size + (size & 1)
    # the primary video stream = lowest stream id carrying dc/db
    # chunks (video is stream 00 in practice; dc/db are video-only)
    frames = by_stream[min(by_stream)] if by_stream else []
    return us_per_frame or 33333, frames


def _ebml_vint(buf: bytes, pos: int, end: int,
               keep_marker: bool,
               unknown_ok: bool = True) -> tuple[int | None, int]:
    """One EBML variable-length integer (RFC 8794 §4) at ``pos`` →
    (value, next_pos). ``keep_marker=True`` for element IDs (which
    conventionally include the length-marker bit, ≤4 bytes);
    ``keep_marker=False`` for sizes (marker stripped, ≤8 bytes). The
    all-ones pattern is reserved for "unknown" ONLY in element data
    sizes (returns None when ``unknown_ok``); for track numbers and
    lace sizes it is an ordinary value (0xFF = track 127), so those
    call sites pass ``unknown_ok=False``."""
    if pos >= end:
        raise ValueError("truncated EBML vint")
    b0 = buf[pos]
    if b0 == 0:
        raise ValueError("oversized EBML vint")
    length = 9 - b0.bit_length()
    if pos + length > end or (keep_marker and length > 4):
        raise ValueError("truncated EBML vint")
    if keep_marker:
        return int.from_bytes(buf[pos:pos + length], "big"), pos + length
    val = b0 & (0xFF >> length)
    for i in range(1, length):
        val = (val << 8) | buf[pos + i]
    if unknown_ok and val == (1 << (7 * length)) - 1:
        return None, pos + length
    return val, pos + length


_MKV_SEGMENT = 0x18538067
_MKV_CLUSTER = 0x1F43B675
# RFC 8794 §6.2: an unknown-size element ends at the first element that
# is not a valid child. Cluster children per the Matroska schema:
# Timestamp, SimpleBlock, BlockGroup, Position, PrevSize, CRC-32, Void.
_CLUSTER_CHILD_IDS = frozenset((0xE7, 0xA3, 0xA0, 0xA7, 0xAB, 0xBF, 0xEC))


def _ebml_elements(buf: bytes, pos: int, end: int):
    """Iterate EBML child elements in buf[pos:end] → (id, body_start,
    body_end). Unknown-size elements are tolerated for Segment (extends
    to the parent end) and Cluster (live-muxed / unfinalized mkv+webm —
    OBS, ffmpeg pipes — write every Cluster unsized; it ends at the
    first non-Cluster-child element per RFC 8794 §6.2)."""
    while pos < end:
        eid, p = _ebml_vint(buf, pos, end, True)
        size, p = _ebml_vint(buf, p, end, False)
        if size is None:
            if eid == _MKV_SEGMENT:
                yield eid, p, end
                return
            if eid != _MKV_CLUSTER:
                raise ValueError("unknown-size EBML element")
            q = p
            while q < end:
                cid, cp = _ebml_vint(buf, q, end, True)
                if cid not in _CLUSTER_CHILD_IDS:
                    break
                csize, cp = _ebml_vint(buf, cp, end, False)
                if csize is None or cp + csize > end:
                    raise ValueError("truncated EBML element")
                q = cp + csize
            yield eid, p, q
            pos = q
            continue
        if p + size > end:
            raise ValueError("truncated EBML element")
        yield eid, p, p + size
        pos = p + size


def _ebml_uint(buf: bytes, s: int, e: int) -> int:
    if e - s > 8:
        raise ValueError("oversized EBML uint")
    return int.from_bytes(buf[s:e], "big")


def _mkv_block(buf: bytes, s: int, e: int,
               cluster_ts: int) -> list[tuple[int, int, bytes]]:
    """Decode one (Simple)Block body → [(track, timestamp ticks,
    frame)]. Handles all three lacing modes (Xiph / fixed / EBML);
    laced frames share the block timestamp — per-frame spacing needs
    TrackDefaultDuration, which frame SAMPLING at ≥1 s granularity
    doesn't (video is rarely laced; lacing is an audio-packing
    feature). Track filtering happens in parse_mkv AFTER the walk, so
    a file whose Tracks element follows its Clusters still resolves."""
    track, p = _ebml_vint(buf, s, e, False, unknown_ok=False)
    if p + 3 > e:
        raise ValueError("truncated block header")
    relts = int.from_bytes(buf[p:p + 2], "big", signed=True)
    flags = buf[p + 2]
    p += 3
    ts = cluster_ts + relts
    lacing = (flags >> 1) & 0x3
    if lacing == 0:
        return [(track, ts, buf[p:e])]
    if p >= e:
        raise ValueError("truncated lace header")
    nframes = buf[p] + 1
    p += 1
    sizes: list[int] = []
    if lacing == 2:                       # fixed-size lacing
        total = e - p
        if total % nframes:
            raise ValueError("fixed lacing does not divide payload")
        sizes = [total // nframes] * nframes
    elif lacing == 1:                     # Xiph lacing
        for _ in range(nframes - 1):
            sz = 0
            while True:
                if p >= e:
                    raise ValueError("truncated Xiph lace sizes")
                sz += buf[p]
                stop = buf[p] != 255
                p += 1
                if stop:
                    break
            sizes.append(sz)
        sizes.append((e - p) - sum(sizes))
    else:                                 # EBML lacing (signed deltas)
        if nframes == 1:
            # a 1-frame EBML lace carries NO size vints (the spec
            # writes nframes-1 sizes): the frame is the whole payload
            sizes = [e - p]
        else:
            first, p = _ebml_vint(buf, p, e, False, unknown_ok=False)
            sizes = [first]
            for _ in range(nframes - 2):
                raw, p2 = _ebml_vint(buf, p, e, False, unknown_ok=False)
                bias = (1 << (7 * (p2 - p) - 1)) - 1
                sizes.append(sizes[-1] + raw - bias)
                p = p2
            sizes.append((e - p) - sum(sizes))
    if any(sz < 0 for sz in sizes) or sum(sizes) != e - p:
        raise ValueError("lace sizes disagree with payload")
    out = []
    for sz in sizes:
        out.append((track, ts, buf[p:p + sz]))
        p += sz
    return out


def parse_mkv(content: bytes) -> tuple[list[int], list[bytes]]:
    """Minimal stdlib EBML/Matroska (mkv/webm) demuxer: (per-frame
    timestamps in ms, encoded frame payloads) for the first VIDEO
    track (TrackType 1). Walks the public container structure —
    Info→TimestampScale (ns/tick, default 1 ms), Tracks→TrackEntry
    (TrackNumber/TrackType), Cluster→Timestamp + SimpleBlock /
    BlockGroup→Block — with every element size bounds-checked against
    its parent, fixed nesting depth (no recursion), and ValueError on
    any malformed structure so sample_frames' stub-fallback contract
    holds. No codec decode (sampling needs none)."""
    if content[:4] != b"\x1aE\xdf\xa3":
        raise ValueError("not an EBML/Matroska file")
    segment = None
    for eid, s, e in _ebml_elements(content, 0, len(content)):
        if eid == _MKV_SEGMENT:
            segment = (s, e)
            break
    if segment is None:
        raise ValueError("no Segment element")
    ts_scale = 1_000_000                  # ns per tick (spec default)
    video_track: int | None = None
    blocks: list[tuple[int, int, bytes]] = []
    for eid, s, e in _ebml_elements(content, *segment):
        if eid == 0x1549A966:             # Info
            for i2, s2, e2 in _ebml_elements(content, s, e):
                if i2 == 0x2AD7B1:        # TimestampScale
                    ts_scale = _ebml_uint(content, s2, e2) or 1_000_000
        elif eid == 0x1654AE6B:           # Tracks
            for i2, s2, e2 in _ebml_elements(content, s, e):
                if i2 != 0xAE:            # TrackEntry
                    continue
                num = typ = None
                for i3, s3, e3 in _ebml_elements(content, s2, e2):
                    if i3 == 0xD7:        # TrackNumber
                        num = _ebml_uint(content, s3, e3)
                    elif i3 == 0x83:      # TrackType (1 = video)
                        typ = _ebml_uint(content, s3, e3)
                if typ == 1 and num and video_track is None:
                    video_track = num
        elif eid == 0x1F43B675:           # Cluster
            cluster_ts = 0
            for i2, s2, e2 in _ebml_elements(content, s, e):
                if i2 == 0xE7:            # cluster Timestamp
                    cluster_ts = _ebml_uint(content, s2, e2)
                elif i2 == 0xA3:          # SimpleBlock
                    blocks += _mkv_block(content, s2, e2, cluster_ts)
                elif i2 == 0xA0:          # BlockGroup
                    for i3, s3, e3 in _ebml_elements(content, s2, e2):
                        if i3 == 0xA1:    # Block
                            blocks += _mkv_block(content, s3, e3,
                                                 cluster_ts)
    if video_track is None:
        raise ValueError("no video track")
    vid = [(ts, f) for tr, ts, f in blocks if tr == video_track]
    return ([ts * ts_scale // 1_000_000 for ts, _ in vid],
            [f for _, f in vid])


def _decode_any(content: bytes) -> tuple[str, int, int, bytes]:
    """(kind, width|channels, height|framerate, payload) — real decode
    when the magic bytes are recognized, fake otherwise."""
    kind = sniff_media(content)
    try:
        if kind == "image/bmp":
            w, h, _ch, px = decode_bmp(content)
            return kind, w, h, px
        if kind == "image/png":
            w, h, _ch, px = decode_png(content)
            return kind, w, h, px
        if kind == "audio/wav":
            nch, rate, _nframes, samples, _sw = decode_wav(content)
            return kind, nch, rate, samples
    except Exception:  # noqa: BLE001 — magic matched but body malformed
        pass           # (truncated/unsupported variant): one bad row must
        #                not kill a multi-TB stage — fall through to fake
    w, h, px = _fake_decode(content)
    return "image/fake", w, h, px


def decode_media(media_df: DataFrame, decoder: str = "auto") -> DataFrame:
    """(media_ref, media_type, width, height, pixels binary) via
    mapInPandas. decoder='auto' sniffs magic bytes and REALLY decodes
    BMP/PNG/WAV (stdlib codecs above; media_type rewritten to the
    sniffed kind — for WAV, width=channels / height=framerate and
    pixels=PCM samples); 'fake' forces the deterministic stub;
    'pil' requires Pillow on executors."""
    if decoder not in ("auto", "fake", "pil"):
        raise ValueError(decoder)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Image = None
        if decoder == "pil":
            try:
                from PIL import Image  # noqa: F401
            except ImportError as e:  # pragma: no cover - env-dependent
                raise NotImplementedError(
                    "decoder='pil' needs Pillow on executors; use "
                    "decoder='auto' in this environment") from e
        for pdf in batches:
            rows = []
            for ref, mtype, content in zip(pdf["media_ref"],
                                           pdf["media_type"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                if decoder == "auto":
                    kind, w, h, px = _decode_any(raw)
                    mtype = kind if kind != "image/fake" else mtype
                elif decoder == "pil":  # pragma: no cover - env-dependent
                    import io

                    img = Image.open(io.BytesIO(raw))
                    w, h = img.size
                    mtype = f"image/{(img.format or 'raw').lower()}"
                    px = img.tobytes()
                else:
                    w, h, px = _fake_decode(raw)
                rows.append((ref, mtype, w, h, px))
            yield pd.DataFrame(rows, columns=["media_ref", "media_type",
                                              "width", "height", "pixels"])

    return media_df.select("media_ref", "media_type", "content").mapInPandas(
        fn, "media_ref string, media_type string, width int, height int, "
            "pixels binary")


def image_features(pixels: bytes, w: int, h: int, ch: int,
                   dim: int = _FEATURE_DIM) -> list[float]:
    """Real image features: per-channel mean/std + a 3×3 mean-pooled
    grayscale grid + aspect, padded/truncated to ``dim`` (numpy)."""
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8)[:w * h * ch] \
        .reshape(h, w, ch).astype(np.float64) / 255.0
    gray = arr.mean(axis=2)
    feats = []
    for c in range(min(ch, 3)):
        feats += [float(arr[:, :, c].mean()), float(arr[:, :, c].std())]
    ys = np.array_split(np.arange(h), 3)
    xs = np.array_split(np.arange(w), 3)
    for yy in ys:
        for xx in xs:
            block = gray[np.ix_(yy, xx)] if len(yy) and len(xx) else gray
            feats.append(float(block.mean()))
    feats.append(w / h if h else 0.0)
    feats = feats[:dim] + [0.0] * max(0, dim - len(feats))
    return [float(x) for x in feats]


def audio_features(samples: bytes, n_channels: int, framerate: int,
                   dim: int = _FEATURE_DIM) -> list[float]:
    """Real audio features: RMS, zero-crossing rate, and mean magnitude
    of ``dim - 2`` FFT bands over 16-bit PCM (numpy)."""
    import numpy as np

    x = np.frombuffer(samples, dtype="<i2").astype(np.float64) / 32768.0
    if n_channels > 1:
        x = x[:len(x) - len(x) % n_channels] \
            .reshape(-1, n_channels).mean(axis=1)
    if len(x) == 0:
        return [0.0] * dim
    rms = float(np.sqrt((x ** 2).mean()))
    zcr = float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean()) \
        if len(x) > 1 else 0.0
    mag = np.abs(np.fft.rfft(x))
    bands = [float(b.mean()) if len(b) else 0.0
             for b in np.array_split(mag, dim - 2)]
    return [rms, zcr, *bands][:dim]


def extract_features(media_df: DataFrame, dim: int = _FEATURE_DIM) -> DataFrame:
    """Feature vector per media row (mapInPandas, Arrow batches) — the
    embedding-extraction stage. REAL features for BMP/PNG (channel
    stats + pooled grid) and WAV (RMS/ZCR/FFT bands); hash-derived
    floats for unrecognized payloads so the pipeline shape holds for
    any format."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, mtype, content in zip(pdf["media_ref"],
                                           pdf["media_type"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                kind = sniff_media(raw)
                feat = None
                try:
                    if kind == "image/bmp":
                        w, h, ch, px = decode_bmp(raw)
                        feat = image_features(px, w, h, ch, dim)
                    elif kind == "image/png":
                        w, h, ch, px = decode_png(raw)
                        feat = image_features(px, w, h, ch, dim)
                    elif kind == "audio/wav":
                        nch, rate, _n, samples, sw = decode_wav(raw)
                        if sw != 2:   # features assume 16-bit PCM;
                            raise ValueError("non-16-bit PCM")  # -> fallback
                        feat = audio_features(samples, nch, rate, dim)
                        w, h = nch, rate
                except Exception:  # noqa: BLE001 — malformed body: fall
                    feat = None    # through to the hash features below
                if feat is None:
                    w, h, _ = _fake_decode(raw)
                    d = hashlib.sha256(raw).digest()
                    feat = [d[i % len(d)] / 256.0 for i in range(dim)]
                rows.append((ref, mtype, feat, w, h))
            yield pd.DataFrame(rows, columns=["media_ref", "media_type",
                                              "feature", "width", "height"])

    return media_df.select("media_ref", "media_type", "content") \
        .mapInPandas(fn, FEATURES_DDL)


def _ts_bounded(picked: list[tuple[int, bytes, int]]
                ) -> list[tuple[int, bytes, int]]:
    """Reject demuxed timestamps outside int32 — FRAMES_DDL pins ts_ms
    to int, and a single absurd-timescale container (e.g. an mkv with
    TimestampScale=2^55) would otherwise overflow the Arrow int32 cast
    and CRASH the whole Python worker instead of hitting the documented
    ValueError→stub fallback. Raising here keeps the one-bad-row blast
    radius at one row."""
    for _i, _f, ts in picked:
        if not -2**31 <= ts < 2**31:
            raise ValueError(f"timestamp {ts} ms outside int32 — "
                             f"absurd container timescale")
    return picked


def _pick_timed_frames(times_ms: list[int], frames: list[bytes],
                       every_ms: int,
                       max_frames: int) -> list[tuple[int, bytes, int]]:
    """First frame at/after each ``every_ms`` target → [(source index,
    payload, ts_ms)], capped at ``max_frames``. The target jumps to the
    first multiple of ``every_ms`` PAST each emitted timestamp (in O(1),
    whatever the timescale) so a variable-frame-rate gap doesn't burst
    consecutive frames at the next targets."""
    out: list[tuple[int, bytes, int]] = []
    target = 0
    for src_i, (ts, fr) in enumerate(zip(times_ms, frames)):
        if len(out) >= max_frames:
            break
        if ts >= target:
            out.append((src_i, fr, ts))
            target = (ts // every_ms + 1) * every_ms
    return out


def sample_frames(media_df: DataFrame, every_ms: int = 1000,
                  max_frames: int = 4) -> DataFrame:
    """Frame sampling for video rows — a row-expanding mapInPandas.
    RIFF/AVI, ISO-BMFF/MP4, and EBML/Matroska (mkv/webm) containers
    are REALLY demuxed (parse_avi / parse_mp4 / parse_mkv): frames are
    picked at ~``every_ms`` spacing — from the AVI's fixed frame rate,
    or from per-sample timestamps (MP4 stts, Matroska cluster+block) —
    capped at ``max_frames``; ``frame_idx``/``ts_ms`` are the SOURCE
    frame index and timestamp and ``frame`` is the encoded payload
    (JPEG for MJPEG AVIs, codec samples otherwise). Unrecognized or
    malformed containers fall back to the deterministic stub so the
    plumbing stays exercised."""
    # loud driver-side guards: every_ms == 0 would ZeroDivisionError
    # the timed-frame target INSIDE an executor task (not a ValueError,
    # so no stub fallback — a failed stage) and every_ms < 0 would pick
    # every frame; max_frames < 1 would ZeroDivisionError out of the
    # stub path's modulo
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    if max_frames < 1:
        raise ValueError(f"max_frames must be >= 1, got {max_frames}")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                blob = bytes(content or b"")
                kind = sniff_media(blob)
                if kind == "video/avi":
                    try:
                        uspf, frames = parse_avi(blob)
                        step = max(1, round(every_ms * 1000 / uspf))
                        picked = [(src_i, frames[src_i],
                                   src_i * uspf // 1000)
                                  for src_i in range(0, len(frames),
                                                     step)[:max_frames]]
                        rows.extend((ref, *p)
                                    for p in _ts_bounded(picked))
                        continue
                    except ValueError:
                        pass  # malformed container → stub fallback
                elif kind in ("video/mp4", "video/webm"):
                    try:
                        times_ms, frames = (parse_mp4 if kind ==
                                            "video/mp4" else parse_mkv)(blob)
                        picked = _pick_timed_frames(
                            times_ms, frames, every_ms, max_frames)
                        rows.extend((ref, *p)
                                    for p in _ts_bounded(picked))
                        continue
                    except ValueError:
                        pass  # malformed container → stub fallback
                d = hashlib.md5(blob).digest()
                n = 1 + d[2] % max_frames
                for i in range(n):
                    frame = hashlib.md5(d + bytes([i])).digest()
                    rows.append((ref, i, frame, i * every_ms))
            yield pd.DataFrame(rows, columns=["media_ref", "frame_idx",
                                              "frame", "ts_ms"])

    return media_df.select("media_ref", "content").mapInPandas(fn, FRAMES_DDL)


def media_adjacent_concept_edges(docs_df: DataFrame,
                                 mentions_df: DataFrame,
                                 neighbors: int = 1) -> DataFrame:
    """Span-adjacency refinement of ``media_concept_triples``:
    (media_ref, 'depicts-concept', cui, rel_pos) linking each media
    span only to concepts mentioned in the text spans ADJACENT in span
    order (|position delta| ≤ ``neighbors``) — the caption under a
    figure and the paragraph referencing it, not every concept in the
    document. On a long interleaved document (hundreds of text spans,
    a handful of figures) the doc-level edge drowns the signal; the
    adjacent edge is the one a multimodal KG consumer wants.
    ``rel_pos`` is the text span's signed span-order distance
    (-1 = immediately before the media span, +1 = the caption after).

    Scale shape: spans explode to per-doc span rows (span-count-sized,
    tiny vs the corpus), adjacency is a doc-keyed join of media ×
    nearby text spans, and mentions attach by doc-keyed join + offset
    range filter against each adjacent text span's [offset,
    offset+len) window — no corpus self-join, no shuffle beyond the
    doc-keyed joins and the final distinct."""
    if neighbors < 1:
        raise ValueError("neighbors must be >= 1")
    sp = docs_df.select(
        "doc_id", F.posexplode("spans").alias("pos", "s"))
    media = (sp.filter(F.col("s.kind") == "media")
             .select("doc_id", F.col("pos").alias("m_pos"),
                     F.col("s.media_ref").alias("media_ref")))
    text = (sp.filter(F.col("s.kind") == "text")
            .select("doc_id", F.col("pos").alias("t_pos"),
                    F.col("s.offset").alias("t_off"),
                    F.length(F.coalesce(F.col("s.text"), F.lit("")))
                    .alias("t_len")))
    adj = (media.join(text, "doc_id")
           .filter(F.abs(F.col("t_pos") - F.col("m_pos"))
                   <= F.lit(int(neighbors))))
    m = mentions_df.select("doc_id", "cui", "start")
    hits = (adj.join(m, "doc_id")
            .filter((F.col("start") >= F.col("t_off"))
                    & (F.col("start") < F.col("t_off") + F.col("t_len"))))
    return (hits.select(
        F.col("media_ref").alias("subj"),
        F.lit("depicts-concept").alias("pred"),
        F.col("cui").alias("obj"),
        (F.col("t_pos") - F.col("m_pos")).cast("int").alias("rel_pos"))
        .distinct())


def media_concept_triples(docs_df: DataFrame, mentions_df: DataFrame) -> DataFrame:
    """(media_ref, 'illustrates-concept', cui): connect media spans to
    the concepts mentioned in the same document — the multimodal edge of
    the KG. Broadcast-friendly: the exploded media side is tiny relative
    to mentions."""
    media = (docs_df.select("doc_id", F.explode("spans").alias("s"))
             .filter(F.col("s.kind") == "media")
             .select("doc_id", F.col("s.media_ref").alias("media_ref")))
    dc = mentions_df.select("doc_id", "cui").distinct()
    return (media.join(dc, "doc_id")
            .select(F.col("media_ref").alias("subj"),
                    F.lit("illustrates-concept").alias("pred"),
                    F.col("cui").alias("obj"))
            .distinct())
