"""Property-based tests (hypothesis) — invariants the reference contract
implies, complementing the example goldens (SURVEY.md §5.2):
normalization idempotence, offset preservation, scoring sign/ordering
(hard-part #6: 'property-test sign/ordering, not absolute values'),
MinHash as an unbiased Jaccard estimator."""

import string

from hypothesis import given, settings, strategies as st

from nobletools_spark.functions.textkit import (
    filter_deid_tags,
    get_words,
    normalize,
    normalize_words,
    split_sentences,
)

WORD = st.text(alphabet=string.ascii_letters, min_size=1, max_size=10)
TEXT = st.text(
    alphabet=string.ascii_letters + string.digits + " .,;:()-'\n",
    max_size=200)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_normalize_output_invariants(text):
    """Normalized output is lowercase, single-spaced, and free of the
    characters the chain removes. NOTE: normalize is deliberately NOT
    idempotent — the reference strips stop words BEFORE stemming
    (TextTools.java:700-765), so a stem can itself be a stop word
    (hypothesis found inputs stemming to 'is'); we pin the real
    invariants instead."""
    out = normalize(text)
    assert out == out.lower()
    assert "  " not in out and out == out.strip()
    for w in out.split(" "):
        assert w == "" or not set(w) & set(",!?;:()[]\"'")


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_tokenizer_no_delimiters_in_tokens(text):
    for w in get_words(text):
        assert w and not set(w) & set(" ,!?;:\t\n\r<>()[]\"")
        assert not w.endswith(".")


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_deid_scrub_length_preserving(text):
    assert len(filter_deid_tags(text)) == len(text)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_sentence_offsets_cover_text(text):
    """Sentences tile the text: each (text, offset) slice matches the
    source modulo the length-preserving newline replacement."""
    for sent, off in split_sentences(text):
        src = text[off:off + len(sent)]
        assert src.replace("\n", " ").replace("\r", " ") == sent


@settings(max_examples=100, deadline=None)
@given(st.lists(WORD, min_size=1, max_size=8))
def test_normalize_words_subset_of_lowercase(words):
    """Every normalized word derives from the lowercased input (no
    invented tokens)."""
    text = " ".join(words)
    out = normalize_words(text, do_stem=False)
    low = text.lower()
    for w in out:
        assert w in low


# domain [0, P31): shingle hashes are reduced mod P31 = 2^31 - 1, so
# P31 itself never occurs (it would alias 0 under the affine map)
@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2 ** 31 - 2),
                min_size=1, max_size=60, unique=True),
       st.lists(st.integers(min_value=0, max_value=2 ** 31 - 2),
                min_size=1, max_size=60, unique=True))
def test_minhash_band_equality_implies_shared_min(a, b):
    """For any affine rehash, equal minhash over two sets implies the
    argmin element is shared OR a collision in the affine map (injective
    over [0, P31) when a coprime — so equal minhash ⇒ shared element)."""
    from nobletools_spark.operators.dedup import P31, minhash_coeffs

    (ca, cb), = minhash_coeffs(1)
    ma = min((x * ca + cb) % P31 for x in a)
    ma2 = min((x * ca + cb) % P31 for x in b)
    if ma == ma2:
        arg_a = min(a, key=lambda x: (x * ca + cb) % P31)
        arg_b = min(b, key=lambda x: (x * ca + cb) % P31)
        assert arg_a == arg_b  # injectivity of x -> ax+b mod p


def test_scoring_sign_and_ordering():
    """scoreConcept properties (hard-part #6): exact preferred-name match
    outranks stemmed-only; acronym-case mismatch drives score negative."""
    from nobletools_spark.model import ConceptMeta
    from nobletools_spark.operators.match_core import _score_concept

    meta_exact = ConceptMeta("C1", "fish", ("fish",), (), ("S",))
    s_exact = _score_concept(meta_exact, "fish", "fish", "fish swim", set())
    meta_acr = ConceptMeta("C2", "FISH Method", ("FISH",), (), ("S",))
    s_acr = _score_concept(meta_acr, "fish", "fish", "fish swim", set())
    assert s_exact > 0 > s_acr  # lowercase context penalizes the acronym
    # more sources never lowers the score
    meta_multi = ConceptMeta("C3", "fish", ("fish",), (), ("S1", "S2", "S3"))
    assert _score_concept(meta_multi, "fish", "fish", "fish swim",
                          set()) > s_exact


def test_png_codec_round_trip_property():
    """decode(encode(raw)) == raw for random images across sizes,
    channel counts, and per-row filter choices (all five types)."""
    from hypothesis import given, settings, strategies as st

    from nobletools_spark.operators.multimodal import decode_png
    from tests.test_multimodal import _make_png

    @settings(max_examples=40, deadline=None)
    @given(st.data())
    def inner(data):
        w = data.draw(st.integers(1, 9))
        h = data.draw(st.integers(1, 7))
        ch = data.draw(st.sampled_from([1, 3, 4]))
        raw = bytes(data.draw(st.lists(
            st.integers(0, 255), min_size=w * h * ch,
            max_size=w * h * ch)))
        filters = data.draw(st.lists(st.integers(0, 4),
                                     min_size=h, max_size=h))
        got_w, got_h, got_ch, got = decode_png(
            _make_png(w, h, ch, raw, filters=filters))
        assert (got_w, got_h, got_ch) == (w, h, ch)
        assert got == raw

    inner()


def test_bmp_codec_round_trip_property():
    from hypothesis import given, settings, strategies as st

    from nobletools_spark.operators.multimodal import decode_bmp
    from tests.test_multimodal import _make_bmp

    @settings(max_examples=25, deadline=None)
    @given(st.data())
    def inner(data):
        w = data.draw(st.integers(1, 8))
        h = data.draw(st.integers(1, 6))
        rows = [[tuple(data.draw(st.lists(st.integers(0, 255),
                                          min_size=3, max_size=3)))
                 for _ in range(w)] for _ in range(h)]
        got_w, got_h, ch, px = decode_bmp(_make_bmp(w, h, rows))
        assert (got_w, got_h, ch) == (w, h, 3)
        flat = b"".join(bytes(p) for row in rows for p in row)
        assert px == flat

    inner()


@given(st.lists(st.binary(min_size=1, max_size=40), min_size=1,
                max_size=30),
       st.integers(min_value=1, max_value=200_000))
@settings(max_examples=40, deadline=None)
def test_parse_avi_round_trips_arbitrary_frames(frames, uspf):
    """parse_avi recovers arbitrary frame payloads and the avih frame
    interval from a well-formed RIFF/AVI byte-for-byte."""
    from nobletools_spark.operators.multimodal import parse_avi

    def chunk(fourcc, body):
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + len(body).to_bytes(4, "little") + body + pad

    avih = uspf.to_bytes(4, "little") + b"\x00" * 52
    hdrl = b"hdrl" + chunk(b"avih", avih)
    movi = b"movi" + b"".join(chunk(b"00dc", f) for f in frames)
    body = b"AVI " + chunk(b"LIST", hdrl) + chunk(b"LIST", movi)
    blob = b"RIFF" + len(body).to_bytes(4, "little") + body
    got_uspf, got = parse_avi(blob)
    assert got_uspf == uspf and got == frames


@given(st.lists(st.binary(min_size=1, max_size=32), min_size=1,
                max_size=20),
       st.integers(min_value=1, max_value=120_000),
       st.integers(min_value=1, max_value=90_000))
@settings(max_examples=40, deadline=None)
def test_parse_mp4_round_trips_arbitrary_samples(frames, timescale, delta):
    """parse_mp4 recovers arbitrary sample payloads and stts-derived
    millisecond timestamps from a well-formed ISO-BMFF file."""
    from nobletools_spark.operators.multimodal import parse_mp4

    def box(typ, body):
        return (8 + len(body)).to_bytes(4, "big") + typ + body

    n = len(frames)
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat_off = len(ftyp) + 8
    mdat = box(b"mdat", b"".join(frames))
    stts = box(b"stts", b"\x00" * 4 + (1).to_bytes(4, "big")
               + n.to_bytes(4, "big") + delta.to_bytes(4, "big"))
    stsz = box(b"stsz", b"\x00" * 8 + n.to_bytes(4, "big")
               + b"".join(len(f).to_bytes(4, "big") for f in frames))
    stsc = box(b"stsc", b"\x00" * 4 + (1).to_bytes(4, "big")
               + (1).to_bytes(4, "big") + n.to_bytes(4, "big")
               + (1).to_bytes(4, "big"))
    stco = box(b"stco", b"\x00" * 4 + (1).to_bytes(4, "big")
               + mdat_off.to_bytes(4, "big"))
    mdhd = box(b"mdhd", b"\x00" * 12 + timescale.to_bytes(4, "big")
               + b"\x00" * 8)
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    moov = box(b"moov", box(b"trak", box(
        b"mdia", mdhd + hdlr + box(b"minf", box(
            b"stbl", stts + stsz + stsc + stco)))))
    times, got = parse_mp4(ftyp + mdat + moov)
    assert got == frames
    assert times == [i * delta * 1000 // timescale for i in range(n)]


def _pick_timed_frames_stepwise(times_ms, frames, every_ms, max_frames):
    """The stepwise catch-up loop _pick_timed_frames replaced."""
    out, target = [], 0
    for src_i, (ts, fr) in enumerate(zip(times_ms, frames)):
        if len(out) >= max_frames:
            break
        if ts >= target:
            out.append((src_i, fr, ts))
            while target <= ts:
                target += every_ms
    return out


@given(st.lists(st.integers(min_value=0, max_value=5_000), max_size=30),
       st.integers(min_value=1, max_value=700),
       st.integers(min_value=1, max_value=8))
@settings(max_examples=200, deadline=None)
def test_pick_timed_frames_closed_form_matches_stepwise(times, every_ms,
                                                        max_frames):
    """The closed-form next target picks exactly the frames the
    stepwise catch-up loop picked, on sorted and unsorted timestamps."""
    from nobletools_spark.operators.multimodal import _pick_timed_frames

    frames = [bytes([i % 256]) for i in range(len(times))]
    for ts in (times, sorted(times)):
        assert _pick_timed_frames(ts, frames, every_ms, max_frames) == \
            _pick_timed_frames_stepwise(ts, frames, every_ms, max_frames)


@given(st.lists(st.binary(min_size=1, max_size=32), min_size=1,
                max_size=20),
       st.integers(min_value=1, max_value=5_000),
       st.sampled_from([250_000, 500_000, 1_000_000, 2_000_000]))
@settings(max_examples=40, deadline=None)
def test_parse_mkv_round_trips_arbitrary_blocks(frames, delta, ts_scale):
    """parse_mkv recovers arbitrary unlaced SimpleBlock payloads and
    TimestampScale-scaled millisecond timestamps from a well-formed
    EBML/Matroska file."""
    from nobletools_spark.operators.multimodal import parse_mkv

    def evint(n):
        for length in range(1, 9):
            if n < (1 << (7 * length)) - 1:
                return ((1 << (7 * length)) | n).to_bytes(length, "big")
        raise ValueError(n)

    def eel(eid, body):
        return eid + evint(len(body)) + body

    header = eel(b"\x1aE\xdf\xa3", eel(b"\x42\x82", b"matroska"))
    info = eel(b"\x15\x49\xa9\x66",
               eel(b"\x2a\xd7\xb1", ts_scale.to_bytes(4, "big")))
    tracks = eel(b"\x16\x54\xae\x6b",
                 eel(b"\xae", eel(b"\xd7", b"\x01") + eel(b"\x83", b"\x01")))
    # one cluster per frame so arbitrary tick values fit int16 relts
    clusters = b"".join(
        eel(b"\x1f\x43\xb6\x75",
            eel(b"\xe7", (i * delta).to_bytes(8, "big"))
            + eel(b"\xa3", evint(1) + b"\x00\x00\x00" + f))
        for i, f in enumerate(frames))
    blob = header + eel(b"\x18\x53\x80\x67", info + tracks + clusters)
    times, got = parse_mkv(blob)
    assert got == frames
    assert times == [i * delta * ts_scale // 1_000_000
                     for i in range(len(frames))]


@given(st.lists(st.tuples(st.integers(0, 7), st.integers(0, 7)),
                min_size=1, max_size=20),
       st.integers(min_value=1, max_value=7))
@settings(max_examples=30, deadline=None)
def test_ancestors_fast_path_matches_min_depth_reference(pairs, max_depth):
    """The driver-side BFS closure equals an independent O(V^3)
    min-depth reference on random graphs (cycles, diamonds, self
    loops), for any depth cap."""
    edges = [(f"N{a}", f"N{b}") for a, b in pairs]
    # independent reference: min path length by repeated relaxation
    nodes = sorted({x for e in edges for x in e})
    INF = 10 ** 9
    dist = {(a, b): INF for a in nodes for b in nodes}
    for a, b in edges:
        if a != b:
            dist[(a, b)] = min(dist[(a, b)], 1)
    for k in nodes:
        for i in nodes:
            for j in nodes:
                if dist[(i, k)] + dist[(k, j)] < dist[(i, j)]:
                    dist[(i, j)] = dist[(i, k)] + dist[(k, j)]
    want = {(i, j, d) for (i, j), d in dist.items()
            if i != j and d <= max(max_depth, 1)}

    from nobletools_spark.operators.triples import closure_bfs

    got = set(closure_bfs(edges, max_depth))
    assert got == want


# ---------------------------------------------------------------------------
# Terminology serialization round trips (r5 export surface)
# ---------------------------------------------------------------------------

# XML 1.0 valid text: printable ASCII + some unicode, no control chars
_XML_TEXT = st.text(
    alphabet=string.ascii_letters + string.digits
    + " .,;:()<>&\"'|/-_é漢α", min_size=1, max_size=24).map(str.strip) \
    .filter(bool)
_CUI = st.from_regex(r"C[0-9]{3,7}", fullmatch=True)
_SAB = st.from_regex(r"[A-Z][A-Z0-9_]{1,10}", fullmatch=True)


@st.composite
def _terminology(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    cuis = draw(st.lists(_CUI, min_size=n, max_size=n, unique=True))
    concepts = []
    for cui in cuis:
        name = draw(_XML_TEXT)
        syns = draw(st.lists(_XML_TEXT, max_size=3))
        concepts.append({
            "cui": cui, "name": name,
            "synonyms": tuple(dict.fromkeys([name, *syns])),
            "semtypes": tuple(draw(st.lists(
                st.from_regex(r"T[0-9]{3}", fullmatch=True), max_size=2,
                unique=True))),
            "sources": tuple(draw(st.lists(_SAB, max_size=2,
                                           unique=True))),
            "definition": draw(st.one_of(st.none(), _XML_TEXT)),
            "codes": tuple(draw(st.lists(
                st.tuples(_SAB, _XML_TEXT), max_size=2,
                unique_by=lambda t: t[0]))),
        })
    # random DAG edges: child strictly after parent in cui list order
    edges = []
    for i in range(1, len(cuis)):
        for j in draw(st.lists(st.integers(0, i - 1), max_size=2,
                               unique=True)):
            edges.append((cuis[i], cuis[j]))
    return concepts, edges


@settings(max_examples=60, deadline=None)
@given(_terminology())
def test_term_xml_round_trip_property(term):
    """export_term_xml → parse_term_xml reproduces name, synonym set,
    semtypes, sources, definition, code VALUES, and the exact edge set
    for arbitrary XML-legal terminologies (escaping, unicode,
    pipe/angle/amp content)."""
    from nobletools_spark.sources.termxml import (
        export_term_xml,
        parse_term_xml,
    )

    concepts, edges = term
    got, ge = parse_term_xml(export_term_xml(concepts, edges))
    assert set(ge) == set(edges)
    by = {c["cui"]: c for c in got}
    for o in concepts:
        g = by[o["cui"]]
        assert g["name"] == o["name"]
        assert set(g["synonyms"]) >= set(o["synonyms"])
        assert g["semtypes"] == o["semtypes"]
        assert set(g["sources"]) == set(o["sources"])
        assert g["definition"] == o["definition"]
        assert sorted(v for _, v in g["codes"]) == \
            sorted(v for _, v in o["codes"])


@settings(max_examples=60, deadline=None)
@given(_terminology())
def test_owl_export_round_trip_property(term):
    """export_owl → parse_owl reproduces cui, name, synonym set,
    semtypes, definition, code VALUES (under _prop_tag names), and the
    exact edge set — arbitrary XML-legal content."""
    from nobletools_spark.sources.owl import parse_owl
    from nobletools_spark.sources.sinks import export_owl

    concepts, edges = term
    got, ge = parse_owl(export_owl(concepts, edges))
    assert set(ge) == set(edges)
    by = {c["cui"]: c for c in got}
    for o in concepts:
        g = by[o["cui"]]
        assert g["name"] == o["name"]
        # parse_owl adds the pretty-named URI code and keeps the name in
        # synonyms; original synonyms must survive (sans regex forms)
        assert set(g["synonyms"]) >= {s for s in o["synonyms"]
                                      if not s.startswith("/")}
        assert g["semtypes"] == o["semtypes"]
        if o["definition"]:
            assert g["definition"] == o["definition"]
        vals = {v for _, v in g["codes"]}
        assert {v for _, v in o["codes"]} <= vals


_COMMA_ID = st.from_regex(r"[A-Za-z0-9]{1,6}(, [A-Za-z0-9]{1,6}){0,2}",
                          fullmatch=True)


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_term_xml_comma_id_edges_property(data):
    """Edge round trip holds even when concept ids themselves contain
    ", " (the reference's comma-joined Relation text would shatter
    them): export writes one Relation element per target and parse
    resolves whole-text code matches before falling back to the comma
    split — including the adversarial case where an id's comma
    fragments are ALSO valid ids of other concepts."""
    from nobletools_spark.sources.termxml import (
        export_term_xml,
        parse_term_xml,
    )

    ids = data.draw(st.lists(st.one_of(_CUI, _COMMA_ID),
                             min_size=2, max_size=6, unique=True))
    concepts = [{"cui": i, "name": i, "synonyms": (i,)} for i in ids]
    edges = []
    for i in range(1, len(ids)):
        for j in data.draw(st.lists(st.integers(0, i - 1), max_size=2,
                                    unique=True)):
            edges.append((ids[i], ids[j]))
    xml = export_term_xml(concepts, edges)
    assert set(parse_term_xml(xml)[1]) == set(edges)
