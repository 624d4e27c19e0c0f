"""Spark-side tests: annotate operator (mapInPandas plumbing), triple
materialization, DataFrame index build equivalence, span invariant, and
the e2e engine-vs-oracle agreement gate (SURVEY.md §5.2 items 3-4)."""

import pytest

from nobletools_spark.index import build_index, build_index_df
from nobletools_spark.model import MatchConfig
from nobletools_spark.operators.matcher import (
    annotate,
    process_document,
    span_invariant_violations,
)
from nobletools_spark.operators.triples import (
    ancestors,
    cooccurrence_triples,
    isa_triples,
    mention_triples,
    semtype_triples,
)
from nobletools_spark.sources.fixtures import (
    PYTEST_CONCEPTS,
    PYTEST_ISA_EDGES,
    SPANS_DDL,
    pytest_index,
    synthetic_corpus,
    synthetic_corpus_df,
)

CFG = MatchConfig()


@pytest.fixture(scope="module")
def corpus(spark):
    return synthetic_corpus_df(spark, 200, seed=42).cache()


@pytest.fixture(scope="module")
def mentions(spark, corpus):
    return annotate(corpus, pytest_index(), CFG).cache()


def test_annotate_matches_local_oracle(spark, corpus, mentions):
    """E2E P/R gate (BASELINE.json: triple P/R ≥ 0.95 vs reference
    semantics): the Spark pipeline's mentions vs the literal local
    implementation of the cited reference algorithm on the same rows.
    Engine and oracle share the per-sentence kernel, so the expected
    agreement is exact (P = R = 1.0) — the ≥0.95 bound is asserted as
    the contractual floor, exactness as the actual bar."""
    idx = pytest_index()
    local = []
    for doc_id, spans in synthetic_corpus(200, seed=42):
        local.extend(process_document(doc_id, spans, idx, CFG))
    got = {(r.doc_id, r.sent_offset, r.cui, r.matched_term, r.start, r.end)
           for r in mentions.collect()}
    want = {(r[0], r[1], r[2], r[3], r[6], r[7]) for r in local}
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert got == want  # actual bar: exact agreement
    assert len(got) > 100  # corpus actually contains plants


def test_media_spans_untouched(spark, corpus):
    out = corpus.select("doc_id", "spans")  # pipeline never mutates docs
    assert span_invariant_violations(corpus, out) == 0
    # negative control: a mutated copy is detected
    from pyspark.sql import functions as F
    broken = corpus.withColumn(
        "spans",
        F.when(F.col("doc_id") == "doc-000000",
               F.slice("spans", 1, 0)).otherwise(F.col("spans")))
    assert span_invariant_violations(corpus, broken) == 1


def test_mention_triples_shape(spark, mentions):
    t = mention_triples(mentions)
    rows = t.collect()
    assert rows and all(r.pred == "mentions-concept" for r in rows)
    assert t.columns == ["subj", "pred", "obj", "doc_id"]
    # distinct per (doc, cui)
    assert t.count() == t.select("subj", "obj").distinct().count()


def test_ancestors_closure(spark):
    edges = spark.createDataFrame(
        [(c, p) for c, p in PYTEST_ISA_EDGES], "cui string, parent string")
    anc = {(r.cui, r.ancestor): r.depth for r in ancestors(edges).collect()}
    # direct edge
    assert anc[("C013", "C014")] == 1
    # transitive with min depth
    assert anc[("C013", "C015")] == 2
    # diamond: C012 reaches C015 via two paths at depth 2
    assert anc[("C012", "C015")] == 2
    # cycle A<->B terminates and yields both directions at depth 1
    assert anc[("C018", "C019")] == 1 and anc[("C019", "C018")] == 1
    # no self-ancestors
    assert all(c != a for c, a in anc)


def test_cooccurrence_salted_equals_plain(spark, mentions):
    plain = {(r.subj, r.obj): r.n_docs
             for r in cooccurrence_triples(mentions, 0).collect()}
    salted = {(r.subj, r.obj): r.n_docs
              for r in cooccurrence_triples(mentions, 8).collect()}
    assert plain == salted and plain
    # symmetric pairs are canonicalized a<b
    assert all(a < b for a, b in plain)


def test_semtype_triples(spark):
    st = spark.createDataFrame(
        [(c["cui"], c["semtypes"][0]) for c in PYTEST_CONCEPTS],
        "cui string, tui string")
    rows = semtype_triples(st).collect()
    assert ("C013", "has-semantic-type", "T191") in [tuple(r) for r in rows]


def _assert_same_index(a, b):
    """Every TerminologyIndex field equal, dict iteration order too."""
    import dataclasses

    for f in dataclasses.fields(a):
        x, y = getattr(a, f.name), getattr(b, f.name)
        assert x == y, f.name
        if isinstance(x, dict):
            assert list(x) == list(y), f.name


# Out of cui order on purpose; SHARED is a code of two concepts (the
# cui-sorted first wins), MM and BCC are acronyms, /.../ are regex
# synonyms. The 300 filler concepts make 'tumor' hot enough (> 100
# terms over > 500 words) for a non-empty blacklist.
INDEX_PIN_CONCEPTS = [
    {"cui": "C9", "name": "Melanoma",
     "synonyms": ("Melanoma", "Malignant Melanoma", "MM"),
     "semtypes": ("T191",), "sources": ("TST", "ALT"),
     "codes": (("TST", "X9"), ("ALT", "SHARED"))},
    {"cui": "C3", "name": "Nevus",
     "synonyms": ("Nevus", "/nev[iu]s/", "/moles?/"),
     "semtypes": ("T191",), "sources": ("ALT",),
     "codes": (("ALT", "SHARED"), ("ALT", "X3"))},
    {"cui": "C5", "name": "Basal cell carcinoma",
     "synonyms": ("Basal cell carcinoma", "BCC", r"/b\.?c\.?c/"),
     "semtypes": ("T191",), "sources": ("TST",),
     "codes": (("TST", "X5"),)},
] + [{"cui": f"F{i:03d}", "name": f"tumor alpha{i}",
      "synonyms": (f"beta{i} tumor",), "semtypes": ("T191",),
      "sources": ("TST",), "codes": ()} for i in range(299, -1, -1)]


def test_build_index_df_matches_local(spark):
    """build_index_df is build_index over the cui-sorted records: every
    field, code_map, dict order, regex order and ConceptMeta.codes, for
    the default and the compact + blacklist build."""
    from nobletools_spark.sources.obo import concepts_df_from_records

    df = concepts_df_from_records(spark, INDEX_PIN_CONCEPTS)
    records = sorted(INDEX_PIN_CONCEPTS, key=lambda c: c["cui"])
    for kw in ({}, {"compact": True, "blacklist": True}):
        a = build_index_df(spark, df, **kw)
        _assert_same_index(a, build_index(records, **kw))
        assert a.code_map["SHARED"] == "C3"
        assert a.concepts["C9"].codes == (("TST", "X9"), ("ALT", "SHARED"))
        assert [cui for _p, cui in a.regex_terms] == ["C5", "C3", "C3"]
        assert bool(a.blacklist) == bool(kw)


def test_build_index_df_rrf_matches_local(spark, tmp_path):
    """The RRF path: build_index_df over concepts_for_index(load_rrf)
    equals build_index over the same table collected as Rows. The
    fixture has no MRDEF/MRSAB, so those optional tables are absent."""
    from nobletools_spark.sources.rrf import (
        concepts_for_index,
        conso_row,
        load_rrf,
        sty_row,
        write_fixture_rrf,
    )

    write_fixture_rrf(
        str(tmp_path),
        mrconso=[
            conso_row("C0000002", "Neoplasm", code="SHARED"),
            conso_row("C0000001", "Melanoma", code="M-1"),
            conso_row("C0000001", "MM", ts="S", ispref="N", sab="ALT",
                      tty="AB", code="SHARED"),
            conso_row("C0000003", "/moles?/", sab="ALT"),
        ],
        mrsty=[sty_row("C0000001", "T191", "Neoplastic Process")],
        mrrel=[])
    tables = load_rrf(spark, str(tmp_path))
    assert "definitions" not in tables and "sources" not in tables
    df = concepts_for_index(tables)
    records = sorted(({**r.asDict(),
                       "codes": [(c.sab, c.code) for c in r.codes]}
                      for r in df.collect()), key=lambda c: c["cui"])
    for kw in ({}, {"compact": True, "blacklist": True}):
        a = build_index_df(spark, df, **kw)
        _assert_same_index(a, build_index(records, **kw))
        assert a.code_map["SHARED"] == "C0000001"
        assert a.regex_terms == ((r"\b(moles?)\b", "C0000003"),)


def test_annotate_plan_is_map_only(spark, corpus):
    """Scale property: the annotate stage must not shuffle."""
    plan = annotate(corpus, pytest_index(), CFG)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.parametrize("method", [
    "best-match", "all-match", "precise-match", "nonoverlap-match",
    "partial-match"])
def test_search_methods_through_spark_path(spark, method):
    """Every setupSearch strategy produces identical results through the
    distributed annotate path and the local kernel (flag plumbing survives
    broadcast + Arrow)."""
    from nobletools_spark.sources.fixtures import SPANS_DDL

    texts = ["The deep margin and the deep tumor margins.",
             "Septum of the nose deviates; nasal septum noted.",
             "FISH was positive for DCIS."]
    docs = spark.createDataFrame(
        [(f"d{i}", [("text", t, None, 0)]) for i, t in enumerate(texts)],
        SPANS_DDL)
    cfg = MatchConfig(search_method=method)
    idx = pytest_index()
    got = {(r.doc_id, r.cui, r.start, r.end)
           for r in annotate(docs, idx, cfg).collect()}
    want = set()
    for i, t in enumerate(texts):
        for r in process_document(f"d{i}", [("text", t, None, 0)], idx, cfg):
            want.add((r[0], r[2], r[6], r[7]))
    assert got == want and got


def test_rich_corpus_full_pipeline_e2e(spark):
    """Full-feature e2e gate: structured documents (sections, DeID tags,
    worksheets, acronym definitions, negation/hedging) through the
    distributed path with ConText — mentions AND modifiers must agree
    exactly with the local literal implementation (P = R = 1.0), and
    headers must never be matched."""
    from nobletools_spark.operators.context import default_context_index
    from nobletools_spark.sources.fixtures import rich_corpus, rich_corpus_df

    idx = pytest_index()
    ctx = default_context_index()
    docs = rich_corpus_df(spark, 120, seed=7)
    got = {(r.doc_id, r.sent_offset, r.cui, r.start, r.end,
            tuple(sorted(r.modifiers.items())))
           for r in annotate(docs, idx, CFG, context=ctx).collect()}
    want = set()
    for doc_id, spans in rich_corpus(120, seed=7):
        for r in process_document(doc_id, spans, idx, CFG, context=ctx):
            want.add((r[0], r[1], r[2], r[6], r[7],
                      tuple(sorted(r[9].items()))))
    assert got == want and len(got) > 200
    # negation actually fires somewhere in the corpus
    assert any(dict(mods).get("Polarity") == "Negative_Polarity"
               for *_, mods in got)
    # hedging too
    assert any(dict(mods).get("ContextualModality") ==
               "Hedged_ContextualModality" for *_, mods in got)
    # acronym doc-pass: WHO resolves to C009 somewhere
    assert any(cui == "C009" for _, _, cui, *_ in got)
    # each of the 4 round-2 modifier types fires on the corpus
    fired = {v for *_, mods in got for _, v in mods}
    assert {"Low_Certainty", "Most_Degree", "Permanent_Permanence",
            "Intermittent_ContextualAspect",
            "Novel_ContextualAspect"} <= fired, fired


def test_connected_components_doubling_beats_diameter(spark):
    """The large-star/small-star path must converge on a chain whose
    DIAMETER (300) far exceeds the pass budget (12 ≈ O(log² n)) — the
    r3 min-label propagation needed 300 rounds here — and must agree
    with the driver union-find. An insufficient pass budget still
    raises instead of silently returning wrong components (r2 advice:
    canonicalize_triples would merge CUIs incorrectly with no signal)."""
    import pytest as _pytest

    from nobletools_spark.operators.canonical import connected_components

    chain = [(f"C{i:03d}", f"C{i + 1:03d}") for i in range(300)]
    edges = spark.createDataFrame(chain, "a string, b string")
    # driver_threshold=0 forces the distributed doubling path
    labels = {r.node: r.component
              for r in connected_components(edges, max_iter=12,
                                            driver_threshold=0).collect()}
    assert set(labels.values()) == {"C000"} and len(labels) == 301
    # one pass cannot star a 300-chain: must raise, not mislabel
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1, driver_threshold=0)
    # the fast path agrees on the same deep chain
    fast = {r.node: r.component
            for r in connected_components(edges).collect()}
    assert fast == labels


def test_annotate_edge_inputs(spark):
    """Degenerate rows that appear in any real 100 TB corpus — empty or
    null spans/text, media-only documents, whitespace, 50k-word
    sentences, unicode — must pass through the distributed path without
    errors and with sane results."""
    from nobletools_spark.operators.matcher import annotate
    from nobletools_spark.sources.fixtures import SPANS_DDL

    rows = [
        ("empty", []),
        ("none", None),
        ("emptytext", [("text", "", None, 0)]),
        ("nulltext", [("text", None, None, 0)]),
        ("mediaonly", [("media", None, "m://x", 0)]),
        ("ws", [("text", "   \n\t  ", None, 0)]),
        ("huge", [("text", "melanoma " + "word " * 50000, None, 0)]),
        ("nodot", [("text", "melanoma", None, 0)]),
        ("uni", [("text", "mélanoma Protégé ♥ melanoma.", None, 0)]),
    ]
    docs = spark.createDataFrame(rows, SPANS_DDL)
    got = annotate(docs, pytest_index(), CFG).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {"huge", "nodot", "uni"}
    assert by_doc["nodot"][0].cui == "C013"
    assert all(r.cui == "C013" for r in by_doc["uni"])


def test_write_triples_partitioned_layout(spark, tmp_path):
    """Parquet sink writes the pred-partitioned directory layout (the
    sandbox stand-in for the Iceberg table) and round-trips."""
    from nobletools_spark.operators.triples import write_triples

    df = spark.createDataFrame(
        [("d1", "isa", "C1"), ("d2", "mentions-concept", "C2")],
        "subj string, pred string, obj string")
    out = str(tmp_path / "triples")
    write_triples(df, out)
    import os

    assert {d for d in os.listdir(out) if d.startswith("pred=")} == \
           {"pred=isa", "pred=mentions-concept"}
    back = spark.read.parquet(out)
    assert back.count() == 2 and set(back.columns) == {"subj", "pred", "obj"}


def test_write_triples_table_needs_iceberg_catalog(spark):
    """The WriterV2 Iceberg sink builds its pred+bucket(subj) transform
    spec fine; in this jar-less sandbox it must fail at CATALOG
    resolution (AnalysisException), not inside our code."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    from nobletools_spark.operators.triples import write_triples_table

    df = spark.createDataFrame([("a", "isa", "b")],
                               "subj string, pred string, obj string")
    with pytest.raises(AnalysisException):
        write_triples_table(df, "no_such_catalog.db.triples")


def test_ancestors_driver_and_distributed_paths_agree(spark):
    """The driver-side BFS fast path and the iterative self-join must
    produce identical closures (diamond + cycle + chain edges)."""
    from nobletools_spark.operators.triples import ancestors
    from nobletools_spark.sources.fixtures import PYTEST_ISA_EDGES

    edges = spark.createDataFrame(list(PYTEST_ISA_EDGES),
                                  "cui string, parent string")
    fast = {(r.cui, r.ancestor, r.depth)
            for r in ancestors(edges).collect()}
    dist = {(r.cui, r.ancestor, r.depth)
            for r in ancestors(edges, driver_threshold=0).collect()}
    assert fast == dist and fast


def test_connected_components_driver_and_distributed_agree(spark):
    """Union-find fast path == distributed min-label propagation on
    chains, forks, and a shared-code merge."""
    from nobletools_spark.operators.canonical import connected_components
    from nobletools_spark.sources.fixtures import BUILTIN_SYNONYM_EDGES

    edges = spark.createDataFrame(list(BUILTIN_SYNONYM_EDGES),
                                  "a string, b string")
    fast = {(r.node, r.component)
            for r in connected_components(edges).collect()}
    dist = {(r.node, r.component)
            for r in connected_components(edges,
                                          driver_threshold=0).collect()}
    assert fast == dist and fast

    # seeded messy graph: hubs, several components, self-loops, dup
    # edges in both orientations
    import random

    rng = random.Random(42)
    messy = [(f"N{rng.randrange(120):03d}", f"N{rng.randrange(120):03d}")
             for _ in range(150)]
    messy += [(b, a) for a, b in messy[:30]] + [("N000", "N000")]
    m = spark.createDataFrame(messy, "a string, b string")
    fast_m = {(r.node, r.component)
              for r in connected_components(m).collect()}
    dist_m = {(r.node, r.component)
              for r in connected_components(m, driver_threshold=0).collect()}
    assert fast_m == dist_m and len(fast_m) > 50


def test_word_stats_df_matches_index_counts(spark):
    """word_stats_df reproduces build_index's word_term_count —
    including the filterTerms SUBSTRING quirk ('ran' counts 'grand'
    within the same concept) — for regex-free terminologies (regex
    pseudo-terms live only in the matcher index)."""
    from nobletools_spark.index import build_index, terms_df, word_stats_df

    concepts = (
        {"cui": "C001", "name": "Ran", "synonyms": ("Ran", "Grand"),
         "semtypes": ("T1",), "sources": ("S",)},
        {"cui": "C002", "name": "Grand Hall", "synonyms": ("Grand Hall",),
         "semtypes": ("T1",), "sources": ("S",)},
    )
    cdf = spark.createDataFrame(
        [(c["cui"], c["name"], list(c["synonyms"]), list(c["semtypes"]),
          list(c["sources"])) for c in concepts],
        "cui string, name string, synonyms array<string>, "
        "semtypes array<string>, sources array<string>")
    got = {r.word: r.term_count
           for r in word_stats_df(terms_df(spark, cdf)).collect()}
    want = build_index(concepts).word_term_count
    assert got == want
    # the quirk itself: 'ran' is a substring of same-concept 'grand'
    assert got["ran"] == 2


def test_lift_triples_exact_fixed_point(spark):
    from nobletools_spark.operators.triples import lift_triples

    m = spark.createDataFrame(
        [(1, "A"), (1, "B"), (1, "C"), (2, "A"), (2, "B"),
         (3, "B"), (3, "D"), (4, "A"), (1, "A")],  # dup mention collapses
        "doc_id bigint, cui string")
    got = {(r.subj, r.obj): (r.n_docs, r.lift_fp)
           for r in lift_triples(m).collect()}
    # N=4; docfreq A=3 B=3 C=1 D=1
    assert got == {
        ("A", "B"): (2, (10**6 * 2 * 4) // (3 * 3)),
        ("A", "C"): (1, (10**6 * 1 * 4) // (3 * 1)),
        ("B", "C"): (1, (10**6 * 1 * 4) // (3 * 1)),
        ("B", "D"): (1, (10**6 * 1 * 4) // (3 * 1)),
    }
    # independence gate: lift_fp > scale iff co-occurrence beats chance
    assert got[("A", "B")][1] < 10**6 < got[("B", "D")][1]


def test_lift_triples_salted_equals_plain(spark, mentions):
    from nobletools_spark.operators.triples import lift_triples

    plain = {(r.subj, r.obj): r.lift_fp
             for r in lift_triples(mentions, salt_buckets=0).collect()}
    salted = {(r.subj, r.obj): r.lift_fp
              for r in lift_triples(mentions, salt_buckets=8).collect()}
    assert plain == salted and plain


def test_negative_triples_contract(spark):
    from nobletools_spark.operators.triples import negative_triples

    t = spark.createDataFrame(
        [("A", "p", "B"), ("A", "p", "C"), ("B", "p", "C"),
         ("A", "p", "B")],  # dup collapses
        "subj string, pred string, obj string")
    out = negative_triples(t, n_neg=4).collect()
    negs = {(r.subj, r.pred, r.obj, r.neg_obj, r.neg_slot) for r in out}
    assert len(negs) == len(out)  # (positive, slot) is a unique key
    true = {("A", "p", "B"), ("A", "p", "C"), ("B", "p", "C")}
    ents = {"A", "B", "C"}
    for s, p, o, no, slot in negs:
        assert (s, p, o) in true              # keyed to its positive
        assert (s, p, no) not in true         # filtered protocol
        assert no != o
        assert no in ents and 0 <= slot < 4   # tails from the vocab
    # ≤ n_neg per true triple, and the hash sampler lands SOME rows
    from collections import Counter
    per = Counter((s, p, o) for s, p, o, _, _ in negs)
    assert negs and all(c <= 4 for c in per.values())
    # determinism: a re-run is bit-identical
    again = {(r.subj, r.pred, r.obj, r.neg_obj, r.neg_slot)
             for r in negative_triples(t, n_neg=4).collect()}
    assert negs == again
    # a different seed changes the draw
    other = {(r.subj, r.pred, r.obj, r.neg_obj, r.neg_slot)
             for r in negative_triples(t, n_neg=4, seed="neg2").collect()}
    assert negs != other


def test_alphabetic_ids_matches_global_row_number(spark):
    """The distributed zipWithIndex scheme (range partition +
    per-partition window + cumulative offsets) must emit exactly
    ``row_number() OVER (ORDER BY entity) - 1`` — and its executed plan
    must contain no single-partition window exchange (the r4 scale
    finding it replaces)."""
    from nobletools_spark.operators.triples import alphabetic_ids

    vals = [f"C{i:04d}" for i in range(257)] + ["aaa", "zzz", "M"]
    df = spark.createDataFrame([(v,) for v in vals], "entity string")
    out = alphabetic_ids(df, "entity", partitions=7)
    got = {r.entity: r["rank"] for r in out.collect()}
    want = {v: i for i, v in enumerate(sorted(vals))}
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the window runs per range-partition, never on a single partition
    assert "SinglePartition" not in plan
    # empty input → empty output, no crash
    empty = spark.createDataFrame([], "entity string")
    assert alphabetic_ids(empty, "entity").count() == 0
    # one partition degenerates to the plain global rank
    one = alphabetic_ids(df, "entity", partitions=1)
    assert {r.entity: r["rank"] for r in one.collect()} == want


def test_negative_triples_explicit_entities_and_validation(spark):
    from nobletools_spark.operators.triples import negative_triples

    t = spark.createDataFrame([("A", "p", "B")],
                              "subj string, pred string, obj string")
    ents = spark.createDataFrame([("X",), ("Y",), ("B",)], "entity string")
    out = negative_triples(t, n_neg=6, entities_df=ents).collect()
    assert out and all(r.neg_obj in {"X", "Y"} for r in out)  # B == true
    with pytest.raises(ValueError):
        negative_triples(t, n_neg=0)


def test_typed_cooccurrence_rules_and_orientation(spark):
    from nobletools_spark.operators.triples import typed_cooccurrence

    cooc = spark.createDataFrame(
        [("A", "co-occurs-with", "B", 3), ("A", "co-occurs-with", "C", 1),
         ("B", "co-occurs-with", "C", 2)],
        "subj string, pred string, obj string, n_docs bigint")
    sem = spark.createDataFrame(
        [("A", "T1"), ("B", "T2"), ("C", "T1"), ("C", "T2")],
        "cui string, tui string")
    rules = spark.createDataFrame(
        [("T1", "T2", "operates-on"), ("T1", "T1", "peer-of")],
        "tui_s string, tui_o string, pred string")
    got = {(r.subj, r.pred, r.obj, r.n_docs)
           for r in typed_cooccurrence(cooc, sem, rules).collect()}
    assert got == {
        # (A,B): A=T1, B=T2 -> forward rule
        ("A", "operates-on", "B", 3),
        # (A,C): C is T1 and T2 -> both the directed rule (A T1 -> C T2)
        # and the symmetric T1-T1 rule in both orientations
        ("A", "operates-on", "C", 1),
        ("A", "peer-of", "C", 1), ("C", "peer-of", "A", 1),
        # (B,C): B=T2, C=T1 -> rule matches reversed -> re-oriented
        ("C", "operates-on", "B", 2),
    }


def test_relation_mentions_geometry(spark):
    from nobletools_spark.operators.triples import relation_mentions

    m = spark.createDataFrame(
        # doc 1 sentence 0: X[0,5) Y[8,12) Z[40,44); sentence 50: X[50,55)
        [("1", 0, "X", 0, 5), ("1", 0, "Y", 8, 12), ("1", 0, "Z", 40, 44),
         ("1", 50, "X", 50, 55),
         # doc 2: overlapping pair + same-cui pair
         ("2", 0, "X", 0, 10), ("2", 0, "Y", 5, 12), ("2", 0, "X", 20, 24)],
        "doc_id string, sent_offset int, cui string, start int, end int")
    got = {(r.doc_id, r.subj_cui, r.obj_cui, r.gap)
           for r in relation_mentions(m, max_gap=30).collect()}
    assert got == {
        ("1", "X", "Y", 3),      # 8 - 5
        ("1", "Y", "Z", 28),     # 40 - 12, within gap cap
        # (X, Z) gap 35 > 30 dropped; cross-sentence X pairs dropped;
        # doc2 X/Y overlap dropped; doc2 X..X same-cui dropped
        ("2", "Y", "X", 8),      # 20 - 12: textual order decides subj
    }
    # gap cap boundary: exactly max_gap survives
    wide = {(r.subj_cui, r.obj_cui)
            for r in relation_mentions(m, max_gap=35).collect()}
    assert ("X", "Z") in wide


def test_relation_triples_aggregation(spark):
    from nobletools_spark.operators.triples import relation_triples

    m = spark.createDataFrame(
        [("1", 0, "X", 0, 5), ("1", 0, "Y", 8, 12),
         ("2", 0, "X", 0, 5), ("2", 0, "Y", 20, 24),
         ("3", 0, "Y", 0, 5), ("3", 0, "X", 9, 13)],
        "doc_id string, sent_offset int, cui string, start int, end int")
    got = {(r.subj, r.pred, r.obj, r.n_sents, r.min_gap)
           for r in relation_triples(m).collect()}
    assert got == {("X", "co-occurs-in-sentence", "Y", 2, 3),
                   ("Y", "co-occurs-in-sentence", "X", 1, 4)}
    gated = {(r.subj, r.obj)
             for r in relation_triples(m, min_sents=2).collect()}
    assert gated == {("X", "Y")}


def test_relation_mentions_e2e_sentence_scoping(spark):
    """Through the real matcher: mentions in different sentences of one
    document never pair; mentions in one sentence pair in offset
    order with document-coordinate gaps."""
    from nobletools_spark.operators.triples import relation_mentions
    from nobletools_spark.sources.fixtures import pytest_index

    docs = spark.createDataFrame(
        [("d1", [("text", "Deep margin is clear. Nasal septum with "
                          "fish noted.", None, 0)])], SPANS_DDL)
    mm = annotate(docs, pytest_index(), CFG)
    pairs = {(r.subj_cui, r.obj_cui)
             for r in relation_mentions(mm, max_gap=200).collect()}
    # sentence 1 has only C001 (deep margin, subsuming); sentence 2 has
    # C004 (nasal septum) then C006 (fish) — the ONLY pair
    assert pairs == {("C004", "C006")}


def test_concept_nodes_table(spark):
    from nobletools_spark.operators.triples import concept_nodes

    m = spark.createDataFrame(
        # A+B co-occur twice; C is mentioned alone (degree 0); dup row
        [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "C"), (3, "C")],
        "doc_id bigint, cui string")
    sem = spark.createDataFrame(
        [("A", "T2"), ("A", "T1"), ("B", "T1")], "cui string, tui string")
    names = spark.createDataFrame(
        [("A", "Alpha"), ("C", "Gamma")], "cui string, name string")
    got = {r.cui: (r.n_docs, r.degree, r.weighted_degree, r.tuis, r.name)
           for r in concept_nodes(m, sem, names).collect()}
    assert got == {
        "A": (2, 1, 2, "T1,T2", "Alpha"),   # sorted tui list
        "B": (2, 1, 2, "T1", None),         # no name row
        "C": (1, 0, 0, None, "Gamma"),      # never co-occurs
    }


def test_property_graph_pair(spark):
    """property_graph emits the conventional GraphFrames-shaped pair:
    vertices = concept_nodes with cui exposed as id, edges =
    canonical-orientation co-occurrence rows (src < dst) with the
    predicate as relationship — both derived from one shared
    projection/pair table."""
    from nobletools_spark.operators.triples import (concept_nodes,
                                                    property_graph)

    m = spark.createDataFrame(
        [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "C")],
        "doc_id bigint, cui string")
    sem = spark.createDataFrame([("A", "T1")], "cui string, tui string")
    verts, edges = property_graph(m, semtypes_df=sem)
    assert "id" in verts.columns and "cui" not in verts.columns
    want = {r.cui: (r.n_docs, r.degree, r.weighted_degree, r.tuis)
            for r in concept_nodes(m, sem).collect()}
    got = {r.id: (r.n_docs, r.degree, r.weighted_degree, r.tuis)
           for r in verts.collect()}
    assert got == want
    e = [(r.src, r.dst, r.relationship, r.weight)
         for r in edges.collect()]
    assert e == [("A", "B", "co-occurs-with", 2)]
    assert all(s < d for s, d, _r, _w in e)


def test_kg_integrity_validator(spark):
    """kg_integrity: unknown endpoints, self edges, non-canonical
    co-occurrence orientation, and unknown TUIs are each flagged once;
    clean rows (incl. doc-subject mention triples, out of scope)
    produce nothing; a clean snapshot validates to zero rows."""
    from pyspark.sql import functions as F

    from nobletools_spark.operators.triples import kg_integrity

    triples = spark.createDataFrame([
        ("C101", "isa", "C130"),
        ("C101", "co-occurs-with", "C102"),
        ("C999", "isa", "C130"),
        ("C101", "isa", "CXXX"),
        ("C102", "co-occurs-with", "C102"),
        ("C103", "co-occurs-with", "C101"),
        ("C101", "has-semantic-type", "T002"),
        ("C101", "has-semantic-type", "T999"),
        ("d1", "mentions-concept", "C101"),
    ], "subj string, pred string, obj string")
    known = spark.createDataFrame(
        [("C101",), ("C102",), ("C103",), ("C130",)], "cui string")
    tuis = spark.createDataFrame([("T001",), ("T002",)], "tui string")
    got = {tuple(r) for r in kg_integrity(triples, known, tuis).collect()}
    assert got == {
        ("C999", "isa", "C130", "unknown_subject"),
        ("C101", "isa", "CXXX", "unknown_object"),
        ("C102", "co-occurs-with", "C102", "self_edge"),
        ("C102", "co-occurs-with", "C102", "non_canonical_pair"),
        ("C103", "co-occurs-with", "C101", "non_canonical_pair"),
        ("C101", "has-semantic-type", "T999", "unknown_tui"),
    }
    clean = triples.filter(
        ~F.col("subj").isin("C999", "C103")
        & ~F.col("obj").isin("CXXX", "T999")
        & (F.col("subj") != F.col("obj")))
    assert kg_integrity(clean, known, tuis).count() == 0


def test_span_invariant_tolerates_null_spans(spark):
    """A doc whose spans cell is NULL on BOTH sides of the invariant
    check is a match (the pipeline passes NULL spans through); only a
    doc missing from one side violates."""
    from nobletools_spark.operators.matcher import span_invariant_violations
    from nobletools_spark.sources.fixtures import SPANS_DDL

    docs = spark.createDataFrame(
        [("d1", None), ("d2", [("text", "x", None, 0)])], SPANS_DDL)
    assert span_invariant_violations(docs, docs) == 0
    # a genuinely missing doc still counts
    assert span_invariant_violations(docs, docs.filter("doc_id = 'd2'")) == 1
