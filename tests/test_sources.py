"""Terminology source loaders: RRF (pipe-delimited fixtures per
FIXTURES.md §2), OBO, tab-indented text — and index-build round trips."""

import pytest

from nobletools_spark.sources.obo import (
    concepts_df_from_records,
    parse_obo,
    parse_text_terminology,
)
from nobletools_spark.sources.rrf import (
    concepts_for_index,
    conso_row,
    load_rrf,
    rel_row,
    sab_row,
    sty_row,
    write_fixture_rrf,
)

OBO_SAMPLE = """\
format-version: 1.2

[Term]
id: GO:0001
name: melanoma
def: "a malignant neoplasm" [src]
synonym: "malignant melanoma" EXACT []
synonym: "MM" ABBREV []
is_a: GO:0002 ! neoplasm

[Term]
id: GO:0002
name: neoplasm
is_a: GO:0003

[Term]
id: GO:0003
name: disease

[Term]
id: GO:0004
name: old concept
is_obsolete: true

[Term]
id: GO:0005
name: nucleus part
namespace: cellular_component
alt_id: GO:9005
relationship: part_of GO:0003 ! disease

[Typedef]
id: part_of
name: part of
"""


def test_parse_obo():
    concepts, edges = parse_obo(OBO_SAMPLE)
    by_id = {c["cui"]: c for c in concepts}
    assert set(by_id) == {"GO:0001", "GO:0002", "GO:0003",
                          "GO:0005"}               # obsolete dropped
    assert by_id["GO:0001"]["synonyms"] == (
        "melanoma", "malignant melanoma", "MM")
    assert by_id["GO:0001"]["definition"] == "a malignant neoplasm"
    assert ("GO:0001", "GO:0002") in edges and ("GO:0002", "GO:0003") in edges
    # reference-binary-pinned arms (obo-hierarchy parity leg traps):
    # relationship: part_of is a GENERIC relation, NOT an isa edge
    # (Relation.getRelation != Broader, ConceptImporter.java:242-250);
    # namespace becomes a semantic type (:216-217); alt_id an alternate
    # code with empty source (:259-262)
    assert ("GO:0005", "GO:0003") not in edges
    assert by_id["GO:0005"]["semtypes"] == ("cellular_component",)
    assert by_id["GO:0005"]["codes"] == (("", "GO:9005"),)


def test_parse_text_terminology():
    txt = ("Disease; C0000001\n"
           "\tNeoplasm; C0000002; T191\n"
           "\t\tMelanoma | Malignant Melanoma; C0000003; T191\n"
           "\tInfection; C0000004\n")
    concepts, edges = parse_text_terminology(txt)
    by_id = {c["cui"]: c for c in concepts}
    assert by_id["C0000003"]["synonyms"] == ("Melanoma", "Malignant Melanoma")
    assert by_id["C0000003"]["semtypes"] == ("T191",)
    assert ("C0000003", "C0000002") in edges
    assert ("C0000002", "C0000001") in edges
    assert ("C0000004", "C0000001") in edges
    # siblings don't nest
    assert ("C0000004", "C0000002") not in edges


def test_parse_text_terminology_relative_stack():
    """The reference's loadText walks tabs RELATIVELY
    (ConceptImporter.java:460-485): any deeper line pushes the previous
    class exactly once, so an over-indented jump of 2+ tabs still nests
    ONE level under the previous entry; a dedent pops (prev - cur)
    frames — popping past an over-indent lands on the ROOT, not the
    absolute-depth ancestor. Where the reference would throw
    EmptyStackException (dedent below the root) we clamp to root."""
    from nobletools_spark.sources.obo import parse_text_terminology

    c, e = parse_text_terminology("A\n\tB\n\t\t\tC\n\t\t\t\tD\n\tE\n")
    by = {x["name"]: x["cui"] for x in c}
    assert (by["C"], by["B"]) in e      # 2-tab jump → one level deep
    assert (by["D"], by["C"]) in e
    # E dedents 3 frames from the over-indented D → root (no edge)
    assert not any(ch == by["E"] for ch, _ in e)

    # underflow clamp (reference crashes here)
    c2, e2 = parse_text_terminology("\tA\nB\n")
    assert e2 == []


@pytest.fixture(scope="module")
def rrf_dir(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("rrf"))
    write_fixture_rrf(
        p,
        mrconso=[
            conso_row("C0000001", "Melanoma", tty="PT"),
            conso_row("C0000001", "Malignant Melanoma", ts="S", ispref="N",
                      tty="SY"),
            conso_row("C0000001", "Melanom", lat="GER"),       # language filter
            conso_row("C0000001", "Old Name", suppress="O"),   # suppressed
            conso_row("C0000001", "MM", ts="S", ispref="N", sab="ALT",
                      tty="AB", code="A-1"),
            conso_row("C0000002", "Neoplasm"),
            conso_row("C0000003", "Skin Margin", sab="ALT"),
            conso_row("V-TST", "Test Vocabulary", sab="SRC", tty="VPT",
                      code="V-TST"),
        ],
        mrsty=[
            sty_row("C0000001", "T191", "Neoplastic Process"),
            sty_row("C0000002", "T191", "Neoplastic Process"),
            sty_row("C0000003", "T023", "Body Part"),
        ],
        mrrel=[
            rel_row("C0000001", "PAR", "C0000002"),   # parent edge
            rel_row("C0000002", "CHD", "C0000001"),   # inverse of the same
            rel_row("C0000001", "RO", "C0000003"),    # ignored rel type
        ],
        mrsab=[sab_row("TST", "Test Source", "2025", "A test vocabulary")],
    )
    return p


def test_load_rrf(spark, rrf_dir):
    t = load_rrf(spark, rrf_dir)
    concepts = {r["cui"]: r for r in t["concepts"].collect()}
    c1 = concepts["C0000001"]
    assert c1["name"] == "Melanoma"
    assert "Melanom" not in c1["synonyms"]          # non-ENG dropped
    assert "Old Name" not in c1["synonyms"]         # suppressed dropped
    assert set(c1["synonyms"]) == {"Melanoma", "Malignant Melanoma", "MM"}
    assert c1["sources"] == ["ALT", "TST"]
    assert c1["semtypes"] == ["T191"]
    rels = {(r["cui"], r["parent"]) for r in t["relations"].collect()}
    assert rels == {("C0000001", "C0000002")}       # PAR+CHD dedup, RO dropped
    # the reference's quirky MRSAB mapping (ConceptImporter.java:
    # 709-717): Source.name = field 23, Source.description = SON
    # (field 4) — reproduced as-is
    src = t["sources"].collect()[0]
    assert src["name"] == "A test vocabulary"
    assert src["description"] == "Test Source"


def test_load_rrf_edge_filters_and_roots(spark, tmp_path):
    """Reference MRREL fidelity (ConceptImporter.java:1129-1147) and
    the SRC V-* root convention (:833, :1169-1177), both pinned
    cross-engine by the rrf-hierarchy parity leg: an edge needs BOTH
    endpoints loaded, SRC-only↔SRC-only mappings are skipped, RB/PAR
    and the RN/CHD inverse dedupe to one Broader edge, and a root is a
    V-* SRC atom that acquired a child."""
    import pathlib
    import sys

    from nobletools_spark.sources.rrf import load_rrf

    # reuse the parity leg's EXACT fixture so this unit test and the
    # rrf-hierarchy leg pin the same rows (no drift between the two)
    tools_dir = pathlib.Path(__file__).resolve().parents[1] / "tools"
    sys.path.insert(0, str(tools_dir))
    try:
        from java_parity import emit_rrf_hier_fixture
    finally:
        sys.path.pop(0)
    p = str(tmp_path / "rrfh")
    emit_rrf_hier_fixture(path=p)
    t = load_rrf(spark, p)
    rels = {(r["cui"], r["parent"]) for r in t["relations"].collect()}
    assert rels == {("C901", "C900"), ("C902", "C901"),
                    ("C903", "C901"), ("C902", "C904")}
    # C900 is the only V-* candidate with a surviving child edge;
    # C905/C906 lost theirs to the SRC-only skip
    assert {r["cui"] for r in t["roots"].collect()} == {"C900"}


def test_rrf_relations_aggregate_mrconso_once(spark, tmp_path):
    """The both-endpoints check and the SRC-only skip share one MRCONSO
    aggregation, broadcast once to both endpoint joins: collecting the
    edge table (what the isa closure probe does on every run) starts
    at most 4 Spark jobs — the MRREL dedup, the MRCONSO aggregation,
    its broadcast and the result. Separate loaded-CUI and SRC-only
    aggregations, each broadcast per endpoint, took 8."""
    import uuid

    from nobletools_spark.sources.rrf import (
        conso_row, load_rrf, rel_row, write_fixture_rrf)

    p = str(tmp_path / "rrfj")
    write_fixture_rrf(
        p,
        mrconso=[conso_row("C900", "Root Source", sab="SRC", code="V-TST"),
                 conso_row("C901", "Alpha"), conso_row("C902", "Beta")],
        mrsty=[],
        mrrel=[rel_row("C901", "PAR", "C900"),
               rel_row("C902", "PAR", "C901"),
               rel_row("C900", "CHD", "C901")])
    sc = spark.sparkContext
    group = f"rrf-rel-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rels = {tuple(r) for r in load_rrf(spark, p)["relations"].collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rels == {("C901", "C900"), ("C902", "C901")}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4


def test_rrf_filters_keep_src_roots(spark, tmp_path):
    """Filtered loads must not sever the SRC V-* root markers:
    ConceptImporter.java:836-847 exempts a row from BOTH the source and
    the semantic-type filter iff its code is V-<SAB> with an included
    SAB (vacuously included when no source filter is set). Without the
    exemption the both-endpoints MRREL check drops every edge into the
    roots and the root table comes back empty."""
    from nobletools_spark.sources.rrf import (
        conso_row, load_rrf, rel_row, sty_row, write_fixture_rrf)

    p = str(tmp_path / "rrff")
    write_fixture_rrf(
        p,
        mrconso=[
            conso_row("C900", "Root Source", sab="SRC", code="V-TST"),
            conso_row("C907", "Other Root", sab="SRC", code="V-OTH"),
            conso_row("C901", "Alpha"),
            conso_row("C902", "Beta", sab="OTH"),
        ],
        mrsty=[sty_row("C901", "T047", "Disease or Syndrome"),
               sty_row("C902", "T121", "Pharmacologic Substance")],
        mrrel=[
            rel_row("C901", "PAR", "C900"),
            rel_row("C902", "PAR", "C907", sab="OTH"),
        ])
    # semtype filter: SRC atoms have no MRSTY rows, yet both roots
    # survive (no source filter → every V-* marker is exempt); C902
    # fails the filter so V-OTH keeps no child and drops from roots
    t = load_rrf(spark, p, semtype_filter=("T047",))
    assert {r["cui"] for r in t["relations"].collect()} == {"C901"}
    assert {r["cui"] for r in t["roots"].collect()} == {"C900"}
    # source filter: only V- markers of INCLUDED sources survive
    # (code.substring(2) ∈ filterSources), so V-OTH disappears entirely
    t2 = load_rrf(spark, p, source_filter=("TST",))
    assert {r["cui"] for r in t2["roots"].collect()} == {"C900"}
    assert {(r["cui"], r["parent"]) for r in t2["relations"].collect()} \
        == {("C901", "C900")}


def test_rrf_relation_source_filter(spark, tmp_path):
    """MRREL rows assert edges only when THEIR OWN SAB (field 10) is an
    included hierarchy source or SRC (ConceptImporter.java:1110-1114:
    ``!isIncluded(relationSources,src,true) && !"SRC".equals(src)`` →
    skip; relationSources defaults to filterSources :589-591, and the
    ``hierarchySources`` param ``("*",)`` disables the filter :592-593).
    An edge asserted solely by an excluded source must not land even
    when both endpoint CUIs survive via other sources."""
    from nobletools_spark.sources.rrf import (
        conso_row, load_rrf, rel_row, sty_row, write_fixture_rrf)

    p = str(tmp_path / "rrfrel")
    write_fixture_rrf(
        p,
        mrconso=[
            conso_row("C900", "Root Source", sab="SRC", code="V-TST"),
            conso_row("C901", "Alpha"),                 # sab=TST
            conso_row("C902", "Beta"),                  # sab=TST
        ],
        mrsty=[sty_row("C901", "T047", "Disease or Syndrome"),
               sty_row("C902", "T047", "Disease or Syndrome")],
        mrrel=[
            rel_row("C901", "PAR", "C900", sab="SRC"),  # SRC always kept
            rel_row("C902", "PAR", "C901", sab="OTH"),  # excluded SAB
        ])
    # no source filter → every relation SAB is included
    t = load_rrf(spark, p)
    assert {(r["cui"], r["parent"]) for r in t["relations"].collect()} \
        == {("C901", "C900"), ("C902", "C901")}
    # source filter TST: the OTH-asserted edge is dropped even though
    # C901/C902 both survive MRCONSO; the SRC-asserted edge stays
    t2 = load_rrf(spark, p, source_filter=("TST",))
    assert {(r["cui"], r["parent"]) for r in t2["relations"].collect()} \
        == {("C901", "C900")}
    # hierarchy_sources with "*" re-opens the relation filter while the
    # concept filter stays — the sentinel is recognized in any shape
    # (list, tuple, alongside other SABs), not only the exact ("*",)
    t3 = load_rrf(spark, p, source_filter=("TST",),
                  hierarchy_sources=["*"])
    assert {(r["cui"], r["parent"]) for r in t3["relations"].collect()} \
        == {("C901", "C900"), ("C902", "C901")}
    # explicit hierarchy_sources overrides the default
    t4 = load_rrf(spark, p, hierarchy_sources=("OTH",))
    assert {(r["cui"], r["parent"]) for r in t4["relations"].collect()} \
        == {("C901", "C900"), ("C902", "C901")}


def test_rrf_semtype_filter(spark, rrf_dir):
    t = load_rrf(spark, rrf_dir, semtype_filter=("T191",))
    cuis = {r["cui"] for r in t["concepts"].collect()}
    assert cuis == {"C0000001", "C0000002"}


def test_rrf_source_filter(spark, rrf_dir):
    t = load_rrf(spark, rrf_dir, source_filter=("TST",))
    concepts = {r["cui"]: r for r in t["concepts"].collect()}
    assert "MM" not in concepts["C0000001"]["synonyms"]
    assert "C0000003" not in concepts


def test_rrf_to_index_end_to_end(spark, rrf_dir):
    """RRF → concepts_df → broadcast index → annotate finds the concept."""
    from nobletools_spark.index import build_index_df
    from nobletools_spark.model import MatchConfig
    from nobletools_spark.operators.matcher import annotate
    from nobletools_spark.sources.fixtures import SPANS_DDL

    idx = build_index_df(spark, concepts_for_index(load_rrf(spark, rrf_dir)))
    docs = spark.createDataFrame(
        [("d1", [("text", "Findings include malignant melanomas.", None, 0)])],
        SPANS_DDL)
    rows = annotate(docs, idx, MatchConfig()).collect()
    assert {r.cui for r in rows} == {"C0000001"}


def test_obo_to_index_end_to_end(spark):
    from nobletools_spark.index import build_index_df
    from nobletools_spark.model import MatchConfig
    from nobletools_spark.operators.matcher import annotate
    from nobletools_spark.operators.triples import ancestors
    from nobletools_spark.sources.fixtures import SPANS_DDL

    concepts, edges = parse_obo(OBO_SAMPLE)
    idx = build_index_df(spark, concepts_df_from_records(spark, concepts))
    docs = spark.createDataFrame(
        [("d1", [("text", "Consistent with malignant melanoma.", None, 0)])],
        SPANS_DDL)
    rows = annotate(docs, idx, __import__(
        "nobletools_spark.model", fromlist=["MatchConfig"]).MatchConfig()).collect()
    assert {r.cui for r in rows} == {"GO:0001"}
    anc = ancestors(spark.createDataFrame(edges, "cui string, parent string"))
    got = {(r.cui, r.ancestor, r.depth) for r in anc.collect()}
    assert ("GO:0001", "GO:0003", 2) in got


OWL_SAMPLE = """\
<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xmlns:oboInOwl="http://www.geneontology.org/formats/oboInOwl#"
         xmlns:T="http://example.org/thesaurus#"
         xml:base="http://example.org/thesaurus">
  <owl:Ontology rdf:about="http://example.org/thesaurus"/>
  <owl:Class rdf:about="http://example.org/thesaurus#C0001">
    <rdfs:label>melanoma</rdfs:label>
    <oboInOwl:hasExactSynonym>malignant melanoma</oboInOwl:hasExactSynonym>
    <T:Semantic_Type>Neoplastic Process</T:Semantic_Type>
    <T:NCI_Thesaurus_Code>C0025202</T:NCI_Thesaurus_Code>
    <T:definition>a malignant neoplasm of melanocytes</T:definition>
    <rdfs:subClassOf rdf:resource="http://example.org/thesaurus#Neoplasm"/>
  </owl:Class>
  <owl:Class rdf:about="http://example.org/thesaurus#Neoplasm">
    <T:preferred_Label>neoplasm</T:preferred_Label>
    <rdfs:subClassOf rdf:resource="http://example.org/thesaurus#Disease_Or_Syndrome"/>
  </owl:Class>
  <owl:Class rdf:about="http://example.org/thesaurus#Disease_Or_Syndrome"/>
  <owl:Class rdf:about="http://example.org/thesaurus#StageFinding">
    <T:match_regex>stage [ivx]+</T:match_regex>
  </owl:Class>
  <owl:Class rdf:about="http://example.org/thesaurus#Gone">
    <owl:deprecated>true</owl:deprecated>
  </owl:Class>
  <owl:Class rdf:about="http://example.org/thesaurus#Nested">
    <rdfs:subClassOf><owl:Class rdf:about="http://example.org/thesaurus#Neoplasm"/></rdfs:subClassOf>
  </owl:Class>
</rdf:RDF>
"""


def test_parse_owl():
    from nobletools_spark.sources.owl import parse_owl, pretty_name

    concepts, edges = parse_owl(OWL_SAMPLE)
    by = {c["cui"]: c for c in concepts}
    # label becomes the name; synonyms include exact synonyms
    assert by["C0001"]["name"] == "melanoma"
    assert set(by["C0001"]["synonyms"]) == {"melanoma", "malignant melanoma"}
    assert by["C0001"]["semtypes"] == ("Neoplastic Process",)
    assert by["C0001"]["definition"].startswith("a malignant")
    # alternate codes: URI always + the *code* property
    codes = dict(by["C0001"]["codes"])
    assert codes["URI"].endswith("#C0001")
    assert codes["NCI_Thesaurus_Code"] == "C0025202"
    # pref label property overrides the pretty name
    assert by["Neoplasm"]["name"] == "neoplasm"
    # no label at all: prettified local name (underscores -> spaces)
    assert by["Disease_Or_Syndrome"]["name"] == "Disease Or Syndrome"
    # *regex* properties become /…/ synonyms -> regex matcher route
    assert "/stage [ivx]+/" in by["StageFinding"]["synonyms"]
    # deprecated classes dropped (obsolete parity with OBO)
    assert "Gone" not in by
    # subClassOf via rdf:resource AND via nested named class
    assert ("C0001", "Neoplasm") in edges
    assert ("Neoplasm", "Disease_Or_Syndrome") in edges
    assert ("Nested", "Neoplasm") in edges
    # camelCase split in pretty_name (OntologyUtils:186)
    assert pretty_name("deepMargin") == "deep Margin"


OWL_MAIN_WITH_IMPORT = """\
<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xml:base="http://example.org/main">
  <owl:Ontology rdf:about="http://example.org/main">
    <owl:imports rdf:resource="http://example.org/upper"/>
  </owl:Ontology>
  <owl:Class rdf:about="http://example.org/main#Melanoma">
    <rdfs:label>melanoma</rdfs:label>
    <rdfs:subClassOf rdf:resource="http://example.org/upper#Neoplasm"/>
  </owl:Class>
</rdf:RDF>
"""

OWL_UPPER_MODULE = """\
<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xml:base="http://example.org/upper">
  <owl:Ontology rdf:about="http://example.org/upper">
    <owl:imports rdf:resource="http://example.org/main"/>
  </owl:Ontology>
  <owl:Class rdf:about="http://example.org/upper#Neoplasm">
    <rdfs:label>neoplasm</rdfs:label>
    <rdfs:subClassOf rdf:resource="http://example.org/upper#Disease"/>
  </owl:Class>
  <owl:Class rdf:about="http://example.org/upper#Disease"/>
</rdf:RDF>
"""


OWL_DEFINED_CLASS = """\
<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xml:base="http://example.org/t">
  <owl:Ontology rdf:about="http://example.org/t"/>
  <owl:Class rdf:about="http://example.org/t#Neoplasm"/>
  <owl:Class rdf:about="http://example.org/t#Skin_Disorder"/>
  <owl:Class rdf:about="http://example.org/t#Melanoma">
    <rdfs:label>melanoma</rdfs:label>
    <owl:equivalentClass>
      <owl:Class>
        <owl:intersectionOf rdf:parseType="Collection">
          <rdf:Description rdf:about="http://example.org/t#Neoplasm"/>
          <owl:Restriction>
            <owl:onProperty rdf:resource="http://example.org/t#site"/>
            <owl:someValuesFrom rdf:resource="http://example.org/t#Skin"/>
          </owl:Restriction>
        </owl:intersectionOf>
      </owl:Class>
    </owl:equivalentClass>
    <rdfs:subClassOf>
      <owl:Class>
        <owl:intersectionOf rdf:parseType="Collection">
          <owl:Class rdf:about="http://example.org/t#Skin_Disorder"/>
        </owl:intersectionOf>
      </owl:Class>
    </rdfs:subClassOf>
  </owl:Class>
</rdf:RDF>
"""


def test_parse_owl_defined_class_parents():
    """NCIt-style defined classes: NAMED members of equivalentClass /
    subClassOf intersections become isa parents (the reference entails
    them via its OWL reasoner, OClass.java:208-219); anonymous
    restriction members stay skipped."""
    from nobletools_spark.sources.owl import parse_owl

    concepts, edges = parse_owl(OWL_DEFINED_CLASS)
    assert ("Melanoma", "Neoplasm") in edges        # equivalentClass ∩
    assert ("Melanoma", "Skin_Disorder") in edges   # subClassOf ∩
    # the restriction filler is NOT a parent
    assert ("Melanoma", "Skin") not in edges
    assert {c["cui"] for c in concepts} >= {"Melanoma", "Neoplasm"}


OWL_NESTED_EXPR = """\
<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xml:base="http://example.org/n">
  <owl:Ontology rdf:about="http://example.org/n"/>
  <owl:Class rdf:about="http://example.org/n#B"/>
  <owl:Class rdf:about="http://example.org/n#C"/>
  <owl:Class rdf:about="http://example.org/n#D"/>
  <owl:Class rdf:about="http://example.org/n#E"/>
  <owl:Class rdf:about="http://example.org/n#RestrFiller">
    <owl:equivalentClass>
      <owl:Class>
        <owl:intersectionOf rdf:parseType="Collection">
          <rdf:Description rdf:about="http://example.org/n#B"/>
          <owl:Restriction>
            <owl:onProperty rdf:resource="http://example.org/n#p"/>
            <owl:someValuesFrom>
              <owl:Class>
                <owl:intersectionOf rdf:parseType="Collection">
                  <rdf:Description rdf:about="http://example.org/n#C"/>
                </owl:intersectionOf>
              </owl:Class>
            </owl:someValuesFrom>
          </owl:Restriction>
        </owl:intersectionOf>
      </owl:Class>
    </owl:equivalentClass>
  </owl:Class>
  <owl:Class rdf:about="http://example.org/n#UnionDisjunct">
    <owl:equivalentClass>
      <owl:Class>
        <owl:unionOf rdf:parseType="Collection">
          <owl:Class>
            <owl:intersectionOf rdf:parseType="Collection">
              <rdf:Description rdf:about="http://example.org/n#B"/>
              <rdf:Description rdf:about="http://example.org/n#C"/>
            </owl:intersectionOf>
          </owl:Class>
          <rdf:Description rdf:about="http://example.org/n#D"/>
        </owl:unionOf>
      </owl:Class>
    </owl:equivalentClass>
  </owl:Class>
  <owl:Class rdf:about="http://example.org/n#NegConjunct">
    <owl:equivalentClass>
      <owl:Class>
        <owl:intersectionOf rdf:parseType="Collection">
          <rdf:Description rdf:about="http://example.org/n#B"/>
          <owl:Class>
            <owl:complementOf>
              <owl:Class>
                <owl:intersectionOf rdf:parseType="Collection">
                  <rdf:Description rdf:about="http://example.org/n#C"/>
                </owl:intersectionOf>
              </owl:Class>
            </owl:complementOf>
          </owl:Class>
        </owl:intersectionOf>
      </owl:Class>
    </owl:equivalentClass>
  </owl:Class>
  <owl:Class rdf:about="http://example.org/n#NestedFlat">
    <owl:equivalentClass>
      <owl:Class>
        <owl:intersectionOf rdf:parseType="Collection">
          <rdf:Description rdf:about="http://example.org/n#B"/>
          <owl:Class>
            <owl:intersectionOf rdf:parseType="Collection">
              <rdf:Description rdf:about="http://example.org/n#D"/>
              <rdf:Description rdf:about="http://example.org/n#E"/>
            </owl:intersectionOf>
          </owl:Class>
        </owl:intersectionOf>
      </owl:Class>
    </owl:equivalentClass>
  </owl:Class>
</rdf:RDF>
"""


def test_parse_owl_intersection_boundaries():
    """_intersection_parents must not cross Restriction / unionOf /
    complementOf boundaries (the same rule _union_children applies):
    ``A ≡ (B ∩ ∃p.(C ∩ …))`` entails ``A ⊑ B`` but NOT ``A ⊑ C`` (the
    nested intersection is a restriction FILLER), and ``A ≡ ((B ∩ C) ∪
    D)`` entails no superclass edge at all — emitting (A,B) there would
    INVERT the real entailment (B ∩ C) ⊑ A. An anonymous nested
    intersection still flattens: ``A ≡ (B ∩ (D ∩ E))`` ⊨ A ⊑ D, A ⊑ E."""
    from nobletools_spark.sources.owl import parse_owl

    _, edges = parse_owl(OWL_NESTED_EXPR)
    assert ("RestrFiller", "B") in edges
    assert ("RestrFiller", "C") not in edges       # restriction filler
    assert ("UnionDisjunct", "B") not in edges     # union disjunct
    assert ("UnionDisjunct", "C") not in edges
    assert ("UnionDisjunct", "D") not in edges
    assert ("NestedFlat", "B") in edges
    assert ("NestedFlat", "D") in edges            # nested ∩ flattens
    assert ("NestedFlat", "E") in edges
    assert ("NegConjunct", "B") in edges
    assert ("NegConjunct", "C") not in edges       # under complementOf


OWL_UNION_CLASS = """\
<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xml:base="http://example.org/u">
  <owl:Ontology rdf:about="http://example.org/u"/>
  <owl:Class rdf:about="http://example.org/u#Benign"/>
  <owl:Class rdf:about="http://example.org/u#Malignant"/>
  <owl:Class rdf:about="http://example.org/u#Neoplasm">
    <owl:equivalentClass>
      <owl:Class>
        <owl:unionOf rdf:parseType="Collection">
          <rdf:Description rdf:about="http://example.org/u#Benign"/>
          <owl:Class rdf:about="http://example.org/u#Malignant"/>
        </owl:unionOf>
      </owl:Class>
    </owl:equivalentClass>
  </owl:Class>
  <owl:Class rdf:about="http://example.org/u#Mixed">
    <owl:equivalentClass>
      <owl:Class>
        <owl:intersectionOf rdf:parseType="Collection">
          <rdf:Description rdf:about="http://example.org/u#Neoplasm"/>
          <owl:Class>
            <owl:unionOf rdf:parseType="Collection">
              <rdf:Description rdf:about="http://example.org/u#Benign"/>
            </owl:unionOf>
          </owl:Class>
        </owl:intersectionOf>
      </owl:Class>
    </owl:equivalentClass>
  </owl:Class>
</rdf:RDF>
"""


def test_parse_owl_union_children():
    """OBO-style union classes: A ≡ (B ∪ C) entails B ⊑ A and C ⊑ A
    semantically, but the reference's STRUCTURAL reasoner
    (OOntology.java:533-535) does not emit those edges — measured in
    the owl-hierarchy parity leg, where union members stay roots. So
    the default drops them (reference fidelity) and
    ``union_children=True`` opts into the semantic entailment. A union
    nested inside an intersection entails no member edge either way."""
    from nobletools_spark.sources.owl import parse_owl

    # default: reference parity — no union-member edges
    _, edges = parse_owl(OWL_UNION_CLASS)
    assert ("Benign", "Neoplasm") not in edges
    assert ("Malignant", "Neoplasm") not in edges
    # intersection members still become parents (the structural
    # reasoner DOES flatten equivalent-intersection conjuncts)
    assert ("Mixed", "Neoplasm") in edges

    # opt-in: OBO union_of semantics
    _, edges = parse_owl(OWL_UNION_CLASS, union_children=True)
    assert ("Benign", "Neoplasm") in edges
    assert ("Malignant", "Neoplasm") in edges
    # the union inside Mixed's intersection must NOT leak member edges
    assert ("Benign", "Mixed") not in edges
    assert ("Mixed", "Neoplasm") in edges


def test_parse_owl_imports():
    """owl:imports (r4 verdict #4): loud by default, complete hierarchy
    with an offline resolver, cycle-safe, explicit partial-load opt-in."""
    import warnings

    import pytest

    from nobletools_spark.sources.owl import owl_imports, parse_owl

    assert owl_imports(OWL_MAIN_WITH_IMPORT) == ["http://example.org/upper"]
    assert owl_imports(OWL_SAMPLE) == []

    # default: a declared-but-unresolved import is an error naming the IRI
    with pytest.raises(ValueError, match="example.org/upper"):
        parse_owl(OWL_MAIN_WITH_IMPORT)
    # resolver missing the IRI is equally loud
    with pytest.raises(ValueError, match="missing from the resolver"):
        parse_owl(OWL_MAIN_WITH_IMPORT, imports={})

    # offline resolver: both modules load, cross-module isa edge intact,
    # and the upper module's back-import (a cycle) loads each doc once
    resolver = {"http://example.org/upper": OWL_UPPER_MODULE,
                "http://example.org/main": OWL_MAIN_WITH_IMPORT}
    concepts, edges = parse_owl(OWL_MAIN_WITH_IMPORT, imports=resolver)
    by = {c["cui"]: c for c in concepts}
    assert set(by) == {"Melanoma", "Neoplasm", "Disease"}
    assert ("Melanoma", "Neoplasm") in edges
    assert ("Neoplasm", "Disease") in edges

    # the root document's own IRI needn't be in the resolver: upper's
    # back-import of main resolves against the root's self-declared IRI
    # (parse_owl registers each document's owl:Ontology IRIs as loaded
    # before chasing its imports)
    concepts, edges = parse_owl(
        OWL_MAIN_WITH_IMPORT,
        imports={"http://example.org/upper": OWL_UPPER_MODULE})
    assert {c["cui"] for c in concepts} == {"Melanoma", "Neoplasm",
                                            "Disease"}
    assert ("Neoplasm", "Disease") in edges

    # explicit opt-in to a partial hierarchy warns with the IRIs
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        concepts, edges = parse_owl(OWL_MAIN_WITH_IMPORT, imports="ignore")
    assert any("example.org/upper" in str(x.message) for x in w)
    assert {c["cui"] for c in concepts} == {"Melanoma"}
    # import-free documents are unaffected by the default
    assert parse_owl(OWL_SAMPLE)[0]


def test_from_owl_imports_passthrough(spark):
    """api.from_owl forwards ``imports`` to parse_owl: loud by default
    on a modular ontology, complete index + cross-module isa edge with
    an offline resolver."""
    import pytest

    from nobletools_spark.api import NobleCoderSpark

    with pytest.raises(ValueError, match="example.org/upper"):
        NobleCoderSpark.from_owl(spark, OWL_MAIN_WITH_IMPORT)

    nc = NobleCoderSpark.from_owl(
        spark, OWL_MAIN_WITH_IMPORT,
        imports={"http://example.org/upper": OWL_UPPER_MODULE})
    assert ("Melanoma", "Neoplasm") in nc.isa_edges
    assert ("Neoplasm", "Disease") in nc.isa_edges
    assert nc.lookup_concept("Disease") is not None


def test_owl_to_index_end_to_end(spark):
    """OWL fixture → index → annotate round-trip (same gate as OBO),
    including the regex synonym route and the codeMap lookup."""
    from nobletools_spark.api import NobleCoderSpark
    from nobletools_spark.operators.triples import ancestors
    from nobletools_spark.sources.fixtures import SPANS_DDL

    nc = NobleCoderSpark.from_owl(spark, OWL_SAMPLE)
    docs = spark.createDataFrame(
        [("d1", [("text", "Consistent with malignant melanoma, stage iv.",
                  None, 0)])], SPANS_DDL)
    rows = nc.annotate(docs).collect()
    assert {r.cui for r in rows} == {"C0001", "StageFinding"}
    anc = ancestors(spark.createDataFrame(list(nc.isa_edges),
                                          "cui string, parent string"))
    got = {(r.cui, r.ancestor, r.depth) for r in anc.collect()}
    assert ("C0001", "Disease_Or_Syndrome", 2) in got
    # any-code lookup: NCIt code and full URI resolve to the concept
    assert nc.lookup_concept("C0025202").cui == "C0001"
    assert nc.lookup_concept(
        "http://example.org/thesaurus#C0001").cui == "C0001"
    assert nc.lookup_concept("C0001").cui == "C0001"
    assert nc.lookup_concept("nope") is None


def test_code_map_first_wins():
    from nobletools_spark.index import build_index

    idx = build_index([
        {"cui": "C1", "name": "alpha", "synonyms": ("alpha",),
         "codes": (("SRC", "X1"),)},
        {"cui": "C2", "name": "beta", "synonyms": ("beta",),
         "codes": (("SRC", "X1"), ("SRC2", "X2"))},
    ])
    # first concept to claim a code keeps it (addConcept :1092-1095)
    assert idx.code_map["X1"] == "C1"
    assert idx.code_map["X2"] == "C2"
    assert idx.lookup_by_code("X2").cui == "C2"


def test_concepts_from_sql_df(spark):
    """JDBC-source projection: pipe-delimited string list columns (the
    relational shape) normalize into the index-builder schema and build
    a working index."""
    from nobletools_spark.index import build_index_df
    from nobletools_spark.sources.rrf import concepts_from_sql_df

    rel = spark.createDataFrame(
        [("C1", "Melanoma", "Melanoma|Malignant Melanoma", "T191", "TST"),
         ("C2", None, "Neoplasm", None, "TST|ALT")],
        "cui string, name string, synonyms string, semtypes string, "
        "sources string")
    out = concepts_from_sql_df(rel)
    rows = {r.cui: r for r in out.collect()}
    assert rows["C1"].synonyms == ["Melanoma", "Malignant Melanoma"]
    assert rows["C2"].name == "Neoplasm"        # falls back to synonym 1
    assert rows["C2"].sources == ["TST", "ALT"]
    assert rows["C2"].semtypes == []
    idx = build_index_df(spark, out)
    assert idx.lookup_by_code("C1").name == "Melanoma"
    assert "melanoma" in idx.term_cuis


def test_terminology_diff_and_stale_triples(spark):
    """Release diff: added/removed/renamed/synonyms_changed/
    semtypes_changed each flagged exactly once (a renamed concept with
    changed synonyms reports both facts); stale_triples returns the
    edges touching affected CUIs on either endpoint, once per
    endpoint hit."""
    old = [
        {"cui": "C1", "name": "Alpha", "synonyms": ("Alpha", "a1"),
         "semtypes": ("T1",), "sources": ("S",)},
        {"cui": "C2", "name": "Beta", "synonyms": ("Beta",),
         "semtypes": ("T1",), "sources": ("S",)},
        {"cui": "C3", "name": "Gamma", "synonyms": ("Gamma",),
         "semtypes": ("T1",), "sources": ("S",)},
        {"cui": "C4", "name": "Delta", "synonyms": ("Delta",),
         "semtypes": ("T1",), "sources": ("S",)},
    ]
    new = [
        {"cui": "C1", "name": "Alpha", "synonyms": ("Alpha", "a1"),
         "semtypes": ("T1",), "sources": ("S",)},          # unchanged
        {"cui": "C2", "name": "Beta Prime", "synonyms": ("Beta", "bp"),
         "semtypes": ("T1",), "sources": ("S",)},          # renamed+syn
        {"cui": "C3", "name": "Gamma", "synonyms": ("Gamma",),
         "semtypes": ("T2",), "sources": ("S",)},          # semtypes
        {"cui": "C5", "name": "Epsilon", "synonyms": ("Epsilon",),
         "semtypes": ("T1",), "sources": ("S",)},          # added
    ]                                                       # C4 removed
    from nobletools_spark.index import terminology_diff
    from nobletools_spark.operators.triples import stale_triples
    from nobletools_spark.sources.obo import concepts_df_from_records

    diff = terminology_diff(concepts_df_from_records(spark, old),
                            concepts_df_from_records(spark, new))
    got = {(r.cui, r.change) for r in diff.collect()}
    assert got == {("C5", "added"), ("C4", "removed"),
                   ("C2", "renamed"), ("C2", "synonyms_changed"),
                   ("C3", "semtypes_changed")}
    names = {(r.cui, r.change): (r.old_name, r.new_name)
             for r in diff.collect()}
    assert names[("C2", "renamed")] == ("Beta", "Beta Prime")
    assert names[("C5", "added")] == (None, "Epsilon")

    triples = spark.createDataFrame(
        [("C1", "isa", "C2"), ("C1", "co-occurs-with", "C3"),
         ("C4", "isa", "C1"), ("d1", "mentions-concept", "C5")],
        "subj string, pred string, obj string")
    stale = {tuple(r) for r in stale_triples(triples, diff).collect()}
    # C2 (renamed + syn) hits C1-isa-C2's object twice (two change
    # rows) -> distinct keeps both (different change values)
    assert stale == {
        ("C1", "isa", "C2", "C2", "renamed"),
        ("C1", "isa", "C2", "C2", "synonyms_changed"),
        ("C4", "isa", "C1", "C4", "removed"),
    }
    # semtype-only change is not in the default stale classes
    assert all(c != "semtypes_changed" for *_t, c in stale)


def test_terminology_diff_null_safety(spark):
    """NULL fields diff correctly: presence comes from per-side
    markers (a concept with a NULL old name is NOT 'added'), and the
    null-safe comparisons report NULL->value transitions instead of
    silently dropping them."""
    from nobletools_spark.index import terminology_diff

    ddl = ("cui string, name string, synonyms array<string>, "
           "semtypes array<string>")
    old = spark.createDataFrame(
        [("C1", None, None, ["T1"]),       # NULL name + NULL synonyms
         ("C2", "B", ["B"], ["T1"])], ddl)
    new = spark.createDataFrame(
        [("C1", "Alpha", ["Alpha"], ["T1"]),
         ("C2", "B", ["B"], ["T1"])], ddl)
    got = {(r.cui, r.change) for r in
           terminology_diff(old, new).collect()}
    # C1 existed: renamed (NULL->Alpha) + synonyms_changed
    # (NULL->[Alpha]), NOT 'added'; C2 unchanged
    assert got == {("C1", "renamed"), ("C1", "synonyms_changed")}


def test_select_branch_semantics():
    """Branch export selection (ui/TerminologyExporter.java:743-845):
    DFS from roots, semantic-type filter prunes the WHOLE subtree under
    a non-matching node, depth bounds recursion (1 = roots only),
    diamonds keep both parent edges, direct 2-cycles keep only the
    first-seen edge, and output order is deterministic DFS preorder."""
    from nobletools_spark.sources.sinks import select_branch

    def c(cui, *st):
        return {"cui": cui, "name": cui.lower(), "synonyms": (cui.lower(),),
                "semtypes": tuple(st), "sources": ("TST",)}

    #        R
    #      /   \
    #     A     B(T9)      A,B children of R; B fails the T1 filter
    #    / \   /
    #   C   D-+            D is a diamond child of A and B
    #   |
    #   E
    concepts = [c("R", "T1"), c("A", "T1"), c("B", "T9"), c("C", "T1"),
                c("D", "T1"), c("E", "T1")]
    edges = [("A", "R"), ("B", "R"), ("C", "A"), ("D", "A"), ("D", "B"),
             ("E", "C")]

    # unfiltered: everything, diamond D gets both parent links
    got, ge = select_branch(concepts, edges, ["R"])
    assert [x["cui"] for x in got] == ["R", "A", "C", "E", "D", "B"]  # preorder
    assert set(ge) == set(edges)

    # semtype filter prunes B AND the D<-B edge arrives only via A's walk
    got, ge = select_branch(concepts, edges, ["R"], semtypes=("T1",))
    assert {x["cui"] for x in got} == {"R", "A", "C", "D", "E"}
    assert set(ge) == {("A", "R"), ("C", "A"), ("D", "A"), ("E", "C")}

    # depth: 1 keeps roots only; 2 keeps one level of children
    got, _ = select_branch(concepts, edges, ["R"], depth=1)
    assert [x["cui"] for x in got] == ["R"]
    got, ge = select_branch(concepts, edges, ["R"], depth=2)
    assert {x["cui"] for x in got} == {"R", "A", "B"}
    assert set(ge) == {("A", "R"), ("B", "R")}

    # direct 2-cycle: revisit does not add the inverted edge
    cyc = [c("X", "T1"), c("Y", "T1")]
    got, ge = select_branch(cyc, [("Y", "X"), ("X", "Y")], ["X"])
    assert {x["cui"] for x in got} == {"X", "Y"}
    assert ge == [("Y", "X")]

    # root with edges but no concept record: bare node (no filter)
    got, ge = select_branch([c("A", "T1")], [("A", "GHOST")], ["GHOST"])
    assert [x["cui"] for x in got] == ["GHOST", "A"]
    assert got[0]["name"] == "GHOST"
    # ... and pruned when a semtype filter is active (unprovable)
    got, _ = select_branch([c("A", "T1")], [("A", "GHOST")], ["GHOST"],
                           semtypes=("T1",))
    assert got == []


def test_export_terminology_cli(tmp_path, spark):
    """End-to-end CLI (headless TerminologyExporter): OBO in, branch +
    depth selection, OWL out — re-parsed output holds exactly the
    selected classes/edges; RRF out round-trips through load_rrf's
    MRCONSO reader shape."""
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from export_terminology import main

    from nobletools_spark.sources.owl import parse_owl

    obo = tmp_path / "t.obo"
    obo.write_text(OBO_SAMPLE)
    out = tmp_path / "branch.owl"
    assert main(["--obo", str(obo), "--root", "GO:0003", "--depth", "2",
                 "--format", "owl", "--output", str(out),
                 "--name", "Branch"]) == 0
    concepts, edges = parse_owl(out.read_text())
    # GO:0003 (disease) + its child GO:0002 (neoplasm); depth 2 stops
    # before GO:0001 (melanoma); obsolete GO:0004 was never loaded
    assert {c["cui"] for c in concepts} == {"GO:0003", "GO:0002"}
    assert set(edges) == {("GO:0002", "GO:0003")}

    rrf_dir = tmp_path / "rrf_out"
    assert main(["--obo", str(obo), "--format", "rrf",
                 "--output", str(rrf_dir), "--sab", "OBO"]) == 0
    lines = [ln for f in rrf_dir.glob("part-*.txt")
             for ln in f.read_text().splitlines()]
    rows = [ln.split("|") for ln in lines]
    assert {r[0] for r in rows} == {"GO:0001", "GO:0002", "GO:0003", "GO:0005"}
    mm = [r for r in rows if r[14] == "MM"]
    assert mm and mm[0][11] == "OBO" and mm[0][2] == "S"


def test_term_xml_round_trip(spark):
    """NobleCoder XML terminology serialization
    (NobleCoderTerminology.toElement/fromElement:2155-2217): export →
    parse reproduces cui/name/synonyms/semtypes/sources/definition/
    codes and exactly the edge set; Broader on the child and the
    mirror Narrower on the parent both parse to the same (child,
    parent) edge, deduplicated; preferred Term overrides the name
    attribute; XML-escaped content survives; roots line lists the
    parentless concepts; from_term_xml annotates identically to the
    source-concept coder."""
    from nobletools_spark.api import NobleCoderSpark
    from nobletools_spark.sources.fixtures import (
        BUILTIN_CONCEPTS,
        BUILTIN_ISA_EDGES,
        interleaved_docs,
    )
    from nobletools_spark.sources.termxml import (
        export_term_xml,
        parse_term_xml,
    )

    xml = export_term_xml(BUILTIN_CONCEPTS, BUILTIN_ISA_EDGES,
                          name="builtin", options={"default.search": "best"})
    concepts, edges = parse_term_xml(xml)
    by = {c["cui"]: c for c in concepts}
    for o in BUILTIN_CONCEPTS:
        g = by[o["cui"]]
        assert g["name"] == o["name"]
        assert set(g["synonyms"]) >= set(o["synonyms"])
        assert g["semtypes"] == tuple(o["semtypes"])
        assert set(g["sources"]) == set(o["sources"])
    assert set(edges) == set(BUILTIN_ISA_EDGES)

    # escaping, definition preference, codes, preferred-Term override
    c = [{"cui": "X1", "name": 'a <b> & "c"',
          "synonyms": ('a <b> & "c"', "alt&syn"), "semtypes": ("T1",),
          "sources": ("S&1",), "definition": "def <&>",
          "codes": (("NCI", "N1"), ("URI", "skipme"))}]
    xml2 = export_term_xml(c, [("X1", "P1"), ("C2", "X1")])
    got = {g["cui"]: g for g in parse_term_xml(xml2)[0]}["X1"]
    assert got["name"] == 'a <b> & "c"'
    assert "alt&syn" in got["synonyms"]
    assert got["definition"] == "def <&>"
    assert got["codes"] == (("NCI", "N1"),)      # URI pseudo-code skipped
    assert set(parse_term_xml(xml2)[1]) == {("X1", "P1"), ("C2", "X1")}
    assert "<Roots>P1</Roots>" in xml2           # parentless = root
    assert 'name="default.search" value="best"' not in xml2  # options per-call

    # a concept id containing ", " must survive the edge round trip:
    # Relations are one element per target (never comma-joined) and the
    # parser resolves whole-text code matches before splitting — the
    # reference's own comma-joined multi-target text still parses
    cc = [{"cui": "X, Y", "name": "xy", "synonyms": ("xy",)},
          {"cui": "P1", "name": "p", "synonyms": ("p",)},
          {"cui": "A", "name": "a", "synonyms": ("a",)}]
    xml3 = export_term_xml(cc, [("X, Y", "P1"), ("A", "X, Y")])
    assert set(parse_term_xml(xml3)[1]) == {("X, Y", "P1"), ("A", "X, Y")}
    # reference-style comma-joined multi-target Relation still splits
    legacy = xml2.replace(
        '<Relation name="Narrower">C2</Relation>',
        '<Relation name="Narrower">C2, C3</Relation>')
    assert {("C2", "X1"), ("C3", "X1")} <= set(parse_term_xml(legacy)[1])

    # annotate parity: XML-round-tripped terminology ≡ the original
    docs = interleaved_docs(spark, "/root/testdata/sf0.001").limit(25)
    a1 = sorted(NobleCoderSpark.from_concepts(BUILTIN_CONCEPTS)
                .annotate(docs).select("doc_id", "cui", "start").collect())
    a2 = sorted(NobleCoderSpark.from_term_xml(spark, xml)
                .annotate(docs).select("doc_id", "cui", "start").collect())
    assert a1 == a2 and len(a1) > 0


def test_export_terminology_cli_xml(tmp_path):
    """CLI xml leg: OBO in → NobleCoder XML out → --xml back in →
    OWL out, concepts/edges preserved across both hops."""
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from export_terminology import main

    from nobletools_spark.sources.owl import parse_owl

    obo = tmp_path / "t.obo"
    obo.write_text(OBO_SAMPLE)
    x = tmp_path / "t.xml"
    assert main(["--obo", str(obo), "--format", "xml",
                 "--output", str(x), "--name", "go-slim"]) == 0
    assert 'name="go-slim"' in x.read_text()
    o = tmp_path / "t.owl"
    assert main(["--xml", str(x), "--format", "owl",
                 "--output", str(o)]) == 0
    concepts, edges = parse_owl(o.read_text())
    assert {c["cui"] for c in concepts} == {"GO:0001", "GO:0002", "GO:0003", "GO:0005"}
    assert set(edges) == {("GO:0001", "GO:0002"), ("GO:0002", "GO:0003")}


def test_term_xml_options_round_trip(spark):
    """Search-properties round trip (getSearchProperties /
    setSearchProperties parity): a non-default MatchConfig exported to
    <Options> comes back equal through from_term_xml; the reference's
    read-only keys (stem.words, ignore.digits, ignore.small.words) do
    NOT override the base config; unknown search methods fall back to
    best-match; word.window.size is maxWordGap+1 with maximum.word.gap
    winning; numeric parse failures are swallowed."""
    from dataclasses import replace

    from nobletools_spark.api import NobleCoderSpark
    from nobletools_spark.model import PRECISE_MATCH, MatchConfig
    from nobletools_spark.sources.fixtures import BUILTIN_CONCEPTS
    from nobletools_spark.sources.termxml import (
        export_term_xml,
        match_config_from_properties,
        match_config_to_properties,
    )

    cfg = MatchConfig(search_method=PRECISE_MATCH, max_word_gap=3,
                      window_size=7, partial_match_threshold=0.25,
                      select_best_candidate=False, ignore_used_words=False,
                      source_filter=("NCI", "SNOMEDCT"),
                      semtype_filter=("T191",))
    props = match_config_to_properties(cfg)
    assert props["partial.match.theshold"] == "0.25"   # reference typo kept
    got = match_config_from_properties(props)
    for f in ("search_method", "max_word_gap", "window_size",
              "partial_match_threshold", "select_best_candidate",
              "ignore_used_words", "source_filter", "semtype_filter"):
        assert getattr(got, f) == getattr(cfg, f), f

    # read-only keys don't reset the base
    base = MatchConfig(stem_words=False, strip_digits=True,
                       ignore_small_words=False)
    got = match_config_from_properties(
        {"stem.words": "true", "ignore.digits": "false",
         "ignore.small.words": "true"}, base)
    assert (got.stem_words, got.strip_digits, got.ignore_small_words) == \
        (False, True, False)

    # fallback + precedence + swallowed parse errors
    got = match_config_from_properties(
        {"default.search.method": "bogus-match", "word.window.size": "5",
         "maximum.word.gap": "2", "window.size": "oops"})
    assert got.search_method == "best-match"
    assert got.max_word_gap == 2 and got.window_size == MatchConfig().window_size

    # full loop through the XML document via the facade
    xml = export_term_xml(BUILTIN_CONCEPTS, options=props)
    nc = NobleCoderSpark.from_term_xml(spark, xml)
    assert nc.cfg.search_method == PRECISE_MATCH
    assert nc.cfg.source_filter == ("NCI", "SNOMEDCT")
    assert nc.cfg.max_word_gap == 3


def test_export_review_regressions(spark, tmp_path):
    """Pinned fixes from the export-surface review: (1) default roots
    include ghost parents so their subtrees survive; (2) select_branch
    bare nodes feed concepts_df_from_records (rrf/orf legs) without
    KeyError; (3) _prop_tag only emits tags parse_owl provably reads
    back as codes; (4) CLI --semtypes tolerates spaces; (5) DataFrame
    export keeps sources; (6) from_rrf exports hierarchy via the
    tables['relations'] fallback."""
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from export_terminology import main

    from nobletools_spark.api import NobleCoderSpark
    from nobletools_spark.sources.obo import concepts_df_from_records
    from nobletools_spark.sources.owl import parse_owl
    from nobletools_spark.sources.rrf import (
        conso_row,
        rel_row,
        sty_row,
        write_fixture_rrf,
    )
    from nobletools_spark.sources.sinks import (
        default_roots,
        export_owl,
        select_branch,
    )
    from nobletools_spark.sources.termxml import export_term_xml

    def c(cui, *st):
        return {"cui": cui, "name": cui.lower(), "synonyms": (cui.lower(),),
                "semtypes": tuple(st), "sources": ("TST",)}

    # (1) ghost root GHOST owns A owns B: default_roots must return it
    concepts = [c("A", "T1"), c("B", "T1")]
    edges = [("A", "GHOST"), ("B", "A")]
    assert default_roots(concepts, edges) == ["GHOST"]
    got, ge = select_branch(concepts, edges, default_roots(concepts, edges),
                            depth=5)
    assert {x["cui"] for x in got} == {"GHOST", "A", "B"}

    # (2) bare hierarchy-only records are full loader-shape
    concepts_df_from_records(spark, got).collect()

    # (3) code tags that previously vanished or became synonyms
    cc = [{"cui": "X1", "name": "x", "synonyms": ("x",), "semtypes": (),
           "sources": ("S",),
           "codes": (("CodeSystem", "CS9"), ("Name_Code", "NC1"))}]
    back = parse_owl(export_owl(cc))[0][0]
    codes = dict(back["codes"])
    assert codes.get("CodeSystem_ID") == "CS9"
    assert codes.get("code") == "NC1"            # synonym-arm tag demoted
    assert "NC1" not in back["synonyms"]

    # (4) CLI --semtypes with a space after the comma still matches
    x = tmp_path / "g.xml"
    x.write_text(export_term_xml([c("R", "T1"), c("K", "T2")],
                                 [("K", "R")]))
    o = tmp_path / "g.owl"
    assert main(["--xml", str(x), "--semtypes", "T1, T2",
                 "--format", "owl", "--output", str(o)]) == 0
    assert {cn["cui"] for cn in parse_owl(o.read_text())[0]} == {"R", "K"}

    # (5) DataFrame-fed XML export keeps <Source> entries
    xml = export_term_xml(concepts_df_from_records(spark, [c("A", "T1")]))
    assert "<Source name=\"TST\"/>" in xml

    # (6) from_rrf → export_terminology emits the MRREL hierarchy
    rrf = tmp_path / "rrf_in"
    write_fixture_rrf(str(rrf),
                      [conso_row("C0001", "alpha"),
                       conso_row("C0002", "beta")],
                      [sty_row("C0001", "T1", "t"),
                       sty_row("C0002", "T1", "t")],
                      [rel_row("C0001", "PAR", "C0002")])
    nc = NobleCoderSpark.from_rrf(spark, str(rrf))
    p = tmp_path / "rrf.owl"
    nc.export_terminology(str(p))
    assert parse_owl(p.read_text())[1] == [("C0001", "C0002")]


OWL_RESTRICTION_FILLERS = """\
<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xml:base="http://example.org/r">
  <owl:Ontology rdf:about="http://example.org/r"/>
  <owl:Class rdf:about="http://example.org/r#Thing">
    <rdfs:subClassOf>
      <owl:Restriction>
        <owl:onProperty rdf:resource="http://example.org/r#hasPart"/>
        <owl:someValuesFrom rdf:resource="http://example.org/r#Part"/>
      </owl:Restriction>
    </rdfs:subClassOf>
    <rdfs:subClassOf>
      <owl:Restriction>
        <owl:onProperty rdf:resource="http://example.org/r#onlyIn"/>
        <owl:allValuesFrom rdf:resource="http://example.org/r#Site"/>
      </owl:Restriction>
    </rdfs:subClassOf>
    <rdfs:subClassOf>
      <owl:Restriction>
        <owl:onProperty rdf:resource="http://example.org/r#size"/>
        <owl:hasValue>3</owl:hasValue>
      </owl:Restriction>
    </rdfs:subClassOf>
  </owl:Class>
</rdf:RDF>
"""


def test_parse_owl_graph_restriction_fillers():
    """All three reference restriction kinds surface (ORestriction.java
    :36-57): hasValue (literal), someValuesFrom and allValuesFrom
    (resources)."""
    from nobletools_spark.sources.owl import parse_owl_graph

    classes, _ = parse_owl_graph(OWL_RESTRICTION_FILLERS)
    r = set(classes["Thing"]["restrictions"])
    assert r == {("hasPart", "Part", True),
                 ("onlyIn", "Site", True),
                 ("size", "3", False)}


def test_parse_obo_synonym_variants_and_escaped_quotes():
    """OBO 1.0 exact_/narrow_/broad_synonym keys load like synonym
    (key.matches('(exact_|narrow_|broad_)?synonym')), and the quoted
    body is captured GREEDILY up to the last quote before the [xrefs]
    (ConceptImporter.java:193) — an escaped quote survives."""
    from nobletools_spark.sources.obo import parse_obo

    obo = (
        "[Term]\nid: T:1\nname: lung cancer\n"
        'exact_synonym: "cancer of the lung" EXACT []\n'
        'narrow_synonym: "NSCLC" []\n'
        'broad_synonym: "neoplasm" []\n'
        'synonym: "5\'-3\\" exonuclease" RELATED []\n')
    c = parse_obo(obo)[0][0]
    assert "cancer of the lung" in c["synonyms"]
    assert "NSCLC" in c["synonyms"]
    assert "neoplasm" in c["synonyms"]
    assert '5\'-3\\" exonuclease' in c["synonyms"]


def test_parse_text_terminology_code_shaped_first_token():
    """createClass names the class from the FIRST token even when it is
    CUI-shaped (:517) — the line is a concept, never dropped, and its
    tab-indented children parent onto it."""
    from nobletools_spark.sources.obo import parse_text_terminology

    txt = "C0025202\n\tMelanoma; C0000001\n"
    concepts, edges = parse_text_terminology(txt)
    by_name = {c["name"]: c for c in concepts}
    assert "C0025202" in by_name
    mel = by_name["Melanoma"]
    assert (mel["cui"], by_name["C0025202"]["cui"]) in edges


def test_load_rrf_preferred_name_file_order_and_filter_priority(
        spark, tmp_path):
    """Preferred-name choice (ConceptImporter.java:866-888): the FIRST
    TS=P/ISPREF=Y row in FILE order names the concept; under a source
    filter a preferred row from a source EARLIER in the filter list
    wins; a CUI with no preferred row keeps its first atom's text."""
    from nobletools_spark.sources.rrf import (
        conso_row, load_rrf, write_fixture_rrf)

    p = str(tmp_path / "rrfp")
    write_fixture_rrf(
        p,
        mrconso=[
            # C1: two preferred rows; file order must win (ZZZ first)
            conso_row("C1", "Zebra Name", sab="TST"),
            conso_row("C1", "Alpha Name", sab="ALT"),
            # C2: no preferred row at all -> first atom's text
            conso_row("C2", "Plain Atom", ts="S", ispref="N", sab="TST"),
            conso_row("C2", "Aaa Atom", ts="S", ispref="N", sab="TST"),
        ],
        mrsty=[], mrrel=[])
    t = load_rrf(spark, p)
    names = {r["cui"]: r["name"] for r in t["concepts"].collect()}
    assert names["C1"] == "Zebra Name"        # file order, not alpha
    assert names["C2"] == "Plain Atom"        # constructor name
    # filter priority: ALT listed first outranks the earlier TST row
    t2 = load_rrf(spark, p, source_filter=("ALT", "TST"))
    names2 = {r["cui"]: r["name"] for r in t2["concepts"].collect()}
    assert names2["C1"] == "Alpha Name"
