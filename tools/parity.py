"""The engine over the inputs of the twenty reference-parity legs.

Each leg runs one engine surface over fixtures emitted here and reduces
its output to a multiset of keys: the matcher in every search method and
over OBO, RRF, OWL and compacted terminologies, ConText, NegEx, the
triple emitters, the document processor, the OBO/RRF/OWL hierarchy
loaders, the extraction kernel, the terminology-derived template, the
HTML reports and the RESULTS.tsv sink. Duplicate keys count: a set
would pass an engine that emits every mention twice.

At commit 27cbc1d the reference NobleCoder binary ran over the same
inputs and agreed with the engine on every leg, key for key and count
for count (precision = recall = 1.0, ``JAVA_PARITY.json``). The
engine's multisets are frozen as goldens under ``tests/goldens/parity/``
and ``tests/test_parity_goldens.py`` replays every leg against them.

Usage:
    python tools/parity.py      # re-record tests/goldens/parity/

Re-record only for a declared change of engine output, and explain the
difference in CHANGES.md.
"""

from __future__ import annotations

import gzip
import json
import os
import sys
import tempfile
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from nobletools_spark.api import NobleCoderSpark  # noqa: E402
from nobletools_spark.model import MatchConfig  # noqa: E402

GOLDENS = os.path.join(REPO, "tests", "goldens", "parity")
N_DOCS = 200

# fixture names inside a leg's work directory
DOCS = "docs"
OBO = "terms.obo"
RRF = "rrf"
CTX_OWL = "context.owl"
OWL_SRC = "terms.owl"
RRF_HIER = "rrf_hier"
EXT_DOCS = "extract_docs"
EXT_TEMPLATE = "extract.template"
TT_OBO = "paritytt.obo"     # stem doubles as the terminology name

SEARCH_METHODS = ("all-match", "precise-match", "nonoverlap-match",
                  "partial-match")
LEGS = ("mentions", "triples", "context", "negex", "rrf", "owl",
        "owl-hierarchy", "rrf-hierarchy", *SEARCH_METHODS, "compact",
        "docproc", "extract", "termtemplate", "obo-hierarchy", "html",
        "csv", "extract-html")


def _write(workdir: str, name: str, text: str) -> None:
    with open(os.path.join(workdir, name), "w", encoding="utf-8") as f:
        f.write(text)


def _read(workdir: str, name: str) -> str:
    with open(os.path.join(workdir, name), encoding="utf-8") as f:
        return f.read()


def _docs_df(spark, docs_dir: str):
    """One ``SPANS_DDL`` row per ``<doc_id>.txt`` file, in name order."""
    from nobletools_spark.sources.fixtures import SPANS_DDL

    rows = [(fn[:-4], [("text", _read(docs_dir, fn), None, 0)])
            for fn in sorted(os.listdir(docs_dir)) if fn.endswith(".txt")]
    return spark.createDataFrame(rows, SPANS_DDL)


def emit_fixture(workdir: str) -> None:
    """The shared terminology as OBO and RRF, the rich corpus plus the
    adversarial documents as ``.txt`` files, and the ConText lexicon
    (``tests/test_context.py`` CONTEXT_OWL) that both corpora use."""
    from nobletools_spark.sources.fixtures import PYTEST_CONCEPTS, rich_corpus
    from nobletools_spark.sources.rrf import (
        conso_row, sab_row, sty_row, write_fixture_rrf)
    from tests.test_context import CONTEXT_OWL

    lines = ["format-version: 1.2", ""]
    # 110 word-disjoint filler concepts: the reference's compact()
    # progress arithmetic floors n/100 and modulos by it — under 100
    # terms it divides by zero, so the terminology is padded (fillers
    # never occur in the corpus and, filterTerms being per-concept, they
    # cannot perturb any real word's statistics)
    for i in range(110):
        lines += ["[Term]", f"id: FILL:{i:04d}", f"name: qfiller{i:04d}x",
                  ""]
    for c in PYTEST_CONCEPTS:
        lines += ["[Term]", f"id: {c['cui']}", f"name: {c['name']}"]
        for s in c["synonyms"]:
            if s != c["name"]:
                lines.append(f'synonym: "{s}" EXACT []')
        lines.append("")
    _write(workdir, OBO, "\n".join(lines))

    docs = os.path.join(workdir, DOCS)
    os.makedirs(docs, exist_ok=True)
    for doc_id, spans in rich_corpus(N_DOCS, seed=7):
        _write(docs, f"{doc_id}.txt",
               "".join(t for k, t, _m, _o in spans if k == "text"))
    # adversarial seeds: the reference mains' own trap strings plus the
    # NegEx/ConText phrases the round-2 list work added
    for i, text in enumerate(ADVERSARIAL):
        _write(docs, f"zadv-{i:03d}.txt", text)
    _write(workdir, CTX_OWL, CONTEXT_OWL)
    # same concepts as RRF (MRCONSO/MRSTY) for the RRF-scan leg
    mrconso, mrsty = [], []
    for c in PYTEST_CONCEPTS:
        mrconso.append(conso_row(c["cui"], c["name"], tty="PT", suppress="N"))
        for s in c["synonyms"]:
            if s != c["name"]:
                mrconso.append(conso_row(c["cui"], s, ts="S", ispref="N",
                                         tty="SY", suppress="N"))
        for t in c["semtypes"]:
            mrsty.append(sty_row(c["cui"], t, t))
    write_fixture_rrf(os.path.join(workdir, RRF), mrconso=mrconso,
                      mrsty=mrsty, mrrel=[],
                      mrsab=[sab_row("TST", "Test Source", "2025", "t")])


_OWL_BASE = "http://parity.test/terms"


def emit_owl_fixture(workdir: str) -> None:
    """RDF/XML mirror of the fixture concepts for the OWL-scan leg: the
    reference built this terminology through its OWL-API path
    (OOntology.loadOntology → ConceptImporter.loadOntology:311-413 →
    Concept(IResource):325-399 property-regex arms), the engine through
    parse_owl — rdfs:label carries the preferred name, a declared
    `synonym` annotation property the synonyms, `Semantic_Type` the
    TUIs, and a small subClassOf hierarchy rides along (mentions are
    hierarchy-independent; it exercises the superclass walk)."""
    from xml.sax.saxutils import escape

    from nobletools_spark.sources.fixtures import PYTEST_CONCEPTS

    frags = [
        '<?xml version="1.0"?>',
        f'<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"',
        f'         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"',
        f'         xmlns:owl="http://www.w3.org/2002/07/owl#"',
        f'         xmlns:t="{_OWL_BASE}#"',
        f'         xml:base="{_OWL_BASE}">',
        f'  <owl:Ontology rdf:about="{_OWL_BASE}"/>',
        f'  <owl:AnnotationProperty rdf:about="{_OWL_BASE}#synonym"/>',
        f'  <owl:AnnotationProperty rdf:about="{_OWL_BASE}#Semantic_Type"/>',
    ]
    # the two word-overlap families get a parent, everything else is root
    parents = {"C001": "C003", "C007": "C004"}
    for c in PYTEST_CONCEPTS:
        frags.append(f'  <owl:Class rdf:about="{_OWL_BASE}#{c["cui"]}">')
        frags.append(f'    <rdfs:label>{escape(c["name"])}</rdfs:label>')
        for s in c["synonyms"]:
            if s != c["name"]:
                frags.append(f"    <t:synonym>{escape(s)}</t:synonym>")
        for t in c["semtypes"]:
            frags.append(f"    <t:Semantic_Type>{t}</t:Semantic_Type>")
        if c["cui"] in parents:
            frags.append(f'    <rdfs:subClassOf rdf:resource='
                         f'"{_OWL_BASE}#{parents[c["cui"]]}"/>')
        frags.append("  </owl:Class>")
    # hierarchy-only classes for the owl-hierarchy leg (labels never
    # occur in the corpus, so the mention leg is untouched): a plain
    # child, an intersection-defined class (named parent + restriction),
    # and a union-defined class
    frags.append(f'''\
  <owl:ObjectProperty rdf:about="{_OWL_BASE}#hasQfeature"/>
  <owl:Class rdf:about="{_OWL_BASE}#H100">
    <rdfs:label>Qhier basex</rdfs:label>
  </owl:Class>
  <owl:Class rdf:about="{_OWL_BASE}#H101">
    <rdfs:label>Qhier valuex</rdfs:label>
  </owl:Class>
  <owl:Class rdf:about="{_OWL_BASE}#H102">
    <rdfs:label>Qhier definedx</rdfs:label>
    <owl:equivalentClass>
      <owl:Class>
        <owl:intersectionOf rdf:parseType="Collection">
          <owl:Class rdf:about="{_OWL_BASE}#H100"/>
          <owl:Restriction>
            <owl:onProperty rdf:resource="{_OWL_BASE}#hasQfeature"/>
            <owl:someValuesFrom rdf:resource="{_OWL_BASE}#H101"/>
          </owl:Restriction>
        </owl:intersectionOf>
      </owl:Class>
    </owl:equivalentClass>
  </owl:Class>
  <owl:Class rdf:about="{_OWL_BASE}#H103">
    <rdfs:label>Qhier unionx</rdfs:label>
    <owl:equivalentClass>
      <owl:Class>
        <owl:unionOf rdf:parseType="Collection">
          <owl:Class rdf:about="{_OWL_BASE}#H104"/>
          <owl:Class rdf:about="{_OWL_BASE}#H105"/>
        </owl:unionOf>
      </owl:Class>
    </owl:equivalentClass>
  </owl:Class>
  <owl:Class rdf:about="{_OWL_BASE}#H104">
    <rdfs:label>Qhier leftx</rdfs:label>
  </owl:Class>
  <owl:Class rdf:about="{_OWL_BASE}#H105">
    <rdfs:label>Qhier rightx</rdfs:label>
  </owl:Class>
  <owl:Class rdf:about="{_OWL_BASE}#H106">
    <rdfs:label>Qhier plainx</rdfs:label>
    <rdfs:subClassOf rdf:resource="{_OWL_BASE}#H100"/>
  </owl:Class>
  <owl:Class rdf:about="{_OWL_BASE}#H107">
    <rdfs:label>Qhier fillerx</rdfs:label>
    <owl:equivalentClass>
      <owl:Class>
        <owl:intersectionOf rdf:parseType="Collection">
          <owl:Class rdf:about="{_OWL_BASE}#H100"/>
          <owl:Restriction>
            <owl:onProperty rdf:resource="{_OWL_BASE}#hasQfeature"/>
            <owl:someValuesFrom>
              <owl:Class>
                <owl:intersectionOf rdf:parseType="Collection">
                  <owl:Class rdf:about="{_OWL_BASE}#H101"/>
                  <owl:Class rdf:about="{_OWL_BASE}#H104"/>
                </owl:intersectionOf>
              </owl:Class>
            </owl:someValuesFrom>
          </owl:Restriction>
        </owl:intersectionOf>
      </owl:Class>
    </owl:equivalentClass>
  </owl:Class>
  <owl:Class rdf:about="{_OWL_BASE}#H108">
    <rdfs:label>Qhier disjunctx</rdfs:label>
    <owl:equivalentClass>
      <owl:Class>
        <owl:unionOf rdf:parseType="Collection">
          <owl:Class>
            <owl:intersectionOf rdf:parseType="Collection">
              <owl:Class rdf:about="{_OWL_BASE}#H100"/>
              <owl:Class rdf:about="{_OWL_BASE}#H101"/>
            </owl:intersectionOf>
          </owl:Class>
          <owl:Class rdf:about="{_OWL_BASE}#H105"/>
        </owl:unionOf>
      </owl:Class>
    </owl:equivalentClass>
  </owl:Class>
  <owl:Class rdf:about="{_OWL_BASE}#H109">
    <rdfs:label>Qhier deepx</rdfs:label>
    <owl:equivalentClass>
      <owl:Class>
        <owl:intersectionOf rdf:parseType="Collection">
          <owl:Class rdf:about="{_OWL_BASE}#H100"/>
          <owl:Class>
            <owl:intersectionOf rdf:parseType="Collection">
              <owl:Class rdf:about="{_OWL_BASE}#H104"/>
              <owl:Class rdf:about="{_OWL_BASE}#H105"/>
            </owl:intersectionOf>
          </owl:Class>
        </owl:intersectionOf>
      </owl:Class>
    </owl:equivalentClass>
  </owl:Class>''')
    frags.append("</rdf:RDF>")
    _write(workdir, OWL_SRC, "\n".join(frags))


ADVERSARIAL = (
    "The nasal septum deviates to the left with a rather large spur.",
    "There is a fish under the sea. I had a genetic test done using a "
    "FISH method. WHERE ARE ALL OF THE FISH?",
    "He has DCIS as a diagnosis. What about dcis?",
    "The deep margin and the deep tumor margins were examined.",
    "Septum of the nose deviates; nasal septum noted.",
    "Stage IV melanoma; stage iv was confirmed.",
    "World Health Organization (WHO) criteria applied. WHO grade given.",
    "No evidence of melanoma. Melanoma was ruled out.",
    "Never developed melanoma. Rules her out for melanoma.",
    "No evidence of margins as a cause for melanoma.",
    "Melanoma cannot be evaluated. No change in melanoma.",
    "W/o evidence of melanoma. Without evidence of margins.",
    "Free of melanoma but margins are unlikely.",
    "Skin margin of the deep skin margins; the skin of the margin.",
    "History of melanoma. No evidence of nasal septum deviation but "
    "melanoma was seen.",
    "Protégé software was used for the ontology review.",
    "MELANOMA MELANOMA melanoma Melanoma.",
    "The deep    margin  has   extra   spacing between words.",
    "melanoma",
    "Tumor stage: stage iv. PART 1: melanoma. PARTS 2 AND 3: margins.",
    "Margins ( )  involved  (X)  not involved",
    "**NAME[Case-3] reviewed by **DATE[Jan 5 2020] 1200 melanoma",
    "Churches and churches; a church. Fish under the FISH method.",
    # r5 additions: tokenizer/punctuation/ConText classes not yet pinned
    "The deep-margin area and nasal-septum were reviewed.",
    "melanoma/margin involvement; w/ melanoma present.",
    "The melanoma's margins were clear; the church's fish.",
    "Findings:melanoma,margins;nasal septum.Deep margin!",
    "The nasal\nseptum shows deviation. Deep\nmargin noted.",
    "—Melanoma— and “margins” with ‘fish’.",
    "No increase in melanoma. Not ruled out for margins.",
    "No evidence of melanoma but margins are involved.",
    "Possible melanoma. Findings suggestive of malignant melanoma.",
    "Dr. Smith vs. Dr. Jones: melanoma e.g. margins, i.e. fish.",
    "MeLaNoMa and MARGINS and fIsH were written oddly.",
    "Stage IX confirmed; stage xvi noted. Malignant tiny dark melanoma. "
    "melanoma2 margins3 final diagnosis margins",
    "Windows line\r\nendings: melanoma seen.\r\nMargins\r\nare clear.",
    "Tab\tseparated\tmelanoma\tand\tmargins\there.",
    "   ",
    "... ;;; !!! ??? ((( ))) --- melanoma.",
    "Pneumonoultramicroscopicsilicovolcanoconiosislike melanoma margins "
    "supercalifragilisticexpialidocious fish",
    "",
    "\n",
    "Trailing whitespace line: melanoma.\n   ",
    # wave 3: matcher / ConText / acronym edge semantics
    "No evidence of alpha beta gamma delta epsilon zeta eta melanoma.",
    "No suspicious change noted but no melanoma.",
    "Melanoma is unlikely. The patient is melanoma free today.",
    "Deep Margin (DM) was measured. DM and dm were compared.",
    "Random access memory (RAM) helps. RAM again; ram too.",
    "deep margin skin margin deep margins skin",
    "stage i noted; stage v given; stage ivx odd; stages iv plural; "
    "stage iv4 glued.",
    "malignant very large melanoma and malignant tiny melanoma.",
    "The nasal. Septum is separate. Malignant. Melanoma split.",
    "melanoma melanoma melanoma melanoma melanoma melanoma melanoma "
    "melanoma melanoma melanoma melanoma melanoma melanoma melanoma",
    "(X) melanoma ( ) margins [X] fish [ ] church",
    "MELANOMA: present. MARGINS: clear. FISH: pending.",
    # wave 5: temporality / experiencer / hypothetical ConText axes
    "History of melanoma. Family history of margins.",
    "Mother had melanoma; his brother has involved margins.",
    "If melanoma develops, the margins will be rechecked.",
    "History of melanoma but current melanoma is present.",
    # wave 6: report-sink traps — markup-hostile text (the reference
    # emits it raw, the engine escapes; the leg parsers unescape both),
    # a Header sentence above a coded mention (bold + no-label branch),
    # and an acronym that is later negated (N-prefix + #994d00 color)
    "Melanoma & margins <deep> noted; margins > 2 mm.",
    "FINAL DIAGNOSIS:  Melanoma of the skin.\n\nThe deep margin "
    "is clear.",
    "World Health Organization (WHO) criteria. No WHO grade was "
    "assigned.",
)


def _mention_keys(mentions, modifiers: bool = False) -> Counter:
    """``(doc, start, end, cui, score)`` per mention row, plus the sorted
    ``name=value`` modifier set when ``modifiers``."""
    out = Counter()
    for r in mentions.collect():
        key = (r.doc_id, r.start, r.end, r.cui, round(r.score, 6))
        if modifiers:
            key += (tuple(sorted(f"{k}={v}"
                                 for k, v in r.modifiers.items())),)
        out[key] += 1
    return out


def run_spark(nc: NobleCoderSpark, docs, modifiers: bool = False,
              **kw) -> Counter:
    """Mention keys of one ``annotate`` pass of ``nc`` over ``docs``."""
    return _mention_keys(nc.annotate(docs, **kw), modifiers)


def run_spark_compact(spark, workdir: str, docs) -> Counter:
    """The compacted rare-word index, built through the Spark builder."""
    from nobletools_spark.index import build_index_df
    from nobletools_spark.sources.obo import (
        concepts_df_from_records, parse_obo)

    concepts, _ = parse_obo(_read(workdir, OBO))
    idx = build_index_df(spark, concepts_df_from_records(spark, concepts),
                         compact=True)
    return run_spark(NobleCoderSpark(idx, MatchConfig(compacted=True)), docs)


def _hierarchy_keys(concepts, edges) -> Counter:
    """Deduplicated ``EDGE`` rows plus ``default_roots`` as ``ROOT`` rows
    (relations are sets in the reference storage)."""
    from nobletools_spark.sources.sinks import default_roots

    out = Counter(("EDGE", child, parent) for child, parent in set(edges))
    out.update(("ROOT", r) for r in set(default_roots(concepts, edges)))
    return out


def run_local_owl_hierarchy(workdir: str) -> Counter:
    """parse_owl edges (defaults: intersection parents on, union
    children off — the structural-reasoner contract) + default_roots
    over the OWL fixture. The reference stored Broader relations from
    the StructuralReasoner's getDirectSuperClasses
    (ConceptImporter.loadOntology:377-379) and its root map
    (:394-395): intersection-defined classes gain their named conjunct
    as parent; union members stay roots."""
    from nobletools_spark.sources.owl import parse_owl

    return _hierarchy_keys(*parse_owl(_read(workdir, OWL_SRC)))


def emit_rrf_hier_fixture(workdir: str) -> None:
    """MRREL-bearing RRF fixture (``workdir/rrf_hier``) for the
    rrf-hierarchy leg: PAR/CHD/RB/RN direction + dedup, the ignored
    relation types, a dangling endpoint, an SRC-only↔SRC-only mapping
    (skipped as useless, ConceptImporter.java:1136-1141), a self edge,
    and the SRC ``V-*`` root convention (:833 candidates, :1169-1177
    root iff it acquired a NARROWER relation). Names are corpus-disjoint;
    the leg never runs the coder. ``tests/test_sources.py`` reuses this
    exact fixture so the unit test and the golden pin the same rows."""
    from nobletools_spark.sources.rrf import (
        conso_row, rel_row, sab_row, sty_row, write_fixture_rrf)

    mrconso = [
        conso_row("C900", "Qroot sourcex", sab="SRC", code="V-TST",
                  suppress="N"),
        conso_row("C901", "Qalpha nodex", suppress="N"),
        conso_row("C902", "Qbeta nodex", suppress="N"),
        conso_row("C903", "Qgamma nodex", suppress="N"),
        conso_row("C904", "Qdelta nodex", suppress="N"),
        conso_row("C905", "Qsrconly leftx", sab="SRC", code="V-LEFT",
                  suppress="N"),
        conso_row("C906", "Qsrconly rightx", sab="SRC",
                  code="V-RIGHT", suppress="N"),
    ]
    mrsty = [sty_row(c, "T047", "Disease or Syndrome")
             for c in ("C901", "C902", "C903", "C904")]
    mrrel = [
        rel_row("C901", "PAR", "C900"),   # root candidate gains a child
        rel_row("C902", "PAR", "C901"),
        rel_row("C901", "CHD", "C903"),   # inverse form: C903 ⊑ C901
        rel_row("C903", "RB", "C901"),    # duplicate of the above via RB
        rel_row("C904", "RN", "C902"),    # RN: C902 ⊑ C904
        rel_row("C901", "RO", "C902"),    # ignored relation type
        rel_row("C901", "PAR", "C999"),   # dangling endpoint → dropped
        rel_row("C905", "PAR", "C906"),   # SRC-only↔SRC-only → skipped
        rel_row("C901", "PAR", "C901"),   # self edge → skipped
    ]
    write_fixture_rrf(os.path.join(workdir, RRF_HIER), mrconso=mrconso,
                      mrsty=mrsty, mrrel=mrrel,
                      mrsab=[sab_row("TST", "Test Source", "2025", "t")])


def run_local_rrf_hierarchy(spark, workdir: str) -> Counter:
    from nobletools_spark.sources.rrf import load_rrf

    t = load_rrf(spark, os.path.join(workdir, RRF_HIER))
    out = Counter(("EDGE", r["cui"], r["parent"])
                  for r in t["relations"].collect())
    out.update(("ROOT", r["cui"]) for r in t["roots"].collect())
    return out


def run_local_obo_hierarchy(workdir: str) -> Counter:
    """is_a edges + no-Broader roots over the termtemplate OBO: the
    reference's loadOBO marks a concept root iff it carries no BROADER
    relation at import (ConceptImporter.java:112-114). Every is_a target
    in the fixture is a defined [Term]: the engine's ghost-root
    allowance (an undefined is_a target still owns its subtree,
    sinks.default_roots) is a deviation the reference cannot express,
    so the fixture leaves it out."""
    from nobletools_spark.sources.obo import parse_obo

    return _hierarchy_keys(*parse_obo(_read(workdir, TT_OBO)))


def run_local_docproc(workdir: str) -> Counter:
    """Sentence boundaries, types, and section assignment from the SAME
    kernel the Spark UDF calls (functions/docproc) — mention offsets pin
    segmentation where mentions exist; this leg pins it everywhere."""
    from nobletools_spark.functions import docproc

    docs = os.path.join(workdir, DOCS)
    out = Counter()
    for fn in sorted(os.listdir(docs)):
        if not fn.endswith(".txt"):
            continue
        parsed = docproc.process_document_text(_read(docs, fn), 0)
        secs = sorted(parsed.sections, key=lambda s: s.title_offset)
        for _t, off, typ in parsed.sentences:
            title = ""
            for s in secs:
                if s.title_offset <= off:
                    title = s.title
                else:
                    break
            out[(fn[:-4], off, typ, title)] += 1
    return out


# ---------------------------------------------------------------------------
# InformationExtractor legs: one shared .template (items + embedded
# terminology) and a synoptic-report corpus, compared CELL for CELL on
# the CSVExporter result matrix and structurally on the extract report.
# ---------------------------------------------------------------------------

EXTRACT_TEMPLATE_XML = """\
<Template name="parity-synoptic" version="1.0">
  <Description>cross-engine extraction parity fixture</Description>
  <TemplateItems>
    <TemplateItem type="diagnosis" value.domain="trigger" concept="C301">
      <AttributeValues>
        <Attribute><TemplateItem concept="C310"/></Attribute>
        <Values>
          <TemplateItem concept="C311"/>
          <TemplateItem concept="C312"/>
        </Values>
      </AttributeValues>
    </TemplateItem>
    <TemplateItem type="finding" value.domain="value" concept="C320">
      <Values><TemplateItem concept="C326"/></Values>
      <Units><TemplateItem concept="C332"/></Units>
    </TemplateItem>
    <TemplateItem type="finding" value.domain="value" concept="C330"/>
    <TemplateItem value.domain="self" concept="C340"/>
    <TemplateItem type="finding" concept="C350"/>
    <TemplateItem type="finding" concept="C361">
      <Feature>
        <TemplateItem concept="C362">
          <Modifiers><TemplateItem concept="C363"/></Modifiers>
        </TemplateItem>
      </Feature>
      <Modifiers><TemplateItem concept="C363"/></Modifiers>
      <Units><TemplateItem concept="C332"/></Units>
    </TemplateItem>
    <TemplateItem type="finding" concept="C302">
      <Filters><Filter type="section">FINAL DIAGNOSIS:</Filter></Filters>
    </TemplateItem>
    <TemplateItem type="finding" concept="C303">
      <Filters><Filter type="section">COMMENT:[-1]</Filter></Filters>
    </TemplateItem>
  </TemplateItems>
  <Terminology name="parity-extract-terms">
    <Concepts>
      {concepts}
    </Concepts>
  </Terminology>
</Template>
"""

EXTRACT_CONCEPTS = (
    # (code, name, [synonyms], [broader])
    ("C300", "Neoplastic Process", ["neoplastic process"], []),
    ("C301", "Melanoma", ["melanoma"], ["C300"]),
    ("C302", "Superficial Spreading Melanoma",
     ["superficial spreading melanoma"], ["C301"]),
    ("C303", "Nodular Melanoma", ["nodular melanoma"], ["C301"]),
    ("C310", "Histologic Type", ["histologic type"], []),
    ("C311", "Epithelioid Cell Type", ["epithelioid"], ["C310"]),
    ("C312", "Spindle Cell Type", ["spindle cell"], ["C310"]),
    ("C320", "Breslow Depth", ["breslow depth"], []),
    ("C326", "Numeric Value", ["/[0-9]+\\.[0-9]+/"], []),
    ("C332", "Millimeter", ["mm", "millimeters"], []),
    ("C330", "Mitotic Grade", ["mitotic grade"], []),
    ("C331", "Grade Three of Three", ["grade 3 of 3"], ["C330"]),
    ("C340", "Surgical Margin", ["margin", "margins"], []),
    ("C341", "Involved Margin", ["involved margins"], ["C340"]),
    ("C342", "Clear Margin", ["clear margins"], ["C340"]),
    ("C350", "Tumor Ulceration", ["ulceration"], []),
    ("C361", "Brisk Mitotic Activity", ["brisk mitotic activity"], []),
    ("C362", "Mitotic Figures", ["mitotic figures"], []),
    ("C363", "Brisk", ["brisk"], []),
)

_FD, _GD, _CM = "FINAL DIAGNOSIS:", "GROSS DESCRIPTION:", "COMMENT:"

EXTRACT_DOCS = (
    # trigger domain: satisfied / unsatisfied / negated-still-satisfied
    ("e000", {_FD: ["Superficial spreading melanoma with epithelioid "
                    "features is seen."]}),
    ("e001", {_FD: ["Melanoma is identified."]}),
    ("e002", {_FD: ["Nodular melanoma with spindle cell change."]}),
    ("e020", {_FD: ["No evidence of melanoma with epithelioid features."]}),
    # value domain: values + units, decimals, dedup
    ("e003", {_GD: ["Breslow depth is 3.5 mm."]}),
    ("e004", {_GD: ["Breslow depth measured 0.8 mm in thickness."]}),
    ("e021", {_GD: ["Breslow depth is 3.5 mm and again 3.5 mm."]}),
    # per-annotation value parsing via a strict descendant mention
    ("e005", {_GD: ["Mitotic grade was grade 3 of 3."]}),
    # boolean finding: negation -> absent
    ("e006", {_FD: ["No evidence of ulceration."]}),
    ("e007", {_FD: ["Ulceration is identified."]}),
    # self domain + addInstance merge semantics
    ("e008", {_GD: ["Clear margins are noted."]}),
    ("e009", {_GD: ["Clear margins are noted.", "The margin was "
                    "examined."]}),
    ("e010", {_GD: ["Involved margins are seen.", "Clear margins are "
                    "noted."]}),
    # feature second pass: equal components / bare feature / extra unit
    ("e011", {_GD: ["Mitotic figures are brisk."]}),
    ("e012", {_GD: ["Mitotic figures are seen."]}),
    ("e013", {_GD: ["Mitotic figures are brisk measuring 2.1 mm."]}),
    ("e014", {_GD: ["Brisk mitotic activity is present."]}),
    # section filters + sentence ranges
    ("e016", {_CM: ["Nodular melanoma is seen.", "This was reviewed.",
                    "Nodular melanoma persists."]}),
    ("e017", {_CM: ["This was reviewed.", "Nodular melanoma persists."]}),
    ("e018", {_FD: ["Superficial spreading melanoma is seen."],
              _GD: ["Superficial spreading melanoma involves the "
                    "margin."]}),
    ("e019", {_GD: ["Superficial spreading melanoma is present."]}),
    # empty + combined synoptic documents
    ("e022", {_FD: ["The specimen was received fresh."]}),
    ("e023", {_FD: ["Superficial spreading melanoma with epithelioid "
                    "features.", "No evidence of ulceration."],
              _GD: ["Breslow depth is 1.2 mm.", "Clear margins are "
                    "noted.", "Mitotic figures are brisk."],
              _CM: ["Nodular melanoma is seen.", "Margins were "
                    "rechecked."]}),
    ("e024", {_GD: ["Mitotic grade was grade 3 of 3.",
                    "Involved margins are seen."],
              _CM: ["This case was discussed.", "Nodular melanoma is "
                    "favored.", "Final review is pending."]}),
    # r5 wave: multi-value attributes, integer-vs-decimal values, value
    # position, multiple values, unit synonyms, negated/hedged triggers,
    # both subsumed selves in one sentence, bare modifier, filter
    # cross-section interplay
    ("e025", {_FD: ["Melanoma with epithelioid and spindle cell "
                    "features."]}),
    ("e026", {_GD: ["Breslow depth is 3 mm."]}),
    ("e027", {_GD: ["A 3.5 mm Breslow depth was noted."]}),
    ("e028", {_GD: ["Breslow depth is 3.5 mm, previously 2.0 mm."]}),
    ("e029", {_GD: ["Breslow depth is 4.5 millimeters."]}),
    ("e030", {_FD: ["Possible melanoma with spindle cell features."],
              _GD: ["Breslow depth of 1.1 mm was not identified."]}),
    ("e031", {_GD: ["Involved margins and clear margins are noted.",
                    "Brisk was noted."]}),
    ("e032", {_GD: ["Mitotic grade was high.",
                    "Superficial spreading melanoma with epithelioid "
                    "features."]}),
    ("e033", {_FD: ["Nodular melanoma is seen."],
              _CM: ["Nodular melanoma is also here.",
                    "Nodular melanoma closes the comment."]}),
    # wave 4: addInstance replace-in-place vs sibling-append positions,
    # cross-sentence attributes, negated attributes, sibling triggers
    ("e034", {_GD: ["Margins noted.", "Clear margins seen.",
                    "Involved margins found."]}),
    ("e035", {_FD: ["Melanoma is seen.",
                    "Epithelioid features are present."]}),
    ("e036", {_FD: ["Melanoma without epithelioid features, with "
                    "spindle cell change."]}),
    ("e037", {_GD: ["The margin was examined.",
                    "Involved margins are seen.",
                    "The margin was reviewed again."]}),
    ("e038", {_FD: ["Nodular melanoma and superficial spreading "
                    "melanoma are both seen."]}),
)


def emit_extract_fixture(workdir: str) -> None:
    frags = []
    for code, name, syns, broader in EXTRACT_CONCEPTS:
        terms = [f'<Term preferred="true">{name}</Term>']
        terms += [f"<Term>{s}</Term>" for s in syns
                  if s.lower() != name.lower()]
        rel = (f'<Relations><Relation name="Broader">'
               f'{",".join(broader)}</Relation></Relations>'
               if broader else "")
        frags.append(f'<Concept code="{code}" name="{name}">'
                     f'{"".join(terms)}{rel}</Concept>')
    _write(workdir, EXT_TEMPLATE, EXTRACT_TEMPLATE_XML.format(
        concepts="\n      ".join(frags)))
    docs = os.path.join(workdir, EXT_DOCS)
    os.makedirs(docs, exist_ok=True)
    for doc_id, sections in EXTRACT_DOCS:
        parts = [f"{title} {' '.join(sents)}\n"
                 for title, sents in sections.items()]
        _write(docs, f"{doc_id}.txt", "\n".join(parts))


def _matrix_to_cells(header: list, rows: list) -> Counter:
    """(doc, question, cell) triples for every NON-empty cell, plus a
    (doc, '#cols', n) guard so layout mismatches surface."""
    out = Counter()
    for row in rows:
        doc = row[0].removesuffix(".txt")
        out[(doc, "#cols", str(len(row)))] += 1
        for q, cell in zip(header[1:], row[1:]):
            if cell:
                out[(doc, q, cell)] += 1
    return out


def _result_cells(res) -> Counter:
    header = res.columns
    return _matrix_to_cells(header,
                            [[r[c] for c in header] for r in res.collect()])


EXTRACT_CFG = MatchConfig(select_best_candidate=False)


def run_spark_extract(ext_docs, spec, ctx) -> Counter:
    from nobletools_spark.index import build_index
    from nobletools_spark.operators.extract_kernel import extract_matrix

    return _result_cells(extract_matrix(
        ext_docs, build_index(spec.concept_records()), spec,
        cfg=EXTRACT_CFG, context=ctx))


# ---------------------------------------------------------------------------
# TemplateFactory.importTerminologyTemplate leg: the root concepts of one
# OBO (hierarchy included) become finding/self items, and the result
# matrix of the extract corpus is compared cell for cell — the reference
# ran its importTerminologyTemplate over a persisted terminology, the
# engine runs template_from_terminology + extract_matrix.
# ---------------------------------------------------------------------------


def emit_termtemplate_fixture(workdir: str) -> None:
    """OBO mirror of EXTRACT_CONCEPTS: is_a edges carry the hierarchy, so
    the roots the factory enumerates are the broader-less concepts (the
    reference marks a concept root iff it has no BROADER relation at
    import, ConceptImporter.java:112-114; every is_a target here is a
    defined [Term], so the engine's ghost-root allowance is moot)."""
    lines = ["format-version: 1.2", ""]
    for code, name, syns, broader in EXTRACT_CONCEPTS:
        lines += ["[Term]", f"id: {code}", f"name: {name}"]
        for s in syns:
            if s.lower() != name.lower():
                lines.append(f'synonym: "{s}" EXACT []')
        for b in broader:
            lines.append(f"is_a: {b}")
        lines.append("")
    # hierarchy-only trap stanzas (names corpus-disjoint): a part_of
    # relationship (generic relation in the reference — Relation
    # .getRelation("part_of") is NOT Broader, ConceptImporter.java:
    # 242-250 — so the concept stays a ROOT), an alt_id + namespace
    # carrier, and an obsolete child (dropped with its is_a edge)
    # NOTE: the obsolete stanza must not be LAST — the reference's
    # loadOBO does a final `list.put(c.getCode(), c)` after the loop
    # (ConceptImporter.java:271) with c nulled by is_obsolete → NPE.
    # A file ending in an obsolete term crashes the reference importer.
    lines += [
        "[Term]", "id: C392", "name: Qobo obsx", "is_a: C301",
        "is_obsolete: true", "",
        "[Term]", "id: C390", "name: Qobo partx",
        "relationship: part_of C301 ! melanoma", "",
        "[Term]", "id: C391", "name: Qobo altx", "alt_id: C390X",
        "namespace: qobo_space", "is_a: C301 ! melanoma", "",
    ]
    _write(workdir, TT_OBO, "\n".join(lines))


def run_spark_termtemplate(workdir: str, ext_docs, ctx) -> Counter:
    from nobletools_spark.index import build_index
    from nobletools_spark.operators.extract_kernel import (
        ItemSpec, TemplateSpec, extract_matrix)
    from nobletools_spark.operators.templates import (
        template_from_terminology)
    from nobletools_spark.sources.obo import parse_obo

    name = TT_OBO.removesuffix(".obo")
    concepts, edges = parse_obo(_read(workdir, TT_OBO))
    t_rows, _masks, _types = template_from_terminology(concepts, edges, name)
    items = tuple(ItemSpec(name=iname, concept=root, item_type="finding",
                           value_domain="self")
                  for _tid, iname, root, _filt, _dom in t_rows)
    crecs = tuple((c["cui"], c["name"], tuple(c["synonyms"]),
                   tuple(c["semtypes"]), tuple(c["sources"]),
                   c.get("definition")) for c in concepts)
    spec = TemplateSpec(name=name, items=items, concepts=crecs,
                        isa_edges=tuple(edges))
    return _result_cells(extract_matrix(ext_docs, build_index(concepts),
                                        spec, cfg=EXTRACT_CFG, context=ctx))


def run_spark_triples(mentions) -> Counter:
    """The engine's ACTUAL triple emitters over the annotated corpus:
    mention_triples + cooccurrence_triples(salt_buckets=8) exactly as the
    pipeline runs them. The reference side applied the same rule to its
    mention stream: distinct doc×concept mention triples, and same-doc
    concept pairs a<b with distinct-document counts."""
    from nobletools_spark.operators.triples import (cooccurrence_triples,
                                                    mention_triples)

    out = Counter((r.subj, r.pred, r.obj) for r in
                  mention_triples(mentions).select("subj", "pred",
                                                   "obj").collect())
    out.update((r.subj, r.pred, r.obj, r.n_docs) for r in
               cooccurrence_triples(mentions, salt_buckets=8).collect())
    return out


def _html_struct(pages: dict[str, str]) -> Counter:
    """Structural key multiset from a {doc: report_html} map — the parts
    of HTMLExporter output the engine agreed on with the reference,
    independent of attribute order / whitespace / tooltip formatting:

      ("label",  doc, id, word, codes, color)  — one per <label>
      ("bold",   doc, text)                    — Header-sentence bolds
      ("legend", doc, code, name, ids)         — concept legend rows
      ("found",  doc, n)                       — footer mention count

    Documented deviations are normalized away on both sides: legend id
    lists are filtered to ids that render as a <label> in the SAME page
    and deduplicated (the reference lists every annotation offset, dead
    ids included — its own h()/j() would abort on them), and rows left
    with no live id are dropped; label words and legend names are
    entity-unescaped (the engine escapes report text, the reference
    emits it raw)."""
    import re
    from html import unescape

    out = Counter()
    for doc, page in pages.items():
        labels = []
        for attrs, word in re.findall(
                r"<label\b([^>]*)>(.*?)</label>", page, re.S):
            lid = re.search(r'id="([^"]*)"', attrs).group(1)
            color = re.search(r"color:\s*([^;\"]+)", attrs).group(1)
            m = re.search(r"h\(\[(.*?)\]\)", attrs)
            codes = tuple(c.strip().strip("'")
                          for c in m.group(1).split(",")) if m else ()
            labels.append((lid, unescape(word), codes, color))
        rendered = {lab[0] for lab in labels}
        for lab in labels:
            out[("label", doc) + lab] += 1
        for text in re.findall(r"<b>(.*?)</b>", page, re.S):
            if text == "Concepts" or re.fullmatch(r"\d+", text):
                continue  # legend header / footer count, not a Header
            out[("bold", doc, unescape(text))] += 1
        concepts_pane = page[page.find("<b>Concepts</b>"):]
        for attrs, name in re.findall(
                r"<a\b([^>]*)>(.*?)</a>", concepts_pane, re.S):
            aid = re.search(r'id="([^"]*)"', attrs)
            m = re.search(r"h\(\[(.*?)\]\)", attrs)
            if aid is None or m is None:
                continue
            ids = tuple(dict.fromkeys(
                i for i in (c.strip().strip("'")
                            for c in m.group(1).split(","))
                if i in rendered))
            if ids:
                out[("legend", doc, aid.group(1), unescape(name),
                     ids)] += 1
        m = re.search(r"found items: <b>(\d+)</b>", page)
        if m:
            out[("found", doc, int(m.group(1)))] += 1
    return out


def run_local_html(docs, mentions, concepts_df) -> Counter:
    """html_report_df (HTMLExporter.export(Document)) over the corpus,
    with ConText driving the color/N-prefix quirks."""
    from nobletools_spark.sources.sinks import html_report_df

    return _html_struct({r.doc_id: r.html for r in
                         html_report_df(docs, mentions,
                                        concepts_df).collect()})


def run_local_csv(mentions, concepts_df) -> Counter:
    """results_tsv_df (CSVExporter.export(Document)) row for row: surface
    text, code, concept name, semtypes, annotation renders and all 8
    modifier values. The header row is one ``#header`` key."""
    from nobletools_spark.sources.sinks import results_tsv_df

    tsv = results_tsv_df(mentions, concepts_df)
    out = Counter([("#header", *tsv.columns)])
    out.update(tuple("" if v is None else str(v) for v in r)
               for r in tsv.collect())
    return out


def _xhtml_struct(pages: dict[str, str]) -> Counter:
    """Structural keys of an Information Extraction report page
    (HTMLExporter.export(TemplateDocument)):

      ("label", doc, id, text, codes, color)   — report + cap labels
      ("bold",  doc, text)                     — Header-sentence bolds
      ("capq",  doc, th_text)                  — cap-table row names
      ("h3",    doc, text)                     — template / title h3s
      ("found", doc, n)                        — footer count

    Numbers in the row <font> cells are excluded (the reference's row
    order follows a HashMap keySet); words/names entity-unescape on
    both sides."""
    import re
    from html import unescape

    def strip_tags(x: str) -> str:
        return re.sub(r"<[^>]+>", "", x).strip()

    out = Counter()
    for doc, page in pages.items():
        for attrs, word in re.findall(
                r"<label\b([^>]*)>(.*?)</label>", page, re.S):
            lid = re.search(r'id="([^"]*)"', attrs).group(1)
            color = re.search(r"color:\s*([^;\"]+)", attrs).group(1)
            m = re.search(r"h\(\[(.*?)\]\)", attrs)
            codes = tuple(c.strip().strip("'")
                          for c in m.group(1).split(",")) if m else ()
            out[("label", doc, unescape(lid), unescape(word), codes,
                 color)] += 1
        for text in re.findall(r"<b>(.*?)</b>", page, re.S):
            # footer numbers: found-items count and the reference's
            # "report process time: <b>-1</b> ms"
            if not re.fullmatch(r"-?\d+", text):
                out[("bold", doc, unescape(text))] += 1
        for th in re.findall(r"<th[^>]*>(.*?)</th>", page, re.S):
            out[("capq", doc, unescape(strip_tags(th)))] += 1
        for h3 in re.findall(r"<h3>(.*?)</h3>", page, re.S):
            out[("h3", doc, unescape(strip_tags(h3)))] += 1
        m = re.search(r"found items: <b>(\d+)</b>", page)
        if m:
            out[("found", doc, int(m.group(1)))] += 1
    return out


def run_local_extract_html(ext_docs, spec, ctx) -> Counter:
    """extract_html (HTMLExporter.export(TemplateDocument)): coded report
    pane, cap-protocol table rows, answer labels with their annotation
    wiring (incl. the negated instances' modifier-trigger annotations),
    found-items footer."""
    from nobletools_spark.index import build_index
    from nobletools_spark.operators.extract_kernel import extract_html

    res = extract_html(ext_docs, build_index(spec.concept_records()), spec,
                       cfg=EXTRACT_CFG, context=ctx)
    return _xhtml_struct({r.doc_id: r.html for r in res.collect()})


def legs(spark, workdir: str) -> dict[str, Counter]:
    """Emit every fixture into ``workdir`` (an empty directory) and run
    the twenty legs, in ``LEGS`` order."""
    from nobletools_spark.operators.context import context_index_from_owl
    from nobletools_spark.operators.extract_kernel import (
        template_spec_from_xml)
    from nobletools_spark.sources.obo import (
        concepts_df_from_records, parse_obo)

    for emit in (emit_fixture, emit_owl_fixture, emit_rrf_hier_fixture,
                 emit_extract_fixture, emit_termtemplate_fixture):
        emit(workdir)
    docs = _docs_df(spark, os.path.join(workdir, DOCS))
    ext_docs = _docs_df(spark, os.path.join(workdir, EXT_DOCS))
    ctx = context_index_from_owl(_read(workdir, CTX_OWL))
    spec = template_spec_from_xml(_read(workdir, EXT_TEMPLATE))
    obo = _read(workdir, OBO)
    nc = NobleCoderSpark.from_obo(spark, obo)
    # one matcher pass per configuration: the triples leg reads the
    # plain mentions, the html and csv legs the ConText ones
    plain = nc.annotate(docs).persist()
    with_ctx = NobleCoderSpark(nc.index, context=ctx).annotate(docs).persist()
    concepts_df = concepts_df_from_records(spark, parse_obo(obo)[0])
    out = {
        "mentions": _mention_keys(plain),
        "triples": run_spark_triples(plain),
        "context": _mention_keys(with_ctx, modifiers=True),
        "negex": run_spark(nc, docs, modifiers=True, negex=True),
        "rrf": run_spark(NobleCoderSpark.from_rrf(
            spark, os.path.join(workdir, RRF)), docs),
        "owl": run_spark(NobleCoderSpark.from_owl(
            spark, _read(workdir, OWL_SRC)), docs),
        "owl-hierarchy": run_local_owl_hierarchy(workdir),
        "rrf-hierarchy": run_local_rrf_hierarchy(spark, workdir),
    }
    for m in SEARCH_METHODS:
        out[m] = run_spark(NobleCoderSpark(
            nc.index, MatchConfig(search_method=m)), docs)
    out.update({
        "compact": run_spark_compact(spark, workdir, docs),
        "docproc": run_local_docproc(workdir),
        "extract": run_spark_extract(ext_docs, spec, ctx),
        "termtemplate": run_spark_termtemplate(workdir, ext_docs, ctx),
        "obo-hierarchy": run_local_obo_hierarchy(workdir),
        "html": run_local_html(docs, with_ctx, concepts_df),
        "csv": run_local_csv(with_ctx, concepts_df),
        "extract-html": run_local_extract_html(ext_docs, spec, ctx),
    })
    plain.unpersist()
    with_ctx.unpersist()
    assert tuple(out) == LEGS, tuple(out)
    return out


def canonical(keys: Counter) -> list[str]:
    """A leg's golden form: sorted JSON lines of ``[key, count]``."""
    return sorted(json.dumps([k, n], ensure_ascii=False)
                  for k, n in keys.items())


def _index() -> dict[str, str]:
    with open(os.path.join(GOLDENS, "index.json")) as f:
        return json.load(f)


def load_golden(leg: str) -> list[str]:
    with open(os.path.join(GOLDENS, _index()[leg]), "rb") as f:
        return gzip.decompress(f.read()).decode("utf-8").splitlines()


def record(results: dict[str, Counter]) -> None:
    """Write one ``<leg>.json.gz`` per distinct multiset (legs with
    identical output share the first such leg's file) and
    ``index.json``, leg → file. Compressed with mtime 0, so the same
    output re-records the same bytes."""
    index, blobs = {}, {}
    for leg, keys in results.items():
        body = "".join(f"{line}\n" for line in canonical(keys)).encode()
        index[leg] = next((f for f, b in blobs.items() if b == body),
                          f"{leg}.json.gz")
        blobs[index[leg]] = body
    os.makedirs(GOLDENS, exist_ok=True)
    for fn in os.listdir(GOLDENS):
        if fn.endswith(".json.gz") and fn not in blobs:
            os.remove(os.path.join(GOLDENS, fn))
    for fn, body in blobs.items():
        with open(os.path.join(GOLDENS, fn), "wb") as f:
            f.write(gzip.compress(body, mtime=0))
    with open(os.path.join(GOLDENS, "index.json"), "w") as f:
        f.write(json.dumps(index, indent=1) + "\n")
    for leg, keys in results.items():
        print(f"{leg}: {sum(keys.values())} keys -> {index[leg]}")


if __name__ == "__main__":
    from nobletools_spark.session import get_spark

    spark = get_spark(cores=4, driver_mem="4g")
    with tempfile.TemporaryDirectory() as wd:
        record(legs(spark, wd))
