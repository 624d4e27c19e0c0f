"""Goldens for the faithful extraction kernel (operators/extract_kernel).

Every expected cell below is pinned to the REFERENCE binary's output:
the identical template + documents ran through the reference's
InformationExtractor and CSVExporter RESULTS.tsv in the extract parity
leg, and the cells matched verbatim (P=R=1.0, JAVA_PARITY.json at
27cbc1d; the leg's engine half is replayed by
tests/test_parity_goldens.py). The goldens keep that agreement
enforced without needing the JVM.

Covers: trigger-domain satisfaction (incl. the negated-trigger quirk),
value domain with units + TextTools %.2f rendering, per-ANNOTATION
value parsing via a strict descendant mention
(ItemInstance.java:424-430), boolean finding negation → absent,
DOMAIN_SELF, addInstance ancestor-merge and sibling append, the
Feature second pass (equal component sets accept, extra component
rejects — TemplateItem.java:421-449), and section filters with [-N]
sentence ranges (TemplateItem.java:362-391)."""

from __future__ import annotations

import pytest

from nobletools_spark.index import build_index
from nobletools_spark.model import MatchConfig
from nobletools_spark.operators.context import context_index_from_owl
from nobletools_spark.operators.extract_kernel import (
    ExtractRuntime,
    _DocExtractor,
    extract_matrix,
    template_spec_from_xml,
)
from nobletools_spark.operators.matcher import parse_and_match
from tests.test_context import CONTEXT_OWL

TEMPLATE_XML = """\
<Template name="kernel-goldens" version="1.0">
  <Description>extraction kernel golden fixture</Description>
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
  <Terminology name="kernel-golden-terms">
    <Concepts>
      <Concept code="C300" name="Neoplastic Process">
        <Term preferred="true">Neoplastic Process</Term></Concept>
      <Concept code="C301" name="Melanoma">
        <Term preferred="true">Melanoma</Term>
        <Relations><Relation name="Broader">C300</Relation></Relations>
      </Concept>
      <Concept code="C302" name="Superficial Spreading Melanoma">
        <Term preferred="true">Superficial Spreading Melanoma</Term>
        <Relations><Relation name="Broader">C301</Relation></Relations>
      </Concept>
      <Concept code="C303" name="Nodular Melanoma">
        <Term preferred="true">Nodular Melanoma</Term>
        <Relations><Relation name="Broader">C301</Relation></Relations>
      </Concept>
      <Concept code="C310" name="Histologic Type">
        <Term preferred="true">Histologic Type</Term></Concept>
      <Concept code="C311" name="Epithelioid Cell Type">
        <Term preferred="true">Epithelioid Cell Type</Term>
        <Term>epithelioid</Term>
        <Relations><Relation name="Broader">C310</Relation></Relations>
      </Concept>
      <Concept code="C312" name="Spindle Cell Type">
        <Term preferred="true">Spindle Cell Type</Term>
        <Term>spindle cell</Term>
        <Relations><Relation name="Broader">C310</Relation></Relations>
      </Concept>
      <Concept code="C320" name="Breslow Depth">
        <Term preferred="true">Breslow Depth</Term></Concept>
      <Concept code="C326" name="Numeric Value">
        <Term preferred="true">Numeric Value</Term>
        <Term>/[0-9]+\\.[0-9]+/</Term></Concept>
      <Concept code="C332" name="Millimeter">
        <Term preferred="true">Millimeter</Term>
        <Term>mm</Term><Term>millimeters</Term></Concept>
      <Concept code="C330" name="Mitotic Grade">
        <Term preferred="true">Mitotic Grade</Term></Concept>
      <Concept code="C331" name="Grade Three of Three">
        <Term preferred="true">Grade Three of Three</Term>
        <Term>grade 3 of 3</Term>
        <Relations><Relation name="Broader">C330</Relation></Relations>
      </Concept>
      <Concept code="C340" name="Surgical Margin">
        <Term preferred="true">Surgical Margin</Term>
        <Term>margin</Term><Term>margins</Term></Concept>
      <Concept code="C341" name="Involved Margin">
        <Term preferred="true">Involved Margin</Term>
        <Term>involved margins</Term>
        <Relations><Relation name="Broader">C340</Relation></Relations>
      </Concept>
      <Concept code="C342" name="Clear Margin">
        <Term preferred="true">Clear Margin</Term>
        <Term>clear margins</Term>
        <Relations><Relation name="Broader">C340</Relation></Relations>
      </Concept>
      <Concept code="C350" name="Tumor Ulceration">
        <Term preferred="true">Tumor Ulceration</Term>
        <Term>ulceration</Term></Concept>
      <Concept code="C361" name="Brisk Mitotic Activity">
        <Term preferred="true">Brisk Mitotic Activity</Term></Concept>
      <Concept code="C362" name="Mitotic Figures">
        <Term preferred="true">Mitotic Figures</Term></Concept>
      <Concept code="C363" name="Brisk">
        <Term preferred="true">Brisk</Term></Concept>
    </Concepts>
  </Terminology>
</Template>
"""

_CFG = MatchConfig(select_best_candidate=False)


@pytest.fixture(scope="module")
def rig():
    spec = template_spec_from_xml(TEMPLATE_XML)
    return (spec, ExtractRuntime(spec), build_index(spec.concept_records()),
            context_index_from_owl(CONTEXT_OWL))


def _row(rig, text: str) -> dict:
    spec, rt, idx, ctx = rig
    sents, all_s, secs = parse_and_match(
        "d", [("text", text, None, 0)], idx, _CFG, ctx)
    return _DocExtractor(rt, sents, all_s, secs, _CFG).matrix_row()


def test_trigger_domain(rig):
    """Trigger satisfaction (ItemInstance.java:408-422): a same-sentence
    attribute value satisfies; a bare anchor is dropped; negation does
    NOT unsatisfy a trigger item (the branch never checks polarity)."""
    r = _row(rig, "FINAL DIAGNOSIS: Superficial spreading melanoma with "
                  "epithelioid features is seen.\n")
    assert r["Melanoma Histologic Type"] == "Epithelioid Cell Type (C311) ;"
    assert r["Superficial Spreading Melanoma"] == "present ;"
    assert _row(rig, "FINAL DIAGNOSIS: Melanoma is identified.\n") == {
        k: "" for k in r}
    neg = _row(rig, "FINAL DIAGNOSIS: No evidence of melanoma with "
                    "epithelioid features.\n")
    assert neg["Melanoma Histologic Type"] == "Epithelioid Cell Type (C311) ;"


def test_value_domain_units(rig):
    """Values via the single-concept re-match + last-wins unit;
    TextTools.toString renders %.2f; LinkedHashSet dedupes values."""
    r = _row(rig, "GROSS DESCRIPTION: Breslow depth is 3.5 mm.\n")
    assert r["Breslow Depth"] == "3.50 Millimeter ;"
    r = _row(rig, "GROSS DESCRIPTION: Breslow depth is 3.5 mm "
                  "and again 3.5 mm.\n")
    assert r["Breslow Depth"] == "3.50 Millimeter ;"


def test_per_annotation_value_parse(rig):
    """ItemInstance.java:424-430: a mention strictly descending from a
    DOMAIN_VALUE item parses each ANNOTATION word (digit words are not
    annotations in either engine, so only 'grade' survives)."""
    r = _row(rig, "GROSS DESCRIPTION: Mitotic grade was grade 3 of 3.\n")
    assert r["Mitotic Grade"] == "grade ;"


def test_negation_absent(rig):
    assert _row(rig, "FINAL DIAGNOSIS: No evidence of ulceration.\n")[
        "Tumor Ulceration"] == "absent ;"
    assert _row(rig, "FINAL DIAGNOSIS: Ulceration is identified.\n")[
        "Tumor Ulceration"] == "present ;"


def test_self_domain_merge(rig):
    """addInstance (TemplateItem.java:454-488): a more specific concept
    replaces its ancestor in place; true siblings append in doc order."""
    assert _row(rig, "GROSS DESCRIPTION: Clear margins are noted. The "
                     "margin was examined.\n")[
        "Surgical Margin"] == "Clear Margin (C342) ;"
    assert _row(rig, "GROSS DESCRIPTION: Involved margins are seen. "
                     "Clear margins are noted.\n")[
        "Surgical Margin"] == "Involved Margin (C341) ;Clear Margin (C342) ;"


def test_feature_second_pass(rig):
    """TemplateItem.java:421-449: the pass fires only when the item and
    feature instances resolve IDENTICAL component-concept sets — an
    extra unit on the item side rejects the match."""
    assert _row(rig, "GROSS DESCRIPTION: Mitotic figures are brisk.\n")[
        "Brisk Mitotic Activity"] == "Brisk (C363) ;"
    assert _row(rig, "GROSS DESCRIPTION: Mitotic figures are seen.\n")[
        "Brisk Mitotic Activity"] == "present ;"
    assert _row(rig, "GROSS DESCRIPTION: Mitotic figures are brisk "
                     "measuring 2.1 mm.\n")[
        "Brisk Mitotic Activity"] == ""


def test_section_filters_and_ranges(rig):
    """Section scope + [-N] ranges (TemplateItem.java:362-391): the
    range counts section sentences INCLUDING the header sentence and
    drops the trailing N."""
    r = _row(rig, "FINAL DIAGNOSIS: Superficial spreading melanoma is "
                  "seen.\n\nGROSS DESCRIPTION: Superficial spreading "
                  "melanoma involves the margin.\n")
    assert r["Superficial Spreading Melanoma"] == "present ;"
    assert _row(rig, "GROSS DESCRIPTION: Superficial spreading melanoma "
                     "is present.\n")[
        "Superficial Spreading Melanoma"] == ""
    keep = _row(rig, "COMMENT: Nodular melanoma is seen. This was "
                     "reviewed. Nodular melanoma persists.\n")
    assert keep["Nodular Melanoma"] == "present ;"
    drop = _row(rig, "COMMENT: This was reviewed. Nodular melanoma "
                     "persists.\n")
    assert drop["Nodular Melanoma"] == ""


def test_extract_matrix_spark(rig, spark):
    """The mapInPandas wrapper: one row per doc, question columns, cells
    identical to the per-doc kernel."""
    spec, rt, idx, ctx = rig
    from nobletools_spark.sources.fixtures import SPANS_DDL

    texts = {
        "d1": "FINAL DIAGNOSIS: Superficial spreading melanoma with "
              "epithelioid features.\nNo evidence of ulceration.\n\n"
              "GROSS DESCRIPTION: Breslow depth is 1.2 mm. Clear margins "
              "are noted. Mitotic figures are brisk.\n\n"
              "COMMENT: Nodular melanoma is seen. Margins were "
              "rechecked.\n",
        "d2": "FINAL DIAGNOSIS: The specimen was received fresh.\n",
    }
    docs = spark.createDataFrame(
        [(k, [("text", v, None, 0)]) for k, v in texts.items()], SPANS_DDL)
    out = {r["Document"]: r.asDict() for r in
           extract_matrix(docs, idx, spec, cfg=_CFG, context=ctx).collect()}
    assert out["d1"]["Melanoma Histologic Type"] == \
        "Epithelioid Cell Type (C311) ;"
    assert out["d1"]["Breslow Depth"] == "1.20 Millimeter ;"
    assert out["d1"]["Surgical Margin"] == "Clear Margin (C342) ;"
    assert out["d1"]["Tumor Ulceration"] == "absent ;"
    assert out["d1"]["Brisk Mitotic Activity"] == "Brisk (C363) ;"
    assert out["d1"]["Superficial Spreading Melanoma"] == "present ;"
    assert out["d1"]["Nodular Melanoma"] == "present ;"
    assert all(v == "" for k, v in out["d2"].items() if k != "Document")


def test_api_extract_matrix(rig, spark):
    """NobleCoderSpark.extract_matrix exposes the faithful kernel on
    the API surface with the kernel's own coder config (reference
    semantics), not the batch-coding config."""
    from nobletools_spark.api import NobleCoderSpark
    from nobletools_spark.sources.fixtures import SPANS_DDL

    spec, rt, idx, ctx = rig
    eng = NobleCoderSpark(idx, context=ctx)
    docs = spark.createDataFrame(
        [("d1", [("text", "GROSS DESCRIPTION: Breslow depth is 1.2 mm. "
                  "Clear margins are noted.\n", None, 0)])], SPANS_DDL)
    out = {r["Document"]: r.asDict()
           for r in eng.extract_matrix(docs, spec).collect()}
    assert out["d1"]["Breslow Depth"] == "1.20 Millimeter ;"
    assert out["d1"]["Surgical Margin"] == "Clear Margin (C342) ;"


def test_duplicate_question_items_keep_separate_columns():
    """Two diagnosis-typed items both ask 'diagnosis': the result
    matrix keeps SEPARATE per-item cells (reference CSVExporter
    repeats the TSV header; our columns disambiguate with __2)."""
    xml = """\
<Template name="dup" version="1.0">
  <TemplateItems>
    <TemplateItem type="diagnosis" value.domain="self" concept="C301"/>
    <TemplateItem type="diagnosis" value.domain="self" concept="C302"/>
  </TemplateItems>
  <Terminology name="dup-terms">
    <Concepts>
      <Concept code="C301" name="Alpha Dx">
        <Term preferred="true">Alpha Dx</Term>
        <Term>alpha diagnosis</Term></Concept>
      <Concept code="C302" name="Beta Dx">
        <Term preferred="true">Beta Dx</Term>
        <Term>beta diagnosis</Term></Concept>
    </Concepts>
  </Terminology>
</Template>"""
    spec = template_spec_from_xml(xml)
    rt = ExtractRuntime(spec)
    from nobletools_spark.operators.extract_kernel import question_columns

    cols = [c for c, _i, _a in question_columns(rt)]
    assert cols == ["diagnosis", "diagnosis__2"]
    idx = build_index(spec.concept_records())
    sents, all_s, secs = parse_and_match(
        "d", [("text", "Beta diagnosis is noted.\n", None, 0)],
        idx, MatchConfig(select_best_candidate=False), None, None)
    row = _DocExtractor(rt, sents, all_s, secs,
                        MatchConfig(select_best_candidate=False)).matrix_row()
    assert row["diagnosis"] == "" and row["diagnosis__2"] == \
        "Beta Dx (C302) ;"


def test_template_spec_from_xml_missing_template_raises():
    with pytest.raises(ValueError, match="no <Template>"):
        template_spec_from_xml("<NotATemplate><Inner/></NotATemplate>")


def test_template_spec_rejects_unparseable_sentence_range():
    """A section filter whose [range] would throw in Integer.parseInt
    (TemplateItem.java:376) fails fast at parse time on the driver,
    not per-document inside a Spark stage."""
    xml = """\
<Template name="bad" version="1.0">
  <TemplateItems>
    <TemplateItem type="finding" concept="C1">
      <Filters><Filter type="section">COMMENT:[-1-2]</Filter></Filters>
    </TemplateItem>
  </TemplateItems>
  <Terminology name="t">
    <Concepts>
      <Concept code="C1" name="Thing">
        <Term preferred="true">Thing</Term></Concept>
    </Concepts>
  </Terminology>
</Template>"""
    with pytest.raises(ValueError, match="sentence range"):
        template_spec_from_xml(xml)


def test_template_spec_accepts_valid_and_nonneg_ranges():
    """'[-2]' (parsed) and '[1-2]' (whole-section TODO branch — never
    int-parsed, faithful to the reference) both load fine."""
    xml = """\
<Template name="ok" version="1.0">
  <TemplateItems>
    <TemplateItem type="finding" concept="C1">
      <Filters><Filter type="section">A:[-2]</Filter></Filters>
    </TemplateItem>
    <TemplateItem type="finding" concept="C1">
      <Filters><Filter type="section">B:[1-2]</Filter></Filters>
    </TemplateItem>
  </TemplateItems>
  <Terminology name="t">
    <Concepts>
      <Concept code="C1" name="Thing">
        <Term preferred="true">Thing</Term></Concept>
    </Concepts>
  </Terminology>
</Template>"""
    spec = template_spec_from_xml(xml)
    assert spec.items[0].filters == ("A:[-2]",)
    assert spec.items[1].filters == ("B:[1-2]",)


def test_extract_html_report_spark(rig, spark):
    """extract_html (HTMLExporter.export(TemplateDocument) parity,
    pinned structurally by the 20th Java leg): coded report pane with
    labels + Header bolds, cap-protocol rows, answer labels wired to
    annotation offsets, negated instances carrying their modifier
    trigger annotations, found-items footer."""
    import re

    from nobletools_spark.operators.extract_kernel import extract_html
    from nobletools_spark.sources.fixtures import SPANS_DDL

    spec, rt, idx, ctx = rig
    text = ("FINAL DIAGNOSIS: Superficial spreading melanoma.\n"
            "No evidence of ulceration.\n")
    docs = spark.createDataFrame([("d1", [("text", text, None, 0)])],
                                 SPANS_DDL)
    html = extract_html(docs, idx, spec, cfg=_CFG,
                        context=ctx).collect()[0].html
    # header bolded, not labeled
    assert "<b>FINAL DIAGNOSIS:" in html
    # report-pane labels anchor at document offsets
    assert re.search(r'<label id="\d+"[^>]*>melanoma</label>', html)
    # cap table: template h3 + a numbered row with the item question
    assert "<h3>" in html and "<th align=left>" in html
    # negated item answers 'absent' and its label codes carry the
    # negation trigger's annotation offsets (getModifierAnnotations)
    m = re.search(r'<label[^>]*onclick[^>]*>absent</label>', html)
    assert m is not None
    neg_codes = re.search(r"h\(\[([^\]]*)\]\)", m.group(0)).group(1)
    no_off = text.index("No evidence")
    assert f"'{no_off}'" in neg_codes
    # footer counts the found instances
    assert re.search(r"found items: <b>\d+</b>", html)
