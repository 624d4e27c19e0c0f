"""NegEx goldens (reference tools/NegEx.java; Chapman 2001 semantics)."""

from nobletools_spark.model import MatchConfig
from nobletools_spark.operators.match_core import match_sentence
from nobletools_spark.operators.negex import negex
from nobletools_spark.sources.fixtures import pytest_index

IDX = pytest_index()


def _mods(text: str, cui: str) -> dict:
    mentions = match_sentence(text, IDX, MatchConfig())
    negex(text, mentions)
    for m in mentions:
        if m.cui == cui:
            return m.modifiers
    raise AssertionError(cui)


def test_pre_negation():
    assert _mods("No evidence of melanoma.", "C013")["Polarity"] == \
        "Negative_Polarity"
    assert _mods("Denies melanoma.", "C013")["Polarity"] == \
        "Negative_Polarity"


def test_post_negation_retroactive():
    assert _mods("Melanoma was ruled out.", "C013")["Polarity"] == \
        "Negative_Polarity"


def test_affirmed_untouched():
    assert "Polarity" not in _mods("Melanoma was seen.", "C013")


def test_conjunction_stops_scope():
    text = "No evidence of margins but melanoma was seen."
    assert _mods(text, "C003")["Polarity"] == "Negative_Polarity"
    assert "Polarity" not in _mods(text, "C013")


def test_window_bounds_pre_negation():
    text = "No evidence in any of the several previously archived slides of melanoma."
    assert "Polarity" not in _mods(text, "C013")


def test_indeterminate_hedges_retroactively():
    text = "Melanoma cannot be evaluated."
    assert _mods(text, "C013")["ContextualModality"] == \
        "Hedged_ContextualModality"


def test_pseudo_negation_not_negated():
    assert "Polarity" not in _mods("No change in melanoma.", "C013")


def test_gendered_rule_out_variants():
    # entries beyond the round-1 truncation point of the pre-negation list
    assert _mods("Rules her out for melanoma.", "C013")["Polarity"] == \
        "Negative_Polarity"
    assert _mods("Did rule the patient out against melanoma.",
                 "C013")["Polarity"] == "Negative_Polarity"


def test_never_developed():
    assert _mods("Never developed melanoma.", "C013")["Polarity"] == \
        "Negative_Polarity"


def test_as_a_cause_for_clears_scope():
    # 'as a cause for' is a conjunction past the round-1 truncation point;
    # it must clear the pre-negation scope (and the round-1 transcription
    # typo 'as a reasonof' must be gone).
    text = "No evidence of margins as a cause for melanoma."
    assert _mods(text, "C003")["Polarity"] == "Negative_Polarity"
    assert "Polarity" not in _mods(text, "C013")


def test_punctuation_phrases_dead_for_parity():
    # 'w/o evidence of' can never fire: parse() strips the sentence with
    # \W->space before matching while the list entry keeps its slash —
    # dead in the reference too (NegEx.java:207 vs the .lst). Parity.
    assert "Polarity" not in _mods("W/o evidence of melanoma.", "C013")


def test_lists_match_reference_lst_files():
    """Each tuple equals the reference's parsed .lst file verbatim:
    content AND order, since findMatch is first-prefix-wins
    (NegEx.java:125-140). The lists are pinned as the sha256 of each
    tuple joined by newlines. This test compared them against the .lst
    files directly while the reference checkout was present (through
    27cbc1d), and operators/negex.py has not changed since abbadeb,
    before that commit."""
    import hashlib

    from nobletools_spark.operators import negex as nx

    pinned = {
        "PRE_NEGATION": "1abd67a71f2b82a8d048755707ee5565"
                        "bf20874befb24bed546b55e873021c9a",
        "POST_NEGATION": "c6411a545dfc0d16ae12f1309bdcbd13"
                         "8f75a360a8fff263a694642b306d3ba4",
        "INDETERMINATE": "53657690e035bbb9bd0bf44d588e40ba"
                         "5f5470af0efd633499d8359f97d09b79",
        "PSEUDO_NEGATION": "db18a4a1a3f9c4d02605411f7e29cb42"
                           "5a2787df5b9ea0acad5da11b5e9a72a5",
        "CONJUNCTIONS": "f780b67d62c52109c2a8a912ac09bfba"
                        "767f96c4c752a175ad0e1c87d86da1f1",
    }
    for name, digest in pinned.items():
        joined = "\n".join(getattr(nx, name)).encode("utf-8")
        assert hashlib.sha256(joined).hexdigest() == digest, name


def test_indexof_tokenization_quirk_parity():
    """Reference parse() assigns each word the offset of its FIRST
    substring occurrence (NegEx.java:216 text.indexOf(word)); a trigger
    word that also appears inside an earlier word is dropped. 'no' after
    'melanoma' (mela-NO-ma) never fires — verified against the compiled
    reference in the negex parity leg (tests/test_parity_goldens.py)."""
    text = "Sections show melanoma but no evidence of deep margin involvement."
    mentions = match_sentence(text, IDX, MatchConfig())
    negex(text, mentions)
    mods = {m.cui: m.modifiers for m in mentions}
    assert "Polarity" not in mods["C001"]   # 'no evidence of' token lost
    assert "Polarity" not in mods["C013"]
    # without a preceding 'no'-containing word, the same phrase fires
    assert _mods("Sections show no evidence of melanoma.",
                 "C013")["Polarity"] == "Negative_Polarity"


def test_concept_match_uses_mention_text_with_gap_words():
    """NegEx.findConceptMatch (:151) matches Mention.getText() — the
    annotation WORDS joined by single spaces, gap words excluded — not
    the raw sentence span; offsets advance by that text's length
    (:312). A gap-word mention ('ductal carcinoma ... situ') therefore
    does NOT regex-match the sentence and stays un-negated, exactly
    like the reference."""
    from nobletools_spark.operators.match_core import Mention
    from nobletools_spark.operators.negex import negex

    text = "No evidence of ductal carcinoma in situ."
    m = Mention("C007", "ductal carcinoma in situ", "t", 1.0,
                [("ductal", 15), ("carcinoma", 22), ("situ", 35)], text)
    negex(text, [m])
    assert m.modifiers.get("Polarity") != "Negative_Polarity"
    # without gap words the same mention IS matched and negated
    text2 = "No evidence of ductal carcinoma."
    m2 = Mention("C007", "ductal carcinoma", "t", 1.0,
                 [("ductal", 15), ("carcinoma", 22)], text2)
    negex(text2, [m2])
    assert m2.modifiers.get("Polarity") == "Negative_Polarity"
