"""Seeded workload generators for the KG-job benchmark.

Every generator is a pure function of its seed and sizes: numpy draws
all random choices up front as arrays (no per-item ``rng.choice(p=...)``
calls), then plain string assembly turns the drawn ids into text. All
generation happens before any timed region.

- ``umls_terminology`` — a UMLS-shaped terminology: Zipf word reuse,
  1-5-word terms, several synonyms per concept, acronym synonyms, a few
  hundred ``/regex/`` synonyms and a PAR/RB hierarchy, written as
  MRCONSO/MRSTY/MRREL RRF by ``write_rrf``.
- ``umls_corpus`` — clinical-like punctuated sentences over that
  terminology's vocabulary: planted synonym surfaces, vocabulary noise
  words (candidate fan-out without a full match) and acronym
  definitions.
- ``fixture_corpus`` — documents over the 31-word vocabulary of the
  builtin fixture terminology, replicated for volume.
- ``clinical_corpus`` — structured reports over the pytest terminology:
  sections, worksheet lines, DeID tags, acronym definitions, negation
  and hedging.
- ``edit_snapshot`` — a second corpus snapshot with a seeded share of
  documents edited, added and deleted.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

# --------------------------------------------------------------------------
# UMLS-shaped terminology
# --------------------------------------------------------------------------

_ONSETS = ("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "z", "br", "cr", "dr", "gl", "pl", "st", "tr", "ph",
           "th", "ch", "sc", "sp")
_VOWELS = ("a", "e", "i", "o", "u", "ae", "io", "ia")
_CODAS = ("", "", "", "n", "r", "s", "l", "x", "m", "t")
_SUFFIXES = ("itis", "oma", "osis", "al", "ic", "ous", "ine", "ase",
             "emia", "pathy", "plasty", "ectomy", "algia", "cyte", "gen")

_SABS = ("SNOMEDCT_US", "NCI", "MSH", "MDR", "ICD10CM", "LNC")
_SAB_P = np.array([0.35, 0.2, 0.15, 0.12, 0.1, 0.08])

_REGEX_FORMS = ("{w} grade [ivx]+", "{w} type [0-9]+", "{w} stage [ivx]+",
                "{w} [0-9]+ mm", "{w} class [a-d]")
_REGEX_SURFACES = ("{w} grade iii", "{w} type 2", "{w} stage iv",
                   "{w} 12 mm", "{w} class b")


@dataclass
class Terminology:
    """A generated terminology, kept as plain lists of strings so the
    corpus generator can plant its surfaces."""

    cuis: list[str]
    vocab: list[str]
    synonyms: list[list[str]]       # per concept, first = preferred name
    regex_surfaces: list[tuple[int, str]]  # (concept, matching text)
    acronyms: list[tuple[int, str, str]]   # (concept, expansion, acronym)
    semtypes: list[list[str]]
    parents: list[tuple[int, int, str]]    # (child, parent, REL)
    sources: list[list[str]] | None = None  # per concept; None = drawn

    def shape(self) -> dict:
        n_syn = sum(len(s) for s in self.synonyms)
        words = [len(s.split(" ")) for ss in self.synonyms for s in ss]
        return {"concepts": len(self.cuis), "synonyms": n_syn,
                "vocabulary": len(self.vocab),
                "mean_words_per_synonym": round(float(np.mean(words)), 3),
                "acronym_synonyms": len(self.acronyms),
                "regex_synonyms": len(self.regex_surfaces),
                "hierarchy_edges": len(self.parents)}


def _zipf_ids(rng, n_items: int, size, s: float,
              q: float = 0.0) -> np.ndarray:
    """``size`` draws of ranks 0..n_items-1 with P(r) ∝ 1/(r+1+q)^s
    (Zipf-Mandelbrot), by inverse-CDF sampling (one vectorized
    searchsorted)."""
    w = 1.0 / (np.arange(1, n_items + 1) + q) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_items - 1)


def _vocabulary(rng, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-medical words: 2-3 syllables plus
    an optional suffix."""
    out: dict[str, None] = {}
    while len(out) < n:
        k = 2 * (n - len(out)) + 64
        on = rng.integers(0, len(_ONSETS), (k, 3))
        vo = rng.integers(0, len(_VOWELS), (k, 3))
        co = rng.integers(0, len(_CODAS), (k, 3))
        n_syl = rng.integers(2, 4, k)
        suf = rng.integers(-len(_SUFFIXES), len(_SUFFIXES), k)
        for i in range(k):
            w = "".join(_ONSETS[on[i, j]] + _VOWELS[vo[i, j]] + _CODAS[co[i, j]]
                        for j in range(n_syl[i]))
            if suf[i] >= 0:
                w += _SUFFIXES[suf[i]]
            out.setdefault(w)
            if len(out) == n:
                break
    return list(out)


def umls_terminology(seed: int, n_concepts: int, vocab_size: int,
                     n_regex: int = 300, acronym_frac: float = 0.08,
                     zipf_s: float = 1.0, zipf_q: float = 10.0) -> Terminology:
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, vocab_size)
    # synonyms per concept: 1 + Poisson(4) capped at 12 (mean ≈ 5)
    n_syn = np.minimum(1 + rng.poisson(4.0, n_concepts), 12)
    total = int(n_syn.sum())
    # words per synonym: 1-5, weighted to 2-3 like UMLS English strings
    n_words = rng.choice(np.arange(1, 6), total,
                         p=[0.18, 0.34, 0.27, 0.14, 0.07])
    word_ids = _zipf_ids(rng, vocab_size, int(n_words.sum()), zipf_s,
                        zipf_q)
    # a synonym re-uses most words of its concept's preferred name, as
    # real synonym sets do (word-order variants, added qualifiers)
    ends = np.cumsum(n_words)
    starts = ends - n_words
    first = np.repeat(np.cumsum(n_syn) - n_syn, n_syn)
    keep_name_word = rng.random(int(n_words.sum())) < 0.5
    syn_words: list[list[str]] = []
    for j in range(total):
        ws = word_ids[starts[j]:ends[j]]
        f = first[j]
        if j != f:
            base = word_ids[starts[f]:ends[f]]
            ws = np.where(keep_name_word[starts[j]:ends[j]],
                          base[np.arange(len(ws)) % len(base)], ws)
        # distinct words inside one term, order kept
        seen: dict[int, None] = dict.fromkeys(int(x) for x in ws)
        syn_words.append([vocab[x] for x in seen])
    syns: list[list[str]] = []
    pos = 0
    for i in range(n_concepts):
        block = [" ".join(w) for w in syn_words[pos:pos + n_syn[i]]]
        pos += n_syn[i]
        cased = [b.title() if k == 0 else b for k, b in enumerate(block)]
        syns.append(list(dict.fromkeys(cased)))

    # acronym synonyms: initials of a multi-word preferred name
    acr_pick = np.flatnonzero(rng.random(n_concepts) < acronym_frac)
    acronyms = []
    for i in acr_pick:
        words = syns[i][0].split(" ")
        if len(words) >= 2:
            acr = "".join(w[0] for w in words).upper()
            syns[i].append(acr)
            acronyms.append((int(i), syns[i][0].lower(), acr))

    # regex synonyms: one per picked concept, anchored on a vocab word
    rx_pick = rng.choice(n_concepts, min(n_regex, n_concepts), replace=False)
    rx_form = rng.integers(0, len(_REGEX_FORMS), len(rx_pick))
    rx_word = rng.integers(0, vocab_size, len(rx_pick))
    regex_surfaces = []
    for i, f, w in zip(rx_pick, rx_form, rx_word):
        syns[i].append("/" + _REGEX_FORMS[f].format(w=vocab[w]) + "/")
        regex_surfaces.append((int(i),
                               _REGEX_SURFACES[f].format(w=vocab[w])))

    # hierarchy: random recursive tree over a random order (depth
    # ≈ ln N) plus a second RB parent for 5% of concepts
    order = rng.permutation(n_concepts)
    par_rank = (rng.random(n_concepts) * np.arange(n_concepts)).astype(int)
    parents = [(int(order[r]), int(order[par_rank[r]]), "PAR")
               for r in range(1, n_concepts)]
    extra = np.flatnonzero(rng.random(n_concepts) < 0.05)
    extra = extra[extra > 1]
    for r in extra:
        p = int(rng.integers(0, r))
        if p != par_rank[r]:
            parents.append((int(order[r]), int(order[p]), "RB"))

    tui_ids = _zipf_ids(rng, 40, (n_concepts, 2), 1.0)
    two = rng.random(n_concepts) < 0.15
    semtypes = [sorted({f"T{100 + int(t[0]):03d}"}
                       | ({f"T{100 + int(t[1]):03d}"} if two[i] else set()))
                for i, t in enumerate(tui_ids)]
    cuis = [f"C{i + 1:07d}" for i in range(n_concepts)]
    return Terminology(cuis, vocab, syns, regex_surfaces, acronyms,
                       semtypes, parents)


def from_concepts(concepts, edges) -> Terminology:
    """A package fixture terminology (``sources.fixtures`` concept dicts
    and (child, parent) edges) as a ``Terminology``. A parent that is
    not a concept becomes one named by its CUI, so ``load_rrf`` keeps
    the edge and the name never matches corpus text."""
    cuis = [c["cui"] for c in concepts]
    syns = [list(dict.fromkeys((c["name"],) + tuple(c["synonyms"])))
            for c in concepts]
    sty = [list(c["semtypes"]) for c in concepts]
    srcs = [list(c["sources"]) for c in concepts]
    for e in edges:
        for cui in e:
            if cui not in cuis:
                cuis.append(cui)
                syns.append([cui])
                sty.append([])
                srcs.append(["TST"])
    pos = {c: i for i, c in enumerate(cuis)}
    return Terminology(cuis, [], syns, [], [], sty,
                       [(pos[c], pos[p], "PAR") for c, p in edges], srcs)


def write_rrf(term: Terminology, out_dir: str, seed: int) -> None:
    """MRCONSO / MRSTY / MRREL in the UMLS positional layouts (see
    ``nobletools_spark.sources.rrf``): one ENG atom per synonym, the
    first atom of a concept preferred (TS=P, ISPREF=Y)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_atoms = sum(len(s) for s in term.synonyms)
    sab_ids = rng.choice(len(_SABS), n_atoms, p=_SAB_P)
    conso = []
    a = 0
    for i, cui in enumerate(term.cuis):
        for k, s in enumerate(term.synonyms[i]):
            pref = k == 0
            if term.sources is not None:
                sab = term.sources[i][k % len(term.sources[i])]
            else:
                sab = _SABS[sab_ids[a]]
            tty = "AB" if s.isupper() else "PT" if pref else "SY"
            # CUI|LAT|TS|LUI|STT|SUI|ISPREF|AUI|SAUI|SCUI|SDUI|SAB|TTY|
            # CODE|STR|SRL|SUPPRESS|CVF
            conso.append(f"{cui}|ENG|{'P' if pref else 'S'}|L{a:08d}|PF|"
                         f"S{a:08d}|{'Y' if pref else 'N'}|A{a:08d}|||"
                         f"|{sab}|{tty}|{sab[:3]}{i:07d}|{s}|0|N||")
            a += 1
    sty = [f"{term.cuis[i]}|{t}|A0.0|Semantic Type {t}|AT{i:08d}||"
           for i, ts in enumerate(term.semtypes) for t in ts]
    rel = [f"{term.cuis[c]}|A|AUI|{r}|{term.cuis[p]}|A|AUI||R{n:08d}||"
           f"{_SABS[0]}|{_SABS[0]}||N|N||"
           for n, (c, p, r) in enumerate(term.parents)]
    for name, rows in (("MRCONSO.RRF", conso), ("MRSTY.RRF", sty),
                       ("MRREL.RRF", rel)):
        with open(os.path.join(out_dir, name), "w") as f:
            f.write("\n".join(rows) + "\n")


# --------------------------------------------------------------------------
# Corpora
# --------------------------------------------------------------------------

_LEADS = ("Patient presents with {0}.", "History of {0} and {1}.",
          "Findings: {0}, {1}; no {2}.", "Assessment - {0} with {1}.",
          "{0} noted on exam, {1} and {2} unchanged.",
          "Imaging shows {0}; compare {1}.",
          "Plan: treat {0}, monitor {1}.", "Biopsy confirms {0} ({1}).",
          "The {0} was evaluated; {1} is stable.")
_FILLER = ("left", "right", "upper", "lower", "mild", "stable", "status",
           "prior", "today", "follow-up", "noted", "review")
_HEADERS = ("HISTORY:", "FINDINGS:", "IMPRESSION:", "DIAGNOSIS:")


def umls_corpus(term: Terminology, seed: int, n_docs: int,
                zipf_s: float = 1.1) -> list[tuple[str, list]]:
    """Documents of 4-10 sentences under 1-2 section headers. Each slot
    of a sentence template gets, by draw: a planted synonym of a
    Zipf-chosen concept (60%), a run of 1-3 vocabulary words that need
    not form a term (25%), a regex-synonym surface (5%) or an acronym
    definition ``expansion (ACR)`` (10%)."""
    rng = np.random.default_rng([seed, 3])
    n_sent = rng.integers(4, 11, n_docs)
    total = int(n_sent.sum())
    tpl = rng.integers(0, len(_LEADS), total)
    n_slots = 3 * total
    kind = rng.choice(4, n_slots, p=[0.6, 0.25, 0.05, 0.10])
    concept = _zipf_ids(rng, len(term.cuis), n_slots, zipf_s)
    syn_pick = rng.integers(0, 1 << 30, n_slots)
    noise_len = rng.integers(1, 4, n_slots)
    noise = _zipf_ids(rng, len(term.vocab), (n_slots, 3), 1.0)
    rx = rng.integers(0, max(1, len(term.regex_surfaces)), n_slots)
    ac = rng.integers(0, max(1, len(term.acronyms)), n_slots)
    fill = rng.integers(0, len(_FILLER), n_slots)
    header = rng.integers(0, len(_HEADERS), (n_docs, 2))
    split = rng.random(n_docs) < 0.5

    def slot(j: int) -> str:
        k = kind[j]
        if k == 0:
            ss = [s for s in term.synonyms[concept[j]] if s[0] != "/"]
            return ss[syn_pick[j] % len(ss)]
        if k == 1:
            return " ".join(term.vocab[w] for w in noise[j, :noise_len[j]])
        if k == 2 and term.regex_surfaces:
            return term.regex_surfaces[rx[j]][1]
        if term.acronyms:
            _c, exp, acr = term.acronyms[ac[j]]
            return f"{exp} ({acr})"
        return _FILLER[fill[j]]

    docs = []
    s = 0
    for d in range(n_docs):
        sents = []
        for _ in range(n_sent[d]):
            j = 3 * s
            sents.append(_LEADS[tpl[s]].format(
                slot(j), slot(j + 1), _FILLER[fill[j + 2]] + " "
                + slot(j + 2)))
            s += 1
        cut = len(sents) // 2 if split[d] else len(sents)
        text = _HEADERS[header[d, 0]] + " " + " ".join(sents[:cut])
        if cut < len(sents):
            text += "\n\n" + _HEADERS[header[d, 1]] + " " \
                + " ".join(sents[cut:])
        docs.append((f"u{d:06d}", [("text", text, None, 0)]))
    return docs


_FIXTURE_VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data",
                  "dup", "fast", "filter", "group", "hash", "join", "key",
                  "line", "merge", "order", "part", "query", "row", "scan",
                  "slow", "small", "sort", "spark", "stream", "table", "the",
                  "value", "vector", "window")


def fixture_corpus(seed: int, n_docs: int) -> list[tuple[str, list]]:
    """Documents over the 31-word vocabulary the builtin fixture
    terminology was written for: 1-3 sentences of 4-12 words each, a
    trailing media span on every third document (the interleaved-table
    shape of ``sources.fixtures.interleave_raw``)."""
    rng = np.random.default_rng([seed, 4])
    n_sent = rng.integers(1, 4, n_docs)
    lens = rng.integers(4, 13, int(n_sent.sum()))
    words = rng.integers(0, len(_FIXTURE_VOCAB), int(lens.sum()))
    docs = []
    w = s = 0
    for d in range(n_docs):
        sents = []
        for _ in range(n_sent[d]):
            ws = [_FIXTURE_VOCAB[x] for x in words[w:w + lens[s]]]
            w += lens[s]
            s += 1
            sents.append(" ".join(ws).capitalize() + ".")
        text = " ".join(sents)
        spans = [("text", text, None, 0)]
        if d % 3 == 0:
            spans.append(("media", None, f"media://f{d}", len(text) + 1))
        docs.append((f"f{d:06d}", spans))
    return docs


_CLIN_HEADERS = ("FINAL DIAGNOSIS:", "GROSS DESCRIPTION:", "MARGIN STATUS:",
                 "CLINICAL HISTORY:", "COMMENT:")
_CLIN_PROSE = (
    "No evidence of {m} was identified. The margins are clear.",
    "Findings are consistent with {m} in the specimen.",
    "The {m} was excised; no residual tumor seen.",
    "Family history of {m} reported by the patient.",
    "Sections show {m} but no evidence of deep margin involvement.",
    "World Health Organization (WHO) criteria applied. WHO grade given.",
    "Ductal carcinoma in situ (DCIS) is present. DCIS extends to {m}.",
    "Possible {m} cannot be excluded.",
    "Severe {m} was noted with mild atypia elsewhere.",
    "Chronic {m} present; transient inflammation resolving.",
    "Intermittent episodes of {m} were reported by the patient.",
    "Newly diagnosed {m}; probable invasion, definite ulceration.",
    "If negative, repeat {m} testing is advised.",
    "There is no {m} and no fish identified.",
)
_CLIN_LINES = (
    "Tumor Size....{k}.5 cm",
    "Margins ( )  involved  (X)  not involved",
    "**NAME[Case-{k}] reviewed by **DATE[Jan {d} 2020] 1200",
    "Specimen {k}:  skin margin, stage iv",
)
_CLIN_SURFACES = ("melanoma", "nasal septum", "FISH", "DCIS", "deep margin",
                  "skin margin", "stage iv", "margins", "churches",
                  "malignant melanoma", "septum of nose", "Protégé software")


def clinical_corpus(seed: int, n_docs: int) -> list[tuple[str, list]]:
    """Structured reports over the pytest terminology, in the style of
    ``sources.fixtures.rich_corpus``: 2-4 sections of 1-4 prose
    sentences (negation, hedging, experiencer, acronym definitions) with
    worksheet and DeID lines, and a media span on a third of them."""
    rng = np.random.default_rng([seed, 5])
    n_sec = rng.integers(2, 5, n_docs)
    tot_sec = int(n_sec.sum())
    hdr = rng.integers(0, len(_CLIN_HEADERS), tot_sec)
    n_body = rng.integers(1, 5, tot_sec)
    tot_body = int(n_body.sum())
    prose = rng.integers(0, len(_CLIN_PROSE), tot_body)
    surf = rng.integers(0, len(_CLIN_SURFACES), tot_body)
    has_line = rng.random(tot_sec) < 0.5
    line = rng.integers(0, len(_CLIN_LINES), tot_sec)
    k = rng.integers(1, 9, tot_sec)
    day = rng.integers(1, 28, tot_sec)
    media = rng.random(n_docs) < 0.3
    docs = []
    sec = body = 0
    for d in range(n_docs):
        parts = []
        for _ in range(n_sec[d]):
            sents = []
            for _ in range(n_body[sec]):
                sents.append(_CLIN_PROSE[prose[body]].format(
                    m=_CLIN_SURFACES[surf[body]]))
                body += 1
            section = f"{_CLIN_HEADERS[hdr[sec]]}  " + " ".join(sents)
            if has_line[sec]:
                section += "\n" + _CLIN_LINES[line[sec]].format(
                    k=k[sec], d=day[sec])
            parts.append(section)
            sec += 1
        text = "\n\n".join(parts)
        spans = [("text", text, None, 0)]
        if media[d]:
            spans.append(("media", None, f"media://c{d}", len(text) + 1))
        docs.append((f"c{d:06d}", spans))
    return docs


def edit_snapshot(docs: list[tuple[str, list]], seed: int,
                  frac: float = 0.1) -> list[tuple[str, list]]:
    """Second snapshot of ``docs``: ``frac`` of the documents touched,
    split evenly between edited (a sentence appended to the first text
    span), deleted, and added (a new id carrying a copy of another
    document's spans)."""
    rng = np.random.default_rng([seed, 6])
    n = len(docs)
    touched = rng.choice(n, max(3, int(n * frac)), replace=False)
    edit, delete, add = np.array_split(touched, 3)
    delete_set = set(int(i) for i in delete)
    edit_set = set(int(i) for i in edit)
    out = []
    for i, (doc_id, spans) in enumerate(docs):
        if i in delete_set:
            continue
        if i in edit_set:
            kind, text, ref, off = spans[0]
            spans = [(kind, text + " Addendum: reviewed again.", ref, off)] \
                + list(spans[1:])
        out.append((doc_id, spans))
    for j, i in enumerate(add):
        out.append((f"{docs[int(i)][0]}-n{j}", list(docs[int(i)][1])))
    return out
