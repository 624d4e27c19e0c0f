"""Terminology index construction — one local assembler.

The reference builds its inverted index row-by-row into JDBM maps
(util/ConceptImporter.java:920-961 — including a hand-rolled external
group-by through temp word files). Here ``build_index`` assembles the
same artifact in one driver-side pass over the concept records:

    term_cuis   = normalized term → CUIs
    word_terms  = word → terms of the same concept containing it
    word_stats  = |word_terms[word]|  (WordStat.termCount,
                  NobleCoderTerminology.java:398-401)

``build_index_df`` feeds it from a concepts DataFrame with one Arrow
collect. The result is pickled into a TerminologyIndex and broadcast;
the annotate stage then runs map-only (zero shuffle) at any corpus
scale. ``terms_df``/``word_stats_df`` keep the normalization and word
statistics available as standalone DataFrame queries.

Scale levers:
- ``compact=True`` — rare-word index (ConceptImporter.compact
  :1363-1443): wordMap lists each term only under its rarest word,
  shrinking the broadcast by ~|words/term|×. Disables ignoreUsedWords
  (NobleCoderTerminology.java:1207-1209).
- blacklist (util/BlacklistHandler.java:16-17,82-106) — caps candidate
  fan-out of the hottest 0.2% words (skew mitigation at search time).
"""

from __future__ import annotations

from collections import defaultdict
from typing import Iterable, Mapping, Sequence

from nobletools_spark.functions.textkit import normalize
from nobletools_spark.model import ConceptMeta, TerminologyIndex

MAX_WORDS_IN_TERM = 10  # NobleCoderTerminology.java:147


def is_regexp(s: str) -> bool:
    """NobleCoderTerminology.isRegExp (:1831-1833)."""
    return bool(s) and len(s) > 1 and s.startswith("/") and s.endswith("/")


def concept_terms(name: str, synonyms: Sequence[str],
                  stem_words: bool = True, strip_digits: bool = False,
                  strip_stop_words: bool = True) -> tuple[set[str], set[str]]:
    """getTerms (NobleCoderTerminology.java:1800-1824): returns
    (normalized_terms, regex_sources). Term storage normalization uses
    unique=True, sort=False (:1820); terms longer than MAX_WORDS_IN_TERM
    (spaces counted on the ORIGINAL string, :1815-1818) are dropped."""
    terms: set[str] = set()
    regexes: set[str] = set()
    seen: dict[str, None] = {}
    seen.setdefault(name)
    for s in synonyms:
        seen.setdefault(s)
    for s in seen:
        if s is None:
            continue
        if is_regexp(s):
            regexes.add(s[1:-1])
        else:
            if s.count(" ") > MAX_WORDS_IN_TERM:
                continue
            t = normalize(s, stem_words, strip_digits, strip_stop_words,
                          unique_words=True, sort_words=False)
            if t:
                terms.add(t)
    return terms, regexes


def _compact_word_terms(term_cuis, word_term_count):
    """Rare-word compaction (ConceptImporter.java:1363-1443): keep each
    term only under its rarest word — getRarestWord (:1258-1270) uses
    strict <, so ties keep the FIRST word in term order. Post-compact
    counts are recomputed per surviving word (saveWordTerms re-run
    :1420); words no longer hosting any term keep their stale
    pre-compact counts, exactly like the reference's un-backed-up
    wordStatMap."""
    compacted: dict[str, set[str]] = defaultdict(set)
    for term in term_cuis:
        rarest, best_n = None, float("inf")
        for w in term.split(" "):
            n = word_term_count.get(w, float("inf"))
            if n < best_n:
                rarest, best_n = w, n
        compacted[rarest].add(term)
    counts = dict(word_term_count)
    counts.update({w: len(ts) for w, ts in compacted.items()})
    return compacted, counts


def build_index(concepts: Iterable[ConceptMeta | Mapping],
                compact: bool = False,
                blacklist: bool = False) -> TerminologyIndex:
    """Local (driver-side) index build — terminologies are small relative
    to the corpus; ``build_index_df`` collects into this too."""
    metas: dict[str, ConceptMeta] = {}
    term_cuis: dict[str, set[str]] = defaultdict(set)
    regex_terms: list[tuple[str, str]] = []
    word_terms: dict[str, set[str]] = defaultdict(set)
    for c in concepts:
        if isinstance(c, Mapping):
            c = ConceptMeta(
                cui=c["cui"], name=c["name"],
                synonyms=tuple(c.get("synonyms", ()) or ()),
                semtypes=tuple(c.get("semtypes", ()) or ()),
                sources=tuple(c.get("sources", ()) or ()),
                codes=tuple((s, k) for s, k in (c.get("codes", ()) or ())),
            )
        metas[c.cui] = c
        terms, regexes = concept_terms(c.name, c.synonyms)
        for t in terms:
            term_cuis[t].add(c.cui)
        for r in regexes:
            # raw source kept for the final deterministic sort
            regex_terms.append((r, c.cui))
        # wordMap per addConcept (NobleCoderTerminology.java:1080-1085 →
        # ConceptImporter.saveWordTerms :1299-1355): for each WORD of a
        # normal term, attach every of the CONCEPT's terms containing the
        # word as a SUBSTRING (filterTerms :1348-1355) — including the
        # raw '/regex/' strings. Regex pseudo-terms in the word map never
        # produce results (no termMap entry) but they count toward word
        # stats and the rarest-first sweep order, and in partial mode
        # they participate in used-word marking — all reference-visible.
        concept_all_terms = set(terms) | {f"/{r}/" for r in regexes}
        for t in terms:
            for w in t.split(" "):
                word_terms[w].update(
                    x for x in concept_all_terms if w in x)

    word_term_count = {w: len(ts) for w, ts in word_terms.items()}

    if compact:
        word_terms, word_term_count = _compact_word_terms(
            term_cuis, word_term_count)

    idx = TerminologyIndex(
        word_terms={w: tuple(sorted(ts)) for w, ts in word_terms.items()},
        term_cuis={t: tuple(sorted(cs)) for t, cs in term_cuis.items()},
        word_term_count=word_term_count,
        concepts=metas,
        # sorted by (source, cui) — concept_terms hands back a SET, and
        # _search_regexp is order-sensitive (later pattern wins on equal
        # spans), so hash-seed iteration order would make matcher output
        # vary run to run
        regex_terms=tuple((r"\b(" + r + r")\b", cui)
                          for r, cui in sorted(regex_terms)),
        compacted=compact,
        code_map=build_code_map(metas),
    )
    if blacklist:
        idx.blacklist = build_blacklist(idx)
    return idx


def build_code_map(metas: dict[str, ConceptMeta]) -> dict[str, str]:
    """code -> CUI, first-wins per concept insertion order (addConcept
    NobleCoderTerminology.java:1092-1095: codes of later concepts do not
    overwrite)."""
    code_map: dict[str, str] = {}
    for cui, meta in metas.items():
        for _src, code in meta.codes:
            if code and code not in code_map:
                code_map[code] = cui
    return code_map


def build_blacklist(idx: TerminologyIndex,
                    min_term_count: int = 100,
                    cutoff: float = 0.002,
                    top_cutoff: float = 0.1) -> dict[str, tuple[str, ...]]:
    """BlacklistHandler (util/BlacklistHandler.java:16-17,36-106): for the
    hottest words, restrict candidate terms to those fully covered by hot
    words — bounds per-word probe fan-out (search-time skew mitigation)."""
    stats = idx.word_term_count
    hot = [w for w, n in stats.items() if n > min_term_count]
    # termCount desc, tie reverse-lexicographic (BlacklistHandler.java:40-43)
    hot.sort(key=lambda w: w, reverse=True)
    hot.sort(key=lambda w: stats[w], reverse=True)
    top = hot[: int(len(stats) * cutoff)]
    ttop = set(top[: int(len(top) * top_cutoff)])
    top_set = set(top)
    out: dict[str, tuple[str, ...]] = {}
    for word in top:
        allowed = ttop if word in ttop else top_set
        terms = tuple(t for t in idx.word_terms.get(word, ())
                      if all(w in allowed for w in t.split(" ")))
        out[word] = terms
    return out


def terms_df(spark, concepts_df):
    """(cui, term) normalized-term DataFrame — the index's term
    normalization as a standalone query (word stats, blacklist)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nobletools_spark.session import ship_package

    ship_package(spark)

    def _norm_terms(names, syns):
        out = []
        for name, syn in zip(names, syns):
            terms, _ = concept_terms(name, list(syn) if syn is not None else [])
            out.append(sorted(terms))
        return pd.Series(out)

    norm_terms = F.pandas_udf(_norm_terms, T.ArrayType(T.StringType()))

    return (concepts_df
            .select("cui", F.explode(norm_terms("name", "synonyms")).alias("term"))
            .distinct())


def word_stats_df(terms):
    """Word statistics as a DataFrame aggregation: (word, term_count)
    with the reference's filterTerms SUBSTRING quirk
    (WordStat.termCount, NobleCoderTerminology.java:398-401;
    ConceptImporter.saveWordTerms/filterTerms :1299-1355): a word —
    token of some term of a concept — counts every distinct term of
    the SAME concept that contains it as a substring ('ran' counts
    'grand'), matching build_index's word_term_count
    (regex pseudo-terms excepted: they live only in the matcher
    index). Tokenize + cui-keyed contains-join + groupBy — all
    terminology-sized shuffles with map-side partials."""
    from pyspark.sql import functions as F

    words = (terms
             .select("cui", F.explode(F.split("term", " ")).alias("word"))
             .distinct())
    pairs = (words.join(terms, "cui")
             .filter(F.expr("contains(term, word)"))
             .select("word", "term").distinct())
    return (pairs
            .groupBy("word")
            .agg(F.count_distinct("term").cast("long").alias("term_count")))


def build_index_df(spark, concepts_df, compact: bool = False,
                   blacklist: bool = False) -> TerminologyIndex:
    """Index build from a concepts DataFrame: ONE Arrow collect of the
    terminology table, then the local assembler ``build_index``.

    ``concepts_df`` schema: (cui string, name string,
    synonyms array<string>, semtypes array<string>, sources array<string>
    [, codes array<struct<sab, code>>]).

    The terminology is small next to the corpus and the index is built
    once, so running normalization in Python workers only adds UDF
    transport. Rows are sorted by cui: dict insertion order feeds the
    first-wins code_map, and a bare collect order varies with file
    splits/AQE — the local build keeps caller insertion order (the
    reference's addConcept order), this build pins a deterministic one.
    ``spark`` is unused; it stays for the callers' signature.
    """
    cols = [c for c in ("cui", "name", "synonyms", "semtypes", "sources",
                        "codes") if c in concepts_df.columns]
    rows = concepts_df.select(*cols).toArrow().to_pylist()
    for r in rows:
        # Arrow hands structs back as {"sab", "code"} dicts — unpacking a
        # dict as a pair would yield its KEYS
        r["codes"] = [(c["sab"], c["code"]) for c in r.get("codes") or ()]
    rows.sort(key=lambda r: r["cui"])
    return build_index(rows, compact=compact, blacklist=blacklist)


def terminology_diff(old_df, new_df):
    """Release-to-release terminology diff: one row per (cui, change)
    across two concept snapshots (the ``concepts_df_from_records``
    schema), change ∈ {'added', 'removed', 'renamed',
    'synonyms_changed', 'semtypes_changed'} — what a UMLS/NCIt update
    actually did, and the input to deciding which KG edges need
    re-materialization (see ``operators/triples.stale_triples``). A
    renamed concept can also report synonym/semtype changes
    (independent facts, one row each).
    Columns: (cui, change, old_name, new_name).

    Plan shape: ONE full-outer join on cui (both sides
    terminology-sized), all five change classes computed as flags in a
    single projection and exploded — the join executes once.
    Presence is tracked by per-side markers (not name nullability) and
    the field comparisons are null-safe, so NULL names/arrays diff
    correctly."""
    from pyspark.sql import functions as F

    o = old_df.select(
        F.col("cui"), F.lit(True).alias("in_old"),
        F.col("name").alias("old_name"),
        F.array_sort("synonyms").alias("old_syn"),
        F.array_sort("semtypes").alias("old_sty"))
    n = new_df.select(
        F.col("cui"), F.lit(True).alias("in_new"),
        F.col("name").alias("new_name"),
        F.array_sort("synonyms").alias("new_syn"),
        F.array_sort("semtypes").alias("new_sty"))
    j = o.join(n, "cui", "full")
    in_old = F.coalesce(F.col("in_old"), F.lit(False))
    in_new = F.coalesce(F.col("in_new"), F.lit(False))
    both = in_old & in_new
    changes = F.filter(F.array(
        F.when(~in_old & in_new, F.lit("added")),
        F.when(in_old & ~in_new, F.lit("removed")),
        F.when(both & ~F.col("old_name").eqNullSafe(F.col("new_name")),
               F.lit("renamed")),
        F.when(both & ~F.col("old_syn").eqNullSafe(F.col("new_syn")),
               F.lit("synonyms_changed")),
        F.when(both & ~F.col("old_sty").eqNullSafe(F.col("new_sty")),
               F.lit("semtypes_changed")),
    ), lambda x: x.isNotNull())
    return (j.select("cui", F.explode(changes).alias("change"),
                     "old_name", "new_name"))
