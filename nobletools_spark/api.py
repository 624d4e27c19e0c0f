"""Public facade — the Terminology-interface surface of the reference
(terminology/Terminology.java:18-185: search / lookupConcept /
getRelatedConcepts / filters) re-expressed over the Spark engine.

`NobleCoderSpark` bundles a broadcastable index + match config +
optional ConText lexicon. Corpus-scale work goes through
``annotate(docs_df)``; ``search(text)`` is the driver-side ad-hoc probe
(NobleCoderTerminology.search :1297-1334) — it runs the same matcher
kernel locally against the broadcast artifact, no cluster roundtrip.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from nobletools_spark.model import ConceptMeta, MatchConfig, TerminologyIndex
from nobletools_spark.operators import match_core


@dataclass
class RankedConcept:
    """search() result row — concept with merged matched terms and
    annotations, ranked by score (search comparator :1298-1307)."""

    cui: str
    name: str
    score: float
    matched_terms: tuple[str, ...]
    annotations: tuple[tuple[str, int], ...]
    semtypes: tuple[str, ...]
    sources: tuple[str, ...]


def _defs_from_records(concepts) -> dict[str, str]:
    """{cui: definition} from loader records (dicts or ConceptMeta-like;
    the latter carry no definitions and contribute nothing)."""
    out: dict[str, str] = {}
    for c in concepts:
        get = c.get if isinstance(c, dict) else lambda k, _c=c: getattr(
            _c, k, None)
        d = get("definition")
        if d:
            out[str(get("cui"))] = str(d)
    return out


def _index_from_records(concepts) -> TerminologyIndex:
    """Index over parsed loader records in CUI order — the order
    ``build_index_df`` pins, so code_map's first-wins choice does not
    depend on which loader built the index."""
    from nobletools_spark.index import build_index

    return build_index(sorted(concepts, key=lambda c: c["cui"]))


class NobleCoderSpark:
    def __init__(self, index: TerminologyIndex,
                 cfg: MatchConfig = MatchConfig(), context=None):
        self.index = index
        self.cfg = cfg
        self.context = context
        # driver-side {cui: definition} sidecar — ConceptMeta is the
        # matcher's broadcast payload and deliberately carries no
        # definitions; loaders stash them here so load → export round
        # trips (export_terminology) don't silently drop Definition /
        # MRDEF content. RRF loads leave this empty and merge from
        # tables["definitions"] lazily at export.
        self.definitions: dict[str, str] = {}

    # ------------------------------------------------------------------
    # constructors (Terminology loading surface)
    # ------------------------------------------------------------------

    @classmethod
    def from_concepts(cls, concepts, **kw) -> "NobleCoderSpark":
        from nobletools_spark.index import build_index

        concepts = list(concepts)
        inst = cls(build_index(concepts), **kw)
        inst.definitions = _defs_from_records(concepts)
        return inst

    @classmethod
    def from_rrf(cls, spark, rrf_dir: str, cfg: MatchConfig = MatchConfig(),
                 context=None, **filters) -> "NobleCoderSpark":
        from nobletools_spark.index import build_index_df
        from nobletools_spark.sources.rrf import concepts_for_index, load_rrf

        tables = load_rrf(spark, rrf_dir, **filters)
        idx = build_index_df(spark, concepts_for_index(tables))
        inst = cls(idx, cfg, context)
        inst.tables = tables
        return inst

    @classmethod
    def from_obo(cls, spark, obo_text: str, cfg: MatchConfig = MatchConfig(),
                 context=None) -> "NobleCoderSpark":
        from nobletools_spark.sources.obo import parse_obo

        concepts, edges = parse_obo(obo_text)
        idx = _index_from_records(concepts)
        inst = cls(idx, cfg, context)
        inst.isa_edges = tuple(edges)
        inst.definitions = _defs_from_records(concepts)
        return inst

    @classmethod
    def from_owl(cls, spark, owl_xml: str, cfg: MatchConfig = MatchConfig(),
                 context=None, imports: object = "error",
                 union_children: bool = False) -> "NobleCoderSpark":
        """Terminology from an RDF/XML OWL ontology
        (ConceptImporter.loadOntology parity, sources/owl.py).

        ``imports`` is passed through to ``parse_owl``: ``"error"``
        (default, loud on unresolved ``owl:imports``), ``"ignore"``
        (partial hierarchy with a warning), or a ``{iri: xml_text}``
        resolver dict for offline modular ontologies.
        ``union_children=True`` opts into the semantic ``A ≡ B ∪ C``
        member edges the reference's structural reasoner omits."""
        from nobletools_spark.sources.owl import parse_owl

        concepts, edges = parse_owl(owl_xml, imports=imports,
                                    union_children=union_children)
        idx = _index_from_records(concepts)
        inst = cls(idx, cfg, context)
        inst.isa_edges = tuple(edges)
        inst.definitions = _defs_from_records(concepts)
        return inst

    @classmethod
    def from_term_xml(cls, spark, xml_text: str,
                      cfg: MatchConfig = MatchConfig(),
                      context=None) -> "NobleCoderSpark":
        """Terminology from the reference's own XML serialization
        (NobleCoderTerminology.fromElement:2173-2217). The document's
        ``<Options>`` block is applied over ``cfg`` exactly as the
        reference's setSearchProperties would (only the user-settable
        keys; see ``match_config_from_properties``)."""
        import xml.etree.ElementTree as ET

        from nobletools_spark.sources.termxml import (
            match_config_from_properties, parse_term_xml, term_xml_options)

        root = ET.fromstring(xml_text)  # parse once, feed both readers
        concepts, edges = parse_term_xml(root)
        cfg = match_config_from_properties(term_xml_options(root), cfg)
        idx = _index_from_records(concepts)
        inst = cls(idx, cfg, context)
        inst.isa_edges = tuple(edges)
        inst.definitions = _defs_from_records(concepts)
        return inst

    @classmethod
    def from_remote(cls, spark, remote, cfg: MatchConfig = MatchConfig(),
                    context=None, max_concepts: int | None = None
                    ) -> "NobleCoderSpark":
        """Terminology snapshot from a ``RemoteTerminology`` client
        (sources/remote.py; reference: terminology/impl/
        RemoteTerminology.java:24, BioPortalTerminology.java:41).

        The remote terminology is paged down ONCE (``fetch_all``) and
        materialized into the same broadcastable ``TerminologyIndex``
        every local loader builds — per-mention network lookups inside
        executors would be the 100 TB anti-pattern (docs × RPC latency
        against a non-reproducible moving target)."""
        concepts, edges = remote.fetch_all(max_concepts=max_concepts)
        idx = _index_from_records(concepts)
        inst = cls(idx, cfg, context)
        inst.isa_edges = tuple(edges)
        inst.definitions = _defs_from_records(concepts)
        return inst

    # ------------------------------------------------------------------
    # corpus path
    # ------------------------------------------------------------------

    def _bc_index(self, spark):
        """One broadcast of the terminology index per facade instance
        per SparkContext: repeated annotate/build_kg/extract calls must
        not re-pickle and re-ship a multi-GB index each time. Mutating
        ``self.index`` in place voids this (build a new facade — the
        loaders' convention)."""
        sc = spark.sparkContext
        cached = getattr(self, "_bc", None)
        if cached is not None and cached[0] is sc:
            return cached[1]
        bc = sc.broadcast(self.index)
        self._bc = (sc, bc)
        return bc

    def annotate(self, docs_df, **kw):
        from nobletools_spark.operators.matcher import annotate

        return annotate(docs_df, self._bc_index(docs_df.sparkSession),
                        self.cfg, context=self.context, **kw)

    def annotate_incremental(self, new_docs, old_fp, old_mentions, **kw):
        """Snapshot-to-snapshot mention maintenance: only
        fingerprint-changed/new docs go through the matcher; unchanged
        docs carry their ``old_mentions`` rows forward; deleted docs
        drop out. Equivalent to ``annotate(new_docs)`` as a row
        multiset (operators/incremental.py). ``old_fp`` is the
        ``doc_fingerprints`` table persisted by the previous run."""
        from nobletools_spark.operators.incremental import (
            incremental_mentions,
        )

        return incremental_mentions(
            new_docs, old_fp, old_mentions,
            lambda d: self.annotate(d, **kw))

    def build_kg(self, docs_df, isa_edges=None, semtypes=None,
                 synonym_edges=None, salt_buckets: int = 8,
                 asserted: bool = False, cache: bool = True):
        """One-call KG construction for notebook / ad-hoc use:
        annotate → [assertion gate] → mention + co-occurrence triples
        [+ isa closure] [+ semantic types] [+ CUI canonicalization] as
        a single (subj, pred, obj) DataFrame — the same composition
        the resumable pipeline materializes stage-by-stage
        (``plans/pipeline.kg_stages``; use that + ``Pipeline`` for
        checkpointed production runs). ONE matcher pass: the (doc,
        cui) projection is persisted and shared by both corpus-scale
        emitters (the lift_triples convention), and the mention leg
        reads it directly — no second distinct. ``cache=False`` skips
        the session-lifetime persist (the cooccurrence_triples
        lifecycle convention for unbounded repeat callers)."""
        from nobletools_spark.operators.triples import (
            asserted_mentions,
            cooccurrence_triples,
            isa_closure_triples,
            semtype_triples,
        )

        if asserted and self.context is None:
            raise ValueError("asserted=True requires a ConText index "
                             "(the gate reads the modifiers map)")
        from pyspark.sql import functions as F

        m = self.annotate(docs_df)
        if asserted:
            m = asserted_mentions(m)
        dc = m.select("doc_id", "cui").distinct()
        if cache:
            dc = dc.persist()
        # dc is already the distinct (doc, cui) set — the mention leg
        # is a pure projection of it (mention_triples' own distinct
        # would re-shuffle the whole table for nothing)
        t = dc.select(F.col("doc_id").alias("subj"),
                      F.lit("mentions-concept").alias("pred"),
                      F.col("cui").alias("obj"))
        t = t.unionByName(
            cooccurrence_triples(dc, salt_buckets, assume_distinct=True)
            .select("subj", "pred", "obj"))
        if isa_edges is not None:
            t = t.unionByName(
                isa_closure_triples(isa_edges)
                .select("subj", "pred", "obj"))
        if semtypes is not None:
            t = t.unionByName(
                semtype_triples(semtypes).select("subj", "pred", "obj"))
        if synonym_edges is not None:
            from nobletools_spark.operators.canonical import (
                canonical_map,
                canonicalize_kg,
            )

            # predicate-aware: doc-subject rows fold obj only, cui-cui
            # rows fold BOTH ends with pair re-orientation + tautology
            # drop — a blanket obj-only rewrite left alias subjects
            # un-folded and minted self-edges kg_integrity rejects
            t = canonicalize_kg(t, canonical_map(synonym_edges))
        return t

    def build_property_graph(self, docs_df, semtypes_df=None,
                             names_df=None, salt_buckets: int = 8,
                             asserted: bool = False,
                             cache: bool = True):
        """One-call (vertices, edges) property-graph pair: annotate →
        [assertion gate] → ``operators/triples.property_graph`` (id /
        src / dst / relationship / weight — the GraphFrames hand-off
        schema). Shares one matcher pass and one pair table across
        both sides."""
        from nobletools_spark.operators.triples import (
            asserted_mentions,
            property_graph,
        )

        if asserted and self.context is None:
            raise ValueError("asserted=True requires a ConText index "
                             "(the gate reads the modifiers map)")
        m = self.annotate(docs_df)
        if asserted:
            m = asserted_mentions(m)
        return property_graph(m, semtypes_df, names_df, salt_buckets,
                              cache=cache)

    def extract(self, docs_df, templates_df, sections_df=None,
                components_df=None, **kw):
        """Template-based information extraction (InformationExtractor
        flow: annotate → TemplateItem.process per template item): emits
        ItemInstance rows via operators/templates.extract_items using
        this terminology's isa edges for the ancestry gate — the
        OBO/OWL loaders' ``isa_edges`` tuple when set, else the RRF
        loader's BROADER edge table (``tables['relations']``)."""
        from nobletools_spark.operators.templates import extract_items

        from nobletools_spark.session import local_table

        if getattr(self, "isa_edges", ()):
            edges = local_table(docs_df.sparkSession,
                                list(self.isa_edges),
                                "cui string, parent string")
        elif getattr(self, "tables", None) is not None \
                and "relations" in self.tables:
            edges = self.tables["relations"].select("cui", "parent")
        else:
            edges = local_table(docs_df.sparkSession, [],
                                "cui string, parent string")
        return extract_items(self.annotate(docs_df, **kw), edges,
                             templates_df, sections_df=sections_df,
                             components_df=components_df)

    def _hierarchy_edges(self) -> list[tuple[str, str]]:
        """(child, parent) isa edges for driver-side consumers — the
        loaders' ``isa_edges`` tuple when set (OBO/OWL/term-XML), else
        the RRF BROADER relation table (terminology-sized driver pull,
        the same bound every exporter shares). ONE definition so
        export_terminology and terminology_template cannot drift."""
        if getattr(self, "isa_edges", ()):
            return list(self.isa_edges)
        if getattr(self, "tables", None) is not None \
                and "relations" in self.tables:
            return [(r[0], r[1]) for r in
                    self.tables["relations"].select("cui", "parent")
                    .collect()]
        return []

    def _definitions_by_cui(self) -> dict[str, str]:
        """{cui: definition} for driver-side export — the loaders'
        stashed sidecar when set (OBO/OWL/term-XML/remote/records),
        else the RRF MRDEF table (terminology-sized driver pull, the
        same bound every exporter shares; first definition per CUI by
        (sab, definition) order — deterministic across partitionings).
        Cached after the first RRF pull."""
        if getattr(self, "definitions", None):
            return self.definitions
        if getattr(self, "tables", None) is not None \
                and "definitions" in self.tables:
            rows = (self.tables["definitions"]
                    .select("cui", "sab", "definition")
                    .filter("definition IS NOT NULL")
                    .collect())
            out: dict[str, str] = {}
            for r in sorted(rows, key=lambda r: (r[0], r[1] or "", r[2])):
                out.setdefault(r[0], r[2])
            self.definitions = out
            return out
        return {}

    def _stored_roots_grafted(self, concepts: list[dict]) -> \
            "list[str] | None":
        """Stored SRC V-* root cuis (the reference's getRootConcepts for
        an RRF terminology, TemplateFactory.java:137) with their names
        grafted into ``concepts`` as bare records — root SRC atoms are
        absent from the searchable concept table, so downstream labels
        and exports need the graft. Returns None when no roots table is
        stored (callers fall back to parentless-CUI roots)."""
        if getattr(self, "tables", None) is None \
                or "roots" not in self.tables:
            return None
        has_name = "name" in self.tables["roots"].columns
        rrows = self.tables["roots"].collect()
        known = {c["cui"] for c in concepts}
        # full-shape records: downstream consumers that index strictly
        # (concepts_df_from_records → RRF/ORF export) must not KeyError
        # on a grafted root
        concepts += [{"cui": r["cui"], "name": r["name"],
                      "synonyms": (r["name"],), "semtypes": (),
                      "sources": ("SRC",), "definition": None,
                      "codes": ()}
                     for r in rrows
                     if has_name and r["cui"] not in known and r["name"]]
        return [r["cui"] for r in rrows]

    def terminology_template(self, spark, name: str = "terminology"):
        """TemplateFactory.importTemplates over an existing terminology
        (extract/model/TemplateFactory.java:102-121 →
        importTerminologyTemplate :127-166): every root concept of THIS
        terminology becomes a finding/SELF template item, plus the
        BACKGROUND mask filter the reference always attaches — but
        never applies (the filter-apply calls and
        ``getFilteredDocument()`` are commented out in the reference;
        see ``template_from_terminology``'s NOTE).

        Returns ``(templates_df, mask_filters, item_types)``; for
        reference parity run ``extract(docs, templates_df)`` directly.
        Applying ``mask_documents(docs, pattern, invert)`` first is an
        opt-in deviation that blanks BACKGROUND sections."""
        from nobletools_spark.operators.templates import (
            TEMPLATES_DDL,
            template_from_terminology,
        )

        from nobletools_spark.session import local_table

        concepts = [{"cui": c.cui, "name": c.name}
                    for c in self.index.concepts.values()]
        edges = self._hierarchy_edges()
        # the reference enumerates getRootConcepts() — for an RRF
        # terminology that is the stored SRC V-* root table, not every
        # parentless CUI (TemplateFactory.java:137)
        roots = self._stored_roots_grafted(concepts)
        rows, masks, types = template_from_terminology(concepts, edges, name,
                                                       roots=roots)
        return local_table(spark, rows, TEMPLATES_DDL), masks, types

    def extract_from_xml(self, docs_df, template_xml: str,
                         sections_df=None, **kw):
        """extract() driven by a reference ``.template`` XML file
        (Template.fromElement :228-274) — items, section filters, and
        attribute/modifier/unit components parsed by
        templates_from_xml."""
        from nobletools_spark.operators.templates import (
            COMPONENTS_DDL,
            TEMPLATES_DDL,
            templates_from_xml,
        )

        from nobletools_spark.session import local_table

        spark = docs_df.sparkSession
        t_rows, c_rows = templates_from_xml(template_xml)
        templates_df = local_table(spark, t_rows, TEMPLATES_DDL)
        components_df = (local_table(spark, c_rows, COMPONENTS_DDL)
                         if c_rows else None)
        return self.extract(docs_df, templates_df, sections_df=sections_df,
                            components_df=components_df, **kw)

    def extract_matrix(self, docs_df, template):
        """The FAITHFUL extractor (operators/extract_kernel): one
        result-matrix row per document, cell-for-cell equal to the
        reference's InformationExtractor + CSVExporter (11th Java
        parity leg, P=R=1.0) — section sentence ranges, the Feature
        second pass, per-annotation value parsing, findConcept
        component re-matching included. ``template`` is a TemplateSpec
        or a ``.template`` XML string. Map-only mapInPandas, zero
        shuffle; prefer ``extract()`` when the DuckDB-oracle-checked
        declarative subset suffices. Uses the kernel's own coder config
        (selectBestCandidate OFF, as the reference's extractor does),
        not this instance's batch-coding config."""
        from nobletools_spark.operators.extract_kernel import extract_matrix

        return extract_matrix(docs_df, self.index, template,
                              context=self.context)

    def extract_report(self, docs_df, template):
        """Per-document Information Extraction HTML report pages
        (HTMLExporter.export(TemplateDocument) :518-586 — coded report
        pane + the template cap-protocol table; 20th Java parity leg,
        P=R=1.0): (doc_id, html). Same map-only shape as
        ``extract_matrix``."""
        from nobletools_spark.operators.extract_kernel import extract_html

        return extract_html(docs_df, self.index, template,
                            context=self.context)

    # ------------------------------------------------------------------
    # ad-hoc probes (driver-side, no cluster)
    # ------------------------------------------------------------------

    def search(self, text: str, method: str | None = None) -> list[RankedConcept]:
        """Ranked concepts for a free-text query: run the matcher, merge
        mentions per concept — the FIRST mention's score is the
        concept's score (later same-code duplicates only merge matched
        terms and annotations, search(String,String) :1321-1329) — and
        order by the reference comparator: 0.001-bucketed score desc,
        then code DESC (:1299-1306). Documented deviation: same-code
        merging here is exact (a dict); the reference's TreeMap
        navigates its broken comparator BY SCORE while testing equality
        BY CODE, so a same-code mention at a different score can
        land as a duplicate entry depending on tree shape — an
        unreproducible red-black-tree artifact, not a contract."""
        cfg = self.cfg if method is None else replace(self.cfg,
                                                     search_method=method)
        mentions = match_core.match_sentence(text, self.index, cfg)
        merged: dict[str, dict] = {}
        for m in mentions:
            e = merged.setdefault(m.cui, {
                "score": m.score, "terms": [], "anns": []})
            if m.matched_term not in e["terms"]:
                e["terms"].append(m.matched_term)
            e["anns"].extend(m.annotations)
        out = []
        for cui, e in merged.items():
            meta = self.lookup_concept(cui) or ConceptMeta(cui, cui, (), (), ())
            out.append(RankedConcept(
                cui=cui, name=meta.name, score=e["score"],
                matched_terms=tuple(e["terms"]),
                annotations=tuple(sorted(set(e["anns"]), key=lambda a: a[1])),
                semtypes=meta.semtypes, sources=meta.sources))
        # int(1000*(s2-s1)) bucket: ties inside 0.001 order by code desc
        out.sort(key=lambda c: c.cui, reverse=True)
        out.sort(key=lambda c: int(1000 * c.score), reverse=True)
        return out

    def lookup_concept(self, cui: str) -> ConceptMeta | None:
        """lookupConcept (:1901-1913): concept map first, then the
        any-code codeMap fallback — an NCIt/SNOMED/alternate source code
        resolves to its CUI's concept."""
        return self.index.lookup_by_code(cui)

    def get_concepts(self) -> dict[str, ConceptMeta]:
        return self.index.concepts

    def set_filters(self, sources: tuple[str, ...] = (),
                    semtypes: tuple[str, ...] = ()) -> None:
        """setSourceFilter / setSemanticTypeFilter equivalents."""
        self.cfg = replace(self.cfg, source_filter=tuple(sources),
                           semtype_filter=tuple(semtypes))

    def export_terminology(self, path: str, format: str = "owl",
                           roots=(), semtypes=(), depth: int | None = None,
                           spark=None, **kw) -> None:
        """Export the loaded terminology (optionally one branch of it) —
        the TerminologyExporter workflow (ui/TerminologyExporter.java:
        743-845) over this facade's index: OWL (single RDF/XML file),
        the reference's own XML serialization
        (NobleCoderTerminology.toElement:2155-2167), or RRF / ORF
        directories (util/ConceptExporter.java:66-238).

        ``roots`` / ``semtypes`` / ``depth`` select a branch via
        ``select_branch`` (subtree-pruning semantic-type filter,
        bounded recursion); with none given the whole terminology is
        exported. isa edges come from the loaders' ``isa_edges``
        attribute (OBO/OWL/term-XML constructors set it), else the RRF
        loader's BROADER edge table (``tables['relations']`` — the same
        fallback ``extract`` uses). RRF/ORF are distributed writes and
        need a SparkSession (``spark=`` or the active one)."""
        from nobletools_spark.sources.sinks import (
            default_roots, export_orf, export_rrf, select_branch, write_owl)

        concepts = [c._asdict() for c in self.index.concepts.values()]
        # re-attach definitions: ConceptMeta (the broadcast payload)
        # deliberately drops them, but every sink supports them —
        # without this merge a load -> export round trip silently
        # loses Definition / MRDEF content
        defs = self._definitions_by_cui()
        for c in concepts:
            d = defs.get(c["cui"])
            if d is not None:
                c["definition"] = d
        edges = self._hierarchy_edges()
        if roots or semtypes or depth is not None:
            if not roots:
                # branch export without explicit roots starts from the
                # terminology's actual roots: the stored SRC V-* root
                # table for RRF loads (the reference's
                # getRootConcepts), else every parentless node. With a
                # semantic-type filter the SRC roots would be pruned
                # immediately (SRC atoms carry no MRSTY rows and
                # select_branch prunes whole subtrees at non-matching
                # nodes), silently emptying the export — so semtype-
                # filtered exports keep the parentless-node default.
                roots = ((not semtypes
                          and self._stored_roots_grafted(concepts))
                         or default_roots(concepts, edges))
            concepts, edges = select_branch(concepts, edges, roots,
                                            semtypes=semtypes, depth=depth)
        if format == "owl":
            write_owl(concepts, path, isa_edges=edges, **kw)
            return
        if format == "xml":
            from nobletools_spark.sources.termxml import (
                match_config_to_properties, write_term_xml)
            kw.setdefault("options", match_config_to_properties(self.cfg))
            write_term_xml(concepts, path, isa_edges=edges, **kw)
            return
        if format not in ("rrf", "orf"):
            raise ValueError(f"unknown export format: {format!r}")
        from pyspark.sql import SparkSession

        from nobletools_spark.sources.obo import concepts_df_from_records

        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("rrf/orf export needs a SparkSession")
        df = concepts_df_from_records(spark, concepts)
        (export_rrf if format == "rrf" else export_orf)(df, path, **kw)
