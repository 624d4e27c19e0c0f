"""OWL (RDF/XML) ontology terminology loader (reference:
ConceptImporter.loadOntology util/ConceptImporter.java:311-413 over
ontology/owl/OOntology.java; per-class concept derivation:
terminology/Concept.java:325-400 Concept(IResource), pretty-naming:
ontology/OntologyUtils.toPrettyName:166-193).

Like the OBO/tab-text loaders, terminologies are tiny relative to the
corpus, so parsing is driver-side (stdlib ElementTree — no OWL-API) and
emits concept dicts in build_index_df's input schema plus isa edges
(direct rdfs:subClassOf, the Relation.BROADER edges the reference adds
at ConceptImporter.java:375-377) for the closure operator.

Reference semantics reproduced:
- code = the class's local name (URI fragment after '#', else last path
  segment) — Concept.java:334 (``this.code = cls.getName()``).
- name = first rdfs:label if present, else the prettified local name
  (camelCase split + underscores→spaces); a ``pref*(term|label)``
  annotation property overrides it (Concept.java:342-348,373-374).
- synonyms = all rdfs:labels plus values of annotation properties whose
  name matches ``(?i).*(abbr|synonym|term|variant|label|name|regex|
  misspell).*`` unless it starts with 'legacy' (Concept.java:375-380);
  ``*regex*`` property values are wrapped ``/…/`` (:363-371) so the
  index routes them to the regex matcher.
- semantic types from ``Sem(antic)?_?Type`` properties (:359-362).
- definitions from ``*(definition|description)`` properties (:382-386).
- alternate codes from ``*(cui|code|id)`` properties (:387-398), kept
  as (source, code) pairs for the codeMap lookup.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

RDF = "{http://www.w3.org/1999/02/22-rdf-syntax-ns#}"
RDFS = "{http://www.w3.org/2000/01/rdf-schema#}"
OWL = "{http://www.w3.org/2002/07/owl#}"

_PREF_RE = re.compile(r"(?i)pref.*(term|label).*")
_SYN_RE = re.compile(r"(?i).*(abbr|synonym|term|variant|label|name|regex"
                     r"|misspell).*")
_REGEX_RE = re.compile(r"(?i).*(regex).*")
_SEMTYPE_RE = re.compile(r"(?i)Sem(antic)?_?Type")
_DEF_RE = re.compile(r"(?i).*(definition|description)")
_CODE_RE = re.compile(r"(?i).*(cui|code|id)")
_CAMEL_RE = re.compile(r"([a-z]+)([A-Z][a-z]+)")


def local_name(uri: str) -> str:
    """Class local name — OClass.getName: fragment after '#', else the
    last path segment."""
    if "#" in uri:
        return uri.rsplit("#", 1)[1]
    return uri.rstrip("/").rsplit("/", 1)[-1]


def pretty_name(resource_name: str) -> str:
    """OntologyUtils.toPrettyName:166-193 — fragment after '#', strip
    'prefix:', last '/' segment, split camelCase, underscores→spaces."""
    i = resource_name.rfind("#")
    if i > -1:
        resource_name = resource_name[i + 1:]
    i = resource_name.find(":")
    if i > -1:
        resource_name = resource_name[i + 1:]
    i = resource_name.rfind("/")
    if i > -1:
        resource_name = resource_name[i + 1:]
    resource_name = _CAMEL_RE.sub(r"\1 \2", resource_name)
    return resource_name.replace("_", " ")


def tag_is_code(tag: str) -> bool:
    """True iff ``parse_owl``'s property dispatch would classify ``tag``
    as an alternate-code property — i.e. the ``_CODE_RE`` arm wins, net
    of every arm tried before it (semtype/regex/pref/synonym/definition).
    The exporter's ``_prop_tag`` uses this so emitted code properties
    provably round-trip as codes."""
    return bool(
        _CODE_RE.fullmatch(tag)
        and not _SEMTYPE_RE.fullmatch(tag)
        and not _REGEX_RE.fullmatch(tag)
        and not _PREF_RE.fullmatch(tag)
        and not _SYN_RE.fullmatch(tag)
        and not _DEF_RE.fullmatch(tag))


def _tag_local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1] if "}" in tag else tag


def _as_owl_root(xml: "str | ET.Element") -> ET.Element:
    """Accept raw RDF/XML text or a pre-parsed root Element — large real
    ontologies (NCIt RDF/XML is hundreds of MB) must be parsed ONCE per
    module, not once per helper."""
    return ET.fromstring(xml) if isinstance(xml, str) else xml


def owl_imports(xml_text: "str | ET.Element") -> list[str]:
    """IRIs of the document's ``owl:imports`` declarations (under any
    ``owl:Ontology`` header), in document order, deduplicated."""
    root = _as_owl_root(xml_text)
    iris: list[str] = []
    for onto in root.iter(f"{OWL}Ontology"):
        for imp in onto.findall(f"{OWL}imports"):
            iri = imp.get(f"{RDF}resource")
            if iri and iri not in iris:
                iris.append(iri)
    return iris


def owl_ontology_iris(xml_text: "str | ET.Element") -> list[str]:
    """The document's own ontology IRIs (``rdf:about`` of every
    ``owl:Ontology`` header, plus ``xml:base`` if set) — what other
    modules' ``owl:imports`` declarations would reference it by."""
    root = _as_owl_root(xml_text)
    iris: list[str] = []
    base = root.get("{http://www.w3.org/XML/1998/namespace}base")
    if base:
        iris.append(base)
    for onto in root.iter(f"{OWL}Ontology"):
        about = onto.get(f"{RDF}about")
        if about and about not in iris:
            iris.append(about)
    return iris


def parse_owl(xml_text: str,
              source_name: str | None = None,
              imports: object = "error",
              union_children: bool = False) -> tuple[list[dict],
                                                     list[tuple[str, str]]]:
    """Parse an RDF/XML OWL document → (concepts, isa_edges), same
    output shape as ``parse_obo``. Anonymous classes (no rdf:about /
    rdf:ID) and owl:Restriction-valued subClassOf axioms are skipped —
    the reference's class iterator only yields named classes
    (ConceptImporter.java:359-361 skips null/duplicate codes) — but
    NAMED members of subClassOf/equivalentClass intersections become
    parents: the reference reads super-classes through the OWL-API
    STRUCTURAL reasoner (ontology/owl/OClass.java:208-219 +
    OOntology.java:533-535 StructuralReasonerFactory), whose told walk
    flattens equivalent-intersection conjuncts — measured directly in
    the owl-hierarchy parity leg (tools/parity.py, replayed by
    tests/test_parity_goldens.py).

    ``union_children=True`` additionally turns named members of
    top-level equivalentClass unions into CHILDREN of the defined
    class (``A ≡ B ∪ C`` semantically entails ``B ⊑ A``). That IS the
    OWL entailment (a complete reasoner emits it; OBO ``union_of``
    semantics) but the reference's structural reasoner does NOT — the
    parity leg shows union members stay roots — so it is opt-in and
    OFF by default for reference fidelity.

    ``owl:imports`` handling (the reference resolves imports through
    the OWL-API load path, ontology/owl/OOntology.java; silently
    dropping them would yield a partial hierarchy — the worst failure
    mode for an isa-closure consumer):

    - ``imports="error"`` (default): raise ``ValueError`` listing the
      unresolved import IRIs if the document declares any.
    - ``imports="ignore"``: parse only this document, emitting a
      ``UserWarning`` naming the skipped IRIs.
    - ``imports={iri: xml_text, ...}`` (a Mapping): offline resolver —
      imported modules are parsed and merged (transitively; cycles and
      repeat imports load once; duplicate codes keep the first
      definition, matching the reference's duplicate-code skip). A
      declared IRI missing from the resolver raises ``ValueError``.
    """
    concepts: list[dict] = []
    edges: list[tuple[str, str]] = []
    seen: set[str] = set()
    loaded: set[str] = set()
    queue: list[tuple[str, str | None]] = [(xml_text, source_name)]
    resolver = imports if hasattr(imports, "get") else None
    while queue:
        text, src = queue.pop(0)
        # ONE XML parse per module, shared by the IRI scan, the imports
        # scan, and the class walk (3x parse cost and peak tree memory
        # on a hundreds-of-MB ontology otherwise)
        module_root = _as_owl_root(text)
        # a document's own IRIs count as loaded BEFORE its imports are
        # chased, so cyclic module sets (upper imports main back) and
        # back-references to the root document resolve instead of
        # demanding the root from the resolver / double-parsing it
        loaded.update(owl_ontology_iris(module_root))
        declared = owl_imports(module_root)
        pending = [i for i in declared if i not in loaded]
        if pending and resolver is None:
            if imports == "ignore":
                import warnings

                warnings.warn(
                    "owl:imports skipped (partial hierarchy): "
                    + ", ".join(pending), stacklevel=2)
            else:
                raise ValueError(
                    "ontology declares owl:imports that are not resolved "
                    "(pass imports={iri: xml_text} to load offline, or "
                    "imports='ignore' to accept a partial hierarchy): "
                    + ", ".join(pending))
        elif pending:
            missing = [i for i in pending if resolver.get(i) is None]
            if missing:
                raise ValueError(
                    "owl:imports IRIs missing from the resolver: "
                    + ", ".join(missing))
            for iri in pending:
                loaded.add(iri)
                queue.append((resolver[iri], source_name))
        _parse_owl_module(module_root, src, concepts, edges, seen,
                          union_children=union_children)
    return concepts, edges


def _parse_owl_module(xml_text: "str | ET.Element",
                      source_name: str | None,
                      concepts: list[dict],
                      edges: list[tuple[str, str]],
                      seen: set[str],
                      union_children: bool = False) -> None:
    """Single-document class walk shared by every module of an imports
    closure; appends into the accumulator lists (first definition of a
    duplicate code wins via ``seen``)."""
    root = _as_owl_root(xml_text)
    base = root.get("{http://www.w3.org/XML/1998/namespace}base", "")
    if source_name is None:
        onto = root.find(f"{OWL}Ontology")
        uri = (onto.get(f"{RDF}about") if onto is not None else "") or base
        source_name = local_name(uri) if uri else "OWL"

    for cls in root.iter(f"{OWL}Class"):
        about = cls.get(f"{RDF}about")
        if about is None:
            rid = cls.get(f"{RDF}ID")
            about = f"{base}#{rid}" if rid else None
        if about is None:
            continue  # anonymous class (e.g. inside a restriction)
        code = local_name(about)
        if not code or code in seen or code == "Thing":
            continue
        seen.add(code)

        labels: list[str] = []
        name: str | None = None
        synonyms: list[str] = []
        semtypes: list[str] = []
        definition: str | None = None
        # the class URI is always an alternate code (Concept.java:340
        # addCode(uri, Source.URI); ConceptImporter.java:368)
        codes: list[tuple[str, str]] = [("URI", about)]
        deprecated = False

        for child in cls:
            tag = _tag_local(child.tag)
            text = (child.text or "").strip()
            if child.tag == f"{RDFS}label" and text:
                labels.append(text)
            elif child.tag == f"{RDFS}subClassOf":
                parent = child.get(f"{RDF}resource")
                if parent is None:  # nested named class node
                    named = child.find(f"{OWL}Class")
                    parent = named.get(f"{RDF}about") if named is not None \
                        else None
                if parent:
                    edges.append((code, local_name(parent)))
                else:
                    edges.extend((code, p)
                                 for p in _intersection_parents(child))
            elif child.tag == f"{OWL}equivalentClass":
                # NCIt-style defined classes: equivalentClass
                # (intersectionOf [NamedParent, Restriction...]) — the
                # reference reads superclasses through an OWL REASONER
                # (OClass.getSuperClasses → getOWLReasoner(),
                # ontology/owl/OClass.java:208-219), which entails the
                # named intersection members as parents; losing them
                # here would silently flatten every defined-class
                # hierarchy (anonymous restriction members stay
                # skipped, as documented)
                edges.extend((code, p)
                             for p in _intersection_parents(child))
                # A ≡ (B ∪ C) entails B ⊑ A and C ⊑ A semantically, but
                # the reference's STRUCTURAL reasoner does not emit it
                # (owl-hierarchy parity leg: union members stay roots)
                # — opt-in via union_children for OBO union_of
                # semantics; unions nested inside an intersection or
                # restriction entail no such edge and are skipped by
                # the walk either way
                if union_children:
                    edges.extend((m, code)
                                 for m in _union_children(child))
            elif child.tag == f"{OWL}deprecated" and text.lower() == "true":
                deprecated = True
            elif not text:
                continue
            elif _SEMTYPE_RE.fullmatch(tag):
                semtypes.append(text)
            elif _REGEX_RE.fullmatch(tag):
                synonyms.append(text if _is_regexp(text) else f"/{text}/")
            elif _PREF_RE.fullmatch(tag):
                name = text
            elif _SYN_RE.fullmatch(tag) and \
                    not tag.lower().startswith("legacy"):
                synonyms.append(text)
            elif _DEF_RE.fullmatch(tag):
                definition = definition or text
            elif _CODE_RE.fullmatch(tag):
                codes.append((tag, text))
        if deprecated:
            continue

        if name is None:
            name = labels[0] if labels else pretty_name(code)
        concepts.append({
            "cui": code, "name": name,
            "synonyms": tuple(dict.fromkeys([name, *labels, *synonyms])),
            "semtypes": tuple(dict.fromkeys(semtypes)),
            "sources": (source_name,),
            "definition": definition,
            "codes": tuple(codes),
        })


def _intersection_parents(el) -> list[str]:
    """Named members (rdf:Description / owl:Class with an about/resource)
    of ``owl:intersectionOf`` lists reachable from ``el`` WITHOUT
    crossing a Restriction / unionOf / complementOf boundary — the
    parents a reasoner entails for a defined class are the conjuncts of
    the (possibly nested) top-level intersection only: ``A ≡ (B ∩
    ∃p.C)`` entails ``A ⊑ B`` but NOT ``A ⊑ C`` (C sits under the
    restriction filler), and ``A ≡ ((B ∩ C) ∪ D)`` entails no
    superclass edge at all (the intersection is a union disjunct).
    Mirrors _union_children's boundary rule; anonymous members
    (owl:Restriction etc.) stay skipped, while an anonymous nested
    intersection flattens (``A ≡ (B ∩ (C ∩ D))`` ⊨ ``A ⊑ C``)."""
    out: list[str] = []

    def walk(node):
        tag = _tag_local(node.tag)
        if tag in ("Restriction", "unionOf", "complementOf"):
            return
        if tag == "intersectionOf":
            for mem in node:
                if _tag_local(mem.tag) in ("Description", "Class"):
                    uri = (mem.get(f"{RDF}resource")
                           or mem.get(f"{RDF}about"))
                    if uri:
                        out.append(local_name(uri))
                        continue
                walk(mem)
            return
        for sub in node:
            walk(sub)

    for sub in el:
        walk(sub)
    return out


def _union_children(el) -> list[str]:
    """Named members (rdf:Description / owl:Class with an
    about/resource) of ``owl:unionOf`` lists reachable from ``el``
    WITHOUT crossing an intersectionOf / Restriction / complementOf
    boundary — only a top-level ``A ≡ (B ∪ C)`` entails the member
    edges ``B ⊑ A``; a union inside an intersection or under a
    restriction does not."""
    out: list[str] = []

    def walk(node):
        tag = _tag_local(node.tag)
        if tag in ("intersectionOf", "Restriction", "complementOf"):
            return
        if tag == "unionOf":
            for mem in node:
                if _tag_local(mem.tag) not in ("Description", "Class"):
                    continue
                uri = mem.get(f"{RDF}resource") or mem.get(f"{RDF}about")
                if uri:
                    out.append(local_name(uri))
            return
        for sub in node:
            walk(sub)

    for sub in el:
        walk(sub)
    return out


def _is_regexp(s: str) -> bool:
    return len(s) > 1 and s.startswith("/") and s.endswith("/")


# ---------------------------------------------------------------------------
# Graph-level parse: classes + instances + value restrictions — enough to
# rebuild rule-carrying ontologies like the ConText modifier ontology
# (tools/ConText.java:129-344 loads Modifier.owl through this shape).
# ---------------------------------------------------------------------------


def parse_owl_graph(xml_text: str) -> tuple[dict, dict]:
    """→ (classes, instances).

    classes[name] = {parents: [names], labels: [...], props:
    {local_prop: [values]}, restrictions: [(prop, value, is_resource)]}
    — restrictions are owl:Restriction axioms under rdfs:subClassOf
    (owl:onProperty + owl:hasValue / owl:someValuesFrom /
    owl:allValuesFrom), how the
    ConText ontology attaches hasActionEn / windowSize / isDefaultValue /
    hasTermination / hasPseudo to modifier classes.

    instances[name] = {types: [class names], labels: [...],
    synonyms: [...], props: {local_prop: [local names]}} —
    owl:NamedIndividual nodes; labels + *synonym*/*term*/*label*
    annotation properties are the lexical surface forms; resource-valued
    object properties (e.g. the ConText ontology's per-instance
    hasActionEn assertions, read by ConText.getAction via the instance
    concept's properties) land in ``props``."""
    root = ET.fromstring(xml_text)
    base = root.get("{http://www.w3.org/XML/1998/namespace}base", "")

    def name_of(el) -> str | None:
        about = el.get(f"{RDF}about")
        if about is None:
            rid = el.get(f"{RDF}ID")
            about = f"{base}#{rid}" if rid else None
        return local_name(about) if about else None

    classes: dict[str, dict] = {}
    for cls in root.iter(f"{OWL}Class"):
        cname = name_of(cls)
        if not cname:
            continue
        c = classes.setdefault(cname, {"parents": [], "labels": [],
                                       "props": {}, "restrictions": []})
        for child in cls:
            text = (child.text or "").strip()
            if child.tag == f"{RDFS}label" and text:
                c["labels"].append(text)
            elif child.tag == f"{RDFS}subClassOf":
                res = child.get(f"{RDF}resource")
                if res is not None:
                    c["parents"].append(local_name(res))
                    continue
                named = child.find(f"{OWL}Class")
                if named is not None and named.get(f"{RDF}about"):
                    c["parents"].append(local_name(named.get(f"{RDF}about")))
                    continue
                for restr in child.iter(f"{OWL}Restriction"):
                    on = restr.find(f"{OWL}onProperty")
                    if on is None or on.get(f"{RDF}resource") is None:
                        continue
                    prop = local_name(on.get(f"{RDF}resource"))
                    # filler precedence mirrors ORestriction.java:36-57
                    # (hasValue / someValuesFrom / allValuesFrom are the
                    # three restriction kinds the reference surfaces)
                    val = restr.find(f"{OWL}hasValue")
                    if val is None:
                        val = restr.find(f"{OWL}someValuesFrom")
                    if val is None:
                        val = restr.find(f"{OWL}allValuesFrom")
                    if val is None:
                        continue
                    res_v = val.get(f"{RDF}resource")
                    if res_v is not None:
                        c["restrictions"].append(
                            (prop, local_name(res_v), True))
                    elif (val.text or "").strip():
                        c["restrictions"].append(
                            (prop, val.text.strip(), False))
            elif text:
                tag = _tag_local(child.tag)
                c["props"].setdefault(tag, []).append(text)

    instances: dict[str, dict] = {}
    for ind in root.iter(f"{OWL}NamedIndividual"):
        iname = name_of(ind)
        if not iname:
            continue
        inst = instances.setdefault(iname, {"types": [], "labels": [],
                                            "synonyms": [], "props": {}})
        for child in ind:
            text = (child.text or "").strip()
            tag = _tag_local(child.tag)
            if child.tag == f"{RDF}type":
                res = child.get(f"{RDF}resource")
                if res is not None:
                    t = local_name(res)
                    if t != "NamedIndividual":
                        inst["types"].append(t)
            elif child.tag == f"{RDFS}label" and text:
                inst["labels"].append(text)
            elif child.get(f"{RDF}resource") is not None:
                inst["props"].setdefault(tag, []).append(
                    local_name(child.get(f"{RDF}resource")))
            elif text and _SYN_RE.fullmatch(tag) and \
                    not tag.lower().startswith("legacy"):
                inst["synonyms"].append(text)
    return classes, instances
