"""Triple materialization: (subj, pred, obj) tables from mentions and the
terminology graph (SURVEY.md §1.3).

Predicates:
- mentions-concept   — from the mentions table (CSVExporter.java:108 rows)
- isa                — BROADER edges + transitive closure
                       (PathHelper.findAncestors util/PathHelper.java:384-413,
                       depth cap 7 per :28)
- has-semantic-type  — MRSTY rows (ConceptImporter.java:1056-1067)
- co-occurs-with     — same-document concept pairs
                       (Document.getConcepts coder/model/Document.java:87-93)

Scale notes: the co-occurrence aggregation is the one corpus-sized
shuffle in the pipeline; hot concepts (Zipf skew) are handled by an
explicit two-phase salted aggregation (partial per (pair, salt), final
over pair) plus AQE skew handling. The isa closure is a driver-side
BFS over the terminology-sized edge table; only above 100k edges does
it shuffle (bounded ≤7 self-joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PATH_DEPTH_LIMIT = 7  # util/PathHelper.java:28


# ConText modifier values that make a mention NON-ASSERTED for KG
# purposes: negated, experienced by someone other than the patient,
# hypothetical, or hedged/speculative. The i2b2-2010-assertion /
# SemRep convention: only asserted patient facts become graph edges;
# everything else stays in the mention table with its modifiers.
DEFAULT_ASSERTION_DROPS: dict[str, tuple[str, ...]] = {
    "Polarity": ("Negative_Polarity",),
    "Experiencer": ("FamilyMember_Experiencer", "Other_Experiencer"),
    "Temporality": ("Hypothetical_Temporality",),
    "ContextualModality": ("Hedged_ContextualModality",
                           "Hypothetical_ContextualModality"),
}


def asserted_mentions(mentions_df: DataFrame,
                      drops: dict[str, tuple[str, ...]] | None = None
                      ) -> DataFrame:
    """Assertion gate for KG materialization: keep only mentions whose
    ConText ``modifiers`` map carries none of the ``drops`` values —
    a mention of 'melanoma' inside "no evidence of melanoma" or
    "family history of melanoma" must NOT assert a mentions-concept /
    co-occurrence edge (the knowledge graph states patient facts, not
    string hits). Mentions annotated WITHOUT ConText (no ``modifiers``
    column) pass through unchanged — there is nothing to gate on.

    Pure map-side filter (one map lookup per drop type inside
    whole-stage codegen) — composes with any emitter at zero plan
    cost. Missing map keys count as the type's default (asserted)."""
    if "modifiers" not in mentions_df.columns:
        return mentions_df
    cond = F.lit(True)
    drops = DEFAULT_ASSERTION_DROPS if drops is None else drops
    for mod_type, vals in drops.items():
        v = F.coalesce(F.col("modifiers").getItem(mod_type), F.lit(""))
        cond = cond & ~v.isin(*vals)
    return mentions_df.filter(cond)


def mention_triples(mentions_df: DataFrame) -> DataFrame:
    """One triple per distinct (doc, cui): doc mentions-concept CUI."""
    return (mentions_df
            .select(F.col("doc_id").alias("subj"),
                    F.lit("mentions-concept").alias("pred"),
                    F.col("cui").alias("obj"),
                    "doc_id")
            .distinct())


def semtype_triples(semtypes_df: DataFrame) -> DataFrame:
    """semtypes_df: (cui, tui[, sty]) → (cui, has-semantic-type, tui)."""
    return (semtypes_df
            .select(F.col("cui").alias("subj"),
                    F.lit("has-semantic-type").alias("pred"),
                    F.col("tui").alias("obj"))
            .distinct())


def kg_integrity(triples_df: DataFrame, known_ids_df: DataFrame,
                 known_tuis_df: DataFrame | None = None,
                 cache: bool = True) -> DataFrame:
    """Pre-publish integrity validation of a materialized triple set —
    the QA gate a KG pipeline runs before exposing a snapshot. Returns
    VIOLATION rows (subj, pred, obj, violation), empty when clean:

    - ``unknown_subject`` / ``unknown_object``: a CUI-typed endpoint
      absent from ``known_ids_df`` (the terminology vocabulary the
      snapshot was built against — a corrupted write or a
      stale-terminology merge shows up here). Checked on BOTH ends of
      ``isa`` / ``co-occurs-with``, on the OBJECT of
      ``mentions-concept`` (its subject is a document id), and on the
      SUBJECT of ``has-semantic-type`` (its object is a TUI) — the
      stale-merge case this engine is built around is exactly an old
      mention row carried forward across a release that removed its
      CUI.
    - ``self_edge``: subj == obj on those predicates (no concept isa /
      co-occurs-with itself; a canonicalization bug minting one).
    - ``non_canonical_pair``: a ``co-occurs-with`` row with
      subj >= obj — the emitters' canonical-orientation invariant
      (subj < obj), whose violation silently double-counts pairs
      downstream.
    - ``unknown_tui``: a ``has-semantic-type`` object absent from
      ``known_tuis_df`` (when given).

    Plan shape: the triple scan is filtered per predicate family and
    anti-/semi-joined against BROADCAST vocabulary tables
    (terminology-sized) — no corpus-keyed shuffle, violations-only
    output. Five report legs read the snapshot, so the skinny
    projection is persisted once (``cache=False`` to opt out; with a
    parquet-backed snapshot the legs then share the file scan) —
    without it an inline lineage (e.g. a live co-occurrence
    aggregation) would recompute per leg."""
    ids = F.broadcast(
        known_ids_df.select(F.col(known_ids_df.columns[0]).alias("kid"))
        .distinct())
    t = triples_df.select("subj", "pred", "obj")
    if cache:
        t = t.persist()
    edge = t.filter(F.col("pred").isin("isa", "co-occurs-with"))
    # CUI-typed endpoints per predicate family: both ends of the
    # cui-cui edges, the object of mentions-concept (doc-id subject),
    # the subject of has-semantic-type (TUI object)
    cui_subj = edge.unionByName(
        t.filter(F.col("pred") == "has-semantic-type"))
    cui_obj = edge.unionByName(
        t.filter(F.col("pred") == "mentions-concept"))
    unk_s = (cui_subj.join(ids, cui_subj["subj"] == ids["kid"],
                           "left_anti")
             .withColumn("violation", F.lit("unknown_subject")))
    unk_o = (cui_obj.join(ids, cui_obj["obj"] == ids["kid"], "left_anti")
             .withColumn("violation", F.lit("unknown_object")))
    self_e = (edge.filter(F.col("subj") == F.col("obj"))
              .withColumn("violation", F.lit("self_edge")))
    non_canon = (t.filter((F.col("pred") == "co-occurs-with")
                          & (F.col("subj") >= F.col("obj")))
                 .withColumn("violation", F.lit("non_canonical_pair")))
    out = unk_s.unionByName(unk_o).unionByName(self_e) \
               .unionByName(non_canon)
    if known_tuis_df is not None:
        tuis = F.broadcast(
            known_tuis_df.select(
                F.col(known_tuis_df.columns[0]).alias("ktui")).distinct())
        sem = t.filter(F.col("pred") == "has-semantic-type")
        out = out.unionByName(
            sem.join(tuis, sem["obj"] == tuis["ktui"], "left_anti")
            .withColumn("violation", F.lit("unknown_tui")))
    return out.distinct()


def stale_triples(triples_df: DataFrame, diff_df: DataFrame,
                  changes: tuple = ("removed", "renamed",
                                    "synonyms_changed"),
                  cache: bool = True) -> DataFrame:
    """KG edges invalidated by a terminology update: triples whose
    subject or object CUI appears in ``index.terminology_diff`` output
    with one of ``changes`` — the work-list for selective
    re-materialization (re-annotate only documents touching changed
    concepts instead of the full-run fallback the incremental sidecar
    forces today). Output: (subj, pred, obj, stale_cui, change), one
    row per affected endpoint.

    Broadcast join against the diff (terminology-sized); the
    corpus-scale triple table never shuffles. Two legs (subject hit /
    object hit) read the snapshot, so the skinny projection is
    persisted once unless ``cache=False`` (the kg_integrity
    convention — with a parquet-backed snapshot the legs then share
    the file scan)."""
    d = F.broadcast(
        diff_df.filter(F.col("change").isin(*changes))
        .select(F.col("cui").alias("stale_cui"), "change"))
    t = triples_df.select("subj", "pred", "obj")
    if cache:
        t = t.persist()
    s_hit = t.join(d, t["subj"] == d["stale_cui"])
    o_hit = t.join(d, t["obj"] == d["stale_cui"])
    return s_hit.unionByName(o_hit).distinct()


def isa_triples(edges_df: DataFrame) -> DataFrame:
    """edges_df: (cui, parent) direct BROADER edges → isa triples."""
    return (edges_df
            .select(F.col("cui").alias("subj"), F.lit("isa").alias("pred"),
                    F.col("parent").alias("obj"))
            .distinct())


def closure_bfs(pairs: list[tuple[str, str]],
                max_depth: int = PATH_DEPTH_LIMIT,
                row_budget: int | None = None) -> list[tuple[str, str, int]] | None:
    """Pure-Python min-depth ancestor closure over (cui, parent) pairs —
    the driver-side body of ``ancestors`` (property-tested against an
    independent shortest-path reference). Mirrors the distributed
    filters exactly: NULL/self edges dropped, self pairs never
    re-expanded, depth 1 unconditional (the distributed initial closure
    is the direct-edge set; the loop only EXTENDS it). Returns None if
    the closure would exceed ``row_budget`` rows — a hub-shaped graph
    can have a closure quadratically larger than its edge set, and the
    caller must fall back to the distributed strategy rather than
    materialize it on the driver."""
    parents: dict[str, list[str]] = {}
    for a, b in pairs:
        if a is not None and b is not None and a != b:
            parents.setdefault(a, []).append(b)
    rows: list[tuple[str, str, int]] = []
    for node in parents:
        seen: set[str] = set()
        frontier = [node]
        for depth in range(1, max(max_depth, 1) + 1):
            nxt: list[str] = []
            for cur in frontier:
                for p in parents.get(cur, ()):
                    if p == node or p in seen:
                        continue
                    seen.add(p)
                    rows.append((node, p, depth))
                    nxt.append(p)
            if row_budget is not None and len(rows) > row_budget:
                return None
            if not nxt:
                break
            frontier = nxt
    return rows


def ancestors(edges_df: DataFrame, max_depth: int = PATH_DEPTH_LIMIT,
              driver_threshold: int = 100_000) -> DataFrame:
    """Transitive isa closure with min BFS depth:
    (cui, ancestor, depth). Two physical strategies, identical results:

    - ``≤ driver_threshold`` distinct edges (one limit-probe job): BFS
      driver-side — the edge table is terminology-sized by definition
      (the reference holds the whole terminology in memory), and the
      iterative Spark loop costs ~0.5 s of pure job-scheduling overhead
      PER ROUND regardless of data size, which dominated every
      closure-consuming query at benchmark scale.
    - larger graphs: bounded iterative self-join (≤ max_depth rounds,
      PathHelper depth cap); cycle-safe because each round only keeps
      strictly new (cui, ancestor) pairs, so A→B→A terminates;
      localCheckpoint truncates the growing lineage.
    """
    # probe RAW rows (no pre-limit distinct: that is a full shuffle of
    # the edge table — a 32-task stage even for a 12-row graph) and
    # dedup on the driver; self/NULL edges are dropped by both
    # strategies so degenerate rows don't burn threshold budget. A
    # heavily-duplicated table can exceed the raw budget while its
    # distinct edge set is small — that only means the conservative
    # (distributed) strategy runs; results are identical.
    probe = (edges_df.select(F.col("cui"), F.col("parent"))
             .filter(F.col("cui") != F.col("parent"))
             .limit(driver_threshold + 1).collect())
    if len(probe) <= driver_threshold:
        pairs = list(dict.fromkeys((r.cui, r.parent) for r in probe))
        rows = closure_bfs(pairs, max_depth,
                           row_budget=max(driver_threshold, 1_000_000))
        if rows is not None:
            from pyspark.sql import types as T

            id_type = edges_df.schema["cui"].dataType  # caller's id type
            schema = T.StructType([
                T.StructField("cui", id_type),
                T.StructField("ancestor", id_type),
                T.StructField("depth", T.IntegerType())])
            # terminology-sized by the budget check: a JVM
            # LocalRelation, so downstream broadcast/probe stages
            # never spawn Python workers to re-evaluate it
            from nobletools_spark.session import local_table

            return local_table(edges_df.sparkSession, rows or [], schema)
        # closure larger than the driver budget (hub-shaped graph):
        # fall through to the distributed strategy
    edges = edges_df.select(F.col("cui"), F.col("parent")).distinct()
    closure = (edges
               .filter(F.col("cui") != F.col("parent"))
               .select("cui", F.col("parent").alias("ancestor"),
                       F.lit(1).alias("depth")))
    frontier = closure
    for _ in range(1, max_depth):
        step = (frontier.alias("f")
                .join(edges.alias("e"), F.col("f.ancestor") == F.col("e.cui"))
                .select(F.col("f.cui").alias("cui"),
                        F.col("e.parent").alias("ancestor"),
                        (F.col("f.depth") + 1).alias("depth"))
                .filter(F.col("cui") != F.col("ancestor")))
        # keep only pairs not already in the closure (anti-join = new paths)
        new = (step.join(closure.select("cui", "ancestor"),
                         ["cui", "ancestor"], "left_anti")
               .groupBy("cui", "ancestor").agg(F.min("depth").alias("depth")))
        new = new.localCheckpoint(eager=True)
        if new.isEmpty():
            break
        closure = closure.unionByName(new)
        frontier = new
    return closure.groupBy("cui", "ancestor").agg(F.min("depth").alias("depth"))


def isa_closure_triples(edges_df: DataFrame,
                        max_depth: int = PATH_DEPTH_LIMIT) -> DataFrame:
    return (ancestors(edges_df, max_depth)
            .select(F.col("cui").alias("subj"), F.lit("isa").alias("pred"),
                    F.col("ancestor").alias("obj"), "depth"))


MAX_PATHS = 10  # util/PathHelper.java:28


def root_paths(edges: list[tuple[str, str]], cui: str,
               max_depth: int = PATH_DEPTH_LIMIT,
               max_paths: int = MAX_PATHS) -> list[list[str]]:
    """Path enumeration to roots (PathHelper.findPaths :352-381
    semantics, exactly): BREADTH-first over BROADER edges; a parentless
    node is accepted as a goal whenever reached — the goal test
    precedes the depth gate, so a root at depth limit+1 still lands;
    a non-goal node stops expanding once its path length exceeds the
    limit, so over-deep paths are DROPPED, never truncated; the first
    ``max_paths`` goals in BFS order win. No cycle guard, as in the
    reference — cyclic expansion is bounded by the depth gate, and a
    pure cycle yields NO paths (there is no parentless goal on it).
    Parents expand in sorted order (the reference follows its storage
    map's order — not portable; sorting pins determinism).
    Driver-side — the edge set is terminology-sized; the corpus-scale
    variant is the ``ancestors`` closure."""
    from collections import deque

    parents: dict[str, list[str]] = {}
    for c, p in edges:
        parents.setdefault(c, []).append(p)
    paths: list[list[str]] = []
    queue: "deque[list[str]]" = deque([[cui]])
    while queue:
        path = queue.popleft()
        ps = parents.get(path[-1], ())
        if not ps:                       # goal: tested BEFORE the gate
            paths.append(path)
            if len(paths) >= max_paths:
                return paths
        elif len(path) > max_depth:
            pass                         # over-deep, no root in sight
        else:
            for p in sorted(ps):
                queue.append(path + [p])
    return paths


def mentions_with_ancestor(mentions_df: DataFrame, edges_df: DataFrame,
                           ancestor_cui: str,
                           max_depth: int = PATH_DEPTH_LIMIT) -> DataFrame:
    """Ancestry-gated mention filter — the template-extraction join shape
    (TemplateItem.java:396-418: `paths.hasAncestor(c, getConcept())`):
    keep mentions whose concept IS the ancestor or descends from it in
    the isa closure. The closure side is terminology-sized → broadcast
    semi-join; no corpus shuffle."""
    desc = (ancestors(edges_df, max_depth)
            .filter(F.col("ancestor") == ancestor_cui)
            .select("cui"))
    # graft the ancestor itself, CAST to the closure's cui dtype —
    # a hardcoded string row would coerce the whole union (and the
    # semi-join below) to string for integer-coded id schemes, the
    # implicit-cast join every sibling avoids (ancestors :250)
    gate = desc.union(
        desc.sparkSession.range(1)
        .select(F.lit(ancestor_cui).cast(desc.schema["cui"].dataType)
                .alias("cui")))
    return mentions_df.join(F.broadcast(gate.distinct()), "cui", "left_semi")


def cooccurrence_triples(mentions_df: DataFrame,
                         salt_buckets: int = 0,
                         assume_distinct: bool = False,
                         cache: bool = True) -> DataFrame:
    """Same-document co-mention pairs with document counts:
    (cui_a, 'co-occurs-with', cui_b, n_docs), cui_a < cui_b.

    The per-document concept set is tiny, so the pair explosion happens
    inside a doc-local self-join keyed on doc_id. The pair-count
    aggregation is the corpus-scale shuffle: with ``salt_buckets`` > 0 an
    explicit two-phase aggregation spreads hot pairs (Zipf-skewed
    concepts) across ``salt_buckets`` partial keys before the final sum —
    the blacklist analog for co-occurrence (SURVEY.md §4).

    ``assume_distinct``: the input is already a distinct (doc, cui)
    projection (a caller sharing one persisted projection across
    several aggregates, e.g. ``lift_triples``) — skips the redundant
    distinct shuffle.
    """
    dc = mentions_df.select("doc_id", "cui")
    if not assume_distinct:
        dc = dc.distinct()
        if cache:
            # persist the distinct projection: the pair self-join reads
            # it on BOTH sides, and exchange reuse is not guaranteed
            # under AQE (small inputs flip to a broadcast join whose
            # build side is a separate computation) — without the cache
            # the mentions lineage, i.e. a full matcher pass at corpus
            # scale, executes once per side. Lifecycle: cached entries
            # live until session end (CacheManager) — the right trade
            # for one-shot analytical queries (triangles() convention);
            # UNBOUNDED repeat callers in one driver (per-snapshot
            # incremental maintenance) pass cache=False, where the
            # inputs are increment-sized or parquet-backed anyway.
            dc = dc.persist()
    pairs = (dc.alias("a").join(dc.alias("b"), "doc_id")
             .filter(F.col("a.cui") < F.col("b.cui"))
             .select("doc_id", F.col("a.cui").alias("cui_a"),
                     F.col("b.cui").alias("cui_b")))
    if salt_buckets > 0:
        partial = (pairs
                   .withColumn("salt", F.pmod(F.xxhash64("doc_id"),
                                              F.lit(salt_buckets)))
                   .groupBy("cui_a", "cui_b", "salt")
                   .agg(F.count("*").alias("partial_n")))
        counts = (partial.groupBy("cui_a", "cui_b")
                  .agg(F.sum("partial_n").alias("n_docs")))
    else:
        counts = pairs.groupBy("cui_a", "cui_b").agg(F.count("*").alias("n_docs"))
    return counts.select(
        F.col("cui_a").alias("subj"), F.lit("co-occurs-with").alias("pred"),
        F.col("cui_b").alias("obj"), F.col("n_docs").cast("long").alias("n_docs"))


def lift_triples(mentions_df: DataFrame, scale: int = 10**6,
                 salt_buckets: int = 0, cache: bool = True) -> DataFrame:
    """Co-occurrence triples with an exact fixed-point LIFT confidence:

        lift = P(a,b) / (P(a)·P(b)) = n_pair · N / (n_a · n_b)

    emitted as ``lift_fp = ⌊scale · n_pair · N / (n_a · n_b)⌋`` (BIGINT).
    Lift is the monotone transform of PMI (PMI = log2 lift), so ranking
    and thresholding by ``lift_fp`` IS ranking by PMI — and unlike a
    float log it is computed entirely in integer arithmetic, hence
    bit-reproducible across partitionings and engines (the same
    fixed-point trick as ``graph.pagerank``). lift_fp > scale ⇔ the
    pair co-occurs more than independence predicts — the standard
    edge-confidence gate before materializing co-occurrence triples
    into a downstream KG.

    Plan shape: ``cooccurrence_triples`` (the one corpus-scale shuffle,
    salted when ``salt_buckets`` > 0) joined against the per-concept
    document-frequency table TWICE — that table is
    concept-vocabulary-sized, so both joins broadcast — plus a 1-row
    corpus-size aggregate crossJoined in (no driver action).

    Overflow bound: scale·n_pair·N < 2^63, i.e. exact through
    ~9·10^12 doc-pair products at the default scale; past that run with
    a smaller ``scale`` or switch the expression to doubles (the
    production float path, same plan shape).
    """
    # ONE corpus pass: pairs, doc frequencies, and the corpus size all
    # derive from the same persisted (doc, cui) projection — without it
    # Spark recomputes the mentions lineage (a full matcher pass at
    # corpus scale) once per aggregate. Left to the LRU block manager
    # after the query, the triangles() convention.
    dc = mentions_df.select("doc_id", "cui").distinct()
    if cache:
        dc = dc.persist()
    cooc = cooccurrence_triples(dc, salt_buckets, assume_distinct=True)
    freq = dc.groupBy("cui").agg(F.count("*").cast("long").alias("n_c"))
    total = dc.select(F.count_distinct("doc_id").cast("long").alias("n_total"))
    fa = freq.select(F.col("cui").alias("subj"), F.col("n_c").alias("n_a"))
    fb = freq.select(F.col("cui").alias("obj"), F.col("n_c").alias("n_b"))
    return (cooc.join(F.broadcast(fa), "subj")
            .join(F.broadcast(fb), "obj")
            .crossJoin(F.broadcast(total))
            .select("subj", "pred", "obj", "n_docs",
                    F.expr(f"CAST(({int(scale)} * n_docs * n_total) DIV "
                           "(n_a * n_b) AS BIGINT)").alias("lift_fp")))


def typed_cooccurrence(cooc_df: DataFrame, semtypes_df: DataFrame,
                       rules_df: DataFrame,
                       cache: bool = True) -> DataFrame:
    """Ontology-typed predicate induction: relabel untyped
    co-occurrence pairs with predicates keyed by the semantic-type pair
    — the KG-construction step that turns a statistical signal
    ('co-occurs-with') into a typed relation ('operates-on') using the
    terminology's own type system (the reference ships the types via
    MRSTY, ConceptImporter.java:1056-1067, but never lifts them onto
    edges; this is the beyond-reference lift).

    ``cooc_df``: canonical undirected pairs (subj < obj, n_docs) —
    ``cooccurrence_triples`` output. ``semtypes_df``: (cui, tui).
    ``rules_df``: (tui_s, tui_o, pred) — DIRECTED rules; a pair matches
    a rule in either orientation and is emitted re-oriented so subj
    carries ``tui_s``. A rule with tui_s = tui_o matches both ways and
    emits BOTH directed rows (the induced relation is symmetric, so
    (A, peer-of, C) and (C, peer-of, A) both appear — consumers wanting
    one row per undirected edge filter subj < obj). Concepts with
    several semantic types match every applicable rule; the final
    distinct dedups only identical rows from overlapping type
    combinations, not orientations.

    Plan shape: the pair table joins the (terminology-sized, broadcast)
    semtype table twice and the (tiny, broadcast) rule table twice —
    one scan of the corpus-derived pair table, no new corpus shuffle;
    the final distinct is pair-table-sized."""
    sa = semtypes_df.select(F.col("cui").alias("subj"),
                            F.col("tui").alias("tui_s"))
    sb = semtypes_df.select(F.col("cui").alias("obj"),
                            F.col("tui").alias("tui_o"))
    # persist: the forward and reversed rule joins both read this
    # (pair-table-sized) intermediate; without the cache the corpus
    # lineage under cooc_df executes once per orientation
    typed = (cooc_df.drop("pred")
             .join(F.broadcast(sa), "subj")
             .join(F.broadcast(sb), "obj"))
    if cache:
        typed = typed.persist()
    fwd = typed.join(F.broadcast(rules_df), ["tui_s", "tui_o"]).select(
        "subj", "pred", "obj", "n_docs")
    rules_rev = rules_df.select(F.col("tui_s").alias("tui_o"),
                                F.col("tui_o").alias("tui_s"), "pred")
    rev = typed.join(F.broadcast(rules_rev), ["tui_s", "tui_o"]).select(
        F.col("obj").alias("subj"), "pred",
        F.col("subj").alias("obj"), "n_docs")
    return fwd.unionByName(rev).distinct()


def relation_mentions(mentions_df: DataFrame,
                      max_gap: int = 100,
                      cache: bool = True) -> DataFrame:
    """Sentence-level relation candidates with evidence geometry: one
    row per ordered same-sentence mention pair where the subject span
    ends before the object span starts and the character gap between
    them is ≤ ``max_gap`` — the standard candidate generator for
    pattern/ML relation extraction (doc-level co-occurrence is too
    coarse to imply a stated relation; same-sentence adjacency is the
    usual evidence bar). Output: (doc_id, sent_offset, subj_cui,
    obj_cui, subj_start, subj_end, obj_start, obj_end, gap) with
    offsets in document coordinates as emitted by the matcher.

    Identical-concept pairs (subj_cui == obj_cui) are dropped —
    self-relations are coreference, not relations. Overlapping spans
    are dropped by the a.end ≤ b.start order condition (an overlap is
    one mention subsuming another, already resolved by the matcher's
    subsumption sweep). Compose with ``asserted_mentions`` first when
    candidates should exclude negated/hypothetical mentions — a
    relation stated under negation ("no spread to lymph nodes") is
    evidence AGAINST the edge, not for it.

    Plan shape: one self-join keyed on (doc_id, sent_offset) — the
    per-sentence mention set is tiny, so the pair explosion is
    sentence-local, exactly the ``cooccurrence_triples`` shape with a
    finer key; no other shuffle."""
    # persist: the sentence-local self-join reads this projection on
    # both sides — one matcher pass, not two (cooccurrence_triples
    # convention)
    m = (mentions_df.select("doc_id", "sent_offset", "cui", "start", "end")
         .distinct())
    if cache:
        m = m.persist()
    a = m.alias("a")
    b = m.alias("b")
    return (a.join(b, ["doc_id", "sent_offset"])
            .filter((F.col("a.end") <= F.col("b.start"))
                    & (F.col("a.cui") != F.col("b.cui"))
                    & (F.col("b.start") - F.col("a.end") <= max_gap))
            .select("doc_id", "sent_offset",
                    F.col("a.cui").alias("subj_cui"),
                    F.col("b.cui").alias("obj_cui"),
                    F.col("a.start").alias("subj_start"),
                    F.col("a.end").alias("subj_end"),
                    F.col("b.start").alias("obj_start"),
                    F.col("b.end").alias("obj_end"),
                    (F.col("b.start") - F.col("a.end")).alias("gap")))


def relation_triples(mentions_df: DataFrame, max_gap: int = 100,
                     min_sents: int = 1, cache: bool = True) -> DataFrame:
    """Aggregated sentence-level relation candidates:
    (subj, 'co-occurs-in-sentence', obj, n_sents, min_gap) where
    ``n_sents`` counts distinct (doc, sentence) evidence sites and
    ``min_gap`` is the tightest observed span gap (small = likely a
    stated relation, e.g. 'X of Y'). Direction is textual order —
    (A, B) and (B, A) are distinct rows when both orders occur.
    ``min_sents`` gates out one-off pairings. One aggregation shuffle
    over the (sentence-local) pair stream."""
    pairs = relation_mentions(mentions_df, max_gap, cache=cache)
    return (pairs.groupBy(F.col("subj_cui").alias("subj"),
                          F.col("obj_cui").alias("obj"))
            .agg(F.count_distinct("doc_id", "sent_offset")
                 .cast("long").alias("n_sents"),
                 F.min("gap").cast("int").alias("min_gap"))
            .filter(F.col("n_sents") >= min_sents)
            .select("subj", F.lit("co-occurs-in-sentence").alias("pred"),
                    "obj", "n_sents", "min_gap"))


def _nodes_from(dc: DataFrame, cooc: DataFrame,
                semtypes_df: DataFrame | None,
                names_df: DataFrame | None) -> DataFrame:
    """Shared vertex-table core of ``concept_nodes``/``property_graph``:
    both hand in the same persisted (doc, cui) projection and pair
    table so the matcher lineage and the pair aggregation each run
    once however many outputs consume them."""
    from nobletools_spark.operators.graph import degrees, symmetrize

    nodes = dc.groupBy("cui").agg(
        F.count("*").cast("long").alias("n_docs"))
    pairs = cooc.select(
        F.col("subj").alias("a"), F.col("obj").alias("b"),
        F.col("n_docs").alias("weight"))
    deg = degrees(symmetrize(pairs)).withColumnRenamed("node", "cui")
    nodes = (nodes.join(deg, "cui", "left")
             .select("cui", "n_docs",
                     F.coalesce("degree", F.lit(0)).alias("degree"),
                     F.coalesce("weighted_degree", F.lit(0))
                     .alias("weighted_degree")))
    if semtypes_df is not None:
        tuis = (semtypes_df.groupBy("cui")
                .agg(F.concat_ws(",", F.array_sort(F.collect_set("tui")))
                     .alias("tuis")))
        nodes = nodes.join(F.broadcast(tuis), "cui", "left")
    if names_df is not None:
        nodes = nodes.join(
            F.broadcast(names_df.select("cui", "name")), "cui", "left")
    return nodes


def concept_nodes(mentions_df: DataFrame,
                  semtypes_df: DataFrame | None = None,
                  names_df: DataFrame | None = None,
                  salt_buckets: int = 0,
                  cache: bool = True) -> DataFrame:
    """Node-side materialization of the KG property graph: one row per
    mentioned concept with its corpus statistics and graph degree —
    the companion table to the (subj, pred, obj) edge sinks
    (``write_triples``), so a property-graph consumer (GraphFrames,
    graph DBs) gets vertices and edges from the same pipeline.

    Columns: (cui, n_docs, degree, weighted_degree[, tuis][, name]) —
    ``n_docs`` = distinct documents mentioning the concept; degree
    columns count distinct co-occurrence partners / sum pair doc-counts
    (0 for concepts that never co-occur); ``tuis`` is the sorted
    comma-joined semantic-type list when ``semtypes_df`` (cui, tui) is
    given; ``name`` joins from ``names_df`` (cui, name).

    Plan shape: the (doc, cui) distinct + per-concept count is one
    corpus-keyed aggregation; the degree input reuses
    ``cooccurrence_triples`` (salted under skew like every consumer);
    semtype/name joins broadcast (terminology-sized). Output is
    concept-vocabulary-sized. ``cache=False`` skips the session-
    lifetime persist of the shared (doc, cui) projection — pass it
    from unbounded repeat callers in one driver (the
    ``cooccurrence_triples`` lifecycle convention)."""
    # shared persisted (doc, cui) projection: node counts AND the pair
    # table derive from it — one matcher pass, not two (see lift_triples)
    dc = mentions_df.select("doc_id", "cui").distinct()
    cooc = cooccurrence_triples(dc, salt_buckets, assume_distinct=True)
    if cache:
        # cooc too: _nodes_from's symmetrize reads the pair table on
        # BOTH union legs, and exchange reuse across legs is not
        # guaranteed (the 6a77e13 finding) — unpersisted, the one
        # corpus-scale pair aggregation would execute twice
        dc, cooc = dc.persist(), cooc.persist()
    return _nodes_from(dc, cooc, semtypes_df, names_df)


def property_graph(mentions_df: DataFrame,
                   semtypes_df: DataFrame | None = None,
                   names_df: DataFrame | None = None,
                   salt_buckets: int = 0,
                   cache: bool = True) -> "tuple[DataFrame, DataFrame]":
    """The (vertices, edges) hand-off pair in the conventional
    property-graph schema every graph consumer expects (GraphFrames
    requires ``id`` on vertices and ``src``/``dst`` on edges; graph DBs
    bulk-load the same shape): vertices = ``concept_nodes`` with ``cui``
    exposed as ``id``; edges = co-occurrence pairs as (src, dst,
    relationship, weight), both canonical-orientation rows, derived
    from the SAME persisted (doc, cui) projection and pair table so the
    matcher lineage and the pair aggregation each execute once for the
    whole pair.

    This is a column-rename facade over the shared ``_nodes_from`` core
    + ``cooccurrence_triples`` — no extra shuffle beyond theirs; pass
    the result straight to ``graph.degrees``/``pagerank``/... after
    renaming, or to a GraphFrame on a cluster that ships it.
    ``cache=False`` skips both session-lifetime persists (the
    ``cooccurrence_triples`` lifecycle convention for unbounded repeat
    callers in one driver)."""
    dc = mentions_df.select("doc_id", "cui").distinct()
    cooc = cooccurrence_triples(dc, salt_buckets, assume_distinct=True)
    if cache:
        dc, cooc = dc.persist(), cooc.persist()
    verts = _nodes_from(dc, cooc, semtypes_df,
                        names_df).withColumnRenamed("cui", "id")
    edges = cooc.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst"),
        F.col("pred").alias("relationship"),
        F.col("n_docs").alias("weight"))
    return verts, edges


def alphabetic_ids(df: DataFrame, col: str = "entity",
                   partitions: int = 32) -> DataFrame:
    """Distributed 0-based global alphabetical rank over a distinct id
    column — the zipWithIndex recipe in DataFrame terms, equivalent to
    SQL ``row_number() OVER (ORDER BY col) - 1`` but with no
    single-partition exchange: range-partition on the key (partitions
    are ordered by key range), rank within each partition with a
    per-partition window, then add the cumulative row count of the
    preceding partitions. Every stage is parallel (each window sorts
    ~N/partitions rows); the only driver materialization is ONE row per
    range partition (bounded by ``partitions``). Range boundaries come
    from Spark's sampler, so per-partition sizes may vary run to run —
    the emitted rank values do not: they are a pure function of the
    distinct key set."""
    from pyspark.sql import Window

    spark = df.sparkSession
    parts = (df.repartitionByRange(int(partitions), col)
             .withColumn("_pid", F.spark_partition_id())
             .persist())  # pins _pid stable across the counts + rank legs
    # bounded driver collect: one (pid, count) row per range partition
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in parts.groupBy("_pid").agg(F.count("*").alias("cnt"))
        .collect())
    offs, acc = [], 0
    for pid, cnt in counts:
        offs.append((pid, acc))
        acc += cnt
    off_df = spark.createDataFrame(offs, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(col)
    return (parts.join(F.broadcast(off_df), "_pid")
            .withColumn("rank",
                        (F.row_number().over(w) - 1 + F.col("_off"))
                        .cast("long"))
            .drop("_pid", "_off"))


def negative_triples(triples_df: DataFrame, n_neg: int = 2,
                     entities_df: DataFrame | None = None,
                     seed: str = "neg", cache: bool = True) -> DataFrame:
    """Deterministic filtered tail-corruption negatives for
    KG-embedding training (the TransE/DistMult sampling recipe): for
    each true triple (s, p, o) and slot i ∈ [0, n_neg), corrupt the
    tail to the entity whose rank is ``h64('<seed>|s|p|o|i') mod N``
    over the alphabetically-ranked entity vocabulary, then FILTER out
    corruptions that reproduce the original tail or any true (s, p, o')
    triple. Output: (subj, pred, obj, neg_obj, neg_slot) — one row per
    surviving (positive, slot) pair, keyed to the positive it corrupts
    (the contrastive-loss pairing the training loop consumes); row
    count ≤ n_neg per true triple (collisions drop, the standard
    "filtered" protocol — callers wanting an exact count oversample
    n_neg and window-trim).

    Hash-based (not RNG-based) sampling: the negative set is a pure
    function of (triples, entities, seed) — reproducible across runs,
    partitionings, and engines (DuckDB-oracle replayable), and re-runs
    of an incremental pipeline regenerate identical negatives for
    unchanged triples.

    Scale shape: the entity vocabulary is concept-vocabulary-sized
    (UMLS ≈ 4M CUIs); its alphabetical id assignment is the distributed
    ``alphabetic_ids`` range-partition + per-partition-window scheme
    (no single-partition exchange — each window sorts ~N/partitions
    rows), and both probe joins broadcast; the true-triple anti-join is
    co-keyed on (subj, pred, obj). n_neg fan-out is a map-side explode.
    The filter is DIRECTED — for undirected predicates stored canonically
    (subj < obj, e.g. co-occurrence) a corruption can reproduce a true
    pair in reverse orientation; pass the symmetrized true set as
    ``triples_df`` when that matters for the training objective.
    Separator
    caveat: ids must not contain '|' (CUIs never do); swap the concat
    for a netstring rendering (operators/incremental.py) otherwise."""
    if n_neg < 1:
        raise ValueError("n_neg must be >= 1")
    from nobletools_spark.functions.hashing import h64

    # the distinct triple set feeds four plan legs (both entity scans,
    # the candidate stream, the anti-join) — persist so an expensive
    # upstream lineage (the matcher) runs once, not four times
    t = triples_df.select("subj", "pred", "obj").distinct()
    if cache:
        t = t.persist()
    ents = (entities_df.select(F.col(entities_df.columns[0]).alias("entity"))
            if entities_df is not None
            else t.select(F.col("subj").alias("entity"))
            .unionByName(t.select(F.col("obj").alias("entity")))).distinct()
    ranked = alphabetic_ids(ents, "entity")
    n_ents = ents.agg(F.count("*").cast("long").alias("n_entities"))
    cand = (t.select("subj", "pred", "obj",
                     F.explode(F.sequence(
                         F.lit(0), F.lit(int(n_neg) - 1))).alias("neg_slot"))
            .crossJoin(F.broadcast(n_ents))
            .withColumn("rank", h64(F.concat_ws(
                "|", F.lit(seed), "subj", "pred", "obj", "neg_slot"))
                % F.col("n_entities")))
    hit = (cand.join(F.broadcast(ranked), "rank")
           .filter(F.col("entity") != F.col("obj")))
    return (hit.join(t.select("subj", "pred",
                              F.col("obj").alias("entity")),
                     ["subj", "pred", "entity"], "left_anti")
            .select("subj", "pred", "obj",
                    F.col("entity").alias("neg_obj"),
                    F.col("neg_slot").cast("int").alias("neg_slot")))


def write_triples(df: DataFrame, path: str, fmt: str = "parquet",
                  mode: str = "overwrite") -> None:
    """Partitioned triple sink. On a cluster this is an Iceberg table
    (write_triples_table below); in this sandbox the same layout as
    parquet partitionBy(pred)."""
    df.write.mode(mode).partitionBy("pred").format(fmt).save(path)


def write_triples_table(df: DataFrame, table: str, mode: str = "append",
                        subj_buckets: int = 16) -> None:
    """Iceberg table sink — the north-rule target layout: DataFrame
    WriterV2 partitioned by ``pred`` (few, large partitions) plus
    ``bucket(subj_buckets, subj)`` (co-locates a subject's triples and
    bounds file counts under Zipf-skewed predicates). Requires an
    Iceberg catalog configured on the cluster
    (spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog);
    this sandbox ships no Iceberg runtime jar, so callers here get the
    catalog-resolution AnalysisException — use write_triples instead."""
    from pyspark.sql.functions import partitioning

    writer = df.writeTo(table).partitionedBy(
        F.col("pred"), partitioning.bucket(subj_buckets, "subj"))
    if mode == "overwrite":
        writer.createOrReplace()
    else:
        writer.append()
