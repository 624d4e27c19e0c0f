"""UMLS RRF terminology ingestion — the reference's 650-line streaming
loader (util/ConceptImporter.loadRRF :580-1235) re-expressed as five
declarative csv scans + joins/aggregations. The reference hand-rolls an
external group-by through temp word files (:920-961); Spark's shuffle IS
that external group-by.

Column positions (pipe-delimited, no header):
- MRCONSO (ConceptImporter.java:800-810): cui=0 lat=1 ts=2 ispref=6
  sab=11 tty=12 code=13 str=14 suppress=16
- MRDEF   (:998-1026): cui=0 sab=4 def=5
- MRSTY   (:1049-1073): cui=0 tui=1 sty=3
- MRREL   (:1097-1153): cui1=0 rel=3 cui2=4 sab=10 — keep RB/RN/PAR/CHD,
  emit BROADER edges (+ inverse for RN/CHD); both endpoints must be
  loaded and SRC-only↔SRC-only pairs are skipped (:1129-1147); SRC
  ``V-*`` atoms that acquire a child become the root table
  (:833,:1169-1177) — all pinned by the rrf-hierarchy parity leg
- MRSAB   (:698-727): rsab=3 son=4 sver=6 sf=23

Filters (ConceptImporter.java:828-851): language ∈ languages (default
ENG), source ∈ sources (if given), semantic-type prefetch semi-join
(:736-769,843-847), suppress='O' dropped.

Output: dict of DataFrames — concepts (broadcastable dimension),
semtypes, relations (BROADER edge table for the isa closure), roots
(the SRC V-* root convention), sources, definitions — plus
``concepts_for_index`` shaped for build_index_df.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from nobletools_spark.session import hadoop_fs

MRCONSO_MIN_COLS = 17
BROADER_RELS = {"RB", "PAR"}   # cui2 is broader than cui1 → edge cui1→cui2
NARROWER_RELS = {"RN", "CHD"}  # inverse edge cui2→cui1
                               # (ConceptImporter.java:1117-1126)


def _read_rrf(spark: SparkSession, path: str, n_cols: int) -> DataFrame:
    """Pipe-delimited RRF scan with positional columns _c0.._cN.
    Explicit schema (all strings) — no inference pass over the file."""
    schema = ", ".join(f"_c{i} string" for i in range(n_cols))
    return spark.read.csv(path, sep="|", schema=schema, header=False)


def _exists(spark: SparkSession, path: str) -> bool:
    fs, p = hadoop_fs(spark, path)
    return fs.exists(p)


def load_rrf(spark: SparkSession, rrf_dir: str,
             languages: tuple[str, ...] = ("ENG",),
             source_filter: tuple[str, ...] = (),
             semtype_filter: tuple[str, ...] = (),
             suppress_obsolete: bool = True,
             hierarchy_sources: "tuple[str, ...] | None" = None,
             ) -> dict[str, DataFrame]:
    """``hierarchy_sources`` mirrors the reference's ``hierarchySources``
    param (ConceptImporter.java:589-593): the SABs whose MRREL rows may
    assert edges — None defaults to ``source_filter``, ``("*",)``
    disables the filter entirely."""
    conso = (_read_rrf(spark, f"{rrf_dir}/MRCONSO.RRF", MRCONSO_MIN_COLS)
             .select(F.col("_c0").alias("cui"), F.col("_c1").alias("lat"),
                     F.col("_c2").alias("ts"), F.col("_c6").alias("ispref"),
                     F.col("_c11").alias("sab"), F.col("_c12").alias("tty"),
                     F.col("_c13").alias("code"), F.col("_c14").alias("str"),
                     F.col("_c16").alias("suppress"))
             # FILE order, captured at the scan (ordered CSV splits →
             # monotone ids): the reference's name choice is
             # first-in-file, not alphabetical
             .withColumn("_ord", F.monotonically_increasing_id()))
    if languages:
        conso = conso.filter(F.col("lat").isin(*languages))
    # SRC V-<SAB> root markers are exempt from BOTH the source and the
    # semantic-type filter — but only when their own SAB (the code's
    # V- suffix) passes the source filter (ConceptImporter.java:836-847:
    # `code.startsWith("V-") && isIncluded(filterSources,
    # code.substring(2))`; isIncluded is vacuously true with no filter).
    # Without this, a filtered load severs every edge into the SRC root
    # atoms and the roots table comes back empty.
    root_marker = F.col("code").startswith("V-")
    if source_filter:
        root_marker = root_marker & F.substring("code", 3, 2048) \
            .isin(*source_filter)
    if source_filter:
        conso = conso.filter(F.col("sab").isin(*source_filter) | root_marker)
    if suppress_obsolete:
        # empty fields scan as NULL — keep them (only explicit 'O' drops)
        conso = conso.filter(~F.col("suppress").eqNullSafe("O"))

    sty = (_read_rrf(spark, f"{rrf_dir}/MRSTY.RRF", 4)
           .select(F.col("_c0").alias("cui"), F.col("_c1").alias("tui"),
                   F.col("_c3").alias("sty"))
           .distinct())
    if semtype_filter:
        # semantic-type prefetch: keep only CUIs holding an allowed TUI
        # (ConceptImporter.java:736-769,843-847) — a semi-join, and the
        # kosher-CUI side is terminology-sized → broadcast
        kosher = sty.filter(F.col("tui").isin(*semtype_filter)
                            | F.col("sty").isin(*semtype_filter)) \
                    .select("cui").distinct()
        # left join + flag instead of a semi-join: V-* root markers pass
        # regardless of semantic type (":843-847, except if it is a
        # root"); kosher is terminology-sized → broadcast
        conso = (conso.join(F.broadcast(kosher.withColumn("_k", F.lit(1))),
                            "cui", "left")
                 .filter(F.col("_k").isNotNull() | root_marker)
                 .drop("_k"))

    # preferred name (ConceptImporter.java:866-888): the FIRST
    # TS='P' & ISPREF='Y' row in FILE order names the concept — except
    # under a source filter, where a preferred row from a source
    # EARLIER in the filter list takes priority (indexOf strict-less).
    # A CUI with no preferred row keeps its first atom's text (the
    # Concept constructor name, never reassigned).
    from pyspark.sql import Window
    pref = (F.col("ts") == "P") & (F.col("ispref") == "Y")
    if source_filter:
        pos = F.array_position(
            F.array(*[F.lit(s) for s in source_filter]), F.col("sab"))
        prio = F.when(pos == 0, F.lit(1 << 30)).otherwise(pos)
    else:
        prio = F.lit(0)
    w = Window.partitionBy("cui").orderBy(
        F.when(pref, 0).otherwise(1),
        F.when(pref, prio).otherwise(F.lit(0)),
        "_ord")
    atoms = conso.filter(F.col("sab") != "SRC")
    names = (atoms.withColumn("_rk", F.row_number().over(w))
             .filter(F.col("_rk") == 1)
             .select("cui", F.col("str").alias("name")))

    concepts = (atoms.groupBy("cui")
                .agg(F.sort_array(F.collect_set("str")).alias("synonyms"),
                     F.sort_array(F.collect_set("sab")).alias("sources"),
                     F.sort_array(F.collect_set(
                         F.struct("sab", "code"))).alias("codes"))
                .join(names, "cui", "left")
                .join(sty.groupBy("cui")
                      .agg(F.sort_array(F.collect_set("tui")).alias("semtypes")),
                      "cui", "left")
                .withColumn("semtypes",
                            F.coalesce("semtypes", F.array().cast("array<string>"))))

    rel = (_read_rrf(spark, f"{rrf_dir}/MRREL.RRF", 11)
           .select(F.col("_c0").alias("cui1"), F.col("_c3").alias("rel"),
                   F.col("_c4").alias("cui2"), F.col("_c10").alias("sab")))
    # relation-source filter (ConceptImporter.java:1110-1114): an MRREL
    # row asserts an edge only when ITS OWN SAB (field 10) is an included
    # hierarchy source or SRC — an edge asserted solely by an excluded
    # source must not land even when both endpoint CUIs survive the
    # MRCONSO filter via other sources
    hs = None if hierarchy_sources is None else tuple(hierarchy_sources)
    rel_sources = tuple(source_filter) if hs is None \
        else () if "*" in hs else hs
    if rel_sources:
        rel = rel.filter(F.col("sab").isin(*rel_sources)
                         | (F.col("sab") == "SRC"))
    broader = rel.filter(F.col("rel").isin(*BROADER_RELS)) \
        .select(F.col("cui1").alias("cui"), F.col("cui2").alias("parent"))
    inverse = rel.filter(F.col("rel").isin(*NARROWER_RELS)) \
        .select(F.col("cui2").alias("cui"), F.col("cui1").alias("parent"))
    relations = (broader.unionByName(inverse)
                 .filter(F.col("cui") != F.col("parent")).distinct())
    # reference fidelity (ConceptImporter.java:1129-1147, pinned by the
    # rrf-hierarchy parity leg): an MRREL edge lands only when BOTH
    # endpoint concepts exist in the loaded map (which includes the SRC
    # atoms), and SRC-only↔SRC-only mappings are skipped as useless.
    # One aggregation over the loaded atoms answers both: its keys are
    # the loaded CUIs, and ``_non_src`` is 0 for the SRC-only ones. It
    # is terminology-sized → broadcast, and inner-joined (unique keys)
    # at each endpoint as the SAME frame under two aliases, so both
    # joins share one broadcast.
    loaded = (conso.groupBy("cui")
              .agg(F.max(F.when(F.col("sab") != "SRC", 1).otherwise(0))
                   .alias("_non_src")))
    own, par = loaded.alias("own"), loaded.alias("par")
    relations = (relations.alias("r")
                 .join(F.broadcast(own), F.col("r.cui") == F.col("own.cui"))
                 .join(F.broadcast(par),
                       F.col("r.parent") == F.col("par.cui"))
                 .filter((F.col("own._non_src") == 1)
                         | (F.col("par._non_src") == 1))
                 .select("r.cui", "r.parent"))
    # root table (ConceptImporter.java:833 + :1169-1177): SRC atoms
    # whose code starts with V- are root CANDIDATES; a candidate is a
    # root iff some surviving edge points at it (it acquired a NARROWER
    # relation during the MRREL pass). Carries the SRC atom's preferred
    # string as `name` — SRC atoms are excluded from the searchable
    # concept table, but getRootConcepts() consumers (e.g. the
    # terminology template) still name roots by it.
    roots = (conso.filter((F.col("sab") == "SRC")
                          & F.col("code").startswith("V-"))
             .withColumn("_rk", F.row_number().over(w))
             .filter(F.col("_rk") == 1)
             .select("cui", F.col("str").alias("name"))
             .join(relations.select(F.col("parent").alias("cui")).distinct(),
                   "cui", "left_semi"))

    # MRDEF and MRSAB are optional: one FileSystem.exists check each
    defs_df = sab_df = None
    if _exists(spark, f"{rrf_dir}/MRDEF.RRF"):
        defs_df = (_read_rrf(spark, f"{rrf_dir}/MRDEF.RRF", 6)
                   .select(F.col("_c0").alias("cui"), F.col("_c4").alias("sab"),
                           F.col("_c5").alias("definition")))
    if _exists(spark, f"{rrf_dir}/MRSAB.RRF"):
        # the reference's (quirky) field mapping, reproduced as-is:
        # Source.description = fields[4] (SON, the human-readable
        # source name) and Source.name = fields[23]
        # (ConceptImporter.java:709-717); the sourceMap keeps only
        # filter-listed sources when a filter is set (:718-720)
        sab_df = (_read_rrf(spark, f"{rrf_dir}/MRSAB.RRF", 24)
                  .select(F.col("_c3").alias("sab"),
                          F.col("_c23").alias("name"),
                          F.col("_c6").alias("version"),
                          F.col("_c4").alias("description")))
        if source_filter:
            sab_df = sab_df.filter(F.col("sab").isin(*source_filter))

    out = {"concepts": concepts, "semtypes": sty, "relations": relations,
           "roots": roots}
    if defs_df is not None:
        out["definitions"] = defs_df
    if sab_df is not None:
        out["sources"] = sab_df
    return out


def concepts_for_index(tables: dict[str, DataFrame]) -> DataFrame:
    """Project the loadRRF output into build_index_df's input schema
    (incl. the collected (sab, code) pairs feeding the codeMap lookup,
    NobleCoderTerminology.java:1092-1095)."""
    return tables["concepts"].select(
        "cui", F.coalesce("name", F.try_element_at("synonyms", F.lit(1))).alias("name"),
        "synonyms", "semtypes", "sources", "codes")


def conso_row(cui: str, s: str, lat: str = "ENG", ts: str = "P",
              ispref: str = "Y", sab: str = "TST", tty: str = "PT",
              code: str = "", suppress: str = "") -> tuple:
    r = [""] * MRCONSO_MIN_COLS
    r[0], r[1], r[2], r[6] = cui, lat, ts, ispref
    r[11], r[12], r[13], r[14], r[16] = sab, tty, code or cui, s, suppress
    return tuple(r)


def sty_row(cui: str, tui: str, sty: str) -> tuple:
    return (cui, tui, "", sty)


def rel_row(cui1: str, rel: str, cui2: str, sab: str = "TST") -> tuple:
    r = [""] * 11
    r[0], r[3], r[4], r[10] = cui1, rel, cui2, sab
    return tuple(r)


def sab_row(sab: str, son: str, version: str, ssn: str) -> tuple:
    """Positional MRSAB fields: RSAB=3, SON=4, SVER=6, 23. The loader
    maps them the reference's way (ConceptImporter.java:709-717):
    Source.description = SON (field 4), Source.name = field 23."""
    r = [""] * 24
    r[3], r[4], r[6], r[23] = sab, son, version, ssn
    return tuple(r)


def write_fixture_rrf(path: str, mrconso: list[tuple], mrsty: list[tuple],
                      mrrel: list[tuple], mrdef: list[tuple] = (),
                      mrsab: list[tuple] = ()) -> None:
    """Write tiny pipe-delimited RRF fixture files (FIXTURES.md §2) for
    tests. Row shapes match the full positional layouts."""
    import os

    os.makedirs(path, exist_ok=True)

    def pad(row: tuple, n: int) -> str:
        vals = list(row) + [""] * (n - len(row))
        return "|".join(str(v) for v in vals)

    def dump(name: str, rows, n: int) -> None:
        with open(os.path.join(path, name), "w") as f:
            for r in rows:
                f.write(pad(r, n) + "\n")

    dump("MRCONSO.RRF", mrconso, MRCONSO_MIN_COLS)
    dump("MRSTY.RRF", mrsty, 4)
    dump("MRREL.RRF", mrrel, 11)
    if mrdef:
        dump("MRDEF.RRF", mrdef, 6)
    if mrsab:
        dump("MRSAB.RRF", mrsab, 24)


def concepts_from_sql(spark, url: str, table: str,
                      properties: dict | None = None,
                      partition_column: str | None = None,
                      num_partitions: int = 8):
    """JDBC terminology source (SURVEY §2.1 optional row; the reference's
    SQL-database terminology lives behind its repository abstraction).
    Reads a relational concepts table via ``spark.read.jdbc`` and
    projects it into build_index_df's input schema with
    ``concepts_from_sql_df``. Expected columns: cui, name, and either
    array or '|'-joined string columns for synonyms/semtypes/sources.

    ``partition_column`` + ``num_partitions`` split the read for large
    vocabularies (JDBC reads are single-threaded otherwise)."""
    reader = spark.read
    kwargs = {"url": url, "table": table,
              "properties": properties or {}}
    if partition_column is not None:
        bounds = spark.read.jdbc(
            url, f"(SELECT min({partition_column}) lo,"
                 f" max({partition_column}) hi FROM {table}) b",
            properties=properties or {}).first()
        # POSITIONAL access: databases that upper-case unquoted aliases
        # (Oracle, H2, DB2) return these columns as LO/HI, and Row
        # lookup is case-sensitive
        lo, hi = bounds[0], bounds[1]
        if lo is None or hi is None:
            # empty table: NULL bounds would make spark.read.jdbc fail
            # with an opaque error — fall back to the unpartitioned read
            pass
        else:
            kwargs.update(column=partition_column, lowerBound=lo,
                          upperBound=hi,
                          numPartitions=num_partitions)
    return concepts_from_sql_df(reader.jdbc(**kwargs))


def concepts_from_sql_df(df: DataFrame) -> DataFrame:
    """Normalize a relational concepts table (array OR '|'-delimited
    string list columns) into build_index_df's input schema — the
    testable core of the JDBC source."""
    from pyspark.sql import types as T

    def as_array(col: str) -> F.Column:
        if col not in df.columns:
            return F.array().cast("array<string>")
        if isinstance(df.schema[col].dataType, T.ArrayType):
            return F.col(col)
        return F.filter(F.split(F.coalesce(F.col(col), F.lit("")), r"\|"),
                        lambda x: x != "")
    return df.select(
        F.col("cui").cast("string").alias("cui"),
        F.coalesce(F.col("name"),
                   F.try_element_at(as_array("synonyms"), F.lit(1))).alias("name"),
        as_array("synonyms").alias("synonyms"),
        as_array("semtypes").alias("semtypes"),
        as_array("sources").alias("sources"))
