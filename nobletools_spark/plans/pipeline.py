"""Checkpoint-resumable staged pipeline with per-stage lineage totals
and metrics tables (north_rule: "resumable from checkpoint with lineage
+ metrics").

The reference resumes its terminology import at row granularity by
persisting per-file offsets (ConceptImporter.java:781-795,901 —
infoMap["MRCONSO.RRF"] = rows processed) and crash-recovers on heap
pressure (MemoryManager, NobleCoderTerminology.crash :851-860). The
Spark-native equivalent is stage-granular: every stage materializes to a
deterministic path with a manifest keyed by an input fingerprint; a
rerun skips any stage whose manifest matches (its parquet IS the
checkpoint — on a cluster these are Iceberg snapshots and the manifest
is the snapshot id). Stage skipping makes a killed 10-hour job resume at
the last completed stage.

Like the reference's offsets, the bookkeeping rides on the work: each
computed stage is ONE Spark job. The stage write carries an observed
aggregate (row count + order-insensitive bit_xor of row hashes), so the
totals come from the write itself, not from a re-scan; they go into the
stage manifest, which is written through the Hadoop FS API (no job).

Under <out_dir>:
- <stage>/            — the stage output (parquet; Iceberg in prod)
- <stage>.manifest.json — fingerprint, run_id, schema and the write's
  observed totals (rows, checksum); ``verify_lineage`` re-aggregates
  the stored parquet against them, so silent corruption or loss of a
  part file is detectable
- _metrics/           — one row per stage run: (run_id, stage, status ∈
  computed|resumed, rows, wall_s, input_fingerprint, ts)
- _lineage/           — one row per computed stage: (run_id, stage,
  part_id, rows, checksum), part_id NULL (the schema keeps the column
  from the older per-partition grain, so appends into an existing
  out_dir stay compatible). Both tables are appended once per run, one
  parquet file each, written on the driver (the rows are already
  there) through the Hadoop FS API — again no job.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from nobletools_spark.session import hadoop_fs


@dataclass
class Stage:
    name: str
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    partition_by: tuple[str, ...] = ()
    # operator knobs that determine this stage's OUTPUT (chunk sizes,
    # budgets, k, …): hashed into the stage fingerprint so changing a
    # knob forces a recompute instead of silently resuming stale
    # parquet. Empty dict contributes nothing (keeps fingerprints of
    # knob-less stages stable across versions).
    params: dict = field(default_factory=dict)


@dataclass
class StageReport:
    stage: str
    status: str          # computed | resumed
    rows: int
    wall_s: float


def _fingerprint(payload: dict) -> str:
    import hashlib

    return hashlib.md5(
        json.dumps(payload, sort_keys=True).encode()).hexdigest()


def _stable_digest(obj) -> str:
    """md5 of a canonical rendering of (nested) dicts / dataclasses /
    sequences — dict keys sorted, so the digest is independent of
    insertion order. Used to fold output-determining objects (the
    terminology index, MatchConfig, template tables) into stage
    fingerprints. Streams into the hash — a full-index render
    materialized as one joined string would transiently double a
    multi-GB driver-side terminology in memory on EVERY pipeline
    construction, including fully-resumed runs."""
    import dataclasses
    import hashlib

    md5 = hashlib.md5()

    def feed(s: str) -> None:
        md5.update(s.encode())
        md5.update(b"\x00")

    def render(o):
        if dataclasses.is_dataclass(o) and not isinstance(o, type):
            feed(type(o).__name__)
            for f in sorted(dataclasses.fields(o), key=lambda f: f.name):
                feed(f.name)
                render(getattr(o, f.name))
        elif isinstance(o, dict):
            feed("{")
            for k in sorted(o, key=repr):
                feed(repr(k))
                render(o[k])
            feed("}")
        elif isinstance(o, (list, tuple)):
            feed("[")
            for x in o:
                render(x)
            feed("]")
        else:
            feed(repr(o))

    render(obj)
    return md5.hexdigest()


def _cached_digest(obj) -> str:
    """_stable_digest memoized ON the artifact (the terminology /
    ConText index): the digest is a pure function of the object and the
    full-index walk is minutes of driver CPU at real UMLS size — paid
    once per loaded artifact, not once per pipeline construction (a
    resumed run would otherwise re-walk a multi-GB structure just to
    conclude nothing changed). Mutating a cached index in place voids
    the memo's validity — build a new index instead (the codebase-wide
    convention; every loader returns a fresh object)."""
    d = getattr(obj, "_digest_cache", None)
    if d is None:
        d = _stable_digest(obj)
        try:
            object.__setattr__(obj, "_digest_cache", d)
        except Exception:
            pass  # frozen/slots object: recompute next time
    return d


def _df_digest(df) -> str:
    """Content digest of a TERMINOLOGY-SIZED DataFrame (templates,
    components): row-order independent, driver-collected — never call
    on a corpus-sized table."""
    # key=repr: raw tuple comparison raises TypeError when rows tie on
    # a prefix and differ None-vs-str in the next column (e.g. template
    # items with and without a concept attribute)
    rows = sorted((tuple(r) for r in df.collect()), key=repr)
    return _stable_digest(rows)


def _fs_read_json(spark: SparkSession, path: str) -> dict | None:
    """A JSON sidecar (stage manifest, matcher state) read through the
    Hadoop FS API. None when absent, and also when it fails its
    checksum: a file edited outside Hadoop leaves its ``.crc`` sidecar
    stale, and a manifest that cannot be trusted must make its stage
    unverified and recomputed, not crash the run."""
    from py4j.protocol import Py4JJavaError

    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # py4j can't fill a Python-side buffer in place (readFully's
        # mutations don't propagate back) — let the JVM build the
        # string (commons-io ships with Spark)
        jvm = spark.sparkContext._jvm
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    except Py4JJavaError as e:
        if (e.java_exception.getClass().getName()
                != "org.apache.hadoop.fs.ChecksumException"):
            raise
        return None
    finally:
        stream.close()
    return json.loads(text)


def _fs_write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    fs, p = hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def _fs_write_json(spark: SparkSession, path: str, obj: dict) -> None:
    _fs_write_bytes(spark, path, json.dumps(obj).encode())


def _fs_append_parquet(spark: SparkSession, path: str, rows: list[tuple],
                       schema) -> None:
    """Append ``rows`` (a pyarrow ``schema``) to the parquet table at
    ``path`` as one new file, encoded on the driver and written through
    the Hadoop FS API — no Spark job for rows the driver already holds.
    The file is written under a hidden name (readers skip ``.``-files)
    and renamed into place, so a crash mid-write adds nothing a reader
    would pick up."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(zip(*rows), schema)],
        schema=schema), buf)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp, dst = f"{path}/.{name}.tmp", f"{path}/{name}"
    _fs_write_bytes(spark, tmp, buf.getvalue())
    fs, src = hadoop_fs(spark, tmp)
    if not fs.rename(src, hadoop_fs(spark, dst)[1]):
        raise OSError(f"could not rename {tmp} to {dst}")


def _fs_delete(spark: SparkSession, path: str) -> None:
    fs, p = hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, False)


def _input_content_fingerprint(spark: SparkSession, name: str,
                               df: DataFrame) -> dict:
    """Content identity of an input table: its source file listing with
    sizes + millisecond mtimes (the parquet-on-disk equivalent of an
    Iceberg snapshot id) plus the schema, resolved through the Hadoop
    FS API so HDFS/S3A inputs fingerprint like local ones. Changing
    the files at the same path — the silent-stale-resume trap —
    changes the fingerprint and forces a recompute. In-memory inputs
    (no backing files) contribute schema only; callers feeding
    non-file inputs must bump run_config when the data changes
    (documented in run())."""
    files = []
    try:
        for uri in sorted(df.inputFiles()):
            try:
                fs, p = hadoop_fs(spark, uri)
                st = fs.getFileStatus(p)
                files.append([uri, st.getLen(),
                              st.getModificationTime()])
            except Exception:  # noqa: BLE001 — unstattable source
                # record the failure mode explicitly: presence still
                # fingerprints, content changes at this uri do not
                files.append([uri, "unstat"])
    except Exception:  # noqa: BLE001 — streaming DFs raise on inputFiles
        pass
    return {"name": name, "files": files,
            "schema": df.schema.simpleString()}


def _totals(schema) -> list:
    """(rows, checksum) aggregates over a table of ``schema`` —
    checksum = bit_xor(xxhash64(row)), order-insensitive, 0 when empty.
    The row hash takes the columns sorted by name, because a
    ``partitionBy`` write moves the partition columns to the end on
    read-back; maps hash as their JSON (xxhash64 forbids MAP inputs)."""
    from pyspark.sql.types import MapType

    cols = [F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType)
            else F.col(f.name)
            for f in sorted(schema.fields, key=lambda f: f.name)]
    return [F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.bit_xor(F.xxhash64(*cols)),
                       F.lit(0)).alias("checksum")]


def partition_lineage(df: DataFrame) -> DataFrame:
    """(part_id, rows, checksum) per partition, with the ``_totals``
    aggregates: order-insensitive within and across partitions, so the
    bit_xor of the partition checksums is stable under shuffle
    reordering and equals the whole table's checksum."""
    return (df.groupBy(F.spark_partition_id().alias("part_id"))
            .agg(*_totals(df.schema)))


class Pipeline:
    """Ordered stages; ``run`` resumes completed ones from disk."""

    def __init__(self, out_dir: str, stages: list[Stage]):
        self.out_dir = out_dir.rstrip("/")
        self.stages = stages
        self.reports: list[StageReport] = []

    def _manifest_path(self, name: str) -> str:
        return f"{self.out_dir}/{name}.manifest.json"

    def run(self, spark: SparkSession, inputs: dict[str, DataFrame],
            run_config: dict | None = None,
            force: bool = False) -> dict[str, DataFrame]:
        """Run every stage, resuming those whose manifest matches.

        Crash consistency: a stage is complete once its manifest exists
        (it is written right after the stage parquet, and carries the
        write's totals), so a killed run resumes at the first stage
        without one. The ``_metrics`` and ``_lineage`` rows of every
        stage this run finished are appended once, from a ``finally``
        block — a stage that raises still leaves the rows of the stages
        before it.

        In-memory inputs (no backing files) fingerprint by schema only:
        bump ``run_config`` when their data changes."""
        import pyarrow as pa
        from pyspark.sql import Observation

        fs, root = hadoop_fs(spark, self.out_dir)
        fs.mkdirs(root)
        run_id = uuid.uuid4().hex[:12]
        results: dict[str, DataFrame] = dict(inputs)
        self.reports = []
        lineage: list[tuple] = []
        metrics: list[tuple] = []
        upstream_fp = _fingerprint({
            "config": run_config or {},
            "inputs": [_input_content_fingerprint(spark, n, inputs[n])
                       for n in sorted(inputs)]})
        try:
            for st in self.stages:
                path = f"{self.out_dir}/{st.name}"
                mpath = self._manifest_path(st.name)
                # fingerprint chains: a stage is resumable only if its
                # config, params, the input-table set, AND every
                # upstream stage fingerprint are unchanged
                payload = {"stage": st.name, "upstream": upstream_fp}
                if st.params:
                    payload["params"] = st.params
                fp = _fingerprint(payload)
                t0 = time.perf_counter()
                manifest = None if force else _fs_read_json(spark, mpath)
                if manifest is not None and manifest.get("fingerprint") == fp:
                    df = self._read_stage(spark, st.name, manifest)
                    status, rows = "resumed", manifest["rows"]
                else:
                    # drop the stale manifest FIRST: a crash
                    # mid-overwrite must leave an unresumable stage, not
                    # a surviving manifest pointing at partial parquet
                    _fs_delete(spark, mpath)
                    df = st.fn(spark, results)
                    schema = df.schema
                    obs = Observation(f"{st.name}-{run_id}")
                    writer = (df.observe(obs, *_totals(schema))
                              .write.mode("overwrite"))
                    if st.partition_by:
                        writer = writer.partitionBy(*st.partition_by)
                    writer.parquet(path)
                    totals = obs.get
                    rows, checksum = totals["rows"], totals["checksum"]
                    manifest = {"fingerprint": fp, "rows": rows,
                                "checksum": checksum, "run_id": run_id,
                                "schema": json.dumps(schema.jsonValue())}
                    _fs_write_json(spark, mpath, manifest)
                    df = self._read_stage(spark, st.name, manifest)
                    status = "computed"
                    lineage.append((None, rows, checksum, run_id, st.name))
                report = StageReport(st.name, status, rows,
                                     round(time.perf_counter() - t0, 4))
                results[st.name] = df
                self.reports.append(report)
                metrics.append((run_id, st.name, status, rows,
                                report.wall_s, fp, int(time.time())))
                upstream_fp = fp
        finally:
            text, i32, i64 = pa.string(), pa.int32(), pa.int64()
            for table, rows, schema in (
                    ("_lineage", lineage, pa.schema([
                        ("part_id", i32), ("rows", i64), ("checksum", i64),
                        ("run_id", text), ("stage", text)])),
                    ("_metrics", metrics, pa.schema([
                        ("run_id", text), ("stage", text), ("status", text),
                        ("rows", i64), ("wall_s", pa.float64()),
                        ("input_fingerprint", text), ("ts", i64)]))):
                if rows:
                    _fs_append_parquet(spark, f"{self.out_dir}/{table}",
                                       rows, schema)
        return results

    def _read_stage(self, spark: SparkSession, stage: str,
                    manifest: dict) -> DataFrame:
        """Read a stage's parquet with the manifest's schema: an empty
        stage (legit — e.g. a terminology disjoint from the corpus) can
        leave a dir without part files (AQE may coalesce 0 rows to 0
        tasks), which a schemaless read cannot infer a schema from."""
        reader = spark.read
        if manifest.get("schema"):
            from pyspark.sql.types import StructType

            reader = reader.schema(
                StructType.fromJson(json.loads(manifest["schema"])))
        return reader.parquet(f"{self.out_dir}/{stage}")

    def verify_lineage(self, spark: SparkSession, stage: str) -> bool:
        """Re-aggregate a stage's stored output and compare its row
        count and checksum with the totals its write recorded in the
        manifest — detects bit-rot / partial overwrite / a lost part
        file between runs."""
        manifest = _fs_read_json(spark, self._manifest_path(stage))
        if manifest is None:
            return False  # crashed before/while writing the manifest
        if "checksum" not in manifest:
            return False  # older layout (totals lived in _lineage):
            # report unverified instead of raising
        now = (partition_lineage(self._read_stage(spark, stage, manifest))
               .agg(F.coalesce(F.sum("rows"), F.lit(0)).alias("rows"),
                    F.coalesce(F.bit_xor("checksum"), F.lit(0))
                    .alias("checksum"))
               .collect()[0])
        return (now["rows"] == manifest["rows"]
                and now["checksum"] == manifest["checksum"])


def kg_stages(index, context=None, cfg=None,
              cooccurrence_salt: int = 8, templates_df=None,
              components_df=None, incremental: bool = False,
              asserted: bool = False) -> list[Stage]:
    """The standard KG-construction pipeline as resumable stages:
    mentions → (mention triples, co-occurrence triples) → triples union.
    isa/semtype triples join in when the inputs dict carries
    ``isa_edges`` / ``semtypes`` DataFrames. With a ``templates_df``
    (e.g. from templates_from_xml), an ``item_instances`` extraction
    stage runs after mentions — sectioning the documents and resolving
    template items/components against the mention stream.

    Every run also persists a ``doc_fp`` state stage (span-sequence
    content fingerprints). With ``incremental=True`` the mentions stage
    consumes the PREVIOUS run's state — the inputs dict must carry
    ``prev_doc_fp``, ``prev_mentions``, ``prev_mention_triples``, and
    ``prev_cooccurrence`` (that run's stage outputs) — and only fingerprint-changed/new documents
    go through the matcher (operators/incremental.py); the result is
    row-identical to a full re-annotate, so every downstream stage is
    untouched. The co-occurrence stage also goes incremental: it
    delta-aggregates the previous pair table with the increment's
    removed/added mention rows (derived from materialized stage
    parquet — nothing is re-annotated) instead of re-aggregating the
    whole corpus. The previous-run tables are ordinary pipeline inputs,
    so their file fingerprints fold into this run's stage chain (and
    ``incremental`` flips the mentions fingerprint, so toggling the
    mode never resumes the other mode's parquet).

    CONTRACT: ``incremental=True`` requires the SAME matcher
    determinants (index, cfg, context) that produced
    ``prev_mentions`` — carried-forward rows were minted by THAT
    matcher, and no fingerprint can retro-fix them. The SAME
    ``asserted`` flag is part of the contract too: carried
    ``prev_mention_triples`` / ``prev_cooccurrence`` rows were
    materialized under the previous run's gate. Callers must fall
    back to a full run when the terminology or config changed;
    ``tools/run_pipeline.py`` enforces this with a matcher sidecar
    (``kg_matcher.json``) written per run and compared on
    ``--incremental-from``."""
    from nobletools_spark.model import MatchConfig
    from nobletools_spark.operators.matcher import annotate
    from nobletools_spark.operators.triples import (
        asserted_mentions,
        cooccurrence_triples,
        isa_closure_triples,
        mention_triples,
        semtype_triples,
    )

    if asserted and context is None:
        # without ConText the mention table has no modifiers column and
        # the gate is a silent identity — an "assertion-gated" run that
        # gates nothing; fail loudly like run_pipeline/build_kg do
        raise ValueError("asserted=True requires a ConText index "
                         "(the gate reads the modifiers map)")
    # assertion gate (asserted=True): only ConText-asserted mentions
    # (not negated / other-experiencer / hypothetical / hedged) become
    # graph edges. Applied where mention_triples is built (full-mode
    # co-occurrence reads that gated table) and to the incremental
    # co-occurrence deltas — the mention TABLE itself keeps all rows
    # with their modifiers, so the gate is a reversible materialization
    # choice, not data loss; prev-run rows in incremental mode carry
    # their modifiers through stage parquet and gate identically.
    gate = asserted_mentions if asserted else (lambda df: df)

    cfg = cfg or MatchConfig()
    # every closure-captured output determinant folds into the stage
    # fingerprints (same contract as prep_stages): a changed index,
    # MatchConfig, ConText lexicon, salt, or template table must
    # recompute, never resume stale parquet
    idx_obj = index.value if hasattr(index, "value") else index
    mention_params = {"index": _cached_digest(idx_obj),
                      "cfg": _stable_digest(cfg)}
    if context is not None:
        ctx_obj = context.value if hasattr(context, "value") else context
        mention_params["context"] = _cached_digest(ctx_obj)

    if incremental:
        mention_params["incremental"] = True

    def s_mentions(spark, r):
        full = lambda d: annotate(d, index, cfg, context=context)  # noqa: E731
        if not incremental:
            return full(r["documents"])
        from nobletools_spark.operators.incremental import (
            incremental_mentions,
        )

        return incremental_mentions(r["documents"], r["prev_doc_fp"],
                                    r["prev_mentions"], full)

    def s_doc_fp(spark, r):
        from nobletools_spark.operators.incremental import doc_fingerprints

        return doc_fingerprints(r["documents"])

    def _unchanged_ids(r):
        """doc_ids whose fingerprint matches the previous run's —
        derived from the two materialized skinny state tables."""
        cur = r["doc_fp"].select("doc_id", F.col("fp").alias("_new_fp"))
        return (r["prev_doc_fp"].join(cur, "doc_id")
                .filter(F.col("fp") == F.col("_new_fp"))
                .select("doc_id"))

    def s_mention_triples(spark, r):
        if not incremental:
            return mention_triples(gate(r["mentions"])).drop("doc_id")
        # (doc, cui) triples key on doc_id, so carry-forward is exact:
        # unchanged docs' triples come from the previous run's parquet
        # and only the increment pays the distinct shuffle — the
        # corpus-wide distinct disappears from the incremental path
        unchanged = _unchanged_ids(r)
        carried = r["prev_mention_triples"].join(
            unchanged.withColumnRenamed("doc_id", "subj"), "subj")
        fresh_m = r["mentions"].join(unchanged, "doc_id", "left_anti")
        fresh = mention_triples(gate(fresh_m)).drop("doc_id")
        return carried.select(*fresh.columns).unionByName(fresh)

    def s_cooccurrence(spark, r):
        if not incremental:
            # pairs from the mention_triples stage parquet: it already
            # is the gated, distinct (doc, cui) set, so no distinct
            # shuffle re-runs over the mention rows (and, without one,
            # no persisted projection outlives the run)
            doc_cuis = r["mention_triples"].select(
                F.col("subj").alias("doc_id"), F.col("obj").alias("cui"))
            return cooccurrence_triples(doc_cuis, cooccurrence_salt,
                                        assume_distinct=True)
        # delta aggregation (incremental-view maintenance): derive the
        # row deltas from ALREADY-MATERIALIZED tables — this run's
        # mentions/doc_fp stage parquet and the previous run's state —
        # so no document is re-annotated here; the pair aggregation
        # touches only (previous pair table + increment-sized deltas)
        from nobletools_spark.operators.incremental import (
            incremental_cooccurrence,
        )

        unchanged = _unchanged_ids(r)
        # the deltas must gate like the prev pair table was built
        # (run_pipeline's sidecar rejects an asserted-flag mismatch)
        removed = gate(r["prev_mentions"]).join(unchanged, "doc_id",
                                                "left_anti")
        added = gate(r["mentions"]).join(unchanged, "doc_id", "left_anti")
        return incremental_cooccurrence(r["prev_cooccurrence"], removed,
                                        added, cooccurrence_salt)

    def s_triples(spark, r):
        from nobletools_spark.operators.canonical import (
            canonical_map,
            canonicalize_kg,
        )

        t = r["mention_triples"].select("subj", "pred", "obj")
        t = t.unionByName(
            r["cooccurrence"].select("subj", "pred", "obj"))
        if "isa_edges" in r:
            t = t.unionByName(
                isa_closure_triples(r["isa_edges"]).select("subj", "pred", "obj"))
        if "semtypes" in r:
            t = t.unionByName(
                semtype_triples(r["semtypes"]).select("subj", "pred", "obj"))
        if "synonym_edges" in r:
            # CUI canonicalization folds alias concepts before the
            # write — predicate-aware (doc subjects keep their ids,
            # pairs re-orient, post-fold tautologies drop) so the
            # canonicalized snapshot passes its own kg_integrity gate
            t = canonicalize_kg(t, canonical_map(r["synonym_edges"]))
        return t

    def s_items(spark, r):
        from nobletools_spark.operators.templates import (
            extract_items,
            sections_from_docs,
        )

        edges = r.get("isa_edges")
        if edges is None:
            from nobletools_spark.session import local_table

            edges = local_table(spark, [], "cui string, parent string")
        return extract_items(r["mentions"], edges, templates_df,
                             sections_df=sections_from_docs(r["documents"]),
                             components_df=components_df)

    emit_params = {"asserted": True} if asserted else {}
    stages = [
        Stage("mentions", s_mentions, params=mention_params),
        Stage("mention_triples", s_mention_triples, params=emit_params),
        Stage("cooccurrence", s_cooccurrence,
              params={"salt": cooccurrence_salt, **emit_params}),
        Stage("triples", s_triples, partition_by=("pred",)),
    ]
    if incremental:
        # delta cooccurrence consumes this run's doc_fp → hoist it
        # ahead of the aggregation. Safe for the linear chain: the
        # incremental mentions fingerprint already diverges from full
        # mode, so no full-mode checkpoint could resume here anyway
        stages.insert(1, Stage("doc_fp", s_doc_fp))
    if templates_df is not None:
        # appended LAST: the linear fingerprint chain means inserting
        # mid-list would invalidate existing mention_triples/
        # cooccurrence/triples checkpoints that don't consume this
        # stage; its own inputs (mentions + documents) are available
        # regardless of position
        item_params = {"templates": _df_digest(templates_df)}
        if components_df is not None:
            item_params["components"] = _df_digest(components_df)
        stages.append(Stage("item_instances", s_items,
                            params=item_params))
    if not incremental:
        # appended last (same linear-chain reasoning as item_instances):
        # the (doc_id, fp) state table the NEXT run's incremental
        # mentions stage consumes as prev_doc_fp. Incremental runs
        # hoisted it ahead of the delta aggregation instead.
        stages.append(Stage("doc_fp", s_doc_fp))
    return stages


def flatten_documents(docs: DataFrame) -> DataFrame:
    """North-rule interleaved tables (doc_id, spans) flatten to
    (doc_id, text): NON-EMPTY text spans concatenated in span order
    (media spans belong to the KG pipeline, not corpus prep;
    empty/NULL text spans would inject phantom '' tokens into every
    downstream whitespace tokenization). Tables already carrying a
    text column pass through unchanged."""
    if "text" in docs.columns:
        return docs
    from nobletools_spark.functions.ids import doc_id_col

    return docs.select(doc_id_col(docs),
                       flatten_text_col().alias("text"))


def flatten_text_col():
    """The flatten expression alone — for callers (e.g. streaming
    dedup) that must ADD a text column while keeping their other
    columns (event-time, metadata) instead of projecting them away."""
    return F.concat_ws(" ", F.transform(
        F.filter(F.col("spans"),
                 lambda s: (s["kind"] == F.lit("text"))
                 & (F.length(F.coalesce(s["text"], F.lit(""))) > 0)),
        lambda s: s["text"]))


def prep_stages(*, filter_kw: dict | None = None,
                line_min_count: int = 2, line_min_len: int = 10,
                near_kw: dict | None = None,
                benchmark_texts: tuple[str, ...] = (),
                budgets=None, group_col: str | None = None,
                chunk_tokens: int = 512, overlap: int = 64,
                vocab_k: int | None = None,
                pack_seq_len: int | None = None,
                pack_kw: dict | None = None) -> list[Stage]:
    """The corpus-prep (training-data) pipeline as resumable stages:

        decisions → filtered → line_dedup → near_dedup
        [→ decontaminated] [→ mix_sample → mixed] → chunks
        [→ vocab] [→ packed]

    Every stage materializes a (doc_id, text) corpus snapshot (plus the
    decision/sample side tables), so a killed multi-day prep job
    resumes at the last completed stage with the same
    manifest-fingerprint + lineage-totals machinery as
    kg_stages. The optional stages join in when ``benchmark_texts``
    (13-gram decontamination) / ``budgets`` (token-budget mixture
    sampling) are provided; they sit before chunking so the chunk
    stage always consumes the final surviving corpus. ``vocab_k``
    appends a top-k tokenizer-vocabulary side table over the final
    corpus; ``pack_seq_len`` appends the concat-and-chop sequence
    layout (``pack_kw`` forwards n_shards / sep_tokens / salt) — both
    read the final corpus, not the chunk table, since packing and
    chunking are alternative layout strategies."""
    from nobletools_spark.operators.dedup import (
        drop_near_duplicates,
        flag_contaminated,
        strip_duplicated_lines,
    )
    from nobletools_spark.functions.ids import doc_id_col
    from nobletools_spark.operators.textstats import (
        chunk_documents,
        filter_decisions,
        pack_sequences,
        sample_to_token_budget,
        vocab_top_k,
    )

    def s_decisions(spark, r):
        return filter_decisions(flatten_documents(r["documents"]),
                                **(filter_kw or {}))

    def s_filtered(spark, r):
        keep = r["decisions"].filter(F.col("keep")).select("doc_id")
        flat = flatten_documents(r["documents"])
        return (flat.select(doc_id_col(flat), "text").join(keep, "doc_id"))

    def s_line(spark, r):
        return strip_duplicated_lines(r["filtered"], line_min_count,
                                      line_min_len)

    def s_near(spark, r):
        return drop_near_duplicates(r["line_dedup"], **(near_kw or {}))

    def s_decon(spark, r):
        flags = flag_contaminated(r["near_dedup"], list(benchmark_texts))
        return r["near_dedup"].join(
            flags.filter(F.col("contaminated")).select("doc_id"),
            "doc_id", "left_anti")

    # stage params: only non-default knobs contribute (so knob-less
    # invocations keep their pre-existing fingerprints and resume
    # across versions), except content that could silently go stale —
    # benchmark texts, budgets — which always fingerprints
    import hashlib

    line_params = ({"min_count": line_min_count, "min_len": line_min_len}
                   if (line_min_count, line_min_len) != (2, 10) else {})
    stages = [
        Stage("decisions", s_decisions, params=dict(filter_kw or {})),
        Stage("filtered", s_filtered),
        Stage("line_dedup", s_line, params=line_params),
        Stage("near_dedup", s_near, params=dict(near_kw or {})),
    ]
    corpus = "near_dedup"
    if benchmark_texts:
        bench_md5 = hashlib.md5(
            "\x00".join(benchmark_texts).encode()).hexdigest()
        stages.append(Stage("decontaminated", s_decon,
                            params={"benchmarks_md5": bench_md5}))
        corpus = "decontaminated"

    if budgets is not None:
        src = corpus

        def s_mix(spark, r):
            d = r[src]
            if group_col is not None:
                # every corpus snapshot is (doc_id, text); the grouping
                # column lives on the ORIGINAL documents input — re-join
                # it here (doc-keyed, survivors only)
                groups = r["documents"].select(doc_id_col(r["documents"]),
                                               group_col)
                d = d.join(groups, "doc_id")
            return sample_to_token_budget(d, budgets,
                                          group_col=group_col)

        def s_mixed(spark, r):
            return r[src].join(r["mix_sample"].select("doc_id"), "doc_id")

        mix_params = {"budgets": budgets, "group_col": group_col}
        stages += [Stage("mix_sample", s_mix, params=mix_params),
                   Stage("mixed", s_mixed)]
        corpus = "mixed"

    final = corpus

    def s_chunks(spark, r):
        return chunk_documents(r[final], chunk_tokens, overlap)

    chunk_params = ({"chunk_tokens": chunk_tokens, "overlap": overlap}
                    if (chunk_tokens, overlap) != (512, 64) else {})
    stages.append(Stage("chunks", s_chunks, params=chunk_params))
    if vocab_k is not None:
        stages.append(Stage(
            "vocab", lambda spark, r: vocab_top_k(r[final], vocab_k),
            params={"k": vocab_k}))
    if pack_seq_len is not None:
        stages.append(Stage(
            "packed", lambda spark, r: pack_sequences(
                r[final], pack_seq_len, **(pack_kw or {})),
            params={"seq_len": pack_seq_len, **(pack_kw or {})}))
    return stages
