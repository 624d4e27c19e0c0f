"""Checkpoint/resume + lineage + metrics (SURVEY.md §5.2 item 5: kill
after stage N, rerun, byte-identical triples)."""

import os

import pytest
from pyspark.sql import functions as F

from nobletools_spark.model import MatchConfig
from nobletools_spark.plans.pipeline import Pipeline, kg_stages
from nobletools_spark.sources.fixtures import (
    PYTEST_ISA_EDGES,
    pytest_index,
    synthetic_corpus_df,
)


@pytest.fixture(scope="module")
def pipe_run(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_out"))
    docs = synthetic_corpus_df(spark, 60, seed=7)
    edges = spark.createDataFrame(list(PYTEST_ISA_EDGES),
                                  "cui string, parent string")
    pipe = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    res = pipe.run(spark, {"documents": docs, "isa_edges": edges},
                   run_config={"corpus": "test60"})
    return out, docs, edges, pipe, res


def _collect_triples(res):
    return sorted(tuple(r) for r in
                  res["triples"].select("subj", "pred", "obj").collect())


def test_pipeline_outputs(spark, pipe_run):
    out, _, _, pipe, res = pipe_run
    assert [r.status for r in pipe.reports] == ["computed"] * 5
    triples = _collect_triples(res)
    assert triples
    preds = {t[1] for t in triples}
    assert preds == {"mentions-concept", "co-occurs-with", "isa"}
    # partitioned layout on disk
    assert any(d.startswith("pred=") for d in os.listdir(f"{out}/triples"))


def test_metrics_and_lineage_tables(spark, pipe_run):
    out, _, _, pipe, res = pipe_run
    m = spark.read.parquet(f"{out}/_metrics")
    assert {r.stage for r in m.collect()} >= {
        "mentions", "mention_triples", "cooccurrence", "triples"}
    lin = spark.read.parquet(f"{out}/_lineage")
    got = lin.groupBy("stage").agg(F.sum("rows").alias("n")).collect()
    by_stage = {r.stage: r.n for r in got}
    assert by_stage["mentions"] == res["mentions"].count()
    assert pipe.verify_lineage(spark, "triples")


def test_resume_skips_completed_stages(spark, pipe_run):
    out, docs, edges, pipe, res = pipe_run
    before = _collect_triples(res)
    # simulate a crash after stage 2: drop the last two stage outputs
    import shutil
    for stage in ("cooccurrence", "triples"):
        shutil.rmtree(f"{out}/{stage}")
        os.remove(f"{out}/{stage}.manifest.json")
    pipe2 = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    res2 = pipe2.run(spark, {"documents": docs, "isa_edges": edges},
                     run_config={"corpus": "test60"})
    statuses = {r.stage: r.status for r in pipe2.reports}
    assert statuses["mentions"] == "resumed"
    assert statuses["mention_triples"] == "resumed"
    assert statuses["cooccurrence"] == "computed"
    assert statuses["triples"] == "computed"
    assert _collect_triples(res2) == before  # byte-identical result


def test_config_change_invalidates_downstream(spark, pipe_run):
    out, docs, edges, pipe, _ = pipe_run
    pipe3 = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    res3 = pipe3.run(spark, {"documents": docs, "isa_edges": edges},
                     run_config={"corpus": "DIFFERENT"})
    assert all(r.status == "computed" for r in pipe3.reports)


def test_canonicalization_stage(spark, tmp_path):
    """synonym_edges input folds alias CUIs in the triples stage, and
    adding the input invalidates stale checkpoints (fingerprint covers
    the input-table set)."""
    from nobletools_spark.sources.fixtures import (
        BUILTIN_CONCEPTS,
        BUILTIN_ISA_EDGES,
    )
    from nobletools_spark.sources.fixtures import builtin_index

    out = str(tmp_path / "kg_canon")
    docs = spark.createDataFrame(
        [("d1", [("text", "spark and vector and a hash join", None, 0)])],
        "doc_id string, spans array<struct<kind:string, text:string, "
        "media_ref:string, offset:int>>")
    syn = spark.createDataFrame([("C101", "C104")], "a string, b string")
    pipe = Pipeline(out, kg_stages(builtin_index()))
    res = pipe.run(spark, {"documents": docs}, run_config={"v": 1})
    objs = {r.obj for r in res["triples"].filter("pred='mentions-concept'").collect()}
    assert {"C101", "C104"} <= objs
    # rerun with synonym edges: C104 folds into C101
    pipe2 = Pipeline(out, kg_stages(builtin_index()))
    res2 = pipe2.run(spark, {"documents": docs, "synonym_edges": syn},
                     run_config={"v": 1})
    statuses = {r.stage: r.status for r in pipe2.reports}
    assert statuses["triples"] == "computed"  # input set change invalidates
    objs2 = {r.obj for r in res2["triples"].filter("pred='mentions-concept'").collect()}
    assert "C104" not in objs2 and "C101" in objs2


def test_changed_input_files_invalidate_resume(spark, tmp_path):
    """Rewriting the input parquet at the SAME path (same config, same
    table names) must force a recompute — the content fingerprint covers
    the source file listing with sizes/mtimes, not just table names."""
    out = str(tmp_path / "kg_fp")
    in_path = str(tmp_path / "docs_in")
    docs = synthetic_corpus_df(spark, 20, seed=7)
    docs.write.mode("overwrite").parquet(in_path)
    pipe = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    pipe.run(spark, {"documents": spark.read.parquet(in_path)},
             run_config={"v": 1})
    assert all(r.status == "computed" for r in pipe.reports)
    # same files untouched -> full resume
    pipe2 = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    pipe2.run(spark, {"documents": spark.read.parquet(in_path)},
              run_config={"v": 1})
    assert all(r.status == "resumed" for r in pipe2.reports)
    # rewrite the input data at the same path -> everything recomputes
    synthetic_corpus_df(spark, 25, seed=8).write.mode("overwrite") \
        .parquet(in_path)
    pipe3 = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    res3 = pipe3.run(spark, {"documents": spark.read.parquet(in_path)},
                     run_config={"v": 1})
    assert all(r.status == "computed" for r in pipe3.reports)
    assert res3["mentions"].count() > 0


def test_verify_lineage_after_recompute_same_outdir(spark, tmp_path):
    """_lineage is append-only across runs; verify_lineage must compare
    against the run that produced the current stage parquet (manifest
    run_id), not the sum of all runs."""
    out = str(tmp_path / "kg_lin")
    docs = synthetic_corpus_df(spark, 20, seed=7)
    pipe = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    pipe.run(spark, {"documents": docs}, run_config={"v": 1})
    assert pipe.verify_lineage(spark, "triples")
    # recompute every stage into the same out_dir (config change)
    pipe2 = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    pipe2.run(spark, {"documents": docs}, run_config={"v": 2})
    assert pipe2.verify_lineage(spark, "triples")
    assert pipe2.verify_lineage(spark, "mentions")


def test_verify_lineage_missing_manifest_returns_false(spark, tmp_path):
    out = str(tmp_path / "kg_nomani")
    docs = synthetic_corpus_df(spark, 10, seed=7)
    pipe = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    pipe.run(spark, {"documents": docs}, run_config={"v": 1})
    os.remove(f"{out}/triples.manifest.json")   # crash between write+manifest
    assert pipe.verify_lineage(spark, "triples") is False
    assert pipe.verify_lineage(spark, "mentions") is True


def _readback_totals(df):
    """Row count and bit_xor of row hashes over the stored parquet, the
    columns in sorted-name order and maps as JSON (0 when empty)."""
    from pyspark.sql.types import MapType

    cols = [F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType)
            else F.col(f.name)
            for f in sorted(df.schema.fields, key=lambda f: f.name)]
    r = df.agg(F.count(F.lit(1)).alias("rows"),
               F.bit_xor(F.xxhash64(*cols)).alias("checksum")).collect()[0]
    return r["rows"], r["checksum"] or 0


def _manifest(out, stage):
    import json

    with open(f"{out}/{stage}.manifest.json") as f:
        return json.load(f)


def test_manifest_totals_equal_readback(spark, tmp_path):
    """Every stage's manifest carries the totals observed on its write,
    and they equal an aggregate over the stored parquet — including the
    MapType modifiers column (ConText on) and the partitionBy("pred")
    triples stage, whose read-back moves pred to the end."""
    from nobletools_spark.operators.context import default_context_index
    from nobletools_spark.sources.fixtures import rich_corpus_df

    out = str(tmp_path / "kg")
    docs = rich_corpus_df(spark, 40, seed=7)
    edges = spark.createDataFrame(list(PYTEST_ISA_EDGES),
                                  "cui string, parent string")
    pipe = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig(),
                                   context=default_context_index(),
                                   asserted=True))
    res = pipe.run(spark, {"documents": docs, "isa_edges": edges})
    assert "modifiers" in res["mentions"].columns
    assert res["triples"].columns[-1] == "pred"
    for r in pipe.reports:
        m = _manifest(out, r.stage)
        assert m["rows"] == r.rows > 0
        assert (m["rows"], m["checksum"]) == _readback_totals(
            res[r.stage]), r.stage
        assert pipe.verify_lineage(spark, r.stage), r.stage
    # one _lineage row per computed stage, totals as in the manifest
    lin = spark.read.parquet(f"{out}/_lineage").collect()
    assert sorted((r.stage, r.rows, r.checksum) for r in lin) == sorted(
        (r.stage, _manifest(out, r.stage)["rows"],
         _manifest(out, r.stage)["checksum"]) for r in pipe.reports)
    assert all(r.part_id is None for r in lin)


def test_empty_stage_records_zero_and_verifies(spark, tmp_path):
    """A terminology disjoint from the corpus: the mention stages are
    empty, record rows == 0, and still verify."""
    from nobletools_spark.sources.fixtures import builtin_index

    out = str(tmp_path / "kg_empty")
    docs = synthetic_corpus_df(spark, 10, seed=7)
    pipe = Pipeline(out, kg_stages(builtin_index()))
    pipe.run(spark, {"documents": docs})
    rows = {r.stage: r.rows for r in pipe.reports}
    assert rows["mentions"] == rows["triples"] == 0
    assert rows["doc_fp"] == 10
    for stage in rows:
        assert _manifest(out, stage)["rows"] == rows[stage]
        assert pipe.verify_lineage(spark, stage), stage


def test_verify_lineage_detects_lost_part_file(spark, tmp_path):
    out = str(tmp_path / "kg_lost")
    docs = synthetic_corpus_df(spark, 20, seed=7)
    pipe = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    pipe.run(spark, {"documents": docs}, run_config={"v": 1})
    assert pipe.verify_lineage(spark, "triples")
    part = next(os.path.join(d, f)
                for d, _, fs in sorted(os.walk(f"{out}/triples"))
                for f in sorted(fs) if f.startswith("part-"))
    os.remove(part)
    assert pipe.verify_lineage(spark, "triples") is False
    assert pipe.verify_lineage(spark, "mentions") is True


def test_verify_lineage_old_manifest_layout_returns_false(spark, tmp_path):
    """A manifest without totals (the layout from before they moved
    out of _lineage) reports unverified instead of raising."""
    import json

    out = str(tmp_path / "kg_old")
    docs = synthetic_corpus_df(spark, 10, seed=7)
    pipe = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    pipe.run(spark, {"documents": docs}, run_config={"v": 1})
    m = _manifest(out, "triples")
    del m["checksum"]
    with open(f"{out}/triples.manifest.json", "w") as f:
        json.dump(m, f)
    os.remove(f"{out}/.triples.manifest.json.crc")  # stale after edit
    assert pipe.verify_lineage(spark, "triples") is False


def test_crash_keeps_finished_stages_and_bookkeeping(spark, tmp_path):
    """The third stage raises: the first two keep verified manifests,
    the finally block still appends their _metrics/_lineage rows, and a
    rerun resumes them."""
    from dataclasses import replace

    out = str(tmp_path / "kg_crash")
    docs = synthetic_corpus_df(spark, 20, seed=7)
    stages = kg_stages(pytest_index(), cfg=MatchConfig())

    def boom(spark, r):
        raise RuntimeError("stage failed")

    crashing = stages[:2] + [replace(stages[2], fn=boom)] + stages[3:]
    with pytest.raises(RuntimeError, match="stage failed"):
        Pipeline(out, crashing).run(spark, {"documents": docs},
                                    run_config={"v": 1})
    done = [st.name for st in stages[:2]]
    for stage in done:
        assert Pipeline(out, stages).verify_lineage(spark, stage), stage
    assert not os.path.exists(f"{out}/{stages[2].name}.manifest.json")
    m = spark.read.parquet(f"{out}/_metrics").collect()
    assert sorted(r.stage for r in m) == sorted(done)
    lin = spark.read.parquet(f"{out}/_lineage").collect()
    assert sorted(r.stage for r in lin) == sorted(done)
    pipe = Pipeline(out, stages)
    pipe.run(spark, {"documents": docs}, run_config={"v": 1})
    statuses = {r.stage: r.status for r in pipe.reports}
    assert [statuses[s] for s in done] == ["resumed", "resumed"]
    assert statuses[stages[2].name] == "computed"


def test_full_run_job_budget(spark, tmp_path):
    """A full kg_stages run on the 60-doc fixture is one Spark job per
    computed stage plus the stage operators' own jobs — a per-stage
    re-scan, a bookkeeping append through Spark, or a co-occurrence
    stage that re-runs the distinct (doc, cui) shuffle instead of
    reading mention_triples breaks this."""
    sc = spark.sparkContext
    docs = synthetic_corpus_df(spark, 60, seed=7)
    edges = spark.createDataFrame(list(PYTEST_ISA_EDGES),
                                  "cui string, parent string")
    pipe = Pipeline(str(tmp_path / "kg_jobs"),
                    kg_stages(pytest_index(), cfg=MatchConfig()))
    group = f"job-budget-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        pipe.run(spark, {"documents": docs, "isa_edges": edges},
                 run_config={"corpus": "test60"})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all(r.status == "computed" for r in pipe.reports)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 11


def test_bookkeeping_append_reads_back_without_a_job(spark, tmp_path):
    """_metrics/_lineage rows are encoded on the driver and written
    through the Hadoop FS API: the append starts no Spark job, and
    Spark reads the file back with the old Spark-written schema, next
    to a file Spark appended itself (an out_dir from an older run)."""
    import pyarrow as pa

    from nobletools_spark.plans.pipeline import _fs_append_parquet
    from nobletools_spark.session import local_table

    path = str(tmp_path / "_lineage")
    ddl = ("part_id int, rows long, checksum long, run_id string, "
           "stage string")
    local_table(spark, [(3, 1, 2, "old", "mentions")], ddl) \
        .write.mode("append").parquet(path)
    schema = pa.schema([("part_id", pa.int32()), ("rows", pa.int64()),
                        ("checksum", pa.int64()), ("run_id", pa.string()),
                        ("stage", pa.string())])
    rows = [(None, 5, -(2 ** 62), "new", "mentions"),
            (None, 0, 0, "new", "triples")]
    sc = spark.sparkContext
    group = f"append-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        _fs_append_parquet(spark, path, rows, schema)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert not [f for f in os.listdir(path) if ".tmp" in f]
    back = spark.read.parquet(path)
    assert back.schema.simpleString() == \
        "struct<part_id:int,rows:bigint,checksum:bigint,run_id:string," \
        "stage:string>"
    assert sorted(map(tuple, back.collect()), key=str) == sorted(
        [(3, 1, 2, "old", "mentions")] + rows, key=str)


def test_manifest_failing_checksum_reads_as_absent(spark, tmp_path):
    """A manifest rewritten outside Hadoop (its .crc sidecar left
    stale) fails its checksum: verify_lineage reports False instead of
    raising, and a rerun recomputes that stage and verifies it."""
    import json

    out = str(tmp_path / "kg_crc")
    docs = synthetic_corpus_df(spark, 10, seed=7)
    pipe = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    pipe.run(spark, {"documents": docs}, run_config={"v": 1})
    m = _manifest(out, "triples")
    with open(f"{out}/triples.manifest.json", "w") as f:
        json.dump(m, f, indent=1)
    assert os.path.exists(f"{out}/.triples.manifest.json.crc")
    assert pipe.verify_lineage(spark, "triples") is False
    assert pipe.verify_lineage(spark, "mentions") is True
    pipe.run(spark, {"documents": docs}, run_config={"v": 1})
    statuses = {r.stage: r.status for r in pipe.reports}
    assert statuses["triples"] == "computed"
    assert statuses["mentions"] == "resumed"
    assert pipe.verify_lineage(spark, "triples")


def test_pipeline_runs_leave_no_persisted_rdds(spark, tmp_path):
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    docs = synthetic_corpus_df(spark, 20, seed=7)
    for i in range(2):
        Pipeline(str(tmp_path / f"kg{i}"),
                 kg_stages(pytest_index(), cfg=MatchConfig())).run(
            spark, {"documents": docs}, run_config={"v": i})
    assert sc._jsc.getPersistentRDDs().size() == before


def test_template_extraction_stage(spark, tmp_path):
    """kg_stages(templates_df=...) adds a resumable item_instances
    stage after mentions: extraction output persists, resumes, and
    matches a direct extract_items run."""
    from nobletools_spark.operators.templates import (
        TEMPLATES_DDL,
        extract_items,
        sections_from_docs,
    )
    from nobletools_spark.sources.fixtures import rich_corpus_df

    out = str(tmp_path / "kg_tmpl")
    docs = rich_corpus_df(spark, 30, seed=7)
    edges = spark.createDataFrame(list(PYTEST_ISA_EDGES),
                                  "cui string, parent string")
    templates = spark.createDataFrame(
        [("t1", "neoplasm", "C014", None, "boolean")], TEMPLATES_DDL)
    pipe = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig(),
                                   templates_df=templates))
    res = pipe.run(spark, {"documents": docs, "isa_edges": edges},
                   run_config={"corpus": "tmpl30"})
    # appended last so it never perturbs the existing triple-stage
    # fingerprint chain of template-less output dirs
    assert [s.stage for s in pipe.reports] == [
        "mentions", "mention_triples", "cooccurrence", "triples",
        "item_instances", "doc_fp"]
    got = {(r.doc_id, r.cui, r.start)
           for r in res["item_instances"].collect()}
    direct = extract_items(res["mentions"], edges, templates,
                           sections_df=sections_from_docs(docs))
    want = {(r.doc_id, r.cui, r.start) for r in direct.collect()}
    assert got == want and got
    # resume: second run skips the stage
    pipe2 = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig(),
                                    templates_df=templates))
    pipe2.run(spark, {"documents": docs, "isa_edges": edges},
              run_config={"corpus": "tmpl30"})
    assert all(r.status == "resumed" for r in pipe2.reports)


def test_prep_pipeline_stages_and_resume(spark, tmp_path):
    """The corpus-prep pipeline: filter drops the short doc, line dedup
    strips the planted boilerplate line everywhere but its keeper,
    near-dedup drops the clone, decontamination drops the doc carrying
    the benchmark 13-gram, and chunking consumes the final corpus —
    then a rerun resumes every stage from its manifest."""
    from nobletools_spark.plans.pipeline import Pipeline, prep_stages

    boiler = "this exact boilerplate line appears in many documents"
    snip = " ".join(f"e{i}" for i in range(13))

    def body(tag):                         # diverse tokens + stopwords
        return " ".join(f"{tag}{i}" for i in range(40)) + " the of and in"

    rows = [
        (1, f"{body('a')}\n{boiler}"),
        (2, f"{boiler}\n{body('b')}"),
        (3, body("c")),                                    # near-dup seed
        (4, "too short"),                                  # filtered out
        (5, f"{body('d')} {snip}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # a true near-duplicate of doc 3 (first token dropped)
    clone = docs.filter("doc_id = 3").selectExpr(
        "CAST(103 AS LONG) AS doc_id",
        "substring(text, instr(text, ' ') + 1) AS text")
    docs = docs.unionByName(clone)

    out = str(tmp_path / "prep")
    stages = prep_stages(benchmark_texts=(snip,), chunk_tokens=16,
                         overlap=4, near_kw={"threshold": 0.5})
    pipe = Pipeline(out, stages)
    res = pipe.run(spark, {"documents": docs}, run_config={"v": 1})
    assert [r.status for r in pipe.reports] == ["computed"] * 6

    final = {r.doc_id: r.text for r in res["decontaminated"].collect()}
    assert 4 not in final                 # too_few_tokens
    assert 5 not in final                 # benchmark 13-gram
    assert 103 not in final               # near-dup clone dropped
    assert boiler in final[1] and boiler not in final[2]  # keeper only
    chunks = res["chunks"].collect()
    assert chunks and {r.doc_id for r in chunks} == set(final)

    pipe2 = Pipeline(out, prep_stages(benchmark_texts=(snip,),
                                      chunk_tokens=16, overlap=4,
                                      near_kw={"threshold": 0.5}))
    pipe2.run(spark, {"documents": docs}, run_config={"v": 1})
    assert [r.status for r in pipe2.reports] == ["resumed"] * 6


def test_prep_pipeline_grouped_mixture(spark, tmp_path):
    """budgets + group_col through the prep pipeline: the grouping
    column (only on the ORIGINAL documents input — corpus snapshots
    are (doc_id, text)) is re-joined at the mix stage, and the sampled
    set respects per-group budgets."""
    from nobletools_spark.plans.pipeline import Pipeline, prep_stages

    def body(tag):
        return " ".join(f"{tag}{i}" for i in range(40)) + " the of and in"

    rows = [(i, body(f"t{i}"), "en" if i % 2 == 0 else "de")
            for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string")
    pipe = Pipeline(str(tmp_path / "p"),
                    prep_stages(budgets={"en": 100, "de": 50},
                                group_col="lang", chunk_tokens=16,
                                overlap=4))
    res = pipe.run(spark, {"documents": docs}, run_config={})
    mix = {(r.doc_id, r.grp) for r in res["mix_sample"].collect()}
    assert mix and {g for _, g in mix} == {"en", "de"}
    # budget 100 admits ~3 44-token docs per group, 50 admits ~2
    en = [d for d, g in mix if g == "en"]
    de = [d for d, g in mix if g == "de"]
    assert len(en) == 3 and len(de) == 2
    assert {r.doc_id for r in res["mixed"].collect()} == {d for d, _ in mix}


def test_prep_pipeline_on_interleaved_docs(spark, tmp_path):
    """The corpus-prep pipeline consumes the north-rule interleaved
    (doc_id string, spans) table directly: text spans flatten in span
    order, media spans are ignored, and STRING doc_ids survive every
    stage (no silent cast-to-NULL corruption)."""
    from nobletools_spark.plans.pipeline import Pipeline, prep_stages
    from nobletools_spark.sources.fixtures import SPANS_DDL

    def body(tag):
        return " ".join(f"{tag}{i}" for i in range(40)) + " the of and in"

    rows = [
        ("docA", [("text", body("a"), None, 0),
                  ("media", None, "m://1", 1),
                  ("text", "", None, 2),      # empty span: no '' token
                  ("text", None, None, 3),    # NULL span: no '' token
                  ("text", "tail words here", None, 4)]),
        ("docB", [("text", body("b"), None, 0)]),
        ("docC", [("text", "too short", None, 0)]),
    ]
    docs = spark.createDataFrame(rows, SPANS_DDL)
    pipe = Pipeline(str(tmp_path / "p"),
                    prep_stages(chunk_tokens=16, overlap=4))
    res = pipe.run(spark, {"documents": docs}, run_config={})
    final = {r.doc_id: r.text for r in res["near_dedup"].collect()}
    assert set(final) == {"docA", "docB"}        # docC filtered; ids intact
    assert final["docA"].endswith("in tail words here")  # single spaces
    assert "m://1" not in final["docA"] and "  " not in final["docA"]
    chunks = res["chunks"].collect()
    assert {r.doc_id for r in chunks} == {"docA", "docB"}


def test_prep_pipeline_vocab_and_packing(spark, tmp_path):
    """vocab_k / pack_seq_len append the tokenizer-vocabulary and
    concat-and-chop layout stages over the FINAL corpus; both match
    the direct operator outputs and resume from their manifests."""
    from nobletools_spark.operators.textstats import (
        pack_sequences,
        vocab_top_k,
    )
    from nobletools_spark.plans.pipeline import Pipeline, prep_stages

    def body(tag):
        return " ".join(f"{tag}{i}" for i in range(40)) + " the of and in"

    docs = spark.createDataFrame(
        [(i, body(f"t{i}")) for i in range(6)], "doc_id long, text string")
    kw = dict(chunk_tokens=16, overlap=4, vocab_k=5, pack_seq_len=16,
              pack_kw={"n_shards": 2})
    pipe = Pipeline(str(tmp_path / "p"), prep_stages(**kw))
    res = pipe.run(spark, {"documents": docs}, run_config={"v": 1})
    assert [s.name for s in pipe.stages][-3:] == ["chunks", "vocab",
                                                 "packed"]

    final = res["near_dedup"]
    want_v = {(r.token, r.cnt, r.n_docs)
              for r in vocab_top_k(final, 5).collect()}
    got_v = {(r.token, r.cnt, r.n_docs) for r in res["vocab"].collect()}
    assert got_v == want_v and len(got_v) == 5

    want_p = {(r.doc_id, r.shard, r.start_tok, r.first_seq, r.last_seq)
              for r in pack_sequences(final, 16, n_shards=2).collect()}
    got_p = {(r.doc_id, r.shard, r.start_tok, r.first_seq, r.last_seq)
             for r in res["packed"].collect()}
    assert got_p == want_p and len(got_p) == 6

    pipe2 = Pipeline(str(tmp_path / "p"), prep_stages(**kw))
    pipe2.run(spark, {"documents": docs}, run_config={"v": 1})
    assert [r.status for r in pipe2.reports] == ["resumed"] * 7


def test_kg_stage_params_force_recompute(spark, pipe_run):
    """Closure-captured output determinants are in the stage
    fingerprints: the same index/cfg resumes, but a changed
    MatchConfig or cooccurrence salt recomputes from the changed
    stage on — never a silent stale resume."""
    out, docs, edges, _pipe, _res = pipe_run
    inputs = {"documents": docs, "isa_edges": edges}
    rc = {"corpus": "test60"}

    # establish a baseline in the shared dir (earlier tests may have
    # left manifests under a different run_config), then prove resume
    Pipeline(out, kg_stages(pytest_index(),
                            cfg=MatchConfig())).run(spark, inputs,
                                                    run_config=rc)
    same = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    same.run(spark, inputs, run_config=rc)
    assert [r.status for r in same.reports] == ["resumed"] * 5

    p2 = Pipeline(out, kg_stages(pytest_index(),
                                 cfg=MatchConfig(subsumption_mode=False)))
    p2.run(spark, inputs, run_config=rc)
    # doc_fp depends only on documents, but the linear chain
    # recomputes it with everything downstream of the changed cfg
    assert [r.status for r in p2.reports] == ["computed"] * 5

    # restore, then change only the salt: mentions/mention_triples
    # resume, cooccurrence + downstream recompute
    p3 = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig()))
    p3.run(spark, inputs, run_config=rc)
    p4 = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig(),
                                 cooccurrence_salt=16))
    p4.run(spark, inputs, run_config=rc)
    assert [r.status for r in p4.reports] == \
        ["resumed", "resumed", "computed", "computed", "computed"]


def test_df_digest_handles_none_vs_str_ties(spark):
    """Template tables can tie on a prefix and differ None-vs-str in
    the next column (items with and without a concept attribute) —
    the digest must not TypeError on the sort."""
    from nobletools_spark.plans.pipeline import _df_digest

    df = spark.createDataFrame([("T", "x", None), ("T", "x", "C123")],
                               "a string, b string, c string")
    d1 = _df_digest(df)
    # row-order independent
    df2 = spark.createDataFrame([("T", "x", "C123"), ("T", "x", None)],
                                "a string, b string, c string")
    assert d1 == _df_digest(df2)
    # content-sensitive
    df3 = spark.createDataFrame([("T", "x", None), ("T", "x", "C999")],
                                "a string, b string, c string")
    assert d1 != _df_digest(df3)


def test_incremental_pipeline_run(spark, tmp_path):
    """Run 1 (full) persists doc_fp; run 2 (incremental=True) over a
    mutated corpus consumes it and produces triples identical to a
    full run — and a third identical incremental run resumes every
    stage."""
    from pyspark.sql import functions as F

    out1, out2 = str(tmp_path / "run1"), str(tmp_path / "run2")
    docs = synthetic_corpus_df(spark, 40, seed=7)
    edges = spark.createDataFrame(list(PYTEST_ISA_EDGES),
                                  "cui string, parent string")
    p1 = Pipeline(out1, kg_stages(pytest_index(), cfg=MatchConfig()))
    r1 = p1.run(spark, {"documents": docs, "isa_edges": edges},
                run_config={"corpus": "a"})
    assert "doc_fp" in r1 and r1["doc_fp"].count() == 40

    # snapshot 2: drop a quarter of the docs (content mutation paths
    # are pinned by tests/test_incremental.py; here the stage wiring)
    docs2 = docs.filter(~F.substring("doc_id", -1, 1).isin("1", "7"))
    inputs2 = {"documents": docs2, "isa_edges": edges,
               "prev_doc_fp": r1["doc_fp"],
               "prev_mentions": r1["mentions"],
               "prev_mention_triples": r1["mention_triples"],
               "prev_cooccurrence": r1["cooccurrence"]}
    p2 = Pipeline(out2, kg_stages(pytest_index(), cfg=MatchConfig(),
                                  incremental=True))
    r2 = p2.run(spark, inputs2, run_config={"corpus": "b"})
    assert all(r.status == "computed" for r in p2.reports)
    # delta cooccurrence consumes this run's doc_fp -> hoisted early
    assert [s.stage for s in p2.reports] == [
        "mentions", "doc_fp", "mention_triples", "cooccurrence",
        "triples"]

    # ground truth: a full (non-incremental) pipeline over docs2
    full = Pipeline(str(tmp_path / "full"),
                    kg_stages(pytest_index(), cfg=MatchConfig()))
    rf = full.run(spark, {"documents": docs2, "isa_edges": edges},
                  run_config={"corpus": "b"})
    assert _collect_triples(r2) == _collect_triples(rf)
    # the delta-maintained pair table matches the full recompute
    # INCLUDING counts (triples drop n_docs, so check it directly)
    cooc = lambda r: sorted(tuple(x) for x in r["cooccurrence"]
                            .select("subj", "obj", "n_docs").collect())
    assert cooc(r2) == cooc(rf)

    # identical rerun resumes everything (the prev_* inputs fingerprint
    # through the standard input machinery)
    p3 = Pipeline(out2, kg_stages(pytest_index(), cfg=MatchConfig(),
                                  incremental=True))
    p3.run(spark, inputs2, run_config={"corpus": "b"})
    assert all(r.status == "resumed" for r in p3.reports)


def test_incremental_chain_three_generations(spark, tmp_path):
    """Snapshot state must propagate across GENERATIONS of incremental
    runs: run2 consumes run1's state, run3 consumes run2's — and run3's
    outputs (triples AND pair counts) equal a from-scratch run on the
    third corpus."""
    edges = spark.createDataFrame(list(PYTEST_ISA_EDGES),
                                  "cui string, parent string")
    docs1 = synthetic_corpus_df(spark, 30, seed=7)
    docs2 = docs1.filter(~F.substring("doc_id", -1, 1).isin("3"))
    docs3 = docs2.filter(~F.substring("doc_id", -1, 1).isin("8"))

    def run(out, docs, prev=None):
        inputs = {"documents": docs, "isa_edges": edges}
        if prev is not None:
            inputs |= {"prev_doc_fp": prev["doc_fp"],
                       "prev_mentions": prev["mentions"],
                       "prev_mention_triples": prev["mention_triples"],
                       "prev_cooccurrence": prev["cooccurrence"]}
        pipe = Pipeline(out, kg_stages(pytest_index(), cfg=MatchConfig(),
                                       incremental=prev is not None))
        return pipe.run(spark, inputs, run_config={"g": out})

    r1 = run(str(tmp_path / "g1"), docs1)
    r2 = run(str(tmp_path / "g2"), docs2, r1)
    r3 = run(str(tmp_path / "g3"), docs3, r2)
    rf = run(str(tmp_path / "full3"), docs3)
    assert _collect_triples(r3) == _collect_triples(rf)
    cooc = lambda r: sorted(tuple(x) for x in r["cooccurrence"]
                            .select("subj", "obj", "n_docs").collect())
    assert cooc(r3) == cooc(rf)


def test_asserted_gate_in_pipeline(spark, tmp_path):
    """kg_stages(asserted=True): negated / family-history mentions stay
    in the mention table WITH their modifiers but emit no graph edges
    (mention triples or co-occurrence); toggling the flag recomputes
    the emitter stages while the matcher stage resumes."""
    from nobletools_spark.operators.context import default_context_index
    from nobletools_spark.sources.fixtures import SPANS_DDL, builtin_index

    rows = [
        ("d1", [("text", "The patient has spark and vector.", None, 0)]),
        ("d2", [("text", "No evidence of spark. We found vector.",
                 None, 0)]),
        ("d3", [("text", "Family history of vector.", None, 0)]),
    ]
    docs = spark.createDataFrame(rows, SPANS_DDL)
    ctx = default_context_index()
    out = str(tmp_path / "kg")
    pipe = Pipeline(out, kg_stages(builtin_index(), context=ctx,
                                   asserted=True))
    res = pipe.run(spark, {"documents": docs})
    mt = {(r.subj, r.obj) for r in res["mention_triples"].collect()}
    assert mt == {("d1", "C101"), ("d1", "C102"), ("d2", "C102")}
    # the mention TABLE keeps every row, modifiers intact
    m = res["mentions"]
    assert m.filter(
        "modifiers['Polarity'] = 'Negative_Polarity'").count() >= 1
    assert m.filter("doc_id = 'd3'").count() >= 1
    cooc = {(r.subj, r.obj) for r in res["cooccurrence"].collect()}
    assert cooc == {("C101", "C102")}   # only d1 has 2 asserted mentions
    # flag off: emitters recompute (param fingerprint), matcher resumes
    pipe2 = Pipeline(out, kg_stages(builtin_index(), context=ctx))
    res2 = pipe2.run(spark, {"documents": docs})
    st = {r.stage: r.status for r in pipe2.reports}
    assert st["mentions"] == "resumed"
    assert st["mention_triples"] == "computed"
    assert st["cooccurrence"] == "computed"
    mt2 = {(r.subj, r.obj) for r in res2["mention_triples"].collect()}
    assert ("d2", "C101") in mt2 and ("d3", "C102") in mt2


def test_asserted_mentions_operator(spark):
    """asserted_mentions: drops each DEFAULT_ASSERTION_DROPS value,
    keeps default/positive rows, treats a missing map key as asserted,
    and passes a modifier-less mention table through unchanged."""
    from nobletools_spark.operators.triples import (
        DEFAULT_ASSERTION_DROPS,
        asserted_mentions,
    )

    rows = [
        (1, "C1", {"Polarity": "Positive_Polarity"}),
        (2, "C1", {"Polarity": "Negative_Polarity"}),
        (3, "C1", {"Experiencer": "FamilyMember_Experiencer"}),
        (4, "C1", {"Temporality": "Hypothetical_Temporality"}),
        (5, "C1", {"ContextualModality": "Hedged_ContextualModality"}),
        (6, "C1", {}),                 # no keys at all -> asserted
        (7, "C1", None),               # NULL map -> asserted
    ]
    m = spark.createDataFrame(
        rows, "doc_id long, cui string, modifiers map<string,string>")
    got = {r.doc_id for r in asserted_mentions(m).collect()}
    assert got == {1, 6, 7}
    # custom drops override the default table
    got2 = {r.doc_id for r in asserted_mentions(
        m, {"Polarity": ("Positive_Polarity",)}).collect()}
    assert got2 == {2, 3, 4, 5, 6, 7}
    # no modifiers column: identity
    bare = spark.createDataFrame([(1, "C1")], "doc_id long, cui string")
    assert asserted_mentions(bare).collect() == bare.collect()
    assert set(DEFAULT_ASSERTION_DROPS) <= {
        "Polarity", "Experiencer", "Temporality", "ContextualModality"}


def test_asserted_guards_and_empty_drops(spark):
    """kg_stages(asserted=True) without a ConText index raises (the
    gate would silently be an identity); an explicit empty drops dict
    means 'gate on nothing', not 'use defaults'."""
    import pytest as _pytest

    from nobletools_spark.operators.triples import asserted_mentions
    from nobletools_spark.sources.fixtures import pytest_index

    with _pytest.raises(ValueError):
        kg_stages(pytest_index(), asserted=True)
    m = spark.createDataFrame(
        [(1, "C1", {"Polarity": "Negative_Polarity"})],
        "doc_id long, cui string, modifiers map<string,string>")
    assert asserted_mentions(m, {}).count() == 1     # explicit no-gate
    assert asserted_mentions(m).count() == 0         # default gate


def test_run_pipeline_cli_html_report(tmp_path):
    """tools/run_pipeline.py --html-report N: the CLI writes the
    bounded span-highlighted review reports (reference HTMLExporter
    output shape: reports/<doc>.html + index.html frame page) under
    <output>/html and records the path in the run report. Subprocess
    because main() owns its own SparkSession lifecycle."""
    import json
    import subprocess
    import sys

    import pandas as pd

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    docs = tmp_path / "docs.parquet"
    # flat (doc_id, text) shape — also exercises the CLI's spans wrap
    pd.DataFrame({
        "doc_id": ["a", "b", "c"],
        "text": ["Deep margin shows melanoma.",
                 "No significant findings.",
                 "Melanoma, stage unknown."],
    }).to_parquet(docs)
    obo = tmp_path / "t.obo"
    obo.write_text(
        "[Term]\nid: T:1\nname: melanoma\n\n"
        "[Term]\nid: T:2\nname: deep margin\n")
    out = tmp_path / "run"
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "run_pipeline.py"),
         "--input", str(docs), "--obo", str(obo), "--output", str(out),
         "--html-report", "2"],
        cwd=repo, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["html"] == f"{out}/html"
    reports_dir = out / "html" / "reports"
    names = sorted(p.name for p in reports_dir.iterdir())
    assert names == ["a.html", "b.html"]      # first N doc_ids only
    a = (reports_dir / "a.html").read_text()
    assert "<label" in a and "melanoma" in a  # highlighted span
    assert "<b>Concepts</b>" in a             # legend pane
    idx = (out / "html" / "index.html").read_text()
    assert 'href="reports/a.html" target="frame"' in idx
