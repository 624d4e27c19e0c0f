"""KG-job benchmark: the full terminology → index → matcher → triples →
pipeline job on one host, as ``tools/run_pipeline.py`` runs it.

    python3 perfbench/run.py --workload umls_shape --seed 3 --seconds 10 --trace 0

The job is a batch: one job at a time, closed loop, one client process,
``local[nproc]``. Per run:

1. generate the workload's inputs from ``--seed`` (terminology as RRF,
   two corpus snapshots as parquet) — not timed;
2. set up three times: ``load_rrf`` → ``concepts_for_index`` →
   ``build_index_df`` → ``kg_stages`` (``setup_s`` is the median);
3. run the full and the incremental ``Pipeline.run`` once each, untimed
   (JVM warm-up), then alternate them, each into a fresh directory,
   until ``--seconds`` have passed, two full runs and one incremental
   run at least (``docs_per_s``, ``triples_per_s`` and ``incr_docs_per_s``
   are medians over these runs);
4. check the outputs (the ``check_*`` functions) and print one JSON
   line.

``--trace 1`` is a separate run that reports the per-layer metrics
instead (see README.md); ``--record`` rewrites ``expected.json`` from a
default-seed run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

DEFAULT_SEED = 0
EXPECTED = os.path.join(HERE, "expected.json")
SAMPLE_DOCS = 24          # documents in the Spark-vs-local mention check
SETUP_REPS = 3            # setups per run; setup_s is their median


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int                 # documents in the first snapshot
    context: bool               # ConText on, with the asserted gate
    replay_docs: int            # kernel-replay sample (traced run)
    n_concepts: int = 0         # > 0: generated UMLS-shaped terminology
    vocab: int = 0


WORKLOADS = {w.name: w for w in (
    # realistic index size: build, broadcast bytes, fan-out and the
    # matcher memos all work at scale
    Workload("umls_shape", n_docs=250, context=False,
             replay_docs=60, n_concepts=2000, vocab=1800),
    # cheap kernel, 31-word vocabulary: transport, triple emission, the
    # co-occurrence shuffle and the writes carry the time
    Workload("fixture_volume", n_docs=20000, context=False,
             replay_docs=2000),
    # docproc sections, the acronym pass and ConText do real work; the
    # incremental pass reads previous state and writes deltas
    Workload("clinical_context", n_docs=800, context=True,
             replay_docs=400),
)}


# --------------------------------------------------------------------------
# Inputs
# --------------------------------------------------------------------------

def make_inputs(wl: Workload, seed: int, work: str) -> dict:
    """Generate and write the workload's inputs under ``work``."""
    import gen
    from nobletools_spark.sources import fixtures

    if wl.name == "umls_shape":
        term = gen.umls_terminology(seed, wl.n_concepts, wl.vocab)
        docs = gen.umls_corpus(term, seed, wl.n_docs)
        shape = term.shape()
    elif wl.name == "fixture_volume":
        term = gen.from_concepts(fixtures.BUILTIN_CONCEPTS,
                                 fixtures.BUILTIN_ISA_EDGES)
        docs = gen.fixture_corpus(seed, wl.n_docs)
        shape = {"concepts": len(fixtures.BUILTIN_CONCEPTS)}
    else:
        term = gen.from_concepts(fixtures.PYTEST_CONCEPTS,
                                 fixtures.PYTEST_ISA_EDGES)
        docs = gen.clinical_corpus(seed, wl.n_docs)
        shape = {"concepts": len(fixtures.PYTEST_CONCEPTS)}
    docs2 = gen.edit_snapshot(docs, seed)
    rrf = os.path.join(work, "rrf")
    gen.write_rrf(term, rrf, seed)
    paths = {}
    for name, rows in (("docs1", docs), ("docs2", docs2)):
        paths[name] = os.path.join(work, f"{name}.parquet")
        write_docs(rows, paths[name])
    import numpy as np

    pick = np.random.default_rng([seed, 7]).choice(
        len(docs), min(SAMPLE_DOCS, len(docs)), replace=False)
    rpick = np.random.default_rng([seed, 8]).choice(
        len(docs), min(wl.replay_docs, len(docs)), replace=False)
    return {"rrf": rrf, **paths, "n_docs1": len(docs),
            "n_docs2": len(docs2), "shape": shape,
            "sample": [docs[i] for i in sorted(pick)],
            "replay": [docs[i] for i in sorted(rpick)]}


def write_docs(rows, path: str) -> None:
    """(doc_id, spans) rows → parquet in the interleaved-documents schema
    (``sources.fixtures.SPANS_DDL``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    keys = ("kind", "text", "media_ref", "offset")
    tbl = pa.table({
        "doc_id": pa.array([d for d, _ in rows], pa.string()),
        "spans": pa.array([[dict(zip(keys, s)) for s in spans]
                           for _, spans in rows], pa.list_(span_t))})
    pq.write_table(tbl, path)


# --------------------------------------------------------------------------
# Host
# --------------------------------------------------------------------------

def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_driver_mem_mb() -> int:
    """Driver heap sized to the host: an eighth of physical memory, 1-2
    GiB. ``get_spark``'s 48g default exceeds small hosts."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return max(1024, min(2048, total_kb // 1024 // 8))


def start_spark(work: str, cores: int):
    """``get_spark``'s settings, plus the host hygiene a benchmark needs:
    explicit driver memory, and scratch and temp dirs inside ``work``."""
    from pyspark.sql import SparkSession

    from nobletools_spark.session import ship_package

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    heap = host_driver_mem_mb()
    spark = (SparkSession.builder
             .master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{heap}m")
             # a fixed, pre-touched heap: how much of a growable heap is
             # resident depends on GC timing, which would swamp the
             # Python-side memory that peak_pss_mb is meant to show
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
                     f"-Djava.io.tmpdir={tmp}")
             .config("spark.local.dir", local)
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit
            proc.kill()
            proc.wait(timeout=30)


class PeakPss(threading.Thread):
    """Peak summed PSS (MB) of this process and all its descendants (the
    JVM and its Python workers), sampled from ``/proc/*/smaps_rollup``."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._stop_ev = threading.Event()

    @staticmethod
    def tree_pss_kb(root: int) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read()
                parent[int(d)] = int(st[st.rindex(")") + 2:].split()[1])
            except (OSError, ValueError):
                continue
        tree, todo = {root}, [root]
        kids: dict[int, list[int]] = {}
        for p, pp in parent.items():
            kids.setdefault(pp, []).append(p)
        while todo:
            for c in kids.get(todo.pop(), ()):
                if c not in tree:
                    tree.add(c)
                    todo.append(c)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def sample(self) -> None:
        kb = self.tree_pss_kb(os.getpid())
        if kb > self.peak_kb:
            # a new peak must hold for a second reading: Hadoop's local
            # file system forks chmod and rm from the JVM, and until the
            # exec the child shares the JVM's address space, so a reading
            # in that window counts the whole JVM twice
            kb = min(kb, self.tree_pss_kb(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def run(self) -> None:
        while not self._stop_ev.is_set():
            self.sample()
            self._stop_ev.wait(self.interval)

    def stop(self) -> float:
        self._stop_ev.set()
        self.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0


def cpu_probe() -> float:
    """The repository's CPU-delivery probe (``bench.py``)."""
    from bench import _cpu_probe

    return _cpu_probe()


# --------------------------------------------------------------------------
# The job
# --------------------------------------------------------------------------

class Job:
    """One workload's job in one Spark session."""

    def __init__(self, spark, wl: Workload, inp: dict, work: str):
        from nobletools_spark.model import MatchConfig

        self.spark, self.wl, self.inp, self.work = spark, wl, inp, work
        self.cfg = MatchConfig()
        self.ctx = None
        if wl.context:
            from nobletools_spark.operators.context import (
                default_context_index,
            )
            self.ctx = default_context_index()
        self.run_config = {"search": self.cfg.search_method,
                           "context": wl.context, "salt": 8,
                           "asserted": wl.context}
        self._n = 0

    def setup(self, tracer=None):
        """terminology load → index build → kg_stages (the index digest
        walk). Returns (index, stages, tables)."""
        from nobletools_spark.index import build_index_df
        from nobletools_spark.sources.rrf import concepts_for_index, load_rrf

        span = tracer.span if tracer else (lambda _name: nullcontext())
        with span("sources.rrf.load"):
            tables = load_rrf(self.spark, self.inp["rrf"])
            concepts = concepts_for_index(tables)
            if tracer:
                # the loader is lazy: materialize its output once so the
                # traced run can time the scan apart from the index build
                concepts.count()
        with span("index.build"):
            index = build_index_df(self.spark, concepts)
        with span("index.digest"):
            stages = self.stages(index)
        return index, stages, tables

    def stages(self, index, incremental: bool = False):
        from nobletools_spark.plans.pipeline import kg_stages

        return kg_stages(index, context=self.ctx, cfg=self.cfg,
                         cooccurrence_salt=8, incremental=incremental,
                         asserted=self.wl.context)

    def inputs(self, tables, docs: str, prev: str | None = None) -> dict:
        read = self.spark.read.parquet
        inputs = {"documents": read(docs), "isa_edges": tables["relations"],
                  "semtypes": tables["semtypes"]}
        if prev is not None:
            for k in ("doc_fp", "mentions", "cooccurrence",
                      "mention_triples"):
                inputs[f"prev_{k}"] = read(f"{prev}/{k}")
        return inputs

    def out_dir(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"out{self._n:03d}")

    def run(self, stages, inputs) -> tuple[str, float, dict]:
        """One untraced ``Pipeline.run`` into a fresh directory; returns
        (out_dir, wall_s, {stage: rows})."""
        from nobletools_spark.plans.pipeline import Pipeline

        out = self.out_dir()
        pipe = Pipeline(out, stages)
        t0 = time.perf_counter()
        pipe.run(self.spark, inputs, run_config=self.run_config)
        wall = time.perf_counter() - t0
        return out, wall, {r.stage: r.rows for r in pipe.reports}


# --------------------------------------------------------------------------
# Correctness
# --------------------------------------------------------------------------

def multiset_digest(df) -> str:
    """Order-free content digest of a table: row count and the exact sum
    of per-row xxhash64 values (a multiset hash: duplicates count)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType)
            else F.col(f.name)
            for f in sorted(df.schema.fields, key=lambda f: f.name)]
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")
               ).first()
    return f"{r['n']}:{r['h'] if r['h'] is not None else 0}"


def _mention_key(r) -> tuple:
    anns = tuple((a["text"], a["offset"]) if isinstance(a, dict)
                 else (a.text, a.offset) for a in (r[8] or ()))
    return (r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7], anns,
            tuple(sorted((r[9] or {}).items())))


def check_mention_sample(job: Job, index, out: str) -> list[str]:
    """Spark mention rows of the seeded document sample must equal the
    local ``process_document`` rows."""
    from pyspark.sql import functions as F

    from nobletools_spark.operators.matcher import process_document

    ids = [d for d, _ in job.inp["sample"]]
    want = sorted(_mention_key(r) for d, spans in job.inp["sample"]
                  for r in process_document(d, spans, index, job.cfg,
                                            job.ctx))
    got = sorted(_mention_key(tuple(r)) for r in
                 job.spark.read.parquet(f"{out}/mentions")
                 .filter(F.col("doc_id").isin(ids)).collect())
    if got != want:
        return [f"mention sample differs: spark {len(got)} rows, "
                f"local {len(want)} rows"]
    if not want:
        return ["mention sample has no mentions"]
    return []


def missing_docs(spark, runs: list[tuple[str, list[str]]]) -> int:
    """Input doc_ids without a ``doc_fp`` row, summed over (documents,
    output directories) pairs, in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    want = reduce(lambda a, b: a.unionByName(b), (
        spark.read.parquet(docs).select("doc_id").crossJoin(
            spark.createDataFrame([(os.path.basename(o),) for o in outs],
                                  "out string"))
        for docs, outs in runs))
    fp = spark.read.parquet(*(f"{o}/doc_fp" for _, outs in runs
                              for o in outs)).select(
        "doc_id", F.regexp_extract("_metadata.file_path",
                                   r"/([^/]+)/doc_fp/", 1).alias("out"))
    return want.join(fp, ["doc_id", "out"], "left_anti").count()


def check_digest(spark, wl: Workload, seed: int, out: str) -> list[str]:
    """On the default seed, the triples digest must equal the recorded
    one."""
    if seed != DEFAULT_SEED:
        return []
    with open(EXPECTED) as f:
        want = json.load(f)[wl.name]["triples_digest"]
    got = multiset_digest(spark.read.parquet(f"{out}/triples"))
    return [] if got == want else [f"triples digest {got} != {want}"]


TABLES = ("mentions", "mention_triples", "cooccurrence", "triples",
          "doc_fp")


def check_incremental(spark, incr_out: str, full_out: str) -> list[str]:
    """kg_stages row identity: the incremental output equals a full run
    over the second snapshot, table by table."""
    errs = []
    for t in TABLES:
        a = multiset_digest(spark.read.parquet(f"{incr_out}/{t}"))
        b = multiset_digest(spark.read.parquet(f"{full_out}/{t}"))
        if a != b:
            errs.append(f"incremental {t} {a} != full {b}")
    return errs


# --------------------------------------------------------------------------
# Runs
# --------------------------------------------------------------------------

def measure(wl: Workload, seed: int, seconds: float, work: str) -> dict:
    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 2)
        t_phase = now

    inp = make_inputs(wl, seed, work)
    phase("inputs")
    cores = host_cores()
    probe_before = cpu_probe()
    phase("probe")
    spark = start_spark(work, cores)
    phase("spark")
    try:
        job = Job(spark, wl, inp, work)
        pss = PeakPss()
        pss.start()
        setup_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            index, stages, tables = job.setup()
            setup_s.append(time.perf_counter() - t0)
        phase("setup")
        # the first runs on a fresh JVM pay class loading, code generation
        # and JIT warm-up, and how long that takes swings with the host's
        # load far more than the job does: one full and one incremental
        # run are untimed, and the full one's output is every incremental
        # run's previous state
        incr_stages = job.stages(index, incremental=True)
        warm, _, _ = job.run(stages, job.inputs(tables, inp["docs1"]))
        incr_warm, _, _ = job.run(
            incr_stages, job.inputs(tables, inp["docs2"], prev=warm))
        full, incr = [warm], [incr_warm]
        walls, triples, incr_walls = [], [], []
        # timed full and incremental runs alternate, so that all medians
        # are taken over the same stretch of the host's time; the loop
        # ends on a full run, after at least two full runs and one
        # incremental run
        deadline = time.perf_counter() + seconds
        while True:
            out, wall, rows = job.run(stages,
                                      job.inputs(tables, inp["docs1"]))
            full.append(out)
            walls.append(wall)
            triples.append(rows["triples"])
            if len(walls) >= 2 and time.perf_counter() >= deadline:
                break
            out, wall, _ = job.run(
                incr_stages, job.inputs(tables, inp["docs2"], prev=warm))
            incr.append(out)
            incr_walls.append(wall)
        peak_mb = pss.stop()
        phase("pipeline")

        errors = check_mention_sample(job, index, full[0])
        errors += check_digest(spark, wl, seed, full[0])
        failed = missing_docs(spark, [(inp["docs1"], full),
                                      (inp["docs2"], incr)])
        phase("checks")
    finally:
        stop_spark(spark)
    phase("stop")
    attempted = inp["n_docs1"] * len(full) + inp["n_docs2"] * len(incr)
    if errors:
        failed = attempted
    return {
        "correct": not errors, "attempted": attempted, "failed": failed,
        "errors": errors, "cpu_probe_s": [probe_before, cpu_probe()],
        "runs": {"phases": phases, "setup_s": setup_s, "pipeline_s": walls,
                 "triples": triples, "incremental_s": incr_walls},
        "metrics": {
            "setup_s": (statistics.median(setup_s), "s"),
            "docs_per_s": (inp["n_docs1"] / statistics.median(walls),
                           "docs/s"),
            "triples_per_s": (statistics.median(
                t / w for t, w in zip(triples, walls)), "triples/s"),
            "peak_pss_mb": (peak_mb, "MB"),
            "incr_docs_per_s": (inp["n_docs2"] / statistics.median(
                incr_walls), "docs/s"),
            "accounted_frac": (1.0 - failed / attempted, "1"),
        },
    }


def index_stats(index) -> dict:
    """Size and candidate fan-out (terms per word) of a built index."""
    import pickle

    import numpy as np

    fan = np.array([len(v) for v in index.word_terms.values()])
    return {"index.words": len(index.word_terms),
            "index.terms": len(index.term_cuis),
            "index.regex_terms": len(index.regex_terms),
            "index.fanout_max": int(fan.max()),
            "index.fanout_p99": float(np.percentile(fan, 99)),
            "index.pickle_bytes": len(pickle.dumps(index))}


def measure_traced(wl: Workload, seed: int, seconds: float,
                   work: str) -> dict:
    import spans as tr

    inp = make_inputs(wl, seed, work)
    cores = host_cores()
    probe_before = cpu_probe()
    spark = start_spark(work, cores)
    tracer = tr.Tracer()
    m: dict = {}
    try:
        job = Job(spark, wl, inp, work)
        with tracer.span("setup"):
            index, stages, tables = job.setup(tracer)
        m["sources.rrf.load_s"] = tracer.total("sources.rrf.load")
        m["sources.rrf.concepts"] = tables["concepts"].count()
        m["sources.rrf.atoms"] = spark.read.csv(
            f"{inp['rrf']}/MRCONSO.RRF", sep="|").count()
        m["index.build_s"] = tracer.total("index.build")
        m["index.digest_s"] = tracer.total("index.digest")
        m.update(index_stats(index))
        with tracer.span("broadcast.probe"):
            m["broadcast.worker_load_s"] = tr.broadcast_probe(
                spark, index, cores)

        docs1 = job.inputs(tables, inp["docs1"])
        # untraced runs before (a warm-up) and after the traced run: the
        # tracing overhead is the traced wall over the run after it
        job.run(stages, docs1)
        out = job.out_dir()
        _, pipe, st, traced_wall = tr.traced_pipeline_run(
            tracer, spark, out, stages, docs1, "full", job.run_config)
        _, plain, _ = job.run(stages, docs1)
        rows = {r.stage: r.rows for r in pipe.reports}
        walls = {r.stage: r.wall_s for r in pipe.reports}
        sm = tr.stage_metrics(spark, "full")
        ment = sm.get("mentions", {})
        stage_spans = sum(tracer.spans[i]["end"] - tracer.spans[i]["start"]
                          for i in st.stage_ids.values())
        m["trace.stage_coverage"] = stage_spans / traced_wall
        m["trace.overhead_frac"] = traced_wall / plain - 1
        m["pipeline.wall_s"] = traced_wall
        m["matcher.stage_s"] = walls["mentions"]
        m["matcher.task_s"] = ment.get("task_s", 0.0)
        m["matcher.busy_frac"] = m["matcher.task_s"] / (
            walls["mentions"] * cores)
        m["matcher.task_skew"] = ment.get("skew", 1.0)
        m["matcher.mentions"] = rows["mentions"]
        with tracer.span("matcher.passthrough"):
            m["matcher.arrow_passthrough_s"] = tr.passthrough_s(
                docs1["documents"])
        co = sm.get("cooccurrence", {})
        m["triples.mention_triples_s"] = walls["mention_triples"]
        m["triples.cooccurrence_s"] = walls["cooccurrence"]
        m["triples.cooccurrence_shuffle_bytes"] = co.get("shuffle_write", 0)
        m["triples.cooccurrence_skew"] = co.get("skew", 1.0)
        m["triples.rows"] = rows["triples"]
        m["triples.pairs"] = rows["cooccurrence"]
        m["pipeline.triples_stage_s"] = walls["triples"]
        m["pipeline.lineage_s"] = tracer.total("pipeline.lineage")
        m["pipeline.bookkeeping_s"] = traced_wall - sum(walls.values())
        m["pipeline.bytes_written"] = _du(out)
        m["pipeline.spill_bytes"] = sum(v["spill"] for v in sm.values())

        errors = check_mention_sample(job, index, out)
        errors += check_digest(spark, wl, seed, out)
        failed = missing_docs(spark, [(inp["docs1"], [out])])

        # incremental over the second snapshot, checked against a full
        # run over that snapshot
        incr_out = job.out_dir()
        _, ipipe, _, _ = tr.traced_pipeline_run(
            tracer, spark, incr_out, job.stages(index, incremental=True),
            job.inputs(tables, inp["docs2"], prev=out), "incremental",
            job.run_config)
        iw = {r.stage: r.wall_s for r in ipipe.reports}
        m["incremental.mentions_s"] = iw["mentions"]
        m["incremental.cooccurrence_s"] = iw["cooccurrence"]
        m["incremental.changed_docs"] = _changed_docs(
            spark, f"{out}/doc_fp", f"{incr_out}/doc_fp")
        full2_out, _, _ = job.run(stages, job.inputs(tables, inp["docs2"]))
        errors += check_incremental(spark, incr_out, full2_out)
        failed += missing_docs(spark, [(inp["docs2"], [incr_out])])

        with tracer.span("kernel.replay"):
            m.update(tr.kernel_replay(inp["replay"], index, job.cfg,
                                      job.ctx, min_seconds=min(seconds, 5)))
        mentions_docs_per_s = inp["n_docs1"] / walls["mentions"]
        m["matcher.parallel_efficiency"] = mentions_docs_per_s / (
            cores * m["kernel.docs_per_s_1core"])
    finally:
        stop_spark(spark)
    attempted = inp["n_docs1"] + inp["n_docs2"]
    if errors:
        failed = attempted
    os.makedirs(os.path.join(os.getcwd(), ".perfbench_out"), exist_ok=True)
    tracer.dump(os.path.join(os.getcwd(), ".perfbench_out",
                             f"trace-{wl.name}-s{seed}.json"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {x["name"]: x["unit"] for x in json.load(f)["per_layer"]}
    return {"correct": not errors, "attempted": attempted, "failed": failed,
            "errors": errors, "cpu_probe_s": [probe_before, cpu_probe()],
            "metrics": {k: (m[k], u) for k, u in units.items()}}


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _changed_docs(spark, old_fp: str, new_fp: str) -> int:
    """Documents added, deleted or edited between two doc_fp tables."""
    from pyspark.sql import functions as F

    a = spark.read.parquet(old_fp).withColumnRenamed("fp", "a")
    b = spark.read.parquet(new_fp).withColumnRenamed("fp", "b")
    return a.join(b, "doc_id", "full").filter(
        ~F.col("a").eqNullSafe(F.col("b"))).count()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the default-seed triples digest and the "
                         "terminology shape to expected.json")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import nobletools_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{wl.name}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # every temp file of this process, the JVM and its Python workers
    # stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.makedirs(os.environ["TMPDIR"])
    import tempfile
    tempfile.tempdir = None
    try:
        if args.record:
            return record(wl, work)
        if args.trace:
            res = measure_traced(wl, args.seed, args.seconds, work)
        else:
            res = measure(wl, args.seed, args.seconds, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: res[k] for k in ("cpu_probe_s", "errors")}
                     | {"runs": res.get("runs")}))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res["metrics"].items()}}))
    return 0


def record(wl: Workload, work: str) -> int:
    inp = make_inputs(wl, DEFAULT_SEED, work)
    spark = start_spark(work, host_cores())
    try:
        job = Job(spark, wl, inp, work)
        index, stages, tables = job.setup()
        out, _, _ = job.run(stages, job.inputs(tables, inp["docs1"]))
        digest = multiset_digest(spark.read.parquet(f"{out}/triples"))
    finally:
        stop_spark(spark)
    exp = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            exp = json.load(f)
    exp[wl.name] = {"triples_digest": digest,
                    "shape": inp["shape"] | index_stats(index)}
    with open(EXPECTED, "w") as f:
        json.dump(exp, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(exp[wl.name]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
