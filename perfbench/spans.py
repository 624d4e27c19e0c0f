"""Tracing for the traced benchmark run: spans recorded from outside the
package, around calls into each layer's public functions, plus Spark
stage metrics read from the status store.

A span is (id, name, start, end, parent), with times in seconds from
the tracer's creation. Spans are kept in memory and written out once,
when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import replace


class Tracer:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def now(self) -> float:
        return time.perf_counter() - self.t0

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": sid, "name": name, "start": start,
                           "end": end, "parent": parent, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        sid = self.add(name, self.now(), float("nan"), **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = self.now()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


# --------------------------------------------------------------------------
# Pipeline stage spans
# --------------------------------------------------------------------------

class StageTracer:
    """Records, for one ``Pipeline.run``, a span per pipeline stage and
    its plan / write / lineage parts, and tags every Spark job a stage
    triggers with the job group ``<prefix>:<stage>``.

    Boundaries come from three public calls ``Pipeline.run`` makes per
    computed stage, in order: the stage function (plan), then
    ``partition_lineage`` once the stage parquet is written, then
    ``session.local_table`` twice (the lineage rows, then the metrics
    row; a stage function may call it too, before the lineage). A stage
    span runs from its function call to the next stage's, and the last
    one ends when ``run`` returns."""

    def __init__(self, tracer: Tracer, sc, prefix: str):
        self.tracer, self.sc, self.prefix = tracer, sc, prefix
        self.stage_ids: dict[str, int] = {}
        self.cur: str | None = None
        self.marks: dict[str, dict[str, float]] = {}

    def wrap(self, stages):
        return [replace(st, fn=self._wrap_fn(st.name, st.fn))
                for st in stages]

    def _wrap_fn(self, name, fn):
        def traced(spark, results):
            self._enter(name)
            out = fn(spark, results)
            self.marks[name]["plan_end"] = self.tracer.now()
            return out
        return traced

    def _enter(self, name: str) -> None:
        now = self.tracer.now()
        self.close(now)
        self.cur = name
        self.marks[name] = {"start": now}
        self.sc.setJobGroup(f"{self.prefix}:{name}", name)

    def close(self, now: float) -> None:
        if self.cur is None:
            return
        m = self.marks[self.cur]
        sid = self.tracer.add(f"pipeline.stage.{self.cur}", m["start"], now)
        self.stage_ids[self.cur] = sid
        if "plan_end" in m:
            self.tracer.add("pipeline.plan", m["start"], m["plan_end"],
                            sid, stage=self.cur)
        if "lineage" in m:
            self.tracer.add("pipeline.write", m["plan_end"], m["lineage"],
                            sid, stage=self.cur)
            self.tracer.add("pipeline.lineage", m["lineage"],
                            m.get("metrics_row", now), sid, stage=self.cur)
        self.cur = None

    def on_lineage(self) -> None:
        if self.cur is not None:
            self.marks[self.cur].setdefault("lineage", self.tracer.now())

    def on_local_table(self) -> None:
        if self.cur is None or "lineage" not in self.marks[self.cur]:
            return
        m = self.marks[self.cur]
        m["n_local"] = m.get("n_local", 0) + 1
        if m["n_local"] == 2:
            m["metrics_row"] = self.tracer.now()


@contextmanager
def pipeline_hooks(st: StageTracer):
    """Patch the two boundary functions ``Pipeline.run`` looks up at
    call time; restore them on exit."""
    from nobletools_spark import session
    from nobletools_spark.plans import pipeline

    orig_pl, orig_lt = pipeline.partition_lineage, session.local_table

    def partition_lineage(df):
        st.on_lineage()
        return orig_pl(df)

    def local_table(*a, **kw):
        out = orig_lt(*a, **kw)
        st.on_local_table()
        return out

    pipeline.partition_lineage = partition_lineage
    session.local_table = local_table
    try:
        yield st
    finally:
        pipeline.partition_lineage = orig_pl
        session.local_table = orig_lt


def traced_pipeline_run(tracer: Tracer, spark, out_dir, stages, inputs,
                        prefix: str, run_config=None):
    """One ``Pipeline.run`` with stage spans; returns (results, pipe,
    StageTracer, wall_s)."""
    from nobletools_spark.plans.pipeline import Pipeline

    st = StageTracer(tracer, spark.sparkContext, prefix)
    pipe = Pipeline(out_dir, st.wrap(stages))
    with tracer.span(f"pipeline.run.{prefix}") as sp:
        with pipeline_hooks(st):
            t0 = time.perf_counter()
            res = pipe.run(spark, inputs, run_config=run_config)
            wall = time.perf_counter() - t0
        st.close(tracer.now())
    spark.sparkContext.setJobGroup("perfbench:idle", "idle")
    sp["wall_s"] = wall
    return res, pipe, st, wall


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

def stage_metrics(spark, group_prefix: str) -> dict[str, dict]:
    """Per pipeline stage (job group ``<group_prefix>:<stage>``): summed
    executor run time, shuffle write and spill bytes over the Spark
    stages its jobs ran, and the task skew (max ÷ median task run time)
    of its longest Spark stage."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(jvm.java.util.ArrayList())
    by_group: dict[str, set[int]] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if not g.isDefined() or not g.get().startswith(group_prefix + ":"):
            continue
        ids = j.stageIds()
        by_group.setdefault(g.get()[len(group_prefix) + 1:], set()).update(
            ids.apply(k) for k in range(ids.size()))
    q = sc._gateway.new_array(jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    stages = store.stageList(jvm.java.util.ArrayList(), False, True, q,
                             jvm.java.util.ArrayList())
    info = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.numCompleteTasks() == 0:
            continue  # skipped stage (its shuffle output was reused)
        skew = None
        d = s.taskMetricsDistributions()
        if d.isDefined():
            e = d.get().executorRunTime()
            med, mx = e.apply(0), e.apply(1)
            skew = mx / med if med > 0 else 1.0
        info[s.stageId()] = {
            "run_ms": s.executorRunTime(),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "skew": skew}
    out = {}
    for name, ids in by_group.items():
        rows = [info[i] for i in ids if i in info]
        longest = max(rows, key=lambda r: r["run_ms"], default=None)
        out[name] = {
            "task_s": sum(r["run_ms"] for r in rows) / 1000.0,
            "shuffle_write": sum(r["shuffle_write"] for r in rows),
            "spill": sum(r["spill"] for r in rows),
            "skew": (longest["skew"] if longest and longest["skew"]
                     else 1.0)}
    return out


# --------------------------------------------------------------------------
# Broadcast and transport probes
# --------------------------------------------------------------------------

def broadcast_probe(spark, index, cores: int) -> float:
    """Median over Python workers of the first ``bc.value`` of a fresh
    broadcast of ``index`` (unpickling the payload in the worker)."""
    sc = spark.sparkContext
    bc = sc.broadcast(index)

    def load(_it):
        import os
        import time as _t
        t0 = _t.perf_counter()
        v = bc.value
        yield (os.getpid(), _t.perf_counter() - t0, len(v.term_cuis))

    rows = sc.parallelize(range(cores), cores).mapPartitions(load).collect()
    bc.unpersist(blocking=True)
    first: dict[int, float] = {}
    for pid, s, _n in rows:
        first.setdefault(pid, s)
    return statistics.median(first.values())


def passthrough_s(docs_df) -> float:
    """Wall time of a pass-through ``mapInPandas`` over the matcher's
    input columns — the Arrow/pandas transport alone, no kernel."""
    from pyspark.sql import functions as F

    spark = docs_df.sparkSession
    n = spark.sparkContext.defaultParallelism
    df = docs_df.select(F.col("doc_id").cast("string").alias("doc_id"),
                        "spans")
    if df.rdd.getNumPartitions() < n:
        df = df.repartition(n)

    def same(batches):
        yield from batches

    t0 = time.perf_counter()
    df.mapInPandas(same, df.schema).write.format("noop") \
        .mode("overwrite").save()
    return time.perf_counter() - t0


# --------------------------------------------------------------------------
# Kernel replay (one process)
# --------------------------------------------------------------------------

def kernel_replay(docs, idx, cfg, ctx, min_seconds: float) -> dict:
    """Replay documents through ``matcher.process_document`` in this
    process: first untraced for the single-core rate (cycling through
    ``docs`` until ``min_seconds`` have passed), then once over ``docs``
    with the module-level public functions it calls wrapped, for the
    per-sub-layer times and counts."""
    from nobletools_spark.functions import docproc, textkit
    from nobletools_spark.operators import context as ctx_mod
    from nobletools_spark.operators import match_core, matcher

    n = 0
    t0 = time.perf_counter()
    while True:
        for doc_id, spans in docs:
            matcher.process_document(doc_id, spans, idx, cfg, ctx)
            n += 1
        el = time.perf_counter() - t0
        if el >= min_seconds:
            break
    out = {"kernel.docs_per_s_1core": n / el}

    acc = {"docproc": 0.0, "filter": 0.0, "match": 0.0, "acronym": 0.0,
           "context": 0.0, "sentences": 0, "filtered": 0, "mentions": 0,
           "bound": 0, "modifiers": 0}
    fs = cfg.for_search()

    def fanout_bound(text: str) -> int:
        words = set()
        for w in textkit.get_words(text):
            words.update(textkit.normalize_word_cached(
                w, fs.stem_words, fs.strip_digits, fs.strip_stop_words))
        return sum(len(idx.word_terms.get(w, ())) for w in words)

    o_doc, o_filter = docproc.process_document_text, docproc.filter_sentence
    o_match, o_acro = match_core.match_sentence, match_core.acronym_pass
    o_ctx = ctx_mod.apply_context

    def timed(key, fn, post=None):
        def w(*a, **kw):
            t = time.perf_counter()
            r = fn(*a, **kw)
            acc[key] += time.perf_counter() - t
            if post is not None:
                post(a, r)
            return r
        return w

    def on_doc(_a, r):
        acc["sentences"] += len(r.sentences)

    def on_filter(_a, r):
        acc["filtered"] += bool(r)

    def on_match(a, r):
        acc["mentions"] += len(r)
        acc["bound"] += fanout_bound(a[0])

    def on_ctx(a, _r):
        acc["modifiers"] += sum(1 for m in a[1] if m.modifiers)

    docproc.process_document_text = timed("docproc", o_doc, on_doc)
    docproc.filter_sentence = timed("filter", o_filter, on_filter)
    match_core.acronym_pass = timed("acronym", o_acro)
    ctx_mod.apply_context = timed("context", o_ctx, on_ctx)
    try:
        # the bound walk runs inside the match timer's ``post``, after
        # the timed call, so it does not inflate match_sentence_s
        match_core.match_sentence = timed("match", o_match, on_match)
        t0 = time.perf_counter()
        for doc_id, spans in docs:
            matcher.process_document(doc_id, spans, idx, cfg, ctx)
        wall = time.perf_counter() - t0
    finally:
        docproc.process_document_text = o_doc
        docproc.filter_sentence = o_filter
        match_core.match_sentence = o_match
        match_core.acronym_pass = o_acro
        ctx_mod.apply_context = o_ctx
    sent = max(acc["sentences"], 1)
    out.update({
        "kernel.replay_docs": len(docs),
        "kernel.replay_s": wall,
        "docproc.s": acc["docproc"] + acc["filter"],
        "docproc.sentences": acc["sentences"],
        "docproc.filtered_frac": acc["filtered"] / sent,
        "match_core.match_sentence_s": acc["match"],
        "match_core.acronym_pass_s": acc["acronym"],
        "match_core.candidate_bound": acc["bound"],
        "match_core.mention_yield": (acc["mentions"] / acc["bound"]
                                     if acc["bound"] else 0.0),
        "context.s": acc["context"],
        "context.modifiers": acc["modifiers"],
    })
    return out
