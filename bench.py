"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf", ...}.

Each query is forced end-to-end with the noop sink (full execution, no
driver collect). The KG pipeline additionally reports docs/sec and
triples/sec — the north-rule throughput numbers.

De-noising (r2 task #6, tightened r4 per r3 verdict #6): sandbox CPU
delivery swings 3-8× between phases, so a single pass per query
confounds plan quality with host phase. The harness runs SWEEPS full
passes over the query list in alternating order and reports the
per-query minimum. Queries whose best-3-sample spread still exceeds
$SPARK_GRAFT_BENCH_SPREAD_THRESH (default 3×) get up to
$SPARK_GRAFT_BENCH_EXTRA (default 3) adaptive extra passes, rotated
across the noisy queries so a throttled host phase can't dominate one
query's extras. `spread_max_over_min` is the best-3 spread — "is the
reported minimum corroborated by two nearby runs?" — because the raw
worst/best ratio (reported as `spread_worst_pass`) can only grow with
more sampling and says nothing about convergence of the min.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402
from nobletools_spark.session import get_spark  # noqa: E402

HEADLINE = (
    "kg_mentions",
    "kg_doc_concepts",
    "kg_cooccurrence",
    "kg_template_items",
    "kg_root_findings",
    "kg_pagerank",
    "kg_triangles",
    "kg_communities",
    "text_quality",
    "text_classifier",
    "text_fingerprints",
    "dedup_exact_bag",
    "dedup_window_spans",
    "dedup_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_topk",
    "sim_lsh_topk",
    "sim_ivf_topk",
    "text_repetition",
    "dedup_lines",
    "dedup_strip_windows",
    "text_filter",
    "text_vocab",
    "text_pack",
    "text_pack_manifest",
    "media_frames",
    "media_decode",
    "kg_media_adjacent",
    "kg_integrity",
    "kg_incremental_diff",
    "kg_incremental_cooc",
    "kg_lift",
    "kg_khop",
    "kg_negatives",
    "kg_typed_cooc",
    "kg_relations",
    "kg_concept_nodes",
)


def _force(df) -> int:
    df.write.mode("overwrite").format("noop").save()
    return 0


def _cpu_probe() -> float:
    """Single-core CPU-delivery calibration: seconds for a fixed 20M
    pure-Python loop. The shared host's delivery swings 3-8x between
    phases; emitting the probe INSIDE the artifact lets any reader
    normalize timings across rounds measured in different phases
    (~1.0 s = calm, ≥2 s = throttled)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    assert x  # keep the loop un-eliminable
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(cores=cpus, shuffle_partitions=int(cpus))

    sweeps = int(os.environ.get("SPARK_GRAFT_BENCH_SWEEPS", "3"))
    probe_before = _cpu_probe()
    qs = entry.queries()
    # warm the JVM + broadcast path once (excluded from timings)
    _force(qs["kg_mentions"](spark, sf_dir))

    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    annotate_samples: list[float] = []
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_triples = 0
    for s in range(sweeps):
        # alternate sweep order so a transient host throttle cannot
        # systematically penalize the queries at one end of the list
        order = HEADLINE if s % 2 == 0 else tuple(reversed(HEADLINE))
        for name in order:
            t0 = time.perf_counter()
            _force(qs[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        n_triples = qs["kg_mentions"](spark, sf_dir).count()
        annotate_samples.append(time.perf_counter() - t0)

    def _best3_spread(ts: list[float]) -> float | None:
        # a single sample has NO spread — return None (null in the
        # JSON) rather than a false-corroboration 1.0
        if len(ts) < 2:
            return None
        best = sorted(ts)[:3]
        return best[-1] / best[0]

    extra = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "3"))
    thresh = float(os.environ.get("SPARK_GRAFT_BENCH_SPREAD_THRESH", "3.0"))
    for _ in range(extra):
        noisy = [n for n in HEADLINE
                 if (_best3_spread(samples[n]) or 0.0) > thresh]
        if not noisy:
            break
        for name in noisy:
            t0 = time.perf_counter()
            _force(qs[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)

    timings = {name: round(min(ts), 4) for name, ts in samples.items()}
    spread = {name: (None if (s := _best3_spread(ts)) is None
                     else round(s, 2))
              for name, ts in samples.items()}
    spread_worst = {name: (None if len(ts) < 2
                           else round(max(ts) / min(ts), 2))
                    for name, ts in samples.items()}
    annotate_sec = min(annotate_samples)

    total = round(sum(timings.values()), 4)
    payload = json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": int(cpus),
        "sweeps": sweeps,
        "spread_max_over_min": spread,
        "spread_worst_pass": spread_worst,
        "extra_passes": {name: len(ts) - sweeps
                         for name, ts in samples.items()
                         if len(ts) > sweeps},
        "annotate_docs_per_sec": round(n_docs / annotate_sec, 1),
        "annotate_triples_per_sec": round(n_triples / annotate_sec, 1),
        "cpu_probe_sec": {"before": probe_before,
                          "after": _cpu_probe()},
    })
    # Capture-proofing (r4 verdict #3: the driver's tail-grab truncated
    # BENCH_r04.json to an unparseable fragment): persist the JSON to a
    # file AND print it twice — once before Spark shutdown noise, once as
    # the very last line — so any head- or tail-anchored capture lands a
    # complete line.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH_LOCAL.json")
    with open(out_path, "w") as fh:
        fh.write(payload + "\n")
    print(payload, flush=True)
    spark.stop()
    print(payload, flush=True)


if __name__ == "__main__":
    main()
