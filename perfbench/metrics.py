"""The metric catalogue: every end-to-end and per-layer metric by name,
with its unit and better-direction, and for each per-layer metric the
end-to-end metric it should move and the workloads it applies to.

``BENCHMARK.json`` at the repository root lists the gated subset in the
fixed format the benchmark contract allows (name, unit, better, bound);
``selftest.py`` checks that it agrees with this file.
"""

from __future__ import annotations

# A run costs 40-55 s on 4 cores and the gated set is repeated many times
# within a fixed time budget, so two workloads are gated; between them they
# exercise every layer. enrich_stream runs the same way but is not gated
# (see README.md).
GATED = ("curate_dedup", "rag_ground")

WORKLOADS = {
    "enrich_stream": (
        "latency-bound chunked enrichment (2 ms provider wait, ~40% repeated "
        "prompts, 0.5% 429s): memo, retry, per-chunk plans and cache writes "
        "dominate; batching is idle"
    ),
    "curate_dedup": (
        "no LLM: exact and MinHash near-dedup, then incremental micro-batches, "
        "under a 10% hot-cluster bucket skew, so dedup pair kernels and the "
        "streaming store join dominate"
    ),
    "rag_ground": (
        "knowledge store ingest beside retrieval reads, then the batched LLM "
        "spine with grounding and confidence, so index, retrieval and "
        "verification changes show"
    ),
}

# name, unit, better, bound (share of the parent's median), gated.
# Gated metrics are reported by every workload and are never 0; the others
# are printed and recorded, but a workload that has no such quantity
# (no provider calls, no resume) prints n/a, so they cannot carry a bound.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25, True),
    ("rows_per_s", "rows/s", "higher", 0.25, True),
    ("op_p50_s", "s", "lower", 0.25, True),
    ("peak_rss_mb", "MB", "lower", 0.1, True),
    ("op_tail_s", "s", "lower", None, False),
    ("api_calls_per_row", "calls/row", "lower", None, False),
    ("cost_per_1k_rows", "USD", "lower", None, False),
    ("failed_frac", "ratio", "lower", None, False),
    ("resume_s", "s", "lower", None, False),
]

# name, unit, better, end-to-end metrics it should move,
# workloads where it is active, workloads where it is idle (predicted flat).
_STREAM, _CURATE, _RAG = "enrich_stream", "curate_dedup", "rag_ground"
_SPARK = [("jobs", "count"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B")]


def _starred(name, moves, on, idle):
    """A span metric that also records the span's Spark counts."""
    out = [(f"{name}_s", "s", "lower", moves, on, idle)]
    out += [(f"{name}.{k}", unit, "lower", moves, on, idle) for k, unit in _SPARK]
    return out


PER_LAYER = [
    ("sources.scan_s", "s", "lower", "rows_per_s", [_STREAM, _RAG], [_CURATE]),
    ("sources.cache_write_s", "s", "lower", "rows_per_s", [_STREAM], [_CURATE]),
    ("sources.cache_bytes_per_row", "B/row", "lower", "rows_per_s", [_STREAM], [_CURATE]),
    ("sources.cache_files", "count", "lower", "rows_per_s", [_STREAM], [_CURATE]),
    ("sources.cache_read_s", "s", "lower", "resume_s", [_STREAM], []),
    ("functions.render_s", "s", "lower", "rows_per_s", [_RAG, _STREAM], [_CURATE]),
    ("functions.prompt_bytes_per_row", "B/row", "lower", "rows_per_s", [_RAG, _STREAM], [_CURATE]),
    ("functions.parse_s", "s", "lower", "rows_per_s", [_RAG, _STREAM], [_CURATE]),
    ("functions.parse_fail_frac", "ratio", "lower", "failed_frac", [_RAG, _STREAM], [_CURATE]),
    *_starred("operators.batching.aggregate", "rows_per_s, api_calls_per_row", [_RAG], [_STREAM]),
    ("operators.batching.batches", "count", "lower", "api_calls_per_row", [_RAG], [_STREAM]),
    ("operators.batching.disaggregate_s", "s", "lower", "rows_per_s", [_RAG], [_STREAM]),
    *_starred("operators.merge.join", "rows_per_s", [_RAG], []),
    ("operators.quality.stats_s", "s", "lower", "rows_per_s", [_RAG], []),
    *_starred("llm.invoke", "rows_per_s, op_tail_s, failed_frac", [_STREAM, _RAG], [_CURATE]),
    ("llm.calls", "count", "lower", "api_calls_per_row", [_STREAM, _RAG], [_CURATE]),
    ("llm.retries", "count", "lower", "op_tail_s", [_STREAM], [_CURATE]),
    ("llm.call_errors", "count", "lower", "failed_frac", [_STREAM, _RAG], [_CURATE]),
    ("llm.provider_wait_s", "s", "lower", "rows_per_s, op_tail_s", [_STREAM, _RAG], [_CURATE]),
    ("llm.inflight_mean", "calls", "higher", "rows_per_s", [_STREAM, _RAG], [_CURATE]),
    ("llm.memo_hit_frac", "ratio", "higher", "api_calls_per_row, cost_per_1k_rows", [_STREAM], [_RAG]),
    ("llm.memo_s", "s", "lower", "op_p50_s", [_STREAM], [_RAG]),
    ("plans.build_s", "s", "lower", "op_p50_s", [_STREAM, _RAG], [_CURATE]),
    ("plans.jobs_per_op", "jobs/op", "lower", "op_p50_s", [_STREAM, _RAG, _CURATE], []),
    ("plans.driver_gap_s", "s", "lower", "op_p50_s", [_STREAM, _RAG, _CURATE], []),
    ("streaming.spill_s", "s", "lower", "rows_per_s", [_STREAM], []),
    *_starred("streaming.dedup_batch", "op_p50_s, op_tail_s", [_CURATE], []),
    ("streaming.store_matches", "count", "lower", "op_p50_s", [_CURATE], []),
    ("streaming.batch_candidate_pairs", "count", "lower", "op_p50_s", [_CURATE], []),
    ("operators.dedup.exact_s", "s", "lower", "rows_per_s, peak_rss_mb", [_CURATE], [_STREAM, _RAG]),
    *_starred("operators.dedup.signature", "rows_per_s, peak_rss_mb", [_CURATE], [_STREAM, _RAG]),
    *_starred("operators.dedup.lsh", "rows_per_s, peak_rss_mb", [_CURATE], [_STREAM, _RAG]),
    *_starred("operators.dedup.cc", "rows_per_s, peak_rss_mb", [_CURATE], [_STREAM, _RAG]),
    ("operators.dedup.keep_s", "s", "lower", "rows_per_s, peak_rss_mb", [_CURATE], [_STREAM, _RAG]),
    ("operators.dedup.max_bucket", "count", "lower", "rows_per_s, peak_rss_mb", [_CURATE], []),
    ("operators.dedup.candidate_pairs", "count", "lower", "rows_per_s, peak_rss_mb", [_CURATE], []),
    ("operators.dedup.edges", "count", "lower", "rows_per_s, peak_rss_mb", [_CURATE], []),
    ("operators.dedup.edges_per_candidate", "ratio", "lower", "rows_per_s, peak_rss_mb", [_CURATE], []),
    ("knowledge.chunk_s", "s", "lower", "rows_per_s", [_RAG], [_STREAM]),
    *_starred("knowledge.ingest", "rows_per_s", [_RAG], [_STREAM]),
    ("knowledge.index_bytes_per_text_byte", "ratio", "lower", "rows_per_s", [_RAG], [_STREAM]),
    *_starred("knowledge.retrieve", "rows_per_s", [_RAG], [_STREAM]),
    ("knowledge.postings_per_query", "count", "lower", "rows_per_s", [_RAG], [_STREAM]),
    ("knowledge.search_s", "s", "lower", "op_p50_s", [_RAG], [_STREAM]),
    *_starred("context.grounding", "rows_per_s", [_RAG], []),
    ("context.grounded_frac", "ratio", "higher", "rows_per_s", [_RAG], []),
    ("context.confidence_s", "s", "lower", "rows_per_s", [_RAG], []),
    ("trace.overhead_s", "s", "lower", "-", [_STREAM, _CURATE, _RAG], []),
    ("trace.unattributed_frac", "ratio", "lower", "-", [_STREAM, _CURATE, _RAG], []),
]


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` this catalogue implies."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": n, "why": WORKLOADS[n]} for n in GATED],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound, gated in END_TO_END if gated
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, *_ in gated_layers()],
    }


def gated_layers() -> list[tuple]:
    """Per-layer metrics active on at least one gated workload."""
    return [m for m in PER_LAYER if set(m[4]) & set(GATED)]
