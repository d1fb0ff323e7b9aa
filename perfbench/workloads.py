"""The three workloads. Each one generates its inputs from the seed, runs a
warm-up pass on a smaller slice, runs the timed pass through the public API,
checks every output against an independent reference, and for traced runs
replays the pass one layer call at a time under spans.

The number of unit ops scales with ``--seconds``; a timed pass takes one to
two times that on a 4-core machine. The properties each workload exists for
(duplicate share, cluster skew, corpus below the LSH threshold) do not
depend on size.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import nullcontext
from functools import partial

import numpy as np
import pandas as pd

from perfbench import checks, gen
from perfbench.harness import dir_stats, fresh_dir, median
from perfbench.provider import BenchProvider, count_lines, throttled


def _entry():
    import __spark_entry__ as entry

    return entry


def _write_parquet(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False)
    return path


def _materialize(df):
    """Persist and count, so a layer's work runs inside its span."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, seconds: int,
                 plant_error: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.plant_error = plant_error
        self.props: dict = {}

    def span(self, tracer, name, **kw):
        return tracer.span(name, **kw) if tracer is not None else nullcontext()

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)


# ===================================================================
class EnrichStream(Workload):
    """``execute_chunked`` over rows with ~40% repeated prompts, batch size 1,
    raw parser, response memo on, a 2 ms provider wait and a one-time 429 on
    one prompt in 200. Unit op: one chunk commit, timed from ``chunk_start``
    to ``chunk_committed`` by a ``CollectingObserver``."""

    name = "enrich_stream"
    chunk_size = 500
    latency_s = 0.002
    throttle_one_in = 200
    retry_after_s = 0.02

    def generate(self):
        e = _entry()
        self.template, self.rules, self.default = e.TEMPLATE, e.RULES, e.DEFAULT_LABEL
        kws = [k for k, _ in self.rules]
        self.n_chunks = max(4, round(self.seconds * 0.6))
        n = self.n_chunks * self.chunk_size
        df, self.props = gen.enrich_stream(self.seed, n, kws)
        self.input = _write_parquet(df, self.path("inputs", "rows.parquet"))
        self.throttled_distinct = sum(
            throttled(self.template.format(text=t), self.throttle_one_in)
            for t in df["text"].unique()
        )
        self.props["throttled_prompt_share"] = self.throttled_distinct / df["text"].nunique()
        small, _ = gen.enrich_stream(self.seed, 120, kws, salt="stream-warmup")
        self.warm_input = _write_parquet(small, self.path("inputs", "warmup.parquet"))
        return self.props

    def pipeline(self, input_path, tag, observers=()):
        from ondine_spark import PipelineBuilder

        d = fresh_dir(self.path("run", tag))
        factory = partial(
            BenchProvider, rules=self.rules, default=self.default,
            latency_s=self.latency_s, throttle_one_in=self.throttle_one_in,
            retry_after_s=self.retry_after_s,
            count_file=os.path.join(d, "calls.log"),
            throttle_file=os.path.join(d, "throttled.log"),
        )
        b = (
            PipelineBuilder(self.spark)
            .from_parquet(input_path, ["text"], id_column="doc_id")
            .with_prompt(self.template, ["sentiment"])
            .with_custom_llm_client(factory)
            .with_concurrency(8)
            .with_checkpoint_dir(os.path.join(d, "ckpt"), f"s-{tag}")
            .with_response_memo(os.path.join(d, "memo"))
        )
        b.spec.processing.retry_base_delay = self.retry_after_s
        for o in observers:
            b.with_observer(o)
        return b.build(), d

    def warmup(self):
        from ondine_spark.streaming.runner import execute_chunked

        p, _ = self.pipeline(self.warm_input, "warmup")
        execute_chunked(p, chunk_size=60)
        execute_chunked(p, chunk_size=60)

    def run(self, tracer=None):
        from ondine_spark import CollectingObserver
        from ondine_spark.streaming.runner import chunked_result_frame, execute_chunked

        events = CollectingObserver()
        hooks = [events] + ([_OpSpans(tracer)] if tracer is not None else [])
        p, d = self.pipeline(self.input, "timed", hooks)
        t0 = time.time()
        summary = execute_chunked(p, chunk_size=self.chunk_size)
        wall = time.time() - t0
        calls = count_lines(os.path.join(d, "calls.log"))
        starts = {e.payload["chunk_id"]: e.ts for e in events.events if e.kind == "chunk_start"}
        ops = [
            e.ts - starts[e.payload["chunk_id"]]
            for e in events.events if e.kind == "chunk_committed"
        ]
        resumes, resumed_ok = [], True
        for _ in range(3):
            t = time.time()
            again = execute_chunked(p, chunk_size=self.chunk_size)
            resumes.append(time.time() - t)
            resumed_ok &= again.resumed_rows == self.props["rows"] and not again.chunks
        resumed_ok &= count_lines(os.path.join(d, "calls.log")) == calls
        out = (
            chunked_result_frame(p, os.path.join(d, "ckpt"), "s-timed")
            .select("doc_id", "sentiment").toPandas()
        )
        return {
            "wall_s": wall, "rows": self.props["rows"], "ops": ops, "out": out,
            "calls": calls, "retries": count_lines(os.path.join(d, "throttled.log")),
            "cost": summary.total_cost, "resume_s": median(resumes),
            "resumed_ok": resumed_ok,
            # the work the traced replay repeats: the pass and one resume read
            "replayed_s": wall + median(resumes),
        }

    def check(self, res):
        out = res["out"]
        if self.plant_error:
            out.loc[out.index[0], "sentiment"] = "planted-wrong-label"
        ref = checks.oracle_enrich(self.input).rename(columns={"label": "sentiment"})
        row_bad = checks.mismatches(out, ref, "doc_id", ["sentiment"])
        items = {
            "calls == distinct prompts": res["calls"] == self.props["distinct_prompts"],
            "one 429 per throttled prompt": res["retries"] == self.throttled_distinct,
            "resume re-invokes nothing": res["resumed_ok"],
        }
        failed = row_bad + sum(not ok for ok in items.values())
        return len(ref) + len(items), failed, {"row_mismatches": row_bad, **items}

    def e2e(self, res):
        return {
            "api_calls_per_row": res["calls"] / res["rows"],
            "cost_per_1k_rows": float(res["cost"]) / res["rows"] * 1000,
            "resume_s": res["resume_s"],
        }

    def replay(self, tr):
        """The timed pass as one public call per layer: scan, spill into
        chunks, then per chunk render → memo split → invoke → memo write →
        parse → durable cache append; then the resume read."""
        from pyspark.sql import functions as F

        from ondine_spark.functions.parsing import apply_parser
        from ondine_spark.functions.templates import prompt_column
        from ondine_spark.llm.invoke import invoke_llm
        from ondine_spark.llm.memo import (
            MEMO_KEY, memo_key_col, read_memo, split_by_memo, write_memo,
        )
        from ondine_spark.operators.batching import with_global_index
        from ondine_spark.sources.cache import read_cache, write_responses
        from ondine_spark.sources.readers import load_dataset

        spark = self.spark
        with tr.span("plans.build"):
            p, d = self.pipeline(self.input, "replay")
            p.result_frame()
        spec = p.spec
        ckpt, sid, memo = spec.processing.checkpoint_dir, spec.processing.session_id, spec.processing.memo_path
        calls = spark.sparkContext.accumulator(0)
        with tr.span("sources.scan"):
            base, n = _materialize(load_dataset(spark, spec.dataset))
        spill = os.path.join(d, "spill")
        with tr.span("streaming.spill"):
            seq = with_global_index(base, "_seq")
            seq.withColumn("_chunk", (F.col("_seq") / self.chunk_size).cast("long")).drop(
                "_seq"
            ).write.mode("overwrite").partitionBy("_chunk").parquet(spill)
        base.unpersist()
        stats = {"rows": 0, "prompt_bytes": 0, "wait_s": 0.0, "errors": 0, "parse_fail": 0}
        for cid in range(self.n_chunks):
            with tr.span("op", op=True):
                chunk = spark.read.parquet(os.path.join(spill, f"_chunk={cid}"))
                with tr.span("functions.render"):
                    rendered = chunk.withColumn(
                        "prompt", prompt_column(spec.prompt.template, available_columns=chunk.columns)
                    )
                    rendered, k = _materialize(rendered)
                    stats["prompt_bytes"] += rendered.agg(
                        F.sum(F.octet_length("prompt"))
                    ).first()[0]
                    stats["rows"] += k
                with tr.span("llm.memo"):
                    keyed = rendered.withColumn(MEMO_KEY, memo_key_col(spec.llm.model, None))
                    hits, misses = split_by_memo(keyed, read_memo(spark, memo))
                    todo, _ = _materialize(misses.select(MEMO_KEY, "prompt").dropDuplicates([MEMO_KEY]))
                    if hits is not None:
                        hits, _ = _materialize(hits)
                with tr.span("llm.invoke"):
                    fresh, _ = _materialize(
                        invoke_llm(todo, spec.llm, spec.processing, call_counter=calls)
                    )
                    w, e = fresh.agg(F.sum("latency_ms"), F.count("error")).first()
                    stats["wait_s"] += (w or 0.0) / 1000.0
                    stats["errors"] += e
                with tr.span("llm.memo"):
                    write_memo(fresh, memo)
                with tr.span("functions.parse"):
                    answered = misses.join(fresh.drop("prompt"), on=MEMO_KEY)
                    resp = answered if hits is None else answered.unionByName(
                        hits.select(*answered.columns)
                    )
                    parsed, _ = _materialize(apply_parser(resp, ["sentiment"], "raw"))
                    stats["parse_fail"] += parsed.filter(F.col("sentiment").isNull()).count()
                with tr.span("sources.cache_write"):
                    write_responses(parsed, ckpt, sid)
                self.spark.catalog.clearCache()
        with tr.span("sources.cache_read"):
            read_cache(spark, ckpt, sid).count()
        cache_bytes, cache_files = dir_stats(ckpt)
        return {
            "sources.cache_bytes_per_row": cache_bytes / stats["rows"],
            "sources.cache_files": cache_files,
            "llm.calls": calls.value,
            "llm.retries": count_lines(os.path.join(d, "throttled.log")),
            "llm.call_errors": stats["errors"],
            "llm.provider_wait_s": stats["wait_s"],
            "llm.memo_hit_frac": 1.0 - calls.value / stats["rows"],
            "functions.prompt_bytes_per_row": stats["prompt_bytes"] / stats["rows"],
            "functions.parse_fail_frac": stats["parse_fail"] / stats["rows"],
        }


class _OpSpans:
    """Observer that opens an op span at ``chunk_start`` and closes it at
    ``chunk_committed``; it runs on the driver thread that submits the
    chunk's jobs, so the span's job group labels exactly those jobs."""

    def __init__(self, tracer):
        self.tracer = tracer
        self._cm = None

    def on_event(self, event):
        if event.kind == "chunk_start":
            self._cm = self.tracer.span("op", op=True, chunk=event.payload["chunk_id"])
            self._cm.__enter__()
        elif event.kind == "chunk_committed" and self._cm is not None:
            self._cm.__exit__(None, None, None)
            self._cm = None


# ===================================================================
class CurateDedup(Workload):
    """``exact_dedup`` then ``near_dedup(method="minhash")`` over the first 90%
    of a corpus with planted duplicate clusters; the last 10% then arrive as
    micro-batches through ``dedup_batch_against_store`` against a signature
    store seeded with the batch pass's survivors. Unit op: one micro-batch
    (read, dedup against the store, write survivors and their band rows)."""

    name = "curate_dedup"
    n_docs = 3000

    def generate(self):
        # seven at 10 s, about 2.3 s each on 4 cores, so that the median is
        # not one of the first, slower ones
        self.n_batches = max(3, self.seconds * 3 // 4)
        df, self.expected, self.props = gen.curate(self.seed, self.n_docs)
        self.inputs = self._layout(df, "timed", self.n_batches)
        small, _, _ = gen.curate(self.seed, 300, salt="curate-warmup")
        # two warm-up micro-batches: after only one, the first two or three
        # timed micro-batches ran 15-30% slower than the rest
        self.warm_inputs = self._layout(small, "warmup", 2)
        self.props["micro_batches"] = self.n_batches
        self.props["micro_batch_docs"] = int(round(0.1 * len(df) / self.n_batches))
        return self.props

    def _layout(self, df, tag, n_batches):
        n_main = int(round(0.9 * len(df)))
        main = _write_parquet(df[df.doc_id < n_main], self.path("inputs", tag, "main.parquet"))
        rest = df[df.doc_id >= n_main]
        batches = [
            _write_parquet(part, self.path("inputs", tag, f"batch-{i}.parquet"))
            for i, part in enumerate(np.array_split(rest, n_batches))
        ]
        return main, batches

    def _batch_pass(self, main_path, d):
        from pyspark.sql import functions as F

        from ondine_spark.operators.dedup import (
            exact_dedup, minhash_band_rows, minhash_signature, near_dedup, normalized_text,
        )

        main = self.spark.read.parquet(main_path)
        ex = exact_dedup(
            main.withColumn("_norm", normalized_text(F.col("text"))), ["_norm"], "doc_id"
        ).drop("_norm")
        near_dedup(ex, "doc_id", "text", method="minhash").write.parquet(os.path.join(d, "kept", "bid=main"))
        kept = self.spark.read.parquet(os.path.join(d, "kept", "bid=main"))
        minhash_band_rows(minhash_signature(kept, "doc_id", "text", 16, 3), 16, 8).write.parquet(
            os.path.join(d, "store", "bid=main")
        )

    def _micro_batch(self, path, i, d, tracer=None):
        from ondine_spark.core.checkpoints import checkpoint_df, unpersist_rdd_ids
        from ondine_spark.streaming.incremental_dedup import dedup_batch_against_store

        spark = self.spark
        batch = spark.read.parquet(path)
        store = spark.read.parquet(os.path.join(d, "store")).drop("bid")
        with self.span(tracer, "streaming.dedup_batch"):
            kept_docs, kept_rows, cached = dedup_batch_against_store(batch, store, "doc_id", "text")
            kept_docs, ids_docs = checkpoint_df(kept_docs)
            kept_rows, ids_rows = checkpoint_df(kept_rows)
            for c in cached:
                c.unpersist()
        kept_docs.write.mode("overwrite").parquet(os.path.join(d, "kept", f"bid={i}"))
        kept_rows.write.mode("overwrite").parquet(os.path.join(d, "store", f"bid={i}"))
        unpersist_rdd_ids(spark.sparkContext, ids_docs | ids_rows)

    def warmup(self):
        d = fresh_dir(self.path("run", "warmup"))
        main, batches = self.warm_inputs
        self._batch_pass(main, d)
        for i, b in enumerate(batches):
            self._micro_batch(b, i, d)

    def run(self, tracer=None):
        d = fresh_dir(self.path("run", "timed"))
        main, batches = self.inputs
        t0 = time.time()
        with self.span(tracer, "batch_pass"):
            self._batch_pass(main, d)
        ops = []
        for i, b in enumerate(batches):
            t = time.time()
            with self.span(tracer, "op", op=True):
                self._micro_batch(b, i, d)
            ops.append(time.time() - t)
        wall = time.time() - t0
        kept = pd.read_parquet(os.path.join(d, "kept"), columns=["doc_id"])
        return {"wall_s": wall, "rows": self.props["docs"], "ops": ops,
                "kept": set(kept["doc_id"].tolist()), "replayed_s": wall}

    def check(self, res):
        kept = set(res["kept"])
        if self.plant_error:
            kept ^= {min(kept)}
        failed = len(kept ^ self.expected)
        return self.props["docs"], failed, {
            "kept": len(kept), "expected_kept": len(self.expected), "doc_mismatches": failed,
        }

    def e2e(self, res):
        return {}

    def replay(self, tr):
        from pyspark.sql import functions as F

        from ondine_spark.operators.dedup import (
            connected_components, dedup_keep_representative, exact_dedup,
            minhash_band_rows, minhash_lsh_pairs, minhash_signature, normalized_text,
        )

        spark = self.spark
        d = fresh_dir(self.path("run", "replay"))
        main_path, batches = self.inputs
        main = spark.read.parquet(main_path)
        with tr.span("operators.dedup.exact"):
            ex, _ = _materialize(exact_dedup(
                main.withColumn("_norm", normalized_text(F.col("text"))), ["_norm"], "doc_id"
            ).drop("_norm"))
        with tr.span("operators.dedup.signature"):
            sig, _ = _materialize(minhash_signature(ex, "doc_id", "text", 32, 3))
        with tr.span("trace.counters"):
            max_bucket, candidates = _bucket_stats(minhash_band_rows(sig, 32, 8))
        with tr.span("operators.dedup.lsh"):
            pairs, edges = _materialize(minhash_lsh_pairs(
                ex, "doc_id", "text", 32, 8, 3, threshold=0.8, connectivity_only=True
            ))
        with tr.span("operators.dedup.cc"):
            comp, _ = _materialize(connected_components(pairs))
        with tr.span("operators.dedup.keep"):
            dedup_keep_representative(ex, "doc_id", pairs, components=comp).write.parquet(
                os.path.join(d, "kept", "bid=main")
            )
        with tr.span("operators.dedup.signature"):
            kept = spark.read.parquet(os.path.join(d, "kept", "bid=main"))
            minhash_band_rows(minhash_signature(kept, "doc_id", "text", 16, 3), 16, 8).write.parquet(
                os.path.join(d, "store", "bid=main")
            )
        spark.catalog.clearCache()
        matches = batch_pairs = 0
        for i, b in enumerate(batches):
            with tr.span("op", op=True):
                with tr.span("trace.counters"):
                    rows = minhash_band_rows(
                        minhash_signature(spark.read.parquet(b), "doc_id", "text", 16, 3), 16, 8
                    )
                    store = spark.read.parquet(os.path.join(d, "store")).drop("bid")
                    matches += rows.join(store.select("band", "key"), on=["band", "key"]).count()
                    batch_pairs += _bucket_stats(rows)[1]
                self._micro_batch(b, i, d, tracer=tr)
        return {
            "operators.dedup.max_bucket": max_bucket,
            "operators.dedup.candidate_pairs": candidates,
            "operators.dedup.edges": edges,
            "operators.dedup.edges_per_candidate": edges / candidates if candidates else 0.0,
            "streaming.store_matches": matches,
            "streaming.batch_candidate_pairs": batch_pairs,
        }

def _bucket_stats(band_rows) -> tuple[int, int]:
    """(largest LSH bucket, Σ C(k,2) over buckets): the candidate pairs a
    pairwise kernel would verify, computed from bucket sizes without
    materialising a pair."""
    from pyspark.sql import functions as F

    sizes = band_rows.groupBy("band", "key").count()
    mx, pairs = sizes.agg(
        F.max("count"), F.sum(F.col("count") * (F.col("count") - 1) / 2)
    ).first()
    return int(mx or 0), int(pairs or 0)


# ===================================================================
class RagGround(Workload):
    """``KnowledgeStore.ingest`` of a seeded corpus, one ``execute()`` over
    query rows with top-3 knowledge-base context, grounding, confidence and
    batch size 25, then ``store.search(mode="hybrid")`` calls. Unit op: one
    search. The store stays below ``LSH_AUTO_THRESHOLD``, so retrieval runs
    the exact plan."""

    name = "rag_ground"
    template = "Answer the question: {question}"
    n_docs = 300
    n_queries = 300
    top_k = 3
    sample = 40

    def generate(self):
        e = _entry()
        # the answer names the first keyword found, so a grounded answer's
        # words can appear in the retrieved context
        kws = [k for k, _ in e.RULES]
        self.rules, self.default = tuple((k, k) for k in kws), e.DEFAULT_LABEL
        # nine at 10 s: about 1.5 s each on 4 cores; the first search on a
        # fresh store runs ~30% slower and the next one or two still run
        # slower than the rest, so with seven the median was sometimes one
        # of them
        self.n_searches = max(3, self.seconds - 1)
        docs, queries, self.search_terms, self.props = gen.rag(
            self.seed, self.n_docs, self.n_queries, kws, self.n_searches
        )
        self.docs = _write_parquet(docs, self.path("inputs", "docs.parquet"))
        self.queries = _write_parquet(queries, self.path("inputs", "queries.parquet"))
        # two warm-up searches: after only one, the first two timed searches
        # ran 20-40% slower than the rest
        wd, wq, self.warm_searches, _ = gen.rag(self.seed, 40, 30, kws, 2, salt="rag-warmup")
        self.warm = (
            _write_parquet(wd, self.path("inputs", "warm_docs.parquet")),
            _write_parquet(wq, self.path("inputs", "warm_queries.parquet")),
        )
        self.props["searches"] = self.n_searches
        return self.props

    def builder(self, queries, kb, out):
        from ondine_spark import PipelineBuilder

        factory = partial(
            BenchProvider, rules=self.rules, default=self.default,
            json_fields=("label", "n_words"), count_file=os.path.join(out + ".calls.log"),
        )
        return (
            PipelineBuilder(self.spark)
            .from_parquet(queries, ["question"], id_column="qid")
            .with_prompt(self.template, ["label", "n_words"])
            .with_custom_llm_client(factory)
            .with_concurrency(8)
            .with_knowledge_base(kb, ["question"], top_k=self.top_k)
            .with_grounding()
            .with_confidence_scoring()
            .with_batch_size(25)
            .to_parquet(out)
        )

    def _pass(self, docs, queries, searches, d, tracer=None):
        from ondine_spark import KnowledgeStore

        t0 = time.time()
        with self.span(tracer, "ingest"):
            store = KnowledgeStore(self.spark, os.path.join(d, "kb"))
            store.ingest(self.spark.read.parquet(docs))
        with self.span(tracer, "execute"):
            result = self.builder(queries, store.path, os.path.join(d, "out")).build().execute()
        wall = time.time() - t0
        ops, found = [], []
        for q in searches:
            t = time.time()
            with self.span(tracer, "op", op=True):
                found.append(store.search(q, top_k=self.top_k, mode="hybrid").collect())
            ops.append(time.time() - t)
        return wall, ops, found, result, store

    def warmup(self):
        d = fresh_dir(self.path("run", "warmup"))
        self._pass(*self.warm, self.warm_searches, d)

    def run(self, tracer=None):
        d = fresh_dir(self.path("run", "timed"))
        wall, ops, found, result, store = self._pass(
            self.docs, self.queries, self.search_terms, d, tracer
        )
        out = pd.read_parquet(os.path.join(d, "out"))
        chunks = pd.read_parquet(os.path.join(d, "kb", "chunks"), columns=["chunk_id", "text"])
        return {
            "wall_s": wall, "rows": self.n_queries, "ops": ops, "out": out,
            "found": found, "calls": count_lines(os.path.join(d, "out.calls.log")),
            "api_calls": result.api_calls, "cost": result.stats.total_cost,
            "chunks": chunks, "dim": store.ngram_dim,
            "replayed_s": wall + sum(ops),
        }

    def check(self, res):
        out = res["out"].copy()
        if self.plant_error:
            out.loc[out.index[0], "label"] = "planted-wrong-label"
        answers = [
            checks.mock_answer(
                checks.rag_prompt(self.template, q, c or ""), self.rules, self.default
            )
            for q, c in zip(out["question"], out["_kb_context"])
        ]
        exp = pd.DataFrame({"qid": out["qid"], "label": [a[0] for a in answers],
                            "n_words": [a[1] for a in answers]})
        ref_ids = pd.DataFrame({"qid": np.arange(self.n_queries)})
        row_bad = checks.mismatches(out, exp, "qid", ["label", "n_words"])
        row_bad += checks.mismatches(out[["qid"]].assign(k=1), ref_ids.assign(k=1), "qid", ["k"])
        g, c = out["_grounding_score"], out["_confidence_score"]
        verify_bad = int(
            (~g.between(0, 1) | (out["_grounded"] != (g >= 0.3)) | ~c.between(0, 1)).sum()
        )
        brute = checks.BruteForceTopK(res["chunks"], res["dim"])
        sample = out.sort_values("qid").sample(
            n=min(self.sample, len(out)), random_state=self.seed
        )
        topk_bad = sum(
            not brute.matches(q, ctx or "", self.top_k)
            for q, ctx in zip(sample["question"], sample["_kb_context"])
        )
        search_bad = sum(
            not (1 <= len(rows) <= self.top_k
                 and all(a.score >= b.score for a, b in zip(rows, rows[1:])))
            for rows in res["found"]
        )
        attempted = len(exp) + len(sample) + len(res["found"])
        failed = row_bad + verify_bad + topk_bad + search_bad
        # Provider calls are reported, not failed: with grounding on, the
        # execute re-runs the invoke stage once per grounding branch, so
        # calls exceed ceil(N/25) while every output stays correct.
        return attempted, failed, {
            "row_mismatches": row_bad, "verification_out_of_range": verify_bad,
            "topk_sample_mismatches": topk_bad, "search_malformed": search_bad,
            "provider_calls": res["calls"], "result_api_calls": res["api_calls"],
            "calls_one_pass": math.ceil(self.n_queries / 25),
        }

    def e2e(self, res):
        return {
            "api_calls_per_row": res["calls"] / res["rows"],
            "cost_per_1k_rows": float(res["cost"]) / res["rows"] * 1000,
        }

    def replay(self, tr):
        """Ingest, then the execute() spine as one public call per layer:
        scan → retrieve → render → aggregate → invoke → disaggregate → parse
        → merge → grounding → confidence → stats; then the searches."""
        from pyspark.sql import functions as F

        from ondine_spark import KnowledgeStore
        from ondine_spark.context.confidence import confidence_scores
        from ondine_spark.context.grounding import grounding_scores
        from ondine_spark.functions.parsing import apply_parser
        from ondine_spark.functions.templates import prompt_column
        from ondine_spark.knowledge.chunker import fixed_chunks
        from ondine_spark.knowledge.retrieval import attach_context
        from ondine_spark.llm.invoke import invoke_llm
        from ondine_spark.operators.batching import aggregate_batches, disaggregate_batches
        from ondine_spark.operators.merge import merge_results
        from ondine_spark.operators.quality import run_stats_and_quality
        from ondine_spark.sources.readers import ROW_ID, load_dataset

        spark = self.spark
        d = fresh_dir(self.path("run", "replay"))
        docs = spark.read.parquet(self.docs)
        with tr.span("knowledge.chunk"):
            _materialize(fixed_chunks(docs, "doc_id", "text", max_tokens=128))
        kb = os.path.join(d, "kb")
        store = KnowledgeStore(spark, kb)
        with tr.span("knowledge.ingest"):
            store.ingest(docs)
        index_bytes = sum(dir_stats(os.path.join(kb, x))[0] for x in ("terms", "buckets"))
        spark.catalog.clearCache()
        with tr.span("plans.build"):
            p = self.builder(self.queries, kb, os.path.join(d, "out")).build()
            p.result_frame()
        spark.catalog.clearCache()
        spec, out_cols = p.spec, p.spec.dataset.output_columns
        with tr.span("sources.scan"):
            base, n = _materialize(load_dataset(spark, spec.dataset))
        with tr.span("knowledge.retrieve"):
            ctx, _ = _materialize(attach_context(
                base, store, ["question"], self.top_k, 0.0,
                context_col="_kb_context", count_col="_kb_count", method="auto",
            ))
        with tr.span("trace.counters"):
            postings = _postings_per_query(base, store)
        with tr.span("functions.render"):
            p_col = prompt_column(spec.prompt.template, available_columns=ctx.columns)
            p_col = F.when(
                F.col("_kb_context").isNotNull() & (F.col("_kb_context") != ""),
                F.concat(F.lit("Context:\n"), F.col("_kb_context"), F.lit("\n\n"), p_col),
            ).otherwise(p_col)
            rendered, _ = _materialize(ctx.withColumn("prompt", p_col))
            prompt_bytes = rendered.agg(F.sum(F.octet_length("prompt"))).first()[0]
        calls = spark.sparkContext.accumulator(0)
        with tr.span("operators.batching.aggregate"):
            batches, n_batches = _materialize(aggregate_batches(rendered, 25))
        with tr.span("llm.invoke"):
            invoked, _ = _materialize(invoke_llm(batches, spec.llm, spec.processing, call_counter=calls))
            wait, errors = invoked.agg(F.sum("latency_ms"), F.count("error")).first()
        with tr.span("operators.batching.disaggregate"):
            resp, _ = _materialize(disaggregate_batches(invoked))
        with tr.span("functions.parse"):
            parsed, _ = _materialize(apply_parser(resp, out_cols, "json"))
            parse_fail = parsed.filter(F.col(out_cols[0]).isNull()).count()
        with tr.span("operators.merge.join"):
            merged, _ = _materialize(merge_results(ctx, parsed.select(ROW_ID, *out_cols), out_cols))
        with tr.span("context.grounding"):
            grounded, _ = _materialize(grounding_scores(
                merged.withColumn("_out_text", F.concat_ws(" ", *[F.col(c) for c in out_cols])),
                "_out_text", "_kb_context", threshold=0.3,
            ))
            grounded_frac = grounded.agg(F.avg(F.col("_grounded").cast("double"))).first()[0]
        with tr.span("context.confidence"):
            _materialize(confidence_scores(grounded, support_col="_kb_count"))
        with tr.span("operators.quality.stats"):
            run_stats_and_quality(parsed, out_cols)
        spark.catalog.clearCache()
        for q in self.search_terms:
            with tr.span("op", op=True):
                with tr.span("knowledge.search"):
                    store.search(q, top_k=self.top_k, mode="hybrid").collect()
        text_bytes = self.props["text_bytes"]
        return {
            "knowledge.index_bytes_per_text_byte": index_bytes / text_bytes,
            "knowledge.postings_per_query": postings,
            "functions.prompt_bytes_per_row": prompt_bytes / n,
            "functions.parse_fail_frac": parse_fail / n,
            "operators.batching.batches": n_batches,
            "llm.calls": calls.value,
            "llm.call_errors": errors,
            "llm.provider_wait_s": (wait or 0.0) / 1000.0,
            "context.grounded_frac": grounded_frac,
        }


def _postings_per_query(queries, store) -> float:
    """Mean number of (bucket, chunk) postings a query's distinct n-gram
    buckets touch in the dense index: the exact plan's join volume."""
    from pyspark.sql import functions as F

    from ondine_spark.knowledge.embedders import ngram_buckets
    from ondine_spark.sources.readers import ROW_ID

    qb = queries.select(
        ROW_ID, F.explode(F.array_distinct(ngram_buckets(F.col("question"), dim=store.ngram_dim))).alias("bucket")
    )
    df = store.buckets().groupBy("bucket").count()
    total = qb.join(df, on="bucket").agg(F.sum("count")).first()[0] or 0
    return total / max(1, queries.count())


WORKLOADS = {w.name: w for w in (EnrichStream, CurateDedup, RagGround)}
