"""The three workloads. Each has ``setup(spark, rep, ops)`` (timed into
setup_s), ``prepare(spark, ops)`` (untimed warm-up and checks) and
``run(spark, ops)``, the measured phase. Every operation goes through
``Ops.run``, which times it and, in a traced run, executes it twice on
identical state — once with spans off and once with spans on,
alternating which goes first — and reads the Spark status-store
counters of both.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

import inputs as gen
from reference import OracleCache, exact_topk, result_digest
from sparkstats import RERUN_EXACT

K = 5  # hits per retrieval (the reference's default)
INGEST_MIN_STEPS = 3
WARMUP_DOCS = 200

CURATION_QUERIES = (
    "splade_expansion_from_index",
    "label_centroid_norm_pandas",
    "trihybrid_rrf_from_index",
    "rm3_query_expansion_from_index",
    # near_dup_components (~90% of its time in spec.fn) stands in for
    # kcore_part_basket, which took 5.2-10.1 s per warm execution across
    # runs on a 4-vCPU host, the widest spread in the mix, and runs twice
    # per run (oracle check + pass)
    "near_dup_components",
    "longest_dup_substring",
    "minhash_lsh_near_dups",
    "tfidf_cosine_topk_pairs",
    "ivfadc_ann_topk",
    "bm25_topk_from_index",
    "q5_local_supplier_volume",
    "doc_token_stats",
)


class Ops:
    """Op log: one record per operation, with checks counted."""

    def __init__(self, tracer, stats):
        self.tracer = tracer
        self.stats = stats  # SparkStatus in a traced run, else None
        self.records: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def _once(self, kind, fn, traced: bool, trace_id: str, after) -> dict:
        mark = self.stats.begin() if self.stats is not None else None
        self.tracer.active = traced
        t0 = time.perf_counter()
        try:
            with self.tracer.operation(trace_id), self.tracer.span(f"op.{kind}", "op"):
                result, error = fn(), None
        except Exception:
            result, error = None, traceback.format_exc()
        wall = time.perf_counter() - t0
        self.tracer.active = False
        if after is not None:
            after()
        counters = self.stats.end(mark) if self.stats is not None else None
        return {"result": result, "error": error, "wall": wall, "counters": counters}

    def run(self, kind: str, fn, *, fn_b=None, check=None, after=None) -> dict:
        """Run one operation; ``check(result)`` returns (ok, message) and
        runs untimed, as does ``after()``.

        In a traced run ``fn_b`` (default ``fn``) is the second execution
        on identical state; the traced one of the pair is recorded as the
        op, the untraced one supplies the overhead and rerun comparison."""
        n = len(self.records)
        trace_id = f"{kind}-{n}"
        if not self.tracer.enabled:
            rec = self._once(kind, fn, False, trace_id, after)
            self._check(kind, n, rec, check)
            rec.update(kind=kind, untraced_wall=None, rerun_equal=None)
        else:
            first_traced = n % 2 == 1
            a = self._once(kind, fn, first_traced, trace_id, after)
            b = self._once(kind, fn_b or fn, not first_traced, trace_id, after)
            traced, plain = (a, b) if first_traced else (b, a)
            self._check(kind, n, plain, check)
            self._check(kind, n, traced, check)
            rec = dict(traced, kind=kind, untraced_wall=plain["wall"])
            rec["rerun_equal"] = all(
                plain["counters"][c] == traced["counters"][c] for c in RERUN_EXACT
            )
            plain.pop("result")
        rec.pop("result")
        self.records.append(rec)
        return rec

    def _check(self, kind, n, rec, check) -> None:
        if not self.check(rec["error"] is None, f"{kind}#{n} raised"):
            print(rec["error"], file=sys.stderr)
            return
        if check is not None:
            ok, msg = check(rec["result"])
            self.check(ok, f"{kind}#{n}: {msg}")

    def walls(self, kind: str) -> list[float]:
        return [r["wall"] for r in self.records if r["kind"] == kind]


def _frame(spark, ids, texts):
    return spark.createDataFrame(
        pd.DataFrame({"id": np.asarray(ids, dtype=np.int64), "content": texts})
    )


def _hits_check(rows, exp_ids, exp_dist, texts):
    got_ids = [int(r["id"]) for r in rows]
    if got_ids != [int(i) for i in exp_ids]:
        return False, f"hit ids {got_ids} != exact {list(map(int, exp_ids))}"
    got_d = np.array([r["distance"] for r in rows], dtype=np.float64)
    if not np.allclose(got_d, exp_dist, rtol=0, atol=1e-12):
        return False, f"hit distances {got_d} != exact {exp_dist}"
    if [r["content"] for r in rows] != [texts[int(i)] for i in exp_ids]:
        return False, "hit contents differ from the documents sent"
    return True, ""


def _patch(module, name, wrapped, patches):
    patches.append((module, name, getattr(module, name)))
    setattr(module, name, wrapped)


class RagServe:
    """One client in a closed loop of chat turns (reference
    ``start_conversation``) against a compacted store. The measured op is
    a retrieval turn; advice-only turns are interleaved as generated."""

    op_kind = "turn"

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs = gen.rag_inputs(ctx.seed)
        self.texts = dict(zip(map(int, self.inputs.corpus.ids), self.inputs.corpus.texts))
        self.store = None

    @property
    def digest(self) -> str:
        return self.inputs.digest

    def setup(self, spark, rep: int, ops: Ops) -> None:
        from emails_to_vector_db_spark.pipeline import (
            EmbeddingStore,
            HashingEmbedder,
            embed_and_store,
        )

        path = os.path.join(self.ctx.scratch, f"rag_store_{rep}")
        if self.store is not None:
            shutil.rmtree(self.store.path, ignore_errors=True)
        c = self.inputs.corpus
        store = EmbeddingStore(spark, path)
        n = embed_and_store(spark, _frame(spark, c.ids, c.texts), store, HashingEmbedder(gen.DIM))
        store.compact()
        ops.check(n == len(c.ids), f"setup wrote {n} of {len(c.ids)} docs")
        self.store = store

    @staticmethod
    def _embed_query(q):
        from emails_to_vector_db_spark.pipeline.embedder import _hash_embed_batch

        return list(_hash_embed_batch(pd.Series([q]), gen.DIM)[0])

    def _check_turn(self, out, q, want):
        from emails_to_vector_db_spark.pipeline import rag

        if out["intent"] != want:
            return False, f"intent {out['intent']!r} != {want!r} for {q!r}"
        if want == "niche_advice":
            ok = out["hits"] is None and out["context"] == rag.ADVISORY_CONTEXT
            return ok, "advice turn did not return the advisory context"
        c = self.inputs.corpus
        hits = out["hits"].select("id", "distance", "content").collect()
        exp_ids, exp_d = exact_topk(c.ids, c.embeddings, gen.embed_text(q), K)
        ok, msg = _hits_check(hits, exp_ids, exp_d, self.texts)
        if ok and out["context"] != "\n\n".join(self.texts[int(i)] for i in exp_ids):
            return False, "context is not the exact top-k in distance order"
        return ok, msg

    def prepare(self, spark, ops: Ops) -> None:
        """One untimed, checked retrieval turn: the first turn of a
        session pays one-off plan and codegen cost."""
        from emails_to_vector_db_spark.pipeline import rag

        q = "price " + self.inputs.turns[0][0]
        out = rag.retrieve(q, store=self.store, embed_query=self._embed_query, k=K)
        mixed = any(w in gen.ADVICE_WORDS for w in q.split())
        ok, msg = self._check_turn(out, q, "mixed" if mixed else "product_search")
        ops.check(ok, f"warm-up turn: {msg}")

    def run(self, spark, ops: Ops) -> None:
        from emails_to_vector_db_spark.pipeline import rag
        from emails_to_vector_db_spark.pipeline import store as store_mod

        tr = self.ctx.tracer
        patches = []
        if tr.enabled:
            _patch(rag, "assemble_context", tr.wrap("rag.assemble_context", rag.assemble_context), patches)
            _patch(store_mod, "knn_topk", tr.wrap("knn.topk", store_mod.knn_topk), patches)
            self.store.search = tr.wrap("store.search", self.store.search)
        embed = tr.wrap("embedder.query_embed", self._embed_query)
        classify = tr.wrap("rag.classify", rag.classify_intent_rule_based)
        try:
            deadline = time.perf_counter() + self.ctx.seconds
            for query, intent in self.inputs.turns:
                if time.perf_counter() >= deadline:
                    break

                def turn(q=query):
                    return rag.retrieve(q, store=self.store, embed_query=embed, k=K, classifier=classify)

                # advice-only turns never reach Spark; they are run and
                # checked like the rest but timed under their own kind
                kind = "advice_turn" if intent == "niche_advice" else "turn"
                ops.run(kind, turn, check=lambda out, q=query, w=intent: self._check_turn(out, q, w))
        finally:
            for module, name, orig in patches:
                setattr(module, name, orig)
            self.store.__dict__.pop("search", None)

    def work_per_s(self, ops: Ops, walls: list[float]) -> float:
        return len(walls) / sum(walls)

    def report(self, ops: Ops, p50: float, tail_txt: str) -> list[str]:
        n = len(ops.walls("turn"))
        return [
            f"turn_p50_s {p50:.6f} s (n={n}, "
            f"plus {len(ops.walls('advice_turn'))} advice-only turns)",
            f"turn_tail_s {tail_txt}",
        ]

    def layer_metrics(self, ops: Ops) -> dict:
        tr = self.ctx.tracer
        turns = [r for r in ops.records if r["kind"] == "turn"]
        n = max(1, len(turns))
        turn_time = sum(tr.durations("op.turn")) or 1e-12
        in_search = sum(tr.durations("rag.assemble_context")) + sum(tr.durations("store.search"))
        hits = K * max(1, len(tr.durations("rag.assemble_context")))
        rows = sum(r["counters"]["rows"] for r in turns)
        return {
            "embedder.query_embed_s": _mean(tr.durations("embedder.query_embed")),
            "store.search_call_s": _mean(tr.durations("store.search")),
            "knn.rows_scanned_per_hit": rows / hits,
            "rag.classify_s": _mean(tr.durations("rag.classify")),
            "rag.assemble_context_s": _mean(tr.durations("rag.assemble_context")),
            "rag.jobs_per_turn": sum(r["counters"]["jobs"] for r in turns) / n,
            "rag.retrieval_turn_share": in_search / turn_time,
        }


class IngestAppend:
    """Appends beside searches on a store that starts empty."""

    op_kind = "search"
    STEP_SECONDS = 5.0  # step time incl. checks on a 4-vCPU host; sets the step count

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_steps = max(INGEST_MIN_STEPS, round(ctx.seconds / self.STEP_SECONDS))
        self.inputs = gen.ingest_inputs(ctx.seed, self.n_steps)
        self.stores = []
        self.rows_written = self.rows_sent = 0

    @property
    def digest(self) -> str:
        return self.inputs.digest

    def setup(self, spark, rep: int, ops: Ops) -> None:
        from emails_to_vector_db_spark.pipeline import EmbeddingStore

        for s in self.stores:
            shutil.rmtree(s.path, ignore_errors=True)
        copies = ("a", "b") if self.ctx.tracer.enabled else ("a",)
        self.stores = [
            EmbeddingStore(spark, os.path.join(self.ctx.scratch, f"ingest_{rep}_{x}"))
            for x in copies
        ]

    def prepare(self, spark, ops: Ops) -> None:
        """Untimed, checked warm-up on a throwaway store: the first
        append, search, delete and compaction of a session pay one-off
        plan, codegen and Python-worker start-up cost."""
        from emails_to_vector_db_spark.pipeline import (
            EmbeddingStore,
            HashingEmbedder,
            embed_and_store,
        )

        batch = self.inputs.steps[0].batch
        ids, n = batch.ids[:WARMUP_DOCS], WARMUP_DOCS
        texts = dict(zip(map(int, ids), batch.texts[:n]))
        store = EmbeddingStore(spark, os.path.join(self.ctx.scratch, "ingest_warmup"))
        frame = _frame(spark, ids, batch.texts[:n])
        embedder = HashingEmbedder(gen.DIM)
        written = [embed_and_store(spark, frame, store, embedder) for _ in range(2)]
        ops.check(written == [n, 0], f"warm-up appends wrote {written}, expected [{n}, 0]")
        probe = self.inputs.steps[0].probes[0]
        live = ids
        for action in ("search", "delete", "search", "compact", "search"):
            if action == "delete":
                store.delete([int(i) for i in ids[:5]])
                live = ids[5:]
            elif action == "compact":
                store.compact()
            else:
                rows = store.search(list(map(float, probe)), k=K).collect()
                exp = exact_topk(live, batch.embeddings[:n][np.isin(ids, live)], probe, K)
                ok, msg = _hits_check(rows, *exp, texts)
                ops.check(ok, f"warm-up search: {msg}")
        shutil.rmtree(store.path, ignore_errors=True)

    def run(self, spark, ops: Ops) -> None:
        from emails_to_vector_db_spark.pipeline import HashingEmbedder, embed_and_store

        tr = self.ctx.tracer
        embedder = HashingEmbedder(gen.DIM)
        stores = self.stores
        a, b = stores[0], stores[-1]
        for i, step in enumerate(self.inputs.steps):
            frame = _frame(spark, step.batch.ids, step.batch.texts)

            def append(s):
                with tr.span("store.append"):
                    return embed_and_store(spark, frame, s, embedder)

            ops.run(
                "append",
                lambda: append(a),
                fn_b=lambda: append(b),
                check=lambda n, step=step: self._check_append(n, step),
            )
            if step.deletes:
                def delete(s, ids=step.deletes):
                    with tr.span("store.delete"):
                        return s.delete(ids)

                ops.run(
                    "delete",
                    lambda: delete(a),
                    fn_b=lambda: delete(b),
                    check=lambda n, want=len(step.deletes): (n == want, f"delete returned {n}, expected {want}"),
                )
            live = self.inputs.live_after[i]
            vectors = self.inputs.embeddings[live]
            for probe in step.probes:
                def search(s, p=list(map(float, probe))):
                    with tr.span("store.search"):
                        df = s.search(p, k=K)
                    with tr.span("store.search_collect"):
                        return df.select("id", "distance", "content").collect()

                exp_ids, exp_d = exact_topk(live, vectors, probe, K)
                ops.run(
                    "search",
                    lambda: search(a),
                    fn_b=lambda: search(b),
                    check=lambda rows, e=exp_ids, d=exp_d: _hits_check(rows, e, d, self.inputs.texts),
                )
            if step.compact:
                def compact(s):
                    with tr.span("store.compact"):
                        return s.compact()

                ops.run("compact", lambda: compact(a), fn_b=lambda: compact(b))
                for s in stores:
                    n = s.read().count()
                    ops.check(n == len(live), f"store holds {n} rows after compact, expected {len(live)}")
        self.live_files = _parquet_files(a.path)
        self.live_rows = len(self.inputs.live_after[-1])

    def _check_append(self, n: int, step) -> tuple[bool, str]:
        self.rows_written += n
        self.rows_sent += len(step.batch.ids)
        want = step.expected_written
        return n == want, f"append wrote {n}, expected {want} new ids"

    def work_per_s(self, ops: Ops, walls: list[float]) -> float:
        docs = sum(len(s.batch.ids) for s in self.inputs.steps)
        return docs / sum(ops.walls("append"))

    def report(self, ops: Ops, p50: float, tail_txt: str) -> list[str]:
        return [
            f"ingest_docs_per_s {self.work_per_s(ops, None):.3f} 1/s",
            f"ingest_search_p50_s {p50:.6f} s (n={len(ops.walls('search'))})",
            f"ingest_search_tail_s {tail_txt}",
        ]

    def layer_metrics(self, ops: Ops) -> dict:
        tr = self.ctx.tracer
        searches = [r for r in ops.records if r["kind"] == "search"]
        return {
            "store.search_call_s": _mean(tr.durations("store.search")),
            "store.append_s": _mean(tr.durations("store.append")),
            "store.rows_written_per_input_row": self.rows_written / max(1, self.rows_sent),
            "store.delete_s": _mean(tr.durations("store.delete")),
            "store.compact_s": _mean(tr.durations("store.compact")),
            "store.live_files": float(self.live_files),
            "store.live_rows": float(self.live_rows),
            "knn.rows_scanned_per_hit": sum(r["counters"]["rows"] for r in searches)
            / (K * max(1, len(searches))),
        }


def _parquet_files(path: str) -> int:
    n = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


class CurationBatch:
    """Timed passes over a fixed mix of registry queries, each written to
    the noop sink, in a seed-permuted order; every query is checked once
    per run against its DuckDB oracle before the timed passes."""

    op_kind = "query"
    MAX_PASSES = 8

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.here, "data", "sf0.1")
        self.orders, self.digest = gen.curation_order(ctx.seed, list(CURATION_QUERIES), self.MAX_PASSES)
        self.pass_walls: list[float] = []

    def setup(self, spark, rep: int, ops: Ops) -> None:
        from emails_to_vector_db_spark.plans import REGISTRY

        missing = [q for q in CURATION_QUERIES if q not in REGISTRY]
        if missing:
            raise SystemExit(f"curation_batch: queries not in REGISTRY: {missing}")

    def prepare(self, spark, ops: Ops) -> None:
        """Oracle check of every query (also builds any missing
        warehouse artifact and warms the JIT before the timed passes)."""
        from emails_to_vector_db_spark.plans import REGISTRY

        oracle = OracleCache(self.sf_dir, os.path.join(self.ctx.bench_dir, "oracle_cache.json"))
        try:
            for name in self.orders[0]:
                spec = REGISTRY[name]
                try:
                    df = spec.fn(spark, self.sf_dir)
                    got = result_digest(df.columns, df.collect())
                except Exception:
                    traceback.print_exc()
                    ops.check(False, f"{name} raised in the oracle check")
                    continue
                finally:
                    spark.catalog.clearCache()
                want = oracle.expected(name, _oracle_sql(name, spec.oracle, self.sf_dir))
                ops.check(got == want, f"{name}: spark {got} != oracle {want}")
        finally:
            oracle.close()

    def run(self, spark, ops: Ops) -> None:
        from emails_to_vector_db_spark.plans import REGISTRY

        tr = self.ctx.tracer
        deadline = time.perf_counter() + self.ctx.seconds
        for order in self.orders:
            t0 = time.perf_counter()
            for name in order:
                spec = REGISTRY[name]

                def query(spec=spec):
                    with tr.span(f"plans.{spec.name}.build", "plans"):
                        df = spec.fn(spark, self.sf_dir)
                    with tr.span(f"exec.{spec.name}.exec", "exec"):
                        df.write.format("noop").mode("overwrite").save()

                ops.run("query", query, after=spark.catalog.clearCache)
                ops.records[-1]["query"] = name
            self.pass_walls.append(time.perf_counter() - t0)
            if time.perf_counter() >= deadline:
                break

    def work_per_s(self, ops: Ops, walls: list[float]) -> float:
        return len(walls) / sum(self.pass_walls)

    def report(self, ops: Ops, p50: float, tail_txt: str) -> list[str]:
        walls = ops.walls("query")
        lines = [f"query_s {r['query']} {r['wall']:.6f} s" for r in ops.records]
        return lines + [
            f"batch_pass_s {statistics.median(self.pass_walls):.6f} s (passes={len(self.pass_walls)}, "
            f"per-query build+exec cover {sum(walls) / sum(self.pass_walls):.4f} of it)",
            f"batch_geomean_s {geomean(walls):.6f} s (n={len(walls)}, p50 {p50:.6f} s)",
        ]

    def layer_metrics(self, ops: Ops) -> dict:
        tr = self.ctx.tracer
        out = {}
        for q in CURATION_QUERIES:
            out[f"plans.{q}.build_s"] = _mean(tr.durations(f"plans.{q}.build"))
            out[f"exec.{q}.exec_s"] = _mean(tr.durations(f"exec.{q}.exec"))
        # traced op walls per pass, against the build and exec spans inside
        op_time = sum(tr.durations("op.query")) or 1e-12
        span_time = {
            layer: sum(sp["end"] - sp["start"] for sp in tr.spans if sp["layer"] == layer)
            for layer in ("plans", "exec")
        }
        out["plans.build_exec_share_of_pass"] = (span_time["plans"] + span_time["exec"]) / op_time
        out["plans.build_share"] = span_time["plans"] / op_time
        return out


def _oracle_sql(name: str, registry_sql: str, sf_dir: str) -> str:
    """The registry oracle of ``name`` for the corpus at ``sf_dir``.

    ivfadc_ann_topk's oracle embeds, as literals, the IVF quantizer
    trained on the registry's oracle corpus (sf0.01); at any other corpus
    the plan loads that corpus's own quantizer. The same oracle generator
    is run with this corpus's quantizer instead."""
    if name != "ivfadc_ann_topk":
        return registry_sql
    from emails_to_vector_db_spark.plans import semantic, vector

    saved = vector._ORACLE_SF_DIR
    vector._ORACLE_SF_DIR = sf_dir
    try:
        return semantic._ivfadc_oracle()
    finally:
        vector._ORACLE_SF_DIR = saved


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


WORKLOADS = {
    "rag_serve": RagServe,
    "ingest_append": IngestAppend,
    "curation_batch": CurationBatch,
}
