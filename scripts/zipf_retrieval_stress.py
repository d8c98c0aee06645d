"""Zipfian-vocabulary retrieval stress: turn the lexical lane's pruning
claims into measurements.

The driver fixture's ~31-word vocabulary makes the retrieval lane's
headline pushdowns fixture no-ops (SCALE_NOTES admitted this since
round 7): with 31 types every document contains every query term, so
query-term pushdown prunes nothing and the impact cap caps nothing.
This script builds a REALISTIC corpus — ``--vocab`` types (default
50k) under a Zipf(s=1.1) unigram distribution, a 70/25/5 short/medium/
long doc-length mix — into ``.scale/zipf/documents.parquet`` and
measures each pruning ON vs OFF on the same plans the production
queries use:

1. census pushdown  — prune token arrays to query terms BEFORE the
   explode (bm25_topk's design) vs explode-everything-then-filter.
2. bm25 end-to-end  — the full scoring plan both ways.
3. impact cap       — paired-bootstrap candidate generation from a
   CACHED tf census: postings capped at the top-256 per term vs
   uncapped (isolates candidate-space growth from census cost).
4. tf-idf df-prune  — the pair self-join with the >5%-df stopword
   ceiling vs without (without is run at a reduced --tfidf-docs
   because the unpruned pair space is quadratic in df — that blow-up
   being the point).
5. postings store   — index build cost, then bm25 inline vs
   bm25-from-index warm reads.

Deterministic: per-doc numpy RandomState seeded by doc_id; token ids
via inverse-CDF searchsorted. Usage:

    python scripts/zipf_retrieval_stress.py [--docs 200000]
        [--vocab 50000] [--s 1.1] [--skip-build] [--tfidf-docs 10000]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import numpy as np  # noqa: E402
from pyspark.sql import DataFrame, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from emails_to_vector_db_spark.session import (  # noqa: E402
    get_spark,
    use_tmpfs_scratch,
)

# measurement entrypoint: tmpfs shuffle scratch (r11 stall fix),
# $SPARK_GRAFT_LOCAL_DIR wins when set
use_tmpfs_scratch()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DST = os.path.join(ROOT, ".scale", "zipf")

_K1, _B = 1.2, 0.75
_CAP = 256  # the paired-bootstrap impact cap
_N_QUERIES = 20


def zipf_cdf(vocab: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** s
    return np.cumsum(w / w.sum())


def build(spark, n_docs: int, vocab: int, s: float) -> None:
    cdf = zipf_cdf(vocab, s)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].values
            texts = []
            for doc_id in ids:
                rng = np.random.RandomState(doc_id % (2**31))
                u = rng.random()
                if u < 0.70:
                    dl = rng.randint(20, 81)
                elif u < 0.95:
                    dl = rng.randint(100, 401)
                else:
                    dl = rng.randint(500, 1501)
                ranks = np.searchsorted(cdf, rng.random(dl))
                texts.append(" ".join("w%d" % r for r in ranks))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "text": texts,
                    "source": ["s%d" % (i % 20) for i in ids],
                }
            )

    (
        spark.range(n_docs)
        .repartition(64)
        .mapInPandas(gen, schema="doc_id bigint, text string, source string")
        .write.mode("overwrite")
        .parquet(os.path.join(DST, "documents.parquet"))
    )
    n = spark.read.parquet(os.path.join(DST, "documents.parquet")).count()
    print(f"built zipf corpus: {n} docs, vocab={vocab}, s={s}", flush=True)


def timed(label: str, df: DataFrame, runs: int = 3) -> float:
    best = None
    for _ in range(runs):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"  {label}: {best:.2f}s", flush=True)
    return best


def tokens(col):
    return F.split(F.trim(F.col(col)), r"\s+")


# query terms spanning the frequency spectrum: head, torso, tail
QTERMS = [f"w{r}" for r in (2, 7, 19, 53, 148, 403, 1096, 2980,
                            8103, 22026, 40000, 49999)]


def bm25_plan(docs: DataFrame, pushdown: bool) -> DataFrame:
    if pushdown:
        toks = docs.select(
            "doc_id",
            F.size(tokens("text")).alias("dl"),
            F.explode(
                F.filter(tokens("text"), lambda x: x.isin(*QTERMS))
            ).alias("term"),
        )
    else:
        toks = docs.select(
            "doc_id",
            F.size(tokens("text")).alias("dl"),
            F.explode(tokens("text")).alias("term"),
        ).where(F.col("term").isin(*QTERMS))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(tokens("text"))).alias("avgdl"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    sat = (F.col("tf") * (_K1 + 1)) / (
        F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * sat).alias("bm25_raw"))
        .orderBy(F.col("bm25_raw").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# zipf-native retrieval-lane parameters (the driver fixture's ~31-type
# vocabulary can't regression-test the lane's pruning wins — SCALE_NOTES
# has carried that caveat since round 7; this corpus is the standing
# reference)
_AND_TERMS_Z = ("w53", "w403", "w1096")  # torso terms: real intersection
_PHRASE_Z = ("w2", "w7")  # head terms: long position lists (stress)
_PROX_RARE_Z = ("w9001", "w2")  # (rare tail term, head term): df-aware order
_PROX_WINDOW_Z = 3
_RM3_FB_DOCS_Z = 10
_RM3_EXP_TERMS_Z = 10


def lane_bench(spark, docs: DataFrame) -> dict[str, float]:
    """The standing retrieval-lane bench table (r9 verdict task 5):
    each lane measured inline (corpus tokenize) vs from the persisted
    index on the SAME zipfian corpus, best-of-3 warm. Replaces the
    'HONEST FLAT' rows the 31-type driver fixture forced."""
    import shutil

    from emails_to_vector_db_spark.plans.postings import (
        _POS_KIND,
        _PST_KIND,
        _bm25_term_score,
        ensure_positional_index,
        ensure_postings_index,
    )
    from emails_to_vector_db_spark.sources.tables import table_path
    from emails_to_vector_db_spark.sources.warehouse import artifact_path

    results: dict[str, float] = {}

    docs_src = [table_path(DST, "documents")]
    shutil.rmtree(artifact_path(_PST_KIND, docs_src), ignore_errors=True)
    t0 = time.perf_counter()
    name, n_docs, avgdl = ensure_postings_index(spark, DST)
    results["postings_build"] = time.perf_counter() - t0
    print(f"  postings build (once per corpus): "
          f"{results['postings_build']:.2f}s", flush=True)
    shutil.rmtree(artifact_path(_POS_KIND, docs_src), ignore_errors=True)
    t0 = time.perf_counter()
    pos_name = ensure_positional_index(spark, DST)
    results["positions_build"] = time.perf_counter() - t0
    print(f"  positions build (once per corpus): "
          f"{results['positions_build']:.2f}s", flush=True)
    pst = spark.table(name)
    pos = spark.table(pos_name)

    # -- BM25 ---------------------------------------------------------
    def bm25_idx(terms) -> DataFrame:
        return (
            pst.where(F.col("term").isin(*terms))
            .groupBy("doc_id")
            .agg(F.sum(_bm25_term_score(n_docs, avgdl)).alias("bm25_raw"))
            .orderBy(F.col("bm25_raw").desc(), F.col("doc_id").asc())
            .limit(10)
        )

    results["bm25_inline"] = timed("bm25 inline    ", bm25_plan(docs, True))
    results["bm25_from_index"] = timed("bm25 from index", bm25_idx(QTERMS))

    # -- boolean AND ---------------------------------------------------
    def and_inline() -> DataFrame:
        toks = docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.filter(tokens("text"), lambda x: x.isin(*_AND_TERMS_Z))
                )
            ).alias("term"),
        )
        return (
            toks.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") == len(_AND_TERMS_Z))
        )

    def and_idx() -> DataFrame:
        return (
            pst.where(F.col("term").isin(*_AND_TERMS_Z))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") == len(_AND_TERMS_Z))
        )

    results["bool_and_inline"] = timed("AND inline     ", and_inline())
    results["bool_and_from_index"] = timed("AND from index ", and_idx())

    # -- phrase / proximity (positional sidecar) ------------------------
    def pos_inline(win: int | None) -> DataFrame:
        p = docs.select(
            "doc_id",
            F.posexplode(tokens("text")).alias("p0", "term"),
        ).where(F.col("term").isin(*_PHRASE_Z))
        a = p.where(F.col("term") == _PHRASE_Z[0]).select(
            "doc_id", F.col("p0").alias("pa")
        )
        b = p.where(F.col("term") == _PHRASE_Z[1]).select(
            "doc_id", F.col("p0").alias("pb")
        )
        cond = (
            (F.col("pb") - F.col("pa") == 1)
            if win is None
            else (F.abs(F.col("pb") - F.col("pa")) <= win)
        )
        return (
            a.join(b, "doc_id")
            .where(cond)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occ"))
        )

    def pos_idx(win: int | None) -> DataFrame:
        a = pos.where(F.col("term") == _PHRASE_Z[0]).select(
            "doc_id", F.col("positions").alias("pa")
        )
        b = pos.where(F.col("term") == _PHRASE_Z[1]).select(
            "doc_id", F.col("positions").alias("pb")
        )
        if win is None:
            n = F.size(
                F.array_intersect(
                    "pa", F.transform("pb", lambda x: x - 1)
                )
            )
        else:
            n = F.aggregate(
                F.col("pa"),
                F.lit(0),
                lambda acc, x: acc
                + F.size(
                    F.filter(F.col("pb"), lambda y: F.abs(x - y) <= win)
                ),
            )
        return (
            a.join(b, "doc_id")
            .select("doc_id", n.alias("n_occ"))
            .where(F.col("n_occ") > 0)
        )

    results["phrase_inline"] = timed("phrase inline   ", pos_inline(None))
    results["phrase_from_index"] = timed("phrase from idx ", pos_idx(None))
    results["prox_inline"] = timed(
        "proximity inline", pos_inline(_PROX_WINDOW_Z)
    )
    results["prox_from_index"] = timed(
        "proximity fr idx", pos_idx(_PROX_WINDOW_Z)
    )

    # -- RARE-term proximity (r10 verdict task 4): df-aware ordering —
    # the rare list is broadcast and prunes the head list's docs BEFORE
    # any window arithmetic, so the index lane inherits the AND-class
    # pruning gap that head×head proximity honestly cannot show.
    def prox_rare_inline() -> DataFrame:
        p = docs.select(
            "doc_id",
            F.posexplode(tokens("text")).alias("p0", "term"),
        ).where(F.col("term").isin(*_PROX_RARE_Z))
        a = p.where(F.col("term") == _PROX_RARE_Z[0]).select(
            "doc_id", F.col("p0").alias("pa")
        )
        b = p.where(F.col("term") == _PROX_RARE_Z[1]).select(
            "doc_id", F.col("p0").alias("pb")
        )
        return (
            a.join(b, "doc_id")
            .where(F.abs(F.col("pb") - F.col("pa")) <= _PROX_WINDOW_Z)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occ"))
        )

    def prox_rare_idx() -> DataFrame:
        a = pos.where(F.col("term") == _PROX_RARE_Z[0]).select(
            "doc_id", F.col("positions").alias("pa")
        )
        b = pos.where(F.col("term") == _PROX_RARE_Z[1]).select(
            "doc_id", F.col("positions").alias("pb")
        )
        n = F.aggregate(
            F.col("pa"),
            F.lit(0),
            lambda acc, x: acc
            + F.size(
                F.filter(
                    F.col("pb"),
                    lambda y: F.abs(x - y) <= _PROX_WINDOW_Z,
                )
            ),
        )
        return (
            b.join(F.broadcast(a), "doc_id")
            .select("doc_id", n.alias("n_occ"))
            .where(F.col("n_occ") > 0)
        )

    results["prox_rare_inline"] = timed(
        "rare-prox inline", prox_rare_inline()
    )
    results["prox_rare_from_index"] = timed(
        "rare-prox fr idx", prox_rare_idx()
    )

    # -- RM3 (3-pass pseudo-relevance feedback) -------------------------
    def rm3(from_index: bool) -> DataFrame:
        base = bm25_idx(QTERMS) if from_index else bm25_plan(docs, True)
        fb = base.limit(_RM3_FB_DOCS_Z).select("doc_id")
        fb_ids = [r["doc_id"] for r in fb.collect()]  # bounded: 10 ids
        # feedback-term distribution: doc-grain forward lookup (row
        # store, pushed IN-list) — the two-index split by design
        fb_tf = (
            docs.where(F.col("doc_id").isin(fb_ids))
            .select("doc_id", F.explode(tokens("text")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("ftf"))
            .orderBy(F.col("ftf").desc(), F.col("term").asc())
            .limit(_RM3_EXP_TERMS_Z)
        )
        exp_terms = [r["term"] for r in fb_tf.collect()]  # bounded: 10
        terms = sorted(set(QTERMS) | set(exp_terms))
        if from_index:
            return bm25_idx(terms)
        return bm25_plan(docs, True)  # inline replays the full census

    results["rm3_inline"] = timed("rm3 inline     ", rm3(False))
    results["rm3_from_index"] = timed("rm3 from index ", rm3(True))

    # -- hybrid RRF (keyword arm; the vector arm is the vector lane's
    #    own benched artifact — fusion joins two <=20-row rankings) ----
    def hybrid(from_index: bool) -> DataFrame:
        kw = (bm25_idx(QTERMS) if from_index else bm25_plan(docs, True))
        kw = kw.withColumn(
            "kw_rank",
            F.row_number().over(
                Window.orderBy(
                    F.col("bm25_raw").desc(), F.col("doc_id").asc()
                )
            ),
        ).select("doc_id", "kw_rank")
        vec = spark.createDataFrame(
            [(i, r) for r, i in enumerate(range(20), start=1)],
            "doc_id bigint, vec_rank int",
        )
        fused = kw.join(vec, "doc_id", "full_outer").withColumn(
            "rrf",
            F.coalesce(1.0 / (60 + F.col("kw_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("vec_rank")), F.lit(0.0)),
        )
        return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)

    results["hybrid_inline"] = timed("hybrid inline   ", hybrid(False))
    results["hybrid_from_index"] = timed("hybrid from idx ", hybrid(True))

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"DROP TABLE IF EXISTS {pos_name}")
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--vocab", type=int, default=50_000)
    ap.add_argument("--s", type=float, default=1.1)
    ap.add_argument("--tfidf-docs", type=int, default=10_000)
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument(
        "--lane-bench",
        action="store_true",
        help="run the standing retrieval-lane table (inline vs index "
        "for bm25/AND/phrase/proximity/rm3/hybrid) instead of the "
        "pruning ON/OFF sweep",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="zipf-stress", cpus=32)
    if not args.skip_build:
        t0 = time.perf_counter()
        build(spark, args.docs, args.vocab, args.s)
        print(f"build wall: {time.perf_counter() - t0:.1f}s", flush=True)

    docs = spark.read.parquet(os.path.join(DST, "documents.parquet"))
    from pyspark import StorageLevel

    if args.lane_bench:
        results = lane_bench(spark, docs)
        print("\n== lane summary (best-of-3 sec) ==")
        for k, v in results.items():
            print(f"{k}: {round(v, 2)}")
        spark.stop()
        return

    results: dict[str, float] = {}

    print("== 1. census pushdown (tf over query terms) ==", flush=True)
    def census(pushdown: bool) -> DataFrame:
        if pushdown:
            toks = docs.select(
                "doc_id",
                F.explode(
                    F.filter(tokens("text"), lambda x: x.isin(*QTERMS))
                ).alias("term"),
            )
        else:
            toks = docs.select(
                "doc_id", F.explode(tokens("text")).alias("term")
            ).where(F.col("term").isin(*QTERMS))
        return toks.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("tf")
        )

    results["census_pushdown_on"] = timed("pushdown ON ", census(True))
    results["census_pushdown_off"] = timed("pushdown OFF", census(False))

    print("== 2. bm25 end-to-end ==", flush=True)
    results["bm25_pushdown_on"] = timed("pushdown ON ", bm25_plan(docs, True))
    results["bm25_pushdown_off"] = timed(
        "pushdown OFF", bm25_plan(docs, False)
    )

    print("== 3. impact cap (candidate join from CACHED census) ==",
          flush=True)
    q = docs.where(F.col("doc_id") < _N_QUERIES).select(
        F.col("doc_id").alias("qid"), "text"
    )
    qterm_list = sorted(
        {
            t
            for r in q.select(
                F.array_distinct(tokens("text")).alias("ts")
            ).collect()
            for t in r["ts"]
        }
    )
    print(f"  ({len(qterm_list)} distinct query terms over "
          f"{_N_QUERIES} queries)", flush=True)
    tf_all = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(tokens("text"), lambda x: x.isin(*qterm_list))
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tf_all.count()  # materialize so both variants read the same cache
    qterms = q.select(
        "qid", F.explode(F.array_distinct(tokens("text"))).alias("term")
    )
    w_imp = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    tfp = (
        tf_all.withColumn("rnk", F.row_number().over(w_imp))
        .where(F.col("rnk") <= _CAP)
        .drop("rnk")
    )

    def cand(postings: DataFrame) -> DataFrame:
        return (
            postings.join(F.broadcast(qterms), "term")
            .where(F.col("doc_id") != F.col("qid"))
            .groupBy("qid", "doc_id")
            .agg(F.sum("tf").alias("hits"))
            .groupBy("qid")
            .agg(F.count(F.lit(1)).alias("n_cands"))
        )

    results["impact_cap_on"] = timed("cap ON  (<=256/term)", cand(tfp))
    results["impact_cap_off"] = timed("cap OFF (full df)   ", cand(tf_all))
    n_on = cand(tfp).agg(F.sum("n_cands")).collect()[0][0]
    n_off = cand(tf_all).agg(F.sum("n_cands")).collect()[0][0]
    print(f"  candidate rows: capped={n_on}  uncapped={n_off}", flush=True)
    tf_all.unpersist()

    print(f"== 4. tf-idf df-prune (pair join, {args.tfidf_docs} docs) ==",
          flush=True)
    small = docs.where(F.col("doc_id") < args.tfidf_docs)
    tf_s = (
        small.select(
            "doc_id", F.explode(tokens("text")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tf_s.count()
    nd = F.broadcast(
        tf_s.agg(F.count_distinct("doc_id").cast("double").alias("n"))
    )
    df_s = tf_s.groupBy("tok").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )

    def tfidf_pairs(prune: bool) -> DataFrame:
        w = tf_s.join(df_s, "tok").crossJoin(nd)
        if prune:
            w = w.where(
                (F.col("df") <= F.floor(0.05 * F.col("n")))
                & (F.col("df") >= 2)
            )
        w = w.select(
            "doc_id",
            "tok",
            (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("w"),
        )
        wn = w.withColumn(
            "nrm",
            F.sqrt(
                F.sum(F.col("w") * F.col("w")).over(
                    Window.partitionBy("doc_id")
                )
            ),
        )
        a, b = wn.alias("a"), wn.alias("b")
        return (
            a.join(
                b,
                (F.col("a.tok") == F.col("b.tok"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(
                F.round(
                    F.sum(F.col("a.w") * F.col("b.w"))
                    / (F.max("a.nrm") * F.max("b.nrm")),
                    6,
                ).alias("cosine")
            )
            .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
            .limit(20)
        )

    results["tfidf_prune_on"] = timed("df-prune ON ", tfidf_pairs(True))
    results["tfidf_prune_off"] = timed(
        "df-prune OFF", tfidf_pairs(False), runs=1
    )
    tf_s.unpersist()

    print("== 5. postings store on the zipf corpus ==", flush=True)
    from emails_to_vector_db_spark.plans.postings import (
        _PST_KIND,
        _bm25_term_score,
        ensure_postings_index,
    )
    from emails_to_vector_db_spark.sources.tables import table_path
    from emails_to_vector_db_spark.sources.warehouse import artifact_path
    import shutil

    shutil.rmtree(
        artifact_path(_PST_KIND, [table_path(DST, "documents")]),
        ignore_errors=True,
    )
    t0 = time.perf_counter()
    name, n_docs, avgdl = ensure_postings_index(spark, DST)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil_build = time.perf_counter() - t0
    print(f"  index build (once per corpus): {shutil_build:.2f}s",
          flush=True)
    name, n_docs, avgdl = ensure_postings_index(spark, DST)

    def bm25_from_store() -> DataFrame:
        hits = spark.table(name).where(F.col("term").isin(*QTERMS))
        return (
            hits.groupBy("doc_id")
            .agg(F.sum(_bm25_term_score(n_docs, avgdl)).alias("bm25_raw"))
            .orderBy(F.col("bm25_raw").desc(), F.col("doc_id").asc())
            .limit(10)
        )

    results["bm25_from_index"] = timed("bm25 from index ", bm25_from_store())
    results["postings_build"] = shutil_build

    print("\n== summary (best-of-N sec) ==")
    for k, v in results.items():
        print(f"{k}: {round(v, 2)}")
    spark.stop()


if __name__ == "__main__":
    main()
