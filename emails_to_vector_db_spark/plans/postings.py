"""Persisted inverted-index (postings) store for the lexical retrieval
lane, plus the store-reading twins of the retrieval queries.

The vector lane has had the full artifact lifecycle since round 6
(train → persist → stream-ingest → rebalance → store-reading query,
``plans/vector.py``); the lexical lane kept rebuilding its postings
census per run — ~25s of ``paired_bootstrap_system_eval``'s 57s sf10
wall, and the same census hides inside ``bm25_topk`` and
``rm3_query_expansion``. This module pays that census ONCE per corpus
generation and persists it the way a real search engine does:

- **postings** (term, doc_id, tf, dl, df, imp_rnk), stored BUCKETED BY
  term — Spark bucket-prunes an ``IN``-list of query terms to the
  matching buckets, and the groupBy-term build shuffle is paid once at
  write time. ``df`` is denormalized onto the posting row (the lexicon
  join disappears at query time — df is per-term constant, so it
  compresses to nothing under parquet dictionary+RLE encoding).
  ``imp_rnk`` is the term-local impact rank (tf desc, doc_id asc):
  an impact-CAPPED read (WAND-shape, the paired-bootstrap contract)
  becomes a pushed-down ``imp_rnk <= M`` scan predicate instead of a
  window recomputation.
- **corpus stats** (n_docs, sum_dl) in a JSON sidecar. avgdl is
  derived as ``sum_dl / n_docs`` — both engines' ``avg`` over integer
  dl values accumulates exactly in doubles (every partial sum is an
  integer < 2^53), so the literal is bit-identical to the inline
  ``F.avg`` / DuckDB ``avg`` regardless of partitioning.

Freshness is the warehouse publish path (sources/warehouse.py): the
store lives in a directory named by a fingerprint of documents.parquet
(absolute path, mtime, size) and its catalog name carries the same
fingerprint — a regenerated fixture names a new store and rebuilds,
never silently serving old rows. A fresh session over current files
replays only CREATE TABLE DDL; a published store whose table files were
lost is rebuilt instead, never registered over an empty location.

Doc-grain lookups (RM3's feedback-doc term distributions) deliberately
do NOT read this store: postings are term-bucketed, so a doc_id probe
would scan every bucket. The row store (documents.parquet, doc_id
predicate pushed to the scan) is the forward index — term-grain reads
hit the inverted index, doc-grain reads hit the row store. That split
is the standard two-index design, not a gap.

At 100 TB the bucket count rises with the corpus (thousands, sized so
one bucket's postings fit an executor), and the build is the one
corpus-grain explode+shuffle — identical cost to ONE inline census,
amortized over every subsequent query/eval run.

Reference parity: the reference has no lexical index at all (vector
similarity only, ``rag.py:77-82``); this is the production lexical
sibling its pgvector store implies.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emails_to_vector_db_spark.functions import text as TX
from emails_to_vector_db_spark.functions.vector import cosine_similarity
from emails_to_vector_db_spark.plans.registry import register
from emails_to_vector_db_spark.plans.retrieval import (
    _AND_TERMS,
    _BM25_ORACLE,
    _BOOLEAN_AND_ORACLE,
    _HYBRID_ORACLE,
    _K1,
    _PB_POSTINGS_CAP,
    _PHRASE,
    _PHRASE_ORACLE,
    _PROBE_ID,
    _RM3_ALPHA,
    _RM3_EXP_TERMS,
    _RM3_FB_DOCS,
    _RM3_ORACLE,
    _RRF_DEPTH,
    _RRF_K0,
    _TC_DF_ABS_CAP,
    _TC_DF_FRAC,
    _TC_ORACLE,
    _TC_TOP,
    QUERY_TERMS,
    TOP_N,
    _B,
    _pb_base_q,
    _pb_oracle,
    _pb_qterm_list,
    _pb_tail,
)
from emails_to_vector_db_spark.sources.tables import load_table, table_path
from emails_to_vector_db_spark.sources.warehouse import (
    artifact_path,
    publish,
    publish_bucketed,
    publish_landing,
    superseded,
)

_PST_KIND = "postings_v2"
_PST_BUCKETS = 16  # sized for the test fixtures; thousands at 100 TB


def _postings_store(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """Publish the documents postings index and register it in the
    session catalog. Returns ``(table_name, {"n_docs", "sum_dl"})``.

    Build = the ONE corpus-grain tokenize→explode→(term,doc) aggregate,
    then a single term-partitioned window pass that computes BOTH the
    document frequency and the impact rank (one shuffle does lexicon +
    impact ordering), written bucketed by term; the corpus stats ride in
    a JSON sidecar beside the table.
    """
    # The driver's verify runs queries in its OWN vanilla session;
    # without this, Spark 4's DisableUnnecessaryBucketedScan silently
    # drops the term-IN-list bucket pruning this store exists for
    # (runtime-settable SQL conf; get_spark sets it at build too).
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    src = table_path(sf_dir, "documents")

    def frame(d: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        # corpus stats: exact integer sum -> avgdl identical to both
        # engines' avg (see module docstring)
        srow = docs.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(TX.tokens("text"))).alias("sum_dl"),
        ).collect()[0]
        with open(os.path.join(d, "stats.json"), "w") as f:
            json.dump(
                {"n_docs": int(srow["n_docs"]), "sum_dl": int(srow["sum_dl"])},
                f,
            )
        tf = (
            docs.select(
                "doc_id",
                F.size(TX.tokens("text")).alias("dl"),
                F.explode(TX.tokens("text")).alias("term"),
            )
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
        )
        w_term = Window.partitionBy("term")
        w_imp = Window.partitionBy("term").orderBy(
            F.col("tf").desc(), F.col("doc_id").asc()
        )
        return tf.withColumn(
            "df", F.count(F.lit(1)).over(w_term)
        ).withColumn("imp_rnk", F.row_number().over(w_imp))

    name = publish_bucketed(
        spark, _PST_KIND, [src], frame, key="term", n_buckets=_PST_BUCKETS
    )
    with open(os.path.join(artifact_path(_PST_KIND, [src]), "stats.json")) as f:
        return name, json.load(f)


def ensure_postings_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, int, float]:
    """The documents postings index (see _postings_store), registered in
    the session catalog. Returns ``(table_name, n_docs, avgdl)``."""
    name, st = _postings_store(spark, sf_dir)
    n_docs, sum_dl = int(st["n_docs"]), int(st["sum_dl"])
    return name, n_docs, n_docs and sum_dl / n_docs


def _bm25_term_score(n_docs: int, avgdl: float):
    """BM25 per-(doc, term) score expression over postings-store columns
    (tf, dl, df) with the corpus stats as literals."""
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        + 1.0
    )
    sat = (F.col("tf") * (_K1 + 1)) / (
        F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.lit(avgdl))
    )
    return idf * sat


def _bm25_scores_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document BM25 for the literal QUERY_TERMS, read from the
    persisted index: one bucket-pruned postings scan (term IN-list
    pushed to the parquet reader AND to bucket selection), zero
    tokenization, zero corpus-stat scans."""
    name, n_docs, avgdl = ensure_postings_index(spark, sf_dir)
    hits = spark.table(name).where(F.col("term").isin(*QUERY_TERMS))
    return hits.groupBy("doc_id").agg(
        F.sum(_bm25_term_score(n_docs, avgdl)).alias("bm25_raw")
    )


@register(
    "bm25_topk_from_index",
    oracle=_BM25_ORACLE,
    tags=("text", "retrieval", "bm25", "index", "store"),
    bench=True,
)
def bm25_topk_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bm25_topk's store-reading twin: the same BM25 top-10 (identical
    oracle) answered from the persisted postings index instead of an
    inline corpus census. The plan is one bucket-pruned scan of the
    query terms' postings (df and dl ride the rows, corpus stats are
    literals from the index sidecar) + a |hits|-grain groupBy + a
    TakeOrdered — the corpus text is never read, never tokenized,
    never exploded (pinned in tests/test_postings_store.py). At 100 TB
    this is the difference between a per-query corpus scan and an
    index lookup bounded by the query terms' document frequencies."""
    scored = _bm25_scores_from_index(spark, sf_dir)
    return (
        scored.orderBy(F.col("bm25_raw").desc(), F.col("doc_id").asc())
        .limit(TOP_N)
        .select("doc_id", F.round("bm25_raw", 6).alias("bm25"))
    )


@register(
    "paired_bootstrap_from_index",
    oracle=_pb_oracle(),
    tags=("retrieval", "eval", "bootstrap", "index", "store"),
    bench=True,
)
def paired_bootstrap_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """paired_bootstrap_system_eval's store-reading twin (identical
    oracle, row-identical by the shared ``_pb_tail``): the lexical
    arm's impact-capped postings come from the persisted index — the
    query-term IN-list bucket-prunes the scan and the impact cap is a
    pushed-down ``imp_rnk <= 256`` predicate, so the ~25s-at-sf10
    postings census disappears from the eval's profile entirely. An
    eval harness re-runs system comparisons constantly; re-paying the
    index build per comparison was the round-8 verdict's top
    structural scale gap. The dense arm (BLAS map-side top-k over
    embeddings) is unchanged — that artifact's persisted form is the
    IVF/PQ store, a separate lane."""
    base, q = _pb_base_q(spark, sf_dir)
    qterm_list = _pb_qterm_list(q)
    name, n_docs, avgdl = ensure_postings_index(spark, sf_dir)
    enriched = (
        spark.table(name)
        .where(
            F.col("term").isin(*qterm_list)
            & (F.col("imp_rnk") <= _PB_POSTINGS_CAP)
        )
        .select(
            "term",
            "doc_id",
            "tf",
            "dl",
            "df",
            F.lit(n_docs).alias("n_docs"),
            F.lit(avgdl).alias("avgdl"),
        )
    )
    return _pb_tail(spark, base, q, enriched)


@register(
    "rm3_query_expansion_from_index",
    oracle=_RM3_ORACLE,
    tags=("text", "retrieval", "bm25", "prf", "index", "store"),
    bench=True,
)
def rm3_query_expansion_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """rm3_query_expansion's store-reading twin (identical oracle).
    Pass 1 (feedback retrieval) and pass 3 (re-scoring with the
    expanded weighted query) are TERM-grain — both read the persisted
    postings index with literal IN-lists, so they bucket-prune and
    never touch corpus text. Pass 2 (the 10 feedback docs' term
    distributions) is DOC-grain — it reads the row store
    (documents.parquet) pruned to the feedback doc_ids, the forward-
    index half of the standard two-index design; tokenizing 10 docs
    is constant work at any corpus size. The expansion terms are a
    bounded collect (≤ 10 rows — the kmeans-seed precedent), which
    is what turns pass 3's postings read into a prunable literal
    IN-list instead of a join against the whole postings table."""
    name, n_docs, avgdl = ensure_postings_index(spark, sf_dir)
    pst = spark.table(name)
    # pass 1: BM25 feedback retrieval from the index. r12 (verdict
    # task 9 — collapse the sequential bounded-collect jobs): ONE
    # collect returns (doc_id, sc) together, so the feedback frame AND
    # its score-sum become plan literals — the r11 form collected the
    # ids, then built a broadcast of the persisted 10-row frame AND a
    # second broadcast of its 1-row sum, each a separate local job.
    # The sum is accumulated in the collected (single-partition,
    # rank-sorted) row order — the identical fold order the engine-side
    # agg used, so the weights are bit-identical.
    fb_rows = (
        _bm25_scores_from_index(spark, sf_dir)
        .orderBy(F.col("bm25_raw").desc(), F.col("doc_id").asc())
        .limit(_RM3_FB_DOCS)
        .select("doc_id", F.col("bm25_raw").alias("sc"))
        .collect()
    )  # bounded: <= _RM3_FB_DOCS rows
    fb = F.broadcast(
        spark.createDataFrame(
            [(int(r["doc_id"]), float(r["sc"])) for r in fb_rows],
            "doc_id long, sc double",
        )
    )
    s_lit = 0.0
    for r in fb_rows:
        s_lit += float(r["sc"])
    # pass 2: feedback-doc term distributions from the ROW store
    # (doc-grain forward lookup; see module docstring)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the feedback doc_ids become a LITERAL IN-list (bounded collect,
    # ≤ _RM3_FB_DOCS rows — the kmeans-seed precedent), so the forward
    # lookup is a PUSHED parquet predicate that row-group-prunes the
    # corpus scan; a semi join instead would stream every corpus row's
    # text through the probe (and a Project below it would tokenize
    # them all) — measured 8s at sf1 for what the two-index design
    # promises is 10 docs of work
    fb_ids = [int(r["doc_id"]) for r in fb_rows]
    base = d.where(F.col("doc_id").isin(fb_ids)).select(
        "doc_id",
        F.size(TX.tokens("text")).alias("dl"),
        TX.tokens("text").alias("toks"),
    )
    fb_tf = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    rm1 = (
        fb_tf.join(fb, "doc_id")
        .groupBy("term")
        .agg(
            F.sum(
                (F.col("sc") / F.lit(s_lit)) * F.col("tf") / F.col("dl")
            ).alias("p")
        )
    )
    exp_rows = (
        rm1.orderBy(F.round("p", 9).desc(), F.col("term").asc())
        .limit(_RM3_EXP_TERMS)
        .collect()
    )  # bounded: <= _RM3_EXP_TERMS rows
    # r12 fold: the expansion normalizer and the weighted-query merge
    # are ≤13-row literal arithmetic — computed driver-side in the
    # SAME fold/expression order the engine-side frames used
    # (single-partition row-order sum; (1-α)·p/s per term), so the
    # weights are bit-identical and the esum broadcast-build job plus
    # the 13-row full-outer join disappear from the plan.
    es = 0.0
    for r in exp_rows:
        es += float(r["p"])
    w_map = {t: _RM3_ALPHA / len(QUERY_TERMS) for t in QUERY_TERMS}
    for r in exp_rows:
        w_exp = (1 - _RM3_ALPHA) * float(r["p"]) / es
        w_map[r["term"]] = w_map.get(r["term"], 0.0) + w_exp
    qw = F.broadcast(
        spark.createDataFrame(
            sorted(w_map.items()), "term string, w double"
        )
    )
    # pass 3: re-score from the index — the collected expansion terms
    # make the weighted-term set a LITERAL IN-list (bucket-pruned)
    wterms = sorted(set(QUERY_TERMS) | {r["term"] for r in exp_rows})
    scored = pst.where(F.col("term").isin(*wterms)).join(qw, "term")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum(
                F.col("w") * _bm25_term_score(n_docs, avgdl)
            ).alias("rm3_raw")
        )
        .orderBy(F.round("rm3_raw", 6).desc(), F.col("doc_id").asc())
        .limit(TOP_N)
        .select("doc_id", F.round("rm3_raw", 6).alias("rm3_score"))
    )


@register(
    "tfidf_cosine_from_index",
    oracle=_TC_ORACLE,
    tags=("retrieval", "similarity", "tfidf", "index", "store", "join"),
    bench=True,
)
def tfidf_cosine_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tfidf_cosine_topk_pairs' store-reading twin (identical oracle):
    the sparse TF-IDF all-pairs similarity join over the PERSISTED
    postings index. The inline form's corpus tokenize + (doc,term) tf
    aggregation + df re-agg — its only corpus-grain shuffles — are
    already materialized as store columns, and the df-ceiling (the
    prune that keeps the pair space sub-quadratic, measured 45× on the
    zipfian stress corpus) becomes a LITERAL min(floor(0.05·N), 1000)
    predicate PUSHED TO THE PARQUET SCAN: the stop-term postings are
    skipped at read time via row-group stats, not read-then-filtered.
    N (distinct docs with ≥1 token — the TF-IDF oracle's universe,
    which excludes token-less docs, unlike BM25's all-docs count) is
    a 1-row bounded aggregate over the store. Norms still ride in the
    postings rows via one doc-partitioned window — they depend on the
    pruned representation, so they are query-time by construction; no
    doc-grain table ever joins the pair grain. At 100 TB the pair join
    reads only informative terms' postings, bounded per term by the
    ceiling — the index IS the algorithm's input, paid once.

    N comes from the index's stats SIDECAR, not a postings scan: with
    the whitespace tokenizer every document yields ≥1 token (split of
    a trimmed empty string is ['']), so "docs with ≥1 posting" equals
    the sidecar's n_docs exactly — the r9 ADVICE finding that the
    count_distinct recomputation was both redundant and mislabeled."""
    name, n_docs, _ = ensure_postings_index(spark, sf_dir)
    pst = spark.table(name)
    n = n_docs
    ceiling = min(int(_TC_DF_FRAC * n), _TC_DF_ABS_CAP)
    w = pst.where(
        (F.col("df") <= ceiling) & (F.col("df") >= 2)
    ).select(
        "doc_id",
        F.col("term").alias("tok"),
        (
            F.col("tf").cast("double")
            * F.log(F.lit(float(n)) / F.col("df").cast("double"))
        ).alias("w"),
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
            F.count(F.lit(1)).alias("n_shared_terms"),
            F.round(
                F.sum(F.col("a.w") * F.col("b.w"))
                / (F.max("a.nrm") * F.max("b.nrm")),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
        .limit(_TC_TOP)
    )


@register(
    "boolean_and_from_index",
    oracle=_BOOLEAN_AND_ORACLE,
    tags=("retrieval", "postings", "boolean", "index", "store"),
)
def boolean_and_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boolean_and_retrieval's store-reading twin (identical oracle) —
    the production form its own docstring promises ("a real index
    persists the postings table bucketed by term; this plan is the
    query-time shape over it"): the AND intersection is a bucket-pruned
    scan of the 3 query terms' postings + one map-side-combinable
    groupBy whose count must equal the query arity; the store's
    (term, doc_id) grain is distinct by construction, so no
    array_distinct pass. The (lang, n_chars) payload comes from the
    row store keyed by the matched doc_ids — Spark broadcasts the tiny
    hit set onto the documents scan."""
    name, _, _ = ensure_postings_index(spark, sf_dir)
    hits = (
        spark.table(name)
        .where(F.col("term").isin(*_AND_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .where(F.col("n_matched") == len(_AND_TERMS))
    )
    docs = load_table(spark, sf_dir, "documents")
    return (
        F.broadcast(hits.select("doc_id"))
        .join(docs, "doc_id")
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "hybrid_rrf_from_index",
    oracle=_HYBRID_ORACLE,
    tags=("retrieval", "hybrid", "rrf", "index", "store", "vector"),
    bench=True,
)
def hybrid_rrf_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hybrid_rrf_topk's store-reading twin (identical oracle): the
    RRF fusion of the BM25 top-20 and the cosine-KNN top-20, with the
    KEYWORD arm answered from the persisted postings index — one
    bucket-pruned scan of the query terms' postings instead of the
    inline corpus tokenize+census. The vector arm is unchanged (a
    brute-force cosine TakeOrdered; its persisted artifact is the
    IVF/PQ store, a separate lane with its own store-reading twins).
    This is the production hybrid-search shape: BOTH arms are index
    lookups, each bounded by its own top-depth, and the fusion joins
    two ≤20-row rankings — broadcast-trivial at any corpus size.
    Completes the reference-parity chain for hybrid retrieval
    (reference is vector-only, ``rag.py:77-82``)."""
    kw = (
        _bm25_scores_from_index(spark, sf_dir)
        .orderBy(F.col("bm25_raw").desc(), F.col("doc_id").asc())
        .limit(_RRF_DEPTH)
        .withColumn(
            "kw_rank",
            F.row_number().over(
                Window.orderBy(
                    F.col("bm25_raw").desc(), F.col("doc_id").asc()
                )
            ),
        )
        .select("doc_id", "kw_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    probe = F.broadcast(
        emb.where(F.col("vec_id") == _PROBE_ID).select(
            F.col("embedding").alias("q")
        )
    )
    vec = (
        emb.where(F.col("vec_id") != _PROBE_ID)
        .crossJoin(probe)
        .withColumn("sim", cosine_similarity("embedding", "q"))
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(_RRF_DEPTH)
        .withColumn(
            "vec_rank",
            F.row_number().over(
                Window.orderBy(F.col("sim").desc(), F.col("vec_id").asc())
            ),
        )
        .select(F.col("vec_id").alias("doc_id"), "vec_rank")
    )
    fused = kw.join(vec, "doc_id", "full_outer").withColumn(
        "rrf_raw",
        F.coalesce(1.0 / (_RRF_K0 + F.col("kw_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K0 + F.col("vec_rank")), F.lit(0.0)),
    )
    return (
        fused.orderBy(F.col("rrf_raw").desc(), F.col("doc_id").asc())
        .limit(TOP_N)
        .select("doc_id", F.round("rrf_raw", 6).alias("rrf_score"))
    )


# ---------------------------------------------------------------------------
# Streaming postings-index maintenance (the lexical stream-ingest leg)
# ---------------------------------------------------------------------------

_STREAM_PST_VERSION = 1
_PST_INGEST_BUCKETS = 16


def _stream_pst_landing(sf_dir: str) -> str:
    """The documents corpus as THREE micro-batch files in ascending
    doc_id order (sources/warehouse.py::publish_landing)."""
    return publish_landing(
        f"stream_pst_v{_STREAM_PST_VERSION}",
        table_path(sf_dir, "documents"),
        ["doc_id", "text"],
    )


_STREAM_PST_ORACLE = f"""
WITH tf AS (
    SELECT term, doc_id, count(*)::BIGINT AS tf
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    )
    GROUP BY term, doc_id
)
SELECT (('0x' || substr(md5(term), 1, 15))::BIGINT
            % {_PST_INGEST_BUCKETS}) AS bkt,
       count(*)::BIGINT AS n_postings,
       count(DISTINCT term)::BIGINT AS n_terms,
       sum(tf)::BIGINT AS tf_checksum,
       sum(doc_id)::BIGINT AS doc_checksum
FROM tf
GROUP BY 1
"""


@register(
    "streaming_postings_ingest",
    oracle=_STREAM_PST_ORACLE,
    tags=("streaming", "retrieval", "postings", "index"),
)
def streaming_postings_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming LEXICAL-index maintenance — the postings sibling of
    streaming_ivf_index_ingest, completing the artifact lifecycle
    symmetry (build → persist → STREAM-INGEST → store-reading query)
    the vector lane has had since round 6: documents arrive in
    micro-batches (file stream, one file per trigger); each batch is
    tokenized and aggregated to (term, doc_id, tf) — per-doc tf is
    batch-local and exact because a document lives in exactly ONE
    batch — and appended to the postings store partitioned by the
    term's md5 bucket (the portable hash, so the oracle can replay the
    bucketing). The returned per-bucket census (posting count, distinct
    terms, tf and doc_id checksums) is batching-invariant: the DuckDB
    oracle computes it from the whole corpus in one pass, so the
    streamed store is hash-checked against the batch semantics it must
    preserve. Term-grain stats that are ADDITIVE across batches (df,
    collection tf) merge downstream exactly as the CMS/KMV sketch
    merges do; the impact ranks are the one non-additive column — a
    real deployment recomputes them per maintenance window (the
    ivf_rebalance pattern), never per batch.

    At 100 TB: per-micro-batch cost is one tokenize + one
    map-side-combinable (term, doc) aggregate + a partitioned append;
    the corpus is never rescanned."""
    store, _ = _run_stream_postings(spark, sf_dir)
    return (
        spark.read.parquet(store)
        .groupBy("bkt")
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            F.countDistinct("term").alias("n_terms"),
            F.sum("tf").alias("tf_checksum"),
            F.sum("doc_id").alias("doc_checksum"),
        )
        .select(
            F.col("bkt").cast("long").alias("bkt"),
            "n_postings",
            "n_terms",
            "tf_checksum",
            "doc_checksum",
        )
    )


def _run_stream_postings(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Drive the micro-batch lexical-index maintenance and return the
    two store paths ``(tf_store, pos_store)``.

    ROUND-10 (verdict task 3): each micro-batch now maintains BOTH
    index files — the tf postings AND the positional sidecar — from ONE
    tokenize pass: positions are the primary (term, doc) aggregate
    (posexplode → sort_array(collect_list)), and tf is derived as
    ``size(positions)`` (identical to the count — every occurrence
    contributes exactly one position), so adding the sidecar costs no
    second corpus pass. The per-batch frame is persisted for the two
    appends and unpersisted before the next trigger. Both stores
    partition by the term's portable md5 bucket; per-doc rows are
    batch-local and exact because a document lives in exactly ONE
    batch, and positions are doc-internal (token offsets), so streamed
    sidecar rows are bit-identical to the batch-built positional index
    rows — pinned in tests/test_postings_store.py.

    ROUND-11 (r10 verdict task 2 / ADVICE): the streamed store is
    WARM across invocations AND runs — it is published (sources/
    warehouse.py) under a fingerprint of documents.parquet, so every
    later call returns the persisted store without re-ingesting (the
    three streaming lanes previously each replayed the full micro-batch
    ingest per bench run, so the bench number measured 43–53s of ingest
    instead of the 0.5–1s query). A regenerated source re-streams
    LOUDLY: the superseded store is named on stderr. A stream that does
    not drain publishes nothing. tests/test_postings_store.py pins both
    the warm-skip and the loud re-stream."""
    from emails_to_vector_db_spark.streaming.run import drain_files

    landing = _stream_pst_landing(sf_dir)
    srcs = [table_path(sf_dir, "documents")]
    kind = f"stream_pst_run_v{_STREAM_PST_VERSION}"

    def stream(work: str) -> None:
        for old in superseded(kind, srcs):
            print(
                f"[stream_postings] source changed since {old}; "
                f"re-streaming into {work}",
                file=sys.stderr,
            )
        tf_store = os.path.join(work, "pst_store")
        pos_store = os.path.join(work, "pos_store")

        def apply(batch: DataFrame, _batch_id: int) -> None:
            pos = (
                batch.select(
                    "doc_id",
                    F.posexplode(TX.tokens("text")).alias("pos0", "term"),
                )
                .groupBy("term", "doc_id")
                .agg(
                    F.sort_array(
                        F.collect_list(F.col("pos0") + 1)
                    ).alias("positions")
                )
                .withColumn(
                    "bkt",
                    F.pmod(TX.md5_long("term"), F.lit(_PST_INGEST_BUCKETS)),
                )
                .persist()
            )
            try:
                pos.write.mode("append").partitionBy("bkt").parquet(pos_store)
                (
                    pos.select(
                        "term",
                        "doc_id",
                        F.size("positions").cast("long").alias("tf"),
                        "bkt",
                    )
                    .write.mode("append")
                    .partitionBy("bkt")
                    .parquet(tf_store)
                )
            finally:
                pos.unpersist()

        # a stream that times out raises, so publish discards the build
        drain_files(spark, landing, "doc_id bigint, text string", apply, work)

    work = publish(kind, srcs, stream)
    return os.path.join(work, "pst_store"), os.path.join(work, "pos_store")


def _pst_bucket_of(term: str) -> int:
    """Driver-side twin of TX.md5_long(term) % _PST_INGEST_BUCKETS — the
    streamed stores are DIRECTORY-partitioned by this bucket, so a
    term-lookup query pins the partition as a literal and Spark prunes
    the other 15 bucket directories at planning time (the streamed
    store's analogue of the batch store's SelectedBucketsCount)."""
    import hashlib

    return (
        int(hashlib.md5(term.encode()).hexdigest()[:15], 16)
        % _PST_INGEST_BUCKETS
    )


@register(
    "streaming_phrase_from_positions",
    oracle=_PHRASE_ORACLE,
    tags=("streaming", "retrieval", "phrase", "positional", "index"),
    bench=True,  # r11: warm streamed store → tracks QUERY cost, not ingest
)
def streaming_phrase_from_positions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Phrase retrieval served from the STREAM-MAINTAINED positional
    sidecar — the stream≡batch equivalence proof for round-10's sidecar
    maintenance leg (same oracle as phrase_match_stats /
    phrase_match_from_index): documents arrive in micro-batches, each
    batch appends its (term, doc_id, positions) rows to the sidecar
    (see _run_stream_postings — one tokenize pass maintains both index
    files), and the phrase query then reads ONLY the streamed store's
    two phrase-term partitions — adjacency is the classic
    |positions(a) ∩ (positions(b) − 1)| intersection per candidate doc,
    identical to the batch-built twin. Per-language denominators come
    from the row store's (doc_id, lang) columns; text is never touched
    after ingest. This closes the one gap the r9 verdict named in the
    lexical lifecycle: the tf postings had streaming maintenance, the
    positions file did not."""
    _, pos_store = _run_stream_postings(spark, sf_dir)
    pst = spark.read.parquet(pos_store)
    pa = pst.where(
        (F.col("bkt") == _pst_bucket_of(_PHRASE[0]))
        & (F.col("term") == _PHRASE[0])
    ).select("doc_id", F.col("positions").alias("pa"))
    pb = pst.where(
        (F.col("bkt") == _pst_bucket_of(_PHRASE[1]))
        & (F.col("term") == _PHRASE[1])
    ).select("doc_id", F.col("positions").alias("pb"))
    occ = pa.join(pb, "doc_id").select(
        "doc_id",
        F.size(
            F.array_intersect("pa", F.transform("pb", lambda x: x - 1))
        )
        .cast("long")
        .alias("n_occurrences"),
    )
    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    m = meta.join(occ, "doc_id", "left").select(
        "lang",
        F.coalesce("n_occurrences", F.lit(0)).alias("n_occurrences"),
    )
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("n_occurrences") > 0, 1).otherwise(0)
        ).alias("n_matching"),
        F.sum("n_occurrences").alias("total_occurrences"),
    )


# ---------------------------------------------------------------------------
# Drift-triggered rebuild plan for the lexical index (r9 verdict task 6:
# the store rebuilt only on source-mtime change; a real deployment watches
# the vocabulary drift of its streamed appends)
# ---------------------------------------------------------------------------

_PST_DRIFT_NEW_MASS_TAU = 0.25  # new-term tf share that forces a rebuild
_PST_DRIFT_GROWTH_TAU = 0.45  # appended/base posting ratio → compact
_PST_DRIFT_SUFFIX = "_v2"  # planted spelling drift (derived-twin convention)


def _pst_rebuild_oracle() -> str:
    return f"""
WITH tf AS (
    SELECT term, doc_id, count(*)::BIGINT AS tf
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    )
    GROUP BY term, doc_id
),
cut AS (SELECT (2 * max(doc_id)) // 3 AS c FROM tf),
base AS (
    SELECT term, count(*)::BIGINT AS n_base
    FROM tf, cut WHERE doc_id <= c GROUP BY term
),
delta AS (
    SELECT CASE WHEN doc_id % 5 = 0
                THEN term || '{_PST_DRIFT_SUFFIX}' ELSE term END AS term,
           tf
    FROM tf, cut WHERE doc_id > c
),
d2 AS (
    SELECT d.term, d.tf, (b.term IS NULL) AS is_new
    FROM delta d LEFT JOIN base b ON d.term = b.term
),
bb AS (
    SELECT (('0x' || substr(md5(term), 1, 15))::BIGINT
                % {_PST_INGEST_BUCKETS}) AS bkt,
           count(*)::BIGINT AS n_base_terms,
           sum(n_base)::BIGINT AS n_base_postings
    FROM base GROUP BY 1
),
dd AS (
    SELECT (('0x' || substr(md5(term), 1, 15))::BIGINT
                % {_PST_INGEST_BUCKETS}) AS bkt,
           count(*)::BIGINT AS n_delta_postings,
           round(sum(CASE WHEN is_new THEN tf ELSE 0 END)::DOUBLE
                 / sum(tf)::DOUBLE, 6) AS new_mass,
           count(DISTINCT CASE WHEN is_new THEN term END)::BIGINT
               AS n_new_terms
    FROM d2 GROUP BY 1
),
j AS (
    SELECT coalesce(bb.bkt, dd.bkt) AS bkt,
           coalesce(n_base_terms, 0)::BIGINT AS n_base_terms,
           coalesce(n_base_postings, 0)::BIGINT AS n_base_postings,
           coalesce(n_delta_postings, 0)::BIGINT AS n_delta_postings,
           coalesce(n_new_terms, 0)::BIGINT AS n_new_terms,
           coalesce(new_mass, 0.0) AS new_mass,
           round(coalesce(n_delta_postings, 0)::DOUBLE
                 / greatest(coalesce(n_base_postings, 0), 1)::DOUBLE,
                 6) AS growth
    FROM bb FULL OUTER JOIN dd ON bb.bkt = dd.bkt
)
SELECT bkt, n_base_terms, n_base_postings, n_delta_postings,
       n_new_terms, new_mass, growth,
       CASE WHEN new_mass > {_PST_DRIFT_NEW_MASS_TAU} THEN 'rebuild'
            WHEN growth > {_PST_DRIFT_GROWTH_TAU} THEN 'compact'
            ELSE 'keep' END AS action
FROM j
ORDER BY bkt
"""


@register(
    "postings_vocab_rebuild_plan",
    oracle=_pst_rebuild_oracle(),
    tags=("retrieval", "postings", "index", "maintenance", "plan", "store"),
    bench=True,
)
def postings_vocab_rebuild_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drift-triggered REBUILD PLAN for the lexical index — the postings
    sibling of reembedding_rebuild_plan (that one reacts to embedding
    drift; this reacts to VOCABULARY drift from streamed appends): per
    term-bucket, compare the base lexicon (postings of the first ~2/3 of
    doc ids — the state at the last full rebuild) against the appended
    tail, and emit an executable action row: 'rebuild' when the
    appends' NEW-TERM tf mass exceeds τ=0.25 (the bucket's dictionary /
    df statistics no longer describe its postings), 'compact' when
    append volume exceeds 45% of the base (fragmented micro-batch files
    dominate), else 'keep'. The appends carry a planted deterministic
    spelling drift (terms of every 5th appended doc suffixed
    '_v2' — the derived-twin convention the dedup/template lanes
    use), so both drift statistics are exercised and the action mix is
    non-degenerate at fixture scale.

    INDEX-ONLY: the whole statistic reads the persisted postings store
    (term, doc_id, tf) — the corpus text is never scanned (pinned in
    tests/test_plan_budget.py SCAN_BUDGET), extending the
    zero-documents-scan budget family. At 100 TB this is the analyzer a
    maintenance scheduler runs per window: bucket-grain aggregates over
    the index, one term-grain anti-probe for the new-term mass, k·16
    output rows."""
    name, _, _ = ensure_postings_index(spark, sf_dir)
    pst = spark.table(name).select("term", "doc_id", "tf")
    # bounded: 1 row — the doc-id horizon that splits base from appends
    max_id = pst.agg(F.max("doc_id")).collect()[0][0]
    cut = 2 * int(max_id) // 3
    bkt = F.pmod(TX.md5_long("term"), F.lit(_PST_INGEST_BUCKETS)).alias(
        "bkt"
    )
    base = (
        pst.where(F.col("doc_id") <= cut)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_base"))
    )
    delta = pst.where(F.col("doc_id") > cut).select(
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("term"), F.lit(_PST_DRIFT_SUFFIX)),
        )
        .otherwise(F.col("term"))
        .alias("term"),
        "tf",
    )
    d2 = delta.join(
        base.select("term", F.lit(1).alias("in_base")), "term", "left"
    )
    bb = base.groupBy(bkt).agg(
        F.count(F.lit(1)).alias("n_base_terms"),
        F.sum("n_base").alias("n_base_postings"),
    )
    is_new = F.col("in_base").isNull()
    dd = d2.groupBy(bkt).agg(
        F.count(F.lit(1)).alias("n_delta_postings"),
        F.round(
            F.sum(F.when(is_new, F.col("tf")).otherwise(0)).cast("double")
            / F.sum("tf").cast("double"),
            6,
        ).alias("new_mass"),
        F.count_distinct(F.when(is_new, F.col("term"))).alias(
            "n_new_terms"
        ),
    )
    j = bb.join(dd, "bkt", "full_outer").select(
        F.col("bkt").cast("long").alias("bkt"),
        F.coalesce("n_base_terms", F.lit(0)).alias("n_base_terms"),
        F.coalesce("n_base_postings", F.lit(0)).alias("n_base_postings"),
        F.coalesce("n_delta_postings", F.lit(0)).alias(
            "n_delta_postings"
        ),
        F.coalesce("n_new_terms", F.lit(0)).alias("n_new_terms"),
        F.coalesce("new_mass", F.lit(0.0)).alias("new_mass"),
        F.round(
            F.coalesce("n_delta_postings", F.lit(0)).cast("double")
            / F.greatest(
                F.coalesce("n_base_postings", F.lit(0)), F.lit(1)
            ).cast("double"),
            6,
        ).alias("growth"),
    )
    return j.select(
        "*",
        F.when(F.col("new_mass") > _PST_DRIFT_NEW_MASS_TAU, "rebuild")
        .when(F.col("growth") > _PST_DRIFT_GROWTH_TAU, "compact")
        .otherwise("keep")
        .alias("action"),
    ).orderBy("bkt")


# ---------------------------------------------------------------------------
# Positional postings sidecar + phrase retrieval from the index
# ---------------------------------------------------------------------------

_POS_KIND = "pstpos_v2"


def ensure_positional_index(spark: SparkSession, sf_dir: str) -> str:
    """The POSITIONAL sidecar of the postings store — (term, doc_id,
    positions array, 1-based), bucketed by term like the main table,
    published and registered the same way. Kept as a separate table
    (not a column on the tf store) because positions are ~dl/df× larger
    than the tf rows and only phrase / proximity queries pay for them —
    the standard Lucene split between frequency and position files."""
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )

    def frame(_: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        pos = docs.select(
            "doc_id",
            F.posexplode(TX.tokens("text")).alias("pos0", "term"),
        ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
        return pos.groupBy("term", "doc_id").agg(
            F.sort_array(F.collect_list("pos")).alias("positions")
        )

    return publish_bucketed(
        spark,
        _POS_KIND,
        [table_path(sf_dir, "documents")],
        frame,
        key="term",
        n_buckets=_PST_BUCKETS,
    )


@register(
    "phrase_match_from_index",
    oracle=_PHRASE_ORACLE,
    tags=("retrieval", "phrase", "positional", "index", "store"),
)
def phrase_match_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """phrase_match_stats' store-reading twin (identical oracle) — the
    production shape its docstring names: the two phrase terms'
    position lists come from the POSITIONAL postings sidecar
    (bucket-pruned IN-list scan), and adjacency is
    |positions(a) ∩ (positions(b) − 1)| — the classic positional-index
    phrase intersection, evaluated per candidate doc that contains
    BOTH terms (an equi-join of two pruned posting lists, never a
    corpus tokenize). The per-language denominators come from the row
    store reading ONLY (doc_id, lang) — text is never touched
    anywhere in the plan (pinned in tests/test_postings_store.py). At
    100 TB the intersection is rare-term-bounded: the join's build
    side is the rarer term's postings, the same rare-first discipline
    as the set-similarity joins."""
    name = ensure_positional_index(spark, sf_dir)
    pst = spark.table(name)
    pa = pst.where(F.col("term") == _PHRASE[0]).select(
        "doc_id", F.col("positions").alias("pa")
    )
    pb = pst.where(F.col("term") == _PHRASE[1]).select(
        "doc_id", F.col("positions").alias("pb")
    )
    occ = pa.join(pb, "doc_id").select(
        "doc_id",
        F.size(
            F.array_intersect(
                "pa", F.transform("pb", lambda x: x - 1)
            )
        )
        .cast("long")
        .alias("n_occurrences"),
    )
    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    m = meta.join(occ, "doc_id", "left").select(
        "lang",
        F.coalesce("n_occurrences", F.lit(0)).alias("n_occurrences"),
    )
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("n_occurrences") > 0, 1).otherwise(0)
        ).alias("n_matching"),
        F.sum("n_occurrences").alias("total_occurrences"),
    )


_PROX_WINDOW = 3  # max token distance for the proximity predicate

_PROX_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, lang, {{tokens}} AS t FROM documents
),
pos AS (
    SELECT doc_id, lang, t[i] AS term, i AS p
    FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)
    WHERE t[i] IN ('{{a}}', '{{b}}')
),
pairs AS (
    SELECT a.doc_id, a.lang,
           count(*)::BIGINT AS n_windows,
           min(abs(a.p - b.p))::BIGINT AS min_dist
    FROM pos a JOIN pos b
      ON a.doc_id = b.doc_id
     AND a.term = '{{a}}' AND b.term = '{{b}}'
     AND abs(a.p - b.p) <= {_PROX_WINDOW}
    GROUP BY a.doc_id, a.lang
)
SELECT lang,
       count(*)::BIGINT AS n_matching,
       sum(n_windows)::BIGINT AS total_windows,
       min(min_dist)::BIGINT AS closest
FROM pairs
GROUP BY lang
"""


@register(
    "proximity_match_from_index",
    oracle=_PROX_ORACLE.replace("{tokens}", "regexp_split_to_array(trim(text), '\\s+')")
    .replace("{a}", _PHRASE[0])
    .replace("{b}", _PHRASE[1]),
    tags=("retrieval", "proximity", "positional", "index", "store"),
)
def proximity_match_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROXIMITY retrieval (Lucene's sloppy phrase / NEAR operator):
    documents where the two terms co-occur within a 3-token
    window, with per-language match counts, total qualifying position
    pairs, and the closest observed distance. Reads the POSITIONAL
    sidecar: two bucket-pruned position-list scans joined on doc_id,
    the window predicate evaluated as a zip-free positions×positions
    expression per candidate doc — position lists are dl-bounded and
    the candidate set is the AND intersection, so per-doc work is
    |pa|·|pb| over ALREADY-PRUNED lists (rare-term-bounded at a
    realistic vocabulary, the same bound as the phrase twin). The
    oracle recomputes from raw text; the twin never tokenizes."""
    name = ensure_positional_index(spark, sf_dir)
    pst = spark.table(name)
    pa = pst.where(F.col("term") == _PHRASE[0]).select(
        "doc_id", F.col("positions").alias("pa")
    )
    pb = pst.where(F.col("term") == _PHRASE[1]).select(
        "doc_id", F.col("positions").alias("pb")
    )
    pairs_in_window = F.aggregate(
        F.col("pa"),
        F.struct(
            F.lit(0).cast("long").alias("n"),
            F.lit(None).cast("long").alias("mind"),
        ),
        lambda acc, x: F.struct(
            (
                acc["n"]
                + F.size(
                    F.filter(
                        F.col("pb"),
                        lambda y: F.abs(x - y) <= _PROX_WINDOW,
                    )
                )
            ).alias("n"),
            F.least(
                F.coalesce(acc["mind"], F.lit(1 << 60)),
                F.coalesce(
                    F.array_min(
                        F.transform(
                            F.filter(
                                F.col("pb"),
                                lambda y: F.abs(x - y)
                                <= _PROX_WINDOW,
                            ),
                            lambda y: F.abs(x - y).cast("long"),
                        )
                    ),
                    F.lit(1 << 60),
                ),
            ).alias("mind"),
        ),
    )
    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    cand = (
        pa.join(pb, "doc_id")
        .withColumn("agg", pairs_in_window)
        .where(F.col("agg.n") > 0)
        .select(
            "doc_id",
            F.col("agg.n").alias("n_windows"),
            F.col("agg.mind").alias("min_dist"),
        )
        .join(meta, "doc_id")
    )
    return cand.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_matching"),
        F.sum("n_windows").alias("total_windows"),
        F.min("min_dist").alias("closest"),
    )


_PROX_RARE_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, lang,
           regexp_split_to_array(trim(text), '\\s+') AS t
    FROM documents
),
pos AS (
    SELECT doc_id, lang, t[i] AS term, i AS p
    FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)
),
dfs AS (
    SELECT term, count(DISTINCT doc_id)::BIGINT AS df
    FROM pos GROUP BY term
),
head AS (SELECT term FROM dfs ORDER BY df DESC, term ASC LIMIT 1),
rare AS (
    SELECT term FROM dfs
    WHERE df >= 2 AND term <> (SELECT term FROM head)
    ORDER BY df ASC, term ASC LIMIT 1
),
pairs AS (
    SELECT a.doc_id, a.lang,
           count(*)::BIGINT AS n_windows,
           min(abs(a.p - b.p))::BIGINT AS min_dist
    FROM pos a JOIN pos b
      ON a.doc_id = b.doc_id
     AND a.term = (SELECT term FROM rare)
     AND b.term = (SELECT term FROM head)
     AND abs(a.p - b.p) <= {_PROX_WINDOW}
    GROUP BY a.doc_id, a.lang
)
SELECT lang,
       count(*)::BIGINT AS n_matching,
       sum(n_windows)::BIGINT AS total_windows,
       min(min_dist)::BIGINT AS closest
FROM pairs
GROUP BY lang
"""


@register(
    "proximity_rare_from_index",
    oracle=_PROX_RARE_ORACLE,
    tags=("retrieval", "proximity", "positional", "index", "store", "rare"),
    bench=True,
)
def proximity_rare_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DF-AWARE proximity (r10 verdict task 4): NEAR/3 between the
    corpus's rarest usable term and its most frequent term, with the
    evaluation ORDER chosen from the lexicon's document frequencies —
    the pruning Lucene applies by always advancing the rarest iterator
    first. Term selection is itself two index probes (TakeOrdered over
    the posting rows' df column — no vocabulary shuffle, 1-row
    collects: the plan-literal rule), so the query is corpus-agnostic:
    the same code picks zipf-tail terms on `.scale/zipf` and the
    min-df type on the driver fixture.

    Plan shape: the RARE term's position list (df_rare rows — bounded
    by selection to the corpus minimum) is BROADCAST into the join
    against the head list, so non-candidate docs never reach the
    window arithmetic and the head term's long lists are pruned to
    df_rare docs before the |pa|·|pb| fold runs — the fold's outer
    list is the rare one, making per-doc cost ~|pb|, linear in the
    head list. No shuffle anywhere except the final ≤n_lang-row
    confusion agg; at 100 TB the head-bucket scan is the cost floor
    and everything after it is df_rare-bounded. The zipf lane table
    (SCALE_NOTES) records the AND-class gap vs inline."""
    tf_name, _, _ = ensure_postings_index(spark, sf_dir)
    pos_name = ensure_positional_index(spark, sf_dir)
    tf = spark.table(tf_name).select("term", "df")
    head = tf.orderBy(F.col("df").desc(), F.col("term").asc()).first()[
        "term"
    ]
    rare = (
        tf.where((F.col("df") >= 2) & (F.col("term") != head))
        .orderBy(F.col("df").asc(), F.col("term").asc())
        .first()["term"]
    )
    pst = spark.table(pos_name)
    ra = pst.where(F.col("term") == rare).select(
        "doc_id", F.col("positions").alias("pa")
    )
    hb = pst.where(F.col("term") == head).select(
        "doc_id", F.col("positions").alias("pb")
    )
    pairs_in_window = F.aggregate(
        F.col("pa"),
        F.struct(
            F.lit(0).cast("long").alias("n"),
            F.lit(None).cast("long").alias("mind"),
        ),
        lambda acc, x: F.struct(
            (
                acc["n"]
                + F.size(
                    F.filter(
                        F.col("pb"),
                        lambda y: F.abs(x - y) <= _PROX_WINDOW,
                    )
                )
            ).alias("n"),
            F.least(
                F.coalesce(acc["mind"], F.lit(1 << 60)),
                F.coalesce(
                    F.array_min(
                        F.transform(
                            F.filter(
                                F.col("pb"),
                                lambda y: F.abs(x - y)
                                <= _PROX_WINDOW,
                            ),
                            lambda y: F.abs(x - y).cast("long"),
                        )
                    ),
                    F.lit(1 << 60),
                ),
            ).alias("mind"),
        ),
    )
    cand = (
        hb.join(F.broadcast(ra), "doc_id")
        .withColumn("agg", pairs_in_window)
        .where(F.col("agg.n") > 0)
        .select(
            "doc_id",
            F.col("agg.n").alias("n_windows"),
            F.col("agg.mind").alias("min_dist"),
        )
    )
    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    return (
        meta.join(F.broadcast(cand), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_matching"),
            F.sum("n_windows").alias("total_windows"),
            F.min("min_dist").alias("closest"),
        )
    )


# ---------------------------------------------------------------------------
# Index-only corpus statistics: collection-frequency / term-weight audit
# (r9 verdict task 7b — zero corpus scans, the SCAN_BUDGET family)
# ---------------------------------------------------------------------------

_TS_TOP = 30
_TS_STOP_DF_FRAC = 0.5  # df/N above this ⇒ stopword-class term

_TERM_STATS_ORACLE = f"""
WITH tf AS (
    SELECT term, doc_id, count(*)::BIGINT AS tf
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    )
    GROUP BY term, doc_id
),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
stats AS (
    SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
    FROM tf GROUP BY term
)
SELECT term, df, cf,
       round(cf::DOUBLE / df, 6) AS avg_tf,
       round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf,
       CASE WHEN df::DOUBLE / n_docs >= {_TS_STOP_DF_FRAC}
            THEN 1 ELSE 0 END::BIGINT AS is_stopword
FROM stats, n
ORDER BY cf DESC, term ASC
LIMIT {_TS_TOP}
"""


@register(
    "term_stats_from_index",
    oracle=_TERM_STATS_ORACLE,
    tags=("retrieval", "postings", "index", "stats", "store"),
    bench=True,
)
def term_stats_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection-frequency / term-weight audit answered ENTIRELY from
    the postings store — the corpus-statistics pass every retrieval
    deployment runs (stopword detection, IDF table refresh, vocabulary
    health) without touching the corpus: per term, document frequency
    (already denormalized on the posting rows — min() collapses the
    constant), collection frequency (sum of tf), mean within-doc tf,
    the BM25 idf weight, and a stopword flag at df/N ≥ 0.5. N is the
    sidecar literal. Extends the index-only scan-budget family
    (("documents", …): 0 — pinned in tests/test_plan_budget.py): the
    plan is one postings scan + one term-grain aggregate + a
    TakeOrdered(30). At 100 TB this is the difference between a
    dictionary pass over the index and a full-corpus re-tokenization —
    the exact statistic the drift rebuild plan consumes upstream."""
    name, n_docs, _ = ensure_postings_index(spark, sf_dir)
    pst = spark.table(name)
    stats = pst.groupBy("term").agg(
        F.min("df").alias("df"),
        F.sum("tf").alias("cf"),
    )
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        + 1.0
    )
    return (
        stats.select(
            "term",
            "df",
            "cf",
            F.round(F.col("cf").cast("double") / F.col("df"), 6).alias(
                "avg_tf"
            ),
            F.round(idf, 6).alias("idf"),
            F.when(
                F.col("df").cast("double") / F.lit(float(n_docs))
                >= _TS_STOP_DF_FRAC,
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("is_stopword"),
        )
        .orderBy(F.col("cf").desc(), F.col("term").asc())
        .limit(_TS_TOP)
    )


# ---------------------------------------------------------------------------
# End-to-end retrieve → rerank → eval chain (r9 verdict task 7c): one lazy
# plan composing bm25-from-index, the cross-encoder stand-in, and nDCG@10
# ---------------------------------------------------------------------------

_CHAIN_K = 10  # eval depth (nDCG@10, same as the eval lane)


def _chain_oracle() -> str:
    from emails_to_vector_db_spark.plans.retrieval import (
        _CE_DEPTH,
        _PROBE_ID,
    )

    toks = "regexp_split_to_array(trim(text), '\\s+')"
    return f"""
WITH q AS (
    SELECT list_distinct({toks}) AS qs,
           len({toks}) AS qdl,
           source AS qsrc, lang AS qlang
    FROM documents WHERE doc_id = {_PROBE_ID}
),
stats AS (
    SELECT count(*)::BIGINT AS n_docs,
           avg(len({toks})) AS avgdl
    FROM documents
),
tf AS (
    SELECT term, doc_id, count(*)::BIGINT AS tf, min(dl) AS dl
    FROM (
        SELECT doc_id, len({toks}) AS dl,
               unnest({toks}) AS term
        FROM documents
    )
    GROUP BY term, doc_id
),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
scored AS (
    SELECT t.doc_id,
           sum(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
               * (t.tf * {_K1 + 1}) / (t.tf + {_K1} * (1 - {_B}
                   + {_B} * t.dl / s.avgdl))) AS bm25_raw
    FROM tf t
    JOIN dfs f ON f.term = t.term
    CROSS JOIN q CROSS JOIN stats s
    WHERE list_contains(q.qs, t.term) AND t.doc_id <> {_PROBE_ID}
    GROUP BY t.doc_id
),
cand AS (
    SELECT doc_id,
           row_number() OVER (
               ORDER BY round(bm25_raw, 6) DESC, doc_id ASC
           ) AS bm25_rank
    FROM scored
    ORDER BY round(bm25_raw, 6) DESC, doc_id ASC
    LIMIT {_CE_DEPTH}
),
feat AS (
    SELECT c.doc_id, c.bm25_rank, q.qs, q.qdl,
           {toks.replace('text', 'd.text')} AS dt,
           CASE WHEN d.source = q.qsrc THEN 2
                WHEN d.lang = q.qlang THEN 1 ELSE 0 END AS rel
    FROM cand c
    JOIN documents d ON d.doc_id = c.doc_id
    CROSS JOIN q
),
sc AS (
    SELECT doc_id, bm25_rank, rel,
           len(list_filter(list_distinct(dt),
                           t -> list_contains(qs, t)))::DOUBLE AS inter,
           len(qs)::DOUBLE AS nq,
           len(list_distinct(dt))::DOUBLE AS ndist,
           coalesce(
               nullif(list_position(
                   list_transform(dt, t -> list_contains(qs, t)),
                   true), 0),
               len(dt) + 1
           )::DOUBLE AS first_pos,
           least(qdl, len(dt))::DOUBLE
               / greatest(qdl, len(dt)) AS len_ratio
    FROM feat
),
ce AS (
    SELECT doc_id, bm25_rank, rel,
           row_number() OVER (
               ORDER BY round(2.0 * inter / (nq + ndist - inter)
                              + 1.0 * inter / nq
                              + 0.5 / first_pos
                              + 0.25 * len_ratio, 6) DESC,
                        doc_id ASC
           ) AS ce_rank
    FROM sc
),
ideal AS (
    SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS pos
    FROM ce
),
gains AS (
    SELECT
        (SELECT sum((pow(2, rel) - 1) / log2(bm25_rank + 1))
         FROM ce WHERE bm25_rank <= {_CHAIN_K}) AS dcg_bm25,
        (SELECT sum((pow(2, rel) - 1) / log2(ce_rank + 1))
         FROM ce WHERE ce_rank <= {_CHAIN_K}) AS dcg_ce,
        (SELECT sum((pow(2, rel) - 1) / log2(pos + 1))
         FROM ideal WHERE pos <= {_CHAIN_K}) AS idcg,
        (SELECT count(*)::BIGINT FROM ce) AS n_cand
)
SELECT {_PROBE_ID}::BIGINT AS query_id,
       n_cand,
       CASE WHEN coalesce(idcg, 0) > 0
            THEN round(dcg_bm25 / idcg, 6) END AS ndcg_bm25,
       CASE WHEN coalesce(idcg, 0) > 0
            THEN round(dcg_ce / idcg, 6) END AS ndcg_ce
FROM gains
"""


@register(
    "retrieve_rerank_eval_chain",
    oracle=_chain_oracle(),
    tags=("retrieval", "rerank", "eval", "index", "store", "e2e"),
    bench=True,
)
def retrieve_rerank_eval_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The COMPLETE two-stage ranking stack as ONE lazy plan — the
    production loop the reference's single-stage search implies
    (``rag.py:77-90``): (1) RETRIEVE — BM25 top-50 answered from the
    persisted postings index, query terms taken from the probe doc's
    text (one bounded doc-grain row-store read, the rm3 pushed-IN-list
    convention); (2) RERANK — the cross-encoder stand-in scores exactly
    50 candidate texts (broadcast-pruned documents scan, scan-local
    interaction features — identical recipe to
    cross_encoder_rerank_topk); (3) EVAL — nDCG@10 of BOTH orders
    (bm25 vs reranked) against the graded same-source/same-lang
    relevance (the ndcg_retrieval_eval convention), with the ideal
    ranking drawn from the same candidate pool. Nothing between the
    stages materializes: candidate frames are ≤50 rows, every window
    orders ≤50 rows, and the final answer is one row. At 100 TB stage 1
    is an index lookup bounded by the query terms' document
    frequencies, stage 2 touches 50 texts, stage 3 is arithmetic —
    corpus size appears nowhere after the index scan."""
    from emails_to_vector_db_spark.plans.retrieval import (
        _CE_DEPTH,
        _PROBE_ID,
    )

    name, n_docs, avgdl = ensure_postings_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # bounded: 1 row — the probe doc's terms become pushed scan literals
    q = (
        docs.where(F.col("doc_id") == _PROBE_ID)
        .select(
            F.array_distinct(TX.tokens("text")).alias("qs"),
            F.size(TX.tokens("text")).alias("qdl"),
            F.col("source").alias("qsrc"),
            F.col("lang").alias("qlang"),
        )
        .collect()[0]
    )
    terms = sorted(set(q["qs"]))
    scored = (
        spark.table(name)
        .where(F.col("term").isin(*terms))
        .where(F.col("doc_id") != _PROBE_ID)
        .groupBy("doc_id")
        .agg(F.sum(_bm25_term_score(n_docs, avgdl)).alias("bm25_raw"))
    )
    w_bm = Window.orderBy(
        F.round("bm25_raw", 6).desc(), F.col("doc_id").asc()
    )
    cand = (
        scored.orderBy(F.round("bm25_raw", 6).desc(), F.col("doc_id").asc())
        .limit(_CE_DEPTH)
        .withColumn("bm25_rank", F.row_number().over(w_bm))
        .select("doc_id", "bm25_rank")
    )
    qb = F.broadcast(
        spark.createDataFrame(
            [(list(q["qs"]), int(q["qdl"]), q["qsrc"], q["qlang"])],
            "qs array<string>, qdl int, qsrc string, qlang string",
        )
    )
    feat = (
        docs.join(F.broadcast(cand), "doc_id")
        .crossJoin(qb)
        .select(
            "doc_id",
            "bm25_rank",
            "qs",
            "qdl",
            TX.tokens("text").alias("dt"),
            F.when(F.col("source") == F.col("qsrc"), 2)
            .when(F.col("lang") == F.col("qlang"), 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    ds = F.array_distinct(F.col("dt"))
    inter = F.size(
        F.filter(ds, lambda t: F.array_contains(F.col("qs"), t))
    ).cast("double")
    nq = F.size("qs").cast("double")
    ndist = F.size(ds).cast("double")
    fp_raw = F.array_position(
        F.transform(
            F.col("dt"), lambda t: F.array_contains(F.col("qs"), t)
        ),
        F.lit(True),
    )
    first_pos = (
        F.when(fp_raw == 0, F.size("dt") + 1).otherwise(fp_raw)
    ).cast("double")
    len_ratio = F.least(F.col("qdl"), F.size("dt")).cast(
        "double"
    ) / F.greatest(F.col("qdl"), F.size("dt"))
    ce_raw = (
        2.0 * inter / (nq + ndist - inter)
        + 1.0 * inter / nq
        + 0.5 / first_pos
        + 0.25 * len_ratio
    )
    w_ce = Window.orderBy(
        F.round(ce_raw, 6).desc(), F.col("doc_id").asc()
    )
    w_ideal = Window.orderBy(F.col("rel").desc(), F.col("doc_id").asc())
    ranked = feat.select(
        "doc_id",
        "bm25_rank",
        "rel",
        F.row_number().over(w_ce).alias("ce_rank"),
        F.row_number().over(w_ideal).alias("ideal_pos"),
    )
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1.0)
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.sum(
            F.when(
                F.col("bm25_rank") <= _CHAIN_K,
                gain / F.log2(F.col("bm25_rank") + 1),
            )
        ).alias("dcg_bm25"),
        F.sum(
            F.when(
                F.col("ce_rank") <= _CHAIN_K,
                gain / F.log2(F.col("ce_rank") + 1),
            )
        ).alias("dcg_ce"),
        F.sum(
            F.when(
                F.col("ideal_pos") <= _CHAIN_K,
                gain / F.log2(F.col("ideal_pos") + 1),
            )
        ).alias("idcg"),
    )
    # idcg == 0 (no relevant candidate in the pool at all — observed at
    # the sf10 rung, where the probe's source never reaches the BM25
    # top-50) must yield NULL metrics, not a divide-by-zero; the oracle
    # carries the identical CASE guard
    has_ideal = F.coalesce(F.col("idcg"), F.lit(0.0)) > 0
    return agg.select(
        F.lit(_PROBE_ID).cast("long").alias("query_id"),
        "n_cand",
        F.when(
            has_ideal, F.round(F.col("dcg_bm25") / F.col("idcg"), 6)
        ).alias("ndcg_bm25"),
        F.when(
            has_ideal, F.round(F.col("dcg_ce") / F.col("idcg"), 6)
        ).alias("ndcg_ce"),
    )


# ---------------------------------------------------------------------------
# Query-likelihood (Dirichlet-smoothed LM) retrieval from the index — the
# second classic probabilistic ranker next to BM25 (Zhai & Lafferty 2001)
# ---------------------------------------------------------------------------

_QL_MU = 300.0  # Dirichlet prior mass (~6× fixture avgdl)


def _ql_oracle() -> str:
    q_in = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    return f"""
WITH tf AS (
    SELECT term, doc_id, count(*)::BIGINT AS tf, min(dl) AS dl
    FROM (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+')) AS dl,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    )
    GROUP BY term, doc_id
),
cf AS (
    SELECT term,
           sum(tf)::DOUBLE / (SELECT sum(tf)::DOUBLE FROM tf) AS pc
    FROM tf WHERE term IN ({q_in}) GROUP BY term
),
qconst AS (
    SELECT sum(ln({_QL_MU} * pc)) AS c0,
           count(*)::DOUBLE AS nq
    FROM cf
),
cand AS (
    SELECT t.doc_id, min(t.dl) AS dl,
           sum(ln(1 + t.tf / ({_QL_MU} * c.pc))) AS hitsum
    FROM tf t JOIN cf c ON c.term = t.term
    GROUP BY t.doc_id
)
SELECT doc_id,
       round(c0 - nq * ln(dl + {_QL_MU}) + hitsum, 6) AS ql
FROM cand, qconst
ORDER BY round(c0 - nq * ln(dl + {_QL_MU}) + hitsum, 6) DESC, doc_id ASC
LIMIT {TOP_N}
"""


@register(
    "query_likelihood_from_index",
    oracle=_ql_oracle(),
    tags=("retrieval", "lm", "dirichlet", "index", "store"),
    bench=True,
)
def query_likelihood_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty
    2001) answered from the postings index — the probabilistic-LM
    ranker beside BM25, in its standard decomposed form: score =
    Σ_q log(μ·P(t|C)) − |q|·log(dl+μ) + Σ_{t∈q∩d} log(1 + tf/(μ·P(t|C))),
    evaluated over candidate docs (≥1 query-term hit, the WAND-style
    evaluation every practical system uses). Everything comes from the
    store: tf/dl ride the bucket-pruned posting rows, the query terms'
    collection probabilities are a 3-row index aggregate (broadcast),
    and the collection token count is exactly the sidecar's sum_dl
    (every token contributes one tf unit — integers < 2^53, exact in
    doubles). The corpus text is never read. At 100 TB the plan is an
    index lookup bounded by the query terms' document frequencies plus
    a 3-row broadcast — identical cost class to bm25_topk_from_index."""
    name, st = _postings_store(spark, sf_dir)
    ct = float(st["sum_dl"])
    pst = spark.table(name)
    pc = (
        pst.where(F.col("term").isin(*QUERY_TERMS))
        .groupBy("term")
        .agg((F.sum("tf").cast("double") / F.lit(ct)).alias("pc"))
    )
    qconst = F.broadcast(
        pc.agg(
            F.sum(F.log(_QL_MU * F.col("pc"))).alias("c0"),
            F.count(F.lit(1)).cast("double").alias("nq"),
        )
    )
    cand = (
        pst.where(F.col("term").isin(*QUERY_TERMS))
        .join(F.broadcast(pc), "term")
        .groupBy("doc_id")
        .agg(
            F.min("dl").alias("dl"),
            F.sum(
                F.log(1 + F.col("tf") / (_QL_MU * F.col("pc")))
            ).alias("hitsum"),
        )
    )
    ql = F.round(
        F.col("c0")
        - F.col("nq") * F.log(F.col("dl") + _QL_MU)
        + F.col("hitsum"),
        6,
    )
    return (
        cand.crossJoin(qconst)
        .select("doc_id", ql.alias("ql"))
        .orderBy(F.col("ql").desc(), F.col("doc_id").asc())
        .limit(TOP_N)
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary-growth fit from the index — corpus linguistics for
# the tokenizer/vocab-budget decisions a training pipeline makes
# ---------------------------------------------------------------------------


def _heaps_oracle() -> str:
    return """
WITH tf AS (
    SELECT DISTINCT term, doc_id
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    )
),
docs_r AS (
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r
    FROM (SELECT DISTINCT doc_id FROM tf)
),
firsts AS (
    SELECT d.r AS fr
    FROM (SELECT term, min(doc_id) AS fd FROM tf GROUP BY term) f
    JOIN docs_r d ON d.doc_id = f.fd
),
ckpt AS (
    SELECT r FROM docs_r
    WHERE (r & (r - 1)) = 0 OR r = (SELECT max(r) FROM docs_r)
),
pts AS (
    SELECT ln(c.r::DOUBLE) AS x, ln(count(*)::DOUBLE) AS y
    FROM ckpt c JOIN firsts ON firsts.fr <= c.r
    GROUP BY c.r
),
s AS (
    SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
           sum(x * y) AS sxy, sum(x * x) AS sxx
    FROM pts
)
SELECT n::BIGINT AS n_points,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta_hat,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
             6) AS log_k_hat
FROM s
"""


@register(
    "heaps_law_fit_from_index",
    oracle=_heaps_oracle(),
    tags=("retrieval", "postings", "index", "stats", "store", "linguistics"),
    bench=True,
)
def heaps_law_fit_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Heaps'-law fit V(n) ≈ K·n^β from the postings store — the
    vocabulary-growth curve that sizes tokenizer vocabularies and
    predicts new-term influx for the drift rebuild plan, computed
    WITHOUT touching the corpus: each term's first-occurrence doc rank
    comes from a per-term min over the posting rows, the cumulative
    vocabulary V(r) is evaluated at the ~log₂(n) power-of-two
    checkpoint ranks (a broadcast ≤-join of 13 checkpoint rows against
    the term-grain firsts), and β/log K are the closed-form
    least-squares slope/intercept over (ln r, ln V). The doc-rank
    window is the one corpus-cardinality sort (n_docs ids, not
    postings); at 100 TB it is the same range-partitioned rank the
    suffix-array lane already runs, and everything after it is
    checkpoint-grain. The zipf sibling (zipf_slope_fit) reads term
    frequencies; this reads vocabulary growth — together they are the
    two corpus-linguistics laws a data pipeline monitors."""
    name, _, _ = ensure_postings_index(spark, sf_dir)
    pst = spark.table(name).select("term", "doc_id")
    # r11 (r10 verdict task 5): the doc-rank is the one corpus-
    # cardinality stage in an otherwise index-grain query — route it
    # through the range-partitioned distributed_row_number (the
    # zipf_slope_fit precedent) instead of a single-partition global
    # window, so no stage ever holds all n_docs ids in one task.
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_row_number,
    )

    docs_r = distributed_row_number(
        pst.select("doc_id").distinct(), [F.col("doc_id").asc()], "r"
    )
    firsts = (
        pst.groupBy("term")
        .agg(F.min("doc_id").alias("fd"))
        .join(docs_r, F.col("fd") == F.col("doc_id"))
        .select(F.col("r").alias("fr"))
    )
    max_r = docs_r.agg(F.max("r").alias("mr"))
    ckpt = docs_r.crossJoin(F.broadcast(max_r)).where(
        (F.expr("(r & (r - 1)) = 0")) | (F.col("r") == F.col("mr"))
    ).select("r")
    pts = (
        F.broadcast(ckpt)
        .join(firsts, firsts["fr"] <= ckpt["r"])
        .groupBy("r")
        .agg(F.count(F.lit(1)).alias("v"))
        .select(
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("v").cast("double")).alias("y"),
        )
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("long").alias("n_points"),
        F.round(beta, 6).alias("beta_hat"),
        F.round(
            (F.col("sy") - beta * F.col("sx")) / F.col("n"), 6
        ).alias("log_k_hat"),
    )


@register(
    "streaming_proximity_from_positions",
    oracle=_PROX_ORACLE.replace(
        "{tokens}", "regexp_split_to_array(trim(text), '\\s+')"
    )
    .replace("{a}", _PHRASE[0])
    .replace("{b}", _PHRASE[1]),
    tags=("streaming", "retrieval", "proximity", "positional", "index"),
    bench=True,  # r11: warm streamed store → tracks QUERY cost, not ingest
)
def streaming_proximity_from_positions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Proximity (NEAR/3) retrieval served from the STREAM-MAINTAINED
    positional sidecar — the proximity leg of the stream≡batch
    equivalence family (same oracle as proximity_match_from_index):
    with phrase covered by streaming_phrase_from_positions, this closes
    the full positional query class over the streamed store, so a
    pipeline appending documents micro-batch by micro-batch serves
    BOTH positional operators with no batch rebuild. Identical window
    arithmetic to the batch twin; only the store differs."""
    _, pos_store = _run_stream_postings(spark, sf_dir)
    pst = spark.read.parquet(pos_store)
    pa = pst.where(
        (F.col("bkt") == _pst_bucket_of(_PHRASE[0]))
        & (F.col("term") == _PHRASE[0])
    ).select("doc_id", F.col("positions").alias("pa"))
    pb = pst.where(
        (F.col("bkt") == _pst_bucket_of(_PHRASE[1]))
        & (F.col("term") == _PHRASE[1])
    ).select("doc_id", F.col("positions").alias("pb"))
    pairs_in_window = F.aggregate(
        F.col("pa"),
        F.struct(
            F.lit(0).cast("long").alias("n"),
            F.lit(None).cast("long").alias("mind"),
        ),
        lambda acc, x: F.struct(
            (
                acc["n"]
                + F.size(
                    F.filter(
                        F.col("pb"),
                        lambda y: F.abs(x - y) <= _PROX_WINDOW,
                    )
                )
            ).alias("n"),
            F.least(
                F.coalesce(acc["mind"], F.lit(1 << 60)),
                F.coalesce(
                    F.array_min(
                        F.transform(
                            F.filter(
                                F.col("pb"),
                                lambda y: F.abs(x - y)
                                <= _PROX_WINDOW,
                            ),
                            lambda y: F.abs(x - y).cast("long"),
                        )
                    ),
                    F.lit(1 << 60),
                ),
            ).alias("mind"),
        ),
    )
    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    cand = (
        pa.join(pb, "doc_id")
        .withColumn("agg", pairs_in_window)
        .where(F.col("agg.n") > 0)
        .select(
            "doc_id",
            F.col("agg.n").alias("n_windows"),
            F.col("agg.mind").alias("min_dist"),
        )
        .join(meta, "doc_id")
    )
    return cand.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_matching"),
        F.sum("n_windows").alias("total_windows"),
        F.min("min_dist").alias("closest"),
    )


# ---------------------------------------------------------------------------
# Lexicon probing: prefix search and 1-edit spelling variants — the
# search-engine features a term dictionary serves beside ranked retrieval
# ---------------------------------------------------------------------------

_PFX = "s"  # query prefix (fixture vocabulary: scan/sort/spark/...)
_PFX_TOP = 10

_PREFIX_ORACLE = f"""
WITH tf AS (
    SELECT term, doc_id, count(*)::BIGINT AS tf
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    )
    GROUP BY term, doc_id
)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
FROM tf
WHERE term LIKE '{_PFX}%'
GROUP BY term
ORDER BY cf DESC, term ASC
LIMIT {_PFX_TOP}
"""


@register(
    "prefix_terms_from_index",
    oracle=_PREFIX_ORACLE,
    tags=("retrieval", "postings", "index", "lexicon", "store"),
    bench=True,
)
def prefix_terms_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Prefix search over the term DICTIONARY (autocomplete's data
    layer): top terms matching a literal prefix by collection
    frequency, with df, answered from the postings store. The prefix
    predicate pushes to the parquet scan as a StartsWith filter —
    row-group term ranges skip non-matching buckets' sorted runs — but
    it cannot bucket-prune (buckets key on the FULL term hash; a
    dictionary-ordered secondary structure is what a production engine
    adds for dense prefix workloads — the standard FST/terms-dict
    layer, out of scope for a postings table). Term-grain work only;
    the corpus is never read."""
    name, _, _ = ensure_postings_index(spark, sf_dir)
    return (
        spark.table(name)
        .where(F.col("term").startswith(_PFX))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
        )
        .orderBy(F.col("cf").desc(), F.col("term").asc())
        .limit(_PFX_TOP)
    )


_SPELL_Q = "windwo"  # a misspelling of the fixture term 'window'
_SPELL_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _edit1_variants(w: str) -> list[str]:
    """All distinct edit-distance-1 variants of w (deletes, transposes,
    replaces, inserts) — the Norvig candidate generator; the LEXICON
    probe set, built driver-side (bounded: ~54·|w|+25 strings)."""
    splits = [(w[:i], w[i:]) for i in range(len(w) + 1)]
    deletes = [a + b[1:] for a, b in splits if b]
    transposes = [a + b[1] + b[0] + b[2:] for a, b in splits if len(b) > 1]
    replaces = [a + c + b[1:] for a, b in splits if b for c in _SPELL_ALPHA]
    inserts = [a + c + b for a, b in splits for c in _SPELL_ALPHA]
    return sorted(set(deletes + transposes + replaces + inserts) - {w})


def _spell_oracle() -> str:
    variants = ", ".join(f"'{v}'" for v in _edit1_variants(_SPELL_Q))
    return f"""
WITH tf AS (
    SELECT term, doc_id, count(*)::BIGINT AS tf
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    )
    GROUP BY term, doc_id
)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
FROM tf
WHERE term IN ({variants})
GROUP BY term
ORDER BY cf DESC, term ASC
"""


@register(
    "spelling_variants_from_index",
    oracle=_spell_oracle(),
    tags=("retrieval", "postings", "index", "lexicon", "spell", "store"),
    bench=True,
)
def spelling_variants_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spell correction's candidate lookup (the Norvig generator over a
    real dictionary): every edit-distance-1 variant of the misspelled
    query is generated DRIVER-SIDE (bounded: ~54·|w|+25 strings) and
    probed against the postings store as one IN-list — which both
    bucket-prunes AND pushes to the parquet scan, so the lexicon ranks
    existing variants by collection frequency without reading anything
    else. This is dictionary-as-index: the same store that serves
    ranked retrieval answers 'did you mean' — no separate speller
    artifact. At 100 TB the probe cost is |variants| point lookups in
    term-sorted buckets, independent of corpus size."""
    name, _, _ = ensure_postings_index(spark, sf_dir)
    variants = _edit1_variants(_SPELL_Q)
    return (
        spark.table(name)
        .where(F.col("term").isin(*variants))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
        )
        .orderBy(F.col("cf").desc(), F.col("term").asc())
    )


# ---------------------------------------------------------------------------
# Snippet selection (hit highlighting) from the positional sidecar — the
# other classic positional-index consumer beside phrase/proximity
# ---------------------------------------------------------------------------

_SNIP_W = 10  # snippet window width in tokens
_SNIP_DOCS = 3  # how many top-ranked docs get snippets


def _snippet_oracle() -> str:
    q_in = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    return f"""
WITH tf AS (
    SELECT term, doc_id, count(*)::BIGINT AS tf, min(dl) AS dl
    FROM (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+')) AS dl,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    )
    GROUP BY term, doc_id
),
stats AS (
    SELECT count(*)::DOUBLE AS n_docs,
           avg(len(regexp_split_to_array(trim(text), '\\s+'))) AS avgdl
    FROM documents
),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
scored AS (
    SELECT t.doc_id,
           sum(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
               * (t.tf * {_K1 + 1}) / (t.tf + {_K1} * (1 - {_B}
                   + {_B} * t.dl / s.avgdl))) AS bm25_raw
    FROM tf t JOIN dfs f ON f.term = t.term CROSS JOIN stats s
    WHERE t.term IN ({q_in})
    GROUP BY t.doc_id
),
top_docs AS (
    SELECT doc_id,
           row_number() OVER (
               ORDER BY round(bm25_raw, 6) DESC, doc_id ASC
           ) AS rnk
    FROM scored
    ORDER BY round(bm25_raw, 6) DESC, doc_id ASC
    LIMIT {_SNIP_DOCS}
),
hits AS (
    SELECT d.doc_id, d.rnk, p AS pos
    FROM top_docs d
    JOIN (
        SELECT doc_id, i AS p, t[i] AS term
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ), UNNEST(range(1, len(t) + 1)) AS r(i)
        WHERE t[i] IN ({q_in})
    ) h ON h.doc_id = d.doc_id
),
windows AS (
    SELECT a.doc_id, a.rnk, a.pos AS win_start,
           count(*)::BIGINT AS n_hits
    FROM hits a JOIN hits b
      ON b.doc_id = a.doc_id
     AND b.pos >= a.pos AND b.pos < a.pos + {_SNIP_W}
    GROUP BY a.doc_id, a.rnk, a.pos
),
best AS (
    SELECT doc_id, rnk, win_start, n_hits,
           row_number() OVER (
               PARTITION BY doc_id
               ORDER BY n_hits DESC, win_start ASC
           ) AS b
    FROM windows
)
SELECT doc_id, rnk::BIGINT AS rnk, win_start::BIGINT AS win_start,
       n_hits
FROM best WHERE b = 1
ORDER BY rnk
"""


@register(
    "snippet_windows_from_index",
    oracle=_snippet_oracle(),
    tags=("retrieval", "positional", "snippet", "index", "store"),
    bench=True,
)
def snippet_windows_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snippet selection / hit highlighting — for each of the BM25
    top-3 documents, the best {W}-token window (most query-term hits;
    ties to the earliest start, anchored at hit positions — the
    standard highlighter recipe): retrieval is bm25_topk_from_index's
    plan, and the hit positions come from the POSITIONAL sidecar
    pruned by BOTH a query-term IN-list (bucket-pruned) and the 3
    winning doc ids (bounded collect — the rm3 pushed-IN-list
    convention), so no document text is ever tokenized for display
    logic; the window argmax is a per-doc array expression over the
    merged position list (≤ dl values). This and phrase/proximity are
    the two consumers that justify the Lucene frequency/position file
    split the sidecar implements. Corpus cost: one index lookup; the
    highlighting itself touches 3 rows."""
    name, n_docs, avgdl = ensure_postings_index(spark, sf_dir)
    scored = (
        spark.table(name)
        .where(F.col("term").isin(*QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.sum(_bm25_term_score(n_docs, avgdl)).alias("bm25_raw"))
    )
    w_r = Window.orderBy(
        F.round("bm25_raw", 6).desc(), F.col("doc_id").asc()
    )
    top = (
        scored.orderBy(F.round("bm25_raw", 6).desc(), F.col("doc_id").asc())
        .limit(_SNIP_DOCS)
        .withColumn("rnk", F.row_number().over(w_r).cast("long"))
        .select("doc_id", "rnk")
    )
    # bounded: _SNIP_DOCS ids — pushed into the positional scan
    ids = {r["doc_id"]: r["rnk"] for r in top.collect()}
    pos_name = ensure_positional_index(spark, sf_dir)
    merged = (
        spark.table(pos_name)
        .where(F.col("term").isin(*QUERY_TERMS))
        .where(F.col("doc_id").isin(*ids.keys()))
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.flatten(F.collect_list("positions"))
            ).alias("ps")
        )
    )
    n_in_win = lambda s: F.size(  # noqa: E731
        F.filter(
            F.col("ps"), lambda q: (q >= s) & (q < s + _SNIP_W)
        )
    ).cast("long")
    best_n = F.array_max(
        F.transform(F.col("ps"), lambda p: n_in_win(p))
    )
    win_start = F.array_min(
        F.filter(F.col("ps"), lambda p: n_in_win(p) == F.col("best"))
    ).cast("long")
    rnk_map = F.create_map(
        *[F.lit(x) for kv in ids.items() for x in kv]
    )
    return (
        merged.withColumn("best", best_n)
        .select(
            "doc_id",
            rnk_map[F.col("doc_id")].cast("long").alias("rnk"),
            win_start.alias("win_start"),
            F.col("best").alias("n_hits"),
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# Late-interaction retrieval (r10 verdict task 8): ColBERT-style MaxSim
# scored entirely from the postings store with deterministic char-trigram
# hash embeddings per TOKEN — soft lexical matching (morphological
# variants score high) without a neural model, SQL-replayable end to end
# ---------------------------------------------------------------------------

_CB_DIM = 32  # token-embedding buckets (char 3-grams + whole-term feature)
_CB_TOP = 10


def _cb_gram_hashes(term_col):
    """md5-bucket hashes of a term's features: the whole term plus its
    character trigrams (FastText-style subword units) — a term of < 3
    chars still embeds via the whole-term feature, so norms are never
    zero. Portable to DuckDB verbatim (same md5 → 15-hex → mod)."""
    L = F.length(term_col)
    grams = F.concat(
        F.array(term_col),
        F.when(
            L >= 3,
            F.transform(
                F.sequence(F.lit(1), L - 2),
                lambda i: term_col.substr(i, F.lit(3)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return F.transform(grams, lambda g: TX.md5_long(g) % _CB_DIM)


def _cb_unit_frame(df: DataFrame) -> DataFrame:
    """Append ``u`` = L2-normalized _CB_DIM-dim count vector of the
    term's feature hashes. Staged selects so CollapseProject keeps the
    hash list and count vector materialized (the hash_embed_knn rule)
    instead of re-inlining the md5 pass _CB_DIM times."""
    hashed = df.select(
        "*", _cb_gram_hashes(F.col("term")).alias("hl")
    )
    counted = hashed.select(
        "*",
        F.transform(
            F.sequence(F.lit(0), F.lit(_CB_DIM - 1)),
            lambda j: F.size(F.filter("hl", lambda h: h == j)).cast(
                "double"
            ),
        ).alias("c"),
    ).drop("hl")
    # counts are small integers: the sum of their squares is exact in
    # doubles under ANY accumulation order, so the norm is engine-
    # portable even though DuckDB's list_sum may not fold sequentially
    norm = F.sqrt(
        F.aggregate("c", F.lit(0.0), lambda a, x: a + x * x)
    )
    return counted.select(
        "*", F.transform("c", lambda x: x / norm).alias("u")
    ).drop("c")


def _cb_embed_sql(src: str) -> str:
    """The DuckDB twin of _cb_gram_hashes + _cb_unit_frame over a
    relation ``src(term)`` — returns SQL producing (term, u)."""
    return f"""
    SELECT term,
           list_transform(c, x -> x / sqrt(
               list_sum(list_transform(c, y -> y * y)))) AS u
    FROM (
        SELECT term,
               list_transform(generate_series(0, {_CB_DIM - 1}),
                   j -> len(list_filter(hl, h -> h = j))::DOUBLE) AS c
        FROM (
            SELECT term,
                   list_transform(
                       list_concat([term],
                           CASE WHEN len(term) >= 3
                                THEN list_transform(
                                    generate_series(1, len(term) - 2),
                                    i -> substr(term, i, 3))
                                ELSE [] END),
                       g -> ('0x' || substr(md5(g), 1, 15))::BIGINT
                            % {_CB_DIM}) AS hl
            FROM {src}
        )
    )
    """


_CB_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
    FROM documents
),
tfd AS (SELECT DISTINCT term, doc_id FROM toks),
qterms AS (
    SELECT * FROM (VALUES {", ".join(
        f"({i + 1}, '{t}')" for i, t in enumerate(QUERY_TERMS)
    )}) AS q(qi, term)
),
allterms AS (
    SELECT DISTINCT term FROM tfd
    UNION SELECT term FROM qterms
),
unitv AS ({_cb_embed_sql("allterms")}),
sims AS (
    SELECT v.term, q.qi,
           list_sum(list_transform(generate_series(1, {_CB_DIM}),
               j -> v.u[j] * uq.u[j])) AS sim
    FROM unitv v
    CROSS JOIN qterms q
    JOIN unitv uq ON uq.term = q.term
),
doc_max AS (
    SELECT t.doc_id,
           max(CASE WHEN s.qi = 1 THEN s.sim END) AS m1,
           max(CASE WHEN s.qi = 2 THEN s.sim END) AS m2,
           max(CASE WHEN s.qi = 3 THEN s.sim END) AS m3
    FROM tfd t JOIN sims s ON s.term = t.term
    GROUP BY t.doc_id
)
SELECT doc_id, round(m1 + m2 + m3, 6) AS maxsim
FROM doc_max
ORDER BY round(m1 + m2 + m3, 6) DESC, doc_id ASC
LIMIT {_CB_TOP}
"""


@register(
    "colbert_maxsim_from_index",
    oracle=_CB_ORACLE,
    tags=("retrieval", "index", "store", "late-interaction", "maxsim"),
    bench=True,
)
def colbert_maxsim_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Late-interaction retrieval (ColBERT's MaxSim, Khattab &
    Zaharia 2020) over the postings store: score(q, d) =
    Σ_i max_{t ∈ d} cos(E(q_i), E(t)), with E a deterministic
    char-trigram hash embedding per TOKEN — the soft-matching scorer
    that ranks morphological variants (the ``_v2`` spelling drift, or
    shared-stem terms) high where BM25's exact term match scores zero.
    No corpus tokenize: document token SETS come from the (term,
    doc_id) posting rows, and token embeddings are computed once per
    LEXICON entry, not per occurrence.

    Plan shape at 100 TB: (1) vocab-grain embedding + 3 dot products —
    ∝ |lexicon|, not corpus; (2) ONE index-grain join postings ⋈ sims
    on term — both sides derive from the term-bucketed store, so the
    join co-locates without a shuffle; (3) one doc-grain agg whose
    partial max compresses each doc to 3 doubles map-side; (4)
    TakeOrdered top-k. Late interaction's honest cost is touching
    every posting once — the production pruning path (per-query-token
    centroid buckets over the lexicon embedding space, the PLAID
    refinement) drops lexicon terms whose sim is dominated, and slots
    into step (1) without changing (2)-(4). Query embeddings are a
    3-row collect inlined as literals (the plan-literal rule)."""
    tf_name, _, _ = ensure_postings_index(spark, sf_dir)
    tf = spark.table(tf_name).select("term", "doc_id")
    qdf = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(QUERY_TERMS)],
        "qi int, term string",
    )
    qu = {
        r["qi"]: list(r["u"])
        for r in _cb_unit_frame(qdf).collect()
    }

    def dot(qvec) -> "Column":
        return F.aggregate(
            F.zip_with(
                "u",
                F.array(*[F.lit(float(x)) for x in qvec]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    sims = _cb_unit_frame(tf.select("term").distinct()).select(
        "term", *[dot(qu[i]).alias(f"s{i}") for i in sorted(qu)]
    )
    scores = (
        tf.join(sims, "term")
        .groupBy("doc_id")
        .agg(
            (F.max("s1") + F.max("s2") + F.max("s3")).alias("raw")
        )
    )
    return (
        scores.select(
            "doc_id", F.round("raw", 6).alias("maxsim")
        )
        .orderBy(F.col("maxsim").desc(), F.col("doc_id").asc())
        .limit(_CB_TOP)
    )


# ---------------------------------------------------------------------------
# SPLADE-style sparse expansion (the learned-sparse sibling of MaxSim):
# each query token expands into trigram-similar lexicon terms, and the
# expanded weighted term set scores documents THROUGH the postings store
# ---------------------------------------------------------------------------

_SPL_TAU = 0.4  # minimum trigram-cosine for a lexicon term to enter the expansion
_SPL_TOP = 10


_SPL_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
    FROM documents
),
tf AS (
    SELECT term, doc_id, count(*)::BIGINT AS tf
    FROM toks GROUP BY term, doc_id
),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM toks),
qterms AS (
    SELECT * FROM (VALUES {", ".join(
        f"({i + 1}, '{t}')" for i, t in enumerate(QUERY_TERMS)
    )}) AS q(qi, term)
),
hv AS (
    SELECT term,
           list_transform(
               list_concat([term],
                   CASE WHEN len(term) >= 3
                        THEN list_transform(
                            generate_series(1, len(term) - 2),
                            i -> substr(term, i, 3))
                        ELSE [] END),
               g -> ('0x' || substr(md5(g), 1, 15))::BIGINT
                    % {_CB_DIM}) AS hl
    FROM dfs
),
vecs AS (
    SELECT term, hl,
           sqrt(list_sum(list_transform(hl,
               h -> len(list_filter(hl, x -> x = h))::DOUBLE))) AS nrm
    FROM hv
),
qv AS ({{embed}}),
sims AS (
    SELECT v.term,
           max(round(
               list_sum(list_transform(v.hl, h -> uq.u[h + 1]))
                   / v.nrm, 6)) AS w_q
    FROM vecs v
    CROSS JOIN qterms q
    JOIN qv uq ON uq.term = q.term
    GROUP BY v.term
),
expansion AS (
    SELECT s.term, s.w_q, ln(n.n / d.df) AS idf
    FROM sims s JOIN dfs d ON d.term = s.term CROSS JOIN nd n
    WHERE s.w_q >= {_SPL_TAU}
),
scored AS (
    SELECT t.doc_id,
           sum(e.w_q * e.idf * ln(1 + t.tf)) AS raw,
           count(*)::BIGINT AS n_terms_hit
    FROM tf t JOIN expansion e ON e.term = t.term
    GROUP BY t.doc_id
)
SELECT doc_id, round(raw, 6) AS splade, n_terms_hit
FROM scored
ORDER BY round(raw, 6) DESC, doc_id ASC
LIMIT {_SPL_TOP}
"""


def _gram_hashes(t: str) -> tuple[list[int], float]:
    """A lexicon term's gram-hash list (whole term, then its trigrams)
    and the exact integer norm of its count vector."""
    grams = [t] + (
        [t[i : i + 3] for i in range(len(t) - 2)] if len(t) >= 3 else []
    )
    hl = [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % _CB_DIM
        for g in grams
    ]
    nrm = math.sqrt(float(sum(v * v for v in Counter(hl).values())))
    return hl, nrm


def _trigram_sims(
    t: str, qvecs: dict[int, list[float]]
) -> list[tuple[int, float]]:
    """Per-lexicon-term query sims for the Arrow sweeps — ONE source of
    truth for the arithmetic contract shared by the SPLADE, PLAID and
    trihybrid lanes (hl order = whole term then trigrams, sequential
    float sum, exact integer norm, positive-domain half-away 6dp round;
    see splade_expansion_from_index's docstring). Worker-side: called
    per term inside mapInPandas batches."""
    hl, nrm = _gram_hashes(t)
    # positive-domain half-away-from-zero 6dp — F.round / DuckDB round
    # semantics, NOT banker's
    return [
        (qi, math.floor((sum(map(qv.__getitem__, hl)) / nrm) * 1e6 + 0.5) / 1e6)
        for qi, qv in qvecs.items()
    ]


def _trihybrid_sweep_batch(terms, qvecs: dict[int, list[float]]):
    """One batch of trihybrid_rrf_from_index's shared lexicon sweep: the
    batch-local per-qi top-m (sim desc, term asc) plus one qi=0 row per
    τ-qualified term carrying the SPLADE expansion weight."""
    import pandas as pd

    rows: list[tuple] = []
    tau_rows: list[tuple] = []
    for t in terms:
        sims = _trigram_sims(t, qvecs)
        rows.extend((t, qi, s) for qi, s in sims)
        best = max(s for _, s in sims)
        if best >= _SPL_TAU:
            # qi=0 is disjoint from the PLAID candidate rows' qi in 1..3
            tau_rows.append((t, 0, best))
    # explicit dtypes: an empty frame then concatenates without a dtype
    # change (pandas deprecates the implicit one)
    cols, dtypes = ["term", "qi", "sim"], {"qi": "int32", "sim": "float64"}
    topm = (
        pd.DataFrame(rows, columns=cols)
        .astype(dtypes)
        .sort_values(["qi", "sim", "term"], ascending=[True, False, True])
        .groupby("qi", sort=False)
        .head(_PLAID_M)
    )
    return pd.concat([topm, pd.DataFrame(tau_rows, columns=cols).astype(dtypes)])


@register(
    "splade_expansion_from_index",
    oracle=_SPL_ORACLE.replace(
        "{embed}", _cb_embed_sql("(SELECT term FROM qterms)")
    ),
    tags=("retrieval", "index", "store", "sparse", "expansion"),
    bench=True,
)
def splade_expansion_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPLADE-style sparse retrieval (Formal et al. 2021) with a
    deterministic expansion model: each query token expands into every
    LEXICON term whose char-trigram embedding cosine is ≥ τ — the
    morphology-aware recall net a learned sparse encoder provides,
    stood in by the same subword hash embeddings as
    colbert_maxsim_from_index — and the expanded weighted term set
    scores documents ENTIRELY through the postings store:
    score(d) = Σ_t w_q(t) · idf(t) · ln(1 + tf(t, d)), with
    w_q(t) = max_i cos(E(q_i), E(t)). Where MaxSim touches every
    posting (late interaction), the expansion lane touches ONLY the
    expanded terms' posting rows — the classic inverted-index win that
    makes learned-sparse retrieval deployable.

    Plan shape at 100 TB: vocab-grain sims (∝ lexicon) → a FILTERED
    expansion table, bounded by the sim threshold, broadcast into the
    postings join — the τ-filter is what keeps the probe set small, so
    the single index-grain stage reads only the expansion terms' rows
    (the store's term-bucketed layout turns the broadcast-hash probe
    into a per-bucket stream); then one doc-grain agg with map-side
    partial sums and TakeOrdered top-k. df/idf ride the posting rows
    (denormalized df column); N comes from the stats sidecar — no
    corpus scan anywhere.

    Arithmetic contract: the lexicon-side cosine is evaluated as a fold
    over the term's gram-hash list — Σ_{h∈hl} u_q[h] equals the dot
    c·u_q because the query vector is indexed once per occurrence — and
    the norm as Σ_{h∈hl} multiplicity(h) (exact-in-doubles integer
    sums). This keeps the per-row expression |hl|-sized: the τ-filter's
    predicate pushdown SUBSTITUTES the whole sim expression through the
    staged projections, and the j-indexed _CB_DIM-wide form re-inlines
    the md5 chain ~200× per lexicon row under that substitution
    (measured: the zipf vocabulary ran minutes instead of seconds).
    Per-(term, qi) sims are rounded to 6dp BEFORE the τ compare and the
    max, so both engines feed bit-identical weights into the score."""
    tf_name, n_docs, _ = ensure_postings_index(spark, sf_dir)
    pst = spark.table(tf_name).select("term", "doc_id", "tf", "df")
    qdf = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(QUERY_TERMS)],
        "qi int, term string",
    )
    qu = {
        r["qi"]: list(r["u"]) for r in _cb_unit_frame(qdf).collect()
    }
    # Arrow lane for the lexicon sweep (the r8 cutover rule: a
    # vocab-grain numeric score behind an interpreted higher-order fold
    # ran 36s on the 50k-type zipf lexicon — C-speed md5 + float sums
    # run it in ~1s; spinup-bounded at fixture vocab). Arithmetic is
    # bit-matching the docstring contract: hl order = whole term then
    # trigrams, sequential sum, exact integer norm, half-away 6dp round.
    qvecs = {i: qu[i] for i in sorted(qu)}

    def weigh(batches):
        import pandas as pd

        for pdf in batches:
            out_t: list = []
            out_w: list = []
            for t in pdf["term"]:
                best = max(s for _, s in _trigram_sims(t, qvecs))
                if best >= _SPL_TAU:
                    out_t.append(t)
                    out_w.append(best)
            yield pd.DataFrame({"term": out_t, "w_q": out_w})

    expansion = (
        pst.select("term")
        .distinct()
        .mapInPandas(weigh, schema="term string, w_q double")
    )
    scored = (
        pst.join(F.broadcast(expansion), "term")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("w_q")
                * F.log(F.lit(float(n_docs)) / F.col("df"))
                * F.log(F.lit(1.0) + F.col("tf"))
            ).alias("raw"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return (
        scored.select(
            "doc_id",
            F.round("raw", 6).alias("splade"),
            "n_terms_hit",
        )
        .orderBy(F.col("splade").desc(), F.col("doc_id").asc())
        .limit(_SPL_TOP)
    )


# ---------------------------------------------------------------------------
# PLAID-style pruned MaxSim: the production pruning path for the
# late-interaction lane — per-query-token top-m lexicon terms by sim,
# scored through ONLY those terms' posting rows (bucket-pruned IN-list)
# ---------------------------------------------------------------------------

_PLAID_M = 32  # lexicon terms kept per query token


_PLAID_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
    FROM documents
),
tfd AS (SELECT DISTINCT term, doc_id FROM toks),
dfs AS (SELECT DISTINCT term FROM tfd),
qterms AS (
    SELECT * FROM (VALUES {", ".join(
        f"({i + 1}, '{t}')" for i, t in enumerate(QUERY_TERMS)
    )}) AS q(qi, term)
),
hv AS (
    SELECT term,
           list_transform(
               list_concat([term],
                   CASE WHEN len(term) >= 3
                        THEN list_transform(
                            generate_series(1, len(term) - 2),
                            i -> substr(term, i, 3))
                        ELSE [] END),
               g -> ('0x' || substr(md5(g), 1, 15))::BIGINT
                    % {_CB_DIM}) AS hl
    FROM dfs
),
vecs AS (
    SELECT term, hl,
           sqrt(list_sum(list_transform(hl,
               h -> len(list_filter(hl, x -> x = h))::DOUBLE))) AS nrm
    FROM hv
),
qv AS ({{embed}}),
sims AS (
    SELECT v.term, q.qi,
           round(list_sum(list_transform(v.hl, h -> uq.u[h + 1]))
                 / v.nrm, 6) AS sim
    FROM vecs v
    CROSS JOIN qterms q
    JOIN qv uq ON uq.term = q.term
),
kept AS (
    SELECT term, qi, sim FROM (
        SELECT term, qi, sim,
               row_number() OVER (
                   PARTITION BY qi ORDER BY sim DESC, term ASC
               ) AS rn
        FROM sims
    ) WHERE rn <= {_PLAID_M}
),
hits AS (
    SELECT t.doc_id, k.qi, max(k.sim) AS m
    FROM tfd t JOIN kept k ON k.term = t.term
    GROUP BY t.doc_id, k.qi
),
doc AS (
    SELECT doc_id,
           coalesce(max(CASE WHEN qi = 1 THEN m END), 0)
         + coalesce(max(CASE WHEN qi = 2 THEN m END), 0)
         + coalesce(max(CASE WHEN qi = 3 THEN m END), 0) AS raw
    FROM hits GROUP BY doc_id
)
SELECT doc_id, round(raw, 6) AS plaid
FROM doc
ORDER BY round(raw, 6) DESC, doc_id ASC
LIMIT {_CB_TOP}
"""


@register(
    "plaid_pruned_maxsim_topk",
    oracle=_PLAID_ORACLE.replace(
        "{embed}", _cb_embed_sql("(SELECT term FROM qterms)")
    ),
    tags=("retrieval", "index", "store", "late-interaction", "pruned"),
    bench=True,
)
def plaid_pruned_maxsim_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRUNED late-interaction path (PLAID, Santhanam et al. 2022,
    re-expressed for the lexical-hash embedding space): instead of
    MaxSim over every posting (colbert_maxsim_from_index's honest
    exact cost), each query token keeps only its top-m lexicon terms
    by embedding sim; absent tokens contribute 0 to the doc score.

    The pruning is where the scale win lives: the kept set is
    3·m rows COLLECTED to the driver (bounded by construction — the
    plan-literal rule) and pushed into the postings scan as a term
    IN-list, so the term-bucketed store prunes buckets at planning
    time and only kept terms' posting rows are ever READ — the same
    I/O class as a 96-term boolean query, independent of corpus size.
    The lexicon sweep reuses the SPLADE Arrow lane with BATCH-LOCAL
    top-m pre-pruning (a batch's top-m superset-contains the global
    top-m members in that batch), so the final exact top-m window
    orders 3·m·n_batches rows, never the lexicon. Per-(term, qi) sims
    round to 6dp before ranking — kept-set membership is engine-exact
    (ties broken by term); the doc score is an explicit m1+m2+m3 sum
    of per-token maxes."""
    tf_name, _, _ = ensure_postings_index(spark, sf_dir)
    pst = spark.table(tf_name).select("term", "doc_id")
    qdf = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(QUERY_TERMS)],
        "qi int, term string",
    )
    qu = {
        r["qi"]: list(r["u"]) for r in _cb_unit_frame(qdf).collect()
    }
    qvecs = {i: qu[i] for i in sorted(qu)}

    def sims_topm(batches):
        import pandas as pd

        for pdf in batches:
            rows: list[tuple] = []
            for t in pdf["term"]:
                for qi, s in _trigram_sims(t, qvecs):
                    rows.append((t, qi, s))
            df = pd.DataFrame(
                rows, columns=["term", "qi", "sim"]
            )
            # batch-local prune: global top-m members of this batch
            # all survive (sim desc, term asc within qi)
            df = (
                df.sort_values(
                    ["qi", "sim", "term"],
                    ascending=[True, False, True],
                )
                .groupby("qi", sort=False)
                .head(_PLAID_M)
            )
            yield df

    pruned = (
        pst.select("term")
        .distinct()
        .mapInPandas(
            sims_topm, schema="term string, qi int, sim double"
        )
    )
    w = Window.partitionBy("qi").orderBy(
        F.col("sim").desc(), F.col("term").asc()
    )
    kept_rows = (
        pruned.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _PLAID_M)
        .select("term", "qi", "sim")
        .collect()
    )
    kept_terms = sorted({r["term"] for r in kept_rows})
    kept = spark.createDataFrame(
        [(r["term"], r["qi"], r["sim"]) for r in kept_rows],
        "term string, qi int, sim double",
    )
    hits = (
        pst.where(F.col("term").isin(*kept_terms))
        .join(F.broadcast(kept), "term")
        .groupBy("doc_id")
        .agg(
            *[
                F.max(
                    F.when(F.col("qi") == i, F.col("sim"))
                ).alias(f"m{i}")
                for i in sorted(qvecs)
            ]
        )
    )
    raw = (
        F.coalesce("m1", F.lit(0.0))
        + F.coalesce("m2", F.lit(0.0))
        + F.coalesce("m3", F.lit(0.0))
    )
    return (
        hits.select(
            "doc_id", F.round(raw, 6).alias("plaid")
        )
        .orderBy(F.col("plaid").desc(), F.col("doc_id").asc())
        .limit(_CB_TOP)
    )


_PLAID_AUDIT_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
    FROM documents
),
tfd AS (SELECT DISTINCT term, doc_id FROM toks),
dfs AS (SELECT DISTINCT term FROM tfd),
qterms AS (
    SELECT * FROM (VALUES {", ".join(
        f"({i + 1}, '{t}')" for i, t in enumerate(QUERY_TERMS)
    )}) AS q(qi, term)
),
hv AS (
    SELECT term,
           list_transform(
               list_concat([term],
                   CASE WHEN len(term) >= 3
                        THEN list_transform(
                            generate_series(1, len(term) - 2),
                            i -> substr(term, i, 3))
                        ELSE [] END),
               g -> ('0x' || substr(md5(g), 1, 15))::BIGINT
                    % {_CB_DIM}) AS hl
    FROM dfs
),
vecs AS (
    SELECT term, hl,
           sqrt(list_sum(list_transform(hl,
               h -> len(list_filter(hl, x -> x = h))::DOUBLE))) AS nrm
    FROM hv
),
qv AS ({{embed}}),
sims AS (
    SELECT v.term, q.qi,
           round(list_sum(list_transform(v.hl, h -> uq.u[h + 1]))
                 / v.nrm, 6) AS sim
    FROM vecs v
    CROSS JOIN qterms q
    JOIN qv uq ON uq.term = q.term
),
exact_doc AS (
    SELECT t.doc_id,
           max(CASE WHEN s.qi = 1 THEN s.sim END)
         + max(CASE WHEN s.qi = 2 THEN s.sim END)
         + max(CASE WHEN s.qi = 3 THEN s.sim END) AS raw
    FROM tfd t JOIN sims s ON s.term = t.term
    GROUP BY t.doc_id
),
exact_top AS (
    SELECT doc_id FROM exact_doc
    ORDER BY round(raw, 6) DESC, doc_id ASC LIMIT {_CB_TOP}
),
kept AS (
    SELECT term, qi, sim FROM (
        SELECT term, qi, sim,
               row_number() OVER (
                   PARTITION BY qi ORDER BY sim DESC, term ASC
               ) AS rn
        FROM sims
    ) WHERE rn <= {_PLAID_M}
),
plaid_doc AS (
    SELECT t.doc_id,
           coalesce(max(CASE WHEN k.qi = 1 THEN k.sim END), 0)
         + coalesce(max(CASE WHEN k.qi = 2 THEN k.sim END), 0)
         + coalesce(max(CASE WHEN k.qi = 3 THEN k.sim END), 0) AS raw
    FROM tfd t JOIN kept k ON k.term = t.term
    GROUP BY t.doc_id
),
plaid_top AS (
    SELECT doc_id FROM plaid_doc
    ORDER BY round(raw, 6) DESC, doc_id ASC LIMIT {_CB_TOP}
)
SELECT {_CB_TOP}::BIGINT AS k,
       count(*)::BIGINT AS n_overlap,
       round(count(*) / {_CB_TOP}.0, 6) AS recall_at_k
FROM exact_top e JOIN plaid_top p USING (doc_id)
"""


@register(
    "plaid_recall_audit",
    oracle=_PLAID_AUDIT_ORACLE.replace(
        "{embed}", _cb_embed_sql("(SELECT term FROM qterms)")
    ),
    tags=("retrieval", "index", "late-interaction", "audit", "recall"),
)
def plaid_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap@k of the PLAID-pruned MaxSim against the UNPRUNED
    MaxSim under the same rounded-sim contract — the late-interaction
    member of the recall-audit family (ann_lsh_recall_audit,
    ivf_recall_audit, minhash_recall_precision_audit,
    matryoshka_recall_audit): the pruning knob's real-world quality is
    a hash-checked engine result, not a claim. The exact arm pays the
    full every-posting cost BY CONTRACT (it is the audit's ground
    truth); both arms rank by (6dp-rounded score, doc_id), so the
    compared sets are engine-exact."""
    tf_name, _, _ = ensure_postings_index(spark, sf_dir)
    pst = spark.table(tf_name).select("term", "doc_id")
    qdf = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(QUERY_TERMS)],
        "qi int, term string",
    )
    qu = {
        r["qi"]: list(r["u"]) for r in _cb_unit_frame(qdf).collect()
    }
    qvecs = {i: qu[i] for i in sorted(qu)}

    def sims_all(batches):
        import hashlib
        import math
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            rows: list[tuple] = []
            for t in pdf["term"]:
                grams = [t] + (
                    [t[i : i + 3] for i in range(len(t) - 2)]
                    if len(t) >= 3
                    else []
                )
                hl = [
                    int(
                        hashlib.md5(g.encode()).hexdigest()[:15], 16
                    )
                    % _CB_DIM
                    for g in grams
                ]
                c = Counter(hl)
                nrm = math.sqrt(float(sum(v * v for v in c.values())))
                rows.append(
                    tuple(
                        [t]
                        + [
                            math.floor(
                                (sum(qv[h] for h in hl) / nrm) * 1e6
                                + 0.5
                            )
                            / 1e6
                            for qv in qvecs.values()
                        ]
                    )
                )
            yield pd.DataFrame(
                rows, columns=["term", "s1", "s2", "s3"]
            )

    sims = (
        pst.select("term")
        .distinct()
        .mapInPandas(
            sims_all,
            schema="term string, s1 double, s2 double, s3 double",
        )
    )
    exact_raw = (
        F.col("m1") + F.col("m2") + F.col("m3")
    )
    exact_top = (
        pst.join(sims, "term")
        .groupBy("doc_id")
        .agg(
            *[F.max(f"s{i}").alias(f"m{i}") for i in sorted(qvecs)]
        )
        .select("doc_id", F.round(exact_raw, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(_CB_TOP)
        .select("doc_id")
    )
    pruned_top = plaid_pruned_maxsim_topk(spark, sf_dir).select(
        "doc_id"
    )
    return exact_top.join(pruned_top, "doc_id").agg(
        F.lit(_CB_TOP).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / float(_CB_TOP), 6).alias(
            "recall_at_k"
        ),
    )


# ---------------------------------------------------------------------------
# Tri-arm hybrid fusion: BM25 + SPLADE expansion + PLAID late-interaction,
# all three arms answered from the ONE postings store, fused with RRF
# ---------------------------------------------------------------------------


def _trihybrid_oracle() -> str:
    terms_sql = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    qvals = ", ".join(
        f"({i + 1}, '{t}')" for i, t in enumerate(QUERY_TERMS)
    )
    embed = _cb_embed_sql("(SELECT term FROM qterms)")
    return f"""
WITH bt AS (
    SELECT doc_id, len(tok) AS dl,
           list_filter(tok, x -> x IN ({terms_sql})) AS qtoks
    FROM (SELECT doc_id,
                 regexp_split_to_array(trim(text), '\\s+') AS tok
          FROM documents)
),
bstats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM bt),
btf AS (
    SELECT doc_id, term, count(*)::BIGINT AS tf, min(dl) AS dl
    FROM (SELECT doc_id, dl, unnest(qtoks) AS term FROM bt)
    GROUP BY doc_id, term
),
bdf AS (SELECT term, count(*)::BIGINT AS df FROM btf GROUP BY term),
bm25 AS (
    SELECT t.doc_id,
           sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (t.tf * ({_K1} + 1))
               / (t.tf + {_K1} * (1 - {_B} + {_B} * t.dl / s.avgdl)))
               AS raw
    FROM btf t JOIN bdf d USING (term) CROSS JOIN bstats s
    GROUP BY t.doc_id
),
arm_bm25 AS (
    SELECT doc_id, r FROM (
        SELECT doc_id, row_number() OVER (
            ORDER BY round(raw, 6) DESC, doc_id ASC) AS r
        FROM bm25
    ) WHERE r <= {TOP_N}
),
toks2 AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
    FROM documents
),
tfd AS (SELECT DISTINCT term, doc_id FROM toks2),
stf AS (
    SELECT term, doc_id, count(*)::BIGINT AS tf
    FROM toks2 GROUP BY term, doc_id
),
sdf AS (SELECT term, count(*)::BIGINT AS df FROM stf GROUP BY term),
nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM toks2),
dfs AS (SELECT DISTINCT term FROM tfd),
qterms AS (SELECT * FROM (VALUES {qvals}) AS q(qi, term)),
hv AS (
    SELECT term,
           list_transform(
               list_concat([term],
                   CASE WHEN len(term) >= 3
                        THEN list_transform(
                            generate_series(1, len(term) - 2),
                            i -> substr(term, i, 3))
                        ELSE [] END),
               g -> ('0x' || substr(md5(g), 1, 15))::BIGINT
                    % {_CB_DIM}) AS hl
    FROM dfs
),
vecs AS (
    SELECT term, hl,
           sqrt(list_sum(list_transform(hl,
               h -> len(list_filter(hl, x -> x = h))::DOUBLE))) AS nrm
    FROM hv
),
qv AS ({embed}),
sims AS (
    SELECT v.term, q.qi,
           round(list_sum(list_transform(v.hl, h -> uq.u[h + 1]))
                 / v.nrm, 6) AS sim
    FROM vecs v
    CROSS JOIN qterms q
    JOIN qv uq ON uq.term = q.term
),
spl AS (
    SELECT t.doc_id,
           sum(e.w_q * ln(n.n / d.df) * ln(1 + t.tf)) AS raw
    FROM stf t
    JOIN (SELECT term, max(sim) AS w_q FROM sims
          GROUP BY term HAVING max(sim) >= {_SPL_TAU}) e USING (term)
    JOIN sdf d ON d.term = t.term
    CROSS JOIN nd n
    GROUP BY t.doc_id
),
arm_spl AS (
    SELECT doc_id, r FROM (
        SELECT doc_id, row_number() OVER (
            ORDER BY round(raw, 6) DESC, doc_id ASC) AS r
        FROM spl
    ) WHERE r <= {TOP_N}
),
kept AS (
    SELECT term, qi, sim FROM (
        SELECT term, qi, sim,
               row_number() OVER (
                   PARTITION BY qi ORDER BY sim DESC, term ASC
               ) AS rn
        FROM sims
    ) WHERE rn <= {_PLAID_M}
),
plaid_doc AS (
    SELECT t.doc_id,
           coalesce(max(CASE WHEN k.qi = 1 THEN k.sim END), 0)
         + coalesce(max(CASE WHEN k.qi = 2 THEN k.sim END), 0)
         + coalesce(max(CASE WHEN k.qi = 3 THEN k.sim END), 0) AS raw
    FROM tfd t JOIN kept k ON k.term = t.term
    GROUP BY t.doc_id
),
arm_plaid AS (
    SELECT doc_id, r FROM (
        SELECT doc_id, row_number() OVER (
            ORDER BY round(raw, 6) DESC, doc_id ASC) AS r
        FROM plaid_doc
    ) WHERE r <= {TOP_N}
),
fused AS (
    SELECT doc_id,
           coalesce(1.0 / ({_RRF_K0} + b.r), 0)
         + coalesce(1.0 / ({_RRF_K0} + s.r), 0)
         + coalesce(1.0 / ({_RRF_K0} + p.r), 0) AS rrf
    FROM arm_bm25 b
    FULL JOIN arm_spl s USING (doc_id)
    FULL JOIN arm_plaid p USING (doc_id)
)
SELECT doc_id, round(rrf, 6) AS rrf_score
FROM fused
ORDER BY round(rrf, 6) DESC, doc_id ASC
LIMIT {TOP_N}
"""


@register(
    "trihybrid_rrf_from_index",
    oracle=_trihybrid_oracle(),
    tags=("retrieval", "index", "store", "hybrid", "fusion"),
    bench=True,
)
def trihybrid_rrf_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three-family rank fusion on ONE index artifact: the exact-match
    arm (BM25 over query-term postings), the learned-sparse arm
    (SPLADE-style trigram expansion), and the late-interaction arm
    (PLAID-pruned MaxSim), fused with reciprocal-rank fusion — the
    modern hybrid-retrieval stack (Cormack et al. RRF; the
    BM25+SPLADE+ColBERT ensemble of current IR practice) with every
    arm reading the same term-bucketed postings store and NO corpus
    scan anywhere. Each arm ranks its own top-{TOP_N} by
    (6dp-rounded score, doc_id) — rank positions are engine-exact —
    and fusion is a 3-way full outer join of ≤{TOP_N}-row frames.

    At 100 TB the three arms share the store's bucket pruning: BM25
    reads the query terms' buckets, SPLADE the τ-expansion's, PLAID
    the kept set's — the fusion stage itself is constant-size. The
    arms run as independent subplans (a scheduler may run them
    concurrently); only ranks cross the fusion boundary.

    r12: the SPLADE and PLAID arms share ONE lexicon sweep instead of
    each paying their own distinct-term scan + Arrow pass (the r11
    verdict task-7 item): a single mapInPandas emits, per batch, the
    union of (a) one qi=0 row per τ-qualified term carrying the SPLADE
    expansion weight (max-over-query-tokens sim) — so the expansion is
    a plain cache FILTER downstream, no re-aggregation exchange — and
    (b) the batch-local per-qi (1..3) top-m rows PLAID's exact global
    top-m window needs (a batch's top-m contains every global-top-m
    member in that batch). The sweep result (≤ 3·m·n_batches + |τ-set|
    rows) is persisted once: PLAID's bounded kept-set collect
    materializes it and the SPLADE arm reads the cache. Arm arithmetic is byte-identical to the standalone lanes —
    all three sweeps call the shared _trigram_sims contract, and each
    arm's score/round/rank tail is the standalone query's expression
    tree verbatim (oracle unchanged, hash-checked)."""
    from pyspark import StorageLevel

    tf_name, n_docs, avgdl = ensure_postings_index(spark, sf_dir)
    pst = spark.table(tf_name)
    qdf = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(QUERY_TERMS)],
        "qi int, term string",
    )
    qu = {
        r["qi"]: list(r["u"]) for r in _cb_unit_frame(qdf).collect()
    }
    qvecs = {i: qu[i] for i in sorted(qu)}

    def sweep(batches):
        for pdf in batches:
            yield _trihybrid_sweep_batch(pdf["term"], qvecs)

    cand = (
        pst.select("term")
        .distinct()
        .mapInPandas(sweep, schema="term string, qi int, sim double")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # BM25 arm — _bm25_scores_from_index's tree verbatim, minus the
    # redundant second index-freshness probe
    bm25 = (
        pst.where(F.col("term").isin(*QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.sum(_bm25_term_score(n_docs, avgdl)).alias("bm25_raw"))
        .select("doc_id", F.round("bm25_raw", 6).alias("s"))
    )

    # SPLADE arm — the sweep's qi=0 rows ARE the τ-expansion (term,
    # max-over-query-tokens sim): a cache filter, no exchange
    expansion = cand.where(F.col("qi") == 0).select(
        "term", F.col("sim").alias("w_q")
    )
    spl = (
        pst.select("term", "doc_id", "tf", "df")
        .join(F.broadcast(expansion), "term")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("w_q")
                * F.log(F.lit(float(n_docs)) / F.col("df"))
                * F.log(F.lit(1.0) + F.col("tf"))
            ).alias("raw")
        )
        .select("doc_id", F.round("raw", 6).alias("s"))
    )

    # PLAID arm — exact global top-m window over the persisted
    # candidate superset, then the standalone lane's scoring tail
    wq = Window.partitionBy("qi").orderBy(
        F.col("sim").desc(), F.col("term").asc()
    )
    kept_rows = (
        cand.where(F.col("qi") >= 1)
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= _PLAID_M)
        .select("term", "qi", "sim")
        .collect()
    )
    kept_terms = sorted({r["term"] for r in kept_rows})
    kept = spark.createDataFrame(
        [(r["term"], r["qi"], r["sim"]) for r in kept_rows],
        "term string, qi int, sim double",
    )
    hits = (
        pst.select("term", "doc_id")
        .where(F.col("term").isin(*kept_terms))
        .join(F.broadcast(kept), "term")
        .groupBy("doc_id")
        .agg(
            *[
                F.max(
                    F.when(F.col("qi") == i, F.col("sim"))
                ).alias(f"m{i}")
                for i in sorted(qvecs)
            ]
        )
    )
    plaid_raw = (
        F.coalesce("m1", F.lit(0.0))
        + F.coalesce("m2", F.lit(0.0))
        + F.coalesce("m3", F.lit(0.0))
    )
    plaid = hits.select(
        "doc_id", F.round(plaid_raw, 6).alias("s")
    )

    def rank10(df: DataFrame, name: str) -> DataFrame:
        top = df.orderBy(
            F.col("s").desc(), F.col("doc_id").asc()
        ).limit(TOP_N)
        w = Window.orderBy(F.col("s").desc(), F.col("doc_id").asc())
        return top.withColumn(name, F.row_number().over(w)).select(
            "doc_id", name
        )

    fused = (
        rank10(bm25, "rb")
        .join(rank10(spl, "rs"), "doc_id", "full_outer")
        .join(rank10(plaid, "rp"), "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(1.0 / (_RRF_K0 + F.col("rb")), F.lit(0.0))
                + F.coalesce(
                    1.0 / (_RRF_K0 + F.col("rs")), F.lit(0.0)
                )
                + F.coalesce(
                    1.0 / (_RRF_K0 + F.col("rp")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
    )
    return (
        fused.select(
            "doc_id", F.round("rrf", 6).alias("rrf_score")
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(TOP_N)
    )
