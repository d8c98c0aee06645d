"""Corpus-hygiene operators for LLM training pipelines: span-level exact
dedup (C4-style), unigram-LM perplexity quality scoring (CCNet-style),
leakage-safe train/val/test splitting (near-dup clusters never straddle
splits), and streaming micro-batched dedup ingest into the idempotent
store.

The reference has no corpus-preparation surface at all (it embeds 1,000
CSV rows verbatim, ``rag.py:40-50``); these are the operators a 100 TB
pretraining-data pipeline runs between raw ingest and tokenization:

- C4 (Raffel et al. 2020) removes any repeated multi-sentence span
  corpus-wide, not just whole-document duplicates.
- CCNet (Wenzek et al. 2020) scores documents by language-model
  perplexity and keeps the low-perplexity (fluent) tail.
- Eval-set leakage audits require near-duplicates to land in the SAME
  split — hashing the raw doc id (dataset_split_assignment) quietly
  puts a train copy of a test document across the boundary.

All are hash-checked against DuckDB oracles — including the streaming
ingest, whose deterministic micro-batch order lets a plain GROUP BY
replay first-seen-wins.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emails_to_vector_db_spark.functions import text as TX
from emails_to_vector_db_spark.plans.dedup import (
    _DOCS_CHAIN_SQL,
    _docs_with_chained_dups,
)
from emails_to_vector_db_spark.plans.registry import register
from emails_to_vector_db_spark.sources.tables import load_table, table_path
from emails_to_vector_db_spark.sources.warehouse import publish_landing


# LM model tables broadcast while they fit in executor/driver RAM;
# above this row count the scoring join falls back to a plain shuffle
# join (a 10⁸-10⁹-row web-scale vocab/bigram table cannot broadcast).
# ~5M rows of (token, count, total) ≈ low hundreds of MB — inside the
# broadcast comfort zone, far under it in practice.
_MODEL_BROADCAST_MAX_ROWS = 5_000_000


def _scoring_join(
    stream: DataFrame,
    model: DataFrame,
    on,
    max_broadcast_rows: int | None = None,
) -> DataFrame:
    """Join a trained model table (vocab/bigram frequencies) onto the
    corpus token stream — the over-RAM-vocabulary cutover the round-3
    code documented but didn't implement.

    The learn_bpe_merges size-cutover pattern (operators/bpe.py:235):
    persist the model (vocab-sized, spillable), count it — the one
    corpus training pass runs anyway; its result simply lands in cache
    for the scoring join to reuse — and join broadcast-hinted under the
    cutover, as a plain shuffle join beyond it. The broadcast path
    never shuffles the corpus-scale token stream AT ALL (the
    alternative — dropping the hint and letting AQE's measured-size
    cutover decide — still shuffle-WRITES the whole probe side before
    converting, which at 100 TB is the dominant cost). Both physical
    paths are hash-equivalence-tested, cutover forced, in
    tests/test_corpus_ops.py.
    """
    limit = (
        _MODEL_BROADCAST_MAX_ROWS
        if max_broadcast_rows is None
        else max_broadcast_rows
    )
    model = model.persist(StorageLevel.MEMORY_AND_DISK)
    if model.count() <= limit:
        return stream.join(F.broadcast(model), on)
    return stream.join(model, on)


_TOKENS_SQL = "regexp_split_to_array(trim(text), '\\s+')"

# ---------------------------------------------------------------------------
# C4-style span-level exact dedup
# ---------------------------------------------------------------------------

_SPAN_W = 8  # words per non-overlapping span
_SPAN_TOP = 20

_SPAN_ORACLE = f"""
WITH docs AS ({_DOCS_CHAIN_SQL}),
toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS w FROM docs
),
spans AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(0, CAST(ceil(len(w) / {_SPAN_W}.0) AS INT) - 1),
               i -> md5(array_to_string(
                   w[(i * {_SPAN_W} + 1):(i * {_SPAN_W} + {_SPAN_W})], ' '))
           )) AS fp
    FROM toks
),
counted AS (
    SELECT doc_id, fp,
           count(*) OVER (PARTITION BY fp) AS n_global
    FROM spans
),
per_doc AS (
    SELECT doc_id,
           count(*) AS n_spans,
           sum(CASE WHEN n_global >= 2 THEN 1 ELSE 0 END) AS n_dup_spans
    FROM counted GROUP BY doc_id
)
SELECT doc_id, n_spans::BIGINT AS n_spans, n_dup_spans::BIGINT AS n_dup_spans
FROM per_doc
ORDER BY n_dup_spans DESC, doc_id ASC
LIMIT {_SPAN_TOP}
"""


@register(
    "span_exact_dedup",
    oracle=_SPAN_ORACLE,
    tags=("cleaning", "dedup", "c4", "span"),
    bench=True,
)
def span_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document dedup: each document is cut into
    non-overlapping 8-word spans, every span fingerprinted (md5), and a
    span is duplicated if its fingerprint occurs anywhere else in the
    corpus. Returns the 20 most span-duplicated documents (the planted
    near-dup chains: all their spans except the mutated tail recur).

    Plan: one narrow explode of the per-doc span-hash array (built by
    ``transform`` over a ``sequence`` — the text is tokenized ONCE); the
    global span census as a groupBy(fp) count joined back to the span
    stream, NOT a window over fp: a window funnels every occurrence of a
    hot span (boilerplate repeated millions of times at 100 TB) into one
    task with no partial aggregation, while the groupBy census collapses
    hot fingerprints map-side and the join is AQE-skew-splittable; then
    per-doc re-aggregation and TakeOrderedAndProject. The fp shuffles
    carry 16-byte hashes + ids, never text — the C4 dedup shape, linear
    in corpus size, no self-join."""
    docs = _docs_with_chained_dups(spark, sf_dir)
    w = F.split(F.trim(F.col("text")), r"\s+")
    n_spans = F.greatest(
        F.ceil(F.size(w) / F.lit(float(_SPAN_W))).cast("int"), F.lit(1)
    )
    span_fps = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice(w, i * _SPAN_W + 1, _SPAN_W))),
    )
    spans = docs.select("doc_id", F.explode(span_fps).alias("fp"))
    # consumed by both the census and the scoring join — without the
    # persist the tokenize→span-hash lineage runs twice (rule 10,
    # docs/SCALE_NOTES.md); the persisted payload is narrow (id + 32-char
    # hash), the cacheable form rule 1 prescribes
    from pyspark import StorageLevel

    spans = spans.persist(StorageLevel.MEMORY_AND_DISK)
    census = spans.groupBy("fp").agg(F.count(F.lit(1)).alias("n_global"))
    per_doc = (
        spans.join(census, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("n_global") >= 2).cast("long")).alias("n_dup_spans"),
        )
    )
    return per_doc.orderBy(
        F.col("n_dup_spans").desc(), F.col("doc_id").asc()
    ).limit(_SPAN_TOP)


# ---------------------------------------------------------------------------
# Rolling-window exact-substring dedup (Lee et al. 2021 semantics)
# ---------------------------------------------------------------------------

_SSW = 16  # tokens per rolling window (stride 1)
_SSW_TOP = 20

_SSW_ORACLE = f"""
WITH docs AS ({_DOCS_CHAIN_SQL}),
toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS w FROM docs
),
wins AS (
    SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - {_SSW - 1}, 0))) AS pos
    FROM toks
),
fps AS (
    SELECT doc_id, pos,
           md5(array_to_string(w[pos:pos + {_SSW - 1}], ' ')) AS fp
    FROM wins
),
dup_fps AS (
    SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
),
flagged AS (
    SELECT doc_id, pos FROM fps WHERE fp IN (SELECT fp FROM dup_fps)
),
runs AS (
    SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM flagged
),
run_lens AS (
    SELECT doc_id, grp, count(*) AS run_len
    FROM runs GROUP BY doc_id, grp
),
per_doc_dup AS (
    SELECT doc_id,
           sum(run_len) AS n_dup_windows,
           max(run_len) AS max_run
    FROM run_lens GROUP BY doc_id
),
meta AS (
    SELECT doc_id, greatest(len(w) - {_SSW - 1}, 0) AS n_windows FROM toks
)
SELECT m.doc_id,
       m.n_windows::BIGINT AS n_windows,
       COALESCE(d.n_dup_windows, 0)::BIGINT AS n_dup_windows,
       (CASE WHEN COALESCE(d.max_run, 0) > 0
             THEN d.max_run + {_SSW - 1} ELSE 0 END)::BIGINT
           AS max_dup_substring_tokens,
       round(COALESCE(d.n_dup_windows, 0)
             / greatest(m.n_windows, 1), 6) + 0.0 AS dup_window_frac
FROM meta m LEFT JOIN per_doc_dup d ON m.doc_id = d.doc_id
ORDER BY n_dup_windows DESC, m.doc_id ASC
LIMIT {_SSW_TOP}
"""


@register(
    "substring_window_dedup",
    oracle=_SSW_ORACLE,
    tags=("cleaning", "dedup", "substring", "rolling-window"),
    bench=True,
)
def substring_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup at rolling-window grain (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): every
    overlapping 16-token window is fingerprinted, and a window is
    duplicated if the same 16-gram appears in ≥2 DISTINCT documents.
    Unlike ``span_exact_dedup``'s non-overlapping C4 spans, this is
    alignment-invariant — a copied passage is caught wherever it starts
    — which is the suffix-array contract the paper implements, expressed
    as a distributed hash census instead of a suffix array. Per
    document: window count, duplicated-window count, and the longest
    duplicated run converted back to tokens (run + W - 1 ≈ the longest
    substring shared verbatim with another document).

    Plan shape, 100 TB story: stride-1 windows cost one shuffle row per
    token (W× the span form's rows — the price of alignment
    invariance, still linear in corpus size). The census is a
    groupBy(fp, doc_id) → groupBy(fp) two-level exact distinct —
    map-side combinable at both levels, so a boilerplate 16-gram
    repeated millions of times collapses before the shuffle; the
    flag-back is a semi join on the hash, never text. The only window
    function is the gaps-and-islands run labeller, partitioned by
    doc_id — per-document grain, bounded by document length, never
    corpus grain.
    """
    docs = _docs_with_chained_dups(spark, sf_dir)
    w = TX.tokens("text")
    toks = docs.select("doc_id", w.alias("w"))
    n_windows = F.greatest(F.size("w") - F.lit(_SSW - 1), F.lit(0))
    meta = toks.select(
        "doc_id", n_windows.cast("long").alias("n_windows")
    )
    fps = toks.where(F.size("w") >= _SSW).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - F.lit(_SSW - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(
                        F.concat_ws(" ", F.slice(F.col("w"), i, _SSW))
                    ).alias("fp"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    # consumed by the census AND the flag-back semi join: persist the
    # narrow (id, pos, hash) stream so the tokenize→window lineage runs
    # once (rule 10, docs/SCALE_NOTES.md)
    fps = fps.persist(StorageLevel.MEMORY_AND_DISK)
    dup_fps = (
        fps.groupBy("fp", "doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("fp")
    )
    flagged = fps.join(dup_fps, "fp", "left_semi")
    grp = F.col("pos") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")
    )
    run_lens = (
        flagged.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    per_doc_dup = run_lens.groupBy("doc_id").agg(
        F.sum("run_len").alias("n_dup_windows"),
        F.max("run_len").alias("max_run"),
    )
    out = meta.join(per_doc_dup, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce(F.col("n_dup_windows"), F.lit(0))
        .cast("long")
        .alias("n_dup_windows"),
        F.when(
            F.coalesce(F.col("max_run"), F.lit(0)) > 0,
            F.col("max_run") + F.lit(_SSW - 1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("max_dup_substring_tokens"),
        (
            F.round(
                F.coalesce(F.col("n_dup_windows"), F.lit(0))
                / F.greatest(F.col("n_windows"), F.lit(1)),
                6,
            )
            + F.lit(0.0)
        ).alias("dup_window_frac"),
    )
    return out.orderBy(
        F.col("n_dup_windows").desc(), F.col("doc_id").asc()
    ).limit(_SSW_TOP)


# ---------------------------------------------------------------------------
# CCNet-style unigram-LM perplexity scoring
# ---------------------------------------------------------------------------

_PPL_TOP = 20

_PPL_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
),
freq AS (
    SELECT tok, count(*)::BIGINT AS n FROM toks GROUP BY tok
),
tot AS (
    SELECT sum(n)::DOUBLE AS total FROM freq
),
scored AS (
    SELECT t.doc_id, -ln(f.n::DOUBLE / tt.total) AS nll
    FROM toks t JOIN freq f USING (tok) CROSS JOIN tot tt
)
SELECT doc_id, count(*)::BIGINT AS n_tokens, round(avg(nll), 6) AS avg_nll
FROM scored GROUP BY doc_id
ORDER BY avg_nll DESC, doc_id ASC
LIMIT {_PPL_TOP}
"""


@register(
    "unigram_perplexity_scores",
    oracle=_PPL_ORACLE,
    tags=("cleaning", "quality", "ccnet", "lm"),
    bench=True,
)
def unigram_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring with a corpus-trained unigram LM:
    p(tok) = corpus frequency, per-document score = mean negative log
    likelihood (= log perplexity). Returns the 20 highest-perplexity
    (least corpus-typical) documents — the filter tail a cleaning
    pipeline would drop or down-sample.

    Plan (3 budgeted shuffles): token frequencies via one map-side-
    combinable groupBy (the "training" pass, exchange-reused for the
    broadcast 1-row vocabulary total — no single-partition window
    stage), and the final per-doc aggregation. The trained vocabulary
    broadcasts back onto the token stream while vocab fits in RAM;
    above the cutover (_scoring_join) the scoring join falls back to a
    plain shuffle join — same hashes, no broadcast OOM."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    # The corpus is read exactly twice — once to train the LM (freq),
    # once to score — the canonical two-pass shape. The vocabulary total
    # is a broadcast 1-row aggregate cross-joined back on, NOT a global
    # window: Window.partitionBy() moves the whole vocab to ONE
    # partition, which at web scale (10⁸-10⁹ distinct tokens) is a real
    # straggler. The freq groupBy appears twice in the plan but its
    # exchange is reused (spark.sql.exchangeReuseEnabled), so the
    # corpus-wide aggregation still runs once.
    freq_base = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    freq = freq_base.crossJoin(
        F.broadcast(
            freq_base.agg(F.sum("n").cast("double").alias("total"))
        )
    )
    scored = _scoring_join(toks, freq, "tok").withColumn(
        "nll", -F.log(F.col("n").cast("double") / F.col("total"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
        )
        .orderBy(F.col("avg_nll").desc(), F.col("doc_id").asc())
        .limit(_PPL_TOP)
    )


# ---------------------------------------------------------------------------
# Leakage-safe split: near-dup clusters never straddle train/val/test
# ---------------------------------------------------------------------------

def _leakage_oracle() -> str:
    """Recursive-CTE connected components over the SAME MinHash-LSH pair
    family as near_dup_components, then split by the salted md5 bucket of
    the CLUSTER REPRESENTATIVE (min doc_id), not the raw doc id."""
    from emails_to_vector_db_spark.plans.dedup import _minhash_sql_sig

    return f"""
WITH RECURSIVE docs AS ({_DOCS_CHAIN_SQL}),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len({_TOKENS_SQL}) < 3 THEN []::VARCHAR[]
               ELSE list_transform(generate_series(1, len({_TOKENS_SQL}) - 2),
                    i -> array_to_string(({_TOKENS_SQL})[i:i+2], ' ')) END) AS sh
    FROM docs
),
m AS (
    SELECT doc_id,
           list_transform(sh, s -> md5(s)) AS m0,
           list_transform(sh, s -> md5('1|' || s)) AS m1
    FROM sh
),
sig AS (
    SELECT doc_id, {_minhash_sql_sig(2)} AS sig FROM m
),
bands AS (
    SELECT doc_id, sig, b.band_idx,
           md5(sig[b.band_idx * 2 + 1] || '|' || sig[b.band_idx * 2 + 2]) AS band_hash
    FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.sig AS sig_a, b.sig AS sig_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT id_a, id_b FROM cand
    WHERE list_sum(list_transform(generate_series(1, 8),
            i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1.0 ELSE 0.0 END)) / 8.0
          >= 0.5
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
walk(id, label) AS (
    SELECT id, id AS label FROM nodes
    UNION
    SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
),
comp AS (
    SELECT id, min(label)::BIGINT AS component FROM walk GROUP BY id
),
assigned AS (
    SELECT d.doc_id, c.component,
           coalesce(c.component, d.doc_id) AS rep
    FROM docs d LEFT JOIN comp c ON c.id = d.doc_id
),
labeled AS (
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           clustered
    FROM (
        SELECT ('0x' || substr(md5('split:' || rep::VARCHAR), 1, 15))::BIGINT
                   % 100 AS bucket,
               CASE WHEN component IS NULL THEN 0 ELSE 1 END AS clustered
        FROM assigned
    )
)
SELECT split, count(*)::BIGINT AS n_docs, sum(clustered)::BIGINT AS n_clustered_docs
FROM labeled GROUP BY split
"""


@register(
    "leakage_safe_split",
    oracle=_leakage_oracle(),
    tags=("cleaning", "split", "dedup", "components"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-aware dataset splitting: documents are assigned to
    train/val/test by the salted md5 bucket of their NEAR-DUP CLUSTER
    representative (connected-component min id), falling back to their
    own id when unclustered — so a near-duplicate of a test document can
    never land in train (the leakage dataset_split_assignment's raw-id
    hash permits). Same 80/10/10 buckets and salt as that query; the
    no-straddle invariant is asserted in tests/test_corpus_ops.py.

    Plan: the LSH pair generation + component labeling reuse the
    near_dup_components machinery (LSH-pruned edges, size-adaptive
    closure); the split itself adds only a left join of docs to the
    (tiny) component map plus one count aggregation."""
    assigned = leakage_safe_assignments(spark, sf_dir)
    return (
        assigned.select(
            "split",
            F.col("component").isNotNull().cast("long").alias("clustered"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("clustered").alias("n_clustered_docs"),
        )
    )


def leakage_safe_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level form of leakage_safe_split: (doc_id, component, split).
    The no-straddle invariant (every component maps to exactly one
    split) is asserted over this in tests/test_corpus_ops.py."""
    from emails_to_vector_db_spark.operators.components import (
        connected_components,
    )
    from emails_to_vector_db_spark.operators.dedup import (
        minhash_lsh_component_edges,
    )

    docs = _docs_with_chained_dups(spark, sf_dir)
    # Component-only consumer -> the signature-group star-edge form
    # (provably component-identical to the pair form; O(n) emission per
    # signature-identical group instead of O(n²) within-bucket pairs —
    # the r8 group-grain rule applied to the split path).
    comp = connected_components(
        minhash_lsh_component_edges(
            docs, n_hashes=8, n_bands=4, shingle_n=3, threshold=0.5
        )
    )
    assigned = docs.select("doc_id").join(
        comp, F.col("doc_id") == F.col("id"), "left"
    )
    rep = F.coalesce(F.col("component"), F.col("doc_id"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), rep.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return assigned.select("doc_id", "component", split.alias("split"))


# ---------------------------------------------------------------------------
# Streaming dedup ingest: micro-batched exact dedup into the idempotent store
# ---------------------------------------------------------------------------

_STREAM_DEDUP_VERSION = 1


def _stream_dedup_landing(sf_dir: str) -> str:
    """The exact-dup planted corpus (the exact_dedup_groups corpus) as
    THREE micro-batch files in ascending doc_id order, the planted
    copies (doc_id + _DUP_OFFSET) after the originals
    (sources/warehouse.py::publish_landing)."""
    import pyarrow.compute as pc

    from emails_to_vector_db_spark.plans.dedup import _DUP_OFFSET, _N_PLANT
    def planted(rows):
        rows = rows.filter(pc.less(rows["doc_id"], _N_PLANT))
        return rows.set_column(
            0, "doc_id", pc.add(rows["doc_id"], _DUP_OFFSET)
        )

    return publish_landing(
        f"stream_dedup_v{_STREAM_DEDUP_VERSION}",
        table_path(sf_dir, "documents"),
        ["doc_id", "text"],
        planted=planted,
    )


def _stream_dedup_oracle() -> str:
    from emails_to_vector_db_spark.plans.dedup import _DOCS_EXACT_SQL

    return f"""
WITH docs AS ({_DOCS_EXACT_SQL}),
fp AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM docs
)
SELECT fp, min(doc_id)::BIGINT AS keep_id FROM fp GROUP BY fp
"""


@register(
    "streaming_dedup_ingest",
    oracle=_stream_dedup_oracle(),
    tags=("streaming", "dedup", "ingest", "store"),
)
def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous corpus ingest with cross-batch exact dedup — the
    production shape of training-data intake (and the streaming form of
    the reference's ingest loop, which crashes on a duplicate id,
    ``email_fetching.py:54``): documents arrive in micro-batches (file
    stream, availableNow, one file per trigger), each batch fingerprints
    its text, keeps the min doc_id per fingerprint WITHIN the batch, and
    appends only fingerprints the store has never seen (EmbeddingStore's
    anti-join idempotent append). First-seen-wins across batches +
    doc_id-ordered arrival ⇒ the surviving id per fingerprint is the
    global minimum, which the DuckDB oracle replays as a plain GROUP BY
    — the whole streaming pipeline is hash-checked. At 100 TB the state
    is the store itself (fp-keyed parquet), not executor memory, and
    each micro-batch costs one fingerprint scan + one anti-join."""
    import os
    import shutil

    from emails_to_vector_db_spark.functions import text as TX
    from emails_to_vector_db_spark.pipeline.store import EmbeddingStore

    landing = _stream_dedup_landing(sf_dir)
    work = landing.rstrip("/") + "__run"
    shutil.rmtree(work, ignore_errors=True)  # deterministic re-runs
    store = EmbeddingStore(spark, os.path.join(work, "store"), id_col="fp")

    def apply(batch: DataFrame, _batch_id: int) -> None:
        kept = (
            batch.withColumn("fp", TX.fingerprint("text"))
            .groupBy("fp")
            .agg(F.min("doc_id").alias("keep_id"))
        )
        store.append(kept)

    q = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return store.read().select("fp", "keep_id")


# ---------------------------------------------------------------------------
# Domain mixing: per-source reweighting toward a target token distribution
# ---------------------------------------------------------------------------

_MIX_BUCKETS = 10_000

_MIX_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, source,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
    FROM documents
),
per_source AS (
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS src_tokens
    FROM toks GROUP BY source
),
weighted AS (
    SELECT source, n_docs, src_tokens,
           least(1.0,
                 (1.0 / count(*) OVER ())
                 / (src_tokens::DOUBLE / sum(src_tokens) OVER ())) AS w
    FROM per_source
),
sampled AS (
    SELECT t.source,
           CASE WHEN ('0x' || substr(md5('mix:' || t.doc_id::VARCHAR), 1, 15))::BIGINT
                     % {_MIX_BUCKETS} < w.w * {_MIX_BUCKETS} THEN 1 ELSE 0 END AS keep
    FROM toks t JOIN weighted w USING (source)
)
SELECT w.source, w.n_docs, w.src_tokens, round(w.w, 6) AS mix_weight,
       sum(s.keep)::BIGINT AS n_sampled
FROM weighted w JOIN sampled s ON s.source = w.source
GROUP BY w.source, w.n_docs, w.src_tokens, w.w
"""


@register(
    "source_mixing_weights",
    oracle=_MIX_ORACLE,
    tags=("cleaning", "mixing", "sampling"),
)
def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing (the DoReMi/Pile recipe shape): compute each
    source's share of corpus tokens, derive a capped down-sampling
    weight toward a UNIFORM per-source token target, and apply it with
    the same salted-md5 deterministic sampler as stratified_sample —
    over-represented domains are thinned, under-represented ones kept
    whole, reproducibly across runs and engines.

    Plan: one token-count scan feeding a per-source aggregate (map-side
    combinable); weights computed on the SOURCE-cardinality table (a
    broadcast 1-row totals cross-join — no global-window stage at all,
    even a tiny one) and broadcast back onto the doc
    stream; the sampling filter is a scan-time expression — the corpus
    shuffles once (the per-source agg), never for the sampling itself."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
    )
    per_source = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("src_tokens"),
    )
    totals = per_source.agg(
        F.count(F.lit(1)).alias("__n_sources"),
        F.sum("src_tokens").alias("__tot_tokens"),
    )
    weighted = (
        per_source.crossJoin(F.broadcast(totals))
        .withColumn(
            "w",
            F.least(
                F.lit(1.0),
                (F.lit(1.0) / F.col("__n_sources"))
                / (
                    F.col("src_tokens").cast("double")
                    / F.col("__tot_tokens")
                ),
            ),
        )
        .drop("__n_sources", "__tot_tokens")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % _MIX_BUCKETS
    )
    sampled = toks.join(F.broadcast(weighted.select("source", "w")), "source")
    keep = (bucket < F.col("w") * _MIX_BUCKETS).cast("long")
    return (
        sampled.select("source", keep.alias("keep"))
        .groupBy("source")
        .agg(F.sum("keep").alias("n_sampled"))
        .join(F.broadcast(weighted), "source")
        .select(
            "source",
            "n_docs",
            "src_tokens",
            F.round("w", 6).alias("mix_weight"),
            "n_sampled",
        )
    )


# ---------------------------------------------------------------------------
# Interpolated bigram-LM perplexity (the KenLM-direction upgrade)
# ---------------------------------------------------------------------------

_BIGRAM_LAMBDA = 0.7  # interpolation weight on the bigram term
_BIGRAM_TOP = 20

_BIGRAM_PPL_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, {_TOKENS_SQL} AS T FROM documents
),
bg0 AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(T) - 1),
                  i -> T[i] || chr(9) || T[i+1])) AS b
    FROM docs WHERE len(T) >= 2
),
bg AS (
    SELECT doc_id,
           string_split(b, chr(9))[1] AS w1,
           string_split(b, chr(9))[2] AS w2
    FROM bg0
),
uni AS (
    SELECT tok, count(*)::BIGINT AS n
    FROM (SELECT unnest(T) AS tok FROM docs) GROUP BY tok
),
tot AS (SELECT sum(n)::DOUBLE AS total FROM uni),
hist AS (SELECT w1, count(*)::BIGINT AS h FROM bg GROUP BY w1),
bfreq AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY w1, w2),
scored AS (
    SELECT g.doc_id,
           -ln({_BIGRAM_LAMBDA} * f.c12 / h1.h
               + {1 - _BIGRAM_LAMBDA} * u2.n / t.total) AS nll
    FROM bg g
    JOIN bfreq f ON f.w1 = g.w1 AND f.w2 = g.w2
    JOIN hist h1 ON h1.w1 = g.w1
    JOIN uni u2 ON u2.tok = g.w2
    CROSS JOIN tot t
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams, round(avg(nll), 6) AS avg_nll
FROM scored GROUP BY doc_id
ORDER BY avg_nll DESC, doc_id ASC
LIMIT {_BIGRAM_TOP}
"""


@register(
    "bigram_perplexity_scores",
    oracle=_BIGRAM_PPL_ORACLE,
    tags=("cleaning", "quality", "lm", "bigram"),
)
def bigram_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality scoring — the KenLM-direction
    upgrade of unigram_perplexity_scores above: p(w2|w1) =
    λ·c(w1w2)/c(w1·) + (1-λ)·p_unigram(w2), per-doc mean NLL, top-20
    least-typical documents. The history count c(w1·) counts w1 AS A
    BIGRAM HISTORY (not raw occurrences), so the conditional properly
    normalizes over the bigram table.

    Plan: the corpus tokenizes once into an adjacency-preserving bigram
    stream (a native transform over the token array — no window, no
    posexplode self-join); "training" is two map-side-combinable
    groupBys (bigram table + history margins); the scoring joins go
    through _scoring_join — broadcast while the model tables fit the
    row-count cutover, plain shuffle join at the 100 TB bigram-table
    scale where broadcast would OOM. The vocabulary total is a
    broadcast 1-row aggregate, not a global window.
    """
    d = load_table(spark, sf_dir, "documents")
    T = F.split(F.trim(F.col("text")), r"\s+")
    bg = (
        d.select("doc_id", T.alias("T"))
        .where(F.size("T") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("T") - 1),
                    lambda i: F.struct(
                        F.element_at("T", i).alias("w1"),
                        F.element_at("T", i + 1).alias("w2"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    toks = d.select(F.explode(T).alias("tok"))
    uni_base = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    uni = uni_base.crossJoin(
        F.broadcast(uni_base.agg(F.sum("n").cast("double").alias("total")))
    )
    hist = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("h"))
    bfreq = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    lam = F.lit(_BIGRAM_LAMBDA)
    scored = _scoring_join(
        _scoring_join(
            _scoring_join(bg, bfreq, ["w1", "w2"]),
            hist,
            "w1",
        ),
        uni.select(F.col("tok").alias("w2"), "n", "total"),
        "w2",
    ).withColumn(
        "nll",
        -F.log(
            lam * F.col("c12") / F.col("h")
            + (F.lit(1.0) - lam) * F.col("n") / F.col("total")
        ),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
        )
        .orderBy(F.col("avg_nll").desc(), F.col("doc_id").asc())
        .limit(_BIGRAM_TOP)
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram-LM perplexity (the KenLM/CCNet smoothing)
# ---------------------------------------------------------------------------

_KN_D = 0.75  # absolute discount
_KN_TOP = 20

_KN_PPL_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, {_TOKENS_SQL} AS T FROM documents
),
bg0 AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(T) - 1),
                  i -> T[i] || chr(9) || T[i+1])) AS b
    FROM docs WHERE len(T) >= 2
),
bg AS (
    SELECT doc_id,
           string_split(b, chr(9))[1] AS w1,
           string_split(b, chr(9))[2] AS w2
    FROM bg0
),
bfreq AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY w1, w2),
hist AS (
    SELECT w1, sum(c12)::DOUBLE AS h, count(*)::DOUBLE AS n1p
    FROM bfreq GROUP BY w1
),
cont AS (SELECT w2, count(*)::DOUBLE AS cc FROM bfreq GROUP BY w2),
types AS (SELECT count(*)::DOUBLE AS bt FROM bfreq),
scored AS (
    SELECT g.doc_id,
           -ln(greatest(f.c12 - {_KN_D}, 0) / h1.h
               + ({_KN_D} * h1.n1p / h1.h) * (c.cc / t.bt)) AS nll
    FROM bg g
    JOIN bfreq f ON f.w1 = g.w1 AND f.w2 = g.w2
    JOIN hist h1 ON h1.w1 = g.w1
    JOIN cont c ON c.w2 = g.w2
    CROSS JOIN types t
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams, round(avg(nll), 6) AS kn_avg_nll
FROM scored GROUP BY doc_id
ORDER BY kn_avg_nll DESC, doc_id ASC
LIMIT {_KN_TOP}
"""


@register(
    "kneser_ney_bigram_scores",
    oracle=_KN_PPL_ORACLE,
    tags=("cleaning", "quality", "lm", "bigram", "kneser-ney"),
    bench=True,
)
def kneser_ney_bigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity — the smoothing family
    KenLM actually ships and CCNet-style corpus filtering runs, beside
    the simpler add-λ interpolation above: p(w2|w1) =
    max(c(w1w2)-D, 0)/c(w1·) + D·N1+(w1·)/c(w1·) · p_cont(w2), with
    the CONTINUATION probability p_cont(w2) = N1+(·w2)/N1+(··) — "how
    many distinct histories precede w2" — instead of raw unigram
    frequency, which is what stops high-count-but-context-bound tokens
    (the "Francisco" effect) from inflating unseen-bigram mass. Scoring
    the training corpus itself keeps every scored bigram in the model
    (c12 ≥ 1), so no zero-history backoff branch is needed; per-doc
    mean NLL, top-{_KN_TOP} least-typical docs — the CCNet quality
    signal.

    Plan shape: identical economics to bigram_perplexity_scores — one
    adjacency-preserving tokenize pass; the model is ONE bigram-type
    groupBy plus two margins DERIVED from it (history totals/fanout,
    continuation counts — bigram-type-grain, not corpus-grain); the
    bigram-type total is a broadcast 1-row aggregate; scoring joins go
    through _scoring_join (broadcast under the row-count cutover,
    shuffle join at over-RAM vocab scale)."""
    d = load_table(spark, sf_dir, "documents")
    T = F.split(F.trim(F.col("text")), r"\s+")
    bg = (
        d.select("doc_id", T.alias("T"))
        .where(F.size("T") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("T") - 1),
                    lambda i: F.struct(
                        F.element_at("T", i).alias("w1"),
                        F.element_at("T", i + 1).alias("w2"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    bfreq = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    hist = bfreq.groupBy("w1").agg(
        F.sum("c12").cast("double").alias("h"),
        F.count(F.lit(1)).cast("double").alias("n1p"),
    )
    cont = bfreq.groupBy("w2").agg(
        F.count(F.lit(1)).cast("double").alias("cc")
    )
    types = F.broadcast(
        bfreq.agg(F.count(F.lit(1)).cast("double").alias("bt"))
    )
    D = F.lit(_KN_D)
    scored = (
        _scoring_join(
            _scoring_join(_scoring_join(bg, bfreq, ["w1", "w2"]), hist, "w1"),
            cont,
            "w2",
        )
        .crossJoin(types)
        .withColumn(
            "nll",
            -F.log(
                F.greatest(F.col("c12") - D, F.lit(0.0)) / F.col("h")
                + (D * F.col("n1p") / F.col("h"))
                * (F.col("cc") / F.col("bt"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("kn_avg_nll"),
        )
        .orderBy(F.col("kn_avg_nll").desc(), F.col("doc_id").asc())
        .limit(_KN_TOP)
    )


# ---------------------------------------------------------------------------
# Per-source curation health rollup (the "dataset card" table)
# ---------------------------------------------------------------------------

_HEALTH_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, source, unnest({_TOKENS_SQL}) AS tok FROM documents
),
freq AS (SELECT tok, count(*)::BIGINT AS n FROM toks GROUP BY tok),
tot AS (SELECT sum(n)::DOUBLE AS total FROM freq),
doc_nll AS (
    SELECT t.doc_id, t.source, avg(-ln(f.n / tt.total)) AS nll
    FROM toks t JOIN freq f USING (tok) CROSS JOIN tot tt
    GROUP BY t.doc_id, t.source
),
doc_stats AS (
    SELECT doc_id, source, lang,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           len({_TOKENS_SQL}) AS n_tok,
           length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
               / length(text)::DOUBLE AS punct_frac
    FROM documents
)
SELECT d.source,
       count(*)::BIGINT AS n_docs,
       count(DISTINCT d.lang)::BIGINT AS n_langs,
       round(1.0 - count(DISTINCT d.fp) / count(*)::DOUBLE, 6) AS dup_rate,
       round(avg(d.n_tok), 6) AS avg_tokens,
       round(avg(d.punct_frac), 6) AS avg_punct_frac,
       round(avg(p.nll), 6) AS avg_unigram_nll
FROM doc_stats d JOIN doc_nll p ON p.doc_id = d.doc_id
GROUP BY d.source
"""


@register(
    "source_curation_health",
    oracle=_HEALTH_ORACLE,
    tags=("cleaning", "reporting", "dataset-card"),
)
def source_curation_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source DATASET CARD: one row per source combining the
    curation signals the individual operators compute — volume,
    language diversity, exact-duplicate rate (1 − distinct
    fingerprints / docs), token-length and punctuation-noise means,
    and corpus-typicality (mean unigram NLL) — the health table a data
    team reviews before admitting a source into a training mix.

    Plan: the per-doc signal pass is pure row expressions + the
    LM-scoring broadcast join of unigram_perplexity_scores; the rollup
    is one groupBy over |sources| keys. Two corpus passes total (LM
    train + score-and-roll), same as the perplexity query alone —
    integration adds no extra scans.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    freq_base = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    freq = freq_base.crossJoin(
        F.broadcast(
            freq_base.agg(F.sum("n").cast("double").alias("total"))
        )
    )
    doc_nll = (
        _scoring_join(toks.select("doc_id", "tok"), freq, "tok")
        .groupBy("doc_id")
        .agg(F.avg(-F.log(F.col("n") / F.col("total"))).alias("nll"))
    )
    text_len = F.length("text").cast("double")
    doc_stats = d.select(
        "doc_id",
        "source",
        "lang",
        TX.fingerprint("text").alias("fp"),
        F.size(TX.tokens("text")).alias("n_tok"),
        (
            F.length(F.regexp_replace("text", r"[^.,!?;:]", "")) / text_len
        ).alias("punct_frac"),
    )
    return (
        doc_stats.join(doc_nll, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(
                1.0 - F.countDistinct("fp") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_rate"),
            F.round(F.avg("n_tok"), 6).alias("avg_tokens"),
            F.round(F.avg("punct_frac"), 6).alias("avg_punct_frac"),
            F.round(F.avg("nll"), 6).alias("avg_unigram_nll"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixing weights (the mT5/multilingual alpha recipe)
# ---------------------------------------------------------------------------

_ALPHA = 0.3  # mT5's language-sampling exponent

_ALPHA_MIX_ORACLE = f"""
WITH per_source AS (
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT
               AS src_tokens
    FROM documents GROUP BY source
),
with_p AS (
    SELECT source, n_docs, src_tokens,
           src_tokens::DOUBLE / sum(src_tokens) OVER () AS p
    FROM per_source
),
shares AS (
    SELECT source, n_docs, src_tokens, p,
           pow(p, {_ALPHA}) / sum(pow(p, {_ALPHA})) OVER () AS q
    FROM with_p
)
SELECT source, n_docs, src_tokens,
       round(p, 6) AS raw_share,
       round(q, 6) AS alpha_share,
       round(q / p, 6) AS boost
FROM shares
"""


@register(
    "alpha_mixing_weights",
    oracle=_ALPHA_MIX_ORACLE,
    tags=("cleaning", "mixing", "sampling"),
    bench=True,
)
def alpha_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the mT5 alpha-sampling recipe,
    alpha=0.3): each source's sampling share q_i ∝ p_i^alpha, flattening
    the raw token distribution so long-tail sources are up-weighted
    without drowning the head — the OTHER standard mixing policy beside
    source_mixing_weights' uniform-target capping, reported with the
    per-source boost factor q/p a data team reads off before a run.

    Plan: one token-count scan into a per-source aggregate; the two
    normalizations are broadcast 1-row aggregates over the
    SOURCE-cardinality table (no global window, same discipline as
    source_mixing_weights)."""
    d = load_table(spark, sf_dir, "documents")
    # |sources| rows, consumed by three branches (totals, q-normalizer,
    # final projection) — persisted so the corpus token-count scan runs
    # ONCE, not once per branch (rule 10)
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias(
            "src_tokens"
        ),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tot = per_source.agg(
        F.sum("src_tokens").cast("double").alias("__tot")
    )
    with_p = per_source.crossJoin(F.broadcast(tot)).withColumn(
        "p", F.col("src_tokens") / F.col("__tot")
    )
    qsum = with_p.agg(F.sum(F.pow("p", F.lit(_ALPHA))).alias("__qsum"))
    return (
        with_p.crossJoin(F.broadcast(qsum))
        .select(
            "source",
            "n_docs",
            "src_tokens",
            F.round("p", 6).alias("raw_share"),
            F.round(
                F.pow("p", F.lit(_ALPHA)) / F.col("__qsum"), 6
            ).alias("alpha_share"),
            F.round(
                (F.pow("p", F.lit(_ALPHA)) / F.col("__qsum")) / F.col("p"), 6
            ).alias("boost"),
        )
    )


# ---------------------------------------------------------------------------
# N-gram novelty / memorization-risk scoring
# ---------------------------------------------------------------------------

_NOVELTY_TOP = 20
_NOVELTY_SHINGLE_SQL = """
list_distinct(CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 3
    THEN []::VARCHAR[]
    ELSE list_transform(
        generate_series(1, len(regexp_split_to_array(trim(text), '\\s+')) - 2),
        i -> array_to_string(
            (regexp_split_to_array(trim(text), '\\s+'))[i:i+2], ' '))
    END)
"""

_NOVELTY_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, unnest({_NOVELTY_SHINGLE_SQL}) AS s FROM documents
),
census AS (
    SELECT s, count(DISTINCT doc_id)::BIGINT AS df FROM sh GROUP BY s
),
scored AS (
    SELECT sh.doc_id,
           count(*)::BIGINT AS n_shingles,
           sum(CASE WHEN c.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel
    FROM sh JOIN census c USING (s)
    GROUP BY sh.doc_id
)
SELECT doc_id, n_shingles, n_novel,
       round(n_novel / n_shingles::DOUBLE, 6) AS novelty
FROM scored
ORDER BY novelty ASC, doc_id ASC
LIMIT {_NOVELTY_TOP}
"""


@register(
    "ngram_novelty_scores",
    oracle=_NOVELTY_ORACLE,
    tags=("cleaning", "memorization", "dedup"),
    bench=True,
)
def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk scoring: each document's novelty = the share
    of its distinct 3-gram shingles that appear in NO other document;
    the 20 LEAST-novel documents surface the boilerplate/quotation
    tail a curation pass reviews for memorization risk (near-zero
    novelty = the document is assembled from text that exists
    elsewhere in the corpus).

    Plan: one distinct (doc, shingle) explode feeding a
    map-side-combinable shingle census, scored back through
    _scoring_join (broadcast under the vocab cutover, shuffle join
    beyond — the shingle table is the thing that outgrows RAM at
    100 TB), then a per-doc aggregate. Same two-pass LM-scoring shape
    as unigram_perplexity_scores."""
    from emails_to_vector_db_spark.operators.dedup import spread

    d = load_table(spark, sf_dir, "documents")
    # spread(): the shingle explode is CPU-bound and fixture parquet
    # arrives as 1-2 splits (rule 4); persist: the narrow (id, shingle)
    # stream feeds both the census and the scoring join (rule 1/10) —
    # together 7.3s → ~2s at sf0.1
    sh = (
        spread(d.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(TX.shingles(TX.tokens("text"), n=3))
            ).alias("s"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # per-(doc, shingle) rows are already distinct (array_distinct), so
    # the document frequency is a plain count — no distinct machinery
    census = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return (
        _scoring_join(sh, census, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel") / F.col("n_shingles").cast("double"), 6),
        )
        .orderBy(F.col("novelty").asc(), F.col("doc_id").asc())
        .limit(_NOVELTY_TOP)
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS): guaranteed-detection document fingerprints
# ---------------------------------------------------------------------------

_WIN_K = 4  # tokens per k-gram
_WIN_W = 5  # window of consecutive k-gram hashes per selected fingerprint
_WIN_MIN_SHARED = 2
_WIN_TOP = 20

_WIN_KG_SQL = f"""
list_transform(
    generate_series(1, len({_TOKENS_SQL}) - {_WIN_K - 1}),
    i -> md5(array_to_string(({_TOKENS_SQL})[i:i + {_WIN_K - 1}], ' ')))
"""

_WIN_ORACLE = f"""
WITH docs AS ({_DOCS_CHAIN_SQL}),
kg AS (
    SELECT doc_id, {_WIN_KG_SQL} AS kg FROM docs
    WHERE len({_TOKENS_SQL}) >= {_WIN_K}
),
sel AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               generate_series(1, len(kg) - {_WIN_W - 1}),
               j -> list_min(kg[j:j + {_WIN_W - 1}])))) AS fp
    FROM kg WHERE len(kg) >= {_WIN_W}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*)::BIGINT AS shared_fps
FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_WIN_MIN_SHARED}
ORDER BY shared_fps DESC, doc_a ASC, doc_b ASC
LIMIT {_WIN_TOP}
"""


@register(
    "winnowing_fingerprint_pairs",
    oracle=_WIN_ORACLE,
    tags=("dedup", "fingerprint", "winnowing", "moss"),
    bench=True,
)
def winnowing_fingerprint_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    the MOSS scheme): hash every 4-token k-gram, slide a 5-hash window,
    select each window's minimum; the selected set is a tiny sketch
    with the GUARANTEE that any shared run of ≥ w+k−1 tokens yields at
    least one shared fingerprint. Reported: the 20 document pairs
    sharing the most fingerprints (the planted dup chains surface with
    near-total overlap) — the copy-detection primitive between
    span-exact dedup (fixed spans, no guarantee across offsets) and
    MinHash (whole-doc similarity, no locality).

    Plan: the k-gram hashing and window-minimum selection run in the
    ARROW lane (mapInPandas: hashlib md5 + numpy sliding-window
    minimum per batch — rule 19's named fix for interpreted
    higher-order folds, measured 4.2s → ~1s at sf0.1 vs the pure
    expression form this replaced; fingerprints are bit-identical, the
    unchanged DuckDB oracle is the proof). Zero shuffle until
    fingerprints exist — and the selected density is ~2/(w+1) of the
    k-gram count, so the exploded stream is ~3× SMALLER than the token
    stream; the pair join keys on selected fingerprints only. At
    100 TB the fingerprint census inherits the rule-13 contract: pair
    LISTING for audits, cluster labeling for the dedup pass itself."""
    from emails_to_vector_db_spark.operators.dedup import spread

    docs = spread(_docs_with_chained_dups(spark, sf_dir))

    def _select_fps(batches):
        import hashlib
        import re as _re

        import pandas as pd

        for pdf in batches:
            out_ids: list = []
            out_fps: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = _re.split(r"\s+", text.strip())
                n = len(toks)
                if n < _WIN_K:
                    continue
                # raw 16-byte digests: bytes ordering == hex-string
                # lexicographic ordering (hex is order-preserving), so
                # the window minimum selects the SAME k-gram as the
                # expression/oracle form's md5-hex array_min
                kg = [
                    hashlib.md5(
                        " ".join(toks[i : i + _WIN_K]).encode()
                    ).digest()
                    for i in range(n - _WIN_K + 1)
                ]
                if len(kg) < _WIN_W:
                    continue
                fps = {
                    min(kg[j : j + _WIN_W])
                    for j in range(len(kg) - _WIN_W + 1)
                }
                out_ids.extend([doc_id] * len(fps))
                out_fps.extend(d.hex() for d in sorted(fps))
            yield pd.DataFrame({"doc_id": out_ids, "fp": out_fps})

    sel = docs.select("doc_id", "text").mapInPandas(
        _select_fps, "doc_id long, fp string"
    )
    a = sel.select(F.col("doc_id").alias("doc_a"), "fp")
    b = sel.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= _WIN_MIN_SHARED)
        .orderBy(
            F.col("shared_fps").desc(),
            F.col("doc_a").asc(),
            F.col("doc_b").asc(),
        )
        .limit(_WIN_TOP)
    )


# ---------------------------------------------------------------------------
# Gopher-style within-document repetition filters
# ---------------------------------------------------------------------------

_REP_TOP2_MAX = 0.12  # max fraction of tokens inside the most common 2-gram
_REP_DUP2_MAX = 0.15  # max fraction of 2-gram slots occurring more than once
# (Gopher Rae et al. 2021 §A1.1 uses character fractions over natural
# prose; the synthetic word-soup fixture needs recalibrated constants —
# same filter semantics, thresholds chosen to actually bind on it.)

_REPETITION_ORACLE = f"""
WITH t AS (
    SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
g AS (
    SELECT doc_id, len(toks) AS n_tok,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1]) AS grams
    FROM t
),
m AS (
    SELECT doc_id, n_tok, len(grams) AS n_bi,
           list_transform(
               grams, x -> len(list_filter(grams, y -> y = x))) AS cpos
    FROM g
)
SELECT doc_id,
       n_tok::BIGINT AS n_tok,
       round(2.0 * coalesce(list_aggregate(cpos, 'max'), 0) / n_tok, 6)
           AS top_2gram_frac,
       round(len(list_filter(cpos, c -> c >= 2))::DOUBLE
             / greatest(n_bi, 1), 6) AS dup_2gram_frac,
       (2.0 * coalesce(list_aggregate(cpos, 'max'), 0) / n_tok
            <= {_REP_TOP2_MAX}
        AND len(list_filter(cpos, c -> c >= 2))::DOUBLE
            / greatest(n_bi, 1) <= {_REP_DUP2_MAX}) AS keep
FROM m
"""


@register(
    "gopher_repetition_filters",
    oracle=_REPETITION_ORACLE,
    tags=("corpus", "quality", "curation"),
    bench=True,
)
def gopher_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality gate (Gopher, Rae et al. 2021
    §A1.1): fraction of tokens covered by the most frequent 2-gram and
    fraction of 2-gram slots whose gram repeats inside the document —
    the filters that catch boilerplate loops, keyword stuffing, and
    decode-degenerate text that corpus-LEVEL dedup never sees because
    the repetition is internal to one document.

    Plan shape: operators/repetition.py::bigram_repetition_stats —
    a SCAN-LOCAL sorted-gram fold (zero shuffles, O(L log L)) for
    documents up to REP_CUTOVER_TOKENS, and the explode +
    groupBy(doc_id, gram) census above it, so a single megabyte
    document never materializes its gram array in one row; the census
    branch's scan is pruned to nothing on short-document corpora by
    the pushable n_chars guard. Cross-path equivalence is pinned by
    tests/test_repetition_cutover.py."""
    from emails_to_vector_db_spark.operators.repetition import (
        bigram_repetition_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    d = docs.select("doc_id", toks.alias("toks"), "n_chars")
    stats = bigram_repetition_stats(d, chars_col="n_chars")
    top_frac = 2.0 * F.col("max_gram_count") / F.col("n_tok")
    dup_frac = F.col("dup_gram_slots").cast("double") / F.greatest(
        F.col("n_bi"), F.lit(1)
    )
    return stats.select(
        "doc_id",
        F.col("n_tok").alias("n_tok"),
        F.round(top_frac, 6).alias("top_2gram_frac"),
        F.round(dup_frac, 6).alias("dup_2gram_frac"),
        (
            (top_frac <= _REP_TOP2_MAX) & (dup_frac <= _REP_DUP2_MAX)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Per-source token-distribution KL divergence vs the corpus mixture
# ---------------------------------------------------------------------------

_KL_ORACLE = f"""
WITH toks AS (
    SELECT source, unnest({_TOKENS_SQL}) AS tok FROM documents
),
corpus AS (SELECT tok, count(*)::DOUBLE AS ct FROM toks GROUP BY tok),
tot AS (SELECT sum(ct) AS n, count(*)::DOUBLE AS v FROM corpus),
src AS (SELECT source, count(*)::DOUBLE AS ns FROM toks GROUP BY source),
cnt AS (
    SELECT source, tok, count(*)::DOUBLE AS cst
    FROM toks GROUP BY source, tok
),
grid AS (
    SELECT s.source, s.ns, c.tok, c.ct, coalesce(x.cst, 0) AS cst
    FROM src s
    CROSS JOIN corpus c
    LEFT JOIN cnt x ON x.source = s.source AND x.tok = c.tok
)
SELECT g.source,
       min(g.ns)::BIGINT AS n_tokens,
       count(*) FILTER (g.cst > 0)::BIGINT AS vocab_used,
       round(sum(((g.cst + 1) / (g.ns + t.v))
                 * ln(((g.cst + 1) / (g.ns + t.v))
                      / ((g.ct + 1) / (t.n + t.v)))), 6) AS kl_vs_corpus
FROM grid g CROSS JOIN tot t
GROUP BY g.source
"""


@register(
    "source_token_kl",
    oracle=_KL_ORACLE,
    tags=("corpus", "curation", "drift", "stats"),
    bench=True,
)
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the add-one-smoothed token
    distribution against the whole-corpus mixture — the domain-shift
    number a mixing-weight pass (source_mixing_weights, DSIR) reads
    before deciding how hard to up/down-sample a source: near-zero KL
    means the source is redundant with the mixture, large KL means it
    contributes novel (or broken) text. Smoothing is over the corpus
    vocabulary so every source is scored on the SAME support.

    Plan shape: one tokenize pass feeds the corpus histogram, the
    per-source histogram, and the per-source totals; the KL grid is
    sources x vocabulary — the corpus-side histogram joins in as a
    vocabulary-sized table (broadcast under the
    plans/corpus.py::_scoring_join cutover, plain shuffle join
    beyond), and zero-count cells come from the grid's left join, not
    from materializing zeros. The corpus-scale token stream shuffles
    once (the histogram groupBy); everything after is vocab-sized."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(TX.tokens("text")).alias("tok")
    )
    corpus = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("double").alias("ct")
    )
    tot = F.broadcast(
        corpus.agg(
            F.sum("ct").alias("n"),
            F.count(F.lit(1)).cast("double").alias("v"),
        )
    )
    src = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("ns")
    )
    cnt = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("cst")
    )
    grid = (
        F.broadcast(src)
        .crossJoin(corpus)
        .join(cnt, ["source", "tok"], "left")
        .select(
            "source",
            "ns",
            "tok",
            "ct",
            F.coalesce("cst", F.lit(0.0)).alias("cst"),
        )
    )
    p = (F.col("cst") + 1) / (F.col("ns") + F.col("v"))
    q = (F.col("ct") + 1) / (F.col("n") + F.col("v"))
    return (
        grid.crossJoin(tot)
        .groupBy("source")
        .agg(
            F.min("ns").cast("long").alias("n_tokens"),
            F.count(F.when(F.col("cst") > 0, 1)).alias("vocab_used"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document token-entropy quality signal
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = f"""
WITH t AS (
    SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
m AS (
    SELECT doc_id, len(toks) AS n_tok,
           list_distinct(toks) AS dt,
           list_transform(list_distinct(toks),
               x -> len(list_filter(toks, y -> y = x))) AS cnts
    FROM t
)
SELECT doc_id,
       n_tok::BIGINT AS n_tok,
       len(dt)::BIGINT AS n_distinct,
       round(-list_sum(list_transform(cnts,
           c -> (c::DOUBLE / n_tok) * ln(c::DOUBLE / n_tok))), 6)
           AS token_entropy,
       CASE WHEN len(dt) > 1
            THEN round(-list_sum(list_transform(cnts,
                     c -> (c::DOUBLE / n_tok) * ln(c::DOUBLE / n_tok)))
                 / ln(len(dt)), 6)
            ELSE 0.0 END AS norm_entropy
FROM m
"""


@register(
    "doc_entropy_stats",
    oracle=_ENTROPY_ORACLE,
    tags=("corpus", "quality", "stats"),
)
def doc_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution, raw and
    normalized by log vocabulary size — the information-density member
    of the quality family: low normalized entropy flags degenerate
    repetition the length/stopword/punctuation scores miss, high
    entropy flags token-soup with no dominant register (both tails are
    curation-review candidates). Entirely scan-local array expressions
    (distinct + per-distinct-token count + fold), zero shuffles at any
    corpus size; O(V·L) per doc bounded by document length, with the
    explode+groupBy long-doc fallback the repetition filters already
    name."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    m = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.array_distinct(toks).alias("dt"),
        F.transform(
            F.array_distinct(toks),
            lambda x: F.size(F.filter(toks, lambda y: y == x)),
        ).alias("cnts"),
    )
    p = lambda c: c.cast("double") / F.col("n_tok")  # noqa: E731
    h = -F.aggregate(
        F.transform(F.col("cnts"), lambda c: p(c) * F.log(p(c))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return m.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.size("dt").cast("long").alias("n_distinct"),
        F.round(h, 6).alias("token_entropy"),
        F.when(
            F.size("dt") > 1, F.round(h / F.log(F.size("dt")), 6)
        )
        .otherwise(0.0)
        .alias("norm_entropy"),
    )


# ---------------------------------------------------------------------------
# Chi-square discriminative keyword extraction per source
# ---------------------------------------------------------------------------

_CHI2_TOP_TERMS = 5

_CHI2_KEYWORDS_ORACLE = f"""
WITH toks AS (
    SELECT source, unnest({_TOKENS_SQL}) AS tok FROM documents
),
cells AS (
    SELECT source, tok, count(*)::DOUBLE AS a
    FROM toks GROUP BY source, tok
),
tokc AS (SELECT tok, sum(a) AS tc FROM cells GROUP BY tok),
srcc AS (SELECT source, sum(a) AS sc FROM cells GROUP BY source),
tot AS (SELECT sum(a) AS n FROM cells),
scored AS (
    SELECT c.source, c.tok, c.a,
           t.n * pow(c.a * (t.n - k.tc - s.sc + c.a)
                     - (k.tc - c.a) * (s.sc - c.a), 2)
           / (k.tc * (t.n - k.tc) * s.sc * (t.n - s.sc)) AS chi2
    FROM cells c
    JOIN tokc k USING (tok)
    JOIN srcc s USING (source)
    CROSS JOIN tot t
),
ranked AS (
    SELECT source, tok, a::BIGINT AS n_in_source,
           round(chi2, 6) AS chi2,
           row_number() OVER (
               PARTITION BY source
               ORDER BY round(chi2, 6) DESC, tok ASC
           ) AS rank
    FROM scored
)
SELECT source, tok, n_in_source, chi2, rank::BIGINT AS rank
FROM ranked WHERE rank <= {_CHI2_TOP_TERMS}
"""


@register(
    "source_keyword_chi2",
    oracle=_CHI2_KEYWORDS_ORACLE,
    tags=("corpus", "text", "feature-selection"),
)
def source_keyword_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_CHI2_TOP_TERMS} discriminative keywords per source by
    chi-square association between token occurrence and source
    membership (the scikit-learn chi2 feature-selection statistic over
    the 2x2 token-vs-source contingency) — what a curation reviewer
    reads to see WHAT a source actually contains, and the
    feature-selection primitive for the NB/logreg filter lanes.

    Plan shape: one tokenize pass feeds the (source, token) cell
    aggregation; token and source margins are re-aggregations of the
    vocabulary-sized cell table (never the corpus); the chi-square is
    arithmetic over broadcast margins and the top-k is a per-source
    window over cells, partitioned on source — bounded groups, rounded
    score ordering."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(TX.tokens("text")).alias("tok")
    )
    cells = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("a")
    )
    from pyspark import StorageLevel

    cells = cells.persist(StorageLevel.MEMORY_AND_DISK)
    tokc = cells.groupBy("tok").agg(F.sum("a").alias("tc"))
    srcc = cells.groupBy("source").agg(F.sum("a").alias("sc"))
    tot = F.broadcast(cells.agg(F.sum("a").alias("n")))
    chi2 = (
        F.col("n")
        * F.pow(
            F.col("a")
            * (F.col("n") - F.col("tc") - F.col("sc") + F.col("a"))
            - (F.col("tc") - F.col("a")) * (F.col("sc") - F.col("a")),
            2,
        )
        / (
            F.col("tc")
            * (F.col("n") - F.col("tc"))
            * F.col("sc")
            * (F.col("n") - F.col("sc"))
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.round(chi2, 6).desc(), F.col("tok").asc()
    )
    return (
        cells.join(F.broadcast(tokc), "tok")
        .join(F.broadcast(srcc), "source")
        .crossJoin(tot)
        .select(
            "source",
            "tok",
            F.col("a").cast("long").alias("n_in_source"),
            F.round(chi2, 6).alias("chi2"),
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .where(F.col("rank") <= _CHI2_TOP_TERMS)
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit over the token vocabulary
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = f"""
WITH freq AS (
    SELECT tok, count(*)::DOUBLE AS f
    FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
    GROUP BY tok
),
ranked AS (
    SELECT ln(row_number() OVER (ORDER BY f DESC, tok ASC)) AS lr,
           ln(f) AS lf
    FROM freq
),
m AS (
    SELECT count(*)::DOUBLE AS n, sum(lr) AS sx, sum(lf) AS sy,
           sum(lr * lr) AS sxx, sum(lf * lf) AS syy, sum(lr * lf) AS sxy
    FROM ranked
)
SELECT n::BIGINT AS vocab_size,
       round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS zipf_slope,
       round(pow(sxy - sx * sy / n, 2)
             / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r_squared,
       ((sxy - sx * sy / n) / (sxx - sx * sx / n) <= -0.8) AS is_zipfian
FROM m
"""


@register(
    "zipf_slope_fit",
    oracle=_ZIPF_ORACLE,
    tags=("corpus", "stats", "linguistics"),
)
def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law check: the log-log slope of the token rank-frequency
    curve with its R² — natural language sits near slope −1, so a
    corpus that fits badly (this synthetic near-uniform vocabulary
    correctly reports a shallow slope and is_zipfian = false) is
    flagged as machine-generated, template-heavy, or decode-corrupted:
    one of the cheapest whole-corpus authenticity signals a curation
    pipeline can run.

    Plan shape: one token census (the corpus-scale pass), a
    vocabulary-sized DISTRIBUTED rank (operators/ranking.py — range-
    partition by (f desc, tok), local row_number, broadcast offsets;
    web-scale vocabularies with IDs/typos reach 1e8+ types, so the
    rank must never collapse to one partition), and a 1-row moment
    aggregate for the closed-form fit."""
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("f"))
    )
    ranked = distributed_row_number(
        freq, [F.col("f").desc(), F.col("tok").asc()], "rank"
    ).select(
        F.log("rank").alias("lr"),
        F.log("f").alias("lf"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("lr").alias("sx"),
        F.sum("lf").alias("sy"),
        F.sum(F.col("lr") * F.col("lr")).alias("sxx"),
        F.sum(F.col("lf") * F.col("lf")).alias("syy"),
        F.sum(F.col("lr") * F.col("lf")).alias("sxy"),
    )
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    slope = sxy_c / sxx_c
    return m.select(
        F.col("n").cast("long").alias("vocab_size"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(F.pow(sxy_c, 2) / (sxx_c * syy_c), 6).alias("r_squared"),
        (slope <= -0.8).alias("is_zipfian"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary-growth fit over the ingest order
# ---------------------------------------------------------------------------

_HEAPS_ORACLE = f"""
WITH per_doc AS (
    SELECT doc_id, len({_TOKENS_SQL}) AS n_tok FROM documents
),
firsts AS (
    SELECT min(doc_id) AS first_doc
    FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents)
    GROUP BY tok
),
gains AS (
    SELECT first_doc AS doc_id, count(*)::DOUBLE AS v_gain
    FROM firsts GROUP BY first_doc
),
curve AS (
    SELECT ln(sum(p.n_tok) OVER (ORDER BY p.doc_id)) AS lx,
           ln(sum(coalesce(g.v_gain, 0)) OVER (ORDER BY p.doc_id)) AS ly
    FROM per_doc p LEFT JOIN gains g USING (doc_id)
),
m AS (
    SELECT count(*)::DOUBLE AS n, sum(lx) AS sx, sum(ly) AS sy,
           sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
    FROM curve
),
tot AS (
    SELECT sum(n_tok)::BIGINT AS total_tokens FROM per_doc
),
voc AS (SELECT count(*)::BIGINT AS total_vocab FROM firsts)
SELECT tot.total_tokens, voc.total_vocab,
       round((m.sxy - m.sx * m.sy / m.n)
             / (m.sxx - m.sx * m.sx / m.n), 6) AS heaps_beta,
       round(m.sy / m.n - (m.sxy - m.sx * m.sy / m.n)
             / (m.sxx - m.sx * m.sx / m.n) * m.sx / m.n, 6) AS heaps_ln_k
FROM m CROSS JOIN tot CROSS JOIN voc
"""


@register(
    "heaps_law_vocab_growth",
    oracle=_HEAPS_ORACLE,
    tags=("corpus", "stats", "linguistics"),
)
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K·n^β of vocabulary growth against tokens
    ingested (in doc_id order): natural corpora grow vocabulary as a
    power law (β≈0.4–0.6) indefinitely — a vocabulary that SATURATES
    (β→0, as this closed-vocabulary fixture correctly reports) tells a
    tokenizer-training or dedup pass that it has seen essentially all
    the types it ever will, which is exactly when shingle/vocab tables
    stop growing and broadcast plans stay valid.

    Plan shape: token first-occurrences are one census (min doc_id per
    token — corpus-scale pass, map-side combinable); the growth curve
    is two DISTRIBUTED cumulative sums over the DOC-level table
    (range-partition → partition-local prefix → broadcast offsets,
    operators/ranking.py — no single-partition window even though the
    table is doc-grain, i.e. data-sized); the log-log fit is a 1-row
    moment aggregate. Nothing ever sorts globally."""
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_prefix_agg,
    )

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id", F.size(TX.tokens("text")).alias("n_tok")
    )
    firsts = (
        docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    gains = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("double").alias("v_gain")
    )
    curve = distributed_prefix_agg(
        per_doc.join(gains, "doc_id", "left").select(
            "doc_id",
            "n_tok",
            F.coalesce("v_gain", F.lit(0.0)).alias("v_gain"),
        ),
        [F.col("doc_id")],
        sums=[("n_tok", "cum_tok"), ("v_gain", "cum_voc")],
    ).select(
        F.log("cum_tok").alias("lx"), F.log("cum_voc").alias("ly")
    )
    m = curve.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    tot = F.broadcast(
        per_doc.agg(F.sum("n_tok").cast("long").alias("total_tokens"))
    )
    voc = F.broadcast(
        firsts.agg(F.count(F.lit(1)).alias("total_vocab"))
    )
    beta = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    return (
        m.crossJoin(tot)
        .crossJoin(voc)
        .select(
            "total_tokens",
            "total_vocab",
            F.round(beta, 6).alias("heaps_beta"),
            F.round(
                F.col("sy") / F.col("n")
                - beta * F.col("sx") / F.col("n"),
                6,
            ).alias("heaps_ln_k"),
        )
    )


# ---------------------------------------------------------------------------
# Pairwise source-vocabulary overlap matrix
# ---------------------------------------------------------------------------

_VOCAB_OVERLAP_ORACLE = f"""
WITH v AS (
    SELECT DISTINCT source, tok FROM (
        SELECT source, unnest({_TOKENS_SQL}) AS tok FROM documents
    )
),
sz AS (SELECT source, count(*)::BIGINT AS n FROM v GROUP BY source),
inter AS (
    SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS i
    FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
    GROUP BY 1, 2
)
SELECT x.src_a, x.src_b,
       sa.n AS vocab_a, sb.n AS vocab_b, x.i AS n_shared,
       round(x.i::DOUBLE / (sa.n + sb.n - x.i), 6) AS jaccard,
       round(x.i::DOUBLE / least(sa.n, sb.n), 6) AS overlap_coef
FROM inter x
JOIN sz sa ON sa.source = x.src_a
JOIN sz sb ON sb.source = x.src_b
"""


@register(
    "source_vocab_overlap",
    oracle=_VOCAB_OVERLAP_ORACLE,
    tags=("corpus", "curation", "setsim"),
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap matrix: Jaccard and overlap
    coefficient between every pair of sources' distinct-token sets —
    the PAIRWISE companion to source_token_kl (KL scores each source
    against the corpus mixture; this says which sources duplicate EACH
    OTHER'S lexicon, the signal for merging or deduplicating whole
    sources before mixing weights are fit).

    Plan shape: one distinct (source, token) census; intersections
    come from a token-keyed self-join of the vocabulary table (never
    the corpus), sizes broadcast onto the |sources|²-row result."""
    docs = load_table(spark, sf_dir, "documents")
    v = (
        docs.select("source", F.explode(TX.tokens("text")).alias("tok"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = v.alias("a")
    b = v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sz.select(
        F.col("source").alias("src_a"), F.col("n").alias("vocab_a")
    )
    sb = sz.select(
        F.col("source").alias("src_b"), F.col("n").alias("vocab_b")
    )
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "vocab_a",
            "vocab_b",
            F.col("i").alias("n_shared"),
            F.round(
                F.col("i")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("i")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("i") / F.least("vocab_a", "vocab_b"), 6
            ).alias("overlap_coef"),
        )
    )


# ---------------------------------------------------------------------------
# MATTR: moving-average type-token ratio (length-controlled diversity)
# ---------------------------------------------------------------------------

_MATTR_W = 25

_MATTR_ORACLE = f"""
WITH t AS (
    SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
m AS (
    SELECT doc_id, len(toks) AS n_tok,
           CASE WHEN len(toks) >= {_MATTR_W}
                THEN list_avg(list_transform(
                    generate_series(1, len(toks) - {_MATTR_W - 1}),
                    i -> len(list_distinct(toks[i:i + {_MATTR_W - 1}]))
                         / {_MATTR_W}.0))
           END AS mattr,
           len(list_distinct(toks))::DOUBLE / len(toks) AS raw_ttr
    FROM t
)
SELECT doc_id, n_tok::BIGINT AS n_tok,
       round(raw_ttr, 6) AS raw_ttr,
       round(mattr, 6) AS mattr
FROM m
WHERE mattr IS NOT NULL
"""


@register(
    "mattr_lexical_diversity",
    oracle=_MATTR_ORACLE,
    tags=("corpus", "quality", "linguistics"),
)
def mattr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average type-token ratio (MATTR, Covington & McFall
    2010): lexical diversity averaged over every {_MATTR_W}-token
    window, reported beside the raw TTR — raw TTR falls mechanically
    with document length (long docs repeat function words), so
    comparing diversity ACROSS lengths requires the windowed form;
    the gap between the two columns is itself the length-bias
    measurement.

    Plan shape: entirely scan-local array expressions (a distinct
    count per sliding window — the gopher_repetition_filters cost
    profile, O(L·W) per doc), zero shuffles; documents shorter than
    the window drop out identically in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    win_ttrs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (_MATTR_W - 1)),
        lambda i: F.size(
            F.array_distinct(F.slice("toks", i, _MATTR_W))
        )
        / float(_MATTR_W),
    )
    mattr = F.when(
        F.size("toks") >= _MATTR_W,
        F.aggregate(
            win_ttrs, F.lit(0.0), lambda acc, v: acc + v
        )
        / F.size(win_ttrs),
    )
    m = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tok"),
        (
            F.size(F.array_distinct("toks")).cast("double")
            / F.size("toks")
        ).alias("raw_ttr"),
        mattr.alias("mattr"),
    )
    return m.where(F.col("mattr").isNotNull()).select(
        "doc_id",
        "n_tok",
        F.round("raw_ttr", 6).alias("raw_ttr"),
        F.round("mattr", 6).alias("mattr"),
    )


# ---------------------------------------------------------------------------
# Duplicate n-gram coverage (Lee et al. 2022's substring-dedup signal)
# ---------------------------------------------------------------------------

_DNC_N = 8
_DNC_TOP = 20

_DNC_ORACLE = f"""
WITH docs AS ({_DOCS_CHAIN_SQL}),
tk AS (
    SELECT doc_id, {_TOKENS_SQL} AS T FROM docs
),
occ AS (
    SELECT doc_id, len(T)::BIGINT AS n_tokens, i,
           md5(array_to_string(T[i:i+{_DNC_N - 1}], ' ')) AS fp
    FROM tk, LATERAL unnest(generate_series(1, len(T) - {_DNC_N - 1}))
              AS u(i)
    WHERE len(T) >= {_DNC_N}
),
census AS (
    SELECT fp FROM occ GROUP BY fp
    HAVING count(DISTINCT doc_id) >= 2
),
pos AS (
    SELECT DISTINCT o.doc_id, o.n_tokens, p
    FROM occ o JOIN census c USING (fp),
         LATERAL unnest(generate_series(o.i, o.i + {_DNC_N - 1})) AS g(p)
),
cov AS (
    SELECT doc_id, max(n_tokens) AS n_tokens, count(*)::BIGINT AS covered
    FROM pos GROUP BY doc_id
)
SELECT doc_id, n_tokens, covered AS covered_tokens,
       round(covered / n_tokens::DOUBLE, 6) AS coverage
FROM cov
ORDER BY coverage DESC, doc_id ASC
LIMIT {_DNC_TOP}
"""


@register(
    "duplicate_ngram_coverage",
    oracle=_DNC_ORACLE,
    tags=("dedup", "corpus", "quality", "ngram"),
    bench=True,
)
def duplicate_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate n-gram COVERAGE — the per-document form of Lee et
    al. 2022's "Deduplicating Training Data Makes Language Models
    Better" substring signal: the fraction of a document's token
    positions lying inside at least one 8-gram that also occurs in
    ANOTHER document. span_exact_dedup counts duplicated
    NON-OVERLAPPING spans (cheap, C4-style); this is the sliding-
    window refinement that catches duplication the span grid
    misaligns — the score substring-dedup pipelines threshold on
    (e.g. drop docs with >50% duplicated-gram coverage). Top-20
    most-covered docs over the planted chained-dup corpus (the chains
    score 1.0 by construction — original and twin share every gram).

    Plan shape: one adjacency-preserving tokenize pass emits (doc,
    position, gram-hash); the cross-doc census is a groupBy(fp) with
    an approx-friendly distinct-doc count kept EXACT here (two-level
    agg, map-side combinable), never a window over fp (hot boilerplate
    grams would funnel into one task); only DUPLICATED occurrences
    explode into covered positions (n-fold on the duplicated subset
    only), then per-doc distinct-position counting. Shuffles carry
    16-byte hashes and integer positions, never text."""
    docs = _docs_with_chained_dups(spark, sf_dir)
    w = F.split(F.trim(F.col("text")), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size("T") - (_DNC_N - 1)),
        lambda i: F.struct(
            i.alias("i"),
            F.md5(F.concat_ws(" ", F.slice("T", i, _DNC_N))).alias("fp"),
        ),
    )
    occ = (
        docs.select("doc_id", w.alias("T"))
        .where(F.size("T") >= _DNC_N)
        .select(
            "doc_id",
            F.size("T").cast("long").alias("n_tokens"),
            F.explode(grams).alias("g"),
        )
        .select("doc_id", "n_tokens", "g.i", "g.fp")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    census = (
        occ.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("fp")
    )
    pos = (
        occ.join(census, "fp")
        .select(
            "doc_id",
            "n_tokens",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (_DNC_N - 1))
            ).alias("p"),
        )
        .distinct()
    )
    return (
        pos.groupBy("doc_id")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("covered_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "covered_tokens",
            F.round(
                F.col("covered_tokens") / F.col("n_tokens").cast("double"), 6
            ).alias("coverage"),
        )
        .orderBy(F.col("coverage").desc(), F.col("doc_id").asc())
        .limit(_DNC_TOP)
    )


# ---------------------------------------------------------------------------
# Greedy bigram-LM decoding (deterministic argmax generation in-engine)
# ---------------------------------------------------------------------------

_DECODE_STEPS = 10


def _decode_oracle() -> str:
    steps = []
    prev = "s0"
    for t in range(1, _DECODE_STEPS + 1):
        steps.append(
            f"""s{t} AS (
    SELECT b.w2 AS tok, b.c12 AS c
    FROM bfreq b, {prev}
    WHERE b.w1 = {prev}.tok
    ORDER BY b.c12 DESC, b.w2 ASC
    LIMIT 1
)"""
        )
        prev = f"s{t}"
    step_sql = ",\n".join(steps)
    rows = "\nUNION ALL\n".join(
        f"SELECT {t} AS step, tok, c::BIGINT AS pair_count FROM s{t}"
        for t in range(1, _DECODE_STEPS + 1)
    )
    return f"""
WITH docs AS (
    SELECT {_TOKENS_SQL} AS T FROM documents
),
bg AS (
    SELECT unnest(list_transform(generate_series(1, len(T) - 1),
                  i -> T[i] || chr(9) || T[i+1])) AS b
    FROM docs WHERE len(T) >= 2
),
bfreq AS (
    SELECT string_split(b, chr(9))[1] AS w1,
           string_split(b, chr(9))[2] AS w2,
           count(*)::BIGINT AS c12
    FROM bg GROUP BY 1, 2
),
s0 AS (
    SELECT w1 AS tok, sum(c12) AS c FROM bfreq
    GROUP BY w1 ORDER BY sum(c12) DESC, w1 ASC LIMIT 1
),
{step_sql}
SELECT * FROM (
    SELECT 0 AS step, tok, c::BIGINT AS pair_count FROM s0
    UNION ALL
    {rows}
) ORDER BY step
"""


@register(
    "bigram_greedy_decode",
    oracle=_decode_oracle(),
    tags=("lm", "generation", "iterative", "text"),
)
def bigram_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy decoding from the corpus bigram LM — deterministic
    argmax GENERATION run inside the engine: seed with the most
    frequent history token, then 10 steps of next = argmax_w2
    c(prev, w2) (ties break lexicographically), emitting the decoded
    chain with each transition's support count. The inference twin of
    the perplexity lanes (they SCORE with the model; this SAMPLES its
    mode), and the deterministic skeleton of every LM decode loop —
    swap the argmax for a temperature sampler and the chain for a
    beam and the dataflow is unchanged.

    Plan shape: one bigram-type groupBy builds the model (cached,
    vocabulary-sized); each decode step is a 1-row broadcast state
    joined into the model followed by TakeOrderedAndProject(1) — the
    10-step chain is lineage-linear (one reference per step, no
    checkpoint needed), and the corpus is scanned exactly once."""
    d = load_table(spark, sf_dir, "documents")
    T = F.split(F.trim(F.col("text")), r"\s+")
    bg = (
        d.select(T.alias("T"))
        .where(F.size("T") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("T") - 1),
                    lambda i: F.struct(
                        F.element_at("T", i).alias("w1"),
                        F.element_at("T", i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bfreq = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    seed = (
        bfreq.groupBy("w1")
        .agg(F.sum("c12").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w1").asc())
        .limit(1)
        .select(
            F.lit(0).alias("step"),
            F.col("w1").alias("tok"),
            F.col("c").cast("long").alias("pair_count"),
        )
    )
    out = seed
    prev = seed.select("tok")
    for t in range(1, _DECODE_STEPS + 1):
        nxt = (
            bfreq.join(
                F.broadcast(prev.withColumnRenamed("tok", "w1")), "w1"
            )
            .orderBy(F.col("c12").desc(), F.col("w2").asc())
            .limit(1)
            .select(
                F.lit(t).alias("step"),
                F.col("w2").alias("tok"),
                F.col("c12").cast("long").alias("pair_count"),
            )
        )
        out = out.unionByName(nxt)
        prev = nxt.select("tok")
    return out.orderBy("step")


# ---------------------------------------------------------------------------
# Bigram next-token distribution audit (entropy / top-1 mass / nucleus size)
# ---------------------------------------------------------------------------

_DIST_TOP_HIST = 20
_DIST_P = 0.9

_DIST_ORACLE = f"""
WITH docs AS (
    SELECT {_TOKENS_SQL} AS T FROM documents
),
bg AS (
    SELECT unnest(list_transform(generate_series(1, len(T) - 1),
                  i -> T[i] || chr(9) || T[i+1])) AS b
    FROM docs WHERE len(T) >= 2
),
bfreq AS (
    SELECT string_split(b, chr(9))[1] AS w1,
           string_split(b, chr(9))[2] AS w2,
           count(*)::DOUBLE AS c
    FROM bg GROUP BY 1, 2
),
hist AS (
    SELECT w1, sum(c) AS h FROM bfreq GROUP BY w1
    ORDER BY sum(c) DESC, w1 ASC LIMIT {_DIST_TOP_HIST}
),
dist AS (
    SELECT f.w1, h.h, f.c / h.h AS p,
           row_number() OVER (PARTITION BY f.w1
                              ORDER BY f.c DESC, f.w2 ASC) AS rk,
           sum(f.c / h.h) OVER (PARTITION BY f.w1
                                ORDER BY f.c DESC, f.w2 ASC
                                ROWS UNBOUNDED PRECEDING) AS cum
    FROM bfreq f JOIN hist h ON h.w1 = f.w1
)
SELECT w1 AS history,
       h::BIGINT AS n_continuations_total,
       count(*)::BIGINT AS fanout,
       round(-sum(p * ln(p)), 4) AS entropy,
       round(max(CASE WHEN rk = 1 THEN p END), 4) AS top1_mass,
       min(CASE WHEN cum >= {_DIST_P} THEN rk END)::BIGINT
           AS nucleus_size
FROM dist
GROUP BY w1, h
ORDER BY h DESC, w1 ASC
"""


@register(
    "bigram_distribution_audit",
    oracle=_DIST_ORACLE,
    tags=("lm", "text", "distribution", "audit"),
)
def bigram_distribution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-token DISTRIBUTION audit for the 20 most frequent bigram
    histories: continuation fanout, Shannon entropy, top-1 (greedy)
    mass, and the NUCLEUS size (min k whose cumulative probability
    reaches p=0.9 — exactly the set top-p sampling truncates to). The
    distribution-shape companion to the scoring (perplexity) and
    sampling (greedy decode) lanes: histories with top1_mass ≈ 1 decode
    deterministically, flat high-entropy histories are where sampling
    temperature matters, and nucleus_size is the working vocabulary a
    top-p decoder actually sees per step.

    Plan shape: the bigram-type groupBy is the only corpus shuffle;
    the 20 audited histories come from a TakeOrderedAndProject over the
    history margin; per-history rank/cumulative windows are PARTITIONED
    by history (bounded per-group fanout, no single-partition stage);
    the final rollup is 20 rows."""
    d = load_table(spark, sf_dir, "documents")
    T = F.split(F.trim(F.col("text")), r"\s+")
    bg = (
        d.select(T.alias("T"))
        .where(F.size("T") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("T") - 1),
                    lambda i: F.struct(
                        F.element_at("T", i).alias("w1"),
                        F.element_at("T", i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bfreq = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hist = F.broadcast(
        bfreq.groupBy("w1")
        .agg(F.sum("c").alias("h"))
        .orderBy(F.col("h").desc(), F.col("w1").asc())
        .limit(_DIST_TOP_HIST)
    )
    w_rk = Window.partitionBy("w1").orderBy(
        F.col("c").desc(), F.col("w2").asc()
    )
    dist = (
        bfreq.join(hist, "w1")
        .withColumn("p", F.col("c") / F.col("h"))
        .withColumn("rk", F.row_number().over(w_rk))
        .withColumn(
            "cum",
            F.sum(F.col("c") / F.col("h")).over(
                w_rk.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        dist.groupBy("w1", "h")
        .agg(
            F.count(F.lit(1)).alias("fanout"),
            F.round(-F.sum(F.col("p") * F.log("p")), 4).alias("entropy"),
            F.round(
                F.max(F.when(F.col("rk") == 1, F.col("p"))), 4
            ).alias("top1_mass"),
            F.min(
                F.when(F.col("cum") >= _DIST_P, F.col("rk"))
            ).cast("long").alias("nucleus_size"),
        )
        .select(
            F.col("w1").alias("history"),
            F.col("h").cast("long").alias("n_continuations_total"),
            F.col("fanout").cast("long").alias("fanout"),
            "entropy",
            "top1_mass",
            "nucleus_size",
        )
        .orderBy(F.col("n_continuations_total").desc(), F.col("history").asc())
    )


# ---------------------------------------------------------------------------
# Data-constrained token budget: epochs-per-source plan under a repeat cap
# ---------------------------------------------------------------------------

_EPOCH_BUDGET_X = 4.0  # total training-token budget, as a multiple of corpus
_EPOCH_MAX = 4.0  # repeat ceiling per source (returns decay beyond ~4 epochs)

_EPOCH_ORACLE = f"""
WITH per_source AS (
    SELECT source, sum(len({_TOKENS_SQL}))::DOUBLE AS src_tokens
    FROM documents GROUP BY source
),
tot AS (SELECT sum(src_tokens) AS t FROM per_source),
with_p AS (
    SELECT source, src_tokens, src_tokens / tot.t AS p
    FROM per_source CROSS JOIN tot
),
qs AS (SELECT sum(pow(p, {_ALPHA})) AS qsum FROM with_p),
planned AS (
    SELECT w.source, w.src_tokens,
           pow(w.p, {_ALPHA}) / q.qsum AS share,
           (pow(w.p, {_ALPHA}) / q.qsum) * tot.t * {_EPOCH_BUDGET_X}
               AS target_tokens
    FROM with_p w CROSS JOIN qs q CROSS JOIN tot
)
SELECT source,
       src_tokens::BIGINT AS src_tokens,
       round(share, 6) AS target_share,
       round(target_tokens / src_tokens, 4) AS epochs_needed,
       round(least({_EPOCH_MAX}, target_tokens / src_tokens), 4)
           AS epochs_used,
       round(least({_EPOCH_MAX} * src_tokens, target_tokens), 2)
           AS effective_tokens,
       round(greatest(0.0, target_tokens - {_EPOCH_MAX} * src_tokens), 2)
           AS shortfall_tokens
FROM planned
"""


@register(
    "token_budget_epoch_plan",
    oracle=_EPOCH_ORACLE,
    tags=("corpus", "mixing", "budget", "scaling"),
)
def token_budget_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained training plan (the Muennighoff et al. 2023
    regime): given a total token budget of {_EPOCH_BUDGET_X}x the
    corpus and the alpha={_ALPHA} mixing shares, how many EPOCHS of
    each source does the run consume — capped at {_EPOCH_MAX} repeats
    (past which repeated tokens stop buying loss), with the per-source
    shortfall the cap leaves unfilled. This turns the mixing POLICIES
    (source_mixing_weights, alpha_mixing_weights) into the executable
    repeat plan a dataloader consumes, and the shortfall column is the
    acquisition wishlist: where new data, not more compute, is the
    binding constraint.

    Plan shape: one token-count scan into the source-cardinality
    aggregate (persisted — three tiny derivations read it), two 1-row
    broadcast normalizers, arithmetic on |sources| rows. Zero extra
    corpus passes at any scale."""
    d = load_table(spark, sf_dir, "documents")
    per_source = (
        d.groupBy("source")
        .agg(
            F.sum(
                F.size(F.split(F.trim(F.col("text")), r"\s+"))
            )
            .cast("double")
            .alias("src_tokens")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = F.broadcast(per_source.agg(F.sum("src_tokens").alias("t")))
    with_p = per_source.crossJoin(tot).withColumn(
        "p", F.col("src_tokens") / F.col("t")
    )
    qs = F.broadcast(
        with_p.agg(F.sum(F.pow("p", F.lit(_ALPHA))).alias("qsum"))
    )
    share = F.pow("p", F.lit(_ALPHA)) / F.col("qsum")
    target = share * F.col("t") * _EPOCH_BUDGET_X
    return with_p.crossJoin(qs).select(
        "source",
        F.col("src_tokens").cast("long").alias("src_tokens"),
        F.round(share, 6).alias("target_share"),
        F.round(target / F.col("src_tokens"), 4).alias("epochs_needed"),
        F.round(
            F.least(F.lit(_EPOCH_MAX), target / F.col("src_tokens")), 4
        ).alias("epochs_used"),
        F.round(
            F.least(_EPOCH_MAX * F.col("src_tokens"), target), 2
        ).alias("effective_tokens"),
        F.round(
            F.greatest(
                F.lit(0.0), target - _EPOCH_MAX * F.col("src_tokens")
            ),
            2,
        ).alias("shortfall_tokens"),
    )


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity buckets per source
# ---------------------------------------------------------------------------

_CCNET_BUCKETS = 3

_CCNET_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
),
freq AS (SELECT tok, count(*)::BIGINT AS n FROM toks GROUP BY tok),
tot AS (SELECT sum(n)::DOUBLE AS total FROM freq),
scored AS (
    SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
           round(avg(-ln(f.n::DOUBLE / tt.total)), 6) AS avg_nll
    FROM toks t JOIN freq f USING (tok) CROSS JOIN tot tt
    GROUP BY t.doc_id
),
bucketed AS (
    SELECT d.source, s.n_tokens, s.avg_nll,
           ntile({_CCNET_BUCKETS}) OVER (
               PARTITION BY d.source ORDER BY s.avg_nll ASC, s.doc_id ASC
           ) AS bucket
    FROM scored s JOIN documents d USING (doc_id)
)
SELECT source,
       CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket,
       count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS n_tokens,
       round(avg(avg_nll), 6) AS mean_nll
FROM bucketed
GROUP BY 1, 2
"""


@register(
    "ccnet_perplexity_buckets",
    oracle=_CCNET_ORACLE,
    tags=("cleaning", "quality", "ccnet", "lm"),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's SELECTION step (Wenzek et al. 2020), not just its score:
    within each source, rank documents by unigram-LM log-perplexity and
    cut head/middle/tail terciles — head is what CCNet keeps, tail is
    what it drops, and the per-bucket token mass is the number that
    says how much data each policy choice gains or costs per source.
    unigram_perplexity_scores surfaces the worst documents; this turns
    the same score into the bucketed curation decision.

    Plan shape: the two-pass LM score (train census + scoring join,
    the unigram_perplexity_scores shape), then ONE source-partitioned
    ntile window — partitioned by source, so it scales as any grouped
    window does (the skew ceiling is the largest single source, the
    standard AQE story), never a global sort. Ranking keys on the
    6dp-ROUNDED score (the rm3 lesson): cross-engine float-sum noise
    cannot flip tercile boundaries."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    freq_base = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    freq = freq_base.crossJoin(
        F.broadcast(
            freq_base.agg(F.sum("n").cast("double").alias("total"))
        )
    )
    scored = (
        _scoring_join(toks, freq, "tok")
        .withColumn(
            "nll", -F.log(F.col("n").cast("double") / F.col("total"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("avg_nll").asc(), F.col("doc_id").asc()
    )
    bucketed = (
        scored.join(d.select("doc_id", "source"), "doc_id")
        .withColumn("bucket", F.ntile(_CCNET_BUCKETS).over(w))
    )
    label = (
        F.when(F.col("bucket") == 1, "head")
        .when(F.col("bucket") == 2, "middle")
        .otherwise("tail")
    )
    return bucketed.groupBy("source", label.alias("ppl_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.round(F.avg("avg_nll"), 6).alias("mean_nll"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: tokens needed to cover X% of corpus mass
# ---------------------------------------------------------------------------

_VC_THRESHOLDS = (0.5, 0.75, 0.9, 0.95, 0.99)

_VC_ORACLE = f"""
WITH freq AS (
    SELECT tok, count(*)::DOUBLE AS n
    FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
    GROUP BY tok
),
tot AS (
    SELECT sum(n) AS total, count(*)::BIGINT AS vocab_full FROM freq
),
ranked AS (
    SELECT n,
           row_number() OVER (ORDER BY n DESC, tok ASC) AS rk,
           sum(n) OVER (ORDER BY n DESC, tok ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
    FROM freq
)
SELECT t.thr::DOUBLE AS coverage_target,
       min(r.rk)::BIGINT AS vocab_size,
       max(tt.vocab_full) AS vocab_full,
       round(min(r.rk) / max(tt.vocab_full)::DOUBLE, 6) AS vocab_fraction
FROM (SELECT unnest([{", ".join(str(t) for t in _VC_THRESHOLDS)}]) AS thr) t
JOIN ranked r ON true
CROSS JOIN tot tt
WHERE r.cum / tt.total >= t.thr
GROUP BY t.thr
"""


@register(
    "vocab_coverage_curve",
    oracle=_VC_ORACLE,
    tags=("corpus", "tokenizer", "vocabulary"),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design curve: how many vocabulary types (ranked by
    frequency) cover 50/75/90/95/99% of corpus token mass — the number
    that sizes a word-level vocab, prices the OOV tail a subword
    tokenizer must absorb, and pairs with zipf_slope_fit (the slope
    says the tail is heavy; this says exactly what the tail costs).

    Plan shape: one token census; the frequency rank AND the running
    mass both come from ONE pass of the operators/ranking.py two-pass
    helpers over the vocabulary table (corpus-grain at web scale — no
    single-partition window); each threshold then reduces to a min-rank
    aggregate over the qualifying suffix. The threshold fan-out is a
    5-row broadcast."""
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_prefix_agg,
        distributed_row_number,
    )

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    order = [F.col("n").desc(), F.col("tok").asc()]
    ranked = distributed_prefix_agg(
        distributed_row_number(freq, order, "rk"), order, sums=[("n", "cum")]
    )
    tot = F.broadcast(
        ranked.agg(
            F.sum("n").alias("total"),
            F.max("rk").cast("long").alias("vocab_full"),
        )
    )
    thr = F.broadcast(
        d.sparkSession.createDataFrame(
            [(t,) for t in _VC_THRESHOLDS], "thr double"
        )
    )
    return (
        ranked.crossJoin(tot)
        .crossJoin(thr)
        .where(F.col("cum") / F.col("total") >= F.col("thr"))
        .groupBy(F.col("thr").alias("coverage_target"))
        .agg(
            F.min("rk").cast("long").alias("vocab_size"),
            F.max("vocab_full").alias("vocab_full"),
            F.round(
                F.min("rk") / F.max("vocab_full").cast("double"), 6
            ).alias("vocab_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# Longest duplicate substring via suffix-ordered adjacency (Lee et al.)
# ---------------------------------------------------------------------------

_LDS_K = 24  # suffix-prefix cap in tokens — THE scalability knob
_LDS_MIN = 2  # report only duplicated substrings of >= 2 tokens
_LDS_TOP = 20

_LDS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS arr FROM documents
),
pos AS (
    SELECT doc_id, arr,
           unnest(generate_series(1, len(arr))) AS pos
    FROM toks
),
suf AS (
    SELECT doc_id, pos,
           arr[pos : least(len(arr), pos + {_LDS_K} - 1)] AS suf
    FROM pos
),
keyed AS (
    SELECT doc_id, pos, suf, array_to_string(suf, ' ') AS k FROM suf
),
adj AS (
    SELECT suf,
           lead(suf) OVER (ORDER BY k ASC, doc_id ASC, pos ASC) AS nsuf
    FROM keyed
),
lcp AS (
    SELECT suf,
           coalesce(
               nullif(
                   list_position(
                       list_transform(
                           generate_series(1, least(len(suf), len(nsuf))),
                           i -> suf[i] = nsuf[i]),
                       false),
                   0) - 1,
               least(len(suf), len(nsuf))
           ) AS l
    FROM adj WHERE nsuf IS NOT NULL
),
dups AS (
    SELECT array_to_string(suf[1:l], ' ') AS dup_text, l
    FROM lcp WHERE l >= {_LDS_MIN}
)
SELECT dup_text,
       l::BIGINT AS dup_tokens,
       count(*)::BIGINT AS n_adjacent_pairs
FROM dups GROUP BY dup_text, l
ORDER BY dup_tokens DESC, dup_text ASC
LIMIT {_LDS_TOP}
"""


@register(
    "longest_dup_substring",
    oracle=_LDS_ORACLE,
    tags=("cleaning", "dedup", "substring", "suffix-array"),
    bench=True,
)
def longest_dup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest duplicated substrings via suffix-ordered adjacency — the
    actual artifact of Lee et al. 2021's suffix-array dedup, which
    substring_window_dedup only approximates at a FIXED 16-token
    window: sort every token-position suffix (truncated to the 24-token
    cap — the scalability knob; duplicates longer than the cap report
    as cap-length), then the classic suffix-array property gives the
    global answer from ADJACENT pairs only — for any two suffixes with
    a common prefix of length L, every suffix between them in sorted
    order shares that prefix (token boundaries survive the string sort
    because the separator sorts below every token character), so the
    max LCP over all pairs equals the max over the n-1 adjacent pairs —
    quadratic pair space never materializes. Emits the top-20 duplicate
    substrings by token length with their adjacent-pair counts.

    Plan shape at 100 TB: suffix rows are one per corpus token (the
    cap bounds row WIDTH, so the sort input is <= cap x corpus bytes);
    ONE hash exchange carries only (g2, k) — the token arrays are
    re-derived from k by split() after the exchange, never shipped
    (k IS the space-joined suffix, so the split is exact, not a
    re-tokenize). r12 prefix-bucketed two-level sort: the bucket key
    g2 is the suffix's first _LDS_MIN tokens, the window partitions by
    g2 and sorts by k WITHIN each bucket — the window re-uses its own
    hash exchange (verified: one Exchange hashpartitioning(g2) in the
    plan, vs the r11 range form whose partitionBy(__pid) window forced
    a second corpus-sized Exchange the range partitioning could not
    satisfy — the r11 ADVICE finding). Equivalence to the global
    suffix sort: (a) every k sharing a g2 value is CONTIGUOUS in the
    global string order (the separator sorts below every token
    character, the same argument that makes token boundaries survive
    the sort), so within-bucket adjacency IS global adjacency
    restricted to the bucket; (b) a globally-adjacent pair that
    straddles two buckets differs in its first _LDS_MIN tokens, hence
    has LCP < _LDS_MIN and is dropped by the l >= _LDS_MIN filter in
    both forms; (c) the pair multiset is invariant to tie order among
    equal k (tied runs emit (k,k) pairs regardless of permutation) —
    so the l >= MIN pair multiset, and therefore the aggregate, is
    IDENTICAL, and the r11 boundary-stitch frames (persist + bounds +
    cluster-width global window) are no longer needed at all. Skew
    honesty: the largest window partition is bounded by the hottest
    _LDS_MIN-token prefix's occurrence count (AQE skew handling does
    not split windows); natural-language bigram frequencies cap that
    in the low single-digit percents of corpus tokens, and a hotter
    template prefix is exactly a giant duplicate run — whose bucket
    sort is near-linear (all keys equal). The LCP is a scan-local
    UNROLLED first-mismatch CASE — 24 static try_element_at equality
    branches, built as one F.expr string — instead of the
    transform()/array_position higher-order fold: HOF lambdas do not
    participate in whole-stage codegen, and the interpreted fold
    measured 2-3x the unrolled codegen chain on this corpus (the r8
    interpreted-HOF cutover lesson, minus the Python boundary: the cap
    is small enough that unrolling stays native). The CASE references
    each equality once (linear tree — an incremental prefix-AND nested
    pref_{i-1} inside pref_i and sent codegen's subexpression
    elimination into seconds of recursive driver work per run) and one
    expr string is one py4j call (~3ms each on this sandbox — a 150-op
    Column loop pays ~1.5s of plan-build wall).
    The (l, suf) pair is persisted before the l >= MIN filter: filter
    pushdown would otherwise substitute the whole LCP chain (with its
    split() calls re-inlined) into a scan-level predicate and evaluate
    it twice per row (the r11 pushdown-inlining trap) — the cache
    barrier makes the filter read a cached scalar. The final aggregate
    is dup-substring-grain."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", TX.tokens("text").alias("arr"))
    keyed = toks.select(
        F.explode(F.sequence(F.lit(1), F.size("arr"))).alias("pos"),
        "arr",
    ).select(
        F.concat_ws(
            " ", F.slice(F.col("arr"), F.col("pos"), _LDS_MIN)
        ).alias("g2"),
        F.concat_ws(
            " ", F.slice(F.col("arr"), F.col("pos"), _LDS_K)
        ).alias("k"),
    )
    w = Window.partitionBy("g2").orderBy(F.col("k").asc())
    adj = (
        keyed.select("g2", "k", F.lead("k").over(w).alias("nk"))
        .where(F.col("nk").isNotNull())
        .select(
            F.split("k", " ").alias("suf"),
            F.split("nk", " ").alias("nsuf"),
        )
    )
    # unrolled LCP: first-mismatch CASE over the first _LDS_K element
    # equalities — pure whole-stage codegen, equal to array_position-
    # of-first-mismatch (try_element_at past either array's end is
    # NULL -> coalesce False breaks the prefix exactly at min(len)
    # like the bounded fold did). Built as ONE F.expr string: (a) each
    # equality appears ONCE, so the expression tree is linear in the
    # cap — an earlier incremental prefix-AND form nested pref_{i-1}
    # inside pref_i and drove codegen's subexpression elimination into
    # seconds of recursive driver work per run (thread-dumped:
    # ResultQueryStageExecution pinned in
    # evaluateSubExprEliminationState); (b) one py4j call instead of
    # ~150 Column ops — this sandbox measures ~3ms per py4j roundtrip
    # (10-50x typical loopback), so chatty Column-loop construction
    # costs real plan-build seconds.
    eqs = [
        f"coalesce(try_element_at(suf, {i}) = try_element_at(nsuf, {i}),"
        " false)"
        for i in range(1, _LDS_K + 1)
    ]
    whens = " ".join(
        f"WHEN NOT {eq} THEN {i}" for i, eq in enumerate(eqs)
    )
    lcp = F.expr(f"CASE {whens} ELSE {_LDS_K} END")
    ls = adj.select(lcp.alias("l"), F.col("suf")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dups = ls.where(F.col("l") >= _LDS_MIN).select(
        F.concat_ws(" ", F.slice(F.col("suf"), 1, F.col("l"))).alias(
            "dup_text"
        ),
        F.col("l").cast("long").alias("dup_tokens"),
    )
    return (
        dups.groupBy("dup_text", "dup_tokens")
        .agg(F.count(F.lit(1)).alias("n_adjacent_pairs"))
        .orderBy(
            F.col("dup_tokens").desc(), F.col("dup_text").asc()
        )
        .limit(_LDS_TOP)
    )
