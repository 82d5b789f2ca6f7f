"""Corpus-curation operators for LLM-training-data pipelines:
benchmark decontamination, sequence packing, and temperature
resampling — the steps between "deduplicated documents" and "training
batches" that the dedup/quality tiers (``operators/dedup.py``,
``plans/llmdata.py``) feed into.

All three are pure DataFrame expressions on the portable 60-bit hash
(``functions.text.hash64``), so every decision — which doc is flagged
contaminated, which sequence a token lands in, which doc survives
resampling — replays verbatim in the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.functions.text import (
    hash64,
    token_count,
    word_ngrams,
)


def contamination_flags(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag every training document whose
    distinct token ``n``-grams overlap the EVAL set's gram set in at
    least ``min_overlap`` grams (the standard n-gram contamination
    check run before any pretraining corpus ships).

    Returns ``(id_col, n_grams, n_overlap, contaminated)`` — one row
    per training doc, zero-overlap docs included.

    Scale shape: eval benchmarks are tiny next to the corpus (10^3-10^5
    docs), so the distinct eval gram-hash set BROADCASTS and the
    corpus-side probe is explode → broadcast-hash LEFT join → one
    doc-keyed groupBy whose counts combine map-side — the only
    corpus-wide shuffle carries one small row per doc per partition.
    Grams are distinct'd ARRAY-side before the explode, so a gram
    repeated inside one doc costs one probe row. If the eval set ever
    outgrows broadcast, drop the hint and the same plan degrades to a
    shuffle equi-join on the gram hash.
    """
    eval_grams = (
        eval_docs.select(
            F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("_g")
        )
        .select(hash64(F.col("_g")).alias("_gh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("_g"),
    ).select(id_col, hash64(F.col("_g")).alias("_gh"))
    return (
        doc_grams.join(F.broadcast(eval_grams), "_gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_overlap"),
        )
        .select(
            id_col,
            "n_grams",
            "n_overlap",
            (F.col("n_overlap") >= min_overlap).alias("contaminated"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 512,
    n_shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard pretraining
    batch layout: within a shard, documents concatenate in id order
    and sequence boundaries fall every ``seq_len`` tokens. Emits per
    doc: its shard, token count, starting token offset in the shard
    stream, and the first/last/count of the fixed-length sequences it
    lands in (a doc spanning a boundary is split across sequences —
    the usual pretraining treatment, not padded bin packing).

    Scale shape: the running offset is a window cumsum PARTITIONED BY
    SHARD — there is deliberately no global ordering (a single-
    partition window is the classic 100 TB bottleneck); parallelism =
    ``n_shards``, so size it to the cluster (thousands at scale). The
    shard assignment ``id mod n_shards`` is deterministic and engine-
    portable, and within-shard layout depends only on ids — the whole
    layout replays in SQL.
    """
    d = docs.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).alias("shard"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.withColumn("start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("first_seq", F.expr(f"start_offset div {seq_len}"))
        .withColumn(
            "last_seq", F.expr(f"(start_offset + n_tokens - 1) div {seq_len}")
        )
        .select(
            id_col,
            "shard",
            "n_tokens",
            "start_offset",
            "first_seq",
            "last_seq",
            (F.col("last_seq") - F.col("first_seq") + 1).alias("n_seqs"),
        )
    )


def temperature_sample(
    docs: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "tsample",
) -> DataFrame:
    """Deterministic temperature-style language rebalancing: every doc
    of the SMALLEST language is kept; a language with ``n_l`` docs
    keeps ``floor(sqrt(n_min / n_l) · 10^6)`` per million — the T = 2
    temperature curve that upweights low-resource languages relative
    to proportional sampling (cf. the multilingual-pretraining
    sampling literature). The keep decision hashes the salted doc id,
    so membership is a pure function of (corpus counts, id): no RNG,
    reproducible across engines and runs.

    Float-portability note: ``sqrt`` and double division are IEEE
    correctly-rounded single operations, so ``floor(sqrt(n_min/n_l) ·
    1e6)`` is bit-identical in Spark and DuckDB — the only floats in
    the operator pass through exactly two rounded ops before the
    integer floor.

    Returns ``(id_col, lang, rate_ppm, kept)`` for every input doc.
    Scale shape: per-language counts are a tiny agg (|langs| rows)
    broadcast back onto the corpus; the keep decision is a projection
    — zero corpus-wide shuffle beyond the count.
    """
    counts = docs.groupBy(lang_col).agg(F.count(F.lit(1)).alias("_nl"))
    rates = counts.crossJoin(
        F.broadcast(counts.agg(F.min("_nl").alias("_nmin")))
    ).select(
        lang_col,
        F.floor(F.sqrt(F.col("_nmin") / F.col("_nl")) * F.lit(1_000_000))
        .cast("long")
        .alias("rate_ppm"),
    )
    keep_hash = hash64(
        F.concat_ws("|", F.col(id_col).cast("string"), F.lit(salt))
    ) % F.lit(1_000_000)
    return (
        docs.select(id_col, lang_col)
        .join(F.broadcast(rates), lang_col)
        .select(
            id_col,
            lang_col,
            "rate_ppm",
            (keep_hash < F.col("rate_ppm")).alias("kept"),
        )
    )


#: last eagerly-persisted RESULT DataFrame (see importance_scores) and
#: the application id of the context that holds its blocks: at most
#: one invocation's (small, doc-level) result stays persisted; the
#: exploded-gram cache itself never survives the call.
_LAST_RESULT_CACHE: dict = {}


def importance_scores(
    docs: DataFrame,
    target_docs: DataFrame,
    n_buckets: int = 1024,
    ngram: int = 2,
    scale: int = 1_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_grams: bool = True,
) -> DataFrame:
    """DSIR-shaped importance scoring (Xie et al. 2023, "Data
    Selection via Importance Resampling"): rank raw documents by how
    much their hashed n-gram profile looks like a TARGET corpus.
    Features are n-grams hashed into ``n_buckets`` buckets; each
    bucket gets the add-one-smoothed likelihood ratio
    ``(target_count+1)·scale div (raw_count+1)`` and a document scores
    the SUM of its grams' bucket ratios (positional grams — repeats
    count, as in hashed-count features).

    Integer-exact variant: the published method sums log-ratios, but
    float logs would make the score depend on summation order across
    engines; truncating-integer linear ratios keep the same target-
    likeness ordering signal while making every score replay exactly
    in SQL (the same reasoning as the integer PageRank/k-means).

    Scale shape — everything stays codegen'd and distributed, the
    driver never touches the model: grams explode through the
    CODEGEN'D portable hash (an array-side HOF fold re-evaluates the
    interpreted md5 chain per gram — measured 3× slower at sf0.1),
    bucket counts are two map-side-combined aggregates of ≤
    ``n_buckets`` rows, the ratio table is a ``n_buckets``-row
    BROADCAST join (the "model" is a broadcast table, never a plan
    literal or a collect), and scoring is one doc-keyed groupBy whose
    partial sums combine map-side.

    Returns ``(id_col, n_grams, score_e6)``.
    """
    spark = docs.sparkSession

    def gram_rows(df: DataFrame, *cols):
        return df.select(
            *cols, F.explode(word_ngrams(F.col(text_col), ngram)).alias("_g")
        ).select(*cols, (hash64(F.col("_g")) % n_buckets).alias("b"))

    # The corpus gram stream feeds BOTH the count agg (inside the
    # broadcast-ratio build) and the scoring join — persist it so the
    # gram-construction HOF + md5 run once, not twice (measured ~3 s/
    # pass at sf0.1). MEMORY_AND_DISK spill-safe; at extreme scale
    # where caching the exploded grams is worse than re-hashing, pass
    # cache_grams=False and pay the second codegen pass instead.
    # Cache lifecycle (cache_grams=True): the RESULT is eagerly
    # localCheckpoint'ed at the bottom of this function — both gram
    # passes hit the persisted grams during that one job — and the
    # gram cache is unpersisted before returning, so NO exploded-gram
    # partition ever survives the call. What does survive is one
    # doc-level (id, n_grams, score) checkpoint, and the single-slot
    # registry releases the PREVIOUS invocation's on the next call, so
    # a long-lived session holds at most one small result block.
    # (Consequence: a caller must not re-materialize a result obtained
    # from an EARLIER invocation after a later one — the repo's query/
    # bench harnesses materialize each call's result exactly once.)
    # r13 (guide §2.3 aggregate-before-shuffle): roll the gram stream
    # up to (doc, bucket) COUNTS first — ≤ n_buckets rows per doc with
    # map-side combine — and run both consumers off the rollup. The
    # bucket totals are Σ over docs of the per-doc counts and the
    # per-doc score is Σ_b count·ratio[b] — integer-identical to the
    # per-occurrence forms, but the persisted/cached table and the
    # ratio join now carry the rollup, never raw gram occurrences.
    doc_b = gram_rows(docs, F.col(id_col)).groupBy(id_col, "b").agg(
        F.count(F.lit(1)).alias("_c")
    )
    if cache_grams:
        doc_b = doc_b.persist()
    raw_counts = doc_b.groupBy("b").agg(F.sum("_c").alias("_rc"))
    tgt_counts = gram_rows(target_docs).groupBy("b").agg(
        F.count(F.lit(1)).alias("_tc")
    )
    spine = spark.range(n_buckets).select(F.col("id").alias("b"))
    ratio = (
        spine.join(raw_counts, "b", "left")
        .join(tgt_counts, "b", "left")
        .select(
            "b",
            (
                (F.coalesce("_tc", F.lit(0)) + 1) * scale
            ).cast("long").alias("_num"),
            (F.coalesce("_rc", F.lit(0)) + 1).cast("long").alias("_den"),
        )
        .select("b", F.expr("_num div _den").alias("_r"))
    )
    scored = (
        doc_b.join(F.broadcast(ratio), "b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_grams"),
            F.sum(F.col("_c") * F.col("_r")).alias("score_e6"),
        )
    )
    if cache_grams:
        # Materialize NOW (one job; both gram passes share the gram
        # cache), then drop the gram cache so it cannot outlive the
        # call. The result is persist()+count(), NOT localCheckpoint:
        # a checkpoint's storage lives on an internal RDD that
        # DataFrame.unpersist cannot release, while a cache-manager
        # entry frees cleanly when the next invocation evicts it
        # (non-cascading, so releasing doc_b below leaves it intact).
        scored = scored.persist()
        scored.count()
        doc_b.unpersist(blocking=False)
        # A stopped context's blocks are already gone, and calling
        # into its JVM raises, so only a live-context frame is released.
        app_id = spark.sparkContext.applicationId
        prev = _LAST_RESULT_CACHE.get("df")
        if prev is not None and _LAST_RESULT_CACHE["app_id"] == app_id:
            prev.unpersist(blocking=False)
        _LAST_RESULT_CACHE.update(df=scored, app_id=app_id)
    return scored


def line_dedup_stats(
    docs: DataFrame,
    chunk_tokens: int = 5,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style line-level deduplication (Wenzek et al. 2020):
    hash every "line" of every document, count how many DISTINCT
    documents each line appears in across the whole corpus, and strip
    the lines that recur in ≥ ``min_docs`` docs — the standard
    boilerplate killer (headers, footers, nav bars, cookie banners)
    that document-level dedup cannot touch because the surrounding
    text differs.

    The synthetic corpus has no newlines, so a "line" here is each
    consecutive non-overlapping ``chunk_tokens``-token window — the
    unit is a parameter; the algorithm (global line frequency →
    per-doc strip) is the real CCNet shape either way.

    Returns one row per doc: ``(id_col, n_lines, n_dup_lines,
    dup_ppm, kept_fp)`` where ``dup_ppm`` is the integer-exact
    duplicated-line fraction in parts-per-million and ``kept_fp`` is
    the md5 of the doc's surviving text (dup lines removed, original
    order) — any mis-stripped character anywhere mismatches the gate.

    Scale shape: line frequency is distinct(line, doc) → groupBy(line)
    with map-side combine (NOT a window collect_set, whose per-line
    state would be unbounded on a universal boilerplate line — the
    whale-chunk hazard); the flag ride-back is an equi-join on the
    line hash (AQE broadcasts it when the dup set is small, which it
    always is relative to the corpus); the final per-doc collapse is
    one doc-keyed groupBy re-assembling surviving lines in order.
    No driver state, no all-pairs anything.
    """
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("int")
    chunks = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.struct(
                    i.alias("chunk_idx"),
                    F.array_join(
                        F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
                    ).alias("chunk"),
                ),
            )
        ).alias("c"),
    ).select(id_col, F.col("c.chunk_idx"), F.col("c.chunk"))
    dup_lines = (
        chunks.select("chunk", id_col)
        .distinct()
        .groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("chunk", F.lit(True).alias("_dup"))
    )
    flagged = chunks.join(dup_lines, "chunk", "left").select(
        id_col,
        "chunk_idx",
        "chunk",
        F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
    )
    kept_text = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        ~F.col("is_dup"),
                        F.struct(F.col("chunk_idx"), F.col("chunk")),
                    )
                )
            ),
            lambda s: s["chunk"],
        ),
        " ",
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup_lines"),
            kept_text.alias("_kept"),
        )
        .select(
            id_col,
            "n_lines",
            "n_dup_lines",
            # integer `div`, not a double divide + cast: Spark's
            # double→long cast truncates while DuckDB's rounds, so the
            # float path would disagree on .5 boundaries.
            F.expr("(n_dup_lines * 1000000L) div n_lines").alias("dup_ppm"),
            F.md5(F.col("_kept")).alias("kept_fp"),
        )
    )
