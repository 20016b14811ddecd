"""Text-analysis operators over the documents table (beyond-reference
LLM-data-pipeline surface): token stats, quality scoring, language ID,
fingerprinting. Pure builtin expressions — one codegen'd projection over the
parquet scan, embarrassingly parallel at any SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_ml_algo_lib_master_tongji_spark.functions.rounding import round_half_up

from spark_ml_algo_lib_master_tongji_spark.functions import text as TXT
from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog, spread


def text_token_stats(cat: Catalog) -> DataFrame:
    """Per-document token statistics (token counting surface)."""
    d = cat.documents
    c = F.col("text")
    return d.select(
        "doc_id",
        TXT.token_count(c).alias("n_tokens"),
        TXT.distinct_token_count(c).alias("n_distinct_tokens"),
        F.length(c).alias("n_chars_computed"),
        round_half_up(TXT.mean_token_length(c), 4).alias("mean_token_len"),
    )


def _quality_expr(c):
    """The quality score Column — shared verbatim by ``text_quality_score``
    and the training-mix projection so both round the identical double."""
    n_tok = TXT.token_count(c)
    stop = TXT.stopword_ratio(c)
    # distinct-token ratio computed directly (not as 1-(1-x)): fp addition
    # isn't associative, and the oracle SQL uses this exact expression shape.
    distinct_ratio = TXT.distinct_token_count(c) / F.greatest(n_tok, F.lit(1))
    digit = TXT.digit_ratio(c)
    return (
        F.when((n_tok >= 10) & (n_tok <= 1000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(stop > 0.01, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.lit(0.3) * distinct_ratio
        - digit
    )


def _pred_lang_expr(c):
    """argmax marker-hit language Column with first-wins tie-break —
    shared by ``text_lang_id`` and the training-mix projection.

    Expressed as greatest(scores) + a first-match CASE chain so each
    score appears O(1) times. The former running-(best, best_n) fold
    nested every previous WHEN inside the next one — an exponentially
    sized tree whose interpreted array-HOF leaves (``filter(split(…))``
    is not codegen'd) were each evaluated ~50× per row; same semantics
    (the fold's strict ``>`` means the winner is the first language in
    lexicon order attaining the positive maximum)."""
    scores = TXT.lang_scores(c)
    m = F.greatest(*scores.values())
    first_match = F.lit("und")
    # build the CASE in reverse so the FIRST language in lexicon order
    # with score == max ends up as the outermost (winning) branch
    for lang, score in reversed(list(scores.items())):
        first_match = F.when(score == m, F.lit(lang)).otherwise(first_match)
    return F.when(m <= 0, F.lit("und")).otherwise(first_match)


def doc_features(cat: Catalog) -> DataFrame:
    """Session-shared cached per-doc feature frame (doc_id, pred_lang,
    score_<lang>×5, quality, n_tokens) — the lang-ID/quality/token
    projection that four queries (lang_id, lang_rollup, stratified
    sample, training mix) each recomputed from the raw text (5 marker
    filters + stopword/distinct filters per call). One spread scan
    computes it; the ``_derived`` session cache serves every consumer —
    the same materialize-the-features-intermediate tradeoff as
    ``doc_shingles`` (a corpus pipeline persists this table anyway).
    Values are the identical shared expression Columns, so oracle hashes
    are unchanged."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import _derived

    def build():
        c = F.col("text")
        scores = TXT.lang_scores(c)
        return spread(cat.documents).select(
            "doc_id",
            _pred_lang_expr(c).alias("pred_lang"),
            *[scores[lang].alias(f"score_{lang}") for lang in TXT.LANG_MARKERS],
            round_half_up(_quality_expr(c), 4).alias("quality"),
            TXT.token_count(c).alias("n_tokens"),
        )

    return _derived(cat, "doc_features", build)


def text_quality_score(cat: Catalog) -> DataFrame:
    """Heuristic quality score: length band + stopword presence − repetition.

    The score formula is arbitrary-but-fixed; what matters at scale is that
    it's a single projection and expressible for the oracle. The stopword/
    distinct filters are real per-token work, so the single fixture split
    is ``spread`` first (readers.spread: at real scale the scan already
    yields many splits and the round-robin shuffle is waived by the
    many-files layout — locally it buys 32-way parallelism)."""
    d = spread(cat.documents)
    c = F.col("text")
    n_tok = TXT.token_count(c)
    stop = TXT.stopword_ratio(c)
    distinct_ratio = TXT.distinct_token_count(c) / F.greatest(n_tok, F.lit(1))
    rep = F.lit(1.0) - distinct_ratio
    digit = TXT.digit_ratio(c)
    return d.select(
        "doc_id",
        round_half_up(stop, 4).alias("stopword_ratio"),
        round_half_up(rep, 4).alias("repetition_ratio"),
        round_half_up(digit, 4).alias("digit_ratio"),
        round_half_up(_quality_expr(c), 4).alias("quality"),
    )


def text_lang_id(cat: Catalog) -> DataFrame:
    """Marker-lexicon language ID: argmax of per-language marker token hits,
    deterministic tie-break by lexicon order, 'und' when no marker hits."""
    return doc_features(cat).select(
        "doc_id",
        "pred_lang",
        *[f"score_{lang}" for lang in TXT.LANG_MARKERS],
    )


def text_fingerprint(cat: Catalog) -> DataFrame:
    """Canonicalizing md5 fingerprint per document + a 64-bit prefix key
    usable as a shard-stable dedup/bucketing id."""
    d = cat.documents
    fp = TXT.fingerprint(F.col("text"))
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fp_key"),
    )


#: quality floor for the composed training-mix selection
MIX_MIN_QUALITY = 0.3
MIX_LANG = "en"


def pipeline_training_mix(cat: Catalog) -> DataFrame:
    """End-to-end training-data selection — the composition a corpus
    pipeline actually ships: near-dup keep-one (doc is its own group
    canonical) ∩ language filter (pred_lang = MIX_LANG) ∩ quality floor
    (quality ≥ MIX_MIN_QUALITY) → (doc_id, pred_lang, quality, n_tokens).

    The lang/quality/token columns come from the SAME shared expression
    Columns as their standalone operators (``_pred_lang_expr`` /
    ``_quality_expr`` / ``TXT.token_count``), computed in ONE codegen'd
    projection over one documents scan — the former three-operator join
    chain scanned documents three times and shuffled three times for
    columns that are all derivable row-locally. At 100 TB the only data
    movement is the dedup component loop on the (tiny) pair graph plus one
    join against the keep-list on doc_id."""
    from spark_ml_algo_lib_master_tongji_spark.operators.dedup import (
        dedup_minhash_groups,
    )

    keep = (
        dedup_minhash_groups(cat)
        .where(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id")
    )
    feats = doc_features(cat).select(
        "doc_id", "pred_lang", "quality", "n_tokens"
    )
    return (
        keep.join(feats, "doc_id")
        .where(
            (F.col("pred_lang") == MIX_LANG)
            & (F.col("quality") >= F.lit(MIX_MIN_QUALITY))
        )
        .select("doc_id", "pred_lang", "quality", "n_tokens")
    )


#: top-k cut for the corpus vocabulary query
TOP_NGRAMS_K = 20
#: reproducible-sample keep percentage (hash buckets 0..99)
SAMPLE_PCT = 10


def text_top_ngrams(cat: Catalog) -> DataFrame:
    """Corpus-wide top-K bigrams → (gram, n) — the vocabulary-building
    pass of a training pipeline (BPE/tokenizer corpus statistics).
    Deterministic: ties broken by gram ascending. Shape at 100 TB:
    explode → one partial+final count aggregation (map-side combine
    collapses the gram space per task) → a global top-K that moves only
    K rows per partition (``TakeOrderedAndProject``), never a full sort."""
    d = spread(cat.documents)  # gram construction is the per-row hot loop
    grams = TXT.ngram_arrays(d.select("doc_id", "text"), n=2).select(
        F.explode("grams").alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram").asc())
        .limit(TOP_NGRAMS_K)
    )


def text_lang_rollup(cat: Catalog) -> DataFrame:
    """Per-language corpus rollup → (pred_lang, n_docs, sum_tokens,
    avg_quality) — the mix-dashboard aggregation over the shared
    row-local lang/quality/token expressions; one scan, one partial+final
    aggregation keyed on the (tiny) language space."""
    return (
        doc_features(cat)
        .select("pred_lang", "quality", "n_tokens")
        .groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            round_half_up(F.avg("quality"), 4).alias("avg_quality"),
        )
    )


def pipeline_stratified_sample(cat: Catalog) -> DataFrame:
    """Reproducible quality-floored sample → (doc_id, pred_lang, bucket,
    quality): md5-bucket the doc_id into 100 shard-stable buckets and keep
    ``bucket < SAMPLE_PCT`` among quality ≥ MIX_MIN_QUALITY docs.

    Hash-threshold sampling (not ``sample()``): the keep-set is a pure
    function of doc_id — stable across runs, engines, partitionings, and
    cluster sizes, which is what makes training subsets reproducible and
    incrementally extendable (raising the pct strictly grows the set).
    One codegen projection + filter, no shuffle."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return (
        doc_features(cat)
        .select(
            "doc_id",
            "pred_lang",
            bucket.alias("bucket"),
            "quality",
        )
        .where(
            (F.col("quality") >= F.lit(MIX_MIN_QUALITY))
            & (F.col("bucket") < SAMPLE_PCT)
        )
    )


#: global-shuffle knobs: the fixture pins 32 shards; a production run
#: sets GS_SHARDS so one shard ≈ one output file / one task's sort
#: (e.g. ~100k shards at 100 TB) — the per-shard rank window is then
#: embarrassingly parallel with no oversized partitions.
GS_SHARDS = 32
GS_SEED = "2020"


def pipeline_global_shuffle(cat: Catalog) -> DataFrame:
    """Reproducible seeded global shuffle → (doc_id, shard, shard_pos):
    the training-time permutation as a pure function of (seed, doc_id) —
    identical on any engine, partitioning, or cluster size, unlike
    ``orderBy(rand())``. shard = md5-bucket of the seeded key (uniform,
    skew-free); shard_pos = rank of the md5 key within the shard. At
    scale, ``partitionBy(shard)`` the sink and each trainer streams its
    shard in shard_pos order; re-shuffling = changing GS_SEED, appending
    data never reorders other docs' relative positions within a shard.
    One hash shuffle + per-shard sort (task-sized shards by choice of
    GS_SHARDS)."""
    key = F.md5(
        F.concat_ws("|", F.lit(GS_SEED), F.col("doc_id").cast("string"))
    )
    d = cat.documents.select("doc_id", key.alias("k")).withColumn(
        "shard",
        (F.conv(F.substring("k", 1, 8), 16, 10).cast("long") % GS_SHARDS)
        .cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return d.select(
        "doc_id", "shard", F.row_number().over(w).alias("shard_pos")
    )


#: deterministic stand-in for an external eval/benchmark holdout: every
#: 97th doc_id. Real pipelines read the benchmark shingle set from a side
#: table; the operator shape (inverted-index join on shingle) is identical.
DECONTAM_BENCH_MOD = 97


def pipeline_decontaminate(cat: Catalog) -> DataFrame:
    """Benchmark decontamination → (doc_id, n_shared_grams): for every
    corpus document (not itself in the benchmark set), the number of its
    distinct 3-gram shingles that appear anywhere in the benchmark set —
    the exact n-gram-overlap contamination check run before training on
    scraped corpora (docs with hits get dropped or audited).

    Shape at 100 TB: one shared shingle projection feeds both sides; the
    benchmark side collapses to a distinct gram set (tiny vs the corpus),
    then one equi-join on gram + per-doc count — an inverted-index
    semi-join, never a doc×doc comparison. AQE broadcasts the benchmark
    gram set when it fits, shuffle-joins otherwise. Starts from the
    session-shared shingle derivation the dedup family uses (one
    tokenize+gram pass per session; building shingles straight off
    ``split(text)`` would re-tokenize per gram — ``shingle_sets``
    docstring)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.dedup import doc_shingles

    sh = doc_shingles(cat)
    is_bench = F.col("doc_id") % DECONTAM_BENCH_MOD == 0
    bench = (
        sh.where(is_bench).select(F.explode("sh").alias("gram")).distinct()
    )
    corpus = sh.where(~is_bench).select("doc_id", F.explode("sh").alias("gram"))
    return (
        corpus.join(bench, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


#: sequence-packing context-window capacity (tokens per training sequence)
PACK_CAP = 2048
#: independent packing shards — each packs its own token stream. A fixed
#: 32 matches the local fixture; at cluster scale the shard count is a
#: config ∝ executor count (the algorithm is per-shard linear and shards
#: never communicate).
PACK_SHARDS = 32


def pipeline_sequence_pack(cat: Catalog) -> DataFrame:
    """Concat-and-chunk sequence packing — the training-data step that
    turns a document corpus into fixed-capacity context windows (docs are
    concatenated in a deterministic stream and the stream is cut every
    ``PACK_CAP`` tokens; a doc may straddle a cut): per doc →
    (doc_id, shard, seq_start, bin, spans_boundary).

    Determinism/scale shape: the stream order is (md5-shard, doc_id) —
    the same engine-stable md5-prefix bucketing as
    ``pipeline_stratified_sample``, so the packing layout is a pure
    function of doc ids (stable across runs, engines, partitionings).
    ONE shuffle partitions by shard; the running token offset is a
    per-shard window cumsum (in-partition sort by doc_id, single pass);
    bins are integer division — no second pass, no global coordination,
    shards never talk. All-integer arithmetic ⇒ exact SQL twin."""
    return sequence_pack(cat.documents)


def sequence_pack(d: DataFrame) -> DataFrame:
    """Core packing over any (doc_id, text) frame — the query wrapper
    passes the documents table; tests feed synthetic corpora (docs LONGER
    than PACK_CAP, which the fixture never has, exercise the
    multi-boundary straddle arithmetic)."""
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % PACK_SHARDS
    )
    toks = d.select(
        "doc_id",
        shard.alias("shard"),
        TXT.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq_start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    out = toks.select(
        "doc_id",
        "shard",
        seq_start.alias("seq_start"),
        "n_tokens",
    )
    return out.select(
        "doc_id",
        "shard",
        "seq_start",
        F.expr(f"seq_start DIV {PACK_CAP}").alias("bin"),
        (
            F.expr(f"(seq_start + n_tokens - 1) DIV {PACK_CAP}")
            > F.expr(f"seq_start DIV {PACK_CAP}")
        ).alias("spans_boundary"),
    )


#: chunking geometry: window length and stride in tokens (stride < length
#: ⇒ overlapping windows, the embedding/long-doc-training default)
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def pipeline_doc_chunks(cat: Catalog) -> DataFrame:
    """Sliding-window document chunking — split every document into
    ``CHUNK_TOKENS``-token windows advancing by ``CHUNK_STRIDE`` (overlap
    = 16 tokens), the standard preprocessing for embedding models and
    long-document training: per chunk → (doc_id, chunk_idx, chunk_start,
    n_chunk_tokens). The final chunk is the (possibly short) tail; docs
    with ≤ CHUNK_TOKENS tokens yield exactly one chunk.

    Shape at 100 TB: one codegen'd projection + explode — row-local, no
    shuffle, output ∝ input tokens / stride. All-integer arithmetic
    (ceil via offset integer division) ⇒ exact SQL twin."""
    return doc_chunks(cat.documents)


def doc_chunks(d: DataFrame) -> DataFrame:
    """Core chunking over any (doc_id, text) frame (see
    ``pipeline_doc_chunks``); split out so tests can feed synthetic
    corpora beyond the fixture's length distribution."""
    n = TXT.token_count(F.col("text")).cast("long")
    n_chunks = F.when(n <= CHUNK_TOKENS, F.lit(1).cast("long")).otherwise(
        F.expr(
            f"CAST((size(split(text, ' ')) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) "
            f"DIV {CHUNK_STRIDE} AS BIGINT) + 1L"
        )
    )
    base = d.select(
        "doc_id", n.alias("n_tokens"), n_chunks.alias("n_chunks")
    )
    idx = F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1))
    chunks = base.select("doc_id", "n_tokens", idx.alias("chunk_idx"))
    start = F.col("chunk_idx") * CHUNK_STRIDE
    return chunks.select(
        "doc_id",
        "chunk_idx",
        start.alias("chunk_start"),
        F.least(F.lit(CHUNK_TOKENS).cast("long"), F.col("n_tokens") - start).alias(
            "n_chunk_tokens"
        ),
    )


def text_repetition_3gram(cat: Catalog) -> DataFrame:
    """Per-document 3-gram repetition ratio — the Gopher-style
    boilerplate/spam signal (duplicate word n-grams within a document;
    high ⇒ templated or looping text, a standard pre-training drop rule;
    complements the token-level ``repetition_ratio`` inside the quality
    score): → (doc_id, n_grams, n_distinct_grams, rep3).

    One projection over the scan (``TXT.ngram_arrays`` keeps duplicates,
    so total vs distinct is computable row-locally) — no shuffle,
    embarrassingly parallel. The session-shared ``doc_shingles``
    derivation is distinct-sets only, hence not reusable here."""
    g = TXT.ngram_arrays(spread(cat.documents).select("doc_id", "text"), n=3)
    n_grams = F.size(F.col("grams"))
    n_distinct = F.size(F.array_distinct("grams"))
    return g.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct_grams"),
        round_half_up(
            F.lit(1.0) - n_distinct / F.greatest(n_grams, F.lit(1)), 4
        ).alias("rep3"),
    )


#: per-document top-K terms for the tf-idf feature query
TFIDF_TOP_K = 3


def text_tfidf_top_terms(cat: Catalog) -> DataFrame:
    """Per-document top-``TFIDF_TOP_K`` terms by tf·idf → (doc_id, rk,
    term, tf, score) — the classic retrieval/feature-extraction pass
    (keyword extraction, sparse doc vectors). idf uses the same
    (N+1)/(df+1) smoothing as ``ml_est_idf``'s estimator surface; the
    cut ranks on the ROUNDED score (6 decimals, half-up) with term-asc
    tie-break, so the top-K set is deterministic and engine-portable
    (sub-rounding 1-ulp ln() differences cannot reorder it).

    Shape at 100 TB: token explode → (doc, term) partial+final count →
    term-df aggregation (vocab-keyed) joined back on term → per-doc
    window top-K (partitioned by doc_id — no global sort). The doc and
    term aggregations are the only shuffles; the window moves each doc's
    candidate terms once."""
    toks = spread(cat.documents).select(
        "doc_id", F.explode(TXT.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = cat.documents.select(F.countDistinct("doc_id").alias("n")).alias(
        "nd"
    )
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            round_half_up(
                F.col("tf")
                * F.log((F.col("n") + F.lit(1)).cast("double") / (F.col("df") + 1)),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "rk", "term", "tf", "score")
    )


#: temperature-mixing token budget: keep ~this fraction of corpus tokens
MIX_BUDGET_DIV = 2  # target = total_tokens DIV 2


def pipeline_domain_mix(cat: Catalog) -> DataFrame:
    """Temperature-balanced domain mixing — the per-source sampling-rate
    computation of a multi-domain training mix (α = 0.5 temperature:
    source weight ∝ √tokens, flattening the natural distribution so small
    domains are upweighted — the standard multilingual/multi-domain mix
    rule): per doc → (doc_id, source, rate_ppm, kept).

    Determinism across engines: the weight arithmetic is integerized —
    s_i = floor(√tokens_i · 10⁶) (IEEE sqrt is correctly rounded, so both
    engines get the same BIGINT), S = Σ s_i (order-invariant integer
    sum), and the per-source keep rate is the double expression
    ((target · s_i) / S) / tokens_i · 10⁶, floored to ppm with the SAME
    operation order as the SQL twin (IEEE doubles make identical
    expression trees engine-portable). The keep decision is the
    shard-stable md5 bucket against rate_ppm — reproducible and
    incrementally extendable like ``pipeline_stratified_sample``.

    Shape at 100 TB: one scan → per-source partial+final agg (key space =
    #domains, tiny) → scalar totals → broadcast the rate table back onto
    the doc stream. No data-sized shuffle, no driver loop."""
    # A NULL source would be dropped SILENTLY by the rate equi-join below
    # (its docs simply vanish from the mix) — fail loudly instead, the
    # same contract as pairs.grouped_blocked_apply's group key.
    toks = spread(cat.documents).select(
        "doc_id",
        F.coalesce(
            F.col("source"),
            F.raise_error(F.lit("pipeline_domain_mix: NULL source")).cast(
                "string"
            ),
        ).alias("source"),
        TXT.token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    per_src = toks.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("src_tokens")
    )
    per_src = per_src.withColumn(
        "s_i",
        F.floor(F.sqrt(F.col("src_tokens").cast("double")) * 1e6).cast("long"),
    )
    totals = per_src.agg(
        F.sum("s_i").cast("long").alias("s_sum"),
        F.sum("src_tokens").cast("long").alias("tok_sum"),
    )
    rates = per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        F.least(
            F.lit(1000000).cast("long"),
            F.floor(
                F.expr(f"tok_sum DIV {MIX_BUDGET_DIV}").cast("double")
                * F.col("s_i")
                / F.col("s_sum")
                / F.col("src_tokens")
                * F.lit(1000000.0)
            ).cast("long"),
        ).alias("rate_ppm"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000000
    )
    return toks.join(F.broadcast(rates), "source").select(
        "doc_id",
        "source",
        "rate_ppm",
        (bucket < F.col("rate_ppm")).alias("kept"),
    )


#: vocabulary cap for the OOV-mapping pass (fixture vocab is ~40 words, so
#: a 20-word cap exercises real <unk> counts; a production run sets this to
#: the tokenizer's vocab budget).
VOCAB_TOP_V = 20


def pipeline_vocab_prune(cat: Catalog) -> DataFrame:
    """Vocabulary capping / OOV mapping — the tokenizer-prep pass that
    keeps the top-``VOCAB_TOP_V`` corpus tokens and maps the rest to
    ``<unk>`` (GPT-2/CCNet-style vocab truncation): per doc →
    (doc_id, n_tokens, n_unk, unk_ratio).

    Deterministic: the vocab cut is total-ordered by (count desc, token
    asc). Shape at 100 TB: explode → one partial+final count aggregation
    (map-side combine collapses the token space per task) → a global
    top-V that moves only V rows per partition (``TakeOrderedAndProject``)
    → the V-row vocab folds to ONE array row and broadcasts onto the doc
    scan, where the unk count is a row-local filter against a 20-element
    array. Zero data-sized shuffle. A/B'd both ways under the
    persist-then-count protocol (PLANS round-7 addendum 9): a broadcast
    anti-join + per-doc count + join-back is 1.6× SLOWER materialized —
    an earlier bare-count A/B said the opposite because Catalyst pruned
    the un-persisted HOF column and eliminated the row-preserving
    join-back, under-measuring both arms. The interpreted-HOF tax is
    real but small here (one 20-element array_contains per token); the
    anti-join's two doc-keyed exchanges cost more."""
    toks = spread(cat.documents).select(
        F.explode(TXT.tokens(F.col("text"))).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(VOCAB_TOP_V)
        .agg(F.array_sort(F.collect_list("token")).alias("vocab"))
    )
    t = TXT.tokens(F.col("text"))
    n = F.size(t)
    n_unk = F.size(
        F.filter(t, lambda x: ~F.array_contains(F.col("vocab"), x))
    )
    return (
        spread(cat.documents)
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            n.alias("n_tokens"),
            n_unk.alias("n_unk"),
            round_half_up(n_unk / F.greatest(n, F.lit(1)), 4).alias(
                "unk_ratio"
            ),
        )
    )


def pipeline_quality_filter(cat: Catalog) -> DataFrame:
    """Per-language median quality gate — keep each document at or above
    its language's median quality (the relative-threshold variant of the
    fixed-cut ``pipeline_training_mix`` filter; per-language thresholds
    are how multilingual pipelines avoid one language's score scale
    starving another): kept docs → (doc_id, pred_lang, quality, lang_median).

    Exact median WITHOUT a per-language sort of the doc stream: quality is
    rounded to 4 decimals, so the per-language value space is tiny —
    aggregate (lang, quality) counts (map-side combine), then a cumulative
    window over the DISTINCT-VALUE frame (≤ langs × 10⁴ rows, never docs)
    picks the smallest value whose running count reaches ceil(n/2) —
    percentile_disc(0.5), integer logic, engine-portable. A
    ``Window.partitionBy(lang)`` over the documents themselves would fold
    each language's whole corpus into one task at 100 TB; the histogram
    shape keeps the data-sized stages embarrassingly parallel and
    broadcasts a #langs-row threshold table back onto the feature frame
    (session-shared ``doc_features`` — no re-scan of raw text)."""
    feats = doc_features(cat).select("doc_id", "pred_lang", "quality")
    hist = feats.groupBy("pred_lang", "quality").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = (
        Window.partitionBy("pred_lang")
        .orderBy("quality")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "pred_lang",
        "quality",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(Window.partitionBy("pred_lang")).alias("tot"),
    )
    thresholds = (
        cum.where(F.col("cum") >= F.expr("(tot + 1) DIV 2"))
        .groupBy("pred_lang")
        .agg(F.min("quality").alias("lang_median"))
    )
    return feats.join(F.broadcast(thresholds), "pred_lang").where(
        F.col("quality") >= F.col("lang_median")
    ).select("doc_id", "pred_lang", "quality", "lang_median")


#: PII patterns — valid and identically-matching in BOTH Java regex
#: (Spark) and RE2 (DuckDB): character classes, bounded repetition and \b
#: only; no lookaround or backreferences (RE2 has neither).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b"


def pii_scrub(d: DataFrame) -> DataFrame:
    """Core PII scrub over any (doc_id, text) frame: per-category match
    counts on the ORIGINAL text plus the fingerprint and length of the
    redacted text (email → ``<EMAIL>``, then IPv4 → ``<IP>``, then phone
    → ``<PHONE>``, applied in that fixed order). Split out so tests feed
    synthetic PII-bearing corpora — the fixture's word-stream text is
    PII-free by construction, which the all-zero oracle row set still
    verifies (regex dialect parity is the risk, not the arithmetic)."""
    c = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(c, F.lit(PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(c, F.lit(PII_IPV4)).cast("int").alias("n_ipv4"),
        F.regexp_count(c, F.lit(PII_PHONE)).cast("int").alias("n_phones"),
        F.length(redacted).cast("int").alias("clean_len"),
        F.md5(redacted).alias("clean_fp"),
    )


def pipeline_pii_scrub(cat: Catalog) -> DataFrame:
    """PII scrubbing — the redaction pass every pre-training pipeline runs
    before release (emails, IPv4 addresses, phone numbers → typed
    placeholder tokens): per doc → (doc_id, n_emails, n_ipv4, n_phones,
    clean_len, clean_fp).

    Shape at 100 TB: one codegen projection over the scan — row-local
    regexes, no shuffle, no Python. Patterns are restricted to the
    Java-regex ∩ RE2 dialect so the DuckDB twin matches byte-for-byte."""
    return pii_scrub(spread(cat.documents))


#: winnowing geometry: K-token grams, window of W consecutive gram hashes.
#: Matching guarantee: any shared run of K+W−1 tokens between two docs
#: yields at least one shared fingerprint.
WINNOW_K = 3
WINNOW_W = 4


def text_winnow_fingerprints(cat: Catalog) -> DataFrame:
    """Winnowing document fingerprints — the rolling-hash fingerprinting
    scheme (MOSS-style local document sketching; the brief's 'document
    fingerprinting (rolling hash)' item, complementing the whole-doc md5
    of ``text_fingerprint``): hash every ``WINNOW_K``-token gram, keep
    the minimum hash of every ``WINNOW_W``-gram sliding window (partial
    prefix windows included), per doc → (doc_id, n_fps, fps) with fps the
    sorted distinct fingerprints space-joined into ONE string — a scalar
    surface (the driver's pandas canonicalizer sorts result columns, and
    list cells are unsortable; round-8 verdict item 1 — the values were
    already hash-verified as an array, only the column type moves). Docs
    with fewer than K tokens have no grams and are absent. Two docs sharing any K+W−1-token run share a
    fingerprint — the sub-document matching property exact dedup's
    whole-doc hash cannot give.

    Shape at 100 TB: ZERO shuffle — gram build, hashing, and the
    per-position window-min are all row-local (mirroring the SQL twin's
    list ops), so the operator is embarrassingly parallel at any corpus
    size. The interpreted-HOF tax is O(W)=4 slice-mins per gram and
    measured 2× FASTER than the explode + doc_id-window + collect_set
    alternative at sf1 (fair fresh-session A/B, PLANS round-7 addendum
    10): the window arm ships every gram row through a doc_id exchange
    plus a per-doc sort, which costs more than W interpreted ops per
    gram — the inverse trade of ``pipeline_vocab_prune``, where the HOF
    predicate lost to a majority-dropping anti-join."""
    return winnow_fingerprints(spread(cat.documents))


def winnow_fingerprints(d: DataFrame) -> DataFrame:
    """Core winnowing sketch over any (doc_id, text) frame (see
    ``text_winnow_fingerprints``); split out so ``dedup_winnow_pairs``
    can sketch the duplicate-bearing re-crawl corpus and tests can feed
    synthetic runs."""
    g = TXT.ngram_arrays(
        d.select("doc_id", "text"), n=WINNOW_K
    ).where(F.size("grams") > 0)
    hs = F.transform(
        F.col("grams"),
        lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long"),
    )
    hashed = g.select("doc_id", hs.alias("hs"))
    mins = F.transform(
        F.sequence(F.lit(1), F.size("hs")),
        lambda i: F.array_min(
            F.slice(
                F.col("hs"),
                F.greatest(F.lit(1), i - (WINNOW_W - 1)),
                F.least(i, F.lit(WINNOW_W)),
            )
        ),
    )
    fps = F.array_sort(F.array_distinct(mins))
    # concat_ws needs array<string>; long→string casts render identically
    # in Spark and DuckDB (no scientific notation for BIGINT).
    fps_str = F.concat_ws(" ", F.transform(fps, lambda x: x.cast("string")))
    return hashed.select(
        "doc_id", F.size(fps).alias("n_fps"), fps_str.alias("fps")
    )


def winnow_fp_stream(d: DataFrame) -> DataFrame:
    """(doc_id, fp) row stream of the winnowing sketch — the join-ready
    shape ``dedup_winnow_pairs`` consumes. NOT a thin wrapper over
    ``winnow_fingerprints().select(explode(fps))``: referencing the fps
    array column from a downstream Generate makes CollapseProject inline
    the whole interpreted HOF tree once PER REFERENCE (measured ~15
    copies in the physical plan, 0.8s → 23s at sf0.1). Here the
    dedup/sort/min tree appears exactly once, inside the Generate, over
    an ``hs`` column bound by its own projection."""
    g = TXT.ngram_arrays(
        d.select("doc_id", "text"), n=WINNOW_K
    ).where(F.size("grams") > 0)
    hs = F.transform(
        F.col("grams"),
        lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long"),
    )
    hashed = g.select("doc_id", hs.alias("hs"))
    mins = F.transform(
        F.sequence(F.lit(1), F.size("hs")),
        lambda i: F.array_min(
            F.slice(
                F.col("hs"),
                F.greatest(F.lit(1), i - (WINNOW_W - 1)),
                F.least(i, F.lit(WINNOW_W)),
            )
        ),
    )
    return hashed.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fp")
    )


#: BPE-ish pre-tokenizer pattern — the GPT-2 pre-tokenization shape
#: (contraction suffixes, space-prefixed letter runs, digit runs,
#: punctuation runs, whitespace) restricted to the Java∩RE2 dialect the
#: PII patterns established: NO lookahead (RE2 has none — the original
#: pattern's `\s+(?!\S)` tail-space rule is dropped; trailing spaces
#: merge into the following `\s+` match instead, identically in both
#: engines), ASCII classes (fixture corpus is ASCII; \p{L} unicode-class
#: edge semantics differ subtly between Java and RE2).
BPE_TOKEN_PATTERN = (
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\n]+|[ \\t\\n]+"
)


def text_bpe_token_stats(cat: Catalog) -> DataFrame:
    """Tokenizer-aware token counting (the brief's 'whitespace + BPE-ish
    regex' pair): per doc → (doc_id, n_ws_tokens, n_bpe_tokens,
    bpe_per_ws). ``n_bpe_tokens`` counts matches of the GPT-2-style
    pre-tokenizer pattern — the number a BPE tokenizer's pre-split stage
    would hand to the merge table, the practical upper bound used for
    context-window budgeting when the real tokenizer isn't on the
    cluster; ``bpe_per_ws`` is the fertility-style ratio quality
    pipelines threshold on. One codegen projection over the scan — zero
    shuffle, zero Python."""
    d = spread(cat.documents)
    c = F.col("text")
    n_ws = TXT.token_count(c)
    n_bpe = F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), 0))
    return d.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        round_half_up(
            n_bpe / F.greatest(n_ws, F.lit(1)).cast("double"), 4
        ).alias("bpe_per_ws"),
    )


#: CCNet-style LM quality gate: keep docs whose mean bigram log-prob under
#: the corpus LM clears this (fixture range −3.61..−3.26, median −3.39 —
#: the literal splits the corpus non-trivially; a production run scores
#: against a held-out reference-corpus LM and tunes per language).
LM_KEEP_LOGPROB = -3.4


def pipeline_lm_perplexity(cat: Catalog) -> DataFrame:
    """N-gram LM perplexity filtering (the CCNet/Gopher quality-gate
    step): score every doc by its mean add-1-smoothed bigram log-prob
    under the corpus's own bigram LM → (doc_id, n_bigrams, avg_logprob,
    keep). P(w₂|w₁) = (c₂(w₁w₂)+1)/(c₁(w₁)+V) with c₁ = bigram-start
    counts (Σ_w c₂) and V = |vocab|; docs with <2 tokens are unscorable
    → (0, NULL, false), never dropped. Self-scoring stands in for the
    reference-corpus LM (the fixture has no held-out corpus); the plan is
    identical when the stats table comes from elsewhere.

    Shape at 100 TB: two aggregations build the LM — c₂ is ONE
    gram-keyed shuffle with map-side partial counts (the table a
    production run persists), c₁ aggregates the already-tiny counts
    table, V is one distinct-agg scalar carried in-frame via a 1-row
    broadcast (no driver round-trip). Scoring is a gram-keyed shuffle
    join of doc-bigrams against the stats table (bucket both by gram in
    production and it's co-located) + one per-doc aggregate. Per-gram
    ln() is rounded at 6 before the mean (the ml_est_idf ln-portability
    discipline) and carried as an exact INTEGER of 1e-6 units, so the
    per-doc sum is order-independent and the mean is ONE identical fp64
    division on both engines (round-13 fix: the earlier avg-of-rounded-
    DOUBLES left ~1e-13 summation-order noise under the 1e-4 output
    grain — harmless per value, but with 20k doc-means the 10×-fixture
    sweep caught 6 docs landing exactly on a round-half-up boundary,
    where the engines flipped the 4th decimal in opposite directions;
    an averaged rounded quantity must be summed in exact units)."""
    docs = spread(cat.documents.select("doc_id", "text"))
    g = TXT.ngram_arrays(docs, n=2).select(
        "doc_id", F.explode("grams").alias("gram")
    )
    c2 = g.groupBy("gram").agg(F.count(F.lit(1)).alias("c2"))
    w1 = F.substring_index("gram", " ", 1)
    c1 = c2.groupBy(w1.alias("w1")).agg(F.sum("c2").alias("c1"))
    stats = c2.join(c1, w1 == F.col("w1")).select("gram", "c2", "c1")
    vocab = (
        docs.select(F.explode(TXT.tokens(F.col("text"))).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    # round_half_up(ln, 6) kept in integer micro-units: floor(x*1e6 + 0.5)
    lp_micro = F.floor(
        F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
        * F.lit(1e6)
        + F.lit(0.5)
    )
    per = (
        g.join(stats, "gram")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(lp_micro).alias("s_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            round_half_up(
                F.col("s_micro") / (F.lit(1e6) * F.col("n_bigrams")), 4
            ).alias("avg_logprob"),
        )
    )
    return (
        cat.documents.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
                "n_bigrams"
            ),
            "avg_logprob",
            F.coalesce(
                F.col("avg_logprob") >= F.lit(LM_KEEP_LOGPROB), F.lit(False)
            ).alias("keep"),
        )
    )


#: registry-exported query names (order derived in registry.build_registry)
#: explicit read schema for the staged documents JSONL export — a LITERAL,
#: not derived from the parquet footer at runtime, because the production
#: contract is "the loader KNOWS its schema": schemaless JSONL reads run a
#: whole extra inference pass over the corpus (see readers.read_jsonl).
DOCUMENTS_JSONL_DDL = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _staged_jsonl_dir(cat: Catalog) -> str:
    """Stage a gzip JSONL export of the documents table once per SF under
    the streaming family's cache root (fixtures are read-only; one cache
    root, round-10 verdict item 7). Re-exported only when the fixture is
    newer than the export's _SUCCESS marker; written to a
    session-private tmp dir and renamed into place so a concurrent
    session never reads a half-written export."""
    import os
    import shutil
    from pathlib import Path

    from spark_ml_algo_lib_master_tongji_spark.sources.readers import write_jsonl

    src = Path(cat.sf_dir) / "documents.parquet"
    dst = (
        Path(__file__).resolve().parents[2]
        / ".stream_cache"
        / Path(cat.sf_dir).name
        / "documents_jsonl"
    )
    marker = dst / "_SUCCESS"
    if marker.exists() and marker.stat().st_mtime >= src.stat().st_mtime:
        return str(dst)
    tmp = Path(f"{dst}.build-{cat.spark.sparkContext.applicationId}")
    shutil.rmtree(tmp, ignore_errors=True)
    dst.parent.mkdir(parents=True, exist_ok=True)
    write_jsonl(cat.documents, str(tmp), compression="gzip")
    shutil.rmtree(dst, ignore_errors=True)
    try:
        os.rename(tmp, dst)
    except OSError:  # concurrent session renamed first: adopt theirs
        shutil.rmtree(tmp, ignore_errors=True)
        if not marker.exists():
            raise
    return str(dst)


def pipeline_jsonl_roundtrip(cat: Catalog) -> DataFrame:
    """Registry entry: JSONL interchange round-trip (round-10 verdict
    item 2) → (lang, source, n_docs, chars, sum_n_chars, first_doc,
    last_doc) over the documents corpus READ BACK from a gzip JSONL
    export staged once per SF. The read supplies explicit DDL (no
    inference pass); the DuckDB twin recomputes the identical rollup
    from the parquet ORIGINAL, so a green row proves the export →
    compress → decode → parse cycle lossless for every column type the
    corpus uses (long ids, text, categorical strings). Scale note: gzip
    parts are NOT splittable — read parallelism equals part count (the
    export keeps the corpus's partitioning, one .gz per partition), so a
    production export sizes parts at a few hundred MB, never one giant
    file."""
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import read_jsonl

    docs = read_jsonl(
        cat.spark, _staged_jsonl_dir(cat), schema=DOCUMENTS_JSONL_DDL
    )
    return (
        spread(docs)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("chars"),
            F.sum("n_chars").alias("sum_n_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


#: Gopher-style document quality rules (Rae et al. 2021 §A1.1, public
#: paper), thresholds re-fit to the fixture corpus so each rule
#: discriminates (measured pass rates at sf0.01: word-count 277/500,
#: stopwords 388/500, top-token repetition 312/500; mean-word-length is
#: the published [3, 10] band — the synthetic vocab sits entirely inside
#: it, which is itself the honest signal the rule reports).
GOPHER_WC_MIN, GOPHER_WC_MAX = 50, 100_000
GOPHER_MWL_MIN, GOPHER_MWL_MAX = 3.0, 10.0
GOPHER_MIN_STOP_HITS = 2
GOPHER_TOP_TOKEN_FRAC_MAX = 0.10


def text_gopher_rules(cat: Catalog) -> DataFrame:
    """Gopher-rule quality gate per document → one row per doc with the
    measured signals, one boolean per rule, and the conjunctive ``keep``
    bit — the multi-rule drop filter every pre-training corpus pass runs
    (beyond-reference surface; complements the scalar ``text_quality_score``
    by exposing WHICH rule fired, the operational need when tuning a
    100 TB filter).

    Rules (Rae et al. 2021, Gopher §A1.1): word-count band, mean-word-
    length band, minimum stopword hits, and top-token repetition (the
    single most frequent token's share of the doc — the unigram cousin of
    ``text_repetition_3gram``'s duplicate-n-gram fraction).

    Shape at 100 TB: ZERO shuffle — every signal is row-local, one
    codegen'd projection over the scan. The top-token share is the one
    interpreted-HOF term (distinct×n filter ops per row, bounded by the
    doc's distinct-token count); everything else is plain length
    arithmetic. The SQL twin mirrors each expression shape exactly."""
    d = spread(cat.documents)
    c = F.col("text")
    toks = TXT.tokens(c)
    n = F.size(toks)
    mwl = TXT.mean_token_length(c)
    sw = F.array(*[F.lit(w) for w in TXT.EN_STOPWORDS])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    top_frac = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda u: F.size(F.filter(toks, lambda x: x == u)),
        )
    ) / F.greatest(n, F.lit(1))
    r_wc = (n >= GOPHER_WC_MIN) & (n <= GOPHER_WC_MAX)
    r_mwl = (mwl >= GOPHER_MWL_MIN) & (mwl <= GOPHER_MWL_MAX)
    r_stop = stop_hits >= GOPHER_MIN_STOP_HITS
    r_rep = top_frac <= GOPHER_TOP_TOKEN_FRAC_MAX
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        round_half_up(mwl, 4).alias("mean_token_len"),
        stop_hits.alias("stop_hits"),
        round_half_up(top_frac, 4).alias("top_token_frac"),
        r_wc.alias("r_wordcount"),
        r_mwl.alias("r_meanwordlen"),
        r_stop.alias("r_stopwords"),
        r_rep.alias("r_repetition"),
        (r_wc & r_mwl & r_stop & r_rep).alias("keep"),
    )


def pipeline_profile_columns(cat: Catalog) -> DataFrame:
    """Column-level data profiling of the documents table → one row per
    column (name, n_rows, n_nulls, n_distinct, min/max rendered as
    strings, avg_len of the string rendering) — the Deequ-style ingest
    health check a 100 TB pipeline runs before anything else (schema
    drift, null floods, cardinality collapse, truncated values all show
    up here first).

    Shape at scale: ONE pass over the scan. All per-column measures ride
    in a single wide aggregate; Spark plans the multi-column exact
    count-distinct with one Expand (row multiplier = #profiled columns)
    feeding a partial+final hash aggregate — no join, no per-column scan.
    At petabyte scale the production dial swaps exact count-distinct for
    ``approx_count_distinct`` (HLL, mergeable, Expand-free); exact is
    kept here because the DuckDB twin must hash-match bit-for-bit.
    min/max/avg_len profile the STRING rendering of every column
    (BIGINT casts render identically in Spark and DuckDB), so one schema
    serves heterogeneous column types."""
    d = spread(cat.documents)
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        s = F.col(c).cast("string")
        aggs += [
            # coalesce: SUM over zero rows is NULL — an empty table has 0
            # nulls, and the profile must say so (degenerate-input test)
            F.coalesce(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)
            ).alias(f"{c}_nulls"),
            F.countDistinct(F.col(c)).alias(f"{c}_distinct"),
            F.min(s).alias(f"{c}_min"),
            F.max(s).alias(f"{c}_max"),
            round_half_up(F.avg(F.length(s)), 4).alias(f"{c}_avglen"),
        ]
    wide = d.agg(*aggs)
    stacked = wide.select(
        "n_rows",
        F.expr(
            "stack({n}, {args}) as (column_name, n_nulls, n_distinct, "
            "min_str, max_str, avg_len)".format(
                n=len(cols),
                args=", ".join(
                    f"'{c}', {c}_nulls, {c}_distinct, {c}_min, {c}_max, "
                    f"{c}_avglen"
                    for c in cols
                ),
            )
        ),
    )
    return stacked.select(
        "column_name", "n_rows", "n_nulls", "n_distinct",
        "min_str", "max_str", "avg_len",
    )


def pipeline_profile_quantiles(cat: Catalog) -> DataFrame:
    """Quantile profiling of the corpus's numeric signals → one row per
    signal (signal, p50, p90, p99, min, max) over document char length
    and token count — the distribution half of the Deequ-style health
    check (``pipeline_profile_columns`` covers nulls/cardinality; this
    covers shape: a p99 collapse or explosion is the first symptom of a
    truncated crawl or a boilerplate flood).

    EXACT percentiles via Spark's ``percentile`` (linear interpolation —
    bit-identical to DuckDB's ``quantile_cont``, verified on the
    fixture), computed for both signals in ONE aggregate over one scan.
    At petabyte scale the production dial is ``approx_percentile``
    (KLL-style mergeable sketch, no global sort buffer); exact is kept
    here because the twin must hash-match — the same exact-vs-HLL trade
    recorded in ``pipeline_profile_columns``."""
    d = spread(cat.documents)
    sigs = {
        "n_chars": F.col("n_chars").cast("double"),
        "n_tokens": TXT.token_count(F.col("text")).cast("double"),
    }
    aggs = []
    for name, col in sigs.items():
        aggs += [
            F.percentile(col, F.lit(0.5)).alias(f"{name}_p50"),
            F.percentile(col, F.lit(0.9)).alias(f"{name}_p90"),
            F.percentile(col, F.lit(0.99)).alias(f"{name}_p99"),
            F.min(col).alias(f"{name}_min"),
            F.max(col).alias(f"{name}_max"),
        ]
    wide = d.agg(*aggs)
    # shared floor-rounding form (functions/rounding.py) spelled inline —
    # the stack() string can't call the Python helper, and native round()
    # would diverge from the twin on decimal-half boundary doubles
    rnd = "floor(({x}) * 1e4 + 0.5) / 1e4"
    return wide.select(
        F.expr(
            "stack({n}, {args}) as (signal, p50, p90, p99, min_val, max_val)".format(
                n=len(sigs),
                args=", ".join(
                    f"'{s}', {rnd.format(x=f'{s}_p50')}, "
                    f"{rnd.format(x=f'{s}_p90')}, {rnd.format(x=f'{s}_p99')}, "
                    f"{s}_min, {s}_max"
                    for s in sigs
                ),
            )
        )
    )


QUERIES = (
    "pipeline_jsonl_roundtrip",
    "text_gopher_rules",
    "pipeline_profile_columns",
    "pipeline_profile_quantiles",
    "text_token_stats",
    "text_quality_score",
    "text_lang_id",
    "text_fingerprint",
    "text_top_ngrams",
    "text_lang_rollup",
    "text_repetition_3gram",
    "text_tfidf_top_terms",
    "pipeline_stratified_sample",
    "pipeline_global_shuffle",
    "pipeline_decontaminate",
    "pipeline_training_mix",
    "pipeline_sequence_pack",
    "pipeline_doc_chunks",
    "pipeline_domain_mix",
    "pipeline_vocab_prune",
    "pipeline_quality_filter",
    "pipeline_pii_scrub",
    "pipeline_lm_perplexity",
    "text_bpe_token_stats",
    "text_winnow_fingerprints",
)
