"""Text-analysis operators for LLM training-data pipelines.

Beyond-reference capability (the reference's only text operation is the ES
keyword search, api_poc.py:65-123); these are the standard corpus-curation
passes a 100 TB documents table needs. All hot-path logic is built-in
``pyspark.sql.functions`` (JVM, whole-stage codegen) — no Python UDFs:

- token/char statistics        (tx_token_stats)
- BPE-ish token-count estimate (tx_bpe_estimate)
- language ID, n-gram heuristic(tx_lang_id)
- quality scoring              (tx_quality_score)
- document fingerprint         (tx_fingerprint — polynomial rolling hash)
- corpus term frequencies      (tx_term_freq)

Scale notes (100 TB): every operator here is a narrow per-row map over
``documents`` except ``tx_term_freq``, which is the classic word-count —
partial (map-side) aggregation means only (token, partial_count) rows
shuffle, bounded by vocabulary × partitions, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import t, t_par

# shared with the oracle SQL: deterministic, engine-agnostic definitions
_MOD = 1_000_000_007
_STOPWORDS = ("the", "a", "of", "and", "in")  # 'the'/'a' occur in the fixture vocab


def _tokens(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def tx_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics (whitespace tokenization)."""
    docs = t(spark, sf_dir, "documents")
    toks = _tokens()
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_actual"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        # single-space-joined text ⇒ avg token length is derivable exactly
        F.round(
            (F.length("text") - (F.size(toks) - 1)) / F.size(toks), 4
        ).alias("avg_token_len"),
    )


def tx_bpe_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token-count estimate: word-boundary tokens from a regex split
    plus a chars/4 subword correction — the standard cheap proxy used for
    corpus token budgeting when the real tokenizer is too expensive."""
    docs = t(spark, sf_dir, "documents")
    words = F.size(F.split(F.col("text"), r"[\s\.,;:!\?]+"))
    subword = F.ceil(F.length("text") / F.lit(4)).cast("bigint")
    return docs.select(
        "doc_id",
        words.alias("n_words"),
        subword.alias("n_subword_est"),
        F.greatest(words.cast("bigint"), subword).alias("n_tokens_est"),
    )


def tx_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic n-gram-marker language ID heuristic: count occurrences
    of per-language marker n-grams and take the argmax with a fixed
    precedence (en > de > fr > es). The classifier is a pure function of the
    text (checked against the oracle as such), independent of the stored
    ``lang`` column."""
    docs = t(spark, sf_dir, "documents")

    def count_marker(m: str) -> Column:
        return (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(m), F.lit(""))))
            / len(m)
        ).cast("int")

    en = count_marker("the ") + count_marker(" th")
    de = count_marker("sch") + count_marker("ei")
    fr = count_marker("eau") + count_marker("ou")
    es = count_marker("ll") + count_marker("ción")
    best = F.greatest(en, de, fr, es)
    guess = (
        F.when(best == 0, F.lit("und"))
        .when(en == best, F.lit("en"))
        .when(de == best, F.lit("de"))
        .when(fr == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return docs.select(
        "doc_id",
        en.alias("score_en"),
        de.alias("score_de"),
        fr.alias("score_fr"),
        es.alias("score_es"),
        guess.alias("lang_guess"),
    )


def tx_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX: the n-gram classifier's guesses
    (``tx_lang_id`` — one classifier, one contract) against the corpus'
    stored ``lang`` labels, per (true, guess) cell with the within-class
    share — the evaluation every heuristic filter owes before it gates a
    corpus (mis-ID'ed languages are silently DROPPED data). Completes the
    measured-quality-gate family: ANN recall, LSH recall, forecast
    backtest, sketch calibration, and now classifier confusion.

    Scale shape: one doc-keyed join of two narrow per-doc frames, a
    (true, guess)-keyed partial agg bounded by |langs|², and a window
    over that vocabulary-sized table. Integer counts; one division."""
    from pyspark.sql import Window

    guesses = tx_lang_id(spark, sf_dir).select("doc_id", "lang_guess")
    truth = t(spark, sf_dir, "documents").select("doc_id", F.col("lang").alias("lang_true"))
    cells = (
        truth.join(guesses, "doc_id")
        .groupBy("lang_true", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("lang_true")
    return cells.select(
        "lang_true",
        "lang_guess",
        "n_docs",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6
        ).alias("share_of_true"),
        (F.col("lang_true") == F.col("lang_guess")).alias("correct"),
    ).orderBy("lang_true", F.desc("n_docs"), "lang_guess")


def tx_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length score, stopword ratio, digit/punct ratio —
    the usual heuristic pre-filters before expensive model-based scoring."""
    docs = t(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    stop_hits = sum(
        (F.size(F.filter(toks, lambda x: x == F.lit(s))) for s in _STOPWORDS),
        F.lit(0),
    )
    digit_chars = F.length("text") - F.length(F.regexp_replace(F.col("text"), r"[0-9]", ""))
    len_score = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
    stop_ratio = stop_hits / n_tokens
    # greatest(len,1): an empty document must score 0, not ANSI-throw
    # DIVIDE_BY_ZERO (mirrored in the oracle)
    digit_ratio = digit_chars / F.greatest(F.length("text"), F.lit(1))
    quality = F.round(
        F.lit(0.5) * len_score + F.lit(0.5) * stop_ratio - F.lit(1.0) * digit_ratio, 6
    )
    return docs.select(
        "doc_id",
        F.round(len_score, 6).alias("len_score"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        quality.alias("quality"),
    )


def tx_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: token-level polynomial rolling hash
    ``h = (h*31 + token_hash) mod p``, where ``token_hash`` is itself a
    character-level rolling hash — deterministic, engine-agnostic (the
    DuckDB oracle computes the identical recurrence via list_reduce), and
    whitespace-normalization-invariant."""
    docs = t_par(spark, sf_dir, "documents")
    # char hash per token, then fold tokens — all JVM-side higher-order funcs
    tok_hash = F.transform(
        _tokens(),
        lambda tok: F.aggregate(
            F.filter(F.split(tok, ""), lambda ch: ch != F.lit("")),
            F.lit(0).cast("bigint"),
            lambda acc, ch: (acc * 31 + F.ascii(ch)) % _MOD,
        ),
    )
    doc_hash = F.aggregate(
        tok_hash,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 131 + h) % _MOD,
    )
    return docs.select("doc_id", doc_hash.alias("fingerprint"))


def tx_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/eval split (key-hash modulo — stable across
    runs and machines, unlike randomSplit) with per-split/lang accounting."""
    docs = t(spark, sf_dir, "documents")
    split = F.when(F.col("doc_id") % 10 < 8, "train").otherwise("eval")
    return (
        docs.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(_tokens())).alias("n_tokens"),
        )
    )


def tx_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-quartile binning (exact ntile(4) over the quality score) —
    the curriculum/filtering view of the corpus: how much data sits in
    each quality band and what it looks like.

    Scale: an unpartitioned ``ntile`` window would be a single-reducer
    global sort. This computes the SAME exact result with the distributed
    global-rank pattern: range-repartition on the sort key (parallel range
    shuffle), rank locally per partition, then add driver-collected
    partition-count offsets (32 longs, not data). Every stage is parallel;
    nothing ever funnels through one task."""
    docs = t(spark, sf_dir, "documents")
    toks = _tokens()
    stop_hits = sum(
        (F.size(F.filter(toks, lambda x: x == F.lit(s))) for s in _STOPWORDS),
        F.lit(0),
    )
    # the SAME formula as tx_quality_score (incl. the digit penalty) — the
    # bins must rank by the published quality, not a silent variant
    digit_chars = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), r"[0-9]", "")
    )
    quality = F.round(
        F.lit(0.5) * F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
        + F.lit(0.5) * (stop_hits / F.size(toks))
        - F.lit(1.0) * (digit_chars / F.greatest(F.length("text"), F.lit(1))),
        6,
    )
    scored = docs.select("doc_id", "n_chars", quality.alias("q"))
    # (q, doc_id) is a total order (doc_id unique) → range partitions are
    # disjoint rank ranges; local rank + partition offset = exact global rank
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    # persist BEFORE the counts action: repartitionByRange re-samples its
    # range boundaries per execution (seed derives from the fresh RDD id),
    # so the counts job and the final job must share ONE materialized
    # partitioning or the collected offsets describe the wrong partitions.
    # The cache is pinned to one physical plan; evicted blocks recompute
    # from the same shuffle output, preserving the boundaries.
    # Lifetime: the returned plan references the cache lazily, so there is
    # no in-scope unpersist — sweep harnesses clearCache between queries
    # (bench/check_correctness), and long sessions rely on LRU eviction,
    # the same documented policy as the dedup shingle caches.
    ranged = (
        scored.repartitionByRange(n_parts, F.col("q"), F.col("doc_id"))
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    counts = dict(
        (r["__pid"], r["cnt"])
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    n = sum(counts.values())
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
    )
    w_local = Window.partitionBy("__pid").orderBy("q", "doc_id")
    rank = (off_map[F.col("__pid")] + F.row_number().over(w_local)).cast("long")
    # ntile(k): n%k leading buckets carry one extra row
    size, rem = divmod(n, 4)
    big = rem * (size + 1)
    bin_expr = (
        F.when(rank <= F.lit(big), F.floor((rank - 1) / F.lit(size + 1)) + 1)
        .otherwise(F.lit(rem) + F.floor((rank - 1 - F.lit(big)) / F.lit(max(size, 1))) + 1)
        .cast("int")
    )
    return (
        ranged.withColumn("bin", bin_expr)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("q"), 6).alias("min_q"),
            F.round(F.max("q"), 6).alias("max_q"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


def tx_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency, top 40 tokens (word-count: map-side combine ⇒
    shuffle volume bounded by vocab × partitions)."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(40)
    )


_BURST_TOP = 20


def tx_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word BURSTINESS (Church & Gale): the variance-to-mean ratio of
    per-document counts — over ALL docs, zeros included — for the
    ``_BURST_TOP`` highest-df words. VMR ≈ 1 is Poisson dispersion (the
    function-word signature); VMR ≫ 1 is bursty topical content. The
    corpus-linguistics health check that separates a template farm
    (everything near-Poisson) from real topical text, read next to
    ``tx_entropy``'s source panel.

    Exactness: per-(word, doc) counts, df, Σc, and Σc² are exact
    integers riding decimal(38,0) ↔ HUGEINT; zeros enter through the
    one-row doc-count anchor algebraically (VMR = (N·Σc² − (Σc)²)/(N·Σc)
    — no zero rows materialize); the final mean/VMR evaluate through
    SHARED expression strings (the ts_granger recipe).

    Scale shape: one (word, doc) partial-agg shuffle, a vocab-bounded
    rollup, TakeOrdered top-20, and the one-row anchor cross-join
    (allow-listed)."""
    docs = t(spark, sf_dir, "documents")
    per = (
        docs.select("doc_id", F.explode(_tokens()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    stats = per.groupBy("w").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum(dec("c")).alias("tf"),
        F.sum(dec("c") * dec("c")).alias("sq"),
    )
    top = stats.orderBy(F.desc("df"), F.asc("w")).limit(_BURST_TOP)
    tot = F.broadcast(
        docs.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("nd"))
    )
    d = top.crossJoin(tot).select(
        F.col("w").alias("word"),
        F.col("df").cast("long").alias("n_docs"),
        F.col("tf").cast("long").alias("n_occurrences"),
        F.col("nd").cast("double").alias("n"),
        F.col("tf").cast("double").alias("tf"),
        F.col("sq").cast("double").alias("sq"),
    )
    return d.select(
        "word",
        "n_docs",
        "n_occurrences",
        F.expr("round(tf / n, 6)").alias("mean_per_doc"),
        F.expr("round((n * sq - tf * tf) / (n * tf), 6)").alias("vmr"),
    ).orderBy(F.desc("n_docs"), F.asc("word"))


def tx_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy per document — the cheap "perplexity"
    quality filter training pipelines run before the expensive model-based
    one (CCNet/Gopher-style): score each doc by the summed surprisal
    -ln p(token) under the corpus's own unigram distribution; gibberish
    and boilerplate-heavy docs score high.

    Scale shape: unigram counts are one vocab-bounded shuffle with
    map-side combine; the surprisal table is vocab-sized and BROADCAST to
    the token stream (the fact side never shuffles for the join); the
    per-doc rollup is the only data-sized shuffle. Determinism contract:
    per-token surprisal is rounded to 6 before the per-doc sum runs in
    decimal space, so both engines add exactly; the p=freq/N division is
    a single IEEE op on identical doubles."""
    from ._cache import derived

    # three plan branches consume the exploded token frame (total count,
    # vocab counts, probe side of the join) — persist it once or the
    # corpus re-tokenizes per branch
    toks = derived(
        "lm_toks",
        sf_dir,
        ("documents",),
        lambda: t(spark, sf_dir, "documents").select(
            "doc_id", F.explode(_tokens()).alias("token")
        ),
    )
    n_total = toks.count()  # driver scalar: one metadata-cheap agg
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    surp = freq.select(
        "token",
        F.round(-F.log(F.col("freq") / F.lit(float(n_total))), 6).alias("s"),
    )
    return (
        toks.join(F.broadcast(surp), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum(F.col("s").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("xent_sum"),
        )
    )


def tx_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: each document's top-3 most
    characteristic tokens — the classic summarization/tagging primitive.
    idf = round(ln((N+1)/(df+1)), 6) (smoothed; ln rounded before ANY
    further arithmetic, the tx_lm_score rule), tf·idf rounded to 6 and
    RANKED ON THE ROUNDED VALUE (token tiebreak), so both engines pick
    identical keywords even among near-ties.

    Scale shape: (doc, token) counts partial-aggregate before their
    shuffle; document frequency is a vocab-bounded rollup broadcast back
    into the token stream; N is one O(1)-row aggregate; the final top-3 is
    a per-doc window over ≤ vocab rows per doc."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    n_docs = docs.count()
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf6 = F.round(
        F.log((F.lit(n_docs) + F.lit(1.0)) / (F.col("df") + F.lit(1))), 6
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .withColumn("tfidf", F.round(F.col("tf") * idf6, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "token", "tfidf")
    )


# ------------------------------------------------------------ chunking

_CHUNK_SIZE = 64  # tokens per chunk (context-window slice)
_CHUNK_STRIDE = 48  # tokens between chunk starts (16-token overlap)


def tx_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with overlap — the RAG-indexing /
    training-example prep primitive: split every document into
    ``_CHUNK_SIZE``-token windows advancing by ``_CHUNK_STRIDE`` tokens
    (16-token overlap preserves context across boundaries), emitting
    (doc_id, chunk_id, chunk_text, chunk_tokens). A doc with <= SIZE
    tokens yields exactly one chunk; the final chunk is the short tail.

    Scale shape: a pure per-row generate — tokens are bound once per row
    (``bind``), the chunk list materializes via sequence+transform, and
    explode fans out with NO shuffle anywhere; output rows ≈ corpus_tokens
    / stride regardless of document skew. At 100 TB this is the map-only
    pass you want ahead of the embedding stage."""
    from .common import bind

    docs = t(spark, sf_dir, "documents")
    size, stride = _CHUNK_SIZE, _CHUNK_STRIDE

    def chunks_of(w: Column) -> Column:
        n = F.size(w)
        n_chunks = F.when(n <= size, F.lit(1)).otherwise(
            F.ceil((n - size) / F.lit(float(stride))).cast("int") + 1
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_id"),
                F.array_join(F.slice(w, i * stride + 1, size), " ").alias(
                    "chunk_text"
                ),
                F.size(F.slice(w, i * stride + 1, size)).alias("chunk_tokens"),
            ),
        )

    return docs.select(
        "doc_id", F.explode(bind(_tokens(), chunks_of)).alias("c")
    ).select("doc_id", "c.chunk_id", "c.chunk_text", "c.chunk_tokens")


def tx_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via pointwise mutual information: the 20 bigrams
    whose co-occurrence most exceeds chance (PMI = ln(p(ab)/(p(a)p(b))),
    count ≥ 5 support floor) — the phrase-detection pass (word2vec-style
    phrase joining, vocabulary building) a corpus pipeline runs before
    tokenizer training.

    Determinism contract: PMI is one ln() over a single chained product of
    exact integer counts cast to double (identical IEEE op sequence in
    both engines), rounded to 6 before ranking (bigram-string tiebreak) —
    the tx_lm_score rule.

    Scale shape: bigram/unigram counts are word-count aggregations
    (map-side combine, vocab-bounded shuffle); the two corpus totals are
    O(1)-row driver scalars; unigram counts broadcast into the bigram
    stream; top-20 is TakeOrderedAndProject, never a global sort."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens()).alias("tok")).filter(
        F.col("tok") != ""
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_uni = toks.count()
    from .common import bind

    bigrams = docs.select(
        F.explode(
            bind(
                _tokens(),
                lambda w: F.when(
                    F.size(w) >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size(w) - 2),
                        lambda i: F.struct(
                            w[i].alias("a"), w[i + 1].alias("b")
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<a:string,b:string>>")),
            )
        ).alias("bg")
    ).select("bg.a", "bg.b")
    bi = bigrams.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    n_bi = bigrams.count()
    joined = (
        bi.filter(F.col("c_ab") >= 5)
        .join(F.broadcast(uni.withColumnRenamed("c", "c_a")), bi.a == uni.tok)
        .drop("tok")
        .join(F.broadcast(uni.withColumnRenamed("c", "c_b")), bi.b == uni.tok)
        .drop("tok")
    )
    pmi = F.round(
        F.log(
            F.col("c_ab").cast("double")
            * F.lit(float(n_uni))
            * F.lit(float(n_uni))
            / (
                F.lit(float(n_bi))
                * F.col("c_a").cast("double")
                * F.col("c_b").cast("double")
            )
        ),
        6,
    )
    return (
        joined.select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            "c_ab",
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(20)
    )


def tx_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring (Flesch reading-ease + Flesch-Kincaid grade)
    with the standard vowel-group syllable heuristic: syllables(word) =
    max(1, count of [aeiouy]+ runs). Deterministic and engine-agnostic —
    the oracle replays the identical regex counts and the identical
    operation order, so the doubles match bit-for-bit. Narrow per-row map;
    no shuffle, no UDF."""
    docs = t(spark, sf_dir, "documents")
    w = F.filter(_tokens(), lambda x: x != F.lit(""))
    sentences = F.filter(
        F.split(F.col("text"), r"[.!?]+"), lambda x: F.trim(x) != F.lit("")
    )
    n_words = F.size(w)
    n_sent = F.greatest(F.size(sentences), F.lit(1))
    syllables = F.aggregate(
        w,
        F.lit(0).cast("bigint"),
        lambda a, x: a
        + F.greatest(
            F.size(F.regexp_extract_all(x, F.lit("[aeiouyAEIOUY]+"), F.lit(0))),
            F.lit(1),
        ),
    )
    wd = F.greatest(n_words, F.lit(1)).cast("double")
    words_per_sent = n_words / n_sent.cast("double")
    syll_per_word = syllables / wd
    flesch = F.lit(206.835) - F.lit(1.015) * words_per_sent - F.lit(84.6) * syll_per_word
    fk_grade = F.lit(0.39) * words_per_sent + F.lit(11.8) * syll_per_word - F.lit(15.59)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.size(sentences).alias("n_sentences"),
        syllables.alias("n_syllables"),
        F.round(flesch, 4).alias("flesch"),
        F.round(fk_grade, 4).alias("fk_grade"),
    )


_VOCAB_NGRAM_MAX = 4
_VOCAB_TOP = 200


def tx_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-vocabulary induction (WordPiece-frequency style): the top-200
    character n-grams (n = 1..4) over word-boundary-marked words ('_' +
    word, the SentencePiece convention), weighted by corpus word frequency.
    The first step of training any tokenizer — rank candidate subword
    units by corpus mass.

    Scale shape: the corpus-sized pass is ONE word count with map-side
    combine (shuffle bounded by vocabulary × partitions, Heaps-law
    sublinear); the quadratic-ish n-gram explosion (≤ 4·len(word) grams)
    runs over DISTINCT words weighted by count — vocabulary-sized, not
    corpus-sized. Repeated n-grams inside one word count multiply ('aaa'
    contributes 'aa' twice), identically in both engines. Counts are
    exact integers; top-k is TakeOrderedAndProject on the (freq DESC,
    ngram) total order."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(_tokens()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    marked = words.select(F.concat(F.lit("_"), F.col("w")).alias("mw"), "wf")

    def grams_of(n: int):
        # NOTE: the kernel must be a ONE-parameter lambda — F.transform
        # treats a second parameter as the element-index slot, so the
        # tempting `lambda i, n=n:` closure silently receives the index
        return F.when(
            F.length("mw") >= n,
            F.transform(
                F.sequence(F.lit(1), F.length("mw") - n + 1),
                lambda i: F.substr(F.col("mw"), i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    per_n = [grams_of(n) for n in range(1, _VOCAB_NGRAM_MAX + 1)]
    return (
        marked.select(F.explode(F.flatten(F.array(*per_n))).alias("ngram"), "wf")
        .groupBy("ngram")
        .agg(F.sum("wf").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("ngram"))
        .limit(_VOCAB_TOP)
    )


# WordPiece apply: greedy longest-match window, bounded by the vocab's
# longest unit (matches _VOCAB_NGRAM_MAX); UNK advances one char with id -1
_TOKENIZE_UNK = -1


def _induced_vocab_entries(spark: SparkSession, sf_dir: str) -> list:
    """Collect the induced vocab (ngram → dense id by (freq DESC, ngram)
    rank, ids 1..N) to the driver. Deliberate driver-side step: a tokenizer
    vocabulary is a MODEL ARTIFACT with a contract-bounded size
    (_VOCAB_TOP = 200), not data — real pipelines ship it to every worker
    as a broadcast file. The Holt lookup-table precedent: bounded,
    deterministic, replayed identically by the oracle's row_number."""
    rows = tx_vocab_build(spark, sf_dir).collect()  # ordered (freq DESC, ngram)
    return [(r["ngram"], i) for i, r in enumerate(rows, start=1)]


def _word_subword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match WordPiece stats per DISTINCT word: columns
    (w, n_tok, n_unk, first_tid, last_tid). Tokenizing distinct words —
    not the corpus — is the 100 TB shape: vocabulary grows Heaps-law
    sublinearly, so the expensive char-level fold runs once per word form
    and per-doc stats become a join + aggregate (the word-cache trick every
    production tokenizer uses).

    The fold walks '_'+word one match at a time: try the 4/3/2/1-char
    substring at the cursor against the vocab map (longest wins, UNK
    advances 1). The accumulator is a (pos, n, u, first, last) struct over
    sequence(1, len) — iterations whose index isn't the cursor pass the
    accumulator through, so variable-length steps fit a fixed-length fold.
    Persisted (bounded) because the frame is re-read by every consumer and
    Catalyst's projection-collapse would otherwise inline the fold once
    per extracted field."""
    from ._cache import derived

    entries = _induced_vocab_entries(spark, sf_dir)
    lits: list = []
    for ng, i in entries:
        lits += [F.lit(ng), F.lit(i)]
    vmap = F.create_map(*lits)

    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(_tokens()).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    mw = F.concat(F.lit("_"), F.col("w"))
    acc0 = F.struct(
        F.lit(1).alias("pos"),
        F.lit(0).alias("n"),
        F.lit(0).alias("u"),
        F.lit(None).cast("int").alias("first"),
        F.lit(None).cast("int").alias("last"),
    )

    def step(acc: Column, i: Column) -> Column:
        # try_element_at, not element_at: ANSI mode (this repo's default)
        # makes element_at THROW on a missing map key; missing must be NULL
        probes = [
            F.try_element_at(vmap, F.substr(mw, acc["pos"], F.lit(n)))
            for n in (4, 3, 2, 1)
        ]
        tid = F.coalesce(*probes, F.lit(_TOKENIZE_UNK))
        mlen = (
            F.when(probes[0].isNotNull(), F.lit(4))
            .when(probes[1].isNotNull(), F.lit(3))
            .when(probes[2].isNotNull(), F.lit(2))
            .otherwise(F.lit(1))  # 1-char hit and UNK both advance 1
        )
        stepped = F.struct(
            (acc["pos"] + mlen).alias("pos"),
            (acc["n"] + 1).alias("n"),
            (acc["u"] + (tid == _TOKENIZE_UNK).cast("int")).alias("u"),
            F.coalesce(acc["first"], tid).alias("first"),
            tid.alias("last"),
        )
        return F.when(i == acc["pos"], stepped).otherwise(acc)

    st = F.aggregate(F.sequence(F.lit(1), F.length(mw)), acc0, step)
    stats = derived(
        "subword_stats", sf_dir, ("documents",), lambda: words.select("w", st.alias("st"))
    )
    return stats.select(
        "w",
        F.col("st.n").alias("n_tok"),
        F.col("st.u").alias("n_unk"),
        F.col("st.first").alias("first_tid"),
        F.col("st.last").alias("last_tid"),
    )


def tx_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the induced subword vocabulary (the gap after tx_vocab_build:
    inducing a vocab is step one of training a tokenizer; encoding the
    corpus with it is what every downstream op actually consumes). Greedy
    longest-match WordPiece per doc: n_words, n_subword_tokens (the REAL
    token count sequence packing should budget with, vs the whitespace
    proxy), n_unk (OOV-char rate — a quality signal), and the first/last
    token ids (the sanity probe a tokenizer-parity harness checks).

    Scale shape: the char-level fold runs per DISTINCT word
    (_word_subword_stats); per-doc stats are one explode + one
    vocabulary-sized join (AQE broadcasts it at any realistic scale) + one
    doc-keyed partial agg. first/last ids via min_by/max_by on the word
    position — unique per doc, so deterministic."""
    ws = _word_subword_stats(spark, sf_dir)
    docs = t(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", F.posexplode(_tokens()).alias("pos", "w")
    ).filter(F.col("w") != "")
    return (
        exploded.join(ws, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_subword_tokens"),
            F.sum("n_unk").cast("long").alias("n_unk"),
            F.min_by("first_tid", "pos").alias("first_id"),
            F.max_by("last_tid", "pos").alias("last_id"),
        )
    )


def tx_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity: unigram Shannon entropy, type-token
    ratio, and entropy normalized by the maximum ln(V) — the corpus-health
    panel that flags template farms / boilerplate mills (low entropy, low
    TTR) and mixed-quality crawl slices before they skew a training mix.

    Determinism: each token type's surprisal rounds to 6 (the tx_lm_score
    rule), the entropy numerator Σ c·s runs EXACTLY as
    decimal(count)·decimal(surprisal) — integer-scaled, so the
    cross-vocabulary sum is order-independent — and every remaining step
    is a single rounded IEEE op. Scale shape: one (source, token) count
    with map-side combine (Heaps-bounded shuffle), a broadcast of the
    n_sources-row totals, one vocabulary-sized decimal aggregate."""
    docs = t(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.explode(_tokens()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    src = per.groupBy("source").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("vocab_size")
    )
    s6 = F.round(-F.log(F.col("c") / F.col("n_tokens")), 6)
    terms = per.join(F.broadcast(src), "source").select(
        "source",
        (
            F.col("c").cast("decimal(20,0)") * s6.cast("decimal(18,6)")
        ).alias("w"),
    )
    esum = terms.groupBy("source").agg(F.sum("w").alias("wsum"))
    ent = F.round(F.col("wsum").cast("double") / F.col("n_tokens"), 6)
    return src.join(esum, "source").select(
        "source",
        "n_tokens",
        "vocab_size",
        F.round(F.col("vocab_size") / F.col("n_tokens"), 6).alias("ttr"),
        ent.alias("entropy"),
        F.when(
            F.col("vocab_size") > 1,
            F.round(ent / F.round(F.log(F.col("vocab_size")), 6), 6),
        ).alias("norm_entropy"),
    )


def tx_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the corpus rank-frequency curve: least
    squares of ln(freq) on ln(rank) — natural language sits near slope
    -1, so a corpus whose slope is far off (too flat: template spam
    inflating the tail; too steep: a few boilerplate tokens dominating)
    fails the linguistic-health screen before training.

    Determinism: ranks are integers on the (freq DESC, token) total
    order; ln values round to 6 and every regression term rounds before
    the EXACT decimal sums (the tx_entropy rule), so the normal-equation
    arithmetic is order-independent; slope/intercept are a fixed-shape
    double expression rounded at the edge. Scale shape: one Heaps-bounded
    word count; the rank window orders the VOCABULARY (not the corpus) —
    the one global sort here is over Heaps-law-many rows, the same bound
    tx_vocab_build's top-k carries."""
    docs = t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(_tokens()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    pts = freq.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 6).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 6).alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(28,6)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(28,6)")).alias("sy"),
        F.sum(
            F.round(F.col("x") * F.col("y"), 9).cast("decimal(28,9)")
        ).alias("sxy"),
        F.sum(
            F.round(F.col("x") * F.col("x"), 9).cast("decimal(28,9)")
        ).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / den
    return sums.select(
        F.col("n").alias("n_terms"),
        # den = 0 on a single-term vocabulary: no line exists -> NULL
        F.when(den != 0, F.round(slope, 6)).alias("zipf_slope"),
        F.when(den != 0, F.round((sy - slope * sx) / n, 6)).alias("intercept"),
    )


def tx_tokenizer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer evaluation report per source — the table a tokenizer team
    reads before shipping a vocab: compression (word chars per subword
    token; higher = vocab captures this source's morphology), fertility
    (subwords per word; the 100%-coverage analogue of tokens/word), and
    UNK rate (share of emitted tokens that fell through to a 1-char OOV
    advance). Sources whose fertility or UNK rate is an outlier are where
    the induced vocab underfits — the signal that drives vocab-size or
    corpus-mix changes.

    Determinism: every statistic is a single division of two exact
    integer sums (engine-identical IEEE doubles), rounded to 6. Scale
    shape: the tokenizer fold is per DISTINCT word; this report is one
    explode + vocabulary-sized join + a 20-row (n_sources) aggregate."""
    ws = _word_subword_stats(spark, sf_dir)
    docs = t(spark, sf_dir, "documents")
    exploded = docs.select(
        "source", F.explode(_tokens()).alias("w")
    ).filter(F.col("w") != "")
    agg = (
        exploded.join(ws, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_word_chars"),
            F.sum("n_tok").cast("long").alias("n_subwords"),
            F.sum("n_unk").cast("long").alias("n_unk"),
        )
    )
    return agg.select(
        "source",
        "n_words",
        "n_subwords",
        "n_unk",
        F.round(F.col("n_word_chars").cast("double") / F.col("n_subwords"), 6)
        .alias("chars_per_token"),
        F.round(F.col("n_subwords").cast("double") / F.col("n_words"), 6)
        .alias("fertility"),
        F.round(F.col("n_unk").cast("double") / F.col("n_subwords"), 6)
        .alias("unk_rate"),
    )


def tx_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy per document — the conditional upgrade of
    ``tx_lm_score``: score each doc by Σ -ln p(w_i | w_{i-1}) under the
    corpus's own bigram model (p = c(w1 w2) / c(w1 ·), contexts counted
    over bigram-first positions so the distribution normalizes). A
    shuffled-word document keeps its unigram score but collapses here —
    the word-order quality signal unigram filters miss.

    Determinism: the tx_lm_score contract — each surprisal rounds to 6,
    the per-doc sum runs in decimal space (exact, order-independent).
    Scale shape: bigram and context counts are Heaps-bounded shuffles with
    map-side combine; the probability join keys on the bigram WITHOUT a
    broadcast hint (the bigram table outgrows vocab — AQE broadcasts at
    fixture scale, shuffles at 100 TB); per-doc rollup is the only
    data-sized shuffle."""
    from ._cache import derived

    docs = t(spark, sf_dir, "documents")
    arr = _tokens()
    n = F.size(arr)
    pairs = F.zip_with(
        F.slice(arr, 1, n - 1),
        F.slice(arr, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), F.concat(a, F.lit(" "), b).alias("bg")),
    )
    doc_bi = derived(
        "bigram_stream",
        sf_dir,
        ("documents",),
        lambda: docs.filter(n >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.bg").alias("bg")),
    )
    ctx = doc_bi.groupBy("w1").agg(F.count(F.lit(1)).alias("uf"))
    bi = doc_bi.groupBy("w1", "bg").agg(F.count(F.lit(1)).alias("bf"))
    surp = bi.join(ctx, "w1").select(
        "bg", F.round(-F.log(F.col("bf") / F.col("uf")), 6).alias("s")
    )
    return (
        doc_bi.join(surp, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum(F.col("s").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("xent2_sum"),
        )
    )


# Shared oracle CTEs replaying the greedy WordPiece walk. The walk is a
# RECURSIVE CTE (the Holt precedent: DuckDB list_reduce struct folds
# mis-evaluate multi-step recursions), advancing one match per level; the
# terminal state per word is the row whose cursor passed the end. vocab
# and words are MATERIALIZED so recursion levels don't re-derive them.
_SUBWORD_CTES = f"""
        vocab AS MATERIALIZED (
            WITH wf AS (
                SELECT w, count(*) AS wf
                FROM (SELECT unnest(string_split(text, ' ')) AS w
                      FROM documents)
                WHERE w != '' GROUP BY w
            ), marked AS (
                SELECT '_' || w AS mw, wf FROM wf
            ), grams AS (
                SELECT unnest(flatten([
                    [substr(mw, i, n) for i in range(1, len(mw) - n + 2)]
                    for n in range(1, {_VOCAB_NGRAM_MAX} + 1)
                ])) AS ngram, wf
                FROM marked
            ), ranked AS (
                SELECT ngram, CAST(sum(wf) AS BIGINT) AS freq
                FROM grams GROUP BY ngram
                ORDER BY freq DESC, ngram ASC
                LIMIT {_VOCAB_TOP}
            )
            SELECT ngram,
                   CAST(row_number() OVER (ORDER BY freq DESC, ngram ASC)
                        AS INTEGER) AS id
            FROM ranked
        ), words AS MATERIALIZED (
            SELECT DISTINCT w FROM (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE w <> ''
        ), walk AS (
            SELECT w, '_' || w AS mw, 1 AS pos, 0 AS n_tok, 0 AS n_unk,
                   CAST(NULL AS INTEGER) AS first_tid,
                   CAST(NULL AS INTEGER) AS last_tid
            FROM words
            UNION ALL
            SELECT w, mw,
                   pos + CASE WHEN v4.id IS NOT NULL THEN 4
                              WHEN v3.id IS NOT NULL THEN 3
                              WHEN v2.id IS NOT NULL THEN 2
                              ELSE 1 END,
                   n_tok + 1,
                   n_unk + CASE WHEN coalesce(v4.id, v3.id, v2.id, v1.id,
                                              {_TOKENIZE_UNK})
                                     = {_TOKENIZE_UNK} THEN 1 ELSE 0 END,
                   coalesce(first_tid,
                            coalesce(v4.id, v3.id, v2.id, v1.id,
                                     {_TOKENIZE_UNK})),
                   coalesce(v4.id, v3.id, v2.id, v1.id, {_TOKENIZE_UNK})
            FROM walk
            LEFT JOIN vocab v4 ON v4.ngram = substr(mw, pos, 4)
            LEFT JOIN vocab v3 ON v3.ngram = substr(mw, pos, 3)
            LEFT JOIN vocab v2 ON v2.ngram = substr(mw, pos, 2)
            LEFT JOIN vocab v1 ON v1.ngram = substr(mw, pos, 1)
            WHERE pos <= len(mw)
        ), word_stats AS (
            SELECT w, n_tok, n_unk, first_tid, last_tid
            FROM walk WHERE pos > len(mw)
        ), doc_words AS (
            SELECT doc_id, u.w AS w, u.pos AS pos FROM (
                SELECT doc_id,
                       unnest([{{'w': ws[i], 'pos': i}}
                               for i in range(1, len(ws) + 1)]) AS u
                FROM (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents)
            ) WHERE u.w <> ''
        )"""

_TOKENIZER_STATS_SQL = f"""
        WITH RECURSIVE {_SUBWORD_CTES}
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(s.n_tok) AS BIGINT) AS n_subwords,
               CAST(sum(s.n_unk) AS BIGINT) AS n_unk,
               round(CAST(CAST(sum(len(dw.w)) AS BIGINT) AS DOUBLE)
                     / CAST(sum(s.n_tok) AS BIGINT), 6) AS chars_per_token,
               round(CAST(CAST(sum(s.n_tok) AS BIGINT) AS DOUBLE)
                     / count(*), 6) AS fertility,
               round(CAST(CAST(sum(s.n_unk) AS BIGINT) AS DOUBLE)
                     / CAST(sum(s.n_tok) AS BIGINT), 6) AS unk_rate
        FROM doc_words dw
        JOIN word_stats s USING (w)
        JOIN documents d USING (doc_id)
        GROUP BY d.source
    """

_TOKENIZE_APPLY_SQL = f"""
        WITH RECURSIVE {_SUBWORD_CTES}
        SELECT d.doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(s.n_tok) AS BIGINT) AS n_subword_tokens,
               CAST(sum(s.n_unk) AS BIGINT) AS n_unk,
               CAST(arg_min(s.first_tid, d.pos) AS INTEGER) AS first_id,
               CAST(arg_max(s.last_tid, d.pos) AS INTEGER) AS last_id
        FROM doc_words d JOIN word_stats s USING (w)
        GROUP BY d.doc_id
    """


_HEAPS_DECILES = 10


def tx_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law fit: vocabulary growth V(N) ≈ K·N^β measured at 10
    corpus-prefix checkpoints (doc_id order) — the scaling diagnostic
    behind every "how big must the tokenizer vocab be at 10× data"
    estimate, and the empirical basis for the Heaps-bounded shuffle
    claims the tokenizer family documents (β < 1 ⇒ vocabulary shuffles
    grow sublinearly).

    Distributed shape: doc ranks come from the TWO-LEVEL prefix rule
    (intra-bucket ``row_number`` partitioned by ``doc_id div 1e6`` +
    cumulative bucket offsets — the a_mann_whitney recipe; no global
    single-partition sort of the corpus). Each doc folds into its decile
    group; cumulative token counts and first-occurrence vocabulary
    counts then live on a 10-row frame. The OLS fit runs as a
    decile-ordered sequential fold over 10 (ln N, ln V) points — exact
    integer sufficient statistics upstream, order-pinned doubles in the
    fit, same expression tree in DuckDB.

    The total doc count enters as a collected scalar (one count job —
    the build_ivf_index nlist rule: a bounded anchor, not data)."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(_tokens(), lambda x: x != "").alias("toks"),
    )
    n_docs = docs.count()
    from pyspark.sql import Window as W

    intra = W.partitionBy("bkt").orderBy("doc_id")
    per_doc = (
        docs.withColumn("bkt", F.expr("doc_id div 1000000"))
        .withColumn("ir", F.row_number().over(intra))
    )
    boff = (
        per_doc.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("bn"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("bn").over(
                    W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "off")
    )
    ranked = per_doc.join(boff, "bkt").select(
        "doc_id",
        "toks",
        F.expr(
            f"CAST((off + ir - 1) * {_HEAPS_DECILES} div {n_docs} + 1 AS INT)"
        ).alias("dd"),
        F.size("toks").alias("n_toks"),
    )
    gtok = ranked.groupBy("dd").agg(F.sum("n_toks").alias("g_toks"))
    wfirst = (
        ranked.select("dd", F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.min("dd").alias("fd"))
        .groupBy(F.col("fd").alias("dd"))
        .agg(F.count(F.lit(1)).alias("g_vocab"))
    )
    wd = W.orderBy("dd").rowsBetween(W.unboundedPreceding, W.currentRow)
    pts = (
        gtok.join(wfirst, "dd", "full_outer")
        .fillna(0, ["g_toks", "g_vocab"])
        .select(
            "dd",
            F.sum("g_toks").over(wd).alias("cn"),
            F.sum("g_vocab").over(wd).alias("cv"),
        )
    )
    init = F.struct(
        F.lit(0.0).alias("sx"),
        F.lit(0.0).alias("sy"),
        F.lit(0.0).alias("sxy"),
        F.lit(0.0).alias("sxx"),
        F.lit(0.0).alias("k"),
    )

    def step(acc, e):
        x, y = F.log(e["cn"].cast("double")), F.log(e["cv"].cast("double"))
        return F.struct(
            (acc["sx"] + x).alias("sx"),
            (acc["sy"] + y).alias("sy"),
            (acc["sxy"] + x * y).alias("sxy"),
            (acc["sxx"] + x * x).alias("sxx"),
            (acc["k"] + 1).alias("k"),
        )

    fitted = pts.agg(
        F.max(F.when(F.col("dd") == _HEAPS_DECILES, F.col("cn"))).alias(
            "n_tokens"
        ),
        F.max(F.when(F.col("dd") == _HEAPS_DECILES, F.col("cv"))).alias(
            "vocab_size"
        ),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("dd", "cn", "cv"))),
            init,
            step,
        ).alias("st"),
    )
    slope = (
        F.col("st.k") * F.col("st.sxy") - F.col("st.sx") * F.col("st.sy")
    ) / (
        F.col("st.k") * F.col("st.sxx") - F.col("st.sx") * F.col("st.sx")
    )
    return fitted.select(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.round(slope, 6).alias("heaps_beta"),
        F.round(
            F.exp((F.col("st.sy") - slope * F.col("st.sx")) / F.col("st.k")),
            6,
        ).alias("heaps_k"),
    )


_DRIFT_TOP_K = 10


def tx_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary DRIFT report: Jensen–Shannon contribution per term
    between two corpus halves (doc_id parity — a scale-stable split),
    top-{_DRIFT_TOP_K} drifted terms — the text-distribution sibling of
    ``ev_drift_psi``: PSI watches a numeric feature, this watches the
    token distribution itself (the first thing that moves when a crawl
    source shifts domains or a scraper breaks).

    Determinism: term counts and the (N_early, N_late, |V|) anchors are
    exact integers; each term's add-1-smoothed probabilities and JS
    contribution are computed with one identical double expression tree
    per term, then QUANTIZED to integer picounits per term
    (``floor(c·1e12)``) so the ranking key is an exact integer — no
    corpus-ordered double summation anywhere.

    Scale shape: one token-explode shuffle partial-aggregated on
    (term, half) — Heaps-bounded, the tx_term_freq shape; the anchor is
    a ONE-ROW aggregate cross join (allow-listed); top-k is
    TakeOrderedAndProject on (js_pico DESC, term)."""
    docs = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2 == 0).alias("early"),
        F.explode(F.filter(_tokens(), lambda x: x != "")).alias("w"),
    )
    counts = docs.groupBy("w").agg(
        F.sum(F.when(F.col("early"), 1).otherwise(0)).alias("ce"),
        F.sum(F.when(F.col("early"), 0).otherwise(1)).alias("cl"),
    )
    anchor = F.broadcast(
        counts.agg(
            F.sum("ce").alias("ne"),
            F.sum("cl").alias("nl"),
            F.count(F.lit(1)).alias("v"),
        )
    )
    pe = (F.col("ce") + 1).cast("double") / (F.col("ne") + F.col("v")).cast(
        "double"
    )
    pl = (F.col("cl") + 1).cast("double") / (F.col("nl") + F.col("v")).cast(
        "double"
    )
    m = (pe + pl) / 2.0
    contrib = 0.5 * (pe * F.log(pe / m)) + 0.5 * (pl * F.log(pl / m))
    return (
        counts.crossJoin(anchor)
        .select(
            F.col("w").alias("term"),
            F.col("ce").cast("long").alias("n_early"),
            F.col("cl").cast("long").alias("n_late"),
            F.floor(contrib * 1_000_000_000_000).cast("long").alias("js_pico"),
        )
        .orderBy(F.desc("js_pico"), F.asc("term"))
        .limit(_DRIFT_TOP_K)
    )


_RAKE_MAX_PHRASE = 3  # standard RAKE candidate cap
_RAKE_TOP_K = 15


def tx_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus: split
    each document's token stream into candidate phrases at STOPWORD
    boundaries (phrases capped at 3 words), score each word by
    degree/frequency over the candidate set (degree = summed length of
    phrases it occurs in), score each phrase as the sum of its words'
    scores, and emit the corpus' top-15 keyphrases — the unsupervised
    keyword tagger between raw term-frequency and the TF-IDF family.

    Exactness: word degree/frequency are exact decimal(38,0) ↔ HUGEINT
    counts; each word score is ONE double division; the ≤3-term phrase
    score folds in PINNED word-position order (sort_array(collect_list)
    + F.aggregate ↔ DuckDB list(ORDER BY pos) + list_reduce); the final
    ordering is a total order (score, n_occurrences, phrase).

    Scale shape: phrase candidates come from per-row array expressions
    (mark stopwords → rejoin → split — no UDF, no shuffle); the word
    stats and phrase rollups are vocabulary-bounded map-side-combined
    aggregates; the word-score join is vocab-sized; the top-k plans as
    TakeOrderedAndProject, never a global sort."""
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(_tokens(), lambda x: x != F.lit(""))
    marked = F.transform(
        toks,
        lambda x: F.when(
            x.isin(*_STOPWORDS), F.lit("|")
        ).otherwise(x),
    )
    phrases = F.filter(
        F.transform(
            F.split(F.array_join(marked, " "), "\\|"), lambda p: F.trim(p)
        ),
        lambda p: (p != F.lit(""))
        & (F.size(F.split(p, " ")) <= _RAKE_MAX_PHRASE),
    )
    pc = (
        docs.select(F.explode(phrases).alias("phrase"))
        .groupBy("phrase")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt"))
    )
    pw = pc.select(
        "phrase",
        "cnt",
        F.size(F.split("phrase", " ")).alias("plen"),
        F.posexplode(F.split("phrase", " ")).alias("pos0", "word"),
    )
    ws = pw.groupBy("word").agg(
        (
            F.sum(F.col("cnt") * F.col("plen")).cast("double")
            / F.sum("cnt").cast("double")
        ).alias("wscore")
    )
    psc = (
        pw.join(ws, "word")
        .groupBy("phrase")
        .agg(
            F.min("cnt").alias("cnt"),
            F.aggregate(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos0", "wscore"))),
                    lambda s: s["wscore"],
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("score"),
        )
    )
    return (
        psc.select(
            "phrase",
            F.col("cnt").cast("long").alias("n_occurrences"),
            F.round("score", 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.desc("n_occurrences"), F.asc("phrase"))
        .limit(_RAKE_TOP_K)
    )


QUERIES = {
    "tx_rake_keywords": tx_rake_keywords,
    "tx_heaps_law": tx_heaps_law,
    "tx_vocab_drift": tx_vocab_drift,
    "tx_vocab_build": tx_vocab_build,
    "tx_tokenize_apply": tx_tokenize_apply,
    "tx_tokenizer_stats": tx_tokenizer_stats,
    "tx_entropy": tx_entropy,
    "tx_zipf_fit": tx_zipf_fit,
    "tx_bigram_lm": tx_bigram_lm,
    "tx_token_stats": tx_token_stats,
    "tx_readability": tx_readability,
    "tx_collocations": tx_collocations,
    "tx_keyword_extract": tx_keyword_extract,
    "tx_lm_score": tx_lm_score,
    "tx_bpe_estimate": tx_bpe_estimate,
    "tx_lang_id": tx_lang_id,
    "tx_langid_eval": tx_langid_eval,
    "tx_quality_score": tx_quality_score,
    "tx_fingerprint": tx_fingerprint,
    "tx_term_freq": tx_term_freq,
    "tx_burstiness": tx_burstiness,
    "tx_train_split": tx_train_split,
    "tx_quality_bins": tx_quality_bins,
    "tx_chunk_overlap": tx_chunk_overlap,
}

_LANGID_SQL = """
        WITH scored AS (
            SELECT doc_id,
                CAST((length(text) - length(replace(text, 'the ', ''))) / 4
                   + (length(text) - length(replace(text, ' th', ''))) / 3 AS INTEGER) AS score_en,
                CAST((length(text) - length(replace(text, 'sch', ''))) / 3
                   + (length(text) - length(replace(text, 'ei', ''))) / 2 AS INTEGER) AS score_de,
                CAST((length(text) - length(replace(text, 'eau', ''))) / 3
                   + (length(text) - length(replace(text, 'ou', ''))) / 2 AS INTEGER) AS score_fr,
                CAST((length(text) - length(replace(text, 'll', ''))) / 2
                   + (length(text) - length(replace(text, 'ción', ''))) / 4 AS INTEGER) AS score_es
            FROM documents
        )
        SELECT doc_id, score_en, score_de, score_fr, score_es,
               CASE WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'und'
                    WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
                    WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
                    WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
                    ELSE 'es' END AS lang_guess
        FROM scored
    """

_HEAPS_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks,
               row_number() OVER (ORDER BY doc_id) AS r
        FROM documents
    ), st AS (SELECT count(*) AS n FROM documents),
    rk AS (
        SELECT doc_id, toks,
               CAST((r - 1) * {_HEAPS_DECILES} // n + 1 AS INTEGER) AS dd,
               len(toks) AS n_toks
        FROM d, st
    ),
    gtok AS (SELECT dd, sum(n_toks) AS g_toks FROM rk GROUP BY dd),
    wfirst AS (
        SELECT fd AS dd, count(*) AS g_vocab FROM (
            SELECT w, min(dd) AS fd FROM (
                SELECT dd, unnest(toks) AS w FROM rk
            ) GROUP BY w
        ) GROUP BY fd
    ),
    pts AS (
        SELECT dd,
               sum(coalesce(g_toks, 0)) OVER (ORDER BY dd
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
               sum(coalesce(g_vocab, 0)) OVER (ORDER BY dd
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
        FROM gtok FULL OUTER JOIN wfirst USING (dd)
    ),
    fit AS (
        SELECT
            max(CASE WHEN dd = {_HEAPS_DECILES} THEN cn END) AS n_tokens,
            max(CASE WHEN dd = {_HEAPS_DECILES} THEN cv END) AS vocab_size,
            CAST(count(*) AS DOUBLE) AS k,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(ln(CAST(cn AS DOUBLE)) ORDER BY dd)),
                (a, x) -> a + x) AS sx,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(ln(CAST(cv AS DOUBLE)) ORDER BY dd)),
                (a, x) -> a + x) AS sy,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(ln(CAST(cn AS DOUBLE)) * ln(CAST(cv AS DOUBLE))
                     ORDER BY dd)),
                (a, x) -> a + x) AS sxy,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(ln(CAST(cn AS DOUBLE)) * ln(CAST(cn AS DOUBLE))
                     ORDER BY dd)),
                (a, x) -> a + x) AS sxx
        FROM pts
    )
    SELECT CAST(st.n AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab_size AS BIGINT) AS vocab_size,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS heaps_beta,
           round(exp((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx)
                 / k), 6) AS heaps_k
    FROM fit, st
"""

_DRIFT_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id % 2 = 0 AS early, w
        FROM (SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '),
                            x -> x <> '')) AS w
              FROM documents)
    ), counts AS (
        SELECT w,
               CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS ce,
               CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS cl
        FROM tok GROUP BY w
    ), anchor AS (
        SELECT sum(ce) AS ne, sum(cl) AS nl, count(*) AS v FROM counts
    ), scored AS (
        SELECT w AS term, ce AS n_early, cl AS n_late,
               0.5 * ((CAST(ce + 1 AS DOUBLE) / CAST(ne + v AS DOUBLE))
                      * ln((CAST(ce + 1 AS DOUBLE) / CAST(ne + v AS DOUBLE))
                           / ((CAST(ce + 1 AS DOUBLE) / CAST(ne + v AS DOUBLE)
                               + CAST(cl + 1 AS DOUBLE)
                                 / CAST(nl + v AS DOUBLE)) / 2.0)))
               + 0.5 * ((CAST(cl + 1 AS DOUBLE) / CAST(nl + v AS DOUBLE))
                      * ln((CAST(cl + 1 AS DOUBLE) / CAST(nl + v AS DOUBLE))
                           / ((CAST(ce + 1 AS DOUBLE) / CAST(ne + v AS DOUBLE)
                               + CAST(cl + 1 AS DOUBLE)
                                 / CAST(nl + v AS DOUBLE)) / 2.0)))
                   AS contrib
        FROM counts, anchor
    )
    SELECT term, n_early, n_late,
           CAST(floor(contrib * 1000000000000) AS BIGINT) AS js_pico
    FROM scored
    ORDER BY js_pico DESC, term ASC LIMIT {_DRIFT_TOP_K}
"""

ORACLE = {
    # RAKE: identical phrase segmentation (mark stopwords -> rejoin ->
    # split), HUGEINT degree/frequency, pinned-order phrase-score fold
    "tx_rake_keywords": """
        WITH toks AS (
            SELECT list_filter(string_split(text, ' '), t -> t != '') AS tk
            FROM documents
        ), marked AS (
            SELECT list_transform(tk, t -> CASE WHEN t IN
                       ('the', 'a', 'of', 'and', 'in')
                       THEN '|' ELSE t END) AS mk
            FROM toks
        ), segs AS (
            SELECT trim(u.seg) AS phrase
            FROM marked,
                 unnest(string_split(array_to_string(mk, ' '), '|')) AS u(seg)
        ), cand AS (
            SELECT phrase FROM segs
            WHERE phrase != '' AND len(string_split(phrase, ' ')) <= 3
        ), pc AS (
            SELECT phrase, CAST(count(*) AS HUGEINT) AS cnt
            FROM cand GROUP BY phrase
        ), pw AS (
            SELECT phrase, cnt, CAST(len(wl) AS HUGEINT) AS plen,
                   wl[CAST(x.i AS INTEGER)] AS word, CAST(x.i AS INTEGER) AS pos0
            FROM (SELECT phrase, cnt, string_split(phrase, ' ') AS wl FROM pc),
                 unnest(range(1, len(wl) + 1)) AS x(i)
        ), ws AS (
            SELECT word,
                   CAST(sum(cnt * plen) AS DOUBLE)
                   / CAST(sum(cnt) AS DOUBLE) AS wscore
            FROM pw GROUP BY word
        ), psc AS (
            SELECT pw.phrase, min(pw.cnt) AS cnt,
                   list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                                    list(ws.wscore ORDER BY pw.pos0)),
                       (a, x) -> a + x) AS score
            FROM pw JOIN ws USING (word)
            GROUP BY pw.phrase
        )
        SELECT phrase, CAST(cnt AS BIGINT) AS n_occurrences,
               round(score, 6) AS score
        FROM psc
        ORDER BY score DESC, n_occurrences DESC, phrase
        LIMIT 15
    """,
    "tx_heaps_law": _HEAPS_ORACLE,
    "tx_vocab_drift": _DRIFT_ORACLE,
    "tx_tokenize_apply": _TOKENIZE_APPLY_SQL,
    "tx_tokenizer_stats": _TOKENIZER_STATS_SQL,
    "tx_zipf_fit": """
        WITH freq AS (
            SELECT token, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest(string_split(text, ' ')) AS token
                FROM documents
            ) WHERE token <> '' GROUP BY token
        ), pts AS (
            SELECT round(ln(CAST(row_number() OVER (ORDER BY freq DESC,
                                                    token ASC) AS DOUBLE)), 6)
                       AS x,
                   round(ln(CAST(freq AS DOUBLE)), 6) AS y
            FROM freq
        ), sums AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(x AS DECIMAL(28,6))) AS sx,
                   sum(CAST(y AS DECIMAL(28,6))) AS sy,
                   sum(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS sxy,
                   sum(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS sxx
            FROM pts
        )
        SELECT n AS n_terms,
               CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) != 0
               THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               END AS zipf_slope,
               CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) != 0
               THEN round((CAST(sy AS DOUBLE)
                           - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                              / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                             * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
               END AS intercept
        FROM sums
    """,
    "tx_entropy": """
        WITH toks AS (
            SELECT source, tok FROM (
                SELECT source, unnest(string_split(text, ' ')) AS tok
                FROM documents
            ) WHERE tok <> ''
        ), per AS (
            SELECT source, tok, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2
        ), src AS (
            SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS vocab_size
            FROM per GROUP BY 1
        ), terms AS (
            SELECT p.source,
                   CAST(p.c AS DECIMAL(20,0))
                   * CAST(round(-ln(p.c / CAST(s.n_tokens AS DOUBLE)), 6)
                          AS DECIMAL(18,6)) AS w
            FROM per p JOIN src s USING (source)
        ), esum AS (
            SELECT source, sum(w) AS wsum FROM terms GROUP BY 1
        )
        SELECT s.source, s.n_tokens, s.vocab_size,
               round(s.vocab_size / CAST(s.n_tokens AS DOUBLE), 6) AS ttr,
               round(CAST(e.wsum AS DOUBLE) / s.n_tokens, 6) AS entropy,
               CASE WHEN s.vocab_size > 1
               THEN round(round(CAST(e.wsum AS DOUBLE) / s.n_tokens, 6)
                          / round(ln(s.vocab_size), 6), 6)
               END AS norm_entropy
        FROM src s JOIN esum e USING (source)
    """,
    "tx_bigram_lm": """
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), doc_bi AS (
            SELECT doc_id, u.p.w1 AS w1, u.p.bg AS bg
            FROM w, unnest([{'w1': w[i], 'bg': w[i] || ' ' || w[i + 1]}
                            for i in range(1, len(w))]) AS u(p)
            WHERE len(w) >= 2
        ), ctx AS (
            SELECT w1, count(*) AS uf FROM doc_bi GROUP BY w1
        ), bi AS (
            SELECT w1, bg, count(*) AS bf FROM doc_bi GROUP BY w1, bg
        ), surp AS (
            SELECT bg, round(-ln(bf / CAST(uf AS DOUBLE)), 6) AS s
            FROM bi JOIN ctx USING (w1)
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(round(sum(CAST(s AS DECIMAL(18,6))), 4) AS DOUBLE)
                   AS xent2_sum
        FROM doc_bi JOIN surp USING (bg)
        GROUP BY doc_id
    """,
    "tx_vocab_build": f"""
        WITH wf AS (
            SELECT w, count(*) AS wf
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            WHERE w != '' GROUP BY w
        ), marked AS (
            SELECT '_' || w AS mw, wf FROM wf
        ), grams AS (
            SELECT unnest(flatten([
                [substr(mw, i, n) for i in range(1, len(mw) - n + 2)]
                for n in range(1, {_VOCAB_NGRAM_MAX} + 1)
            ])) AS ngram, wf
            FROM marked
        )
        SELECT ngram, CAST(sum(wf) AS BIGINT) AS freq
        FROM grams GROUP BY ngram
        ORDER BY freq DESC, ngram ASC
        LIMIT {_VOCAB_TOP}
    """,
    "tx_readability": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x != '') AS w,
                   len(list_filter(string_split_regex(text, '[.!?]+'),
                                   x -> trim(x) != '')) AS n_sent_raw
            FROM documents
        ), st AS (
            SELECT doc_id,
                   len(w) AS n_words,
                   n_sent_raw,
                   greatest(n_sent_raw, 1) AS n_sent,
                   CAST(COALESCE(list_sum(
                       [greatest(len(regexp_extract_all(x, '[aeiouyAEIOUY]+')), 1)
                        FOR x IN w]), 0) AS BIGINT) AS n_syllables,
                   CAST(greatest(len(w), 1) AS DOUBLE) AS wd
            FROM toks
        )
        SELECT doc_id,
               CAST(n_words AS INTEGER) AS n_words,
               CAST(n_sent_raw AS INTEGER) AS n_sentences,
               n_syllables,
               round(206.835 - 1.015 * (n_words / CAST(n_sent AS DOUBLE))
                     - 84.6 * (n_syllables / wd), 4) AS flesch,
               round(0.39 * (n_words / CAST(n_sent AS DOUBLE))
                     + 11.8 * (n_syllables / wd) - 15.59, 4) AS fk_grade
        FROM st
    """,
    "tx_collocations": """
        WITH tok2 AS (
            SELECT tok FROM (
                SELECT unnest(string_split(text, ' ')) AS tok FROM documents
            ) WHERE tok <> ''
        ), uni AS (
            SELECT tok, count(*) AS c FROM tok2 GROUP BY 1
        ), n_uni AS (
            SELECT CAST(count(*) AS DOUBLE) AS nu FROM tok2
        ), bg AS (
            SELECT unnest([{'a': w[i], 'b': w[i+1]}
                           for i in range(1, len(w))],
                          recursive := true)
            FROM (SELECT string_split(text, ' ') AS w FROM documents)
        ), bi AS (
            SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2
        ), n_bi AS (
            SELECT CAST(count(*) AS DOUBLE) AS nb FROM bg
        )
        SELECT a || ' ' || b AS bigram, c_ab,
               round(ln(CAST(c_ab AS DOUBLE) * nu * nu
                        / (nb * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))),
                     6) AS pmi
        FROM bi
        JOIN uni ua ON bi.a = ua.tok
        JOIN uni ub ON bi.b = ub.tok
        CROSS JOIN n_uni CROSS JOIN n_bi
        WHERE c_ab >= 5
        ORDER BY pmi DESC, bigram ASC
        LIMIT 20
    """,
    "tx_chunk_overlap": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), sized AS (
            SELECT doc_id, w,
                   CASE WHEN len(w) <= 64 THEN 1
                        ELSE CAST(ceil((len(w) - 64) / 48.0) AS INTEGER) + 1
                   END AS n_chunks
            FROM toks
        )
        SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
               array_to_string(w[(i*48 + 1):(i*48 + 64)], ' ') AS chunk_text,
               CAST(len(w[(i*48 + 1):(i*48 + 64)]) AS INTEGER) AS chunk_tokens
        FROM sized, unnest(generate_series(0, n_chunks - 1)) AS u(i)
    """,
    "tx_keyword_extract": """
        WITH tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents)
            WHERE token <> ''
            GROUP BY 1, 2
        ), dfreq AS (
            SELECT token, count(*) AS df FROM tf GROUP BY 1
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT t.doc_id, t.token,
                   round(t.tf * round(ln((n.n_docs + 1.0) / (d.df + 1)), 6), 6)
                       AS tfidf
            FROM tf t JOIN dfreq d USING (token), n
        )
        SELECT doc_id, CAST(rank AS INTEGER) AS rank, token, tfidf
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank
              FROM scored)
        WHERE rank <= 3
    """,
    "tx_lm_score": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        freq AS (SELECT token, count(*) AS freq FROM toks GROUP BY 1),
        total AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks),
        surp AS (
            SELECT token,
                   round(-ln(CAST(freq AS DOUBLE) / (SELECT n FROM total)), 6) AS s
            FROM freq
        )
        SELECT toks.doc_id, count(*) AS n_tokens,
               CAST(round(sum(CAST(s AS DECIMAL(18,6))), 4) AS DOUBLE) AS xent_sum
        FROM toks JOIN surp ON toks.token = surp.token
        GROUP BY toks.doc_id
    """,
    "tx_token_stats": """
        SELECT doc_id, lang,
               CAST(length(text) AS INTEGER) AS n_chars_actual,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique_tokens,
               round((length(text) - (len(string_split(text, ' ')) - 1))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS avg_token_len
        FROM documents
    """,
    "tx_bpe_estimate": r"""
        SELECT doc_id,
               CAST(len(regexp_split_to_array(text, '[\s\.,;:!\?]+')) AS INTEGER) AS n_words,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est,
               greatest(CAST(len(regexp_split_to_array(text, '[\s\.,;:!\?]+')) AS BIGINT),
                        CAST(ceil(length(text) / 4.0) AS BIGINT)) AS n_tokens_est
        FROM documents
    """,
    "tx_langid_eval": f"""
        WITH guesses AS ({_LANGID_SQL}),
        cells AS (
            SELECT d.lang AS lang_true, g.lang_guess,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents d JOIN guesses g USING (doc_id)
            GROUP BY 1, 2
        )
        SELECT lang_true, lang_guess, n_docs,
               round(n_docs / CAST(sum(n_docs) OVER (PARTITION BY lang_true)
                     AS DOUBLE), 6) AS share_of_true,
               lang_true = lang_guess AS correct
        FROM cells
        ORDER BY lang_true, n_docs DESC, lang_guess
    """,
    "tx_lang_id": _LANGID_SQL,
    "tx_quality_score": """
        WITH f AS (
            SELECT doc_id,
                   least(length(text) / 500.0, 1.0) AS len_score,
                   CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN ('the', 'a', 'of', 'and', 'in'))) AS DOUBLE)
                     / len(string_split(text, ' ')) AS stop_ratio,
                   CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1) AS digit_ratio
            FROM documents
        )
        SELECT doc_id,
               round(len_score, 6) AS len_score,
               round(stop_ratio, 6) AS stop_ratio,
               round(digit_ratio, 6) AS digit_ratio,
               round(0.5 * len_score + 0.5 * stop_ratio - 1.0 * digit_ratio, 6) AS quality
        FROM f
    """,
    "tx_fingerprint": """
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       [list_reduce(
                            list_prepend(CAST(0 AS BIGINT),
                                [CAST(unicode(c) AS BIGINT) for c in string_split(tok, '') if c <> '']),
                            (acc, ch) -> (acc * 31 + ch) % 1000000007)
                        for tok in string_split(text, ' ')]),
                   (acc, h) -> (acc * 131 + h) % 1000000007) AS fingerprint
        FROM documents
    """,
    "tx_train_split": """
        SELECT CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'eval' END AS split,
               lang, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1, 2
    """,
    "tx_quality_bins": """
        WITH q AS (
            SELECT doc_id, n_chars,
                   round(0.5 * least(length(text) / 500.0, 1.0)
                       + 0.5 * (CAST(len(list_filter(string_split(text, ' '),
                              x -> x IN ('the', 'a', 'of', 'and', 'in'))) AS DOUBLE)
                              / len(string_split(text, ' ')))
                       - 1.0 * (CAST(length(text)
                              - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                              / greatest(length(text), 1)), 6) AS q
            FROM documents
        ), binned AS (
            SELECT *, ntile(4) OVER (ORDER BY q, doc_id) AS bin FROM q
        )
        SELECT CAST(bin AS INTEGER) AS bin, count(*) AS n_docs,
               round(min(q), 6) AS min_q, round(max(q), 6) AS max_q,
               round(avg(n_chars), 4) AS avg_chars
        FROM binned GROUP BY bin
    """,
    "tx_term_freq": """
        SELECT token, count(*) AS freq FROM (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token ORDER BY freq DESC, token ASC LIMIT 40
    """,
    # burstiness: zeros enter algebraically via the doc-count anchor;
    # identical mean/VMR expression strings as the Spark plan
    "tx_burstiness": f"""
        WITH per AS (
            SELECT w, doc_id, count(*) AS c FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents)
            WHERE w <> '' GROUP BY w, doc_id
        ), st AS (
            SELECT w, CAST(count(*) AS BIGINT) AS df,
                   sum(CAST(c AS HUGEINT)) AS tf,
                   sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sq
            FROM per GROUP BY w
        ), top AS (
            SELECT * FROM st ORDER BY df DESC, w ASC LIMIT {_BURST_TOP}
        ), nd AS (
            SELECT CAST(count(*) AS HUGEINT) AS n_total FROM documents
        ), d AS (
            SELECT w AS word, df AS n_docs, CAST(tf AS BIGINT)
                       AS n_occurrences,
                   CAST(n_total AS DOUBLE) AS n, CAST(tf AS DOUBLE) AS tf,
                   CAST(sq AS DOUBLE) AS sq
            FROM top CROSS JOIN nd
        )
        SELECT word, n_docs, n_occurrences,
               round(tf / n, 6) AS mean_per_doc,
               round((n * sq - tf * tf) / (n * tf), 6) AS vmr
        FROM d ORDER BY n_docs DESC, word ASC
    """,
}
