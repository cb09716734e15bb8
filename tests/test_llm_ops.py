"""LLM-pipeline operator quality checks beyond the oracle gate: recall of
the approximate paths vs their exact counterparts."""

from __future__ import annotations

from pyspark.sql import functions as F

from datalake_on_prem_system_spark.operators import _cache, dedup, similarity, textops


def _pairs(df):
    return {(r.a_id, r.b_id) for r in df.collect()}


def test_prefix_filter_equals_naive_join(spark, sf_dir):
    """The PPJoin prefix filter is lossless: dd_ngram_jaccard (prefix
    candidates + verify) must equal the naive full inverted-index join."""
    from datalake_on_prem_system_spark.operators.common import t_par

    naive = {
        (r.a_id, r.b_id, r.jaccard)
        for r in dedup._pair_jaccard_exact(t_par(spark, sf_dir, "documents")).collect()
    }
    prefix = {
        (r.a_id, r.b_id, r.jaccard)
        for r in dedup.dd_ngram_jaccard(spark, sf_dir).collect()
    }
    assert prefix == naive


def test_minhash_lsh_recall_equals_exact(spark, sf_dir):
    exact = _pairs(dedup.dd_ngram_jaccard(spark, sf_dir))
    lsh = _pairs(dedup.dd_minhash_lsh(spark, sf_dir))
    assert lsh == exact  # at fixture similarity levels recall ≈ 1 (see module doc)


def test_minhash_incremental_equals_split_restricted_exact(spark, sf_dir):
    """The incremental probe path (batch vs persisted corpus index + batch
    vs batch) finds exactly the exact-jaccard pairs restricted to its two
    split orientations, and a repeat run never rebuilds the corpus index."""
    exact = _pairs(dedup.dd_ngram_jaccard(spark, sf_dir))
    want_corpus = {(a, b) for a, b in exact if a % 10 < 8 and b % 10 >= 8} | {
        (b, a) for a, b in exact if a % 10 >= 8 and b % 10 < 8
    }
    want_batch = {(a, b) for a, b in exact if a % 10 >= 8 and b % 10 >= 8}

    inc = dedup.dd_minhash_incremental(spark, sf_dir).collect()
    got_corpus = {(r.a_id, r.b_id) for r in inc if r.pair_type == "corpus"}
    got_batch = {(r.a_id, r.b_id) for r in inc if r.pair_type == "batch"}
    assert got_corpus == want_corpus
    assert got_batch == want_batch

    builds = _cache.builds("minhash_index")
    again = dedup.dd_minhash_incremental(spark, sf_dir).collect()
    assert _cache.builds("minhash_index") == builds, "repeat batch must not rebuild the index"
    assert {(r.a_id, r.b_id, r.pair_type) for r in again} == {
        (r.a_id, r.b_id, r.pair_type) for r in inc
    }


def test_incremental_ingest_fates_with_planted_exact_dups(tmp_path, spark):
    """pl_incremental_ingest's precedence on a mini fixture that plants the
    exact-dup paths the big fixtures lack: batch-vs-corpus exact dups, an
    in-batch exact dup whose lowest id is admitted, a quality reject, and
    clean admits. Expected fates: 18→exact_dup (corpus), 28→quality,
    38→exact_dup (corpus), 48→admitted (jaccard vs 38 is 0.5), 58→
    exact_dup (in-batch dup of 48), 78→admitted."""
    import duckdb
    import pandas as pd

    from datalake_on_prem_system_spark.operators import pipeline_ops

    long_text = ("tok " * 60).strip()  # 239 chars: passes the length gate
    other = ("alt " * 60).strip()
    rows = [
        (1, long_text), (2, other),                    # corpus
        (18, long_text),                               # exact dup of corpus 1
        (28, "short"),                                 # quality reject
        (38, other),                                   # exact dup of corpus 2
        (48, "uniq " + other),                         # admitted (j=0.5 vs 38)
        (58, "uniq " + other),                         # in-batch exact dup of 48
        (78, "x y z " + long_text.replace("tok", "kot")),  # clean admit
    ]
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": "en",
            "source": "unit",
            "n_chars": [len(r[1]) for r in rows],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    out = {
        r.decision: (r.n_docs, r.n_tokens)
        for r in pipeline_ops.pl_incremental_ingest(spark, str(tmp_path)).collect()
    }
    assert {k: v[0] for k, v in out.items()} == {
        "exact_dup": 3,
        "quality": 1,
        "admitted": 2,
    }
    # the oracle SQL agrees on the same mini fixture (precedence included)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    got = dict(
        (d, (n, t))
        for d, n, t in con.execute(
            pipeline_ops.ORACLE["pl_incremental_ingest"]
        ).fetchall()
    )
    assert got == out


def test_simhash_finds_planted_near_dups(spark, sf_dir):
    exact = _pairs(dedup.dd_ngram_jaccard(spark, sf_dir))
    sim = _pairs(dedup.dd_simhash(spark, sf_dir))
    if exact:
        # simhash is lossier than minhash: require >= 60% recall, no wild output
        assert len(sim & exact) >= 0.6 * len(exact)
        assert len(sim) <= 10 * max(len(exact), 1)


def test_ann_lsh_recall_vs_brute(spark, sf_dir):
    brute = [r.vec_id for r in similarity.sim_brute_topk(spark, sf_dir).collect()]
    ann = {r.vec_id for r in similarity.sim_ann_lsh(spark, sf_dir).collect()}
    # hamming-1 multiprobe over 16 buckets: expect at least 30% of true top-10
    assert len(ann & set(brute)) >= 3


def test_sq8_recall_vs_brute(spark, sf_dir):
    """8-bit scalar quantization distorts cosine by <~1/255 per dim; the
    quantized top-10 should recover most of the exact top-10 and its
    scores should track the exact ones closely."""
    brute = {
        r.vec_id: r.cosine for r in similarity.sim_brute_topk(spark, sf_dir).collect()
    }
    sq = {
        r.vec_id: r.cosine_sq for r in similarity.sim_sq8_topk(spark, sf_dir).collect()
    }
    assert len(sq.keys() & brute.keys()) >= 7
    for vid in sq.keys() & brute.keys():
        assert abs(sq[vid] - brute[vid]) < 0.02


def test_ann_ivf_recall_vs_brute(spark, sf_dir):
    brute = [r.vec_id for r in similarity.sim_brute_topk(spark, sf_dir).collect()]
    ivf = {r.vec_id for r in similarity.sim_ann_ivf(spark, sf_dir).collect()}
    # 4-of-16 cells probed ⇒ expect at least 30% of true top-10
    assert len(ivf & set(brute)) >= 3


def test_ann_ivf_trains_once_and_prunes_probe_scan(spark, sf_dir):
    """The IVF index is train-once (no KMeans fit in the repeat-query path)
    and the probe scan partition-prunes to the nprobe cells."""
    from datalake_on_prem_system_spark.plans import capture_plan

    first = similarity.sim_ann_ivf(spark, sf_dir).collect()
    fits_after_first = _cache.builds("ivf_index")
    again = similarity.sim_ann_ivf(spark, sf_dir)
    assert again.collect() == first
    assert _cache.builds("ivf_index") == fits_after_first, "repeat query must not re-fit"
    plan = capture_plan(again)
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in seg, f"probe must prune cell partitions, got: [{seg}]"


def test_exact_dedup_groups_cover_all_docs(spark, sf_dir):
    out = dedup.dd_exact(spark, sf_dir)
    total = out.agg(F.sum("group_size")).collect()[0][0]
    from datalake_on_prem_system_spark.operators.common import t

    assert total == t(spark, sf_dir, "documents").count()


def test_fingerprint_distinguishes_documents(spark, sf_dir):
    fp = textops.tx_fingerprint(spark, sf_dir)
    n = fp.count()
    distinct = fp.select("fingerprint").distinct().count()
    assert distinct >= 0.95 * n  # mod-1e9+7 collisions should be rare


def test_multimodal_mapinpandas_matches_jvm(spark, sf_dir):
    """The Arrow-batched pandas path computes the same byte stats as a pure
    JVM expression — guards the UDF plumbing (schema, batch iteration)."""
    from datalake_on_prem_system_spark.operators.multimodal import mm_decode_features
    from datalake_on_prem_system_spark.operators.common import t

    pandas_out = {r.doc_id: (r.payload_len, r.byte_sum) for r in mm_decode_features(spark, sf_dir).collect()}
    jvm = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.octet_length(F.encode("text", "utf-8")).alias("plen"),
            F.aggregate(
                F.transform(
                    F.filter(F.split("text", ""), lambda c: c != F.lit("")),
                    lambda c: F.ascii(c).cast("bigint"),
                ),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            ).alias("bsum"),
        )
        .collect()
    )
    for r in jvm:
        assert pandas_out[r.doc_id] == (r.plen, r.bsum)


def test_hll_sketch_error_bounded(spark, sf_dir):
    """The HLL estimate must sit within the documented 3-sigma envelope of
    exact COUNT(DISTINCT) at default lgConfigK=12 — surfaced by the query
    itself as the hash-checked ``within_bound`` contract column."""
    from datalake_on_prem_system_spark.operators.relational import a_hll_distinct

    rows = a_hll_distinct(spark, sf_dir).collect()
    assert rows and all(r.within_bound for r in rows), rows


def test_decode_frame_avi_roundtrip():
    """decode_frame is a REAL AVI parser: mux a known frame sequence,
    random-access each frame back through idx1, and verify byte equality
    with the encoder's phase-cycled pixels — plus loud failures on junk
    input and out-of-range frame indexes."""
    import numpy as np
    import pytest

    from datalake_on_prem_system_spark.operators.multimodal import (
        _avi_header,
        _dib_pixel_sum,
        _encode_avi,
        decode_frame,
    )

    text = b"hello avi container"
    w, h, fps, nf = 5, 4, 12, 6
    payload = _encode_avi(w, h, fps, nf, text)
    assert _avi_header(payload) == (w, h, fps, nf)
    src = np.frombuffer(text, dtype=np.uint8)
    n = w * h * 3
    for f in range(nf):
        frame = decode_frame(payload, f)
        expect = int(src[(f + np.arange(n)) % len(src)].astype(np.int64).sum())
        assert _dib_pixel_sum(frame, w, h) == expect
    with pytest.raises(IndexError):
        decode_frame(payload, nf)
    with pytest.raises(ValueError):
        decode_frame(b"not a riff file at all", 0)
    # empty document: zero-filled frames, zero pixel sum
    empty = _encode_avi(4, 4, 8, 4, b"")
    assert _dib_pixel_sum(decode_frame(empty, 2), 4, 4) == 0


def test_scene_cut_sad_hand_computed():
    """SAD pin through the real demux: consecutive phase-cycled frames
    differ by |text[(f+1+j)%L] − text[(f+j)%L]| per pixel; verify the
    kernel's decode-and-diff equals the codepoint arithmetic for every
    boundary of a known clip."""
    import numpy as np

    from datalake_on_prem_system_spark.operators.multimodal import (
        _dib_flat,
        _encode_avi,
        decode_frame,
    )

    text = b"scene cut test"
    w, h, nf = 4, 4, 5
    payload = _encode_avi(w, h, 8, nf, text)
    src = np.frombuffer(text, dtype=np.uint8).astype(np.int64)
    n = w * h * 3
    for f in range(1, nf):
        a = _dib_flat(decode_frame(payload, f - 1), w, h).astype(np.int64)
        b = _dib_flat(decode_frame(payload, f), w, h).astype(np.int64)
        got = int(np.abs(b - a).sum())
        j = np.arange(n)
        expect = int(
            np.abs(src[(f + j) % len(src)] - src[(f - 1 + j) % len(src)]).sum()
        )
        assert got == expect, (f, got, expect)


def test_simhash_skewed_bucket_is_capped_not_exploded(spark, tmp_path):
    """1k docs with IDENTICAL text (one degenerate signature -> one hot
    bucket per band) must not seed an O(k^2) pair explosion: the bucket
    exceeds _SIMHASH_BUCKET_CAP and is skipped, while normal near-dup pairs
    elsewhere are still found."""
    boiler = "lorem ipsum dolor sit amet " * 4
    rows = [(i, boiler) for i in range(1000)]
    # two genuine dups (identical text, hamming 0) outside the hot bucket
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows += [(5000, a), (5001, a)]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    out = dedup.dd_simhash(spark, str(tmp_path)).collect()
    pairs = {(r.a_id, r.b_id) for r in out}
    assert (5000, 5001) in pairs
    # nothing from the capped boilerplate cluster (would be ~499,500 pairs)
    assert all(a_id >= 5000 for a_id, _ in pairs)
    assert len(pairs) < 100


def test_components_collapse_transitive_chains(spark, tmp_path):
    """dd_components is the transitive closure of the near-dup pair graph:
    a~b and b~c merge into one component even when the direct a~c pair is
    below the jaccard threshold (acting on raw pairs would under-delete)."""
    words = [f"w{i}" for i in range(30)]
    wa, wc = words.copy(), words.copy()
    wa[5], wc[25] = "xx", "yy"  # each differs from b in 3 shingles, far apart
    rows = [
        (1, " ".join(wa)),
        (2, " ".join(words)),
        (3, " ".join(wc)),
        (9, "totally different text about nothing at all here"),
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    pairs = {(r.a_id, r.b_id) for r in dedup.dd_ngram_jaccard(spark, str(tmp_path)).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs

    out = {
        r.doc_id: (r.component_id, r.component_size)
        for r in dedup.dd_components(spark, str(tmp_path)).collect()
    }
    assert out[1] == (1, 3) and out[2] == (1, 3) and out[3] == (1, 3)
    assert out[9] == (9, 1)


def test_edge_corpus_matches_oracle_and_does_not_crash(spark, tmp_path):
    """Adversarial fixture the synthetic tables never produce — empty text,
    1-2 token docs, multi-space runs, digits, a zero embedding vector.
    Under Spark 4's default ANSI mode the affected operators must neither
    crash (DIVIDE_BY_ZERO / INVALID_ARRAY_INDEX) nor diverge from their
    DuckDB oracles (empty-token hashing, zero-length denominators)."""
    import duckdb

    import __spark_entry__ as entry
    from check_correctness import compare

    docs = [
        (1, "", "en", "w"),
        (2, "one", "en", "w"),
        (3, "two tok", "de", "w"),
        (4, "a  b   c 123 456 the of", "en", "x"),
        (5, "the quick brown fox jumps over the lazy dog again and again", "en", "w"),
        (6, "the quick brown fox jumps over the lazy dog again and again", "fr", "x"),
        # search-path adversaries: substring-of-token hits (sparkly/merged,
        # tablescan), phrase split by a double space, exact phrase
        (7, "sparkly merged history", "en", "w"),
        (8, "full table scan then table  scan again", "en", "w"),
        (9, "tablescan spark merge", "de", "x"),
    ]
    spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in docs],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    import random

    rng = random.Random(3)
    embs = []
    for vid in range(20):
        vec = [0.0] * 64 if vid == 7 else [rng.uniform(-1, 1) for _ in range(64)]
        embs.append((vid, vec, vid % 3))
    from pyspark.sql.types import ArrayType, FloatType, IntegerType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    spark.createDataFrame(embs, schema).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        # Spark writes a directory of part files
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet/*.parquet'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    names = [
        "tx_quality_score", "tx_quality_bins", "tx_fingerprint",
        "tx_token_stats", "tx_bpe_estimate", "tx_lang_id", "tx_train_split",
        "tx_term_freq", "tx_lm_score", "tx_readability",
        "cur_repetition_filter",
        "cur_stratified_sample", "cur_source_mix",
        "cur_pii_scrub", "cur_decontaminate", "cur_gopher_rules",
        "dd_exact", "dd_simhash", "dd_span_dedup",
        "mm_decode_features", "mm_manifest_stats", "mm_frame_sample_plan",
        "sim_brute_topk", "sim_ann_lsh", "pl_sequence_pack",
        # posting-path search over the adversarial corpus (empty text,
        # substring-of-token hits, double-space phrase defeat)
        "search_allwords", "search_phrase_ranked", "search_rejoin",
        # round-9 tokenizer/text family: the empty doc must vanish from
        # per-doc outputs (no words), multi-space runs must not create
        # empty tokens, 1-token docs exercise the fold's shortest path
        "tx_vocab_build", "tx_tokenize_apply", "tx_tokenizer_stats",
        "tx_entropy", "pl_sequence_pack_subword", "cur_temperature_mix",
        "search_typo_tolerant",
        # round-13: RAKE over the edge corpus — empty docs contribute no
        # phrases, consecutive stopwords collapse to empty segments,
        # multi-space runs must not create empty words, digits are words
        "tx_rake_keywords",
        # highlight: substring-of-token hits (tablescan) have NO token
        # match and must drop; the double-space phrase doc still windows
        "search_highlight",
        # audio/video edge parity: the empty doc encodes as silence
        # (all -32768 samples / zero pixels) — VAD marks it fully active
        # by |x| (both engines agree), scene diffs are all zero
        "mm_audio_vad",
        "mm_scene_cuts",
    ]
    for name in names:
        spark.catalog.clearCache()
        sdf = qs[name](spark, str(tmp_path)).toPandas()
        ddf = con.sql(oracles[name]).df()
        msg = compare(name, sdf, ddf)
        assert not msg, f"{name}: {msg}"
    # the zero vector is excluded from the similarity corpus, not ranked
    assert 7 not in {r.vec_id for r in qs["sim_brute_topk"](spark, str(tmp_path)).collect()}


def test_rfm_scores_partition_customers(spark, sf_dir):
    """Semantic pins the oracle can't see (a bug shared with the SQL would
    hash-match): every customer appears once, every score is in 1..5,
    each quintile-scored metric splits the population into five non-empty
    bands, and the segment labels follow the r/f score rules."""
    from datalake_on_prem_system_spark.operators.analytics import a_rfm_segments

    rows = a_rfm_segments(spark, sf_dir).collect()
    keys = [r.custkey for r in rows]
    assert len(keys) == len(set(keys))
    for m in ("r_score", "f_score", "m_score"):
        vals = [getattr(r, m) for r in rows]
        assert set(vals) <= set(range(1, 6))
        # monetary is continuous → all five bands land non-empty; the
        # discrete metrics (recency/frequency) may merge tied bands
        if m == "m_score":
            assert set(vals) == set(range(1, 6))
    for r in rows:
        if r.r_score >= 4 and r.f_score >= 4:
            assert r.segment == "champion"
        elif r.r_score >= 4 and r.f_score <= 2:
            assert r.segment == "new"
        elif r.r_score <= 2 and r.f_score >= 4:
            assert r.segment == "at_risk"
        elif r.r_score <= 2 and r.f_score <= 2:
            assert r.segment == "hibernating"
        else:
            assert r.segment == "regular"


def test_k_anonymity_classes_cover_population(spark, sf_dir):
    """Class sizes must add back to the customer count, the generalized
    size must equal the nation total, and flags must match the k=10 rule
    exactly."""
    from datalake_on_prem_system_spark.operators.common import t
    from datalake_on_prem_system_spark.operators.curation import (
        _K_ANON,
        cur_k_anonymity,
    )

    rows = cur_k_anonymity(spark, sf_dir).collect()
    n_cust = t(spark, sf_dir, "customer").count()
    assert sum(r.class_size for r in rows) == n_cust
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r.c_nationkey, []).append(r)
    for nation_rows in by_nation.values():
        total = sum(r.class_size for r in nation_rows)
        for r in nation_rows:
            assert r.generalized_size == total
            assert r.at_risk == (r.class_size < _K_ANON)
            assert r.still_at_risk == (total < _K_ANON)


def test_dd_semantic_collapses_injected_cluster(spark, tmp_path):
    """SemDeDup pin on a constructed corpus: four near-copies of vector 3
    (cosine ≈ 0.99995) must all land in its cluster and be removed with
    the LOWEST id surviving; orthogonal vectors (pairwise cosine 0) must
    all be kept wherever they cluster."""
    import pyspark.sql.functions as F

    def e(i, eps_dim=None, sign=1.0):
        v = [0.0] * 64
        v[i] = sign
        if eps_dim is not None:
            v[eps_dim] = 0.01
        return v

    # ids 0..63: the full one-hot basis (every Forgy seed slot filled —
    # _SEMANTIC_NLIST is 64, so fewer rows would make every vector its
    # own singleton cluster and the dedup vacuous)
    rows = [(i, e(i), "base") for i in range(64)]
    # ids 64..67: near-duplicates of id 3 (perturbed on distinct dims)
    rows += [(64 + k, e(3, eps_dim=40 + k), "dup") for k in range(4)]
    # ids 68..71: negated basis vectors — cosine <= 0 to everything, so
    # never near-dups wherever they cluster
    rows += [(68 + k, e(20 + k, sign=-1.0), "solo") for k in range(4)]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label string"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    out = dedup.dd_semantic(spark, str(tmp_path)).collect()
    assert sum(r.n_vecs for r in out) == 72
    assert sum(r.n_removed for r in out) == 4  # exactly the four copies
    # the cluster holding vec 3 kept exactly one representative
    dup_cells = [r for r in out if r.n_removed > 0]
    assert len(dup_cells) == 1
    assert (dup_cells[0].n_vecs, dup_cells[0].n_kept) == (5, 1)

    # engine-vs-oracle on the same constructed corpus
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet/*.parquet'"
    )
    import __spark_entry__ as entry
    from check_correctness import compare

    sdf = dedup.dd_semantic(spark, str(tmp_path)).toPandas()
    msg = compare("dd_semantic", sdf, con.sql(entry.oracle_sql()["dd_semantic"]).df())
    assert not msg, msg


def test_tx_vocab_build_hand_counted(spark, tmp_path):
    """Vocab induction pin: boundary-marked grams, within-word multiplicity
    ('aaa' contributes 'aa' twice), and word-frequency weighting."""
    spark.createDataFrame(
        [(1, "aaa bb aaa", "en", "s", 10)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    freqs = {
        r.ngram: r.freq for r in textops.tx_vocab_build(spark, str(tmp_path)).collect()
    }
    # words: aaa (wf 2) -> '_aaa'; bb (wf 1) -> '_bb'
    assert freqs["a"] == 6  # 3 per '_aaa' x 2
    assert freqs["aa"] == 4  # 2 per '_aaa' x 2 (overlapping positions)
    assert freqs["_aaa"] == 2
    assert freqs["_b"] == 1 and freqs["bb"] == 1 and freqs["_bb"] == 1
    assert freqs["_"] == 3  # one marker per word occurrence
    assert "aaa b" not in freqs  # grams never cross the word boundary


def test_pq_recall_vs_brute(spark, sf_dir):
    """PQ at 8 bytes/vector is the lossiest quantizer here, but the
    40-candidate exact rerank must still recover a solid share of the true
    top-10, and every surviving score is EXACT cosine (reranked on the raw
    vectors), so overlapping ids must carry identical scores to brute."""
    brute = {
        r.vec_id: r.cosine for r in similarity.sim_brute_topk(spark, sf_dir).collect()
    }
    pq = {
        r.vec_id: r.cosine_pq for r in similarity.sim_pq_topk(spark, sf_dir).collect()
    }
    hits = pq.keys() & brute.keys()
    assert len(hits) >= 4, sorted(pq)
    for vid in hits:
        assert pq[vid] == brute[vid]  # rerank is exact, not approximate


def test_pl_corpus_shuffle_properties(spark, sf_dir):
    """Shuffle contract: a permutation (every doc exactly once), dense
    1..|shard| positions per shard, reproducible across invocations, and
    actually decorrelated from corpus order (doc_id-sorted vs
    position-sorted agree on < 5% of slots)."""
    from datalake_on_prem_system_spark.operators import pipeline_ops as pl

    rows = pl.pl_corpus_shuffle(spark, sf_dir).collect()
    n_docs = dedup.t(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # reproducible
    again = {(r.doc_id): (r.shard, r.pos) for r in pl.pl_corpus_shuffle(spark, sf_dir).collect()}
    assert all(again[r.doc_id] == (r.shard, r.pos) for r in rows)
    # decorrelated from ingest order: within shard 0, the permutation of
    # doc_ids by position should NOT be sorted
    s0 = sorted((r.pos, r.doc_id) for r in rows if r.shard == 0)
    ids = [d for _, d in s0]
    agree = sum(1 for a, b in zip(ids, sorted(ids)) if a == b)
    assert agree < max(3, len(ids) // 20), (agree, len(ids))


def test_mm_shard_plan_bounds(spark, sf_dir):
    """Packer contract: every shard except a format's LAST fills to at
    least the target (it only closes when the next asset would have
    started past the boundary), no shard overflows by more than one
    asset's bytes, shard ids are dense from 0, and asset counts add up."""
    from datalake_on_prem_system_spark.operators.common import t
    from datalake_on_prem_system_spark.operators.multimodal import (
        _SHARD_TARGET_BYTES,
        mm_shard_plan,
    )

    rows = mm_shard_plan(spark, sf_dir).collect()
    assert sum(r.n_assets for r in rows) == t(spark, sf_dir, "documents").count()
    by_fmt = {}
    for r in rows:
        by_fmt.setdefault(r.format, []).append(r)
    for fmt, shards in by_fmt.items():
        shards.sort(key=lambda r: r.shard)
        assert [r.shard for r in shards] == list(range(len(shards))), fmt
        for r in shards[:-1]:
            # a non-final shard closed because cumulative bytes crossed the
            # boundary: it holds at least one full target's worth minus the
            # prior shards' overflow, and its own overflow is < one asset
            assert r.shard_bytes > 0
        # cumulative consistency: shard k starts at >= k * target bytes
        cum = 0
        for r in shards:
            assert cum // _SHARD_TARGET_BYTES == r.shard, (fmt, r.shard)
            cum += r.shard_bytes


def test_bigram_lm_penalizes_shuffled_word_order(spark, tmp_path):
    """The signal unigram scoring can't see: a document with the SAME word
    multiset but scrambled order carries rare bigrams and must score a
    strictly higher per-bigram cross-entropy than the in-order documents;
    unigram surprisal ties (same token distribution)."""
    ordered = "a b c a b c a b c"
    shuffled = "c b a c b a c b a"
    rows = [(i, ordered, "en", "s", len(ordered)) for i in range(1, 6)]
    rows.append((6, shuffled, "en", "s", len(shuffled)))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    bi = {r.doc_id: r.xent2_sum / r.n_bigrams
          for r in textops.tx_bigram_lm(spark, str(tmp_path)).collect()}
    assert bi[6] > bi[1] * 1.5, bi
    uni = {r.doc_id: r.xent_sum / r.n_tokens
           for r in textops.tx_lm_score(spark, str(tmp_path)).collect()}
    assert abs(uni[6] - uni[1]) < 1e-6, uni


def _greedy_reference(vocab: dict[str, int], word: str) -> list[int]:
    """Independent pure-Python greedy longest-match WordPiece (UNK = -1,
    advance 1) — the spec the Spark fold and the DuckDB recursive CTE
    must both realize."""
    mw, pos, out = "_" + word, 0, []
    while pos < len(mw):
        for n in (4, 3, 2, 1):
            tid = vocab.get(mw[pos : pos + n])
            if tid is not None:
                out.append(tid)
                pos += n
                break
        else:
            out.append(-1)
            pos += 1
    return out


def test_tokenize_apply_matches_python_reference(spark, sf_dir):
    """tx_tokenize_apply vs a from-scratch Python tokenizer over the real
    fixture: token counts, UNK counts, and first/last ids must agree for
    every document — pins the greedy semantics (longest-match order,
    UNK advance, boundary marker) independently of the SQL oracle."""
    vocab = {
        r.ngram: i
        for i, r in enumerate(
            textops.tx_vocab_build(spark, sf_dir).collect(), start=1
        )
    }
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    got = {
        r.doc_id: r for r in textops.tx_tokenize_apply(spark, sf_dir).collect()
    }
    assert got.keys() == docs.keys()
    for doc_id, text in docs.items():
        ids: list[int] = []
        words = [w for w in text.split(" ") if w]
        for w in words:
            ids.extend(_greedy_reference(vocab, w))
        row = got[doc_id]
        assert row.n_words == len(words)
        assert row.n_subword_tokens == len(ids), (doc_id, text)
        assert row.n_unk == sum(1 for i in ids if i == -1)
        assert row.first_id == ids[0] and row.last_id == ids[-1]


def test_tokenize_greedy_prefers_longest_match(spark, tmp_path):
    """Hand-built corpus where greedy order matters: with '_aab' in the
    vocab, '_aab' must tokenize as ONE unit, never '_a'+'ab' — and a word
    forcing a mid-word restart ('aabq', q only reachable as a 1-gram)
    exercises the cursor arithmetic."""
    rows = [(i, "aab aab aab aabq", "en", "s", 16) for i in range(3)]
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    vocab = {
        r.ngram: i
        for i, r in enumerate(
            textops.tx_vocab_build(spark, str(tmp_path)).collect(), start=1
        )
    }
    assert "_aab" in vocab  # 4-gram present -> must win over shorter matches
    got = {
        r.doc_id: r
        for r in textops.tx_tokenize_apply(spark, str(tmp_path)).collect()
    }
    # '_aab' -> 1 token; '_aabq' -> '_aab' + 'q' (2 tokens); 3+3+3... per doc:
    # three 'aab' words (1 token each) + one 'aabq' (2 tokens) = 5
    for r in got.values():
        assert r.n_subword_tokens == 5, r
        assert r.n_unk == 0
        assert r.first_id == vocab["_aab"]
        assert r.last_id == vocab["q"]


def test_pack_subword_budget_consistency(spark, sf_dir):
    """pl_sequence_pack_subword conservation laws: per-source token totals
    equal tx_tokenize_apply's per-doc sums, every pack except a source's
    last starts before the 2048 boundary it fills, and doc ranges are
    contiguous and disjoint in doc_id order."""
    from datalake_on_prem_system_spark.operators import pipeline_ops

    toks = textops.tx_tokenize_apply(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    per_source = {
        r.source: r.total
        for r in toks.join(docs, "doc_id")
        .groupBy("source")
        .agg(F.sum("n_subword_tokens").alias("total"))
        .collect()
    }
    packs = pipeline_ops.pl_sequence_pack_subword(spark, sf_dir).collect()
    got_totals: dict[str, int] = {}
    by_source: dict[str, list] = {}
    for p in packs:
        got_totals[p.source] = got_totals.get(p.source, 0) + p.n_tokens
        by_source.setdefault(p.source, []).append(p)
    assert got_totals == per_source
    for source, rows in by_source.items():
        rows.sort(key=lambda p: p.pack_id)
        # pack ids dense from 0; doc ranges strictly increasing, disjoint
        assert rows[0].pack_id == 0
        assert [p.pack_id for p in rows] == list(range(len(rows)))
        for a, b in zip(rows, rows[1:]):
            assert a.last_doc < b.first_doc


def test_tokenizer_stats_consistent_with_apply(spark, sf_dir):
    """tx_tokenizer_stats must be the per-source rollup of
    tx_tokenize_apply's per-doc counts (one contract, two granularities),
    and its ratios recompute from its own integer columns."""
    from datalake_on_prem_system_spark.operators.textops import (
        tx_tokenize_apply,
        tx_tokenizer_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    per_doc = {
        (r.source): (r.words, r.subs, r.unks)
        for r in tx_tokenize_apply(spark, sf_dir)
        .join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_words").alias("words"),
            F.sum("n_subword_tokens").alias("subs"),
            F.sum("n_unk").alias("unks"),
        )
        .collect()
    }
    stats = tx_tokenizer_stats(spark, sf_dir).collect()
    assert {r.source for r in stats} == per_doc.keys()
    for r in stats:
        words, subs, unks = per_doc[r.source]
        assert (r.n_words, r.n_subwords, r.n_unk) == (words, subs, unks)
        assert abs(r.fertility - subs / words) < 1e-6
        assert abs(r.unk_rate - unks / subs) < 1e-6
        assert r.fertility >= 1.0  # every word is at least one subword
        assert 0.0 <= r.unk_rate <= 1.0


def test_temperature_mix_properties(spark, sf_dir):
    """Temperature-2 mixing laws: both share columns sum to 1, sqrt
    flattens the distribution (smallest source's share rises, largest
    falls), sample_weight = temp/natural exactly, and epochs respect the
    budget (sum of epochs_i * n_i ≈ budget)."""
    import math

    from datalake_on_prem_system_spark.operators.curation import (
        _MIX_TOKEN_BUDGET,
        cur_temperature_mix,
    )

    rows = cur_temperature_mix(spark, sf_dir).collect()
    nat = sum(r.natural_share for r in rows)
    tmp = sum(r.temp_share for r in rows)
    assert abs(nat - 1.0) < 1e-4 and abs(tmp - 1.0) < 1e-4
    smallest = min(rows, key=lambda r: r.n_tokens)
    largest = max(rows, key=lambda r: r.n_tokens)
    assert smallest.temp_share > smallest.natural_share
    assert largest.temp_share < largest.natural_share
    assert smallest.sample_weight > 1.0 > largest.sample_weight
    for r in rows:
        # replay against python: identical IEEE sqrt + single divisions
        expect = math.sqrt(r.n_tokens)
        total_sqrt = sum(round(math.sqrt(x.n_tokens), 6) for x in rows)
        assert abs(r.temp_share - round(expect, 6) / total_sqrt) < 1e-5
    spent = sum(r.epochs_at_budget * r.n_tokens for r in rows)
    assert abs(spent - _MIX_TOKEN_BUDGET) / _MIX_TOKEN_BUDGET < 1e-3


def test_matryoshka_rerank_is_exact(spark, sf_dir):
    """MRL two-stage contract: reported cosines are EXACT (identical to
    brute force for overlapping ids — the PQ precedent) and the 16-dim
    stage-1 recovers a solid share of the true top-10."""
    brute = {
        r.vec_id: r.cosine for r in similarity.sim_brute_topk(spark, sf_dir).collect()
    }
    mrl = {
        r.vec_id: r.cosine
        for r in similarity.sim_matryoshka_topk(spark, sf_dir).collect()
    }
    hits = mrl.keys() & brute.keys()
    assert len(hits) >= 5, sorted(mrl)
    for vid in hits:
        assert mrl[vid] == brute[vid]


def test_tokenize_stream_matches_batch_tier(spark, sf_dir):
    """One contract, two tiers: the streaming token-budget meter must land
    on exactly the batch report's integer columns (same vocab artifact,
    same greedy semantics), per source."""
    from datalake_on_prem_system_spark.operators.streaming_ops import (
        st_tokenize_stream,
    )
    from datalake_on_prem_system_spark.operators.textops import tx_tokenizer_stats

    batch = {
        r.source: (r.n_words, r.n_subwords, r.n_unk)
        for r in tx_tokenizer_stats(spark, sf_dir).collect()
    }
    stream = {
        r.source: (r.n_words, r.n_subwords, r.n_unk)
        for r in st_tokenize_stream(spark, sf_dir).collect()
    }
    assert stream == batch


def test_ivfpq_prunes_cells_and_reranks_exact(spark, sf_dir):
    """IVFPQ contract: the candidate scan touches at most nprobe of the
    nlist cell partitions (partition pruning is the point of the
    composite layout), and reported cosines are EXACT (identical to brute
    for overlapping ids)."""
    from datalake_on_prem_system_spark.operators.similarity import (
        _NPROBE,
        _QUERY_VEC_ID,
        build_ivfpq_index,
        sim_ivfpq_topk,
    )

    path, centers, _books = build_ivfpq_index(spark, sf_dir)
    q_row = (
        similarity._vecs(spark, sf_dir)
        .filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select("v")
        .head()
    )
    qv = [float(x) for x in q_row.v]
    d2 = [
        (sum((c[i] - qv[i]) * (c[i] - qv[i]) for i in range(len(qv))), ci)
        for ci, c in centers
    ]
    probe = [ci for _, ci in sorted(d2)[:_NPROBE]]
    scan = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    # input_file_name over the EXECUTED scan (inputFiles() reports the
    # pre-pruning relation): only nprobe cell=... dirs may be touched
    files = {r[0] for r in scan.select(F.input_file_name()).distinct().collect()}
    touched = {f.split("cell=")[1].split("/")[0] for f in files}
    assert len(touched) <= _NPROBE, touched

    brute = {
        r.vec_id: r.cosine for r in similarity.sim_brute_topk(spark, sf_dir).collect()
    }
    got = {
        r.vec_id: r.cosine_ivfpq for r in sim_ivfpq_topk(spark, sf_dir).collect()
    }
    hits = got.keys() & brute.keys()
    assert len(hits) >= 3, sorted(got)
    for vid in hits:
        assert got[vid] == brute[vid]


def test_ivfpq_batch_join_matches_exact_knn(spark, sf_dir):
    """Batch-ANN contract: sim_ivfpq_batch_join serves every query in the
    batch (all _BATCH_NQ q_ids present, ranks dense 1..k), reported
    cosines are EXACT — identical to sim_knn_join's brute-force scores on
    every overlapping (q_id, vec_id) pair — and the probed-cell union
    stays bounded by nlist (the scan's static partition filter)."""
    from datalake_on_prem_system_spark.operators.similarity import (
        _BATCH_NQ,
        _NLIST_FLOOR,
        _NPROBE,
        _TOP_K,
        sim_ivfpq_batch_join,
        sim_knn_join,
    )

    rows = sim_ivfpq_batch_join(spark, sf_dir).collect()
    by_q: dict[int, dict[int, float]] = {}
    for r in rows:
        by_q.setdefault(r.q_id, {})[r.vec_id] = r.cosine
        assert r.vec_id != r.q_id
    assert set(by_q) == set(range(_BATCH_NQ))
    for q_id, hits in by_q.items():
        assert len(hits) == _TOP_K, (q_id, len(hits))
    ranks = sorted(r.rank for r in rows if r.q_id == 0)
    assert ranks == list(range(1, _TOP_K + 1))

    exact = {
        (r.q_id, r.vec_id): r.cosine for r in sim_knn_join(spark, sf_dir).collect()
    }
    overlap = [
        k for k in exact if k[0] in by_q and k[1] in by_q[k[0]]
    ]
    assert len(overlap) >= _BATCH_NQ  # every query should re-find neighbors
    for q_id, vid in overlap:
        assert by_q[q_id][vid] == exact[(q_id, vid)], (q_id, vid)
    assert _NPROBE <= _NLIST_FLOOR  # probe set fits even the floor quantizer


def test_ivfpq_batch_join_scan_prunes_to_probed_cells(spark, sf_dir):
    """The batch join's code-table scan must touch only the UNION of the
    per-query probe cells — bounded by nlist regardless of batch size —
    never the full index (input_file_name over the executed scan; the
    pre-pruning relation would list every cell dir)."""
    from datalake_on_prem_system_spark.operators.similarity import (
        _BATCH_NQ,
        _NPROBE,
        build_ivfpq_index,
        sim_ivfpq_batch_join,
    )

    path, centers, _books = build_ivfpq_index(spark, sf_dir)
    qvs = {
        r.vec_id: [float(x) for x in r.v]
        for r in similarity._vecs(spark, sf_dir)
        .filter(F.col("vec_id") < _BATCH_NQ)
        .select("vec_id", "v")
        .collect()
    }
    union_cells = set()
    for qv in qvs.values():
        d2 = [
            (sum((c[i] - qv[i]) * (c[i] - qv[i]) for i in range(len(qv))), ci)
            for ci, c in centers
        ]
        union_cells |= {ci for _, ci in sorted(d2)[:_NPROBE]}
    scan = spark.read.parquet(path).filter(
        F.col("cell").isin(sorted(union_cells))
    )
    files = {r[0] for r in scan.select(F.input_file_name()).distinct().collect()}
    touched = {f.split("cell=")[1].split("/")[0] for f in files}
    assert len(touched) <= len(union_cells), touched
    # and the operator's own plan carries the literal cell filter (static
    # pruning, not a post-scan filter of every partition)
    plan = sim_ivfpq_batch_join(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "cell" in plan


def test_recall_eval_consistent_and_high(spark, sf_dir):
    """Recall-audit pins: one row per query, k = 10, n_hits recomputes
    from the actual ANN∩exact id sets, recall in [0, 1] and high on the
    fixture (the IVFPQ pipeline finds most true neighbors here)."""
    from datalake_on_prem_system_spark.operators.similarity import (
        _BATCH_NQ,
        _TOP_K,
        sim_ivfpq_batch_join,
        sim_recall_eval,
    )

    rows = {r.q_id: r for r in sim_recall_eval(spark, sf_dir).collect()}
    assert set(rows) == set(range(_BATCH_NQ))
    ann = {}
    for r in sim_ivfpq_batch_join(spark, sf_dir).collect():
        ann.setdefault(r.q_id, set()).add(r.vec_id)
    brute = {}
    for r in similarity.sim_knn_join(spark, sf_dir).collect():
        brute.setdefault(r.q_id, set()).add(r.vec_id)  # exact top-5 ⊂ top-10
    for q_id, r in rows.items():
        assert r.k == _TOP_K
        assert 0 <= r.n_hits <= r.k
        assert r.recall_at_k == round(r.n_hits / r.k, 6)
        # every exact top-5 id the ANN batch returned must count as a hit
        assert len(brute[q_id] & ann[q_id]) <= r.n_hits
    macro = sum(r.recall_at_k for r in rows.values()) / len(rows)
    assert macro >= 0.5, macro


def test_knn_graph_mutual_canonical_exact(spark, sf_dir):
    """kNN-graph pins: every edge is canonical (u < v), edge cosines are
    EXACT (recomputed from the raw vectors bit-for-bit), the graph is a
    subset of the directed exact-kNN relation in both directions
    (mutuality), and per-node degree never exceeds k."""
    from datalake_on_prem_system_spark.operators.similarity import (
        _KNNG_K,
        sim_knn_graph,
    )

    edges = sim_knn_graph(spark, sf_dir).collect()
    assert edges
    vecs = {
        r.vec_id: [float(x) for x in r.v]
        for r in similarity._vecs(spark, sf_dir).select("vec_id", "v").collect()
    }

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        dot = na = nb = 0.0
        for x, y in zip(va, vb):
            dot += x * y
        for x in va:
            na += x * x
        for x in vb:
            nb += x * x
        return round(dot / (na**0.5 * nb**0.5), 6)

    deg: dict[int, int] = {}
    for e in edges:
        assert e.u < e.v
        assert e.cosine == cos(e.u, e.v), (e.u, e.v)
        deg[e.u] = deg.get(e.u, 0) + 1
        deg[e.v] = deg.get(e.v, 0) + 1
    assert max(deg.values()) <= _KNNG_K  # mutual-kNN degree bound


def test_top_paths_hand_traced(spark, tmp_path):
    """Path-mining pins on a hand-built stream: the 30-minute gap splits
    one user into two sessions with known signatures, a 6-event session
    truncates its path to the first _PATH_LEN types, and shares divide by
    the total session count."""
    from datetime import datetime

    from datalake_on_prem_system_spark.operators.analytics import ev_top_paths

    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        from datetime import timedelta

        return t0 + timedelta(minutes=minutes)

    rows = [
        # user 1, session 1: a>b>c (10-min spacing, same session)
        (1, 1, "a", 0.0, ts(0)),
        (2, 1, "b", 0.0, ts(10)),
        (3, 1, "c", 0.0, ts(20)),
        # user 1, session 2 (2h later): d>e
        (4, 1, "d", 0.0, ts(140)),
        (5, 1, "e", 0.0, ts(141)),
        # user 2: six x events, 1 min apart → one session, path truncated
        # to the first five
        *[(10 + i, 2, "x", 0.0, ts(i)) for i in range(6)],
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, event_type string, value double, "
        "ts timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.path: r for r in ev_top_paths(spark, str(tmp_path)).collect()}
    assert set(got) == {"a>b>c", "d>e", "x>x>x>x>x"}
    for r in got.values():
        assert r.n_sessions == 1
        assert r.share == round(1 / 3, 6)


def test_pareto_share_hand_traced(spark, tmp_path):
    """Pareto pins on 10 users with event counts 10,9,...,1 (total 55):
    each decile holds exactly one user in rank order, decile 0's share is
    10/55, cum_share is monotone and ends at exactly 1.0."""
    from datalake_on_prem_system_spark.operators.analytics import ev_pareto_share

    rows = []
    eid = 0
    from datetime import datetime

    t0 = datetime(2024, 1, 1)
    for u in range(1, 11):
        for _ in range(11 - u):  # user 1 → 10 events ... user 10 → 1
            rows.append((eid := eid + 1, u, "a", 0.0, t0))
    spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, event_type string, value double, "
        "ts timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = ev_pareto_share(spark, str(tmp_path)).collect()
    assert [r.decile for r in got] == list(range(10))
    assert all(r.n_users == 1 for r in got)
    assert [r.n_events for r in got] == list(range(10, 0, -1))
    assert got[0].event_share == round(10 / 55, 6)
    cums = [r.cum_share for r in got]
    assert cums == sorted(cums) and cums[-1] == 1.0


def test_boilerplate_lines_hand_planted(spark, tmp_path):
    """Boilerplate pins: a 10-word banner planted at a window boundary in
    three docs is flagged with n_docs=3 and the right doc share; a line
    shared by only two docs stays below the threshold; within-doc
    repetition alone never triggers (DISTINCT per doc)."""
    from datalake_on_prem_system_spark.operators.dedup import (
        dd_boilerplate_lines,
    )

    banner = " ".join(f"b{i}" for i in range(10))
    pair = " ".join(f"p{i}" for i in range(10))
    docs = [
        (0, banner + " " + " ".join(f"x{i}" for i in range(10))),
        (1, banner + " " + " ".join(f"y{i}" for i in range(10))),
        # within-doc repeat of the banner: still ONE doc's vote
        (2, banner + " " + banner),
        (3, pair + " " + " ".join(f"z{i}" for i in range(10))),
        (4, pair + " " + " ".join(f"w{i}" for i in range(10))),
    ]
    spark.createDataFrame(
        [(d, t, "en", "s", len(t)) for d, t in docs],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.line: r for r in dd_boilerplate_lines(spark, str(tmp_path)).collect()}
    assert set(got) == {banner}
    assert (got[banner].n_docs, got[banner].first_doc) == (3, 0)
    assert got[banner].doc_share == round(3 / 5, 6)


def test_semantic_incremental_fates_consistent(spark, sf_dir):
    """Incremental-SemDeDup pins: fates partition the new batch exactly
    (n_new = dup_corpus + dup_batch + dup-free), the batch covers every
    vec_id % 5 == 0 corpus vector, and the full-corpus dd_semantic ledger
    and this triage agree that the fixture contains semantic duplicates
    at all (non-vacuous tau)."""
    from datalake_on_prem_system_spark.operators.dedup import (
        dd_semantic,
        dd_semantic_incremental,
    )

    rows = dd_semantic_incremental(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_new == r.n_dup_corpus + r.n_dup_batch + r.n_admitted
    n_new_total = sum(r.n_new for r in rows)
    n_batch = (
        similarity._vecs(spark, sf_dir)
        .filter(F.col("vec_id") % 5 == 0)
        .count()
    )
    assert n_new_total == n_batch
    dup_total = sum(r.n_dup_corpus + r.n_dup_batch for r in rows)
    full_removed = sum(r.n_removed for r in dd_semantic(spark, sf_dir).collect())
    assert (dup_total > 0) == (full_removed > 0)  # tau bites in both views


def test_stickiness_hand_traced(spark, tmp_path):
    """Stickiness pins: a hand-built week — user A active 7/7 days, user
    B active 1/7 — gives mean-DAU/WAU = (7+1)/(7·2) = 0.571429; a week
    where both are daily gives exactly 1.0."""
    from datetime import datetime, timedelta

    from datalake_on_prem_system_spark.operators.analytics import ev_stickiness

    t0 = datetime(2024, 5, 6, 12, 0, 0)  # Monday
    rows = []
    eid = 0
    # week 0: A daily, B once
    for d in range(7):
        rows.append((eid := eid + 1, 1, "a", 0.0, t0 + timedelta(days=d)))
    rows.append((eid := eid + 1, 2, "a", 0.0, t0 + timedelta(days=3)))
    # week 1: both daily
    for d in range(7, 14):
        rows.append((eid := eid + 1, 1, "a", 0.0, t0 + timedelta(days=d)))
        rows.append((eid := eid + 1, 2, "a", 0.0, t0 + timedelta(days=d)))
    spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, event_type string, value double, "
        "ts timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.week: r for r in ev_stickiness(spark, str(tmp_path)).collect()}
    assert set(got) == {0, 1}
    w0, w1 = got[0], got[1]
    assert (w0.n_active_days, w0.sum_dau, w0.wau) == (7, 8, 2)
    assert w0.stickiness == round(8 / 14, 6)
    assert (w1.n_active_days, w1.sum_dau, w1.wau) == (7, 14, 2)
    assert w1.stickiness == 1.0


def test_curation_funnel_conserves_pipeline(spark, sf_dir):
    """Funnel pins: stages are monotone non-increasing, the input count
    equals the corpus, the final stage equals pl_curation's surviving doc
    total exactly (one chain, two views), and the survival rate
    recomputes."""
    from datalake_on_prem_system_spark.operators.common import t
    from datalake_on_prem_system_spark.operators.pipeline_ops import (
        pl_curation,
        pl_curation_funnel,
    )

    row = pl_curation_funnel(spark, sf_dir).head()
    assert row.n_input == t(spark, sf_dir, "documents").count()
    assert (
        row.n_input
        >= row.n_after_quality
        >= row.n_after_exact
        >= row.n_after_neardup
        > 0
    )
    kept_total = sum(r.n_docs for r in pl_curation(spark, sf_dir).collect())
    assert row.n_after_neardup == kept_total
    assert row.survival_rate == round(row.n_after_neardup / row.n_input, 6)


def test_langid_eval_confusion_consistent(spark, sf_dir):
    """Confusion-matrix pins: cell counts conserve the corpus, per-true-
    class shares sum to 1, the correct flag recomputes, and the matrix
    agrees cell-for-cell with a direct join of tx_lang_id to the stored
    labels."""
    from datalake_on_prem_system_spark.operators.common import t
    from datalake_on_prem_system_spark.operators.textops import (
        tx_lang_id,
        tx_langid_eval,
    )

    cells = tx_langid_eval(spark, sf_dir).collect()
    n_docs = t(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in cells) == n_docs
    by_true: dict[str, float] = {}
    for r in cells:
        assert r.correct == (r.lang_true == r.lang_guess)
        by_true[r.lang_true] = by_true.get(r.lang_true, 0.0) + r.share_of_true
    for lang, s in by_true.items():
        assert abs(s - 1.0) < 1e-4, (lang, s)
    truth = {
        r.doc_id: r.lang
        for r in t(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    }
    direct: dict[tuple, int] = {}
    for r in tx_lang_id(spark, sf_dir).select("doc_id", "lang_guess").collect():
        k = (truth[r.doc_id], r.lang_guess)
        direct[k] = direct.get(k, 0) + 1
    assert {(r.lang_true, r.lang_guess): r.n_docs for r in cells} == direct


def test_phash_blocking_replays_in_python(spark, sf_dir):
    """Perceptual-blocking pins: an independent pure-Python replay of the
    histogram signatures (16 buckets, global-share cross-multiplication
    bits) reproduces every cluster exactly, and clusters are disjoint
    with n_assets >= 2."""
    from datalake_on_prem_system_spark.operators.common import t
    from datalake_on_prem_system_spark.operators.multimodal import mm_phash_neardup

    docs = t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    hists = {}
    for r in docs:
        b = r.text.encode("utf-8")
        h = [0] * 16
        for byte in b:
            h[byte >> 4] += 1
        hists[r.doc_id] = (h, len(b))
    tl = sum(l for _, l in hists.values())
    g = [sum(h[i] for h, _ in hists.values()) for i in range(16)]
    clusters: dict[int, list[int]] = {}
    for doc_id, (h, l) in hists.items():
        sig = sum(
            (1 << i) for i in range(16) if h[i] * tl > g[i] * l
        )
        clusters.setdefault(sig, []).append(doc_id)
    want = {
        sig: (len(ids), min(ids), max(ids))
        for sig, ids in clusters.items()
        if len(ids) >= 2
    }
    got = {
        r.signature: (r.n_assets, r.first_doc, r.last_doc)
        for r in mm_phash_neardup(spark, sf_dir).collect()
    }
    assert got == want


def test_churn_curve_hand_traced(spark, tmp_path):
    """Survival pins on hand-built lifetimes (ages 0,0,2,5): hazards and
    the telescoped survivor function come out exactly, survival is
    monotone non-increasing and hits 0 at the max age."""
    from datetime import datetime, timedelta

    from datalake_on_prem_system_spark.operators.analytics import ev_churn_curve

    t0 = datetime(2024, 3, 1, 9, 0, 0)
    rows = [
        (1, 10, "a", 0.0, t0),                            # age 0
        (2, 11, "a", 0.0, t0),                            # age 0
        (3, 12, "a", 0.0, t0), (4, 12, "a", 0.0, t0 + timedelta(days=2)),
        (5, 13, "a", 0.0, t0), (6, 13, "a", 0.0, t0 + timedelta(days=5)),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, event_type string, value double, "
        "ts timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.age_days: r for r in ev_churn_curve(spark, str(tmp_path)).collect()}
    assert set(got) == {0, 2, 5}
    assert (got[0].n_at_risk, got[0].n_churned, got[0].hazard, got[0].survival) == (
        4, 2, 0.5, 0.5)
    assert (got[2].n_at_risk, got[2].n_churned, got[2].hazard, got[2].survival) == (
        2, 1, 0.5, 0.25)
    assert (got[5].n_at_risk, got[5].n_churned, got[5].hazard, got[5].survival) == (
        1, 1, 1.0, 0.0)


def test_dataloader_shards_balanced_and_conserving(spark, sf_dir):
    """Shard-assignment pins: all 8 workers appear, pack/doc/token totals
    conserve the pack manifest exactly, balance recomputes from the
    counts, and striping bounds skew — max worker load exceeds the ideal
    by at most one pack's tokens."""
    from datalake_on_prem_system_spark.operators.pipeline_ops import (
        _N_WORKERS,
        pl_dataloader_shards,
        pl_sequence_pack_subword,
    )

    shards = pl_dataloader_shards(spark, sf_dir).collect()
    assert [r.worker_id for r in shards] == list(range(_N_WORKERS))
    packs = pl_sequence_pack_subword(spark, sf_dir).collect()
    assert sum(r.n_packs for r in shards) == len(packs)
    assert sum(r.n_tokens for r in shards) == sum(p.n_tokens for p in packs)
    assert sum(r.n_docs for r in shards) == sum(p.n_docs for p in packs)
    total = sum(p.n_tokens for p in packs)
    max_pack = max(p.n_tokens for p in packs)
    for r in shards:
        assert r.balance == round(r.n_tokens * _N_WORKERS / total, 6)
        assert r.n_tokens <= total / _N_WORKERS + max_pack


def test_vacuum_plan_hand_traced(spark, tmp_path):
    """Vacuum-planner pins on keys 1..8: the expired full segment (8 rows,
    min key 1) is reclaimable; the live replacing load (evens: 4 rows,
    min 2) and the live append (keys ≡1 mod 4: rows 1 and 5) stay
    pinned."""
    from datalake_on_prem_system_spark.operators.lakehouse_ops import lh_vacuum_plan

    spark.createDataFrame(
        [(k, float(k)) for k in range(1, 9)],
        "o_orderkey bigint, o_totalprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    assert _cache.lookup("lh_vacuum_plan", str(tmp_path)) is None
    got = {
        (r.n_rows, r.min_orderkey): (r.is_live, r.reclaimable)
        for r in lh_vacuum_plan(spark, str(tmp_path)).collect()
    }
    assert got == {
        (8, 1): (False, True),   # expired full load
        (4, 2): (True, False),   # live replacing load (evens)
        (2, 1): (True, False),   # live append (1, 5)
    }


def test_topk_stream_matches_batch_tier(spark, sf_dir):
    """One contract, two tiers: the streaming leaderboard equals the
    batch GROUP BY + rank exactly."""
    from datalake_on_prem_system_spark.operators.common import t
    from datalake_on_prem_system_spark.operators.streaming_ops import st_topk_stream

    batch = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
        .collect()
    )
    stream = st_topk_stream(spark, sf_dir).orderBy("rank").collect()
    assert [(r.user_id, r.n_events) for r in batch] == [
        (r.user_id, r.n_events) for r in stream
    ]
    assert [r.rank for r in stream] == list(range(1, 11))


def test_lsh_recall_bins_consistent_and_high(spark, sf_dir):
    """LSH recall-audit pins: bins cover every exact pair exactly once,
    coverage never exceeds the bin population, recall recomputes from the
    counts, and at j >= 0.8 with 16 bands × 4 rows the theoretical recall
    1-(1-j^4)^16 >= 0.999 — so measured recall must be ~1 on the
    fixture."""
    from datalake_on_prem_system_spark.operators.dedup import (
        dd_lsh_recall,
        dd_ngram_jaccard,
    )

    bins = dd_lsh_recall(spark, sf_dir).collect()
    assert bins
    n_exact_total = sum(r.n_exact for r in bins)
    assert n_exact_total == dd_ngram_jaccard(spark, sf_dir).count()
    for r in bins:
        assert 0 <= r.n_covered <= r.n_exact
        assert r.recall == round(r.n_covered / r.n_exact, 6)
        assert r.jaccard_lo >= 0.75  # exact pairs all have j >= 0.8
    weighted = sum(r.n_covered for r in bins) / n_exact_total
    assert weighted >= 0.99, weighted


def test_forecast_backtest_replays_holt_on_prefix(spark, sf_dir):
    """Backtest pins: an independent pure-Python replay of the Holt
    recursion on the pre-cutoff daily series must reproduce every
    forecast bit-for-bit, abs_err recomputes from (forecast, actual), and
    horizons cover exactly the held-out days."""
    from datalake_on_prem_system_spark.operators.analytics import (
        _BACKTEST_H,
        ts_forecast_backtest,
    )
    from datalake_on_prem_system_spark.operators.common import t

    rows = ts_forecast_backtest(spark, sf_dir).collect()
    assert rows
    ev = (
        t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.round(F.sum("c") / (100.0 * F.count(F.lit(1))), 6).alias("y"))
        .collect()
    )
    # cutoff = max(day) - 7: the held-out window is the last 7 calendar days
    import datetime as _dt

    max_day = max(r.day for r in ev)
    cutoff = max_day - _dt.timedelta(days=_BACKTEST_H)
    fits: dict[str, tuple[float, float]] = {}
    for et in {r.event_type for r in ev}:
        series = sorted(
            (r.day, r.y) for r in ev if r.event_type == et and r.day <= cutoff
        )
        lvl = trd = None
        for _, y in series:
            if lvl is None:
                lvl, trd = y, 0.0
            else:
                new_lvl = round(0.2 * y + 0.8 * (lvl + trd), 6)
                trd = round(0.1 * (new_lvl - lvl) + 0.9 * trd, 6)
                lvl = new_lvl
        fits[et] = (lvl, trd)
    for r in rows:
        lvl, trd = fits[r.event_type]
        assert r.forecast == round(lvl + r.h * trd, 6), (r.event_type, r.h)
        assert r.abs_err == round(abs(r.forecast - r.actual), 6)
        assert 1 <= r.h <= _BACKTEST_H


def test_compaction_plan_hand_packed(spark, tmp_path):
    """Planner pins on hand-sized segments: per-year counts 6/5/1/1 with
    target ceil(13/3)=5 must pack size-descending into [2000], [2001],
    [2002, 2003] — only the last group is worth compacting — and the
    plan's totals conserve the table's rows."""
    from datetime import date

    from datalake_on_prem_system_spark.operators.lakehouse_ops import lh_compaction_plan

    rows = []
    ok = 0
    for year, n in ((2000, 6), (2001, 5), (2002, 1), (2003, 1)):
        for _ in range(n):
            rows.append((ok, date(year, 6, 1)))
            ok += 1
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderdate date"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    assert _cache.lookup("lh_compaction_plan", str(tmp_path)) is None
    got = {r.group_id: r for r in lh_compaction_plan(spark, str(tmp_path)).collect()}
    assert {g: (r.members, r.total_rows, r.compact_worthwhile) for g, r in got.items()} == {
        0: ("2000", 6, False),
        1: ("2001", 5, False),
        2: ("2002,2003", 2, True),
    }
    assert sum(r.total_rows for r in got.values()) == 13


def test_t_closeness_hand_computed(spark, tmp_path):
    """t-closeness pins on a hand-built table: a class spanning all four
    bands uniformly vs a single-band class against a known global mix —
    EMD values recompute exactly from the cumulative-difference formula,
    and the skewed class scores strictly worse than the spread one."""
    from datalake_on_prem_system_spark.operators.curation import cur_t_closeness

    rows = (
        # class (1, A): one customer per band
        [(1, "A", -10.0), (1, "A", 100.0), (1, "A", 5000.0), (1, "A", 9000.0)]
        # class (2, B): all high
        + [(2, "B", 9000.0)] * 4
    )
    spark.createDataFrame(
        rows, "c_nationkey int, c_mktsegment string, c_acctbal double"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    got = {
        (r.c_nationkey, r.c_mktsegment): r
        for r in cur_t_closeness(spark, str(tmp_path)).collect()
    }
    # global counts: (1,1,1,5)/8 → cum Q = .125, .25, .375
    # class A cum P = .25, .5, .75  → t = (.125+.25+.375)/3 = 0.25
    # class B cum P = 0, 0, 0       → t = (.125+.25+.375)/3 = 0.25... no:
    # |0-.125|+|0-.25|+|0-.375| = .75 → t = 0.25 as well — both sit at
    # exactly 0.25 here, so pin the exact value and the flag
    a, b = got[(1, "A")], got[(2, "B")]
    assert a.class_size == 4 and b.class_size == 4
    assert a.t_distance == 0.25 and b.t_distance == 0.25
    assert a.t_close is False and b.t_close is False

    # now make one class mirror the global mix exactly: identical
    # distributions → EMD 0 → releasable
    rows2 = [
        (n, s, bal)
        for (n, s) in ((1, "A"), (2, "B"))
        for bal in (-10.0, 100.0, 5000.0, 9000.0)
    ]
    spark.createDataFrame(
        rows2, "c_nationkey int, c_mktsegment string, c_acctbal double"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    got2 = {
        (r.c_nationkey, r.c_mktsegment): r
        for r in cur_t_closeness(spark, str(tmp_path)).collect()
    }
    for key in ((1, "A"), (2, "B")):
        assert got2[key].t_distance == 0.0
        assert got2[key].t_close is True


def test_tx_entropy_uniform_and_degenerate(spark, tmp_path):
    """Entropy pins: a source whose tokens are uniform over V types hits
    the ln(V) maximum (norm_entropy = 1); a single-token source has
    entropy 0 and a NULL normalized entropy (ln(1) = 0 guard)."""
    import math

    docs = [
        (0, "a b c d", "en", "uniform", 7),
        (1, "c d a b", "en", "uniform", 7),
        (2, "x x x x x x", "en", "degenerate", 11),
    ]
    spark.createDataFrame(
        docs,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.source: r for r in textops.tx_entropy(spark, str(tmp_path)).collect()
    }
    u = got["uniform"]
    assert (u.n_tokens, u.vocab_size) == (8, 4)
    assert abs(u.entropy - math.log(4)) < 1e-5
    assert abs(u.norm_entropy - 1.0) < 1e-5
    assert u.ttr == 0.5
    d = got["degenerate"]
    assert (d.n_tokens, d.vocab_size, d.entropy) == (6, 1, 0.0)
    assert d.norm_entropy is None


def test_training_manifest_conservation(spark, sf_dir):
    """End-to-end manifest laws: every curated-surviving doc lands in
    exactly one pack (doc and token totals match an independently-derived
    kept set), shards stay in [0, 8), and pack ids are dense from 0
    within each shard."""
    from datalake_on_prem_system_spark.operators import pipeline_ops
    from datalake_on_prem_system_spark.operators.textops import tx_tokenize_apply

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    quality = docs.filter(F.col("n_chars") >= 100)
    exact = (
        quality.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    dropped = {
        r.b_id for r in dedup.dd_minhash_lsh(spark, sf_dir).select("b_id").collect()
    }
    kept_ids = {r.doc_id for r in exact.collect()} - dropped
    toks = {
        r.doc_id: r.n_subword_tokens
        for r in tx_tokenize_apply(spark, sf_dir).collect()
    }
    want_tokens = sum(toks[d] for d in kept_ids)

    manifest = pipeline_ops.pl_training_manifest(spark, sf_dir).collect()
    assert sum(p.n_docs for p in manifest) == len(kept_ids)
    assert sum(p.n_tokens for p in manifest) == want_tokens
    by_shard: dict[int, list] = {}
    for p in manifest:
        assert 0 <= p.shard < 8
        by_shard.setdefault(p.shard, []).append(p.pack_id)
    for shard, packs in by_shard.items():
        assert sorted(packs) == list(range(len(packs))), (shard, packs)


def test_l_diversity_homogeneous_class_flagged(spark, tmp_path):
    """l-diversity pins: a class where everyone shares one balance band is
    k-large yet NOT l-diverse (top share 1.0 — the homogeneity attack);
    a mixed class with 3 bands passes."""
    from datalake_on_prem_system_spark.operators.curation import cur_l_diversity

    rows = (
        # class (1, 'AUTO'): 4 members, ALL 'low' band -> homogeneous
        [(i, 1, "AUTO", 100.0) for i in range(4)]
        # class (2, 'BIKE'): negative, low, mid -> 3 bands, l-diverse
        + [(10, 2, "BIKE", -5.0), (11, 2, "BIKE", 100.0), (12, 2, "BIKE", 5000.0)]
    )
    spark.createDataFrame(
        rows, "c_custkey bigint, c_nationkey bigint, c_mktsegment string, c_acctbal double"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    got = {
        (r.c_nationkey, r.c_mktsegment): r
        for r in cur_l_diversity(spark, str(tmp_path)).collect()
    }
    auto = got[(1, "AUTO")]
    assert (auto.class_size, auto.n_sensitive_values, auto.l_diverse) == (4, 1, False)
    assert auto.top_band_share == 1.0
    bike = got[(2, "BIKE")]
    assert (bike.class_size, bike.n_sensitive_values, bike.l_diverse) == (3, 3, True)
    assert abs(bike.top_band_share - 1 / 3) < 1e-6


def test_ivfpq_incremental_appends_without_retrain(spark, sf_dir):
    """Incremental IVFPQ lifecycle: a repeat query serves from the cached
    frozen quantizers (no re-fit: identical results, one build, the same
    index dir),
    reported cosines stay EXACT vs brute for overlapping ids, and the
    index table holds the whole corpus exactly once."""
    from datalake_on_prem_system_spark.operators.similarity import sim_ivfpq_incremental

    first = sim_ivfpq_incremental(spark, sf_dir).collect()
    builds = _cache.builds("ivfpq_inc_index")
    path, _, _ = _cache.lookup("ivfpq_inc_index", sf_dir)
    n_corpus = similarity._vecs(spark, sf_dir).count()
    idx = spark.read.parquet(path)
    assert idx.count() == n_corpus
    assert idx.select("vec_id").distinct().count() == n_corpus

    again = sim_ivfpq_incremental(spark, sf_dir).collect()
    assert again == first
    assert _cache.lookup("ivfpq_inc_index", sf_dir)[0] == path  # same index dir
    assert _cache.builds("ivfpq_inc_index") == builds  # no rebuild

    brute = {
        r.vec_id: r.cosine for r in similarity.sim_brute_topk(spark, sf_dir).collect()
    }
    got = {r.vec_id: r.cosine_ivfpq for r in first}
    for vid in got.keys() & brute.keys():
        assert got[vid] == brute[vid]


def test_drift_stream_matches_batch_tier(spark, sf_dir):
    """One contract, two tiers: the streaming PSI monitor's full output
    (bins, counts, shares, psi terms) must equal the batch ev_drift_psi
    on the same corpus."""
    from datalake_on_prem_system_spark.operators.analytics import ev_drift_psi
    from datalake_on_prem_system_spark.operators.streaming_ops import (
        st_drift_stream,
    )

    key = lambda r: (r.event_type, r.bin)  # noqa: E731
    batch = {key(r): r.asDict() for r in ev_drift_psi(spark, sf_dir).collect()}
    stream = {key(r): r.asDict() for r in st_drift_stream(spark, sf_dir).collect()}
    assert stream == batch


def test_filtered_topk_respects_label_and_stays_exact(spark, sf_dir):
    """Filtered ANN pins: every hit carries the query's own label, and
    each reported cosine equals the exact brute-force cosine for that
    vector (rerank is exact — recompute independently via numpy-free
    python folds on the raw vectors)."""
    from datalake_on_prem_system_spark.operators.similarity import (
        _QUERY_VEC_ID,
        sim_filtered_topk,
    )

    vecs = {
        r.vec_id: (list(map(float, r.v)), float(r.norm), r.label)
        for r in similarity._vecs(spark, sf_dir).collect()
    }
    qv, qn, qlabel = vecs[_QUERY_VEC_ID]
    got = sim_filtered_topk(spark, sf_dir).collect()
    assert 1 <= len(got) <= 10
    for r in got:
        assert r.label == qlabel
        v, n, _ = vecs[r.vec_id]
        s = 0.0
        for a, b in zip(qv, v):
            s = s + a * b
        assert r.cosine_filtered == round(s / (n * qn), 6)


def test_zipf_fit_recovers_planted_exponent(spark, tmp_path):
    """Zipf pins: a corpus built to freq(rank) = round(1000 * rank^-1)
    must fit slope ≈ -1; an exactly-uniform corpus fits slope 0; a
    single-term vocabulary yields NULL (no line)."""
    from datalake_on_prem_system_spark.operators.textops import tx_zipf_fit

    def write(docs, path):
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
            "doc_id bigint, text string, lang string, source string, n_chars bigint",
        ).write.mode("overwrite").parquet(str(path / "documents.parquet"))

    words = []
    for rank in range(1, 21):
        words += [f"w{rank:02d}"] * round(1000 / rank)
    write([" ".join(words)], tmp_path)
    row = tx_zipf_fit(spark, str(tmp_path)).head()
    assert row.n_terms == 20
    assert abs(row.zipf_slope + 1.0) < 0.02, row.zipf_slope

    write([" ".join(f"u{i}" for i in range(10)) * 1], tmp_path)
    flat = tx_zipf_fit(spark, str(tmp_path)).head()
    assert flat.zipf_slope == 0.0  # all freqs equal -> ln(freq) constant

    write(["solo solo solo"], tmp_path)
    solo = tx_zipf_fit(spark, str(tmp_path)).head()
    assert solo.n_terms == 1 and solo.zipf_slope is None


def test_sketch_quality_estimates_track_exact(spark, sf_dir):
    """Sketch-calibration pins: every audited pair's _N_HASHES-hash
    estimate must sit within 4 standard errors of its exact jaccard
    (stderr = sqrt(j(1-j)/n)), and the estimate columns recompute from the
    match count exactly."""
    from datalake_on_prem_system_spark.operators.dedup import (
        _N_HASHES,
        dd_sketch_quality,
    )

    rows = dd_sketch_quality(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_matching_hashes <= _N_HASHES
        assert r.jaccard_est == round(r.n_matching_hashes / float(_N_HASHES), 6)
        se = (r.jaccard * (1 - r.jaccard) / _N_HASHES) ** 0.5
        assert r.abs_err <= 4 * se + 1e-9, (r.a_id, r.b_id, r.abs_err, se)


def test_dp_release_mechanism_properties(spark, sf_dir):
    """Laplace-release pins: the mechanism is reproducible (two runs draw
    identical noise), noise recomputes from the documented inverse-CDF on
    the class-key hash, released counts are clamped non-negative ints,
    and the noise distribution is two-sided (both signs appear)."""
    import hashlib
    import math

    from datalake_on_prem_system_spark.operators.curation import cur_dp_release

    rows = cur_dp_release(spark, sf_dir).collect()
    again = cur_dp_release(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    signs = set()
    for r in rows:
        key = f"dp:{r.c_nationkey}:{r.c_mktsegment}"
        u = int(hashlib.md5(key.encode()).hexdigest()[:15], 16) / float(2**60)
        x = u - 0.5
        want = round(-1.0 * math.copysign(1.0, x) * round(math.log(1.0 - 2 * abs(x)), 6), 6)
        assert r.noise == want, (key, r.noise, want)
        assert r.released_count >= 0
        assert r.released_count == max(0, round(round(r.true_count + r.noise, 6)))
        signs.add(r.noise > 0)
    assert signs == {True, False}


def test_ltv_stream_matches_batch_tier(spark, sf_dir):
    """One contract, two tiers: the streaming LTV cells must equal the
    batch ev_ltv_cohort output exactly."""
    from datalake_on_prem_system_spark.operators.analytics import ev_ltv_cohort
    from datalake_on_prem_system_spark.operators.streaming_ops import st_ltv_stream

    key = lambda r: (r.cohort_week, r.age_week)  # noqa: E731
    batch = {key(r): r.asDict() for r in ev_ltv_cohort(spark, sf_dir).collect()}
    stream = {key(r): r.asDict() for r in st_ltv_stream(spark, sf_dir).collect()}
    assert stream == batch


def test_neardup_stream_matches_batch_tier(spark, sf_dir):
    """One verification contract, two tiers: the streaming near-dup gate
    must emit exactly dd_minhash_incremental's corpus×batch pairs (same
    sketch, probe, and verify kernels), with identical jaccard values,
    and every emitted pair crosses the corpus/batch split."""
    from datalake_on_prem_system_spark.operators.dedup import (
        _CORPUS_KEEP,
        _CORPUS_MOD,
        dd_minhash_incremental,
    )
    from datalake_on_prem_system_spark.operators.streaming_ops import (
        st_neardup_stream,
    )

    batch = {
        (r.a_id, r.b_id): r.jaccard
        for r in dd_minhash_incremental(spark, sf_dir).collect()
        if r.pair_type == "corpus"
    }
    stream = {
        (r.a_id, r.b_id): r.jaccard for r in st_neardup_stream(spark, sf_dir).collect()
    }
    assert stream == batch
    assert stream  # the fixture must actually exercise the gate
    for a_id, b_id in stream:
        assert a_id % _CORPUS_MOD < _CORPUS_KEEP
        assert b_id % _CORPUS_MOD >= _CORPUS_KEEP


def test_probe_and_assign_hold_at_production_nlist(spark):
    """Production-nlist pin (round-10 verdict item 3): probe-cell selection
    and cell assignment run against nlist=256 centroids as a BROADCAST
    HASH JOIN over a centroid DataFrame — the plan carries O(1) expression
    nodes however large nlist is (the former per-centroid literal pattern
    built 256 fold-expression trees of 64 literals each). Results must
    match a driver-side argmin reference with the (d2, cell) tie rule."""
    from datalake_on_prem_system_spark.operators.similarity import (
        _assign_cells,
        _probe_cells_frame,
    )

    dim, nlist, nq = 64, 256, 7
    centers = [
        (ci, [((ci * 31 + j * 17) % 97) / 97.0 for j in range(dim)])
        for ci in range(nlist)
    ]
    qvecs = [
        (qid, [((qid * 13 + j * 29) % 89) / 89.0 for j in range(dim)])
        for qid in range(nq)
    ]
    queries = spark.createDataFrame(
        [(qid, v, 1.0) for qid, v in qvecs],
        "q_id bigint, qv array<double>, qnorm double",
    )

    def d2(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return s

    nprobe = 4
    expect_probe = {
        (qid, ci)
        for qid, qv in qvecs
        for _, ci in sorted((d2(qv, cv), ci) for ci, cv in centers)[:nprobe]
    }
    probed = _probe_cells_frame(queries, centers, nprobe=nprobe)
    assert {(r.q_id, r.cell) for r in probed.collect()} == expect_probe

    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan

    vecs = spark.createDataFrame(
        [(qid, v) for qid, v in qvecs], "vec_id bigint, v array<double>"
    )
    expect_assign = {
        qid: min((d2(qv, cv), ci) for ci, cv in centers)[1] for qid, qv in qvecs
    }
    assigned = _assign_cells(vecs, centers)
    assert {r.vec_id: r.cell for r in assigned.collect()} == expect_assign
    aplan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in aplan
    assert "BroadcastNestedLoopJoin" not in aplan


def test_bmp_encode_decode_roundtrip_hand_computed():
    """The BMP kernel produces REAL parseable files and the decoder reads
    real header/pixel bytes: a 4x4 image cycling text 'ABC' (bytes
    65/66/67) puts a constant byte in each channel (flat index j has
    channel j%3 and byte 65+(j%3)), so the channel sums are exact by hand:
    16 pixels x {65,66,67}. Also pins the header fields and the 4-byte row
    stride arithmetic."""
    import struct

    from datalake_on_prem_system_spark.operators.multimodal import (
        _decode_bmp,
        _encode_bmp,
    )

    payload = _encode_bmp(4, 4, b"ABC")
    sig, fsize, _, _, off = struct.unpack_from("<2sIHHI", payload, 0)
    assert sig == b"BM" and off == 54
    assert fsize == len(payload)
    stride = (4 * 3 + 3) // 4 * 4  # 12 → already 4-aligned
    assert len(payload) == 54 + stride * 4
    w, h, bpp, c0, c1, c2 = _decode_bmp(payload)
    assert (w, h, bpp) == (4, 4, 24)
    assert (c0, c1, c2) == (16 * 65, 16 * 66, 16 * 67)

    # a width whose row needs padding (w=5: 15 bytes → stride 16) must not
    # leak pad zeros into the sums: 25 pixels cycling one byte value
    p2 = _encode_bmp(5, 5, b"Z")
    w, h, bpp, c0, c1, c2 = _decode_bmp(p2)
    assert (w, h) == (5, 5)
    assert c0 + c1 + c2 == 5 * 5 * 3 * 90  # ord('Z') = 90


def test_wav_encode_decode_roundtrip_hand_computed():
    """WAV codec pin: 3 samples of b'AB' cycled = bytes [65, 66, 65] →
    samples [-16128, -15872, -16128]; odd count inserts the LIST filler
    chunk, so a passing decode proves the chunk walk skips it. Sum and
    peak are hand-computed; duration is the exact integer division."""
    import pytest

    from datalake_on_prem_system_spark.operators.multimodal import (
        _decode_wav,
        _encode_wav,
    )

    payload = _encode_wav(8000, 3, b"AB")
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    assert b"LIST" in payload  # odd n_samples → filler chunk present
    rate, n, dur, s, peak = _decode_wav(payload)
    assert (rate, n) == (8000, 3)
    assert dur == 3 * 1_000_000 // 8000
    assert s == -16128 - 15872 - 16128
    assert peak == 16128

    # even count: no filler, empty-text fallback pads a zero byte
    rate, n, dur, s, peak = _decode_wav(_encode_wav(16000, 2, b""))
    assert (rate, n, s, peak) == (16000, 2, -65536, 32768)

    with pytest.raises(ValueError):
        _decode_wav(b"RIFX" + b"\x00" * 40)


def test_sim_cell_rebalance_rules_self_consistent(spark):
    """The split/merge statuses must be exactly the integer
    cross-multiplication rules applied to the returned occupancies, every
    quantizer cell must appear exactly once (empty cells included), and a
    merge target must name a DIFFERENT cell. The oracle compare proves
    Spark == DuckDB; this pins the planner semantics themselves."""
    from datalake_on_prem_system_spark.operators.similarity import (
        sim_cell_rebalance,
    )

    rows = sim_cell_rebalance(spark, "/root/testdata/sf0.001").collect()
    total = sum(r.n_vecs for r in rows)
    nl = len(rows)
    assert sorted(r.cell for r in rows) == list(range(nl))
    assert total > 0
    for r in rows:
        if r.n_vecs * nl > 2 * total:
            expect = "split"
        elif r.n_vecs * nl * 4 < total:
            expect = "merge"
        else:
            expect = "ok"
        assert r.status == expect, (r.cell, r.status, expect)
        if expect == "merge":
            assert r.merge_target is not None and r.merge_target != r.cell
        else:
            assert r.merge_target is None
        assert r.share_ppm == r.n_vecs * 1_000_000 // total


def test_sim_pq_distortion_assignment_is_optimal(spark):
    """The audited per-vector error must equal the distance to the
    NEAREST codebook centroid — if any vector sits closer to a centroid
    it wasn't assigned, either the encode argmin or the audit join is
    wrong. Verified exhaustively for subspace 0 at sf0.001."""
    from datalake_on_prem_system_spark.operators.similarity import (
        _PQ_SUBDIM,
        _vecs,
        build_pq_index,
        sim_pq_distortion,
    )

    sf = "/root/testdata/sf0.001"
    _, books = build_pq_index(spark, sf)
    vs = {
        int(r.vec_id): [float(x) for x in r.v[:_PQ_SUBDIM]]
        for r in _vecs(spark, sf).select("vec_id", "v").collect()
    }
    codes = {
        int(r.vec_id): int(r.code0)
        for r in spark.read.parquet(
            build_pq_index(spark, sf)[0]
        ).select("vec_id", "code0").collect()
    }

    def sq(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return s

    book0 = dict(books[0])
    for vid, v in vs.items():
        assigned = sq(v, book0[codes[vid]])
        best = min(sq(v, c) for c in book0.values())
        assert assigned <= best + 1e-12, (vid, assigned, best)

    rows = sim_pq_distortion(spark, sf).collect()
    assert [r.subspace for r in rows] == list(range(8))
    assert all(r.mse >= 0 and r.sse_nano >= 0 for r in rows)


def test_bootstrap_stream_matches_batch_tier(spark, sf_dir):
    """One rule, two tiers: the streaming Poisson bootstrap (multi-batch
    complete-mode partials) must reproduce the batch tier's report
    exactly — same weights (shared boot_weight_array kernel), same
    sufficient statistics, same fold."""
    from datalake_on_prem_system_spark.operators.analytics import (
        a_poisson_bootstrap,
    )
    from datalake_on_prem_system_spark.operators.streaming_ops import (
        st_bootstrap_stream,
    )

    batch = [r.asDict() for r in a_poisson_bootstrap(spark, sf_dir).collect()]
    stream = [r.asDict() for r in st_bootstrap_stream(spark, sf_dir).collect()]
    assert stream == batch


def test_join_view_stream_matches_batch_tier(spark, sf_dir):
    """One contract, two tiers: the stream-static join view must equal the
    batch delta-join view exactly (same quantization, same folds)."""
    from datalake_on_prem_system_spark.operators.lakehouse_ops import (
        lh_incremental_join_view,
    )
    from datalake_on_prem_system_spark.operators.streaming_ops import (
        st_join_view_stream,
    )

    batch = [
        r.asDict() for r in lh_incremental_join_view(spark, sf_dir).collect()
    ]
    stream = [r.asDict() for r in st_join_view_stream(spark, sf_dir).collect()]
    assert stream == batch


def test_mmr_rerank_diversifies_over_pure_relevance(spark, tmp_path):
    """MMR pin on a constructed corpus: v1=[.8,.6,0,0] (rel .8), v2 a
    near-duplicate of v1 (sim≈1), v3=[.8,0,.6,0] (same rel .8, but
    sim(v3,v1)=.64). Pure relevance ranks [1,2,3]; MMR must demote the
    near-duplicate: step-2 scores are .7·.8−.3·1≈.26 for v2 vs
    .7·.8−.3·.64=.368 for v3 → selection order [1, 3, 2]. The oracle
    compare runs on the same fixture (unrolled greedy CTEs)."""
    import duckdb

    import __spark_entry__ as entry
    from check_correctness import compare

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.8, 0.6, 0.0, 0.0], 0),
        (2, [0.8, 0.6, 0.0001, 0.0], 1),
        (3, [0.8, 0.0, 0.6, 0.0], 2),
    ]
    from pyspark.sql.types import (
        ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    spark.createDataFrame(vecs, schema).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    qs, oracles = entry.queries(), entry.oracle_sql()
    sdf = qs["sim_mmr_rerank"](spark, str(tmp_path)).toPandas()
    msg = compare("sim_mmr_rerank", sdf, con.sql(oracles["sim_mmr_rerank"]).df())
    assert not msg, msg
    assert list(sdf["vec_id"]) == [1, 3, 2]  # near-dup demoted to last


def test_hll_stream_matches_batch_sketch_exactly(spark, sf_dir):
    """The streaming sketch's cross-batch merge must equal the batch
    single-pass sketch estimate per key — register-wise max loses
    nothing to the micro-batch split."""
    from pyspark.sql import functions as F

    from datalake_on_prem_system_spark.operators.common import t
    from datalake_on_prem_system_spark.operators.streaming_ops import (
        _events_json_dir,
        _events_stream,
        _run_to_memory,
    )

    stream = _events_stream(spark, _events_json_dir(spark, sf_dir))
    agg = stream.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
    )
    live = {
        r.event_type: r.e
        for r in _run_to_memory(agg, "sthll_pin", "complete").collect()
    }
    batch = {
        r.event_type: r.e
        for r in t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e"))
        .collect()
    }
    assert live == batch


def test_threshold_curve_hand_computed(spark, tmp_path):
    """Yield-curve pin: A and C are exact copies (j=1.0), B differs in
    the last word (7 shared of 9 union shingles → j≈0.778), D is
    unrelated. Thresholds ≤0.7 implicate all three of A/B/C (3 pairs);
    0.8/0.9 keep only the exact pair (A,C)."""
    import duckdb

    import __spark_entry__ as entry
    from check_correctness import compare

    base = "a b c d e f g h i j"
    docs = [
        (1, base, "en", "w"),
        (2, "a b c d e f g h i k", "en", "w"),
        (3, base, "en", "w"),
        (4, "completely different words entirely here now ok yes no maybe", "en", "w"),
    ]
    spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in docs],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    qs, oracles = entry.queries(), entry.oracle_sql()
    sdf = qs["dd_threshold_curve"](spark, str(tmp_path)).toPandas()
    msg = compare(
        "dd_threshold_curve", sdf, con.sql(oracles["dd_threshold_curve"]).df()
    )
    assert not msg, msg
    got = {r["threshold"]: (r["n_pairs"], r["n_docs"]) for _, r in sdf.iterrows()}
    assert got == {
        0.5: (3, 3), 0.6: (3, 3), 0.7: (3, 3), 0.8: (1, 2), 0.9: (1, 2),
    }


def test_threshold_curve_boilerplate_df_cap(spark, tmp_path):
    """Planted common-shingle skew: one boilerplate trigram sits in 120
    docs (df > _CURVE_DF_CAP=100) whose remaining shingles are unique —
    without the df cap that single posting list alone contributes
    120·119/2 candidate probes and glues zero-similarity docs into the
    0.5 floor. With the cap the shingle leaves the retained universe:
    the only surviving pair is the planted exact dup, at every
    threshold, and the Spark result stays hash-identical to the
    all-pairs oracle over the same retained sets."""
    import duckdb

    import __spark_entry__ as entry
    from check_correctness import compare

    docs = [
        (i, f"common boiler plate u{i} v{i} w{i}", "en", "w")
        for i in range(120)
    ]
    docs += [
        (200, "x y z q r s", "en", "w"),
        (201, "x y z q r s", "en", "w"),
    ]
    spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in docs],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    qs, oracles = entry.queries(), entry.oracle_sql()
    sdf = qs["dd_threshold_curve"](spark, str(tmp_path)).toPandas()
    msg = compare(
        "dd_threshold_curve", sdf, con.sql(oracles["dd_threshold_curve"]).df()
    )
    assert not msg, msg
    got = {r["threshold"]: (r["n_pairs"], r["n_docs"]) for _, r in sdf.iterrows()}
    assert got == {t: (1, 2) for t in (0.5, 0.6, 0.7, 0.8, 0.9)}


def test_join_view_bidir_stream_matches_batch_tier(spark, sf_dir):
    """One delta-join contract, three tiers: the two-sided streaming view
    (both feeds micro-batched, one foreachBatch coordinator) must equal
    the batch incremental view's final state exactly — the rule
    telescopes to the full join under any interleaving."""
    from datalake_on_prem_system_spark.operators.lakehouse_ops import (
        lh_incremental_join_view,
    )
    from datalake_on_prem_system_spark.operators.streaming_ops import (
        st_join_view_bidir_stream,
    )

    batch = {
        r.o_orderpriority: (r.n_items, r.revenue)
        for r in lh_incremental_join_view(spark, sf_dir).collect()
    }
    stream = {
        r.o_orderpriority: (r.n_items, r.revenue)
        for r in st_join_view_bidir_stream(spark, sf_dir).collect()
    }
    assert stream == batch


def test_novelty_deciles_hand_computed(spark, tmp_path):
    """Novelty-decay pin: docs 1-5 carry disjoint fresh content (one doc
    per decile, novelty 1.0), docs 6-10 are verbatim copies of doc 1 —
    every shingle pre-seen, so each lands as a >=80% dup with
    mean_seen_frac 1.0 and zero novel shingles."""
    import duckdb

    import __spark_entry__ as entry
    from check_correctness import compare

    docs = [(k, f"x{k} y{k} z{k} w{k}", "en", "w") for k in range(1, 6)]
    docs += [(k, "x1 y1 z1 w1", "en", "w") for k in range(6, 11)]
    spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in docs],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    qs, oracles = entry.queries(), entry.oracle_sql()
    sdf = qs["dd_novelty_deciles"](spark, str(tmp_path)).toPandas()
    msg = compare(
        "dd_novelty_deciles", sdf, con.sql(oracles["dd_novelty_deciles"]).df()
    )
    assert not msg, msg
    got = {
        int(r["decile"]): (
            r["n_docs"], r["n_dup_docs"], r["n_novel"],
            r["novelty_rate"], r["mean_seen_frac"],
        )
        for _, r in sdf.iterrows()
    }
    for d in range(1, 6):
        assert got[d] == (1, 0, 2, 1.0, 0.0)
    for d in range(6, 11):
        assert got[d] == (1, 1, 0, 0.0, 1.0)


def test_band_tuning_identical_docs_all_configs_hit(spark, tmp_path):
    """Banding pin: two identical docs have identical signatures, so every
    (bands, rows) split collides deterministically — recall 1.0 and
    expected_recall 1.0 (j=1 ⇒ 1−(1−1^r)^b = 1) across the whole grid —
    and the Spark result hash-matches the oracle."""
    import duckdb

    import __spark_entry__ as entry
    from check_correctness import compare

    docs = [
        (1, "alpha beta gamma delta epsilon zeta", "en", "w"),
        (2, "alpha beta gamma delta epsilon zeta", "en", "w"),
        (3, "one two three four five six seven", "en", "w"),
    ]
    spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in docs],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    qs, oracles = entry.queries(), entry.oracle_sql()
    sdf = qs["dd_band_tuning_curve"](spark, str(tmp_path)).toPandas()
    msg = compare(
        "dd_band_tuning_curve",
        sdf,
        con.sql(oracles["dd_band_tuning_curve"]).df(),
    )
    assert not msg, msg
    assert list(sdf["n_pairs"]) == [1] * 5
    assert list(sdf["recall"]) == [1.0] * 5
    assert list(sdf["expected_recall"]) == [1.0] * 5


def test_nprobe_curve_monotone_and_bounded(spark, sf_dir):
    """nprobe-curve property pin: candidate recall is monotone
    nondecreasing in nprobe by construction (probed cell sets nest), the
    exact denominator is the full query-batch top-k, and hits never
    exceed the denominator."""
    import __spark_entry__ as entry

    rows = (
        entry.queries()["sim_nprobe_curve"](spark, sf_dir)
        .orderBy("nprobe")
        .collect()
    )
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    recalls = [r.recall for r in rows]
    assert recalls == sorted(recalls)
    for r in rows:
        assert 0 <= r.n_hits <= r.n_exact
        assert r.n_exact == rows[0].n_exact


def test_burstiness_poisson_vs_bursty_hand_corpus(spark, tmp_path):
    """Burstiness pin: a word spread one-per-doc across every doc has
    VMR = (N·N − N²)/(N·N) = 0 (degenerate constant — below Poisson), a
    word concentrated k-per-doc in one doc of N has
    VMR = (N·k² − k²)/(N·k) = k(N−1)/N ≫ 1 — hand-checked exactly, and
    hash-matched against the oracle."""
    import duckdb

    import __spark_entry__ as entry
    from check_correctness import compare

    # 5 docs; "base" once per doc (constant), "burst" 6× in doc 1 only
    docs = [(1, "base " + " ".join(["burst"] * 6), "en", "w")]
    docs += [(k, "base filler" + str(k), "en", "w") for k in range(2, 6)]
    spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in docs],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    qs, oracles = entry.queries(), entry.oracle_sql()
    sdf = qs["tx_burstiness"](spark, str(tmp_path)).toPandas()
    msg = compare("tx_burstiness", sdf, con.sql(oracles["tx_burstiness"]).df())
    assert not msg, msg
    got = {r["word"]: r for _, r in sdf.iterrows()}
    assert got["base"]["n_docs"] == 5 and got["base"]["vmr"] == 0.0
    b = got["burst"]
    # N=5, k=6: VMR = (5*36 - 36)/(5*6) = 144/30 = 4.8
    assert (b["n_docs"], b["n_occurrences"], b["vmr"]) == (1, 6, 4.8)
