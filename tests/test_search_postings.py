"""Inverted-index search path: the posting intersection must be
BIT-EQUIVALENT to the flat ``contains`` scan it replaces (the exactness
argument: whitespace-joined text + whitespace-free query tokens means a
query token can never span an indexed-token boundary), including the
adversarial corners — substring-of-token matches, tabs/newlines inside
values, duplicate query tokens, single-token phrases."""

from __future__ import annotations

from pyspark.sql import functions as F

from datalake_on_prem_system_spark.operators.search import (
    all_words_predicate,
    allwords_hits_postings,
    build_posting_df,
    build_search_df,
    phrase_boost_score,
    ranked_hits_postings,
)

_DOCS = [
    (1, "full table scan is slow", "en"),
    (2, "scanning the table", "en"),  # 'scan' matches INSIDE 'scanning'
    (3, "table\tscan with a tab", "en"),  # tab boundary, not a space
    (4, "merge into the table", "de"),
    (5, "scan", "en"),  # exact single-token doc
    (6, "a table  scan with  double spaces", "en"),
    (7, "tablescan smashed together", "en"),  # 'table scan' phrase absent
    (8, "nothing relevant", "fr"),
]

_QUERIES = [
    "table scan",  # classic phrase
    "scan",  # single token, substring hits
    "scan scan",  # duplicate query tokens
    "table scan table",  # duplicate + phrase with repeat
    " table   scan ",  # messy whitespace in the query
    "merge",
    "absent_token",
]


def _fixtures(spark):
    base = spark.createDataFrame(_DOCS, "doc_id int, body string, lang string")
    idx = build_search_df(base, "doc_id", ["body", "lang"])
    postings = build_posting_df(idx, "doc_id")
    dict_df = postings.select("token").distinct()
    return idx, postings, dict_df


def test_allwords_postings_equals_flat_scan(spark):
    idx, postings, dict_df = _fixtures(spark)
    for q in _QUERIES:
        flat = {
            r.doc_id
            for r in idx.filter(all_words_predicate(F.col("text"), q)).collect()
        }
        hits = allwords_hits_postings(postings, dict_df, q, "doc_id")
        assert hits is not None
        got = {r.doc_id for r in hits.collect()}
        assert got == flat, f"query {q!r}: postings {got} != flat {flat}"


def test_ranked_postings_equals_flat_scan(spark):
    idx, postings, dict_df = _fixtures(spark)
    for q in _QUERIES:
        flat = {
            (r.doc_id, r.score)
            for r in idx.select(
                "doc_id", phrase_boost_score(F.col("text"), q).alias("score")
            )
            .filter(F.col("score") > 0)
            .collect()
        }
        scored = ranked_hits_postings(idx, postings, dict_df, q, "doc_id")
        assert scored is not None
        got = {(r.doc_id, r.score) for r in scored.collect()}
        assert got == flat, f"query {q!r}: postings {got} != flat {flat}"


def test_ranked_postings_require_all_matches_engine_semantics(spark):
    """require_all keeps only all-words docs — the engine's ES-parity
    filter-then-rank order."""
    idx, postings, dict_df = _fixtures(spark)
    q = "table scan"
    flat = {
        (r.doc_id, r.score)
        for r in idx.filter(all_words_predicate(F.col("text"), q))
        .select("doc_id", phrase_boost_score(F.col("text"), q).alias("score"))
        .collect()
    }
    got = {
        (r.doc_id, r.score)
        for r in ranked_hits_postings(
            idx, postings, dict_df, q, "doc_id", require_all=True
        ).collect()
    }
    assert got == flat


def test_empty_query_returns_none_for_fallback(spark):
    _, postings, dict_df = _fixtures(spark)
    assert allwords_hits_postings(postings, dict_df, "   ", "doc_id") is None
    assert (
        ranked_hits_postings(None, postings, dict_df, "", "doc_id") is None
    )


def test_engine_search_uses_postings_and_raises_on_their_loss(
    spark, tmp_path, monkeypatch
):
    """LakeEngine.search serves from the materialized inverted index; a
    missing or broken posting index raises instead of turning into a flat
    scan. A query with no tokens still ranks every document."""
    import shutil

    import pytest
    from pyspark.errors import AnalysisException

    from datalake_on_prem_system_spark import engine as engine_mod
    from datalake_on_prem_system_spark.engine import LakeEngine
    from datalake_on_prem_system_spark.plans import capture_plan

    eng = LakeEngine(spark, str(tmp_path), namespace="srch_ns")
    eng.write_table(
        "docs",
        spark.createDataFrame(_DOCS, "doc_id int, body string, lang string"),
    )
    out = eng.search("docs", "table scan")
    plan = capture_plan(out)
    assert "_postings.parquet" in plan, "primary path must read the postings"
    want = {r.doc_id for r in out.collect()}
    # all-words docs only — substring semantics include 'scanning'/'tablescan'
    assert want == {1, 2, 3, 6, 7}

    # no tokens: nothing to intersect, the flat scan ranks every document
    assert eng.search("docs", "   ", top_k=5).count() == min(5, len(_DOCS))
    assert eng.search("docs", "   ").count() == len(_DOCS)

    def broken(*a, **k):
        raise RuntimeError("corrupt posting index")

    with monkeypatch.context() as m:
        m.setattr(engine_mod, "ranked_hits_postings", broken)
        with pytest.raises(RuntimeError, match="corrupt posting index"):
            eng.search("docs", "table scan")

    root = eng.catalog.table("docs").root
    v = eng.catalog.table("docs").latest_version()
    for leaf in (f"{v}_postings.parquet", f"{v}_tokens.parquet"):
        shutil.rmtree(f"{root}/_search_index/{leaf}")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        eng.search("docs", "table scan")


def test_duplicate_pk_key_searches_per_key_on_both_paths(spark, tmp_path):
    """Per-KEY search is the contract (ES analog: one document per _id): a
    key holding two rows matches an all-words query whose tokens split
    across the rows — identically on the flat scan and the posting path —
    and a PHRASE never matches across the row boundary (newline join)."""
    df = spark.createDataFrame(
        [(7, "alpha spark"), (7, "merge beta"), (8, "spark merge here"), (9, "unrelated")],
        "id int, body string",
    )
    idx = build_search_df(df, "id", ["body"])
    texts = {r.id: r.text for r in idx.collect()}
    assert "\n" in texts[7] and idx.count() == 3  # one row per key

    q = "spark merge"
    flat = {
        (r.id, r.s)
        for r in idx.select("id", phrase_boost_score(F.col("text"), q).alias("s"))
        .filter(F.col("s") > 0)
        .collect()
    }
    postings = build_posting_df(idx, "id")
    posted = {
        (r.id, r.score)
        for r in ranked_hits_postings(
            idx, postings, postings.select("token").distinct(), q, "id"
        ).collect()
    }
    assert posted == flat
    by_id = dict(flat)
    assert by_id[7] == 2, "tokens across the key's rows count, no phrase"
    assert by_id[8] == 12, "true phrase keeps the boost"


def test_engine_search_on_duplicate_pk_table(spark, tmp_path):
    """LakeEngine.search on a duplicate-pk table: the key matches when its
    rows jointly hold all words; every row of the matched key is returned;
    without the posting dirs the search raises."""
    import shutil

    import pytest
    from pyspark.errors import AnalysisException

    from datalake_on_prem_system_spark.engine import LakeEngine

    eng = LakeEngine(spark, str(tmp_path), namespace="dup_ns")
    eng.write_table(
        "dup",
        spark.createDataFrame(
            [(7, "alpha spark"), (7, "merge beta"), (9, "nothing")],
            "rec_id int, body string",
        ),
    )
    out = eng.search("dup", "spark merge").collect()
    assert {(r.rec_id, r.body) for r in out} == {(7, "alpha spark"), (7, "merge beta")}
    root = eng.catalog.table("dup").root
    v = eng.catalog.table("dup").latest_version()
    for leaf in (f"{v}_postings.parquet", f"{v}_tokens.parquet"):
        shutil.rmtree(f"{root}/_search_index/{leaf}")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        eng.search("dup", "spark merge")


def test_incremental_posting_sync_matches_full_rebuild(spark, tmp_path):
    """Incremental index maintenance: after changing one doc, retracting
    another, and adding a third, the incrementally-synced posting table
    equals a full rebuild — and the sync commit is an O(batch) MOR delta,
    not a table rewrite."""
    from datalake_on_prem_system_spark.operators.search import (
        create_posting_table,
        incremental_posting_sync,
    )

    v1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "kappa")],
        "doc_id int, body string",
    )
    idx1 = build_search_df(v1, "doc_id", ["body"])
    table = create_posting_table(spark, idx1, "doc_id", str(tmp_path / "pt"))

    v2 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma epsilon zeta"), (10, "omega")],
        "doc_id int, body string",
    )
    idx2 = build_search_df(v2, "doc_id", ["body"])
    changed = spark.createDataFrame(
        # doc 2 re-texted, doc 3 retracted (NULL text), doc 10 new
        [(2, "gamma epsilon zeta"), (3, None), (10, "omega")],
        "doc_id int, text string",
    )
    incremental_posting_sync(table, changed, "doc_id")

    got = {(r.token, r.doc_id) for r in table.read().collect()}
    want = {(r.token, r.doc_id) for r in build_posting_df(idx2, "doc_id").collect()}
    assert got == want
    # the sync landed as a merge-on-read delta (O(batch)), not a rewrite
    files = table.commit_at().files
    assert any(e.get("delta") is not None for e in files)
    # and the maintained table serves queries identically to a fresh index
    hits = allwords_hits_postings(
        table.read(), table.read().select("token").distinct(), "gamma zeta", "doc_id"
    )
    assert {r.doc_id for r in hits.collect()} == {2}


def test_posting_flat_equivalence_property(spark):
    """Hypothesis sweep of the exactness argument over arbitrary unicode
    corpora and queries: for ANY docs and ANY query, the posting path must
    equal the flat contains() scan — token-boundary unicode (NBSP vs ASCII
    whitespace), regex metacharacters in tokens, and empty/degenerate
    strings included."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.text(
        alphabet="ab1.*()[\\^$|?+ \t\n é",  # regex metas + unicode ws
        min_size=0,
        max_size=8,
    )
    corpus = st.lists(word, min_size=1, max_size=6)
    query = st.text(alphabet="ab1.*(  é", min_size=1, max_size=10)

    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
    )
    @given(bodies=corpus, q=query)
    def run(bodies, q):
        if not q.split():
            return  # empty query: posting path defers to fallback by contract
        df = spark.createDataFrame(
            list(enumerate(bodies)), "doc_id int, body string"
        )
        idx = build_search_df(df, "doc_id", ["body"])
        postings = build_posting_df(idx, "doc_id")
        dict_df = postings.select("token").distinct()
        flat = {
            (r.doc_id, r.score)
            for r in idx.select(
                "doc_id", phrase_boost_score(F.col("text"), q).alias("score")
            )
            .filter(F.col("score") > 0)
            .collect()
        }
        posted = {
            (r.doc_id, r.score)
            for r in ranked_hits_postings(idx, postings, dict_df, q, "doc_id").collect()
        }
        assert posted == flat, f"query {q!r} over {bodies!r}: {posted} != {flat}"

    run()


def test_typo_tolerant_semantics_hand_corpus(spark, tmp_path):
    """SymSpell fuzzy-search pins on a hand corpus (query = ['strem',
    'soft']): a doc carrying both fuzzy targets hits; one carrying only a
    'stream' match misses the all-words gate; exact query terms match
    themselves (distance 0); a distance-2 word ('sight' vs 'soft') never
    matches."""
    from datalake_on_prem_system_spark.operators.search import (
        search_typo_tolerant,
    )

    docs = [
        (0, "stream sort now", "en", "s", 15),     # both: hit
        (1, "stream only here", "en", "s", 16),    # strem only: miss
        (2, "soft strem literal", "en", "s", 18),  # exact typo terms: hit
        (3, "sight streams", "en", "s", 13),       # d2 words only: miss
        (4, "sort stream", "en", "s", 11),         # both: hit
    ]
    spark.createDataFrame(
        docs,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    hit_ids = {
        r.doc_id for r in search_typo_tolerant(spark, str(tmp_path)).collect()
    }
    assert hit_ids == {0, 2, 4}, hit_ids


def test_faceted_counts_conserve_allwords_hits(spark, sf_dir):
    """Facet pins: the per-(source, lang) hit counts must sum to exactly
    the all-words hit count (same hit set, one rollup), every facet cell
    is positive, and char mass recomputes from the documents table."""
    from pyspark.sql import functions as F

    from datalake_on_prem_system_spark.operators.common import t
    from datalake_on_prem_system_spark.operators.search import (
        search_allwords,
        search_faceted,
    )

    hits = search_allwords(spark, sf_dir).collect()
    facets = search_faceted(spark, sf_dir).collect()
    assert sum(r.n_hits for r in facets) == len(hits)
    assert all(r.n_hits > 0 for r in facets)
    hit_ids = {r.doc_id for r in hits}
    docs = {
        (r.source, r.lang): r.sum_chars
        for r in t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(list(hit_ids)))
        .groupBy("source", "lang")
        .agg(F.sum("n_chars").alias("sum_chars"))
        .collect()
    }
    for r in facets:
        assert docs[(r.source, r.lang)] == r.sum_chars


def test_search_boolean_fallback_matches_posting_path(spark, monkeypatch):
    """E5 degradation for the boolean clause tree: with the posting index
    unavailable the flat LIKE scan must produce the IDENTICAL hit set and
    scores (the two paths share the contains-semantics contract)."""
    from datalake_on_prem_system_spark.operators import search as s

    sf = "/root/testdata/sf0.001"
    via_postings = {
        (r.doc_id, r.score) for r in s.search_boolean(spark, sf).collect()
    }
    monkeypatch.setattr(s, "_posting_frames", lambda *a, **k: None)
    via_flat = {
        (r.doc_id, r.score) for r in s.search_boolean(spark, sf).collect()
    }
    assert via_flat == via_postings and via_postings


def test_synonym_expand_postings_equals_flat_scan(spark, sf_dir, monkeypatch):
    """The synonym-group coverage computed from the posting index must
    equal the flat LIKE fallback row-for-row (including n_exact), and a
    synonym-only match must report fewer exact groups than a literal
    match."""
    from datalake_on_prem_system_spark.operators import search as S

    via_postings = {
        (r.doc_id, r.n_exact)
        for r in S.search_synonym_expand(spark, sf_dir).collect()
    }
    monkeypatch.setattr(S, "_posting_frames", lambda *_: None)
    via_flat = {
        (r.doc_id, r.n_exact)
        for r in S.search_synonym_expand(spark, sf_dir).collect()
    }
    assert via_postings == via_flat
    assert via_postings  # non-vacuous
    assert {n for _, n in via_postings} <= {0, 1, 2}
