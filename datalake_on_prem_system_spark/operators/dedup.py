"""Deduplication operators for LLM training-data pipelines.

Beyond-reference capability (the reference's only dedup is the CDC
last-writer-wins row dedup, cdc_merger_optimized.py:160-161); these are the
corpus-level near-duplicate passes a 100 TB documents table needs. Everything
is built-in JVM expressions — no Python UDFs anywhere.

Scale design (the part that matters at 100 TB):

- exact dedup        — hash-groupBy on md5(text): map-side combine, shuffle
                       carries one row per distinct hash.
- n-gram jaccard     — inverted-index self-join on shingles (shuffle keyed on
                       shingle), NEVER an all-pairs cross join. Hot shingles
                       are the skew risk: production would add the PPJoin
                       prefix filter (only the (1-t)·|A|+1 globally-rarest
                       shingles of each doc can seed a candidate pair) which
                       drops both skew and candidate volume; at fixture scale
                       the plain index join is exact and fast, and AQE's
                       skew-join split handles moderate skew.
- MinHash-LSH        — 64 permutations → 16 bands × 4 rows; candidate pairs
                       come from a shuffle on (band_id, band_hash) — cost
                       O(docs × bands), independent of pair count. Candidates
                       are then exact-verified with array_intersect on the
                       (small) per-doc shingle arrays. With the fixture's
                       planted near-dups at j ≥ 0.85 the per-pair detection
                       probability is 1 - (1 - j⁴)¹⁶ ≥ 0.999993, so the
                       verified output equals the exact jaccard result (the
                       oracle) with overwhelming probability.
- SimHash            — 64-bit per-doc signature from token-hash bit votes;
                       near-dups = pairs with hamming ≤ 6 found by joining on
                       16-bit signature bands (pigeonhole: hamming ≤ 6 over 4
                       bands ⇒ at least one identical band for hamming ≤ 3 per
                       band... we use 4 bands which guarantees recall for
                       hamming ≤ 3 and probabilistically catches ≤ 6).
- embedding cosine   — high-similarity pair mining. Exact variant below is a
                       block-nested-loop; the 100 TB path is the LSH-bucketed
                       candidate generation in ``similarity.py`` followed by
                       the same exact rerank.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._cache import derived, index_tempdir
from .common import bind, t, t_par

_P = 2_147_483_647  # 2^31 - 1; (a*x + b) stays < 2^62 — no int64 overflow
_N_HASHES = 64
_N_BANDS = 16
_ROWS_PER_BAND = _N_HASHES // _N_BANDS

_rng = random.Random(42)
_PERMS = [(_rng.randrange(1, _P), _rng.randrange(0, _P)) for _ in range(_N_HASHES)]

JACCARD_THRESHOLD = 0.8
_SHINGLE_N = 3


def _shingles(col: str = "text") -> Column:
    """Distinct word 3-gram shingles (0-based array subscripts). The token
    array is bound as a lambda variable (``common.bind``) so the split runs
    once per row, not once per subscript reference.

    Short docs are guarded INSIDE the expression: codegen subexpression
    elimination can hoist this expr to the top of a fused filter predicate
    (ahead of the `size >= 3` conjunct the callers add), where a 1-2-token
    row would ANSI-throw INVALID_ARRAY_INDEX. CaseWhen branches are exempt
    from the hoisting; callers' DataFrame filters still own the semantics."""
    return bind(
        F.split(F.col(col), " "),
        lambda w: F.when(
            F.size(w) >= _SHINGLE_N,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - _SHINGLE_N),
                    lambda i: F.concat_ws(" ", w[i], w[i + 1], w[i + 2]),
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content hash, keep the lowest doc_id per group.
    Output one survivor row per distinct content with the group size."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def _pair_jaccard_exact(docs: DataFrame) -> DataFrame:
    """Exact jaccard over word-3-gram shingles for every pair sharing ≥1
    shingle, via an inverted-index self-join (shuffle on shingle)."""
    sh = docs.filter(F.size(F.split("text", " ")) >= _SHINGLE_N).select(
        "doc_id", _shingles().alias("sh")
    )
    sizes = sh.select("doc_id", F.size("sh").alias("sz"))
    ex = sh.select("doc_id", F.explode("sh").alias("shingle"))
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        pairs.join(sizes.withColumnsRenamed({"doc_id": "a_id", "sz": "size_a"}), "a_id")
        .join(sizes.withColumnsRenamed({"doc_id": "b_id", "sz": "size_b"}), "b_id")
        .withColumn(
            "jaccard_raw",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
        .select(
            "a_id", "b_id", "inter", "size_a", "size_b",
            F.round("jaccard_raw", 6).alias("jaccard"),
        )
    )


def _verify_pairs(
    cands: DataFrame, sh: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Exact jaccard verification of candidate (a_id, b_id) pairs against
    the per-doc shingle arrays; emits only pairs ≥ JACCARD_THRESHOLD.
    ``passthrough`` columns of ``cands`` are carried into the output (the
    ONE shared verification kernel — incremental and full paths must never
    diverge on the formula/threshold/rounding)."""
    verified = (
        cands.join(sh.withColumnsRenamed({"doc_id": "a_id", "sh": "sh_a"}), "a_id")
        .join(sh.withColumnsRenamed({"doc_id": "b_id", "sh": "sh_b"}), "b_id")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("size_a", F.size("sh_a"))
        .withColumn("size_b", F.size("sh_b"))
        .withColumn(
            "jaccard_raw",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
    )
    return verified.select(
        "a_id", "b_id", "inter", "size_a", "size_b",
        F.round("jaccard_raw", 6).alias("jaccard"),
        *passthrough,
    )


def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-jaccard near-dup pairs (j ≥ 0.8) with PPJoin-style
    prefix filtering (Xiao et al.): under ANY consistent global total order
    of shingles, a pair with J(A,B) ≥ t shares ≥ ceil(t·|A|) shingles, so
    its globally-smallest common shingle falls inside both docs' first
    |x| − ceil(t·|x|) + 1 shingles. Only prefixes join, then candidates are
    exact-verified — output identical to the naive join (pytest asserts
    equivalence).

    The global order is DOCUMENT-FREQUENCY ASCENDING (tie-break on the
    shingle): prefixes then hold each doc's globally RAREST shingles, which
    is what makes the filter effective under a skewed shingle distribution
    — with a random (hash) order a shingle shared by k docs lands in ~20%
    of prefixes and seeds O(k²) candidates (measured 223k candidate pairs
    on the fixture; df-ordering cuts it to ~the true pair count). The df
    pass is one vocabulary-bounded groupBy + a co-partitioned join back —
    all shuffles keyed on shingle, never all-pairs. PPJoin's length filter
    (|B| ≥ t·|A|) prunes the rest."""
    docs = t_par(spark, sf_dir, "documents")
    # persist the shingle frame: FOUR plan branches consume it (df counts,
    # prefix ordering, and both sides of the verify join) and Catalyst
    # shares nothing across branches — without the cache the corpus is
    # re-shingled per branch (measured 4.5s → 2.5s cold at sf0.1). The
    # 100 TB equivalent is materializing the shingle table once per pass.
    # Lifetime: the cache must outlive this function (the returned plan
    # references it lazily), so there is no in-scope unpersist — the
    # derived-state registry owns it, caps live frames and unpersists the
    # least recently used beyond the cap (harness-independent; sweep
    # harnesses may still clearCache between queries, and
    # _cache.release_all() frees storage on demand).
    sh = _shingle_frame(spark, sf_dir)
    # candidate generation runs on xxhash64 SHINGLE IDS, not the strings:
    # the df-count and inverted-index shuffles then move 8-byte longs
    # instead of ~25-byte ngram strings — on a cluster these shuffles are
    # byte-bound, so key width is the 100 TB cost driver (~10% even on
    # local[32]). PPJoin stays sound on the hashed universe (the filter is
    # applied to the hashed sets consistently, order = (df, hash)); a
    # 64-bit collision between co-occurring shingles could in principle
    # perturb one candidate (P ≈ pairs·2⁻⁶⁴ ≈ 0) — verification below is
    # string-exact either way.
    ex = sh.select(
        "doc_id",
        F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("shingle"),
    )
    df_cnt = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        ex.join(df_cnt, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("shingle")))
            ).alias("o")
        )
    )
    prefix_len = (
        F.size("o") - F.ceil(F.lit(JACCARD_THRESHOLD) * F.size("o")) + 1
    ).cast("int")
    prefixes = ordered.select(
        "doc_id",
        F.size("o").alias("sz"),
        F.explode(
            F.transform(F.slice(F.col("o"), F.lit(1), prefix_len), lambda x: x["shingle"])
        ).alias("shingle"),
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J(A,B) ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t
            & (F.col("b.sz") * F.lit(1.0) >= F.lit(JACCARD_THRESHOLD) * F.col("a.sz"))
            & (F.col("a.sz") * F.lit(1.0) >= F.lit(JACCARD_THRESHOLD) * F.col("b.sz")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    return _verify_pairs(cands, sh)


_CURVE_FLOOR = 0.5
_CURVE_TS = (0.5, 0.6, 0.7, 0.8, 0.9)


_DOCS = ("documents",)  # the fixture every dedup frame is derived from


# drop shingles appearing in more corpus docs than this from the curve's
# shingle UNIVERSE (sets, sizes, prefixes, postings alike) — the
# dd_containment df-cap rule applied symmetrically. Without it, a
# boilerplate shingle sitting in thousands of docs lands in thousands of
# PREFIXES at the 0.5 floor (prefix filtering weakens as t drops), and
# its posting list alone degrades the candidate join toward quadratic.
_CURVE_DF_CAP = 100


def dd_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield curve — the threshold-TUNING audit run before fixing
    ``JACCARD_THRESHOLD``: exact n-gram-jaccard pairs mined once at the
    curve's floor (0.5) with the same PPJoin prefix+length filtering as
    ``dd_ngram_jaccard``, then for each candidate threshold in
    {0.5 … 0.9} the number of pairs and DISTINCT documents that would be
    near-dup-flagged. Reads as "how much of the corpus does each
    threshold implicate" — the yield/precision trade every dedup rollout
    sweeps.

    Similarity is jaccard over the DF-RETAINED shingle vocabulary
    (corpus df ≤ _CURVE_DF_CAP): ultra-common boilerplate shingles are dropped
    from sets, sizes, prefixes, and postings alike — the standard df-cap
    estimator ``dd_containment`` already applies, here made symmetric.
    This is a SEMANTIC choice, not an approximation of the uncapped
    curve: within the retained universe the PPJoin prefix property holds
    exactly (prefix lengths and length filters are computed on retained
    sizes), so the mine is lossless for the capped similarity and the
    oracle stays an independent all-pairs ground truth over the same
    retained sets. A tuning audit WANTS this metric — pairs glued only
    by boilerplate are exactly the false yield the cap exists to remove.

    Scale shape: ONE candidate mine at the floor (prefix filtering gets
    WEAKER as t drops — the floor is the honest cost and it is still
    prefix-pruned, never all-pairs) with every posting list bounded by
    the df cap; the census joins the verified pairs against the 5-row
    literal grid (broadcast non-equi, allow-listed, bounded side) —
    per-threshold recomputation never happens.

    Exactness: jaccard doubles come from the one shared formula; the
    grid comparisons and counts are exact; thresholds and the cap are
    identical literals in both engines (df counted per hashed shingle on
    the Spark side, per shingle string in DuckDB — identical modulo
    xxhash64 collisions, P ≈ pairs·2⁻⁶⁴)."""
    sh = _shingle_frame(spark, sf_dir)
    ex0 = sh.select(
        "doc_id",
        F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("shingle"),
    )
    df_cnt = ex0.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # retained universe: every downstream structure (per-doc sets, sizes,
    # prefixes, postings, verify) derives from this one frame
    ex = ex0.join(df_cnt, "shingle").filter(F.col("df") <= _CURVE_DF_CAP)
    # the df-retained ordered-set frame feeds THREE consumers (both sides
    # of the prefix self-join and the verify's hash sets) — without the
    # persist the shingle→df→sort chain re-runs per consumer (the
    # _shingle_frame / g_tri_oriented rule)
    ordered = derived(
        "curve_ordered",
        sf_dir,
        _DOCS,
        lambda: ex.groupBy("doc_id").agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("shingle")))
            ).alias("o")
        ),
    )
    prefix_len = (
        F.size("o") - F.ceil(F.lit(_CURVE_FLOOR) * F.size("o")) + 1
    ).cast("int")
    prefixes = ordered.select(
        "doc_id",
        F.size("o").alias("sz"),
        F.explode(
            F.transform(
                F.slice(F.col("o"), F.lit(1), prefix_len),
                lambda x: x["shingle"],
            )
        ).alias("shingle"),
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.sz") * F.lit(1.0) >= F.lit(_CURVE_FLOOR) * F.col("a.sz"))
            & (F.col("a.sz") * F.lit(1.0) >= F.lit(_CURVE_FLOOR) * F.col("b.sz")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    # retained hash sets for the exact verify (sorted struct array →
    # sorted hash array; array_intersect over 64-bit hashes)
    rsets = ordered.select(
        "doc_id",
        F.transform("o", lambda x: x["shingle"]).alias("rsh"),
    )
    ver = (
        cands.join(
            rsets.withColumnsRenamed({"doc_id": "a_id", "rsh": "sh_a"}), "a_id"
        )
        .join(
            rsets.withColumnsRenamed({"doc_id": "b_id", "rsh": "sh_b"}), "b_id"
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jr",
            F.col("inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .filter(F.col("jr") >= _CURVE_FLOOR)
        .select("a_id", "b_id", "jr")
    )
    # the verified floor set is TINY (true pairs only) but its plan is the
    # whole mine — the pair census and the doc census would each re-run
    # the 300k-candidate verify without this persist (measured 2× cost)
    ver = derived("curve_ver", sf_dir, _DOCS, lambda: ver)
    grid = spark.createDataFrame(
        [(t,) for t in _CURVE_TS], "threshold double"
    )
    pc = (
        F.broadcast(grid)
        .join(ver, F.col("jr") >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(F.count("a_id").alias("n_pairs"))
    )
    docs = ver.select(
        "jr", F.explode(F.array("a_id", "b_id")).alias("d")
    )
    dc = (
        F.broadcast(grid)
        .join(docs, F.col("jr") >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(F.countDistinct("d").alias("n_docs"))
    )
    return (
        pc.join(dc, "threshold")
        .select(
            "threshold",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
        .orderBy("threshold")
    )


def _shingle_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared, persisted ``(doc_id, sh)`` shingle frame — one plan (and
    therefore ONE cache entry) for dd_ngram_jaccard, dd_minhash_lsh, the
    incremental index build and the probe path. This is the ONLY
    registration site for the kind: a second kind over the same plan would
    let an eviction of one kill the shared Spark cache entry the other
    still relies on."""
    # persisted for branch sharing: the signature kernel and both
    # verify-join sides re-shingle otherwise
    return derived(
        "shingles",
        sf_dir,
        _DOCS,
        lambda: t_par(spark, sf_dir, "documents")
        .filter(F.size(F.split("text", " ")) >= _SHINGLE_N)
        .select("doc_id", _shingles().alias("sh")),
    )


def _band_frame(sh: DataFrame) -> DataFrame:
    """MinHash band signatures ``(doc_id, band, bh)`` for a shingle frame.

    Signature + banding as ONE Arrow-batched vectorized kernel.
    Division of labor: shingle *hashing* stays JVM (xxhash64, one pass);
    the 64-permutation min-sketch crosses to numpy as a single
    minimum.reduceat over the concatenated hash array — no per-doc or
    per-row Python loops at all. The pure-expression formulation of the
    same sketch is interpreted by Spark (higher-order functions don't
    codegen) and measured ~10× slower; per-doc Python looping was ~7s.
    """
    from collections.abc import Iterator

    perms_a = [a for a, _ in _PERMS]
    perms_b = [b for _, b in _PERMS]
    n_bands, rows_per_band, p_mod = _N_BANDS, _ROWS_PER_BAND, _P

    hashed = sh.select(
        "doc_id", F.transform("sh", lambda s: F.pmod(F.xxhash64(s), F.lit(_P))).alias("hs")
    )

    def minhash_bands(batches: Iterator["object"]) -> Iterator["object"]:
        import numpy as np
        import pandas as pd

        A = np.array(perms_a, dtype=np.uint64)[:, None]  # (64, 1)
        B = np.array(perms_b, dtype=np.uint64)[:, None]
        mix = np.uint64(0x9E3779B97F4A7C15)
        band_idx = np.arange(n_bands, dtype=np.int32)
        for pdf in batches:
            if not len(pdf):
                continue
            lens = np.fromiter((len(h) for h in pdf["hs"]), dtype=np.int64, count=len(pdf))
            h_all = np.concatenate([np.asarray(h, dtype=np.uint64) for h in pdf["hs"]])
            offsets = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            m = (A * h_all[None, :] + B) % np.uint64(p_mod)  # (64, total_shingles)
            sig = np.minimum.reduceat(m, offsets, axis=1)  # (64, n_docs)
            bands3 = sig.reshape(n_bands, rows_per_band, -1)
            bh = np.zeros((n_bands, sig.shape[1]), dtype=np.uint64)
            for r in range(rows_per_band):  # 4 iterations — constant
                bh = (bh ^ bands3[:, r, :]) * mix
            n_docs = sig.shape[1]
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), n_bands),
                    "band": np.tile(band_idx, n_docs),
                    "bh": bh.T.reshape(-1).astype(np.int64),
                }
            )

    return hashed.mapInPandas(minhash_bands, "doc_id bigint, band int, bh bigint")


def _bucket_pairs(bands: DataFrame) -> DataFrame:
    """Candidate ``(a_id, b_id)`` pairs from band buckets: ONE shuffle on
    (band, bucket-hash), then emit i<j pairs narrowly inside each bucket —
    the canonical LSH shape (a band self-join re-derives the signature DAG
    on both sides and planned catastrophically here; this form scans it
    once)."""
    buckets = (
        bands.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("a_id"), y.alias("b_id")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"))
        .distinct()
    )


def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup detection, exact-verified.

    shingle → xxhash64 → 64 universal-hash permutations → per-doc min →
    16 bands of 4 → shuffle on (band, band_hash) → candidate pairs →
    exact jaccard verify on the per-doc shingle arrays → j ≥ 0.8.
    """
    sh = _shingle_frame(spark, sf_dir)
    cands = _bucket_pairs(_band_frame(sh))
    # exact verification: join candidate pairs back to shingle arrays
    return _verify_pairs(cands, sh)


# ------------------------------------------------- incremental minhash index

# corpus/batch split for the incremental-dedup demo: the same deterministic
# key-hash split convention as tx_train_split / cur_decontaminate
_CORPUS_MOD, _CORPUS_KEEP = 10, 8  # doc_id % 10 < 8 → corpus; >= 8 → new batch

def _audit_pair_sigs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared setup of the three sketch audits (``dd_sketch_quality``,
    ``dd_lsh_recall``, ``dd_band_tuning_curve``): the exact near-dup pair
    set and PORTABLE md5-60bit MinHash signatures for exactly its
    participant docs, as ``(pairs, sa, sb)``. ONE definition site for the
    cross-engine-critical sketch construction (15-hex-char md5 slice →
    (a·h + b) mod P mins — must stay bit-identical to the oracle's
    ``_SKETCH_SIG``). The tiny pair frame is persisted (its plan is the
    whole PPJoin mine + verify, and it feeds the ids semi-join, both
    signature sides, and the caller's pair join)."""
    pairs = derived(
        "band_audit_pairs",
        sf_dir,
        _DOCS,
        lambda: dd_ngram_jaccard(spark, sf_dir).select("a_id", "b_id", "jaccard"),
    )
    ids = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .unionAll(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    docs = t_par(spark, sf_dir, "documents").join(ids, "doc_id", "left_semi")
    hs = F.transform(
        _shingles(),
        lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
            F.lit(_P),
        ),
    )

    def _perm_min(h: Column, a: int, b: int) -> Column:
        # closure factory, NOT default-arg lambdas: F.transform hands a
        # second lambda parameter the element INDEX (the `lambda x, a=a:`
        # trap), so the perm constants must close over function scope
        return F.array_min(
            F.transform(h, lambda x: F.pmod(a * x + b, F.lit(_P)))
        )

    sig = bind(hs, lambda h: F.array(*[_perm_min(h, a, b) for a, b in _PERMS]))
    # the signature computation (md5 + 64 interpreted HOF perm-mins per
    # participant doc) feeds BOTH broadcast sides — persist so it runs
    # once per invocation, not per side
    sigs = derived(
        "band_audit_sigs", sf_dir, _DOCS, lambda: docs.select("doc_id", sig.alias("sig"))
    )
    sa = sigs.select(F.col("doc_id").alias("a_id"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("b_id"), F.col("sig").alias("sig_b"))
    return pairs, sa, sb


def dd_sketch_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch-quality audit: for every verified near-dup pair,
    the 64-permutation signature agreement (matches/64 estimates jaccard
    with stderr ≈ sqrt(j(1-j)/64) ≈ 0.05 at j = 0.8) against the exact
    value — the calibration table that justifies the LSH band thresholds
    before anyone trusts the sketch at 100 TB. Uses a PORTABLE sketch
    (md5-60bit shingle hash → (a·h + b) mod P mins, the dd_simhash
    hashing convention) so DuckDB replays signature construction
    bit-for-bit — the production xxhash64 sketch in the LSH hot path has
    identical statistics but no cross-engine replay.

    Scale shape: signatures are computed ONLY for documents appearing in
    verified pairs (a tiny set — never the corpus); the exact-pair mining
    reuses the inverted-index join."""
    pairs, sa, sb = _audit_pair_sigs(spark, sf_dir)
    matches = F.aggregate(
        F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = F.col("n_matching_hashes") / F.lit(float(_N_HASHES))
    return (
        pairs.join(F.broadcast(sa), "a_id")
        .join(F.broadcast(sb), "b_id")
        .withColumn("n_matching_hashes", matches)
        .select(
            "a_id",
            "b_id",
            "jaccard",
            "n_matching_hashes",
            F.round(est, 6).alias("jaccard_est"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


def dd_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate-generation RECALL audit, binned by true jaccard: for
    every exact near-dup pair (``dd_ngram_jaccard``'s PPJoin set — ground
    truth), did the banded MinHash sketch put the pair in a shared bucket
    (∃ band whose 4-row signature slice agrees)? The S-curve validation
    every LSH deployment owes itself: ``dd_sketch_quality`` calibrates the
    ESTIMATOR, this measures the thing the pipeline actually relies on —
    that banding does not silently drop true duplicates — per jaccard
    band, where the theory says recall ≈ 1-(1-j^r)^b and dips near the
    threshold.

    Uses the PORTABLE md5-based sketch (the dd_sketch_quality convention)
    so DuckDB replays signatures and band collisions bit-for-bit; the
    production xxhash64 sketch has identical statistics. A pair is a
    candidate iff some band's slices are equal — bucket machinery is not
    needed for the audit, because candidacy of (a, b) depends only on
    their two signatures. Scale shape: signatures only for docs appearing
    in verified pairs; one pair-keyed join; a bins-sized rollup."""
    exact, sa, sb = _audit_pair_sigs(spark, sf_dir)
    # one parsed SQL string instead of ~380 py4j Column calls (identical
    # OR-of-ANDs tree — see dd_band_tuning_curve's _band_hit_sql note)
    band_hit = F.expr(_band_hit_sql(_N_BANDS, _ROWS_PER_BAND))
    paired = (
        exact.join(F.broadcast(sa), "a_id")
        .join(F.broadcast(sb), "b_id")
        .withColumn("covered", band_hit)
        .withColumn("bin_id", F.floor(F.col("jaccard") * 20).cast("int"))
    )
    return (
        paired.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.col("covered").cast("long")).alias("n_covered"),
        )
        .select(
            "bin_id",
            (F.col("bin_id") / F.lit(20.0)).alias("jaccard_lo"),
            "n_exact",
            "n_covered",
            F.round(F.col("n_covered") / F.col("n_exact").cast("double"), 6).alias(
                "recall"
            ),
        )
        .orderBy("bin_id")
    )


_BOILERPLATE_MIN_DOCS = 3  # a line in >= 3 distinct docs is boilerplate
_BOILERPLATE_LINE_WORDS = 10  # fixture line proxy: fixed 10-word windows


def dd_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document repeated-LINE detection — the C4/RefinedWeb
    boilerplate rule (headers, footers, cookie banners repeat VERBATIM
    across pages; within-doc repetition is ``cur_repetition_filter``'s
    job, this is the ACROSS-doc sibling): lines appearing in >=
    ``_BOILERPLATE_MIN_DOCS`` distinct documents, with occurrence counts
    and the share of the corpus they touch — the removal list a
    pretraining pipeline applies line-wise BEFORE document-level dedup
    ever runs. The fixture text has no newlines, so 'line' here is the
    fixed ``_BOILERPLATE_LINE_WORDS``-word window (production swaps the
    chunker for split-on-newline; everything downstream is identical).

    Scale shape: one per-doc chunk explode → (line, doc) DISTINCT →
    line-keyed partial agg (map-side combined); candidates are bounded by
    the distinct-line vocabulary (at 100 TB the shuffle key is the line's
    hash, with text re-attached to the tiny flagged set — here lines
    carry directly since the report must show the offending text). The
    corpus total is a ONE-ROW scalar anchor."""
    docs = t_par(spark, sf_dir, "documents")
    k = _BOILERPLATE_LINE_WORDS
    w = F.split(F.col("text"), " ")
    chunks = F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(0), (F.size(w) / k).cast("int") - 1),
            lambda i: F.array_join(F.slice(w, i * k + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = (
        docs.select("doc_id", F.explode(chunks).alias("line"))
        .filter(F.col("line") != "")
        .distinct()
    )
    counts = lines.groupBy("line").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    return (
        counts.filter(F.col("n_docs") >= _BOILERPLATE_MIN_DOCS)
        .crossJoin(F.broadcast(total))
        .select(
            "line",
            "n_docs",
            "first_doc",
            F.round(F.col("n_docs") / F.col("n_corpus").cast("double"), 6).alias(
                "doc_share"
            ),
        )
        .orderBy(F.desc("n_docs"), F.asc("line"))
    )


def build_minhash_index(spark: SparkSession, sf_dir: str) -> str:
    """One-time LSH index build over the CORPUS split: persist the corpus'
    ``(doc_id, band, bh)`` band signatures as parquet — the 'CREATE DEDUP
    INDEX' op. Incremental batches then probe this index without ever
    re-shingling or re-sketching the corpus (``dd_minhash_incremental``).

    At 100 TB the index is the durable artifact of the historical dedup
    pass: O(corpus × bands) rows of three 8-byte columns, stored bucketed
    on (band, bh) so a probe join shuffles only the O(batch) side. Here it
    is plain parquet (local fixture) and the probe broadcasts the batch
    side, which achieves the same no-corpus-shuffle plan.

    Derived state of the documents fixture: a regenerated corpus triggers
    a rebuild, and the superseded index dir is removed.
    """
    import os

    def build() -> str:
        sh = _shingle_frame(spark, sf_dir)
        corpus_sh = sh.filter(F.col("doc_id") % _CORPUS_MOD < _CORPUS_KEEP)
        path = os.path.join(index_tempdir("minhash_idx_"), "bands")
        _band_frame(corpus_sh).write.parquet(path)
        return path

    return derived("minhash_index", sf_dir, _DOCS, build)


def dd_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup dedup: a NEW batch of documents (doc_id % 10 ≥ 8)
    is deduped against the existing corpus (doc_id % 10 < 8) by probing the
    corpus' persisted LSH band index (``build_minhash_index``) — the corpus
    is never re-shingled or re-sketched — and against itself via the normal
    in-batch bucket pairing. This is the daily-ingest shape of corpus dedup
    at 100 TB: per-batch cost is O(batch) sketching + one index probe join,
    independent of corpus size.

    Plan: batch bands are BROADCAST into the probe join, so the corpus
    index scan never shuffles (at warehouse scale the index is bucketed on
    (band, bh) for the same property with large batches). Candidates from
    both paths are exact-jaccard-verified against the per-doc shingle
    arrays; output pairs carry ``pair_type`` 'corpus' (batch doc duplicates
    an indexed corpus doc) or 'batch' (duplicate within the new batch).
    """
    idx = spark.read.parquet(build_minhash_index(spark, sf_dir))
    docs = t_par(spark, sf_dir, "documents")
    batch_sh = docs.filter(
        (F.size(F.split("text", " ")) >= _SHINGLE_N)
        & (F.col("doc_id") % _CORPUS_MOD >= _CORPUS_KEEP)
    ).select("doc_id", _shingles().alias("sh"))
    # the band sketch is the O(batch) work — persisted so probe, in-batch
    # pairing, and the candidate-id derivation all read ONE kernel run
    # (Catalyst shares nothing across plan branches; unpersisted, the
    # sketch re-ran per verify branch and cost more than the full pass)
    batch_bands = derived("batch_bands", sf_dir, _DOCS, lambda: _band_frame(batch_sh))

    probe = (
        idx.alias("c")
        .join(F.broadcast(batch_bands.alias("n")), ["band", "bh"])
        .select(F.col("c.doc_id").alias("a_id"), F.col("n.doc_id").alias("b_id"))
        .distinct()
        .withColumn("pair_type", F.lit("corpus"))
    )
    internal = _bucket_pairs(batch_bands).withColumn("pair_type", F.lit("batch"))
    # candidate pairs are LSH-bucket-bounded — persisting them makes the
    # id-set derivation and both verify-join sides read one materialization
    pairs = derived("inc_pairs", sf_dir, _DOCS, lambda: probe.unionByName(internal))
    # Verify shingles come from CANDIDATES ONLY, never the whole corpus: a
    # cold increment costs O(batch sketch + candidate verify) — the
    # candidate id set broadcasts into a semi-join that prunes the
    # (expensive) shingle expression to the docs that actually need it.
    cand_ids = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .unionByName(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    cand_sh = docs.join(F.broadcast(cand_ids), "doc_id", "left_semi").select(
        "doc_id", _shingles().alias("sh")
    )
    return _verify_pairs(pairs, cand_sh, passthrough=("pair_type",))


_SIMHASH_BUCKET_CAP = 512  # max docs per (band, band-hash) bucket considered


def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 64-bit signature from per-shingle hash
    bit votes; pairs grouped on any equal 16-bit band (pigeonhole:
    guarantees recall for hamming ≤ 3 over 4 bands, probabilistically
    catches ≤ 6), kept if hamming ≤ 6.

    The shingle hash is the first 16 hex chars of md5 split into two 32-bit
    halves — deliberately engine-portable so the DuckDB oracle replays the
    IDENTICAL signature arithmetic (hash → bit votes → band hashes →
    banded grouping → hamming), giving the approximate operator a true
    hash-checked oracle instead of a rows-only check. md5 costs ~2× a
    native xxhash64 per shingle; signature build is a tiny fraction of the
    pass (candidate generation dominates), and the 64 bit-vote sums and
    band packing are unchanged. Bands are packed directly from the votes
    (no 64-bit signature with a sign-bit special case); hamming distance =
    Σ bit_count(bandᵢ ⊕ bandᵢ′) over the four 16-bit bands.

    Candidate generation is bucket-local, not a band self-join: ONE shuffle
    on (band, band-hash), `collect_list` per bucket, i<j pair emission
    inside the bucket array (the dd_minhash_lsh shape). A self-join on a
    degenerate hot signature — boilerplate near-empty docs all voting
    identically — would seed O(k²) join rows before any dedup; here the
    bucket size is visible pre-explosion and CAPPED at
    ``_SIMHASH_BUCKET_CAP``: an oversized bucket is a degenerate
    boilerplate cluster (identical-text dups belong to dd_exact, which
    catches them exactly), so it is skipped rather than exploded. The
    oracle SQL applies the same cap via a window count, so the operator
    stays hash-exact even when the cap bites.
    """
    docs = t_par(spark, sf_dir, "documents")
    md5 = F.md5("tok")
    toks = (
        docs.filter(F.size(F.split("text", " ")) >= _SHINGLE_N)
        .select("doc_id", F.explode(_shingles()).alias("tok"))
        .select(
            "doc_id",
            # two 32-bit halves of md5's first 16 hex chars (bits 0..31 and
            # 32..63 of the signature space); conv() parses hex → decimal
            F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint").alias("h_lo"),
            F.conv(F.substring(md5, 9, 8), 16, 10).cast("bigint").alias("h_hi"),
        )
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright(F.col("h_lo" if j < 32 else "h_hi"), j % 32)
                .bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{j}")
            for j in range(64)
        ]
    )
    band_cols = [
        sum(
            (
                F.when(F.col(f"v{bi * 16 + k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
                for k in range(1, 16)
            ),
            F.when(F.col(f"v{bi * 16}") > 0, F.lit(1)).otherwise(F.lit(0)),
        ).alias(f"bh{bi}")
        for bi in range(4)
    ]
    sigs = votes.select("doc_id", *band_cols)
    band_arr = F.array(
        *[
            F.struct(F.lit(bi).alias("band"), F.col(f"bh{bi}").alias("bh"))
            for bi in range(4)
        ]
    )
    bands = sigs.select(
        "doc_id", "bh0", "bh1", "bh2", "bh3", F.explode(band_arr).alias("b")
    ).select(
        "doc_id", "bh0", "bh1", "bh2", "bh3",
        F.col("b.band").alias("band"), F.col("b.bh").alias("bh"),
    )
    # bucket-local pair emission with a size cap (see docstring): array_sort
    # on the member structs orders by doc_id (first field), so slice(i+2..)
    # yields exactly the a_id < b_id pairs
    buckets = (
        bands.groupBy("band", "bh")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "bh0", "bh1", "bh2", "bh3"))
            ).alias("members")
        )
        .filter(
            (F.size("members") > 1) & (F.size("members") <= _SIMHASH_BUCKET_CAP)
        )
    )
    pair_structs = F.flatten(
        F.transform(
            "members",
            lambda x, i: F.transform(
                F.slice("members", i + 2, F.size("members")),
                lambda y: F.struct(
                    x["doc_id"].alias("a_id"),
                    y["doc_id"].alias("b_id"),
                    *[x[f"bh{bi}"].alias(f"a{bi}") for bi in range(4)],
                    *[y[f"bh{bi}"].alias(f"b{bi}") for bi in range(4)],
                ),
            ),
        )
    )
    pairs = buckets.select(F.explode(pair_structs).alias("p")).select("p.*")
    hamming = sum(
        (F.bit_count(F.col(f"a{bi}").bitwiseXOR(F.col(f"b{bi}"))) for bi in range(1, 4)),
        F.bit_count(F.col("a0").bitwiseXOR(F.col("b0"))),
    )
    return (
        pairs.select("a_id", "b_id", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= 6)
        .orderBy("a_id", "b_id")
    )


_CC_MAX_ITERS = 20


def dd_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact near-dup pair graph
    (``dd_ngram_jaccard`` edges): every document gets ``component_id`` =
    the minimum doc_id reachable through near-dup pairs (singletons map to
    themselves) plus the component size. This is the step between pair
    MINING and dedup ACTION — keep the min-id doc per component, drop the
    rest; acting on raw pair lists under-deletes transitive duplicate
    chains (a~b, b~c without a~c).

    Algorithm: min-label propagation with POINTER JUMPING. Per round each
    node takes min(own label, neighbors' labels), then labels are
    compressed one hop (comp ← comp's comp), which halves label-chain
    depth — convergence in O(log diameter) rounds, so even a pathological
    drifting-boilerplate chain thousands of docs long converges well
    inside ``_CC_MAX_ITERS`` (2^20 diameter equivalent; raises rather than
    spins). The edge list is materialized ONCE before the loop
    (localCheckpoint) — otherwise every round would re-run the
    dd_ngram_jaccard pair-mining join, the most expensive stage of the
    query. ``localCheckpoint`` also truncates per-round lineage so the
    plan stays flat; at 100 TB the identical per-round dataflow runs with
    a reliable checkpoint dir instead. Output (min reachable id) is
    deterministic and engine-portable, so the DuckDB oracle replays it
    with a recursive reachability CTE.
    """
    docs = t_par(spark, sf_dir, "documents").select("doc_id")
    # the PAIR list is what gets materialized (the expensive mine runs
    # once); the symmetric edge list and the node set are cheap
    # projections of the checkpointed RDD
    pairs = dd_ngram_jaccard(spark, sf_dir).select(
        "a_id", "b_id"
    ).localCheckpoint()
    edges = pairs.unionByName(
        pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    )
    # iterative state holds ONLY pair-graph nodes: a doc outside every
    # near-dup pair can never change label (comp = doc_id forever), so
    # singletons — the overwhelming corpus majority at any dup rate —
    # join the result AFTER convergence instead of riding every round's
    # join/agg/checkpoint. Same fixed point, state |V(pairs)| not |corpus|.
    nodes = pairs.select(
        F.explode(F.array("a_id", "b_id")).alias("doc_id")
    ).distinct()
    labels = nodes.select("doc_id", F.col("doc_id").alias("comp"))
    # labels only ever DECREASE, so Σcomp strictly decreases on any change
    # — one tiny aggregate replaces the old per-round join+filter+count
    # convergence probe (decimal: an id sum can overflow int64 at scale)
    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).head().s

    prev_sum = _label_sum(labels)
    for _ in range(_CC_MAX_ITERS):
        prop = edges.join(labels, F.col("a_id") == F.col("doc_id")).select(
            F.col("b_id").alias("doc_id"), "comp"
        )
        merged = (
            labels.unionByName(prop).groupBy("doc_id").agg(F.min("comp").alias("comp"))
        )
        # pointer jumping: comp values are themselves doc_ids, so following
        # one hop (comp -> that doc's comp) always joins and only lowers
        new = (
            merged.alias("l")
            .join(
                merged.select(
                    F.col("doc_id").alias("c_id"), F.col("comp").alias("c_comp")
                ),
                F.col("comp") == F.col("c_id"),
            )
            .select("doc_id", F.least("comp", "c_comp").alias("comp"))
            .localCheckpoint()
        )
        cur_sum = _label_sum(new)
        labels = new
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(f"components did not converge in {_CC_MAX_ITERS} rounds")
    singles = docs.join(nodes, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("comp")
    )
    labels = labels.unionByName(singles)
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("component_size"))
    return labels.join(sizes, "comp").select(
        "doc_id", F.col("comp").alias("component_id"), "component_size"
    )


def dd_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT deduplication — the reweight-don't-delete policy modern LLM
    data recipes use instead of hard dedup: every document stays in the
    corpus, but each near-dup cluster's total sampling mass is normalized
    to one (train_weight = 1/cluster_size), so a document duplicated N
    times contributes the same expected gradient signal as a unique one
    while all N surface forms stay available. The canonical member
    (min-id, the ``pl_dedup_canonical`` rule) is flagged so a hard-dedup
    consumer can filter on the same output.

    Scale shape: everything on top of ``dd_components``' near-dup
    components (O(log diameter) label rounds) is one size aggregate and a
    narrow projection; the weight is ONE exact IEEE division per row."""
    comp = dd_components(spark, sf_dir)
    return comp.select(
        "doc_id",
        "component_id",
        "component_size",
        (F.col("doc_id") == F.col("component_id")).alias("is_canonical"),
        F.round(
            F.lit(1.0) / F.col("component_size").cast("double"), 6
        ).alias("train_weight"),
    )


COSINE_PAIR_THRESHOLD = 0.45
_GRID_BLOCKS = 8  # B: a cell holds two n/B blocks; size so a cell fits a task


def dd_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-cosine embedding pair mining (exact), as a BLOCK-GRID self-join.

    Exact all-pairs at a low threshold is inherently O(n²) arithmetic (the
    qualifying pairs sit right at the threshold, so no LSH family reaches
    recall 1 — hyperplane LSH at cosine 0.45 ≈ 63° collides with
    probability ≪ 1). What CAN scale is the join shape: instead of a
    cartesian/broadcast-nested-loop join, hash each vector into one of B
    blocks and equi-join on the grid-cell key (g, h), g ≤ h — each task
    computes one bounded block-pair, shuffle volume is O(n·B) rows, load
    is even by construction, and B tunes task size independently of n.
    (True near-dup mining at cosine ≥ 0.9 should instead route through the
    LSH bucketing in ``similarity.sim_ann_lsh`` + exact rerank.)

    The arithmetic is a sequential fold (zip_with + aggregate) so the
    oracle can replicate the exact same double-precision summation order.
    """
    # shared numerically-sensitive folds from similarity — the DuckDB
    # oracles mirror their exact summation order; two drifting copies
    # would silently break one module's oracle equivalence
    from .similarity import _as_double, _dot, _norm

    emb = t_par(spark, sf_dir, "embeddings")
    B = _GRID_BLOCKS
    vecs = (
        emb.select("vec_id", _as_double().alias("v"))
        .withColumn("norm", _norm(F.col("v")))
        .withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int"))
    )
    # a-side: block g replicated to every cell (g, h) with h >= g
    a = vecs.withColumn(
        "cell", F.explode(F.sequence(F.col("blk") * B + F.col("blk"), F.col("blk") * B + F.lit(B - 1)))
    ).alias("a")
    # b-side: block h replicated to every cell (g, h) with g <= h
    b = vecs.withColumn(
        "cell", F.explode(F.sequence(F.col("blk"), F.col("blk") * B + F.col("blk"), F.lit(B)))
    ).alias("b")
    dot = _dot(F.col("a.v"), F.col("b.v"))
    # diagonal cells see both orders of a pair — keep id< there; off-diagonal
    # cells see each unordered pair exactly once — normalize ids on output
    in_cell_once = F.when(
        F.col("a.blk") == F.col("b.blk"), F.col("a.vec_id") < F.col("b.vec_id")
    ).otherwise(F.col("a.vec_id") != F.col("b.vec_id"))
    return (
        a.join(b, on=(F.col("a.cell") == F.col("b.cell")) & in_cell_once)
        .withColumn("cosine", dot / (F.col("a.norm") * F.col("b.norm")))
        .filter(F.col("cosine") >= COSINE_PAIR_THRESHOLD)
        .select(
            F.least("a.vec_id", "b.vec_id").alias("a_id"),
            F.greatest("a.vec_id", "b.vec_id").alias("b_id"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


_CONT_SNIPPET_TOKENS = 40  # snippet length injected for containment testing
_CONT_MIN_TOKENS = 45  # only docs long enough that the snippet is a strict subset
_CONT_DF_CAP = 100  # drop shingles appearing in more corpus docs than this
_CONT_THRESHOLD = 0.9


def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection — shingle containment |S(A)∩S(B)|/|S(A)|
    — the quote/excerpt/subset case Jaccard misses: a 40-token snippet of a
    400-token doc has tiny Jaccard but containment 1.0. Pipelines run this
    to drop documents that are substantially embedded in longer ones. The
    fixture corpus has no natural snippets, so an A-side is INJECTED
    deterministically (every ≥ 45-token doc contributes its first 40 tokens
    under doc_id + 1_000_000), identically in both engines — the
    mm_content_dedup make-it-verifiable rule.

    Ultra-common shingles (corpus df > 100) are dropped from index AND
    denominator — containment here is explicitly over the retained
    (discriminative) shingle set, the standard df-cap estimator; without
    the cap a boilerplate shingle's posting list dominates join cost.

    Scale shape: candidate pairs come from the inverted-index equi-join on
    the shingle (shuffle keyed on shingle, posting lists bounded by the df
    cap) — never all-pairs. Jaccard's size-ratio prefix filter does NOT
    apply to asymmetric containment, so the df cap is the pruning lever;
    at 100 TB the sketch path is bottom-k minhash containment estimation
    feeding this exact verify (the dd_minhash_lsh two-phase pattern)."""
    docs = t_par(spark, sf_dir, "documents")
    snippets = (
        docs.filter(F.size(F.split("text", " ")) >= _CONT_MIN_TOKENS)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.array_join(
                F.slice(F.split("text", " "), 1, _CONT_SNIPPET_TOKENS), " "
            ).alias("text"),
        )
    )
    corpus_sh = docs.filter(
        F.size(F.split("text", " ")) >= _SHINGLE_N
    ).select("doc_id", F.explode(_shingles()).alias("shingle"))
    # df cap computed over the CORPUS side only (the side a real pipeline
    # has statistics for); both engines apply it to both sides
    rare = (
        corpus_sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _CONT_DF_CAP)
        .select("shingle")
    )
    snip_sh = snippets.select(
        "doc_id", F.explode(_shingles()).alias("shingle")
    ).join(F.broadcast(rare), "shingle")
    corpus_rare = corpus_sh.join(F.broadcast(rare), "shingle")
    sizes_a = snip_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("size_a"))
    inter = (
        snip_sh.withColumnsRenamed({"doc_id": "a_id"})
        .join(corpus_rare.withColumnsRenamed({"doc_id": "b_id"}), "shingle")
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes_a.withColumnsRenamed({"doc_id": "a_id"}), "a_id")
        .withColumn("containment_raw", F.col("inter") / F.col("size_a"))
        .filter(F.col("containment_raw") >= _CONT_THRESHOLD)
        .select(
            "a_id",
            "b_id",
            "inter",
            "size_a",
            F.round("containment_raw", 6).alias("containment"),
        )
    )


_SPAN_N = 8  # duplicated-span width (tokens)


def dd_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN detection (the exact-substring dedup
    of Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", at token-8-gram granularity): every 8-token window occurring
    in ≥ 2 distinct documents, with its occurrence/document counts and an
    anchor doc range — the inventory a span-cutting pass consumes.

    Unlike the shingle-SET operators (jaccard/containment) this keeps
    every positional window (no array_distinct), because substring dedup
    is about repeated surface text, not set overlap.

    Scale shape: one shuffle keyed on the span. At 100 TB the group key
    would be a 128-bit span digest (md5 — engine-portable) with the text
    carried via any_value, so 16-byte keys shuffle instead of strings;
    kept as the raw string here for oracle readability. Partial (map-side)
    aggregation bounds the shuffle by distinct spans per partition."""
    docs = t_par(spark, sf_dir, "documents")
    spans = bind(
        F.split(F.col("text"), " "),
        lambda w: F.when(
            F.size(w) >= _SPAN_N,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - _SPAN_N),
                lambda i: F.concat_ws(" ", *[w[i + j] for j in range(_SPAN_N)]),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return (
        docs.select("doc_id", F.explode(spans).alias("span"))
        .groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


SEMANTIC_TAU = 0.4  # fixture-calibrated (random-ish embeddings peak ~0.51);
# real text embeddings run this at ~0.95+ — the knob, not the algorithm
_SEMANTIC_NLIST = 64  # more clusters than the ANN index (16): SemDeDup's
# cost is Σ C(|cell|,2), so nlist is the pair-work/parallelism lever —
# the paper runs 11k clusters at 1.3e9 embeddings for the same reason


def dd_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with a k-means coarse quantizer,
    then comparing pairs ONLY within each cluster — a vector is a semantic
    duplicate if a LOWER-vec_id cluster-mate sits above the cosine
    threshold (the paper's keep-one-representative rule with a
    deterministic survivor). Returns the per-cluster dedup ledger
    (n_vecs / n_removed / n_kept).

    Reuses ``similarity.build_ivf_index``'s deterministic train-once
    quantizer (Forgy seeds + one Lloyd step) and reads its persisted
    cell-partitioned index, so the cluster assignment is ALREADY on disk,
    partitioned by the join key — the within-cell self-join shuffles
    nothing but the pair stream.

    Scale shape: pair work is Σ_cell C(|cell|, 2) — the SemDeDup design
    point: nlist grows with corpus size (paper: 11k clusters for 1.3e9
    embeddings) keeping |cell| ≈ N/nlist bounded, so the quadratic term
    never sees N². Cosine is the shared fold-ordered ``_dot`` and both
    sides round to 6 before the threshold test, so the pair set is
    engine-identical even AT the boundary."""
    from .similarity import _dot, build_ivf_index

    path, _centers = build_ivf_index(spark, sf_dir, nlist=_SEMANTIC_NLIST)
    assigned = spark.read.parquet(path)
    a = assigned.select(
        "cell",
        F.col("vec_id").alias("lo"),
        F.col("v").alias("lv"),
        F.col("norm").alias("lnorm"),
    )
    b = assigned.select(
        "cell",
        F.col("vec_id").alias("hi"),
        F.col("v").alias("hv"),
        F.col("norm").alias("hnorm"),
    )
    cos6 = F.round(
        _dot(F.col("lv"), F.col("hv")) / (F.col("lnorm") * F.col("hnorm")), 6
    )
    removed = (
        a.join(b, "cell")
        .filter(F.col("lo") < F.col("hi"))
        .filter(cos6 >= SEMANTIC_TAU)
        .select("cell", F.col("hi").alias("vec_id"))
        .distinct()
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    return (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .join(removed, "cell", "left_outer")
        .fillna(0, ["n_removed"])
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_vecs",
            F.col("n_removed").cast("long").alias("n_removed"),
            (F.col("n_vecs") - F.col("n_removed")).cast("long").alias("n_kept"),
        )
    )


def _semantic_oracle_sql() -> str:
    """DuckDB replay of dd_semantic INCLUDING the quantizer training
    (``similarity.ivf_assign_ctes`` — the same CTE chain the sim_ann_ivf
    oracle uses), then the within-cell lower-id pair rule."""
    from .similarity import _VECS_SQL, ivf_assign_ctes

    pair_cos = """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              [a.vec[i] * b.vec[i] for i in range(1, len(a.vec) + 1)]),
              (s, x) -> s + x) / (a.norm * b.norm)"""
    return f"""
        WITH {_VECS_SQL}, {ivf_assign_ctes(_SEMANTIC_NLIST)}, m AS (
            SELECT n.vec_id, n.vec, n.norm, af.cell
            FROM n JOIN af USING (vec_id)
        ), dup AS (
            SELECT DISTINCT b.cell, b.vec_id
            FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round({pair_cos}, 6) >= {SEMANTIC_TAU}
        )
        SELECT CAST(m.cell AS BIGINT) AS cell,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(count(d.vec_id) AS BIGINT) AS n_removed,
               CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
        FROM m LEFT JOIN dup d ON d.cell = m.cell AND d.vec_id = m.vec_id
        GROUP BY m.cell
    """


def dd_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SemDeDup — embedding dedup at INGEST time: a new batch
    of vectors (vec_id % 5 == 0, the incremental-index split) arrives
    after the coarse quantizer trained on the existing corpus, assigns
    against the FROZEN centroids (``similarity.build_inc_ivf_index`` —
    the exact index sim_ann_ivf_incremental serves from), and every new
    vector is triaged within its cell by precedence:

        'dup_corpus' — a corpus cluster-mate sits at cosine >= tau
                       (the vector duplicates ALREADY-ADMITTED data)
        'dup_batch'  — else a LOWER-id new cluster-mate does
        'admitted'   — else

    the dd_minhash_incremental fate design, over embeddings. Per-cell
    ledger out. Per-batch cost is O(batch × cell population) — cells stay
    bounded because nlist grows with the corpus — and the corpus side is
    read from the persisted cell-partitioned index, never re-encoded."""
    from .similarity import _dot, build_inc_ivf_index

    path, _centers = build_inc_ivf_index(spark, sf_dir)
    assigned = spark.read.parquet(path)
    new = assigned.filter(F.col("vec_id") % 5 == 0).select(
        "cell",
        F.col("vec_id").alias("nid"),
        F.col("v").alias("nv"),
        F.col("norm").alias("nn"),
    )
    corpus = assigned.filter(F.col("vec_id") % 5 != 0).select(
        "cell",
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
    )
    cos_c = F.round(_dot(F.col("cv"), F.col("nv")) / (F.col("cn") * F.col("nn")), 6)
    dup_corpus = (
        new.join(corpus, "cell")
        .filter(cos_c >= SEMANTIC_TAU)
        .select("nid")
        .distinct()
        .withColumn("dc", F.lit(1))
    )
    lo = new.select(
        "cell",
        F.col("nid").alias("lo_id"),
        F.col("nv").alias("lv"),
        F.col("nn").alias("ln"),
    )
    cos_b = F.round(_dot(F.col("lv"), F.col("nv")) / (F.col("ln") * F.col("nn")), 6)
    dup_batch = (
        new.join(lo, "cell")
        .filter(F.col("lo_id") < F.col("nid"))
        .filter(cos_b >= SEMANTIC_TAU)
        .select("nid")
        .distinct()
        .withColumn("db", F.lit(1))
    )
    fates = (
        new.select("cell", "nid")
        .join(dup_corpus, "nid", "left_outer")
        .join(dup_batch, "nid", "left_outer")
    )
    return (
        fates.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(F.col("dc").isNotNull().cast("long")).alias("n_dup_corpus"),
            F.sum(
                (F.col("dc").isNull() & F.col("db").isNotNull()).cast("long")
            ).alias("n_dup_batch"),
            F.sum(
                (F.col("dc").isNull() & F.col("db").isNull()).cast("long")
            ).alias("n_admitted"),
        )
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_new",
            "n_dup_corpus",
            "n_dup_batch",
            "n_admitted",
        )
        .orderBy("cell")
    )


def _semantic_inc_oracle_sql() -> str:
    """DuckDB replay of dd_semantic_incremental: coarse training on the
    80% split, frozen assignment of ALL vectors (``ivf_assign_ctes`` with
    assign_src — the sim_ann_ivf_incremental oracle's split), then the
    corpus-first fate precedence per new vector."""
    from .similarity import _VECS_SQL, ivf_assign_ctes

    cos = """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              [a.vec[i] * b.vec[i] for i in range(1, len(a.vec) + 1)]),
              (s, x) -> s + x) / (a.norm * b.norm)"""
    return f"""
        WITH {_VECS_SQL}, train AS (
            SELECT * FROM n WHERE vec_id % 5 != 0
        ), {ivf_assign_ctes(src="train", assign_src="n")}, m AS (
            SELECT n.vec_id, n.vec, n.norm, af.cell
            FROM n JOIN af USING (vec_id)
        ), newv AS (
            SELECT * FROM m WHERE vec_id % 5 = 0
        ), corp AS (
            SELECT * FROM m WHERE vec_id % 5 != 0
        ), dupc AS (
            SELECT DISTINCT b.vec_id
            FROM corp a JOIN newv b ON a.cell = b.cell
            WHERE round({cos}, 6) >= {SEMANTIC_TAU}
        ), dupb AS (
            SELECT DISTINCT b.vec_id
            FROM newv a JOIN newv b ON a.cell = b.cell
                                   AND a.vec_id < b.vec_id
            WHERE round({cos}, 6) >= {SEMANTIC_TAU}
        )
        SELECT CAST(nv.cell AS BIGINT) AS cell,
               CAST(count(*) AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN dc.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_corpus,
               CAST(sum(CASE WHEN dc.vec_id IS NULL
                              AND db.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_batch,
               CAST(sum(CASE WHEN dc.vec_id IS NULL
                              AND db.vec_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_admitted
        FROM newv nv
        LEFT JOIN dupc dc ON dc.vec_id = nv.vec_id
        LEFT JOIN dupb db ON db.vec_id = nv.vec_id
        GROUP BY nv.cell
        ORDER BY cell
    """


_BAND_CONFIGS = ((64, 1), (32, 2), (16, 4), (8, 8), (4, 16))


def _band_hit_sql(b: int, r: int, a: str = "sig_a", bcol: str = "sig_b") -> str:
    """``∃ band i: ∀ row j: a[i·r+j] = b[i·r+j]`` as a SQL string —
    0-based [] indexing, OR of ANDs (left-associated by the parser,
    matching the old ``functools.reduce`` construction exactly)."""
    return " OR ".join(
        "("
        + " AND ".join(
            f"{a}[{i * r + j}] = {bcol}[{i * r + j}]" for j in range(r)
        )
        + ")"
        for i in range(b)
    )


def _collision_sql(b: int, r: int) -> str:
    """The banding S-curve 1 − (1 − j^r)^b over the ``jaccard`` column as
    EXPLICIT left-associated multiplication chains — pow() is libm and
    not guaranteed cross-engine-identical in the last ulp, but IEEE
    multiplication is, so the SAME string parsed by Spark (``F.expr``)
    and DuckDB yields bit-identical doubles. Quantized to ppm BEFORE the
    corpus-sized sum (the no-double-sums rule)."""
    jr = "(" + " * ".join(["jaccard"] * r) + ")"
    q = f"(1 - {jr})"
    qb = "(" + " * ".join([q] * b) + ")"
    return f"CAST(floor((1 - {qb}) * 1000000) AS BIGINT)"


def dd_band_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding TUNING curve: empirical recall of five (bands, rows)
    splits of the SAME 64-permutation MinHash signature — (64,1), (32,2),
    (16,4), (8,8), (4,16) — over the exact near-dup pair set, next to
    the theoretical S-curve expectation 1−(1−j^r)^b averaged over the
    same pairs. ``dd_lsh_recall`` audits the SHIPPED banding per jaccard
    bin; this maps the whole b/r trade before picking one (more bands =
    higher recall + more candidate noise), and the empirical−theory gap
    is the sketch-health signal (a healthy sketch tracks the curve).

    One signature computation serves all five configs (signatures are
    config-independent; banding is just a re-grouping), one pair join,
    a 5-row stack — the mine-once-census-per-setting recipe
    (``dd_threshold_curve``, ``sim_nprobe_curve``).

    Exactness: signatures are the portable md5 sketch replayed by DuckDB
    bit-for-bit; band hits are integer equality; the expectation uses
    explicit multiplication chains (``_collision_sql``, shared verbatim
    by both engines — no libm pow) quantized to ppm per pair before the
    sum; two divisions at the end, round 6."""
    exact, sa, sb = _audit_pair_sigs(spark, sf_dir)
    paired = exact.join(F.broadcast(sa), "a_id").join(F.broadcast(sb), "b_id")
    aggs = [F.count(F.lit(1)).alias("n_pairs")]
    for k, (b, r) in enumerate(_BAND_CONFIGS):
        # the band-hit predicate as ONE parsed SQL string: the identical
        # left-associated OR-of-ANDs tree the old functools.reduce over
        # Column operators produced, but built with a single py4j round
        # trip instead of ~1300 (Column operator calls each cross the
        # py4j bridge; building the five config trees measured 2.6 s of
        # pure driver-side construction time per invocation)
        hit = F.expr(_band_hit_sql(b, r))
        aggs.append(F.sum(hit.cast("long")).alias(f"cov{k}"))
        aggs.append(F.sum(F.expr(_collision_sql(b, r))).alias(f"exp{k}"))
    red = paired.agg(*aggs)
    terms = ", ".join(
        f"{b}, {r}, cov{k}, exp{k}" for k, (b, r) in enumerate(_BAND_CONFIGS)
    )
    return (
        red.select(
            F.expr(
                f"stack({len(_BAND_CONFIGS)}, {terms}) "
                "AS (bands, rows_per_band, n_covered, exp_ppm)"
            ),
            "n_pairs",
        )
        .select(
            F.col("bands").cast("int").alias("bands"),
            F.col("rows_per_band").cast("int").alias("rows_per_band"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_covered").cast("long").alias("n_covered"),
            F.round(
                F.col("n_covered") / F.col("n_pairs").cast("double"), 6
            ).alias("recall"),
            F.round(
                F.col("exp_ppm").cast("double")
                / F.col("n_pairs")
                / F.lit(1e6),
                6,
            ).alias("expected_recall"),
        )
        .orderBy(F.desc("bands"))
    )


_NOVELTY_DECILES = 10
# a doc is "arriving duplicate" when >= 4/5 of its shingles were already
# seen in earlier docs — integer cross-multiplication, no float compare
_NOVELTY_DUP_NUM, _NOVELTY_DUP_DEN = 4, 5


def dd_novelty_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl novelty-decay audit: slice the corpus into 10 ingestion
    deciles (doc_id order — the crawl-time proxy) and report, per decile,
    how many shingles are FIRST seen there, what fraction of each
    arriving doc's shingles earlier docs already contributed, and how
    many docs arrive ≥80% pre-seen — the "is the marginal crawl batch
    still adding content?" curve every continued-pretraining data buy
    reads (``dd_threshold_curve``'s yield over THRESHOLDS, here over
    TIME).

    Distributed shape: one shingle explode (the shared persisted
    ``_shingle_frame``), a vocabulary-keyed min-doc aggregate for first
    occurrences, the TWO-LEVEL prefix-rank decile rule (intra-bucket
    row_number by ``doc_id div 1e6`` + cumulative bucket offsets — the
    a_mann_whitney recipe, no global single-partition sort), and
    decile-bounded rollups. The total doc count enters as one collected
    scalar (a bounded anchor).

    Exactness: all censuses are integers; per-doc seen-fractions
    quantize to ppm via integer division BEFORE the corpus-sized sum
    (the no-double-sums rule); the dup flag is an integer
    cross-multiplication; two double divisions at the end, round 6.
    Spark mines on xxhash64 shingle ids, the oracle on strings —
    identical modulo 64-bit collisions (P ≈ |vocab|²·2⁻⁶⁴)."""
    sh = _shingle_frame(spark, sf_dir)
    n_docs_total = sh.count()
    ex = sh.select(
        "doc_id",
        F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("shingle"),
    )
    # persisted: TWO plan branches read the first-occurrence table (the
    # per-doc seen join and the per-decile novel census), and each branch
    # would otherwise re-run the corpus-sized shingle explode + the
    # vocabulary-keyed min aggregate behind it
    first = derived(
        "novelty_first",
        sf_dir,
        _DOCS,
        lambda: ex.groupBy("shingle").agg(F.min("doc_id").alias("fd")),
    )
    intra = Window.partitionBy("bkt").orderBy("doc_id")
    per = (
        sh.select("doc_id")
        .withColumn("bkt", F.expr("doc_id div 1000000"))
        .withColumn("ir", F.row_number().over(intra))
    )
    boff = (
        per.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("bn"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("bn").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "off")
    )
    dec = per.join(boff, "bkt").select(
        "doc_id",
        F.expr(
            f"CAST((off + ir - 1) * {_NOVELTY_DECILES} div {n_docs_total}"
            f" + 1 AS INT)"
        ).alias("dd"),
    )
    pd_ = (
        ex.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("fd") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_seen"),
        )
    )
    per_dec = (
        pd_.join(dec, "doc_id")
        .groupBy("dd")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("n_seen") * _NOVELTY_DUP_DEN
                    >= F.col("n_sh") * _NOVELTY_DUP_NUM,
                    1,
                ).otherwise(0)
            ).alias("n_dup_docs"),
            F.sum(F.expr("n_seen * 1000000 div n_sh")).alias("ppm"),
            F.sum("n_sh").alias("occ"),
        )
    )
    nov = (
        first.join(dec, first.fd == dec.doc_id)
        .groupBy("dd")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_dec.join(nov, "dd", "left")
        .fillna(0, ["n_novel"])
        .select(
            F.col("dd").alias("decile"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_dup_docs").cast("long").alias("n_dup_docs"),
            F.col("n_novel").cast("long").alias("n_novel"),
            F.round(
                F.col("n_novel").cast("double") / F.col("occ"), 6
            ).alias("novelty_rate"),
            F.round(
                F.col("ppm").cast("double") / F.col("n_docs") / F.lit(1e6), 6
            ).alias("mean_seen_frac"),
        )
        .orderBy("decile")
    )


QUERIES = {
    "dd_exact": dd_exact,
    "dd_semantic": dd_semantic,
    "dd_semantic_incremental": dd_semantic_incremental,
    "dd_boilerplate_lines": dd_boilerplate_lines,
    "dd_span_dedup": dd_span_dedup,
    "dd_containment": dd_containment,
    "dd_ngram_jaccard": dd_ngram_jaccard,
    "dd_threshold_curve": dd_threshold_curve,
    "dd_novelty_deciles": dd_novelty_deciles,
    "dd_band_tuning_curve": dd_band_tuning_curve,
    "dd_sketch_quality": dd_sketch_quality,
    "dd_lsh_recall": dd_lsh_recall,
    "dd_components": dd_components,
    "dd_soft_dedup": dd_soft_dedup,
    "dd_minhash_lsh": dd_minhash_lsh,
    "dd_minhash_incremental": dd_minhash_incremental,
    "dd_simhash": dd_simhash,
    "dd_embedding_cosine": dd_embedding_cosine,
}


def _simhash_oracle_sql() -> str:
    """DuckDB replay of dd_simhash's EXACT signature arithmetic: same md5
    half-hashes, same 64 bit-vote sums, same 16-bit band packing, same
    banded join + hamming filter — a true hash-checked oracle for the
    approximate operator (possible because the hash is engine-portable)."""
    votes = ",\n                   ".join(
        f"sum((({'h_lo' if j < 32 else 'h_hi'} >> {j % 32}) & 1) * 2 - 1) AS v{j}"
        for j in range(64)
    )
    bands = ",\n                   ".join(
        "("
        + " + ".join(
            f"(CASE WHEN v{bi * 16 + k} > 0 THEN {1 << k} ELSE 0 END)"
            for k in range(16)
        )
        + f") AS bh{bi}"
        for bi in range(4)
    )
    band_union = "\n            UNION ALL ".join(
        f"SELECT doc_id, bh0, bh1, bh2, bh3, {bi} AS band, bh{bi} AS bh FROM sigs"
        for bi in range(4)
    )
    hamming = " + ".join(f"bit_count(xor(a.bh{bi}, b.bh{bi}))" for bi in range(4))
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') w FROM documents
        ), sh AS (
            SELECT doc_id,
                   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)]) s
            FROM toks WHERE len(w) >= 3
        ), ex AS (
            SELECT doc_id, unnest(s) tok FROM sh
        ), hashed AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) h_lo,
                   CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) h_hi
            FROM ex
        ), votes AS (
            SELECT doc_id, {votes}
            FROM hashed GROUP BY doc_id
        ), sigs AS (
            SELECT doc_id, {bands}
            FROM votes
        ), bands AS (
            {band_union}
        ), capped AS (
            -- same bucket-size cap as the Spark side: oversized
            -- (band, band-hash) buckets are degenerate boilerplate
            -- clusters and are skipped, keeping the oracle hash-exact
            -- even when the cap bites
            SELECT * FROM (
                SELECT bands.*, count(*) OVER (PARTITION BY band, bh) AS bsz
                FROM bands
            ) WHERE bsz <= {_SIMHASH_BUCKET_CAP}
        ), pairs AS (
            SELECT DISTINCT a.doc_id a_id, b.doc_id b_id,
                   CAST({hamming} AS INTEGER) AS hamming
            FROM capped a JOIN capped b
              ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        )
        SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 6
    """

_PAIR_JACCARD_SQL = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') w FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in range(1, len(w) - 1)]) s
        FROM toks WHERE len(w) >= 3
    ), sizes AS (
        SELECT doc_id, len(s) sz FROM sh
    ), ex AS (
        SELECT doc_id, unnest(s) shingle FROM sh
    ), pairs AS (
        SELECT a.doc_id a_id, b.doc_id b_id, count(*) inter
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT a_id, b_id, inter,
           CAST(sa.sz AS INTEGER) AS size_a, CAST(sb.sz AS INTEGER) AS size_b,
           round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.8
"""

_SKETCH_SIG = "[" + ", ".join(
    f"list_min([({a} * h + {b}) % {_P} for h in hs])" for a, b in _PERMS
) + "]"

_LSH_BAND_HIT_SQL = " OR ".join(
    "("
    + " AND ".join(
        f"sa.sig[{i * _ROWS_PER_BAND + j + 1}] = sb.sig[{i * _ROWS_PER_BAND + j + 1}]"
        for j in range(_ROWS_PER_BAND)
    )
    + ")"
    for i in range(_N_BANDS)
)

_LSH_RECALL_SQL = f"""
    WITH qp AS ({_PAIR_JACCARD_SQL}
    ), ids AS (
        SELECT a_id AS doc_id FROM qp UNION SELECT b_id FROM qp
    ), toks2 AS (
        SELECT doc_id, string_split(text, ' ') w FROM documents
        WHERE doc_id IN (SELECT doc_id FROM ids)
    ), sh2 AS (
        SELECT doc_id,
               list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in range(1, len(w) - 1)]) s
        FROM toks2 WHERE len(w) >= 3
    ), hsrc AS (
        SELECT doc_id,
               [CAST('0x' || substr(md5(s2), 1, 15) AS BIGINT) % {_P}
                for s2 in s] AS hs
        FROM sh2
    ), sig AS (
        SELECT doc_id, {_SKETCH_SIG} AS sig FROM hsrc
    ), paired AS (
        SELECT CAST(floor(q.jaccard * 20) AS INTEGER) AS bin_id,
               ({_LSH_BAND_HIT_SQL}) AS covered
        FROM qp q
        JOIN sig sa ON sa.doc_id = q.a_id
        JOIN sig sb ON sb.doc_id = q.b_id
    )
    SELECT bin_id, bin_id / CAST(20 AS DOUBLE) AS jaccard_lo,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
               AS n_covered,
           round(sum(CASE WHEN covered THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS recall
    FROM paired GROUP BY bin_id
    ORDER BY bin_id
"""

def _band_tuning_oracle_sql() -> str:
    """DuckDB replay of dd_band_tuning_curve: the _LSH_RECALL_SQL
    signature CTEs, per-config band-hit SQL generated from the same
    (b, r) grid, and the IDENTICAL ``_collision_sql`` multiplication
    chains."""
    cols = ["CAST(count(*) AS BIGINT) AS n_pairs"]
    for k, (b, r) in enumerate(_BAND_CONFIGS):
        hit = " OR ".join(
            "("
            + " AND ".join(
                f"siga[{i * r + j + 1}] = sigb[{i * r + j + 1}]"
                for j in range(r)
            )
            + ")"
            for i in range(b)
        )
        cols.append(f"sum(CASE WHEN {hit} THEN 1 ELSE 0 END) AS cov{k}")
        cols.append(f"sum({_collision_sql(b, r)}) AS exp{k}")
    rows = " UNION ALL ".join(
        f"SELECT {b} AS bands, {r} AS rows_per_band, n_pairs, "
        f"CAST(cov{k} AS BIGINT) AS n_covered, exp{k} AS exp_ppm FROM red"
        for k, (b, r) in enumerate(_BAND_CONFIGS)
    )
    return f"""
        WITH qp AS ({_PAIR_JACCARD_SQL}
        ), ids AS (
            SELECT a_id AS doc_id FROM qp UNION SELECT b_id FROM qp
        ), toks2 AS (
            SELECT doc_id, string_split(text, ' ') w FROM documents
            WHERE doc_id IN (SELECT doc_id FROM ids)
        ), sh2 AS (
            SELECT doc_id,
                   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)]) s
            FROM toks2 WHERE len(w) >= 3
        ), hsrc AS (
            SELECT doc_id,
                   [CAST('0x' || substr(md5(s2), 1, 15) AS BIGINT) % {_P}
                    for s2 in s] AS hs
            FROM sh2
        ), sig AS (
            SELECT doc_id, {_SKETCH_SIG} AS sig FROM hsrc
        ), paired AS (
            SELECT q.jaccard AS jaccard, sa.sig AS siga, sb.sig AS sigb
            FROM qp q
            JOIN sig sa ON sa.doc_id = q.a_id
            JOIN sig sb ON sb.doc_id = q.b_id
        ), red AS (
            SELECT {", ".join(cols)} FROM paired
        )
        SELECT bands, rows_per_band, n_pairs, n_covered,
               round(n_covered / CAST(n_pairs AS DOUBLE), 6) AS recall,
               round(CAST(exp_ppm AS DOUBLE) / n_pairs / 1000000.0, 6)
                   AS expected_recall
        FROM ({rows})
        ORDER BY bands DESC
    """


_SKETCH_QUALITY_SQL = f"""
    WITH qp AS ({_PAIR_JACCARD_SQL}
    ), ids AS (
        SELECT a_id AS doc_id FROM qp UNION SELECT b_id FROM qp
    ), toks2 AS (
        SELECT doc_id, string_split(text, ' ') w FROM documents
        WHERE doc_id IN (SELECT doc_id FROM ids)
    ), sh2 AS (
        SELECT doc_id,
               list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in range(1, len(w) - 1)]) s
        FROM toks2 WHERE len(w) >= 3
    ), hsrc AS (
        SELECT doc_id,
               [CAST('0x' || substr(md5(s2), 1, 15) AS BIGINT) % {_P}
                for s2 in s] AS hs
        FROM sh2
    ), sig AS (
        SELECT doc_id, {_SKETCH_SIG} AS sig FROM hsrc
    ), m AS (
        SELECT q.a_id, q.b_id, q.jaccard,
               CAST(list_sum([CAST(sa.sig[i] = sb.sig[i] AS INTEGER)
                              for i in range(1, {_N_HASHES} + 1)])
                    AS INTEGER) AS n_matching_hashes
        FROM qp q
        JOIN sig sa ON sa.doc_id = q.a_id
        JOIN sig sb ON sb.doc_id = q.b_id
    )
    SELECT a_id, b_id, jaccard, n_matching_hashes,
           round(n_matching_hashes / CAST({_N_HASHES} AS DOUBLE), 6) AS jaccard_est,
           round(abs(n_matching_hashes / CAST({_N_HASHES} AS DOUBLE) - jaccard), 6)
               AS abs_err
    FROM m
"""

# shared by the dd_components oracle and pipeline_ops' canonical-dedup
# oracle: recursive reachability closure over the exact near-dup pair graph,
# ending in `comp(doc_id, component_id)`
COMPONENTS_CTE_SQL = f"""
        WITH RECURSIVE pairs AS (
            {_PAIR_JACCARD_SQL}
        ), edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL
            SELECT b_id, a_id FROM pairs
        ), reach(src, dst) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), comp AS (
            SELECT src AS doc_id, min(dst) AS component_id
            FROM reach GROUP BY src
        )
"""

ORACLE = {
    "dd_semantic": _semantic_oracle_sql(),
    "dd_semantic_incremental": _semantic_inc_oracle_sql(),
    "dd_boilerplate_lines": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), ch AS (
            SELECT doc_id,
                   unnest(range(0, len(w) // {_BOILERPLATE_LINE_WORDS})) AS i,
                   w
            FROM w
        ), lines AS (
            SELECT DISTINCT doc_id,
                   array_to_string(
                       w[i * {_BOILERPLATE_LINE_WORDS} + 1
                         : i * {_BOILERPLATE_LINE_WORDS}
                           + {_BOILERPLATE_LINE_WORDS}],
                       ' ') AS line
            FROM ch
        ), counts AS (
            SELECT line,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   min(doc_id) AS first_doc
            FROM lines WHERE line <> '' GROUP BY line
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents
        )
        SELECT line, n_docs, first_doc,
               round(n_docs / CAST(n_corpus AS DOUBLE), 6) AS doc_share
        FROM counts CROSS JOIN tot
        WHERE n_docs >= {_BOILERPLATE_MIN_DOCS}
        ORDER BY n_docs DESC, line ASC
    """,
    "dd_span_dedup": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), sp AS (
            SELECT doc_id, array_to_string(w[i:i+{_SPAN_N - 1}], ' ') AS span
            FROM toks,
                 unnest(generate_series(1, greatest(len(w) - {_SPAN_N - 1}, 0)))
                     AS u(i)
        )
        SELECT span,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               min(doc_id) AS min_doc,
               max(doc_id) AS max_doc
        FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    """,
    "dd_exact": """
        SELECT md5(text) AS content_hash,
               min(doc_id) AS survivor_doc_id,
               count(*) AS group_size
        FROM documents GROUP BY 1
    """,
    "dd_containment": f"""
        WITH corpus AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), snip AS (
            SELECT doc_id + 1000000 AS doc_id,
                   w[1:{_CONT_SNIPPET_TOKENS}] AS w
            FROM corpus WHERE len(w) >= {_CONT_MIN_TOKENS}
        ), corpus_sh AS (
            SELECT doc_id,
                   unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         for i in range(1, len(w) - 1)]))
                       AS shingle
            FROM corpus WHERE len(w) >= 3
        ), snip_sh0 AS (
            SELECT doc_id,
                   unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         for i in range(1, len(w) - 1)]))
                       AS shingle
            FROM snip WHERE len(w) >= 3
        ), rare AS (
            SELECT shingle FROM (
                SELECT shingle, count(*) AS df FROM corpus_sh GROUP BY 1
            ) WHERE df <= {_CONT_DF_CAP}
        ), snip_sh AS (
            SELECT s.doc_id, s.shingle FROM snip_sh0 s JOIN rare USING (shingle)
        ), corpus_rare AS (
            SELECT c.doc_id, c.shingle FROM corpus_sh c JOIN rare USING (shingle)
        ), sizes_a AS (
            SELECT doc_id, count(*) AS size_a FROM snip_sh GROUP BY 1
        ), pair_inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
            FROM snip_sh a JOIN corpus_rare b USING (shingle)
            GROUP BY 1, 2
        )
        SELECT a_id, b_id, inter, size_a,
               round(inter / CAST(size_a AS DOUBLE), 6) AS containment
        FROM pair_inter JOIN sizes_a ON pair_inter.a_id = sizes_a.doc_id
        WHERE inter / CAST(size_a AS DOUBLE) >= {_CONT_THRESHOLD}
    """,
    "dd_ngram_jaccard": _PAIR_JACCARD_SQL,
    # yield curve: the floor-0.5 pair mine + 5-threshold census; ground
    # truth is ALL-PAIRS jaccard over the df-retained (df <= cap) shingle
    # sets — the capped-PPJoin mine must find exactly these pairs
    "dd_threshold_curve": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') w FROM documents
        ), sh AS (
            SELECT doc_id,
                   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)]) s
            FROM toks WHERE len(w) >= 3
        ), ex0 AS (
            SELECT doc_id, unnest(s) shingle FROM sh
        ), dfc AS (
            SELECT shingle, count(*) df FROM ex0 GROUP BY 1
        ), ex AS (
            SELECT e.doc_id, e.shingle
            FROM ex0 e JOIN dfc USING (shingle)
            WHERE df <= {_CURVE_DF_CAP}
        ), sizes AS (
            SELECT doc_id, count(*) sz FROM ex GROUP BY 1
        ), pairs AS (
            SELECT a.doc_id a_id, b.doc_id b_id, count(*) inter
            FROM ex a JOIN ex b ON a.shingle = b.shingle
                                AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), j AS (
            SELECT a_id, b_id,
                   inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jr
            FROM pairs
            JOIN sizes sa ON sa.doc_id = a_id
            JOIN sizes sb ON sb.doc_id = b_id
            WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5
        ), grid AS (
            SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold
        ), jd AS (
            SELECT jr, a_id AS d FROM j
            UNION ALL SELECT jr, b_id FROM j
        ), pc AS (
            SELECT g.threshold, CAST(count(j.a_id) AS BIGINT) AS n_pairs
            FROM grid g LEFT JOIN j ON j.jr >= g.threshold
            GROUP BY g.threshold
        ), dc AS (
            SELECT g.threshold, CAST(count(DISTINCT jd.d) AS BIGINT) AS n_docs
            FROM grid g LEFT JOIN jd ON jd.jr >= g.threshold
            GROUP BY g.threshold
        )
        SELECT threshold, n_pairs, n_docs
        FROM pc JOIN dc USING (threshold)
        ORDER BY threshold
    """,
    # crawl novelty decay: string shingles, row_number deciles, per-doc
    # ppm quantization BEFORE the sum — the engine's integer recipe
    # replayed verbatim
    "dd_novelty_deciles": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') w FROM documents
        ), sh AS (
            SELECT doc_id,
                   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)]) s
            FROM toks WHERE len(w) >= 3
        ), ex AS (
            SELECT doc_id, unnest(s) shingle FROM sh
        ), fo AS (
            SELECT shingle, min(doc_id) fd FROM ex GROUP BY 1
        ), nd AS (
            SELECT count(*) n FROM sh
        ), rk AS (
            SELECT doc_id, row_number() OVER (ORDER BY doc_id) r FROM sh
        ), dec AS (
            SELECT doc_id,
                   CAST((r - 1) * {_NOVELTY_DECILES} // n + 1 AS INT) dd
            FROM rk, nd
        ), pd AS (
            SELECT e.doc_id, count(*) n_sh,
                   sum(CASE WHEN fd < e.doc_id THEN 1 ELSE 0 END) n_seen
            FROM ex e JOIN fo USING (shingle) GROUP BY 1
        ), per_dec AS (
            SELECT dd, count(*) n_docs,
                   sum(CASE WHEN n_seen * {_NOVELTY_DUP_DEN}
                             >= n_sh * {_NOVELTY_DUP_NUM}
                        THEN 1 ELSE 0 END) n_dup_docs,
                   sum(n_seen * 1000000 // n_sh) ppm,
                   sum(n_sh) occ
            FROM pd JOIN dec USING (doc_id) GROUP BY 1
        ), nov AS (
            SELECT d.dd, count(*) n_novel
            FROM fo f JOIN dec d ON f.fd = d.doc_id GROUP BY 1
        )
        SELECT p.dd AS decile,
               CAST(p.n_docs AS BIGINT) AS n_docs,
               CAST(p.n_dup_docs AS BIGINT) AS n_dup_docs,
               CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
               round(CAST(coalesce(n.n_novel, 0) AS DOUBLE) / p.occ, 6)
                   AS novelty_rate,
               round(CAST(p.ppm AS DOUBLE) / p.n_docs / 1000000.0, 6)
                   AS mean_seen_frac
        FROM per_dec p LEFT JOIN nov n ON n.dd = p.dd
        ORDER BY decile
    """,
    "dd_sketch_quality": _SKETCH_QUALITY_SQL,
    "dd_band_tuning_curve": _band_tuning_oracle_sql(),
    "dd_lsh_recall": _LSH_RECALL_SQL,
    # connected components = min reachable doc_id — deterministic, so the
    # oracle replays it with a recursive reachability CTE over the same
    # pair graph (fixture-sized: reach is O(V·E); the Spark side is the
    # scalable min-label-propagation loop)
    "dd_components": f"""
        {COMPONENTS_CTE_SQL}
        SELECT doc_id, component_id,
               count(*) OVER (PARTITION BY component_id) AS component_size
        FROM comp
    """,
    "dd_soft_dedup": f"""
        {COMPONENTS_CTE_SQL}
        SELECT doc_id, component_id,
               count(*) OVER (PARTITION BY component_id) AS component_size,
               doc_id = component_id AS is_canonical,
               round(1.0 / CAST(count(*) OVER (PARTITION BY component_id)
                                AS DOUBLE), 6) AS train_weight
        FROM comp
    """,
    # LSH + exact verify equals the exact result w.p. ~1 at the fixture's
    # planted-dup similarity levels (see module docstring)
    "dd_minhash_lsh": _PAIR_JACCARD_SQL,
    # LSH recall argument identical to dd_minhash_lsh (module docstring);
    # the oracle is the exact cross-split + in-batch jaccard pair set
    "dd_minhash_incremental": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') w FROM documents
        ), sh AS (
            SELECT doc_id,
                   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)]) s
            FROM toks WHERE len(w) >= 3
        ), sizes AS (
            SELECT doc_id, len(s) sz FROM sh
        ), ex AS (
            SELECT doc_id, unnest(s) shingle FROM sh
        ), cpairs AS (
            SELECT a.doc_id a_id, b.doc_id b_id, 'corpus' AS pair_type,
                   count(*) inter
            FROM ex a JOIN ex b ON a.shingle = b.shingle
            WHERE a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
            GROUP BY 1, 2, 3
        ), bpairs AS (
            SELECT a.doc_id a_id, b.doc_id b_id, 'batch' AS pair_type,
                   count(*) inter
            FROM ex a JOIN ex b ON a.shingle = b.shingle
                               AND a.doc_id < b.doc_id
            WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 >= 8
            GROUP BY 1, 2, 3
        ), pairs AS (
            SELECT * FROM cpairs UNION ALL SELECT * FROM bpairs
        )
        SELECT a_id, b_id, inter,
               CAST(sa.sz AS INTEGER) AS size_a, CAST(sb.sz AS INTEGER) AS size_b,
               round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard,
               pair_type
        FROM pairs
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
        WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.8
    """,
    "dd_simhash": _simhash_oracle_sql(),
    "dd_embedding_cosine": """
        WITH v AS (
            SELECT vec_id,
                   [CAST(x AS DOUBLE) for x in embedding] AS vec
            FROM embeddings
        ), n AS (
            SELECT vec_id, vec,
                   sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        [x * x for x in vec]), (acc, x) -> acc + x)) AS norm
            FROM v
        )
        SELECT a.vec_id a_id, b.vec_id b_id,
               round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         [a.vec[i] * b.vec[i] for i in range(1, len(a.vec) + 1)]),
                         (acc, x) -> acc + x) / (a.norm * b.norm), 6) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  [a.vec[i] * b.vec[i] for i in range(1, len(a.vec) + 1)]),
                  (acc, x) -> acc + x) / (a.norm * b.norm) >= 0.45
    """,
}
