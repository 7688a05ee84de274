"""Near-dup detection: planted duplicates must be found, unrelated docs
must not pair up; MinHash estimate must track true Jaccard."""

import random

import pytest
from pyspark.sql import functions as F

from xs_vlm_ocr_spark.operators.text_dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi".split()


def _mk_corpus():
    rng = random.Random(7)
    docs = []
    for i in range(40):
        docs.append((f"d{i:03d}", " ".join(rng.choice(WORDS) for _ in range(120))))
    # planted near-dups: d900/d901 differ by one word; d902 is an exact copy of d000
    base = docs[0][1]
    toks = base.split()
    toks[10] = "changedword"
    docs.append(("d900", base))
    docs.append(("d901", " ".join(toks)))
    docs.append(("d902", base))
    return docs


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(_mk_corpus(), "doc_id string, text string").cache()


def _planted(pairs):
    planted = {p for p in pairs if p[0].startswith("d9") and p[1].startswith("d9")
               or ("d000" in p)}
    return planted


def test_ngram_jaccard_finds_planted(corpus_df):
    pairs = {(r["a"], r["b"]) for r in
             ngram_jaccard_pairs(corpus_df, threshold=0.7).collect()}
    assert ("d900", "d902") in pairs          # exact copy
    assert ("d900", "d901") in pairs          # one-word edit
    assert ("d000", "d900") in pairs and ("d000", "d902") in pairs
    # random 120-word docs over a 14-word vocab share grams but not 70%
    others = {p for p in pairs if not (p[0] in ("d000",) or p[0].startswith("d9"))}
    assert not others


def test_minhash_lsh_finds_planted_and_estimates(corpus_df):
    """The md5-family banded MinHash (the oracle-checked contract query)
    finds every planted dup and estimates its Jaccard."""
    for num_perm, bands in ((16, 4), (64, 16)):
        got = {(r["a"], r["b"]): r["est_jaccard"]
               for r in minhash_lsh_pairs(corpus_df, num_perm=num_perm,
                                          bands=bands).collect()}
        assert got.get(("d900", "d902"), 0) == 1.0      # identical signature
        assert got.get(("d000", "d900"), 0) == 1.0
        assert got.get(("d000", "d902"), 0) == 1.0
        assert got.get(("d900", "d901"), 0) > 0.6       # near-identical


def test_minhash_deterministic(corpus_df, spark):
    a = sorted(map(tuple, minhash_lsh_pairs(corpus_df).collect()))
    b = sorted(map(tuple, minhash_lsh_pairs(corpus_df.repartition(7)).collect()))
    assert a and a == b


def test_simhash_near_pairs(corpus_df):
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             simhash_near_pairs(corpus_df, max_hamming=5, bands=6).collect()}
    assert pairs.get(("d900", "d902")) == 0   # identical text -> identical hash
    assert pairs.get(("d000", "d900")) == 0
    assert pairs.get(("d000", "d902")) == 0
    assert ("d900", "d901") in pairs          # one-word edit -> few bits flip
    assert all(h <= 5 for h in pairs.values())


def test_embedding_near_dup(spark):
    from xs_vlm_ocr_spark.operators.text_dedup import embedding_near_dup_pairs

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (3, [0.0, 0.999, 0.02, 0.0]),   # near-dup of 2
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pairs = {(r["a"], r["b"]) for r in embedding_near_dup_pairs(df, threshold=0.99).collect()}
    assert pairs == {(0, 1), (2, 3)}


def test_grid_near_dup_complete_vs_exact(spark):
    """eps-grid candidates must be a SUPERSET of qualifying pairs at any
    threshold (triangle-inequality completeness), so grid == all-pairs."""
    import numpy as np

    from oracles import embedding_near_dup_pairs_exact
    from xs_vlm_ocr_spark.operators.text_dedup import embedding_near_dup_pairs

    rng = np.random.RandomState(11)
    base = rng.standard_normal((60, 16)).astype(np.float32)
    # plant near-dups: rows 50..59 are tiny perturbations of rows 0..9
    base[50:60] = base[0:10] + 0.02 * rng.standard_normal((10, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>").cache()
    for t in (0.4, 0.8, 0.95):
        grid = {(r["a"], r["b"]) for r in
                embedding_near_dup_pairs(df, threshold=t, dim=16).collect()}
        exact = {(r["a"], r["b"]) for r in
                 embedding_near_dup_pairs_exact(df, threshold=t).collect()}
        assert grid == exact, f"threshold {t}: grid {grid ^ exact}"
    assert (0, 50) in exact or not exact


def test_grid_prunes_clustered_data_at_tight_threshold(spark):
    """The pruning regime the eps-grid exists for (its docstring's honest
    contract): ANISOTROPIC/clustered embeddings at a tight threshold.
    There the candidate count must be STRICTLY below all-pairs (pairs in
    cells >1 apart on some axis never join) while the verified output
    still equals the exact all-pairs result. On isotropic high-dim data
    the grid degrades to a hash-partitioned all-pairs equi-join — that
    case is routed to the approximate family, per the docstring."""
    import numpy as np

    from oracles import embedding_near_dup_pairs_exact
    from xs_vlm_ocr_spark.operators.text_dedup import (
        _grid_feat_and_candidates,
        embedding_near_dup_pairs,
    )

    rng = np.random.RandomState(23)
    k, per, dim, t = 12, 15, 4, 0.95
    centers = rng.standard_normal((k, dim)).astype(np.float64)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for c in range(k):
        for j in range(per):
            v = centers[c] + 0.02 * rng.standard_normal(dim)
            rows.append((c * per + j, [float(x) for x in v]))
    n = len(rows)
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>").cache()

    _, cand = _grid_feat_and_candidates(df, "embedding", "vec_id", t, 3, dim, 7)
    n_cand = cand.count()
    all_pairs = n * (n - 1) // 2
    assert n_cand < all_pairs, (n_cand, all_pairs)
    assert n_cand < 0.5 * all_pairs, (  # genuine pruning, not off-by-one
        f"grid candidates {n_cand} vs all-pairs {all_pairs}"
    )

    got = {(r["a"], r["b"]) for r in
           embedding_near_dup_pairs(df, threshold=t, dim=dim).collect()}
    want = {(r["a"], r["b"]) for r in
            embedding_near_dup_pairs_exact(df, threshold=t).collect()}
    assert got == want and len(want) > 0  # pruning lost nothing


def test_ngram_prefix_filter_matches_bruteforce(corpus_df, spark):
    """Prefix filtering is an exact optimization: results must equal the
    naive shingle self-join at every threshold."""
    from oracles import with_word_shingles

    sh = with_word_shingles(corpus_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    naive = (
        sh.select(F.col("doc_id").alias("a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter"))
        .join(sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb")), "b")
    )
    for t in (0.3, 0.7):
        want = sorted(
            tuple(r) for r in naive
            .filter(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")) >= t)
            .select("a", "b", "inter", "na", "nb").collect()
        )
        got = sorted(tuple(r) for r in
                     ngram_jaccard_pairs(corpus_df, threshold=t).collect())
        assert got == want


def test_ngram_l_prefix_invariant(corpus_df):
    """The l-extended prefix count filter is an exact optimization:
    results are IDENTICAL for every min_prefix_matches value (l=1 is
    the classic PPJoin prefix filter; the r8 default is 4)."""
    for t in (0.3, 0.7):
        base = sorted(tuple(r) for r in
                      ngram_jaccard_pairs(corpus_df, threshold=t,
                                          min_prefix_matches=1).collect())
        assert base, f"no pairs at threshold {t} — fixture degenerate"
        for ell in (2, 4, 8):
            got = sorted(tuple(r) for r in
                         ngram_jaccard_pairs(corpus_df, threshold=t,
                                             min_prefix_matches=ell).collect())
            assert got == base, f"l={ell} changed results at t={t}"


# ---------------------------------------------------- tokenizer parity
# A bare str.split() also breaks on Unicode whitespace (\x1c-\x1f,
# \x85, NBSP...) that the pinned WS_RE class does not. The JVM gram
# producer is pinned against the Python spec in tests/oracles.py, and
# that spec against an independent char scan.

EXOTIC_TEXTS = [
    "",
    " ",
    "\t",
    "plain ascii words here",
    "  leading and   trailing  ",
    "tab\tsep\nnewline\rcr\fff\x0bvt",
    "unicode\x85nel stays\xa0nbsp glued",     # NOT split (outside class)
    "file\x1csep\x1dgroup\x1erec\x1funit",    # NOT split (outside class)
    "em space ideo　space line sep",  # NOT split
    "mixed \t\x85 run\xa0with\fclass chars",
    "\x0bleading vertical tab",
    "trailing formfeed\f",
    "UPPER Case\tMiXeD",
]


def test_default_grams_match_jvm_twin_on_exotic_whitespace(spark):
    """The JVM gram STRINGS (``with_word_gram_strings``) equal the Python
    gram spec on every exotic-whitespace input."""
    from oracles import doc_grams

    from xs_vlm_ocr_spark.operators.text_dedup import with_word_gram_strings

    df = spark.createDataFrame(
        [(f"t{i:02d}", s) for i, s in enumerate(EXOTIC_TEXTS)],
        "doc_id string, text string",
    )
    for n in (1, 3):
        jvm = {}
        for r in with_word_gram_strings(df, n=n).collect():
            jvm.setdefault(r["doc_id"], set()).add(r["g"])
        for i, s in enumerate(EXOTIC_TEXTS):
            did = f"t{i:02d}"
            assert set(doc_grams(s, n)) == jvm.get(did, set()), (n, repr(s))


def test_tokenize_matches_spec_hypothesis():
    """The tokenizer spec == an independent char-scan mirror of the JVM
    split(lower(trim(text)), WS_RE), over hypothesis strings drawn with
    exotic whitespace mixed in."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from oracles import tokenize

    WS = set(" \t\n\r\f\x0b")

    def spec(text):
        # manual scan: split at maximal runs of the pinned class, KEEPING
        # edge empties (Spark split with limit -1 / re.split semantics)
        out, in_ws = [""], False
        for ch in text.strip(" ").lower():
            if ch in WS:
                if not in_ws:
                    out.append("")
                    in_ws = True
            else:
                out[-1] += ch
                in_ws = False
        return out

    alphabet = st.sampled_from(
        list("ab XY\t\n\r\f\x0b\x85\xa0\x1c 　 ")
    )

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet=alphabet, max_size=30))
    def check(text):
        assert tokenize(text) == spec(text), repr(text)

    check()


def test_minhash_index_probe_incremental(corpus_df, spark):
    """Incremental near-dup: a committed minhash_band_index probed with a
    new batch finds planted clones WITHOUT recomputing index signatures,
    and equals the full within-set pairs restricted to cross pairs."""
    from pyspark.sql import functions as F

    from xs_vlm_ocr_spark.operators.text_dedup import (
        minhash_band_index,
        minhash_probe_index,
    )

    new_ids = {"d900", "d901", "d902"}
    committed = corpus_df.filter(~F.col("doc_id").isin(*new_ids))
    new = corpus_df.filter(F.col("doc_id").isin(*new_ids))

    idx = minhash_band_index(committed, num_perm=16, bands=4)
    got = {(r["a"], r["b"]): r["est_jaccard"]
           for r in minhash_probe_index(new, idx, num_perm=16, bands=4).collect()}
    # d900/d902 are clones of indexed d000; d901 is a one-word edit
    assert got.get(("d000", "d900")) == 1.0
    assert got.get(("d000", "d902")) == 1.0
    assert got.get(("d000", "d901"), 0) > 0.5

    # consistency: probe == full-pairs restricted to (committed, new)
    full = minhash_lsh_pairs(corpus_df, num_perm=16, bands=4)
    cross = {}
    for r in full.collect():
        a, b = r["a"], r["b"]
        if (a in new_ids) != (b in new_ids):
            key = (b, a) if a in new_ids else (a, b)
            cross[key] = r["est_jaccard"]
    assert got == cross


def test_minhash_index_survives_parquet_roundtrip(corpus_df, spark, tmp_path_factory):
    """The index is genuinely PERSISTABLE: write minhash_band_index to
    parquet, read it back cold, probe — identical pairs. (The md5 hash
    family means any engine could have written those rows.)"""
    from pyspark.sql import functions as F

    from xs_vlm_ocr_spark.operators.text_dedup import (
        minhash_band_index,
        minhash_probe_index,
    )

    new_ids = {"d900", "d901", "d902"}
    committed = corpus_df.filter(~F.col("doc_id").isin(*new_ids))
    new = corpus_df.filter(F.col("doc_id").isin(*new_ids))

    path = str(tmp_path_factory.mktemp("mh_index") / "index_parquet")
    minhash_band_index(committed, num_perm=16, bands=4).write.parquet(path)
    stored = spark.read.parquet(path)

    live = minhash_band_index(committed, num_perm=16, bands=4)
    got_stored = sorted(map(tuple, minhash_probe_index(new, stored).collect()))
    got_live = sorted(map(tuple, minhash_probe_index(new, live).collect()))
    assert got_stored == got_live and got_stored


def test_minhash_probe_param_guard(corpus_df, spark):
    """A persisted index probed with the WRONG (num_perm, bands, n)
    must fail LOUDLY. Without the guard it fails silently: zip_with
    NULL-pads the shorter signature (it does not stop), est_jaccard
    goes NULL, and every est >= threshold consumer returns zero pairs.

    Three layers: (1) stamp mismatch -> raise_error on the first index
    row; (2) stamps stripped -> driver-side ValueError; (3) stamps
    forged but signature length wrong -> _sig_est length guard."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors import PySparkException

    from xs_vlm_ocr_spark.operators.text_dedup import (
        minhash_band_index,
        minhash_probe_index,
    )

    new_ids = {"d900", "d901", "d902"}
    committed = corpus_df.filter(~F.col("doc_id").isin(*new_ids))
    new = corpus_df.filter(F.col("doc_id").isin(*new_ids))

    idx8 = minhash_band_index(committed, num_perm=8, bands=4)

    # (1) stamped mismatch raises with the offending params in the message
    with pytest.raises(PySparkException, match="parameter mismatch"):
        minhash_probe_index(new, idx8, num_perm=16, bands=4).collect()

    # (2) an index without stamp columns is rejected driver-side
    with pytest.raises(ValueError, match="parameter stamp"):
        minhash_probe_index(
            new, idx8.drop("num_perm", "bands", "gram_n"),
            num_perm=8, bands=4,
        )

    # (3) below the stamps, _sig_est itself refuses a wrong-length
    # signature (defense-in-depth: a forged/stripped-stamp index that
    # still produced bucket collisions would otherwise NULL-pad the zip
    # and emit NULL estimates). Note a forged stamp alone is NOT enough
    # to reach this path through minhash_probe_index: a wrong num_perm
    # also changes every bucket hash, so the candidate equi-join comes
    # back empty — zero rows, zero evaluations, the exact silent-failure
    # shape the stamp guard closes. Hence the direct-expression test.
    from xs_vlm_ocr_spark.operators.text_dedup import _sig_est

    mism = spark.createDataFrame(
        [([1, 2, 3, 4, 5, 6, 7, 8], [1, 2, 3, 4])], "siga array<long>, sigb array<long>"
    )
    with pytest.raises(PySparkException, match="signature length mismatch"):
        mism.select(_sig_est(8).alias("est")).collect()
    ok_est = spark.createDataFrame(
        [([1, 2, 3, 9], [1, 2, 3, 4])], "siga array<long>, sigb array<long>"
    ).select(_sig_est(4).alias("est")).collect()
    assert ok_est[0]["est"] == 0.75

    # and the happy path still works after all this
    ok = minhash_probe_index(new, idx8, num_perm=8, bands=4).collect()
    assert ok


def test_minhash_index_append_equals_rebuild(corpus_df, spark):
    """Incremental maintenance is EXACT: append(index(A), B) must be
    row-for-row identical to index(A ∪ B) — the md5 hash family has no
    build-order state, so an index maintained incrementally for years
    equals a fresh rebuild bit-for-bit. Also: probing a third batch
    against the appended index equals probing against the rebuild."""
    from pyspark.sql import functions as F

    from xs_vlm_ocr_spark.operators.text_dedup import (
        minhash_band_index,
        minhash_index_append,
        minhash_probe_index,
    )

    batch_b = {"d900", "d901"}
    batch_c = {"d902"}
    a_docs = corpus_df.filter(~F.col("doc_id").isin(*(batch_b | batch_c)))
    b_docs = corpus_df.filter(F.col("doc_id").isin(*batch_b))
    c_docs = corpus_df.filter(F.col("doc_id").isin(*batch_c))

    appended = minhash_index_append(
        minhash_band_index(a_docs, num_perm=16, bands=4), b_docs,
        num_perm=16, bands=4)
    rebuilt = minhash_band_index(
        corpus_df.filter(~F.col("doc_id").isin(*batch_c)),
        num_perm=16, bands=4)
    def rows(df):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: (t[0], t[2]),  # (doc_id, band)
        )

    assert rows(appended) == rows(rebuilt)

    got_app = sorted(map(tuple,
        minhash_probe_index(c_docs, appended, num_perm=16, bands=4).collect()))
    got_reb = sorted(map(tuple,
        minhash_probe_index(c_docs, rebuilt, num_perm=16, bands=4).collect()))
    assert got_app == got_reb and got_app  # d902 clones indexed d000

    # appending onto a mismatched index fails loudly, same as probe
    import pytest
    from pyspark.errors import PySparkException
    bad = minhash_band_index(a_docs, num_perm=8, bands=4)
    with pytest.raises(PySparkException, match="parameter mismatch"):
        minhash_index_append(bad, b_docs, num_perm=16, bands=4).collect()


def test_persisted_index_bucketed_probe_plan(corpus_df, spark, tmp_path_factory):
    """THE index-store shape for 100 TB: persist minhash_band_index in a
    CheckpointedTable bucketed on `bucket` (the single LSH join key —
    the band id is folded into the bucket hash precisely so this works)
    and the probe equi-join never re-shuffles the index side: exactly
    ONE Exchange on `bucket` in the whole plan (the new batch), none
    above the index scan. Results identical to probing the live index."""
    import re

    from pyspark.sql import functions as F

    from xs_vlm_ocr_spark.operators.text_dedup import (
        minhash_band_index,
        minhash_probe_index,
    )
    from xs_vlm_ocr_spark.table_io import CheckpointedTable

    new_ids = {"d900", "d901", "d902"}
    committed = corpus_df.filter(~F.col("doc_id").isin(*new_ids))
    new = corpus_df.filter(F.col("doc_id").isin(*new_ids))

    path = str(tmp_path_factory.mktemp("mh_store") / "t")
    tbl = CheckpointedTable(path, bucket_key="bucket", n_buckets=8)
    tbl.append(minhash_band_index(committed, num_perm=16, bands=4,
                                  persist=False), "r0")
    stored = tbl.read(spark)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        pairs = minhash_probe_index(new, stored, num_perm=16, bands=4)
        got = sorted(map(tuple, pairs.collect()))
        live = minhash_probe_index(
            new, minhash_band_index(committed, num_perm=16, bands=4),
            num_perm=16, bands=4)
        assert got == sorted(map(tuple, live.collect())) and got

        plan = pairs._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "ckpt_" in plan  # reading the catalog (bucketed) table
        n_bucket_ex = len(re.findall(r"Exchange hashpartitioning\(bucket#", plan))
        assert n_bucket_ex == 1, plan  # probe side only; index side rides
        # its bucket layout (2 exchanges here = the index re-shuffled)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
