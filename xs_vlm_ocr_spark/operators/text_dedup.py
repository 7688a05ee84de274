"""Near-duplicate detection for training-data pipelines.

Four families, each with the 100 TB plan shape in mind:

  * exact          — md5 groupBy (operators.dedup.exact_dedup)
  * n-gram Jaccard — shingle explode -> self-equi-join on shingle ->
                     pair-count groupBy -> Jaccard filter. All JVM-side;
                     the join key is the shingle hash (long), so the
                     shuffle carries (hash, doc_id) pairs only.
  * MinHash + LSH  — per-doc signature as num_perm codegen'd min()
                     aggregates over md5-derived gram hashes, banded
                     into buckets; candidate pairs only within a bucket
                     (the scale path: no all-pairs join ever
                     materializes).
  * SimHash        — 60-bit fingerprint via per-bit majority vote over
                     md5-derived token hashes; near-dups = equal bands
                     + exact Hamming verify.

Every operator here runs entirely in Catalyst — no Python UDF. The
MinHash and SimHash hash families are md5-derived so DuckDB reproduces
every value (the driver contract value-checks both); the n-gram join
key is Spark's built-in xxhash64. No Python hash() anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ------------------------------------------------------------ shingling

def _gram_array(text_col: str, n: int):
    """(staged_toks_alias, gram_array_expr_over_it): the shared word
    n-gram construction. The token split MUST be staged under an alias
    in its own projection before the transform consumes it: higher-order
    functions are interpreted (no codegen, no common-subexpression
    elimination), so an inlined ``slice(split(text), i+1, n)`` lambda
    re-tokenizes the WHOLE text once per gram — O(tokens²) per doc
    (measured in the r8 before-plans: the split subtree appeared inside
    the per-gram lambda). With the alias, CollapseProject keeps the
    boundary (non-cheap expression, consumed more than once) and the
    split runs once per row."""
    from xs_vlm_ocr_spark.operators.text_analysis import WS_RE

    toks = F.split(F.lower(F.trim(F.col(text_col))), WS_RE)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_toks") - n, F.lit(0))),
        lambda i: F.array_join(F.slice("_toks", i + 1, n), " "),
    )
    return toks, grams


def with_distinct_gram_arrays(df: DataFrame, text_col: str = "text",
                              n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, _g: array<string>) — each doc's DISTINCT non-empty word
    n-grams as a per-row array (no explode, no shuffle): the zero-shuffle
    base for per-doc gram computations (the PPJoin shingle arrays). Gram
    semantics identical to ``with_word_gram_strings`` (same tokenizer,
    same truncated partial gram for sub-n-token docs, same ``g != ''``
    drop).

    CONSUMER CAVEAT: do NOT ``explode("_g")`` this column directly in an
    unguarded plan — InferFiltersFromGenerate infers ``size(_g) > 0``
    when the explode child is a plain attribute, and predicate pushdown
    re-inlines the whole gram pipeline into a pre-Filter that evaluates
    it a SECOND time per row (measured 15x on sf1.0). Explode the gram
    EXPRESSION instead (``with_word_gram_strings`` — the rule skips
    non-cheap generator children), or put a persist()/cache barrier
    between this frame and the explode (the PPJoin path does)."""
    from xs_vlm_ocr_spark.operators.skew import fan_out_small_input

    df = fan_out_small_input(df)
    toks, grams = _gram_array(text_col, n)
    return (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .select(
            "doc_id",
            F.filter(F.array_distinct(grams), lambda g: g != "").alias("_g"),
        )
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", n: int = 3,
                        threshold: float = 0.8, id_col: str = "doc_id",
                        min_prefix_matches: int = 4) -> DataFrame:
    """All doc pairs with shingle-set Jaccard >= threshold — EXACT, via
    l-extended prefix filtering (the AllPairs / PPJoin family: Bayardo
    et al. WWW'07, Xiao et al. WWW'08; the l-prefix count extension is
    the adaptive-prefix scheme of Wang et al. SIGMOD'12, surveyed in
    Mann et al. VLDB'16 — public algorithms).

    Why not a naive shingle self-join: a shingle appearing in d docs
    contributes d^2 join rows, so stopword-like grams make the join
    quadratic at corpus scale. Prefix filtering makes candidate
    generation subquadratic without losing a single pair:

      1. order each doc's shingles rarest-first (global doc-frequency,
         ties by shingle hash — deterministic total order);
      2. l-prefix lemma: rank the shared shingles of a qualifying pair
         in that global order; the i-th smallest shared shingle has at
         least overlap-i shared shingles after it, so it sits within the
         first |x| - overlap + i positions of BOTH docs. With overlap
         >= alpha(A,B) = ceil(t/(1+t)*(|A|+|B|)) >= ceil(t*|x|), the
         first l = min(min_prefix_matches, alpha) shared shingles ALL
         lie inside each doc's first |x| - ceil(t*|x|) + l shingles — a
         qualifying pair therefore shares >= l shingles there, and a
         per-pair COUNT >= l filter is exact (l=1 is the classic prefix
         filter);
      3. join ONLY those prefix rows; per joined row additionally
         require rk_x <= |x| - alpha + l with the PAIR's alpha (the
         positional filter generalized to rank l — for i <= l the i-th
         smallest shared shingle satisfies it on both sides);
      4. size filter: Jaccard >= t forces t*|A| <= |B| <= |A|/t;
      5. count shared prefix shingles per (a, b) and keep pairs with
         count >= l — this is the step that makes dense-vocabulary
         corpora tractable: prefix filtering alone is weak when no
         shingle is rare (measured at sf1.0 — short docs, ~28k distinct
         grams, avg df 94: 18.6M candidate pairs pass the l=1 filters
         for 2.5k true pairs, and EVERY verify topology on 18.6M pairs
         costs 10s+; at l=4 the count filter leaves ~10^4 candidates);
      6. verify survivors EXACTLY with array_intersect on the per-doc
         shingle arrays (the FULL arrays: a df=1 shingle lives in one
         doc only, so it can never appear in an intersection and
         pruning it is unnecessary; |x| is the full set size).

    All JVM-side; every shuffle is a linear equi-join or groupBy.
    ``min_prefix_matches`` trades prefix length (+l-1 rows per doc) for
    candidate-count shrinkage (roughly geometric in l on random
    overlap); results are IDENTICAL for any value >= 1 (pinned by
    tests/test_text_dedup.py), l=1 reproducing the classic plan.
    """
    ell = max(int(min_prefix_matches), 1)
    # per-doc distinct gram-hash arrays (zero shuffle) persisted once:
    # the explode feeds the frequency agg + rank window, and the arrays
    # feed the exact verify joins directly
    garr = (
        with_distinct_gram_arrays(df, text_col, n, id_col)
        .select("doc_id", F.transform("_g", lambda g: F.xxhash64(g)).alias("_g"))
        .persist()
    )
    sh = garr.select("doc_id", F.explode("_g").alias("shingle"))
    # doc frequency via groupBy+join (NOT a window over shingle: groupBy
    # does map-side partial aggregation, so a stopword shingle with 10^6
    # docs never lands in a single window partition). The join back is
    # left to AQE: a small distinct-gram side converts to broadcast at
    # runtime, a corpus-scale one stays a shuffled equi-join.
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    # one doc_id shuffle builds rank-in-sorted-order, set size, and the
    # prefix rows DIRECTLY via a codegen'd window (row_number over
    # (_df, shingle) == rarest-first deterministic total order; the
    # full-frame count rides the SAME window sort). This replaces the
    # r7 array round-trip — ObjectHashAggregate collect_list ->
    # interpreted array_sort -> a 5-HOF _pref battery -> re-explode —
    # with row-level codegen'd machinery (~0.8x median full-query in
    # alternating fresh-process A/B, r8 §1b); the per-doc partition
    # sizes are identical to the groupBy it replaces, so the 100 TB
    # distribution argument is unchanged.
    t = F.lit(threshold)
    wdoc = Window.partitionBy("doc_id").orderBy("_df", "shingle")
    n_sh_c = F.count(F.lit(1)).over(
        wdoc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ).cast("int")
    pref = (
        sh.join(dfreq, "shingle")
        .select(
            "doc_id", "shingle", "_df",
            F.row_number().over(wdoc).alias("rk"),
            n_sh_c.alias("n_sh"),
        )
        # prefix rows: rank (in the FULL sorted set — computed before
        # any row is dropped) within the l-extended prefix length, and
        # df >= 2 (a df=1 shingle joins only with itself, so dropping it
        # cannot lose a candidate pair)
        .filter(
            (F.col("rk") <= (F.col("n_sh") - F.ceil(t * F.col("n_sh")) + ell).cast("int"))
            & (F.col("_df") >= 2)
        )
        .select("doc_id", "n_sh", "shingle", "rk")
        .persist()  # consumed by BOTH sides of the candidate self-join
    )
    a = pref.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na"),
                    F.col("rk").alias("rka"), "shingle")
    b = pref.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb"),
                    F.col("rk").alias("rkb"), "shingle")
    # pair-exact alpha; the 1e-9 slack keeps ceil strictly conservative
    # when the float quotient lands a hair ABOVE the exact rational
    # (e.g. t=1/34, na+nb=105: float ceil gives 4 vs exact 3) — the
    # count/verify are exact, so shaving 1e-9 can only re-admit boundary
    # candidates, never lose one
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("na") + F.col("nb")) - F.lit(1e-9)
    )
    # l capped by alpha (tiny docs can owe fewer than l shared shingles)
    lcap = F.least(F.lit(ell).cast("long"), alpha)
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("a") < F.col("b"))
            # size filter: Jaccard >= t forces t*|A| <= |B| <= |A|/t
            & (F.col("na") >= t * F.col("nb"))
            & (F.col("nb") >= t * F.col("na"))
            # rank-l positional filter (subsumes the classic
            # 1 + min(na-rka, nb-rkb) >= alpha bound at l=1)
            & (F.col("rka") <= F.col("na") - alpha + lcap)
            & (F.col("rkb") <= F.col("nb") - alpha + lcap)
        )
        # the l-prefix count filter: a qualifying pair has >= l shared
        # shingles passing ALL the row filters above (map-side partial
        # count, narrow (a, b) rows — no arrays anywhere near this agg)
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= lcap)
        .select("a", "b", "na", "nb")
    )
    # verify against the already-persisted per-doc gram arrays (garr —
    # no pruned copy needed: a df=1 shingle lives in exactly one doc and
    # can never appear in an intersection, so intersecting the FULL
    # arrays yields the same `inter`; only ~|survivors| rows reach here)
    return (
        cand.join(garr.select(F.col("doc_id").alias("a"), F.col("_g").alias("_sa")), "a")
        .join(garr.select(F.col("doc_id").alias("b"), F.col("_g").alias("_sb")), "b")
        .withColumn("inter", F.size(F.array_intersect("_sa", "_sb")).cast("long"))
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "inter", "na", "nb")
    )


def with_word_gram_strings(df: DataFrame, text_col: str = "text", n: int = 3,
                           id_col: str = "doc_id") -> DataFrame:
    """Explode docs into their distinct word n-gram STRINGS (doc_id, g)
    — tokens are lowercase pinned-class whitespace words; hashing is
    left to the consumer (md5 where it must be oracle-portable).

    Docs with fewer than n tokens yield ONE truncated partial gram —
    intentional for dedup/contamination: two identical short docs (or a
    short doc verbatim inside the test set) still share a key. The
    repetition QUALITY signal (text_analysis.repetition_signals)
    deliberately differs: there a partial gram would mark every short
    doc maximally repetitious, so short docs yield no gram.

    The token split is STAGED in its own projection (one split per row)
    but the explode's child stays the gram EXPRESSION — exploding a
    pre-aliased gram attribute makes InferFiltersFromGenerate +
    predicate pushdown duplicate the whole gram pipeline into an
    interpreted pre-Filter (see with_distinct_gram_arrays)."""
    from xs_vlm_ocr_spark.operators.skew import fan_out_small_input

    df = fan_out_small_input(df)
    toks, grams = _gram_array(text_col, n)
    return (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("g"))
        .filter(F.col("g") != "")
    )


def minhash_band_index(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_perm: int = 16,
                       bands: int = 4, n: int = 3,
                       persist: bool = True) -> DataFrame:
    """The PERSISTABLE near-dup index: (doc_id, sig, band, bucket,
    num_perm, bands, gram_n) rows, md5-hash family, ALL JVM-side:

      h_i(g)   = CAST(first 15 hex chars of md5('<i>|' || g) AS BIGINT)
      sig[i]   = min over the doc's distinct word n-grams of h_i(g)
      bucket   = md5('<band>|' || comma-joined band slice of sig)

    The band id is folded INTO the bucket hash so ``bucket`` alone is a
    complete LSH join key (two docs share a bucket iff they share the
    SAME band's slice): candidate joins are single-key equi-joins, and a
    stored index bucketed (CheckpointedTable/Iceberg bucket transform)
    on that one column probes with ZERO shuffle of the index side —
    Spark's v1 bucketed-scan join elides the exchange only when the
    join keys equal the bucket column exactly
    (tests/test_text_dedup.py::test_persisted_index_bucketed_probe_plan).

    At 100 TB this is the growing corpus-side artifact: committed once
    per ingested increment (bands per doc, partitionable by bucket), so
    deduping a NEW batch against the whole corpus never re-reads or
    re-hashes committed text — see ``minhash_probe_index``. The md5
    family (not xxhash/blake2b) is deliberate for a PERSISTED index: any
    engine (Spark, DuckDB, Trino) can rebuild or probe it bit-exactly.

    The build parameters are STAMPED into every row (constant columns
    dictionary-compress to ~nothing in parquet) so a probe months later
    can verify them — ``minhash_probe_index`` refuses an index whose
    stamps disagree with its own parameters instead of silently
    estimating garbage.

    ``persist=True`` caches the INNER signature aggregate, not the
    returned band rows (worth it when the returned index feeds BOTH
    sides of a join, as in ``minhash_lsh_pairs``): the cache entry is
    unreachable from the result, so ``result.unpersist()`` releases
    nothing and it lives until the session ends. Long-running callers
    pass ``persist=False`` — and, when they reuse the band rows,
    persist and unpersist the returned frame themselves
    (``job.ExtractionJob.sync_near_dup_index``) — so ingestion sessions
    don't accumulate corpus-scale signature caches.
    """
    # sig[i] = min over the doc's distinct grams of h_i(g), computed as
    # num_perm parallel min() aggregates over ONE gram explode: each
    # (doc, gram) row projects all num_perm hashes as codegen'd columns
    # and a single groupBy(doc_id) takes the mins — one shuffle of
    # 50k-doc partial rows. The r7 shape instead exploded every gram
    # num_perm times (42M rows at sf1.0) through a groupBy(doc, i)
    # partial_min plus a collect_list regroup (two corpus aggregations);
    # an array_min-over-lambda variant was measured 8x SLOWER than
    # either (higher-order functions are interpreted — 42M md5s fell
    # out of whole-stage codegen). Hash family unchanged (same md5
    # preimages — the DuckDB oracle and append==rebuild bit-equality
    # both pin it).
    def h_i(i: int):
        return F.conv(
            F.substring(F.md5(F.concat_ws("|", F.lit(str(i)), F.col("g"))), 1, 15),
            16, 10,
        ).cast("long")

    grams = with_word_gram_strings(df, text_col, n, id_col)
    sig = (
        grams.groupBy("doc_id")
        .agg(*[F.min(h_i(i)).alias(f"_m{i}") for i in range(num_perm)])
        .select(
            "doc_id",
            F.array(*[F.col(f"_m{i}") for i in range(num_perm)]).alias("sig"),
        )
    )
    if persist:
        # avoids recomputing the md5 battery once per join side when
        # the caller consumes the index more than once
        sig = sig.persist()
    rows = num_perm // bands
    return sig.select(
        "doc_id", "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit(str(b)),
                            F.array_join(
                                F.transform(
                                    F.slice("sig", b * rows + 1, rows),
                                    lambda m: m.cast("string"),
                                ),
                                ",",
                            ),
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(
        "doc_id", "sig", "bb.band", "bb.bucket",
        F.lit(num_perm).alias("num_perm"),
        F.lit(bands).alias("bands"),
        F.lit(n).alias("gram_n"),
    )


def _sig_est(num_perm: int):
    """Fraction of equal signature positions (k/num_perm — exact in
    binary, bit-stable across engines) between siga and sigb columns.

    RAISES (per row, JVM-side) if either signature's length differs from
    ``num_perm``: ``zip_with`` NULL-pads the shorter array — it does NOT
    stop — so acc+NULL would make est_jaccard NULL and every
    ``est >= threshold`` consumer would silently return ZERO pairs for a
    mismatched index. Defense-in-depth below the parameter-stamp check
    in ``minhash_probe_index`` (catches stamp-stripped indexes too)."""
    size_ok = (F.size("siga") == num_perm) & (F.size("sigb") == num_perm)
    est = F.aggregate(
        F.zip_with("siga", "sigb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(num_perm))
    return F.when(size_ok, est).otherwise(
        F.raise_error(
            F.concat_ws(
                "",
                F.lit("minhash signature length mismatch: expected "
                      f"num_perm={num_perm}, got len(siga)="),
                F.size("siga").cast("string"),
                F.lit(", len(sigb)="),
                F.size("sigb").cast("string"),
                F.lit(" — index built with different parameters?"),
            )
        )
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_perm: int = 16,
                      bands: int = 4, n: int = 3) -> DataFrame:
    """Banded MinHash LSH near-dup pairs — ALL JVM-side, no Python.

    signature -> bands -> bucket equi-join -> per-pair Jaccard estimate,
    with every hash md5-derived so DuckDB reproduces the exact values
    (see ``minhash_band_index`` for the hash construction):

      pairs    = docs sharing any (band, bucket), a < b
      est      = fraction of equal signature positions

    Candidates come only from the single-key bucket join — never
    all-pairs.
    This is the operator the driver contract value-checks end-to-end.
    """
    banded = minhash_band_index(df, text_col, id_col, num_perm, bands, n)
    return _lsh_pairs_from_banded(banded, num_perm)


def _lsh_pairs_from_banded(banded: DataFrame, num_perm: int) -> DataFrame:
    """The LSH candidate self-join shared by minhash_lsh_pairs
    (fresh signatures) and minhash_pairs_from_index (precomputed or
    committed band rows): docs sharing any bucket, a < b, one estimate
    per pair."""
    a = banded.select(F.col("doc_id").alias("a"), F.col("sig").alias("siga"),
                      "bucket")
    b = banded.select(F.col("doc_id").alias("b"), F.col("sig").alias("sigb"),
                      "bucket")
    return (
        a.join(b, ["bucket"])  # bucket encodes the band: single-key LSH join
        .filter(F.col("a") < F.col("b"))
        .withColumn("est_jaccard", _sig_est(num_perm))
        .groupBy("a", "b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


def minhash_pairs_from_index(banded: DataFrame, num_perm: int = 16,
                             bands: int = 4, n: int = 3) -> DataFrame:
    """Within-set near-dup pairs from an EXISTING ``minhash_band_index``
    output (precomputed this plan or read back from storage) — the
    signature aggregation is not recomputed. Parameter stamps are
    validated exactly like the probe path. The ingestion loop uses this
    for within-increment pairs off the same band rows it is about to
    append (job.ExtractionJob), so each increment's signatures are
    computed ONCE for probe + self-pairs + index append."""
    return _lsh_pairs_from_banded(_validated_index(banded, num_perm, bands, n),
                                  num_perm)


def _validated_index(index: DataFrame, num_perm: int, bands: int,
                     n: int) -> DataFrame:
    """The persisted-index parameter guard shared by probe and append:
    rejects stamp-less frames driver-side and raises (non-prunable
    filter, three codegen'd int comparisons per row) on the first row
    whose stamps disagree with the caller's parameters."""
    missing = [c for c in ("num_perm", "bands", "gram_n")
               if c not in index.columns]
    if missing:
        raise ValueError(
            f"index is missing parameter stamp column(s) {missing}: not a "
            "minhash_band_index output (or built before stamps existed) — "
            "rebuild the index; probing with unverifiable parameters "
            "produces silently wrong estimates"
        )
    stamp_ok = (
        (F.col("num_perm") == num_perm)
        & (F.col("bands") == bands)
        & (F.col("gram_n") == n)
    )
    return index.filter(
        F.when(stamp_ok, F.lit(True)).otherwise(
            F.raise_error(
                F.concat_ws(
                    "",
                    F.lit("minhash index parameter mismatch: probe expects "
                          f"(num_perm={num_perm}, bands={bands}, "
                          f"gram_n={n}), index row is stamped ("),
                    F.col("num_perm").cast("string"), F.lit(", "),
                    F.col("bands").cast("string"), F.lit(", "),
                    F.col("gram_n").cast("string"),
                    F.lit(") — rebuild or probe with the index's params"),
                )
            )
        )
    )


def minhash_index_append(index: DataFrame, new_docs: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         num_perm: int = 16, bands: int = 4,
                         n: int = 3) -> DataFrame:
    """Index MAINTENANCE for incremental ingestion: the committed index
    plus band rows computed for ONLY the new batch.

    With ``minhash_probe_index`` this completes the 100 TB loop —
    probe the increment against the committed index, then append the
    increment's rows so the NEXT batch sees it; committed text is never
    re-read or re-hashed at any step. The md5 hash family makes this
    associative by construction: append(index(A), B) is row-for-row
    identical to index(A ∪ B) (pinned by
    tests/test_text_dedup.py::test_minhash_index_append_equals_rebuild),
    so an index maintained incrementally for years equals a fresh
    rebuild bit-for-bit. Stamps are validated on the committed side
    (same guard as the probe) and inherited by the appended rows.

    Persist via a CheckpointedTable/Iceberg append of just the NEW rows
    (``minhash_band_index(new_docs)`` output) when the committed side
    lives in storage — this function is the logical union for callers
    composing in one plan."""
    guarded = _validated_index(index, num_perm, bands, n)
    fresh = minhash_band_index(new_docs, text_col, id_col, num_perm, bands,
                               n, persist=False)
    return guarded.unionByName(fresh)


def minhash_probe_index(new_docs: DataFrame | None, index: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        num_perm: int = 16, bands: int = 4,
                        n: int = 3,
                        probe_rows: DataFrame | None = None) -> DataFrame:
    """Incremental near-dup: (a = indexed doc, b = new doc, est_jaccard)
    pairs between a NEW batch and a COMMITTED ``minhash_band_index``.

    The 100 TB ingestion primitive: signatures are computed ONLY for the
    new batch; candidates come from a single-key bucket equi-join
    against the stored index (the bucket hash encodes the band) — the
    committed corpus text is never re-read, never re-hashed, and no
    all-pairs comparison exists anywhere. Store the index in a
    CheckpointedTable/Iceberg table bucketed on ``bucket`` and the join
    also never re-SHUFFLES the index side (plan-pinned). Docs present
    on both sides (same id) are not self-paired.

    ``index`` must have been built with the SAME (num_perm, bands, n).
    That is VALIDATED at runtime against the parameter stamps
    ``minhash_band_index`` writes into every row: a stamp mismatch
    raises on the first index row touched (non-prunable filter guard —
    three constant int comparisons per row, codegen'd), and a missing
    stamp column raises here driver-side. Without the guard a mismatch
    fails SILENTLY: different num_perm NULL-pads the zip in the est
    expression (est_jaccard NULL -> zero pairs survive any threshold);
    different bands/gram_n just buckets differently (bogus candidates,
    wrong misses). ``_sig_est`` re-checks signature length below the
    stamps as defense-in-depth.

    ``probe_rows``: an already-computed ``minhash_band_index`` output
    for the new batch (stamp-validated like the committed side) —
    callers that also self-pair and append the increment reuse ONE
    signature computation for all three consumers (the job's ingestion
    loop); ``new_docs`` is ignored when given.
    """
    guarded = _validated_index(index, num_perm, bands, n)
    if probe_rows is not None:
        probe = _validated_index(probe_rows, num_perm, bands, n)
    else:
        probe = minhash_band_index(new_docs, text_col, id_col, num_perm,
                                   bands, n, persist=False)
    a = guarded.select(F.col("doc_id").alias("a"), F.col("sig").alias("siga"),
                       "bucket")
    b = probe.select(F.col("doc_id").alias("b"), F.col("sig").alias("sigb"),
                     "bucket")
    return (
        a.join(b, ["bucket"])  # single-key: a stored index bucketed on
        # this column joins with zero shuffle of the index side
        .filter(F.col("a") != F.col("b"))
        .withColumn("est_jaccard", _sig_est(num_perm))
        .groupBy("a", "b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       bands: int = 4, n_bits: int = 60) -> DataFrame:
    """SimHash near-pair detection — ALL JVM-side, no Python.

    Per-token hash -> per-bit majority vote -> pigeonhole banding ->
    exact Hamming verify, with md5-derived 60-bit token hashes so DuckDB
    reproduces every value:

      h(tok)  = CAST(first 15 hex chars of md5(tok) AS BIGINT)  (60 bits)
      bit j   = (h >> j) & 1 over the doc's DISTINCT tokens
      v_j     = majority vote (2*sum > n_tokens)
      chunks  = `bands` equal bit-slices of the fingerprint; by
                pigeonhole any pair with Hamming <= bands-1 shares an
                exact chunk
      verify  = bit_count(fp_a XOR fp_b) <= max_hamming

    Requires max_hamming <= bands - 1 for completeness."""
    assert n_bits % bands == 0 and max_hamming <= bands - 1
    width = n_bits // bands
    toks = with_word_gram_strings(df, text_col, n=1, id_col=id_col)
    th = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    votes = (
        th.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("j"),
            F.expr("shiftright(h, j) & 1").alias("bit"),
        )
        .groupBy("doc_id", "j")
        .agg(
            (F.lit(2) * F.sum("bit") > F.count(F.lit(1))).cast("long").alias("v")
        )
    )
    fps = votes.groupBy("doc_id").agg(
        F.sum(F.expr("shiftleft(v, j)")).alias("simhash"),
        *[
            F.sum(
                F.when(
                    (F.col("j") >= b * width) & (F.col("j") < (b + 1) * width),
                    F.expr(f"shiftleft(v, j - {b * width})"),
                ).otherwise(F.lit(0))
            ).alias(f"_c{b}")
            for b in range(bands)
        ],
    )
    chunks = fps.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"_c{b}").alias("chunk"))
                for b in range(bands)
            ])
        ).alias("bc"),
    ).select("doc_id", "simhash", "bc.band", "bc.chunk")
    a = chunks.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"),
                      "band", "chunk")
    b = chunks.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"),
                      "band", "chunk")
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------- embedding near-dup

def _grid_feat_and_candidates(df: DataFrame, vec_col: str, id_col: str,
                              threshold: float, n_axes: int,
                              dim: int | None, seed: int
                              ) -> tuple[DataFrame, DataFrame]:
    """Shared eps-grid stage of embedding_near_dup_pairs: returns
    (feat, cand) where feat carries (doc, _v, _n) for the exact verify
    and cand is the DISTINCT complete candidate set (a, b). Exposed
    separately so tests can assert the pruning ratio (candidates vs
    all-pairs) without running the verify."""
    import math

    from xs_vlm_ocr_spark.operators.similarity import _dot, _norm

    if dim is None:
        first = df.select(vec_col).first()
        dim = len(first[0]) if first and first[0] is not None else 1
    eps = math.sqrt(max(2.0 - 2.0 * threshold, 1e-9))
    rng = np.random.RandomState(seed)
    axes = rng.standard_normal((n_axes, dim))
    axes /= np.linalg.norm(axes, axis=1, keepdims=True)

    feat = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
        *[
            F.floor(
                _dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in axes[j]]))
                / F.col("_n") / F.lit(eps)
            ).alias(f"_c{j}")
            for j in range(n_axes)
        ],
    ).persist()  # persist: scanned once for keys + twice for the verify joins

    # 2^n_axes composite keys per vector: every {0,1} offset combination
    offsets = [
        [(m >> j) & 1 for j in range(n_axes)] for m in range(1 << n_axes)
    ]
    keys = feat.select(
        "doc",
        F.explode(
            F.array(*[
                F.xxhash64(*[F.col(f"_c{j}") + F.lit(o[j]) for j in range(n_axes)])
                for o in offsets
            ])
        ).alias("_k"),
    )
    cand = (
        keys.select(F.col("doc").alias("a"), "_k")
        .join(keys.select(F.col("doc").alias("b"), "_k"), "_k")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return feat, cand


def embedding_near_dup_pairs(df: DataFrame, vec_col: str = "embedding",
                             id_col: str = "vec_id", threshold: float = 0.95,
                             n_axes: int = 3, dim: int | None = None,
                             seed: int = 7) -> DataFrame:
    """Cosine near-dup pairs via a COMPLETE eps-grid candidate join +
    exact verify — no cartesian product anywhere in the plan.

    For unit-normalized vectors, cos(x, y) >= t  <=>  ||x̂ - ŷ|| <= eps
    with eps = sqrt(2 - 2t). Project onto `n_axes` fixed random unit
    axes: |<x̂ - ŷ, r>| <= ||x̂ - ŷ|| <= eps, so a qualifying pair's
    floor(proj/eps) grid cells differ by at most 1 per axis. Emitting
    cells {c, c+1} per axis (2^n_axes keys/vector) guarantees every
    qualifying pair shares >= 1 composite key — candidate completeness
    is a triangle-inequality fact, not a probabilistic LSH recall. Extra
    candidates (hash collisions, far pairs in one cell) are removed by
    the exact cosine verify, which reuses the same double-precision
    expression as the all-pairs baseline.

    Honest pruning characteristics (measured on the sf0.01 embeddings):
    a 1-D projection of isotropic dim-D unit vectors has spread ~1/sqrt(D)
    (~0.125 at D=64), while completeness forces the cell width to eps =
    sqrt(2-2t) (0.32 even at t=0.95) — so on isotropic data the grid
    degrades to a hash-partitioned all-pairs equi-join (exact
    sub-quadratic threshold joins on such data are impossible; this is
    the hard case of similarity search). The grid genuinely prunes when
    eps < projection spread: low-dimensional, anisotropic, or
    PCA/whitened embeddings, or very tight thresholds. For isotropic
    high-dim corpora at 100 TB the scale path is the approximate family
    (minhash_lsh_pairs / simhash_near_pairs / similarity.lsh_cosine_topk)
    + exact verify; THIS operator is the exact primitive and the
    verification stage. Plan shape either way: narrow (id, key)
    self-equi-join -> distinct (a, b) -> two hash joins back to the
    vectors — no CartesianProduct node, all shuffles hash-partitioned.
    """
    from xs_vlm_ocr_spark.operators.similarity import _dot

    feat, cand = _grid_feat_and_candidates(
        df, vec_col, id_col, threshold, n_axes, dim, seed
    )
    return (
        cand.join(feat.select(F.col("doc").alias("a"), F.col("_v").alias("_va"),
                              F.col("_n").alias("_na")), "a")
        .join(feat.select(F.col("doc").alias("b"), F.col("_v").alias("_vb"),
                          F.col("_n").alias("_nb")), "b")
        .withColumn("cosine", _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b")
    )


def ngram_contamination(train: DataFrame, test: DataFrame, n: int = 3,
                        min_hits: int = 1, text_col: str = "text",
                        id_col: str = "doc_id",
                        broadcast_test: bool = True) -> DataFrame:
    """Train/test decontamination: train docs sharing >= min_hits
    DISTINCT word n-grams with ANY test document (the GPT-3 appendix-C
    discipline — Brown et al. 2020 flag training docs by 13-gram overlap
    with benchmark sets; n is a parameter here).

    Output: (doc_id, n_contaminated) for flagged train docs, where
    n_contaminated counts the distinct contaminated grams.

    100 TB shape: benchmark/test corpora are tiny (10^4-10^6 grams)
    against a 10^12-gram train side, so the test gram set is globally
    deduplicated then BROADCAST — the train side streams map-side with
    zero shuffle of train grams. Set broadcast_test=False when the
    "test" side is itself corpus-scale; the join then hash-partitions
    on the gram string and AQE handles hot grams.
    """
    tr = with_word_gram_strings(train, text_col=text_col, n=n, id_col=id_col)
    te = (
        with_word_gram_strings(test, text_col=text_col, n=n, id_col=id_col)
        .select("g").distinct()
    )
    if broadcast_test:
        te = F.broadcast(te)
    return (
        tr.join(te, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
        .filter(F.col("n_contaminated") >= min_hits)
    )


def contamination_spans(train: DataFrame, test: DataFrame, n: int = 13,
                        text_col: str = "text", id_col: str = "doc_id",
                        broadcast_test: bool = True,
                        test_grams: DataFrame | None = None) -> DataFrame:
    """WHERE the contamination is: merged token spans of every train-doc
    region sharing a word n-gram with the held-out set — the
    span-surgery variant of :func:`ngram_contamination` (GPT-3's
    appendix-C discipline removes the contaminated WINDOW plus margin,
    not the whole document; Brown et al. 2020).

    Output: (doc_id, start_tok, end_tok) — 0-based token index, end
    exclusive; a hit at position p taints [p, p+n), overlapping or
    adjacent taints merge. Sub-n-token docs carry one partial gram (the
    dedup-shingler convention), so a hit there spans [0, n) — clip to
    the doc's token count consumer-side if needed.

    100 TB shape: distinct test grams broadcast (train grams never
    shuffle); hit positions — a tiny fraction of the corpus — take ONE
    groupBy(doc) shuffle; the interval merge is a per-doc fold over the
    sorted hit array, never a window over the corpus.

    ``test_grams``: a precomputed single-column ``g`` frame of the
    held-out set's DISTINCT n-grams (``test`` is then ignored) — a
    caller scanning several train increments against one held-out set
    derives (and persists) the gram frame once instead of re-reading
    and re-distincting the held-out corpus per increment
    (job.sync_contamination's crashed-suffix heal loop).
    """
    from xs_vlm_ocr_spark.operators.skew import fan_out_small_input
    from xs_vlm_ocr_spark.operators.text_analysis import WS_RE

    # token split staged under an alias: an inlined split re-tokenizes
    # the whole text once per gram inside the interpreted transform
    # lambda (see _gram_array)
    toks = F.split(F.lower(F.trim(F.col(text_col))), WS_RE)
    gp = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_toks") - n, F.lit(0))),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.array_join(F.slice("_toks", i + 1, n), " ").alias("g"),
        ),
    )
    tr = (
        fan_out_small_input(train)
        .select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .select("doc_id", F.explode(gp).alias("x"))
        .select("doc_id", F.col("x.pos").alias("pos"), F.col("x.g").alias("g"))
        .filter(F.col("g") != "")
    )
    te = test_grams if test_grams is not None else (
        with_word_gram_strings(test, text_col=text_col, n=n, id_col=id_col)
        .select("g").distinct()
    )
    if broadcast_test:
        te = F.broadcast(te)
    hits = tr.join(te, "g").groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("_ps")
    )
    span_t = "array<struct<start_tok:bigint,end_tok:bigint>>"
    acc0 = F.struct(
        F.expr("array()").cast(span_t).alias("done"),
        F.lit(-1).cast("long").alias("cs"),
        F.lit(-1).cast("long").alias("ce"),
    )

    def _step(acc, p):
        new_span = p > acc["ce"]  # ce exclusive: merge overlap/adjacency
        return F.struct(
            F.when(
                new_span & (acc["cs"] >= 0),
                F.concat(acc["done"], F.array(F.struct(
                    acc["cs"].alias("start_tok"), acc["ce"].alias("end_tok")
                ))),
            ).otherwise(acc["done"]).alias("done"),
            F.when(new_span, p).otherwise(acc["cs"]).alias("cs"),
            F.greatest(acc["ce"], p + n).alias("ce"),
        )

    def _finish(acc):
        return F.when(
            acc["cs"] >= 0,
            F.concat(acc["done"], F.array(F.struct(
                acc["cs"].alias("start_tok"), acc["ce"].alias("end_tok")
            ))),
        ).otherwise(acc["done"])

    return (
        hits.select(
            "doc_id",
            F.explode(F.aggregate(F.col("_ps"), acc0, _step, _finish)).alias("s"),
        )
        .select("doc_id", F.col("s.start_tok").alias("start_tok"),
                F.col("s.end_tok").alias("end_tok"))
    )
