"""Deduplication operators for large-scale training-data pipelines
(SURVEY.md §2.11 — BASELINE.json mandate; no reference analogue).

Four strategies over the ``documents`` table, each expressed as pure
DataFrame ops (no driver collects, no per-row Python UDFs):

- **Exact** — group-by-content keep-first: one shuffle keyed by the content
  hash. At 100 TB you group by ``xxhash64(text)`` (8-byte keys), not the
  text itself, to keep shuffle volume ~|rows|×8B; here we group by text so
  the DuckDB oracle is trivially expressible.
- **N-gram Jaccard** — exact near-dup mining: distinct word-3-gram shingles
  per doc → self-join on shingle → |A∩B| per pair → Jaccard. The join is
  shuffle-on-shingle (inverted-index shape); frequent shingles are capped
  (DF filter) to bound the worst key — the classic skew guard for this op.
- **MinHash-LSH** — the scale path: k=16 min-hashes from seeded xxhash64,
  grouped into 4 bands × 4 rows; docs sharing any band signature become
  candidates; candidates are verified with exact Jaccard. No all-pairs
  stage exists: cost is ~|docs|×k hashing + |bucket|² only within
  collided buckets.
- **SimHash** — 64-bit fingerprints from per-token hash bit votes;
  near-dups = pairs within Hamming distance ≤ 12, blocked on 16-bit bands
  (a pair at distance ≤ 12 must agree on ≥1 of 4 bands by pigeonhole).

Spark hash fns (xxhash64) have no DuckDB twin, so hash-derived PAIR SETS
can't be recomputed oracle-side. MinHash-LSH is [Q] anyway (its verified
output provably equals the exact Jaccard pair set on this corpus — gated in
tests/test_dedup_lsh.py); SimHash is [Q] via an invariant projection
(identical-doc recall count + median-Jaccard precision invariant); exact + ngram
Jaccard are [Q] with direct oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache_hive_1_2_2_src_spark.registry import register
from apache_hive_1_2_2_src_spark.tables import load_table

_SQL_WORDS = "list_filter(string_split(text, ' '), x -> x <> '')"


def _words(col: str = "text") -> Column:
    return F.filter(F.split(F.col(col), " "), lambda x: x != "")


def _shingles(w: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array (codegen-side)."""
    # sequence(a, b) with a > b counts DOWN in Spark — guard short docs.
    idx = F.when(F.size(w) >= n, F.sequence(F.lit(0), F.size(w) - n)).otherwise(
        F.array().cast("array<int>")
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(w, i + F.lit(k + 1)) for k in range(n)]
    )
    return F.array_distinct(F.transform(idx, gram))


def minhash_band_sigs(
    sh: DataFrame, key: str, k: int = 16, bands: int = 4
) -> DataFrame:
    """(key, sh) shingle rows -> (key, band, sig) band-signature rows: k
    min-hashes per key (min over xxhash64(shingle, seed_i)), each band's
    k/bands hashes joined into one ``sig`` string. The one MinHash-LSH
    signature for the batch pairs and both streaming LSH drains."""
    rows = k // bands
    minh = sh.groupBy(key).agg(
        *[F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}") for i in range(k)]
    )
    band_sigs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ":", *[F.col(f"h{b * rows + r}") for r in range(rows)]
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return minh.select(key, F.explode(band_sigs).alias("bs")).select(
        key, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def band_candidates(new_sig: DataFrame, old_sig: DataFrame) -> DataFrame:
    """Distinct (new_id, old_id) doc pairs sharing a (band, sig) bucket,
    the partner strictly earlier (smaller doc_id)."""
    return (
        new_sig.alias("nb")
        .join(
            old_sig.alias("ob"),
            (F.col("nb.band") == F.col("ob.band"))
            & (F.col("nb.sig") == F.col("ob.sig"))
            & (F.col("ob.doc_id") < F.col("nb.doc_id")),
        )
        .select(
            F.col("nb.doc_id").alias("new_id"),
            F.col("ob.doc_id").alias("old_id"),
        )
        .distinct()
    )


def jaccard_prior_verdicts(
    roster: DataFrame,
    cand: DataFrame,
    new_sh: DataFrame,
    old_sh: DataFrame,
    threshold: float,
) -> DataFrame:
    """Per-doc keep/drop verdicts over ``roster`` (doc_id): n_dup_prior
    counts the (new_id, old_id) candidates whose exact shingle Jaccard
    reaches ``threshold``. ``new_sh`` holds the (doc_id, sh) rows of the
    new_id side, ``old_sh`` those of the old_id side."""
    n_new = new_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    n_old = old_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        cand.join(new_sh.alias("sa"), F.col("new_id") == F.col("sa.doc_id"))
        .join(
            old_sh.alias("sb"),
            (F.col("old_id") == F.col("sb.doc_id"))
            & (F.col("sa.sh") == F.col("sb.sh")),
        )
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (
        F.col("na.n_sh") + F.col("nb.n_sh") - F.col("n_common")
    )
    dups = (
        common.join(n_new.alias("na"), F.col("new_id") == F.col("na.doc_id"))
        .join(n_old.alias("nb"), F.col("old_id") == F.col("nb.doc_id"))
        .filter(jac >= threshold)
        .groupBy("new_id")
        .agg(F.count(F.lit(1)).alias("n_dup_prior"))
        .withColumnRenamed("new_id", "doc_id")
    )
    return roster.join(dups, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_dup_prior", F.lit(0)).cast("long").alias("n_dup_prior"),
        F.when(F.coalesce("n_dup_prior", F.lit(0)) > 0, "drop")
        .otherwise("keep")
        .alias("verdict"),
    )


@register(
    "dedup_exact",
    oracle="""
    WITH amplified AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM amplified
    GROUP BY text
    """,
    doc="Exact dedup, keep-lowest-id: group by content, min(doc_id) + copy "
    "count. Input is amplified with a 10% duplicate overlay so the dedup "
    "actually removes rows (testdata texts are all distinct). At 100 TB: "
    "group by xxhash64(text) instead of text (8-byte shuffle keys).",
    tags=("extension", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return (
        d.unionAll(dup)
        .groupBy("text")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keeper_id", "n_copies")
    )


def _jaccard_oracle(threshold: float, shingle_df_cap: int | None = None) -> str:
    """Exact word-3-gram Jaccard pairs ≥ threshold (DuckDB inverted index).

    With ``shingle_df_cap``, shingles appearing in more than that many docs
    are dropped from every shingle set first (both |A∩B| and |A∪B|) —
    mirroring the Spark operator's skew guard so both engines compute
    Jaccard over the same capped vocabulary.
    """
    cap_clause = (
        f"SELECT * FROM s0 QUALIFY COUNT(*) OVER (PARTITION BY sh) <= {shingle_df_cap}"
        if shingle_df_cap is not None
        else "SELECT * FROM s0"
    )
    return f"""
    WITH d AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    s0 AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
      FROM d
    ),
    s AS ({cap_clause}),
    n AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(n_common * 1.0 / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN n na ON na.doc_id = doc_a
    JOIN n nb ON nb.doc_id = doc_b
    WHERE n_common * 1.0 / (na.n_sh + nb.n_sh - n_common) >= {threshold}
    """


@register(
    "dedup_ngram_jaccard",
    oracle=_jaccard_oracle(0.8, shingle_df_cap=64),
    doc="Exact near-dup mining via word-3-gram Jaccard >= 0.8: inverted "
    "index (explode distinct shingles) → self-join on shingle → "
    "|A∩B| → Jaccard. The only shuffles are the explode-side groupBys "
    "and the shingle join; no cartesian stage exists. Shingles with "
    "document frequency > 64 (stop-shingles: boilerplate, licence "
    "headers) are dropped from every shingle set before the join — the "
    "skew guard that keeps the worst join key bounded at 100 TB (a "
    "df-D shingle otherwise contributes D² join rows). The oracle "
    "applies the identical cap, so Jaccard is computed over the same "
    "capped vocabulary on both engines.",
    tags=("extension", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    return ngram_jaccard_pairs(d, threshold=0.8, shingle_df_cap=64)


def ngram_jaccard_pairs(
    d: DataFrame, *, threshold: float = 0.8, shingle_df_cap: int | None = 64
) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs over (doc_id, w).

    ``shingle_df_cap`` is the hot-key skew guard: a shingle appearing in
    more than ``cap`` docs is removed from every shingle set (numerator AND
    denominator) before the inverted-index self-join, bounding join fan-out
    per key at cap² and total candidate rows at |shingles|·cap². The capped
    index is persisted (cache-lifetime contract above) so the df-count
    window shuffle runs ONCE, not once per consumer — plan-probed: without
    the persist the three consumers re-execute it (~4 extra exchanges).
    """
    from pyspark.sql import Window

    # r19 note: a repartition-before-explode here was A/B-tested and
    # REVERTED — the explode fuses with its downstream partial work in
    # the scan task, so shuffling the raw texts first cost more than the
    # serial explode (dedup_minhash_lsh 2.2 s -> 2.8 s warm).
    s = d.select("doc_id", F.explode(_shingles(F.col("w"))).alias("sh"))
    if shingle_df_cap is not None:
        # r20 note: a groupBy(sh)+semi-join df-cap (map-side partial agg,
        # no full-stream sort) was A/B-tested here and REVERTED — the
        # join form scans the explode TWICE (df build + probe side),
        # measured 5 reps dedup_ngram_jaccard [5.8, 2.8, 2.1, 2.3, 2.0]
        # window vs [6.2, 3.3, 2.7, 2.6, 2.5] join at sf0.1. At corpus
        # scale, materialize the exploded index once and the join form
        # wins (the window's sort is the scale hazard); here the single
        # fused scan wins.
        s = (
            s.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
            .filter(F.col("df") <= shingle_df_cap)
            .drop("df")
        )
    s = _pin_shingle_index(s)
    n = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = s.alias("a"), s.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na, nb = n.alias("na"), n.alias("nb")
    jac = F.col("n_common") / (F.col("na.n_sh") + F.col("nb.n_sh") - F.col("n_common"))
    return (
        common.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "dedup_minhash_lsh",
    oracle=_jaccard_oracle(0.7),
    doc="MinHash-LSH near-dup candidates, verified: k=16 seeded-xxhash64 "
    "min-hashes per doc → 4 bands × 4 hashes → groupBy(band, signature) "
    "→ within-bucket pairs → exact-Jaccard verify >= 0.7. No all-pairs "
    "join: complexity is |docs|·k + Σ|bucket|². The band groupBy is the "
    "only wide shuffle; buckets are bounded by banding probability AND a "
    "hard bucket-size cap (boilerplate-heavy corpora produce mega-buckets "
    "whose |bucket|² pair blow-up the cap routes out of the exact path). "
    "Oracle: the exact inverted-index Jaccard pairs at the same threshold — "
    "a full hash-match certifies BOTH the verification math and 100% "
    "banding recall ON THIS CORPUS. The corpus does contain pairs in the "
    "recall-uncertain J range (0.92–0.99), but min-hashes are seeded, so "
    "the caught set is deterministic per corpus; equality is verified at "
    "sf0.001/sf0.01/sf0.1 and gated by tests/test_dedup_lsh.py::"
    "test_lsh_oracle_equality_gate, which fails loudly (with the remedy) "
    "if a regenerated corpus ever breaks recall.",
    tags=("extension", "dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    return minhash_lsh_pairs(d)


# Cache-lifetime contract: minhash_lsh_pairs and ngram_jaccard_pairs persist
# their shingle inverted index (it feeds three consumers each). A lazy
# builder cannot know when its caller materializes the result, so the index
# stays pinned until EITHER the next *_pairs call (which releases the
# previous pins first — a long-lived session loop therefore never pins more
# than ONE index) OR an explicit release_shingle_index(). Asserted in
# tests/test_dedup_lsh.py.
_PINNED_INDEXES: list[DataFrame] = []


def _pin_shingle_index(sh: DataFrame) -> DataFrame:
    release_shingle_index()
    sh = sh.persist()
    _PINNED_INDEXES.append(sh)
    return sh


def release_shingle_index() -> None:
    """Unpersist every shingle index pinned by the last *_pairs call."""
    while _PINNED_INDEXES:
        _PINNED_INDEXES.pop().unpersist(blocking=False)


def minhash_lsh_pairs(
    d: DataFrame,
    *,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    bucket_cap: int = 64,
    is_new: Column | None = None,
) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs over (doc_id, w: array<string>).

    ``is_new`` (an expression over ``doc_id``) switches on INCREMENTAL mode:
    the within-bucket pair stage keeps only pairs with at least one 'new'
    doc, pruning it from Σ|bucket|² to Σ|bucket|·|bucket∩new| — the daily-
    ingest shape where yesterday's corpus is already deduplicated and only
    new-vs-all pairs matter. (With a real batch-id column you'd join the
    flag onto the buckets instead of deriving it from doc_id; signatures
    for the old corpus come from the persisted signature store, not a
    recompute — the banding math is unchanged either way.)

    ``bucket_cap`` bounds the quadratic within-bucket pair stage: a band
    bucket holding more than ``bucket_cap`` docs (near-identical boilerplate)
    is dropped before the self-join, keeping Σ|bucket|² ≤ |docs|·cap. True
    near-dup pairs inside a dropped mega-bucket are still found when any of
    their other ``bands-1`` band signatures lands in a small bucket; corpora
    dominated by one identical document are exactly the case where emitting
    the |bucket|²/2 pair list is useless — the scale answer is 'this bucket
    IS one duplicate cluster', which exact dedup (dedup_exact) reports in
    O(|bucket|).
    """
    from pyspark.sql import Window

    # The shingle inverted index feeds three consumers (minhash build,
    # candidate verify ×2) — persist it so the explode+split runs once, not
    # three times. At cluster scale this is the checkpointed intermediate
    # every LSH pipeline materializes anyway. Lifetime: see module-level
    # contract above (bounded to one pinned index per session).
    sh = _pin_shingle_index(
        d.select("doc_id", F.explode(_shingles(F.col("w"))).alias("sh"))
    )
    buckets = minhash_band_sigs(sh, "doc_id", k, bands)
    # Hot-bucket cap: count per (band, sig) rides the same shuffle key as
    # the candidate self-join, so this adds no extra exchange.
    buckets = (
        buckets.withColumn(
            "bucket_n", F.count(F.lit(1)).over(Window.partitionBy("band", "sig"))
        )
        .filter(F.col("bucket_n") <= bucket_cap)
        .drop("bucket_n")
    )
    if is_new is not None:
        buckets = buckets.withColumn("is_new", is_new)
    ba, bb = buckets.alias("ba"), buckets.alias("bb")
    cond = (
        (F.col("ba.band") == F.col("bb.band"))
        & (F.col("ba.sig") == F.col("bb.sig"))
        & (F.col("ba.doc_id") < F.col("bb.doc_id"))
    )
    if is_new is not None:
        cond = cond & (F.col("ba.is_new") | F.col("bb.is_new"))
    cand = (
        ba.join(bb, cond)
        .select(F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b"))
        .distinct()
    )
    # Verify candidates with exact Jaccard (join back to shingle sets).
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    common = (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sb,
            (F.col("doc_b") == F.col("sb.doc_id")) & (F.col("sa.sh") == F.col("sb.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na, nb = n.alias("na"), n.alias("nb")
    jac = F.col("n_common") / (F.col("na.n_sh") + F.col("nb.n_sh") - F.col("n_common"))
    return (
        common.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        # no final orderBy: pair-set output, order-insensitive compare —
        # a global sort here is an avoidable extra exchange at scale.
    )


@register(
    "dedup_simhash",
    # The emitted pair SET is xxhash64-dependent (no DuckDB twin), so the
    # driver row is an INVARIANT PROJECTION instead: counts and booleans
    # that must hold for ANY correct simhash implementation —
    # (a) every identical-token-array pair (we amplify the corpus with a
    #     10% duplicate overlay so these exist) is found: identical arrays
    #     ⇒ identical fingerprints ⇒ hamming 0 ⇒ every band collides;
    # (b) every emitted pair shares ≥1 token AND the MEDIAN emitted-pair
    #     Jaccard is ≥ 0.5 (measured ~0.8 at sf0.001/0.01/0.1) — the
    #     precision invariant. The median, not the min: at sf0.1 the
    #     hamming≤12 blocking admits a tail of chance pairs down to
    #     J≈0.15, so a min-floor is corpus-fragile where the median is
    #     stable.
    oracle=f"""
    WITH d AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    amp AS (
      SELECT doc_id, w FROM d
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, w FROM d WHERE doc_id % 10 = 0
    ),
    g AS (SELECT w, COUNT(*) AS c FROM amp GROUP BY w HAVING COUNT(*) > 1)
    SELECT CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) AS n_identical_pairs,
           CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) AS n_identical_found,
           TRUE AS emitted_nonempty,
           TRUE AS precision_floor_ok
    FROM g
    """,
    doc="SimHash near-dup: 64-bit fingerprint = sign of per-bit votes from "
    "token xxhash64s; candidate pairs blocked on 4×16-bit bands "
    "(Hamming ≤ 12 guarantees ≥ 1 identical band), verified with "
    "bit_count(xor) ≤ 12; each (band,key) bucket capped at its first 256 "
    "doc_ids so a hot bucket (65,536 keys/band → ~N/65k docs each at "
    "billions of docs) can never go quadratic — the same skew guard as the "
    "ngram path's df-cap. All bit math stays in codegen. Driver row = "
    "invariant projection over the emitted pairs (recall on identical "
    "docs + median-Jaccard precision invariant) since the pair set itself is "
    "hash-seeded; the raw pair list is `simhash_pairs`.",
    tags=("extension", "dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    dup = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "w"
    )
    amp = d.unionAll(dup)
    pairs = simhash_pairs(amp).select("doc_a", "doc_b")

    # (a) identical-token-array pairs and how many of them simhash found.
    # Spark groups/joins on array<string> natively; at 100 TB you'd key on
    # xxhash64(array_join(w)) to shrink the shuffle key to 8 bytes.
    ident_groups = amp.groupBy("w").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
    n_ident = ident_groups.agg(
        F.coalesce(F.sum(F.expr("CAST(c * (c - 1) DIV 2 AS BIGINT)")), F.lit(0)).alias(
            "n_identical_pairs"
        )
    )
    wa = amp.select(F.col("doc_id").alias("doc_a"), F.col("w").alias("w_a"))
    wb = amp.select(F.col("doc_id").alias("doc_b"), F.col("w").alias("w_b"))
    n_found = (
        pairs.join(wa, "doc_a")
        .join(wb, "doc_b")
        .filter(F.col("w_a") == F.col("w_b"))
        .agg(F.count(F.lit(1)).alias("n_identical_found"))
    )

    # (b) precision: median emitted-pair distinct-token Jaccard ≥ 0.5
    # (pairs sharing zero tokens would drop out of the inner join — the
    # coverage equality catches that case too).
    tok = amp.select("doc_id", F.explode(F.array_distinct("w")).alias("t"))
    nt = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_t"))
    common = (
        pairs.join(tok.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            tok.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id")) & (F.col("sa.t") == F.col("sb.t")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    jac = (
        common.join(nt.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(nt.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            (F.col("nc") / (F.col("na.n_t") + F.col("nb.n_t") - F.col("nc"))).alias("j")
        )
    )
    j_stats = jac.agg(
        F.expr("percentile(j, 0.5)").alias("median_j"),
        F.count(F.lit(1)).alias("n_with_common"),
    )
    n_emitted = pairs.agg(F.count(F.lit(1)).alias("n_emitted"))

    return (
        n_ident.crossJoin(n_found)
        .crossJoin(n_emitted)
        .crossJoin(j_stats)
        .select(
            "n_identical_pairs",
            "n_identical_found",
            (F.col("n_emitted") > 0).alias("emitted_nonempty"),
            (
                (F.col("median_j") >= 0.5)
                & (F.col("n_with_common") == F.col("n_emitted"))
            ).alias("precision_floor_ok"),
        )
    )


def simhash_pairs(d: DataFrame, bucket_cap: int = 256) -> DataFrame:
    """SimHash near-dup pairs (doc_a, doc_b, hamming) over (doc_id, w).

    ``bucket_cap`` bounds each (band, key) block to its first ``bucket_cap``
    doc_ids (deterministic row_number) before the self-join. A 16-bit band
    has only 65,536 key values, so at billions of docs every bucket holds
    ~N/65k docs and an uncapped within-bucket join is quadratic — the same
    skew guard the ngram-Jaccard path applies via its shingle df-cap.
    Identical/near-identical docs land in the SAME bucket, so groups up to
    the cap keep full recall; beyond it recall degrades gracefully instead
    of the join blowing up (documented 100 TB trade-off). The registered
    dedup_simhash oracle asserts FULL identical-pair recall, which only
    holds while every bucket is under the cap — certified on the live
    corpus by tests/test_dedup_lsh.py::test_simhash_cap_soundness_gate
    (the same gate pattern as the MinHash oracle's).
    """
    from apache_hive_1_2_2_src_spark.operators.helpers import cap_partitions

    blocked = cap_partitions(simhash_blocked(d), ["band", "key"], "doc_id", bucket_cap)
    x, y = blocked.alias("x"), blocked.alias("y")
    ham = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 12)
        # no final orderBy: pair-set output, order-insensitive compare.
    )


def simhash_blocked(d: DataFrame) -> DataFrame:
    """(doc_id, simhash, band, key) banding rows BEFORE the bucket cap —
    split out so the cap-soundness gate test can measure bucket sizes."""
    tok = d.select("doc_id", F.explode("w").alias("t")).withColumn("h", F.xxhash64("t"))
    # Per-bit votes: +1 if bit set else -1; simhash bit b = majority vote.
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    bit = lambda b: F.when(F.col(f"v{b}") > 0, F.lit(1).cast("bigint")).otherwise(  # noqa: E731
        F.lit(0).cast("bigint")
    )
    sim = votes.select(
        "doc_id",
        sum([F.shiftleft(bit(b), b) for b in range(1, 64)], bit(0)).alias("simhash"),
    )
    # Block on 16-bit bands of the fingerprint.
    band = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
            )
            for i in range(4)
        ]
    )
    return sim.select("doc_id", "simhash", F.explode(band).alias("b")).select(
        "doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )


@register(
    "dedup_clusters",
    # Transitive closure of the capped ngram-Jaccard pair graph: DuckDB
    # recursive CTE propagates the min doc_id through edges to a unique
    # fixpoint — iterative on both engines, but the RESULT is deterministic,
    # so this iterative algorithm still carries a full-hash oracle.
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_jaccard_oracle(0.8, shingle_df_cap=64)})
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS n FROM edges),
    reach(n, lbl) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.n
    ),
    comp AS (SELECT n AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY n)
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           MIN(doc_id) AS keeper_id
    FROM comp
    GROUP BY cluster_id
    """,
    doc="Near-dup CLUSTER formation: connected components over the "
    "ngram-Jaccard>=0.8 pair graph via alternating large-star/small-star "
    "(Kiveris et al. SoCC'14 — the step a real curation pipeline runs "
    "after pair mining: keep one doc per component, not per pair). "
    "Iterative DataFrame loop, two groupBy+join shuffles per round, "
    "O(log^2 n) rounds on ANY component shape including chains (bounded "
    "at max_iters=24 — measured: a 2^k-node chain converges in k+1 "
    "rounds, so 24 covers ~8M-deep components; asserted converged, never "
    "silently wrong); no "
    "driver-side graph state, only a per-round emptiness check. "
    "Output: one row per component (cluster_id = min doc_id, size, "
    "keeper). Deterministic fixpoint -> full recursive-CTE oracle.",
    tags=("extension", "dedup", "clusters"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    pairs = ngram_jaccard_pairs(d, threshold=0.8, shingle_df_cap=64).select(
        "doc_a", "doc_b"
    )
    return connected_components(pairs)


def connected_component_labels(
    pairs: DataFrame, *, max_iters: int = 48, stats: dict | None = None
) -> DataFrame:
    """Per-MEMBER component labels (n, lbl) — the label frame behind
    connected_components; exposed so cluster-aware operators (e.g.
    quality-keeper selection) can join members to their cluster.

    Alternating large-star/small-star connected components over an
    undirected edge list (doc_a, doc_b) — the round-5 upgrade from plain
    min-label propagation (public algorithm: Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    Each round runs one large-star step (every node hangs its LARGER
    neighbors off its neighborhood minimum) and one small-star step (every
    node re-hangs its SMALLER neighbors plus itself off that minimum) —
    two groupBy+join shuffles — and the edge set converges to one star per
    component, centered at the component's minimum id, in O(log^2 n) rounds
    on ANY graph shape. Plain propagation needs O(diameter) rounds: on a
    1M-node chain that is ~1M shuffles vs ~20 here; near-dup graphs are
    usually shallow, but a boilerplate-chain corpus is exactly the shape
    that used to blow the iteration budget (see
    tests/test_cc_star.py::test_chain_converges_fast).

    Returns one row per clustered member: (n = member id, lbl = component
    min id); singletons (docs in no pair) do not appear. Raises if not
    converged within max_iters — never returns silently-wrong labels. Each round's edge set is
    localCheckpoint-ed: that BOTH materializes it AND truncates the logical
    plan, which is load-bearing — a persist-based loop was measured 5×
    slower because Catalyst re-analyzes N stacked rounds of lineage.
    Superseded rounds' checkpoint blocks are reclaimed by the
    ContextCleaner once their Python reference drops (nudged with an
    explicit gc.collect() on return), so transient peak storage is a few
    edge sets, bounded by max_iters; on a cluster use checkpoint(dir),
    where cleanup is directory-managed.

    ``stats``, if given, receives ``{"rounds": r}`` — the number of
    large+small-star rounds until fixpoint, so scale-stress tests can pin
    the measured round count against the O(log^2 n) bound.
    """
    import gc

    # Canonical (min, max) edges, self-loops dropped.
    # r20 (VERDICT r19 item 3): lazy localCheckpoint + count — the count
    # action itself materializes AND checkpoints the frame, so each
    # round runs ONE job instead of an eager-checkpoint job followed by
    # a count job over the cached blocks. Same lineage truncation, same
    # values.
    edges = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("u"), F.greatest("doc_a", "doc_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # Large-star: m(u) = min(N(u) ∪ {u}); emit (m, v) for v ∈ N(u), v > u.
        mins = bidir.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # r19: no intermediate distinct — duplicates here cannot change
        # the small-star step (its groupBy-min is duplicate-insensitive)
        # and the round's final distinct removes them anyway; dropping it
        # saves one full shuffle per round. Multiplicity is bounded by
        # the (already-distinct) bidir edge list.
        large = (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), "v")  # m <= u < v: already canonical
        )
        # Small-star over the large-star output: for each node u with smaller
        # neighbors S = {v ∈ N(u): v < u}, m = min(S); emit (m, v) for
        # v ∈ S \ {m} and (m, u).
        bidir2 = large.union(large.select(F.col("v").alias("u"), F.col("u").alias("v")))
        small_nbrs = bidir2.filter(F.col("v") < F.col("u"))
        small_min = small_nbrs.groupBy("u").agg(F.min("v").alias("m"))
        new_edges = (
            small_nbrs.join(small_min, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("u"), "v")  # m < v: canonical
            .unionByName(small_min.select(F.col("m").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # Equality of the two DISTINCT edge sets without a full symmetric
        # difference: equal counts + empty (new \ old) ⟹ new ⊆ old with
        # |new| = |old| ⟹ equal. The count doubles as the checkpoint's
        # materializing action (r20 — one job per round, not two); the
        # anti-join only runs when the counts already agree.
        n_new = new_edges.count()
        converged = (
            n_new == n_edges
            and new_edges.join(edges, ["u", "v"], "left_anti").limit(1).count() == 0
        )
        edges, n_edges = new_edges, n_new
        if converged:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iters} iters")
    if stats is not None:
        stats["rounds"] = rounds
    # Fixpoint = one star per component: every edge is (root, member) with
    # root = component min, so labels read straight off the edge list.
    labels = (
        edges.select(F.col("v").alias("n"), F.col("u").alias("lbl"))
        .union(edges.select(F.col("u").alias("n"), F.col("u").alias("lbl")))
        .distinct()
    )
    # Truncate lineage so the iteration checkpoints can be released NOW: the
    # returned DF owns only its (one-row-per-member) checkpoint blocks;
    # dropping our references + gc.collect() lets the ContextCleaner
    # reclaim every superseded round's blocks promptly.
    labels = labels.localCheckpoint(eager=True)
    del edges, new_edges
    gc.collect()
    return labels


def connected_components(
    pairs: DataFrame, *, max_iters: int = 24, stats: dict | None = None
) -> DataFrame:
    """One row per component: (cluster_id = component min id, cluster_size,
    keeper_id = min member). Summary view over connected_component_labels —
    see that function for the algorithm and convergence contract."""
    import gc

    labels = connected_component_labels(pairs, max_iters=max_iters, stats=stats)
    result = (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.min("n").alias("keeper_id"))
        .select(
            F.col("lbl").alias("cluster_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            "keeper_id",
        )
        .localCheckpoint(eager=True)
    )
    gc.collect()
    return result


def _embedding_pairs_sql(threshold: float) -> str:
    """Sign-bit-bucketed embedding pairs with cosine ≥ threshold (DuckDB).

    Mirrors the Spark operator exactly: the 8-bit sign bucket is a fixed,
    data-independent hyperplane family, so (unlike the hash-seeded text-LSH
    paths) the BUCKETING ITSELF is SQL-expressible and the oracle replicates
    candidate generation, not just verification.
    """
    from apache_hive_1_2_2_src_spark.extensions.similarity import _sql_cos

    return f"""
      WITH eb AS (
        SELECT vec_id, embedding,
               array_to_string(list_transform(embedding[1:8],
                 x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
        FROM embeddings
      )
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM eb x JOIN eb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      WHERE {_sql_cos("x.embedding", "y.embedding")} >= {threshold}
    """


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_embedding_pairs_sql(0.4)}),
    edges AS (
      SELECT vec_a AS u, vec_b AS v FROM pairs
      UNION
      SELECT vec_b AS u, vec_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS n FROM edges),
    reach(n, lbl) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.n
    ),
    comp AS (SELECT n AS vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY n)
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           MIN(vec_id) AS keeper_id
    FROM comp
    GROUP BY cluster_id
    """,
    doc="Embedding-cosine near-dup dedup, end to end: sign-bit LSH buckets "
    "(8 fixed hyperplanes — candidates only within buckets, never "
    "all-pairs) → within-bucket cosine ≥ 0.4 pairs → connected components "
    "(min-label propagation) → one keeper per cluster. The full semantic-"
    "dedup recipe a pretraining pipeline runs over document embeddings. "
    "Unlike the seeded text-LSH paths, the bucketing is SQL-expressible, "
    "so the oracle replicates candidate generation AND clustering "
    "(recursive CTE) — full hash-match, no invariant projection needed.",
    tags=("extension", "dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.extensions.similarity import _cos

    e = load_table(spark, sf_dir, "embeddings")
    bucket = F.array_join(
        F.transform(
            F.slice("embedding", 1, 8),
            lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")),
        ),
        "",
    )
    b = e.select("vec_id", "embedding", bucket.alias("bucket"))
    x = b.select("bucket", F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    y = b.select(
        F.col("bucket").alias("bucket_y"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
    )
    pairs = (
        x.join(y, (F.col("bucket") == F.col("bucket_y")) & (F.col("vec_a") < F.col("vec_b")))
        .filter(_cos(F.col("ea"), F.col("eb")) >= 0.4)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    )
    return connected_components(pairs).select(
        "cluster_id", "cluster_size", "keeper_id"
    )


@register(
    "dedup_apply_keepers",
    # Reuses dedup_clusters' recursive-CTE closure to derive the REMOVAL
    # audit a pipeline asserts on before publishing the deduplicated corpus.
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_jaccard_oracle(0.8, shingle_df_cap=64)})
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS n FROM edges),
    reach(n, lbl) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.n
    ),
    comp AS (SELECT n AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY n)
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(DISTINCT cluster_id) FROM comp) AS BIGINT)
             AS n_clusters,
           CAST((SELECT COUNT(*) FROM comp WHERE doc_id <> cluster_id)
             AS BIGINT) AS n_removed,
           CAST((SELECT COUNT(*) FROM documents)
                - (SELECT COUNT(*) FROM comp WHERE doc_id <> cluster_id)
             AS BIGINT) AS n_kept
    """,
    doc="Dedup APPLY step (the half of dedup a pipeline actually ships): "
    "take the near-dup clusters from the ngram-Jaccard>=0.8 graph, keep "
    "one doc per cluster (the min-id keeper) plus every unclustered doc, "
    "and emit the removal audit (corpus size, cluster count, removed, "
    "kept) that gates publishing. Composes pair mining -> large-star/"
    "small-star components; the audit derives entirely from cluster-size "
    "aggregates (n_removed = Σ(size-1)) — two 1-row aggs and a crossJoin, "
    "no per-doc join needed. (Materializing the kept corpus itself is the "
    "same one extra left_anti join of documents against non-keeper ids.)",
    tags=("extension", "dedup", "pipeline"),
)
def dedup_apply_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    docs = d.select("doc_id", _words().alias("w"))
    pairs = ngram_jaccard_pairs(docs, threshold=0.8, shingle_df_cap=64).select(
        "doc_a", "doc_b"
    )
    clusters = connected_components(pairs)
    stats = clusters.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.coalesce(F.sum(F.col("cluster_size") - 1), F.lit(0)).alias("n_removed"),
    )
    total = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return total.crossJoin(stats).select(
        "n_docs",
        "n_clusters",
        "n_removed",
        (F.col("n_docs") - F.col("n_removed")).alias("n_kept"),
    )


def substring_span_stats(toks: DataFrame, k: int = 8) -> DataFrame:
    """Per-doc duplicated-span stats over a (doc_id, w array<string>) frame:
    positional token-k-grams, corpus-duplicated grams (>= 2 distinct docs),
    one equi-join back against the PRE-AGGREGATED gram side (one row per
    gram — join output is exactly one row per gram occurrence, linear in
    the corpus, never |occurrences|x|occurrences|; the scale property
    test_scale_stress pins on a 10x-duplicated overlay). Factored out of
    the registered query so stress tests can run it on synthetic corpora."""
    idx = F.sequence(F.lit(0), F.size("w") - k)
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("w"), i + F.lit(j + 1)) for j in range(k)]
        ),
    )
    grams = (
        toks.where(F.size("w") >= k)
        .select("doc_id", F.explode(gram).alias("gram"))
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram", F.lit(1).alias("is_dup"))
    )
    per_doc = (
        grams.join(dup, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("is_dup").alias("n_dup_grams"),
        )
    )
    return (
        toks.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce(
                2 * F.col("n_dup_grams") >= F.col("n_grams"), F.lit(False)
            ).alias("half_duplicated"),
        )
    )


@register(
    "dedup_substring_spans",
    # Token-8-gram analogue of ExactSubstr dedup (Lee et al. 2022,
    # "Deduplicating Training Data Makes Language Models Better"): any
    # repeated verbatim span of >= 8 tokens across two documents must
    # contain a repeated 8-gram, so flagging positions whose 8-gram occurs
    # in >= 2 distinct docs finds every such span (k-gram inverted index ==
    # the MapReduce form of their suffix-array method, exact for spans >= k).
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
      FROM toks, UNNEST(range(1, len(w) - 8 + 2)) AS t(i)
      WHERE len(w) >= 8
    ),
    dup AS (
      SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             COUNT(d.gram) AS n_dup_grams
      FROM grams g LEFT JOIN dup d ON g.gram = d.gram
      GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           COALESCE(2 * p.n_dup_grams >= p.n_grams, FALSE) AS half_duplicated
    FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
    """,
    doc="Exact duplicated-SPAN detection (beyond-reference; Lee et al. 2022 "
    "ExactSubstr): per document, how many token-8-gram positions lie inside "
    "a span that also appears verbatim in ANOTHER document. Spark plan: "
    "positional 8-grams via codegen transform+explode (one narrow pass), "
    "groupBy gram with partial aggregation to find corpus-duplicated grams "
    "(COUNT(DISTINCT doc_id) >= 2), then one equi-join back — the right "
    "side is pre-aggregated to one row per gram so AQE's skew split "
    "handles hot grams and nothing is quadratic. At 100 TB you key the "
    "index by xxhash64(gram) (8-byte shuffle keys, collision-safe for "
    "counting) instead of the gram text — text keys kept here so the "
    "DuckDB oracle can recompute the identical index. Short docs (< 8 "
    "tokens) surface with zero grams via the final left join, and "
    "`half_duplicated` is the integer-exact 2*dup >= total policy bit a "
    "curation pipeline would drop documents on.",
    tags=("extension", "dedup", "pipeline"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return substring_span_stats(d.select("doc_id", _words().alias("w")), k=8)


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH pairs AS ({_jaccard_oracle(0.7)}),
    tagged AS (
      SELECT doc_a, doc_b, (doc_a % 7 = 0) AS a_new, (doc_b % 7 = 0) AS b_new
      FROM pairs
    ),
    contrib AS (
      SELECT doc_a AS doc_id, b_new AS partner_new FROM tagged WHERE a_new
      UNION ALL
      SELECT doc_b AS doc_id, a_new AS partner_new FROM tagged WHERE b_new
    ),
    counts AS (
      SELECT doc_id,
             SUM(CASE WHEN partner_new THEN 0 ELSE 1 END) AS n_dup_corpus,
             SUM(CASE WHEN partner_new THEN 1 ELSE 0 END) AS n_dup_batch
      FROM contrib GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(c.n_dup_corpus, 0) AS BIGINT) AS n_dup_corpus,
           CAST(COALESCE(c.n_dup_batch, 0) AS BIGINT) AS n_dup_batch,
           CASE WHEN COALESCE(c.n_dup_corpus, 0) > 0 THEN 'dup_of_corpus'
                WHEN COALESCE(c.n_dup_batch, 0) > 0 THEN 'dup_in_batch'
                ELSE 'unique' END AS verdict
    FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 0) d
    LEFT JOIN counts c ON c.doc_id = d.doc_id
    """,
    doc="INCREMENTAL near-dup dedup (the production daily-ingest shape — "
    "beyond-reference): docs with doc_id % 7 == 0 play the 'new batch', "
    "the rest the already-deduplicated corpus. The banded MinHash-LSH "
    "candidate stage is restricted to pairs with >= 1 new doc "
    "(minhash_lsh_pairs is_new=...), pruning the within-bucket quadratic "
    "to |bucket|·|bucket∩new| — at 100 TB with a 0.1% daily batch this is "
    "the ~1000× candidate-stage saving that makes daily dedup feasible, "
    "and the corpus-side signatures come from the persisted signature "
    "store instead of a recompute. Each new doc is then classified: "
    "dup_of_corpus (drop it), dup_in_batch (keep one of the batch "
    "cluster), unique (ingest). Oracle = the exact-Jaccard pair set "
    "restricted to new-doc pairs, identically classified — certifying "
    "that the incremental restriction loses NOTHING vs full-corpus dedup "
    "for the batch verdicts.",
    tags=("extension", "dedup", "pipeline", "incremental"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    new_pred = F.col("doc_id") % 7 == 0
    pairs = minhash_lsh_pairs(d, is_new=new_pred)
    tagged = pairs.select(
        "doc_a",
        "doc_b",
        (F.col("doc_a") % 7 == 0).alias("a_new"),
        (F.col("doc_b") % 7 == 0).alias("b_new"),
    )
    contrib = tagged.where("a_new").select(
        F.col("doc_a").alias("doc_id"), F.col("b_new").alias("partner_new")
    ).unionAll(
        tagged.where("b_new").select(
            F.col("doc_b").alias("doc_id"), F.col("a_new").alias("partner_new")
        )
    )
    counts = contrib.groupBy("doc_id").agg(
        F.sum(F.when(F.col("partner_new"), 0).otherwise(1)).alias("n_dup_corpus"),
        F.sum(F.when(F.col("partner_new"), 1).otherwise(0)).alias("n_dup_batch"),
    )
    new_docs = d.select("doc_id").where(new_pred)
    return new_docs.join(counts, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_dup_corpus", F.lit(0)).cast("long").alias("n_dup_corpus"),
        F.coalesce("n_dup_batch", F.lit(0)).cast("long").alias("n_dup_batch"),
        F.when(F.coalesce("n_dup_corpus", F.lit(0)) > 0, "dup_of_corpus")
        .when(F.coalesce("n_dup_batch", F.lit(0)) > 0, "dup_in_batch")
        .otherwise("unique")
        .alias("verdict"),
    )


@register(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH pairs AS ({_jaccard_oracle(0.7, shingle_df_cap=64)}),
    banded AS (
      SELECT CASE WHEN jaccard >= 0.9 THEN '0.90+'
                  WHEN jaccard >= 0.8 THEN '0.80-0.90'
                  ELSE '0.70-0.80' END AS band, doc_a, doc_b
      FROM pairs
    ),
    docs AS (
      SELECT band, doc_a AS doc FROM banded
      UNION ALL
      SELECT band, doc_b AS doc FROM banded
    )
    SELECT p.band, p.n_pairs, d.n_docs
    FROM (SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM banded GROUP BY band) p
    JOIN (SELECT band, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
          FROM docs GROUP BY band) d USING (band)
    """,
    doc="Dedup threshold sweep (the tuning audit run BEFORE committing a "
    "near-dup threshold: how many pairs — and how many docs — does each "
    "candidate threshold implicate?): the exact Jaccard>=0.7 pair set "
    "(same capped inverted index as dedup_ngram_jaccard) banded into "
    "[0.7,0.8), [0.8,0.9), [0.9,1] in ONE mining pass — three thresholds "
    "for the price of one, since banding is a post-hoc CASE over the "
    "already-computed scores, not three re-runs. A curation pipeline "
    "reads this as its precision/aggressiveness dial; at 100 TB the "
    "sweep costs exactly one extra tiny groupBy over the pair list.",
    tags=("extension", "dedup", "audit"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    pairs = ngram_jaccard_pairs(d, threshold=0.7, shingle_df_cap=64)
    pairs = (
        pairs.withColumn(
            "band",
            F.when(F.col("jaccard") >= 0.9, "0.90+")
            .when(F.col("jaccard") >= 0.8, "0.80-0.90")
            .otherwise("0.70-0.80"),
        )
        # Two consumers below (pair counts + distinct docs): materialize
        # the mined pair list once instead of re-running the inverted-index
        # join per consumer (same localCheckpoint pattern as TF-IDF).
        .localCheckpoint()
    )
    n_pairs = pairs.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    # TRUE distinct docs per band (a doc seen as both doc_a and doc_b in a
    # band counts once): explode each pair to two (band, doc) rows and
    # count distinct. The join back is over <= 3 band rows — free at any
    # scale (ADVICE r6: the old doc_a-distinct + doc_b-distinct sum
    # double-counted dual-side docs).
    n_docs = (
        pairs.select(
            "band", F.explode(F.array("doc_a", "doc_b")).alias("doc")
        )
        .groupBy("band")
        .agg(F.countDistinct("doc").cast("long").alias("n_docs"))
    )
    return n_pairs.join(n_docs, "band")


@register(
    "dedup_span_trim",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    grams AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
      FROM toks, UNNEST(range(1, len(w) - 8 + 2)) AS t(i)
      WHERE len(w) >= 8
    ),
    dup AS (
      SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cov AS (
      SELECT DISTINCT g.doc_id, g.pos + j.j AS cpos
      FROM grams g JOIN dup d USING (gram), UNNEST(range(0, 8)) AS j(j)
    ),
    covchars AS (
      SELECT c.doc_id,
             COUNT(*) AS n_covered,
             SUM(length(t.w[CAST(c.cpos + 1 AS INTEGER)])) AS covered_chars
      FROM cov c JOIN toks t USING (doc_id)
      GROUP BY c.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(COALESCE(cc.n_covered, 0) AS BIGINT) AS n_covered,
           CAST(len(t.w) - COALESCE(cc.n_covered, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(list_sum(list_transform(t.w, x -> length(x))), 0)
                - COALESCE(cc.covered_chars, 0) AS BIGINT) AS kept_chars
    FROM toks t LEFT JOIN covchars cc ON cc.doc_id = t.doc_id
    """,
    doc="ExactSubstr span-trim APPLY (Lee et al. 2022 'Deduplicating "
    "Training Data Makes Language Models Better', the REMOVE step after "
    "dedup_substring_spans' detect step): a token position is 'covered' "
    "when any corpus-duplicated 8-gram span contains it; the trimmed "
    "document keeps exactly the uncovered tokens. Output per doc: token "
    "count, covered count, kept count, and the kept CHAR total — the "
    "byte-level reconciliation a pipeline uses to audit how much text the "
    "trim deletes. Spark plan: positional grams (posexplode, codegen), "
    "duplicated-gram index pre-aggregated to one row per gram (the same "
    "linear-join guarantee as the detect step), covered positions via an "
    "8-wide sequence explode + distinct (fan-out exactly 8x the dup-gram "
    "occurrences, never quadratic), then two small per-doc aggregates. At "
    "100 TB the gram index keys by xxhash64 like the detect step; "
    "positions are doc-local ints so the distinct shuffles "
    "|covered positions| <= |tokens| rows.",
    tags=("extension", "dedup", "pipeline"),
)
def dedup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 8
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _words().alias("w"))
    idx = F.sequence(F.lit(0), F.size("w") - k)
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("w"), i + F.lit(j + 1)) for j in range(k)]
        ),
    )
    grams = (
        toks.where(F.size("w") >= k)
        .select("doc_id", F.posexplode(gram).alias("pos", "gram"))
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("cpos"),
        )
        .distinct()
    )
    # Join covered positions against a LENGTHS-only array (ints), not the
    # token strings — the shuffled payload per doc is |tokens|x4 bytes
    # instead of the full text.
    tok_lens = toks.select(
        "doc_id", F.transform(F.col("w"), F.length).alias("wl")
    )
    covchars = (
        covered.join(tok_lens, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_covered"),
            F.sum(F.element_at(F.col("wl"), F.col("cpos") + 1)).alias(
                "covered_chars"
            ),
        )
    )
    total_chars = F.aggregate(
        F.col("w"), F.lit(0), lambda acc, x: acc + F.length(x)
    )
    return (
        toks.select("doc_id", F.size("w").alias("n_tok"), total_chars.alias("tc"))
        .join(covchars, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tokens"),
            F.coalesce("n_covered", F.lit(0)).cast("long").alias("n_covered"),
            (F.col("n_tok") - F.coalesce("n_covered", F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            (F.col("tc") - F.coalesce("covered_chars", F.lit(0)))
            .cast("long")
            .alias("kept_chars"),
        )
    )


def bloom_position_bits(
    blocklist: DataFrame, col: str = "text", n_bits: int = 1 << 16, n_hashes: int = 3
) -> DataFrame:
    """One-row frame with the SORTED distinct bit-position array of a bloom
    filter over ``blocklist[col]``: k seeded xxhash64 positions per value.
    Kept as an explicit position set (array<int>) rather than a packed
    bitmap because Spark exposes no public bloom_filter_agg SQL function —
    semantics are identical (no false negatives; false positives possible)
    and every probe stays JVM-side codegen."""
    positions = blocklist.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(col), F.lit(seed)), F.lit(n_bits)).cast(
                        "int"
                    )
                    for seed in range(n_hashes)
                ]
            )
        ).alias("bit")
    )
    return positions.agg(F.array_sort(F.collect_set("bit")).alias("bits"))


@register(
    "dedup_blocklist_bloom",
    # Only the EXACT stage is emitted, so the query is fully oracled: the
    # bloom is Spark-hash-specific (no DuckDB twin), but its no-false-
    # negative property means bloom-then-verify == plain exact semi-join.
    # bloom_sound additionally asserts in-plan that every exact match
    # passed the bloom (it must, or the bloom lost a true member).
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 23 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 23 = 0 AND doc_id % 2 = 0
    )
    SELECT c.doc_id, TRUE AS bloom_sound
    FROM corpus c
    WHERE c.text IN (SELECT text FROM documents WHERE doc_id % 23 = 0)
    """,
    doc="Blocklist dedup via broadcast bloom pre-filter + exact verify "
    "(the two-stage semi-join every 100 TB blocklist scrub uses: opt-out "
    "lists, known-bad URLs, eval-set removal): docs with doc_id % 23 == 0 "
    "play the blocklist. Stage 1 aggregates the blocklist into a 2^16-bit "
    "bloom position set (3 seeded xxhash64 probes/doc — metadata-sized, "
    "broadcast with the 1-row cross join) and prunes the corpus map-side "
    "with forall(probe-bits, array_contains) — no shuffle touches the "
    "~all-clean corpus. Stage 2 exact-verifies ONLY the bloom survivors "
    "with a left-semi join on content, eliminating false positives; false "
    "negatives are impossible by construction, which the bloom_sound "
    "column pins (an exact match that failed the bloom would surface as "
    "FALSE and hash-mismatch). At scale the verify side hashes content "
    "first (xxhash64 equi-key, full-text confirm) so the semi-join "
    "shuffles digests, not documents.",
    tags=("extension", "dedup", "bloom"),
)
def dedup_blocklist_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bits, n_hashes = 1 << 16, 3
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    block = d.filter(F.col("doc_id") % 23 == 0)
    # Corpus = non-blocklist docs + a planted overlay of half the blocklist
    # under fresh ids (testdata texts are all distinct, so without the
    # plant the scrub would be vacuously empty — the dedup_exact pattern).
    planted = block.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = d.filter(F.col("doc_id") % 23 != 0).unionAll(planted)
    bits = bloom_position_bits(block, "text", n_bits, n_hashes)
    probes = F.array(
        *[
            F.pmod(F.xxhash64(F.col("text"), F.lit(seed)), F.lit(n_bits)).cast("int")
            for seed in range(n_hashes)
        ]
    )
    candidates = (
        corpus.crossJoin(F.broadcast(bits))
        .withColumn("bloom_pass", F.forall(probes, lambda p: F.array_contains("bits", p)))
        .filter(F.col("bloom_pass"))
    )
    verified = candidates.join(
        block.select("text").distinct(), "text", "left_semi"
    )
    return verified.select("doc_id", F.col("bloom_pass").alias("bloom_sound"))


@register(
    "dedup_levenshtein_blocked",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             array_to_string((list_filter(string_split(text, ' '),
                              x -> x <> ''))[1:4], ' ') AS title
      FROM documents
    ),
    titles AS (
      SELECT doc_id, title FROM base
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             substring(title, 1, length(title) - 1) || 'x' AS title
      FROM base WHERE doc_id % 17 = 0
    ),
    keyed AS (
      SELECT doc_id, title,
             string_split(title, ' ')[1] AS tok0,
             length(title) AS tlen
      FROM titles WHERE length(title) >= 8
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.title, b.title) AS INTEGER) AS lev
    FROM keyed a JOIN keyed b
      ON a.tok0 = b.tok0 AND a.tlen = b.tlen AND a.doc_id < b.doc_id
    WHERE levenshtein(a.title, b.title) <= 2
    """,
    doc="Blocked edit-distance near-dup over document 'titles' (first 4 "
    "tokens; a planted one-char-variant overlay guarantees true near-"
    "misses — the fuzzy-title/URL-variant dedup every metadata pipeline "
    "runs): candidate pairs come from an EQUI-join on the block key "
    "(first token, exact length) — never an all-pairs scan — and only "
    "within-block pairs pay the O(len²) levenshtein verify, which both "
    "Spark and DuckDB ship as a built-in. Same-length blocking is exact "
    "for pure substitutions (the planted class) and standard practice "
    "for the general case alongside a length±1 band. At 100 TB: block "
    "keys get a hot-key cap exactly like the shingle-df cap, and the "
    "verify is codegen (no UDF). Catches what token-set methods "
    "(Jaccard/MinHash) structurally miss: single-character edits INSIDE "
    "tokens.",
    tags=("extension", "dedup", "fuzzy"),
)
def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    base = d.select(
        "doc_id", F.concat_ws(" ", F.slice("w", 1, 4)).alias("title")
    )
    # Planted near-miss overlay: last char substituted with 'x' (same
    # length, same first token -> guaranteed in-block, levenshtein <= 1).
    variant = base.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.expr("substring(title, 1, length(title) - 1)"), F.lit("x")).alias(
            "title"
        ),
    )
    keyed = (
        base.unionByName(variant)
        .filter(F.length("title") >= 8)
        .select(
            "doc_id",
            "title",
            F.split("title", " ")[0].alias("tok0"),
            F.length("title").alias("tlen"),
        )
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok0") == F.col("b.tok0"))
            & (F.col("a.tlen") == F.col("b.tlen"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.levenshtein(F.col("a.title"), F.col("b.title")) <= 2)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.title"), F.col("b.title"))
            .cast("int")
            .alias("lev"),
        )
    )


@register(
    "dedup_keep_longest",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_jaccard_oracle(0.8, shingle_df_cap=64)})
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS n FROM edges),
    reach(n, lbl) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.n
    ),
    comp AS (SELECT n AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY n),
    toks AS (
      SELECT doc_id, len({_SQL_WORDS}) AS n_tok FROM documents
    ),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, t.n_tok,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY t.n_tok DESC, c.doc_id) AS rk
      FROM comp c JOIN toks t USING (doc_id)
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MIN(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS keeper_id,
           CAST(MIN(CASE WHEN rk = 1 THEN n_tok END) AS BIGINT)
             AS keeper_tokens
    FROM ranked GROUP BY cluster_id
    """,
    doc="QUALITY-AWARE dedup keeper selection (keep the LONGEST copy per "
    "near-dup cluster, tie-break min id — the policy real curation "
    "pipelines ship, versus dedup_apply_keepers' keep-first: near-dups "
    "are usually truncations/excerpts of one another, so min-id keeps an "
    "arbitrary — often the clipped — copy while keep-longest keeps the "
    "most complete text): ngram-Jaccard>=0.8 pairs -> star CC MEMBER "
    "labels (connected_component_labels — the per-node frame the summary "
    "view hides) -> join token counts -> per-cluster row_number argmax. "
    "One extra broadcast-sized join + one window over cluster members vs "
    "keep-first; swap n_tok for any scored column (quality, recency) and "
    "the operator is the general best-of-cluster selector.",
    tags=("extension", "dedup", "pipeline"),
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    pairs = ngram_jaccard_pairs(d, threshold=0.8, shingle_df_cap=64)
    labels = connected_component_labels(pairs)
    toks = d.select("doc_id", F.size("w").alias("n_tok"))
    members = labels.select(
        F.col("n").alias("doc_id"), F.col("lbl").alias("cluster_id")
    ).join(toks, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tok").desc(), F.col("doc_id")
    )
    ranked = members.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
        F.min(F.when(F.col("rk") == 1, F.col("doc_id")))
        .cast("long")
        .alias("keeper_id"),
        F.min(F.when(F.col("rk") == 1, F.col("n_tok")))
        .cast("long")
        .alias("keeper_tokens"),
    )


@register(
    "dedup_cross_source_report",
    oracle=f"""
    WITH pairs AS ({_jaccard_oracle(0.7, shingle_df_cap=64)}),
    tagged AS (
      SELECT p.doc_a, p.doc_b,
             da.source AS src_a, db.source AS src_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT LEAST(src_a, src_b) AS source_lo,
           GREATEST(src_a, src_b) AS source_hi,
           (src_a = src_b) AS same_source,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM tagged
    GROUP BY 1, 2, 3
    """,
    doc="Cross-source near-dup report (syndication / content-farm "
    "detection: WHICH source pairs share near-duplicate text? Within-"
    "source dups mean scraper re-crawls; cross-source dups mean "
    "syndication — different cleanup actions): the exact Jaccard>=0.7 "
    "pair set joined to each side's source, grouped by the UNORDERED "
    "source pair (least/greatest canonicalization, so (a,b) and (b,a) "
    "land in one row). Two broadcast-sized dimension joins on doc_id "
    "over the mined pair list; the report is |sources|^2-bounded. The "
    "per-pair mining cost is the capped inverted index — nothing new "
    "shuffles at 100 TB.",
    tags=("extension", "dedup", "audit"),
)
def dedup_cross_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _words().alias("w"))
    pairs = ngram_jaccard_pairs(toks, threshold=0.7, shingle_df_cap=64)
    src = d.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")),
            "doc_b",
        )
    )
    return (
        tagged.groupBy(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
            (F.col("src_a") == F.col("src_b")).alias("same_source"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


# ----------------------- Image near-dup dedup via pHash (r15) ------------
#
# The one LLM-pipeline dedup modality previously uncovered (VERDICT r14
# ask #3): perceptual-hash dedup over REAL decoded image bytes. The hash
# (multimodal.phash64_bands) is an all-integer 8x8-DCT pHash, so the
# DuckDB oracle replays decode -> thumbnail -> DCT -> threshold -> bands
# -> banded candidate join -> Hamming filter end to end from the fixture
# pixel formulas.

_PHASH_BUCKET_CAP = 16
_PHASH_HAMMING_MAX = 10


# pHash CTE chain (no WITH prefix): fixture formulas -> integer DCT
# pHash -> interleaved bands; _banded_sql continues it to the `kept`
# pairs. dedup_image_phash aggregates `kept` by pair kind; the clusters
# query closes it transitively with a recursive CTE.
_PHASH_CTES_TEMPLATE = """cos_t AS (__PHASH_COS_SQL__),
    docs AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
      FROM documents WHERE doc_id < 200
    ),
    variants AS (
      SELECT doc_id, w, h, 'orig' AS variant, 0 AS vcode FROM docs
      UNION ALL
      SELECT doc_id, w, h, 'reenc', 1 FROM docs WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, w, h, 'pert', 2 FROM docs
      WHERE doc_id % 5 = 0 AND doc_id % 13 >= 5
    ),
    grid AS (
      SELECT v.doc_id, v.variant, v.vcode, v.w,
             xx.tx AS tx, yy.ty AS ty,
             (CAST(xx.tx AS BIGINT) * v.w) // 8 AS x,
             (CAST(yy.ty AS BIGINT) * v.h) // 8 AS y
      FROM variants v, UNNEST(range(0, 8)) AS xx(tx),
                       UNNEST(range(0, 8)) AS yy(ty)
    ),
    gray AS (
      -- red channel carries the pert edit on the last column; the
      -- sampling grid provably never reads x = w-1 (max sampled column
      -- is 7w//8 = w-2 for the staged widths), so the CASE certifies
      -- downsample-robustness rather than changing the hash
      SELECT doc_id, variant, vcode, tx, ty,
             (CASE WHEN variant = 'pert' AND x = w - 1
                   THEN ((doc_id*7 + x*(3 + doc_id%7) + y*(5 + doc_id%5))
                         % 256 + 96) % 256
                   ELSE (doc_id*7 + x*(3 + doc_id%7) + y*(5 + doc_id%5))
                        % 256
              END
              + (doc_id*11 + x*(1 + doc_id%4) + y*(2 + doc_id%6)) % 256
              + (doc_id*13 + x*(2 + doc_id%5) + y*(1 + doc_id%3)) % 256
             ) // 3 AS g
      FROM grid
    ),
    coef AS (
      SELECT doc_id, variant, vcode, cu.k AS u, cv.k AS v,
             SUM(CAST(g AS BIGINT) * cu.c * cv.c) AS f
      FROM gray
      JOIN cos_t cu ON cu.n = tx
      JOIN cos_t cv ON cv.n = ty
      GROUP BY doc_id, variant, vcode, cu.k, cv.k
    ),
    thr AS (
      SELECT doc_id, variant, f AS t
      FROM (SELECT doc_id, variant, f,
                   ROW_NUMBER() OVER (PARTITION BY doc_id, variant
                                      ORDER BY f) AS rn
            FROM coef WHERE NOT (u = 0 AND v = 0))
      WHERE rn = 32
    ),
    bits AS (
      SELECT c.doc_id, c.variant, c.vcode, c.u * 8 + c.v AS p,
             CASE WHEN c.f > t.t THEN 1 ELSE 0 END AS bit
      FROM coef c
      JOIN thr t ON t.doc_id = c.doc_id AND t.variant = c.variant
    ),
    bands AS (
      SELECT doc_id, variant, vcode, p % 4 AS band_idx,
             CAST(SUM(bit * (1 << (p // 4))) AS INTEGER) AS band_val
      FROM bits GROUP BY doc_id, variant, vcode, p % 4
    ),"""


def _banded_sql(cap: int, hmax: int) -> str:
    """The oracles' banded-Hamming tail (no WITH prefix): from
    ``bands(doc_id, variant, vcode, band_idx, band_val)`` through the
    four-band fingerprint, the hot-bucket cap, the pigeonhole candidate
    join and the Hamming filter to ``kept(ka, kb, da, db, va, vb,
    hamming)``."""
    return f"""fp AS (
      SELECT doc_id, variant, vcode, doc_id * 10 + vcode AS key,
             MAX(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
             MAX(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
             MAX(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
             MAX(CASE WHEN band_idx = 3 THEN band_val END) AS b3
      FROM bands GROUP BY doc_id, variant, vcode
    ),
    buck AS (
      SELECT f.key, f.doc_id, f.variant, f.b0, f.b1, f.b2, f.b3,
             b.band_idx, b.band_val,
             COUNT(*) OVER (PARTITION BY b.band_idx, b.band_val)
               AS bucket_n
      FROM fp f
      JOIN bands b ON b.doc_id = f.doc_id AND b.vcode = f.vcode
    ),
    cool AS (SELECT * FROM buck WHERE bucket_n <= {cap}),
    cand AS (
      SELECT DISTINCT
             a.key AS ka, b.key AS kb, a.doc_id AS da, b.doc_id AS db,
             a.variant AS va, b.variant AS vb,
             a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
             b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
      FROM cool a
      JOIN cool b ON a.band_idx = b.band_idx
                 AND a.band_val = b.band_val AND a.key < b.key
    ),
    pairs AS (
      SELECT *, bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
              + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) AS hamming
      FROM cand
    ),
    kept AS (
      SELECT ka, kb, da, db, va, vb, hamming
      FROM pairs WHERE hamming <= {hmax}
    )"""


# the pair-kind summary of a banded `kept` pair set (image pHash, audio
# fingerprint)
_BANDED_SUMMARY_SQL = """
    SELECT CASE WHEN da = db THEN va || '-' || vb
                ELSE 'cross' END AS pair_kind,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN hamming = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(SUM(hamming) AS BIGINT) AS sum_hamming,
           MIN(da) AS min_doc, MAX(db) AS max_doc
    FROM kept
    GROUP BY CASE WHEN da = db THEN va || '-' || vb ELSE 'cross' END
    """


def _phash_ctes(cap: int = _PHASH_BUCKET_CAP) -> str:
    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        _PHASH_COS_SQL,
    )

    return (
        _PHASH_CTES_TEMPLATE.replace("__PHASH_COS_SQL__", _PHASH_COS_SQL)
        + "\n    "
        + _banded_sql(cap, _PHASH_HAMMING_MAX)
    )


def _phash_oracle() -> str:
    return "WITH " + _phash_ctes() + _BANDED_SUMMARY_SQL


def _decode_payloads(
    pay: DataFrame, corpus: str, kernel, cols: tuple[str, ...]
) -> DataFrame:
    """The one decode runner of the media dedup family: one Arrow pass
    of ``kernel(payload bytes) -> iterable of row tuples`` over a staged
    ``(doc_id, variant, payload)`` frame. ``cols`` are the kernel's
    output columns ("name type"). Returns (key, doc_id, variant,
    *cols), key = doc_id*10 + vcode, vcode = the variant's position in
    multimodal.fixture_variants(corpus)."""
    import pandas as pd

    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        fixture_variants,
    )

    names = [c.split()[0] for c in cols]

    def fp_batches(batches):
        for pdf in batches:
            out = {n: [] for n in ("doc_id", "variant", *names)}
            for doc_id, variant, payload in zip(
                pdf["doc_id"], pdf["variant"], pdf["payload"]
            ):
                for row in kernel(bytes(payload)):
                    out["doc_id"].append(int(doc_id))
                    out["variant"].append(str(variant))
                    for n, v in zip(names, row):
                        out[n].append(v)
            yield pd.DataFrame(out)

    variants = fixture_variants(corpus)
    vcode = F.when(F.col("variant") == variants[0], 0)
    for code, v in enumerate(variants[1:-1], 1):
        vcode = vcode.when(F.col("variant") == v, code)
    return (
        pay.mapInPandas(
            fp_batches, "doc_id bigint, variant string, " + ", ".join(cols)
        )
        .withColumn("vcode", vcode.otherwise(len(variants) - 1))
        .select(
            (F.col("doc_id") * 10 + F.col("vcode")).alias("key"),
            "doc_id", "variant", *names,
        )
    )


# the four interleaved bands of a single-hash kernel (phash64_bands,
# wav_fingerprint_bands), and the Hamming distance between an a-side
# (a0..a3) and a c-side (c0..c3) band quadruple
_BANDS = ("b0 int", "b1 int", "b2 int", "b3 int")
_HAMMING = (
    "bit_count(a0 ^ c0) + bit_count(a1 ^ c1) "
    "+ bit_count(a2 ^ c2) + bit_count(a3 ^ c3)"
)


def _band_rows(fp: DataFrame) -> DataFrame:
    """One row per (fingerprint, band): (key, doc_id, variant, b0..b3,
    band_idx, band_val) — the pigeonhole index rows."""
    return fp.select(
        "key", "doc_id", "variant", "b0", "b1", "b2", "b3",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.col(f"b{i}").alias("band_val"),
                )
                for i in range(4)
            ])
        ).alias("bb"),
    ).select(
        "key", "doc_id", "variant", "b0", "b1", "b2", "b3",
        F.col("bb.band_idx").alias("band_idx"),
        F.col("bb.band_val").alias("band_val"),
    )


def _banded_hamming_pairs(fp: DataFrame, cap: int, hmax: int) -> DataFrame:
    """The banded-Hamming pair join over four-band fingerprints
    ``fp(key, doc_id, variant, b0..b3)``: band explode, drop buckets
    holding more than ``cap`` rows, self-join within (band_idx,
    band_val) on a.key < b.key (never all-pairs; any pair within
    Hamming 3 shares a band by pigeonhole), distinct, keep Hamming <=
    ``hmax``. Returns (ka, kb, da, db, va, vb, hamming)."""
    cool = _band_rows(fp).withColumn(
        "bucket_n",
        F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_val")),
    ).filter(F.col("bucket_n") <= cap)
    a, b = cool.alias("a"), cool.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(
            F.col("a.key").alias("ka"), F.col("b.key").alias("kb"),
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"),
            F.col("a.variant").alias("va"), F.col("b.variant").alias("vb"),
            F.col("a.b0").alias("a0"), F.col("a.b1").alias("a1"),
            F.col("a.b2").alias("a2"), F.col("a.b3").alias("a3"),
            F.col("b.b0").alias("c0"), F.col("b.b1").alias("c1"),
            F.col("b.b2").alias("c2"), F.col("b.b3").alias("c3"),
        )
        .distinct()
        .withColumn("hamming", F.expr(_HAMMING))
        .filter(F.col("hamming") <= hmax)
        .select("ka", "kb", "da", "db", "va", "vb", "hamming")
    )


def _pair_kind(cross: Column) -> Column:
    """'<va>-<vb>' for two variants of one doc, else ``cross``."""
    return F.when(
        F.col("da") == F.col("db"),
        F.concat(F.col("va"), F.lit("-"), F.col("vb")),
    ).otherwise(cross)


def _banded_summary(kept: DataFrame) -> DataFrame:
    """Per pair kind: pairs, exact (Hamming 0) pairs, Hamming sum and
    doc range — the Spark side of _BANDED_SUMMARY_SQL."""
    return kept.withColumn("pair_kind", _pair_kind(F.lit("cross"))).groupBy(
        "pair_kind"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.sum("hamming").cast("long").alias("sum_hamming"),
        F.min("da").alias("min_doc"),
        F.max("db").alias("max_doc"),
    )


def _phash_pair_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared pHash near-dup pair pipeline (decode -> hash -> bands
    -> capped bucket join -> Hamming filter): one row per surviving pair
    (ka, kb, da, db, va, vb, hamming) — dedup_image_phash aggregates it
    by pair kind, dedup_image_phash_clusters closes it transitively."""
    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        phash64_bands,
        stage_phash_payloads,
    )

    pay = spark.read.parquet(stage_phash_payloads(spark, sf_dir))
    # metadata-sized (|docs|+duplicates rows); checkpoint so the banded
    # self-join doesn't run the decode kernel twice
    fp = _decode_payloads(
        pay, "phash", lambda buf: (phash64_bands(buf),), _BANDS
    ).localCheckpoint()
    return _banded_hamming_pairs(fp, _PHASH_BUCKET_CAP, _PHASH_HAMMING_MAX)


@register(
    "dedup_image_phash",
    oracle=_phash_oracle(),
    doc="IMAGE near-dup dedup via perceptual hash — the multimodal "
    "twin of dedup_simhash (pHash: Zauner 2010 / the classic DCT "
    "hash): every variant's REAL bytes (BMP originals, PNG re-encodes "
    "of the same pixels, BMP copies with an edit outside the sampling "
    "grid) decode through multimodal.image_pixels, hash through the "
    "all-integer 8x8-DCT phash64_bands, band into 4 interleaved 16-bit "
    "bands, and candidate-join ONLY within (band_idx, band_val) "
    "buckets under a hot-bucket cap — SimHash's pigeonhole banding, "
    "never all-pairs. Certified: the oracle replays decode-to-verdict "
    "from the pixel formulas; runtime recall pins = every PNG "
    "re-encode (67) and every unsampled-column edit (24) is found at "
    "Hamming 0 (byte-different, perceptually identical — the exact "
    "class cryptographic-hash dedup misses). Scale: |docs|*4 bucket "
    "rows, one shuffle to bucket, per-bucket pairs bounded by the cap "
    "(recall floor: any pair within Hamming 3 shares a band by "
    "pigeonhole); the hash kernel is one Arrow pass, constant output "
    "per image.",
    tags=("extension", "dedup", "multimodal", "phash", "pandas_udf"),
)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        fixture_variant_count,
    )

    out = _banded_summary(_phash_pair_frame(spark, sf_dir))
    # Recall pins (metadata-sized collect): every re-encode and every
    # unsampled-edit duplicate must surface at Hamming 0 — a stride,
    # row-direction, threshold, or banding bug breaks these before it
    # breaks the hash oracle.
    got = {r["pair_kind"]: r for r in out.collect()}
    if got.get("orig-reenc", {"n_exact": 0})["n_exact"] != fixture_variant_count("phash", "reenc"):
        raise AssertionError(f"reenc recall broken: {got.get('orig-reenc')}")
    if got.get("orig-pert", {"n_exact": 0})["n_exact"] != fixture_variant_count("phash", "pert"):
        raise AssertionError(f"pert recall broken: {got.get('orig-pert')}")
    return out


def _phash_clusters_oracle() -> str:
    # Recursive min-label closure over the kept pHash pair graph — the
    # dedup_clusters oracle pattern applied to variant keys; doc_id is
    # recovered arithmetically (key = doc_id*10 + vcode).
    return (
        "WITH RECURSIVE " + _phash_ctes() + """,
    edges AS (
      SELECT ka AS u, kb AS v FROM kept
      UNION
      SELECT kb AS u, ka AS v FROM kept
    ),
    nodes AS (SELECT DISTINCT u AS n FROM edges),
    reach(n, lbl) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.n
    ),
    comp AS (SELECT n, MIN(lbl) AS cluster_id FROM reach GROUP BY n)
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(COUNT(DISTINCT n // 10) AS BIGINT) AS n_docs,
           MIN(n) AS keeper_key,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_removed
    FROM comp
    GROUP BY cluster_id
    """
    )


@register(
    "dedup_image_phash_clusters",
    oracle=_phash_clusters_oracle(),
    doc="Image near-dup CLUSTER formation + canonical-keeper selection — "
    "the step a real multimodal curation pipeline runs after pHash pair "
    "mining (keep ONE copy per perceptual cluster, not per pair): the "
    "pHash pair graph (shared pipeline with dedup_image_phash) closes "
    "transitively via alternating large-star/small-star connected "
    "components (Kiveris et al. SoCC'14 — the SAME distributed CC the "
    "text near-dup clusters use, O(log^2 n) rounds, no driver graph "
    "state), each component keeps its minimum key as the canonical "
    "copy, and the verdict reports per-cluster variant count, distinct "
    "source docs, and removal count. PNG re-encodes and "
    "grid-invisible edits land in their original's cluster at Hamming "
    "0, so the keeper rule provably collapses container changes. "
    "Iterative on both engines but the fixpoint is deterministic -> "
    "full recursive-CTE hash oracle. Scale: edges are the capped "
    "banded pair set (never all-pairs), CC is two groupBy+join "
    "shuffles per round with localCheckpoint lineage truncation.",
    tags=("extension", "dedup", "multimodal", "phash", "clusters"),
)
def dedup_image_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _phash_pair_frame(spark, sf_dir).select(
        F.col("ka").alias("doc_a"), F.col("kb").alias("doc_b")
    )
    labels = connected_component_labels(pairs)
    return labels.groupBy(F.col("lbl").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.countDistinct(F.floor(F.col("n") / 10)).cast("long").alias("n_docs"),
        F.min("n").alias("keeper_key"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_removed"),
    )


# ----------------------- Audio near-dup dedup (r15) ----------------------

_AFP_BUCKET_CAP = 24
_AFP_HAMMING_MAX = 4


@register(
    "dedup_audio_fingerprint",
    # The oracle replays decode -> window energies -> delta-sign bits ->
    # interleaved bands -> capped pigeonhole join -> Hamming verdict from
    # the WAV fixture sample formula (channel 0: c=0 in the generator).
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, 50 + doc_id % 101 AS nf
      FROM documents WHERE doc_id < 200
    ),
    variants AS (
      SELECT doc_id, nf, 'orig' AS variant, 0 AS vcode FROM docs
      UNION ALL SELECT doc_id, nf, 'amp', 1 FROM docs WHERE doc_id % 3 = 0
      UNION ALL SELECT doc_id, nf, 'junk', 2 FROM docs WHERE doc_id % 5 = 0
      UNION ALL SELECT doc_id, nf, 'noise', 3 FROM docs WHERE doc_id % 7 = 0
    ),
    smp AS (
      SELECT v.doc_id, v.variant, v.vcode, v.nf, s.i,
             CASE v.variant
               WHEN 'amp' THEN 2 * (((v.doc_id*31 + s.i*17) % 4001) - 2000)
               WHEN 'noise' THEN (((v.doc_id*31 + s.i*17) % 4001) - 2000)
                                 + CASE WHEN s.i % 7 = 0 THEN 3 ELSE 0 END
               ELSE ((v.doc_id*31 + s.i*17) % 4001) - 2000
             END AS s
      FROM variants v, UNNEST(range(0, v.nf)) AS s(i)
    ),
    en AS (
      SELECT doc_id, variant, vcode,
             (CAST(i AS BIGINT) * {33}) // nf AS w,
             SUM(CAST(s AS BIGINT) * s) AS e
      FROM smp GROUP BY doc_id, variant, vcode, (CAST(i AS BIGINT) * {33}) // nf
    ),
    bits AS (
      SELECT e1.doc_id, e1.variant, e1.vcode, e1.w AS p,
             CASE WHEN e1.e > e2.e THEN 1 ELSE 0 END AS bit
      FROM en e1
      JOIN en e2 ON e2.doc_id = e1.doc_id AND e2.variant = e1.variant
                AND e2.w = e1.w + 1
    ),
    bands AS (
      SELECT doc_id, variant, vcode, p % 4 AS band_idx,
             CAST(SUM(bit * (1 << (p // 4))) AS INTEGER) AS band_val
      FROM bits GROUP BY doc_id, variant, vcode, p % 4
    ),
    """
    + _banded_sql(_AFP_BUCKET_CAP, _AFP_HAMMING_MAX)
    + _BANDED_SUMMARY_SQL,
    doc="AUDIO near-dup dedup via an energy-delta-sign fingerprint — the "
    "audio twin of dedup_image_phash (Haitsma & Kalker 2002 reduced to "
    "its energy axis): every variant's REAL RIFF/WAVE bytes decode "
    "through the chunk walk, channel-0 PCM windows into 33 equal spans, "
    "bit p = energy[p] > energy[p+1], interleaved 8-bit bands, capped "
    "pigeonhole candidate join, Hamming <= 4 verdict. DELTA-SIGN bits "
    "make the fingerprint provably invariant to uniform volume scaling "
    "(x2 re-encode, 67 docs) and container re-encoding (LIST-chunk "
    "splice, 40 docs) — both runtime-pinned at Hamming 0 — while a "
    "real waveform edit (+3 every 7th frame, 29 docs) lands within "
    "Hamming 1 and is caught by the 4-band pigeonhole (guaranteed for "
    "Hamming <= 3). Scale: |clips|*4 bucket rows, one shuffle, "
    "per-bucket pairs bounded by the cap; the fingerprint kernel is "
    "one Arrow pass, constant output per clip regardless of duration.",
    tags=("extension", "dedup", "multimodal", "audio", "pandas_udf"),
)
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        fixture_variant_count,
        stage_audiofp_payloads,
        wav_fingerprint_bands,
    )

    pay = spark.read.parquet(stage_audiofp_payloads(spark, sf_dir))
    fp = _decode_payloads(
        pay, "audiofp", lambda buf: (wav_fingerprint_bands(buf),), _BANDS
    ).localCheckpoint()
    out = _banded_summary(
        _banded_hamming_pairs(fp, _AFP_BUCKET_CAP, _AFP_HAMMING_MAX)
    )
    got = {r["pair_kind"]: r for r in out.collect()}
    if got.get("orig-amp", {"n_exact": 0})["n_exact"] != fixture_variant_count("audiofp", "amp"):
        raise AssertionError(f"amp recall broken: {got.get('orig-amp')}")
    if got.get("orig-junk", {"n_exact": 0})["n_exact"] != fixture_variant_count("audiofp", "junk"):
        raise AssertionError(f"junk recall broken: {got.get('orig-junk')}")
    if got.get("orig-noise", {"n_pairs": 0})["n_pairs"] != fixture_variant_count("audiofp", "noise"):
        raise AssertionError(f"noise recall broken: {got.get('orig-noise')}")
    return out


# ----------------------- Video near-dup dedup (r15) ----------------------
#
# Hot-landmark document-frequency cap, shared by every inverted-index
# query below (video frame-hash near-dup, temporal shingles, the
# video/audio/image containment triad, and the streaming landmark store).
# SCALE.md's r15 overlays measured the uncapped self-join at 953x
# (corpus-wide static intro frame, 20k clips) and ~449,000x (corpus-wide
# silence span, 8k tracks) candidate blow-up — quadratic in corpus size,
# and for containment ALSO verdict-corrupting (silence-on-silence votes
# count quiet air as content). The cap drops every index row whose
# landmark appears more than _LANDMARK_DF_CAP times corpus-wide BEFORE
# the per-key counts and the self-join, so both the n_match evidence and
# the nsa/nsb denominators range over informative landmarks only — the
# same device as the text shingle caps (ngram_jaccard, df<=64 since r4)
# and the pHash band cap (_PHASH_BUCKET_CAP). One window count over the
# index, shuffle-keyed by the landmark exactly like the join that
# follows. The Spark definition is _cap_hot_landmarks: _containment_pairs
# and dedup_video_phash call it, and the streaming landmark drain applies
# it to the prefix df (the store plus the batch). The SQL definition is
# the QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= cap stanza that
# _containment_sql generates for every positional oracle (the video pHash
# oracle's ksigc applies the same QUALIFY to its frame-signature set).

_LANDMARK_DF_CAP = 64


def _cap_hot_landmarks(
    frame: DataFrame, sig_col: str = "shingle", cap: int = _LANDMARK_DF_CAP
) -> DataFrame:
    """Drop index rows whose landmark occurs more than ``cap`` times
    corpus-wide (one window count, same shuffle key as the downstream
    inverted-index self-join)."""
    w = Window.partitionBy(sig_col)
    return (
        frame.withColumn("__lm_df", F.count(F.lit(1)).over(w))
        .filter(F.col("__lm_df") <= cap)
        .drop("__lm_df")
    )


# The positional landmark verdict, one definition per engine. Spark:
# _containment_pairs over N offset dimensions (the df<=_LANDMARK_DF_CAP
# hot-landmark cap, inverted-index votes, the modal offset with ties
# toward the smallest total |offset|, totals, and the keep rule 2*n_match
# >= least(nsa, nsb)); dedup_video_temporal, the video/audio containment
# queries and dedup_image_cropped all call it. SQL: _containment_sql
# generates the same stanza over the same offset dimensions for every
# oracle (temporal, video, audio, image crop and the streaming replay).
# Changing the cap, the keep threshold or the tie-break means changing
# exactly these two definitions. The streaming landmark drain applies the
# same cap through _cap_hot_landmarks to the prefix df (the store plus
# the batch) and keeps its own new-versus-earlier vote.


def _shingle_sql(n: int, sep: str) -> str:
    """The oracles' consecutive-frame shingle CTE: ``sh(key, doc_id,
    variant, t, shingle)`` = the sigs of fsig frames t..t+n-1 joined by
    ``sep`` (the SQL side of _frame_shingles)."""
    sig = f" || '{sep}' || ".join(f"f{i}.sig" for i in range(1, n + 1))
    joins = "".join(
        f"\n      JOIN fsig f{i} ON f{i}.key = f1.key AND f{i}.t = f1.t + {i - 1}"
        for i in range(2, n + 1)
    )
    return f"""
    sh AS (
      SELECT f1.key, f1.doc_id, f1.variant, f1.t,
             {sig} AS shingle
      FROM fsig f1{joins}
    ),
"""


def _containment_sql(
    pos_cols: tuple[str, ...] = ("t",), off_names: tuple[str, ...] = ("off",)
) -> str:
    """The oracles' positional verdict stanza over a landmark stream
    ``sh(key, doc_id, variant, *pos_cols, shingle)``: the hot-landmark
    cap (shc), per-key landmark counts, votes per offset, the modal
    offset, totals and the one-sided keep rule, ending in ``kept(ka, kb,
    da, db, va, vb, best_<off>..., n_match, nsa, nsb)``."""
    offs = ", ".join(f"a.{p} - b.{p} AS {n}" for p, n in zip(pos_cols, off_names))
    return f"""    shc AS (SELECT * FROM sh
            QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {_LANDMARK_DF_CAP}),
    nsh AS (SELECT key, COUNT(*) AS n_sh FROM shc GROUP BY key),
    votes AS (
      SELECT a.key AS ka, b.key AS kb, a.doc_id AS da, b.doc_id AS db,
             a.variant AS va, b.variant AS vb,
             {offs}, COUNT(*) AS cnt
      FROM shc a
      JOIN shc b ON a.shingle = b.shingle AND a.key < b.key
      GROUP BY a.key, b.key, a.doc_id, b.doc_id, a.variant, b.variant,
               {", ".join(f"a.{p} - b.{p}" for p in pos_cols)}
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY ka, kb
               ORDER BY cnt DESC, {" + ".join(f"ABS({n})" for n in off_names)},
                        {", ".join(off_names)}) AS rn
      FROM votes
    ),
    best AS (
      SELECT ka, kb, da, db, va, vb,
             {", ".join(f"{n} AS best_{n}" for n in off_names)}
      FROM ranked WHERE rn = 1
    ),
    tot AS (SELECT ka, kb, SUM(cnt) AS n_match FROM votes GROUP BY ka, kb),
    kept AS (
      SELECT b.*, t.n_match, na.n_sh AS nsa, nb.n_sh AS nsb
      FROM best b
      JOIN tot t ON t.ka = b.ka AND t.kb = b.kb
      JOIN nsh na ON na.key = b.ka
      JOIN nsh nb ON nb.key = b.kb
      WHERE 2 * t.n_match >= LEAST(na.n_sh, nb.n_sh)
    )
"""


def _containment_summary_sql(off_names: tuple[str, ...] = ("off",)) -> str:
    """The containment queries' summary of ``kept``: per (pair_kind,
    relation), pair and full-match counts, the match sum, the range of
    each best offset and the doc range."""
    kind = (
        "CASE WHEN da = db THEN va || '-' || vb\n"
        "                  ELSE 'x:' || va || '-' || vb END"
    )
    rel = (
        "CASE WHEN 2 * n_match >= GREATEST(nsa, nsb) THEN 'neardup'\n"
        "                  ELSE 'contained' END"
    )
    ranges = "".join(
        f"           CAST(MIN(best_{n}) AS INTEGER) AS min_{n},\n"
        f"           CAST(MAX(best_{n}) AS INTEGER) AS max_{n},\n"
        for n in off_names
    )
    return f"""    SELECT {kind} AS pair_kind,
           {rel} AS relation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN n_match = LEAST(nsa, nsb)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
           CAST(SUM(n_match) AS BIGINT) AS sum_match,
{ranges}           MIN(da) AS min_doc, MAX(db) AS max_doc
    FROM kept
    GROUP BY {kind},
             {rel}
    """


def _frame_shingles(fsig: DataFrame, n: int, sep: str) -> DataFrame:
    """Consecutive-frame n-gram shingles of a positional signature frame
    ``fsig(key, doc_id, variant, t, sig)``: one equi-self-join on (key,
    t + i) per further frame, never a per-key window. Returns (key,
    doc_id, variant, t, shingle) with the n sigs joined by ``sep``."""
    sh = fsig.alias("f1")
    for i in range(2, n + 1):
        sh = sh.join(
            fsig.alias(f"f{i}"),
            (F.col(f"f{i}.key") == F.col("f1.key"))
            & (F.col(f"f{i}.t") == F.col("f1.t") + (i - 1)),
        )
    return sh.select(
        F.col("f1.key").alias("key"),
        F.col("f1.doc_id").alias("doc_id"),
        F.col("f1.variant").alias("variant"),
        F.col("f1.t").alias("t"),
        F.concat_ws(sep, *[F.col(f"f{i}.sig") for i in range(1, n + 1)]).alias(
            "shingle"
        ),
    )


def _containment_pairs(
    sh: DataFrame,
    pos_cols: tuple[str, ...],
    off_names: tuple[str, ...],
    cap: int = _LANDMARK_DF_CAP,
) -> DataFrame:
    """One-sided containment pair verdicts over a positional landmark
    frame ``sh(key, doc_id, variant, *pos_cols, shingle)``: df<=64
    hot-landmark cap (_cap_hot_landmarks — drops corpus-wide landmarks
    like silence spans / static frames / flat backgrounds BEFORE the
    counts and the join, per SCALE.md's measured ~449,000x overlay),
    inverted index on shingle (a.key < b.key), offset voting per
    position column, modal offset with ties toward the smallest total
    |offset|, landmark counts, keep iff matches clear HALF THE SMALLER
    side, then classify 'contained' (still short of half the larger
    side) vs 'neardup'. Returns (ka, kb, da, db, va, vb, best_<off>...,
    n_match, nsa, nsb, pair_kind, relation)."""
    # checkpoint the CAPPED landmark frame: the df window runs once, not
    # recomputed by nsh plus both self-join branches (callers checkpoint
    # only their pre-cap decode frames)
    sh = _cap_hot_landmarks(sh, cap=cap).localCheckpoint()
    nsh = sh.groupBy("key").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    offs = [
        (F.col(f"a.{p}") - F.col(f"b.{p}")).alias(n)
        for p, n in zip(pos_cols, off_names)
    ]
    votes = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .groupBy(
            F.col("a.key").alias("ka"), F.col("b.key").alias("kb"),
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"),
            F.col("a.variant").alias("va"), F.col("b.variant").alias("vb"),
            *offs,
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total_abs = None
    for n in off_names:
        total_abs = F.abs(n) if total_abs is None else total_abs + F.abs(n)
    best = (
        votes.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("ka", "kb").orderBy(
                    F.col("cnt").desc(), total_abs,
                    *[F.col(n) for n in off_names],
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("ka", "kb", "da", "db", "va", "vb",
                *[F.col(n).alias(f"best_{n}") for n in off_names])
    )
    tot = votes.groupBy("ka", "kb").agg(F.sum("cnt").alias("n_match"))
    return (
        best.join(tot, ["ka", "kb"])
        .join(nsh.select(F.col("key").alias("ka"),
                         F.col("n_sh").alias("nsa")), "ka")
        .join(nsh.select(F.col("key").alias("kb"),
                         F.col("n_sh").alias("nsb")), "kb")
        # one-sided keep rule: half the SMALLER side's landmarks
        .filter(2 * F.col("n_match") >= F.least("nsa", "nsb"))
        .withColumn(
            "pair_kind",
            _pair_kind(
                F.concat(F.lit("x:"), F.col("va"), F.lit("-"), F.col("vb"))
            ),
        )
        .withColumn(
            "relation",
            F.when(
                2 * F.col("n_match") >= F.greatest("nsa", "nsb"),
                F.lit("neardup"),
            ).otherwise(F.lit("contained")),
        )
    )


def _containment_summary(
    kept: DataFrame, off_names: tuple[str, ...] = ("off",)
) -> DataFrame:
    """Per (pair_kind, relation) of _containment_pairs' verdicts: pair
    and full-match counts, the match sum, the range of each best offset
    and the doc range — the Spark side of _containment_summary_sql."""
    ranges = []
    for n in off_names:
        ranges += [F.min(f"best_{n}").alias(f"min_{n}"),
                   F.max(f"best_{n}").alias(f"max_{n}")]
    return kept.groupBy("pair_kind", "relation").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when(F.col("n_match") == F.least("nsa", "nsb"), 1).otherwise(0)
        ).cast("long").alias("n_full"),
        F.sum("n_match").cast("long").alias("sum_match"),
        *ranges,
        F.min("da").alias("min_doc"),
        F.max("db").alias("max_doc"),
    )


def _gif_fsig_sql() -> str:
    """The video oracles' GIF frame-signature chain (no WITH prefix,
    trailing comma): from ``vf(doc_id, variant, vcode, src, w, h, t,
    torig)`` — output frame t of a variant shows frame torig of doc
    src's fixture stream — through the 8x8 sampling grid, the palette
    index formula, palette-mapped gray, the integer DCT, the rank-32
    threshold and the interleaved bands to ``fsig(doc_id, variant,
    vcode, key, t, sig)``."""
    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        _PHASH_COS_SQL,
    )

    return f"""
    cos_t AS ({_PHASH_COS_SQL}),
    grid AS (
      SELECT vf.doc_id, vf.variant, vf.vcode, vf.src, vf.t, vf.torig,
             xx.tx AS tx, yy.ty AS ty,
             (CAST(xx.tx AS BIGINT) * vf.w) // 8 AS x,
             (CAST(yy.ty AS BIGINT) * vf.h) // 8 AS y
      FROM vf, UNNEST(range(0, 8)) AS xx(tx), UNNEST(range(0, 8)) AS yy(ty)
    ),
    idxs AS (
      SELECT doc_id, variant, vcode, t, tx, ty,
             (src*3 + x*(1 + src%5) + y*(2 + src%3) + torig*29) % 256 AS i
      FROM grid
    ),
    gray AS (
      -- palette-mapped gray: the GIF global-color-table formula
      SELECT doc_id, variant, vcode, t, tx, ty,
             ((i*7 + 1) % 256 + (i*11 + 3) % 256 + (i*13 + 5) % 256) // 3
               AS g
      FROM idxs
    ),
    coef AS (
      SELECT doc_id, variant, vcode, t, cu.k AS u, cv.k AS v,
             SUM(CAST(g AS BIGINT) * cu.c * cv.c) AS f
      FROM gray
      JOIN cos_t cu ON cu.n = tx
      JOIN cos_t cv ON cv.n = ty
      GROUP BY doc_id, variant, vcode, t, cu.k, cv.k
    ),
    thr AS (
      SELECT doc_id, variant, t, f AS thv
      FROM (SELECT doc_id, variant, t, f,
                   ROW_NUMBER() OVER (PARTITION BY doc_id, variant, t
                                      ORDER BY f) AS rn
            FROM coef WHERE NOT (u = 0 AND v = 0))
      WHERE rn = 32
    ),
    bits AS (
      SELECT c.doc_id, c.variant, c.vcode, c.t, c.u * 8 + c.v AS p,
             CASE WHEN c.f > th.thv THEN 1 ELSE 0 END AS bit
      FROM coef c
      JOIN thr th ON th.doc_id = c.doc_id AND th.variant = c.variant
                 AND th.t = c.t
    ),
    bands AS (
      SELECT doc_id, variant, vcode, t, p % 4 AS band_idx,
             CAST(SUM(bit * (1 << (p // 4))) AS INTEGER) AS band_val
      FROM bits GROUP BY doc_id, variant, vcode, t, p % 4
    ),
    fsig AS (
      SELECT doc_id, variant, vcode, doc_id * 10 + vcode AS key, t,
             string_agg(CAST(band_val AS VARCHAR), ':'
                        ORDER BY band_idx) AS sig
      FROM bands GROUP BY doc_id, variant, vcode, t
    ),"""


def _video_phash_oracle() -> str:
    return """
    WITH docs AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
             4 + doc_id % 5 AS nf
      FROM documents WHERE doc_id < 200
    ),
    variants AS (
      SELECT doc_id, w, h, nf, 'orig' AS variant, 0 AS vcode FROM docs
      UNION ALL
      SELECT doc_id, w, h, nf, 'reenc', 1 FROM docs WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, w, h, nf - 1, 'trim', 2 FROM docs WHERE doc_id % 4 = 0
    ),
    vf AS (
      SELECT v.doc_id, v.variant, v.vcode, v.doc_id AS src, v.w, v.h,
             tt.t, tt.t AS torig
      FROM variants v, UNNEST(range(0, v.nf)) AS tt(t)
    ),""" + _gif_fsig_sql() + f"""
    ksig AS (SELECT DISTINCT key, doc_id, variant, sig FROM fsig),
    ksigc AS (SELECT * FROM ksig
              QUALIFY COUNT(*) OVER (PARTITION BY sig) <= {_LANDMARK_DF_CAP}),
    ncnt AS (SELECT key, COUNT(*) AS n_sigs FROM ksigc GROUP BY key),
    shared AS (
      SELECT a.key AS ka, b.key AS kb, a.doc_id AS da, b.doc_id AS db,
             a.variant AS va, b.variant AS vb,
             COUNT(*) AS n_common
      FROM ksigc a
      JOIN ksigc b ON a.sig = b.sig AND a.key < b.key
      GROUP BY a.key, b.key, a.doc_id, b.doc_id, a.variant, b.variant
    ),
    kept AS (
      SELECT s.*, na.n_sigs AS nsa, nb.n_sigs AS nsb
      FROM shared s
      JOIN ncnt na ON na.key = s.ka
      JOIN ncnt nb ON nb.key = s.kb
      WHERE 2 * s.n_common >= LEAST(na.n_sigs, nb.n_sigs)
    )
    SELECT CASE WHEN da = db THEN va || '-' || vb
                ELSE 'cross' END AS pair_kind,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN n_common = GREATEST(nsa, nsb)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_identical,
           CAST(SUM(n_common) AS BIGINT) AS sum_common,
           MIN(da) AS min_doc, MAX(db) AS max_doc
    FROM kept
    GROUP BY CASE WHEN da = db THEN va || '-' || vb ELSE 'cross' END
    """


@register(
    "dedup_video_phash",
    oracle=_video_phash_oracle(),
    doc="VIDEO near-dup dedup via per-frame perceptual hashing — the "
    "third dedup modality (text, image, audio, now video): every "
    "variant is a REAL animated GIF89a (multi-frame LZW streams, "
    "graphic-control + looping extensions — real inter-frame container "
    "structure), decoded frame by frame through decode_gif_frames; "
    "each frame pHashes through the shared integer-DCT core, a video's "
    "fingerprint is its frame-hash SET, and candidates come from an "
    "inverted index on frame hash (videos sharing >= half the smaller "
    "set's hashes pair up) — the standard frame-fingerprint video-dedup "
    "shape, never all-pairs. Certified end to end by the SQL replay "
    "(frames -> DCT -> threshold -> per-frame sig -> overlap verdict); "
    "runtime pins: every comment-extension re-encode (67) is "
    "IDENTICAL-set, every last-frame trim (50) still pairs with its "
    "original (shared-prefix class). Scale: |videos|*frames index rows, "
    "one shuffle on frame hash; hot frame-hashes (corpus-wide static "
    "intro/black frames — SCALE.md's measured 953x overlay) are capped "
    "IN PLAN at df <= 64 (_cap_hot_landmarks, mirrored in the oracle's "
    "ksigc QUALIFY stanza) before the counts and the self-join.",
    tags=("extension", "dedup", "multimodal", "video", "pandas_udf"),
)
def dedup_video_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        fixture_variant_count,
        stage_video_payloads,
        video_frame_sigs,
    )

    pay = spark.read.parquet(stage_video_payloads(spark, sf_dir))
    ksig = (
        _decode_payloads(pay, "video", video_frame_sigs, ("t int", "sig string"))
        .select("key", "doc_id", "variant", "sig")
        .distinct()
    )
    # frame-index-sized (|videos| x <=8 rows); cap BEFORE the checkpoint
    # so the df window is materialized once — not recomputed by ncnt plus
    # both self-join branches — and the self-join never decodes twice
    ksig = _cap_hot_landmarks(ksig, "sig").localCheckpoint()
    ncnt = ksig.groupBy("key").agg(F.count(F.lit(1)).alias("n_sigs"))
    a, b = ksig.alias("a"), ksig.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .groupBy(
            F.col("a.key").alias("ka"), F.col("b.key").alias("kb"),
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"),
            F.col("a.variant").alias("va"), F.col("b.variant").alias("vb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    kept = (
        shared.join(
            ncnt.select(F.col("key").alias("ka"), F.col("n_sigs").alias("nsa")),
            "ka",
        )
        .join(
            ncnt.select(F.col("key").alias("kb"), F.col("n_sigs").alias("nsb")),
            "kb",
        )
        .filter(2 * F.col("n_common") >= F.least("nsa", "nsb"))
        .withColumn("pair_kind", _pair_kind(F.lit("cross")))
    )
    out = kept.groupBy("pair_kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when(F.col("n_common") == F.greatest("nsa", "nsb"), 1).otherwise(0)
        ).cast("long").alias("n_identical"),
        F.sum("n_common").cast("long").alias("sum_common"),
        F.min("da").alias("min_doc"),
        F.max("db").alias("max_doc"),
    )
    got = {r["pair_kind"]: r for r in out.collect()}
    if got.get("orig-reenc", {"n_identical": 0})["n_identical"] != fixture_variant_count("video", "reenc"):
        raise AssertionError(f"reenc recall broken: {got.get('orig-reenc')}")
    if got.get("orig-trim", {"n_pairs": 0})["n_pairs"] != fixture_variant_count("video", "trim"):
        raise AssertionError(f"trim recall broken: {got.get('orig-trim')}")
    return out


# ------------------ Video TEMPORAL near-dup / alignment (r15) ------------


def _video_temporal_oracle() -> str:
    return (
        """
    WITH docs AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
             4 + doc_id % 5 AS nf
      FROM documents WHERE doc_id < 200
    ),
    variants AS (
      SELECT doc_id, w, h, nf, 'orig' AS variant, 0 AS vcode FROM docs
      UNION ALL
      SELECT doc_id, w, h, nf, 'shift', 1 FROM docs WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id, w, h, nf, 'loop', 2 FROM docs WHERE doc_id % 6 = 0
    ),
    vf AS (
      SELECT v.doc_id, v.variant, v.vcode, v.doc_id AS src, v.w, v.h, tt.t,
             CASE v.variant
               WHEN 'shift' THEN (tt.t + 2) % v.nf
               WHEN 'loop' THEN tt.t % v.nf
               ELSE tt.t
             END AS torig
      FROM variants v,
           UNNEST(range(0, CASE WHEN v.variant = 'loop'
                                THEN 2 * v.nf ELSE v.nf END)) AS tt(t)
    ),"""
        + _gif_fsig_sql()
        + _shingle_sql(2, ">")
        + _containment_sql()
        + """
    SELECT CASE WHEN da = db THEN va || '-' || vb
                ELSE 'cross' END AS pair_kind,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN best_off = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_off_zero,
           CAST(SUM(CASE WHEN ABS(best_off) = 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_abs_off_two,
           CAST(SUM(n_match) AS BIGINT) AS sum_match,
           MIN(da) AS min_doc, MAX(db) AS max_doc
    FROM kept
    GROUP BY CASE WHEN da = db THEN va || '-' || vb ELSE 'cross' END
    """
    )


@register(
    "dedup_video_temporal",
    oracle=_video_temporal_oracle(),
    doc="Video TEMPORAL near-dup with ALIGNMENT recovery — the "
    "sequence-aware step beyond dedup_video_phash's set overlap (a "
    "looped stream captured at a different start has the SAME frame "
    "set; only ordering tells you it is the same broadcast): frame "
    "hashes shingle into consecutive 2-grams (one equi-self-join on "
    "frame position, no per-key window), an inverted index on shingle "
    "yields matched position pairs, each match votes its offset "
    "(ta - tb), and the modal offset (ties broken smallest-|off|) IS "
    "the recovered alignment. Certified end to end by the SQL replay; "
    "runtime pins: all 50 shifted clips pair with their originals at "
    "|offset| = 2 (the staged entry-point shift), all 34 doubled "
    "clips at offset 0, zero spurious cross pairs under the "
    "half-overlap rule. Scale: |videos| x frames shingle rows, one "
    "shuffle on shingle; offset voting groups by (pair, offset) — "
    "bounded by clip length, not corpus; hot shingles (static "
    "intro/outro SEQUENCES make corpus-wide 2-grams — SCALE.md r15) "
    "are capped IN PLAN at df <= 64 (_cap_hot_landmarks, mirrored in "
    "the oracle's shc QUALIFY stanza).",
    tags=("extension", "dedup", "multimodal", "video", "temporal"),
)
def dedup_video_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        fixture_variant_count,
        stage_video_temporal_payloads,
        video_frame_sigs,
    )

    pay = spark.read.parquet(stage_video_temporal_payloads(spark, sf_dir))
    fsig = _decode_payloads(
        pay, "vtemporal", video_frame_sigs, ("t int", "sig string")
    ).localCheckpoint()
    # the positional verdict of the containment queries; this query
    # reports cross-doc pairs as 'cross' and ignores the relation
    kept = _containment_pairs(
        _frame_shingles(fsig, 2, ">"), ("t",), ("off",)
    ).withColumn("pair_kind", _pair_kind(F.lit("cross")))
    out = kept.groupBy("pair_kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("best_off") == 0, 1).otherwise(0))
        .cast("long").alias("n_off_zero"),
        F.sum(F.when(F.abs("best_off") == 2, 1).otherwise(0))
        .cast("long").alias("n_abs_off_two"),
        F.sum("n_match").cast("long").alias("sum_match"),
        F.min("da").alias("min_doc"),
        F.max("db").alias("max_doc"),
    )
    got = {r["pair_kind"]: r for r in out.collect()}
    s = got.get("orig-shift", {"n_pairs": 0, "n_abs_off_two": 0})
    n_shift = fixture_variant_count("vtemporal", "shift")
    if (s["n_pairs"], s["n_abs_off_two"]) != (n_shift, n_shift):
        raise AssertionError(f"shift alignment broken: {s}")
    lo = got.get("orig-loop", {"n_pairs": 0, "n_off_zero": 0})
    n_loop = fixture_variant_count("vtemporal", "loop")
    if (lo["n_pairs"], lo["n_off_zero"]) != (n_loop, n_loop):
        raise AssertionError(f"loop alignment broken: {lo}")
    return out


# ------------------ Video clip CONTAINMENT (r15, round-16 plan item) ------


def _video_contained_oracle() -> str:
    return (
        """
    WITH docs AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
             8 + doc_id % 5 AS nf
      FROM documents WHERE doc_id < 200
    ),
    variants AS (
      SELECT doc_id, doc_id AS src, w, h, nf AS len,
             'orig' AS variant, 0 AS vcode, 0 AS strt
      FROM docs
      UNION ALL
      SELECT doc_id, doc_id, w, h, 4, 'clip', 1, 3
      FROM docs WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, doc_id, w, h, 5, 'mut', 2, 1
      FROM docs WHERE doc_id % 5 = 0
      UNION ALL
      SELECT d.doc_id, s.doc_id, s.w, s.h, 4, 'steal', 3, 2
      FROM docs d JOIN docs s ON s.doc_id = d.doc_id + 1
      WHERE d.doc_id % 7 = 0
    ),
    vf AS (
      SELECT v.doc_id, v.variant, v.vcode, v.src, v.w, v.h, tt.t,
             CASE WHEN v.variant = 'mut' AND tt.t = 2 THEN 53
                  ELSE tt.t + v.strt END AS torig
      FROM variants v, UNNEST(range(0, v.len)) AS tt(t)
    ),"""
        + _gif_fsig_sql()
        + _shingle_sql(2, ">")
        + _containment_sql()
        + _containment_summary_sql()
    )


@register(
    "dedup_video_contained",
    oracle=_video_contained_oracle(),
    doc="Video sub-sequence CONTAINMENT — the one-sided step past "
    "dedup_video_temporal's symmetric half-overlap (reference anchor: "
    "SURVEY §2.11 dedup matrix; the reposted-clip shape: clip B is a "
    "SLICE of stream A, so B shares ~all of ITS shingles with A but "
    "only a minority of A's — a symmetric rule normalized by the "
    "larger side misses it entirely). Same shingled frame-hash "
    "inverted index and offset voting as the temporal query; the "
    "verdict changes: a pair is kept when the match count clears HALF "
    "THE SMALLER side's shingles, then classified 'contained' when it "
    "still falls short of half the LARGER side (slice inside a longer "
    "stream) vs 'neardup' (comparable lengths), with the modal offset "
    "recovering WHERE the slice sits. Fixtures: 8..12-frame originals; "
    "mid-slices (all shingles match, offset 3), mutated slices "
    "(middle frame replaced — partial containment, never full), and "
    "clips STOLEN from the next doc's stream (cross-document "
    "containment at offset -2, the scraped-repost case). Certified end "
    "to end by the SQL replay (GIF palette -> DCT -> threshold -> "
    "shingles -> one-sided verdict); runtime pins: 67/67 mid-slices "
    "full-contained at offset 3, 40/40 mutated slices contained but "
    "NEVER full (offset 1), 29/29 stolen clips cross-contained at "
    "offset -2. Scale: identical to the temporal query — |videos| x "
    "frames shingle rows, one shuffle on shingle, offset voting "
    "bounded by clip length; hot shingles (static intro frames — "
    "SCALE.md's measured 953x overlay) are capped IN PLAN at df <= 64 "
    "inside _containment_pairs, mirrored in the oracle's shc stanza.",
    tags=("extension", "dedup", "multimodal", "video", "temporal"),
)
def dedup_video_contained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        fixture_variant_count,
        stage_video_clip_payloads,
        video_frame_sigs,
    )

    pay = spark.read.parquet(stage_video_clip_payloads(spark, sf_dir))
    # frame-index-sized; checkpoint so the shingle self-join and the
    # downstream vote/total/count reuses never re-decode the GIFs
    fsig = _decode_payloads(
        pay, "vclip", video_frame_sigs, ("t int", "sig string")
    ).localCheckpoint()
    out = _containment_summary(
        _containment_pairs(_frame_shingles(fsig, 2, ">"), ("t",), ("off",))
    )
    got = {(r["pair_kind"], r["relation"]): r for r in out.collect()}
    c = got.get(("orig-clip", "contained"),
                {"n_pairs": 0, "n_full": 0, "min_off": None, "max_off": None})
    n_clip = fixture_variant_count("vclip", "clip")
    if (c["n_pairs"], c["n_full"], c["min_off"], c["max_off"]) != (n_clip, n_clip, 3, 3):
        raise AssertionError(f"mid-slice containment broken: {c}")
    m = got.get(("orig-mut", "contained"),
                {"n_pairs": 0, "n_full": 0, "min_off": None, "max_off": None})
    n_mut = fixture_variant_count("vclip", "mut")
    if (m["n_pairs"], m["n_full"], m["min_off"], m["max_off"]) != (n_mut, 0, 1, 1):
        raise AssertionError(f"mutated-slice containment broken: {m}")
    s = got.get(("x:steal-orig", "contained"),
                {"n_pairs": 0, "n_full": 0, "min_off": None, "max_off": None})
    n_steal = fixture_variant_count("vclip", "steal")
    if (s["n_pairs"], s["n_full"], s["min_off"], s["max_off"]) != (n_steal, n_steal, -2, -2):
        raise AssertionError(f"cross-doc containment broken: {s}")
    return out


# ------------------ Audio clip CONTAINMENT (r15) --------------------------


_AUDIO_CLIP_CTES = """
    WITH docs AS (
      SELECT doc_id, 50 + doc_id % 101 AS nf
      FROM documents WHERE doc_id < 200
    ),
    variants AS (
      SELECT doc_id, doc_id AS src, nf AS len,
             'orig' AS variant, 0 AS vcode, 0 AS strt
      FROM docs
      UNION ALL
      SELECT doc_id, doc_id, 24, 'clip', 1, 8
      FROM docs WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, doc_id, 24, 'mut', 2, 8
      FROM docs WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id, doc_id + 1, 24, 'steal', 3, 8
      FROM docs WHERE doc_id % 7 = 0
    ),
    smp AS (
      SELECT v.doc_id, v.variant, v.vcode, s.j,
             ((v.src*31 + (s.j + v.strt)*(s.j + v.strt)*(3 + v.src % 11)
               + (s.j + v.strt)*(17 + v.src % 13)) % 4001) - 2000
             + CASE WHEN v.variant = 'mut' AND s.j IN (10, 11)
                    THEN 7 ELSE 0 END AS s
      FROM variants v, UNNEST(range(0, v.len)) AS s(j)
    ),
    en AS (
      SELECT doc_id, variant, vcode, j // 2 AS t,
             SUM(CAST(s AS BIGINT) * s) AS e
      FROM smp GROUP BY doc_id, variant, vcode, j // 2
      HAVING COUNT(*) = 2
    ),
    fsig AS (
      SELECT doc_id, variant, vcode, doc_id * 10 + vcode AS key, t,
             CAST(e AS VARCHAR) AS sig
      FROM en
    ),""" + _shingle_sql(3, ":")


@register(
    "dedup_audio_contained",
    # The oracle replays decode -> channel-0 two-sample frame energies
    # (HAVING COUNT(*)=2 drops an odd tail) -> positional 3-gram energy
    # landmarks -> inverted-index offset voting -> the one-sided verdict,
    # all from the quadratic fixture stream.
    oracle=_AUDIO_CLIP_CTES + _containment_sql() + _containment_summary_sql(),
    doc="Audio clip CONTAINMENT with offset recovery — the audio twin of "
    "dedup_video_contained and the Shazam shape (Wang 2003) reduced to "
    "its time axis: every variant's REAL RIFF/WAVE bytes decode through "
    "the chunk walk, channel-0 PCM folds into two-sample frame "
    "energies, each positional 3-gram of energies is a LANDMARK, an "
    "inverted index on landmark yields matched position pairs, each "
    "match votes its offset, and the one-sided rule classifies: "
    "'contained' when matches clear half the SMALLER side's landmarks "
    "but not half the LARGER side's (an excerpt inside a longer track), "
    "'neardup' otherwise — with the modal offset recovering WHERE the "
    "excerpt sits. The fixture stream carries doc-dependent QUADRATIC "
    "coefficients: the linear fixture formula makes every doc a "
    "time-shift of every other (simulated: hundreds of spurious "
    "cross-doc alignments), the 1-D version of the pHash slope lesson. "
    "Runtime pins: 67/67 excerpts full-contained at frame offset 4, "
    "40/40 corrupted excerpts contained but NEVER full (offset 4), "
    "29/29 cross-doc excerpts full-contained in the neighbor track at "
    "offset -4. Scale: |clips| x frames landmark rows, one shuffle on "
    "landmark; hot landmarks (silence spans — SCALE.md's measured "
    "~449,000x verdict-corrupting overlay) are capped IN PLAN at "
    "df <= 64 inside _containment_pairs, mirrored in the oracle's shc "
    "stanza; voting is bounded by clip length, not corpus.",
    tags=("extension", "dedup", "multimodal", "audio", "temporal"),
)
def dedup_audio_contained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        fixture_variant_count,
        stage_audio_clip_payloads,
        wav_energy_frames,
    )

    pay = spark.read.parquet(stage_audio_clip_payloads(spark, sf_dir))
    # landmark-stream-sized; checkpoint so the 3-gram joins and the
    # vote/total/count reuses never re-decode the WAVs
    fsig = _decode_payloads(
        pay, "aclip", lambda buf: enumerate(map(str, wav_energy_frames(buf))),
        ("t int", "sig string"),
    ).localCheckpoint()
    out = _containment_summary(
        _containment_pairs(_frame_shingles(fsig, 3, ":"), ("t",), ("off",))
    )
    got = {(r["pair_kind"], r["relation"]): r for r in out.collect()}
    c = got.get(("orig-clip", "contained"),
                {"n_pairs": 0, "n_full": 0, "min_off": None, "max_off": None})
    n_clip = fixture_variant_count("aclip", "clip")
    if (c["n_pairs"], c["n_full"], c["min_off"], c["max_off"]) != (n_clip, n_clip, 4, 4):
        raise AssertionError(f"excerpt containment broken: {c}")
    m = got.get(("orig-mut", "contained"),
                {"n_pairs": 0, "n_full": 0, "min_off": None, "max_off": None})
    n_mut = fixture_variant_count("aclip", "mut")
    if (m["n_pairs"], m["n_full"], m["min_off"], m["max_off"]) != (n_mut, 0, 4, 4):
        raise AssertionError(f"corrupted-excerpt containment broken: {m}")
    s = got.get(("x:steal-orig", "contained"),
                {"n_pairs": 0, "n_full": 0, "min_off": None, "max_off": None})
    n_steal = fixture_variant_count("aclip", "steal")
    if (s["n_pairs"], s["n_full"], s["min_off"], s["max_off"]) != (n_steal, n_steal, -4, -4):
        raise AssertionError(f"cross-doc containment broken: {s}")
    return out


# ------------------ Image CROP containment (r15) --------------------------


def _crop_oracle() -> str:
    # The four 2x2-block corner values, each the quadratic fixture
    # formula at (x0 + 2bx + i, y0 + 2by + j) with the 'mut' block's +9
    # applied inside the mod-256 ring — generated here so the SQL stays
    # structurally identical to _crop_fixture_pixel.
    def corner(i: int, j: int) -> str:
        X = f"(v.x0 + 2*g.bx + {i})"
        Y = f"(v.y0 + 2*g.by + {j})"
        base = (
            f"(v.src*3 + {X}*{X}*(2 + v.src%5) + {X}*(1 + v.src%7)"
            f" + {Y}*{Y}*(3 + v.src%11) + {Y}*(2 + v.src%3)) % 256"
        )
        mut = (
            "CASE WHEN v.variant = 'mut' AND g.bx = 1 AND g.by = 1 "
            "THEN 9 ELSE 0 END"
        )
        return f"(({base}) + {mut}) % 256"

    sel = ",\n             ".join(
        f"{corner(i, j)} AS v{i}{j}" for j in (0, 1) for i in (0, 1)
    )
    return f"""
    WITH docs AS (
      SELECT doc_id, 16 + doc_id % 13 AS w, 12 + doc_id % 7 AS h
      FROM documents WHERE doc_id < 200
    ),
    variants AS (
      SELECT doc_id, doc_id AS src, 0 AS x0, 0 AS y0,
             w // 2 AS bw, h // 2 AS bh, 'orig' AS variant, 0 AS vcode
      FROM docs
      UNION ALL
      SELECT doc_id, doc_id, 4, 2, 4, 3, 'crop', 1
      FROM docs WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, doc_id, 4, 2, 4, 3, 'mut', 2
      FROM docs WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id, doc_id + 1, 4, 2, 4, 3, 'steal', 3
      FROM docs WHERE doc_id % 7 = 0
    ),
    corners AS (
      SELECT v.doc_id, v.variant, v.vcode, g.bx, g.by,
             {sel}
      FROM variants v,
           LATERAL (SELECT bxx.bx, byy.by
                    FROM UNNEST(range(0, v.bw)) AS bxx(bx),
                         UNNEST(range(0, v.bh)) AS byy(by)) AS g
    ),
    sh AS (
      SELECT doc_id, variant, vcode, doc_id * 10 + vcode AS key, bx, by,
             CAST(v00 AS VARCHAR) || ':' || CAST(v10 AS VARCHAR) || ':'
               || CAST(v01 AS VARCHAR) || ':' || CAST(v11 AS VARCHAR)
               AS shingle
      FROM corners
    ),
""" + _containment_sql(("bx", "by"), ("dx", "dy")) + _containment_summary_sql(
        ("dx", "dy")
    )


@register(
    "dedup_image_cropped",
    oracle=_crop_oracle(),
    doc="Image CROP containment — the SPATIAL member of the containment "
    "triad (video/audio cover time; this covers space): a crop is a 2-D "
    "sub-sequence, so the same one-sided machinery runs over 2x2-block "
    "landmarks with TWO-dimensional offset voting — non-overlapping "
    "pixel-block signatures from REAL decoded BMP bytes form an "
    "inverted index, matched block positions vote their (dx, dy), the "
    "modal offset (ties toward the smallest |dx|+|dy|) recovers WHERE "
    "the crop sits, and the verdict is 'contained' when matches clear "
    "half the smaller side's blocks but not half the larger side's. "
    "The fixture stream is quadratic in BOTH axes with doc-dependent "
    "coefficients (a linear gradient makes every doc a spatial shift "
    "of every other — simulated collapse, the 2-D form of the audio "
    "corpus's anti-alias lesson). Runtime pins: 67/67 crops "
    "full-contained at block offset (2,1), 40/40 mutated crops "
    "contained but NEVER full (one corrupted block), 29/29 stolen "
    "crops full-contained in the neighbor image at (-2,-1). Scale: "
    "|images| x blocks landmark rows, one shuffle on signature; flat "
    "backgrounds (the hot-landmark class — worse than 1-D because 2-D "
    "offset voting multiplies span^2 per pair, SCALE.md r16 overlay) "
    "are capped IN PLAN at df <= 64 inside _containment_pairs, "
    "mirrored in the oracle's shc stanza; voting is bounded by crop "
    "area, not corpus.",
    tags=("extension", "dedup", "multimodal", "phash", "temporal"),
)
def dedup_image_cropped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        fixture_variant_count,
        image_block_signatures,
        stage_image_crop_payloads,
    )

    pay = spark.read.parquet(stage_image_crop_payloads(spark, sf_dir))
    # landmark-table-sized; checkpoint so the inverted-index self-join
    # and count reuses never re-decode the BMPs
    lm = _decode_payloads(
        pay, "crop", image_block_signatures,
        ("bx int", "by int", "shingle string"),
    ).localCheckpoint()
    out = _containment_summary(
        _containment_pairs(lm, ("bx", "by"), ("dx", "dy")), ("dx", "dy")
    )
    got = {(r["pair_kind"], r["relation"]): r for r in out.collect()}

    def offs(r):
        return (r["n_pairs"], r["n_full"], r["min_dx"], r["max_dx"],
                r["min_dy"], r["max_dy"])

    empty = {"n_pairs": 0, "n_full": 0, "min_dx": None, "max_dx": None,
             "min_dy": None, "max_dy": None}
    c = got.get(("orig-crop", "contained"), empty)
    n_crop = fixture_variant_count("crop", "crop")
    if offs(c) != (n_crop, n_crop, 2, 2, 1, 1):
        raise AssertionError(f"crop containment broken: {c}")
    m = got.get(("orig-mut", "contained"), empty)
    if offs(m) != (fixture_variant_count("crop", "mut"), 0, 2, 2, 1, 1):
        raise AssertionError(f"mutated-crop containment broken: {m}")
    s = got.get(("x:steal-orig", "contained"), empty)
    n_steal = fixture_variant_count("crop", "steal")
    if offs(s) != (n_steal, n_steal, -2, -2, -1, -1):
        raise AssertionError(f"cross-doc crop containment broken: {s}")
    return out


def exact_collapse_prior_dup_counts(
    d: DataFrame, threshold: float = 0.7, prefix_salt: int = 1
) -> DataFrame:
    """Answer-identical mega-cluster twin of the earlier-near-dup COUNT
    (the streaming LSH verdict semantics: ``n_dup_prior(d) = #{e < d :
    J(d, e) >= threshold}``, Jaccard over distinct word-3-gram shingles):
    collapse EXACT-duplicate content BEFORE any pairwise work, so a
    cluster of m byte-identical docs costs O(m) instead of the O(m^2)
    candidate pairs the direct (band, sig)-bucket or shingle self-join
    probe pays (measured r18, SCALE.md: the blow-up is the streaming
    probe's one uncapped hot key).

    Input ``d``: (doc_id, text). Output: (doc_id, n_dup_prior) equal row
    for row to the direct computation (pinned in tests/test_round18_ops).

    Three stages, all linear outside the REPRESENTATIVE pair probe:
    1. content groups: gkey = md5(text) (128-bit — collision-safe where
       the 8-byte xxhash64 shuffle-key trick documented on dedup_exact is
       not exact enough for an answer-identity claim); per-group
       representative = min doc_id. Identical text => identical distinct
       shingle set => J(d, e) depends only on (G(d), G(e)) — the algebra
       that makes the collapse exact.
    2. near-dup GROUP pairs: exact shingle-Jaccard self-join over ONE doc
       per distinct content. At 100 TB swap this candidate stage for the
       banded-minhash probe (the verify is the same); the point of the
       collapse is that the mega-cluster never reaches it.
    3. expansion, pair-explosion-free: within-group term = (rank of d by
       doc_id in its group) - 1 (earlier identical twins, J = 1); cross
       term = #{partner-group members e < d}, computed with ONE window
       per home group over (member queries UNION partner-member events)
       ordered by doc_id — O(|G| + sum |partner groups|) rows, never
       pairs. A 10^6-doc home group makes that window a single-key
       linear pass (the sessionize_bucketed time-bucket split applies if
       that ever stragglers; it is count arithmetic, not a join).
    """
    g = d.select("doc_id", F.md5(F.col("text")).alias("gkey"))
    reps = g.groupBy("gkey").agg(F.min("doc_id").alias("rep_id"))
    rep_docs = d.join(
        reps, d["doc_id"] == reps["rep_id"]
    ).select("gkey", "text")
    s = rep_docs.select("gkey", F.explode(_shingles(_words())).alias("sh"))
    n_sh = s.groupBy("gkey").agg(F.count(F.lit(1)).alias("n_sh"))
    # Candidate stage with PREFIX FILTERING (All-Pairs/SSJoin; LOSSLESS
    # for a Jaccard threshold, so the answer-identity claim stands):
    # J(a,b) >= t implies |common| >= ceil(t*na), and >= ceil(t*na)
    # common shingles cannot all hide in the last ceil(t*na)-1 positions
    # of a's global-rarity ordering — so every qualifying pair shares a
    # shingle where at least one side holds it in its PREFIX of length
    # n - ceil(t*n) + 1 (rarest-first by (df, sh)). The raw self-join
    # paid C(m,2) pairs on m distinct texts sharing one hot TEMPLATE
    # shingle (17 s -> 343 s from m=2000 to 8000 measured, zero
    # survivors — SCALE.md r18); template shingles are by definition
    # frequent, so they sort LAST and never enter a prefix, while the
    # prefix side of the join stays rare-by-construction.
    df_ = s.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    wp = Window.partitionBy("gkey").orderBy("df", "sh")
    ranked = (
        s.join(df_, "sh")
        .withColumn("pos", F.row_number().over(wp))
        .join(n_sh, "gkey")
    )
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).select("gkey", "sh", "pos", "n_sh")
    # prefix x prefix is lossless: the globally SMALLEST common shingle w
    # of a qualifying pair has at most (c-1) common shingles after it in
    # either set, so its position is <= n - ceil(t*n) + 1 on BOTH sides.
    # The POSITIONAL filter rides inside the join condition (evaluated
    # during the merge, before any materialization): matching at
    # positions (i, j) bounds the overlap by 1 + min(na-i, nb-j), and
    # J >= t needs c*(1+t) >= t*(na+nb); for the smallest common shingle
    # the bound is loosest, so per-row pruning + distinct equals exact
    # pair-level pruning (epsilon keeps the float comparison lossless —
    # it can only ADMIT a candidate the verify then rejects). This is
    # what kills the thin-uniqueness template cluster: docs sharing 5
    # hot shingles out of 9 match only at positions whose residual
    # bound (7) is below the required minoverlap (8) — zero candidates
    # materialize where the raw join produced C(m,2).
    ub = F.lit(1) + F.least(
        F.col("p.n_sh") - F.col("p.pos"), F.col("q.n_sh") - F.col("q.pos")
    )
    # Hot-PREFIX salting knob (r19 — VERDICT r18 item 4, default OFF): at
    # m >= ~10^5 thin-uniqueness template docs, ONE shingle key can sit in
    # every prefix and its in-join enumeration (nothing materializes — the
    # positional bound prunes per row) runs as a single merge-join task
    # (66 s at m=32,000, SCALE.md r18). prefix_salt=S splits that key S
    # ways: the probe side replicates S-fold (explode over 0..S-1), the
    # build side pins each gkey to ONE salt (xxhash64 mod S), and the
    # equality rides the join key — every (p, q) row still meets exactly
    # once (at q's salt), so the candidate set and the answer are
    # IDENTICAL (equal-sums pinned in tests/test_round19_ops.py and
    # measured in tools/measure_prefix_salt.py). Cost when no key is hot:
    # S-fold probe-side shuffle volume — which is why the registered
    # query keeps S=1 and the preflight's max_rep_shingle_df verdict is
    # the dial that should turn it on.
    p_side, q_side = prefix.alias("p"), prefix.alias("q")
    salt_eq = F.lit(True)
    if prefix_salt > 1:
        p_side = prefix.withColumn(
            "psalt",
            F.explode(F.sequence(F.lit(0), F.lit(prefix_salt - 1))),
        ).alias("p")
        q_side = prefix.withColumn(
            "qsalt",
            F.pmod(F.xxhash64("gkey"), F.lit(prefix_salt)).cast("int"),
        ).alias("q")
        salt_eq = F.col("p.psalt") == F.col("q.qsalt")
    cand = (
        p_side.join(
            q_side,
            (F.col("p.sh") == F.col("q.sh"))
            & salt_eq
            & (F.col("p.gkey") != F.col("q.gkey"))
            & (
                ub * F.lit(1.0 + threshold)
                >= F.lit(threshold) * (F.col("p.n_sh") + F.col("q.n_sh"))
                - F.lit(1e-9)
            ),
        )
        .select(
            F.least(F.col("p.gkey"), F.col("q.gkey")).alias("ga"),
            F.greatest(F.col("p.gkey"), F.col("q.gkey")).alias("gb"),
        )
        .distinct()
    )
    common = (
        cand.join(s.alias("a"), F.col("ga") == F.col("a.gkey"))
        .join(
            s.alias("b"),
            (F.col("gb") == F.col("b.gkey"))
            & (F.col("a.sh") == F.col("b.sh")),
        )
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (
        F.col("na.n_sh") + F.col("nb.n_sh") - F.col("n_common")
    )
    gpairs = (
        common.join(n_sh.alias("na"), F.col("ga") == F.col("na.gkey"))
        .join(n_sh.alias("nb"), F.col("gb") == F.col("nb.gkey"))
        .filter(jac >= threshold)
        .select("ga", "gb")
    )
    partners = gpairs.unionByName(
        gpairs.select(F.col("gb").alias("ga"), F.col("ga").alias("gb"))
    )
    events = partners.join(
        g.alias("m"), F.col("gb") == F.col("m.gkey")
    ).select(
        F.col("ga").alias("gkey"),
        F.col("m.doc_id").alias("doc_id"),
        F.lit(1).alias("is_event"),
    )
    queries = g.select("gkey", "doc_id", F.lit(0).alias("is_event"))
    u = queries.unionByName(events)
    wcum = (
        Window.partitionBy("gkey")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cross = (
        u.withColumn(
            "cross_cnt", F.coalesce(F.sum("is_event").over(wcum), F.lit(0))
        )
        .filter(F.col("is_event") == 0)
        .select("gkey", "doc_id", "cross_cnt")
    )
    wr = Window.partitionBy("gkey").orderBy("doc_id")
    # A group whose text yields ZERO shingles (< 3 words) never pairs under
    # shingle Jaccard — not even with its own identical twins (the naive
    # n_common >= 1 join has no rows), so its within-group term must be 0.
    shingled = n_sh.select("gkey", F.lit(True).alias("has_sh"))
    within = g.join(shingled, "gkey", "left").withColumn(
        "rnk",
        F.when(F.col("has_sh").isNotNull(), F.row_number().over(wr) - 1)
        .otherwise(F.lit(0)),
    )
    return within.join(cross, ["gkey", "doc_id"]).select(
        "doc_id",
        (F.col("rnk") + F.col("cross_cnt")).cast("long").alias("n_dup_prior"),
    )


# Exact-Jaccard prior-dup-count oracle over the WHOLE corpus: for each doc,
# its near-dup partners with a smaller doc_id. Shared by THREE queries —
# streaming_dedup_lsh_incremental (banded-LSH recall + incremental index
# bookkeeping), streaming_dedup_compact_store (compaction invisibility on
# the real stores), and dedup_collapse_prior_counts below (the
# exact-collapse algebra) — one semantic, three independently certified
# execution strategies.
PRIOR_DUP_COUNT_ORACLE = """
    WITH pairs AS (
      WITH d AS (SELECT doc_id,
                        list_filter(string_split(text, ' '), x -> x <> '') AS w
                 FROM documents),
      s AS (
        SELECT doc_id, unnest(list_distinct(
                 list_transform(range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
        FROM d
      ),
      n AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b FROM common
      JOIN n na ON na.doc_id = doc_a
      JOIN n nb ON nb.doc_id = doc_b
      WHERE n_common * 1.0 / (na.n_sh + nb.n_sh - n_common) >= 0.7
    ),
    cnt AS (SELECT doc_b AS doc_id, COUNT(*) AS n_dup_prior
            FROM pairs GROUP BY doc_b)
    SELECT d.doc_id,
           CAST(COALESCE(c.n_dup_prior, 0) AS BIGINT) AS n_dup_prior,
           CASE WHEN COALESCE(c.n_dup_prior, 0) > 0
                THEN 'drop' ELSE 'keep' END AS verdict
    FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id
    """


@register(
    "dedup_collapse_prior_counts",
    oracle=PRIOR_DUP_COUNT_ORACLE,
    doc="Exact-collapse earlier-near-dup counts (r18 mega-cluster audit "
    "fix, SCALE.md r18): the same per-doc n_dup_prior/verdict semantics "
    "as streaming_dedup_lsh_incremental, computed by grouping IDENTICAL "
    "content first (md5(text) — 128-bit because this is an answer-"
    "IDENTITY claim, not a shuffle-key trick), probing ONE representative "
    "per distinct text with the exact shingle-Jaccard self-join, and "
    "expanding counts back arithmetically: within-group term = rank-1 "
    "(earlier identical twins, J=1; zero-shingle texts excluded — "
    "shingle Jaccard never pairs them), cross term = windowed count of "
    "earlier partner-group members (queries UNION events per home group "
    "— rows, never pairs). A cluster of m byte-identical docs costs O(m) "
    "instead of the uncapped probes' C(m,2): measured 75.5 s -> 2.1 s at "
    "m=12,000 clones with equal sums, and the blow-up class cannot be "
    "capped instead because the exact-Jaccard oracle does not model "
    "banding. The driver hash match against the SAME oracle as the "
    "streaming queries externally certifies the collapse algebra; "
    "row-level equality to the direct form is additionally pinned in "
    "tests/test_round18_ops.py including the zero-shingle edge. Scale: "
    "one content-hash groupBy + the representative-level pair probe "
    "(swap in banded minhash at 100 TB) + two windows; the only "
    "single-key window rides per-home-group member counts (linear).",
    tags=("dedup", "extension", "near-dup", "skew"),
)
def dedup_collapse_prior_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    counts = exact_collapse_prior_dup_counts(d)
    return counts.select(
        "doc_id",
        "n_dup_prior",
        F.when(F.col("n_dup_prior") > 0, "drop").otherwise("keep").alias("verdict"),
    )


@register(
    "dedup_strategy_preflight",
    oracle="""
    WITH g AS (SELECT doc_id, md5(text) AS gkey FROM documents),
    grp AS (SELECT gkey, COUNT(*) AS m, MIN(doc_id) AS rep_id
            FROM g GROUP BY gkey),
    gm AS (SELECT CAST(SUM(m) AS BIGINT) AS n_docs,
                  CAST(COUNT(*) AS BIGINT) AS n_distinct_content,
                  CAST(MAX(m) AS BIGINT) AS max_content_group,
                  CAST(SUM(m * (m - 1)) / 2 AS BIGINT) AS identical_pair_mass
           FROM grp),
    w AS (SELECT d.doc_id,
                 list_filter(string_split(d.text, ' '), x -> x <> '') AS w
          FROM documents d JOIN grp ON grp.rep_id = d.doc_id),
    s AS (SELECT doc_id, unnest(list_distinct(
            list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
          FROM w),
    sm AS (SELECT CAST(COALESCE(MAX(df), 0) AS BIGINT) AS max_rep_shingle_df
           FROM (SELECT sh, COUNT(*) AS df FROM s GROUP BY sh))
    SELECT n_docs, n_distinct_content, max_content_group,
           identical_pair_mass, max_rep_shingle_df,
           CASE WHEN max_rep_shingle_df >= 2048 THEN 'collapse+prefix'
                WHEN identical_pair_mass >= 3000000 THEN 'exact-collapse'
                ELSE 'plain-probe' END AS strategy
    FROM gm CROSS JOIN sm
    """,
    doc="Strategy-selection pre-flight for the four-strategy near-dup "
    "family (VERDICT r18 item 3): ONE cheap diagnostic pass that "
    "operationalizes SCALE.md r18's measured crossovers BEFORE a corpus "
    "hits the quadratic failure modes. Two linear shuffles — a content "
    "groupBy (the diagnostics_key_skew shape: group sizes + their "
    "C(m,2) pair mass) and a representative-level shingle-df groupBy "
    "(the hot-TEMPLATE detector) — emit one row of corpus diagnostics "
    "plus a strategy verdict: 'plain-probe' (clean corpus: the direct "
    "LSH probe, measured 22.7 s vs the collapse's 37 s at sf0.1 — "
    "collapse overhead only pays when duplication mass exists), "
    "'exact-collapse' when identical-content pair mass Sum C(m_i,2) >= "
    "3e6 (the probes pay ~4.6 us per candidate pair — 8.0 M pairs cost "
    "the plain probe 51.2 s vs 11.9 s collapsed at m=4,000 clones; 3e6 "
    "pairs ~ the collapse's fixed overhead), and 'collapse+prefix' when "
    "any representative-level shingle df >= 2048 (DISTINCT texts "
    "sharing template shingles defeat plain collapse: C(df,2) "
    "materialized candidates, measured 343 s at df=8,000; the "
    "prefix+positional algebra cuts it to 12.0 s and is the only "
    "strategy that survives both pathologies, so it takes precedence). "
    "At 100 TB this runs as a side output of the ingest scan - the "
    "group-size histogram and shingle-df tail are reusable by the "
    "skew guards of every downstream dedup op.",
    tags=("dedup", "extension", "diagnostic", "skew"),
)
def dedup_strategy_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return strategy_preflight_diagnostics(d)


def strategy_preflight_diagnostics(d: DataFrame) -> DataFrame:
    """The preflight over any (doc_id, text) frame — shared by the
    registered query and the verdict-sensitivity pytest (which feeds it
    the SCALE.md r18 pathology corpora and checks the verdict flips)."""
    g = d.select("doc_id", F.md5(F.col("text")).alias("gkey"))
    grp = g.groupBy("gkey").agg(
        F.count(F.lit(1)).alias("m"), F.min("doc_id").alias("rep_id")
    )
    gm = grp.agg(
        F.sum("m").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_content"),
        F.max("m").cast("long").alias("max_content_group"),
        (F.sum(F.col("m") * (F.col("m") - 1)) / 2)
        .cast("long")
        .alias("identical_pair_mass"),
    )
    # r19: spread the representative rows before shingling — documents
    # arrives as one parquet file (one scan task), so the explode +
    # partial-aggregate of ~|corpus| shingles otherwise runs serially
    # (measured: a single 4.3 s task in a 5.9 s query). Round-robin
    # repartition costs one tiny shuffle of the doc rows and buys a
    # core-wide shingle pass; counts are partitioning-invariant.
    s = (
        d.join(grp.select("rep_id"), d["doc_id"] == F.col("rep_id"))
        .repartition(d.sparkSession.sparkContext.defaultParallelism)
        .select(F.explode(_shingles(_words())).alias("sh"))
    )
    sm = (
        s.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.coalesce(F.max("df"), F.lit(0)).cast("long").alias(
            "max_rep_shingle_df"))
    )
    return gm.crossJoin(sm).select(
        "n_docs",
        "n_distinct_content",
        "max_content_group",
        "identical_pair_mass",
        "max_rep_shingle_df",
        F.when(F.col("max_rep_shingle_df") >= 2048, "collapse+prefix")
        .when(F.col("identical_pair_mass") >= 3_000_000, "exact-collapse")
        .otherwise("plain-probe")
        .alias("strategy"),
    )
