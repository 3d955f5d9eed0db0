"""Text analysis for training-data pipelines over ``documents``
(SURVEY.md §2.11 — BASELINE.json mandate; plus the one Hive aggregate family
that needs custom DataFrame code: ngrams/context_ngrams,
``ql/udf/generic/GenericUDAFnGrams.java`` / ``GenericUDAFContextNGrams.java``).

Everything is built-in-function DataFrame code (split / regexp / higher-order
fns — whole-stage codegen); there is no Python in any hot path. Each op is a
per-row map (no shuffle) except the corpus-level aggs, which shuffle only
~|vocab| or ~|groups| rows after map-side partials — the shapes that survive
a 100 TB corpus unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_hive_1_2_2_src_spark.registry import register
from apache_hive_1_2_2_src_spark.tables import load_table

_SQL_WORDS = "list_filter(string_split(text, ' '), x -> x <> '')"

# Tiny per-language stopword lists for the n-gram-heuristic language id.
# (The testdata vocabulary is synthetic English-ish; the heuristic's value is
# the *query shape* — per-language token-hit scoring + argmax — not the lists.)
_STOP = {
    "en": ("the", "a", "and", "of", "to"),
    "fr": ("le", "la", "et", "de", "un"),
    "es": ("el", "la", "y", "de", "un"),
    "de": ("der", "die", "und", "das", "ein"),
}


def _words(col: str = "text") -> Column:
    return F.filter(F.split(F.col(col), " "), lambda x: x != "")


@register(
    "text_token_stats",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, n_chars, {_SQL_WORDS} AS w FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(w)) AS BIGINT) AS total_tokens,
           CAST(ROUND(SUM(len(w)) * 1.0 / COUNT(*), 6) AS DOUBLE) AS avg_tokens,
           CAST(ROUND(CAST(SUM(list_sum(list_transform(w, x -> len(x)))) AS BIGINT)
                      * 1.0 / SUM(len(w)), 6) AS DOUBLE) AS avg_token_len,
           MAX(n_chars) AS max_chars
    FROM d
    GROUP BY lang
    """,
    doc="Corpus token statistics per language: token counting (whitespace "
    "tokenizer), mean tokens/doc, corpus mean token length. One groupBy(lang) "
    "shuffle of ~|langs| rows after map-side partials. Determinism: every "
    "aggregate is an exact integer SUM (cast BIGINT oracle-side — DuckDB "
    "returns HUGEINT→float64 otherwise); the two ratio columns are a single "
    "double division of integer sums, so Spark's parallel partials and "
    "DuckDB's serial sum are bit-identical.",
    tags=("extension", "text"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", _words().alias("w")
    )
    tok_len_sum = F.aggregate(
        F.transform("w", lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    d = d.withColumn("n_tok", F.size("w")).withColumn("tok_len_sum", tok_len_sum)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(F.sum("n_tok") * 1.0 / F.count(F.lit(1)), 6).alias("avg_tokens"),
        F.round(F.sum("tok_len_sum") * 1.0 / F.sum("n_tok"), 6).alias("avg_token_len"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, n_chars, {_SQL_WORDS} AS w,
             len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_runs,
             len(list_filter({_SQL_WORDS},
                             x -> list_contains(['the','a','and','of','to'], x)))
               AS n_stop
      FROM documents
    )
    SELECT doc_id,
           len(w) AS n_tokens,
           n_stop,
           CAST(ROUND(n_stop * 1.0 / len(w), 6) AS DOUBLE) AS stopword_ratio,
           CAST(ROUND(n_chars * 1.0 / len(w), 6) AS DOUBLE) AS chars_per_token,
           CASE WHEN len(w) >= 20 AND n_stop * 1.0 / len(w) BETWEEN 0.05 AND 0.6
                THEN 1 ELSE 0 END AS quality_keep
    FROM d
    """,
    doc="Per-document quality scoring: length, stopword ratio, chars/token, "
    "and a keep/drop gate — the C4/Gopher-style heuristic filter shape. "
    "Pure per-row map; scales linearly, no shuffle.",
    tags=("extension", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text", _words().alias("w")
    )
    stop = list(_STOP["en"])
    n_stop = F.size(F.filter("w", lambda x: x.isin(stop)))
    n_tok = F.size("w")
    ratio = n_stop * 1.0 / n_tok
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stop"),
        F.round(ratio, 6).alias("stopword_ratio"),
        F.round(F.col("n_chars") * 1.0 / n_tok, 6).alias("chars_per_token"),
        F.when((n_tok >= 20) & ratio.between(0.05, 0.6), 1).otherwise(0).alias("quality_keep"),
    )


def _sql_lang_score(lang: str) -> str:
    lits = ",".join(f"'{s}'" for s in _STOP[lang])
    return f"len(list_filter({_SQL_WORDS}, x -> list_contains([{lits}], x)))"


@register(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS actual_lang,
             {_sql_lang_score("en")} AS s_en,
             {_sql_lang_score("fr")} AS s_fr,
             {_sql_lang_score("es")} AS s_es,
             {_sql_lang_score("de")} AS s_de
      FROM documents
    )
    SELECT doc_id, actual_lang,
           CASE WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
                WHEN s_es >= s_de THEN 'es'
                ELSE 'de' END AS predicted_lang,
           s_en, s_fr, s_es, s_de
    FROM scored
    """,
    doc="Language id via stopword-hit scoring + deterministic argmax "
    "(ties break toward en>fr>es>de). The n-gram-heuristic shape: per-row "
    "token-set intersection against per-language lexicons, no shuffle.",
    tags=("extension", "text"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("actual_lang"), _words().alias("w")
    )
    def _hits(stops: tuple[str, ...]):
        # NB: the element lambda must be unary — a second (defaulted) param
        # makes PySpark pass the positional index column into it.
        return F.size(F.filter("w", lambda x: x.isin(*stops)))

    score = {lang: _hits(stops) for lang, stops in _STOP.items()}
    d = d.select(
        "doc_id",
        "actual_lang",
        score["en"].alias("s_en"),
        score["fr"].alias("s_fr"),
        score["es"].alias("s_es"),
        score["de"].alias("s_de"),
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de")),
            "en",
        )
        .when((F.col("s_fr") >= F.col("s_es")) & (F.col("s_fr") >= F.col("s_de")), "fr")
        .when(F.col("s_es") >= F.col("s_de"), "es")
        .otherwise("de")
    )
    return d.select(
        "doc_id", "actual_lang", pred.alias("predicted_lang"), "s_en", "s_fr", "s_es", "s_de"
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
           length(text) AS raw_len
    FROM documents
    """,
    doc="Document fingerprinting: md5 over whitespace-normalized lowercased "
    "text — the canonical content-addressable dedup key (cheaper than "
    "storing text; the 100 TB exact-dedup groupBy key).",
    tags=("extension", "text"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return d.select(
        "doc_id", F.md5(norm).alias("fp"), F.length("text").alias("raw_len")
    )


@register(
    "text_ngrams_top",
    oracle=f"""
    WITH d AS (SELECT {_SQL_WORDS} AS w FROM documents),
    grams AS (
      SELECT unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i+1])) AS bigram
      FROM d
    )
    SELECT bigram, COUNT(*) AS n
    FROM grams
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 25
    """,
    doc="ngrams(tokens, 2, k): corpus top-25 bigrams — the Hive UDAF "
    "(GenericUDAFnGrams.java) re-expressed as transform+explode+groupBy+"
    "top-k; partial aggregation caps the shuffle at ~|distinct bigrams|.",
    tags=("extension", "text", "ngrams"),
)
def text_ngrams_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(_words().alias("w"))
    idx = F.when(F.size("w") >= 2, F.sequence(F.lit(0), F.size("w") - 2)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("w"), i + F.lit(1)), F.element_at(F.col("w"), i + F.lit(2))
        ),
    )
    return (
        d.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(25)
    )


@register(
    "text_context_ngrams",
    oracle=f"""
    WITH d AS (SELECT {_SQL_WORDS} AS w FROM documents),
    grams AS (
      SELECT unnest(list_transform(range(1, len(w)),
                                   i -> CASE WHEN w[i] = 'data' THEN w[i+1] END)) AS nxt
      FROM d
    )
    SELECT nxt AS follower, COUNT(*) AS n
    FROM grams
    WHERE nxt IS NOT NULL
    GROUP BY nxt
    ORDER BY n DESC, follower
    LIMIT 15
    """,
    doc="context_ngrams(tokens, ['data', NULL], k): top followers of a "
    "context word (GenericUDAFContextNGrams.java) — the NULL slot becomes "
    "a conditional transform + explode + top-k.",
    tags=("extension", "text", "ngrams"),
)
def text_context_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(_words().alias("w"))
    idx = F.when(F.size("w") >= 2, F.sequence(F.lit(0), F.size("w") - 2)).otherwise(
        F.array().cast("array<int>")
    )
    nxt = F.transform(
        idx,
        lambda i: F.when(
            F.element_at(F.col("w"), i + F.lit(1)) == "data",
            F.element_at(F.col("w"), i + F.lit(2)),
        ),
    )
    return (
        d.select(F.explode(nxt).alias("follower"))
        .filter(F.col("follower").isNotNull())
        .groupBy("follower")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("follower"))
        .limit(15)
    )


@register(
    "text_token_count_regex",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
             AS n_bpe_ish_tokens,
           len(regexp_extract_all(text, '[0-9]+')) AS n_numbers
    FROM documents
    WHERE doc_id < 250
    """,
    doc="BPE-ish regex token counting (alpha runs | digit runs | single "
    "punctuation) — the pre-tokenizer count used for corpus budgeting; "
    "regexp_extract_all stays JVM-side.",
    tags=("extension", "text"),
)
def text_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    pat = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias("n_bpe_ish_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), 0)).alias("n_numbers"),
    )


def _sql_lang_score_w(lang: str) -> str:
    lits = ",".join(f"'{s}'" for s in _STOP[lang])
    return f"len(list_filter(w, x -> list_contains([{lits}], x)))"


@register(
    "pipeline_curate_corpus",
    oracle=f"""
    WITH amplified AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    ),
    feat AS (SELECT doc_id, text, {_SQL_WORDS} AS w FROM amplified),
    gated AS (
      SELECT doc_id, text, w FROM feat
      WHERE len(w) >= 20
        AND len(list_filter(w, x -> list_contains(['the','a','and','of','to'], x)))
            * 1.0 / len(w) BETWEEN 0.05 AND 0.6
    ),
    langed AS (
      SELECT doc_id, w,
             {_sql_lang_score_w("en")} AS s_en,
             {_sql_lang_score_w("fr")} AS s_fr,
             {_sql_lang_score_w("es")} AS s_es,
             {_sql_lang_score_w("de")} AS s_de,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM gated
    ),
    kept AS (
      SELECT doc_id, w, fp,
             CASE WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
                  WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
                  WHEN s_es >= s_de THEN 'es'
                  ELSE 'de' END AS predicted_lang
      FROM langed
      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    )
    SELECT predicted_lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(w)) AS BIGINT) AS total_tokens,
           CAST(ROUND(SUM(len(w)) * 1.0 / COUNT(*), 6) AS DOUBLE) AS avg_tokens
    FROM kept
    GROUP BY predicted_lang
    """,
    doc="END-TO-END curation pipeline composite — the §2.11 stages chained "
    "the way a production corpus build runs them: duplicate-amplified "
    "input → quality gate (C4-style length + stopword-ratio filter) → "
    "language id (stopword argmax) → exact dedup on the normalized "
    "fingerprint (keep lowest doc_id, window on fp) → per-language corpus "
    "stats. One narrow pass for gate+langid+fp (no shuffle), one window "
    "shuffle on fp (the dedup key), one final ~|langs| aggregate — three "
    "shuffles total at any corpus size. All-integer sums (determinism "
    "rules, registry.py).",
    tags=("extension", "text", "pipeline"),
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    amp = d.unionAll(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    feat = amp.select("doc_id", "text", _words().alias("w"))
    n_tok = F.size("w")
    n_stop = F.size(F.filter("w", lambda x: x.isin(list(_STOP["en"]))))
    gated = feat.filter((n_tok >= 20) & (n_stop * 1.0 / n_tok).between(0.05, 0.6))

    def _hits(stops: tuple[str, ...]):
        return F.size(F.filter("w", lambda x: x.isin(*stops)))

    s = {lang: _hits(stops) for lang, stops in _STOP.items()}
    pred = (
        F.when((s["en"] >= s["fr"]) & (s["en"] >= s["es"]) & (s["en"] >= s["de"]), "en")
        .when((s["fr"] >= s["es"]) & (s["fr"] >= s["de"]), "fr")
        .when(s["es"] >= s["de"], "es")
        .otherwise("de")
    )
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    langed = gated.select(
        "doc_id", "w", pred.alias("predicted_lang"), fp.alias("fp")
    )
    kept = (
        langed.withColumn(
            "rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return kept.groupBy("predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("w")).alias("total_tokens"),
        F.round(F.sum(F.size("w")) * 1.0 / F.count(F.lit(1)), 6).alias("avg_tokens"),
    )


@register(
    "text_contamination_check",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    g AS (
      SELECT doc_id,
             UNNEST(list_distinct(list_transform(
               generate_series(1, len(w) - 3),
               i -> array_to_string(w[i:i+3], ' ')))) AS gram
      FROM d
    ),
    eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    tg AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
    SELECT t.doc_id,
           COUNT(*) AS n_grams,
           COUNT(e.gram) AS n_contaminated,
           CAST(ROUND(COUNT(e.gram) * 1.0 / COUNT(*), 6) AS DOUBLE)
             AS contamination_ratio
    FROM tg t LEFT JOIN eg e ON t.gram = e.gram
    GROUP BY t.doc_id
    HAVING COUNT(e.gram) > 0
    """,
    doc="Benchmark-contamination detection (the GPT-3/Pile 13-gram method, "
    "4-grams here so the short synthetic docs actually collide): a held-out "
    "eval split (doc_id % 97 = 0 stands in for the benchmark suite) "
    "contributes its distinct word 4-grams; every training doc reports how "
    "many of its own distinct 4-grams collide. Per-doc grams are deduped MAP-SIDE "
    "(array_distinct before explode), the eval gram set is tiny by "
    "construction (real benchmark suites are ~MBs) so the probe join is a "
    "BROADCAST — the only shuffle is the final groupBy(doc_id), keyed by "
    "the same column the explode preserved. At 100 TB: identical plan; the "
    "eval set is a static broadcast artifact rebuilt only when benchmarks "
    "change. All counts are exact BIGINTs; the ratio is one division of "
    "two ints, rounded — bit-stable cross-engine.",
    tags=("extension", "text", "ngrams"),
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    grams8 = F.when(
        F.size("w") >= 4,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 3),
                lambda i: F.array_join(F.slice(F.col("w"), i, F.lit(4)), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", F.explode(grams8).alias("gram"))
    eg = (
        g.filter(F.col("doc_id") % 97 == 0)
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tg = g.filter(F.col("doc_id") % 97 != 0)
    return (
        tg.join(F.broadcast(eg), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
            F.round(F.count("hit") * 1.0 / F.count(F.lit(1)), 6).alias(
                "contamination_ratio"
            ),
        )
        .filter(F.col("n_contaminated") > 0)
    )


@register(
    "text_unigram_rarity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_WORDS}) AS t FROM documents
    ),
    vocab AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    band AS (
      SELECT t, CAST(length(format('{{:b}}', c)) - 1 AS INT) AS r FROM vocab
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(r) AS BIGINT) AS sum_band,
           ROUND(CAST(SUM(r) AS DOUBLE) / COUNT(*), 6) AS avg_freq_band
    FROM tok JOIN band USING (t)
    GROUP BY doc_id
    """,
    doc="Unigram-rarity quality score (the CCNet-style perplexity proxy a "
    "curation pipeline runs before training): corpus unigram counts -> "
    "per-token frequency band floor(log2(count)) -> per-doc token count, "
    "band sum, and mean band (LOW mean = rare/OOV-heavy doc, flagged for "
    "review; HIGH = common boilerplate). The band is computed as "
    "length(bin(count))-1 — INTEGER-EXACT in both engines, sidestepping "
    "log() ulp divergence that would make a float score oracle-fragile; "
    "only the final mean is a double (exact IEEE division + round 6). "
    "Scale: one vocab-sized groupBy, then a token->band join (AQE "
    "broadcasts the vocab side while it fits; becomes a shuffle join keyed "
    "by token beyond that), then a per-doc agg with map-side partials.",
    tags=("extension", "text", "quality"),
)
def text_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_words()).alias("t"))
    band = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("t", (F.length(F.bin("c")) - 1).cast("int").alias("r"))
    )
    return (
        tok.join(band, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("r").alias("sum_band"),
            F.round(F.sum("r").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_freq_band"
            ),
        )
    )


@register(
    "text_pii_scrub",
    oracle="""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or call 555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS s
      FROM documents WHERE doc_id < 200
    ),
    scrubbed AS (
      SELECT doc_id, s,
             regexp_replace(
               regexp_replace(s, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
               '555-[0-9]{4}', '<PHONE>', 'g') AS clean
      FROM synth
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(s, '[a-z0-9._]+@[a-z0-9.]+')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(s, '555-[0-9]{4}')) AS INT) AS n_phones,
           (NOT regexp_matches(clean, '[a-z0-9._]+@[a-z0-9.]+')
            AND NOT regexp_matches(clean, '555-[0-9]{4}')) AS pii_free,
           right(clean, 30) AS tail30
    FROM scrubbed
    """,
    doc="PII scrubbing (the redaction pass every training-data pipeline "
    "runs): deterministic synthetic PII (an email + phone derived from "
    "doc_id — the corpus itself is PII-free) appended to each doc, then "
    "regex-redacted to <EMAIL>/<PHONE> placeholders; outputs per-doc match "
    "counts, a none-left flag, and the scrubbed tail for value-level "
    "verification. Pure per-row regexp_replace/extract_all in codegen — "
    "no shuffle, no UDF; the embarrassingly-parallel shape that saturates "
    "a full-corpus scan. Patterns are intersection-of-dialects (character "
    "classes only) so Spark's Java regex and DuckDB's RE2 agree exactly.",
    tags=("extension", "text", "pii"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    s = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" now"),
    )
    email, phone = "[a-z0-9._]+@[a-z0-9.]+", "555-[0-9]{4}"
    synth = d.select("doc_id", s.alias("s"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("s"), email, "<EMAIL>"), phone, "<PHONE>"
    )
    scrubbed = synth.withColumn("clean", clean)
    return scrubbed.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(s, '{email}', 0)")).alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(s, '{phone}', 0)")).alias("n_phones"),
        (~F.col("clean").rlike(email) & ~F.col("clean").rlike(phone)).alias("pii_free"),
        F.substring(F.col("clean"), -30, 30).alias("tail30"),
    )


@register(
    "text_repetition_filter",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ),
    ok AS (SELECT * FROM w WHERE len(w) >= 4),
    g AS (
      SELECT doc_id, 2 AS n, unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS gram
      FROM ok
      UNION ALL
      SELECT doc_id, 3 AS n, unnest(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
      FROM ok
    ),
    c AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY doc_id, n, gram)
    SELECT doc_id,
           CAST(SUM(c) FILTER (n = 2) AS BIGINT) AS n_bigrams,
           ROUND(CAST(MAX(c) FILTER (n = 2) AS DOUBLE)
                 / SUM(c) FILTER (n = 2), 6) AS top_bigram_frac,
           ROUND(CAST(COALESCE(SUM(c) FILTER (n = 3 AND c > 1), 0) AS DOUBLE)
                 / SUM(c) FILTER (n = 3), 6) AS dup_trigram_frac,
           (CAST(MAX(c) FILTER (n = 2) AS DOUBLE)
              / SUM(c) FILTER (n = 2) <= 0.20
            AND CAST(COALESCE(SUM(c) FILTER (n = 3 AND c > 1), 0) AS DOUBLE)
              / SUM(c) FILTER (n = 3) <= 0.30) AS keep
    FROM c
    GROUP BY doc_id
    """,
    doc="Repetition-based quality filter (Gopher/MassiveText rules, Rae et "
    "al. 2021 appendix A1.1 — the within-document repetition signals every "
    "crawl-curation pipeline applies before training): per document, the "
    "fraction of 2-gram occurrences taken by the single most frequent "
    "2-gram (top_bigram_frac, Gopher threshold 0.20) and the fraction of "
    "3-gram occurrences that are repeats (dup_trigram_frac, threshold "
    "0.30), plus the combined keep flag. Token-count fractions rather than "
    "Gopher's character fractions (and word n-grams rather than its "
    "line-level duplicate rules — this corpus has no newlines); the "
    "thresholds and signal shapes are the published ones. Distributed "
    "shape: explode tagged 2-/3-grams -> count per (doc, n, gram) -> one "
    "per-doc conditional agg — two shuffles, both linear in corpus size, "
    "NO quadratic within-doc array scan (transform+filter mode-finding is "
    "O(len²) per doc and would die on 10k-word documents at 100 TB). "
    "Fractions are single IEEE divisions of exact integer sums.",
    tags=("extension", "text", "quality"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", _words().alias("w")).filter(F.size("w") >= 4)

    def grams(n: int) -> Column:
        return F.expr(
            f"transform(sequence(0, size(w) - {n}), x -> "
            + "concat_ws(' ', "
            + ", ".join(f"w[x + {k}]" for k in range(n))
            + "))"
        )

    tagged = w.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(grams(2), lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram"))),
                F.transform(grams(3), lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram"))),
            )
        ).alias("t"),
    ).select("doc_id", F.col("t.n").alias("n"), F.col("t.gram").alias("gram"))
    counts = tagged.groupBy("doc_id", "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    two, three = F.col("n") == 2, F.col("n") == 3
    top2 = F.max(F.when(two, F.col("c"))).cast("double")
    tot2 = F.sum(F.when(two, F.col("c")))
    dup3 = F.coalesce(F.sum(F.when(three & (F.col("c") > 1), F.col("c"))), F.lit(0)).cast("double")
    tot3 = F.sum(F.when(three, F.col("c")))
    return counts.groupBy("doc_id").agg(
        tot2.alias("n_bigrams"),
        F.round(top2 / tot2, 6).alias("top_bigram_frac"),
        F.round(dup3 / tot3, 6).alias("dup_trigram_frac"),
        ((top2 / tot2 <= 0.20) & (dup3 / tot3 <= 0.30)).alias("keep"),
    )


@register(
    "text_chunk_windows",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    ok AS (SELECT doc_id, w, len(w) AS n FROM w WHERE len(w) >= 1),
    chunks AS (
      SELECT doc_id, n, CAST(i AS INT) AS chunk_no,
             i * 24 AS start_tok,
             LEAST(i * 24 + 32, n) AS end_tok
      FROM ok, UNNEST(range(0, CAST(CEIL(GREATEST(n - 8, 1) / 24.0) AS BIGINT)))
             AS t(i)
    )
    SELECT doc_id,
           chunk_no,
           CAST(start_tok AS INT) AS start_tok,
           CAST(end_tok - start_tok AS INT) AS chunk_len,
           CAST(end_tok = n AS BOOLEAN) AS is_last
    FROM chunks
    """,
    doc="Sliding-window document chunking (the fixed-context splitting step "
    "every LLM training pipeline runs between tokenization and packing — "
    "context 32 tokens, stride 24, i.e. 8-token overlap, scaled-down "
    "stand-ins for 2048/1792): each doc emits ceil(max(n-overlap,1)/stride) "
    "chunk rows with (start, length, is_last); the last chunk is short "
    "rather than padded, and every token belongs to >=1 chunk with "
    "consecutive chunks overlapping by exactly context-stride tokens. "
    "Pure codegen: transform(sequence(...)) builds the chunk index list "
    "per row and explode fans it out — a per-row map with NO shuffle and "
    "no Python, so it runs at scan speed on any corpus. Emitting (doc_id, "
    "offsets) instead of materialized token slices keeps the output "
    "narrow; the training loader slices by offset.",
    tags=("extension", "text", "packing"),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    context, stride = 32, 24
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", _words().alias("w")).filter(F.size("w") >= 1)
    n = F.size("w")
    n_chunks = F.ceil(F.greatest(n - (context - stride), F.lit(1)) / F.lit(stride))
    return (
        w.select(
            "doc_id",
            n.alias("n"),
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias(
                "chunk_no"
            ),
        )
        .select(
            "doc_id",
            "chunk_no",
            (F.col("chunk_no") * stride).cast("int").alias("start_tok"),
            (
                F.least(F.col("chunk_no") * stride + context, F.col("n"))
                - F.col("chunk_no") * stride
            ).cast("int").alias("chunk_len"),
            (F.least(F.col("chunk_no") * stride + context, F.col("n")) == F.col("n"))
            .alias("is_last"),
        )
    )


def tfidf_cosine_pairs(
    w0: DataFrame, *, threshold: float = 0.35, df_min: int = 2, df_max: int = 64
) -> DataFrame:
    """TF-IDF cosine pairs over a (doc_id, w array<string>) frame (terms =
    word 3-gram shingles, weights ROUND(tf/df, 9) as DECIMAL(18,9), dots
    from a term-keyed self-join bounded by the df in [df_min, df_max] cap —
    candidate complexity Sum_term C(df, 2), never all-pairs; the scale
    property test_scale_stress pins that bound on a 10x-duplicated
    overlay). ``threshold`` < 0 returns every candidate pair (the stress
    tests' pre-filter view). Factored out of the registered query so
    stress tests can run it on synthetic corpora."""
    grams3 = F.expr(
        "transform(sequence(0, size(w) - 3), x -> "
        "concat_ws(' ', w[x], w[x + 1], w[x + 2]))"
    )
    # r19 note: repartition-before-explode and spread-before-checkpoint
    # were A/B-tested here and REVERTED — the explode fuses with the tf
    # partial aggregate in the scan task, so shuffling raw docs first
    # read ~0.3 s slower per rep at sf0.1.
    tok = w0.select("doc_id", F.explode(grams3).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(df_min, df_max))
    )
    w = tf.join(df, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf").cast("double") / F.col("df"), 9)
        .cast("decimal(18,9)")
        .alias("w"),
    )
    # The weights frame feeds FOUR consumers (norm + both sides of the dot
    # self-join); without materialization each re-runs the trigram explode
    # + two groupBys over the full corpus — measured 11 s -> ~4 s at sf0.1.
    # localCheckpoint both materializes it (size ~ |doc,term| pairs, far
    # smaller than the exploded token stream) and truncates the lineage;
    # on a cluster this is the persisted postings-list artifact every
    # TF-IDF pipeline materializes anyway.
    w = w.localCheckpoint(eager=False)
    # r20 note: localCheckpoint(norm) was A/B-tested and REVERTED
    # ([6.4, 4.3, 3.9, 3.9] with vs [6.1, 4.2, 3.5, 3.4] without): the
    # na/nb broadcast builds that each compute this aggregation run
    # CONCURRENTLY under AQE, so caching one serializes them instead of
    # deduplicating work.
    # (A doc_id-keyed repartition before the aggregation — moving the
    # decimal multiplies post-shuffle — also measured as a wash:
    # [6.5, 4.1, 3.4, 3.5]. The row's remaining cost is the
    # decimal-exact postings self-join, the operator's determinism
    # floor.)
    norm = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a, b = w.alias("a"), w.alias("b")
    dot = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dp"))
    )
    na, nb = norm.alias("na"), norm.alias("nb")
    cos = F.col("dp").cast("double") / (
        F.sqrt(F.col("na.n2").cast("double")) * F.sqrt(F.col("nb.n2").cast("double"))
    )
    return (
        dot.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .filter(cos >= threshold)
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
    )


@register(
    "text_tfidf_cosine",
    oracle=f"""
    WITH w0 AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS term
      FROM w0 WHERE len(w) >= 3
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      HAVING COUNT(*) BETWEEN 2 AND 64
    ),
    w AS (
      SELECT doc_id, term,
             CAST(ROUND(CAST(tf AS DOUBLE) / df, 9) AS DECIMAL(18,9)) AS w
      FROM tf JOIN df USING (term)
    ),
    norm AS (SELECT doc_id, SUM(w * w) AS n2 FROM w GROUP BY doc_id),
    dot AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dp
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(dp AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                 6) AS cosine
    FROM dot
    JOIN norm na ON na.doc_id = doc_a
    JOIN norm nb ON nb.doc_id = doc_b
    WHERE CAST(dp AS DOUBLE)
          / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.35
    """,
    doc="TF-IDF cosine text similarity via sparse inverted-index dot "
    "products — the classic lexical-similarity path (complementing the "
    "embedding-cosine ops). Terms are word 3-gram shingles, not unigrams: "
    "the synthetic corpus has a ~31-word vocabulary whose every unigram "
    "df is corpus-scale (nothing would survive a hot-term cap), while the "
    "shingle space is large and discriminative — the same reason the "
    "Jaccard near-dup path shingles. Per-(doc,term) weight tf/df, "
    "per-doc norms, "
    "and pairwise dot products from a TERM-KEYED self-join — complexity "
    "Σ_term df², bounded by the same df∈[2,64] hot-term cap as the "
    "n-gram Jaccard path (df=1 terms can't pair; df>64 boilerplate terms "
    "would go quadratic at corpus scale), never an all-pairs join. "
    "Determinism across engines: weights are ROUND(tf/df, 9) cast to "
    "DECIMAL(18,9) — the IEEE division is identical in both engines and "
    "with df<=64 every binary-terminating quotient terminates before the "
    "9th decimal (no round-tie divergence is possible) — so dots and "
    "norms are exact parallel-safe DECIMAL sums; only the final cosine is "
    "floating (sqrt is correctly-rounded IEEE). Scale: two groupBys + one "
    "capped self-join, all shuffle-keyed; same shape at 5k or 5B docs.",
    tags=("extension", "text", "similarity"),
)
def text_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w0 = d.select("doc_id", _words().alias("w")).filter(F.size("w") >= 3)
    return tfidf_cosine_pairs(w0, threshold=0.35)


@register(
    "text_contamination_apply",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    g AS (
      SELECT doc_id,
             UNNEST(list_distinct(list_transform(
               generate_series(1, len(w) - 3),
               i -> array_to_string(w[i:i+3], ' ')))) AS gram
      FROM d
    ),
    eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    ratio AS (
      SELECT t.doc_id,
             COUNT(e.gram) * 1.0 / COUNT(*) AS r
      FROM (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0) t
      LEFT JOIN eg e ON t.gram = e.gram
      GROUP BY t.doc_id
    ),
    train AS (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0),
    verdict AS (
      SELECT train.doc_id, COALESCE(ratio.r, 0) >= 0.25 AS drop_it
      FROM train LEFT JOIN ratio USING (doc_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN drop_it THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN NOT drop_it THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           MIN(CASE WHEN NOT drop_it THEN doc_id END) AS first_kept,
           MAX(CASE WHEN drop_it THEN doc_id END) AS last_dropped
    FROM verdict
    """,
    doc="Contamination APPLY + removal audit (the publishing step after "
    "text_contamination_check, mirroring dedup_apply_keepers for the dedup "
    "family): training docs whose contaminated-4-gram ratio >= 0.25 are "
    "dropped; the audit reports train/dropped/kept counts plus boundary "
    "ids, the reconciliation a pipeline gates a corpus release on "
    "(n_dropped + n_kept == n_train is checkable from the output). Docs "
    "too short to produce 4-grams have ratio 0 and are kept — pinned via "
    "the COALESCE against the full training roster, so the apply step can "
    "never silently drop unscored docs. Same broadcast-probe plan as the "
    "check; one extra roster join, still a single groupBy shuffle.",
    tags=("extension", "text", "ngrams"),
)
def text_contamination_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    grams4 = F.when(
        F.size("w") >= 4,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 3),
                lambda i: F.array_join(F.slice(F.col("w"), i, F.lit(4)), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", F.explode(grams4).alias("gram"))
    eg = (
        g.filter(F.col("doc_id") % 97 == 0)
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    ratio = (
        g.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eg), "gram", "left")
        .groupBy("doc_id")
        .agg((F.count("hit") * 1.0 / F.count(F.lit(1))).alias("r"))
    )
    train = d.filter(F.col("doc_id") % 97 != 0).select("doc_id")
    verdict = train.join(ratio, "doc_id", "left").select(
        "doc_id", (F.coalesce(F.col("r"), F.lit(0.0)) >= 0.25).alias("drop_it")
    )
    return verdict.agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(F.when(F.col("drop_it"), 1).otherwise(0)).alias("n_dropped"),
        F.sum(F.when(~F.col("drop_it"), 1).otherwise(0)).alias("n_kept"),
        F.min(F.when(~F.col("drop_it"), F.col("doc_id"))).alias("first_kept"),
        F.max(F.when(F.col("drop_it"), F.col("doc_id"))).alias("last_dropped"),
    )


@register(
    "text_lang_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS actual_lang,
             {_sql_lang_score("en")} AS s_en,
             {_sql_lang_score("fr")} AS s_fr,
             {_sql_lang_score("es")} AS s_es,
             {_sql_lang_score("de")} AS s_de
      FROM documents
    ),
    pred AS (
      SELECT actual_lang,
             CASE WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
                  WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
                  WHEN s_es >= s_de THEN 'es'
                  ELSE 'de' END AS predicted_lang
      FROM scored
    )
    SELECT actual_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN actual_lang = predicted_lang
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
    FROM pred
    GROUP BY actual_lang, predicted_lang
    """,
    doc="Language-ID confusion matrix (the data-quality audit run before "
    "trusting a detector for corpus routing: declared `lang` vs the "
    "stopword-scoring detector of text_lang_id, cross-tabulated). One "
    "per-row scoring map (no shuffle) + one tiny (|langs|² rows) groupBy; "
    "the diagonal/off-diagonal counts are what a curation pipeline alarms "
    "on when a crawl source starts mislabeling. Composes the identical "
    "scoring expressions as text_lang_id so the two queries can never "
    "drift apart.",
    tags=("extension", "text", "audit"),
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = text_lang_id(spark, sf_dir)
    return (
        scored.groupBy("actual_lang", "predicted_lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("actual_lang") == F.col("predicted_lang"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
    )


from apache_hive_1_2_2_src_spark.extensions.dedup import _jaccard_oracle

@register(
    "pipeline_release_gate",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    train AS (SELECT doc_id, len(w) AS n_tok FROM w WHERE doc_id % 97 <> 0),
    okr AS (SELECT * FROM w WHERE len(w) >= 4),
    rg AS (
      SELECT doc_id, 2 AS n, unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS gram
      FROM okr
      UNION ALL
      SELECT doc_id, 3 AS n, unnest(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
      FROM okr
    ),
    rc AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM rg GROUP BY doc_id, n, gram),
    rep AS (
      SELECT doc_id,
             (CAST(MAX(c) FILTER (n = 2) AS DOUBLE)
                / SUM(c) FILTER (n = 2) > 0.20
              OR CAST(COALESCE(SUM(c) FILTER (n = 3 AND c > 1), 0) AS DOUBLE)
                / SUM(c) FILTER (n = 3) > 0.30) AS rep_bad
      FROM rc GROUP BY doc_id
    ),
    cg AS (
      SELECT doc_id,
             UNNEST(list_distinct(list_transform(
               generate_series(1, len(w) - 3),
               i -> array_to_string(w[i:i+3], ' ')))) AS gram
      FROM w
    ),
    eg AS (SELECT DISTINCT gram FROM cg WHERE doc_id % 97 = 0),
    cont AS (
      SELECT t.doc_id
      FROM (SELECT doc_id, gram FROM cg WHERE doc_id % 97 <> 0) t
      LEFT JOIN eg e ON t.gram = e.gram
      GROUP BY t.doc_id
      HAVING COUNT(e.gram) * 1.0 / COUNT(*) >= 0.25
    ),
    pairs AS ({_jaccard_oracle(0.8, shingle_df_cap=64)}),
    dup AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
    SELECT t.doc_id,
           CASE WHEN t.n_tok < 12 THEN 'too_short'
                WHEN COALESCE(rep.rep_bad, FALSE) THEN 'repetitive'
                WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
                WHEN dup.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS verdict
    FROM train t
    LEFT JOIN rep ON rep.doc_id = t.doc_id
    LEFT JOIN cont ON cont.doc_id = t.doc_id
    LEFT JOIN dup ON dup.doc_id = t.doc_id
    """,
    doc="Release gate with REASON CODES (the loss-accounting verdict table "
    "a corpus release is reviewed on — not just keep/drop but WHY each "
    "training doc was dropped, first failing rule in precedence): "
    "too_short (< 12 tokens) -> repetitive (Gopher top-2-gram > 0.20 or "
    "dup-3-gram > 0.30, via text_repetition_filter) -> contaminated "
    "(>= 25% of distinct 4-grams shared with the eval holdout, via "
    "text_contamination_check) -> near_dup (Jaccard >= 0.8 partner with "
    "a lower doc_id — the pairwise keep-first policy; dedup_apply_keepers "
    "is the full cluster-aware form) -> kept. COMPOSES the registered "
    "rule builders directly (each independently oracled), so the gate "
    "can't drift from the rules it reports on; every doc in the training "
    "roster gets exactly one verdict via left joins (unscored docs "
    "default to kept, the fail-open-on-missing-signal choice is "
    "explicit). Each rule is 1-2 linear shuffles; the gate adds only "
    "broadcast-sized left joins on doc_id.",
    tags=("extension", "text", "pipeline", "gate"),
)
def pipeline_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.extensions.dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    train = d.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.size("w").alias("n_tok")
    )
    rep = text_repetition_filter(spark, sf_dir).select(
        "doc_id", (~F.col("keep")).alias("rep_bad")
    )
    cont = (
        text_contamination_check(spark, sf_dir)
        .filter(F.col("contamination_ratio") >= 0.25)
        .select("doc_id", F.lit(True).alias("cont_bad"))
    )
    dup = (
        ngram_jaccard_pairs(d, threshold=0.8, shingle_df_cap=64)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("dup_bad", F.lit(True))
    )
    return (
        train.join(rep, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("n_tok") < 12, "too_short")
            .when(F.coalesce("rep_bad", F.lit(False)), "repetitive")
            .when(F.coalesce("cont_bad", F.lit(False)), "contaminated")
            .when(F.coalesce("dup_bad", F.lit(False)), "near_dup")
            .otherwise("kept")
            .alias("verdict"),
        )
    )


@register(
    "text_url_canonical_dedup",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'HTTP://Site' || CAST(doc_id % 7 AS VARCHAR)
                 || '.Example.COM:80/A/Path' || CAST(doc_id % 13 AS VARCHAR)
                 || '/?utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR)
               WHEN 1 THEN 'http://site' || CAST(doc_id % 7 AS VARCHAR)
                 || '.example.com/A/Path' || CAST(doc_id % 13 AS VARCHAR)
                 || '?id=' || CAST(doc_id % 13 AS VARCHAR)
               WHEN 2 THEN 'https://Site' || CAST(doc_id % 7 AS VARCHAR)
                 || '.Example.com:443/A/Path' || CAST(doc_id % 13 AS VARCHAR)
                 || '?id=' || CAST(doc_id % 13 AS VARCHAR) || '&utm_medium=x'
               ELSE 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                 || '.example.com/A/Path' || CAST(doc_id % 13 AS VARCHAR)
                 || '/?id=' || CAST(doc_id % 13 AS VARCHAR)
             END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             -- scheme + lowercased host (default ports stripped) + path
             -- (trailing slash stripped) + sorted non-utm params
             -- extract scheme/host from the LOWERED url (HTTP:// must
             -- match); path keeps its case, extracted case-insensitively
             regexp_extract(lower(url), '^(https?)://', 1) || '://' ||
             regexp_replace(regexp_extract(lower(url), '^https?://([^/]+)', 1),
                            ':(80|443)$', '') ||
             regexp_replace(regexp_extract(url, '^(?i)https?://[^/]+([^?]*)', 1),
                            '/$', '') ||
             COALESCE('?' || NULLIF(array_to_string(list_sort(list_filter(
               string_split(regexp_extract(url, '\\?(.*)$', 1), '&'),
               p -> p <> '' AND NOT p LIKE 'utm_%')), '&'), ''), '')
               AS curl
      FROM raw
    )
    SELECT curl,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id
    FROM canon GROUP BY curl
    """,
    doc="Canonical-URL dedup (the crawl-frontier collapse every web "
    "pipeline runs before fetch/store: scheme-case, host-case, default "
    "ports :80/:443, trailing slashes, and utm_* tracking params are all "
    "the SAME page): deterministic URL variants are synthesized per doc "
    "(4 spellings of the same logical URL share a (doc_id%7, doc_id%13) "
    "page identity), normalized with pure regex/string codegen — "
    "lowercase scheme+host, strip default port, strip trailing slash, "
    "drop utm_* params, SORT the surviving query params (param order is "
    "semantically irrelevant) — and grouped; keep-lowest-id wins. Every "
    "step is a per-row map; the only shuffle is the final groupBy on the "
    "canonical key, exactly the dedup_exact shape. At 100 TB group by "
    "xxhash64(curl).",
    tags=("extension", "text", "url", "dedup"),
)
def text_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    page = F.col("doc_id") % 13
    site = F.col("doc_id") % 7
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("HTTP://Site"), site, F.lit(".Example.COM:80/A/Path"), page,
                F.lit("/?utm_source=feed&id="), page,
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("http://site"), site, F.lit(".example.com/A/Path"), page,
                F.lit("?id="), page,
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://Site"), site, F.lit(".Example.com:443/A/Path"), page,
                F.lit("?id="), page, F.lit("&utm_medium=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://site"), site, F.lit(".example.com/A/Path"), page,
                F.lit("/?id="), page,
            )
        )
    )
    raw = d.select("doc_id", url.alias("url"))
    lurl = F.lower(F.col("url"))
    scheme = F.regexp_extract(lurl, r"^(https?)://", 1)
    host = F.regexp_replace(
        F.regexp_extract(lurl, r"^https?://([^/]+)", 1), r":(80|443)$", ""
    )
    path = F.regexp_replace(
        F.regexp_extract("url", r"^(?i)https?://[^/]+([^?]*)", 1), r"/$", ""
    )
    params = F.array_sort(
        F.filter(
            F.split(F.regexp_extract("url", r"\?(.*)$", 1), "&"),
            lambda p: (p != "") & ~p.startswith("utm_"),
        )
    )
    curl = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&")))
        .otherwise(F.lit("")),
    )
    return (
        raw.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.min("doc_id").cast("long").alias("keeper_id"),
        )
    )


@register(
    "pipeline_dataset_card",
    oracle=f"""
    WITH w AS (SELECT doc_id, lang, source, {_SQL_WORDS} AS w FROM documents),
    t AS (SELECT doc_id, lang, source, len(w) AS n_tok,
                 COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
                   AS n_chars
          FROM w)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(n_tok) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tok) // COUNT(*) AS BIGINT) AS mean_tokens_floor,
           CAST(SUM(CASE WHEN n_tok < 12 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_short_docs
    FROM t
    """,
    doc="Dataset-card headline statistics (the one-row summary every "
    "published corpus ships — HuggingFace dataset-card / datasheets-for-"
    "datasets numbers): doc/token/char totals, language and source "
    "cardinalities, token-length extrema, floored mean tokens (integer "
    "division — no float mean), and the short-doc count the release gate "
    "drops. ONE scan, one global partial-agg — every number is an exact "
    "BIGINT, so the card is reproducible bit-for-bit, which is the "
    "actual requirement when a release is audited against its card. At "
    "100 TB this is the cheapest query in the pipeline (map-side "
    "partials, 1-row result).",
    tags=("extension", "text", "pipeline", "report"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", _words().alias("w")
    )
    t = d.select(
        "lang",
        "source",
        F.size("w").alias("n_tok"),
        F.aggregate(F.col("w"), F.lit(0), lambda a, x: a + F.length(x)).alias(
            "n_chars"
        ),
    )
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.min("n_tok").cast("long").alias("min_tokens"),
        F.max("n_tok").cast("long").alias("max_tokens"),
        F.floor(F.sum("n_tok") / F.count(F.lit(1))).cast("long").alias(
            "mean_tokens_floor"
        ),
        F.sum(F.when(F.col("n_tok") < 12, 1).otherwise(0))
        .cast("long")
        .alias("n_short_docs"),
    )


@register(
    "text_vocab_growth_curve",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_WORDS}) AS t FROM documents
    )
    SELECT CAST(COUNT(DISTINCT CASE WHEN doc_id < 100 THEN t END) AS BIGINT)
             AS vocab_100,
           CAST(COUNT(DISTINCT CASE WHEN doc_id < 200 THEN t END) AS BIGINT)
             AS vocab_200,
           CAST(COUNT(DISTINCT CASE WHEN doc_id < 300 THEN t END) AS BIGINT)
             AS vocab_300,
           CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab_all,
           CAST(SUM(CASE WHEN doc_id < 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS tokens_100,
           CAST(COUNT(*) AS BIGINT) AS tokens_all
    FROM tok
    """,
    doc="Vocabulary growth curve (the Heaps'-law audit every corpus "
    "report includes: distinct vocabulary vs cumulative tokens at corpus "
    "prefixes — a curve that flattens too early means boilerplate "
    "duplication, too late means noise/OCR garbage): token explode once, "
    "then conditional COUNT(DISTINCT CASE WHEN prefix) checkpoints at "
    "doc_id < 100/200/300/all in ONE aggregation pass (multi-distinct "
    "compiles to Spark's expand — still a single scan, vs one job per "
    "checkpoint naively). Prefix-by-doc_id is the corpus's stable "
    "ingestion order, so the curve is reproducible.",
    tags=("extension", "text", "report"),
)
def text_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_words()).alias("t")
    )
    return tok.agg(
        F.countDistinct(F.when(F.col("doc_id") < 100, F.col("t")))
        .cast("long")
        .alias("vocab_100"),
        F.countDistinct(F.when(F.col("doc_id") < 200, F.col("t")))
        .cast("long")
        .alias("vocab_200"),
        F.countDistinct(F.when(F.col("doc_id") < 300, F.col("t")))
        .cast("long")
        .alias("vocab_300"),
        F.countDistinct("t").cast("long").alias("vocab_all"),
        F.sum(F.when(F.col("doc_id") < 100, 1).otherwise(0))
        .cast("long")
        .alias("tokens_100"),
        F.count(F.lit(1)).cast("long").alias("tokens_all"),
    )


@register(
    "text_zipf_rank_frequency",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_SQL_WORDS}) AS t FROM documents
    ),
    freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    ranked AS (
      SELECT t, c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rnk
      FROM freq
    )
    SELECT CAST(rnk AS INTEGER) AS rnk, t AS token,
           CAST(c AS BIGINT) AS freq,
           CAST(rnk * c AS BIGINT) AS rank_times_freq
    FROM ranked WHERE rnk <= 20
    """,
    doc="Zipf rank-frequency table (top-20 tokens with rank x frequency — "
    "near-constant under Zipf's law; a flat-frequency head signals "
    "synthetic or template text, which is exactly what this corpus's "
    "audit should reveal): one vocab groupBy, then TakeOrdered-style "
    "top-20 via row_number with the deterministic (count DESC, token) "
    "tie-break. The ranked window runs over |vocab| PRE-AGGREGATED rows; "
    "rank*freq emitted as the integer invariant reviewers eyeball.",
    tags=("extension", "text", "report"),
)
def text_zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    freq = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(_words()).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = freq.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("t")))
    ).filter(F.col("rnk") <= 20)
    return ranked.select(
        F.col("rnk").cast("int").alias("rnk"),
        F.col("t").alias("token"),
        F.col("c").cast("long").alias("freq"),
        (F.col("rnk") * F.col("c")).cast("long").alias("rank_times_freq"),
    )


@register(
    "text_collocations_pmi",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    uni AS (
      SELECT unnest(w) AS t FROM w
    ),
    uc AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY t),
    n_tok AS (SELECT COUNT(*) AS n FROM uni),
    big AS (
      SELECT unnest(list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i+1])) AS bg
      FROM w
    ),
    bc AS (SELECT bg, COUNT(*) AS c2 FROM big GROUP BY bg
           HAVING COUNT(*) >= 5),
    scored AS (
      SELECT bc.bg, bc.c2,
             CAST(bc.c2 * n.n * 1000000
                  // (ua.c * ub.c) AS BIGINT) AS pmi_score
      FROM bc, n_tok n
      JOIN uc ua ON ua.t = string_split(bc.bg, ' ')[1]
      JOIN uc ub ON ub.t = string_split(bc.bg, ' ')[2]
    )
    SELECT bg AS bigram, CAST(c2 AS BIGINT) AS n_occurrences, pmi_score
    FROM scored
    ORDER BY pmi_score DESC, bg LIMIT 15
    """,
    doc="Collocation mining by PMI (the phrase-discovery pass behind "
    "tokenizer-merge candidates and stopword lists): bigram count c_xy "
    "scored against unigram counts with the INTEGER-EXACT monotone "
    "transform floor(c_xy*N*1e6/(c_x*c_y)) — order-isomorphic to PMI "
    "(log is monotone) with zero float/log anywhere, so the ranking is "
    "bit-deterministic cross-engine (a float-log PMI diverges in ties "
    "and last-ulp order). Bigrams below 5 occurrences are dropped (the "
    "standard sparse-PMI guard). Two explode+groupBys + broadcast-sized "
    "unigram joins + TakeOrdered top-15.",
    tags=("extension", "text", "ngrams"),
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    uni = d.select(F.explode("w").alias("t"))
    uc = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n_tok = uni.agg(F.count(F.lit(1)).alias("n"))
    bigrams = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> concat_ws(' ', w[i - 1], w[i]))"
            )
        ).alias("bg")
    )
    bc = (
        bigrams.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c2"))
        .filter(F.col("c2") >= 5)
    )
    parts = bc.select(
        "bg",
        "c2",
        F.split("bg", " ")[0].alias("t1"),
        F.split("bg", " ")[1].alias("t2"),
    )
    scored = (
        parts.join(F.broadcast(uc.withColumnRenamed("t", "t1").withColumnRenamed("c", "ca")), "t1")
        .join(F.broadcast(uc.withColumnRenamed("t", "t2").withColumnRenamed("c", "cb")), "t2")
        .crossJoin(F.broadcast(n_tok))
        .select(
            F.col("bg").alias("bigram"),
            F.col("c2").cast("long").alias("n_occurrences"),
            # integer `div`, not float-floor: the BIGINT product can
            # near 2^53 where double division loses exactness vs
            # DuckDB's integer //
            F.expr("(c2 * n * 1000000L) div (ca * cb)")
            .cast("long")
            .alias("pmi_score"),
        )
    )
    return scored.orderBy(F.col("pmi_score").desc(), "bigram").limit(15)


_BPE_STEPS = 4


def _bpe_iteration_sql(i: int) -> str:
    """One BPE merge iteration as dialect-neutral SQL CTEs (window
    functions only — identical semantics in Spark SQL and DuckDB):
    count adjacent-pair frequencies weighted by word count, pick the
    (freq DESC, pair ASC) argmax, then merge occurrences GREEDY
    LEFT-TO-RIGHT NON-OVERLAPPING via gaps-and-islands — within each
    maximal run of consecutive matches only even offsets merge (the
    classic 'banana'/(a,n) case: positions 1 and 3 merge, 2 is consumed
    by 1 — a plain string replace gets this wrong)."""
    p = i - 1
    return f"""
    pr{i} AS (
      SELECT sym AS pa, nxt AS pb, SUM(cnt) AS freq
      FROM (SELECT w, cnt, sym,
                   LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
            FROM s{p}) t{i}
      WHERE nxt IS NOT NULL GROUP BY sym, nxt
    ),
    best{i} AS (
      SELECT pa, pb, freq FROM pr{i} ORDER BY freq DESC, pa, pb LIMIT 1
    ),
    f{i} AS (
      SELECT t.*, b.pa, b.pb,
             (t.sym = b.pa AND COALESCE(t.nxt = b.pb, FALSE)) AS m
      FROM (SELECT s.*,
                   LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
            FROM s{p} s) t CROSS JOIN best{i} b
    ),
    ga{i} AS (
      SELECT *,
             (m AND NOT COALESCE(
               LAG(m) OVER (PARTITION BY w ORDER BY pos), FALSE)) AS newrun
      FROM f{i}
    ),
    g{i} AS (
      SELECT *,
             SUM(CASE WHEN newrun THEN 1 ELSE 0 END)
               OVER (PARTITION BY w ORDER BY pos) AS runid
      FROM ga{i}
    ),
    h{i} AS (
      SELECT *,
             CASE WHEN m THEN pos - MIN(CASE WHEN m THEN pos END)
               OVER (PARTITION BY w, runid) END AS off
      FROM g{i}
    ),
    q{i} AS (
      SELECT *, (m AND off % 2 = 0) AS picked,
             COALESCE(LAG(m AND off % 2 = 0)
               OVER (PARTITION BY w ORDER BY pos), FALSE) AS consumed
      FROM h{i}
    ),
    s{i} AS (
      SELECT w, cnt,
             CAST(ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS INT) AS pos,
             CASE WHEN picked THEN sym || nxt ELSE sym END AS sym
      FROM q{i} WHERE NOT consumed
    )"""


def _bpe_sql(base: str) -> str:
    """Full k-step BPE training query over a base CTE ``s0(w, cnt, pos,
    sym)``; returns one row per merge step."""
    body = ",".join(_bpe_iteration_sql(i) for i in range(1, _BPE_STEPS + 1))
    steps = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({i} AS INT) AS step, pa AS pair_a, pb AS pair_b, "
        f"CAST(freq AS BIGINT) AS pair_freq, "
        f"CAST((SELECT SUM(cnt) FROM s{i}) AS BIGINT) AS tokens_after "
        f"FROM best{i}"
        for i in range(1, _BPE_STEPS + 1)
    )
    return f"WITH {base},{body}\n    {steps}"


_BPE_BASE_DUCK = f"""
    bpe_w AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_SQL_WORDS}) AS w FROM documents) GROUP BY w
    ),
    s0 AS (
      SELECT w, cnt, CAST(t.i AS INT) AS pos, substr(w, CAST(t.i AS INT), 1) AS sym
      FROM bpe_w, UNNEST(range(1, length(w) + 1)) AS t(i)
    )"""

_BPE_BASE_SPARK = """
    bpe_w AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT explode(filter(split(text, ' '), x -> x != '')) AS w
            FROM bpe_docs) GROUP BY w
    ),
    s0 AS (
      SELECT w, cnt, CAST(i AS INT) AS pos, substring(w, i, 1) AS sym
      FROM bpe_w LATERAL VIEW explode(sequence(1, length(w))) t AS i
    )"""


@register(
    "text_bpe_train_merges",
    # The oracle runs the IDENTICAL iteration template (shared SQL text,
    # dialect-specific only in the tokenize/char-explode base) — window
    # functions and integer counts end to end, so both engines must land
    # on the same argmax pair, the same greedy merge sites, and the same
    # weighted token totals at every step.
    oracle=_bpe_sql(_BPE_BASE_DUCK),
    doc="BPE tokenizer TRAINING (Sennrich et al. 2016, 'Neural Machine "
    "Translation of Rare Words with Subword Units' — the byte-pair-"
    "encoding loop every modern LLM tokenizer descends from; no "
    "reference analogue): k=4 merge steps over the corpus word-frequency "
    "table. Per step: adjacent-symbol pair counts weighted by word "
    "frequency (one groupBy), deterministic argmax (freq DESC, pair "
    "ASC), then GREEDY LEFT-TO-RIGHT NON-OVERLAPPING merge of the "
    "winning pair expressed with gaps-and-islands window functions — "
    "within each run of consecutive matches only even offsets merge, so "
    "'banana' under (a,n) merges positions 1 and 3 exactly like the "
    "reference algorithm (a string-replace shortcut double-consumes the "
    "shared boundary). Output: (step, pair, freq, corpus tokens after). "
    "Scale: state is (word, pos, symbol) rows of the DISTINCT vocab — "
    "pair counting and merging shuffle O(|vocab|*avg_len) per step "
    "regardless of corpus size; the corpus is touched once for the "
    "frequency table. The iterative-driver-loop pattern of the k-means "
    "trainer (kmeans_centroids_quantized), on SQL text instead of "
    "DataFrame ops.",
    tags=("extension", "text", "tokenizer", "iterative"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: the registered path is the O(k) steps trainer (VERDICT r13
    # item 2) — the single-statement template's optimized plan grows
    # ~2.2× per merge step and never finishes at k=6, so shipping it as
    # the query path meant any user raising k hit a non-terminating
    # optimizer. Decisions are pinned byte-identical (k=4 vs template,
    # k=10 vs the Python reference); the oracle keeps the k=4 template.
    load_table(spark, sf_dir, "documents").select("text").createOrReplaceTempView(
        "bpe_docs"
    )
    return bpe_train_merges_steps(spark, _BPE_STEPS)


def _bpe_apply_tail(state_src: str, occ: str) -> str:
    """Apply-the-merges tail, parameterized on where the final symbol
    state lives: the oracle reads the k-step WITH-chain's ``s{k}``, the
    registered Spark path reads the checkpointed ``bpe_state_final``
    view produced by the O(k) steps trainer — SAME SQL text either way,
    so the fertility math cannot drift between the two routes."""
    return f"""wtok AS (
      SELECT w, CAST(MAX(pos) AS BIGINT) AS n_tok,
             CAST(MAX(length(w)) AS BIGINT) AS n_chars
      FROM {state_src} GROUP BY w
    ),
    {occ}
    SELECT src AS source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(ROUND(SUM(n_chars) * 1.0 / SUM(n_tok), 6) AS DOUBLE)
             AS chars_per_token
    FROM occ JOIN wtok USING (w)
    GROUP BY src"""


def _bpe_apply_sql(base: str, occ: str) -> str:
    """Apply the trained merge table: per-word token counts from the final
    symbol state s{k}, joined back to word OCCURRENCES (``occ`` must
    define ``occ(src, w)``), aggregated into per-source fertility."""
    body = ",".join(_bpe_iteration_sql(i) for i in range(1, _BPE_STEPS + 1))
    return f"WITH {base},{body},\n    " + _bpe_apply_tail(
        f"s{_BPE_STEPS}", occ
    )


_BPE_OCC_DUCK = f"""
    occ AS (
      SELECT source AS src, unnest({_SQL_WORDS}) AS w FROM documents
    )"""

_BPE_OCC_SPARK = """
    occ AS (
      SELECT source AS src, explode(filter(split(text, ' '), x -> x != '')) AS w
      FROM bpe_docs
    )"""


@register(
    "text_bpe_apply_fertility",
    oracle=_bpe_apply_sql(_BPE_BASE_DUCK, _BPE_OCC_DUCK),
    doc="Tokenizer-fertility audit: APPLY the k=4 trained BPE merges "
    "(same shared iteration template as text_bpe_train_merges) and "
    "report per-source chars-per-token — the standard pipeline metric "
    "for how well a tokenizer compresses each corpus slice (fertility "
    "regressions localize bad sources before training). Scale: the "
    "merge state lives on the DISTINCT vocab; application is one join "
    "from word occurrences to per-word token counts — the corpus is "
    "touched once, tokenization itself never re-runs per document.",
    tags=("extension", "text", "tokenizer"),
)
def text_bpe_apply_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: train through the O(k) steps loop (VERDICT r13 item 2); the
    # returned plan is rooted at the checkpointed state, so it no longer
    # inherits the exponential k-step WITH-chain the oracle still runs.
    load_table(spark, sf_dir, "documents").select(
        "source", "text"
    ).createOrReplaceTempView("bpe_docs")
    state, _ = bpe_final_state_steps(spark, _BPE_STEPS)
    state.createOrReplaceTempView("bpe_state_final")
    return spark.sql(
        "WITH " + _bpe_apply_tail("bpe_state_final", _BPE_OCC_SPARK)
    )


_PACK_SHARDS = 4


def _bpe_pack_tail(state_src: str, docc: str) -> str:
    """Tokenize→pack tail, parameterized on the final-state source (the
    oracle's s{k} chain vs the steps trainer's checkpointed view — same
    SQL text both ways). r14 scale fix (VERDICT r13 item 1c): packing is
    keyed by (lang, shard) — shard = doc_id % _PACK_SHARDS, a
    deterministic split both engines replay — so the cumulative-sum
    window never funnels a whole language through one task; at 100 TB
    the shard count is the parallelism dial (content-hash ranges in
    production), each shard packs independently and bin_id is
    per-(lang, shard)."""
    return f"""wtok AS (
      SELECT w, CAST(MAX(pos) AS BIGINT) AS n_tok
      FROM {state_src} GROUP BY w
    ),
    {docc},
    dtok AS (
      SELECT doc_id, lang, CAST(SUM(n_tok) AS BIGINT) AS n_tok
      FROM docc JOIN wtok USING (w)
      GROUP BY doc_id, lang
    ),
    ds AS (
      SELECT lang, CAST(doc_id % {_PACK_SHARDS} AS INT) AS shard_id,
             doc_id, n_tok
      FROM dtok
    ),
    c AS (
      SELECT lang, shard_id, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (
               PARTITION BY lang, shard_id ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM ds
    )
    SELECT lang, shard_id,
           CAST(FLOOR(cum_before / 2048.0) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS docid_sum
    FROM c
    GROUP BY lang, shard_id, bin_id"""


def _bpe_pack_sql(base: str, docc: str) -> str:
    """The tokenize→pack composition: per-word BPE token counts from the
    trained merge state s{k}, joined to per-doc word occurrences (``docc``
    must define ``docc(doc_id, lang, w)``), summed into per-doc token
    counts, then packed per (language, shard) into 2048-token
    context-window bins (the pipeline_pack_sequences bin math over
    TOKENIZER counts instead of whitespace counts). All-integer bin
    audit."""
    body = ",".join(_bpe_iteration_sql(i) for i in range(1, _BPE_STEPS + 1))
    return f"WITH {base},{body},\n    " + _bpe_pack_tail(
        f"s{_BPE_STEPS}", docc
    )


_BPE_DOCC_DUCK = f"""
    docc AS (
      SELECT doc_id, lang, unnest({_SQL_WORDS}) AS w FROM documents
    )"""

_BPE_DOCC_SPARK = """
    docc AS (
      SELECT doc_id, lang,
             explode(filter(split(text, ' '), x -> x != '')) AS w
      FROM bpe_docs
    )"""


@register(
    "text_bpe_pack_chain",
    oracle=_bpe_pack_sql(_BPE_BASE_DUCK, _BPE_DOCC_DUCK),
    doc="The tokenize→pack loop a pretraining data pipeline actually "
    "runs, closed end-to-end: train the k=4 BPE merges (shared "
    "iteration template — same argmax pairs, same greedy "
    "non-overlapping merge sites in both engines), APPLY them to get "
    "per-DOCUMENT token counts (one join from word occurrences to the "
    "per-word merge state — tokenization never re-runs per document), "
    "then assign docs to 2048-token context-window bins per language "
    "(deterministic doc_id order, bin = floor(tokens-before / 2048) — "
    "the pipeline_pack_sequences streaming first-fit, now over REAL "
    "tokenizer counts instead of whitespace counts). The certified "
    "output is the all-integer per-bin audit (docs, tokens, doc_id "
    "checksum): one flipped merge site anywhere in training shifts a "
    "word's token count, every affected doc's total, and the bin "
    "boundaries after it. Scale (both r14 fixes, VERDICT r13 items "
    "1c/2): training runs through the O(k) steps trainer (the "
    "exponential-plan template survives only oracle-side at k=4), and "
    "packing is keyed by (lang, shard = doc_id % 4) so the "
    "cumulative-sum window never funnels a whole language through one "
    "task — shard count is the parallelism dial at 100 TB, bins are "
    "per-(lang, shard) exactly as independent packer workers would "
    "emit them. Plan-asserted: every Window in the executed plan "
    "partitions by (lang, shard_id) or by w (tests/test_plan_shapes).",
    tags=("extension", "text", "tokenizer", "packing", "iterative"),
)
def text_bpe_pack_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).createOrReplaceTempView("bpe_docs")
    state, _ = bpe_final_state_steps(spark, _BPE_STEPS)
    state.createOrReplaceTempView("bpe_state_final")
    return spark.sql(
        "WITH " + _bpe_pack_tail("bpe_state_final", _BPE_DOCC_SPARK)
    )


def bpe_train_merges_steps(
    spark: SparkSession, steps: int, docs_view: str = "bpe_docs"
) -> DataFrame:
    """PRODUCTION-scale BPE trainer — the driver-loop twin of the
    single-statement template behind text_bpe_train_merges. The template
    assembles all k iterations into ONE WITH-chain; Spark inlines every
    repeated CTE reference, so the optimized plan grows EXPONENTIALLY in
    k (measured at sf0.01: k=4 optimizes in 2.7 s / 1,146 plan lines,
    k=5 in 4.6 s / 2,498 lines — ~2.2× lines per step — and k=6 did not
    finish optimizing in 9+ minutes; SCALE.md §bpe-steps audit). This
    trainer runs ONE pair-count pass (argmax collected, bound as
    literals) and ONE merge pass per step over the eager-checkpointed
    (w, cnt, pos, sym) state, so plans stay O(1) deep and total work is
    O(k) single passes over the vocab-sized state (r14: halved from the
    r13 form, which executed the full iteration SQL twice per step —
    ADVICE r13 item 1). Measured (r13 two-pass form): k=16 in 13.6 s and
    k=32 in 23.0 s at sf0.01, where the template cannot finish k=6.
    Merge decisions are IDENTICAL (the merge pass mirrors the template
    expression-for-expression; pinned against the template at k=4 and
    against the Python reference at k=10 in tests/test_round13_ops.py).
    Since r14 this IS the registered path: text_bpe_train_merges,
    text_bpe_apply_fertility and text_bpe_pack_chain all train through
    it (oracles unchanged — the DuckDB side keeps the k=4 WITH-chain,
    decisions pinned identical). Returns the merge table
    (step, pair_a, pair_b, pair_freq, tokens_after)."""
    _, merges = bpe_final_state_steps(spark, steps, docs_view)
    return spark.createDataFrame(
        merges,
        "step int, pair_a string, pair_b string, "
        "pair_freq bigint, tokens_after bigint",
    )


def _bpe_merge_once(state: DataFrame, pa: str, pb: str) -> DataFrame:
    """One greedy left-to-right non-overlapping merge of pair (pa, pb)
    over a (w, cnt, pos, sym) state — the DataFrame twin of
    _bpe_iteration_sql's f/ga/g/h/q/s CTE chain, with the winning pair
    bound as LITERALS (F.lit, so symbols containing quotes/backslashes
    can never corrupt a SQL string). Expression-for-expression identical
    to the template: LEAD neighbour, run detection via LAG, run ids via
    a running SUM, even-offset pick within each run, consumed-neighbour
    drop, then pos renumbering."""
    from pyspark.sql.window import Window

    wp = Window.partitionBy("w").orderBy("pos")
    wrun = Window.partitionBy("w", "runid")
    t = state.select(
        "w", "cnt", "pos", "sym", F.lead("sym").over(wp).alias("nxt")
    )
    f = t.withColumn(
        "m",
        (F.col("sym") == F.lit(pa))
        & F.coalesce(F.col("nxt") == F.lit(pb), F.lit(False)),
    )
    ga = f.withColumn(
        "newrun",
        F.col("m") & ~F.coalesce(F.lag("m").over(wp), F.lit(False)),
    )
    g = ga.withColumn(
        "runid",
        F.sum(F.when(F.col("newrun"), F.lit(1)).otherwise(F.lit(0))).over(wp),
    )
    h = g.withColumn(
        "off",
        F.when(
            F.col("m"),
            F.col("pos") - F.min(F.when(F.col("m"), F.col("pos"))).over(wrun),
        ),
    )
    q = h.withColumn(
        "picked", F.col("m") & (F.col("off") % 2 == 0)
    ).withColumn(
        "consumed",
        F.coalesce(
            F.lag(F.col("m") & (F.col("off") % 2 == 0)).over(wp), F.lit(False)
        ),
    )
    return q.where(~F.col("consumed")).select(
        "w",
        "cnt",
        F.row_number().over(wp).cast("int").alias("pos"),
        F.when(F.col("picked"), F.concat("sym", "nxt"))
        .otherwise(F.col("sym"))
        .alias("sym"),
    )


def bpe_final_state_steps(
    spark: SparkSession, steps: int, docs_view: str = "bpe_docs"
) -> tuple[DataFrame, list[tuple]]:
    """Run the O(k) driver-loop BPE trainer and return BOTH the final
    (w, cnt, pos, sym) symbol state (an eager localCheckpoint — its plan
    is O(1) deep, so downstream consumers like the fertility/pack tails
    never inherit the k-step chain) and the merge list
    [(step, pair_a, pair_b, pair_freq, tokens_after)].

    Per step this runs ONE pair-count pass (aggregate + top-1 collect)
    and ONE merge pass over the checkpointed state — the ADVICE-r13 fix:
    the previous form executed the full iteration SQL (pair count AND
    merge windows) twice per step, once for the new state and once for
    the argmax. The winning pair is collected first and bound into the
    merge pass as literals, so nothing is recomputed.

    r20 (VERDICT r19 item 5): ONE Spark job per merge step instead of
    three. The per-step checkpoint is LAZY (the next argmax's collect is
    the action that materializes it — same lineage cut, one fewer job),
    and the tokens_after bookkeeping rides the SAME action as an
    ``observe`` metric on the state scan (the top-1 sort consumes every
    row, so the metric is exact) instead of running its own sum job; the
    metric observed at step k is sum(cnt) over the state AFTER merge
    k-1, i.e. step k-1's tokens_after. One trailing count() materializes
    the final state and yields the last step's tokens_after. Values are
    identical: same argmax ordering, same exact integer sum."""
    from pyspark.sql import Observation
    from pyspark.sql.window import Window

    state = spark.sql(
        f"WITH {_BPE_BASE_SPARK.replace('bpe_docs', docs_view)} "
        "SELECT w, cnt, pos, sym FROM s0"
    ).localCheckpoint(eager=False)
    wp = Window.partitionBy("w").orderBy("pos")
    merges: list[tuple] = []
    pending: tuple | None = None  # (step, pa, pb, freq) awaiting tokens
    # r20 note: disabling AQE for the trainer loop (state is vocab-sized,
    # so runtime re-optimization "should" buy nothing) was A/B-tested and
    # REVERTED: [8.8, 5.2, 4.5, 4.3] off vs [8.3, 4.1, 3.6, 3.6] on over
    # 4 reps of text_bpe_pack_chain at sf0.1 — AQE's coalescing of the
    # tiny window/agg shuffles is worth more than its per-stage jobs,
    # the same direction as r19's parallelismFirst rejection.
    for step in range(1, steps + 1):
        obs = Observation()
        best = (
            state.observe(obs, F.sum("cnt").cast("bigint").alias("t"))
            .select(
                "w", "cnt", "sym", F.lead("sym").over(wp).alias("nxt")
            )
            .where(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("cnt").cast("bigint").alias("freq"))
            .orderBy(F.col("freq").desc(), "sym", "nxt")
            .limit(1)
            .collect()[0]
        )
        if pending is not None:
            merges.append((*pending, obs.get["t"]))
        pending = (step, best.sym, best.nxt, best.freq)
        state = _bpe_merge_once(state, best.sym, best.nxt).localCheckpoint(
            eager=False
        )
    # materialize the final state and collect its token sum in one job
    obs = Observation()
    state.observe(obs, F.sum("cnt").cast("bigint").alias("t")).count()
    if pending is not None:
        merges.append((*pending, obs.get["t"]))
    return state, merges


_PPL_B = 512
_PPL_SCALE = 100_000
_PPL_REF = ("src0", "src1")


def _ppl_oracle() -> str:
    from apache_hive_1_2_2_src_spark.extensions.sampling import (
        _det_ln_floor_sql,
    )

    # Java String.hashCode bucket — the same list_reduce replica the
    # bucketing and DSIR oracles share
    return f"""
    WITH w AS (
      SELECT doc_id, lang, source,
             unnest({_SQL_WORDS}) AS w
      FROM documents
    ),
    dw AS (SELECT DISTINCT w FROM w),
    hb AS (
      SELECT w,
             CAST((CASE WHEN length(w) = 0 THEN 0
                   ELSE list_reduce(
                     list_prepend(CAST(0 AS BIGINT), list_transform(
                       range(1, length(w) + 1),
                       i -> CAST(ord(substr(w, i, 1)) AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 4294967296)
                   END % 2147483648) % {_PPL_B} AS INT) AS b
      FROM dw
    ),
    wb AS (SELECT doc_id, lang, source, b FROM w JOIN hb USING (w)),
    ref AS (
      SELECT b, COUNT(*) AS c FROM wb
      WHERE source IN {_PPL_REF} GROUP BY b
    ),
    tot AS (SELECT COUNT(*) AS t FROM wb WHERE source IN {_PPL_REF}),
    nd AS (
      SELECT gs.b,
             CAST(COALESCE(ref.c, 0) + 1 AS BIGINT) AS num,
             CAST(tot.t + {_PPL_B} AS BIGINT) AS den
      FROM (SELECT unnest(range(0, {_PPL_B})) AS b) gs
      LEFT JOIN ref ON ref.b = gs.b CROSS JOIN tot
    ),
    lm AS (SELECT b, {_det_ln_floor_sql("num", "den", _PPL_SCALE)} AS lb
           FROM nd),
    dsc AS (
      SELECT doc_id, lang,
             CAST(SUM(lb) AS BIGINT) AS lp_sum,
             CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM wb JOIN lm ON lm.b = wb.b
      GROUP BY doc_id, lang
    ),
    scored AS (
      SELECT *, CAST(-lp_sum AS DOUBLE) / (n_tok * {_PPL_SCALE}.0) AS nll,
             NTILE(3) OVER (PARTITION BY lang
                            ORDER BY CAST(-lp_sum AS DOUBLE)
                                     / (n_tok * {_PPL_SCALE}.0), doc_id)
               AS tile
      FROM dsc
    )
    SELECT lang,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS docid_sum,
           CAST(ROUND(MIN(nll), 6) AS DOUBLE) AS min_nll,
           CAST(ROUND(MAX(nll), 6) AS DOUBLE) AS max_nll
    FROM scored GROUP BY lang, bucket"""


@register(
    "text_perplexity_buckets",
    oracle=_ppl_oracle(),
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020, 'CCNet: "
    "Extracting High Quality Monolingual Datasets from Web Crawl Data' "
    "— public paper; the head/middle/tail split by reference-LM "
    "perplexity that seeded most modern pretraining corpora): a hashed-"
    "unigram reference LM is fit on the high-quality slice (sources "
    "src0/src1; Java String.hashCode into 512 buckets — the engine's "
    "interop hash, replayed in DuckDB), every doc is scored by mean "
    "negative log-likelihood, and docs are split per-language into "
    "head/middle/tail terciles (NTILE over a total order with doc_id "
    "tiebreak). Determinism devices: the per-bucket add-1 log-prob is "
    "integerized through the libm-free _det_ln_floor_sql template "
    "(ADVICE r12's device, reused), so doc scores are exact integer "
    "sums divided once. Scale (r14, VERDICT r13 item 1b): the LM is a "
    "512-row broadcast; scoring is one groupBy(doc_id); the tercile "
    "split is the paper's production shape — per-(lang, score-bucket) "
    "histogram counts aggregate to metadata size, cumulative bucket "
    "offsets (= the tercile CUTOFFS) broadcast-join back, and each "
    "doc's tercile is computed arithmetically from its exact rank "
    "(ntile_over_buckets), so no language ever serializes through one "
    "window task; plan-asserted in tests/test_plan_shapes.",
    tags=("extension", "text", "quality", "sampling"),
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.extensions.sampling import (
        _det_ln_floor_sql,
        ntile_over_buckets,
    )
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import (
        hive_bucket_id,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    words = d.select(
        "doc_id", "lang", "source", F.explode(_words()).alias("w")
    )
    wb = words.withColumn("b", hive_bucket_id("w", _PPL_B, "string")).select(
        "doc_id", "lang", "source", "b"
    )
    is_ref = F.col("source").isin(*_PPL_REF)
    ref = wb.where(is_ref).groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    tot = wb.where(is_ref).agg(F.count(F.lit(1)).alias("t"))
    lm = (
        spark.range(_PPL_B)
        .select(F.col("id").cast("int").alias("b"))
        .join(ref, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (F.coalesce("c", F.lit(0)) + 1).cast("long").alias("num"),
            (F.col("t") + _PPL_B).cast("long").alias("den"),
        )
        .select(
            "b",
            F.expr(_det_ln_floor_sql("num", "den", _PPL_SCALE)).alias("lb"),
        )
    )
    dsc = (
        wb.join(F.broadcast(lm), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("lb").cast("long").alias("lp_sum"),
            F.count(F.lit(1)).cast("long").alias("n_tok"),
        )
    )
    nll = (-F.col("lp_sum")).cast("double") / (
        F.col("n_tok") * float(_PPL_SCALE)
    )
    # Score-histogram bucket: floor(nll * 64) is monotone in nll, so it
    # is a valid order-prefix for the distributed NTILE — the histogram
    # + offsets ARE the precomputed tercile cutoffs of the CCNet
    # production recipe, with in-bucket rank refinement making the
    # boundary docs land exactly where the oracle's NTILE puts them.
    scored = ntile_over_buckets(
        dsc.withColumn("nll", nll).withColumn(
            "qs", F.floor(F.col("nll") * 64).cast("int")
        ),
        ["lang"],
        "qs",
        [F.col("nll"), F.col("doc_id")],
        3,
    )
    bucket = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    return scored.groupBy("lang", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("doc_id").cast("long").alias("docid_sum"),
        F.round(F.min("nll"), 6).alias("min_nll"),
        F.round(F.max("nll"), 6).alias("max_nll"),
    )
