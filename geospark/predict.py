"""Text prediction (autocompletion): sql/geocoder/002-text_prediction.sql.

For each query input, find wordlist words where ANY of the four double-
metaphone cross-combinations passes the pg_trgm ``%`` (002:14-19), with
prefix-levenshtein < 3 (002:10,22 — Postgres substr(word, 0, n+1) = first n
chars, §7.4.5), ranked dist ASC, ct DESC, length ASC, word ASC, LIMIT 10
(002:23-28 — a fully deterministic total order).

Spark-first shape: the metaphone-trigram GIN indexes (001:90-91) become an
exploded token table over the wordlist's metaphone codes; query codes explode
the same way; the ``%`` OR-of-4 is an equi-join on the trigram followed by a
per-(word, variant-pair) similarity filter and a semi-dedup. The final
levenshtein runs JVM-side via F.levenshtein (no Python in that filter).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from . import metaphone, text


def metaphone_cols(col):
    @F.pandas_udf(StructType([StructField("dmet", StringType()), StructField("dmet_alt", StringType())]))
    def _m(s: pd.Series) -> pd.DataFrame:
        vals = [metaphone.double_metaphone(v or "") for v in s]
        return pd.DataFrame(vals, columns=["dmet", "dmet_alt"])

    return _m(col)


def prepare_wordlist(wordlist: DataFrame) -> DataFrame:
    """wordlist (word, ct) + metaphone codes — the engine's equivalent of the
    dmetaphone GIN indexes, materialized once at build time."""
    # compact to a few partitions: the wordlist is dimension-sized and every
    # predict call scans it, so many near-empty partitions just add task
    # churn (historical corpus-scale record: BENCH/predict_scale.json).
    return wordlist.repartition(4).withColumn("__m", metaphone_cols(F.col("word"))) \
        .select("word", "ct", F.col("__m.dmet").alias("dmet"), F.col("__m.dmet_alt").alias("dmet_alt"))


# Wordlist-size crossover for the value-space rewrite (measured on the
# 32-core host; the SCALE.md table holds all three sizes, and
# BENCH/predict_scale.json the 928k-word run): value-space runs 0.72x the per-word
# path's speed at 21k words (its two fan-back joins dominate in the
# broadcast regime) and 1.70x / 2.42x FASTER at 438k / 928k words
# (|distinct codes| << |words| pays off). Log-linear interpolation of the
# measured bracket puts the crossover at ~67k words; 65536 is the dispatch
# default.
VALUE_SPACE_MIN_WORDS = 65536


def predict_text(spark, wordlist_m: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """``queries``: (query_id, input). ``wordlist_m``: prepare_wordlist output.
    Returns (query_id, word, ct, dist) top-k per query.

    Dispatches on wordlist size (r6, VERDICT r5 #6): small wordlists take the
    per-word token join (``predict_text_per_word``), large ones the
    value-space rewrite below — both paths produce identical rows
    (pinned at fixture scale by tests/test_properties.py::
    test_predict_dispatch_paths_identical; the 928k-word run recorded in
    BENCH/predict_scale.json checked equal row counts). The size probe is a
    bounded ``limit(T+1).count()`` — it scans at most T+1 rows, so it stays
    cheap at corpus scale."""
    if wordlist_m.limit(VALUE_SPACE_MIN_WORDS + 1).count() <= VALUE_SPACE_MIN_WORDS:
        return predict_text_per_word(spark, wordlist_m, queries, k)
    return predict_text_value_space(spark, wordlist_m, queries, k)


def predict_text_value_space(spark, wordlist_m: DataFrame, queries: DataFrame,
                             k: int = 10) -> DataFrame:
    """The corpus-scale shape: code-value-space similarity + fan-back."""
    q = queries.withColumn("__m", metaphone_cols(F.col("input"))) \
        .select("query_id", "input", F.col("__m.dmet").alias("dmet"), F.col("__m.dmet_alt").alias("dmet_alt"))

    # VALUE-SPACE similarity (the same rewrite as the forward hn join):
    # metaphone codes COLLAPSE similar words ("Meier"/"Mayer"/"Maier" share
    # one code), so at corpus scale |distinct codes| << |words|. The trigram
    # similarity depends only on the two code strings — compute it once per
    # (distinct query code) x (distinct wordlist code), then fan the
    # surviving code pairs back out to (query_id, word) through cheap
    # equi-joins. The per-WORD token join this replaces multiplied the
    # shared-gram aggregate by words-per-code.
    w_var = wordlist_m.select("word", F.explode(F.array("dmet", "dmet_alt")).alias("code"))
    q_var = q.select("query_id", F.explode(F.array("dmet", "dmet_alt")).alias("code"))

    def _val_tokens(df, out_col):
        from .tables import trigram_tokens_col

        t = df.select(F.col("code").alias(out_col)).distinct() \
            .withColumn("__t", trigram_tokens_col(F.col(out_col)))
        return t.select(out_col, F.size("__t").alias(f"{out_col}_n"),
                        F.explode("__t").alias("trigram"))

    shared_codes = (
        _val_tokens(q_var, "q_code").join(_val_tokens(w_var, "w_code"), "trigram")
        .groupBy("q_code", "w_code", "q_code_n", "w_code_n")
        .agg(F.count("*").alias("shared"))
        .withColumn("sim", F.col("shared")
                    / (F.col("q_code_n") + F.col("w_code_n") - F.col("shared")))
        .filter(F.col("sim") >= text.TRGM_SIM_THRESHOLD)
        .select("q_code", "w_code")
    )
    shared = (
        q_var.join(shared_codes, q_var["code"] == shared_codes["q_code"])
        .join(w_var, w_var["code"] == shared_codes["w_code"])
        .select("query_id", "word").distinct()  # OR of the 4 combos (002:14-19)
    )

    cand = (
        shared.join(F.broadcast(queries), "query_id")
        .join(wordlist_m.select("word", "ct"), "word")
        # prefix levenshtein < 3, JVM-side (002:10,22)
        .withColumn("dist", F.levenshtein(
            F.substring(F.col("word"), 1, F.length(F.col("input"))), F.col("input")))
        .filter(F.col("dist") < 3)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("ct").desc(), F.length("word").asc(), F.col("word").asc())
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "word", "ct", "dist")
    )


def predict_text_per_word(spark, wordlist_m: DataFrame, queries: DataFrame,
                          k: int = 10) -> DataFrame:
    """The small-wordlist shape (pre-r4, kept for the broadcast regime):
    trigram tokens exploded per (word, code) row and joined directly — two
    fewer joins than the value-space fan-back, at the cost of the shared-gram
    aggregate keying on words x codes (which only matters when
    words-per-code is large, i.e. at corpus scale). Result-identical to
    predict_text_value_space.

    ``array_distinct`` on the code explode: words whose two metaphone codes
    coincide must not double their trigram rows (that would inflate `shared`
    past qn+wn and zero the Jaccard denominator)."""
    from .tables import trigram_tokens_col

    q = queries.withColumn("__m", metaphone_cols(F.col("input"))) \
        .select("query_id", "input", F.col("__m.dmet").alias("dmet"),
                F.col("__m.dmet_alt").alias("dmet_alt"))
    w_var = wordlist_m.select(
        "word", F.explode(F.array_distinct(F.array("dmet", "dmet_alt"))).alias("code"))
    q_var = q.select(
        "query_id", F.explode(F.array_distinct(F.array("dmet", "dmet_alt"))).alias("code"))
    wt = w_var.withColumn("__t", trigram_tokens_col(F.col("code"))).select(
        "word", F.col("code").alias("w_code"), F.size("__t").alias("wn"),
        F.explode("__t").alias("trigram"))
    qt = q_var.withColumn("__t", trigram_tokens_col(F.col("code"))).select(
        "query_id", F.col("code").alias("q_code"), F.size("__t").alias("qn"),
        F.explode("__t").alias("trigram"))
    shared = (
        qt.join(wt, "trigram")
        .groupBy("query_id", "word", "q_code", "w_code", "qn", "wn")
        .agg(F.count("*").alias("shared"))
        .withColumn("sim", F.col("shared") / (F.col("qn") + F.col("wn") - F.col("shared")))
        .filter(F.col("sim") >= text.TRGM_SIM_THRESHOLD)
        .select("query_id", "word").distinct())
    cand = (
        shared.join(F.broadcast(queries), "query_id")
        .join(wordlist_m.select("word", "ct"), "word")
        .withColumn("dist", F.levenshtein(
            F.substring(F.col("word"), 1, F.length(F.col("input"))), F.col("input")))
        .filter(F.col("dist") < 3))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("ct").desc(), F.length("word").asc(),
        F.col("word").asc())
    return (cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select("query_id", "word", "ct", "dist"))
