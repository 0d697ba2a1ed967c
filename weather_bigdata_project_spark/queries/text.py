"""Text analysis over `documents` (north-star extension surface):
token stats, language-ID heuristic, quality scoring, fingerprinting.

All four are single-pass grouped aggregations over the tokenized corpus —
narrow tokenize, one shuffle on doc_id (or none when expressed as
higher-order array functions). No Python at runtime: everything is
Catalyst built-ins / codegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import tables
from ..functions.exprs import id_mix, rnd
from ..operators import textops as T
from ..registry import query

# --- token counting (whitespace + regex "BPE-ish") ------------------------


@query(
    "text_token_stats",
    oracle=(
        "SELECT doc_id, n_chars, "
        "len(string_split(text, ' ')) AS n_tokens, "
        "len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+')) AS n_regex_tokens, "
        "len(list_filter(string_split(text, ' '), "
        "t -> regexp_matches(t, '^[a-z]+$'))) AS n_alpha_tokens "
        "FROM documents"
    ),
)
def text_token_stats(spark, sf_dir):
    """Token counting two ways: whitespace split and a BPE-ish regex
    segmentation ([a-zA-Z]+|[0-9]+) — all higher-order array functions,
    zero shuffles."""
    return T.docs(spark, sf_dir).select(
        "doc_id",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.expr("regexp_count(text, '[a-zA-Z]+|[0-9]+')").alias("n_regex_tokens"),
        F.expr(
            "size(filter(split(text, ' '), t -> t rlike '^[a-z]+$'))"
        ).alias("n_alpha_tokens"),
    )


# --- shared in-row token statistics (round 10) ----------------------------
#
# The quality/language blocks used to tokenize by EXPLODE + groupBy
# (one full corpus-token shuffle each; COUNT(DISTINCT tok) additionally
# plans an Expand that doubles the exploded rows). Every statistic they
# need is computable INSIDE the row from the split array — zero
# shuffles, and the narrow scan keeps column pruning/pushdown intact:
#   n_tokens        = size(toks)                       (== COUNT(*))
#   distinct count  = size(array_distinct(toks))       (== COUNT(DISTINCT tok))
#   SUM(length(tok)) = length(text) - (size(toks) - 1) — exact: split
#       on a single-space pattern consumes exactly one character per
#       separator, so token chars = total chars - separators (empty
#       tokens from runs of spaces contribute 0 either way)
#   stopword count  = size(filter(toks, t -> t IN (...)))
# The divisions see the same exactly-representable integers as the
# aggregate spelling, so every rounded double is bit-identical (oracle
# hash-verified at three scales). Let-binding via transform+inline so
# the split array is computed once per document — and because inline
# is a GENERATOR, the downstream quality projection cannot collapse
# back into this one and re-inline the array expressions.

_TOK_STATS_INLINE = (
    "transform(array(split(text, ' ')), toks -> struct("
    "CAST(size(toks) AS BIGINT) AS n_tokens, "
    + rnd("CAST(size(array_distinct(toks)) AS DOUBLE) / size(toks)", 4)
    + " AS distinct_ratio, "
    + rnd(
        "CAST(length(text) - (size(toks) - 1) AS DOUBLE) / size(toks)", 4
    )
    + " AS avg_tok_len, "
    + f"CAST(size(filter(toks, t -> t IN {T.STOPWORDS_SQL})) AS DOUBLE)"
    + " AS _nstop))"
)


# --- language-ID heuristic ------------------------------------------------


@query(
    "text_language_id",
    oracle=(
        "WITH " + T.TOKS_CTE + " "
        "SELECT doc_id, "
        f"CASE WHEN CAST(SUM(CASE WHEN tok IN {T.STOPWORDS_SQL} THEN 1 "
        "ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.05e0 THEN 'en' "
        "ELSE 'unknown' END AS lang_pred, "
        + rnd(
            f"CAST(SUM(CASE WHEN tok IN {T.STOPWORDS_SQL} THEN 1 ELSE 0 END) "
            "AS DOUBLE) / COUNT(*)",
            4,
        )
        + " AS stop_ratio FROM toks GROUP BY doc_id"
    ),
)
def text_language_id(spark, sf_dir):
    """n-gram/stopword language heuristic: English stopword density over
    whitespace tokens. Round 10: computed fully IN-ROW from the split
    array (see _TOK_STATS_INLINE) — the explode + hash-agg shuffle is
    gone; the operator is a narrow map over the corpus scan."""
    return (
        T.docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.inline(F.expr(_TOK_STATS_INLINE)))
        .select(
            "doc_id",
            F.when(F.col("_nstop") / F.col("n_tokens") >= 0.05, "en")
            .otherwise("unknown")
            .alias("lang_pred"),
            F.expr(rnd("_nstop / n_tokens", 4)).alias("stop_ratio"),
        )
    )


# --- quality scoring ------------------------------------------------------

_QUALITY_SQL = rnd(
    "0.4e0 * LEAST(CAST(n_tokens AS DOUBLE) / 200.0e0, 1.0e0) "
    "+ 0.3e0 * distinct_ratio "
    "+ 0.3e0 * LEAST(avg_tok_len / 6.0e0, 1.0e0)",
    4,
)


@query(
    "text_quality_score",
    oracle=(
        "WITH " + T.TOKS_CTE + ", "
        "agg AS (SELECT doc_id, COUNT(*) AS n_tokens, "
        + rnd("CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*)", 4)
        + " AS distinct_ratio, "
        + rnd("CAST(SUM(len(tok)) AS DOUBLE) / COUNT(*)", 4)
        + " AS avg_tok_len FROM toks GROUP BY doc_id) "
        "SELECT doc_id, n_tokens, distinct_ratio, avg_tok_len, "
        + _QUALITY_SQL
        + " AS quality FROM agg"
    ),
)
def text_quality_score(spark, sf_dir):
    """Quality scoring: length, lexical diversity, avg token length folded
    into one bounded score (the usual pretraining-filter shape).
    Round 10: all three statistics computed IN-ROW from the split array
    (see _TOK_STATS_INLINE) — the explode + COUNT(DISTINCT) aggregate
    (a full token shuffle plus its Expand doubling) is gone; the
    operator is a narrow map over the corpus scan."""
    agg = (
        T.docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.inline(F.expr(_TOK_STATS_INLINE)))
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "distinct_ratio",
        "avg_tok_len",
        F.expr(_QUALITY_SQL).alias("quality"),
    )


# --- deterministic hash sampling ------------------------------------------


@query(
    "text_hash_sample",
    oracle=(
        "SELECT doc_id, n_chars FROM documents "
        "WHERE " + T.hashed_id_duck("text", 1000) + " < 50"
    ),
)
def text_hash_sample(spark, sf_dir):
    """Deterministic ~5% sample by content hash — unlike df.sample()
    (engine/partitioning-dependent RNG) this is reproducible across
    engines, runs, and cluster sizes, which is what a training-data
    pipeline needs for held-out splits. Narrow filter, pushdown-friendly,
    and stable under re-partitioning."""
    return (
        T.docs(spark, sf_dir)
        .filter(F.expr(T.hashed_id_spark("text", 1000)) < 50)
        .select("doc_id", "n_chars")
    )


# --- document fingerprinting ----------------------------------------------

# 31^k mod 2^31-1 position weights (period 8) — exact bigint arithmetic.
_POW31 = [31**k % 2147483647 for k in range(8)]
_W_SQL = (
    "CASE pos % 8 "
    + " ".join(f"WHEN {i} THEN {w}" for i, w in enumerate(_POW31))
    + " END"
)


@query(
    "text_fingerprint",
    oracle=(
        "WITH " + T.TOKS_CTE + ", " + T.DICT_CTE + " "
        "SELECT doc_id, "
        f"SUM(tok_id * ({_W_SQL})) % 2147483647 AS fingerprint "
        "FROM toks JOIN dict USING (tok) GROUP BY doc_id"
    ),
)
def text_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint: position-weighted polynomial over
    dictionary token ids, mod 2^31-1. Dictionary join is broadcast
    (vocabulary is tiny vs corpus); exact integer arithmetic keeps it
    deterministic under any partitioning."""
    toks = T.tokens(spark, sf_dir)
    d = T.token_dict(spark, sf_dir, toks=toks)
    return (
        toks.join(F.broadcast(d), "tok")
        .groupBy("doc_id")
        .agg(
            (F.sum(F.col("tok_id") * F.expr(_W_SQL)) % 2147483647).alias(
                "fingerprint"
            )
        )
    )


@query(
    "text_top_tokens",
    oracle=(
        "WITH " + T.TOKS_CTE + " "
        "SELECT tok, COUNT(*) AS n FROM toks "
        f"WHERE tok NOT IN {T.STOPWORDS_SQL} AND tok <> '' "
        "GROUP BY tok ORDER BY n DESC, tok LIMIT 30"
    ),
)
def text_top_tokens(spark, sf_dir):
    """Vocabulary head: top-30 non-stopword tokens by frequency. The
    explode is narrow, the count is a map-side-combined hash agg on the
    token (vocabulary-sized shuffle, not corpus-sized), and the top-k
    compiles to TakeOrderedAndProject — per-partition heaps, no global
    sort. Tie-broken on the token so the LIMIT is a total order."""
    return (
        T.tokens(spark, sf_dir)
        .filter(~F.col("tok").isin(T.STOPWORDS) & (F.col("tok") != ""))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(30)
    )


# --- tf-idf term ranking --------------------------------------------------

_TF_CTE = (
    "tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks "
    "WHERE tok <> '' GROUP BY doc_id, tok)"
)


@query(
    "text_tfidf_top_terms",
    oracle=(
        "WITH " + T.TOKS_CTE + ", " + _TF_CTE + ", "
        "df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok), "
        "scored AS (SELECT doc_id, tok, tf, df, "
        "(tf * 1000000) // df AS score_ppm FROM tf JOIN df USING (tok)), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id "
        "ORDER BY score_ppm DESC, tok) AS rnk FROM scored) "
        "SELECT doc_id, rnk, tok, tf, df, score_ppm FROM r WHERE rnk <= 3"
    ),
)
def text_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 terms by a tf-idf-style score. The idf factor
    is the exact rational 1/df scaled to ppm and FLOOR-divided
    (`score_ppm = tf*1e6 div df`) — same rarity ordering as log-idf for
    a fixed corpus, but exact bigint arithmetic, so the ranking is
    bit-stable across engines and partitionings (SCALE.md float
    doctrine: no cross-engine doubles in ORDER BY).

    Plan: tf hash-agg (one corpus shuffle on (doc_id, tok)), df agg on
    the vocabulary-sized tf frame, BROADCAST df back onto tf (vocab <<
    corpus by Zipf), then one rank window on doc_id. Ties broken on tok
    so the top-3 cut is a total order."""
    toks = T.tokens(spark, sf_dir).filter(F.col("tok") != "")
    # tf feeds BOTH the df aggregate and the join probe: pin it so the
    # corpus is tokenized+aggregated ONCE (Catalyst has no cross-consumer
    # CSE — without this the scan+tf chain runs twice).
    tf = T.materialize(
        toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    scored = tf.join(F.broadcast(df), "tok").select(
        "doc_id",
        "tok",
        "tf",
        "df",
        F.expr("(tf * 1000000L) div df").alias("score_ppm"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_ppm"), F.asc("tok")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "tok", "tf", "df", "score_ppm")
    )


# --- inverted index -------------------------------------------------------


@query(
    "text_inverted_index",
    oracle=(
        "WITH " + T.TOKS_CTE + ", " + _TF_CTE + " "
        "SELECT tok, COUNT(*) AS df, SUM(tf) AS total_tf, "
        "list_slice(list_sort(list(doc_id)), 1, 10) AS head_postings "
        "FROM tf GROUP BY tok"
    ),
)
def text_inverted_index(spark, sf_dir):
    """Inverted index build: token -> document frequency, total term
    frequency, and the head of the sorted posting list (first 10
    doc_ids). The tf pre-aggregate makes postings row-distinct by
    construction; both aggregations are map-side-combined hash aggs, so
    the shuffle carries (doc, term) pairs then vocabulary-sized rows —
    never raw tokens. At 100 TB the posting lists themselves would go to
    a bucketed sink partitioned by token hash (write path:
    `readers.write_bucketed_table`); the head slice here keeps the
    oracle row bounded while exercising the same plan."""
    toks = T.tokens(spark, sf_dir).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    return tf.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("total_tf"),
        F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10).alias(
            "head_postings"
        ),
    )


# --- collocation mining (PMI) --------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 30

#: pointwise mutual information in integer nano-units: all ratios are
#: single divisions of exact integer counts; LN may differ in the last
#: ulp between engines, the snap absorbs it before ranking
_PMI_U = (
    "CAST(ROUND(LN((CAST(c_xy AS DOUBLE) / CAST(t_bi AS DOUBLE)) / "
    "((CAST(c_x AS DOUBLE) / CAST(t_uni AS DOUBLE)) * "
    "(CAST(c_y AS DOUBLE) / CAST(t_uni AS DOUBLE)))) * 1.0e9) AS BIGINT)"
)

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
tu AS (SELECT SUM(c) AS t_uni FROM uni),
bi AS (
  SELECT unnest(list_transform(
           range(1, len(string_split(text, ' '))),
           i -> struct_pack(w1 := string_split(text, ' ')[i],
                            w2 := string_split(text, ' ')[i + 1]))) AS b
  FROM documents WHERE len(string_split(text, ' ')) >= 2
),
bic AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c_xy FROM bi GROUP BY 1, 2),
tb AS (SELECT SUM(c_xy) AS t_bi FROM bic),
scored AS (
  SELECT w1, w2, c_xy, {_PMI_U} AS pmi_u
  FROM bic
  JOIN uni ux ON ux.tok = bic.w1
  JOIN uni uy ON uy.tok = bic.w2
  CROSS JOIN tu CROSS JOIN tb,
  LATERAL (SELECT ux.c AS c_x, uy.c AS c_y) _
  WHERE c_xy >= {_PMI_MIN_COUNT}
)
SELECT w1, w2, c_xy, CAST(pmi_u AS DOUBLE) / 1.0e9 AS pmi
FROM scored ORDER BY pmi_u DESC, w1, w2 LIMIT {_PMI_TOP}
"""


@query("text_bigram_pmi", oracle=_PMI_ORACLE)
def text_bigram_pmi(spark, sf_dir):
    """Top-30 collocations by pointwise mutual information over adjacent
    token bigrams (min count 5) — the classic phrase-mining signal for
    tokenizer/vocabulary work. Bigram generation is a narrow in-row
    transform over the split array (no posexplode self-join); the only
    fact-volume shuffle is the bigram count, unigram counts are
    vocabulary-sized and broadcast onto it; totals are 1-row broadcasts.
    PMI snaps to integer nano-units before ranking so the top-k heap
    (TakeOrderedAndProject — no global sort) picks identical rows in
    both engines; ties break on the pair."""
    d = T.docs(spark, sf_dir).select(
        F.split(F.col("text"), " ").alias("ts")
    )
    toks = d.select(F.explode("ts").alias("tok"))
    uni = T.materialize(toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    tu = uni.agg(F.sum("c").alias("t_uni"))
    bi = d.filter(F.size("ts") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts) - 2), "
                "i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
            )
        ).alias("b")
    )
    bic = T.materialize(
        bi.select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    tb = bic.agg(F.sum("c_xy").alias("t_bi"))
    scored = (
        bic.filter(F.col("c_xy") >= _PMI_MIN_COUNT)
        .join(F.broadcast(uni.selectExpr("tok AS w1", "c AS c_x")), "w1")
        .join(F.broadcast(uni.selectExpr("tok AS w2", "c AS c_y")), "w2")
        .join(F.broadcast(tu))
        .join(F.broadcast(tb))
        .select("w1", "w2", "c_xy", F.expr(_PMI_U).alias("pmi_u"))
    )
    return (
        scored.orderBy(F.desc("pmi_u"), "w1", "w2")
        .limit(_PMI_TOP)
        .select(
            "w1", "w2", "c_xy",
            F.expr("CAST(pmi_u AS DOUBLE) / 1.0e9").alias("pmi"),
        )
    )


# --- Zipf fit over the vocabulary ----------------------------------------

#: log-rank / log-frequency snapped to integer 1e-5 units: exact sums
#: at vocabularies up to ~1e6 tokens (x_u^2 sums stay inside BIGINT),
#: one shared closed-form OLS on the exact integers after that
_ZIPF_XY = (
    "CAST(ROUND(LN(CAST(rk AS DOUBLE)) * 1.0e5) AS BIGINT) AS x, "
    "CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1.0e5) AS BIGINT) AS y"
)

_ZIPF_FIT = (
    "SELECT COUNT(*) AS n_vocab, "
    + rnd(
        "CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE) / "
        "CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)",
        6,
    )
    + " AS zipf_slope, "
    + rnd(
        "(CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE) * "
        "CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)) / "
        "(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE) * "
        "CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS DOUBLE))",
        6,
    )
    + " AS r2"
)

_ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk FROM uni
),
xy AS (SELECT {_ZIPF_XY} FROM ranked)
{_ZIPF_FIT} FROM xy
"""


@query("text_zipf_slope", oracle=_ZIPF_ORACLE)
def text_zipf_slope(spark, sf_dir):
    """Zipf's-law fit of the corpus vocabulary: OLS slope of
    log-frequency on log-rank (a healthy natural-language corpus sits
    near -1; a synthetic or template-heavy one doesn't — a cheap
    corpus-health signal). The only fact-volume shuffle is the unigram
    count; ranking is a window over the vocabulary (small by Zipf
    itself), and the fit is one global aggregate of exact integer
    sums."""
    toks = T.docs(spark, sf_dir).select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    ranked = uni.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), "tok"))
        .alias("rk"),
    )
    xy = ranked.selectExpr(
        "CAST(ROUND(LN(CAST(rk AS DOUBLE)) * 1.0e5) AS BIGINT) AS x",
        "CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1.0e5) AS BIGINT) AS y",
    )
    xy.createOrReplaceTempView("zipf_xy")
    return spark.sql(f"{_ZIPF_FIT} FROM zipf_xy")


# --- classifier evaluation: language-ID vs labels -------------------------

_LANGID_PRED = (
    f"CASE WHEN CAST(SUM(CASE WHEN tok IN {T.STOPWORDS_SQL} THEN 1 "
    "ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.05e0 THEN 'en' "
    "ELSE 'unknown' END"
)

_LANGID_EVAL_ORACLE = (
    "WITH " + T.TOKS_CTE + ", "
    f"p AS (SELECT doc_id, {_LANGID_PRED} AS lang_pred "
    "FROM toks GROUP BY doc_id), "
    "j AS (SELECT d.lang, p.lang_pred FROM documents d "
    "JOIN p ON p.doc_id = d.doc_id), "
    "t AS (SELECT COUNT(*) AS n_total, "
    "SUM(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) AS n_agree "
    "FROM j) "
    "SELECT lang, lang_pred, COUNT(*) AS n_docs, "
    + rnd("CAST((SELECT n_agree FROM t) AS DOUBLE) / (SELECT n_total FROM t)", 4)
    + " AS overall_accuracy FROM j GROUP BY lang, lang_pred"
)


@query("text_langid_confusion", oracle=_LANGID_EVAL_ORACLE)
def text_langid_confusion(spark, sf_dir):
    """Classifier evaluation against ground truth: the confusion matrix
    of the stopword-density language heuristic versus the corpus's
    labeled `lang` column, plus overall agreement — the eval loop every
    heuristic filter needs before it silently drops a slice of the
    corpus (a 'fr' row predicted 'unknown' is recall lost; 'en'
    predicted from non-English text is noise admitted). The prediction
    is the SAME aggregate text_language_id runs; the matrix is a
    |langs| x |preds| hash-agg on doc-cardinality rows with the
    agreement scalar broadcast back. Swap the heuristic for a real
    model (pandas UDF) and this evaluation query is unchanged — that
    interface stability is the point.

    Round 10: the prediction is computed IN-ROW from the split array
    (stopword count via a filter HOF, let-bound so the split runs once
    per doc), and since `lang` lives in the SAME row as `text` the old
    predict-then-join-back (token explode + groupBy shuffle + doc_id
    join) collapses to one narrow map over the corpus scan — the only
    exchanges left are the |langs| x |preds| matrix aggregates."""
    from ..operators.textops import materialize

    stats = (
        "transform(array(split(text, ' ')), toks -> struct("
        f"CAST(size(filter(toks, t -> t IN {T.STOPWORDS_SQL})) "
        "AS DOUBLE) AS _ns, "
        "size(toks) AS _nt))"
    )
    j = materialize(
        T.docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select("lang", F.inline(F.expr(stats)))
        .select(
            "lang",
            F.when(F.col("_ns") / F.col("_nt") >= 0.05, "en")
            .otherwise("unknown")
            .alias("lang_pred"),
        )
    )
    t = j.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.expr("CASE WHEN lang = lang_pred THEN 1 ELSE 0 END")
        ).alias("n_agree"),
    )
    return (
        j.groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(F.broadcast(t))
        .select(
            "lang",
            "lang_pred",
            "n_docs",
            F.expr(
                rnd("CAST(n_agree AS DOUBLE) / n_total", 4)
            ).alias("overall_accuracy"),
        )
    )


# --- vocabulary coverage curve --------------------------------------------

_COV_CUTS = [100, 500, 1000, 5000]

_COV_ORACLE = (
    "WITH " + T.TOKS_CTE + ", "
    "v AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok), "
    "r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk "
    "FROM v), "
    "t AS (SELECT SUM(c) AS total, COUNT(*) AS n_types FROM v) "
    "SELECT k AS vocab_size, n_types, "
    + rnd(
        "CAST((SELECT SUM(c) FROM r WHERE rk <= k) AS DOUBLE) / total", 6
    )
    + " AS token_coverage FROM t CROSS JOIN ("
    + " UNION ALL ".join(f"SELECT {k} AS k" for k in _COV_CUTS)
    + ") ks"
)


@query("text_vocab_coverage_curve", oracle=_COV_ORACLE)
def text_vocab_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve: the fraction of all corpus tokens
    covered by the top-100 / 500 / 1k / 5k types — the tokenizer-budget
    planning input (where this curve flattens is where growing a BPE
    vocabulary stops paying, and its complement is the OOV rate a
    fixed vocab accepts). One token-cardinality hash aggregate builds
    the vocabulary, one global rank over the vocabulary frame (type
    cardinality, not corpus cardinality — the Zipf query's argument),
    then four cumulative sums read off the ranked run. Deterministic
    rank: count desc, token asc."""
    toks = T.tokens(spark, sf_dir)
    v = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    from ..operators.textops import materialize
    from pyspark.sql import Window

    v = materialize(v)
    w = Window.orderBy(F.desc("c"), "tok")
    r = materialize(
        v.select("c", F.row_number().over(w).alias("rk"))
    )
    t = v.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n_types")
    )
    rows = None
    for k in _COV_CUTS:
        m = (
            r.filter(F.col("rk") <= k)
            .agg(F.sum("c").alias("topc"))
            .select(F.lit(k).alias("vocab_size"), "topc")
        )
        rows = m if rows is None else rows.unionByName(m)
    return rows.join(F.broadcast(t)).select(
        "vocab_size",
        "n_types",
        F.expr(
            rnd("CAST(topc AS DOUBLE) / total", 6)
        ).alias("token_coverage"),
    )


# --- RAKE keyword extraction ---------------------------------------------

def _rake_tail(phrase_agg: str) -> str:
    """Shared scoring text from the token frame `tok(doc_id, pos, tok)`.
    Candidate phrases are maximal stopword-free runs (island id = running
    stopword count per doc); word degree/frequency aggregate over the
    phrase-membership frame; the per-word RAKE score deg/freq snaps to
    integer micro-units ONCE, so every later cross-row sum (phrase
    scores) is exact BIGINT arithmetic. `phrase_agg` is the engine's
    order-preserving string aggregation — the only dialect difference."""
    return (
        f"t2 AS (SELECT doc_id, pos, tok, CASE WHEN tok IN {T.STOPWORDS_SQL}"
        " THEN 1 ELSE 0 END AS st FROM tok WHERE tok <> ''), "
        "seg AS (SELECT doc_id, pos, tok, st, SUM(st) OVER "
        "(PARTITION BY doc_id ORDER BY pos) AS isl FROM t2), "
        "w AS (SELECT doc_id, isl, pos, tok FROM seg WHERE st = 0), "
        "pl AS (SELECT doc_id, isl, COUNT(*) AS plen FROM w "
        "GROUP BY doc_id, isl), "
        "ws AS (SELECT tok, COUNT(*) AS freq, SUM(plen) AS deg "
        "FROM w JOIN pl USING (doc_id, isl) GROUP BY tok), "
        "su AS (SELECT tok, CAST(ROUND(1.0e6 * CAST(deg AS DOUBLE) / freq)"
        " AS BIGINT) AS score_u FROM ws), "
        "inst AS (SELECT doc_id, isl, SUM(score_u) AS ps_u FROM w "
        "JOIN su USING (tok) GROUP BY doc_id, isl), "
        f"txt AS (SELECT doc_id, isl, {phrase_agg} AS phrase FROM w "
        "GROUP BY doc_id, isl), "
        "agg AS (SELECT phrase, COUNT(*) AS n_occ, MAX(ps_u) AS ps_u "
        "FROM inst JOIN txt USING (doc_id, isl) GROUP BY phrase) "
        "SELECT phrase, CAST(n_occ AS BIGINT) AS n_occ, "
        "CAST(ps_u AS DOUBLE) / 1.0e6 AS rake_score FROM agg "
        "ORDER BY rake_score DESC, n_occ DESC, phrase LIMIT 20"
    )


_RAKE_ORACLE = (
    "WITH tok AS (SELECT doc_id, "
    "generate_subscripts(string_split(text, ' '), 1) - 1 AS pos, "
    "unnest(string_split(text, ' ')) AS tok FROM documents), "
    + _rake_tail("string_agg(tok, ' ' ORDER BY pos)")
)

_RAKE_SPARK = (
    "WITH tok AS (SELECT doc_id, pos, tok FROM rake_docs "
    "LATERAL VIEW posexplode(split(text, ' ')) t AS pos, tok), "
    + _rake_tail(
        "array_join(transform(array_sort(collect_list("
        "named_struct('pos', pos, 'tok', tok))), s -> s.tok), ' ')"
    )
)


@query("text_rake_keywords", oracle=_RAKE_ORACLE)
def text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; word score = degree/frequency over
    all candidate phrases; phrase score = sum of member word scores;
    top-20 phrases corpus-wide. Everything is token-cardinality hash
    aggregates with map-side combine plus vocabulary-sized broadcast
    joins — no regex backtracking, no Python. The per-word score is
    snapped to micro-units at its single float division, so phrase
    scores sum exactly and the corpus-wide ranking is
    partition-order-insensitive; the top-20 rides a TakeOrdered heap,
    not a global sort. Keyword surfacing is the missing third leg of the
    text-relevance family next to text_tfidf_top_terms (term weighting)
    and text_bm25_search (query ranking)."""
    tables.load(spark, sf_dir, "documents").createOrReplaceTempView(
        "rake_docs"
    )
    return spark.sql(_RAKE_SPARK)


# --- BPE-style pair-merge tokenizer training -------------------------------

_BPE_ITERS = 3

#: one merge application as a left-to-right fold over the token stream:
#: if the accumulator ends at token w1 and the next token is w2, splice
#: them into w1_w2, else append. Shared logic, engine-specific fold fn.
_BPE_STEP = (
    "CASE WHEN (acc = w1 OR {endswith}(acc, ' ' || w1)) AND x = w2 "
    "THEN {concat3}(left(acc, length(acc) - length(w1)), w1, '_' || w2) "
    "ELSE acc || ' ' || x END"
)


def _bpe_oracle() -> str:
    """Unrolled DuckDB twin: per-iteration pair counts, deterministic
    best pick, list_reduce merge fold."""
    step = _BPE_STEP.format(endswith="ends_with", concat3="concat")
    parts = ["seq0 AS (SELECT doc_id, text AS s FROM documents)"]
    for k in range(1, _BPE_ITERS + 1):
        p = k - 1
        parts.append(
            f"bp{k} AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS cnt "
            "FROM (SELECT unnest(list_transform("
            "range(1, len(string_split(s, ' '))), "
            "i -> struct_pack(w1 := string_split(s, ' ')[i], "
            "w2 := string_split(s, ' ')[i + 1]))) AS b "
            f"FROM seq{p} WHERE len(string_split(s, ' ')) >= 2) "
            "GROUP BY b.w1, b.w2)"
        )
        parts.append(
            f"best{k} AS (SELECT w1, w2, cnt FROM bp{k} "
            "ORDER BY cnt DESC, w1, w2 LIMIT 1)"
        )
        parts.append(
            f"seq{k} AS (SELECT doc_id, list_reduce("
            f"string_split(s, ' '), (acc, x) -> {step}) AS s "
            f"FROM seq{p} CROSS JOIN best{k})"
        )
        parts.append(
            f"t{k} AS (SELECT SUM(len(string_split(s, ' '))) AS n "
            f"FROM seq{k})"
        )
    finals = " UNION ALL ".join(
        f"SELECT {k} AS iteration, "
        f"(SELECT w1 FROM best{k}) AS merge_w1, "
        f"(SELECT w2 FROM best{k}) AS merge_w2, "
        f"(SELECT CAST(cnt AS BIGINT) FROM best{k}) AS pair_count, "
        f"(SELECT CAST(n AS BIGINT) FROM t{k}) AS corpus_tokens_after"
        for k in range(1, _BPE_ITERS + 1)
    )
    return "WITH " + ", ".join(parts) + " " + finals


@query("text_bpe_train", oracle=_bpe_oracle())
def text_bpe_train(spark, sf_dir):
    """BPE-style tokenizer TRAINING, three merge rounds: each round
    counts adjacent token pairs across the corpus, adopts the most
    frequent pair (count/lexicographic tie-break — fully deterministic)
    as a new merged symbol, and rewrites every document with a
    left-to-right non-overlapping merge fold — exactly the byte-pair-
    encoding training loop, demonstrated at the token level (the
    character-level variant is the same fold over split('')
    sequences). Each round is ONE in-row pair explode + hash count +
    1-row broadcast + in-row fold: no shuffles beyond the pair count,
    and the corpus is rewritten in place per round the way a real
    distributed BPE trainer streams its merge table. The oracle chains
    the identical folds through DuckDB's list_reduce, so the learned
    merge table and the post-merge corpus token counts are engine-
    exact. Output: (iteration, merged pair, its count at selection
    time, corpus tokens after the merge) — the start of the merges.txt
    a tokenizer ships."""
    step = _BPE_STEP.format(endswith="endswith", concat3="concat")
    fold = (
        "aggregate(slice(split(s, ' '), 2, size(split(s, ' '))), "
        "element_at(split(s, ' '), 1), "
        f"(acc, x) -> {step})"
    )
    # materialized like every later round's state: round 1's pair count
    # AND its merge both read this frame, and unpersisted each read
    # re-scanned the corpus parquet (round-7 scan audit)
    seq = T.materialize(
        tables.load(spark, sf_dir, "documents").select(
            "doc_id", F.col("text").alias("s")
        )
    )
    rows = None
    for k in range(1, _BPE_ITERS + 1):
        a = seq.select(F.split("s", " ").alias("ts"))
        pairs = (
            a.filter(F.size("ts") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(ts) - 2), "
                        "i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
                    )
                ).alias("b")
            )
            .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = T.materialize(
            pairs.orderBy(F.desc("cnt"), "w1", "w2").limit(1)
        )
        seq = T.materialize(
            seq.crossJoin(F.broadcast(best.select("w1", "w2"))).selectExpr(
                "doc_id", fold + " AS s"
            ),
            cut_lineage=True,  # loop state: plan must not grow per round
        )
        tok_after = seq.select(
            F.sum(F.size(F.split("s", " "))).alias("n")
        )
        row = (
            best.crossJoin(F.broadcast(tok_after))
            .select(
                F.lit(k).alias("iteration"),
                F.col("w1").alias("merge_w1"),
                F.col("w2").alias("merge_w2"),
                F.col("cnt").cast("bigint").alias("pair_count"),
                F.col("n").cast("bigint").alias("corpus_tokens_after"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


# --- BPE merge-table generalization: holdout compression -------------------

#: deterministic corpus halves by doc_id hash (full-entropy id_mix:
#: BIGINT-safe at any doc_id, no mod-2^20 periodicity)
_BPE_TRAIN_PRED = f"({id_mix('doc_id', 24680)} % 1000) < 500"


def _bpe_holdout_oracle() -> str:
    """Train the 3 merges on half the corpus, apply them to BOTH halves,
    report tokens before/after + compression per half. Generalizing
    merges compress the held-out half nearly as well as the training
    half; a gap is template overfit — the tokenizer-training twin of
    the model backtests."""
    step = _BPE_STEP.format(endswith="ends_with", concat3="concat")
    parts = [
        f"seq0 AS (SELECT doc_id, text AS s, {_BPE_TRAIN_PRED} AS is_train "
        "FROM documents)"
    ]
    for k in range(1, _BPE_ITERS + 1):
        p = k - 1
        parts.append(
            f"bp{k} AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS cnt "
            "FROM (SELECT unnest(list_transform("
            "range(1, len(string_split(s, ' '))), "
            "i -> struct_pack(w1 := string_split(s, ' ')[i], "
            "w2 := string_split(s, ' ')[i + 1]))) AS b "
            f"FROM seq{p} WHERE is_train "
            "AND len(string_split(s, ' ')) >= 2) GROUP BY b.w1, b.w2)"
        )
        parts.append(
            f"best{k} AS (SELECT w1, w2 FROM bp{k} "
            "ORDER BY cnt DESC, w1, w2 LIMIT 1)"
        )
        parts.append(
            f"seq{k} AS (SELECT doc_id, is_train, list_reduce("
            f"string_split(s, ' '), (acc, x) -> {step}) AS s "
            f"FROM seq{p} CROSS JOIN best{k})"
        )
    last = f"seq{_BPE_ITERS}"
    return (
        "WITH " + ", ".join(parts) + " "
        "SELECT CASE WHEN s0.is_train THEN 'train' ELSE 'holdout' END "
        "AS half, COUNT(*) AS n_docs, "
        "CAST(SUM(len(string_split(s0.s, ' '))) AS BIGINT) "
        "AS tokens_before, "
        "CAST(SUM(len(string_split(sN.s, ' '))) AS BIGINT) "
        "AS tokens_after, "
        + rnd(
            "1.0e0 - CAST(SUM(len(string_split(sN.s, ' '))) AS DOUBLE) "
            "/ SUM(len(string_split(s0.s, ' ')))",
            6,
        )
        + " AS compression "
        f"FROM seq0 s0 JOIN {last} sN USING (doc_id) "
        "GROUP BY s0.is_train"
    )


@query("text_bpe_holdout_compression", oracle=_bpe_holdout_oracle())
def text_bpe_holdout_compression(spark, sf_dir):
    """Does the learned merge table GENERALIZE? Train text_bpe_train's
    three merges on a deterministic half of the corpus, apply them to
    both halves, and compare compression (token reduction) on train vs
    holdout — the tokenizer-training twin of events_holt_backtest's
    out-of-sample discipline: merges that only compress the half they
    were fit on are template artifacts, not language. Same per-round
    plan as text_bpe_train with the pair counts restricted to the
    training half; the rewrite still applies corpus-wide, exactly like
    a production tokenizer trained on a sample and applied to
    everything."""
    step = _BPE_STEP.format(endswith="endswith", concat3="concat")
    fold = (
        "aggregate(slice(split(s, ' '), 2, size(split(s, ' '))), "
        "element_at(split(s, ' '), 1), "
        f"(acc, x) -> {step})"
    )
    seq = tables.load(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("text").alias("s"),
        F.expr(_BPE_TRAIN_PRED).alias("is_train"),
    )
    base = seq.select(
        "doc_id",
        "is_train",
        F.size(F.split("s", " ")).alias("n0"),
    )
    for _k in range(1, _BPE_ITERS + 1):
        a = seq.filter("is_train").select(F.split("s", " ").alias("ts"))
        best = T.materialize(
            a.filter(F.size("ts") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(ts) - 2), "
                        "i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
                    )
                ).alias("b")
            )
            .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), "w1", "w2")
            .limit(1)
            .select("w1", "w2")
        )
        seq = T.materialize(
            seq.crossJoin(F.broadcast(best)).selectExpr(
                "doc_id", "is_train", fold + " AS s"
            ),
            cut_lineage=True,  # loop state: plan must not grow per round
        )
    after = seq.select("doc_id", F.size(F.split("s", " ")).alias("nN"))
    return (
        base.join(after, "doc_id")
        .groupBy(
            F.expr(
                "CASE WHEN is_train THEN 'train' ELSE 'holdout' END"
            ).alias("half")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n0").cast("bigint").alias("tokens_before"),
            F.sum("nN").cast("bigint").alias("tokens_after"),
            F.expr(
                rnd(
                    "1.0e0 - CAST(SUM(nN) AS DOUBLE) / SUM(n0)", 6
                )
            ).alias("compression"),
        )
    )


# --- BPE ENCODE: apply the trained merge table to the corpus ---------------

def _bpe_encode_oracle() -> str:
    """Train the 3 merges (identical chain to _bpe_oracle), then read
    the per-doc encoded stream: the seq{K} frame IS the corpus with the
    merge table applied in training order, which is exactly what a
    tokenizer's encode pass computes."""
    step = _BPE_STEP.format(endswith="ends_with", concat3="concat")
    parts = ["seq0 AS (SELECT doc_id, text AS s FROM documents)"]
    for k in range(1, _BPE_ITERS + 1):
        p = k - 1
        parts.append(
            f"bp{k} AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS cnt "
            "FROM (SELECT unnest(list_transform("
            "range(1, len(string_split(s, ' '))), "
            "i -> struct_pack(w1 := string_split(s, ' ')[i], "
            "w2 := string_split(s, ' ')[i + 1]))) AS b "
            f"FROM seq{p} WHERE len(string_split(s, ' ')) >= 2) "
            "GROUP BY b.w1, b.w2)"
        )
        parts.append(
            f"best{k} AS (SELECT w1, w2 FROM bp{k} "
            "ORDER BY cnt DESC, w1, w2 LIMIT 1)"
        )
        parts.append(
            f"seq{k} AS (SELECT doc_id, list_reduce("
            f"string_split(s, ' '), (acc, x) -> {step}) AS s "
            f"FROM seq{p} CROSS JOIN best{k})"
        )
    last = f"seq{_BPE_ITERS}"
    return (
        "WITH " + ", ".join(parts) + " "
        "SELECT s0.doc_id, "
        "CAST(len(string_split(s0.s, ' ')) AS BIGINT) AS n_ws_tokens, "
        "CAST(len(string_split(sN.s, ' ')) AS BIGINT) AS n_bpe_tokens, "
        "CAST(len(string_split(s0.s, ' ')) "
        "- len(string_split(sN.s, ' ')) AS BIGINT) AS n_merged, "
        + rnd(
            "CAST(len(string_split(sN.s, ' ')) AS DOUBLE) "
            "/ len(string_split(s0.s, ' '))",
            6,
        )
        + " AS fertility "
        f"FROM seq0 s0 JOIN {last} sN USING (doc_id)"
    )


@query("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark, sf_dir):
    """The ENCODE half of the tokenizer (round-8 verdict task 4):
    text_bpe_train learns the merge table; this applies it — each
    trained merge replayed in training order as the same left-to-right
    non-overlapping fold per document — and reports the per-doc TRUE
    post-merge token count next to the whitespace proxy, plus fertility
    (bpe/ws tokens, < 1 exactly where merges fired). This is the step
    every real pipeline runs after training, and the honest input to
    token-budget accounting (corpus_token_budget counts whitespace
    tokens; a budget in BPE tokens would join this frame instead).

    Scale shape: identical to text_bpe_train — per round ONE in-row
    pair explode + hash count with map-side combine, a 1-row broadcast
    of the adopted merge, and an in-row fold rewrite; the final frame
    is one narrow per-doc projection. The merge table is O(K) rows at
    any corpus size; nothing doc-cardinality ever sits on the driver."""
    step = _BPE_STEP.format(endswith="endswith", concat3="concat")
    fold = (
        "aggregate(slice(split(s, ' '), 2, size(split(s, ' '))), "
        "element_at(split(s, ' '), 1), "
        f"(acc, x) -> {step})"
    )
    seq = T.materialize(
        tables.load(spark, sf_dir, "documents").select(
            "doc_id", F.col("text").alias("s")
        )
    )
    base = seq.select(
        "doc_id", F.size(F.split("s", " ")).alias("n0")
    )
    for _k in range(1, _BPE_ITERS + 1):
        a = seq.select(F.split("s", " ").alias("ts"))
        best = T.materialize(
            a.filter(F.size("ts") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(ts) - 2), "
                        "i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
                    )
                ).alias("b")
            )
            .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), "w1", "w2")
            .limit(1)
            .select("w1", "w2")
        )
        seq = T.materialize(
            seq.crossJoin(F.broadcast(best)).selectExpr(
                "doc_id", fold + " AS s"
            ),
            cut_lineage=True,  # loop state: plan must not grow per round
        )
    return (
        seq.select("doc_id", F.size(F.split("s", " ")).alias("nN"))
        .join(base, "doc_id")
        .select(
            "doc_id",
            F.col("n0").cast("bigint").alias("n_ws_tokens"),
            F.col("nN").cast("bigint").alias("n_bpe_tokens"),
            (F.col("n0") - F.col("nN")).cast("bigint").alias("n_merged"),
            F.expr(
                rnd("CAST(nN AS DOUBLE) / n0", 6)
            ).alias("fertility"),
        )
    )


# --- token burstiness (Church-Gale) ----------------------------------------

@query(
    "text_token_burstiness",
    oracle=(
        "WITH toks AS (SELECT doc_id, "
        "unnest(string_split(text, ' ')) AS tok FROM documents), "
        "cf AS (SELECT tok, COUNT(*) AS cf, "
        "COUNT(DISTINCT doc_id) AS df FROM toks WHERE tok <> '' "
        "GROUP BY tok), "
        "top AS (SELECT tok, cf, df FROM cf ORDER BY cf DESC, tok "
        "LIMIT 30) "
        "SELECT tok, CAST(cf AS BIGINT) AS corpus_freq, "
        "CAST(df AS BIGINT) AS doc_freq, "
        + rnd("CAST(cf AS DOUBLE) / df", 4)
        + " AS burstiness FROM top"
    ),
)
def text_token_burstiness(spark, sf_dir):
    """Church-Gale burstiness of the 30 most frequent tokens: corpus
    frequency over document frequency — a word that appears many times
    in few documents (bursty, cf/df high) is topical; one spread thinly
    everywhere is a function word, however frequent. The signal that
    upgrades stopword lists and tf-idf floors from frequency-only
    heuristics. One token-cardinality aggregate with an exact distinct
    count, a top-30 heap, one snapped division per row."""
    toks = T.docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    return (
        toks.filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("corpus_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("corpus_freq"), "tok")
        .limit(30)
        .select(
            "tok",
            F.col("corpus_freq").cast("bigint").alias("corpus_freq"),
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            F.expr(
                rnd("CAST(corpus_freq AS DOUBLE) / doc_freq", 4)
            ).alias("burstiness"),
        )
    )


# --- Cohen's kappa for the language classifier -----------------------------

def _kappa_tail() -> str:
    """Shared text over j(lang, lang_pred): observed agreement, chance
    agreement from exact integer marginals, chance-corrected kappa."""
    return (
        "t AS (SELECT COUNT(*) AS n, "
        "SUM(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) AS agree "
        "FROM j), "
        "rm AS (SELECT lang AS c, COUNT(*) AS nr FROM j GROUP BY lang), "
        "cm AS (SELECT lang_pred AS c, COUNT(*) AS nc FROM j "
        "GROUP BY lang_pred), "
        "pe AS (SELECT SUM(CAST(rm.nr AS BIGINT) * cm.nc) AS pen "
        "FROM rm JOIN cm ON rm.c = cm.c) "
        "SELECT CAST(t.n AS BIGINT) AS n_docs, "
        + rnd("CAST(t.agree AS DOUBLE) / t.n", 6) + " AS observed_po, "
        + rnd(
            "CAST(pe.pen AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n)", 6
        )
        + " AS chance_pe, "
        + rnd(
            "(CAST(t.agree AS DOUBLE) / t.n - CAST(pe.pen AS DOUBLE) "
            "/ (CAST(t.n AS DOUBLE) * t.n)) / (1.0e0 "
            "- CAST(pe.pen AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n))",
            6,
        )
        + " AS cohens_kappa FROM t CROSS JOIN pe"
    )


@query(
    "text_langid_kappa",
    oracle=(
        "WITH " + T.TOKS_CTE + ", "
        f"p AS (SELECT doc_id, {_LANGID_PRED} AS lang_pred "
        "FROM toks GROUP BY doc_id), "
        "j AS (SELECT d.lang, p.lang_pred FROM documents d "
        "JOIN p ON p.doc_id = d.doc_id), "
        + _kappa_tail()
    ),
)
def text_langid_kappa(spark, sf_dir):
    """Cohen's kappa for the language heuristic against the labels:
    chance-corrected agreement — raw accuracy flatters any classifier
    on an imbalanced label mix (predicting the majority class scores
    high by luck), kappa subtracts exactly that luck from the exact
    integer marginals. The one-number companion to
    text_langid_confusion's full matrix; same doc-cardinality frame,
    marginals and the correction are category-sized aggregates.

    Single scan: the per-doc stopword ratio is a pure in-row array
    fold (size of the filtered split over size of the split —
    identical to the explode + groupBy count, since split('') = ['']
    keeps the denominator nonzero exactly like posexplode does), so
    the prediction rides the SAME row as the label with no explode,
    no shuffle, and no self-join; the 2-column (lang, lang_pred)
    frame is materialized because the kappa tail references it three
    ways (the previous explode+join form re-derived the corpus scan
    per reference — 5x documents reads, round-7 scan audit)."""
    from ..operators.textops import materialize as _mat

    sw = ", ".join(f"'{w}'" for w in T.STOPWORDS)
    j = _mat(
        T.docs(spark, sf_dir).selectExpr(
            "lang",
            "CASE WHEN CAST(size(filter(split(text, ' '), "
            f"t -> t IN ({sw}))) AS DOUBLE) / size(split(text, ' ')) "
            ">= 0.05 THEN 'en' ELSE 'unknown' END AS lang_pred",
        )
    )
    j.createOrReplaceTempView("kp_j")
    return spark.sql(
        "WITH j AS (SELECT lang, lang_pred FROM kp_j), " + _kappa_tail()
    )


# --- lexical richness per source -------------------------------------------

@query(
    "text_lexical_richness",
    oracle=(
        "WITH tk AS (SELECT d.source, "
        "unnest(string_split(d.text, ' ')) AS tok FROM documents d), "
        "s AS (SELECT source, COUNT(*) AS n_tok, "
        "COUNT(DISTINCT tok) AS n_types FROM tk WHERE tok <> '' "
        "GROUP BY source) "
        "SELECT source, CAST(n_tok AS BIGINT) AS n_tokens, "
        "CAST(n_types AS BIGINT) AS n_types, "
        + rnd("CAST(n_types AS DOUBLE) / n_tok", 6) + " AS ttr, "
        + rnd("CAST(n_types AS DOUBLE) / SQRT(CAST(n_tok AS DOUBLE))", 4)
        + " AS guiraud_r FROM s"
    ),
)
def text_lexical_richness(spark, sf_dir):
    """Lexical richness per source: type-token ratio and Guiraud's R
    (types over sqrt(tokens) — the size-corrected form, since raw TTR
    mechanically falls with corpus size and comparing sources by it is
    a classic mistake). Low richness flags templated/boilerplate-heavy
    sources before they dilute a training mix; one token-cardinality
    aggregate with an exact distinct count per source."""
    tk = T.docs(spark, sf_dir).select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    return (
        tk.filter(F.col("tok") != "")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_types"),
        )
        .select(
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_types").cast("bigint").alias("n_types"),
            F.expr(
                rnd("CAST(n_types AS DOUBLE) / n_tokens", 6)
            ).alias("ttr"),
            F.expr(
                rnd(
                    "CAST(n_types AS DOUBLE) "
                    "/ SQRT(CAST(n_tokens AS DOUBLE))",
                    4,
                )
            ).alias("guiraud_r"),
        )
    )


# --- unigram-LM Viterbi tokenizer (SentencePiece-style inference) ----------

#: max piece length (chars), vocabulary budget, word truncation cap.
_UV_L = 4
_UV_V = 256
_UV_CAP = 24
#: OOV sentinel cost — never wins (every single char is in the vocab,
#: so the best char-by-char path costs <= CAP * ~2.1e6 << 1e12).
_UV_BIG = "CAST(1000000000000 AS BIGINT)"
#: piece cost in integer 1e-5-nat units: -ln(p(piece)) over the candidate
#: substring distribution. LN is snapped to integer units before ANY
#: cross-row arithmetic (the _KN_LP_U doctrine: engines may differ in the
#: last ulp of LN, the snap makes downstream sums exact integers).
_UV_COST = "CAST(ROUND(LN(CAST(t AS DOUBLE) / c) * 1.0e5) AS BIGINT)"


def _uv_dp_spark() -> str:
    """Viterbi DP as one in-row fold: best[i] = min over piece lengths
    j of best[i-j] + w(piece at i-j+1..i), where the edge weight packs
    (cost, 1 token) into one BIGINT as cost*64 + 1. Minimizing the
    packed value is lexicographic (total cost, then token count) since
    token count <= CAP(24) < 64 — the same pack-the-registers trick as
    the Goertzel resonator. `cf` is the per-word (start,len)->cost map;
    a missing key = OOV piece = sentinel that never wins."""
    return (
        "element_at(aggregate(sequence(1, m), array(CAST(0 AS BIGINT)), "
        "(acc, i) -> array_append(acc, array_min(transform("
        f"sequence(1, least({_UV_L}, i)), "
        "j -> element_at(acc, i - j + 1) "
        f"+ coalesce(element_at(cf, (i - j) * {_UV_L} + j), {_UV_BIG}) "
        "* 64 + 1)))), m + 1)"
    )


def _uv_dp_duck() -> str:
    """The same fold in DuckDB: list_reduce has no init argument, so the
    position stream is prepended with the seed [0] wrapped as a 1-list
    (probed: LIST-typed accumulators fold correctly in DuckDB 1.0 —
    the struct-field mis-aliasing quirk does not apply to lists).
    Map subscript returns a LIST there, hence the [1]."""
    return (
        "list_reduce(list_prepend([CAST(0 AS BIGINT)], "
        "list_transform(range(1, m + 1), q -> [CAST(q AS BIGINT)])), "
        "(acc, x) -> list_append(acc, list_min(list_transform("
        f"range(1, least({_UV_L}, x[1]) + 1), "
        "j -> acc[x[1] - j + 1] "
        f"+ coalesce(cf[(x[1] - j) * {_UV_L} + j][1], {_UV_BIG}) "
        "* 64 + 1))))[m + 1]"
    )


def _uv_oracle_prefix() -> str:
    """The shared train-side CTE chain (w0 .. cfw), reused verbatim by
    the Viterbi and greedy-WordPiece oracles so both gates provably
    segment with the SAME trained vocabulary. w0/cand/pc are referenced
    more than once -> AS MATERIALIZED (round-9 CTE-inlining doctrine);
    every marked CTE is referenced by name downstream."""
    return (
        "WITH w0 AS MATERIALIZED ("
        f"SELECT doc_id, substr(w, 1, {_UV_CAP}) AS w "
        "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
        "FROM documents) WHERE w <> ''), "
        "wf AS (SELECT w, len(w) AS m, COUNT(*) AS cnt FROM w0 "
        "GROUP BY w), "
        "cand AS MATERIALIZED ("
        "SELECT wf.w, wf.m, wf.cnt, s.range AS s, j.range AS j, "
        "substr(wf.w, CAST(s.range AS INTEGER), CAST(j.range AS INTEGER))"
        " AS piece "
        f"FROM wf, range(1, {_UV_CAP + 1}) s, range(1, {_UV_L + 1}) j "
        "WHERE s.range <= wf.m AND s.range + j.range - 1 <= wf.m), "
        "pc AS MATERIALIZED (SELECT piece, SUM(cnt) AS c FROM cand "
        "GROUP BY piece), "
        "tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM pc), "
        "vocab AS (SELECT piece, MAX(c) AS c FROM ("
        f"(SELECT piece, c FROM pc ORDER BY c DESC, piece LIMIT {_UV_V}) "
        "UNION ALL SELECT piece, c FROM pc WHERE len(piece) = 1"
        ") GROUP BY piece), "
        f"vc AS (SELECT piece, {_UV_COST} AS v "
        "FROM vocab CROSS JOIN tot), "
        "cfw AS (SELECT cand.w, MAX(cand.m) AS m, map_from_entries("
        f"array_agg(struct_pack(k := (cand.s - 1) * {_UV_L} + cand.j, "
        "v := vc.v))) AS cf "
        "FROM cand JOIN vc ON vc.piece = cand.piece GROUP BY cand.w), "
    )


def _uv_oracle() -> str:
    """DuckDB twin of the Viterbi query: shared train chain + the DP."""
    return (
        _uv_oracle_prefix()
        + f"wr AS (SELECT w, {_uv_dp_duck()} AS best FROM cfw) "
        "SELECT w0.doc_id, "
        "CAST(COUNT(*) AS BIGINT) AS n_ws_tokens, "
        "CAST(SUM(wr.best % 64) AS BIGINT) AS n_pieces, "
        "CAST(SUM(wr.best // 64) AS BIGINT) AS nll_units, "
        + rnd(
            "CAST(SUM(wr.best % 64) AS DOUBLE) / COUNT(*)", 6
        )
        + " AS fertility, "
        + rnd(
            "CAST(SUM(wr.best // 64) AS DOUBLE) / 1.0e5 "
            "/ SUM(wr.best % 64)",
            6,
        )
        + " AS nats_per_piece "
        "FROM w0 JOIN wr USING (w) GROUP BY w0.doc_id"
    )


def _uv_train(spark, sf_dir):
    """The TRAIN side of the unigram tokenizer, shared by the batch
    query and the at-ingest twin: (w0 word occurrences, cand piece
    candidates over distinct words, vc trained vocabulary with integer
    1e-5-nat costs)."""
    d = (
        T.docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split("text", " ")).alias("w0"))
        .filter(F.col("w0") != "")
        .select(
            "doc_id", F.expr(f"substring(w0, 1, {_UV_CAP})").alias("w")
        )
    )
    w0 = T.materialize(d)
    wf = (
        w0.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("m", F.length("w"))
    )
    cand = T.materialize(
        wf.select(
            "w",
            "m",
            "cnt",
            F.expr(
                "inline(flatten(transform(sequence(1, m), s -> "
                f"transform(sequence(1, least({_UV_L}, m - s + 1)), "
                "j -> struct(s AS s, j AS j, "
                "substring(w, s, j) AS piece)))))"
            ),
        )
    )
    pc = T.materialize(cand.groupBy("piece").agg(F.sum("cnt").alias("c")))
    tot = pc.agg(F.sum("c").cast("bigint").alias("t"))
    vocab = (
        pc.orderBy(F.desc("c"), "piece")
        .limit(_UV_V)
        .unionByName(pc.filter(F.length("piece") == 1))
        .groupBy("piece")
        .agg(F.max("c").alias("c"))
    )
    vc = vocab.crossJoin(F.broadcast(tot)).select(
        "piece", F.expr(_UV_COST).alias("v")
    )
    return w0, cand, vc


def _uv_cfw(cand, vc):
    """Per-distinct-word (start,len)->cost map over the trained vocab —
    the inference-side input frame, shared by the Viterbi and greedy
    segmenters."""
    return (
        cand.join(F.broadcast(vc), "piece")
        .selectExpr("w", "m", f"(s - 1) * {_UV_L} + j AS k", "v")
        .groupBy("w")
        .agg(
            F.max("m").alias("m"),
            F.expr(
                "map_from_entries(collect_list(struct(k, v)))"
            ).alias("cf"),
        )
    )


def uv_vocab_rows(spark, sf_dir) -> list[tuple[str, int]]:
    """Ship the trained tokenizer to an ingest job: the <= V+alphabet
    (piece, cost) rows ARE the model artifact (what SentencePiece
    serializes to its .model file), bounded by construction — never
    row data. The at-ingest twin (streaming/twins.tokenize_stream)
    embeds them as a literal map so tokenization needs no join."""
    _w0, _cand, vc = _uv_train(spark, sf_dir)
    return [(r["piece"], int(r["v"])) for r in vc.collect()]


@query("text_unigram_viterbi", oracle=_uv_oracle())
def text_unigram_viterbi(spark, sf_dir):
    """Unigram-LM tokenizer inference (the SentencePiece/Kudo-2018
    decode pass): a piece vocabulary — the top-V most frequent word
    substrings up to 4 chars, plus every single character so any word
    is segmentable — scores each piece at -ln(p) in integer 1e-5-nat
    units, and each word is segmented by VITERBI: the min-total-cost
    path over piece boundaries, token count as the tiebreak. This is
    the dynamic-programming tokenizer class next to text_bpe_encode's
    greedy merge replay — the two inference algorithms real tokenizers
    use — and the per-doc NLL it emits is the corpus bits-per-token
    under the unigram model (the CCNet-style quality signal computed by
    an actual tokenizer rather than a whitespace proxy).

    Scale shape: word frequencies in one corpus-token hash-agg; piece
    candidates explode DISTINCT words only (<= CAP*L = 96 pieces per
    word, in-row); the vocabulary is a <= V+alphabet broadcast; the DP
    is one in-row fold per distinct word (packed-BIGINT accumulator,
    zero shuffle); assembly is the standard Zipf-bounded dictionary
    join plus one doc-cardinality agg. Nothing doc- or word-cardinality
    touches the driver."""
    w0, cand, vc = _uv_train(spark, sf_dir)
    wr = _uv_cfw(cand, vc).select(
        "w", F.expr(_uv_dp_spark()).alias("best")
    )
    return (
        w0.join(wr, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ws_tokens"),
            F.sum(F.expr("best % 64")).cast("bigint").alias("n_pieces"),
            F.sum(F.expr("best DIV 64")).cast("bigint").alias("nll_units"),
        )
        .select(
            "doc_id",
            "n_ws_tokens",
            "n_pieces",
            "nll_units",
            F.expr(
                rnd("CAST(n_pieces AS DOUBLE) / n_ws_tokens", 6)
            ).alias("fertility"),
            F.expr(
                rnd("CAST(nll_units AS DOUBLE) / 1.0e5 / n_pieces", 6)
            ).alias("nats_per_piece"),
        )
    )


# --- greedy longest-match segmentation (WordPiece inference) ---------------


def _wp_step(at) -> str:
    """One greedy step on packed state pos + 32*ntok + 1024*cost: take
    the LONGEST vocab piece starting at pos (4 down to 1; the 1-char
    fallback always exists), advance pos by its length, count it, add
    its cost. `at(key)` is the engine's cf-map lookup. Fields are
    additive, so the step is one CASE adding (j + 32 + 1024*cost_j)."""
    arms = []
    for j in (4, 3, 2):
        c = at(f"(acc % 32 - 1) * {_UV_L} + {j}")
        arms.append(f"WHEN {c} IS NOT NULL THEN {j} + 32 + 1024 * {c}")
    c1 = at(f"(acc % 32 - 1) * {_UV_L} + 1")
    return (
        "CASE WHEN acc % 32 > m THEN acc ELSE acc + CASE "
        + " ".join(arms)
        + f" ELSE 1 + 32 + 1024 * {c1} END END"
    )


def _wp_spark() -> str:
    at = lambda k: f"element_at(cf, {k})"  # noqa: E731
    return (
        f"aggregate(sequence(1, {_UV_CAP}), CAST(1 AS BIGINT), "
        f"(acc, x) -> {_wp_step(at)})"
    )


def _wp_duck() -> str:
    at = lambda k: f"cf[{k}][1]"  # noqa: E731
    return (
        f"list_reduce(list_prepend(CAST(1 AS BIGINT), "
        f"list_transform(range(1, {_UV_CAP + 1}), "
        "q -> CAST(q AS BIGINT))), "
        f"(acc, x) -> {_wp_step(at)})"
    )


def _wp_oracle() -> str:
    """Shared train chain + BOTH segmenters per word, so the gate pins
    greedy and Viterbi against each other (excess >= 0 is the
    optimality invariant, carried as data)."""
    return (
        _uv_oracle_prefix()
        + f"wr AS (SELECT w, {_uv_dp_duck()} AS vb, {_wp_duck()} AS gb "
        "FROM cfw) "
        "SELECT w0.doc_id, "
        "CAST(COUNT(*) AS BIGINT) AS n_ws_tokens, "
        "CAST(SUM((wr.gb // 32) % 32) AS BIGINT) AS n_wp_pieces, "
        "CAST(SUM(wr.vb % 64) AS BIGINT) AS n_vit_pieces, "
        "CAST(SUM(wr.gb // 1024) AS BIGINT) AS wp_nll_units, "
        "CAST(SUM(wr.vb // 64) AS BIGINT) AS vit_nll_units, "
        "CAST(SUM(wr.gb // 1024 - wr.vb // 64) AS BIGINT) "
        "AS excess_units, "
        + rnd(
            "CAST(SUM((wr.gb // 32) % 32) AS DOUBLE) / COUNT(*)", 6
        )
        + " AS wp_fertility "
        "FROM w0 JOIN wr USING (w) GROUP BY w0.doc_id"
    )


@query("text_wordpiece_greedy", oracle=_wp_oracle())
def text_wordpiece_greedy(spark, sf_dir):
    """Greedy longest-match-first segmentation — the WordPiece/BERT
    inference algorithm — over the SAME trained vocabulary as
    text_unigram_viterbi, with both segmenters gated side by side.
    This completes the tokenizer-inference triad real pipelines ship
    (BPE merge replay, unigram Viterbi, greedy longest-match), and the
    gate carries the textbook relationship as DATA: per doc, greedy
    token count/NLL next to Viterbi's, and excess_units = greedy NLL -
    Viterbi NLL, which the DP's optimality forces >= 0 — a Viterbi
    that ever scores above greedy, or a greedy that skips a longer
    match, flips a value and fails the hash. The greedy walk is a
    packed-BIGINT fold too (pos + 32*ntok + 1024*cost, fields
    additive, CAP iterations with a past-end no-op arm), one in-row
    fold per distinct word.

    Scale shape: identical to the Viterbi query — train side shared
    (_uv_train), one extra in-row fold on the same cfw frame, same
    Zipf-bounded dictionary join and doc agg. Zero extra shuffles."""
    w0, cand, vc = _uv_train(spark, sf_dir)
    wr = _uv_cfw(cand, vc).select(
        "w",
        F.expr(_uv_dp_spark()).alias("vb"),
        F.expr(_wp_spark()).alias("gb"),
    )
    return (
        w0.join(wr, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ws_tokens"),
            F.sum(F.expr("(gb DIV 32) % 32"))
            .cast("bigint")
            .alias("n_wp_pieces"),
            F.sum(F.expr("vb % 64")).cast("bigint").alias("n_vit_pieces"),
            F.sum(F.expr("gb DIV 1024"))
            .cast("bigint")
            .alias("wp_nll_units"),
            F.sum(F.expr("vb DIV 64"))
            .cast("bigint")
            .alias("vit_nll_units"),
            F.sum(F.expr("gb DIV 1024 - vb DIV 64"))
            .cast("bigint")
            .alias("excess_units"),
        )
        .select(
            "*",
            F.expr(
                rnd("CAST(n_wp_pieces AS DOUBLE) / n_ws_tokens", 6)
            ).alias("wp_fertility"),
        )
    )


def _nfc_oracle() -> str:
    """DuckDB's ICU-backed nfc_normalize arbitrates: the identical
    content (same 120-char prefix, same chr()-built decomposed suffix)
    is normalized SQL-side; code-point counts (DuckDB length() is
    code-point-based, probed), the changed flag, and the md5 of the
    normalized UTF-8 must match Python's unicodedata output exactly."""
    sufs = []
    for s in T.NFC_SUFFIXES:
        sufs.append(" || ".join(f"chr({ord(c)})" for c in s))
    case = (
        "CASE ((doc_id % 6) + 6) % 6 "
        + " ".join(
            f"WHEN {i} THEN {expr}" for i, expr in enumerate(sufs)
        )
        + " END"
    )
    return (
        f"WITH b AS (SELECT doc_id, substring(text, 1, 120) || {case} "
        "AS content FROM documents), "
        "n AS (SELECT doc_id, content, nfc_normalize(content) AS norm "
        "FROM b) "
        "SELECT doc_id, CAST(length(content) AS INT) AS n_cp_before, "
        "CAST(length(norm) AS INT) AS n_cp_after, "
        "norm <> content AS changed, md5(norm) AS norm_md5 FROM n"
    )


@query("text_unicode_nfc_audit", oracle=_nfc_oracle())
def text_unicode_nfc_audit(spark, sf_dir):
    """Unicode NFC normalization — the text-cleaning step every
    multilingual corpus build runs before tokenization (mixed NFC/NFD
    sources make identical words hash differently, poisoning dedup and
    vocabulary counts). Gated by CROSS-IMPLEMENTATION conformance, the
    zlib-style external-arbiter pattern: Spark normalizes with
    CPython's unicodedata (UCD tables), the oracle with DuckDB's
    ICU-backed nfc_normalize, on identical content — real document
    text plus injected decomposed suffixes covering combining-mark
    composition, canonical REORDERING (ccc 230 before 220 must sort
    then compose), Hangul L+V+T arithmetic composition, and katakana
    voicing. Any disagreement between the two Unicode implementations
    on any doc flips a count, flag, or md5 and fails the driver hash.
    In-row expression work; payloads never shuffle — one Arrow-batched
    stage over a spread scan."""
    d = T.spread_small_scan(
        T.docs(spark, sf_dir), spark, f"{sf_dir}/documents.parquet"
    )
    return T.nfc_audit(d)
