"""Corpus-curation operators over `documents` — the data-selection half
of an LLM training pipeline (the text.py family scores documents; this
family decides what to TRAIN on):

- Gopher-style intra-document repetition metrics (filter signal),
- benchmark-contamination check (n-gram overlap vs a held-out set),
- deterministic source-mix sampling (per-source caps),
- per-source token-budget selection (quality-ranked data mixing).

All four are JVM-side Catalyst plans. Repetition is fully narrow
(higher-order array functions inside the row — zero shuffles);
contamination joins the exploded training shingles against a BROADCAST
distinct benchmark-shingle set; the two mixing operators are one window
exchange on `source` each. At 100 TB: repetition scales embarrassingly;
the benchmark set stays broadcastable by construction (benchmarks are
tiny vs the corpus); mix/budget windows partition by source, so
parallelism = number of sources × AQE splits, and no global sort exists
anywhere.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.exprs import id_mix, rnd
from ..operators import textops as T
from ..registry import query

# --- Gopher-style repetition metrics (narrow, zero-shuffle) ---------------

# Let-binding via single-element transform (see textops.doc_shingle_ids):
# the n-gram array is built ONCE, then both size() and array_distinct()
# read the bound variable — HOF exprs are interpreted, no codegen CSE.
def _distinct_ngram_ratio_spark(n: int) -> str:
    grams = (
        f"transform(sequence(1, size(split(text, ' ')) - {n - 1}), "
        f"i -> concat_ws(' ', slice(split(text, ' '), i, {n})))"
    )
    return (
        f"CASE WHEN size(split(text, ' ')) < {n} THEN 1.0e0 ELSE "
        f"transform(array({grams}), "
        "b -> CAST(size(array_distinct(b)) AS DOUBLE) / size(b))[0] END"
    )


# Longest run in the SORTED token array == the highest single-token
# count: one interpreted fold per document, still narrow/zero-shuffle —
# the explode+groupBy(doc_id, tok)+max alternative costs two shuffles.
_TOP_TOKEN_COUNT_SPARK = (
    "aggregate(array_sort(split(text, ' ')), "
    "named_struct('prev', CAST(NULL AS STRING), "
    "'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)), "
    "(acc, x) -> named_struct("
    "'prev', x, "
    "'run', IF(x <=> acc.prev, acc.run + 1L, 1L), "
    "'best', GREATEST(acc.best, IF(x <=> acc.prev, acc.run + 1L, 1L))), "
    "acc -> acc.best)"
)

_REP_FLAG = "(top_tok_frac > 0.12e0 OR bi_distinct_ratio < 0.93e0)"


@query(
    "text_repetition_metrics",
    oracle=(
        "WITH sp AS (SELECT doc_id, string_split(text, ' ') AS toks "
        "FROM documents), "
        "per AS (SELECT doc_id, unnest(toks) AS tok FROM sp), "
        "cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM per GROUP BY 1, 2), "
        "top AS (SELECT doc_id, MAX(c) AS best, SUM(c) AS n "
        "FROM cnt GROUP BY 1), "
        "bi AS (SELECT doc_id, len(toks) AS n_tokens, "
        "CASE WHEN len(toks) < 2 THEN 1.0e0 ELSE "
        "CAST(len(list_distinct(list_transform(range(1, len(toks)), "
        "i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1) "
        "END AS br, "
        "CASE WHEN len(toks) < 3 THEN 1.0e0 ELSE "
        "CAST(len(list_distinct(list_transform(range(1, len(toks) - 1), "
        "i -> array_to_string(toks[i:i+2], ' ')))) AS DOUBLE) "
        "/ (len(toks) - 2) END AS tr FROM sp) "
        "SELECT doc_id, n_tokens, "
        + rnd("CAST(best AS DOUBLE) / n", 4)
        + " AS top_tok_frac, "
        + rnd("br", 4)
        + " AS bi_distinct_ratio, "
        + rnd("tr", 4)
        + " AS tri_distinct_ratio, "
        "(" + rnd("CAST(best AS DOUBLE) / n", 4) + " > 0.12e0 OR "
        + rnd("br", 4) + " < 0.93e0) AS repetitive "
        "FROM top JOIN bi USING (doc_id)"
    ),
)
def text_repetition_metrics(spark, sf_dir):
    """Gopher-style repetition signals (per Rae et al. 2021 §A1.1
    filters): top-token fraction, distinct 2-/3-gram ratios, and the
    boolean keep/drop flag. Everything computes inside the row with
    higher-order array functions — ZERO shuffles, scales embarrassingly
    (the oracle's explode+groupBy formulation is the semantics, not the
    plan)."""
    # One evaluation per metric: the flag reads the let-bound struct
    # fields instead of re-inlining the fold/ngram expressions (a plain
    # select + withColumn collapses into one projection that evaluates
    # top_tok_frac and bi_distinct_ratio TWICE — the interpreted-HOF
    # double-eval hazard, see textops.doc_shingle_ids; inline() is a
    # generator, so Catalyst cannot collapse through it).
    top = rnd(
        f"CAST(({_TOP_TOKEN_COUNT_SPARK}) AS DOUBLE) "
        "/ size(split(text, ' '))",
        4,
    )
    metrics = (
        "named_struct("
        "'n_tokens', size(split(text, ' ')), "
        f"'top_tok_frac', {top}, "
        f"'bi_distinct_ratio', {rnd(_distinct_ngram_ratio_spark(2), 4)}, "
        f"'tri_distinct_ratio', {rnd(_distinct_ngram_ratio_spark(3), 4)})"
    )
    wrapped = (
        f"transform(array({metrics}), m -> named_struct("
        "'n_tokens', m.n_tokens, "
        "'top_tok_frac', m.top_tok_frac, "
        "'bi_distinct_ratio', m.bi_distinct_ratio, "
        "'tri_distinct_ratio', m.tri_distinct_ratio, "
        "'repetitive', m.top_tok_frac > 0.12e0 "
        "OR m.bi_distinct_ratio < 0.93e0))"
    )
    # n-gram string building is real per-row compute: spread a
    # single-row-group scan across cores (no-op at production scale).
    d = T.spread_small_scan(
        T.docs(spark, sf_dir), spark, f"{sf_dir}/documents.parquet"
    )
    return d.select("doc_id", F.inline(F.expr(wrapped)))


# --- benchmark contamination (n-gram overlap vs a held-out set) -----------

_BENCH_SOURCE = "src0"


@query(
    "contamination_ngram_overlap",
    oracle=(
        "WITH sp AS (SELECT doc_id, source, string_split(text, ' ') AS toks "
        "FROM documents), "
        "sh AS (SELECT doc_id, source, unnest("
        "CASE WHEN len(toks) < 3 THEN [] ELSE "
        "list_distinct(list_transform(range(1, len(toks) - 1), "
        "i -> array_to_string(toks[i:i+2], ' '))) END) AS shingle FROM sp), "
        f"bench AS (SELECT DISTINCT shingle FROM sh "
        f"WHERE source = '{_BENCH_SOURCE}'), "
        f"train AS (SELECT doc_id, shingle FROM sh "
        f"WHERE source <> '{_BENCH_SOURCE}'), "
        "n AS (SELECT doc_id, COUNT(*) AS n_sh FROM train GROUP BY 1), "
        "h AS (SELECT t.doc_id, COUNT(*) AS n_hits FROM train t "
        "JOIN bench b USING (shingle) GROUP BY 1) "
        "SELECT doc_id, n_sh, n_hits, "
        + rnd("CAST(n_hits AS DOUBLE) / n_sh", 4)
        + " AS hit_frac FROM h JOIN n USING (doc_id)"
    ),
)
def contamination_ngram_overlap(spark, sf_dir):
    """Benchmark-contamination check: training docs (source != 'src0')
    sharing any distinct 3-gram shingle with the benchmark set
    (source = 'src0'), with per-doc overlap counts — the pre-training
    hygiene step that keeps eval sets out of the corpus.

    Scale shape: both sides shingle NARROWLY off their own
    filter-pushed scan (`textops.doc_shingle_ids` — 8-byte hashes,
    per-doc dedup inside the row); the benchmark's distinct-hash set is
    tiny by construction (benchmarks are fixed-size; the corpus grows)
    so the probe is a BROADCAST hash semi-join — the 100 TB training
    side never shuffles at all, and the one agg that follows groups on
    doc_id of the surviving (contaminated) sliver only."""
    d = T.docs(spark, sf_dir)
    bench_sh = (
        T.doc_shingle_ids(
            spark, sf_dir, frame=d.filter(F.col("source") == _BENCH_SOURCE)
        )
        .select("sh")
        .distinct()
    )
    train = T.doc_shingle_ids(
        spark, sf_dir, frame=d.filter(F.col("source") != _BENCH_SOURCE)
    )
    return (
        train.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(
            F.min("n_sh").alias("n_sh"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_sh",
            "n_hits",
            F.expr(rnd("CAST(n_hits AS DOUBLE) / n_sh", 4)).alias("hit_frac"),
        )
    )


# --- deterministic source-mix sampling ------------------------------------

_MIX_CAP = 5


@query(
    "corpus_mix_sample",
    oracle=(
        "SELECT doc_id, source, pick FROM ("
        "SELECT doc_id, source, ROW_NUMBER() OVER ("
        "PARTITION BY source ORDER BY "
        + T.hashed_id_duck("text")
        + ", doc_id) AS pick FROM documents) "
        f"WHERE pick <= {_MIX_CAP}"
    ),
)
def corpus_mix_sample(spark, sf_dir):
    """Source-mix rebalancing: at most 5 documents per source, chosen by
    content-hash order — the deterministic twin of per-source downsampling
    in a data-mixing recipe (reproducible across engines, runs, and
    cluster sizes, unlike RNG sampling). One window exchange partitioned
    on source; no global sort. At 100 TB swap the cap for per-source
    target counts — the plan shape is unchanged."""
    w = Window.partitionBy("source").orderBy(
        F.expr(T.hashed_id_spark("text")), "doc_id"
    )
    return (
        T.docs(spark, sf_dir)
        .select("doc_id", "source", F.row_number().over(w).alias("pick"))
        .filter(F.col("pick") <= _MIX_CAP)
    )


# --- per-source token-budget selection ------------------------------------

_TOKEN_BUDGET = 600

# Lexical-diversity score; exact bigint/bigint IEEE division is
# bit-identical across engines, so ordering on it is deterministic.
_SCORE_SPARK = (
    "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE) "
    "/ size(split(text, ' '))"
)
_SCORE_DUCK = (
    "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) "
    "/ len(string_split(text, ' '))"
)


@query(
    "corpus_token_budget",
    oracle=(
        "WITH sp AS (SELECT doc_id, source, "
        "len(string_split(text, ' ')) AS n_tokens, "
        f"{_SCORE_DUCK} AS sc FROM documents), "
        "c AS (SELECT doc_id, source, n_tokens, sc, "
        "SUM(n_tokens) OVER (PARTITION BY source "
        "ORDER BY sc DESC, doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens "
        "FROM sp) "
        "SELECT doc_id, source, n_tokens, cum_tokens, "
        + rnd("sc", 4)
        + f" AS score FROM c WHERE cum_tokens <= {_TOKEN_BUDGET}"
    ),
)
def corpus_token_budget(spark, sf_dir):
    """Data selection under a token budget: per source, take the
    highest-lexical-diversity documents until the source's running token
    count exceeds the budget — the "fill each domain's quota with its
    best data" step of a mixing recipe. The cumulative window partitions
    by source (never a global order), so the plan is one exchange and
    parallelism follows the source count; per-source budgets are exactly
    how a 100 TB mix is specified, so the global-budget variant this
    deliberately avoids (a single-partition window) never needs to
    exist."""
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("sc"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = T.docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.expr("size(split(text, ' '))").alias("n_tokens"),
        F.expr(_SCORE_SPARK).alias("sc"),
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= _TOKEN_BUDGET)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "cum_tokens",
            F.expr(rnd("sc", 4)).alias("score"),
        )
    )


# --- sequence packing (docs -> fixed-capacity training sequences) ---------

_SEQ_LEN = 512


@query(
    "corpus_sequence_pack",
    oracle=(
        "WITH sp AS (SELECT doc_id, source, "
        "len(string_split(text, ' ')) AS n_tokens FROM documents), "
        "c AS (SELECT doc_id, source, n_tokens, "
        "SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens "
        "AS off FROM sp) "
        "SELECT doc_id, source, n_tokens, "
        # NB: DuckDB CAST(double AS BIGINT) ROUNDS; `//` on bigints is
        # the floor division that matches Spark's floor(col / L).
        f"(off // {_SEQ_LEN}) AS seq_id, "
        f"(off % {_SEQ_LEN}) AS seq_offset, "
        f"((off // {_SEQ_LEN}) <> "
        f"((off + n_tokens - 1) // {_SEQ_LEN})) AS straddles "
        "FROM c"
    ),
)
def corpus_sequence_pack(spark, sf_dir):
    """Sequence packing: concatenate each source's documents in
    deterministic (doc_id) order and cut the stream into fixed
    512-token training sequences — every doc gets its (seq_id,
    seq_offset) address and a flag for straddling a sequence boundary.
    This is the greedy contiguous packing a pretraining tokenizer job
    runs before writing examples. One cumulative window partitioned by
    source (exact bigint sums, no floats anywhere); at 100 TB the
    partition key becomes (source, shard) and the plan is unchanged."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = T.docs(spark, sf_dir).select(
        "doc_id", "source", F.expr("size(split(text, ' '))").alias("n_tokens")
    )
    off = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return toks.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(off / _SEQ_LEN).alias("seq_id"),
        (off % _SEQ_LEN).cast("bigint").alias("seq_offset"),
        (
            F.floor(off / _SEQ_LEN)
            != F.floor((off + F.col("n_tokens") - 1) / _SEQ_LEN)
        ).alias("straddles"),
    )


# --- PII redaction (narrow, zero-shuffle) ---------------------------------

# The synthetic corpus carries no natural PII, so the query first plants
# deterministic PII derived from doc_id (one email, one phone, one IP per
# document — same expression in Spark and the oracle), then runs the real
# operator: a regexp_replace scrub chain. Patterns are RE2-and-Java-regex
# compatible (no lookaround, no backrefs).
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "555-[0-9]{4}"
_PII_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

_INJECT_SPARK = (
    "concat(text, ' contact user', cast(doc_id as string), '@mail',"
    " cast(doc_id % 7 as string), '.com call 555-',"
    " lpad(cast(doc_id % 10000 as string), 4, '0'), ' from 10.',"
    " cast(doc_id % 256 as string), '.0.1')"
)
_INJECT_DUCK = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail' ||"
    " CAST(doc_id % 7 AS VARCHAR) || '.com call 555-' ||"
    " lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' ||"
    " CAST(doc_id % 256 AS VARCHAR) || '.0.1'"
)


@query(
    "text_pii_redact",
    oracle=(
        "WITH injected AS (SELECT doc_id, n_chars, "
        f"{_INJECT_DUCK} AS raw FROM documents), "
        "scrubbed AS (SELECT doc_id, n_chars, "
        f"len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS n_emails, "
        f"len(regexp_extract_all(raw, '{_PII_PHONE}')) AS n_phones, "
        "regexp_replace(regexp_replace(regexp_replace(raw, "
        f"'{_PII_EMAIL}', '<EMAIL>', 'g'), "
        f"'{_PII_PHONE}', '<PHONE>', 'g'), "
        f"'{_PII_IP}', '<IP>', 'g') AS clean FROM injected) "
        "SELECT doc_id, n_emails, n_phones, "
        f"len(regexp_extract_all(clean, '{_PII_IP}')) AS n_ips_left, "
        "substr(clean, n_chars + 1) AS redacted_tail FROM scrubbed"
    ),
)
def text_pii_redact(spark, sf_dir):
    """PII scrub — the redaction pass every public-web training corpus
    runs (C4/Dolma-style): regexp_replace chain for emails, phone
    numbers, and IPv4 addresses, plus per-document match counts for the
    removal report. Fully narrow (regex inside the row, zero shuffles,
    whole-stage codegen); at 100 TB this is an embarrassingly parallel
    map over the scan with no state. `n_ips_left` re-scans the CLEAN
    text and must be 0 for every row — the operator audits itself.

    Reference parity: the reference has no PII pass (its pipeline
    ships raw messages, minio-connector.json flush.size=1); this is a
    north-star curation addition."""
    d = T.docs(spark, sf_dir).withColumn("raw", F.expr(_INJECT_SPARK))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return d.select(
        "doc_id",
        F.expr(f"regexp_count(raw, '{_PII_EMAIL}')").alias("n_emails"),
        F.expr(f"regexp_count(raw, '{_PII_PHONE}')").alias("n_phones"),
        clean.alias("_clean"),
        F.col("n_chars"),
    ).select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.expr(f"regexp_count(_clean, '{_PII_IP}')").alias("n_ips_left"),
        F.expr("substring(_clean, cast(n_chars + 1 as int))").alias(
            "redacted_tail"
        ),
    )


# --- deterministic train/validation/test split ---------------------------

#: hash bucket in [0, 1000): pure integer arithmetic, no engine hash
#: function (Spark xxhash64 and DuckDB hash() disagree). Full-entropy
#: two-prime quadratic mix (exprs.id_mix): BIGINT-safe at ANY corpus
#: size AND free of the mod-2^20 periodicity the old reduced-key form
#: had (ids congruent mod 2^20 no longer share a bucket by
#: construction — round-4 ADVICE).
_SPLIT_H = f"({id_mix('doc_id', 12345)} % 1000)"
_SPLIT = (
    f"CASE WHEN {_SPLIT_H} < 900 THEN 'train' "
    f"WHEN {_SPLIT_H} < 950 THEN 'validation' ELSE 'test' END"
)

_SPLIT_ORACLE = f"""
SELECT {_SPLIT} AS split, lang, COUNT(*) AS n_docs,
       SUM(n_chars) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents
GROUP BY 1, 2
"""


@query("corpus_split_assign", oracle=_SPLIT_ORACLE)
def corpus_split_assign(spark, sf_dir):
    """Deterministic 90/5/5 train/validation/test assignment by an LCG
    hash of doc_id, summarized per (split, lang). Membership is a pure
    narrow expression — reproducible across runs, engines, and
    re-partitioning, with no sampling state to checkpoint; the
    aggregate's key space is 3 x |langs|. At 100 TB the same expression
    is the partition predicate for writing the three corpora — no
    shuffle, no global coordination, and a doc's split never changes
    when the corpus grows (stable hash, unlike fraction-based
    randomSplit)."""
    return (
        T.docs(spark, sf_dir)
        .select(
            F.expr(_SPLIT).alias("split"),
            "lang",
            "n_chars",
            "doc_id",
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# --- corpus mix divergence -----------------------------------------------

#: per-term KL contribution p*ln(p/q), snapped to integer nano-units so
#: the cross-term SUM is exact integer arithmetic (ln() may differ in
#: the last ulp between the JVM and libm; 1e-9 snapping absorbs it)
_KL_TERM_U = (
    "CAST(ROUND((CAST(c AS DOUBLE) / CAST(ts AS DOUBLE)) * "
    "LN((CAST(c AS DOUBLE) / CAST(ts AS DOUBLE)) / "
    "(CAST(cg AS DOUBLE) / CAST(tg AS DOUBLE))) * 1.0e9) AS BIGINT)"
)

_KL_ORACLE = f"""
WITH tf AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
tfc AS (SELECT source, tok, COUNT(*) AS c FROM tf GROUP BY 1, 2),
st AS (SELECT source, SUM(c) AS ts FROM tfc GROUP BY source),
gt AS (SELECT tok, SUM(c) AS cg FROM tfc GROUP BY tok),
g AS (SELECT SUM(c) AS tg FROM tfc),
terms AS (
  SELECT tfc.source, {_KL_TERM_U} AS t_u
  FROM tfc JOIN st USING (source) JOIN gt USING (tok) CROSS JOIN g
)
SELECT source, COUNT(*) AS n_terms,
       CAST(SUM(t_u) AS DOUBLE) / 1.0e9 AS kl_divergence
FROM terms GROUP BY source
"""


@query("corpus_source_divergence", oracle=_KL_ORACLE)
def corpus_source_divergence(spark, sf_dir):
    """KL divergence of each source's token distribution from the
    corpus-wide distribution — the standard drift/mix-skew monitor for
    a training-data pipeline (a source whose KL jumps changed its
    content). Tokenization carries `source` from the scan, so the only
    fact-volume shuffle is the (source, token) count; source totals,
    global token counts, and the grand total all derive from that
    pinned reduced frame (vocabulary-sized). Per-term contributions
    snap to integer nano-units before summing, so the result is exact
    modulo one final division in both engines."""
    tfc = T.materialize(
        T.docs(spark, sf_dir)
        .select("source", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    st = tfc.groupBy("source").agg(F.sum("c").alias("ts"))
    gt = tfc.groupBy("tok").agg(F.sum("c").alias("cg"))
    g = tfc.agg(F.sum("c").alias("tg"))
    terms = (
        tfc.join(F.broadcast(st), "source")
        .join(gt, "tok")
        .join(F.broadcast(g))
        .select("source", F.expr(_KL_TERM_U).alias("t_u"))
    )
    return terms.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.expr("CAST(SUM(t_u) AS DOUBLE) / 1.0e9").alias("kl_divergence"),
    )


# --- weighted sample without replacement ---------------------------------

_WS_TOP = 100

#: Efraimidis-Spirakis priority key = u^(1/w) with a deterministic LCG
#: uniform u — reproducible across engines, retries, and partitionings
#: (rand()'s stream is partition-layout-dependent; this isn't). The
#: snap to integer pico-units absorbs pow()'s last-ulp differences.
_WS_KEY_U = (
    "CAST(ROUND(POW("
    "CAST((doc_id * 48271) % 2147483647 + 1 AS DOUBLE) / 2147483648.0e0, "
    "1.0e0 / CAST(n_chars AS DOUBLE)) * 1.0e12) AS BIGINT)"
)

_WS_ORACLE = f"""
SELECT doc_id, lang, source, n_chars,
       {_WS_KEY_U} AS priority_u
FROM documents
ORDER BY priority_u DESC, doc_id LIMIT {_WS_TOP}
"""


@query("corpus_weighted_sample", oracle=_WS_ORACLE)
def corpus_weighted_sample(spark, sf_dir):
    """Weighted sample without replacement (Efraimidis-Spirakis): the
    top-100 docs by priority u^(1/weight), weight = n_chars, u from a
    deterministic LCG on doc_id. Longer docs are proportionally more
    likely, yet membership is a pure narrow expression + top-k heap
    (TakeOrderedAndProject) — one pass, no global sort, no RNG state,
    and the sample is stable under corpus growth and re-partitioning.
    This is the distributed one-pass weighted sampler a mix-building
    pipeline wants at 100 TB."""
    return (
        T.docs(spark, sf_dir)
        .select(
            "doc_id", "lang", "source", "n_chars",
            F.expr(_WS_KEY_U).alias("priority_u"),
        )
        .orderBy(F.desc("priority_u"), "doc_id")
        .limit(_WS_TOP)
    )


# --- unigram LM perplexity scoring (fluency signal) -----------------------

#: per-token log-prob snapped to 1e-5 units (the Zipf/PMI doctrine:
#: libm LN may differ by an ulp between engines; snapping to integer
#: units BEFORE the cross-row sum makes the per-doc total exact).
_LP_U = "CAST(ROUND(LN(CAST(c AS DOUBLE) / t) * 1.0e5) AS BIGINT)"

_PPL_ORACLE = (
    "WITH " + T.TOKS_CTE + ", "
    "vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok), "
    "tt AS (SELECT COUNT(*) AS t FROM toks), "
    "lp AS (SELECT toks.doc_id, " + _LP_U + " AS lp_u "
    "FROM toks JOIN vocab ON toks.tok = vocab.tok CROSS JOIN tt) "
    "SELECT doc_id, COUNT(*) AS n_tok, "
    "CAST(SUM(lp_u) AS DOUBLE) / (1.0e5 * COUNT(*)) AS avg_logp "
    "FROM lp GROUP BY doc_id"
)


@query("corpus_perplexity_unigram", oracle=_PPL_ORACLE)
def corpus_perplexity_unigram(spark, sf_dir):
    """Per-document unigram language-model score: average log-probability
    of the document's tokens under the corpus's own unigram
    distribution — the classic CCNet/Dolma-style fluency proxy (gibberish
    and boilerplate score far from the corpus mode; the negative of this
    is log-perplexity).

    Shape: one token-cardinality hash-agg builds the unigram model, one
    equi-join scores tokens against it, one doc-cardinality agg reduces.
    The model frame is vocabulary-sized — at 100 TB, broadcast the head
    (Zipf: a few thousand types cover most tokens) and shuffle-join only
    the tail. Per-token logs snap to 1e-5 integer units before the
    cross-row sum (libm-ulp doctrine, see text_zipf_slope), so the
    per-doc mean is exact-integer arithmetic divided once."""
    toks = T.materialize(
        T.docs(spark, sf_dir).select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    t = toks.count()
    lp = toks.join(vocab, "tok").select(
        "doc_id", F.expr(_LP_U.replace(" t)", f" {t})")).alias("lp_u")
    )
    return lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.expr(
            "CAST(SUM(lp_u) AS DOUBLE) / (1.0e5 * COUNT(*))"
        ).alias("avg_logp"),
    )


# --- CCNet-style perplexity buckets (head / middle / tail) -----------------

_PPL_BUCKET_ORACLE = (
    "WITH p AS (" + _PPL_ORACLE + "), "
    "d AS (SELECT p.doc_id, p.avg_logp, doc.lang, "
    "CAST(ROUND(p.avg_logp * 1.0e5) AS BIGINT) AS au "
    "FROM p JOIN documents doc ON doc.doc_id = p.doc_id), "
    "t AS (SELECT *, NTILE(3) OVER (PARTITION BY lang "
    "ORDER BY avg_logp DESC, doc_id) AS b FROM d), "
    "g AS (SELECT lang, b, COUNT(*) AS n_docs, SUM(au) AS sau FROM t "
    "GROUP BY lang, b) "
    "SELECT lang, CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' "
    "ELSE 'tail' END AS bucket, CAST(n_docs AS BIGINT) AS n_docs, "
    "CAST(sau AS DOUBLE) / (1.0e5 * n_docs) AS mean_logp, "
    + rnd(
        "CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY lang)",
        6,
    )
    + " AS lang_share FROM g"
)


@query("corpus_perplexity_buckets", oracle=_PPL_BUCKET_ORACLE)
def corpus_perplexity_buckets(spark, sf_dir):
    """CCNet's head/middle/tail split (Wenzek et al. 2020): per
    LANGUAGE, rank documents by language-model score and cut into
    fluency terciles — 'head' trains as-is, 'middle' gets a second
    look, 'tail' is dropped or heavily filtered. Bucketing within
    language is the load-bearing detail: a global perplexity cut would
    silently drop whole low-resource languages whose absolute
    perplexity under a shared model runs higher. Built on
    corpus_perplexity_unigram's scored frame; the tercile is one
    NTILE window per language (both engines fill remainder into the
    leading tiles) ordered by the exact-integer-derived score with a
    doc_id tie-break, so the assignment is reproducible anywhere. At
    100 TB the window partitions by lang — skewed toward English, so
    ship it as a 2-pass percentile cut (approx thresholds broadcast,
    then a narrow filter) if one language dominates a single task;
    per-bucket means stay in exact 1e-5 integer units until the edge."""
    scored = corpus_perplexity_unigram(spark, sf_dir).select(
        "doc_id",
        "avg_logp",
        F.expr("CAST(ROUND(avg_logp * 1.0e5) AS BIGINT)").alias("au"),
    )
    d = scored.join(
        T.docs(spark, sf_dir).select("doc_id", "lang"), "doc_id"
    )
    t = d.withColumn(
        "b",
        F.ntile(3).over(
            Window.partitionBy("lang").orderBy(
                F.desc("avg_logp"), "doc_id"
            )
        ),
    )
    g = t.groupBy("lang", "b").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("au").alias("sau")
    )
    return g.select(
        "lang",
        F.expr(
            "CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' "
            "ELSE 'tail' END"
        ).alias("bucket"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.expr("CAST(sau AS DOUBLE) / (1.0e5 * n_docs)").alias(
            "mean_logp"
        ),
        F.expr(
            rnd(
                "CAST(n_docs AS DOUBLE) / "
                "SUM(n_docs) OVER (PARTITION BY lang)",
                6,
            )
        ).alias("lang_share"),
    )


# --- sliding-window chunking ----------------------------------------------

_WIN_W = 32   # window width in tokens
_WIN_S = 16   # stride (50% overlap)

_CHUNK_WIN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
w AS (
  SELECT doc_id, toks, CAST(g AS BIGINT) AS s
  FROM t, unnest(generate_series(1, len(toks), {_WIN_S})) AS u(g)
)
SELECT doc_id, (s - 1) // {_WIN_S} AS win_idx,
       array_to_string(toks[s : LEAST(s + {_WIN_W} - 1, len(toks))], ' ')
         AS window_text,
       LEAST(s + {_WIN_W} - 1, len(toks)) - s + 1 AS n_tokens
FROM w
"""


@query("corpus_chunk_windows", oracle=_CHUNK_WIN_ORACLE)
def corpus_chunk_windows(spark, sf_dir):
    """Sliding-window document chunking: every doc becomes overlapping
    {w}-token windows at stride {s} (50% overlap) — the chunker feeding
    long-document embedding pipelines, where each window is embedded
    separately and `doc_embedding_join` stitches results back. Pure
    in-row work: one split, one transform(sequence) over window starts,
    one explode — ZERO shuffles, so the operator scales as a narrow map
    over however many corpus partitions exist. Contrast with
    corpus_sequence_pack (which PACKS multiple docs into fixed training
    sequences); this SPLITS single docs for retrieval/embedding. The
    fan-out is len/stride rows per doc — bounded by document length,
    never corpus size.""".format(w=_WIN_W, s=_WIN_S)
    docs = T.docs(spark, sf_dir)
    wins = (
        f"transform(sequence(0, CAST((size(toks) - 1) div {_WIN_S} AS INT)), "
        f"i -> named_struct("
        f"'win_idx', CAST(i AS BIGINT), "
        f"'window_text', array_join(slice(toks, i * {_WIN_S} + 1, {_WIN_W}), ' '), "
        f"'n_tokens', CAST(size(slice(toks, i * {_WIN_S} + 1, {_WIN_W})) AS BIGINT)))"
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.explode(F.expr(wins)).alias("w"))
        .select(
            "doc_id",
            F.col("w.win_idx").alias("win_idx"),
            F.col("w.window_text").alias("window_text"),
            F.col("w.n_tokens").alias("n_tokens"),
        )
    )


# --- cross-split near-dup leakage audit -----------------------------------

_LEAK_ORACLE = (
    # the minhash near-dup pair machinery (dedup.py CTE chain), with
    # each side mapped to its deterministic split assignment
    "WITH " + T.SHINGLES_CTE + ", "
    "params(j, a, b) AS (VALUES "
    + ", ".join(
        f"({j}, {2 * j + 1}, {j * j + 7})" for j in range(1, 17)
    )
    + "), "
    "ids AS (SELECT doc_id, " + T.hashed_id_duck("shingle")
    + " AS sh_id FROM shingles), "
    "sig AS (SELECT doc_id, j, MIN((a * sh_id + b) % 1000003) AS mh "
    "FROM ids CROSS JOIN params GROUP BY doc_id, j), "
    "bands AS (SELECT doc_id, (j - 1) // 4 AS band, "
    "string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS bs "
    "FROM sig GROUP BY doc_id, band), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 "
    "FROM bands a JOIN bands b ON a.band = b.band AND a.bs = b.bs "
    "AND a.doc_id < b.doc_id), "
    "sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles "
    "GROUP BY doc_id), "
    "pairs AS (SELECT doc1, doc2 FROM ("
    "SELECT doc1, doc2, COUNT(*) AS c FROM cand "
    "JOIN shingles x ON x.doc_id = doc1 "
    "JOIN shingles y ON y.doc_id = doc2 AND x.shingle = y.shingle "
    "GROUP BY doc1, doc2) j "
    "JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2 "
    "WHERE CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c) >= 0.5e0), "
    "sp AS (SELECT doc_id, " + _SPLIT.replace("doc_id", "doc_id")
    + " AS split FROM documents) "
    "SELECT LEAST(a.split, b.split) AS split_a, "
    "GREATEST(a.split, b.split) AS split_b, "
    "COUNT(*) AS n_pairs, "
    "SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS n_leaks "
    "FROM pairs JOIN sp a ON a.doc_id = doc1 "
    "JOIN sp b ON b.doc_id = doc2 "
    "GROUP BY 1, 2"
)


@query("corpus_split_leakage", oracle=_LEAK_ORACLE)
def corpus_split_leakage(spark, sf_dir):
    """Cross-split near-duplicate leakage audit: verified MinHash
    near-dup pairs mapped onto the deterministic train/val/test
    assignment (corpus_split_assign's LCG), counted per split
    combination — pairs straddling two splits ARE evaluation
    contamination (the test member is a near-copy of a training
    member), the within-corpus twin of contamination_ngram_overlap's
    external-benchmark check. The fix this audit motivates: assign
    splits AFTER near-dup clustering, by cluster id (dedup_clusters),
    never by raw doc id. Pair machinery rides the shared docsig
    aggregate; the split map is a narrow expression joined at pair
    cardinality."""
    from .dedup import _lsh_candidates, _minhash_docsig, _verified_pairs

    docsig = _minhash_docsig(spark, sf_dir)
    cand = T.materialize(_lsh_candidates(docsig))
    pairs = (
        _verified_pairs(spark, sf_dir, cand)
        .filter(F.expr("CAST(c AS DOUBLE) / (n1 + n2 - c) >= 0.5e0"))
        .select("doc1", "doc2")
    )
    sp = T.docs(spark, sf_dir).select(
        "doc_id", F.expr(_SPLIT).alias("split")
    )
    a = sp.select(F.col("doc_id").alias("doc1"), F.col("split").alias("sa"))
    b = sp.select(F.col("doc_id").alias("doc2"), F.col("split").alias("sb"))
    return (
        pairs.join(a, "doc1")
        .join(b, "doc2")
        .groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.expr("CASE WHEN sa <> sb THEN 1 ELSE 0 END")
            ).alias("n_leaks"),
        )
    )


# --- bigram LM perplexity scoring (context-aware fluency) ------------------

#: add-one-smoothed conditional log-prob, snapped to 1e-5 units before
#: the cross-row per-doc sum (same libm-ulp doctrine as the unigram LM)
_LP2_U = (
    "CAST(ROUND(LN((CAST(c_xy AS DOUBLE) + 1.0e0) / "
    "(CAST(c_ctx AS DOUBLE) + vn)) * 1.0e5) AS BIGINT)"
)

_PPL2_ORACLE = (
    "WITH bi AS (SELECT doc_id, "
    "unnest(list_transform(range(1, len(string_split(text, ' '))), "
    "i -> struct_pack(w1 := string_split(text, ' ')[i], "
    "w2 := string_split(text, ' ')[i + 1]))) AS b "
    "FROM documents WHERE len(string_split(text, ' ')) >= 2), "
    "bit AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi), "
    "bic AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bit GROUP BY w1, w2), "
    "ctx AS (SELECT w1, SUM(c_xy) AS c_ctx FROM bic GROUP BY w1), "
    "vcab AS (SELECT COUNT(DISTINCT tok) AS vn FROM "
    "(SELECT unnest(string_split(text, ' ')) AS tok FROM documents)), "
    "lp AS (SELECT bit.doc_id, " + _LP2_U + " AS lp_u "
    "FROM bit JOIN bic USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN vcab) "
    "SELECT doc_id, COUNT(*) AS n_bigrams, "
    "CAST(SUM(lp_u) AS DOUBLE) / (1.0e5 * COUNT(*)) AS avg_logp "
    "FROM lp GROUP BY doc_id"
)


@query("corpus_perplexity_bigram", oracle=_PPL2_ORACLE)
def corpus_perplexity_bigram(spark, sf_dir):
    """Bigram-LM fluency score: per-doc mean log P(w_i | w_{i-1}) under
    the corpus's own add-one-smoothed bigram model — the context-aware
    upgrade of corpus_perplexity_unigram (word salad with plausible
    unigrams scores well there; here it pays for every unseen
    transition). Bigram generation is the in-row transform from
    text_bigram_pmi (no positional self-join); the model is two
    vocabulary-shaped aggregates joined back onto the bigram stream;
    each conditional log-prob snaps to 1e-5 units so per-doc sums are
    exact. In a curation stack this score feeds the same quality gate
    as the unigram one, with the two disagreeing exactly on
    scrambled/templated text."""
    d = T.docs(spark, sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("ts")
    )
    bit = (
        d.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 2), "
                    "i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    bit = T.materialize(bit)
    bic = T.materialize(
        bit.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    )
    ctx = bic.groupBy("w1").agg(F.sum("c_xy").alias("c_ctx"))
    vcab = (
        d.select(F.explode("ts").alias("tok"))
        .agg(F.countDistinct("tok").alias("vn"))
    )
    lp = (
        bit.join(bic, ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(vcab))
        .select("doc_id", F.expr(_LP2_U).alias("lp_u"))
    )
    return lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr(
            "CAST(SUM(lp_u) AS DOUBLE) / (1.0e5 * COUNT(*))"
        ).alias("avg_logp"),
    )


# --- training-shard assignment + balance audit -----------------------------

_N_SHARDS = 16
#: full-entropy integer hash -> shard id; stable under corpus growth
#: and partition layout (same id_mix family as corpus_split_assign,
#: decorrelated by salt)
_SHARD_ID = f"({id_mix('doc_id', 97)} % {_N_SHARDS})"


@query(
    "corpus_shard_balance",
    oracle=(
        "WITH a AS (SELECT " + _SHARD_ID + " AS shard, "
        "n_chars, length(string_split(text, ' ')) AS n_tok "
        "FROM documents), "
        "s AS (SELECT shard, COUNT(*) AS n_docs, "
        "SUM(CAST(n_tok AS BIGINT)) AS n_tokens, "
        "SUM(CAST(n_chars AS BIGINT)) AS n_chars FROM a GROUP BY shard), "
        "t AS (SELECT MAX(n_tokens) AS mx, MIN(n_tokens) AS mn FROM s) "
        "SELECT shard, n_docs, n_tokens, n_chars, "
        + rnd(
            "CAST(n_tokens AS DOUBLE) * "
            f"{_N_SHARDS}.0e0 / (SELECT SUM(n_tokens) FROM s)",
            4,
        )
        + " AS load_factor, "
        + rnd("(SELECT CAST(mx AS DOUBLE) / mn FROM t)", 4)
        + " AS global_imbalance FROM s"
    ),
)
def corpus_shard_balance(spark, sf_dir):
    """Training-shard assignment + balance audit: every doc maps to one
    of 16 shards by a stable integer hash (layout- and growth-
    independent — re-running on an appended corpus never moves an old
    doc), and the audit reports per-shard doc/token/byte loads, each
    shard's load factor vs perfect balance, and the global max/min
    imbalance ratio. This is the check run BEFORE a 1000-GPU job reads
    the shards — a 1.5x token imbalance is a 1.5x straggler. Pure
    narrow hash + one shard-cardinality aggregate; at 100 TB the same
    audit costs one scan."""
    d = T.docs(spark, sf_dir).selectExpr(
        _SHARD_ID + " AS shard",
        "n_chars",
        "size(split(text, ' ')) AS n_tok",
    )
    s = T.materialize(
        d.groupBy("shard").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tok").cast("bigint")).alias("n_tokens"),
            F.sum(F.col("n_chars").cast("bigint")).alias("n_chars"),
        )
    )
    tot = s.agg(
        F.sum("n_tokens").alias("tt"),
        F.max("n_tokens").alias("mx"),
        F.min("n_tokens").alias("mn"),
    )
    return s.join(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.expr(
            rnd(
                f"CAST(n_tokens AS DOUBLE) * {_N_SHARDS}.0e0 / tt", 4
            )
        ).alias("load_factor"),
        F.expr(rnd("CAST(mx AS DOUBLE) / mn", 4)).alias(
            "global_imbalance"
        ),
    )


# --- source novelty: what each source uniquely contributes ------------------

_NOV_ORACLE = (
    "WITH sh AS (SELECT DISTINCT d.source, s.shingle FROM ("
    "SELECT doc_id, unnest(CASE WHEN len(string_split(text, ' ')) < 3 "
    "THEN [] ELSE list_transform(range(1, len(string_split(text, ' ')) "
    "- 1), i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')) "
    "END) AS shingle FROM documents) s "
    "JOIN documents d ON d.doc_id = s.doc_id), "
    "df AS (SELECT shingle, COUNT(*) AS n_sources FROM sh "
    "GROUP BY shingle), "
    "j AS (SELECT sh.source, CASE WHEN df.n_sources = 1 THEN 1 ELSE 0 "
    "END AS uniq FROM sh JOIN df ON df.shingle = sh.shingle) "
    "SELECT source, COUNT(*) AS n_distinct_shingles, "
    "CAST(SUM(uniq) AS BIGINT) AS n_unique_to_source, "
    + rnd("CAST(SUM(uniq) AS DOUBLE) / COUNT(*)", 6)
    + " AS novelty_share FROM j GROUP BY source"
)


@query("corpus_source_novelty", oracle=_NOV_ORACLE)
def corpus_source_novelty(spark, sf_dir):
    """Source novelty: per source, how many of its distinct 3-gram
    shingles appear in NO other source — the 'what does this crawl
    actually add' number that prices a new source before ingesting it
    (near-zero novelty = it re-crawls what you have; the flip side of
    dedup_rate_by_source's overlap view). Distinct (source, shingle)
    frame -> shingle source-frequency -> per-source unique share; all
    counts exact, shuffles keyed on the shingle."""
    docs = T.docs(spark, sf_dir)
    sh = (
        docs.select(
            "source",
            F.explode(
                F.expr(
                    "CASE WHEN size(split(text, ' ')) < 3 THEN array() "
                    "ELSE transform(sequence(0, size(split(text, ' ')) "
                    "- 3), i -> concat_ws(' ', slice(split(text, ' '), "
                    "i + 1, 3))) END"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    sh = T.materialize(sh)
    df = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("n_sources")
    )
    return (
        sh.join(df, "shingle")
        .select(
            "source",
            F.expr(
                "CASE WHEN n_sources = 1 THEN 1 ELSE 0 END"
            ).alias("uniq"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_shingles"),
            F.sum("uniq").cast("bigint").alias("n_unique_to_source"),
            F.expr(
                rnd("CAST(SUM(uniq) AS DOUBLE) / COUNT(*)", 6)
            ).alias("novelty_share"),
        )
    )


# --- temperature-based mixture reweighting --------------------------------

_MIX_TEMP_ORACLE = (
    "WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens "
    "FROM documents GROUP BY source), "
    "t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM s), "
    "u AS (SELECT source, n_docs, n_tokens, tot, "
    "CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE) / tot) * 1.0e9) AS BIGINT) "
    "AS su FROM s CROSS JOIN t), "
    "v AS (SELECT *, CAST(SUM(su) OVER () AS BIGINT) AS tot_su FROM u) "
    "SELECT source, n_docs, n_tokens, "
    + rnd("CAST(n_tokens AS DOUBLE) / tot", 6) + " AS raw_share, "
    + rnd("CAST(su AS DOUBLE) / tot_su", 6) + " AS temp_share, "
    + rnd(
        "(CAST(su AS DOUBLE) / tot_su) * CAST(tot AS DOUBLE) / n_tokens",
        4,
    )
    + " AS repeat_factor FROM v"
)


@query("corpus_mix_temperature", oracle=_MIX_TEMP_ORACLE)
def corpus_mix_temperature(spark, sf_dir):
    """Temperature-based source-mixture reweighting (tau = 0.5): the
    sampling distribution q_s ∝ p_s^tau that multilingual/multi-source
    pretraining uses to up-weight small sources without drowning large
    ones (the alpha-sampling of XLM-R / mT5, the static version of
    DoReMi-style reweighting). Output per source: raw token share,
    temperature share, and the repeat factor (expected epochs over that
    source when the mixture is sampled to the corpus's total token
    budget) — repeat_factor > 1 flags sources that will be memorized
    before the mixture finishes one pass of the big sources.

    Engine-exactness: tau = 0.5 is computed as SQRT (a correctly
    rounded IEEE op in both engines — general POW is not), and the
    cross-source normalizer sums micro-snapped integers, so shares are
    identical bit-for-bit. One aggregate at source cardinality; the two
    1-row/source-cardinality frames broadcast — corpus is scanned
    once."""
    d = T.docs(spark, sf_dir).select(
        "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    t = s.agg(F.sum("n_tokens").cast("bigint").alias("tot"))
    u = s.join(F.broadcast(t)).withColumn(
        "su",
        F.expr(
            "CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE) / tot) * 1.0e9) "
            "AS BIGINT)"
        ),
    )
    tot_su = u.agg(F.sum("su").cast("bigint").alias("tot_su"))
    return u.join(F.broadcast(tot_su)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(rnd("CAST(n_tokens AS DOUBLE) / tot", 6)).alias("raw_share"),
        F.expr(rnd("CAST(su AS DOUBLE) / tot_su", 6)).alias("temp_share"),
        F.expr(
            rnd(
                "(CAST(su AS DOUBLE) / tot_su) * CAST(tot AS DOUBLE) "
                "/ n_tokens",
                4,
            )
        ).alias("repeat_factor"),
    )


# --- tokenizer fertility audit --------------------------------------------

_FERTILITY_ORACLE = (
    "SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, "
    "CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes, "
    + rnd(
        "CAST(SUM(octet_length(encode(text))) AS DOUBLE) "
        "/ SUM(len(string_split(text, ' ')))",
        4,
    )
    + " AS bytes_per_token FROM documents GROUP BY source, lang"
)


@query("text_token_fertility", oracle=_FERTILITY_ORACLE)
def text_token_fertility(spark, sf_dir):
    """Tokenizer fertility audit per (source, lang): bytes per token —
    the number that prices a tokenizer against a corpus slice (high
    bytes/token = compressible text or a tokenizer mismatched to the
    language; multilingual corpora routinely vary 2-3x across languages,
    which silently reweights the EFFECTIVE training mixture away from
    the document mixture). Run it next to corpus_mix_temperature: the
    mixture you sample in documents is not the mixture the model sees
    in tokens. One aggregate at (source, lang) cardinality; byte and
    token counts are exact integers, the ratio snapped at the edge."""
    d = T.docs(spark, sf_dir).select(
        "source",
        "lang",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.octet_length(F.encode(F.col("text"), "utf-8")).alias("n_b"),
    )
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("n_b").cast("bigint").alias("n_bytes"),
        F.expr(
            rnd("CAST(SUM(n_b) AS DOUBLE) / SUM(n_tok)", 4)
        ).alias("bytes_per_token"),
    )


# --- DSIR hashed-n-gram importance resampling ------------------------------

#: hashed-feature bucket count. DSIR (Xie et al. 2023, "Data Selection
#: for Language Models via Importance Resampling") hashes n-gram
#: features into a fixed bucket space so the target/raw density models
#: are FIXED-SIZE regardless of corpus scale; 4096 here (the paper uses
#: 10k for unigram+bigram) keeps the model broadcast-trivial.
_DSIR_B = 4096
_DSIR_TGT = "src0"  # the "target domain" sources: what we want more of

#: per-bucket log importance ratio ln(p_tgt/p_raw) with add-1 smoothing
#: over buckets, snapped to 1e-5 integer units BEFORE the per-doc sum
#: (libm-ulp doctrine: LN may differ in the last ulp between engines;
#: snapping each bucket's contribution once makes every doc's total
#: exact integer arithmetic).
_DSIR_LR_U = (
    "CAST(ROUND(("
    f"LN((CAST(c_t AS DOUBLE) + 1.0e0) / (CAST(tt AS DOUBLE) + {_DSIR_B}.0e0))"
    " - "
    f"LN((CAST(c_r AS DOUBLE) + 1.0e0) / (CAST(tr AS DOUBLE) + {_DSIR_B}.0e0))"
    ") * 1.0e5) AS BIGINT)"
)

_DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
tb AS (
  SELECT doc_id, source, {T.hashed_id_duck('tok', _DSIR_B)} AS b FROM tok
),
bc AS (
  SELECT b, COUNT(*) AS c_r,
         SUM(CASE WHEN source = '{_DSIR_TGT}' THEN 1 ELSE 0 END) AS c_t
  FROM tb GROUP BY b
),
tot AS (SELECT SUM(c_r) AS tr, SUM(c_t) AS tt FROM bc),
lr AS (SELECT b, {_DSIR_LR_U} AS lr_u FROM bc CROSS JOIN tot)
SELECT tb.doc_id, COUNT(*) AS n_tok,
       CAST(SUM(lr_u) AS DOUBLE) / (1.0e5 * COUNT(*)) AS dsir_logratio,
       (SUM(lr_u) > 0) AS selected
FROM tb JOIN lr USING (b)
GROUP BY tb.doc_id
"""


@query("corpus_dsir_importance", oracle=_DSIR_ORACLE)
def corpus_dsir_importance(spark, sf_dir):
    """DSIR-style importance scoring (Xie et al. 2023): score every raw
    document by how much more likely its hashed-unigram features are
    under the TARGET domain's distribution (source = src0, standing in
    for "looks like curated text") than under the raw pool's own
    distribution. Tokens hash into a fixed 4096-bucket feature space;
    both densities get add-1 smoothing; a doc's score is its mean
    per-token log ratio and `selected` marks docs that lean target —
    the importance-resampling gate used to pick pretraining data that
    matches a high-quality reference corpus.

    Scale shape: ONE pass over tokens builds both bucket histograms
    simultaneously (c_r and the CASE-summed c_t in the same
    bucket-cardinality hash-agg — no second scan for the target model);
    the model is exactly 4096 rows, so scoring is a BROADCAST join onto
    the token stream followed by one doc-cardinality agg. Nothing in
    the plan grows with corpus size except the two linear passes; this
    is why DSIR hashes features instead of keeping an open vocabulary.
    Per-bucket log ratios snap to 1e-5 integer units before summing
    (exact cross-engine totals); totals enter via a broadcast
    single-row cross join, not a driver collect."""
    tb = T.docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).select(
        "doc_id",
        "source",
        F.expr(T.hashed_id_spark("tok", _DSIR_B)).alias("b"),
    )
    tb = T.materialize(tb)
    bc = tb.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.sum(
            F.when(F.col("source") == _DSIR_TGT, 1).otherwise(0)
        ).alias("c_t"),
    )
    tot = bc.agg(
        F.sum("c_r").alias("tr"), F.sum("c_t").alias("tt")
    )
    lr = bc.crossJoin(F.broadcast(tot)).select(
        "b", F.expr(_DSIR_LR_U).alias("lr_u")
    )
    return (
        tb.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.expr(
                "CAST(SUM(lr_u) AS DOUBLE) / (1.0e5 * COUNT(*))"
            ).alias("dsir_logratio"),
            (F.sum("lr_u") > 0).alias("selected"),
        )
    )


# --- incremental (cross-snapshot) exact dedup ------------------------------

_SNAP_ORACLE = """
WITH d AS (
  SELECT doc_id, source, n_chars, md5(text) AS h FROM documents
),
new AS (SELECT * FROM d WHERE doc_id % 2 = 1),
old AS (SELECT DISTINCT h FROM d WHERE doc_id % 2 = 0),
canon AS (
  SELECT doc_id, source, n_chars, h FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS m FROM new
  ) _w WHERE doc_id = m
)
SELECT c.doc_id, c.source, c.n_chars
FROM canon c LEFT JOIN old o ON c.h = o.h
WHERE o.h IS NULL
"""


@query("dedup_incremental_snapshot", oracle=_SNAP_ORACLE)
def dedup_incremental_snapshot(spark, sf_dir):
    """Incremental exact dedup of a NEW crawl snapshot against the
    already-ingested corpus — the pattern every recurring web-crawl
    pipeline runs (CommonCrawl-style: each monthly snapshot is mostly
    pages you already have). Docs split deterministically into the
    existing corpus (even doc_id) and the incoming snapshot (odd);
    a new doc survives iff (a) it is the lowest-id copy of its content
    hash WITHIN the snapshot and (b) its hash does not already exist in
    the corpus. Keep-earliest across snapshots falls out for free: the
    corpus side always wins.

    Scale shape: the corpus side is reduced to DISTINCT 16-byte content
    hashes before the join — O(corpus) bytes never move, only hashes;
    the within-snapshot canonical pick is one hash-partitioned window
    (same shuffle key as the anti-join, so AQE can reuse the exchange);
    the anti-join streams the snapshot against the corpus-hash build
    side. Incremental cost is O(snapshot + corpus-hashes), NOT
    O(corpus) re-deduped from scratch — that asymmetry is the entire
    point of incremental dedup at 100 TB."""
    d = T.docs(spark, sf_dir).select(
        "doc_id", "source", "n_chars", F.md5("text").alias("h")
    )
    new = d.filter(F.col("doc_id") % 2 == 1)
    old = d.filter(F.col("doc_id") % 2 == 0).select("h").distinct()
    w = Window.partitionBy("h")
    canon = (
        new.withColumn("m", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("m"))
    )
    return canon.join(old, "h", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


# --- deterministic global training-order shuffle ---------------------------

_SHUF_SHARDS = 8
_SHUF_KEY_S = T.hashed_id_spark("concat('shuf1:', CAST(doc_id AS STRING))")
_SHUF_KEY_D = T.hashed_id_duck("concat('shuf1:', CAST(doc_id AS STRING))")

_SHUF_ORACLE = f"""
WITH k AS (
  SELECT doc_id, source, {_SHUF_KEY_D} AS skey FROM documents
)
SELECT doc_id, source, skey % {_SHUF_SHARDS} AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY skey % {_SHUF_SHARDS} ORDER BY skey, doc_id
       ) AS BIGINT) AS pos
FROM k
"""


@query("corpus_global_shuffle", oracle=_SHUF_ORACLE)
def corpus_global_shuffle(spark, sf_dir):
    """Deterministic global training-order shuffle: every document gets
    a seeded 60-bit content-hash key, a shard (key mod 8), and its
    0/1-based position within the shard's key order — the epoch-0
    example order a data loader consumes. Seeded hash ordering is how
    training shuffles must be done at scale: reproducible across runs
    and engines (no RNG state), stable per document (append-only
    corpora extend the order without reshuffling history), and
    changeable per epoch by bumping the seed string.

    Scale shape: the key and shard are pure narrow expressions; the
    only movement is ONE repartition-by-shard + sort-within-partition
    (exactly `df.repartition("shard").sortWithinPartitions("skey")` on
    the write path — no global total order is ever materialized). The
    per-shard window parallelizes across shards; production shard
    counts are in the thousands, so every core stays busy and each
    shard's sort fits its executor."""
    k = T.docs(spark, sf_dir).select(
        "doc_id", "source", F.expr(_SHUF_KEY_S).alias("skey")
    ).withColumn("shard", F.col("skey") % _SHUF_SHARDS)
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return k.select(
        "doc_id",
        "source",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


# --- curriculum ordering: quality-staged training order --------------------

_CURR_BINS = 4
_CURR_SHARDS = 4
_CURR_KEY_S = T.hashed_id_spark("concat('curr1:', CAST(doc_id AS STRING))")
_CURR_KEY_D = T.hashed_id_duck("concat('curr1:', CAST(doc_id AS STRING))")


def _curriculum_oracle() -> str:
    # text.py registers text_quality_score; force it first for
    # direct-import callers (registry.load order already guarantees it)
    from . import text as _text  # noqa: F401
    from ..registry import ORACLES

    return (
        "WITH q AS (SELECT doc_id, quality FROM ("
        + ORACLES["text_quality_score"]
        + ")), "
        f"k AS (SELECT doc_id, quality, LEAST({_CURR_BINS - 1}, "
        f"CAST(FLOOR(quality * {_CURR_BINS}) AS INT)) AS q_bin, "
        f"{_CURR_KEY_D} AS skey FROM q) "
        f"SELECT doc_id, quality, q_bin, skey % {_CURR_SHARDS} AS shard, "
        "CAST(ROW_NUMBER() OVER ("
        f"PARTITION BY q_bin, skey % {_CURR_SHARDS} "
        "ORDER BY skey, doc_id) AS BIGINT) AS pos "
        "FROM k"
    )


@query("corpus_curriculum_order", oracle=_curriculum_oracle())
def corpus_curriculum_order(spark, sf_dir):
    """Curriculum training order: documents staged by QUALITY BIN
    (fixed thresholds on the bounded text_quality_score — easy/low
    first or hard/high first is the loader's choice, the bins are the
    contract), hash-shuffled WITHIN each stage so no other signal leaks
    into the order. Output is (doc_id, quality, q_bin, shard, pos): a
    loader consumes bins in sequence, interleaving a stage's shards.
    This is the curriculum/quality-staging step of a pretraining data
    pipeline, the ordered sibling of corpus_global_shuffle's uniform
    epoch order.

    Scale shape: quality is one token-aggregate (the verified
    text_quality_score block), bin and seeded shuffle key are narrow
    expressions (fixed-width bins, NOT ntile — a global quantile rank
    would be a single-partition window), and the only movement is a
    repartition to (q_bin, shard) + sort-within-partition, exactly the
    write-path shape of the global shuffle. Production shard counts in
    the thousands keep every core busy; bumping the seed string
    re-shuffles within stages per epoch without touching the stage
    assignment."""
    from ..registry import QUERIES

    q = QUERIES["text_quality_score"](spark, sf_dir).select(
        "doc_id", "quality"
    )
    k = q.select(
        "doc_id",
        "quality",
        F.least(
            F.lit(_CURR_BINS - 1),
            F.floor(F.col("quality") * _CURR_BINS).cast("int"),
        ).alias("q_bin"),
        F.expr(_CURR_KEY_S).alias("skey"),
    ).withColumn("shard", F.col("skey") % _CURR_SHARDS)
    w = Window.partitionBy("q_bin", "shard").orderBy("skey", "doc_id")
    return k.select(
        "doc_id",
        "quality",
        "q_bin",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


# --- decontamination: the corrective gate over the contamination scan ------

_DECON_T = "0.2e0"  # drop a training doc at >= 20% benchmark-shingle overlap

_DECON_ORACLE = (
    "WITH c AS (SELECT doc_id, hit_frac FROM ("
    "{contam}) _c), "
    f"t AS (SELECT doc_id, source, "
    "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok "
    f"FROM documents WHERE source <> '{_BENCH_SOURCE}'), "
    "j AS (SELECT t.source, t.n_tok, "
    "COALESCE(c.hit_frac, 0.0e0) AS hf FROM t LEFT JOIN c USING (doc_id)) "
    "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    f"CAST(SUM(CASE WHEN hf >= {_DECON_T} THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_dropped, "
    f"CAST(SUM(CASE WHEN hf < {_DECON_T} THEN n_tok ELSE 0 END) AS BIGINT) "
    "AS n_tokens_kept, "
    + rnd(
        f"CAST(SUM(CASE WHEN hf >= {_DECON_T} THEN 1 ELSE 0 END) AS DOUBLE)"
        " / COUNT(*)",
        6,
    )
    + " AS drop_frac FROM j GROUP BY source"
)


@query("corpus_decontaminate", oracle=None)  # bound just below
def corpus_decontaminate(spark, sf_dir):
    """The corrective gate over `contamination_ngram_overlap`: drop any
    training document whose benchmark 3-gram overlap reaches 20%, and
    report the per-source damage — docs kept/dropped, surviving token
    mass, drop fraction. This is the decontamination report a
    pretraining run records next to its data card (the threshold is the
    one knob; emitting per-source fractions shows WHICH crawls carry
    eval leakage). Composes the already-verified contamination scan —
    its broadcast-probe shape is unchanged (the 100 TB training side
    still never shuffles; the left join adds scores only for the
    contaminated sliver) and the summary is one source-cardinality
    agg."""
    from ..registry import ORACLES, QUERIES

    c = QUERIES["contamination_ngram_overlap"](spark, sf_dir).select(
        "doc_id", "hit_frac"
    )
    t = T.docs(spark, sf_dir).filter(
        F.col("source") != _BENCH_SOURCE
    ).select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    thr = float(_DECON_T.replace("e0", ""))
    j = t.join(c, "doc_id", "left").select(
        "source", "n_tok", F.coalesce("hit_frac", F.lit(0.0)).alias("hf")
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("hf") >= thr, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.sum(F.when(F.col("hf") < thr, F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("n_tokens_kept"),
        F.expr(
            rnd(
                f"CAST(SUM(CASE WHEN hf >= {_DECON_T} THEN 1 ELSE 0 END) "
                "AS DOUBLE) / COUNT(*)",
                6,
            )
        ).alias("drop_frac"),
    )


# late-bind the oracle: contamination_ngram_overlap's SQL is registered
# by the decorator above this function in the same module, so ORACLES
# already holds it by the time this line runs at import.
from ..registry import ORACLES as _OR  # noqa: E402

_OR["corpus_decontaminate"] = _DECON_ORACLE.format(
    contam=_OR["contamination_ngram_overlap"]
)


# --- cluster-aware split: leakage-free by construction ---------------------

def _cluster_split_oracle() -> str:
    # dedup.py registers dedup_clusters before this module loads
    # (registry.load order); force it for direct-import callers too.
    from . import dedup as _dedup  # noqa: F401
    from ..registry import ORACLES

    # One MinHash chain, not two (round 9): the old form embedded
    # ORACLES["dedup_clusters"] AND ORACLES["dedup_minhash_lsh"], so
    # DuckDB derived the full shingle->signature->band->verify chain
    # twice — the margin that pushed the sf1-shape sweep over its
    # 600 s budget (621.6 s). The clusters are now derived IN PLACE
    # from the single `prs` pair set with the identical recursive
    # min-label CTE; verified row-identical at sf0.01 before landing
    # (10.5 s -> 6.3 s there, ~40% off the sf1-shape wall).
    # prs is referenced four times (nodes, edges x2, px) and DuckDB
    # inlines plain CTEs — materialized, the nested MinHash chain runs
    # once; edges/s/px likewise multi-referenced (sf1-shape budget
    # analysis, round 9)
    return (
        "WITH RECURSIVE prs AS MATERIALIZED (SELECT doc1, doc2 FROM ("
        + ORACLES["dedup_minhash_lsh"]
        + ")), "
        "nodes AS (SELECT DISTINCT doc FROM "
        "(SELECT doc1 AS doc FROM prs UNION SELECT doc2 FROM prs)), "
        "edges AS MATERIALIZED (SELECT doc1 AS a, doc2 AS b FROM prs "
        "UNION SELECT doc2, doc1 FROM prs), "
        "reach(doc, r) AS (SELECT doc, doc FROM nodes "
        "UNION SELECT e.b, reach.r FROM edges e "
        "JOIN reach ON reach.doc = e.a), "
        "cl AS (SELECT doc AS doc_id, MIN(r) AS canonical_doc "
        "FROM reach GROUP BY doc), "
        "m AS (SELECT d.doc_id, COALESCE(cl.canonical_doc, d.doc_id) "
        "AS cluster_id FROM documents d LEFT JOIN cl USING (doc_id)), "
        "s AS MATERIALIZED (SELECT doc_id, cluster_id, "
        + _SPLIT.replace("doc_id", "cluster_id")
        + " AS split FROM m), "
        "px AS MATERIALIZED (SELECT a.split AS sa, b.split AS sb "
        "FROM prs p "
        "JOIN s a ON a.doc_id = p.doc1 JOIN s b ON b.doc_id = p.doc2), "
        "x AS (SELECT CAST(COALESCE(SUM(CASE WHEN sa <> sb THEN 1 "
        "ELSE 0 END), 0) AS BIGINT) AS n_cross_pairs FROM px), "
        "w AS (SELECT sa AS split, COUNT(*) AS n_within_pairs FROM px "
        "WHERE sa = sb GROUP BY sa) "
        "SELECT s.split, COUNT(*) AS n_docs, "
        "COUNT(DISTINCT s.cluster_id) AS n_clusters, "
        "COALESCE(MAX(w.n_within_pairs), 0) AS n_within_pairs, "
        "MAX(x.n_cross_pairs) AS n_cross_pairs "
        "FROM s LEFT JOIN w ON w.split = s.split CROSS JOIN x "
        "GROUP BY s.split"
    )


@query("corpus_cluster_split", oracle=_cluster_split_oracle())
def corpus_cluster_split(spark, sf_dir):
    """The fix corpus_split_leakage motivates, implemented: train/val/
    test assignment by the LCG hash of the near-dup CLUSTER id (the
    component's canonical doc from dedup_clusters; singletons are their
    own cluster), so every near-duplicate lands in the SAME split and
    cross-split evaluation leakage is zero BY CONSTRUCTION — this is
    how The Pile / Dolma-class corpora split after dedup. The output
    proves it: per-split doc/cluster counts, the near-dup pairs that
    now live entirely inside each split, and the global cross-split
    pair count, which must be 0 (compare corpus_split_leakage's
    non-zero n_leaks under doc-id splitting on the same corpus).

    Scale shape: rides the shared MinHash pair machinery + the
    label-propagation core (pair-graph-sized, not corpus-sized); the
    cluster map joins the corpus once (left join, near-dup sliver
    only); split assignment stays a narrow expression, so writing the
    three corpora remains a partition predicate with no global
    coordination. The audit joins split labels at pair cardinality."""
    from .dedup import _cc_labels, dedup_minhash_lsh

    pairs = T.materialize(
        dedup_minhash_lsh(spark, sf_dir).select("doc1", "doc2")
    )
    cl = _cc_labels(pairs).select(
        F.col("doc").alias("doc_id"), F.col("label").alias("canon")
    )
    s = T.materialize(
        T.docs(spark, sf_dir)
        .select("doc_id")
        .join(cl, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("canon", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn(
            "split", F.expr(_SPLIT.replace("doc_id", "cluster_id"))
        )
    )
    a = s.select(F.col("doc_id").alias("doc1"), F.col("split").alias("sa"))
    b = s.select(F.col("doc_id").alias("doc2"), F.col("split").alias("sb"))
    px = pairs.join(a, "doc1").join(b, "doc2")
    x = px.agg(
        F.coalesce(
            F.sum(F.expr("CASE WHEN sa <> sb THEN 1 ELSE 0 END")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_cross_pairs")
    )
    w = (
        px.filter("sa = sb")
        .groupBy(F.col("sa").alias("split"))
        .agg(F.count(F.lit(1)).alias("n_within_pairs"))
    )
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .join(w, "split", "left")
        .crossJoin(F.broadcast(x))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            F.coalesce("n_within_pairs", F.lit(0))
            .cast("bigint")
            .alias("n_within_pairs"),
            "n_cross_pairs",
        )
    )


def _cluster_split_sampled_oracle() -> str:
    from .dedup import _sampled_docs_pred_duck

    return T.sampled_table_duck(
        _cluster_split_oracle(), "documents", _sampled_docs_pred_duck()
    )


@query("corpus_cluster_split_sampled", oracle=_cluster_split_sampled_oracle())
def corpus_cluster_split_sampled(spark, sf_dir):
    """Cluster-aware splitting audited on the deterministic
    content-hash sample (md5(text) % 4 == 0, ~25%) — the at-scale twin
    of corpus_cluster_split, whose lossless oracle (recursive-CTE
    clustering over the full pair graph) outgrew the sf1-shape sweep
    budget while the Spark side stayed in bounds. The invariant under
    audit — n_cross_pairs == 0 BY CONSTRUCTION — holds on any
    hash-closed subset exactly as on the corpus (every near-dup pair of
    sampled docs is itself sampled or absent), so the sample proves the
    same property the full audit proves, at a pair-graph cost
    ~1/16th. Same machinery end-to-end: sampled shingles, banded
    candidates, candidate-only verification, label propagation, LCG
    split of the cluster id."""
    from .dedup import (
        _cc_labels,
        _lsh_candidates,
        _minhash_docsig,
        _sampled_docs,
        _verified_pairs,
    )

    smp = _sampled_docs(spark, sf_dir)
    garr = T.materialize(T.doc_gram_arrays(spark, sf_dir, frame=smp))
    docsig = _minhash_docsig(spark, sf_dir, garr=garr)
    cand = T.materialize(_lsh_candidates(docsig))
    pairs = T.materialize(
        _verified_pairs(spark, sf_dir, cand, garr=garr)
        .filter(F.expr("CAST(c AS DOUBLE) / (n1 + n2 - c) >= 0.5e0"))
        .select("doc1", "doc2")
    )
    cl = _cc_labels(pairs).select(
        F.col("doc").alias("doc_id"), F.col("label").alias("canon")
    )
    s = T.materialize(
        smp.select("doc_id")
        .join(cl, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("canon", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn(
            "split", F.expr(_SPLIT.replace("doc_id", "cluster_id"))
        )
    )
    a = s.select(F.col("doc_id").alias("doc1"), F.col("split").alias("sa"))
    b = s.select(F.col("doc_id").alias("doc2"), F.col("split").alias("sb"))
    px = pairs.join(a, "doc1").join(b, "doc2")
    x = px.agg(
        F.coalesce(
            F.sum(F.expr("CASE WHEN sa <> sb THEN 1 ELSE 0 END")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_cross_pairs")
    )
    w = (
        px.filter("sa = sb")
        .groupBy(F.col("sa").alias("split"))
        .agg(F.count(F.lit(1)).alias("n_within_pairs"))
    )
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .join(w, "split", "left")
        .crossJoin(F.broadcast(x))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            F.coalesce("n_within_pairs", F.lit(0))
            .cast("bigint")
            .alias("n_within_pairs"),
            "n_cross_pairs",
        )
    )


# --- Gopher rule battery with per-rule attribution -------------------------

#: Gopher (Rae et al. 2021, A1.1) rule thresholds, scaled to the
#: fixture corpus. Each rule is a pure narrow expression; the report
#: attributes failures PER RULE so a curation run can see which rule
#:  is responsible for dropped mass (the Dolma/RefinedWeb data-card
#: table), which the single weighted quality score cannot.
_GR_MIN_TOK, _GR_MAX_TOK = 50, 100_000
_GR_MWL_LO, _GR_MWL_HI = "3.0e0", "10.0e0"
_GR_MIN_STOP = 2
_GR_TOPFRAC = "0.2e0"

_GOPHER_ORACLE = (
    "WITH sp AS (SELECT doc_id, source, string_split(text, ' ') AS toks "
    "FROM documents), "
    "base AS (SELECT doc_id, source, len(toks) AS n, "
    "list_sum(list_transform(toks, t -> len(t))) AS sl, "
    "len(list_filter(toks, t -> t IN " + T.STOPWORDS_SQL + ")) AS nstop "
    "FROM sp), "
    "per AS (SELECT doc_id, unnest(toks) AS tok FROM sp), "
    "cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM per GROUP BY 1, 2), "
    "top AS (SELECT doc_id, MAX(c) AS best FROM cnt GROUP BY 1), "
    "f AS (SELECT source, "
    f"(n < {_GR_MIN_TOK} OR n > {_GR_MAX_TOK}) AS f_wc, "
    f"(CAST(sl AS DOUBLE) / n < {_GR_MWL_LO} "
    f"OR CAST(sl AS DOUBLE) / n > {_GR_MWL_HI}) AS f_wl, "
    f"(nstop < {_GR_MIN_STOP}) AS f_sw, "
    f"(CAST(best AS DOUBLE) / n > {_GR_TOPFRAC}) AS f_tt "
    "FROM base JOIN top USING (doc_id)) "
    "SELECT source, COUNT(*) AS n_docs, "
    "CAST(SUM(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordcount, "
    "CAST(SUM(CASE WHEN f_wl THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen, "
    "CAST(SUM(CASE WHEN f_sw THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stopword, "
    "CAST(SUM(CASE WHEN f_tt THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_toptoken, "
    "CAST(SUM(CASE WHEN f_wc OR f_wl OR f_sw OR f_tt THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_fail_any, "
    + rnd(
        "1.0e0 - CAST(SUM(CASE WHEN f_wc OR f_wl OR f_sw OR f_tt "
        "THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)",
        4,
    )
    + " AS keep_rate FROM f GROUP BY source"
)


def gopher_flags_sql() -> str:
    """Per-doc Gopher rule flags as ONE in-row Spark SQL expression —
    an array of a single struct (f_wc, f_wl, f_sw, f_tt) meant for
    F.inline, with the token array let-bound so it is built once per
    doc. Shared verbatim by the batch battery (corpus_gopher_rules)
    and the ingest-time stream (streaming.twins.gopher_filter_stream),
    which is what makes their keep/drop decisions bit-equal by
    construction."""
    flags = (
        "named_struct("
        "'n', size(split(text, ' ')), "
        "'sl', aggregate(transform(split(text, ' '), t -> "
        "CAST(length(t) AS BIGINT)), CAST(0 AS BIGINT), "
        "(acc, v) -> acc + v), "
        "'nstop', size(filter(split(text, ' '), t -> t IN "
        + T.STOPWORDS_SQL
        + ")), "
        f"'best', {_TOP_TOKEN_COUNT_SPARK})"
    )
    return (
        f"transform(array({flags}), m -> named_struct("
        f"'f_wc', m.n < {_GR_MIN_TOK} OR m.n > {_GR_MAX_TOK}, "
        f"'f_wl', CAST(m.sl AS DOUBLE) / m.n < {_GR_MWL_LO} "
        f"OR CAST(m.sl AS DOUBLE) / m.n > {_GR_MWL_HI}, "
        f"'f_sw', m.nstop < {_GR_MIN_STOP}, "
        f"'f_tt', CAST(m.best AS DOUBLE) / m.n > {_GR_TOPFRAC}))"
    )


@query("corpus_gopher_rules", oracle=_GOPHER_ORACLE)
def corpus_gopher_rules(spark, sf_dir):
    """The Gopher rule battery WITH per-rule attribution: word-count
    bounds, mean-word-length bounds, minimum stopword count, and
    top-token-fraction cap, each counted separately per source plus the
    any-rule drop count and keep rate — the per-rule data-card table
    (Gopher A1.1 / Dolma / RefinedWeb) that says WHICH rule kills a
    crawl's mass, which the single weighted text_quality_score cannot.
    Every rule is a pure in-row expression (token array built once per
    doc via let-binding; the top-token count is the sorted-run fold
    shared with text_repetition_metrics) — ZERO shuffles before the
    source-cardinality aggregate, so the battery scales embarrassingly
    at 100 TB; the oracle recomputes the top-token leg via
    explode+groupBy, a genuinely different plan."""
    wrapped = gopher_flags_sql()
    d = T.spread_small_scan(
        T.docs(spark, sf_dir), spark, f"{sf_dir}/documents.parquet"
    )
    f = d.select("source", F.inline(F.expr(wrapped)))
    any_f = "f_wc OR f_wl OR f_sw OR f_tt"
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr("CASE WHEN f_wc THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_fail_wordcount"),
        F.sum(F.expr("CASE WHEN f_wl THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_fail_wordlen"),
        F.sum(F.expr("CASE WHEN f_sw THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_fail_stopword"),
        F.sum(F.expr("CASE WHEN f_tt THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_fail_toptoken"),
        F.sum(F.expr(f"CASE WHEN {any_f} THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_fail_any"),
        F.expr(
            rnd(
                f"1.0e0 - CAST(SUM(CASE WHEN {any_f} THEN 1 ELSE 0 END) "
                "AS DOUBLE) / COUNT(*)",
                4,
            )
        ).alias("keep_rate"),
    )


# --- rendezvous (highest-random-weight) sharding + reshard churn -----------

_RDV_N = 16


def _rdv_pick(n_shards: int) -> str:
    """argmax-by-hash over `n_shards` candidates as one GREATEST: each
    shard's weight is an exact integer hash of (doc, shard), packed
    as weight*32+shard so the max carries its argmax (weights < 1e8,
    packed < 2^32 — BIGINT-safe; ties break deterministically toward
    the higher shard id in both engines). The (doc, shard) mix must be
    NONLINEAR in the shard index: an affine h(doc)+a*s makes the
    largest s win almost every rendezvous (measured 85% churn instead
    of 1/(N+1)), so the combined key is squared mod p before the final
    multiply (re-measured on the id_mix pre-key: churn 5.4% ~ 1/17,
    per-shard load within +-10%, zero cross-survivor moves on 20k
    keys). The doc key `d` is the full-entropy id_mix of doc_id
    reduced mod 2^25 (see _rdv_sql's d0 CTE) — no mod-2^20
    periodicity, and k = d*32+s < 2^30 keeps k*k < 2^60 BIGINT-safe
    at any doc_id."""
    packs = []
    for s in range(n_shards):
        k = f"(d * 32 + {s})"
        k2 = f"(({k} * {k} + 12345) % 100000007)"
        packs.append(f"(({k2} * 1103515245) % 100000007) * 32 + {s}")
    return "GREATEST(" + ", ".join(packs) + ") % 32"


def _rdv_sql(src: str) -> str:
    n = _RDV_N
    return (
        f"d0 AS (SELECT ({id_mix('doc_id')} % 33554432) AS d "
        f"FROM {src}), "
        f"a AS (SELECT ({_rdv_pick(n)}) AS old_shard, "
        f"({_rdv_pick(n + 1)}) AS new_shard FROM d0), "
        "b AS (SELECT old_shard AS shard, COUNT(*) AS n_docs_before, "
        "SUM(CASE WHEN new_shard <> old_shard THEN 1 ELSE 0 END) "
        "AS moved_out, "
        f"SUM(CASE WHEN new_shard <> old_shard AND new_shard <> {n} "
        "THEN 1 ELSE 0 END) AS moved_elsewhere "
        "FROM a GROUP BY old_shard), "
        "c AS (SELECT new_shard AS shard, COUNT(*) AS n_docs_after "
        "FROM a GROUP BY new_shard), "
        "t AS (SELECT SUM(moved_out) AS mv, SUM(n_docs_before) AS nd "
        "FROM b) "
        "SELECT COALESCE(b.shard, c.shard) AS shard, "
        "CAST(COALESCE(b.n_docs_before, 0) AS BIGINT) AS n_docs_before, "
        "CAST(COALESCE(c.n_docs_after, 0) AS BIGINT) AS n_docs_after, "
        "CAST(COALESCE(b.moved_out, 0) AS BIGINT) AS moved_out, "
        "CAST(COALESCE(b.moved_elsewhere, 0) AS BIGINT) "
        "AS moved_elsewhere, "
        + rnd("CAST(t.mv AS DOUBLE) / t.nd", 6)
        + " AS moved_frac, "
        + rnd(f"1.0e0 / {n + 1}.0e0", 6)
        + " AS expected_frac "
        "FROM b FULL OUTER JOIN c ON b.shard = c.shard CROSS JOIN t"
    )


@query(
    "corpus_rendezvous_shards",
    oracle="WITH " + _rdv_sql("documents"),
)
def corpus_rendezvous_shards(spark, sf_dir):
    """Rendezvous (highest-random-weight) sharding with a reshard-churn
    audit — the assignment scheme a growing corpus store wants INSTEAD
    of mod-N hashing (corpus_shard_balance): each doc goes to the shard
    whose (doc, shard) hash is largest, so adding shard N+1 moves ONLY
    the ~1/(N+1) of docs whose new hash wins, and every moved doc lands
    ON the new shard — no doc ever moves between surviving shards (the
    property this query also measures: moved_elsewhere is 0 by
    construction, committed as a hashed column so any hash-function
    regression fails the oracle). Output per shard: population before/
    after adding a 17th shard, docs moved out, and the global observed
    vs expected churn fraction. Plan: one narrow projection computing
    two GREATEST chains of exact integer hashes (in-row, JVM codegen),
    two shard-cardinality aggregates, and a 17-row join — at 100 TB
    the scan is the only cost, and the audit rides any existing pass
    over the corpus."""
    T.docs(spark, sf_dir).select("doc_id").createOrReplaceTempView(
        "rdv_docs"
    )
    return spark.sql("WITH " + _rdv_sql("rdv_docs"))


# --- Stupid Backoff LM scoring (Brants et al. 2007) -------------------------

#: deterministic 70/30 train/score split on the doc hash (full-entropy
#: id_mix — BIGINT-safe at any doc_id, same doctrine as _SPLIT_H,
#: decorrelated from it by salt)
_SB_TRAIN = f"({id_mix('doc_id', 54321)} % 1000) < 700"

#: backoff penalty alpha = 0.4 (the paper's constant)
#: seen bigram: ln(c_xy / c_ctx); unseen: ln(0.4 * (c_w2+1)/(N+vn))
#: (add-one on the unigram leg keeps wholly-unseen words finite);
#: snapped to 1e-5 integer units before any cross-row sum
_SB_LP_U = (
    "CAST(ROUND(CASE WHEN c_xy IS NOT NULL THEN "
    "LN(CAST(c_xy AS DOUBLE) / c_ctx) "
    "ELSE LN(0.4e0 * (CAST(COALESCE(c_w2, 0) AS DOUBLE) + 1.0e0) "
    "/ (CAST(nt AS DOUBLE) + vn)) END * 1.0e5) AS BIGINT)"
)

_SB_ORACLE = (
    "WITH tr AS (SELECT doc_id, text FROM documents WHERE "
    + _SB_TRAIN + "), "
    "sc AS (SELECT doc_id, text FROM documents WHERE NOT ("
    + _SB_TRAIN + ") AND len(string_split(text, ' ')) >= 2), "
    "bi_tr AS (SELECT unnest(list_transform("
    "range(1, len(string_split(text, ' '))), "
    "i -> struct_pack(w1 := string_split(text, ' ')[i], "
    "w2 := string_split(text, ' ')[i + 1]))) AS b FROM tr "
    "WHERE len(string_split(text, ' ')) >= 2), "
    "bic AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c_xy "
    "FROM bi_tr GROUP BY 1, 2), "
    "ctx AS (SELECT w1, SUM(c_xy) AS c_ctx FROM bic GROUP BY w1), "
    "ut AS (SELECT unnest(string_split(text, ' ')) AS tok FROM tr), "
    "uni AS (SELECT tok, COUNT(*) AS c_w2 FROM ut GROUP BY tok), "
    "tot AS (SELECT COUNT(*) AS nt, COUNT(DISTINCT tok) AS vn FROM ut), "
    "bi_sc AS (SELECT doc_id, unnest(list_transform("
    "range(1, len(string_split(text, ' '))), "
    "i -> struct_pack(w1 := string_split(text, ' ')[i], "
    "w2 := string_split(text, ' ')[i + 1]))) AS b FROM sc), "
    "bits AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi_sc), "
    "lp AS (SELECT bits.doc_id, "
    "CASE WHEN c_xy IS NULL THEN 1 ELSE 0 END AS bo, "
    + _SB_LP_U + " AS lp_u "
    "FROM bits LEFT JOIN bic ON bic.w1 = bits.w1 AND bic.w2 = bits.w2 "
    "LEFT JOIN ctx ON ctx.w1 = bits.w1 "
    "LEFT JOIN uni ON uni.tok = bits.w2 CROSS JOIN tot) "
    "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, "
    "CAST(SUM(bo) AS BIGINT) AS n_backoff, "
    "CAST(SUM(lp_u) AS DOUBLE) / (1.0e5 * COUNT(*)) AS avg_logscore "
    "FROM lp GROUP BY doc_id"
)


@query("corpus_stupid_backoff", oracle=_SB_ORACLE)
def corpus_stupid_backoff(spark, sf_dir):
    """Stupid Backoff LM scoring (Brants et al. 2007, 'Large Language
    Models in Machine Translation') — the smoothing-free scheme built
    FOR web-scale corpora: score = bigram relative frequency when the
    transition was seen in training, else alpha * unigram frequency
    (alpha = 0.4, no normalization — cheaper than Kneser-Ney at
    trillions of tokens and nearly as good for ranking). Unlike
    corpus_perplexity_bigram (self-trained, every transition seen),
    this trains on a deterministic 70% doc split and scores the held
    30%, so backoff genuinely fires; n_backoff per doc is reported —
    the 'how out-of-domain is this doc' signal a mix curator reads
    next to the score. Model frames are vocabulary/bigram-type
    cardinality; scoring is two dictionary left-joins onto the scored
    half's bigram stream; each log term snaps to 1e-5 units so per-doc
    sums are exact across engines and layouts.

    The tokenized frame is materialized: the train half feeds both the
    bigram and the unigram model builds and the score half reads it
    too, so without persistence the corpus parquet is scanned once per
    branch (3x, round-7 scan audit)."""
    d = T.materialize(
        T.docs(spark, sf_dir).select(
            "doc_id", F.split(F.col("text"), " ").alias("ts")
        )
    )
    tr = d.filter(F.expr(_SB_TRAIN))
    sc = d.filter(~F.expr(_SB_TRAIN)).filter(F.size("ts") >= 2)
    bi = (
        tr.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 2), "
                    "i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    bic = T.materialize(
        bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    )
    ctx = bic.groupBy("w1").agg(F.sum("c_xy").alias("c_ctx"))
    ut = tr.select(F.explode("ts").alias("tok"))
    uni = ut.groupBy("tok").agg(F.count(F.lit(1)).alias("c_w2"))
    tot = ut.agg(
        F.count(F.lit(1)).alias("nt"),
        F.countDistinct("tok").alias("vn"),
    )
    bits = sc.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts) - 2), "
                "i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    lp = (
        bits.join(bic, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(uni, bits.w2 == uni.tok, "left")
        .join(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN c_xy IS NULL THEN 1 ELSE 0 END"
            ).alias("bo"),
            F.expr(_SB_LP_U).alias("lp_u"),
        )
    )
    return lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("bo").cast("bigint").alias("n_backoff"),
        F.expr(
            "CAST(SUM(lp_u) AS DOUBLE) / (1.0e5 * COUNT(*))"
        ).alias("avg_logscore"),
    )


# --- interpolated Kneser-Ney LM scoring (Kneser & Ney 1995) ------------------

#: absolute discount D = 0.75 (the standard fixed-discount choice)
#: smoothed continuation probability: distinct-LEFT-CONTEXT count of w2
#: over the number of bigram TYPES — "how many contexts has this word
#: completed", the quantity that separates 'Francisco' (frequent but
#: only after 'San') from genuinely productive words — with an add-one
#: over (types + vocab) so wholly-unseen words stay finite, mirroring
#: stupid backoff's add-one unigram leg. Identical text both engines.
_KN_PCONT = (
    "(CAST(COALESCE(nb, 0) AS DOUBLE) + 1.0e0) / "
    "NULLIF(CAST(ntypes AS DOUBLE) + vn, 0.0e0)"
)

#: interpolated KN: discounted bigram MLE plus the context's reserved
#: mass (D * distinct-continuations / context count) spread by P_cont;
#: an UNSEEN context (not one bigram in training) falls back to P_cont
#: alone. Positive for every input (nf >= 1 whenever c_ctx exists), so
#: LN is total; snapped to 1e-5 integer units before any cross-row sum.
_KN_P = (
    "CASE WHEN c_ctx IS NOT NULL THEN "
    "GREATEST(CAST(COALESCE(c_xy, 0) AS DOUBLE) - 0.75e0, 0.0e0) / c_ctx "
    f"+ (0.75e0 * nf / c_ctx) * ({_KN_PCONT}) "
    f"ELSE ({_KN_PCONT}) END"
)

_KN_LP_U = f"CAST(ROUND(LN({_KN_P}) * 1.0e5) AS BIGINT)"

_KN_ORACLE = (
    "WITH tr AS (SELECT doc_id, text FROM documents WHERE "
    + _SB_TRAIN + "), "
    "sc AS (SELECT doc_id, text FROM documents WHERE NOT ("
    + _SB_TRAIN + ") AND len(string_split(text, ' ')) >= 2), "
    "bi_tr AS (SELECT unnest(list_transform("
    "range(1, len(string_split(text, ' '))), "
    "i -> struct_pack(w1 := string_split(text, ' ')[i], "
    "w2 := string_split(text, ' ')[i + 1]))) AS b FROM tr "
    "WHERE len(string_split(text, ' ')) >= 2), "
    "bic AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c_xy "
    "FROM bi_tr GROUP BY 1, 2), "
    "ctx AS (SELECT w1, SUM(c_xy) AS c_ctx, COUNT(*) AS nf "
    "FROM bic GROUP BY w1), "
    "cont AS (SELECT w2, COUNT(*) AS nb FROM bic GROUP BY w2), "
    "tt AS (SELECT COUNT(*) AS ntypes FROM bic), "
    "ut AS (SELECT unnest(string_split(text, ' ')) AS tok FROM tr), "
    "vt AS (SELECT COUNT(DISTINCT tok) AS vn FROM ut), "
    "bi_sc AS (SELECT doc_id, unnest(list_transform("
    "range(1, len(string_split(text, ' '))), "
    "i -> struct_pack(w1 := string_split(text, ' ')[i], "
    "w2 := string_split(text, ' ')[i + 1]))) AS b FROM sc), "
    "bits AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi_sc), "
    "lp AS (SELECT bits.doc_id, "
    "CASE WHEN c_xy IS NULL THEN 1 ELSE 0 END AS bo, "
    + _KN_LP_U + " AS lp_u "
    "FROM bits LEFT JOIN bic ON bic.w1 = bits.w1 AND bic.w2 = bits.w2 "
    "LEFT JOIN ctx ON ctx.w1 = bits.w1 "
    "LEFT JOIN cont ON cont.w2 = bits.w2 CROSS JOIN tt CROSS JOIN vt) "
    "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, "
    "CAST(SUM(bo) AS BIGINT) AS n_unseen, "
    "CAST(SUM(lp_u) AS DOUBLE) / (1.0e5 * COUNT(*)) AS avg_logscore "
    "FROM lp GROUP BY doc_id"
)


@query("corpus_kneser_ney", oracle=_KN_ORACLE)
def corpus_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the
    smoothing Chen & Goodman 1999 crowned and every KenLM-filtered
    pipeline — CCNet, Gopher, LLaMA — actually runs): absolute
    discount D = 0.75 off each seen bigram, the reserved mass spread by
    the CONTINUATION probability — how many distinct contexts a word
    completes, over the bigram-type count — which is the detail that
    separates 'Francisco' (frequent, but only ever after 'San') from
    genuinely productive words. Unigram-frequency backoff
    (corpus_stupid_backoff) overrates exactly those burst words; KN is
    the principled fix, and disagreement between the two scores on the
    SAME held-out split is the signal a perplexity-filter threshold
    needs re-examination. Completes the LM-scoring trio: add-one
    (corpus_perplexity_bigram, self-trained), Stupid Backoff (cheap,
    web-scale), Kneser-Ney (the quality reference).

    Same 70/30 deterministic split and single-scan shape as
    corpus_stupid_backoff: the tokenized frame is materialized (train
    feeds the bigram, continuation, AND vocabulary aggregates; score
    reads it too), every model frame is bigram-type/vocabulary
    cardinality, scoring is dictionary left-joins onto the held half's
    bigram stream, and the per-bigram log snaps to 1e-5 integer units
    so per-doc sums are exact across engines and layouts. An unseen
    CONTEXT falls back to pure continuation probability; an unseen
    word survives via the add-one over (types + vocab) — both engines
    evaluate the identical expression text."""
    d = T.materialize(
        T.docs(spark, sf_dir).select(
            "doc_id", F.split(F.col("text"), " ").alias("ts")
        )
    )
    tr = d.filter(F.expr(_SB_TRAIN))
    sc = d.filter(~F.expr(_SB_TRAIN)).filter(F.size("ts") >= 2)
    bigram = (
        "transform(sequence(0, size(ts) - 2), "
        "i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
    )
    bi = (
        tr.filter(F.size("ts") >= 2)
        .select(F.explode(F.expr(bigram)).alias("b"))
        .select("b.w1", "b.w2")
    )
    bic = T.materialize(
        bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    )
    ctx = bic.groupBy("w1").agg(
        F.sum("c_xy").alias("c_ctx"), F.count(F.lit(1)).alias("nf")
    )
    cont = bic.groupBy("w2").agg(F.count(F.lit(1)).alias("nb"))
    tt = bic.agg(F.count(F.lit(1)).alias("ntypes"))
    vt = tr.select(F.explode("ts").alias("tok")).agg(
        F.countDistinct("tok").alias("vn")
    )
    bits = sc.select(
        "doc_id", F.explode(F.expr(bigram)).alias("b")
    ).select("doc_id", "b.w1", "b.w2")
    lp = (
        bits.join(bic, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, bits.w2 == cont.w2, "left")
        .join(F.broadcast(tt.crossJoin(vt)))
        .select(
            "doc_id",
            F.expr("CASE WHEN c_xy IS NULL THEN 1 ELSE 0 END").alias(
                "bo"
            ),
            F.expr(_KN_LP_U).alias("lp_u"),
        )
    )
    return lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("bo").cast("bigint").alias("n_unseen"),
        F.expr(
            "CAST(SUM(lp_u) AS DOUBLE) / (1.0e5 * COUNT(*))"
        ).alias("avg_logscore"),
    )


# --- cross-source overlap matrix --------------------------------------------

def _so_tail() -> str:
    """Shared tail over an `ss` (source, shingle-type) frame: pairwise
    shared-type counts, per-source totals, Jaccard — with the zero-
    overlap pairs kept via a domain cross join (dropping them makes a
    disjoint corpus look like a missing row, not a 0.0)."""
    return (
        "iv AS (SELECT a.source AS source_a, b.source AS source_b, "
        "COUNT(*) AS n_shared FROM ss a JOIN ss b "
        "ON a.shingle = b.shingle AND a.source < b.source "
        "GROUP BY a.source, b.source), "
        "sz AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source), "
        # BROADCAST keeps the tiny source-domain pair build a
        # BroadcastNestedLoopJoin, never a CartesianProduct (DuckDB
        # reads the hint as a plain comment)
        "pd AS (SELECT /*+ BROADCAST(y) */ x.source AS source_a, "
        "x.n AS n_a, y.source AS source_b, y.n AS n_b "
        "FROM sz x CROSS JOIN sz y WHERE x.source < y.source) "
        "SELECT pd.source_a, pd.source_b, "
        "CAST(pd.n_a AS BIGINT) AS n_a, CAST(pd.n_b AS BIGINT) AS n_b, "
        "CAST(COALESCE(iv.n_shared, 0) AS BIGINT) AS n_shared, "
        + rnd(
            "CAST(COALESCE(iv.n_shared, 0) AS DOUBLE) / "
            "(pd.n_a + pd.n_b - COALESCE(iv.n_shared, 0))",
            6,
        )
        + " AS jaccard "
        "FROM pd LEFT JOIN iv ON iv.source_a = pd.source_a "
        "AND iv.source_b = pd.source_b"
    )


@query(
    "corpus_source_overlap_matrix",
    oracle=(
        "WITH " + T.SHINGLES_CTE + ", "
        "ss AS (SELECT DISTINCT d.source, s.shingle "
        "FROM shingles s JOIN documents d USING (doc_id)), "
        + _so_tail()
    ),
)
def corpus_source_overlap_matrix(spark, sf_dir):
    """Cross-SOURCE contamination matrix: 3-gram shingle-type Jaccard
    between every source pair — the audit that tells a mix curator
    which feeds are re-crawls / mirrors of each other BEFORE their
    duplicated mass double-counts in the training mix (dedup_rate_by_
    source sees within-source dups; THIS sees the cross-feed kind,
    which per-source pipelines silently miss). Distinct (source,
    shingle-type) frame built once from the shared in-row shingle
    hashes; the self-join key is the shingle type, so a shingle present
    in k sources contributes k(k-1)/2 pairs with k bounded by the
    SOURCE domain, never by corpus size — the matrix and every
    aggregate after the distinct are source-squared-cardinality. Zero-
    overlap pairs are kept as explicit 0.0 rows via the pair-domain
    cross join. Oracle runs raw shingle strings; the engine runs 60-bit
    content hashes — identical type counts either way."""
    sh = T.doc_shingle_ids_shared(spark, sf_dir)
    src = T.docs(spark, sf_dir).select("doc_id", "source")
    ss = (
        sh.join(src, "doc_id")
        .select("source", F.col("sh").alias("shingle"))
        .distinct()
    )
    ss.createOrReplaceTempView("so_ss")
    return spark.sql(
        "WITH ss AS (SELECT * FROM so_ss), " + _so_tail()
    )


# --- UniMax budget waterfilling across sources ------------------------------

#: epoch cap (max repeats of any source) and the budget as a multiple
#: of the corpus's one-epoch token count: budget = 2 epochs' worth,
#: caps = 4 epochs per source, so the waterfill is always active and
#: small sources saturate their cap while large ones share the rest
_UMX_EPOCH_CAP = 4
_UMX_BUDGET_EPOCHS = 2


def _tok_counts(spark, sf_dir):
    """Materialized per-source token counts: the corpus tokenize+sum is
    the only fact-cardinality work in the mixing queries, and their
    tok CTE is referenced twice — Spark re-inlines CTEs, so without
    the lineage cut the 100 TB corpus would be SCANNED AND TOKENIZED
    TWICE (observed as two parquet scans in the plan). One pass, then
    a source-cardinality frame feeds the arithmetic."""
    return T.materialize(
        T.docs(spark, sf_dir)
        .groupBy("source")
        .agg(F.expr("SUM(size(split(text, ' ')))").alias("n_tok"))
    )


def _unimax_sql(tok_src: str) -> str:
    """Shared text: per-source token counts, caps = EPOCH_CAP * n_tok,
    budget B = BUDGET_EPOCHS * total, then the exact waterfilling
    solution of  maximize uniformity s.t. sum(alloc) = B,
    alloc_s <= cap_s:  sources sorted ascending by cap; the water level
    L comes from the FIRST source whose cap cannot be fully granted
    (cap_i * (k-i+1) + pcap_{i-1} > B  =>  L = (B - pcap_{i-1})/(k-i+1));
    sources below the level keep their cap, the rest get L. One
    source-cardinality window (the global sort is dimension-bounded —
    sources, not documents), everything else scalar."""
    c, be = _UMX_EPOCH_CAP, _UMX_BUDGET_EPOCHS
    water = "(SELECT water FROM lv)"
    return (
        f"tok AS (SELECT source, n_tok FROM {tok_src}), "
        f"kb AS (SELECT COUNT(*) AS k, {be} * SUM(n_tok) AS b FROM tok), "
        f"s AS (SELECT source, n_tok, {c} * n_tok AS cap, "
        f"CAST(ROW_NUMBER() OVER (ORDER BY {c} * n_tok, source) "
        "AS BIGINT) AS i, "
        f"SUM({c} * n_tok) OVER (ORDER BY {c} * n_tok, source "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pcap "
        "FROM tok), "
        "lv AS (SELECT CAST(b - (pcap - cap) AS DOUBLE) / (k - i + 1) "
        "AS water FROM s CROSS JOIN kb "
        "WHERE cap * (k - i + 1) + (pcap - cap) > b "
        "ORDER BY i LIMIT 1), "
        "a AS (SELECT source, n_tok, cap, "
        f"CASE WHEN {water} IS NULL OR CAST(cap AS DOUBLE) <= {water} "
        f"THEN CAST(cap AS DOUBLE) ELSE {water} END AS alloc FROM s) "
        "SELECT source, CAST(n_tok AS BIGINT) AS n_tokens, "
        "CAST(cap AS BIGINT) AS cap_tokens, "
        + rnd("alloc", 2) + " AS alloc_tokens, "
        + rnd("alloc / n_tok", 4) + " AS epochs, "
        f"CAST({water} IS NULL OR CAST(cap AS DOUBLE) <= {water} "
        "AS BOOLEAN) AS cap_bound FROM a"
    )


@query(
    "corpus_unimax_weights",
    oracle=(
        "WITH "
        + _unimax_sql(
            "(SELECT source, SUM(len(string_split(text, ' '))) "
            "AS n_tok FROM documents GROUP BY source) tokq"
        )
    ),
)
def corpus_unimax_weights(spark, sf_dir):
    """UniMax-style sampling budget across sources (Chung et al. 2023,
    'UniMax: Fairer and More Effective Language Sampling'): allocate a
    token budget as UNIFORMLY as possible across sources subject to a
    per-source epoch cap — small sources saturate at cap_s =
    EPOCH_CAP * n_s (never over-repeated past the cap), large sources
    share the remainder equally at the water level. This is the
    closed-form waterfill, computed exactly: one source-cardinality
    aggregate, one sort-window over the SOURCE dimension (bounded —
    20 here, maybe 10^3 in production, never document cardinality),
    prefix sums, and the first-violator water level; per-source output
    is the allocation, realized epochs, and whether the cap binds.
    Complements corpus_token_budget (which documents to take per
    source) with HOW MUCH to take from each source — together they are
    the mixing recipe's two halves. At 100 TB the token counts ride
    any existing corpus pass; the waterfill itself is dimension-sized
    arithmetic."""
    _tok_counts(spark, sf_dir).createOrReplaceTempView("umx_tok")
    return spark.sql("WITH " + _unimax_sql("umx_tok"))


# --- temperature-based sampling weights (mC4/mT5 standard) ------------------

#: alpha = 0.3: the mT5 paper's production setting (upsamples tails)
_TSAMP_ALPHA = "0.3e0"

#: micro-snapped weight numerator n_s^alpha: POWER may differ in the
#: last ulp between the JVM and libm, so the numerator snaps to 1e-6
#: units BEFORE the cross-source normalization (the same discipline as
#: the LN terms in the KL/perplexity queries)
_TSAMP_WN_U = (
    "CAST(ROUND(POWER(CAST(n_tok AS DOUBLE), "
    + _TSAMP_ALPHA
    + ") * 1.0e6) AS BIGINT)"
)


def _tsamp_sql(tok_src: str) -> str:
    return (
        f"tok AS (SELECT source, n_tok FROM {tok_src}), "
        f"w AS (SELECT source, n_tok, {_TSAMP_WN_U} AS wn_u FROM tok), "
        "t AS (SELECT SUM(wn_u) AS tw, SUM(n_tok) AS tt FROM w) "
        "SELECT source, CAST(n_tok AS BIGINT) AS n_tokens, "
        + rnd("CAST(n_tok AS DOUBLE) / tt", 6)
        + " AS natural_share, "
        + rnd("CAST(wn_u AS DOUBLE) / tw", 6)
        + " AS sampled_share, "
        + rnd("(CAST(wn_u AS DOUBLE) / tw) / (CAST(n_tok AS DOUBLE) / tt)", 4)
        + " AS upsampling_factor, "
        "CAST(CAST(wn_u AS DOUBLE) / tw > CAST(n_tok AS DOUBLE) / tt "
        "AS BOOLEAN) AS upsampled FROM w CROSS JOIN t"
    )


@query(
    "corpus_temperature_sampling",
    oracle=(
        "WITH "
        + _tsamp_sql(
            "(SELECT source, SUM(len(string_split(text, ' '))) "
            "AS n_tok FROM documents GROUP BY source) tokq"
        )
    ),
)
def corpus_temperature_sampling(spark, sf_dir):
    """Temperature-based source sampling weights — the mC4/mT5 mixing
    standard (Raffel et al. 2020 / Xue et al. 2021): sample source s
    with probability proportional to n_s^alpha (alpha = 0.3), which
    flattens the natural distribution so long-tail sources are seen
    more than their raw share without the hard per-source cap UniMax
    imposes. Output per source: natural vs sampled share, the
    upsampling factor, and the direction flag — read next to
    corpus_unimax_weights, these are the two canonical answers to 'how
    much of each source', and the disagreement between them (UniMax
    caps what temperature over-repeats) is the published motivation
    for UniMax. One source-cardinality aggregate + a 2-scalar
    broadcast; the POWER numerator micro-snaps before normalization so
    both engines divide identical integers. At 100 TB the counts ride
    any existing corpus pass."""
    _tok_counts(spark, sf_dir).createOrReplaceTempView("tsamp_tok")
    return spark.sql("WITH " + _tsamp_sql("tsamp_tok"))


# --- T5-style span corruption: the denoising-objective data op -------------

#: window width in tokens; every FULL window gets exactly one masked
#: span of deterministic length 1-3 (mean 2 -> 20% noise density, the
#: T5 paper's 15%/mean-3 made shorter to suit these short documents);
#: the partial tail window passes through unmasked
_SC_W = 10
_SC_KEY = "(doc_id * 4096 + w)"
#: span length and start ride two independently-salted id_mix streams
#: so their joint distribution is decorrelated (same doctrine as the
#: split/shard assignments)
_SC_L = f"(1 + {id_mix(_SC_KEY, 101)} % 3)"
_SC_S = f"({id_mix(_SC_KEY, 202)} % ({_SC_W + 1} - L))"


def _sc_spark() -> str:
    """Inputs/targets/counters as ONE in-row expression (let-bindings
    via single-element transform; w/L/s bound innermost-out so each
    hash is computed once per window)."""
    frag_in = (
        f"array_join(concat(slice(ts, w*{_SC_W}+1, s), "
        "array('<extra_id_' || CAST(w AS STRING) || '>'), "
        f"slice(ts, w*{_SC_W}+s+L+1, {_SC_W}-s-L)), ' ')"
    )
    frag_tg = (
        "'<extra_id_' || CAST(w AS STRING) || '> ' || "
        f"array_join(slice(ts, w*{_SC_W}+s+1, L), ' ')"
    )

    def per_w(body: str) -> str:
        return (
            "CASE WHEN nf = 0 THEN array() ELSE "
            "transform(sequence(0, nf - 1), w -> "
            f"transform(array({_SC_L}), L -> "
            f"transform(array({_SC_S}), s -> {body})[0])[0]) END"
        )

    return (
        "transform(array(split(text, ' ')), ts -> "
        f"transform(array(size(ts) div {_SC_W}), nf -> struct("
        "size(ts) AS n_tokens, "
        "CAST(nf AS BIGINT) AS n_windows, "
        "CAST(CASE WHEN nf = 0 THEN 0 ELSE "
        f"aggregate(transform(sequence(0, nf - 1), w -> {_SC_L}), "
        "0L, (a, x) -> a + x) END AS BIGINT) AS n_masked, "
        f"array_join(concat({per_w(frag_in)}, "
        f"slice(ts, nf*{_SC_W}+1, size(ts) - nf*{_SC_W})), ' ') AS inputs, "
        "CASE WHEN nf = 0 THEN '<extra_id_0>' ELSE "
        f"array_join({per_w(frag_tg)}, ' ') || "
        "' <extra_id_' || CAST(nf AS STRING) || '>' END AS targets"
        "))[0])[0]"
    )


def _sc_oracle() -> str:
    frag_in = (
        "array_to_string(list_concat(list_concat("
        f"list_slice(ts, w*{_SC_W}+1, w*{_SC_W}+s), "
        "['<extra_id_' || CAST(w AS VARCHAR) || '>']), "
        f"list_slice(ts, w*{_SC_W}+s+L+1, w*{_SC_W}+{_SC_W})), ' ')"
    )
    frag_tg = (
        "'<extra_id_' || CAST(w AS VARCHAR) || '> ' || "
        f"array_to_string(list_slice(ts, w*{_SC_W}+s+1, w*{_SC_W}+s+L), ' ')"
    )

    def per_w(body: str) -> str:
        return (
            "list_transform(range(nf), w -> "
            f"list_transform([{_SC_L}], L -> "
            f"list_transform([{_SC_S}], s -> {body})[1])[1])"
        )

    core = (
        "list_transform([string_split(text, ' ')], ts -> "
        f"list_transform([len(ts) // {_SC_W}], nf -> struct_pack("
        "n_tokens := len(ts), "
        "n_windows := CAST(nf AS BIGINT), "
        "n_masked := CAST(COALESCE(list_sum(list_transform(range(nf), "
        f"w -> {_SC_L})), 0) AS BIGINT), "
        f"inputs := array_to_string(list_concat({per_w(frag_in)}, "
        "list_slice(ts, nf*10+1, len(ts))), ' '), "
        "targets := CASE WHEN nf = 0 THEN '<extra_id_0>' ELSE "
        f"array_to_string({per_w(frag_tg)}, ' ') || "
        "' <extra_id_' || CAST(nf AS VARCHAR) || '>' END"
        "))[1])[1]"
    )
    return (
        f"WITH r AS (SELECT doc_id, {core} AS v FROM documents) "
        "SELECT doc_id, v.n_tokens AS n_tokens, "
        "v.n_windows AS n_windows, v.n_masked AS n_masked, "
        "v.inputs AS inputs, v.targets AS targets FROM r"
    )


@query("corpus_span_corruption", oracle=_sc_oracle())
def corpus_span_corruption(spark, sf_dir):
    """T5-style span corruption (Raffel et al. 2020's denoising
    objective), the step that turns a curated corpus into actual
    pretraining examples: every full 10-token window gets exactly one
    masked span (length 1-3, start position uniform over the window,
    both drawn from independently-salted id_mix streams keyed by
    (doc_id, window) — fully deterministic, reproducible across runs
    and engines); masked spans are replaced by <extra_id_k> sentinels
    in the encoder input and emitted after their sentinels in the
    decoder target, closed by a final sentinel. The gate hashes the
    COMPLETE inputs/targets strings, so an off-by-one in any slice
    bound, a sentinel numbering slip, or a hash-stream divergence
    fails the driver hash on essentially every document.

    Scale shape: entirely in-row (one narrow projection, ZERO
    shuffles) — windowing, hashing, masking, and string assembly are
    interpreted HOF folds bound via single-element transforms so each
    window's hash is computed once; at 100 TB this is an
    embarrassingly-parallel map over documents, the same shape a
    production tokenizer-prep job has. ref: the reference has no
    training-objective surface (its pipeline ends at a dashboard,
    ref:streamlit/app.py); parameters per the public T5 paper."""
    return T.docs(spark, sf_dir).select(
        "doc_id", F.expr(_sc_spark()).alias("v")
    ).select(
        "doc_id",
        F.col("v.n_tokens").alias("n_tokens"),
        F.col("v.n_windows").alias("n_windows"),
        F.col("v.n_masked").alias("n_masked"),
        F.col("v.inputs").alias("inputs"),
        F.col("v.targets").alias("targets"),
    )
