"""Text-analysis building blocks over the `documents` table: tokenization,
token dictionary, 3-gram shingles — shared by the text-quality and
dedup operator families.

Spark side is DataFrame API (split/posexplode/broadcast-join); each
builder has a DuckDB CTE twin so every downstream operator keeps an exact
oracle. 100 TB notes:

- tokenization/shingling are narrow (no shuffle);
- the token dictionary here uses a global ROW_NUMBER for *oracle-stable*
  ids; at real scale you swap `dict_ids` for `xxhash64(tok)` (no global
  sort, no dictionary join) — every downstream operator only needs ids to
  be deterministic, not dense;
- dictionary joins are broadcast (vocabulary << corpus, Zipf).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# --- Spark builders -------------------------------------------------------


def docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "documents")


def spread_small_scan(
    df: DataFrame, spark: SparkSession, path: str
) -> DataFrame:
    """Small-input parallelization guard for expensive narrow chains
    (shingle explode + per-shingle hashing): an input that arrives as
    fewer scan splits than half the cluster's cores is redistributed so
    the chain uses every core — without it, a single-row-group parquet
    file pins the whole pipeline to ONE task. At production scale the
    scan has thousands of native splits and this is a no-op; the
    redistribution is round-robin (no key), so no skew. Only worth the
    extra shuffle when real per-row compute follows — cheap projections
    finish faster on one task than they would pay for a stage round-trip."""
    par = spark.sparkContext.defaultParallelism
    if _scan_splits(path) < max(2, par // 2):
        return df.repartition(par)
    return df


def _scan_splits(path: str) -> int:
    """Upper bound on the parquet scan's split count = total row groups
    (a row group is the smallest splittable unit). Pure driver-side
    footer read (no Spark job, no plan compile — `df.rdd
    .getNumPartitions()` costs a full physical-plan build per call)."""
    import os

    try:
        import pyarrow.parquet as pq

        files = (
            [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
            if os.path.isdir(path)
            else [path]
        )
        return sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    except Exception:
        return 1 << 30  # unknown layout: assume splittable, never repartition


def tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, tok) — 0-based positions, whitespace tokenization."""
    return docs(spark, sf_dir).select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )


def token_dict(
    spark: SparkSession, sf_dir: str, toks: DataFrame | None = None
) -> DataFrame:
    """(tok, tok_id) — dense ids, deterministic (alphabetical row_number).

    Global-sort window is fine for a vocabulary (small by Zipf's law); the
    scale path is hash ids — see module docstring."""
    from pyspark.sql import Window

    return (
        (toks if toks is not None else tokens(spark, sf_dir))
        .select("tok")
        .distinct()
        .withColumn(
            "tok_id", F.row_number().over(Window.orderBy("tok")).cast("bigint")
        )
    )


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle): DISTINCT 3-gram word shingles per document.
    The input is spread across cores first (see spread_small_scan): the
    3-gram explode multiplies bytes ~5x and downstream hashes every
    shingle — the one chain where a single-split scan serializes real
    compute."""
    d = spread_small_scan(
        docs(spark, sf_dir), spark, f"{sf_dir}/documents.parquet"
    ).select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    return (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) < 3 THEN array() "
                    "ELSE transform(sequence(1, size(toks) - 2), "
                    "i -> concat_ws(' ', slice(toks, i, 3))) END"
                )
            ).alias("shingle"),
        )
        .distinct()
    )


def gram_array_sql() -> str:
    """SQL for the DISTINCT 3-gram shingles of the token array `toks` as
    one ARRAY of 60-bit content-hash ids (:func:`hashed_id_spark`),
    empty below 3 tokens: the in-row shingle set that
    :func:`doc_gram_arrays` and the ingest-time stream twins share, so
    their values are bit-equal."""
    grams = (
        "transform(sequence(1, size(toks) - 2), "
        "i -> " + hashed_id_spark("concat_ws(' ', slice(toks, i, 3))") + ")"
    )
    return f"CASE WHEN size(toks) < 3 THEN array() ELSE array_distinct({grams}) END"


def doc_gram_arrays(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None = None
) -> DataFrame:
    """(doc_id, n_sh, shs): each document's DISTINCT 3-gram shingles as
    one ARRAY of 60-bit content-hash ids, plus its size — the base form
    of :func:`doc_shingle_ids`, built fully in-row (zero shuffles).

    Round 10: this array form is what the dedup family PINS. With the
    per-doc array already in the row, the MinHash signature becomes a
    narrow projection (no groupBy(doc_id) exchange of the exploded
    frame) and candidate-verification arrays become a semi-join
    projection (no collect_list re-assembly shuffle) — the exploded
    (doc_id, n_sh, sh) row frame is derived from this one by a narrow
    explode wherever rows are needed. Hash = the portable 60-bit md5
    prefix (`hashed_id_spark`), bit-equal to the oracle's
    `hashed_id_duck` over the same strings; collision odds ~1e-8 at
    1e5 distinct shingles, and the oracles keep using raw strings —
    equal counts either way.

    `frame` overrides the input (must carry doc_id + text) so callers
    can shingle a pre-filtered slice with the source filter pushed
    into the scan. NOTE: docs with fewer than 3 tokens appear here
    with n_sh = 0 and an empty array (the exploded form drops them)."""
    d = spread_small_scan(
        docs(spark, sf_dir) if frame is None else frame,
        spark,
        f"{sf_dir}/documents.parquet",
    ).select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    # Let-binding via a single-element transform + inline: `a` holds the
    # computed gram array, so the expensive md5 transform runs ONCE per
    # document. (A plain two-step select collapses into one projection
    # where both size() and the array reference inline the full
    # expression — measured 14x slower; higher-order exprs are
    # interpreted, no codegen CSE.)
    wrapped = (
        f"transform(array({gram_array_sql()}), "
        "a -> struct(size(a) AS n_sh, a AS shs))"
    )
    return d.select("doc_id", F.inline(F.expr(wrapped))).select(
        "doc_id", "n_sh", "shs"
    )


def doc_shingle_ids(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None = None
) -> DataFrame:
    """(doc_id, n_sh, sh): DISTINCT 3-gram shingles per document as
    60-bit content hashes, plus the document's distinct-shingle count —
    the scale path for every shingle consumer that needs ROWS.

    Fully narrow: the per-doc array build (:func:`doc_gram_arrays`)
    plus one explode, so there is NO shuffle at all — versus
    :func:`doc_shingles` + `.distinct()`, which shuffles the
    ~5x-exploded shingle STRINGS just to deduplicate within each
    document, plus a groupBy(doc_id) just to count them. Downstream
    shuffles then carry 8-byte ints instead of shingle text, and
    consumers that need Jaccard denominators read n_sh for free instead
    of joining a sizes aggregate. The explode drops zero-shingle docs
    (empty arrays), matching the historical row semantics."""
    return doc_gram_arrays(spark, sf_dir, frame=frame).select(
        "doc_id", "n_sh", F.explode("shs").alias("sh")
    )


def shingle_dict(
    spark: SparkSession, sf_dir: str, shingles: DataFrame | None = None
) -> DataFrame:
    from pyspark.sql import Window

    return (
        (shingles if shingles is not None else doc_shingles(spark, sf_dir))
        .select("shingle")
        .distinct()
        .withColumn(
            "sh_id", F.row_number().over(Window.orderBy("shingle")).cast("bigint")
        )
    )


def hashed_id_spark(col: str, mod: int = 1 << 40) -> str:
    """Portable 60-bit content hash -> bigint id (Spark side). Same value
    as :func:`hashed_id_duck` — verified bit-equal. This is the SCALE path
    for ids: no dictionary, no global row_number, no join; use the
    dictionary builders above only when dense ids are required."""
    return f"(CAST(conv(substr(md5({col}), 1, 15), 16, 10) AS BIGINT) % {mod})"


def hashed_id_duck(col: str, mod: int = 1 << 40) -> str:
    return f"(CAST('0x' || substr(md5({col}), 1, 15) AS BIGINT) % {mod})"


def sampled_table_duck(sql: str, table: str, pred: str) -> str:
    """Rewrite every scan of `table` inside an oracle to a filtered
    subquery — the sampled-twin pattern: a deliberately-lossless audit
    oracle whose cost is superlinear in corpus size gets a twin that
    applies a deterministic content/key-hash predicate at EVERY scan of
    the base table, so the twin's oracle stays checkable at any scale
    while exercising the identical machinery. Handles the three
    reference forms the registry's oracles use: `FROM t d` (aliased),
    `JOIN t e` (aliased join), and bare `FROM t` (re-aliased to the
    table name so qualified column references keep resolving)."""
    sub = f"(SELECT * FROM {table} WHERE {pred})"
    return (
        sql.replace(f"FROM {table} d ", f"FROM {sub} d ")
        .replace(f"JOIN {table} e ", f"JOIN {sub} e ")
        .replace(f"FROM {table}", f"FROM {sub} {table}")
    )


def _reliable_checkpoint(df: DataFrame) -> DataFrame:
    import os
    import tempfile

    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
            or tempfile.mkdtemp(prefix="spark-ckpt-")
        )
    return df.checkpoint(eager=False)


def materialize(df: DataFrame, cut_lineage: bool = False) -> DataFrame:
    """Materialize a frame that downstream logic reuses several times
    (self-joins, dict + sizes + candidate verification). Without this
    Catalyst re-derives the whole upstream chain per reference — 8 scans
    of the corpus in the MinHash plan. persist(MEMORY_AND_DISK) keeps
    lineage recomputable: a lost executor's blocks are recomputed from
    the parquet lineage, so executor loss never kills a query.

    `cut_lineage=True` is for ITERATIVE callers (label propagation,
    pagerank, BPE merge folds) whose loop state frame is reassigned each
    round: there the logical plan itself must be truncated or analysis
    cost grows with the iteration count. This uses the reliable
    checkpoint when a checkpoint dir is configured (on the context or by
    SPARK_GRAFT_CHECKPOINT_DIR, cluster mode) and localCheckpoint
    otherwise (single box). The single-box localCheckpoint is EAGER: a
    lazy one defers every round's materialization to the final action,
    where the per-round sub-DAGs re-derive to the source once each (the
    round-7 scan audit measured one parquet scan per BPE merge round);
    eager per-round checkpoints are the MLlib iterative pattern — round
    k reads round k-1's blocks, the source is scanned once."""
    if cut_lineage:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is not None or __import__("os").environ.get(
            "SPARK_GRAFT_CHECKPOINT_DIR"
        ):
            return _reliable_checkpoint(df)
        return df.localCheckpoint(eager=True)
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


def doc_gram_arrays_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized, materialized :func:`doc_gram_arrays` (default
    corpus only — frame-override callers keep their own builds so their
    source filters stay pushed into the scan). The Jaccard, MinHash and
    corpus-pipeline queries share it, so the md5 shingling runs once per
    documents frame of tables.load, rebuilt when its blocks were dropped
    (:func:`tables.memo`). The pin is the array form (document-cardinality
    rows): signature and verification consumers read arrays with no
    re-assembly shuffle, and the row form is a narrow explode over it."""
    return tables.memo(
        spark, ("grams", sf_dir), docs(spark, sf_dir),
        lambda: materialize(doc_gram_arrays(spark, sf_dir)),
    )


def doc_shingle_ids_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared (doc_id, n_sh, sh) ROW frame: a narrow explode VIEW
    over the pinned array frame (one pin serves both forms; the explode
    re-runs per reference and is trivial next to the md5 build it reads
    from cache)."""
    return doc_gram_arrays_shared(spark, sf_dir).select(
        "doc_id", "n_sh", F.explode("shs").alias("sh")
    )


def clear_shingle_memo() -> None:
    """Does nothing; kept because bench.py and perfbench's batch mix
    call it after they clear the session's cache. The shingle pin lives
    in :func:`tables.memo`, which rebuilds a frame whose cached blocks
    were dropped."""


# --- DuckDB oracle CTE twins ---------------------------------------------

TOKS_CTE = (
    "toks AS (SELECT doc_id, "
    "unnest(string_split(text, ' ')) AS tok, "
    "generate_subscripts(string_split(text, ' '), 1) - 1 AS pos "
    "FROM documents)"
)

DICT_CTE = (
    "dict AS (SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY tok) AS BIGINT) "
    "AS tok_id FROM (SELECT DISTINCT tok FROM toks))"
)

SHINGLES_CTE = (
    "shingles AS (SELECT DISTINCT doc_id, shingle FROM ("
    "SELECT doc_id, unnest(CASE WHEN len(string_split(text, ' ')) < 3 "
    "THEN [] "
    "ELSE list_transform(range(1, len(string_split(text, ' ')) - 1), "
    "i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')) END) "
    "AS shingle FROM documents))"
)

SHINGLE_DICT_CTE = (
    "sh_dict AS (SELECT shingle, CAST(ROW_NUMBER() OVER (ORDER BY shingle) "
    "AS BIGINT) AS sh_id FROM (SELECT DISTINCT shingle FROM shingles))"
)

STOPWORDS_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


# --- Unicode NFC normalization audit -------------------------------------

#: decomposed suffixes injected per doc (doc_id % 6): combining acute,
#: combining ring, Hangul L+V+T jamo, katakana voicing mark, a
#: canonical-REORDER case (ccc 230 then 220 — NFC must sort the marks
#: before composing), and an already-NFC no-op.
NFC_SUFFIXES = [
    "é",
    "Å",
    "각",
    "ガ",
    "ọ̈",
    "x",
]


def nfc_audit(df):
    """Arrow-batched Unicode NFC audit: each doc's first 120 chars plus
    a deterministic DECOMPOSED suffix are canonically composed with
    Python's unicodedata (UCD tables shipped with CPython); the DuckDB
    oracle normalizes the identical content with its ICU-backed
    nfc_normalize — two independent Unicode implementations must agree
    on composition, reordering (canonical combining class sort), and
    Hangul LVT arithmetic for the driver hash to pass. The mandatory
    text-cleaning step of any multilingual corpus build."""
    import hashlib
    import unicodedata

    from pyspark.sql import types as Ty

    schema = Ty.StructType(
        [
            Ty.StructField("doc_id", Ty.LongType()),
            Ty.StructField("n_cp_before", Ty.IntegerType()),
            Ty.StructField("n_cp_after", Ty.IntegerType()),
            Ty.StructField("changed", Ty.BooleanType()),
            Ty.StructField("norm_md5", Ty.StringType()),
        ]
    )

    def _batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                content = (text or "")[:120] + NFC_SUFFIXES[
                    int(doc_id) % 6
                ]
                norm = unicodedata.normalize("NFC", content)
                rows.append(
                    (
                        int(doc_id),
                        len(content),
                        len(norm),
                        norm != content,
                        hashlib.md5(norm.encode("utf-8")).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            )

    return df.select("doc_id", "text").mapInPandas(_batches, schema=schema)
