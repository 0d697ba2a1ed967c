"""Deduplication operators over `documents` (north-star extension
surface): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these at 100 TB):
- exact dedup: hash-aggregate on the full text (at scale: on
  xxhash64(text) first, verify collisions) — one shuffle;
- Jaccard pairs: the candidate join is an EQUI-join on shingle (never an
  all-pairs product); hot shingles are dropped by a document-frequency cap
  (stopword-shingles generate quadratic candidates — the classic skew
  guard, same role as salting);
- MinHash+LSH: 16 permutation hashes -> 4 bands of 4; candidate pairs
  must share a full band signature, cutting candidates from O(n^2) to
  near-linear in dup density. Signatures are exact integer arithmetic
  ((a*x+b) mod p over dictionary shingle ids), portable to the oracle;
- SimHash: 16-bit position-weighted signature; pairs within Hamming
  distance <= 3. The pair join here is brute (tiny corpus); the scale
  path is 4-block banding (any pair at distance <=3 shares one of 4
  4-bit blocks) — same equi-join trick as LSH.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.exprs import id_mix, rnd
from ..operators import textops as T
from ..registry import query

# --- exact dedup ----------------------------------------------------------


@query(
    "dedup_exact",
    oracle=(
        "SELECT text, MIN(doc_id) AS canonical_doc, COUNT(*) AS n_copies "
        "FROM documents GROUP BY text HAVING COUNT(*) > 1"
    ),
)
def dedup_exact(spark, sf_dir):
    """Exact duplicate groups: hash-agg on text, keep the min doc_id as
    canonical. At 100 TB: pre-hash to a 64-bit key so the shuffle moves
    8-byte keys, not documents."""
    return (
        T.docs(spark, sf_dir)
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


@query(
    "dedup_exact_survivors",
    oracle=(
        "SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text"
    ),
)
def dedup_exact_survivors(spark, sf_dir):
    """The dropDuplicates view: one surviving doc_id per distinct text
    (deterministic survivor = min id, unlike dropDuplicates' arbitrary
    first-seen row)."""
    return (
        T.docs(spark, sf_dir)
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


# --- n-gram Jaccard near-dup ---------------------------------------------

#: doc-frequency cap: shingles shared by more docs than this are dropped
#: from candidate generation. Precision knob AND the quadratic guard —
#: pair occurrences grow as cap^2 per hot shingle (measured in the 10x
#: scale smoke, SCALE.md); dup-heavy corpora should run ~20.
_DF_CAP = 100

_JACCARD_PAIRS_SQL = (
    "sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id), "
    "df AS (SELECT shingle, COUNT(*) AS doc_freq FROM shingles GROUP BY shingle), "
    "kept AS (SELECT s.doc_id, s.shingle FROM shingles s JOIN df USING (shingle) "
    f"WHERE df.doc_freq <= {_DF_CAP}), "
    "common AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS c "
    "FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2), "
    "scored AS (SELECT doc1, doc2, "
    + rnd(
        "CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c)",
        4,
    )
    + " AS jaccard FROM common "
    "JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2)"
)


@query(
    "dedup_ngram_jaccard",
    oracle=(
        "WITH " + T.SHINGLES_CTE + ", " + _JACCARD_PAIRS_SQL + " "
        "SELECT doc1, doc2, jaccard FROM scored "
        "ORDER BY jaccard DESC, doc1, doc2 LIMIT 50"
    ),
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Top-50 most-similar document pairs by 3-gram Jaccard. Candidate
    generation is the shingle equi-join (never n^2); doc-frequency cap
    drops hot shingles before the join.

    Scale contract (measured, 4-point ledger to sf1-shape): candidate
    volume is sum_s min(df_s, cap)^2 — under a bounded/templated
    shingle vocabulary doc lists DENSIFY with corpus growth until the
    df cap saturates (measured shuffle exponent 1.711 on the
    sf0.1->sf1 decade), after which growth is linear in shingle
    groups. This lossless ALL-pairs top-k audit is therefore a
    gate/sample-scale tool; at 100 TB run the thresholded lossless
    twin dedup_prefix_filter_jaccard (J>=0.5, exponent 1.006 on the
    same four points) or the banded MinHash family, exactly as the
    band-tuning audit routes to its sampled twin."""
    # Candidate generation WITHOUT a self-join: one groupBy(shingle)
    # gathers the (sorted, distinct) doc list per shingle; pair expansion
    # is a narrow higher-order-function explode. vs. the classic
    # kept-join-kept plan this is ONE shuffle of the shingle rows instead
    # of two plus a join, and the doc-frequency skew cap (stopword
    # shingles would expand quadratically) becomes a free size() filter
    # on the gathered list instead of a separate counting join.
    # Shingle build is doc_shingle_ids: per-doc dedup, 60-bit hashing,
    # AND the per-doc size all inside the row — zero shuffles before
    # the pinned frame, every downstream exchange carries 8-byte keys
    # (the oracle uses raw strings, same counts). Because n_sh rides
    # along with each shingle row, the Jaccard denominators travel
    # THROUGH the pair expansion (two extra ints per pair) and the
    # classic sizes-join pair (two more shuffles / broadcast builds) is
    # gone: the plan is scan -> groupBy(sh) -> explode ->
    # groupBy(pair) -> TakeOrdered. Struct collect_set sorts by
    # doc_id (first field), so pairs stay doc1 < doc2.
    sh = T.doc_shingle_ids_shared(spark, sf_dir)
    pair_expr = (
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds)), "
        "y -> struct(x.doc_id AS doc1, x.n_sh AS n1, "
        "y.doc_id AS doc2, y.n_sh AS n2))))"
    )
    return (
        sh.groupBy("sh")
        .agg(
            F.expr(
                "sort_array(collect_set(struct(doc_id, n_sh)))"
            ).alias("ds")
        )
        .filter(F.expr(f"size(ds) BETWEEN 2 AND {_DF_CAP}"))
        # AQE coalesces the grouped-list stage to a handful of partitions
        # by BYTE size, but the explode below multiplies work ~size(ds)^2
        # per row — re-spread the (small) list frame so pair expansion
        # uses every core. The exchange moves only the grouped lists;
        # the win grows with dup density (the 10x smoke's 66 s is this).
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(
            F.col("p.doc1").alias("doc1"),
            F.col("p.n1").alias("n1"),
            F.col("p.doc2").alias("doc2"),
            F.col("p.n2").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "doc1",
            "doc2",
            F.expr(
                rnd("CAST(c AS DOUBLE) / (n1 + n2 - c)", 4)
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "doc1", "doc2")
        .limit(50)
    )


# --- MinHash + LSH --------------------------------------------------------

_K = 16  # hash functions
_BANDS = 4  # bands of 4 rows
_P = 1_000_003

# (a_j, b_j) fixed affine permutation params, j = 1..16
_HASH_PARAMS = [(2 * j + 1, j * j + 7) for j in range(1, _K + 1)]
_HASH_VALUES_SQL = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_HASH_PARAMS, 1))


#: shared oracle CTE chain: shingles -> minhash signatures -> LSH bands
#: -> candidate pairs -> exact common-shingle counts (used by both the
#: LSH dedup query and the signature-accuracy audit below)
#: shingles / sig / sizes are MATERIALIZED: DuckDB 1.0 INLINES plain
#: CTEs, so a consumer that references sig three times (the tuning
#: matrix) or shingles four times re-derives the whole chain per
#: reference — the round-9 sf1-shape budget analysis measured the
#: band-tuning truth set at 118 s run once vs 699 s inlined 4x. Every
#: _MH_CTE consumer references all three (checked before marking:
#: DuckDB EXECUTES even unreferenced materialized CTEs, so a hint on a
#: CTE some consumer doesn't use would ADD dead work). `bands` stays
#: plain: the tuning matrix builds its own band layouts and never
#: references it.
_MH_CTE = (
    "WITH " + T.SHINGLES_CTE.replace(
        "shingles AS (", "shingles AS MATERIALIZED (", 1
    ) + ", "
    f"params(j, a, b) AS (VALUES {_HASH_VALUES_SQL}), "
    "ids AS (SELECT doc_id, " + T.hashed_id_duck("shingle")
    + " AS sh_id FROM shingles), "
    "sig AS MATERIALIZED (SELECT doc_id, j, "
    "MIN((a * sh_id + b) % " + str(_P) + ") AS mh "
    "FROM ids CROSS JOIN params "
    "GROUP BY doc_id, j), "
    f"bands AS (SELECT doc_id, (j - 1) // {_K // _BANDS} AS band, "
    "string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS band_sig "
    "FROM sig GROUP BY doc_id, band), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 "
    "FROM bands a JOIN bands b ON a.band = b.band "
    "AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id), "
    "sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh "
    "FROM shingles GROUP BY doc_id), "
    "common AS (SELECT doc1, doc2, COUNT(*) AS c FROM cand "
    "JOIN shingles x ON x.doc_id = doc1 "
    "JOIN shingles y ON y.doc_id = doc2 AND x.shingle = y.shingle "
    "GROUP BY doc1, doc2)"
)

_MINHASH_ORACLE = (
    _MH_CTE + " "
    "SELECT doc1, doc2, "
    + rnd("CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c)", 4)
    + " AS jaccard FROM common "
    "JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2 "
    "WHERE CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c) >= 0.5e0"
)


def _minhash_docsig(spark, sf_dir, garr=None):
    """(doc_id, mh1..mh16, n_sh): all 16 minhashes computed IN-ROW from
    the pinned per-doc shingle-id arrays — ZERO shuffles (round 10; was
    one groupBy(doc_id) exchange of the whole exploded shingle frame).
    One interpreted transform computes the 16 affine hashes per array
    element (let-binding inline so it runs once, not once per output
    column — higher-order exprs have no codegen CSE); 16 array_min's
    reduce them. Same exact integer arithmetic, same values — verified
    row-identical to the old aggregate; measured ~2x faster at sf0.1
    AND removes the only population-sized exchange of the signature
    build (at 100 TB the aggregate's shuffle carried ~136 bytes/doc;
    now nothing moves). Docs with no shingles are filtered out (the old
    aggregate never produced a row for them). `garr` overrides the
    array frame for sampled/sliced runs."""
    if garr is None:
        garr = T.doc_gram_arrays_shared(spark, sf_dir)
    hs = ", ".join(
        f"({a} * x + {b}) % {_P} AS h{j}"
        for j, (a, b) in enumerate(_HASH_PARAMS, 1)
    )
    mins = ", ".join(
        f"array_min(hh.h{j}) AS mh{j}" for j in range(1, _K + 1)
    )
    wrapped = (
        f"transform(array(transform(shs, x -> struct({hs}))), "
        f"hh -> struct({mins}))"
    )
    return T.materialize(
        garr.filter(F.col("n_sh") > 0).select(
            "doc_id", F.inline(F.expr(wrapped)), "n_sh"
        )
    )


def _cand_arrays(spark, sf_dir, cand, garr=None):
    """(doc_id, n_sh, shs) for CANDIDATE docs only: a semi-join
    PROJECTION off the pinned per-doc array frame (round 10 — the
    arrays already exist in-row, so the old collect_list re-assembly
    groupBy and its shuffle are gone; the semi-join is the only
    operation and its id side is pair-derived and small, so AQE makes
    it a broadcast). Arrays still exist only for the candidate set
    (near-linear in dup density), never for the corpus — at 100 TB an
    everything-carries-its-array plan would be an O(corpus-shingles)
    shuffle of array payloads."""
    if garr is None:
        garr = T.doc_gram_arrays_shared(spark, sf_dir)
    ids = (
        cand.select(F.col("doc1").alias("doc_id"))
        .unionByName(cand.select(F.col("doc2").alias("doc_id")))
        .distinct()
    )
    return garr.join(ids, "doc_id", "left_semi").select(
        "doc_id", "n_sh", "shs"
    )


def _verified_pairs(spark, sf_dir, cand, garr=None):
    """(doc1, doc2, c, n1, n2): exact common-shingle count per candidate
    pair, computed from candidate-only arrays (one in-row
    array_intersect — the shingle frame itself is never re-joined at
    pair cardinality). Callers apply their own Jaccard threshold."""
    arr = T.materialize(_cand_arrays(spark, sf_dir, cand, garr=garr))
    d1 = arr.select(
        F.col("doc_id").alias("doc1"),
        F.col("n_sh").alias("n1"),
        F.col("shs").alias("shs1"),
    )
    d2 = arr.select(
        F.col("doc_id").alias("doc2"),
        F.col("n_sh").alias("n2"),
        F.col("shs").alias("shs2"),
    )
    return (
        cand.join(d1, "doc1")
        .join(d2, "doc2")
        .select(
            "doc1",
            "doc2",
            F.size(F.array_intersect("shs1", "shs2")).alias("c"),
            "n1",
            "n2",
        )
    )


def _lsh_candidates(docsig, n_bands: int = _BANDS):
    """LSH banding self-join over the signature frame: distinct
    (doc1 < doc2) pairs agreeing on at least one band. The O(n^2) pair
    space is never materialized — only the band-signature equi-join's
    matches. `n_bands` must divide _K; more bands = higher recall,
    more candidates (the S-curve knob the tuning matrix measures).

    Round-9 note: a grouped-list rewrite (collect_set per band
    signature + in-row pair explode, one exchange) was tried and
    REVERTED — the band frame reads from the already-materialized
    docsig, so the self-join plans as a cheap broadcast hash join with
    ONE distinct exchange, while the grouped-list spelling added two
    extra barriers (groupBy + re-spread) and measured 1.7-2.0x
    normalized on every consumer at sf0.1. The same pattern IS the win
    where the input is a population-sized un-pinned frame
    (dedup_ngram_jaccard's shingles), just not here."""
    rpb = _K // n_bands
    bands = docsig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh{k * rpb + r}").cast("string")
                                for r in range(1, rpb + 1)
                            ],
                        ).alias("band_sig"),
                    )
                    for k in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16) -> LSH(4 bands x 4): near-dup pairs with verified
    Jaccard >= 0.5. Candidates come from the band-signature equi-join —
    the O(n^2) pair space is never materialized. Affine hashes over
    content-hashed shingle ids are exact integers => oracle-portable.
    Shingles arrive as 60-bit ids from the zero-shuffle doc_shingle_ids
    builder; the signature aggregate ships ~136 fixed bytes per doc, and
    verification gathers shingle ARRAYS for the candidate doc_ids only
    (_cand_arrays semi-join) — no array payload ever rides a
    population-sized shuffle."""
    docsig = _minhash_docsig(spark, sf_dir)
    cand = T.materialize(_lsh_candidates(docsig))
    verified = _verified_pairs(spark, sf_dir, cand)
    jac = "CAST(c AS DOUBLE) / (n1 + n2 - c)"
    return (
        verified.filter(F.expr(f"{jac} >= 0.5e0"))
        .select("doc1", "doc2", F.expr(rnd(jac, 4)).alias("jaccard"))
    )


# --- MinHash signature accuracy audit -------------------------------------

_MH_EST_ORACLE = (
    _MH_CTE + ", "
    "m AS (SELECT doc1, doc2, "
    "COUNT(CASE WHEN x.mh = y.mh THEN 1 END) AS keq "
    "FROM cand JOIN sig x ON x.doc_id = doc1 "
    "JOIN sig y ON y.doc_id = doc2 AND y.j = x.j "
    "GROUP BY doc1, doc2) "
    "SELECT m.doc1, m.doc2, keq AS sig_matches, "
    + rnd(f"CAST(keq AS DOUBLE) / {_K}.0e0", 4)
    + " AS est_jaccard, "
    + rnd(
        "CAST(COALESCE(c, 0) AS DOUBLE) / "
        "(s1.n_sh + s2.n_sh - COALESCE(c, 0))",
        4,
    )
    + " AS exact_jaccard, "
    + rnd(
        f"ABS(CAST(keq AS DOUBLE) / {_K}.0e0 - "
        "CAST(COALESCE(c, 0) AS DOUBLE) / "
        "(s1.n_sh + s2.n_sh - COALESCE(c, 0)))",
        4,
    )
    + " AS abs_err "
    "FROM m LEFT JOIN common ON common.doc1 = m.doc1 "
    "AND common.doc2 = m.doc2 "
    "JOIN sizes s1 ON s1.doc_id = m.doc1 "
    "JOIN sizes s2 ON s2.doc_id = m.doc2"
)


@query("dedup_minhash_estimate_error", oracle=_MH_EST_ORACLE)
def dedup_minhash_estimate_error(spark, sf_dir):
    """MinHash self-audit: for every LSH candidate pair, the
    signature-ESTIMATED Jaccard (matching minhash components / 16)
    side-by-side with the EXACT shingle Jaccard and the absolute error —
    the index-quality check that tells you whether 16 hashes and a 0.5
    threshold are tuned right before a 100 TB dedup run commits to
    them (same self-evaluation pattern as embed_ivf_recall). Signatures
    ride the ONE docsig aggregate shared with dedup_minhash_lsh; exact
    intersections come from candidate-only arrays (_verified_pairs) —
    both per-pair comparisons are in-row array ops at candidate
    cardinality, never a population-array shuffle."""
    docsig = _minhash_docsig(spark, sf_dir)
    cand = T.materialize(_lsh_candidates(docsig))
    sig_arr = "array(" + ", ".join(f"mh{j}" for j in range(1, _K + 1)) + ")"
    d1 = docsig.selectExpr("doc_id AS doc1", f"{sig_arr} AS sig1")
    d2 = docsig.selectExpr("doc_id AS doc2", f"{sig_arr} AS sig2")
    est_pairs = (
        cand.join(d1, "doc1")
        .join(d2, "doc2")
        .select(
            "doc1",
            "doc2",
            F.expr(
                "CAST(size(filter(zip_with(sig1, sig2, (x, y) -> x = y), "
                "v -> v)) AS BIGINT)"
            ).alias("keq"),
        )
    )
    pair = est_pairs.join(
        _verified_pairs(spark, sf_dir, cand), ["doc1", "doc2"]
    )
    est = f"CAST(keq AS DOUBLE) / {_K}.0e0"
    exact = "CAST(c AS DOUBLE) / (n1 + n2 - c)"
    return pair.select(
        "doc1",
        "doc2",
        F.col("keq").alias("sig_matches"),
        F.expr(rnd(est, 4)).alias("est_jaccard"),
        F.expr(rnd(exact, 4)).alias("exact_jaccard"),
        F.expr(rnd(f"ABS({est} - {exact})", 4)).alias("abs_err"),
    )


# --- embedding-cosine near-dup -------------------------------------------

_NPLANES = 8
# deterministic sign-random-projection hyperplane component (shared with
# similarity.embed_lsh_buckets — exact rational, engine-portable)
_W_SQL = (
    "(CAST(((j * 73 + d * 37) * 2654435761) % 1000003 AS DOUBLE) "
    "/ 1000003.0e0 - 0.5e0)"
)

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0.0e0, (acc, v) -> acc + v)"
)


@query(
    "dedup_embedding_cosine",
    oracle=(
        "WITH z AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "generate_subscripts(embedding, 1) - 1 AS d FROM embeddings), "
        f"proj AS (SELECT vec_id, j, SUM(x * {_W_SQL}) AS dot "
        f"FROM z CROSS JOIN (SELECT unnest(range(0, {_NPLANES})) AS j) "
        "GROUP BY vec_id, j), "
        "bk AS (SELECT vec_id, SUM(CASE WHEN dot > 0.0e0 THEN (1 << j) "
        "ELSE 0 END) AS bucket FROM proj GROUP BY vec_id), "
        "pairs AS (SELECT a.vec_id AS vec1, b2.vec_id AS vec2 FROM bk a "
        "JOIN bk b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id), "
        "dd AS (SELECT p.vec1, p.vec2, SUM(xa.x * xb.x) AS dot, "
        "SUM(xa.x * xa.x) AS n1, SUM(xb.x * xb.x) AS n2 "
        "FROM pairs p JOIN z xa ON xa.vec_id = p.vec1 "
        "JOIN z xb ON xb.vec_id = p.vec2 AND xb.d = xa.d "
        "GROUP BY p.vec1, p.vec2) "
        "SELECT vec1, vec2, "
        + rnd("dot / (SQRT(n1) * SQRT(n2))", 6)
        + " AS cosine FROM dd ORDER BY cosine DESC, vec1, vec2 LIMIT 20"
    ),
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup: top-20 most-cosine-similar vector pairs among
    LSH candidates. Candidate generation is the sign-random-projection
    bucket equi-join (8 hyperplanes -> 8-bit bucket; cosine-close vectors
    land in the same bucket with high probability) — the O(n^2) pair
    space is never formed. Buckets are computed narrowly inside the row
    (similarity.sign_bucket_sql — no posexplode/crossJoin/aggregate
    build). Verification is the exact cosine over the two arrays,
    JVM-side via zip_with + aggregate. At 100 TB: multi-probe (flip one
    plane bit) for recall, band into several independent bucket sets
    exactly like MinHash bands."""
    from .. import tables
    from .similarity import emb_dim, flat_cols, flat_dot, sign_bucket_sql

    emb = tables.load(spark, sf_dir, "embeddings")
    # Round 9: the self-dot n2 is a per-VECTOR quantity — computing it
    # inside the materialized frame removes two of the three per-pair
    # HOF folds (the semdedup lesson applied here), and the remaining
    # cross dot rides the flat-column codegen path (similarity.flat_dot;
    # HOF fallback for unknown layouts). Same expressions, same fold
    # order — bit-identical cosines.
    dim = emb_dim(sf_dir)
    base = emb.select(
        "vec_id",
        "embedding",
        F.expr(sign_bucket_sql(_NPLANES)).alias("bucket"),
        F.expr(_DOT.format(a="embedding", b="embedding")).alias("n2"),
    )
    if dim:
        withb = T.materialize(
            base.select("vec_id", "bucket", "n2", *flat_cols(dim))
        )
        pair_dot = flat_dot("a", "b", dim)
    else:
        withb = T.materialize(base)
        pair_dot = _DOT.format(a="a.embedding", b="b.embedding")
    a = withb.alias("a")
    b = withb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec1"),
            F.col("b.vec_id").alias("vec2"),
            F.expr(pair_dot).alias("dot"),
            F.col("a.n2").alias("n1"),
            F.col("b.n2").alias("n2"),
        )
        .select(
            "vec1",
            "vec2",
            F.expr(rnd("dot / (SQRT(n1) * SQRT(n2))", 6)).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec1", "vec2")
        .limit(20)
    )


# --- thresholded sign-bucket embedding near-dup ---------------------------

#: emit threshold for the thresholded variant (micro-units; 0.40 sized
#: to the synthetic embeddings — production uses ~0.95 on real models)
_SB_T_U = 400_000

_SB_ORACLE = (
    "WITH z AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, "
    "generate_subscripts(embedding, 1) - 1 AS d FROM embeddings), "
    f"proj AS (SELECT vec_id, j, SUM(x * {_W_SQL}) AS dot "
    f"FROM z CROSS JOIN (SELECT unnest(range(0, {_NPLANES})) AS j) "
    "GROUP BY vec_id, j), "
    "bk AS (SELECT vec_id, SUM(CASE WHEN dot > 0.0e0 THEN (1 << j) "
    "ELSE 0 END) AS bucket FROM proj GROUP BY vec_id), "
    "pairs AS (SELECT a.vec_id AS vec1, b2.vec_id AS vec2 FROM bk a "
    "JOIN bk b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id), "
    "dd AS (SELECT p.vec1, p.vec2, SUM(xa.x * xb.x) AS dot, "
    "SUM(xa.x * xa.x) AS n1, SUM(xb.x * xb.x) AS n2 "
    "FROM pairs p JOIN z xa ON xa.vec_id = p.vec1 "
    "JOIN z xb ON xb.vec_id = p.vec2 AND xb.d = xa.d "
    "GROUP BY p.vec1, p.vec2) "
    "SELECT vec1, vec2, "
    "CAST(ROUND(dot / (SQRT(n1) * SQRT(n2)) * 1.0e6) AS BIGINT) AS cos_u "
    "FROM dd WHERE CAST(ROUND(dot / (SQRT(n1) * SQRT(n2)) * 1.0e6) "
    f"AS BIGINT) >= {_SB_T_U}"
)


@query("embed_signbucket_neardup", oracle=_SB_ORACLE)
def embed_signbucket_neardup(spark, sf_dir):
    """Thresholded sign-bucket embedding near-dup: ALL bucket-colliding
    pairs with snapped cosine >= 0.40 — the set-returning sibling of
    dedup_embedding_cosine's top-20 view, and the batch twin of the
    streaming embedding_dedup_stream (a drained replay must equal this
    set exactly). Per-vector norms computed once (the semdedup lesson);
    cosine snapped to integer micro-units so the threshold decision is
    engine-portable."""
    from .. import tables
    from .similarity import emb_dim, flat_cols, flat_dot, sign_bucket_sql

    emb = tables.load(spark, sf_dir, "embeddings")
    # Round 9: cross dot on the flat-column codegen path (see
    # similarity.flat_dot; HOF fallback for unknown layouts) — the
    # norm was already per-vector here.
    dim = emb_dim(sf_dir)
    base = emb.select(
        "vec_id",
        "embedding",
        F.expr(sign_bucket_sql(_NPLANES)).alias("bucket"),
        F.expr(
            "SQRT(" + _DOT.format(a="embedding", b="embedding") + ")"
        ).alias("nrm"),
    )
    if dim:
        withb = T.materialize(
            base.select("vec_id", "bucket", "nrm", *flat_cols(dim))
        )
        pair_dot = flat_dot("a", "b", dim)
    else:
        withb = T.materialize(base)
        pair_dot = _DOT.format(a="a.embedding", b="b.embedding")
    a, b = withb.alias("a"), withb.alias("b")
    cos_u = (
        "CAST(ROUND("
        + pair_dot
        + " / (a.nrm * b.nrm) * 1.0e6) AS BIGINT)"
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec1"),
            F.col("b.vec_id").alias("vec2"),
            F.expr(cos_u).alias("cos_u"),
        )
        .filter(F.col("cos_u") >= _SB_T_U)
    )


# --- SemDeDup-style semantic prune (cluster-then-pairwise) ----------------

#: keep/drop cosine threshold in micro-units (0.40 — sized to the
#: synthetic embeddings' similarity mass; production SemDeDup uses
#: ~0.95+ on real embeddings)
_SEMDEDUP_T_U = 400_000


def _semdedup_oracle() -> str:
    from .similarity import _KM_ASSIGN_CTE

    return (
        "WITH " + _KM_ASSIGN_CTE + ", "
        "m AS (SELECT a.vec_id, a.cluster, e.embedding "
        "FROM a JOIN embeddings e USING (vec_id)), "
        "p AS (SELECT x.vec_id AS v1, y.vec_id AS v2, x.cluster AS cl, "
        "x.embedding AS e1, y.embedding AS e2 "
        "FROM m x JOIN m y ON x.cluster = y.cluster "
        "AND x.vec_id < y.vec_id), "
        "zz AS (SELECT v1, v2, cl, CAST(unnest(e1) AS DOUBLE) AS x, "
        "CAST(unnest(e2) AS DOUBLE) AS y FROM p), "
        "c AS (SELECT v1, v2, cl, "
        "CAST(ROUND(SUM(x * y) / (SQRT(SUM(x * x)) * SQRT(SUM(y * y))) "
        "* 1.0e6) AS BIGINT) AS cos_u FROM zz GROUP BY v1, v2, cl), "
        "drp AS (SELECT DISTINCT v2 AS vec_id FROM c "
        f"WHERE cos_u >= {_SEMDEDUP_T_U}) "
        "SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members, "
        "CAST(COUNT(drp.vec_id) AS BIGINT) AS n_dropped, "
        + rnd(
            "CAST(COUNT(*) - COUNT(drp.vec_id) AS DOUBLE) / COUNT(*)", 4
        )
        + " AS keep_rate "
        "FROM m LEFT JOIN drp USING (vec_id) GROUP BY cluster"
    )


@query("embed_semdedup_prune", oracle=_semdedup_oracle())
def embed_semdedup_prune(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023's
    cluster-then-prune recipe): assign every embedding to its nearest
    of K centroids (the broadcast argmin shared with
    embed_kmeans_assign), compute pairwise cosine ONLY within each
    cluster, and drop any vector whose similarity to a smaller-id
    cluster-mate exceeds the threshold (keep-lowest-id policy, the same
    canonical election as the text dedup family). Output is the
    per-cluster keep/drop summary a curation run reports.

    Scale shape: clustering bounds the pair space at sum_k(n_k^2)
    instead of n^2 — at 100 TB you size K so the biggest cell's pairs
    fit the verification budget (SemDeDup uses K ~ sqrt(n) or larger;
    skewed cells get re-split by a second k-means level). Cosines are
    micro-snapped integers so the threshold decision is
    engine-portable."""
    from .. import tables
    from .similarity import _DOT, _kmeans_best, emb_dim, flat_cols, flat_dot

    emb = tables.load(spark, sf_dir, "embeddings")
    # per-vector norm computed ONCE here: the pair loop below would
    # otherwise re-fold ||a|| and ||b|| for every pair — with P pairs
    # that is 2P interpreted HOF folds instead of n (measured 8.8 s ->
    # 3.9 s at sf0.1's 251k within-cluster pairs). Round 9: the pair
    # dot itself moves to the flat-column codegen path (see
    # similarity.flat_dot — HOF folds are interpreted, ~7 us/pair;
    # measured 2.6x on this query's pair stage, cos_u bit-identical on
    # all 251k pairs), with the HOF formulation kept as the fallback
    # for unknown embedding layouts.
    dim = emb_dim(sf_dir)
    base = _kmeans_best(emb).select(
        "vec_id", F.col("best.seed_id").alias("cluster"), "embedding"
    ).withColumn(
        "nrm",
        F.expr(
            "SQRT(" + _DOT.format(a="embedding", b="embedding") + ")"
        ),
    )
    if dim:
        m = T.materialize(
            base.select("vec_id", "cluster", "nrm", *flat_cols(dim))
        )
        pair_dot = flat_dot("a", "b", dim)
    else:
        m = T.materialize(base)
        pair_dot = _DOT.format(a="a.embedding", b="b.embedding")
    a, b = m.alias("a"), m.alias("b")
    cos_u = (
        "CAST(ROUND("
        + pair_dot
        + " / (a.nrm * b.nrm) * 1.0e6) AS BIGINT)"
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(F.expr(f"{cos_u} >= {_SEMDEDUP_T_U}"))
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        m.join(dropped.withColumn("hit", F.lit(1)), "vec_id", "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("hit").alias("n_dropped"),
            F.expr(
                rnd(
                    "CAST(COUNT(*) - COUNT(hit) AS DOUBLE) / COUNT(*)", 4
                )
            ).alias("keep_rate"),
        )
    )


# --- SemDeDup pair-space cap: second-level k-means re-split ---------------

#: max members a cluster may hold before its pair space is re-split
_RESPLIT_CAP = 64
#: second-level seeds per oversized cluster (its S smallest vec_ids)
_RESPLIT_S = 4


def _resplit_oracle() -> str:
    from .similarity import _KM_ASSIGN_CTE

    pb = "CAST(sz.n * (sz.n - 1) / 2 AS BIGINT)"
    return (
        "WITH " + _KM_ASSIGN_CTE + ", "
        "sz AS (SELECT cluster, COUNT(*) AS n FROM a GROUP BY cluster), "
        "mem AS (SELECT a.vec_id, a.cluster, e.embedding "
        "FROM a JOIN embeddings e USING (vec_id)), "
        "s2 AS (SELECT cluster, vec_id AS seed2, embedding AS se2 FROM ("
        "SELECT m.vec_id, m.cluster, m.embedding, "
        "ROW_NUMBER() OVER (PARTITION BY m.cluster ORDER BY m.vec_id) "
        "AS rk FROM mem m JOIN sz USING (cluster) "
        f"WHERE sz.n > {_RESPLIT_CAP}) WHERE rk <= {_RESPLIT_S}), "
        "zz AS (SELECT m.vec_id, m.cluster, s2.seed2, "
        "CAST(unnest(m.embedding) AS DOUBLE) AS x, "
        "CAST(unnest(s2.se2) AS DOUBLE) AS y "
        "FROM mem m JOIN s2 ON s2.cluster = m.cluster), "
        "dd AS (SELECT vec_id, cluster, seed2, "
        "CAST(ROUND(SUM((x - y) * (x - y)) * 1.0e6) AS BIGINT) AS d_u "
        "FROM zz GROUP BY vec_id, cluster, seed2), "
        "asg2 AS (SELECT vec_id, cluster, seed2 AS sub FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id "
        "ORDER BY d_u, seed2) AS rk FROM dd) WHERE rk = 1), "
        "cells AS (SELECT cluster, sub, CAST(COUNT(*) AS BIGINT) AS c "
        "FROM asg2 GROUP BY cluster, sub), "
        "agg2 AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_cells, "
        "MAX(c) AS max_cell, "
        "CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS pairs_after "
        "FROM cells GROUP BY cluster) "
        f"SELECT sz.cluster, sz.n AS n_members, sz.n > {_RESPLIT_CAP} "
        "AS was_split, "
        "COALESCE(agg2.n_cells, 1) AS n_cells, "
        "COALESCE(agg2.max_cell, sz.n) AS max_cell, "
        f"{pb} AS pairs_before, "
        f"COALESCE(agg2.pairs_after, {pb}) AS pairs_after, "
        f"CASE WHEN sz.n < 2 THEN NULL ELSE "
        + rnd(
            f"1.0e0 - CAST(COALESCE(agg2.pairs_after, {pb}) AS DOUBLE)"
            f" / {pb}",
            4,
        )
        + " END AS pair_reduction "
        "FROM sz LEFT JOIN agg2 USING (cluster)"
    )


@query("embed_semdedup_resplit", oracle=_resplit_oracle())
def embed_semdedup_resplit(spark, sf_dir):
    """The SemDeDup scale guard embed_semdedup_prune's docstring
    promises: clusters whose membership exceeds the pair budget
    (> 64 members here) are RE-SPLIT by a second k-means level before
    any pairwise cosine runs, because verification cost is
    sum_k(n_k^2) and one skewed cell can dominate the whole job.
    Second-level seeds are the cluster's own S=4 smallest vec_ids
    (deterministic, no RNG); members re-assign to their nearest
    sub-seed by the same micro-snapped squared-L2 argmin as level one.
    Output is the audit you read before the expensive pass: per
    top-level cluster, the cell count, hottest cell, and the pair-space
    reduction the re-split bought.

    Scale shape: BOTH levels are broadcast argmins — level-2 seed
    vectors are S rows per oversized cluster, collected into one
    per-cluster array and broadcast, so the corpus never shuffles
    until the final K*S-key cell count. At 100 TB you recurse until
    max_cell <= cap; each level costs one narrow pass + one tiny
    aggregate. Cites SemDeDup (Abbas et al. 2023) and the re-split
    refinement sketched in embed_semdedup_prune."""
    from pyspark.sql import Window

    from .. import tables
    from .similarity import _L2U, _kmeans_best

    emb = tables.load(spark, sf_dir, "embeddings")
    asg = T.materialize(
        _kmeans_best(emb).select(
            "vec_id", F.col("best.seed_id").alias("cluster"), "embedding"
        )
    )
    sz = asg.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    split_members = asg.join(
        F.broadcast(sz.filter(F.col("n") > _RESPLIT_CAP).select("cluster")),
        "cluster",
    )
    w = Window.partitionBy("cluster").orderBy("vec_id")
    seeds2 = (
        split_members.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _RESPLIT_S)
        .select(
            "cluster",
            F.struct(
                F.col("vec_id").alias("seed2"),
                F.col("embedding").alias("se2"),
            ).alias("s"),
        )
        .groupBy("cluster")
        .agg(F.sort_array(F.collect_list("s")).alias("seeds2"))
    )
    cells = (
        split_members.join(F.broadcast(seeds2), "cluster")
        .select(
            "cluster",
            F.expr(
                "array_min(transform(seeds2, s -> struct("
                + _L2U.format(a="embedding", b="s.se2")
                + " AS d_u, s.seed2 AS seed2))).seed2"
            ).alias("sub"),
        )
        .groupBy("cluster", "sub")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg2 = cells.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.max("c").alias("max_cell"),
        F.sum(F.expr("c * (c - 1) div 2")).alias("pairs_after"),
    )
    pb = "CAST(n * (n - 1) div 2 AS BIGINT)"
    return (
        sz.join(agg2, "cluster", "left")
        .select(
            "cluster",
            F.col("n").alias("n_members"),
            (F.col("n") > _RESPLIT_CAP).alias("was_split"),
            F.coalesce("n_cells", F.lit(1).cast("long")).alias("n_cells"),
            F.coalesce("max_cell", "n").alias("max_cell"),
            F.expr(pb).alias("pairs_before"),
            F.coalesce("pairs_after", F.expr(pb)).alias("pairs_after"),
            F.expr(
                "CASE WHEN n < 2 THEN NULL ELSE "
                + rnd(
                    "1.0e0 - CAST(COALESCE(pairs_after, "
                    + pb
                    + ") AS DOUBLE) / "
                    + pb,
                    4,
                )
                + " END"
            ).alias("pair_reduction"),
        )
    )


# --- near-dup clusters (connected components) -----------------------------


@query(
    "dedup_clusters",
    oracle=(
        "WITH RECURSIVE pairs AS (SELECT doc1, doc2 FROM ("
        + _MINHASH_ORACLE
        + ")), "
        "nodes AS (SELECT DISTINCT doc FROM "
        "(SELECT doc1 AS doc FROM pairs UNION SELECT doc2 FROM pairs)), "
        "edges AS (SELECT doc1 AS a, doc2 AS b FROM pairs "
        "UNION SELECT doc2, doc1 FROM pairs), "
        "reach(doc, r) AS ("
        "SELECT doc, doc FROM nodes "
        "UNION "
        "SELECT e.b, reach.r FROM edges e JOIN reach ON reach.doc = e.a) "
        "SELECT doc AS doc_id, MIN(r) AS canonical_doc FROM reach "
        "GROUP BY doc"
    ),
)
def dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the MinHash pair
    graph, each doc labeled with the min doc_id of its component (the
    canonical survivor). Iterative label propagation — each round is one
    distributed join+agg, the driver only checks a 1-row convergence
    count (no data collects). Rounds needed = graph diameter <= O(log n)
    for near-dup clusters in practice; the oracle computes the same
    fixpoint with a recursive CTE. This is the standard Spark shape for
    iterative algorithms (PageRank/CC) without graph libraries."""
    pairs = T.materialize(
        dedup_minhash_lsh(spark, sf_dir).select("doc1", "doc2")
    )
    return _cc_labels(pairs).select(
        F.col("doc").alias("doc_id"), F.col("label").alias("canonical_doc")
    )


def _cc_labels(pairs):
    """Connected-components core over a materialized (doc1, doc2) pair
    frame: (doc, label) with label = min doc_id of the component. Shared
    by dedup_clusters and the cluster-aware split (corpus_cluster_split
    in curation.py), so callers that already hold the pair frame don't
    recompute the MinHash chain twice."""
    # edges is re-referenced by EVERY propagation round: cut its lineage
    # so each round's plan embeds a leaf, not the whole MinHash subtree
    # (persist alone keeps execution cached but re-analyzes the full
    # logical subtree per round — measured ~1s extra over 20 rounds)
    edges = T.materialize(
        pairs.union(
            pairs.select(
                F.col("doc2").alias("doc1"), F.col("doc1").alias("doc2")
            )
        ),
        cut_lineage=True,
    )
    labels = (
        edges.select(F.col("doc1").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc"))
    )
    # NOTE on pointer jumping: tried (label <- label's label per round,
    # squaring propagation distance) and REVERTED — verified near-dup
    # components are near-cliques (diameter 1-2), so min-label
    # propagation already converges in ~2 rounds and the extra join +
    # pinned frame per round cost more than they saved (measured 2.9 s
    # -> 5.4 s at sf0.1). Worth re-adding only for long-chain graphs.
    for _ in range(20):  # hard cap; near-dup components are shallow
        # min label among self and neighbors
        neighbor_min = (
            edges.join(labels, edges.doc2 == labels.doc)
            .groupBy(F.col("doc1").alias("doc"))
            .agg(F.min("label").alias("nlabel"))
        )
        # chg rides the SAME materialized frame (round 9): the eager
        # checkpoint already holds every row, so the convergence count
        # is a filter over checkpointed blocks instead of the old
        # new-vs-old self-join — one join + one shuffle less per round,
        # same fixpoint (chg true iff a neighbor's label improved).
        new_labels = T.materialize(
            labels.join(neighbor_min, "doc", "left").select(
                "doc",
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
                (
                    F.col("nlabel").isNotNull()
                    & (F.col("nlabel") < F.col("label"))
                ).alias("chg"),
            ),
            cut_lineage=True,  # loop state: plan must not grow per round
        )
        changed = new_labels.filter("chg").count()
        labels = new_labels.select("doc", "label")
        if changed == 0:
            break
    return labels


# --- SimHash --------------------------------------------------------------

_SIMHASH_BITS = 16

#: token-id -> simhash feature hash (prime range so every one of the 16
#: sampled bits is unbiased). Full-entropy id_mix — tok_id is a 60-bit
#: content hash, so the old mod-2^20 reduction threw away 40 bits and
#: made ids congruent mod 2^20 collide systematically.
_TOK_H = f"({id_mix('tok_id')} % 1048573)"


@query(
    "dedup_simhash",
    oracle=(
        "WITH " + T.TOKS_CTE + ", " + T.DICT_CTE + ", "
        f"bits(bit) AS (SELECT unnest(range(0, {_SIMHASH_BITS}))), "
        f"tokhash AS (SELECT doc_id, {_TOK_H} AS h "
        "FROM toks JOIN dict USING (tok)), "
        "bitsum AS (SELECT doc_id, bit, "
        "SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s "
        "FROM tokhash CROSS JOIN bits GROUP BY doc_id, bit), "
        # sim is self-joined (2 refs) and DuckDB inlines plain CTEs:
        # unmarked, the whole toks->dict->tokhash->bitsum chain runs
        # TWICE — the bulk of the oracle's 2036s sf1-shape wall
        "sim AS MATERIALIZED (SELECT doc_id, "
        "SUM(CASE WHEN s > 0 THEN (1 << bit) "
        "ELSE 0 END) AS simhash FROM bitsum GROUP BY doc_id) "
        "SELECT a.doc_id AS doc1, b.doc_id AS doc2, "
        "bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamming "
        "FROM sim a JOIN sim b ON a.doc_id < b.doc_id "
        "WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 3"
    ),
)
def dedup_simhash(spark, sf_dir):
    """16-bit SimHash near-dup pairs (Hamming <= 3), found via 4-bit
    BLOCK BANDING, not a brute pair join: a pair at distance <= 3
    differs in at most 3 of the 4 signature blocks, so (pigeonhole) it
    shares at least one block — candidates are an equi-join on
    (block#, block value), exactly the LSH trick, with the exact
    Hamming check as the verifier. Output is provably identical to the
    all-pairs join the oracle runs. Signature build is ONE hash
    aggregate carrying all 16 bit-sums (conditional +/-1 columns; the
    16x bit crossJoin of the textbook build never happens). At 100 TB:
    widen to a 64-bit signature with 4x16-bit blocks so each band has
    65k buckets (4-bit blocks only split 16 ways — fine here, too
    coarse there); the plan shape is unchanged."""
    toks = T.tokens(spark, sf_dir)
    d = T.token_dict(spark, sf_dir, toks=toks)
    tokhash = toks.join(F.broadcast(d), "tok").select(
        "doc_id",
        F.expr(_TOK_H).alias("h"),
    )
    bitsums = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1 = 1"), 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(_SIMHASH_BITS)
    ]
    simhash_expr = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash_expr = term if simhash_expr is None else simhash_expr + term
    sim = T.materialize(
        tokhash.groupBy("doc_id")
        .agg(*bitsums)
        .select("doc_id", simhash_expr.alias("simhash"))
    )
    blocks = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("blk"),
                        F.expr(f"(simhash >> {4 * k}) & 15").alias("bv"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("kb"),
    ).select("doc_id", "simhash", F.col("kb.blk").alias("blk"), F.col("kb.bv").alias("bv"))
    a = blocks.alias("a")
    b = blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# --- edit-distance (Levenshtein) near-dup --------------------------------

_LEV_ORACLE = """
WITH b AS (
  SELECT doc_id, lang, n_chars,
         substr(text, 1, 16) AS blk,
         substr(text, 1, 120) AS head
  FROM documents
)
SELECT a.doc_id AS doc1, c.doc_id AS doc2, a.lang,
       levenshtein(a.head, c.head) AS edit_distance
FROM b a JOIN b c
  ON a.lang = c.lang AND a.blk = c.blk AND a.doc_id < c.doc_id
WHERE abs(a.n_chars - c.n_chars) <= 15
  AND levenshtein(a.head, c.head) <= 15
"""


@query("dedup_edit_distance", oracle=_LEV_ORACLE)
def dedup_edit_distance(spark, sf_dir):
    """Prefix-blocked Levenshtein near-dup pairs: candidates must share
    (lang, first-16-chars) — an equi-join, never an all-pairs product —
    and pass a |length delta| <= 15 cheap guard before the O(len^2) DP
    runs on the 120-char heads. Spark's 3-arg levenshtein threshold
    short-circuits the DP row as soon as the band exceeds 15, so the
    worst-case cost per surviving pair is O(len * threshold). At 100 TB
    the blocking key graduates to (simhash band, length band) — same
    equi-join shape, same per-pair cost; edit distance itself is exact
    integer arithmetic, so the oracle matches bit-for-bit."""
    b = (
        T.docs(spark, sf_dir)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.expr("substr(text, 1, 16)").alias("blk"),
            F.expr("substr(text, 1, 120)").alias("head"),
        )
    )
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(
            c,
            (F.col("a.lang") == F.col("c.lang"))
            & (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .filter(F.expr("abs(a.n_chars - c.n_chars) <= 15"))
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("c.doc_id").alias("doc2"),
            F.col("a.lang").alias("lang"),
            F.expr("levenshtein(a.head, c.head, 15)").alias(
                "edit_distance"
            ),
        )
        .filter(F.col("edit_distance").between(0, 15))
    )


# --- chunk-level (line-level) dedup --------------------------------------

_CHUNK_W = 10  # tokens per non-overlapping chunk

_CHUNK_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
ch AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST((len(ts) + {_CHUNK_W} - 1)
           // {_CHUNK_W} AS INT)),
           i -> array_to_string(
             ts[i * {_CHUNK_W} + 1 : i * {_CHUNK_W} + {_CHUNK_W}], ' ')))
           AS chunk
  FROM d
),
cf AS (SELECT chunk, COUNT(*) AS c FROM ch GROUP BY chunk)
SELECT doc_id, COUNT(*) AS n_chunks,
       SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS n_dup_chunks,
       {rnd('CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)', 4)}
         AS dup_fraction
FROM ch JOIN cf USING (chunk)
GROUP BY doc_id
HAVING SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) > 0
"""


@query("dedup_chunk_level", oracle=_CHUNK_ORACLE)
def dedup_chunk_level(spark, sf_dir):
    """Chunk-level (a.k.a. line-level) dedup signal: split every doc
    into non-overlapping 10-token chunks, count corpus-wide chunk
    frequencies, and report each doc's duplicated-chunk fraction — the
    RefinedWeb/C4 step that removes boilerplate WITHIN otherwise-unique
    pages, which document-level dedup (exact/MinHash) cannot see.
    Chunking is a narrow in-row transform; the chunk-frequency
    aggregate and the chunk equi-join are the only shuffles (at 100 TB
    both ride a 64-bit chunk hash, and the frequency side is
    map-combined before the exchange). A doc's fraction >= ~0.5 is the
    usual removal threshold; emitting the fraction, not a verdict,
    keeps the policy in the pipeline layer."""
    d = T.docs(spark, sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("ts")
    )
    ch = T.materialize(
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, CAST((size(ts) + {_CHUNK_W} - 1)"
                    f" div {_CHUNK_W} AS INT) - 1), "
                    f"i -> array_join(slice(ts, i * {_CHUNK_W} + 1, "
                    f"{_CHUNK_W}), ' '))"
                )
            ).alias("chunk"),
        )
    )
    cf = ch.groupBy("chunk").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        ch.join(cf, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("c") > 1).cast("bigint")).alias("n_dup_chunks"),
        )
        .filter(F.col("n_dup_chunks") > 0)
    )
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "n_dup_chunks",
        F.expr(
            rnd("CAST(n_dup_chunks AS DOUBLE) / COUNT(*)", 4).replace(
                "COUNT(*)", "n_chunks"
            )
        ).alias("dup_fraction"),
    )


# --- near-dup composition: where do duplicates come from? ------------------


@query(
    "dedup_rate_by_source",
    oracle=(
        "WITH nd AS (" + _MINHASH_ORACLE + "), "
        "lab AS (SELECT "
        "CASE WHEN d1.source <= d2.source THEN d1.source ELSE d2.source "
        "END AS source_a, "
        "CASE WHEN d1.source <= d2.source THEN d2.source ELSE d1.source "
        "END AS source_b "
        "FROM nd JOIN documents d1 ON nd.doc1 = d1.doc_id "
        "JOIN documents d2 ON nd.doc2 = d2.doc_id), "
        "tot AS (SELECT COUNT(*) AS t FROM lab) "
        "SELECT source_a, source_b, COUNT(*) AS n_pairs, "
        + rnd("CAST(COUNT(*) AS DOUBLE) / t", 6)
        + " AS share FROM lab CROSS JOIN tot "
        "GROUP BY source_a, source_b, t"
    ),
)
def dedup_rate_by_source(spark, sf_dir):
    """Near-dup provenance: MinHash pairs attributed to their (source,
    source) combination — the curation diagnostic that tells you WHICH
    crawls/dumps duplicate each other (within-source share says
    re-crawl; cross-source share says mirror sites / syndication).

    Composition of the verified MinHash block: pairs (sparse by
    construction) join the (doc_id, source) projection twice — at
    100 TB that projection is two 8-byte-ish columns off a columnar
    scan, and the pair side is orders of magnitude smaller than the
    corpus, so both joins broadcast the pair side or hash tiny frames.
    The unordered source pair is canonicalized (a <= b) identically in
    both engines; shares are exact-count ratios snapped at 1e-6."""
    nd = dedup_minhash_lsh(spark, sf_dir)
    src = T.docs(spark, sf_dir).select("doc_id", "source")
    lab = (
        nd.join(
            src.selectExpr("doc_id AS doc1", "source AS s1"), "doc1"
        )
        .join(src.selectExpr("doc_id AS doc2", "source AS s2"), "doc2")
        .selectExpr(
            "CASE WHEN s1 <= s2 THEN s1 ELSE s2 END AS source_a",
            "CASE WHEN s1 <= s2 THEN s2 ELSE s1 END AS source_b",
        )
    )
    tot = lab.agg(F.count(F.lit(1)).alias("t"))
    return (
        lab.join(F.broadcast(tot))
        .groupBy("source_a", "source_b", "t")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.expr(rnd("CAST(n_pairs AS DOUBLE) / t", 6)).alias("share"),
        )
    )


# --- prefix-filtering exact similarity join (PPJoin-style) ----------------

_PF_T = 0.5  # Jaccard threshold

_PF_ORACLE = (
    "WITH " + T.SHINGLES_CTE + ", "
    "sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles "
    "GROUP BY doc_id), "
    "common AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS c "
    "FROM shingles a JOIN shingles b ON a.shingle = b.shingle "
    "AND a.doc_id < b.doc_id GROUP BY 1, 2) "
    "SELECT doc1, doc2, "
    + rnd("CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c)", 4)
    + " AS jaccard FROM common "
    "JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2 "
    f"WHERE CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c) >= {_PF_T}e0"
)


def _prefix_filter_verified(spark, sf_dir, garr):
    """PPJoin core over an arbitrary (doc_id, n_sh, shs) ARRAY frame
    (rows derived by a narrow explode): (doc1, doc2, c, n1, n2) for
    every pair surviving the lossless prefix filter + size-ratio guard,
    exact-verified from candidate-only arrays.

    Prefix order is ASCENDING DOCUMENT FREQUENCY (ties by shingle id) —
    the PPJoin-optimal order: each doc's prefix holds its RAREST
    shingles, so hot shingles almost never appear in any prefix and the
    candidate join's output collapses (round 2 used hash order and
    documented this as the scale gap; measured candidate pairs, same
    final output: sf0.01 4504 -> 758 (5.9x), sf0.1 429k -> 310k — the
    floor is the true-pair count, so the cut grows as corpora get
    cleaner; the filter stays lossless either way because a J >= t pair
    must share a token in ANY fixed global order's prefix). df rank is
    deterministic, so the output is oracle-stable. The prefix itself is a window rank (row_number <=
    prefix length) — no doc ever materializes its full array just to be
    sliced; arrays exist only for candidate doc_ids (_verified_pairs).

    Cost shape at 100 TB: document frequency comes from a COUNT window
    over sh — ONE shuffle of the shingle frame, where the groupBy+join
    formulation shuffles it twice (once into the agg, once into the
    join; the vocabulary side rarely fits a broadcast at corpus scale).
    Then one window over doc_id, and the prefix equi-join at prefix
    cardinality. Hot-shingle skew hits the sh window's single-key task
    exactly as it would the join's shuffle side, so the collapse is
    free. Measured at sf0.1: 2.65s -> 1.48s for the materialized
    prefix frame, identical rows."""
    from pyspark.sql import Window

    sh = garr.select("doc_id", "n_sh", F.explode("shs").alias("sh"))
    ranked = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
    )
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    plen = "CAST(n_sh - ((n_sh + 1) div 2) + 1 AS INT)"
    # pinned: the candidate self-join consumes pfx on BOTH sides — the
    # df aggregate + join + window chain must compute once, not twice
    pfx = T.materialize(
        ranked.withColumn("rk", F.row_number().over(w))
        .filter(F.expr(f"rk <= {plen}"))
        .select(
            "doc_id", F.col("n_sh").alias("n"), F.col("sh").alias("psh"),
            "rk",
        )
    )
    a = pfx.alias("a")
    b = pfx.alias("b")
    # POSITIONAL filter — ppjoin's in-prefix overlap counting, lossless:
    # J >= 0.5 needs common count c >= ceil((n1+n2)/3). Aggregate the
    # prefix matches per pair: o = in-prefix overlap, (pa, pb) = ranks
    # of the LAST match (consistent across both docs — positions within
    # each doc follow the same global order, so the max is one match).
    # Any common token ranked after that match sits past pa in doc1 AND
    # past pb in doc2, and any common token ranked before it is inside
    # both prefixes (rank < pa <= plen1, rank < pb <= plen2) and hence
    # already counted in o — so c <= o + min(n1-pa, n2-pb), and pairs
    # failing o + min(n1-pa, n2-pb) >= ceil((n1+n2)/3) cannot qualify.
    # Same shuffle as the plain distinct (one hash-agg on the pair key),
    # strictly tighter for multi-match pairs, identical for single-match
    # ones. Measured candidate pairs: per-match filter sf0.01 758 -> 26
    # (25 true), sf0.1 310k -> 125024 (256 true); this aggregate filter
    # cuts the sf0.1 residue further to 119899 — the floor is rank-1
    # rare-shingle collisions, where both filters coincide.
    cand = (
        a.join(
            b,
            (F.col("a.psh") == F.col("b.psh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (2 * F.col("a.n") >= F.col("b.n"))
            & (2 * F.col("b.n") >= F.col("a.n")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("a.n").alias("n1"),
            F.col("b.n").alias("n2"),
            F.col("a.rk").alias("ra"),
            F.col("b.rk").alias("rb"),
        )
        .groupBy("doc1", "doc2", "n1", "n2")
        .agg(
            F.count(F.lit(1)).alias("o"),
            F.max("ra").alias("pa"),
            F.max("rb").alias("pb"),
        )
        .filter(F.expr("3 * (o + least(n1 - pa, n2 - pb)) >= n1 + n2"))
        .select("doc1", "doc2")
    )
    return _verified_pairs(spark, sf_dir, T.materialize(cand), garr=garr)


@query("dedup_prefix_filter_jaccard", oracle=_PF_ORACLE)
def dedup_prefix_filter_jaccard(spark, sf_dir):
    """Exact similarity join by PREFIX FILTERING (PPJoin family): ALL
    pairs with 3-gram Jaccard >= 0.5, found without MinHash and without
    the full shingle equi-join. Each doc's shingles sort into one global
    canonical order (ascending document frequency — see
    _prefix_filter_verified); a pair with J >= t MUST share a token
    within the first n - ceil(t*n) + 1 tokens of each side (the
    prefix), so only prefixes enter the candidate join — with a
    size-ratio guard (t <= n1/n2 <= 1/t is implied by J >= t) pruning
    cross-size pairs before verification. Unlike MinHash banding this
    blocking is LOSSLESS: the oracle enumerates every qualifying pair
    over the raw shingle join and must match exactly."""
    ver = _prefix_filter_verified(
        spark, sf_dir, T.doc_gram_arrays_shared(spark, sf_dir)
    )
    jac = "CAST(c AS DOUBLE) / (n1 + n2 - c)"
    return ver.filter(F.expr(f"{jac} >= {_PF_T}e0")).select(
        "doc1", "doc2", F.expr(rnd(jac, 4)).alias("jaccard")
    )


# --- LSH band-configuration tuning matrix ---------------------------------

_TUNE_CONFIGS = [(2, 8), (4, 4), (8, 2)]  # (bands, rows_per_band), b*r = 16


def _tune_oracle() -> str:
    # Shared truth set: ALL pairs with exact J >= 0.5. It must NOT
    # reuse _MH_CTE's `common` — that CTE counts shared shingles over
    # the BANDED CANDIDATES only, so the "truth" would silently inherit
    # the banding's recall loss. The driver fixture hid this (4x4
    # banding recall happened to be 100% there); the skewed fixture
    # fuzz exposed it (perturbed near-dup copies hovering at J ~ 0.5
    # that no band catches: oracle truth 1453 vs the real 1888).
    # Enumeration cost (round 9): the sweep's sf1-shape budget miss was
    # NOT the all-pairs join itself — it was DuckDB INLINING the plain
    # `tru` CTE into its four references (tot + the three config rows),
    # re-deriving the whole truth chain per reference (measured: 118 s
    # run once at full threads vs 699 s in the sweep). `tru` is now
    # MATERIALIZED (with shingles/sig/sizes materialized inside
    # _MH_CTE), keeping the truth enumeration maximally naive — a
    # PPJoin-prefix rewrite was tried, verified row-identical, and
    # REVERTED: the oracle should not mirror the Spark side's blocking
    # when a hint fixes the real problem.
    parts = [
        _MH_CTE + ", "
        "ap AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, "
        "COUNT(*) AS c FROM shingles a "
        "JOIN shingles b ON a.shingle = b.shingle "
        "AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "tru AS MATERIALIZED (SELECT doc1, doc2 FROM ap "
        "JOIN sizes s1 ON s1.doc_id = doc1 "
        "JOIN sizes s2 ON s2.doc_id = doc2 "
        f"WHERE CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c) >= {_PF_T}e0), "
        "tot AS (SELECT COUNT(*) AS n_true_total FROM tru)"
    ]
    rows = []
    for b, r in _TUNE_CONFIGS:
        parts.append(
            f", bands{b} AS MATERIALIZED (SELECT doc_id, "
            f"(j - 1) // {r} AS band, "
            "string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS bs "
            "FROM sig GROUP BY doc_id, band), "
            f"cand{b} AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 "
            f"FROM bands{b} a JOIN bands{b} b ON a.band = b.band "
            "AND a.bs = b.bs AND a.doc_id < b.doc_id), "
            f"m{b} AS (SELECT COUNT(*) AS n_candidates, "
            "COUNT(t.doc1) AS n_true_candidates "
            f"FROM cand{b} LEFT JOIN tru t ON t.doc1 = d1 AND t.doc2 = d2)"
        )
        rows.append(
            f"SELECT {b} AS n_bands, {r} AS rows_per_band, "
            "n_candidates, n_true_candidates, n_true_total, "
            "CASE WHEN n_candidates = 0 THEN NULL ELSE "
            + rnd("CAST(n_true_candidates AS DOUBLE) / n_candidates", 4)
            + " END AS precision_at_t, "
            "CASE WHEN n_true_total = 0 THEN NULL ELSE "
            + rnd("CAST(n_true_candidates AS DOUBLE) / n_true_total", 4)
            + f" END AS recall_at_t FROM m{b} CROSS JOIN tot"
        )
    return "".join(parts) + " " + " UNION ALL ".join(rows)


def _band_tuning_matrix(spark, sf_dir, garr):
    """Tuning-matrix core over an arbitrary per-doc gram-array frame:
    signatures from ONE narrow docsig projection; lossless truth set
    computed once and probed by all three configs.

    Round 9: the three per-config chains (band explode -> band-sig
    self-join -> distinct -> truth join -> aggregate, unioned) are
    fused into ONE pass — every layout's band rows come out of a
    single config-tagged explode off the materialized docsig, ONE
    self-join on (config, band, band_sig) yields all three layouts'
    candidates together (the join stays the broadcast-hash shape that
    beat a grouped-list spelling — see _lsh_candidates' revert note),
    one distinct on (config, pair), one left join against the truth
    set, one 3-group aggregate. Output identical (configs with zero
    candidates keep their row via the literal config frame left
    join)."""
    docsig = _minhash_docsig(spark, sf_dir, garr=garr)
    jac = "CAST(c AS DOUBLE) / (n1 + n2 - c)"
    tru = T.materialize(
        _prefix_filter_verified(spark, sf_dir, garr)
        .filter(F.expr(f"{jac} >= {_PF_T}e0"))
        .select("doc1", "doc2")
    )
    tot = tru.agg(F.count(F.lit(1)).alias("n_true_total"))
    layouts = []
    for b, _r in _TUNE_CONFIGS:
        rpb = _K // b
        for k in range(b):
            layouts.append(
                F.struct(
                    F.lit(b).alias("cfg"),
                    F.lit(k).alias("band"),
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{k * rpb + r}").cast("string")
                            for r in range(1, rpb + 1)
                        ],
                    ).alias("band_sig"),
                )
            )
    bands = docsig.select(
        "doc_id", F.explode(F.array(*layouts)).alias("bs")
    ).select(
        F.col("bs.cfg").alias("cfg"),
        F.col("bs.band").alias("band"),
        F.col("bs.band_sig").alias("band_sig"),
        "doc_id",
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.cfg") == F.col("b.cfg"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.cfg").alias("cfg"),
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
        )
        .distinct()
    )
    counts = (
        cand.join(
            tru.withColumn("hit", F.lit(1)), ["doc1", "doc2"], "left"
        )
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.count("hit").alias("n_true_candidates"),
        )
    )
    cfgs = spark.createDataFrame(
        [(b, r) for b, r in _TUNE_CONFIGS],
        "n_bands INT, rows_per_band INT",
    )
    rows = cfgs.join(
        F.broadcast(counts), cfgs.n_bands == counts.cfg, "left"
    ).select(
        "n_bands",
        "rows_per_band",
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        F.coalesce("n_true_candidates", F.lit(0)).alias(
            "n_true_candidates"
        ),
    )
    return rows.join(F.broadcast(tot)).select(
        "n_bands",
        "rows_per_band",
        "n_candidates",
        "n_true_candidates",
        "n_true_total",
        F.expr(
            "CASE WHEN n_candidates = 0 THEN NULL ELSE "
            + rnd("CAST(n_true_candidates AS DOUBLE) / n_candidates", 4)
            + " END"
        ).alias("precision_at_t"),
        F.expr(
            "CASE WHEN n_true_total = 0 THEN NULL ELSE "
            + rnd("CAST(n_true_candidates AS DOUBLE) / n_true_total", 4)
            + " END"
        ).alias("recall_at_t"),
    )


@query("dedup_minhash_band_tuning", oracle=_tune_oracle())
def dedup_minhash_band_tuning(spark, sf_dir):
    """LSH S-curve tuning matrix, measured: for three band layouts of
    the same 16 minhashes (2x8 strict, 4x4 balanced, 8x2 loose) —
    candidate-pair volume, how many candidates are TRUE near-dups
    (exact J >= 0.5 per the lossless prefix-filter enumeration), and
    the resulting precision/recall. This is the number you tune BEFORE
    a 100 TB dedup run: more bands = higher recall but more candidate
    verification cost; the matrix quantifies the trade on the actual
    corpus instead of the theoretical 1-(1-s^r)^b curve. The truth set
    is inherently multi-pass (a lossless enumeration); at 100 TB this
    FULL-corpus audit is not what you run — use
    dedup_band_tuning_sampled, the same matrix on a deterministic
    content-hash sample, and size the sample to the candidate budget."""
    return _band_tuning_matrix(
        spark, sf_dir, T.doc_gram_arrays_shared(spark, sf_dir)
    )


#: content-hash sample modulus for the sampled tuning audit (~1/4 kept)
_SAMPLE_MOD = 4


def _sampled_tune_oracle() -> str:
    pred = T.hashed_id_duck("text") + f" % {_SAMPLE_MOD} = 0"
    return _tune_oracle().replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE {pred}) documents",
    )


@query("dedup_band_tuning_sampled", oracle=_sampled_tune_oracle())
def dedup_band_tuning_sampled(spark, sf_dir):
    """The band-tuning matrix on a DETERMINISTIC CONTENT-HASH SAMPLE of
    the corpus (md5(text) % 4 == 0, ~25%): the audit you can actually
    afford before a 100 TB dedup run. Content-hash sampling (not
    doc_id, not Bernoulli) keeps the sample stable across re-ingests
    and reproducible in any engine — the oracle applies the identical
    predicate. S-curve shape (precision/recall per layout) is what
    transfers from sample to corpus; absolute candidate counts scale
    ~quadratically in sample rate for the dup-cluster part, so budget
    from the matrix accordingly. The sample predicate is applied at the
    SCAN (pushed filter on the documents source) — the 75% of the
    corpus outside the sample is never shingled."""
    smp = T.docs(spark, sf_dir).filter(
        F.expr(T.hashed_id_spark("text") + f" % {_SAMPLE_MOD} = 0")
    )
    garr = T.materialize(T.doc_gram_arrays(spark, sf_dir, frame=smp))
    return _band_tuning_matrix(spark, sf_dir, garr)


# --- near-dup graph degree profile ----------------------------------------

_DEG_ORACLE = (
    _MH_CTE + ", "
    "pairs AS (SELECT doc1, doc2 FROM common "
    "JOIN sizes s1 ON s1.doc_id = doc1 "
    "JOIN sizes s2 ON s2.doc_id = doc2 "
    "WHERE CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c) >= 0.5e0), "
    "deg AS (SELECT doc_id, COUNT(*) AS degree FROM ("
    "SELECT doc1 AS doc_id FROM pairs "
    "UNION ALL SELECT doc2 FROM pairs) GROUP BY doc_id), "
    "tot AS (SELECT COUNT(*) AS n_docs FROM documents) "
    "SELECT degree, COUNT(*) AS n_docs_at_degree, "
    "(SELECT n_docs FROM tot) - (SELECT COUNT(*) FROM deg) "
    "AS n_clean_docs, "
    "(SELECT MAX(degree) FROM deg) AS max_degree "
    "FROM deg GROUP BY degree"
)


@query("dedup_graph_degree_profile", oracle=_DEG_ORACLE)
def dedup_graph_degree_profile(spark, sf_dir):
    """Near-dup graph health profile: the degree distribution of the
    verified MinHash near-dup graph (how many docs have 1, 2, ...
    near-duplicates), plus the clean-document count and the hottest
    node's degree. Degree tells you the dedup strategy: a max_degree
    near corpus size means a template/boilerplate cluster (use
    dedup_chunk_level, not pair removal); heavy tails here are what
    blow up pair-verification cost (the SCALE.md cap^2 argument,
    measured per-corpus). Rides the verified pair set from the shared
    docsig machinery; degrees are one union + hash-agg at pair
    cardinality."""
    docsig = _minhash_docsig(spark, sf_dir)
    cand = T.materialize(_lsh_candidates(docsig))
    pairs = (
        _verified_pairs(spark, sf_dir, cand)
        .filter(F.expr("CAST(c AS DOUBLE) / (n1 + n2 - c) >= 0.5e0"))
    )
    # endpoints via ONE in-row explode (round 9): the old two-branch
    # union consumed the un-pinned verified-pairs chain TWICE — the
    # whole array_intersect verification ran once per branch
    deg = T.materialize(
        pairs.select(
            F.explode(F.expr("array(doc1, doc2)")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tot = T.docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_docs"))
    summary = deg.agg(
        F.count(F.lit(1)).alias("n_dirty"),
        F.max("degree").alias("max_degree"),
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs_at_degree"))
        .join(F.broadcast(tot))
        .join(F.broadcast(summary))
        .select(
            "degree",
            "n_docs_at_degree",
            (F.col("n_docs") - F.col("n_dirty")).alias("n_clean_docs"),
            "max_degree",
        )
    )


def _sampled_docs_pred_duck() -> str:
    return T.hashed_id_duck("text") + f" % {_SAMPLE_MOD} = 0"


def _sampled_docs(spark, sf_dir):
    """The deterministic content-hash corpus sample (md5(text) % 4 == 0,
    ~25%) every `_sampled` audit twin runs on — stable across
    re-ingests, reproducible in any engine, applied at the scan."""
    return T.docs(spark, sf_dir).filter(
        F.expr(T.hashed_id_spark("text") + f" % {_SAMPLE_MOD} = 0")
    )


@query(
    "dedup_graph_degree_profile_sampled",
    oracle=T.sampled_table_duck(
        _DEG_ORACLE, "documents", _sampled_docs_pred_duck()
    ),
)
def dedup_graph_degree_profile_sampled(spark, sf_dir):
    """The near-dup graph degree profile on the deterministic
    content-hash sample (md5(text) % 4 == 0, ~25%) — the audit you run
    at corpus scale, where the full profile's lossless truth-set oracle
    is an all-pairs enumeration (its DuckDB audit timed out at the
    sf1-shape sweep's budget while the Spark side stayed in bounds).
    Degree-distribution SHAPE (template clusters, heavy verification
    tails) is what transfers from sample to corpus; absolute pair
    counts scale ~quadratically in the sample rate inside dup clusters,
    linearly outside. Same machinery as the full profile — sampled
    shingle frame, banded candidates, candidate-only verification
    arrays — so this twin also re-verifies the scale path itself."""
    smp = _sampled_docs(spark, sf_dir)
    garr = T.materialize(T.doc_gram_arrays(spark, sf_dir, frame=smp))
    docsig = _minhash_docsig(spark, sf_dir, garr=garr)
    cand = T.materialize(_lsh_candidates(docsig))
    pairs = (
        _verified_pairs(spark, sf_dir, cand, garr=garr)
        .filter(F.expr("CAST(c AS DOUBLE) / (n1 + n2 - c) >= 0.5e0"))
    )
    # one in-row endpoint explode — see dedup_graph_degree_profile
    deg = T.materialize(
        pairs.select(
            F.explode(F.expr("array(doc1, doc2)")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tot = smp.agg(F.count(F.lit(1)).alias("n_docs"))
    summary = deg.agg(
        F.count(F.lit(1)).alias("n_dirty"),
        F.max("degree").alias("max_degree"),
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs_at_degree"))
        .join(F.broadcast(tot))
        .join(F.broadcast(summary))
        .select(
            "degree",
            "n_docs_at_degree",
            (F.col("n_docs") - F.col("n_dirty")).alias("n_clean_docs"),
            "max_degree",
        )
    )


# --- quality-aware canonical selection ------------------------------------


def _canon_oracle() -> str:
    # text.py registers text_quality_score; force it first (registry
    # loads dedup before text, and this oracle nests both blocks' SQL)
    from . import text as _text  # noqa: F401
    from ..registry import ORACLES

    return (
        "WITH cl AS (SELECT * FROM (" + ORACLES["dedup_clusters"] + ")), "
        "q AS (SELECT doc_id, quality FROM ("
        + ORACLES["text_quality_score"]
        + ")), "
        "j AS (SELECT cl.canonical_doc AS cluster_id, cl.doc_id, "
        "q.quality FROM cl JOIN q USING (doc_id)), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id "
        "ORDER BY quality DESC, doc_id) AS rk FROM j) "
        "SELECT cluster_id, COUNT(*) AS n_members, "
        "MAX(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc, "
        "MAX(CASE WHEN rk = 1 THEN quality END) AS kept_quality "
        "FROM r GROUP BY cluster_id"
    )


@query("dedup_cluster_canonical_quality", oracle=None)
def dedup_cluster_canonical_quality(spark, sf_dir):
    """Quality-aware canonical selection: within each near-dup CLUSTER
    (connected components over the verified MinHash graph), keep the
    HIGHEST-quality member (ties to lowest doc_id) instead of the
    naive min-id survivor — near-duplicates usually differ by
    boilerplate or truncation, and min-id keeps whichever crawl
    happened first, not the best copy. This upgrades the removal
    policy corpus_filter_pipeline applies (drop doc2 of every pair)
    to a per-cluster decision. Composes two verified blocks (cluster
    labels x quality scores) with one join + one per-cluster window
    over cluster-cardinality rows; the oracle nests both blocks'
    SQL."""
    from .text import text_quality_score

    cl = dedup_clusters(spark, sf_dir).select(
        F.col("canonical_doc").alias("cluster_id"), "doc_id"
    )
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    j = cl.join(q, "doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), "doc_id"
    )
    r = j.withColumn("rk", F.row_number().over(w))
    return r.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(F.expr("CASE WHEN rk = 1 THEN doc_id END")).alias(
            "kept_doc"
        ),
        F.max(F.expr("CASE WHEN rk = 1 THEN quality END")).alias(
            "kept_quality"
        ),
    )


# register the oracle lazily: it nests two already-registered oracles
from ..registry import ORACLES as _OR  # noqa: E402

_OR["dedup_cluster_canonical_quality"] = _canon_oracle()


# --- containment (asymmetric Jaccard) near-dup -----------------------------

_CONT_T = "0.8e0"  # containment threshold


@query(
    "dedup_containment",
    oracle=(
        "WITH " + T.SHINGLES_CTE + ", "
        "sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles "
        "GROUP BY doc_id), "
        "df AS (SELECT shingle, COUNT(*) AS doc_freq FROM shingles "
        "GROUP BY shingle), "
        "kept AS (SELECT s.doc_id, s.shingle FROM shingles s "
        f"JOIN df USING (shingle) WHERE df.doc_freq <= {_DF_CAP}), "
        "common AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, "
        "COUNT(*) AS c FROM kept a JOIN kept b ON a.shingle = b.shingle "
        "AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "orient AS (SELECT "
        "CASE WHEN s1.n_sh < s2.n_sh OR (s1.n_sh = s2.n_sh "
        "AND doc1 < doc2) THEN doc1 ELSE doc2 END AS doc_small, "
        "CASE WHEN s1.n_sh < s2.n_sh OR (s1.n_sh = s2.n_sh "
        "AND doc1 < doc2) THEN doc2 ELSE doc1 END AS doc_big, "
        "LEAST(s1.n_sh, s2.n_sh) AS n_small, "
        "GREATEST(s1.n_sh, s2.n_sh) AS n_big, c "
        "FROM common JOIN sizes s1 ON s1.doc_id = doc1 "
        "JOIN sizes s2 ON s2.doc_id = doc2) "
        "SELECT doc_small, doc_big, "
        "CAST(n_small AS BIGINT) AS n_small, "
        "CAST(n_big AS BIGINT) AS n_big, "
        + rnd("CAST(c AS DOUBLE) / n_small", 4) + " AS containment, "
        + rnd("CAST(c AS DOUBLE) / (n_small + n_big - c)", 4)
        + " AS jaccard FROM orient "
        f"WHERE CAST(c AS DOUBLE) / n_small >= {_CONT_T} "
        "ORDER BY containment DESC, doc_small, doc_big LIMIT 50"
    ),
)
def dedup_containment(spark, sf_dir):
    """Containment near-dup detection: C(A,B) = |A∩B| / |A| with A the
    smaller shingle set — the ASYMMETRIC similarity that catches a doc
    wholly embedded in a larger one (boilerplate wrappers, quote pages,
    chrome + content), which symmetric Jaccard scores low precisely
    when the size gap is big. Same single-shuffle shingle machinery as
    dedup_ngram_jaccard (grouped-list pair explode, df cap, sizes
    riding through the expansion); orientation (small ⊂ big) resolves
    from the carried sizes with a doc-id tie-break, and the top-50
    rides a TakeOrdered heap. Jaccard is reported alongside to show
    the divergence this operator exists for.

    Scale contract: shares dedup_ngram_jaccard's candidate space and
    its measured cap-saturation transition (shuffle exponent 1.712 on
    the 4-point ledger's sf0.1->sf1 decade, linear after the df cap
    binds) — at 100 TB route thresholded containment through the
    prefix-filter/banded machinery the same way."""
    sh = T.doc_shingle_ids_shared(spark, sf_dir)
    pair_expr = (
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds)), "
        "y -> struct(x.doc_id AS doc1, x.n_sh AS n1, "
        "y.doc_id AS doc2, y.n_sh AS n2))))"
    )
    small = (
        "CASE WHEN n1 < n2 OR (n1 = n2 AND doc1 < doc2) "
        "THEN {a} ELSE {b} END"
    )
    return (
        sh.groupBy("sh")
        .agg(
            F.expr(
                "sort_array(collect_set(struct(doc_id, n_sh)))"
            ).alias("ds")
        )
        .filter(F.expr(f"size(ds) BETWEEN 2 AND {_DF_CAP}"))
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(
            F.col("p.doc1").alias("doc1"),
            F.col("p.n1").alias("n1"),
            F.col("p.doc2").alias("doc2"),
            F.col("p.n2").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.expr(small.format(a="doc1", b="doc2")).alias("doc_small"),
            F.expr(small.format(a="doc2", b="doc1")).alias("doc_big"),
            F.expr("CAST(LEAST(n1, n2) AS BIGINT)").alias("n_small"),
            F.expr("CAST(GREATEST(n1, n2) AS BIGINT)").alias("n_big"),
            "c",
        )
        .filter(F.expr(f"CAST(c AS DOUBLE) / n_small >= {_CONT_T}"))
        .select(
            "doc_small",
            "doc_big",
            "n_small",
            "n_big",
            F.expr(rnd("CAST(c AS DOUBLE) / n_small", 4)).alias(
                "containment"
            ),
            F.expr(
                rnd("CAST(c AS DOUBLE) / (n_small + n_big - c)", 4)
            ).alias("jaccard"),
        )
        .orderBy(F.desc("containment"), "doc_small", "doc_big")
        .limit(50)
    )


# --- chunk-level scrub: REMOVE duplicated chunks, keep one global copy -----

#: global first-occurrence key for a chunk occurrence. idx < 100000 for
#: any realistic document (10-token chunks => 1M-token doc); BIGINT is
#: safe to ~9e13 docs.
_SCRUB_KEY = f"doc_id * 100000 + idx"

_CHUNK_SCRUB_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
ch AS (
  SELECT doc_id, CAST(i AS BIGINT) AS idx,
         array_to_string(ts[i * {_CHUNK_W} + 1 : i * {_CHUNK_W} + {_CHUNK_W}], ' ')
           AS chunk
  FROM d, unnest(range(0, CAST((len(ts) + {_CHUNK_W} - 1)
    // {_CHUNK_W} AS INT))) AS u(i)
),
cf AS (
  SELECT chunk, COUNT(*) AS c, MIN({_SCRUB_KEY}) AS first_key
  FROM ch GROUP BY chunk
),
k AS (
  SELECT ch.doc_id, ch.idx, ch.chunk,
         (cf.c = 1 OR {_SCRUB_KEY} = cf.first_key) AS keep
  FROM ch JOIN cf USING (chunk)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       COALESCE(string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY idx), '')
         AS scrubbed_text
FROM k
GROUP BY doc_id
HAVING SUM(CASE WHEN keep THEN 0 ELSE 1 END) > 0
"""


@query("dedup_chunk_scrub", oracle=_CHUNK_SCRUB_ORACLE)
def dedup_chunk_scrub(spark, sf_dir):
    """The corrective sibling of `dedup_chunk_level`: actually REMOVE
    every duplicated 10-token chunk from the corpus, keeping exactly
    one global copy (the occurrence with the lowest (doc_id, position)
    — C4's "discard all but one of any three-sentence span occurring
    more than once", made deterministic), and reassemble each affected
    document's scrubbed text in original chunk order. Output = the
    changed docs with before/after chunk counts and the cleaned text;
    unchanged docs pass through untouched upstream, so the result is
    exactly the patch set a curation job writes back.

    Scale shape: chunking is a narrow in-row transform; the
    chunk-frequency + first-occurrence aggregate is ONE map-combined
    hash-agg (MIN and COUNT ride together), and the occurrence join is
    the only other shuffle — at 100 TB both key on a 64-bit chunk hash
    with text carried only on the occurrence side. Reassembly is a
    per-doc collect_list bounded by document size, never by corpus
    size. The first-occurrence key is a pure expression (doc_id *
    100000 + idx), so keep/drop is decided inside the join row with no
    window and no second pass."""
    d = T.docs(spark, sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("ts")
    )
    ch = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST((size(ts) + {_CHUNK_W} - 1)"
                f" div {_CHUNK_W} AS INT) - 1), "
                f"i -> array_join(slice(ts, i * {_CHUNK_W} + 1, "
                f"{_CHUNK_W}), ' '))"
            )
        ).alias("idx", "chunk"),
    ).select("doc_id", F.col("idx").cast("bigint").alias("idx"), "chunk")
    cf = ch.groupBy("chunk").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(F.expr(_SCRUB_KEY)).alias("first_key"),
    )
    k = ch.join(cf, "chunk").select(
        "doc_id",
        "idx",
        "chunk",
        (
            (F.col("c") == 1) | (F.expr(_SCRUB_KEY) == F.col("first_key"))
        ).alias("keep"),
    )
    return (
        k.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"), F.struct("idx", "chunk")
                            )
                        )
                    ),
                    lambda x: x.chunk,
                ),
                " ",
            ).alias("scrubbed_text"),
        )
        .filter(F.col("n_removed") > 0)
    )


# --- duplicated-span profile (sliding-window exact substring dedup) --------

_SPAN_W = 8  # window width in tokens, stride 1

_SPAN_ORACLE = (
    "WITH w AS (SELECT DISTINCT doc_id, wh FROM ("
    "SELECT doc_id, unnest(CASE WHEN len(string_split(text, ' ')) "
    f"< {_SPAN_W} THEN [] "
    f"ELSE list_transform(range(1, len(string_split(text, ' ')) - "
    f"{_SPAN_W - 2}), "
    "i -> array_to_string(string_split(text, ' ')"
    f"[i:i+{_SPAN_W - 1}], ' ')) END) AS wh FROM documents)), "
    "sz AS (SELECT doc_id, COUNT(*) AS n_windows FROM w GROUP BY doc_id), "
    "df AS (SELECT wh, COUNT(*) AS nd FROM w GROUP BY wh), "
    "pd AS (SELECT w.doc_id, "
    "CAST(SUM(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_dup_windows FROM w JOIN df USING (wh) GROUP BY w.doc_id) "
    "SELECT pd.doc_id, sz.n_windows, pd.n_dup_windows, "
    + rnd("CAST(pd.n_dup_windows AS DOUBLE) / sz.n_windows", 4)
    + " AS dup_frac FROM pd JOIN sz USING (doc_id) "
    "ORDER BY dup_frac DESC, pd.doc_id LIMIT 20"
)


@query("dedup_duplicated_spans", oracle=_SPAN_ORACLE)
def dedup_duplicated_spans(spark, sf_dir):
    """Sliding-window exact-substring duplication profile (the signal
    behind Lee et al. 2021's 'Deduplicating Training Data Makes LMs
    Better'): every 8-token window at stride 1, hashed; a window is
    DUPLICATED if it appears in >= 2 distinct documents; per doc the
    fraction of its windows that are duplicated elsewhere, top-20
    offenders. Unlike dedup_chunk_level's fixed non-overlapping chunks,
    stride-1 windows catch SHIFTED copies (quoted paragraphs, boiler-
    plate with inserted prefixes) — the case chunk boundaries miss; the
    scrub action for flagged docs is dedup_chunk_scrub.

    Scale shape: the Spark-practice substitute for a suffix array —
    windows build in-row (let-binding transform, per-doc dedup via
    array_distinct, NO shuffle to form them), then ONE corpus-token-
    sized hash-agg on the 60-bit window hash, one join back at window
    cardinality, one doc-cardinality agg, and a top-20 heap. Window
    hashes are md5-60bit content ids (hashed_id doctrine), so the
    oracle's string windows count identically."""
    d = T.docs(spark, sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    grams = (
        f"transform(sequence(1, size(toks) - {_SPAN_W - 1}), "
        "i -> "
        + T.hashed_id_spark(f"concat_ws(' ', slice(toks, i, {_SPAN_W}))")
        + ")"
    )
    arr = (
        f"CASE WHEN size(toks) < {_SPAN_W} THEN array() "
        f"ELSE array_distinct({grams}) END"
    )
    wrapped = (
        f"transform(array({arr}), "
        "a -> transform(a, x -> struct(size(a) AS n_w, x AS wh)))[0]"
    )
    win = d.select("doc_id", F.inline(F.expr(wrapped))).select(
        "doc_id", "n_w", "wh"
    )
    win = T.materialize(win)
    wf = win.groupBy("wh").agg(F.count(F.lit(1)).alias("nd"))
    per_doc = (
        win.join(wf, "wh")
        .groupBy("doc_id")
        .agg(
            F.first("n_w").cast("bigint").alias("n_windows"),
            F.sum(F.expr("CASE WHEN nd >= 2 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_dup_windows"),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.expr(
                rnd("CAST(n_dup_windows AS DOUBLE) / n_windows", 4)
            ).alias("dup_frac"),
        )
        .orderBy(F.desc("dup_frac"), F.asc("doc_id"))
        .limit(20)
    )


# --- content-defined chunking (CDC) dedup -----------------------------------

#: rolling-window width (tokens) and boundary modulus: a chunk boundary
#: falls after token i wherever the hash of the trailing 4-token window
#: is ~ 0 (mod 8) -> expected chunk length 8 tokens, content-defined
_CDC_W = 4
_CDC_MOD = 8


def _cdc_chunks_spark() -> str:
    """Per-doc CDC chunk array as one in-row expression (ts, boundary
    list B, and the sorted cut array bound via single-element
    transforms; element_at keeps the index arithmetic 1-based and
    engine-identical)."""
    h = T.hashed_id_spark(
        f"concat_ws(' ', slice(ts, i - {_CDC_W - 1}, {_CDC_W}))"
    )
    return (
        "transform(array(split(text, ' ')), ts -> "
        f"transform(array(CASE WHEN size(ts) < {_CDC_W} "
        "THEN CAST(array() AS ARRAY<BIGINT>) ELSE "
        f"filter(sequence({_CDC_W}L, CAST(size(ts) AS BIGINT)), "
        f"i -> {h} % {_CDC_MOD} = 0) END), B -> "
        "transform(array(array_sort(array_distinct(concat(array(0L), B, "
        "array(CAST(size(ts) AS BIGINT)))))), cuts -> "
        "transform(sequence(1, size(cuts) - 1), j -> "
        "array_join(slice(ts, CAST(element_at(cuts, j) AS INT) + 1, "
        "CAST(element_at(cuts, j + 1) - element_at(cuts, j) AS INT)), "
        "' ')))[0])[0])[0]"
    )


def _cdc_chunks_duck() -> str:
    h = T.hashed_id_duck(
        f"array_to_string(list_slice(ts, i - {_CDC_W - 1}, i), ' ')"
    )
    return (
        "list_transform([string_split(text, ' ')], ts -> "
        f"list_transform([CASE WHEN len(ts) < {_CDC_W} "
        "THEN CAST([] AS BIGINT[]) ELSE "
        f"list_filter(range({_CDC_W}, len(ts) + 1), "
        f"i -> {h} % {_CDC_MOD} = 0) END], B -> "
        "list_transform([list_sort(list_distinct(list_concat(list_concat("
        "[CAST(0 AS BIGINT)], B), [CAST(len(ts) AS BIGINT)])))], cuts -> "
        "list_transform(range(1, len(cuts)), j -> "
        "array_to_string(list_slice(ts, cuts[j] + 1, cuts[j+1]), ' '))"
        ")[1])[1])[1]"
    )


_CDC_ORACLE = (
    "WITH ch AS (SELECT doc_id, unnest(" + _cdc_chunks_duck() + ") AS ch "
    "FROM documents), "
    "sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, "
    "CAST(SUM(len(string_split(ch, ' '))) AS BIGINT) AS n_toks "
    "FROM ch GROUP BY doc_id), "
    "cf AS (SELECT ch, COUNT(*) AS c FROM ch GROUP BY ch), "
    "pd AS (SELECT ch.doc_id, CAST(SUM(CASE WHEN cf.c >= 2 THEN 1 "
    "ELSE 0 END) AS BIGINT) AS n_dup_chunks "
    "FROM ch JOIN cf USING (ch) GROUP BY ch.doc_id) "
    "SELECT pd.doc_id, sz.n_chunks, pd.n_dup_chunks, "
    + rnd(
        "CAST(pd.n_dup_chunks AS DOUBLE) / NULLIF(sz.n_chunks, 0)", 4
    )
    + " AS dup_frac, "
    + rnd("CAST(sz.n_toks AS DOUBLE) / NULLIF(sz.n_chunks, 0)", 2)
    + " AS mean_chunk_toks "
    "FROM pd JOIN sz USING (doc_id) "
    "ORDER BY dup_frac DESC, pd.doc_id LIMIT 20"
)


def cdc_chunk_frame(d):
    """(doc_id, ch_id, ch_toks) — one row per CDC chunk, the in-row
    stage every CDC consumer shares: dedup_cdc_chunks aggregates it in
    batch, streaming/twins.cdc_chunk_stream emits it at ingest (the
    chunking is a pure function of each row, so the two are bit-equal
    under any micro-batch replay). `d` needs (doc_id, text).

    ch_id rides the FULL 60 md5 bits, not hashed_id's 40-bit default:
    duplicate counting compares ch_id equality on Spark's side while
    the oracle counts by chunk STRING, so a ch_id collision inflates
    n_dup_chunks with no oracle-side counterpart. At 10^6 distinct
    chunks the 40-bit birthday collision odds are ~40%; at 60 bits
    ~4e-7 (round-8 ADVICE)."""
    return (
        d.select("doc_id", F.expr(_cdc_chunks_spark()).alias("chs"))
        .select("doc_id", F.explode("chs").alias("chunk"))
        .select(
            "doc_id",
            F.expr(T.hashed_id_spark("chunk", 1 << 60)).alias("ch_id"),
            F.expr("size(split(chunk, ' '))").alias("ch_toks"),
        )
    )


@query("dedup_cdc_chunks", oracle=_CDC_ORACLE)
def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup — the rsync/LBFS boundary trick
    (Muthitacharoen et al. 2001) applied to corpus text: a chunk
    boundary falls wherever the hash of the trailing 4-token window is
    0 mod 8, so boundaries are a function of LOCAL CONTENT, not
    position. That is the property fixed-frame chunking
    (dedup_chunk_level) lacks: inserting one token early in a page
    shifts every downstream 10-token frame and hides the duplication,
    while CDC boundaries beyond the edit are unchanged and the shared
    chunks still collide. Per doc: CDC chunk count, corpus-duplicated
    chunk count (chunk appears >= 2 times anywhere), duplicated
    fraction, and mean chunk length (expected ~8 tokens by the
    modulus), top-20 offenders.

    Scale shape: chunking is a narrow in-row expression (window
    hashes, boundary filter, and cut-array slicing are interpreted HOF
    folds over let-bound arrays — ZERO shuffle to form chunks); the
    corpus-wide frequency agg and the join back ride 60-bit md5
    content ids (hashed_id doctrine — the oracle counts the same
    multiset by chunk STRING), then one doc-cardinality agg and a
    top-20 heap. Same two-shuffle shape as dedup_chunk_level at any
    scale."""
    ch = T.materialize(cdc_chunk_frame(T.docs(spark, sf_dir)))
    sz = ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("ch_toks").cast("bigint").alias("n_toks"),
    )
    cf = ch.groupBy("ch_id").agg(F.count(F.lit(1)).alias("c"))
    pd_ = (
        ch.join(cf, "ch_id")
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("CASE WHEN c >= 2 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_dup_chunks")
        )
    )
    return (
        pd_.join(sz, "doc_id")
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.expr(
                rnd(
                    "CAST(n_dup_chunks AS DOUBLE) / NULLIF(n_chunks, 0)",
                    4,
                )
            ).alias("dup_frac"),
            F.expr(
                rnd("CAST(n_toks AS DOUBLE) / NULLIF(n_chunks, 0)", 2)
            ).alias("mean_chunk_toks"),
        )
        .orderBy(F.desc("dup_frac"), F.asc("doc_id"))
        .limit(20)
    )
