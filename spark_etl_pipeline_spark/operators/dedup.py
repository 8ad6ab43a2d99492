"""Deduplication operators over the ``documents`` table.

LLM-data-pipeline dedup surface (the reference repo only has full-row
``dropDuplicates`` — jobs/etl_job.py:369-377; this module adds the
content-level family a training-data pipeline needs):

- **exact**: hash-keyed exact dedup (one hash aggregate).
- **MinHash + LSH**: shingle → K minhash values → banded bucket join →
  candidate pairs → exact-Jaccard verify. Candidates only ever form
  *inside a band bucket* — there is no all-pairs comparison anywhere,
  which is what makes this run at 100 TB (bucket join ≈ one shuffle on
  band hash; skewed buckets are handled by AQE skew-join).
- **SimHash**: frequency-weighted 32-bit fingerprint per document;
  near-dups differ in few bits.
- **n-gram Jaccard with prefix blocking**: exact Jaccard, but only for
  pairs sharing their first shingle (near-identical docs share
  prefixes) — again a bucketed join, never a cross join.

Cross-engine determinism: token/shingle hashes are md5-derived bigints
(identical in Spark and DuckDB), minhash permutations are fixed affine
maps mod 2^31-1 (multipliers < 2^30 against a 32-bit hash, so the max
intermediate a*h < 2^62 — inside int64 in both engines), and Jaccard is
one double division of identical integers.

CONSTANTS VERSION NOTE: the round-8 Knuth-mixed ``A``/``B`` multipliers
replaced an earlier small-multiplier revision. Minhash *signatures are a
function of these constants* — any signature store persisted under the
old constants (``docs_dedup_store``-style materializations) is
invalidated by the change and must be rebuilt; comparing signatures
across constant revisions silently yields garbage similarities.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_etl_pipeline_spark.operators import RoundsExhausted, broadcast_if_fits, rounds
from spark_etl_pipeline_spark.operators.store_meta import (
    check_store_stamp,
    write_store_stamp,
)
from spark_etl_pipeline_spark.plans.registry import register, store_dir, table

# ---------------------------------------------------------------------------
# Shared constants (MUST stay in sync between Spark builders and oracles)
# ---------------------------------------------------------------------------

P = 2_147_483_647  # 2^31 - 1
NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
#: Fixed affine minhash permutations h_k(x) = (A[k]*x + B[k]) mod P.
#: Multipliers are Knuth-mixed and bounded below 2^30 so A*h never
#: overflows int64 against the 32-bit md5 prefix in EITHER engine
#: (max A·h < 2^62), while being large enough that the product wraps
#: mod P many times for every input — small multipliers (an earlier
#: revision used ~3e3–3.5e4) preserve the ordering of small residues,
#: which CORRELATES the 16 "permutations" (one element can be the
#: argmin of every hash) and biases the Jaccard estimate; pinned by
#: ``tests/test_estimator_properties.py`` on random controlled-overlap
#: shingle sets.
A = [
    ((k * k + k + 1) * 2_654_435_761 + 1_013_904_223 * k) % (1 << 30) | 1
    for k in range(NUM_HASHES)
]
B = [((k + 1) * 1_013_904_223 + 69_069 * k * k) % P for k in range(NUM_HASHES)]

SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5

#: Version stamp for PERSISTED signature stores: minhash signatures and
#: band keys are a function of these constants, so a store built under
#: different values is incomparable garbage, not data.
#: ``build_signature_store`` stamps; append/probe verify (store_meta).
MINHASH_CONSTANTS_VERSION = hashlib.md5(
    repr((P, NUM_HASHES, BANDS, A, B, SHINGLE_N)).encode()
).hexdigest()

# Spark SQL arrays index 0-based (t[0]); DuckDB 1-based (t[1]).
_SH_SPARK = (
    "CASE WHEN size(t) >= {n} THEN array_distinct(transform("
    "sequence(0, size(t) - {n}), i -> concat_ws(' ', {elems_s}))) "
    "ELSE array() END"
).format(n=SHINGLE_N, elems_s=", ".join(f"t[i+{j}]" for j in range(SHINGLE_N)))
_SH_DUCK = (
    "CASE WHEN len(t) >= {n} THEN list_distinct(list_transform("
    "generate_series(0, len(t) - {n}), i -> {elems_d})) "
    "ELSE [] END"
).format(
    n=SHINGLE_N,
    elems_d=" || ' ' || ".join(f"t[i+{j+1}]" for j in range(SHINGLE_N)),
)


def _md5_bigint(engine: str, col: str) -> str:
    """The first 32 bits of ``md5(col)`` as a bigint, in ``engine``'s
    dialect (``conv`` in Spark, a ``'0x'`` cast in DuckDB)."""
    if engine == "spark":
        return f"cast(conv(substr(md5({col}), 1, 8), 16, 10) as bigint)"
    return f"CAST(('0x' || substr(md5({col}), 1, 8)) AS BIGINT)"


#: Shared oracle CTEs: tokenized docs -> distinct shingles -> hashes.
_DUCK_SHINGLES = f"""
    toks AS (
        SELECT doc_id, string_split_regex(trim(text), '[\\s\\x0b]+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, unnest({_SH_DUCK}) AS s FROM toks
    ),
    hashed AS (
        SELECT doc_id, {_md5_bigint("duck", "s")} AS h FROM sh
    )
"""

#: The K minhash minimums of a hashed-shingle column ``h`` — one
#: aggregate text per hash, the same in both dialects.
_MH_MINS = [f"min(({A[k]}*h + {B[k]}) % {P}) AS mh{k}" for k in range(NUM_HASHES)]


def _band_key(engine: str, b: int) -> str:
    """Bucket key of LSH band ``b``: md5 over its rows' minhashes."""
    cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
    if engine == "spark":
        return f"md5(concat_ws(',', {', '.join(cols)}))"
    return "md5({})".format("||','||".join(cols))


_LSH_BANDS_SPARK = "explode(array({})) AS x".format(
    ", ".join(
        f"struct({b} AS band, {_band_key('spark', b)} AS bh)"
        for b in range(BANDS)
    )
)


def shingle_set(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, s): each document's distinct word n-gram shingles."""
    return (
        docs.withColumn("t", F.split(F.trim(F.col(text_col)), r"\s+"))
        .select("doc_id", F.explode(F.expr(_SH_SPARK)).alias("s"))
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{K-1}): K min-hash values, one hash aggregate.

    One shuffle on doc_id with map-side partial mins — signature size is
    constant per doc regardless of document length.
    """
    hashed = shingles.selectExpr("doc_id", f"{_md5_bigint('spark', 's')} AS h")
    return hashed.groupBy("doc_id").agg(*map(F.expr, _MH_MINS))


def minhash_doc_state(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, ss, mh0..mh{K-1}): shingle ARRAY and all K minhashes in
    ONE aggregation over the corpus (r15).

    The classic pipeline derives the signature table and the shingle-set
    table as SEPARATE aggregations over the same exploded shingles, and
    Catalyst does not dedupe common subplans — so a self-join dedup plan
    re-scans and re-shingles the corpus once per consumer branch (4-5x).
    This helper folds both into a single groupBy (collect_set rides the
    same map-side partial aggregation as the 16 partial mins), giving
    one scan + one shuffle whose bytes are the per-doc distinct-shingle
    text — the same order as the corpus itself, NOT the ~10x exploded
    shingle stream (persisting that was measured slower; see
    ``dedup_minhash_lsh``). Callers localCheckpoint the result so every
    plan branch (bands, both verify sides) reads the materialized rows.
    """
    sh = shingle_set(docs, text_col)
    hashed = sh.selectExpr("doc_id", "s", f"{_md5_bigint('spark', 's')} AS h")
    return hashed.groupBy("doc_id").agg(
        F.collect_set("s").alias("ss"), *map(F.expr, _MH_MINS)
    )


def lsh_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bh): one md5 bucket key per band of the signature."""
    return sig.selectExpr("doc_id", _LSH_BANDS_SPARK).select(
        "doc_id", "x.band", "x.bh"
    )


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs colliding in at least one band.

    The self-join key is (band, bucket-hash): only same-bucket rows ever
    meet, so the work is Σ bucket_size², not n² — the LSH contract.
    """
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_verified(pairs: DataFrame, shingles: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard): exact shingle-set Jaccard per pair.

    The candidate-pair table (the LSH output) joins — twice — against
    the doc-keyed shingle-ARRAY table, and the intersection is a
    per-row ``array_intersect``: there is no pair-times-shingles row
    explosion. Per-doc arrays are bounded by document length (never by
    corpus size), so the aggregated row width is the same order as the
    document itself. The pair-side joins carry no hint: AQE sees the
    pair table's runtime size and broadcasts it only when it fits, so a
    dup-heavy corpus whose pair set rivals the corpus falls back to a
    shuffle join on doc_id instead of OOMing the executors.
    """
    return jaccard_verified_sets(pairs, shingle_sets(shingles))


def shingle_sets(shingles: DataFrame) -> DataFrame:
    """(doc_id, ss): per-doc shingle ARRAY — the storable signature form.

    One hash aggregate on doc_id; array size is bounded by document
    length, never corpus size. This is exactly the table the
    materialized signature store persists, so in-plan derivation and
    store readback feed :func:`jaccard_verified_sets` identically.
    """
    return shingles.groupBy("doc_id").agg(F.collect_set("s").alias("ss"))


def jaccard_verified_sets(pairs: DataFrame, ss: DataFrame) -> DataFrame:
    """:func:`jaccard_verified` over pre-aggregated (doc_id, ss) arrays —
    the entry point when the sets come from a materialized store
    instead of an in-plan aggregation (same join topology either way).
    """
    a = ss.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ssa"))
    b = ss.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ssb"))
    with_a = a.join(pairs, "doc_a")
    i = F.size(F.array_intersect("ssa", "ssb")).cast("long")
    return (
        b.join(with_a, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                i.cast("double")
                / (F.size("ssa").cast("long") + F.size("ssb").cast("long") - i)
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(replace(trim(text), 'İ', 'i'))) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(lower(replace(trim(text), 'İ', 'i')))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group by normalized-text hash, keep the
    smallest doc_id. One hash aggregate — the 100 TB plan is identical
    (shuffle on a 128-bit hash, never on the text itself). The 'İ' →
    'i' fold before lower() keeps Java full-lowercasing and utf8proc
    simple-lowercasing in agreement (see ``text.LOWER_SPARK``)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.md5(
                F.lower(F.translate(F.trim(F.col("text")), "İ", "i"))
            ).alias("content_hash")
        )
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_BANDS_DUCK = "\n      UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, {_band_key('duck', b)} AS bh FROM sig"
    for b in range(BANDS)
)


_MH_MINS_SQL = ",\n           ".join(_MH_MINS)

#: The minhash-LSH candidate pipeline as reusable CTEs: signatures,
#: bands, candidate pairs and their shingle intersections.
_MINHASH_CAND_CTES = f"""{_DUCK_SHINGLES},
    sig AS (
        SELECT doc_id, {_MH_MINS_SQL}
        FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {_BANDS_DUCK}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS i
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND x.s = y.s
        GROUP BY c.doc_a, c.doc_b
    )"""

#: :data:`_MINHASH_CAND_CTES` ending in the verified ``dup_pairs`` —
#: shared by the pair query and the connected-components queries so
#: their oracles can never drift apart.
_MINHASH_PAIRS_CTES = f"""{_MINHASH_CAND_CTES},
    dup_pairs AS (
        SELECT c.doc_a, c.doc_b,
               CAST(COALESCE(i.i, 0) AS DOUBLE)
                   / (sa.n + sb.n - COALESCE(i.i, 0)) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE CAST(COALESCE(i.i, 0) AS DOUBLE)
                   / (sa.n + sb.n - COALESCE(i.i, 0)) >= {JACCARD_THRESHOLD}
    )"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_MINHASH_PAIRS_CTES}
    SELECT doc_a, doc_b, jaccard FROM dup_pairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    shingle → 16 minhashes → 4 bands × 4 rows → bucket self-join →
    Jaccard ≥ 0.5. Detects the ~98%-overlap duplicates the corpus
    actually contains without ever comparing all pairs.
    """
    docs = table(spark, sf_dir, "documents")
    # The shingle set feeds 4 plan branches (signatures, sizes, both
    # intersection sides) and Catalyst does not dedupe common subplans,
    # so the corpus is scanned and re-shingled per branch. Measured at
    # bench scale — THREE times now (r14 twice, r15 A/B at sf0.1) —
    # recomputing beats every persisted variant here: the exploded
    # shingle cache is ~10x the text volume (1.4-2.3s vs 1.0-1.5s), and
    # the r15 one-pass ``minhash_doc_state`` checkpoint serializes the
    # heavy collect_set barrier that the recompute plan's independent
    # branches overlap across idle cores (1.75 vs 1.57 min-of-4).
    # For scan-dominated corpora (100 TB: 4 scans ≫ one set shuffle)
    # flip to the ``minhash_doc_state`` form used by
    # ``incremental_survivors``, where its fan-out DOES pay off.
    shingles = shingle_set(docs)
    pairs = candidate_pairs(lsh_bands(minhash_signatures(shingles)))
    return jaccard_verified(pairs, shingles).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


_SIMHASH_BITS = 32


def _simhash_votes(engine: str) -> list[str]:
    """One ±1 vote sum per fingerprint bit over a token-hash column
    ``h``. The bit test ``(h div 2^b) % 2`` is portable; only the
    integer-division token differs (``div`` vs ``//``)."""
    div = "div" if engine == "spark" else "//"
    return [
        f"sum(CASE WHEN (h {div} {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(_SIMHASH_BITS)
    ]


_FP_EXPR = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
)
_VSUM_DUCK = ",\n        ".join(_simhash_votes("duck"))

#: Oracle CTEs: tokens -> token hashes -> per-doc bit votes, shared by
#: both SimHash queries.
_SIMHASH_VOTES_CTES = f"""toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '[\\s\\x0b]+')) AS x
        FROM documents
    ),
    hashed AS (SELECT doc_id, {_md5_bigint("duck", "x")} AS h FROM toks),
    votes AS (
        SELECT doc_id,
        {_VSUM_DUCK}
        FROM hashed GROUP BY doc_id
    )"""


def _simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): the Spark side of :data:`_SIMHASH_VOTES_CTES`
    plus the fingerprint select, from the same vote and bit texts."""
    tokens = docs.withColumn("t", F.split(F.trim(F.col("text")), r"\s+")).select(
        "doc_id", F.explode("t").alias("x")
    )
    votes = (
        tokens.selectExpr("doc_id", f"{_md5_bigint('spark', 'x')} AS h")
        .groupBy("doc_id")
        .agg(*map(F.expr, _simhash_votes("spark")))
    )
    return votes.selectExpr("doc_id", f"cast({_FP_EXPR} as bigint) AS simhash")


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_SIMHASH_VOTES_CTES}
    SELECT doc_id, CAST({_FP_EXPR} AS BIGINT) AS simhash FROM votes
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted 32-bit SimHash per document.

    Each token votes ±1 on every bit of its hash; the fingerprint keeps
    the majority sign. Near-identical docs land within a few bits of
    Hamming distance. Plan: explode tokens → one hash aggregate on
    doc_id (map-side partial sums make the shuffle rows = docs, not
    tokens).
    """
    return _simhash_fingerprints(table(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    keyed AS (
        SELECT doc_id, md5(t[1] || ' ' || t[2] || ' ' || t[3]) AS block
        FROM toks WHERE len(t) >= 3
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM keyed a JOIN keyed b ON a.block = b.block AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS i
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND x.s = y.s
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           CAST(COALESCE(i.i, 0) AS DOUBLE)
               / (sa.n + sb.n - COALESCE(i.i, 0)) AS jaccard
    FROM cand c
    LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard with *prefix blocking*: only pairs sharing
    their first shingle are compared (near-identical docs share
    prefixes). The block key join replaces the cross join — same
    bucketed-join scale contract as LSH, with exact similarity."""
    docs = table(spark, sf_dir, "documents")
    shingles = shingle_set(docs)  # recompute per branch — see minhash note
    keyed = (
        docs.withColumn("t", F.split(F.trim(F.col("text")), r"\s+"))
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.md5(F.expr("concat_ws(' ', t[0], t[1], t[2])")).alias("block"),
        )
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = a.join(
        b, (F.col("a.block") == F.col("b.block")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    return jaccard_verified(pairs, shingles)


LEV_THRESHOLD = 40  # max edit distance for a fuzzy-dup pair
#: Documents longer than this (in UTF-8 BYTES) are EXEMPT from
#: edit-distance comparison. Exact Levenshtein is O(len²) per pair —
#: ~10¹² cells for one megabyte-scale document pair, intractable in
#: ANY engine — so a length cap is part of the operator's contract
#: (the standard production-dedup design), mirrored exactly in the
#: oracle. The cap never binds on the reference corpus (max document
#: 553 chars).
#:
#: The distance itself is BYTE-level over UTF-8 (r14): Spark's
#: ``levenshtein`` counts CODEPOINTS while DuckDB's counts BYTES
#: (measured: 'é' vs 'e' is 1 Spark-side, 2 DuckDB-side) — a seed-202
#: fuzz corpus caught the oracle diverging on a near-dup pair
#: containing 'été'. Byte-level is the metric most large-scale dedup
#: implementations use (C/Rust edit distance over raw UTF-8), it is
#: the only metric BOTH engines can compute natively, and Spark
#: reaches it exactly by reinterpreting the UTF-8 bytes as latin1
#: (``decode(encode(text,'utf-8'),'ISO-8859-1')`` — one char per
#: byte, verified byte-exact against DuckDB on 2-, 3-, and 4-byte
#: codepoints incl. ZWJ emoji). On pure-ASCII text the two metrics
#: coincide, so the driver corpus is bitwise unaffected.
LEV_MAX_LEN = 10_000


@register(
    "dedup_fuzzy_levenshtein",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, text, string_split_regex(trim(text), '[\\s\\x0b]+') AS t
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, text, md5(t[1] || ' ' || t[2] || ' ' || t[3]) AS block
        FROM toks WHERE len(t) >= 3
    )
    SELECT doc_a, doc_b, edit_dist FROM (
        -- The length cap lives INSIDE a CASE, not as WHERE conjuncts
        -- next to levenshtein(): DuckDB's adaptive filter reordering
        -- does not guarantee the cheap length checks run first, so
        -- plain conjuncts can still evaluate a megabyte self-pair —
        -- the exact O(len²) hang the Spark side avoids with its
        -- expression-level when() guard. CASE short-circuits
        -- deterministically in both engines.
        -- strlen/levenshtein are BYTE-level in DuckDB — the r14
        -- operator contract (LEV_MAX_LEN comment); the Spark side
        -- reaches the same metric via the latin1 reinterpretation
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CASE WHEN strlen(a.text) <= {LEV_MAX_LEN}
                     AND strlen(b.text) <= {LEV_MAX_LEN}
                    THEN levenshtein(a.text, b.text) END AS edit_dist
        FROM keyed a
        JOIN keyed b ON a.block = b.block AND a.doc_id < b.doc_id
    ) WHERE edit_dist <= {LEV_THRESHOLD}
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy duplicates with prefix blocking.

    Levenshtein is O(len²) per pair — viable only because the block join
    (shared first shingle) reduces candidates from n² to Σ block².
    Same definition in both engines → integer-exact oracle.

    The distance is guarded by a LENGTH CAP inside the expression
    (``when(len <= LEV_MAX_LEN, levenshtein(...))`` — expression-level
    short-circuit, which codegen guarantees), not as a post-hoc filter.
    The difference is fatal at scale: Catalyst pushes the
    ``edit_dist`` filter INTO the join condition ahead of the
    ``doc_id <`` dedup predicate, so every block-equal hash match —
    including each document's SELF-match — evaluates the distance. On
    ordinary rows that self-compare is invisible; one megabyte-scale
    document (the ``giant`` hostile mode) turns it into a ~10¹²-cell
    DP and the query never returns. Spark's thresholded
    ``levenshtein(l, r, k)`` is NOT a rescue — measured ~35 s on one
    100k-char self-pair (superlinear despite the bound) — so the cap
    is the operator contract: documents beyond ``LEV_MAX_LEN`` are
    exempt from fuzzy comparison, in both engines. The thresholded
    form is still used under the cap for its early-abandon bound.
    """
    docs = table(spark, sf_dir, "documents")
    keyed = (
        docs.withColumn("t", F.split(F.trim(F.col("text")), r"\s+"))
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            "text",
            F.md5(F.expr("concat_ws(' ', t[0], t[1], t[2])")).alias("block"),
        )
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.when(
                (F.octet_length("a.text") <= LEV_MAX_LEN)
                & (F.octet_length("b.text") <= LEV_MAX_LEN),
                F.levenshtein(
                    # latin1 reinterpretation of the UTF-8 bytes: one
                    # char per byte, so Spark's codepoint levenshtein
                    # computes the BYTE-level distance — the operator's
                    # r14 contract and the only metric DuckDB can
                    # mirror natively (see LEV_MAX_LEN comment)
                    F.expr("decode(encode(a.text, 'utf-8'), 'ISO-8859-1')"),
                    F.expr("decode(encode(b.text, 'utf-8'), 'ISO-8859-1')"),
                    LEV_THRESHOLD,
                ),
            )
            .otherwise(F.lit(-1))
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
    )


HAMMING_THRESHOLD = 6  # max differing bits for a simhash near-dup pair
_SIMHASH_BYTES = 4  # band the 32-bit fingerprint into 4 bytes
_SIMHASH_BYTE_BANDS = "explode(array({})) AS x".format(
    ", ".join(
        f"struct({b} AS band, (simhash div {1 << (b * 8)}) % 256 AS byte)"
        for b in range(_SIMHASH_BYTES)
    )
)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_VOTES_CTES},
    fp AS (SELECT doc_id, CAST({_FP_EXPR} AS BIGINT) AS simhash FROM votes),
    bands AS (
        SELECT doc_id, simhash, b.b AS band,
               (simhash // power(2, b.b * 8)::BIGINT) % 256 AS byte
        FROM fp CROSS JOIN (SELECT unnest(generate_series(0, {_SIMHASH_BYTES - 1})) AS b) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.byte = b.byte
                    AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           bit_count(xor(sh_a, sh_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= {HAMMING_THRESHOLD}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: byte-band blocking + Hamming verify.

    By pigeonhole, two 32-bit fingerprints within Hamming distance 6
    share at least one of their 4 bytes unchanged... not guaranteed —
    6 flips CAN touch all 4 bytes — but byte-banding recalls the
    overwhelmingly common case (near-dups differ in 0-3 bits) while
    keeping candidates bucketed: the join key is (band, byte), work is
    Σ bucket², never n². The exact guarantee needs ceil(bits/(d+1))
    bands; 4 bands guarantee d <= 3.
    """
    fp = _simhash_fingerprints(table(spark, sf_dir, "documents"))
    bands = fp.selectExpr("doc_id", "simhash", _SIMHASH_BYTE_BANDS).select(
        "doc_id", "simhash", "x.band", "x.byte"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= HAMMING_THRESHOLD)


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: connected components + canonical selection
# ---------------------------------------------------------------------------

#: Label-propagation round budget of :func:`connected_components`; a
#: graph whose diameter exceeds it goes to star contraction. Read at
#: call time, so a deployment facing longer dup chains raises it with
#: one module-level assignment.
CC_PROPAGATION_ROUNDS = 25
#: Round bound of :func:`connected_components_star`. Its O(log² n)
#: rounds make exhausting this a pathological input, so it raises.
CC_STAR_ROUNDS = 25


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, component) for every vertex of an undirected edge list,
    where ``component`` is the smallest vertex id reachable from ``id``.

    Iterative min-label propagation: each round every vertex takes the
    minimum of its own label and its neighbors' labels; a fixpoint is
    reached after O(component diameter) rounds. Each round is one
    shuffle join of the (persisted, small) edge list against the label
    table plus one aggregate, run by the shared round loop
    (:func:`~spark_etl_pipeline_spark.operators.rounds`, which also
    holds the lineage and durability rule). Convergence is detected
    from SUM(label), which is strictly decreasing until the fixpoint —
    a scalar per round, not a data collect.

    Dup-pair graphs are tiny relative to the corpus (edges exist only
    between near-duplicates) and their components have single-digit
    diameters — min-label propagation fixpoints in a handful of rounds.

    Convergence is VERIFIED, never assumed: if
    :data:`CC_PROPAGATION_ROUNDS` rounds exhaust before the fixpoint —
    a component whose DIAMETER exceeds the budget; templated/boilerplate
    text produces exactly such long dup chains — the function hands the
    graph to :func:`connected_components_star`, whose large-star/
    small-star contraction converges in O(log² n) rounds on any graph
    shape. Partial labels are never returned: they would split one
    component into several and leave multiple "canonical" survivors of
    one duplicate cluster.

    The round joins carry a broadcast hint while the vertex count fits
    (:func:`broadcast_if_fits`). The returned labels carry none: the
    consumers that join them against the corpus hint at that join.
    """
    fwd = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    rev = edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
    sym = fwd.union(rev).distinct().localCheckpoint()
    # r16: seed labels with the FIRST propagate round's exact state —
    # label(v) = least(v, min(neighbors)) — straight off the edge
    # checkpoint. Round 1 of the old loop computed precisely this
    # through an edge×label join plus a second label-update join (the
    # initial labels being the identity); the seed is one aggregate,
    # so every call saves one full join round and diameter-1
    # components (the common dup-cluster shape: isolated pairs/stars)
    # converge after a single verify round.
    labels = (
        sym.groupBy("s")
        .agg(F.min("d").alias("_md"))
        .select(F.col("s").alias("id"), F.least("s", "_md").alias("label"))
        .localCheckpoint()
    )
    # The label table holds exactly one row per vertex in EVERY round,
    # so one pass over the already-materialized checkpoint (cached-block
    # reads, no recompute) counts the rows that gate every hint below;
    # ``neigh`` is a per-vertex aggregate and shares the bound. The same
    # collect seeds the convergence baseline with the label sum.
    n_verts, label_sum = labels.agg(F.count(F.lit(1)), F.sum("label")).collect()[0]

    def propagate(labels: DataFrame) -> DataFrame:
        neigh = (
            sym.join(broadcast_if_fits(labels, n_verts), sym.d == labels.id)
            .groupBy("s")
            .agg(F.min("label").alias("nl"))
        )
        return labels.join(
            broadcast_if_fits(neigh, n_verts), labels.id == neigh.s, "left"
        ).select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
            ).alias("label"),
        )

    def settled(labels: DataFrame) -> bool:
        nonlocal label_sum
        prev, label_sum = label_sum, labels.agg(F.sum("label")).collect()[0][0]
        return label_sum == prev

    try:
        return rounds(labels, propagate, CC_PROPAGATION_ROUNDS, settled)
    except RoundsExhausted:
        # Diameter exceeded the budget: re-solve with the O(log² n)-round
        # contraction rather than failing. Partial labels are never
        # used — star restarts from the raw edges.
        return connected_components_star(edges, src, dst)


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, component-min) labels via alternating large-star/small-star
    contraction — the chain-graph-safe twin of
    :func:`connected_components`.

    Min-label propagation needs O(diameter) rounds; this contraction
    (Kiveris et al., *Connected Components in MapReduce and Beyond*,
    SoCC 2014) needs O(log² n) on ANY shape, because each round rewires
    vertices directly to their neighborhood minimum instead of moving
    labels one hop:

    - **large-star** (per node u): every strictly-larger neighbor
      v > u is re-pointed at m = min(Γ(u) ∪ {u});
    - **small-star** (per node u over its smaller neighbors S):
      u and all of S are re-pointed at m = min(S).

    Both steps are one groupBy-min plus one join per round — the same
    shuffle primitives as label propagation, in the same round loop
    (:func:`~spark_etl_pipeline_spark.operators.rounds`). Edges stay
    canonically (larger → smaller), so the fixpoint is exactly the star
    set {(v, root) : v ≠ root}.

    Convergence is verified EXACTLY: when the cheap per-round stats
    (count, Σu, Σv) stop changing, a set-difference confirms the edge
    set is truly stable — stats alone could collide. Exhausting
    :data:`CC_STAR_ROUNDS` raises; with the log² bound that means a
    genuinely pathological input, not a tuning problem.
    """
    raw = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).filter(
        F.col("s") != F.col("d")
    )
    verts = (
        raw.select(F.col("s").alias("id"))
        .union(raw.select(F.col("d").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    # Canonical orientation: u (larger) → v (smaller).
    e = (
        raw.select(
            F.greatest("s", "d").alias("u"), F.least("s", "d").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )

    def star_round(cur: DataFrame) -> DataFrame:
        """One large-star + small-star round over canonical (u > v) edges."""
        # large-star: every v > u re-points at m = min(Γ(u) ∪ {u})
        sym = cur.union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: u and its smaller neighbors S re-point at min(S)
        # (edges are (u > v), so grouping by u collects exactly S)
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        joined = ls.join(mins2, "u")
        return (
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(joined.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def stats(df: DataFrame) -> tuple:
        return tuple(df.agg(F.count(F.lit(1)), F.sum("u"), F.sum("v")).collect()[0])

    last = stats(e)

    def settled(cur: DataFrame) -> bool:
        nonlocal last
        prev, last = last, stats(cur)
        return last == prev

    e = rounds(e, star_round, CC_STAR_ROUNDS, settled)
    # Exact fixpoint confirmation: one more full round must leave the
    # set unchanged (stats equality alone could collide).
    if last[0]:
        nxt = star_round(e)
        if not (nxt.exceptAll(e).isEmpty() and nxt.count() == last[0]):
            raise RuntimeError(
                "connected_components_star: the round stats settled but "
                "the edge set did not — a pathological input"
            )
    return verts.join(
        e.select(F.col("u").alias("id"), F.col("v").alias("label")), "id", "left"
    ).select("id", F.coalesce("label", F.col("id")).alias("label"))


def components_ctes(pairs: str, a: str, b: str) -> str:
    """The oracle of :func:`connected_components` over the pair CTE
    ``pairs(a, b)``, as CTEs for a ``WITH RECURSIVE`` statement:
    ``edges`` (both directions), the recursive ``reach`` (every vertex
    with each id it reaches) and ``comp(v, component)``, the smallest
    id each vertex of a pair reaches — the min-label fixpoint every
    CC-backed oracle reads."""
    return f"""edges AS (
        SELECT {a} AS src, {b} AS dst FROM {pairs}
        UNION ALL
        SELECT {b}, {a} FROM {pairs}
    ),
    reach AS (
        SELECT DISTINCT src AS v, src AS label FROM edges
        UNION
        SELECT g.dst AS v, r.label
        FROM reach r JOIN edges g ON g.src = r.v
    ),
    comp AS (SELECT v, MIN(label) AS component FROM reach GROUP BY v)"""


#: Shared by ``dedup_components`` (label propagation) and
#: ``dedup_components_star`` (star contraction): both compute the same
#: fixpoint, so they share one recursive-CTE oracle — any semantic drift
#: between the two algorithms fails one of the two green rows.
_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    {components_ctes('dup_pairs', 'doc_a', 'doc_b')}
    SELECT v AS doc_id,
           CAST(component AS BIGINT) AS component,
           CASE WHEN component = v THEN 1 ELSE 0 END AS is_canonical
    FROM comp
    """


def _labels_to_components(labels: DataFrame) -> DataFrame:
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("component"),
        F.when(F.col("id") == F.col("label"), 1).otherwise(0).alias("is_canonical"),
    )


@register("dedup_components", oracle=_COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: the step BETWEEN pair detection and
    actual deduplication. MinHash-LSH pairs become an undirected graph;
    connected components group transitive duplicates (A~B, B~C => one
    cluster even if A,C never collided); the minimum doc_id of each
    component is the canonical survivor, everything else is droppable.

    The oracle computes the same fixpoint with a recursive CTE
    (min reachable id per vertex) over the SAME dup_pairs CTEs as the
    ``dedup_minhash_lsh`` oracle, so pair semantics cannot drift.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return _labels_to_components(connected_components(pairs, "doc_a", "doc_b"))


@register("dedup_components_star", oracle=_COMPONENTS_ORACLE)
def dedup_components_star_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution via large-star/small-star contraction
    — same result as ``dedup_components`` (one shared oracle pins that),
    different convergence contract: O(log² n) rounds regardless of
    component diameter, the shape to use when templated/boilerplate text
    produces long duplicate chains that exhaust label propagation."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return _labels_to_components(
        connected_components_star(pairs, "doc_a", "doc_b")
    )


@register(
    "docs_dedup_corpus",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    {components_ctes('dup_pairs', 'doc_a', 'doc_b')},
    dropped AS (SELECT v FROM comp WHERE component != v)
    SELECT d.doc_id, d.lang, md5(d.text) AS content_md5,
           CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT v FROM dropped)
    """,
)
def docs_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END near-dup pipeline a corpus curator actually runs:
    MinHash-LSH pairs → connected components → drop every non-canonical
    member → surviving corpus.

    Composition of three independently-oracled stages, oracled again as
    a whole (the CTE chain reuses the exact ``dup_pairs`` SQL, so any
    drift in ANY stage fails this row too). Scale shape: the drop-list
    is the duplicate subset (bounded by dup rate, far smaller than the
    corpus); the final anti-join broadcasts it while the label table's
    row count fits (:func:`broadcast_if_fits`) — the corpus itself is
    scanned once.
    """
    docs = table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b")
    dropped = labels.filter(F.col("label") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    dropped = broadcast_if_fits(dropped, labels.count())
    return docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id",
        "lang",
        F.md5(F.col("text")).alias("content_md5"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def incremental_survivors(docs: DataFrame, in_delta) -> DataFrame:
    """DELTA-batch docs surviving dedup against BASE + the batch itself.

    ``in_delta`` is a callable ``Column -> boolean Column`` applied to
    an id column to test batch membership (callable, not a bound
    Column, because the predicate must be evaluated against doc_id,
    doc_a and doc_b at different points of the plan). Base is
    authoritative: a delta doc near-dup-matching
    ANY base doc is dropped regardless of id order; within the batch
    the greedy min-id rule applies (drop a delta doc iff it has a
    verified partner with a smaller doc_id). Greedy-pairwise, not
    connected components — a batch is small relative to base, and the
    rule is one anti-join instead of an iterative contraction; the
    corresponding full-corpus CC pass is ``docs_dedup_corpus``.

    Scale shape — the reason this exists as its own operator: only
    DELTA-touching pairs are ever formed. The bucket join probes the
    full band table with the (small) delta band set, so the work is
    Σ_bucket |delta ∩ bucket| × |bucket|, not the corpus self-join. At
    100 TB the base band/signature/shingle tables are precomputed and
    stored (append-only alongside the corpus — here derived in-plan
    from the same table, same topology); each batch re-hashes only
    itself, probes the store, and appends its survivors' signatures.
    Pair verification reuses :func:`jaccard_verified` (AQE picks
    broadcast vs shuffle for the pair side at runtime).
    """
    # r15: the band table feeds BOTH sides of the bucket join and the
    # shingle-set table BOTH sides of pair verification — four
    # re-shingling passes over the corpus in one plan (Catalyst does
    # not dedupe common subplans). One combined aggregation
    # (minhash_doc_state) behind a LAZY localCheckpoint materializes
    # the per-doc state ONCE inside the consuming action; bands and
    # both verify sides are cheap projections over the persisted rows.
    # (First r15 cut checkpointed bands and shingle-sets separately:
    # 1.35 s → 1.13 s at sf0.1; the combined state collapses the two
    # heavy aggregations into one as well.)
    state = minhash_doc_state(docs).localCheckpoint(eager=False)
    bands = lsh_bands(state)
    cand = (
        bands.filter(in_delta(F.col("doc_id")))
        .alias("d")
        .join(bands.alias("x"), ["band", "bh"])
        .filter(F.col("d.doc_id") != F.col("x.doc_id"))
        .select(
            F.least("d.doc_id", "x.doc_id").alias("doc_a"),
            F.greatest("d.doc_id", "x.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    verified = jaccard_verified_sets(
        cand, state.select("doc_id", "ss")
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    dropped = (
        verified.select(F.col("doc_b").alias("doc_id"))
        .union(
            verified.filter(~in_delta(F.col("doc_b"))).select(
                F.col("doc_a").alias("doc_id")
            )
        )
        .distinct()
        # r16: the drop list is verified-dup sized; without
        # materialization the stat-less chain planned the final anti-
        # join as SMJ, shuffling+sorting the whole delta (text column
        # included). The count materializes the chain once (the same
        # work the SMJ job ran) and gates an explicit broadcast — same
        # runtime-size discipline as connected_components' label
        # return; an adversarial all-dup corpus degrades to SMJ.
        .localCheckpoint(eager=False)
    )
    return docs.filter(in_delta(F.col("doc_id"))).join(
        broadcast_if_fits(dropped, dropped.count()), "doc_id", "left_anti"
    )


@register(
    "docs_dedup_incremental",
    oracle=f"""
    WITH {_MINHASH_PAIRS_CTES}
    SELECT d.doc_id, d.lang, md5(d.text) AS content_md5,
           CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id % 4 = 3
      AND NOT EXISTS (
        SELECT 1 FROM dup_pairs p
        WHERE p.doc_b = d.doc_id
           OR (p.doc_a = d.doc_id AND p.doc_b % 4 <> 3)
      )
    """,
)
def docs_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: the DELTA batch (``doc_id % 4 = 3``)
    deduped against the already-curated BASE corpus plus itself — see
    :func:`incremental_survivors` for semantics and the scale story.
    """
    docs = table(spark, sf_dir, "documents")
    return incremental_survivors(docs, lambda c: c % 4 == 3).select(
        "doc_id",
        "lang",
        F.md5(F.col("text")).alias("content_md5"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Materialized signature store — the append-only 100-TB ingest shape
# ---------------------------------------------------------------------------


def build_signature_store(docs: DataFrame, store_path: str) -> None:
    """Materialize a corpus's dedup state as two parquet tables.

    ``{store_path}/bands``    — (doc_id, band, bh): the LSH band/bucket
    keys new batches probe against.
    ``{store_path}/shingles`` — (doc_id, ss): the exact shingle arrays
    pair verification reads.

    This is the production counterpart to deriving both in-plan
    (:func:`incremental_survivors`): at 100 TB the base corpus is
    hashed ONCE when it is curated, and every subsequent ingest batch
    reads the store instead of re-shingling petabytes. Both tables are
    append-only — a batch's survivors append their own rows — so the
    store grows with the corpus and nothing is ever rewritten. Writes
    repartition on doc_id so probe-side joins read co-hashed files.

    The store is stamped with :data:`MINHASH_CONSTANTS_VERSION`
    (signatures are a function of the A/B multipliers and banding
    layout — see the module docstring's constants-version note);
    append/probe refuse a mismatched or missing stamp loudly.
    """
    sh = shingle_set(docs)
    lsh_bands(minhash_signatures(sh)).repartition("doc_id").write.mode(
        "overwrite"
    ).parquet(f"{store_path}/bands")
    shingle_sets(sh).repartition("doc_id").write.mode("overwrite").parquet(
        f"{store_path}/shingles"
    )
    write_store_stamp(
        docs.sparkSession, store_path, "minhash", MINHASH_CONSTANTS_VERSION
    )


def append_signature_store(docs: DataFrame, store_path: str) -> None:
    """Append a survivor batch's signatures to an existing store.

    Refuses a store stamped under different minhash constants — the
    append would silently mix incomparable signature spaces.
    """
    check_store_stamp(
        docs.sparkSession, store_path, "minhash", MINHASH_CONSTANTS_VERSION
    )
    sh = shingle_set(docs)
    lsh_bands(minhash_signatures(sh)).repartition("doc_id").write.mode(
        "append"
    ).parquet(f"{store_path}/bands")
    shingle_sets(sh).repartition("doc_id").write.mode("append").parquet(
        f"{store_path}/shingles"
    )


def probe_signature_store(
    spark: SparkSession, store_path: str, delta_docs: DataFrame
) -> DataFrame:
    """Delta docs surviving dedup against a MATERIALIZED base store + itself.

    Semantics identical to :func:`incremental_survivors` (base
    authoritative: a delta doc matching ANY stored doc drops; within
    the batch the greedy min-id rule applies) — but the base side is
    read back from parquet, so the only shingling work is the delta
    batch itself. Candidate formation splits structurally instead of by
    membership predicate:

    - delta×base — the delta band set probes the stored band table on
      (band, bh); work is Σ_bucket |delta ∩ bucket| × |bucket_base|.
    - delta×delta — in-batch LSH self-join (:func:`candidate_pairs`),
      quadratic only in the (small) batch.

    Verification unions the stored shingle arrays with the delta's own
    (disjoint doc_ids) through :func:`jaccard_verified_sets` — the
    stored arrays are the verification operand, never recomputed.

    Refuses a store stamped under different minhash constants (or an
    unstamped one) — probing across constants revisions returns
    garbage similarities, not an error, without this gate.
    """
    check_store_stamp(spark, store_path, "minhash", MINHASH_CONSTANTS_VERSION)
    base_bands = spark.read.parquet(f"{store_path}/bands")
    base_ss = spark.read.parquet(f"{store_path}/shingles")

    delta_sh = shingle_set(delta_docs)
    delta_bands = lsh_bands(minhash_signatures(delta_sh))
    delta_ss = shingle_sets(delta_sh)

    cand_base = (
        delta_bands.alias("d")
        .join(base_bands.alias("b"), ["band", "bh"])
        .select(
            F.col("d.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ss_all = base_ss.unionByName(delta_ss)
    dropped_vs_base = (
        jaccard_verified_sets(cand_base, ss_all)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(F.col("doc_a").alias("doc_id"))
    )
    dropped_in_batch = (
        jaccard_verified_sets(candidate_pairs(delta_bands), delta_ss)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(F.col("doc_b").alias("doc_id"))
    )
    dropped = dropped_vs_base.union(dropped_in_batch).distinct()
    return delta_docs.join(dropped, "doc_id", "left_anti")


@register(
    "docs_dedup_store",
    oracle=f"""
    WITH {_MINHASH_PAIRS_CTES}
    SELECT d.doc_id, d.lang, md5(d.text) AS content_md5,
           CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id % 4 = 3
      AND NOT EXISTS (
        SELECT 1 FROM dup_pairs p
        WHERE p.doc_b = d.doc_id
           OR (p.doc_a = d.doc_id AND p.doc_b % 4 <> 3)
      )
    """,
)
def docs_dedup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-backed incremental dedup: build the BASE corpus's signature
    store on disk, then dedup the DELTA batch (``doc_id % 4 = 3``) by
    probing the store — same oracle as ``docs_dedup_incremental``, which
    derives everything in-plan. Equality of the two rows is the proof
    that the materialized ingest shape loses nothing.
    """
    docs = table(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % 4 == 3
    store = store_dir("spark_etl_sigstore_")
    build_signature_store(docs.filter(~is_delta), store)
    return probe_signature_store(spark, store, docs.filter(is_delta)).select(
        "doc_id",
        "lang",
        F.md5(F.col("text")).alias("content_md5"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


CONTAINMENT_THRESHOLD = 0.9


def containment_verified(pairs: DataFrame, shingles: DataFrame) -> DataFrame:
    """(doc_a, doc_b, cont_a, cont_b): exact shingle containment per
    candidate pair — ``cont_a = |A∩B| / |A|`` (how much of A lies inside
    B) and symmetrically for B. The asymmetric complement to
    :func:`jaccard_verified`: a short doc quoted wholesale inside a long
    one scores near-1 containment while its Jaccard stays low. Same
    join topology (un-hinted pair side, per-row ``array_intersect``, no
    row explosion)."""
    ss = shingles.groupBy("doc_id").agg(F.collect_set("s").alias("ss"))
    a = ss.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ssa"))
    b = ss.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ssb"))
    with_a = a.join(pairs, "doc_a")
    i = F.size(F.array_intersect("ssa", "ssb")).cast("long")
    return (
        b.join(with_a, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (i.cast("double") / F.size("ssa").cast("long")).alias("cont_a"),
            (i.cast("double") / F.size("ssb").cast("long")).alias("cont_b"),
        )
    )


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_MINHASH_CAND_CTES},
    conts AS (
        SELECT c.doc_a, c.doc_b,
               CAST(COALESCE(i.i, 0) AS DOUBLE) / sa.n AS cont_a,
               CAST(COALESCE(i.i, 0) AS DOUBLE) / sb.n AS cont_b
        FROM cand c
        LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, cont_a, cont_b
    FROM conts
    WHERE cont_a >= {CONTAINMENT_THRESHOLD}
       OR cont_b >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs: either side ≥90% contained
    in the other (quote/subset detection — the case Jaccard under-counts
    when lengths differ).

    Candidates come from the SAME MinHash-LSH bands as the Jaccard
    pipeline, then exact containment verifies both directions. Honest
    limitation, stated for the 100 TB reading: LSH banding recalls
    JACCARD-similar pairs, so an extreme length mismatch (tiny quote in
    a huge doc) can miss candidacy; the scale fix is banding the SHORTER
    side's signature only (one-sided LSH), which this corpus — ~equal
    length dups — doesn't need. Verification work is bounded by the
    candidate set exactly as in :func:`jaccard_verified`.
    """
    docs = table(spark, sf_dir, "documents")
    shingles = shingle_set(docs)
    pairs = candidate_pairs(lsh_bands(minhash_signatures(shingles)))
    conts = containment_verified(pairs, shingles)
    return conts.filter(
        (F.col("cont_a") >= CONTAINMENT_THRESHOLD)
        | (F.col("cont_b") >= CONTAINMENT_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# One-sided (anchor-shingle) containment — closes the length-skew recall gap
# ---------------------------------------------------------------------------

#: Anchor blocking parameters (shared with the DuckDB oracle).
ONESIDED_MAX_DF = 20
ONESIDED_ANCHORS = 4
PLANTED_DOC_ID = 1_000_000


def onesided_candidates(
    shingles: DataFrame,
    max_df: int = ONESIDED_MAX_DF,
    n_anchors: int = ONESIDED_ANCHORS,
) -> DataFrame:
    """Containment candidates via rare-shingle ANCHORS, not signatures.

    Two-sided MinHash banding recalls JACCARD-similar pairs: a tiny
    quote inside a huge document has near-zero Jaccard, so its band
    keys never collide with the container's. The containment-correct
    blocking keys off the SHORTER side alone: every shingle of a
    contained quote also occurs in its container, so if any of the
    quote's ``n_anchors`` smallest rare-shingle hashes appears in the
    container's shingle inventory the pair is a candidate — recall 1
    for exact containment, ≥ 1 - miss^k for noisy.

    Scale bound: the join key is the shingle hash; the inventory side
    is pre-filtered to document frequency ≤ ``max_df`` (boilerplate
    shingles drop out), so bucket work is Σ_h anchors_h × df_h ≤
    max_df × (n_anchors × n_docs) — linear in corpus size, never the
    shingle-inventory self-join. The anchor row_number window
    partitions by doc_id over a doc's own rare shingles — input-bounded
    by document length, safe at any corpus size.
    """
    from pyspark.sql.window import Window

    hashed = shingles.selectExpr(
        "doc_id", f"{_md5_bigint('spark', 's')} AS h"
    ).distinct()
    rare_h = (
        hashed.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("h")
    )
    rare = hashed.join(rare_h, "h")
    w = Window.partitionBy("doc_id").orderBy("h")
    anchors = (
        rare.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_anchors)
        .select("doc_id", "h")
    )
    return (
        anchors.alias("a")
        .join(rare.alias("i"), "h")
        .filter(F.col("a.doc_id") != F.col("i.doc_id"))
        .select(
            F.least("a.doc_id", "i.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "i.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _planted_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ one synthetic length-skewed container.

    The container (doc_id 1,000,000) is the corpus's shortest
    shingle-bearing document quoted verbatim at the head of its longest
    document — a ~8%-of-container quote whose Jaccard to the container
    is far below any banding threshold. Deterministic (min/max by
    (n_chars, doc_id)), so the Spark plan and the DuckDB oracle plant
    the identical row; built with a single min_by/max_by aggregate —
    no cross join.
    """
    has_shingles = F.size(F.split(F.trim("text"), r"\s+")) >= SHINGLE_N
    extremes = docs.agg(
        F.min_by("text", F.when(has_shingles, F.struct("n_chars", "doc_id"))).alias(
            "qt"
        ),
        F.max_by("text", F.struct("n_chars", "doc_id")).alias("ft"),
    )
    planted = extremes.select(
        F.lit(PLANTED_DOC_ID).cast("long").alias("doc_id"),
        F.concat_ws(" ", "qt", "ft").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(planted)


@register(
    "dedup_containment_onesided",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text, n_chars FROM documents
        WHERE text IS NOT NULL AND n_chars IS NOT NULL
    ),
    docs2 AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT {PLANTED_DOC_ID} AS doc_id,
               (SELECT text FROM base
                WHERE len(string_split_regex(trim(text), '[\\s\\x0b]+')) >= {SHINGLE_N}
                ORDER BY n_chars, doc_id LIMIT 1)
               || ' ' ||
               (SELECT text FROM base
                ORDER BY n_chars DESC, doc_id DESC LIMIT 1) AS text
    ),
    toks AS (
        SELECT doc_id, string_split_regex(trim(text), '[\\s\\x0b]+') AS t FROM docs2
    ),
    sh AS (SELECT doc_id, unnest({_SH_DUCK}) AS s FROM toks),
    hashed AS (SELECT DISTINCT doc_id, {_md5_bigint("duck", "s")} AS h FROM sh),
    rare_h AS (
        SELECT h FROM hashed
        GROUP BY h HAVING count(DISTINCT doc_id) <= {ONESIDED_MAX_DF}
    ),
    rare AS (SELECT doc_id, h FROM hashed JOIN rare_h USING (h)),
    anchors AS (
        SELECT doc_id, h FROM (
            SELECT doc_id, h,
                   row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
            FROM rare) WHERE rn <= {ONESIDED_ANCHORS}
    ),
    cand AS (
        SELECT DISTINCT least(a.doc_id, i.doc_id) AS doc_a,
                        greatest(a.doc_id, i.doc_id) AS doc_b
        FROM anchors a JOIN rare i ON a.h = i.h AND a.doc_id <> i.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS i
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND x.s = y.s
        GROUP BY 1, 2
    ),
    conts AS (
        SELECT c.doc_a, c.doc_b,
               CAST(COALESCE(i.i, 0) AS DOUBLE) / sa.n AS cont_a,
               CAST(COALESCE(i.i, 0) AS DOUBLE) / sb.n AS cont_b
        FROM cand c
        LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, cont_a, cont_b
    FROM conts
    WHERE cont_a >= {CONTAINMENT_THRESHOLD}
       OR cont_b >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment_onesided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup with ONE-SIDED anchor blocking, proven on a
    planted length-skewed pair the two-sided banding misses.

    The corpus is documents plus one synthetic container
    (:func:`_planted_corpus`: shortest doc quoted inside longest —
    quote ≈ 8% of container). Candidates come from
    :func:`onesided_candidates` (quote-side rare-shingle anchors probing
    the full shingle inventory), then exact containment verifies — so
    the planted (quote, container) pair, invisible to
    ``dedup_containment``'s Jaccard-banded candidates, appears in this
    result with cont_a = 1.0. The pytest twin asserts both halves:
    present here, absent from the two-sided candidate set.
    """
    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    )
    corpus = _planted_corpus(docs)
    shingles = shingle_set(corpus)
    cand = onesided_candidates(shingles)
    conts = containment_verified(cand, shingles)
    return conts.filter(
        (F.col("cont_a") >= CONTAINMENT_THRESHOLD)
        | (F.col("cont_b") >= CONTAINMENT_THRESHOLD)
    )


@register(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    {components_ctes('dup_pairs', 'doc_a', 'doc_b')},
    csizes AS (
        SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
    )
    SELECT cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM csizes GROUP BY cluster_size
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster SIZE DISTRIBUTION — the diagnostic a curator
    reads before deduplicating: many pairs (size 2) means boilerplate
    noise; a few giant clusters mean templated spam or a mirror site,
    and each giant cluster is also a skew risk for every downstream
    per-cluster operation.

    Two tiny hash aggregates over the component labels (cluster sizes,
    then the size histogram) — both inputs are duplicate-cluster-count
    sized, never corpus-sized. Shares the pair + connected-components
    stages (and their oracle CTEs) with ``dedup_components``, so the
    histogram cannot drift from the clustering it describes.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = _labels_to_components(connected_components(pairs, "doc_a", "doc_b"))
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Passage-level (sub-document) dedup
# ---------------------------------------------------------------------------

#: Non-overlapping passage width, in tokens. Non-overlap (stride ==
#: width) is what makes "drop the repeat, keep the rest" reassembly
#: well-defined — overlapping chunks (text_chunking) can't be removed
#: independently.
PASSAGE_TOKENS = 25

_PASSAGE_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '[\s\x0b]+') AS t
        FROM documents
    ),
    pidx AS (
        SELECT doc_id,
               unnest(generate_series(0,
                   CAST(ceil(len(t) / {PASSAGE_TOKENS}.0) AS INTEGER) - 1)) AS idx,
               t
        FROM toks WHERE len(t) > 0
    ),
    passages AS (
        SELECT doc_id, idx,
               array_to_string(t[idx * {PASSAGE_TOKENS} + 1 :
                                 idx * {PASSAGE_TOKENS} + {PASSAGE_TOKENS}],
                               ' ') AS ptext
        FROM pidx
    ),
    ranked AS (
        SELECT doc_id, idx, ptext,
               row_number() OVER (PARTITION BY md5(ptext)
                                  ORDER BY doc_id, idx) AS rn
        FROM passages
    ),
    kept AS (SELECT doc_id, idx, ptext FROM ranked WHERE rn = 1),
    stats AS (
        SELECT doc_id, COUNT(*) AS n_passages FROM passages GROUP BY doc_id
    ),
    ka AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(ptext, ' ' ORDER BY idx) AS kept_text
        FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_passages,
           COALESCE(ka.n_kept, 0) AS n_kept,
           COALESCE(ka.kept_text, '') AS kept_text
    FROM stats s LEFT JOIN ka USING (doc_id)
    """


@register("docs_dedup_passages", oracle=_PASSAGE_ORACLE)
def docs_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASSAGE-level dedup: drop repeated sub-document spans, keep the
    rest of each document. Document-level dedup misses the dominant web
    duplication mode — boilerplate (headers, license blocks, navigation,
    quoted posts) repeated inside otherwise-unique pages; passage dedup
    is the standard counter (C4's three-sentence dedup, RefinedWeb's
    line-level pass).

    Shape: split each doc into NON-overlapping {PASSAGE_TOKENS}-token
    passages; the global first occurrence of each distinct passage
    (min (doc_id, idx) — deterministic first-wins, same tiebreak rule
    as every survivor choice in this module) survives, later repeats are
    dropped; each doc is reassembled from its surviving passages in
    order. The survivors are read straight off the first-occurrence
    aggregate, so a passage survives once even when copies of a
    document share its (doc_id, idx).

    Scale: one shuffle on the passage md5 (map-side-combinable MIN of
    a (doc_id, idx, ptext) struct — no window over the corpus, no join
    back) and a per-doc reassembly aggregate whose state is bounded by
    document length. Passage rows are corpus-token-sized but never
    self-joined — this is exact hashing, not similarity: near-duplicate
    passages need the MinHash path (:func:`dedup_minhash_lsh`).
    """
    from spark_etl_pipeline_spark.operators.text import with_tokens

    docs = with_tokens(table(spark, sf_dir, "documents"))
    n_pass = F.expr(
        f"CAST(ceil(size(tokens) / {PASSAGE_TOKENS}.0) AS INT) - 1"
    )
    passages = (
        docs.filter(F.size("tokens") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_pass)).alias("idx"),
            "tokens",
        )
        .select(
            "doc_id",
            "idx",
            F.expr(
                f"concat_ws(' ', slice(tokens, idx * {PASSAGE_TOKENS} + 1,"
                f" {PASSAGE_TOKENS}))"
            ).alias("ptext"),
        )
        # two consumers (first-wins agg, per-doc stats) — materialize
        # the corpus-token-sized explode ONCE
        .localCheckpoint(eager=True)
    )
    kept = (
        passages.groupBy(F.md5("ptext").alias("h"))
        .agg(F.min(F.struct("doc_id", "idx", "ptext")).alias("f"))
        .select("f.doc_id", "f.idx", "f.ptext")
    )
    stats = passages.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_passages"))
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list(struct(idx, ptext))),"
            " x -> x.ptext))"
        ).alias("kept_text"),
    )
    return (
        stats.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            "n_passages",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


# ---------------------------------------------------------------------------
# Shingle document-frequency profile (boilerplate diagnostics)
# ---------------------------------------------------------------------------

BOILERPLATE_DF = 4  # a shingle in >= this many docs counts as boilerplate


@register(
    "docs_shingle_profile",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    df AS (
        SELECT s, COUNT(*) AS df FROM sh GROUP BY s
    )
    SELECT CAST(length(bin(df)) - 1 AS INTEGER) AS log2_df_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(df) AS BIGINT) AS n_occurrences,
           CAST(SUM(CASE WHEN df >= {BOILERPLATE_DF} THEN df ELSE 0 END)
                AS BIGINT) AS boilerplate_occurrences
    FROM df GROUP BY length(bin(df)) - 1
    """,
)
def docs_shingle_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency histogram (power-of-2 buckets): how
    boilerplate-heavy is the corpus? The dedup-threshold tuning
    diagnostic — a fat high-df tail means shared templates that will
    flood MinHash buckets (Σ bucket² candidate work) and argues for
    df-capping shingles before banding (the same inventory cap
    ``onesided_candidates`` applies).

    One shingle explode → df aggregate (map-side combinable) → a
    |distinct-df|-sized histogram. The power-of-2 bucket is computed
    as ``length(bin(df)) - 1`` — INTEGER binary-string length, not
    ``floor(log2())``, whose float rounding can misbucket exact powers
    of two; both engines share the textual-binary definition exactly.
    """
    docs = table(spark, sf_dir, "documents")
    df_t = shingle_set(docs).groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return (
        df_t.groupBy(
            (F.length(F.bin("df")) - 1).cast("int").alias("log2_df_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum("df").cast("bigint").alias("n_occurrences"),
            F.sum(
                F.when(F.col("df") >= BOILERPLATE_DF, F.col("df")).otherwise(0)
            )
            .cast("bigint")
            .alias("boilerplate_occurrences"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration (estimate vs exact Jaccard)
# ---------------------------------------------------------------------------

_MH_MATCHES = " + ".join(
    f"(CASE WHEN sa.mh{k} = sb.mh{k} THEN 1 ELSE 0 END)"
    for k in range(NUM_HASHES)
)


@register(
    "dedup_minhash_calibration",
    oracle=f"""
    WITH {_MINHASH_CAND_CTES},
    scored AS (
        SELECT c.doc_a, c.doc_b,
               CAST(({_MH_MATCHES}) AS DOUBLE) / {NUM_HASHES} AS est,
               CAST(COALESCE(i.i, 0) AS DOUBLE)
                   / (za.n + zb.n - COALESCE(i.i, 0)) AS exact
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
        LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        JOIN sizes za ON za.doc_id = c.doc_a
        JOIN sizes zb ON zb.doc_id = c.doc_b
    )
    SELECT TRY_CAST(round((est - exact) * 10.0) AS INTEGER) AS err_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM scored
    GROUP BY 1
    """,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR calibration: over the LSH candidate pairs,
    histogram of (signature-estimated Jaccard − exact Jaccard) in 0.1
    buckets — the empirical error profile that justifies (or indicts)
    the {NUM_HASHES}-hash signature size before anyone trusts
    signature-only dedup decisions at scale. Estimate = fraction of
    matching minhash coordinates (the unbiased MinHash estimator);
    exact = verified shingle Jaccard. Both are exact rationals of
    integers, so the subtraction and bucket rounding are deterministic
    on both engines.

    Plan: the signature table joins the candidate pairs twice
    (signature-sized rows, AQE-broadcastable pair side), the exact
    side reuses the same intersection aggregate as
    ``dedup_minhash_lsh`` — candidates stay Σ bucket²-bounded, and
    the histogram is |buckets|-sized.
    """
    docs = table(spark, sf_dir, "documents")
    shingles = shingle_set(docs)
    sigs = minhash_signatures(shingles)
    pairs = candidate_pairs(lsh_bands(sigs))
    exact = jaccard_verified(pairs, shingles)  # unfiltered: all candidates
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    est = (
        exact.alias("p")
        .join(sa, F.col("sa.doc_id") == F.col("p.doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("p.doc_b"))
        .select(
            F.expr(f"cast(({_MH_MATCHES}) as double) / {NUM_HASHES}").alias("est"),
            F.col("p.jaccard").alias("exact"),
        )
    )
    return est.groupBy(
        F.expr("try_cast(round((est - exact) * 10.0) as int)").alias("err_bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))


# ---------------------------------------------------------------------------
# Corpus novelty-decay curve (first-appearance on shingles)
# ---------------------------------------------------------------------------

NOVELTY_BUCKET = 50  # doc_ids per curve point


@register(
    "docs_novelty_curve",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    firsts AS (
        SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    ),
    per_doc AS (
        SELECT sh.doc_id,
               COUNT(*) AS n_shingles,
               SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                   AS n_novel
        FROM sh JOIN firsts f ON f.s = sh.s
        GROUP BY sh.doc_id
    )
    SELECT CAST(doc_id // {NOVELTY_BUCKET} AS INTEGER) AS doc_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_shingles) AS BIGINT) AS n_shingles,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           CAST(SUM(n_novel) AS DOUBLE) / CAST(SUM(n_shingles) AS DOUBLE)
               AS novelty_rate
    FROM per_doc
    GROUP BY doc_id // {NOVELTY_BUCKET}
    """,
)
def docs_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty-decay curve: as the corpus is consumed in doc_id order,
    what share of each document's shingles has NEVER appeared before?
    The diminishing-returns read behind "is more of this source still
    worth ingesting" — novelty collapsing toward zero means the
    source is re-serving boilerplate and the crawl budget should move.

    The "seen before" state never materializes: a shingle's first
    appearance is just ``MIN(doc_id)`` per shingle (the
    first-appearance rewrite of ``events_cumulative_reach``, applied
    at shingle grain), joined back shingle-keyed and counted per doc,
    then bucketed to {NOVELTY_BUCKET}-doc curve points. Exact integer
    counts; one identical division per bucket.
    """
    docs = table(spark, sf_dir, "documents")
    sh = shingle_set(docs)
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        per_doc.groupBy(
            F.expr(f"cast(doc_id div {NOVELTY_BUCKET} as int)").alias(
                "doc_bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_shingles").cast("bigint").alias("n_shingles"),
            F.sum("n_novel").cast("bigint").alias("n_novel"),
            (
                F.sum("n_novel").cast("double")
                / F.sum("n_shingles").cast("double")
            ).alias("novelty_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup threshold sensitivity sweep
# ---------------------------------------------------------------------------

SWEEP_THRESHOLDS = ("0.5", "0.6", "0.7", "0.8", "0.9")

_SWEEP_COLS_SQL = ",\n           ".join(
    f"CAST(SUM(CASE WHEN jaccard >= {t} THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS n_ge_{t.replace('.', '_')}"
    for t in SWEEP_THRESHOLDS
)


@register(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH {_MINHASH_CAND_CTES},
    scored AS (
        SELECT c.doc_a, c.doc_b,
               CAST(COALESCE(i.i, 0) AS DOUBLE)
                   / (za.n + zb.n - COALESCE(i.i, 0)) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        JOIN sizes za ON za.doc_id = c.doc_a
        JOIN sizes zb ON zb.doc_id = c.doc_b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
           {_SWEEP_COLS_SQL}
    FROM scored
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sensitivity in ONE pass: how many candidate pairs
    survive at Jaccard ≥ 0.5 / 0.6 / 0.7 / 0.8 / 0.9 — the sweep a
    dedup owner reads next to ``sim_threshold_profile`` before moving
    the production cut (each count is the pair volume — and therefore
    the CC/purge blast radius — that threshold would commit to).

    Candidates and exact Jaccard are computed ONCE (same bucketed
    plan as ``dedup_minhash_lsh``, no threshold); the five thresholds
    are conditional sums inside a single aggregate — five sweeps for
    the price of one scan, instead of re-running the pipeline per
    setting. The shared threshold literals guarantee identical double
    comparisons cross-engine.
    """
    docs = table(spark, sf_dir, "documents")
    shingles = shingle_set(docs)
    pairs = candidate_pairs(lsh_bands(minhash_signatures(shingles)))
    scored = jaccard_verified(pairs, shingles)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_candidates")] + [
        F.sum(F.when(F.col("jaccard") >= float(t), 1).otherwise(0))
        .cast("bigint")
        .alias(f"n_ge_{t.replace('.', '_')}")
        for t in SWEEP_THRESHOLDS
    ]
    return scored.agg(*aggs)
