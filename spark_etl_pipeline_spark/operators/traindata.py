"""Training-data preparation operators: the last mile of an LLM pipeline.

Part of the engine's LLM-data-pipeline extension surface (the reference
repo has no training-data operators): deterministic train/val/test
splitting, benchmark decontamination, repetition-based quality
filtering, PII scrubbing, sequence packing, and weighted event
sampling.

Everything follows the engine's determinism rules (plans/registry.py):
splits and samples key off md5 of a stable id — identical in Spark and
DuckDB and stable across reruns/retries (never ``rand()``, which would
resample on task retry); ratios are single IEEE-754 divisions of
identical integer operands.

Scale notes are per-operator; the common theme: every operator here is
a per-row expression plus at most one bounded-side broadcast join or
one windowed pass — no all-pairs work anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_etl_pipeline_spark.operators import broadcast_if_fits
from spark_etl_pipeline_spark.operators.text import (
    TOKENS_DUCK,
    with_tokens,
)
from spark_etl_pipeline_spark.plans.registry import register, table

# ---------------------------------------------------------------------------
# Deterministic id-hash helpers (identical bits in Spark and DuckDB)
# ---------------------------------------------------------------------------


def id_hash_spark(col: str, mod: int) -> str:
    """Uniform bucket in [0, mod) from md5 of a bigint id, Spark flavor."""
    return (
        f"cast(conv(substr(md5(cast({col} as string)), 1, 8), 16, 10) as bigint)"
        f" % {mod}"
    )


def id_hash_duck(col: str, mod: int) -> str:
    """The same bucket, DuckDB flavor (bit-identical values)."""
    return (
        f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" % {mod}"
    )


# ---------------------------------------------------------------------------
# Train/val/test split
# ---------------------------------------------------------------------------

SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 5  # test gets the remainder


def split_column(id_col: str = "doc_id") -> Column:
    """'train'/'val'/'test' from a deterministic hash of the id.

    Hash-based (not ``rand()``-based) so membership is a pure function
    of the id: stable across reruns, task retries, and incremental
    re-ingestion — a document can never migrate between splits and leak
    eval data into training.
    """
    bucket = F.expr(id_hash_spark(id_col, 100))
    return (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )


@register(
    "text_train_test_split",
    oracle=f"""
    WITH b AS (
        SELECT lang, n_chars, {id_hash_duck('doc_id', 100)} AS bucket
        FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b
    GROUP BY 1, 2
    """,
)
def text_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 split, reported per (lang, split).

    Per-row hash + tiny aggregate — one scan, no shuffle beyond the
    (|langs| x 3)-group hash agg. The same ``split_column`` expression
    tags rows in a real pipeline; the stratified counts here make the
    assignment auditable (and oracle-verifiable) without emitting the
    corpus.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", split_column())
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap)
# ---------------------------------------------------------------------------

DECON_NGRAM = 8
EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 -> stand-in benchmark/eval set


def _shingle_hashes_spark() -> str:
    """Distinct md5 hashes of all 8-token shingles of ``tokens``.

    Short-doc guard: Spark's ``sequence(1, 0)`` DESCENDS ([1, 0] — the
    step defaults to -1 when start > stop) rather than yielding the
    empty series DuckDB's ``generate_series(1, 0)`` does, so a doc with
    fewer than 8 tokens would feed ``slice(tokens, 0, 8)`` and throw
    "SQL array indices start at 1". The ``if`` branch mirrors DuckDB's
    empty-series behavior exactly.
    """
    return (
        f"array_distinct(if(size(tokens) >= {DECON_NGRAM}, "
        f"transform(sequence(1, size(tokens) - {DECON_NGRAM - 1}), "
        f"i -> cast(conv(substr(md5("
        f"concat_ws(' ', slice(tokens, i, {DECON_NGRAM}))"
        f"), 1, 8), 16, 10) as bigint)), "
        f"cast(array() as array<bigint>)))"
    )


# The oracle builds shingles with a WINDOW FRAME over unnested token
# positions, not list-slicing inside list_transform: DuckDB's
# ``t[i:i+k]`` inside a per-position lambda is O(i) per evaluation —
# measured quadratic (9.5 s at 10k tokens, 91 s at 40k), a hang on the
# ``giant`` hostile corpus's 180k-token document — while the
# ``string_agg OVER (ROWS BETWEEN ...)`` form is O(n·k) (0.2 s at
# 180k). Same distinct per-doc shingle set either way.
@register(
    "text_decontaminate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    pos AS (
        SELECT doc_id, len(t) AS nt, unnest(t) AS tok,
               generate_subscripts(t, 1) AS i
        FROM toks
    ),
    grams AS (
        SELECT doc_id, i, nt,
               string_agg(tok, ' ') OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW
                   AND {DECON_NGRAM - 1} FOLLOWING) AS gram
        FROM pos
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS sh
        FROM grams WHERE i <= nt - {DECON_NGRAM - 1}
    ),
    eval_sh AS (
        SELECT DISTINCT sh FROM sh WHERE doc_id % {EVAL_MOD} = 0
    ),
    corpus AS (
        SELECT doc_id, sh FROM sh WHERE doc_id % {EVAL_MOD} != 0
    ),
    hits AS (
        SELECT c.doc_id, COUNT(e.sh) AS n_shared
        FROM corpus c LEFT JOIN eval_sh e ON e.sh = c.sh
        GROUP BY c.doc_id
    )
    SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared,
           CASE WHEN n_shared > 0 THEN 1 ELSE 0 END AS contaminated
    FROM hits
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 8-token
    shingle with the eval set (here: ``doc_id % 97 == 0`` stands in for
    the benchmark suite).

    The eval side of the join is BOUNDED — benchmark suites are MBs
    against a 100-TB corpus — so its distinct shingle hashes broadcast
    and the corpus side never shuffles: scan -> per-row shingles ->
    explode -> broadcast hash-probe -> per-doc count. This is the
    standard 13-gram-overlap decontamination shape (Brown et al., GPT-3
    appendix C) at n=8 to fit the short synthetic docs.

    r16 (guide §2.3/§2.4): the eval and corpus branches partition ONE
    derivation — per-doc shingle hashes — by ``doc_id % 97``, but
    Catalyst cannot CSE across the broadcast barrier, so each branch
    paid its own full parquet scan of the text column (the eval side's
    tokenize+md5 is filter-pruned to 1/97 of docs, but its SCAN is
    not: ``doc_id % 97`` is an expression, never a parquet
    PushedFilter). One LAZY ``localCheckpoint`` of the pre-explode
    (doc_id, shingle-array) table feeds both branches: 2 corpus scans
    -> 1, bit-identical output (the explodes and the join are
    untouched; docs under 8 tokens still vanish with their empty
    arrays). Cost at scale: the materialized arrays are ~8 B/token —
    corpus-sized executor MEMORY_AND_DISK for the duration of the
    query, traded against a second full read of the (similarly sized)
    text column from primary storage. Flip condition: if that
    materialization pressures executor storage at extreme scale,
    checkpoint only the EVAL docs' arrays (1/97 of rows) and let the
    corpus side recompute from its own scan — the old storage profile
    at the cost of the second read. Durability: executor-local, the
    restart-the-query tradeoff documented in ARCHITECTURE.md
    ("localCheckpoint durability"). Measured sf0.1 alternated A/B:
    wins 5/6 pairs, mins 1.40 vs 1.53 s.
    """
    docs = with_tokens(table(spark, sf_dir, "documents"))
    sharr = docs.select(
        "doc_id", F.expr(_shingle_hashes_spark()).alias("shs")
    ).localCheckpoint(eager=False)
    sh = sharr.select("doc_id", F.explode("shs").alias("sh"))
    eval_sh = sh.filter(F.col("doc_id") % EVAL_MOD == 0).select("sh").distinct()
    corpus = sh.filter(F.col("doc_id") % EVAL_MOD != 0)
    hit = F.when(F.col("e_sh").isNotNull(), 1).otherwise(0)
    return (
        corpus.join(
            F.broadcast(eval_sh.select(F.col("sh").alias("e_sh"))),
            corpus.sh == F.col("e_sh"),
            "left",
        )
        .groupBy("doc_id")
        .agg(F.sum(hit).cast("bigint").alias("n_shared"))
        .select(
            "doc_id",
            "n_shared",
            F.when(F.col("n_shared") > 0, 1).otherwise(0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Repetition-based quality filter
# ---------------------------------------------------------------------------


@register(
    "text_repetition_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    bi AS (
        SELECT doc_id,
               greatest(len(t) - 1, 0) AS n_bigrams,
               len(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 1, 0)),
                   i -> t[i] || ' ' || t[i+1]))) AS n_distinct
        FROM toks
    )
    SELECT doc_id, n_bigrams, n_distinct,
           CASE WHEN n_bigrams > 0
                THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_bigrams
                ELSE 0.0 END AS rep_ratio
    FROM bi
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repeated-bigram ratio (the 'duplicated n-gram fraction'
    quality signal): 1 - distinct_bigrams/total_bigrams. Boilerplate and
    looped generations score high and get filtered before training.
    Pure per-row expression; the ratio is one double division of
    identical integers on both engines.
    """
    docs = with_tokens(table(spark, sf_dir, "documents"))
    n_bigrams = F.greatest(F.size("tokens") - 1, F.lit(0))
    # Short-doc guard: sequence(1, 0) descends in Spark (step defaults
    # to -1), so a 0/1-token doc would build out-of-bounds subscripts
    # (null under non-ANSI, a THROW under Spark 4 ANSI defaults) and
    # diverge from DuckDB's empty generate_series(1, 0). The if() makes
    # both engines yield an empty bigram list for docs under 2 tokens.
    n_distinct = F.expr(
        "size(array_distinct(if(size(tokens) >= 2, "
        "transform(sequence(1, size(tokens) - 1), "
        "i -> concat(tokens[i - 1], ' ', tokens[i])), "
        "cast(array() as array<string>))))"
    )
    return docs.select(
        "doc_id",
        n_bigrams.alias("n_bigrams"),
        n_distinct.alias("n_distinct"),
        F.when(
            n_bigrams > 0,
            1.0 - n_distinct.cast("double") / n_bigrams,
        )
        .otherwise(0.0)
        .alias("rep_ratio"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

#: Applied in ORDER (email first so its digits can't half-match as an
#: IP). Every pattern is RE2-safe (no backreferences/lookaround) so
#: Java regex and DuckDB's RE2 match identically. Quantifiers are
#: BOUNDED ({1,256} local part, {1,255} domain), not open-ended `+`:
#: Java's backtracking engine costs O(run²) to fail an unbounded
#: class-run against a megabyte single-token document (the ``giant``
#: hostile corpus hung here; RE2 is automaton-linear and never
#: noticed), while a bound caps the per-position retry count.
#:
#: EMAIL redaction is TWO sequential passes, because no single
#: RE2-safe pattern covers both hazards at once:
#:
#: 1. ``EMAIL_ANCHORED`` — the local part anchored to the start of its
#:    character run by a captured preceding non-class char
#:    (``(^|[^class])``, the RE2-safe lookbehind substitute). Without
#:    an anchor a bounded quantifier matches MID-TOKEN on an over-long
#:    local part, redacting only its tail and leaving the head of the
#:    address in cleartext. An address whose run fits the {1,256}
#:    bound redacts WHOLLY here.
#: 2. ``EMAIL_RESIDUE`` — the unanchored {1,64} form, applied to pass
#:    1's OUTPUT. The anchor alone has a blind spot the round-9
#:    review caught: after pass 1 consumes ``a@b.cc`` in
#:    ``a@b.cc-c@d.cc``, the scan resumes at ``-`` — a local-part
#:    class char — so the anchored pattern can never fire on the
#:    second, fully well-formed address and it survived in CLEARTEXT.
#:    The residue pass catches every remaining email-shaped region
#:    (adjacency chains of any length — it is unanchored and global).
#:
#: Net contract: a run-start email of any local length ≤256 redacts
#: wholly; an email reachable only mid-run (class-char-adjacent, or an
#: over-long >256 local part) redacts its trailing ≤64-char local +
#: domain — partial head exposure ONLY for those adversarial shapes,
#: never a fully-cleartext address. (Both predecessors were strictly
#: worse: the unanchored-only form tail-matched at >64; the
#: anchored-only form left adjacency and >256 fully unredacted.)
#: Quantifiers stay bounded — Java's backtracking costs O(run·bound)
#: to fail, the giant-corpus constraint — and the per-engine
#: replacement syntax differs where a group is re-emitted (``$1``
#: Java, ``\\1`` RE2 rewrite).
#: The anchor class additionally excludes ``@`` — the ONE non-class
#: char that occurs inside an email's own span. Without the
#: exclusion, pass 1 anchors on a FOLLOWING email's ``@`` in a
#: class-char-separated chain (``a@b.cc-c@d.cc-e@f.gg``) and its
#: greedy local part — whose class includes ``.`` and ``-`` — swallows
#: the intervening domain+separator as a bogus address, destroying the
#: real boundary the residue pass needs.
#: ORDERING IS LOAD-BEARING: the literal ``-`` must sit LAST in the
#: class. Written mid-class (``+-@``) it parses as the RANGE
#: U+002B–U+0040 — silently adding ``,;:<=>?/`` to the class, so the
#: anchor never fires after a comma and a >64-char local part leaks
#: its head (the round-9 shipped bug, caught by the property suite).
#: ``tests/test_regex_membership.py`` pins every class's membership
#: char-by-char over printable ASCII so this can't regress silently.
EMAIL_ANCHORED = (
    r"(^|[^a-zA-Z0-9._%@+-])"
    r"([a-zA-Z0-9._%+-]{1,256}@[a-zA-Z0-9.-]{1,255}\.[a-zA-Z]{2,})"
)
EMAIL_RESIDUE = r"[a-zA-Z0-9._%+-]{1,64}@[a-zA-Z0-9.-]{1,255}\.[a-zA-Z]{2,}"

#: Non-email patterns (applied after the email passes, in order, so an
#: email's digits can't half-match as an IP).
PII_PATTERNS = (
    (r"\b\d{1,3}(\.\d{1,3}){3}\b", "[IP]"),
    (r"\d{6,}", "[NUM]"),
)


def scrub_pii(col: Column) -> tuple[Column, Column]:
    """(scrubbed_text, n_redactions) for a string column.

    The email pattern is additionally gated on ``contains('@')`` —
    semantics-identical (no ``@``, no match) but it skips the regex
    scan entirely for the overwhelming share of documents, the cheap
    vectorized prefilter that matters when one document is megabytes.
    """
    has_at = col.contains("@")
    # email pass 1 (anchored whole-run) then pass 2 (residue) — counts
    # follow the same staging: anchored matches counted on the ORIGINAL
    # text, residue matches on pass 1's output (counting the residue on
    # the original would double-count every anchored match)
    after1 = F.regexp_replace(col, EMAIL_ANCHORED, "$1[EMAIL]")
    n_email = F.size(
        F.regexp_extract_all(col, F.lit(EMAIL_ANCHORED), F.lit(0))
    ) + F.size(F.regexp_extract_all(after1, F.lit(EMAIL_RESIDUE), F.lit(0)))
    scrubbed = F.when(
        has_at, F.regexp_replace(after1, EMAIL_RESIDUE, "[EMAIL]")
    ).otherwise(col)
    n = F.when(has_at, n_email).otherwise(F.lit(0))
    for pat, tag in PII_PATTERNS:
        n = n + F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
        scrubbed = F.regexp_replace(scrubbed, pat, tag)
    return scrubbed, n.cast("bigint")


def _duck_email_pass1(col: str) -> str:
    return f"regexp_replace({col}, '{EMAIL_ANCHORED}', '\\1[EMAIL]', 'g')"


def _duck_scrub(col: str) -> str:
    out = (
        f"regexp_replace({_duck_email_pass1(col)}, "
        f"'{EMAIL_RESIDUE}', '[EMAIL]', 'g')"
    )
    for pat, tag in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{tag}', 'g')"
    return out


_DUCK_NRED = (
    f"len(regexp_extract_all(text, '{EMAIL_ANCHORED}'))"
    f" + len(regexp_extract_all({_duck_email_pass1('text')}, "
    f"'{EMAIL_RESIDUE}'))"
    + "".join(
        f" + len(regexp_extract_all(text, '{pat}'))"
        for pat, _tag in PII_PATTERNS
    )
)


@register(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           CAST({_DUCK_NRED} AS BIGINT) AS n_redactions,
           md5({_duck_scrub('text')}) AS scrub_hash
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, IPv4s, long digit runs) with a per-doc
    redaction count; emits md5 of the scrubbed text so the oracle
    verifies the transform byte-for-byte without shipping the corpus.

    The synthetic corpus contains no PII (redaction counts verify as 0
    and scrub_hash == md5(text)) — the POSITIVE path is pinned by
    ``tests/test_traindata.py`` on in-memory rows with real-shaped
    emails/IPs/account numbers. Per-row regex, no shuffle at all.

    Counting note: counts are computed on the ORIGINAL text per pattern
    (an email's digits are not re-counted as [NUM] because replacement
    happens after counting; overlapping-class text is counted once per
    matching class, deterministically in both engines).
    """
    docs = table(spark, sf_dir, "documents")
    scrubbed, n_red = scrub_pii(F.col("text"))
    return docs.select(
        "doc_id",
        n_red.alias("n_redactions"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chop)
# ---------------------------------------------------------------------------

PACK_CONTEXT = 128  # tokens per training sequence


@register(
    "docs_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, len({TOKENS_DUCK}) AS n_tokens FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM toks
    )
    SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST((cum_tokens - n_tokens) // {PACK_CONTEXT} AS BIGINT) AS pack_id,
           CAST((cum_tokens - n_tokens) % {PACK_CONTEXT} AS BIGINT) AS offset_in_pack,
           CAST((cum_tokens - 1) // {PACK_CONTEXT}
               - (cum_tokens - n_tokens) // {PACK_CONTEXT} + 1 AS BIGINT) AS n_packs_spanned
    FROM c
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing: documents are laid end-to-end
    per language stream (ordered by doc_id) and chopped into fixed
    128-token training sequences; each doc learns its pack id, offset,
    and how many pack boundaries it straddles.

    One windowed cumulative sum per stream — the idiomatic Spark shape
    for packing. At 100 TB a per-``lang`` partition is too coarse (one
    task per language); the production call sites pack per (lang, shard)
    with ``shard = pmod(hash(doc_id), n_shards)`` — packing is
    order-dependent but shards are independent streams, so per-shard
    packing is equally valid and embarrassingly parallel. The query
    keeps the single-stream form so the oracle pins the arithmetic.
    """
    docs = with_tokens(table(spark, sf_dir, "documents"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = docs.select(
        "doc_id",
        "lang",
        F.size("tokens").alias("n_tokens"),
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
    return base.withColumns(
        {
            "pack_id": F.expr(f"(cum_tokens - n_tokens) div {PACK_CONTEXT}"),
            "offset_in_pack": (F.col("cum_tokens") - F.col("n_tokens"))
            % PACK_CONTEXT,
            "n_packs_spanned": F.expr(
                f"(cum_tokens - 1) div {PACK_CONTEXT} "
                f"- (cum_tokens - n_tokens) div {PACK_CONTEXT} + 1"
            ),
        }
    )


PACK_SHARDS = 4  # independent packing streams per language


@register(
    "docs_pack_sequences_sharded",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST({id_hash_duck('doc_id', PACK_SHARDS)} AS BIGINT) AS shard,
               len({TOKENS_DUCK}) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, shard, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM toks
    )
    SELECT doc_id, lang, shard, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST((cum_tokens - n_tokens) // {PACK_CONTEXT} AS BIGINT) AS pack_id,
           CAST((cum_tokens - n_tokens) % {PACK_CONTEXT} AS BIGINT) AS offset_in_pack,
           CAST((cum_tokens - 1) // {PACK_CONTEXT}
               - (cum_tokens - n_tokens) // {PACK_CONTEXT} + 1 AS BIGINT) AS n_packs_spanned
    FROM c
    """,
)
def docs_pack_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-parallel sequence packing — the 100-TB form of
    ``docs_pack_sequences``: each language stream is split into
    {PACK_SHARDS} deterministic hash shards and packed independently, so
    the cumulative-sum window partitions on (lang, shard) instead of one
    task per language. Packing is order-dependent WITHIN a stream, but
    streams are arbitrary to begin with — per-shard packing is equally
    valid training data and embarrassingly parallel (n_shards scales
    with the cluster, e.g. 10k shards at 100 TB; {PACK_SHARDS} here keeps
    the oracle's window count readable).

    The shard id is the same md5 bucket used everywhere (pure function
    of doc_id — stable across engines, reruns, and retries); pack ids
    are therefore local to a (lang, shard) stream.
    """
    docs = with_tokens(table(spark, sf_dir, "documents"))
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = docs.select(
        "doc_id",
        "lang",
        F.expr(id_hash_spark("doc_id", PACK_SHARDS)).cast("bigint").alias("shard"),
        F.size("tokens").alias("n_tokens"),
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
    return base.withColumns(
        {
            "pack_id": F.expr(f"(cum_tokens - n_tokens) div {PACK_CONTEXT}"),
            "offset_in_pack": (F.col("cum_tokens") - F.col("n_tokens"))
            % PACK_CONTEXT,
            "n_packs_spanned": F.expr(
                f"(cum_tokens - 1) div {PACK_CONTEXT} "
                f"- (cum_tokens - n_tokens) div {PACK_CONTEXT} + 1"
            ),
        }
    )


# ---------------------------------------------------------------------------
# Weighted event sampling
# ---------------------------------------------------------------------------

#: Per-class keep rates out of 10000 (rare/valuable classes kept whole,
#: high-volume classes downsampled — the domain-mixing step of a
#: training pipeline).
SAMPLE_RATES = {
    "click": 1000,
    "view": 500,
    "error": 2500,
    "purchase": 10000,
    "signup": 10000,
}


def _rate_case() -> str:
    """CASE mapping event_type -> keep rate (same SQL in both engines)."""
    branches = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items())
    )
    return f"CASE event_type {branches} ELSE 0 END"


@register(
    "events_weighted_sample",
    oracle=f"""
    WITH u AS (
        SELECT event_id, event_type,
               {id_hash_duck('event_id', 10000)} AS u
        FROM events
    )
    SELECT event_id, event_type, u
    FROM u
    WHERE u < {_rate_case()}
    """,
)
def events_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-class weighted sampling (domain mixing):
    keep event e iff md5-hash(event_id) mod 10000 < rate(event_type).

    Hash-threshold sampling, not ``sample()``: membership is a pure
    function of the id, so the sample is identical across reruns,
    retries, and engines — and it composes (a 10% sample of a 50%
    sample is the cheaper predicate AND). The plan is a scan plus a
    per-row md5 filter — zero shuffle (the predicate is over a hash,
    so no parquet reader can prune row groups on it; the win is that
    no shuffle or sort is ever needed to sample).
    """
    events = table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "event_type",
        F.expr(id_hash_spark("event_id", 10000)).alias("u"),
    ).filter(F.col("u") < F.expr(_rate_case()))


# ---------------------------------------------------------------------------
# Stratified fixed-size sampling
# ---------------------------------------------------------------------------

STRATUM_K = 20  # docs kept per language
STRAT_HASH_MOD = 1_000_000  # hash range for rank ordering + pre-filter
STRAT_SAFETY = 4  # pre-filter keeps ~SAFETY x k rows per stratum


def bounded_stratum_rank(
    docs_h: DataFrame, targets: DataFrame, stratum: str, k_col: str
) -> DataFrame:
    """Rank rows per stratum by (h, doc_id) with the window input
    BOUNDED by a hash-threshold pre-filter — the scale fix for
    K-per-stratum sampling, whose naive rank window feeds an entire
    stratum into one task.

    ``docs_h``: (stratum, doc_id, h) with h uniform in [0, MOD).
    ``targets``: one row per stratum with total count ``n_str`` and
    quota ``k_col``.

    Only rows with ``h < ceil(SAFETY * k * MOD / n_str)`` enter the
    window — an expected SAFETY*k rows per stratum REGARDLESS of corpus
    size. Exactness is unconditional, not probabilistic: the filter
    keeps *every* row below the threshold, so whenever >= k rows
    survive, the k smallest (h, doc_id) pairs of the full stratum are
    all among them and their ranks 1..k are unchanged; strata where
    fewer than k survive (SAFETY=4 makes this a >4-sigma event for any
    k >= 20, but it is checked, not assumed) bypass the filter entirely
    and rank the full stratum. The check costs one extra tiny aggregate
    over the same scan — |strata| rows, broadcast back.
    """
    thr = F.least(
        F.lit(STRAT_HASH_MOD),
        F.ceil(F.lit(STRAT_SAFETY) * F.col(k_col) * STRAT_HASH_MOD / F.col("n_str")),
    ).cast("bigint")
    t = targets.withColumn("thr", thr)
    # Null-safe (<=>) stratum joins: a NULL stratum is real data (the
    # "unknown" bucket every 100-TB corpus carries) and must be SAMPLED
    # like any other — a plain equi-join drops it silently, which the
    # round-8 null-injection sweep caught (window-based oracles keep
    # the NULL partition). No-op on corpora without null strata.
    joined = docs_h.alias("d").join(
        F.broadcast(t.alias("t")),
        F.expr(f"d.`{stratum}` <=> t.`{stratum}`"),
    ).drop(F.col(f"t.`{stratum}`"))
    pre_n = joined.groupBy(stratum).agg(
        F.sum(F.when(F.col("h") < F.col("thr"), 1).otherwise(0)).alias("n_pre")
    )
    bounded = (
        joined.alias("j")
        .join(
            F.broadcast(pre_n.alias("p")),
            F.expr(f"j.`{stratum}` <=> p.`{stratum}`"),
        )
        .drop(F.col(f"p.`{stratum}`"))
        .filter((F.col("h") < F.col("thr")) | (F.col("n_pre") < F.col(k_col)))
    )
    w = Window.partitionBy(stratum).orderBy("h", "doc_id")
    return bounded.withColumn("rk", F.row_number().over(w))


@register(
    "text_stratified_sample",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                   ORDER BY {id_hash_duck('doc_id', 1000000)}, doc_id) AS rk
        FROM documents
    )
    SELECT doc_id, lang, rk FROM ranked WHERE rk <= {STRATUM_K}
    """,
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-K-per-stratum sampling: the first K docs of each language
    by hash rank — a uniform random draw that is a pure function of the
    ids (reproducible across engines, reruns, and retries; tie-broken by
    doc_id so equal hashes cannot reorder).

    Scale: the rank window's input is BOUNDED by a hash-threshold
    pre-filter (``bounded_stratum_rank``) — each stratum's ranking task
    sees an expected SAFETY*K rows no matter how large the stratum, so
    a 100-TB English pile ranks the same few dozen rows a 500-doc test
    corpus does. Result is provably identical to ranking the full
    stratum (see the helper's docstring); the oracle ranks the full
    stratum and the driver hash-checks them equal.
    """
    docs = table(spark, sf_dir, "documents")
    docs_h = docs.select(
        "doc_id",
        "lang",
        F.expr(id_hash_spark("doc_id", STRAT_HASH_MOD)).alias("h"),
    )
    targets = (
        docs_h.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_str"))
        .withColumn("k", F.lit(STRATUM_K))
    )
    ranked = bounded_stratum_rank(docs_h, targets, "lang", "k")
    return ranked.filter(F.col("rk") <= STRATUM_K).select("doc_id", "lang", "rk")


# ---------------------------------------------------------------------------
# Per-user event sequences (behavior-sequence training prep)
# ---------------------------------------------------------------------------


@register(
    "events_user_sequences",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           string_agg(event_type, '>' ORDER BY event_id) AS seq
    FROM events
    GROUP BY user_id
    """,
)
def events_user_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered action sequences ('click>view>purchase>...') —
    the sequence-modeling training-prep shape (next-action prediction,
    session language models).

    One hash aggregate: ``collect_list(struct(event_id, type))`` with
    map-side partials, sorted per user AFTER aggregation (sort_array on
    the struct orders by event_id — array size is user-bounded, never
    corpus-bounded). Sequence order is event_id (generation order):
    deterministic in both engines, unlike raw timestamps, which Spark
    reads at µs and DuckDB at ns — equal-µs events could interleave
    differently.
    """
    events = table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "concat_ws('>', transform("
                "sort_array(collect_list(struct(event_id, event_type))), "
                "x -> x.event_type))"
            ).alias("seq"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling per-user features (time-series feature engineering)
# ---------------------------------------------------------------------------

ROLL_WINDOW = 5  # current event + 4 preceding


@register(
    "events_rolling_features",
    oracle=f"""
    WITH c AS (
        SELECT user_id, event_id, event_type,
               TRY_CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT user_id, event_id, event_type,
           lag(event_type) OVER w AS prev_type,
           CAST(SUM(cents) OVER (w ROWS BETWEEN {ROLL_WINDOW - 1} PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS roll_cents,
           CAST(COUNT(*) OVER (w ROWS BETWEEN {ROLL_WINDOW - 1} PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS roll_n,
           CAST(SUM(cents) OVER (w ROWS BETWEEN {ROLL_WINDOW - 1} PRECEDING
                                 AND CURRENT ROW) AS DOUBLE)
               / 100.0
               / COUNT(*) OVER (w ROWS BETWEEN {ROLL_WINDOW - 1} PRECEDING
                                AND CURRENT ROW) AS roll_avg
    FROM c
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def events_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling per-user features over the event stream: previous action
    plus a {ROLL_WINDOW}-event moving sum/count/average of spend — the classic
    behavioral-model feature set (lag features + moving aggregates).

    One window pass partitioned by user_id, ordered by event_id
    (generation order — deterministic in both engines, unlike raw
    timestamps at differing precision). The moving sum runs on integer
    cents: window-aggregate implementations are free to reassociate
    float additions (DuckDB uses segment trees), but integer sums are
    associative, so both engines agree bit-for-bit; the average is one
    double division at the end. Scale: per-user partitions are
    independent and user-bounded; a pathological single hot user would
    need session-chunking, not a different operator.
    """
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    wf = w.rowsBetween(-(ROLL_WINDOW - 1), Window.currentRow)
    cents = F.expr("try_cast(round(value * 100) as bigint)")
    roll_cents = F.sum(cents).over(wf)
    roll_n = F.count(F.lit(1)).over(wf)
    return events.select(
        "user_id",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        roll_cents.cast("bigint").alias("roll_cents"),
        roll_n.cast("bigint").alias("roll_n"),
        (roll_cents.cast("double") / 100.0 / roll_n).alias("roll_avg"),
    )


# ---------------------------------------------------------------------------
# Per-class standardization (z-score features)
# ---------------------------------------------------------------------------


@register(
    "events_zscore",
    oracle="""
    WITH c AS (
        SELECT event_id, event_type,
               TRY_CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    stats AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(cents * cents) AS BIGINT) AS ss
        FROM c GROUP BY event_type
    )
    SELECT c.event_id, c.event_type,
           CAST(c.cents AS DOUBLE) / 100.0 AS value,
           CASE WHEN CAST(s.ss AS DOUBLE) / s.n
                     - (CAST(s.s AS DOUBLE) / s.n) * (CAST(s.s AS DOUBLE) / s.n) > 0
                THEN (CAST(c.cents AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)
                     / sqrt(CAST(s.ss AS DOUBLE) / s.n
                            - (CAST(s.s AS DOUBLE) / s.n) * (CAST(s.s AS DOUBLE) / s.n))
                ELSE NULL END AS z
    FROM c JOIN stats s ON s.event_type = c.event_type
    """,
)
def events_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class z-score standardization of event values — the
    two-pass feature-scaling shape: tiny per-class moment aggregate,
    broadcast back onto the stream, per-row arithmetic.

    Exactness: sum and sum-of-squares accumulate as integer cents
    (associative — partition order cannot change them; max ss ≈
    rows x (10^4 cents)^2 < 2^63 comfortably at any tested SF), and
    both engines then evaluate the IDENTICAL chain of double ops on
    identical integers. The stats side is |event_types| rows —
    broadcast, so the fact side never shuffles.

    Degenerate-class guard: a class whose values are all equal has
    var = 0, where Spark's Divide returns NULL (non-ANSI) but DuckDB
    returns inf/NaN — both engines are therefore pinned to NULL via an
    explicit var > 0 guard (also shields the tiny-negative-var case the
    mean*mean subtraction can produce in float arithmetic).
    """
    events = table(spark, sf_dir, "events")
    c = events.select(
        "event_id", "event_type", F.expr("try_cast(round(value * 100) as bigint)").alias("cents")
    )
    stats = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    return (
        c.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            (F.col("cents").cast("double") / 100.0).alias("value"),
            F.when(var > 0, (F.col("cents").cast("double") - mean) / F.sqrt(var))
            .otherwise(F.lit(None).cast("double"))
            .alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# Token-length histogram (corpus shape audit)
# ---------------------------------------------------------------------------

HIST_BUCKET = 10  # tokens per bucket


@register(
    "docs_length_histogram",
    oracle=f"""
    WITH toks AS (
        SELECT len({TOKENS_DUCK}) AS n_tokens FROM documents
    )
    SELECT (n_tokens // {HIST_BUCKET}) * {HIST_BUCKET} AS bucket_lo,
           COUNT(*) AS n_docs
    FROM toks
    GROUP BY 1
    """,
)
def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram of the corpus (width-{HIST_BUCKET} ``HIST_BUCKET`` buckets) — the
    one-glance shape audit run before choosing chunk/pack sizes. Pure
    map + |buckets|-row aggregate; the 100 TB plan is identical.
    """
    docs = with_tokens(table(spark, sf_dir, "documents"))
    bucket = F.expr(
        f"(size(tokens) div {HIST_BUCKET}) * cast({HIST_BUCKET} as bigint)"
    )
    return (
        docs.select(bucket.alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Temperature-balanced mixture sampling (domain rebalancing)
# ---------------------------------------------------------------------------

MIX_TOTAL = 200  # sampled corpus size across all languages


@register(
    "docs_mixture_sample",
    oracle=f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    arr AS (
        SELECT list(lang ORDER BY lang) AS langs,
               list(n ORDER BY lang) AS ns,
               list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang) AS ws
        FROM counts
    ),
    targets AS (
        SELECT unnest(langs) AS lang,
               CAST(unnest(ns) AS BIGINT) AS n_docs,
               TRY_CAST(round({MIX_TOTAL} * unnest(ws) /
                    list_reduce(list_prepend(0.0::DOUBLE, ws), (a, x) -> a + x))
                    AS BIGINT) AS target_n
        FROM arr
    ),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                   ORDER BY {id_hash_duck('doc_id', 1000000)}, doc_id) AS rk
        FROM documents
    ),
    kept AS (
        SELECT r.lang, COUNT(*) AS kept_n
        FROM ranked r JOIN targets t ON t.lang = r.lang
        WHERE r.rk <= t.target_n
        GROUP BY r.lang
    )
    SELECT t.lang, t.n_docs, t.target_n,
           CAST(COALESCE(k.kept_n, 0) AS BIGINT) AS kept_n
    FROM targets t LEFT JOIN kept k ON k.lang = t.lang
    """,
)
def docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced mixture sampling (T=0.5): per-language
    targets proportional to sqrt(count) — the domain-rebalancing step
    of an LLM data mix (upweights rare languages relative to head
    domains; multinomial-alpha sampling with alpha=0.5), then a
    deterministic hash-ranked draw of exactly target_n docs per
    language.

    Determinism across engines: per-domain weights use sqrt (correctly
    rounded per IEEE-754, unlike pow), and the weight-sum folds
    SEQUENTIALLY over the lang-sorted array (``aggregate`` /
    ``list_reduce``) so neither engine's aggregation order can perturb
    the total. The targets table is |domains|-sized — broadcast; the
    corpus side's rank window is input-bounded by the same
    hash-threshold pre-filter as ``text_stratified_sample``
    (``bounded_stratum_rank``: expected SAFETY*target_n rows per
    stratum at any corpus size, provably identical output).
    """
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    arr = counts.agg(
        F.array_sort(F.collect_list(F.struct("lang", "n"))).alias("cs")
    ).withColumn(
        "total",
        F.expr(
            "aggregate(transform(cs, x -> sqrt(cast(x.n as double))), "
            "cast(0.0 as double), (a, x) -> a + x)"
        ),
    )
    targets = arr.select(
        F.explode(
            F.expr(
                f"transform(cs, x -> named_struct("
                f"'lang', x.lang, 'n_docs', cast(x.n as bigint), "
                f"'target_n', try_cast(round({MIX_TOTAL} * sqrt(cast(x.n as double)) / total) as bigint)))"
            )
        ).alias("t")
    ).select("t.lang", "t.n_docs", "t.target_n")
    docs_h = docs.select(
        "doc_id",
        "lang",
        F.expr(id_hash_spark("doc_id", STRAT_HASH_MOD)).alias("h"),
    )
    ranked = bounded_stratum_rank(
        docs_h, targets.withColumnRenamed("n_docs", "n_str"), "lang", "target_n"
    )
    kept = (
        ranked.filter(F.col("rk") <= F.col("target_n"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("kept_n"))
    )
    return (
        targets.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "target_n",
            F.coalesce("kept_n", F.lit(0)).cast("bigint").alias("kept_n"),
        )
    )


# ---------------------------------------------------------------------------
# Product analytics: ordered funnel + cohort retention
# ---------------------------------------------------------------------------


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts >= s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        GROUP BY e.user_id
    )
    SELECT '1_view' AS step, (SELECT count(*) FROM s1) AS n_users
    UNION ALL
    SELECT '2_click', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT '3_purchase', (SELECT count(*) FROM s3)
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts
    at step k only if the step-k event happens AT OR AFTER their
    step-(k-1) entry time (the strict-ordering semantics real funnel
    tools use, not three independent counts).

    Three chained (filter → per-user min → join) stages, every shuffle
    keyed user_id — co-partitioned end to end, so stages 2 and 3 reuse
    the stage-1 partitioning instead of re-exchanging; each stage's
    state is one timestamp per surviving user (monotonically shrinking).
    Equality on event timestamps is µs in BOTH engines (the registry
    repairs the parquet's nanos to micros; DuckDB's TIMESTAMP is µs),
    so the >= gates can never disagree.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def count_step(df: DataFrame, step: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(step).alias("step"), "n_users"
        )

    return (
        count_step(s1, "1_view")
        .unionByName(count_step(s2, "2_click"))
        .unionByName(count_step(s3, "3_purchase"))
    )


@register(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(min(ts) AS DATE) AS first_date
        FROM events GROUP BY user_id
    )
    SELECT strftime(f.first_date, '%Y-%m-%d') AS cohort_date,
           date_diff('day', f.first_date, CAST(e.ts AS DATE)) // 7
               AS week_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM events e
    JOIN firsts f ON f.user_id = e.user_id
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen date,
    counted distinct in each subsequent week offset — the table every
    growth dashboard renders.

    Per-user first-seen is one aggregate on user_id; the join back is
    on the same key (co-partitioned, no extra exchange); the distinct
    count shuffles once on (cohort, offset, user) then reduces. Week
    offsets are INTEGER day-diffs div 7 on both engines — no week-start
    or timezone convention can drift the bucket edges the way
    date_trunc('week') would.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("first_date")
    )
    return (
        ev.join(firsts, "user_id")
        .select(
            F.date_format("first_date", "yyyy-MM-dd").alias("cohort_date"),
            F.expr("datediff(cast(ts as date), first_date) div 7")
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_date", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation: every per-doc verdict in one table
# ---------------------------------------------------------------------------


def _curation_oracle() -> str:
    """Stitch the quality, repetition, and near-dup-CC oracles into one
    statement (imported lazily to keep module import order acyclic).
    Every sub-pipeline's SQL is the SAME text the standalone queries
    use, so this row fails if ANY stage drifts."""
    from spark_etl_pipeline_spark.operators.dedup import (
        _MINHASH_PAIRS_CTES,
        components_ctes,
    )
    from spark_etl_pipeline_spark.operators.text import (
        EN_STOPWORDS,
        REP_DUP_TRIGRAM_MAX,
        REP_MAX_WORD_MAX,
        REP_TOP_BIGRAM_MAX,
    )

    return f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    {components_ctes('dup_pairs', 'doc_a', 'doc_b')},
    dropped AS (SELECT v FROM comp WHERE component != v),
    qtoks AS (
        SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    qual AS (
        SELECT doc_id,
               CASE WHEN len(t) BETWEEN 5 AND 2000
                     AND CAST(len(list_distinct(t)) AS DOUBLE)/len(t) >= 0.1
                    THEN 1 ELSE 0 END AS qual_keep
        FROM qtoks
    ),
    rbg AS (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN list_transform(
            generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
            ELSE [] END) AS g
        FROM qtoks
    ),
    rbgc AS (SELECT doc_id, g, count(*) AS c FROM rbg GROUP BY doc_id, g),
    rbga AS (
        SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS r1
        FROM rbgc GROUP BY doc_id
    ),
    rtri AS (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN list_transform(
            generate_series(1, len(t) - 2),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
            ELSE [] END) AS s
        FROM qtoks
    ),
    rtric AS (
        SELECT doc_id,
               CAST(count(*) - count(DISTINCT s) AS DOUBLE) / count(*) AS r2
        FROM rtri GROUP BY doc_id
    ),
    rwcc AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(t) AS w FROM qtoks)
        GROUP BY doc_id, w
    ),
    rwa AS (
        SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS r3
        FROM rwcc GROUP BY doc_id
    ),
    rep AS (
        -- word family is the spine; absent gram families count 0.0
        -- (the repetition filter's total-verdict contract)
        SELECT w.doc_id,
               CASE WHEN COALESCE(b.r1, 0.0) <= {REP_TOP_BIGRAM_MAX}
                     AND COALESCE(t.r2, 0.0) <= {REP_DUP_TRIGRAM_MAX}
                     AND w.r3 <= {REP_MAX_WORD_MAX}
                    THEN 1 ELSE 0 END AS rep_keep
        FROM rwa w
        LEFT JOIN rbga b USING (doc_id)
        LEFT JOIN rtric t USING (doc_id)
    )
    SELECT d.doc_id, d.lang,
           q.qual_keep, r.rep_keep,
           CASE WHEN d.doc_id IN (SELECT v FROM dropped) THEN 0 ELSE 1 END
               AS dedup_keep,
           CASE WHEN q.qual_keep = 1 AND r.rep_keep = 1
                 AND d.doc_id NOT IN (SELECT v FROM dropped)
                THEN 1 ELSE 0 END AS keep
    FROM documents d
    JOIN qual q ON q.doc_id = d.doc_id
    JOIN rep r ON r.doc_id = d.doc_id
    """  # noqa: F841 (EN_STOPWORDS imported for parity with quality_columns)


@register("docs_curation_pipeline", oracle=_curation_oracle())
def docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end curation verdict table: per document, the quality
    gate, the intra-doc repetition gate, and the cross-corpus near-dup
    canonical gate, plus the final AND — what a training-data pipeline
    materializes before tokenization.

    Composes three independently-oracled sub-pipelines
    (``text_quality_score``, ``text_repetition_filter``,
    ``dedup_minhash_lsh`` → ``connected_components``) and is oracled
    AGAIN as a whole, so drift in any stage fails this row too. Scale
    shape: each signal family is its own scan+aggregate branch keyed
    doc_id; the final assembly is doc_id-co-partitioned joins plus one
    left-anti-style flag join against the dup-bounded drop list,
    broadcast while the label table's row count fits. The corpus is
    never shuffled on anything wider than doc_id.
    """
    from spark_etl_pipeline_spark.operators.dedup import (
        connected_components,
        dedup_minhash_lsh,
    )
    from spark_etl_pipeline_spark.operators.text import (
        text_quality_score,
        text_repetition_filter,
    )

    docs = table(spark, sf_dir, "documents")
    qual = text_quality_score(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("qual_keep")
    )
    rep = text_repetition_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("rep_keep")
    )
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b")
    dropped = labels.filter(F.col("label") != F.col("id")).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("is_dup")
    )
    dropped = broadcast_if_fits(dropped, labels.count())
    return (
        docs.select("doc_id", "lang")
        .join(qual, "doc_id")
        .join(rep, "doc_id")
        .join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "qual_keep",
            "rep_keep",
            F.when(F.col("is_dup").isNull(), 1).otherwise(0).alias("dedup_keep"),
            F.when(
                (F.col("qual_keep") == 1)
                & (F.col("rep_keep") == 1)
                & F.col("is_dup").isNull(),
                1,
            )
            .otherwise(0)
            .alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Leakage-safe splitting, shard shuffling, token-budget selection
# ---------------------------------------------------------------------------


def _leakage_safe_oracle() -> str:
    from spark_etl_pipeline_spark.operators.dedup import (
        _MINHASH_PAIRS_CTES,
        components_ctes,
    )

    return f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    {components_ctes('dup_pairs', 'doc_a', 'doc_b')},
    tagged AS (
        SELECT d.lang, d.n_chars, COALESCE(c.component, d.doc_id) AS grp
        FROM documents d LEFT JOIN comp c ON c.v = d.doc_id
    )
    SELECT lang,
           CASE WHEN {id_hash_duck('grp', 100)} < {SPLIT_TRAIN_PCT}
                     THEN 'train'
                WHEN {id_hash_duck('grp', 100)}
                     < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT grp) AS n_groups,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tagged
    GROUP BY 1, 2
    """


@register("docs_split_leakage_safe", oracle=_leakage_safe_oracle())
def docs_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that can NEVER leak near-duplicates across
    splits: hash the duplicate-CLUSTER id, not the document id.

    A plain per-doc hash split (``text_train_test_split``) puts ~10% of
    each near-dup cluster's members in eval — the classic contamination
    bug that inflates benchmark scores. Here LSH pairs feed connected
    components, every doc takes its component's min-id as group key
    (singletons: own id), and the 90/5/5 hash runs on the GROUP —
    whole clusters move together by construction. The audit output is
    per (lang, split) with distinct-group counts; the pytest twin
    asserts the straddling-pair count is literally zero while the
    per-doc split does straddle.

    Scale shape: the pair graph is dup-bounded (see
    ``docs_dedup_corpus``); the label join back to the corpus broadcasts
    the (small) label side while its row count fits.
    """
    from spark_etl_pipeline_spark.operators.dedup import (
        connected_components,
        dedup_minhash_lsh,
    )

    docs = table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b")
    labels = broadcast_if_fits(labels, labels.count())
    tagged = (
        docs.join(labels, docs.doc_id == labels.id, "left")
        .withColumn("grp", F.coalesce("label", "doc_id"))
        .withColumn("split", split_column("grp"))
    )
    return tagged.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("grp").alias("n_groups"),
        F.sum("n_chars").alias("total_chars"),
    )


N_SHARDS = 16


@register(
    "docs_shard_shuffle",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               {id_hash_duck('doc_id', N_SHARDS)} AS shard,
               md5(CAST(doc_id AS VARCHAR)) AS ok
        FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id)
                AS BIGINT) AS pos
    FROM keyed
    """,
)
def docs_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: (doc_id, shard, pos).

    Training dataloaders need the corpus in a reproducible random-ish
    order, sharded so each reader streams one file set. Shard = md5
    bucket of doc_id; in-shard position = rank of the md5 hex string —
    a pure function of the id, so re-runs, retries, and incremental
    rebuilds emit the identical order (``rand()`` never could). One
    shuffle on shard; each rank window is corpus/N_SHARDS rows, and in
    production N_SHARDS scales with the corpus to hold a target
    rows-per-shard — the window never sees unbounded input.
    """
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.expr(id_hash_spark("doc_id", N_SHARDS)).alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("ok"),
    )
    w = Window.partitionBy("shard").orderBy("ok", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


TOKEN_BUDGET_PER_SOURCE = 20_000  # chars; stand-in token estimate


@register(
    "docs_token_budget_select",
    oracle=f"""
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               SUM(n_chars) OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS running
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_selected,
           CAST(SUM(n_chars) AS BIGINT) AS chars_selected
    FROM ranked
    WHERE running <= {TOKEN_BUDGET_PER_SOURCE}
    GROUP BY source
    """,
)
def docs_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source corpus selection under a token budget.

    Every pretraining mix allocates a budget per source/domain and
    fills it greedily by a priority order (here: longest docs first,
    doc_id tiebreak — swap in a quality score without changing the
    plan). The running sum is a per-source window ordered by the
    priority key; a doc is kept while the cumulative total stays under
    budget. One shuffle on source; window input is bounded per source
    (production sub-shards a giant source by hash prefix and allocates
    the budget across sub-shards — same plan, smaller partitions).
    """
    docs = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = docs.select(
        "source", "doc_id", "n_chars", F.sum("n_chars").over(w).alias("running")
    )
    return (
        ranked.filter(F.col("running") <= TOKEN_BUDGET_PER_SOURCE)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n_chars").alias("chars_selected"),
        )
    )


@register(
    "events_feature_assembly",
    oracle="""
    WITH feat AS (
        SELECT event_id, user_id, ts, event_type,
               COUNT(*) OVER w AS n_prior_events,
               COALESCE(SUM(TRY_CAST(round(value*100) AS BIGINT)) OVER w, 0)
                   AS prior_value_cents
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS label_ts,
           n_prior_events,
           CAST(prior_value_cents AS DOUBLE)/100.0 AS prior_value
    FROM feat
    WHERE event_type = 'purchase'
    """,
)
def events_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-example assembly: each purchase
    (the label event) carries the user's activity features computed
    STRICTLY BEFORE the label timestamp — the leakage rule every
    feature-store join must honor (a feature computed at or after the
    label time trains a model on the future).

    The exclusive frame ``ROWS UNBOUNDED PRECEDING TO 1 PRECEDING``
    over (ts, event_id) per user makes "strictly before" exact even
    for same-timestamp ties, in one window pass — no self-join, no
    as-of lookup table. One shuffle on user_id; window input is
    bounded by per-user activity (the same contract as
    ``events_user_sequences``). Sums are integer cents, divided once.
    """
    events = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        events.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.count(F.lit(1)).over(w).alias("n_prior_events"),
            F.coalesce(
                F.sum(F.expr("try_cast(round(value*100) as bigint)")).over(w),
                F.lit(0),
            ).alias("prior_value_cents"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("label_ts"),
            "n_prior_events",
            (F.col("prior_value_cents").cast("double") / 100.0).alias(
                "prior_value"
            ),
        )
    )


@register(
    "events_value_deciles",
    oracle="""
    WITH v AS (SELECT TRY_CAST(round(value*100) AS BIGINT) AS vc FROM events),
    b AS (
        SELECT quantile_disc(vc,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
        FROM v
    )
    SELECT len(list_filter(b.bs, x -> v.vc > x)) + 1 AS decile,
           COUNT(*) AS n,
           CAST(MIN(v.vc) AS DOUBLE)/100.0 AS min_value,
           CAST(MAX(v.vc) AS DOUBLE)/100.0 AS max_value
    FROM v, b
    GROUP BY 1
    """,
)
def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decile discretization — the scale-safe feature-binning shape.

    A global ``ntile`` would rank the whole table in ONE window
    partition (a driver-sized sort at 100 TB); instead the nine decile
    BOUNDARIES reduce in one aggregate (``percentile_disc`` over exact
    integer cents — order statistics, no float interpolation), the
    9-number row broadcasts, and binning is a per-row lambda over the
    broadcast array. Two passes over the data, zero unbounded state.
    ``percentile_disc`` picks actual data values (smallest value with
    CDF ≥ p, the SQL-standard convention DuckDB's ``quantile_disc``
    shares), so boundaries are exact bigints in both engines.
    """
    from spark_etl_pipeline_spark.functions import cents

    events = table(spark, sf_dir, "events")
    v = events.select(cents("value").alias("vc"))
    bound_exprs = [
        F.expr(
            f"cast(percentile_disc({p/10}) WITHIN GROUP (ORDER BY vc) as bigint)"
        ).alias(f"b{p}")
        for p in range(1, 10)
    ]
    bounds = v.agg(F.array(*bound_exprs).alias("bs"))
    return (
        v.join(F.broadcast(bounds))
        .select(
            (F.expr("size(filter(bs, x -> vc > x))") + 1).alias("decile"),
            "vc",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.min("vc").cast("double") / 100.0).alias("min_value"),
            (F.max("vc").cast("double") / 100.0).alias("max_value"),
        )
    )


FUNNEL_WINDOW_HOURS = 48


@register(
    "events_funnel_windowed",
    oracle=f"""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click'
          AND e.ts >= s1.t1
          AND e.ts <= s1.t1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts >= s2.t2
          AND e.ts <= s2.t2 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
        GROUP BY e.user_id
    )
    SELECT '1_view' AS step, (SELECT count(*) FROM s1) AS n_users
    UNION ALL
    SELECT '2_click', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT '3_purchase', (SELECT count(*) FROM s3)
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel with a BOUNDED conversion window: each step
    counts only within 48 hours of the previous step's entry — the
    semantics product analytics actually reports ("converted within
    48h"), where the unbounded funnel (``events_funnel``) overstates
    late conversions. Same co-partitioned chained-stage shape; the
    window bound is one extra µs-exact predicate per stage, and at
    scale it is also the state-expiry contract: a step's candidate set
    ages out after the window, exactly like a stream-stream interval
    join's watermark.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    bound = F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") >= F.col("t1")) & (F.col("ts") <= F.col("t1") + bound))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") >= F.col("t2")) & (F.col("ts") <= F.col("t2") + bound))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    steps = [("1_view", s1), ("2_click", s2), ("3_purchase", s3)]
    out = None
    for label, stage in steps:
        row = stage.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
            F.lit(label).alias("step"), "n_users"
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "events_value_winsorized",
    oracle="""
    WITH v AS (
        SELECT event_type, TRY_CAST(round(value*100) AS BIGINT) AS vc FROM events
    ),
    b AS (
        SELECT quantile_disc(vc, 0.05) AS lo, quantile_disc(vc, 0.95) AS hi
        FROM v
    ),
    clipped AS (
        SELECT v.event_type, v.vc,
               least(greatest(v.vc, b.lo), b.hi) AS wc
        FROM v, b
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN wc <> vc THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           CAST(SUM(vc) AS DOUBLE)/100.0 AS sum_raw,
           CAST(SUM(wc) AS DOUBLE)/100.0 AS sum_winsorized
    FROM clipped
    GROUP BY event_type
    """,
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%/95%-clipped) per-type value totals: the robust
    preprocessing that keeps a handful of fat-finger outliers from
    dominating a trained model's target or a revenue report — clip,
    don't drop, so row counts and joins stay intact.

    Same scale shape as :func:`events_value_deciles`: the two clip
    boundaries are exact order statistics (``percentile_disc`` over
    integer cents) reduced in ONE aggregate, broadcast as a single
    row, applied per-row (least/greatest — no window, no sort of the
    fact table), then one map-side-combinable integer aggregate. The
    raw-vs-winsorized sum pair quantifies what clipping moved.
    """
    from spark_etl_pipeline_spark.functions import cents

    events = table(spark, sf_dir, "events")
    v = events.select("event_type", cents("value").alias("vc"))
    bounds = v.agg(
        F.expr(
            "cast(percentile_disc(0.05) WITHIN GROUP (ORDER BY vc) as bigint)"
        ).alias("lo"),
        F.expr(
            "cast(percentile_disc(0.95) WITHIN GROUP (ORDER BY vc) as bigint)"
        ).alias("hi"),
    )
    clipped = v.join(F.broadcast(bounds)).select(
        "event_type",
        "vc",
        F.least(F.greatest(F.col("vc"), F.col("lo")), F.col("hi")).alias("wc"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("wc") != F.col("vc"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped"),
        (F.sum("vc").cast("double") / 100.0).alias("sum_raw"),
        (F.sum("wc").cast("double") / 100.0).alias("sum_winsorized"),
    )


SOURCE_CAP = 15  # max documents kept per source


@register(
    "docs_cap_per_source",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source, lang,
               row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n_source
        FROM documents
    )
    SELECT doc_id, source, lang,
           CAST(n_source AS BIGINT) AS n_source
    FROM ranked WHERE rn <= {SOURCE_CAP}
    """,
)
def docs_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard per-source document cap ({SOURCE_CAP} docs/source): the
    anti-domination guard of a web-scale training mix — one crawler
    bug, one mirror site, one SEO farm cannot contribute more than its
    quota no matter how many documents it lands. Complements the
    rate-based temperature mixture (:func:`docs_mixture_sample`):
    rates rebalance, caps bound the worst case.

    Selection within a source is ordered by md5(doc_id) — the module's
    standard deterministic-uniform device (no rand(), replayable on
    any cluster), with doc_id as the total-order tiebreak. The window
    partitions by source, so the sort is per-source-sized; at 100 TB
    with a pathological mega-source, cap selection degrades gracefully
    to a per-source TakeOrdered (top-K by hash) rather than a full
    sort — same result, bounded memory.
    """
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    wc = Window.partitionBy("source")
    return (
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).cast("bigint").alias("n_source"),
        )
        .filter(F.col("rn") <= SOURCE_CAP)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Right-to-erasure delete propagation (compliance audit)
# ---------------------------------------------------------------------------


@register(
    "events_delete_propagation",
    oracle="""
    WITH last AS (
        SELECT user_id, event_type
        FROM (SELECT user_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                         ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1
    ),
    tomb AS (SELECT user_id FROM last WHERE event_type = 'error')
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS rows_before,
           CAST(SUM(CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS rows_deleted,
           CAST(COUNT(*) - SUM(CASE WHEN t.user_id IS NOT NULL THEN 1
                                    ELSE 0 END) AS BIGINT) AS rows_after,
           CAST(COUNT(DISTINCT CASE WHEN t.user_id IS NOT NULL
                                    THEN e.user_id END) AS BIGINT)
               AS users_deleted
    FROM events e LEFT JOIN tomb t ON t.user_id = e.user_id
    GROUP BY e.event_type
    """,
)
def events_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure propagation audit: users whose LATEST event is
    an ``error`` (the stand-in deletion-request signal) are tombstoned,
    every one of their events is purged from the fact table, and the
    audit reports per event type how many rows the purge removes —
    the before/after evidence a GDPR/CCPA deletion job has to emit.

    The tombstone list is derived with ``max_by(event_type,
    struct(ts, event_id))`` — ONE map-side-combinable aggregate per
    user (associative argmax on the unique (ts, event_id) total order:
    deterministic, no per-user window sort). Propagation is a single
    scan of the fact table LEFT-joined against the tombstone list —
    user-count-bounded, exactly the "broadcast the delete list" shape a
    100 TB purge wants (AQE picks broadcast vs shuffle-hash by its
    actual size; deleted and surviving rows are counted from the same
    flagged scan rather than two anti-/semi-join passes). In a real
    deployment the surviving rows stream straight to the rewritten
    partitions; here the audit IS the output so the oracle can
    hash-verify both sides of the ledger.
    """
    ev = table(spark, sf_dir, "events")
    tomb = (
        ev.groupBy("user_id")
        .agg(F.expr("max_by(event_type, struct(ts, event_id))").alias("last_type"))
        .filter(F.col("last_type") == "error")
        .select("user_id", F.lit(1).alias("__del"))
    )
    flagged = ev.join(tomb, "user_id", "left")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_before"),
        F.sum(F.when(F.col("__del").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("rows_deleted"),
        (
            F.count(F.lit(1))
            - F.sum(F.when(F.col("__del").isNotNull(), 1).otherwise(0))
        )
        .cast("bigint")
        .alias("rows_after"),
        F.countDistinct(
            F.when(F.col("__del").isNotNull(), F.col("user_id"))
        )
        .cast("bigint")
        .alias("users_deleted"),
    )
