"""Text-analysis operators over the ``documents`` table.

Part of the engine's LLM-data-pipeline surface (the reference repo has no
text operators — this extends it per the project baseline): token
statistics, quality scoring, stopword-vote language ID, and rolling-hash
document fingerprinting.

Everything is JVM-side (``pyspark.sql.functions`` / SQL expressions —
no Python UDFs), so the hot path stays inside whole-stage codegen and
scales linearly with partitions. Cross-engine determinism rules:

- Token hashes come from ``md5`` (identical in Spark and DuckDB):
  first 8 hex chars → bigint via base conversion.
- Ratios are a single IEEE-754 double division of identical integer
  operands → bit-identical across engines.
- The rolling fingerprint folds left over the token list with integer
  arithmetic mod 2^31-1 (max intermediate ≈ 2^39, no bigint overflow).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_etl_pipeline_spark.plans.registry import register, table

# Tokenization shared by every operator: whitespace split of trimmed text.
#
# The oracle's split class is [\s\x0b], not bare \s (ADVICE r13,
# closed r14 in ONE SWEEP across every oracle split site — this
# constant plus the raw sites in operators/dedup.py and below): the
# engine side's Java \s ([ \t\n\x0B\f\r]) and the UDTF's Python
# re.ASCII \s both treat VERTICAL TAB as whitespace, while DuckDB's
# RE2 \s ([\t\n\f\r ]) does not — 'a\x0bb' was 2 tokens engine-side,
# 1 token oracle-side. A partial widening would have made the
# oracle-side tokenizers mutually inconsistent, which is why the r13
# round documented instead of patching just this constant. \x0b now
# sits in the fuzz WS_PAD pool (tools/stage_random.py), so corpus
# sweeps keep the three tokenizers pinned equal.
TOKENS_SPARK = r"split(trim(text), '\\s+')"
TOKENS_DUCK = r"string_split_regex(trim(text), '[\s\x0b]+')"

#: Marker-word profiles for the stopword-vote language heuristic.
#: (Real pipelines use char-n-gram profiles; the voting/argmax plumbing —
#: the part Spark executes — is identical.)
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}

EN_STOPWORDS = ("the", "a", "an", "of", "and", "or", "is", "to", "in", "it")


def token_hash_spark(var: str) -> str:
    """Deterministic 32-bit token hash, Spark SQL flavor."""
    return f"cast(conv(substr(md5({var}), 1, 8), 16, 10) as bigint)"


def token_hash_duck(var: str) -> str:
    """The same hash, DuckDB flavor (identical values)."""
    return f"CAST(('0x' || substr(md5({var}), 1, 8)) AS BIGINT)"


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add a ``tokens`` array column (whitespace tokenization)."""
    return df.withColumn("tokens", F.split(F.trim(F.col(text_col)), r"\s+"))


def quality_columns() -> list[Column]:
    """Per-document quality metrics over a ``tokens`` array column."""
    n_tokens = F.size("tokens")
    n_types = F.size(F.array_distinct("tokens"))
    stop_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    stop_cnt = F.expr(f"size(filter(tokens, x -> x IN ({stop_list})))")
    avg_len = F.expr(
        "aggregate(tokens, cast(0 as bigint), (a, x) -> a + length(x))"
    ).cast("double") / n_tokens
    return [
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        stop_cnt.alias("stop_cnt"),
        (n_types.cast("double") / n_tokens).alias("type_token_ratio"),
        (stop_cnt.cast("double") / n_tokens).alias("stop_ratio"),
        avg_len.alias("avg_token_len"),
    ]


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({TOKENS_DUCK})) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len({TOKENS_DUCK})) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per language: one scan, one hash aggregate
    with map-side partials — the same shape at 500 docs or 100 TB."""
    docs = with_tokens(table(spark, sf_dir, "documents"))
    n = F.count(F.lit(1))
    return docs.groupBy("lang").agg(
        n.alias("n_docs"),
        F.sum(F.size("tokens")).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
        (F.sum(F.size("tokens")).cast("double") / n).alias("avg_tokens"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
        WHERE text IS NOT NULL
    ), m AS (
        SELECT doc_id,
               len(t) AS n_tokens,
               len(list_distinct(t)) AS n_types,
               len(list_filter(t, x -> x IN {EN_STOPWORDS!r})) AS stop_cnt,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(t, x -> CAST(length(x) AS BIGINT))),
                           (a, x) -> a + x) AS char_sum
        FROM toks
    )
    SELECT doc_id, n_tokens, n_types, stop_cnt,
           CAST(n_types AS DOUBLE) / n_tokens AS type_token_ratio,
           CAST(stop_cnt AS DOUBLE) / n_tokens AS stop_ratio,
           CAST(char_sum AS DOUBLE) / n_tokens AS avg_token_len,
           CASE WHEN n_tokens BETWEEN 5 AND 2000
                 AND CAST(n_types AS DOUBLE) / n_tokens >= 0.1
                THEN 1 ELSE 0 END AS keep
    FROM m
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics + keep/drop flag (the filter an LLM
    data pipeline applies before training). All metrics are integer
    counts; each ratio is one double division → engine-exact."""
    docs = with_tokens(
        table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    scored = docs.select("doc_id", *quality_columns())
    return scored.withColumn(
        "keep",
        (
            F.col("n_tokens").between(5, 2000) & (F.col("type_token_ratio") >= 0.1)
        ).cast("int"),
    )


def _vote_expr_spark() -> Column:
    """Argmax over language marker-word hit counts, ties → lexicographic."""
    hits = {
        lang: F.expr(
            "size(filter(tokens, x -> x IN ({})))".format(
                ", ".join(f"'{w}'" for w in words)
            )
        )
        for lang, words in LANG_MARKERS.items()
    }
    best = F.greatest(*hits.values())
    pred = F.lit(None).cast("string")
    # reversed lexicographic fold so that earlier (smaller) names win ties
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(hits[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


@register(
    "text_lang_id",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split_regex(trim(text), '[\\s\\x0b]+') AS t
        FROM documents WHERE text IS NOT NULL
    ), hits AS (
        SELECT doc_id, lang,
               len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS h_en,
               len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) AS h_de,
               len(list_filter(t, x -> x IN ('le','la','les','et','est'))) AS h_fr,
               len(list_filter(t, x -> x IN ('el','la','los','y','es'))) AS h_es
        FROM toks
    ), pred AS (
        SELECT lang,
               CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                    WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                    WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                    WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
                    ELSE 'fr' END AS predicted
        FROM hits
    )
    SELECT lang, predicted, COUNT(*) AS n FROM pred GROUP BY lang, predicted
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID, reported as a (actual, predicted)
    confusion table. The vote is a constant-time expression per row — no
    shuffle until the tiny final aggregate."""
    docs = with_tokens(
        table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    return (
        docs.withColumn("predicted", _vote_expr_spark())
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
        WHERE text IS NOT NULL
    )
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(t, x -> {token_hash_duck('x')})),
               (acc, h) -> (acc * 131 + h) % 2147483647) AS fingerprint
    FROM toks
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling document fingerprint.

    Left fold over token hashes, ``fp = (fp*131 + h) mod (2^31-1)`` —
    two docs with the same token sequence collide with ~2^-31 false-
    positive rate, giving O(1)-state exact-order dedup keys. Pure
    expression per row: embarrassingly parallel at any scale.
    """
    docs = with_tokens(
        table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    fold = (
        "aggregate(transform(tokens, x -> {h}), cast(0 as bigint), "
        "(acc, h) -> (acc * 131 + h) % 2147483647)"
    ).format(h=token_hash_spark("x"))
    return docs.select("doc_id", F.expr(fold).alias("fingerprint"))


@register(
    "text_lang_stats_pandas",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY lang
    """,
)
def text_lang_stats_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stats via ``applyInPandas`` (grouped-map surface).

    The grouped-map API ships each language's rows to one Python worker
    as a pandas DataFrame — the pattern for per-group logic pandas can
    express but SQL can't (model scoring, curve fitting). The stats here
    are deliberately SQL-expressible so the DuckDB oracle verifies the
    Arrow round-trip exactly: integer sums in pandas, one double
    division — same bits as the SQL twin.
    """
    from collections.abc import Iterator  # noqa: F401  (doc parity)

    def per_lang(pdf):
        import pandas as pd

        total = int(pdf["n_chars"].sum())
        n = len(pdf)
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [n],
                "total_chars": [total],
                "avg_chars": [total / n],
            }
        )

    docs = table(spark, sf_dir, "documents").select("lang", "n_chars")
    return docs.groupBy("lang").applyInPandas(
        per_lang, "lang string, n_docs bigint, total_chars bigint, avg_chars double"
    )


#: GPT-2-style pretokenizer shape, restricted to a dialect-neutral core
#: (letter runs / digit runs / punctuation runs, each with optional
#: leading space) so Java regex and RE2 tokenize identically.
#: DuckDB flavor of the BPE-ish pretokenizer pattern. The negated
#: class carries an explicit \x0b because RE2's \s omits vertical tab
#: while Java's \s (the Spark side below) includes it — without it a
#: \x0b counts as a PUNCTUATION token oracle-side and as whitespace
#: engine-side (caught by the r14 seed-505 sweep, the first corpus to
#: carry \x0b after the WS_PAD widening).
BPE_PATTERN = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s\x0b]+"

#: U+0130 (LATIN CAPITAL LETTER I WITH DOT ABOVE, 'İ') is the one code
#: point where the two engines' lowercasing disagrees on real corpus
#: text: Java's full Unicode mapping (Spark) lowers it to 'i' + U+0307
#: combining dot (TWO code points) while utf8proc's simple mapping
#: (DuckDB) lowers it to plain 'i'. Surfaced by the round-8 unicode
#: hostile sweep (Turkish text is common in web corpora). Every
#: lowercase entry point folds 'İ' → 'i' FIRST, in both engines, so
#: tokenization, hashing, and n-gram math see identical strings; a
#: no-op on text without U+0130.
LOWER_SPARK = "lower(translate(text, 'İ', 'i'))"
LOWER_DUCK = "lower(replace(text, 'İ', 'i'))"

#: The ONE Spark-side BPE token-count expression, shared by
#: ``text_bpe_token_count`` and ``text_tokenizer_fertility``. Spark SQL
#: string literals consume backslash escapes ('\\s' in the literal is
#: needed to reach the regex as '\s'), so interpolating BPE_PATTERN
#: verbatim into a Spark expr silently drops the '\s' from the negated
#: class — equivalent on space-separated ASCII text (which is why it
#: survived every clean sweep) but an undercount on hostile Unicode,
#: where punctuation runs merge across whitespace. Keeping the literal
#: here once makes that mistake unrepeatable.
BPE_EXTRACT_SPARK = (
    f"size(regexp_extract_all({LOWER_SPARK},"
    " ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\\\s]+', 0))"
)


@register(
    "text_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all({LOWER_DUCK}, '{BPE_PATTERN}')) AS bpe_tokens,
           len(string_split_regex(trim(text), '[\\s\\x0b]+')) AS ws_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting next to plain whitespace counting.

    The regex mirrors the shape of GPT-2's pretokenizer (space-prefixed
    letter/digit/punctuation runs) — the usual first stage of real BPE —
    so the count tracks subword-ish token budgets, which is what an LLM
    data pipeline actually budgets by. Pure JVM expression per row.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(BPE_EXTRACT_SPARK).alias("bpe_tokens"),
        F.expr(r"size(split(trim(text), '\\s+'))").alias("ws_tokens"),
    )


#: Characteristic character-bigram profiles (tiny stand-ins for the
#: usual top-300 n-gram frequency profiles; the scoring plumbing is
#: identical at any profile size).
NGRAM_PROFILES = {
    "en": ("th", "he", "an", "ng"),
    "de": ("ch", "ei", "un", "de"),
    "fr": ("ou", "le", "es", "qu"),
    "es": ("os", "la", "el", "ci"),
}


def _bigram_count(engine: str, bg: str) -> str:
    body = f"(length(t) - length(replace(t, '{bg}', '')))"
    return f"{body} div 2" if engine == "spark" else f"{body} // 2"


@register(
    "text_lang_id_ngram",
    oracle="""
    WITH scored AS (
        SELECT lang,
               {scores}
        FROM (SELECT lang, lower(replace(text, 'İ', 'i')) AS t
              FROM documents
              WHERE text IS NOT NULL)
    ),
    pred AS (
        SELECT lang,
               CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                    WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                    WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                    WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
                    ELSE 'fr' END AS predicted
        FROM scored
    )
    SELECT lang, predicted, COUNT(*) AS n FROM pred GROUP BY lang, predicted
    """.format(
        scores=",\n               ".join(
            "({}) AS s_{}".format(
                " + ".join(_bigram_count("duck", bg) for bg in bgs), lang
            )
            for lang, bgs in NGRAM_PROFILES.items()
        )
    ),
)
def text_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language ID (the classic profile heuristic).

    Each language's score is the total occurrence count of its
    characteristic bigrams (substring-count by length difference — no
    regex, no explode); argmax with a deterministic tiebreak. Per-row
    constant work, one tiny aggregate shuffle.
    """
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "lang",
            F.lower(F.translate(F.col("text"), "İ", "i")).alias("t"),
        )
    )
    scores = {
        lang: F.expr(" + ".join(_bigram_count("spark", bg) for bg in bgs))
        for lang, bgs in NGRAM_PROFILES.items()
    }
    scored = docs.select("lang", *[s.alias(f"s_{k}") for k, s in scores.items()])
    best = F.greatest(*[F.col(f"s_{k}") for k in NGRAM_PROFILES])
    pred = F.lit(None).cast("string")
    for lang in sorted(NGRAM_PROFILES, reverse=True):
        pred = F.when(F.col(f"s_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return (
        scored.withColumn("predicted", pred)
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


CHUNK_TOKENS = 50
CHUNK_STRIDE = 40  # 10-token overlap between consecutive chunks


@register(
    "text_chunking",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               unnest(generate_series(0,
                   greatest(CAST(ceil((len(t) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS INTEGER), 0)
               )) AS chunk_idx,
               t
        FROM toks WHERE len(t) > 0
    )
    SELECT doc_id, chunk_idx,
           array_to_string(t[chunk_idx * {CHUNK_STRIDE} + 1 :
                             chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ') AS chunk_text,
           least(len(t) - chunk_idx * {CHUNK_STRIDE}, {CHUNK_TOKENS}) AS n_tokens
    FROM chunks
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (50 tokens, stride 40): the
    train-example prep step of an LLM data pipeline. Chunk starts are a
    generated sequence per doc (no joins); slicing and re-joining stay
    JVM-side. The final partial chunk is kept (a real pipeline pads it).
    """
    docs = with_tokens(table(spark, sf_dir, "documents"))
    n_chunks = F.expr(
        f"greatest(CAST(ceil((size(tokens) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS INT), 0)"
    )
    chunked = (
        docs.filter(F.size("tokens") > 0)
        .select(
            "doc_id",
            "tokens",
            F.explode(F.sequence(F.lit(0), n_chunks)).alias("chunk_idx"),
        )
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.expr(
            f"concat_ws(' ', slice(tokens, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS}))"
        ).alias("chunk_text"),
        F.expr(
            f"least(size(tokens) - chunk_idx * {CHUNK_STRIDE}, {CHUNK_TOKENS})"
        ).alias("n_tokens"),
    )


VOCAB_TOP_K = 30


@register(
    "text_vocab_topk",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({TOKENS_DUCK}) AS token FROM documents
    ),
    counts AS (
        SELECT token, COUNT(*) AS freq FROM tok GROUP BY token
    )
    SELECT token, freq,
           row_number() OVER (ORDER BY freq DESC, token) AS vocab_id
    FROM counts
    ORDER BY freq DESC, token
    LIMIT {VOCAB_TOP_K}
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary building: token frequencies → deterministic
    top-K with dense ids.

    Explode + hash aggregate (map-side combinable — shuffle rows =
    distinct tokens, not corpus tokens), then ``orderBy().limit(K)``
    which compiles to ``TakeOrderedAndProject`` — each partition keeps
    only its local top-K before the driver merge, so no task ever sees
    the full distinct-token set. Only the K surviving rows pass through
    the ``row_number`` window that assigns ``vocab_id`` (a billion-token
    corpus still windows exactly K rows).
    """
    docs = with_tokens(table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    topk = counts.orderBy(F.col("freq").desc(), F.col("token")).limit(VOCAB_TOP_K)
    w = Window.orderBy(F.col("freq").desc(), F.col("token"))
    return topk.withColumn("vocab_id", F.row_number().over(w)).orderBy(
        F.col("freq").desc(), F.col("token")
    )


# Gopher-style intra-document repetition gates (Rae et al. 2021 §A1.1):
# a doc dominated by one bigram / repeated trigrams / one word is
# boilerplate or spam, not training text.
REP_TOP_BIGRAM_MAX = 0.06
REP_DUP_TRIGRAM_MAX = 0.10
REP_MAX_WORD_MAX = 0.13

_BG_SPARK = (
    "CASE WHEN size(tokens) >= 2 THEN transform(sequence(0, size(tokens) - 2),"
    " i -> concat(tokens[i], ' ', tokens[i+1])) ELSE array() END"
)
_TRI_SPARK = (
    "CASE WHEN size(tokens) >= 3 THEN transform(sequence(0, size(tokens) - 3),"
    " i -> concat(tokens[i], ' ', tokens[i+1], ' ', tokens[i+2]))"
    " ELSE array() END"
)


def _run_stats(arr: str) -> str:
    """(mx, nd) — top duplicate-run length and distinct count — of a
    string array, via one ``array_sort`` + linear runs fold: the
    PER-ROW twin of ``groupBy(gram).count()`` + max / countDistinct
    (equal grams are adjacent after the sort, so the longest run IS the
    top gram's count and the number of run starts IS the distinct
    count). O(n log n) per row in the JVM, exact integers, no shuffle.
    """
    return (
        f"aggregate(array_sort({arr}), "
        "struct(cast(null as string) as prev, cast(0 as bigint) as run, "
        "cast(0 as bigint) as mx, cast(0 as bigint) as nd), "
        "(s, x) -> CASE WHEN s.prev <=> x THEN struct("
        "x as prev, s.run + 1L as run, "
        "greatest(s.mx, s.run + 1L) as mx, s.nd as nd) "
        "ELSE struct(x as prev, 1L as run, greatest(s.mx, 1L) as mx, "
        "s.nd + 1L as nd) END, "
        "s -> struct(s.mx as mx, s.nd as nd))"
    )


@register(
    "text_repetition_filter",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    bg AS (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN list_transform(
            generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
            ELSE [] END) AS g
        FROM toks
    ),
    bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
    bga AS (
        SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_ratio
        FROM bgc GROUP BY doc_id
    ),
    tri AS (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN list_transform(
            generate_series(1, len(t) - 2),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
            ELSE [] END) AS s
        FROM toks
    ),
    tric AS (
        SELECT doc_id,
               CAST(count(*) - count(DISTINCT s) AS DOUBLE) / count(*)
                   AS dup_trigram_ratio
        FROM tri GROUP BY doc_id
    ),
    wcc AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(t) AS w FROM toks)
        GROUP BY doc_id, w
    ),
    wa AS (
        SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS max_word_ratio
        FROM wcc GROUP BY doc_id
    )
    SELECT doc_id,
           COALESCE(top_bigram_ratio, 0.0) AS top_bigram_ratio,
           COALESCE(dup_trigram_ratio, 0.0) AS dup_trigram_ratio,
           max_word_ratio,
           (COALESCE(top_bigram_ratio, 0.0) <= {REP_TOP_BIGRAM_MAX}
            AND COALESCE(dup_trigram_ratio, 0.0) <= {REP_DUP_TRIGRAM_MAX}
            AND max_word_ratio <= {REP_MAX_WORD_MAX}) AS keep
    FROM wa
    LEFT JOIN bga USING (doc_id)
    LEFT JOIN tric USING (doc_id)
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition gate: fraction of the doc
    covered by its top bigram, by duplicated trigrams, and by its most
    frequent word; ``keep`` ANDs the three thresholds.

    TOTAL-VERDICT contract: every document with at least one token gets
    a row — a filter that silently loses documents from its keep/drop
    report corrupts the downstream corpus. A doc too short to have a
    gram family (the ``giant`` hostile corpus's single-token document
    is the probe) counts that family as 0.0, vacuously non-repetitive;
    the word family, defined for any tokenized doc, is the row spine in
    both engines.

    Scale shape (r16): ZERO shuffles — every metric is intra-document,
    so each family's (top count, distinct count) comes from a per-row
    ``array_sort`` + runs fold (:func:`_run_stats`) instead of the
    explode → (doc,ty,gram) → (doc,ty) → doc aggregate ladder the r15
    form used (1 corpus scan but 3 Exchanges; the r16 rewrite keeps
    the single scan and deletes all three). Embarrassingly parallel at
    any corpus size; per-row cost is O(len log len) — the rejected
    shape was the O(len²) nested higher-order scan, not this sort.
    Identical integer counts feed identical divisions, so values are
    bit-identical to the aggregate form's.
    """
    docs = (
        with_tokens(table(spark, sf_dir, "documents"))
        .select("doc_id", "tokens")
        # explode-form parity: a doc with no tokens produced no 'w'
        # spine row, so it is absent from the report there and here
        .filter(F.size("tokens") >= 1)
    )
    stats = docs.select(
        "doc_id",
        F.expr(_BG_SPARK).alias("bg"),
        F.expr(_TRI_SPARK).alias("tri"),
        "tokens",
    ).select(
        "doc_id",
        F.expr(_run_stats("bg")).alias("bgs"),
        F.size("bg").alias("bgn"),
        F.expr(_run_stats("tri")).alias("tris"),
        F.size("tri").alias("trin"),
        F.expr(_run_stats("tokens")).alias("ws"),
        F.size("tokens").alias("wn"),
    )
    return stats.select(
        "doc_id",
        # absent families (doc too short) are 0.0, not NULL — the
        # total-verdict contract
        F.when(
            F.col("bgn") >= 1,
            F.col("bgs.mx").cast("double") / F.col("bgn"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_ratio"),
        F.when(
            F.col("trin") >= 1,
            (F.col("trin") - F.col("tris.nd")).cast("double") / F.col("trin"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_ratio"),
        (F.col("ws.mx").cast("double") / F.col("wn")).alias("max_word_ratio"),
    ).withColumn(
        "keep",
        (F.col("top_bigram_ratio") <= REP_TOP_BIGRAM_MAX)
        & (F.col("dup_trigram_ratio") <= REP_DUP_TRIGRAM_MAX)
        & (F.col("max_word_ratio") <= REP_MAX_WORD_MAX),
    )


RARE_BIGRAM_MIN_COUNT = 3  # corpus occurrences below this = "rare"


@register(
    "text_rare_bigram_ratio",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    bg AS (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN list_transform(
            generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
            ELSE [] END) AS g
        FROM toks
    ),
    corpus AS (SELECT g, count(*) AS cg FROM bg GROUP BY g),
    scored AS (
        SELECT b.doc_id,
               count(*) AS n_bigrams,
               sum(CASE WHEN c.cg < {RARE_BIGRAM_MIN_COUNT}
                        THEN 1 ELSE 0 END) AS n_rare
        FROM bg b JOIN corpus c ON c.g = b.g
        GROUP BY b.doc_id
    )
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(n_rare AS BIGINT) AS n_rare,
           CAST(n_rare AS DOUBLE) / n_bigrams AS rare_ratio
    FROM scored
    """,
)
def text_rare_bigram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-grounded fluency signal: the fraction of each document's
    word bigrams that are RARE corpus-wide (< {RARE_BIGRAM_MIN_COUNT} occurrences) — the
    integer-exact stand-in for an n-gram LM perplexity score (a sum of
    float log-probs would be summation-order-dependent across engines;
    a count ratio is one division of identical integers).

    Scale shape: one explode → corpus bigram counts (hash aggregate,
    map-side combinable, shuffle = DISTINCT bigrams) → join back on the
    bigram string (AQE picks broadcast while the rare-vocab table fits,
    shuffle-hash beyond) → per-doc count aggregate on doc_id. The
    corpus model and the scoring pass are the same two shuffles at any
    corpus size; the model table never lands on the driver.
    """
    bg = (
        with_tokens(table(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.expr(_BG_SPARK)).alias("g"))
    )
    corpus = bg.groupBy("g").agg(F.count(F.lit(1)).alias("cg"))
    return (
        bg.join(corpus, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("cg") < RARE_BIGRAM_MIN_COUNT, 1).otherwise(0)
            ).alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_rare",
            (F.col("n_rare").cast("double") / F.col("n_bigrams")).alias(
                "rare_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Canonical text normalization (corpus-cleaning first pass)
# ---------------------------------------------------------------------------


def normalize_text(col: Column) -> Column:
    """Canonical form: lowercase, control chars stripped, whitespace
    runs collapsed to single spaces, ends trimmed.

    The standard first pass before hashing/dedup so cosmetic variants
    (casing, tabs, CRLF, trailing blanks) collapse to one canonical
    byte string. Pure per-row JVM expressions — no UDF, no shuffle.
    """
    c = F.lower(F.translate(col, "İ", "i"))
    c = F.regexp_replace(c, "[\\x00-\\x1F]", "")
    c = F.regexp_replace(c, "\\s+", " ")
    return F.trim(c)


@register(
    "text_normalize",
    oracle=r"""
    WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(replace(text, 'İ', 'i')),
                    '[\x00-\x1F]', '', 'g'), '\s+', ' ', 'g')) AS norm
        FROM documents
    )
    SELECT doc_id,
           md5(norm) AS norm_md5,
           CAST(length(norm) AS BIGINT) AS n_chars_norm
    FROM n
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc canonical hash + normalized length (the audit row a
    cleaning stage emits; the md5 doubles as the exact-dedup key over
    the CANONICAL text, catching case/whitespace-variant duplicates
    plain ``dedup_exact`` misses). One scan, zero shuffles.
    """
    docs = table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


# ---------------------------------------------------------------------------
# Collocation mining: bigram lift (PMI without the log)
# ---------------------------------------------------------------------------

#: Minimum corpus occurrences for a bigram to be scored (noise floor).
PMI_MIN_PAIR = 3
PMI_TOP_K = 50


@register(
    "text_pmi_bigrams",
    oracle=rf"""
    WITH toks AS (
        SELECT {TOKENS_DUCK} AS t FROM documents
    ),
    pairs AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
    ),
    pc AS (
        SELECT w1, w2, COUNT(*) AS pair_n FROM pairs GROUP BY w1, w2
    ),
    uni AS (
        SELECT w, COUNT(*) AS n
        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(pair_n) AS BIGINT) AS n_pairs FROM pc)
    SELECT c.w1, c.w2, c.pair_n,
           (CAST(c.pair_n AS DOUBLE) * CAST(t.n_pairs AS DOUBLE))
           / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)) AS lift
    FROM pc c
    JOIN uni a ON a.w = c.w1
    JOIN uni b ON b.w = c.w2
    CROSS JOIN tot t
    WHERE c.pair_n >= {PMI_MIN_PAIR}
    ORDER BY lift DESC, w1, w2
    LIMIT {PMI_TOP_K}
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-K adjacent-bigram LIFT over the corpus —
    ``p(ab) / (p(a)·p(b))``, the monotone core of pointwise mutual
    information (the log is omitted deliberately: ``ln`` may differ in
    the last ulp across engines, while lift is two multiplications and
    one division over EXACTLY-represented integer counts — the same
    IEEE754 op tree on identical operands in both engines, hence
    bit-identical; the RANKING is identical to PMI's either way).
    Collocations drive tokenizer-merge candidates and phrase-aware
    dedup shingles in a training-data pipeline.

    Shape: two map-side-combinable hash aggregates (bigram counts,
    unigram counts — shuffle rows are vocab-sized, never corpus-sized),
    two vocab-keyed joins to attach marginals (AQE broadcasts the
    unigram side when it fits), one broadcast single-row total, then
    ``orderBy().limit(K)`` which compiles to TakeOrderedAndProject —
    each partition keeps its local top-K, so the full scored set never
    lands anywhere.
    """
    docs = with_tokens(table(spark, sf_dir, "documents"))
    pairs = docs.select(
        F.explode(
            F.expr(
                "CASE WHEN size(tokens) >= 2 THEN transform("
                "sequence(0, size(tokens) - 2),"
                " i -> struct(tokens[i] AS w1, tokens[i+1] AS w2)) "
                "ELSE array() END"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    # The duplicated-uni shape is DELIBERATE (r16 A/B, twice rejected):
    # uni feeds both marginal joins and Catalyst does not CSE across
    # branches, but replacing the re-computation with a shared lazy
    # localCheckpoint (uni-only: 4 corpus scans → 3; uni+pc with the
    # total off SUM(pair_n): → 2) LOST both alternated sf0.1 A/Bs
    # (~0.8s → ~1.1s and ~1.9s worst) — the duplicate subtrees run
    # fully parallel inside one AQE DAG, while a checkpoint serializes
    # materialize → broadcast → probe into barriers. The same play won
    # on docs_bm25_topk (a second AGGREGATION level rode on its
    # checkpoint) and on the r15 LSH branches (the re-computation
    # there was a wide shuffle, not a map-side agg). Flip condition:
    # if the corpus outgrows the schedule-latency regime (re-tokenize
    # cost ≫ one vocab-sized materialization), share uni again.
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_n"))
    uni = (
        docs.select(F.explode("tokens").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Total bigrams == Σ max(len-1, 0) per doc: one scan-and-fold over
    # the tokens column, no explode and no re-aggregation of pair
    # counts — identical value to SUM(pair_n) (the oracle's
    # formulation) at a fraction of the plan.
    tot = docs.agg(
        F.sum(F.greatest(F.size("tokens") - 1, F.lit(0)))
        .cast("bigint")
        .alias("n_pairs")
    )
    scored = (
        pc.filter(F.col("pair_n") >= PMI_MIN_PAIR)
        .join(uni.select(F.col("w").alias("w1"), F.col("n").alias("n_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n").alias("n_b")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "pair_n",
            (
                (F.col("pair_n").cast("double") * F.col("n_pairs").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "w1", "w2").limit(PMI_TOP_K)


# ---------------------------------------------------------------------------
# TF-IDF relevance: top terms per document
# ---------------------------------------------------------------------------

TFIDF_DOC_LIMIT = 200  # score this doc_id prefix (df still corpus-wide)
TFIDF_TOP_TERMS = 3


@register(
    "docs_tfidf_topk",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    tf AS (
        SELECT doc_id, w, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS w FROM toks
              WHERE doc_id < {TFIDF_DOC_LIMIT})
        GROUP BY doc_id, w
    ),
    df AS (
        SELECT w, COUNT(*) AS doc_freq
        FROM (SELECT DISTINCT doc_id, unnest(t) AS w FROM toks)
        GROUP BY w
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.w AS token, tf.tf, df.doc_freq,
               (CAST(tf.tf AS DOUBLE) * CAST(nd.n_docs AS DOUBLE))
               / CAST(df.doc_freq AS DOUBLE) AS score
        FROM tf JOIN df ON df.w = tf.w CROSS JOIN nd
    )
    SELECT doc_id, token, tf, doc_freq, score
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, token) AS rn
          FROM scored)
    WHERE rn <= {TFIDF_TOP_TERMS}
    """,
)
def docs_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP_TERMS} (``TFIDF_TOP_TERMS``) most-distinctive terms per document by TF-IDF-style
    relevance — ``tf · N / df`` (the log-free monotone form, for the
    same cross-engine ulp reason as ``text_pmi_bigrams``; rankings are
    identical). The per-doc distinctive-term profile feeds topic
    bucketing, domain mixture tagging, and keyword-based decontamination
    in a training-data pipeline.

    Shape: document frequency is ONE corpus-wide aggregate over
    per-doc DISTINCT tokens (``array_distinct`` before the explode —
    shuffle rows are doc×vocab-distinct, with map-side combine); term
    frequency is computed only for the scored slice; one vocab-keyed
    join attaches df (AQE-broadcastable); the per-doc top-K window
    partitions by doc_id over the scored slice only — each partition
    is one document's vocab, so the window is corpus-size-independent.
    """
    docs = with_tokens(table(spark, sf_dir, "documents"))
    tf = (
        docs.filter(F.col("doc_id") < TFIDF_DOC_LIMIT)
        .select("doc_id", F.explode("tokens").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = (
        docs.select(F.explode(F.array_distinct("tokens")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "w")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            F.col("w").alias("token"),
            "tf",
            "doc_freq",
            (
                (F.col("tf").cast("double") * F.col("n_docs").cast("double"))
                / F.col("doc_freq").cast("double")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_TERMS)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (docs_bm25_topk)
# ---------------------------------------------------------------------------

BM25_TERMS = ("spark", "window", "merge", "stream")
BM25_K1 = "1.2"  # SQL literal: both engines parse to the identical double
BM25_B = "0.75"
BM25_TOP_DOCS = 15

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

#: Per-(doc,term) BM25 partial in integer micro-units. The whole score
#: expression is ONE shared SQL string evaluated by both engines on
#: identical exact-integer operands (tf, dl, doc_freq, n_docs, sum_dl) —
#: identical parse tree, identical IEEE-754 ops, identical rounding.
#: idf is the log-free Robertson form (N - df + 0.5)/(df + 0.5): strictly
#: monotone in df like the ln() form, so rankings are identical, but free
#: of cross-libm ln() ulp skew (same trade documented at docs_tfidf_topk).
_BM25_MICRO = f"""try_cast(round(
    ((cast(n_docs as double) - cast(doc_freq as double) + 0.5)
     / (cast(doc_freq as double) + 0.5))
    * (cast(tf as double) * ({BM25_K1} + 1.0))
      / (cast(tf as double)
         + {BM25_K1} * (1.0 - {BM25_B}
                        + {BM25_B} * (cast(dl as double)
                                      / (cast(sum_dl as double)
                                         / cast(n_docs as double)))))
    * 1000000) as bigint)"""


@register(
    "docs_bm25_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS sum_dl
        FROM toks
    ),
    tf AS (
        SELECT doc_id, w, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS w FROM toks)
        WHERE w IN ({_BM25_TERMS_SQL})
        GROUP BY doc_id, w
    ),
    df AS (SELECT w, COUNT(*) AS doc_freq FROM tf GROUP BY w),
    scored AS (
        SELECT tf.doc_id,
               {_BM25_MICRO} AS micro
        FROM tf
        JOIN df ON df.w = tf.w
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(micro) AS BIGINT) AS score_micro
    FROM scored
    GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT {BM25_TOP_DOCS}
    """,
)
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: top-{BM25_TOP_DOCS} (``BM25_TOP_DOCS``) documents for
    a fixed query-term set — the lexical half of every retrieval /
    RAG-corpus pipeline (Robertson-Sparck Jones BM25 with k1={BM25_K1},
    b={BM25_B}; log-free idf, see
    the score constant's comment).

    Determinism: every input to the float score is an exact integer
    (tf, doc length, df, N, Σdl) reduced by associative integer
    aggregates; the score itself is one shared SQL expression string
    rounded to micro-units per (doc, term) BEFORE the per-doc sum, so
    cross-term accumulation is integer addition — bit-identical on any
    partitioning.

    Scale shape: tokens are filtered to the query vocabulary INSIDE the
    per-row array (higher-order ``filter``) before the explode, so the
    exploded relation is |matches|, not |corpus tokens|; tf is
    materialized ONCE (lazy ``localCheckpoint``) and feeds both the
    score join and the df aggregate (term-keyed, vocabulary-sized,
    broadcast); doc length rides in the tf grouping key (functionally
    dependent on doc_id — same groups, no extra scan or join); the
    corpus-wide (N, Σdl) scalar crosses in as a broadcast single row.
    Final top-K is orderBy+limit → TakeOrderedAndProject, never a
    global sort.
    """
    docs = with_tokens(table(spark, sf_dir, "documents"))
    terms_arr = "array(" + ", ".join(f"'{t}'" for t in BM25_TERMS) + ")"
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("tokens")).alias("sum_dl"),
    )
    # r16 (guide §2; the r15 shared-branch play): tf fed BOTH the score
    # join and the df aggregate, and Catalyst does not CSE across
    # branches — df re-ran the whole scan→tokenize→explode→aggregate
    # subtree. One lazy localCheckpoint materializes tf once (inside
    # the consuming action) for both readers. The per-doc length rides
    # IN the tf grouping key instead of its own corpus scan + join:
    # dl is functionally dependent on doc_id, so the groups — and
    # every downstream value — are bit-identical, and the third scan
    # (plus its join) disappears. 4 corpus scans → 2 (tf, stats).
    tf = (
        docs.select(
            "doc_id",
            F.size("tokens").alias("dl"),
            F.explode(
                F.expr(f"filter(tokens, t -> array_contains({terms_arr}, t))")
            ).alias("w"),
        )
        .groupBy("doc_id", "dl", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_t = tf.groupBy("w").agg(F.count(F.lit(1)).alias("doc_freq"))
    scored = (
        tf.join(F.broadcast(df_t), "w")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(_BM25_MICRO).alias("micro"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("micro").cast("bigint").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(BM25_TOP_DOCS)
    )


# ---------------------------------------------------------------------------
# Per-source domain-shift score (total-variation distance from corpus)
# ---------------------------------------------------------------------------


@register(
    "docs_source_divergence",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest({TOKENS_DUCK}) AS w FROM documents
    ),
    cells AS (
        SELECT source, w, COUNT(*) AS tf FROM toks GROUP BY source, w
    ),
    ns AS (SELECT source, SUM(tf) AS n_s FROM cells GROUP BY source),
    ct AS (SELECT w, SUM(tf) AS tf_c FROM cells GROUP BY w),
    nc AS (SELECT SUM(tf) AS n_c FROM cells),
    terms AS (
        SELECT c.source,
               TRY_CAST(round(abs(CAST(c.tf AS DOUBLE) / CAST(ns.n_s AS DOUBLE)
                              - CAST(ct.tf_c AS DOUBLE)
                                / CAST(nc.n_c AS DOUBLE))
                          * 1000000) AS BIGINT) AS d_micro,
               TRY_CAST(round(CAST(ct.tf_c AS DOUBLE) / CAST(nc.n_c AS DOUBLE)
                          * 1000000) AS BIGINT) AS q_micro
        FROM cells c
        JOIN ns ON ns.source = c.source
        JOIN ct ON ct.w = c.w
        CROSS JOIN nc
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
           CAST(SUM(d_micro) + 1000000 - SUM(q_micro) AS DOUBLE)
               / 2000000.0 AS tv_distance
    FROM terms GROUP BY source
    """,
)
def docs_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift score per source: total-variation distance between
    each source's token distribution and the corpus-wide distribution —
    the "which sources are unlike the rest" ranking a mixture designer
    uses to weight (or quarantine) domains before training. TV is the
    log-free divergence (0.5·Σ|p−q|), chosen over KL for the same
    cross-libm-ulp reason as ``text_pmi_bigrams``.

    Tokens ABSENT from a source still contribute |0−q| = q; rather than
    materializing the source×vocab dense grid, the identity
    Σ_all |p−q| = Σ_present |p−q| + (1 − Σ_present q) folds the absent
    mass into two sums over PRESENT cells only — the sparse relation
    that already exists. Per-cell doubles are rounded to micro-units
    before the per-source sum (associative integer addition), and the
    final halving is one identical double division.

    Scale shape: one explode → (source, token) aggregate with map-side
    combine; corpus token totals are a token-keyed aggregate of the
    SAME cell table (never a second corpus scan) joined back on token —
    co-partitioned, AQE-broadcastable while vocabularies are small; the
    per-source and grand totals are broadcast scalars.
    """
    docs = with_tokens(table(spark, sf_dir, "documents"))
    # r16 (guide §2; the r15 shared-branch play): cells feeds FOUR plan
    # branches (ns, ct, nc, terms) and Catalyst does not CSE across
    # branches — each re-ran the scan→tokenize→explode→aggregate
    # subtree. One lazy localCheckpoint of the (source×vocab)-bounded
    # cell table materializes it once inside the consuming action; the
    # three marginal aggregates become cheap re-reads. ct carries an
    # explicit broadcast hint: the stat-less checkpoint would
    # otherwise plan its join SMJ, and ct is vocab-bounded (sublinear
    # in corpus size) like text_pmi_bigrams' unigram side.
    cells = (
        docs.select("source", F.explode("tokens").alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    ns = cells.groupBy("source").agg(F.sum("tf").alias("n_s"))
    ct = cells.groupBy("w").agg(F.sum("tf").alias("tf_c"))
    nc = cells.agg(F.sum("tf").alias("n_c"))
    terms = (
        cells.join(F.broadcast(ns), "source")
        .join(F.broadcast(ct), "w")
        .crossJoin(F.broadcast(nc))
        .select(
            "source",
            F.expr(
                "try_cast(round(abs(cast(tf as double) / cast(n_s as double) - "
                "cast(tf_c as double) / cast(n_c as double)) * 1000000) "
                "as bigint)"
            ).alias("d_micro"),
            F.expr(
                "try_cast(round(cast(tf_c as double) / cast(n_c as double) "
                "* 1000000) as bigint)"
            ).alias("q_micro"),
        )
    )
    return terms.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_tokens"),
        (
            (F.sum("d_micro") + 1000000 - F.sum("q_micro")).cast("double")
            / 2000000.0
        ).alias("tv_distance"),
    )


# ---------------------------------------------------------------------------
# Python UDTF chunker (Spark 4 user-defined table function)
# ---------------------------------------------------------------------------

UDTF_CHUNK = 32


@register(
    "text_chunks_udtf",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
    ),
    chunks AS (
        -- Drop EXACTLY the one case the UDTF skips: the single-empty-
        -- token split of an empty/space-only document. SQL split of
        -- '' yields [''] (one empty token) in both engines, but the
        -- UDTF tokenizes PYTHON-side where the strip(' ')-then-split
        -- of such text is [] — an empty document has no chunks.
        -- (text_chunking, the JVM twin, keeps the one-empty-chunk
        -- split semantics on BOTH sides — the two operators differ on
        -- empty docs by construction.) The guard must NOT be the
        -- broader t[1] <> '': text that begins with a TAB/NEWLINE
        -- after the space-trim (e.g. '\thello') splits to
        -- ['', 'hello'] in BOTH tokenizers, so the UDTF emits a chunk
        -- with first_token='' and the oracle must keep the row too
        -- (ADVICE r12; pinned in tests/test_random_corpus.py). Found
        -- by the random-corpus fuzzer (tools/stage_random.py seed 1);
        -- the driver corpus has no empty text cells.
        SELECT doc_id,
               unnest(generate_series(0,
                   CAST(ceil(len(t) / {UDTF_CHUNK}.0) AS INTEGER) - 1))
                   AS chunk_idx,
               t
        FROM toks WHERE NOT (len(t) = 1 AND t[1] = '')
    )
    SELECT doc_id,
           CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(least(len(t) - chunk_idx * {UDTF_CHUNK}, {UDTF_CHUNK})
                AS INTEGER) AS n_tokens,
           t[chunk_idx * {UDTF_CHUNK} + 1] AS first_token
    FROM chunks
    """,
)
def text_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-overlapping document chunking through a PYTHON UDTF (Spark
    4 user-defined table function), applied per row with ``LATERAL`` —
    the 1→N surface for Python logic that genuinely needs imperative
    control flow (real uses: sentence segmenters, tokenizer-aware
    splitters). Declared ``useArrow=True`` so rows batch through Arrow
    rather than pickling one at a time — the same discipline as the
    ``mapInPandas`` operators; and unlike them, the UDTF composes
    directly in SQL. The chunk spec (fixed {UDTF_CHUNK}-token blocks,
    no overlap) is deliberately SQL-replicable so the oracle verifies
    the whole Python 1→N path row-for-row — the sliding-window JVM twin
    is ``text_chunking``.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, n_tokens int, first_token string",
          useArrow=True)
    class _Chunks:
        def eval(self, text: str, size: int):
            import re

            # re.ASCII pins \s to [ \t\n\r\f\v]: Python's default \s is
            # Unicode-aware (NEL U+0085, NBSP U+00A0, ideographic
            # spaces...) while the oracle's RE2 \s and the JVM twin's
            # Java \s are ASCII-only — the round-8 unicode sweep caught
            # this Python-side split diverging on NEL/NBSP text. The
            # \x0b asymmetry (in Python/Java \s, not RE2 \s) WAS the
            # last residual class here; the r14 one-sweep widening
            # closed it (TOKENS_DUCK and every oracle split site now
            # use [\s\x0b]+, and \x0b joined the fuzz WS_PAD pool), so
            # re.ASCII \s and the widened oracle class now agree
            # codepoint-for-codepoint. strip matches the oracle's
            # trim() (spaces only) for the same reason.
            toks = (text or "").strip(" ")
            if not toks:
                return
            parts = re.split(r"\s+", toks, flags=re.ASCII)
            for i in range(0, len(parts), size):
                yield i // size, min(size, len(parts) - i), parts[i]

    spark.udtf.register("engine_chunks_udtf", _Chunks)
    # The docs table enters as a parameterized-spark.sql DataFrame arg,
    # not a temp view: a view is a session-GLOBAL binding, so concurrent
    # invocations on different sf_dirs would race and silently read each
    # other's data. (The UDTF registration above is also session-global,
    # but re-registering the identical class is a benign overwrite.)
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_idx, c.n_tokens, c.first_token
        FROM {{docs}} d, LATERAL engine_chunks_udtf(d.text, {UDTF_CHUNK}) c
        """,
        docs=table(spark, sf_dir, "documents"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language (cost-of-language metric)
# ---------------------------------------------------------------------------


@register(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH counts AS (
        SELECT lang,
               len(regexp_extract_all({LOWER_DUCK}, '{BPE_PATTERN}'))
                   AS bpe_tokens,
               len(string_split_regex(trim(text), '[\\s\\x0b]+')) AS ws_tokens
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(bpe_tokens) AS BIGINT) AS bpe_tokens,
           CAST(SUM(ws_tokens) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe_tokens) AS DOUBLE) / CAST(SUM(ws_tokens) AS DOUBLE)
               AS fertility
    FROM counts GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language: subword (BPE-shaped) tokens
    per whitespace word — the cost-of-language number multilingual
    training actually budgets with (a language at fertility 2.5 pays
    2.5× the context and compute per word of a fertility-1.1 one;
    mixture weights and per-language token budgets are set off this
    table, pairing with ``docs_mixture_sample``'s temperature
    sampler).

    Composes the two verified per-row counters
    (``text_bpe_token_count``'s dialect-neutral regex + the shared
    whitespace tokenizer) into one map-side-combinable per-language
    aggregate; exact integer sums, one identical division.
    """
    docs = table(spark, sf_dir, "documents")
    counts = docs.select(
        "lang",
        F.expr(BPE_EXTRACT_SPARK).alias("bpe_tokens"),
        F.expr(f"size({TOKENS_SPARK})").alias("ws_tokens"),
    )
    return counts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("bpe_tokens").cast("bigint").alias("bpe_tokens"),
        F.sum("ws_tokens").cast("bigint").alias("ws_tokens"),
        (
            F.sum("bpe_tokens").cast("double")
            / F.sum("ws_tokens").cast("double")
        ).alias("fertility"),
    )
