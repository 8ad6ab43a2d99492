"""Damaged-row regression net: the round-8 null-injection findings,
pinned as a permanent oracle-parity test on a HOSTILE corpus copy.

``tools/stage_hostile.py --mode nulls`` nulls ~3% of every non-key
scalar column and empties ~2% of arrays; the full 222-query sweep of
that copy at sf0.01 originally surfaced 26 real divergences (empty
embedding arrays → ANSI DIVIDE_BY_ZERO across the similarity family,
null payloads crashing multimodal Arrow workers, the NULL stratum
dropped by an equi-join, collect_list-vs-list() null asymmetry, null
text semantic splits). This module re-stages the same damage at
sf0.001 per test session and drives exactly those queries against
their DuckDB oracles — so any regression back toward null-fragility
fails CI, not a future hostile sweep.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from spark_etl_pipeline_spark.plans import registry
from tests.conftest import SF_SMOKE

#: The 26 queries the round-8 nulls sweep flagged, by failure class.
HOSTILE_QUERIES = (
    # similarity family: empty arrays used to zero norms → DIVIDE_BY_ZERO
    "sim_topk_cosine",
    "sim_ivf_search",
    "sim_ivf_nprobe2",
    "sim_ivf_kmeans",
    "sim_kmeans",
    "sim_ann_recall",
    "sim_ann_recall_nprobe2",
    "sim_ivf_quantized_rerank",
    "sim_embedding_clusters",
    "sim_threshold_profile",
    "dedup_embedding_cosine",
    "docs_dedup_semantic",
    # multimodal family: null payloads used to crash the Arrow workers
    "mm_decode_features",
    "mm_frame_sample",
    "mm_resize",
    "mm_audio_window",
    "mm_phash_buckets",
    "mm_frame_dedup",
    "mm_payload_impurity",
    # text family: null-text cross-engine semantic splits
    "text_lang_id",
    "text_lang_id_ngram",
    "text_quality_score",
    "text_fingerprint",
    # traindata: NULL stratum silently dropped by the equi-join
    "text_stratified_sample",
    # dedup: planted-corpus extremes ordered over nullable n_chars
    "dedup_containment_onesided",
    # relational: collect_list drops nulls, DuckDB list() keeps them
    "rel_higher_order_funcs",
)


@pytest.fixture(scope="module")
def hostile_dir(spark, tmp_path_factory):
    """The sf0.001 corpus with deterministic null/empty damage."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    out = str(tmp_path_factory.mktemp("hostile") / "nulls")
    stage("nulls", SF_SMOKE, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def hostile_duck(hostile_dir):
    con = duckdb.connect()
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{hostile_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


def _canon(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(
        by=list(pdf.columns), na_position="last"
    ).reset_index(drop=True)


def _cell(v):
    """A cell as compared: its string, with None and NaN equal
    (``tools/rehearse_gate.cells_match``)."""
    return None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v)


def _assert_matches_oracle(name, spark_pdf, duck_pdf):
    """The shared Spark-vs-DuckDB comparison every hostile pin uses:
    row count, column set, then NaN-aware string-rendered cell equality
    over canonicalized frames (one definition — a fix to the comparison
    semantics lands everywhere at once)."""
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
    s, d = _canon(spark_pdf), _canon(duck_pdf)
    for col in s.columns:
        for i, (a, b) in enumerate(zip(s[col].tolist(), d[col].tolist())):
            assert _cell(a) == _cell(b), f"{name}.{col}[{i}]: {a!r} != {b!r}"


@pytest.mark.parametrize("name", HOSTILE_QUERIES)
def test_agrees_with_oracle_on_damaged_rows(spark, hostile_dir, hostile_duck, name):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, hostile_dir).toPandas()
    duck_pdf = hostile_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: Root-cause representatives of the 75 queries the NaN/Inf sweep
#: flagged before the TRY_CAST conversion (one per failure shape plus
#: the cents-family heads) — the full list is in the round-8 hostile
#: artifact; these pin every distinct fix.
FLOAT_QUERIES = (
    "q1_pricing_summary",      # cents() CAST_OVERFLOW (the 62-query class)
    "q6_forecast_revenue",
    "q9_product_profit",       # raw round().cast on quantity
    "q20_potential_promotion",
    "events_ewma",             # timeseries cents folds
    "events_sessionize",
    "events_skew_salted_agg",  # inline salted-agg cast
    "etl_events_pipeline",     # reference-parity pipeline value cast
    "graph_reachability",      # retail-cents fold inside BFS
    "profile_orders",          # special-double string rendering
    "rel_percentiles",         # NaN poisons quantile interpolation
    "rel_higher_order_funcs",  # collect_list vs list() with NULLed NaN
    "stream_profiles_drain",   # stateful pandas sum skipna vs SQL SUM
    "stream_tumbling_drain",   # streaming window cents
)


@pytest.fixture(scope="module")
def floats_dir(spark, tmp_path_factory):
    """The sf0.001 corpus with deterministic NaN/±Inf damage."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    out = str(tmp_path_factory.mktemp("hostile") / "floats")
    stage("floats", SF_SMOKE, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def floats_duck(floats_dir):
    con = duckdb.connect()
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{floats_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", FLOAT_QUERIES)
def test_agrees_with_oracle_on_nan_inf(spark, floats_dir, floats_duck, name):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, floats_dir).toPandas()
    duck_pdf = floats_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: One representative per operator family for the EMPTY corpus (the
#: cold-start layout: a fresh source / empty date slice / upstream
#: filter that matched nothing). The round-8 empty sweep ran all 222
#: registered queries against zero-row tables: 218 agreed with DuckDB
#: outright, `rel_partition_prune` crashed on schema inference (fixed
#: — the read now declares its schema), and the three grouping-set
#: queries hit the documented Spark-vs-ANSI divergence pinned below.
EMPTY_QUERIES = (
    "q1_pricing_summary",       # grouped aggregate → 0 rows
    "rel_agg_stats",            # global aggregate → one all-NULL/0 row
    "rel_window_rank",          # window functions over nothing
    "rel_partition_prune",      # cold-start partitioned root (the fix)
    "dedup_minhash_lsh",        # LSH banding with no documents
    "sim_topk_cosine",          # ANN with no embeddings
    "mm_decode_features",       # Arrow mapInPandas with zero batches
    "text_quality_score",       # text scoring over nothing
    "graph_pagerank_suppliers", # iterative algorithm, empty graph
    "etl_events_pipeline",      # reference-parity ETL, no events
    "stream_dedup_drain",       # streaming drain of an empty source
    "events_gap_fill_lerp",     # calendar spine off NULL min/max
)


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    """The corpus schemas with ZERO rows (cold-start layout)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    out = str(tmp_path_factory.mktemp("hostile") / "empty")
    stage("empty", SF_SMOKE, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def empty_duck(empty_dir):
    con = duckdb.connect()
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{empty_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", EMPTY_QUERIES)
def test_agrees_with_oracle_on_empty_input(spark, empty_dir, empty_duck, name):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, empty_dir).toPandas()
    duck_pdf = empty_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


@pytest.mark.parametrize(
    "name", ("rel_rollup", "rel_cube", "rel_grouping_sets")
)
def test_grouping_sets_empty_input_divergence_pinned(
    spark, empty_dir, empty_duck, name
):
    """KNOWN cross-engine divergence, pinned so it can never drift
    silently: on EMPTY input, ANSI SQL (and DuckDB/Postgres) still
    emit one row for the ``()`` grouping set — a global aggregate
    always yields a row — while Spark's Expand-based rewrite produces
    zero rows (the Expand emits nothing, so the downstream hash
    aggregate with a grouping-id key has nothing to group). Unioning
    a guarded grand-total row would cost a second full scan of the
    fact table on every NON-empty run — the wrong trade at 100 TB for
    a zero-row edge case — so the divergence is documented here
    instead. If either engine changes behavior, this test fails and
    the decision gets revisited.
    """
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, empty_dir).toPandas()
    duck_pdf = empty_duck.sql(spec.oracle).df()
    assert len(spark_pdf) == 0, f"{name}: Spark now emits {len(spark_pdf)} rows"
    assert len(duck_pdf) == 1, f"{name}: DuckDB now emits {len(duck_pdf)} rows"
    # the single ANSI row IS the () grouping set: count 0, NULL keys
    n_col = "n"
    assert int(duck_pdf[n_col].iloc[0]) == 0


#: The 9 queries the round-8 unicode sweep flagged (plus neighbors on
#: the same helpers), by root cause: (1) U+0130 'İ' lowercases to
#: 'i'+combining-dot under Java's full mapping but plain 'i' under
#: utf8proc — every lowercase entry point now folds 'İ'→'i' first
#: (text.LOWER_SPARK/LOWER_DUCK); (2) Python's Unicode-aware \s in the
#: chunking UDTF matched NEL/NBSP that RE2/Java \s do not — pinned to
#: re.ASCII; (3) the multimodal oracles did CHARACTER math over text
#: where the engine does BYTE math over the utf-8 payload — all
#: converted to hex(encode(text)) byte math (the mm_audio_window
#: contract); (4) interpolating BPE_PATTERN into a Spark SQL literal
#: silently ate the '\s' escape — both BPE sites now share one
#: correctly-escaped BPE_EXTRACT_SPARK constant.
UNICODE_QUERIES = (
    "dedup_exact",
    "text_normalize",
    "text_bpe_token_count",
    "text_tokenizer_fertility",
    "text_chunks_udtf",
    "text_lang_id_ngram",
    "text_quality_score",
    "mm_decode_features",
    "mm_frame_sample",
    "mm_resize",
    "mm_frame_dedup",
    "mm_audio_window",
    "mm_phash_buckets",
)


@pytest.fixture(scope="module")
def unicode_dir(spark, tmp_path_factory):
    """The sf0.001 corpus with deterministic hostile-Unicode text."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    out = str(tmp_path_factory.mktemp("hostile") / "unicode")
    stage("unicode", SF_SMOKE, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def unicode_duck(unicode_dir):
    con = duckdb.connect()
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{unicode_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", UNICODE_QUERIES)
def test_agrees_with_oracle_on_hostile_unicode(
    spark, unicode_dir, unicode_duck, name
):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, unicode_dir).toPandas()
    duck_pdf = unicode_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: The n=1 findings of the one-row hostile sweep plus the statistics
#: family most exposed to degenerate groups. Two crash classes fixed:
#: rel_corr_stats hit ANSI DIVIDE_BY_ZERO on a zero-variance group
#: (now try_divide / nullif(den, 0) → NULL in both engines), and
#: events_theilsen_trend indexed out of bounds because Spark's
#: sequence(a, b) with b < a is DESCENDING (not empty like DuckDB's
#: generate_series) — a single-day series produced sequence(2, 1) and
#: element_at(xs, 2) instead of zero pairwise slopes.
SINGLE_ROW_QUERIES = (
    "rel_corr_stats",
    "events_theilsen_trend",
    "rel_agg_stats",
    "rel_percentiles",
    "events_cusum_drift",
    "events_rolling_median",
    "events_mad_outliers",
    "events_autocorr",
    "rel_gini_revenue",
)


@pytest.fixture(scope="module")
def single_dir(spark, tmp_path_factory):
    """The corpus cut to exactly one row per table."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    out = str(tmp_path_factory.mktemp("hostile") / "single")
    stage("single", SF_SMOKE, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def single_duck(single_dir):
    con = duckdb.connect()
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{single_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", SINGLE_ROW_QUERIES)
def test_agrees_with_oracle_on_single_row(
    spark, single_dir, single_duck, name
):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, single_dir).toPandas()
    duck_pdf = single_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: The hostile-timestamps findings: pre-1970/epoch-zero/2038/2200
#: instants in ~2% of timestamp cells. Root causes fixed: (1) min/max-
#: driven grids (gap-fill spines, the calendar dimension, the recursive
#: month spine) let ONE garbage timestamp inflate the generated grid to
#: centuries — the hourly spine OOM'd and the recursive CTE blew
#: Spark's 100-level cap — all now behind the two-sided epoch gate
#: (static 1990 floor + future-clock `ts <= now`); (2) one future
#: instant advances streaming watermarks past all real data, evicting
#: join/dedup state (stream sources now carry guard_event_time, the
#: same gate); (3) the ETL's named-zone Asia/Seoul conversion follows
#: full IANA history (pre-1908 LMT +8:27:52) where the oracle mirrors
#: the modern fixed +9 — identical inside the gated epoch. Bounded
#: per-observed-row operators (sessionize) need no gate and prove it
#: here ungated. (4) r11: the pool's DST-transition instants are the
#: first hostile values INSIDE the epoch gate, and one 2021 cell in
#: the 1992-1998 corpus stretched the recursive month spine past
#: Spark's default 100-level recursion cap (a decade-plus of gated
#: dates is routine at 100 TB) — ``rel_recursive_month_spine`` now
#: declares MAX RECURSION LEVEL 2400 and this suite re-runs it over
#: the decade-span corpus as the regression pin.
TIMES_QUERIES = (
    "events_gap_fill",
    "events_gap_fill_lerp",
    "events_autocorr",
    "rel_calendar_spine",
    "rel_recursive_month_spine",
    "etl_events_pipeline",
    "stream_join_drain",
    "stream_dedup_drain",
    "stream_tumbling_drain",
    "stream_upsert_drain",
    "events_sessionize",
)


@pytest.fixture(scope="module")
def times_dir(spark, tmp_path_factory):
    """The sf0.001 corpus with hostile timestamp damage."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    out = str(tmp_path_factory.mktemp("hostile") / "times")
    stage("times", SF_SMOKE, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def times_duck(times_dir):
    con = duckdb.connect()
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{times_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", TIMES_QUERIES)
def test_agrees_with_oracle_on_hostile_timestamps(
    spark, times_dir, times_duck, name
):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, times_dir).toPandas()
    duck_pdf = times_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: Representatives of the round-8 ``skew`` sweep (one hot key owning a
#: large slice of each N-side foreign key: a ~100x-max basket, a
#: 15x-average user, one dominant source/customer). The full 222-query
#: sweep was green on FIRST run — correctness is invariant under key
#: distribution by construction — so these pin the families whose COST
#: is the scale risk: pairwise graph structures on the near-clique
#: basket, per-key windows over the giant user, per-source caps under
#: one dominant source.
SKEW_QUERIES = (
    # hot basket → near-clique: degree-oriented triangles, k-core
    # rounds, clustering coeff, bipartite BFS all stay bounded
    "graph_triangles",
    "graph_kcore",
    "graph_clustering_coeff",
    "graph_reachability",
    # hot user → one giant per-key window partition
    "events_sessionize",
    "events_rolling_median",
    "events_interarrival",
    "events_user_diversity",
    # hot source / hot customer → dominant-group aggregates
    "docs_cap_per_source",
    "docs_source_divergence",
    "rel_pareto_customers",
    "rel_rfm_segmentation",
)


@pytest.fixture(scope="module")
def skew_dir(spark, tmp_path_factory):
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    out = str(tmp_path_factory.mktemp("hostile") / "skew")
    stage("skew", SF_SMOKE, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def skew_duck(skew_dir):
    con = duckdb.connect()
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{skew_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", SKEW_QUERIES)
def test_agrees_with_oracle_on_hot_keys(spark, skew_dir, skew_duck, name):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, skew_dir).toPandas()
    duck_pdf = skew_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: Representatives of the round-8 ``giant`` sweep (~1 MB document
#: cells, a 512 KiB single-token payload, bloated event JSON). This
#: mode found an entire BUG CLASS — superlinear per-cell work that a
#: bounded-size corpus can never expose: Catalyst evaluating an
#: unbounded Levenshtein on block-equal SELF-matches, Java regex
#: backtracking O(run²) on open-ended character-class quantifiers,
#: DuckDB's character-indexed substr making per-byte explodes
#: quadratic, CTE inlining re-rendering megabyte hex per exploded row,
#: and the repetition filter silently dropping the single-token doc
#: from its verdict (the total-verdict contract fix). Each pinned row
#: is one of those fixes. The full 222-query giant sweep is green on
#: r15 code (``0dc33e4:REHEARSAL_r15_hostile.json: giant_sf0_01`` — the first
#: full-width record for this mode; earlier rounds ran it
#: subset-pinned only).
GIANT_QUERIES = (
    # fixed this round: hang class
    "dedup_fuzzy_levenshtein",   # LEV_MAX_LEN cap, expression-gated
    "text_pii_scrub",            # RFC-bounded quantifiers + @ gate
    "text_decontaminate",        # window-frame shingle oracle
    "mm_payload_impurity",       # linear regex byte split + MATERIALIZED
    "mm_frame_dedup",            # linear frame chunks
    "mm_frame_sample",
    # fixed this round: total-verdict contract
    "text_repetition_filter",
    "docs_curation_pipeline",
    # stressed-but-sound representatives (chunker fan-out, ranked
    # retrieval, minhash over a 180k-shingle doc)
    "text_chunks_udtf",
    "docs_bm25_topk",
    "dedup_minhash_lsh",
)


@pytest.fixture(scope="module")
def giant_dir(spark, tmp_path_factory):
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    out = str(tmp_path_factory.mktemp("hostile") / "giant")
    stage("giant", SF_SMOKE, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def giant_duck(giant_dir):
    con = duckdb.connect()
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{giant_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", GIANT_QUERIES)
def test_agrees_with_oracle_on_giant_cells(spark, giant_dir, giant_duck, name):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, giant_dir).toPandas()
    duck_pdf = giant_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


def test_negative_zero_group_key_divergence_pinned(spark, tmp_path):
    """KNOWN engine boundary, pinned: Spark NORMALIZES a -0.0 GROUP BY
    key to +0.0 (SPARK-32110 — grouping on unsafe-row bytes requires
    it) while DuckDB keeps -0.0 as the representative key. Both group
    the two zeros into ONE group (IEEE equality), so counts agree and
    only the rendered key differs. The registry never groups by a raw
    double measure — this test is the reason written down: if a future
    query does, its oracle hash will split exactly here. Cents folds
    on extreme doubles (±9.2e18 overflow → NULL via TRY_CAST,
    denormals → 0) agree between engines and are asserted identical.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "extremes.parquet")
    vals = [-0.0, 0.0, 9.2e18, -9.2e18, 5e-324, -5e-324]
    pq.write_table(pa.table({"v": vals}), path)

    from pyspark.sql import functions as F

    skeys = [
        r["v"]
        for r in spark.read.parquet(path)
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    con = duckdb.connect()
    dkeys = [
        r[0]
        for r in con.sql(
            f"SELECT v, count(*) FROM '{path}' GROUP BY v"
        ).fetchall()
    ]
    con.close()
    assert len(skeys) == len(dkeys) == 5  # the zeros collapse to one
    szero = [x for x in skeys if x == 0.0]
    dzero = [x for x in dkeys if x == 0.0]
    # the divergence itself: Spark's representative is +0.0, DuckDB's
    # is -0.0 (str() distinguishes what == cannot)
    assert str(szero[0]) == "0.0"
    assert str(dzero[0]) == "-0.0"


#: Representatives of the round-8 ``drift`` sweep: every table's
#: directory holds TWO parquet generations — 70% of rows in the full
#: current schema, 30% in an older footer that LACKS one nullable
#: column and stores the rest in REVERSED order. The bug class this
#: mode exists to catch is single-footer schema inference: a reader
#: that trusts one sampled file's footer for the whole directory
#: either silently drops the evolved column for ALL rows or binds
#: columns by position (listing-order-dependent either way). The
#: engine's fix is ``mergeSchema`` on directory reads
#: (``plans/registry.py: table``), mirrored on the oracle side by
#: DuckDB ``union_by_name``; the full 222-query drift sweep is green
#: (``0dc33e4:REHEARSAL_r15_hostile.json: drift_sf0_01`` on current code;
#: first recorded r8). Each pinned query
#: aggregates or filters directly over a drift-dropped column
#: (l_tax / o_orderpriority / c_mktsegment / props / lang / label),
#: so a regression to single-footer inference fails here, not in a
#: future hostile sweep.
DRIFT_QUERIES = (
    "q1_pricing_summary",      # l_tax inside the charge fold
    "q3_top_orders",           # c_mktsegment filter + o_orderpriority
    "rel_cube",                # o_orderpriority as a cube dimension
    "rel_variant_props",       # events.props VARIANT extraction
    "etl_json_struct",         # events.props from_json
    "text_lang_id",            # documents.lang verdict join
    "docs_dedup_corpus",       # lang + embeddings.label
    "sim_embedding_clusters",  # embeddings.label purity
)


@pytest.fixture(scope="module")
def drift_dir(spark, tmp_path_factory):
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    out = str(tmp_path_factory.mktemp("hostile") / "drift")
    stage("drift", SF_SMOKE, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def drift_duck(drift_dir):
    con = duckdb.connect()
    for t in registry.TABLES:
        # union_by_name mirrors the engine's mergeSchema: merge the two
        # generations' footers by NAME and null-fill the dropped column
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{drift_dir}/{t}.parquet/*.parquet', union_by_name=true)"
        )
    yield con
    con.close()


def test_drift_directory_read_merges_generations(spark, drift_dir):
    """The reader contract the drift mode exists to pin: a
    two-generation directory comes back with the UNION schema, the
    evolved column null-filled exactly on old-generation rows, and no
    rows lost. A single-footer reader fails all three depending on
    which generation it samples."""
    df = registry.table(spark, drift_dir, "lineitem")
    clean = registry.table(spark, SF_SMOKE, "lineitem")
    assert set(df.columns) == set(clean.columns)  # l_tax survived
    total = df.count()
    assert total == clean.count()  # no generation dropped
    missing = df.filter(df["l_tax"].isNull()).count()
    # the old generation (~30%) lacks l_tax entirely; the clean corpus
    # has none null, so every null here IS the null-filled generation
    assert 0 < missing < total
    assert clean.filter(clean["l_tax"].isNull()).count() == 0


@pytest.mark.parametrize("name", DRIFT_QUERIES)
def test_agrees_with_oracle_on_schema_drift(spark, drift_dir, drift_duck, name):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, drift_dir).toPandas()
    duck_pdf = drift_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: Representatives of the round-8 ``widen`` sweep: the type-promotion
#: flavor of ``drift`` — the ~30% older generation keeps every column
#: but DECLARES one or two numerics narrower in its footer (float
#: where the current schema says double, int/smallint where it says
#: bigint/int) and reverses column order. Spark's ``mergeSchema``
#: HARD-FAILS this directory (CANNOT_MERGE_SCHEMAS on float vs
#: double), so ``registry.table()`` computes the promoted union
#: schema itself (arrow permissive footer union → explicit read
#: schema; ``plans/registry.py: _unified_directory_schema``) and the
#: oracle mirrors it with DuckDB ``union_by_name``'s native
#: promotion. The full 222-query widen sweep is green
#: (``0dc33e4:REHEARSAL_r15_hostile.json: widen_sf0_01`` on current code;
#: first recorded r8); each pinned query
#: aggregates over a narrowed column, so a regression to mergeSchema
#: (or a promotion disagreement between engines) fails here.
WIDEN_QUERIES = (
    "q1_pricing_summary",     # l_quantity (float gen) inside sum folds
    "q6_forecast_revenue",    # l_quantity range filter + revenue fold
    "rel_agg_stats",          # o_totalprice moments
    "events_gap_fill",        # events.value (float gen) day grid
    "events_value_winsorized",  # value quantile clamps
    "q2_min_cost_supplier",   # s_acctbal + p_size
    "docs_dedup_corpus",      # n_chars tie-break + embeddings.label
    "rel_pareto_customers",   # c_acctbal / o_totalprice concentration
    # the sweep's real find: FileStreamSource takes its schema up front,
    # and single-footer inference over a two-generation directory is
    # listing-order dependent — sampling the narrow (float) generation
    # made every wide (double) file unreadable mid-stream. events_stream
    # now hands it the promoted footer union.
    "stream_tumbling_drain",
)


@pytest.fixture(scope="module")
def widen_dir(spark, tmp_path_factory):
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    out = str(tmp_path_factory.mktemp("hostile") / "widen")
    stage("widen", SF_SMOKE, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def widen_duck(widen_dir):
    con = duckdb.connect()
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{widen_dir}/{t}.parquet/*.parquet', union_by_name=true)"
        )
    yield con
    con.close()


def test_widen_directory_read_promotes_types(spark, widen_dir):
    """The reader contract: a directory whose generations disagree on a
    numeric column's declared width comes back under the PROMOTED type
    with no rows lost and narrow-generation values preserved exactly
    (float32 → double is exact). mergeSchema refuses this directory
    outright — pinned so the fallback can never silently return."""
    df = registry.table(spark, widen_dir, "lineitem")
    clean = registry.table(spark, SF_SMOKE, "lineitem")
    assert dict(df.dtypes)["l_quantity"] == "double"
    # corpus declares int32; the old generation narrows to int16 —
    # promotion restores the CURRENT declared width, not a wider one
    assert dict(df.dtypes)["l_linenumber"] == "int"
    assert df.count() == clean.count()
    # the JVM surfaces this one as a raw py4j error, not a converted
    # PySparkException — match the error class in the message instead
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        spark.read.option("mergeSchema", "true").parquet(
            f"{widen_dir}/lineitem.parquet"
        ).schema


@pytest.mark.parametrize("name", WIDEN_QUERIES)
def test_agrees_with_oracle_on_widened_types(spark, widen_dir, widen_duck, name):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, widen_dir).toPandas()
    duck_pdf = widen_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


def test_vector_element_type_drift_promotes_and_agrees(spark, tmp_path):
    """A corpus that upgraded its embedding column float32 → float64
    mid-ingest: the directory's footers disagree on the ARRAY ELEMENT
    type (list<float> vs list<double>). The promoted union is
    array<double> (arrow promotes element types the same way it does
    scalars), Spark's parquet reader serves the float32 generation
    under it natively (exact, float32 ⊂ double), and DuckDB's
    union_by_name promotes identically — pinned end-to-end through the
    top-k cosine query, whose scores must be bit-identical across
    engines on the mixed directory."""
    out = str(tmp_path / "embeddings.parquet")
    base = registry.table(spark, SF_SMOKE, "embeddings")
    from pyspark.sql import functions as F

    gen0 = base.filter(F.col("vec_id") % 3 != 0)  # float32 (current)
    gen1 = base.filter(F.col("vec_id") % 3 == 0).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    gen0.write.mode("overwrite").parquet(out)
    gen1.write.mode("append").parquet(out)

    df = registry.table(spark, str(tmp_path), "embeddings")
    assert dict(df.dtypes)["embedding"] == "array<double>"
    assert df.count() == base.count()

    registry.load_all()
    spec = registry.REGISTRY["sim_topk_cosine"]
    spark_pdf = spec.builder(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{out}/*.parquet', union_by_name=true)"
    )
    duck_pdf = con.sql(spec.oracle).df()
    con.close()
    s, d = _canon(spark_pdf), _canon(duck_pdf)
    assert len(s) == len(d) and list(s.columns) == list(d.columns)
    for col in s.columns:
        assert [str(x) for x in s[col]] == [str(x) for x in d[col]], col


def test_mixed_codec_directory_agrees(spark, tmp_path):
    """A directory whose part files use DIFFERENT compression codecs
    (snappy + zstd + uncompressed — the normal residue of changing a
    writer default mid-ingest). Codec is per-file metadata, so both
    engines must read the mix transparently; pinned end-to-end through
    q1 because a codec problem would surface as row loss or a scan
    error, not a value drift."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "lineitem.parquet")
    base = registry.table(spark, SF_SMOKE, "lineitem")
    slices = [
        (base.filter(F.col("l_orderkey") % 3 == 0), "snappy", "overwrite"),
        (base.filter(F.col("l_orderkey") % 3 == 1), "zstd", "append"),
        (base.filter(F.col("l_orderkey") % 3 == 2), "uncompressed", "append"),
    ]
    for df, codec, mode in slices:
        df.write.mode(mode).option("compression", codec).parquet(out)

    got = registry.table(spark, str(tmp_path), "lineitem")
    assert got.count() == base.count()

    registry.load_all()
    spec = registry.REGISTRY["q1_pricing_summary"]
    spark_pdf = spec.builder(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW lineitem AS SELECT * FROM '{out}/*.parquet'"
    )
    duck_pdf = con.sql(spec.oracle).df()
    con.close()
    s, d = _canon(spark_pdf), _canon(duck_pdf)
    assert len(s) == len(d) and list(s.columns) == list(d.columns)
    for col in s.columns:
        assert [str(x) for x in s[col]] == [str(x) for x in d[col]], col


def test_corrupt_part_file_fails_loudly(spark, tmp_path):
    """A truncated/garbage part file inside a table directory must fail
    the read LOUDLY, in both the footer-sniff path and the scan — never
    silently skip rows. (Spark's ignoreCorruptFiles and DuckDB's
    ignore_errors exist, but silent skipping is data LOSS at ingest
    scale; the engine's contract is to surface the file so it can be
    quarantined upstream.) The footer sniff (`_unified_directory_schema`
    reads every footer) is the first line that trips."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "lineitem.parquet")
    base = registry.table(spark, SF_SMOKE, "lineitem")
    base.write.mode("overwrite").parquet(out)
    with open(f"{out}/part-99999-corrupt.snappy.parquet", "wb") as fh:
        fh.write(b"PAR1 this is not a parquet file")

    with pytest.raises(Exception):
        registry.table(spark, str(tmp_path), "lineitem").count()

    con = duckdb.connect()
    with pytest.raises(Exception):
        con.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchall()
    con.close()


def test_timestamp_unit_drift_reads_and_nanos_mix_is_a_loud_boundary(
    spark, tmp_path
):
    """Timestamp UNIT drift across generations. Two regimes, both
    pinned:

    - micros + millis generations in one directory read correctly
      under the promoted TimestampType (parquet unit is per-file
      metadata; values keep their own precision), and DuckDB agrees
      cell-for-cell.
    - a TIMESTAMP(NANOS) generation mixed with a micros generation is
      a HARD ENGINE BOUNDARY: under TimestampType the nanos file is
      unreadable, and under nanosAsLong the micros file is — there is
      no schema that serves both, so ``table()`` fails LOUDLY either
      way (never silently drops a generation). A corpus that flips to
      nanos mid-ingest must re-encode, exactly what ``table()``'s
      nanos repair emits."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [datetime.datetime(2024, 1, 1, 12, 0, 0, 123456)]

    out = str(tmp_path / "ok" / "events.parquet")
    import os

    os.makedirs(out)
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()),
                  "ts": pa.array(ts, pa.timestamp("us"))}),
        f"{out}/g0.parquet",
    )
    pq.write_table(
        pa.table({"event_id": pa.array([2], pa.int64()),
                  "ts": pa.array(ts, pa.timestamp("ms"))}),
        f"{out}/g1.parquet",
    )
    df = registry.table(spark, str(tmp_path / "ok"), "events")
    got = {r["event_id"]: str(r["ts"]) for r in df.collect()}
    con = duckdb.connect()
    want = {
        r[0]: str(r[1])
        for r in con.sql(
            f"SELECT event_id, ts FROM read_parquet("
            f"'{out}/*.parquet', union_by_name=true)"
        ).fetchall()
    }
    con.close()
    assert got == want  # .123456 vs .123000 — each file keeps its unit

    bad = str(tmp_path / "bad" / "events.parquet")
    os.makedirs(bad)
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()),
                  "ts": pa.array(ts, pa.timestamp("us"))}),
        f"{bad}/g0.parquet",
    )
    pq.write_table(
        pa.table({"event_id": pa.array([2], pa.int64()),
                  "ts": pa.array(ts, pa.timestamp("ns"))}),
        f"{bad}/g1.parquet",
    )
    with pytest.raises(Exception):
        registry.table(spark, str(tmp_path / "bad"), "events").collect()


# ---------------------------------------------------------------------------
# COMPOSED damage: hostile timestamps ON a hot-key distribution
# ---------------------------------------------------------------------------

#: Round-9 composed mode — the two axes round 8 never crossed:
#: ``times`` (epoch-zero / pre-1970 / 2038 / 2200 instants in ~2% of
#: timestamp cells) re-staged through ``skew`` (10% of events onto one
#: user, 3% of orders onto one customer, 30% of documents onto one
#: source). The interaction surface is precisely the rows where both
#: defenses fire together: the hot user's giant window partition now
#: CONTAINS hostile instants, so the epoch gates, the watermark guard,
#: and the salted/hot-key paths all act on the same rows. The full
#: 222-query sweep is recorded in ``0dc33e4:REHEARSAL_r09_hostile.json``
#: (``times_then_skew_sf0_01``); these pin the families where the two
#: damage classes genuinely interact (gated grids over a hot key,
#: watermarked drains over a hot user, the gated ETL over damaged hot
#: rows), so a regression in either defense — or in their composition
#: — fails here, not in a future sweep.
TIMES_SKEW_QUERIES = (
    "events_gap_fill",         # epoch-gated spine, hot user inside the grid
    "events_gap_fill_lerp",    # gated spine + interpolation over the gap
    "events_autocorr",         # gated dense grid per event_type
    "events_sessionize",       # ungated per-observed-row windows on the giant user
    "events_rolling_median",   # per-key window over the hot partition
    "events_anomaly_rolling",  # rolling stats with hostile instants in-window
    "stream_dedup_drain",      # watermark guard vs future instants on hot keys
    "stream_tumbling_drain",   # windowed drain over the skewed stream
    "etl_events_pipeline",     # gated KST conversion over damaged hot rows
    "rel_calendar_spine",      # gated o_orderdate grid under customer skew
)


@pytest.fixture(scope="module")
def times_skew_dir(spark, tmp_path_factory):
    """sf0.001 with hostile timestamps, THEN hot-key redirection."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    root = tmp_path_factory.mktemp("hostile")
    mid = str(root / "times")
    out = str(root / "times_then_skew")
    stage("times", SF_SMOKE, mid, spark=spark)
    stage("skew", mid, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def times_skew_duck(times_skew_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{times_skew_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


def test_composed_damage_lands_on_the_hot_key(spark, times_skew_dir):
    """The composition premise: the hot user's partition actually
    CONTAINS out-of-epoch instants (if the two damage classes landed on
    disjoint rows the sweep would prove nothing about interaction)."""
    from pyspark.sql import functions as F

    ev = registry.table(spark, times_skew_dir, "events")
    hot_user = (
        ev.groupBy("user_id").count().orderBy(F.desc("count")).first()
    )
    hostile_on_hot = ev.filter(
        (F.col("user_id") == hot_user.user_id)
        & (
            (F.col("ts") < F.lit("1990-01-01").cast("timestamp_ntz"))
            | (F.col("ts") > F.expr("localtimestamp()"))
        )
    ).count()
    # sf0.001: 1,000 events, 10% redirected → hot user ~162 rows, 4 of
    # them hostile instants (deterministic staging)
    assert hot_user["count"] > 100, "skew staging lost the hot user"
    assert hostile_on_hot > 0, "no hostile instants on the hot key"


@pytest.mark.parametrize("name", TIMES_SKEW_QUERIES)
def test_agrees_with_oracle_on_times_then_skew(
    spark, times_skew_dir, times_skew_duck, name
):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, times_skew_dir).toPandas()
    duck_pdf = times_skew_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: Round-9's second composed mode: ``giant`` (megabyte text cells, the
#: 512 KiB single token, the 2.3 MB payload) re-staged through ``skew``
#: — at sf0.01 the 30%-dominant source src0 then CARRIES the 1.14 MB
#: document, so the giant-cell defenses (the expression-level
#: LEV_MAX_LEN cap, the anchored bounded PII pattern, the TOTAL
#: repetition contract) and the hot-source paths (per-source caps,
#: source divergence, mixture sampling) act on the same rows. Full
#: sweep 222/222 green
#: (``0dc33e4:REHEARSAL_r09_hostile.json: giant_then_skew_sf0_01``); pins below
#: cover the families where the megabyte cell rides the dominant group.
GIANT_SKEW_QUERIES = (
    "docs_cap_per_source",       # cap sampling inside the giant-carrying source
    "docs_source_divergence",    # per-source stats dominated by src0
    "docs_mixture_sample",       # mixture weights with one giant-heavy source
    "dedup_fuzzy_levenshtein",   # LEV cap must keep excluding the megabyte doc
    "text_pii_scrub",            # anchored bounded pattern over the 512 KiB token
    "text_repetition_filter",    # TOTAL contract incl. single-token giants
)


@pytest.fixture(scope="module")
def giant_skew_dir(spark, tmp_path_factory):
    """sf0.001 with megabyte cells, THEN hot-key redirection."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    root = tmp_path_factory.mktemp("hostile")
    mid = str(root / "giant")
    out = str(root / "giant_then_skew")
    stage("giant", SF_SMOKE, mid, spark=spark)
    stage("skew", mid, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def giant_skew_duck(giant_skew_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{giant_skew_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


def test_giant_cell_rides_the_hot_source(spark, giant_skew_dir):
    """The composition premise: the dominant source actually carries a
    megabyte-class document after the redirection."""
    from pyspark.sql import functions as F

    docs = registry.table(spark, giant_skew_dir, "documents")
    hot = docs.groupBy("source").count().orderBy(F.desc("count")).first()
    giant_on_hot = docs.filter(
        (F.col("source") == hot.source) & (F.length("text") > 100_000)
    ).count()
    assert giant_on_hot > 0, "no megabyte cell on the dominant source"


@pytest.mark.parametrize("name", GIANT_SKEW_QUERIES)
def test_agrees_with_oracle_on_giant_then_skew(
    spark, giant_skew_dir, giant_skew_duck, name
):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, giant_skew_dir).toPandas()
    duck_pdf = giant_skew_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: Round-9's third composed mode: ``floats`` (NaN/±Inf in ~2% of float
#: cells) re-staged through ``skew`` — the hot user's giant group then
#: CONTAINS non-finite values (premise measured: 14 NaN/Inf rows inside
#: the 1,060-row hot user at sf0.01), so the TRY_CAST cents folds, the
#: salted two-phase aggregation, and the robust-statistics paths all
#: handle non-finite cells inside the dominant group. Full sweep
#: 222/222 green (``0dc33e4:REHEARSAL_r09_hostile.json:
#: floats_then_skew_sf0_01``); pins cover the families where NaN
#: handling and hot-key handling genuinely share rows.
FLOATS_SKEW_QUERIES = (
    "events_skew_salted_agg",    # salted fold over NaN cells on the hot key
    "events_skew_salted_join",
    "events_value_winsorized",   # robust stats with Inf in the dominant group
    "events_value_deciles",
    "events_rolling_median",     # per-key window stats over non-finite cells
    "rel_pareto_customers",      # hot-customer revenue with damaged amounts
)


@pytest.fixture(scope="module")
def floats_skew_dir(spark, tmp_path_factory):
    """sf0.001 with NaN/Inf damage, THEN hot-key redirection."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    root = tmp_path_factory.mktemp("hostile")
    mid = str(root / "floats")
    out = str(root / "floats_then_skew")
    stage("floats", SF_SMOKE, mid, spark=spark)
    stage("skew", mid, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def floats_skew_duck(floats_skew_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{floats_skew_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", FLOATS_SKEW_QUERIES)
def test_agrees_with_oracle_on_floats_then_skew(
    spark, floats_skew_dir, floats_skew_duck, name
):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, floats_skew_dir).toPandas()
    duck_pdf = floats_skew_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: Round-10's TRIPLE composition: ``unicode`` (ZWJ/CJK/RTL-damaged
#: documents.text) through ``times`` (hostile-but-legal instants in ~2%
#: of timestamp cells) through ``skew`` (hot-key FK redirection) — the
#: first corpus carrying THREE damage families at once. The genuinely
#: new interactions are per-table: the 30%-dominant source carries
#: unicode-damaged text (text defenses on the hot source's rows) while
#: the hot user's giant partition carries out-of-epoch instants (epoch
#: gates + watermark guard on the hot key) in the SAME staged corpus,
#: so any defense that keyed off "clean elsewhere" state would fail
#: here. Full sweep 222/222 green on first run
#: (``0dc33e4:REHEARSAL_r10_hostile.json: unicode_times_skew_sf0_01``).
UNICODE_TIMES_SKEW_QUERIES = (
    "docs_cap_per_source",     # cap sampling over the damaged hot source
    "docs_source_divergence",  # per-source token stats with unicode on src0
    "text_lang_id_ngram",      # n-gram profiles over ZWJ/CJK/RTL cells
    "text_pii_scrub",          # the r10-fixed anchored pattern on damaged text
    "events_gap_fill",         # epoch-gated spine, hot user inside the grid
    "stream_tumbling_drain",   # watermarked drain over the skewed stream
)


@pytest.fixture(scope="module")
def unicode_times_skew_dir(spark, tmp_path_factory):
    """sf0.001 with unicode text damage, THEN hostile instants, THEN
    hot-key redirection."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    root = tmp_path_factory.mktemp("hostile")
    mid1 = str(root / "unicode")
    mid2 = str(root / "unicode_times")
    out = str(root / "unicode_times_skew")
    stage("unicode", SF_SMOKE, mid1, spark=spark)
    stage("times", mid1, mid2, spark=spark)
    stage("skew", mid2, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def unicode_times_skew_duck(unicode_times_skew_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{unicode_times_skew_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


def test_triple_damage_lands_on_the_hot_keys(spark, unicode_times_skew_dir):
    """The triple-composition premise, both halves: the dominant source
    carries unicode-damaged text AND the hot user carries out-of-epoch
    instants — in the same staged corpus. If either damage class landed
    only on cold rows the sweep would prove nothing about interaction."""
    from pyspark.sql import functions as F

    docs = registry.table(spark, unicode_times_skew_dir, "documents")
    hot_src = docs.groupBy("source").count().orderBy(F.desc("count")).first()
    damaged_on_hot = docs.filter(
        (F.col("source") == hot_src.source)
        & F.col("text").rlike("[^\\x00-\\x7F]")
    ).count()
    assert hot_src["count"] > 100, "skew staging lost the dominant source"
    assert damaged_on_hot > 0, "no unicode-damaged text on the hot source"

    ev = registry.table(spark, unicode_times_skew_dir, "events")
    hot_user = ev.groupBy("user_id").count().orderBy(F.desc("count")).first()
    hostile_on_hot = ev.filter(
        (F.col("user_id") == hot_user.user_id)
        & (
            (F.col("ts") < F.lit("1990-01-01").cast("timestamp_ntz"))
            | (F.col("ts") > F.expr("localtimestamp()"))
        )
    ).count()
    assert hot_user["count"] > 100, "skew staging lost the hot user"
    assert hostile_on_hot > 0, "no hostile instants on the hot key"


@pytest.mark.parametrize("name", UNICODE_TIMES_SKEW_QUERIES)
def test_agrees_with_oracle_on_unicode_times_skew(
    spark, unicode_times_skew_dir, unicode_times_skew_duck, name
):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, unicode_times_skew_dir).toPandas()
    duck_pdf = unicode_times_skew_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


# ---------------------------------------------------------------------------
# COMPOSED damage: hot-key distribution INSIDE type-promotion generations
# ---------------------------------------------------------------------------

#: Round-11 composed mode — the last uncrossed axis pair: ``skew``
#: re-staged through ``widen``, so the hot key's rows live partly in
#: the NARROW-TYPED old generation (l_quantity float / l_linenumber
#: smallint / events.value float footers) that the promoted
#: footer-union read must widen. Composition ORDER matters: widen
#: last, because any mode staged after it reads through the promoted
#: union and would collapse the generations back to one schema — the
#: "widen then skew" phrasing of the ask is unstageable by
#: construction. Staging itself surfaced one realism fix: skew
#: re-derives l_linenumber into 6-digit values (PK uniqueness), which
#: overflow SMALLINT, so the widen split now routes rows that don't
#: FIT the narrow types to the wide generation — exactly what a real
#: old-era writer implies (it could never have written a value outside
#: its column type's range). Full 222-query sweep recorded in
#: ``0dc33e4:REHEARSAL_r11_hostile.json`` (``skew_then_widen_sf0_01``); these
#: pin the families where promotion and the hot key genuinely
#: interact.
SKEW_WIDEN_QUERIES = (
    "q1_pricing_summary",      # cents folds over float->double generations
    "events_skew_salted_agg",  # salted two-phase agg, hot user, promoted value
    "events_skew_salted_join", # salted join against the hot key under promotion
    "events_value_deciles",    # percentiles over promoted value incl. giant user
    "graph_reachability",      # BFS over the giant basket, promoted linenumber
    "docs_cap_per_source",     # caps under one dominant source, promoted n_chars
)


@pytest.fixture(scope="module")
def skew_widen_dir(spark, tmp_path_factory):
    """sf0.001 with hot-key redirection, THEN type-promotion split."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    root = tmp_path_factory.mktemp("hostile")
    mid = str(root / "skew")
    out = str(root / "skew_then_widen")
    stage("skew", SF_SMOKE, mid, spark=spark)
    stage("widen", mid, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def skew_widen_duck(skew_widen_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in registry.TABLES:
        # union_by_name: the widen directories span footer generations
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{skew_widen_dir}/{t}.parquet/*.parquet', union_by_name=true)"
        )
    yield con
    con.close()


def test_skew_widen_hot_key_lives_in_the_narrow_generation(
    spark, skew_widen_dir
):
    """The composition premise, both halves: the widen split actually
    produced a narrow-typed generation, and the hot key's rows are
    measurably INSIDE it (disjoint damage would prove nothing about
    interaction)."""
    import glob as _glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ev_files = _glob.glob(f"{skew_widen_dir}/events.parquet/*.parquet")
    narrow = [
        f
        for f in ev_files
        if str(pq.read_schema(f).field("value").type) == "float"
    ]
    assert narrow and len(narrow) < len(ev_files), (
        "widen staging produced no narrow events generation"
    )
    ev = registry.table(spark, skew_widen_dir, "events")
    hot_user = ev.groupBy("user_id").count().orderBy(F.desc("count")).first()
    assert hot_user["count"] > 100, "skew staging lost the hot user"
    hot_in_narrow = (
        spark.read.parquet(*narrow)
        .filter(F.col("user_id") == hot_user.user_id)
        .count()
    )
    assert hot_in_narrow > 0, "no hot-key rows in the narrow generation"
    # and the promoted union serves the whole directory as one schema
    assert dict(ev.dtypes)["value"] == "double"


@pytest.mark.parametrize("name", SKEW_WIDEN_QUERIES)
def test_agrees_with_oracle_on_skew_then_widen(
    spark, skew_widen_dir, skew_widen_duck, name
):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, skew_widen_dir).toPandas()
    duck_pdf = skew_widen_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: Round-11's second composition: ``times`` (hostile + DST-transition
#: instants) re-staged through ``widen`` — the epoch gates, the
#: recursion-bounded month spine, and the watermark guard act on rows
#: served through the promoted footer-union read, with the hostile
#: instants measurably INSIDE the narrow-typed old generation. Full
#: 222-query sweep: ``0dc33e4:REHEARSAL_r11_hostile.json``
#: (``times_then_widen_sf0_01``, green first run).
TIMES_WIDEN_QUERIES = (
    "events_gap_fill",            # epoch-gated spine over promoted value
    "events_gap_fill_lerp",       # + the r11 descending-frame rewrite
    "rel_recursive_month_spine",  # r11 recursion bound on in-gate extremes
    "rel_calendar_spine",         # gated o_orderdate grid, promoted totalprice
    "etl_events_pipeline",        # gated KST conversion over promoted value
    "stream_tumbling_drain",      # stream takes the promoted union up front
)


@pytest.fixture(scope="module")
def times_widen_dir(spark, tmp_path_factory):
    """sf0.001 with hostile/DST instants, THEN type-promotion split."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    root = tmp_path_factory.mktemp("hostile")
    mid = str(root / "times")
    out = str(root / "times_then_widen")
    stage("times", SF_SMOKE, mid, spark=spark)
    stage("widen", mid, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def times_widen_duck(times_widen_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{times_widen_dir}/{t}.parquet/*.parquet', union_by_name=true)"
        )
    yield con
    con.close()


def test_times_widen_hostile_instants_live_in_the_narrow_generation(
    spark, times_widen_dir
):
    """The composition premise: the narrow-typed old generation actually
    CONTAINS hostile instants, so the gates and the promotion path run
    on the same rows."""
    import glob as _glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ev_files = _glob.glob(f"{times_widen_dir}/events.parquet/*.parquet")
    narrow = [
        f
        for f in ev_files
        if str(pq.read_schema(f).field("value").type) == "float"
    ]
    assert narrow and len(narrow) < len(ev_files)
    hostile = (
        spark.read.parquet(*narrow)
        .filter(
            (F.col("ts") < F.lit("1990-01-01").cast("timestamp_ntz"))
            | (F.col("ts") > F.expr("localtimestamp()"))
            | F.col("ts").isin(
                "2021-03-28 01:30:00",
                "2021-10-31 01:30:00",
                "2022-09-11 00:30:00",
                "2023-04-01 23:30:00",
            )
        )
        .count()
    )
    assert hostile > 0, "no hostile instants in the narrow generation"


@pytest.mark.parametrize("name", TIMES_WIDEN_QUERIES)
def test_agrees_with_oracle_on_times_then_widen(
    spark, times_widen_dir, times_widen_duck, name
):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, times_widen_dir).toPandas()
    duck_pdf = times_widen_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: Round-12's composition: the two SCHEMA-EVOLUTION axes crossed — one
#: directory holding THREE footer generations: current full schema
#: (~55%), a column-DROPPED reversed-order generation (the ``drift``
#: shape), and a type-NARROWED reversed-order generation (the ``widen``
#: shape). Chaining the modes (``--out`` -> ``--sf-dir``) cannot stage
#: this — each mode re-reads through the promoted union, which
#: null-fills the dropped column / re-widens the narrow types and
#: collapses the prior generations — so ``drift_widen`` is a single
#: three-way split (the same argument that made "widen then skew"
#: unstageable). ``embeddings.label`` is the same-column cross: DROPPED
#: in one generation and SMALLINT-narrowed in another, so the footer
#: union must null-fill and type-promote ONE column simultaneously.
#: Full 222-query sweep: ``0dc33e4:REHEARSAL_r12_hostile.json``
#: (``drift_then_widen_sf0_01``).
DRIFT_WIDEN_QUERIES = (
    "q1_pricing_summary",    # null-filled l_tax + float-promoted l_quantity
    "sim_embedding_drift",   # groups by label: the same-column cross
    "etl_events_pipeline",   # dropped props + promoted value, one directory
    "rel_variant_props",     # JSON extraction over the null-filled props gen
    "q4_order_priority",     # grouping key itself dropped in one generation
    "docs_mixture_sample",   # mixture weights over null-filled lang
    "stream_tumbling_drain", # FileStreamSource takes the 3-gen union up front
)


@pytest.fixture(scope="module")
def drift_widen_dir(spark, tmp_path_factory):
    """sf0.001 with the three-generation drift x widen directory."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    out = str(tmp_path_factory.mktemp("hostile") / "drift_widen")
    stage("drift_widen", SF_SMOKE, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def drift_widen_duck(drift_widen_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{drift_widen_dir}/{t}.parquet/*.parquet', union_by_name=true)"
        )
    yield con
    con.close()


def test_drift_widen_directory_holds_three_footer_generations(
    spark, drift_widen_dir
):
    """The composition premise: one directory, three footer shapes —
    and on ``embeddings`` the SAME column (label) is absent from one
    footer and SMALLINT in another, while the promoted union serves the
    whole directory as one schema with no row loss."""
    import glob as _glob

    import pyarrow.parquet as pq

    for t, drop, ncol, wide in [
        ("lineitem", "l_tax", "l_quantity", "double"),
        ("embeddings", "label", "label", "int32"),
        ("events", "props", "value", "double"),
    ]:
        files = _glob.glob(f"{drift_widen_dir}/{t}.parquet/*.parquet")
        dropped = [f for f in files if drop not in pq.read_schema(f).names]
        narrowed = [
            f
            for f in files
            if ncol in pq.read_schema(f).names
            and str(pq.read_schema(f).field(ncol).type) in ("float", "int16")
        ]
        current = [
            f
            for f in files
            if drop in pq.read_schema(f).names
            and str(pq.read_schema(f).field(ncol).type) == wide
        ]
        assert dropped and narrowed and current, (
            f"{t}: expected all three generations, got "
            f"dropped={len(dropped)} narrowed={len(narrowed)} "
            f"current={len(current)}"
        )
    # the union read: every generation's rows, one promoted schema
    emb = registry.table(spark, drift_widen_dir, "embeddings")
    assert dict(emb.dtypes)["label"] == "int"
    base = registry.table(spark, SF_SMOKE, "embeddings")
    assert emb.count() == base.count(), "generation split lost rows"
    from pyspark.sql import functions as F

    n_null = emb.filter(F.col("label").isNull()).count()
    assert n_null > 0, "no null-filled label rows — drift generation empty"
    assert n_null < emb.count(), "ALL labels null — current generation lost"


@pytest.mark.parametrize("name", DRIFT_WIDEN_QUERIES)
def test_agrees_with_oracle_on_drift_then_widen(
    spark, drift_widen_dir, drift_widen_duck, name
):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, drift_widen_dir).toPandas()
    duck_pdf = drift_widen_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


#: Round-12's capstone QUADRUPLE: ``times`` -> ``skew`` -> ``drift_widen``
#: (the schema split last — any mode staged after it collapses the
#: generations): one corpus where the HOT user's rows carry hostile/DST
#: instants INSIDE both old footer generations of the three-generation
#: directory, so the epoch gates, the watermark guard, the salted /
#: hot-key paths, the null-filled dropped column, and the promoted
#: footer union all act on the same rows. Full 222-query sweep:
#: ``0dc33e4:REHEARSAL_r12_hostile.json`` (``times_skew_drift_widen_sf0_01``).
TIMES_SKEW_DRIFT_WIDEN_QUERIES = (
    "q1_pricing_summary",      # cents folds: null l_tax + float l_quantity
    "events_skew_salted_agg",  # salted agg on the hot key across 3 footers
    "events_gap_fill_lerp",    # spine widened by in-gate instants, 3-gen read
    "rel_variant_props",       # JSON extraction over null-filled hot-key props
    "events_value_deciles",    # global percentile over promoted value + hot key
    "stream_tumbling_drain",   # stream: 3-gen union schema + watermark guard
)


@pytest.fixture(scope="module")
def times_skew_drift_widen_dir(spark, tmp_path_factory):
    """sf0.001: hostile instants, then hot keys, then the 3-gen split."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    root = tmp_path_factory.mktemp("hostile")
    a, b = str(root / "times"), str(root / "times_skew")
    out = str(root / "times_skew_drift_widen")
    stage("times", SF_SMOKE, a, spark=spark)
    stage("skew", a, b, spark=spark)
    stage("drift_widen", b, out, spark=spark)
    return out


@pytest.fixture(scope="module")
def times_skew_drift_widen_duck(times_skew_drift_widen_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in registry.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{times_skew_drift_widen_dir}/{t}.parquet/*.parquet', "
            "union_by_name=true)"
        )
    yield con
    con.close()


def test_quadruple_damage_crosses_all_axes(spark, times_skew_drift_widen_dir):
    """The quadruple premise: the hot user's rows are measurably inside
    BOTH old footer generations, and hostile instants land on them
    there — disjoint damage would prove nothing about interaction."""
    import glob as _glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = times_skew_drift_widen_dir
    files = _glob.glob(f"{d}/events.parquet/*.parquet")
    dropped = [f for f in files if "props" not in pq.read_schema(f).names]
    narrow = [
        f
        for f in files
        if "value" in pq.read_schema(f).names
        and str(pq.read_schema(f).field("value").type) == "float"
    ]
    assert dropped and narrow and len(dropped) + len(narrow) < len(files)
    ev = registry.table(spark, d, "events")
    hot = ev.groupBy("user_id").count().orderBy(F.desc("count")).first()
    assert hot["count"] > 100, "skew staging lost the hot user"
    hostile = (
        (F.col("ts") < F.lit("1990-01-01").cast("timestamp_ntz"))
        | (F.col("ts") > F.expr("localtimestamp()"))
        | F.col("ts").isin(
            "2021-03-28 01:30:00",
            "2021-10-31 01:30:00",
            "2022-09-11 00:30:00",
            "2023-04-01 23:30:00",
        )
    )
    n_cross_total = 0
    for label, fs in (("dropped", dropped), ("narrow", narrow)):
        gen = spark.read.parquet(*fs)
        n_hot = gen.filter(F.col("user_id") == hot.user_id).count()
        assert n_hot > 0, f"no hot-key rows in the {label} generation"
        n_cross_total += gen.filter(
            (F.col("user_id") == hot.user_id) & hostile
        ).count()
    # at the sf0.001 row budget the PER-generation hot+hostile cross is
    # a ~0.5-row expectation (deterministic hash, but not guaranteed
    # per footer); require it across the old generations combined here —
    # the sf0.01 sweep asserts the strong per-generation form (4 dropped
    # / 9 narrow rows, 0dc33e4:REHEARSAL_r12_hostile.json narrative)
    assert n_cross_total > 0, (
        "no hostile instants on the hot key in either old generation"
    )


@pytest.mark.parametrize("name", TIMES_SKEW_DRIFT_WIDEN_QUERIES)
def test_agrees_with_oracle_on_times_skew_drift_widen(
    spark, times_skew_drift_widen_dir, times_skew_drift_widen_duck, name
):
    registry.load_all()
    spec = registry.REGISTRY[name]
    spark_pdf = spec.builder(spark, times_skew_drift_widen_dir).toPandas()
    duck_pdf = times_skew_drift_widen_duck.sql(spec.oracle).df()
    _assert_matches_oracle(name, spark_pdf, duck_pdf)


# ---------------------------------------------------------------------------
# Row multiplicity: every row tripled
# ---------------------------------------------------------------------------

#: ``dup3`` triples every row, which breaks the corpus contract that
#: doc_id / vec_id / event_id are unique. The engine is compared with
#: itself, not with DuckDB: its set-based operators must return the same
#: DISTINCT rows on the tripled corpus as on the clean one (row counts
#: may grow — per-row outputs triple), except in the columns that count
#: input rows. Each sampled query maps to those columns, with the reason;
#: an empty tuple means the query is set-invariant as a whole.
DUP3_COUNT_COLUMNS: dict[str, tuple[str, ...]] = {
    # Jaccard over collect_set shingle sets of DISTINCT candidate pairs
    "dedup_minhash_lsh": (),
    # containment over the same shingle sets
    "dedup_containment": (),
    # per-row block join: each pair repeats 9x, the distinct pairs do not
    "dedup_ngram_jaccard": (),
    # counts DISTINCT candidate pairs per threshold
    "dedup_threshold_sweep": (),
    # one output row per surviving input row: each survivor triples
    "docs_dedup_corpus": (),
    "docs_dedup_incremental": (),
    # per-event as-of match: only the matched date is projected
    "rel_asof_join": (),
    # one output row per input payload: each row triples
    "mm_payload_impurity": (),
    # term and document frequencies count rows, and score is tf * N / df
    "docs_tfidf_topk": ("tf", "doc_freq", "score"),
    # counts the shared eval shingle rows, which triple
    "text_decontaminate": ("n_shared",),
    # counts each document's passages per input row; each kept passage
    # survives once, whichever copy of its document holds it
    "docs_dedup_passages": ("n_passages",),
}


@pytest.fixture(scope="module")
def dup3_dir(spark, tmp_path_factory):
    """sf0.001 with every row of every table written three times."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from tools.stage_hostile import stage

    out = str(tmp_path_factory.mktemp("hostile") / "dup3")
    stage("dup3", SF_SMOKE, out, spark=spark)
    return out


def _distinct_rows(df, drop):
    """The distinct rows of ``df`` without the ``drop`` columns."""
    return {tuple(map(_cell, row)) for row in df.drop(*drop).collect()}


@pytest.mark.parametrize("name", DUP3_COUNT_COLUMNS)
def test_dup3_key_sets_match_clean(spark, dup3_dir, name):
    registry.load_all()
    build = registry.REGISTRY[name].builder
    drop = DUP3_COUNT_COLUMNS[name]
    clean = _distinct_rows(build(spark, SF_SMOKE), drop)
    tripled = _distinct_rows(build(spark, dup3_dir), drop)
    assert clean, f"{name}: no rows on the clean corpus"
    assert tripled == clean, (
        f"{name}: {len(clean - tripled)} clean rows missing and "
        f"{len(tripled - clean)} new rows under dup3, e.g. "
        f"{sorted(clean ^ tripled, key=str)[:3]}"
    )
