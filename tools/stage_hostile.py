#!/usr/bin/env python
"""Stage HOSTILE copies of a testdata dir for invariance sweeps.

Two layouts the 100-TB world guarantees and the pristine fixtures never
exercise:

- ``shuffled``: same rows, pseudo-randomly reordered (xxhash64 of all
  columns) and split 13 ways — catches any result that silently depends
  on file/row order (non-commutative aggregation, head-of-file
  assumptions). Parquet TIMESTAMP(NANOS) columns are normalized to
  micros by the shared loader before re-write, so both engines read
  the copy identically.
- ``empty``: same schemas, ZERO rows — the cold-start / empty-slice
  layout (a fresh source, an empty date partition, a filter that
  matched nothing upstream). Every query must return its defined
  empty-input result without crashing, and agree with DuckDB on what
  that result IS (0 rows for grouped aggregates, 1 all-NULL row for
  global aggregates, empty joins/windows).
- ``times``: ~2% of timestamp cells replaced with hostile-but-legal
  instants (pre-1970 with fractional seconds, epoch zero, past the
  32-bit 2038 boundary, a far-future 2200 value — all inside
  pandas' datetime64[ns] range so the gate can compare them).
  Negative-epoch integer division truncates toward zero in some
  engines and floors in others; date_trunc/datediff/windowing over
  these instants is the probe. Since r11 the pool also carries four
  DST-TRANSITION instants that (unlike the garbage extremes) PASS
  the two-sided epoch gate and reach every operator: wall-clock
  values inside the Europe/Dublin spring-forward gap (2021-03-28
  01:30) and fall-back fold (2021-10-31 01:30), and inside
  America/Santiago's midnight-straddling gap (2022-09-11 00:30 —
  the DATE's first hour does not exist) and fold (2023-04-01
  23:30). Under a DST session zone, any local-time cast meets a
  nonexistent/ambiguous local instant — the sibling of the r10
  Kathmandu NTZ->LTZ streaming bug. Sweep with
  ``--conf spark.sql.session.timeZone=Europe/Dublin`` (and
  ``America/Santiago``) to cross the axis.
- ``dup3``: every row tripled — a deliberate VIOLATION of the corpus
  contract (doc_id/vec_id/event_id are declared unique). The engine's
  set-based operators return the same distinct key rows on it as on
  the clean corpus; only columns that count input rows change.
  ``tests/test_hostile_inputs.py`` (``DUP3_COUNT_COLUMNS``) checks
  this against the engine itself, not against the DuckDB oracles,
  which are written against the contract. See COVERAGE.md.
- ``single``: same schemas, exactly ONE row per table — the
  degenerate-statistics layout (a brand-new series, a group with one
  member). Sample variance, correlation, pairwise-slope sets, and
  median interpolation all hit their n=1 edge; Spark's ANSI division
  and 1-based ``element_at``/descending ``sequence`` semantics make
  this a CRASH class, not just a value-divergence class.
- ``unicode``: same tables, with a deterministic ~8% of
  ``documents.text`` cells damaged with hostile-but-legal Unicode —
  emoji ZWJ sequences, spaceless CJK, RTL scripts, zero-width
  joiners inside words, a 500-char unbroken token, fullwidth/math
  alphanumerics, case-folding traps (dotless i, eszett), and mixed
  control whitespace. Web corpora carry ALL of this; the sweep
  tests that tokenization, shingling, language-ID, quality scoring,
  and fingerprinting agree cross-engine on it (UTF-16 code-unit vs
  code-point length, regex class semantics, casefold behavior).
  ``n_chars`` is recomputed from the damaged text so the corpus
  stays internally consistent.
- ``skew``: redirect a deterministic slice of N-side FOREIGN keys to
  one hot value — 2% of ``lineitem`` rows onto one order (a ~1,200-item
  basket vs the corpus max of 13), 10% of ``events`` onto one user,
  3% of ``orders`` onto one customer, 30% of ``documents`` onto one
  source. Primary keys stay unique (redirected lineitem rows re-derive
  ``l_linenumber`` from the old composite key), so the corpus contract
  holds; only the key DISTRIBUTION becomes hostile. This is the 100-TB
  hot-key shape: giant groups for window/sessionize paths, a giant
  basket for the pairwise graph structures, one source dominating the
  mixture/cap operators. Correctness must be invariant (both engines
  read the same damaged rows); the sweep also measures which operators'
  COST explodes superlinearly with one hot key.
- ``giant``: per-cell VOLUME damage — three ``documents.text`` cells
  become ~1 MB payloads (repeated prose; a 512 KiB single unbroken
  token; one word repeated 180k times), ``n_chars`` recomputed, and two
  ``events.props`` cells gain a ~200 KB junk sibling value next to the
  real ``"k"`` key. A 3,000×-average document and a bloated event
  payload are guaranteed residents of any web-scale corpus; the probe
  is bounded per-row memory in shingling/tokenizing/chunking (explode
  fan-out, Arrow batch sizing, regex behavior on megabyte strings) and
  JSON extraction that must survive giant sibling fields.
- ``drift``: schema evolution mid-ingest — every table's directory
  holds TWO file generations: ~70% of rows in the full current
  schema, ~30% in an older generation that LACKS one nullable
  non-key column (lang / props / l_tax / o_orderpriority /
  c_mktsegment / label) and stores its remaining columns in REVERSED
  order. Any corpus ingested over months has this layout; readers
  must merge by NAME across footers and null-fill the missing
  column, never bind by position or trust one file's footer for the
  directory. Readers that infer the directory schema from a single
  file (listing-order dependent) either drop the new column for all
  rows or fail analysis — the exact bug class this mode exists to
  catch.
- ``widen``: the type-promotion flavor of ``drift`` — the ~30% older
  generation keeps every column but DECLARES one or two numerics
  NARROWER in the footer (float where the current schema says double,
  int/smallint where it says bigint/int: the type a writer used
  before the column's range outgrew it), plus reversed column order.
  Spark's ``mergeSchema`` hard-fails this directory
  (CANNOT_MERGE_SCHEMAS); the reader must compute the promoted union
  schema itself (arrow permissive footer union → explicit read
  schema, which Spark 4's parquet type widening serves natively) and
  DuckDB's ``union_by_name`` must promote to the same types so the
  gate stays in lockstep.
- ``nulls``: same tables with a deterministic ~3% of values in
  non-key scalar columns nulled (xxhash64-seeded per cell), plus ~2%
  of array columns emptied. Both engines see the SAME damaged rows, so
  the DuckDB gate tests cross-engine NULL-semantics AGREEMENT (Spark
  sorts NULLS FIRST on ASC, DuckDB NULLS LAST; null arithmetic,
  null grouping, null joins) — the divergence class that produced the
  round-8 precision splits, probed deliberately.

    python tools/stage_hostile.py --mode shuffled|nulls \
        [--sf-dir /root/testdata/sf0.01] [--out /tmp/sf001_hostile]

Key columns (join/identity: ``*key``, ``*_id``, ``ts``) are never
nulled so the damage changes aggregates and orderings, not the join
topology, keeping result diffs attributable.
"""

from __future__ import annotations

import argparse
import sys

NULL_FRAC = 0.03
EMPTY_ARRAY_FRAC = 0.02
MOD = 1_000_000

#: Hostile-but-parquet-legal Unicode snippets, one damage class each
#: (explicit escapes -- several of these characters are invisible).
UNICODE_SNIPPETS = (
    # emoji ZWJ family sequence + astral emoji + combining accents
    "\U0001F469\u200d\U0001F469\u200d\U0001F467\u200d\U0001F466 "
    "\U0001F680\U0001F525\U0001F4AF caf\u00e9 na\u00efve",
    # spaceless CJK (no word boundaries for whitespace tokenizers)
    "\u6df1\u5ea6\u5b66\u4e60\u6a21\u578b\u5728\u5927\u89c4\u6a21"
    "\u8bed\u6599\u5e93\u4e0a\u7684\u9884\u8bad\u7ec3\u6548\u679c"
    "\u663e\u8457\u63d0\u5347",
    # RTL Arabic + pointed Hebrew (bidi + combining marks)
    "\u0645\u0631\u062d\u0628\u0627 \u0628\u0627\u0644\u0639\u0627"
    "\u0644\u0645 \u05e9\u05b8\u05c1\u05dc\u05d5\u05b9\u05dd "
    "\u05e2\u05d5\u05b9\u05dc\u05b8\u05dd",
    # zero-width space/non-joiner/joiner/BOM inside ASCII words
    "da\u200bta\u200cpipe\u200dline\ufeffshuffle",
    # unbroken 500-char token (chunkers/shinglers must not choke)
    "x" * 500,
    # math Fraktur (astral), fullwidth forms, Roman numeral, fractions
    "\U0001D518\U0001D52B\U0001D526\U0001D520\U0001D52C\U0001D521"
    "\U0001D522 \uff46\uff55\uff4c\uff4c\uff57\uff49\uff44\uff54"
    "\uff48 \u216b \u00bd \u00b5",
    # mixed control whitespace: CRLF, tab, NEL, NBSP
    "line1\r\nline2\ttab\u0085next\u00a0nbsp",
    # casefold traps: Turkish dotted/dotless i, German eszett
    "\u0130stanbul \u0131ss\u0131z STRASSE stra\u00dfe",
)


def _is_key(col: str) -> bool:
    return col.endswith("key") or col.endswith("_id") or col in ("ts",)


def stage(mode: str, sf_dir: str, out: str, spark=None) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    sys.path.insert(0, ".")
    from spark_etl_pipeline_spark.plans.registry import TABLES, table

    own_session = spark is None
    if own_session:
        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "8")
            .getOrCreate()
        )
    for t in TABLES:
        df = table(spark, sf_dir, t)
        if mode == "empty":
            df = df.limit(0).coalesce(1)
        elif mode == "single":
            df = df.limit(1).coalesce(1)
        elif mode == "dup3":
            df = df.unionByName(df).unionByName(df).coalesce(2)
        elif mode == "times":
            from datetime import datetime

            pool = [
                datetime(1900, 1, 1, 0, 0, 0),
                datetime(1969, 12, 31, 23, 59, 59, 999999),
                datetime(1970, 1, 1, 0, 0, 0),
                datetime(2038, 1, 19, 3, 14, 8),
                datetime(2200, 6, 15, 12, 34, 56, 789012),
            ]
            # DST-transition wall clocks (r11; module doc). As STRING
            # literals cast straight to NTZ — a python-datetime lit
            # routes through TimestampType, whose local->UTC->local
            # round trip is NOT identity for a gap instant if the
            # STAGING session itself runs in the affected zone (the
            # exact hazard being planted must not corrupt the plant).
            dst_pool = [
                "2021-03-28 01:30:00",  # Europe/Dublin spring gap
                "2021-10-31 01:30:00",  # Europe/Dublin fall fold
                "2022-09-11 00:30:00",  # America/Santiago midnight gap
                "2023-04-01 23:30:00",  # America/Santiago fold
            ]
            arr = F.array(
                *[F.lit(p).cast("timestamp_ntz") for p in pool],
                *[F.lit(s).cast("timestamp_ntz") for s in dst_pool],
            )
            row_salt = [F.col(x) for x in df.columns]
            out_cols = []
            for field in df.schema.fields:
                c = field.name
                # the corpus loader yields TIMESTAMP_NTZ (parquet
                # isAdjustedToUTC=false), not TIMESTAMP
                if not isinstance(
                    field.dataType, (T.TimestampType, T.TimestampNTZType)
                ):
                    out_cols.append(F.col(c))
                    continue
                n_pool = len(pool) + len(dst_pool)
                coin = F.pmod(F.xxhash64(F.lit(c), *row_salt), F.lit(MOD))
                pick = F.element_at(
                    arr, (F.pmod(coin, F.lit(n_pool)) + 1).cast("int")
                )
                out_cols.append(
                    F.when(coin < int(MOD * 0.02), pick)
                    .otherwise(F.col(c))
                    .alias(c)
                )
            df = df.select(*out_cols)
        elif mode == "unicode":
            if t == "documents":
                arr = F.array(*[F.lit(s) for s in UNICODE_SNIPPETS])
                coin = F.pmod(
                    F.xxhash64(F.lit("unicode"), F.col("doc_id")),
                    F.lit(MOD),
                )
                pick = F.element_at(
                    arr,
                    (F.pmod(coin, F.lit(len(UNICODE_SNIPPETS))) + 1).cast(
                        "int"
                    ),
                )
                # 4% prepend (hostile tokens inside real text), 4% full
                # replacement (the document IS the hostile content)
                damaged = (
                    F.when(
                        coin < int(MOD * 0.04),
                        F.concat_ws(" ", pick, F.col("text")),
                    )
                    .when(
                        coin < int(MOD * 0.08),
                        F.concat_ws(" ", pick, pick, pick),
                    )
                    .otherwise(F.col("text"))
                )
                df = df.withColumn("text", damaged).withColumn(
                    "n_chars",
                    F.when(
                        coin < int(MOD * 0.08),
                        F.length(F.col("text")).cast("long"),
                    ).otherwise(F.col("n_chars")),
                )
        elif mode == "skew":
            # FK redirection, never PK damage: the coin hashes the
            # row's identity so both engines see identical rows.
            if t == "lineitem":
                hot = df.agg(F.min("l_orderkey")).collect()[0][0]
                coin = F.pmod(
                    F.xxhash64(
                        F.lit("skew"), F.col("l_orderkey"),
                        F.col("l_linenumber"),
                    ),
                    F.lit(MOD),
                )
                moved = coin < int(MOD * 0.02)
                # one atomic select: chained withColumn would re-bind
                # the coin against the already-rewritten linenumber.
                # (The corpus has no composite-PK contract on
                # lineitem, but folding the old key into the new
                # linenumber keeps redirected rows attributable.)
                df = df.select(
                    *[
                        F.when(moved, F.lit(hot))
                        .otherwise(F.col(c))
                        .alias(c)
                        if c == "l_orderkey"
                        else F.when(
                            moved,
                            (
                                F.col("l_orderkey") * 100
                                + F.col("l_linenumber")
                            ).cast("int"),
                        )
                        .otherwise(F.col(c))
                        .alias(c)
                        if c == "l_linenumber"
                        else F.col(c)
                        for c in df.columns
                    ]
                )
            elif t == "events":
                hot = df.agg(F.min("user_id")).collect()[0][0]
                coin = F.pmod(
                    F.xxhash64(F.lit("skew"), F.col("event_id")),
                    F.lit(MOD),
                )
                df = df.withColumn(
                    "user_id",
                    F.when(coin < int(MOD * 0.10), F.lit(hot)).otherwise(
                        F.col("user_id")
                    ),
                )
            elif t == "orders":
                hot = df.agg(F.min("o_custkey")).collect()[0][0]
                coin = F.pmod(
                    F.xxhash64(F.lit("skew"), F.col("o_orderkey")),
                    F.lit(MOD),
                )
                df = df.withColumn(
                    "o_custkey",
                    F.when(coin < int(MOD * 0.03), F.lit(hot)).otherwise(
                        F.col("o_custkey")
                    ),
                )
            elif t == "documents":
                hot = df.agg(F.min("source")).collect()[0][0]
                coin = F.pmod(
                    F.xxhash64(F.lit("skew"), F.col("doc_id")),
                    F.lit(MOD),
                )
                df = df.withColumn(
                    "source",
                    F.when(coin < int(MOD * 0.30), F.lit(hot)).otherwise(
                        F.col("source")
                    ),
                )
        elif mode == "giant":
            if t == "documents":
                ids = [
                    r[0]
                    for r in df.select("doc_id")
                    .orderBy("doc_id")
                    .limit(3)
                    .collect()
                ]
                prose = (
                    "Large scale corpora carry documents far beyond "
                    "the average size and every operator must stay "
                    "bounded per row when one arrives. "
                )
                # built server-side with repeat() so the plan stays
                # small while the CELLS are megabyte-scale
                payloads = {
                    ids[0]: F.repeat(F.lit(prose), 9000),   # ~1 MB prose
                    ids[1]: F.repeat(F.lit("x"), 524288),   # unbroken token
                    ids[2]: F.repeat(F.lit("spark "), 180000),  # hot word
                }
                text = F.col("text")
                for did, payload in payloads.items():
                    text = F.when(
                        F.col("doc_id") == F.lit(did), payload
                    ).otherwise(text)
                df = df.withColumn("text", text).withColumn(
                    "n_chars", F.length("text").cast("long")
                )
            elif t == "events":
                ids = [
                    r[0]
                    for r in df.select("event_id")
                    .orderBy("event_id")
                    .limit(2)
                    .collect()
                ]
                bloated = F.concat(
                    F.lit('{"blob": "'),
                    F.repeat(F.lit("v"), 200000),
                    F.lit('", "k": 5}'),
                )
                df = df.withColumn(
                    "props",
                    F.when(
                        F.col("event_id").isin(ids), bloated
                    ).otherwise(F.col("props")),
                )
        elif mode == "widen":
            narrow = {
                "lineitem": {"l_quantity": "float", "l_linenumber": "smallint"},
                "orders": {"o_totalprice": "float"},
                "customer": {"c_acctbal": "float", "c_nationkey": "smallint"},
                "supplier": {"s_acctbal": "float", "s_nationkey": "smallint"},
                "part": {"p_retailprice": "float", "p_size": "int"},
                "events": {"value": "float"},
                "documents": {"n_chars": "int"},
                "embeddings": {"label": "int"},
            }.get(t, {})
            coin = F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(MOD)
            )
            # a row lands in the narrow-typed old generation only if
            # its values FIT the narrow types: the premise is "the type
            # a writer used before the column's range outgrew it", and
            # a value outside the old type's range could never have
            # been written by that era's writer. Matters under
            # composition — the skew mode re-derives l_linenumber into
            # 6-digit values to keep the PK unique, which overflow
            # SMALLINT (ANSI CAST_OVERFLOW) unless routed to the wide
            # generation. (float narrowing never overflows a cast.)
            # asymmetric two's-complement ranges: the negative bound is
            # one wider than the positive (-32768..32767, not ±32767) —
            # a symmetric check would route the valid minimum to the
            # wide generation (harmless but wrong-range; ADVICE r11)
            int_bounds = {
                "smallint": (-32768, 32767),
                "int": (-2147483648, 2147483647),
            }
            fits = F.lit(True)
            for c, typ in narrow.items():
                if typ in int_bounds:
                    lo, hi = int_bounds[typ]
                    fits = fits & F.col(c).between(lo, hi)
            # coalesce: a NULL in a bounded column makes between() NULL,
            # and BOTH filter(old)/filter(~old) drop NULL predicates —
            # silent row loss breaking the "same rows, different
            # footers" staging premise. NULL-fits rows go wide.
            fits = F.coalesce(fits, F.lit(False))
            old = (coin >= int(MOD * 0.70)) & fits
            gen0 = df.filter(~old)
            gen1 = df.filter(old)
            old_cols = [
                F.col(c).cast(narrow[c]).alias(c) if c in narrow else F.col(c)
                for c in reversed(df.columns)
            ]
            gen0.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
            # older generation: same columns but one or two numerics
            # DECLARED NARROWER in the footer (float vs double, int vs
            # bigint — the type a writer used before the column's range
            # outgrew it), plus reversed column order. mergeSchema
            # refuses this directory outright (CANNOT_MERGE_SCHEMAS);
            # the reader must compute the promoted union itself.
            gen1.select(*old_cols).write.mode("append").parquet(
                f"{out}/{t}.parquet"
            )
            print(f"[hostile] staged {t} ({mode})", file=sys.stderr)
            continue
        elif mode == "drift":
            drop_col = {
                "documents": "lang",
                "events": "props",
                "lineitem": "l_tax",
                "orders": "o_orderpriority",
                "customer": "c_mktsegment",
                "embeddings": "label",
            }.get(t)
            coin = F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(MOD)
            )
            gen0 = df.filter(coin < int(MOD * 0.70))
            gen1 = df.filter(coin >= int(MOD * 0.70))
            old_cols = [
                c for c in reversed(df.columns) if c != drop_col
            ]
            gen0.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
            # older generation: appended with a DIFFERENT footer —
            # fewer columns, reversed order — into the same directory
            gen1.select(*old_cols).write.mode("append").parquet(
                f"{out}/{t}.parquet"
            )
            print(f"[hostile] staged {t} ({mode})", file=sys.stderr)
            continue
        elif mode == "drift_widen":
            # The two schema-evolution axes COMPOSED in one directory:
            # THREE footer generations — current full schema (~55%), a
            # column-DROPPED reversed-order generation (~22.5%, the
            # ``drift`` shape), and a type-NARROWED reversed-order
            # generation (~22.5%, the ``widen`` shape). Chaining the
            # modes (``--out`` -> ``--sf-dir``) cannot stage this: each
            # mode re-reads through the promoted union, which null-fills
            # the dropped column / re-widens the narrow types and
            # collapses the prior generations back to one schema — so
            # the composition is a single three-way split, the same
            # argument that made "widen then skew" unstageable.
            # ``embeddings.label`` is the same-column cross: DROPPED in
            # the drift generation and NARROWED in the widen one, so the
            # footer union must null-fill and type-promote ONE column
            # across footers simultaneously. (label is int32 at the
            # source, so the cross needs SMALLINT here — the plain
            # ``widen`` map's "int" would be a no-op for it; label
            # values are single-digit class ids, comfortably in range.)
            drop_col = {
                "documents": "lang",
                "events": "props",
                "lineitem": "l_tax",
                "orders": "o_orderpriority",
                "customer": "c_mktsegment",
                "embeddings": "label",
            }.get(t)
            narrow = {
                "lineitem": {"l_quantity": "float", "l_linenumber": "smallint"},
                "orders": {"o_totalprice": "float"},
                "customer": {"c_acctbal": "float", "c_nationkey": "smallint"},
                "supplier": {"s_acctbal": "float", "s_nationkey": "smallint"},
                "part": {"p_retailprice": "float", "p_size": "int"},
                "events": {"value": "float"},
                "documents": {"n_chars": "int"},
                "embeddings": {"label": "smallint"},
            }.get(t, {})
            int_bounds = {
                "smallint": (-32768, 32767),
                "int": (-2147483648, 2147483647),
            }
            fits = F.lit(True)
            for c, typ in narrow.items():
                if typ in int_bounds:
                    lo, hi = int_bounds[typ]
                    fits = fits & F.col(c).between(lo, hi)
            fits = F.coalesce(fits, F.lit(False))
            coin = F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(MOD)
            )
            to_drift = (coin >= int(MOD * 0.55)) & (coin < int(MOD * 0.775))
            # rows whose values overflow the narrow types could never
            # have been written by the old-era writer — they route to
            # the CURRENT generation, same realism rule as ``widen``
            to_narrow = (coin >= int(MOD * 0.775)) & fits
            gen0 = df.filter(~to_drift & ~to_narrow)
            gen_d = df.filter(to_drift)
            gen_w = df.filter(to_narrow)
            drift_cols = [c for c in reversed(df.columns) if c != drop_col]
            widen_cols = [
                F.col(c).cast(narrow[c]).alias(c) if c in narrow else F.col(c)
                for c in reversed(df.columns)
            ]
            gen0.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
            gen_d.select(*drift_cols).write.mode("append").parquet(
                f"{out}/{t}.parquet"
            )
            gen_w.select(*widen_cols).write.mode("append").parquet(
                f"{out}/{t}.parquet"
            )
            print(f"[hostile] staged {t} ({mode})", file=sys.stderr)
            continue
        elif mode == "shuffled":
            df = df.orderBy(
                F.xxhash64(*[F.col(c) for c in df.columns])
            ).repartition(13)
        elif mode == "floats":
            # NaN / +Inf / -Inf into ~1% of non-key float/double cells:
            # the parquet-legal float damage every 100-TB corpus carries
            # (bad upstream math, sensor glitches, div-by-zero leaks).
            row_salt = [F.col(x) for x in df.columns]
            out_cols = []
            for field in df.schema.fields:
                c = field.name
                if _is_key(c) or not isinstance(
                    field.dataType, (T.DoubleType, T.FloatType)
                ):
                    out_cols.append(F.col(c))
                    continue
                coin = F.pmod(F.xxhash64(F.lit(c), *row_salt), F.lit(MOD))
                ftype = field.dataType.simpleString()
                out_cols.append(
                    F.when(
                        coin < int(MOD * 0.005),
                        F.expr(f"cast('NaN' as {ftype})"),
                    )
                    .when(
                        coin < int(MOD * 0.0075),
                        F.expr(f"cast('Infinity' as {ftype})"),
                    )
                    .when(
                        coin < int(MOD * 0.01),
                        F.expr(f"cast('-Infinity' as {ftype})"),
                    )
                    .otherwise(F.col(c))
                    .alias(c)
                )
            df = df.select(*out_cols)
        else:
            # per-cell deterministic coin: hash(col name, WHOLE ROW) —
            # the row fingerprint salt keeps low-cardinality columns
            # from flipping all-or-nothing, and the damage is baked
            # into the parquet so both engines read identical rows.
            # All coins are computed against the ORIGINAL row in one
            # select, never against already-damaged neighbors.
            row_salt = [F.col(x) for x in df.columns]
            out_cols = []
            for field in df.schema.fields:
                c = field.name
                coin = F.pmod(
                    F.xxhash64(F.lit(c), *row_salt), F.lit(MOD)
                )
                if _is_key(c):
                    out_cols.append(F.col(c))
                elif isinstance(field.dataType, T.ArrayType):
                    out_cols.append(
                        F.when(
                            coin < int(MOD * EMPTY_ARRAY_FRAC),
                            F.array().cast(field.dataType),
                        )
                        .otherwise(F.col(c))
                        .alias(c)
                    )
                elif isinstance(
                    field.dataType,
                    (T.StringType, T.DoubleType, T.FloatType,
                     T.IntegerType, T.LongType, T.DateType,
                     T.TimestampType, T.DecimalType),
                ):
                    out_cols.append(
                        F.when(
                            coin < int(MOD * NULL_FRAC),
                            F.lit(None).cast(field.dataType),
                        )
                        .otherwise(F.col(c))
                        .alias(c)
                    )
                else:
                    out_cols.append(F.col(c))
            df = df.select(*out_cols)
        df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        print(f"[hostile] staged {t} ({mode})", file=sys.stderr)
    if own_session:
        spark.stop()


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument(
        "--mode",
        choices=[
            "shuffled", "nulls", "floats", "empty", "unicode", "single",
            "dup3", "times", "skew", "giant", "drift", "widen",
            "drift_widen",
        ],
        required=True
    )
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--out", required=True)
    a = p.parse_args()
    stage(a.mode, a.sf_dir, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
