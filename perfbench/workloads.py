"""The four benchmark workloads.

Each workload receives only the generated input directory. It runs an
untimed warm-up (timed as part of set-up), then serves one timed
operation at a time to the closed loop in ``run.py``, and checks its
outputs once per run outside the timed span:

- ``analytics_queries`` and ``corpus_curation`` time their operations
  against the noop sink, so their warm-up pass materialises every query
  once with ``toPandas`` and compares it with the registry's DuckDB
  oracle;
- ``etl_clickstream`` compares the last partitioned output it wrote with
  an independent DuckDB SQL over the generated logs and dimension;
- ``incremental_ingest`` compares the final snapshot with the
  ``stream_upsert_drain`` oracle SQL over every landed file.
"""

from __future__ import annotations

import json
import os
import random
import shutil

ANALYTICS = (
    "q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
    "q6_forecast_revenue", "q8_market_share", "q10_returned_items",
    "rel_window_running", "rel_dedup_keyed", "rel_asof_join",
    "rel_scd2_history", "events_sessionize", "events_gap_fill_lerp",
    "graph_reachability",
)
CURATION = (
    "docs_dedup_corpus", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_embedding_cosine", "text_quality_score", "text_repetition_filter",
    "text_decontaminate", "docs_pack_sequences", "sim_ivf_search",
    "sim_kmeans", "docs_bm25_topk",
)
def noop_sink(df) -> None:
    """The noop sink: executes the whole plan, writes nothing."""
    df.write.format("noop").mode("overwrite").save()


#: site id lists of the four reference families (FIXTURES.md A1)
FAMILY_IDS = (("154992",), ("-48",), ("155138",), ("4550",))


def layer_of(builder) -> str:
    """``operators.<module>`` for operator queries, else the top-level
    package layer (``plans``, ``streaming``, ``sources``)."""
    parts = builder.__module__.split(".")
    return f"operators.{parts[2]}" if parts[1] == "operators" else parts[1]


def frames_match(got, want) -> str | None:
    """None when two pandas frames hold the same rows (any order), else
    the first difference. Uses the render-and-compare helpers of the
    repository's correctness gate."""
    from tools.rehearse_gate import canon, cells_match

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} rows"
    g, w = canon(got), canon(want)
    for col in g.columns:
        for a, b in zip(g[col].tolist(), w[col].tolist()):
            if not cells_match(a, b):
                return f"column {col}: {a!r} != {b!r}"
    return None


def duck(work: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    return con


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(root, n)) for root, _, names in os.walk(path) for n in names
    )


class Workload:
    """One benchmark workload; subclasses fill in the operations."""

    name = ""
    #: timed operations the inputs allow (unbounded unless a subclass
    #: consumes one input file per operation)
    capacity = 1 << 30
    #: the timed loop ends on a multiple of this many operations
    round = 1
    #: untimed operations between the warm-up and the timed loop: the JIT
    #: keeps compiling the hot paths for several operations. A count, not
    #: a time, so the timed loop starts at the same point of the warm-up
    #: curve on a slow host as on a fast one. None on the registry
    #: workloads, whose warm-up is already a full pass
    settle_ops = 0
    #: the timed loop runs at least this many operations, so a slow host
    #: times the same operations of the warm-up curve as a fast one
    min_ops = 1

    def __init__(self, spark, inputs: str, work: str, seed: int, tracer):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.seed = seed
        self.tr = tracer
        with open(os.path.join(inputs, "manifest.json"), encoding="utf-8") as fh:
            self.manifest = json.load(fh)["tables"]
        #: descriptions of failed output checks
        self.check_failures: list[str] = []
        self.checks = 0

    def warmup(self) -> None:
        """Untimed warm-up; part of set-up."""
        raise NotImplementedError

    def check_warmup(self) -> None:
        """Output check of the warm-up's results (untimed)."""

    def before_op(self, i: int) -> None:
        """Untimed preparation of operation ``i``."""

    def op(self, i: int) -> None:
        """Timed operation ``i``."""
        raise NotImplementedError

    def after_op(self, i: int) -> None:
        """Untimed bookkeeping after operation ``i``."""

    def check(self) -> None:
        """Output check after the timed loop (untimed)."""

    def extra(self, latencies: list[float]) -> dict:
        """Workload-specific end-to-end metrics, ``name -> (value, unit)``."""
        return {}

    def probe(self) -> dict:
        """Traced-run-only per-layer values measured outside the timed
        loop, ``name -> value``."""
        return {}

    def _record(self, what: str, why: str | None) -> None:
        self.checks += 1
        if why is not None:
            self.check_failures.append(f"{what}: {why}")


class RegistryWorkload(Workload):
    """Runs registered queries against the noop sink; one operation is
    one query, and a round is one pass over all of them."""

    names: tuple[str, ...] = ()
    tables: tuple[str, ...] = ()

    def __init__(self, *args):
        super().__init__(*args)
        from spark_etl_pipeline_spark.plans import registry

        self.builders = registry.queries()
        self.oracles = registry.oracles()
        self.order = list(self.names)
        self.round = len(self.order)
        self._warm: dict = {}

    def _run(self, name: str, sink) -> object:
        builder = self.builders[name]
        layer = layer_of(builder)
        with self.tr.span(name, layer, "build"):
            df = builder(self.spark, self.inputs)
        with self.tr.span(name, layer, "action"):
            return sink(df)

    def warmup(self) -> None:
        """Materialise every query once and keep the results for the
        oracle comparison done by :meth:`check_warmup`."""
        self._warm = {}
        for name in self.order:
            try:
                self._warm[name] = self._run(name, lambda df: df.toPandas())
            except Exception as exc:  # noqa: BLE001 - counted as a failed check
                self._warm[name] = exc

    def check_warmup(self) -> None:
        con = duck(self.work)
        for t in self.tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.inputs}/{t}.parquet/*.parquet')"
            )
        for name, got in self._warm.items():
            if isinstance(got, Exception):
                self._record(name, f"{type(got).__name__}: {got}"[:300])
                continue
            try:
                want = con.sql(self.oracles[name]).df()
            except Exception as exc:  # noqa: BLE001 - oracle failure is a failed check
                self._record(name, f"oracle {type(exc).__name__}: {exc}"[:300])
                continue
            self._record(name, frames_match(got, want))
        self._warm = {}
        con.close()

    def op(self, i: int) -> None:
        name = self.order[i % len(self.order)]
        self._run(name, noop_sink)


class AnalyticsQueries(RegistryWorkload):
    name = "analytics_queries"
    names = ANALYTICS
    tables = (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events",
    )

    def __init__(self, *args):
        super().__init__(*args)
        random.Random(self.seed).shuffle(self.order)

    def extra(self, latencies: list[float]) -> dict:
        from perfbench.stats import median, tail

        out = {
            "query.latency_s_p50": (median(latencies), "s"),
            "query.per_s": (len(latencies) / sum(latencies), "1/s"),
        }
        t = tail(latencies)
        if t is not None:
            out["query.latency_s_tail"] = (t[1], "s", {"percentile": t[0], "samples": len(latencies)})
        else:
            out["query.latency_s_tail"] = (None, "s", {"samples": len(latencies)})
        return out


class CorpusCuration(RegistryWorkload):
    """One operation is one pass over the corpus: the eleven curation
    operators in the listed order."""

    name = "corpus_curation"
    names = CURATION
    tables = ("documents", "embeddings")

    def __init__(self, *args):
        super().__init__(*args)
        self.round = 1

    def op(self, i: int) -> None:
        for name in self.order:
            self._run(name, noop_sink)

    def extra(self, latencies: list[float]) -> dict:
        docs = self.manifest["documents"]["rows"]
        return {"curation.docs_per_s": (docs * len(latencies) / sum(latencies), "1/s")}

    def probe(self) -> dict:
        """Candidate and verified pair counts of both dedup families, and
        the jobs ``connected_components`` launches on the verified pairs."""
        from pyspark.sql import functions as F

        from spark_etl_pipeline_spark.operators import dedup, similarity
        from spark_etl_pipeline_spark.plans.registry import table

        docs = table(self.spark, self.inputs, "documents")
        with self.tr.span("minhash_pairs", "operators.dedup", "probe"):
            shingles = dedup.shingle_set(docs)
            cand = dedup.candidate_pairs(
                dedup.lsh_bands(dedup.minhash_signatures(shingles))
            ).localCheckpoint()
            verified = (
                dedup.jaccard_verified(cand, shingles)
                .filter(F.col("jaccard") >= dedup.JACCARD_THRESHOLD)
                .localCheckpoint()
            )
            n_cand, n_ver = cand.count(), verified.count()
        with self.tr.span("connected_components", "operators.dedup", "cc") as sp:
            dedup.connected_components(
                verified.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            ).count()
        cc_span = sp.id
        emb = similarity.load_vectors(self.spark, self.inputs)
        with self.tr.span("embedding_pairs", "operators.similarity", "probe"):
            s_cand = similarity.embedding_candidate_pairs(emb).count()
            s_ver = similarity.embedding_near_dup_pairs(emb).count()
        return {
            "operators.dedup.candidate_pairs": n_cand,
            "operators.dedup.verified_pairs": n_ver,
            "operators.dedup.pair_yield": n_ver / n_cand if n_cand else 0.0,
            "operators.similarity.candidate_pairs": s_cand,
            "operators.similarity.pair_yield": s_ver / s_cand if s_cand else 0.0,
            "_cc_span": cc_span,
        }


# --------------------------------------------------------------------------
# etl_clickstream
# --------------------------------------------------------------------------


def clickstream_oracle_sql() -> str:
    """DuckDB SQL for the clickstream pipeline, written from the fixture
    contract (FIXTURES.md A1-A3), not from the engine's code."""
    from perfbench.gen import FAMILY_KEYS, SITES

    def case(which: int) -> str:
        arms = []
        for site, fam in SITES.items():
            keys = FAMILY_KEYS[fam]
            for logtype in ("login", "purchase", "cart", "view"):
                key = keys.get(logtype, keys["*"])[which]
                expr = f"json_extract(custom, '$.\"{key}\"')::VARCHAR"
                if which == 0 and fam == "type2" and logtype == "view":
                    expr = f"string_split({expr}, '/')[-1]"
                arms.append(f"WHEN siteseq = '{site}' AND logtype = '{logtype}' THEN {expr}")
        return "CASE " + " ".join(arms) + " END"

    def to_list(col: str) -> str:
        return (
            "string_split(regexp_replace(regexp_replace("
            f"{col}, '[^\"](,+)|(,+)[^\"]', '', 'g'), "
            "'(^\\[)|(\\]$)|(\")', '', 'g'), ',')"
        )

    dims = ", ".join(f"c.{c}" for c in (
        "INTG_ID", "ITEM_CODE", "ITEM_NAME", "CAT1", "CAT2", "CAT3", "CAT4",
        "INTG_CAT1", "INTG_CAT2", "INTG_CAT3", "INTG_CAT4"))
    nulls = ", ".join(f"NULL AS {c}" for c in (
        "INTG_ID", "ITEM_CODE", "ITEM_NAME", "CAT1", "CAT2", "CAT3", "CAT4",
        "INTG_CAT1", "INTG_CAT2", "INTG_CAT3", "INTG_CAT4"))
    sites = ", ".join(f"'{s}'" for s in SITES)
    return f"""
    WITH src AS (
        SELECT maid, info.siteseq AS siteseq, userid, "timestamp" AS ts, logtype, custom
        FROM logs
        WHERE logtype IN ('login', 'purchase', 'cart', 'view') AND info.siteseq IN ({sites})
    ),
    picked AS (
        SELECT coalesce(userid, maid) AS uid, siteseq, ts, logtype,
               {case(0)} AS code_raw, {case(1)} AS name_raw
        FROM src
    ),
    arrays AS (
        SELECT uid, siteseq, ts, logtype,
               {to_list('code_raw')} AS ca, {to_list('name_raw')} AS na
        FROM picked
    ),
    exploded AS (
        SELECT uid, siteseq, ts, logtype, ca, na,
               unnest(generate_series(1, CASE WHEN ca IS NULL OR na IS NULL THEN 1
                                              ELSE greatest(len(ca), len(na)) END)) AS i
        FROM arrays
    ),
    rows AS (
        SELECT substr(uid, 1, 100) AS USER_ID, siteseq AS SHOPPING_ID, logtype AS LOG_TYPE,
               CASE WHEN ca IS NULL OR na IS NULL THEN NULL ELSE ca[i] END AS code,
               strptime(ts, ['%Y-%m-%dT%H:%M:%S.%gZ', '%Y-%m-%dT%H:%M:%SZ'])
                   + INTERVAL 9 HOUR AS kst
        FROM exploded
    ),
    joined AS (
        SELECT r.USER_ID, r.SHOPPING_ID, strftime(r.kst, '%Y-%m-%d') AS TRANSACTION_DATE,
               strftime(r.kst, '%H:%M:%S') AS TRANSACTION_TIME, r.LOG_TYPE, {dims}
        FROM rows r JOIN category c ON r.SHOPPING_ID = c.SHOPPING_ID AND r.code = c.ITEM_CODE
        UNION ALL
        SELECT USER_ID, SHOPPING_ID, strftime(kst, '%Y-%m-%d'), strftime(kst, '%H:%M:%S'),
               LOG_TYPE, {nulls}
        FROM rows WHERE LOG_TYPE = 'login'
    )
    SELECT DISTINCT * FROM joined
    """


class EtlClickstream(Workload):
    """read logs + dimension -> clickstream_pipeline -> partitioned parquet
    written into a fresh directory per operation."""

    name = "etl_clickstream"
    settle_ops = 1
    min_ops = 3

    def __init__(self, *args):
        super().__init__(*args)
        from spark_etl_pipeline_spark.plans.etl import reference_families

        self.families = reference_families(*FAMILY_IDS)
        self.out_root = os.path.join(self.work, "etl_out")
        self.last_out: str | None = None
        self.write_amp: list[float] = []

    def plan(self):
        from spark_etl_pipeline_spark.plans.etl import clickstream_pipeline
        from spark_etl_pipeline_spark.sources import read_parquet

        with self.tr.span("read_parquet", "sources", "read"):
            logs = read_parquet(self.spark, os.path.join(self.inputs, "logs.parquet"))
            dim = read_parquet(self.spark, os.path.join(self.inputs, "category.parquet"))
        with self.tr.span("clickstream_pipeline", "plans", "build"):
            return clickstream_pipeline(logs, dim, self.families)

    def _write(self, path: str) -> None:
        from spark_etl_pipeline_spark.sources import write_parquet

        df = self.plan()
        with self.tr.span("write_parquet", "sources", "write"):
            write_parquet(df, path, partition_by=["TRANSACTION_DATE"])

    def warmup(self) -> None:
        self._write(os.path.join(self.out_root, "warmup"))

    def op(self, i: int) -> None:
        self._write(os.path.join(self.out_root, f"op{i}"))

    def after_op(self, i: int) -> None:
        """Untimed: size the output, keep only the newest directory."""
        path = os.path.join(self.out_root, f"op{i}")
        if not os.path.isdir(path):
            return
        self.write_amp.append(dir_bytes(path) / self.manifest["logs"]["bytes"])
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = path

    def check(self) -> None:
        if self.last_out is None:
            self._record("clickstream_pipeline", "no output written")
            return
        con = duck(self.work)
        con.execute(
            f"CREATE VIEW logs AS SELECT * FROM read_parquet('{self.inputs}/logs.parquet/*.parquet')"
        )
        con.execute(
            "CREATE VIEW category AS SELECT * FROM "
            f"read_parquet('{self.inputs}/category.parquet/*.parquet')"
        )
        try:
            got = con.sql(
                f"SELECT * FROM read_parquet('{self.last_out}/*/*.parquet', "
                "hive_partitioning = true, hive_types_autocast = false)"
            ).df()
            want = con.sql(clickstream_oracle_sql()).df()
            self._record("clickstream_pipeline", frames_match(got, want))
        except Exception as exc:  # noqa: BLE001 - counted as a failed check
            self._record("clickstream_pipeline", f"{type(exc).__name__}: {exc}"[:300])
        con.close()

    def extra(self, latencies: list[float]) -> dict:
        from perfbench.stats import median

        rows = self.manifest["logs"]["rows"]
        return {
            "etl.rows_per_s": (rows * len(latencies) / sum(latencies), "1/s"),
            "etl.write_amp": (median(self.write_amp) if self.write_amp else None, "B/B"),
        }

    def probe(self) -> dict:
        """Write time minus the same plan's noop action."""
        df = self.plan()
        with self.tr.span("noop", "plans", "probe") as noop:
            noop_sink(df)
        df = self.plan()
        with self.tr.span("write_parquet", "sources", "probe") as write:
            from spark_etl_pipeline_spark.sources import write_parquet

            write_parquet(df, os.path.join(self.out_root, "probe"), partition_by=["TRANSACTION_DATE"])
        return {"sources.write_only_s": write.seconds - noop.seconds}


# --------------------------------------------------------------------------
# incremental_ingest
# --------------------------------------------------------------------------


class IncrementalIngest(Workload):
    """One scheduled micro-batch: a new event file lands (untimed), then an
    availableNow drain folds it into the latest-state snapshot."""

    name = "incremental_ingest"
    settle_ops = 1
    min_ops = 4

    def __init__(self, *args):
        super().__init__(*args)
        from pyspark.sql import types as T

        self.landing = os.path.join(self.work, "landing")
        self.snapshot = os.path.join(self.work, "snapshot")
        self.checkpoint = os.path.join(self.work, "checkpoint")
        os.makedirs(self.landing, exist_ok=True)
        self.batches = sorted(os.listdir(os.path.join(self.inputs, "batches")))
        self.schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampNTZType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        self.listener = None
        self.last_run = ""
        self.progress: list[list[dict]] = []
        self.write_amp: list[float] = []
        self.snapshot_rows: list[int] = []
        self.snapshot_bytes: list[int] = []
        self.input_rows: list[int] = []

    @property
    def capacity(self) -> int:
        """Timed operations available (one landed file each)."""
        return len(self.batches) - 1

    def land(self, i: int) -> str:
        name = self.batches[i]
        src = os.path.join(self.inputs, "batches", name)
        tmp = os.path.join(self.landing, f".{name}")
        shutil.copyfile(src, tmp)
        os.replace(tmp, os.path.join(self.landing, name))
        return name

    def drain(self) -> str:
        from spark_etl_pipeline_spark.streaming.incremental import latest_state_sink
        from spark_etl_pipeline_spark.streaming.source import stream_from_glob

        with self.tr.span("stream_from_glob", "streaming", "build"):
            stream = stream_from_glob(
                self.spark, os.path.join(self.landing, "*.parquet"), self.schema, []
            ).select("user_id", "ts", "event_id", "event_type", "value")
            writer = (
                stream.writeStream.foreachBatch(latest_state_sink("user_id", self.snapshot))
                .option("checkpointLocation", self.checkpoint)
                .trigger(availableNow=True)
            )
        with self.tr.span("drain", "streaming", "action"):
            q = writer.start()
            q.awaitTermination()
        return str(q.runId)

    def warmup(self) -> None:
        self.land(0)
        self.drain()

    def before_op(self, i: int) -> None:
        self.land(i + 1)

    def op(self, i: int) -> None:
        self.last_run = self.drain()

    def after_op(self, i: int) -> None:
        from spark_etl_pipeline_spark.streaming.incremental import latest_snapshot_path

        import pyarrow.parquet as pq

        if self.listener is not None:
            self.progress.append(self.listener.wait(self.last_run))
        gen = latest_snapshot_path(self.snapshot)
        size = dir_bytes(gen)
        landed = self.manifest[self.batches[i + 1].removesuffix(".parquet")]
        self.write_amp.append(size / landed["bytes"])
        self.snapshot_bytes.append(size)
        self.input_rows.append(landed["rows"])
        self.snapshot_rows.append(
            sum(pq.ParquetFile(os.path.join(gen, f)).metadata.num_rows
                for f in os.listdir(gen) if f.endswith(".parquet"))
        )

    def check(self) -> None:
        from pyspark.sql import functions as F

        from spark_etl_pipeline_spark.plans.registry import oracles
        from spark_etl_pipeline_spark.streaming.incremental import read_snapshot

        con = duck(self.work)
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.landing}/*.parquet')"
        )
        try:
            got = read_snapshot(self.spark, self.snapshot).select(
                "user_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
                "event_id",
                "event_type",
                "value",
            ).toPandas()
            want = con.sql(oracles()["stream_upsert_drain"]).df()
            self._record("latest_state_snapshot", frames_match(got, want))
        except Exception as exc:  # noqa: BLE001 - counted as a failed check
            self._record("latest_state_snapshot", f"{type(exc).__name__}: {exc}"[:300])
        con.close()

    def probe(self) -> dict:
        n = max(1, len(self.snapshot_rows))
        return {
            "streaming.snapshot_rows": sum(self.snapshot_rows) / n,
            "streaming.snapshot_bytes_written": sum(self.snapshot_bytes) / n,
        }

    def extra(self, latencies: list[float]) -> dict:
        from perfbench.stats import median, tail

        rows = sum(self.input_rows)
        t = tail(latencies)
        out = {
            "ingest.rows_per_s": (rows / sum(latencies), "1/s"),
            "ingest.batch_s_p50": (median(latencies), "s"),
            "ingest.write_amp": (median(self.write_amp) if self.write_amp else None, "B/B"),
        }
        if t is not None:
            out["ingest.batch_s_tail"] = (t[1], "s", {"percentile": t[0], "samples": len(latencies)})
        else:
            out["ingest.batch_s_tail"] = (None, "s", {"samples": len(latencies)})
        return out


WORKLOADS = {
    w.name: w for w in (EtlClickstream, CorpusCuration, AnalyticsQueries, IncrementalIngest)
}
