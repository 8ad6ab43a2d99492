"""Materialized signature store: build → probe must equal the in-plan
incremental dedup, and append must equal a from-scratch rebuild."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

from spark_etl_pipeline_spark.operators.dedup import (
    append_signature_store,
    build_signature_store,
    incremental_survivors,
    probe_signature_store,
)
from spark_etl_pipeline_spark.plans.registry import table
from tests.conftest import SF_SMOKE


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_store_probe_equals_inplan_incremental(spark, tmp_path):
    docs = table(spark, SF_SMOKE, "documents")
    is_delta = F.col("doc_id") % 4 == 3
    store = str(tmp_path / "store")

    build_signature_store(docs.filter(~is_delta), store)
    got = probe_signature_store(spark, store, docs.filter(is_delta))
    want = incremental_survivors(docs, lambda c: c % 4 == 3)

    got_ids, want_ids = _ids(got), _ids(want)
    assert got_ids == want_ids and len(got_ids) > 0


def test_append_equals_rebuild(spark, tmp_path):
    docs = table(spark, SF_SMOKE, "documents")
    base = docs.filter(F.col("doc_id") % 4 != 3)
    delta = docs.filter(F.col("doc_id") % 4 == 3)

    # Incremental build: half the base first, the other half appended.
    grown = str(tmp_path / "grown")
    build_signature_store(base.filter(F.col("doc_id") % 2 == 0), grown)
    append_signature_store(base.filter(F.col("doc_id") % 2 == 1), grown)

    rebuilt = str(tmp_path / "rebuilt")
    build_signature_store(base, rebuilt)

    assert _ids(probe_signature_store(spark, grown, delta)) == _ids(
        probe_signature_store(spark, rebuilt, delta)
    )


def test_store_layout_roundtrip(spark, tmp_path):
    """Both store tables read back with the schema the probe expects."""
    docs = table(spark, SF_SMOKE, "documents").limit(50)
    store = str(tmp_path / "layout")
    build_signature_store(docs, store)

    bands = spark.read.parquet(f"{store}/bands")
    assert set(bands.columns) == {"doc_id", "band", "bh"}
    ss = spark.read.parquet(f"{store}/shingles")
    assert set(ss.columns) == {"doc_id", "ss"}
    assert ss.count() == bands.select("doc_id").distinct().count()


def test_embedding_store_probe_equals_full_filtered(spark, tmp_path):
    """Probe(store, delta) == full-corpus pairs restricted to delta."""
    from pyspark.sql import functions as F

    from spark_etl_pipeline_spark.operators.similarity import (
        _vec,
        build_embedding_store,
        dedup_embedding_cosine,
        probe_embedding_store,
    )

    emb = table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", _vec().alias("v")
    )
    is_delta = F.col("vec_id") % 4 == 3
    store = str(tmp_path / "embstore")
    build_embedding_store(emb.filter(~is_delta), store)

    got = {
        (r["vec_a"], r["vec_b"], round(r["cos"], 9))
        for r in probe_embedding_store(
            spark, store, emb.filter(is_delta)
        ).collect()
    }
    want = {
        (r["vec_a"], r["vec_b"], round(r["cos"], 9))
        for r in dedup_embedding_cosine(spark, SF_SMOKE)
        .filter((F.col("vec_a") % 4 == 3) | (F.col("vec_b") % 4 == 3))
        .collect()
    }
    assert got == want and len(got) > 0


def test_store_refuses_constants_mismatch(spark, tmp_path):
    """A persisted store is a function of its constants: probing or
    appending one built under DIFFERENT constants must fail LOUDLY
    (without the stamp it returns garbage similarities, not an error).
    Covers both store families and both failure shapes (mismatched
    stamp, missing stamp)."""
    import pytest

    from spark_etl_pipeline_spark.operators.dedup import (
        append_signature_store,
        probe_signature_store,
    )
    from spark_etl_pipeline_spark.operators.similarity import (
        build_embedding_store,
        probe_embedding_store,
    )
    from spark_etl_pipeline_spark.operators.store_meta import write_store_stamp

    docs = table(spark, SF_SMOKE, "documents")
    base, delta = docs.filter("doc_id % 4 != 3"), docs.filter("doc_id % 4 = 3")

    # text store: fresh build carries the stamp and probes fine
    store = str(tmp_path / "sigstore")
    build_signature_store(base, store)
    assert probe_signature_store(spark, store, delta).count() >= 0

    # ...then a stamp from "older constants" poisons probe AND append
    write_store_stamp(spark, store, "minhash", "deadbeef-old-constants")
    with pytest.raises(ValueError, match="different\\s+constants"):
        probe_signature_store(spark, store, delta)
    with pytest.raises(ValueError, match="different\\s+constants"):
        append_signature_store(delta, store)

    # unstamped store (pre-versioning provenance) is refused too
    import shutil

    shutil.rmtree(f"{store}/constants_stamp")
    with pytest.raises(ValueError, match="no constants stamp"):
        probe_signature_store(spark, store, delta)

    # embedding store: same contract, hyperplane family
    from spark_etl_pipeline_spark.operators.similarity import load_vectors

    emb = load_vectors(spark, SF_SMOKE)
    vstore = str(tmp_path / "embstore")
    build_embedding_store(emb.filter("vec_id % 4 != 3"), vstore)
    vdelta = emb.filter("vec_id % 4 = 3")
    assert probe_embedding_store(spark, vstore, vdelta).count() >= 0
    write_store_stamp(spark, vstore, "hyperplane", "deadbeef-old-constants")
    with pytest.raises(ValueError, match="different\\s+constants"):
        probe_embedding_store(spark, vstore, vdelta)


#: The registered builders that write an on-disk store (or stream
#: source) under the temp directory, with their directory prefixes.
STORE_QUERIES = {
    "docs_dedup_store": "spark_etl_sigstore_",
    "sim_embedding_store": "spark_etl_embstore_",
    "events_incremental_rollup": "spark_etl_rollup_",
    "stream_dedup_drain": "spark_etl_replay_src_",
}

_BUILD_STORES = f"""
import os, tempfile
from spark_etl_pipeline_spark.plans import registry
from spark_etl_pipeline_spark.session import get_spark
registry.load_all()
spark = get_spark("store-dirs")
for name in {list(STORE_QUERIES)!r}:
    registry.REGISTRY[name].builder(spark, {SF_SMOKE!r}).collect()
print(*os.listdir(tempfile.gettempdir()))
"""


def _stores(names):
    return sorted(n for n in names if n.startswith(tuple(STORE_QUERIES.values())))


def test_store_dirs_are_removed_at_exit(tmp_path):
    """Every build of a store-backed query makes a fresh store directory;
    the process that built it removes it when it exits, so repeated
    builds do not fill the temp directory."""
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("MASTER", "SPARK_MASTER", "PYSPARK_SUBMIT_ARGS")
    }
    env.update(TMPDIR=str(tmp_path), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="512m")
    out = subprocess.run(
        [sys.executable, "-c", _BUILD_STORES],
        cwd=Path(__file__).resolve().parents[1], env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # each build made its store under the redirected temp directory
    assert len(_stores(out.stdout.split())) == len(STORE_QUERIES), out.stdout
    assert _stores(os.listdir(tmp_path)) == []
