"""Randomized-input property tests for the dedup/ANN ESTIMATOR family.

The DuckDB oracles and the fixed-corpus calibration queries prove these
operators on one dataset; this suite is the second verification axis
(same discipline as ``test_stat_properties.py``) for the parts whose
correctness is STATISTICAL: the engine's own MinHash signatures are
compared against exact Jaccard on random shingle sets, its LSH banding
against the analytic ``1-(1-s^r)^b`` collision curve, its int8
scale-cancelled approximate cosine against float cosine on random
vectors, its SimHash fingerprints against planted near-duplicates, and
its containment scores against plain-Python set arithmetic. All inputs
are seeded-random and engine-independent; none of the references share
a formulation with the Spark builders or the SQL oracles.
"""

from __future__ import annotations

# Second-verification-axis marker: tests in this module check operators
# against an INDEPENDENT reference (plain Python/pandas/declared
# allowlists), not the DuckDB oracle. COVERAGE.md's property-test tally
# is derived by counting test functions in marked modules
# (tests/test_registry_contract.py::test_doc_counts_are_derived).
SECOND_AXIS_INDEPENDENT_REFERENCE = True

import math
import random

import pytest

from spark_etl_pipeline_spark.operators.dedup import (
    BANDS,
    NUM_HASHES,
    ROWS_PER_BAND,
    candidate_pairs,
    containment_verified,
    lsh_bands,
    minhash_signatures,
)

# Controlled-overlap corpus: per pair i, docs (2i, 2i+1) share exactly
# ``c`` of their ``SET_SIZE`` shingles, where c = 2nj/(1+j) hits the
# target Jaccard j = c/(2n-c). Token universes are disjoint across
# pairs, so the only engineered collisions are within a pair.
SET_SIZE = 24
SIM_LEVELS = (0.1, 0.3, 0.5, 0.7, 0.9)
PAIRS_PER_LEVEL = 40


def _controlled_pairs():
    """[(doc_a, doc_b, set_a, set_b, exact_jaccard)] over all levels."""
    out = []
    pid = 0
    for level in SIM_LEVELS:
        for _ in range(PAIRS_PER_LEVEL):
            c = round(2 * SET_SIZE * level / (1 + level))
            shared = [f"p{pid}_s{k}" for k in range(c)]
            only_a = [f"p{pid}_a{k}" for k in range(SET_SIZE - c)]
            only_b = [f"p{pid}_b{k}" for k in range(SET_SIZE - c)]
            sa, sb = set(shared + only_a), set(shared + only_b)
            exact = len(sa & sb) / len(sa | sb)
            out.append((2 * pid, 2 * pid + 1, sa, sb, exact))
            pid += 1
    return out


@pytest.fixture(scope="module")
def signature_run(spark):
    """Engine MinHash signatures + LSH candidate set for the corpus."""
    pairs = _controlled_pairs()
    rows = [
        (doc_id, s)
        for doc_a, doc_b, sa, sb, _ in pairs
        for doc_id, ss in ((doc_a, sa), (doc_b, sb))
        for s in sorted(ss)
    ]
    shingles = spark.createDataFrame(rows, "doc_id long, s string")
    sigs = {
        r["doc_id"]: [r[f"mh{k}"] for k in range(NUM_HASHES)]
        for r in minhash_signatures(shingles).collect()
    }
    colliding = {
        (r.doc_a, r.doc_b)
        for r in candidate_pairs(lsh_bands(minhash_signatures(shingles))).collect()
    }
    return pairs, sigs, colliding


def test_minhash_estimate_tracks_exact_jaccard(signature_run):
    """The matching-hash fraction of the engine's 16-hash signatures is
    an unbiased Jaccard estimator: per-pair error stays inside a 3-sigma
    binomial band (sigma = sqrt(J(1-J)/16) <= 0.125) and the mean
    absolute error over 200 random pairs is far below one sigma."""
    pairs, sigs, _ = signature_run
    errs = []
    for doc_a, doc_b, _sa, _sb, exact in pairs:
        est = sum(
            a == b for a, b in zip(sigs[doc_a], sigs[doc_b])
        ) / NUM_HASHES
        sigma = math.sqrt(max(exact * (1 - exact), 0.09 / 0.16) / NUM_HASHES)
        assert abs(est - exact) <= 3.2 * sigma, (
            f"pair ({doc_a},{doc_b}): est {est} vs exact {exact:.3f}"
        )
        errs.append(abs(est - exact))
    assert sum(errs) / len(errs) <= 0.10, "mean |error| too large for K=16"


def test_minhash_estimate_mean_unbiased_per_level(signature_run):
    """Averaged over 40 pairs at one similarity level, the estimator's
    mean converges on the exact Jaccard (bias test: the per-pair noise
    shrinks by sqrt(40), so the level mean must sit within ~2 pooled
    standard errors)."""
    pairs, sigs, _ = signature_run
    by_level: dict[float, list[tuple[float, float]]] = {}
    for doc_a, doc_b, _sa, _sb, exact in pairs:
        est = sum(
            a == b for a, b in zip(sigs[doc_a], sigs[doc_b])
        ) / NUM_HASHES
        by_level.setdefault(round(exact, 2), []).append((est, exact))
    for level, evs in by_level.items():
        mean_est = sum(e for e, _ in evs) / len(evs)
        mean_exact = sum(x for _, x in evs) / len(evs)
        se = math.sqrt(0.25 / NUM_HASHES / len(evs))  # pooled, worst-case p
        assert abs(mean_est - mean_exact) <= 2.5 * se + 0.02, (
            f"level {level}: mean est {mean_est:.3f} vs {mean_exact:.3f}"
        )


def test_lsh_band_collision_matches_analytic_curve(signature_run):
    """Empirical band-collision rate per similarity level vs the
    analytic S-curve p = 1-(1-s^r)^b for the engine's r=4 rows/band,
    b=4 bands: within a binomial tolerance at every level, ~0 at s=0.1,
    near-certain at s=0.9, and monotone across levels."""
    pairs, _, colliding = signature_run
    assert ROWS_PER_BAND == 4 and BANDS == 4  # the curve below assumes these
    rates = []
    for level in SIM_LEVELS:
        hits = total = 0
        exact_mean = 0.0
        for doc_a, doc_b, _sa, _sb, exact in pairs:
            if abs(exact - level) > 0.08:
                continue
            total += 1
            exact_mean += exact
            hits += (doc_a, doc_b) in colliding
        assert total >= PAIRS_PER_LEVEL * 0.9
        exact_mean /= total
        rate = hits / total
        analytic = 1 - (1 - exact_mean**ROWS_PER_BAND) ** BANDS
        se = math.sqrt(max(analytic * (1 - analytic), 0.01) / total)
        assert abs(rate - analytic) <= 3.5 * se + 0.05, (
            f"s={level}: empirical {rate:.3f} vs analytic {analytic:.3f}"
        )
        rates.append(rate)
    assert rates == sorted(rates), f"collision rate not monotone: {rates}"
    assert rates[0] <= 0.15 and rates[-1] >= 0.80


def test_containment_matches_python_set_arithmetic(spark, signature_run):
    """containment_verified on the random corpus == plain-Python
    |A∩B|/|A| and |A∩B|/|B| exactly (integer-ratio doubles: both sides
    compute the same IEEE division, so equality is exact)."""
    pairs, _, _ = signature_run
    sample = pairs[::7]
    rows = [
        (doc_id, s)
        for doc_a, doc_b, sa, sb, _ in sample
        for doc_id, ss in ((doc_a, sa), (doc_b, sb))
        for s in sorted(ss)
    ]
    shingles = spark.createDataFrame(rows, "doc_id long, s string")
    cand = spark.createDataFrame(
        [(a, b) for a, b, _sa, _sb, _ in sample], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_a, r.doc_b): (r.cont_a, r.cont_b)
        for r in containment_verified(cand, shingles).collect()
    }
    assert len(got) == len(sample)
    for doc_a, doc_b, sa, sb, _ in sample:
        i = len(sa & sb)
        assert got[(doc_a, doc_b)] == (i / len(sa), i / len(sb))


# ---------------------------------------------------------------------------
# int8 scale-cancelled approximate cosine vs float cosine (random vectors)
# ---------------------------------------------------------------------------


def _spark_round(x: float) -> int:
    """Spark's HALF_UP round() (Python's round is banker's)."""
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


@pytest.fixture(scope="module")
def emb_dir(spark, tmp_path_factory):
    """A random 64-dim embeddings parquet in the TESTDATA.md layout:
    three loose clusters plus noise, float32 on disk (as the driver
    writes it)."""
    from spark_etl_pipeline_spark.operators.similarity import DIM

    rng = random.Random(212)
    centers = [
        [rng.uniform(-1, 1) for _ in range(DIM)] for _ in range(3)
    ]
    rows = []
    for vec_id in range(120):
        c = centers[vec_id % 3]
        v = [c[d] + rng.gauss(0, 0.35) for d in range(DIM)]
        rows.append((vec_id, v, vec_id % 3))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = tmp_path_factory.mktemp("estimator_props")
    df.write.parquet(str(out / "embeddings.parquet"))
    return str(out)


def test_quantized_rerank_tracks_float_cosine(spark, emb_dir):
    """sim_ivf_quantized_rerank end-to-end on random vectors: every
    returned exact ``cos`` equals an independent Python float cosine of
    the same pair to 1e-9; the int8 ``approx_cos`` sits within the
    quantization error band of it; and within each query the rows are
    ordered by exact cosine — i.e. the compressed-domain score is a
    faithful preorder, corrected by the rerank."""
    import numpy as np

    from spark_etl_pipeline_spark.operators.similarity import (
        sim_ivf_quantized_rerank,
    )

    got = sim_ivf_quantized_rerank(spark, emb_dir).collect()
    assert got, "rerank returned nothing"

    # The engine casts the stored float32 to double; mirror that.
    raw = {
        r.vec_id: np.array(r.embedding, dtype=np.float32).astype(np.float64)
        for r in spark.read.parquet(f"{emb_dir}/embeddings.parquet").collect()
    }

    def py_cos(a, b):
        return float(
            np.dot(a, b) / (math.sqrt(np.dot(a, a)) * math.sqrt(np.dot(b, b)))
        )

    def py_approx(a, b):
        qa = [_spark_round(x * (127.0 / np.abs(a).max())) for x in a]
        qb = [_spark_round(x * (127.0 / np.abs(b).max())) for x in b]
        qdot = sum(x * y for x, y in zip(qa, qb))
        return qdot / (
            math.sqrt(sum(x * x for x in qa)) * math.sqrt(sum(y * y for y in qb))
        )

    per_query: dict[int, list] = {}
    for r in got:
        a, b = raw[r.query_id], raw[r.neighbor_id]
        assert abs(r.cos - py_cos(a, b)) <= 1e-9
        assert abs(r.approx_cos - py_approx(a, b)) <= 1e-9, (
            "engine approx_cos is not the scale-cancelled int8 score"
        )
        assert abs(r.approx_cos - r.cos) <= 0.05, (
            f"quantization error too large: {r.approx_cos} vs {r.cos}"
        )
        per_query.setdefault(r.query_id, []).append(r)
    for q, rows in per_query.items():
        coss = [r.cos for r in rows]
        assert coss == sorted(coss, reverse=True), f"query {q} not cos-ordered"


# ---------------------------------------------------------------------------
# SimHash: planted near-duplicates vs unrelated docs (random corpus)
# ---------------------------------------------------------------------------


def test_simhash_separates_planted_near_dups(spark, tmp_path_factory):
    """On a random corpus with planted one-token-edit near-duplicates,
    the engine's 32-bit SimHash keeps every planted pair within a few
    bits of Hamming distance while unrelated doc pairs stay far apart —
    the separation the Hamming-threshold pairing step relies on."""
    from spark_etl_pipeline_spark.operators.dedup import dedup_simhash

    rng = random.Random(303)
    vocab = [f"w{k}" for k in range(500)]
    base = {i: [rng.choice(vocab) for _ in range(60)] for i in range(30)}
    rows = [(i, " ".join(toks), "en", "synth", 0) for i, toks in base.items()]
    for i, toks in base.items():
        edited = list(toks)
        edited[rng.randrange(len(edited))] = rng.choice(vocab)
        rows.append((1000 + i, " ".join(edited), "en", "synth", 0))
    out = tmp_path_factory.mktemp("simhash_props")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(out / "documents.parquet"))

    fp = {
        r.doc_id: r.simhash for r in dedup_simhash(spark, str(out)).collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    planted = [ham(fp[i], fp[1000 + i]) for i in base]
    unrelated = [
        ham(fp[i], fp[j]) for i in base for j in base if i < j
    ]
    assert max(planted) <= 8, f"planted near-dup drifted: {planted}"
    assert sum(unrelated) / len(unrelated) >= 10
    assert sum(planted) / len(planted) < sum(unrelated) / len(unrelated) / 2


def _angle_pair_corpus(seed, angles, pairs_per_angle):
    """Isotropic random vector pairs at exact controlled angles.

    Returns ``(rows, meta)`` where rows are ``(vec_id, v)`` and meta is
    ``(vec_a, vec_b, theta)`` per pair: u is a random unit vector, v is
    u rotated by theta in the plane spanned by u and an orthogonalized
    second random direction — so every pair's angle is theta exactly
    while the pair's ORIENTATION stays uniform on the sphere (which is
    what makes fixed-plane SRP behave like random-plane SRP).
    """
    import random

    from spark_etl_pipeline_spark.operators.similarity import DIM

    rng = random.Random(seed)
    rows, meta, vid = [], [], 0
    for theta in angles:
        for _ in range(pairs_per_angle):
            u = [rng.gauss(0, 1) for _ in range(DIM)]
            w = [rng.gauss(0, 1) for _ in range(DIM)]
            un = math.sqrt(sum(x * x for x in u))
            u = [x / un for x in u]
            # orthogonalize w against u, then rotate by theta in the (u,w) plane
            d = sum(a * b for a, b in zip(u, w))
            w = [b - d * a for a, b in zip(u, w)]
            wn = math.sqrt(sum(x * x for x in w))
            w = [x / wn for x in w]
            v = [math.cos(theta) * a + math.sin(theta) * b for a, b in zip(u, w)]
            rows.append((vid, u))
            rows.append((vid + 1, v))
            meta.append((vid, vid + 1, theta))
            vid += 2
    return rows, meta


def test_hyperplane_bit_agreement_tracks_angle(spark):
    """The engine's fixed hyperplane signatures behave like random-plane
    SRP-LSH on random vectors: over isotropic random pairs built at a
    controlled angle θ, the mean per-bit sign-agreement rate across the
    N_TABLES·BITS_PER_TABLE signature bits converges on the analytic
    1 - θ/π, and the per-table full-signature collision rate is ordered
    by angle. (For a FIXED plane and a uniformly random pair
    orientation, P[same side] = 1 - θ/π exactly — the randomness the
    engine relies on lives in the data, not the planes.)"""
    from spark_etl_pipeline_spark.operators.similarity import (
        BITS_PER_TABLE,
        N_TABLES,
        embedding_signatures,
    )

    angles = (0.25, 0.75, 1.25)
    pairs_per_angle = 60
    rows, meta = _angle_pair_corpus(404, angles, pairs_per_angle)
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    sigs: dict[tuple[int, int], int] = {
        (r.vec_id, r.t): r.sig for r in embedding_signatures(emb).collect()
    }

    total_bits = N_TABLES * BITS_PER_TABLE
    for theta in angles:
        agree = coll = n = 0
        for va, vb, th in meta:
            if th != theta:
                continue
            n += 1
            for t in range(N_TABLES):
                xor = sigs[(va, t)] ^ sigs[(vb, t)]
                agree += BITS_PER_TABLE - bin(xor).count("1")
                coll += xor == 0
        rate = agree / (n * total_bits)
        analytic = 1 - theta / math.pi
        # SE of the mean over n pairs x total_bits correlated-ish bits;
        # budget on the per-pair binomial (conservative).
        se = math.sqrt(analytic * (1 - analytic) / (n * total_bits))
        assert abs(rate - analytic) <= 4 * se + 0.03, (
            f"theta={theta}: bit agreement {rate:.3f} vs 1-θ/π {analytic:.3f}"
        )
    # per-table collision probability must fall as the angle opens
    coll_rates = []
    for theta in angles:
        hits = n = 0
        for va, vb, th in meta:
            if th != theta:
                continue
            n += 1
            hits += sum(sigs[(va, t)] == sigs[(vb, t)] for t in range(N_TABLES))
        coll_rates.append(hits / (n * N_TABLES))
    assert coll_rates == sorted(coll_rates, reverse=True), coll_rates
    assert coll_rates[0] >= 0.4 and coll_rates[-1] <= 0.2


def test_minhash_lsh_recall_vs_exact_ground_truth(spark):
    """End-to-end dedup quality on the REAL corpus: plain-Python exact
    Jaccard over 3-gram shingle sets is the ground truth; every true
    near-dup pair at J >= 0.5 in the sf0.01 corpus must be recovered by
    the registered MinHash-LSH query (the corpus dups sit at J >= 0.9,
    where the b=4/r=4 S-curve puts collision probability above 0.98 —
    missing one would mean the signature family is misbehaving again,
    which is exactly how the correlated-permutation defect showed up).
    Also pins candidate-stage PRECISION: the candidate set may carry at
    most a small multiple of the true pair count (the old constants
    manufactured ~4x spurious candidates)."""
    import re

    from spark_etl_pipeline_spark.operators.dedup import (
        SHINGLE_N,
        candidate_pairs,
        lsh_bands,
        minhash_signatures,
        shingle_set,
    )
    from spark_etl_pipeline_spark.plans import registry
    from tests.conftest import SF_CORRECTNESS

    docs = registry.table(spark, SF_CORRECTNESS, "documents").collect()
    sets = {}
    for r in docs:
        toks = re.split(r"\s+", r.text.strip())
        sets[r.doc_id] = {
            " ".join(toks[i : i + SHINGLE_N])
            for i in range(len(toks) - SHINGLE_N + 1)
        } if len(toks) >= SHINGLE_N else set()
    ids = sorted(sets)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sets[a], sets[b]
            inter = len(sa & sb)
            if inter and inter / (len(sa) + len(sb) - inter) >= 0.5:
                truth.add((a, b))
    assert truth, "corpus has no planted near-dups? fixture drifted"

    found = {
        (r.doc_a, r.doc_b)
        for r in registry.REGISTRY["dedup_minhash_lsh"]
        .builder(spark, SF_CORRECTNESS)
        .collect()
    }
    assert truth <= found, f"missed true near-dups: {sorted(truth - found)}"

    sh = shingle_set(registry.table(spark, SF_CORRECTNESS, "documents"))
    n_cand = candidate_pairs(lsh_bands(minhash_signatures(sh))).count()
    assert n_cand <= 2 * len(truth) + 10, (
        f"{n_cand} candidates for {len(truth)} true pairs — spurious "
        "band collisions are back"
    )


def test_embedding_multiprobe_recall_vs_exact_ground_truth(spark):
    """Embedding near-dup quality on the real corpus: plain-Python
    exact cosine over all pairs is the ground truth. The corpus's true
    pairs all sit in the hard 0.4-0.6 cosine band (theta 53-66 deg),
    where exact-bucket SRP-LSH recalls only ~0.15 (measured 9/59); the
    hamming<=1 multiprobe must hold the analytic ~0.49 (measured
    29/59). Pinned as a floor so a probe regression can't silently
    drop back to exact-bucket recall."""
    import numpy as np

    from spark_etl_pipeline_spark.plans import registry
    from tests.conftest import SF_CORRECTNESS

    registry.load_all()
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float32).astype(np.float64)
        for r in registry.table(spark, SF_CORRECTNESS, "embeddings").collect()
    }
    ids = sorted(vecs)
    norms = {i: math.sqrt(float(np.dot(vecs[i], vecs[i]))) for i in ids}
    truth = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if float(np.dot(vecs[a], vecs[b])) / (norms[a] * norms[b]) >= 0.4
    }
    assert truth, "corpus has no cosine>=0.4 pairs? fixture drifted"

    found = {
        (r.vec_a, r.vec_b)
        for r in registry.REGISTRY["dedup_embedding_cosine"]
        .builder(spark, SF_CORRECTNESS)
        .collect()
    }
    assert found <= truth, f"false positives: {sorted(found - truth)[:5]}"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.45, (
        f"multiprobe recall {recall:.2f} ({len(truth & found)}/{len(truth)}) "
        "regressed toward exact-bucket LSH"
    )


def test_multiprobe_collision_matches_analytic_curve(spark):
    """The hamming<=1 multiprobe contract on random controlled-angle
    pairs: per-table candidate probability must track the analytic
    Σ_{k<=1} C(b,k)·p^(b-k)·(1-p)^k with p = 1 - θ/π (the binomial
    tail the ``_probe_masks`` comment promises), and at
    every angle it must strictly dominate the exact-bucket rate p^b —
    the measured statement of WHY multiprobe exists. Same
    engine-independent geometry as the bit-agreement test; only the
    signatures come from the engine."""
    from spark_etl_pipeline_spark.operators.similarity import (
        BITS_PER_TABLE,
        N_TABLES,
        embedding_signatures,
    )

    angles = (0.25, 0.75, 1.25)
    pairs_per_angle = 80
    rows, meta = _angle_pair_corpus(505, angles, pairs_per_angle)
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    sigs = {
        (r.vec_id, r.t): r.sig for r in embedding_signatures(emb).collect()
    }

    for theta in angles:
        p = 1 - theta / math.pi
        analytic_multi = sum(
            math.comb(BITS_PER_TABLE, k)
            * p ** (BITS_PER_TABLE - k)
            * (1 - p) ** k
            for k in range(2)
        )
        analytic_exact = p**BITS_PER_TABLE
        multi = exact = n = 0
        for va, vb, th in meta:
            if th != theta:
                continue
            for t in range(N_TABLES):
                n += 1
                ham = bin(sigs[(va, t)] ^ sigs[(vb, t)]).count("1")
                multi += ham <= 1
                exact += ham == 0
        m_rate, e_rate = multi / n, exact / n
        se = math.sqrt(analytic_multi * (1 - analytic_multi) / n)
        assert abs(m_rate - analytic_multi) <= 4 * se + 0.05, (
            f"theta={theta}: multiprobe rate {m_rate:.3f} vs analytic "
            f"{analytic_multi:.3f}"
        )
        # the recall gain itself: strictly more candidates than exact
        # buckets, by at least half the analytic gap
        gain = analytic_multi - analytic_exact
        assert m_rate - e_rate >= 0.5 * gain, (
            f"theta={theta}: multiprobe gain {m_rate - e_rate:.3f} vs "
            f"analytic gap {gain:.3f}"
        )


def test_probe_join_equals_hamming_radius(spark):
    """Mechanical multiprobe equivalence, no statistics: the engine's
    probe-side explode + bucket EQUI-join must produce exactly the
    pairs whose per-table signatures differ in <= 1 bit in
    at least one table — computed here by brute-force plain-Python
    hamming over the signature map. Pins the xor/mask explode in
    ``embedding_probe_signatures`` (a wrong mask set or a dropped
    own-bucket probe silently degrades recall, never correctness of the
    verified pairs, so only an equivalence test catches it)."""
    import random

    from pyspark.sql import functions as F

    from spark_etl_pipeline_spark.operators.similarity import (
        DIM,
        N_TABLES,
        embedding_probe_signatures,
        embedding_signatures,
    )

    # Full DIM-dim vectors: shorter arrays NULL-pad against the fixed
    # planes under zip_with, nulling every dot and collapsing all sigs
    # to bucket 0 — which would make this test vacuously true.
    rng = random.Random(606)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(DIM)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")

    sigs = {
        (r.vec_id, r.t): r.sig for r in embedding_signatures(emb).collect()
    }
    ids = sorted({v for v, _ in sigs})
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if any(
            bin(sigs[(a, t)] ^ sigs[(b, t)]).count("1") <= 1
            for t in range(N_TABLES)
        )
    }
    n_all = len(ids) * (len(ids) - 1) // 2
    assert 0 < len(expected) < n_all, (
        f"degenerate corpus: {len(expected)}/{n_all} pairs collide — "
        "the equivalence below would be vacuous"
    )

    a = embedding_probe_signatures(emb).alias("a")
    b = embedding_signatures(emb).alias("b")
    got = {
        (r.vec_a, r.vec_b)
        for r in a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
        .collect()
    }
    assert got == expected, (
        f"missing={sorted(expected - got)[:5]} extra={sorted(got - expected)[:5]}"
    )


def test_probe_masks_and_bits_knob_contract(spark):
    """API pins for the one scale knob: the mask set is exactly the
    popcount<=1 neighborhood (1 + bits masks, the own-bucket probe
    first — the order the registered plans snapshot), and signatures
    built at non-default bits stay inside their 2^bits bucket space
    across all tables."""
    from spark_etl_pipeline_spark.operators.similarity import (
        _probe_masks,
        embedding_signatures,
    )

    assert _probe_masks(6) == [0, 1, 2, 4, 8, 16, 32]
    for bits in (6, 10):
        masks = _probe_masks(bits)
        assert len(masks) == 1 + bits
        assert len(set(masks)) == len(masks)
        assert all(bin(m).count("1") <= 1 and m < 2**bits for m in masks)
        assert masks[0] == 0

    from spark_etl_pipeline_spark.operators.similarity import DIM

    rng = random.Random(707)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(DIM)]) for i in range(40)],
        "vec_id long, v array<double>",
    )
    for bits in (6, 9):
        rows = embedding_signatures(emb, bits=bits).collect()
        assert len(rows) == 40 * 2  # one row per vector per table
        assert all(0 <= r.sig < 2**bits for r in rows)
        # non-degenerate bucketing: the corpus must spread across
        # buckets (a null-padded dot collapses everything to sig 0)
        assert len({r.sig for r in rows}) > 10


def _cand_set(probe_df, emb, bits):
    """Candidate pairs from a probe-side frame joined on (t, sig)."""
    from pyspark.sql import functions as F

    from spark_etl_pipeline_spark.operators.similarity import (
        embedding_signatures,
    )

    a, b = probe_df.alias("a"), embedding_signatures(emb, bits).alias("b")
    return {
        (r.va, r.vb)
        for r in a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb")
        )
        .distinct()
        .collect()
    }


def test_setbit_probes_equal_full_radius_one(spark):
    """The set-bit (downward-flip) probe's exact contract on a random
    corpus: the self-join candidate set is IDENTICAL to full radius-1
    multiprobe — a hamming-1 pair's differing bit is set in exactly one
    of the two vectors, and that side's flip reaches the other — while
    the probe side carries only 1 + popcount(sig) rows per
    (vector, table) instead of 1 + bits (round-9 A/B in BASELINE.md).
    This is the equal-recall-cheaper form the registered pair-dedup
    queries default to; the oracle's hamming<=1 contract is unchanged.
    Checked at the registered b=6 and at a scaled-up b=9, since
    ``bits`` is the one knob deployments (and ``tools/scale_bench.py``)
    raise with corpus size.
    """
    from pyspark.sql import functions as F

    from spark_etl_pipeline_spark.operators.similarity import (
        DIM,
        N_TABLES,
        embedding_candidate_pairs,
        embedding_probe_signatures,
        embedding_signatures,
        setbit_probe_signatures,
    )

    rng = random.Random(17)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(DIM)]) for i in range(150)],
        "vec_id long, v array<double>",
    )
    for bits in (6, 9):
        full = _cand_set(embedding_probe_signatures(emb, bits), emb, bits)
        setbit = {
            (r.vec_a, r.vec_b)
            for r in embedding_candidate_pairs(emb, bits).collect()
        }
        assert 0 < len(full), f"bits={bits}: degenerate corpus"
        assert setbit == full, f"bits={bits}"

        # every emitted pair is canonical (vec_a < vec_b), no self-pairs
        assert all(a < b for a, b in setbit)

        # probe-row economics: exactly Σ (1 + popcount(sig)) rows,
        # strictly fewer than the (1 + bits) mask expansion on any
        # non-degenerate sig
        sigs = embedding_signatures(emb, bits)
        n_setbit = setbit_probe_signatures(sigs, bits).count()
        n_full = embedding_probe_signatures(emb, bits).count()
        assert n_full == 150 * N_TABLES * (1 + bits)
        assert n_setbit < n_full
        popcount_sum = (
            sigs.select(F.expr("bit_count(sig)").alias("pc"))
            .groupBy()
            .agg(F.sum("pc").alias("s"), F.count("*").alias("n"))
            .collect()[0]
        )
        assert n_setbit == popcount_sum.s + popcount_sum.n
