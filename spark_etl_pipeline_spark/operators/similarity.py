"""Similarity search over the ``embeddings`` table (64-dim float vectors).

LLM-data-pipeline ANN surface (absent from the reference repo — part of
the engine's extension baseline). Three tiers:

- **brute-force top-k** (`sim_topk_cosine`): the exact baseline — a
  small query set against every vector. Correct at any scale only
  because |Q| is small (queries broadcast, one pass over the corpus);
  the scored-row count is |Q|·N, so this is the *oracle*, not the
  production path.
- **random-hyperplane LSH** (`sim_ann_hyperplane`): 8 sign bits from
  fixed integer hyperplanes → 256 buckets. Per-row expression, no
  shuffle until the bucket-size aggregate; candidates at scale only
  ever form inside a bucket.
- **IVF with nprobe=1** (`sim_ivf_search`): assign every vector to its
  nearest centroid, search only the query's cell. This is the 100 TB
  plan: cells are data partitions, so a query prunes (cells-1)/cells of
  the corpus before any distance math.

All vector math runs JVM-side (`zip_with` + `aggregate` left folds over
double arrays — no Python in the hot path) and is bit-identical to the
DuckDB oracles (same element order, same IEEE-754 ops; verified).
"""

from __future__ import annotations

import hashlib
from itertools import combinations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_etl_pipeline_spark.plans.registry import register, table

DIM = 64
N_QUERIES = 10  # query set: vec_id < N_QUERIES
TOP_K = 5
NBITS = 8  # hyperplane signature bits
CENTROID_STRIDE = 50  # vec_id % STRIDE == 0 → stand-in centroid set
# Embedding near-dup LSH (dedup_embedding_cosine):
N_TABLES = 2  # independent hash tables (recall ~ 1-(1-P_table)^tables)
BITS_PER_TABLE = 6  # 64 buckets/table: Σ bucket² stays ~n²/64 per table
COS_DUP_THRESHOLD = 0.4
#: Probe-side multiprobe radius for the DEDUP pair queries: each vector
#: probes its own bucket plus every 1-bit-flip neighbor bucket
#: (hamming <= PROBE_RADIUS), so P_table rises from p^b to
#: Σ_{k<=r} C(b,k)·p^(b-k)·(1-p)^k with p = 1 - θ/π — at cos 0.8 the
#: two-table recall goes 0.44 → 0.87, and at this corpus's 0.4–0.6
#: dup band 0.15 → ~0.49 (measured 9/59 → 29/59 true pairs at
#: sf0.01), for extra probe rows on ONE join side and ZERO extra
#: stored tables — the storage-free alternative to stacking more hash
#: tables (multi-probe LSH, Lv et al., VLDB'07). Every signature
#: consumer (cosine dedup, the embedding store probe, quantized
#: rerank, cluster profiling, the threshold histogram) probes at this
#: radius, each oracle carrying the same hamming<=1 candidate
#: predicate. SELF-JOIN consumers reach the radius with the SET-BIT
#: probe (1 + popcount rows ≈ 4 instead of 1 + b = 7 at b=6, same
#: candidate set — see :func:`embedding_setbit_probe_signatures` and
#: the round-9 A/B in BASELINE.md); the asymmetric store probe keeps
#: the full mask expansion (or its directed-probes budget knob).
PROBE_RADIUS = 1


def load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v): the embedding corpus restricted to USABLE vectors.

    Empty embedding arrays — upstream decode failures, a guaranteed row
    class at 100-TB ingest — carry no geometry: their dot folds are 0,
    so every norm is 0 and the first cosine hits ANSI
    ``DIVIDE_BY_ZERO``, killing the whole query for one damaged row
    (surfaced by the round-8 null-injection sweep,
    ``tools/stage_hostile.py``). The family therefore drops them at
    load, and every oracle carries the matching
    ``len(list_filter(embedding, x -> x <> 0)) > 0`` — a no-op on
    clean corpora, so registered results are unchanged. ALL-ZERO
    vectors (norm 0 with nonzero length) are dropped by the same gate:
    they carry no direction, so cosine against them is undefined — and
    under ANSI mode one such row turns the undefined value into a
    job-killing DIVIDE_BY_ZERO (surfaced by the random-corpus fuzzer,
    ``tools/stage_random.py`` seed 2: 11 family queries crashed on a
    corpus with a handful of zero vectors). The check is
    ``exists(v, x -> x != 0)`` — pure comparison, NO summation — so it
    is bit-portable across engines (the earlier concern about
    float-vs-double norm-fold portability does not apply: a sum of
    squares is compared against nothing; each element is).
    """
    return (
        table(spark, sf_dir, "embeddings")
        .filter(F.expr("exists(embedding, x -> x != cast(0 as float))"))
        .select("vec_id", _vec().alias("v"))
    )


def _vec(col: str = "embedding") -> Column:
    """float array → double array (both engines compute in double)."""
    return F.expr(f"transform({col}, x -> cast(x as double))")


def dot_expr(a: str, b: str) -> str:
    """Left-fold dot product — deterministic summation order.

    The ``aggregate(zip_with(...))`` form is the measured-fastest JVM
    shape for this fold: an r15 A/B rejected a fully unrolled
    ``v[0]*w[0]+…`` expression (8× slower, codegen bailout on the giant
    tree) and an r16 A/B rejected an indexed
    ``aggregate(sequence(1, DIM), …, (s, i) -> s + try_element_at(a, i)
    * try_element_at(b, i))`` fold (bit-identical, but 15-35% slower
    warm on a 2M-pair microbench — per-element bounds checks cost more
    than zip_with's one product-array allocation per pair).
    """
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "cast(0.0 as double), (s, x) -> s + x)"
    )


def cosine_expr(a: str, b: str) -> str:
    return (
        f"{dot_expr(a, b)} / "
        f"(sqrt({dot_expr(a, a)}) * sqrt({dot_expr(b, b)}))"
    )


def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(generate_series(1, {DIM}), i -> {a}[i] * {b}[i])), "
        "(s, x) -> s + x)"
    )


def _duck_cos(a: str, b: str) -> str:
    return (
        f"{_duck_dot(a, b)} / "
        f"(sqrt({_duck_dot(a, a)}) * sqrt({_duck_dot(b, b)}))"
    )


def collect_cents(cents: DataFrame) -> DataFrame:
    """Fold a (small) centroid table into ONE row holding the full
    struct array — the broadcast payload of :func:`assign_nearest` /
    :func:`assign_topn`.

    Exposed so a caller that assigns AGAINST THE SAME centroid set more
    than once in one plan (e.g. ``_ivf_topk``: query side + corpus side)
    can fold it once, ``localCheckpoint(eager=False)`` the single row,
    and pass it to each assignment via ``collected=`` — Catalyst does
    not CSE across join branches, so without the shared fold every
    consumer re-scans and re-aggregates the centroid source (r16;
    same play as the r15 shared LSH-branch materialization).
    """
    return cents.agg(F.collect_list(F.struct(*cents.columns)).alias("cents"))


def assign_nearest(
    emb: DataFrame,
    cents: DataFrame,
    dist_order: str,
    carry: tuple[str, ...] = (),
    collected: DataFrame | None = None,
) -> DataFrame:
    """Zero-shuffle nearest-centroid assignment: (vec_id, cell).

    The centroid set (small by construction — k ≪ N) is folded into a
    single-row array via ``collect_list`` and broadcast; each vector then
    computes its argmin with a per-row ``array_min(transform(...))`` over
    struct ordering. The fact side keeps its scan partitioning — no
    Exchange, no Window over N×k rows (the round-2 plan shuffled N×k rows
    on vec_id for a row_number argmax; this one shuffles k centroid rows).

    ``dist_order`` is a SQL expression over (``v``, ``ct.cv``) whose
    MINIMUM wins; ties break on smaller cid via the struct's second field.
    ``carry`` lists extra ``emb`` columns to keep (e.g. the vector itself,
    so a downstream consumer needs no join back on vec_id). EVERY column
    of ``cents`` rides in the broadcast struct, so callers can stash
    precomputed per-centroid values (e.g. norms) and reference them as
    ``ct.<name>`` in ``dist_order``. ``collected`` overrides the fold
    with a caller-shared single-row array (see :func:`collect_cents`).
    """
    cents_one = collect_cents(cents) if collected is None else collected
    return emb.crossJoin(F.broadcast(cents_one)).select(
        "vec_id",
        F.expr(
            f"array_min(transform(cents, ct -> "
            f"named_struct('d', {dist_order}, 'cid', ct.cid))).cid"
        ).alias("cell"),
        *carry,
    )


def assign_topn(
    emb: DataFrame,
    cents: DataFrame,
    dist_order: str,
    n: int,
    carry: tuple[str, ...] = (),
    collected: DataFrame | None = None,
) -> DataFrame:
    """Zero-shuffle top-``n``-nearest-centroid assignment, one row per
    (vec_id, cell) — the multi-probe twin of :func:`assign_nearest`.

    Same broadcast-fold shape: sort the per-row (distance, cid) structs,
    slice the first ``n``, explode. The fact side keeps its scan
    partitioning; output cardinality is n×|emb| with n a small constant
    (nprobe), never |emb|×k.
    """
    cents_one = collect_cents(cents) if collected is None else collected
    return emb.crossJoin(F.broadcast(cents_one)).select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(slice(array_sort(transform(cents, ct -> "
                f"named_struct('d', {dist_order}, 'cid', ct.cid))), 1, {n}), "
                f"s -> s.cid)"
            )
        ).alias("cell"),
        *carry,
    )


def topk_cosine(
    queries: DataFrame, corpus: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    ``queries`` must be small (it is broadcast); the corpus streams
    through one scored pass. Deterministic: ties broken on neighbor id.

    Norms are precomputed ONCE per side (|Q| + N sqrt-folds) instead of
    inside the |Q|·N pair expression — 3× fewer array folds per pair,
    bit-identical result (the same sqrt doubles multiply in the same
    order as the inline form the oracle uses).
    """
    nrm = F.expr(f"sqrt({dot_expr('v', 'v')})")
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        nrm.alias("qn"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), "v", nrm.alias("nn")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.expr(dot_expr("qv", "v")) / (F.col("qn") * F.col("nn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "sim_topk_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_duck_cos('q.v', 'c.v')} AS cos
        FROM e q JOIN e c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cos
    FROM (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the 10-vector query set (ANN baseline)."""
    emb = load_vectors(spark, sf_dir)
    return topk_cosine(emb.filter(F.col("vec_id") < N_QUERIES), emb)


def _plane_row(j: int) -> list[int]:
    """Plane ``j``'s fixed integer weights in [-1000, 1000].

    Derived from md5 so they are reproducible anywhere, then inlined as
    literals into BOTH engines' plans (scaling a plane never changes the
    sign of a dot product, so integer weights lose nothing).
    """
    return [
        int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000
        for d in range(DIM)
    ]


_PLANES = [_plane_row(j) for j in range(max(NBITS, N_TABLES * BITS_PER_TABLE))]


def _plane(j: int) -> list[int]:
    """Plane ``j``, extending the cache on demand — callers that scale
    ``bits`` with corpus size (see :func:`embedding_near_dup_pairs`)
    need more planes than the registered defaults pre-build."""
    while len(_PLANES) <= j:
        _PLANES.append(_plane_row(len(_PLANES)))
    return _PLANES[j]


#: Version stamp for PERSISTED embedding stores: bucket keys are a
#: function of the exact plane vectors and the bits/tables layout, so a
#: store built under different values joins meaninglessly.
#: ``build_embedding_store`` stamps; ``probe_embedding_store`` verifies.
HYPERPLANE_CONSTANTS_VERSION = hashlib.md5(
    repr(
        (DIM, BITS_PER_TABLE, N_TABLES,
         [_plane(j) for j in range(N_TABLES * BITS_PER_TABLE)])
    ).encode()
).hexdigest()
_SIG_SPARK = " + ".join(
    "(CASE WHEN {dot} > 0.0 THEN {bit} ELSE 0 END)".format(
        dot=dot_expr(
            "v", "array({})".format(",".join(f"{w}.0D" for w in _PLANES[j]))
        ),
        bit=1 << j,
    )
    for j in range(NBITS)
)
_SIG_DUCK = " + ".join(
    "(CASE WHEN {dot} > 0.0 THEN {bit} ELSE 0 END)".format(
        dot=_duck_dot("v", "([{}]::DOUBLE[])".format(",".join(map(str, _PLANES[j])))),
        bit=1 << j,
    )
    for j in range(NBITS)
)


@register(
    "sim_ann_hyperplane",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
    sigs AS (SELECT vec_id, CAST({_SIG_DUCK} AS BIGINT) AS sig FROM e)
    SELECT vec_id, sig,
           COUNT(*) OVER (PARTITION BY sig) AS bucket_size
    FROM sigs
    """,
)
def sim_ann_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH signatures: 8 sign bits → 256 buckets.

    Pure per-row expression (planes are plan literals — no join, no
    Python). Bucket sizes come from ``groupBy("sig").count()`` — a
    map-side-combinable aggregate whose result is ≤256 rows — broadcast
    back onto the signature stream. A ``count() OVER (PARTITION BY
    sig)`` window would hash-partition the WHOLE corpus into ≤256
    tasks (a hard parallelism ceiling and a straggler factory on
    skewed buckets); the aggregate keeps the fact side on its scan
    partitioning at any scale. At scale, near-neighbor candidates are
    generated per bucket, Σ bucket² work.
    """
    emb = load_vectors(spark, sf_dir)
    sigs = emb.select("vec_id", F.expr(_SIG_SPARK).cast("bigint").alias("sig"))
    counts = sigs.groupBy("sig").agg(F.count(F.lit(1)).alias("bucket_size"))
    return sigs.join(F.broadcast(counts), "sig").select(
        "vec_id", "sig", "bucket_size"
    )


@register(
    "sim_ivf_search",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % {CENTROID_STRIDE} = 0),
    assign AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_duck_cos('e.v', 'c.cv')} DESC, c.cid) AS rn
            FROM e CROSS JOIN cents c)
        WHERE rn = 1
    ),
    scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               {_duck_cos('qe.v', 'ne.v')} AS cos
        FROM assign q
        JOIN assign n ON n.cell = q.cell AND n.vec_id != q.vec_id
        JOIN e qe ON qe.vec_id = q.vec_id
        JOIN e ne ON ne.vec_id = n.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cos
    FROM (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def sim_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate search, nprobe=1.

    Every vector is assigned to its nearest 'centroid' (a deterministic
    sample stands in for a k-means result — the assignment/search
    plumbing is identical); a query then scores only its own cell. At
    100 TB the cells are physical partitions, so the scan itself is
    pruned — the part brute force can never do.
    """
    return _ivf_topk(spark, sf_dir, nprobe=1)


def _ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int,
    stride: int = CENTROID_STRIDE,
) -> DataFrame:
    """Shared IVF plan: nearest-cell corpus assignment, top-``nprobe``
    cell probing on the (|Q|-bounded) query side, exact cosine inside
    the probed cells, top-3 per query.

    ``nprobe`` multiplies only the QUERY side's row count (|Q|·nprobe
    rows drive the cell join) — the corpus is still assigned once, so
    recall rises with nprobe at a cost linear in probed-cell size, the
    standard IVF quality/latency dial. A (query, neighbor) pair can
    never appear twice: each neighbor lives in exactly one cell and the
    probed cells are distinct.

    ``stride`` is the SCALE knob for the stand-in centroid set (every
    stride-th vec_id): cell count k = n/stride, so holding it constant
    as the corpus grows makes the assignment fold n·k = n²/stride —
    quadratic — and grows the broadcast centroid array ∝ n. A growing
    deployment must scale stride so k tracks its probe budget (k kept
    ∝ per-query candidate target n/k, i.e. stride ∝ candidates; see the
    BASELINE.md IVF A/B). The registered queries pin the oracle's
    ``CENTROID_STRIDE``; callers with a growing corpus pass their own.
    The trained path (``sim_ivf_kmeans``) has no such term — its
    k is fixed by ``KMEANS_K`` regardless of n.
    """
    emb = load_vectors(spark, sf_dir).withColumn(
        "nrm", F.expr(f"sqrt({dot_expr('v', 'v')})")
    )
    cents = emb.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    # Argmax on cosine == argmin on -cosine; ties break on smaller cid
    # (matching the oracle's ORDER BY cos DESC, cid). Carrying v through
    # the assignment means neither side joins back to the corpus to
    # fetch its vector — the cell equi-join is the ONLY join. The query
    # side filters BEFORE assigning: only |Q| vectors fold over the
    # centroids there, never the corpus (assignment is per-row, so
    # assigning a subset yields identical cells). Norms are computed
    # ONCE per vector/centroid and reused across the k-centroid fold and
    # the pair scoring — the dot is the only per-(row, centroid) array
    # fold left, 3× fewer folds than the inline cosine with bit-identical
    # arithmetic (same sqrt doubles, same multiply/divide order as the
    # oracle's inline form).
    dist = f"-({dot_expr('v', 'ct.cv')} / (nrm * ct.cn))"
    # r16: BOTH assignment sides (query and corpus) fold the SAME
    # centroid table; Catalyst does not CSE across the cell join's
    # branches, so the un-shared form re-scanned the corpus and re-ran
    # the collect_list aggregate (+ its Exchange) once per side —
    # plans/r16/sim_ivf_search_before.txt nodes (5)-(12) vs (20)-(27)
    # are byte-identical subtrees. One LAZY localCheckpoint of the
    # single-row fold materializes it inside the consuming action and
    # both broadcasts read the persisted row (guide §2.4; the r15
    # shared-LSH-branch play).
    cents_one = collect_cents(cents).localCheckpoint(eager=False)
    q_src = emb.filter(F.col("vec_id") < N_QUERIES)
    q_assigned = (
        assign_nearest(q_src, cents, dist, carry=("v", "nrm"), collected=cents_one)
        if nprobe == 1
        else assign_topn(
            q_src, cents, dist, nprobe, carry=("v", "nrm"), collected=cents_one
        )
    )
    q = q_assigned.select(
        F.col("vec_id").alias("query_id"),
        "cell",
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    n = assign_nearest(emb, cents, dist, carry=("v", "nrm"), collected=cents_one).select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.col("v").alias("nv"),
        F.col("nrm").alias("nn"),
    )
    scored = (
        F.broadcast(q)
        .join(n, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.expr(dot_expr("qv", "nv")) / (F.col("qn") * F.col("nn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


#: Oracle CTE fragments shared by the nprobe>1 queries: corpus assign
#: (nearest cell) + query assign (top-nprobe cells) + probed-cell scoring.
_IVF_CENTS_ASSIGN = f"""
    cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % {CENTROID_STRIDE} = 0),
    assign AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_duck_cos('e.v', 'c.cv')} DESC, c.cid) AS rn
            FROM e CROSS JOIN cents c)
        WHERE rn = 1
    )"""


def _ivf_scored_sql(nprobe: int) -> str:
    return f"""
    qassign AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_duck_cos('e.v', 'c.cv')} DESC, c.cid) AS rn
            FROM e CROSS JOIN cents c
            WHERE e.vec_id < {N_QUERIES})
        WHERE rn <= {nprobe}
    ),
    ivf_scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               {_duck_cos('qe.v', 'ne.v')} AS cos
        FROM qassign q
        JOIN assign n ON n.cell = q.cell AND n.vec_id != q.vec_id
        JOIN e qe ON qe.vec_id = q.vec_id
        JOIN e ne ON ne.vec_id = n.vec_id
    )"""


@register(
    "sim_ivf_nprobe2",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
    {_IVF_CENTS_ASSIGN},
    {_ivf_scored_sql(2)}
    SELECT query_id, neighbor_id, cos
    FROM (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
          FROM ivf_scored)
    WHERE rn <= 3
    """,
)
def sim_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search probing the query's TOP-2 cells — the recall dial.

    nprobe=1 misses exact neighbors that sit just across a cell
    boundary; probing the second-nearest cell recovers most of them for
    2× the probed volume on the |Q|-bounded query side only (the corpus
    assignment and everything downstream is unchanged). The
    ``sim_ann_recall_nprobe2`` harness pins that recall strictly
    improves on this corpus.
    """
    return _ivf_topk(spark, sf_dir, nprobe=2)


@register(
    "sim_ann_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
    exact_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_duck_cos('q.v', 'c.v')} AS cos
        FROM e q JOIN e c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    exact AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, row_number() OVER
                  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
              FROM exact_scored)
        WHERE rn <= 3
    ),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % {CENTROID_STRIDE} = 0),
    assign AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_duck_cos('e.v', 'c.cv')} DESC, c.cid) AS rn
            FROM e CROSS JOIN cents c)
        WHERE rn = 1
    ),
    ivf_scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               {_duck_cos('qe.v', 'ne.v')} AS cos
        FROM assign q
        JOIN assign n ON n.cell = q.cell AND n.vec_id != q.vec_id
        JOIN e qe ON qe.vec_id = q.vec_id
        JOIN e ne ON ne.vec_id = n.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    ivf AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, row_number() OVER
                  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
              FROM ivf_scored)
        WHERE rn <= 3
    )
    SELECT x.query_id,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / 3 AS recall
    FROM exact x
    LEFT JOIN ivf i ON i.query_id = x.query_id
                   AND i.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """,
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@3 of IVF(nprobe=1) against the
    exact top-3 — the acceptance gate a production ANN index must pass
    before replacing brute force.

    Both inputs are |Q|-bounded (queries are few by construction), so
    the comparison join is broadcast and free; all the heavy lifting is
    in the two underlying plans, which are each scale-audited on their
    own. A real deployment trends this recall as the corpus drifts and
    re-trains centroids when it drops.
    """
    return _ann_recall(spark, sf_dir, nprobe=1)


def _ann_recall(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    emb = load_vectors(spark, sf_dir)
    exact = topk_cosine(emb.filter(F.col("vec_id") < N_QUERIES), emb, k=3).select(
        "query_id", "neighbor_id"
    )
    ivf = _ivf_topk(spark, sf_dir, nprobe).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor_id")
    )
    hit = F.when(F.col("ivf_neighbor_id").isNotNull(), 1).otherwise(0)
    n_hits = F.sum(hit).cast("bigint")
    return (
        exact.join(
            F.broadcast(ivf),
            (exact.query_id == ivf.query_id)
            & (exact.neighbor_id == F.col("ivf_neighbor_id")),
            "left",
        )
        .drop(ivf.query_id)
        .groupBy("query_id")
        .agg(
            n_hits.alias("n_hits"),
            (n_hits.cast("double") / 3).alias("recall"),
        )
    )


@register(
    "sim_ann_recall_nprobe2",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
    exact_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_duck_cos('q.v', 'c.v')} AS cos
        FROM e q JOIN e c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    exact AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, row_number() OVER
                  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
              FROM exact_scored)
        WHERE rn <= 3
    ),
    {_IVF_CENTS_ASSIGN},
    {_ivf_scored_sql(2)},
    ivf AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, row_number() OVER
                  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
              FROM ivf_scored)
        WHERE rn <= 3
    )
    SELECT x.query_id,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / 3 AS recall
    FROM exact x
    LEFT JOIN ivf i ON i.query_id = x.query_id
                   AND i.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """,
)
def sim_ann_recall_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of IVF with nprobe=2 — paired with ``sim_ann_recall``
    (nprobe=1) this is the quality/latency trade made measurable; a
    pytest pins that total recall strictly improves on this corpus."""
    return _ann_recall(spark, sf_dir, nprobe=2)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection (dedup-family operator)
# ---------------------------------------------------------------------------

def _table_sig(engine: str, t: int, bits: int = BITS_PER_TABLE) -> str:
    """``bits``-bit signature of hash table ``t`` (plane j = t·bits+r)."""
    terms = []
    for r in range(bits):
        j = t * bits + r
        plane = _plane(j)
        if engine == "spark":
            dot = dot_expr(
                "v", "array({})".format(",".join(f"{w}.0D" for w in plane))
            )
        else:
            dot = _duck_dot(
                "v", "([{}]::DOUBLE[])".format(",".join(map(str, plane)))
            )
        terms.append(f"(CASE WHEN {dot} > 0.0 THEN {1 << r} ELSE 0 END)")
    return " + ".join(terms)


_DUCK_TABLE_SIGS = "\n        UNION ALL ".join(
    f"SELECT vec_id, {t} AS t, CAST({_table_sig('duck', t)} AS BIGINT) AS sig FROM e"
    for t in range(N_TABLES)
)


def embedding_signatures(
    emb: DataFrame, bits: int = BITS_PER_TABLE, tables: int = N_TABLES
) -> DataFrame:
    """(vec_id, t, sig): one signature row per vector per hash table.

    The per-row explode of ``tables`` struct literals keeps signature
    computation a single JVM projection (no shuffle); this is also the
    storable form the embedding store materializes. ``bits`` is the
    occupancy knob: at corpus size n, b ≈ log2(n/β) holds expected
    bucket occupancy at β and keeps Σ bucket² candidate work ~n·β —
    linear in n (measured in BASELINE.md's 10× scaling section); the
    registered sf-corpus queries pin b = ``BITS_PER_TABLE``.
    """
    return emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        F.expr(_table_sig("spark", t, bits))
                        .cast("bigint")
                        .alias("sig"),
                    )
                    for t in range(tables)
                ]
            )
        ).alias("x"),
    ).select("vec_id", "x.t", "x.sig")


def _probe_masks(bits: int, radius: int) -> list[int]:
    """All XOR masks of popcount <= radius over ``bits`` positions, in
    (popcount, bit-position) order — Σ_{k<=r} C(bits, k) masks."""
    return [
        sum(1 << p for p in pos)
        for k in range(radius + 1)
        for pos in combinations(range(bits), k)
    ]


def embedding_probe_signatures(
    emb: DataFrame,
    bits: int = BITS_PER_TABLE,
    tables: int = N_TABLES,
    radius: int = PROBE_RADIUS,
) -> DataFrame:
    """(vec_id, t, sig): each vector's bucket keys EXPANDED to its
    hamming<=``radius`` probe set (the bucket itself plus every
    <=radius-bit-flip neighbor — Σ_{k<=r} C(bits, k) rows per table;
    1 + BITS_PER_TABLE at the registered defaults).

    Probe-side multiprobe: the stored/base signature side stays one row
    per (vector, table) — only the probing side fans out, so the
    candidate join is still a bucket-equi-join (Σ probe·base per
    bucket, never n²) and stored signature tables (the embedding
    store) need no rebuild. A hamming-1 pair (a, b) is always found
    from the probing side alone: flipping a's differing bit lands
    exactly on b's bucket.
    """
    masks = F.array(*[F.lit(m) for m in _probe_masks(bits, radius)])
    return (
        embedding_signatures(emb, bits, tables)
        .select("vec_id", "t", "sig", F.explode(masks).alias("m"))
        .select("vec_id", "t", F.expr("sig ^ m").alias("sig"))
    )


def embedding_setbit_probe_signatures(
    emb: DataFrame,
    bits: int = BITS_PER_TABLE,
    tables: int = N_TABLES,
) -> DataFrame:
    """(vec_id, t, sig, self_probe): the SELF-JOIN radius-1 probe set —
    each vector probes its own bucket plus only the neighbors reached
    by flipping a SET bit down (1 + popcount(sig) rows instead of the
    full 1 + bits).

    Why this loses nothing *for a self-join*: a hamming-1 pair differs
    in exactly one bit j, which is SET in exactly one of the two
    vectors — and that vector's j-flip lands precisely on the other's
    bucket. So flipping only set bits still reaches every hamming<=1
    pair, from exactly one side (the pair inequality moves into the
    join condition: ``self_probe`` rows keep ``a.vec_id < b.vec_id``;
    flip rows are inherently one-directional). The candidate SET is
    identical to full radius-1 — pinned by
    ``test_setbit_probes_equal_full_radius_one`` and the unchanged
    hamming<=1 oracle contract — at an expected (1 + bits/2) /
    (1 + bits) ≈ 4/7 of the probe rows at the registered b=6
    (round-9 A/B in BASELINE.md). It does NOT apply to the
    asymmetric store probe (``probe_embedding_store``): there only the
    delta side probes, so when the differing bit is set on the STORED
    side nothing would reach it — that path keeps full radius-1 (or
    the directed knob).
    """
    return _setbit_probe_from_sigs(embedding_signatures(emb, bits, tables), bits)


def _setbit_probe_from_sigs(sigs: DataFrame, bits: int) -> DataFrame:
    """Set-bit probe rows derived from an EXISTING (vec_id, t, sig)
    table — the probe-row expansion of
    :func:`embedding_setbit_probe_signatures` without re-deriving the
    signatures, so a caller that already holds (or materialized) the
    signature table pays only the explode."""
    # Explode the STATIC mask array (a codegen generator over a
    # literal), then drop unset-bit rows with a vectorized filter —
    # building a per-row mask array (filter(transform(sequence(...))))
    # measured ~10% slower end-to-end than this explode-then-filter.
    masks = F.array(*[F.lit(m) for m in _probe_masks(bits, 1)])
    return (
        sigs.select("vec_id", "t", "sig", F.explode(masks).alias("m"))
        .filter(F.expr("m = 0 OR (sig & m) != 0"))
        .select(
            "vec_id",
            "t",
            F.expr("sig ^ m").alias("sig"),
            (F.col("m") == 0).alias("self_probe"),
        )
    )


def embedding_candidate_pairs(
    emb: DataFrame,
    bits: int = BITS_PER_TABLE,
    tables: int = N_TABLES,
    radius: int = PROBE_RADIUS,
) -> DataFrame:
    """(vec_a, vec_b) distinct hamming<=``radius`` bucket-collision
    candidates over a SELF-JOINED corpus — the shared candidate stage
    of every pair-dedup consumer (``dedup_embedding_cosine``,
    ``sim_threshold_profile``, and their downstream CC pipelines).

    At the registered ``radius=1`` this uses the set-bit probe
    (:func:`embedding_setbit_probe_signatures` — same candidate set,
    ~4/7 the probe rows); other radii keep the generic mask expansion.
    """
    # r15: the signature table feeds BOTH join sides (base buckets and
    # probe rows). A LAZY localCheckpoint materializes the 12-dot-
    # product-per-row hyperplane projection ONCE inside the consuming
    # action instead of once per side — measured 2.04 s → 1.52 s on
    # the cosine-dedup composition at sf0.1, identical pairs. (The
    # signature table is (vec_id, t, sig) longs — rows = n·tables,
    # independent of vector dimension, so the persisted footprint is
    # negligible next to the corpus at any scale.)
    sigs = embedding_signatures(emb, bits, tables).localCheckpoint(eager=False)
    base = sigs.alias("b")
    if radius == 1:
        a = _setbit_probe_from_sigs(sigs, bits).alias("a")
        cond = (
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (~F.col("a.self_probe") | (F.col("a.vec_id") < F.col("b.vec_id")))
        )
        pairs = a.join(base, cond).select(
            F.least("a.vec_id", "b.vec_id").alias("vec_a"),
            F.greatest("a.vec_id", "b.vec_id").alias("vec_b"),
        )
        # A flip row can't match its own base row (sig^bit != sig), so
        # no (x, x) self-pair is ever emitted; least/greatest
        # canonicalizes the flip rows that land with a.vec_id > b.
        return _spread_pairs(pairs.distinct())
    a = embedding_probe_signatures(emb, bits, tables, radius).alias("a")
    return _spread_pairs(
        a.join(
            base,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )


def _spread_pairs(pairs: DataFrame) -> DataFrame:
    """Round-robin the candidate-pair table across the session's full
    parallelism (r15). The pair table is BYTE-tiny (two longs per row)
    but each row downstream costs a ``DIM``-element exact cosine —
    AQE's byte-based partition coalescing cannot see that weight, so
    it merged the post-distinct stage to ~1 partition and the entire
    verify stage ran effectively single-threaded (measured at sf0.1:
    the cosine-dedup verify dropped 1.68 s → 1.05 s with this spread,
    identical output). An explicit keyless ``repartition(n)`` is a
    user-specified exchange, which AQE never re-coalesces; its cost is
    one shuffle of bare key pairs — noise next to the per-pair vector
    math it parallelizes, at any scale. ``n`` tracks
    ``defaultParallelism`` (cluster-adaptive), never a constant."""
    n = pairs.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(n)


def embedding_directed_probe_signatures(
    emb: DataFrame,
    probes: int,
    bits: int = BITS_PER_TABLE,
    tables: int = N_TABLES,
) -> DataFrame:
    """(vec_id, t, sig): QUERY-DIRECTED multiprobe — each vector probes
    its own bucket plus only the ``probes`` 1-bit-flip neighbors whose
    hyperplane margins are smallest (Lv et al., VLDB'07: probe buckets
    in order of boundary distance, not exhaustively).

    A hamming-1 pair differs exactly on a plane that separates the two
    vectors, and the probability a θ-pair straddles plane j falls as
    its margin |⟨v, h_j⟩| grows — so flipping the low-margin bits first
    buys most of radius-1 recall at (1 + probes)/(1 + bits) of the
    probe rows: the knob between ``radius=0`` and full radius-1 when
    the probe side's fan-out is the cost driver (e.g. probing a very
    large stored signature table). ``probes=bits`` IS radius-1
    multiprobe (equivalence pinned by
    ``test_directed_probes_equivalences``).

    All-JVM single projection per table: one dot array feeds both the
    signature bits (same ``dot > 0.0`` predicate as
    :func:`embedding_signatures`, so buckets agree bit-for-bit) and
    the margin ranking (``array_sort`` on (|dot|, bit) structs —
    deterministic tie-break on bit index).
    """
    if not 0 <= probes <= bits:
        raise ValueError(f"probes must be in [0, {bits}], got {probes}")
    per_table = []
    for t in range(tables):
        dots = "array({})".format(
            ",".join(
                dot_expr(
                    "v",
                    "array({})".format(
                        ",".join(f"{w}.0D" for w in _plane(t * bits + r))
                    ),
                )
                for r in range(bits)
            )
        )
        per_table.append(
            f"""named_struct(
                't', {t},
                'sig', aggregate(
                    zip_with({dots}, sequence(0, {bits - 1}),
                             (d, r) -> CASE WHEN d > 0.0D
                                       THEN shiftleft(1L, r) ELSE 0L END),
                    0L, (s, x) -> s + x),
                'masks', transform(
                    slice(array_sort(
                        zip_with({dots}, sequence(0, {bits - 1}),
                                 (d, r) -> named_struct('m', abs(d), 'r', r))
                    ), 1, {probes}),
                    x -> shiftleft(1L, x.r)))"""
        )
    all_tables = "array({})".format(",".join(per_table))
    return (
        emb.select("vec_id", F.explode(F.expr(all_tables)).alias("x"))
        .select(
            "vec_id",
            "x.t",
            "x.sig",
            F.explode(
                F.concat(F.array(F.lit(0).cast("long")), F.col("x.masks"))
            ).alias("m"),
        )
        .select("vec_id", "t", F.expr("sig ^ m").alias("sig"))
    )


#: Shared oracle candidate CTE: hamming<=1 bucket collision in any
#: table (the multiprobe contract; DuckDB brute-forces the hamming
#: predicate — the oracle states WHAT, the engine's probe-explode
#: equi-join is the HOW).
_DUCK_CAND_MULTIPROBE = """cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM sigs a
        JOIN sigs b ON a.t = b.t
                   AND bit_count(xor(a.sig, b.sig)) <= 1
                   AND a.vec_id < b.vec_id
    )"""


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
    sigs AS (
        {_DUCK_TABLE_SIGS}
    ),
    {_DUCK_CAND_MULTIPROBE}
    SELECT c.vec_a, c.vec_b, {_duck_cos('ea.v', 'eb.v')} AS cos
    FROM cand c
    JOIN e ea ON ea.vec_id = c.vec_a
    JOIN e eb ON eb.vec_id = c.vec_b
    WHERE {_duck_cos('ea.v', 'eb.v')} >= {COS_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table LSH with
    probe-side MULTIPROBE (hamming<=1 bucket probes).

    Independent 6-bit hyperplane tables bucket the corpus; each vector
    probes its own bucket plus every 1-bit-flip neighbor
    (:func:`embedding_probe_signatures` — see the ``PROBE_RADIUS``
    comment for the measured recall gain and the Lv et al. multi-probe
    reference), then exact cosine confirms pairs above the threshold.
    The scale contract matches MinHash-LSH: Σ probe·bucket candidate
    work via a bucket equi-join, never n² — and multiprobe buys its
    recall with probe rows instead of extra stored tables (the
    SET-BIT probe: 1 + popcount(sig) ≈ 4 rows per (vector, table) for
    the identical hamming<=1 candidate set full radius-1's 7 rows
    reach — :func:`embedding_setbit_probe_signatures`), which is what
    makes it viable against a materialized signature store at 100 TB.
    This is the dedup-family twin of the text-shingle pipeline for
    modalities that live in embedding space (image/audio near-dups in
    an LLM data pipeline).
    """
    emb = load_vectors(spark, sf_dir)
    return embedding_near_dup_pairs(emb)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = COS_DUP_THRESHOLD,
    bits: int = BITS_PER_TABLE,
    tables: int = N_TABLES,
    radius: int = PROBE_RADIUS,
) -> DataFrame:
    """The multiprobe-LSH near-dup pipeline over ``emb(vec_id, v)``,
    with every scale knob exposed: :func:`dedup_embedding_cosine` calls
    it at the registered sf-corpus defaults; a 100-TB deployment raises
    ``bits`` with corpus size (b ≈ log2(n/β) for target bucket
    occupancy β keeps candidate work ~n·β, i.e. linear — see
    ``tools/scale_bench.py``'s fixed-bits vs scaled-bits A/B and the
    BASELINE.md 10× section for the measured curve).
    """
    cand = embedding_candidate_pairs(emb, bits, tables, radius)
    # The candidate table (LSH output) joins against the corpus twice to
    # fetch both vectors — the corpus side is never shuffled for
    # verification when AQE broadcasts the pair side (same un-hinted
    # joins as dedup.jaccard_verified: a dup-heavy pair set that rivals
    # the corpus falls back to a shuffle join on vec_id, not an executor
    # OOM). Norms ride along (one sqrt-fold per vector, not per pair);
    # bit-identical to the oracle's inline form.
    nrm = F.expr(f"sqrt({dot_expr('v', 'v')})")
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), nrm.alias("na")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), nrm.alias("nb")
    )
    with_a = ea.join(cand, "vec_a")
    return (
        eb.join(with_a, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (F.expr(dot_expr("va", "vb")) / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# Iterative algorithm: k-means (driver-looped plan construction)
# ---------------------------------------------------------------------------

KMEANS_K = 4
KMEANS_ITERS = 2
KMEANS_SCALE = 1_000_000  # integer-cents scale for associative mean sums


def _sqdist_expr(a: str, b: str) -> str:
    """Sequential-fold squared L2 distance (deterministic sum order)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (s, x) -> s + x)"
    )


def kmeans_iterate(emb: DataFrame, k: int, iters: int) -> tuple[DataFrame, DataFrame]:
    """K-means on (vec_id, v): ``iters`` rounds of assign + update.

    The loop runs on the DRIVER and builds one lazy plan — each
    iteration appends an assign (broadcast centroid array, per-row
    ``array_min`` argmin — zero shuffle on the fact side) and an update
    (per-dimension mean) to the DAG; nothing executes until the caller
    acts. Determinism: centroid means use integer
    'cents' numerators (associative — partition order can't change the
    sum) divided back to double, and arrays are rebuilt in dimension
    order, so every engine computes bit-identical centroids.

    Returns (assignment, centroids) after the final iteration.

    r15 plan-size optimization: the centroid table is
    ``localCheckpoint``-ed between rounds (k rows of one array — the
    materialization job is trivial). Without it every consumer branch
    that references the final assignment or centroids re-plans the
    ENTIRE previous round's chain per reference — sim_kmeans's
    counts+centroids join re-ran both rounds twice (6 corpus scans, 32
    exchanges in the executed plan); with the k-row checkpoint each
    branch starts from the materialized centroids and re-runs only the
    final assignment (2 corpus scans). Centroid VALUES are unchanged —
    same computation, materialized — so assignments and the oracle
    rows are bit-identical.

    Durability (deliberate tradeoff, ARCHITECTURE.md "localCheckpoint
    durability"): the k-row inter-round centroid checkpoints are
    EXECUTOR-LOCAL — an executor loss deletes them with no recompute
    path, and the recovery unit is restart-the-query (a fixed, small
    round count whose inputs re-derive from parquet). Hour-scale
    deployments swap in reliable ``checkpoint()`` here.
    """
    cents_df = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    assign = None
    for it in range(iters):
        # Carry v through the assignment: the mean update then needs no
        # join back to emb on vec_id (one N-row shuffle saved per round).
        assign = assign_nearest(emb, cents_df, _sqdist_expr("v", "ct.cv"), carry=("v",))
        per_dim = (
            assign
            .select("cell", F.posexplode("v").alias("d0", "x"))
            .groupBy("cell", "d0")
            .agg(
                (
                    F.sum(F.round(F.col("x") * KMEANS_SCALE).cast("long")).cast("double")
                    / F.lit(float(KMEANS_SCALE))
                    / F.count(F.lit(1))
                ).alias("val"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        cents_df = (
            per_dim.groupBy(F.col("cell").alias("cid"))
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(d0, val))), s -> s.val)"
                ).alias("cv"),
                # members-per-cell, read off the d0=0 row: load_vectors
                # only admits non-empty vectors, so every assigned row
                # contributes dimension 0 and this equals the
                # assignment count exactly (avoids a second full
                # assignment chain just to count members).
                F.max(F.when(F.col("d0") == 0, F.col("n"))).alias("n_members"),
            )
        )
        if it < iters - 1:
            # LAZY checkpoint: materializes inside the consumer's first
            # action (no separate build-time job barrier — an eager
            # checkpoint here measurably COST bench time by serializing
            # work that previously overlapped on idle cores), and every
            # other branch of the same or later action reuses the
            # persisted k rows instead of re-running the round's chain.
            cents_df = cents_df.localCheckpoint(eager=False)
    return assign, cents_df


#: Shared k-means oracle CTE chain (2 unrolled rounds): e, c0, a1,
#: c1, a2 (final assignment), c2 (final centroids). Reused by
#: sim_kmeans and the kmeans-backed IVF search.
_KMEANS_CTES = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {KMEANS_K}),
    a1 AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_reduce(list_prepend(0.0::DOUBLE,
                           list_transform(generate_series(1, {DIM}),
                               i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))),
                           (s, x) -> s + x) ASC, c.cid) AS rn
            FROM e CROSS JOIN c0 c) WHERE rn = 1
    ),
    c1 AS (
        SELECT cid, list(val ORDER BY d) AS cv FROM (
            SELECT x.cell AS cid, g.d,
                   CAST(SUM(TRY_CAST(round(e.v[g.d] * {KMEANS_SCALE}) AS BIGINT)) AS DOUBLE)
                       / {KMEANS_SCALE}.0 / COUNT(*) AS val
            FROM a1 x JOIN e ON e.vec_id = x.vec_id
            CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS d) g
            GROUP BY x.cell, g.d)
        GROUP BY cid
    ),
    a2 AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_reduce(list_prepend(0.0::DOUBLE,
                           list_transform(generate_series(1, {DIM}),
                               i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))),
                           (s, x) -> s + x) ASC, c.cid) AS rn
            FROM e CROSS JOIN c1 c) WHERE rn = 1
    ),
    c2 AS (
        SELECT cid, list(val ORDER BY d) AS cv FROM (
            SELECT x.cell AS cid, g.d,
                   CAST(SUM(TRY_CAST(round(e.v[g.d] * {KMEANS_SCALE}) AS BIGINT)) AS DOUBLE)
                       / {KMEANS_SCALE}.0 / COUNT(*) AS val
            FROM a2 x JOIN e ON e.vec_id = x.vec_id
            CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS d) g
            GROUP BY x.cell, g.d)
        GROUP BY cid
    )"""


@register(
    "sim_kmeans",
    oracle=f"""
    {_KMEANS_CTES}
    SELECT c2.cid AS cluster, n.n AS n_members,
           c2.cv[1] AS c_first, c2.cv[{DIM}] AS c_last
    FROM c2
    JOIN (SELECT cell, count(*) AS n FROM a2 GROUP BY cell) n ON n.cell = c2.cid
    """,
)
def sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=4, 2 iterations): the iterative-algorithm surface.

    The reference (and SQL) cannot express iteration; here the driver
    loop composes one lazy plan per round — the idiomatic Spark shape
    for bounded iterative refinement (the unbounded version would
    localCheckpoint per round to truncate lineage). The oracle unrolls
    the same two rounds as CTEs, and the integer-numerator means make
    both engines' centroids bit-identical.
    """
    emb = load_vectors(spark, sf_dir)
    _assign, cents_df = kmeans_iterate(emb, KMEANS_K, KMEANS_ITERS)
    # r15: member counts ride the centroid aggregate (kmeans_iterate
    # counts the d0=0 rows per cell — exactly one per assigned vector),
    # so the old counts-join re-ran the whole final-assignment chain a
    # SECOND time just to count rows. One chain, same rows: plan went
    # 32 exchanges / 6 corpus scans → half that, output bit-identical.
    return cents_df.select(
        F.col("cid").alias("cluster"),
        "n_members",
        F.element_at("cv", 1).alias("c_first"),
        F.element_at("cv", DIM).alias("c_last"),
    )


# ---------------------------------------------------------------------------
# Embedding compression: per-vector symmetric int8 quantization
# ---------------------------------------------------------------------------

QUANT_LEVELS = 127  # symmetric int8 range [-127, 127]


@register(
    "sim_embed_quantize",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
    scaled AS (
        SELECT vec_id, v,
               CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0.0
                    THEN 0.0
                    ELSE {QUANT_LEVELS}.0
                         / list_max(list_transform(v, x -> abs(x)))
               END AS scale
        FROM e
    )
    SELECT vec_id, scale,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, {DIM}),
                   i -> TRY_CAST(round(v[i] * scale) AS BIGINT) * i)),
               (s, x) -> s + x) AS checksum,
           CAST(len(list_filter(v,
               x -> abs(TRY_CAST(round(x * scale) AS BIGINT)) = {QUANT_LEVELS}))
               AS BIGINT) AS n_sat
    FROM scaled
    """,
)
def sim_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization — the memory-side half of
    ANN at 100 TB (4× smaller vectors ⇒ 4× more corpus per executor;
    IVF cell scans score int8 with one rescale).

    Pure per-row JVM expressions: scale = 127/max|x|, q_i = round(x_i ·
    scale). The oracle compares an order-weighted integer CHECKSUM of
    the quantized vector plus the saturation count — integer-exact
    across engines, so any rounding drift in any dimension fails the
    row. The dequantization error bound (≤ 0.5/scale per dimension) is
    pinned by a pytest rather than the oracle (it is a property, not a
    value).
    """
    emb = load_vectors(spark, sf_dir)
    mx = "array_max(transform(v, x -> abs(x)))"
    scaled = emb.withColumn(
        "scale",
        F.expr(
            f"CASE WHEN {mx} = 0.0D THEN 0.0D "
            f"ELSE {QUANT_LEVELS}.0D / {mx} END"
        ),
    )
    return scaled.select(
        "vec_id",
        "scale",
        F.expr(
            f"aggregate(zip_with(transform(v, x -> try_cast(round(x * scale) as bigint)), "
            f"sequence(1L, {DIM}L), (q, i) -> q * i), "
            "cast(0 as bigint), (s, x) -> s + x)"
        ).alias("checksum"),
        F.expr(
            f"cast(size(filter(v, x -> "
            f"abs(try_cast(round(x * scale) as bigint)) = {QUANT_LEVELS})) as bigint)"
        ).alias("n_sat"),
    )


# ---------------------------------------------------------------------------
# Materialized embedding store — incremental vector-dedup ingest shape
# ---------------------------------------------------------------------------


def build_embedding_store(emb: DataFrame, store_path: str) -> None:
    """Materialize a vector corpus's LSH state as two parquet tables.

    ``{store_path}/sigs``    — (vec_id, t, sig): hyperplane bucket keys
    new batches probe against.
    ``{store_path}/vectors`` — (vec_id, v, nrm): the vectors with their
    norms PRECOMPUTED, so probe-time verification never re-folds a
    stored vector's norm.

    The vector twin of ``dedup.build_signature_store``: at 100 TB the
    curated corpus is hashed once, each ingest batch probes the stored
    buckets, and survivors append their own rows — append-only, nothing
    rewritten. Writes repartition on vec_id for co-hashed probe joins.

    The store is stamped with :data:`HYPERPLANE_CONSTANTS_VERSION`
    (bucket keys are a function of the exact plane vectors and the
    bits/tables layout); probes refuse a mismatched or missing stamp.
    """
    from spark_etl_pipeline_spark.operators.store_meta import write_store_stamp

    emb = emb.select("vec_id", "v")
    embedding_signatures(emb).repartition("vec_id").write.mode(
        "overwrite"
    ).parquet(f"{store_path}/sigs")
    emb.withColumn("nrm", F.expr(f"sqrt({dot_expr('v', 'v')})")).repartition(
        "vec_id"
    ).write.mode("overwrite").parquet(f"{store_path}/vectors")
    write_store_stamp(
        emb.sparkSession, store_path, "hyperplane", HYPERPLANE_CONSTANTS_VERSION
    )


def probe_embedding_store(
    spark: SparkSession,
    store_path: str,
    delta_emb: DataFrame,
    probes: int | None = None,
) -> DataFrame:
    """Near-dup pairs touching the DELTA batch, against a stored corpus.

    Emits (vec_a, vec_b, cos) for every pair with cosine ≥ threshold
    where at least one side is in the delta — delta×base pairs come
    from MULTIPROBING the stored signature table on (t, sig) (the
    delta side carries its hamming<=1 probe set,
    :func:`embedding_probe_signatures`; the STORED side stays one row
    per bucket, which is why multiprobe composes with an append-only
    store: recall rises with zero store rebuild), delta×delta pairs
    from the in-batch probe self-join. The stored side is never
    re-hashed and its norms are read back, so per-batch work is
    Σ_bucket |delta probes ∩ bucket| × |bucket|, exactly the
    incremental-text contract (:func:`dedup.probe_signature_store`)
    in embedding space.

    ``probes`` (default None = full radius-1) switches the delta side
    to QUERY-DIRECTED probing
    (:func:`embedding_directed_probe_signatures`): only the ``probes``
    lowest-margin bit flips are probed — the knob for when the stored
    corpus is so large that candidate volume, not recall, is the
    binding constraint. Two distinct recall metrics are measured, don't
    conflate them: on PLANTED true dups (high cosine, so the margin
    heuristic has signal) 2 directed probes keep ~0.9 of full radius-1
    true-pair recall at ~3/7 of the probe rows
    (``test_directed_probes_concentrate_recall_on_true_pairs``); on
    the full hamming<=1 CONTRACT pair set (dominated by
    near-threshold pairs, where margins carry less signal) p=2 keeps
    only ~0.58–0.64 (round-9 A/B, BASELINE.md) — and the budget must
    scale with ``bits`` (p=4 recall falls 0.87→0.64 going b=6→b=10).

    Refuses a store stamped under different hyperplane constants (or
    an unstamped one) — bucket keys from a different plane set join
    meaninglessly, returning silent garbage rather than an error.
    """
    from spark_etl_pipeline_spark.operators.store_meta import check_store_stamp

    check_store_stamp(
        spark, store_path, "hyperplane", HYPERPLANE_CONSTANTS_VERSION
    )
    base_sigs = spark.read.parquet(f"{store_path}/sigs")
    base_vecs = spark.read.parquet(f"{store_path}/vectors")

    delta_emb = delta_emb.select("vec_id", "v")
    delta_probes = (
        embedding_probe_signatures(delta_emb)
        if probes is None
        else embedding_directed_probe_signatures(delta_emb, probes)
    )
    delta_vecs = delta_emb.withColumn(
        "nrm", F.expr(f"sqrt({dot_expr('v', 'v')})")
    )

    cand_base = (
        delta_probes.alias("d")
        .join(base_sigs.alias("b"), ["t", "sig"])
        .select(
            F.least("d.vec_id", "b.vec_id").alias("vec_a"),
            F.greatest("d.vec_id", "b.vec_id").alias("vec_b"),
        )
    )
    d1 = delta_probes.alias("d1")
    d2 = embedding_signatures(delta_emb).alias("d2")
    cand_delta = (
        d1.join(
            d2,
            (F.col("d1.t") == F.col("d2.t"))
            & (F.col("d1.sig") == F.col("d2.sig"))
            & (F.col("d1.vec_id") < F.col("d2.vec_id")),
        )
        .select(
            F.col("d1.vec_id").alias("vec_a"), F.col("d2.vec_id").alias("vec_b")
        )
    )
    cand = cand_base.union(cand_delta).distinct()

    vecs = base_vecs.unionByName(delta_vecs)
    ea = vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    eb = vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    with_a = ea.join(cand, "vec_a")
    return (
        eb.join(with_a, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (F.expr(dot_expr("va", "vb")) / (F.col("na") * F.col("nb"))).alias(
                "cos"
            ),
        )
        .filter(F.col("cos") >= COS_DUP_THRESHOLD)
    )


@register(
    "sim_embedding_store",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
    sigs AS (
        {_DUCK_TABLE_SIGS}
    ),
    {_DUCK_CAND_MULTIPROBE}
    SELECT c.vec_a, c.vec_b, {_duck_cos('ea.v', 'eb.v')} AS cos
    FROM cand c
    JOIN e ea ON ea.vec_id = c.vec_a
    JOIN e eb ON eb.vec_id = c.vec_b
    WHERE {_duck_cos('ea.v', 'eb.v')} >= {COS_DUP_THRESHOLD}
      AND (c.vec_a % 4 = 3 OR c.vec_b % 4 = 3)
    """,
)
def sim_embedding_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-backed incremental embedding dedup: build the BASE corpus's
    signature/vector store on disk, probe it with the DELTA batch
    (``vec_id % 4 = 3``).

    The oracle is the full-corpus pipeline restricted to pairs touching
    the delta — bucketing is per-vector, so probing stored signatures
    finds exactly the delta-touching subset of the full candidate set.
    Equality of the two proves the materialized ingest shape loses
    nothing (the embedding twin of ``docs_dedup_store``).
    """
    import tempfile

    emb = load_vectors(spark, sf_dir)
    is_delta = F.col("vec_id") % 4 == 3
    store = tempfile.mkdtemp(prefix="spark_etl_embstore_")
    build_embedding_store(emb.filter(~is_delta), store)
    return probe_embedding_store(spark, store, emb.filter(is_delta))


@register(
    "sim_ivf_kmeans",
    oracle=f"""
    {_KMEANS_CTES},
    q AS (SELECT vec_id AS query_id, cell FROM a2 WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               {_duck_cos('eq.v', 'en.v')} AS cos
        FROM q
        JOIN a2 n ON n.cell = q.cell AND n.vec_id <> q.query_id
        JOIN e eq ON eq.vec_id = q.query_id
        JOIN e en ON en.vec_id = n.vec_id
    )
    SELECT query_id, neighbor_id, cos
    FROM (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over TRAINED k-means cells — the production ANN shape
    (``sim_ivf_search`` uses a deterministic centroid sample; this one
    uses the bit-exact 2-round k-means partition from
    :func:`kmeans_iterate`, so cells reflect the data distribution).

    The final k-means assignment IS the inverted index: both the query
    side (filtered to |Q| rows) and the corpus side come from the same
    assignment table, so search adds ONE cell equi-join + per-pair
    cosine + per-query top-3 — no new assignment pass, and probed-cell
    sizes track real cluster populations. Offline, the assignment and
    centroid tables persist exactly like the embedding store
    (build-once, probe-per-batch).
    """
    emb = load_vectors(spark, sf_dir)
    assign, _cents = kmeans_iterate(emb, KMEANS_K, KMEANS_ITERS)
    nrm = F.expr(f"sqrt({dot_expr('v', 'v')})")
    q = assign.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        "cell",
        F.col("v").alias("qv"),
        nrm.alias("qn"),
    )
    n = assign.select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.col("v").alias("nv"),
        nrm.alias("nn"),
    )
    scored = (
        F.broadcast(q)
        .join(n, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.expr(dot_expr("qv", "nv")) / (F.col("qn") * F.col("nn"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# IVF + int8 candidate scoring + exact rerank (the full production ANN
# read path: coarse quantizer -> compressed-domain scan -> exact top-k)
# ---------------------------------------------------------------------------

RERANK_CANDIDATES = 10  # int8-scored shortlist per query
RERANK_TOP_K = 3


def _duck_idot(a: str, b: str) -> str:
    """Exact INTEGER dot product, DuckDB flavor."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(1, {DIM}), i -> {a}[i] * {b}[i])), "
        "(s, x) -> s + x)"
    )


_SCALE_DUCK = (
    "CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0.0 THEN 0.0 "
    f"ELSE {QUANT_LEVELS}.0 / list_max(list_transform(v, x -> abs(x))) END"
)


@register(
    "sim_ivf_quantized_rerank",
    oracle=f"""
    {_KMEANS_CTES},
    qz AS (
        SELECT vec_id, v,
               list_transform(v, x -> TRY_CAST(round(x * ({_SCALE_DUCK})) AS BIGINT))
                   AS q
        FROM e
    ),
    qn AS (SELECT vec_id, v, q, {_duck_idot('q', 'q')} AS qq FROM qz),
    qside AS (
        SELECT a2.vec_id AS query_id, a2.cell, qn.q, qn.qq, qn.v
        FROM a2 JOIN qn ON qn.vec_id = a2.vec_id
        WHERE a2.vec_id < {N_QUERIES}
    ),
    nside AS (
        SELECT a2.vec_id AS neighbor_id, a2.cell, qn.q, qn.qq, qn.v
        FROM a2 JOIN qn ON qn.vec_id = a2.vec_id
    ),
    approx AS (
        SELECT qside.query_id, nside.neighbor_id, qside.v AS vq, nside.v AS vn,
               CAST({_duck_idot('qside.q', 'nside.q')} AS DOUBLE)
                   / (sqrt(CAST(qside.qq AS DOUBLE))
                      * sqrt(CAST(nside.qq AS DOUBLE))) AS approx_cos
        FROM qside
        JOIN nside ON nside.cell = qside.cell
                  AND nside.neighbor_id <> qside.query_id
        WHERE qside.qq > 0 AND nside.qq > 0
    ),
    shortlist AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY approx_cos DESC, neighbor_id) AS rn
            FROM approx)
        WHERE rn <= {RERANK_CANDIDATES}
    ),
    reranked AS (
        SELECT query_id, neighbor_id, approx_cos,
               {_duck_cos('vq', 'vn')} AS cos
        FROM shortlist
    )
    SELECT query_id, neighbor_id, approx_cos, cos
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id) AS rn2
          FROM reranked)
    WHERE rn2 <= {RERANK_TOP_K}
    """,
)
def sim_ivf_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production ANN read path in one plan: k-means coarse
    quantizer (cells = inverted lists), candidate scan scored in the
    COMPRESSED int8 domain, exact-cosine rerank of a short list.

    Why this shape at 100 TB: the cell scan touches ~N/k vectors per
    query, and scoring them on int8 codes costs 4× less memory
    bandwidth than doubles — full-precision vectors are only fetched
    for the {RERANK_CANDIDATES}-row shortlist. Scale cancellation makes
    the compressed score engine-portable: approx_cos =
    qdot / sqrt(qq_a · qq_b) — the per-vector quantization scales
    divide out, so the score is one IEEE division over EXACT integer
    dot products (|qdot| ≤ 64·127² ≪ 2⁵³: the double cast is lossless,
    sqrt is correctly rounded — bit-identical in both engines, so both
    engines shortlist the SAME candidates).

    Plan: per-row quantization (JVM expressions, no shuffle) on the
    k-means assignment table, broadcast |Q| queries into the cell
    equi-join, one window per query over ~N/k candidates for the
    shortlist, exact cosine only for |Q|·{RERANK_CANDIDATES} rows.
    Composes :func:`kmeans_iterate` (bit-exact cells) and
    :func:`sim_embed_quantize`'s quantizer (checksum-oracled).
    """
    emb = load_vectors(spark, sf_dir)
    assign, _cents = kmeans_iterate(emb, KMEANS_K, KMEANS_ITERS)
    mx = "array_max(transform(v, x -> abs(x)))"
    scale = (
        f"CASE WHEN {mx} = 0.0D THEN 0.0D ELSE {QUANT_LEVELS}.0D / {mx} END"
    )
    quantized = assign.select(
        "vec_id",
        "cell",
        "v",
        F.expr(
            f"transform(v, x -> try_cast(round(x * ({scale})) as bigint))"
        ).alias("q"),
    ).withColumn(
        "qq",
        F.expr(
            "aggregate(zip_with(q, q, (x, y) -> x * y), "
            "cast(0 as bigint), (s, x) -> s + x)"
        ),
    )
    qside = quantized.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("qq") > 0)
    ).select(
        F.col("vec_id").alias("query_id"),
        "cell",
        F.col("q").alias("q_q"),
        F.col("qq").alias("qq_q"),
        F.col("v").alias("vq"),
    )
    nside = quantized.filter(F.col("qq") > 0).select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.col("q").alias("q_n"),
        F.col("qq").alias("qq_n"),
        F.col("v").alias("vn"),
    )
    idot = (
        "aggregate(zip_with(q_q, q_n, (x, y) -> x * y), "
        "cast(0 as bigint), (s, x) -> s + x)"
    )
    approx = (
        F.broadcast(qside)
        .join(nside, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "vq",
            "vn",
            (
                F.expr(idot).cast("double")
                / (
                    F.sqrt(F.col("qq_q").cast("double"))
                    * F.sqrt(F.col("qq_n").cast("double"))
                )
            ).alias("approx_cos"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id")
    )
    shortlist = (
        approx.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= RERANK_CANDIDATES)
        .drop("rn")
    )
    reranked = shortlist.select(
        "query_id",
        "neighbor_id",
        "approx_cos",
        (
            F.expr(dot_expr("vq", "vn"))
            / (
                F.sqrt(F.expr(dot_expr("vq", "vq")))
                * F.sqrt(F.expr(dot_expr("vn", "vn")))
            )
        ).alias("cos"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        reranked.withColumn("rn2", F.row_number().over(w2))
        .filter(F.col("rn2") <= RERANK_TOP_K)
        .drop("rn2")
    )


@register(
    "sim_embedding_clusters",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0
    ),
    sigs AS (
        {_DUCK_TABLE_SIGS}
    ),
    {_DUCK_CAND_MULTIPROBE},
    pairs AS (
        SELECT c.vec_a, c.vec_b
        FROM cand c
        JOIN e ea ON ea.vec_id = c.vec_a
        JOIN e eb ON eb.vec_id = c.vec_b
        WHERE {_duck_cos('ea.v', 'eb.v')} >= {COS_DUP_THRESHOLD}
    ),
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL
        SELECT vec_b, vec_a FROM pairs
    ),
    reach AS (
        SELECT DISTINCT src AS v, src AS label FROM edges
        UNION
        SELECT e2.dst AS v, r.label
        FROM reach r JOIN edges e2 ON e2.src = r.v
    ),
    comp AS (SELECT v, MIN(label) AS component FROM reach GROUP BY v),
    csizes AS (
        SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
    )
    SELECT cluster_size, COUNT(*) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_vecs
    FROM csizes GROUP BY cluster_size
    """,
)
def sim_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTER-SIZE distribution: the vector-side
    twin of ``dedup_cluster_sizes`` — hyperplane-LSH cosine pairs
    (:func:`dedup_embedding_cosine`) resolved into transitive clusters
    by connected components, then histogrammed. This is the diagnostic
    that separates "pairwise near-dups" from "one giant semantic
    template cluster" before an embedding-level dedup sweep commits to
    drop decisions.

    Reuses the pair plan verbatim (same bucketed candidates, AQE-gated
    verify) and the shared iterative-CC operator (per-round
    localCheckpoint, star fallback); both downstream aggregates are
    cluster-count-sized. The oracle chains the SAME pair CTEs into the
    SAME recursive min-label fixpoint the text-side CC oracles use, so
    neither pair semantics nor clustering can drift between surfaces.
    """
    from spark_etl_pipeline_spark.operators.dedup import connected_components

    pairs = dedup_embedding_cosine(spark, sf_dir).select("vec_a", "vec_b")
    labels = connected_components(pairs, "vec_a", "vec_b")
    sizes = labels.groupBy(F.col("label").alias("component")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# Candidate-pair similarity histogram (threshold tuning)
# ---------------------------------------------------------------------------


@register(
    "sim_threshold_profile",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
    sigs AS (
        {_DUCK_TABLE_SIGS}
    ),
    {_DUCK_CAND_MULTIPROBE},
    scored AS (
        SELECT {_duck_cos('ea.v', 'eb.v')} AS cos
        FROM cand c
        JOIN e ea ON ea.vec_id = c.vec_a
        JOIN e eb ON eb.vec_id = c.vec_b
    )
    SELECT CAST(floor(cos * 10.0) AS INTEGER) AS cos_bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM scored GROUP BY 1
    """,
)
def sim_threshold_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similarity histogram over the LSH CANDIDATE pairs (0.1
    bins, no threshold): the tuning artifact that turns dedup-threshold
    selection from folklore into a read — a bimodal profile says the
    corpus separates cleanly (pick the valley); mass piling against
    the current {COS_DUP_THRESHOLD} cut says the threshold is shaving
    a real dup cluster. Same MULTIPROBE candidate generation and
    bit-exact sequential-fold cosine as ``dedup_embedding_cosine``
    (whose SQL this oracle shares minus the WHERE) — the histogram
    profiles exactly the candidate set the dedup queries decide over,
    and so also measures the probe tables' candidate yield directly.
    Binning by ``floor(cos·10)`` is deterministic because the cosine
    itself is bit-identical on both engines.
    """
    emb = load_vectors(spark, sf_dir)
    cand = embedding_candidate_pairs(emb)
    nrm = F.expr(f"sqrt({dot_expr('v', 'v')})")
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), nrm.alias("na")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), nrm.alias("nb")
    )
    scored = (
        eb.join(ea.join(cand, "vec_a"), "vec_b")
        .select(
            (F.expr(dot_expr("va", "vb")) / (F.col("na") * F.col("nb"))).alias(
                "cos"
            )
        )
    )
    return scored.groupBy(
        F.floor(F.col("cos") * 10.0).cast("int").alias("cos_bin")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))


# ---------------------------------------------------------------------------
# End-to-end SEMANTIC corpus dedup (embedding-space twin of
# docs_dedup_corpus)
# ---------------------------------------------------------------------------


@register(
    "docs_dedup_semantic",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE len(list_filter(embedding, x -> x <> 0)) > 0
    ),
    sigs AS (
        {_DUCK_TABLE_SIGS}
    ),
    {_DUCK_CAND_MULTIPROBE},
    pairs AS (
        SELECT c.vec_a, c.vec_b
        FROM cand c
        JOIN e ea ON ea.vec_id = c.vec_a
        JOIN e eb ON eb.vec_id = c.vec_b
        WHERE {_duck_cos('ea.v', 'eb.v')} >= {COS_DUP_THRESHOLD}
    ),
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL
        SELECT vec_b, vec_a FROM pairs
    ),
    reach AS (
        SELECT DISTINCT src AS v, src AS label FROM edges
        UNION
        SELECT e2.dst AS v, r.label
        FROM reach r JOIN edges e2 ON e2.src = r.v
    ),
    comp AS (SELECT v, MIN(label) AS component FROM reach GROUP BY v),
    drops AS (SELECT v AS doc_id FROM comp WHERE v != component)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - SUM(CASE WHEN x.doc_id IS NOT NULL THEN 1
                                    ELSE 0 END) AS BIGINT) AS n_after
    FROM documents d LEFT JOIN drops x ON x.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def docs_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END semantic corpus dedup: embedding-LSH cosine pairs →
    connected components → min-id survivor per cluster → purge the
    rest from the DOCUMENT corpus (vec_id ↔ doc_id), reported as the
    per-source before/dropped/after ledger. The embedding-space twin
    of the MinHash ``docs_dedup_corpus`` sweep — this is the stage
    that removes paraphrases and re-encodes lexical dedup can't see.

    Composes three independently-oracled operators verbatim
    (``dedup_embedding_cosine`` pairs, shared iterative CC, anti-join
    purge — the ``docs_dedup_corpus`` shape) and re-oracles the whole
    chain, so composition bugs can't hide between green components.
    Drop-list size is bounded by the dup rate; the corpus is scanned
    once; the drop-list join is AQE-broadcastable.
    """
    from spark_etl_pipeline_spark.operators.dedup import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = dedup_embedding_cosine(spark, sf_dir).select("vec_a", "vec_b")
    labels = connected_components(pairs, "vec_a", "vec_b")
    drops = labels.filter(F.col("id") != F.col("label")).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("__drop")
    )
    return (
        docs.join(drops, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_before"),
            F.sum(F.when(F.col("__drop").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            (
                F.count(F.lit(1))
                - F.sum(F.when(F.col("__drop").isNotNull(), 1).otherwise(0))
            )
            .cast("bigint")
            .alias("n_after"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding distribution drift (per-cluster mean shift)
# ---------------------------------------------------------------------------


@register(
    "sim_embedding_drift",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, vec_id % 2 AS half,
               embedding::DOUBLE[] AS v
        FROM embeddings
    ),
    dims AS (
        SELECT label, half, t.dim,
               SUM(TRY_CAST(round(v[t.dim] * 1000000) AS BIGINT)) AS s_micro,
               COUNT(*) AS n
        FROM e, LATERAL unnest(generate_series(1, len(v))) t(dim)
        GROUP BY label, half, t.dim
    ),
    joined AS (
        SELECT a.label, a.dim,
               CAST(a.s_micro AS DOUBLE) / CAST(a.n AS DOUBLE) AS ma,
               CAST(b.s_micro AS DOUBLE) / CAST(b.n AS DOUBLE) AS mb,
               a.n AS n_a, b.n AS n_b
        FROM dims a JOIN dims b
          ON b.label = a.label AND b.dim = a.dim
         AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           CAST(any_value(n_a) AS BIGINT) AS n_a,
           CAST(any_value(n_b) AS BIGINT) AS n_b,
           sqrt(CAST(SUM(TRY_CAST(round(power((ma - mb) / 1000000.0, 2)
                                    * 1000000000000) AS BIGINT)) AS DOUBLE)
                / 1000000000000.0) AS drift_l2
    FROM joined GROUP BY label
    """,
)
def sim_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution DRIFT monitor: per cluster (label), the
    L2 distance between the mean vectors of two corpus halves (vec_id
    parity — the deterministic stand-in for yesterday's batch vs
    today's) — the check a retrieval/embedding pipeline runs before
    trusting that a new encoder build or data drop hasn't moved the
    space under its index (IVF centroids and LSH planes silently
    degrade when it has).

    Determinism: per-dimension means come from MICRO-QUANTIZED integer
    sums (floats summed in partition order are non-associative — the
    one float-sum trap this codebase never takes), so both engines
    divide identical exact integers; each dimension's squared
    mean-shift is rounded to pico-units before the cross-dimension
    integer sum, and one sqrt finishes. Shape: posexplode to
    (label, half, dim) cells — 64·|labels|·2 rows out of one
    map-side-combinable aggregate — then a |labels|-sized join+fold.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", (F.col("vec_id") % 2).alias("half"), _vec().alias("v")
    )
    dims = (
        emb.select(
            "label", "half", F.posexplode("v").alias("pos", "x")
        )
        .groupBy("label", "half", (F.col("pos") + 1).alias("dim"))
        .agg(
            F.sum(F.expr("try_cast(round(x * 1000000) as bigint)")).alias(
                "s_micro"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )
    a = dims.filter(F.col("half") == 0).alias("a")
    b = dims.filter(F.col("half") == 1).alias("b")
    joined = a.join(
        b,
        (F.col("b.label") == F.col("a.label")) & (F.col("b.dim") == F.col("a.dim")),
    ).select(
        F.col("a.label").alias("label"),
        (
            F.col("a.s_micro").cast("double") / F.col("a.n").cast("double")
        ).alias("ma"),
        (
            F.col("b.s_micro").cast("double") / F.col("b.n").cast("double")
        ).alias("mb"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
    )
    return joined.groupBy("label").agg(
        F.expr("cast(any_value(n_a) as bigint)").alias("n_a"),
        F.expr("cast(any_value(n_b) as bigint)").alias("n_b"),
        F.sqrt(
            F.sum(
                F.expr(
                    "try_cast(round(power((ma - mb) / 1000000.0, 2) "
                    "* 1000000000000) as bigint)"
                )
            ).cast("double")
            / 1000000000000.0
        ).alias("drift_l2"),
    )
