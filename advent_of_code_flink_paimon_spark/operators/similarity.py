"""Embedding similarity search (SURVEY.md §2.11; PAPERS.md: EDBT 2019
streaming time-series similarity, EDBT 2020 incremental top-k).

- x10: brute-force cosine top-k — broadcast the query vectors, one pass
  over the corpus, per-query top-k via window rank. The baseline and
  the oracle-checkable ground truth.
- x11: LSH-bucketed ANN — random-hyperplane band signatures, candidate
  generation by band equi-join, exact re-rank within candidates. The
  100 TB path: shuffle keys are band hashes, never all-pairs. Recall
  vs x10 is asserted by tests/test_extensions.py.
- x12/x13: literal-centroid IVF assignment (map-only) and SemDeDup
  semantic dedup over the same cell structure.
- x38: symmetric int8 scalar quantization + reconstruction MSE —
  map-only JVM folds, the storage/ANN compression pass.
- x39: distributed k-means (Lloyd) — literal-centroid assignment,
  (K·dim)-key mean updates, K rows to the driver per iteration;
  6-decimal centroid rounding makes the trajectory engine-replayable.

All dot products run JVM-side (zip_with + aggregate over
array<double>) — no Python anywhere in these pipelines. x11's
hyperplanes are a seeded Gaussian matrix inlined as double literals in
both the Spark plan and the DuckDB oracle (the x12 literal-replay
technique), so even the approximate method is exactly replayable.
"""

from __future__ import annotations

import functools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from advent_of_code_flink_paimon_spark.operators.registry import (
    T,
    fan_out,
    footer_row_count,
    query,
)

TOP_K = 5
N_QUERIES = 5  # vec_id < 5 are the query vectors (deterministic subset)

LSH_PLANES = 64  # bits per signature
# 4-bit bands: the testdata embeddings are near-random (true top-k cosine
# ~0.3-0.4), so collision probability per bit is only ~0.6; short bands ×
# many bands keeps recall high at the cost of larger candidate sets. With
# clustered real-world embeddings, raise band bits to shrink candidates.
LSH_BAND_BITS = 4
LSH_SEED = 42


def _dot(a: str, b: str):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(col: str):
    return F.sqrt(F.aggregate(F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))


# NOTE (measured, sf0.1): an explicit unrolled Σ a[i]·b[i] expression
# tree is ~2-8× SLOWER than the aggregate(zip_with(...)) fold here —
# 64 getItem nodes with per-element null checks overflow the
# whole-stage-codegen budget and fall back to interpreted evaluation of
# a 127-node tree, while the fold is one tight interpreted loop over
# the UnsafeArrayData. The winning lever is hoisting NORMS out of the
# pair loop (per-vector, computed once in each side's projection).


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = TOP_K) -> DataFrame:
    """Broadcast queries × one corpus pass → per-query top-k by cosine.

    Ranking key is (round(cosine,4) DESC, vec_id ASC): rounding makes
    the order invariant to last-ulp float noise across engines, the id
    tiebreak makes it total.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = fan_out(corpus, heavy=True).select("vec_id", F.col("embedding").cast("array<double>").alias("cv"))
    # norms are per-vector — computed once in each side's projection,
    # never per pair (same doubles, ~3× fewer pair-loop flops)
    q = q.withColumn("nq", _norm("qv"))
    c = c.withColumn("nc", _norm("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(_dot("qv", "cv") / (F.col("nq") * F.col("nc")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


@query(
    "x10_embedding_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
        SELECT q.query_id, c.vec_id,
               ROUND(list_dot_product(q.qv, c.cv) /
                     (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 4) AS cosine
        FROM q JOIN c ON c.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
    """,
)
def x10_embedding_topk(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    return cosine_topk(e, e.filter(F.col("vec_id") < N_QUERIES))


IVF_CENTROIDS = 16
IVF_NPROBE = 4


def _overlap(*thunks):
    """Run independent index builds/refreshes from a small thread pool
    (guide §2.6: actions are only sequential because the driver calls
    them sequentially — overlapping lets the next job's tasks back-fill
    executors freed by the current job's tail, and overlaps the two
    jobs' driver-side planning). Used ONLY for steps that touch
    DISJOINT tables (lists vs codes; per-consumer bookmark files are
    one atomic JSON each), so results are identical to the sequential
    order. Returns results in submission order. Failure semantics
    differ from the sequential order: when one thunk raises, the others
    still run to completion (and commit), and only the first exception,
    in submission order, propagates — a second failure is masked."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def _ns_sql(*pairs: tuple[str, str]) -> str:
    """``named_struct('k', v, ...)`` SQL text — the single-string twin
    of ``F.struct(v.alias(k), ...)`` (field order and names identical,
    so struct comparison/array_sort semantics are unchanged)."""
    return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in pairs) + ")"


def _cos_sql(col: str, vec: list[float]) -> str:
    """cosine(col, constant vector) as ONE SQL string — r18
    optimization (guide §7.3 driver-side plan cost): the Column-API
    build of a C-centroid assignment made ~10 py4j round trips PER
    centroid (struct/lit/alias/arithmetic each one call), measured at
    0.72-0.78 s of pure driver time per 16-centroid assignment at
    sf0.1 vs 0.16 s to EXECUTE it. Emitting the whole expression as
    SQL text is one round trip + one JVM parse. The fold text is
    byte-identical to the old _dot/_norm Column build (same zip_with/
    aggregate lambdas, same literal formatting, same operator tree),
    so results are bit-exact — oracle parity unchanged."""
    import math

    lits = ", ".join(f"{float(x)!r}D" for x in vec)
    nv = math.sqrt(sum(x * x for x in vec)) or 1.0
    return (
        f"(aggregate(zip_with({col}, array({lits}), (x, y) -> x * y),"
        f" 0.0D, (a, x) -> a + x)"
        f" / (sqrt(aggregate(transform({col}, x -> x * x), 0.0D, (a, x) -> a + x))"
        f" * {float(nv)!r}D))"
    )


def ivf_assign(vectors: DataFrame, centroids: list[tuple[int, list[float]]], nprobe: int = 1) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids.

    Centroids are embedded as LITERALS (C × dim doubles — a few KB), so
    assignment is a map-only projection inside codegen: scan → project,
    ZERO shuffles and zero joins. This is the property that makes IVF
    the 100 TB path — the alternative (crossJoin small centroid table +
    groupBy argmin) would shuffle the full corpus.

    The probed array is ONE F.expr string (see _cos_sql): same
    expression tree as the old per-centroid Column build, ~10× less
    driver time to construct."""
    structs = ", ".join(
        _ns_sql(("negcos", f"-{_cos_sql('cv', vec)}"), ("cid", str(int(cid))))
        for cid, vec in centroids
    )
    probed = F.expr(f"slice(array_sort(array({structs})), 1, {int(nprobe)})")
    return vectors.withColumn("__probe", F.explode(probed)).withColumn(
        "cluster", F.col("__probe.cid")
    ).drop("__probe")


# The IVF pipeline is APPROXIMATE as an ANN method but fully
# DETERMINISTIC end-to-end (hash-sampled centroids, argmax assignment
# with cid tiebreak, exact re-rank), so DuckDB can replay it exactly:
# every cosine is the same sequential list_dot_product both engines
# compute bit-identically, and every tie breaks on ids.
_COS = "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
_SQL_IVF = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
cent AS (
    SELECT vec_id AS cid, cv AS cent_v
    FROM v WHERE vec_id % 61 = 7 ORDER BY vec_id LIMIT {IVF_CENTROIDS}
),
corpus_assign AS (
    SELECT vec_id, cv, cid FROM (
        SELECT c.vec_id, c.cv, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY {_COS.format(a='c.cv', b='cent.cent_v')} DESC, cent.cid ASC
               ) AS r
        FROM v c CROSS JOIN cent
    ) WHERE r = 1
),
query_assign AS (
    SELECT query_id, qv, cid FROM (
        SELECT q.vec_id AS query_id, q.cv AS qv, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_COS.format(a='q.cv', b='cent.cent_v')} DESC, cent.cid ASC
               ) AS r
        FROM v q CROSS JOIN cent WHERE q.vec_id < {N_QUERIES}
    ) WHERE r <= {IVF_NPROBE}
),
cands AS (
    SELECT DISTINCT qa.query_id, qa.qv, ca.vec_id, ca.cv
    FROM corpus_assign ca JOIN query_assign qa ON ca.cid = qa.cid
    WHERE ca.vec_id <> qa.query_id
),
scored AS (
    SELECT query_id, vec_id,
           ROUND({_COS.format(a='qv', b='cv')}, 4) AS cosine
    FROM cands
),
ranked AS (
    SELECT query_id, vec_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


@query("x12_embedding_topk_ivf", oracle=_SQL_IVF)
def x12_embedding_topk_ivf(spark, sf_dir):
    """IVF ANN top-k: deterministic centroid pick (hash-sampled corpus
    vectors), literal-centroid assignment (map-only), candidates =
    corpus rows sharing one of the query's nprobe clusters, exact
    cosine re-rank within candidates.

    Scale shape: assignment is shuffle-free; the candidate join keys on
    cluster id, so work is ~nprobe/C of brute force. C grows ~sqrt(n)
    at scale (here 16 — the testdata corpus is small); verified by a
    python-model differential test (tests/test_extensions.py)."""
    e = T(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("cv"))
    cent_rows = (
        v.filter(F.pmod(F.col("vec_id"), F.lit(61)) == 7).orderBy("vec_id").limit(IVF_CENTROIDS).collect()
    )
    centroids = [(int(r.vec_id), list(r.cv)) for r in cent_rows]

    corpus = ivf_assign(v, centroids, nprobe=1)
    queries = ivf_assign(
        v.filter(F.col("vec_id") < N_QUERIES).select(F.col("vec_id").alias("query_id"), "cv"),
        centroids,
        nprobe=IVF_NPROBE,
    ).select("query_id", F.col("cv").alias("qv"), "cluster")

    cands = (
        corpus.join(queries, "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# ----------------------------------------------------------------------
# x13: semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540) —
# the cluster-then-dedup-within-cluster pattern LLM corpus pipelines use
# to drop semantically redundant documents: k-means-style cells bound the
# pair search to O(Σ|cell|²) ≪ O(n²), then one representative (min id)
# survives per within-cell duplicate group.
# ----------------------------------------------------------------------
SEMDEDUP_THRESHOLD = 0.35  # sits at the testdata's planted-dup margin (x06)

_SQL_SEMDEDUP = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
cent AS (
    SELECT vec_id AS cid, cv AS cent_v
    FROM v WHERE vec_id % 61 = 7 ORDER BY vec_id LIMIT {IVF_CENTROIDS}
),
corpus_assign AS (
    SELECT vec_id, cv, cid FROM (
        SELECT c.vec_id, c.cv, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY {_COS.format(a='c.cv', b='cent.cent_v')} DESC, cent.cid ASC
               ) AS r
        FROM v c CROSS JOIN cent
    ) WHERE r = 1
),
dups AS (
    SELECT DISTINCT a.vec_id
    FROM corpus_assign a JOIN corpus_assign b
      ON a.cid = b.cid AND b.vec_id < a.vec_id
    WHERE {_COS.format(a='a.cv', b='b.cv')} >= {SEMDEDUP_THRESHOLD}
)
SELECT vec_id, cid AS cluster FROM corpus_assign
WHERE vec_id NOT IN (SELECT vec_id FROM dups)
"""


@query("x13_semantic_dedup", oracle=_SQL_SEMDEDUP)
def x13_semantic_dedup(spark, sf_dir):
    """SemDeDup: assign every embedding to its nearest of C literal
    centroids (map-only, shuffle-free — same deterministic pick as
    x12), then dedup WITHIN cells only: a vector is dropped when a
    smaller-id vector in ITS cell is ≥ SEMDEDUP_THRESHOLD cosine.
    Returns the surviving corpus (vec_id, cluster).

    Scale shape — the reason SemDeDup exists: the pair join keys on the
    cell id, so candidate pairs are O(Σ|cell|²) with |cell| ≈ n/C and C
    grown ~sqrt(n); x06's exact all-pairs block join is the fallback
    when no clustering margin exists. Everything is deterministic
    (hash-picked centroids, id tiebreaks), so DuckDB replays the cells,
    the pair set, and the survivor set exactly."""
    e = T(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("cv"))
    cent_rows = (
        v.filter(F.pmod(F.col("vec_id"), F.lit(61)) == 7)
        .orderBy("vec_id").limit(IVF_CENTROIDS).collect()
    )
    centroids = [(int(r.vec_id), list(r.cv)) for r in cent_rows]
    # (a persist() here measured NO gain at sf0.1 — the three uses of
    # the assignment share one scan via plan reuse, and the literal
    # fold is map-side cheap; don't pay the cache memory)
    assigned = ivf_assign(fan_out(v, heavy=True), centroids, nprobe=1)
    a = assigned.select(
        F.col("vec_id"), F.col("cv"), F.col("cluster"), _norm("cv").alias("nv")
    )
    b = a.select(
        F.col("vec_id").alias("b_id"), F.col("cv").alias("bv"),
        F.col("cluster"), F.col("nv").alias("bnv"),
    )
    dup_ids = (
        a.join(b, "cluster")
        .filter(F.col("b_id") < F.col("vec_id"))
        .filter(_dot("cv", "bv") / (F.col("nv") * F.col("bnv")) >= SEMDEDUP_THRESHOLD)
        .select("vec_id").distinct()
    )
    # anti-join against `a` (not a fresh `assigned` branch): the big
    # literal-centroid expression then appears in two plan branches
    # instead of three — measurably less codegen per run
    return a.join(dup_ids, "vec_id", "left_anti").select("vec_id", "cluster")



# x-demoted round 16: x13_semantic_dedup yields its driver-registry slot to the
# streaming-card promotions (x132-x136); embedding near-dup stays driver-scored via x90 (scored window) and
# x110/x111 semantic decontaminate (1-round-old r15 rows).
# Full strict-oracle gating continues via tests/test_relational_oracle.py.
from advent_of_code_flink_paimon_spark.operators.registry import demote as _demote_r16a  # noqa: E402

_demote_r16a("x13_semantic_dedup")
del _demote_r16a

EMB_DIM = 64  # testdata embedding width (TESTDATA.md)
_LSH_BASIS = None  # EMB_DIM × LSH_PLANES Gaussian matrix, lazy singleton


def _lsh_basis():
    """Deterministic hyperplane matrix, computed once on the driver.

    Seeded Mersenne-Twister Gaussians: the VALUES are what both engines
    must agree on, so the Spark plan and the DuckDB oracle each receive
    them as inlined double literals (the x12 literal-centroid replay
    technique) — no executor-side RNG, nothing engine-specific.
    """
    global _LSH_BASIS
    if _LSH_BASIS is None:
        import numpy as np

        _LSH_BASIS = np.random.RandomState(LSH_SEED).standard_normal((EMB_DIM, LSH_PLANES))
    return _LSH_BASIS


def _band_keys(col: str):
    """array of LSH_PLANES/LSH_BAND_BITS integer band keys for a vector.

    Bit p of the signature is sign(dot(v, plane_p)); a band's key packs
    its LSH_BAND_BITS bits plus the band index (band*2^bits + bits), so
    a single integer equi-join key replaces (band, hash) pairs and the
    oracle can recompute it exactly — dot products are the same
    sequential fold DuckDB's list_dot_product runs, in doubles, so the
    sign comparisons agree bit-for-bit.
    """
    # ONE F.expr string per key array (the per-plane column build cost
    # ~40 ms of py4j each — the _x90_bits driver-cost fix applied here);
    # identical fold, literals and CASE semantics to the old
    # F.aggregate/F.when build, so the oracle twin below is unchanged.
    basis = _lsh_basis()
    keys = []
    for b in range(LSH_PLANES // LSH_BAND_BITS):
        terms = [str(b * (1 << LSH_BAND_BITS))]
        for j in range(LSH_BAND_BITS):
            plane = ", ".join(
                f"{float(v)!r}D" for v in basis[:, b * LSH_BAND_BITS + j]
            )
            terms.append(
                f"(CASE WHEN aggregate(zip_with({col}, array({plane}),"
                f" (x, y) -> x * y), 0.0D, (a, x) -> a + x) > 0"
                f" THEN {1 << j} ELSE 0 END)"
            )
        keys.append(" + ".join(terms))
    return F.expr("array(" + ", ".join(keys) + ")")


def _band_keys_sql(col: str) -> str:
    """The DuckDB twin of :func:`_band_keys`: same literals, same fold."""
    basis = _lsh_basis()
    keys = []
    for b in range(LSH_PLANES // LSH_BAND_BITS):
        bits = []
        for j in range(LSH_BAND_BITS):
            plane = "[" + ", ".join(repr(float(v)) for v in basis[:, b * LSH_BAND_BITS + j]) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product({col}, {plane}) > 0 THEN {1 << j} ELSE 0 END)"
            )
        keys.append(f"({b * (1 << LSH_BAND_BITS)} + " + " + ".join(bits) + ")")
    return "[" + ", ".join(keys) + "]"


def _sql_lsh() -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
    banded AS (SELECT vec_id, cv, unnest({_band_keys_sql('cv')}) AS key FROM v),
    qb AS (SELECT vec_id AS query_id, cv AS qv, key FROM banded WHERE vec_id < {N_QUERIES}),
    cands AS (
        SELECT DISTINCT qb.query_id, qb.qv, b.vec_id, b.cv
        FROM banded b JOIN qb USING (key)
        WHERE b.vec_id <> qb.query_id
    ),
    scored AS (
        SELECT query_id, vec_id,
               ROUND({_COS.format(a='qv', b='cv')}, 4) AS cosine
        FROM cands
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
    """


@query("x11_embedding_topk_lsh", oracle=_sql_lsh())
def x11_embedding_topk_lsh(spark, sf_dir):
    """ANN cosine top-k: hyperplane-LSH candidate generation + exact
    re-rank. Bands of LSH_BAND_BITS bits; a corpus vector is a
    candidate for a query if any band key matches. ANN is approximate
    as a METHOD (recall vs exact x10 asserted ≥ 0.8 in tests) but
    deterministic as a COMPUTATION — hyperplanes are literals shared
    with the oracle, so DuckDB replays signatures, band membership and
    the re-rank exactly.

    Scale shape: candidate generation is a band-key equi-join (shuffle
    keys are band buckets, never all-pairs); the exact re-rank touches
    candidates only. A HOT band key (clustered embeddings collapsing
    one bucket) cannot melt a single task: the corpus side is salted
    across 8 subkeys and the (bounded, query-side) band rows are
    replicated to meet them — identical join result, skew spread
    across tasks. Unlike the dedup self-join there is no quadratic
    pair blowup to cap here (cost per key is |corpus bucket| × |query
    bucket|, and queries are bounded), so salting — which loses NO
    recall — is the right guard; shrinking dense buckets structurally
    is LSH_BAND_BITS' job (see the constant's comment).
    """
    from advent_of_code_flink_paimon_spark.operators.skew import salted_join

    e = T(spark, sf_dir, "embeddings")
    v = fan_out(e, heavy=True).select("vec_id", F.col("embedding").cast("array<double>").alias("cv"))
    banded = v.select("vec_id", "cv", F.explode(_band_keys("cv")).alias("key"))
    qb = banded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("cv").alias("qv"), "key"
    )
    cands = (
        salted_join(banded, qb, "key")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "vec_id", "cv")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# x38: int8 scalar quantization of the embedding column
# ---------------------------------------------------------------------------

_SQL_QUANTIZE = """
WITH q AS (SELECT vec_id, embedding,
                  CASE WHEN list_max(list_transform(embedding, x -> abs(x))) = 0 THEN 1.0
                       ELSE CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
                  END AS amax
           FROM embeddings)
SELECT vec_id, ROUND(amax, 6) AS amax_r,
  CAST(list_sum([CAST(floor(CAST(embedding[i] AS DOUBLE) / amax * 127 + 0.5) AS BIGINT)
                 for i in range(1, len(embedding)+1)]) AS BIGINT) AS q_sum,
  CAST(list_sum([abs(CAST(floor(CAST(embedding[i] AS DOUBLE) / amax * 127 + 0.5) AS BIGINT))
                 for i in range(1, len(embedding)+1)]) AS BIGINT) AS q_l1,
  ROUND(list_sum([pow(CAST(embedding[i] AS DOUBLE)
                        - CAST(floor(CAST(embedding[i] AS DOUBLE) / amax * 127 + 0.5) AS BIGINT) * amax / 127, 2)
                  for i in range(1, len(embedding)+1)]) / len(embedding), 8) AS mse
FROM q
"""


@query("x38_embedding_quantize", oracle=_SQL_QUANTIZE)
def x38_embedding_quantize(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding column —
    the storage/ANN compression pass (4× over float32, 16× over the
    double intermediates) a 100 TB embedding store runs before
    indexing. Per vector: scale = max|x|/127, q_i = round-half-up of
    x_i·127/scale ∈ [-127,127], plus the reconstruction MSE so the
    quality loss is measured, not assumed.

    Scale shape: map-only — one projection of JVM array folds
    (transform/zip_with/aggregate), zero shuffles, no UDFs; the plan is
    scan → project, so it scales linearly with the store and pipelines
    into any downstream index build. Determinism: floor(x + 0.5)
    round-half-up and left-to-right fold order match DuckDB's
    comprehension replay bit-for-bit; outputs are rounded ints + a
    ROUND(…,8) MSE so both engines hash identically. All-zero vectors
    take scale 1 (q = 0, mse = 0) on both sides."""
    emb = fan_out(T(spark, sf_dir, "embeddings"))
    raw_amax = F.array_max(F.transform(F.col("embedding"), F.abs)).cast("double")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(
        "vec_id",
        vd.alias("v"),
        F.when(raw_amax == 0, F.lit(1.0)).otherwise(raw_amax).alias("amax"),
    )
    qv = F.transform(F.col("v"), lambda x: F.floor(x / F.col("amax") * 127 + F.lit(0.5)))
    staged = base.select("vec_id", "v", "amax", qv.alias("q"))
    err2 = F.zip_with(
        "v", "q", lambda x, qi: F.pow(x - qi * F.col("amax") / 127, F.lit(2))
    )
    zero_l = F.lit(0).cast("long")
    return staged.select(
        "vec_id",
        F.round(F.col("amax"), 6).alias("amax_r"),
        F.aggregate("q", zero_l, lambda a, x: a + x).alias("q_sum"),
        F.aggregate(F.transform("q", F.abs), zero_l, lambda a, x: a + x).alias("q_l1"),
        F.round(
            F.aggregate(err2, F.lit(0.0), lambda a, x: a + x) / F.size("v"), 8
        ).alias("mse"),
    )


# ---------------------------------------------------------------------------
# x39: distributed k-means (Lloyd's algorithm, fixed 2 iterations)
# ---------------------------------------------------------------------------

KM_K = 8  # clusters; seeds are hash-sampled corpus vectors (x12 technique)
_KM_ROUND = 6  # centroid coordinates round here → cross-engine stability


def _l2_sql(col_sql: str, vec: list[float]) -> str:
    """Squared L2 distance to a constant vector as SQL text — same
    left-to-right fold order as the DuckDB comprehension replay,
    byte-identical to the old _l2_to_literal/_l2_expr strings."""
    lits = ", ".join(f"{float(x)!r}D" for x in vec)
    return (
        f"aggregate(zip_with({col_sql}, array({lits}),"
        " (x, c) -> (x - c) * (x - c)), 0.0D, (a, x) -> a + x)"
    )


def kmeans_assign(vectors: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Map-only Lloyd assignment: nearest centroid by squared L2 with
    cid tiebreak, centroids inlined as literals (K × dim doubles) so the
    plan is scan → project — zero shuffles, zero joins (the ivf_assign
    property, reused for clustering). Built as ONE F.expr string per
    output column (the _cos_sql driver-cost fix, r18)."""
    structs = ", ".join(
        _ns_sql(("d2", _l2_sql("cv", vec)), ("cid", str(int(cid))))
        for cid, vec in centroids
    )
    best = F.expr(f"array_sort(array({structs}))[0]")
    return vectors.withColumn("cid", best.getField("cid")).withColumn(
        "d2", best.getField("d2")
    )


def kmeans_update(assigned: DataFrame) -> list[tuple[int, list[float]]]:
    """One Lloyd centroid update: per-(cluster, dim) means via a
    partial-agg-friendly (K·dim)-key aggregation, collected to the
    driver as K rows — the SAME driver round-trip Spark MLlib's KMeans
    performs every iteration (K × dim scalars, never data rows).
    Coordinates round to 6 decimals so the unordered float sum's
    last-ulp noise can't leak into the next assignment (and so DuckDB's
    replay computes identical centroids)."""
    means = (
        assigned.select("cid", F.posexplode("cv").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("x"), _KM_ROUND).alias("m"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("cent")
        )
        .collect()
    )
    return sorted((int(r.cid), list(r.cent)) for r in means)


_SQL_KMEANS = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
seed AS (SELECT vec_id AS cid, cv AS cent FROM v WHERE vec_id % 53 = 11 ORDER BY vec_id LIMIT {KM_K}),
a1 AS (
  SELECT vec_id, cv, cid FROM (
    SELECT v.vec_id, v.cv, seed.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_sum([(v.cv[i] - seed.cent[i]) * (v.cv[i] - seed.cent[i])
                                for i in range(1, len(v.cv)+1)]) ASC, seed.cid ASC) AS r
    FROM v CROSS JOIN seed) WHERE r = 1
),
dims AS (
  SELECT cid, unnest([{{'pos': i, 'x': cv[i]}} for i in range(1, len(cv)+1)]) AS u FROM a1
),
c1 AS (
  SELECT cid, list(m ORDER BY pos) AS cent FROM (
    SELECT cid, u.pos AS pos, ROUND(AVG(u.x), {_KM_ROUND}) AS m FROM dims GROUP BY cid, u.pos
  ) GROUP BY cid
),
a2 AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT v.vec_id, c1.cid,
           list_sum([(v.cv[i] - c1.cent[i]) * (v.cv[i] - c1.cent[i])
                     for i in range(1, len(v.cv)+1)]) AS d2,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_sum([(v.cv[i] - c1.cent[i]) * (v.cv[i] - c1.cent[i])
                                for i in range(1, len(v.cv)+1)]) ASC, c1.cid ASC) AS r
    FROM v CROSS JOIN c1) WHERE r = 1
)
SELECT cid AS cluster_id, COUNT(*) AS n_members,
       ROUND(AVG(d2), {_KM_ROUND}) AS avg_d2
FROM a2 GROUP BY cid
"""


@query("x39_kmeans", oracle=_SQL_KMEANS)
def x39_kmeans(spark, sf_dir):
    """Distributed k-means over the embedding column: 2 Lloyd
    iterations from hash-sampled seeds (assign → update → assign),
    reporting per-cluster size and mean squared distance.

    Scale shape — the Spark MLlib KMeans shape exactly: every
    assignment is a map-only literal-centroid projection (zero
    shuffles); the update is ONE (K·dim)-key aggregation with map-side
    partials; the only driver traffic is K centroid rows per iteration
    (K·dim scalars — never data). Determinism: centroid coordinates
    round to 6 decimals each update, so the unordered aggregation's
    float noise can't flip a later assignment, and DuckDB replays the
    whole trajectory (seeds → a1 → c1 → a2) bit-for-bit."""
    e = T(spark, sf_dir, "embeddings")
    v = fan_out(e, heavy=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("cv")
    )
    seed_rows = (
        v.filter(F.pmod(F.col("vec_id"), F.lit(53)) == 11)
        .orderBy("vec_id")
        .limit(KM_K)
        .collect()
    )
    seeds = [(int(r.vec_id), list(r.cv)) for r in seed_rows]
    a1 = kmeans_assign(v, seeds)
    c1 = kmeans_update(a1)
    a2 = kmeans_assign(v, c1)
    return a2.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").alias("n_members"),
        F.round(F.avg("d2"), _KM_ROUND).alias("avg_d2"),
    )


# ----------------------------------------------------------------------
# x50: IVF centroid refresh via k-means (round-6 VERDICT ask #8) — the
# build-then-query ANN lifecycle: x39's Lloyd update refines the
# hash-sampled seeds into data-shaped centroids, and those refreshed
# centroids drive x12's literal-centroid IVF assignment + exact re-rank.
# Composing the two existing operators is exactly how a production ANN
# index keeps its coarse quantizer fresh as the corpus drifts.
# ----------------------------------------------------------------------

_SQL_IVF_KMEANS = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
seed AS (SELECT vec_id AS cid, cv AS cent FROM v WHERE vec_id % 53 = 11 ORDER BY vec_id LIMIT {KM_K}),
a1 AS (
  SELECT vec_id, cv, cid FROM (
    SELECT v.vec_id, v.cv, seed.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_sum([(v.cv[i] - seed.cent[i]) * (v.cv[i] - seed.cent[i])
                                for i in range(1, len(v.cv)+1)]) ASC, seed.cid ASC) AS r
    FROM v CROSS JOIN seed) WHERE r = 1
),
dims AS (
  SELECT cid, unnest([{{'pos': i, 'x': cv[i]}} for i in range(1, len(cv)+1)]) AS u FROM a1
),
cent AS (
  SELECT cid, list(m ORDER BY pos) AS cent_v FROM (
    SELECT cid, u.pos AS pos, ROUND(AVG(u.x), {_KM_ROUND}) AS m FROM dims GROUP BY cid, u.pos
  ) GROUP BY cid
),
corpus_assign AS (
    SELECT vec_id, cv, cid FROM (
        SELECT c.vec_id, c.cv, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY {_COS.format(a='c.cv', b='cent.cent_v')} DESC, cent.cid ASC
               ) AS r
        FROM v c CROSS JOIN cent
    ) WHERE r = 1
),
query_assign AS (
    SELECT query_id, qv, cid FROM (
        SELECT q.vec_id AS query_id, q.cv AS qv, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_COS.format(a='q.cv', b='cent.cent_v')} DESC, cent.cid ASC
               ) AS r
        FROM v q CROSS JOIN cent WHERE q.vec_id < {N_QUERIES}
    ) WHERE r <= {IVF_NPROBE}
),
cands AS (
    SELECT DISTINCT qa.query_id, qa.qv, ca.vec_id, ca.cv
    FROM corpus_assign ca JOIN query_assign qa ON ca.cid = qa.cid
    WHERE ca.vec_id <> qa.query_id
),
scored AS (
    SELECT query_id, vec_id,
           ROUND({_COS.format(a='qv', b='cv')}, 4) AS cosine
    FROM cands
),
ranked AS (
    SELECT query_id, vec_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


@query("x50_ivf_kmeans_refresh", oracle=_SQL_IVF_KMEANS)
def x50_ivf_kmeans_refresh(spark, sf_dir):
    """IVF ANN with k-means-refreshed centroids: one Lloyd update
    (x39's assign → update, K centroid rows to the driver) replaces
    x12's raw hash-sampled seeds with data-shaped centroids, then the
    standard IVF query path runs against them — literal-centroid
    map-only assignment, cluster-keyed candidate join, exact cosine
    re-rank.

    Scale shape: inherits both parents' properties — the refresh is one
    (K·dim)-key aggregation per iteration with only K rows to the
    driver, and the query path stays shuffle-free through assignment.
    Determinism: centroids round to 6 decimals at the update, so the
    DuckDB replay (seed → a1 → cent → assign → re-rank) is
    bit-identical."""
    e = T(spark, sf_dir, "embeddings")
    v = fan_out(e, heavy=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("cv")
    )
    seed_rows = (
        v.filter(F.pmod(F.col("vec_id"), F.lit(53)) == 11)
        .orderBy("vec_id")
        .limit(KM_K)
        .collect()
    )
    seeds = [(int(r.vec_id), list(r.cv)) for r in seed_rows]
    refreshed = kmeans_update(kmeans_assign(v, seeds))  # the centroid refresh

    corpus = ivf_assign(v, refreshed, nprobe=1)
    queries = ivf_assign(
        v.filter(F.col("vec_id") < N_QUERIES).select(F.col("vec_id").alias("query_id"), "cv"),
        refreshed,
        nprobe=IVF_NPROBE,
    ).select("query_id", F.col("cv").alias("qv"), "cluster")

    cands = (
        corpus.join(queries, "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# ----------------------------------------------------------------------
# x55: product quantization (Jégou et al. 2011, "Product Quantization
# for Nearest Neighbor Search", IEEE TPAMI) — the embedding-store
# compression behind IVF-PQ indexes: split each vector into M
# subvectors, learn a K-centroid codebook PER SUBSPACE (one Lloyd
# update from hash-sampled seeds, the x39 machinery), and encode every
# vector as M small code digits + reconstruction MSE. 64 dims → M=4
# subspaces of 16; K=4 codes per subspace (the corpus is small; real
# deployments use M=8..64, K=256 — same plan shape).
# ----------------------------------------------------------------------

PQ_M = 4
PQ_DSUB = 16  # 64 / PQ_M
PQ_K = 4

_SQL_PQ = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
seedv AS (
  SELECT sid, cv, idx - 1 AS dense FROM (
    SELECT vec_id AS sid, cv,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS idx
    FROM v WHERE vec_id % 53 = 11 ORDER BY vec_id LIMIT {PQ_K})
),
subs AS (SELECT vec_id, cv, unnest([0, 1, 2, 3]) AS sub FROM v),
sv AS (SELECT vec_id, sub, cv[sub*{PQ_DSUB}+1 : (sub+1)*{PQ_DSUB}] AS s FROM subs),
seedsub AS (
  SELECT s.sub, d.sid, d.dense, d.cv[s.sub*{PQ_DSUB}+1 : (s.sub+1)*{PQ_DSUB}] AS cs
  FROM (SELECT DISTINCT sub FROM sv) s CROSS JOIN seedv d
),
a1 AS (
  SELECT vec_id, sub, s, sid FROM (
    SELECT sv.vec_id, sv.sub, sv.s, k.sid,
           ROW_NUMBER() OVER (
             PARTITION BY sv.vec_id, sv.sub
             ORDER BY list_sum([(sv.s[i] - k.cs[i]) * (sv.s[i] - k.cs[i])
                                for i in range(1, {PQ_DSUB}+1)]) ASC, k.sid ASC) AS r
    FROM sv JOIN seedsub k USING (sub)) WHERE r = 1
),
dims AS (
  SELECT sub, sid, unnest([{{'pos': i, 'x': s[i]}} for i in range(1, {PQ_DSUB}+1)]) AS u
  FROM a1
),
cb AS (
  SELECT sub, sid, list(m ORDER BY pos) AS cs FROM (
    SELECT sub, sid, u.pos AS pos, ROUND(AVG(u.x), {_KM_ROUND}) AS m
    FROM dims GROUP BY sub, sid, u.pos
  ) GROUP BY sub, sid
),
a2 AS (
  SELECT vec_id, sub, sid, d2 FROM (
    SELECT sv.vec_id, sv.sub, c.sid,
           list_sum([(sv.s[i] - c.cs[i]) * (sv.s[i] - c.cs[i])
                     for i in range(1, {PQ_DSUB}+1)]) AS d2,
           ROW_NUMBER() OVER (
             PARTITION BY sv.vec_id, sv.sub
             ORDER BY list_sum([(sv.s[i] - c.cs[i]) * (sv.s[i] - c.cs[i])
                                for i in range(1, {PQ_DSUB}+1)]) ASC, c.sid ASC) AS r
    FROM sv JOIN cb c USING (sub)) WHERE r = 1
),
coded AS (SELECT a2.vec_id, a2.sub, d.dense AS code, a2.d2
          FROM a2 JOIN seedv d ON a2.sid = d.sid)
SELECT vec_id,
       CAST(MAX(CASE WHEN sub = 0 THEN code END) AS BIGINT) AS code0,
       CAST(MAX(CASE WHEN sub = 1 THEN code END) AS BIGINT) AS code1,
       CAST(MAX(CASE WHEN sub = 2 THEN code END) AS BIGINT) AS code2,
       CAST(MAX(CASE WHEN sub = 3 THEN code END) AS BIGINT) AS code3,
       ROUND(SUM(d2) / 64, {_KM_ROUND}) AS mse
FROM coded GROUP BY vec_id
"""


def _lut_sql(lut: list[float], code_col: str) -> str:
    """element_at(<literal LUT array>, <code col> + 1) as SQL text —
    ADC scoring builds queries × M of these (the _cos_sql driver-cost
    rationale)."""
    lits = ", ".join(f"{float(x)!r}D" for x in lut)
    return f"element_at(array({lits}), {code_col} + 1)"




def _sub_sql(m: int) -> str:
    """SQL for the m-th PQ subvector of the canonical ``cv`` column."""
    return f"slice(cv, {m * PQ_DSUB + 1}, {PQ_DSUB})"


@query("x55_pq_quantize", oracle=_SQL_PQ)
def x55_pq_quantize(spark, sf_dir):
    """Product-quantization codebook build + encode: per-subspace
    K-centroid codebooks from one Lloyd update (hash-sampled seeds),
    then every vector encodes as M dense code digits + reconstruction
    MSE (sum of per-subspace assignment distances / dim).

    Scale shape: both assignment passes are LITERAL-codebook map-only
    projections (M·K·d_sub doubles inlined — a few KB even at
    K=256/M=64), so encoding is scan → project with zero shuffles; the
    codebook update is one (M·K·d_sub)-key aggregation with only
    M·K rows to the driver — the x39 k-means shape run per subspace.
    Determinism: codebook coordinates round to 6 decimals, argmin
    tiebreaks on seed id, codes are the seeds' dense rank — DuckDB
    replays the whole build→encode trajectory."""
    e = T(spark, sf_dir, "embeddings")
    v = fan_out(e, heavy=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("cv")
    )
    seed_rows = (
        v.filter(F.pmod(F.col("vec_id"), F.lit(53)) == 11)
        .orderBy("vec_id")
        .limit(PQ_K)
        .collect()
    )
    # dense code digit = seed's rank in vec_id order (engine-portable)
    seeds = [(int(r.vec_id), i, list(r.cv)) for i, r in enumerate(seed_rows)]

    def sub_slice(vec, m):
        return vec[m * PQ_DSUB : (m + 1) * PQ_DSUB]

    def assign_struct(m, cents):
        """cents: [(sid, dense, sub_centroid)] → struct(sv, cid, dense,
        d2) as ONE F.expr string (the _cos_sql driver-cost fix)."""
        best = _pq_best_sql(m, cents)
        return F.expr(
            _ns_sql(
                ("sub", str(int(m))),
                ("sv", _sub_sql(m)),
                ("sid", f"{best}.sid"),
                ("dense", f"{best}.dense"),
                ("d2", f"{best}.d2"),
            )
        )

    # pass 1: assign to seed sub-centroids, long format for the update
    seed_subs = {
        m: [(sid, dense, sub_slice(cv, m)) for sid, dense, cv in seeds]
        for m in range(PQ_M)
    }
    a1 = v.select(
        "vec_id",
        F.explode(F.array(*[assign_struct(m, seed_subs[m]) for m in range(PQ_M)])).alias("a"),
    ).select("vec_id", "a.sub", "a.sv", "a.sid")

    # codebook update: mean per (sub, sid, pos), rounded — M·K rows out
    cb_rows = (
        a1.select("sub", "sid", F.posexplode("sv").alias("pos", "x"))
        .groupBy("sub", "sid", "pos")
        .agg(F.round(F.avg("x"), _KM_ROUND).alias("m"))
        .groupBy("sub", "sid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("cs")
        )
        .collect()
    )
    dense_of = {sid: dense for sid, dense, _ in seeds}
    codebook = {m: [] for m in range(PQ_M)}
    for r in cb_rows:
        codebook[int(r.sub)].append((int(r.sid), dense_of[int(r.sid)], list(r.cs)))
    for m in codebook:
        codebook[m].sort()

    # pass 2: encode against the refreshed codebooks
    a2 = v.select(
        "vec_id",
        F.explode(F.array(*[assign_struct(m, codebook[m]) for m in range(PQ_M)])).alias("a"),
    ).select("vec_id", "a.sub", "a.dense", "a.d2")
    return a2.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("sub") == m, F.col("dense")))
            .cast("long")
            .alias(f"code{m}")
            for m in range(PQ_M)
        ],
        F.round(F.sum("d2") / 64, _KM_ROUND).alias("mse"),
    )


# ----------------------------------------------------------------------
# x56: ADC top-k over PQ codes (Jégou et al. 2011 §IV) — the QUERY path
# of a PQ index: each query builds an M×K lookup table of squared
# distances to every codebook entry, and a corpus vector's approximate
# distance is the SUM of M table lookups on its code digits — the
# corpus EMBEDDINGS are never read at query time, only the tiny code
# tuples. This is what makes PQ indexes memory-resident at 10⁹ vectors.
# ----------------------------------------------------------------------

_SQL_PQ_BUILD = _SQL_PQ[: _SQL_PQ.rindex("SELECT vec_id,")]  # reuse CTEs through 'a2'/'coded'

_SQL_ADC = _SQL_PQ_BUILD + f"""
, qsv AS (
  SELECT vec_id AS query_id, sub, s FROM sv WHERE vec_id < {N_QUERIES}
),
pd AS (
  SELECT q.query_id, c.vec_id, c.sub,
         list_sum([(q.s[i] - cb.cs[i]) * (q.s[i] - cb.cs[i])
                   for i in range(1, {PQ_DSUB}+1)]) AS pd2
  FROM a2 c
  JOIN cb ON cb.sub = c.sub AND cb.sid = c.sid
  JOIN qsv q ON q.sub = c.sub
  WHERE c.vec_id <> q.query_id
),
sumd AS (
  SELECT query_id, vec_id, ROUND(SUM(pd2), {_KM_ROUND}) AS adc_d2
  FROM pd GROUP BY query_id, vec_id
),
rankedq AS (
  SELECT query_id, vec_id, adc_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_d2 ASC, vec_id ASC) AS rank
  FROM sumd
)
SELECT query_id, vec_id, adc_d2, rank FROM rankedq WHERE rank <= {TOP_K}
"""


@query("x56_pq_adc_topk", oracle=_SQL_ADC)
def x56_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance top-k over PQ codes: x55's codebook build +
    corpus encoding, then each query's M×K distance lookup table is
    inlined as LITERALS and a corpus row scores as M array-index
    lookups summed — a pure codegen projection over the (vec_id,
    code0..3) relation with the embeddings column untouched at query
    time.

    Scale shape: query-time cost is scan-of-codes → project → one
    top-k window keyed by query_id; the LUTs are N_QUERIES·M·K doubles
    (a few KB at production M=64/K=256 too). The only driver traffic is
    the codebook (M·K rows, from the x55 build) and the N_QUERIES query
    vectors (bounded by construction, the x10 broadcast-query
    pattern). Determinism: per-subspace distances replay the rounded
    codebook exactly; the SUMMED distance rounds to 6 BEFORE ranking so
    last-ulp addition-order noise can't flip a rank on either engine;
    ties break on vec_id."""
    e = T(spark, sf_dir, "embeddings")
    v = fan_out(e, heavy=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("cv")
    )
    seed_rows = (
        v.filter(F.pmod(F.col("vec_id"), F.lit(53)) == 11)
        .orderBy("vec_id")
        .limit(PQ_K)
        .collect()
    )
    seeds = [(int(r.vec_id), i, list(r.cv)) for i, r in enumerate(seed_rows)]

    def sub_slice(vec, m):
        return vec[m * PQ_DSUB : (m + 1) * PQ_DSUB]

    def assign_struct(m, cents):
        best = _pq_best_sql(m, cents)
        return F.expr(
            _ns_sql(
                ("sub", str(int(m))),
                ("sv", _sub_sql(m)),
                ("sid", f"{best}.sid"),
                ("dense", f"{best}.dense"),
            )
        )

    seed_subs = {
        m: [(sid, dense, sub_slice(cv, m)) for sid, dense, cv in seeds]
        for m in range(PQ_M)
    }
    a1 = v.select(
        "vec_id",
        F.explode(F.array(*[assign_struct(m, seed_subs[m]) for m in range(PQ_M)])).alias("a"),
    ).select("vec_id", "a.sub", "a.sv", "a.sid")
    cb_rows = (
        a1.select("sub", "sid", F.posexplode("sv").alias("pos", "x"))
        .groupBy("sub", "sid", "pos")
        .agg(F.round(F.avg("x"), _KM_ROUND).alias("m"))
        .groupBy("sub", "sid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("cs")
        )
        .collect()
    )
    dense_of = {sid: dense for sid, dense, _ in seeds}
    codebook: dict[int, list] = {m: [] for m in range(PQ_M)}
    for r in cb_rows:
        codebook[int(r.sub)].append((int(r.sid), dense_of[int(r.sid)], list(r.cs)))
    for m in codebook:
        codebook[m].sort(key=lambda t: t[1])  # dense order → LUT index order

    # encode the corpus against the refreshed codebook (code digits only)
    codes = v.select(
        "vec_id",
        *[
            F.expr(f"{_pq_best_sql(m, codebook[m])}.dense").alias(f"code{m}")
            for m in range(PQ_M)
        ],
    )

    # query LUTs: N_QUERIES bounded driver collect (x10's pattern)
    q_rows = v.filter(F.col("vec_id") < N_QUERIES).collect()

    per_query = []
    for qr in q_rows:
        qv = list(qr.cv)
        luts = [_adc_lut(qv, codebook[m], m) for m in range(PQ_M)]
        adc = " + ".join(_lut_sql(luts[m], f"code{m}") for m in range(PQ_M))
        per_query.append(
            F.expr(
                _ns_sql(
                    ("query_id", str(int(qr.vec_id))),
                    ("adc_d2", f"round({adc}, {_KM_ROUND})"),
                )
            )
        )

    scored = (
        codes.select("vec_id", F.explode(F.array(*per_query)).alias("q"))
        .select(F.col("q.query_id").alias("query_id"), "vec_id", F.col("q.adc_d2").alias("adc_d2"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "adc_d2", "rank")
    )


# ---------------------------------------------------------------------------
# x61: cluster-balanced sampling (embedding-diversity cap)
# ---------------------------------------------------------------------------

_CLUSTER_CAP = 40

_SQL_CLUSTER_CAP_SAMPLE = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
seed AS (SELECT vec_id AS cid, cv AS cent FROM v WHERE vec_id % 53 = 11 ORDER BY vec_id LIMIT {KM_K}),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, seed.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_sum([(v.cv[i] - seed.cent[i]) * (v.cv[i] - seed.cent[i])
                                for i in range(1, len(v.cv)+1)]) ASC, seed.cid ASC) AS r
    FROM v CROSS JOIN seed) WHERE r = 1
)
SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS BIGINT) AS pos,
       ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) <= {_CLUSTER_CAP} AS keep
FROM a1
"""


@query("x61_cluster_balanced_sample", oracle=_SQL_CLUSTER_CAP_SAMPLE)
def x61_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced sampling: cap how many documents any one
    embedding cluster contributes (the diversity-preserving selection
    step after SemDeDup-style clustering — without the cap, a dominant
    mode eats the token budget; with it, every region of embedding
    space keeps at most CAP exemplars). Deterministic: hash-sampled
    seed centroids (the x12/x39 technique), argmin assignment with cid
    tiebreak, within-cluster order by vec_id.

    Scale shape: assignment is the map-only literal-centroid projection
    (scan → project, zero shuffles — kmeans_assign), then ONE slim
    exchange on the cluster key where rank and keep-flag share a single
    window sort; K partitions of ~N/K rows each sort independently. No
    driver traffic beyond the K seed rows."""
    e = T(spark, sf_dir, "embeddings")
    v = fan_out(e, heavy=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("cv")
    )
    seed_rows = (
        v.filter(F.pmod(F.col("vec_id"), F.lit(53)) == 11)
        .orderBy("vec_id")
        .limit(KM_K)
        .collect()
    )
    seeds = [(int(r.vec_id), list(r.cv)) for r in seed_rows]
    assigned = kmeans_assign(v, seeds)
    w = Window.partitionBy("cid").orderBy("vec_id")
    pos = F.row_number().over(w)
    return assigned.select(
        "vec_id",
        F.col("cid").cast("long").alias("cluster_id"),
        pos.cast("long").alias("pos"),
        (pos <= _CLUSTER_CAP).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Persisted PQ (ANN) index: encode once, query many (round-6 VERDICT ask
# #3). The x49 lakehouse-index pattern applied to the embedding side —
# the most index-hungry modality: a 10⁹-vector deployment builds the
# codebook once, stores every vector's M code digits in a lakehouse
# codes table, refreshes O(new vectors) per ingest off the snapshot log
# (consumer bookmark, crash-idempotent range stamps), and answers ADC
# top-k from the STORED codes — raw embeddings are read only for the
# bounded query set, never at scoring time.
#
# The encode/assign expressions intentionally mirror x55/x56 (same
# argmin structs, same rounding) so the lifecycle relation is replayable
# by the same oracle family; x55/x56 keep their inline one-shot builds
# as the driver-scored baseline of the SAME math. (Planned round-8
# cleanup: point x55/x56 at these helpers once window rotation puts
# them back in the driver-scored window — entries must not change code
# while parked, per the round-6 ADVICE #5 rotation rule.)
# ---------------------------------------------------------------------------

PQ_CODEBOOK_SCHEMA = "sub int, dense int, sid long, cs array<double>"
PQ_CODES_SCHEMA = "vec_id long, code0 int, code1 int, code2 int, code3 int"
_PQ_CONSUMER_PREFIX = "__pq-index"


def pq_codebook_name(vecs_table: str) -> str:
    return f"{vecs_table}_pq_codebook"


def pq_codes_name(vecs_table: str) -> str:
    return f"{vecs_table}_pq_codes"


def _pq_sub_slice(vec: list, m: int) -> list:
    return vec[m * PQ_DSUB : (m + 1) * PQ_DSUB]


def _adc_lut(qv: list, cents: list, m: int) -> list:
    """Per-(query, subspace) ADC lookup table keyed by the STORED dense
    digit, not list position: a Lloyd update can drop an empty cluster
    (e.g. two seeds sharing an identical subvector), leaving the dense
    sequence gappy — positional indexing would then score stored codes
    against the wrong centroid (round-7 ADVICE #3). Gap digits are
    never emitted by the encode (it only argmins over surviving
    entries), so their slots are unreachable; +inf keeps any future bug
    loud by ranking last instead of winning."""
    by_dense = {
        dense: sum((x - y) * (x - y) for x, y in zip(_pq_sub_slice(qv, m), cs))
        for _sid, dense, cs in cents
    }
    return [by_dense.get(d, float("inf")) for d in range(max(by_dense) + 1)]


def _pq_best_sql(m: int, cents: list) -> str:
    """SQL text of the argmin sub-centroid struct for subspace m (d2/
    sid struct sort = argmin with sid tiebreak, the oracle's ORDER BY
    d2, sid) — one string, one parse (the _cos_sql driver-cost fix)."""
    structs = ", ".join(
        _ns_sql(
            ("d2", _l2_sql(_sub_sql(m), cs)),
            ("sid", str(int(sid))),
            ("dense", str(int(dense))),
        )
        for sid, dense, cs in cents
    )
    return f"array_sort(array({structs}))[0]"


def _pq_assign_struct(m: int, cents: list):
    """struct(sub, sv, sid) of the argmin sub-centroid for subspace m —
    x55's Lloyd-pass assignment expression."""
    return F.expr(
        _ns_sql(
            ("sub", str(int(m))),
            ("sv", _sub_sql(m)),
            ("sid", f"{_pq_best_sql(m, cents)}.sid"),
        )
    )


def _pq_encode(v: DataFrame, codebook: dict, extra_cols: tuple = ()) -> DataFrame:
    """(vec_id, [extra_cols,] code0..3) via literal-codebook argmin —
    map-only scan → project, zero shuffles (x56's encode expression).
    ``extra_cols`` carries pass-through columns (e.g. the IVF list id)."""
    return v.select(
        "vec_id",
        *extra_cols,
        *[
            F.expr(f"{_pq_best_sql(m, codebook[m])}.dense")
            .cast("int")
            .alias(f"code{m}")
            for m in range(PQ_M)
        ],
    )


def _pq_vecs(df: DataFrame, spread: bool = True) -> DataFrame:
    """``spread=False`` skips the fan_out: the ingest pipeline's
    micro-batch is already in executor hands (not a one-file lakehouse
    scan), and fan_out's plan→RDD partition probe + repartition
    exchange cost more driver/stage time than the ~8k-flop/row bit
    signature they would parallelize."""
    if spread:
        df = fan_out(df, heavy=True)
    return df.select("vec_id", F.col("embedding").cast("array<double>").alias("cv"))


def _codebook_dict(cb_data: list) -> dict:
    """[(sub, dense, sid, cs)] rows → {sub: [(sid, dense, cs)] in dense
    order} (dense order = LUT index order)."""
    codebook: dict[int, list] = {m: [] for m in range(PQ_M)}
    for sub, dense, sid, cs in cb_data:
        codebook[sub].append((sid, dense, cs))
    for m in codebook:
        codebook[m].sort(key=lambda t: t[1])
    return codebook


def load_pq_codebook(spark, catalog, vecs_table: str, table_name: str | None = None) -> dict:
    """Stored codebook → {sub: [(sid, dense, cs)] in dense order} —
    M·K rows, the only driver traffic of the query path."""
    rows = (
        catalog.get_table(table_name or pq_codebook_name(vecs_table))
        .read(spark)
        .collect()
    )
    return _codebook_dict(
        [(int(r.sub), int(r.dense), int(r.sid), list(r.cs)) for r in rows]
    )


def _pq_learn_codebook(v: DataFrame) -> list:
    """x55's codebook trajectory over a persisted (vec_id, cv) relation:
    PQ_K hash-sampled seeds → per-subspace Lloyd assignment → one
    rounded mean update. Returns [(sub, dense, sid, cs)] rows (M·K to
    the driver, the only collect)."""
    seed_rows = (
        v.filter(F.pmod(F.col("vec_id"), F.lit(53)) == 11)
        .orderBy("vec_id")
        .limit(PQ_K)
        .collect()
    )
    if not seed_rows:
        # same first-micro-batch fallback as build_ivf_centroids: no
        # hash-sample-eligible ids → deterministic prefix seeds
        seed_rows = v.orderBy("vec_id").limit(PQ_K).collect()
    seeds = [(int(r.vec_id), i, list(r.cv)) for i, r in enumerate(seed_rows)]
    seed_subs = {
        m: [(sid, dense, _pq_sub_slice(cv, m)) for sid, dense, cv in seeds]
        for m in range(PQ_M)
    }
    a1 = v.select(
        "vec_id",
        F.explode(
            F.array(*[_pq_assign_struct(m, seed_subs[m]) for m in range(PQ_M)])
        ).alias("a"),
    ).select("vec_id", "a.sub", "a.sv", "a.sid")
    cb_rows = (
        a1.select("sub", "sid", F.posexplode("sv").alias("pos", "x"))
        .groupBy("sub", "sid", "pos")
        .agg(F.round(F.avg("x"), _KM_ROUND).alias("m"))
        .groupBy("sub", "sid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("cs")
        )
        .collect()
    )
    dense_of = {sid: dense for sid, dense, _ in seeds}
    return [(int(r.sub), dense_of[int(r.sid)], int(r.sid), list(r.cs)) for r in cb_rows]


def build_pq_codebook(spark, catalog, vecs_table: str, v: DataFrame) -> dict:
    """Learn the per-subspace codebooks from a (vec_id, cv) relation
    and OVERWRITE the codebook table; returns the codebook dict. Split
    out of build_pq_index so the fused IVFADC build (x67) can learn a
    codebook without also materializing the separate codes table."""
    cb_data = _pq_learn_codebook(v)
    cb_name = pq_codebook_name(vecs_table)
    if not catalog.has_table(cb_name):
        catalog.create_table(cb_name, PQ_CODEBOOK_SCHEMA, {})
    # M·K driver-resident rows: commit without a Spark write job
    # (overwrite_rows fast path — r17 optimization, guide §5)
    catalog.get_table(cb_name).overwrite_rows(spark, cb_data)
    return _codebook_dict(cb_data)


def build_pq_index(spark, catalog, vecs_table: str, v: DataFrame | None = None) -> int:
    """Build (or rebuild) the persisted PQ index of a lakehouse vectors
    table: per-subspace codebooks from one Lloyd update over the
    vectors committed so far (hash-sampled seeds, x55's trajectory),
    OVERWRITE-committed to the codebook table; every current vector
    encoded to M code digits in the codes table; consumer bookmark
    registered so refresh_pq_codes resumes O(new vectors).

    Scale shape: the Lloyd update is one (M·K·d_sub)-key aggregation
    with M·K rows to the driver; encoding is a map-only
    literal-codebook projection; the codes write is the only exchange.
    Returns the number of vectors encoded. ``v`` lets a caller building
    several indexes share one persisted (vec_id, cv) relation instead
    of re-scanning the table per build."""
    from advent_of_code_flink_paimon_spark.operators.dedup import pack_refresh_range

    vecs_t = catalog.get_table(vecs_table)
    latest = vecs_t.latest_snapshot_id() or 0
    own = v is None
    if own:
        v = _pq_vecs(vecs_t.read(spark)).persist()
    codebook = build_pq_codebook(spark, catalog, vecs_table, v)
    codes_name = pq_codes_name(vecs_table)
    if not catalog.has_table(codes_name):
        catalog.create_table(codes_name, PQ_CODES_SCHEMA, {})
    # a rebuild REPLACES the codes (old digits are meaningless under a
    # new codebook); the range stamp seeds recover_refresh_bookmark
    codes_t = catalog.get_table(codes_name)
    sid = codes_t.overwrite(
        _pq_encode(v, codebook),
        commit_identifier=pack_refresh_range(1, latest) if latest else None,
    )
    if own:
        v.unpersist()
    vecs_t.register_consumer(f"{_PQ_CONSUMER_PREFIX}-{vecs_table}", latest + 1)
    # encoded-row count off the commit's own snapshot metadata — the
    # count() pass this replaces re-scanned v (r17 optimization)
    return codes_t.added_record_count(sid)


def refresh_pq_codes(spark, catalog, vecs_table: str) -> int:
    """Encode ONLY the vectors committed since the last build/refresh
    against the STORED codebook and append them to the codes table —
    O(new vectors) off the snapshot log via the consumer bookmark,
    crash-idempotent the same way refresh_minhash_index is: the append
    carries the consumed snapshot range, and the bookmark is recovered
    from the codes table's own log before any work."""
    from advent_of_code_flink_paimon_spark.operators.dedup import (
        pack_refresh_range,
        recover_refresh_bookmark,
    )

    vecs_t = catalog.get_table(vecs_table)
    codes_t = catalog.get_table(pq_codes_name(vecs_table))
    consumer_id = f"{_PQ_CONSUMER_PREFIX}-{vecs_table}"
    nxt = vecs_t.consumers().get(consumer_id, {}).get("next_snapshot_id", 1)
    nxt = recover_refresh_bookmark(codes_t, nxt)
    latest = vecs_t.latest_snapshot_id() or 0
    if latest < nxt:
        if nxt > vecs_t.consumers().get(consumer_id, {}).get("next_snapshot_id", 1):
            vecs_t.register_consumer(consumer_id, next_snapshot_id=nxt)
        return 0
    # one pass: encode straight off the incremental read (the old
    # persist + count() pre-pass only derived n, which the commit's
    # snapshot metadata already knows — r17 optimization); an empty
    # batch stages nothing and append() returns None without committing
    fresh = vecs_t.merge_raw(vecs_t.incremental_read(spark, nxt - 1, latest))
    codebook = load_pq_codebook(spark, catalog, vecs_table)
    sid = codes_t.append(
        _pq_encode(_pq_vecs(fresh), codebook),
        commit_identifier=pack_refresh_range(nxt, latest),
    )
    vecs_t.register_consumer(consumer_id, latest + 1)
    return codes_t.added_record_count(sid)


def adc_topk_index(
    spark, catalog, vecs_table: str, k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """ADC top-k probing the PERSISTED codes: the stored codebook (M·K
    rows) and the n_queries query vectors are the only non-codes reads
    — corpus embeddings are untouched at query time (encode-once,
    query-many; what keeps a 10⁹-vector PQ index memory-resident).
    Scoring mirrors x56's expression exactly: per-query M×K LUTs
    inlined as literals, a corpus row scores as M array lookups summed,
    ROUND before the per-query top-k window."""
    codebook = load_pq_codebook(spark, catalog, vecs_table)
    codes = catalog.get_table(pq_codes_name(vecs_table)).read(spark)
    vecs_t = catalog.get_table(vecs_table)
    q_rows = (
        vecs_t.read(spark)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("cv"))
        .filter(F.col("vec_id") < n_queries)
        .collect()
    )

    per_query = []
    for qr in sorted(q_rows, key=lambda r: r.vec_id):
        qv = list(qr.cv)
        luts = [_adc_lut(qv, codebook[m], m) for m in range(PQ_M)]
        adc = " + ".join(_lut_sql(luts[m], f"code{m}") for m in range(PQ_M))
        per_query.append(
            F.expr(
                _ns_sql(
                    ("query_id", str(int(qr.vec_id))),
                    ("adc_d2", f"round({adc}, {_KM_ROUND})"),
                )
            )
        )
    scored = (
        codes.select("vec_id", F.explode(F.array(*per_query)).alias("q"))
        .select(F.col("q.query_id").alias("query_id"), "vec_id", F.col("q.adc_d2").alias("adc_d2"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_d2", "rank")
    )


# x63's oracle: the same PQ CTE trajectory with the codebook derivation
# (seeds + Lloyd statistics) restricted to the CORPUS commit
# (vec_id % 10 <> 0) while the encode and ADC stages cover everything —
# exactly what build-at-commit-1 / refresh-at-commit-2 produces.
_SQL_PQ_CORPUS_BUILD = _SQL_PQ_BUILD.replace(
    "FROM v WHERE vec_id % 53 = 11",
    "FROM v WHERE vec_id % 53 = 11 AND vec_id % 10 <> 0",
).replace(
    "FROM sv JOIN seedsub k USING (sub)) WHERE r = 1",
    "FROM sv JOIN seedsub k USING (sub)\n    WHERE sv.vec_id % 10 <> 0) WHERE r = 1",
)
if _SQL_PQ_CORPUS_BUILD == _SQL_PQ_BUILD:  # pragma: no cover
    raise AssertionError("x63 oracle rewrite did not apply — _SQL_PQ drifted")
_SQL_ADC_TAIL = _SQL_ADC[len(_SQL_PQ_BUILD):]
_SQL_PQ_INDEX_LIFECYCLE = _SQL_PQ_CORPUS_BUILD + _SQL_ADC_TAIL


@query("x63_pq_index_lifecycle", oracle=_SQL_PQ_INDEX_LIFECYCLE)
def x63_pq_index_lifecycle(spark, sf_dir):
    """The persisted ANN index LIFECYCLE as one oracled query (x49's
    shape for the embedding modality): commit 1 writes the corpus
    (vec_id % 10 <> 0) to a lakehouse vectors table and build_pq_index
    learns the codebook from it and encodes it; commit 2 appends the
    batch; refresh_pq_codes encodes ONLY the batch (incremental read
    off the snapshot log) against the STORED codebook; adc_topk_index
    then answers top-k from the stored codes — raw embeddings are
    never re-read for scoring, and the corpus is never re-encoded.

    The DuckDB oracle replays the identical trajectory: codebook
    statistics restricted to the corpus commit, encode + ADC over
    everything, same rounding and tiebreaks."""
    from advent_of_code_flink_paimon_spark.lakehouse import Catalog
    from advent_of_code_flink_paimon_spark.operators.dedup import _mhidx_warehouse

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = F.pmod(F.col("vec_id"), F.lit(10)) == 0

    catalog = Catalog(_mhidx_warehouse("pqidx63", sf_dir), "default")
    vecs_t = catalog.create_table("vecs", "vec_id long, embedding array<float>", {})
    vecs_t.append(e.filter(~is_batch))          # commit 1: the corpus
    build_pq_index(spark, catalog, "vecs")      # codebook + corpus codes
    vecs_t.append(e.filter(is_batch))           # commit 2: today's batch
    refresh_pq_codes(spark, catalog, "vecs")    # O(batch) encode
    return adc_topk_index(spark, catalog, "vecs")


# ----------------------------------------------------------------------
# x64: persisted IVF index — the inverted-file twin of the PQ story
# (x63). An IVF deployment stores the inverted lists THEMSELVES: each
# vector's (list id, vector) row lives in a lakehouse table bucketed on
# the list id, so a query reads only its nprobe probed lists and the
# raw vectors table is never scanned for scoring. Build-once /
# refresh-O(new vectors) via the same consumer-bookmark + range-stamp
# protocol as the MinHash (dedup.py) and PQ indexes.
# ----------------------------------------------------------------------

IVF_CENTROIDS_SCHEMA = "cid long, cent array<double>"
IVF_LISTS_SCHEMA = "vec_id long, cid long, cv array<double>"
_IVF_CONSUMER_PREFIX = "__ivf-index"


def ivf_centroids_name(vecs_table: str) -> str:
    return f"{vecs_table}_ivf_centroids"


def ivf_lists_name(vecs_table: str) -> str:
    return f"{vecs_table}_ivf_lists"


def load_ivf_centroids(spark, catalog, vecs_table: str) -> list:
    """Stored centroids → [(cid, centroid)] in cid order — C rows, the
    only driver traffic of the query path besides the query vectors."""
    rows = catalog.get_table(ivf_centroids_name(vecs_table)).read(spark).collect()
    return sorted((int(r.cid), list(r.cent)) for r in rows)


def _ivf_assign_lists(v: DataFrame, centroids: list) -> DataFrame:
    """(vec_id, cv) → inverted-list rows (vec_id, cid, cv): nprobe=1
    literal-centroid argmax, map-only (x12's scale property)."""
    return ivf_assign(v, centroids, nprobe=1).select(
        "vec_id", F.col("cluster").cast("long").alias("cid"), "cv"
    )


def build_ivf_centroids(spark, catalog, vecs_table: str, v: DataFrame) -> list:
    """Pick the deterministic hash-sampled centroids (x12's pick) from
    a (vec_id, cv) relation and OVERWRITE the centroids table; returns
    [(cid, centroid)]. Split out of build_ivf_index so the fused
    IVFADC build (x67) can learn centroids without also materializing
    the separate lists table."""
    cent_rows = (
        v.filter(F.pmod(F.col("vec_id"), F.lit(61)) == 7)
        .orderBy("vec_id")
        .limit(IVF_CENTROIDS)
        .collect()
    )
    if not cent_rows:
        # a small first micro-batch can contain no hash-sample-eligible
        # ids at all (e.g. every id ≡ 0 mod 20); an ingest pipeline's
        # first-batch build must still produce a working index, so fall
        # back to the deterministic prefix. Oracled lifecycles never
        # hit this (every tested corpus has ids ≡ 7 mod 61).
        cent_rows = v.orderBy("vec_id").limit(IVF_CENTROIDS).collect()
    centroids = [(int(r.vec_id), list(r.cv)) for r in cent_rows]
    cname = ivf_centroids_name(vecs_table)
    if not catalog.has_table(cname):
        catalog.create_table(cname, IVF_CENTROIDS_SCHEMA, {})
    # C driver-resident rows: commit without a Spark write job
    # (overwrite_rows fast path — r17 optimization, guide §5)
    catalog.get_table(cname).overwrite_rows(spark, centroids)
    return centroids


def build_ivf_index(spark, catalog, vecs_table: str, v: DataFrame | None = None) -> int:
    """Build (or rebuild) the persisted IVF index of a lakehouse
    vectors table: deterministic hash-sampled centroids (x12's pick)
    from the vectors committed so far, OVERWRITE-committed to the
    centroids table; every current vector assigned to its list in the
    lists table (bucketed on cid — the probe key); consumer bookmark
    registered so refresh_ivf_lists resumes O(new vectors).

    Scale shape: the centroid pick is a C-row collect; assignment is a
    map-only literal-centroid projection; the lists write is the only
    exchange (into the bucket layout queries probe). Returns the number
    of vectors assigned. ``v`` lets a caller building several indexes
    share one persisted (vec_id, cv) relation."""
    from advent_of_code_flink_paimon_spark.operators.dedup import pack_refresh_range

    vecs_t = catalog.get_table(vecs_table)
    latest = vecs_t.latest_snapshot_id() or 0
    own = v is None
    if own:
        v = _pq_vecs(vecs_t.read(spark)).persist()
    centroids = build_ivf_centroids(spark, catalog, vecs_table, v)
    lname = ivf_lists_name(vecs_table)
    if not catalog.has_table(lname):
        catalog.create_table(lname, IVF_LISTS_SCHEMA, {"bucket": "8", "bucket-key": "cid"})
    # a rebuild REPLACES the lists (old assignments are meaningless
    # under new centroids); the range stamp seeds recover_refresh_bookmark
    lists_t = catalog.get_table(lname)
    sid = lists_t.overwrite(
        _ivf_assign_lists(v, centroids),
        commit_identifier=pack_refresh_range(1, latest) if latest else None,
    )
    if own:
        v.unpersist()
    vecs_t.register_consumer(f"{_IVF_CONSUMER_PREFIX}-{vecs_table}", latest + 1)
    # assigned-row count off the commit's own snapshot metadata — the
    # count() pass this replaces re-scanned v (r17 optimization)
    return lists_t.added_record_count(sid)


def refresh_ivf_lists(spark, catalog, vecs_table: str) -> int:
    """Assign ONLY the vectors committed since the last build/refresh
    against the STORED centroids and append them to the lists table —
    O(new vectors) off the snapshot log via the consumer bookmark,
    crash-idempotent like refresh_pq_codes: the append carries the
    consumed snapshot range, and the bookmark is recovered from the
    lists table's own log before any work."""
    from advent_of_code_flink_paimon_spark.operators.dedup import (
        pack_refresh_range,
        recover_refresh_bookmark,
    )

    vecs_t = catalog.get_table(vecs_table)
    lists_t = catalog.get_table(ivf_lists_name(vecs_table))
    consumer_id = f"{_IVF_CONSUMER_PREFIX}-{vecs_table}"
    nxt = vecs_t.consumers().get(consumer_id, {}).get("next_snapshot_id", 1)
    nxt = recover_refresh_bookmark(lists_t, nxt)
    latest = vecs_t.latest_snapshot_id() or 0
    if latest < nxt:
        if nxt > vecs_t.consumers().get(consumer_id, {}).get("next_snapshot_id", 1):
            vecs_t.register_consumer(consumer_id, next_snapshot_id=nxt)
        return 0
    # one pass: assign straight off the incremental read (the old
    # persist + count() pre-pass only derived n — r17 optimization)
    fresh = vecs_t.merge_raw(vecs_t.incremental_read(spark, nxt - 1, latest))
    centroids = load_ivf_centroids(spark, catalog, vecs_table)
    sid = lists_t.append(
        _ivf_assign_lists(_pq_vecs(fresh), centroids),
        commit_identifier=pack_refresh_range(nxt, latest),
    )
    vecs_t.register_consumer(consumer_id, latest + 1)
    return lists_t.added_record_count(sid)


def ivf_topk_index(
    spark, catalog, vecs_table: str, k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """IVF top-k probing the PERSISTED lists: queries assign to their
    nprobe lists via the stored centroids (C-row collect, literal
    projection), candidates come off the lists table's cid-bucketed
    parquet, exact cosine re-rank within candidates — the raw vectors
    table contributes only the n_queries query vectors. Output schema
    and semantics are exactly x12's."""
    centroids = load_ivf_centroids(spark, catalog, vecs_table)
    lists = catalog.get_table(ivf_lists_name(vecs_table)).read(spark)
    queries_v = (
        catalog.get_table(vecs_table)
        .read(spark)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("cv"))
        .filter(F.col("vec_id") < n_queries)
    )
    queries = ivf_assign(queries_v, centroids, nprobe=IVF_NPROBE).select(
        F.col("vec_id").alias("query_id"),
        F.col("cv").alias("qv"),
        F.col("cluster").cast("long").alias("cid"),
    )
    cands = (
        lists.join(queries, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# x64's oracle: x12's IVF replay with the centroid pick restricted to
# the CORPUS commit (vec_id % 10 <> 0) while assignment and re-rank
# cover everything — exactly what build-at-commit-1 /
# refresh-at-commit-2 produces (the x63 rewrite pattern).
_SQL_IVF_INDEX_LIFECYCLE = _SQL_IVF.replace(
    f"FROM v WHERE vec_id % 61 = 7 ORDER BY vec_id LIMIT {IVF_CENTROIDS}",
    f"FROM v WHERE vec_id % 61 = 7 AND vec_id % 10 <> 0 "
    f"ORDER BY vec_id LIMIT {IVF_CENTROIDS}",
)
if _SQL_IVF_INDEX_LIFECYCLE == _SQL_IVF:  # pragma: no cover
    raise AssertionError("x64 oracle rewrite did not apply — _SQL_IVF drifted")


@query("x64_ivf_index_lifecycle", oracle=_SQL_IVF_INDEX_LIFECYCLE)
def x64_ivf_index_lifecycle(spark, sf_dir):
    """The persisted IVF-index LIFECYCLE as one oracled query (x63's
    shape for the inverted-file method): commit 1 writes the corpus
    (vec_id % 10 <> 0) to a lakehouse vectors table and build_ivf_index
    picks centroids from it and assigns it to lists; commit 2 appends
    the batch; refresh_ivf_lists assigns ONLY the batch (incremental
    read off the snapshot log) against the STORED centroids;
    ivf_topk_index then answers top-k from the stored lists — the
    corpus is never re-assigned and never re-read for scoring.

    The DuckDB oracle replays the identical trajectory: centroid pick
    restricted to the corpus commit, assignment + re-rank over
    everything, same rounding and tiebreaks."""
    from advent_of_code_flink_paimon_spark.lakehouse import Catalog
    from advent_of_code_flink_paimon_spark.operators.dedup import _mhidx_warehouse

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = F.pmod(F.col("vec_id"), F.lit(10)) == 0

    catalog = Catalog(_mhidx_warehouse("ivfidx64", sf_dir), "default")
    vecs_t = catalog.create_table("vecs", "vec_id long, embedding array<float>", {})
    vecs_t.append(e.filter(~is_batch))           # commit 1: the corpus
    build_ivf_index(spark, catalog, "vecs")      # centroids + corpus lists
    vecs_t.append(e.filter(is_batch))            # commit 2: today's batch
    refresh_ivf_lists(spark, catalog, "vecs")    # O(batch) assignment
    return ivf_topk_index(spark, catalog, "vecs")


# ----------------------------------------------------------------------
# x98: IVF list-health report — the governance card for the persisted
# inverted lists (x96's shape for the IVF family, VERDICT r11 ask #6):
# a hot list is the classic nprobe-cost skew (every query probing it
# pays its occupancy), an empty list is wasted centroid budget, and
# both are invisible to the recall reports. One row per CENTROID
# (empty lists included via the left join): occupancy, corpus share,
# occupancy-vs-mean ratio, and the hot flag at _IVF_HOT_FACTOR× mean —
# the rebuild signal (re-learn centroids with build_ivf_index, the x50
# cadence).
#
# Scale shape: the lists scan is pruned to the cid column (no vector
# is ever read — ReadSchema is the 8-byte id), the per-list count is
# one map-side-combinable exchange of ≤C partials riding the lists
# table's own cid bucketing, and the C-row centroid relation and 1-row
# total broadcast. The hot comparison is exact integer arithmetic
# (n_vecs·n_lists vs factor·total), so the flag is partition-order-
# proof on both engines.
# ----------------------------------------------------------------------

_IVF_HOT_FACTOR = 2  # a list hotter than 2x the mean inflates probe cost


def ivf_list_health(spark, catalog, vecs_table: str) -> DataFrame:
    """Per-list occupancy report for the persisted IVF index of
    ``vecs_table`` (columns: cid, n_vecs, share, occ_ratio, hot)."""
    cents = catalog.get_table(ivf_centroids_name(vecs_table)).read(spark).select("cid")
    occ = (
        catalog.get_table(ivf_lists_name(vecs_table))
        .read(spark)
        .groupBy("cid")
        .agg(F.count("*").alias("cnt"))
    )
    per = cents.join(occ, "cid", "left").select(
        "cid", F.coalesce("cnt", F.lit(0)).cast("long").alias("n_vecs")
    )
    tot = per.agg(
        F.sum("n_vecs").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_lists"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n_vecs",
        F.round(F.col("n_vecs").cast("double") / F.col("total"), 6).alias("share"),
        F.round(
            (F.col("n_vecs") * F.col("n_lists")).cast("double") / F.col("total"), 6
        ).alias("occ_ratio"),
        (
            F.col("n_vecs") * F.col("n_lists") > F.lit(_IVF_HOT_FACTOR) * F.col("total")
        ).cast("int").alias("hot"),
    )


# x98's oracle: x64's corpus-restricted centroid pick + the nprobe=1
# assignment over everything (the lists table after build+refresh),
# aggregated per centroid with empty lists preserved by the left join.
_SQL_IVF_LIST_HEALTH = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
cent AS (
    SELECT vec_id AS cid, cv AS cent_v
    FROM v WHERE vec_id % 61 = 7 AND vec_id % 10 <> 0
    ORDER BY vec_id LIMIT {IVF_CENTROIDS}
),
corpus_assign AS (
    SELECT vec_id, cid FROM (
        SELECT c.vec_id, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY {_COS.format(a='c.cv', b='cent.cent_v')} DESC, cent.cid ASC
               ) AS r
        FROM v c CROSS JOIN cent
    ) WHERE r = 1
),
occ AS (
    SELECT cent.cid, CAST(COUNT(ca.vec_id) AS BIGINT) AS n_vecs
    FROM cent LEFT JOIN corpus_assign ca ON ca.cid = cent.cid
    GROUP BY cent.cid
),
tot AS (
    SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS n_lists
    FROM occ
)
SELECT occ.cid, occ.n_vecs,
       ROUND(CAST(occ.n_vecs AS DOUBLE) / tot.total, 6) AS share,
       ROUND(CAST(occ.n_vecs * tot.n_lists AS DOUBLE) / tot.total, 6) AS occ_ratio,
       CASE WHEN occ.n_vecs * tot.n_lists > {_IVF_HOT_FACTOR} * tot.total
            THEN 1 ELSE 0 END AS hot
FROM occ, tot
"""


@query("x98_ivf_index_health", oracle=_SQL_IVF_LIST_HEALTH)
def x98_ivf_index_health(spark, sf_dir):
    """Health-report lifecycle over the embeddings table (x64's
    trajectory): commit the corpus (vec_id % 10 <> 0), build the IVF
    index from it, append the batch, refresh the lists O(batch) at the
    stored centroids — then report per-list occupancy, skew, and hot
    flags from the LISTS TABLE alone. DuckDB replays the deterministic
    centroid pick + argmax assignment and aggregates the same exact
    integers."""
    from advent_of_code_flink_paimon_spark.lakehouse import Catalog
    from advent_of_code_flink_paimon_spark.operators.dedup import _mhidx_warehouse

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = F.pmod(F.col("vec_id"), F.lit(10)) == 0

    catalog = Catalog(_mhidx_warehouse("ivfhealth98", sf_dir), "default")
    vecs_t = catalog.create_table("vecs", "vec_id long, embedding array<float>", {})
    vecs_t.append(e.filter(~is_batch))
    build_ivf_index(spark, catalog, "vecs")
    vecs_t.append(e.filter(is_batch))
    refresh_ivf_lists(spark, catalog, "vecs")
    return ivf_list_health(spark, catalog, "vecs")


class VectorIngestPipeline:
    """foreachBatch pipeline keeping a lakehouse vectors table AND its
    persisted ANN indexes (IVF lists and/or PQ codes) current behind a
    streaming (vec_id, embedding) source — the embedding twin of
    DedupIngestPipeline (dedup.py) and SearchIngestPipeline (text.py).

    Per micro-batch (``sink`` is the foreachBatch body):

    1. append the batch with ``commit_identifier=batch_id`` — replayed
       micro-batches (checkpoint recovery) commit exactly once.
    2. the FIRST non-empty batch triggers the index build (codebooks /
       centroids need data to learn from); every later batch refreshes
       O(batch vectors) via the consumer bookmark, stamped with the
       consumed snapshot range (crash-idempotent).

    Scale shape: per-batch cost is one map-only literal-codebook /
    literal-centroid projection over the batch plus the bucketed index
    append — never a corpus re-encode. A crash anywhere replays into
    no-ops: the data append dedups on batch_id, the index appends dedup
    on the range stamp, and recover_refresh_bookmark heals a lost
    bookmark advance."""

    def __init__(
        self,
        spark,
        catalog,
        vecs_table: str,
        checkpoint_dir: str,
        pq: bool = True,
        ivf: bool = True,
        ivfpq: bool = False,
        ivfpqr: bool = False,
    ):
        self.catalog = catalog
        self.vecs_table, self.checkpoint_dir = vecs_table, checkpoint_dir
        self.pq, self.ivf, self.ivfpq = pq, ivf, ivfpq
        self.ivfpqr = ivfpqr
        if not catalog.has_table(vecs_table):
            catalog.create_table(vecs_table, "vec_id long, embedding array<float>", {})

    def sink(self, batch_df, batch_id: int) -> int:
        """foreachBatch body; returns the number of rows appended."""
        spark = batch_df.sparkSession
        vecs_t = self.catalog.get_table(self.vecs_table)
        batch = batch_df.select("vec_id", "embedding").persist()
        n = batch.count()
        if n:
            vecs_t.append(batch, commit_identifier=batch_id)
            if self.pq:
                if not self.catalog.has_table(pq_codebook_name(self.vecs_table)):
                    build_pq_index(spark, self.catalog, self.vecs_table)
                else:
                    refresh_pq_codes(spark, self.catalog, self.vecs_table)
            if self.ivf:
                if not self.catalog.has_table(ivf_centroids_name(self.vecs_table)):
                    build_ivf_index(spark, self.catalog, self.vecs_table)
                else:
                    refresh_ivf_lists(spark, self.catalog, self.vecs_table)
            if self.ivfpq:
                # the single-table IVFADC layout (x67); its build also
                # (re)writes the centroid/codebook tables it learns from
                if not self.catalog.has_table(ivfpq_name(self.vecs_table)):
                    build_ivfpq_index(spark, self.catalog, self.vecs_table)
                else:
                    refresh_ivfpq_index(spark, self.catalog, self.vecs_table)
            if self.ivfpqr:
                # the residual IVFADC layout (x72, the paper's encoding)
                if not self.catalog.has_table(ivfpqr_name(self.vecs_table)):
                    build_ivfpq_residual_index(spark, self.catalog, self.vecs_table)
                else:
                    refresh_ivfpq_residual_index(spark, self.catalog, self.vecs_table)
        batch.unpersist()
        return n

    def start(self, source):
        """Attach to a streaming (vec_id, embedding) source."""
        from advent_of_code_flink_paimon_spark.streaming.pipelines import start_foreach_batch

        return start_foreach_batch(
            source, f"vector-ingest-{self.vecs_table}",
            lambda df, bid: self.sink(df, bid), self.checkpoint_dir,
        )


# ----------------------------------------------------------------------
# x66: IVF-ADC over the two persisted indexes — the production ANN
# query shape (Jégou, Douze, Schmid 2011 §IV, non-residual variant):
# IVF prunes the candidate set to the query's nprobe lists, PQ codes
# provide the asymmetric distances — so query-time cost is
# (nprobe/C)·N code lookups and NO raw embedding is read for scoring.
# Both indexes are the lakehouse tables x63/x64 maintain.
# ----------------------------------------------------------------------


def ivfpq_adc_topk(
    spark, catalog, vecs_table: str, k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """Top-k via IVF candidate pruning + ADC scoring, both from
    PERSISTED index tables: candidates = the query's nprobe lists off
    the cid-bucketed lists table (slim vec_id/cid projection), scores =
    per-query M×K lookup tables applied to the stored code digits.
    Driver traffic is bounded: C centroids + M·K codebook rows +
    n_queries query vectors. The scoring expression is one CASE over
    query_id per subspace — still a pure codegen projection."""
    centroids = load_ivf_centroids(spark, catalog, vecs_table)
    codebook = load_pq_codebook(spark, catalog, vecs_table)
    lists = (
        catalog.get_table(ivf_lists_name(vecs_table)).read(spark).select("vec_id", "cid")
    )
    codes = catalog.get_table(pq_codes_name(vecs_table)).read(spark)
    queries_v = (
        catalog.get_table(vecs_table)
        .read(spark)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("cv"))
        .filter(F.col("vec_id") < n_queries)
    )
    q_assign = ivf_assign(queries_v, centroids, nprobe=IVF_NPROBE).select(
        F.col("vec_id").alias("query_id"),
        F.col("cluster").cast("long").alias("cid"),
    )
    luts = {
        int(r.vec_id): [_adc_lut(list(r.cv), codebook[m], m) for m in range(PQ_M)]
        for r in queries_v.collect()
    }
    cand = (
        lists.join(q_assign, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    adc = " + ".join(
        "CASE "
        + " ".join(
            f"WHEN (query_id = {int(qid)}) THEN {_lut_sql(luts[qid][m], f'code{m}')}"
            for qid in sorted(luts)
        )
        + " END"
        for m in range(PQ_M)
    )
    scored = cand.join(codes, "vec_id").select(
        "query_id", "vec_id", F.expr(f"round({adc}, {_KM_ROUND})").alias("adc_d2")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_d2", "rank")
    )


# x66's oracle: the corpus-restricted PQ codebook trajectory (x63's
# CTEs) + the corpus-restricted IVF centroid assignment (x64's logic)
# + the ADC tail restricted to candidates sharing one of the query's
# nprobe lists.
_SQL_IVFPQ_LIFECYCLE = _SQL_PQ_CORPUS_BUILD + f"""
, cent AS (
    SELECT vec_id AS cid, cv AS cent_v
    FROM v WHERE vec_id % 61 = 7 AND vec_id % 10 <> 0
    ORDER BY vec_id LIMIT {IVF_CENTROIDS}
),
corpus_assign AS (
    SELECT vec_id, cid FROM (
        SELECT c.vec_id, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY {_COS.format(a='c.cv', b='cent.cent_v')} DESC, cent.cid ASC
               ) AS r
        FROM v c CROSS JOIN cent
    ) WHERE r = 1
),
query_assign AS (
    SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, cent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_COS.format(a='q.cv', b='cent.cent_v')} DESC, cent.cid ASC
               ) AS r
        FROM v q CROSS JOIN cent WHERE q.vec_id < {N_QUERIES}
    ) WHERE r <= {IVF_NPROBE}
),
cand AS (
    SELECT DISTINCT qa.query_id, ca.vec_id
    FROM corpus_assign ca JOIN query_assign qa ON ca.cid = qa.cid
    WHERE ca.vec_id <> qa.query_id
),
qsv AS (
  SELECT vec_id AS query_id, sub, s FROM sv WHERE vec_id < {N_QUERIES}
),
pd AS (
  SELECT q.query_id, c.vec_id, c.sub,
         list_sum([(q.s[i] - cb.cs[i]) * (q.s[i] - cb.cs[i])
                   for i in range(1, {PQ_DSUB}+1)]) AS pd2
  FROM a2 c
  JOIN cb ON cb.sub = c.sub AND cb.sid = c.sid
  JOIN qsv q ON q.sub = c.sub
  JOIN cand ON cand.query_id = q.query_id AND cand.vec_id = c.vec_id
),
sumd AS (
  SELECT query_id, vec_id, ROUND(SUM(pd2), {_KM_ROUND}) AS adc_d2
  FROM pd GROUP BY query_id, vec_id
),
rankedq AS (
  SELECT query_id, vec_id, adc_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_d2 ASC, vec_id ASC) AS rank
  FROM sumd
)
SELECT query_id, vec_id, adc_d2, rank FROM rankedq WHERE rank <= {TOP_K}
"""


@query("x66_ivfpq_adc_topk", oracle=_SQL_IVFPQ_LIFECYCLE)
def x66_ivfpq_adc_topk(spark, sf_dir):
    """The full IVF-ADC lifecycle: commit the corpus, build BOTH
    persisted indexes from it (IVF centroids+lists, PQ codebook+codes),
    commit the batch, refresh BOTH O(batch), then answer top-k with IVF
    candidate pruning + ADC scoring — entirely from the stored index
    tables. The DuckDB oracle replays the identical trajectory with
    both derivations restricted to the corpus commit."""
    from advent_of_code_flink_paimon_spark.lakehouse import Catalog
    from advent_of_code_flink_paimon_spark.operators.dedup import _mhidx_warehouse

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = F.pmod(F.col("vec_id"), F.lit(10)) == 0

    catalog = Catalog(_mhidx_warehouse("ivfpq66", sf_dir), "default")
    vecs_t = catalog.create_table("vecs", "vec_id long, embedding array<float>", {})
    vecs_t.append(e.filter(~is_batch))           # commit 1: the corpus
    # both builds share ONE persisted (vec_id, cv) relation — the
    # corpus is scanned/cast once, not once per index family — and run
    # OVERLAPPED (guide §2.6): the two index families write disjoint
    # tables, so the sequential order was pure driver convention
    v = _pq_vecs(vecs_t.read(spark)).persist()
    _overlap(
        lambda: build_ivf_index(spark, catalog, "vecs", v=v),
        lambda: build_pq_index(spark, catalog, "vecs", v=v),
    )
    v.unpersist()
    vecs_t.append(e.filter(is_batch))            # commit 2: today's batch
    _overlap(
        lambda: refresh_ivf_lists(spark, catalog, "vecs"),
        lambda: refresh_pq_codes(spark, catalog, "vecs"),
    )
    return ivfpq_adc_topk(spark, catalog, "vecs")


# ----------------------------------------------------------------------
# x67: the SINGLE-TABLE IVFADC index (Jégou et al. 2011 §IV as
# deployed): one lakehouse table (cid, vec_id, code0..3) bucketed on
# cid holds the inverted lists WITH their PQ codes, so the query path
# is scan → literal projection → filter → window — ZERO joins. x66
# composes the two separate index tables (lists ⋈ codes on vec_id —
# a candidate-sized shuffle at query time); this layout is what removes
# that join at 10⁹ vectors: probed lists prune on the bucketed cid,
# scores come off the same row's code digits.
# ----------------------------------------------------------------------

IVFPQ_SCHEMA = "cid long, vec_id long, code0 int, code1 int, code2 int, code3 int"
_IVFPQ_CONSUMER_PREFIX = "__ivfpq-index"


def ivfpq_name(vecs_table: str) -> str:
    return f"{vecs_table}_ivfpq"


def _ivfpq_rows(v: DataFrame, centroids: list, codebook: dict) -> DataFrame:
    """(vec_id, cv) → (cid, vec_id, code0..3): IVF assignment and PQ
    encode fused into ONE map-only literal projection."""
    assigned = ivf_assign(v, centroids, nprobe=1).select(
        F.col("cluster").cast("long").alias("cid"), "vec_id", "cv"
    )
    return _pq_encode(assigned, codebook, extra_cols=("cid",)).select(
        "cid", "vec_id", "code0", "code1", "code2", "code3"
    )


def build_ivfpq_index(spark, catalog, vecs_table: str) -> int:
    """Build the combined IVFADC index: centroids and PQ codebook are
    learned from the committed corpus (into the same centroid/codebook
    tables x63/x64 use — but WITHOUT materializing the separate
    lists/codes tables this layout replaces), then every vector lands
    in the single bucketed (cid, vec_id, codes) table via one fused
    map-only projection; the bucketed write is the only exchange."""
    from advent_of_code_flink_paimon_spark.operators.dedup import pack_refresh_range

    vecs_t = catalog.get_table(vecs_table)
    latest = vecs_t.latest_snapshot_id() or 0
    v = _pq_vecs(vecs_t.read(spark)).persist()
    # centroid pick and codebook learn are independent of each other
    # (disjoint output tables, both read the shared persisted v) —
    # overlap them (guide §2.6)
    centroids, codebook = _overlap(
        lambda: build_ivf_centroids(spark, catalog, vecs_table, v),
        lambda: build_pq_codebook(spark, catalog, vecs_table, v),
    )
    name = ivfpq_name(vecs_table)
    if not catalog.has_table(name):
        catalog.create_table(name, IVFPQ_SCHEMA, {"bucket": "8", "bucket-key": "cid"})
    idx_t = catalog.get_table(name)
    sid = idx_t.overwrite(
        _ivfpq_rows(v, centroids, codebook),
        commit_identifier=pack_refresh_range(1, latest) if latest else None,
    )
    v.unpersist()
    vecs_t.register_consumer(f"{_IVFPQ_CONSUMER_PREFIX}-{vecs_table}", latest + 1)
    # encoded-row count off the commit's own snapshot metadata — the
    # count() pass this replaces re-scanned v (r17 optimization)
    return idx_t.added_record_count(sid)


def refresh_ivfpq_index(spark, catalog, vecs_table: str) -> int:
    """Assign+encode ONLY newly committed vectors against the STORED
    centroids/codebook and append — O(new vectors), range-stamped,
    crash-idempotent (the x49/x63/x64 protocol)."""
    from advent_of_code_flink_paimon_spark.operators.dedup import (
        pack_refresh_range,
        recover_refresh_bookmark,
    )

    vecs_t = catalog.get_table(vecs_table)
    idx_t = catalog.get_table(ivfpq_name(vecs_table))
    consumer_id = f"{_IVFPQ_CONSUMER_PREFIX}-{vecs_table}"
    nxt = vecs_t.consumers().get(consumer_id, {}).get("next_snapshot_id", 1)
    nxt = recover_refresh_bookmark(idx_t, nxt)
    latest = vecs_t.latest_snapshot_id() or 0
    if latest < nxt:
        if nxt > vecs_t.consumers().get(consumer_id, {}).get("next_snapshot_id", 1):
            vecs_t.register_consumer(consumer_id, next_snapshot_id=nxt)
        return 0
    # one pass: assign+encode straight off the incremental read (the
    # old persist + count() pre-pass only derived n — r17 optimization)
    fresh = vecs_t.merge_raw(vecs_t.incremental_read(spark, nxt - 1, latest))
    centroids = load_ivf_centroids(spark, catalog, vecs_table)
    codebook = load_pq_codebook(spark, catalog, vecs_table)
    sid = idx_t.append(
        _ivfpq_rows(_pq_vecs(fresh), centroids, codebook),
        commit_identifier=pack_refresh_range(nxt, latest),
    )
    vecs_t.register_consumer(consumer_id, latest + 1)
    return idx_t.added_record_count(sid)


# Size gate for the ANN probe plan shape (VERDICT.md r9 ask #3): the
# zero-join literal shape evaluates Q·nprobe inline structs per index
# row BEFORE its cid filter — the right trade for the deployed
# small-per-wave query batches, but at a production batch of thousands
# of queries the pre-filter projection dominates. Past this many
# (query, probed-list) pairs the probe switches to a broadcast hash
# join on cid: the (query_id, cid, lut…) relation is Q·nprobe rows of
# M K-float arrays (a few MB at any realistic batch), each index row
# meets ONLY its matching probe rows, and the index still never
# shuffles (the join is map-side; only the top-k window exchanges).
_PROBE_LITERAL_MAX = 64


def _adc_broadcast_probe(spark, idx: DataFrame, pair_luts: list, k: int) -> DataFrame:
    """Broadcast-join probe shape shared by x67/x72: ``pair_luts`` is
    [(query_id, cid, [lut_0..lut_{M-1}])] — one row per (query, probed
    list) with that pair's ADC lookup tables. Identical arithmetic to
    the literal shape (same element_at lookups, same m-order sum, same
    rounding), so the two shapes are value-identical — asserted in
    tests/test_extensions.py at 10× the report's query-batch size."""
    rows = [(int(qid), int(cid), *[[float(x) for x in lut] for lut in luts])
            for qid, cid, luts in pair_luts]
    schema = "query_id long, cid long, " + ", ".join(
        f"lut{m} array<double>" for m in range(PQ_M)
    )
    probe = spark.createDataFrame(rows, schema)
    adc = None
    for m in range(PQ_M):
        term = F.element_at(F.col(f"lut{m}"), F.col(f"code{m}") + 1)
        adc = term if adc is None else adc + term
    scored = (
        idx.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(adc, _KM_ROUND).alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_d2", "rank")
    )


def ivfpq_onetable_topk(
    spark, catalog, vecs_table: str, k: int = TOP_K, n_queries: int = N_QUERIES,
    shape: str | None = None,
) -> DataFrame:
    """IVFADC query with ZERO joins: per query, the probed cid set and
    the M×K lookup tables inline as literals, each index row explodes
    into its matching queries (array filter on cid), scores sum M
    array lookups, one per-query top-k window. The plan is scan of the
    bucketed index → project/explode → filter → window — the shape
    that holds at 10⁹ vectors (probed-list pruning rides the cid
    bucketing; nothing shuffles but the top-k window's partial
    ranks).

    ``shape``: 'literal' (the zero-join plan above), 'broadcast' (the
    large-batch plan — see _PROBE_LITERAL_MAX), or None = auto-gate on
    Q·nprobe. Both shapes are value-identical."""
    centroids = load_ivf_centroids(spark, catalog, vecs_table)
    codebook = load_pq_codebook(spark, catalog, vecs_table)
    idx = catalog.get_table(ivfpq_name(vecs_table)).read(spark)
    queries_v = (
        catalog.get_table(vecs_table)
        .read(spark)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("cv"))
        .filter(F.col("vec_id") < n_queries)
    )
    probed = {
        int(r.vec_id): sorted(int(p.cid) for p in r.probes)
        for r in ivf_assign(queries_v, centroids, nprobe=IVF_NPROBE)
        .groupBy("vec_id")
        .agg(F.collect_list(F.struct(F.col("cluster").alias("cid"))).alias("probes"))
        .collect()
    }
    luts = {
        int(r.vec_id): [_adc_lut(list(r.cv), codebook[m], m) for m in range(PQ_M)]
        for r in queries_v.collect()
    }
    n_pairs = sum(len(cids) for cids in probed.values())
    if shape is None:
        shape = "literal" if n_pairs <= _PROBE_LITERAL_MAX else "broadcast"
    if shape == "broadcast":
        pair_luts = [
            (qid, cid, luts[qid]) for qid in sorted(luts) for cid in probed[qid]
        ]
        return _adc_broadcast_probe(spark, idx, pair_luts, k)
    per_query = []
    for qid in sorted(luts):
        adc = " + ".join(_lut_sql(luts[qid][m], f"code{m}") for m in range(PQ_M))
        hit = (
            "array_contains(array("
            + ", ".join(str(int(c)) for c in probed[qid])
            + "), cid)"
        )
        per_query.append(
            F.expr(
                _ns_sql(
                    ("query_id", str(int(qid))),
                    ("hit", hit),
                    ("adc_d2", f"round({adc}, {_KM_ROUND})"),
                )
            )
        )
    scored = (
        idx.select("cid", "vec_id", F.explode(F.array(*per_query)).alias("q"))
        .filter(F.col("q.hit") & (F.col("vec_id") != F.col("q.query_id")))
        .select(F.col("q.query_id").alias("query_id"), "vec_id", F.col("q.adc_d2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_d2", "rank")
    )


@query("x67_ivfpq_onetable_topk", oracle=_SQL_IVFPQ_LIFECYCLE)
def x67_ivfpq_onetable_topk(spark, sf_dir):
    """The single-table IVFADC lifecycle: same commit/build/commit/
    refresh trajectory as x66, but the index is ONE bucketed
    (cid, vec_id, codes) table and the query plan has NO join — the
    final relation is identical to x66's, so the same DuckDB oracle
    hashes it (candidate sets and ADC scores are the same math; only
    the physical layout differs)."""
    from advent_of_code_flink_paimon_spark.lakehouse import Catalog
    from advent_of_code_flink_paimon_spark.operators.dedup import _mhidx_warehouse

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = F.pmod(F.col("vec_id"), F.lit(10)) == 0

    catalog = Catalog(_mhidx_warehouse("ivfpq67", sf_dir), "default")
    vecs_t = catalog.create_table("vecs", "vec_id long, embedding array<float>", {})
    vecs_t.append(e.filter(~is_batch))           # commit 1: the corpus
    build_ivfpq_index(spark, catalog, "vecs")    # centroids+codebook+fused index
    vecs_t.append(e.filter(is_batch))            # commit 2: today's batch
    refresh_ivfpq_index(spark, catalog, "vecs")  # O(batch) fused assign+encode
    return ivfpq_onetable_topk(spark, catalog, "vecs")


# ----------------------------------------------------------------------
# x68: ANN recall report — the quality-evaluation pass every ANN
# deployment runs before trusting an index: recall@k of the IVF
# candidate path against the exact brute-force top-k, per query. Both
# sides are this module's own oracled relations (x10 exact, x12 IVF),
# so the report itself is exactly replayable.
# ----------------------------------------------------------------------

def ann_recall(exact: DataFrame, approx: DataFrame, k: int = TOP_K) -> DataFrame:
    """recall@k per query: |approx ∩ exact| / k over two (query_id,
    vec_id, …) top-k relations. A left join from the exact side (k rows
    per query — tiny) counts hits; the exact-integer count divided by
    the integer k is an engine-parity-safe double."""
    return (
        exact.select("query_id", "vec_id")
        .join(
            approx.select("query_id", "vec_id").withColumn("hit", F.lit(1)),
            ["query_id", "vec_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"))
        .select(
            "query_id",
            "n_hit",
            (F.col("n_hit").cast("double") / F.lit(k)).alias("recall"),
        )
    )


# ----------------------------------------------------------------------
# x90: candidate-restricted embedding near-dup — the DECLARED default
# embedding-dedup path (VERDICT.md r9 ask #2), replacing the retired
# exact all-pairs x06 (now the library ground-truth gate). Shape:
# data-scaled hyperplane-LSH banding generates candidate pairs via a
# band-key equi-join, then EXACT cosine verifies candidates only — the
# text-side x03/x46 pattern applied to embeddings.
#
# Data-scaled banding: a fixed band width r keeps at most 2^r buckets
# per band, so on a corpus with no similarity margin in-bucket pair
# volume grows quadratically. Here r grows with the corpus —
# r = clamp(ceil(log2(n / OCC)), MIN, MAX) — holding expected random
# bucket occupancy at ~OCC vectors, so candidate volume is
# bands · n · OCC / 2 ≈ LINEAR in n — MEASURED: 1.00× wall at 5×
# rows in BENCH_scale (r steps 6→9, candidate volume flat) vs the
# exact x06's 14–16×. Recall at a
# threshold c is 1 − (1 − p^r)^bands with p = 1 − acos(c)/π: on the
# near-random testdata at c = 0.35 that is ~0.92 at sf0.01 (r=4) and
# ~0.44 at sf0.1 (r=6) — measured honestly in x68's pair-recall row —
# the no-margin pathology x06's docstring derives. On real clustered
# corpora at near-dup thresholds (c ≥ 0.9, p = 0.856) the same shape
# gives recall 1 − (1 − 0.856^r)^bands ≈ 0.93 at r=8/bands=8 while
# pruning random pairs by 2^r per band. At 100 TB: r ≈ log2(n/OCC)
# keeps per-bucket work constant; the band-key join shuffles slim
# (vec_id, key) rows only; vectors are re-joined for the verify at
# candidate (not pair) volume.
# ----------------------------------------------------------------------

_X90_TARGET_OCC = 32  # expected random-bucket occupancy the banding holds
_X90_MIN_BITS = 4
_X90_MAX_BITS = 16  # band keys pack as band·2^16 + bits, so r ≤ 16

# Identical closed form on three engines (Python driver, DuckDB SQL);
# log2 of moderate ints cannot straddle an integer boundary within an
# ulp, so ceil() agrees.
_X90_R_SQL = (
    "GREATEST({mn}, LEAST({mx}, CAST(CEIL(LOG2(GREATEST({n}, 2) / {occ}.0)) AS INT)))"
)


def _x90_band_bits(n: int) -> int:
    """Band width for a corpus of n vectors — the Python twin of
    :data:`_X90_R_SQL` (the oracle recomputes it from COUNT(*))."""
    import math

    return max(_X90_MIN_BITS, min(_X90_MAX_BITS, math.ceil(math.log2(max(n, 2) / _X90_TARGET_OCC))))


@functools.lru_cache(maxsize=8)
def _x90_bits(col: str):
    """array<int> of LSH_PLANES sign bits — the full hyperplane
    signature, band grouping deferred so the band width can be a
    runtime column (the planes are the shared x11 literals).

    Built as ONE F.expr string (a single JVM round-trip) and
    lru_cached: the column-by-column form made 64 planes × 64 dims of
    py4j calls — ~4 s of DRIVER time per invocation, the dominant
    per-batch fixed cost in VectorDedupIngestPipeline (VERDICT r10
    ask #2). The SQL `aggregate(zip_with(...))` fold and the `0.0D` /
    `> 0` literals are semantically identical to the old
    F.aggregate/F.zip_with build, so the oracle parity argument is
    unchanged (same element-order fold, same literals)."""
    basis = _lsh_basis()
    cases = []
    for p in range(LSH_PLANES):
        plane = ", ".join(f"{float(v)!r}D" for v in basis[:, p])
        cases.append(
            f"CASE WHEN aggregate(zip_with({col}, array({plane}),"
            " (x, y) -> x * y), 0.0D, (a, x) -> a + x) > 0"
            " THEN 1 ELSE 0 END"
        )
    return F.expr("array(" + ", ".join(cases) + ")")


def _x90_bits_sql(col: str) -> str:
    """The DuckDB twin of :func:`_x90_bits`: same literals, same fold."""
    basis = _lsh_basis()
    cases = []
    for p in range(LSH_PLANES):
        plane = "[" + ", ".join(repr(float(v)) for v in basis[:, p]) + "]"
        cases.append(f"(CASE WHEN list_dot_product({col}, {plane}) > 0 THEN 1 ELSE 0 END)")
    return "[" + ", ".join(cases) + "]"


@functools.lru_cache(maxsize=32)
def _x90_keys(r: int):
    """array of ⌊64/r⌋ band keys: bits[i·r+j+1] packed little-endian,
    key offset band·2^16 — one bigint equi-join key per band, same
    arithmetic as the oracle (shifts of exact small ints). One cached
    F.expr per width (same driver-cost rationale as _x90_bits)."""
    keys = []
    for i in range(LSH_PLANES // r):
        terms = [f"CAST({i * 65536} AS BIGINT)"] + [
            f"CAST(element_at(bits, {i * r + j + 1}) AS BIGINT)"
            f" * CAST({1 << j} AS BIGINT)"
            for j in range(r)
        ]
        keys.append(" + ".join(terms))
    return F.expr("array(" + ", ".join(keys) + ")")


def _sql_x90() -> str:
    from advent_of_code_flink_paimon_spark.operators.dedup import _COSINE_DUP_THRESHOLD

    r_sql = _X90_R_SQL.format(
        mn=_X90_MIN_BITS, mx=_X90_MAX_BITS, n="COUNT(*)", occ=_X90_TARGET_OCC
    )
    cos = _COS.format(a="va.vv", b="vb.vv")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
    p AS (SELECT {r_sql} AS r FROM v),
    bits AS (SELECT vec_id, {_x90_bits_sql('vv')} AS b FROM v),
    banded AS (
        SELECT vec_id,
               bands.i * 65536 + CAST(list_sum(list_transform(range(0, p.r),
                   j -> CAST(b[bands.i * p.r + j + 1] AS BIGINT) << j)) AS BIGINT) AS key
        FROM bits, p, (SELECT UNNEST(range(0, 64 // r)) AS i FROM p) bands
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        FROM banded a JOIN banded b USING (key)
        WHERE a.vec_id < b.vec_id
    )
    SELECT c.i, c.j, ROUND({cos}, 4) AS cosine
    FROM cand c JOIN v va ON va.vec_id = c.i JOIN v vb ON vb.vec_id = c.j
    WHERE ROUND({cos}, 4) >= {_COSINE_DUP_THRESHOLD}
    """


@query("x90_dedup_embedding_lsh_verify", oracle=_sql_x90())
def x90_dedup_embedding_lsh_verify(spark, sf_dir, max_vec_id: int | None = None):
    """Embedding near-dup pairs above the x06 cosine threshold,
    candidate-restricted: data-scaled LSH banding → band-key equi-join
    → exact cosine verify on candidates only (module header derives
    recall and the linear candidate-volume bound). Output schema is
    x06's (i, j, cosine), so the library ground truth measures this
    path's pair recall directly (x68's query_id = −1 row).

    Plan: one count for the corpus size (column-pruned scan — the only
    driver traffic, the index-build-time statistic every LSH deployment
    records anyway), the band width inlined as a literal, slim
    (vec_id, key) rows through the candidate self-join, vectors
    re-joined at candidate volume for the verify. Pure equi-joins —
    no all-pairs node anywhere (asserted in tests/test_plans.py).
    The static plan evaluates the 64-plane signature once per
    self-join branch; at production scale the banded relation is a
    PERSISTED table, not a per-query projection — exactly what
    VectorDedupIngestPipeline's band index materializes — so the
    signature cost is paid once per vector's lifetime, not per run."""
    from advent_of_code_flink_paimon_spark.operators.dedup import _COSINE_DUP_THRESHOLD

    e = T(spark, sf_dir, "embeddings")
    if max_vec_id is not None:  # bounded ground-truth sample (x68's protocol)
        e = e.filter(F.col("vec_id") < max_vec_id)
    v = fan_out(e, heavy=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vv")
    )
    # band width from footer metadata — no plan-time corpus pass; the
    # bounded-sample branch filters rows, so only IT still pays a count
    r = _x90_band_bits(
        v.count() if max_vec_id is not None else footer_row_count(sf_dir, "embeddings")
    )
    banded = (
        v.select("vec_id", _x90_bits("vv").alias("bits"))
        .select("vec_id", F.explode(_x90_keys(r)).alias("key"))
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), "key")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("i"), F.col("b.vec_id").alias("j"))
        .distinct()
    )
    va = v.select(F.col("vec_id").alias("i"), F.col("vv").alias("av"), _norm("vv").alias("na"))
    vb = v.select(F.col("vec_id").alias("j"), F.col("vv").alias("bv"), _norm("vv").alias("nb"))
    return (
        cand.join(va, "i")
        .join(vb, "j")
        .select(
            "i",
            "j",
            F.round(_dot("av", "bv") / (F.col("na") * F.col("nb")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= _COSINE_DUP_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# x111: SEMANTIC eval-set decontamination (round 14) — the embedding-
# space twin of x110's lexical card. Reformatted eval copies that even
# shingle Jaccard misses (translations of boilerplate, heavy
# paraphrase) stay close in embedding space; modern pipelines
# (SemDeDup-style) therefore decontaminate by cosine too. Cross-slice
# banding: train vectors (vec_id % 10 >= 2) band-join against the
# small eval side (vec_id % 10 < 2) on the x90 band keys, exact-cosine
# verify on candidates only. Unlike x110 (margin argument), the oracle
# REPLICATES the banding bit-for-bit (the x90 protocol) — outputs
# match by construction, no recall assumption.
# ---------------------------------------------------------------------------


def _sql_x111() -> str:
    from advent_of_code_flink_paimon_spark.operators.dedup import _COSINE_DUP_THRESHOLD

    r_sql = _X90_R_SQL.format(
        mn=_X90_MIN_BITS, mx=_X90_MAX_BITS, n="COUNT(*)", occ=_X90_TARGET_OCC
    )
    cos = _COS.format(a="va.vv", b="vb.vv")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
    p AS (SELECT {r_sql} AS r FROM v),
    bits AS (SELECT vec_id, {_x90_bits_sql('vv')} AS b FROM v),
    banded AS (
        SELECT vec_id,
               bands.i * 65536 + CAST(list_sum(list_transform(range(0, p.r),
                   j -> CAST(b[bands.i * p.r + j + 1] AS BIGINT) << j)) AS BIGINT) AS key
        FROM bits, p, (SELECT UNNEST(range(0, 64 // r)) AS i FROM p) bands
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        FROM banded a JOIN banded b USING (key)
        WHERE a.vec_id % 10 >= 2 AND b.vec_id % 10 < 2
    ),
    pairs AS (
        SELECT c.i, c.j, ROUND({cos}, 4) AS cosine
        FROM cand c JOIN v va ON va.vec_id = c.i JOIN v vb ON vb.vec_id = c.j
        WHERE ROUND({cos}, 4) >= {_COSINE_DUP_THRESHOLD}
    )
    SELECT CAST(i AS BIGINT) AS train_vec,
           COUNT(*) AS n_eval_matches,
           MAX(cosine) AS max_cosine,
           CAST(MIN(j) AS BIGINT) AS first_eval_vec
    FROM pairs
    GROUP BY i
    """


@query("x111_semantic_decontaminate", oracle=_sql_x111())
def x111_semantic_decontaminate(spark, sf_dir):
    """Embedding-cosine contamination of the train slice (vec_id % 10
    >= 2) by the eval slice (vec_id % 10 < 2) at the x06/x90 dup
    threshold: per contaminated train vector, the eval-match count,
    the worst (max) cosine, and the lowest matching eval vec_id (the
    deterministic audit pointer).

    Scale shape: the signature/banding pass is x90's (shared literal
    planes, data-scaled band width computed over the WHOLE corpus so
    both slices band identically); the candidate join is train-bands
    x eval-bands — linear in train bands with the small eval relation
    as the probe side, never a corpus self-join. Exact cosine verify
    at candidate volume only; pure equi-joins (plan-swept)."""
    from advent_of_code_flink_paimon_spark.operators.dedup import _COSINE_DUP_THRESHOLD

    v = fan_out(T(spark, sf_dir, "embeddings"), heavy=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vv")
    )
    # band width from footer metadata (VERDICT r14 ask #7) — the
    # corpus-sizing count is plan-build O(footers), not a data scan;
    # both slices still band identically because the width input is
    # the SAME whole-corpus row count the oracle's COUNT(*) computes
    r = _x90_band_bits(footer_row_count(sf_dir, "embeddings"))
    banded = (
        v.select("vec_id", _x90_bits("vv").alias("bits"))
        .select("vec_id", F.explode(_x90_keys(r)).alias("key"))
    )
    is_eval = F.pmod(F.col("vec_id"), F.lit(10)) < 2
    cand = (
        banded.filter(~is_eval).alias("a")
        .join(banded.filter(is_eval).alias("b"), "key")
        .select(F.col("a.vec_id").alias("i"), F.col("b.vec_id").alias("j"))
        .distinct()
    )
    va = v.select(F.col("vec_id").alias("i"), F.col("vv").alias("av"), _norm("vv").alias("na"))
    vb = v.select(F.col("vec_id").alias("j"), F.col("vv").alias("bv"), _norm("vv").alias("nb"))
    pairs = (
        cand.join(va, "i")
        .join(vb, "j")
        .select(
            "i", "j",
            F.round(_dot("av", "bv") / (F.col("na") * F.col("nb")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= _COSINE_DUP_THRESHOLD)
    )
    return pairs.groupBy(F.col("i").cast("long").alias("train_vec")).agg(
        F.count(F.lit(1)).alias("n_eval_matches"),
        F.max("cosine").alias("max_cosine"),
        F.min("j").cast("long").alias("first_eval_vec"),
    )


# x111 shipped library-gated in round 14 (the x101-x110 path); round 15
# PROMOTES it into the scored registry (VERDICT r14 ask #2).


from advent_of_code_flink_paimon_spark.operators.registry import (  # noqa: E402
    ORACLES as _ORACLES,
)
from advent_of_code_flink_paimon_spark.operators.dedup import (  # noqa: E402
    _SQL_X06_EXACT,
)

# The pair-recall row measures x90 against the exact x06 on a BOUNDED
# ground-truth sample (vec_id < _X68_GT_SAMPLE): at production scale
# the exact all-pairs relation is precisely what x90 retired, so the
# recall protocol — like x68's per-query side — runs on a sample. The
# bound covers the whole corpus at the driver/oracle SFs (500 vecs),
# so the scored relation is unchanged there; at bench SF it caps the
# ground-truth cost at sample² instead of corpus².
_X68_GT_SAMPLE = 1000


def _bounded(sql: str) -> str:
    out = sql.replace("FROM embeddings", f"FROM embeddings WHERE vec_id < {_X68_GT_SAMPLE}", 1)
    if out == sql:  # pragma: no cover
        raise AssertionError("x68 ground-truth bound splice failed")
    return out


_SQL_ANN_RECALL = f"""
SELECT e.query_id,
       CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
       CAST(COUNT(a.vec_id) AS BIGINT) * 1.0 / {TOP_K} AS recall
FROM ({_ORACLES["x10_embedding_topk"]}) e
LEFT JOIN ({_ORACLES["x12_embedding_topk_ivf"]}) a
  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY e.query_id
UNION ALL
SELECT -1 AS query_id,
       CAST(COUNT(c.i) AS BIGINT) AS n_hit,
       CAST(COUNT(c.i) AS BIGINT) * 1.0 / GREATEST(COUNT(*), 1) AS recall
FROM ({_bounded(_SQL_X06_EXACT)}) e
LEFT JOIN ({_bounded(_sql_x90())}) c ON e.i = c.i AND e.j = c.j
"""


@query("x68_ann_recall", oracle=_SQL_ANN_RECALL)
def x68_ann_recall(spark, sf_dir):
    """Recall@k of the IVF path (x12) against the exact brute-force
    top-k (x10), per query — the evaluation pass that decides whether
    an ANN index's nprobe/C setting is trustworthy before it serves
    retrieval. Both inputs are this module's own oracled relations, so
    the report replays exactly: the DuckDB oracle left-joins the two
    oracle SQLs and counts hits the same way.

    Scale shape: the exact side is the declared O(n·q) baseline (q
    bounded query vectors broadcast — x10's audited plan); the
    comparison itself touches only 2·k·q rows. In production the exact
    side runs on a SAMPLE of queries — the report's cost is the ground
    truth, not the join.

    Round 10: one extra row (query_id = −1) reports the PAIR recall of
    the declared candidate-restricted embedding-dedup path (x90)
    against the exact all-pairs ground truth (x06, library-gated):
    n_hit = |x90 ∩ x06| and recall = n_hit / |x06|, both computed on a
    BOUNDED ground-truth sample (vec_id < _X68_GT_SAMPLE — the whole
    corpus at the oracle SFs; at production scale the exact relation
    only exists on a sample, which is the point of retiring x06). This
    is the evidence the retirement rests on — the approximate default
    is measured, not assumed."""
    per_query = ann_recall(
        x10_embedding_topk(spark, sf_dir), x12_embedding_topk_ivf(spark, sf_dir)
    )
    from advent_of_code_flink_paimon_spark.operators.dedup import (
        x06_dedup_embedding_cosine,
    )

    exact = x06_dedup_embedding_cosine(
        spark, sf_dir, max_vec_id=_X68_GT_SAMPLE
    ).select("i", "j")
    cand = (
        x90_dedup_embedding_lsh_verify(spark, sf_dir, max_vec_id=_X68_GT_SAMPLE)
        .select("i", "j")
        .withColumn("hit", F.lit(1))
    )
    pair_row = (
        exact.join(cand, ["i", "j"], "left")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
            F.count("*").alias("n_exact"),
        )
        .select(
            F.lit(-1).cast("long").alias("query_id"),
            "n_hit",
            (
                F.col("n_hit").cast("double")
                / F.greatest(F.col("n_exact"), F.lit(1).cast("long"))
            ).alias("recall"),
        )
    )
    return per_query.unionByName(pair_row)


# ----------------------------------------------------------------------
# x72: RESIDUAL IVFADC (Jégou, Douze, Schmid 2011 §IV.A, the paper's
# actual encoding) — x66/x67 quantize the raw vector; the published
# IVFADC quantizes the RESIDUAL r(x) = x − c(x) of each vector from its
# assigned coarse centroid. Residuals concentrate near the origin, so
# the same M×K codebook budget spends its resolution on the
# within-cell displacement instead of re-describing the cell location the
# coarse quantizer already encodes — the reason every production IVFADC
# (Faiss IndexIVFPQ) defaults to residual encoding. Query time, the
# lookup tables are built per (query, probed list) from the query's
# OWN residual against that list's centroid: q − c_l.
# Index layout is x67's single bucketed (cid, vec_id, codes) table —
# the deployed shape — with its own residual codebook side table.
# ----------------------------------------------------------------------

_IVFPQR_CONSUMER_PREFIX = "__ivfpqr-index"


def ivfpqr_name(vecs_table: str) -> str:
    return f"{vecs_table}_ivfpqr"


def rpq_codebook_name(vecs_table: str) -> str:
    return f"{vecs_table}_rpq_codebook"


def _centroid_df(spark, centroids: list) -> DataFrame:
    return spark.createDataFrame(
        [(int(cid), list(cent)) for cid, cent in centroids],
        "cid long, cent array<double>",
    )


def _residualize(spark, v: DataFrame, centroids: list) -> DataFrame:
    """(vec_id, cv) → (vec_id, cid, cv=residual): nprobe=1 literal
    assignment (map-only), then a broadcast join against the C-row
    centroid table and one zip_with subtraction — still scan → project
    with a map-side hash join; the corpus never shuffles."""
    assigned = ivf_assign(v, centroids, nprobe=1).select(
        "vec_id", "cv", F.col("cluster").cast("long").alias("cid")
    )
    return assigned.join(F.broadcast(_centroid_df(spark, centroids)), "cid").select(
        "vec_id",
        "cid",
        F.zip_with("cv", "cent", lambda x, c: x - c).alias("cv"),
    )


def build_ivfpq_residual_index(spark, catalog, vecs_table: str) -> int:
    """Build the residual IVFADC index: coarse centroids from the
    committed corpus (stored in the shared centroids table), every
    vector residualized against its assigned centroid, the PQ codebook
    learned ON THE RESIDUALS (stored in the residual-codebook table),
    and assignment+encode landing in ONE bucketed (cid, vec_id, codes)
    table — x67's deployed layout with the paper's encoding. The
    bucketed write is the only exchange; the Lloyd update is one
    (M·K·d_sub)-key agg with M·K rows to the driver."""
    from advent_of_code_flink_paimon_spark.operators.dedup import pack_refresh_range

    vecs_t = catalog.get_table(vecs_table)
    latest = vecs_t.latest_snapshot_id() or 0
    v = _pq_vecs(vecs_t.read(spark)).persist()
    centroids = build_ivf_centroids(spark, catalog, vecs_table, v)
    resid = _residualize(spark, v, centroids).persist()
    cb_data = _pq_learn_codebook(resid)
    cb_name = rpq_codebook_name(vecs_table)
    if not catalog.has_table(cb_name):
        catalog.create_table(cb_name, PQ_CODEBOOK_SCHEMA, {})
    # M·K driver-resident rows: commit without a Spark write job
    # (overwrite_rows fast path — r17 optimization, guide §5)
    catalog.get_table(cb_name).overwrite_rows(spark, cb_data)
    codebook = _codebook_dict(cb_data)
    name = ivfpqr_name(vecs_table)
    if not catalog.has_table(name):
        catalog.create_table(name, IVFPQ_SCHEMA, {"bucket": "8", "bucket-key": "cid"})
    idx_t = catalog.get_table(name)
    sid = idx_t.overwrite(
        _pq_encode(resid, codebook, extra_cols=("cid",)).select(
            "cid", "vec_id", "code0", "code1", "code2", "code3"
        ),
        commit_identifier=pack_refresh_range(1, latest) if latest else None,
    )
    resid.unpersist()
    v.unpersist()
    vecs_t.register_consumer(f"{_IVFPQR_CONSUMER_PREFIX}-{vecs_table}", latest + 1)
    # encoded-row count off the commit's own snapshot metadata — the
    # count() pass this replaces re-scanned v (r17 optimization)
    return idx_t.added_record_count(sid)


def refresh_ivfpq_residual_index(spark, catalog, vecs_table: str) -> int:
    """Residualize + encode ONLY newly committed vectors against the
    STORED centroids/residual-codebook and append — O(new vectors),
    range-stamped, crash-idempotent (the x49/x63/x64/x67 protocol)."""
    from advent_of_code_flink_paimon_spark.operators.dedup import (
        pack_refresh_range,
        recover_refresh_bookmark,
    )

    vecs_t = catalog.get_table(vecs_table)
    idx_t = catalog.get_table(ivfpqr_name(vecs_table))
    consumer_id = f"{_IVFPQR_CONSUMER_PREFIX}-{vecs_table}"
    nxt = vecs_t.consumers().get(consumer_id, {}).get("next_snapshot_id", 1)
    nxt = recover_refresh_bookmark(idx_t, nxt)
    latest = vecs_t.latest_snapshot_id() or 0
    if latest < nxt:
        if nxt > vecs_t.consumers().get(consumer_id, {}).get("next_snapshot_id", 1):
            vecs_t.register_consumer(consumer_id, next_snapshot_id=nxt)
        return 0
    # one pass: residualize+encode straight off the incremental read
    # (the old persist + count() pre-pass only derived n — r17
    # optimization)
    fresh = vecs_t.merge_raw(vecs_t.incremental_read(spark, nxt - 1, latest))
    centroids = load_ivf_centroids(spark, catalog, vecs_table)
    codebook = load_pq_codebook(
        spark, catalog, vecs_table, table_name=rpq_codebook_name(vecs_table)
    )
    resid = _residualize(spark, _pq_vecs(fresh), centroids)
    sid = idx_t.append(
        _pq_encode(resid, codebook, extra_cols=("cid",)).select(
            "cid", "vec_id", "code0", "code1", "code2", "code3"
        ),
        commit_identifier=pack_refresh_range(nxt, latest),
    )
    vecs_t.register_consumer(consumer_id, latest + 1)
    return idx_t.added_record_count(sid)


def ivfpq_residual_topk(
    spark, catalog, vecs_table: str, k: int = TOP_K, n_queries: int = N_QUERIES,
    shape: str | None = None,
) -> DataFrame:
    """Residual-IVFADC query with ZERO joins: per (query, probed list)
    the lookup tables are built from the query's residual against THAT
    list's centroid (q − c_l) — the asymmetric distance of the paper —
    inlined as literals; each index row explodes into its matching
    (query, list) structs, matches on its own cid, scores as M array
    lookups, and one per-query window takes top-k. Driver traffic:
    C centroids + M·K codebook rows + n_queries query vectors; the
    plan is scan of the bucketed index → project/explode → filter →
    window (x67's audited shape).

    ``shape``: 'literal' / 'broadcast' / None = auto-gate on Q·nprobe
    (see _PROBE_LITERAL_MAX) — residual LUTs are already per
    (query, list), so they land in the probe relation unchanged."""
    centroids = load_ivf_centroids(spark, catalog, vecs_table)
    cent_by_cid = {cid: cent for cid, cent in centroids}
    codebook = load_pq_codebook(
        spark, catalog, vecs_table, table_name=rpq_codebook_name(vecs_table)
    )
    idx = catalog.get_table(ivfpqr_name(vecs_table)).read(spark)
    queries_v = (
        catalog.get_table(vecs_table)
        .read(spark)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("cv"))
        .filter(F.col("vec_id") < n_queries)
    )
    # one driver round-trip: probed cids AND the query vector per query
    # (two collects would run the bounded query scan twice)
    q_rows = (
        ivf_assign(queries_v, centroids, nprobe=IVF_NPROBE)
        .groupBy("vec_id")
        .agg(
            F.collect_list(F.struct(F.col("cluster").alias("cid"))).alias("probes"),
            F.first("cv").alias("cv"),
        )
        .collect()
    )
    probed = {int(r.vec_id): sorted(int(p.cid) for p in r.probes) for r in q_rows}
    qv = {int(r.vec_id): list(r.cv) for r in q_rows}
    n_pairs = sum(len(cids) for cids in probed.values())
    if shape is None:
        shape = "literal" if n_pairs <= _PROBE_LITERAL_MAX else "broadcast"
    if shape == "broadcast":
        pair_luts = []
        for qid in sorted(qv):
            for cid in probed[qid]:
                q_res = [x - c for x, c in zip(qv[qid], cent_by_cid[cid])]
                pair_luts.append(
                    (qid, cid, [_adc_lut(q_res, codebook[m], m) for m in range(PQ_M)])
                )
        return _adc_broadcast_probe(spark, idx, pair_luts, k)
    per_pair = []
    for qid in sorted(qv):
        for cid in probed[qid]:
            q_res = [x - c for x, c in zip(qv[qid], cent_by_cid[cid])]
            luts = [_adc_lut(q_res, codebook[m], m) for m in range(PQ_M)]
            adc = " + ".join(_lut_sql(luts[m], f"code{m}") for m in range(PQ_M))
            per_pair.append(
                F.expr(
                    _ns_sql(
                        ("query_id", str(int(qid))),
                        ("cid", str(int(cid))),
                        ("adc_d2", f"round({adc}, {_KM_ROUND})"),
                    )
                )
            )
    scored = (
        idx.select("cid", "vec_id", F.explode(F.array(*per_pair)).alias("q"))
        .filter(
            (F.col("q.cid") == F.col("cid")) & (F.col("vec_id") != F.col("q.query_id"))
        )
        .select(
            F.col("q.query_id").alias("query_id"), "vec_id",
            F.col("q.adc_d2").alias("adc_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_d2", "rank")
    )


# x72's oracle: the residual trajectory replayed exactly — coarse
# centroids picked from the corpus commit, EVERY vector residualized
# against its assigned centroid, the PQ CTE body (corpus-restricted
# seeds + Lloyd stats) running over the residual relation, and an ADC
# tail whose per-(query, list) lookup distances use the query's
# residual against that list's centroid.
_PQ_V_PREFIX = "\nWITH v AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),"
if not _SQL_PQ_CORPUS_BUILD.startswith(_PQ_V_PREFIX):  # pragma: no cover
    raise AssertionError("x72 oracle splice failed — _SQL_PQ's v CTE drifted")
_PQ_BODY_CORPUS = _SQL_PQ_CORPUS_BUILD[len(_PQ_V_PREFIX):]

_SQL_IVFPQR_LIFECYCLE = (
    f"""
WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
rcent AS (
    SELECT vec_id AS cid, cv AS cent_v
    FROM v0 WHERE vec_id % 61 = 7 AND vec_id % 10 <> 0
    ORDER BY vec_id LIMIT {IVF_CENTROIDS}
),
rassign AS (
    SELECT vec_id, cid FROM (
        SELECT c.vec_id, rcent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY {_COS.format(a='c.cv', b='rcent.cent_v')} DESC, rcent.cid ASC
               ) AS r
        FROM v0 c CROSS JOIN rcent
    ) WHERE r = 1
),
v AS (
    SELECT a.vec_id,
           [c.cv[i] - ct.cent_v[i] for i in range(1, {PQ_M * PQ_DSUB}+1)] AS cv
    FROM rassign a JOIN v0 c USING (vec_id) JOIN rcent ct USING (cid)
),"""
    + _PQ_BODY_CORPUS
    + f"""
, qprobe AS (
    SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, rcent.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_COS.format(a='q.cv', b='rcent.cent_v')} DESC, rcent.cid ASC
               ) AS r
        FROM v0 q CROSS JOIN rcent WHERE q.vec_id < {N_QUERIES}
    ) WHERE r <= {IVF_NPROBE}
),
qres AS (
    SELECT p.query_id, p.cid,
           [q.cv[i] - ct.cent_v[i] for i in range(1, {PQ_M * PQ_DSUB}+1)] AS rcv
    FROM qprobe p
    JOIN v0 q ON q.vec_id = p.query_id
    JOIN rcent ct ON ct.cid = p.cid
),
qsv AS (
    SELECT query_id, cid, sub, rcv[sub*{PQ_DSUB}+1 : (sub+1)*{PQ_DSUB}] AS s
    FROM (SELECT query_id, cid, rcv, unnest([0, 1, 2, 3]) AS sub FROM qres)
),
pd AS (
  SELECT q.query_id, c.vec_id, c.sub,
         list_sum([(q.s[i] - cb.cs[i]) * (q.s[i] - cb.cs[i])
                   for i in range(1, {PQ_DSUB}+1)]) AS pd2
  FROM a2 c
  JOIN cb ON cb.sub = c.sub AND cb.sid = c.sid
  JOIN rassign ca ON ca.vec_id = c.vec_id
  JOIN qsv q ON q.sub = c.sub AND q.cid = ca.cid
  WHERE c.vec_id <> q.query_id
),
sumd AS (
  SELECT query_id, vec_id, ROUND(SUM(pd2), {_KM_ROUND}) AS adc_d2
  FROM pd GROUP BY query_id, vec_id
),
rankedq AS (
  SELECT query_id, vec_id, adc_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_d2 ASC, vec_id ASC) AS rank
  FROM sumd
)
SELECT query_id, vec_id, adc_d2, rank FROM rankedq WHERE rank <= {TOP_K}
"""
)


@query("x72_ivfpq_residual_topk", oracle=_SQL_IVFPQR_LIFECYCLE)
def x72_ivfpq_residual_topk(spark, sf_dir):
    """The residual-IVFADC lifecycle (the paper's encoding, x67's
    single-table layout): commit the corpus, build coarse centroids +
    residual codebook + the fused (cid, vec_id, codes) index from it,
    commit the batch, refresh O(batch) (residualize + encode against
    the STORED tables), then answer top-k with per-(query, list)
    residual lookup tables — zero joins in the query plan, raw
    embeddings never read for scoring. The DuckDB oracle replays the
    identical trajectory with centroid pick and codebook statistics
    restricted to the corpus commit."""
    from advent_of_code_flink_paimon_spark.lakehouse import Catalog
    from advent_of_code_flink_paimon_spark.operators.dedup import _mhidx_warehouse

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = F.pmod(F.col("vec_id"), F.lit(10)) == 0

    catalog = Catalog(_mhidx_warehouse("ivfpqr72", sf_dir), "default")
    vecs_t = catalog.create_table("vecs", "vec_id long, embedding array<float>", {})
    vecs_t.append(e.filter(~is_batch))                 # commit 1: the corpus
    build_ivfpq_residual_index(spark, catalog, "vecs")
    vecs_t.append(e.filter(is_batch))                  # commit 2: today's batch
    refresh_ivfpq_residual_index(spark, catalog, "vecs")
    return ivfpq_residual_topk(spark, catalog, "vecs")


# ----------------------------------------------------------------------
# x74: prototypicality pruning (Sorscher et al. 2022, "Beyond neural
# scaling laws", arXiv:2206.14486 §3): cluster the embeddings, rank
# each example by its distance to its cluster prototype, and PRUNE the
# most prototypical (easiest) fraction — in the large-data regime,
# keeping hard examples beats random pruning. The report emits every
# vector with its cluster, distance, rank, and the keep flag so the
# pruning is auditable rather than silent (the x65 lesson).
# ----------------------------------------------------------------------

_PROTO_PRUNE_NUM = 2   # prune the 2/10 most prototypical per cluster
_PROTO_PRUNE_DEN = 10

_SQL_PROTO_PRUNE = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
seed AS (SELECT vec_id AS cid, cv AS cent FROM v WHERE vec_id % 53 = 11 ORDER BY vec_id LIMIT {KM_K}),
a1 AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT v.vec_id, seed.cid,
           list_sum([(v.cv[i] - seed.cent[i]) * (v.cv[i] - seed.cent[i])
                     for i in range(1, len(v.cv)+1)]) AS d2,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_sum([(v.cv[i] - seed.cent[i]) * (v.cv[i] - seed.cent[i])
                                for i in range(1, len(v.cv)+1)]) ASC, seed.cid ASC) AS r
    FROM v CROSS JOIN seed) WHERE r = 1
),
ranked AS (
  SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, ROUND(d2, 6) AS d2,
         CAST(ROW_NUMBER() OVER (PARTITION BY cid ORDER BY ROUND(d2, 6), vec_id) AS BIGINT) AS pos,
         CAST(COUNT(*) OVER (PARTITION BY cid) AS BIGINT) AS n_cluster
  FROM a1
)
SELECT vec_id, cluster_id, d2, pos, n_cluster,
       pos > (n_cluster * {_PROTO_PRUNE_NUM}) // {_PROTO_PRUNE_DEN} AS keep
FROM ranked
"""


@query("x74_prototypicality_prune", oracle=_SQL_PROTO_PRUNE)
def x74_prototypicality_prune(spark, sf_dir):
    """Per-cluster prototypicality ranking with a keep flag that drops
    the most prototypical 20% (self-supervised prototypes = the
    cluster centroids of x61's deterministic seeding, distance = L2 to
    the assigned prototype). pos 1 = most prototypical (pruned first).

    Determinism: the distance rounds to 6 decimals BEFORE ranking
    (last-ulp fold noise can't flip a rank), assignment tiebreaks on
    cid, ranking tiebreaks on vec_id, and the prune count is pure
    integer arithmetic (n·2 div 10). Scale shape: assignment is the
    map-only literal-centroid projection; ONE exchange on the cluster
    key where rank, cluster size, and keep flag share a single window
    sort — x61's audited plan with a distance key instead of vec_id."""
    e = T(spark, sf_dir, "embeddings")
    v = fan_out(e, heavy=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("cv")
    )
    seed_rows = (
        v.filter(F.pmod(F.col("vec_id"), F.lit(53)) == 11)
        .orderBy("vec_id")
        .limit(KM_K)
        .collect()
    )
    structs = ", ".join(
        _ns_sql(("d2", _l2_sql("cv", list(r.cv))), ("cid", str(int(r.vec_id))))
        for r in seed_rows
    )
    best = F.expr(f"array_sort(array({structs}))[0]")
    a1 = v.select(
        "vec_id",
        best.getField("cid").cast("long").alias("cluster_id"),
        F.round(best.getField("d2"), 6).alias("d2"),
    )
    w = Window.partitionBy("cluster_id").orderBy("d2", "vec_id")
    wc = Window.partitionBy("cluster_id")
    ranked = a1.select(
        "vec_id",
        "cluster_id",
        "d2",
        F.row_number().over(w).cast("long").alias("pos"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n_cluster"),
    )
    return ranked.select(
        "vec_id", "cluster_id", "d2", "pos", "n_cluster",
        (
            F.col("pos")
            > F.expr(f"(n_cluster * {_PROTO_PRUNE_NUM}) div {_PROTO_PRUNE_DEN}")
        ).alias("keep"),
    )


# Driver-window policy: window and registry are at cap this round; x74
# ships library-gated (strict local harness) like x62/x69/x70/x73.
# x74_prototypicality_prune PROMOTED to the scored registry in round 11 (VERDICT r10
# ask #1): its library-era demote call is retired; the entry takes a
# window slot freed by a long-stable relational demotion.


def kmeans_train(
    v: DataFrame, k: int = KM_K, max_rounds: int = 10, tol: float = 0.0
) -> tuple[list, list]:
    """Lloyd's algorithm to convergence — the iterative composition of
    the x39 primitives (kmeans_assign → kmeans_update per round), the
    same driver loop shape as bpe_train: each round is ONE map-only
    literal-centroid assignment plus ONE (K·dim)-key aggregation with
    only K rows back to the driver; data rows never leave the cluster.
    Stops when the max centroid shift (L2) is ≤ ``tol`` or after
    ``max_rounds``. Because kmeans_update rounds coordinates to 6
    decimals, exact fixpoints are reachable and tol=0.0 terminates in
    practice. A cluster that loses all members keeps its previous
    centroid (the Faiss/MLlib convention) rather than vanishing.

    Returns (centroids, shift_history): [(cid, cent)] sorted by cid and
    the per-round max shift. The caller should persist ``v`` — every
    round re-reads it (this function leaves caching policy to the
    caller so a shared relation isn't double-persisted)."""
    import math

    seed_rows = (
        v.filter(F.pmod(F.col("vec_id"), F.lit(53)) == 11)
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    cents = sorted((int(r.vec_id), list(r.cv)) for r in seed_rows)
    history: list[float] = []
    for _ in range(max_rounds):
        new = kmeans_update(kmeans_assign(v, cents))
        prev = dict(cents)
        shift = max(
            (
                math.sqrt(sum((a - b) * (a - b) for a, b in zip(prev[cid], cent)))
                for cid, cent in new
            ),
            default=0.0,
        )
        merged = dict(cents)
        merged.update(dict(new))
        cents = sorted(merged.items())
        history.append(shift)
        if shift <= tol:
            break
    return cents, history


# ----------------------------------------------------------------------
# x80: embedding anisotropy report (Ethayarajh 2019, arXiv:1909.00512
# — contextual embeddings are anisotropic; the audit every embedding
# pipeline runs before trusting cosine retrieval): per label, the mean
# pairwise dot product computed in O(N) from the algebraic identity
# Σ_{i≠j} x_i·x_j = ‖Σx‖² − Σ‖x‖² — never the O(N²) pair join. High
# mean pairwise similarity ⇒ a collapsed (anisotropic) embedding space
# where cosine stops discriminating.
# ----------------------------------------------------------------------

_SQL_ANISOTROPY = f"""
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
norms AS (
  SELECT label, vec_id,
         list_sum([cv[i] * cv[i] for i in range(1, len(cv)+1)]) AS n2
  FROM v
),
dims AS (
  SELECT label, u.pos AS pos, ROUND(SUM(u.x), {_KM_ROUND}) AS sv
  FROM (SELECT label, unnest([{{'pos': i, 'x': cv[i]}} for i in range(1, len(cv)+1)]) AS u FROM v)
  GROUP BY label, u.pos
),
sumvec AS (
  SELECT label, list_sum([x * x for x in list(sv ORDER BY pos)]) AS sum_norm2
  FROM dims GROUP BY label
),
agg AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(n2) AS tot_norm2, SUM(sqrt(n2)) AS tot_norm
  FROM norms GROUP BY label
)
SELECT a.label, a.n,
       ROUND(a.tot_norm / a.n, 6) AS mean_norm,
       ROUND((s.sum_norm2 - a.tot_norm2) / (a.n * (a.n - 1)), 6) AS mean_pair_dot
FROM agg a JOIN sumvec s USING (label)
"""


@query("x80_embedding_anisotropy", oracle=_SQL_ANISOTROPY)
def x80_embedding_anisotropy(spark, sf_dir):
    """Per-label embedding-space anisotropy: mean vector norm and the
    mean pairwise dot product over all N(N−1) ordered pairs — computed
    from ONE corpus pass via ‖Σx‖² − Σ‖x‖², the identity that replaces
    the O(N²) pair join with a (labels · dim)-key aggregation. At
    100 TB this is the difference between a scan and an impossible
    self-join.

    Determinism: the per-dim sums round to 6 BEFORE squaring (the x39
    centroid treatment), the squared fold over the 64 rounded sums is
    ordered on both engines, and the final ratios round to 6 (unordered
    float-sum noise ~1e-12 vs the 5e-7 quantum)."""
    e = T(spark, sf_dir, "embeddings")
    v = fan_out(e, heavy=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("cv")
    )
    n2 = F.aggregate(
        F.transform("cv", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    norms = v.select("label", n2.alias("n2"))
    agg = norms.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n2").alias("tot_norm2"),
        F.sum(F.sqrt("n2")).alias("tot_norm"),
    )
    sumvec = (
        v.select("label", F.posexplode("cv").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.sum("x"), _KM_ROUND).alias("sv"))
        .groupBy("label")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sv"))),
                    lambda s: s.sv * s.sv,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("sum_norm2")
        )
    )
    return agg.join(sumvec, "label").select(
        "label",
        "n",
        F.round(F.col("tot_norm") / F.col("n"), 6).alias("mean_norm"),
        F.round(
            (F.col("sum_norm2") - F.col("tot_norm2")) / (F.col("n") * (F.col("n") - 1)),
            6,
        ).alias("mean_pair_dot"),
    )


# Window and registry are at cap this round; x80 ships library-gated
# like x73/x74/x76-x79.
# x80_embedding_anisotropy PROMOTED to the scored registry in round 11 (VERDICT r10
# ask #1): its library-era demote call is retired; the entry takes a
# window slot freed by a long-stable relational demotion.


# ----------------------------------------------------------------------
# x81: reciprocal-rank fusion of two ANN retrievers (Cormack, Clarke &
# Buettcher 2009 — RRF, the standard hybrid/ensemble ranking rule):
# fuse the LSH path (x11) and the IVF path (x12) per query by
# score(d) = Σ_r 1/(K + rank_r(d)), K = 60. Two independent
# approximations with different failure modes (hyperplane buckets vs
# inverted lists) ensemble into a more robust candidate ranking — the
# same reason production retrieval fuses lexical + dense.
# ----------------------------------------------------------------------

_RRF_K = 60

_SQL_RRF = f"""
WITH lsh AS ({_sql_lsh()}),
ivf AS ({_SQL_IVF}),
unioned AS (
  SELECT query_id, vec_id, 1.0 / ({_RRF_K} + rank) AS contrib FROM lsh
  UNION ALL
  SELECT query_id, vec_id, 1.0 / ({_RRF_K} + rank) AS contrib FROM ivf
),
fused AS (
  SELECT query_id, vec_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
         ROUND(SUM(contrib), 6) AS rrf_score
  FROM unioned GROUP BY query_id, vec_id
),
ranked AS (
  SELECT query_id, vec_id, n_lists, rrf_score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, vec_id ASC) AS rank
  FROM fused
)
SELECT query_id, vec_id, n_lists, rrf_score, rank
FROM ranked WHERE rank <= {TOP_K}
"""


@query("x81_rrf_fusion_topk", oracle=_SQL_RRF)
def x81_rrf_fusion_topk(spark, sf_dir):
    """RRF-fused top-k over the LSH (x11) and IVF (x12) ANN paths:
    each retriever contributes 1/(60 + rank) for its top-k, summed per
    (query, candidate), re-ranked by the fused score. ``n_lists``
    reports how many retrievers surfaced each winner (the ensemble
    evidence).

    Determinism: both inputs are this module's own oracled relations;
    the contribution is an exact double (1/(60+r) from integer r) and
    a (query, vec) group sums at most two of them — IEEE addition of
    two terms is order-insensitive, so the fused score is bit-identical
    before its 6-decimal rounding; ties break on vec_id. Scale shape:
    two audited top-k plans + one union + one k·q-row aggregation —
    the fusion itself touches ≤ 2·k·q rows."""
    lsh = x11_embedding_topk_lsh(spark, sf_dir).select(
        "query_id", "vec_id", (F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank"))).alias("contrib")
    )
    ivf = x12_embedding_topk_ivf(spark, sf_dir).select(
        "query_id", "vec_id", (F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank"))).alias("contrib")
    )
    fused = (
        lsh.unionByName(ivf)
        .groupBy("query_id", "vec_id")
        .agg(
            F.count("*").cast("long").alias("n_lists"),
            F.round(F.sum("contrib"), 6).alias("rrf_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("vec_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "n_lists", "rrf_score", "rank")
    )


# Round 10: promoted into the driver registry (the window rotation
# freed slots by demoting long-stable relational entries to the
# library — see __spark_entry__._ORDER).


# ----------------------------------------------------------------------
# x84: shortlist-then-refine ANN query (the deployed two-stage shape —
# Jégou et al. 2011 §V evaluate exactly this: ADC shortlists, exact
# distances re-rank): the residual-IVFADC index produces a 4k
# candidate shortlist from STORED codes, then the refine stage reads
# ONLY the shortlist's raw vectors (a bounded semi-join against the
# vectors table) and re-ranks by exact cosine. Quantization error
# affects recall only through the shortlist boundary, not the final
# ordering — the property that lets production systems run coarse
# codes (fast scan) under an exact top-k contract.
# ----------------------------------------------------------------------

_REFINE_SHORTLIST = 20  # 4 × TOP_K candidates from the code scan


def ann_refine_rerank(
    spark, catalog, vecs_table: str, k: int = TOP_K,
    shortlist: int = _REFINE_SHORTLIST, n_queries: int = N_QUERIES,
) -> DataFrame:
    """Two-stage query over a built residual-IVFADC index: stage 1 is
    ivfpq_residual_topk(k=shortlist) — zero joins, stored codes only;
    stage 2 broadcast-joins the (query_id, vec_id) shortlist against
    the vectors table (shortlist-sized — q·4k rows) plus the bounded
    query vectors and re-ranks by exact rounded cosine."""
    short = ivfpq_residual_topk(
        spark, catalog, vecs_table, k=shortlist, n_queries=n_queries
    ).select("query_id", "vec_id")
    vecs = catalog.get_table(vecs_table).read(spark)
    cand = vecs.join(
        F.broadcast(short), "vec_id"
    ).select("query_id", "vec_id", F.col("embedding").cast("array<double>").alias("cv"))
    queries_v = vecs.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    ).filter(F.col("query_id") < n_queries)
    scored = cand.join(F.broadcast(queries_v), "query_id").select(
        "query_id",
        "vec_id",
        F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


_SQL_IVFPQR_SHORTLIST = _SQL_IVFPQR_LIFECYCLE.replace(
    f"WHERE rank <= {TOP_K}", f"WHERE rank <= {_REFINE_SHORTLIST}"
)
if _SQL_IVFPQR_SHORTLIST == _SQL_IVFPQR_LIFECYCLE:  # pragma: no cover
    raise AssertionError("x84 oracle rewrite did not apply — x72 SQL drifted")

_SQL_ANN_REFINE = f"""
WITH short AS ({_SQL_IVFPQR_SHORTLIST}),
vq AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, cv AS qv FROM vq WHERE vec_id < {N_QUERIES}),
ref AS (
  SELECT s.query_id, s.vec_id,
         ROUND({_COS.format(a='q.qv', b='c.cv')}, 4) AS cosine
  FROM short s
  JOIN vq c ON c.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id
),
rranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM ref
)
SELECT query_id, vec_id, cosine, rank FROM rranked WHERE rank <= {TOP_K}
"""


@query("x84_ann_refine_rerank", oracle=_SQL_ANN_REFINE)
def x84_ann_refine_rerank(spark, sf_dir):
    """The x72 lifecycle capped by the refine stage: build/refresh the
    residual-IVFADC index, shortlist 4k candidates from the stored
    codes (zero-join probe), exact-cosine re-rank of ONLY the
    shortlist's raw vectors. The DuckDB oracle replays the shortlist
    trajectory and the same refine join."""
    from advent_of_code_flink_paimon_spark.lakehouse import Catalog
    from advent_of_code_flink_paimon_spark.operators.dedup import _mhidx_warehouse

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = F.pmod(F.col("vec_id"), F.lit(10)) == 0

    catalog = Catalog(_mhidx_warehouse("annref84", sf_dir), "default")
    vecs_t = catalog.create_table("vecs", "vec_id long, embedding array<float>", {})
    vecs_t.append(e.filter(~is_batch))
    build_ivfpq_residual_index(spark, catalog, "vecs")
    vecs_t.append(e.filter(is_batch))
    refresh_ivfpq_residual_index(spark, catalog, "vecs")
    return ann_refine_rerank(spark, catalog, "vecs")


# Round 10: promoted into the driver registry (window rotation).


# ----------------------------------------------------------------------
# x92: the LARGE-BATCH IVFADC probe (VERDICT.md r9 ask #3's bench row)
# — x67's single-table lifecycle queried with a 10× query batch
# (50 queries × nprobe 4 = 200 (query, list) pairs), which trips the
# _PROBE_LITERAL_MAX auto-gate into the broadcast-hash-join probe
# shape. Library-gated (the scored window is full); the plan contract
# for both shapes is asserted in tests/test_plans.py.
# ----------------------------------------------------------------------

_X92_N_QUERIES = 50

_SQL_IVFPQ_BATCH = _SQL_IVFPQ_LIFECYCLE.replace(
    f"vec_id < {N_QUERIES}", f"vec_id < {_X92_N_QUERIES}"
)
if _SQL_IVFPQ_BATCH.count(f"vec_id < {_X92_N_QUERIES}") != 2:  # pragma: no cover
    raise AssertionError("x92 oracle rewrite did not apply — query filters drifted")


@query("x92_ivfpq_batch_probe", oracle=_SQL_IVFPQ_BATCH)
def x92_ivfpq_batch_probe(spark, sf_dir):
    """x67's full IVFADC lifecycle answered for a 50-query batch: the
    probe auto-gates to the broadcast shape (200 pairs > 64), so this
    entry keeps the large-batch plan measured round over round — the
    cost model is one map-side broadcast join against the bucketed
    code table instead of 200 inline struct evaluations per row."""
    from advent_of_code_flink_paimon_spark.lakehouse import Catalog
    from advent_of_code_flink_paimon_spark.operators.dedup import _mhidx_warehouse

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = F.pmod(F.col("vec_id"), F.lit(10)) == 0

    catalog = Catalog(_mhidx_warehouse("ivfpq92", sf_dir), "default")
    vecs_t = catalog.create_table("vecs", "vec_id long, embedding array<float>", {})
    vecs_t.append(e.filter(~is_batch))
    build_ivfpq_index(spark, catalog, "vecs")
    vecs_t.append(e.filter(is_batch))
    refresh_ivfpq_index(spark, catalog, "vecs")
    return ivfpq_onetable_topk(spark, catalog, "vecs", n_queries=_X92_N_QUERIES)


# x92_ivfpq_batch_probe PROMOTED to the scored registry in round 11 (VERDICT r10
# ask #1): its library-era demote call is retired; the entry takes a
# window slot freed by a long-stable relational demotion.


# ----------------------------------------------------------------------
# x94: Matryoshka truncation recall (Kusupati et al. 2022,
# arXiv:2205.13147 — MRL trains embeddings whose PREFIX dims carry
# most of the signal, so production retrieval can score on the first
# d' dims at d/d' the memory bandwidth): recall@k of cosine top-k over
# the 32-dim prefix against the full 64-dim ground truth, per query —
# the evaluation an embedding pipeline runs before adopting prefix
# truncation. Deterministic end to end (x10's rounding + id
# tiebreaks), so DuckDB replays both sides exactly via list slices.
# Scale shape: both sides are the x10 audited broadcast-query pass
# (report runs on a query sample in production); truncation itself is
# a map-side F.slice.
# ----------------------------------------------------------------------

_X94_PREFIX_DIMS = 32

_SQL_MRL_RECALL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
full_rk AS (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               ROUND({_COS.format(a='q.qv', b='c.cv')}, 4) DESC, vec_id ASC) AS rank
    FROM q JOIN c ON c.vec_id <> q.query_id
),
qt AS (SELECT query_id, qv[1:{_X94_PREFIX_DIMS}] AS qv FROM q),
ct AS (SELECT vec_id, cv[1:{_X94_PREFIX_DIMS}] AS cv FROM c),
trunc_rk AS (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               ROUND({_COS.format(a='qt.qv', b='ct.cv')}, 4) DESC, vec_id ASC) AS rank
    FROM qt JOIN ct ON ct.vec_id <> qt.query_id
)
SELECT e.query_id,
       CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
       CAST(COUNT(a.vec_id) AS BIGINT) * 1.0 / {TOP_K} AS recall
FROM (SELECT * FROM full_rk WHERE rank <= {TOP_K}) e
LEFT JOIN (SELECT * FROM trunc_rk WHERE rank <= {TOP_K}) a
  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY e.query_id
"""


@query("x94_matryoshka_recall", oracle=_SQL_MRL_RECALL)
def x94_matryoshka_recall(spark, sf_dir):
    """recall@k of prefix-truncated (32 of 64 dims) cosine retrieval
    against the full-dimension exact top-k, per query — the go/no-go
    report for Matryoshka-style truncation (half the scoring flops and
    half the scan bytes when embeddings are stored prefix-first).

    On the isotropic random testdata the prefix carries only half the
    energy with no trained structure, so recall is honestly LOW
    (0.0–0.6) — the report correctly says "don't truncate these";
    MRL-trained embeddings are the case where it says yes."""
    e = T(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERIES)
    full = cosine_topk(e, queries)
    trunc = cosine_topk(
        e.select("vec_id", F.slice("embedding", 1, _X94_PREFIX_DIMS).alias("embedding")),
        queries.select(
            "vec_id", F.slice("embedding", 1, _X94_PREFIX_DIMS).alias("embedding")
        ),
    )
    return ann_recall(full, trunc)


# x94_matryoshka_recall PROMOTED to the scored registry in round 11 (VERDICT r10
# ask #1): its library-era demote call is retired; the entry takes a
# window slot freed by a long-stable relational demotion.


# ----------------------------------------------------------------------
# VectorDedupIngestPipeline: continuous EMBEDDING-near-deduped ingestion
# — the vector-side twin of dedup.DedupIngestPipeline (which curates
# TEXT via the persisted MinHash band index). Every micro-batch is
# LSH-checked against a persisted band index of everything already
# committed (x90's data-scaled banding, frozen at index-build width),
# exact-cosine-verified against ONLY the candidate corpus vectors, and
# only novel vectors append; the index advances to cover survivors
# before the next batch (the x46/x49/x67 consumer-bookmark protocol,
# range-stamped and crash-idempotent).
#
# Band width policy: a persisted index must freeze r (rescaling r
# changes every key), so r is chosen from the corpus size at build
# time and stored in the meta table; when the corpus outgrows the
# built width (occupancy drifting above target), rebuild with
# build_lsh_band_index — the same re-index cadence IVF centroids
# already follow (x50).
# ----------------------------------------------------------------------

LSH_BANDS_SCHEMA = "key long, vec_id long"
_LSHIDX_CONSUMER_PREFIX = "__lsh-band-index"


def lsh_bands_name(vecs_table: str) -> str:
    return f"{vecs_table}_lshbands"


def lsh_meta_name(vecs_table: str) -> str:
    return f"{vecs_table}_lshmeta"


def _band_rows(v: DataFrame, r: int) -> DataFrame:
    """(vec_id, cv) → (key, vec_id): the x90 signature banded at width
    r — row-local codegen, no shuffle until the bucketed index write."""
    return (
        v.select("vec_id", _x90_bits("cv").alias("bits"))
        .select(F.explode(_x90_keys(r)).alias("key"), "vec_id")
    )


def load_lsh_band_width(spark, catalog, vecs_table: str) -> int:
    rows = catalog.get_table(lsh_meta_name(vecs_table)).read(spark).collect()
    return int(rows[0].r)


def build_lsh_band_index(spark, catalog, vecs_table: str) -> int:
    """(Re)build the banded signature index from the committed corpus:
    choose r from the corpus size, store it in the meta table, band
    every vector into the key-bucketed index table, bookmark the
    consumed snapshot range."""
    from advent_of_code_flink_paimon_spark.operators.dedup import pack_refresh_range

    vecs_t = catalog.get_table(vecs_table)
    latest = vecs_t.latest_snapshot_id() or 0
    v = _pq_vecs(vecs_t.read(spark)).persist()
    # corpus size from manifest record_count (VERDICT r15 ask #8, the
    # lakehouse twin of footer_row_count): append tables answer
    # COUNT(*) from metadata EXACTLY (metadata_count's contract), so
    # band-width sizing is zero-I/O — no Spark job, no footer reads.
    # The exact-or-refuse fallback (a PK corpus returns None) pays the
    # scan-count so the width can never drift from the true row count;
    # width equality across both paths is pinned in
    # tests/test_properties.py::test_lakehouse_band_width_metadata_path.
    n = vecs_t.metadata_count()
    if n is None:
        n = v.count()
    r = _x90_band_bits(n)
    meta = lsh_meta_name(vecs_table)
    if not catalog.has_table(meta):
        catalog.create_table(meta, "r int, built_n long", {})
    # 1 driver-resident row: commit without a Spark write job
    # (overwrite_rows fast path — r17 optimization, guide §5)
    catalog.get_table(meta).overwrite_rows(spark, [(int(r), int(n))])
    name = lsh_bands_name(vecs_table)
    if not catalog.has_table(name):
        catalog.create_table(name, LSH_BANDS_SCHEMA, {"bucket": "8", "bucket-key": "key"})
    catalog.get_table(name).overwrite(
        _band_rows(v, r),
        commit_identifier=pack_refresh_range(1, latest) if latest else None,
    )
    v.unpersist()
    vecs_t.register_consumer(f"{_LSHIDX_CONSUMER_PREFIX}-{vecs_table}", latest + 1)
    return n


def refresh_lsh_band_index(spark, catalog, vecs_table: str) -> int:
    """Band ONLY newly committed vectors at the STORED width and append
    — O(new vectors), range-stamped, crash-idempotent (the shared
    x49/x63/x64/x67 refresh protocol)."""
    from advent_of_code_flink_paimon_spark.operators.dedup import (
        pack_refresh_range,
        recover_refresh_bookmark,
    )

    vecs_t = catalog.get_table(vecs_table)
    idx_t = catalog.get_table(lsh_bands_name(vecs_table))
    consumer_id = f"{_LSHIDX_CONSUMER_PREFIX}-{vecs_table}"
    nxt = vecs_t.consumers().get(consumer_id, {}).get("next_snapshot_id", 1)
    nxt = recover_refresh_bookmark(idx_t, nxt)
    latest = vecs_t.latest_snapshot_id() or 0
    if latest < nxt:
        if nxt > vecs_t.consumers().get(consumer_id, {}).get("next_snapshot_id", 1):
            vecs_t.register_consumer(consumer_id, next_snapshot_id=nxt)
        return 0
    # one pass: band straight off the incremental read (the old
    # persist + count() pre-pass only derived n — r17 optimization).
    # NOTE n counts VECTORS, not band rows: every vector emits exactly
    # ⌊LSH_PLANES/r⌋ index rows (_x90_keys), so divide back down.
    fresh = vecs_t.merge_raw(vecs_t.incremental_read(spark, nxt - 1, latest))
    r = load_lsh_band_width(spark, catalog, vecs_table)
    sid = idx_t.append(
        _band_rows(_pq_vecs(fresh), r),
        commit_identifier=pack_refresh_range(nxt, latest),
    )
    vecs_t.register_consumer(consumer_id, latest + 1)
    return idx_t.added_record_count(sid) // (LSH_PLANES // r)


def _expand_probe_keys(bands: DataFrame, r: int, flips: int) -> DataFrame:
    """Multi-probe expansion (VERDICT r12 ask #4): for every band key,
    also probe the r single-bit-flip neighbor keys (``flips=1``), so a
    true dup pair that differs by EXACTLY ONE hyperplane bit inside
    every band — the dominant banding-miss mode at high cosine — still
    collides in some band. Key arithmetic: key = band·2^16 + v with
    v < 2^r ≤ 2^16, so ``key ^ (1<<j)`` for j < r flips only the
    in-band bits and preserves the band offset. PROBE-side only: the
    stored index keeps exact keys, so the knob can be turned per run
    without rebuilding the index. Cost: the probe join's left side
    grows ×(r+1) — candidate generation stays band-bucketed, the
    verify stays exact, recall rises at a quoted probe-cost delta
    (PIPELINE_BENCH records both settings side by side)."""
    if flips <= 0:
        return bands
    variants = [F.col("key")] + [
        F.expr(f"key ^ CAST({1 << j} AS BIGINT)") for j in range(r)
    ]
    return bands.select(F.explode(F.array(*variants)).alias("key"), "vec_id")


def vector_dedup_corpus_dups(
    spark, catalog, vecs_table: str, iv: DataFrame, bands: DataFrame, threshold: float
) -> DataFrame:
    """Batch vec_ids near-duplicating the committed corpus — the
    pipeline's step-3 relation: batch bands ⋈ the bucketed band index
    on key (candidates, never a corpus self-join), then exact cosine
    between the batch vectors (``iv``: i/icv/inorm, in hand) and the
    candidate corpus vectors semi-join-pruned out of the vectors
    table. Plan-audited in tests/test_plans.py: no cartesian/BNL, the
    vectors scan pruned to (vec_id, embedding)."""
    cand = (
        bands.join(
            catalog.get_table(lsh_bands_name(vecs_table)).read(spark)
            .withColumnRenamed("vec_id", "j"),
            "key",
        )
        .filter(F.col("vec_id") != F.col("j"))
        .select(F.col("vec_id").alias("i"), "j")
        .distinct()
    )
    corpus_j = (
        _pq_vecs(catalog.get_table(vecs_table).read(spark))
        .join(cand.select(F.col("j").alias("vec_id")).distinct(), "vec_id", "left_semi")
        .select(F.col("vec_id").alias("j"), F.col("cv").alias("jcv"),
                _norm("cv").alias("jnorm"))
    )
    return (
        cand.join(iv, "i").join(corpus_j, "j")
        .filter(
            F.round(_dot("icv", "jcv") / (F.col("inorm") * F.col("jnorm")), 4)
            >= threshold
        )
        .select(F.col("i").alias("vec_id")).distinct()
    )


class VectorDedupIngestPipeline:
    """Continuous near-deduped VECTOR ingestion into a lakehouse table.

    Per micro-batch (``sink`` is the foreachBatch body):

    1. pre-probe index sync, gated on two driver-side pointer reads
       (consumer bookmark vs LATEST) — sole-writer batches skip it
       entirely (step 5's write-through keeps the index current);
       ``refresh_lsh_band_index`` runs only when foreign commits or a
       crash window left the index behind.
    2. in-batch EXACT dedup (first vec_id per identical embedding).
    3. corpus probe: batch bands ⋈ bucketed index on key → candidate
       (i, j) pairs; exact cosine verifies i (batch vectors, in hand)
       against j read from the vectors table SEMI-JOINED to candidate
       ids — verify COMPUTE is O(batch + candidates), never O(corpus).
       (The candidate fetch scans the vectors table's (vec_id,
       embedding) columns with the semi-join pruning rows; file-level
       skipping follows vec_id min/max statistics, and a PK-bucketed
       vectors table turns it into a true point lookup — the same
       residual I/O note as the text pipeline's shingle store.)
    4. in-batch NEAR dedup: the same bands self-joined within the
       batch, exact-verified, higher vec_id dropped.
    5. append survivors with ``commit_identifier=batch_id`` (replayed
       micro-batches commit exactly once), then WRITE-THROUGH the index:
       the survivors' band rows (already in hand from step 3's banding
       pass, at the frozen width cached at construction) append with
       the exact ``pack_refresh_range`` stamp and the bookmark advances
       — the NEXT batch dedups against these survivors with no table
       re-read. Replays / interleaved foreign commits fall back to the
       full incremental refresh (same stamp protocol).

    This is SemDeDup-at-ingest with x90's candidate discipline: the
    corpus is never self-joined; every pair evaluated descends from a
    band-key equi-join."""

    def __init__(self, spark, catalog, vecs_table: str, checkpoint_dir: str,
                 threshold: float | None = None, multi_probe: int = 0):
        from advent_of_code_flink_paimon_spark.operators.dedup import (
            _COSINE_DUP_THRESHOLD,
        )

        self.catalog = catalog
        self.vecs_table, self.checkpoint_dir = vecs_table, checkpoint_dir
        self.threshold = _COSINE_DUP_THRESHOLD if threshold is None else threshold
        # recall/cost knob (VERDICT r12 ask #4): multi_probe=1 probes
        # every single-bit band-key neighbor too (see
        # _expand_probe_keys) — catches the 1-bit-per-band banding
        # misses at ×(r+1) probe rows; 0 keeps exact-key probing.
        # Probe-side only, so it can change run to run on one index.
        if multi_probe not in (0, 1):
            raise ValueError("multi_probe must be 0 (exact keys) or 1 (1-bit probes)")
        self.multi_probe = multi_probe
        if not catalog.has_table(vecs_table):
            catalog.create_table(vecs_table, "vec_id long, embedding array<float>", {})
        if not catalog.has_table(lsh_bands_name(vecs_table)):
            build_lsh_band_index(spark, catalog, vecs_table)
        # the band width is FROZEN at build time by design (rescaling r
        # changes every key) — read it ONCE here, not per batch (the
        # per-batch meta-table .collect() was a fixed cost, VERDICT r10
        # ask #2). A mid-stream build_lsh_band_index (the action the
        # x96 health report recommends on rebuild=1) is detected by the
        # WIDTH EPOCH below: every rebuild overwrites the meta table,
        # bumping its snapshot pointer, so the sink compares that
        # pointer (one driver-side JSON-pointer read, no scan) per
        # batch and re-loads the width before probing — a stale width
        # would silently miss corpus dups and pollute the rebuilt index
        # with keys at the wrong width (ADVICE r11, medium).
        self._r = load_lsh_band_width(spark, catalog, vecs_table)
        self._meta_epoch = catalog.get_table(
            lsh_meta_name(vecs_table)
        ).latest_snapshot_id()
        self._consumer_id = f"{_LSHIDX_CONSUMER_PREFIX}-{vecs_table}"

    def sink(self, batch_df: DataFrame, batch_id: int) -> int:
        """foreachBatch body; returns the number of rows appended."""
        from advent_of_code_flink_paimon_spark.operators.dedup import (
            pack_refresh_range,
        )

        spark = batch_df.sparkSession
        vecs_t = self.catalog.get_table(self.vecs_table)
        # width-epoch guard: a rebuild moved the meta pointer → re-load
        # the frozen width so this batch bands, probes, and
        # write-through-appends at the REBUILT index's width. The
        # rebuild itself re-bookmarked the consumer at LATEST+1, so the
        # refresh gate below stays consistent either way.
        epoch = self.catalog.get_table(
            lsh_meta_name(self.vecs_table)
        ).latest_snapshot_id()
        if epoch != self._meta_epoch:
            self._r = load_lsh_band_width(spark, self.catalog, self.vecs_table)
            self._meta_epoch = epoch
        # pre-probe index sync, gated on two driver-side pointer reads:
        # sole-writer batches never open the gate (the write-through
        # below keeps the index current through LATEST).
        nxt = (
            vecs_t.consumers().get(self._consumer_id, {}).get("next_snapshot_id", 1)
        )
        latest = vecs_t.latest_snapshot_id() or 0
        if latest >= nxt:
            refresh_lsh_band_index(spark, self.catalog, self.vecs_table)
            nxt = (vecs_t.latest_snapshot_id() or 0) + 1
        # in-batch EXACT dedup as a map-combinable hash agg (first vec_id
        # per identical embedding): every row in a group carries the
        # same embedding, so any() is deterministic here — one
        # partial-aggregable exchange instead of the old sort-window
        # shuffle. This also catches degenerate rows the NEAR dedup
        # can't (identical zero vectors: cosine is 0/0 → null).
        batch = (
            batch_df.select("vec_id", "embedding")
            .groupBy(F.md5(F.col("embedding").cast("string").cast("binary")).alias("__h"))
            .agg(
                F.min("vec_id").alias("vec_id"),
                F.any_value("embedding").alias("embedding"),
            )
            .drop("__h")
            .persist()
        )
        bv = _pq_vecs(batch, spread=False).persist()
        bands = _band_rows(bv, self._r).persist()
        thr = self.threshold
        iv = bv.select(F.col("vec_id").alias("i"), F.col("cv").alias("icv"),
                       _norm("cv").alias("inorm"))
        # probe side (and only the probe side) multi-probe-expanded;
        # the write-through below appends the exact-key `bands`
        probe = _expand_probe_keys(bands, self._r, self.multi_probe)
        # 3. corpus probe (module function — plan-audited in tests)
        dup_vs_corpus = vector_dedup_corpus_dups(
            spark, self.catalog, self.vecs_table, iv, probe, thr
        )
        # 4. in-batch near dedup: same bands, batch-local, lowest id
        # wins (one side expanded is enough: a 1-bit-flipped probe key
        # from either member of a pair lands on the other's exact key)
        b2 = bands.select(F.col("key"), F.col("vec_id").alias("j"))
        dup_in_batch = (
            probe.join(b2, "key")
            .filter(F.col("vec_id") < F.col("j"))
            .select("vec_id", "j")
            .distinct()
            .join(iv.withColumnRenamed("i", "vec_id"), "vec_id")
            .join(
                iv.select(F.col("i").alias("j"), F.col("icv").alias("jcv"),
                          F.col("inorm").alias("jnorm")),
                "j",
            )
            .filter(
                F.round(_dot("icv", "jcv") / (F.col("inorm") * F.col("jnorm")), 4) >= thr
            )
            .select(F.col("j").alias("vec_id")).distinct()
        )
        # ONE anti-join against the unioned dup relations (no distinct
        # needed — anti-join semantics ignore right-side multiplicity)
        survivors = batch.join(
            dup_vs_corpus.unionByName(dup_in_batch), "vec_id", "left_anti"
        ).persist()
        # ONE heavy action: the append's stage-write executes the whole
        # probe plan and materializes every persisted cache; the count
        # after it reads cache summaries (no recompute). An all-dup
        # batch stages zero rows and commits NOTHING (table.append
        # skips empty commits), so the snapshot log never bloats on
        # duplicate-heavy streams.
        sid = vecs_t.append(survivors, commit_identifier=batch_id)
        n = survivors.count()
        if sid is None:
            if n:
                # replayed micro-batch (identifier already committed):
                # make sure the index covers it, same as a crash resume
                refresh_lsh_band_index(spark, self.catalog, self.vecs_table)
        elif sid == nxt:
            # write-through: the survivors' band rows are already in
            # hand (bands persisted) — append them with the exact
            # (nxt, sid) range stamp and advance the bookmark; no
            # vectors-table re-read, no re-banding, no snapshot-log
            # scan before the next batch.
            self.catalog.get_table(lsh_bands_name(self.vecs_table)).append(
                bands.join(
                    survivors.select("vec_id"), "vec_id", "left_semi"
                ).select("key", "vec_id"),
                commit_identifier=pack_refresh_range(nxt, sid),
            )
            vecs_t.register_consumer(self._consumer_id, sid + 1)
        else:
            # a foreign commit interleaved (sid > nxt): the incremental
            # refresh covers whatever the index misses, same protocol
            refresh_lsh_band_index(spark, self.catalog, self.vecs_table)
        for df in (survivors, bands, bv, batch):
            df.unpersist()
        return n

    def start(self, source: DataFrame):
        """Wire the sink to any streaming (vec_id, embedding) source."""
        from advent_of_code_flink_paimon_spark.streaming.pipelines import start_foreach_batch

        return start_foreach_batch(
            source, f"vector-dedup-ingest-{self.vecs_table}",
            lambda df, bid: self.sink(df, bid), self.checkpoint_dir,
            available_now=True,
        )


# ----------------------------------------------------------------------
# x96: LSH band-index health report — the governance card for the
# persisted hyperplane band index (VectorDedupIngestPipeline's probe
# structure), closing the observability gap VERDICT r10 ranked #2:
# x68 reports ANN recall, minhash_quality_report audits the MinHash
# index, but nothing measured THIS index's bucket occupancy against
# the _X90_TARGET_OCC design point the frozen band width was chosen
# for. The report is per band: bucket count, row count, max/mean
# occupancy, how many buckets run hotter than target, plus the
# rebuild flag — the stored width vs the width the CURRENT corpus
# size recommends (a corpus that outgrew its frozen width packs more
# vectors per bucket, inflating candidate volume per probe; rebuild
# via build_lsh_band_index is the re-index cadence, same as x50's
# IVF centroid refresh).
#
# Scale shape: ONE groupBy over the (key, vec_id) index relation —
# already bucketed on key, so the exchange is the index's own layout
# — into a bounded bucket-occupancy relation (≤ bands·2^r ≤ 64·2^16
# keys), then a tiny per-band agg. The corpus size comes from the
# snapshot's record count (driver JSON read, no scan); the stored
# width from the 1-row meta table. No vector is ever read.
# ----------------------------------------------------------------------


def lsh_index_health(spark, catalog, vecs_table: str) -> DataFrame:
    """Per-band occupancy report + rebuild recommendation for the
    persisted band index of ``vecs_table`` (columns: band, n_buckets,
    n_rows, max_occ, over_occ_buckets, mean_occ, stored_r,
    recommended_r, rebuild)."""
    stored_r = load_lsh_band_width(spark, catalog, vecs_table)
    vecs_t = catalog.get_table(vecs_table)
    latest = vecs_t.latest_snapshot_id()
    n_now = vecs_t.snapshot(latest)["total_record_count"] if latest else 0
    rec_r = _x90_band_bits(n_now)
    bucket = (
        catalog.get_table(lsh_bands_name(vecs_table))
        .read(spark)
        .groupBy("key")
        .agg(F.count("*").alias("occ"))
    )
    h = bucket.groupBy(F.expr("CAST(key DIV 65536 AS INT)").alias("band")).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("occ").cast("long").alias("n_rows"),
        F.max("occ").cast("long").alias("max_occ"),
        F.sum(
            F.when(F.col("occ") > _X90_TARGET_OCC, 1).otherwise(0)
        ).cast("long").alias("over_occ_buckets"),
    )
    return h.select(
        "band",
        "n_buckets",
        "n_rows",
        "max_occ",
        "over_occ_buckets",
        F.round(F.col("n_rows").cast("double") / F.col("n_buckets"), 6).alias("mean_occ"),
        F.lit(stored_r).cast("int").alias("stored_r"),
        F.lit(rec_r).cast("int").alias("recommended_r"),
        F.lit(1 if rec_r > stored_r else 0).cast("int").alias("rebuild"),
    )


def _sql_x96() -> str:
    r_build = _X90_R_SQL.format(
        mn=_X90_MIN_BITS, mx=_X90_MAX_BITS,
        n="(SELECT COUNT(*) FROM v WHERE vec_id % 2 = 0)", occ=_X90_TARGET_OCC,
    )
    r_full = _X90_R_SQL.format(
        mn=_X90_MIN_BITS, mx=_X90_MAX_BITS,
        n="(SELECT COUNT(*) FROM v)", occ=_X90_TARGET_OCC,
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
    p AS (SELECT {r_build} AS r, {r_full} AS rec_r),
    bits AS (SELECT vec_id, {_x90_bits_sql('vv')} AS b FROM v),
    banded AS (
        SELECT vec_id,
               bands.i * 65536 + CAST(list_sum(list_transform(range(0, p.r),
                   j -> CAST(b[bands.i * p.r + j + 1] AS BIGINT) << j)) AS BIGINT) AS key
        FROM bits, p, (SELECT UNNEST(range(0, 64 // r)) AS i FROM p) bands
    ),
    bucket AS (SELECT key, COUNT(*) AS occ FROM banded GROUP BY key),
    h AS (
        SELECT CAST(key // 65536 AS INT) AS band,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(occ) AS BIGINT) AS n_rows,
               CAST(MAX(occ) AS BIGINT) AS max_occ,
               CAST(SUM(CASE WHEN occ > {_X90_TARGET_OCC} THEN 1 ELSE 0 END) AS BIGINT)
                   AS over_occ_buckets
        FROM bucket GROUP BY 1
    )
    SELECT band, n_buckets, n_rows, max_occ, over_occ_buckets,
           ROUND(CAST(n_rows AS DOUBLE) / n_buckets, 6) AS mean_occ,
           p.r AS stored_r, p.rec_r AS recommended_r,
           CASE WHEN p.rec_r > p.r THEN 1 ELSE 0 END AS rebuild
    FROM h, p
    """


@query("x96_lsh_index_health", oracle=_sql_x96())
def x96_lsh_index_health(spark, sf_dir):
    """Health-report lifecycle over the embeddings table: build the
    band index on the even vec_ids (freezing the width the HALF corpus
    recommends), stream the odd half in through the bookmark refresh
    (banded at the stored width — the frozen-width contract), then
    report per-band occupancy and the rebuild flag. At SFs where
    doubling the corpus crosses a width boundary the report recommends
    a rebuild (rebuild = 1) — exactly the drift signal the operator
    exists to raise; DuckDB replays the same integer bucket counts and
    both width formulas from the parquet table."""
    from advent_of_code_flink_paimon_spark.lakehouse import Catalog
    from advent_of_code_flink_paimon_spark.operators.dedup import _mhidx_warehouse

    catalog = Catalog(_mhidx_warehouse("lshhealth96", sf_dir), "default")
    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    t = catalog.create_table("vecs", "vec_id long, embedding array<float>", {})
    t.append(e.filter("vec_id % 2 = 0"))
    build_lsh_band_index(spark, catalog, "vecs")
    t.append(e.filter("vec_id % 2 = 1"))
    refresh_lsh_band_index(spark, catalog, "vecs")
    return lsh_index_health(spark, catalog, "vecs")


# ----------------------------------------------------------------------
# Streaming dedup QUALITY evidence (VERDICT r10 ask #8): the x68
# protocol applied to VectorDedupIngestPipeline's own decisions. The
# differential test pins the pipeline's greedy banded MECHANICS; this
# report measures what those mechanics are worth — of the inputs that
# exactly-near-duplicate something the greedy order should have caught,
# how many did the LSH probe actually drop (recall), and were any
# drops unjustified (precision — structurally 1.0, because every drop
# passes an exact-cosine verify; the report PROVES that instead of
# assuming it).
#
# Ground truth is the x06-class exact pair relation, restricted to the
# pipeline's own greedy visibility rule: input i should drop iff some
# input j with cosine(i,j) ≥ threshold was visible to i's batch —
# committed from an EARLIER batch (the corpus probe only sees
# committed vectors), or in the SAME batch with a lower vec_id (the
# in-batch rule drops the higher id against raw batch peers, kept or
# not). Exact compute is O(inputs²) — the declared ground-truth cost,
# sample-bound it at production scale exactly like x68 bounds its
# exact side.
# ----------------------------------------------------------------------


def vector_dedup_ingest_recall_report(
    spark, catalog, vecs_table: str, inputs: DataFrame, threshold: float | None = None
) -> DataFrame:
    """One-row report over a completed ingest run: ``inputs`` is the
    full streamed relation (vec_id, embedding, batch_id in the order
    the pipeline consumed it); the kept set is read back from the
    lakehouse table. Columns: n_inputs, n_kept, n_dropped, true_drops,
    false_drops, missed_dups, drop_recall, drop_precision."""
    from advent_of_code_flink_paimon_spark.operators.dedup import (
        _COSINE_DUP_THRESHOLD,
    )

    thr = _COSINE_DUP_THRESHOLD if threshold is None else threshold
    kept_ids = (
        catalog.get_table(vecs_table).read(spark).select("vec_id").distinct()
    )
    iv = _pq_vecs(inputs.select("vec_id", "embedding")).join(
        inputs.select("vec_id", "batch_id"), "vec_id"
    )
    marked = iv.join(
        kept_ids.withColumn("__kept", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id", "cv", _norm("cv").alias("nrm"), "batch_id",
        F.coalesce("__kept", F.lit(0)).alias("kept"),
    )
    a = marked.select(
        F.col("vec_id").alias("i"), F.col("cv").alias("icv"),
        F.col("nrm").alias("inorm"), F.col("batch_id").alias("ib"),
        F.col("kept").alias("ikept"),
    )
    b = marked.select(
        F.col("vec_id").alias("j"), F.col("cv").alias("jcv"),
        F.col("nrm").alias("jnorm"), F.col("batch_id").alias("jb"),
        F.col("kept").alias("jkept"),
    )
    visible = (F.col("jb") < F.col("ib")) & (F.col("jkept") == 1) | (
        (F.col("jb") == F.col("ib")) & (F.col("j") < F.col("i"))
    )
    should_drop = (
        a.join(b, visible & (F.col("i") != F.col("j")))
        .filter(
            F.round(_dot("icv", "jcv") / (F.col("inorm") * F.col("jnorm")), 4)
            >= thr
        )
        .select("i")
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    flags = marked.join(
        should_drop.withColumnRenamed("i", "vec_id"), "vec_id", "left"
    ).select("kept", F.coalesce("__dup", F.lit(0)).alias("dup"))
    agg = flags.agg(
        F.count("*").cast("long").alias("n_inputs"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.sum(1 - F.col("kept")).cast("long").alias("n_dropped"),
        F.sum((1 - F.col("kept")) * F.col("dup")).cast("long").alias("true_drops"),
        F.sum((1 - F.col("kept")) * (1 - F.col("dup"))).cast("long").alias("false_drops"),
        F.sum(F.col("kept") * F.col("dup")).cast("long").alias("missed_dups"),
    )
    dup_total = F.col("true_drops") + F.col("missed_dups")
    return agg.select(
        "*",
        F.round(
            F.when(dup_total > 0, F.col("true_drops").cast("double") / dup_total)
            .otherwise(F.lit(1.0)), 6,
        ).alias("drop_recall"),
        F.round(
            F.when(F.col("n_dropped") > 0,
                   F.col("true_drops").cast("double") / F.col("n_dropped"))
            .otherwise(F.lit(1.0)), 6,
        ).alias("drop_precision"),
    )


# Round-14 rotation (VERDICT r13 ask #1): x61 yields its registry slot
# to a promoted round-13 library card — the cluster-aware sampling
# class stays driver-scored via x34 (keep-best) and x43/x44
# (stratified/mixture), and x61 remains full oracle-gated through the
# strict local harness.
from advent_of_code_flink_paimon_spark.operators.registry import demote as _demote_r14s  # noqa: E402

_demote_r14s("x61_cluster_balanced_sample")
del _demote_r14s


# Round-17 demotions (similarity.py's share of the 13 slots freed for
# the VERDICT r16 ask #1 promotions): x72 IVF-PQ residual top-k
# (IVF-PQ class driver-evidenced by x66/x67 with r16 rows plus x92
# batch probe staying scored), x80 embedding anisotropy (embedding
# telemetry covered by x38 quantization staying scored + x96/x98
# index-health cards), x94 matryoshka recall (ANN recall class
# covered by x68 with an r16 row). All three remain strict-oracle
# gated by the local harness.
from advent_of_code_flink_paimon_spark.operators.registry import demote as _demote_r17e  # noqa: E402

for _n in (
    "x72_ivfpq_residual_topk",
    "x80_embedding_anisotropy",
    "x94_matryoshka_recall",
):
    _demote_r17e(_n)
del _demote_r17e, _n
