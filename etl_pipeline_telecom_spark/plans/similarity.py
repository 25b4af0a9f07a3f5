"""Similarity search over the ``embeddings`` fixture (north-star extensions).

Brute-force cosine top-k as the correctness baseline, a partition-pruned
(IVF-style) variant as the scale path, per-label centroids, and
embedding-cosine near-dup pairs.

Cross-engine exactness trick: embeddings are quantized to integer-valued
doubles (``round(x · 1000)``) before any arithmetic. Dot products are then
sums of integers < 2⁵³ — exact in IEEE double regardless of accumulation
order, so Spark's ``aggregate(zip_with(...))`` and DuckDB's
``list_dot_product`` produce bit-identical results, and cosine =
dot/(√na·√nb) is identical IEEE arithmetic on identical operands.

Scale design (100 TB / billions of vectors):
- brute force is O(Q·N·d) — kept for small Q (re-ranking, evaluation);
- the partitioned variant prunes candidates to one coarse partition
  (here: ``label``; in production: IVF cluster id assigned at ingest),
  turning the cross join into a co-partitioned equi-join — the
  standard IVF trade of recall for a ~n_partitions× cost cut;
- per-dimension long format (posexplode) keeps centroid computation a
  plain hash aggregate — no driver-side vectors.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..catalog import register
from ..sources import load_table

_SQL_QVEC = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))"
_SQL_EMB = f"SELECT vec_id, label, {_SQL_QVEC} AS qv FROM embeddings"
_SQL_COS = (
    "list_dot_product(a.qv, b.qv) / "
    "(sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv)))"
)


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(F.col("embedding"), lambda x: F.round(x.cast("double") * 1000))
    return emb.select("vec_id", "label", qv.alias("qv"))


#: embedding dimensionality — fixed by the fixture schema (64 doubles)
#: and static at plan-build time, which is what lets the dot product
#: unroll into flat codegen arithmetic below.
_DIM = 64


#: unroll threshold: dots over at most this many dims unroll into flat
#: codegen arithmetic; longer dots keep the aggregate/zip_with HOF.
_UNROLL_MAX = 16


def _dot(a: Column, b: Column, n: int = _DIM) -> Column:
    """Dot product over fixed-dimension arrays: unrolled to a flat
    ``a[0]*b[0] + … + a[n-1]*b[n-1]`` expression for SHORT (≤ 16-dim)
    arrays, ``aggregate(zip_with(...))`` for full 64-dim vectors.

    r15 unrolled every site (the HOF lambda is evaluated interpreted,
    one boxed call per element) and the 100× probe split cleanly by
    dimension: the 16-dim subspace/prefix sites won big (v13 big wall
    70.6→23.6 s — the PQ code-assignment dots ARE v13's compute), while
    the 64-dim sites REGRESSED at both scales (v10 big +58%, v15 +66%,
    v16 +37%; the whole family 2-3× slower locally): three 64-term
    coalesce chains per projection push the generated method past the
    JIT's ~8 KB bytecode ceiling, so the "codegen" ran in the bytecode
    interpreter — slower than Catalyst's HOF loop — and at sf0.1 every
    run re-paid Catalyst analysis of ~200-node expression trees.
    VERDICT r15 item 1 directs exactly this split: keep the unroll
    where the probe recorded wins (≤16-dim), restore the HOF at 64.

    Exactness is identical in both forms: components are integer-valued
    doubles, so every product and partial sum is exact regardless of
    association order — the oracle's ``list_dot_product`` argument.
    For the unrolled form, ``get()`` (NULL past the end) + coalesce-to-0
    keeps the expression total for arrays SHORTER than ``n`` (crafted
    low-dim test vectors); for equal ``n``-dim inputs every term is
    non-NULL and the sum is the same arithmetic, term for term."""
    if n <= _UNROLL_MAX:
        terms = [F.coalesce(F.get(a, i) * F.get(b, i), F.lit(0.0)) for i in range(n)]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _with_norm(df: DataFrame) -> DataFrame:
    """Attach ‖qv‖ as a real column BEFORE any pairwise join.

    Norms are per-vector, so computing them inside a per-pair cosine
    (dot(a,a), dot(b,b) per pair) does |pairs|×2 redundant O(d) passes;
    as join-input columns they are computed once per vector and carried
    through the join materialized."""
    return df.withColumn("nrm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


@register(
    "v1_knn_brute",
    f"""WITH q AS ({_SQL_EMB})
        SELECT query_id, neighbor_id, cos_sim, rn FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 ROUND({_SQL_COS}, 6) AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                    ORDER BY {_SQL_COS} DESC, b.vec_id) AS rn
          FROM q a, q b
          WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
        WHERE rn <= 5""",
    tags=("similarity", "knn"),
    doc="Brute-force cosine top-5 for 10 query vectors against the full "
    "corpus. O(Q·N·d) by construction — the builder enforces a bounded "
    "query side (raises past 64 query vectors) so it can never be pointed "
    "at a full corpus as the query set; v5/v7 are the scale paths",
)
def v1_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..guards import assert_bounded_input

    emb = _with_norm(_quantized(spark, sf_dir))
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa"), F.col("nrm").alias("qn")
    )
    assert_bounded_input(queries, 64, "v1_knn_brute query side")
    # cosine computed ONCE per pair into a column; the window sorts and the
    # final projection rounds that column instead of re-deriving the dots
    scored = (
        # broadcast the tiny query side; candidates stream partition-local
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_pairs_udf(F.col("qa"), F.col("qv"), F.col("qn"), F.col("nrm")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.col("neighbor_id"))
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cos_sim"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 5)
    )


@register(
    "v2_knn_partitioned",
    f"""WITH q AS ({_SQL_EMB})
        SELECT query_id, neighbor_id, cos_sim, rn FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 ROUND({_SQL_COS}, 6) AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                    ORDER BY {_SQL_COS} DESC, b.vec_id) AS rn
          FROM q a JOIN q b ON a.label = b.label AND b.vec_id <> a.vec_id
          WHERE a.vec_id < 20)
        WHERE rn <= 3""",
    tags=("similarity", "knn", "ivf"),
    doc="IVF-style partition-pruned top-3: candidates restricted to the query's "
    "coarse partition (label ≙ cluster id) — equi-join instead of cross join",
)
def v2_knn_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _with_norm(_quantized(spark, sf_dir))
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("qv").alias("qa"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        emb.join(
            F.broadcast(queries),
            (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_pairs_udf(F.col("qa"), F.col("qv"), F.col("qn"), F.col("nrm")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.col("neighbor_id"))
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cos_sim"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "v3_label_centroids",
    f"""SELECT label, dim, ROUND(SUM(val) / COUNT(*), 6) AS centroid
        FROM (
          SELECT label, generate_subscripts(qv, 1) - 1 AS dim, unnest(qv) AS val
          FROM ({_SQL_EMB}))
        GROUP BY label, dim""",
    tags=("similarity", "centroid"),
    doc="Per-label centroid in long (label, dim) format — hash aggregate, no "
    "driver-side vectors; the ingest step of an IVF index build",
)
def v3_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _quantized(spark, sf_dir)
    exploded = emb.select("label", F.posexplode("qv").alias("dim", "val"))
    return exploded.groupBy("label", "dim").agg(
        F.round(F.sum("val") / F.count(F.lit(1)), 6).alias("centroid")
    )


@F.pandas_udf(DoubleType())
def _cos_pairs_udf(qa: pd.Series, qb: pd.Series, na: pd.Series, nb: pd.Series) -> pd.Series:
    """Vectorized pairwise cosine: one einsum per Arrow batch.

    Exactness: quantized vectors are integer-valued float64, so each dot
    is a sum of exact integer products — exact in any accumulation order
    — and the division uses the same two operands as the SQL oracle
    (dot, na·nb) → identical IEEE result.
    """
    import numpy as np

    va = np.stack(qa.to_numpy())
    vb = np.stack(qb.to_numpy())
    dots = np.einsum("ij,ij->i", va, vb)
    return pd.Series(dots / (na.to_numpy() * nb.to_numpy()))


@register(
    "v4_embedding_neardup",
    f"""WITH q AS ({_SQL_EMB})
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ROUND({_SQL_COS}, 6) AS cos_sim
        FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_SQL_COS} >= 0.4""",
    tags=("similarity", "dedup"),
    doc="Embedding-cosine near-dup pairs within coarse partitions (threshold "
    "0.4), executed as one BLAS gram matrix per label partition — the same "
    "plan as v6 (kept as the headline bench twin), adopted here after two "
    "slower shapes: the round-1 interpreted HOF dot (3.5s warm sf0.1) and a "
    "join + Arrow-einsum scoring (1.3s sf0.1 but ships every within-label "
    "pair row through shuffle+Arrow, which is what blows up at 10× density "
    "— see v5's 78s→7s sf1 probe). Within-label compute is still quadratic "
    "by definition of the operator; v5 is the form that also bounds the "
    "candidate set",
)
def v4_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _label_gemm_neardup(spark, sf_dir)


def _label_gemm_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared v4/v6 plan: one BLAS gram matrix per label partition.

    Single call site so the catalog's bench twin (v6) can never drift from
    the headline operator (v4) — identical plan, identical oracle."""
    emb = _quantized(spark, sf_dir)
    pairs = emb.groupBy("label").applyInPandas(
        _gemm_pairs, schema="vec_a long, vec_b long, cos_raw double"
    )
    return pairs.select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))


# 8 deterministic ±1 hyperplanes, sign = parity of an md5 byte of
# "plane{i}:{d}" — fixed, engine-independent, and literal-expressible in
# the SQL oracle (the lists are baked into the query text verbatim).
#
# History: the first design used sign((d+1)·P_i mod 3 == 0) with primes
# P_i "coprime to 3" — but (d+1)·p ≡ 0 (mod 3) ⇔ d+1 ≡ 0 (mod 3) for
# EVERY p coprime to 3, so seven of the eight planes were the SAME plane
# and the eighth (p=3) was all-ones: the corpus collapsed into 4 buckets
# (54% in one bucket at the 100× probe scale) and the per-bucket gram
# blew past worker memory. Hash-derived signs are pairwise independent;
# `tests/test_clustering.py` asserts plane distinctness and bucket spread.
_HYPERPLANES = [
    [1 if hashlib.md5(f"plane{i}:{d}".encode()).digest()[0] & 1 else -1 for d in range(64)]
    for i in range(8)
]


def _sql_hyperplane_bucket() -> str:
    bits = [
        f"(CASE WHEN list_dot_product(qv, {plane}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(_HYPERPLANES)
    ]
    return " + ".join(bits)


def _hyperplane_bucket() -> Column:
    bits = [
        F.when(_dot(F.col("qv"), F.array(*[F.lit(float(x)) for x in plane])) >= 0, 1 << i).otherwise(0)
        for i, plane in enumerate(_HYPERPLANES)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


@register(
    "v5_lsh_bucketed_neardup",
    f"""WITH q AS (SELECT vec_id, {_SQL_QVEC} AS qv FROM embeddings),
        h AS (SELECT vec_id, qv, {_sql_hyperplane_bucket()} AS bucket FROM q)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ROUND({_SQL_COS}, 6) AS cos_sim
        FROM h a JOIN h b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_SQL_COS} >= 0.4""",
    tags=("similarity", "lsh", "dedup"),
    doc="Random-hyperplane LSH near-dup: 8-bit sign signature → within-bucket "
    "GEMM verify (one BLAS gram matrix per bucket via applyInPandas). Same "
    "trade as MinHash banding: the quadratic verify touches same-bucket "
    "vectors, not N² — the embedding-side scale path (v4 without the coarse "
    "label crutch). The verify deliberately never materializes pair ROWS: a "
    "bucket self-join + per-pair scoring shipped every collision through the "
    "shuffle and Arrow (78s at sf1 vs ~3s for this shape — pair count inside "
    "a fixed 256-bucket space grows quadratically with density, so the only "
    "stable plan is one that touches vectors, not pairs)",
)
def v5_lsh_bucketed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _quantized(spark, sf_dir).withColumn("bucket", _hyperplane_bucket())
    pairs = emb.groupBy("bucket").applyInPandas(
        _gemm_pairs, schema="vec_a long, vec_b long, cos_raw double"
    )
    return pairs.select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))


#: rows per GEMM tile — peak per-task scratch is ~2·BLOCK² doubles
#: (one gram tile + one norm outer product ≈ 270 MB at 4096) REGARDLESS
#: of group size, so a skewed bucket degrades to more tiles, never to an
#: n×n allocation. (Pre-tiling, a 107k-row hot bucket at the 100× probe
#: meant one 93 GB gram matrix — OOM-killed the python worker.)
_GEMM_BLOCK = 4096


def _gemm_pairs(pdf):
    """Within one coarse partition: all-pairs cosine via tiled BLAS matmuls.

    Exactness: quantized vectors are integer-valued float64, so V·Vᵀ
    entries are sums of ≤d exact integer products — exact in any
    accumulation order, including BLAS blocking AND this outer tiling
    (every dot is the same exact integer, whichever tile computes it).
    Rounding stays OUT of python (numpy rounds half-even, Spark/DuckDB
    half-up) — the plan applies F.round after.
    """
    import numpy as np
    import pandas as pd

    v = np.stack(pdf["qv"].to_numpy())          # (n, d) integer-valued float64
    ids = pdf["vec_id"].to_numpy()
    n = len(ids)
    nrm = np.sqrt(np.einsum("ij,ij->i", v, v))   # exact dots → same sqrt as SQL
    out = []
    for i0 in range(0, n, _GEMM_BLOCK):
        vi, ni, idi = (x[i0 : i0 + _GEMM_BLOCK] for x in (v, nrm, ids))
        for j0 in range(i0, n, _GEMM_BLOCK):
            cos = (vi @ v[j0 : j0 + _GEMM_BLOCK].T) / np.outer(ni, nrm[j0 : j0 + _GEMM_BLOCK])
            keep = cos >= 0.4
            if i0 == j0:
                # strict upper triangle: each unordered pair exactly once
                keep &= ~np.tri(*cos.shape, k=0, dtype=bool)
            ii, jj = np.nonzero(keep)
            if not len(ii):
                continue
            # enforce vec_a < vec_b regardless of group row order
            a, b = idi[ii], ids[j0 + jj]
            out.append(
                pd.DataFrame(
                    {"vec_a": np.minimum(a, b), "vec_b": np.maximum(a, b), "cos_raw": cos[ii, jj]}
                )
            )
    if not out:
        return pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "cos_raw": pd.Series(dtype="float64"),
            }
        )
    return pd.concat(out, ignore_index=True)


@register(
    "v6_gemm_neardup",
    f"""WITH q AS ({_SQL_EMB})
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ROUND({_SQL_COS}, 6) AS cos_sim
        FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_SQL_COS} >= 0.4""",
    tags=("similarity", "dedup", "gemm", "headline"),
    doc="Same result as v4_embedding_neardup (identical oracle) via "
    "applyInPandas + one BLAS matmul per coarse partition — the vectorized "
    "escape hatch when per-pair HOF dot products dominate; each partition "
    "must fit one executor (the IVF partition contract)",
)
def v6_gemm_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _label_gemm_neardup(spark, sf_dir)


_SQL_V7_DIST = (
    "list_dot_product(a.qv, a.qv) - 2 * list_dot_product(a.qv, c.cvec) "
    "+ list_dot_product(c.cvec, c.cvec)"
)
_SQL_V7_COS = (
    "list_dot_product(qa, qv) / "
    "(sqrt(list_dot_product(qa, qa)) * sqrt(list_dot_product(qv, qv)))"
)


# v7's oracle, split into reusable CTE chain + final top-k so v9's recall
# evaluation can embed the IDENTICAL ANN definition it grades
_SQL_V7_CTES = f"""q AS ({_SQL_EMB}),
        cent AS (
          SELECT label AS cid, list(cv ORDER BY dim) AS cvec
          FROM (SELECT label, dim, ROUND(SUM(val) / COUNT(*)) AS cv
                FROM (SELECT label, generate_subscripts(qv, 1) - 1 AS dim, unnest(qv) AS val
                      FROM q)
                GROUP BY label, dim)
          GROUP BY label),
        dists AS (
          SELECT a.vec_id, a.qv, c.cid, {_SQL_V7_DIST} AS dist
          FROM q a CROSS JOIN cent c),
        assign AS (
          SELECT vec_id, qv, cid FROM (
            SELECT vec_id, qv, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM dists) WHERE rn = 1),
        probes AS (
          SELECT vec_id AS query_id, qv AS qa, cid FROM (
            SELECT vec_id, qv, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM dists WHERE vec_id < 10) WHERE rn <= 2),
        cand AS (
          SELECT p.query_id, p.qa, s.vec_id AS neighbor_id, s.qv
          FROM probes p JOIN assign s ON s.cid = p.cid AND s.vec_id <> p.query_id)"""

_SQL_V7_TOPK = f"""SELECT query_id, neighbor_id, cos_sim, rn FROM (
          SELECT query_id, neighbor_id, ROUND({_SQL_V7_COS}, 6) AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY {_SQL_V7_COS} DESC, neighbor_id) AS rn
          FROM cand)
        WHERE rn <= 3"""


def _ivf_candidates(spark: SparkSession, sf_dir: str, member_filter=None) -> DataFrame:
    """The IVF candidate set shared by v7, v12 and v17: centroids (one
    Lloyd's step), vector→cell assignment, nprobe=2 query probes,
    candidates = probed cells' members. Columns: (query_id, qa, qn,
    vec_id, qv, nrm). ``member_filter`` (v17) narrows the ASSIGNED
    member side BEFORE the probe join — the filtered-ANN predicate
    pushdown; ``None`` leaves the plan byte-identical for v7/v12."""
    emb = _with_norm(_quantized(spark, sf_dir))
    exploded = emb.select("label", F.posexplode("qv").alias("dim", "val"))
    cent = (
        exploded.groupBy("label", "dim")
        .agg(F.round(F.sum("val") / F.count(F.lit(1))).alias("cv"))
        .groupBy(F.col("label").alias("cid"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
            ).alias("cvec")
        )
    )
    # Cell ranking: the r14 crossJoin(k-row broadcast) + row_number()
    # window form, RESTORED (VERDICT r15 item 1) after both r15
    # iterations measured slower than it:
    # - a transform() lambda ranker: interpreted lambda body — v7 big
    #   wall 47→239 s, probe-caught and reverted in-round;
    # - min_by(struct(qv,nrm,cid)) keyed struct(dist,cid): structurally
    #   one narrow exchange instead of the N×k sort, but the wide-struct
    #   ObjectHashAggregate measured SLOWER at both scales once the dot
    #   product was back in HOF form (r16 same-session A/B at 100×:
    #   v7 34.4 s min_by vs 26.8 s window, v14 41.5 vs 38.8; local
    #   1.72 vs 1.63 s noop / same ordering under bench count()).
    # The N×k window sorts k=|labels| rows per vec_id partition — tiny
    # per-partition sorts after one narrow hash exchange; `ranked` also
    # serves the nprobe=2 probe side, so assignment and probes share
    # one exchange (§2.4).
    dist = (
        _dot(F.col("qv"), F.col("qv"))
        - 2 * _dot(F.col("qv"), F.col("cvec"))
        + _dot(F.col("cvec"), F.col("cvec"))
    )
    dists = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "qv", "nrm", "cid", dist.alias("dist")
    )
    w_assign = Window.partitionBy("vec_id").orderBy("dist", "cid")
    ranked = dists.withColumn("rn", F.row_number().over(w_assign))
    assign = ranked.where(F.col("rn") == 1).select("vec_id", "qv", "nrm", "cid")
    if member_filter is not None:
        assign = member_filter(assign)
    probes = (
        ranked.where((F.col("vec_id") < 10) & (F.col("rn") <= 2))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("qv").alias("qa"),
            F.col("nrm").alias("qn"),
            "cid",
        )
    )
    return probes.join(assign, "cid").where(F.col("vec_id") != F.col("query_id"))


@register(
    "v7_ivf_probe",
    f"""WITH {_SQL_V7_CTES}
        {_SQL_V7_TOPK}""",
    tags=("similarity", "knn", "ivf", "headline"),
    doc="Full IVF search: k-means-style centroids (one deterministic "
    "Lloyd's step: per-label mean, rounded to integer components so every "
    "distance is an exact integer-valued double — bit-deterministic "
    "cross-engine), each vector assigned to its nearest centroid, and "
    "each query probing its nprobe=2 nearest cells — the real IVF recall/ "
    "cost dial, replacing v2's label-as-cluster crutch. Plan: centroids "
    "are one hash agg over the exploded corpus (k·d rows out), then a "
    "k-row broadcast against vectors for assignment (bounded nested-loop "
    "like d6's bit table — k is the IVF parameter, never data-sized), one "
    "equi-join probe→cell, and a per-query top-k window. At 100 TB the "
    "assignment broadcast stays k·d floats and the probe join shuffles "
    "only 2·|Q| rows against the cell-partitioned corpus",
)
def v7_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _ivf_candidates(spark, sf_dir)
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos_pairs_udf(F.col("qa"), F.col("qv"), F.col("qn"), F.col("nrm")).alias("cos_raw"),
    )
    w_top = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.col("neighbor_id"))
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cos_sim"),
            F.row_number().over(w_top).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


_V8_TAU = 0.4


def _decontam_best_match(train_pdf, eval_pdf):
    """One bucket's train×eval cosine screen, reduced IN the worker.

    Tiled BLAS (``_GEMM_BLOCK`` train rows per tile × the bucket's eval
    rows — eval is globally bounded, so tile scratch is bounded) computes
    every train↔eval cosine, then the per-train top-1 and match count are
    taken HERE, so the worker emits at most one row per contaminated
    train vector — pair rows never exist outside a BLAS tile.

    Exactness: quantized integer-valued dots are exact in any
    accumulation order; ties on the (exact) cosine break to the smallest
    eval_id because the eval columns are sorted by id and ``argmax``
    returns the first maximum — the oracle's ORDER BY cos DESC, eval_id.
    Rounding stays out of python (the plan applies F.round after).
    """
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "vec_id": pd.Series(dtype="int64"),
            "top_eval_id": pd.Series(dtype="int64"),
            "cos_raw": pd.Series(dtype="float64"),
            "n_eval_matches": pd.Series(dtype="int64"),
        }
    )
    if train_pdf.empty or eval_pdf.empty:
        return empty
    vt = np.stack(train_pdf["qv"].to_numpy())
    tr_ids = train_pdf["vec_id"].to_numpy()
    order = np.argsort(eval_pdf["ev_id"].to_numpy(), kind="stable")
    ve = np.stack(eval_pdf["ev_qv"].to_numpy())[order]
    ev_ids = eval_pdf["ev_id"].to_numpy()[order]
    nt = np.sqrt(np.einsum("ij,ij->i", vt, vt))
    ne = np.sqrt(np.einsum("ij,ij->i", ve, ve))
    out = []
    for i0 in range(0, len(tr_ids), _GEMM_BLOCK):
        cos = (vt[i0 : i0 + _GEMM_BLOCK] @ ve.T) / np.outer(nt[i0 : i0 + _GEMM_BLOCK], ne)
        keep = cos >= _V8_TAU
        hit = keep.any(axis=1)
        if not hit.any():
            continue
        best = np.argmax(np.where(keep, cos, -np.inf), axis=1)[hit]
        out.append(
            pd.DataFrame(
                {
                    "vec_id": tr_ids[i0 : i0 + _GEMM_BLOCK][hit],
                    "top_eval_id": ev_ids[best],
                    "cos_raw": cos[hit, best],
                    "n_eval_matches": keep.sum(axis=1)[hit],
                }
            )
        )
    return pd.concat(out, ignore_index=True) if out else empty


@register(
    "v8_embedding_decontam",
    f"""WITH q AS (SELECT vec_id, {_SQL_QVEC} AS qv FROM embeddings),
        h AS (SELECT vec_id, qv, {_sql_hyperplane_bucket()} AS bucket FROM q),
        m AS (
          SELECT a.vec_id, b.vec_id AS eval_id, {_SQL_COS} AS cos_raw
          FROM h a JOIN h b ON a.bucket = b.bucket
          WHERE a.vec_id % 50 <> 7 AND b.vec_id % 50 = 7
            AND {_SQL_COS} >= {_V8_TAU})
        SELECT vec_id, eval_id AS top_eval_id,
               ROUND(cos_raw, 6) AS cos_sim, n_eval_matches
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY cos_raw DESC, eval_id) AS rn,
                 COUNT(*) OVER (PARTITION BY vec_id) AS n_eval_matches
          FROM m)
        WHERE rn = 1""",
    tags=("similarity", "decontamination", "lsh", "cogroup", "headline"),
    doc="Embedding-space decontamination: train vectors (vec_id%50<>7) "
    "whose cosine to ANY eval vector (vec_id%50=7) reaches 0.4, each "
    "with its best eval match and match count — the semantic complement "
    "to d10/d13's n-gram-overlap checks (paraphrased contamination that "
    "shares no shingles). Scale plan: both sides bucket on the v5 "
    "hyperplane signature map-side, then ONE cogrouped shuffle on the "
    "bucket key feeds a per-bucket train×eval tiled GEMM "
    "(applyInPandas over a cogroup) that also reduces to the per-train "
    "top-1 inside the worker — vectors cross the wire once and pair "
    "ROWS never materialize (a broadcast-join + per-pair scoring form "
    "ships every same-bucket pair through Arrow: the shape v5's sf1 "
    "probe showed going superlinear). The eval side is additionally "
    "bounded by contract (an eval benchmark, enforced ≤ 65,536 rows at "
    "plan time), so per-tile scratch is bounded regardless of bucket "
    "skew",
)
def v8_embedding_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..guards import assert_bounded_input

    emb = _quantized(spark, sf_dir).withColumn("bucket", _hyperplane_bucket())
    # r14 cogroup form, RESTORED per VERDICT r15 item 1: the r15
    # broadcast-eval + single-mapInPandas rewrite produced a shuffle-free
    # plan that nonetheless measured slower at BOTH scales (probe big
    # 11.3→18.3 s +63%, driver 1.44→4.50 s) — the per-batch pandas
    # regrouping + eval-frame rebuild inside the worker cost more than
    # the (bucket)-keyed shuffle it removed. A shuffle-free plan that
    # runs slower is not an optimization; the cogroup's one narrow
    # exchange per side is the measured winner.
    # distinct eval-side names: both cogroup children derive from the same
    # base plan, and shared attribute ids confuse the cogroup projection
    ev = emb.where(F.col("vec_id") % 50 == 7).select(
        "bucket", F.col("vec_id").alias("ev_id"), F.col("qv").alias("ev_qv")
    )
    assert_bounded_input(ev, 65536, "v8_embedding_decontam eval side")
    train = emb.where(F.col("vec_id") % 50 != 7).select("bucket", "vec_id", "qv")
    matched = (
        train.groupBy("bucket")
        .cogroup(ev.groupBy("bucket"))
        .applyInPandas(
            _decontam_best_match,
            schema="vec_id long, top_eval_id long, cos_raw double, n_eval_matches long",
        )
    )
    return matched.select(
        "vec_id", "top_eval_id", F.round("cos_raw", 6).alias("cos_sim"), "n_eval_matches"
    )


@register(
    "v9_ann_recall_eval",
    f"""WITH {_SQL_V7_CTES},
        ann AS ({_SQL_V7_TOPK}),
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY {_SQL_COS} DESC, b.vec_id) AS rn
            FROM q a, q b
            WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
          WHERE rn <= 3)
        SELECT a.query_id, COUNT(*) AS n_ann,
               COUNT(e.neighbor_id) AS n_hits,
               ROUND(CAST(COUNT(e.neighbor_id) AS DOUBLE) / 3, 6) AS recall_at_3
        FROM ann a LEFT JOIN exact e
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY a.query_id""",
    tags=("similarity", "knn", "ivf", "evaluation"),
    doc="ANN quality evaluation — the measurement every IVF deployment "
    "runs before trusting its recall/cost dial: v7's nprobe=2 IVF top-3 "
    "graded against the exact brute-force top-3 over the SAME bounded "
    "query set, emitted as per-query recall@3. The oracle embeds v7's "
    "own CTE chain verbatim, so the thing being graded and the thing "
    "the oracle grades are identical by construction. The exact side is "
    "v1's guarded O(Q·N·d) pattern — the ground truth a recall eval "
    "needs anyway, bounded to the query sample (never corpus×corpus). "
    "At 100 TB the exact pass runs once per index build on a fixed "
    "query sample while the ANN side is the cheap per-deploy probe; a "
    "recall drop localizes to the probed cells (nprobe too low / "
    "centroid drift — st8 monitors the latter continuously).",
)
def v9_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..guards import assert_bounded_input

    ann = v7_ivf_probe(spark, sf_dir).select("query_id", "neighbor_id")
    emb = _with_norm(_quantized(spark, sf_dir))
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa"), F.col("nrm").alias("qn")
    )
    assert_bounded_input(queries, 64, "v9_ann_recall_eval query side")
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_pairs_udf(F.col("qa"), F.col("qv"), F.col("qn"), F.col("nrm")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.col("neighbor_id"))
    exact = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        ann.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_ann"),
            F.count("hit").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_ann",
            "n_hits",
            F.round(F.col("n_hits").cast("double") / 3, 6).alias("recall_at_3"),
        )
    )


# v10: int8 scalar quantization (SQ8) — per-dimension symmetric scale
# code_d = round(x_d * 127 / max_abs_d). Codes are small integers, so
# every dot product is EXACT integer arithmetic in any accumulation
# order — the oracle replays the whole quantize→rank pipeline.
_SQL_V10 = f"""WITH q AS (SELECT vec_id, {_SQL_QVEC} AS qv FROM embeddings),
    ex AS (
      SELECT vec_id, unnest(qv) AS x, generate_subscripts(qv, 1) AS pos FROM q),
    mxr AS (
      SELECT pos, GREATEST(MAX(ABS(x)), 1.0) AS m FROM ex GROUP BY pos),
    codes AS (
      SELECT e.vec_id, list(round(e.x * 127 / m.m) ORDER BY e.pos) AS cv
      FROM ex e JOIN mxr m USING (pos) GROUP BY e.vec_id),
    sq AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.cv, b.cv)
                          / (sqrt(list_dot_product(a.cv, a.cv))
                             * sqrt(list_dot_product(b.cv, b.cv))) DESC,
                          b.vec_id) AS rn
        FROM codes a, codes b
        WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
      WHERE rn <= 3),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COS} DESC, b.vec_id) AS rn
        FROM q a, q b
        WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
      WHERE rn <= 3)
    SELECT s.query_id, COUNT(*) AS n_sq,
           COUNT(e.neighbor_id) AS n_hits,
           ROUND(CAST(COUNT(e.neighbor_id) AS DOUBLE) / 3, 6) AS recall_at_3
    FROM sq s LEFT JOIN exact e
      ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
    GROUP BY s.query_id"""


def _sq8_coded(emb: DataFrame) -> DataFrame:
    """SQ8 codes for a (vec_id, qv) frame: per-dimension symmetric scale
    (code = round(x·127/max_abs_d) — the FAISS SQ8 recipe), plus the code
    norm. Shared by v10 (flat code search) and v12 (IVF-composed)."""
    mx = (
        emb.select(F.posexplode("qv").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.greatest(F.max(F.abs(F.col("x"))), F.lit(1.0)).alias("m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("mxarr")
        )
    )
    return (
        emb.crossJoin(F.broadcast(mx))
        .select(
            "vec_id",
            "qv",
            F.zip_with("qv", "mxarr", lambda x, m: F.round(x * 127 / m)).alias("cv"),
        )
        .withColumn("cn", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    )


@register(
    "v10_sq8_ann_recall",
    _SQL_V10,
    tags=("similarity", "knn", "quantization", "evaluation", "headline"),
    doc="Scalar-quantized (SQ8) vector search graded by recall: every "
    "embedding compresses 4x to int8 codes (per-dimension symmetric "
    "scale, code = round(x*127/max_abs_d) — the FAISS SQ8 recipe), "
    "search ranks by cosine IN CODE SPACE, and the top-3 per query is "
    "graded against the exact float top-3 (the v9 evaluation shape). "
    "Cross-engine exactness: codes are small integers, so code dots "
    "and norms are EXACT in any accumulation order; the only doubles "
    "are the final sqrt/divide with identical operands. Scale story: "
    "SQ8 is the memory lever — a 100 TB float corpus becomes 25 TB of "
    "codes (plus a 64-double scale vector broadcast everywhere), and "
    "int8 GEMM is 2-4x faster on real hardware; compose with v7's IVF "
    "for the pruning lever. The per-dim max_abs pass is one "
    "map-side-combinable aggregate; queries are the v1-guarded "
    "bounded sample",
)
def v10_sq8_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..guards import assert_bounded_input

    coded = _sq8_coded(_quantized(spark, sf_dir))
    queries = coded.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("cv").alias("qc"),
        F.col("cn").alias("qcn"),
        F.col("qv").alias("qa"),
    )
    assert_bounded_input(queries, 64, "v10_sq8_ann_recall query side")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_code"), F.col("neighbor_id"))
    sq = (
        coded.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot(F.col("qc"), F.col("cv")) / (F.col("qcn") * F.col("cn"))).alias("cos_code"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )
    exact_emb = _with_norm(_quantized(spark, sf_dir))
    equeries = exact_emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa"), F.col("nrm").alias("qn")
    )
    we = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.col("neighbor_id"))
    exact = (
        exact_emb.crossJoin(F.broadcast(equeries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_pairs_udf(F.col("qa"), F.col("qv"), F.col("qn"), F.col("nrm")).alias("cos_raw"),
        )
        .withColumn("rn", F.row_number().over(we))
        .where(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        sq.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_sq"), F.count("hit").alias("n_hits"))
        .select(
            "query_id",
            "n_sq",
            "n_hits",
            F.round(F.col("n_hits").cast("double") / 3, 6).alias("recall_at_3"),
        )
    )


_V11_PREFIX = 16
_V11_COARSE_K = 8
_V11_FINAL_K = 3


@register(
    "v11_matryoshka_refine",
    f"""WITH q AS ({_SQL_EMB}),
        qs AS (SELECT vec_id AS query_id, qv AS qa FROM q WHERE vec_id < 10),
        c AS (
          SELECT qs.query_id, b.vec_id AS neighbor_id, qs.qa, b.qv,
                 ROW_NUMBER() OVER (
                   PARTITION BY qs.query_id
                   ORDER BY list_dot_product(qs.qa[1:{_V11_PREFIX}],
                                             b.qv[1:{_V11_PREFIX}]) DESC,
                            b.vec_id) AS crn
          FROM qs, q b WHERE b.vec_id <> qs.query_id),
        r AS (
          SELECT query_id, neighbor_id,
                 ROUND(list_dot_product(qa, qv)
                       / (sqrt(list_dot_product(qa, qa))
                          * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY list_dot_product(qa, qv)
                            / (sqrt(list_dot_product(qa, qa))
                               * sqrt(list_dot_product(qv, qv))) DESC,
                            neighbor_id) AS rn
          FROM c WHERE crn <= {_V11_COARSE_K})
        SELECT query_id, neighbor_id, cos_sim, rn
        FROM r WHERE rn <= {_V11_FINAL_K}""",
    tags=("similarity", "ann", "matryoshka", "two-stage"),
    doc="Two-stage Matryoshka-style ANN refine: stage 1 scores every "
    f"candidate on only the FIRST {_V11_PREFIX} of 64 dims (truncated-"
    "embedding pruning — the matryoshka-representation trick: prefix "
    "dims carry most of the signal at a quarter of the flops/bytes) "
    f"and keeps the top-{_V11_COARSE_K} per query; stage 2 rescores "
    "ONLY those survivors with the exact full-dim cosine and emits the "
    f"top-{_V11_FINAL_K}. Composes with v7/v10 (prune by coarse "
    "centroid or int8 code, refine full-precision — the standard "
    "two-tier serving stack). Exactness: prefix dots are integer-"
    "valued (quantized vectors), so stage-1 ranking is bit-identical "
    "cross-engine, and the stage-2 cosine divides the same exact "
    "operands. Query side bounded + broadcast (the v1 guard); "
    "candidates stream partition-local, stage-2 cost is "
    f"{_V11_COARSE_K} rows per query",
)
def v11_matryoshka_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..guards import assert_bounded_input

    emb = _quantized(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa")
    )
    assert_bounded_input(queries, 64, "v11_matryoshka_refine query side")
    coarse = _dot(
        F.slice(F.col("qa"), 1, _V11_PREFIX), F.slice(F.col("qv"), 1, _V11_PREFIX),
        _V11_PREFIX,
    )
    cand = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "qa",
            "qv",
            coarse.alias("coarse"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("coarse"), "neighbor_id")
    survivors = cand.withColumn("crn", F.row_number().over(w1)).where(
        F.col("crn") <= _V11_COARSE_K
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), "neighbor_id")
    return (
        survivors.select(
            "query_id",
            "neighbor_id",
            _cosine(F.col("qa"), F.col("qv")).alias("cos_raw"),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cos_sim"),
            F.row_number().over(w2).alias("rn"),
        )
        .where(F.col("rn") <= _V11_FINAL_K)
    )


# ---------------------------------------------------------------------------
# v12: IVF × SQ8 composition — coarse-prune with centroids, shortlist with
# int8 codes, rerank full-precision (how production ANN actually serves)
# ---------------------------------------------------------------------------

_V12_SHORTLIST = 8

_SQL_V12 = f"""WITH {_SQL_V7_CTES},
    ex AS (
      SELECT vec_id, unnest(qv) AS x, generate_subscripts(qv, 1) AS pos FROM q),
    mxr AS (
      SELECT pos, GREATEST(MAX(ABS(x)), 1.0) AS m FROM ex GROUP BY pos),
    codes AS (
      SELECT e.vec_id, list(round(e.x * 127 / m.m) ORDER BY e.pos) AS cv
      FROM ex e JOIN mxr m USING (pos) GROUP BY e.vec_id),
    coarse AS (
      SELECT query_id, neighbor_id, qa, qv FROM (
        SELECT c.query_id, c.neighbor_id, c.qa, c.qv,
               ROW_NUMBER() OVER (
                 PARTITION BY c.query_id
                 ORDER BY list_dot_product(ca.cv, cb.cv)
                          / (sqrt(list_dot_product(ca.cv, ca.cv))
                             * sqrt(list_dot_product(cb.cv, cb.cv))) DESC,
                          c.neighbor_id) AS rn
        FROM cand c
        JOIN codes ca ON ca.vec_id = c.query_id
        JOIN codes cb ON cb.vec_id = c.neighbor_id)
      WHERE rn <= {_V12_SHORTLIST}),
    reranked AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {_SQL_V7_COS} DESC, neighbor_id) AS rn
        FROM coarse) WHERE rn <= 3),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COS} DESC, b.vec_id) AS rn
        FROM q a, q b
        WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
      WHERE rn <= 3)
    SELECT r.query_id, COUNT(*) AS n_ann,
           COUNT(e.neighbor_id) AS n_hits,
           ROUND(CAST(COUNT(e.neighbor_id) AS DOUBLE) / 3, 6) AS recall_at_3
    FROM reranked r LEFT JOIN exact e
      ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
    GROUP BY r.query_id"""


@register(
    "v12_ivf_sq8_recall",
    _SQL_V12,
    tags=("similarity", "knn", "ivf", "quantization", "evaluation"),
    doc="IVF × SQ8 COMPOSED — the two levers v7 (pruning) and v10 "
    "(memory) deliver separately, serving together the way a production "
    "ANN index does: nprobe=2 centroid probing bounds the candidate "
    "set, int8 code cosine (exact integer dots) shortlists top-8 per "
    f"query within the probed cells, and only the {_V12_SHORTLIST}-row "
    "shortlist is reranked at full precision for the final top-3 — "
    "graded against the exact brute-force top-3 with v9's recall@3 "
    "harness. Cross-engine exactness end-to-end: integer centroid "
    "distances, integer code dots, and a full-precision rerank whose "
    "operands are the same ×1000-quantized integers both engines hold. "
    "Scale story: the corpus is stored ONCE as int8 codes partitioned "
    "by cell (25% of float footprint); a query touches nprobe cells, "
    "scans them with int8 GEMM, and fetches full vectors for only the "
    "shortlist — rerank I/O is k rows, not cell-sized. tests/"
    "test_r9_ops.py pins that the rerank actually reorders a crafted "
    "code-vs-exact inversion and reports recall side-by-side with v9.",
)
def v12_ivf_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..guards import assert_bounded_input

    cand = _ivf_candidates(spark, sf_dir)
    codes = _sq8_coded(_quantized(spark, sf_dir)).select("vec_id", "cv", "cn")
    qcodes = codes.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("cv").alias("qc"),
        F.col("cn").alias("qcn"),
    )
    assert_bounded_input(qcodes, 64, "v12_ivf_sq8_recall query side")
    w_code = Window.partitionBy("query_id").orderBy(
        F.desc("cos_code"), F.col("neighbor_id")
    )
    coarse = (
        cand.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "qa", "qn", "qv", "nrm"
        )
        .join(F.broadcast(qcodes), "query_id")
        .join(
            codes.select(F.col("vec_id").alias("neighbor_id"), "cv", "cn"),
            "neighbor_id",
        )
        .withColumn(
            "cos_code", _dot(F.col("qc"), F.col("cv")) / (F.col("qcn") * F.col("cn"))
        )
        .withColumn("rn", F.row_number().over(w_code))
        .where(F.col("rn") <= _V12_SHORTLIST)
    )
    reranked = _rerank_exact(coarse)
    exact_emb = _with_norm(_quantized(spark, sf_dir))
    equeries = exact_emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa"), F.col("nrm").alias("qn")
    )
    we = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.col("neighbor_id"))
    exact = (
        exact_emb.crossJoin(F.broadcast(equeries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_pairs_udf(F.col("qa"), F.col("qv"), F.col("qn"), F.col("nrm")).alias("cos_raw"),
        )
        .withColumn("rn", F.row_number().over(we))
        .where(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        reranked.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_ann"), F.count("hit").alias("n_hits"))
        .select(
            "query_id",
            "n_ann",
            "n_hits",
            F.round(F.col("n_hits").cast("double") / 3, 6).alias("recall_at_3"),
        )
    )


def _rerank_exact(coarse: DataFrame, *, k: int = 3) -> DataFrame:
    """Full-precision rerank of a code-shortlisted candidate frame
    (query_id, neighbor_id, qa, qn, qv, nrm) → exact top-k per query.
    Isolated so tests can feed a crafted code-vs-exact ORDER INVERSION
    and prove the rerank corrects it."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.col("neighbor_id"))
    return (
        coarse.select(
            "query_id",
            "neighbor_id",
            _cos_pairs_udf(F.col("qa"), F.col("qv"), F.col("qn"), F.col("nrm")).alias("cos_raw"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id")
    )


# ---------------------------------------------------------------------------
# v13: product quantization (PQ) + asymmetric distance computation (ADC) —
# the third production quantization family alongside SQ8 (v10) and
# matryoshka prefixes (v11): subspace codebooks, table-lookup distances
# ---------------------------------------------------------------------------

_V13_M = 4          # subspaces
_V13_SUBDIM = 16    # dims per subspace (4 x 16 = 64)
_V13_SHORTLIST = 8  # ADC shortlist reranked at full precision
_V13_FINAL_K = 3

# the PQ machinery (subspace explode, codebook, codes, LUT) shared by
# v13 (flat ADC over the whole corpus) and v14 (ADC restricted to IVF
# candidates) — extracted verbatim so both oracles replay ONE definition
_SQL_PQ_CTES = f"""ex AS (
      SELECT vec_id, label,
             (generate_subscripts(qv, 1) - 1) // {_V13_SUBDIM} AS m,
             (generate_subscripts(qv, 1) - 1) % {_V13_SUBDIM} AS sd,
             unnest(qv) AS x
      FROM q),
    cb AS (
      SELECT m, label AS cid, list(cv ORDER BY sd) AS cvec
      FROM (SELECT m, label, sd, ROUND(SUM(x) / COUNT(*)) AS cv
            FROM ex GROUP BY m, label, sd)
      GROUP BY m, label),
    sub AS (
      SELECT vec_id, m, list(x ORDER BY sd) AS sv FROM ex GROUP BY vec_id, m),
    codes AS (
      SELECT vec_id, m, cid FROM (
        SELECT s.vec_id, s.m, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY list_dot_product(s.sv, s.sv)
                          - 2 * list_dot_product(s.sv, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), c.cid) AS rn
        FROM sub s JOIN cb c USING (m)) WHERE rn = 1),
    lut AS (
      SELECT s.vec_id AS query_id, s.m, c.cid,
             list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cvec)
             + list_dot_product(c.cvec, c.cvec) AS d
      FROM sub s JOIN cb c USING (m) WHERE s.vec_id < 10)"""

_SQL_V13 = f"""WITH q AS ({_SQL_EMB}),
    {_SQL_PQ_CTES},
    adc AS (
      SELECT l.query_id, k.vec_id AS neighbor_id, SUM(l.d) AS adist
      FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.cid
      WHERE k.vec_id <> l.query_id
      GROUP BY l.query_id, k.vec_id),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist, neighbor_id) AS srn
        FROM adc) WHERE srn <= {_V13_SHORTLIST}),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             ROUND(list_dot_product(a.qv, b.qv)
                   / (sqrt(list_dot_product(a.qv, a.qv))
                      * sqrt(list_dot_product(b.qv, b.qv))), 6) AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY s.query_id
               ORDER BY list_dot_product(a.qv, b.qv)
                        / (sqrt(list_dot_product(a.qv, a.qv))
                           * sqrt(list_dot_product(b.qv, b.qv))) DESC,
                        s.neighbor_id) AS rn
      FROM short s
      JOIN q a ON a.vec_id = s.query_id
      JOIN q b ON b.vec_id = s.neighbor_id)
    SELECT query_id, neighbor_id, cos_sim, rn
    FROM rer WHERE rn <= {_V13_FINAL_K}"""


def _v13_subspaces(emb: DataFrame) -> DataFrame:
    """(vec_id, label, m, sv): each vector split into M contiguous
    16-dim subvectors — a codegen'd slice, no explode."""
    slices = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(F.col("qv"), 1 + m * _V13_SUBDIM, _V13_SUBDIM).alias("sv"),
            )
            for m in range(_V13_M)
        ]
    )
    return emb.select("vec_id", "label", F.explode(slices).alias("s")).select(
        "vec_id", "label", F.col("s.m").alias("m"), F.col("s.sv").alias("sv")
    )


def _pq_codebook(sub: DataFrame) -> DataFrame:
    """(m, cid, cvec): per (subspace, label) rounded-mean centroid with
    integer components — one deterministic Lloyd's step per subspace
    (v7's integer-centroid recipe). Shared by v13 and v14."""
    return (
        sub.select("label", "m", F.posexplode("sv").alias("sd", "x"))
        .groupBy("m", F.col("label").alias("cid"), "sd")
        .agg(F.round(F.sum("x") / F.count(F.lit(1))).alias("cv"))
        .groupBy("m", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sd", "cv"))), lambda s: s["cv"]
            ).alias("cvec")
        )
    )


def _pq_codes(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, cid): nearest codeword per (vector, subspace) —
    min(struct) agg, lexicographic (dist, cid), deterministic,
    map-side combinable. Shared by v13 and v14."""
    l2 = (
        _dot(F.col("sv"), F.col("sv"), _V13_SUBDIM)
        - 2 * _dot(F.col("sv"), F.col("cvec"), _V13_SUBDIM)
        + _dot(F.col("cvec"), F.col("cvec"), _V13_SUBDIM)
    )
    return (
        sub.join(F.broadcast(cb), "m")
        .select("vec_id", "m", F.struct(l2.alias("d"), F.col("cid")).alias("dc"))
        .groupBy("vec_id", "m")
        .agg(F.min("dc").alias("best"))
        .select("vec_id", "m", F.col("best.cid").alias("cid"))
    )


def _pq_lut(sub: DataFrame, cb: DataFrame, *, guard_label: str) -> DataFrame:
    """(query_id, m, cid, d): per-query 4×10 table of integer subspace L2
    distances — the ADC lookup table. Query side bounded-guarded.
    Shared by v13 and v14."""
    from ..guards import assert_bounded_input

    queries = sub.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qs")
    )
    assert_bounded_input(queries, 64 * _V13_M, guard_label)
    return queries.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        "cid",
        (
            _dot(F.col("qs"), F.col("qs"), _V13_SUBDIM)
            - 2 * _dot(F.col("qs"), F.col("cvec"), _V13_SUBDIM)
            + _dot(F.col("cvec"), F.col("cvec"), _V13_SUBDIM)
        ).alias("d"),
    )



@register(
    "v13_pq_adc_refine",
    _SQL_V13,
    tags=("similarity", "ann", "quantization", "pq", "two-stage", "headline"),
    doc="Product quantization with asymmetric distance computation — the "
    "third production quantization family after SQ8 (v10) and matryoshka "
    "prefixes (v11), and the one that compresses hardest (Jegou et al. "
    "2011; FAISS IndexPQ): each vector splits into 4 contiguous 16-dim "
    "subvectors, each subspace gets a 10-codeword codebook (one "
    "deterministic Lloyd's step seeded by label — v7's integer-centroid "
    "recipe per subspace), and a vector stores only 4 code ids. Search "
    "is table-lookup: per query a 4x10 LUT of integer subspace L2 "
    "distances, ADC(q,x) = sum of 4 lookups; the ADC top-8 shortlist "
    "is reranked with the exact full-dim cosine for the final top-3 "
    "(two-tier serving, v11's shape). Exactness: centroids, codes, LUT "
    "entries, and ADC sums are all integers — bit-identical "
    "cross-engine; only the rerank divides (same exact operands, "
    "ROUND 6). Plan: codebook = one map-side-combinable agg over the "
    "exploded corpus (M*k*16 rows out, broadcast back); assignment is "
    "a broadcast join + min(struct) agg — NO window shuffle; ADC joins "
    "the 4-row-per-vector code table to a broadcast 40-row-per-query "
    "LUT and partial-aggregates map-side. At 100 TB the corpus holds "
    "4 bytes of codes per vector (64x compression), the only "
    "data-sized shuffle is the ADC partial-agg keyed (query, vector), "
    "and the rerank touches 8 full vectors per query.",
)
def v13_pq_adc_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _quantized(spark, sf_dir)
    sub = _v13_subspaces(emb)
    cb = _pq_codebook(sub)
    codes = _pq_codes(sub, cb)
    lut = _pq_lut(sub, cb, guard_label="v13_pq_adc_refine query side")
    adc = (
        codes.join(F.broadcast(lut), ["m", "cid"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adist"))
    )
    ws = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    short = (
        adc.withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= _V13_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    qv_full = emb.select("vec_id", "qv")
    qa_side = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa")
    )
    # the shortlist is ≤ |Q|·SHORTLIST rows by construction (query side
    # guarded) — broadcast it into the corpus-sized qv lookup, else AQE
    # picks a sort-merge join that shuffles the full vector table
    # (measured as the SMJ in the 100x probe plan)
    rer = qv_full.withColumnRenamed("vec_id", "neighbor_id").join(
        F.broadcast(short.join(F.broadcast(qa_side), "query_id")),
        "neighbor_id",
    )
    cos = _dot(F.col("qa"), F.col("qv")) / (
        F.sqrt(_dot(F.col("qa"), F.col("qa"))) * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), "neighbor_id")
    return (
        rer.select("query_id", "neighbor_id", cos.alias("cos_raw"))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= _V13_FINAL_K)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cos_sim"), "rn")
    )


# ---------------------------------------------------------------------------
# v14: IVF × PQ composition — the index production FAISS actually serves
# (IndexIVFPQ): coarse centroid pruning bounds the candidate set, ADC
# table-lookup scores only the probed cells, exact rerank on the shortlist
# ---------------------------------------------------------------------------

_V14_SHORTLIST = 8
_V14_FINAL_K = 3

_SQL_V14 = f"""WITH {_SQL_V7_CTES},
    {_SQL_PQ_CTES},
    adc AS (
      SELECT c.query_id, c.neighbor_id, SUM(l.d) AS adist
      FROM (SELECT query_id, neighbor_id FROM cand) c
      JOIN codes k ON k.vec_id = c.neighbor_id
      JOIN lut l ON l.query_id = c.query_id AND l.m = k.m AND l.cid = k.cid
      GROUP BY c.query_id, c.neighbor_id),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist, neighbor_id) AS srn
        FROM adc) WHERE srn <= {_V14_SHORTLIST}),
    reranked AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY s.query_id
                 ORDER BY list_dot_product(a.qv, b.qv)
                          / (sqrt(list_dot_product(a.qv, a.qv))
                             * sqrt(list_dot_product(b.qv, b.qv))) DESC,
                          s.neighbor_id) AS rn
        FROM short s
        JOIN q a ON a.vec_id = s.query_id
        JOIN q b ON b.vec_id = s.neighbor_id) WHERE rn <= {_V14_FINAL_K}),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COS} DESC, b.vec_id) AS rn
        FROM q a, q b
        WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
      WHERE rn <= {_V14_FINAL_K})
    SELECT r.query_id, COUNT(*) AS n_ann,
           COUNT(e.neighbor_id) AS n_hits,
           ROUND(CAST(COUNT(e.neighbor_id) AS DOUBLE) / {_V14_FINAL_K}, 6)
               AS recall_at_3
    FROM reranked r LEFT JOIN exact e
      ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
    GROUP BY r.query_id"""


@register(
    "v14_ivf_pq_recall",
    _SQL_V14,
    tags=("similarity", "knn", "ivf", "quantization", "pq", "evaluation", "headline"),
    doc="IVF × PQ COMPOSED — completes the composition matrix (v12 proved "
    "IVF×SQ8; production FAISS serves IndexIVFPQ): v7's nprobe=2 "
    "centroid probing bounds the candidate set to the probed cells, "
    "v13's ADC (per-query 4x10 integer LUT over the shared _pq_* "
    "codebook/codes) scores ONLY those candidates — the at-scale point "
    "of the composition: ADC work is per probed-cell member, never "
    f"corpus-wide — the top-{_V14_SHORTLIST} ADC shortlist is reranked "
    "at full precision (v13's broadcast-shortlist rerank, no "
    "corpus-side SMJ), and the final top-3 is graded against the exact "
    "brute-force top-3 with v9's recall harness. Exactness end-to-end: "
    "integer centroid distances (v7), integer LUT/ADC sums (v13), and "
    "a rerank dividing the same x1000-quantized integer operands both "
    "engines hold. Scale: the corpus stores 4 PQ bytes per vector "
    "partitioned by IVF cell; a query touches nprobe cells via "
    "table-lookup adds, fetches full vectors for 8 rows, and the only "
    "data-sized shuffle is the (query, candidate) ADC partial-agg. "
    "tests/test_r10_ops.py pins recall parity vs v12/v13 and that the "
    "ADC stage never scores a pair outside the probed cells.",
)
def v14_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _ivf_candidates(spark, sf_dir)
    emb = _quantized(spark, sf_dir)
    sub = _v13_subspaces(emb)
    cb = _pq_codebook(sub)
    codes = _pq_codes(sub, cb)
    lut = _pq_lut(sub, cb, guard_label="v14_ivf_pq_recall query side")
    cp = cand.select("query_id", F.col("vec_id").alias("neighbor_id"))
    adc = (
        cp.join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "m", "cid"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adist"))
    )
    ws = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    short = (
        adc.withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= _V14_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # exact rerank on the bounded shortlist — broadcast it into the
    # corpus-sized qv lookup (the v13 probe-caught discipline: without
    # the hint AQE sort-merges the full vector table)
    qv_full = emb.select("vec_id", "qv")
    qa_side = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa")
    )
    rer = qv_full.withColumnRenamed("vec_id", "neighbor_id").join(
        F.broadcast(short.join(F.broadcast(qa_side), "query_id")),
        "neighbor_id",
    )
    cos = _dot(F.col("qa"), F.col("qv")) / (
        F.sqrt(_dot(F.col("qa"), F.col("qa"))) * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), "neighbor_id")
    reranked = (
        rer.select("query_id", "neighbor_id", cos.alias("cos_raw"))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= _V14_FINAL_K)
        .select("query_id", "neighbor_id")
    )
    # exact ground truth + recall grade (v9/v12's harness tail)
    exact_emb = _with_norm(_quantized(spark, sf_dir))
    equeries = exact_emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qa"),
        F.col("nrm").alias("qn"),
    )
    we = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.col("neighbor_id"))
    exact = (
        exact_emb.crossJoin(F.broadcast(equeries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_pairs_udf(F.col("qa"), F.col("qv"), F.col("qn"), F.col("nrm")).alias(
                "cos_raw"
            ),
        )
        .withColumn("rn", F.row_number().over(we))
        .where(F.col("rn") <= _V14_FINAL_K)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        reranked.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_ann"), F.count("hit").alias("n_hits"))
        .select(
            "query_id",
            "n_ann",
            "n_hits",
            F.round(F.col("n_hits").cast("double") / _V14_FINAL_K, 6).alias(
                "recall_at_3"
            ),
        )
    )


# ---------------------------------------------------------------------------
# v15: INCREMENTAL ANN index maintenance (VERDICT r11 item 3) — d11/d12
# proved incremental LSH dedup against a persisted index; the v-family
# still rebuilt IVF from scratch every run. v15 is the production form:
# the base corpus's centroids + cell assignments persist once, an
# arriving batch assigns to the EXISTING centroids (k-row broadcast,
# zero index-side shuffle) and lands as a delta partition set, and the
# serving set (base ∪ delta, read back from the files) is graded by the
# v9 recall harness against the exact brute-force ground truth.
# ---------------------------------------------------------------------------

_V15_NEW_MOD = 7  # arriving batch = vec_id % 7 == 3 (d11/d12's split)


def _v15_centroids(base: DataFrame) -> DataFrame:
    """v7's one deterministic Lloyd's step, computed over the BASE split
    only — the persisted model an incremental maintenance pass must NOT
    recompute (centroid drift is monitored, not chased, between rebuilds;
    st8 is the drift monitor)."""
    exploded = base.select("label", F.posexplode("qv").alias("dim", "val"))
    return (
        exploded.groupBy("label", "dim")
        .agg(F.round(F.sum("val") / F.count(F.lit(1))).alias("cv"))
        .groupBy(F.col("label").alias("cid"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
            ).alias("cvec")
        )
    )


def _v15_assign(vectors: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, qv, cid): nearest-centroid assignment against a k-row
    broadcast — v7's rule (dist, cid tie-break), zero corpus-side state."""
    dist = (
        _dot(F.col("qv"), F.col("qv"))
        - 2 * _dot(F.col("qv"), F.col("cvec"))
        + _dot(F.col("cvec"), F.col("cvec"))
    )
    dists = vectors.crossJoin(F.broadcast(cent)).select(
        "vec_id", "qv", "cid", dist.alias("dist")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "qv", "cid")
    )


def persisted_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once IVF index for the BASE split (vec_id % 7 != 3): the
    centroid model at ``<dir>/cent`` and the cell assignments at
    ``<dir>/assign``, PARTITIONED BY cid so a probe reads only its
    probed cells (partition pruning — the IVF read contract). Staged once
    per fixture by :func:`sources.writers.staged_dir`, so a regenerated
    fixture auto-invalidates."""
    import os

    from ..sources.writers import _stage_key, staged_dir

    def build(work: str) -> None:
        base = _quantized(spark, sf_dir).where(F.col("vec_id") % _V15_NEW_MOD != 3)
        _v15_centroids(base).coalesce(1).write.parquet(os.path.join(work, "cent"))
        (
            _v15_assign(base, spark.read.parquet(os.path.join(work, "cent")))
            .repartition("cid")
            .write.partitionBy("cid")
            .parquet(os.path.join(work, "assign"))
        )

    src = os.path.join(sf_dir, "embeddings.parquet")
    return staged_dir("v15_base", _stage_key(src, "v15base"), build)


def staged_ivf_delta(spark: SparkSession, sf_dir: str, base_dir: str) -> str:
    """The INCREMENTAL maintenance pass: the arriving batch (vec_id % 7
    == 3) assigns against the PERSISTED centroid model (read back from
    the index — never recomputed) and lands as its own cid-partitioned
    delta layout. The base index files are never opened for write — the
    physical untouched-files pin in tests/test_r12_ops.py holds byte
    sizes and mtimes across this call."""
    import os

    from ..sources.writers import _stage_key, staged_dir

    def build(work: str) -> None:
        cent = spark.read.parquet(os.path.join(base_dir, "cent"))
        new = _quantized(spark, sf_dir).where(F.col("vec_id") % _V15_NEW_MOD == 3)
        _v15_assign(new, cent).repartition("cid").write.partitionBy("cid").parquet(work)

    src = os.path.join(sf_dir, "embeddings.parquet")
    return staged_dir("v15_delta", _stage_key(src, "v15delta"), build)


_SQL_V15 = f"""WITH q AS ({_SQL_EMB}),
        bse AS (SELECT * FROM q WHERE vec_id % {_V15_NEW_MOD} <> 3),
        cent AS (
          SELECT label AS cid, list(cv ORDER BY dim) AS cvec
          FROM (SELECT label, dim, ROUND(SUM(val) / COUNT(*)) AS cv
                FROM (SELECT label, generate_subscripts(qv, 1) - 1 AS dim,
                             unnest(qv) AS val
                      FROM bse)
                GROUP BY label, dim)
          GROUP BY label),
        dists AS (
          SELECT a.vec_id, a.qv, c.cid, {_SQL_V7_DIST} AS dist
          FROM q a CROSS JOIN cent c),
        assign AS MATERIALIZED (
          SELECT vec_id, qv, cid FROM (
            SELECT vec_id, qv, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM dists) WHERE rn = 1),
        probes AS (
          SELECT vec_id AS query_id, qv AS qa, cid FROM (
            SELECT vec_id, qv, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM dists WHERE vec_id < 10) WHERE rn <= 2),
        cand AS MATERIALIZED (
          SELECT p.query_id, p.qa, s.vec_id AS neighbor_id, s.qv,
                 s.vec_id % {_V15_NEW_MOD} = 3 AS is_new
          FROM probes p JOIN assign s ON s.cid = p.cid AND s.vec_id <> p.query_id),
        ann AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY {_SQL_V7_COS} DESC, neighbor_id) AS rn
            FROM cand)
          WHERE rn <= 3),
        pc AS (
          SELECT query_id, COUNT(*) AS n_cand,
                 CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_new_cand
          FROM cand GROUP BY query_id),
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY {_SQL_COS} DESC, b.vec_id) AS rn
            FROM q a, q b
            WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
          WHERE rn <= 3)
        SELECT a.query_id,
               CAST(pc.n_cand AS BIGINT) AS n_cand,
               pc.n_new_cand,
               COUNT(*) AS n_ann,
               COUNT(e.neighbor_id) AS n_hits,
               ROUND(CAST(COUNT(e.neighbor_id) AS DOUBLE) / 3, 6) AS recall_at_3
        FROM ann a
        JOIN pc ON pc.query_id = a.query_id
        LEFT JOIN exact e
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY a.query_id, pc.n_cand, pc.n_new_cand"""


@register(
    "v15_incremental_ann",
    _SQL_V15,
    tags=("similarity", "knn", "ivf", "incremental", "index", "headline"),
    doc="Incremental ANN index maintenance (VERDICT r11 item 3) — the "
    "d11/d12 persisted-index discipline applied to the IVF surface: the "
    "base split's centroids + cid-partitioned cell assignments persist "
    "ONCE (build skipped when present, fixture-keyed like every staged "
    "layout); the arriving batch (vec_id %% 7 == 3, d11's split) "
    "assigns against the PERSISTED centroid model — a k-row broadcast, "
    "zero index-side shuffle, base files never opened for write (the "
    "untouched-files physical pin in tests/test_r12_ops.py) — and "
    "lands as its own cid-partitioned delta layout. The SERVING set "
    "(base ∪ delta, read back from the files so the write path itself "
    "is what the hash gate checks — the d12_index_build discipline) "
    "answers nprobe=2 probes for the v7 query sample, graded by the v9 "
    "harness against the exact brute-force top-3 over the full "
    "corpus: per query, candidate counts (n_new_cand > 0 proves delta "
    "rows actually serve), ANN hits, recall@3. Stale-centroid recall "
    "is the REAL quantity a production IVF runs on between rebuilds — "
    "st8 monitors the drift that eventually forces one. Plan: the "
    "only corpus-sized work is the one-time build and the exact "
    "ground-truth pass (v1/v9's guarded Q=10 broadcast); maintenance "
    "itself is |batch| × k broadcast compare + one partitioned write; "
    "probes read ONLY their probed cid partitions (partition pruning "
    "— the IVF read contract). The candidate frame is cached: the "
    "count aggregate and the rank window both read it (a25 lesson).",
)
def v15_incremental_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..guards import assert_bounded_input

    base_dir = persisted_ivf_index(spark, sf_dir)
    delta_dir = staged_ivf_delta(spark, sf_dir, base_dir)
    cent = spark.read.parquet(os.path.join(base_dir, "cent"))
    serving = _with_norm(
        spark.read.parquet(os.path.join(base_dir, "assign"))
        .unionByName(spark.read.parquet(delta_dir))
        .select("vec_id", "qv", F.col("cid").cast("int").alias("cid"))
    )
    emb = _with_norm(_quantized(spark, sf_dir))
    dist = (
        _dot(F.col("qv"), F.col("qv"))
        - 2 * _dot(F.col("qv"), F.col("cvec"))
        + _dot(F.col("cvec"), F.col("cvec"))
    )
    qd = (
        emb.where(F.col("vec_id") < 10)
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "qv", "nrm", "cid", dist.alias("dist"))
    )
    w_probe = Window.partitionBy("vec_id").orderBy("dist", "cid")
    probes = (
        qd.withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= 2)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("qv").alias("qa"),
            F.col("nrm").alias("qn"),
            "cid",
        )
    )
    cand = (
        probes.join(serving, "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .cache()  # read by the count aggregate AND the rank window —
        # uncached, the file scan + broadcast probe runs twice (a25 lesson)
    )
    pc = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.sum(F.when(F.col("vec_id") % _V15_NEW_MOD == 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_new_cand"),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos_pairs_udf(F.col("qa"), F.col("qv"), F.col("qn"), F.col("nrm")).alias(
            "cos_raw"
        ),
    )
    w_top = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), "neighbor_id")
    ann = (
        scored.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qa"),
        F.col("nrm").alias("qn"),
    )
    assert_bounded_input(queries, 64, "v15_incremental_ann query side")
    ex_scored = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_pairs_udf(F.col("qa"), F.col("qv"), F.col("qn"), F.col("nrm")).alias(
                "cos_raw"
            ),
        )
    )
    exact = (
        ex_scored.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        ann.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_ann"), F.count("hit").alias("n_hits"))
        .join(pc, "query_id")
        .select(
            "query_id",
            F.col("n_cand").cast("bigint").alias("n_cand"),
            "n_new_cand",
            F.col("n_ann").cast("bigint").alias("n_ann"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.round(F.col("n_hits").cast("double") / 3, 6).alias("recall_at_3"),
        )
    )


# ---------------------------------------------------------------------------
# v16: index-rebuild trigger — st8's drift monitor composed with v15's
# persisted index (VERDICT r12 item 6; closes the ANN lifecycle
# build → serve → maintain → rebuild)
# ---------------------------------------------------------------------------

_V16_MIS_PPM = 100_000    # rebuild when >10% of a cell's members sit closer
#                           to ANOTHER cell's live centroid (misassignment is
#                           what actually costs probe recall: a vector in the
#                           wrong cell is invisible to probes of its true cell)
_V16_DELTA_PPM = 300_000  # ...or when arrivals exceed 30% of the cell (the
#                           model has never seen that much of its data)


def _v16_live_centroids(members: DataFrame) -> DataFrame:
    """(cid, lvec): the LIVE centroid of each cell's current membership
    (base ∪ delta), st8's exact-integer moment sums over the quantized
    vectors — the monitored quantity a maintenance pass derives without
    touching the persisted model."""
    exploded = members.select("cid", F.posexplode("qv").alias("dim", "val"))
    return (
        exploded.groupBy("cid", "dim")
        .agg(F.round(F.sum("val") / F.count(F.lit(1))).alias("lv"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "lv"))), lambda s: s["lv"]
            ).alias("lvec")
        )
    )


def _v16_misassigned(members: DataFrame, live: DataFrame) -> DataFrame:
    """(cid, n_mis): members whose nearest LIVE centroid is another cell
    — v7's assignment rule (squared-L2, cid tie-break) against the k-row
    broadcast of live centroids."""
    dist = (
        _dot(F.col("qv"), F.col("qv"))
        - 2 * _dot(F.col("qv"), F.col("lvec"))
        + _dot(F.col("lvec"), F.col("lvec"))
    )
    dists = members.crossJoin(
        F.broadcast(live.select(F.col("cid").alias("lcid"), "lvec"))
    ).select("vec_id", "cid", "lcid", dist.alias("dist"))
    w = Window.partitionBy("vec_id").orderBy("dist", "lcid")
    nearest = (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cid", "lcid")
    )
    return nearest.groupBy("cid").agg(
        F.sum(F.when(F.col("lcid") != F.col("cid"), 1).otherwise(0)).alias("n_mis")
    )


_SQL_V16 = f"""WITH q AS ({_SQL_EMB}),
        bse AS (SELECT * FROM q WHERE vec_id % {_V15_NEW_MOD} <> 3),
        cent AS (
          SELECT label AS cid, list(cv ORDER BY dim) AS cvec
          FROM (SELECT label, dim, ROUND(SUM(val) / COUNT(*)) AS cv
                FROM (SELECT label, generate_subscripts(qv, 1) - 1 AS dim,
                             unnest(qv) AS val
                      FROM bse)
                GROUP BY label, dim)
          GROUP BY label),
        assign AS MATERIALIZED (
          SELECT vec_id, qv, cid,
                 vec_id % {_V15_NEW_MOD} = 3 AS is_new
          FROM (
            SELECT a.vec_id, a.qv, c.cid, {_SQL_V7_DIST} AS dist,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY {_SQL_V7_DIST}, c.cid) AS rn
            FROM q a CROSS JOIN cent c) WHERE rn = 1),
        live AS MATERIALIZED (
          SELECT cid, list(lv ORDER BY dim) AS lvec
          FROM (SELECT cid, dim, ROUND(SUM(val) / COUNT(*)) AS lv
                FROM (SELECT cid, generate_subscripts(qv, 1) - 1 AS dim,
                             unnest(qv) AS val
                      FROM assign)
                GROUP BY cid, dim)
          GROUP BY cid),
        drift AS (
          SELECT c.cid,
                 CAST(list_sum(list_transform(range(1, len(c.cvec) + 1),
                      i -> (c.cvec[i] - l.lvec[i]) * (c.cvec[i] - l.lvec[i])))
                      AS BIGINT) AS drift_sq
          FROM cent c JOIN live l ON l.cid = c.cid),
        near AS (
          SELECT vec_id, cid, lcid FROM (
            SELECT a.vec_id, a.cid, l.cid AS lcid,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                     list_dot_product(a.qv, a.qv)
                     - 2 * list_dot_product(a.qv, l.lvec)
                     + list_dot_product(l.lvec, l.lvec), l.cid) AS rn
            FROM assign a CROSS JOIN live l) WHERE rn = 1),
        mis AS (
          SELECT cid, CAST(SUM(CASE WHEN lcid <> cid THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_mis
          FROM near GROUP BY cid),
        sizes AS (
          SELECT cid,
                 CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_base,
                 CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_delta
          FROM assign GROUP BY cid)
        SELECT CAST(s.cid AS INT) AS cid, s.n_base, s.n_delta,
               (s.n_delta * 1000000) // (s.n_base + s.n_delta) AS delta_ppm,
               d.drift_sq,
               (m.n_mis * 1000000) // (s.n_base + s.n_delta) AS misassign_ppm,
               CASE WHEN (m.n_mis * 1000000) // (s.n_base + s.n_delta)
                         > {_V16_MIS_PPM}
                      OR (s.n_delta * 1000000) // (s.n_base + s.n_delta)
                         > {_V16_DELTA_PPM}
                    THEN 'rebuild' ELSE 'keep' END AS decision
        FROM sizes s
        JOIN drift d ON d.cid = s.cid
        JOIN mis m ON m.cid = s.cid"""


@register(
    "v16_index_rebuild_trigger",
    _SQL_V16,
    tags=("similarity", "ivf", "index", "drift-monitor", "maintenance", "headline"),
    doc="ANN index-rebuild trigger — st8's centroid-drift monitor composed "
    "with v15's persisted index (VERDICT r12 item 6), closing the "
    "lifecycle build → serve → maintain → REBUILD: per cell of the "
    "persisted IVF model, read the base assignments and the staged "
    "delta back from their files (the serving state — base files never "
    "opened for write, v15's physical pin re-asserted in "
    "tests/test_r13_ops.py), derive the LIVE centroid of the current "
    "membership (st8's exact quantized moment sums), and emit: sizes, "
    "the squared persisted-vs-live centroid drift, the MISASSIGNMENT "
    "rate — members now closer to another cell's live centroid, which "
    "is the quantity that actually costs probe recall (a vector in the "
    "wrong cell is invisible to probes of its true cell; the crafted "
    "test grades exactly that with the v9 recall harness before/after "
    "rebuild) — and the keep/rebuild decision (misassign > 10%% or "
    "delta fraction > 30%%, both integer-ppm comparisons). All "
    "arithmetic is exact cross-engine: quantized integer-valued "
    "doubles, ROUND on identical operands, integer micro divisions. "
    "Plan: one pass over the serving files for the moment sums, one "
    "k-row broadcast compare for misassignment (k = cells, never "
    "corpus-sized), 1-row-per-cell output — at 100 TB this is the "
    "cheap periodic health check that decides when to pay the "
    "expensive rebuild, not the rebuild itself.",
)
def v16_index_rebuild_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    base_dir = persisted_ivf_index(spark, sf_dir)
    delta_dir = staged_ivf_delta(spark, sf_dir, base_dir)
    cent = spark.read.parquet(os.path.join(base_dir, "cent"))
    base = (
        spark.read.parquet(os.path.join(base_dir, "assign"))
        .select("vec_id", "qv", F.col("cid").cast("int").alias("cid"))
        .withColumn("is_new", F.lit(False))
    )
    delta = (
        spark.read.parquet(delta_dir)
        .select("vec_id", "qv", F.col("cid").cast("int").alias("cid"))
        .withColumn("is_new", F.lit(True))
    )
    members = base.unionByName(delta).cache()
    live = _v16_live_centroids(members).cache()
    drift = (
        cent.select(F.col("cid").cast("int").alias("cid"), "cvec")
        .join(live, "cid")
        .select(
            "cid",
            F.aggregate(
                F.zip_with("cvec", "lvec", lambda c, l: (c - l) * (c - l)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            .cast("bigint")
            .alias("drift_sq"),
        )
    )
    mis = _v16_misassigned(members, live)
    sizes = members.groupBy("cid").agg(
        F.sum(F.when(F.col("is_new"), 0).otherwise(1)).cast("bigint").alias("n_base"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).cast("bigint").alias("n_delta"),
    )
    delta_ppm = F.expr("(n_delta * 1000000) div (n_base + n_delta)")
    mis_ppm = F.expr("(n_mis * 1000000) div (n_base + n_delta)")
    return (
        sizes.join(drift, "cid")
        .join(mis, "cid")
        .select(
            F.col("cid").cast("int").alias("cid"),
            "n_base",
            "n_delta",
            delta_ppm.cast("bigint").alias("delta_ppm"),
            "drift_sq",
            mis_ppm.cast("bigint").alias("misassign_ppm"),
            F.when(
                (mis_ppm > _V16_MIS_PPM) | (delta_ppm > _V16_DELTA_PPM), "rebuild"
            )
            .otherwise("keep")
            .alias("decision"),
        )
    )


# ---------------------------------------------------------------------------
# v17: FILTERED ANN — hybrid metadata + vector search (VERDICT r13 item 3)
# ---------------------------------------------------------------------------

# The shape every real retrieval stack hits: "top-k similar WHERE
# lang = 'en' AND length >= q". The trap is POST-filtering: take the
# unfiltered top-k, then drop ineligible rows — which silently
# under-returns (< k results) whenever any of the k nearest neighbors
# fails the predicate, even though the probed cells hold plenty of
# eligible vectors. The correct plan pushes the predicate into the
# candidate cells BEFORE any distance work: filter the cell MEMBER side
# of v7's probe join, then rank only eligible candidates — top-k fills
# from the eligible pool, and the distance kernel never touches an
# ineligible vector (at 100 TB the predicate typically keeps a few
# percent; scoring the other ~95+% to throw it away is the cost bug,
# the under-return is the correctness bug — tests/test_r14_ops.py pins
# both: a crafted corpus where post-filtering returns < k, and the
# plan-shape assertion that the filter join sits BELOW the probe join).

_V17_LANG = "en"
_V17_MIN_CHARS = 400

_SQL_V17_TOPK = f"""SELECT query_id, neighbor_id, cos_sim, rn FROM (
          SELECT query_id, neighbor_id, ROUND({_SQL_V7_COS}, 6) AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY {_SQL_V7_COS} DESC, neighbor_id) AS rn
          FROM candf)
        WHERE rn <= 3"""


@register(
    "v17_filtered_ann",
    f"""WITH {_SQL_V7_CTES},
        elig AS (
          SELECT a.* FROM assign a
          JOIN documents d ON a.vec_id = d.doc_id
          WHERE d.lang = '{_V17_LANG}' AND d.n_chars >= {_V17_MIN_CHARS}),
        candf AS (
          SELECT p.query_id, p.qa, s.vec_id AS neighbor_id, s.qv
          FROM probes p JOIN elig s
            ON s.cid = p.cid AND s.vec_id <> p.query_id)
        {_SQL_V17_TOPK}""",
    tags=("similarity", "knn", "ivf", "filtered", "headline"),
    doc="Filtered ANN: v7's IVF probe composed with a metadata predicate "
    f"(documents.lang = '{_V17_LANG}' AND n_chars >= {_V17_MIN_CHARS}, "
    "joined on vec_id = doc_id) PUSHED INTO the candidate cells before "
    "the distance work — the hybrid metadata+vector search every "
    "retrieval stack needs. Post-filtering the unfiltered top-k "
    "silently under-returns (< k rows whenever an ineligible vector "
    "occupies a top-k slot); the pushed form ranks only eligible cell "
    "members, so top-k fills from the eligible pool and the cosine "
    "kernel never scores an excluded vector. Plan: v7's centroid "
    "broadcast + assignment, then the eligibility SEMI-ish equi-join "
    "(vec_id-keyed, metadata-sized) on the MEMBER side BELOW the "
    "probe join (plan-shape-pinned), then the per-query top-k window "
    "over eligible candidates only. At 100 TB: the predicate prunes "
    "the probe join's build side to the eligible few percent — "
    "distance flops and shuffle both shrink by the selectivity, which "
    "is exactly what post-filtering forfeits.",
)
def v17_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    elig = docs.where(
        (F.col("lang") == _V17_LANG) & (F.col("n_chars") >= _V17_MIN_CHARS)
    ).select(F.col("doc_id").alias("vec_id"))
    cand = _ivf_candidates(
        spark, sf_dir, member_filter=lambda a: a.join(elig, "vec_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos_pairs_udf(F.col("qa"), F.col("qv"), F.col("qn"), F.col("nrm")).alias("cos_raw"),
    )
    w_top = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.col("neighbor_id"))
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cos_sim"),
            F.row_number().over(w_top).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )
