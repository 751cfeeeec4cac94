"""Embedding aggregation + language-model-style text scoring.

- vec_centroids_per_label: element-wise mean embedding per label (the
  centroid table an IVF index / classifier trains on), exact integer-unit
  sums so every element is reproducible at any partitioning.
- text_unigram_logprob: corpus-unigram log-probability per document — the
  perplexity-proxy quality filter used on pre-training corpora.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conform import rnd, sql_rnd
from ..io import load
from ..ops.parallel import fan_out
from ..registry import register


@register(
    "vec_centroids_per_label",
    oracle=f"""
WITH ex AS (
  SELECT label, g.i AS i,
         CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS u
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
)
SELECT label, CAST(i - 1 AS INT) AS dim,
       {sql_rnd('CAST(SUM(u) AS DOUBLE) / 10000 / COUNT(*)', 4)} AS mv,
       COUNT(*) AS n_vecs
FROM ex GROUP BY label, i
""",
    tier="T2",
)
def vec_centroids_per_label(spark, sf_dir):
    """Element-wise mean embedding per label from exact integer-unit sums,
    emitted as exploded scalar rows (label, dim, mv) — the driver's
    canonicalizer rejects array-typed output columns, and scalar doubles
    hash bit-identically where a float→string serialization would not.

    Scale note: posexplode → one partial+final aggregate keyed (label, dim);
    the resulting centroid table is tiny and broadcastable downstream
    (reassemble with collect_list over dim order if a caller wants vectors).
    """
    e = load(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "x")
    ).select(
        "label",
        "pos",
        F.floor(F.col("x").cast("double") * 10000 + F.lit(0.5)).alias("u"),
    )
    return ex.groupBy("label", "pos").agg(
        rnd(F.sum("u").cast("double") / 10000 / F.count(F.lit(1)), 4).alias("mv"),
        F.count(F.lit(1)).alias("n_vecs"),
    ).select(
        "label", F.col("pos").cast("int").alias("dim"), "mv", "n_vecs"
    )


@register(
    "text_unigram_logprob",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok),
freq AS (
  SELECT token,
         CAST(FLOOR(ln(CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM n)) * 1000000)
              AS BIGINT) AS lp_units
  FROM tok GROUP BY token
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       {sql_rnd('CAST(SUM(f.lp_units) AS DOUBLE) / 1000000 / COUNT(*)', 4)} AS avg_logprob
FROM tok t JOIN freq f USING (token)
GROUP BY t.doc_id
""",
    tier="T2",
)
def text_unigram_logprob(spark, sf_dir):
    """Per-doc average unigram log-probability under the corpus's own
    unigram LM (perplexity-proxy quality score; low = out-of-distribution).

    Log-probs are quantized to integer 1e-6 units BEFORE summation so the
    per-doc sum is exact and order-independent — the same conform trick,
    applied to an LM score. Scale note: the freq table is vocabulary-sized
    and broadcast.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    n = tok.agg(F.count(F.lit(1)).alias("total"))
    freq = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(n))
        .select(
            "token",
            F.floor(
                F.log(F.col("cnt").cast("double") / F.col("total")) * 1000000
            ).alias("lp_units"),
        )
    )
    return (
        tok.join(F.broadcast(freq), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            rnd(
                F.sum("lp_units").cast("double") / 1000000 / F.count(F.lit(1)), 4
            ).alias("avg_logprob"),
        )
    )


@register(
    "vec_quantize_int8",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale,
         embedding
  FROM embeddings
),
qq AS (
  SELECT vec_id, scale,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) AS iq
  FROM q WHERE scale > 0
)
SELECT vec_id,
       {sql_rnd('scale', 6)} AS scale,
       CAST(list_sum(list_transform(iq, v -> abs(v))) AS BIGINT) AS sum_abs_q,
       CAST(list_max(iq) AS BIGINT) AS max_q,
       CAST(list_min(iq) AS BIGINT) AS min_q
FROM qq
""",
    tier="T2",
)
def vec_quantize_int8(spark, sf_dir):
    """Symmetric int8 embedding quantization (the storage/serving compression
    path for a 100 TB vector corpus): per-vector scale = max|x|/127, elements
    mapped to floor(x/scale + 0.5) ∈ [-127, 127]. Output summarizes each
    quantized vector with exact integers (Σ|q|, max, min) plus the rounded
    scale, so the check is deterministic — no float-sum order dependence.

    All JVM codegen (transform/aggregate lambdas); one scan, zero shuffles —
    embarrassingly parallel at any scale.
    """
    e = load(spark, sf_dir, "embeddings")
    absd = F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    scale = F.array_max(absd) / F.lit(127.0)
    q = e.select("vec_id", scale.alias("scale"), "embedding").filter(
        F.col("scale") > 0
    )
    iq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") / F.col("scale") + F.lit(0.5)),
    )
    qq = q.select("vec_id", "scale", iq.alias("iq"))
    sum_abs = F.aggregate(
        F.transform(F.col("iq"), lambda v: F.abs(v)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return qq.select(
        "vec_id",
        rnd(F.col("scale"), 6).alias("scale"),
        sum_abs.cast("long").alias("sum_abs_q"),
        F.array_max("iq").cast("long").alias("max_q"),
        F.array_min("iq").cast("long").alias("min_q"),
    )


# ------------------------------------------------------ distributed linear algebra
# Tall-skinny Gram trick: for N×d embeddings with d small (64), Xᵀ X is d×d —
# each partition reduces its rows to ONE d×d partial (Arrow-batched numpy
# matmul), partials sum by (i, j). Coordinates are quantized to integer 1e-6
# units first, so every partial and the final sum are exact int64 — the
# result is bit-identical at any partition count, which is what lets an
# inherently "numeric" operator be hash-checked against DuckDB.

_VEC_DIM = 64
_VEC_UNITS = 1_000_000


def _gram_partials(augment: bool):
    """mapInPandas body: per-batch int64 Gram partial over valid embeddings.

    augment=True appends a constant-1 coordinate, so the Gram's last
    row/column carries Σq (column sums) and the corner carries n·units² —
    one pass yields second moments AND first moments AND the count.
    """
    import numpy as np
    import pandas as pd

    d = _VEC_DIM + (1 if augment else 0)

    def body(batches):
        acc = np.zeros((d, d), dtype=np.int64)
        seen = False
        for pdf in batches:
            vecs = [
                np.asarray(v, dtype=np.float64)
                for v in pdf["embedding"]
                if v is not None and len(v) == _VEC_DIM
            ]
            if not vecs:
                continue
            q = np.floor(np.stack(vecs) * _VEC_UNITS + 0.5).astype(np.int64)
            if augment:
                q = np.hstack([q, np.full((q.shape[0], 1), _VEC_UNITS, dtype=np.int64)])
            acc += q.T @ q
            seen = True
        if seen:
            iu = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": iu[0].astype("int32"), "j": iu[1].astype("int32"), "g": acc[iu]}
            )

    return body


@register(
    "vec_gram_matrix",
    oracle=f"""
WITH q AS (
  SELECT vec_id, g.i AS i,
         CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * {_VEC_UNITS} + 0.5) AS BIGINT) AS qv
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
  WHERE embedding IS NOT NULL AND len(embedding) = {_VEC_DIM}
)
SELECT CAST(a.i - 1 AS INT) AS i, CAST(b.i - 1 AS INT) AS j,
       CAST(SUM(a.qv * b.qv) AS BIGINT) AS g
FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY a.i, b.i
""",
    tier="T2",
)
def vec_gram_matrix(spark, sf_dir):
    """Exact XᵀX Gram matrix of the embedding corpus in integer 1e-6
    units, upper triangle as (i, j, g) scalar rows — the one-pass input to
    covariance/PCA/ridge normal equations. NULL or ragged embeddings are
    excluded on both sides.

    Scale note: each partition ships exactly one d(d+1)/2-row partial
    (2 080 rows for d=64) regardless of row count — at 100 TB the shuffle
    carries |partitions|·2 080 rows, nothing scales with N. The oracle
    spells the same sums as an unnest self-join (DuckDB has no matmul);
    int64 headroom: |q| ≤ ~2e6 ⇒ products ≤ 4e12, safe past 10⁶ rows/entry.
    """
    # fan_out measured a LOSS here (round-11 interleaved A/B, 0.79 -> 0.99 s):
    # one 2000x64 int64 Gram partial is a single cheap BLAS-ish pass — the
    # exchange dominates. The groupBy below supplies reduce parallelism.
    e = load(spark, sf_dir, "embeddings").select("embedding")
    out_schema = "i int, j int, g long"
    partials = e.mapInPandas(_gram_partials(augment=False), schema=out_schema)
    return partials.groupBy("i", "j").agg(F.sum("g").alias("g"))


def _pca_oracle() -> str:
    from .pca_frozen import PCA_C1, PCA_C2, PCA_OFF1, PCA_OFF2

    values = ",\n    ".join(
        f"({i + 1}, {PCA_C1[i]}, {PCA_C2[i]})" for i in range(_VEC_DIM)
    )
    return f"""
WITH comp AS (
  SELECT * FROM (VALUES
    {values}) AS t(i, c1, c2)
),
q AS (
  SELECT vec_id, label, g.i AS i,
         CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * {_VEC_UNITS} + 0.5) AS BIGINT) AS qv
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
  WHERE embedding IS NOT NULL AND len(embedding) = {_VEC_DIM}
),
dots AS (
  SELECT q.vec_id, q.label,
         CAST(SUM(q.qv * c.c1) AS BIGINT) AS s1,
         CAST(SUM(q.qv * c.c2) AS BIGINT) AS s2
  FROM q JOIN comp c USING (i) GROUP BY q.vec_id, q.label
)
SELECT vec_id, label,
       FLOOR(CAST(s1 - ({PCA_OFF1}) AS DOUBLE) / 1000000000 + 0.5) / 1000000 AS pc1,
       FLOOR(CAST(s2 - ({PCA_OFF2}) AS DOUBLE) / 1000000000 + 0.5) / 1000000 AS pc2
FROM dots
"""


@register("vec_pca_project", oracle=_pca_oracle(), tier="T2")
def vec_pca_project(spark, sf_dir):
    """PCA projection with a PERSISTED model (the fit-once / apply-everywhere
    shape of a production pipeline): each vector's top-2 principal
    coordinates under the frozen basis of the sf0.1 reference corpus.

    The basis itself is fit by this repo's own tall-skinny recipe —
    exact-int64 augmented Gram (one 65×65 partial per partition, the pass
    that is independently oracle-checked as vec_gram_matrix) → driver-side
    numpy eigh → sign-pinned top-2 — then frozen as int64 1e-9-unit
    literals by tools/pca_freeze.py (constants + provenance in
    pca_frozen.py). Freezing is what makes a PCA projection oracle-checkable
    at all: DuckDB has no eigensolver, and VERDICT r5 item 4 prescribed
    exactly this promotion. tests/test_pca_frozen.py re-derives the basis
    from the live corpus and pins the frozen constants to it.

    Arithmetic is exact until one final division: q = floor(x·1e6 + 0.5)
    int64, dot = Σ q·c int64 (≤ 64·2e15, well inside int64), then
    floor((dot − off)/1e9 + 0.5)/1e6 — a single identical IEEE sequence in
    both engines, so the hash check is bit-tight with zero float-sum order
    dependence.

    Scale note: entirely JVM whole-stage codegen (transform / zip_with /
    aggregate over a 64-element literal array) — one scan, zero shuffles,
    embarrassingly parallel; the "model" ships inside the plan, so on a
    1000-executor cluster this is a map-only pass with no broadcast, no
    driver data, no Python workers.
    """
    from .pca_frozen import PCA_C1, PCA_C2, PCA_OFF1, PCA_OFF2

    e = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == _VEC_DIM)
    )
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * _VEC_UNITS + F.lit(0.5)).cast("long"),
    )

    def dot(qarr, comp, off):
        carr = F.array(*[F.lit(int(v)).cast("long") for v in comp])
        s = F.aggregate(
            F.zip_with(qarr, carr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        return F.floor((s - F.lit(off)).cast("double") / 1000000000 + F.lit(0.5)) / 1000000

    return e.select(
        "vec_id",
        "label",
        dot(q, PCA_C1, PCA_OFF1).alias("pc1"),
        dot(q, PCA_C2, PCA_OFF2).alias("pc2"),
    )


_DRIFT_UNITS = 10_000  # per-element integer units for centroid math

_DRIFT_SQL = f"""
WITH ex AS (
  SELECT label, vec_id % 2 AS cohort, g.i AS i,
         CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * {_DRIFT_UNITS} + 0.5) AS BIGINT) AS u
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
cent AS (
  SELECT label, cohort, i,
         CAST(SUM(u) AS DOUBLE) / COUNT(*) AS cu
  FROM ex GROUP BY label, cohort, i
),
pair AS (
  SELECT a.label, a.i, a.cu AS c0, b.cu AS c1
  FROM cent a JOIN cent b ON a.label = b.label AND a.i = b.i
  WHERE a.cohort = 0 AND b.cohort = 1
),
agg AS (
  SELECT label,
         SUM(CAST(FLOOR((c0 - c1) * (c0 - c1) * 1000000 + 0.5) AS BIGINT)) AS d2,
         SUM(CAST(FLOOR(c0 * c1 * 1000000 + 0.5) AS BIGINT)) AS dot01,
         SUM(CAST(FLOOR(c0 * c0 * 1000000 + 0.5) AS BIGINT)) AS n0,
         SUM(CAST(FLOOR(c1 * c1 * 1000000 + 0.5) AS BIGINT)) AS n1
  FROM pair GROUP BY label
)
SELECT label,
       (FLOOR(sqrt(CAST(d2 AS DOUBLE) / 1000000) / {_DRIFT_UNITS} * 1000000 + 0.5)
        / 1000000) AS centroid_l2,
       (FLOOR(CAST(dot01 AS DOUBLE) / (sqrt(CAST(n0 AS DOUBLE)) * sqrt(CAST(n1 AS DOUBLE)))
              * 1000000 + 0.5) / 1000000) AS centroid_cos
FROM agg
"""


@register("vec_centroid_drift", oracle=_DRIFT_SQL, tier="T2")
def vec_centroid_drift(spark, sf_dir):
    """Embedding-drift monitor: split each label's vectors into two
    deterministic cohorts (vec_id parity — stand-in for yesterday/today
    snapshots), compare per-label centroids by L2 distance and cosine —
    the check that catches an embedding-model version bump or a corpus
    shift before it poisons downstream ANN indexes.

    Determinism: per-dimension sums are exact integer units; each
    centroid coordinate divides once (exact-int / count); the 64
    per-dimension distance/cosine TERMS are floored to int64 micro-units
    before their sum, so the reduction is order- and
    partition-independent, with half-up 6dp rounds at the end.

    Scale note: posexplode → one (label, cohort, dim)-keyed aggregate;
    centroid tables are |labels|·64 rows — broadcast-sized — so the
    compare stage is trivial at any corpus size.
    """
    e = load(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        (F.col("vec_id") % 2).alias("cohort"),
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "label",
        "cohort",
        "pos",
        F.floor(F.col("x").cast("double") * _DRIFT_UNITS + F.lit(0.5)).alias("u"),
    )
    cent = ex.groupBy("label", "cohort", "pos").agg(
        (F.sum("u").cast("double") / F.count(F.lit(1))).alias("cu")
    )
    a = cent.filter(F.col("cohort") == 0).select(
        "label", "pos", F.col("cu").alias("c0")
    )
    b = cent.filter(F.col("cohort") == 1).select(
        "label", "pos", F.col("cu").alias("c1")
    )
    pair = a.join(b, ["label", "pos"])
    # per-term quantization BEFORE the sum: the 64 per-dimension double
    # terms would otherwise add in partition order (order-dependent floats);
    # as int64 micro-units the sums are exact and partition-independent
    q = lambda c: F.floor(c * 1000000 + F.lit(0.5)).cast("long")  # noqa: E731
    agg = pair.groupBy("label").agg(
        F.sum(q((F.col("c0") - F.col("c1")) * (F.col("c0") - F.col("c1")))).alias("d2"),
        F.sum(q(F.col("c0") * F.col("c1"))).alias("dot01"),
        F.sum(q(F.col("c0") * F.col("c0"))).alias("n0"),
        F.sum(q(F.col("c1") * F.col("c1"))).alias("n1"),
    )
    return agg.select(
        "label",
        (
            F.floor(
                F.sqrt(F.col("d2").cast("double") / 1000000) / _DRIFT_UNITS * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("centroid_l2"),
        (
            F.floor(
                F.col("dot01").cast("double")
                / (F.sqrt(F.col("n0").cast("double")) * F.sqrt(F.col("n1").cast("double")))
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("centroid_cos"),
    )


_EMB_PROFILE_SQL = """
WITH base AS (
  SELECT label, len(embedding) AS dim,
         CAST(list_sum(list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 100000000 + 0.5)
                        AS BIGINT))) AS BIGINT) AS sq_units,
         CAST(list_sum(list_transform(embedding,
              x -> CASE WHEN x IS NULL THEN 1 ELSE 0 END)) AS BIGINT) AS n_null_elems
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(dim) AS BIGINT) AS min_dim,
       CAST(MAX(dim) AS BIGINT) AS max_dim,
       CAST(SUM(CASE WHEN sq_units = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vectors,
       CAST(SUM(CASE WHEN n_null_elems > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_nulls,
       (FLOOR(CAST(SUM(CAST(FLOOR(sqrt(CAST(sq_units AS DOUBLE) / 100000000)
                                  * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
              / COUNT(*) / 1000000 * 10000 + 0.5) / 10000) AS avg_norm
FROM base GROUP BY label
"""


@register("vec_embedding_profile", oracle=_EMB_PROFILE_SQL, tier="T2")
def vec_embedding_profile(spark, sf_dir):
    """Embedding-table data-quality profile per label — the vector-corpus
    analog of etl_profile_table, the first thing to run before trusting a
    similarity index: vector counts, dim min/max (ragged-row detector),
    zero-vector and NULL-element counts (both poison cosine), and the
    average L2 norm.

    Determinism: per-vector squared norms are exact integer 1e-8-unit
    sums (same quantization as ops/vectors); each vector's L2 norm is
    then floored into integer MICRO-norms (sqrt is a per-row
    deterministic op), so the per-label mean is an exact int64 sum with
    ONE trailing division — no cross-row double accumulation anywhere.

    Scale note: map-only projection + one small-key aggregate.
    """
    e = load(spark, sf_dir, "embeddings")
    sq_units = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(
                x.cast("double") * x.cast("double") * F.lit(100_000_000) + F.lit(0.5)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    n_null = F.aggregate(
        F.transform(F.col("embedding"), lambda x: F.when(x.isNull(), 1).otherwise(0)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    base = e.select(
        "label",
        F.size("embedding").alias("dim"),
        sq_units.alias("sq_units"),
        n_null.alias("n_null_elems"),
    )
    return base.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("dim").cast("long").alias("min_dim"),
        F.max("dim").cast("long").alias("max_dim"),
        F.sum(F.when(F.col("sq_units") == 0, 1).otherwise(0)).cast("long").alias("n_zero_vectors"),
        F.sum(F.when(F.col("n_null_elems") > 0, 1).otherwise(0)).cast("long").alias("n_with_nulls"),
        (
            F.floor(
                F.sum(
                    F.floor(
                        F.sqrt(F.col("sq_units").cast("double") / F.lit(100_000_000))
                        * F.lit(1_000_000)
                        + F.lit(0.5)
                    ).cast("long")
                ).cast("double")
                / F.count(F.lit(1))
                / F.lit(1_000_000)
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("avg_norm"),
    )


_DIMVAR_SQL = """
WITH el AS (
  SELECT g.i AS dim,
         CAST(FLOOR(CAST(e.embedding[g.i] AS DOUBLE) * 10000 + 0.5) AS BIGINT)
           AS u
  FROM embeddings e,
       LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g
  WHERE e.embedding IS NOT NULL AND e.embedding[g.i] IS NOT NULL
),
mom AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(u) AS BIGINT) AS su, CAST(SUM(u * u) AS BIGINT) AS suu
  FROM el GROUP BY dim
),
v AS (
  SELECT CAST(dim AS BIGINT) AS dim, n, su,
         CAST(n * suu - su * su AS BIGINT) AS var_num
  FROM mom
)
SELECT dim, n, su, var_num
FROM v ORDER BY var_num DESC, dim LIMIT 8
"""


@register("vec_dim_variance_topk", oracle=_DIMVAR_SQL, tier="T2")
def vec_dim_variance_topk(spark, sf_dir):
    """Per-dimension variance screen over the embedding table: the top-8
    highest-variance dimensions — the feature-selection / dead-dimension
    diagnostic (a near-zero-variance dim carries no signal and wastes
    index bits; PCA's cheap cousin that needs no eigensolve). Emitted as
    exact integer variance NUMERATORS n·Σu² − (Σu)² over 1e-4-quantized
    elements, so the ranking is a pure int64 total order (var_num DESC,
    dim) — no float variance ever crosses the engine boundary.

    Determinism: elements quantize to int64 units BEFORE any sum (the
    cross-row rule); NULL elements and NULL vectors are excluded
    identically in both engines. Headroom: n·Σu² ≤ n²·1e8 — int64-safe to
    n ≈ 9e6 vectors (~SF 200 for this fixture's density); beyond that
    demean on a first pass or carry DECIMAL(38,0).

    Scale note: posexplode fans each vector into 64 (dim, unit) rows
    map-side, partial-aggregates before the 64-key shuffle, and the top-8
    is a TakeOrderedAndProject — scan-bound at any scale.
    """
    e = load(spark, sf_dir, "embeddings")
    el = (
        e.filter(F.col("embedding").isNotNull())
        .select(F.posexplode("embedding").alias("i", "x"))
        .filter(F.col("x").isNotNull())
        .select(
            (F.col("i") + 1).cast("long").alias("dim"),
            F.floor(F.col("x").cast("double") * 10000 + F.lit(0.5))
            .cast("long")
            .alias("u"),
        )
    )
    mom = el.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("u").cast("long").alias("su"),
        F.sum(F.col("u") * F.col("u")).cast("long").alias("suu"),
    )
    return (
        mom.select(
            "dim",
            "n",
            "su",
            (F.col("n") * F.col("suu") - F.col("su") * F.col("su"))
            .cast("long")
            .alias("var_num"),
        )
        .orderBy(F.col("var_num").desc(), "dim")
        .limit(8)
    )


_PQ_N_SUB = 16
_PQ_SUB_DIM = 4
_PQ_N_CENT = 64
# codes pack 6 bits each into two BIGINTs: subspaces 0-9 -> code_lo (60 bits),
# 10-15 -> code_hi (36 bits)
_PQ_LO = 10
_PQ_MULT_LO = [64**s for s in range(_PQ_LO)]
_PQ_MULT_HI = [64**s for s in range(_PQ_N_SUB - _PQ_LO)]


def _pq_cb_values() -> str:
    from .pq_frozen import PQ_BOOKS

    return ",\n    ".join(
        f"({s}, {cid}, {j}, {PQ_BOOKS[s][cid][j]})"
        for s in range(_PQ_N_SUB)
        for cid in range(_PQ_N_CENT)
        for j in range(_PQ_SUB_DIM)
    )


def _pq_qdist_sql() -> str:
    """Shared oracle CTEs: quantized subvector elements + per-(vec, s, cid)
    exact distances to the frozen codebook."""
    return f"""cb AS (
  SELECT * FROM (VALUES
    {_pq_cb_values()}) AS t(s, cid, j, c)
),
q AS (
  SELECT vec_id, label,
         CAST((g.i - 1) // {_PQ_SUB_DIM} AS INT) AS s,
         CAST((g.i - 1) % {_PQ_SUB_DIM} AS INT) AS j,
         CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS qv
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
  WHERE embedding IS NOT NULL AND len(embedding) = {_VEC_DIM}
),
dist AS (
  SELECT q.vec_id, q.label, q.s, cb.cid,
         CAST(SUM((q.qv - cb.c) * (q.qv - cb.c)) AS BIGINT) AS d2
  FROM q JOIN cb ON cb.s = q.s AND cb.j = q.j
  GROUP BY q.vec_id, q.label, q.s, cb.cid
)"""


def _pq_oracle() -> str:
    mult_lo = "[" + ", ".join(f"CAST({m} AS BIGINT)" for m in _PQ_MULT_LO) + "]"
    mult_hi = "[" + ", ".join(f"CAST({m} AS BIGINT)" for m in _PQ_MULT_HI) + "]"
    return f"""
WITH {_pq_qdist_sql()},
best AS (
  SELECT vec_id, label, s, cid, d2,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
  FROM dist
)
SELECT vec_id, label,
       CAST(SUM(CASE WHEN s < {_PQ_LO}
                     THEN CAST(cid AS BIGINT) * ({mult_lo})[s + 1]
                     ELSE 0 END) AS BIGINT) AS code_lo,
       CAST(SUM(CASE WHEN s >= {_PQ_LO}
                     THEN CAST(cid AS BIGINT) * ({mult_hi})[s - {_PQ_LO} + 1]
                     ELSE 0 END) AS BIGINT) AS code_hi,
       CAST(SUM(d2) AS BIGINT) AS recon_err
FROM best WHERE rk = 1
GROUP BY vec_id, label
"""


def _pq_codes_batches():
    """mapInPandas body shared by encode + ADC: exact int64 PQ assignment."""
    import numpy as np

    from .pq_frozen import PQ_BOOKS

    books = [[list(c) for c in book] for book in PQ_BOOKS]

    def assign(pdf):
        C = np.asarray(books, dtype=np.int64)  # (16, 64, 4)
        keep = pdf["embedding"].map(lambda v: v is not None and len(v) == _VEC_DIM)
        pdf = pdf[keep]
        if not len(pdf):
            return None
        x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        q = (
            np.floor(x * 10_000 + 0.5)
            .astype(np.int64)
            .reshape(len(pdf), _PQ_N_SUB, _PQ_SUB_DIM)
        )
        diff = q[:, :, None, :] - C[None, :, :, :]  # (n, 16, 64, 4)
        d2 = (diff * diff).sum(axis=3)  # exact int64
        codes = d2.argmin(axis=2)  # first occurrence = lowest cid
        recon = np.take_along_axis(d2, codes[:, :, None], axis=2)[:, :, 0].sum(axis=1)
        return pdf, q, codes, recon

    return assign


@register("vec_pq_encode", oracle=_pq_oracle(), tier="T2")
def vec_pq_encode(spark, sf_dir):
    """Product-quantization encoding — the storage/serving compression path
    of an IVF-PQ ANN index (16 subspaces × 4 dims, 64 centroids each → one
    6-bit code per subspace: 12 bytes per vector instead of 256, packed
    into two BIGINTs). Codebooks are a PERSISTED model: trained by
    tools/pq_freeze.py's deterministic integer-unit Lloyd over the sf0.1
    reference corpus and frozen as literals in BOTH engines
    (pq_frozen.py), the same fit-once / apply-everywhere shape as
    vec_pca_project — which is also what makes a quantizer
    oracle-checkable (no k-means in DuckDB).

    Exactness: data and codebook share the 1e-4 integer unit system
    (ops.vectors.ESCALE), distances are exact int64 Σ(q−c)², assignment
    tie-breaks on lowest centroid id (numpy argmin first-occurrence ≡ the
    oracle's ORDER BY d2, cid), and the outputs (two packed base-64 code
    words + total reconstruction error in units²) are exact integers —
    zero float anywhere.

    Scale note: map-only Arrow-batched numpy (one (n,16,64,4) broadcasted
    subtract per batch); the 4 KiB codebook ships inside the plan. At
    100 TB this is the embarrassingly-parallel encode pass;
    vec_pq_adc_topk queries the resulting codes.
    """
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    assign = _pq_codes_batches()
    mlo = np.asarray(_PQ_MULT_LO, dtype=np.int64)
    mhi = np.asarray(_PQ_MULT_HI, dtype=np.int64)

    def encode(it):
        for pdf in it:
            r = assign(pdf)
            if r is None:
                continue
            pdf, _, codes, recon = r
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "code_lo": (codes[:, :_PQ_LO] * mlo).sum(axis=1),
                    "code_hi": (codes[:, _PQ_LO:] * mhi).sum(axis=1),
                    "recon_err": recon,
                }
            )

    # fan_out measured a WIN here (round-11 interleaved A/B, 1.17 -> 0.63 s):
    # the (n,16,64,4) codebook subtract is real numpy work worth spreading;
    # no-op on a multi-split cluster scan (guide §2.5 input skew).
    return fan_out(e).mapInPandas(
        encode, "vec_id long, label int, code_lo long, code_hi long, recon_err long"
    )


_PQ_N_PROBES = 10
_PQ_TOPK = 5


def _pq_adc_oracle() -> str:
    return f"""
WITH {_pq_qdist_sql()},
best AS (
  SELECT vec_id, s, cid,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
  FROM dist
),
lut AS (
  SELECT vec_id AS probe_id, s, cid, d2 FROM dist WHERE vec_id < {_PQ_N_PROBES}
),
adc AS (
  SELECT l.probe_id, b.vec_id AS neighbor_id,
         CAST(SUM(l.d2) AS BIGINT) AS adc_dist
  FROM best b JOIN lut l ON l.s = b.s AND l.cid = b.cid
  WHERE b.rk = 1 AND b.vec_id != l.probe_id
  GROUP BY l.probe_id, b.vec_id
)
SELECT probe_id, neighbor_id, adc_dist, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY adc_dist, neighbor_id) AS rk
  FROM adc
)
WHERE rk <= {_PQ_TOPK}
"""


@register("vec_pq_adc_topk", oracle=_pq_adc_oracle(), tier="T2")
def vec_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance (ADC) top-5 search over the PQ index — the query
    half of vec_pq_encode: each probe keeps full precision and precomputes
    one 16×64 lookup table of exact int64 subspace distances to every
    frozen centroid (pq_frozen.py); a corpus vector's distance is then
    just Σ_s LUT[s][code_s] — 16 array lookups against its 6-bit codes,
    no access to the original 64-dim vector. Ties break on neighbor_id.

    Exactness: probe LUTs and corpus codes live in the same 1e-4 integer
    unit system, so the ADC sums are exact int64 in both engines — an
    approximate-INDEX key whose computation is nonetheless bit-checkable
    (the approximation is quantization error vs true distance, not
    run-to-run noise). Recall vs the exact L2 top-5 is asserted in
    tests/test_conform_properties.py (0.4-0.6 on the near-random fixture
    vectors, where distance concentration makes PQ hardest; the coarser
    8×8×16 configuration measured 0.2 and was rejected for it).

    Scale note: the probe side (10 rows × 1024-long LUTs) broadcasts —
    the audited bounded BNLJ shape shared with sim_cosine_topk — and the
    corpus side is scanned as 12-byte codes, which is the entire point of
    PQ at 100 TB: the index is ~20× smaller than the vectors, and code
    unpacking (integer DIV/mod, exact past 2^53 where float division is
    not) + 16 element_at lookups stay in whole-stage codegen.
    """
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    codes = vec_pq_encode(spark, sf_dir).select("vec_id", "code_lo", "code_hi")
    assign = _pq_codes_batches()

    def probe_luts(it):
        from .pq_frozen import PQ_BOOKS

        C = np.asarray(PQ_BOOKS, dtype=np.int64)  # (16, 64, 4)
        for pdf in it:
            keep = pdf["embedding"].map(lambda v: v is not None and len(v) == _VEC_DIM)
            pdf = pdf[keep]
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            q = (
                np.floor(x * 10_000 + 0.5)
                .astype(np.int64)
                .reshape(len(pdf), _PQ_N_SUB, _PQ_SUB_DIM)
            )
            diff = q[:, :, None, :] - C[None, :, :, :]
            lut = (diff * diff).sum(axis=3).reshape(len(pdf), _PQ_N_SUB * _PQ_N_CENT)
            out = np.empty(len(pdf), dtype=object)
            for i in range(len(pdf)):
                out[i] = lut[i].tolist()
            yield pd.DataFrame({"probe_id": pdf["vec_id"].to_numpy(), "lut": out})

    probes = (
        e.filter(F.col("vec_id") < _PQ_N_PROBES)
        .select("vec_id", "embedding")
        .mapInPandas(probe_luts, "probe_id long, lut array<long>")
    )

    def code_at(s):
        if s < _PQ_LO:
            return F.expr(f"(code_lo DIV {64**s}) % 64")
        return F.expr(f"(code_hi DIV {64**(s - _PQ_LO)}) % 64")

    adc = sum(
        F.element_at(F.col("lut"), (F.lit(s * _PQ_N_CENT + 1) + code_at(s)).cast("int"))
        for s in range(_PQ_N_SUB)
    )
    w = Window.partitionBy("probe_id").orderBy("adc_dist", "neighbor_id")
    return (
        F.broadcast(probes)
        .join(codes, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.cast("long").alias("adc_dist"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _PQ_TOPK)
    )


# --------------------------------------------- random (JL) sign projection
# Deterministic ±1 sign matrix S[j][i] from md5("rp:{j}:{i}"): sign = +1 iff
# the first hex digit is even. Both engines derive the SAME matrix — Python
# hashlib on the Spark worker, md5() in the DuckDB oracle — no literals to
# drift.

_RP_K = 8
_RP_D = 64


def _rp_signs():
    import hashlib

    import numpy as np

    s = np.empty((_RP_K, _RP_D), dtype=np.int64)
    for j in range(_RP_K):
        for i in range(_RP_D):
            h = hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()
            s[j, i] = 1 if int(h[0], 16) % 2 == 0 else -1
    return s


def _rp_proj_sql(j: int) -> str:
    return f"""
CAST(list_sum(list_transform(generate_series(1, {_RP_D}),
  i -> (CASE WHEN strpos('02468ace',
                         substr(md5('rp:{j}:' || CAST(i - 1 AS VARCHAR)), 1, 1)) > 0
             THEN 1 ELSE -1 END)
       * CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)))
     AS BIGINT)"""


_RP_SQL = f"""
SELECT vec_id,
       {", ".join(f"{_rp_proj_sql(j)} AS p{j}" for j in range(_RP_K))}
FROM embeddings
WHERE embedding IS NOT NULL AND len(embedding) = {_RP_D}
"""


@register("vec_random_projection", oracle=_RP_SQL, tier="T2")
def vec_random_projection(spark, sf_dir):
    """Johnson–Lindenstrauss sign (Achlioptas ±1) random projection of the
    64-dim embeddings down to 8 dims — the cheap dimensionality-reduction
    front-end an ANN or clustering stage runs before distance work at
    100 TB (distances are preserved within 1±ε with the usual JL
    guarantee; ±1 entries make the projection exact integer arithmetic).

    Determinism: coordinates are quantized to exact int64 micro-units
    (floor(x·1e6 + 0.5) — float32→double is exact, one correctly-rounded
    multiply each), the sign matrix is derived identically in both engines
    from md5("rp:j:i") first-hex-digit parity, and each projection is an
    exact signed int64 sum (|p| ≤ 64·|x_micro|max ≈ 2e8 — no overflow).
    NULL / ragged embeddings are excluded on both sides (the
    null_embedding probe class).

    Scale note: map-only, zero shuffles — ONE Arrow-batched numpy int64
    matmul per batch against the process-cached 8×64 sign matrix (the
    ann_lsh_bucketed rework recipe: never 512 codegen dot-expressions, one
    BLAS-shaped pass), embarrassingly parallel at any scale.
    """
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    from pyspark.sql.types import LongType, StructField, StructType

    e = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == _RP_D)
    ).select("vec_id", "embedding")
    schema = StructType(
        [StructField("vec_id", LongType())]
        + [StructField(f"p{j}", LongType()) for j in range(_RP_K)]
    )

    def proj(batches):
        import numpy as np
        import pandas as pd

        s_t = _rp_signs().T  # (64, 8)
        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(x * 1e6 + 0.5).astype(np.int64)
            y = q @ s_t  # exact int64
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for j in range(_RP_K):
                out[f"p{j}"] = y[:, j]
            yield pd.DataFrame(out)

    # fan_out measured a LOSS here (round-11 A/B, 0.48 -> 0.65 s): the JL
    # matmul on 2000 rows is one cheap numpy call; stay map-only on the scan.
    return e.mapInPandas(proj, schema)


# ------------------------------------------- portable bucketed LSH ANN (r8)
# VERDICT r7 item 6: the full bucketed-ANN recipe (hyperplane signatures →
# (table, bucket) shuffle → multi-probe → in-bucket exact rerank) rebuilt
# with PORTABLE hashes so DuckDB reproduces the whole pipeline end-to-end —
# the same way dedup_minhash_portable twins dedup_minhash_lsh. Hyperplanes
# are ±1 sign planes from md5("lsh:t:p:i") first-hex-digit parity (the
# vec_random_projection recipe); plane dots are exact int64 on 1e-4-unit
# quantized coordinates, so bucket assignment has no float sign boundary.

_PL_TABLES = 4
_PL_BITS = 4
_PL_DIM = 64
_PL_K = 5
_PL_PROBES = 10
_PL_MASKS = (0, 1, 2, 4, 8)  # multi-probe: own bucket + the 4 Hamming-1


def _pl_signs():
    import hashlib

    import numpy as np

    s = np.empty((_PL_TABLES * _PL_BITS, _PL_DIM), dtype=np.int64)
    for t in range(_PL_TABLES):
        for p in range(_PL_BITS):
            for i in range(_PL_DIM):
                h = hashlib.md5(f"lsh:{t}:{p}:{i}".encode()).hexdigest()
                s[t * _PL_BITS + p, i] = 1 if int(h[0], 16) % 2 == 0 else -1
    return s


_PL_SQL = f"""
WITH iv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS iv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_PL_DIM}
),
norms AS (
  SELECT * FROM (
    SELECT vec_id, iv,
           sqrt(CAST(list_sum(list_transform(generate_series(1, {_PL_DIM}),
                i -> iv[i] * iv[i])) AS DOUBLE) / 100000000) AS nrm
    FROM iv
  ) WHERE nrm > 0
),
signs AS (
  SELECT t.t, p.p, i.i,
         CASE WHEN strpos('02468ace',
                substr(md5('lsh:' || t.t || ':' || p.p || ':' || i.i), 1, 1)) > 0
              THEN 1 ELSE -1 END AS s
  FROM generate_series(0, {_PL_TABLES - 1}) t(t),
       generate_series(0, {_PL_BITS - 1}) p(p),
       generate_series(0, {_PL_DIM - 1}) i(i)
),
bits AS (
  SELECT n.vec_id, s.t, s.p,
         CASE WHEN SUM(s.s * n.iv[s.i + 1]) > 0 THEN 1 ELSE 0 END AS bit
  FROM norms n CROSS JOIN signs s
  GROUP BY n.vec_id, s.t, s.p
),
sig AS (
  SELECT vec_id, t, CAST(SUM(bit * (1 << p)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id, t
),
probes AS (
  SELECT vec_id, t,
         unnest([{", ".join(f"xor(bucket, {m})" for m in _PL_MASKS)}]) AS bucket
  FROM sig WHERE vec_id < {_PL_PROBES}
),
cand AS (
  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
  FROM probes p
  JOIN sig c ON p.t = c.t AND p.bucket = c.bucket AND c.vec_id != p.vec_id
),
scored AS (
  SELECT cand.probe_id, cand.neighbor_id,
         (CAST(list_sum(list_transform(generate_series(1, {_PL_DIM}),
            i -> a.iv[i] * b.iv[i])) AS DOUBLE) / 100000000) / (a.nrm * b.nrm)
           AS cos
  FROM cand
  JOIN norms a ON a.vec_id = cand.probe_id
  JOIN norms b ON b.vec_id = cand.neighbor_id
)
SELECT probe_id, neighbor_id,
       {{rnd}} AS cosine,
       CAST(row_number() OVER (PARTITION BY probe_id
                               ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= {_PL_K}
""".format(rnd="(FLOOR(cos * 10000 + 0.5) / 10000)")


@register("vec_ann_lsh_portable", oracle=_PL_SQL, tier="T2")
def vec_ann_lsh_portable(spark, sf_dir):
    """End-to-end bucketed LSH ANN, fully oracle-checked: 4 tables × 4-bit
    random-hyperplane signatures → candidate generation ONLY within
    colliding (table, bucket) pairs (multi-probe: each probe also visits
    its 4 Hamming-1 buckets per table, fan-out on the probe side only) →
    exact integer-unit cosine rerank of the candidates → top-5. DuckDB
    rebuilds the identical pipeline (signatures, buckets, multi-probe,
    rerank) from the same md5-parity sign planes, so every stage —
    including which neighbors are REACHABLE at all — is pinned, not just
    sampled for recall. Recall vs the exhaustive twin (sim_cosine_topk) is
    asserted in tests/test_ann_portable_recall.py.

    Scale note: identical physical shape to ann_lsh_bucketed — the shuffle
    key is (table, bucket), the signature pass is ONE Arrow-batched int64
    matmul per batch against the process-constant 16×64 sign matrix, and
    the signature table is materialized once because it feeds both join
    sides. Corpus side is scanned once; nothing is all-pairs.
    """
    import numpy as np
    import pandas as pd

    from ..ops.materialize import materialize
    from ..ops.vectors import SCALE, dot_int

    e = load(spark, sf_dir, "embeddings")

    def signatures(batches):
        S = _pl_signs()  # (16, 64)
        bit = np.asarray(
            [1 << p for _ in range(_PL_TABLES) for p in range(_PL_BITS)],
            dtype=np.int64,
        )
        seg = np.repeat(np.arange(_PL_TABLES), _PL_BITS)
        tables = np.arange(_PL_TABLES, dtype=np.int32)
        for pdf in batches:
            keep = pdf["embedding"].map(
                lambda v: v is not None and len(v) == _PL_DIM
            )
            pdf = pdf[keep]
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            q = np.floor(x * 10_000 + 0.5).astype(np.int64)
            nrm = np.sqrt((q * q).sum(axis=1).astype(np.float64) / SCALE)
            pos = (q @ S.T) > 0  # exact int64 plane dots, (n, 16)
            bucket = np.zeros((len(pdf), _PL_TABLES), dtype=np.int64)
            np.add.at(bucket.T, seg, (pos * bit).T)
            ok = nrm > 0
            n_ok = int(ok.sum())
            if not n_ok:
                continue
            q, nrm, bucket = q[ok], nrm[ok], bucket[ok]
            ids = pdf["vec_id"].to_numpy()[ok]
            ivobj = np.empty(n_ok, dtype=object)
            for i in range(n_ok):
                ivobj[i] = q[i].tolist()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, _PL_TABLES),
                    "iv": np.repeat(ivobj, _PL_TABLES),
                    "nrm": np.repeat(nrm, _PL_TABLES),
                    "table": np.tile(tables, n_ok),
                    "bucket": bucket.reshape(-1),
                }
            )

    n = (
        fan_out(e.select("vec_id", "embedding"))
        .mapInPandas(
            signatures,
            schema="vec_id long, iv array<long>, nrm double, table int, bucket long",
        )
        .transform(materialize)
    )
    probe = n.filter(F.col("vec_id") < _PL_PROBES).select(
        "vec_id",
        "iv",
        "nrm",
        "table",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in _PL_MASKS])
        ).alias("bucket"),
    )
    cos = (
        dot_int(F.col("a.iv"), F.col("b.iv")).cast("double") / F.lit(SCALE)
    ) / (F.col("a.nrm") * F.col("b.nrm"))
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        probe.alias("a")
        .join(
            n.alias("b"),
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cos.alias("cos"),
        )
        .dropDuplicates(["probe_id", "neighbor_id"])
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _PL_K)
        .select(
            "probe_id",
            "neighbor_id",
            (F.floor(F.col("cos") * 10000 + F.lit(0.5)) / 10000).alias("cosine"),
            "rk",
        )
    )


# --- IVF ANN with a frozen coarse quantizer (VERDICT r8 item 3) -------------
# ann_ivf_kmeans (sampling.py) keeps the Lloyd loop ONLINE and is therefore
# rows-only; this twin freezes the coarse quantizer offline (tools/
# ivf_freeze.py -> ivf_frozen.py, the vec_pq_encode pattern), which is both
# the realistic 100 TB deployment shape (fit the quantizer once on a sample,
# ship it as a constant, assignment is a map-only pass) and what makes the
# ENTIRE index — cell assignment, nprobe routing, rerank — hash-checkable in
# DuckDB.
_IVF_K = 16
_IVF_NPROBE = 6
_IVF_PROBES = 10
_IVF_TOPK = 5


def _ivf_cb_values() -> str:
    from .ivf_frozen import IVF_CENTROIDS

    return ",\n    ".join(
        f"({cell}, {j}, {IVF_CENTROIDS[cell][j]})"
        for cell in range(_IVF_K)
        for j in range(_VEC_DIM)
    )


def _ivf_topk_oracle(nprobe: int, topk: int, probe_pred: str) -> str:
    """The frozen-centroid IVF pipeline in DuckDB, parameterized over
    routing width, cut depth and the probe-side predicate (shared by
    vec_ann_ivf_portable and vec_ann_ivf_batch_rescore)."""
    return f"""
WITH cb AS (
  SELECT * FROM (VALUES
    {_ivf_cb_values()}) AS t(cell, j, c)
),
iv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS iv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_VEC_DIM}
),
norms AS (
  SELECT * FROM (
    SELECT vec_id, iv,
           sqrt(CAST(list_sum(list_transform(generate_series(1, {_VEC_DIM}),
                i -> iv[i] * iv[i])) AS DOUBLE) / 100000000) AS nrm
    FROM iv
  ) WHERE nrm > 0
),
dist AS (
  SELECT n.vec_id, cb.cell,
         CAST(SUM((n.iv[cb.j + 1] - cb.c) * (n.iv[cb.j + 1] - cb.c)) AS BIGINT)
           AS d2
  FROM norms n CROSS JOIN cb
  GROUP BY n.vec_id, cb.cell
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS crk
  FROM dist
),
corpus AS (SELECT vec_id, cell FROM ranked WHERE crk = 1),
probes AS (SELECT vec_id, cell FROM ranked
           WHERE crk <= {nprobe} AND {probe_pred}),
cand AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id
  FROM probes p JOIN corpus c ON p.cell = c.cell AND c.vec_id != p.vec_id
),
scored AS (
  SELECT cand.probe_id, cand.neighbor_id,
         (CAST(list_sum(list_transform(generate_series(1, {_VEC_DIM}),
            i -> a.iv[i] * b.iv[i])) AS DOUBLE) / 100000000) / (a.nrm * b.nrm)
           AS cos
  FROM cand
  JOIN norms a ON a.vec_id = cand.probe_id
  JOIN norms b ON b.vec_id = cand.neighbor_id
)
SELECT probe_id, neighbor_id,
       (FLOOR(cos * 10000 + 0.5) / 10000) AS cosine,
       CAST(row_number() OVER (PARTITION BY probe_id
                               ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= {topk}
"""


def _ivf_oracle() -> str:
    return _ivf_topk_oracle(_IVF_NPROBE, _IVF_TOPK, f"vec_id < {_IVF_PROBES}")


def _ivf_assign(e, nprobe: int):
    """(vec_id, iv, nrm, crk, cell) for the ``nprobe`` nearest frozen cells
    per vector — one Arrow-batched numpy pass (exact int64 d2; stable
    argsort = ORDER BY d2, cell), materialized because every caller feeds
    it to both sides of a join. Shared by vec_ann_ivf_portable (nprobe=6)
    and vec_ann_recall_sweep (nprobe=8)."""
    import numpy as np
    import pandas as pd

    from ..ops.materialize import materialize
    from ..ops.vectors import SCALE
    from .ivf_frozen import IVF_CENTROIDS

    IC = np.asarray(IVF_CENTROIDS, dtype=np.int64)  # (16, 64)

    def assign_pass(it):
        for pdf in it:
            keep = pdf["embedding"].map(
                lambda v: v is not None and len(v) == _VEC_DIM
            )
            pdf = pdf[keep]
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            q = np.floor(x * 10_000 + 0.5).astype(np.int64)
            nrm = np.sqrt((q * q).sum(axis=1).astype(np.float64) / SCALE)
            ok = nrm > 0  # zero-norm: cosine undefined (llm_similarity rule)
            n_ok = int(ok.sum())
            if not n_ok:
                continue
            q, nrm = q[ok], nrm[ok]
            ids = pdf["vec_id"].to_numpy()[ok]
            d2c = ((q[:, None, :] - IC[None, :, :]) ** 2).sum(axis=2)
            order = np.argsort(d2c, axis=1, kind="stable")[:, :nprobe]
            ivobj = np.empty(n_ok, dtype=object)
            for i in range(n_ok):
                ivobj[i] = q[i].tolist()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, nprobe),
                    "iv": np.repeat(ivobj, nprobe),
                    "nrm": np.repeat(nrm, nprobe),
                    "crk": np.tile(np.arange(nprobe, dtype=np.int32), n_ok),
                    "cell": order.reshape(-1).astype(np.int32),
                }
            )

    return (
        fan_out(e.select("vec_id", "embedding"))
        .mapInPandas(
            assign_pass,
            schema="vec_id long, iv array<long>, nrm double, crk int, cell int",
        )
        .transform(materialize)
    )


@register("vec_ann_ivf_portable", oracle=_ivf_oracle(), tier="T2")
def vec_ann_ivf_portable(spark, sf_dir):
    """End-to-end IVF ANN with frozen centroids, fully oracle-checked: each
    vector is assigned to its nearest of 16 frozen cells (exact int64
    squared-L2 in 1e-4 units, tie-break lowest cell id); the corpus is
    indexed by home cell, each probe fans out to its nprobe=6 nearest
    cells (probe-side-only cost, the same trick as the LSH multi-probe),
    candidates are reranked by exact integer-unit cosine, top-5 kept.
    DuckDB rebuilds the identical pipeline from the same frozen centroid
    literals (ivf_frozen.py), so every stage — including which neighbors
    are REACHABLE — is pinned. Recall vs the exhaustive twin
    (sim_cosine_topk) is asserted in tests/test_ann_portable_recall.py;
    the online-Lloyd rows-only variant is ann_ivf_kmeans (sampling.py).

    Exactness: data and centroids share the 1e-4 integer unit system, so
    cell distances are exact int64 in both engines and near-tie
    assignments are partition-order independent; the rerank is the proven
    integer-cosine recipe (sim_cosine_topk / vec_ann_lsh_portable).

    Scale note: the 4 KiB centroid table ships with the task (at 100 TB:
    fit on a driver-side sample, freeze, broadcast) — assignment is one
    map-only Arrow-batched numpy pass (a (n,16,64) broadcasted subtract
    per batch; the pure-expression HOF formulation evaluated interpreted
    and benched 2.5x slower), `cell` is the one shuffle key (the inverted
    list), and the assignment table is materialized once because it feeds
    both join sides. Nothing is all-pairs; per-probe work is bounded by
    the nprobe cells' populations.
    """
    from ..ops.vectors import SCALE, dot_int

    e = load(spark, sf_dir, "embeddings")

    # _ivf_assign is one Arrow-batched numpy pass (the pure-expression
    # formulation — 16 aggregate-HOF folds — evaluated INTERPRETED, outside
    # whole-stage codegen, and benched 2.5x slower at sf0.1).
    assigned = _ivf_assign(e, _IVF_NPROBE)
    corpus = assigned.filter(F.col("crk") == 0).select("vec_id", "iv", "nrm", "cell")
    probes = assigned.filter(F.col("vec_id") < _IVF_PROBES).select(
        "vec_id", "iv", "nrm", "cell"
    )
    cos = (
        dot_int(F.col("a.iv"), F.col("b.iv")).cast("double") / F.lit(SCALE)
    ) / (F.col("a.nrm") * F.col("b.nrm"))
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        probes.alias("a")
        .join(
            corpus.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cos.alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _IVF_TOPK)
        .select(
            "probe_id",
            "neighbor_id",
            (F.floor(F.col("cos") * 10000 + F.lit(0.5)) / 10000).alias("cosine"),
            "rk",
        )
    )


# --- IVF+PQ composed index (round 9) -----------------------------------------
# The canonical billion-scale serving layout (FAISS IVFPQ): IVF cells bound
# WHICH vectors a probe scores, PQ/ADC bounds HOW MUCH each scoring costs
# (16 LUT lookups against 12-byte codes instead of a 256-byte vector read).
# Both halves are frozen offline models already proven separately
# (ivf_frozen.py routing = vec_ann_ivf_portable; pq_frozen.py codes/ADC =
# vec_pq_encode / vec_pq_adc_topk), so the COMPOSITION is hash-checkable
# end-to-end too. Books are fit on raw vectors (flat PQ), not per-cell
# residuals — documented honestly; residual-PQ would need per-cell books.
_IVFPQ_NPROBE = 6
_IVFPQ_TOPK = 5
_IVFPQ_PROBES = 10


def _ivfpq_oracle() -> str:
    return f"""
WITH icb AS (
  SELECT * FROM (VALUES
    {_ivf_cb_values()}) AS t(cell, j, c)
),
{_pq_qdist_sql()},
qflat AS (
  SELECT vec_id, s * {_PQ_SUB_DIM} + j + 1 AS jf, qv FROM q
),
ivfd AS (
  SELECT qf.vec_id, icb.cell,
         CAST(SUM((qf.qv - icb.c) * (qf.qv - icb.c)) AS BIGINT) AS d2
  FROM qflat qf JOIN icb ON icb.j + 1 = qf.jf
  GROUP BY qf.vec_id, icb.cell
),
cells AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS crk
  FROM ivfd
),
home AS (SELECT vec_id, cell FROM cells WHERE crk = 1),
pcells AS (SELECT vec_id AS probe_id, cell FROM cells
           WHERE crk <= {_IVFPQ_NPROBE} AND vec_id < {_IVFPQ_PROBES}),
best AS (
  SELECT vec_id, s, cid,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
  FROM dist
),
lut AS (
  SELECT vec_id AS probe_id, s, cid, d2 FROM dist
  WHERE vec_id < {_IVFPQ_PROBES}
),
adc AS (
  SELECT pc.probe_id, h.vec_id AS neighbor_id,
         CAST(SUM(l.d2) AS BIGINT) AS adc_dist
  FROM pcells pc
  JOIN home h ON h.cell = pc.cell AND h.vec_id != pc.probe_id
  JOIN best b ON b.vec_id = h.vec_id AND b.rk = 1
  JOIN lut l ON l.probe_id = pc.probe_id AND l.s = b.s AND l.cid = b.cid
  GROUP BY pc.probe_id, h.vec_id
)
SELECT probe_id, neighbor_id, adc_dist, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY adc_dist, neighbor_id) AS rk
  FROM adc
)
WHERE rk <= {_IVFPQ_TOPK}
"""


@register("vec_ann_ivfpq_portable", oracle=_ivfpq_oracle(), tier="T2")
def vec_ann_ivfpq_portable(spark, sf_dir):
    """Composed IVF+PQ ANN, fully oracle-checked: the corpus is routed to
    its nearest frozen IVF cell AND compressed to 12-byte PQ codes in ONE
    Arrow pass; a probe visits its nprobe=6 nearest cells and scores only
    those cells' codes by ADC (16 exact-int64 LUT lookups per candidate),
    top-5 by (adc_dist, neighbor_id). Every stage — cell assignment, code
    assignment, routing, LUT, ranking — is exact int64 in the shared 1e-4
    unit system and rebuilt verbatim in DuckDB from the same frozen
    literals. Routing loss vs the exhaustive-ADC twin (vec_pq_adc_topk) is
    asserted in tests/test_ann_portable_recall.py.

    Scale note: THE billion-scale serving shape — the index pass is
    map-only (one (n,16,64,4) broadcasted subtract per batch for codes +
    one (n,16,64) for cells, both against plan-shipped 4 KiB constants),
    `cell` is the single corpus shuffle key, the probe side (10 rows ×
    1 KiB LUTs × 6 cells) broadcasts, and candidates are read as two
    BIGINT code words — the corpus vectors themselves are never touched
    after indexing. At 100 TB: ~20× less candidate I/O than rerank on raw
    vectors, bounded per-probe work, no all-pairs anywhere.
    """
    import numpy as np
    import pandas as pd

    from .ivf_frozen import IVF_CENTROIDS

    e = load(spark, sf_dir, "embeddings")
    assign = _pq_codes_batches()
    mlo = np.asarray(_PQ_MULT_LO, dtype=np.int64)
    mhi = np.asarray(_PQ_MULT_HI, dtype=np.int64)
    IC = np.asarray(IVF_CENTROIDS, dtype=np.int64)  # (16, 64)

    def index_pass(it):
        for pdf in it:
            r = assign(pdf)
            if r is None:
                continue
            pdf, q, codes, _ = r
            qf = q.reshape(len(pdf), _VEC_DIM)  # (n, 64) int64 units
            d2c = ((qf[:, None, :] - IC[None, :, :]) ** 2).sum(axis=2)
            cell = d2c.argmin(axis=1)  # first-occurrence = lowest cell
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cell.astype(np.int32),
                    "code_lo": (codes[:, :_PQ_LO] * mlo).sum(axis=1),
                    "code_hi": (codes[:, _PQ_LO:] * mhi).sum(axis=1),
                }
            )

    codes = fan_out(e.select("vec_id", "embedding")).mapInPandas(
        index_pass, "vec_id long, cell int, code_lo long, code_hi long"
    )

    def probe_pass(it):
        from .pq_frozen import PQ_BOOKS

        C = np.asarray(PQ_BOOKS, dtype=np.int64)  # (16, 64, 4)
        for pdf in it:
            keep = pdf["embedding"].map(
                lambda v: v is not None and len(v) == _VEC_DIM
            )
            pdf = pdf[keep]
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            q = np.floor(x * 10_000 + 0.5).astype(np.int64)
            qs = q.reshape(len(pdf), _PQ_N_SUB, _PQ_SUB_DIM)
            diff = qs[:, :, None, :] - C[None, :, :, :]
            lut = (diff * diff).sum(axis=3).reshape(len(pdf), -1)  # (n, 1024)
            d2c = ((q[:, None, :] - IC[None, :, :]) ** 2).sum(axis=2)
            # stable ascending sort: ties resolve to the lowest cell id,
            # matching ORDER BY d2, cell
            order = np.argsort(d2c, axis=1, kind="stable")[:, :_IVFPQ_NPROBE]
            n = len(pdf)
            ids = pdf["vec_id"].to_numpy()
            lobj = np.empty(n, dtype=object)
            for i in range(n):
                lobj[i] = lut[i].tolist()
            yield pd.DataFrame(
                {
                    "probe_id": np.repeat(ids, _IVFPQ_NPROBE),
                    "cell": order.reshape(-1).astype(np.int32),
                    "lut": np.repeat(lobj, _IVFPQ_NPROBE),
                }
            )

    probes = (
        e.filter(F.col("vec_id") < _IVFPQ_PROBES)
        .select("vec_id", "embedding")
        .mapInPandas(probe_pass, "probe_id long, cell int, lut array<long>")
    )

    def code_at(s):
        if s < _PQ_LO:
            return F.expr(f"(code_lo DIV {64**s}) % 64")
        return F.expr(f"(code_hi DIV {64**(s - _PQ_LO)}) % 64")

    adc = sum(
        F.element_at(
            F.col("lut"), (F.lit(s * _PQ_N_CENT + 1) + code_at(s)).cast("int")
        )
        for s in range(_PQ_N_SUB)
    )
    w = Window.partitionBy("probe_id").orderBy("adc_dist", "neighbor_id")
    return (
        F.broadcast(probes)
        .join(
            codes,
            (probes.cell == codes.cell) & (F.col("vec_id") != F.col("probe_id")),
        )
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.cast("long").alias("adc_dist"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _IVFPQ_TOPK)
    )


# --- Residual IVF+PQ (round 9) ------------------------------------------------
# vec_ann_ivfpq_portable quantizes RAW vectors (flat PQ); production IVFPQ
# (the FAISS default) quantizes the RESIDUAL x − centroid(cell(x)), which
# concentrates the 6-bit code budget on within-cell variance — the ADC LUT
# then depends on (probe, cell), not just the probe. Residuals are int64
# differences of int64 quantities (data, IVF centroids, residual books all
# in 1e-4 units), so the full residual pipeline stays exactly
# oracle-checkable. Books: tools/rpq_freeze.py → rpq_frozen.py (one global
# residual codebook, the FAISS layout — not per-cell books).


def _rpq_cb_values() -> str:
    from .rpq_frozen import RPQ_BOOKS

    return ",\n    ".join(
        f"({s}, {cid}, {jj}, {RPQ_BOOKS[s][cid][jj]})"
        for s in range(_PQ_N_SUB)
        for cid in range(_PQ_N_CENT)
        for jj in range(_PQ_SUB_DIM)
    )


def _rivfpq_oracle() -> str:
    return f"""
WITH icb AS (
  SELECT * FROM (VALUES
    {_ivf_cb_values()}) AS t(cell, j, c)
),
rcb AS (
  SELECT * FROM (VALUES
    {_rpq_cb_values()}) AS t(s, cid, jj, c)
),
q AS (
  SELECT vec_id, g.i AS jf,
         CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS qv
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
  WHERE embedding IS NOT NULL AND len(embedding) = {_VEC_DIM}
),
ivfd AS (
  SELECT q.vec_id, icb.cell,
         CAST(SUM((q.qv - icb.c) * (q.qv - icb.c)) AS BIGINT) AS d2
  FROM q JOIN icb ON icb.j + 1 = q.jf
  GROUP BY q.vec_id, icb.cell
),
cells AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS crk
  FROM ivfd
),
home AS (SELECT vec_id, cell FROM cells WHERE crk = 1),
pcells AS (SELECT vec_id AS probe_id, cell FROM cells
           WHERE crk <= {_IVFPQ_NPROBE} AND vec_id < {_IVFPQ_PROBES}),
rescorp AS (
  SELECT q.vec_id, CAST((q.jf - 1) // {_PQ_SUB_DIM} AS INT) AS s,
         CAST((q.jf - 1) % {_PQ_SUB_DIM} AS INT) AS jj,
         q.qv - icb.c AS rv
  FROM q JOIN home h ON h.vec_id = q.vec_id
  JOIN icb ON icb.cell = h.cell AND icb.j + 1 = q.jf
),
distc AS (
  SELECT rc.vec_id, rc.s, rcb.cid,
         CAST(SUM((rc.rv - rcb.c) * (rc.rv - rcb.c)) AS BIGINT) AS d2
  FROM rescorp rc JOIN rcb ON rcb.s = rc.s AND rcb.jj = rc.jj
  GROUP BY rc.vec_id, rc.s, rcb.cid
),
best AS (
  SELECT vec_id, s, cid,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
  FROM distc
),
resprobe AS (
  SELECT pc.probe_id, pc.cell, CAST((q.jf - 1) // {_PQ_SUB_DIM} AS INT) AS s,
         CAST((q.jf - 1) % {_PQ_SUB_DIM} AS INT) AS jj,
         q.qv - icb.c AS rv
  FROM q JOIN pcells pc ON pc.probe_id = q.vec_id
  JOIN icb ON icb.cell = pc.cell AND icb.j + 1 = q.jf
),
lut AS (
  SELECT rp.probe_id, rp.cell, rp.s, rcb.cid,
         CAST(SUM((rp.rv - rcb.c) * (rp.rv - rcb.c)) AS BIGINT) AS d2
  FROM resprobe rp JOIN rcb ON rcb.s = rp.s AND rcb.jj = rp.jj
  GROUP BY rp.probe_id, rp.cell, rp.s, rcb.cid
),
adc AS (
  SELECT pc.probe_id, h.vec_id AS neighbor_id,
         CAST(SUM(l.d2) AS BIGINT) AS adc_dist
  FROM pcells pc
  JOIN home h ON h.cell = pc.cell AND h.vec_id != pc.probe_id
  JOIN best b ON b.vec_id = h.vec_id AND b.rk = 1
  JOIN lut l ON l.probe_id = pc.probe_id AND l.cell = pc.cell
            AND l.s = b.s AND l.cid = b.cid
  GROUP BY pc.probe_id, h.vec_id
)
SELECT probe_id, neighbor_id, adc_dist, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY adc_dist, neighbor_id) AS rk
  FROM adc
)
WHERE rk <= {_IVFPQ_TOPK}
"""


@register("vec_ann_ivfpq_residual", oracle=_rivfpq_oracle(), tier="T2")
def vec_ann_ivfpq_residual(spark, sf_dir):
    """Residual IVF+PQ ANN (the FAISS-default layout), fully oracle-checked:
    the corpus vector's RESIDUAL against its home-cell centroid is PQ-coded
    (one global residual codebook, rpq_frozen.py); each probe builds one
    exact-int64 LUT PER PROBED CELL from its own residual against that
    cell's centroid, so ADC approximates within-cell L2 rather than raw L2
    — the 6-bit code budget covers within-cell variance only. Top-5 by
    (adc_dist, neighbor_id). DuckDB rebuilds routing, residuals, codes,
    per-cell LUTs, and ranking from the same frozen literals.

    Exactness: residuals are int64 differences of int64 quantities; every
    distance is an exact integer sum — the approximation is quantization
    error vs true distance, never run-to-run noise.

    Scale note: same physical shape as vec_ann_ivfpq_portable — one
    map-only Arrow index pass, `cell` the single corpus shuffle key,
    12-byte candidate reads — plus nprobe LUTs per probe instead of one
    (probe-side-only cost, 6 KiB per probe; the corpus side is unchanged).
    """
    import numpy as np
    import pandas as pd

    from .ivf_frozen import IVF_CENTROIDS
    from .rpq_frozen import RPQ_BOOKS

    e = load(spark, sf_dir, "embeddings")
    IC = np.asarray(IVF_CENTROIDS, dtype=np.int64)  # (16, 64)
    RB = np.asarray(RPQ_BOOKS, dtype=np.int64)  # (16, 64, 4)
    mlo = np.asarray(_PQ_MULT_LO, dtype=np.int64)
    mhi = np.asarray(_PQ_MULT_HI, dtype=np.int64)

    def _quant(pdf):
        keep = pdf["embedding"].map(lambda v: v is not None and len(v) == _VEC_DIM)
        pdf = pdf[keep]
        if not len(pdf):
            return None
        x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        return pdf, np.floor(x * 10_000 + 0.5).astype(np.int64)

    def index_pass(it):
        for pdf in it:
            r = _quant(pdf)
            if r is None:
                continue
            pdf, q = r
            d2c = ((q[:, None, :] - IC[None, :, :]) ** 2).sum(axis=2)
            cell = d2c.argmin(axis=1)
            res = (q - IC[cell]).reshape(len(pdf), _PQ_N_SUB, _PQ_SUB_DIM)
            diff = res[:, :, None, :] - RB[None, :, :, :]
            codes = (diff * diff).sum(axis=3).argmin(axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cell.astype(np.int32),
                    "code_lo": (codes[:, :_PQ_LO] * mlo).sum(axis=1),
                    "code_hi": (codes[:, _PQ_LO:] * mhi).sum(axis=1),
                }
            )

    codes = fan_out(e.select("vec_id", "embedding")).mapInPandas(
        index_pass, "vec_id long, cell int, code_lo long, code_hi long"
    )

    def probe_pass(it):
        for pdf in it:
            r = _quant(pdf)
            if r is None:
                continue
            pdf, q = r
            d2c = ((q[:, None, :] - IC[None, :, :]) ** 2).sum(axis=2)
            order = np.argsort(d2c, axis=1, kind="stable")[:, :_IVFPQ_NPROBE]
            ids = pdf["vec_id"].to_numpy()
            rows_id, rows_cell, rows_lut = [], [], []
            for i in range(len(pdf)):
                for c in order[i]:
                    res = (q[i] - IC[c]).reshape(_PQ_N_SUB, _PQ_SUB_DIM)
                    diff = res[:, None, :] - RB
                    lut = (diff * diff).sum(axis=2).reshape(-1)
                    rows_id.append(ids[i])
                    rows_cell.append(int(c))
                    rows_lut.append(lut.tolist())
            yield pd.DataFrame(
                {"probe_id": rows_id, "cell": rows_cell, "lut": rows_lut}
            )

    probes = (
        e.filter(F.col("vec_id") < _IVFPQ_PROBES)
        .select("vec_id", "embedding")
        .mapInPandas(probe_pass, "probe_id long, cell int, lut array<long>")
    )

    def code_at(s):
        if s < _PQ_LO:
            return F.expr(f"(code_lo DIV {64**s}) % 64")
        return F.expr(f"(code_hi DIV {64**(s - _PQ_LO)}) % 64")

    adc = sum(
        F.element_at(
            F.col("lut"), (F.lit(s * _PQ_N_CENT + 1) + code_at(s)).cast("int")
        )
        for s in range(_PQ_N_SUB)
    )
    w = Window.partitionBy("probe_id").orderBy("adc_dist", "neighbor_id")
    return (
        F.broadcast(probes)
        .join(
            codes,
            (probes.cell == codes.cell) & (F.col("vec_id") != F.col("probe_id")),
        )
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.cast("long").alias("adc_dist"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _IVFPQ_TOPK)
    )


# ------------------------------------- IVF recall-vs-nprobe sweep (round 9)
# The operating-curve evaluation a real ANN deployment tunes against:
# recall@k as a function of nprobe, measured against the exhaustive scan,
# in one plan. "Measure, don't guess" applied to the IVF index itself —
# the sweep shares vec_ann_ivf_portable's frozen quantizer and integer
# rerank, so the ENTIRE curve is hash-checkable in DuckDB.
_SWEEP_NPROBES = (1, 2, 4, 8)
_SWEEP_MAX = max(_SWEEP_NPROBES)

_SWEEP_COS = (
    "(CAST(list_sum(list_transform(generate_series(1, {d}), "
    "i -> a.iv[i] * b.iv[i])) AS DOUBLE) / 100000000) / (a.nrm * b.nrm)"
).format(d=_VEC_DIM)


def _ivf_sweep_oracle() -> str:
    nps = ", ".join(f"({p})" for p in _SWEEP_NPROBES)
    return f"""
WITH cb AS (
  SELECT * FROM (VALUES
    {_ivf_cb_values()}) AS t(cell, j, c)
),
iv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS iv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_VEC_DIM}
),
norms AS (
  SELECT * FROM (
    SELECT vec_id, iv,
           sqrt(CAST(list_sum(list_transform(generate_series(1, {_VEC_DIM}),
                i -> iv[i] * iv[i])) AS DOUBLE) / 100000000) AS nrm
    FROM iv
  ) WHERE nrm > 0
),
dist AS (
  SELECT n.vec_id, cb.cell,
         CAST(SUM((n.iv[cb.j + 1] - cb.c) * (n.iv[cb.j + 1] - cb.c)) AS BIGINT)
           AS d2
  FROM norms n CROSS JOIN cb
  GROUP BY n.vec_id, cb.cell
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS crk
  FROM dist
),
corpus AS (SELECT vec_id, cell FROM ranked WHERE crk = 1),
probes AS (SELECT vec_id, cell, crk FROM ranked
           WHERE crk <= {_SWEEP_MAX} AND vec_id < {_IVF_PROBES}),
cand AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, p.crk
  FROM probes p JOIN corpus c ON p.cell = c.cell AND c.vec_id != p.vec_id
),
scored AS (
  SELECT cand.probe_id, cand.neighbor_id, cand.crk, {_SWEEP_COS} AS cos
  FROM cand
  JOIN norms a ON a.vec_id = cand.probe_id
  JOIN norms b ON b.vec_id = cand.neighbor_id
),
nps AS (SELECT * FROM (VALUES {nps}) AS t(np)),
cand_np AS (
  SELECT np, probe_id, neighbor_id, cos
  FROM scored CROSS JOIN nps WHERE scored.crk <= nps.np
),
ann AS (
  SELECT np, probe_id, neighbor_id FROM (
    SELECT np, probe_id, neighbor_id,
           row_number() OVER (PARTITION BY np, probe_id
                              ORDER BY cos DESC, neighbor_id) AS rk
    FROM cand_np
  ) WHERE rk <= {_IVF_TOPK}
),
exh AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_SWEEP_COS} DESC, b.vec_id) AS rk
    FROM norms a JOIN norms b ON b.vec_id != a.vec_id
    WHERE a.vec_id < {_IVF_PROBES}
  ) WHERE rk <= {_IVF_TOPK}
),
counts AS (SELECT np, CAST(COUNT(*) AS BIGINT) AS n_cand
           FROM cand_np GROUP BY np),
hit AS (SELECT np, CAST(COUNT(*) AS BIGINT) AS hits
        FROM ann JOIN exh USING (probe_id, neighbor_id) GROUP BY np),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probes
        FROM norms WHERE vec_id < {_IVF_PROBES})
SELECT CAST(c.np AS BIGINT) AS nprobe,
       t.n_probes,
       c.n_cand,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(h.hits, 0) * 1000000
            // GREATEST(t.n_probes * {_IVF_TOPK}, 1) AS BIGINT)
         AS recall_micro
FROM counts c LEFT JOIN hit h ON c.np = h.np CROSS JOIN tot t
ORDER BY nprobe
"""


@register("vec_ann_recall_sweep", oracle=_ivf_sweep_oracle(), tier="T2")
def vec_ann_recall_sweep(spark, sf_dir):
    """Recall@5-vs-nprobe operating curve for the frozen-quantizer IVF
    index: for nprobe in (1, 2, 4, 8), the candidate volume actually
    scored, the overlap with the exhaustive top-5 (hits), and recall in
    micro-units — the table an ANN deployment reads to pick its
    latency/recall point.

    Determinism: shares vec_ann_ivf_portable's frozen centroids and
    exact-int64 assignment, and the hit join is on (probe, neighbor) ids
    only — no float ever crosses an engine boundary un-quantized.

    Scale: one assignment pass (map-only, materialized once) feeds both
    the index side (home cell) and the probe side (8 ranked cells);
    per-nprobe reachability is a filter on the probe-side cell rank, so
    the sweep costs ONE bucketed candidate join at the widest nprobe plus
    per-curve-point window ranks over probe-bounded rows. The exhaustive
    arm is the audited bounded-broadcast probe scan (sim_cosine_topk
    shape) — it exists to measure recall and is probe-bounded, not
    corpus-quadratic.
    """
    from ..ops.materialize import materialize
    from ..ops.vectors import SCALE, dot_int

    e = load(spark, sf_dir, "embeddings")
    assigned = _ivf_assign(e, _SWEEP_MAX)  # crk is 0-based here
    corpus = assigned.filter(F.col("crk") == 0).select(
        "vec_id", "iv", "nrm", "cell"
    )
    probes = assigned.filter(F.col("vec_id") < _IVF_PROBES)
    cos = (
        dot_int(F.col("a.iv"), F.col("b.iv")).cast("double") / F.lit(SCALE)
    ) / (F.col("a.nrm") * F.col("b.nrm"))
    # SHUFFLE_HASH hint on the probe side (the batch-rescore finding): the
    # unhinted cell-equi candidate join is SortMergeJoin and sorts the
    # whole corpus side; the hint hash-builds the small probe sample per
    # partition and streams the corpus. On this key the hint alone is a
    # noise-bound tie against SMJ (pooled trimmed A/Bs at sf0.1: 2.28 vs
    # 2.62 s, then 4.87 vs 3.72 s); kept for the sibling key's win on the
    # identical shape and the avoided corpus sort.
    cand = materialize(
        probes.alias("a")
        .hint("shuffle_hash")
        .join(
            corpus.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.col("a.crk").alias("crk"),
            cos.alias("cos"),
        )
    )
    cand_np = cand.select(
        "*",
        F.explode(
            F.array(*[F.lit(p) for p in _SWEEP_NPROBES])
        ).alias("np"),
    ).filter(F.col("crk") < F.col("np"))
    w_ann = Window.partitionBy("np", "probe_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    ann = (
        cand_np.withColumn("rk", F.row_number().over(w_ann))
        .filter(F.col("rk") <= _IVF_TOPK)
        .select("np", "probe_id", "neighbor_id")
    )
    probe0 = assigned.filter(
        (F.col("vec_id") < _IVF_PROBES) & (F.col("crk") == 0)
    ).select("vec_id", "iv", "nrm")
    w_exh = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    exh = (
        F.broadcast(probe0.alias("a"))
        .join(corpus.alias("b"), F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cos.alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w_exh))
        .filter(F.col("rk") <= _IVF_TOPK)
        .select("probe_id", "neighbor_id")
    )
    counts = cand_np.groupBy("np").agg(
        F.count(F.lit(1)).cast("long").alias("n_cand")
    )
    # exh and hits are BOUNDED by construction (≤ |probes|·topk resp.
    # |nprobes| rows — the probe set is a fixed-size sample), so both
    # join-backs broadcast instead of the former exchange+sort SMJ pair.
    hits = (
        ann.join(F.broadcast(exh), ["probe_id", "neighbor_id"])
        .groupBy("np")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    tot = probe0.agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
    return (
        counts.join(F.broadcast(hits), "np", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("np").cast("long").alias("nprobe"),
            "n_probes",
            "n_cand",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.expr(
                f"CAST(COALESCE(hits, 0) * 1000000"
                f" DIV GREATEST(n_probes * {_IVF_TOPK}, 1) AS BIGINT)"
            ).alias("recall_micro"),
        )
        .orderBy("nprobe")
    )


# ----------------------------------------- IVF cell-balance diagnostic (r9)
# The skew report for the IVF inverted lists: per-cell population (empty
# cells included — a dead cell is a tuning bug), corpus share, and the
# ratio to the uniform load, in micro-units. At 100 TB this table decides
# whether a hot cell needs salting before the candidate join.


def _ivf_balance_oracle() -> str:
    return f"""
WITH cb AS (
  SELECT * FROM (VALUES
    {_ivf_cb_values()}) AS t(cell, j, c)
),
iv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS iv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_VEC_DIM}
),
norms AS (
  SELECT * FROM (
    SELECT vec_id, iv,
           sqrt(CAST(list_sum(list_transform(generate_series(1, {_VEC_DIM}),
                i -> iv[i] * iv[i])) AS DOUBLE) / 100000000) AS nrm
    FROM iv
  ) WHERE nrm > 0
),
dist AS (
  SELECT n.vec_id, cb.cell,
         CAST(SUM((n.iv[cb.j + 1] - cb.c) * (n.iv[cb.j + 1] - cb.c)) AS BIGINT)
           AS d2
  FROM norms n CROSS JOIN cb
  GROUP BY n.vec_id, cb.cell
),
home AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS crk
    FROM dist
  ) WHERE crk = 1
),
pop AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM home GROUP BY cell),
cells AS (SELECT UNNEST(generate_series(0, {_IVF_K - 1})) AS cell),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM home)
SELECT CAST(c.cell AS BIGINT) AS cell,
       CAST(COALESCE(p.n, 0) AS BIGINT) AS n_vectors,
       CAST(COALESCE(p.n, 0) * 1000000 // GREATEST(t.total, 1) AS BIGINT)
         AS share_micro,
       CAST(COALESCE(p.n, 0) * {_IVF_K} * 1000000 // GREATEST(t.total, 1)
            AS BIGINT) AS load_vs_uniform_micro
FROM cells c LEFT JOIN pop p ON p.cell = c.cell CROSS JOIN tot t
ORDER BY cell
"""


@register("vec_ivf_cell_balance", oracle=_ivf_balance_oracle(), tier="T2")
def vec_ivf_cell_balance(spark, sf_dir):
    """Load-balance report for the frozen IVF index's inverted lists: one
    row per codebook cell (empty cells included) with its population,
    corpus share, and micro-unit ratio to the uniform load — 1e6 means a
    perfectly balanced cell, 16e6 means one cell holds the whole corpus.

    Determinism: exact int64 cell assignment (vec_ann_ivf_portable's
    recipe) and pure integer counting/division.

    Scale: the assignment pass is map-only; the per-cell count is one
    partial+final aggregate on a 16-value key; the codebook-range left
    join keeps dead cells visible (a dead cell at 100 TB means the
    quantizer no longer matches the corpus — re-freeze). This is the
    table that decides whether a hot inverted list needs salting before
    the candidate join.
    """
    from ..ops.vectors import SCALE  # noqa: F401  (documents the unit system)

    e = load(spark, sf_dir, "embeddings")
    home = _ivf_assign(e, 1).filter(F.col("crk") == 0).select("vec_id", "cell")
    pop = home.groupBy("cell").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = home.agg(F.count(F.lit(1)).cast("long").alias("total"))
    cells = spark.range(_IVF_K).select(F.col("id").cast("int").alias("cell"))
    return (
        cells.join(pop, "cell", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_vectors"),
            F.expr(
                "CAST(COALESCE(n, 0) * 1000000 DIV GREATEST(total, 1)"
                " AS BIGINT)"
            ).alias("share_micro"),
            F.expr(
                f"CAST(COALESCE(n, 0) * {_IVF_K} * 1000000"
                " DIV GREATEST(total, 1) AS BIGINT)"
            ).alias("load_vs_uniform_micro"),
        )
        .orderBy("cell")
    )


# ------------------------------------------ PQ distortion report (round 9)
# The re-train signal for the PQ codebooks: per-subspace reconstruction
# error at the chosen code. A subspace whose mean distortion runs hot is
# the one whose codebook no longer fits the corpus — re-freeze it (or give
# it more centroids) before recall quietly degrades. Companion to
# vec_ivf_cell_balance on the compression half of the IVF+PQ index.


def _pq_distortion_oracle() -> str:
    return f"""
WITH {_pq_qdist_sql()},
best AS (
  SELECT vec_id, s, cid, d2,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
  FROM dist
),
per AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(d2) AS BIGINT) AS sd,
         CAST(MAX(d2) AS BIGINT) AS mx
  FROM best WHERE rk = 1 GROUP BY s
),
tot AS (SELECT CAST(SUM(sd) AS BIGINT) AS t FROM per)
SELECT CAST(p.s AS BIGINT) AS subspace,
       p.n AS n_vectors,
       p.sd AS sum_d2,
       CAST(p.sd // GREATEST(p.n, 1) AS BIGINT) AS mean_d2,
       p.mx AS max_d2,
       CAST((p.sd // 1000) * 1000000 // GREATEST(t.t // 1000, 1) AS BIGINT)
         AS share_micro
FROM per p CROSS JOIN tot t ORDER BY subspace
"""


@register("vec_pq_distortion", oracle=_pq_distortion_oracle(), tier="T2")
def vec_pq_distortion(spark, sf_dir):
    """Per-subspace PQ reconstruction-error report: for each of the 16
    frozen codebooks, the vector count, total/mean/max squared distortion
    at the chosen code (exact int64 units²), and each subspace's share of
    total distortion in micro-units — the table that says WHICH codebook
    to re-train when recall drifts.

    Determinism: vec_pq_encode's exact integer assignment (argmin
    first-occurrence == ORDER BY d2, cid); the share divide pre-scales
    both operands by 1000 in BOTH engines so sums stay int64 at any
    corpus size.

    Scale: the mapInPandas pass emits 16 PARTIAL rows per Arrow batch
    (n/sum/max per subspace), not per-vector rows — the map-side-combine
    shape — so the exchange carries 16 x n_batches rows regardless of
    corpus size; the final aggregate and the 1-row total crossjoin are
    constant-sized.
    """
    import numpy as np
    import pandas as pd

    from .pq_frozen import PQ_BOOKS

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    assign = _pq_codes_batches()
    books = [[list(c) for c in book] for book in PQ_BOOKS]

    def partials(it):
        for pdf in it:
            r = assign(pdf)
            if r is None:
                continue
            pdf, q, codes, _ = r
            C = np.asarray(books, dtype=np.int64)  # (16, 64, 4)
            diff = q - np.take_along_axis(
                C[None, :, :, :],
                codes[:, :, None, None].astype(np.int64),
                axis=2,
            )[:, :, 0, :]
            d2 = (diff * diff).sum(axis=2)  # (n, 16) exact int64
            yield pd.DataFrame(
                {
                    "s": np.arange(_PQ_N_SUB, dtype=np.int32),
                    "n": np.full(_PQ_N_SUB, d2.shape[0], dtype=np.int64),
                    "sd": d2.sum(axis=0),
                    "mx": d2.max(axis=0),
                }
            )

    per = (
        fan_out(e).mapInPandas(partials, "s int, n long, sd long, mx long")
        .groupBy("s")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sd").cast("long").alias("sd"),
            F.max("mx").cast("long").alias("mx"),
        )
    )
    tot = per.agg(F.sum("sd").cast("long").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("s").cast("long").alias("subspace"),
            F.col("n").alias("n_vectors"),
            F.col("sd").alias("sum_d2"),
            F.expr("CAST(sd DIV GREATEST(n, 1) AS BIGINT)").alias("mean_d2"),
            F.col("mx").alias("max_d2"),
            F.expr(
                "CAST((sd DIV 1000) * 1000000 DIV GREATEST(t DIV 1000, 1)"
                " AS BIGINT)"
            ).alias("share_micro"),
        )
        .orderBy("subspace")
    )


# --- IVF batch rescore with conditional hot-cell salting (round 10) ----------
# The skew table in SCALE.md (round-10 ANN row) found the fixed-10-probe
# serving shape immune to a hot inverted list and named the real trigger:
# PROBE VOLUME — when the probe side is itself a table scan (batch
# re-scoring after a model refresh), one hot cell's probe x candidate
# partition dominates the stage. This key is that batch shape, with the
# mitigation built in: cells whose population exceeds 10% of the corpus
# (the vec_ivf_cell_balance decision) are salted — corpus rows replicated
# once per salt, each probe routed to exactly one salt — which fans the hot
# cell's join key into _BR_SALT reduce tasks WITHOUT changing a single
# output row. The DuckDB oracle is the UNSALTED logical query, so the hash
# check proves the salting is result-invariant.
_BR_NPROBE = 4
_BR_TOPK = 3
_BR_MOD = 20  # probe side: every 20th vector (a 5% batch, not 10 fixed ids)
_BR_SALT = 4


@register(
    "vec_ann_ivf_batch_rescore",
    oracle=_ivf_topk_oracle(
        _BR_NPROBE, _BR_TOPK, f"vec_id % {_BR_MOD} = 0"
    ),
    tier="T2",
)
def vec_ann_ivf_batch_rescore(spark, sf_dir):
    """Batch ANN re-scoring over the frozen IVF index: every _BR_MOD-th
    vector is a probe (a table-scan probe side — the shape of re-scoring
    a candidate pool after a model refresh), routed to its _BR_NPROBE
    nearest frozen cells, reranked by exact integer cosine, top-_BR_TOPK
    kept. Differs from vec_ann_ivf_portable (fixed 10-probe serving) in
    the one way that changes the scale plan: with O(corpus) probes, a hot
    inverted list concentrates probe x candidate work on ONE cell key,
    so the candidate join is CONDITIONALLY SALTED — cells holding > 10%
    of the corpus (the vec_ivf_cell_balance threshold; the ≤16-row
    population table is a broadcast) get corpus rows replicated once per
    salt in [0, _BR_SALT) while each probe computes exactly one salt
    (vec_id mod ns), fanning the hot key into _BR_SALT reduce tasks.

    Correctness of the salting is PROVEN by the oracle, not argued: the
    DuckDB twin is the plain unsalted logical query, and every probe
    meets every candidate exactly once under the salt algebra (probe
    picks one replica; the corpus row exists once per salt value), so
    the hash must match bit-for-bit — salting that changed any row would
    fail the gate. The sf fixtures are near-uniform (no cell over 10%,
    ns = 1 everywhere), so the salted branch is driven by a dedicated
    planted-hot-cell corpus in tests/test_ivf_batch_rescore_salting.py,
    which asserts ns = _BR_SALT actually fires there AND the salted
    output still hash-matches the unsalted DuckDB oracle.

    Scale note: assignment is the shared map-only Arrow pass
    (_ivf_assign, materialized once); the population table is one
    16-row aggregate; the join shuffles on (cell, salt) — hot cells get
    _BR_SALT-way parallelism at the cost of replicating ONLY their
    corpus rows. Raise _BR_SALT toward the executor count when one cell
    dominates a production corpus.
    """
    from ..ops.vectors import SCALE, dot_int

    e = load(spark, sf_dir, "embeddings")
    assigned = _ivf_assign(e, _BR_NPROBE)
    corpus = assigned.filter(F.col("crk") == 0).select(
        "vec_id", "iv", "nrm", "cell"
    )
    pops = corpus.groupBy("cell").agg(F.count(F.lit(1)).alias("pop"))
    tot = corpus.agg(F.count(F.lit(1)).alias("tot"))
    salt_map = pops.crossJoin(F.broadcast(tot)).select(
        "cell",
        F.when(F.col("pop") * 10 > F.col("tot"), F.lit(_BR_SALT))
        .otherwise(F.lit(1))
        .alias("ns"),
    )
    corpus_s = (
        corpus.join(F.broadcast(salt_map), "cell")
        .withColumn("salt", F.explode(F.expr("sequence(0, ns - 1)")))
        .drop("ns")
    )
    probes_s = (
        assigned.filter(F.col("vec_id") % _BR_MOD == 0)
        .select("vec_id", "iv", "nrm", "cell")
        .join(F.broadcast(salt_map), "cell")
        .withColumn("salt", F.pmod(F.col("vec_id"), F.col("ns")).cast("int"))
        .drop("ns")
    )
    cos = (
        dot_int(F.col("a.iv"), F.col("b.iv")).cast("double") / F.lit(SCALE)
    ) / (F.col("a.nrm") * F.col("b.nrm"))
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    # SHUFFLE_HASH hint on the probe side: unhinted, the candidate join is
    # SortMergeJoin and both sides pay a (cell, salt) sort — the corpus
    # side is the whole vector table. The hint builds per-partition hash
    # tables of the SMALL side (probes are a 1-in-_BR_MOD sample, ~|V|/32
    # rows per task) and streams the corpus unsorted; partitioning and the
    # salt algebra are untouched. Interleaved A/B at sf0.1 against SMJ,
    # 3/3 wins: 3.68 vs 10.53, 3.43 vs 4.73, 2.25 vs 2.47 s.
    return (
        probes_s.alias("a")
        .hint("shuffle_hash")
        .join(
            corpus_s.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cos.alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _BR_TOPK)
        .select(
            "probe_id",
            "neighbor_id",
            (F.floor(F.col("cos") * 10000 + F.lit(0.5)) / 10000).alias("cosine"),
            "rk",
        )
    )
