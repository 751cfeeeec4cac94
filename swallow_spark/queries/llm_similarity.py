"""§2.K — similarity search over `embeddings` + the multimodal join.

Cosine is computed from exact integer dot products so Spark and DuckDB
produce bit-identical doubles. Pairwise keys use the PRE-QUANTIZED path
(ops.vectors.int_units: floor per element, once per vector) so the per-pair
work is a pure long multiply-add loop; norms are precomputed per vector and
joined, never recomputed per pair.

Scale notes: brute-force top-k is the oracle-checkable baseline; the scale
paths are (a) label/attribute blocking (sim_pairs_threshold) and (b) LSH
bucketing (ann_lsh_bucketed, rows-only) — both plain DataFrame ops, so the
candidate set stays sub-quadratic on a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conform import rnd, sql_rnd
from ..io import load
from ..ops.vectors import (
    SCALE,
    dot_int,
    int_units,
    l2_norm,
    sql_dot_int,
    sql_int_units,
    sql_l2_norm,
)
from ..ops.materialize import materialize
from ..ops.parallel import fan_out
from ..registry import register

_N_PROBES = 10
_K = 5

# sim_pairs_threshold banding: target rows per sub-band, and the on-disk size
# gate under which the label histogram is probed driver-side via pyarrow
# instead of a Spark count job (VERDICT r7 item 3 — the job's ~0.3 s fixed
# cost dominated the whole query at fixture scale).
_BAND_TARGET = 1024
_PROBE_MAX_BYTES = 128 * 1024 * 1024


def _label_histogram(sf_dir):
    """Driver-side label histogram of the embeddings table, or None.

    Reads ONLY the label column via pyarrow, and only when the table's total
    on-disk size is under the probe gate — a pure driver-side metadata stat,
    no Spark job. Above the gate (real-cluster scale) returns None and the
    caller falls back to the distributed count+broadcast plan, whose fixed
    cost amortizes there. Any read error also returns None (the distributed
    path is the safe default)."""
    from ..io import table_bytes, table_files

    size = table_bytes(sf_dir, "embeddings")
    if size is None or size > _PROBE_MAX_BYTES:
        return None
    try:
        files = table_files(sf_dir, "embeddings")
        import collections

        import pyarrow.parquet as pq

        hist: collections.Counter = collections.Counter()
        for f in files:
            hist.update(
                pq.ParquetFile(f).read(columns=["label"]).column("label").to_pylist()
            )
        hist.pop(None, None)  # NULL labels never pair (equi-join semantics)
        return hist
    except Exception:
        # Broad by contract: a corrupt/truncated footer raises pyarrow
        # ArrowInvalid, a missing pyarrow raises ImportError — every probe
        # failure must fall back to the distributed count path, never fail
        # the query.
        return None

# quantize once per vector; norms from the same integer units. Zero-norm
# vectors are EXCLUDED (cosine is undefined for them): without the guard a
# drifted all-zero embedding is an ANSI DIVIDE_BY_ZERO on the Spark side
# and a NaN on the DuckDB side — and the engines then disagree on NaN
# comparisons (tests/test_zero_vector_parity.py).
_NORMS_SQL = f"""
iv AS (
  SELECT vec_id, label, {sql_int_units('embedding')} AS iv
  FROM embeddings
),
norms AS (
  SELECT * FROM (
    SELECT vec_id, label, iv,
           sqrt(CAST({sql_dot_int('iv', 'iv')} AS DOUBLE) / {SCALE}) AS nrm
    FROM iv
  ) WHERE nrm > 0
)
"""

_COS_SQL = (
    f"(CAST({sql_dot_int('a.iv', 'b.iv')} AS DOUBLE) / {SCALE}) / (a.nrm * b.nrm)"
)


def _norms(spark, sf_dir):
    # fan_out (round-11, guide §2.5): quantization + norms + the downstream
    # broadcast-probe dot products are higher-order-function expressions
    # (CodegenFallback — interpreted per row), and the bench scan is one
    # split, so without the repartition every _norms consumer computed them
    # on a single core. No-op on a multi-split cluster scan.
    e = fan_out(load(spark, sf_dir, "embeddings"))
    withiv = e.select("vec_id", "label", int_units(F.col("embedding")).alias("iv"))
    nrm = F.sqrt(dot_int(F.col("iv"), F.col("iv")).cast("double") / F.lit(SCALE))
    return withiv.withColumn("nrm", nrm).filter(F.col("nrm") > 0)


def _pair_cos():
    d = dot_int(F.col("a.iv"), F.col("b.iv"))
    return (d.cast("double") / F.lit(SCALE)) / (F.col("a.nrm") * F.col("b.nrm"))


@register(
    "sim_cosine_topk",
    oracle=f"""
WITH {_NORMS_SQL}
SELECT probe_id, neighbor_id, {sql_rnd('cos', 4)} AS cosine, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, {_COS_SQL} AS cos,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {_COS_SQL} DESC, b.vec_id) AS rk
  FROM norms a JOIN norms b ON b.vec_id != a.vec_id
  WHERE a.vec_id < {_N_PROBES}
)
WHERE rk <= {_K}
""",
    tier="T2",
)
def sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for the 10 lowest probe vectors
    (ANN baseline; ties broken by vec_id)."""
    n = _norms(spark, sf_dir)
    probes = n.filter(F.col("vec_id") < _N_PROBES).alias("a")
    corpus = n.alias("b")
    cos = _pair_cos()
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        F.broadcast(probes)
        .join(corpus, F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cos.alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _K)
        .select("probe_id", "neighbor_id", rnd(F.col("cos"), 4).alias("cosine"), "rk")
    )


# 64 sign bits per vector, packed as two BIGINT halves (bit 63 of a single
# BIGINT would overflow the signed shift in both engines). Sign is taken on
# the QUANTIZED units (iv[i] > 0), which are bit-identical across engines —
# raw float sign would diverge for |x| < 0.5e-4.
def _sql_sign_half(lo: int) -> str:
    return (
        "COALESCE(CAST(list_sum(list_transform("
        f"generate_series({lo + 1}, least(len(iv), {lo + 32})), "
        f"i -> CASE WHEN iv[i] > 0 THEN (CAST(1 AS BIGINT) << (i - {lo + 1})) "
        "ELSE CAST(0 AS BIGINT) END)) AS BIGINT), 0)"
    )


_N_CAND = 64
_SIGN_HAM_SQL = (
    "CAST(bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) AS BIGINT)"
)


@register(
    "vec_sign_topk",
    oracle=f"""
WITH {_NORMS_SQL},
sig AS (
  SELECT vec_id, iv, nrm, {_sql_sign_half(0)} AS h1, {_sql_sign_half(32)} AS h2
  FROM norms
),
cand AS (
  SELECT * FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           a.iv AS aiv, a.nrm AS anrm, b.iv AS biv, b.nrm AS bnrm,
           {_SIGN_HAM_SQL} AS hamming,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_SIGN_HAM_SQL}, b.vec_id) AS hrk
    FROM sig a JOIN sig b ON b.vec_id != a.vec_id
    WHERE a.vec_id < {_N_PROBES}
  ) WHERE hrk <= {_N_CAND}
),
rer AS (
  SELECT probe_id, neighbor_id, hamming,
         (CAST({sql_dot_int('aiv', 'biv')} AS DOUBLE) / {SCALE}) / (anrm * bnrm) AS cos
  FROM cand
)
SELECT probe_id, neighbor_id, hamming, {sql_rnd('cos', 4)} AS cosine,
       CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM rer)
WHERE rk <= {_K}
""",
    tier="T2",
)
def vec_sign_topk(spark, sf_dir):
    """Binary (sign-bit) quantized ANN with exact rerank — the modern
    128-bit-per-vector compression path: each embedding collapses to 64
    sign bits packed in two longs; candidate generation per probe is pure
    xor+bit_count Hamming ranking (top-64 candidates, ties by vec_id), and
    only those candidates pay the exact integer-dot cosine, reranked to
    top-5. Fully deterministic (quantized-sign bits + id tie-breaks), so
    unlike LSH/IVF this ANN key is ORACLE-CHECKED, not rows-only.
    Measured recall vs sim_cosine_topk on the near-random fixture
    vectors: 0.86 at sf0.001, 0.72 at sf0.01 — honest for 1-bit
    quantization of unstructured 64-dim embeddings; real embedding
    distributions (anisotropic, clustered) rank substantially better.

    Scale notes: the sign signature is a map-only projection (16 bytes/
    vector instead of 512); Hamming ranking is JVM bit arithmetic inside
    the broadcast probe scan — at 100 TB the corpus streams once past the
    10 broadcast probes, and the exact rerank touches only
    probes × 64 survivors."""

    def _half(lo):
        return F.aggregate(
            F.expr(
                f"transform(iv, (v, i) -> CASE WHEN i >= {lo} AND i < {lo + 32} "
                f"AND v > 0 THEN shiftleft(cast(1 as bigint), i - {lo}) "
                "ELSE cast(0 as bigint) END)"
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    n = _norms(spark, sf_dir)
    sig = n.select(
        "vec_id", "iv", "nrm", _half(0).alias("h1"), _half(32).alias("h2")
    )
    probes = sig.filter(F.col("vec_id") < _N_PROBES).alias("a")
    corpus = sig.alias("b")
    ham = (
        F.bit_count(F.col("a.h1").bitwiseXOR(F.col("b.h1")))
        + F.bit_count(F.col("a.h2").bitwiseXOR(F.col("b.h2")))
    ).cast("long")
    wh = Window.partitionBy("probe_id").orderBy("hamming", "neighbor_id")
    cand = (
        F.broadcast(probes)
        .join(corpus, F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.col("a.iv").alias("aiv"),
            F.col("a.nrm").alias("anrm"),
            F.col("b.iv").alias("biv"),
            F.col("b.nrm").alias("bnrm"),
            ham.alias("hamming"),
        )
        .withColumn("hrk", F.row_number().over(wh))
        .filter(F.col("hrk") <= _N_CAND)
    )
    cos = (dot_int(F.col("aiv"), F.col("biv")).cast("double") / F.lit(SCALE)) / (
        F.col("anrm") * F.col("bnrm")
    )
    wc = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        cand.withColumn("cos", cos)
        .withColumn("rk", F.row_number().over(wc).cast("long"))
        .filter(F.col("rk") <= _K)
        .select(
            "probe_id", "neighbor_id", "hamming",
            rnd(F.col("cos"), 4).alias("cosine"), "rk",
        )
    )


@register(
    "sim_knn_join_label",
    oracle=f"""
WITH {_NORMS_SQL},
nn AS (
  SELECT probe_id, neighbor_label FROM (
    SELECT a.vec_id AS probe_id, b.label AS neighbor_label,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_COS_SQL} DESC, b.vec_id) AS rk
    FROM norms a JOIN norms b ON b.vec_id != a.vec_id
    WHERE a.vec_id < {_N_PROBES}
  ) WHERE rk <= {_K}
)
SELECT probe_id, neighbor_label AS predicted_label, CAST(votes AS BIGINT) AS votes
FROM (
  SELECT probe_id, neighbor_label, COUNT(*) AS votes,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY COUNT(*) DESC, neighbor_label) AS vrk
  FROM nn GROUP BY probe_id, neighbor_label
)
WHERE vrk = 1
""",
    tier="T2",
)
def sim_knn_join_label(spark, sf_dir):
    """kNN classification: majority label among the 5 nearest neighbors
    (tie-break: most votes, then lowest label)."""
    n = _norms(spark, sf_dir)
    probes = n.filter(F.col("vec_id") < _N_PROBES).alias("a")
    corpus = n.alias("b")
    cos = _pair_cos()
    wk = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    nn = (
        F.broadcast(probes)
        .join(corpus, F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.col("b.label").alias("neighbor_label"),
            cos.alias("cos"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _K)
    )
    wv = Window.partitionBy("probe_id").orderBy(F.col("votes").desc(), "neighbor_label")
    return (
        nn.groupBy("probe_id", "neighbor_label")
        .agg(F.count(F.lit(1)).alias("votes"))
        .withColumn("vrk", F.row_number().over(wv))
        .filter(F.col("vrk") == 1)
        .select(
            "probe_id", F.col("neighbor_label").alias("predicted_label"), "votes"
        )
    )


@register(
    "sim_pairs_threshold",
    oracle=f"""
WITH {_NORMS_SQL}
SELECT a.vec_id AS v1, b.vec_id AS v2, a.label AS label,
       {sql_rnd(_COS_SQL, 4)} AS cosine
FROM norms a JOIN norms b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_COS_SQL} >= 0.35
""",
    tier="T2",
)
def sim_pairs_threshold(spark, sf_dir):
    """Blocked similarity join: all same-label pairs with cosine ≥ 0.35
    (embedding-cosine near-dup detection; label is the blocking key).

    Implementation: banded applyInPandas with an exact int64 Gram matmul
    (numpy) — the vectorized-Pandas-UDF path for dense vector math. Every
    arithmetic step mirrors the SQL oracle bit-for-bit: quantize
    floor(x*1e4+0.5) per element (IEEE double ops on the same float32
    input), integer dot in 1e-8 units (int64 matmul, exact — 64 dims ×
    1e8-unit terms ≈ 6.4e9 « 2^63), cosine = (dot/1e8)/(nrm_i*nrm_j) in
    the oracle's operation order, half-up 4dp round. ~10× faster than the
    interpreted zip_with/aggregate pair loop it replaces (BLAS batch vs
    per-pair array allocation).

    HOT-LABEL MITIGATION (round 7, measured by tools/skew_stress.py): with
    one label blocking 20% of 20k vectors, the single-task quadratic block
    ran 3.9× slower than the uniform control. Each label is now ADAPTIVELY
    banded into nb = ceil(n_label/_BAND_TARGET) sub-bands on pmod(xxhash64(vec_id),
    nb), and each vector replicates to every band-pair containing its band
    — the work unit becomes (label, band_i, band_j): the diagonal task
    emits within-band pairs, off-diagonal tasks emit the bipartite cross
    pairs, so every same-label pair is produced exactly once and the
    unchanged all-pairs oracle pins the rewrite. Uniform labels get nb = 1
    (a single task, zero overhead vs the unbanded shape); a hot label's
    quadratic cost spreads over nb(nb+1)/2 bounded tasks.

    BANDING-PROBE AMORTIZATION (round 8, VERDICT r7 item 3): the r7 shape
    paid an unconditional Spark label-count job (~0.3 s fixed) even on the
    uniform fixture, regressing the sf0.1 bench 0.32→0.73 s. The label
    histogram now comes from a DRIVER-SIDE pyarrow column read whenever the
    table is small enough that the read is cheaper than any Spark job
    (< 128 MB on disk — fixture and skew-stress scale; milliseconds, no
    job). If every label fits one band, the plan
    short-circuits to the unbanded single-shuffle shape (constant band
    columns, zero extra jobs); if the histogram shows skew, the per-label
    nb map is built locally and broadcast — still no count job. Only above
    the size gate (real-cluster scale, where one aggregate amortizes over
    minutes of matmul work) does the Spark count+broadcast path run.

    Scale note: the shuffle key is (label, band-pair); replication factor
    is nb per hot label only — the manual analogue of AQE skew-splitting,
    which cannot split a grouped-UDF aggregate.
    """
    import numpy as np
    import pandas as pd

    from ..ops.vectors import ESCALE

    e = load(spark, sf_dir, "embeddings")
    hist = _label_histogram(sf_dir)
    uniform = hist is not None and max(hist.values(), default=0) <= _BAND_TARGET
    if uniform:
        cnt = None  # short-circuit below: plain per-label grouping, no counts
    elif hist is not None:
        nb_pdf = pd.DataFrame(
            {
                "label": list(hist.keys()),
                "n_lbl": [int(v) for v in hist.values()],
            }
        )
        nb_pdf["label"] = nb_pdf["label"].astype("int64")
        cnt = spark.createDataFrame(nb_pdf)
    else:
        cnt = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_lbl"))
    banded = None if uniform else (
        e.join(F.broadcast(cnt), "label")
        .withColumn(
            "nb",
            F.greatest(
                F.lit(1), F.ceil(F.col("n_lbl") / F.lit(_BAND_TARGET)).cast("int")
            ),
        )
        .withColumn(
            "b", F.pmod(F.xxhash64("vec_id"), F.col("nb")).cast("int")
        )
        .select(
            "label",
            "vec_id",
            "embedding",
            "b",
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(0, nb - 1), "
                    "x -> struct(least(b, x) AS bi, greatest(b, x) AS bj)))"
                )
            ).alias("bp"),
        )
        .select(
            "label", "vec_id", "embedding", "b",
            F.col("bp.bi").alias("bi"), F.col("bp.bj").alias("bj"),
        )
    )

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {"v1": pd.array([], dtype="int64"), "v2": pd.array([], dtype="int64"),
             "label": pd.array([], dtype="int32"), "cosine": pd.array([], dtype="float64")}
        )

    def _quantize(pdf: pd.DataFrame):
        # NULL embeddings drop (the oracle's nrm-NULL rows fail nrm > 0);
        # ragged dims zero-pad to the batch max — zero padding reproduces
        # the oracle's prefix-dot semantics exactly (out-of-range list
        # elements are NULL and list_sum skips them) without changing any
        # vector's own norm (drift probe: np.stack crashed on None/ragged)
        vecs = [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
        m = max(x.size for x in vecs)
        v = np.zeros((len(vecs), m))
        for r, x in enumerate(vecs):
            v[r, : x.size] = x
        return np.floor(v * ESCALE + 0.5).astype(np.int64)

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["embedding"].notna()]
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        if len(pdf) < 2:
            return _empty()
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        if bi == bj:
            iv = _quantize(pdf)
            gram = iv @ iv.T
            nrm = np.sqrt(gram.diagonal().astype(np.float64) / SCALE)
            cos = (gram.astype(np.float64) / SCALE) / np.outer(
                np.where(nrm > 0, nrm, np.nan), np.where(nrm > 0, nrm, np.nan)
            )
            i, j = np.triu_indices(len(pdf), k=1)  # vec_id-sorted → v1 < v2
            keep = cos[i, j] >= 0.35  # NaN (zero-norm member) compares False
            i, j = i[keep], j[keep]
            ids = pdf["vec_id"].to_numpy()
            return pd.DataFrame(
                {
                    "v1": ids[i],
                    "v2": ids[j],
                    "label": pdf["label"].to_numpy()[i],
                    "cosine": np.floor(cos[i, j] * 10000 + 0.5) / 10000,
                }
            )
        # off-diagonal band pair: bipartite cross pairs only — within-band
        # pairs belong to the diagonal tasks, so each pair emits exactly once
        a = pdf[pdf["b"] == bi].reset_index(drop=True)
        c = pdf[pdf["b"] == bj].reset_index(drop=True)
        if not len(a) or not len(c):
            return _empty()
        # pad both sides to the SHARED max dim so the bipartite dot equals
        # the oracle's prefix-dot on the union batch
        vecs_a = [np.asarray(x, dtype=np.float64) for x in a["embedding"]]
        vecs_c = [np.asarray(x, dtype=np.float64) for x in c["embedding"]]
        m = max(x.size for x in vecs_a + vecs_c)
        va = np.zeros((len(vecs_a), m))
        for r, x in enumerate(vecs_a):
            va[r, : x.size] = x
        vc = np.zeros((len(vecs_c), m))
        for r, x in enumerate(vecs_c):
            vc[r, : x.size] = x
        ia = np.floor(va * ESCALE + 0.5).astype(np.int64)
        ic = np.floor(vc * ESCALE + 0.5).astype(np.int64)
        nrm_a = np.sqrt((ia * ia).sum(axis=1).astype(np.float64) / SCALE)
        nrm_c = np.sqrt((ic * ic).sum(axis=1).astype(np.float64) / SCALE)
        cos = ((ia @ ic.T).astype(np.float64) / SCALE) / np.outer(
            np.where(nrm_a > 0, nrm_a, np.nan),
            np.where(nrm_c > 0, nrm_c, np.nan),
        )
        i, j = np.nonzero(cos >= 0.35)
        ids_a = a["vec_id"].to_numpy()[i]
        ids_c = c["vec_id"].to_numpy()[j]
        v1 = np.minimum(ids_a, ids_c)
        v2 = np.maximum(ids_a, ids_c)
        return pd.DataFrame(
            {
                "v1": v1,
                "v2": v2,
                "label": a["label"].to_numpy()[i],
                "cosine": np.floor(cos[i, j] * 10000 + 0.5) / 10000,
            }
        )

    schema = "v1 long, v2 long, label int, cosine double"
    if uniform:
        # fixture-scale short-circuit: every label fits one band, so group by
        # label alone with constant band columns — `pairs` takes its diagonal
        # branch unchanged (same math, same oracle hash), one shuffle, zero
        # extra jobs, no band-pair explode.
        # NULL labels never pair under the oracle's equi-join (the banded
        # path drops them via its inner count join; match that here)
        plain = e.filter(F.col("label").isNotNull()).select(
            "label",
            "vec_id",
            "embedding",
            F.lit(0).alias("b"),
            F.lit(0).alias("bi"),
            F.lit(0).alias("bj"),
        )
        return plain.groupBy("label").applyInPandas(pairs, schema)
    return banded.groupBy("label", "bi", "bj").applyInPandas(pairs, schema)


@register(
    "multimodal_join",
    oracle=f"""
SELECT doc_id, lang, n_chars, label,
       {sql_rnd(sql_l2_norm('embedding'), 4)} AS l2_norm
FROM documents JOIN embeddings ON vec_id = doc_id
""",
    tier="T2",
)
def multimodal_join(spark, sf_dir):
    """Multimodal record assembly: text metadata ⋈ vector stats on
    doc_id = vec_id (flat columns for oracle schema parity; the struct-column
    variant is exercised in multimodal_pipeline, rows-only)."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "n_chars",
        "label",
        rnd(l2_norm(F.col("embedding")), 4).alias("l2_norm"),
    )


_LSH_TABLES = 6  # L independent hash tables
_LSH_BITS = 4  # b hyperplanes per table → 2^b buckets/table
_LSH_W_UNITS: list[list[int]] | None = None  # per-process cache of the constant 24×64 matrix


@register("ann_lsh_bucketed", oracle=None, tier="T3")
def ann_lsh_bucketed(spark, sf_dir):
    """ANN scale path: multi-table random-hyperplane LSH (6 tables × 4 bits),
    brute-force search within colliding buckets only, candidates unioned
    across tables (rows-only; exact twin = sim_cosine_topk).

    A single table's recall at cosine≈0.4 is ~0.16 per 4-bit agreement; six
    independent tables lift it to ~0.65, and PROBE-SIDE MULTI-PROBE (each
    probe also searches the four Hamming-1 buckets of its table) lifts the
    per-table hit rate to p⁴+4p³(1−p) ≈ 0.5 → overall recall ≈ 0.9 with NO
    extra cost on the corpus side — the fan-out lands only on the |probes|
    rows, which is the multi-probe selling point at 100 TB (measured on the
    fixtures in tests/test_conform_properties.py).
    Hyperplanes are deterministic pseudo-vectors from xxhash64(table, plane,
    dim) — fixed constants, not RNG state (§2.0 rule 8). Scale note:
    (table, bucket) is the shuffle key; each bucket is searched
    independently, so the candidate set stays sub-quadratic.
    """
    e = load(spark, sf_dir, "embeddings")

    # table t, plane p, dim i weight = xxhash64("t:p:i") % 1001 - 500, kept
    # in INTEGER units (denominator 500 is a positive constant, so the
    # plane-dot sign is identical to the real-valued formulation). The
    # 24×64 matrix is a CONSTANT: derived by one tiny Spark job (keeping
    # the exact xxhash64 family — no Python reimplementation) and cached
    # per-process. r6: the former spelling evaluated the 24 plane dots as
    # 24 literal-array zip_with/aggregate expressions — a codegen unit so
    # large that janino compile + interpreted fallback dominated the key
    # (measured 3.3 s of a 4.1 s warm run). One Arrow-batched numpy pass
    # computes q @ Wᵀ for all 24 planes exactly (int64 matmul — bucket
    # assignment is platform-exact, no float sign boundary), plus iv/nrm,
    # in the same batch: 4.1 s → ~1.3 s warm at sf0.1, recall unchanged.
    dim = 64
    global _LSH_W_UNITS
    if _LSH_W_UNITS is None:
        keys = [
            (t, p, i)
            for t in range(_LSH_TABLES)
            for p in range(_LSH_BITS)
            for i in range(dim)
        ]
        wdf = spark.createDataFrame(keys, "t int, p int, i int").select(
            "t", "p", "i",
            (
                F.pmod(
                    F.xxhash64(F.concat_ws(":", "t", "p", F.col("i").cast("string"))),
                    F.lit(1001),
                ) - 500
            ).alias("w"),
        )
        _LSH_W_UNITS = [
            [0] * dim for _ in range(_LSH_TABLES * _LSH_BITS)
        ]
        for r in wdf.collect():
            _LSH_W_UNITS[r.t * _LSH_BITS + r.p][r.i] = r.w
    w_units = _LSH_W_UNITS

    def signatures(batches):
        import numpy as np
        import pandas as pd

        W = np.asarray(w_units, dtype=np.int64)  # (24, 64)
        bit = np.asarray(
            [1 << p for _ in range(_LSH_TABLES) for p in range(_LSH_BITS)],
            dtype=np.int64,
        )
        seg = np.repeat(np.arange(_LSH_TABLES), _LSH_BITS)
        tables = np.arange(_LSH_TABLES, dtype=np.int32)
        for pdf in batches:
            keep = pdf["embedding"].map(lambda v: v is not None and len(v) == dim)
            pdf = pdf[keep]
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            q = np.floor(x * 10_000 + 0.5).astype(np.int64)  # == ops.vectors.int_units
            nrm = np.sqrt((q * q).sum(axis=1).astype(np.float64) / SCALE)
            pos = (q @ W.T) > 0  # exact int64 plane dots, (n, 24)
            bucket = np.zeros((len(pdf), _LSH_TABLES), dtype=np.int64)
            np.add.at(bucket.T, seg, (pos * bit).T)  # fold 4 bits per table
            ok = nrm > 0  # zero-norm excluded: cosine undefined (_NORMS_SQL note)
            n_ok = int(ok.sum())
            if not n_ok:
                continue
            q, nrm, bucket = q[ok], nrm[ok], bucket[ok]
            ids = pdf["vec_id"].to_numpy()[ok]
            # 1-D object array of per-row lists (a dtype=object asarray over
            # equal-length lists would silently build a 2-D array instead)
            ivobj = np.empty(n_ok, dtype=object)
            for i in range(n_ok):
                ivobj[i] = q[i].tolist()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, _LSH_TABLES),
                    "iv": np.repeat(ivobj, _LSH_TABLES),
                    "nrm": np.repeat(nrm, _LSH_TABLES),
                    "table": np.tile(tables, n_ok),
                    "bucket": bucket.reshape(-1),
                }
            )

    # Checkpoint: the signature table feeds BOTH join sides (probe +
    # corpus), which otherwise each recompute the signature pass.
    # fan_out (round-11, guide §2.5/§4): the bench scan is one split, so the
    # signature pass would run on a single Python worker; no-op at cluster
    # scale where the scan already yields >= cores splits.
    n = fan_out(e.select("vec_id", "embedding")).mapInPandas(
        signatures, schema="vec_id long, iv array<long>, nrm double, table int, bucket long"
    ).transform(materialize)
    cos = _pair_cos()
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    # multi-probe expansion: probes also visit the Hamming-1 buckets of
    # each table — probe-side-only fan-out (5 buckets/table on |probes|
    # rows), corpus side untouched
    probe = n.filter(F.col("vec_id") < _N_PROBES).select(
        "vec_id",
        "iv",
        "nrm",
        "table",
        F.explode(
            F.array(
                *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in (0, 1, 2, 4, 8)]
            )
        ).alias("bucket"),
    )
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
        .filter(F.col("rk") <= _K)
        .select("probe_id", "neighbor_id", rnd(F.col("cos"), 4).alias("cosine"), "rk")
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH {_NORMS_SQL},
dups AS (
  SELECT DISTINCT b.vec_id AS v
  FROM norms a JOIN norms b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {_COS_SQL} >= 0.35
)
SELECT vec_id, label FROM norms
WHERE vec_id NOT IN (SELECT v FROM dups)
""",
    tier="T2",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup REMOVAL (the dedup counterpart of
    sim_pairs_threshold): within each label block, a vector is dropped when
    any lower-id vector of the same label has cosine ≥ 0.35 with it — the
    greedy keep-first policy exact dedup uses, applied to semantic near-dups.

    Exactness: integer-unit dot products (ops.vectors) make the cosine
    bit-identical across engines, so the survivor set is deterministic and
    fully oracle-checked. Everything stays in JVM whole-stage codegen — the
    pair join is label-blocked (shuffle key = label), duplicates collapse via
    left_anti join, no Python.

    Scale note: label is the blocking key exactly as in sim_pairs_threshold;
    a hot label sub-blocks by salting one side. For unblocked corpora the
    candidate generator swaps to LSH buckets (ann_lsh_bucketed's shape) with
    the same anti-join tail. The anti-join's STATIC plan is a SortMergeJoin
    (the r11 hidden-sort audit flagged it), but AQE broadcast-converts it at
    runtime (the executed plan is BroadcastHashJoin LeftAnti over a local
    AQEShuffleRead) because the duplicate-id build side is small at runtime;
    a SHUFFLE_HASH hint that pins the static plan was measured an ~9%
    LOSS in interleaved A/B (median 0.903 vs 0.827 s) precisely because it
    BLOCKS that conversion — so the join is deliberately left unhinted and
    the audit entry is recorded as a static-plan false positive
    (OPTIMIZATION_r11.md §13).
    """
    n = _norms(spark, sf_dir)
    cos = _pair_cos()
    dups = (
        n.alias("a")
        .join(
            n.alias("b"),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= 0.35)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        n.join(dups, "vec_id", "left_anti")
        .select("vec_id", "label")
    )


_SEMCL_SQL = f"""
WITH RECURSIVE {_NORMS_SQL},
pr AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2
  FROM norms a JOIN norms b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {_COS_SQL} >= 0.35
),
adj AS (
  SELECT v1 AS src, v2 AS dst FROM pr
  UNION ALL
  SELECT v2 AS src, v1 AS dst FROM pr
),
reach(node, comp) AS (
  SELECT src, src FROM adj
  UNION
  SELECT a.src, r.comp FROM adj a JOIN reach r ON a.dst = r.node
)
SELECT node AS vec_id, MIN(comp) AS cluster_id,
       CAST(node = MIN(comp) AS INT) AS is_survivor
FROM reach GROUP BY node
"""


@register("dedup_semantic_clusters", oracle=_SEMCL_SQL, tier="T2")
def dedup_semantic_clusters(spark, sf_dir):
    """SEMANTIC dedup end-to-end: cosine-threshold pair graph (same-label
    blocking, cosine ≥ 0.35 — sim_pairs_threshold's edge set) → connected
    components by min-label propagation → survivor flag (cluster minimum
    keeps, the rest are semantic duplicates to drop). The embedding-space
    twin of dedup_connected_components' shingle-Jaccard clustering, and
    the last stage of the modern near-dup stack (exact → MinHash →
    embedding-cosine).

    Determinism: the edge set is oracle-exact (integer-unit cosine, one
    division, fixed rounding), and min-reachable-id is a unique integer
    fixed point regardless of iteration/partition order — so an ITERATIVE
    clustering is still hash-checked against DuckDB's recursive CTE.

    Scale note: propagation runs on the pair graph only (edges are the
    thresholded survivors of the blocked similarity join — orders of
    magnitude smaller than the corpus); each iteration is one small
    self-join with localCheckpoint truncating lineage, capped at graph
    diameter 50. The corpus is scanned once, inside the pair stage.
    """
    pairs = sim_pairs_threshold(spark, sf_dir).select("v1", "v2").transform(materialize)
    adj = pairs.select(F.col("v1").alias("src"), F.col("v2").alias("dst")).unionByName(
        pairs.select(F.col("v2").alias("src"), F.col("v1").alias("dst"))
    )
    nodes = adj.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("comp")).transform(materialize)
    for _ in range(50):
        neigh = adj.join(labels, adj.src == labels.node).select(
            F.col("dst").alias("node"), "comp"
        )
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .transform(materialize)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("vec_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("node") == F.col("comp")).cast("int").alias("is_survivor"),
    )


# --- matryoshka truncation evaluation: does the 16-dim prefix of the
# embedding preserve the full-64-dim top-k neighborhood?
_MAT_DIM = 16

_MAT_NORMS16_SQL = f"""
iv16 AS (
  SELECT vec_id, label, {sql_int_units(f'embedding[1:{_MAT_DIM}]')} AS iv
  FROM embeddings
),
norms16 AS (
  SELECT * FROM (
    SELECT vec_id, label, iv,
           sqrt(CAST({sql_dot_int('iv', 'iv')} AS DOUBLE) / {SCALE}) AS nrm
    FROM iv16
  ) WHERE nrm > 0
)
"""

_MAT_SQL = f"""
WITH {_NORMS_SQL},
{_MAT_NORMS16_SQL.strip().lstrip()},
full5 AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_COS_SQL} DESC, b.vec_id) AS rk
    FROM norms a JOIN norms b ON b.vec_id != a.vec_id
    WHERE a.vec_id < {_N_PROBES}
  ) WHERE rk <= {_K}
),
tr5 AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_COS_SQL} DESC, b.vec_id) AS rk
    FROM norms16 a JOIN norms16 b ON b.vec_id != a.vec_id
    WHERE a.vec_id < {_N_PROBES}
  ) WHERE rk <= {_K}
),
hit AS (
  SELECT f.probe_id, COUNT(*) AS n_overlap
  FROM full5 f JOIN tr5 t
    ON f.probe_id = t.probe_id AND f.neighbor_id = t.neighbor_id
  GROUP BY f.probe_id
)
SELECT p.probe_id,
       CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / {_K} AS recall_at_{_K}
FROM (SELECT DISTINCT probe_id FROM full5) p
LEFT JOIN hit h ON p.probe_id = h.probe_id
"""


@register("vec_matryoshka_recall", oracle=_MAT_SQL, tier="T2")
def vec_matryoshka_recall(spark, sf_dir):
    """Matryoshka truncation evaluation: per probe, the top-5 cosine
    neighborhood under the 16-dim embedding PREFIX versus under the full
    64 dims, reported as recall@5 — the measurement that decides whether
    a cheaper truncated index (MRL-style) can serve first-stage retrieval
    at 100 TB with the full vectors kept only for re-ranking.

    Determinism: both neighborhoods use the exact integer-unit cosine
    with total tie-breaks; recall is exact-count / 5 (x.0/x.2 doubles).

    Scale note: two broadcast-probe scans (the brute-force baseline shape
    of sim_cosine_topk); the truncated arm reads 4× fewer coordinates —
    at scale that arm becomes the IVF/LSH candidate generator and this
    key becomes its recall monitor.
    """
    full5 = sim_cosine_topk(spark, sf_dir).select("probe_id", "neighbor_id")
    e = load(spark, sf_dir, "embeddings")
    iv16 = e.select(
        "vec_id",
        int_units(F.slice(F.col("embedding"), 1, _MAT_DIM)).alias("iv"),
    )
    n16 = iv16.withColumn(
        "nrm", F.sqrt(dot_int(F.col("iv"), F.col("iv")).cast("double") / F.lit(SCALE))
    ).filter(F.col("nrm") > 0)
    probes = n16.filter(F.col("vec_id") < _N_PROBES).alias("a")
    corpus = n16.alias("b")
    wk = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    tr5 = (
        F.broadcast(probes)
        .join(corpus, F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            _pair_cos().alias("cos"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _K)
        .select("probe_id", "neighbor_id")
    )
    # both arms are |probes|·k-row top-k outputs (bounded by construction),
    # yet the planner sorted both for an SMJ — broadcast the truncated arm
    # and the hit join-back (r11 s6 audit, the recall_sweep class)
    hit = full5.join(F.broadcast(tr5), ["probe_id", "neighbor_id"]).groupBy(
        "probe_id"
    ).agg(F.count(F.lit(1)).alias("n_overlap"))
    return (
        full5.select("probe_id")
        .distinct()
        .join(F.broadcast(hit), "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double") / F.lit(_K)).alias(
                f"recall_at_{_K}"
            ),
        )
    )


# label-noise audit sample: the first _NOISE_PROBES vectors get a full kNN check
_NOISE_PROBES = 100
_NOISE_K = 5

_NOISE_SQL = f"""
WITH {_NORMS_SQL},
nn AS (
  SELECT probe_id, probe_label, neighbor_label FROM (
    SELECT a.vec_id AS probe_id, a.label AS probe_label,
           b.label AS neighbor_label,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_COS_SQL} DESC, b.vec_id) AS rk
    FROM norms a JOIN norms b ON b.vec_id != a.vec_id
    WHERE a.vec_id < {_NOISE_PROBES}
  ) WHERE rk <= {_NOISE_K}
)
SELECT probe_id AS vec_id, probe_label AS label,
       CAST(SUM(CASE WHEN neighbor_label != probe_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_disagree,
       CAST(SUM(CASE WHEN neighbor_label != probe_label THEN 1 ELSE 0 END)
            >= {_NOISE_K - 1} AS INT) AS suspect
FROM nn
GROUP BY probe_id, probe_label
"""


@register("vec_label_noise_knn", oracle=_NOISE_SQL, tier="T2")
def vec_label_noise_knn(spark, sf_dir):
    """Label-noise audit (confident-learning-lite): for each vector in the
    audit sample, how many of its 5 nearest cosine neighbors carry a
    DIFFERENT label; ≥4 disagreements flags a suspected mislabel — the
    data-quality screen run before labels feed a classifier or an RLHF
    reward model.

    Determinism: exact integer-unit cosine, total tie-breaks, integer
    disagreement counts.

    Scale note: the audit sample is a broadcast probe set against one
    corpus scan (sim_cosine_topk's shape); auditing a FULL 100 TB corpus
    swaps the brute-force arm for the IVF/LSH candidate generator
    (ann_ivf_kmeans / ann_lsh_bucketed) with this same disagreement
    aggregate on top.
    """
    n = _norms(spark, sf_dir)
    probes = n.filter(F.col("vec_id") < _NOISE_PROBES).alias("a")
    corpus = n.alias("b")
    wk = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    nn = (
        F.broadcast(probes)
        .join(corpus, F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("a.label").alias("probe_label"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.col("b.label").alias("neighbor_label"),
            _pair_cos().alias("cos"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _NOISE_K)
    )
    disagree = F.sum(
        F.when(F.col("neighbor_label") != F.col("probe_label"), 1).otherwise(0)
    )
    return nn.groupBy(
        F.col("probe_id").alias("vec_id"), F.col("probe_label").alias("label")
    ).agg(
        disagree.cast("long").alias("n_disagree"),
        (disagree >= _NOISE_K - 1).cast("int").alias("suspect"),
    )


_TRIPLET_SQL = f"""
WITH {_NORMS_SQL},
pairs AS (
  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
         b.vec_id AS other_id, (b.label = a.label) AS same,
         {_COS_SQL} AS cos
  FROM norms a JOIN norms b ON b.vec_id != a.vec_id
  WHERE a.vec_id < {_N_PROBES}
),
pos AS (
  SELECT anchor_id, other_id AS positive_id, cos AS pos_cos,
         row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, other_id) AS rk
  FROM pairs WHERE same
),
neg AS (
  SELECT anchor_id, other_id AS negative_id, cos AS neg_cos,
         row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, other_id) AS rk
  FROM pairs WHERE NOT same
)
SELECT p.anchor_id, p.positive_id, n.negative_id,
       {sql_rnd('p.pos_cos', 4)} AS pos_cos,
       {sql_rnd('n.neg_cos', 4)} AS neg_cos,
       {sql_rnd('p.pos_cos - n.neg_cos', 4)} AS margin
FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
WHERE p.rk = 1 AND n.rk = 1
"""


@register("vec_triplet_mining", oracle=_TRIPLET_SQL, tier="T2")
def vec_triplet_mining(spark, sf_dir):
    """Hard-triplet mining for metric-learning training data: for each
    anchor, its top SAME-label neighbor (the positive) and its top
    DIFFERENT-label neighbor (the hard negative), plus the margin between
    them — the triplets a contrastive/triplet-loss trainer feeds on.
    Deterministic: exact integer-dot cosine, id tie-breaks.

    Scale notes: anchors broadcast over one corpus scan (same shape as
    sim_cosine_topk); both arms are window top-1 per anchor, so nothing
    beyond |anchors| × corpus streams — at 100 TB with many anchors,
    swap the candidate generator to the LSH/IVF/sign-bucket paths and
    keep this exact top-1 as the rerank stage."""
    n = _norms(spark, sf_dir)
    anchors = n.filter(F.col("vec_id") < _N_PROBES).alias("a")
    corpus = n.alias("b")
    cos = _pair_cos()
    pairs = (
        F.broadcast(anchors)
        .join(corpus, F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("anchor_id"),
            F.col("b.vec_id").alias("other_id"),
            (F.col("b.label") == F.col("a.label")).alias("same"),
            cos.alias("cos"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("cos").desc(), "other_id")
    pos = (
        pairs.filter(F.col("same"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("anchor_id", F.col("other_id").alias("positive_id"), F.col("cos").alias("pos_cos"))
    )
    neg = (
        pairs.filter(~F.col("same"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("anchor_id", F.col("other_id").alias("negative_id"), F.col("cos").alias("neg_cos"))
    )
    # both arms are ≤|anchors|-row top-1 tables (bounded): broadcast the
    # negative arm instead of the planner's exchange+sort SMJ (r11 s6 audit)
    return pos.join(F.broadcast(neg), "anchor_id").select(
        "anchor_id",
        "positive_id",
        "negative_id",
        rnd(F.col("pos_cos"), 4).alias("pos_cos"),
        rnd(F.col("neg_cos"), 4).alias("neg_cos"),
        rnd(F.col("pos_cos") - F.col("neg_cos"), 4).alias("margin"),
    )


_MAXSIM_NQ = 8


@register(
    "vec_maxsim_late_interaction",
    oracle=f"""
WITH {_NORMS_SQL},
qmax AS (
  SELECT a.vec_id AS q, b.label,
         CAST(FLOOR(MAX({_COS_SQL}) * 1000000 + 0.5) AS BIGINT) AS max_u
  FROM norms a JOIN norms b
    ON b.vec_id >= {_MAXSIM_NQ}
  WHERE a.vec_id < {_MAXSIM_NQ}
  GROUP BY a.vec_id, b.label
),
score AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_q,
         CAST(SUM(max_u) AS BIGINT) AS maxsim_u
  FROM qmax GROUP BY label
)
SELECT CAST(label AS BIGINT) AS label, n_q, maxsim_u,
       FLOOR(CAST(maxsim_u AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000
         AS maxsim
FROM score
""",
    tier="T2",
)
def vec_maxsim_late_interaction(spark, sf_dir):
    """Late-interaction MaxSim scoring (the ColBERT retrieval operator):
    treat the first 8 vectors as a QUERY's token embeddings and each
    label group (minus the query rows) as a DOCUMENT's token embeddings;
    a document's score is Σ over query tokens of the MAX cosine against
    any of its tokens — the token-level relevance model that beats single-
    vector cosine on long documents, re-expressed as groupBy(MAX) + SUM
    instead of a per-pair kernel.

    Determinism: cosines come from the shared integer-unit dot machinery
    (exact int64 dots, one fixed IEEE chain); each (query-token, doc) MAX
    is over well-defined doubles, quantized to 1e-6 units BEFORE the
    cross-token SUM (the cross-dimension rule); final score is one
    division, half-up 4dp.

    Scale note: the 8 query tokens broadcast against the corpus (the
    sim_cosine_topk scan shape); the MAX partial-aggregates map-side on
    (q, label) so the shuffle carries one row per (query-token, document)
    — at 100 TB plug the ANN candidate generation (vec_sign_topk /
    ann_lsh_bucketed) in front to bound the scan per query token.
    """
    n = _norms(spark, sf_dir)
    probes = n.filter(F.col("vec_id") < _MAXSIM_NQ).alias("a")
    corpus = n.filter(F.col("vec_id") >= _MAXSIM_NQ).alias("b")
    cos = _pair_cos()
    qmax = (
        F.broadcast(probes)
        .join(corpus, F.lit(True))
        .select(
            F.col("a.vec_id").alias("q"),
            F.col("b.label").alias("label"),
            cos.alias("cos"),
        )
        .groupBy("q", "label")
        .agg(
            F.floor(F.max("cos") * 1000000 + F.lit(0.5)).cast("long").alias("max_u")
        )
    )
    return (
        qmax.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_q"),
            F.sum("max_u").cast("long").alias("maxsim_u"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            "n_q",
            "maxsim_u",
            (
                F.floor(F.col("maxsim_u").cast("double") / 1000000 * 10000 + F.lit(0.5))
                / 10000
            ).alias("maxsim"),
        )
    )


_SIL_NP = 20


@register(
    "vec_silhouette_sample",
    oracle=f"""
WITH {_NORMS_SQL},
pd AS (
  SELECT a.vec_id AS pid, a.label AS plabel, b.label AS olabel,
         CAST(FLOOR((CAST(1 AS DOUBLE) - {_COS_SQL}) * 1000000 + 0.5)
              AS BIGINT) AS dist_u
  FROM norms a JOIN norms b
    ON b.vec_id != a.vec_id AND len(b.iv) = len(a.iv)
  WHERE a.vec_id < {_SIL_NP}
),
cellmean AS (
  SELECT pid, plabel, olabel,
         CAST(SUM(dist_u) // COUNT(*) AS BIGINT) AS mean_u
  FROM pd GROUP BY pid, plabel, olabel
),
ab AS (
  SELECT pid, plabel,
         MAX(CASE WHEN olabel = plabel THEN mean_u END) AS a_u,
         MIN(CASE WHEN olabel != plabel THEN mean_u END) AS b_u
  FROM cellmean GROUP BY pid, plabel
)
SELECT CAST(pid AS BIGINT) AS probe_id, CAST(plabel AS BIGINT) AS label,
       a_u, b_u,
       FLOOR(CAST(b_u - a_u AS DOUBLE) / greatest(a_u, b_u) * 10000 + 0.5)
         / 10000 AS silhouette
FROM ab WHERE a_u IS NOT NULL AND b_u IS NOT NULL
""",
    tier="T2",
)
def vec_silhouette_sample(spark, sf_dir):
    """Silhouette coefficient on a 20-probe sample: for each probe, a =
    mean cosine distance to its OWN label's other members, b = the
    nearest other label's mean distance, s = (b−a)/max(a,b) — the
    label-quality / cluster-separation audit (s near 1: well-separated;
    s < 0: the probe sits closer to another cluster — a mislabel
    candidate, the per-point view that vec_label_noise_knn's vote
    aggregates). Sampling probes is the standard way to audit silhouette
    at scale — the full statistic is O(n²). Ragged-dimension vectors are
    excluded PAIRWISE (len equality in the join) — mixed-dim dots are
    undefined and the engines disagree on zip-padding semantics
    (vec_embedding_profile is the ragged-row detector).

    Determinism: pair distances quantize to 1e-6 int units BEFORE any
    mean (cross-row rule); per-(probe, label) means use exact integer
    floor division; a/b/s are fixed expressions over exact ints, half-up
    4dp. Scale note: the probe-broadcast scan is the sim_cosine_topk
    shape; per-probe cell means partial-aggregate map-side on
    (probe, label) — shuffle rows = probes × labels, not pairs.
    """
    n = _norms(spark, sf_dir)
    probes = n.filter(F.col("vec_id") < _SIL_NP).alias("a")
    corpus = n.alias("b")
    dist_u = F.floor(
        (F.lit(1).cast("double") - _pair_cos()) * 1000000 + F.lit(0.5)
    ).cast("long")
    pd_ = (
        F.broadcast(probes)
        .join(
            corpus,
            (F.col("b.vec_id") != F.col("a.vec_id"))
            & (F.size(F.col("b.iv")) == F.size(F.col("a.iv"))),
        )
        .select(
            F.col("a.vec_id").alias("pid"),
            F.col("a.label").alias("plabel"),
            F.col("b.label").alias("olabel"),
            dist_u.alias("dist_u"),
        )
    )
    cellmean = pd_.groupBy("pid", "plabel", "olabel").agg(
        F.floor(F.sum("dist_u") / F.count(F.lit(1))).cast("long").alias("mean_u")
    )
    ab = cellmean.groupBy("pid", "plabel").agg(
        F.max(F.when(F.col("olabel") == F.col("plabel"), F.col("mean_u"))).alias("a_u"),
        F.min(F.when(F.col("olabel") != F.col("plabel"), F.col("mean_u"))).alias("b_u"),
    )
    return (
        ab.filter(F.col("a_u").isNotNull() & F.col("b_u").isNotNull())
        .select(
            F.col("pid").cast("long").alias("probe_id"),
            F.col("plabel").cast("long").alias("label"),
            "a_u",
            "b_u",
            (
                F.floor(
                    (F.col("b_u") - F.col("a_u")).cast("double")
                    / F.greatest("a_u", "b_u")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("silhouette"),
        )
    )


# 1/log2(i+1) discount weights for ranks 1..5, pre-quantized to 1e-6 units
# as LITERALS (floor(1e6/log2(i+1))) so neither engine evaluates a log —
# the same no-libm discipline as sketch_log2_histogram.
_NDCG_W = [1000000, 630929, 500000, 430676, 386852]
_NDCG_W_SQL = "[" + ", ".join(str(w) for w in _NDCG_W) + "]"


@register(
    "vec_ndcg_eval",
    oracle=f"""
WITH {_NORMS_SQL},
ranked AS (
  SELECT * FROM (
    SELECT a.vec_id AS probe_id, a.label AS plabel, b.label AS nlabel,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_COS_SQL} DESC, b.vec_id) AS rk
    FROM norms a JOIN norms b
      ON b.vec_id != a.vec_id AND len(b.iv) = len(a.iv)
    WHERE a.vec_id < {_N_PROBES}
  ) WHERE rk <= 5
),
scored AS (
  SELECT probe_id,
         CAST(SUM(CASE WHEN nlabel = plabel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel,
         CAST(SUM(CASE WHEN nlabel = plabel
                       THEN {_NDCG_W_SQL}[CAST(rk AS INT)] ELSE 0 END)
              AS BIGINT) AS dcg_u
  FROM ranked GROUP BY probe_id
),
ideal AS (
  SELECT probe_id, n_rel, dcg_u,
         CAST(CASE WHEN n_rel > 0
              THEN list_sum(({_NDCG_W_SQL})[1:CAST(n_rel AS INT)]) ELSE 0 END
              AS BIGINT) AS idcg_u
  FROM scored
)
SELECT probe_id, n_rel, dcg_u, idcg_u,
       CASE WHEN idcg_u > 0
            THEN FLOOR(CAST(dcg_u AS DOUBLE) / idcg_u * 10000 + 0.5) / 10000
       END AS ndcg
FROM ideal
""",
    tier="T2",
)
def vec_ndcg_eval(spark, sf_dir):
    """NDCG@5 retrieval evaluation for the 10 probe vectors: the exact
    cosine top-5 ranking is scored against label-match relevance (rel=1
    when the neighbor shares the probe's label) with the standard
    1/log₂(i+1) position discount — the ranking-quality metric every
    retrieval/reranker change is gated on; per-probe rows keep the
    diagnosis (WHICH probes rank badly) attached to the score.

    Determinism: discount weights are PRE-QUANTIZED integer literals
    (floor(1e6/log₂(i+1)) — no libm log in either engine); DCG/IDCG are
    exact int64 sums; NDCG is one division, half-up 4dp; rankings use
    the (cos DESC, vec_id) total order and exclude ragged-dim pairs.
    Scale note: the probe-broadcast scan + WindowGroupLimit top-5 is the
    sim_cosine_topk shape; scoring is per-probe arithmetic on ≤5 rows.
    """
    n = _norms(spark, sf_dir)
    probes = n.filter(F.col("vec_id") < _N_PROBES).alias("a")
    corpus = n.alias("b")
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    ranked = (
        F.broadcast(probes)
        .join(
            corpus,
            (F.col("b.vec_id") != F.col("a.vec_id"))
            & (F.size(F.col("b.iv")) == F.size(F.col("a.iv"))),
        )
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("a.label").alias("plabel"),
            F.col("b.label").alias("nlabel"),
            F.col("b.vec_id").alias("neighbor_id"),
            _pair_cos().alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    warr = F.array(*[F.lit(x) for x in _NDCG_W])
    scored = ranked.groupBy("probe_id").agg(
        F.sum(F.when(F.col("nlabel") == F.col("plabel"), 1).otherwise(0))
        .cast("long")
        .alias("n_rel"),
        F.sum(
            F.when(
                F.col("nlabel") == F.col("plabel"),
                F.element_at(warr, F.col("rk").cast("int")),
            ).otherwise(0)
        )
        .cast("long")
        .alias("dcg_u"),
    )
    ideal = scored.withColumn(
        "idcg_u",
        F.when(
            F.col("n_rel") > 0,
            F.expr(
                f"aggregate(slice(array({', '.join(str(x) for x in _NDCG_W)}),"
                " 1, CAST(n_rel AS INT)), 0L, (a, x) -> a + x)"
            ),
        )
        .otherwise(0)
        .cast("long"),
    )
    return ideal.select(
        "probe_id",
        "n_rel",
        "dcg_u",
        "idcg_u",
        F.when(
            F.col("idcg_u") > 0,
            F.floor(F.col("dcg_u").cast("double") / F.col("idcg_u") * 10000 + F.lit(0.5))
            / 10000,
        ).alias("ndcg"),
    )


_MKNN_K = 3


@register(
    "vec_mutual_knn_graph",
    oracle=f"""
WITH {_NORMS_SQL},
knn AS (
  SELECT src, dst, label, cosu FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst, a.label AS label,
           CAST(FLOOR({_COS_SQL} * 10000 + 0.5) AS BIGINT) AS cosu,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_COS_SQL} DESC, b.vec_id) AS rk
    FROM norms a JOIN norms b
      ON b.label = a.label AND b.vec_id != a.vec_id
     AND len(b.iv) = len(a.iv)
  ) WHERE rk <= {_MKNN_K}
)
SELECT f.src AS v1, f.dst AS v2, f.label,
       (CAST(f.cosu AS DOUBLE) / 10000) AS cosine
FROM knn f JOIN knn r ON r.src = f.dst AND r.dst = f.src
WHERE f.src < f.dst
""",
    tier="T2",
)
def vec_mutual_knn_graph(spark, sf_dir):
    """Mutual-kNN graph construction (k=3, label-blocked): an edge exists
    iff each endpoint ranks the other in ITS top-3 by cosine — the
    symmetric pruning that turns a noisy kNN digraph into the sparse
    graph NN-Descent, graph-based clustering, and semantic-dedup
    pipelines actually consume (mutuality kills hub nodes that appear in
    everyone's top-k without reciprocating). Built as a composition: the
    label-blocked pair join (the sim_pairs_threshold shape), a per-source
    row_number top-k, then a self-join of the k-row-per-node edge list on
    reversed keys; v1 < v2 canonicalizes each undirected edge once.

    Determinism: exact integer-unit dot products (bit-identical cosine),
    ties broken by neighbor id; the cosine is quantized to integer 1e-4
    units BEFORE the mutual join's equality-free re-read so both engines
    emit the identical double. Pairs are restricted to SAME-dimension
    vectors on both sides (len(b.iv) = len(a.iv)) — mixed-dim cosine is
    ill-defined and the engines' ragged fallbacks diverge (Spark zip_with
    NULL-pads to the longer vector; DuckDB's series-indexed sum is a
    prefix dot), so a drifted odd-dimension row must be excluded
    explicitly, not by accident of either fallback.

    Scale note: blocking bounds each quadratic to its label block (the
    100 TB recipe: sub-band hot labels, per the sim_pairs_threshold
    docstring); the mutual join is an equi hash join on an edge list of
    ≤ k·N rows — linear in corpus size. Swap the in-block exact top-k for
    ann_lsh_bucketed candidates to go fully sub-quadratic.
    """
    n = _norms(spark, sf_dir)
    cos = _pair_cos()
    wk = Window.partitionBy("src").orderBy(F.col("cos").desc(), "dst")
    knn = (
        n.alias("a")
        .join(
            n.alias("b"),
            (F.col("b.label") == F.col("a.label"))
            & (F.col("b.vec_id") != F.col("a.vec_id"))
            & (F.size(F.col("b.iv")) == F.size(F.col("a.iv"))),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            F.col("a.label").alias("label"),
            cos.alias("cos"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _MKNN_K)
        .select(
            "src",
            "dst",
            "label",
            F.floor(F.col("cos") * 10000 + F.lit(0.5)).cast("long").alias("cosu"),
        )
    )
    # SHUFFLE_HASH hint on the reversed arm (the graph_pagerank recipe,
    # r11 s6 audit): both sides are the same skinny ≤k·N edge list and
    # both must exchange (opposite key orders), but the unhinted SMJ also
    # SORTS both — the per-partition hash build is ~k·N/P 32-byte rows,
    # scale-safe at any corpus size. Interleaved A/B at sf0.1 against the
    # SMJ form: a tie (1.385 vs 1.407 s — AQE broadcast-converts the
    # unhinted SMJ at this scale); kept for the avoided double sort once
    # k·N outgrows any broadcast cap.
    f, r = knn.alias("f"), knn.alias("r")
    return (
        f.join(
            r.hint("shuffle_hash"),
            (F.col("r.src") == F.col("f.dst")) & (F.col("r.dst") == F.col("f.src")),
        )
        .filter(F.col("f.src") < F.col("f.dst"))
        .select(
            F.col("f.src").alias("v1"),
            F.col("f.dst").alias("v2"),
            F.col("f.label").alias("label"),
            (F.col("f.cosu").cast("double") / 10000).alias("cosine"),
        )
    )
