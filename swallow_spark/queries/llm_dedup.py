"""§2.K — deduplication operators over `documents`:

- dedup_exact: content-hash survivor selection (T1, oracle-checked)
- dedup_near_exact_jaccard: 5-token-shingle Jaccard ≥ 0.8 pairs (T2)
- dedup_minhash_lsh: deterministic MinHash + LSH banding candidates (T3)
- dedup_simhash: 64-bit SimHash + segment-blocked Hamming pairs (T3)

Scale notes: exact dedup hash-partitions by content hash — embarrassingly
parallel. The shingle inverted index join is the scalable near-dup path
(pairs only form on shared shingles, never an all-pairs product); MinHash/LSH
replaces it when even the shingle join is too wide — band buckets bound the
candidate set. All signatures are computed with seeded/fixed constants
(§2.0 rule 8), never ml.feature.MinHashLSH randomness.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conform import rnd, sql_rnd
from ..io import load, table_bytes
from ..ops.text import sql_shingles
from ..ops.materialize import materialize
from ..ops.parallel import fan_out
from ..registry import register


@register(
    "dedup_exact",
    oracle="""
SELECT doc_id, md5(text) AS content_hash
FROM documents
QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
""",
    tier="T1",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: min doc_id survives per md5(text) group."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        d.select("doc_id", F.md5("text").alias("content_hash"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_hash")
    )


_JACCARD_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({sql_shingles('text')}) AS s FROM documents
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, {sql_rnd('CAST(inter AS DOUBLE) / (x.n + y.n - inter)', 4)} AS jaccard
FROM pairs JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
"""


@register("dedup_near_exact_jaccard", oracle=_JACCARD_SQL, tier="T2")
def dedup_near_exact_jaccard(spark, sf_dir):
    """Near-duplicate pairs by 5-token-shingle Jaccard ≥ 0.8.

    Posting-list inverted index (ops.dedup.shingle_jaccard_pairs): unique
    shingles are dropped before any join, pairs explode only from shared
    postings — no O(n²) cross product and no wide string self-join.
    """
    from ..ops.dedup import shingle_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    pairs, jac = shingle_jaccard_pairs(d)
    return pairs.filter(jac >= 0.8).select("d1", "d2", rnd(jac, 4).alias("jaccard"))


@register(
    "dedup_fuzzy_verify",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({sql_shingles('text')}) AS s FROM documents
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cand AS (
  SELECT d1, d2
  FROM pairs JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5
)
SELECT d1, d2,
       CAST(levenshtein(t1.text, t2.text) AS BIGINT) AS edit_dist,
       {sql_rnd("1 - CAST(levenshtein(t1.text, t2.text) AS DOUBLE) / greatest(length(t1.text), length(t2.text))", 4)} AS edit_sim
FROM cand
JOIN documents t1 ON d1 = t1.doc_id
JOIN documents t2 ON d2 = t2.doc_id
""",
    tier="T2",
)
def dedup_fuzzy_verify(spark, sf_dir):
    """Two-stage fuzzy dedup: cheap shingle-Jaccard blocking (τ=0.5) →
    exact edit-distance verification on the surviving candidate pairs only.

    Scale note: Levenshtein is O(len²) per pair — affordable exactly because
    the blocking stage reduced candidates from O(n²) to a handful; this
    block-then-verify split is the standard fuzzy-dedup architecture.
    """
    from ..ops.dedup import shingle_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    pairs, jac = shingle_jaccard_pairs(d)
    cand = pairs.filter(jac >= 0.5).select("d1", "d2")
    t1 = d.select(F.col("doc_id").alias("d1"), F.col("text").alias("text1"))
    t2 = d.select(F.col("doc_id").alias("d2"), F.col("text").alias("text2"))
    lev = F.levenshtein("text1", "text2")
    sim = F.lit(1) - lev.cast("double") / F.greatest(
        F.length("text1"), F.length("text2")
    )
    return (
        cand.join(t1, "d1")
        .join(t2, "d2")
        .select(
            "d1",
            "d2",
            lev.cast("long").alias("edit_dist"),
            rnd(sim, 4).alias("edit_sim"),
        )
    )


# MinHash: 32 fixed affine permutations over 31-bit hash space (§2.0 r8);
# coefficients < 2^31 keep every product < 2^62 (ANSI-safe, no overflow).
_N_PERM = 32
_BAND_ROWS = 4  # 8 bands × 4 rows
_P31 = 2_147_483_647  # Mersenne prime 2^31 - 1
_A = [((1103515245 * (j + 7) + 12345) % _P31) | 1 for j in range(_N_PERM)]
_B = [(69069 * (j + 3) + 1) % _P31 for j in range(_N_PERM)]


@register("dedup_minhash_lsh", oracle=None, tier="T3")
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(32 fixed perms) + LSH banding (8 bands × 4) candidate pairs
    (rows-only: xxhash64 has no DuckDB twin; exact twin =
    dedup_near_exact_jaccard).

    Plan shape: explode shingle HASHES → ONE partial+final aggregate
    computing all 32 per-permutation MINs (map-side combine), then band
    buckets. Shingle identity is xxhash64 over the 5-token slice of the
    token array directly — no shingle strings are ever built, so the
    explode/shuffle carries longs instead of ~30-byte strings (measured
    22% faster at sf0.1; candidate set identical on fixtures). The token
    array is lambda-bound so split() runs once per row (BENCH.md hoisting
    lesson). No per-permutation re-hashing; scales as O(shingles), the
    sub-quadratic near-dup path for 100 TB corpora.
    """
    # fan_out measured a WIN here (round-11 interleaved A/B, 1.80 -> 1.68 s):
    # the per-shingle xxhash64 explode otherwise runs single-core on the
    # one-split bench scan; no-op on a multi-split cluster scan.
    d = fan_out(load(spark, sf_dir, "documents"))
    # same truncated-last-shingle semantics as ops.text.shingles (docs
    # shorter than 5 tokens hash their full token array once)
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "element_at(transform(array(split(text, ' ')), a ->"
                    " transform(sequence(1, greatest(size(a) - 4, 1)),"
                    "   i -> xxhash64(slice(a, i, 5)))), 1)"
                )
            )
        ).alias("h0"),
    )
    h = F.pmod(F.col("h0"), F.lit(_P31))
    sig = sh.withColumn("h", h).groupBy("doc_id").agg(
        *[
            F.min((F.lit(_A[j]) * F.col("h") + F.lit(_B[j])) % F.lit(_P31)).alias(
                f"m{j}"
            )
            for j in range(_N_PERM)
        ]
    )
    n_bands = _N_PERM // _BAND_ROWS
    band_hashes = F.array(
        *[
            F.xxhash64(*[F.col(f"m{b * _BAND_ROWS + r}") for r in range(_BAND_ROWS)])
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        "doc_id", F.posexplode(band_hashes).alias("band", "band_hash")
    )
    # Posting-list bucket join (same shape as ops.dedup): group docs per
    # (band, bucket), emit i<j pairs from each bucket's sorted doc list.
    # One pass over the signature pipeline — a self-join here would compute
    # the shingle→minhash aggregate TWICE and (worse at 100 TB) broadcast a
    # |docs|×n_bands row side; the bucket grouping shuffles once on the
    # band hash and buckets stay small by LSH construction.
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pair_structs = F.expr(
        "flatten(transform(sequence(1, size(ds) - 1), "
        "i -> transform(sequence(i + 1, size(ds)), "
        "j -> struct(element_at(ds, i) AS d1, element_at(ds, j) AS d2))))"
    )
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    return pairs


@register("dedup_simhash", oracle=None, tier="T3")
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash near-dup pairs with Hamming distance ≤ 8, blocked by
    four 16-bit signature segments (rows-only: xxhash64 has no DuckDB twin).

    A pair is a candidate iff it agrees exactly on ≥1 segment (pigeonhole:
    Hamming ≤ 8 ⇒ some 16-bit quarter of the 64 bits is untouched... holds
    for ≤ 3 flips per 4 segments; we verify with bit_count on the full sig).
    """
    # fan_out measured a LOSS on the portable twin (A/B 2.77 -> 2.95 s): the
    # ±1 parity sums collapse map-side; the exchange outweighs them.
    d = load(spark, sf_dir, "documents")
    # Plan shape: explode distinct tokens → hash once → ONE aggregate with 64
    # ±1 bit sums (map-side combine), then assemble the signature from the
    # 64 columns. Avoids re-hashing tokens per bit position.
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t")
    ).withColumn("h", F.xxhash64("t"))
    bits = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"shiftright(h, {j}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(64)
        ]
    )
    sig_expr = F.expr(
        " + ".join(
            f"(CASE WHEN b{j} > 0 THEN shiftleft(cast(1 as bigint), {j}) "
            "ELSE cast(0 as bigint) END)"
            for j in range(64)
        )
    )
    sigs = bits.select("doc_id", sig_expr.alias("sig"))
    segs = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), k -> shiftright(sig, k * 16) & 65535)"
            )
        ).alias("seg_id", "seg_val"),
    )
    cand = (
        segs.alias("a")
        .join(
            segs.alias("b"),
            (F.col("a.seg_id") == F.col("b.seg_id"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= 8)


_CONTAIN_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({sql_shingles('text')}) AS s FROM documents
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       {sql_rnd('CAST(inter AS DOUBLE) / least(x.n, y.n)', 4)} AS containment
FROM pairs JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
WHERE CAST(inter AS DOUBLE) / least(x.n, y.n) >= 0.8
"""


@register("dedup_containment", oracle=_CONTAIN_SQL, tier="T2")
def dedup_containment(spark, sf_dir):
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ 0.8 over 5-token
    shingle sets — catches subset duplication (a doc quoted or embedded
    inside a larger one) that symmetric Jaccard under-scores because the
    union is dominated by the bigger doc. Standard complement to Jaccard in
    LLM-corpus dedup (boilerplate, quote-expansion, page-within-crawl).

    Same posting-list inverted index as dedup_near_exact_jaccard (shared
    ops.dedup core): unique shingles dropped before any join, pair fan-out
    bounded by the max_posting df-cap, one shuffle on the shingle key.
    """
    from ..ops.dedup import shingle_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    pairs, _ = shingle_jaccard_pairs(d)
    contain = F.col("inter").cast("double") / F.least(F.col("n1"), F.col("n2"))
    return pairs.filter(contain >= 0.8).select(
        "d1", "d2", rnd(contain, 4).alias("containment")
    )


_SEG = 10  # tokens per non-overlapping segment

_SEG_SQL = f"""
WITH segs AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(CAST(ceil(len(string_split(text, ' ')) / {_SEG}.0) AS BIGINT), 1)),
           i -> array_to_string(list_slice(string_split(text, ' '),
                                           (i - 1) * {_SEG} + 1, i * {_SEG}), ' ')))) AS seg
  FROM documents
),
df AS (
  SELECT seg, COUNT(*) AS docs FROM segs GROUP BY seg
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN d.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
       {sql_rnd('CAST(SUM(CASE WHEN d.docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)', 4)} AS dup_ratio
FROM segs s JOIN df d ON s.seg = d.seg
GROUP BY s.doc_id
"""


@register("dedup_exact_substring", oracle=_SEG_SQL, tier="T2")
def dedup_exact_substring(spark, sf_dir):
    """Sub-document exact duplication profile (segment-granularity ExactSubstr
    dedup): split each doc into non-overlapping 10-token segments, count how
    many of a doc's distinct segments also appear verbatim in ANOTHER doc
    (global doc-frequency ≥ 2) — the boilerplate/quote mass a substring
    dedup pass would strip even when whole-doc hashes differ.

    Scale note: one explode + one groupBy(segment) — hash-partitioned by
    segment content, map-side combinable, no joins wider than (doc, segment).
    Segments are distinct per doc before the explode so a phrase repeated
    inside one doc doesn't fake cross-doc duplication.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.ceil(F.size(toks) / F.lit(float(_SEG))).cast("long"), F.lit(1)),
    )
    segs = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    starts,
                    lambda i: F.array_join(
                        F.slice(toks, (i - 1) * _SEG + 1, _SEG), " "
                    ),
                )
            )
        ).alias("seg"),
    )
    df_ = segs.groupBy("seg").agg(F.count(F.lit(1)).alias("docs"))
    dup = F.sum(F.when(F.col("docs") >= 2, 1).otherwise(0))
    return (
        segs.join(df_, "seg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            dup.cast("long").alias("n_dup_segments"),
            rnd(
                dup.cast("double") / F.count(F.lit(1)),
                4,
            ).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------- portable
# MinHash with the cross-engine polynomial hash (conform.poly_hash): token
# hashes fold into shingle hashes with multiplier 100003 mod P; 32 affine
# permutations ((2j+1)·h + 97j + 13) mod P; 8 bands × 4 rows fold the same
# way. Every step is plain int64 arithmetic both engines compute
# identically, so the WHOLE pipeline — signatures, banding, buckets, pairs
# — is hash-checked against DuckDB (the xxhash64 twin above stays the fast
# path; this one is the provable path).

_PB = 100_003  # fold multiplier; acc < P ≈ 2^30 so acc*B < 2^47

from ..conform import POLY_P as _PP  # noqa: E402
from ..conform import sql_poly_hash_duck as _phd  # noqa: E402
from ..conform import sql_poly_hash_spark as _phs  # noqa: E402

_MINHASH_PORTABLE_SQL = f"""
WITH th AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '), t -> {_phd('t')}) AS hs
  FROM documents
),
shl AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(hs) - 4, 1)),
           i -> list_reduce(list_slice(hs, i, i + 4),
                            (acc, hh) -> (acc * {_PB} + hh) % {_PP}))) AS shs
  FROM th
),
sig AS (
  SELECT doc_id,
         list_transform(generate_series(CAST(0 AS BIGINT), 31),
           j -> list_min(list_transform(shs,
                  h -> ((2 * j + 1) * h + 97 * j + 13) % {_PP}))) AS sg
  FROM shl
),
bands AS (
  SELECT doc_id, CAST(b.band AS INT) AS band,
         list_reduce(list_slice(sg, b.band * 4 + 1, b.band * 4 + 4),
                     (acc, v) -> (acc * {_PB} + v) % {_PP}) AS band_hash
  FROM sig, unnest(generate_series(CAST(0 AS BIGINT), 7)) AS b(band)
)
SELECT a.doc_id AS d1, b2.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS n_bands
FROM bands a
JOIN bands b2 ON a.band = b2.band AND a.band_hash = b2.band_hash
            AND a.doc_id < b2.doc_id
GROUP BY 1, 2
"""


@register("dedup_minhash_portable", oracle=_MINHASH_PORTABLE_SQL, tier="T2")
def dedup_minhash_portable(spark, sf_dir):
    """MinHash(32 portable perms) + LSH banding (8×4) candidate pairs,
    ORACLE-CHECKED end to end: unlike dedup_minhash_lsh (xxhash64, fast
    path, rows-only), every hash here is the conform.poly_hash polynomial
    family, so DuckDB reproduces signatures → bands → buckets → pairs
    bit-for-bit. Same truncated-last-shingle semantics as ops.text.shingles
    (docs shorter than 5 tokens fold their full token array once).

    Plan shape (identical scale story to the fast twin): token-hash fold →
    distinct shingle hashes explode → ONE partial+final aggregate computing
    all 32 per-permutation MINs (map-side combine) → band fold → posting-
    list bucket grouping — one shuffle on the band key, no doc-side
    broadcast, O(shingles) not O(n²)."""
    # NULL text: see ops.dedup — without the guard the all-NULL signature
    # lands every NULL doc in one groupBy bucket and pairs them, while the
    # oracle's NULL-join drops them
    # fan_out measured a LOSS here (round-11 interleaved A/B, 4.11 -> 4.90 s)
    # despite the interpreted per-token fold: the minhash aggregate already
    # collapses map-side and the downstream band shuffle re-spreads the work.
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return _portable_minhash_pairs(d)


def _portable_minhash_pairs(d):
    """(d1, d2, n_bands) candidate pairs from the portable-hash MinHash+LSH
    pipeline — shared by [[dedup_minhash_portable]] and the
    [[eval_dedup_minhash_quality]] measurement key."""
    hs = F.expr(f"transform(split(text, ' '), t -> {_phs('t')})")
    sh = (
        d.select("doc_id", hs.alias("hs"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, greatest(size(hs) - 4, 1)), "
                        f"i -> aggregate(slice(hs, i, 5), cast(0 as bigint), "
                        f"(acc, hh) -> (acc * {_PB} + hh) % {_PP}))"
                    )
                )
            ).alias("h"),
        )
    )
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(2 * j + 1) * F.col("h") + F.lit(97 * j + 13)) % F.lit(_PP)
            ).alias(f"m{j}")
            for j in range(32)
        ]
    )
    band_hashes = F.array(
        *[
            F.expr(
                f"aggregate(array({', '.join(f'm{b * 4 + r}' for r in range(4))}), "
                f"cast(0 as bigint), (acc, v) -> (acc * {_PB} + v) % {_PP})"
            )
            for b in range(8)
        ]
    )
    bands = sig.select("doc_id", F.posexplode(band_hashes).alias("band", "band_hash"))
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pair_structs = F.expr(
        "flatten(transform(sequence(1, size(ds) - 1), "
        "i -> transform(sequence(i + 1, size(ds)), "
        "j -> struct(element_at(ds, i) AS d1, element_at(ds, j) AS d2))))"
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bands"))
    )


_SIMHASH_PORTABLE_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
  FROM documents
),
h AS (SELECT doc_id, {_phd('t')} AS hh FROM tok),
bits AS (
  SELECT doc_id, j.j,
         SUM(CASE WHEN ((2 * j.j + 1) * hh + 97 * j.j + 13) % {_PP} % 2 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM h, unnest(generate_series(CAST(0 AS BIGINT), 31)) AS j(j)
  GROUP BY 1, 2
),
sigs AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
                  ELSE CAST(0 AS BIGINT) END) AS sig
  FROM bits GROUP BY doc_id
),
segs AS (
  SELECT doc_id, sig, k.k AS seg_id,
         (sig >> CAST(k.k * 8 AS INT)) & 255 AS seg_val
  FROM sigs, unnest(generate_series(CAST(0 AS BIGINT), 3)) AS k(k)
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
  FROM segs a
  JOIN segs b ON a.seg_id = b.seg_id AND a.seg_val = b.seg_val
             AND a.doc_id < b.doc_id
)
SELECT d1, d2, hamming FROM cand WHERE hamming <= 4
"""


@register("dedup_simhash_portable", oracle=_SIMHASH_PORTABLE_SQL, tier="T2")
def dedup_simhash_portable(spark, sf_dir):
    """32-bit SimHash near-dup pairs (Hamming ≤ 4) with the portable
    polynomial hash family — the ORACLE-CHECKED twin of dedup_simhash
    (which keeps xxhash64/64-bit as the fast path): bit j of a token is
    parity of the j-th affine map of conform.poly_hash, so DuckDB rebuilds
    signatures, segment blocks and verified pairs exactly.

    Blocking: pigeonhole on four 8-bit segments — a pair with ≤ 3 flipped
    bits must agree exactly on some segment, and the bit_count verify on
    the full signature makes the Hamming filter exact either way.
    Plan shape: distinct-token explode → hash once → ONE aggregate with 32
    ±1 parity sums (map-side combine) → segment posting-list join, no
    all-pairs product."""
    # fan_out measured a LOSS here (round-11 A/B, 2.77 -> 2.95 s on the
    # sibling shape): parity sums collapse map-side before the exchange.
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t")
    )
    # hash each DISTINCT token once, not per (doc, token) occurrence — the
    # char-level polynomial fold is the expensive part (measured 5.2 s →
    # ~2 s at sf0.1). The vocabulary table is broadcast here; on a corpus
    # whose vocabulary outgrows broadcast, drop the hint and let it shuffle
    # on the token key (plan still beats per-occurrence hashing).
    td = tok.select("t").distinct().withColumn("hh", F.expr(_phs("t")))
    # A parity depends only on the token, so compute all 32 affine
    # parities ONCE per distinct token as a packed 32-bit word on the
    # (tiny, broadcast) vocabulary table; the per-(doc, token) aggregate
    # then reduces to 32 shift-and-mask bit sums — no multiply/mod per
    # occurrence. b_j = Σ±1 = 2·Σbit_j − n_tokens, so the sign test
    # b_j > 0 becomes 2·s_j > n — identical integers, identical sig.
    # Interleaved A/B at sf0.1 against the per-occurrence mul+mod form:
    # 2.08 vs 2.20 s and 1.92 vs 2.32 s.
    pw_expr = F.expr(
        " + ".join(
            f"(shiftleft((({2 * j + 1} * hh + {97 * j + 13}) % {_PP}) % 2,"
            f" {j}))"
            for j in range(32)
        )
    )
    td = td.select("t", pw_expr.alias("pw"))
    tok = tok.join(F.broadcast(td), "t")
    bits = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nt"),
        *[
            F.sum(F.shiftright(F.col("pw"), j).bitwiseAND(F.lit(1))).alias(
                f"s{j}"
            )
            for j in range(32)
        ],
    )
    sig_expr = F.expr(
        " + ".join(
            f"(CASE WHEN 2 * s{j} > nt THEN shiftleft(cast(1 as bigint),"
            f" {j}) ELSE cast(0 as bigint) END)"
            for j in range(32)
        )
    )
    sigs = bits.select("doc_id", sig_expr.alias("sig"))
    # NOTE (measured, sf0.1): the posting-list bucket pattern that wins for
    # LSH bands LOSES here — the tiny fixture vocabulary correlates
    # signatures so hard that one segment bucket can hold thousands of
    # docs, and in-row pair expansion becomes a single-task hot-bucket
    # straggler (9.2 s vs 4.5 s). Three skew weapons instead (r4 verdict
    # item 1, measured ~2.3× faster same-box at sf0.1):
    #   1. PAIR DISTINCT SIGNATURES, not documents: a near-dup corpus has
    #      far fewer distinct sigs than docs (1820 vs 5000 on this
    #      fixture), so the quadratic verify shrinks ~(docs/sigs)²; doc
    #      pairs are recovered afterwards by expanding per-sig doc groups
    #      (same-sig groups → hamming-0 pairs, cross-sig survivors → all
    #      cross products). At 100 TB this is the dominant win — exact
    #      signature collisions are the norm in a duplicated corpus.
    #   2. SALT the sig-level self-join: the left side carries a
    #      deterministic pmod(xxhash64(sig), 8) salt, the right side
    #      replicates to all 8 salts — a hot (seg_id, seg_val) bucket's
    #      pair expansion splits across 8 tasks for an 8× right-side
    #      inflation of a tiny table. Each (s1 < s2) pair still meets
    #      exactly once: at the left row's own salt.
    #   3. FIRST-MATCH emission instead of distinct: a sig pair agreeing
    #      on several segments is kept only from its LOWEST matching
    #      segment (cheap bit math on the two carried sigs), so
    #      uniqueness is structural and no dedup exchange exists anywhere
    #      downstream of the join.
    # materialize the tiny sig-group table ONCE (localCheckpoint truncates
    # lineage): it feeds four consumers below, which would otherwise each
    # recompute the whole scan→hash→signature pipeline (5 documents scans
    # observed in the un-checkpointed plan).
    groups = (
        sigs.groupBy("sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .transform(materialize)
    )
    # groups is small (distinct sigs ≪ docs) — broadcast for the expansion
    # joins below; on a corpus whose distinct-sig table outgrows broadcast,
    # drop the hints and both expansions shuffle on the sig key.
    same = (
        groups.select(F.explode("docs").alias("d1"), "docs")
        .select("d1", F.explode("docs").alias("d2"))
        .filter(F.col("d1") < F.col("d2"))
        .withColumn("hamming", F.lit(0).cast("long"))
    )
    ssegs = groups.select("sig").select(
        "sig",
        F.posexplode(
            F.expr("transform(sequence(0, 3), k -> shiftright(sig, k * 8) & 255)")
        ).alias("seg_id", "seg_val"),
    )
    n_salts = 8
    a = ssegs.select(
        "sig", "seg_id", "seg_val",
        F.pmod(F.xxhash64("sig"), F.lit(n_salts)).alias("salt"),
    )
    b = ssegs.select(
        "sig", "seg_id", "seg_val",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])).alias("salt"),
    )
    joined = a.alias("a").join(
        b.alias("b"),
        (F.col("a.seg_id") == F.col("b.seg_id"))
        & (F.col("a.seg_val") == F.col("b.seg_val"))
        & (F.col("a.salt") == F.col("b.salt"))
        & (F.col("a.sig") < F.col("b.sig")),
    )

    def _seg(col, k):
        return F.shiftright(col, k * 8).bitwiseAND(F.lit(255))

    # true iff some segment BEFORE this row's seg_id also matches — then a
    # lower-seg_id join row already emitted this sig pair
    earlier_match = F.lit(False)
    for k in range(3):
        earlier_match = earlier_match | (
            (F.col("a.seg_id") > k)
            & (_seg(F.col("a.sig"), k) == _seg(F.col("b.sig"), k))
        )
    spairs = (
        joined.withColumn(
            "hamming",
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).cast("long"),
        )
        .filter((F.col("hamming") <= 4) & ~earlier_match)
        .select(F.col("a.sig").alias("s1"), F.col("b.sig").alias("s2"), "hamming")
    )
    cross = (
        spairs.join(
            F.broadcast(groups.select(F.col("sig").alias("s1"), F.col("docs").alias("docs1"))),
            "s1",
        )
        .join(
            F.broadcast(groups.select(F.col("sig").alias("s2"), F.col("docs").alias("docs2"))),
            "s2",
        )
        .select(F.explode("docs1").alias("x"), "docs2", "hamming")
        .select("x", F.explode("docs2").alias("y"), "hamming")
        .select(
            F.least("x", "y").alias("d1"),
            F.greatest("x", "y").alias("d2"),
            "hamming",
        )
    )
    return same.unionByName(cross)


# ------------------------------------------------- dedup-layer measurement

# eval_dedup_minhash_quality keeps its shuffled-hash FULL OUTER build up to
# this many bytes of documents input (derivation at the join).
_DEDUP_QUALITY_SHJ_MAX_BYTES = 512 << 20

_MINHASH_QUALITY_SQL = f"""
WITH cand AS ({_MINHASH_PORTABLE_SQL}),
truth AS (
  WITH sh AS (
    SELECT doc_id, unnest({sql_shingles('text')}) AS s FROM documents
  ),
  sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
  pairs AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  )
  SELECT d1, d2
  FROM pairs JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.6
),
confusion AS (
  SELECT (c.d1 IS NOT NULL) AS in_cand, (t.d1 IS NOT NULL) AS in_truth
  FROM cand c FULL JOIN truth t ON c.d1 = t.d1 AND c.d2 = t.d2
)
SELECT CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       CAST(SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       CAST(SUM(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END)
            AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN in_cand AND NOT in_truth THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN in_truth AND NOT in_cand THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
       CASE WHEN SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) = 0 THEN NULL
            ELSE CAST(SUM(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END)
                      * 1000000
                      // SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT)
       END AS precision_micro,
       CASE WHEN SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) = 0 THEN NULL
            ELSE CAST(SUM(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END)
                      * 1000000
                      // SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT)
       END AS recall_micro
FROM confusion
"""


@register("eval_dedup_minhash_quality", oracle=_MINHASH_QUALITY_SQL, tier="T2")
def eval_dedup_minhash_quality(spark, sf_dir):
    """Precision/recall of the MinHash+LSH dedup layer against exact
    shingle-Jaccard ground truth — the measurement a curation stack runs
    before trusting approximate dedup at 100 TB, here fully DETERMINISTIC
    (and therefore oracle-checkable) because both layers use the portable
    polynomial hash: candidates = [[dedup_minhash_portable]]'s banded pair
    set, truth = exact 5-shingle Jaccard ≥ 0.6 (the 8×4 banding's s-curve
    threshold is (1/8)^(1/4) ≈ 0.59, so τ = 0.6 is the matched operating
    point). TP/FP/FN come from one FULL OUTER join of the two bounded pair
    tables; precision/recall are micro-unit non-negative `//` ratios with
    NULL degenerate cases.

    Scale note: both inputs are already sub-quadratic (posting-list join
    with df-capped postings; band buckets); the confusion join is
    pair-keyed hash join over their outputs — the eval costs no more than
    running the two dedup layers it measures.
    """
    from ..ops.dedup import shingle_jaccard_pairs

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    cand = _portable_minhash_pairs(d).select("d1", "d2")
    pairs, jac = shingle_jaccard_pairs(load(spark, sf_dir, "documents"))
    truth = pairs.filter(jac >= 0.6).select(
        F.col("d1").alias("t1"), F.col("d2").alias("t2")
    )
    # FULL OUTER cannot broadcast; the SHUFFLE_HASH hint builds the truth
    # side per partition (two-long pair rows, ~|near-dup pairs|/P per task)
    # instead of the planner's sort-both-sides SMJ (r11 s6 audit).
    # Spill-safety crossover (ADVICE r11): the build side is CORPUS-
    # proportional (exact near-dup pairs, not bounded-by-construction), and
    # a shuffled-hash build cannot spill, so past the crossover the
    # spill-safe SMJ is the right join (the join_full_outer /
    # etl_snapshot_diff rationale). At default shuffle partitioning the
    # crossover sits around ~10^9 truth pairs per 200 partitions; the
    # sf0.1 corpus (0.6 MB of documents) builds ~10^3. The rule is derived
    # from input bytes (the graph_katz_centrality pattern) under a
    # worst-case QUADRATIC growth of truth pairs with corpus size: ~10^3 ·
    # (bytes / 0.6 MB)^2 reaches 10^9 at ~600 MB, so the hash build is
    # kept up to 512 MB of documents. Unknown size takes SMJ, the
    # spill-safe side.
    size = table_bytes(sf_dir, "documents")
    shj = size is not None and size <= _DEDUP_QUALITY_SHJ_MAX_BYTES
    conf = cand.join(
        truth.hint("shuffle_hash") if shj else truth,
        (cand.d1 == truth.t1) & (cand.d2 == truth.t2),
        "full_outer",
    ).select(
        F.col("d1").isNotNull().alias("in_cand"),
        F.col("t1").isNotNull().alias("in_truth"),
    )
    tp = F.sum(F.when(F.col("in_cand") & F.col("in_truth"), 1).otherwise(0))
    nc = F.sum(F.when(F.col("in_cand"), 1).otherwise(0))
    nt = F.sum(F.when(F.col("in_truth"), 1).otherwise(0))
    return conf.agg(
        nt.cast("long").alias("n_truth"),
        nc.cast("long").alias("n_cand"),
        tp.cast("long").alias("tp"),
        F.sum(F.when(F.col("in_cand") & ~F.col("in_truth"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("in_truth") & ~F.col("in_cand"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    ).select(
        "n_truth",
        "n_cand",
        "tp",
        "fp",
        "fn",
        F.expr(
            """CASE WHEN n_cand = 0 THEN NULL
                    ELSE CAST(tp * 1000000 DIV n_cand AS BIGINT) END"""
        ).alias("precision_micro"),
        F.expr(
            """CASE WHEN n_truth = 0 THEN NULL
                    ELSE CAST(tp * 1000000 DIV n_truth AS BIGINT) END"""
        ).alias("recall_micro"),
    )


# --------------------------------------- dedup threshold sweep (round 9)
# The aggressiveness curve for the shingle-Jaccard dedup pass, named
# under eval_* like eval_dedup_minhash_quality (the dedup meta-evals):
# how many pairs fire, how many docs would be dropped, and the removal
# rate, at each candidate threshold — the table read before committing a
# corpus-wide dedup threshold, mirroring vec_ann_recall_sweep's
# operating-curve pattern on the dedup family.

_SWEEP_THRESHOLDS = (500, 600, 700, 800, 900)  # milli-Jaccard

_DEDUP_SWEEP_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({sql_shingles('text')}) AS s FROM documents
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jacp AS (
  SELECT d1, d2, CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jac
  FROM pairs JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
),
thr AS (SELECT * FROM (VALUES {", ".join(f"({t})" for t in _SWEEP_THRESHOLDS)}) AS t(thr)),
st AS (
  SELECT t.thr, j.d1, j.d2 FROM jacp j CROSS JOIN thr t
  WHERE j.jac >= CAST(t.thr AS DOUBLE) / 1000
),
per AS (
  SELECT thr, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COUNT(DISTINCT d2) AS BIGINT) AS n_dup_docs
  FROM st GROUP BY thr
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT CAST(p.thr AS BIGINT) AS threshold_milli,
       p.n_pairs,
       p.n_dup_docs,
       t.n_docs,
       CAST(p.n_dup_docs * 1000000 // GREATEST(t.n_docs, 1) AS BIGINT)
         AS removal_micro
FROM per p CROSS JOIN tot t
ORDER BY threshold_milli
"""


@register("eval_dedup_threshold_sweep", oracle=_DEDUP_SWEEP_SQL, tier="T2")
def eval_dedup_threshold_sweep(spark, sf_dir):
    """Operating curve for shingle-Jaccard dedup: for each candidate
    threshold (0.5 .. 0.9), the surviving pair count, the distinct
    later-doc count that would be dropped under keep-lowest-id, the
    corpus size, and the removal rate in micro-units.

    Determinism: the Jaccard ratio is the identical IEEE divide of exact
    integer (inter, n1, n2) in both engines (dedup_near_exact_jaccard's
    proven recipe), thresholds compare against t/1000 computed the same
    way on both sides, and all outputs are exact integers. Thresholds
    that fire zero pairs drop out of both engines symmetrically.

    Cap/hash parity assumption (inherited from dedup_near_exact_jaccard):
    the Spark arm runs shingle_jaccard_pairs with its default
    max_posting=500 df-cap and xxhash64 shingle identity, while the
    DuckDB oracle joins UNCAPPED string shingles — parity therefore
    relies on (a) no fixture shingle's document frequency approaching
    the cap (max observed df ≈ 60 at sf0.1, measured by the sf≈3 skew
    table in SCALE.md) and (b) no xxhash64 collision among the corpus's
    distinct shingles. On a corpus where boilerplate shingles exceed the
    cap the Spark arm deliberately under-reports those pairs (that IS
    the scale design); pass max_posting=None for exact-twin behavior.

    Scale: ONE pass of the capped posting-list inverted index (the
    d1 < d2 pair set is computed once, then the 5-threshold fan-out is a
    constant-factor explode over the already-small pair set) — the whole
    sweep costs one dedup run plus a tiny aggregate, not five dedup runs.
    """
    from ..ops.dedup import shingle_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    pairs, jac = shingle_jaccard_pairs(d)
    pj = pairs.select("d1", "d2", jac.alias("jac"))
    st = pj.select(
        "d1",
        "d2",
        "jac",
        F.explode(
            F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])
        ).alias("thr"),
    ).filter(F.col("jac") >= F.col("thr").cast("double") / 1000)
    per = st.groupBy("thr").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("d2").cast("long").alias("n_dup_docs"),
    )
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("thr").cast("long").alias("threshold_milli"),
            "n_pairs",
            "n_dup_docs",
            "n_docs",
            F.expr(
                "CAST(n_dup_docs * 1000000 DIV GREATEST(n_docs, 1)"
                " AS BIGINT)"
            ).alias("removal_micro"),
        )
        .orderBy("threshold_milli")
    )
