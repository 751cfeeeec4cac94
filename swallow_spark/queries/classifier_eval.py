"""Classifier / generation evaluation metrics (round 7) — the scoring half
of a model-development loop: a multiclass confusion matrix with per-class
and macro/micro P/R/F1 over the corpus language-ID rule, corpus BLEU
(clipped n-gram precisions + brevity defect) and word error rate (WER)
over the same deterministic candidate/reference doc grid text_rouge_l
established.

Every metric is PURE int64: counts are exact, ratios are micro-units via
single non-negative `//` divides, the BLEU geometric-mean core is carried
as the exact milli-unit product p1·p2·p3·p4 (≤1e12, int64-exact — the 4th
root is a monotone transform applied downstream), and the brevity penalty
is reported as its exact log-domain defect 1e6·(1 − r/c) floored, never as
a transcendental exp. WER's word-level edit distance is delegated to both
engines' native unit-cost levenshtein after a per-pair word→ASCII-char
recode (vocab ≤ 40 words/pair ⇒ codes 48..88, single-byte, collision-free
by construction).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load
from ..registry import register

# --------------------------------------------------- confusion matrix + F1
# The "model" is the existing n-gram-profile language-ID rule
# (text_language_id, llm_text.py): per-lang top-10 token profiles, each doc
# classified by max overlap (tie -> lang asc). Ground truth = documents.lang.

_LANGID_CTE = """
tok AS (SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS token FROM documents),
counts AS (SELECT lang, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
prof AS (
  SELECT lang AS cand_lang, token
  FROM (SELECT lang, token,
               row_number() OVER (PARTITION BY lang ORDER BY c DESC, token) AS rk
        FROM counts)
  WHERE rk <= 10
),
doc_tok AS (SELECT DISTINCT doc_id, lang, token FROM tok),
ovl AS (
  SELECT dt.doc_id, dt.lang, p.cand_lang, CAST(COUNT(*) AS BIGINT) AS overlap
  FROM doc_tok dt JOIN prof p USING (token)
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT doc_id, lang AS actual, cand_lang AS predicted
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY overlap DESC, cand_lang) AS rk
        FROM ovl)
  WHERE rk = 1
)
"""

_CONFUSION_SQL = f"""
WITH {_LANGID_CTE},
cls AS (SELECT DISTINCT actual AS cls FROM pred),
per AS (
  SELECT c.cls,
         CAST(SUM(CASE WHEN p.actual = c.cls AND p.predicted = c.cls
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN p.predicted = c.cls AND p.actual <> c.cls
                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN p.actual = c.cls AND p.predicted <> c.cls
                       THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM cls c CROSS JOIN pred p
  GROUP BY c.cls
),
scored AS (
  SELECT cls, tp, fp, fn, tp + fn AS support,
         CASE WHEN tp + fp = 0 THEN NULL
              ELSE CAST(tp * 1000000 // (tp + fp) AS BIGINT) END AS p_micro,
         CAST(tp * 1000000 // (tp + fn) AS BIGINT) AS r_micro,
         CAST(tp * 2000000 // (2 * tp + fp + fn) AS BIGINT) AS f1_micro
  FROM per
)
SELECT * FROM scored
UNION ALL
SELECT '__macro__',
       CAST(SUM(tp) AS BIGINT), CAST(SUM(fp) AS BIGINT),
       CAST(SUM(fn) AS BIGINT), CAST(SUM(support) AS BIGINT),
       CAST(SUM(p_micro) // COUNT(p_micro) AS BIGINT),
       CAST(SUM(r_micro) // COUNT(r_micro) AS BIGINT),
       CAST(SUM(f1_micro) // COUNT(f1_micro) AS BIGINT)
FROM scored
UNION ALL
SELECT '__micro__',
       CAST(SUM(tp) AS BIGINT), CAST(SUM(fp) AS BIGINT),
       CAST(SUM(fn) AS BIGINT), CAST(SUM(support) AS BIGINT),
       CAST(SUM(tp) * 1000000 // SUM(support) AS BIGINT),
       CAST(SUM(tp) * 1000000 // SUM(support) AS BIGINT),
       CAST(SUM(tp) * 1000000 // SUM(support) AS BIGINT)
FROM scored
"""


def _langid_pred(spark, sf_dir, with_conf: bool = False):
    """(doc_id, actual, predicted) from the corpus language-ID rule —
    the shared prediction layer of the eval_* metrics (mirrors
    _LANGID_CTE). With with_conf=True also carries the top-1 overlap and
    the doc's total overlap (the confidence numerator/denominator
    eval_calibration_ece bins)."""
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    counts = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    wprof = Window.partitionBy("lang").orderBy(F.col("c").desc(), "token")
    prof = (
        counts.withColumn("rk", F.row_number().over(wprof))
        .filter(F.col("rk") <= 10)
        .select(F.col("lang").alias("cand_lang"), "token")
    )
    doc_tok = tok.select("doc_id", "lang", "token").distinct()
    wbest = Window.partitionBy("doc_id").orderBy(
        F.col("overlap").desc(), "cand_lang"
    )
    ovl = (
        doc_tok.join(F.broadcast(prof), "token")
        .groupBy("doc_id", "lang", "cand_lang")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    if not with_conf:
        return (
            ovl.withColumn("rk", F.row_number().over(wbest))
            .filter(F.col("rk") == 1)
            .select(
                "doc_id",
                F.col("lang").alias("actual"),
                F.col("cand_lang").alias("predicted"),
            )
        )
    tot = ovl.groupBy("doc_id").agg(
        F.sum("overlap").cast("long").alias("o_total")
    )
    return (
        ovl.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .join(tot, "doc_id")
        .select(
            "doc_id",
            F.col("lang").alias("actual"),
            F.col("cand_lang").alias("predicted"),
            F.col("overlap").cast("long").alias("o_top"),
            "o_total",
        )
    )


@register("eval_confusion_f1", oracle=_CONFUSION_SQL, tier="T2")
def eval_confusion_f1(spark, sf_dir):
    """Multiclass confusion counts + per-class precision/recall/F1 and
    macro/micro summary rows for the corpus language-ID rule scored
    against the true `lang` column — the eval table every classifier in
    a curation stack (lang-ID, quality gates, toxicity tags) is read by.

    Determinism: tp/fp/fn are exact counts; ratios are micro-units via
    non-negative `//` (precision is NULL when the class is never
    predicted; recall/F1 denominators are ≥ support > 0 because classes
    are drawn from actual labels). The macro row averages the per-class
    micro values over NON-NULL entries (SUM//COUNT — both engines skip
    NULLs identically); the micro row collapses to accuracy, as it must
    for single-label multiclass.

    Scale: the prediction layer reuses text_language_id's shape (tiny
    broadcast profiles, one distinct shuffle); classes × predictions is a
    |langs|-way broadcast nested-loop over the prediction table — with
    bounded |langs| this is a conditional-aggregation scan, the standard
    one-pass confusion-matrix shape at any scale.
    """
    pred = _langid_pred(spark, sf_dir).select("actual", "predicted")
    cls = pred.select(F.col("actual").alias("cls")).distinct()
    per = (
        F.broadcast(cls)
        .crossJoin(pred)
        .groupBy("cls")
        .agg(
            F.sum(
                ((F.col("actual") == F.col("cls")) & (F.col("predicted") == F.col("cls"))).cast("long")
            ).alias("tp"),
            F.sum(
                ((F.col("predicted") == F.col("cls")) & (F.col("actual") != F.col("cls"))).cast("long")
            ).alias("fp"),
            F.sum(
                ((F.col("actual") == F.col("cls")) & (F.col("predicted") != F.col("cls"))).cast("long")
            ).alias("fn"),
        )
    )
    scored = per.select(
        "cls",
        "tp",
        "fp",
        "fn",
        (F.col("tp") + F.col("fn")).alias("support"),
        F.expr(
            """CASE WHEN tp + fp = 0 THEN NULL
                    ELSE CAST(tp * 1000000 DIV (tp + fp) AS BIGINT) END"""
        ).alias("p_micro"),
        F.expr("CAST(tp * 1000000 DIV (tp + fn) AS BIGINT)").alias("r_micro"),
        F.expr("CAST(tp * 2000000 DIV (2 * tp + fp + fn) AS BIGINT)").alias(
            "f1_micro"
        ),
    )
    macro = scored.agg(
        F.lit("__macro__").alias("cls"),
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
        F.sum("support").alias("support"),
        F.expr("CAST(SUM(p_micro) DIV COUNT(p_micro) AS BIGINT)").alias("p_micro"),
        F.expr("CAST(SUM(r_micro) DIV COUNT(r_micro) AS BIGINT)").alias("r_micro"),
        F.expr("CAST(SUM(f1_micro) DIV COUNT(f1_micro) AS BIGINT)").alias(
            "f1_micro"
        ),
    ).select("cls", "tp", "fp", "fn", "support", "p_micro", "r_micro", "f1_micro")
    micro = scored.agg(
        F.lit("__micro__").alias("cls"),
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
        F.sum("support").alias("support"),
        F.expr("CAST(SUM(tp) * 1000000 DIV SUM(support) AS BIGINT)").alias(
            "p_micro"
        ),
        F.expr("CAST(SUM(tp) * 1000000 DIV SUM(support) AS BIGINT)").alias(
            "r_micro"
        ),
        F.expr("CAST(SUM(tp) * 1000000 DIV SUM(support) AS BIGINT)").alias(
            "f1_micro"
        ),
    ).select("cls", "tp", "fp", "fn", "support", "p_micro", "r_micro", "f1_micro")
    return scored.unionAll(macro).unionAll(micro)


# ----------------------------------------------------------------- BLEU
# Same deterministic eval grid as text_rouge_l: candidates doc_id <= 50
# paired with references doc_id+100, both truncated to their first 20
# space-split tokens.

_BLEU_PAIRS_CTE = """
base AS (
  SELECT doc_id, string_split(text, ' ')[1:20] AS toks
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
pairs AS (
  SELECT c.doc_id AS cand_id, r.doc_id AS ref_id, c.toks AS ct, r.toks AS rt
  FROM base c JOIN base r ON r.doc_id = c.doc_id + 100
  WHERE c.doc_id <= 50
)
"""

_BLEU_SQL = f"""
WITH {_BLEU_PAIRS_CTE},
ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
cg AS (
  SELECT p.cand_id, ns.n,
         unnest(list_transform(
           generate_series(1, greatest(len(p.ct) - ns.n + 1, 0)),
           i -> array_to_string(p.ct[i:i + ns.n - 1], ' '))) AS gram
  FROM pairs p CROSS JOIN ns
),
rg AS (
  SELECT p.cand_id, ns.n,
         unnest(list_transform(
           generate_series(1, greatest(len(p.rt) - ns.n + 1, 0)),
           i -> array_to_string(p.rt[i:i + ns.n - 1], ' '))) AS gram
  FROM pairs p CROSS JOIN ns
),
cc AS (SELECT cand_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c
       FROM cg GROUP BY 1, 2, 3),
rc AS (SELECT cand_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c
       FROM rg GROUP BY 1, 2, 3),
clip AS (
  SELECT cc.cand_id, cc.n,
         CAST(SUM(least(cc.c, rc.c)) AS BIGINT) AS clip_cnt
  FROM cc JOIN rc USING (cand_id, n, gram)
  GROUP BY 1, 2
),
pern AS (
  SELECT p.cand_id, p.ref_id, ns.n,
         CAST(len(p.ct) AS BIGINT) AS n_cand,
         CAST(len(p.rt) AS BIGINT) AS n_ref,
         CAST(greatest(len(p.ct) - ns.n + 1, 0) AS BIGINT) AS total_cnt,
         COALESCE(cl.clip_cnt, 0) AS clip_cnt
  FROM pairs p CROSS JOIN ns
  LEFT JOIN clip cl ON cl.cand_id = p.cand_id AND cl.n = ns.n
)
SELECT cand_id, ref_id, MAX(n_cand) AS n_cand, MAX(n_ref) AS n_ref,
       CAST(SUM(CASE WHEN n = 1 THEN clip_cnt END) AS BIGINT) AS clip1,
       CAST(SUM(CASE WHEN n = 2 THEN clip_cnt END) AS BIGINT) AS clip2,
       CAST(SUM(CASE WHEN n = 3 THEN clip_cnt END) AS BIGINT) AS clip3,
       CAST(SUM(CASE WHEN n = 4 THEN clip_cnt END) AS BIGINT) AS clip4,
       CAST(SUM(CASE WHEN n = 1 THEN clip_cnt * 1000000 // total_cnt END)
            AS BIGINT) AS p1_micro,
       CAST(SUM(CASE WHEN n = 2 THEN clip_cnt * 1000000 // total_cnt END)
            AS BIGINT) AS p2_micro,
       CAST(SUM(CASE WHEN n = 3 THEN clip_cnt * 1000000 // total_cnt END)
            AS BIGINT) AS p3_micro,
       CAST(SUM(CASE WHEN n = 4 THEN clip_cnt * 1000000 // total_cnt END)
            AS BIGINT) AS p4_micro,
       CAST(SUM(CASE WHEN n = 1 THEN clip_cnt * 1000 // total_cnt END)
          * SUM(CASE WHEN n = 2 THEN clip_cnt * 1000 // total_cnt END)
          * SUM(CASE WHEN n = 3 THEN clip_cnt * 1000 // total_cnt END)
          * SUM(CASE WHEN n = 4 THEN clip_cnt * 1000 // total_cnt END)
            AS BIGINT) AS prod_e12,
       CAST(CASE WHEN MAX(n_cand) >= MAX(n_ref) THEN 0
                 ELSE 1000000 - MAX(n_ref) * 1000000 // MAX(n_cand)
            END AS BIGINT) AS bp_log_micro
FROM pern
GROUP BY cand_id, ref_id
"""


@register("eval_bleu", oracle=_BLEU_SQL, tier="T2")
def eval_bleu(spark, sf_dir):
    """Corpus BLEU core over the (doc d, doc d+100) eval grid: clipped
    n-gram matches and modified precisions p1..p4, the exact geometric
    core p1·p2·p3·p4 in milli-unit product form, and the brevity-penalty
    log defect — the generation-eval twin of [[text_rouge_l]].

    Determinism: PURE int64. Clipped counts are Σ min(count_cand,
    count_ref) over n-grams present in both sides (inner join — absent
    grams clip to 0 and cannot contribute); precisions are micro/milli
    `//` ratios of exact counts; prod_e12 multiplies four ≤1e3 milli
    values (≤1e12, int64-exact) so BLEU's 4th-root geometric mean is
    recoverable downstream by a monotone transform; the brevity penalty
    is reported in the log domain as 1e6·(1 − r/c) floored (0 when c ≥ r)
    — exp is never evaluated, so no libm crosses the hash.

    Scale: the pair grid is the bounded eval slice (pushed-down doc_id
    filters on both scan sides, broadcast reference side); n-gram
    generation is in-row array work; the clip join shuffles on
    (pair, n, gram) — at corpus scale the same shape partitions by pair
    block exactly like the dedup shingle pipeline.
    """
    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = F.slice(F.split("text", " "), 1, 20)
    cand = d.filter(F.col("doc_id") <= 50).select(
        F.col("doc_id").alias("cand_id"), toks.alias("ct")
    )
    ref = d.filter(F.col("doc_id").between(100, 150)).select(
        F.col("doc_id").alias("ref_id"), toks.alias("rt")
    )
    pairs = cand.join(F.broadcast(ref), ref.ref_id == cand.cand_id + 100)
    ns = F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("n")
    pn = pairs.select("cand_id", "ref_id", "ct", "rt", ns)

    def grams(col):
        # explicit size >= n guard: Spark sequence(1, 0) counts DOWN to
        # [1, 0] and slice(col, 0, n) is an ANSI crash — a candidate
        # shorter than n tokens must yield ZERO n-grams, like DuckDB's
        # empty generate_series (the text_ngrams recipe; found by the
        # round-8 eval-battery degenerate-input suite)
        return F.expr(
            f"""CASE WHEN size({col}) >= n THEN
                  transform(sequence(1, size({col}) - n + 1),
                            i -> concat_ws(' ', slice({col}, i, n)))
                ELSE array() END"""
        )

    cg = pn.select(
        "cand_id", "n", F.explode(grams("ct")).alias("gram")
    ).groupBy("cand_id", "n", "gram").agg(F.count(F.lit(1)).alias("c_c"))
    rg = pn.select(
        "cand_id", "n", F.explode(grams("rt")).alias("gram")
    ).groupBy("cand_id", "n", "gram").agg(F.count(F.lit(1)).alias("c_r"))
    # the eval grid bounds every join input (≤50 pairs × 4 n × ≤20-token
    # docs), but post-aggregate estimates made the planner sort both sides
    # of the clip join and the join-back — broadcast the bounded sides
    # (r11 s6 audit, the vec_ann_recall_sweep bounded-join-back class)
    clip = (
        cg.join(F.broadcast(rg), ["cand_id", "n", "gram"])
        .groupBy("cand_id", "n")
        .agg(F.sum(F.least("c_c", "c_r")).cast("long").alias("clip_cnt"))
    )
    pern = (
        pn.select(
            "cand_id",
            "ref_id",
            "n",
            F.size("ct").cast("long").alias("n_cand"),
            F.size("rt").cast("long").alias("n_ref"),
            F.expr("CAST(greatest(size(ct) - n + 1, 0) AS BIGINT)").alias(
                "total_cnt"
            ),
        )
        .join(F.broadcast(clip), ["cand_id", "n"], "left")
        .fillna(0, subset=["clip_cnt"])
    )
    agg = pern.groupBy("cand_id", "ref_id").agg(
        F.max("n_cand").alias("n_cand"),
        F.max("n_ref").alias("n_ref"),
        *[
            F.sum(F.expr(f"CASE WHEN n = {i} THEN clip_cnt END"))
            .cast("long")
            .alias(f"clip{i}")
            for i in (1, 2, 3, 4)
        ],
        # total_cnt = 0 (candidate shorter than n tokens) must yield NULL,
        # not a crash: DuckDB's `//` returns NULL on zero, but Spark DIV
        # under this repo's ANSI session THROWS — guard explicitly (found
        # by the round-8 eval-battery degenerate-input suite; the fixture
        # never exercises it but a regenerated short doc inside the eval
        # grid would)
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN n = {i} AND total_cnt > 0 "
                    "THEN clip_cnt * 1000000 DIV total_cnt END"
                )
            )
            .cast("long")
            .alias(f"p{i}_micro")
            for i in (1, 2, 3, 4)
        ],
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN n = {i} AND total_cnt > 0 "
                    "THEN clip_cnt * 1000 DIV total_cnt END"
                )
            )
            .cast("long")
            .alias(f"_m{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    return agg.select(
        "cand_id",
        "ref_id",
        "n_cand",
        "n_ref",
        "clip1",
        "clip2",
        "clip3",
        "clip4",
        "p1_micro",
        "p2_micro",
        "p3_micro",
        "p4_micro",
        F.expr("CAST(_m1 * _m2 * _m3 * _m4 AS BIGINT)").alias("prod_e12"),
        F.expr(
            """CAST(CASE WHEN n_cand >= n_ref THEN 0
                         ELSE 1000000 - n_ref * 1000000 DIV n_cand
                    END AS BIGINT)"""
        ).alias("bp_log_micro"),
    )


# ------------------------------------------------------------------ WER

_WER_SQL = f"""
WITH {_BLEU_PAIRS_CTE},
coded AS (
  SELECT cand_id, ref_id,
         CAST(len(ct) AS BIGINT) AS n_cand,
         CAST(len(rt) AS BIGINT) AS n_ref,
         list_sort(list_distinct(ct || rt)) AS vocab,
         ct, rt
  FROM pairs
),
strs AS (
  SELECT cand_id, ref_id, n_cand, n_ref,
         array_to_string(list_transform(ct,
           w -> chr(48 + CAST(list_position(vocab, w) AS INTEGER))), '')
           AS cstr,
         array_to_string(list_transform(rt,
           w -> chr(48 + CAST(list_position(vocab, w) AS INTEGER))), '')
           AS rstr
  FROM coded
)
SELECT cand_id, ref_id, n_cand, n_ref,
       CAST(levenshtein(cstr, rstr) AS BIGINT) AS edit_dist,
       CAST(levenshtein(cstr, rstr) * 1000000 // n_ref AS BIGINT) AS wer_micro
FROM strs
"""


@register("eval_wer", oracle=_WER_SQL, tier="T2")
def eval_wer(spark, sf_dir):
    """Word error rate over the (doc d, doc d+100) eval grid — the
    ASR/transcription eval metric: word-level Levenshtein distance divided
    by reference length.

    Determinism: the word-level edit distance is delegated to both
    engines' native unit-cost character levenshtein after a per-pair
    word→char recode: the pair's combined vocabulary (≤40 words from two
    20-token slices) is sorted binary-lexicographically and word w becomes
    the single ASCII char chr(48 + position) (codes 48..88 — printable,
    one byte in UTF-8, so character edit distance == word edit distance
    exactly). Sorting is binary in both engines (Spark UTF8 binary
    ordering; DuckDB default binary collation) so the recode is identical.
    WER is one non-negative micro `//`.

    Scale: bounded eval grid (pushed-down doc_id filters, broadcast
    reference side); the recode and distance are in-row expression work —
    a corpus-scale WER sweep keeps the same per-pair shape under any
    pair-blocking strategy.
    """
    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = F.slice(F.split("text", " "), 1, 20)
    cand = d.filter(F.col("doc_id") <= 50).select(
        F.col("doc_id").alias("cand_id"), toks.alias("ct")
    )
    ref = d.filter(F.col("doc_id").between(100, 150)).select(
        F.col("doc_id").alias("ref_id"), toks.alias("rt")
    )
    pairs = cand.join(F.broadcast(ref), ref.ref_id == cand.cand_id + 100)
    coded = pairs.select(
        "cand_id",
        "ref_id",
        F.size("ct").cast("long").alias("n_cand"),
        F.size("rt").cast("long").alias("n_ref"),
        F.array_sort(F.array_distinct(F.concat("ct", "rt"))).alias("vocab"),
        "ct",
        "rt",
    )
    code = "w -> char(48 + array_position(vocab, w))"
    strs = coded.select(
        "cand_id",
        "ref_id",
        "n_cand",
        "n_ref",
        F.expr(f"concat_ws('', transform(ct, {code}))").alias("cstr"),
        F.expr(f"concat_ws('', transform(rt, {code}))").alias("rstr"),
    )
    return strs.select(
        "cand_id",
        "ref_id",
        "n_cand",
        "n_ref",
        F.levenshtein("cstr", "rstr").cast("long").alias("edit_dist"),
        F.expr(
            "CAST(levenshtein(cstr, rstr) * 1000000 DIV n_ref AS BIGINT)"
        ).alias("wer_micro"),
    )


# ---------------------------------------------------------------- chrF
# Character n-gram F-score (n = 1..6) over the same candidate/reference
# grid; the space-stripped first 100 characters of each side.

_CHRF_N = 6

_CHRF_SQL = f"""
WITH base AS (
  SELECT doc_id, substr(replace(text, ' ', ''), 1, 100) AS s
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
pairs AS (
  SELECT c.doc_id AS cand_id, r.doc_id AS ref_id, c.s AS cs, r.s AS rs
  FROM base c JOIN base r ON r.doc_id = c.doc_id + 100
  WHERE c.doc_id <= 50
),
ns AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n),
cg AS (
  SELECT p.cand_id, ns.n,
         unnest(list_transform(
           generate_series(1, greatest(length(p.cs) - ns.n + 1, 0)),
           i -> substr(p.cs, CAST(i AS INTEGER), CAST(ns.n AS INTEGER)))) AS g
  FROM pairs p CROSS JOIN ns
),
rg AS (
  SELECT p.cand_id, ns.n,
         unnest(list_transform(
           generate_series(1, greatest(length(p.rs) - ns.n + 1, 0)),
           i -> substr(p.rs, CAST(i AS INTEGER), CAST(ns.n AS INTEGER)))) AS g
  FROM pairs p CROSS JOIN ns
),
cc AS (SELECT cand_id, n, g, CAST(COUNT(*) AS BIGINT) AS c FROM cg GROUP BY 1,2,3),
rc AS (SELECT cand_id, n, g, CAST(COUNT(*) AS BIGINT) AS c FROM rg GROUP BY 1,2,3),
ov AS (
  SELECT cc.cand_id, cc.n, CAST(SUM(least(cc.c, rc.c)) AS BIGINT) AS o
  FROM cc JOIN rc USING (cand_id, n, g) GROUP BY 1, 2
),
pern AS (
  SELECT p.cand_id, p.ref_id, ns.n,
         CAST(greatest(length(p.cs) - ns.n + 1, 0) AS BIGINT) AS tc,
         CAST(greatest(length(p.rs) - ns.n + 1, 0) AS BIGINT) AS tr,
         COALESCE(ov.o, 0) AS o
  FROM pairs p CROSS JOIN ns
  LEFT JOIN ov ON ov.cand_id = p.cand_id AND ov.n = ns.n
),
agg AS (
  SELECT cand_id, ref_id,
         CAST(SUM(CASE WHEN tc > 0 THEN o * 1000000 // tc END)
              // SUM(CASE WHEN tc > 0 THEN 1 END) AS BIGINT) AS chrp_micro,
         CAST(SUM(CASE WHEN tr > 0 THEN o * 1000000 // tr END)
              // SUM(CASE WHEN tr > 0 THEN 1 END) AS BIGINT) AS chrr_micro
  FROM pern GROUP BY 1, 2
)
SELECT cand_id, ref_id, chrp_micro, chrr_micro,
       CASE WHEN chrp_micro + chrr_micro = 0 THEN 0
            ELSE CAST(2 * chrp_micro * chrr_micro
                      // (chrp_micro + chrr_micro) AS BIGINT) END AS chrf_micro
FROM agg
"""


@register("eval_chrf", oracle=_CHRF_SQL, tier="T2")
def eval_chrf(spark, sf_dir):
    """chrF — character n-gram F-score (n = 1..6, space-stripped 100-char
    prefixes) over the (doc d, doc d+100) eval grid: the tokenizer-free MT
    metric that complements word-level [[eval_bleu]] (robust to
    morphology/segmentation where BLEU is brittle).

    Determinism: PURE int64 — clipped char-n-gram overlaps are exact
    inner-join min-count sums, per-n precisions/recalls are micro `//`
    ratios averaged over the n values with a non-empty total (both
    engines' SUM/COUNT skip the NULL CASE arms identically), and the F1
    harmonic mean is one guarded integer division. substr/replace are
    codepoint-based in both engines (unicode probe covers the multi-byte
    path).

    Scale note: bounded eval grid (pushed-down doc_id filters, broadcast
    reference side); the overlap join shuffles on (pair, n, gram) exactly
    like eval_bleu — pair-blocked at corpus scale.
    """
    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    s = F.substring(F.regexp_replace("text", " ", ""), 1, 100)
    cand = d.filter(F.col("doc_id") <= 50).select(
        F.col("doc_id").alias("cand_id"), s.alias("cs")
    )
    ref = d.filter(F.col("doc_id").between(100, 150)).select(
        F.col("doc_id").alias("ref_id"), s.alias("rs")
    )
    pairs = cand.join(F.broadcast(ref), ref.ref_id == cand.cand_id + 100)
    ns = F.explode(F.array(*[F.lit(i) for i in range(1, _CHRF_N + 1)])).alias("n")
    pn = pairs.select("cand_id", "ref_id", "cs", "rs", ns)

    def grams(col):
        return F.expr(
            f"""transform(sequence(1, greatest(length({col}) - n + 1, 0)),
                          i -> substr({col}, CAST(i AS INT), CAST(n AS INT)))"""
        )

    cc = pn.select("cand_id", "n", F.explode(grams("cs")).alias("g")).groupBy(
        "cand_id", "n", "g"
    ).agg(F.count(F.lit(1)).alias("c_c"))
    rc = pn.select("cand_id", "n", F.explode(grams("rs")).alias("g")).groupBy(
        "cand_id", "n", "g"
    ).agg(F.count(F.lit(1)).alias("c_r"))
    # bounded eval grid (≤50 pairs × 6 n × ≤100-char prefixes): broadcast
    # the overlap join's reference side and the join-back, as in eval_bleu
    # (r11 s6 audit)
    ov = (
        cc.join(F.broadcast(rc), ["cand_id", "n", "g"])
        .groupBy("cand_id", "n")
        .agg(F.sum(F.least("c_c", "c_r")).cast("long").alias("o"))
    )
    pern = (
        pn.select(
            "cand_id",
            "ref_id",
            "n",
            F.expr("CAST(greatest(length(cs) - n + 1, 0) AS BIGINT)").alias("tc"),
            F.expr("CAST(greatest(length(rs) - n + 1, 0) AS BIGINT)").alias("tr"),
        )
        .join(F.broadcast(ov), ["cand_id", "n"], "left")
        .fillna(0, subset=["o"])
    )
    agg = pern.groupBy("cand_id", "ref_id").agg(
        F.expr(
            """CAST(SUM(CASE WHEN tc > 0 THEN o * 1000000 DIV tc END)
                    DIV SUM(CASE WHEN tc > 0 THEN 1 END) AS BIGINT)"""
        ).alias("chrp_micro"),
        F.expr(
            """CAST(SUM(CASE WHEN tr > 0 THEN o * 1000000 DIV tr END)
                    DIV SUM(CASE WHEN tr > 0 THEN 1 END) AS BIGINT)"""
        ).alias("chrr_micro"),
    )
    return agg.select(
        "cand_id",
        "ref_id",
        "chrp_micro",
        "chrr_micro",
        F.expr(
            """CASE WHEN chrp_micro + chrr_micro = 0 THEN 0
                    ELSE CAST(2 * chrp_micro * chrr_micro
                              DIV (chrp_micro + chrr_micro) AS BIGINT)
               END"""
        ).alias("chrf_micro"),
    )


# --------------------------------------- agreement + calibration (round 8)

_KAPPA_SQL = f"""
WITH {_LANGID_CTE},
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN actual = predicted THEN 1 ELSE 0 END) AS BIGINT)
           AS correct
  FROM pred
),
t AS (SELECT actual AS cls, CAST(COUNT(*) AS BIGINT) AS tn FROM pred GROUP BY 1),
p AS (SELECT predicted AS cls, CAST(COUNT(*) AS BIGINT) AS pn FROM pred GROUP BY 1),
chance AS (
  SELECT CAST(COALESCE(SUM(t.tn * p.pn), 0) AS BIGINT) AS pe_num
  FROM t JOIN p USING (cls)
)
SELECT n, correct,
       CAST(correct * 1000000 // n AS BIGINT) AS po_micro,
       CAST(pe_num * 1000000 // (n * n) AS BIGINT) AS pe_micro,
       CASE WHEN n * n = pe_num THEN NULL
            WHEN correct * n >= pe_num
              THEN CAST((correct * n - pe_num) * 1000000
                        // (n * n - pe_num) AS BIGINT)
            ELSE CAST(-((pe_num - correct * n) * 1000000
                        // (n * n - pe_num)) AS BIGINT)
       END AS kappa_micro
FROM m CROSS JOIN chance
"""


@register("eval_cohen_kappa", oracle=_KAPPA_SQL, tier="T2")
def eval_cohen_kappa(spark, sf_dir):
    """MULTICLASS Cohen's kappa — chance-corrected agreement between the
    language-ID rule and the true labels: κ = (p_o − p_e)/(1 − p_e) with
    p_e the marginal-product chance rate summed over ALL classes. The
    standard sanity statistic when a classifier's raw accuracy is inflated
    by class imbalance. (The binary two-rater variant over orders is
    [[stats_cohens_kappa]]; this one scores a real K-class classifier
    against ground truth.)

    Determinism: PURE int64 — p_o and p_e are micro `//` ratios of exact
    counts over n and n² (n ≤ ~1e4 at fixture scale; n²·1e6 « 2^63), and
    κ itself is the negation-guarded integer divide
    (correct·n − pe_num) · 1e6 // (n² − pe_num): the guard keeps DuckDB's
    floor `//` and Spark's truncating DIV identical when the numerator is
    negative (worse-than-chance classifiers). Degenerate pe = 1 (single
    class on both margins) yields NULL in both engines.

    Scale note: one shuffle for the prediction layer, then two tiny
    per-class aggregates broadcast into a 1-row join. At 100 TB the n²
    terms exceed int64 around n ≈ 3e6 — carry pe as a per-class sum of
    (t_k/n)·(p_k/n) micro-products there; the fixture recipe keeps the
    exact-integer form the oracle can check.
    """
    pred = _langid_pred(spark, sf_dir).select("actual", "predicted")
    m = pred.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("actual") == F.col("predicted")).cast("long"))
        .cast("long")
        .alias("correct"),
    )
    t = pred.groupBy(F.col("actual").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("tn")
    )
    p = pred.groupBy(F.col("predicted").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("pn")
    )
    # both marginal tables are bounded by |classes| BY CONSTRUCTION, but the
    # planner's post-aggregate size estimate picks SortMergeJoin (sorting
    # both) — broadcast makes the plan match the docstring (r11 s6 audit)
    chance = (
        t.join(F.broadcast(p), "cls")
        .agg(F.coalesce(F.sum(F.col("tn") * F.col("pn")), F.lit(0)).cast("long").alias("pe_num"))
    )
    return m.crossJoin(F.broadcast(chance)).select(
        "n",
        "correct",
        F.expr("CAST(correct * 1000000 DIV n AS BIGINT)").alias("po_micro"),
        F.expr("CAST(pe_num * 1000000 DIV (n * n) AS BIGINT)").alias("pe_micro"),
        F.expr(
            """CASE WHEN n * n = pe_num THEN NULL
                    WHEN correct * n >= pe_num
                      THEN CAST((correct * n - pe_num) * 1000000
                                DIV (n * n - pe_num) AS BIGINT)
                    ELSE CAST(-((pe_num - correct * n) * 1000000
                                DIV (n * n - pe_num)) AS BIGINT)
               END"""
        ).alias("kappa_micro"),
    )


_MCC_SQL = f"""
WITH {_LANGID_CTE},
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN actual = predicted THEN 1 ELSE 0 END) AS BIGINT)
           AS correct
  FROM pred
),
t AS (SELECT actual AS cls, CAST(COUNT(*) AS BIGINT) AS tn FROM pred GROUP BY 1),
p AS (SELECT predicted AS cls, CAST(COUNT(*) AS BIGINT) AS pn FROM pred GROUP BY 1),
sums AS (
  SELECT CAST(COALESCE((SELECT SUM(t.tn * p.pn) FROM t JOIN p USING (cls)), 0)
              AS BIGINT) AS ptsum,
         CAST((SELECT SUM(pn * pn) FROM p) AS BIGINT) AS ppsum,
         CAST((SELECT SUM(tn * tn) FROM t) AS BIGINT) AS ttsum
)
SELECT n, correct,
       CAST(correct * n - ptsum AS BIGINT) AS cov_num,
       CAST(n * n - ppsum AS BIGINT) AS cov_pred,
       CAST(n * n - ttsum AS BIGINT) AS cov_true,
       CASE WHEN n * n = ppsum OR n * n = ttsum THEN NULL
            ELSE CAST(FLOOR(CAST(correct * n - ptsum AS DOUBLE)
                            / sqrt(CAST(n * n - ppsum AS DOUBLE)
                                   * CAST(n * n - ttsum AS DOUBLE))
                            * 1000000 + 0.5) AS BIGINT) END AS mcc_micro
FROM m CROSS JOIN sums
"""


@register("eval_mcc_multiclass", oracle=_MCC_SQL, tier="T2")
def eval_mcc_multiclass(spark, sf_dir):
    """Multiclass Matthews correlation (the R_K statistic) for the
    language-ID rule: MCC = (c·n − Σp_k t_k) / √((n² − Σp_k²)(n² − Σt_k²))
    — the balanced single-number classifier score that, unlike accuracy
    and F1, punishes lopsided error placement.

    Determinism: the three covariance terms are EXACT int64 (reported
    raw); the final ratio is double division in pinned op order — the
    radicand product of two exact ints ≤ (1e4)⁴ = 1e16 sits inside the
    double-exact range at fixture scale, sqrt is IEEE correctly-rounded
    in both engines, and the result is half-up-quantized to micro-units.
    Zero covariance on either margin (single-class degenerate) → NULL in
    both engines.

    Scale note: same shape as [[eval_cohen_kappa]] — prediction layer,
    two per-class aggregates, 1-row broadcast join; at extreme n switch
    the covariances to per-class micro-share sums (docstring recipe
    there).
    """
    pred = _langid_pred(spark, sf_dir).select("actual", "predicted")
    m = pred.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("actual") == F.col("predicted")).cast("long"))
        .cast("long")
        .alias("correct"),
    )
    t = pred.groupBy(F.col("actual").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("tn")
    )
    p = pred.groupBy(F.col("predicted").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("pn")
    )
    # |classes|-bounded marginals: broadcast instead of the planner's SMJ
    # (the eval_cohen_kappa note; r11 s6 audit)
    ptsum = (
        t.join(F.broadcast(p), "cls")
        .agg(F.coalesce(F.sum(F.col("tn") * F.col("pn")), F.lit(0)).cast("long").alias("ptsum"))
    )
    ppsum = p.agg(F.sum(F.col("pn") * F.col("pn")).cast("long").alias("ppsum"))
    ttsum = t.agg(F.sum(F.col("tn") * F.col("tn")).cast("long").alias("ttsum"))
    sums = ptsum.crossJoin(F.broadcast(ppsum)).crossJoin(F.broadcast(ttsum))
    return m.crossJoin(F.broadcast(sums)).select(
        "n",
        "correct",
        F.expr("CAST(correct * n - ptsum AS BIGINT)").alias("cov_num"),
        F.expr("CAST(n * n - ppsum AS BIGINT)").alias("cov_pred"),
        F.expr("CAST(n * n - ttsum AS BIGINT)").alias("cov_true"),
        F.expr(
            """CASE WHEN n * n = ppsum OR n * n = ttsum THEN NULL
                    ELSE FLOOR(CAST(correct * n - ptsum AS DOUBLE)
                               / sqrt(CAST(n * n - ppsum AS DOUBLE)
                                      * CAST(n * n - ttsum AS DOUBLE))
                               * 1000000 + 0.5) END"""
        ).alias("mcc_micro"),
    )


_ECE_SQL = f"""
WITH {_LANGID_CTE},
conf AS (
  SELECT pr.doc_id, pr.actual, pr.predicted,
         CAST(o1.overlap * 1000000
              // SUM(o2.overlap) AS BIGINT) AS conf_micro
  FROM pred pr
  JOIN ovl o1 ON o1.doc_id = pr.doc_id AND o1.cand_lang = pr.predicted
  JOIN ovl o2 ON o2.doc_id = pr.doc_id
  GROUP BY pr.doc_id, pr.actual, pr.predicted, o1.overlap
),
binned AS (
  SELECT least(conf_micro // 100000, 9) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(conf_micro) AS BIGINT) AS conf_sum_micro,
         CAST(SUM(CASE WHEN actual = predicted THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM conf GROUP BY 1
),
gaps AS (
  SELECT bin, n_docs, conf_sum_micro, n_correct,
         CAST(abs(conf_sum_micro - n_correct * 1000000) AS BIGINT)
           AS gap_micro_sum
  FROM binned
)
SELECT CAST(bin AS BIGINT) AS bin, n_docs, conf_sum_micro, n_correct,
       gap_micro_sum, CAST(NULL AS BIGINT) AS ece_micro
FROM gaps
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(SUM(n_docs) AS BIGINT),
       CAST(SUM(conf_sum_micro) AS BIGINT), CAST(SUM(n_correct) AS BIGINT),
       CAST(SUM(gap_micro_sum) AS BIGINT),
       CAST(SUM(gap_micro_sum) // SUM(n_docs) AS BIGINT)
FROM gaps
"""


@register("eval_calibration_ece", oracle=_ECE_SQL, tier="T2")
def eval_calibration_ece(spark, sf_dir):
    """Expected calibration error of the language-ID rule's confidence
    (top-1 overlap share of the doc's total profile overlap), binned into
    10 fixed confidence deciles: per-bin document counts, summed
    confidence, correct counts, and |Σconf − 1e6·correct| gaps, plus the
    __total__ row (bin = −1) carrying ECE = Σ_b gap_b // N — the
    calibration diagnostic every confidence-thresholded curation filter
    (lang-ID gating, toxicity cutoffs) needs before its threshold means
    anything. (Complements [[stats_calibration_ece]], which demonstrates
    the plumbing on hash pseudo-scores over events; this one calibrates a
    REAL in-repo classifier's confidence against its actual correctness.)

    Determinism: PURE int64 — confidence is one non-negative micro `//`
    per doc (denominator ≥ top-1 overlap ≥ 1), bins are integer
    divides capped at 9, the per-bin gap |Σconf_micro − correct·1e6| is
    exact, and ECE is a single final `//`. The weighted form
    Σ (n_b/N)·|acc_b − conf_b| collapses to Σgap // N exactly, so no
    per-bin mean ever divides.

    Scale note: prediction layer + one extra per-doc total-overlap
    aggregate (same shuffle key), then a 10-row aggregate — flat cost
    over the corpus scan at any scale.
    """
    pred = _langid_pred(spark, sf_dir, with_conf=True)
    conf = pred.select(
        "actual",
        "predicted",
        F.expr("CAST(o_top * 1000000 DIV o_total AS BIGINT)").alias("conf_micro"),
    )
    binned = conf.groupBy(
        F.least(F.expr("conf_micro DIV 100000"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("conf_micro").cast("long").alias("conf_sum_micro"),
        F.sum((F.col("actual") == F.col("predicted")).cast("long"))
        .cast("long")
        .alias("n_correct"),
    )
    gaps = binned.withColumn(
        "gap_micro_sum",
        F.abs(F.col("conf_sum_micro") - F.col("n_correct") * F.lit(1000000)).cast(
            "long"
        ),
    )
    per_bin = gaps.select(
        F.col("bin").cast("long").alias("bin"),
        "n_docs",
        "conf_sum_micro",
        "n_correct",
        "gap_micro_sum",
        F.lit(None).cast("long").alias("ece_micro"),
    )
    total = gaps.agg(
        F.lit(-1).cast("long").alias("bin"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("conf_sum_micro").cast("long").alias("conf_sum_micro"),
        F.sum("n_correct").cast("long").alias("n_correct"),
        F.sum("gap_micro_sum").cast("long").alias("gap_micro_sum"),
        F.expr(
            "CAST(SUM(gap_micro_sum) DIV SUM(n_docs) AS BIGINT)"
        ).alias("ece_micro"),
    )
    return per_bin.unionAll(total)


_BRIER_SQL = f"""
WITH {_LANGID_CTE},
per_doc AS (
  SELECT o.doc_id, o.lang AS actual,
         CAST(SUM(o.overlap) AS BIGINT) AS t_total,
         CAST(SUM(o.overlap * o.overlap) AS BIGINT) AS sq_sum,
         CAST(COALESCE(SUM(CASE WHEN o.cand_lang = o.lang
                                THEN o.overlap END), 0) AS BIGINT) AS o_act
  FROM ovl o GROUP BY 1, 2
)
SELECT doc_id, actual, t_total,
       CAST((sq_sum - o_act * o_act + (t_total - o_act) * (t_total - o_act))
            * 1000000 // (t_total * t_total) AS BIGINT) AS brier_micro
FROM per_doc
"""


@register("eval_brier_multiclass", oracle=_BRIER_SQL, tier="T2")
def eval_brier_multiclass(spark, sf_dir):
    """Multiclass Brier score per document for the language-ID rule's
    overlap-share probability vector: Σ_k (p_k − y_k)² with
    p_k = overlap_k / T — the proper scoring rule that penalizes both
    miscalibration and misclassification, completing the calibration set
    ([[eval_calibration_ece]] bins, this scores).

    Determinism: PURE int64 — clearing the T denominator gives
    Σ_k (o_k − y_k·T)² = sq_sum − o_act² + (T − o_act)², all exact
    integer products (overlaps ≤ ~60 per doc, T² ≤ ~4e3; ·1e6 « 2^63),
    one non-negative `//` per doc. A doc whose true class has zero
    profile overlap contributes the full (T)² miss term exactly; docs
    with no profile overlap at all are excluded in both engines (inner
    aggregation over the overlap relation — same exclusion the prediction
    layer applies).

    Scale note: one extra aggregate on the prediction layer's existing
    (doc_id) key — no new shuffle; per-doc output keeps every value
    hash-checkable.
    """
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    counts = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    wprof = Window.partitionBy("lang").orderBy(F.col("c").desc(), "token")
    prof = (
        counts.withColumn("rk", F.row_number().over(wprof))
        .filter(F.col("rk") <= 10)
        .select(F.col("lang").alias("cand_lang"), "token")
    )
    doc_tok = tok.select("doc_id", "lang", "token").distinct()
    ovl = (
        doc_tok.join(F.broadcast(prof), "token")
        .groupBy("doc_id", "lang", "cand_lang")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    per_doc = ovl.groupBy("doc_id", F.col("lang").alias("actual")).agg(
        F.sum("overlap").cast("long").alias("t_total"),
        F.sum(F.col("overlap") * F.col("overlap")).cast("long").alias("sq_sum"),
        F.coalesce(
            F.sum(
                F.when(F.col("cand_lang") == F.col("lang"), F.col("overlap"))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("o_act"),
    )
    return per_doc.select(
        "doc_id",
        "actual",
        "t_total",
        F.expr(
            """CAST((sq_sum - o_act * o_act
                     + (t_total - o_act) * (t_total - o_act))
                    * 1000000 DIV (t_total * t_total) AS BIGINT)"""
        ).alias("brier_micro"),
    )


# ------------------------------------------------------- pass@k estimator
# Code-generation evaluation (HumanEval / MBPP protocol): each task gets n
# independent samples, c of which pass; the unbiased pass@k estimator is
#   pass@k = 1 - C(n-c, k) / C(n, k)
# (Chen et al. 2021, "Evaluating Large Language Models Trained on Code").
# The ratio is computed in its overflow-safe product form
#   prod_{i=0..k-1} (n-c-i)/(n-i),
# unrolled at fixed k into a chain of non-negative integer DIVs in micro
# units — the chain is emitted by ONE Python helper for BOTH engines, so
# the truncation sequence is identical by construction.


def _pass_at_k_expr(k: int, div: str) -> str:
    """1e6-scaled pass@k as a fixed-k unrolled integer-division chain.

    Each step multiplies the running micro-ratio (<= 1e6) by the next
    numerator term GREATEST(n-c-i, 0) (the guard zeroes the whole product
    when n-c < k, where the estimator is exactly 1) and divides by
    GREATEST(n-i, 1) (the clamp only fires on n < k rows, which callers
    filter out — it exists so ANSI mode never sees a zero divisor while
    the k-column is evaluated eagerly for every task). Intermediates stay
    below 1e6 * n — int64-safe for any real sample count.
    """
    r = "1000000"
    for i in range(k):
        r = f"(({r}) * GREATEST(n - c - {i}, 0)) {div} GREATEST(n - {i}, 1)"
    return f"1000000 - ({r})"


_PAK_KS = (1, 5, 10)

_PAK_SQL = f"""
WITH tasks AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM orders GROUP BY 1
),
per AS (
  SELECT n, c,
         {_pass_at_k_expr(1, '//')} AS p1,
         {_pass_at_k_expr(5, '//')} AS p5,
         {_pass_at_k_expr(10, '//')} AS p10
  FROM tasks
),
stacked AS (
  SELECT 1 AS k, p1 AS p FROM per WHERE n >= 1
  UNION ALL SELECT 5, p5 FROM per WHERE n >= 5
  UNION ALL SELECT 10, p10 FROM per WHERE n >= 10
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_tasks,
       CAST(SUM(CASE WHEN p = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS saturated_tasks,
       CAST(SUM(p) // COUNT(*) AS BIGINT) AS mean_pass_micro,
       CAST(MIN(p) AS BIGINT) AS min_pass_micro,
       CAST(MAX(p) AS BIGINT) AS max_pass_micro
FROM stacked GROUP BY k ORDER BY k
"""


@register("eval_pass_at_k", oracle=_PAK_SQL, tier="T2")
def eval_pass_at_k(spark, sf_dir):
    """Unbiased pass@k over a deterministic task/sample grid: customers are
    tasks, their orders are the n samples, o_orderstatus = 'F' marks a
    passing sample. For k in (1, 5, 10) reports, over tasks with n >= k,
    the task count, the saturated count (estimator exactly 1), and the
    mean/min/max estimator value in micro-units.

    Determinism: the C(n-c,k)/C(n,k) ratio is the fixed-k unrolled chain
    of non-negative integer DIVs emitted by _pass_at_k_expr for BOTH
    engines — the truncation sequence is shared by construction, so the
    result is exact-int64 reproducible across engines, retries, and
    partitionings.

    Scale: one hash aggregate on the task key (map-side combinable
    count/sum), then a 3-way stack of the per-task constant-time
    expression and a tiny final aggregate — embarrassingly parallel at
    100 TB; no window, no join, no shuffle beyond the task groupBy.
    """
    o = load(spark, sf_dir, "orders")
    tasks = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    per = tasks.select(
        "n",
        "c",
        *[
            F.expr(_pass_at_k_expr(k, "DIV")).alias(f"p{k}")
            for k in _PAK_KS
        ],
    )
    stacked = (
        per.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("long").alias("k"),
                            F.when(F.col("n") >= k, F.col(f"p{k}")).alias("p"),
                        )
                        for k in _PAK_KS
                    ]
                )
            ).alias("s")
        )
        .select("s.k", "s.p")
        .filter(F.col("p").isNotNull())
    )
    return (
        stacked.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tasks"),
            F.sum(F.when(F.col("p") == 1000000, 1).otherwise(0))
            .cast("long")
            .alias("saturated_tasks"),
            F.expr("CAST(SUM(p) DIV COUNT(*) AS BIGINT)").alias(
                "mean_pass_micro"
            ),
            F.min("p").cast("long").alias("min_pass_micro"),
            F.max("p").cast("long").alias("max_pass_micro"),
        )
        .orderBy("k")
    )


# ------------------------------------------------- Bradley-Terry strengths
# The preference-model fit of an RLHF pipeline: training_preference_pairs
# builds (chosen, rejected) pairs; this key fits per-group strengths from
# the FULL pairwise win matrix. Groups are the document languages, a
# "comparison" is any cross-group doc pair, the winner is the doc with the
# strictly higher integer quality score (ties discarded, standard BT). The
# win matrix is derived WITHOUT an all-pairs join: wins_ab = sum over a's
# per-score histogram of b's strictly-lower cumulative count (the
# stats_mann_whitney rank-sum machinery, generalized to k groups), then
# the minorize-maximize update p_i <- W_i / sum_j N_ij/(p_i+p_j) (Hunter
# 2004) runs for 4 fixed iterations in micro-units with every division a
# non-negative integer DIV, so the fit is bit-identical across engines.

_BT_ITERS = 4
_BT_TERM = "1000000000000"  # 1e12 iteration scale: N<=2e6 keeps N*1e12 int64


def _bt_iteration_ctes(div: str) -> str:
    """it0..itN CTE chain of the MM update, emitted identically for both
    engines (all operands non-negative, so truncating DIV == floor //)."""
    ctes = []
    for k in range(1, _BT_ITERS + 1):
        prev = f"it{k - 1}"
        ctes.append(
            f"""raw{k} AS (
  SELECT pr.i AS lang,
         CAST(MIN(w.wshare) * {_BT_TERM} {div}
              GREATEST(CAST(SUM(pr.n * {_BT_TERM} {div}
                                GREATEST(pa.p + pb.p, 1)) AS BIGINT), 1)
              AS BIGINT) AS praw
  FROM pairs pr
  JOIN {prev} pa ON pa.lang = pr.i
  JOIN {prev} pb ON pb.lang = pr.j
  JOIN wsum w ON w.lang = pr.i
  GROUP BY pr.i
),
it{k} AS (
  SELECT lang,
         CAST(praw * 1000000 {div}
              GREATEST((SELECT CAST(SUM(praw) AS BIGINT) FROM raw{k}), 1)
              AS BIGINT) AS p
  FROM raw{k}
)"""
        )
    return ",\n".join(ctes)


_BT_SQL = f"""
WITH scored AS (
  SELECT lang,
         (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
          * 1000000)
           // CAST(len(string_split(text, ' ')) AS BIGINT) AS score
  FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
),
hist AS (
  SELECT score, lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM scored GROUP BY 1, 2
),
langs AS (SELECT DISTINCT lang AS other FROM scored),
prevs AS (
  SELECT h.score, h.lang, h.c, l.other,
         COALESCE(SUM(CASE WHEN h.lang = l.other THEN h.c END)
                  OVER (PARTITION BY l.other ORDER BY h.score
                        RANGE BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS prev
  FROM hist h CROSS JOIN langs l
),
wins AS (
  SELECT lang AS winner, other AS loser,
         CAST(SUM(c * prev) AS BIGINT) AS w
  FROM prevs WHERE lang <> other GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wins),
share AS (
  SELECT winner, loser,
         CAST(w * 1000000 // GREATEST(tw, 1) AS BIGINT) AS s
  FROM wins CROSS JOIN tot
),
pairs AS (
  SELECT a.winner AS i, a.loser AS j, a.s + b.s AS n
  FROM share a JOIN share b ON a.winner = b.loser AND a.loser = b.winner
),
wsum AS (
  SELECT winner AS lang, CAST(SUM(s) AS BIGINT) AS wshare
  FROM share GROUP BY 1
),
it0 AS (
  SELECT other AS lang,
         CAST(1000000 // GREATEST((SELECT COUNT(*) FROM langs), 1)
              AS BIGINT) AS p
  FROM langs
),
{_bt_iteration_ctes('//')}
SELECT w.lang,
       w.wshare AS wins_share_micro,
       f.p AS strength_micro,
       CAST(row_number() OVER (ORDER BY f.p DESC, w.lang) AS BIGINT) AS rank
FROM it{_BT_ITERS} f JOIN wsum w ON w.lang = f.lang
ORDER BY rank
"""


@register("eval_bradley_terry", oracle=_BT_SQL, tier="T2")
def eval_bradley_terry(spark, sf_dir):
    """Bradley-Terry strength fit over the cross-language pairwise win
    matrix of the integer document-quality score — the preference-model
    (reward-model) companion to training_preference_pairs: W_i (each
    group's share of total pairwise wins) and the 4-iteration MM strength
    p_i, both in micro-units, plus the strength rank.

    Determinism: the win matrix is exact integer counting (strictly-
    greater scores only, ties discarded); the MM iterations run the
    identical micro-unit DIV chain in both engines (_bt_iteration_ctes
    emits the SQL; this body mirrors it op-for-op), all operands
    non-negative so truncation == floor.

    Scale: no all-pairs join anywhere — wins come from the per-distinct-
    score histogram x the bounded group dimension (|hist| * k rows), with
    one strictly-less cumulative window per group partition (the
    stats_mann_whitney shape; at 100 TB, bucket the score axis first).
    Everything after `share` operates on k*(k-1) rows; each MM iteration
    runs driver-side over the collected bounded matrix (round 11; the
    previous per-iteration Spark jobs with localCheckpoint cuts were
    ~14 driver actions over ≤k²-row frames).
    """
    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    scored = d.select(
        "lang",
        F.expr(
            "(CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
            " * 1000000)"
            " DIV CAST(size(split(text, ' ')) AS BIGINT)"
        ).alias("score"),
    )
    hist = scored.groupBy("score", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    langs = scored.select(F.col("lang").alias("other")).distinct()
    w_cum = (
        Window.partitionBy("other")
        .orderBy("score")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    prevs = hist.crossJoin(F.broadcast(langs)).select(
        "score",
        "lang",
        "c",
        "other",
        F.coalesce(
            F.sum(
                F.when(F.col("lang") == F.col("other"), F.col("c"))
            ).over(w_cum),
            F.lit(0),
        ).alias("prev"),
    )
    wins = (
        prevs.filter(F.col("lang") != F.col("other"))
        .groupBy(
            F.col("lang").alias("winner"), F.col("other").alias("loser")
        )
        .agg(F.sum(F.col("c") * F.col("prev")).cast("long").alias("w"))
    )
    tot = wins.agg(F.sum("w").cast("long").alias("tw"))
    share = wins.crossJoin(F.broadcast(tot)).select(
        "winner",
        "loser",
        F.expr("CAST(w * 1000000 DIV GREATEST(tw, 1) AS BIGINT)").alias(
            "s"
        ),
    )
    # Round-11 optimization (guide §1.2 / §5): everything after `share`
    # operates on the BOUNDED k·(k−1) win-share matrix (k = |langs|, a
    # dimension column — ≤ a few dozen at any corpus scale), yet the
    # previous spelling ran the 4 MM iterations as Spark jobs: per
    # iteration 3 joins + 2 aggregates + a localCheckpoint lineage cut,
    # ~14 driver actions over ≤k²-row frames. The fit now collects the
    # share matrix once (the repo's bounded-constant-collect idiom —
    # same class as _kcore_k's scalar and join_bloom_prefilter's word
    # array) and runs the identical exact-int64 DIV chain in Python:
    # every operand is non-negative and provably < 2^63 (p ≤ 1e6 each
    # iteration ⇒ per-term DIV ≥ 5e5 whenever any n > 0 ⇒ praw ≤ 2e12,
    # praw·1e6 ≤ 2e18), so Python int arithmetic is bit-identical to the
    # engines' int64 DIV. The unchanged DuckDB oracle, which still runs
    # the full 4-iteration CTE chain, pins the rewrite at 3 SFs.
    # Measured: 1.45 → 0.60 s normalized at sf0.1 (plan: 10 jobs → 3).
    share_rows = share.collect()
    n_langs = langs.count()
    s = {(r["winner"], r["loser"]): r["s"] for r in share_rows}
    wsum_d: dict = {}
    for (w_l, _), v in s.items():
        wsum_d[w_l] = wsum_d.get(w_l, 0) + v
    pairs_d = {
        (i, j): s[(i, j)] + s[(j, i)] for (i, j) in s if (j, i) in s
    }
    p_d = {lg: 1000000 // max(n_langs, 1) for lg in wsum_d}
    term = int(_BT_TERM)
    for _ in range(_BT_ITERS):
        praw_d = {}
        for i in wsum_d:
            denom = sum(
                (n_ij * term) // max(p_d[i] + p_d[j], 1)
                for (pi, j), n_ij in pairs_d.items()
                if pi == i
            )
            praw_d[i] = (wsum_d[i] * term) // max(denom, 1)
        sp = sum(praw_d.values())
        p_d = {
            i: (praw * 1000000) // max(sp, 1)
            for i, praw in praw_d.items()
        }
    fitted = sorted(p_d, key=lambda lg: (-p_d[lg], lg))
    data = [
        (lg, wsum_d[lg], p_d[lg], rk + 1) for rk, lg in enumerate(fitted)
    ]
    return spark.createDataFrame(
        data,
        schema="lang string, wins_share_micro long, strength_micro long,"
        " rank long",
    ).orderBy("rank")


# --------------------------------------------- length-bias audit (round 9)
# The classic reward-model failure: scores that secretly reward LENGTH.
# Per language, the monotonic association between document length and the
# quality score (the corpus reward-model stub), plus the top-vs-bottom
# length-decile quality gap — the audit run before trusting any scored
# pool for preference training (eval_bradley_terry / 
# training_preference_pairs consume the same score).

_LB_SQL = """
WITH scored AS (
  SELECT lang, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
         (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
          * 1000000)
           // CAST(len(string_split(text, ' ')) AS BIGINT) AS q
  FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
),
gx AS (
  SELECT lang, ntok,
         2 * SUM(COUNT(*)) OVER (PARTITION BY lang ORDER BY ntok)
           - COUNT(*) + 1 AS dx
  FROM scored GROUP BY lang, ntok
),
gy AS (
  SELECT lang, q,
         2 * SUM(COUNT(*)) OVER (PARTITION BY lang ORDER BY q)
           - COUNT(*) + 1 AS dy
  FROM scored GROUP BY lang, q
),
r AS (
  SELECT s.lang, gx.dx, gy.dy
  FROM scored s
  JOIN gx ON gx.lang = s.lang AND gx.ntok = s.ntok
  JOIN gy ON gy.lang = s.lang AND gy.q = s.q
),
mom AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dx) AS BIGINT) AS sdx, CAST(SUM(dy) AS BIGINT) AS sdy,
         CAST(SUM(dx * dx) AS BIGINT) AS sdx2,
         CAST(SUM(dy * dy) AS BIGINT) AS sdy2,
         CAST(SUM(dx * dy) AS BIGINT) AS sdxy
  FROM r GROUP BY lang
),
dec AS (
  SELECT lang, q,
         ntile(10) OVER (PARTITION BY lang ORDER BY ntok, doc_id) AS d
  FROM scored
),
gap AS (
  SELECT lang,
         CASE WHEN SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) = 0 THEN NULL
              ELSE CAST(SUM(CASE WHEN d = 1 THEN q ELSE 0 END)
                        // SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) END AS q_bottom_micro,
         CASE WHEN SUM(CASE WHEN d = 10 THEN 1 ELSE 0 END) = 0 THEN NULL
              ELSE CAST(SUM(CASE WHEN d = 10 THEN q ELSE 0 END)
                        // SUM(CASE WHEN d = 10 THEN 1 ELSE 0 END)
                        AS BIGINT) END AS q_top_micro
  FROM dec GROUP BY lang
)
SELECT m.lang, m.n AS n_docs,
       CASE WHEN m.n < 2
                 OR m.n * m.sdx2 - m.sdx * m.sdx = 0
                 OR m.n * m.sdy2 - m.sdy * m.sdy = 0 THEN NULL
            ELSE FLOOR((CAST(m.n AS DOUBLE) * m.sdxy
                        - CAST(m.sdx AS DOUBLE) * m.sdy)
                 / sqrt((CAST(m.n AS DOUBLE) * m.sdx2
                         - CAST(m.sdx AS DOUBLE) * m.sdx)
                        * (CAST(m.n AS DOUBLE) * m.sdy2
                           - CAST(m.sdy AS DOUBLE) * m.sdy))
                 * 1000000 + 0.5) / 1000000 END AS rho_len_quality,
       g.q_bottom_micro,
       g.q_top_micro,
       g.q_top_micro - g.q_bottom_micro AS gap_micro
FROM mom m JOIN gap g ON g.lang = m.lang
ORDER BY m.lang
"""


@register("eval_length_bias", oracle=_LB_SQL, tier="T2")
def eval_length_bias(spark, sf_dir):
    """Length-bias audit of the document quality score, per language:
    Spearman rho between token count and score (doubled-tie-rank recipe,
    stats_spearman's machinery partitioned by group) and the mean-score
    gap between the top and bottom length deciles — negative rho/gap here
    means the "reward" anti-correlates with length (this score divides by
    token count), the mirror image of the verbosity bias a real reward
    model is audited for.

    Determinism: ranks/deciles from exact integer cumulative counts and
    ntile over a (length, doc_id) total order (remainder semantics
    verified identical across engines); the only float is the final rho
    expression, NULL-guarded on exact-integer zero-variance tests so
    degenerate groups can never reach a divide-by-zero or an inf cast.

    int64 ceiling: the per-language moment sums grow ~4n³ (doubled ranks
    ≈ 2n, squared, summed over n rows), crossing 2^63 past ≈1.3M docs IN
    ONE LANGUAGE — far above these fixtures (≤ ~30k/lang at sf0.1, with
    ~8 orders of magnitude headroom) but NOT above a 100 TB corpus.
    Beyond that, pre-scale the doubled ranks to milli-units (÷1000
    before the products, the stats_spearman-at-scale note) or partition
    the audit by (lang, shard); note Spark with ANSI off would WRAP
    silently past the ceiling while DuckDB errors, so the oracle — not
    the output — is what catches an overflow regression.

    Scale: rank windows run over per-(lang, distinct-value) aggregates
    (the KS single-reducer bound, partitioned by lang); the rank join
    back is value-keyed; deciles are one window over the lang partition;
    everything else is partial+final aggregates.
    """
    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    scored = d.select(
        "lang",
        "doc_id",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("ntok"),
        F.expr(
            "(CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
            " * 1000000)"
            " DIV CAST(size(split(text, ' ')) AS BIGINT)"
        ).alias("q"),
    )

    def doubled_ranks(col, alias):
        wcum = (
            Window.partitionBy("lang")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            scored.groupBy("lang", col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                "lang",
                col,
                (2 * F.sum("cnt").over(wcum) - F.col("cnt") + 1).alias(alias),
            )
        )

    gx = doubled_ranks("ntok", "dx")
    gy = doubled_ranks("q", "dy")
    mom = (
        scored.join(gx, ["lang", "ntok"])
        .join(gy, ["lang", "q"])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("dx").cast("long").alias("sdx"),
            F.sum("dy").cast("long").alias("sdy"),
            F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sdx2"),
            F.sum(F.col("dy") * F.col("dy")).cast("long").alias("sdy2"),
            F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sdxy"),
        )
    )
    dec = scored.select(
        "lang",
        "q",
        F.ntile(10)
        .over(Window.partitionBy("lang").orderBy("ntok", "doc_id"))
        .alias("d"),
    )
    gap = dec.groupBy("lang").agg(
        F.expr(
            "CASE WHEN SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) = 0 THEN NULL"
            " ELSE CAST(SUM(CASE WHEN d = 1 THEN q ELSE 0 END)"
            " DIV SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) END"
        ).alias("q_bottom_micro"),
        F.expr(
            "CASE WHEN SUM(CASE WHEN d = 10 THEN 1 ELSE 0 END) = 0 THEN NULL"
            " ELSE CAST(SUM(CASE WHEN d = 10 THEN q ELSE 0 END)"
            " DIV SUM(CASE WHEN d = 10 THEN 1 ELSE 0 END) AS BIGINT) END"
        ).alias("q_top_micro"),
    )
    rho = F.expr(
        """CASE WHEN n < 2
                 OR n * sdx2 - sdx * sdx = 0
                 OR n * sdy2 - sdy * sdy = 0 THEN NULL
            ELSE FLOOR((CAST(n AS DOUBLE) * sdxy
                        - CAST(sdx AS DOUBLE) * sdy)
                 / sqrt((CAST(n AS DOUBLE) * sdx2
                         - CAST(sdx AS DOUBLE) * sdx)
                        * (CAST(n AS DOUBLE) * sdy2
                           - CAST(sdy AS DOUBLE) * sdy))
                 * 1000000 + 0.5) / 1000000 END"""
    )
    return (
        mom.join(gap, "lang")
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            rho.alias("rho_len_quality"),
            "q_bottom_micro",
            "q_top_micro",
            (F.col("q_top_micro") - F.col("q_bottom_micro")).alias(
                "gap_micro"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------- regression metrics (round 9)
# The eval battery covers classification, generation, retrieval, and
# calibration; this adds the regression column: MAE / RMSE / R^2 / MAPE
# of a deterministic baseline predictor (each order's price predicted by
# its customer's mean order price — the group-mean model every real
# regressor must beat).

_REG_SQL = """
WITH y AS (
  SELECT o_custkey,
         CAST(FLOOR(o_totalprice) AS BIGINT) AS yv
  FROM orders
),
pred AS (
  SELECT yv,
         CAST(SUM(yv) OVER (PARTITION BY o_custkey)
              // COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS yhat
  FROM y
),
e AS (
  SELECT yv, yhat, ABS(yv - yhat) AS ae FROM pred
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ae) AS BIGINT) AS sae,
         CAST(SUM(ae * ae) AS BIGINT) AS sse,
         CAST(SUM(yv) AS BIGINT) AS sy,
         CAST(SUM(yv * yv) AS BIGINT) AS sy2,
         CAST(MIN(yv) AS BIGINT) AS ymin,
         CAST(MAX(yv) AS BIGINT) AS ymax,
         CAST(SUM(ae * 1000 // GREATEST(yv, 1)) AS BIGINT) AS smape
  FROM e
)
SELECT n,
       CAST(sae // n AS BIGINT) AS mae_dollars,
       (FLOOR(sqrt(CAST(sse AS DOUBLE) / n) * 10000 + 0.5) / 10000)
         AS rmse_dollars,
       CASE WHEN ymin = ymax THEN NULL
            ELSE (FLOOR((1 - CAST(sse AS DOUBLE)
                         / (CAST(sy2 AS DOUBLE)
                            - CAST(sy AS DOUBLE) * sy / n)) * 1000000 + 0.5)
                  / 1000000) END AS r2,
       CAST(smape // n AS BIGINT) AS mape_milli
FROM s
"""


@register("eval_regression_metrics", oracle=_REG_SQL, tier="T2")
def eval_regression_metrics(spark, sf_dir):
    """Regression evaluation metrics — MAE, RMSE, R^2, MAPE — for the
    customer-group-mean baseline predictor of order price (whole
    dollars): the one-row scorecard every regression model is compared
    against.

    Determinism: y and yhat are exact int64 (floor dollars; the group
    mean is an integer DIV), so the absolute/squared error sums and the
    per-row MAPE terms are exact integers; only the final RMSE sqrt and
    the R^2 ratio are floats, each a single fixed IEEE expression over
    exact sums, half-up rounded. Whole dollars (not cents) keep
    sum(y^2) around 5e16 at sf0.1 — int64-safe with two orders of
    magnitude to spare at SF 10. R^2 is NULL on a zero-variance
    (constant-price) input, tested as MIN(y) = MAX(y) — exactly
    equivalent to the n·Σy² − (Σy)² = 0 moment test but overflow-free
    (n·Σy² would cross 2^63 near sf0.1) — so the scorecard can never
    emit NaN/Inf (the eval_length_bias guard convention).

    Scale: one partition-keyed window pair for the predictor (same
    shuffle as the groupBy it replaces), then a single partial+final
    global aggregate — no joins, nothing driver-side.
    """
    o = load(spark, sf_dir, "orders")
    y = o.select(
        "o_custkey",
        F.floor(F.col("o_totalprice")).cast("long").alias("yv"),
    )
    pred = y.select(
        "yv",
        F.expr(
            "CAST(SUM(yv) OVER (PARTITION BY o_custkey)"
            " DIV COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT)"
        ).alias("yhat"),
    )
    e = pred.select(
        "yv", "yhat", F.abs(F.col("yv") - F.col("yhat")).alias("ae")
    )
    s = e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ae").cast("long").alias("sae"),
        F.sum(F.col("ae") * F.col("ae")).cast("long").alias("sse"),
        F.sum("yv").cast("long").alias("sy"),
        F.sum(F.col("yv") * F.col("yv")).cast("long").alias("sy2"),
        F.min("yv").cast("long").alias("ymin"),
        F.max("yv").cast("long").alias("ymax"),
        F.expr(
            "CAST(SUM(ae * 1000 DIV GREATEST(yv, 1)) AS BIGINT)"
        ).alias("smape"),
    )
    return s.select(
        "n",
        F.expr("CAST(sae DIV n AS BIGINT)").alias("mae_dollars"),
        (
            F.floor(
                F.sqrt(F.col("sse").cast("double") / F.col("n")) * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("rmse_dollars"),
        F.when(F.col("ymin") == F.col("ymax"), F.lit(None).cast("double"))
        .otherwise(
            F.floor(
                (
                    F.lit(1)
                    - F.col("sse").cast("double")
                    / (
                        F.col("sy2").cast("double")
                        - F.col("sy").cast("double") * F.col("sy") / F.col("n")
                    )
                )
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        )
        .alias("r2"),
        F.expr("CAST(smape DIV n AS BIGINT)").alias("mape_milli"),
    )


# ------------------------------------------------------ DeLong paired AUC
# Two competing "models" score every order: model A = total price in cents,
# model B = order date as epoch days. Label = order finished. Per market
# segment, DeLong's placement-based estimator gives each model's AUC, the
# paired variance of the AUC DIFFERENCE (the V10/V01 structural components
# share the same rows, so the covariance term matters), and the z statistic
# for H0: AUC_A = AUC_B. Sun & Xu's midrank formulation: per positive i,
# V10_i = (R_i - R10_i) / n where R is the combined midrank and R10 the
# within-positives midrank; symmetrically V01 for negatives.

_DL_SQL = """
WITH base AS (
  SELECT c.c_mktsegment AS segment,
         CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS sa,
         CAST(date_diff('day', DATE '1990-01-01', CAST(o.o_orderdate AS DATE)) AS BIGINT) AS sb,
         CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_totalprice IS NOT NULL
),
ranked AS (
  SELECT segment, y,
         2 * (rank() OVER (PARTITION BY segment ORDER BY sa)
              - rank() OVER (PARTITION BY segment, y ORDER BY sa))
           + COUNT(*) OVER (PARTITION BY segment, sa)
           - COUNT(*) OVER (PARTITION BY segment, y, sa) AS ua,
         2 * (rank() OVER (PARTITION BY segment ORDER BY sb)
              - rank() OVER (PARTITION BY segment, y ORDER BY sb))
           + COUNT(*) OVER (PARTITION BY segment, sb)
           - COUNT(*) OVER (PARTITION BY segment, y, sb) AS ub,
         CAST(SUM(y) OVER (PARTITION BY segment) AS BIGINT) AS m,
         CAST(COUNT(*) OVER (PARTITION BY segment) - SUM(y) OVER (PARTITION BY segment) AS BIGINT) AS n
  FROM base
),
micro AS (
  SELECT segment, y, ua, ub, m, n,
         CASE WHEN y = 1 THEN (ua * 1000000) // (2 * n)
              ELSE ((2 * m - ua) * 1000000) // (2 * m) END AS va,
         CASE WHEN y = 1 THEN (ub * 1000000) // (2 * n)
              ELSE ((2 * m - ub) * 1000000) // (2 * m) END AS vb
  FROM ranked
  WHERE m >= 2 AND n >= 2
),
agg AS (
  SELECT segment, MAX(m) AS m, MAX(n) AS n,
         SUM(CASE WHEN y = 1 THEN ua ELSE 0 END) AS sua_pos,
         SUM(CASE WHEN y = 1 THEN ub ELSE 0 END) AS sub_pos,
         SUM(CASE WHEN y = 1 THEN va ELSE 0 END) AS p_sva,
         SUM(CASE WHEN y = 1 THEN va * va ELSE 0 END) AS p_sva2,
         SUM(CASE WHEN y = 1 THEN vb ELSE 0 END) AS p_svb,
         SUM(CASE WHEN y = 1 THEN vb * vb ELSE 0 END) AS p_svb2,
         SUM(CASE WHEN y = 1 THEN va * vb ELSE 0 END) AS p_svab,
         SUM(CASE WHEN y = 0 THEN va ELSE 0 END) AS q_sva,
         SUM(CASE WHEN y = 0 THEN va * va ELSE 0 END) AS q_sva2,
         SUM(CASE WHEN y = 0 THEN vb ELSE 0 END) AS q_svb,
         SUM(CASE WHEN y = 0 THEN vb * vb ELSE 0 END) AS q_svb2,
         SUM(CASE WHEN y = 0 THEN va * vb ELSE 0 END) AS q_svab
  FROM micro GROUP BY segment
),
stats AS (
  SELECT segment, m, n,
         CAST(sua_pos AS DOUBLE) / (2.0 * m * n) AS auc_a,
         CAST(sub_pos AS DOUBLE) / (2.0 * m * n) AS auc_b,
         ((CAST(m AS DOUBLE) * p_sva2 - CAST(p_sva AS DOUBLE) * p_sva)
            / (CAST(m AS DOUBLE) * (m - 1)) / 1e12
          + (CAST(m AS DOUBLE) * p_svb2 - CAST(p_svb AS DOUBLE) * p_svb)
            / (CAST(m AS DOUBLE) * (m - 1)) / 1e12
          - 2 * (CAST(m AS DOUBLE) * p_svab - CAST(p_sva AS DOUBLE) * p_svb)
            / (CAST(m AS DOUBLE) * (m - 1)) / 1e12) / m
         + ((CAST(n AS DOUBLE) * q_sva2 - CAST(q_sva AS DOUBLE) * q_sva)
            / (CAST(n AS DOUBLE) * (n - 1)) / 1e12
          + (CAST(n AS DOUBLE) * q_svb2 - CAST(q_svb AS DOUBLE) * q_svb)
            / (CAST(n AS DOUBLE) * (n - 1)) / 1e12
          - 2 * (CAST(n AS DOUBLE) * q_svab - CAST(q_sva AS DOUBLE) * q_svb)
            / (CAST(n AS DOUBLE) * (n - 1)) / 1e12) / n AS var_diff
  FROM agg
)
SELECT segment,
       CAST(m AS BIGINT) AS m_pos,
       CAST(n AS BIGINT) AS n_neg,
       FLOOR(auc_a * 1000000 + 0.5) / 1000000 AS auc_a,
       FLOOR(auc_b * 1000000 + 0.5) / 1000000 AS auc_b,
       FLOOR((auc_a - auc_b) * 1000000 + 0.5) / 1000000 AS auc_diff,
       FLOOR(sqrt(GREATEST(var_diff, 0)) * 1000000 + 0.5) / 1000000 AS se_diff,
       CASE WHEN var_diff > 0
            THEN FLOOR((auc_a - auc_b) / sqrt(var_diff) * 1000000 + 0.5) / 1000000
            ELSE NULL END AS z_score
FROM stats
ORDER BY segment
"""


@register("eval_auc_delong_paired", oracle=_DL_SQL, tier="T2")
def eval_auc_delong_paired(spark, sf_dir):
    """Paired AUC comparison with DeLong variance: per segment, both
    models' AUCs, the covariance-corrected standard error of their
    difference, and the z statistic — the standard test for "is model A's
    AUC significantly higher than model B's on the SAME eval set".

    Method (Sun & Xu midrank formulation): per positive i,
    V10_i = (R_i - R10_i)/n with R the combined and R10 the
    within-positives midrank (symmetrically V01 for negatives);
    AUC = mean(V10); var(AUC_A - AUC_B) = (s10A + s10B - 2·cov10)/m
    + (s01A + s01B - 2·cov01)/n with SAMPLE (m-1) variances — the paired
    covariance term is the point: both models' placements come from the
    same rows.

    Implementation shape: a placement only depends on (segment, class,
    score), so the per-row windows of the textbook formulation are
    replaced by cumulative counts over the per-segment DISTINCT-score
    table (the stats_auc_roc shape — windows bounded by |distinct
    scores|, never user-proportional) — u_pos(s) = 2·neg_below + neg_at,
    u_neg(s) = 2·pos_below + pos_at; the cumulative counts are RANGE-frame
    window sums over the JOINT (segment, y, score_a, score_b) aggregate
    itself, whose group counts then weight the paired moments. The
    oracle keeps the per-row window formulation —
    agreeing results prove the refactor, and the property suite's
    direct-counting Python reference is a third independent derivation.

    Determinism: placements are integer DOUBLE-midrank differences,
    quantized to MICRO-V via truncating DIV before any squaring,
    per-class Σv/Σv²/Σv·v are exact int64 sums, and only the final
    variance formula converts to IEEE doubles (identical operands →
    identical bits), quantized half-up to 6dp. Headroom:
    Σv² ≤ class_size·1e12 — exact to ~9e6 rows per (segment, class);
    beyond that pre-center the micro-placements (one extra aggregate).

    Degenerate guard: segments with fewer than 2 positives or 2
    negatives are dropped (sample variance needs m,n ≥ 2, and the micro
    quantizer would divide by zero) — identically in both engines.

    Scale: one partial+final joint aggregate, two RANGE-frame windows
    over its groups (one shared segment exchange, so window parallelism
    is bounded by the segment count), one final aggregate — no join
    after the customer broadcast.
    """
    from ..ops.materialize import materialize

    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    c = load(spark, sf_dir, "customer")
    # materialize the 4-thin-column gate output. The joint aggregate is its
    # only consumer, so the cut may no longer pay for itself; dropping it
    # changes the plan and waits for an interleaved A/B.
    base = materialize(
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
            F.col("c_mktsegment").alias("segment"),
            F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("sa"),
            F.expr(
                "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01') AS BIGINT)"
            ).alias("sb"),
            F.when(F.col("o_orderstatus") == "F", F.lit(1))
            .otherwise(F.lit(0))
            .alias("y"),
        )
    )
    joint = base.groupBy("segment", "y", "sa", "sb").agg(
        F.count(F.lit(1)).cast("long").alias("cj")
    )
    # A placement depends only on (segment, score), and the joint
    # aggregate already carries every (segment, y, sa, sb) group with
    # its count — so the per-score marginal tables and their join-back
    # collapse into RANGE-frame cumulative sums over `joint` itself
    # (ties share a frame, so the joint grain reproduces the marginal
    # cumulative exactly), and the per-segment totals (`tot`) become
    # whole-partition window sums. Removes 2 aggregate scans, 2
    # sort-merge joins and a broadcast join; the two window sorts
    # ((segment, sa), then (segment, sb)) share one segment exchange.
    # Against that joined form: 26 Exchange -> 6, 4 SMJ -> 0 in the plan,
    # and a wall-clock tie — interleaved A/Bs at sf0.1 over 3 sessions
    # (4.95/2.87/3.52 s joined vs 4.86/3.58/3.26 s windowed) and a
    # trimmed A/B at sf1 (2.49 s joined vs 2.55 s windowed). The window
    # form is kept on the strictly-smaller-shuffle rule.
    j = joint
    for score in ("sa", "sb"):
        w_cum = (
            Window.partitionBy("segment")
            .orderBy(score)
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        w_strict = (
            Window.partitionBy("segment")
            .orderBy(score)
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        cj_pos = F.when(F.col("y") == 1, F.col("cj")).otherwise(F.lit(0))
        below_all = F.coalesce(F.sum("cj").over(w_strict), F.lit(0))
        below_pos = F.coalesce(F.sum(cj_pos).over(w_strict), F.lit(0))
        le_all = F.sum("cj").over(w_cum)
        le_pos = F.sum(cj_pos).over(w_cum)
        at_all = le_all - below_all
        at_pos = le_pos - below_pos
        j = j.withColumns(
            {
                # u_pos(s) = 2·neg_below + neg_at; u_neg(s) = 2·pos_below
                # + pos_at — identical integers to the marginal-table form
                f"upos_{score}": 2 * (below_all - below_pos)
                + (at_all - at_pos),
                f"uneg_{score}": 2 * below_pos + at_pos,
            }
        )
    w_seg = Window.partitionBy("segment")
    j = j.withColumns(
        {
            "m": F.sum(
                F.when(F.col("y") == 1, F.col("cj")).otherwise(F.lit(0))
            ).over(w_seg),
            "n": F.sum(
                F.when(F.col("y") == 0, F.col("cj")).otherwise(F.lit(0))
            ).over(w_seg),
        }
    ).filter((F.col("m") >= 2) & (F.col("n") >= 2))
    rowv = j.select(
        "segment",
        "y",
        "cj",
        "m",
        "n",
        F.expr("CASE WHEN y = 1 THEN upos_sa ELSE uneg_sa END").alias("ua"),
        F.expr("CASE WHEN y = 1 THEN upos_sb ELSE uneg_sb END").alias("ub"),
    ).select(
        "segment",
        "y",
        "cj",
        "m",
        "n",
        "ua",
        "ub",
        F.expr(
            "CASE WHEN y = 1 THEN (ua * 1000000) DIV (2 * n)"
            " ELSE ((2 * m - ua) * 1000000) DIV (2 * m) END"
        ).alias("va"),
        F.expr(
            "CASE WHEN y = 1 THEN (ub * 1000000) DIV (2 * n)"
            " ELSE ((2 * m - ub) * 1000000) DIV (2 * m) END"
        ).alias("vb"),
    )

    def _csum(expr: str, cls: int) -> F.Column:
        return F.sum(
            F.expr(f"CASE WHEN y = {cls} THEN cj * ({expr}) ELSE 0 END")
        ).cast("long")

    agg = rowv.groupBy("segment").agg(
        F.max("m").alias("m"),
        F.max("n").alias("n"),
        _csum("ua", 1).alias("sua_pos"),
        _csum("ub", 1).alias("sub_pos"),
        _csum("va", 1).alias("p_sva"),
        _csum("va * va", 1).alias("p_sva2"),
        _csum("vb", 1).alias("p_svb"),
        _csum("vb * vb", 1).alias("p_svb2"),
        _csum("va * vb", 1).alias("p_svab"),
        _csum("va", 0).alias("q_sva"),
        _csum("va * va", 0).alias("q_sva2"),
        _csum("vb", 0).alias("q_svb"),
        _csum("vb * vb", 0).alias("q_svb2"),
        _csum("va * vb", 0).alias("q_svab"),
    )
    stats = agg.select(
        "segment",
        "m",
        "n",
        F.expr("CAST(sua_pos AS DOUBLE) / (2.0 * m * n)").alias("auc_a"),
        F.expr("CAST(sub_pos AS DOUBLE) / (2.0 * m * n)").alias("auc_b"),
        F.expr(
            "((CAST(m AS DOUBLE) * p_sva2 - CAST(p_sva AS DOUBLE) * p_sva)"
            "   / (CAST(m AS DOUBLE) * (m - 1)) / 1e12"
            " + (CAST(m AS DOUBLE) * p_svb2 - CAST(p_svb AS DOUBLE) * p_svb)"
            "   / (CAST(m AS DOUBLE) * (m - 1)) / 1e12"
            " - 2 * (CAST(m AS DOUBLE) * p_svab - CAST(p_sva AS DOUBLE) * p_svb)"
            "   / (CAST(m AS DOUBLE) * (m - 1)) / 1e12) / m"
            " + ((CAST(n AS DOUBLE) * q_sva2 - CAST(q_sva AS DOUBLE) * q_sva)"
            "   / (CAST(n AS DOUBLE) * (n - 1)) / 1e12"
            " + (CAST(n AS DOUBLE) * q_svb2 - CAST(q_svb AS DOUBLE) * q_svb)"
            "   / (CAST(n AS DOUBLE) * (n - 1)) / 1e12"
            " - 2 * (CAST(n AS DOUBLE) * q_svab - CAST(q_sva AS DOUBLE) * q_svb)"
            "   / (CAST(n AS DOUBLE) * (n - 1)) / 1e12) / n"
        ).alias("var_diff"),
    )
    return stats.select(
        "segment",
        F.col("m").cast("long").alias("m_pos"),
        F.col("n").cast("long").alias("n_neg"),
        (F.floor(F.col("auc_a") * 1000000 + 0.5) / 1000000).alias("auc_a"),
        (F.floor(F.col("auc_b") * 1000000 + 0.5) / 1000000).alias("auc_b"),
        (
            F.floor((F.col("auc_a") - F.col("auc_b")) * 1000000 + 0.5) / 1000000
        ).alias("auc_diff"),
        (
            F.floor(
                F.sqrt(F.greatest(F.col("var_diff"), F.lit(0.0))) * 1000000 + 0.5
            )
            / 1000000
        ).alias("se_diff"),
        F.when(
            F.col("var_diff") > 0,
            F.floor(
                (F.col("auc_a") - F.col("auc_b"))
                / F.sqrt(F.col("var_diff"))
                * 1000000
                + 0.5
            )
            / 1000000,
        ).alias("z_score"),
    ).orderBy("segment")
