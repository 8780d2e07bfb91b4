"""Statistical audits over the corpus tables: ranking metrics (ROC-AUC,
precision/recall sweep, calibration error), agreement and rank
correlation, Pareto selection, resampling intervals (Poisson bootstrap,
leave-one-source-out), drift tests (KS, CUSUM) and the
differential-privacy noisy release.

q137 — BINNED ROC-AUC (Mann-Whitney form). Evaluates the q135
classifier against a deterministic reference label (lang = 'en').
AUC = P(s_pos > s_neg) + P(tie)/2 is computed exactly over scores
quantized into fixed 0.5-logit-unit bins:

    b = clamp(floor(logit_u / 500_000), -40, 40)     (<= 81 bins)
    AUC*2*P*N = sum_b [ 2 * pos_b * cumneg_<b  +  pos_b * neg_b ]

The per-bin (pos, neg) histogram is a map-side-combinable groupBy; the
cumulative sits on a PROVABLY TINY grain (<= 81 rows — the documented
exception to the no-global-window rule, see CLAUDE.md), and the final
ratio is one IEEE division of exact integers. This is how AUC is
actually computed at corpus scale (a global sort of 100 TB of scores
is never run; every production metric stack bins first).

q138 — PRECISION/RECALL/F1 THRESHOLD SWEEP over the same binned
histogram: 7 fixed thresholds (multiples of the bin width, so
``logit_u >= t  <=>  b >= t/500_000`` holds EXACTLY for integer
logits), each threshold's confusion counts reduced from the <= 81-row
histogram — the tiny-side cross join costs 81*7 rows. Counts are
integers; the P/R/F1 ratios are single IEEE divisions snapped to
micro-units; empty denominators yield the panel sentinel -1.

q151 — DETECTOR AGREEMENT, CHANCE-CORRECTED (Cohen's kappa, 1960).
Raw overlap counts between two detectors are not enough; for
QUALITY GATES the curation literature reports kappa, which corrects
agreement for chance: with per-detector marginals a1/a0, b1/b0 over N
docs, kappa = (p_o - p_e) / (1 - p_e). Detector A is the q135 linear
classifier (logit_u >= 0), detector B the q130 unigram-entropy gate —
both already oracle-verified, both defined over the same >=1-token doc
set, so the join is a doc_id equi-join with no row loss. The 2x2
confusion reduces in ONE map-side-combinable aggregate (N, a1, b1,
n11; the other cells are derived), and kappa is computed from the
EXACT integer identity
    kappa = (N*(n00+n11) - E) / (N^2 - E),  E = a1*b1 + a0*b0
— one IEEE division at the end, snapped to micro-units. (N^2 * 1e6
must stay under 2^53: exact up to N ~ 9.5e4 per partitioned audit
grain; a full-corpus run at larger N reports kappa per md5 shard.)

q153 — RANK-CORRELATION DRIFT (Kendall tau-a between two quality
rankings). When a pipeline swaps quality filters, the question is not
"do the scores match" but "do they ORDER the corpus the same way" —
the standard scalar is Kendall's tau. All-pairs tau is O(N^2), so
production evals compute it on a deterministic sample (the q107
honest-sampled-eval protocol): docs with md5_bucket(doc_id, 29) == 0
form the sample, the pair grid is a broadcast self-join OF THE SAMPLE
ONLY, and concordant/discordant/tied counts are exact integers over
(q135 logit_u, q130 entropy) score pairs. tau_a = (C - D) / (n(n-1)/2)
is one snapped IEEE division. Ties in either score are counted and
excluded from both C and D (tau-a convention over a fixed denominator).

q155 — PARETO-FRONTIER DATA SELECTION. Data-selection recipes trade
off multiple per-doc merits (here: lexical diversity x = #distinct
tokens vs raw length y = n_chars); the docs worth human inspection are
the NON-DOMINATED ones — no other doc in the same language is >= on
both axes and > on one. The naive frontier is an all-pairs dominance
test; the scalable form used here reduces the corpus FIRST with a
map-side-combinable groupBy(lang, x) -> (max y, count), then runs one
suffix-max window over the tiny (lang, x) grain: a group is on the
frontier iff its max-y exceeds every max-y at strictly larger x.
Integer-only — zero IEEE operations.
Scale shape: one partial-agg shuffle at the (lang, x) grain (x is
bounded by the per-doc distinct-token count, a few hundred values);
the window runs on that provably tiny table (the q137 documented
tiny-grain exception).

q157 — CALIBRATION / EXPECTED CALIBRATION ERROR. q137 measures
DISCRIMINATION (AUC); deployment also needs CALIBRATION — does a
predicted probability of 0.8 keep 80% good docs? Binned ECE over the
SAME <= 81-bin logit histogram as q137 (zero extra corpus passes):
per bin, confidence is the sigmoid of the BIN CENTER (the binned-ECE
approximation, documented — avoids a per-row exp) and accuracy is the
bin's positive rate (label: lang = 'en', q137's convention); both are
snapped to micro-units, the per-bin gap |acc_u - conf_u| is then an
exact integer, and ECE_u = round(sum(gap_u * n_b) / N) is ONE final
snapped division.
Scale shape: one map-side-combinable histogram aggregate (shared with
q137's builder); everything else runs on <= 81 rows.

q190 — DIFFERENTIAL-PRIVACY NOISY COUNT RELEASE + UTILITY AUDIT
(Dwork et al. 2006). Per-source document counts released under the
Laplace mechanism (sensitivity 1, epsilon 1 -> scale b = 1), with the
utility audit a data steward runs before shipping the release: L1
error per cell and rank agreement between the true and noisy top-N.
Noise is md5-DERIVED pseudo-randomness (the repo's oracle discipline —
never engine rand()): u = (k + 0.5)/1e6 from the first 8 md5 hex
digits of the salted source, inverse-CDF'd through the Laplace
quantile -b * sign(u - 1/2) * ln(1 - 2|u - 1/2|). The +0.5 offset
keeps u strictly inside (0,1) so the ln argument is never 0. All
doubles are ROUND(,6)-frozen; ranks are computed on the FROZEN noisy
value with the source string as tie-break, so both engines rank the
identical surface.
Reference intent: the reference stores extraction stats per database
(reference src/rag/vector_database.py:412-445 stats); this
is the privacy-correct way to publish them.

Scale shape: one mergeable count per source, then windows over the
|sources| rollup (tiny). Zero corpus-sized joins or windows.

q191 — POISSON-BOOTSTRAP CONFIDENCE INTERVAL (Chamandy et al. 2012,
"Estimating uncertainty for massive data streams" — the Google
bootstrap for exactly this setting). The classic bootstrap resamples
n rows WITH replacement — impossible distributed; the Poisson
bootstrap replaces each row's multinomial count with an independent
Poisson(1) weight, turning resampling into a MAP-SIDE weight column:
32 replicates of the mean-n_chars statistic computed in ONE pass as
sum(w*x)/sum(w) per replicate, w drawn by inverse-CDF lookup of a
Poisson(1) table against md5(doc_id, r) micro-uniforms (integer
thresholds precomputed driver-side; exact in both engines). The 95%
interval is the nearest-rank 2nd/31st of the 32 replicate means.
A jackknife (leave-one-bucket-out, systematic) is the other option;
this is the replicate-weight family every large-scale eval actually ships.

Scale shape: explode x32 is map-side generation feeding a 32-group
partial aggregation — one corpus scan, one 32-row shuffle; the CI
window runs over 32 rows.

q192 — LEAVE-ONE-SOURCE-OUT INFLUENCE (ablation-style data
attribution; the group-level form of influence functions / datamodels
that large-corpus teams actually run, cf. Ilyas et al. 2022). For the
corpus statistic mean(n_chars): how much does each SOURCE move it?
influence(s) = full_mean - mean_without(s), computed for every source
in ONE pass: per-source (n_i, sum_i) mergeable aggs + one broadcast
global (N, S); the leave-one-out mean is (S - s_i)/(N - n_i) — exact
BIGINT sums, one IEEE division each, ROUND(,6)-frozen. Rank by
absolute influence (tie-break source) names the sources that dominate
the statistic — the audit run before deciding what to re-crawl or
drop. Complements q191 (how UNCERTAIN is the number); unlike a
jackknife over md5 folds (random groups) this is the semantically
meaningful grouping.

Scale shape: one mergeable groupBy(source) + a 1-row broadcast; the
ranking window runs over |sources| rows. No corpus-sized join, window,
or second scan.

q197 — TWO-SAMPLE KOLMOGOROV-SMIRNOV TEST (Smirnov 1939): the
CONTINUOUS-distribution drift gate over document lengths. Are the
n_chars distributions of the two md5 halves the
same? D = max_v |F_A(v) - F_B(v)| over the empirical CDFs. Computed on
the VALUE grain (distinct n_chars values, far smaller than the
corpus): per-value counts per half -> prefix sums -> the gap in exact
integer micro-units |cum_a * n_b - cum_b * n_a| * 1e6 // (n_a * n_b)
(no floats at all). Output: the 20 largest-gap values (tie: value asc)
with their CDF positions, the global D, and the scaled statistic
sqrt(n_a*n_b/(n_a+n_b)) * D (ROUND(,6) double) whose >1.36 rejection
threshold is the alpha=0.05 KS line.

Scale shape: one mergeable groupBy(value); the prefix-sum window runs
over the value grain (bounded by the number of distinct lengths, not
corpus size; range-bucket the window key if values are unbounded).

q206 — CUSUM DRIFT DETECTOR (Page 1954). The sequential-analysis
member of the drift family: q197 tests snapshot A vs
snapshot B; CUSUM watches a STREAM of ingestion batches and flags the
batch at which the mean shifted. Batches are the 10 deterministic md5
ingestion buckets (q188's convention) in bucket order; the monitored
statistic is the batch mean of n_chars in integer micro-units
(floor-div — engine-identical); the reference value mu0 is the global
mean, the slack k is 1% of it. The one-sided CUSUM recurrence
S_t = max(0, S_{t-1} + (x_t - mu0 - k)) is not a plain prefix sum,
but it has the classical closed form S_t = P_t - min_{j<=t} P_j over
the prefix sums P of the deviations — TWO stacked windows, no
recursion, exact BIGINT micro-units end to end. Both one-sided
statistics (upward and downward shift) are reported with the alarm
flag at decision interval h = 5% of mu0.
The pytest proves the closed form equals the classical recurrence
exactly (both on the corpus and on a synthetic shifted stream); at
tiny scale factors the 5% interval can fire on small-sample noise
(~50 docs/bucket at sf0.001), which is the correct behavior of the
statistic, not a defect — the oracle verifies the same decision.

Scale shape: one mergeable groupBy(bucket) over the corpus; every
window runs over the 10-row bucket grain. At a real 10^6-batch
history the prefix windows key on coarse time ranges — same shape.
"""

from __future__ import annotations

import math

from pyspark.sql import Window, functions as F

from sparkextract.queries.base import load, md5_bucket, md5_bucket_sql, register
from sparkextract.queries.quality import (
    _Q130_ORACLE,
    _Q135_CORE_SQL,
    _q135_features,
    _q138_ratio_sql,
    q130_token_entropy,
)


_Q137_BIN_U = 500_000  # histogram bin width in logit micro-units


_Q137_BIN_CLAMP = 40  # bins clamp to [-40, 40] -> <= 81 rows, provably tiny


# shared histogram: (b, pos_b, neg_b) — label is lang = 'en'
_Q137_HIST_SQL = f"""
  SELECT LEAST(GREATEST(CAST(FLOOR(logit_u / {_Q137_BIN_U}.0) AS INTEGER),
                        -{_Q137_BIN_CLAMP}), {_Q137_BIN_CLAMP}) AS b,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS pos_b,
         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
           AS neg_b
  FROM ({_Q135_CORE_SQL})
  GROUP BY 1
"""


_Q137_ORACLE = f"""
WITH bkt AS ({_Q137_HIST_SQL}),
c AS (
  SELECT b, pos_b, neg_b,
         COALESCE(SUM(neg_b) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cumneg_lt
  FROM bkt
)
SELECT CAST(SUM(pos_b) AS BIGINT) AS n_pos,
       CAST(SUM(neg_b) AS BIGINT) AS n_neg,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(ROUND(CAST(SUM(2 * pos_b * cumneg_lt + pos_b * neg_b)
                       AS DOUBLE) * 1000000.0
                  / (2.0 * SUM(pos_b) * SUM(neg_b))) AS BIGINT) AS auc_u
FROM c
"""


def _q137_hist(spark, sf_dir):
    f = _q135_features(spark, sf_dir)
    b = F.least(
        F.greatest(
            F.floor(F.col("logit_u") / F.lit(float(_Q137_BIN_U))).cast("int"),
            F.lit(-_Q137_BIN_CLAMP),
        ),
        F.lit(_Q137_BIN_CLAMP),
    )
    pos = F.when(F.col("lang") == "en", 1).otherwise(0)
    return f.groupBy(b.alias("b")).agg(
        F.sum(pos).cast("long").alias("pos_b"),
        F.sum(1 - pos).cast("long").alias("neg_b"),
    )


@register("q137_roc_auc", oracle=_Q137_ORACLE)
def q137_roc_auc(spark, sf_dir):
    bkt = _q137_hist(spark, sf_dir)
    # <= 81 rows: the documented tiny-grain exception to the
    # no-global-window rule (CLAUDE.md) — identical shape to the oracle
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    c = bkt.select(
        "b",
        "pos_b",
        "neg_b",
        F.coalesce(F.sum("neg_b").over(w), F.lit(0)).alias("cumneg_lt"),
    )
    num2 = F.sum(
        2 * F.col("pos_b") * F.col("cumneg_lt")
        + F.col("pos_b") * F.col("neg_b")
    )
    p = F.sum("pos_b")
    n = F.sum("neg_b")
    return c.agg(
        p.cast("long").alias("n_pos"),
        n.cast("long").alias("n_neg"),
        F.count("*").cast("long").alias("n_bins"),
        F.round(
            num2.cast("double") * F.lit(1000000.0)
            / (F.lit(2.0) * p * n)
        )
        .cast("long")
        .alias("auc_u"),
    )


# thresholds: multiples of the bin width, so logit_u >= t <=> b >= t/width
_Q138_THRESHOLDS_U = (
    -2_000_000,
    -1_500_000,
    -1_000_000,
    -500_000,
    0,
    500_000,
    1_000_000,
)


_Q138_ORACLE = f"""
WITH bkt AS ({_Q137_HIST_SQL}),
thr AS (
  SELECT UNNEST([{", ".join(str(t) for t in _Q138_THRESHOLDS_U)}])
    AS threshold_u
),
cm AS (
  SELECT t.threshold_u,
         CAST(SUM(CASE WHEN b.b >= t.threshold_u / {_Q137_BIN_U}
                       THEN b.pos_b ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN b.b >= t.threshold_u / {_Q137_BIN_U}
                       THEN b.neg_b ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN b.b >= t.threshold_u / {_Q137_BIN_U}
                       THEN 0 ELSE b.pos_b END) AS BIGINT) AS fn
  FROM thr t CROSS JOIN bkt b
  GROUP BY 1
)
SELECT threshold_u, tp, fp, fn,
       {_q138_ratio_sql('tp', 'tp + fp')} AS precision_u,
       {_q138_ratio_sql('tp', 'tp + fn')} AS recall_u,
       {_q138_ratio_sql('2 * tp', '2 * tp + fp + fn')} AS f1_u
FROM cm
"""


@register("q138_pr_thresholds", oracle=_Q138_ORACLE)
def q138_pr_thresholds(spark, sf_dir):
    bkt = _q137_hist(spark, sf_dir)
    thr = spark.createDataFrame(
        [(t,) for t in _Q138_THRESHOLDS_U], "threshold_u long"
    )
    # tiny x tiny: <= 81-row histogram against 7 broadcast thresholds
    k = (F.col("threshold_u") / _Q137_BIN_U).cast("int")
    hit = F.col("b") >= k
    cm = (
        bkt.crossJoin(F.broadcast(thr))
        .groupBy("threshold_u")
        .agg(
            F.sum(F.when(hit, F.col("pos_b")).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(hit, F.col("neg_b")).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when(hit, F.lit(0)).otherwise(F.col("pos_b")))
            .cast("long")
            .alias("fn"),
        )
    )

    def _ratio(num, den):
        return F.when(den == 0, F.lit(-1).cast("long")).otherwise(
            F.round(num.cast("double") * F.lit(1000000.0) / den).cast("long")
        )

    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return cm.select(
        "threshold_u",
        "tp",
        "fp",
        "fn",
        _ratio(tp, tp + fp).alias("precision_u"),
        _ratio(tp, tp + fn).alias("recall_u"),
        _ratio(2 * tp, 2 * tp + fp + fn).alias("f1_u"),
    )


_Q151_ORACLE = f"""
WITH a AS (
  SELECT doc_id, (logit_u >= 0) AS ka FROM ({_Q135_CORE_SQL})
), b AS (
  SELECT doc_id, keep AS kb FROM ({_Q130_ORACLE})
), cells AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN ka THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         CAST(SUM(CASE WHEN kb THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         CAST(SUM(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n11
  FROM a JOIN b USING (doc_id)
)
SELECT n, n11,
       CAST(a1 - n11 AS BIGINT) AS n10,
       CAST(b1 - n11 AS BIGINT) AS n01,
       CAST(n - a1 - b1 + n11 AS BIGINT) AS n00,
       CAST(ROUND((n - a1 - b1 + 2 * n11) * 1000000.0 / n) AS BIGINT)
         AS po_u,
       CAST(ROUND((a1 * b1 + (n - a1) * (n - b1)) * 1000000.0 / (n * n))
            AS BIGINT) AS pe_u,
       CAST(ROUND((n * (n - a1 - b1 + 2 * n11)
                   - (a1 * b1 + (n - a1) * (n - b1))) * 1000000.0
                  / (n * n - (a1 * b1 + (n - a1) * (n - b1))))
            AS BIGINT) AS kappa_u
FROM cells
"""


@register("q151_detector_kappa", oracle=_Q151_ORACLE)
def q151_detector_kappa(spark, sf_dir):
    a = _q135_features(spark, sf_dir).select(
        "doc_id", (F.col("logit_u") >= 0).alias("ka")
    )
    b = q130_token_entropy(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("kb")
    )
    cells = a.join(b, "doc_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("ka").cast("long")).cast("long").alias("a1"),
        F.sum(F.col("kb").cast("long")).cast("long").alias("b1"),
        F.sum((F.col("ka") & F.col("kb")).cast("long"))
        .cast("long")
        .alias("n11"),
    )
    n, a1, b1, n11 = (F.col(c) for c in ("n", "a1", "b1", "n11"))
    agree = n - a1 - b1 + 2 * n11           # n00 + n11, exact BIGINT
    e = a1 * b1 + (n - a1) * (n - b1)        # chance-agreement numerator

    def _ratio_u(num, den):
        return F.round(num * F.lit(1000000.0) / den).cast("long")

    return cells.select(
        "n",
        "n11",
        (a1 - n11).cast("long").alias("n10"),
        (b1 - n11).cast("long").alias("n01"),
        (n - a1 - b1 + n11).cast("long").alias("n00"),
        _ratio_u(agree, n).alias("po_u"),
        _ratio_u(e, n * n).alias("pe_u"),
        _ratio_u(n * agree - e, n * n - e).alias("kappa_u"),
    )


_Q153_SAMPLE_BUCKETS = 29


_Q153_ORACLE = f"""
WITH scored AS (
  SELECT c.doc_id, c.logit_u,
         CAST(ROUND(b.entropy * 1000000.0) AS BIGINT) AS entropy_u
  FROM ({_Q135_CORE_SQL}) c
  JOIN ({_Q130_ORACLE}) b USING (doc_id)
  WHERE {md5_bucket_sql("c.doc_id", _Q153_SAMPLE_BUCKETS)} = 0
), pairs AS (
  SELECT CASE WHEN (a.logit_u - b.logit_u) * (a.entropy_u - b.entropy_u) > 0
              THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.logit_u - b.logit_u) * (a.entropy_u - b.entropy_u) < 0
              THEN 1 ELSE 0 END AS disc
  FROM scored a JOIN scored b ON a.doc_id < b.doc_id
), agg AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM scored) AS n_sample,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(conc) AS BIGINT) AS concordant,
         CAST(SUM(disc) AS BIGINT) AS discordant
  FROM pairs
)
SELECT n_sample, n_pairs, concordant, discordant,
       CAST(n_pairs - concordant - discordant AS BIGINT) AS ties,
       CAST(ROUND((concordant - discordant) * 1000000.0 / n_pairs)
            AS BIGINT) AS tau_u
FROM agg
"""


@register("q153_rank_agreement", oracle=_Q153_ORACLE)
def q153_rank_agreement(spark, sf_dir):
    logit = _q135_features(spark, sf_dir).select("doc_id", "logit_u")
    ent = q130_token_entropy(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("entropy") * F.lit(1000000.0)).cast("long").alias(
            "entropy_u"
        ),
    )
    scored = (
        logit.join(ent, "doc_id")
        .filter(md5_bucket(F.col("doc_id"), _Q153_SAMPLE_BUCKETS) == 0)
    )
    a = scored.select(
        F.col("doc_id").alias("ida"),
        F.col("logit_u").alias("la"),
        F.col("entropy_u").alias("ea"),
    )
    b = scored.select(
        F.col("doc_id").alias("idb"),
        F.col("logit_u").alias("lb"),
        F.col("entropy_u").alias("eb"),
    )
    prod = (F.col("la") - F.col("lb")) * (F.col("ea") - F.col("eb"))
    # the pair grid is sample x sample only (q107's honest protocol):
    # broadcast the bounded sample, never the corpus
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ida") < F.col("idb"))
        .select(
            F.when(prod > 0, 1).otherwise(0).alias("conc"),
            F.when(prod < 0, 1).otherwise(0).alias("disc"),
        )
    )
    n_sample = scored.agg(F.count("*").cast("long").alias("n_sample"))
    agg = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("conc").cast("long").alias("concordant"),
        F.sum("disc").cast("long").alias("discordant"),
    )
    return agg.crossJoin(F.broadcast(n_sample)).select(
        "n_sample",
        "n_pairs",
        "concordant",
        "discordant",
        (F.col("n_pairs") - F.col("concordant") - F.col("discordant"))
        .cast("long")
        .alias("ties"),
        F.round(
            (F.col("concordant") - F.col("discordant"))
            * F.lit(1000000.0)
            / F.col("n_pairs")
        )
        .cast("long")
        .alias("tau_u"),
    )


_Q155_ORACLE = """
WITH per_doc AS (
  SELECT lang,
         CAST(LENGTH(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS x,
         CAST(n_chars AS BIGINT) AS y
  FROM documents
), grp AS (
  SELECT lang, x,
         CAST(MAX(y) AS BIGINT) AS y_max,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM per_doc GROUP BY lang, x
)
SELECT lang, x, y_max, n_docs,
       (y_max > COALESCE(MAX(y_max) OVER (PARTITION BY lang ORDER BY x ASC
          RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), -1))
         AS frontier
FROM grp
"""


@register("q155_pareto_frontier", oracle=_Q155_ORACLE)
def q155_pareto_frontier(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(F.array_distinct(F.split("text", " "))).cast("long").alias("x"),
        F.col("n_chars").cast("long").alias("y"),
    )
    grp = per_doc.groupBy("lang", "x").agg(
        F.max("y").cast("long").alias("y_max"),
        F.count("*").cast("long").alias("n_docs"),
    )
    # suffix max over the tiny (lang, x) grain: all rows with strictly
    # larger x (the documented tiny-grain window exception)
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("x").asc())
        .rangeBetween(1, Window.unboundedFollowing)
    )
    return grp.select(
        "lang",
        "x",
        "y_max",
        "n_docs",
        (F.col("y_max") > F.coalesce(F.max("y_max").over(w), F.lit(-1))).alias(
            "frontier"
        ),
    )


_Q157_ORACLE = f"""
WITH bkt AS ({_Q137_HIST_SQL}),
per_bin AS (
  SELECT b,
         CAST(pos_b + neg_b AS BIGINT) AS n_b,
         CAST(pos_b AS BIGINT) AS pos_b,
         CAST(ROUND(1000000.0 / (1.0 + EXP(-((b + 0.5) * 0.5)))) AS BIGINT)
           AS conf_u,
         CAST(ROUND(1000000.0 * pos_b / (pos_b + neg_b)) AS BIGINT) AS acc_u
  FROM bkt
)
SELECT b, n_b, pos_b, conf_u, acc_u,
       CAST(ABS(acc_u - conf_u) AS BIGINT) AS gap_u,
       CAST(ROUND(CAST(SUM(ABS(acc_u - conf_u) * n_b) OVER () AS DOUBLE)
                  / SUM(n_b) OVER ()) AS BIGINT) AS ece_u
FROM per_bin
"""


@register("q157_calibration_ece", oracle=_Q157_ORACLE)
def q157_calibration_ece(spark, sf_dir):
    bkt = _q137_hist(spark, sf_dir)
    n_b = (F.col("pos_b") + F.col("neg_b")).cast("long")
    conf_u = (
        F.round(
            F.lit(1000000.0)
            / (F.lit(1.0) + F.exp(-((F.col("b") + F.lit(0.5)) * F.lit(0.5))))
        )
        .cast("long")
    )
    acc_u = (
        F.round(F.lit(1000000.0) * F.col("pos_b") / (F.col("pos_b") + F.col("neg_b")))
        .cast("long")
    )
    per_bin = bkt.select(
        "b",
        n_b.alias("n_b"),
        F.col("pos_b").cast("long").alias("pos_b"),
        conf_u.alias("conf_u"),
        acc_u.alias("acc_u"),
    )
    # <= 81 rows: the documented tiny-grain exception
    w = Window.partitionBy()
    gap = F.abs(F.col("acc_u") - F.col("conf_u"))
    return per_bin.select(
        "b",
        "n_b",
        "pos_b",
        "conf_u",
        "acc_u",
        gap.cast("long").alias("gap_u"),
        F.round(
            F.sum(gap * F.col("n_b")).over(w).cast("double")
            / F.sum("n_b").over(w)
        )
        .cast("long")
        .alias("ece_u"),
    )


# ---------------------------------------------------------------------
# q190
_Q190_EPS = 1.0  # epsilon; sensitivity of a count is 1 -> b = 1/eps


_Q190_SALT = "q190dp"


_Q190_U = (
    f"(CAST(CAST(('0x' || SUBSTRING(md5('{_Q190_SALT}:' || source), 1, 8)) AS UBIGINT)"
    f" % 1000000 AS DOUBLE) + 0.5) / 1000000.0"
)


_Q190_ORACLE = f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS true_n FROM documents GROUP BY source
),
noised AS (
  SELECT source, true_n,
         ROUND(-(1.0 / {_Q190_EPS})
               * CASE WHEN {_Q190_U} >= 0.5 THEN 1.0 ELSE -1.0 END
               * ln(1.0 - 2.0 * ABS({_Q190_U} - 0.5)), 6) AS noise
  FROM counts
),
ranked AS (
  SELECT source, true_n, noise,
         ROUND(CAST(true_n AS DOUBLE) + noise, 6) AS noisy,
         CAST(RANK() OVER (ORDER BY true_n DESC, source ASC) AS BIGINT)
           AS rank_true,
         CAST(RANK() OVER (ORDER BY ROUND(CAST(true_n AS DOUBLE) + noise, 6) DESC,
                           source ASC) AS BIGINT) AS rank_noisy
  FROM noised
)
SELECT source, true_n, noise, noisy, rank_true, rank_noisy,
       CAST(ABS(rank_true - rank_noisy) AS BIGINT) AS rank_shift,
       ROUND(ABS(noise), 6) AS l1_err
FROM ranked
"""


@register("q190_dp_noisy_release", oracle=_Q190_ORACLE)
def q190_dp_noisy_release(spark, sf_dir):
    counts = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("true_n"))
    )
    u = (
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(_Q190_SALT + ":"), F.col("source"))), 1, 8),
                16,
                10,
            ).cast("long")
            % 1000000
        ).cast("double")
        + 0.5
    ) / 1000000.0
    sign = F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    noise = F.round(
        -(1.0 / _Q190_EPS) * sign * F.log(1.0 - 2.0 * F.abs(u - 0.5)), 6
    )
    noised = counts.select("source", "true_n", noise.alias("noise"))
    noisy = F.round(F.col("true_n").cast("double") + F.col("noise"), 6)
    wt = Window.orderBy(F.desc("true_n"), F.asc("source"))
    wn = Window.orderBy(F.desc("noisy"), F.asc("source"))
    ranked = noised.withColumn("noisy", noisy).select(
        "source",
        "true_n",
        "noise",
        "noisy",
        F.rank().over(wt).cast("long").alias("rank_true"),
        F.rank().over(wn).cast("long").alias("rank_noisy"),
    )
    return ranked.select(
        "source",
        "true_n",
        "noise",
        "noisy",
        "rank_true",
        "rank_noisy",
        F.abs(F.col("rank_true") - F.col("rank_noisy")).cast("long").alias("rank_shift"),
        F.round(F.abs("noise"), 6).alias("l1_err"),
    )


# ---------------------------------------------------------------------
# q191
_Q191_REPS = 32


_Q191_SALT = "q191boot"


# inverse-CDF thresholds for Poisson(1) in integer micro-units:
# w = min index k with u_micro < threshold[k]; exact integer compares.
# The table stops at the first micro-unit saturation (CDF == 1 at this
# resolution) — u < 1e6 always, so larger weights are unreachable.
_Q191_THRESH = []
_acc = 0.0
for _k in range(32):
    _acc += math.exp(-1.0) / math.factorial(_k)
    _Q191_THRESH.append(min(int(round(_acc * 1_000_000)), 1_000_000))
    if _Q191_THRESH[-1] >= 1_000_000:
        break


_Q191_U = (
    f"CAST(CAST(('0x' || SUBSTRING(md5('{_Q191_SALT}:' || CAST(doc_id AS VARCHAR)"
    f" || ':' || CAST(r AS VARCHAR)), 1, 8)) AS UBIGINT) % 1000000 AS BIGINT)"
)


def _q191_w_sql(u_expr: str) -> str:
    branches = " ".join(
        f"WHEN {u_expr} < {t} THEN {k}" for k, t in enumerate(_Q191_THRESH)
    )
    return f"(CASE {branches} ELSE {len(_Q191_THRESH)} END)"


_Q191_ORACLE = f"""
WITH reps AS (
  SELECT d.doc_id, d.n_chars, r.r
  FROM documents d,
       (SELECT unnest(range({_Q191_REPS})) AS r) r
),
w AS (
  SELECT r, n_chars, {_q191_w_sql(_Q191_U)} AS w FROM reps
),
boot AS (
  SELECT CAST(r AS BIGINT) AS r,
         CAST(SUM(w) AS BIGINT) AS n_eff,
         CAST(SUM(w * n_chars) AS BIGINT) AS wsum
  FROM w GROUP BY r
),
means AS (
  SELECT r, n_eff,
         ROUND(CAST(wsum AS DOUBLE) / CAST(n_eff AS DOUBLE), 6) AS boot_mean
  FROM boot
),
ranked AS (
  SELECT r, n_eff, boot_mean,
         ROW_NUMBER() OVER (ORDER BY boot_mean ASC, r ASC) AS rn
  FROM means
),
ci AS (
  SELECT MAX(CASE WHEN rn = 2 THEN boot_mean END) AS ci_lo,
         MAX(CASE WHEN rn = {_Q191_REPS - 1} THEN boot_mean END) AS ci_hi
  FROM ranked
)
SELECT r, n_eff, boot_mean, ci.ci_lo, ci.ci_hi
FROM ranked CROSS JOIN ci
"""


@register("q191_poisson_bootstrap", oracle=_Q191_ORACLE)
def q191_poisson_bootstrap(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    reps = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(_Q191_REPS - 1))).alias("r"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(_Q191_SALT + ":"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    )
    w = F.lit(len(_Q191_THRESH))
    for k in range(len(_Q191_THRESH) - 1, -1, -1):
        w = F.when(u < _Q191_THRESH[k], F.lit(k)).otherwise(w)
    boot = (
        reps.withColumn("w", w)
        .groupBy("r")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.sum(F.col("w") * F.col("n_chars")).cast("long").alias("wsum"),
        )
    )
    means = boot.select(
        F.col("r").cast("long").alias("r"),
        "n_eff",
        F.round(F.col("wsum").cast("double") / F.col("n_eff").cast("double"), 6).alias(
            "boot_mean"
        ),
    )
    ranked = means.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.asc("boot_mean"), F.asc("r")))
    )
    ci = ranked.agg(
        F.max(F.when(F.col("rn") == 2, F.col("boot_mean"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == _Q191_REPS - 1, F.col("boot_mean"))).alias("ci_hi"),
    )
    return ranked.select("r", "n_eff", "boot_mean").crossJoin(F.broadcast(ci))


# ---------------------------------------------------------------------
# q192
_Q192_ORACLE = """
WITH per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM documents GROUP BY source
),
g AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
         CAST(SUM(sum_chars) AS BIGINT) AS s_total
  FROM per_source
),
inf AS (
  SELECT p.source, p.n_docs, p.sum_chars,
         ROUND(CAST(g.s_total AS DOUBLE) / CAST(g.n_total AS DOUBLE), 6)
           AS full_mean,
         ROUND(CASE WHEN g.n_total = p.n_docs THEN 0.0
               ELSE CAST(g.s_total - p.sum_chars AS DOUBLE)
                    / CAST(g.n_total - p.n_docs AS DOUBLE) END, 6) AS loo_mean,
         ROUND(CASE WHEN g.n_total = p.n_docs THEN 0.0
               ELSE CAST(g.s_total AS DOUBLE) / CAST(g.n_total AS DOUBLE)
                    - CAST(g.s_total - p.sum_chars AS DOUBLE)
                      / CAST(g.n_total - p.n_docs AS DOUBLE) END, 6) AS influence
  FROM per_source p CROSS JOIN g
)
SELECT source, n_docs, sum_chars, full_mean, loo_mean, influence,
       CAST(ROW_NUMBER() OVER (ORDER BY ABS(influence) DESC, source ASC)
            AS BIGINT) AS influence_rank
FROM inf
"""


@register("q192_loo_influence", oracle=_Q192_ORACLE)
def q192_loo_influence(spark, sf_dir):
    per_source = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    g = per_source.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.sum("sum_chars").cast("long").alias("s_total"),
    )
    j = per_source.crossJoin(F.broadcast(g))
    full_mean_raw = F.col("s_total").cast("double") / F.col("n_total").cast("double")
    loo_raw = (F.col("s_total") - F.col("sum_chars")).cast("double") / (
        F.col("n_total") - F.col("n_docs")
    ).cast("double")
    degenerate = F.col("n_total") == F.col("n_docs")
    inf = j.select(
        "source",
        "n_docs",
        "sum_chars",
        F.round(full_mean_raw, 6).alias("full_mean"),
        F.round(F.when(degenerate, F.lit(0.0)).otherwise(loo_raw), 6).alias("loo_mean"),
        F.round(
            F.when(degenerate, F.lit(0.0)).otherwise(full_mean_raw - loo_raw), 6
        ).alias("influence"),
    )
    w = Window.orderBy(F.abs(F.col("influence")).desc(), F.asc("source"))
    return inf.withColumn("influence_rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------
# q197
_Q197_TOPN = 20


_Q197_ORACLE = f"""
WITH d AS (
  SELECT CAST({md5_bucket_sql("doc_id", 2)} AS BIGINT) AS half, n_chars
  FROM documents
),
vals AS (
  SELECT n_chars AS v,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
  FROM d GROUP BY n_chars
),
g AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b
      FROM vals),
cdf AS (
  SELECT v,
         CAST(SUM(c_a) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         CAST(SUM(c_b) OVER (ORDER BY v) AS BIGINT) AS cum_b
  FROM vals
),
gaps AS (
  SELECT c.v, c.cum_a, c.cum_b,
         CAST(ABS(c.cum_a * g.n_b - c.cum_b * g.n_a) * 1000000
              // (g.n_a * g.n_b) AS BIGINT) AS gap_u,
         g.n_a, g.n_b
  FROM cdf c CROSS JOIN g
),
ks AS (SELECT CAST(MAX(gap_u) AS BIGINT) AS ks_u FROM gaps)
SELECT v, cum_a, cum_b, gap_u, n_a, n_b, ks.ks_u,
       ROUND(SQRT(CAST(n_a * n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
             * CAST(ks.ks_u AS DOUBLE) / 1000000.0, 6) AS ks_scaled
FROM gaps CROSS JOIN ks
ORDER BY gap_u DESC, v ASC
LIMIT {_Q197_TOPN}
"""


@register("q197_ks_two_sample", oracle=_Q197_ORACLE)
def q197_ks_two_sample(spark, sf_dir):
    from sparkextract.queries.base import md5_bucket

    d = load(spark, sf_dir, "documents").select(
        md5_bucket(F.col("doc_id"), 2).alias("half"), "n_chars"
    )
    vals = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("c_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("c_b"),
    )
    g = vals.agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum("c_b").cast("long").alias("n_b"),
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = vals.select(
        "v",
        F.sum("c_a").over(wc).cast("long").alias("cum_a"),
        F.sum("c_b").over(wc).cast("long").alias("cum_b"),
    )
    gaps = cdf.crossJoin(F.broadcast(g)).select(
        "v",
        "cum_a",
        "cum_b",
        F.expr("abs(cum_a * n_b - cum_b * n_a) * 1000000 div (n_a * n_b)")
        .cast("long")
        .alias("gap_u"),
        "n_a",
        "n_b",
    )
    ks = gaps.agg(F.max("gap_u").cast("long").alias("ks_u"))
    scaled = F.round(
        F.sqrt((F.col("n_a") * F.col("n_b")).cast("double") / (F.col("n_a") + F.col("n_b")).cast("double"))
        * F.col("ks_u").cast("double")
        / 1000000.0,
        6,
    )
    return (
        gaps.crossJoin(F.broadcast(ks))
        .select("v", "cum_a", "cum_b", "gap_u", "n_a", "n_b", "ks_u", scaled.alias("ks_scaled"))
        .orderBy(F.desc("gap_u"), F.asc("v"))
        .limit(_Q197_TOPN)
    )


_Q206_BUCKETS = 10


_Q206_K_PCT = 1  # slack: 1% of mu0


_Q206_H_PCT = 5  # decision interval: 5% of mu0


_Q206_ORACLE = f"""
WITH d AS (
  SELECT CAST({md5_bucket_sql("doc_id", _Q206_BUCKETS)} AS BIGINT) AS b,
         CAST(n_chars AS BIGINT) AS x
  FROM documents
),
batches AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
         CAST((1000000 * SUM(x)) // COUNT(*) AS BIGINT) AS mean_u
  FROM d GROUP BY b
),
g AS (
  SELECT CAST((1000000 * SUM(x)) // COUNT(*) AS BIGINT) AS mu0_u FROM d
),
dev AS (
  SELECT b.b, b.n, b.mean_u, g.mu0_u,
         b.mean_u - g.mu0_u - g.mu0_u * {_Q206_K_PCT} // 100 AS d_up,
         g.mu0_u - b.mean_u - g.mu0_u * {_Q206_K_PCT} // 100 AS d_dn,
         g.mu0_u * {_Q206_H_PCT} // 100 AS h_u
  FROM batches b CROSS JOIN g
),
pre AS (
  SELECT b, n, mean_u, mu0_u, h_u,
         CAST(SUM(d_up) OVER (ORDER BY b) AS BIGINT) AS p_up,
         CAST(SUM(d_dn) OVER (ORDER BY b) AS BIGINT) AS p_dn
  FROM dev
)
SELECT b AS bucket, n, mean_u, mu0_u,
       CAST(p_up - LEAST(MIN(p_up) OVER (ORDER BY b), 0) AS BIGINT) AS s_up,
       CAST(p_dn - LEAST(MIN(p_dn) OVER (ORDER BY b), 0) AS BIGINT) AS s_dn,
       h_u,
       (p_up - LEAST(MIN(p_up) OVER (ORDER BY b), 0) > h_u
        OR p_dn - LEAST(MIN(p_dn) OVER (ORDER BY b), 0) > h_u) AS alarm
FROM pre
"""


@register("q206_cusum_drift", oracle=_Q206_ORACLE)
def q206_cusum_drift(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select(
        md5_bucket(F.col("doc_id"), _Q206_BUCKETS).alias("b"),
        F.col("n_chars").cast("long").alias("x"),
    )
    batches = d.groupBy("b").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("(1000000 * sum(x)) div count(*)").cast("long").alias("mean_u"),
    )
    g = d.agg(
        F.expr("(1000000 * sum(x)) div count(*)").cast("long").alias("mu0_u")
    )
    dev = batches.crossJoin(F.broadcast(g)).select(
        "b",
        "n",
        "mean_u",
        "mu0_u",
        F.expr(f"mean_u - mu0_u - mu0_u * {_Q206_K_PCT} div 100").alias("d_up"),
        F.expr(f"mu0_u - mean_u - mu0_u * {_Q206_K_PCT} div 100").alias("d_dn"),
        F.expr(f"mu0_u * {_Q206_H_PCT} div 100").cast("long").alias("h_u"),
    )
    wp = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pre = dev.select(
        "b",
        "n",
        "mean_u",
        "mu0_u",
        "h_u",
        F.sum("d_up").over(wp).cast("long").alias("p_up"),
        F.sum("d_dn").over(wp).cast("long").alias("p_dn"),
    )
    s_up = F.col("p_up") - F.least(F.min("p_up").over(wp), F.lit(0))
    s_dn = F.col("p_dn") - F.least(F.min("p_dn").over(wp), F.lit(0))
    return pre.select(
        F.col("b").alias("bucket"),
        "n",
        "mean_u",
        "mu0_u",
        s_up.cast("long").alias("s_up"),
        s_dn.cast("long").alias("s_dn"),
        "h_u",
        ((s_up > F.col("h_u")) | (s_dn > F.col("h_u"))).alias("alarm"),
    )
