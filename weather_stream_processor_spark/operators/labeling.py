"""Annotation & model-evaluation operators: agreement, voting, pairwise
preference fitting, sampled-correctness estimation, ranking MRR/AP, and
exact isotonic calibration.

An LLM-data pipeline does not just filter documents — it manages LABELS:
human/model annotations that disagree (inter-annotator agreement,
majority vote), pairwise preference data (Bradley-Terry strengths, the
model behind arena-style rankings and RLHF reward aggregation),
per-task sampled correctness (the unbiased pass@k estimator from the
code-eval literature), first-relevant retrieval quality (MRR), the
threshold-free PR summary (average precision), and the monotone
recalibration step that turns a raw quality score into a usable
probability (isotonic regression). Each is expressed as the bounded-grid
/ hash-aggregate plan the rest of the repo uses: the only ordered
windows run over distinct-4dp-score or 50-bin grids whose cardinality is
bounded by construction, and the one driver-side step (Bradley-Terry's
MM fixed point) operates on the brand-domain-bounded win matrix, the
same justification family as the PQ codebook pull
(similarity.py:1257).

Reference parity: the reference (weather_processor.py:127-149) has no
evaluation surface at all — this module is mandated-extension surface
per SURVEY §2.6, same as evals.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from weather_stream_processor_spark.functions import tokens
from weather_stream_processor_spark.operators.evals import (
    _KNUTH,
    _MOD,
    _SCORE_CTE,
    _scored,
)
from weather_stream_processor_spark.operators.text import STOPWORDS
from weather_stream_processor_spark.registry import register
from weather_stream_processor_spark.sources import load_table, load_tables

# ---------------------------------------------------------------------------
# Inter-annotator agreement: Cohen's kappa between the registered lang-id
# heuristic (annotator A) and the fixture's lang column (annotator B).
# ---------------------------------------------------------------------------

_PRED_SQL = f"""CASE
                 WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                 WHEN len(list_filter(string_split(text, ' '),
                                      t -> list_contains({list(STOPWORDS)}, t)))
                      * 1.0 / len(string_split(text, ' ')) >= 0.05 THEN 'en'
                 ELSE 'unknown'
               END"""


def _predicted_lang() -> F.Column:
    toks = tokens(F.col("text"))
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_density = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / F.size(toks)
    return (
        F.when(F.col("text").rlike("[一-鿿]"), "zh")
        .when(stop_density >= 0.05, "en")
        .otherwise("unknown")
    )


@register(
    "cohens_kappa_agreement",
    oracle=f"""
        WITH pairs AS (
            SELECT {_PRED_SQL} AS a, lang AS b FROM documents
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_agree
            FROM pairs
        ),
        ma AS (SELECT a AS c, CAST(COUNT(*) AS BIGINT) AS na
               FROM pairs GROUP BY 1),
        mb AS (SELECT b AS c, CAST(COUNT(*) AS BIGINT) AS nb
               FROM pairs GROUP BY 1),
        chance AS (
            SELECT CAST(SUM(ma.na * mb.nb) AS BIGINT) AS sum_prod
            FROM ma JOIN mb ON ma.c = mb.c
        )
        SELECT t.n_items,
               ROUND(t.n_agree * 1.0 / t.n_items, 6) AS po,
               ROUND(c.sum_prod * 1.0 / (t.n_items * t.n_items), 6) AS pe,
               ROUND((t.n_agree * 1.0 / t.n_items
                      - c.sum_prod * 1.0 / (t.n_items * t.n_items))
                     / (1.0 - c.sum_prod * 1.0 / (t.n_items * t.n_items)),
                     6) AS kappa
        FROM tot t CROSS JOIN chance c
    """,
    doc=(
        "COHEN'S KAPPA inter-annotator agreement between the registered "
        "lang-id heuristic (annotator A) and the corpus lang label "
        "(annotator B): observed agreement po, chance agreement pe from "
        "the category marginals, kappa = (po-pe)/(1-pe) — the chance-"
        "corrected agreement statistic every labeling pipeline reports "
        "before trusting a single-annotator stream. Plan: one projection "
        "+ three hash aggregates over the bounded CATEGORY domain, then "
        "a category-domain equi-join for the pe cross term — no window, "
        "no sort; shuffle is |categories| rows. po/pe are single "
        "divisions of exact integer sums, so both engines derive "
        "bit-identical doubles before the 6-dp round."
    ),
    tags=("labeling", "evals", "llm", "statistics"),
)
def cohens_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(_predicted_lang().alias("a"), F.col("lang").alias("b"))
    tot = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum((F.col("a") == F.col("b")).cast("int")).cast("bigint").alias("n_agree"),
    )
    ma = pairs.groupBy(F.col("a").alias("c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("na")
    )
    mb = pairs.groupBy(F.col("b").alias("c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    chance = (
        ma.join(mb, "c")
        .agg(F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("sum_prod"))
    )
    po = F.col("n_agree") * F.lit(1.0) / F.col("n_items")
    pe = F.col("sum_prod") * F.lit(1.0) / (F.col("n_items") * F.col("n_items"))
    return (
        tot.crossJoin(chance)  # 1x1 rows
        .select(
            "n_items",
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
        )
    )


# ---------------------------------------------------------------------------
# Majority-vote label aggregation over R synthetic annotators.
# ---------------------------------------------------------------------------

_N_ANN = 3
_FLIP_MOD = 10  # annotator flips ~10% of labels to 'noise'


def _flip_sql(r: str) -> str:
    return (
        f"((((doc_id * 31 + {r}) % {_MOD}) * {_KNUTH}) >> 16) % {_FLIP_MOD} = 0"
    )


@register(
    "majority_vote_labels",
    oracle=f"""
        WITH ann AS (
            SELECT doc_id,
                   unnest([{", ".join(str(r) for r in range(_N_ANN))}]) AS r
            FROM documents
        ),
        votes AS (
            SELECT doc_id, r,
                   CASE WHEN {_flip_sql("r")} THEN 1 ELSE 0 END AS flip
            FROM ann
        ),
        per_doc AS (
            SELECT doc_id, CAST(SUM(flip) AS BIGINT) AS n_noise
            FROM votes GROUP BY doc_id
        ),
        joined AS (
            SELECT v.r, v.flip,
                   CASE WHEN p.n_noise >= {(_N_ANN // 2) + 1}
                        THEN 1 ELSE 0 END AS consensus_noise
            FROM votes v JOIN per_doc p USING (doc_id)
        )
        SELECT r AS annotator,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN flip = consensus_noise THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_match_consensus,
               ROUND(SUM(CASE WHEN flip = consensus_noise THEN 1.0 ELSE 0 END)
                     / COUNT(*), 6) AS accuracy,
               ROUND(SUM(flip * 1.0) / COUNT(*), 6) AS flip_rate
        FROM joined GROUP BY r
    """,
    doc=(
        f"MAJORITY-VOTE LABEL AGGREGATION over {_N_ANN} synthetic "
        "annotators: each annotator corrupts ~10% of documents to a "
        "'noise' label via the house cross-engine Knuth hash on "
        "(doc_id, annotator), the consensus is the per-document majority "
        "(guaranteed to exist: each vote takes one of two values), and "
        "the report scores every annotator AGAINST the consensus — the "
        "per-annotator reliability table a Dawid-Skene-style weighting "
        "step consumes. Plan: explode to |docs|x3 votes, one hash "
        "aggregate per doc_id for the noise count, an equi-join back on "
        "doc_id, and a 3-group final aggregate; everything is keyed, no "
        "window anywhere. The vote corruption is deterministic integer "
        "arithmetic, so all counts hash-match cross-engine exactly."
    ),
    tags=("labeling", "llm", "statistics"),
)
def majority_vote_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ann = docs.select(
        "doc_id",
        F.explode(F.array(*[F.lit(r) for r in range(_N_ANN)])).alias("r"),
    )
    hsh = (
        F.shiftright(((F.col("doc_id") * 31 + F.col("r")) % _MOD) * F.lit(_KNUTH), 16)
        % _FLIP_MOD
    )
    votes = ann.select(
        "doc_id", "r", F.when(hsh == 0, 1).otherwise(0).alias("flip")
    )
    per_doc = votes.groupBy("doc_id").agg(
        F.sum("flip").cast("bigint").alias("n_noise")
    )
    majority = (_N_ANN // 2) + 1
    joined = votes.join(per_doc, "doc_id").select(
        "r",
        "flip",
        F.when(F.col("n_noise") >= majority, 1).otherwise(0).alias("consensus_noise"),
    )
    match = (F.col("flip") == F.col("consensus_noise")).cast("int")
    return (
        joined.groupBy(F.col("r").alias("annotator"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(match).cast("bigint").alias("n_match_consensus"),
            F.round(F.sum(match * F.lit(1.0)) / F.count(F.lit(1)), 6).alias(
                "accuracy"
            ),
            F.round(F.sum(F.col("flip") * F.lit(1.0)) / F.count(F.lit(1)), 6).alias(
                "flip_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# pass@k: the unbiased estimator over per-task sample/correct counts.
# ---------------------------------------------------------------------------

_PASS_KS = (1, 5, 10)


@register(
    "pass_at_k_estimator",
    oracle=f"""
        WITH tasks AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                            END) AS BIGINT) AS c
            FROM events GROUP BY user_id
        ),
        ks AS (SELECT unnest([{", ".join(str(k) for k in _PASS_KS)}]) AS k),
        per_task AS (
            SELECT k,
                   CASE WHEN n - c < k THEN 1.0
                        ELSE 1.0 - list_reduce(
                            list_prepend(
                                CAST(1.0 AS DOUBLE),
                                list_transform(
                                    generate_series(0, CAST(k - 1 AS BIGINT)),
                                    i -> (n - c - i) * 1.0 / (n - i))),
                            (a, b) -> a * b)
                   END AS pass_k
            FROM tasks CROSS JOIN ks
            WHERE n >= k
        )
        SELECT k,
               CAST(COUNT(*) AS BIGINT) AS n_tasks,
               ROUND(AVG(pass_k), 6) AS pass_at_k
        FROM per_task GROUP BY k
    """,
    doc=(
        "UNBIASED pass@k ESTIMATOR (the combinatorial estimator from the "
        "code-generation eval literature): per task with n samples and c "
        "correct, pass@k = 1 - C(n-c,k)/C(n,k), computed in the "
        "numerically-stable product form prod_{i<k}(n-c-i)/(n-i) — never "
        "via factorials. Tasks are users, samples their events, "
        "'purchase' the correct outcome (stand-ins; the operator is the "
        "estimator machinery). Plan: ONE hash aggregate builds the "
        "(n, c) task table, a 3-row literal k-frame crosses it, and the "
        "k-term product runs as a fold over sequence(0,k-1) INSIDE "
        "codegen (aggregate HOF, k<=10 multiplies per row) — no UDF, no "
        "window; shuffle is |users| rows. Both engines fold the same "
        "factor list left-to-right from the same exact-integer-derived "
        "doubles, so per-task values are bit-identical before the "
        "6-dp-rounded mean."
    ),
    tags=("labeling", "evals", "llm", "statistics"),
)
def pass_at_k_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tasks = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("c"),
    )
    ks = F.explode(F.array(*[F.lit(k) for k in _PASS_KS])).alias("k")
    prod = F.aggregate(
        F.sequence(F.lit(0).cast("bigint"), (F.col("k") - 1).cast("bigint")),
        F.lit(1.0),
        lambda acc, i: acc
        * ((F.col("n") - F.col("c") - i) * F.lit(1.0) / (F.col("n") - i)),
    )
    per_task = (
        tasks.select("n", "c", ks)
        .filter(F.col("n") >= F.col("k"))
        .select(
            "k",
            F.when(F.col("n") - F.col("c") < F.col("k"), F.lit(1.0))
            .otherwise(F.lit(1.0) - prod)
            .alias("pass_k"),
        )
    )
    return per_task.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tasks"),
        F.round(F.avg("pass_k"), 6).alias("pass_at_k"),
    )


# ---------------------------------------------------------------------------
# MRR: first-relevant rank per source without any raw-row window.
# ---------------------------------------------------------------------------

_MRR_SCORED_CTE = """
    scored AS (
        SELECT doc_id, source,
               ROUND(len(list_distinct(string_split(text, ' '))) * 1.0
                     / len(string_split(text, ' ')), 4) AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel
        FROM documents
    )
"""


@register(
    "mrr_first_relevant",
    oracle=f"""
        WITH {_MRR_SCORED_CTE},
        best AS (
            SELECT source, score AS bs, doc_id AS bd
            FROM scored WHERE rel = 1
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY score DESC, doc_id ASC) = 1
        ),
        ranked AS (
            SELECT s.source, b.bd,
                   CAST(1 + SUM(CASE WHEN s.score > b.bs
                                      OR (s.score = b.bs AND s.doc_id < b.bd)
                                     THEN 1 ELSE 0 END) AS BIGINT)
                       AS first_rel_rank
            FROM scored s JOIN best b USING (source)
            GROUP BY s.source, b.bd
        )
        SELECT source,
               bd AS first_rel_doc,
               first_rel_rank,
               ROUND(1.0 / first_rel_rank, 6) AS reciprocal_rank,
               ROUND(AVG(1.0 / first_rel_rank) OVER (), 6) AS mrr
        FROM ranked
    """,
    doc=(
        "MEAN RECIPROCAL RANK of the first relevant document per source "
        "('queries' are sources ranking their documents by the 4-dp "
        "lexical-diversity score, relevance = lang 'en' — stand-ins; the "
        "operator is the MRR machinery). The scale move: the first-"
        "relevant RANK is computed WITHOUT sorting any partition — an "
        "aggregate picks each source's best relevant doc as "
        "max(struct(score, -doc_id)) in one hash aggregate, and its rank "
        "is 1 + count of strictly-better docs, a second hash aggregate "
        "after a source-keyed equi-join. A window formulation would sort "
        "every source's rows; this plan touches them twice with "
        "map-side-combinable aggregates only. The one OVER () frame is "
        "the |sources|-row ranked table (bounded domain); ties broken on "
        "doc_id so both engines pick identical best docs."
    ),
    tags=("labeling", "retrieval", "evals", "llm"),
)
def mrr_first_relevant(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        "source",
        F.round(F.size(F.array_distinct(t)) / F.size(t), 4).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("rel"),
    )
    best = (
        scored.filter(F.col("rel") == 1)
        .groupBy("source")
        .agg(
            F.max(
                F.struct(
                    F.col("score").alias("s"), (-F.col("doc_id")).alias("nd")
                )
            ).alias("m")
        )
        .select("source", F.col("m.s").alias("bs"), (-F.col("m.nd")).alias("bd"))
    )
    better = F.when(
        (F.col("score") > F.col("bs"))
        | ((F.col("score") == F.col("bs")) & (F.col("doc_id") < F.col("bd"))),
        1,
    ).otherwise(0)
    ranked = (
        scored.join(best, "source")
        .groupBy("source", "bd")
        .agg((F.lit(1) + F.sum(better)).cast("bigint").alias("first_rel_rank"))
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )  # |sources|-row frame, bounded by the source domain
    rr = F.lit(1.0) / F.col("first_rel_rank")
    return ranked.select(
        "source",
        F.col("bd").alias("first_rel_doc"),
        "first_rel_rank",
        F.round(rr, 6).alias("reciprocal_rank"),
        F.round(F.avg(rr).over(w_all), 6).alias("mrr"),
    )


# ---------------------------------------------------------------------------
# Average precision: the threshold-free PR summary over the score grid.
# ---------------------------------------------------------------------------


@register(
    "average_precision_exact",
    oracle=f"""
        WITH {_SCORE_CTE},
        grid AS (
            SELECT score,
                   CAST(SUM(label) AS BIGINT) AS pos,
                   CAST(COUNT(*) - SUM(label) AS BIGINT) AS neg
            FROM scored GROUP BY score
        ),
        run AS (
            SELECT pos, neg,
                   CAST(SUM(pos) OVER (
                       ORDER BY score DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_pos,
                   CAST(SUM(pos + neg) OVER (
                       ORDER BY score DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_all,
                   CAST(SUM(pos) OVER () AS BIGINT) AS n_pos,
                   CAST(SUM(neg) OVER () AS BIGINT) AS n_neg
            FROM grid
        )
        SELECT n_pos, n_neg,
               ROUND(n_pos * 1.0 / (n_pos + n_neg), 6) AS prevalence,
               ROUND(SUM(pos * (cum_pos * 1.0 / cum_all)) / n_pos, 6)
                   AS average_precision
        FROM run GROUP BY n_pos, n_neg
    """,
    doc=(
        "EXACT AVERAGE PRECISION (area under the precision-recall step "
        "curve) of the quality score vs the binary label — the "
        "threshold-free PR summary that, unlike ROC-AUC, stays "
        "informative under heavy class imbalance (the usual regime for "
        "'is this document good' labels). Same bounded-grid trick as "
        "roc_auc_exact: scores round to 4dp first, so AP = sum over the "
        "DISTINCT-SCORE grid of pos(s) * precision-at-threshold(s) / "
        "n_pos needs one hash aggregate plus ordered windows over a "
        "<=10^4-row grid (the documented-bounded window class), never a "
        "corpus sort. Tie handling matches the step-function definition "
        "(sklearn average_precision_score on the rounded scores); "
        "prevalence = the random-classifier baseline rides along."
    ),
    tags=("labeling", "evals", "llm", "statistics"),
)
def average_precision_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _scored(spark, sf_dir)
    grid = s.groupBy("score").agg(
        F.sum("label").cast("bigint").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("bigint").alias("neg"),
    )
    w_run = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    run = grid.select(
        "pos",
        "neg",
        F.sum("pos").over(w_run).cast("bigint").alias("cum_pos"),
        F.sum(F.col("pos") + F.col("neg")).over(w_run).cast("bigint").alias("cum_all"),
        F.sum("pos").over(w_all).cast("bigint").alias("n_pos"),
        F.sum("neg").over(w_all).cast("bigint").alias("n_neg"),
    )
    return (
        run.groupBy("n_pos", "n_neg")
        .agg(
            F.round(
                F.col("n_pos") * F.lit(1.0) / (F.col("n_pos") + F.col("n_neg")), 6
            ).alias("prevalence"),
            F.round(
                F.sum(
                    F.col("pos")
                    * (F.col("cum_pos") * F.lit(1.0) / F.col("cum_all"))
                )
                / F.col("n_pos"),
                6,
            ).alias("average_precision"),
        )
        .select("n_pos", "n_neg", "prevalence", "average_precision")
    )


# ---------------------------------------------------------------------------
# Isotonic calibration: exact PAV solution via the minimax identity on a
# bounded bin grid — fully cross-engine hash-checkable.
# ---------------------------------------------------------------------------

_ISO_BINS = 50


@register(
    "isotonic_calibration_bins",
    oracle=f"""
        WITH {_SCORE_CTE},
        per_bin AS (
            SELECT LEAST(CAST(FLOOR(score * {_ISO_BINS}) AS BIGINT),
                         {_ISO_BINS - 1}) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(label) AS BIGINT) AS pos
            FROM scored GROUP BY 1
        ),
        cums AS (
            SELECT bin, n, pos,
                   CAST(SUM(n) OVER w AS BIGINT) AS cn,
                   CAST(SUM(pos) OVER w AS BIGINT) AS cp
            FROM per_bin
            WINDOW w AS (ORDER BY bin
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        seg AS (
            SELECT j.bin AS jb, k.bin AS kb,
                   (k.cp - j.cp + j.pos) * 1.0 / (k.cn - j.cn + j.n) AS m
            FROM cums j JOIN cums k ON j.bin <= k.bin
        ),
        lower_env AS (
            SELECT i.bin, s.jb, MIN(s.m) AS lo
            FROM cums i JOIN seg s ON s.jb <= i.bin AND s.kb >= i.bin
            GROUP BY i.bin, s.jb
        ),
        iso AS (SELECT bin, MAX(lo) AS v FROM lower_env GROUP BY bin)
        SELECT p.bin, p.n, p.pos,
               ROUND(p.pos * 1.0 / p.n, 6) AS emp_rate,
               ROUND(i.v, 6) AS calibrated
        FROM per_bin p JOIN iso i USING (bin)
    """,
    doc=(
        "EXACT ISOTONIC CALIBRATION of the quality score against the "
        f"binary label on a {_ISO_BINS}-bin grid, via the minimax "
        "identity iso(i) = max_{{j<=i}} min_{{k>=i}} weightedMean(rate, "
        "bins j..k) — the closed form of the pool-adjacent-violators "
        "solution, which turns an inherently sequential algorithm into "
        "pure joins/aggregates over the BOUNDED bin grid (<=50 rows "
        "after one corpus-scan hash aggregate, so the j<=k / j<=i<=k "
        "theta-joins touch <=~2k and <=~40k grid tuples regardless of "
        "corpus size; at 100 TB the corpus scan is the only big stage). "
        "Output: per-bin count, positives, raw empirical rate, and the "
        "monotone-non-decreasing calibrated probability. Segment means "
        "are single divisions of exact integer prefix-sum differences "
        "and min/max are selections, so calibrated values hash-match "
        "cross-engine bit-exactly — an oracle-checked isotonic "
        "regression, not a rows-only one."
    ),
    tags=("labeling", "evals", "llm", "statistics", "headline"),
)
def isotonic_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _scored(spark, sf_dir)
    per_bin = s.groupBy(
        F.least(
            F.floor(F.col("score") * _ISO_BINS).cast("bigint"),
            F.lit(_ISO_BINS - 1).cast("bigint"),
        ).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cums = per_bin.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("pos").over(w).cast("bigint").alias("cp"),
    )
    j = cums.select(
        F.col("bin").alias("jb"),
        F.col("n").alias("jn"),
        F.col("pos").alias("jp"),
        F.col("cn").alias("jcn"),
        F.col("cp").alias("jcp"),
    )
    k = cums.select(
        F.col("bin").alias("kb"),
        F.col("cn").alias("kcn"),
        F.col("cp").alias("kcp"),
    )
    seg = (
        j.join(F.broadcast(k), F.col("jb") <= F.col("kb"))
        .select(
            "jb",
            "kb",
            (
                (F.col("kcp") - F.col("jcp") + F.col("jp"))
                * F.lit(1.0)
                / (F.col("kcn") - F.col("jcn") + F.col("jn"))
            ).alias("m"),
        )
    )
    i = cums.select(F.col("bin"))
    lower_env = (
        i.join(
            F.broadcast(seg),
            (F.col("jb") <= F.col("bin")) & (F.col("kb") >= F.col("bin")),
        )
        .groupBy("bin", "jb")
        .agg(F.min("m").alias("lo"))
    )
    iso = lower_env.groupBy("bin").agg(F.max("lo").alias("v"))
    return (
        per_bin.join(iso, "bin")
        .select(
            "bin",
            "n",
            "pos",
            F.round(F.col("pos") * F.lit(1.0) / F.col("n"), 6).alias("emp_rate"),
            F.round(F.col("v"), 6).alias("calibrated"),
        )
    )


# ---------------------------------------------------------------------------
# Bradley-Terry strengths from pairwise preferences (rows-only: iterative
# MLE; pytest re-derives the MM fixed point in pure Python).
# ---------------------------------------------------------------------------

_BT_ITERS = 500
_BT_TOL = 1e-14

_BT_SCHEMA = StructType(
    [
        StructField("brand", StringType(), False),
        StructField("wins", LongType(), False),
        StructField("games", LongType(), False),
        StructField("strength", DoubleType(), False),
        StructField("rank", IntegerType(), False),
    ]
)


def _bt_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand_a, brand_b, wins_a, games) with brand_a < brand_b — the
    Spark-side heavy lifting: per-(order, brand) best line, then a
    within-order self-join. Lines per order are single digits, so the
    self-join output is O(|orders| * pairs-per-order), and the final
    aggregate lands on the <=B^2-row brand-pair domain."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lb = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select("l_orderkey", F.col("p_brand").alias("brand"), "l_extendedprice")
    ob = lb.groupBy("l_orderkey", "brand").agg(
        F.max("l_extendedprice").alias("price")
    )
    a = ob.select(
        F.col("l_orderkey").alias("ok"),
        F.col("brand").alias("brand_a"),
        F.col("price").alias("pa"),
    )
    b = ob.select(
        F.col("l_orderkey").alias("ok"),
        F.col("brand").alias("brand_b"),
        F.col("price").alias("pb"),
    )
    pairs = a.join(b, "ok").filter(F.col("brand_a") < F.col("brand_b"))
    # higher best-line price wins; exact tie -> the lexicographically
    # smaller brand (deterministic, documented)
    win_a = (F.col("pa") >= F.col("pb")).cast("int")
    return pairs.groupBy("brand_a", "brand_b").agg(
        F.sum(win_a).cast("bigint").alias("wins_a"),
        F.count(F.lit(1)).cast("bigint").alias("games"),
    )


def _bt_mm(rows: list) -> dict[str, float]:
    """Deterministic MM fixed point for Bradley-Terry on the aggregated
    win matrix (pure Python over the bounded brand domain)."""
    wins: dict[str, float] = {}
    games: dict[tuple[str, str], float] = {}
    for r in rows:
        a, b, wa, g = r["brand_a"], r["brand_b"], r["wins_a"], r["games"]
        wins[a] = wins.get(a, 0.0) + wa
        wins[b] = wins.get(b, 0.0) + (g - wa)
        games[(a, b)] = games.get((a, b), 0.0) + g
    brands = sorted(set(wins))
    p = {x: 1.0 / len(brands) for x in brands}
    neighbors: dict[str, list[tuple[str, float]]] = {x: [] for x in brands}
    for (a, b), g in sorted(games.items()):
        neighbors[a].append((b, g))
        neighbors[b].append((a, g))
    for _ in range(_BT_ITERS):
        new = {}
        for x in brands:
            denom = sum(g / (p[x] + p[y]) for y, g in neighbors[x])
            new[x] = wins[x] / denom if denom > 0 else 0.0
        tot = sum(new.values())
        if tot > 0:
            new = {x: v / tot for x, v in new.items()}
        delta = max(abs(new[x] - p[x]) for x in brands)
        p = new
        if delta < _BT_TOL:
            break
    return p


@register(
    "bradley_terry_strengths",
    oracle=None,  # iterative MLE: the MM fixed point is not
    # SQL-expressible; pytest re-derives it in pure Python from the same
    # win matrix and checks equality (tests/test_labeling.py), plus
    # sum-to-1 / determinism properties.
    doc=(
        "BRADLEY-TERRY STRENGTHS from pairwise preferences — the model "
        "behind arena-style LLM rankings and reward-data aggregation. "
        "Preferences: within each order, every brand pair 'plays'; the "
        "brand whose best line has the higher extendedprice wins (exact "
        "tie -> lexicographically smaller brand; deterministic). "
        "Plan: the distributed part reduces |lineitem| rows to the "
        "<=B^2-row brand-pair WIN MATRIX (per-(order,brand) max, "
        "within-order self-join on single-digit-cardinality groups, one "
        "hash aggregate); the MM fixed point p_i <- W_i / sum_j "
        "n_ij/(p_i+p_j) then runs driver-side on that bounded matrix — "
        "the same bounded-collect class as the PQ codebook pull "
        "(similarity.py:1257); 100 TB changes the matrix VALUES, not its "
        "size. Output: brand, wins, games, normalized strength (sums to "
        "1), dense rank by strength."
    ),
    tags=("labeling", "llm", "statistics", "iterative"),
)
def bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    grp = _bt_pair_counts(spark, sf_dir)
    rows = [r.asDict() for r in grp.collect()]  # <=B^2 rows, brand domain
    p = _bt_mm(rows)
    wins: dict[str, int] = {}
    games: dict[str, int] = {}
    for r in rows:
        a, b = r["brand_a"], r["brand_b"]
        wins[a] = wins.get(a, 0) + int(r["wins_a"])
        wins[b] = wins.get(b, 0) + int(r["games"] - r["wins_a"])
        games[a] = games.get(a, 0) + int(r["games"])
        games[b] = games.get(b, 0) + int(r["games"])
    order = sorted(p, key=lambda x: (-p[x], x))
    data = [
        (x, wins[x], games[x], round(p[x], 6), i + 1)
        for i, x in enumerate(order)
    ]
    return spark.createDataFrame(data, _BT_SCHEMA)


# ---------------------------------------------------------------------------
# Round-5i: external clustering metrics (purity/ARI/NMI), Fleiss' kappa,
# Dawid-Skene annotator reweighting, and the cumulative-gains chart.
# ---------------------------------------------------------------------------


def _clustering_metrics_oracle() -> str:
    from weather_stream_processor_spark.operators.similarity import (
        _KMEANS_ITERS,
        _KMEANS_K,
        _kmeans_oracle,
    )

    km = _kmeans_oracle(_KMEANS_K, _KMEANS_ITERS)
    return f"""
        WITH assign AS ({km}),
        cont AS (
            SELECT a.cluster_id, e.label, CAST(COUNT(*) AS BIGINT) AS nij
            FROM assign a JOIN embeddings e USING (vec_id)
            GROUP BY 1, 2
        ),
        ca AS (SELECT cluster_id, CAST(SUM(nij) AS BIGINT) AS ai
               FROM cont GROUP BY 1),
        cb AS (SELECT label, CAST(SUM(nij) AS BIGINT) AS bj
               FROM cont GROUP BY 1),
        tot AS (
            SELECT CAST(SUM(nij) AS BIGINT) AS n,
                   CAST(SUM(nij * (nij - 1) / 2) AS BIGINT) AS idx,
                   CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
                   CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
            FROM cont
        ),
        pur AS (
            SELECT CAST(SUM(mx) AS BIGINT) AS purity_num
            FROM (SELECT cluster_id, MAX(nij) AS mx FROM cont GROUP BY 1)
        ),
        suma AS (SELECT CAST(SUM(ai * (ai - 1) / 2) AS BIGINT) AS sa,
                        SUM(-1.0 * ai / (SELECT n FROM tot)
                            * ln(1.0 * ai / (SELECT n FROM tot))) AS hu
                 FROM ca),
        sumb AS (SELECT CAST(SUM(bj * (bj - 1) / 2) AS BIGINT) AS sb,
                        SUM(-1.0 * bj / (SELECT n FROM tot)
                            * ln(1.0 * bj / (SELECT n FROM tot))) AS hv
                 FROM cb),
        mi AS (
            SELECT SUM(1.0 * c.nij / t.n
                       * ln((1.0 * t.n * c.nij) / (1.0 * a.ai * b.bj))) AS mi
            FROM cont c
            JOIN ca a USING (cluster_id)
            JOIN cb b USING (label)
            CROSS JOIN tot t
        )
        SELECT t.n AS n_points, t.n_clusters, t.n_labels,
               ROUND(p.purity_num * 1.0 / t.n, 6) AS purity,
               ROUND((t.idx - 1.0 * sa.sa * sb.sb / (t.n * (t.n - 1) / 2))
                     / ((sa.sa + sb.sb) / 2.0
                        - 1.0 * sa.sa * sb.sb / (t.n * (t.n - 1) / 2)),
                     6) AS ari,
               ROUND(m.mi / sqrt(sa.hu * sb.hv), 6) AS nmi
        FROM tot t CROSS JOIN pur p CROSS JOIN suma sa CROSS JOIN sumb sb
        CROSS JOIN mi m
    """


@register(
    "clustering_external_metrics",
    oracle=_clustering_metrics_oracle(),
    doc=(
        "EXTERNAL CLUSTERING EVALUATION of the registered deterministic "
        "k-means against the embeddings' true label column: PURITY "
        "(sum of per-cluster majority counts / n), ADJUSTED RAND INDEX "
        "(pair-counting agreement corrected for chance — every term "
        "derives from integer C(.,2) sums over the contingency table), "
        "and NORMALIZED MUTUAL INFORMATION (MI / sqrt(Hu*Hv)). The "
        "companion to simplified_silhouette: silhouette scores geometry "
        "(internal), these score label recovery (external). Plan: "
        "reuses kmeans_embedding_clusters' registered execution, then "
        "ONE hash aggregate builds the k x |labels| CONTINGENCY TABLE "
        "(<=80 cells) and every metric is arithmetic over that bounded "
        "table and its two marginals — at 100 TB the kmeans rounds "
        "dominate and the evaluation itself is O(k*|labels|). ARI/"
        "purity are exact integer arithmetic; the NMI log terms are "
        "per-cell deterministic doubles summed over <=80 cells and "
        "rounded at 6dp."
    ),
    tags=("labeling", "evals", "clustering", "llm", "statistics"),
)
def clustering_external_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.registry import _REGISTRY

    assign = _REGISTRY["kmeans_embedding_clusters"].builder(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cont = (
        assign.join(emb, "vec_id")
        .groupBy("cluster_id", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nij"))
    )
    from weather_stream_processor_spark.plans.caching import persisted_result

    def build(cont: DataFrame) -> DataFrame:
        ca = cont.groupBy("cluster_id").agg(F.sum("nij").cast("bigint").alias("ai"))
        cb = cont.groupBy("label").agg(F.sum("nij").cast("bigint").alias("bj"))
        tot = cont.agg(
            F.sum("nij").cast("bigint").alias("n"),
            F.sum(F.col("nij") * (F.col("nij") - 1) / 2).cast("bigint").alias("idx"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.countDistinct("label").cast("bigint").alias("n_labels"),
        )
        pur = (
            cont.groupBy("cluster_id")
            .agg(F.max("nij").alias("mx"))
            .agg(F.sum("mx").cast("bigint").alias("purity_num"))
        )
        n_ = F.col("n")
        suma = ca.crossJoin(tot.select("n")).agg(
            F.sum(F.col("ai") * (F.col("ai") - 1) / 2).cast("bigint").alias("sa"),
            F.sum(
                F.lit(-1.0) * F.col("ai") / n_ * F.log(F.lit(1.0) * F.col("ai") / n_)
            ).alias("hu"),
        )
        sumb = cb.crossJoin(tot.select("n")).agg(
            F.sum(F.col("bj") * (F.col("bj") - 1) / 2).cast("bigint").alias("sb"),
            F.sum(
                F.lit(-1.0) * F.col("bj") / n_ * F.log(F.lit(1.0) * F.col("bj") / n_)
            ).alias("hv"),
        )
        mi = (
            cont.join(ca, "cluster_id")
            .join(cb, "label")
            .crossJoin(tot.select("n"))
            .agg(
                F.sum(
                    F.lit(1.0)
                    * F.col("nij")
                    / n_
                    * F.log(
                        (F.lit(1.0) * n_ * F.col("nij"))
                        / (F.lit(1.0) * F.col("ai") * F.col("bj"))
                    )
                ).alias("mi")
            )
        )
        nc2 = n_ * (n_ - 1) / 2
        expected = F.lit(1.0) * F.col("sa") * F.col("sb") / nc2
        maxi = (F.col("sa") + F.col("sb")) / F.lit(2.0)
        return (
            tot.crossJoin(pur)
            .crossJoin(suma)
            .crossJoin(sumb)
            .crossJoin(mi)  # all 1-row frames
            .select(
                F.col("n").alias("n_points"),
                "n_clusters",
                "n_labels",
                F.round(F.col("purity_num") * F.lit(1.0) / n_, 6).alias("purity"),
                F.round(
                    (F.col("idx") - expected) / (maxi - expected), 6
                ).alias("ari"),
                F.round(
                    F.col("mi") / F.sqrt(F.col("hu") * F.col("hv")), 6
                ).alias("nmi"),
            )
        )

    # the contingency table feeds six aggregate subtrees — persist it so
    # the kmeans rounds execute once, not six times
    return persisted_result(cont, build)


@register(
    "fleiss_kappa_agreement",
    oracle=f"""
        WITH ann AS (
            SELECT doc_id, lang,
                   unnest([{", ".join(str(r) for r in range(_N_ANN))}]) AS r
            FROM documents
        ),
        votes AS (
            SELECT doc_id,
                   CASE WHEN {_flip_sql("r")} THEN 'noise' ELSE lang END AS cat
            FROM ann
        ),
        cells AS (
            SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS nic
            FROM votes GROUP BY 1, 2
        ),
        item_sum AS (
            SELECT CAST(SUM(nic * nic) AS BIGINT) AS sum_sq,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_items
            FROM cells
        ),
        cat_sum AS (
            SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS sum_cat_sq
            FROM (SELECT cat, CAST(SUM(nic) AS BIGINT) AS cnt
                  FROM cells GROUP BY cat)
        )
        SELECT i.n_items,
               CAST({_N_ANN} AS INT) AS n_raters,
               ROUND((i.sum_sq - i.n_items * {_N_ANN}) * 1.0
                     / (i.n_items * {_N_ANN} * {_N_ANN - 1}), 6) AS p_bar,
               ROUND(c.sum_cat_sq * 1.0
                     / (i.n_items * i.n_items * {_N_ANN * _N_ANN}), 6) AS p_e,
               ROUND(((i.sum_sq - i.n_items * {_N_ANN}) * 1.0
                      / (i.n_items * {_N_ANN} * {_N_ANN - 1})
                      - c.sum_cat_sq * 1.0
                        / (i.n_items * i.n_items * {_N_ANN * _N_ANN}))
                     / (1.0 - c.sum_cat_sq * 1.0
                        / (i.n_items * i.n_items * {_N_ANN * _N_ANN})),
                     6) AS fleiss_kappa
        FROM item_sum i CROSS JOIN cat_sum c
    """,
    doc=(
        f"FLEISS' KAPPA over the {_N_ANN} synthetic annotators' full "
        "category votes (each annotator emits the doc's lang or 'noise' "
        "via the deterministic Knuth-hash corruption) — the multi-rater "
        "generalization of Cohen's kappa, the statistic quoted when >2 "
        "annotators label the same items. Both the mean per-item "
        "agreement P-bar and the chance term P-e reduce to EXACT INTEGER "
        "sums (sum of squared per-item category counts; sum of squared "
        "category totals), so every quantity is a single division of "
        "bigints and the cross-engine hash is exact — no float "
        "accumulation anywhere. Plan: one explode to |docs|x"
        f"{_N_ANN} votes, a (doc, cat)-keyed hash aggregate, and two "
        "1-row reductions; shuffle bounded by |docs| x |categories|. "
        "(Category totals are squared: at extreme scale guard cnt < "
        "3e9 or widen to DECIMAL.)"
    ),
    tags=("labeling", "llm", "statistics"),
)
def fleiss_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ann = docs.select(
        "doc_id",
        "lang",
        F.explode(F.array(*[F.lit(r) for r in range(_N_ANN)])).alias("r"),
    )
    hsh = (
        F.shiftright(((F.col("doc_id") * 31 + F.col("r")) % _MOD) * F.lit(_KNUTH), 16)
        % _FLIP_MOD
    )
    votes = ann.select(
        "doc_id", F.when(hsh == 0, F.lit("noise")).otherwise(F.col("lang")).alias("cat")
    )
    cells = votes.groupBy("doc_id", "cat").agg(
        F.count(F.lit(1)).cast("bigint").alias("nic")
    )
    item_sum = cells.agg(
        F.sum(F.col("nic") * F.col("nic")).cast("bigint").alias("sum_sq"),
        F.countDistinct("doc_id").cast("bigint").alias("n_items"),
    )
    cat_sum = (
        cells.groupBy("cat")
        .agg(F.sum("nic").cast("bigint").alias("cnt"))
        .agg(F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("sum_cat_sq"))
    )
    r, r2 = _N_ANN, _N_ANN * _N_ANN
    p_bar = (
        (F.col("sum_sq") - F.col("n_items") * r)
        * F.lit(1.0)
        / (F.col("n_items") * r * (r - 1))
    )
    p_e = F.col("sum_cat_sq") * F.lit(1.0) / (
        F.col("n_items") * F.col("n_items") * r2
    )
    return item_sum.crossJoin(cat_sum).select(
        "n_items",
        F.lit(r).cast("int").alias("n_raters"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round((p_bar - p_e) / (F.lit(1.0) - p_e), 6).alias("fleiss_kappa"),
    )


# ---------------------------------------------------------------------------
# Dawid-Skene annotator reweighting: M-step confusion matrices from the
# majority consensus, then one E-step posterior argmax per document.
# ---------------------------------------------------------------------------


def _ds_votes_sql() -> str:
    return f"""
        ann AS (
            SELECT doc_id, lang,
                   unnest([{", ".join(str(r) for r in range(_N_ANN))}]) AS r
            FROM documents
        ),
        votes AS (
            SELECT doc_id, r,
                   CASE WHEN {_flip_sql("r")} THEN 'noise' ELSE lang END AS obs
            FROM ann
        ),
        cons AS (
            SELECT v.doc_id,
                   CASE WHEN SUM(CASE WHEN v.obs = 'noise' THEN 1 ELSE 0 END)
                             >= {(_N_ANN // 2) + 1}
                        THEN 'noise' ELSE ANY_VALUE(a.lang) END AS consensus
            FROM votes v JOIN (SELECT DISTINCT doc_id, lang FROM ann) a
                 USING (doc_id)
            GROUP BY v.doc_id
        )
    """


@register(
    "dawid_skene_correction",
    oracle=f"""
        WITH {_ds_votes_sql()},
        conf AS (
            SELECT v.r, c.consensus AS t, v.obs,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM votes v JOIN cons c USING (doc_id)
            GROUP BY 1, 2, 3
        ),
        conf_p AS (
            SELECT r, t, obs, cnt * 1.0 / SUM(cnt) OVER (PARTITION BY r, t)
                       AS p
            FROM conf
        ),
        prior AS (
            SELECT consensus AS t,
                   COUNT(*) * 1.0 / (SELECT COUNT(*) FROM cons) AS pp
            FROM cons GROUP BY 1
        ),
        pvt AS (
            SELECT doc_id,
                   MAX(CASE WHEN r = 0 THEN obs END) AS o0,
                   MAX(CASE WHEN r = 1 THEN obs END) AS o1,
                   MAX(CASE WHEN r = 2 THEN obs END) AS o2
            FROM votes GROUP BY doc_id
        ),
        cand AS (SELECT DISTINCT obs AS t FROM votes),
        scores AS (
            SELECT p.doc_id, cd.t,
                   pr.pp * COALESCE(c0.p, 0.0) * COALESCE(c1.p, 0.0)
                         * COALESCE(c2.p, 0.0) AS score
            FROM pvt p
            CROSS JOIN cand cd
            JOIN prior pr ON pr.t = cd.t
            LEFT JOIN conf_p c0 ON c0.r = 0 AND c0.t = cd.t AND c0.obs = p.o0
            LEFT JOIN conf_p c1 ON c1.r = 1 AND c1.t = cd.t AND c1.obs = p.o1
            LEFT JOIN conf_p c2 ON c2.r = 2 AND c2.t = cd.t AND c2.obs = p.o2
        ),
        pick AS (
            SELECT doc_id, ds_label, score_e9 FROM (
                SELECT doc_id, t AS ds_label,
                       CAST(FLOOR(score * 1000000000) AS BIGINT) AS score_e9,
                       ROW_NUMBER() OVER (
                           PARTITION BY doc_id
                           ORDER BY CAST(FLOOR(score * 1000000000) AS BIGINT)
                                        DESC,
                                    t ASC) AS rn
                FROM scores
            ) WHERE rn = 1
        )
        SELECT p.doc_id, c.consensus, p.ds_label, p.score_e9,
               CASE WHEN p.ds_label <> c.consensus THEN 1 ELSE 0 END
                   AS changed
        FROM pick p JOIN cons c USING (doc_id)
    """,
    doc=(
        "DAWID-SKENE ANNOTATOR REWEIGHTING (one EM round, closed form): "
        "per-annotator CONFUSION MATRICES and class priors are estimated "
        "from the majority consensus (the M-step), then every document "
        "is relabeled by the maximum-a-posteriori class under "
        "prior(t) * prod_r P_r(obs_r | t) (the E-step) — the standard "
        "upgrade from majority vote when annotators have unequal "
        "reliability. Plan: one row per doc carries its R votes and its "
        "consensus (R is a compile-time constant); the confusion counts "
        "are one hash aggregate on the (annotator, consensus, observed) "
        "domain, bounded at R x |cats|^2 rows and collected to the "
        "driver, which derives the probabilities, priors and candidates; "
        "the E-step is then a narrow projection of the per-doc row, each "
        "confusion lookup a literal CASE. The per-(doc, candidate) score "
        "is a FIXED-ORDER product of four exactly-derived doubles (no "
        "aggregation over floats), so the argmax — the min of "
        "(-score_e9, t) over the |cats| candidates of each doc — is "
        "cross-engine deterministic. The hashed score ships as "
        "FLOOR(score * 1e9) BIGINT (r8 ULP audit: ROUND(score, 9) sat "
        "exactly on a half-grid tie; floor of the shared IEEE double "
        "has no rounding-mode dependence), and the argmax ranks by the "
        "same floored integer in both engines."
    ),
    tags=("labeling", "llm", "statistics"),
)
def dawid_skene_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doc_id is the key of `documents` (unique in every generated fixture:
    # 500/500 at sf0.001 and sf0.01, 5000/5000 at sf0.1; the replicas of
    # tools/scale_probe offset it per copy), so one row per doc carries
    # all R votes. Null ids never meet the SQL form's equi-join on doc_id.
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    obs = []
    for r in range(_N_ANN):
        hsh = (
            F.shiftright(((F.col("doc_id") * 31 + r) % _MOD) * F.lit(_KNUTH), 16)
            % _FLIP_MOD
        )
        obs.append(F.when(hsh == 0, F.lit("noise")).otherwise(F.col("lang")).alias(f"o{r}"))
    n_noise = sum(F.when(F.col(f"o{r}") == "noise", 1).otherwise(0) for r in range(_N_ANN))
    rows = docs.select("doc_id", "lang", *obs).select(
        "doc_id",
        *[f"o{r}" for r in range(_N_ANN)],
        F.when(n_noise >= (_N_ANN // 2) + 1, F.lit("noise"))
        .otherwise(F.col("lang"))
        .alias("consensus"),
    )
    votes = rows.select(
        "consensus",
        F.inline(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), F.col(f"o{r}").alias("obs"))
                    for r in range(_N_ANN)
                ]
            )
        ),
    )
    # M-step: the confusion counts, one row per (annotator, consensus,
    # observed) — bounded by construction at R x |cats|^2 rows (3 x 6^2
    # here), whatever the corpus size, so it is pulled to the driver whole
    cnt = {
        (r, t, o): n
        for r, t, o, n in votes.groupBy("r", "consensus", "obs").count().collect()
    }
    tot: dict = {}
    for (r, t, _), n in cnt.items():
        tot[(r, t)] = tot.get((r, t), 0) + n
    ct = {t: n for (r, t), n in tot.items() if r == 0}  # one r = 0 vote per doc
    nd = sum(ct.values())
    # a candidate is an observed label that is also some doc's consensus
    # (it needs a prior); a null label never is
    cands = sorted({o for _, _, o in cnt} & set(ct) - {None})
    if not cands:
        return spark.createDataFrame([], _DS_SCHEMA)
    # E-step: per doc and candidate t, the fixed-order product
    # pp * p0 * p1 * p2 with each factor a literal CASE lookup on the doc's
    # vote (a missing cell is 0.0), from the same IEEE divisions the SQL
    # form makes (cnt * 1.0 / SUM(cnt) per (r, t); ct * 1.0 / nd); the
    # argmax by (score_e9 DESC, t ASC) is the min of (-score_e9, t). Built
    # as SQL text: one parse instead of a py4j call per literal, and
    # repr() + D is a double literal that parses back to the same double.

    def lookup(r: int, t: str) -> str:
        cells = sorted(
            (o, n * 1.0 / tot[(r, t)])
            for (rr, tt, o), n in cnt.items()
            if (rr, tt) == (r, t) and o is not None
        )
        whens = "".join(f" WHEN {_sql_str(o)} THEN {p!r}D" for o, p in cells)
        return f"CASE o{r}{whens} ELSE 0.0D END" if cells else "0.0D"

    picks = []
    for t in cands:
        score = " * ".join([f"{ct[t] * 1.0 / nd!r}D"] + [lookup(r, t) for r in range(_N_ANN)])
        picks.append(
            f"named_struct('neg_e9', -CAST(FLOOR({score} * 1000000000.0D) AS BIGINT),"
            f" 't', {_sql_str(t)})"
        )
    return rows.select(
        "doc_id", "consensus", F.expr(f"array_min(array({', '.join(picks)}))").alias("best")
    ).selectExpr(
        "doc_id",
        "consensus",
        "best.t AS ds_label",
        "-best.neg_e9 AS score_e9",
        "CASE WHEN best.t <> consensus THEN 1 ELSE 0 END AS changed",
    )


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_DS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("consensus", StringType()),
        StructField("ds_label", StringType()),
        StructField("score_e9", LongType()),
        StructField("changed", IntegerType()),
    ]
)


# ---------------------------------------------------------------------------
# Cumulative gains / lift chart over the bounded score grid.
# ---------------------------------------------------------------------------

_N_GAIN_DECILES = 10


@register(
    "cumulative_gains_deciles",
    oracle=f"""
        WITH {_SCORE_CTE},
        grid AS (
            SELECT score,
                   CAST(SUM(label) AS BIGINT) AS pos,
                   CAST(COUNT(*) - SUM(label) AS BIGINT) AS neg
            FROM scored GROUP BY score
        ),
        run AS (
            SELECT pos, neg,
                   CAST(SUM(pos) OVER wd AS BIGINT) - pos AS pb,
                   CAST(SUM(pos + neg) OVER wd AS BIGINT) AS cum_all,
                   CAST(SUM(pos + neg) OVER wd AS BIGINT) - pos - neg AS ab,
                   CAST(SUM(pos) OVER () AS BIGINT) AS n_pos,
                   CAST(SUM(pos + neg) OVER () AS BIGINT) AS n
            FROM grid
            WINDOW wd AS (ORDER BY score DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        deciles AS (
            SELECT unnest(generate_series(1, {_N_GAIN_DECILES})) AS decile
        ),
        bound AS (
            SELECT d.decile, r.*,
                   CAST(FLOOR((r.n * d.decile + {_N_GAIN_DECILES - 1})
                              / {_N_GAIN_DECILES}.0) AS BIGINT) AS cutoff_rows
            FROM deciles d CROSS JOIN run r
        ),
        hit AS (
            SELECT decile, cutoff_rows, n_pos, n,
                   pb + pos * 1.0 * (cutoff_rows - ab) / (cum_all - ab)
                       AS captured
            FROM bound
            WHERE ab < cutoff_rows AND cum_all >= cutoff_rows
        )
        SELECT CAST(decile AS BIGINT) AS decile, cutoff_rows,
               ROUND(captured, 6) AS captured_pos,
               ROUND(captured / n_pos, 6) AS gain,
               ROUND((captured / n_pos) / (cutoff_rows * 1.0 / n), 6) AS lift
        FROM hit
    """,
    doc=(
        "CUMULATIVE GAINS / LIFT CHART of the quality score vs the "
        "binary label: for each population decile (top 10%, 20%, ...), "
        "the fraction of all positives captured when keeping only the "
        "highest-scored rows, and the lift over random selection — the "
        "curve behind every 'keep the top-k% by quality score' budget "
        "decision. Same bounded-grid discipline as roc_auc_exact: one "
        "hash aggregate to the 4-dp DISTINCT-SCORE grid, cumulative "
        "windows over that <=10^4-row grid, then each decile boundary "
        "range-joins to the single grid block containing it; a boundary "
        "that splits a tied-score block attributes positives "
        "FRACTIONALLY (uniform-within-ties, the standard convention, "
        "deterministic arithmetic). Output is always "
        f"{_N_GAIN_DECILES} rows; no corpus sort anywhere."
    ),
    tags=("labeling", "evals", "llm", "statistics"),
)
def cumulative_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _scored(spark, sf_dir)
    grid = s.groupBy("score").agg(
        F.sum("label").cast("bigint").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("bigint").alias("neg"),
    )
    wd = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    run = grid.select(
        "pos",
        "neg",
        (F.sum("pos").over(wd).cast("bigint") - F.col("pos")).alias("pb"),
        F.sum(F.col("pos") + F.col("neg")).over(wd).cast("bigint").alias("cum_all"),
        (
            F.sum(F.col("pos") + F.col("neg")).over(wd).cast("bigint")
            - F.col("pos")
            - F.col("neg")
        ).alias("ab"),
        F.sum("pos").over(w_all).cast("bigint").alias("n_pos"),
        F.sum(F.col("pos") + F.col("neg")).over(w_all).cast("bigint").alias("n"),
    )
    deciles = spark.range(1, _N_GAIN_DECILES + 1).select(
        F.col("id").alias("decile")
    )
    cutoff = F.floor(
        (F.col("n") * F.col("decile") + (_N_GAIN_DECILES - 1))
        / float(_N_GAIN_DECILES)
    ).cast("bigint")
    bound = deciles.crossJoin(run).withColumn("cutoff_rows", cutoff)
    hit = bound.filter(
        (F.col("ab") < F.col("cutoff_rows")) & (F.col("cum_all") >= F.col("cutoff_rows"))
    )
    captured = F.col("pb") + F.col("pos") * F.lit(1.0) * (
        F.col("cutoff_rows") - F.col("ab")
    ) / (F.col("cum_all") - F.col("ab"))
    return hit.select(
        F.col("decile").cast("bigint").alias("decile"),
        "cutoff_rows",
        F.round(captured, 6).alias("captured_pos"),
        F.round(captured / F.col("n_pos"), 6).alias("gain"),
        F.round(
            (captured / F.col("n_pos"))
            / (F.col("cutoff_rows") * F.lit(1.0) / F.col("n")),
            6,
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Condorcet cycle audit: is the majority preference relation transitive?
# (round 9)
# ---------------------------------------------------------------------------

_SPEND_CENTS4 = (
    "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)"
    " AS BIGINT)"
)


@register(
    "condorcet_cycle_audit",
    oracle=f"""
        WITH spend AS (
            SELECT o.o_custkey AS cust, p.p_brand AS brand,
                   CAST(SUM({_SPEND_CENTS4}) AS BIGINT) AS sp
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY o.o_custkey, p.p_brand
        ),
        votes AS (
            SELECT a.brand AS brand_a, b.brand AS brand_b,
                   CAST(SUM(CASE WHEN a.sp > b.sp THEN 1 ELSE 0 END)
                        AS BIGINT) AS v_ab,
                   CAST(SUM(CASE WHEN b.sp > a.sp THEN 1 ELSE 0 END)
                        AS BIGINT) AS v_ba
            FROM spend a
            JOIN spend b ON a.cust = b.cust AND a.brand < b.brand
            GROUP BY a.brand, b.brand
        ),
        edges AS (
            SELECT CASE WHEN v_ab > v_ba THEN brand_a ELSE brand_b END AS w,
                   CASE WHEN v_ab > v_ba THEN brand_b ELSE brand_a END AS lo
            FROM votes WHERE v_ab <> v_ba
        )
        SELECT (SELECT CAST(COUNT(DISTINCT brand) AS BIGINT) FROM spend)
                   AS n_brands,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM votes
                WHERE v_ab = v_ba) AS n_ties,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM edges e1
                JOIN edges e2 ON e1.lo = e2.w
                JOIN edges e3 ON e2.lo = e3.w AND e3.lo = e1.w
                WHERE e1.w < e2.w AND e1.w < e3.w) AS n_cycles
    """,
    doc=(
        "CONDORCET CYCLE AUDIT of aggregated pairwise preferences — the "
        "transitivity check RLHF reward aggregation silently assumes "
        "away. Each customer is a voter whose preference order over "
        "brands is induced by exact integer-lifted spend (4-dp cents, "
        "the revenue_contribution lift); pairwise majority voting over "
        "all voters yields the majority digraph, and every directed "
        "3-cycle a>b>c>a in it is a Condorcet paradox — preference data "
        "a Bradley-Terry fit (bradley_terry_strengths) CANNOT represent, "
        "so the cycle count is the precondition audit for that model "
        "and for any arena-style ranking built on majority aggregation. "
        "Output is one all-BIGINT row: brands, majority edges, exact "
        "ties (no edge), and the directed-triangle census counted once "
        "per cycle via its minimal vertex. Plan: corpus reduces to the "
        "(customer, brand) spend aggregate in one shuffle; the "
        "per-customer pair expansion is bounded by the brand domain "
        "squared per voter (a few hundred rows each, linear overall); "
        "everything after lives on the <=B^2-row vote matrix, so the "
        "cycle join is dimension-sized. At 100 TB the voter expansion "
        "stays linear in customers and nothing global beyond the B^2 "
        "matrix exists."
    ),
    tags=("labeling", "llm", "preferences", "graph"),
)
def condorcet_cycle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, orders, part = load_tables(spark, sf_dir, "lineitem", "orders", "part")
    spend = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("o_custkey").alias("cust"), F.col("p_brand").alias("brand")
        )
        .agg(F.sum(F.expr(_SPEND_CENTS4)).cast("bigint").alias("sp"))
    )
    a = spend.alias("a")
    b = spend.alias("b")
    votes = (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
        )
        .agg(
            F.sum(F.when(F.col("a.sp") > F.col("b.sp"), 1).otherwise(0))
            .cast("bigint")
            .alias("v_ab"),
            F.sum(F.when(F.col("b.sp") > F.col("a.sp"), 1).otherwise(0))
            .cast("bigint")
            .alias("v_ba"),
        )
    )
    edges = votes.filter(F.col("v_ab") != F.col("v_ba")).select(
        F.when(F.col("v_ab") > F.col("v_ba"), F.col("brand_a"))
        .otherwise(F.col("brand_b"))
        .alias("w"),
        F.when(F.col("v_ab") > F.col("v_ba"), F.col("brand_b"))
        .otherwise(F.col("brand_a"))
        .alias("lo"),
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    cycles = (
        e1.join(e2, F.col("e1.lo") == F.col("e2.w"))
        .join(
            e3,
            (F.col("e2.lo") == F.col("e3.w"))
            & (F.col("e3.lo") == F.col("e1.w")),
        )
        .filter(
            (F.col("e1.w") < F.col("e2.w")) & (F.col("e1.w") < F.col("e3.w"))
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cycles"))
    )
    n_brands = spend.agg(
        F.countDistinct("brand").cast("bigint").alias("n_brands")
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_ties = votes.filter(F.col("v_ab") == F.col("v_ba")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ties")
    )
    return (
        n_brands.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_ties))
        .crossJoin(F.broadcast(cycles))
        .select("n_brands", "n_edges", "n_ties", "n_cycles")
    )


# ---------------------------------------------------------------------------
# Round 9: Krippendorff's alpha (nominal, missing-tolerant), Kendall's W
# judge concordance, and B-cubed — the three agreement/eval completions.
# ---------------------------------------------------------------------------

_KRIP_ABSENT_MOD = 5  # annotator r=2 abstains on ~20% of docs
_KRIP_ABSENT_SALT = 17


def _krip_absent_sql() -> str:
    return (
        f"((((doc_id * 31 + {_KRIP_ABSENT_SALT}) % {_MOD}) * {_KNUTH}) >> 16)"
        f" % {_KRIP_ABSENT_MOD} = 0"
    )


@register(
    "krippendorff_alpha_nominal",
    oracle=f"""
        WITH ann AS (
            SELECT doc_id,
                   unnest([{", ".join(str(r) for r in range(_N_ANN))}]) AS r
            FROM documents
        ),
        votes AS (
            SELECT doc_id, r,
                   CASE WHEN {_flip_sql("r")} THEN 1 ELSE 0 END AS v
            FROM ann
            WHERE NOT (r = {_N_ANN - 1} AND {_krip_absent_sql()})
        ),
        per_val AS (
            SELECT doc_id, v, CAST(COUNT(*) AS BIGINT) AS m_uc
            FROM votes GROUP BY doc_id, v
        ),
        per_unit AS (
            SELECT doc_id,
                   CAST(SUM(m_uc) AS BIGINT) AS m_u,
                   CAST(SUM(m_uc * (m_uc - 1)) AS BIGINT) AS same_pairs
            FROM per_val GROUP BY doc_id
        ),
        lifted AS (
            -- coincidence contributions lifted by 2/(m_u - 1), an exact
            -- INTEGER for m_u in {{2, 3}} (2 raters -> x2, 3 raters -> x1)
            SELECT CAST(SUM(m_u) AS BIGINT) AS n_vals,
                   CAST(SUM(CASE WHEN m_u = 2 THEN 2 * same_pairs
                                 ELSE same_pairs END) AS BIGINT) AS o2_diag,
                   CAST(COUNT(*) AS BIGINT) AS n_units
            FROM per_unit WHERE m_u >= 2
        ),
        margins AS (
            SELECT CAST(SUM(CASE WHEN v = 0 THEN m_uc ELSE 0 END) AS BIGINT)
                       AS n_c0,
                   CAST(SUM(CASE WHEN v = 1 THEN m_uc ELSE 0 END) AS BIGINT)
                       AS n_c1
            FROM per_val p JOIN per_unit u USING (doc_id) WHERE u.m_u >= 2
        )
        SELECT n_units, n_vals, n_c0, n_c1, o2_diag,
               ROUND((n_vals - o2_diag / 2.0) / n_vals, 6) AS d_o,
               ROUND((n_vals * 1.0 * n_vals - (n_c0 * 1.0 * n_c0
                       + n_c1 * 1.0 * n_c1))
                     / (n_vals * 1.0 * (n_vals - 1)), 6) AS d_e,
               ROUND(1.0 - (n_vals - 1) * 1.0 * (2 * n_vals - o2_diag)
                     / (2.0 * (n_vals * 1.0 * n_vals
                               - (n_c0 * 1.0 * n_c0 + n_c1 * 1.0 * n_c1))),
                     6) AS alpha
        FROM lifted CROSS JOIN margins
    """,
    doc=(
        "KRIPPENDORFF'S ALPHA (nominal) over the synthetic annotator "
        "panel WITH MISSING DATA — the agreement coefficient that "
        "Cohen's kappa (2 raters, complete) and Fleiss' kappa (fixed "
        "rater count) cannot express: annotator "
        f"{_N_ANN - 1} deterministically abstains on ~1/"
        f"{_KRIP_ABSENT_MOD} of documents (the house Knuth hash on a "
        "salted doc key), so units carry 2 OR 3 pairable values and "
        "alpha weights each unit's coincidence contributions by "
        "1/(m_u - 1) exactly as Krippendorff 1970 prescribes. The "
        "whole computation is EXACT INTEGER arithmetic: the per-unit "
        "weight 2/(m_u - 1) is an integer for m_u in {2, 3}, so the "
        "lifted diagonal o2_diag, the value marginals, and n are all "
        "BIGINTs, and alpha = 1 - (n-1)(2n - o2)/(2(n^2 - sum n_c^2)) "
        "is one rounded division at the end — the hash cannot drift. "
        "Plan: explode to <=3 votes per doc, two doc-keyed hash "
        "aggregates, two one-row reductions; no windows, no joins "
        "beyond the doc-keyed merge. At 100 TB the per-doc aggregate "
        "is the only corpus-scale shuffle."
    ),
    tags=("labeling", "llm", "statistics"),
)
def krippendorff_alpha_nominal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ann = docs.select(
        "doc_id",
        F.explode(F.array(*[F.lit(r) for r in range(_N_ANN)])).alias("r"),
    )
    flip = (
        F.shiftright(
            ((F.col("doc_id") * 31 + F.col("r")) % _MOD) * F.lit(_KNUTH), 16
        )
        % _FLIP_MOD
        == 0
    )
    absent = (
        F.shiftright(
            ((F.col("doc_id") * 31 + F.lit(_KRIP_ABSENT_SALT)) % _MOD)
            * F.lit(_KNUTH),
            16,
        )
        % _KRIP_ABSENT_MOD
        == 0
    )
    votes = ann.filter(~((F.col("r") == _N_ANN - 1) & absent)).select(
        "doc_id", F.when(flip, 1).otherwise(0).alias("v")
    )
    per_val = votes.groupBy("doc_id", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("m_uc")
    )
    per_unit = per_val.groupBy("doc_id").agg(
        F.sum("m_uc").cast("bigint").alias("m_u"),
        F.sum(F.col("m_uc") * (F.col("m_uc") - 1))
        .cast("bigint")
        .alias("same_pairs"),
    )
    lifted = per_unit.filter(F.col("m_u") >= 2).agg(
        F.sum("m_u").cast("bigint").alias("n_vals"),
        F.sum(
            F.when(F.col("m_u") == 2, 2 * F.col("same_pairs")).otherwise(
                F.col("same_pairs")
            )
        )
        .cast("bigint")
        .alias("o2_diag"),
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
    )
    margins = (
        per_val.join(per_unit.select("doc_id", "m_u"), "doc_id")
        .filter(F.col("m_u") >= 2)
        .agg(
            F.sum(F.when(F.col("v") == 0, F.col("m_uc")).otherwise(0))
            .cast("bigint")
            .alias("n_c0"),
            F.sum(F.when(F.col("v") == 1, F.col("m_uc")).otherwise(0))
            .cast("bigint")
            .alias("n_c1"),
        )
    )
    n = F.col("n_vals") * F.lit(1.0)
    sq = F.col("n_c0") * F.lit(1.0) * F.col("n_c0") + F.col("n_c1") * F.lit(
        1.0
    ) * F.col("n_c1")
    return lifted.crossJoin(margins).select(
        "n_units",
        "n_vals",
        "n_c0",
        "n_c1",
        "o2_diag",
        F.round((F.col("n_vals") - F.col("o2_diag") / F.lit(2.0)) / n, 6).alias(
            "d_o"
        ),
        F.round((n * n - sq) / (n * (n - 1)), 6).alias("d_e"),
        F.round(
            F.lit(1.0)
            - (F.col("n_vals") - 1)
            * F.lit(1.0)
            * (2 * F.col("n_vals") - F.col("o2_diag"))
            / (F.lit(2.0) * (n * n - sq)),
            6,
        ).alias("alpha"),
    )


_KW_M = 3  # judges: revenue, quantity, line count


@register(
    "kendall_w_concordance",
    oracle=f"""
        WITH metrics AS (
            SELECT p.p_brand AS brand,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS rev_c,
                   CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
        ),
        longf AS (
            SELECT brand, 1 AS judge, rev_c AS metric FROM metrics
            UNION ALL
            SELECT brand, 2 AS judge, qty AS metric FROM metrics
            UNION ALL
            SELECT brand, 3 AS judge, cnt AS metric FROM metrics
        ),
        ranked AS (
            SELECT brand, judge, metric,
                   CAST(2 * RANK() OVER (PARTITION BY judge ORDER BY metric)
                        + COUNT(*) OVER (PARTITION BY judge, metric) - 1
                        AS BIGINT) AS r2
            FROM longf
        ),
        per_item AS (
            SELECT brand, CAST(SUM(r2) AS BIGINT) AS r2_sum
            FROM ranked GROUP BY brand
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per_item),
        s4 AS (
            SELECT CAST(SUM((r2_sum - {_KW_M} * (n + 1))
                            * (r2_sum - {_KW_M} * (n + 1))) AS BIGINT) AS s4
            FROM per_item CROSS JOIN nn
        ),
        ties AS (
            SELECT CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS tie_term
            FROM (SELECT judge, metric, CAST(COUNT(*) AS BIGINT) AS t
                  FROM longf GROUP BY judge, metric)
        )
        SELECT n.n AS n_items,
               CAST({_KW_M} AS BIGINT) AS m_judges,
               s.s4, t.tie_term,
               ROUND(3.0 * s.s4
                     / ({_KW_M} * {_KW_M} * 1.0 * (n.n * n.n * n.n - n.n)
                        - {_KW_M} * 1.0 * t.tie_term), 6) AS kendall_w,
               ROUND({_KW_M} * (n.n - 1) * 3.0 * s.s4
                     / ({_KW_M} * {_KW_M} * 1.0 * (n.n * n.n * n.n - n.n)
                        - {_KW_M} * 1.0 * t.tie_term), 6) AS chi2_approx
        FROM nn n CROSS JOIN s4 s CROSS JOIN ties t
    """,
    doc=(
        "KENDALL'S W COEFFICIENT OF CONCORDANCE across three 'judges' "
        "ranking the brand domain — total revenue, total quantity, and "
        "line count each induce a brand ranking; W in [0,1] says how "
        "much the three orderings agree (the multi-ranking "
        "generalization of the pairwise tau already registered: tau "
        "compares TWO rankings, W scores a PANEL, the form "
        "annotator-preference and multi-metric leaderboard audits "
        "need). Tie-corrected Kendall 1939 form with mid-ranks: ranks "
        "are x2-lifted integers (2*rank + ties - 1), the squared "
        "deviation sum S4 = sum(R2_i - m(n+1))^2 is exact BIGINT "
        "arithmetic, the tie term sums t^3 - t per (judge, value) "
        "group, and W = 3*S4 / (m^2(n^3 - n) - m*T) is one rounded "
        "division; chi2 = m(n-1)W is the large-n significance "
        "approximation. Plan: one fact-scale join+aggregate to the "
        "bounded brand grid (~25 rows); the rank windows run over that "
        "grid partitioned by judge — never over the fact table. At "
        "100 TB the brand aggregate is the only corpus-scale shuffle."
    ),
    tags=("labeling", "statistics", "window"),
)
def kendall_w_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    metrics = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_c"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("qty"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )
    longf = (
        metrics.select("brand", F.lit(1).alias("judge"), F.col("rev_c").alias("metric"))
        .unionAll(
            metrics.select(
                "brand", F.lit(2).alias("judge"), F.col("qty").alias("metric")
            )
        )
        .unionAll(
            metrics.select(
                "brand", F.lit(3).alias("judge"), F.col("cnt").alias("metric")
            )
        )
    )
    w_rank = Window.partitionBy("judge").orderBy("metric")
    w_tie = Window.partitionBy("judge", "metric")
    ranked = longf.select(
        "brand",
        "judge",
        "metric",
        (
            F.lit(2) * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_tie)
            - 1
        )
        .cast("bigint")
        .alias("r2"),
    )
    per_item = ranked.groupBy("brand").agg(
        F.sum("r2").cast("bigint").alias("r2_sum")
    )
    nn = per_item.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dev = F.col("r2_sum") - F.lit(_KW_M) * (F.col("n") + 1)
    s4 = per_item.crossJoin(F.broadcast(nn)).agg(
        F.sum(dev * dev).cast("bigint").alias("s4")
    )
    ties = (
        longf.groupBy("judge", "metric")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    n_ = F.col("n")
    denom = F.lit(_KW_M) * F.lit(_KW_M) * F.lit(1.0) * (
        n_ * n_ * n_ - n_
    ) - F.lit(_KW_M) * F.lit(1.0) * F.col("tie_term")
    w_stat = F.lit(3.0) * F.col("s4") / denom
    # chi2 mirrors the oracle's association ORDER exactly
    # (m * (n-1) * 3.0 * s4, THEN the single division) — multiplying the
    # already-divided w_stat would round in a different order and can
    # drift an ulp, the mirrored-verbatim float contract
    chi2 = F.lit(_KW_M) * (n_ - 1) * F.lit(3.0) * F.col("s4") / denom
    return (
        nn.crossJoin(s4)
        .crossJoin(ties)
        .select(
            n_.alias("n_items"),
            F.lit(_KW_M).cast("bigint").alias("m_judges"),
            "s4",
            "tie_term",
            F.round(w_stat, 6).alias("kendall_w"),
            F.round(chi2, 6).alias("chi2_approx"),
        )
    )


def _bcubed_oracle() -> str:
    from weather_stream_processor_spark.operators.similarity import (
        _KMEANS_ITERS,
        _KMEANS_K,
        _kmeans_oracle,
    )

    km = _kmeans_oracle(_KMEANS_K, _KMEANS_ITERS)
    return f"""
        WITH assign AS ({km}),
        cont AS (
            SELECT a.cluster_id, e.label, CAST(COUNT(*) AS BIGINT) AS nij
            FROM assign a JOIN embeddings e USING (vec_id)
            GROUP BY 1, 2
        ),
        ca AS (SELECT cluster_id, CAST(SUM(nij) AS BIGINT) AS ai
               FROM cont GROUP BY 1),
        cb AS (SELECT label, CAST(SUM(nij) AS BIGINT) AS bj
               FROM cont GROUP BY 1),
        tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n,
                       CAST(COUNT(DISTINCT cluster_id) AS BIGINT)
                           AS n_clusters,
                       CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
                FROM cont),
        sums AS (
            SELECT SUM(1.0 * c.nij * c.nij / a.ai) AS p_num,
                   SUM(1.0 * c.nij * c.nij / b.bj) AS r_num
            FROM cont c
            JOIN ca a USING (cluster_id)
            JOIN cb b USING (label)
        )
        SELECT t.n AS n_points, t.n_clusters, t.n_labels,
               ROUND(s.p_num / t.n, 6) AS bcubed_precision,
               ROUND(s.r_num / t.n, 6) AS bcubed_recall,
               ROUND(2.0 * (s.p_num / t.n) * (s.r_num / t.n)
                     / (s.p_num / t.n + s.r_num / t.n), 6) AS bcubed_f1
        FROM tot t CROSS JOIN sums s
    """


@register(
    "bcubed_cluster_eval",
    oracle=_bcubed_oracle(),
    doc=(
        "B-CUBED PRECISION / RECALL / F1 of the registered "
        "deterministic k-means against the embeddings' label column — "
        "the per-ELEMENT clustering evaluation (Bagga-Baldwin 1998) "
        "that entity-resolution and coreference shared tasks "
        "standardized on because, unlike pair-counting ARI, it weights "
        "every element equally (a mega-cluster error costs its members, "
        "not its quadratic pair count) and unlike purity it punishes "
        "over-splitting through the recall side. Both averages reduce "
        "to contingency-cell arithmetic: precision = sum n_ij^2/a_i "
        "over cells / n, recall = sum n_ij^2/b_j / n — so the whole "
        "evaluation is O(k x |labels|) cells after one hash aggregate, "
        "the same bounded table clustering_external_metrics reads "
        "(this operator completes that panel's purity/ARI/NMI with the "
        "fourth standard external metric). Cell terms are "
        "deterministic per-cell doubles summed over <=80 cells and "
        "rounded at 6dp; counts are exact BIGINTs. At 100 TB the "
        "kmeans rounds dominate; the eval is free."
    ),
    tags=("labeling", "evals", "clustering", "llm", "statistics"),
)
def bcubed_cluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import persisted_result
    from weather_stream_processor_spark.registry import _REGISTRY

    assign = _REGISTRY["kmeans_embedding_clusters"].builder(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cont = (
        assign.join(emb, "vec_id")
        .groupBy("cluster_id", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nij"))
    )

    def build(cont: DataFrame) -> DataFrame:
        ca = cont.groupBy("cluster_id").agg(
            F.sum("nij").cast("bigint").alias("ai")
        )
        cb = cont.groupBy("label").agg(F.sum("nij").cast("bigint").alias("bj"))
        tot = cont.agg(
            F.sum("nij").cast("bigint").alias("n"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.countDistinct("label").cast("bigint").alias("n_labels"),
        )
        sums = (
            cont.join(ca, "cluster_id")
            .join(cb, "label")
            .agg(
                F.sum(
                    F.lit(1.0) * F.col("nij") * F.col("nij") / F.col("ai")
                ).alias("p_num"),
                F.sum(
                    F.lit(1.0) * F.col("nij") * F.col("nij") / F.col("bj")
                ).alias("r_num"),
            )
        )
        p = F.col("p_num") / F.col("n")
        r = F.col("r_num") / F.col("n")
        return tot.crossJoin(sums).select(
            F.col("n").alias("n_points"),
            "n_clusters",
            "n_labels",
            F.round(p, 6).alias("bcubed_precision"),
            F.round(r, 6).alias("bcubed_recall"),
            F.round(F.lit(2.0) * p * r / (p + r), 6).alias("bcubed_f1"),
        )

    # the contingency feeds four aggregate subtrees — persist it so the
    # kmeans rounds execute once (clustering_external_metrics pattern)
    return persisted_result(cont, build)


_WK_BINS = 5  # ordinal rating bins


@register(
    "weighted_kappa_ordinal",
    oracle=f"""
        WITH rated AS (
            SELECT LEAST(CAST(FLOOR(
                       ROUND(len(list_distinct(string_split(text, ' ')))
                             * 1.0 / len(string_split(text, ' ')), 4)
                       * {_WK_BINS}) AS BIGINT), {_WK_BINS - 1}) AS ra,
                   LEAST(CAST(FLOOR(n_chars / 200) AS BIGINT),
                         {_WK_BINS - 1}) AS rb
            FROM documents
        ),
        cont AS (
            SELECT ra, rb, CAST(COUNT(*) AS BIGINT) AS o
            FROM rated GROUP BY ra, rb
        ),
        ma AS (SELECT ra, CAST(SUM(o) AS BIGINT) AS r FROM cont GROUP BY ra),
        mb AS (SELECT rb, CAST(SUM(o) AS BIGINT) AS c FROM cont GROUP BY rb),
        nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cont),
        num AS (
            SELECT CAST(SUM((ra - rb) * (ra - rb) * o) AS BIGINT) AS qo,
                   CAST(SUM(ABS(ra - rb) * o) AS BIGINT) AS lo
            FROM cont
        ),
        den AS (
            SELECT CAST(SUM((a.ra - b.rb) * (a.ra - b.rb) * a.r * b.c)
                        AS BIGINT) AS qe,
                   CAST(SUM(ABS(a.ra - b.rb) * a.r * b.c) AS BIGINT) AS le
            FROM ma a CROSS JOIN mb b
        )
        SELECT n.n AS n_docs, num.qo, den.qe,
               ROUND(1.0 - n.n * 1.0 * num.qo / den.qe, 6)
                   AS kappa_quadratic,
               ROUND(1.0 - n.n * 1.0 * num.lo / den.le, 6) AS kappa_linear
        FROM nn n CROSS JOIN num CROSS JOIN den
    """,
    doc=(
        "WEIGHTED KAPPA (quadratic + linear) between two ORDINAL "
        "raters — the agreement coefficient for graded labels that "
        "Cohen's nominal kappa throws away (disagreeing by one quality "
        "grade is not the same error as disagreeing by four; quadratic "
        "weights (i-j)^2 are the ML-community standard, e.g. QWK "
        "leaderboards): rater A bins the 4-dp lexical-diversity score "
        f"into {_WK_BINS} fixed intervals, rater B bins document "
        "length (200-char steps, capped) — two independent ordinal "
        "views of 'quality'. Both kappas are EXACT RATIONALS: kappa_w "
        "= 1 - n*sum(w_ij O_ij) / sum(w_ij r_i c_j) where the "
        "(i-j)^2 / |i-j| weights, the contingency counts, and the "
        "marginal products are all BIGINTs, so the only float is the "
        "final rounded division. Plan: one projection + one hash "
        f"aggregate to the {_WK_BINS}x{_WK_BINS} contingency; the "
        f"expected-weight table is a {_WK_BINS}^2 marginal cross "
        "product. One corpus-scale scan at 100 TB."
    ),
    tags=("labeling", "llm", "statistics"),
)
def weighted_kappa_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.functions import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    score = F.round(
        F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks), 4
    )
    rated = docs.select(
        F.least(
            F.floor(score * _WK_BINS).cast("bigint"), F.lit(_WK_BINS - 1)
        ).alias("ra"),
        F.least(
            F.floor(F.col("n_chars") / 200).cast("bigint"),
            F.lit(_WK_BINS - 1),
        ).alias("rb"),
    )
    cont = rated.groupBy("ra", "rb").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    ma = cont.groupBy("ra").agg(F.sum("o").cast("bigint").alias("r"))
    mb = cont.groupBy("rb").agg(F.sum("o").cast("bigint").alias("c"))
    nn = cont.agg(F.sum("o").cast("bigint").alias("n"))
    d = F.col("ra") - F.col("rb")
    num = cont.agg(
        F.sum(d * d * F.col("o")).cast("bigint").alias("qo"),
        F.sum(F.abs(d) * F.col("o")).cast("bigint").alias("lo"),
    )
    den = (
        ma.crossJoin(mb)
        .agg(
            F.sum(d * d * F.col("r") * F.col("c")).cast("bigint").alias("qe"),
            F.sum(F.abs(d) * F.col("r") * F.col("c"))
            .cast("bigint")
            .alias("le"),
        )
    )
    return (
        nn.crossJoin(num)
        .crossJoin(den)
        .select(
            F.col("n").alias("n_docs"),
            "qo",
            "qe",
            F.round(
                F.lit(1.0)
                - F.col("n") * F.lit(1.0) * F.col("qo") / F.col("qe"),
                6,
            ).alias("kappa_quadratic"),
            F.round(
                F.lit(1.0)
                - F.col("n") * F.lit(1.0) * F.col("lo") / F.col("le"),
                6,
            ).alias("kappa_linear"),
        )
    )
