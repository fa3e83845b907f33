"""Fellegi–Sunter probabilistic entity-resolution scoring: per-feature
match/unmatch agreement rates → integer log-likelihood weights →
row-local pair scores and match/possible/nonmatch decisions.

Where it sits in the repo's ER stack: the blocking family
(:mod:`.blocking`, :mod:`.metablocking`, :mod:`.ppjoin`) produces
candidate PAIRS; connected components (:mod:`.components`) resolves
accepted same_as edges; between them every pair needs a principled
score. Raw similarities (Jaccard, Levenshtein) treat all fields
alike — Fellegi–Sunter (1969) weighs each field by how DISCRIMINATING
it is: agreement on a field that matches agree on 95 % of the time but
random pairs only 1 % of the time carries weight ln(0.95/0.01), while
an uninformative field carries ~0.

Protocol (integer end-to-end, the repo rule):

* rates are exact integer ratios with add-one smoothing
  (``m = (agree_in_matches + 1) / (n_matches + 2)``) — smoothing both
  kills 0/1 degenerate logs and makes tiny labeled samples behave;
* weights are micro-nats: ``floor(ln(m/u)·1e6 + 0.5)`` — ``ln`` on
  identical exact-integer-derived doubles agrees across engines (the
  bm25/IC precedent);
* a pair's score is the SUM of its per-feature agree/disagree weights
  — exact BIGINT addition, order-free.

100 TB shape: the weight table is one row per FEATURE (a handful);
:func:`fs_score` collects it and inlines the weights as literal
``CASE`` branches — scoring is a pure row-local map over the candidate
pairs, ZERO joins, fused into whatever stage produced the pairs
(plan-asserted). Training (:func:`fs_weights`) is ONE global
aggregation over the labeled sample (itself small — labels are
expensive), melted to rows exactly like operators/profile.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..workerenv import local_relation

MICRO = 1_000_000


def fs_weights(labeled: DataFrame, feature_cols: list[str],
               label_col: str = "is_match") -> DataFrame:
    """(feature, m_num, m_den, u_num, u_den, w_agree_micro,
    w_disagree_micro) from labeled pairs. ``labeled`` carries one 0/1
    INT agreement column per feature plus the 0/1 ``label_col``;
    smoothing is add-one on the numerator, add-two on the
    denominator."""
    if not feature_cols:
        raise ValueError("fs_weights: no feature columns")
    lab = F.col(label_col)
    aggs = [
        F.sum(lab).alias("_nm"),
        F.count(F.lit(1)).alias("_n"),
    ]
    for i, c in enumerate(feature_cols):
        aggs += [
            F.sum(F.col(c) * lab).alias(f"_am{i}"),
            F.sum(F.col(c) * (1 - lab)).alias(f"_au{i}"),
        ]
    one = labeled.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _am{i}, _au{i}" for i, c in enumerate(feature_cols)
    )
    melted = one.select(
        F.col("_nm"),
        (F.col("_n") - F.col("_nm")).alias("_nu"),
        F.expr(
            f"stack({len(feature_cols)}, {stack_args}) AS "
            "(feature, _am, _au)"
        ),
    )
    m_num = (F.col("_am") + 1).cast("long")
    m_den = (F.col("_nm") + 2).cast("long")
    u_num = (F.col("_au") + 1).cast("long")
    u_den = (F.col("_nu") + 2).cast("long")
    m = m_num.cast("double") / m_den.cast("double")
    u = u_num.cast("double") / u_den.cast("double")
    return melted.select(
        "feature",
        m_num.alias("m_num"),
        m_den.alias("m_den"),
        u_num.alias("u_num"),
        u_den.alias("u_den"),
        F.floor(F.log(m / u) * MICRO + F.lit(0.5))
        .cast("bigint")
        .alias("w_agree_micro"),
        F.floor(F.log((1.0 - m) / (1.0 - u)) * MICRO + F.lit(0.5))
        .cast("bigint")
        .alias("w_disagree_micro"),
    )


def fs_score(
    pairs: DataFrame,
    weights: DataFrame,
    upper_micro: int,
    lower_micro: int,
) -> DataFrame:
    """Append ``score_micro`` (BIGINT sum of per-feature weights) and
    ``decision`` ('match' ≥ upper, 'nonmatch' ≤ lower, else
    'possible') to candidate ``pairs``. ``weights`` is
    :func:`fs_weights` output — collected (one row per feature) and
    inlined as literal CASE branches, so scoring is row-local with
    zero joins."""
    if upper_micro < lower_micro:
        raise ValueError("upper_micro must be >= lower_micro")
    rows = weights.select(
        "feature", "w_agree_micro", "w_disagree_micro"
    ).collect()
    if not rows:
        raise ValueError("fs_score: empty weight table")
    score = None
    for r in rows:
        term = F.when(
            F.col(r["feature"]) == 1, F.lit(int(r["w_agree_micro"]))
        ).otherwise(F.lit(int(r["w_disagree_micro"])))
        score = term if score is None else score + term
    out = pairs.withColumn("score_micro", score.cast("bigint"))
    return out.withColumn(
        "decision",
        F.when(F.col("score_micro") >= upper_micro, F.lit("match"))
        .when(F.col("score_micro") <= lower_micro, F.lit("nonmatch"))
        .otherwise(F.lit("possible")),
    )


def fs_sql(
    labeled_cte: str,
    pairs_cte: str,
    feature_cols: list[str],
    upper_micro: int,
    lower_micro: int,
    label_col: str = "is_match",
    prelude_ctes: str = "",
) -> str:
    """DuckDB twin of fs_weights + fs_score end to end: re-derives the
    smoothed rates and weights per feature and scores ``pairs_cte``
    with the identical expression tree (same ln operand order, same
    floor-micro rule). Selects the scored pairs."""
    w_ctes = []
    terms = []
    for i, c in enumerate(feature_cols):
        w_ctes.append(f"""
        w{i} AS (
            SELECT
                CAST(floor(ln(
                    ((sum({c} * {label_col}) + 1)::DOUBLE /
                     (sum({label_col}) + 2)::DOUBLE) /
                    ((sum({c} * (1 - {label_col})) + 1)::DOUBLE /
                     (count(*) - sum({label_col}) + 2)::DOUBLE)
                ) * {MICRO} + 0.5) AS BIGINT) AS wa,
                CAST(floor(ln(
                    (1.0 - (sum({c} * {label_col}) + 1)::DOUBLE /
                     (sum({label_col}) + 2)::DOUBLE) /
                    (1.0 - (sum({c} * (1 - {label_col})) + 1)::DOUBLE /
                     (count(*) - sum({label_col}) + 2)::DOUBLE)
                ) * {MICRO} + 0.5) AS BIGINT) AS wd
            FROM {labeled_cte})""")
        terms.append(
            f"CASE WHEN p.{c} = 1 THEN w{i}.wa ELSE w{i}.wd END"
        )
    w_join = " CROSS JOIN ".join(f"w{i}" for i in range(len(feature_cols)))
    return f"""
        WITH {prelude_ctes}
        {','.join(w_ctes)}
        SELECT p.*,
               CAST({' + '.join(terms)} AS BIGINT) AS score_micro,
               CASE WHEN {' + '.join(terms)} >= {upper_micro} THEN 'match'
                    WHEN {' + '.join(terms)} <= {lower_micro} THEN 'nonmatch'
                    ELSE 'possible' END AS decision
        FROM {pairs_cte} p CROSS JOIN {w_join}
    """


def agreement_patterns(
    pairs: DataFrame, feature_cols: list[str]
) -> DataFrame:
    """(features…, n) — candidate-pair counts per agreement pattern.
    ONE partially-aggregable grouped count; at most 2^k rows for k
    features. This tiny table is ALL that EM needs (the E/M updates
    depend on the data only through it), which is what makes
    unsupervised Fellegi–Sunter a one-scan operator at 100 TB."""
    if not feature_cols:
        raise ValueError("agreement_patterns: no feature columns")
    return pairs.groupBy(*feature_cols).agg(F.count("*").alias("n"))


def fs_em_weights(
    pairs: DataFrame,
    feature_cols: list[str],
    iterations: int = 25,
    init_p: float = 0.1,
    init_m: float = 0.9,
    init_u: float = 0.1,
):
    """UNSUPERVISED Fellegi–Sunter: estimate the m/u rates by EM over
    the agreement-pattern counts (Winkler's classic formulation — no
    labels needed) and return ``(weights_df, params)`` where
    ``weights_df`` matches :func:`fs_weights`'s weight columns (plus
    micro-rate columns instead of exact ratios) and ``params`` is the
    fitted ``{"p": …, "m": {...}, "u": {...}, "loglik": …}`` dict.

    The EM loop runs DRIVER-side over the ≤ 2^k pattern rows (the
    sufficient statistic — see :func:`agreement_patterns`), a fixed
    ``iterations`` count with sorted pattern order, so the fit is
    deterministic for a given input. Degenerate fits (a rate hitting
    0/1) are clamped to [1e-6, 1-1e-6] before the log-weights.

    Conditional-independence caveat (the known F-S assumption):
    correlated features overweight; decorrelate upstream or use the
    labeled :func:`fs_weights` when labels exist."""
    import math

    counts = sorted(
        (
            tuple(int(r[c]) for c in feature_cols),
            int(r["n"]),
        )
        for r in agreement_patterns(pairs, feature_cols).collect()
    )
    if not counts:
        raise ValueError("fs_em_weights: no pairs")
    k = len(feature_cols)
    p = init_p
    m = [init_m] * k
    u = [init_u] * k
    loglik = float("-inf")
    for _ in range(iterations):
        # E-step: responsibility of the match class per pattern
        resp = []
        loglik = 0.0
        for g, n in counts:
            pm = p
            pu = 1.0 - p
            for i in range(k):
                pm *= m[i] if g[i] else (1.0 - m[i])
                pu *= u[i] if g[i] else (1.0 - u[i])
            tot = pm + pu
            resp.append(pm / tot if tot > 0 else 0.0)
            loglik += n * math.log(tot) if tot > 0 else 0.0
        # M-step
        n_all = sum(n for _, n in counts)
        n_match = sum(r * n for r, (_, n) in zip(resp, counts))
        p = n_match / n_all
        for i in range(k):
            am = sum(
                r * n for r, (g, n) in zip(resp, counts) if g[i]
            )
            au = sum(
                (1.0 - r) * n for r, (g, n) in zip(resp, counts) if g[i]
            )
            m[i] = am / n_match if n_match > 0 else init_m
            u[i] = au / (n_all - n_match) if n_all > n_match else init_u
    eps = 1e-6
    m = [min(max(x, eps), 1 - eps) for x in m]
    u = [min(max(x, eps), 1 - eps) for x in u]
    rows = []
    for i, c in enumerate(feature_cols):
        rows.append(
            (
                c,
                int(math.floor(m[i] * MICRO + 0.5)),
                int(math.floor(u[i] * MICRO + 0.5)),
                int(math.floor(math.log(m[i] / u[i]) * MICRO + 0.5)),
                int(
                    math.floor(
                        math.log((1 - m[i]) / (1 - u[i])) * MICRO + 0.5
                    )
                ),
            )
        )
    weights_df = local_relation(
        pairs.sparkSession,
        rows,
        "feature string, m_micro long, u_micro long, "
        "w_agree_micro long, w_disagree_micro long",
    )
    params = {
        "p": p,
        "m": dict(zip(feature_cols, m)),
        "u": dict(zip(feature_cols, u)),
        "loglik": loglik,
    }
    return weights_df, params
