"""Token-blocking entity-resolution candidate generation
(schema-agnostic blocking in the MinoanER/JedAI style — EDBT 2019 —
re-expressed as DataFrame ops).

The north-star pipeline reconciles cross-source entity IDs as
connected components over ``same_as`` edges. The broadcast
alias-dictionary join (``functions/linking.py``) produces those edges
for EXACT alias hits; this module is the scalable candidate generator
for everything else: entities whose *names* share rare tokens are
candidate matches, scored by token rarity, and the surviving pairs
feed the same CC canonicalization.

Shape at scale (the classic inverted-index discipline):

- token production is row-local (split inside the scan stage);
- the block index is ONE groupBy(token) count — map-side partial;
- **blocks are size-capped** (``max_block``): a token shared by more
  entities than the cap is stop-text ("protein", "strain") and is
  dropped BEFORE the self-join — the quadratic term is bounded by
  C(max_block, 2) per block, so no hub token can explode a reducer
  (MinoanER's block purging, same role as ``max_doc_freq`` in
  ``dedup.ngram_jaccard_pairs``);
- pair scoring is rarity-weighted: shared token t contributes
  ``ln(N / df_t)`` (its IDF), summed per pair — one map-side-partial
  groupBy on (a, b);
- output is O(candidate pairs), never O(entities²).

Float protocol: per-token IDF is pinned to micro-units with
``floor(x·1e6 + 0.5)`` and summed as BIGINT (the integer protocol of
``ngram_lm.py``) — exact across engines except the measure-zero
ln-ulp boundary (documented there).

Reference parity: the reference merges rows whose ``id`` strings are
already equal (utils/duckdb_utils.py:356-359) — it has no fuzzy/ER
capability; this is the distributed upgrade the north rule's
"cross-source ID reconciliation" requires when sources disagree on
identifiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg_microbe_merge_spark.functions.text import normalized_text
from kg_microbe_merge_spark.workerenv import local_relation


def name_tokens(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    min_token_len: int = 2,
) -> DataFrame:
    """Row-local: distinct (id, token) postings from entity names."""
    toks = F.filter(
        F.split(normalized_text(F.col(name_col)), " "),
        lambda t: F.length(t) >= min_token_len,
    )
    return (
        df.select(F.col(id_col).alias("_eid"), F.explode(toks).alias("token"))
        .distinct()
    )


def token_blocking_candidates(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_block: int = 50,
    min_shared: int = 1,
    min_token_len: int = 2,
) -> DataFrame:
    """Candidate same-entity pairs: (id_a, id_b, shared BIGINT,
    score DOUBLE) with id_a < id_b, scored by summed token IDF
    (rarer shared tokens → higher score). Tokens in more than
    ``max_block`` entities are purged before pairing (stop-text is
    the quadratic term); singleton blocks pair nothing."""
    from pyspark.sql import Window

    posts = name_tokens(
        df, id_col=id_col, name_col=name_col, min_token_len=min_token_len
    )
    n_entities = df.select(id_col).distinct().count()
    # block size as a window over the posting stream (not groupBy+join):
    # the purge filter then sits on the ONE plan both self-join sides
    # share, so ReuseExchange materializes the postings once
    sized = posts.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("token"))
    ).filter((F.col("df") >= 2) & (F.col("df") <= max_block))
    # per-token IDF in exact micro-units (integer protocol)
    idf_micro = F.floor(
        F.log(F.lit(float(n_entities)) / F.col("df")) * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    kept = sized.select("token", "_eid", idf_micro.alias("idf_micro"))

    a = kept.select(
        "token", F.col("_eid").alias("id_a"), "idf_micro"
    )
    b = kept.select("token", F.col("_eid").alias("id_b"))
    pairs = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.sum("idf_micro").alias("score_micro"),
        )
        .filter(F.col("shared") >= min_shared)
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.col("shared").cast("bigint").alias("shared"),
        (F.col("score_micro") / F.lit(1000000.0)).alias("score"),
    )


def same_as_edges(
    candidates: DataFrame, min_score: float
) -> DataFrame:
    """Threshold candidates into same_as edges for
    ``operators/components.connected_components`` (columns subject,
    object — the repo's same_as edge shape)."""
    return candidates.filter(F.col("score") >= min_score).select(
        F.col("id_a").alias("subject"), F.col("id_b").alias("object")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    window: int = 4,
) -> DataFrame:
    """Sorted-neighborhood ER candidates (Hernandez & Stolfo 1995):
    sort all records by the normalized name key and pair every two
    records whose ranks differ by less than ``window`` — the
    complementary blocking scheme to token blocking (catches near-sorted
    typos/prefix variants that share NO rare token, e.g. truncations).

    Scale shape: the global rank comes from the two-level
    ``zipWithIndex`` prefix sum over a range-partitioned sort (the
    ``suffix._dense_ids`` mint — NO single-partition window); pairing
    is a bucket join where ``bucket = rank div (window-1)`` and the
    right side enters under both its own and the previous bucket —
    every record lands in at most 2 groups of ~(window-1) rows, so
    candidates are O(n·window) with no reducer hot spot, and the gap
    filter makes the bucket decomposition EXACT (ranks within
    window-1 always sit in equal or adjacent buckets).

    Returns ``(id_a, id_b, gap)`` — ids in rank order, gap ∈
    [1, window-1].
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    from .suffix import _dense_ids

    w = window - 1
    recs = df.select(
        F.coalesce(
            normalized_text(F.col(name_col)), F.lit("")
        ).alias("_k"),
        F.col(id_col).cast("string").alias("_rid"),
    )
    ranked = _dense_ids(recs, ["_k", "_rid"], "rank")
    left = ranked.select(
        F.expr(f"rank div {w}").alias("bucket"),
        F.col("rank").alias("rank_a"),
        F.col("_rid").alias("id_a"),
    )
    right = ranked.select(
        F.expr(f"rank div {w}").alias("b0"),
        F.col("rank").alias("rank_b"),
        F.col("_rid").alias("id_b"),
    )
    right_both = right.select(
        F.col("b0").alias("bucket"), "rank_b", "id_b"
    ).unionByName(
        right.select(
            (F.col("b0") - 1).alias("bucket"), "rank_b", "id_b"
        )
    )
    pairs = left.join(right_both, "bucket").filter(
        (F.col("rank_b") > F.col("rank_a"))
        & (F.col("rank_b") - F.col("rank_a") <= w)
    )
    return pairs.select(
        "id_a",
        "id_b",
        (F.col("rank_b") - F.col("rank_a")).cast("long").alias("gap"),
    )


def sorted_neighborhood_sql(
    entities_sql: str, window: int = 4
) -> str:
    """DuckDB twin: plain global row_number over the identical
    (key, id) order + a gap self-join."""
    w = window - 1
    return f"""
        WITH snm_r AS MATERIALIZED (
            SELECT id::VARCHAR AS rid,
                   row_number() OVER (
                       ORDER BY coalesce(trim(regexp_replace(lower(name),
                           '\\s+', ' ', 'g')), '') ASC, id::VARCHAR ASC
                   ) - 1 AS rank
            FROM ({entities_sql}))
        SELECT a.rid AS id_a, b.rid AS id_b,
               (b.rank - a.rank)::BIGINT AS gap
        FROM snm_r a JOIN snm_r b
          ON b.rank > a.rank AND b.rank - a.rank <= {w}
    """



#: integer micro scale for blocking_metrics (floor(x*1e6+0.5) via
#: pure-integer (2*M*num + den) // (2*den))
MICRO_I = 1_000_000


def blocking_metrics(
    candidates: DataFrame,
    truth: DataFrame,
    n_records: int,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Blocking-scheme evaluation (Christen's standard triple): ONE
    row —

    - ``pc_micro``  pair completeness (recall): found true pairs /
      all true pairs;
    - ``pq_micro``  pairs quality (precision): found true pairs /
      candidates;
    - ``rr_micro``  reduction ratio: 1 − candidates / (n·(n−1)/2).

    All micro-integers (floor(x·1e6 + 0.5) on ratios of exact
    BIGINTs); pairs canonicalize to (least, greatest) before matching
    so direction never miscounts. Cost: two distinct counts + one
    broadcast-size semi join — the truth set is labeled data, small by
    nature; the candidate side streams."""
    if n_records < 2:
        raise ValueError("blocking_metrics: need n_records >= 2")

    def _canon(df):
        return df.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        ).distinct()

    cand = _canon(candidates)
    tr = _canon(truth)
    n_cand = cand.count()
    n_truth = tr.count()
    n_hit = cand.join(F.broadcast(tr), ["a", "b"], "left_semi").count()
    total_pairs = n_records * (n_records - 1) // 2

    def _micro(num, den):
        return int((2 * MICRO_I * num + den) // (2 * den)) if den else 0

    return local_relation(
        candidates.sparkSession,
        [
            (
                n_cand,
                n_truth,
                n_hit,
                _micro(n_hit, n_truth),
                _micro(n_hit, n_cand),
                _micro(total_pairs - n_cand, total_pairs),
            )
        ],
        "n_candidates long, n_truth long, n_hit long, "
        "pc_micro long, pq_micro long, rr_micro long",
    )

