"""Distributed suffix-array construction by prefix doubling — the
exact-substring machinery behind suffix-array deduplication (Lee et
al. 2022, "Deduplicating Training Data Makes Language Models Better").

The shingle-postings substring family in :mod:`.dedup` detects/removes
duplicated FIXED-LENGTH spans; a suffix array ranks EVERY suffix of the
corpus token stream, which is what exact longest-match substring
analytics (arbitrary-length duplicate runs, longest repeated
substring, cross-doc containment) need. This module builds the rank
permutation with the textbook prefix-doubling recurrence, expressed as
DataFrame ops:

    rank_0(i)     = dense id of token[i]
    rank_{k+1}(i) = dense id of (rank_k(i), rank_k(i + 2^k) or -1)

after ⌈log₂ n⌉ rounds ``rank`` is the lexicographic rank of the suffix
starting at each position (all suffixes are distinct, so the final
ranks are a permutation of 0..n-1). Convergence is detected early:
when the number of distinct (rank, rank2) pairs equals n, every rank
is unique and the recurrence is a fixed point.

Scale design (10^11-token corpus):

* Each round is bounded, uniform shuffle work: ONE equi-join on
  ``pos + 2^k`` (hash join on a BIGINT key — no skew: positions are
  unique), one DISTINCT over (rank, rank2) pairs, one range-sort of
  the distinct pairs to mint dense ids, one join back. O(log n)
  rounds total — the same asymptotics as the MPI/Flume suffix-array
  builders used for this at corpus scale.
* Dense-id minting (:func:`_dense_ids`) is the two-level global
  prefix-sum shape: ``repartitionByRange`` + in-partition sort, then
  Spark's ``zipWithIndex`` (per-partition counts, then offsets — no
  single global window). This is the repo's one use of an RDD
  primitive, and it is exactly the per-partition-imperative case the
  DataFrame API cannot express (contiguous global ids in a total
  order); indices depend only on the total order, not on partition
  boundaries, so the result is deterministic.
* Per-round state (pos, rank) is eagerly ``localCheckpoint``-ed: O(1)
  lineage across rounds (reliable ``checkpoint`` on a real cluster,
  as in :mod:`.components`).

Cross-engine note (the oracle in ``__spark_entry__``): tokens never
contain spaces and ``' '`` sorts below every token character, so
token-sequence order ≡ the order of space-joined suffix strings — the
DuckDB twin sorts materialized suffix strings, the engine never
materializes any suffix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import hash60
from ..workerenv import local_relation


def corpus_token_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    salt: str = "sfx",
) -> DataFrame:
    """Flatten a document table into one global token sequence:
    ``(pos, doc_id, doc_pos, token)`` with contiguous BIGINT ``pos``.

    Corpus order is the deterministic hash order ``(hash60(id:salt),
    id)`` (the sharding/packing convention) — any fixed order defines a
    valid corpus string, and hash order lets the doc-offset prefix sum
    run as the two-level bucket pattern (per-bucket totals → broadcast
    offsets → per-bucket windows of ~rows/n_buckets docs) instead of
    one global window. Buckets are RANGES of the hash space (``h div
    width``), not ``h % n``, so ascending (bucket, h, id) IS ascending
    (h, id) — the bucket decomposition never perturbs the global order
    (hash60 is uniform, so range buckets stay balanced). Tokens are the
    whitespace split with empties dropped; empty documents contribute
    nothing."""
    norm_toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit("")
    )
    h = hash60(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt)))
    width = ((1 << 60) + n_buckets - 1) // n_buckets
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        norm_toks.alias("_toks"),
        h.alias("_h"),
    ).withColumn("_bucket", F.expr(f"_h div {width}"))
    withn = base.withColumn("_n", F.size("_toks").cast("long"))

    totals = (
        withn.groupBy("_bucket").agg(F.sum("_n").alias("_total")).collect()
    )
    per_bucket = {r["_bucket"]: r["_total"] for r in totals}
    offsets, acc = [], 0
    for b in sorted(per_bucket):
        offsets.append((b, acc))
        acc += per_bucket[b]
    spark = docs.sparkSession
    if not offsets:
        return local_relation(
            spark, [], "pos long, doc_id string, doc_pos int, token string"
        )
    off_df = local_relation(spark, offsets, "_bucket LONG, _offset LONG")

    w = (
        Window.partitionBy("_bucket")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    based = (
        withn.join(F.broadcast(off_df), "_bucket")
        .withColumn(
            "_base", F.col("_offset") + F.sum("_n").over(w) - F.col("_n")
        )
        .select("doc_id", "_base", "_toks")
    )
    return based.select(
        "doc_id",
        F.col("_base"),
        F.posexplode("_toks").alias("doc_pos", "token"),
    ).select(
        (F.col("_base") + F.col("doc_pos")).alias("pos"),
        "doc_id",
        "doc_pos",
        "token",
    )


def _dense_ids(df: DataFrame, cols: list[str], out: str) -> DataFrame:
    """Contiguous 0-based dense ids for the DISTINCT ``cols`` tuples in
    their ascending total order — range-partitioned sort + Spark's
    two-level ``zipWithIndex`` (see module docstring)."""
    d = (
        df.select(*cols)
        .distinct()
        .repartitionByRange(*[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
    )
    schema = d.schema.add(out, "long")
    rdd = d.rdd.zipWithIndex().map(lambda t: (*t[0], t[1]))
    return df.sparkSession.createDataFrame(rdd, schema)


def suffix_ranks(
    tokens: DataFrame,
    pos_col: str = "pos",
    token_col: str = "token",
    max_rounds: int = 48,
) -> DataFrame:
    """``(pos, rank)`` — the lexicographic rank (0-based, a permutation
    of 0..n-1) of the suffix starting at each position of the token
    sequence. ``tokens`` must carry contiguous positions 0..n-1
    (:func:`corpus_token_stream` produces them)."""
    n, levels = _rank_levels(tokens, pos_col, token_col, max_rounds)
    if n == 0:
        return local_relation(tokens.sparkSession, [], "pos long, rank long")
    return levels[-1][1]


def _rank_levels(
    tokens: DataFrame,
    pos_col: str = "pos",
    token_col: str = "token",
    max_rounds: int = 48,
) -> tuple[int, list[tuple[int, DataFrame]]]:
    """(n, [(prefix_length, (pos, rank) DataFrame), ...]) — the full
    prefix-doubling ladder: level ℓ ranks suffixes by their first
    ``prefix_length`` tokens. The last level's ranks are all distinct
    (the suffix order); the ladder is what the doubling-LCP walk in
    :func:`lcp_adjacent` consumes (all LCP values are < the final
    level's length, so the retained levels decompose any of them)."""
    t = tokens.select(
        F.col(pos_col).cast("long").alias("pos"),
        F.col(token_col).alias("token"),
    )
    n = t.count()
    if n == 0:
        return 0, []

    ids0 = _dense_ids(t, ["token"], "rank")
    state = t.join(ids0, "token").select("pos", "rank").localCheckpoint()
    levels = [(1, state)]

    k = 1
    for _ in range(max_rounds):
        if k >= n:
            break
        shifted = state.select(
            (F.col("pos") - k).alias("pos"), F.col("rank").alias("rank2")
        )
        paired = (
            state.join(shifted, "pos", "left")
            .select(
                "pos",
                "rank",
                F.coalesce(F.col("rank2"), F.lit(-1)).alias("rank2"),
            )
        )
        ids = _dense_ids(paired, ["rank", "rank2"], "new_rank")
        m = ids.count()
        state = (
            paired.join(ids, ["rank", "rank2"])
            .select("pos", F.col("new_rank").alias("rank"))
            .localCheckpoint()
        )
        levels.append((2 * k, state))
        if m == n:
            break
        k *= 2
    return n, levels


def suffix_array(
    tokens: DataFrame, pos_col: str = "pos", token_col: str = "token"
) -> DataFrame:
    """``(rank, pos)`` — the suffix array itself: row ``r`` holds the
    start position of the rank-``r`` suffix (inverse of
    :func:`suffix_ranks`)."""
    return suffix_ranks(tokens, pos_col, token_col).select(
        F.col("rank"), F.col("pos")
    )


def lcp_adjacent(
    tokens: DataFrame,
    pos_col: str = "pos",
    token_col: str = "token",
) -> DataFrame:
    """``(rank, pos, prev_pos, lcp)`` for every adjacent suffix-array
    pair (rank ≥ 1): the token-level longest common prefix between the
    rank-``r`` and rank-``r-1`` suffixes — the LCP array.

    Computed with the doubling-LCP walk over the rank ladder the
    prefix-doubling construction already produced (no suffix is ever
    materialized): from the largest level down, if the two cursors'
    level-ℓ ranks agree, the suffixes share their next ``2^ℓ`` tokens —
    add the length and advance both cursors. Every level is two
    LEFT joins of the O(n) pair table against that level's (pos, rank)
    table (missing pos = exhausted suffix = mismatch), so the whole
    LCP array costs O(log n) bounded joins — the distributed stand-in
    for Kasai's inherently sequential scan. Per-level checkpoints keep
    lineage O(1).

    Since any substring occurring twice in the corpus makes two
    suffixes agree on its length, ``max(lcp)`` is the longest repeated
    substring, and :func:`duplicated_runs` filters ``lcp ≥ min_len``
    to detect EXACT duplicated runs of arbitrary length (the
    suffix-array half of Lee et al. substring dedup; the fixed-length
    shingle detector is ``dedup.duplicated_span_stats``)."""
    n, levels = _rank_levels(tokens, pos_col, token_col)
    spark = tokens.sparkSession
    if n < 2:
        return local_relation(
            spark, [], "rank long, pos long, prev_pos long, lcp long"
        )
    final = levels[-1][1]
    nxt = final.select(
        (F.col("rank") + 1).alias("rank"), F.col("pos").alias("prev_pos")
    )
    state = (
        final.join(nxt, "rank")
        .select(
            "rank",
            "pos",
            "prev_pos",
            F.col("pos").alias("_i"),
            F.col("prev_pos").alias("_j"),
            F.lit(0).cast("long").alias("lcp"),
        )
        .localCheckpoint()
    )
    for length, lvl in reversed(levels):
        ra = lvl.select(F.col("pos").alias("_i"), F.col("rank").alias("_ra"))
        rb = lvl.select(F.col("pos").alias("_j"), F.col("rank").alias("_rb"))
        eq = (
            F.col("_ra").isNotNull()
            & F.col("_rb").isNotNull()
            & (F.col("_ra") == F.col("_rb"))
        )
        state = (
            state.join(ra, "_i", "left")
            .join(rb, "_j", "left")
            .select(
                "rank",
                "pos",
                "prev_pos",
                F.when(eq, F.col("_i") + length)
                .otherwise(F.col("_i"))
                .alias("_i"),
                F.when(eq, F.col("_j") + length)
                .otherwise(F.col("_j"))
                .alias("_j"),
                F.when(eq, F.col("lcp") + length)
                .otherwise(F.col("lcp"))
                .alias("lcp"),
            )
            .localCheckpoint()
        )
    return state.select("rank", "pos", "prev_pos", "lcp")


def duplicated_runs(
    tokens: DataFrame,
    min_len: int,
    pos_col: str = "pos",
    token_col: str = "token",
) -> DataFrame:
    """``(rank, pos, prev_pos, lcp)`` for every adjacent suffix pair
    sharing at least ``min_len`` leading tokens — each row witnesses an
    exact duplicated token run of length ``lcp`` starting at BOTH
    positions. The arbitrary-length exact-substring duplicate detector
    (Lee et al. use min_len = 50 BPE tokens for C4/RealNews)."""
    if min_len < 1:
        raise ValueError("min_len must be >= 1")
    return lcp_adjacent(tokens, pos_col, token_col).filter(
        F.col("lcp") >= min_len
    )


def longest_repeated_substring(
    tokens: DataFrame,
    pos_col: str = "pos",
    token_col: str = "token",
) -> DataFrame:
    """One row ``(pos, prev_pos, lcp)`` — the longest token run
    occurring at least twice in the sequence (max over the LCP array;
    deterministic tie-break by rank order). Empty for sequences with
    no repeat."""
    lcp = lcp_adjacent(tokens, pos_col, token_col)
    return (
        lcp.filter(F.col("lcp") >= 1)
        .orderBy(F.col("lcp").desc(), F.col("rank"))
        .limit(1)
        .select("pos", "prev_pos", "lcp")
    )


def duplicated_coverage(
    docs: DataFrame,
    min_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document EXACT duplication coverage:
    ``(doc_id, n_tok, dup_tokens, dup_frac)`` where ``dup_tokens``
    counts tokens lying inside any corpus-duplicated run of ≥
    ``min_len`` tokens — the document-level rollup of
    :func:`duplicated_runs` and the arbitrary-length exact counterpart
    of ``dedup.duplicated_span_stats`` (fixed-length shingles). Lee et
    al. drop or trim documents with high ``dup_frac``.

    Pipeline: token stream → duplicated runs (both endpoints of every
    adjacent pair explode to a covered interval, clipped to the
    document) → per-doc interval UNION via one sorted-array fold (the
    runs at successive offsets of one long duplicate overlap heavily;
    the union de-overlaps them exactly). The only corpus-sized
    shuffles are the suffix construction itself plus one (pos-keyed)
    mapping join and one per-doc aggregation; the interval merge is
    row-local."""
    stream = corpus_token_stream(docs, text_col=text_col, id_col=id_col)
    stream = stream.localCheckpoint(eager=False)
    runs = duplicated_runs(stream, min_len)
    hits = runs.select(
        F.explode(F.array(F.col("pos"), F.col("prev_pos"))).alias("pos"),
        "lcp",
    )
    located = hits.join(
        stream.select("pos", "doc_id", "doc_pos"), "pos"
    ).select(
        "doc_id",
        F.col("doc_pos").alias("start"),
        (F.col("doc_pos") + F.col("lcp")).alias("end"),
    )
    ntok = stream.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    ivals = located.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("start"), F.col("end")))
        ).alias("_ivals")
    )
    # row-local union of sorted intervals, clipped to [0, n_tok)
    merged = ntok.join(ivals, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce(
            F.aggregate(
                F.col("_ivals"),
                F.struct(
                    F.lit(0).cast("long").alias("prev_end"),
                    F.lit(0).cast("long").alias("acc"),
                ),
                lambda s, iv: F.struct(
                    F.greatest(
                        s["prev_end"], F.least(iv["end"], F.col("n_tok"))
                    ).alias("prev_end"),
                    (
                        s["acc"]
                        + F.greatest(
                            F.lit(0).cast("long"),
                            F.least(iv["end"], F.col("n_tok"))
                            - F.greatest(iv["start"], s["prev_end"]),
                        )
                    ).alias("acc"),
                ),
                lambda s: s["acc"],
            ),
            F.lit(0).cast("long"),
        ).alias("dup_tokens"),
    )
    return merged.select(
        "doc_id",
        "n_tok",
        "dup_tokens",
        F.when(
            F.col("n_tok") > 0,
            F.floor(
                F.col("dup_tokens").cast("double")
                / F.col("n_tok").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("bigint")
            / F.lit(1000000.0),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )
