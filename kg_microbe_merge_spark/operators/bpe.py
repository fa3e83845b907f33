"""Distributed BPE tokenizer training (merge learning) + segmentation.

``operators/vocab.py`` covers the counting faces of tokenizer
construction (wordcount vocabulary, one round of adjacent-pair counts);
this module closes the loop with the ACTUAL byte-pair-encoding training
recurrence (Sennrich et al. 2016): start from characters, repeatedly
merge the most frequent adjacent symbol pair, emit the ordered merge
list that IS the tokenizer.

Why this scales to 10^12 documents
----------------------------------
BPE never trains on the corpus — it trains on the **word-frequency
dimension** (Zipf: ~10^6-10^7 distinct words at 100 TB, independent of
corpus row count). The corpus is touched exactly once, by the same
map-side-combinable wordcount aggregation ``vocab.token_counts`` runs;
every merge round after that is:

* ONE pair-count exchange over the word dimension (pairs are built
  row-locally with ``transform`` over the symbol split, weighted by the
  word frequency, partially aggregated map-side — the Zipf head
  collapses before the shuffle);
* ONE driver-side argmax of a single row (``orderBy().limit(1)`` is a
  distributed TakeOrdered — only 1 row crosses to the driver, the same
  O(1)-convergence-action discipline as ``components``/``kcore``);
* ONE row-local literal string replace to apply the merge (no shuffle,
  no Python), then an eager ``localCheckpoint`` so lineage stays O(1)
  across hundreds of rounds.

Symbol-state representation (shared with the DuckDB oracle)
-----------------------------------------------------------
A word's symbol sequence ``[s1, s2, ...]`` is stored as the wrapped
string ``' s1  s2  ... '`` — each symbol padded with single spaces, so
adjacent symbols are separated by a DOUBLE space and every symbol
occurrence is delimited on both sides. Merging pair (A, B) is then the
literal replace of ``' A  B '`` with ``' AB '``: both Spark's
``F.replace`` and DuckDB's ``replace`` scan left-to-right over
non-overlapping occurrences, which is exactly BPE's greedy merge order
(a run ``A A A`` merges to ``AA A``, never ``A AA``), and the
private-delimiter wrapping makes a partial-symbol match impossible
(symbols contain no spaces: words come from whitespace tokenization).
The fold is identical, literal for literal, in both engines — so the
gate oracle re-trains the tokenizer end to end in SQL
(:func:`bpe_merges_sql`: rounds unrolled as MATERIALIZED CTEs, each
round's best pair chosen by the same (n DESC, lhs ASC, rhs ASC)
deterministic order and applied via scalar subqueries).

Segmentation (:func:`segment_words`) replays the learned merges in rank
order as a chain of the same literal replaces — row-local, zero
shuffle, zero Python, exact SQL twin — appropriate for merge lists up
to a few hundred (the plan is one projection per merge). For
production-size merge tables (30k+), :func:`bpe_encode_udf` applies the
standard rank-priority encoder inside an Arrow-batched pandas UDF over
the DISTINCT-word dimension; both paths are asserted equal in tests.

Reference parity: the reference has no tokenizer machinery — this is
part of the training-data-pipeline mandate (tokenizer-vocab induction,
SURVEY §2 training ops), extending vocab.py's counting steps to the
full training loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalized_text
from ..workerenv import local_relation

#: end-of-word marker symbol (contains no spaces — safe in the wrapped
#: representation)
EOW = "</w>"


# --------------------------------------------------------------------------
# word dimension + symbol state
# --------------------------------------------------------------------------


def word_table(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus wordcount dimension ``(word, freq)`` — the ONLY pass over
    the corpus; identical tokenization to ``vocab.token_counts``."""
    toks = df.select(
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias(
            "word"
        )
    ).filter(F.col("word") != "")
    out = toks.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    if min_count > 1:
        out = out.filter(F.col("freq") >= min_count)
    return out


def _wrapped_state(words: DataFrame) -> DataFrame:
    """(wstr, freq): the wrapped symbol string for each word — initial
    symbols are single characters plus the end-of-word marker."""
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != F.lit(""))
    syms = F.concat(chars, F.array(F.lit(EOW)))
    wstr = F.concat(F.lit(" "), F.array_join(syms, "  "), F.lit(" "))
    return words.select(wstr.alias("wstr"), F.col("freq").cast("long"))


def _pair_counts(state: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts (lhs, rhs, n) from the wrapped
    state — pairs built row-locally, ONE map-side-partial exchange."""
    syms = F.split(F.trim(F.col("wstr")), "  ")
    pairs = state.select(
        F.col("freq"),
        F.explode(
            F.when(
                F.size(syms) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(syms) - F.lit(2)),
                    lambda i: F.struct(
                        F.element_at(syms, i + 1).alias("lhs"),
                        F.element_at(syms, i + 2).alias("rhs"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<lhs:string,rhs:string>>")
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("freq").cast("long").alias("n"))
    )


# --------------------------------------------------------------------------
# training
# --------------------------------------------------------------------------


def bpe_train(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 1,
    min_pair_count: int = 2,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn up to ``n_merges`` BPE merges from the corpus.

    Returns ``(merges, final_state)`` where ``merges`` is the ordered
    list ``[(rank, lhs, rhs, n), ...]`` (rank starting at 1) and
    ``final_state`` is the (wstr, freq) word dimension after all merges
    (feed to :func:`symbol_counts` for the trained symbol vocabulary).
    Training stops early when no pair reaches ``min_pair_count``.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    state = _wrapped_state(word_table(df, text_col, min_count))
    state = state.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = (
            _pair_counts(state)
            .orderBy(F.desc("n"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < min_pair_count:
            break
        lhs, rhs, n = best[0]["lhs"], best[0]["rhs"], int(best[0]["n"])
        merges.append((rank, lhs, rhs, n))
        state = state.withColumn(
            "wstr",
            F.replace(
                F.col("wstr"),
                F.lit(f" {lhs}  {rhs} "),
                F.lit(f" {lhs}{rhs} "),
            ),
        ).localCheckpoint(eager=True)
    return merges, state


def merges_df(spark: SparkSession, merges) -> DataFrame:
    """The learned merge list as a DataFrame (rank, lhs, rhs, n)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("rank", LongType()),
            StructField("lhs", StringType()),
            StructField("rhs", StringType()),
            StructField("n", LongType()),
        ]
    )
    return local_relation(
        spark, [(int(r), l, h, int(n)) for r, l, h, n in merges], schema
    )


def symbol_counts(state: DataFrame) -> DataFrame:
    """Trained symbol vocabulary ``(symbol, n)`` — weighted occurrence
    counts over the final word states (one map-side-partial exchange)."""
    syms = F.split(F.trim(F.col("wstr")), "  ")
    return (
        state.select(F.col("freq"), F.explode(syms).alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("freq").cast("long").alias("n"))
    )


# --------------------------------------------------------------------------
# segmentation (applying learned merges)
# --------------------------------------------------------------------------


def segment_words(
    words: DataFrame, merges, word_col: str = "word"
) -> DataFrame:
    """Segment each word with the learned merges: (word, segmented,
    n_pieces) where ``segmented`` joins the pieces with a single space.

    Row-local literal-replace chain (one projection per merge, zero
    shuffle, zero Python) — the exact fold the trainer applied, so a
    training word segments to its final training state. For merge lists
    beyond a few hundred use :func:`bpe_encode_udf`."""
    chars = F.filter(F.split(F.col(word_col), ""), lambda c: c != F.lit(""))
    syms = F.concat(chars, F.array(F.lit(EOW)))
    wstr = F.concat(F.lit(" "), F.array_join(syms, "  "), F.lit(" "))
    for _, lhs, rhs, _n in merges:
        wstr = F.replace(
            wstr, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
        )
    pieces = F.split(F.trim(wstr), "  ")
    return words.select(
        F.col(word_col).alias("word"),
        F.array_join(pieces, " ").alias("segmented"),
        F.size(pieces).cast("long").alias("n_pieces"),
    )


def bpe_encode_udf(merges):
    """Arrow-batched pandas UDF segmenting words with the standard
    rank-priority encoder — the scale path for production merge tables
    (apply over the DISTINCT-word dimension, broadcast-join back).
    Returns pieces joined with a single space (same output contract as
    :func:`segment_words`; equality asserted in tests)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rank_of = {(l, r): i for i, (_, l, r, _n) in enumerate(merges)}

    def encode_one(word: str) -> str:
        syms = list(word) + [EOW]
        while len(syms) >= 2:
            best_i, best_rank = -1, None
            for i in range(len(syms) - 1):
                rk = rank_of.get((syms[i], syms[i + 1]))
                if rk is not None and (best_rank is None or rk < best_rank):
                    best_i, best_rank = i, rk
            if best_rank is None:
                break
            # merge ALL non-overlapping occurrences of the best pair
            # left-to-right (the trainer's replace semantics)
            lhs, rhs = syms[best_i], syms[best_i + 1]
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == lhs
                    and syms[i + 1] == rhs
                ):
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return " ".join(syms)

    def _encode(col: "pd.Series") -> "pd.Series":
        return col.map(encode_one)

    _encode.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return pandas_udf(_encode, "string")


# --------------------------------------------------------------------------
# DuckDB twins
# --------------------------------------------------------------------------

_NORM_SQL = "trim(regexp_replace(lower({t}), '\\s+', ' ', 'g'))"


def _words_sql(docs_sql: str, text_expr: str, min_count: int) -> str:
    norm = _NORM_SQL.format(t=text_expr)
    return f"""
        SELECT word, count(*)::BIGINT AS freq
        FROM (SELECT unnest(str_split({norm}, ' ')) AS word
              FROM ({docs_sql}))
        WHERE word <> ''
        GROUP BY word
        HAVING count(*) >= {min_count}
    """


def _state0_sql() -> str:
    return f"""
        SELECT ' ' || array_to_string(
                   list_append(str_split(word, ''), '{EOW}'), '  ')
               || ' ' AS wstr,
               freq
        FROM words
    """


def _pairs_sql(state: str) -> str:
    return f"""
        SELECT l[i] AS lhs, l[i+1] AS rhs, sum(freq)::BIGINT AS n
        FROM (SELECT str_split(trim(wstr), '  ') AS l, freq FROM {state}) t,
             unnest(range(1, len(l))) u(i)
        GROUP BY 1, 2
    """


def bpe_merges_sql(
    docs_sql: str,
    n_merges: int,
    text_expr: str = "text",
    min_count: int = 1,
    min_pair_count: int = 2,
) -> str:
    """Independent DuckDB re-training of the full merge recurrence:
    rounds unrolled as MATERIALIZED CTEs, each round's argmax by the
    identical (n DESC, lhs, rhs) order, the merge applied with the same
    wrapped-literal replace via scalar subqueries. Rounds where
    training would have stopped early produce no row (the best CTE is
    filtered on ``min_pair_count``; replace with a NULL pattern is
    guarded by coalescing to a no-op pattern)."""
    parts = [
        f"WITH words AS MATERIALIZED ({_words_sql(docs_sql, text_expr, min_count)}),",
        f"w0 AS MATERIALIZED ({_state0_sql()})",
    ]
    selects = []
    for r in range(1, n_merges + 1):
        prev = f"w{r - 1}"
        parts.append(
            f""", p{r} AS MATERIALIZED ({_pairs_sql(prev)})
, b{r} AS MATERIALIZED (
    SELECT lhs, rhs, n FROM p{r}
    WHERE n >= {min_pair_count}
    ORDER BY n DESC, lhs ASC, rhs ASC LIMIT 1)
, w{r} AS MATERIALIZED (
    SELECT replace(wstr,
                   coalesce((SELECT ' ' || lhs || '  ' || rhs || ' '
                             FROM b{r}), chr(1)),
                   coalesce((SELECT ' ' || lhs || rhs || ' '
                             FROM b{r}), chr(1))) AS wstr,
           freq
    FROM {prev})"""
        )
        selects.append(
            f"SELECT {r}::BIGINT AS rank, lhs, rhs, n FROM b{r}"
        )
    union = "\nUNION ALL\n".join(selects)
    return "\n".join(parts) + f"\nSELECT * FROM (\n{union}\n) ORDER BY rank"


def segment_words_sql(words_sql: str, merges) -> str:
    """DuckDB twin of :func:`segment_words` over a one-column ``word``
    relation — the identical literal-replace chain."""
    expr = (
        "' ' || array_to_string("
        f"list_append(str_split(word, ''), '{EOW}'), '  ') || ' '"
    )
    for _, lhs, rhs, _n in merges:
        pat = f" {lhs}  {rhs} ".replace("'", "''")
        rep = f" {lhs}{rhs} ".replace("'", "''")
        expr = f"replace({expr}, '{pat}', '{rep}')"
    return f"""
        SELECT word,
               array_to_string(str_split(trim({expr}), '  '), ' ')
                   AS segmented,
               len(str_split(trim({expr}), '  '))::BIGINT AS n_pieces
        FROM ({words_sql})
    """


# --------------------------------------------------------------------------
# Python twin (tests)
# --------------------------------------------------------------------------


def bpe_train_py(
    texts, n_merges: int, min_count: int = 1, min_pair_count: int = 2
):
    """Reference implementation over a list of document strings."""
    import re
    from collections import Counter

    words: Counter = Counter()
    for t in texts:
        norm = re.sub(r"\s+", " ", (t or "").lower()).strip()
        for w in norm.split(" "):
            if w:
                words[w] += 1
    state = {
        tuple(list(w) + [EOW]): f
        for w, f in words.items()
        if f >= min_count
    }
    merges = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for syms, f in state.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        (lhs, rhs), n = sorted(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        if n < min_pair_count:
            break
        merges.append((rank, lhs, rhs, n))
        new_state: dict = {}
        for syms, f in state.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == lhs
                    and syms[i + 1] == rhs
                ):
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_state[key] = new_state.get(key, 0) + f
        state = new_state
    sym_counts: Counter = Counter()
    for syms, f in state.items():
        for s in syms:
            sym_counts[s] += f
    return merges, dict(sym_counts)
