"""Deterministic synthetic Common-Crawl-style web corpus.

Generates the engine's input table ``(url, warc_ts, html, text, lang)``
(BASELINE.json input_hint) plus the alias dictionary and ``same_as``
ground truth — seeded, no external data, distributed via
``mapInPandas`` over ``spark.range`` so generation itself scales
(each row is a pure function of (seed, doc_id); Spark can re-execute
any task and get identical bytes).

Corpus shape:
- Document bodies are templated SVO sentences over a closed entity
  vocabulary, so ground-truth triples are computable exactly (the P/R
  harness oracle), interleaved with filler sentences.
- Hub skew: entity 0..HUBS-1 are chosen with zipf-ish weight, appearing
  in a large fraction of documents — exercises skew handling downstream.
- HTML wraps the body in boilerplate (nav/header/footer/script) that the
  extractor must strip.
- ``lang``: mostly 'en'; every 17th doc 'de' with no SVO content
  (filtered upstream of triple extraction).
- Entities have canonical ids in two namespaces (``SRCA:<i>``,
  ``SRCB:<i>``); the alias dictionary maps surface forms to both, making
  every entity a 2-node ``same_as`` component (plus ambiguity: a shared
  alias between consecutive entities with lower prior).
"""

from __future__ import annotations

import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.triples import VERB_LEXICON
from ..workerenv import local_relation

N_ENTITIES = 500
N_HUBS = 5
BASE_EPOCH = 1700000000  # fixed corpus epoch (no wall clock — determinism)

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

_FILLERS = [
    "The study was conducted over several months.",
    "Results were consistent with prior observations.",
    "Further analysis is required to confirm the findings.",
    "Samples were collected under controlled conditions.",
]


def entity_surface(i: int) -> str:
    return f"Entity_{i:04d}"


def _pick_entity(rng: random.Random) -> int:
    """Zipf-ish: hubs get ~60% of mentions."""
    if rng.random() < 0.6:
        return rng.randrange(N_HUBS)
    return rng.randrange(N_HUBS, N_ENTITIES)


def gen_doc(seed: int, doc_id: int) -> dict:
    """Pure function (seed, doc_id) → one corpus row + ground truth."""
    rng = random.Random((seed << 32) ^ doc_id)
    lang = "de" if doc_id % 17 == 3 else "en"
    sentences: list[str] = []
    truths: list[tuple[str, str, str]] = []
    if lang == "en":
        n_sv = rng.randint(1, 6)
        for _ in range(n_sv):
            s = _pick_entity(rng)
            o = _pick_entity(rng)
            v = rng.choice(VERB_LEXICON)
            sentences.append(f"{entity_surface(s)} {v} {entity_surface(o)}.")
            truths.append((entity_surface(s), v.replace(" ", "_"), entity_surface(o)))
        for _ in range(rng.randint(1, 3)):
            sentences.insert(
                rng.randrange(len(sentences) + 1), rng.choice(_FILLERS)
            )
    else:
        sentences = ["Dieses Dokument ist ein Platzhalter ohne Aussagen."]
    body = "".join(f"<p>{s}</p>\n" for s in sentences)
    # Outlinks (functions/links.py extracts these into the host link
    # graph). Drawn AFTER every existing rng draw so the text content of
    # any (seed, doc_id) is byte-identical to the link-free corpus; they
    # live in the <footer>, a boilerplate container the extractor drops,
    # so extracted text bytes are untouched too. Targets are Zipf-ish
    # over hosts (hub sites get most in-links), web-realistically
    # including dangling targets that no crawled doc answers to.
    anchors = ""
    for _ in range(rng.randint(1, 3)):
        if rng.random() < 0.6:
            k = rng.randrange(10)
            target = f"https://hub{k:02d}.example/"
            # anchor TEXT is derived from the target (no extra rng
            # draws, so text bytes of every (seed, doc_id) stay
            # byte-identical) — gives anchor-alias induction
            # (functions/links.anchor_alias_dict) real surface forms
            text = f"Hub {k:02d} Portal"
        else:
            n = rng.randrange(10, 400)
            target = (
                f"https://site{n:03d}.example/"
                f"p/{rng.randrange(1 << 20)}"
            )
            text = f"Site {n:03d}"
        anchors += f'<a href="{target}">{text}</a> '
    html = (
        "<html><head><title>Doc {d}</title>"
        "<script>var x = 'boilerplate';</script>"
        "<style>p {{margin: 0}}</style></head>"
        "<body><nav><li>Home</li><li>About</li></nav>"
        "<header>Synthetic Crawl</header>"
        "<article>\n{body}</article>"
        "<footer>Copyright — crawl fixture {anchors}</footer></body></html>"
    ).format(d=doc_id, body=body, anchors=anchors)
    return {
        "url": f"https://synthetic.example/{seed}/{doc_id:09d}",
        "warc_ts": BASE_EPOCH + doc_id,
        "html": html.encode("utf-8"),
        "lang": lang,
        "truths": truths,
    }


def generate_corpus(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed corpus generation: ``spark.range`` → ``mapInPandas``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_doc(seed, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "url": [r["url"] for r in rows],
                    "warc_ts": pd.to_datetime(
                        [r["warc_ts"] for r in rows], unit="s"
                    ),
                    "html": [r["html"] for r in rows],
                    "text": pd.Series([None] * len(rows), dtype=object),
                    "lang": [r["lang"] for r in rows],
                }
            )

    rng = spark.range(n_docs, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, CORPUS_SCHEMA)


def ground_truth_triples(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    """Exact expected (url, subj, pred, obj) rows — the P/R oracle,
    produced by the same pure generator (single source of truth)."""
    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("subj", T.StringType(), False),
            T.StructField("pred", T.StringType(), False),
            T.StructField("obj", T.StringType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for i in pdf["id"]:
                d = gen_doc(seed, int(i))
                recs.extend(
                    {"url": d["url"], "subj": s, "pred": p, "obj": o}
                    for (s, p, o) in d["truths"]
                )
            yield pd.DataFrame(recs, columns=["url", "subj", "pred", "obj"])

    return spark.range(n_docs).mapInPandas(gen, schema)


def alias_dictionary(spark: SparkSession) -> DataFrame:
    """Small broadcastable alias table ``(alias, entity_id, prior)``, a
    ``LocalRelation`` (no Python worker scans it).

    Each surface form maps to its SRCA id (prior 0.9) and SRCB id
    (prior 0.8); every 10th entity's surface also aliases the *next*
    entity's SRCB id with low prior 0.1 (ambiguity the resolver must
    beat)."""
    rows = []
    for i in range(N_ENTITIES):
        surf = entity_surface(i)
        rows.append((surf, f"SRCA:{i:04d}", 0.9))
        rows.append((surf, f"SRCB:{i:04d}", 0.8))
        if i % 10 == 0:
            rows.append((surf, f"SRCB:{(i + 1) % N_ENTITIES:04d}", 0.1))
    return local_relation(spark, rows, "alias string, entity_id string, prior double")
