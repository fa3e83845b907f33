"""Extraction + triple P/R gates (BASELINE targets):

- per-url BYTE-IDENTICAL extracted text: distributed pandas-UDF path vs
  the single-threaded pure-python reference implementation;
- triple precision/recall ≥ 0.95 vs the generator's ground truth
  (deterministic corpus ⇒ exact oracle);
- determinism across independent runs (Spark may re-execute tasks).
"""

from __future__ import annotations

import random
from collections import Counter

import pandas as pd

from kg_microbe_merge_spark.functions.extract import (
    extract_text_py,
    with_extracted_text,
)
from kg_microbe_merge_spark.functions.triples import (
    extract_triples_py,
    triples_from_corpus,
)
from kg_microbe_merge_spark.sources.corpus import (
    gen_doc,
    generate_corpus,
    ground_truth_triples,
)

N_DOCS = 400


def test_extract_byte_identity(spark):
    corpus = generate_corpus(spark, N_DOCS, seed=42)
    got = {
        r["url"]: r["text"]
        for r in with_extracted_text(corpus).select("url", "text").collect()
    }
    assert len(got) == N_DOCS
    for i in range(N_DOCS):
        d = gen_doc(42, i)
        expected = extract_text_py(d["html"])
        assert got[d["url"]] == expected, f"doc {i} text differs"
        # byte-level: encodes identically
        assert got[d["url"]].encode("utf-8") == expected.encode("utf-8")


def test_extract_null_and_empty(spark):
    df = spark.createDataFrame(
        [("u1", None), ("u2", b"<html><body></body></html>"),
         ("u3", b"<p>hi</p>")],
        "url string, html binary",
    )
    rows = {r["url"]: r["text"] for r in with_extracted_text(df).collect()}
    assert rows["u1"] is None          # null html -> null text
    assert rows["u2"] == ""            # content-free html -> empty string
    assert rows["u3"] == "hi"


def test_extract_prefers_existing_text(spark):
    df = spark.createDataFrame(
        [("u1", b"<p>from html</p>", "pre-extracted"),
         ("u2", b"<p>from html</p>", None)],
        "url string, html binary, text string",
    )
    rows = {r["url"]: r["text"] for r in with_extracted_text(df).collect()}
    assert rows["u1"] == "pre-extracted"
    assert rows["u2"] == "from html"


def test_triple_precision_recall(spark):
    corpus = generate_corpus(spark, N_DOCS, seed=42)
    got = triples_from_corpus(corpus).select("url", "subj", "pred", "obj")
    truth = ground_truth_triples(spark, N_DOCS, seed=42)
    got_set = {tuple(r) for r in got.collect()}
    truth_set = {tuple(r) for r in truth.collect()}
    assert truth_set, "ground truth must be non-empty"
    tp = len(got_set & truth_set)
    precision = tp / len(got_set)
    recall = tp / len(truth_set)
    assert precision >= 0.95, f"precision {precision:.3f} < 0.95"
    assert recall >= 0.95, f"recall {recall:.3f} < 0.95"


def test_triples_deterministic_and_pure(spark):
    # pure python and UDF paths agree document-by-document
    for i in (0, 1, 5, 9):
        d = gen_doc(42, i)
        text = extract_text_py(d["html"])
        triples = [(s, p, o) for (s, p, o, _c) in extract_triples_py(text)]
        if d["lang"] == "en":
            assert set(triples) == set(d["truths"]), f"doc {i}"
        else:
            assert triples == []


def test_fused_triples_equal_unfused_path(spark):
    """triples_from_corpus (one mapInPandas hop) must equal the pure
    Python reference extract_triples_py(extract_text_py(html)) over the
    en docs exactly — same rows, same multiplicities, conf included."""
    corpus = generate_corpus(spark, N_DOCS, seed=42)
    want = Counter(
        (d["url"], s, p, o, c)
        for d in (gen_doc(42, i) for i in range(N_DOCS))
        if d["lang"] == "en"
        for s, p, o, c in extract_triples_py(extract_text_py(d["html"]))
    )
    got = Counter(map(tuple, triples_from_corpus(corpus).collect()))
    assert got == want and want


def test_fused_triples_plan_shape(spark, tmp_path):
    """ONE Python hop over a parquet corpus; the language filter is
    pushed into the scan, so non-en html is never decoded or
    transferred across Arrow."""
    path = str(tmp_path / "corpus")
    generate_corpus(spark, 50, seed=1).write.parquet(path)
    plan = (
        triples_from_corpus(spark.read.parquet(path))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in plan
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: warc_ts never read
    assert "warc_ts" not in plan.split("ReadSchema")[1]


def test_fused_triples_keeps_preextracted_text(spark):
    """Rows with non-null text skip html extraction (input contract
    parity with with_extracted_text)."""
    df = spark.createDataFrame(
        [
            ("u1", None, "Alpha produces Beta", "en"),
            ("u2", b"<html><body><p>Gamma inhibits Delta and more words here</p></body></html>", None, "en"),
            ("u3", None, "Epsilon binds Zeta", "de"),
        ],
        "url string, html binary, text string, lang string",
    )
    rows = {
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in triples_from_corpus(df).collect()
    }
    assert ("u1", "Alpha", "produces", "Beta") in rows
    assert ("u2", "Gamma", "inhibits", "Delta") in rows
    assert not any(u == "u3" for u, *_ in rows)


# Adversarial inputs for the fused path: comments/PI/declarations,
# charrefs, bogus end tags, '>' inside quoted attributes, nested or
# unclosed skip containers, '<' in CDATA and invalid UTF-8.
_ADVERSARIAL_DOCS = [
    b"<html><body><p>A <!-- comment --> B produces C.</p></body></html>",
    b"<html><body><p>A&amp;B Alpha produces Beta.</p></body></html>",
    b"<?xml version='1.0'?><p>Alpha produces Beta.</p>",
    b"<!DOCTYPE html><p>Alpha produces Beta.</p>",
    b"<p>Alpha binds Beta.</p></<p>bogus",
    b'<p title="a>b">Alpha binds Beta.</p>',
    b"<nav><nav>deep</nav>Alpha binds Beta.</nav><p>Gamma binds Delta.</p>",
    b"<nav>unclosed <p>Alpha binds Beta.</p>",
    b"<script>a < b</script><p>Alpha binds Beta.</p>",
    b"< p>odd tag</ p><p>Alpha binds Beta.</p>",
    b"<p class='single'>Alpha binds Beta.</p>",
    b"\xff\xfe<p>Alpha binds Beta.</p>",
]

# Edge cases that look risky: script bodies without markup characters,
# case-insensitive CDATA, Unicode whitespace and empty blocks.
_EDGE_DOCS = [
    b"<script>if (a) go();</script><p>Alpha binds Beta.</p>",
    b"<SCRIPT>x = 1;</SCRIPT><P>Alpha binds Beta.</P>",
    b"<p>Alpha\n\t  binds \xc2\xa0 Beta.</p>",
    b"<article><p>Alpha binds Beta.</p><p></p></article>",
]


def _fuzzed_docs() -> list[bytes]:
    """Deterministic token-soup documents mixing well-formed and
    malformed markup."""
    rng = random.Random(20260821)
    toks = [
        "<p>", "</p>", "<div>", "</div>", "<nav>", "</nav>", "<script>",
        "</script>", "<li>", "</li>", "<span>", "</span>", "<b>", "</b>",
        "Alpha binds Beta. ", "Gamma produces Delta. ", "plain text ",
        "the a of ", "<!-- c -->", "&amp;", "&", "<", ">", "</ p>",
        '<a href="https://x.example/">L</a>', "<p/>", "<P>", "</P>",
        "\n", "\t", "\xa0", "Entity_0001 inhibits Entity_0002. ",
    ]
    return [
        "".join(rng.choice(toks) for _ in range(rng.randint(1, 30))).encode()
        for _ in range(300)
    ]


def _mk_corpus(spark, htmls):
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(len(htmls))],
            "warc_ts": pd.to_datetime([1700000000 + i for i in range(len(htmls))], unit="s"),
            "html": htmls,
            "text": pd.Series([None] * len(htmls), dtype=object),
            "lang": ["en"] * len(htmls),
        }
    )
    return spark.createDataFrame(
        pdf,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def _assert_fused_equals_reference(spark, docs):
    """triples_from_corpus equals extract_triples_py(extract_text_py(h))
    per url, and the documents assert at least one triple."""
    fused = triples_from_corpus(_mk_corpus(spark, docs))
    got = sorted(map(tuple, fused.collect()))
    want = sorted(
        (f"u{i}", s, p, o, c)
        for i, h in enumerate(docs)
        for s, p, o, c in extract_triples_py(extract_text_py(h))
    )
    assert got == want and want


def test_fused_triples_equal_reference_on_adversarial_docs(spark):
    _assert_fused_equals_reference(spark, _ADVERSARIAL_DOCS)


def test_fused_triples_equal_reference_on_edge_docs(spark):
    _assert_fused_equals_reference(spark, _EDGE_DOCS)


def test_fused_triples_equal_reference_on_fuzzed_docs(spark):
    _assert_fused_equals_reference(spark, _fuzzed_docs())
