"""Parity tests: Spark column layer == pure-Python reference semantics
on adversarial fixtures (unicode tokens, adjacent stopwords, 1-2 char
tokens, numbers, keyword shadowing)."""

import math
import re
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from gocrawler_spark.config import covid_profile
from gocrawler_spark.functions import pyref
from gocrawler_spark.functions import text as T

CFG = covid_profile()

FIXTURES = [
    "The quick brown fox jumps over the lazy dog",
    "covid-19 testing and the vaccine rollout of 2020",
    "a an of by 12 345 xy z the them theme",
    "Müller naïve café 北京 tokyo2020 ångström",
    "the the the a a covid covid vaccine",
    "  \t leading and trailing \n separators  ",
    "one,two;three.four!five?six",
    "",
    "covid covid covid pandemic pandemic virus",
    "news newss new update updates updated updatesd",
]


def test_tokenize_parity(spark):
    df = spark.createDataFrame([Row(i=i, t=t) for i, t in enumerate(FIXTURES)])
    got = {
        r["i"]: r["toks"]
        for r in df.select("i", T.tokens_of(F.col("t")).alias("toks")).collect()
    }
    for i, t in enumerate(FIXTURES):
        assert got[i] == pyref.tokenize(t), f"fixture {i}: {t!r}"


def test_analyze_parity(spark):
    df = spark.createDataFrame([Row(i=i, t=t) for i, t in enumerate(FIXTURES)])
    got = {
        r["i"]: r["toks"]
        for r in df.select(
            "i", T.analyzed_tokens(F.col("t"), CFG).alias("toks")
        ).collect()
    }
    for i, t in enumerate(FIXTURES):
        assert got[i] == pyref.analyze(t, CFG), f"fixture {i}: {t!r}"


def test_analyze_drops_expected_classes():
    toks = pyref.analyze("a an of 12 covid xy the theme vaccine", CFG)
    # 1-2 char tokens, numbers, stopwords gone; "the" SURVIVES
    # (engStopWordsWOthe — crawler.go:1418), content words stay.
    assert toks == ["covid", "the", "theme", "vaccine"]


def test_stopwords_count_parity(spark):
    df = spark.createDataFrame([Row(i=i, t=t) for i, t in enumerate(FIXTURES)])
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", T.stopwords_count(F.col("t"), CFG).alias("c")
        ).collect()
    }
    for i, t in enumerate(FIXTURES):
        assert got[i] == pyref.stopwords_count(t, CFG), f"fixture {i}: {t!r}"


def test_stopwords_count_adjacent_shadowing():
    # "a a a" padded → non-overlapping \W(stop)\W scan sees only 2
    # (crawler.go:609-619 semantics; doubling is NOT applied here).
    assert pyref.stopwords_count("a a a", CFG) == 2


def test_ranking_parity(spark):
    df = spark.createDataFrame([Row(i=i, t=t) for i, t in enumerate(FIXTURES)])
    got = {
        r["i"]: r["s"]
        for r in df.select(
            "i", T.ranking_by_keywords(F.col("t"), CFG).alias("s")
        ).collect()
    }
    for i, t in enumerate(FIXTURES):
        assert got[i] == pytest.approx(
            pyref.ranking_by_keywords(t, CFG), abs=1e-12
        ), f"fixture {i}: {t!r}"


def test_ranking_distinct_and_minlen():
    # 'covid' twice → counted once; keywords shorter than 3 ignored.
    t = " covid covid vaccine "
    # tokens = 3 → 100*2/sqrt(4) = 100.0
    assert pyref.ranking_by_keywords(t, CFG) == pytest.approx(100.0)


def test_rsort_freq_total_order():
    f = {"b": 2, "a": 2, "c": 1, "z": 2}
    assert pyref.rsort_freq(f) == [("z", 2), ("b", 2), ("a", 2), ("c", 1)]


def test_signature_format():
    f = {"covid": 5, "virus": 3, "the": 0}
    sig = pyref.signature_of(f, k=7)
    assert sig == "[covid virus the]"


def test_signature_expr_parity(spark):
    rows = [
        Row(doc=0, tc=[Row(count=5, token="covid"), Row(count=3, token="virus"),
                       Row(count=3, token="alpha"), Row(count=1, token="zz")]),
    ]
    df = spark.createDataFrame(rows)
    got = df.select(T.signature_expr(F.col("tc")).alias("sig")).first()["sig"]
    assert got == pyref.signature_of({"covid": 5, "virus": 3, "alpha": 3, "zz": 1})


def test_signature_expr_ties_are_token_descending(spark):
    """Equal counts rank token-descending (rSortFreq, crawler.go:705-718):
    the descending struct sort compares the token after the count."""
    tc = [Row(count=c, token=t) for t, c in
          [("alpha", 2), ("zeta", 2), ("b", 1), ("mid", 2), ("zz", 1)]]
    got = (
        spark.createDataFrame([Row(tc=tc)])
        .select(T.signature_expr(F.col("tc")).alias("sig"))
        .first()["sig"]
    )
    assert got == "[zeta mid alpha zz b]"
    assert got == pyref.signature_of({r["token"]: r["count"] for r in tc})


def _term_counts(spark, docs):
    """TX.term_counts over each token list, as (token, count) pairs."""
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "i int, toks array<string>"
    ).withColumn("toks", F.sort_array("toks"))
    rows = df.select("i", T.term_counts(F.col("toks")).alias("tc")).collect()
    return [
        [(e["token"], e["count"]) for e in r["tc"]]
        for r in sorted(rows, key=lambda r: r["i"])
    ]


def test_term_counts_edge_cases(spark):
    docs = [
        [],
        ["covid"],
        ["the"],
        ["the"] * 5,
        ["b", "the", "a", "b", "the", "a", "b"],
        ["virus", "alpha", "virus", "zeta", "alpha", "virus"],
    ]
    assert _term_counts(spark, docs) == [
        sorted(Counter(d).items()) for d in docs
    ]


_TOKEN = st.one_of(
    st.sampled_from(["the", "covid", "virus", "a", "aa", "zeta"]),
    st.text("abcéz北", min_size=1, max_size=3),
)


@given(docs=st.lists(st.lists(_TOKEN, max_size=40), min_size=1, max_size=30))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_term_counts_equals_counter(spark, docs):
    """Run lengths of the sorted array == collections.Counter, one entry
    per distinct token, token-ascending (UTF-8 byte order == code point
    order)."""
    assert _term_counts(spark, docs) == [
        sorted(Counter(d).items()) for d in docs
    ]


def test_paragraph_split_parity(spark):
    t = "one\n\ntwo\r\nthree\rfour"
    df = spark.createDataFrame([Row(t=t)])
    got = df.select(T.paragraphs_of(F.col("t")).alias("p")).first()["p"]
    assert got == pyref.split_paragraphs(t) == ["one", "two", "three", "four"]


def test_stop_decomposition_equivalent_to_fullmatch(spark):
    """The decomposed stop predicate (stop_token_parts: len/digit/InSet/
    residual regex) must drop exactly the same tokens as the
    270+-alternative stop_token_fullmatch regex — including the
    optional-plural `words*` patterns with 0..3 trailing s's and
    near-miss prefixes."""
    import re as _re

    from pyspark.sql import Row

    from gocrawler_spark.config import test_profile

    cfg = test_profile()
    words = (
        cfg.eng_stopwords_wo_the
        + "|"
        + cfg.eng_low_relevancy_words
        + "|"
        + cfg.special_stopwords
    ).split("|")
    probes = set()
    for w in words:
        base = w[:-2] if w.endswith("s*") else w
        base = _re.sub(r"[.*+?()\[\]{}^$\\]", "", base)
        if not base:
            continue
        probes |= {base, base + "s", base + "ss", base + "sss", base[:-1],
                   base + "x", "x" + base, base.upper()}
    probes |= {"a", "ab", "abc", "12", "123", "0", "covid", "the", "thes"}
    probes = sorted(p for p in probes if p)

    full = _re.compile(cfg.stop_token_fullmatch.replace("(?i)", ""), _re.I)
    expected = [p.lower() for p in probes if not full.fullmatch(p.lower())]

    text = " ".join(probes)
    df = spark.createDataFrame([Row(t=text)])
    got = df.select(T.analyzed_tokens(F.col("t"), cfg).alias("a")).first()["a"]
    assert got == expected


def test_doc_gates_forces_the_entry_when_absent(spark):
    """Go's ``fDoc["the"] = 0`` INSERTS the key (crawler.go:1231), so a
    doc with < 7 distinct tokens and no literal 'the' still carries
    ("the", 0) into its signature — pyoracle.py:222 mirrors the insert
    and the engine must too."""
    from gocrawler_spark.config import test_profile
    from gocrawler_spark.operators.curation import doc_gates

    cfg = test_profile()
    curated = spark.createDataFrame(
        [
            Row(
                url="u1",
                curated="alpha beta beta gamma",
                doc_len=4,
            ),
            Row(url="u2", curated="the alpha the", doc_len=3),
        ]
    )
    out = {r["url"]: r["signature"] for r in doc_gates(curated, cfg).collect()}
    # pyref ground truth: beta(2) first, count-1 ties token-desc, then
    # the forced ("the", 0) tail
    assert out["u1"] == pyref.signature_of(
        {"alpha": 1, "beta": 2, "gamma": 1, "the": 0}
    )
    assert out["u1"].endswith(" the]")
    # literal 'the' present: zeroed in place, no duplicate entry
    assert out["u2"] == pyref.signature_of({"alpha": 1, "the": 0})


def test_doc_gates_sorts_tokens_once(spark):
    """The optimizer inlines a projected column into every lambda body
    that reads it and re-evaluates it per lambda call; a token sort
    inlined that way made doc_gates slower than the quadratic count it
    replaced. The optimized plan must hold the token sort once (the
    `_toks` projection) plus the signature's descending sort of the
    `_tc` column."""
    from gocrawler_spark.config import test_profile
    from gocrawler_spark.operators.curation import doc_gates

    curated = spark.createDataFrame(
        [Row(url="u1", curated="alpha beta beta the", doc_len=4)]
    )
    plan = (
        doc_gates(curated, test_profile())
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("sort_array(") == 2
    assert len(re.findall(r"sort_array\(_tc#\d+, false\)", plan)) == 1


def test_paragraph_200_gate_counts_bytes_not_chars(spark):
    """Go ``len(p) < 200`` counts BYTES (crawler.go:1195): a 195-char /
    209-byte paragraph (multibyte accents) passes the reference's gate
    and must pass the engine's — a character-length gate would drop
    it."""
    from gocrawler_spark.config import test_profile
    from gocrawler_spark.operators.curation import curate_docs

    base = (
        "the café étude of données and the résumé analyse of the "
        "qualité numérique review shows the détail méthode criteria "
        "and the préparation of the matériel résultats in the étude "
        "review of the données"
    )
    assert len(base) < 200 <= len(base.encode("utf-8"))
    out = curate_docs(
        spark.createDataFrame([Row(url="u", content=base)]), test_profile()
    ).first()
    assert out["n_paragraphs_kept"] == 1


def test_analyzer_fragments_tokens_at_non_ascii_runes(spark):
    """Go's stopwordFilter doubles RE2 `\\W` runs — ASCII-only — so a
    non-ASCII rune INSIDE a token is a separator there even though the
    outer tokenizer is Unicode: 'café' must analyze to 'caf', and the
    short fragments die in the length gate (crawler.go:651,528)."""
    from gocrawler_spark.config import test_profile

    cfg = test_profile()
    text = "café naïve résumé covid analysis"
    expected = pyref.analyze(text, cfg)
    # the Go chain: café→caf; naïve→na|ve (both ≤2, dropped);
    # résumé→r|sum (r dropped)
    assert "caf" in expected and "café" not in expected
    assert "sum" in expected and "résumé" not in expected
    assert "na" not in expected and "ve" not in expected
    got = (
        spark.createDataFrame([Row(t=text)])
        .select(T.analyzed_tokens(F.col("t"), cfg).alias("a"))
        .first()["a"]
    )
    assert got == expected
