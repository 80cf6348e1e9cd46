r"""Document curation pipeline (reference crawler.go:1121-1279):
language gate (T15), paragraph scrubs (T14), html-attr drop (P1),
stopword-ratio floor (P2), curated-paragraph gate (P3), doc-length band
(P4), doc term frequency + signature (A1/P5), relevance score (P6),
best paragraph (T12/W5), burstiness (P7).

One declarative column chain per wave: paragraphs are exploded once,
every predicate is a JVM regex/array expression, and the only shuffles
are the per-doc re-aggregation (groupBy url) and the cross-doc
signature window. Language detection is pluggable: the default is the
deterministic synthetic-web marker; real deployments swap in a
pandas-UDF detector (whatlanggo has no bit-exact Python twin —
SURVEY.md §7.3).

The array steps (`transform`, `filter`, ...) are higher-order functions,
which Spark evaluates per element outside whole-stage codegen; their
lambdas read only their own element (functions/text.py docstring).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gocrawler_spark.config import CrawlConfig
from gocrawler_spark.functions import text as TX

LangGate = Callable[[Column], Column]


def default_lang_gate(p: Column) -> Column:
    """Deterministic stand-in for whatlanggo (crawler.go:1144-1149):
    the synthetic web marks non-English paragraphs with a token."""
    return ~p.contains("zzforeignzz")


def curate_docs(
    docs: DataFrame,
    cfg: CrawlConfig,
    lang_gate: LangGate = default_lang_gate,
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("url",),
) -> DataFrame:
    """(key..., content) → (key..., curated, best_paragraph, doc_len,
    n_paragraphs_kept) — crawler.go:1121-1211.

    Gate parity notes:
    - the html-attr drop (P1) tests the ORIGINAL paragraph
      (crawler.go:1172), not the scrubbed one;
    - paragraph 200 gate is BYTE length — Go len() counts bytes
      (crawler.go:1195), so is the 2000/1996 best-paragraph truncation;
    - curated content carries a LEADING newline per kept paragraph
      (crawler.go:1209: curated = curated + "\n" + p);
    - bestParagraph runs over post-scrub/ratio-floor paragraphs,
      BEFORE the 200-char/0.38 gates (crawler.go:1193).
    """
    keys = list(key_cols)
    paras = docs.select(
        *keys, F.posexplode(TX.paragraphs_of(F.col(content_col))).alias("pos", "p")
    )
    scrubbed = (
        paras.withColumn("lang_ok", lang_gate(F.col("p")))
        .withColumn("attr_drop", F.col("p").rlike(TX.HTML_ATTR_DROP_RE))
        .withColumn("p5", TX.scrub_paragraph(F.col("p")))
        .withColumn("n_stop", TX.stopwords_count(F.col("p5"), cfg))
        .withColumn("n_tok", TX.tokens_count(F.col("p5")))
        .withColumn("ratio", F.col("n_stop") / (F.col("n_tok") + F.lit(1)))
        # survivors of the first loop (crawler.go:1144-1189)
        .withColumn(
            "kept1",
            F.col("lang_ok") & ~F.col("attr_drop") & (F.col("ratio") >= 0.1),
        )
        .withColumn("score_p", TX.ranking_by_keywords(F.col("p5"), cfg))
        # second loop (crawler.go:1194-1211): char length + ratio band
        .withColumn(
            "kept2",
            F.col("kept1")
            & (F.octet_length("p5") >= 200)
            & (F.col("ratio") >= 0.1)
            & (F.col("ratio") <= 0.38),
        )
    )
    by_doc = scrubbed.groupBy(*keys).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept2"), F.struct("pos", F.col("p5").alias("p")))
                    )
                ),
                lambda s: s["p"],
            ),
        ).alias("curated_body"),
        F.count(F.when(F.col("kept2"), 1)).alias("n_paragraphs_kept"),
        # bestParagraph: strict '>' over 0, first (lowest pos) wins ties
        F.max_by(
            F.struct(F.col("p5").alias("bp")),
            F.when(
                F.col("kept1") & (F.col("score_p") > 0),
                F.struct(
                    F.col("score_p").alias("s"), (-F.col("pos")).alias("negpos")
                ),
            ),
        ).alias("best_struct"),
        F.max(F.when(F.col("kept1"), F.col("score_p"))).alias("best_score"),
    )
    out = (
        by_doc.withColumn(
            "curated",
            F.when(F.col("n_paragraphs_kept") > 0,
                   F.concat(F.lit("\n"), F.col("curated_body"))).otherwise(F.lit("")),
        )
        .withColumn(
            "best_paragraph_raw",
            F.when(
                F.coalesce(F.col("best_score"), F.lit(0.0)) > 0,
                F.col("best_struct")["bp"],
            ).otherwise(F.lit("")),
        )
        .withColumn(
            "best_paragraph",
            F.when(
                F.octet_length("best_paragraph_raw") > 2000,
                F.concat(
                    # byte slice, like Go's best[:1996] — substring on
                    # BINARY cuts bytes; the cast back to string is
                    # zero-copy, so a mid-rune cut keeps the raw bytes
                    # exactly as the reference would
                    F.expr(
                        "cast(substring(cast(best_paragraph_raw as binary),"
                        " 1, 1996) as string)"
                    ),
                    F.lit(" ..."),
                ),
            ).otherwise(F.col("best_paragraph_raw")),
        )
        .withColumn("doc_len", TX.tokens_count(F.col("curated")))
        .drop("curated_body", "best_struct", "best_score", "best_paragraph_raw")
    )
    return out


def doc_gates(
    curated: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """P4 + A1 + signature + P6 score + P7 burstiness inputs
    (crawler.go:1214-1279). Adds: len_ok, tf (map token→count with
    'the' zeroed), signature, score, max_ratio, burst_ok.
    """
    toks = TX.analyzed_tokens(F.col("curated"), cfg)
    # "the" is zeroed before the signature (crawler.go:1231), and Go's
    # `fDoc["the"] = 0` INSERTS the key when absent (map assignment), so
    # every doc's frequency table carries exactly one ("the", 0) entry
    # even if the token never occurs — and with < 7 distinct tokens
    # that entry reaches the signature (pyoracle.py:222 does the same).
    # So count the other tokens and append ("the", 0). The sort sits in
    # the `_toks` projection: TX.term_counts needs sorted input and
    # must not re-sort per lambda call.
    df = curated.withColumn(
        "len_ok",
        (F.col("doc_len") >= cfg.min_doc_len) & (F.col("doc_len") <= cfg.max_doc_len),
    ).withColumn("_toks", F.sort_array(F.array_remove(toks, "the")))

    # Per-doc term frequency WITHOUT a shuffle (A1 is per-doc state):
    # run lengths of the row-local sorted token array.
    tc = F.concat(
        TX.term_counts(F.col("_toks")),
        F.array(
            F.struct(
                F.lit(0).cast("int").alias("count"),
                F.lit("the").alias("token"),
            )
        ),
    )
    df = df.withColumn("_tc", tc)
    df = df.withColumn("signature", TX.signature_expr(F.col("_tc"), k=7))
    df = df.withColumn("score", TX.ranking_by_keywords(F.col("curated"), cfg))
    max_count = F.array_max(F.transform(F.col("_tc"), lambda s: s["count"]))
    df = df.withColumn(
        "max_ratio",
        F.coalesce(max_count, F.lit(0)).cast("double") / (F.lit(1) + F.col("doc_len")),
    ).withColumn(
        "burst_ok", (F.col("max_ratio") <= 0.1) & (F.col("max_ratio") >= 0.002)
    )
    return df.drop("_toks", "_tc")


def signature_dedup(
    gated: DataFrame,
    known_signatures: DataFrame,
    order_cols: list,
) -> DataFrame:
    """P5 cross-doc near-dup drop (crawler.go:1241-1255): first doc with
    a signature wins. `order_cols` defines "first" (wave, selection
    rank). Cross-wave state = anti-join vs the signatures table;
    intra-wave = ranking window on signature."""
    w = Window.partitionBy("signature").orderBy(*order_cols)
    fresh = gated.join(
        known_signatures.select("signature").distinct(), "signature", "left_anti"
    )
    return fresh.withColumn("sig_rank", F.row_number().over(w)).filter(
        F.col("sig_rank") == 1
    ).drop("sig_rank")
