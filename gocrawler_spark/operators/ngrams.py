"""N-gram miner — W3 (sentence-dedup sliding windows), A7 (bounded
freq), W4 (cross-level subset/superset pruning).

Reference: ngramsOf crawler.go:834-917, ngramsFreqsOf
crawler.go:919-938, ngramsFreqsOfAll crawler.go:979-1031.

Semantics reproduced:
- sentences: ``.\\n`` → newline, ``. `` → newline, split ``[\\r\\n]+``
  (crawler.go:837-840 + splitParagraphs);
- per-sentence signature = Go %v render of the top-7 analyzed tokens
  by (count desc, token desc); FIRST sentence per signature survives
  (crawler.go:842-868) — here "first" is (doc_id, pos) order, which
  equals the reference's encounter order over the concatenated corpus;
- punctuation scrub ``[*()?\\-,:#\\[\\]"]+`` → space (crawler.go:878);
- grams = n consecutive ASCII ``\\w+`` tokens (Go RE2 ``[^\\W]+`` is
  ASCII), space-joined. (Divergence, documented: the reference keeps
  the original separator character between tokens after collapsing —
  e.g. an apostrophe; with the scrub applied the separators are
  near-always spaces, and space-join is what the DuckDB oracle can
  express. tests/test_ngrams.py pins the behavior.);
- border filter: first token must not full-match (?i)(stop|lowrel),
  last token must not full-match (?i)(stop) — the left/right asymmetry
  of lowRelevancyWordsOnBorderCount (crawler.go:633-643);
- ignore grams containing a token (?i)(cite_note|cite_ref|https*)
  (crawler.go:883-884,903);
- per level: count, keep freq >= 3, total order (cnt desc, gram desc),
  keep the first 101 rows (the Go loop breaks at counter > 100 —
  an off-by-one kept faithfully, crawler.go:929-933);
- pruning (crawler.go:992-1020), per level n from nMax down to 2,
  always against the RAW neighbor level lists:
    * n < nMax: ignore g if any (n+1)-level s with contains(s, g) and
      s.cnt > g.cnt/2 (integer division);
    * n > 2:    ignore g if any (n-1)-level s with contains(g, s) and
      s.cnt > 2*g.cnt.

Scale design: sentence dedup is one window over signature (shuffle on
signature); gram counting is explode → groupBy (map-side combine);
each level is capped at 101 rows, so the cross-level pruning joins are
broadcast nested-loop joins over <=101-row sides — negligible at any
corpus size. The expensive stages are all linear scans.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gocrawler_spark.config import CrawlConfig
from gocrawler_spark.functions import text as TX

SCRUB_RE = r'[*()?\-,:#\[\]"]+'
GRAM_TOKEN_RE = r"(\w+)"  # ASCII word runs — Go RE2 [^\W]+ parity
IGNORE_TOKEN_RE = r"(?i)^(cite_note|cite_ref|https*)$"


def sentences_of(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pos, sentence) — sentence-as-paragraph split."""
    t = F.regexp_replace(F.col(text_col), r"\.\n", "\n")
    t = F.regexp_replace(t, r"\. ", "\n")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(t, r"[\r\n]+")).alias("pos", "sentence"),
    )


def dedup_sentences(sents: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """First sentence per top-7-token signature wins (W3 dedup).

    Per-sentence token counts are computed LOCALLY as run lengths of
    the sorted token array (TX.term_counts, linear in the sentence
    length) instead of an explode + double groupBy — the old plan
    shuffled every (sentence string, token) pair twice just to count
    within one row. The only remaining shuffle is the signature dedup
    window itself."""
    counted = sents.withColumn(
        "atoks", F.sort_array(TX.analyzed_tokens(F.col("sentence"), cfg))
    ).withColumn("token_counts", TX.term_counts(F.col("atoks")))
    sig = TX.signature_expr(F.col("token_counts"), 7)
    w = Window.partitionBy("signature").orderBy("doc_id", "pos")
    return (
        counted.withColumn("signature", sig)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "pos", "sentence", "signature")
    )


def _gram_tokens(sentence) -> "F.Column":
    scrubbed = F.regexp_replace(sentence, SCRUB_RE, " ")
    return F.regexp_extract_all(scrubbed, F.lit(GRAM_TOKEN_RE), F.lit(1))


def prepare_grams(sents: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """(toks, bl, br, ig): the gram token array plus the three
    per-token predicate arrays (border-left, border-right, ignore)
    every mining level consumes.

    The border/ignore predicates are evaluated ONCE PER TOKEN instead
    of once per gram — a token participates in up to n overlapping
    grams, so the per-gram form multiplies every regex by n. Border
    matches use the decomposed literal-InSet + small-residual-regex
    predicates (cfg.border_*_parts) rather than the 200+-way
    alternation. Callers that mine several levels should materialize
    this relation (localCheckpoint / a table): the predicate
    projection is by far the most expensive codegen in the miner, and
    per-level plans over the prepared arrays are trivial."""
    llits, lres = cfg.border_left_parts
    rlits, rres = cfg.border_right_parts

    def full_match(t, lits, res):
        p = F.lower(t).isin(*lits)
        if res is not None:
            p = p | t.rlike(res)
        return p

    toks = _gram_tokens(F.col("sentence"))
    return sents.select(
        toks.alias("toks"),
    ).select(
        "toks",
        F.transform("toks", lambda t: full_match(t, llits, lres)).alias("bl"),
        F.transform("toks", lambda t: full_match(t, rlits, rres)).alias("br"),
        F.transform("toks", lambda t: t.rlike(IGNORE_TOKEN_RE)).alias("ig"),
    )


def grams_from_prepared(prepared: DataFrame, n: int) -> DataFrame:
    """One row per accepted n-gram occurrence (gram) from a
    prepare_grams relation — pure array slicing over the precomputed
    predicate arrays; no regex work left in this plan."""
    entries = F.when(
        F.size(F.col("toks")) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("toks")) - n + 1),
            lambda i: F.struct(
                F.array_join(F.slice(F.col("toks"), i, n), " ").alias("gram"),
                (
                    F.element_at(F.col("bl"), i)
                    | F.element_at(F.col("br"), i + n - 1)
                    | F.exists(F.slice(F.col("ig"), i, n), lambda x: x)
                ).alias("bad"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<gram:string,bad:boolean>>"))
    return (
        prepared.select(F.explode(entries).alias("e"))
        .filter(~F.col("e.bad"))
        .select(F.col("e.gram").alias("gram"))
    )


def ngrams_of_sentences(sents: DataFrame, cfg: CrawlConfig, n: int) -> DataFrame:
    """One row per accepted n-gram occurrence: (gram)."""
    return grams_from_prepared(prepare_grams(sents, cfg), n)


def ngram_level(sents: DataFrame, cfg: CrawlConfig, n: int) -> DataFrame:
    """A7: (gram, cnt) — freq >= 3, reference total order, first 101."""
    return level_from_prepared(prepare_grams(sents, cfg), n)


def level_from_prepared(prepared: DataFrame, n: int) -> DataFrame:
    """A7 over a prepare_grams relation: one map-side-combined groupBy
    + TakeOrderedAndProject for the 101-row reference cap."""
    return (
        grams_from_prepared(prepared, n)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 3)
        .orderBy(F.desc("cnt"), F.desc("gram"))
        .limit(101)
    )


def ngrams_all_levels(
    docs: DataFrame, cfg: CrawlConfig, n_max: int = 4,
    text_col: str = "text", id_col: str = "doc_id",
    prepared: DataFrame | None = None,
) -> DataFrame:
    """W4: mine levels n_max..2, prune, return (n, gram, cnt).

    Pruning joins are broadcast nested-loop over <=101-row sides.
    ``prepared`` lets the caller supply an already-materialized
    prepare_grams relation (e.g. shared by several mining jobs — see
    ngram_q); by default it is derived from ``docs`` and checkpointed
    here, because every level below re-reads it and the sentence
    pipeline + border-predicate projection is the expensive prefix.
    """
    if prepared is None:
        sents = dedup_sentences(sentences_of(docs, text_col, id_col), cfg)
        # spread the (AQE-coalesced) post-dedup relation across cores
        # before the expensive predicate projection + level scans
        sents = sents.repartition(docs.sparkSession.sparkContext.defaultParallelism)
        prepared = prepare_grams(sents, cfg).localCheckpoint(eager=True)
    spark = docs.sparkSession
    # Per-level mining over the MATERIALIZED prepared relation: each
    # level is one scan of the (small, post-dedup) array relation + one
    # map-side-combined groupBy + TakeOrderedAndProject for the <=101
    # slice — no regex or stopword-InSet work left per level, so the
    # per-level codegen is tiny. Measured faster than fusing all levels
    # into one scan (the fused form builds a concat of every level's
    # gram array per row — a much wider projection — to save scans that
    # are cheap once the relation is materialized).
    levels = {
        n: spark.createDataFrame(
            [
                (r["gram"], r["cnt"])
                for r in level_from_prepared(prepared, n).collect()
            ],
            "gram string, cnt long",
        )
        for n in range(2, n_max + 1)
    }
    # Each level is <=101 rows (freq>=3, rank<=101), materialized as
    # local relations: the pruning joins below are broadcast NLJs over
    # those, leaving no cached blocks behind in a long-lived session.
    kept = []
    for n in range(n_max, 1, -1):
        df = levels[n]
        ignores = []
        if n < n_max:
            sup = F.broadcast(
                levels[n + 1].select(
                    F.col("gram").alias("sup_gram"), F.col("cnt").alias("sup_cnt")
                )
            )
            ignores.append(
                df.join(
                    sup,
                    F.col("sup_gram").contains(F.col("gram"))
                    & (F.col("sup_cnt") > F.floor(F.col("cnt") / 2)),
                    "left_semi",
                )
            )
        if n > 2:
            sub = F.broadcast(
                levels[n - 1].select(
                    F.col("gram").alias("sub_gram"), F.col("cnt").alias("sub_cnt")
                )
            )
            ignores.append(
                df.join(
                    sub,
                    F.col("gram").contains(F.col("sub_gram"))
                    & (F.col("sub_cnt") > 2 * F.col("cnt")),
                    "left_semi",
                )
            )
        if ignores:
            ignored = reduce(lambda a, b: a.unionByName(b), ignores).distinct()
            df = df.join(ignored.select("gram"), "gram", "left_anti")
        kept.append(df.select(F.lit(n).alias("n"), "gram", "cnt"))
    return reduce(lambda a, b: a.unionByName(b), kept)
