"""Text/NLP operators as Spark column expressions.

Reference semantics: tokenize crawler.go:528-533, analyze
crawler.go:672-687 (lowercase + stopword filter; stemming disabled in
the reference), stopWordsCount crawler.go:609-619, rankingByKeywords
crawler.go:547-581, splitParagraphs crawler.go:539-545, paragraph
scrubs crawler.go:1144-1189, signature build crawler.go:1241-1246.

Everything is built-in `pyspark.sql.functions` — Java regex + higher
order array functions — so no row leaves the JVM. Java regex matches Go
RE2 on the constructs used (ASCII \\W, Unicode \\p{L}/\\p{N}, (?i),
non-overlapping scans).

Higher-order functions (`transform`, `filter`, `aggregate`,
`array_sort` with a comparator) are NOT whole-stage codegen: Spark
evaluates their lambda once per element, interpreted. Two rules keep
that cost linear in the token count:

- a lambda reads only its own element, never another column. The
  optimizer inlines a projected column into the lambda bodies that
  read it (CollapseProject counts one reference) and then re-evaluates
  it on every lambda call;
- a per-row sort or other costly array expression sits in its own
  projected column that the consumer reads more than once outside any
  lambda, so it is computed once per row (see `term_counts`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from gocrawler_spark.config import CrawlConfig

TOKEN_SPLIT_RE = r"[^\p{L}\p{N}]+"


def tokens_of(text: Column) -> Column:
    """tokenize (crawler.go:528-533): split on non-letter/number runes,
    drop empties (Go FieldsFunc semantics)."""
    return F.filter(F.split(text, TOKEN_SPLIT_RE), lambda t: t != "")


def tokens_count(text: Column) -> Column:
    """tokensCount (crawler.go:535-537)."""
    return F.size(tokens_of(text))


def analyzed_tokens(text: Column, cfg: CrawlConfig) -> Column:
    """analyze (crawler.go:672-687): tokenize → lowercase → drop tokens
    fully matching a stopword alternative (numbers, 1-2 char tokens,
    stop/low-relevancy/special words — crawler.go:1420).

    The stop filter runs as the DECOMPOSED predicate
    (cfg.stop_token_parts): length/digit checks + an InSet probe for
    the literal words + a small residual regex — equivalent to the
    270+-way `stop_token_fullmatch` alternation but ~5x faster (the
    alternation costs O(alternatives) backtracking per token).

    ASCII fragmentation (crawler.go:651): stopwordFilter's separator
    doubling uses RE2's `\\W`, which is ASCII-only — a non-ASCII rune
    INSIDE a token is a separator THERE even though the outer
    tokenizer is Unicode (crawler.go:528). So 'café' fragments to
    'caf' (the 1-char tail dies in the length gate) before the stop
    deletion, and a fully non-Latin token vanishes. Mirrored here by
    splitting each lowercased token on `[^0-9a-z_]+` — a no-op for
    ASCII text (the whole test corpus), reference-exact beyond it."""
    lowered = F.transform(tokens_of(text), F.lower)
    lowered = F.filter(
        F.flatten(
            F.transform(lowered, lambda t: F.split(t, "[^0-9a-z_]+"))
        ),
        lambda t: t != "",
    )
    lits, residual = cfg.stop_token_parts

    def is_stop(t):
        p = (F.length(t) <= 2) | t.rlike("^[0-9]+$") | t.isin(*lits)
        if residual is not None:
            p = p | t.rlike(residual)
        return p

    return F.filter(lowered, lambda t: ~is_stop(t))


def paragraphs_of(content: Column) -> Column:
    """splitParagraphs (crawler.go:539-545): split on `[\\r\\n]+`.

    Keeps empty edge fragments exactly like Go regexp Split.
    """
    return F.split(content, r"[\r\n]+")


def stopwords_count(text: Column, cfg: CrawlConfig) -> Column:
    """stopWordsCount (crawler.go:609-619): non-overlapping scan of
    `(?i)\\W(stop)\\W` over ' '+text+' ' — consecutive stopwords shadow
    each other; regexp_extract_all reproduces the same scan."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return F.size(F.regexp_extract_all(padded, F.lit(cfg.regex_stopwords_count), F.lit(1)))


def distinct_keywords(text: Column, cfg: CrawlConfig) -> Column:
    """Distinct lowercased ranking-keyword matches with len >= 3
    (crawler.go:559-569), via the same non-overlapping scan."""
    hits = F.regexp_extract_all(text, F.lit(cfg.regex_ranking_keywords), F.lit(1))
    return F.array_distinct(
        F.transform(F.filter(hits, lambda k: F.length(k) >= 3), F.lower)
    )


def ranking_by_keywords(text: Column, cfg: CrawlConfig) -> Column:
    """rankingByKeywords (crawler.go:547-581):
    100 * |distinct keywords| / sqrt(1 + numTokens)."""
    return (
        F.lit(100.0)
        * F.size(distinct_keywords(text, cfg))
        / F.sqrt(F.lit(1.0) + tokens_count(text))
    )


def scrub_paragraph(p: Column) -> Column:
    """The reference's per-paragraph scrubs (crawler.go:1151-1165):
    drop '/'-bearing tokens, inline <p|img|div ...> tags, words >= 80
    chars. Order preserved (each output feeds the next)."""
    p1 = F.regexp_replace(p, r"(?i)\W([^ \t]*/[^ \t]*)\W", " ")
    p2 = F.regexp_replace(p1, r"(?i)(<(p|img|div)[^>]*>)", " ")
    return F.regexp_replace(p2, r"(?i)\W([^ \t\n]{80,})\W", " ")


HTML_ATTR_DROP_RE = (
    r'(?i)\W(div|img|nofollow|javascript:|'
    r'(alt|class|style|width|height|onclick)="[^"]*")\W'
)


def signature_expr(token_counts: Column, k: int = 7) -> Column:
    """Doc/sentence signature (crawler.go:1241-1246): Go `%v` rendering
    of the top-k tokens by (count desc, token desc).

    `token_counts` is an array<struct<count,token:string>> with distinct
    tokens; sorting the struct array descending gives (count desc, token
    desc) — the exact rSortFreq total order (crawler.go:705-718).
    `sort_array` compares natively; `array_sort` would call an
    interpreted comparator lambda per comparison.
    """
    ordered = F.sort_array(token_counts, asc=False)
    topk = F.slice(ordered, 1, k)
    return F.concat(
        F.lit("["), F.array_join(F.transform(topk, lambda s: s["token"]), " "), F.lit("]")
    )


def term_counts(sorted_toks: Column) -> Column:
    """Per-row term frequency of a SORTED token array, in linear time:
    array<struct<count:int,token:string>>, one entry per distinct token,
    token-ascending.

    Equal tokens are adjacent after the sort, so each run start is a
    position whose token differs from its predecessor's; a token's
    count is the distance to the next run start. A sentinel entry at
    position n+1 (token null) closes the last run. Every lambda reads
    only its own element (module docstring), so the cost is a few
    interpreted calls per token instead of one scan of the whole array
    per distinct token.

    `sorted_toks` must be a projected column holding `sort_array(...)`
    (e.g. `withColumn("_toks", F.sort_array(toks))`): it is read three
    times here, which keeps the optimizer from inlining the sort."""
    n = F.size(sorted_toks)
    starts = F.filter(
        F.arrays_zip(
            sorted_toks.alias("token"),
            F.concat(F.array(F.lit(None).cast("string")), sorted_toks).alias("prev"),
            F.sequence(F.lit(1), n + 1).alias("pos"),
        ),
        lambda e: ~e["token"].eqNullSafe(e["prev"]),
    )
    runs = F.transform(
        F.arrays_zip(starts.alias("run"), F.slice(starts, 2, n + 1).alias("next")),
        lambda e: F.struct(
            (e["next"]["pos"] - e["run"]["pos"]).alias("count"),
            e["run"]["token"].alias("token"),
        ),
    )
    # the sentinel's own entry has no next run: drop it
    return F.filter(runs, lambda e: e["token"].isNotNull())
