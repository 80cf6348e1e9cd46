r"""Crawler-semantics queries over the driver testdata (documents
table) — each is an operator from SURVEY.md §2 re-expressed over
`documents(doc_id, text, lang, source, n_chars)` with a DuckDB oracle.

Shared parity machinery: tokenization = `[^\p{L}\p{N}]+` split of
lower(text) (reference tokenize crawler.go:528-533 + lowercaseFilter),
stopword filter = full-token match of the reference's assembled
alternation (crawler.go:1420) — identical regex strings on both sides.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gocrawler_spark.config import REGEX_URL_VALID, covid_profile
from gocrawler_spark.functions import text as TX
from gocrawler_spark.functions import urls as U
from gocrawler_spark.operators import corpus as CO
from gocrawler_spark.queries import load, memo_result, register

# documents-table vocabulary keywords (the covid list never matches the
# synthetic docs; same scoring semantics, corpus-appropriate keywords)
DOC_KEYWORDS = (
    r"(?i)\W(spark|query|join|window|stream|hash|filter|sort|batch"
    r"|merge|scan|shuffle|partition)\W"
)
CFG = covid_profile(regex_ranking_keywords=DOC_KEYWORDS)

# ---- shared SQL fragments -------------------------------------------------

TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),"
    " x -> x <> '')"
)
STOP_RX = CFG.stop_token_fullmatch  # no quotes inside — safe to inline

# analyzed tokens = unicode tokenize -> ASCII-\W fragmentation (the
# reference's stopwordFilter separator pass, crawler.go:651) -> stop
# deletion. The fragmentation is a no-op on this ASCII corpus; stated
# anyway so the oracle restates the full analyzer semantics.
AN_TOKS_CTE = f"""
an_toks AS (
  SELECT doc_id, unnest(list_filter(
    flatten(list_transform({TOKS_SQL},
      t -> string_split_regex(t, '[^0-9a-z_]+'))),
    x -> x <> '')) AS token
  FROM documents WHERE lang = 'en'
),
an_filtered AS (
  SELECT doc_id, token FROM an_toks
  WHERE NOT regexp_matches(token, '{STOP_RX}')
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents")


@memo_result
def _en_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency over en docs (token, count) — the shared,
    vocab-bounded relation behind corpus_freq_top100 and
    background_subtract; materialized once per session (memo_result)."""
    docs = _docs(spark, sf_dir).filter(F.col("lang") == "en")
    return CO.token_freq(docs, CFG, text_col="text")


def _an_toks(docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("lang") == "en").withColumn(
        "_toks", TX.analyzed_tokens(F.col("text"), CFG)
    )


# ---------------------------------------------------------------------------
@register(
    "corpus_freq_top100",
    f"""
WITH {AN_TOKS_CTE}
SELECT token, count(*) AS cnt
FROM an_filtered
GROUP BY token
ORDER BY cnt DESC, token DESC
LIMIT 100
""",
)
def corpus_freq_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+W1+W2: corpus term frequency, reference total order, top-100
    (crawler.go:1282,1289-1293). One shuffle (map-side combine), then
    TakeOrderedAndProject."""
    freq = _en_token_freq(spark, sf_dir)
    return CO.top_k(freq.withColumnRenamed("count", "cnt").select("token", "cnt"), 100)


# ---------------------------------------------------------------------------
@register(
    "doc_token_stats",
    f"""
SELECT doc_id,
       len({TOKS_SQL}) AS n_tokens,
       len(list_filter({TOKS_SQL},
           t -> NOT regexp_matches(t, '{STOP_RX}'))) AS n_analyzed
FROM documents WHERE lang = 'en'
""",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2/T7: per-doc token counts before/after the analyzer chain."""
    docs = _docs(spark, sf_dir).filter(F.col("lang") == "en")
    return docs.select(
        "doc_id",
        TX.tokens_count(F.lower(F.col("text"))).alias("n_tokens"),
        F.size(TX.analyzed_tokens(F.col("text"), CFG)).alias("n_analyzed"),
    )


# ---------------------------------------------------------------------------
_SIG_SQL = f"""
WITH {AN_TOKS_CTE},
tf AS (
  SELECT doc_id, token,
         CASE WHEN token = 'the' THEN 0 ELSE count(*) END AS cnt
  FROM an_filtered GROUP BY doc_id, token
),
ranked AS (
  SELECT doc_id, token, cnt,
         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, token DESC) AS rn
  FROM tf
)
SELECT doc_id,
       '[' || string_agg(token, ' ' ORDER BY rn) || ']' AS signature
FROM ranked WHERE rn <= 7 GROUP BY doc_id
"""


@memo_result
def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 doc signatures (doc_id, signature) — one row per en doc;
    shared by doc_signature, signature_dedup, and the cluster star
    edges; materialized once per session (memo_result)."""
    docs = (
        _an_toks(_docs(spark, sf_dir))
        .filter(F.size("_toks") > 0)
        .withColumn("_toks", F.sort_array("_toks"))
    )
    tc = F.transform(
        TX.term_counts(F.col("_toks")),
        lambda e: F.struct(
            F.when(e["token"] == "the", F.lit(0))
            .otherwise(e["count"])
            .cast("long")
            .alias("count"),
            e["token"].alias("token"),
        ),
    )
    return docs.select("doc_id", TX.signature_expr(tc, k=7).alias("signature"))


@register("doc_signature", _SIG_SQL)
def doc_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+P5 signature build: top-7 tokens by (count desc, token desc)
    with 'the' zeroed (crawler.go:1227-1246). Row-local array
    aggregation — no shuffle at all."""
    return _signatures(spark, sf_dir)


# ---------------------------------------------------------------------------
@register(
    "signature_dedup",
    f"""
WITH sigs AS ({_SIG_SQL})
SELECT signature,
       min(doc_id) AS first_doc,
       count(*) AS n_docs
FROM sigs GROUP BY signature
""",
)
def signature_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 near-duplicate grouping: first doc with a signature wins
    (crawler.go:1248-1255); one shuffle on signature."""
    return (
        _signatures(spark, sf_dir)
        .groupBy("signature")
        .agg(F.min("doc_id").alias("first_doc"), F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
@register(
    "keyword_ranking",
    f"""
SELECT doc_id,
       len(list_distinct(list_transform(
           list_filter(regexp_extract_all(text, '{DOC_KEYWORDS}', 1),
                       k -> length(k) >= 3),
           k -> lower(k)))) AS n_keywords,
       CAST(round(100.0 * len(list_distinct(list_transform(
           list_filter(regexp_extract_all(text, '{DOC_KEYWORDS}', 1),
                       k -> length(k) >= 3),
           k -> lower(k)))) / sqrt(1 + len({TOKS_SQL})) * 1e6) AS BIGINT)
         AS score_micro
FROM documents WHERE lang = 'en'
""",
)
def keyword_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11 rankingByKeywords (crawler.go:547-581): distinct keyword
    matches scaled by 100/sqrt(1+tokens), integerized to micro."""
    docs = _docs(spark, sf_dir).filter(F.col("lang") == "en")
    kws = TX.distinct_keywords(F.col("text"), CFG)
    score = TX.ranking_by_keywords(F.col("text"), CFG)
    return docs.select(
        "doc_id",
        F.size(kws).alias("n_keywords"),
        F.round(score * 1e6).cast("bigint").alias("score_micro"),
    )


# ---------------------------------------------------------------------------
_STOP_COUNT_SQL = (
    f"len(regexp_extract_all(' ' || text || ' ', '{CFG.regex_stopwords_count}', 1))"
)


@register(
    "stopword_ratio_band",
    f"""
SELECT doc_id,
       {_STOP_COUNT_SQL} AS n_stop,
       len({TOKS_SQL}) AS n_tok,
       CAST(round(CAST({_STOP_COUNT_SQL} AS DOUBLE) / (len({TOKS_SQL}) + 1) * 1e6)
            AS BIGINT) AS ratio_micro,
       CASE
         WHEN CAST({_STOP_COUNT_SQL} AS DOUBLE) / (len({TOKS_SQL}) + 1) < 0.1
           THEN 'nav'
         WHEN CAST({_STOP_COUNT_SQL} AS DOUBLE) / (len({TOKS_SQL}) + 1) <= 0.38
           THEN 'prose'
         ELSE 'dense'
       END AS band
FROM documents
""",
)
def stopword_ratio_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3 stopword-ratio classification (crawler.go:1181-1211) with
    the reference's non-overlapping padded scan (crawler.go:609-619)."""
    docs = _docs(spark, sf_dir)
    n_stop = TX.stopwords_count(F.col("text"), CFG)
    n_tok = TX.tokens_count(F.lower(F.col("text")))
    ratio = n_stop.cast("double") / (n_tok + F.lit(1))
    return docs.select(
        "doc_id",
        n_stop.alias("n_stop"),
        n_tok.alias("n_tok"),
        F.round(ratio * 1e6).cast("bigint").alias("ratio_micro"),
        F.when(ratio < 0.1, "nav")
        .when(ratio <= 0.38, "prose")
        .otherwise("dense")
        .alias("band"),
    )


# ---------------------------------------------------------------------------
@register(
    "background_subtract",
    f"""
WITH {AN_TOKS_CTE},
corpus AS (
  SELECT token, count(*) AS cnt FROM an_filtered GROUP BY token
),
baseline AS (
  SELECT token, count(*) AS num_total
  FROM (
    SELECT doc_id, unnest({TOKS_SQL}) AS token
    FROM documents WHERE lang <> 'en'
  ) WHERE NOT regexp_matches(token, '{STOP_RX}')
  GROUP BY token
),
anchor AS (
  SELECT c.cnt AS obs,
         coalesce(b.num_total, 0) AS base
  FROM corpus c LEFT JOIN baseline b USING (token)
  ORDER BY c.cnt DESC, c.token DESC LIMIT 1
)
SELECT c.token,
       c.cnt - CAST(floor(
           20.0 * (1.0 + coalesce(b.num_total, 0))
           / ((1.0 + (SELECT base FROM anchor)) / (SELECT obs FROM anchor))
       ) AS BIGINT) AS cnt
FROM corpus c LEFT JOIN baseline b USING (token)
""",
)
def background_subtract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 background subtraction (crawler.go:1303-1341):
    adj = observed - trunc(contrast*(1+baseline)/scale), scale anchored
    on the corpus's top token (the reference hard-requires 'the' — the
    testdata corpus is not natural English, so the anchor is the
    computed top-1; formula identical). Baseline = non-English docs.
    Broadcast join + scalar anchor."""
    docs = _docs(spark, sf_dir)
    corpus = _en_token_freq(spark, sf_dir).withColumnRenamed("count", "cnt")
    baseline = CO.token_freq(docs.filter(F.col("lang") != "en"), CFG, "text").withColumnRenamed(
        "count", "num_total"
    )
    top = corpus.join(baseline, "token", "left").orderBy(
        F.desc("cnt"), F.desc("token")
    ).first()
    scale = (1.0 + (top["num_total"] or 0)) / float(top["cnt"])
    j = corpus.join(F.broadcast(baseline), "token", "left")
    adj = F.col("cnt") - F.floor(
        F.lit(20.0)
        * (F.lit(1.0) + F.coalesce(F.col("num_total"), F.lit(0)).cast("double"))
        / F.lit(scale)
    )
    return j.select("token", adj.alias("cnt"))


# ---------------------------------------------------------------------------
# S9/A5 from FILES: the reference boots its English baseline by parsing
# two "%d %s %s %d" corpus files and merging them on the "the" anchor
# (corpusfreqlib.go:50-115). The fixtures ship in-repo in the same line
# format; duplicates are constructed so the first occurrence carries the
# largest count, making the reference's first-wins dedup expressible as
# MAX() for the SQL oracle (true order-dependent first-wins is covered
# by tests/test_corpus_files.py).
from gocrawler_spark.fixtures import fixture_path as _fx

_CLASSICAL = _fx("bnc_classical.num")
_CONTEMP = _fx("bnc_contemporary.num")

def _first_wins_sql(path: str) -> str:
    """The reference's per-file dedup (corpusfreqlib.go:88-91) restated
    for DuckDB, matching operators/corpus.dedup_first_wins exactly: the
    FIRST nonzero-count line per token wins; if every line for the
    token is zero-count, the LAST line stands. line_no is derived from
    the DATA (read_text + indexed list_transform over the split
    lines), not from row_number() OVER () — an empty OVER () only
    follows file order while DuckDB's preserve_insertion_order setting
    is on, and memory-pressure configs turn it off (ADVICE r4). The
    "%d %s %s %d" line format is parsed with split_part (field 1 =
    num_total, field 2 = token)."""
    return f"""
  SELECT token,
         COALESCE(
           arg_min(num_total, line_no) FILTER (WHERE num_total <> 0),
           arg_max(num_total, line_no)
         ) AS num_total
  FROM (
    SELECT CAST(split_part(u.line, ' ', 1) AS BIGINT) AS num_total,
           split_part(u.line, ' ', 2) AS token,
           u.line_no
    FROM (
      SELECT unnest(
               list_transform(
                 string_split(content, chr(10)),
                 (x, i) -> struct_pack(line := x, line_no := i)
               )
             ) AS u
      FROM read_text('{path}')
    )
    WHERE trim(u.line) <> ''
  )
  GROUP BY token"""


@register(
    "baseline_merge",
    f"""
WITH eng AS ({_first_wins_sql(_CLASSICAL)}
),
cont AS ({_first_wins_sql(_CONTEMP)}
),
factor AS (
  SELECT (SELECT CAST(num_total AS DOUBLE) FROM eng WHERE token = 'the')
       / (SELECT CAST(num_total AS DOUBLE) FROM cont WHERE token = 'the') AS f
)
SELECT COALESCE(e.token, c.token) AS token,
       CAST(floor(CAST(COALESCE(e.num_total, 0) AS DOUBLE)
                  + (SELECT f FROM factor) * COALESCE(c.num_total, 0))
            AS BIGINT) AS num_total
FROM eng e FULL OUTER JOIN cont c ON e.token = c.token
""",
)
def baseline_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-driven A5: load both corpus files (first-wins dedup via
    line_no) and merge with the int-truncating "the"-ratio scaling
    (corpusfreqlib.go:103-112)."""
    c = CO.load_corpus_file(spark, _CLASSICAL)
    m = CO.load_corpus_file(spark, _CONTEMP)
    return CO.merge_baselines(c, m)


# ---------------------------------------------------------------------------
# The ENGINE LOOP under the oracle gate: run the wave engine for 5 waves
# over the deterministic synthetic web and emit the frontier state. The
# oracle side is a committed fixture produced by the Python
# reference-semantics oracle (oracle/pyoracle.py, the line-cited
# transliteration of crawler.go's loop) — regenerate with
# ReferenceOracle(test_profile(), fetch_page).run(max_iters=5).
_FRONTIER_W5 = _fx("crawl_frontier_w5.csv")


@register(
    "crawl_frontier_5waves",
    f"""
SELECT url, domain, CAST(count AS BIGINT) AS count,
       CAST(status AS INT) AS status, CAST(seq AS BIGINT) AS seq
FROM read_csv('{_FRONTIER_W5}', header=true)
""",
)
def crawl_frontier_5waves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five exact-mode waves of CrawlEngine (wave_size=1): frontier
    (url, domain, count, status, seq) must equal the reference
    semantics byte-for-byte — this gates the engine loop itself
    (selection, fetch, politeness, merge, status transitions), not just
    its operators."""
    from gocrawler_spark.config import test_profile
    from gocrawler_spark.plans.crawl import CrawlEngine

    st = CrawlEngine(spark, test_profile(wave_size=1)).run(max_steps=5)
    return st.frontier.select(
        "url",
        "domain",
        F.col("count").cast("long").alias("count"),
        F.col("status").cast("int").alias("status"),
        F.col("seq").cast("long").alias("seq"),
    )


# ---------------------------------------------------------------------------
# The POLITENESS path under the oracle gate (north_rule: "per-host
# politeness tokens + robots.txt caching"): same engine loop with the
# robots cache + gate enabled. The fixture comes from PoliteOracle
# (oracle/pyoracle.py) — an independent plain-Python twin of the
# refusal semantics; 8 waves so the synthetic robots rules actually
# refuse URLs inside the window (two /story-* fetches are disallowed
# and must surface as status 3 with no link expansion and no
# transport-failure count). Regenerate with
# scripts/regen_crawl_fixtures.py.
_POLITE_W8 = _fx("crawl_polite_w8.csv")


@register(
    "crawl_polite_8waves",
    f"""
SELECT url, domain, CAST(count AS BIGINT) AS count,
       CAST(status AS INT) AS status, CAST(seq AS BIGINT) AS seq
FROM read_csv('{_POLITE_W8}', header=true)
""",
)
def crawl_polite_8waves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight exact-mode waves with use_robots=True: the frontier must
    equal the PoliteOracle's pool byte-for-byte — this gates the
    robots-cache fetch-once behavior, the disallow-prefix refusal path
    (status 3, no cache hit, no failure count, no expansion), and the
    selection-time domain-counter quirk interacting with refusals."""
    from gocrawler_spark.config import test_profile
    from gocrawler_spark.plans.crawl import CrawlEngine

    eng = CrawlEngine(spark, test_profile(wave_size=1), use_robots=True)
    st = eng.run(max_steps=8)
    return st.frontier.select(
        "url",
        "domain",
        F.col("count").cast("long").alias("count"),
        F.col("status").cast("int").alias("status"),
        F.col("seq").cast("long").alias("seq"),
    )


# ---------------------------------------------------------------------------
# The SCALE-MODE engine loop under the oracle gate (round-2 verdict
# "Next round" #2): 8 waves at wave_size=8 / per_host_budget=2 — the
# shape a 100-TB crawl actually runs (big-wave merge/status/counter
# timing at the epoch barrier). The oracle fixtures come from
# WaveOracle (oracle/pyoracle.py), the independent plain-Python twin
# of the documented epoch semantics (SURVEY.md §7.3 relaxation).
# Regenerate with scripts/regen_crawl_fixtures.py.
_SCALE_W8 = _fx("crawl_scale_w8.csv")
_SCALE_VISITED_W8 = _fx("crawl_scale_visited_w8.csv")


_SCALE_STATE: dict = {}


def _scale_state(spark: SparkSession):
    """One 8×8 scale-mode engine run per session; both scale-gate
    queries read its pinned state (frontier + crawl_log) — the same
    materialize-once pattern as memo_result, keyed on applicationId.

    The run also commits ONE wave-8 checkpoint to a session-lifetime
    temp dir (`st.scale_ckpt_dir`): the recrawl gate branches from it
    via CrawlEngine.resume instead of recomputing the same eight waves
    (round-4 verdict "Next round" #4 — the two gates repeated the run
    back to back, 55% of the bench suite). checkpoint_every is set
    beyond the run so the waves themselves pay zero persistence
    actions; the single post-run checkpoint flushes every delta family
    once."""
    key = spark.sparkContext.applicationId
    st = _SCALE_STATE.get(key)
    if st is None:
        import atexit
        import shutil
        import tempfile

        from gocrawler_spark.config import test_profile
        from gocrawler_spark.plans.crawl import CrawlEngine

        ckpt = tempfile.mkdtemp(prefix="scale_gate_ckpt_")
        atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
        eng = CrawlEngine(
            spark,
            test_profile(wave_size=8, per_host_budget=2),
            checkpoint_dir=ckpt,
            checkpoint_every=10**9,
        )
        st = eng.run(max_steps=8)
        eng.checkpoint()  # one commit: the recrawl gate's branch point
        # detach the gate outputs (frontier, visited log, corpus freqs
        # for the golden run) as self-contained localCheckpoints, then
        # RELEASE every engine pin — without this, each oracle-sweep
        # session keeps the whole run's wave pins alive forever
        st.frontier = st.frontier.localCheckpoint(eager=True)
        st.crawl_log = st.crawl_log.localCheckpoint(eager=True)
        st.corpus_freq = st.corpus_freq.localCheckpoint(eager=True)
        eng.pins.release_all()
        st.scale_ckpt_dir = ckpt
        _SCALE_STATE.clear()  # at most one pinned run per session
        _SCALE_STATE[key] = st
    return st


@register(
    "crawl_scale_wave8",
    f"""
SELECT url, domain, CAST(count AS BIGINT) AS count,
       CAST(status AS INT) AS status, CAST(seq AS BIGINT) AS seq
FROM read_csv('{_SCALE_W8}', header=true)
""",
)
def crawl_scale_wave8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight SCALE-MODE waves of CrawlEngine (wave_size=8,
    per_host_budget=2): the final frontier — including merge-timing-
    sensitive counts and dense insertion seqs — must equal the
    epoch-semantics WaveOracle. This gates exactly the code path a
    big-wave deployment runs: snapshot selection with the per-host
    window, batched counter/failure deltas, wave-barrier signature
    first-wins, and the decomposed seq assignment over a multi-parent
    candidate set (operators/frontier.py:_assign_seq)."""
    st = _scale_state(spark)
    return st.frontier.select(
        "url",
        "domain",
        F.col("count").cast("long").alias("count"),
        F.col("status").cast("int").alias("status"),
        F.col("seq").cast("long").alias("seq"),
    )


@register(
    "crawl_scale_visited",
    f"""
SELECT CAST(wave AS BIGINT) AS wave, url,
       CAST(status_after AS INT) AS status_after
FROM read_csv('{_SCALE_VISITED_W8}', header=true)
""",
)
def crawl_scale_visited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §7.3's scale-mode contract stated directly: the
    per-epoch VISITED-URL sets (wave, url, status_after) of the same
    8×8 scale run must equal the WaveOracle's — the driver's
    order-insensitive hash over this relation IS per-epoch
    set-equality."""
    st = _scale_state(spark)
    return st.crawl_log.select(
        F.col("wave").cast("long").alias("wave"),
        "url",
        F.col("status_after").cast("int").alias("status_after"),
    )


# ---------------------------------------------------------------------------
# THE GOLDEN RUN (round-2 verdict "Next round" #3): the reference's
# only published acceptance artifact is the periodic "Corpus
# frequencies w/o Eng." top-100 (README.md:45-51, the checkpoint block
# crawler.go:1285-1345). This query assembles the whole chain
# end-to-end: crawl (scale engine) → accumulated corpus frequencies →
# FILE-driven baseline merge (S9/A5, the two shipped .num corpora) →
# "the"-anchored background subtraction (A6) → top-100 in rSortFreq
# order. The DuckDB oracle restates every stage from the WaveOracle's
# pinned corpus CSV + the same .num files — only the crawl itself is
# fixture-pinned; merge/subtract/sort are recomputed independently.
_SCALE_CORPUS_W8 = _fx("crawl_scale_corpus_w8.csv")


@register(
    "golden_run_noeng_top100",
    f"""
WITH corpus AS (
  SELECT token, CAST(count AS BIGINT) AS count
  FROM read_csv('{_SCALE_CORPUS_W8}', header=true)
),
eng AS ({_first_wins_sql(_CLASSICAL)}
),
cont AS ({_first_wins_sql(_CONTEMP)}
),
factor AS (
  SELECT (SELECT CAST(num_total AS DOUBLE) FROM eng WHERE token = 'the')
       / (SELECT CAST(num_total AS DOUBLE) FROM cont WHERE token = 'the') AS f
),
base AS (
  SELECT COALESCE(e.token, c.token) AS token,
         CAST(floor(CAST(COALESCE(e.num_total, 0) AS DOUBLE)
                    + (SELECT f FROM factor) * COALESCE(c.num_total, 0))
              AS BIGINT) AS num_total
  FROM eng e FULL OUTER JOIN cont c ON e.token = c.token
),
scale AS (
  SELECT (1.0 + COALESCE((SELECT num_total FROM base WHERE token = 'the'), 0))
       / (SELECT CAST(count AS DOUBLE) FROM corpus WHERE token = 'the') AS s
)
SELECT c.token,
       c.count - CAST(floor(
           20.0 * (1.0 + COALESCE(b.num_total, 0))
           / (SELECT s FROM scale)
       ) AS BIGINT) AS cnt
FROM corpus c LEFT JOIN base b USING (token)
ORDER BY cnt DESC, token DESC LIMIT 100
""",
)
def golden_run_noeng_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference demo loop reproduced end-to-end from files: the
    scale crawl's corpus frequencies, background-subtracted against
    the file-driven merged English baseline, top-100 (crawler.go:
    1303-1341; README.md "Corpus frequencies w/o Eng."). The anchor
    check (corpus top token must be 'the') fires for real — the
    synthetic corpus, like natural English, keeps 'the' on top
    because the analyzer's stopword list excludes it."""
    st = _scale_state(spark)
    c = CO.load_corpus_file(spark, _CLASSICAL)
    m = CO.load_corpus_file(spark, _CONTEMP)
    baseline = CO.merge_baselines(c, m)
    noeng = CO.background_subtract(st.corpus_freq, baseline)
    return CO.top_k(noeng, 100).select(
        "token", F.col("count").alias("cnt")
    )


# ---------------------------------------------------------------------------
# RECRAWL gate (round-3 verdict "Next round" #2): the newest engine
# surface — cuckoo-backed retirement with checkpoint tombstones
# (plans/crawl.py retire/retire_stalest) — under the driver oracle the
# same way crawl_scale_wave8 gates scale mode. Chain: fresh 8×8 scale
# run → retire the 2 stalest pages → CHECKPOINT (commits the tombstone
# segments) → RESUME from disk → one more wave. The oracle fixture
# comes from the extended WaveOracle's retire_stalest + step_wave
# (regenerate with scripts/regen_crawl_fixtures.py); ok_fetches pins
# "the retired URL is re-fetched exactly ONCE more", and rows for the
# retired-but-outprioritized URL pin retirement × selection-priority
# interaction. Routing the final wave through resume() makes the gate
# fail if tombstones don't survive the store round trip.
_RECRAWL_W9 = _fx("crawl_recrawl_w9.csv")

_RECRAWL_STATE: dict = {}


def _recrawl_frontier(spark: SparkSession) -> DataFrame:
    key = spark.sparkContext.applicationId
    df = _RECRAWL_STATE.get(key)
    if df is None:
        import shutil
        import tempfile

        from gocrawler_spark.config import test_profile
        from gocrawler_spark.plans.crawl import CrawlEngine

        cfg = test_profile(wave_size=8, per_host_budget=2)
        # BRANCH from the scale gate's wave-8 checkpoint instead of
        # recomputing the same eight waves (round-4 verdict #4): the
        # chain becomes resume → retire_stalest(2) → checkpoint →
        # resume → wave 9. Exact-resume is itself gated
        # (tests/test_resume.py), so the branched chain verifies the
        # SAME retire/tombstone/recrawl surface against the unchanged
        # WaveOracle fixture; the cuckoo the fixture chain built
        # per-wave is reconstructed exactly from the restored page
        # cache (CrawlEngine.resume's snapshot-predates-cuckoo path —
        # same key set by definition). The dir is COPIED first so the
        # shared scale checkpoint stays a pristine wave-8 snapshot.
        src = _scale_state(spark).scale_ckpt_dir
        ckpt = tempfile.mkdtemp(prefix="recrawl_gate_")
        try:
            shutil.rmtree(ckpt)
            shutil.copytree(src, ckpt)
            eng = CrawlEngine.resume(spark, cfg, ckpt, use_cuckoo=True)
            eng.retire_stalest(2)
            eng.checkpoint()  # tombstones + reset frontier hit disk
            eng.pins.release_all()
            eng2 = CrawlEngine.resume(spark, cfg, ckpt, use_cuckoo=True)
            if not eng2.step():  # the recrawl wave (wave 9)
                raise RuntimeError("recrawl wave selected nothing")
            st = eng2.state
            ok = (
                st.crawl_log.filter(F.col("status_after") == 2)
                .groupBy("url")
                .agg(F.count(F.lit(1)).alias("n_ok"))
            )
            df = (
                st.frontier.join(ok, "url", "left")
                .select(
                    "url",
                    "domain",
                    F.col("count").cast("long").alias("count"),
                    F.col("status").cast("int").alias("status"),
                    F.col("seq").cast("long").alias("seq"),
                    F.coalesce(F.col("n_ok"), F.lit(0))
                    .cast("long")
                    .alias("ok_fetches"),
                )
                .localCheckpoint(eager=True)
            )
            eng2.pins.release_all()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        _RECRAWL_STATE.clear()  # at most one pinned run per session
        _RECRAWL_STATE[key] = df
    return df


@register(
    "crawl_recrawl_wave",
    f"""
SELECT url, domain, CAST(count AS BIGINT) AS count,
       CAST(status AS INT) AS status, CAST(seq AS BIGINT) AS seq,
       CAST(ok_fetches AS BIGINT) AS ok_fetches
FROM read_csv('{_RECRAWL_W9}', header=true)
""",
)
def crawl_recrawl_wave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retire → checkpoint → resume → recrawl under the oracle gate:
    the final frontier after 8 scale waves + retire_stalest(2) + one
    resumed wave — counts/seqs preserved through retirement, statuses
    exact, and per-URL OK-fetch totals proving the refetched-exactly-
    once property — must equal the extended WaveOracle's."""
    return _recrawl_frontier(spark)


# ---------------------------------------------------------------------------
@register(
    "bigrams_top100",
    f"""
WITH toklists AS (
  SELECT doc_id, {TOKS_SQL} AS L FROM documents WHERE lang = 'en'
),
pos AS (
  SELECT doc_id, L, unnest(range(1, len(L))) AS i FROM toklists WHERE len(L) > 1
),
grams AS (
  SELECT L[i] || ' ' || L[i+1] AS bigram FROM pos
)
SELECT bigram, count(*) AS cnt
FROM grams GROUP BY bigram
HAVING count(*) >= 3
ORDER BY cnt DESC, bigram DESC
LIMIT 100
""",
)
def bigrams_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/A7: sliding-window bigrams with the reference's rank<=100 /
    freq>=3 bound (crawler.go:919-938). Array-native n-gram expansion
    (no UDF), one shuffle on the gram."""
    docs = _docs(spark, sf_dir).filter(F.col("lang") == "en")
    L = TX.tokens_of(F.lower(F.col("text")))
    grams = F.when(
        F.size(L) > 1,
        F.transform(
            F.sequence(F.lit(1), F.size(L) - 1),
            lambda i: F.concat(
                F.element_at(L, i), F.lit(" "), F.element_at(L, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 3)
        .orderBy(F.desc("cnt"), F.desc("bigram"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
_URL_SYNTH_SQL = """
CASE doc_id % 5
  WHEN 0 THEN 'https://site' || (doc_id % 20) || '.example/topic-' || doc_id
  WHEN 1 THEN 'https://en.wikipedia.org/wiki/page-' || doc_id
  WHEN 2 THEN 'https://site' || (doc_id % 20) || '.example/page?id=' || doc_id
  WHEN 3 THEN 'http://ab.io/a-' || doc_id
  ELSE 'https://files' || (doc_id % 7) || '.example/doc-' || doc_id || '.pdf'
END
"""


@register(
    "url_validate",
    f"""
WITH u AS (SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents)
SELECT doc_id, url,
       (length(url) BETWEEN 13 AND 256)
         AND regexp_matches(url, '{REGEX_URL_VALID}') AS valid,
       regexp_matches(regexp_replace(regexp_extract(url, '^https?://([^/]+)', 1),
                                     '^www\\.', ''),
                      '{CFG.regex_banned_domains}')
         OR regexp_matches(url, '{CFG.regex_link_banned_tokens}') AS banned
FROM u
""",
)
def url_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3: the reference's URL validator + ban filters
    (crawler.go:319-382) over a synthesized URL column — pure scan-side
    predicates (no shuffle, codegen regex)."""
    docs = _docs(spark, sf_dir)
    url = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("https://site"), (F.col("doc_id") % 20).cast("string"),
                F.lit(".example/topic-"), F.col("doc_id").cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit("https://en.wikipedia.org/wiki/page-"),
                     F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(
                F.lit("https://site"), (F.col("doc_id") % 20).cast("string"),
                F.lit(".example/page?id="), F.col("doc_id").cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("http://ab.io/a-"), F.col("doc_id").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("https://files"), (F.col("doc_id") % 7).cast("string"),
                F.lit(".example/doc-"), F.col("doc_id").cast("string"),
                F.lit(".pdf"),
            )
        )
    )
    df = docs.select("doc_id", url.alias("url"))
    return df.select(
        "doc_id",
        "url",
        U.link_seems_ok(F.col("url"), CFG, avoid_custom_check=True).alias("valid"),
        U.is_banned(F.col("url"), U.domain_of(F.col("url")), CFG).alias("banned"),
    )


# ---------------------------------------------------------------------------
@register(
    "frontier_priority_topk",
    """
WITH fr AS (
  SELECT 'site' || (doc_id % 20) || '.example' AS host,
         doc_id AS seq,
         (doc_id * 7) % 13 + 1 AS cnt,
         doc_id % 5 AS fetches
  FROM documents
),
scored AS (
  SELECT host, seq, cnt,
         CAST(cnt AS DOUBLE) * cnt / (fetches + 1.0) AS priority
  FROM fr
),
ranked AS (
  SELECT host, seq,
         CAST(round(priority * 1e6) AS BIGINT) AS priority_micro,
         row_number() OVER (PARTITION BY host
                            ORDER BY priority DESC, seq ASC) AS rnk
  FROM scored
)
SELECT host, seq, priority_micro, rnk FROM ranked WHERE rnk <= 3
""",
)
def frontier_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/F8: priority = count²/(fetches+1) + deterministic top-k per
    host window (priority desc, seq asc — the reference's
    insertion-order tiebreak, crawler.go:384-423)."""
    docs = _docs(spark, sf_dir)
    fr = docs.select(
        F.concat(F.lit("site"), (F.col("doc_id") % 20).cast("string"),
                 F.lit(".example")).alias("host"),
        F.col("doc_id").alias("seq"),
        ((F.col("doc_id") * 7) % 13 + 1).alias("cnt"),
        (F.col("doc_id") % 5).alias("fetches"),
    )
    scored = fr.withColumn(
        "priority",
        F.col("cnt").cast("double") * F.col("cnt") / (F.col("fetches") + F.lit(1.0)),
    )
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("seq"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "host", "seq",
            F.round(F.col("priority") * 1e6).cast("bigint").alias("priority_micro"),
            "rnk",
        )
    )
