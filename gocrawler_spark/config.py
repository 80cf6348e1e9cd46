r"""Crawl configuration.

Mirrors the reference's viper-YAML config surface (reference
crawler.yaml / debug.yaml / neutral.yaml, loaded by crawler.go:1408-1475)
as a frozen dataclass that is cheap to pickle into Spark tasks /
pandas-UDF closures.

Regex ASSEMBLY parity (the load-bearing part):

- ``RmNewLines`` (reference stringlib/stringlib.go:17-22) turns the YAML
  literal blocks into one long alternation by deleting newlines.
- ``engStopWords = "the|" + engStopWordsWOthe``   (crawler.go:1418)
- ``engLowRelevancyWords = "|" + <yaml>``         (crawler.go:1419)
- ``regexStopwords = r"(?i)\W([0-9]+|.|..|" + engStopWordsWOthe
      + engLowRelevancyWords + "|" + specialStopwords + r")\W"``
                                                  (crawler.go:1420)
- ``regexLinkOk = r"(?i)^https*://.*(" + linkOk + "|" + curatedDomains
      + ")"``                                     (crawler.go:1463)

All regexes are kept in the Go-RE2 / Java-regex common subset so the
same string drives Spark (`rlike`, `regexp_extract_all` — Java regex,
ASCII `\\W`, like RE2), DuckDB oracles (RE2), and Python UDFs
(compiled with `re.ASCII` so `\\W` is ASCII, matching RE2).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

# URL structural validator — reference crawler.go:354 (regexURL).
# NB the path charset admits no '?', '&', '=', '#': query/fragment URLs
# are rejected here, which makes the reference's later CGI-strip
# canonicalization (crawler.go:444-451) dead code.
REGEX_URL_VALID = (
    r"(?i)(^http(s)?://[a-z0-9-]+(\.[a-z0-9-]+)*(:[0-9]+)?"
    r"(\/[a-z0-9\-\_\/\.\+\%\(\)\~\@]*)?$)"
)


def _rm_newlines(s: str) -> str:
    """Reference stringlib/stringlib.go:17-22 — delete `(\\n+)`."""
    return re.sub(r"\n+", "", s)


@dataclass(frozen=True)
class CrawlConfig:
    # --- crawler.yaml (global) ---
    regex_banned_domains: str
    regex_link_banned_tokens: str
    eng_stopwords_wo_the: str  # alternation, no "the" (crawler.yaml)
    eng_low_relevancy_words: str  # alternation (crawler.yaml)
    special_stopwords: str  # alternation (crawler.yaml)
    download_timeout_s: int = 8
    add_url: str = ""  # S11 indexer endpoint; "" = disabled (crawler.yaml:26-27)
    # --- <topic>.yaml (profile) ---
    curated_domains: str = ""
    link_ok: str = ""
    regex_ranking_keywords: str = r"(?i)\W(covid)\W"
    bootstrapping_links: tuple[str, ...] = ()
    min_doc_len: int = 0
    max_doc_len: int = 100000
    score_threshold: float = 0.0
    # --- proxy.yaml (optional; reference yamlInitProxy
    # crawler.go:1434-1453 — all-empty when the file is absent) ---
    proxy_host: str = ""
    proxy_user: str = ""
    proxy_pass: str = ""
    # --- engine-level knobs (no reference analog) ---
    max_domain_failures: int = 6  # crawler.go:513 (`> 6`)
    wave_size: int = 1  # 1 = exact reference schedule; >1 = scale mode
    per_host_budget: int = 1  # max URLs per host per wave (scale mode)
    seed: int = 42

    # ---- assembled regexes (crawler.go:1415-1420, 1462-1468) ----

    @property
    def eng_stopwords(self) -> str:
        """crawler.go:1418: stopwords including "the"."""
        return "the|" + self.eng_stopwords_wo_the

    @property
    def regex_stopwords(self) -> str:
        """crawler.go:1420 — also kills numbers and 1-2 char tokens."""
        return (
            r"(?i)\W([0-9]+|.|..|"
            + self.eng_stopwords_wo_the
            + "|"
            + self.eng_low_relevancy_words
            + "|"
            + self.special_stopwords
            + r")\W"
        )

    @property
    def stop_token_fullmatch(self) -> str:
        """Per-token form of `regex_stopwords`.

        Because the reference applies the stopword regex to tokens
        joined by (doubled) spaces (crawler.go:646-662), a token is
        removed iff one alternative spans the whole token — i.e. the
        regex dance is equivalent to a full-token match. This is the
        vectorizable form used by the Spark plan and the DuckDB oracle.
        """
        return (
            r"(?i)^([0-9]+|.|..|"
            + self.eng_stopwords_wo_the
            + "|"
            + self.eng_low_relevancy_words
            + "|"
            + self.special_stopwords
            + r")$"
        )

    @property
    def stop_token_parts(self) -> tuple[tuple[str, ...], str | None]:
        """Decomposition of `stop_token_fullmatch` for the vectorized
        analyzer filter: `(literal_words, residual_regex_or_None)`.

        A 270+-way regex alternation costs O(alternatives) of
        backtracking per token; the equivalent decomposed predicate is
        `len<=2 | ^[0-9]+$ | token IN literal_set | residual_regex`,
        where the literal set becomes a Catalyst InSet (O(1) hash
        probe) and only the few metachar-bearing alternatives (e.g.
        the `words*` optional-plural patterns) stay as a small regex.
        Byte-equivalent to the full regex: tokens are lowercase-only
        letters/numbers, so `.`/`..` == any 1-2 chars and `(?i)`
        literal match == lowercase equality. Equivalence is
        property-tested in tests/test_text_functions.py."""
        return self._decompose_alternation(
            self.eng_stopwords_wo_the
            + "|"
            + self.eng_low_relevancy_words
            + "|"
            + self.special_stopwords
        )

    @staticmethod
    def _decompose_alternation(
        alternation: str,
    ) -> tuple[tuple[str, ...], str | None]:
        lits: list[str] = []
        rest: list[str] = []
        for w in alternation.split("|"):
            if not w:
                continue
            if re.search(r"[.*+?()\[\]{}^$\\]", w):
                rest.append(w)
            else:
                lits.append(w.lower())
        residual = r"(?i)^(" + "|".join(rest) + r")$" if rest else None
        return tuple(dict.fromkeys(lits)), residual

    @property
    def border_left_parts(self) -> tuple[tuple[str, ...], str | None]:
        """Decomposed `border_left_lowrel` full-token match (lowercase
        literal set + residual regex) — same trick as stop_token_parts,
        for the n-gram border filter (crawler.go:902)."""
        return self._decompose_alternation(self.border_left_lowrel)

    @property
    def border_right_parts(self) -> tuple[tuple[str, ...], str | None]:
        """Decomposed `border_right_stop` full-token match."""
        return self._decompose_alternation(self.border_right_stop)

    @property
    def regex_stopwords_count(self) -> str:
        """crawler.go:609-619 — stopword occurrence counter (incl "the")."""
        return r"(?i)\W(" + self.eng_stopwords + r")\W"

    @property
    def regex_link_ok(self) -> str:
        """crawler.go:1463 — topical link filter."""
        return (
            r"(?i)^https*://.*("
            + self.link_ok
            + "|"
            + self.curated_domains
            + ")"
        )

    @property
    def border_left_lowrel(self) -> str:
        """crawler.go:633-637: left-border stop+lowrel alternation.

        The asymmetry (left = stop+lowrel, right = stop only) is
        load-bearing for n-gram border filtering.
        """
        return self.eng_stopwords + "|" + self.eng_low_relevancy_words

    @property
    def border_right_stop(self) -> str:
        """crawler.go:639-641: right-border stopword alternation."""
        return self.eng_stopwords

    def with_(self, **kw) -> "CrawlConfig":
        return replace(self, **kw)


# ---------------------------------------------------------------------------
# Profiles. Regex bodies reproduce the reference YAML values (crawler.yaml,
# debug.yaml, neutral.yaml) after RmNewLines, because they define observable
# behavior (which links are banned, which tokens are stopwords).
# ---------------------------------------------------------------------------

_CRAWLER_YAML_BANNED_DOMAINS = (
    r"(?i)((facebook|twitter|reddit|instagram|google|youtube|etherscan"
    r"|urldefense|thesexyouwant)\.(com|org)|archive\.org|repubblica\.it"
    r"|(^en)\.wikipedia\.org|anchor\.fm|doi\.org|github\.com|blockscout"
    r"|etherscan|polygonscan|qoinfaucet|pinterest)"
)

_CRAWLER_YAML_BANNED_TOKENS = (
    r"(?i)(login|signup|search|pdf|\.(pdf|ps|xls|ods|csv|json|png|jpg|gif"
    r"|zip|tar|gz|iso|rar|mp3|wav|avi|mpeg|mpg|mp4|mov|docx|exe|7z|ppt"
    r"|doc|rs|tgz))"
)

_CRAWLER_YAML_STOPWORDS_WO_THE = _rm_newlines(
    """a|and|be|have|i|in|of|that|to|with|from|is|on|up|for|should|even|why|by|during|we|could|but|about|as|or|this|at|not|all|other
|if|can|how|may|who|an|no|our|what|use|get|will|has|their|was|than|which|these|also|been|when|through|were|under|there|those|out|after|such|any|before
|here|only|some|its|where|into|like|would|against|between|most|so|over|because|now|while|since|however|non|without|among|both|another|still|just|way|very
|good|around|every|each|his|her|then|much|less|few|same|within|per|whether|cannot|doesn|isn|aren|across|ongoing|pre|anti|onset|don|it|you|are"""
)

_CRAWLER_YAML_LOW_RELEVANCY = _rm_newlines(
    """articles*|publications*|questions*|times|data|source|people|information|news*|search|content|home|sites*|best|well|pdf|files
|uploads|programs*|support|help|default|files*|available|please|including|websites*|related|work|number|days*|using|two|ref|first|daily|public|cases*|high|possible
|system|review|based|provide|results|additional|include|current|important|week|group|full|different|person|take|continue|national|needs*|millions*|requiremets*|working
|your|more|says|read|make|made|see|does|due|she|one|said|being|had|need|them|many|used|must|do|they|it|he|twitter|facebook|date|time|pages*|topics*|example
|things|real|wiki|early|year|currently|higher|specific|state|resources*|social|study|guidance|local|leave|online|centers*|email|blog|don|according|updates*d*|world
|cookies|javascript|google|internet|webinar|color|challenges*|click|faqs*|fig|cite|preprints*|note|isbn"""
)

_CRAWLER_YAML_SPECIAL_STOPWORDS = _rm_newlines(
    """https*|www|php|aspx|index|en|html
|january|february|march|april|may|june|july|august|september|october|november|december
|com|org|gov|uk|edu|net|us|co|gob|au|ca"""
)

_DEBUG_YAML_CURATED_DOMAINS = _rm_newlines(
    r"""en\.wikipedia\.org|cureus|cochrane|biomedcentral|nature\.com|doi\.org|sciencemag\.org|thelancet\.com|springer\.com|aappublications\.org
|academic\.oup\.com|sciencedirect\.com|arxiv\.org|medrxiv\.org|cms\.gov|nih\.gov|who\.int|nejm\.org|wired\.com|mayoclinic\.org"""
)

_DEBUG_YAML_LINK_OK = _rm_newlines(
    """fulltext|article|covid|coronavirus|nCoV|sars|pandemic|epidemiology|immunology|immunity|immunization|vaccine|hydroxychloroquine|lockdown|asymptomatic|serological
|infection|respiratory|disease"""
)

_DEBUG_YAML_RANKING_KEYWORDS = _rm_newlines(
    r"""(?i)\W(covid|coronavirus|pandemic|virus|emergency|sars|online|cov|center|testing|distancing|cdc|healthcare|vaccine|spread|outbreak
|providers|centers|respiratory|email|funding|fda|organizations|nonprofit|nonprofits|eligible|impacted|according|vaccines|infected|masks|quarantine|businesses|health
|don|infection|cares|viral|grants|provider|sba|updated|ppe|infectious|telehealth|reopening|virtual|federal|ultrasound|labor|symptoms|influenza|icu|employee|experiencing
|impacts|employees|clinical|wuhan|challenges|prior|app|ppp|click|lockdown|medicare|hydroxychloroquine|paycheck|eligibility|hospitalized|prevention|closures
|viruses|medicaid|med|infections|authorized|eua|asymptomatic|respirators|osha|statewide|ace2|coverings|transmission|epidemic)\W"""
)


def covid_profile(**overrides) -> CrawlConfig:
    """crawler.yaml + debug.yaml (the reference's documented demo run)."""
    cfg = CrawlConfig(
        regex_banned_domains=_CRAWLER_YAML_BANNED_DOMAINS,
        regex_link_banned_tokens=_CRAWLER_YAML_BANNED_TOKENS,
        eng_stopwords_wo_the=_CRAWLER_YAML_STOPWORDS_WO_THE,
        eng_low_relevancy_words=_CRAWLER_YAML_LOW_RELEVANCY,
        special_stopwords=_CRAWLER_YAML_SPECIAL_STOPWORDS,
        curated_domains=_DEBUG_YAML_CURATED_DOMAINS,
        link_ok=_DEBUG_YAML_LINK_OK,
        regex_ranking_keywords=_DEBUG_YAML_RANKING_KEYWORDS,
        bootstrapping_links=(
            "https://euractiv.cz/section/politika/news/the-capitals-covid-19"
            "-byl-ve-spanelsku-uz-rok-pred-vypuknutim-pandemie/",
        ),
        min_doc_len=200,
        max_doc_len=100000,
        score_threshold=0.0,  # absent in debug.yaml → viper zero value
    )
    return cfg.with_(**overrides) if overrides else cfg


_NEUTRAL_YAML_CURATED_DOMAINS = _rm_newlines(
    r"""en\.wikipedia\.org|arxiv\.org|wired\.com|nytimes\.com"""
)

_NEUTRAL_YAML_LINK_OK = _rm_newlines(
    """fulltext|article|news|aws|amazon|storage|customers|solutions|cloud|analytics|serverless|workloads|efs|applications|tech|learning|kubernetes|create|build|guardduty|video|instances|console|fargate|developers|component|text|privacy|domain|registry|services|stack|advertising|registrant|applicable|web|dow|collect|registration|overflow|microsoft|cookie|browser|opt|cds|yahoo|apps|mobile|arbitration|notice|verizon|device|account|analytics|agree|ads|tucows|aug|tracking|wordpress|providers|barron|app|wsj|affiliates|settings|vox|registered|submit|dispute|license|accordance|strikingly|trump|cxense|previews|media|browsing|artwork|biden|bankrate|address|woocommerce|hosting|delete|brands|rel|cbs|personalized|marketing|learn|registrar|whatsapp|proprietary|apy|request|pursuant|provider|icann|network|fdic|disputes|newsletter|lazyload|equity|posted|notices|browsers|automattic|acknowledge|download|disclose|digital|collected|technologies|subscription|fees|com"""
)

_NEUTRAL_YAML_RANKING_KEYWORDS = _rm_newlines(
    r"""(?i)\W(the|of|and|for|english|2020|international|aws|amazon|storage|customers|solutions|cloud|analytics|serverless|workloads|efs|applications|tech|learning|kubernetes|create|build|guardduty|video|instances|console|fargate|developers|component|text|privacy|domain|registry|services|stack|advertising|registrant|applicable|web|dow|collect|registration|overflow|microsoft|cookie|browser|opt|cds|yahoo|apps|mobile|arbitration|notice|verizon|device|account|analytics|agree|ads|tucows|aug|tracking|wordpress|providers|barron|app|wsj|affiliates|settings|vox|registered|submit|dispute|license|accordance|strikingly|trump|cxense|previews|media|browsing|artwork|biden|bankrate|address|woocommerce|hosting|delete|brands|rel|cbs|personalized|marketing|learn|registrar|whatsapp|proprietary|apy|request|pursuant|provider|icann|network|fdic|disputes|newsletter|lazyload|equity|posted|notices|browsers|automattic|acknowledge|download|disclose|digital|collected|technologies|subscription|fees)\W"""
)


def neutral_profile(**overrides) -> CrawlConfig:
    """crawler.yaml + neutral.yaml — the reference's third shipped
    configuration: a non-topical ("general contemporary English")
    profile whose ranking keywords are the high-frequency web
    boilerplate vocabulary."""
    cfg = CrawlConfig(
        regex_banned_domains=_CRAWLER_YAML_BANNED_DOMAINS,
        regex_link_banned_tokens=_CRAWLER_YAML_BANNED_TOKENS,
        eng_stopwords_wo_the=_CRAWLER_YAML_STOPWORDS_WO_THE,
        eng_low_relevancy_words=_CRAWLER_YAML_LOW_RELEVANCY,
        special_stopwords=_CRAWLER_YAML_SPECIAL_STOPWORDS,
        curated_domains=_NEUTRAL_YAML_CURATED_DOMAINS,
        link_ok=_NEUTRAL_YAML_LINK_OK,
        regex_ranking_keywords=_NEUTRAL_YAML_RANKING_KEYWORDS,
        bootstrapping_links=(
            "https://moz.com/top500",
            "https://www.similarweb.com/top-websites/",
            "https://en.wikipedia.org/wiki/List_of_most_popular_websites",
        ),
        min_doc_len=0,
        max_doc_len=100000,
        score_threshold=0.0,  # absent in neutral.yaml → viper zero value
    )
    return cfg.with_(**overrides) if overrides else cfg


def load_profile_yaml(
    global_path: str, profile_path: str, proxy_path: str | None = None
) -> CrawlConfig:
    """S10: build a CrawlConfig from a crawler.yaml-shaped global file
    plus a <topic>.yaml-shaped profile file, reproducing the viper
    loading + RmNewLines regex assembly verbatim
    (yamlInitGeneral crawler.go:1408-1432, yamlInitSpecific 1455-1475):

    - every string value passes through RmNewLines (YAML literal blocks
      become one long alternation);
    - missing keys take viper zero values ("" / 0 / empty slice);
    - scoreThreshold is read as an int then widened to float64, exactly
      like ``float64(viper.GetInt("scoreThreshold"))``.

    ``proxy_path`` is the yamlInitProxy analog (crawler.go:1434-1453):
    optional and SILENTLY skipped when the file does not exist —
    exactly the reference's ``if !FileExists("./proxy.yaml") return``
    — otherwise proxyHost/proxyUser/proxyPass load as plain strings
    (no RmNewLines: the reference reads them with bare GetString).
    The fields thread into the pluggable fetcher via
    :func:`proxy_url`.
    """
    import os

    import yaml

    with open(global_path) as f:
        g = yaml.safe_load(f) or {}
    with open(profile_path) as f:
        p = yaml.safe_load(f) or {}
    px: dict = {}
    if proxy_path is not None and os.path.exists(proxy_path):
        with open(proxy_path) as f:
            px = yaml.safe_load(f) or {}

    def s(d: dict, key: str) -> str:
        return _rm_newlines(str(d.get(key) or ""))

    def i(d: dict, key: str) -> int:
        return int(d.get(key) or 0)

    return CrawlConfig(
        regex_banned_domains=s(g, "regexBannedDomains"),
        regex_link_banned_tokens=s(g, "regexLinkBannedTokens"),
        eng_stopwords_wo_the=s(g, "engStopWordsWOthe"),
        eng_low_relevancy_words=s(g, "engLowRelevancyWords"),
        special_stopwords=s(g, "specialStopwords"),
        download_timeout_s=i(g, "downloadTimeout"),
        # viper GetString + strings.TrimSpace (crawler.go:1422)
        add_url=str(g.get("addUrl") or "").strip(),
        curated_domains=s(p, "curatedDomains"),
        link_ok=s(p, "linkOk"),
        regex_ranking_keywords=s(p, "regexRankingKeywords"),
        # the reference key is spelled "bootstrapingLinks" (sic)
        bootstrapping_links=tuple(p.get("bootstrapingLinks") or ()),
        min_doc_len=i(p, "minDocLen"),
        max_doc_len=i(p, "maxDocLen"),
        score_threshold=float(i(p, "scoreThreshold")),
        proxy_host=str(px.get("proxyHost") or ""),
        proxy_user=str(px.get("proxyUser") or ""),
        proxy_pass=str(px.get("proxyPass") or ""),
    )


def proxy_url(cfg: CrawlConfig) -> str | None:
    """The fetcher-kwarg form of the proxy config: the http proxy URL
    the reference's client would use (proxyGet crawler.go:153-168 —
    ``url.URL{Scheme: "http", User: UserPassword(u, p), Host: host}``),
    or None when no proxy is configured (proxyHost empty ⇒ plain
    client). A pluggable HTTP fetcher passes this straight into e.g.
    ``requests.get(..., proxies={"http": url, "https": url})``."""
    if not cfg.proxy_host:
        return None
    from urllib.parse import quote

    auth = ""
    if cfg.proxy_user or cfg.proxy_pass:
        auth = f"{quote(cfg.proxy_user, safe='')}:{quote(cfg.proxy_pass, safe='')}@"
    return f"http://{auth}{cfg.proxy_host}"


def test_profile(**overrides) -> CrawlConfig:
    """Small deterministic profile for the synthetic web in tests."""
    cfg = CrawlConfig(
        regex_banned_domains=_CRAWLER_YAML_BANNED_DOMAINS,
        regex_link_banned_tokens=_CRAWLER_YAML_BANNED_TOKENS,
        eng_stopwords_wo_the=_CRAWLER_YAML_STOPWORDS_WO_THE,
        eng_low_relevancy_words=_CRAWLER_YAML_LOW_RELEVANCY,
        special_stopwords=_CRAWLER_YAML_SPECIAL_STOPWORDS,
        curated_domains=r"alpha\.example|beta\.example",
        link_ok="topic|article|story",
        regex_ranking_keywords=(
            r"(?i)\W(covid|virus|vaccine|pandemic|outbreak|testing"
            r"|quarantine|transmission|spread|clinical)\W"
        ),
        bootstrapping_links=("https://seed.example/start",),
        min_doc_len=20,
        max_doc_len=100000,
        score_threshold=0.0,
    )
    return cfg.with_(**overrides) if overrides else cfg
