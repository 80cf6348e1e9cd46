"""The benchmark's own generated web: many hosts, raw-HTML pages, robots.

Every page, link list and robots rule is a pure function of
``(seed, n_hosts, url)``, so Spark's Python workers and the plain-Python
checks compute the same bytes without any shared state. Pages are
rendered with the program's ``render_html``; the text is in the
whitespace normal form that ``functions/html.parse_page`` returns, so
``parse_page(html(url)) == (text(url), links(url))`` holds exactly.

Make-up of the web (fractions are per generated item):

- hosts ``h00000.example`` .. ``h{n-1}.example``; 1 in 40 hosts fails
  every fetch (transport failure, ``ok=False``);
- 5 to 8 paragraphs a page: 70% prose that passes curation (a stopword
  every 4th token, ~1,000-word vocabulary so signatures rarely collide),
  the rest split over nav junk (no stopwords), short, foreign-marked and
  html-attribute paragraphs;
- 8 to 14 out-links a page: 62% go to a uniformly drawn host under a
  ``topic``/``article``/``story`` path (they pass the test profile's
  link filter), the rest are same-host links (intra-site drop), ``.pdf``
  links (banned token), query strings (validator reject) and ``/misc``
  paths (topical filter reject);
- robots rules per host: 1 in 4 hosts disallows ``/story``, 1 in 8
  disallows ``/article``; crawl delay 0, 500, 1000 or 5000 ms.
"""

from __future__ import annotations

import hashlib
import random
import struct

from gocrawler_spark.sources.synthetic_web import render_html

PATHS_PER_KIND = 40  # distinct paths per (host, kind)
_KINDS = ("topic", "article", "story")
_STOP = ("the", "and", "of", "to", "in", "is", "for", "that")
_TOPIC = ("covid", "virus", "vaccine", "pandemic", "outbreak", "clinical")
_VOCAB = tuple(f"w{i:03d}x" for i in range(1000))
_MIXED = _VOCAB + _STOP
_DELAYS_MS = (0, 500, 1000, 5000)


def _h(seed: int, *parts: object) -> int:
    b = hashlib.blake2b(
        "|".join(str(p) for p in parts).encode(), digest_size=8,
        key=struct.pack("<q", seed),
    )
    return int.from_bytes(b.digest(), "little")


def host(i: int) -> str:
    return f"h{i:05d}.example"


def host_of(url: str) -> str:
    return url.split("://", 1)[1].split("/", 1)[0]


def path_of(url: str) -> str:
    rest = url.split("://", 1)[1]
    return "/" + rest.split("/", 1)[1] if "/" in rest else ""


class Web:
    def __init__(self, seed: int, n_hosts: int):
        self.seed = int(seed)
        self.n_hosts = int(n_hosts)

    # -- hosts ----------------------------------------------------------
    def fails(self, domain: str) -> bool:
        return _h(self.seed, "fail", domain) % 40 == 0

    def robots(self, domain: str) -> tuple[list[str], int]:
        hv = _h(self.seed, "robots", domain)
        prefixes = []
        if hv % 4 == 0:
            prefixes.append("/story")
        if (hv >> 4) % 8 == 0:
            prefixes.append("/article")
        return prefixes, _DELAYS_MS[(hv >> 8) % len(_DELAYS_MS)]

    def seeds(self, n: int, per_host: int) -> list[str]:
        """n distinct seed URLs, per_host each on distinct hosts, under
        any of the three linked path kinds."""
        rng = random.Random(_h(self.seed, "seeds"))
        out, used = [], set()
        while len(out) < n:
            i = rng.randrange(self.n_hosts)
            if i in used:
                continue
            used.add(i)
            paths = rng.sample(range(PATHS_PER_KIND), per_host)
            out += [
                f"https://{host(i)}/{rng.choice(_KINDS)}-{k}" for k in paths
            ][: n - len(out)]
        return out

    # -- pages ----------------------------------------------------------
    def _paragraph(self, rng: random.Random) -> str:
        r = rng.random()
        if r < 0.70:  # prose that passes curation
            n = rng.randint(45, 80)
            words = rng.choices(_VOCAB, k=n)
            words[3::4] = rng.choices(_STOP, k=len(words[3::4]))
            words[5::11] = rng.choices(_TOPIC, k=len(words[5::11]))
            return " ".join(words)
        if r < 0.78:  # nav junk: no stopwords, dropped by the ratio floor
            return " ".join(rng.choices(_VOCAB, k=30))
        if r < 0.86:  # short: below the 200-byte paragraph gate
            return " ".join(rng.choices(_MIXED, k=10))
        if r < 0.93:  # language gate
            return "zzforeignzz " + " ".join(rng.choices(_MIXED, k=40))
        # html attribute text: dropped by the attribute gate
        return " ".join(rng.choices(_MIXED, k=30)) + ' <span class="nav-menu"> end'

    def text(self, url: str) -> str:
        rng = random.Random(_h(self.seed, "text", url))
        return "\n".join(self._paragraph(rng) for _ in range(rng.randint(5, 8)))

    def links(self, url: str) -> list[str]:
        rng = random.Random(_h(self.seed, "links", url))
        me = host_of(url)
        out = []
        for _ in range(rng.randint(8, 14)):
            r = rng.random()
            d = host(rng.randrange(self.n_hosts))
            k = rng.randrange(PATHS_PER_KIND)
            if r < 0.62:
                out.append(f"https://{d}/{rng.choice(_KINDS)}-{k}")
            elif r < 0.72:
                out.append(f"https://{me}/topic-{k}")
            elif r < 0.80:
                out.append(f"https://{d}/report-{k}.pdf")
            elif r < 0.88:
                out.append(f"https://{d}/topic?id={k}")
            else:
                out.append(f"https://{d}/misc-{k}")
        return out

    def page(self, url: str) -> tuple[str, list[str], bool]:
        """(plain text, out-links, ok): what a parsed fetch returns."""
        if self.fails(host_of(url)):
            return "", [], False
        return self.text(url), self.links(url), True

    def html(self, url: str) -> tuple[str, bool]:
        """(raw HTML body, ok): the engine's html_fetch_fn contract."""
        if self.fails(host_of(url)):
            return "", False
        return render_html(self.text(url), self.links(url), title=url), True
