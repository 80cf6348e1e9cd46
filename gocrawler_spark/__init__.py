"""gocrawler_spark — a from-scratch PySpark-native distributed topical
crawler + corpus-analytics engine with the query semantics of the
reference crawler (computerphysicslab/goCrawler, read-only at
/root/reference).

Architecture is Spark-first (DataFrame/SQL + Catalyst + vectorized
pandas/Arrow UDFs), NOT a translation of the reference's Go loop:

- the URL frontier is a host-partitioned DataFrame-backed table,
- URL-seen dedup is groupBy + anti-join (+ an optional cuckoo seen-set),
- scheduling is a deterministic window/top-k plan reproducing the
  reference's priority total order (reference crawler.go:384-423),
- the text/curation pipeline is a JVM column chain of regexes and
  higher-order array functions (reference crawler.go:1121-1262),
- corpus analytics are groupBy aggregations + broadcast joins
  (reference crawler.go:1282-1341, corpusfreqlib/corpusfreqlib.go).

Everything here derives from public knowledge only: the Apache Spark /
PySpark API and the reference repo's observable behavior.
"""

from gocrawler_spark.config import CrawlConfig

__all__ = ["CrawlConfig"]
__version__ = "0.1.0"
