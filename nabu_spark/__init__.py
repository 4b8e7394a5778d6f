"""nabu_spark — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the semantics of internetofwater/nabu (reference at /root/reference,
studied for behavior only) as idiomatic Spark DataFrame pipelines:

    pages (url, warc_ts, html, text, lang)
      -> extract JSON-LD        (vectorized Arrow UDF, byte-identical text invariant)
      -> standardize @context   (doc-local)
      -> JSON-LD 1.1 -> RDF     (pure-Python expansion, canonical literals)
      -> skolemize blank nodes  (doc-local content-hash IRIs)
      -> tag named graph URN    (prov column)
      -> quads (subj, pred, obj, prov) partitioned parquet + lineage

plus the relational stages around it (incremental anti-join skip, duplicate
detection, cleanup set-difference, crawl-stats aggregation, bytesum, release
routing, mainstem broadcast spatial join, multi-hop geo joins) and the
training-data-pipeline operators (dedup, similarity search, text analysis).
"""

__version__ = "0.1.0"

# Python workers import this package when they unpickle a nabu UDF; from then
# on the worker's per-task importlib.invalidate_caches() stops re-reading
# unchanged zip archives (pyspark.zip) — see _zipcache.
from . import _zipcache

_zipcache.install()
