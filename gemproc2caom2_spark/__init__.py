"""gemproc2caom2_spark — a from-scratch, PySpark-native web-text
quality-filter engine.

Reinterprets the reference system's per-file
metadata-extraction-and-validation pattern (FITS header -> CAOM2
Observation with fitness checks; see /root/reference/gemProc2caom2)
as a per-document web-page curation DAG over columnar tables of
Common-Crawl-style pages:

    scan (url, warc_ts, html, text, lang)
      -> key/partition stage (salted url-hash repartition)
      -> extract (html -> text, byte-identical)
      -> langid (re-derive language, like the reference re-derives WCS)
      -> heuristic quality rules (Gopher/C4-style, pure Column exprs)
      -> perplexity (char n-gram LM, Arrow-vectorized)
      -> minhash/simhash dedup signatures + LSH band grouping
      -> PII scrub (regexp_replace chain, byte-identical)
      -> verdict (keep/drop + drop_reason precedence chain)
      -> sinks: curated table + per-partition audit/lineage table

Everything on the hot path is either whole-stage-codegen Column
expressions or Arrow-batched pandas UDFs -- no per-row Python.
"""

__version__ = "0.1.0"

from gemproc2caom2_spark import _zipimport_guard

_zipimport_guard.install()
