"""pdf_extractor_spark — a brand-new PySpark-native main-content extraction engine.

Re-expresses the capabilities of the reference single-request PDF extraction
service (jfcardososantos/pdf-extractor, studied read-only at /root/reference)
as an idiomatic batch Spark job over an Iceberg-style table of
Common-Crawl-style web pages, per /root/repo/SURVEY.md and BASELINE.json.

Layout
------
ref_extractor/   pure-Python single-document extractor — the executable spec
corpus/          deterministic synthetic page-corpus generator (incl. PDF writer)
operators/       Spark stages: vectorized extraction (mapInArrow), skew salting
sources/         pages-table source helpers (Iceberg-style scan w/ pruning)
tables/          Iceberg-style snapshot/manifest table format over Parquet
plans/           end-to-end job plans: extract job, lineage, checkpoint-resume
queries/         oracle-paired corpus operators: text analytics, dedup, similarity
streaming/       Structured Streaming ingest variant of the extract stage
jobs/            spark-submit entrypoints
_zipimport.py    lazy zipimport cache invalidation for Spark workers (< 3.12)
"""

from pdf_extractor_spark import _zipimport
from pdf_extractor_spark.version import EXTRACTOR_VERSION

# a Spark worker that unpickles any function of this package stops
# re-reading unchanged zip archives before each task (Python < 3.12)
_zipimport.install()

__all__ = ["EXTRACTOR_VERSION"]
