"""warcit_spark — a PySpark-native URL-frontier / crawl-analytics engine.

A brand-new engine with the data-processing capabilities of the reference
(webrecorder/warcit, studied read-only at /root/reference), re-expressed as
idiomatic Spark: declarative DataFrame plans optimized by Catalyst, vectorized
pandas/Arrow UDFs where built-ins cannot express the semantics, and
parquet-snapshot state tables with atomic per-round commits.

Layout
------
- ``functions/``  scalar/column function surface (urls, mime, timestamps, text)
- ``sources/``    scans: binary files, mapfile CSV/TSV, YAML sidecars, fixtures
- ``operators/``  relational operators: filters, joins, record derivation,
                  dedup, similarity, text analysis
- ``plans/``      multi-operator pipelines: the crawl round/loop, politeness,
                  state catalog, files to WARC
- ``sinks/``      WARC export
"""

from warcit_spark.session import get_spark

__version__ = "0.4.0"

__all__ = ["get_spark", "__version__"]
