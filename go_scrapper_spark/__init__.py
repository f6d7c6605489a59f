"""go_scrapper_spark — a PySpark-native batch crawl/frontier engine.

A brand-new implementation (NOT a port) of the query/data-processing
capabilities of the Go reference scraper (Improwised/go-scrapper,
surveyed in SURVEY.md): a batch frontier scheduler over snapshot-
committed tables of Common-Crawl-style pages, plus the training-data
pipeline operators (dedup, similarity search, text analysis) a
100 TB-scale corpus build needs.

Layout
------
- ``session``    : tuned SparkSession factory (AQE, Arrow, shuffle sizing)
- ``schemas``    : input and driver-built state StructTypes (SURVEY.md §1)
- ``functions/`` : scalar/vectorized primitives (URL canon, Go-JSON hash,
                   HTML/JSON extraction, text stats)
- ``sources/``   : synthetic web generator, snapshot storage, table loaders
- ``operators/`` : wave selection, politeness, dedup, similarity, match
- ``plans/``     : the crawl superstep loop + pure-Python reference model
- ``streaming/`` : batch sessionization (kept at this path because the
                   oracle suite imports it from here)
"""

__version__ = "0.1.0"
