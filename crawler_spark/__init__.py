"""crawler_spark — a PySpark-native partition-parallel URL-frontier engine.

A brand-new implementation (NOT a port) of the crawl semantics of the
reference master/worker crawler (awaketai/crawler, surveyed in SURVEY.md):
seeded frontier -> priority+FIFO scheduling -> URL-seen dedup -> politeness
budgets -> fetch (corpus join) -> vectorized regex parse -> results +
frontier deltas, as one DataFrame job per scheduling round over a
snapshot-versioned table catalog.

Layout
------
- ``session``     SparkSession factory (Arrow on, AQE on)
- ``catalog``     snapshot/append table catalog (parquet shim, Iceberg-shaped API)
- ``schemas``     fixed StructTypes for frontier/pages/results/seen/robots/metrics
- ``urlnorm``     URL canonicalization + murmur3/xxhash64 keys
- ``rules``       declarative rule registry (the reference's RuleTree as data)
- ``parsers``     vectorized parse kernels (SQL-expression fast path + pure-Python oracle twin)
- ``frontier``    frontier ops: depth filter, dedup, scalable seq assignment
- ``politeness``  per-host round budgets, robots.txt filtering, two-phase skew rank
- ``seen``        bloom pre-filter + exact seen-set ops
- ``engine``      the round driver: run_round / run_crawl / resume
- ``fetch``       production HTTP fetch seam (fetch_mode='http'): mapInPandas
                  GETs, injectable transport, UA/proxy/Cookie per reference
- ``fetchopts``   deterministic per-URL proxy + User-Agent columns (S7/S8)
- ``jsrules``     loader translating the reference's dynamic-task JS scripts
                  (ParseJSReg / OutputJS / AddJSReqs) into rules-as-data
- ``sinks``       JDBC results sink matching the reference's per-task table
- ``corpus``      deterministic synthetic Common-Crawl-style page corpus (seed 42)
- ``oracle``      pure-Python single-worker reference oracle for equivalence tests
- ``functions``   training-data pipeline ops (dedup suite, text analysis, link graph,
                  host stats, sketches, anchors, snapshots)
"""

__version__ = "0.1.0"
