"""lumbermill_spark — a PySpark-native log/telemetry parse→enrich→route→aggregate engine.

A from-scratch, Spark-first rebuild of the capabilities of heroku/lumbermill
(reference at /root/reference, read-only): logplex/syslog-framed, logfmt-bodied
log lines are classified into five metric series, routed by token, and
aggregated into per-sink tables (reference: drain.go:75-283, points.go:16-25).

Here the dataflow is declared as lazy DataFrame expressions (Catalyst plans the
physical execution), the parse step is ONE vectorized pandas/Arrow UDF
(compiled regex over Arrow-backed string arrays — no per-row Python), routing
is hash/salted repartitioning, and the sinks are partitioned Parquet tables
(Iceberg runtime jar is not available in this environment; the sink layer is
abstracted so an Iceberg catalog is a config change, see sinks.py).

Modules
-------
schemas    transcripts schema + the 5 sink schemas (points.go:16-25)
datagen    deterministic, vectorized synthetic transcripts (formats from lpxgen)
classify   native-expression classification tree (drain.go:96-274 precedence)
parse      vectorized Arrow-UDF field extraction (RE2 over Arrow arrays)
route      salted repartition, md5 bucket routing, FNV-1a consistent-hash ring
aggregate  class counts, per-code counts, percentile rollups, freshness
lineage    per-partition lineage ledger + resumable chunked runs
pipeline   end-to-end batch driver
streaming  Structured Streaming variant (1 s micro-batch, availableNow in tests)
oracle     pure-Python row-at-a-time reference implementation (test golden)
extras     training-data ops: dedup, similarity search, text stats, multimodal
"""

__version__ = "0.1.0"
