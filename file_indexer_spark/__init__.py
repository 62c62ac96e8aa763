"""file_indexer_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ``krzysbaranski/file-indexer``.

The reference (/root/reference) is a file-metadata indexing + deduplication
system over embedded DuckDB. This engine re-expresses its data model
(one ``files`` fact table), its ~25 query shapes (search, duplicate
detection, stats/histograms/timelines), and its procedural dataflow
(scan → two-phase checksum → merge → cleanup) as idiomatic Spark
DataFrame programs designed for 100 TB scale, and extends it with
LLM-training-data pipeline operators (near-dup detection, similarity
search, text analysis, multimodal plumbing).

Layout:
    session.py    SparkSession factory tuned for the workload
    tables.py     test-table catalog + canonical ``files`` derivation
    registry.py   driver contract: every query + its DuckDB oracle SQL
    sql.py        S12 raw-SQL passthrough over catalog temp views
    serving.py    pagination contract (page / total / has_more)
    cli.py        ``python -m file_indexer_spark`` entry point
    operators/    query operators (search, duplicates, stats, dedup,
                  similarity, text, events, relational, multimodal,
                  sampling, curation, inference)
    functions/    reusable column expressions (extension parse, size
                  bands, shingle/minhash/simhash primitives)
    indexer/      the write path: distributed scan, two-phase checksum,
                  bucketed upsert/merge, cleanup (anti-join deletion)
    streaming/    watermarked windows + foreachBatch incremental index
"""

__version__ = "0.1.0"
