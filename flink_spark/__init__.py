"""flink_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference Flink streaming warehouse
(BillEsaisa/flink-, surveyed in /root/repo/SURVEY.md) as idiomatic
Spark: DataFrame/SQL for the relational core, Structured Streaming +
applyInPandasWithState for the stateful streaming machinery, and a set
of large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) designed for 100 TB scale.

Layout
------
- ``session``    : SparkSession factory / tuning knobs.
- ``commit``     : the atomic pointer commit + retention every stateful
                   sink's versioned state goes through.
- ``sources``    : batch readers over the fixture tables + the JDBC
                   dimension snapshot reader.
- ``functions``  : scalar/text helper functions (exact-decimal sums,
                   ClickHouse-compat shims, tokenizers, fingerprints).
- ``plans``      : the query catalog — every operator of SURVEY.md §2
                   plus the LLM-data-pipeline operators, each a
                   (Spark DataFrame fn, DuckDB oracle SQL) pair
                   registered in ``registry``.
- ``streaming``  : Structured Streaming layer — replay/Kafka/CDC
                   sources, watermarked window jobs, keyed-state
                   operators (applyInPandasWithState), sinks + router.
- ``pipelines``  : SURVEY.md §2.12 parity map — each reference job →
                   the catalog queries / streaming ops covering it.
- ``registry``   : query catalog registry (name → fn + oracle).
- ``testing``    : local DuckDB-oracle comparison harness.
"""

__version__ = "0.1.0"
