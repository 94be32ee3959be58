"""Structured Streaming layer (SURVEY.md §2.10 W1-W10, §2.1 S1-S6).

The reference is a set of 23 Flink streaming jobs wired through Kafka
topics. Here every pipeline is a pure DataFrame transform shared with
the batch catalog (``flink_spark.plans``); this package adds the
streaming-only machinery:

- ``sources``  : replay/Kafka/CDC-envelope/socket readers (S1-S4, S6)
- ``jobs``     : watermarked tumbling-window aggregation (W1-W3) and
                 memory-sink test execution
- ``state``    : keyed-state operators (W5 daily dedup as a
                 watermark-evicted ``dropDuplicates``; W6 timers, W8
                 CEP jump via ``applyInPandasWithState``)
- ``cep``      : generalized sequence-pattern evaluator (W8 as a
                 declared ``SeqPattern``, match + timeout sides)
- ``sinks``    : kafka/upsert/jdbc/routed/console writers (K1-K6) and
                 the config-driven router (J6/P7/F3/W10)
- ``changelog``: retract-stream consumer — incremental downstream
                 aggregation over ``upsert_sink`` changelogs (the DWS
                 side of the reference's upsert-kafka topology)

Stream-batch equivalence is the correctness contract: each streaming
operator converges to the matching batch query in
``flink_spark.plans.state``/``windows`` (asserted in tests/).
"""

from flink_spark.streaming.jobs import (  # noqa: F401
    cumulate_stream,
    distinct_users_tumble_stream,
    interval_join_stream,
    keyword_tumble_stream,
    left_outer_interval_join_stream,
    run_to_memory,
    sessionize_stream,
    tumble_stream,
)
from flink_spark.streaming.sinks import (  # noqa: F401
    foreach_batch_sink,
    jdbc_exactly_once_sink,
    kafka_payload,
    read_changelog,
    read_upsert_table,
    routed_dim_sink,
    upsert_sink,
)
from flink_spark.streaming.sources import (  # noqa: F401
    cdc_envelope_schema,
    kafka_json_source,
    kafka_source,
    replay_events,
)
from flink_spark.streaming.cep import pattern_stream  # noqa: F401
from flink_spark.streaming.changelog import (  # noqa: F401
    changelog_agg_stream,
    changelog_stream,
    init_agg_state,
    read_agg_state,
    truncate_changelog,
)
from flink_spark.streaming.state import (  # noqa: F401
    asof_stream,
    cep_jump_stream,
    daily_unique_stream,
    is_new_correction_stream,
    returning_users_stream,
)
