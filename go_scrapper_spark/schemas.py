"""The StructType contracts of the engine's inputs and of its
driver-built state tables (SURVEY.md §1, FIXTURES.md).

Only schemas that code imports live here. Every other table's shape
(frontier, fetch log, extracted reviews, pagetext, pagemeta, metrics,
the extractor's tagged union) is stated once, by the code that writes
it: plans/crawl.py and functions/extract.py.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# seeds — crawl tasks (mirror of the Spider struct, reference main.go:31-52)
# ---------------------------------------------------------------------------
SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("task_id", T.IntegerType(), False),
        T.StructField("profile_key", T.StringType(), True),
        T.StructField("business_name", T.StringType(), True),
        T.StructField("street", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("zip", T.StringType(), True),
        T.StructField("last_review_hashes", T.ArrayType(T.StringType()), True),
        T.StructField("first_page_only", T.IntegerType(), True),
        T.StructField("proxy", T.StringType(), True),
        # declared-but-unused Spider fields (reference main.go:36-43 —
        # decoded there, referenced nowhere else): carried verbatim for
        # task-schema pass-through fidelity
        T.StructField("business_id", T.IntegerType(), True),
        T.StructField("client_id", T.IntegerType(), True),
        T.StructField("batch_id", T.IntegerType(), True),
        # persona.additional_cookies is interface{} in Go — carried as
        # its JSON serialization; persona.other_proxies is []string
        T.StructField("additional_cookies", T.StringType(), True),
        T.StructField("other_proxies", T.ArrayType(T.StringType()), True),
        T.StructField("seq", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# robots — politeness policy (north rule; reference disables robots,
# collyfunc.go:68 — here it is an enforced config)
# ---------------------------------------------------------------------------
ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("allow_prefixes", T.ArrayType(T.StringType()), True),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay_ms", T.LongType(), True),
        T.StructField("max_parallel", T.IntegerType(), True),
    ]
)

# per-task incremental-crawl scheduler state, committed with each snapshot
INC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("task_key", T.LongType(), False),
        T.StructField("unlocked", T.IntegerType(), False),
        T.StructField("done", T.BooleanType(), False),
        T.StructField("started", T.BooleanType(), False),
        T.StructField("hit", T.BooleanType(), False),
        T.StructField("n_reviews", T.LongType(), False),
    ]
)

# per-task last_review_hashes, committed with each snapshot of an
# incremental run
INC_HASHES_SCHEMA = T.StructType(
    [
        T.StructField("task_key", T.LongType(), False),
        T.StructField("review_hash", T.StringType(), False),
    ]
)
