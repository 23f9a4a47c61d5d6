"""Process-monitor cost accounting — the JSONB ``llm_calls`` rollup and
the batched-call orchestration shape.

The reference's ``process_monitor_logs`` table stores one JSON **array**
of per-call records per stage row and derives ``total_tokens`` /
``total_cost`` as sums over that array (`database-schema.sql:267-269`,
array shape documented at `:283`:
``[{"model", "input_tokens", "output_tokens", "cost", ...}]``), and the
embedding stage issues those calls in bounded batches with retry
(`semantic search/stage_04_embedding_generation.py:826`
``generate_embeddings``, max_batch_size=50). Here:

* ``monitor_llm_costs`` — plants a deterministic ``llm_calls`` JSON
  array per event (the house planted-data pattern: synthesized from
  event_id/props so both engines derive identical data with no side
  file), built directly as an ``array<struct>``, then runs the JSONB
  array aggregation the reference performs — ``explode`` →
  per-(stage, model) sums. The plant is not serialized to JSON and
  parsed back: that round trip is byte-exact on the planted
  bigints/strings, so it would only add work.
* ``embed_batch_log`` — assigns every document a deterministic batch id
  (50 docs per API call, stage_04 semantics), builds the per-batch
  call-log rows, and joins the embeddings back to their batch — the
  orchestration ledger that feeds the rollup above.

Scale notes
-----------
* The call array is bounded (≤ 3 planted calls/event; the reference
  caps calls-per-stage similarly), so explode fan-out is a small
  constant factor and the only shuffle is the final (stage, model)
  aggregation with map-side partials.
* Costs are integer micro-dollars until the final division, so the
  sums are exact and engine-independent (the house integer-scaling
  discipline).
* ``embed_batch_log``'s row_number runs per source partition — the
  global sequential batch numbering uses source as the partition key
  so no single-partition window bottleneck appears at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

# Planted-call constants — mirrored literally in the oracle SQL.
MAX_CALLS = 3  # calls per stage row: 1 + event_id % 3
IN_RATE_MICRO = 30  # $ 0.000030 per input token
OUT_RATE_MICRO = 60  # $ 0.000060 per output token
EMBED_BATCH = 50  # stage_04 max_batch_size
EMBED_RATE_MICRO = 2  # $ 0.000002 per embedded token

# Planted per-call token formulas — SINGLE SOURCE (round-10 ADVICE): the
# Column helpers and SQL fragments below all derive from these tuples,
# so the plant (_planted_calls), the fused operator (llm_call_attempts)
# and every oracle CTE cannot drift apart when a coefficient changes.
IN_TOK = (7, 13, 500)  # input_tokens  = (k*7 + i*13) % 500 + 1
OUT_TOK = (3, 5, 300)  # output_tokens = (k*3 + i*5) % 300 + 1


def _in_tokens_col(k, i):
    a, b, m = IN_TOK
    return (k * a + i * b) % m + 1


def _out_tokens_col(k, i):
    a, b, m = OUT_TOK
    return (k * a + i * b) % m + 1


IN_TOK_SQL = "(k * {0} + i * {1}) % {2} + 1".format(*IN_TOK)
OUT_TOK_SQL = "(k * {0} + i * {1}) % {2} + 1".format(*OUT_TOK)


def _planted_calls():
    """Deterministic llm_calls array from (event_id, props.k)."""
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    n_calls = (F.col("event_id") % MAX_CALLS + 1).cast("int")
    return F.transform(
        F.sequence(F.lit(0).cast("bigint"), (n_calls - 1).cast("bigint")),
        lambda i: F.struct(
            F.concat(F.lit("model_"), ((F.col("event_id") + i) % 2).cast("string")).alias(
                "model"
            ),
            _in_tokens_col(k, i).alias("input_tokens"),
            _out_tokens_col(k, i).alias("output_tokens"),
        ),
    )


def llm_cost_rollup(events: DataFrame) -> DataFrame:
    """The shared rollup transform — explode the planted calls → sum
    per (stage, model); works on both batch and streaming frames (the
    streaming twin lives in ``streaming/costs.py``).

    The planted ``array<struct>`` is exploded directly; no JSON is
    serialized or parsed on this path. Production ingest of a real
    JSONB column would add one ``from_json`` in front of the explode."""
    calls = events.select(
        F.col("event_type").alias("stage_name"),
        F.explode(_planted_calls()).alias("call"),
    )
    return (
        calls.groupBy("stage_name", F.col("call.model").alias("model"))
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.sum("call.input_tokens").alias("total_input_tokens"),
            F.sum("call.output_tokens").alias("total_output_tokens"),
        )
        .select(
            "stage_name",
            "model",
            "n_calls",
            "total_input_tokens",
            "total_output_tokens",
            (F.col("total_input_tokens") + F.col("total_output_tokens")).alias(
                "total_tokens"
            ),
            F.round(
                (
                    F.col("total_input_tokens") * IN_RATE_MICRO
                    + F.col("total_output_tokens") * OUT_RATE_MICRO
                )
                / F.lit(1_000_000.0),
                6,
            ).alias("total_cost"),
        )
    )


def monitor_llm_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """total_tokens/total_cost per (stage, model) over the llm_calls
    JSON array — the JSONB rollup of `database-schema.sql:267-269`.
    event_type plays stage_name."""
    return llm_cost_rollup(load_table(spark, sf_dir, "events"))


MONITOR_LLM_COSTS_SQL = f"""
WITH ev AS (
  SELECT event_id, event_type, CAST(props->>'k' AS BIGINT) AS k FROM events
),
calls AS (
  SELECT event_type AS stage_name,
         'model_' || CAST((event_id + i) % 2 AS VARCHAR) AS model,
         {IN_TOK_SQL} AS input_tokens,
         {OUT_TOK_SQL} AS output_tokens
  FROM ev, unnest(generate_series(0, event_id % {MAX_CALLS})) AS t(i)
)
SELECT stage_name,
       model,
       count(*) AS n_calls,
       CAST(sum(input_tokens) AS BIGINT)  AS total_input_tokens,
       CAST(sum(output_tokens) AS BIGINT) AS total_output_tokens,
       CAST(sum(input_tokens + output_tokens) AS BIGINT) AS total_tokens,
       round((sum(input_tokens) * {IN_RATE_MICRO}
              + sum(output_tokens) * {OUT_RATE_MICRO}) / 1000000.0, 6) AS total_cost
FROM calls
GROUP BY stage_name, model
"""


def embed_batch_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch embedding call-log joined back to the vectors it
    produced — stage_04's bounded-batch orchestration
    (`stage_04_embedding_generation.py:826`, max_batch_size=50) as a
    deterministic ledger. Documents are batched per source in doc_id
    order (source is the partition key, so the numbering window never
    concentrates the corpus in one task); each batch row carries the
    item count, the doc-id span, the summed token estimate, and the
    integer-micro cost; the embeddings table joins back on vec_id ==
    doc_id to prove every vector is accounted to exactly one batch."""
    docs = load_table(spark, sf_dir, "documents")
    # Integer division on both sides: DuckDB CAST(double AS BIGINT)
    # rounds half-to-even while Spark's cast truncates, so any double
    # intermediate here would flip boundary rows between engines.
    batched = docs.select(
        "doc_id",
        "source",
        (F.expr("n_chars div 4") + 1).alias("est_tokens"),
        F.expr(f"(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) div {EMBED_BATCH}").alias(
            "batch_seq"
        ),
    )
    log = batched.groupBy("source", "batch_seq").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.sum("est_tokens").alias("batch_tokens"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.lit(1).alias("has_vec")
    )
    vec_counts = (
        batched.join(emb, "doc_id")
        .groupBy("source", "batch_seq")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    return (
        log.join(vec_counts, ["source", "batch_seq"], "left")
        .select(
            "source",
            "batch_seq",
            "n_docs",
            F.coalesce("n_vectors", F.lit(0)).alias("n_vectors"),
            "first_doc",
            "last_doc",
            "batch_tokens",
            F.round(F.col("batch_tokens") * EMBED_RATE_MICRO / F.lit(1_000_000.0), 6).alias(
                "batch_cost"
            ),
        )
    )


EMBED_BATCH_LOG_SQL = f"""
WITH batched AS (
  SELECT doc_id, source,
         n_chars // 4 + 1 AS est_tokens,
         (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
             // {EMBED_BATCH} AS batch_seq
  FROM documents
),
log AS (
  SELECT source, batch_seq,
         count(*) AS n_docs,
         min(doc_id) AS first_doc,
         max(doc_id) AS last_doc,
         CAST(sum(est_tokens) AS BIGINT) AS batch_tokens
  FROM batched GROUP BY source, batch_seq
),
vec_counts AS (
  SELECT b.source, b.batch_seq, count(*) AS n_vectors
  FROM batched b JOIN embeddings e ON e.vec_id = b.doc_id
  GROUP BY b.source, b.batch_seq
)
SELECT l.source, l.batch_seq, l.n_docs,
       coalesce(v.n_vectors, 0) AS n_vectors,
       l.first_doc, l.last_doc, l.batch_tokens,
       round(l.batch_tokens * {EMBED_RATE_MICRO} / 1000000.0, 6) AS batch_cost
FROM log l LEFT JOIN vec_counts v USING (source, batch_seq)
"""


QUERIES = {
    "monitor_llm_costs": monitor_llm_costs,
    "embed_batch_log": embed_batch_log,
}

ORACLES = {
    "monitor_llm_costs": MONITOR_LLM_COSTS_SQL,
    "embed_batch_log": EMBED_BATCH_LOG_SQL,
}


# --- run-over-run stage-duration regression flags ----------------------------
#
# The question the process_monitor_logs table exists to answer
# (`database-schema.sql` stage timing columns): did a stage get
# slower between refresh runs? Runs are day buckets of the event
# stream, a stage's per-run duration is the exact integer-cent sum of
# its events' values (the planted stand-in for duration_ms); a lag
# window per stage compares consecutive runs and flags ratios above
# the 2x alert bar — the same regression rule this repo's own
# BASELINE.md applies to bench timings. One corpus-sized (stage, run)
# aggregation; the lag window and flags run on the bounded rollup.

REGRESSION_BAR_BP = 20000  # ratio > 2.0x flags


def monitor_stage_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_run = ev.groupBy(
        F.col("event_type").alias("stage_name"), F.to_date("ts").alias("run_day")
    ).agg(
        F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")).alias("duration_c"),
        F.count(F.lit(1)).alias("n_events"),
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("stage_name").orderBy("run_day")
    flagged = per_run.select(
        "stage_name",
        "run_day",
        "duration_c",
        "n_events",
        F.lag("duration_c").over(w).alias("prev_c"),
    ).select(
        "*",
        F.expr("cast(duration_c * 10000 div prev_c as bigint)").alias("ratio_bp"),
        (F.expr("duration_c * 10000 div prev_c") > REGRESSION_BAR_BP)
        .cast("int")
        .alias("regressed"),
    )
    return flagged.where(F.col("prev_c").isNotNull())


MONITOR_REGRESSION_SQL = f"""
WITH events_us AS (
  SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events
), per_run AS (
  SELECT event_type AS stage_name, CAST(ts AS DATE) AS run_day,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS duration_c,
         count(*) AS n_events
  FROM events_us GROUP BY 1, 2
), lagged AS (
  SELECT *, lag(duration_c) OVER (PARTITION BY stage_name ORDER BY run_day) AS prev_c
  FROM per_run
)
SELECT stage_name, run_day, duration_c, n_events, prev_c,
       CAST(duration_c * 10000 // prev_c AS BIGINT) AS ratio_bp,
       CAST(duration_c * 10000 // prev_c > {REGRESSION_BAR_BP} AS INT) AS regressed
FROM lagged WHERE prev_c IS NOT NULL
"""

QUERIES["monitor_stage_regression"] = monitor_stage_regression
ORACLES["monitor_stage_regression"] = MONITOR_REGRESSION_SQL


# --- incremental view maintenance of the rollup ------------------------------
#
# The refresh-cost story applied to aggregates: a nightly batch must
# not re-scan history to refresh the monitor rollup — sum/count are
# algebraically mergeable, so new_rollup = merge(old_rollup, delta
# rollup) touches only the delta (classic IVM; the HLL-merge-days
# contract applied to plain aggregates). The planted delta is every
# 13th event ("tonight's arrivals"); the result carries BOTH the
# merged rollup and the from-scratch recompute per group with a match
# flag, so the driver hash-checks the IVM algebra itself. Costs: one
# pass over base (amortized: in production old_rollup is stored), one
# pass over the delta, merge on the bounded rollup table.

def monitor_rollup_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("event_type").alias("stage_name"),
        F.to_date("ts").alias("day"),
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    )
    base = ev.where(F.col("event_id") % 13 != 0)
    delta = ev.where(F.col("event_id") % 13 == 0)

    def rollup(df):
        return df.groupBy("stage_name", "day").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")
        )

    merged = (
        rollup(base).unionByName(rollup(delta))
        .groupBy("stage_name", "day")
        .agg(F.sum("n").alias("n_events_ivm"), F.sum("c").alias("cents_ivm"))
    )
    recomputed = rollup(ev).select(
        "stage_name", "day",
        F.col("n").alias("n_events_full"), F.col("c").alias("cents_full"),
    )
    return merged.join(recomputed, ["stage_name", "day"]).select(
        "stage_name",
        "day",
        "n_events_ivm",
        "cents_ivm",
        "n_events_full",
        "cents_full",
        (
            (F.col("n_events_ivm") == F.col("n_events_full"))
            & (F.col("cents_ivm") == F.col("cents_full"))
        ).cast("int").alias("ivm_matches"),
    )


MONITOR_IVM_SQL = """
WITH events_us AS (
  SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events
), ev AS (
  SELECT event_id, event_type AS stage_name, CAST(ts AS DATE) AS day,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events_us
), base AS (
  SELECT stage_name, day, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
  FROM ev WHERE event_id % 13 <> 0 GROUP BY 1, 2
), delta AS (
  SELECT stage_name, day, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
  FROM ev WHERE event_id % 13 = 0 GROUP BY 1, 2
), merged AS (
  SELECT stage_name, day, CAST(sum(n) AS BIGINT) AS n_events_ivm,
         CAST(sum(c) AS BIGINT) AS cents_ivm
  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
  GROUP BY 1, 2
), recomputed AS (
  SELECT stage_name, day, count(*) AS n_events_full,
         CAST(sum(cents) AS BIGINT) AS cents_full
  FROM ev GROUP BY 1, 2
)
SELECT m.stage_name, m.day, n_events_ivm, cents_ivm, n_events_full, cents_full,
       CAST(n_events_ivm = n_events_full AND cents_ivm = cents_full AS INT) AS ivm_matches
FROM merged m JOIN recomputed r ON m.stage_name = r.stage_name AND m.day = r.day
"""

QUERIES["monitor_rollup_ivm"] = monitor_rollup_ivm
ORACLES["monitor_rollup_ivm"] = MONITOR_IVM_SQL


# --- semi-structured schema profile ------------------------------------------
#
# Schema-drift detection for the JSONB column (`process_monitor_logs`'
# llm_calls/props shape): producers add keys over time, and the
# consumer's first question is "which keys exist, how often, and with
# what type?". Events get a planted enriched payload (base props key
# + 'ua' on every 3rd event + 'ref' on every 5th — the house planted
# pattern), and the profile reports per key: presence count/share and
# the numeric share among present values. Extraction is per-row
# get_json_object (JVM); the profile is one bounded aggregation.

_PROFILE_KEYS = ("k", "ua", "ref")


def props_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "props")
    enriched = ev.select(
        "event_id",
        F.concat(
            F.expr("substring(props, 1, length(props) - 1)"),
            F.when(F.col("event_id") % 3 == 0, F.lit(', "ua": "bot"')).otherwise(F.lit("")),
            F.when(
                F.col("event_id") % 5 == 0,
                F.concat(F.lit(', "ref": '), (F.col("event_id") % 7).cast("string")),
            ).otherwise(F.lit("")),
            F.lit("}"),
        ).alias("j"),
    )
    total = enriched.agg(F.count(F.lit(1)).alias("n_events"))
    out = None
    for key in _PROFILE_KEYS:
        val = F.get_json_object("j", f"$.{key}")
        row = enriched.agg(
            F.lit(key).alias("key"),
            F.count(val).alias("n_present"),
            F.sum(val.rlike("^[0-9]+$").cast("bigint")).cast("bigint").alias("n_numeric"),
        )
        out = row if out is None else out.unionByName(row)
    return out.crossJoin(F.broadcast(total)).select(
        "key",
        "n_present",
        F.coalesce("n_numeric", F.lit(0)).alias("n_numeric"),
        F.expr("cast(n_present * 10000 div n_events as bigint)").alias("coverage_bp"),
    )


PROPS_SCHEMA_SQL = """
WITH enriched AS (
  SELECT event_id,
         substring(props, 1, length(props) - 1)
         || CASE WHEN event_id % 3 = 0 THEN ', "ua": "bot"' ELSE '' END
         || CASE WHEN event_id % 5 = 0 THEN ', "ref": ' || CAST(event_id % 7 AS VARCHAR) ELSE '' END
         || '}' AS j
  FROM events
), total AS (SELECT count(*) AS n_events FROM enriched),
arms AS (
  SELECT 'k' AS key, count(j->>'k') AS n_present,
         CAST(sum(CASE WHEN regexp_matches(j->>'k', '^[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric
  FROM enriched
  UNION ALL
  SELECT 'ua', count(j->>'ua'),
         CAST(sum(CASE WHEN regexp_matches(j->>'ua', '^[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT)
  FROM enriched
  UNION ALL
  SELECT 'ref', count(j->>'ref'),
         CAST(sum(CASE WHEN regexp_matches(j->>'ref', '^[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT)
  FROM enriched
)
SELECT key, CAST(n_present AS BIGINT) AS n_present,
       coalesce(n_numeric, 0) AS n_numeric,
       CAST(n_present * 10000 // n_events AS BIGINT) AS coverage_bp
FROM arms, total
"""

QUERIES["props_schema_profile"] = props_schema_profile
ORACLES["props_schema_profile"] = PROPS_SCHEMA_SQL


# --- per-stage retry/failure ledger -------------------------------------------
#
# Reference parity: both call loops retry with backoff and log failures
# per stage — `semantic search/stage_04_embedding_generation.py:483`
# (`for attempt in range(API_RETRY_ATTEMPTS)` with
# `time.sleep(API_RETRY_DELAY * (attempt + 1))`, API_RETRY_ATTEMPTS=3,
# API_RETRY_DELAY=5, terminal failure after 3) and `catalog search/
# stage3_generate_summaries.py:513 call_gpt_summarizer` (same loop via
# its NAS-write twin `:370`, max_retries=3). ``llm_call_attempts``
# models the ledger process_monitor_logs accumulates from those loops:
# every planted call carries an attempt sequence (first-try success /
# success after k retries / terminal failure after 3) with the linear
# backoff time those sleeps cost, rolled up per stage and joined to the
# same stage's token/cost totals from the ``monitor_llm_costs`` model.
#
# Scale: the explode fan-out is the bounded llm_calls array (≤ 3 per
# event); both rollups aggregate to stage grain (a handful of rows),
# so the join is a broadcast of metadata-sized sides. Integer
# micro-dollar sums keep the cost column exact across engines.

RETRY_DELAY_S = 5  # API_RETRY_DELAY
MAX_ATTEMPTS = 3  # API_RETRY_ATTEMPTS


def llm_call_attempts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One events scan, one explode, one (stage) aggregation — the
    # oracle's own shape.  The token/cost side needs only the per-stage
    # token sums; those are the same planted integer formulas the
    # ``llm_cost_rollup`` JSON round-trip parses back out (the round
    # trip is byte-exact on the planted bigints), so computing them in
    # the SAME exploded pass as the retry ledger is value-identical and
    # drops the second corpus scan + stage-grain join.
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "props")
    calls = ev.select(
        F.col("event_type").alias("stage_name"),
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k"),
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("event_id") % MAX_CALLS)
        ).alias("i"),
    )
    # planted outcome per call: r in 0..6 → first-try success, 7 →
    # success on attempt 2, 8 → success on attempt 3, 9 → terminal
    # failure (all 3 attempts fail). Backoff = Σ RETRY_DELAY·(j+1) over
    # failed attempts j (the reference sleeps after EVERY failure,
    # including the last): 7 → 5 s, 8 → 15 s, 9 → 30 s.
    r = (F.col("event_id") * 7 + F.col("i") * 11) % 10
    shaped = calls.select(
        "stage_name",
        F.when(r <= 6, 1).when(r == 7, 2).otherwise(3).cast("bigint").alias("n_attempts"),
        (r != 9).cast("bigint").alias("succeeded"),
        F.when(r <= 6, 0)
        .when(r == 7, RETRY_DELAY_S)
        .when(r == 8, 3 * RETRY_DELAY_S)
        .otherwise(6 * RETRY_DELAY_S)
        .cast("bigint")
        .alias("backoff_s"),
        _in_tokens_col(F.col("k"), F.col("i")).alias("input_tokens"),
        _out_tokens_col(F.col("k"), F.col("i")).alias("output_tokens"),
    )
    return shaped.groupBy("stage_name").agg(
        F.count(F.lit(1)).alias("n_calls"),
        F.sum("succeeded").alias("n_success"),
        (F.count(F.lit(1)) - F.sum("succeeded")).alias("n_terminal_failures"),
        F.sum("n_attempts").alias("total_attempts"),
        (F.sum("n_attempts") - F.count(F.lit(1))).alias("total_retries"),
        F.sum("backoff_s").alias("total_backoff_seconds"),
        F.sum(F.col("input_tokens") + F.col("output_tokens")).alias("total_tokens"),
        F.round(
            (
                F.sum("input_tokens") * IN_RATE_MICRO
                + F.sum("output_tokens") * OUT_RATE_MICRO
            )
            / F.lit(1_000_000.0),
            6,
        ).alias("total_cost"),
    )


LLM_CALL_ATTEMPTS_SQL = f"""
WITH ev AS (
  SELECT event_id, event_type, CAST(props->>'k' AS BIGINT) AS k FROM events
),
calls AS (
  SELECT event_type AS stage_name, event_id, k, i,
         (event_id * 7 + i * 11) % 10 AS r
  FROM ev, unnest(generate_series(0, event_id % {MAX_CALLS})) AS t(i)
),
shaped AS (
  SELECT stage_name,
         CASE WHEN r <= 6 THEN 1 WHEN r = 7 THEN 2 ELSE 3 END AS n_attempts,
         CAST(r <> 9 AS BIGINT) AS succeeded,
         CASE WHEN r <= 6 THEN 0 WHEN r = 7 THEN {RETRY_DELAY_S}
              WHEN r = 8 THEN {3 * RETRY_DELAY_S} ELSE {6 * RETRY_DELAY_S} END AS backoff_s,
         {IN_TOK_SQL} AS input_tokens,
         {OUT_TOK_SQL} AS output_tokens
  FROM calls
)
SELECT stage_name,
       count(*) AS n_calls,
       CAST(sum(succeeded) AS BIGINT) AS n_success,
       CAST(count(*) - sum(succeeded) AS BIGINT) AS n_terminal_failures,
       CAST(sum(n_attempts) AS BIGINT) AS total_attempts,
       CAST(sum(n_attempts) - count(*) AS BIGINT) AS total_retries,
       CAST(sum(backoff_s) AS BIGINT) AS total_backoff_seconds,
       CAST(sum(input_tokens + output_tokens) AS BIGINT) AS total_tokens,
       round((sum(input_tokens) * {IN_RATE_MICRO}
              + sum(output_tokens) * {OUT_RATE_MICRO}) / 1000000.0, 6) AS total_cost
FROM shaped
GROUP BY stage_name
"""

QUERIES["llm_call_attempts"] = llm_call_attempts
ORACLES["llm_call_attempts"] = LLM_CALL_ATTEMPTS_SQL


# --- refresh-cycle distribution drift (PSI) ----------------------------------
#
# Population Stability Index between the previous and current refresh
# windows — the standard deployment-monitoring statistic (public credit
# -scoring / ML-monitoring practice) applied to the event stream the
# reference's process monitor tracks: the time range splits at its
# midpoint into reference/current snapshots, per-type decile edges come
# from the REFERENCE snapshot only (the production convention: bins are
# frozen at baseline time), and PSI = sum (p_cur - p_ref) *
# ln(p_cur / p_ref) over the ten bins with add-one smoothing.
#
# Determinism: the equidepth integer-cent + milli-cent edge snap device
# (see olap.events_histogram_equidepth), proportions as truncated basis
# points of positive integers (Spark `div` == DuckDB `//` on
# positives), and ln() floor-quantized to 1e-4 (the zipf_fit device) so
# the summed PSI is an exact integer in both engines (scaled 1e8).
#
# Scale design: one 1-row time-range broadcast, one per-type percentile
# aggregate (mergeable GK sketch at 100 TB), one broadcast edge join,
# one (type, bin) count with map-side partials, then a 10-row-per-type
# fold — no corpus-sized shuffle beyond the single keyed count.

PSI_BINS = 10
PSI_ALERT_SCALED = 10_000_000  # PSI > 0.1 at the 1e8 integer scale


def quantile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_c"),
    )
    rng = ev.agg(
        F.expr("(min(ts_us) + max(ts_us)) div 2").alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(rng)).select(
        "event_type", "v_c", (F.col("ts_us") <= F.col("mid")).alias("is_ref")
    )
    qs = ", ".join(str(i / PSI_BINS) for i in range(1, PSI_BINS))
    edges = (
        tagged.where("is_ref")
        .groupBy("event_type")
        .agg(
            F.expr(
                f"transform(percentile(v_c, array({qs})),"
                " e -> CAST(floor(e * 1000 + 0.5) AS BIGINT))"
            ).alias("edges")
        )
    )
    binned = tagged.join(F.broadcast(edges), "event_type").select(
        "event_type",
        "is_ref",
        F.size(F.filter("edges", lambda e: e < F.col("v_c") * 1000)).alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.col("is_ref").cast("bigint")).alias("r_cnt"),
        F.sum((~F.col("is_ref")).cast("bigint")).alias("c_cnt"),
    )
    per_type = counts.groupBy("event_type").agg(
        F.collect_list(F.struct("bin", "r_cnt", "c_cnt")).alias("bins"),
        F.sum("r_cnt").alias("nr"),
        F.sum("c_cnt").alias("nc"),
    )
    terms = per_type.select(
        "event_type",
        "nr",
        "nc",
        "bins",
        F.explode(F.sequence(F.lit(0), F.lit(PSI_BINS - 1))).alias("b"),
    ).select(
        "event_type",
        "nr",
        "nc",
        (
            F.coalesce(
                F.get(F.filter("bins", lambda x: x["bin"] == F.col("b")), 0)["r_cnt"],
                F.lit(0),
            )
            + 1
        ).alias("rp"),
        (
            F.coalesce(
                F.get(F.filter("bins", lambda x: x["bin"] == F.col("b")), 0)["c_cnt"],
                F.lit(0),
            )
            + 1
        ).alias("cp"),
    )
    scored = terms.select(
        "event_type",
        "nr",
        "nc",
        F.expr(
            f"(cp * 10000) div (nc + {PSI_BINS}) - (rp * 10000) div (nr + {PSI_BINS})"
        ).alias("dp_bp"),
        F.expr(
            f"CAST(floor(ln(cp * (nr + {PSI_BINS})) * 10000) AS BIGINT)"
            f" - CAST(floor(ln(rp * (nc + {PSI_BINS})) * 10000) AS BIGINT)"
        ).alias("lr_q"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.max("nr").cast("bigint").alias("n_ref"),
            F.max("nc").cast("bigint").alias("n_cur"),
            F.sum(F.col("dp_bp") * F.col("lr_q")).cast("bigint").alias("psi_scaled"),
            F.max(F.abs("dp_bp")).cast("bigint").alias("max_shift_bp"),
        )
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            "psi_scaled",
            "max_shift_bp",
            (F.col("psi_scaled") > PSI_ALERT_SCALED).cast("int").alias("drift_flag"),
        )
    )


PSI_SQL = f"""
WITH events_us AS (
  SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events
),
ev AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
  FROM events_us
),
rng AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS mid FROM ev),
tagged AS (
  SELECT event_type, v_c, ts_us <= mid AS is_ref FROM ev, rng
),
edges AS (
  SELECT event_type,
         list_transform(
           quantile_cont(v_c, [{", ".join(str(i / PSI_BINS) for i in range(1, PSI_BINS))}]),
           e -> CAST(floor(e * 1000 + 0.5) AS BIGINT)) AS edges
  FROM tagged WHERE is_ref GROUP BY event_type
),
binned AS (
  SELECT t.event_type, t.is_ref,
         len(list_filter(edges, x -> x < t.v_c * 1000)) AS bin
  FROM tagged t JOIN edges USING (event_type)
),
counts AS (
  SELECT event_type, bin,
         CAST(sum(CAST(is_ref AS BIGINT)) AS BIGINT) AS r_cnt,
         CAST(sum(CAST(NOT is_ref AS BIGINT)) AS BIGINT) AS c_cnt
  FROM binned GROUP BY event_type, bin
),
tot AS (
  SELECT event_type,
         CAST(sum(r_cnt) AS BIGINT) AS nr,
         CAST(sum(c_cnt) AS BIGINT) AS nc,
         list(struct_pack(bin := bin, r := r_cnt, c := c_cnt)) AS bins
  FROM counts GROUP BY event_type
),
terms AS (
  SELECT event_type, nr, nc,
         coalesce(list_filter(bins, x -> x.bin = b)[1].r, 0) + 1 AS rp,
         coalesce(list_filter(bins, x -> x.bin = b)[1].c, 0) + 1 AS cp
  FROM tot, (SELECT unnest(range(0, {PSI_BINS})) AS b)
),
scored AS (
  SELECT event_type, nr, nc,
         (cp * 10000) // (nc + {PSI_BINS}) - (rp * 10000) // (nr + {PSI_BINS}) AS dp_bp,
         CAST(floor(ln(cp * (nr + {PSI_BINS})) * 10000) AS BIGINT)
           - CAST(floor(ln(rp * (nc + {PSI_BINS})) * 10000) AS BIGINT) AS lr_q
  FROM terms
)
SELECT event_type,
       CAST(max(nr) AS BIGINT) AS n_ref,
       CAST(max(nc) AS BIGINT) AS n_cur,
       CAST(sum(dp_bp * lr_q) AS BIGINT) AS psi_scaled,
       CAST(max(abs(dp_bp)) AS BIGINT) AS max_shift_bp,
       CAST(CAST(sum(dp_bp * lr_q) AS BIGINT) > {PSI_ALERT_SCALED} AS INT) AS drift_flag
FROM scored GROUP BY event_type
"""

QUERIES["quantile_drift_psi"] = quantile_drift_psi
ORACLES["quantile_drift_psi"] = PSI_SQL


# --- refresh DAG critical path ------------------------------------------------
#
# The orchestration view of the reference's pipelines: per refresh
# run, the three prep pipelines (docx prep, excel prep, pdf merger)
# run in PARALLEL and join the serial catalog chain at
# stage2_process_documents, which then flows stage3 -> stage4 ->
# stage5 -> stage6 (the repo layout's actual dependency structure).
# Per run (one per day of the event stream), stage durations derive
# deterministically from that day's per-type event volumes (the
# planted-data convention), and the earliest-finish relaxation over
# the fixed DAG yields the makespan, which input dominates the join
# point, and what parallelism saves vs serializing everything — the
# scheduling read an orchestration owner uses to pick what to
# optimize first.
#
# Plan: one (day, type) aggregation pivoted by conditional sums, then
# pure per-row integer arithmetic over the bounded 7-node DAG — the
# relaxation unrolls at compile time (DAG is fixed), no joins, no
# iteration.

def refresh_dag_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        *[
            F.sum((F.col("event_type") == t).cast("bigint")).alias(f"c_{t}")
            for t in ("view", "click", "purchase", "signup", "error")
        ]
    )
    d = daily.select(
        "day",
        F.expr("c_view div 10").alias("d_stage1"),
        F.expr("c_click div 8").alias("d_stage2"),
        F.expr("c_purchase div 2").alias("d_stage3"),
        F.expr("c_signup div 3").alias("d_stage4"),
        F.expr("c_error div 2 + 30").alias("d_stage5"),
        F.expr("(c_view + c_click + c_purchase + c_signup + c_error) div 20").alias(
            "d_stage6"
        ),
        F.expr("c_view div 12").alias("d_prep_docx"),
        F.expr("c_click div 15").alias("d_prep_excel"),
        F.expr("c_purchase div 4").alias("d_pdf_merge"),
    )
    join_start = F.greatest(
        F.col("d_stage1"), F.col("d_prep_docx"), F.col("d_prep_excel"), F.col("d_pdf_merge")
    )
    wait_on = (
        F.when(join_start == F.col("d_pdf_merge"), "pdf_merge")
        .when(join_start == F.col("d_prep_docx"), "prep_docx")
        .when(join_start == F.col("d_prep_excel"), "prep_excel")
        .otherwise("stage1")
    )
    chain_after = (
        F.col("d_stage2") + F.col("d_stage3") + F.col("d_stage4")
        + F.col("d_stage5") + F.col("d_stage6")
    )
    total_work = (
        F.col("d_stage1") + chain_after + F.col("d_prep_docx")
        + F.col("d_prep_excel") + F.col("d_pdf_merge")
    )
    makespan = join_start + chain_after
    return d.select(
        "day",
        makespan.cast("bigint").alias("makespan_s"),
        join_start.cast("bigint").alias("stage2_start_s"),
        wait_on.alias("stage2_waits_on"),
        total_work.cast("bigint").alias("total_work_s"),
        (total_work - makespan).cast("bigint").alias("parallel_saving_s"),
    )


DAG_CRITICAL_SQL = """
WITH events_us AS (
  SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events
),
daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c_view,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c_click,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c_purchase,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS c_signup,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS c_error
  FROM events_us GROUP BY 1
),
d AS (
  SELECT day,
         c_view // 10 AS d_stage1, c_click // 8 AS d_stage2,
         c_purchase // 2 AS d_stage3, c_signup // 3 AS d_stage4,
         c_error // 2 + 30 AS d_stage5,
         (c_view + c_click + c_purchase + c_signup + c_error) // 20 AS d_stage6,
         c_view // 12 AS d_prep_docx, c_click // 15 AS d_prep_excel,
         c_purchase // 4 AS d_pdf_merge
  FROM daily
)
SELECT day,
       CAST(greatest(d_stage1, d_prep_docx, d_prep_excel, d_pdf_merge)
            + d_stage2 + d_stage3 + d_stage4 + d_stage5 + d_stage6 AS BIGINT) AS makespan_s,
       CAST(greatest(d_stage1, d_prep_docx, d_prep_excel, d_pdf_merge) AS BIGINT) AS stage2_start_s,
       CASE WHEN greatest(d_stage1, d_prep_docx, d_prep_excel, d_pdf_merge) = d_pdf_merge THEN 'pdf_merge'
            WHEN greatest(d_stage1, d_prep_docx, d_prep_excel, d_pdf_merge) = d_prep_docx THEN 'prep_docx'
            WHEN greatest(d_stage1, d_prep_docx, d_prep_excel, d_pdf_merge) = d_prep_excel THEN 'prep_excel'
            ELSE 'stage1' END AS stage2_waits_on,
       CAST(d_stage1 + d_stage2 + d_stage3 + d_stage4 + d_stage5 + d_stage6
            + d_prep_docx + d_prep_excel + d_pdf_merge AS BIGINT) AS total_work_s,
       CAST(d_stage1 + d_stage2 + d_stage3 + d_stage4 + d_stage5 + d_stage6
            + d_prep_docx + d_prep_excel + d_pdf_merge
            - (greatest(d_stage1, d_prep_docx, d_prep_excel, d_pdf_merge)
               + d_stage2 + d_stage3 + d_stage4 + d_stage5 + d_stage6) AS BIGINT) AS parallel_saving_s
FROM d
"""

QUERIES["refresh_dag_critical_path"] = refresh_dag_critical_path
ORACLES["refresh_dag_critical_path"] = DAG_CRITICAL_SQL


# --- props schema drift --------------------------------------------------------
#
# The ops alarm props_schema_profile feeds: did the event payload
# schema CHANGE mid-stream?  The stream is split at its time midpoint
# (the CUPED device) and per-key presence coverage is compared across
# halves.  The planted drift is the classic one: a new SDK ships a
# field ("sdk") that exists only after the midpoint — it must surface
# as status 'new', while the steady planted keys (k / ua / ref, same
# enrichment as props_schema_profile) read 'stable'.  Coverage in
# truncated bp per half; signed drift = late - early (subtraction of
# non-negative bp, no negative division).
#
# Scale: midpoint from a 1-row broadcast; ONE corpus pass computes
# all per-key × per-half counts (conditional sums), unpivoted with
# stack onto the bounded key grid — no per-key rescans.

_DRIFT_KEYS = ("k", "ua", "ref", "sdk")
DRIFT_BAND_BP = 500


def props_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "props")
    mid = ev.agg(
        F.expr(
            "timestamp_micros(cast((unix_micros(min(ts)) + unix_micros(max(ts))) div 2"
            " as bigint))"
        ).alias("mid_ts")
    )
    enriched = ev.crossJoin(F.broadcast(mid)).select(
        (F.col("ts") >= F.col("mid_ts")).cast("int").alias("late"),
        F.concat(
            F.expr("substring(props, 1, length(props) - 1)"),
            F.when(F.col("event_id") % 3 == 0, F.lit(', "ua": "bot"')).otherwise(F.lit("")),
            F.when(
                F.col("event_id") % 5 == 0,
                F.concat(F.lit(', "ref": '), (F.col("event_id") % 7).cast("string")),
            ).otherwise(F.lit("")),
            F.when(F.col("ts") >= F.col("mid_ts"), F.lit(', "sdk": "2"')).otherwise(
                F.lit("")
            ),
            F.lit("}"),
        ).alias("j"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum("late").cast("bigint").alias("n_late"),
    ]
    for key in _DRIFT_KEYS:
        val = F.get_json_object("j", f"$.{key}")
        aggs.append(
            F.sum(((F.col("late") == 0) & val.isNotNull()).cast("bigint"))
            .cast("bigint")
            .alias(f"early_{key}")
        )
        aggs.append(
            F.sum(((F.col("late") == 1) & val.isNotNull()).cast("bigint"))
            .cast("bigint")
            .alias(f"late_{key}")
        )
    wide = enriched.agg(*aggs)
    stacked = wide.select(
        (F.col("n_events") - F.col("n_late")).alias("n_early"),
        "n_late",
        F.expr(
            "stack({}, {})".format(
                len(_DRIFT_KEYS),
                ", ".join(f"'{k}', early_{k}, late_{k}" for k in _DRIFT_KEYS),
            )
        ).alias("key", "early_n", "late_n"),
    )
    scored = stacked.select(
        "key", "early_n", "late_n",
        F.expr("cast(early_n * 10000 div n_early as bigint)").alias("early_cov_bp"),
        F.expr("cast(late_n * 10000 div n_late as bigint)").alias("late_cov_bp"),
    ).select(
        "key", "early_n", "late_n", "early_cov_bp", "late_cov_bp",
        (F.col("late_cov_bp") - F.col("early_cov_bp")).cast("bigint").alias("drift_bp"),
    )
    return scored.select(
        "key", "early_n", "late_n", "early_cov_bp", "late_cov_bp", "drift_bp",
        F.when((F.col("early_n") == 0) & (F.col("late_n") > 0), "new")
        .when((F.col("late_n") == 0) & (F.col("early_n") > 0), "dropped")
        .when(F.abs("drift_bp") > DRIFT_BAND_BP, "drifting")
        .otherwise("stable")
        .alias("status"),
    )


PROPS_DRIFT_SQL = f"""
WITH events_us AS (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events),
mid AS (
  SELECT make_timestamp((epoch_us(min(ts)) + epoch_us(max(ts))) // 2) AS mid_ts
  FROM events_us
),
enriched AS (
  SELECT CAST(ts >= mid_ts AS INT) AS late,
         substring(props, 1, length(props) - 1)
         || CASE WHEN event_id % 3 = 0 THEN ', "ua": "bot"' ELSE '' END
         || CASE WHEN event_id % 5 = 0 THEN ', "ref": ' || CAST(event_id % 7 AS VARCHAR) ELSE '' END
         || CASE WHEN ts >= mid_ts THEN ', "sdk": "2"' ELSE '' END
         || '}}' AS j
  FROM events_us, mid
),
wide AS (
  SELECT count(*)::BIGINT AS n_events, CAST(sum(late) AS BIGINT) AS n_late,
         {", ".join(
             f"CAST(sum(CASE WHEN late = 0 AND (j->>'{k}') IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS early_{k},"
             f" CAST(sum(CASE WHEN late = 1 AND (j->>'{k}') IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS late_{k}"
             for k in _DRIFT_KEYS)}
  FROM enriched
),
stacked AS (
  {" UNION ALL ".join(
      f"SELECT '{k}' AS key, early_{k} AS early_n, late_{k} AS late_n,"
      " n_events - n_late AS n_early, n_late FROM wide"
      for k in _DRIFT_KEYS)}
),
scored AS (
  SELECT key, early_n, late_n,
         CAST(early_n * 10000 // n_early AS BIGINT) AS early_cov_bp,
         CAST(late_n * 10000 // n_late AS BIGINT) AS late_cov_bp
  FROM stacked
)
SELECT key, early_n, late_n, early_cov_bp, late_cov_bp,
       CAST(late_cov_bp - early_cov_bp AS BIGINT) AS drift_bp,
       CASE WHEN early_n = 0 AND late_n > 0 THEN 'new'
            WHEN late_n = 0 AND early_n > 0 THEN 'dropped'
            WHEN abs(late_cov_bp - early_cov_bp) > {DRIFT_BAND_BP} THEN 'drifting'
            ELSE 'stable' END AS status
FROM scored
"""

QUERIES["props_schema_drift"] = props_schema_drift
ORACLES["props_schema_drift"] = PROPS_DRIFT_SQL


# --- month-end cost forecast ----------------------------------------------------
#
# The budget page over monitor_llm_costs' rollup (the reference tracks
# total_tokens/total_cost per stage in process_monitor_logs;
# database-schema.sql:267-269): month-to-date spend per stage, the
# run-rate projection to month end, and an over-budget flag — the
# question a cost dashboard exists to answer.  Spend stays in exact
# integer micro-dollars end to end (the rounded display double in
# monitor_llm_costs is NOT reused); projection = mtd + (mtd div
# days-elapsed) x days-remaining, all truncating integer arithmetic.
#
# Plan: the same explode the rollup rides, with the day
# carried; one (stage, day) agg then a bounded per-stage agg.

MONTH_DAYS = 31  # the planted stream lives in January
# budget = fleet-average projection with a per-stage tilt (85% + 3%/char
# of the stage name) — data-derived so the flag discriminates at any SF
BUDGET_TILT_BASE = 85
BUDGET_TILT_PER_CHAR = 3


def monitor_cost_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "props", F.to_date("ts").alias("day")
    )
    calls = ev.select(
        F.col("event_type").alias("stage_name"),
        "day",
        F.explode(_planted_calls()).alias("call"),
    ).select(
        "stage_name",
        "day",
        (
            F.col("call.input_tokens") * IN_RATE_MICRO
            + F.col("call.output_tokens") * OUT_RATE_MICRO
        ).alias("cost_micro"),
    )
    daily = calls.groupBy("stage_name", "day").agg(
        F.sum("cost_micro").alias("day_cost")
    )
    agg = daily.groupBy("stage_name").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max(F.dayofmonth("day")).alias("elapsed"),
        F.sum("day_cost").alias("mtd_micro"),
    )
    proj = (
        f"mtd_micro + (mtd_micro div elapsed) * ({MONTH_DAYS} - elapsed)"
    )
    fleet = agg.agg(
        F.expr(f"sum({proj}) div count(*)").cast("bigint").alias("avg_proj")
    )
    agg = agg.crossJoin(F.broadcast(fleet))
    budget = (
        f"(avg_proj * ({BUDGET_TILT_BASE} + length(stage_name) *"
        f" {BUDGET_TILT_PER_CHAR}) div 100)"
    )
    return agg.select(
        "stage_name",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("elapsed").cast("bigint").alias("days_elapsed"),
        F.col("mtd_micro").cast("bigint").alias("mtd_micro"),
        F.expr("mtd_micro div elapsed").cast("bigint").alias("daily_rate_micro"),
        F.expr(proj).cast("bigint").alias("projected_micro"),
        F.expr(budget).cast("bigint").alias("budget_micro"),
        F.expr(f"cast({proj} > {budget} as int)").alias("over_budget"),
    )


COST_FORECAST_SQL = f"""
WITH ev AS (
  SELECT event_id, event_type, CAST(ts AS DATE) AS day,
         CAST(props->>'k' AS BIGINT) AS k
  FROM (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events)
),
calls AS (
  SELECT event_type AS stage_name, day,
         ({IN_TOK_SQL}) * {IN_RATE_MICRO}
         + ({OUT_TOK_SQL}) * {OUT_RATE_MICRO} AS cost_micro
  FROM ev, unnest(generate_series(0, event_id % {MAX_CALLS})) AS t(i)
),
daily AS (
  SELECT stage_name, day, CAST(sum(cost_micro) AS BIGINT) AS day_cost
  FROM calls GROUP BY 1, 2
),
agg AS (
  SELECT stage_name, count(*)::BIGINT AS n_days,
         CAST(max(date_part('day', day)) AS BIGINT) AS elapsed,
         CAST(sum(day_cost) AS BIGINT) AS mtd_micro
  FROM daily GROUP BY stage_name
),
fleet AS (
  SELECT CAST(sum(mtd_micro + (mtd_micro // elapsed) * ({MONTH_DAYS} - elapsed))
              // count(*) AS BIGINT) AS avg_proj
  FROM agg
)
SELECT stage_name, n_days, elapsed AS days_elapsed, mtd_micro,
       CAST(mtd_micro // elapsed AS BIGINT) AS daily_rate_micro,
       CAST(mtd_micro + (mtd_micro // elapsed) * ({MONTH_DAYS} - elapsed) AS BIGINT) AS projected_micro,
       CAST(avg_proj * ({BUDGET_TILT_BASE} + length(stage_name) * {BUDGET_TILT_PER_CHAR}) // 100 AS BIGINT) AS budget_micro,
       CAST(mtd_micro + (mtd_micro // elapsed) * ({MONTH_DAYS} - elapsed)
            > avg_proj * ({BUDGET_TILT_BASE} + length(stage_name) * {BUDGET_TILT_PER_CHAR}) // 100 AS INT) AS over_budget
FROM agg CROSS JOIN fleet
"""

QUERIES["monitor_cost_forecast"] = monitor_cost_forecast
ORACLES["monitor_cost_forecast"] = COST_FORECAST_SQL


# --- incremental JOIN view maintenance --------------------------------------------
#
# The join rung of the IVM ladder monitor_rollup_ivm starts (classic
# delta rules, Gupta & Mumick 1995): for V = A ⋈ B under signed deltas,
#   ΔV = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
# — the inclusion-exclusion a streaming warehouse applies instead of
# re-joining history. Planted refresh cycle: 1/17 of orders arrive as
# inserts (ΔA, +1) and 1/29 of customers MOVE NATION — an update
# modeled as the signed pair delete(old row, −1) / insert(new row, +1).
# The maintained view is per-nation order revenue; the operator applies
# the delta rule to the OLD view state and audits the result against a
# full recompute on the new state in the same row (`ivm_matches`),
# exactly the self-check convention of monitor_rollup_ivm.
#
# Scale: the three delta joins touch only delta-sized order slices or
# broadcastable customer sides; the full recompute exists only as the
# audit column (at 100 TB it is the thing you no longer run — the
# delta path replaces a history re-join with batch-sized work).

def join_ivm_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o_base = orders.where(F.col("o_orderkey") % 17 != 0)
    o_delta = orders.where(F.col("o_orderkey") % 17 == 0).withColumn("sgn", F.lit(1))
    moved = F.col("c_custkey") % 29 == 0
    c_old = cust  # pre-refresh state
    c_new = cust.select(
        "c_custkey",
        F.when(moved, (F.col("c_nationkey") + 1) % 25).otherwise(
            F.col("c_nationkey")
        ).alias("c_nationkey"),
    )
    c_delta = (
        cust.where(moved)
        .select("c_custkey", "c_nationkey", F.lit(-1).alias("sgn"))
        .unionByName(
            cust.where(moved).select(
                "c_custkey",
                ((F.col("c_nationkey") + 1) % 25).alias("c_nationkey"),
                F.lit(1).alias("sgn"),
            )
        )
    )

    def agg(df, sgn_col):
        return df.groupBy("c_nationkey").agg(
            F.sum(F.expr(sgn_col)).cast("bigint").alias("n"),
            F.sum(F.expr(f"cents * ({sgn_col})")).cast("bigint").alias("c"),
        )

    v_old = agg(o_base.join(F.broadcast(c_old), o_base.o_custkey == c_old.c_custkey), "1")
    d1 = agg(o_delta.join(F.broadcast(c_old), o_delta.o_custkey == c_old.c_custkey), "sgn")
    d2 = agg(
        o_base.join(F.broadcast(c_delta), o_base.o_custkey == c_delta.c_custkey),
        "sgn",
    )
    d3 = agg(
        o_delta.drop("sgn").join(
            F.broadcast(c_delta), F.col("o_custkey") == c_delta.c_custkey
        ),
        "sgn",
    )
    ivm = (
        v_old.unionByName(d1).unionByName(d2).unionByName(d3)
        .groupBy("c_nationkey")
        .agg(F.sum("n").cast("bigint").alias("n_ivm"), F.sum("c").cast("bigint").alias("cents_ivm"))
    )
    full = agg(orders.join(F.broadcast(c_new), orders.o_custkey == c_new.c_custkey), "1").select(
        "c_nationkey", F.col("n").alias("n_full"), F.col("c").alias("cents_full")
    )
    return ivm.join(full, "c_nationkey").select(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        "n_ivm",
        "cents_ivm",
        "n_full",
        "cents_full",
        (
            (F.col("n_ivm") == F.col("n_full"))
            & (F.col("cents_ivm") == F.col("cents_full"))
        ).cast("bigint").alias("ivm_matches"),
    )


JOIN_IVM_SQL = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), c_old AS (SELECT c_custkey, c_nationkey FROM customer),
c_new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 29 = 0 THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS c_nationkey
  FROM customer
),
o_base AS (SELECT * FROM o WHERE o_orderkey % 17 <> 0),
o_delta AS (SELECT *, 1 AS sgn FROM o WHERE o_orderkey % 17 = 0),
c_delta AS (
  SELECT c_custkey, c_nationkey, -1 AS sgn FROM customer WHERE c_custkey % 29 = 0
  UNION ALL
  SELECT c_custkey, (c_nationkey + 1) % 25, 1 FROM customer WHERE c_custkey % 29 = 0
),
v_old AS (
  SELECT c_nationkey, count(*)::BIGINT AS n, CAST(sum(cents) AS BIGINT) AS c
  FROM o_base JOIN c_old ON o_custkey = c_custkey GROUP BY c_nationkey
),
d1 AS (
  SELECT c_nationkey, CAST(sum(sgn) AS BIGINT) AS n, CAST(sum(cents * sgn) AS BIGINT) AS c
  FROM o_delta JOIN c_old ON o_custkey = c_custkey GROUP BY c_nationkey
),
d2 AS (
  SELECT c_nationkey, CAST(sum(sgn) AS BIGINT) AS n, CAST(sum(cents * sgn) AS BIGINT) AS c
  FROM o_base JOIN c_delta ON o_custkey = c_custkey GROUP BY c_nationkey
),
d3 AS (
  SELECT c_nationkey, CAST(sum(sgn) AS BIGINT) AS n, CAST(sum(cents * sgn) AS BIGINT) AS c
  FROM (SELECT o_orderkey, o_custkey, cents FROM o_delta) od
  JOIN c_delta ON o_custkey = c_custkey GROUP BY c_nationkey
),
ivm AS (
  SELECT c_nationkey, CAST(sum(n) AS BIGINT) AS n_ivm, CAST(sum(c) AS BIGINT) AS cents_ivm
  FROM (SELECT * FROM v_old UNION ALL SELECT * FROM d1
        UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
  GROUP BY c_nationkey
),
fullv AS (
  SELECT c_nationkey, count(*)::BIGINT AS n_full, CAST(sum(cents) AS BIGINT) AS cents_full
  FROM o JOIN c_new ON o_custkey = c_custkey GROUP BY c_nationkey
)
SELECT CAST(i.c_nationkey AS BIGINT) AS nationkey,
       n_ivm, cents_ivm, n_full, cents_full,
       CAST(n_ivm = n_full AND cents_ivm = cents_full AS BIGINT) AS ivm_matches
FROM ivm i JOIN fullv f ON f.c_nationkey = i.c_nationkey
"""

QUERIES["join_ivm_delta"] = join_ivm_delta
ORACLES["join_ivm_delta"] = JOIN_IVM_SQL


# --- vision-stage synthesis ledger ------------------------------------------------
#
# The page->markdown synthesis accounting of the reference's vision
# stage (`catalog search - vision/stage2_process_vision.py:485
# synthesize_vision_to_markdown`, `:594 process_pages_batch(
# max_workers=3)`): every page of a document gets one vision call with
# its own token usage; calls run in WAVES of three concurrent workers,
# so stage wall-clock is the sum over waves of each wave's slowest
# call — NOT the sum of page latencies; and the final markdown is
# assembled in PAGE order regardless of completion order within a
# wave.  The ledger pins all three semantics per document: wave count,
# wave-max wall-clock, and the ordered-assembly digest
# (md5 over the page-markdown digests concatenated in page order).
#
# Scale: one explode to page grain (bounded: <= 9 pages/doc), a
# (doc, wave) partial agg, then a doc rollup — all map-side
# combining; the ordered digest is a JVM higher-order transform over
# a bounded sequence, no window and no Python.

VISION_WAVE = 3  # max_workers in the reference's batch processor


def vision_page_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 9 + 1).alias("n_pages")
    )
    pages = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("n_pages"))).alias("p"),
    ).select(
        "doc_id",
        F.expr(f"(p - 1) div {VISION_WAVE}").alias("wave"),
        (F.lit(900) + (F.col("doc_id") * 7 + F.col("p") * 13) % 400).alias("pt"),
        (F.lit(200) + (F.col("doc_id") * 11 + F.col("p") * 17) % 300).alias("ct"),
        (F.lit(1000) + (F.col("doc_id") * 5 + F.col("p") * 19) % 2000).alias("lat_ms"),
    )
    waves = pages.groupBy("doc_id", "wave").agg(
        F.sum("pt").alias("wpt"),
        F.sum("ct").alias("wct"),
        F.max("lat_ms").alias("wall_ms"),  # 3 workers: wave cost = slowest call
    )
    ledger = waves.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_waves"),
        F.sum("wpt").cast("bigint").alias("total_prompt_tokens"),
        F.sum("wct").cast("bigint").alias("total_completion_tokens"),
        (F.sum("wpt") * 3 + F.sum("wct") * 15).cast("bigint").alias("cost_micro"),
        F.sum("wall_ms").cast("bigint").alias("wall_ms"),
    )
    synth = docs.select(
        "doc_id",
        F.col("n_pages").cast("bigint").alias("n_pages"),
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.sequence(F.lit(1).cast("bigint"), F.col("n_pages")),
                    lambda p: F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":vp:"),
                            p.cast("string"),
                        )
                    ),
                ),
            )
        ).alias("synthesis_md5"),
    )
    return synth.join(ledger, "doc_id")


VISION_SYNTH_SQL = f"""
WITH docs AS (SELECT doc_id, doc_id % 9 + 1 AS n_pages FROM documents),
pages AS (
  SELECT doc_id, n_pages, p, (p - 1) // {VISION_WAVE} AS wave,
         900 + (doc_id * 7 + p * 13) % 400 AS pt,
         200 + (doc_id * 11 + p * 17) % 300 AS ct,
         1000 + (doc_id * 5 + p * 19) % 2000 AS lat_ms
  FROM docs, unnest(generate_series(1, n_pages)) AS t(p)
),
waves AS (
  SELECT doc_id, wave, sum(pt) AS wpt, sum(ct) AS wct, max(lat_ms) AS wall_ms
  FROM pages GROUP BY doc_id, wave
),
ledger AS (
  SELECT doc_id, count(*)::BIGINT AS n_waves,
         CAST(sum(wpt) AS BIGINT) AS total_prompt_tokens,
         CAST(sum(wct) AS BIGINT) AS total_completion_tokens,
         CAST(sum(wpt) * 3 + sum(wct) * 15 AS BIGINT) AS cost_micro,
         CAST(sum(wall_ms) AS BIGINT) AS wall_ms
  FROM waves GROUP BY doc_id
),
synth AS (
  SELECT doc_id, CAST(n_pages AS BIGINT) AS n_pages,
         md5(string_agg(md5(doc_id::VARCHAR || ':vp:' || p::VARCHAR), '' ORDER BY p))
           AS synthesis_md5
  FROM pages GROUP BY doc_id, n_pages
)
SELECT s.doc_id, s.n_pages, s.synthesis_md5,
       l.n_waves, l.total_prompt_tokens, l.total_completion_tokens,
       l.cost_micro, l.wall_ms
FROM synth s JOIN ledger l ON l.doc_id = s.doc_id
"""

QUERIES["vision_page_synthesis"] = vision_page_synthesis
ORACLES["vision_page_synthesis"] = VISION_SYNTH_SQL


# --- page-grain resume ledger (stage_00 incremental-write contract) -----------
#
# Reference parity: `semantic search - ey prep/stage_00_pdf_to_markdown.py:429`
# ``process_pages_batch_incremental`` processes a document's pages
# concurrently but WRITES results strictly in page order (the
# ``next_page_to_write`` cursor), checkpointing per-page completion to
# the output JSON as it goes; `:529` ``process_pdf_file_incremental``
# wraps it per document and reports (total_pages, successful_pages,
# failed_pages).  `catalog search/stage2_process_documents.py:442`
# ``process_pages_batch`` has the same per-page completion shape.
# The consequence of the sequential-write cursor is the resume
# contract this operator models: after a mid-document crash, DURABLE
# progress is the longest completed PREFIX of pages — pages the thread
# pool finished after the first failure/gap are lost work — and the
# remaining-work plan restarts each incomplete document at its first
# unwritten page.
#
# Plant: page count from text length (1 page / PRL_PAGE_CHARS chars,
# the pdf-plant density device) and a deterministic per-page outcome
# from md5(doc_id:pg:page) % 10 < 8 (so ~20% of pages failed in the
# simulated crashed run — both engines derive identical outcomes).
#
# Scale: pure per-row array expressions (sequence/filter/size) — ZERO
# shuffle; the ledger scales with executors at any corpus size and the
# resume plan is a projection, exactly what a refresh driver wants to
# compute before re-dispatching work.

PRL_PAGE_CHARS = 180


def page_resume_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    np_col = (F.expr(f"length(text) div {PRL_PAGE_CHARS}") + 1).cast("int")
    ok = (
        "cast(conv(substring(md5(concat(cast(doc_id as string), ':pg:',"
        " cast(p as string))), 1, 8), 16, 10) as bigint) % 10 < 8"
    )
    pages = docs.select("doc_id", np_col.alias("np")).select(
        "doc_id",
        "np",
        F.expr(f"filter(sequence(1, np), p -> not ({ok}))").alias("fails"),
    )
    ledger = pages.select(
        "doc_id",
        "np",
        F.when(F.size("fails") > 0, F.element_at("fails", 1)).alias("first_failed_page"),
        F.coalesce(
            F.when(F.size("fails") > 0, F.element_at("fails", 1) - 1), F.col("np")
        ).alias("done_prefix"),
        "fails",
    )
    return ledger.select(
        "doc_id",
        F.col("np").cast("bigint").alias("total_pages"),
        F.col("done_prefix").cast("bigint").alias("done_prefix"),
        F.col("first_failed_page").cast("bigint").alias("first_failed_page"),
        # completed by the pool but after the write cursor's first gap:
        # durably lost on crash, must re-run
        F.expr(
            f"cast(size(filter(sequence(1, np), p -> p > done_prefix and ({ok}))) as bigint)"
        ).alias("lost_after_gap"),
        F.when(F.col("done_prefix") < F.col("np"), F.col("done_prefix") + 1)
        .cast("bigint")
        .alias("resume_from"),
        (F.col("done_prefix") == F.col("np")).cast("int").alias("is_complete"),
        F.expr(
            "cast((np - done_prefix) * 10000 div np as bigint)"
        ).alias("remaining_bp"),
    )


_PRL_OK = (
    "CAST('0x' || substr(md5(doc_id::VARCHAR || ':pg:' || p::VARCHAR), 1, 8)"
    " AS BIGINT) % 10 < 8"
)

PAGE_RESUME_SQL = f"""
WITH pages AS (
  SELECT doc_id, CAST(length(text) // {PRL_PAGE_CHARS} + 1 AS INT) AS np,
         list_filter(range(1, CAST(length(text) // {PRL_PAGE_CHARS} + 1 AS INT) + 1),
                     p -> NOT ({_PRL_OK})) AS fails
  FROM documents
),
ledger AS (
  SELECT doc_id, np,
         CASE WHEN len(fails) > 0 THEN fails[1] END AS first_failed_page,
         coalesce(CASE WHEN len(fails) > 0 THEN fails[1] - 1 END, np) AS done_prefix
  FROM pages
)
SELECT doc_id,
       CAST(np AS BIGINT) AS total_pages,
       CAST(done_prefix AS BIGINT) AS done_prefix,
       CAST(first_failed_page AS BIGINT) AS first_failed_page,
       CAST(len(list_filter(range(1, np + 1),
            p -> p > done_prefix AND ({_PRL_OK}))) AS BIGINT) AS lost_after_gap,
       CAST(CASE WHEN done_prefix < np THEN done_prefix + 1 END AS BIGINT) AS resume_from,
       CAST(done_prefix = np AS INT) AS is_complete,
       CAST((np - done_prefix) * 10000 // np AS BIGINT) AS remaining_bp
FROM ledger
"""

QUERIES["page_resume_ledger"] = page_resume_ledger
ORACLES["page_resume_ledger"] = PAGE_RESUME_SQL
