"""Sessionization + graph clustering operators (driver-gated).

- ``sessionize``: gap-based event sessions (lag window + cumulative session
  counter) — the batch form of stateful streaming sessionization; at scale
  this is the applyInPandasWithState shape, here pure windows.
- ``dedup_cc_clusters``: connected components over the MinHash near-dup pair
  graph → (doc_id, cluster_rep). The Spark side runs the engine's iterative
  hash-min CC (operators/materialize.py); the DuckDB oracle states ground
  truth via a recursive transitive closure — an INDEPENDENT formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dedup import minhash_lsh_pairs
from .materialize import connected_components

SESSION_GAP_MIN = 30


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions: a new session starts when the gap to the previous
    event exceeds SESSION_GAP_MIN minutes. Emits per-session aggregates."""
    # fractional epoch seconds, as the oracle's epoch(ts): unix_timestamp
    # truncates to whole seconds, so a 1,800.5 s gap would not open a session
    e = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "epoch", F.col("ts").cast("timestamp").cast("double")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("epoch") - F.lag("epoch").over(w)
    stamped = e.withColumn(
        "new_session",
        (gap.isNull() | (gap > SESSION_GAP_MIN * 60)).cast("int"),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        stamped.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("event_id").cast("bigint").alias("first_event"),
            F.max("event_id").cast("bigint").alias("last_event"),
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("session_seq").cast("bigint").alias("session_seq"),
            "n_events", "first_event", "last_event",
        )
        .orderBy("user_id", "session_seq")
    )


SESSIONIZE_SQL = f"""
WITH stamped AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM stamped
)
SELECT user_id::BIGINT AS user_id, session_seq::BIGINT AS session_seq,
       count(*)::BIGINT AS n_events,
       min(event_id)::BIGINT AS first_event,
       max(event_id)::BIGINT AS last_event
FROM sess GROUP BY user_id, session_seq ORDER BY user_id, session_seq
"""


def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash candidate pairs; singleton docs
    excluded. Returns (doc_id, cluster_rep = min doc id in component)."""
    # CC labels by MIN over string node ids — zero-pad so lexicographic
    # min == numeric min
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        F.lpad(F.col("doc_a").cast("string"), 12, "0").alias("src"),
        F.lpad(F.col("doc_b").cast("string"), 12, "0").alias("dst"),
    )
    cc = connected_components(pairs)
    return (
        cc.select(
            F.col("node").cast("bigint").alias("doc_id"),
            F.col("component").cast("bigint").alias("cluster_rep"),
        )
        .orderBy("doc_id")
    )


# the oracle formulates CC independently: full transitive closure via a
# recursive CTE, then min(reachable ∪ self) per node
DEDUP_CC_SQL_TEMPLATE = """
WITH RECURSIVE pairs AS ({pairs_sql}),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a::BIGINT AS doc_id, least(a, min(b))::BIGINT AS cluster_rep
FROM reach GROUP BY a ORDER BY doc_id
"""


def _dedup_cc_sql() -> str:
    from .dedup import MINHASH_SQL

    inner = MINHASH_SQL.strip().rstrip(";")
    # strip the trailing ORDER BY of the embedded query
    inner = inner[: inner.rfind("ORDER BY")].rstrip()
    return DEDUP_CC_SQL_TEMPLATE.format(pairs_sql=inner)


ORACLES = {
    "sess_gap_sessions": SESSIONIZE_SQL,
    "dedup_cc_clusters": _dedup_cc_sql(),
}

QUERIES = {
    "sess_gap_sessions": sessionize,
    "dedup_cc_clusters": dedup_cc_clusters,
}


# ---------------------------------------------------------------------------
# Ordered-funnel analysis (view -> click -> purchase)
# ---------------------------------------------------------------------------


def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel over the event stream: a user
    reaches stage 2 only with a click AFTER their first view, stage 3 only
    with a purchase AFTER that first qualifying click. Emits per-stage user
    counts — the standard product-analytics funnel operator.

    Scale posture: three groupBys all keyed on user_id (one exchange reused
    under co-partitioning; AQE coalesces), integer epoch arithmetic only so
    every engine agrees exactly. No windows over the full event set, no
    per-user collect.

    Epochs are MICROSECOND integers (unix_micros here, epoch_us in the
    oracle) — second-granularity truncation vs rounding diverges between
    engines for same-user events near a second boundary and flips the
    strict ``epoch >`` ordering gates (same discipline as asof_join)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_type"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("epoch"),
    )
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t_view"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("epoch") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t_click"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("epoch") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t_purchase"))
    )
    rows = [
        v.agg(
            F.lit("1_view").alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        ),
        c.agg(
            F.lit("2_view_click").alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        ),
        p.agg(
            F.lit("3_view_click_purchase").alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("stage")


FUNNEL_SQL = """
WITH e AS (
  SELECT user_id::BIGINT AS user_id, event_type,
         epoch_us(ts::TIMESTAMP)::BIGINT AS epoch
  FROM events
), v AS (
  SELECT user_id, min(epoch) AS t_view FROM e
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(epoch) AS t_click
  FROM e JOIN v USING (user_id)
  WHERE event_type = 'click' AND epoch > t_view GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(epoch) AS t_purchase
  FROM e JOIN c USING (user_id)
  WHERE event_type = 'purchase' AND epoch > t_click GROUP BY e.user_id
)
SELECT stage, n_users FROM (
  SELECT '1_view' AS stage, count(*)::BIGINT AS n_users FROM v
  UNION ALL
  SELECT '2_view_click', count(*)::BIGINT FROM c
  UNION ALL
  SELECT '3_view_click_purchase', count(*)::BIGINT FROM p
) ORDER BY stage
"""

ORACLES["sess_funnel"] = FUNNEL_SQL
QUERIES["sess_funnel"] = funnel
