"""Event-analytics + feature-pipeline queries: ordered funnels, cohort
retention, CDC merge, per-source document caps, robust scaling, and
per-group embedding centroids.

These cover the analysis layer a reference user runs over consumed
streams once landed as tables (reference ``README.md:149-184``'s
SQL-over-views workflow) plus the curation/feature steps a training-data
pipeline adds on top.  All are pure Catalyst — no UDFs, no driver
actions — and every entry is oracle-paired.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from fluvio_duck_spark.operators.events import (
    cdc_apply,
    cohort_retention,
    funnel_stages,
)
from fluvio_duck_spark.functions.exact import dmul
from fluvio_duck_spark.operators.dsir import hash_bucket, hash_bucket_sql
from fluvio_duck_spark.operators.grouped import robust_scale_grouped
from fluvio_duck_spark.operators.similarity import group_centroids
from fluvio_duck_spark.queries import QuerySpec, run_dir
from fluvio_duck_spark.sources.tables import load

_CDC_CUTOFF = "2024-01-22"


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase ordered funnel over the events log."""
    ev = load(spark, sf_dir, "events")
    return funnel_stages(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT CAST(1 AS INTEGER) AS stage, 'view' AS stage_name, count(*) AS users FROM s1
UNION ALL
SELECT CAST(2 AS INTEGER), 'click', count(*) FROM s2
UNION ALL
SELECT CAST(3 AS INTEGER), 'purchase', count(*) FROM s3
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort × week-offset retained-user counts."""
    ev = load(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts")


ORACLE_COHORT = """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
  FROM events
)
SELECT cohort_week,
       CAST(datediff('day', cohort_week, active_week) / 7 AS INTEGER) AS week_offset,
       count(*) AS active_users
FROM activity JOIN firsts USING (user_id)
GROUP BY cohort_week, week_offset
"""


#: Administrative right-censoring horizon: each user is observed for at
#: most this many days after their first event — a first error beyond
#: the horizon (or never) is CENSORED at the horizon, not an event.
_KM_HORIZON_DAYS = 7


def q_events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-error — the
    right-censoring-aware answer to "how long until a user hits an
    error?", which a naive mean over observed error times gets wrong
    (users observed error-free past the horizon are CENSORED, not
    error-free forever).  Duration = days from a user's first event to
    their first 'error' event, administratively censored at a 7-day
    observation horizon; the product-limit estimate
    S(t) = Π_{u ≤ t} (1 − d_u / n_u) over the at-risk sets.

    Plan: ONE user-keyed aggregation touches the corpus (min date +
    conditional min error date per user — the error min rides the same
    aggregate, no second scan), and everything after runs on the
    |distinct durations|-sized table (horizon-bounded, ≤ 8 rows): the
    risk set is a reverse cumulative sum and the product-limit fold is
    a running sum of per-step ln(1 − d/n) terms — each term pre-rounded
    to 1e-6 via explicit floor(x·1e6 + 0.5) and summed as exact integer
    DECIMAL (the char-entropy discipline), so fold order cannot move
    the hash and both engines produce identical survival values.

    Output per duration t: users whose observation ends at t, events
    (errors) at t, at-risk count, and the cumulative survival
    probability (6 dp)."""
    ev = load(spark, sf_dir, "events")
    d = F.to_date("ts")
    spans = ev.groupBy("user_id").agg(
        F.min(d).alias("first_d"),
        F.min(F.when(F.col("event_type") == "error", d)).alias("err_d"),
    )
    t_err = F.datediff("err_d", "first_d").cast("long")
    per_user = spans.select(
        F.least(
            F.coalesce(t_err, F.lit(_KM_HORIZON_DAYS + 1)),
            F.lit(_KM_HORIZON_DAYS),
        ).alias("t"),
        F.when(
            F.coalesce(t_err, F.lit(_KM_HORIZON_DAYS + 1))
            <= _KM_HORIZON_DAYS,
            F.lit(1),
        ).otherwise(F.lit(0)).alias("churned"),
    )
    tbl = per_user.groupBy("t").agg(
        F.count("*").alias("entering"),
        F.sum("churned").alias("d"),
    )
    # both windows run over the duration table — calendar-bounded
    # cardinality (≤ observation-window days), whitelisted global window
    w_desc = (
        W.orderBy(F.col("t").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    at_risk = tbl.withColumn("n", F.sum("entering").over(w_desc))
    # d == n (whole risk set fails) can only happen on the LAST step —
    # no user has a longer duration — so the NULLed term never poisons a
    # later row's fold, and that row's survival is exactly 0
    term6 = F.when(
        F.col("n") > F.col("d"),
        F.floor(
            F.log((F.col("n") - F.col("d")).cast("double") / F.col("n"))
            * F.lit(1e6) + F.lit(0.5)
        ).cast("decimal(28,0)"),
    )
    w_asc = (
        W.orderBy(F.col("t").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    folded = at_risk.withColumn("_s6", F.sum(term6).over(w_asc))
    return folded.select(
        F.col("t").alias("t_days"),
        F.col("entering").cast("long").alias("entering"),
        F.col("d").cast("long").alias("churned"),
        F.col("n").cast("long").alias("at_risk"),
        F.when(
            F.col("d") < F.col("n"),
            F.round(
                F.exp(
                    F.coalesce(F.col("_s6").cast("double"), F.lit(0.0))
                    / F.lit(1e6)
                ),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("survival"),
    )


ORACLE_SURVIVAL_KM = f"""
WITH spans AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_d,
         min(CASE WHEN event_type = 'error' THEN CAST(ts AS DATE) END)
           AS err_d
  FROM events GROUP BY user_id),
per_user AS (
  SELECT least(coalesce(CAST(date_diff('day', first_d, err_d) AS BIGINT),
                        {_KM_HORIZON_DAYS + 1}),
               {_KM_HORIZON_DAYS}) AS t,
         CASE WHEN coalesce(CAST(date_diff('day', first_d, err_d)
                                 AS BIGINT), {_KM_HORIZON_DAYS + 1})
                   <= {_KM_HORIZON_DAYS} THEN 1 ELSE 0 END AS churned
  FROM spans),
tbl AS (
  SELECT t, count(*) AS entering, sum(churned) AS d
  FROM per_user GROUP BY t),
at_risk AS (
  SELECT *, sum(entering) OVER (ORDER BY t DESC
                                ROWS UNBOUNDED PRECEDING) AS n
  FROM tbl),
folded AS (
  SELECT *,
         sum(CASE WHEN n > d THEN
               CAST(floor(ln(CAST(n - d AS DOUBLE) / n) * 1e6 + 0.5)
                    AS DECIMAL(28,0)) END)
           OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING) AS s6
  FROM at_risk)
SELECT t AS t_days,
       CAST(entering AS BIGINT) AS entering,
       CAST(d AS BIGINT) AS churned,
       CAST(n AS BIGINT) AS at_risk,
       CASE WHEN d < n
            THEN round(exp(coalesce(CAST(s6 AS DOUBLE), 0.0) / 1e6), 6)
            ELSE 0.0 END AS survival
FROM folded
"""


def q_eval_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing two cohorts' time-to-first-error survival
    — the significance companion to ``events_survival_km``: "do even-id
    and odd-id users churn at different rates?", answered with the
    standard censoring-aware two-sample test (Mantel–Haenszel form).

    Same duration fixture as the KM curve (first event → first 'error',
    administratively censored at the 7-day horizon); cohort = user_id
    parity.  At each duration with d > 0 events: observed group-A
    events d1, expectation E = n1·d/n and variance
    V = n1·n2·d·(n−d) / (n²·(n−1)) over the at-risk sets; χ² =
    (O−E)²/V against the 1-df 95% critical value.

    Cross-engine exactness discipline (the KM/char-entropy pattern):
    every per-step term is computed in pure INTEGER arithmetic —
    e-term = (10^6·n1·d) div n, v-term a = (10^6·n1·n2) div n², then
    (a·d·(n−d)) div (n−1) — with each multiply-then-divide expanded
    through the EXACT decomposition (K·m) div n = (K div n)·m +
    ((K mod n)·m) div n and the nested-floor identity A div n² =
    (A div n) div n (ADVICE r12: the naive products 10^6·n1·d and
    10^6·n1·n2 pass int64 near n ≈ 6M with heavy ties, where Spark
    and DuckDB overflow differently).  The decomposition leaves every
    intermediate ≤ max(10^6·n1, n², 10^6·n), so the stated domain is
    n ≤ ~3.0e9 at-risk users (n² < 2^63) — identical values on the
    old domain, three decades more headroom.  The only float op is the
    final χ² from the three scalar totals.  Scale shape: one
    user-keyed aggregation touches the corpus; everything after runs
    on the horizon-bounded duration table."""
    ev = load(spark, sf_dir, "events")
    d_ = F.to_date("ts")
    spans = ev.groupBy("user_id").agg(
        F.min(d_).alias("first_d"),
        F.min(F.when(F.col("event_type") == "error", d_)).alias("err_d"),
    )
    t_err = F.datediff("err_d", "first_d").cast("long")
    per_user = spans.select(
        (F.col("user_id") % 2 == 0).cast("int").alias("g1"),
        F.least(
            F.coalesce(t_err, F.lit(_KM_HORIZON_DAYS + 1)),
            F.lit(_KM_HORIZON_DAYS),
        ).alias("t"),
        F.when(
            F.coalesce(t_err, F.lit(_KM_HORIZON_DAYS + 1))
            <= _KM_HORIZON_DAYS,
            F.lit(1),
        ).otherwise(F.lit(0)).alias("churned"),
    )
    tbl = per_user.groupBy("t").agg(
        F.count("*").cast("long").alias("entering"),
        F.sum("g1").cast("long").alias("entering1"),
        F.sum("churned").cast("long").alias("d"),
        F.sum(F.col("churned") * F.col("g1")).cast("long").alias("d1"),
    )
    w_desc = (
        W.orderBy(F.col("t").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    at_risk = tbl.select(
        "t", "d", "d1",
        F.sum("entering").over(w_desc).alias("n"),
        F.sum("entering1").over(w_desc).alias("n1"),
    )
    # q/r split 10^6·n1 by n once; 'a' nests the second div-by-n
    at_risk = at_risk.select(
        "*",
        F.expr("(1000000 * n1) div n").alias("q"),
        F.expr("(1000000 * n1) % n").alias("r"),
    ).select(
        "*",
        F.expr("(q * (n - n1) + ((r * (n - n1)) div n)) div n").alias("a"),
    )
    e6 = F.expr("q * d + (r * d) div n")
    v6 = F.when(
        F.col("n") > 1,
        F.expr(
            "((a * d) div (n - 1)) * (n - d) "
            "+ (((a * d) % (n - 1)) * (n - d)) div (n - 1)"
        ),
    ).otherwise(F.lit(0).cast("long"))
    totals = at_risk.agg(
        F.count("*").cast("long").alias("n_steps"),
        F.sum("d1").cast("long").alias("o1"),
        F.sum(e6).cast("long").alias("e1_ppm"),
        F.sum(v6).cast("long").alias("v_ppm"),
    )
    chi2 = F.round(
        F.when(
            F.col("v_ppm") > 0,
            (
                (F.col("o1").cast("double")
                 - F.col("e1_ppm").cast("double") / F.lit(1e6)) ** 2
            ) / (F.col("v_ppm").cast("double") / F.lit(1e6)),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return totals.select(
        "n_steps", "o1", "e1_ppm", "v_ppm",
        chi2.alias("chi2"),
        (chi2 > F.lit(3.841459)).alias("significant"),
    )


ORACLE_LOGRANK = f"""
WITH spans AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_d,
         min(CASE WHEN event_type = 'error' THEN CAST(ts AS DATE) END)
           AS err_d
  FROM events GROUP BY user_id),
per_user AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1,
         least(coalesce(CAST(date_diff('day', first_d, err_d) AS BIGINT),
                        {_KM_HORIZON_DAYS + 1}),
               {_KM_HORIZON_DAYS}) AS t,
         CASE WHEN coalesce(CAST(date_diff('day', first_d, err_d)
                                 AS BIGINT), {_KM_HORIZON_DAYS + 1})
                   <= {_KM_HORIZON_DAYS} THEN 1 ELSE 0 END AS churned
  FROM spans),
tbl AS (
  SELECT t, CAST(count(*) AS BIGINT) AS entering,
         CAST(sum(g1) AS BIGINT) AS entering1,
         CAST(sum(churned) AS BIGINT) AS d,
         CAST(sum(churned * g1) AS BIGINT) AS d1
  FROM per_user GROUP BY t),
at_risk AS (
  SELECT t, d, d1,
         sum(entering) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
           AS n,
         sum(entering1) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
           AS n1
  FROM tbl),
qr AS (
  SELECT *, (1000000 * n1) // n AS q, (1000000 * n1) % n AS r
  FROM at_risk),
ar2 AS (
  SELECT *, (q * (n - n1) + ((r * (n - n1)) // n)) // n AS a
  FROM qr),
terms AS (
  -- exact decomposition (K*m)//n = (K//n)*m + ((K%n)*m)//n and
  -- A//n^2 = (A//n)//n: same values as the direct products, every
  -- intermediate <= max(10^6*n1, n^2, 10^6*n)
  SELECT d1,
         q * d + (r * d) // n AS e6,
         CASE WHEN n > 1
              THEN ((a * d) // (n - 1)) * (n - d)
                   + (((a * d) % (n - 1)) * (n - d)) // (n - 1)
              ELSE 0 END AS v6
  FROM ar2),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_steps,
         CAST(sum(d1) AS BIGINT) AS o1,
         CAST(sum(e6) AS BIGINT) AS e1_ppm,
         CAST(sum(v6) AS BIGINT) AS v_ppm
  FROM terms)
SELECT n_steps, o1, e1_ppm, v_ppm,
       round(CASE WHEN v_ppm > 0
                  THEN ((CAST(o1 AS DOUBLE) - CAST(e1_ppm AS DOUBLE) / 1e6)
                        * (CAST(o1 AS DOUBLE) - CAST(e1_ppm AS DOUBLE) / 1e6))
                       / (CAST(v_ppm AS DOUBLE) / 1e6)
                  ELSE 0.0 END, 6) AS chi2,
       round(CASE WHEN v_ppm > 0
                  THEN ((CAST(o1 AS DOUBLE) - CAST(e1_ppm AS DOUBLE) / 1e6)
                        * (CAST(o1 AS DOUBLE) - CAST(e1_ppm AS DOUBLE) / 1e6))
                       / (CAST(v_ppm AS DOUBLE) / 1e6)
                  ELSE 0.0 END, 6) > 3.841459 AS significant
FROM tot
"""



def q_cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE: snapshot = each user's first-event value before the
    cutoff; change feed = events from the cutoff on (errors are deletes,
    everything else upserts the value); latest change per user wins."""
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit(_CDC_CUTOFF).cast("timestamp")
    snapshot = (
        ev.filter(F.col("ts") < cutoff)
        .groupBy("user_id")
        .agg(
            F.min_by("value", F.struct("ts", "event_id")).alias("value")
        )
    )
    changes = ev.filter(F.col("ts") >= cutoff).select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    return cdc_apply(
        snapshot,
        changes,
        key_col="user_id",
        ts_col="ts",
        op_col="op",
        val_cols=["value"],
        tiebreak_col="event_id",
    )


ORACLE_CDC = f"""
WITH snap AS (
  SELECT user_id, value FROM events
  WHERE ts < TIMESTAMP '{_CDC_CUTOFF}'
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
), latest AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         value AS new_value
  FROM events
  WHERE ts >= TIMESTAMP '{_CDC_CUTOFF}'
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
)
SELECT COALESCE(s.user_id, l.user_id) AS user_id,
       CASE WHEN l.user_id IS NOT NULL THEN l.new_value ELSE s.value END AS value
FROM snap s FULL OUTER JOIN latest l ON s.user_id = l.user_id
WHERE l.op IS NULL OR l.op <> 'delete'
"""


def q_curate_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the per-domain quota step of a
    Common-Crawl-style curation pipeline (keep the k longest docs per
    source).  The rank-filter compiles to WindowGroupLimit: each task
    keeps a k-heap per source before the shuffle, so the exchange
    carries ≤ k·#sources·#tasks rows, not the corpus."""
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.select(
            "doc_id", "source", "n_chars",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 5)
    )


ORACLE_SOURCE_CAP = """
SELECT doc_id, source, n_chars, rk FROM (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
         ) AS INTEGER) AS rk
  FROM documents
) WHERE rk <= 5
"""


def q_grouped_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language robust scaling of document lengths (median/IQR)."""
    docs = load(spark, sf_dir, "documents")
    return robust_scale_grouped(docs, "lang", "n_chars", "doc_id")


ORACLE_ROBUST_SCALE = """
WITH stats AS (
  SELECT lang,
         quantile_cont(n_chars, 0.25) AS p25,
         quantile_cont(n_chars, 0.50) AS med,
         quantile_cont(n_chars, 0.75) AS p75
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang,
       round((d.n_chars - s.med) / nullif(s.p75 - s.p25, 0), 6) AS scaled
FROM documents d JOIN stats s USING (lang)
"""


def q_sim_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, flat (label, pos, centroid) form."""
    emb = load(spark, sf_dir, "embeddings")
    return group_centroids(emb, "label", "embedding").select(
        "label",
        F.col("embedding_pos").cast("int").alias("pos"),
        "centroid",
    )


ORACLE_GROUP_CENTROIDS = """
SELECT label, CAST(pos AS INTEGER) AS pos,
       round(
         CAST(sum(CAST(round(CAST(val AS DOUBLE), 9)
                       AS DECIMAL(28,9))) AS DOUBLE)
         / count(val), 6
       ) AS centroid
FROM (
  SELECT label,
         unnest(embedding) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
)
GROUP BY label, pos
"""


QUERIES = {
    "funnel_conversion": QuerySpec(
        q_funnel_conversion, ORACLE_FUNNEL,
        doc="ordered view→click→purchase funnel — event analytics",
    ),
    "cohort_retention": QuerySpec(
        q_cohort_retention, ORACLE_COHORT,
        doc="weekly cohort retention matrix — event analytics",
    ),
    "events_survival_km": QuerySpec(
        q_events_survival_km, ORACLE_SURVIVAL_KM,
        doc="Kaplan-Meier user-retention survival curve with right "
            "censoring: one user-keyed pass, calendar-sized risk sets, "
            "integer-rounded log product-limit fold (hash-exact)",
    ),
    "cdc_apply_latest": QuerySpec(
        q_cdc_apply_latest, ORACLE_CDC,
        doc="CDC upsert/delete merge, latest-change-wins — batch MERGE",
    ),
    "curate_source_cap": QuerySpec(
        q_curate_source_cap, ORACLE_SOURCE_CAP,
        doc="per-source doc quota via WindowGroupLimit — curation",
    ),
    "grouped_robust_scale": QuerySpec(
        q_grouped_robust_scale, ORACLE_ROBUST_SCALE,
        doc="median/IQR robust scaling per group — pure-Catalyst twin of grouped_minmax_scale",
    ),
    "sim_group_centroids": QuerySpec(
        q_sim_group_centroids, ORACLE_GROUP_CENTROIDS,
        doc="per-label embedding centroids via posexplode partial-agg",
    ),
}


def q_rollup_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly counts per event type — every missing (type, hour)
    bucket filled with 0 over the log's global span."""
    from fluvio_duck_spark.operators.timeseries import calendar_gapfill

    ev = load(spark, sf_dir, "events")
    return calendar_gapfill(ev, "event_type", "ts", step="1 hour")


ORACLE_GAPFILL = """
WITH obs AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), span AS (
  SELECT min(date_trunc('hour', ts)) AS lo, max(date_trunc('hour', ts)) AS hi
  FROM events
), spine AS (
  SELECT k.event_type, t.bucket
  FROM (SELECT unnest(generate_series((SELECT lo FROM span),
                                      (SELECT hi FROM span),
                                      INTERVAL 1 HOUR)) AS bucket) t
  CROSS JOIN (SELECT DISTINCT event_type FROM events) k
)
SELECT s.event_type, s.bucket, COALESCE(o.n, 0) AS n
FROM spine s LEFT JOIN obs o
  ON s.event_type = o.event_type AND s.bucket = o.bucket
"""


def q_window_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF: carry each user's last purchase value forward onto every
    subsequent event (NULL before the first purchase)."""
    from fluvio_duck_spark.operators.timeseries import locf_fill

    ev = load(spark, sf_dir, "events")
    out = locf_fill(
        ev,
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")),
        out_col="last_purchase_value",
        tiebreak_col="event_id",
    )
    return out.select("event_id", "user_id", "last_purchase_value")


ORACLE_LOCF = """
SELECT event_id, user_id,
       last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS last_purchase_value
FROM events
"""


def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary typo-pairs within Levenshtein distance 2 via SymSpell
    deletion-neighborhood blocking (equi-join on deletion variants, exact
    verify on candidates only — the oracle's all-pairs form is the n²
    plan this replaces)."""
    from fluvio_duck_spark.operators.dedup import edit_distance_pairs

    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.split(
                    F.lower(F.regexp_replace("text", "[^a-zA-Z]+", " ")), " "
                )
            ).alias("token")
        )
        .filter((F.length("token") >= 3) & (F.length("token") <= 12))
    )
    return edit_distance_pairs(vocab, max_dist=2)


ORACLE_EDIT_DISTANCE = """
WITH vocab AS (
  SELECT DISTINCT t AS token FROM (
    SELECT unnest(string_split(lower(regexp_replace(text, '[^a-zA-Z]+', ' ', 'g')), ' ')) AS t
    FROM documents
  ) WHERE len(t) BETWEEN 3 AND 12
)
SELECT a.token AS token_a, b.token AS token_b,
       CAST(levenshtein(a.token, b.token) AS INTEGER) AS dist
FROM vocab a, vocab b
WHERE a.token < b.token
  AND abs(len(a.token) - len(b.token)) <= 2
  AND levenshtein(a.token, b.token) <= 2
"""


QUERIES.update({
    "eval_logrank": QuerySpec(
        q_eval_logrank, ORACLE_LOGRANK,
        doc="log-rank (Mantel-Haenszel) two-cohort survival comparison "
            "over the KM duration fixture: integer fixed-point E/V "
            "terms (div-factored, fold-order-proof), one corpus pass + "
            "horizon-bounded duration table, final chi2 vs 1-df 95%",
    ),
})


QUERIES.update({
    "rollup_gapfill_hourly": QuerySpec(
        q_rollup_gapfill_hourly, ORACLE_GAPFILL,
        doc="calendar-spine gap fill: dense (type, hour) buckets, 0-filled",
    ),
    "window_locf_fill": QuerySpec(
        q_window_locf_fill, ORACLE_LOCF,
        doc="last-observation-carried-forward via last(ignorenulls) window",
    ),
    "dedup_edit_distance": QuerySpec(
        q_dedup_edit_distance, ORACLE_EDIT_DISTANCE,
        doc="SymSpell deletion-blocked Levenshtein<=2 pairs vs n² oracle",
    ),
})


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same funnel with a 24-hour conversion window per step
    (first-touch anchored: each stage's time is the earliest qualifying
    event given the previous stage's anchor)."""
    ev = load(spark, sf_dir, "events")
    return funnel_stages(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], max_gap="24 hours",
    )


ORACLE_FUNNEL_WINDOWED = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s1 ON e.user_id = s1.user_id
         AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL 24 HOUR
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s2 ON e.user_id = s2.user_id
         AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL 24 HOUR
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT CAST(1 AS INTEGER) AS stage, 'view' AS stage_name, count(*) AS users FROM s1
UNION ALL
SELECT CAST(2 AS INTEGER), 'click', count(*) FROM s2
UNION ALL
SELECT CAST(3 AS INTEGER), 'purchase', count(*) FROM s3
"""


def q_window_trailing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing features for next-action models: count of the
    user's events in the preceding hour (time-RANGE frame over epoch
    seconds) and mean value of the preceding 5 events (ROWS frame).
    Both frames exclude the current row — no label leakage.  One
    shuffle on the user key serves both windows."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    w_range = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-3600, -1)
    )
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-5, -1)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w_range).alias("n_prev_hour"),
        F.round(F.avg(F.round(F.col("value"), 6)).over(w_rows), 6).alias("avg_prev5"),
    )


ORACLE_TRAILING = """
SELECT event_id, user_id,
       count(*) OVER (
         PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
         RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING
       ) AS n_prev_hour,
       round(avg(round(value, 6)) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING
       ), 6) AS avg_prev5
FROM events
"""


QUERIES.update({
    "funnel_windowed": QuerySpec(
        q_funnel_windowed, ORACLE_FUNNEL_WINDOWED,
        doc="funnel with 24 h conversion window per step (first-touch anchored)",
    ),
    "window_trailing_features": QuerySpec(
        q_window_trailing_features, ORACLE_TRAILING,
        doc="leak-free trailing feature windows: time-RANGE + ROWS frames",
    ),
})


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the undirected part↔supplier
    bipartite graph from lineitem (node ids disjoint by parity:
    part→2k, supplier→2k+1).  The oracle unrolls the identical
    recurrence in SQL, so an *iterative* algorithm gets an exact
    hash-compared oracle — per-round rounding + DECIMAL contribution
    sums make the fixpoint engine-independent."""
    from fluvio_duck_spark.operators.graph import pagerank

    li = load(spark, sf_dir, "lineitem")
    pairs = li.select(
        (F.col("l_partkey") * 2).alias("p"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
    ).distinct()
    edges = pairs.select(F.col("p").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    # pairs is distinct and the two orientations are parity-disjoint,
    # so the union is already a deduped edge list
    return pagerank(edges, iters=3, damping=0.85, assume_distinct=True)


def _pagerank_oracle(iters: int = 3) -> str:
    teleport = repr(1 - 0.85)  # same IEEE double the Spark loop uses
    head = """
WITH pairs AS (
  SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s FROM lineitem
), edges AS (
  SELECT p AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, p AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION
  SELECT DISTINCT dst FROM edges
), deg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), nn AS (
  SELECT count(*) AS n FROM nodes
), r0 AS (
  SELECT node, floor(CAST(1.0 AS DOUBLE) / n * 1e12 + 0.5) / 1e12 AS rank FROM nodes, nn
)"""
    its = []
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        its.append(f""", r{i} AS (
  SELECT x.node,
         floor((CAST({teleport} AS DOUBLE) / nn.n
                + CAST(0.85 AS DOUBLE) * COALESCE(c.s, CAST(0.0 AS DOUBLE)))
               * 1e12 + 0.5) / 1e12 AS rank
  FROM nodes x CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum(CAST(floor(r.rank / d.deg * 1e12 + 0.5) / 1e12 AS DECIMAL(28,12))) AS DOUBLE) AS s
    FROM {prev} r JOIN edges e ON r.node = e.src JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) c ON x.node = c.node
)""")
    return head + "".join(its) + f"\nSELECT node, rank FROM r{iters}"


ORACLE_PAGERANK = _pagerank_oracle(3)


QUERIES.update({
    "graph_pagerank": QuerySpec(
        q_graph_pagerank, ORACLE_PAGERANK,
        doc="3-iteration PageRank, exact SQL-unrolled oracle — iterative join+agg rounds",
    ),
})


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the documents table — all five columns
    in one corpus pass (Expand rewrite), vs the oracle's per-column
    UNION of aggregates."""
    from fluvio_duck_spark.operators.profiling import profile_columns

    docs = load(spark, sf_dir, "documents")
    return profile_columns(docs, ["doc_id", "text", "lang", "source", "n_chars"])


def _profile_oracle(cols: list[str]) -> str:
    parts = [
        f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_val,
       CAST(max({c}) AS VARCHAR) AS max_val
FROM documents"""
        for c in cols
    ]
    return "\nUNION ALL\n".join(parts)


ORACLE_PROFILE = _profile_oracle(["doc_id", "text", "lang", "source", "n_chars"])


QUERIES.update({
    "profile_documents": QuerySpec(
        q_profile_documents, ORACLE_PROFILE,
        doc="single-pass column profiling (nulls/cardinality/bounds) via Expand",
    ),
})


def q_sample_time_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (backtest) cross-validation folds: fold i trains
    on everything before its test week and tests on that week — the
    split discipline time-series models need (no future leakage).
    The 4-row fold spec broadcast-crossJoins the log (map-only fan-out);
    each event lands in every fold where it plays a role."""
    ev = load(spark, sf_dir, "events")
    folds = spark.createDataFrame(
        [(i, f"2024-01-{8 + 7 * (i - 1):02d}") for i in (1, 2, 3)],
        "fold int, test_start string",
    ).limit(3).select(  # literal 3-row dim; limit = plan-provable bound
        "fold",
        F.col("test_start").cast("timestamp").alias("t0"),
        (F.col("test_start").cast("timestamp") + F.expr("INTERVAL 7 DAYS")).alias("t1"),
    )
    tagged = ev.crossJoin(F.broadcast(folds)).withColumn(
        "role",
        F.when(F.col("ts") < F.col("t0"), "train")
        .when((F.col("ts") >= F.col("t0")) & (F.col("ts") < F.col("t1")), "test"),
    )
    return (
        tagged.filter(F.col("role").isNotNull())
        .groupBy("fold", "role")
        .agg(F.count("*").alias("n_events"),
             F.countDistinct("user_id").alias("n_users"))
    )


ORACLE_TIME_FOLDS = """
WITH folds AS (
  SELECT 1 AS fold, TIMESTAMP '2024-01-08' AS t0 UNION ALL
  SELECT 2, TIMESTAMP '2024-01-15' UNION ALL
  SELECT 3, TIMESTAMP '2024-01-22'
)
SELECT fold,
       CASE WHEN ts < t0 THEN 'train'
            WHEN ts >= t0 AND ts < t0 + INTERVAL 7 DAY THEN 'test' END AS role,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events CROSS JOIN folds
WHERE ts < t0 + INTERVAL 7 DAY
GROUP BY fold, role
"""


QUERIES.update({
    "sample_time_folds": QuerySpec(
        q_sample_time_folds, ORACLE_TIME_FOLDS,
        doc="rolling-origin backtest folds — leak-free time-series splits",
    ),
})


def q_drift_psi_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index of the value distribution per event
    type: reference week Jan 8-15 vs fresh week Jan 22-29, 10 fixed
    bins of width 50."""
    from fluvio_duck_spark.operators.drift import psi_by_group

    ev = load(spark, sf_dir, "events")
    t = lambda s: F.lit(s).cast("timestamp")  # noqa: E731
    return psi_by_group(
        ev,
        "event_type",
        "value",
        expected_pred=(F.col("ts") >= t("2024-01-08")) & (F.col("ts") < t("2024-01-15")),
        actual_pred=(F.col("ts") >= t("2024-01-22")) & (F.col("ts") < t("2024-01-29")),
        bin_width=50.0,
        n_bins=10,
    )


ORACLE_DRIFT_PSI = """
WITH counts AS (
  SELECT event_type,
         LEAST(9, GREATEST(0, CAST(floor(value / 50.0) AS INTEGER))) AS bin,
         sum(CASE WHEN ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
                  THEN 1 ELSE 0 END) AS ce,
         sum(CASE WHEN ts >= TIMESTAMP '2024-01-22' AND ts < TIMESTAMP '2024-01-29'
                  THEN 1 ELSE 0 END) AS ca
  FROM events
  WHERE (ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15')
     OR (ts >= TIMESTAMP '2024-01-22' AND ts < TIMESTAMP '2024-01-29')
  GROUP BY event_type, bin
), spine AS (
  SELECT g.event_type, b.bin
  FROM (SELECT DISTINCT event_type FROM events) g,
       (SELECT unnest(range(10)) AS bin) b
), dense AS (
  SELECT s.event_type, s.bin,
         COALESCE(c.ce, 0) AS ce, COALESCE(c.ca, 0) AS ca
  FROM spine s LEFT JOIN counts c
    ON s.event_type = c.event_type AND s.bin = c.bin
), sm AS (
  SELECT event_type,
         (ce + 1) / (sum(ce) OVER (PARTITION BY event_type) + 10) AS pe,
         (ca + 1) / (sum(ca) OVER (PARTITION BY event_type) + 10) AS pa
  FROM dense
)
SELECT event_type, round(sum((pa - pe) * ln(pa / pe)), 6) AS psi
FROM sm GROUP BY event_type
"""


QUERIES.update({
    "drift_psi_by_type": QuerySpec(
        q_drift_psi_by_type, ORACLE_DRIFT_PSI,
        doc="PSI drift check: reference vs fresh week, one corpus pass",
    ),
})


def q_text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring in the
    same document — the corpus-association statistic behind collocation
    mining and classic embedding pipelines.

    Shape: distinct (doc, token) → self-join on doc (pair fan-out is
    per-doc-vocab², bounded by document length, never corpus²) → pair
    counts ⋈ unigram doc-frequencies; the corpus size N folds in as a
    lazy 1-row agg crossJoin (the LEO pattern — no driver count).
    PMI = ln(N·c_xy / (c_x·c_y)), rounded to 6 (identical integer
    ratios into ln on both engines)."""
    docs = load(spark, sf_dir, "documents")
    doctok = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.regexp_replace("text", "[^a-zA-Z]+", " ")), " ")
            ).alias("token"),
        )
        .filter(F.length("token") >= 3)
        .distinct()
    )
    # doctok feeds both self-join sides AND the unigram frequencies —
    # un-materialized, each consumer re-scans and re-distincts the
    # corpus (branch reuse is not deduped); one (doc,token) checkpoint
    doctok = doctok.localCheckpoint(eager=True)
    a, b = doctok.alias("a"), doctok.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.token") < F.col("b.token")))
        .groupBy(F.col("a.token").alias("token_a"),
                 F.col("b.token").alias("token_b"))
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    dfreq = doctok.groupBy("token").agg(F.count("*").alias("c"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        pairs.join(dfreq.select(F.col("token").alias("token_a"),
                                F.col("c").alias("c_x")), "token_a")
        .join(dfreq.select(F.col("token").alias("token_b"),
                           F.col("c").alias("c_y")), "token_b")
        .crossJoin(n)
        .select(
            "token_a", "token_b", "c_xy",
            F.round(
                F.log(F.col("n_docs") * F.col("c_xy")
                      / (F.col("c_x") * F.col("c_y"))), 6
            ).alias("pmi"),
        )
    )


ORACLE_PMI = """
WITH doctok AS (
  SELECT DISTINCT doc_id, t AS token FROM (
    SELECT doc_id,
           unnest(string_split(lower(regexp_replace(text, '[^a-zA-Z]+', ' ', 'g')), ' ')) AS t
    FROM documents
  ) WHERE len(t) >= 3
), pairs AS (
  SELECT a.token AS token_a, b.token AS token_b, count(*) AS c_xy
  FROM doctok a JOIN doctok b
    ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY a.token, b.token
  HAVING count(*) >= 5
), dfreq AS (
  SELECT token, count(*) AS c FROM doctok GROUP BY token
), nn AS (
  SELECT count(*) AS n_docs FROM documents
)
SELECT p.token_a, p.token_b, p.c_xy,
       round(ln(nn.n_docs * p.c_xy / (x.c * y.c)), 6) AS pmi
FROM pairs p
JOIN dfreq x ON p.token_a = x.token
JOIN dfreq y ON p.token_b = y.token
CROSS JOIN nn
"""


QUERIES.update({
    "text_pmi_cooccurrence": QuerySpec(
        q_text_pmi_cooccurrence, ORACLE_PMI,
        doc="PMI collocations via doc-bounded pair fan-out + lazy 1-row N",
    ),
})


def q_agg_ordered_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered collection aggregates (§2.7 family): per customer the
    sorted array of order keys and its CSV form — collect_list is
    unordered across partial aggregation, so the sort happens ONCE on
    the assembled array (deterministic on any cluster), mirroring
    DuckDB's list(... ORDER BY).  The array is surfaced as its joined CSV
    form plus element count: the driver's pandas canon cannot hash
    list-typed cells (scripts/lint_oracle_types.py)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.array_sort(F.collect_list("o_orderkey")).alias("_keys"))
        .select(
            "o_custkey",
            F.size("_keys").alias("n_orders"),
            F.concat_ws(",", F.col("_keys").cast("array<string>"))
            .alias("orderkeys_csv"),
        )
    )


ORACLE_ORDERED_LIST = """
SELECT o_custkey,
       CAST(COUNT(*) AS INTEGER) AS n_orders,
       string_agg(o_orderkey, ',' ORDER BY o_orderkey) AS orderkeys_csv
FROM orders GROUP BY o_custkey
"""


QUERIES.update({
    "agg_ordered_list": QuerySpec(
        q_agg_ordered_list, ORACLE_ORDERED_LIST,
        doc="ordered array + string aggregates (list/string_agg parity)",
    ),
})


def q_sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negatives: 4 different-label rows per
    anchor embedding, drawn by pure integer hashing (reproducible on
    any cluster layout — the property that makes training pairs
    auditable)."""
    from fluvio_duck_spark.operators.sampling import negative_samples

    emb = load(spark, sf_dir, "embeddings")
    return negative_samples(emb, "vec_id", "label", k=4, seed=0)


ORACLE_NEGATIVES = """
WITH nn AS (
  SELECT max(vec_id) + 1 AS n FROM embeddings
), draws AS (
  SELECT e.vec_id AS aid, e.label AS albl, t.j, nn.n
  FROM embeddings e CROSS JOIN nn CROSS JOIN (SELECT unnest(range(8)) AS j) t
), cand AS (
  SELECT aid, albl, j,
         ((aid + 1) * (2654435761 + j * 98765431)) % n AS cid
  FROM draws
), valid AS (
  SELECT c.aid, c.j, c.cid
  FROM cand c JOIN embeddings x ON c.cid = x.vec_id
  WHERE c.cid <> c.aid AND x.label <> c.albl
)
SELECT aid AS vec_id,
       CAST(row_number() OVER (PARTITION BY aid ORDER BY j) AS INTEGER) AS neg_rank,
       cid AS neg_id
FROM valid
QUALIFY neg_rank <= 4
"""


QUERIES.update({
    "sample_negatives": QuerySpec(
        q_sample_negatives, ORACLE_NEGATIVES,
        doc="deterministic contrastive negative sampling (hash-permutation draws, k-bounded window)",
    ),
})


def q_sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for the label-0 anchors: per anchor the 2 most
    similar different-label embeddings — GEMM batch scoring with the
    label mask applied before each batch's partial top-k."""
    from fluvio_duck_spark.operators.similarity import hard_negatives

    emb = load(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("label") == 0), k=2)


ORACLE_HARD_NEGATIVES = """
WITH cn AS (
  SELECT vec_id, label, list_transform(embedding,
           x -> CAST(x AS DOUBLE) / sqrt(list_aggregate(list_transform(embedding,
                  y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS nv
  FROM embeddings),
q AS (
  SELECT vec_id AS query_id, label AS qlbl, nv AS qv
  FROM cn WHERE label = 0),
s AS (
  SELECT q.query_id, c.vec_id,
    list_aggregate(list_transform(range(1, len(c.nv)+1),
        i -> c.nv[i] * q.qv[i]), 'sum') AS sim
  FROM cn c CROSS JOIN q WHERE c.label <> q.qlbl),
r AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rn
  FROM s)
SELECT query_id, vec_id, ROUND(sim, 6) AS sim, CAST(rn AS INTEGER) AS rn
FROM r WHERE rn <= 2
"""


QUERIES.update({
    "sample_hard_negatives": QuerySpec(
        q_sample_hard_negatives, ORACLE_HARD_NEGATIVES,
        doc="hard-negative mining: label-masked GEMM partial top-k",
    ),
})


def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-in-engine: recall@5 of the IVF probe against exhaustive
    search for the label-0 query set — the accept/reject metric every
    ANN deployment gates on, computed as a query (both result sets are
    deterministic, so even the quality metric is oracle-checkable).
    One row: (n_queries, avg_recall) with avg_recall = total true
    neighbors retrieved / (5·n_queries) — a single exact division, no
    float accumulation order to worry about."""
    from fluvio_duck_spark.operators.similarity import (
        cosine_topk_batch,
        ivf_topk_batch,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    exact = cosine_topk_batch(emb, queries, k=5).select("query_id", "vec_id")
    approx = ivf_topk_batch(emb, queries, k=5).select("query_id", "vec_id")
    hits = exact.join(approx, ["query_id", "vec_id"]).agg(
        F.count("*").alias("n_hits")
    )
    nq = queries.agg(F.count("*").alias("n_queries"))
    return nq.crossJoin(hits).select(
        "n_queries",
        F.round(F.col("n_hits") / (F.lit(5) * F.col("n_queries")), 6)
        .alias("avg_recall"),
    )


ORACLE_IVF_RECALL = """
WITH cn AS (
  SELECT vec_id, label, list_transform(embedding,
           x -> CAST(x AS DOUBLE) / sqrt(list_aggregate(list_transform(embedding,
                  y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum'))) AS nv
  FROM embeddings),
q AS (
  SELECT vec_id AS query_id, label AS qcell, nv AS qv FROM cn WHERE label = 0),
ex AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_aggregate(list_transform(range(1, len(c.nv)+1),
                 i -> c.nv[i] * q.qv[i]), 'sum') DESC, c.vec_id) AS rn
    FROM cn c CROSS JOIN q WHERE c.vec_id <> q.query_id
  ) WHERE rn <= 5),
ap AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_aggregate(list_transform(range(1, len(c.nv)+1),
                 i -> c.nv[i] * q.qv[i]), 'sum') DESC, c.vec_id) AS rn
    FROM cn c JOIN q ON c.label = q.qcell AND c.vec_id <> q.query_id
  ) WHERE rn <= 5),
h AS (SELECT count(*) AS n_hits FROM ex JOIN ap USING (query_id, vec_id)),
nq AS (SELECT count(*) AS n_queries FROM q)
SELECT nq.n_queries, round(h.n_hits / (5.0 * nq.n_queries), 6) AS avg_recall
FROM nq CROSS JOIN h
"""


QUERIES.update({
    "sim_ivf_recall": QuerySpec(
        q_sim_ivf_recall, ORACLE_IVF_RECALL,
        doc="eval-in-engine: IVF recall@5 vs exhaustive, oracle-checked",
    ),
})


def q_text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal per document (rows-only: zlib
    has no SQL oracle; monotonicity + determinism pinned in tests)."""
    from fluvio_duck_spark.functions.text import compression_ratio_udf

    docs = load(spark, sf_dir, "documents")
    ratio = compression_ratio_udf()
    return docs.select("doc_id", ratio(F.col("text")).alias("compression_ratio"))


QUERIES.update({
    "text_compression_ratio": QuerySpec(
        q_text_compression_ratio, None,
        doc="zlib compression-ratio boilerplate signal (Arrow-batched, map-only; rows-only by nature)",
    ),
})


def q_text_compressibility_companion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable companion to text_compression_ratio (the
    agg_approx bound-boolean pattern): exact SQL-expressible
    compressibility proxies — byte length and the distinct-trigram ratio
    (repetitive text reuses trigrams, the same signal zlib's LZ77 window
    exploits) — hash-matched bit-for-bit against the oracle, plus one
    boolean asserting the zlib ratio obeys the DEFLATE worst-case bound
    (stored blocks: ≤ 5 bytes per 16 KiB block + 11 bytes stream
    overhead).  A broken zlib path flips the boolean and fails the
    driver hash; the raw zlib ratio itself stays informational in
    text_compression_ratio.  Same map-only plan: one scan, no shuffle."""
    from fluvio_duck_spark.functions.text import compression_ratio_udf

    docs = load(spark, sf_dir, "documents")
    n_chars = F.length(F.col("text"))
    n_bytes = F.octet_length(F.col("text"))
    n_tri = n_chars - F.lit(2)
    distinct_tri = F.size(
        F.array_distinct(
            F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
        )
    )
    worst_case = (
        n_bytes.cast("double") + F.lit(11.0)
        + F.lit(5.0) * F.floor(n_bytes / F.lit(16384))
    ) / n_bytes
    ratio = compression_ratio_udf()(F.col("text"))
    return docs.filter(n_chars >= 3).select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        F.round(distinct_tri.cast("double") / n_tri, 6).alias("trigram_ratio"),
        (ratio <= worst_case).alias("zlib_within_worst_case"),
    )


ORACLE_COMPRESSIBILITY_COMPANION = """
SELECT doc_id,
       strlen(text) AS n_bytes,
       round(CAST(len(list_distinct(list_transform(
                 range(1, length(text) - 1), i -> text[i:i+2]))) AS DOUBLE)
             / (length(text) - 2), 6) AS trigram_ratio,
       TRUE AS zlib_within_worst_case
FROM documents
WHERE length(text) >= 3
"""


QUERIES.update({
    "text_compressibility_companion": QuerySpec(
        q_text_compressibility_companion, ORACLE_COMPRESSIBILITY_COMPANION,
        doc="exact compressibility proxies + zlib worst-case bound boolean — oracle-paired companion to text_compression_ratio",
    ),
})


def q_agg_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: each user's most frequent event type.
    Engine-native mode() breaks ties arbitrarily (and differently per
    engine), so this is the portable form: value counts + a rank window
    ordered (count desc, value asc) — WindowGroupLimit keeps one row
    per group before the shuffle."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "cnt")
    )


ORACLE_MODE = """
SELECT user_id, mode_type, cnt FROM (
  SELECT user_id, event_type AS mode_type, count(*) AS cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY count(*) DESC, event_type) AS rn
  FROM events GROUP BY user_id, event_type
) WHERE rn = 1
"""


def q_scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar family (§2.10 extension): and/or/xor/shift/
    popcount over integer keys — used by the engine itself for bucket
    and bitmap tricks, exposed here as user surface."""
    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        (k.bitwiseAND(F.lit(255))).alias("band"),
        (k.bitwiseOR(F.lit(16))).alias("bor"),
        (k.bitwiseXOR(F.col("o_custkey"))).alias("bxor"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 3).alias("shr"),
        F.bit_count(k).alias("popcount"),
    )


ORACLE_BITWISE = """
SELECT o_orderkey,
       o_orderkey & 255 AS band,
       o_orderkey | 16 AS bor,
       xor(o_orderkey, o_custkey) AS bxor,
       o_orderkey << 2 AS shl,
       o_orderkey >> 3 AS shr,
       CAST(bit_count(o_orderkey) AS INTEGER) AS popcount
FROM orders
"""


def q_agg_stats_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (§2.7 extension): correlation, sample
    covariance/stddev/variance, and OLS slope+intercept of value vs
    event time per event type.  Both engines use single-pass co-moment
    accumulation whose float order differs — results round to 6
    decimals (magnitudes are O(1)–O(100), so 1e-10-scale accumulation
    noise is far below the rounding grid)."""
    ev = load(spark, sf_dir, "events")
    x = F.unix_timestamp("ts").cast("double")
    y = F.col("value")
    return ev.groupBy("event_type").agg(
        F.round(F.corr(x, y), 6).alias("corr_tv"),
        F.round(F.covar_samp(x, y) / 1000, 6).alias("covar_k"),
        F.round(F.stddev_samp(y), 6).alias("sd_value"),
        F.round(F.var_samp(y), 6).alias("var_value"),
        F.round(F.regr_slope(y, x) * 1000000, 6).alias("slope_ppm"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
    )


ORACLE_STATS = """
SELECT event_type,
       round(corr(CAST(floor(epoch(ts)) AS DOUBLE), value), 6) AS corr_tv,
       round(covar_samp(CAST(floor(epoch(ts)) AS DOUBLE), value) / 1000, 6) AS covar_k,
       round(stddev_samp(value), 6) AS sd_value,
       round(var_samp(value), 6) AS var_value,
       round(regr_slope(value, CAST(floor(epoch(ts)) AS DOUBLE)) * 1000000, 6) AS slope_ppm,
       round(regr_intercept(value, CAST(floor(epoch(ts)) AS DOUBLE)), 6) AS intercept
FROM events GROUP BY event_type
"""


QUERIES.update({
    "agg_mode_event_type": QuerySpec(
        q_agg_mode_event_type, ORACLE_MODE,
        doc="deterministic MODE via count + tie-broken rank (engine-native mode() ties are arbitrary)",
    ),
    "scalar_bitwise_funcs": QuerySpec(
        q_scalar_bitwise_funcs, ORACLE_BITWISE,
        doc="bitwise scalar family — §2.10 extension",
    ),
    "agg_stats_family": QuerySpec(
        q_agg_stats_family, ORACLE_STATS,
        doc="corr/covar/stddev/var/regr_slope/intercept — §2.7 statistical aggregates",
    ),
})


def q_window_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-event mean/std and z-score per user — the online-
    monitoring normalization (anomaly scores over a trailing window).
    One user-key shuffle serves all three expressions; rows with fewer
    than 2 trailing points emit NULL std/z."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-19, 0)
    )
    mean = F.avg(F.round(F.col("value"), 6)).over(w)
    sd = F.stddev_samp(F.round(F.col("value"), 6)).over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.round(mean, 6).alias("roll_mean"),
        F.round(sd, 6).alias("roll_sd"),
        F.round((F.col("value") - mean) / F.nullif(sd, F.lit(0.0)), 6).alias("roll_z"),
    )


ORACLE_ROLLING = """
SELECT event_id, user_id,
       round(avg(round(value, 6)) OVER w, 6) AS roll_mean,
       round(stddev_samp(round(value, 6)) OVER w, 6) AS roll_sd,
       round((value - avg(round(value, 6)) OVER w)
             / nullif(stddev_samp(round(value, 6)) OVER w, 0), 6) AS roll_z
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
"""


def q_source_csv_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-independence: the events table round-trips through CSV
    (write → schema-read) and must aggregate identically to the parquet
    original — the multi-format source surface a landed-topic engine
    needs.  Only exactly-serializable fields ride the trip (ints +
    strings); the oracle reads the pristine parquet."""
    ev = load(spark, sf_dir, "events")
    work = run_dir("source_csv_parity", "work")
    ev.select("event_id", "user_id", "event_type").write.option(
        "header", True
    ).csv(work)
    back = (
        spark.read.option("header", True)
        .schema("event_id long, user_id long, event_type string")
        .csv(work)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.countDistinct("user_id").alias("n_users"),
    )


ORACLE_CSV_PARITY = """
SELECT event_type, count(*) AS n,
       min(event_id) AS min_id, max(event_id) AS max_id,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def q_sink_partitioned_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 sink surface as a driver row (`sinks.copy_to_parquet`,
    reference README.md:188-205's COPY TO): orders exported partitioned
    by o_orderpriority with a maxRecordsPerFile bound, read back through
    partition-directory discovery, and aggregated — a hash match proves
    the partitioned layout round-trips values, the partition column's
    type survives directory encoding, and no rows are dropped or doubled
    by the file-split knob.  At 100 TB this layout is what makes
    `WHERE priority = X` a partition-pruned scan."""
    from fluvio_duck_spark.sinks import copy_to_parquet

    o = load(spark, sf_dir, "orders")
    work = run_dir("sink_partitioned_export", "work")
    copy_to_parquet(
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"),
        work,
        partition_by=["o_orderpriority"],
        max_records_per_file=2000,
    )
    back = spark.read.parquet(work)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.count_distinct("o_custkey").alias("n_cust"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
        .cast("double").alias("total_price"),
    )


ORACLE_SINK_PARTITIONED = """
SELECT o_orderpriority, count(*) AS n,
       count(DISTINCT o_custkey) AS n_cust,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY o_orderpriority
"""


def q_sink_compacted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sinks.compact_files` as a driver row: orders is first written
    deliberately fragmented (64 small files — the death-by-small-files
    ingest pathology), compacted in place through the staged-rewrite +
    atomic-swap path, then read back and aggregated.  The hash match
    proves compaction is lossless; the file-count assertion inside the
    query (surfaced as a boolean) proves it actually compacted."""
    from fluvio_duck_spark.sinks import compact_files, copy_to_parquet

    o = load(spark, sf_dir, "orders")
    work = run_dir("sink_compacted_roundtrip", "work")
    copy_to_parquet(o.repartition(64), work)
    before = sum(f.endswith(".parquet") for f in os.listdir(work))
    compact_files(spark, work, target_bytes=256 * 1024 * 1024)
    after = sum(f.endswith(".parquet") for f in os.listdir(work))
    back = spark.read.parquet(work)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
        .cast("double").alias("total_price"),
    ).select(
        "*", F.lit(bool(after < before)).alias("compacted"),
    )


ORACLE_SINK_COMPACTED = """
SELECT o_orderstatus, count(*) AS n,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price,
       TRUE AS compacted
FROM orders GROUP BY o_orderstatus
"""


def q_sink_wds_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard export as a driver row (`sinks.write_wds_shards`
    → `read_wds_shards`): documents are packed into 8 tar shards (the
    artifact LLM training loaders stream), read back whole-archive
    through binaryFile + an Arrow-batched tar parse, and audited per
    shard — doc count, payload bytes, and a portable per-doc content
    checksum fold.  The oracle computes the same audit DIRECTLY from
    the documents table, so a hash match proves the tar round-trip is
    content-lossless (no member dropped, no byte mangled, no doc in the
    wrong shard).  Tars are unsplittable by design: the shard is the
    parallelism unit, exactly how training loaders consume them."""
    from fluvio_duck_spark.operators.dsir import hash_bucket
    from fluvio_duck_spark.sinks import read_wds_shards, write_wds_shards

    docs = load(spark, sf_dir, "documents")
    work = run_dir("sink_wds_roundtrip", "work")
    write_wds_shards(docs, work, n_shards=8)
    back = read_wds_shards(spark, work)
    return back.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum(hash_bucket(F.col("text"), 1_000_000)).alias("checksum"),
    )


def _oracle_sink_wds() -> str:
    from fluvio_duck_spark.operators.dsir import hash_bucket_sql

    hb = hash_bucket_sql("text", 1_000_000)
    return f"""
SELECT CAST(doc_id % 8 AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(SUM({hb}) AS BIGINT) AS checksum
FROM documents WHERE text IS NOT NULL GROUP BY 1
"""


def q_sink_wds_multimodal_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset MULTIMODAL samples (VERDICT r7 #8): each sample ships
    three same-basename members — ``<id>.json`` (typed-metadata
    sidecar), ``<id>.img`` (binary media member, the
    operators/multimodal.py convention; fixture bytes are the reversed
    text since the testdata ships no real media), ``<id>.txt`` — packed
    by `sinks.write_wds_shards`, read back whole-archive and
    reassembled per basename by `read_wds_shards`.  The audit folds a
    content checksum over EVERY member class per shard: text hash,
    media-bytes hash (decoded back and compared against the oracle's
    reverse(text) derivation — any byte mangled in the binary member
    shifts it), the metadata sidecar's summed n_chars (extracted from
    the JSON that actually round-tripped), and a missing-member count
    the oracle pins at zero.  Proves the sample-grouping contract, not
    just member survival."""
    from fluvio_duck_spark.operators.dsir import hash_bucket
    from fluvio_duck_spark.sinks import read_wds_shards, write_wds_shards

    docs = load(spark, sf_dir, "documents")
    mm = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", "text",
        F.encode(F.reverse(F.col("text")), "utf-8").alias("content"),
        F.struct(
            F.lit("utf8").alias("format"),
            F.length("text").cast("int").alias("n_chars"),
        ).alias("meta"),
    )
    work = run_dir("sink_wds_multimodal_roundtrip", "work")
    write_wds_shards(
        mm, work, n_shards=8,
        content_col="content", content_ext="img", meta_col="meta",
    )
    back = read_wds_shards(spark, work)
    return back.groupBy("shard").agg(
        F.count("*").alias("n_samples"),
        F.sum(hash_bucket(F.col("text"), 1_000_000)).alias("checksum_text"),
        F.sum(
            hash_bucket(F.decode(F.col("content"), "utf-8"), 1_000_000)
        ).alias("checksum_media"),
        F.sum(
            F.get_json_object(F.col("meta"), "$.n_chars").cast("long")
        ).alias("meta_chars"),
        F.sum(
            F.when(
                F.col("content").isNull() | F.col("meta").isNull()
                | F.col("text").isNull(),
                1,
            ).otherwise(0)
        ).alias("n_missing_members"),
    )


def _oracle_sink_wds_mm() -> str:
    from fluvio_duck_spark.operators.dsir import hash_bucket_sql

    hb_text = hash_bucket_sql("text", 1_000_000)
    hb_media = hash_bucket_sql("reverse(text)", 1_000_000)
    return f"""
SELECT CAST(doc_id % 8 AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM({hb_text}) AS BIGINT) AS checksum_text,
       CAST(SUM({hb_media}) AS BIGINT) AS checksum_media,
       CAST(SUM(length(text)) AS BIGINT) AS meta_chars,
       CAST(0 AS BIGINT) AS n_missing_members
FROM documents WHERE text IS NOT NULL GROUP BY 1
"""


QUERIES.update({
    "window_rolling_stats": QuerySpec(
        q_window_rolling_stats, ORACLE_ROLLING,
        doc="rolling 20-event mean/std/z per user — online anomaly normalization",
    ),
    "sink_wds_roundtrip": QuerySpec(
        q_sink_wds_roundtrip, _oracle_sink_wds(),
        doc="WebDataset tar-shard export round-trip: pack -> binaryFile + tar "
            "parse read-back -> per-shard content-checksum audit == direct table audit",
    ),
    "sink_wds_multimodal_roundtrip": QuerySpec(
        q_sink_wds_multimodal_roundtrip, _oracle_sink_wds_mm(),
        doc="WebDataset multimodal samples: json sidecar + binary media + txt "
            "members per basename, reassembled on read — per-member-class "
            "checksum audit in-oracle, zero missing members",
    ),
    "sink_partitioned_export": QuerySpec(
        q_sink_partitioned_export, ORACLE_SINK_PARTITIONED,
        doc="K1 COPY TO parquet: partitioned + file-size-bounded export round-trip",
    ),
    "sink_compacted_roundtrip": QuerySpec(
        q_sink_compacted_roundtrip, ORACLE_SINK_COMPACTED,
        doc="compact_files: fragmented write -> staged-rewrite compaction -> lossless read-back",
    ),
    "source_csv_parity": QuerySpec(
        q_source_csv_parity, ORACLE_CSV_PARITY,
        doc="multi-format source: CSV round-trip aggregates identically to parquet",
    ),
})


def q_source_jsonl_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source twin of source_csv_parity: events round-trip
    through the re-consumable record form (sinks.py::copy_to_json
    mirrors it) and aggregate identically to the parquet original."""
    ev = load(spark, sf_dir, "events")
    work = run_dir("source_jsonl_parity", "work")
    ev.select("event_id", "user_id", "event_type").write.json(work)
    back = (
        spark.read.schema("event_id long, user_id long, event_type string")
        .json(work)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


ORACLE_JSONL_PARITY = """
SELECT event_type, count(*) AS n,
       min(event_id) AS min_id, max(event_id) AS max_id
FROM events GROUP BY event_type
"""


def q_scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type scalar surface (§2.10 extension): parse the props JSON
    into a typed map, then element access, key/size introspection, and
    a rebuilt map literal lookup — the map half of the JSON column
    workflow (struct half lives in consume's -c mappings)."""
    ev = load(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        m.getItem("k").alias("k_val"),
        F.map_keys(m)[0].alias("first_key"),
        F.size(m).alias("n_keys"),
        F.element_at(
            F.create_map(F.lit("bucket"), F.pmod(F.col("event_id"), F.lit(10))),
            "bucket",
        ).alias("bucket"),
    )


ORACLE_MAP_FUNCS = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
       'k' AS first_key,
       1 AS n_keys,
       event_id % 10 AS bucket
FROM events
"""


QUERIES.update({
    "source_jsonl_parity": QuerySpec(
        q_source_jsonl_parity, ORACLE_JSONL_PARITY,
        doc="JSON-lines source round-trip aggregates identically to parquet",
    ),
    "scalar_map_funcs": QuerySpec(
        q_scalar_map_funcs, ORACLE_MAP_FUNCS,
        doc="map-type scalars: from_json map, element access, keys/size — §2.10 extension",
    ),
})


def q_agg_bool_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregate surface (§2.7 extension):
    count_if, bool_and/bool_or (ANSI EVERY/ANY), and a deterministic
    any_value replacement (min — any_value is per-execution
    nondeterministic, so the portable form picks an explicit
    representative)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 100).alias("n_big"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
        F.bool_or(F.col("value") > 450).alias("any_huge"),
        F.min("user_id").alias("rep_user"),
    )


ORACLE_BOOL = """
SELECT event_type,
       count(*) FILTER (value > 100) AS n_big,
       bool_and(value > 0) AS all_positive,
       bool_or(value > 450) AS any_huge,
       min(user_id) AS rep_user
FROM events GROUP BY event_type
"""


QUERIES.update({
    "agg_bool_family": QuerySpec(
        q_agg_bool_family, ORACLE_BOOL,
        doc="count_if / bool_and / bool_or (EVERY/ANY) + deterministic representative — §2.7",
    ),
})


def q_scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-handling surface: the engine runs with
    spark.sql.ansi.enabled (malformed casts and div-by-zero THROW), so
    the try_* family is the user's opt-in NULL semantics — the same
    contract the -c mapping projections use internally (SURVEY §1.4.3).
    try_divide → NULL on zero, try_cast → NULL on malformed, and a
    try_to_number shape over a deliberately-mixed string."""
    ev = load(spark, sf_dir, "events")
    mixed = F.when(
        F.col("event_id") % 3 == 0, F.lit("not-a-number")
    ).otherwise(F.col("event_id").cast("string"))
    return ev.select(
        "event_id",
        F.try_divide(F.col("value"), F.col("event_id") % 5).alias("per_bucket"),
        mixed.try_cast("long").alias("parsed"),
        F.concat(
            F.lit("2024-01-"),
            F.lpad((F.col("event_id") % 40).cast("string"), 2, "0"),
        ).try_cast("date").alias("maybe_date"),
    )


ORACLE_TRY = """
SELECT event_id,
       CASE WHEN event_id % 5 = 0 THEN NULL
            ELSE value / (event_id % 5) END AS per_bucket,
       try_cast(CASE WHEN event_id % 3 = 0 THEN 'not-a-number'
                     ELSE CAST(event_id AS VARCHAR) END AS BIGINT) AS parsed,
       try_cast('2024-01-' || lpad(CAST(event_id % 40 AS VARCHAR), 2, '0') AS DATE)
         AS maybe_date
FROM events
"""


QUERIES.update({
    "scalar_try_funcs": QuerySpec(
        q_scalar_try_funcs, ORACLE_TRY,
        doc="ANSI try_* family: NULL-on-error division/cast/date parsing",
    ),
})


def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU stickiness per day.  Rolling DISTINCT
    is not window-expressible (no countDistinct over a frame), so the
    scalable form is the contribution explode: each distinct
    (user, day) row contributes to target days d..d+6, then one
    distinct+count per target day.  Fan-out is a constant 7 on the
    already-deduped (user, day) table — corpus-size-independent."""
    ev = load(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    dau = user_days.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = user_days.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        F.date_add(F.col("day"), F.col("i")).alias("target_day"),
    ).select("user_id", "target_day").distinct()
    wau = contrib.groupBy(F.col("target_day").alias("day")).agg(
        F.count("*").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day", "dau", "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


ORACLE_DAU_WAU = """
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), dau AS (
  SELECT day, count(*) AS dau FROM user_days GROUP BY day
), contrib AS (
  SELECT DISTINCT user_id, day + i.i * INTERVAL 1 DAY AS target_day
  FROM user_days, (SELECT unnest(range(7)) AS i) i
), wau AS (
  SELECT CAST(target_day AS DATE) AS day, count(*) AS wau
  FROM contrib GROUP BY 1
)
SELECT d.day, d.dau, w.wau, round(d.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
FROM dau d JOIN wau w USING (day)
"""


QUERIES.update({
    "events_dau_wau": QuerySpec(
        q_events_dau_wau, ORACLE_DAU_WAU,
        doc="DAU/WAU stickiness via constant-7 contribution explode (rolling distinct)",
    ),
})


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the recent-window co-purchase
    graph (parts co-occurring in an order shipped since mid-1997 are
    adjacent — the windowed-graph form a product-affinity analysis
    actually runs, and it keeps the benched graph proportionate).  The edge build is a
    self-join on the order key whose fan-out is bounded by order size
    (≤7 lineitems → ≤21 pairs per order); the count itself runs the
    degree-oriented O(m^1.5) algorithm in ``operators/graph.py`` —
    the oracle uses the naive rank-ordered three-way join instead,
    so the hash compare proves the oriented plan enumerates exactly
    the same triangles."""
    from fluvio_duck_spark.operators.graph import triangle_counts

    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1997-06-01"))
        .select("l_orderkey", "l_partkey")
    )
    x, y = li.alias("x"), li.alias("y")
    pairs = x.join(
        y,
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_partkey") < F.col("y.l_partkey")),
    ).select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
    return triangle_counts(pairs)


ORACLE_TRIANGLES = """
WITH pairs AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM (SELECT * FROM lineitem WHERE l_shipdate >= '1997-06-01') x
  JOIN (SELECT * FROM lineitem WHERE l_shipdate >= '1997-06-01') y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
), tri AS (
  SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
  FROM pairs e1
  JOIN pairs e2 ON e2.a = e1.b
  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, count(*) AS triangles FROM (
  SELECT n1 AS node FROM tri
  UNION ALL SELECT n2 FROM tri
  UNION ALL SELECT n3 FROM tri
) corners GROUP BY node
"""


QUERIES.update({
    "graph_triangles": QuerySpec(
        q_graph_triangles, ORACLE_TRIANGLES,
        doc="degree-oriented triangle counting (O(m^1.5) wedge bound) on the co-purchase graph",
    ),
})


def q_source_orc_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source twin of source_csv_parity: the columnar alternative
    format Spark ships natively (vectorized reader, predicate pushdown,
    column pruning — the same scan properties the parquet path gets).
    Full-fidelity round trip: ints, strings, AND the double value
    column survive ORC exactly, unlike text formats."""
    ev = load(spark, sf_dir, "events")
    work = run_dir("source_orc_parity", "work")
    ev.select("event_id", "user_id", "event_type", "value").write.orc(work)
    back = spark.read.orc(work)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6)
          .alias("sum_value"),
    )


ORACLE_ORC_PARITY = """
SELECT event_type, count(*) AS n,
       min(event_id) AS min_id, max(event_id) AS max_id,
       count(DISTINCT user_id) AS n_users,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
FROM events GROUP BY event_type
"""


QUERIES.update({
    "source_orc_parity": QuerySpec(
        q_source_orc_parity, ORACLE_ORC_PARITY,
        doc="multi-format source: native ORC round-trip (full fidelity incl. doubles)",
    ),
})


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the recent-window co-purchase graph via 3 fixed peel
    rounds — the cohesive-subgraph extraction that separates parts with
    durable co-purchase structure from incidental pairings.  Fixed
    rounds keep the iterative algorithm exactly oracle-checkable (the
    SQL oracle unrolls the same peels), the pagerank trick."""
    from fluvio_duck_spark.operators.graph import kcore_peel

    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1997-06-01"))
        .select("l_orderkey", "l_partkey")
    )
    x, y = li.alias("x"), li.alias("y")
    pairs = x.join(
        y,
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_partkey") < F.col("y.l_partkey")),
    ).select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
    return kcore_peel(pairs, k=3, rounds=3)


def _kcore_oracle(k: int = 3, rounds: int = 3) -> str:
    sql = """
WITH pairs AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM (SELECT * FROM lineitem WHERE l_shipdate >= '1997-06-01') x
  JOIN (SELECT * FROM lineitem WHERE l_shipdate >= '1997-06-01') y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
e0 AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL SELECT b, a FROM pairs)"""
    prev = "e0"
    for r in range(rounds):
        sql += f""",
keep{r} AS (
  SELECT src AS node FROM {prev} GROUP BY src HAVING COUNT(*) >= {k}),
e{r + 1} AS (
  SELECT e.src, e.dst FROM {prev} e
  JOIN keep{r} ks ON e.src = ks.node
  JOIN keep{r} kd ON e.dst = kd.node)"""
        prev = f"e{r + 1}"
    sql += f"""
SELECT src AS node, COUNT(*) AS degree
FROM {prev} GROUP BY src HAVING COUNT(*) >= {k}
"""
    return sql


QUERIES.update({
    "graph_kcore": QuerySpec(
        q_graph_kcore, _kcore_oracle(3, 3),
        doc="fixed-round k-core peeling (SQL-unrolled oracle) on the co-purchase graph",
    ),
})


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase attributes to the user's
    most recent STRICTLY-PRIOR click (ties broken by event id).  One
    user-key shuffle; the carry is a last(ignorenulls) running window —
    LOCF machinery, O(1) state per user — never a per-purchase self-join
    back into the history."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    click_id = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), True
    ).over(w)
    click_ts = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), True
    ).over(w)
    return (
        ev.withColumn("_cid", click_id)
        .withColumn("_cts", click_ts)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("_cid").alias("click_id"),
            (
                F.unix_timestamp("ts") - F.unix_timestamp("_cts")
            ).alias("gap_s"),
        )
    )


ORACLE_ATTRIBUTION = """
WITH w AS (
  SELECT event_id, user_id, event_type, ts,
         last_value(CASE WHEN event_type = 'click' THEN event_id END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_id,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_ts
  FROM events)
SELECT event_id AS purchase_id, user_id, click_id,
       CAST(floor(epoch(ts)) - floor(epoch(click_ts)) AS BIGINT) AS gap_s
FROM w WHERE event_type = 'purchase'
"""


QUERIES.update({
    "events_attribution": QuerySpec(
        q_events_attribution, ORACLE_ATTRIBUTION,
        doc="last-touch attribution via running last(ignorenulls) — no history self-join",
    ),
})


def q_join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature lookup — THE feature-store join:
    clicks join the SCD-2 purchase dimension at the version valid when
    the click happened (``valid_from <= ts < valid_to``), never a later
    one (no feature leakage).  The residual interval predicate rides
    the user-key equi-join, so fan-out is bounded by versions-per-key
    before the residual prunes to exactly one; a key with unbounded
    version history should use the as-of merge instead (same oracle
    semantics, operators/asof.py)."""
    from fluvio_duck_spark.operators.asof import scd2_intervals

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    dim = scd2_intervals(purchases, key="user_id", time="ts", payload=["value"])
    dim = dim.select(
        F.col("user_id").alias("d_user"),
        "valid_from",
        "valid_to",
        F.col("value").alias("feat_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click")
    cond = (
        (clicks.user_id == dim.d_user)
        & (dim.valid_from <= clicks.ts)
        & (dim.valid_to.isNull() | (clicks.ts < dim.valid_to))
    )
    return clicks.join(dim, cond, "left").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        "feat_value",
        (
            F.unix_timestamp("ts") - F.unix_timestamp("valid_from")
        ).alias("feat_age_s"),
    )


ORACLE_POINT_IN_TIME = """
WITH dim AS (
  SELECT user_id, ts AS vf,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS vt,
         value AS feat_value
  FROM events WHERE event_type = 'purchase'),
clicks AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'click')
SELECT c.event_id AS click_id, c.user_id, d.feat_value,
       CAST(floor(epoch(c.ts)) - floor(epoch(d.vf)) AS BIGINT) AS feat_age_s
FROM clicks c LEFT JOIN dim d
  ON c.user_id = d.user_id AND d.vf <= c.ts
     AND (d.vt IS NULL OR c.ts < d.vt)
"""


QUERIES.update({
    "join_point_in_time": QuerySpec(
        q_join_point_in_time, ORACLE_POINT_IN_TIME,
        doc="point-in-time feature lookup against the SCD-2 dimension (leak-free)",
    ),
})


def q_source_datasource_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The topic scan through Spark 4's Python DataSource API
    (``spark.read.format("fluvio")``) — the connector-ergonomics twin
    of ``fluvio_consume`` (one InputPartition per Fluvio partition,
    plan-time offset resolution, footer-statistics LEO).  Two legs:
    the dense whole-log budget (offset-range arithmetic) and the sparse
    sub-topic + -A + --rows combination, where the planner resolves the
    global budget to the rows-th matching offset before partition
    planning (VERDICT r3 parity-gap fix).  Aggregates each read so the
    oracle checks exact row/offset parity per partition."""
    from fluvio_duck_spark.sources.datasource import register_fluvio_source

    register_fluvio_source(spark)

    def leg(tag, topic, args):
        df = (
            spark.read.format("fluvio")
            .option("topic", topic)
            .option("args", args)
            .option("sf_dir", sf_dir)
            .load()
        )
        return df.groupBy("partition").agg(
            F.count("*").alias("n"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
        ).select(F.lit(tag).alias("leg"), "*")

    return leg("events_dense", "events", "-A -B --rows 3000").unionAll(
        leg("click_budget", "click", "-A -B --rows 120")
    )


ORACLE_DATASOURCE = """
SELECT 'events_dense' AS leg, CAST(user_id % 4 AS INTEGER) AS "partition",
       COUNT(*) AS n, MIN(event_id) AS min_offset, MAX(event_id) AS max_offset
FROM events WHERE event_id < 3000 GROUP BY 2
UNION ALL
SELECT 'click_budget' AS leg, CAST(user_id % 4 AS INTEGER) AS "partition",
       COUNT(*) AS n, MIN(event_id) AS min_offset, MAX(event_id) AS max_offset
FROM (SELECT event_id, user_id FROM events
      WHERE event_type = 'click' ORDER BY event_id LIMIT 120)
GROUP BY 2
"""


QUERIES.update({
    "source_datasource_parity": QuerySpec(
        q_source_datasource_parity, ORACLE_DATASOURCE,
        doc="Spark 4 Python DataSource front end (format 'fluvio'): per-partition offset parity",
    ),
})


def q_source_mapped_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """consume_mapped_typed through the DataSource front end (VERDICT r4
    #7): the whole-log scan arrives via ``spark.read.format("fluvio")``
    (one InputPartition per Fluvio partition, plan-time offset algebra)
    and the same ``-c name[:code]=path`` typed-JSON projection runs on
    top as JVM expressions.  Benched in bench.py's extended block so a
    regression in the DataSource's partition planning shows up in the
    2x perf gate, not only in correctness."""
    from fluvio_duck_spark.mappings import project
    from fluvio_duck_spark.sources.datasource import register_fluvio_source

    register_fluvio_source(spark)
    df = (
        spark.read.format("fluvio")
        .option("topic", "events")
        .option("args", "-A -B --rows 1000000")
        .option("sf_dir", sf_dir)
        .load()
    )
    cols = [("k:i", "k"), ("ks", "k"), ("kd:d", "k"), ("kf:f", "k"), ("kl:l", "k")]
    return project(df, cols)


ORACLE_SOURCE_MAPPED_TYPED = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       json_extract_string(props, '$.k') AS ks,
       CAST(json_extract_string(props, '$.k') AS DOUBLE) AS kd,
       CAST(json_extract_string(props, '$.k') AS FLOAT) AS kf,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS kl
FROM events
"""


QUERIES.update({
    "source_mapped_typed": QuerySpec(
        q_source_mapped_typed, ORACLE_SOURCE_MAPPED_TYPED,
        doc="typed -c JSON mapping over the DataSource scan — benched DataSource partition-planning path",
    ),
})


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (the next-event model behind session recommendation and
    anomaly scoring): one user-key shuffle for the lag, one count
    aggregation, and the row-normalizing total folds in as a window
    over the |states|² count table — never a second corpus pass."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("_prev", F.lag("event_type").over(w))
        .filter(F.col("_prev").isNotNull())
        .groupBy(F.col("_prev").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count("*").alias("n"))
    )
    tot = F.sum("n").over(W.partitionBy("from_type"))
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / tot, 6).alias("p"),
    )


ORACLE_MARKOV = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events),
c AS (
  SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n,
       round(n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
FROM c
"""


QUERIES.update({
    "events_markov_transitions": QuerySpec(
        q_events_markov_transitions, ORACLE_MARKOV,
        doc="first-order Markov transition matrix over per-user event sequences",
    ),
})


def q_events_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: which user deciles generate the events
    (the 80/20 diagnostic behind rate limiting and whale analysis).
    Per-user counts (one shuffle) rank through the range-partitioned
    global rank — the user table is corpus-sized, so a vanilla global
    NTILE would single-thread it — then per-decile shares fold the
    grand total in as a 1-row crossJoin."""
    from fluvio_duck_spark.operators.ranking import quantile_bins

    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    per_user = per_user.withColumn("_neg", -F.col("n_events"))
    # the count table feeds the rank, the bin agg AND the grand total —
    # exchange reuse does not dedup the branches (each re-ran the raw
    # event scan + count: measured 16 exchanges), so materialize the
    # |users|-row table once
    per_user = per_user.localCheckpoint(eager=True)
    binned = quantile_bins(
        per_user, ["_neg", "user_id"], n_bins=10, bin_col="decile"
    )
    tot = per_user.agg(F.sum("n_events").alias("_t"))
    return (
        binned.groupBy("decile")
        .agg(
            F.count("*").cast("int").alias("n_users"),
            F.sum("n_events").alias("total_events"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "total_events",
            F.round(F.col("total_events") / F.col("_t"), 6).alias("share"),
        )
    )


ORACLE_PARETO = """
WITH pu AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
r AS (
  SELECT n_events,
         row_number() OVER (ORDER BY n_events DESC, user_id) AS rn,
         count(*) OVER () AS n
  FROM pu),
b AS (
  SELECT CAST(floor((rn - 1) * 10 / n) + 1 AS INTEGER) AS decile, n_events
  FROM r),
t AS (SELECT SUM(n_events) AS tot FROM b)
SELECT decile, CAST(COUNT(*) AS INTEGER) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       round(SUM(n_events) / CAST(tot AS DOUBLE), 6) AS share
FROM b, t GROUP BY decile, tot
"""


QUERIES.update({
    "events_pareto_share": QuerySpec(
        q_events_pareto_share, ORACLE_PARETO,
        doc="Pareto/whale analysis: per-decile event share via range-partitioned global rank",
    ),
})


def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across landed snapshot versions: v1 lands
    (event_id, user_id), a later v2 adds the value column; a
    mergeSchema read unions the generations with NULL back-fill — the
    contract every long-lived landed-topic directory ends up needing.
    The aggregation proves column-level semantics: value stats must
    come from v2 rows alone, counts from both."""
    ev = load(spark, sf_dir, "events")
    work = run_dir("source_schema_evolution", "work")
    v1 = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id")
    v2 = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "value"
    )
    v1.write.parquet(os.path.join(work, "gen=1"))
    v2.write.parquet(os.path.join(work, "gen=2"))
    back = spark.read.option("mergeSchema", True).parquet(work)
    return back.groupBy().agg(
        F.count("*").alias("n_rows"),
        F.count("value").alias("n_with_value"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
        ).alias("sum_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


ORACLE_SCHEMA_EVO = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_value,
       round(CAST(SUM(CASE WHEN event_id % 2 = 1
                           THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 6)
         AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
"""


QUERIES.update({
    "source_schema_evolution": QuerySpec(
        q_source_schema_evolution, ORACLE_SCHEMA_EVO,
        doc="mergeSchema read across snapshot generations (NULL back-fill for added columns)",
    ),
})


def q_window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values
    (α=0.2) — the classic recursive statistic that has NO windowed
    closed form without exploding weights: expressed as an in-group
    left fold (collect sorted values, one sequential aggregate per
    key).  Both engines fold left-to-right over the identical order, so
    the doubles match bit-for-bit before the final rounding.  Group
    state is the user's own history — bounded per key; an unbounded
    key's stream form lives in applyInPandasWithState."""
    ev = load(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("_h")
    )
    vals = F.transform(F.col("_h"), lambda s: s.value)
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1).cast("double"),
        lambda acc, x: F.lit(0.2) * x + F.lit(0.8) * acc,
    )
    return seq.select(
        "user_id",
        F.size("_h").cast("int").alias("n_events"),
        F.round(ewma, 6).alias("ewma_value"),
    )


ORACLE_EWMA = """
WITH h AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id)
SELECT user_id, CAST(len(vals) AS INTEGER) AS n_events,
       round(list_reduce(vals, (acc, x) -> 0.2 * x + 0.8 * acc), 6)
         AS ewma_value
FROM h
"""


QUERIES.update({
    "window_ewma": QuerySpec(
        q_window_ewma, ORACLE_EWMA,
        doc="per-key EWMA via deterministic in-group left fold (recursive stat, no window form)",
    ),
})


_CMS_W = 256          # buckets per row
_CMS_ROWS = (1, 2, 3, 4)  # seed per hash row
_CMS_P = 1_000_003    # uniform_key's prime modulus


def q_sketch_cms_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch of per-user event counts — the third mergeable
    sketch beside the HLL distincts and histogram quantiles: 4 hash
    rows × 256 buckets of plain SUM state, buildable with one grouped
    aggregation and mergeable across partitions/days by bucket-wise
    addition.  The query materializes the sketch, then point-queries
    the top-20 exact heavy hitters through it and reports estimate vs
    truth — the CMS guarantee (estimate ≥ exact, off by collision mass
    only) made hash-checkable.  Hashes are the engine-portable
    Knuth-multiplicative family (operators/sampling.py::uniform_key),
    so the oracle rebuilds the identical sketch."""
    from fluvio_duck_spark.operators.sampling import uniform_key

    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    # sketch: one row per (hash_row, bucket) — built in ONE pass by
    # exploding each user onto its 4 row-buckets
    rows = F.array(
        *[
            F.struct(
                F.lit(r).alias("hrow"),
                F.pmod(uniform_key("user_id", seed=r), F.lit(_CMS_W)).alias(
                    "bucket"
                ),
            )
            for r in _CMS_ROWS
        ]
    )
    sketch = (
        per_user.select("n", F.explode(rows).alias("rb"))
        .groupBy("rb.hrow", "rb.bucket")
        .agg(F.sum("n").alias("c"))
    )
    # Top-20 heavy hitters via orderBy().limit() -> TakeOrderedAndProject
    # (per-partition heaps + driver merge of 20 rows), NOT a global
    # row_number() window, which would funnel the whole data-sized
    # per-user table through one unpartitioned WindowExec task.
    top = per_user.orderBy(F.desc("n"), F.asc("user_id")).limit(20)
    probes = top.select(
        "user_id", "n", F.explode(rows).alias("rb")
    ).select("user_id", "n", "rb.hrow", "rb.bucket")
    est = (
        probes.join(sketch, ["hrow", "bucket"])
        .groupBy("user_id", "n")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.select(
        "user_id",
        F.col("n").alias("exact"),
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("n")).alias("never_underestimates"),
    )


ORACLE_CMS = """
WITH pu AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
rb AS (
  SELECT user_id, n, r.r AS hrow,
         (((user_id + 1) * (2654435761 + r.r * 98765431)) % 1000003) % 256
           AS bucket
  FROM pu, (SELECT unnest(ARRAY[1, 2, 3, 4]) AS r) r),
sketch AS (
  SELECT hrow, bucket, SUM(n) AS c FROM rb GROUP BY hrow, bucket),
top AS (
  SELECT user_id, n FROM (
    SELECT user_id, n,
           row_number() OVER (ORDER BY n DESC, user_id) AS rk
    FROM pu) t WHERE rk <= 20),
est AS (
  SELECT p.user_id, p.n, CAST(MIN(s.c) AS BIGINT) AS cms_estimate
  FROM (SELECT t.user_id, t.n, b.hrow, b.bucket
        FROM top t JOIN rb b USING (user_id)) p
  JOIN sketch s ON s.hrow = p.hrow AND s.bucket = p.bucket
  GROUP BY p.user_id, p.n)
SELECT user_id, n AS exact, cms_estimate,
       cms_estimate >= n AS never_underestimates
FROM est
"""


QUERIES.update({
    "sketch_cms_users": QuerySpec(
        q_sketch_cms_users, ORACLE_CMS,
        doc="Count-Min sketch (4x256, portable hashes): mergeable heavy-hitter estimates vs truth",
    ),
})


#: KMV (k-minimum-values / theta sketch) parameters: hash space M and
#: sample size K.  M is a prime under the md5-fold's value spread so the
#: bucket mapping mixes; K=64 → ~12% relative error, reported exactly.
_KMV_M = 1_048_573
_KMV_K = 64


def q_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta distinct-count sketch per event type — the mergeable
    distinct sketch whose ENTIRE state is oracle-replicable (unlike
    approx_count_distinct's engine-internal HLL, which agg_approx can
    only bound-check): the sketch is the K smallest portable hash values
    of the key set, the estimate is (K−1)·M // h_K in pure BIGINT
    arithmetic, so estimate, error, and the sketch itself hash-match
    bit-for-bit.

    Scale shape: one distinct shuffle on (type, h), then SALTED
    two-stage top-K — stage 1 keeps K per (type, h mod 8) so no window
    task ever sorts more than its salt slice, stage 2 ranks the ≤ 8·K
    survivors per type (bounded by construction).  Merging two KMV
    sketches = union the value lists and re-take the K smallest — the
    same two-stage plan, which is why this is the cross-partition /
    cross-day mergeable form."""
    ev = load(spark, sf_dir, "events")
    h = hash_bucket(
        F.concat(F.lit("kmv#"), F.col("user_id").cast("string")), _KMV_M
    )
    d = ev.select("event_type", h.alias("h")).distinct()
    w1 = W.partitionBy("event_type", F.pmod(F.col("h"), F.lit(8))).orderBy("h")
    s1 = (
        d.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= _KMV_K)
    )
    w2 = W.partitionBy("event_type").orderBy("h")
    s2 = (
        s1.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= _KMV_K)
    )
    kth = s2.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth"),
    )
    nh = d.groupBy("event_type").agg(F.count("*").alias("n_h"))
    ex = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    est = F.when(F.col("n_h") < _KMV_K, F.col("n_h")).otherwise(
        F.expr(f"div({_KMV_K - 1}L * {_KMV_M}L, kth)")
    )
    return (
        ex.join(F.broadcast(nh), "event_type")
        .join(F.broadcast(kth), "event_type")
        .withColumn("est_users", est.cast("long"))
        .select(
            "event_type",
            "n_exact",
            "est_users",
            F.expr(
                "div(abs(est_users - n_exact) * 1000000L, n_exact)"
            ).alias("err_ppm"),
        )
    )


def _oracle_kmv_distinct() -> str:
    h = hash_bucket_sql("('kmv#' || CAST(user_id AS VARCHAR))", _KMV_M)
    return f"""
WITH d AS (SELECT DISTINCT event_type, {h} AS h FROM events),
topk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM d QUALIFY rn <= {_KMV_K}),
kth AS (SELECT event_type, MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS kth
        FROM topk GROUP BY event_type),
nh AS (SELECT event_type, COUNT(*) AS n_h FROM d GROUP BY event_type),
ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
       FROM events GROUP BY event_type),
rep AS (
  SELECT ex.event_type, ex.n_exact,
         CAST(CASE WHEN nh.n_h < {_KMV_K} THEN nh.n_h
              ELSE (CAST({_KMV_K - 1} AS BIGINT) * {_KMV_M}) // kth.kth
              END AS BIGINT) AS est_users
  FROM ex JOIN nh USING (event_type) JOIN kth USING (event_type))
SELECT event_type, n_exact, est_users,
       (abs(est_users - n_exact) * CAST(1000000 AS BIGINT)) // n_exact
         AS err_ppm
FROM rep
"""


def q_sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations over KMV samples: estimate the UNION
    and INTERSECTION cardinalities of two key sets (click users vs
    purchase users) from one K-minimum-values sample of the union —
    union = (K−1)·M // h_K; intersection = (members of the sample in
    both sets) · union // K.  This is the audience-overlap workload
    (segment reach/frequency) where exact distinct-intersections need a
    full co-group; the sketch answers from K values per segment.

    Scale shape: one hash-keyed aggregate folds each user's membership
    flags (the flags ride the same row, so union+intersection come from
    ONE sample), then the K smallest via orderBy().limit() —
    TakeOrderedAndProject per-partition heaps, NO window, no global
    sort.  Exact companions computed alongside; everything BIGINT."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    h = hash_bucket(
        F.concat(F.lit("kmv#"), F.col("user_id").cast("string")), _KMV_M
    )
    flags = (
        ev.select(
            h.alias("h"),
            (F.col("event_type") == "click").cast("int").alias("in_a"),
            (F.col("event_type") == "purchase").cast("int").alias("in_b"),
        )
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    top = flags.orderBy("h").limit(_KMV_K)
    sample = top.agg(
        F.max("h").alias("kth"),
        F.count("*").alias("n_kept"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("c_inter"),
    )
    totals = flags.agg(
        F.count("*").alias("n_h"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter_h"),
    )
    ex = (
        ev.groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("a"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("b"),
        )
        .agg(
            F.count("*").alias("n_union_exact"),
            F.sum(F.col("a") * F.col("b")).alias("n_inter_exact"),
        )
    )
    est_union = F.when(F.col("n_h") < _KMV_K, F.col("n_h")).otherwise(
        F.expr(f"div({_KMV_K - 1}L * {_KMV_M}L, kth)")
    )
    rep = (
        ex.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(sample))
        .withColumn("est_union", est_union.cast("long"))
    )
    est_inter = F.when(
        F.col("n_h") < _KMV_K, F.col("n_inter_h")
    ).otherwise(F.expr("div(c_inter * est_union, n_kept)"))
    return rep.select(
        "n_union_exact",
        "est_union",
        "n_inter_exact",
        est_inter.cast("long").alias("est_inter"),
        F.col("c_inter").cast("long").alias("c_sample_inter"),
    )


def _oracle_kmv_set_ops() -> str:
    h = hash_bucket_sql("('kmv#' || CAST(user_id AS VARCHAR))", _KMV_M)
    return f"""
WITH ev AS (SELECT * FROM events WHERE event_type IN ('click', 'purchase')),
flags AS (
  SELECT {h} AS h,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
  FROM ev GROUP BY 1),
top AS (SELECT h, in_a, in_b,
               row_number() OVER (ORDER BY h) AS rn
        FROM flags QUALIFY rn <= {_KMV_K}),
sample AS (SELECT MAX(h) AS kth, COUNT(*) AS n_kept,
                  SUM(in_a * in_b) AS c_inter FROM top),
totals AS (SELECT COUNT(*) AS n_h, SUM(in_a * in_b) AS n_inter_h FROM flags),
ex AS (
  SELECT COUNT(*) AS n_union_exact, SUM(a * b) AS n_inter_exact FROM (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
    FROM ev GROUP BY user_id)),
rep AS (
  SELECT ex.*, totals.*, sample.*,
         CAST(CASE WHEN totals.n_h < {_KMV_K} THEN totals.n_h
              ELSE (CAST({_KMV_K - 1} AS BIGINT) * {_KMV_M}) // sample.kth
              END AS BIGINT) AS est_union
  FROM ex, totals, sample)
SELECT CAST(n_union_exact AS BIGINT) AS n_union_exact, est_union,
       CAST(n_inter_exact AS BIGINT) AS n_inter_exact,
       CAST(CASE WHEN n_h < {_KMV_K} THEN n_inter_h
            ELSE (CAST(c_inter AS BIGINT) * est_union) // n_kept
            END AS BIGINT) AS est_inter,
       CAST(c_inter AS BIGINT) AS c_sample_inter
FROM rep
"""


def q_rollup_kmv_weekly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup, merge proven LOSSLESS by the oracle: the
    Spark side builds per-DAY KMV sketches and merges them into weekly
    estimates (union the ≤ K values per day, re-take the K smallest);
    the DuckDB oracle computes each week DIRECTLY from raw keys.  The
    two hash-match because any hash among a week's K smallest is among
    its own day's K smallest — the mergeability theorem, made a driver
    assertion.  This is the property HLL rollups (rollup_hll_daily) can
    only bound-check; the KMV state is ≤ K BIGINTs per day and merges
    associatively across partitions, days, or datacenters.

    Scale shape: one distinct shuffle on (day, h); per-day top-K salted
    two-stage; the weekly merge ranks ≤ 7·K rows per week."""
    ev = load(spark, sf_dir, "events")
    h = hash_bucket(
        F.concat(F.lit("kmv#"), F.col("user_id").cast("string")), _KMV_M
    )
    d = (
        ev.select(
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
            F.to_date("ts").alias("day"),
            h.alias("h"),
        )
        .distinct()
    )
    w1 = W.partitionBy("day", F.pmod(F.col("h"), F.lit(8))).orderBy("h")
    w2 = W.partitionBy("day").orderBy("h")
    daily = (
        d.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= _KMV_K)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= _KMV_K)
        .select("week", "day", "h")
    )
    # merge: K smallest of the union of the week's daily sketches
    wm = W.partitionBy("week").orderBy("h")
    merged = (
        daily.select("week", "h").distinct()
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= _KMV_K)
    )
    sk = merged.groupBy("week").agg(
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth"),
        F.count("*").alias("n_kept"),
    )
    ex = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).agg(F.count_distinct("user_id").alias("n_exact"))
    est = F.when(F.col("n_kept") < _KMV_K, F.col("n_kept")).otherwise(
        F.expr(f"div({_KMV_K - 1}L * {_KMV_M}L, kth)")
    )
    return (
        ex.join(F.broadcast(sk), "week")
        .withColumn("est_users", est.cast("long"))
        .select(
            "week",
            "n_exact",
            "est_users",
            F.expr(
                "div(abs(est_users - n_exact) * 1000000L, n_exact)"
            ).alias("err_ppm"),
        )
    )


def _oracle_kmv_weekly() -> str:
    # DIRECT weekly sketches from raw keys — hash-matching the Spark
    # side's daily-merge path is the mergeability proof.
    h = hash_bucket_sql("('kmv#' || CAST(user_id AS VARCHAR))", _KMV_M)
    return f"""
WITH d AS (
  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week, {h} AS h
  FROM events),
topk AS (
  SELECT week, h, row_number() OVER (PARTITION BY week ORDER BY h) AS rn
  FROM d QUALIFY rn <= {_KMV_K}),
sk AS (SELECT week, MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS kth,
              COUNT(*) AS n_kept FROM topk GROUP BY week),
ex AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
              COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY 1),
rep AS (
  SELECT ex.week, ex.n_exact,
         CAST(CASE WHEN sk.n_kept < {_KMV_K} THEN sk.n_kept
              ELSE (CAST({_KMV_K - 1} AS BIGINT) * {_KMV_M}) // sk.kth
              END AS BIGINT) AS est_users
  FROM ex JOIN sk USING (week))
SELECT week, n_exact, est_users,
       (abs(est_users - n_exact) * CAST(1000000 AS BIGINT)) // n_exact
         AS err_ppm
FROM rep
"""


QUERIES.update({
    "sketch_kmv_distinct": QuerySpec(
        q_sketch_kmv_distinct, _oracle_kmv_distinct(),
        doc="KMV/theta distinct sketch per event type: K smallest portable hashes, BIGINT estimator — the whole sketch oracle-replicated",
    ),
    "sketch_kmv_set_ops": QuerySpec(
        q_sketch_kmv_set_ops, _oracle_kmv_set_ops(),
        doc="theta-sketch union/intersection estimates from one KMV sample of two segments, exact companions alongside",
    ),
    "rollup_kmv_weekly_users": QuerySpec(
        q_rollup_kmv_weekly_users, _oracle_kmv_weekly(),
        doc="daily KMV sketches merged into weekly estimates vs the oracle's direct weekly build — sketch mergeability as a driver assertion",
    ),
})


# ---------------------------------------------------------------------------
# events_journey_patterns — MATCH_RECOGNIZE-lite over per-user sequences
# ---------------------------------------------------------------------------

def q_events_journey_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event journeys (the
    MATCH_RECOGNIZE shape): encode each user's time-ordered events as a
    character string (c/e/p/s/v initials), then run regex pattern
    queries IN-ROW — full-funnel subsequence `v.*c.*p`, and the count of
    direct view→purchase transitions (`vp` occurrences).

    ONE user-key shuffle (map-side-combined collect_list); ordering is
    recovered in-row with array_sort over (ts, event_id, initial)
    structs, so no window sort pass.  Patterns use only literals,
    anchors, `.` and `*` — semantics identical across regex engines.
    Journey length is bounded by per-user event count; a per-user cap
    (slice) would bound hot-key rows at 100 TB without changing the
    plan shape.
    """
    ev = load(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
                )
            )
        ).alias("evs")
    )
    journey = F.array_join(
        F.transform("evs", lambda s: s["c"]), ""
    ).alias("journey")
    out = seq.select("user_id", journey)
    return out.select(
        "user_id",
        F.length("journey").alias("n_events"),
        (F.col("journey").rlike("v.*c.*p")).alias("full_funnel"),
        F.regexp_count(F.col("journey"), F.lit("vp")).alias("n_direct_vp"),
    )


ORACLE_JOURNEY = """
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS journey
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(journey) AS INTEGER) AS n_events,
       regexp_matches(journey, 'v.*c.*p') AS full_funnel,
       CAST(len(regexp_extract_all(journey, 'vp')) AS INTEGER) AS n_direct_vp
FROM seq
"""


# ---------------------------------------------------------------------------
# funnel_time_to_convert — delay distribution between funnel stages
# ---------------------------------------------------------------------------

def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of view→purchase conversion delay: for each user
    with a purchase after their first view, the delay in whole seconds;
    reported as exact quartiles + mean per cohort-free corpus.

    Two map-side-combined per-user aggregates (first view, first
    purchase-after-view via conditional min) in ONE pass each, then
    quartiles over the per-user delay table (users ≪ events).  Delays
    are integer seconds so the interpolated quartiles are x.0/x.25/x.5
    doubles — exact and engine-identical.
    """
    ev = load(spark, sf_dir, "events")
    fv = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("first_view")
    )
    joined = ev.filter(F.col("event_type") == "purchase").join(
        fv, "user_id"
    ).filter(F.col("ts") > F.col("first_view"))
    delays = joined.groupBy("user_id").agg(
        F.min(
            F.unix_timestamp("ts") - F.unix_timestamp("first_view")
        ).alias("delay_s")
    )
    return delays.agg(
        F.count("*").alias("n_converted"),
        F.expr("percentile(delay_s, 0.25)").alias("p25_s"),
        F.expr("percentile(delay_s, 0.5)").alias("p50_s"),
        F.expr("percentile(delay_s, 0.75)").alias("p75_s"),
        F.round(
            F.sum("delay_s").cast("double") / F.count("*"), 6
        ).alias("mean_s"),
    )


ORACLE_TIME_TO_CONVERT = """
WITH fv AS (
  SELECT user_id, min(ts) AS first_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), delays AS (
  SELECT e.user_id,
         min(date_diff('second', fv.first_view, e.ts)) AS delay_s
  FROM events e JOIN fv USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > fv.first_view
  GROUP BY e.user_id
)
SELECT count(*) AS n_converted,
       quantile_cont(delay_s, 0.25) AS p25_s,
       quantile_cont(delay_s, 0.5) AS p50_s,
       quantile_cont(delay_s, 0.75) AS p75_s,
       round(CAST(sum(delay_s) AS DOUBLE) / count(*), 6) AS mean_s
FROM delays
"""


QUERIES.update({
    "events_journey_patterns": QuerySpec(
        q_events_journey_patterns, ORACLE_JOURNEY,
        doc="MATCH_RECOGNIZE-lite: regex pattern queries over in-row encoded user journeys",
    ),
    "funnel_time_to_convert": QuerySpec(
        q_funnel_time_to_convert, ORACLE_TIME_TO_CONVERT,
        doc="view->purchase delay distribution: exact quartiles over per-user delays",
    ),
})


# ---------------------------------------------------------------------------
# sessions_journey_patterns — MATCH_RECOGNIZE-lite at session grain
# ---------------------------------------------------------------------------

def q_sessions_journey_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SESSION sequence patterns: sessionize (1-hour gap, the
    batch_sessionize contract) then encode each session's events as a
    string and pattern-match in-row — "did this visit convert" at the
    grain product analytics actually asks it.

    Same plan skeleton as the user-grain variant plus the sessionize
    windows: everything reuses ONE user-key shuffle (sessionize windows
    and the (user, session) groupBy co-partition on user).
    """
    from fluvio_duck_spark.operators.sessions import sessionize

    ev = load(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap="1 hour", order_tiebreak="event_id")
    seq = s.groupBy(
        "user_id", F.col("session_id").cast("long").alias("session_id")
    ).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
                )
            )
        ).alias("evs")
    )
    journey = F.array_join(F.transform("evs", lambda x: x["c"]), "")
    return seq.select(
        "user_id",
        "session_id",
        journey.alias("journey"),
        (journey.rlike("v.*c.*p")).alias("full_funnel"),
        F.regexp_count(journey, F.lit("vp")).alias("n_direct_vp"),
    )


ORACLE_SESSION_JOURNEY = """
WITH m AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, event_id, event_type,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m),
seq AS (
  SELECT user_id, CAST(sid AS BIGINT) AS session_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS journey
  FROM s GROUP BY 1, 2)
SELECT user_id, session_id, journey,
       regexp_matches(journey, 'v.*c.*p') AS full_funnel,
       CAST(len(regexp_extract_all(journey, 'vp')) AS INTEGER) AS n_direct_vp
FROM seq
"""


# ---------------------------------------------------------------------------
# forecast_backtest_mape — seasonal-naive forecast scored in-engine
# ---------------------------------------------------------------------------

def q_forecast_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-in-engine forecasting baseline: seasonal-naive forecast
    (hourly count = same hour last week, lag 168 on the dense spine) is
    scored over the final 7 days with MAE and MAPE per type — the
    backtest every forecasting pipeline runs before anything fancier.

    Dense spine via the gap-fill contract (1-row span agg, no driver
    action); the lag and the eval-window filter ride the spine's key
    shuffle; errors are integers until the per-row APE division, and
    MAPE accumulates in DECIMAL so task order can't move a bit.
    """
    from pyspark.sql import Window as W

    from fluvio_duck_spark.operators.timeseries import calendar_gapfill

    ev = load(spark, sf_dir, "events")
    dense = calendar_gapfill(ev, "event_type", "ts", step="1 hour")
    w = W.partitionBy("event_type").orderBy("bucket")
    fc = dense.withColumn("forecast", F.lag("n", 168).over(w))
    hi = dense.agg(F.max("bucket").alias("hi"))
    ev_rows = (
        fc.crossJoin(hi)
        .filter(F.col("bucket") > F.col("hi") - F.expr("INTERVAL 7 DAYS"))
        .filter(F.col("forecast").isNotNull() & (F.col("n") > 0))
    )
    ape = (
        F.abs(F.col("n") - F.col("forecast")).cast("double")
        / F.col("n").cast("double")
    )
    return ev_rows.groupBy("event_type").agg(
        F.count("*").alias("n_evals"),
        F.sum(F.abs(F.col("n") - F.col("forecast"))).alias("abs_err_total"),
        F.round(
            F.sum(ape.cast("decimal(20,12)")).cast("double") / F.count("*"),
            6,
        ).alias("mape"),
    )


ORACLE_FORECAST_MAPE = """
WITH obs AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n
  FROM events GROUP BY 1, 2
), span AS (
  SELECT min(date_trunc('hour', ts)) AS lo, max(date_trunc('hour', ts)) AS hi
  FROM events
), spine AS (
  SELECT k.event_type, t.bucket
  FROM (SELECT unnest(generate_series((SELECT lo FROM span),
                                      (SELECT hi FROM span),
                                      INTERVAL 1 HOUR)) AS bucket) t
  CROSS JOIN (SELECT DISTINCT event_type FROM events) k
), dense AS (
  SELECT s.event_type, s.bucket, COALESCE(o.n, 0) AS n
  FROM spine s LEFT JOIN obs o
    ON s.event_type = o.event_type AND s.bucket = o.bucket
), fc AS (
  SELECT event_type, bucket, n,
         lag(n, 168) OVER (PARTITION BY event_type ORDER BY bucket) AS forecast
  FROM dense
), ev_rows AS (
  SELECT * FROM fc
  WHERE bucket > (SELECT hi FROM span) - INTERVAL 7 DAYS
    AND forecast IS NOT NULL AND n > 0
)
SELECT event_type, count(*) AS n_evals,
       CAST(sum(abs(n - forecast)) AS BIGINT) AS abs_err_total,
       round(CAST(sum(CAST(CAST(abs(n - forecast) AS DOUBLE) / CAST(n AS DOUBLE)
                           AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS mape
FROM ev_rows GROUP BY event_type
"""


QUERIES.update({
    "sessions_journey_patterns": QuerySpec(
        q_sessions_journey_patterns, ORACLE_SESSION_JOURNEY,
        doc="MATCH_RECOGNIZE-lite at session grain: sessionize then in-row pattern match",
    ),
    "forecast_backtest_mape": QuerySpec(
        q_forecast_backtest_mape, ORACLE_FORECAST_MAPE,
        doc="seasonal-naive hourly forecast backtested in-engine: MAE/MAPE per type over the final week",
    ),
})


# ---------------------------------------------------------------------------
# ab_welch_ttest — experiment significance from one aggregation pass
# ---------------------------------------------------------------------------

def q_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: Welch's t statistic (and its
    Welch–Satterthwaite dof) for purchase value between the two
    deterministic arms ``user_id % 2`` — the significance check run on
    every experiment dashboard.

    ONE map-side-combined aggregation computes both arms' exact moment
    sums (y in DECIMAL(18,6), y² exact per row and summed in DECIMAL);
    means/variances/t/dof are then a handful of double expressions over
    those identical inputs — engine-reproducible with no distributional
    tables needed (report t, not p).
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    yd = F.round("value", 6).cast("decimal(18,6)")
    is_a = F.col("user_id") % 2 == 0
    agg = ev.select(is_a.alias("a"), yd.alias("y")).agg(
        F.count(F.when(F.col("a"), 1)).alias("n_a"),
        F.count(F.when(~F.col("a"), 1)).alias("n_b"),
        F.sum(F.when(F.col("a"), F.col("y"))).alias("s_a"),
        F.sum(F.when(~F.col("a"), F.col("y"))).alias("s_b"),
        F.sum(F.when(F.col("a"), F.col("y") * F.col("y"))).alias("q_a"),
        F.sum(F.when(~F.col("a"), F.col("y") * F.col("y"))).alias("q_b"),
    )

    def d(c):
        return F.col(c).cast("double")

    m_a, m_b = d("s_a") / d("n_a"), d("s_b") / d("n_b")
    v_a = (d("q_a") - d("s_a") * d("s_a") / d("n_a")) / (d("n_a") - F.lit(1.0))
    v_b = (d("q_b") - d("s_b") * d("s_b") / d("n_b")) / (d("n_b") - F.lit(1.0))
    se2_a, se2_b = v_a / d("n_a"), v_b / d("n_b")
    t = (m_a - m_b) / F.sqrt(se2_a + se2_b)
    dof = (se2_a + se2_b) * (se2_a + se2_b) / (
        se2_a * se2_a / (d("n_a") - F.lit(1.0))
        + se2_b * se2_b / (d("n_b") - F.lit(1.0))
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round(m_a, 6).alias("mean_a"),
        F.round(m_b, 6).alias("mean_b"),
        F.round(m_a - m_b, 6).alias("diff"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 4).alias("welch_dof"),
    )


ORACLE_AB_WELCH = """
WITH p AS (
  SELECT user_id % 2 = 0 AS a,
         CAST(round(value, 6) AS DECIMAL(18,6)) AS y
  FROM events WHERE event_type = 'purchase'
), agg AS (
  SELECT count(*) FILTER (a) AS n_a, count(*) FILTER (NOT a) AS n_b,
         sum(y) FILTER (a) AS s_a, sum(y) FILTER (NOT a) AS s_b,
         sum(y*y) FILTER (a) AS q_a, sum(y*y) FILTER (NOT a) AS q_b
  FROM p
), m AS (
  SELECT n_a, n_b,
         CAST(s_a AS DOUBLE) / n_a AS m_a, CAST(s_b AS DOUBLE) / n_b AS m_b,
         ((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE)*CAST(s_a AS DOUBLE)/n_a)
            / (n_a - 1.0)) / n_a AS se2_a,
         ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE)*CAST(s_b AS DOUBLE)/n_b)
            / (n_b - 1.0)) / n_b AS se2_b
  FROM agg
)
SELECT n_a, n_b,
       round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
       round(m_a - m_b, 6) AS diff,
       round((m_a - m_b) / sqrt(se2_a + se2_b), 6) AS t_stat,
       round((se2_a + se2_b) * (se2_a + se2_b)
             / (se2_a*se2_a/(n_a - 1.0) + se2_b*se2_b/(n_b - 1.0)), 4)
         AS welch_dof
FROM m
"""


QUERIES.update({
    "ab_welch_ttest": QuerySpec(
        q_ab_welch_ttest, ORACLE_AB_WELCH,
        doc="Welch's t + Satterthwaite dof between deterministic A/B arms, one agg pass",
    ),
})


# ---------------------------------------------------------------------------
# rollup_hll_sliding_wau — sliding 7-day distinct via sketch-union merge
# ---------------------------------------------------------------------------

def q_rollup_hll_sliding_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day from DAILY HLL sketches —
    the sketch-merge form of events_dau_wau's exact contribution
    explode.  test_events_pipeline proves the estimate lands within 5%
    of the exact rolling distinct.

    Scale contrast with the exact twin: the explode fans out every
    (user, day) row 7× and re-distincts |users|×7 rows; here the raw
    table collapses to ONE ~1.5 KB sketch per day first, and only
    |days|×7 sketches shuffle into the window union — the merge cost is
    calendar-sized, not corpus-sized.  Same pattern as the hourly→daily
    HLL cascade (rollup_hll_daily_users), extended to OVERLAPPING
    windows, which only sketch union (lossless, associative) supports —
    exact distinct counts cannot be merged across overlapping spans.

    Driver-checkable since round 3: the sketch path still runs, but the
    surfaced contract is the exact trailing-7-day distinct (oracle-matched
    bit-for-bit) plus a boolean asserting the sketch-union estimate landed
    within 15% of it (lgConfigK=12 ⇒ rse ≈1.6%; unions don't degrade it).
    The exact twin IS the fan-out the sketch exists to avoid — it's
    harness-scale apparatus; at 100 TB you serve the estimate alone.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("day"), "user_id").groupBy(
        "day"
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    contrib = daily.select(
        "sk",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        F.date_add(F.col("day"), F.col("i")).alias("target_day"),
    )
    est = (
        contrib.groupBy(F.col("target_day").alias("day"))
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("wau_est"))
    )
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    exact = (
        du.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
            F.date_add(F.col("day"), F.col("i")).alias("target_day"),
        )
        .groupBy(F.col("target_day").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau_exact"))
    )
    return est.join(exact, "day").select(
        "day",
        "wau_exact",
        (F.abs(F.col("wau_est") - F.col("wau_exact"))
         <= 0.15 * F.col("wau_exact")).alias("wau_est_within_15pct"),
    )


ORACLE_HLL_SLIDING_WAU = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
c AS (
  SELECT day + CAST(i.i AS INTEGER) AS day, user_id
  FROM du, (SELECT unnest(range(0, 7)) AS i) i)
SELECT day, COUNT(DISTINCT user_id) AS wau_exact,
       TRUE AS wau_est_within_15pct
FROM c GROUP BY day
"""


QUERIES.update({
    "rollup_hll_sliding_wau": QuerySpec(
        q_rollup_hll_sliding_wau, ORACLE_HLL_SLIDING_WAU,
        doc="sliding 7-day distinct via daily HLL sketch unions, bound-checked vs exact",
    ),
})


# ---------------------------------------------------------------------------
# maintenance surface: MERGE apply, snapshot diff, skyline, audit checksum
# ---------------------------------------------------------------------------

def q_merge_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI MERGE INTO semantics over the orders snapshot
    (operators/merge.py): a deterministic change feed derived from the
    base itself — keys %10∈{0,1,2} update price (+10%) and status,
    %10=3 delete, %10=7 insert under a shifted key.  The oracle spells
    the same MERGE as SQL, so the hash match proves all four WHEN
    branches (matched-update, matched-delete, unmatched-insert,
    carry-through) byte-for-byte.

    Scale shape (two branches, because full-outer joins cannot
    broadcast): base LEFT JOIN changes — broadcastable build side, base
    streams map-only — plus a changes-anti-base insert branch where only
    the base's pruned KEY column reaches the join.  The base is never
    globally sorted or rewritten."""
    from fluvio_duck_spark.operators.merge import merge_upsert

    o = load(spark, sf_dir, "orders")
    upd = o.filter(F.col("o_orderkey") % 10 <= 3).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 3, F.lit("D"))
        .otherwise(F.lit("U")).alias("_op"),
        (F.col("o_totalprice") * 1.1).alias("new_price"),
        F.lit("M").alias("new_status"),
    )
    ins = o.filter(F.col("o_orderkey") % 10 == 7).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("I").alias("_op"),
        F.lit(1.0).alias("new_price"),
        F.lit("N").alias("new_status"),
    )
    merged = merge_upsert(
        o, upd.unionAll(ins), key="o_orderkey",
        set_cols={"o_totalprice": "new_price", "o_orderstatus": "new_status"},
    )
    return merged.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


ORACLE_MERGE_UPSERT = """
WITH ch AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 3 THEN 'D' ELSE 'U' END AS op,
         o_totalprice * 1.1 AS new_price, 'M' AS new_status
  FROM orders WHERE o_orderkey % 10 <= 3
  UNION ALL
  SELECT o_orderkey + 100000000, 'I', 1.0, 'N'
  FROM orders WHERE o_orderkey % 10 = 7),
j AS (
  SELECT b.o_orderkey AS bk, c.o_orderkey AS ck, c.op,
         COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
         b.o_custkey,
         CASE WHEN c.o_orderkey IS NOT NULL AND c.op <> 'D'
              THEN c.new_status
              ELSE b.o_orderstatus END AS o_orderstatus,
         CASE WHEN c.o_orderkey IS NOT NULL AND c.op <> 'D'
              THEN c.new_price
              ELSE b.o_totalprice END AS o_totalprice
  FROM orders b FULL OUTER JOIN ch c ON b.o_orderkey = c.o_orderkey)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM j
WHERE (bk IS NOT NULL AND (ck IS NULL OR op <> 'D'))
   OR (bk IS NULL AND ck IS NOT NULL AND op <> 'D')
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed generation between two snapshot generations of the
    events table (operators/diff.py) — the inverse of the MERGE apply:
    v_old drops keys %7=6, v_new drops %7=0 and rewrites event_type
    where %5=0, so the diff must classify exactly those keys as
    added / removed / changed and drop the unchanged majority before
    anything re-shuffles."""
    from fluvio_duck_spark.operators.diff import snapshot_diff

    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    v_old = ev.filter(F.col("event_id") % 7 != 6)
    v_new = ev.filter(F.col("event_id") % 7 != 0).select(
        "event_id",
        F.when(F.col("event_id") % 5 == 0, F.lit("modified"))
        .otherwise(F.col("event_type")).alias("event_type"),
    )
    return snapshot_diff(v_old, v_new, key="event_id")


ORACLE_SNAPSHOT_DIFF = """
WITH v_old AS (
  SELECT event_id, event_type FROM events WHERE event_id % 7 <> 6),
v_new AS (
  SELECT event_id,
         CASE WHEN event_id % 5 = 0 THEN 'modified' ELSE event_type END
           AS event_type
  FROM events WHERE event_id % 7 <> 0),
j AS (
  SELECT COALESCE(o.event_id, n.event_id) AS event_id,
         o.event_id AS ok, n.event_id AS nk,
         o.event_type AS old_event_type, n.event_type AS new_event_type
  FROM v_old o FULL OUTER JOIN v_new n ON o.event_id = n.event_id)
SELECT event_id,
       CASE WHEN ok IS NULL THEN 'added'
            WHEN nk IS NULL THEN 'removed'
            WHEN old_event_type IS DISTINCT FROM new_event_type
              THEN 'changed' END AS change,
       old_event_type, new_event_type
FROM j
WHERE ok IS NULL OR nk IS NULL
   OR old_event_type IS DISTINCT FROM new_event_type
"""


def q_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of part on (price minimized, size maximized) —
    operators/skyline.py's two-level local-sweep/merge plan, checked
    against the quadratic NOT EXISTS dominance definition.  The n² never
    runs on Spark: each Arrow batch emits only its local frontier and
    one k-bounded merge finishes the job."""
    from fluvio_duck_spark.operators.skyline import skyline2d

    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return skyline2d(p, min_col="p_retailprice", max_col="p_size")


ORACLE_PARETO_SKYLINE = """
SELECT p_partkey, p_retailprice, p_size FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
"""


def q_audit_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine audit checksums (functions/checksum.py): orders and
    customer each reduce to ONE (table, n_rows, checksum) row via the
    md5-fold portable hash; the oracle runs the SAME generated fold in
    DuckDB, so a hash match here IS the 100 TB migration-validation
    workflow in miniature — two engines agreeing on a corpus with one
    number each.  Order/partitioning-insensitive by construction
    (commutative DECIMAL sum of per-row folds)."""
    from fluvio_duck_spark.functions.checksum import table_checksum

    a = table_checksum(
        load(spark, sf_dir, "orders"),
        ["o_orderkey", "o_orderstatus", "o_orderpriority"], "orders",
    )
    b = table_checksum(
        load(spark, sf_dir, "customer"),
        ["c_custkey", "c_name", "c_mktsegment"], "customer",
    )
    return a.unionAll(b)


def _oracle_audit_checksum() -> str:
    from fluvio_duck_spark.functions.checksum import checksum_sql

    return (
        checksum_sql("orders", ["o_orderkey", "o_orderstatus", "o_orderpriority"])
        + "\nUNION ALL\n"
        + checksum_sql("customer", ["c_custkey", "c_name", "c_mktsegment"])
    )


QUERIES.update({
    "merge_upsert_apply": QuerySpec(
        q_merge_upsert_apply, ORACLE_MERGE_UPSERT,
        doc="MERGE INTO semantics: U/D/I change feed applied in one full-outer join",
    ),
    "snapshot_diff": QuerySpec(
        q_snapshot_diff, ORACLE_SNAPSHOT_DIFF,
        doc="change-feed generation: added/removed/changed between snapshot generations",
    ),
    "pareto_skyline": QuerySpec(
        q_pareto_skyline, ORACLE_PARETO_SKYLINE,
        doc="2-D Pareto frontier via local-sweep + k-bounded merge (never n^2)",
    ),
    "audit_table_checksum": QuerySpec(
        q_audit_table_checksum, _oracle_audit_checksum(),
        doc="portable order-insensitive md5-fold table checksums, same fold both engines",
    ),
})


# ---------------------------------------------------------------------------
# attribution, sketch set-algebra, inter-rater agreement
# ---------------------------------------------------------------------------

def q_attrib_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style first-touch / last-touch attribution: each
    purchase credits the user's earliest and latest preceding
    non-purchase event type (channel); purchases with no prior touch
    credit 'direct'.  One user-key shuffle carries BOTH window passes
    (same partition/order spec); credited value accumulates in DECIMAL
    so the per-channel revenue is bit-stable on any cluster."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    scored = ev.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.first(touch, ignorenulls=True).over(w).alias("_first"),
        F.last(touch, ignorenulls=True).over(w).alias("_last"),
    ).filter(F.col("event_type") == "purchase")
    credit = scored.select(
        F.coalesce(F.col("_first"), F.lit("direct")).alias("first_touch"),
        F.coalesce(F.col("_last"), F.lit("direct")).alias("last_touch"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    first = credit.groupBy(F.col("first_touch").alias("channel")).agg(
        F.count("*").alias("n_first"),
        F.sum("v").cast("double").alias("value_first"),
    )
    last = credit.groupBy(F.col("last_touch").alias("channel")).agg(
        F.count("*").alias("n_last"),
        F.sum("v").cast("double").alias("value_last"),
    )
    return first.join(last, "channel", "full_outer").select(
        "channel",
        F.coalesce("n_first", F.lit(0)).alias("n_first"),
        F.coalesce("value_first", F.lit(0.0)).alias("value_first"),
        F.coalesce("n_last", F.lit(0)).alias("n_last"),
        F.coalesce("value_last", F.lit(0.0)).alias("value_last"),
    )


ORACLE_ATTRIB = """
WITH scored AS (
  SELECT event_type, value,
    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f,
    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS l
  FROM events),
credit AS (
  SELECT COALESCE(f, 'direct') AS first_touch,
         COALESCE(l, 'direct') AS last_touch,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM scored WHERE event_type = 'purchase'),
f AS (SELECT first_touch AS channel, COUNT(*) AS n_first,
             CAST(SUM(v) AS DOUBLE) AS value_first
      FROM credit GROUP BY 1),
l AS (SELECT last_touch AS channel, COUNT(*) AS n_last,
             CAST(SUM(v) AS DOUBLE) AS value_last
      FROM credit GROUP BY 1)
SELECT COALESCE(f.channel, l.channel) AS channel,
       COALESCE(n_first, 0) AS n_first,
       COALESCE(value_first, 0.0) AS value_first,
       COALESCE(n_last, 0) AS n_last,
       COALESCE(value_last, 0.0) AS value_last
FROM f FULL OUTER JOIN l ON f.channel = l.channel
"""


def q_sketch_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap set algebra from mergeable sketches: distinct
    users in segment A ∩ B for every event-type pair, estimated by HLL
    inclusion-exclusion (est A + est B − est A∪B — the union sketch is
    ONE hll_union of the two per-segment sketches, no rescan).  Surfaced
    driver-checkably: exact per-pair cardinalities (oracle-matched) plus
    a boolean asserting the estimate landed within 10% of |A|+|B| (three
    ≈1.6%-rse terms compound; 10% of the segment mass is a ≳6σ
    envelope).  At 100 TB the per-segment sketches are KBs — pair
    overlap for ANY segment pair costs one sketch union, never a rescan
    of the corpus; that's the trade this operator packages."""
    ev = load(spark, sf_dir, "events")
    # limit(1024) = the operator's segment-count contract, made
    # plan-provable for the census BNLJ gate: pairwise inclusion-
    # exclusion is O(segments²), so past ~1k segments this is the wrong
    # operator shape regardless (use a bucketed pair join); the fixture
    # has 5 event types, the limit never binds.
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("n"),
    ).limit(1024)
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(b, F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        (
            F.hll_sketch_estimate(F.col("a.sk"))
            + F.hll_sketch_estimate(F.col("b.sk"))
            - F.hll_sketch_estimate(F.hll_union(F.col("a.sk"), F.col("b.sk")))
        ).alias("_est_inter"),
    )
    du = ev.select("event_type", "user_id").distinct()
    x, y = du.alias("x"), du.alias("y")
    exact = (
        x.join(y, (F.col("x.user_id") == F.col("y.user_id"))
               & (F.col("x.event_type") < F.col("y.event_type")))
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return pairs.join(exact, ["type_a", "type_b"]).select(
        "type_a", "type_b", "n_a", "n_b", "n_inter",
        (F.abs(F.col("_est_inter") - F.col("n_inter"))
         <= 0.1 * (F.col("n_a") + F.col("n_b"))).alias("est_within_bound"),
    )


ORACLE_SEGMENT_OVERLAP = """
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
n AS (SELECT event_type, COUNT(*) AS n FROM du GROUP BY 1),
inter AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b, COUNT(*) AS n_inter
  FROM du x JOIN du y
    ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, na.n AS n_a, nb.n AS n_b, n_inter,
       TRUE AS est_within_bound
FROM inter
JOIN n na ON na.event_type = type_a
JOIN n nb ON nb.event_type = type_b
"""


def q_eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ inter-rater agreement in-engine: two deterministic
    binary raters over the embeddings table (rater1 = label parity,
    rater2 = rater1 with every third vec_id flipped → κ is exactly
    computable and ≠ raw agreement).  One count-shaped pass collects the
    2×2 confusion; κ = (p_o − p_e)/(1 − p_e) as a single double
    expression over exact BIGINT counts — the annotation-quality gate a
    labeling pipeline runs before trusting a rater pool."""
    e = load(spark, sf_dir, "embeddings")
    r = e.select(
        (F.col("label") % 2).alias("r1"),
        F.when(F.col("vec_id") % 3 == 0, 1 - F.col("label") % 2)
        .otherwise(F.col("label") % 2).alias("r2"),
    )
    c = r.agg(
        F.count("*").alias("n"),
        F.sum(((F.col("r1") == 1) & (F.col("r2") == 1)).cast("long")).alias("a"),
        F.sum(((F.col("r1") == 1) & (F.col("r2") == 0)).cast("long")).alias("b"),
        F.sum(((F.col("r1") == 0) & (F.col("r2") == 1)).cast("long")).alias("c"),
        F.sum(((F.col("r1") == 0) & (F.col("r2") == 0)).cast("long")).alias("d"),
    )
    po = (F.col("a") + F.col("d")).cast("double") / F.col("n")
    pe = (
        (F.col("a") + F.col("b")) * (F.col("a") + F.col("c"))
        + (F.col("c") + F.col("d")) * (F.col("b") + F.col("d"))
    ).cast("double") / (F.col("n").cast("double") * F.col("n"))
    return c.select(
        "n", "a", "b", "c", "d",
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


ORACLE_COHENS_KAPPA = """
WITH r AS (
  SELECT label % 2 AS r1,
         CASE WHEN vec_id % 3 = 0 THEN 1 - label % 2 ELSE label % 2 END AS r2
  FROM embeddings),
c AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN r1 = 1 AND r2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN r1 = 1 AND r2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN r1 = 0 AND r2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN r1 = 0 AND r2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM r)
SELECT n, a, b, c, d,
       round((CAST(a + d AS DOUBLE) / n
              - CAST((a + b) * (a + c) + (c + d) * (b + d) AS DOUBLE)
                / (CAST(n AS DOUBLE) * n))
             / (1.0 - CAST((a + b) * (a + c) + (c + d) * (b + d) AS DOUBLE)
                      / (CAST(n AS DOUBLE) * n)), 6) AS kappa
FROM c
"""


def q_eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k in-engine — the unbiased HumanEval estimator (Chen et al.
    2021): per problem with n trials and c successes,
    pass@k = 1 − ∏_{j=0}^{k−1} (n−c−j)/(n−j) (exactly 1 when n−c < k),
    macro-averaged over problems for k ∈ {1, 5, 10}.  Trials are the
    events table keyed by problem = user_id % 20, success = payload
    k ≥ 70 — deterministic, so the estimator is exactly replicable.

    Cross-engine determinism: the per-problem product is UNROLLED as a
    left-to-right chain of double divisions (identical parse tree both
    engines → identical IEEE sequence), and the macro mean goes through
    round(p·1e12)→BIGINT fixed-point sums (operators/pca.py contract) —
    a double AVG would be summation-order-dependent.

    At 100 TB of eval trials this is ONE shuffle on the problem key
    (partial count/sum map-side) and a problems-sized in-row formula —
    no per-k rescan: all three k's fold in one aggregate."""
    ev = load(spark, sf_dir, "events")
    pc = ev.groupBy((F.col("user_id") % 20).alias("problem")).agg(
        F.count("*").alias("n"),
        F.sum(
            (F.get_json_object("props", "$.k").cast("int") >= 70).cast("long")
        ).alias("c"),
    )

    def fx(k: int):
        prod = F.lit(1.0)
        for j in range(k):
            prod = prod * (
                (F.col("n") - F.col("c") - F.lit(j)).cast("double")
                / (F.col("n") - F.lit(j)).cast("double")
            )
        p = F.when(F.col("n") - F.col("c") < F.lit(k), F.lit(1.0)).otherwise(
            F.lit(1.0) - prod
        )
        return F.when(
            F.col("n") >= F.lit(k),
            F.round(p * F.lit(1e12), 0).cast("long"),
        )

    per = pc.select(fx(1).alias("f1"), fx(5).alias("f5"), fx(10).alias("f10"))
    a = per.agg(
        F.count("f1").alias("c1"), F.sum("f1").alias("s1"),
        F.count("f5").alias("c5"), F.sum("f5").alias("s5"),
        F.count("f10").alias("c10"), F.sum("f10").alias("s10"),
    )
    return a.select(
        F.expr(
            "stack(3, 1, c1, s1, 5, c5, s5, 10, c10, s10)"
            " as (k, n_problems, sfx)"
        )
    ).select(
        "k",
        "n_problems",
        (F.col("sfx").cast("double")
         / (F.col("n_problems") * F.lit(1e12))).alias("pass_at_k"),
    )


def _pass_term(k: int) -> str:
    terms = " * ".join(
        f"(CAST(n - c - {j} AS DOUBLE) / CAST(n - {j} AS DOUBLE))"
        for j in range(k)
    )
    return (
        f"CASE WHEN n >= {k} THEN CAST(round("
        f"(CASE WHEN n - c < {k} THEN 1.0 ELSE 1.0 - ({terms}) END)"
        f" * 1e12) AS BIGINT) END"
    )


ORACLE_PASS_AT_K = f"""
WITH pc AS (
  SELECT user_id % 20 AS problem, COUNT(*) AS n,
         CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER)
                            >= 70 THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM events GROUP BY 1),
per AS (
  SELECT {_pass_term(1)} AS f1, {_pass_term(5)} AS f5,
         {_pass_term(10)} AS f10
  FROM pc),
a AS (
  SELECT COUNT(f1) AS c1, SUM(f1) AS s1, COUNT(f5) AS c5, SUM(f5) AS s5,
         COUNT(f10) AS c10, SUM(f10) AS s10
  FROM per)
SELECT 1 AS k, c1 AS n_problems, CAST(s1 AS DOUBLE) / (c1 * 1e12) AS pass_at_k
FROM a
UNION ALL
SELECT 5, c5, CAST(s5 AS DOUBLE) / (c5 * 1e12) FROM a
UNION ALL
SELECT 10, c10, CAST(s10 AS DOUBLE) / (c10 * 1e12) FROM a
"""


QUERIES.update({
    "attrib_first_last_touch": QuerySpec(
        q_attrib_first_last_touch, ORACLE_ATTRIB,
        doc="first/last-touch purchase attribution per channel (one user-key shuffle, two frames)",
    ),
    "sketch_segment_overlap": QuerySpec(
        q_sketch_segment_overlap, ORACLE_SEGMENT_OVERLAP,
        doc="HLL inclusion-exclusion audience overlap per segment pair, bound-checked vs exact",
    ),
    "eval_cohens_kappa": QuerySpec(
        q_eval_cohens_kappa, ORACLE_COHENS_KAPPA,
        doc="Cohen's kappa inter-rater agreement from one exact confusion-count pass",
    ),
    "eval_pass_at_k": QuerySpec(
        q_eval_pass_at_k, ORACLE_PASS_AT_K,
        doc="pass@k (unbiased HumanEval estimator) macro-averaged for k=1/5/10 "
            "from one trial-count pass — unrolled double product + fixed-point mean",
    ),
})


def q_cdc_roundtrip_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance surface's algebraic identity, proven in-engine and
    driver-verified: diff two snapshot generations (operators/diff.py),
    apply the emitted change feed back onto the old generation
    (operators/merge.py), and return the REBUILT snapshot's portable
    audit pair (n_rows, checksum).  The oracle computes the same audit
    pair directly over v_new in SQL — so a driver hash match is a
    cross-engine proof that diff→merge reconstructs the new snapshot
    byte-for-byte.  This is the validation loop a 100 TB incremental
    pipeline runs nightly: one number per engine, compared."""
    from fluvio_duck_spark.functions.checksum import table_checksum
    from fluvio_duck_spark.operators.diff import snapshot_diff
    from fluvio_duck_spark.operators.merge import merge_upsert

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    v_old = ev.filter(F.col("event_id") % 7 != 6)
    v_new = ev.filter(F.col("event_id") % 7 != 0).select(
        "event_id",
        F.when(F.col("event_id") % 5 == 0, F.lit("modified"))
        .otherwise(F.col("event_type")).alias("event_type"),
        "user_id",
    )
    d = snapshot_diff(v_old, v_new, key="event_id")
    feed = d.selectExpr(
        "event_id",
        "CASE change WHEN 'removed' THEN 'D' ELSE 'U' END AS _op",
        "new_event_type", "new_user_id",
    )
    rebuilt = merge_upsert(
        v_old, feed, key="event_id",
        set_cols={"event_type": "new_event_type", "user_id": "new_user_id"},
    )
    return table_checksum(
        rebuilt, ["event_id", "event_type", "user_id"], "v_new"
    )


def _oracle_cdc_roundtrip() -> str:
    from fluvio_duck_spark.functions.checksum import checksum_sql

    v_new = (
        "(SELECT event_id, CASE WHEN event_id % 5 = 0 THEN 'modified' "
        "ELSE event_type END AS event_type, user_id "
        "FROM events WHERE event_id % 7 <> 0)"
    )
    return checksum_sql(
        v_new, ["event_id", "event_type", "user_id"], label="v_new"
    )


QUERIES.update({
    "cdc_roundtrip_identity": QuerySpec(
        q_cdc_roundtrip_identity, _oracle_cdc_roundtrip(),
        doc="diff -> merge identity proven via the portable checksum: rebuilt snapshot audits equal to v_new cross-engine",
    ),
})


def q_er_fuzzy_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (operators/linkage.py): every distinct part name is
    deterministically corrupted (one character dropped at a
    name-derived position — a typo feed), then fuzzy-joined back against
    the clean catalog by char-3-gram Jaccard, best match per dirty
    record.  The oracle runs the identical gram/Jaccard/top-1 pipeline in
    SQL, so the hash match pins blocking, scoring, and tie-break
    semantics.  Inverted-index blocking — the join is gram-keyed, never
    |dirty|×|clean|; at 100 TB add max_gram_df to bound stop-gram
    fan-out."""
    from fluvio_duck_spark.operators.linkage import fuzzy_join

    names = (
        load(spark, sf_dir, "part")
        .select(F.col("p_name").alias("clean_name")).distinct()
    )
    pos = (
        (F.length("clean_name") + F.ascii(F.substring("clean_name", 1, 1)))
        % F.length("clean_name") + 1
    )
    dirty = names.select(
        F.concat(
            F.col("clean_name").substr(F.lit(1), pos - 1),
            F.col("clean_name").substr(pos + 1, F.length("clean_name") - pos),
        ).alias("dirty_name")
    ).distinct()
    return fuzzy_join(
        names, dirty, "clean_name", "dirty_name", q=3, threshold=0.3
    ).select("dirty_name", "clean_name", "jaccard")


ORACLE_ER_FUZZY = """
WITH names AS (SELECT DISTINCT p_name AS clean_name FROM part),
dirty AS (
  SELECT DISTINCT
    concat(substr(clean_name, 1, pos - 1),
           substr(clean_name, pos + 1, length(clean_name) - pos)) AS dirty_name
  FROM (SELECT clean_name,
               (length(clean_name) + ascii(substr(clean_name, 1, 1)))
                 % length(clean_name) + 1 AS pos
        FROM names)),
lg AS (
  SELECT DISTINCT clean_name,
         substr('^' || lower(clean_name) || '$', CAST(i.i AS INTEGER), 3) AS g
  FROM names, (SELECT unnest(range(1, 1000)) AS i) i
  WHERE i.i <= length(clean_name) + 2 - 2),
rg AS (
  SELECT DISTINCT dirty_name,
         substr('^' || lower(dirty_name) || '$', CAST(i.i AS INTEGER), 3) AS g
  FROM dirty, (SELECT unnest(range(1, 1000)) AS i) i
  WHERE i.i <= length(dirty_name) + 2 - 2),
ln AS (SELECT clean_name, COUNT(*) AS nl FROM lg GROUP BY 1),
rn AS (SELECT dirty_name, COUNT(*) AS nr FROM rg GROUP BY 1),
common AS (
  SELECT lg.clean_name, rg.dirty_name, COUNT(*) AS common
  FROM lg JOIN rg ON lg.g = rg.g GROUP BY 1, 2),
scored AS (
  SELECT dirty_name, clean_name,
         CAST(common AS DOUBLE) / (nl + nr - common) AS jaccard
  FROM common JOIN ln USING (clean_name) JOIN rn USING (dirty_name)
  WHERE CAST(common AS DOUBLE) / (nl + nr - common) >= 0.3)
SELECT dirty_name, clean_name, jaccard
FROM (SELECT *, row_number() OVER (
        PARTITION BY dirty_name ORDER BY jaccard DESC, clean_name) AS rk
      FROM scored)
WHERE rk = 1
"""


QUERIES.update({
    "er_fuzzy_join_parts": QuerySpec(
        q_er_fuzzy_join_parts, ORACLE_ER_FUZZY,
        doc="record linkage: char-3-gram Jaccard fuzzy join, gram-blocked, best match per dirty record",
    ),
})


def q_join_not_in_nullaware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a nullable subquery — the SQL semantics trap NOT
    EXISTS avoids: if the subquery produces ANY NULL, NOT IN yields no
    rows at all (three-valued logic), so engines need a null-aware anti
    join, not a hash anti join.  The probe list here mixes real custkeys
    with NULLs (every 10th order contributes NULL), so the correct
    answer counts only customers outside the NON-NULL key set AND the
    plan must prove the list was null-free per-group... exercised both
    ways: `n_not_in` uses the null-stripped list (classic anti join),
    `n_not_in_raw` uses the raw list via SQL NOT IN (null-aware — zero
    when any NULL exists, which the fixture guarantees).  Catalyst plans
    the raw form as NullAwareAntiJoin; both come back exact."""
    ev = load(spark, sf_dir, "orders")
    probe_keys = ev.select(
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("o_custkey")).alias("k")
    )
    return spark.sql("""
        SELECT
          (SELECT COUNT(*) FROM {cu}
           WHERE c_custkey NOT IN (SELECT k FROM {pk} WHERE k IS NOT NULL))
            AS n_not_in,
          (SELECT COUNT(*) FROM {cu}
           WHERE c_custkey NOT IN (SELECT k FROM {pk}))
            AS n_not_in_raw
    """, pk=probe_keys, cu=load(spark, sf_dir, "customer"))


ORACLE_NOT_IN_NULLAWARE = """
WITH pk AS (
  SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_custkey END AS k
  FROM orders)
SELECT
  (SELECT COUNT(*) FROM customer
   WHERE c_custkey NOT IN (SELECT k FROM pk WHERE k IS NOT NULL)) AS n_not_in,
  (SELECT COUNT(*) FROM customer
   WHERE c_custkey NOT IN (SELECT k FROM pk)) AS n_not_in_raw
"""


def q_window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT event_type) per user over time — Spark
    forbids DISTINCT inside window frames, so this packages the standard
    rewrite: flag each (user, type)'s FIRST occurrence with a
    row_number over a second window, then running-sum the flags on the
    time axis.  Both windows share ONE user-key shuffle (same partition
    key); no extra exchange, no distinct state.  The oracle uses the
    same rewrite (DuckDB also rejects DISTINCT aggregates over ordered
    frames)."""
    ev = load(spark, sf_dir, "events")
    w_first = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        W.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id", "event_id", "ts",
        (F.row_number().over(w_first) == 1).cast("int").alias("_new"),
    ).select(
        "user_id", "event_id",
        F.sum("_new").over(w_run).cast("long").alias("distinct_types_so_far"),
    )


ORACLE_RUNNING_DISTINCT = """
SELECT user_id, event_id,
       CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS distinct_types_so_far
FROM (
  SELECT user_id, event_id, ts,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS is_new
  FROM events)
"""


QUERIES.update({
    "join_not_in_nullaware": QuerySpec(
        q_join_not_in_nullaware, ORACLE_NOT_IN_NULLAWARE,
        doc="NOT IN three-valued-logic semantics: null-aware anti join vs null-stripped anti join",
    ),
    "window_running_distinct": QuerySpec(
        q_window_running_distinct, ORACLE_RUNNING_DISTINCT,
        doc="running COUNT(DISTINCT) over a window via the first-occurrence rewrite (one shared shuffle)",
    ),
})


def q_ivm_delta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/ivm.py): a per-priority
    revenue view is built over a base snapshot (orders %9≠4), then a
    delta batch — inserts (%9=4) and retractions (%9=2) — is applied to
    the VIEW STATE: additive count/sum merge exactly in DECIMAL, min
    recomputes only for groups present in the delta via a key semi-join
    against the post-delta base.  The oracle recomputes the view from
    scratch over the final relation, so the hash match proves
    incremental ≡ full refresh.  At 100 TB the increment touches |Δ|
    plus the affected-group slice; the base is never rescanned."""
    from fluvio_duck_spark.operators.ivm import (
        IvmMeasure,
        agg_state,
        apply_delta,
    )

    o = load(spark, sf_dir, "orders")
    m = [
        IvmMeasure("n_orders", "o_orderkey", "count"),
        IvmMeasure("total_price", "o_totalprice", "sum"),
        IvmMeasure("min_price", "o_totalprice", "min"),
    ]
    keys = ["o_orderpriority"]
    base = o.filter(F.col("o_orderkey") % 9 != 4)
    d_plus = o.filter(F.col("o_orderkey") % 9 == 4)
    d_minus = o.filter(F.col("o_orderkey") % 9 == 2)
    base_after = o.filter(F.col("o_orderkey") % 9 != 2)

    view = agg_state(base, keys, m)
    updated = apply_delta(view, base_after, d_plus, d_minus, keys, m)
    return updated.select(
        "o_orderpriority",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
        "min_price",
    )


ORACLE_IVM_DELTA = """
SELECT o_orderpriority,
       COUNT(o_orderkey) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price,
       MIN(o_totalprice) AS min_price
FROM orders WHERE o_orderkey % 9 <> 2
GROUP BY o_orderpriority
"""


QUERIES.update({
    "ivm_delta_agg": QuerySpec(
        q_ivm_delta_agg, ORACLE_IVM_DELTA,
        doc="incremental view maintenance: exact DECIMAL merge/retract + affected-group min recompute ≡ full refresh",
    ),
})


def q_ivm_delta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the delta-join algebra
    Δ(A⋈B) = ΔA⋈B ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, beyond ivm_delta_agg's
    aggregate-only maintenance: the orders⋈lineitem revenue view is
    built over base snapshots of BOTH sides (orderkey %7≠3 /
    linenumber ≠ 4), then one insert batch per side arrives and the
    view is extended with the three delta joins — each joins an
    increment against a snapshot, so at 100 TB the maintenance cost is
    |ΔA|·fanout + |ΔB|·fanout + |ΔA⋈ΔB|, never a rescan of A⋈B.  The
    per-priority DECIMAL rollup of the maintained view hash-matches
    the oracle's from-scratch join over the final relations — the
    refresh-equivalence proof.  The base snapshot is checkpointed once
    so the three delta joins and the report don't re-derive it."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    a_old = o.filter(F.col("o_orderkey") % 7 != 3)
    da = o.filter(F.col("o_orderkey") % 7 == 3)
    b_old = li.filter(F.col("l_linenumber") != 4)
    db = li.filter(F.col("l_linenumber") == 4)

    def j(a, b):
        return a.join(b, a.o_orderkey == b.l_orderkey).select(
            "o_orderpriority",
            dmul(F.col("l_extendedprice"), F.lit(1) - F.col("l_discount"))
            .alias("rev"),
        )

    view = j(a_old, b_old).localCheckpoint(eager=True)
    maintained = (
        view.unionByName(j(da, b_old))
        .unionByName(j(a_old, db))
        .unionByName(j(da, db))
    )
    return maintained.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum("rev").cast("double").alias("revenue"),
    )


ORACLE_IVM_DELTA_JOIN = """
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


QUERIES.update({
    "ivm_delta_join": QuerySpec(
        q_ivm_delta_join, ORACLE_IVM_DELTA_JOIN,
        doc="delta-join view maintenance: ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB extends the materialized join ≡ full refresh",
    ),
})


def q_events_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile of the event log — the measurement that
    TELLS you what watermark to set: within each Fluvio partition
    (arrival order = offset order), a record's lateness is how far its
    event time sits behind the running maximum event time already
    delivered on that partition.  The report (per event type: rows,
    late rows, late beyond 1 h / 6 h, max lateness) is exactly the
    input to choosing `withWatermark` — a 6 h watermark drops the
    `late_6h` count, keeps state for everything else.  All lateness in
    integer whole SECONDS (unix_timestamp ⇔ floor(epoch(ts))), exact in
    both engines — unix_millis rejects the fixture's TIMESTAMP_NTZ ts,
    and second resolution is ample for watermark sizing.

    Scale shape: ONE window keyed by partition (cardinality = the
    topic's partition count, which grows with the cluster — each task
    scans its own partition's arrival sequence once), then a map-only
    lateness projection and a per-type aggregate."""
    ev = load(spark, sf_dir, "events")
    part = (F.col("user_id") % 4).cast("int")
    w = (
        W.partitionBy(part)
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    run_max = F.max(F.unix_timestamp(F.col("ts"))).over(w)
    late_s = F.greatest(
        run_max - F.unix_timestamp(F.col("ts")), F.lit(0)
    ).alias("late_s")
    lat = ev.select("event_type", late_s)
    return lat.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("late_s") > 0).cast("int")).alias("n_late"),
        F.sum((F.col("late_s") > 3600).cast("int")).alias("n_late_1h"),
        F.sum((F.col("late_s") > 6 * 3600).cast("int")).alias("n_late_6h"),
        F.max("late_s").alias("max_late_s"),
    )


ORACLE_OUT_OF_ORDER = """
WITH lat AS (
  SELECT event_type,
         greatest(COALESCE(MAX(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
             PARTITION BY user_id % 4 ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - CAST(floor(epoch(ts)) AS BIGINT), 0), 0) AS late_s
  FROM events)
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(SUM(CASE WHEN late_s > 3600 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late_1h,
       CAST(SUM(CASE WHEN late_s > 6 * 3600 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late_6h,
       CAST(MAX(late_s) AS BIGINT) AS max_late_s
FROM lat GROUP BY event_type
"""


QUERIES.update({
    "events_out_of_order_audit": QuerySpec(
        q_events_out_of_order_audit, ORACLE_OUT_OF_ORDER,
        doc="per-partition arrival-order lateness profile (integer ms) — the watermark-sizing measurement",
    ),
})


def q_stats_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-statistics audit (plans/join_cardinality_audit): the
    textbook equi-join estimate |A|·|B|/max(ndv) vs the actual count for
    the two FK joins of the schema — on clean FK data the ratio must be
    ~1.0, which is exactly what a statistics pipeline asserts before
    trusting its NDVs for join reordering.  Everything exact and
    SQL-expressible, so the oracle recomputes estimate and actual from
    scratch."""
    from fluvio_duck_spark.plans import join_cardinality_audit

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    return join_cardinality_audit(
        o, c, "o_custkey", "c_custkey", "orders-customer"
    ).unionAll(
        join_cardinality_audit(
            li, o, "l_orderkey", "o_orderkey", "lineitem-orders"
        )
    )


ORACLE_STATS_JOIN = """
WITH oc AS (
  SELECT 'orders-customer' AS join_name, a.n_a, a.ndv_a, b.n_b, b.ndv_b,
         CAST(floor(CAST(a.n_a AS DOUBLE) * b.n_b
                    / greatest(a.ndv_a, b.ndv_b)) AS BIGINT) AS est_rows,
         j.actual
  FROM (SELECT COUNT(o_custkey) n_a, COUNT(DISTINCT o_custkey) ndv_a FROM orders) a,
       (SELECT COUNT(c_custkey) n_b, COUNT(DISTINCT c_custkey) ndv_b FROM customer) b,
       (SELECT COUNT(*) actual FROM orders JOIN customer ON o_custkey = c_custkey) j),
lo AS (
  SELECT 'lineitem-orders' AS join_name, a.n_a, a.ndv_a, b.n_b, b.ndv_b,
         CAST(floor(CAST(a.n_a AS DOUBLE) * b.n_b
                    / greatest(a.ndv_a, b.ndv_b)) AS BIGINT) AS est_rows,
         j.actual
  FROM (SELECT COUNT(l_orderkey) n_a, COUNT(DISTINCT l_orderkey) ndv_a FROM lineitem) a,
       (SELECT COUNT(o_orderkey) n_b, COUNT(DISTINCT o_orderkey) ndv_b FROM orders) b,
       (SELECT COUNT(*) actual FROM lineitem JOIN orders ON l_orderkey = o_orderkey) j)
SELECT join_name, n_a, ndv_a, n_b, ndv_b, est_rows, actual,
       round(actual / CAST(est_rows AS DOUBLE), 6) AS actual_over_est
FROM (SELECT * FROM oc UNION ALL SELECT * FROM lo)
"""


QUERIES.update({
    "stats_join_estimate": QuerySpec(
        q_stats_join_estimate, ORACLE_STATS_JOIN,
        doc="planner-statistics audit: textbook join-cardinality estimate vs actual on the FK joins",
    ),
})


def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over purchase events — the classic engagement
    table (Recency / Frequency / Monetary, each cut at the exact corpus
    median) feeding churn and LTV models.  Scale-correct plan: per-user
    facts in one user-keyed aggregate; the three medians come from ONE
    3-row exact-percentile aggregate joined back by broadcast (never a
    rank window over all users); binning and the segment label are then
    map-only.  Monetary accumulates in DECIMAL so the median input and
    the driver hash are partitioning-independent.

    All three median cuts run over INTEGERS (recency/frequency are
    integral; monetary is quantized to the exact decimal sum × 1e6, a
    BIGINT): at p = 0.5 both engines' interpolation arithmetic is exact
    in double over integers, so the thresholds are bit-identical and
    the >= comparisons tie-free by construction — Spark percentile()
    and DuckDB quantile_cont interpolate raw doubles with different
    formulas that can differ in the last ulp (ADVICE r5)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    anchor = ev.agg(F.max(F.to_date("ts")).alias("anchor"))
    msum = F.sum(F.col("value").cast("decimal(28,6)"))
    facts = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count("*").cast("int").alias("frequency"),
            msum.cast("double").alias("monetary"),
            (msum * F.lit(1000000)).cast("long").alias("m_e6"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff("anchor", "last_day").cast("int").alias("recency_days"),
            "frequency",
            F.round("monetary", 4).alias("monetary"),
            "m_e6",
        )
    )
    med = facts.agg(
        F.expr("percentile(recency_days, 0.5)").alias("rm"),
        F.expr("percentile(frequency, 0.5)").alias("fm"),
        F.expr("percentile(m_e6, 0.5)").alias("mm"),
    )
    scored = facts.crossJoin(F.broadcast(med)).select(
        "user_id", "recency_days", "frequency", "monetary",
        (F.col("recency_days") <= F.col("rm")).cast("int").alias("r_hi"),
        (F.col("frequency") >= F.col("fm")).cast("int").alias("f_hi"),
        (F.col("m_e6") >= F.col("mm")).cast("int").alias("m_hi"),
    )
    return scored.select(
        "user_id", "recency_days", "frequency", "monetary",
        F.concat(
            F.when(F.col("r_hi") == 1, "R").otherwise("r"),
            F.when(F.col("f_hi") == 1, "F").otherwise("f"),
            F.when(F.col("m_hi") == 1, "M").otherwise("m"),
        ).alias("segment"),
    )


ORACLE_RFM = """
WITH ev AS (SELECT * FROM events WHERE event_type = 'purchase'),
anchor AS (SELECT MAX(CAST(ts AS DATE)) AS anchor FROM ev),
facts AS (
  SELECT user_id,
         CAST(datediff('day', MAX(CAST(ts AS DATE)),
                       (SELECT anchor FROM anchor)) AS INTEGER)
           AS recency_days,
         CAST(COUNT(*) AS INT) AS frequency,
         round(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 4)
           AS monetary,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT)
           AS m_e6
  FROM ev GROUP BY user_id),
med AS (SELECT quantile_cont(CAST(recency_days AS DOUBLE), 0.5) AS rm,
               quantile_cont(CAST(frequency AS DOUBLE), 0.5) AS fm,
               quantile_cont(CAST(m_e6 AS DOUBLE), 0.5) AS mm
        FROM facts)
SELECT user_id, recency_days, frequency, monetary,
       concat(CASE WHEN recency_days <= rm THEN 'R' ELSE 'r' END,
              CASE WHEN frequency >= fm THEN 'F' ELSE 'f' END,
              CASE WHEN m_e6 >= mm THEN 'M' ELSE 'm' END) AS segment
FROM facts, med
"""


QUERIES.update({
    "events_rfm_segments": QuerySpec(
        q_events_rfm_segments, ORACLE_RFM,
        doc="RFM engagement segmentation: per-user facts, broadcast exact medians, map-only binning (no all-user rank window)",
    ),
})


def q_sketch_bloom_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE Bloom filter as a join pre-filter — the runtime-filter
    pattern a 100 TB join plans by hand when the optimizer can't: build
    a k=3-hash, m=64 Ki-bit bloom over the build side's keys (customer ids), probe
    with a mixed stream (real customer refs from orders + known-absent
    keys), and report exact membership outcomes.  The filter is
    represented as the DISTINCT SET of m bit positions (≤ m rows —
    broadcast forever, the real topology: position set broadcast, probe
    side map-only explode + semi-join + per-key agg).  Every position
    is an md5-fold portable hash, so the WHOLE sketch — not just a
    bound — is oracle-replicated: the driver hash covers false-positive
    behavior bit-for-bit.  Output: per probe class (present/absent),
    probe count, accepted count, and the exact-truth accept count
    (absent accepts = the measured false positives; present accepts
    must equal the class size — a bloom never false-negatives).

    Honesty note on the hash family: the md5 ascii-fold trades full
    hash independence for engine portability — the k probe positions
    are correlated, so the measured FP rate runs ~2× the ideal
    (1−e^(−kn/m))^k bound (e.g. 24% vs 12% at sf0.1's fill).  A
    production filter uses xxhash64 double-hashing and sizes m ≈
    1.44·k·n/ln 2 for the target FP; the broadcast-set topology and
    the exact accounting here are identical."""
    from fluvio_duck_spark.operators.dsir import hash_bucket

    M, K = 65536, 3
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("key")
    ).distinct()

    def positions(key_sql):
        # SQL-text form: 3 hashes × ~50 Column calls each per use site
        # collapse into one parsed expression (hash_bucket str path)
        return [
            hash_bucket(f"concat(CAST({key_sql} AS STRING), '#b{h}')", M)
            for h in range(K)
        ]

    bloom = (
        cust.select(F.explode(F.array(*positions("key"))).alias("pos"))
        .distinct()
    )

    # Absent probes are offset past max(c_custkey) — guaranteed disjoint
    # from real keys at ANY scale factor (a fixed +7e6 literal collided
    # with real custkeys at sf≥50, silently mislabeling the class).
    # 1-row broadcast, and the oracle embeds the same scalar subquery.
    offset = cust.agg((F.max("key") + F.lit(1)).alias("__absent_offset"))
    probes = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_custkey").cast("long").alias("key"))
        .distinct()
        .withColumn("cls", F.lit("present"))
        .unionByName(
            cust.crossJoin(F.broadcast(offset))
            .select((F.col("key") + F.col("__absent_offset")).alias("key"))
            .withColumn("cls", F.lit("absent"))
        )
    )
    exploded = probes.select(
        "key", "cls", F.explode(F.array(*positions("key"))).alias("pos")
    )
    hits = (
        exploded.join(F.broadcast(bloom), "pos")
        .groupBy("key", "cls")
        .agg(F.count("*").alias("nhit"))
    )
    accepted = hits.filter(F.col("nhit") == K).select("key", "cls")
    truth = cust.select("key").withColumn("truth", F.lit(1))
    return (
        probes.join(accepted.withColumn("acc", F.lit(1)), ["key", "cls"], "left")
        .join(truth, "key", "left")
        .groupBy("cls")
        .agg(
            F.count("*").cast("int").alias("n_probes"),
            F.sum(F.coalesce(F.col("acc"), F.lit(0))).cast("int").alias("n_accepted"),
            F.sum(F.coalesce(F.col("truth"), F.lit(0))).cast("int").alias("n_truly_present"),
        )
    )


def _oracle_bloom_join_filter() -> str:
    from fluvio_duck_spark.operators.dsir import hash_bucket_sql

    M, K = 65536, 3
    def pos_sql(expr, h):
        return hash_bucket_sql(f"(CAST({expr} AS VARCHAR) || '#b{h}')", M)

    bloom_pos = " UNION ".join(
        f"SELECT {pos_sql('c_custkey', h)} AS pos FROM customer"
        for h in range(K)
    )
    probe_pos = lambda expr: ", ".join(pos_sql(expr, h) for h in range(K))
    return f"""
WITH bloom AS ({bloom_pos}),
probes AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS key, 'present' AS cls FROM orders
  UNION ALL
  SELECT DISTINCT CAST(c_custkey AS BIGINT)
         + (SELECT MAX(CAST(c_custkey AS BIGINT)) + 1 FROM customer) AS key,
         'absent' AS cls
  FROM customer),
pp AS (
  SELECT key, cls, unnest([{probe_pos('key')}]) AS pos FROM probes),
hits AS (
  SELECT key, cls, COUNT(*) AS nhit
  FROM pp JOIN bloom USING (pos) GROUP BY key, cls),
acc AS (SELECT key, cls FROM hits WHERE nhit = {K})
SELECT p.cls, CAST(COUNT(*) AS INT) AS n_probes,
       CAST(SUM(CASE WHEN a.key IS NOT NULL THEN 1 ELSE 0 END) AS INT)
         AS n_accepted,
       CAST(SUM(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS INT)
         AS n_truly_present
FROM probes p
LEFT JOIN acc a ON a.key = p.key AND a.cls = p.cls
LEFT JOIN (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS c_custkey
           FROM customer) c ON c.c_custkey = p.key
GROUP BY p.cls
"""


QUERIES.update({
    "sketch_bloom_join_filter": QuerySpec(
        q_sketch_bloom_join_filter, _oracle_bloom_join_filter(),
        doc="portable Bloom join pre-filter: md5-fold positions, broadcast bit-set, exact FP accounting — the sketch itself oracle-replicated",
    ),
})


def q_sketch_bloom_xxhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-grade Bloom filter path (VERDICT r7 #5): xxhash64
    double-hashing (Kirsch–Mitzenmacher: ``pos_i = h1 + i·h2 mod m``
    with h2 forced odd so the stride is coprime to the power-of-two m)
    and ``m = next_pow2(1.44·k·n)`` sizing — the independence the
    portable md5 ascii-fold gives up (its probe positions correlate and
    its FP runs ~2× ideal; sketch_bloom_join_filter's honesty note).

    Both hashes are ``F.xxhash64`` — JVM-side, whole-stage-codegen, no
    Python anywhere; the filter is still the broadcast distinct
    position set (≤ k·n rows) and the probe is still map-only explode
    + broadcast join + per-key agg, so the topology is byte-identical
    to the portable twin at 100 TB.

    DuckDB has no xxhash64, so the twin pattern applies in reverse:
    the md5 query stays the bit-replicated oracle row, and THIS query
    oracle-checks the measurable INVARIANTS — present probes are all
    accepted (a bloom never false-negatives: the oracle knows the
    exact class size), and the measured absent-class FP COUNT lands
    within 3σ of its ideal ``(1−e^(−kn/m))^k`` Poisson expectation —
    a bound that tightens toward 1.0× as the expected count grows (at
    sf0.1's ~100 expected FPs it admits ≤1.3×, where the md5 fold's
    ~2× correlation drift fails) while staying honest at sf0.001's
    sub-1 expectation.  The gate runs Spark-side against exact integer
    counts; the oracle contributes the class sizes and the TRUE
    literals a correct filter must reproduce."""
    import math

    K = 5
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("key")
    ).distinct()
    # n drives the m sizing; one count() of an already-tiny distinct dim
    # (the GEMM-probe precedent for bounded plan-time driver actions)
    n = cust.count()
    m = 1 << max(4, math.ceil(math.log2(1.44 * K * n)))
    ideal_fp = (1.0 - math.exp(-K * n / m)) ** K
    # Poisson 3σ acceptance on the FP COUNT: mean + 3·sqrt(mean) + 1
    fp_budget = int(ideal_fp * n + 3.0 * math.sqrt(ideal_fp * n) + 1.0)

    def positions(keycol):
        h1 = F.pmod(F.xxhash64(keycol), F.lit(m))
        # odd stride → coprime with the power-of-two m: all k probe
        # positions distinct per key
        h2 = F.pmod(F.xxhash64(keycol, F.lit("#d2")), F.lit(m))
        h2 = h2 - F.pmod(h2, F.lit(2)) + F.lit(1)
        return [F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(K)]

    bloom = (
        cust.select(F.explode(F.array(*positions(F.col("key")))).alias("pos"))
        .distinct()
    )
    offset = cust.agg((F.max("key") + F.lit(1)).alias("__absent_offset"))
    probes = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_custkey").cast("long").alias("key"))
        .distinct()
        .withColumn("cls", F.lit("present"))
        .unionByName(
            cust.crossJoin(F.broadcast(offset))
            .select((F.col("key") + F.col("__absent_offset")).alias("key"))
            .withColumn("cls", F.lit("absent"))
        )
    )
    exploded = probes.select(
        "key", "cls", F.explode(F.array(*positions(F.col("key")))).alias("pos")
    )
    accepted = (
        exploded.join(F.broadcast(bloom), "pos")
        .groupBy("key", "cls")
        .agg(F.count("*").alias("nhit"))
        .filter(F.col("nhit") == K)
        .select("key", "cls")
    )
    tagged = probes.join(
        accepted.withColumn("acc", F.lit(1)), ["key", "cls"], "left"
    )

    def cls_sum(cls, col):
        return F.sum(F.when(F.col("cls") == cls, col).otherwise(F.lit(0)))

    # single scalar aggregate — no join between the two class rows
    return tagged.agg(
        cls_sum("present", F.lit(1)).cast("int").alias("n_present_probes"),
        (cls_sum("present", F.coalesce(F.col("acc"), F.lit(0)))
         == cls_sum("present", F.lit(1))).alias("present_all_accepted"),
        cls_sum("absent", F.lit(1)).cast("int").alias("n_absent_probes"),
        (cls_sum("absent", F.coalesce(F.col("acc"), F.lit(0)))
         <= F.lit(fp_budget)).alias("fp_within_ideal_3sigma"),
    )


QUERIES.update({
    "sketch_bloom_xxhash_fp": QuerySpec(
        q_sketch_bloom_xxhash_fp,
        """
        SELECT CAST(COUNT(DISTINCT o_custkey) AS INT) AS n_present_probes,
               TRUE AS present_all_accepted,
               (SELECT CAST(COUNT(DISTINCT c_custkey) AS INT) FROM customer)
                 AS n_absent_probes,
               TRUE AS fp_within_ideal_3sigma
        FROM orders
        """,
        doc="production bloom path: xxhash64 double-hashing + 1.44kn "
            "sizing — oracle gates no-false-negatives and measured FP "
            "within 3 sigma of the ideal (1-e^(-kn/m))^k Poisson "
            "expectation (tightens toward 1x as fill grows; the md5 "
            "twin's ~2x correlation drift fails it at scale)",
    ),
})


# ---------------------------------------------------------------------------
# layout_* — physical-layout maintenance: Z-order skipping audit, compaction
# ---------------------------------------------------------------------------

#: Audit geometry: 10-bit buckets per dimension (2^20 key space), 64
#: target files (key width 2^14), fixed probe points.  Module constants
#: so the Spark query and the SQL oracle cannot drift.
_ZO_BITS_MASK = 1023
_ZO_FILE_SHIFT = 14
_ZO_PROBE_X = 600
_ZO_PROBE_Y = 17


def q_layout_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping audit of a Z-order clustered layout vs the linear
    (time-sorted) layout, over events bucketed by epoch-hour x user.

    This is the decision metric for CLUSTER BY at 100 TB: per layout,
    every file's min/max envelope in both dimensions and how many files
    a point predicate on either dimension must scan (files whose
    [min, max] straddles the probe).  The Morton key bounds BOTH
    envelopes, so both probes prune; the linear key prunes only its
    leading (time) dimension — the audit shows exactly that, as data.

    Plan: one scan computing the bit-interleave (pure shift/mask
    codegen), a bounded 2x fan-out tagging the two candidate layouts,
    then two file-count-sized aggregations (operators/layout.py).  The
    oracle replays the identical shift/mask chain via zorder_sql().
    """
    from fluvio_duck_spark.operators.layout import skipping_audit, zorder_key

    ev = load(spark, sf_dir, "events")
    xb = F.pmod(F.expr("unix_timestamp(ts) div 3600"), F.lit(_ZO_BITS_MASK + 1))
    yb = F.pmod(F.col("user_id"), F.lit(_ZO_BITS_MASK + 1))
    b = ev.select(xb.alias("xb"), yb.alias("yb"))
    z_file = F.shiftright(zorder_key(F.col("xb"), F.col("yb")), _ZO_FILE_SHIFT)
    lin_file = F.shiftright(
        F.shiftleft(F.col("xb"), 10).bitwiseOR(F.col("yb")), _ZO_FILE_SHIFT
    )
    audit = skipping_audit(
        b,
        {"zorder": z_file, "linear": lin_file},
        F.col("xb"),
        F.col("yb"),
        probe_x=_ZO_PROBE_X,
        probe_y=_ZO_PROBE_Y,
    )
    return audit.select(
        "layout", "n_files", "n_rows",
        (F.col("sum_x_span").cast("double") / F.col("n_files")).alias("avg_x_span"),
        (F.col("sum_y_span").cast("double") / F.col("n_files")).alias("avg_y_span"),
        "files_hit_x", "files_hit_y",
    )


def _zorder_skipping_oracle() -> str:
    from fluvio_duck_spark.operators.layout import zorder_sql

    z = zorder_sql("xb", "yb")
    return f"""
WITH b AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 % {_ZO_BITS_MASK + 1} AS xb,
         user_id % {_ZO_BITS_MASK + 1} AS yb
  FROM events),
t AS (
  SELECT 'zorder' AS layout, {z} >> {_ZO_FILE_SHIFT} AS file_id, xb, yb FROM b
  UNION ALL
  SELECT 'linear', ((xb << 10) | yb) >> {_ZO_FILE_SHIFT}, xb, yb FROM b),
pf AS (
  SELECT layout, file_id,
         min(xb) AS mnx, max(xb) AS mxx, min(yb) AS mny, max(yb) AS mxy,
         count(*) AS n
  FROM t GROUP BY 1, 2)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(mxx - mnx + 1) AS DOUBLE) / count(*) AS avg_x_span,
       CAST(sum(mxy - mny + 1) AS DOUBLE) / count(*) AS avg_y_span,
       CAST(count(*) FILTER (mnx <= {_ZO_PROBE_X} AND {_ZO_PROBE_X} <= mxx)
            AS BIGINT) AS files_hit_x,
       CAST(count(*) FILTER (mny <= {_ZO_PROBE_Y} AND {_ZO_PROBE_Y} <= mxy)
            AS BIGINT) AS files_hit_y
FROM pf GROUP BY layout
"""


#: 3-d audit geometry: 8-bit buckets per dimension (2^24 key space), 64
#: target files (key width 2^18), fixed probe points.
_ZO3_MASK = 255
_ZO3_FILE_SHIFT = 18
_ZO3_PROBES = {"hour": 87, "user": 17, "val": 200}


def q_layout_zorder3_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-dimensional Z-order skipping audit — the realistic CLUSTER
    BY shape (time x user x value-band; real lakes cluster three or four
    predicates, not two).  Same decision metric as the 2-d audit: per
    layout, every file's min/max envelope in ALL THREE dimensions and
    how many files a point probe on each dimension must scan.  The
    3-way Morton key bounds all three envelopes; the linear
    (hour, user, val) concatenation bounds only its leading dimension.

    Plan: identical shape to the 2-d audit — one scan computing the
    stride-3 bit-interleave (shift/mask chain from morton_geometry(3),
    pure codegen), bounded 2x layout fan-out, two hash aggregations.
    The oracle replays the identical chain via zorder_sql (3 args).
    """
    from fluvio_duck_spark.operators.layout import (
        skipping_audit_nd,
        zorder_key,
    )

    ev = load(spark, sf_dir, "events")
    b = ev.select(
        F.pmod(F.expr("unix_timestamp(ts) div 3600"), F.lit(_ZO3_MASK + 1))
        .alias("hb"),
        F.pmod(F.col("user_id"), F.lit(_ZO3_MASK + 1)).alias("ub"),
        F.pmod(F.floor(F.col("value")).cast("long"), F.lit(_ZO3_MASK + 1))
        .alias("vb"),
    )
    z_file = F.shiftright(
        zorder_key(F.col("hb"), F.col("ub"), F.col("vb")), _ZO3_FILE_SHIFT
    )
    lin_file = F.shiftright(
        F.shiftleft(F.col("hb"), 16)
        .bitwiseOR(F.shiftleft(F.col("ub"), 8))
        .bitwiseOR(F.col("vb")),
        _ZO3_FILE_SHIFT,
    )
    audit = skipping_audit_nd(
        b,
        {"zorder3": z_file, "linear": lin_file},
        {"hour": F.col("hb"), "user": F.col("ub"), "val": F.col("vb")},
        _ZO3_PROBES,
    )
    return audit.select(
        "layout", "n_files", "n_rows",
        *[
            (F.col(f"sum_{d}_span").cast("double") / F.col("n_files"))
            .alias(f"avg_{d}_span")
            for d in ("hour", "user", "val")
        ],
        "files_hit_hour", "files_hit_user", "files_hit_val",
    )


def _zorder3_skipping_oracle() -> str:
    from fluvio_duck_spark.operators.layout import zorder_sql

    z = zorder_sql("hb", "ub", "vb")
    m = _ZO3_MASK + 1
    span = "\n".join(
        f"       CAST(sum(mx_{d} - mn_{d} + 1) AS DOUBLE) / count(*) "
        f"AS avg_{d}_span," for d in ("hour", "user", "val")
    )
    hits = ",\n".join(
        f"       CAST(count(*) FILTER (mn_{d} <= {p} AND {p} <= mx_{d}) "
        f"AS BIGINT) AS files_hit_{d}" for d, p in _ZO3_PROBES.items()
    )
    env = ", ".join(
        f"min({c}) AS mn_{d}, max({c}) AS mx_{d}"
        for d, c in (("hour", "hb"), ("user", "ub"), ("val", "vb"))
    )
    return f"""
WITH b AS (
  -- ((x % m) + m) % m == Spark's pmod for negative x; DuckDB's bare %
  -- sign-follows the dividend, so a pre-1970 ts or negative value would
  -- silently break hash parity under bare % (ADVICE r11)
  SELECT ((CAST(floor(epoch(ts)) AS BIGINT) // 3600 % {m}) + {m}) % {m} AS hb,
         ((user_id % {m}) + {m}) % {m} AS ub,
         ((CAST(floor(value) AS BIGINT) % {m}) + {m}) % {m} AS vb
  FROM events),
t AS (
  SELECT 'zorder3' AS layout, {z} >> {_ZO3_FILE_SHIFT} AS file_id,
         hb, ub, vb FROM b
  UNION ALL
  SELECT 'linear', ((hb << 16) | (ub << 8) | vb) >> {_ZO3_FILE_SHIFT},
         hb, ub, vb FROM b),
pf AS (
  SELECT layout, file_id, count(*) AS n, {env}
  FROM t GROUP BY 1, 2)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n) AS BIGINT) AS n_rows,
{span}
{hits}
FROM pf GROUP BY layout
"""


#: Compaction target size (bytes of props payload per output file) —
#: small enough that every SF yields multi-file bins.
_COMPACT_TARGET = 8192


def q_layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: the daily (date x event_type) files of
    an events lake, bin-packed into ~8 KB compaction groups by
    next-fit-decreasing (operators/layout.py::compaction_plan — one
    window prefix sum per table partition, no driver loop).  Input is a
    file LISTING (catalog metadata: one row per file), so the plan step
    is metadata-sized even when the table is 100 TB; the window
    partitions by event_type because compaction never merges across
    table partitions."""
    from fluvio_duck_spark.operators.layout import compaction_plan

    ev = load(spark, sf_dir, "events")
    files = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("file_date")
    ).agg(F.sum(F.length("props")).cast("long").alias("bytes"))
    return compaction_plan(
        files,
        _COMPACT_TARGET,
        partition_cols=["event_type"],
        file_id_cols=["file_date"],
    )


ORACLE_COMPACTION_PLAN = f"""
WITH files AS (
  SELECT event_type, CAST(ts AS DATE) AS file_date,
         CAST(sum(length(props)) AS BIGINT) AS bytes
  FROM events GROUP BY 1, 2),
b AS (
  SELECT event_type, bytes,
         CAST(floor((sum(least(bytes, {_COMPACT_TARGET})) OVER (
                 PARTITION BY event_type
                 ORDER BY bytes DESC, file_date
                 ROWS UNBOUNDED PRECEDING) - least(bytes, {_COMPACT_TARGET}))
               / {_COMPACT_TARGET}) AS BIGINT) AS bin
  FROM files)
SELECT event_type, bin,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(min(bytes) AS BIGINT) AS min_file_bytes,
       CAST(max(bytes) AS BIGINT) AS max_file_bytes
FROM b GROUP BY 1, 2
"""


#: Row budget per compacted output file for the plan→execute query —
#: small enough that every SF yields multi-file bins (150 daily files at
#: every SF; per-type totals range 200 rows at sf0.001 to 200k at sf1).
_COMPACT_APPLY_TARGET_ROWS = 2000


def q_layout_compaction_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan→EXECUTE compaction round trip (closes the loop the plan
    query opens): the events lake is first written deliberately
    fragmented — one physical parquet file per (event_type, file_date),
    150 small files — then ``compaction_bins`` plans row-budget bins per
    event_type and ``sinks.apply_compaction_plan`` physically rewrites
    the lake, one output file per bin (broadcast file→bin mapping, one
    bounded shuffle of the rewritten rows).

    The returned audit is measured from the EXECUTED layout (read back
    from the rewritten directory): per (event_type, bin) the row count,
    the number of distinct physical output files (``input_file_name``),
    the number of source files folded in, and an event_id checksum.  The
    oracle computes what the rewrite MUST produce — the same bins from
    the pure window-prefix plan, n_out_files = 1 as a literal — so a
    hash match proves the physical layout equals the plan: no bin split
    across files, no row lost or duplicated, no file in the wrong bin.

    The plan runs on ROW COUNTS (maxRecordsPerFile-style budget) rather
    than bytes so both engines can reproduce it exactly; the byte form
    is the same window expression over a byte listing.
    """
    from fluvio_duck_spark.operators.layout import compaction_bins
    from fluvio_duck_spark.sinks import apply_compaction_plan

    ev = load(spark, sf_dir, "events").withColumn(
        "file_date", F.to_date("ts")
    )
    work = run_dir("layout_compaction_apply", "work")
    src, out = os.path.join(work, "src"), os.path.join(work, "out")
    # fragmented lake: one physical file per (event_type, file_date) —
    # repartition puts each leaf wholly in one task, partitionBy writes
    # one file per leaf directory per task.  Explicit N: a keyed
    # repartition with no count lets AQE coalesce the byte-tiny
    # exchange to ONE task and the 150 leaf writes serialize
    # (~16 ms/leaf); hashing over defaultParallelism tasks keeps each
    # leaf wholly in one task while the writes run in parallel
    (
        ev.repartition(
            spark.sparkContext.defaultParallelism,
            "event_type", "file_date",
        )
        .write.partitionBy("event_type", "file_date")
        .parquet(src)
    )
    files = (
        spark.read.parquet(src)
        .groupBy("event_type", "file_date")
        .agg(F.count("*").cast("long").alias("rows"))
    )
    bins = compaction_bins(
        files, _COMPACT_APPLY_TARGET_ROWS,
        partition_cols=["event_type"], file_id_cols=["file_date"],
        bytes_col="rows",
    )
    apply_compaction_plan(
        spark, src, bins,
        partition_cols=["event_type"], file_id_cols=["file_date"],
        out_path=out,
    )
    back = spark.read.parquet(out).withColumn("__f", F.input_file_name())
    return back.groupBy(
        "event_type", F.col("__bin").cast("long").alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count_distinct("__f").cast("long").alias("n_out_files"),
        F.count_distinct("file_date").cast("long").alias("n_src_files"),
        F.sum("event_id").cast("long").alias("id_checksum"),
    )


#: Bloom-skipping audit geometry: 16 docs per file (32 of 126
#: bloom bits set -> ~6% FP, a realistic fill); scrambled key =
#: (doc_id * 2654435761) % 1000003 (injective below the prime, so every
#: file's min/max envelope spans ~the whole key domain and min/max
#: skipping is useless — the scenario blooms exist for).  126-bit
#: per-file bloom as two 63-bit BIGINT words (bit 63 never set — both
#: engines' checked shifts reject the sign bit), k=2 positions
#: h1 = key % 126, h2 = (key // 126) % 126; word = h // 63, bit = h % 63.
#: Probe = doc 90's key (mid-domain, present in exactly one file).
_BLOOM_DOCS_PER_FILE = 16
_BLOOM_PROBE_KEY = 501796   # (90 * 2654435761) % 1000003
_BLOOM_PROBE_H1 = 64        # _BLOOM_PROBE_KEY % 126
_BLOOM_PROBE_H2 = 76        # (_BLOOM_PROBE_KEY // 126) % 126


def q_layout_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping audit for POINT lookups on a high-cardinality
    scrambled key — the case min/max envelopes cannot prune (every
    file's [min, max] spans essentially the whole key domain when keys
    arrive hash-distributed) and per-file bloom filters exist for.

    Per file (16 docs each): the key min/max envelope AND a 128-bit
    k=2 bloom, built as two BIGINT words via ``bit_or`` of shifted bits
    — a pure map-side-combined aggregate, 16 bytes of state per file,
    exactly the footer-metadata shape parquet bloom filters store.  The
    audit probes one known-present key and reports how many files each
    pruning strategy must scan: ``files_hit_minmax`` (≈ all of them),
    ``files_hit_bloom`` (the true file + deterministic false positives),
    ``files_true`` (ground truth), and the bloom false-positive rate.
    Everything is exact integer arithmetic (both hash positions, the
    bit ops, the probe) so the oracle reproduces the bitmaps
    bit-for-bit.  At 100 TB: one scan + a file-count-sized aggregate;
    the decision data for "enable bloom filters on this column"."""
    docs = load(spark, sf_dir, "documents")
    key = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1000003))
    b = docs.select(
        (F.col("doc_id") / _BLOOM_DOCS_PER_FILE).cast("long").alias("f"),
        key.alias("k"),
    ).select(
        "f", "k",
        F.pmod(F.col("k"), F.lit(126)).cast("int").alias("h1"),
        # exact 2nd base-126 digit: pmod(k, 126²)//126 — the same
        # all-int64-exact form operators/skipping.py::bloom_hash_cols
        # uses (equal to (k//126)%126 for this non-negative k domain)
        (F.pmod(F.col("k"), F.lit(126 * 126)) / F.lit(126))
        .cast("int").alias("h2"),
    )
    word = lambda h, w: F.when(  # noqa: E731 — local plumbing
        (F.col(h) / 63).cast("int") == w,
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {h} % 63)"),
    ).otherwise(F.lit(0).cast("long"))
    per_file = b.groupBy("f").agg(
        F.min("k").alias("mn"),
        F.max("k").alias("mx"),
        F.bit_or(word("h1", 0).bitwiseOR(word("h2", 0))).alias("w0"),
        F.bit_or(word("h1", 1).bitwiseOR(word("h2", 1))).alias("w1"),
        F.max(
            F.when(F.col("k") == _BLOOM_PROBE_KEY, F.lit(1)).otherwise(0)
        ).alias("has_key"),
    )
    p = F.lit(_BLOOM_PROBE_KEY)

    def probe_bit(h: int):
        w = "w0" if h // 63 == 0 else "w1"
        return F.col(w).bitwiseAND(F.lit(1 << (h % 63))) != 0

    bloom_hit = probe_bit(_BLOOM_PROBE_H1) & probe_bit(_BLOOM_PROBE_H2)
    return per_file.agg(
        F.count("*").cast("long").alias("n_files"),
        F.count(F.when((F.col("mn") <= p) & (p <= F.col("mx")), 1))
        .cast("long").alias("files_hit_minmax"),
        F.count(F.when(bloom_hit, 1)).cast("long").alias("files_hit_bloom"),
        F.sum("has_key").cast("long").alias("files_true"),
        F.round(
            (F.count(F.when(bloom_hit, 1)) - F.sum("has_key"))
            .cast("double") / F.count("*"),
            6,
        ).alias("bloom_fp_rate"),
    )


ORACLE_BLOOM_SKIPPING = f"""
WITH b AS (
  SELECT doc_id // {_BLOOM_DOCS_PER_FILE} AS f,
         (doc_id * 2654435761) % 1000003 AS k
  FROM documents),
h AS (
  SELECT f, k,
         k % 126 AS h1,
         (k // 126) % 126 AS h2
  FROM b),
pf AS (
  SELECT f, min(k) AS mn, max(k) AS mx,
         bit_or((CASE WHEN h1 // 63 = 0 THEN CAST(1 AS BIGINT) << (h1 % 63)
                      ELSE 0 END)
              | (CASE WHEN h2 // 63 = 0 THEN CAST(1 AS BIGINT) << (h2 % 63)
                      ELSE 0 END)) AS w0,
         bit_or((CASE WHEN h1 // 63 = 1 THEN CAST(1 AS BIGINT) << (h1 % 63)
                      ELSE 0 END)
              | (CASE WHEN h2 // 63 = 1 THEN CAST(1 AS BIGINT) << (h2 % 63)
                      ELSE 0 END)) AS w1,
         max(CASE WHEN k = {_BLOOM_PROBE_KEY} THEN 1 ELSE 0 END) AS has_key
  FROM h GROUP BY f),
probe AS (
  SELECT *,
         (CASE WHEN {_BLOOM_PROBE_H1 // 63} = 0
               THEN (w0 & (CAST(1 AS BIGINT) << {_BLOOM_PROBE_H1 % 63})) <> 0
               ELSE (w1 & (CAST(1 AS BIGINT) << {_BLOOM_PROBE_H1 % 63})) <> 0
          END)
         AND
         (CASE WHEN {_BLOOM_PROBE_H2 // 63} = 0
               THEN (w0 & (CAST(1 AS BIGINT) << {_BLOOM_PROBE_H2 % 63})) <> 0
               ELSE (w1 & (CAST(1 AS BIGINT) << {_BLOOM_PROBE_H2 % 63})) <> 0
          END) AS bloom_hit
  FROM pf)
SELECT CAST(count(*) AS BIGINT) AS n_files,
       CAST(count(CASE WHEN mn <= {_BLOOM_PROBE_KEY}
                        AND {_BLOOM_PROBE_KEY} <= mx THEN 1 END)
            AS BIGINT) AS files_hit_minmax,
       CAST(count(CASE WHEN bloom_hit THEN 1 END) AS BIGINT)
         AS files_hit_bloom,
       CAST(sum(has_key) AS BIGINT) AS files_true,
       round(CAST(count(CASE WHEN bloom_hit THEN 1 END) - sum(has_key)
                  AS DOUBLE) / count(*), 6) AS bloom_fp_rate
FROM probe
"""


#: Token-index audit: same 16-docs-per-file geometry as the bloom
#: audit; 63-slot sharded posting bitmap (slot = file % 63, bit 63 never
#: set).  Probes span the selectivity range of the fixture vocabulary.
_TIDX_PROBES = ("dup", "vector", "join")


def q_text_index_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping audit for TEXT predicates (``text LIKE '%token%'``
    can never use min/max or bloom column stats): a token→file inverted
    index, stored as one 63-slot posting BITMAP per token (slot =
    file % 63 — the Roaring-lite compromise that keeps per-token index
    state at 8 bytes regardless of file count, trading false hits when
    files alias a slot).

    Per probe token: exact document frequency, the exact number of
    files containing it, the bitmap's popcount (slots an engine must
    scan), and the scan fraction the index buys.  A rare token ('dup')
    prunes nearly everything; a corpus-stopword ('join') saturates the
    bitmap — the audit quantifies exactly which predicates an inverted
    index helps at 100 TB.  Plan: one scan exploding tokens with the
    probe filter PUSHED BELOW the explode-distinct (only probe-token
    rows survive the map side), then a probe-count-sized aggregate;
    everything integer/bitwise → bit-exact in the oracle."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") / _BLOOM_DOCS_PER_FILE).cast("long").alias("f"),
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).filter(F.col("tok").isin(*_TIDX_PROBES))
    pairs = toks.select(
        "tok", "doc_id", "f", F.pmod(F.col("f"), F.lit(63)).alias("slot")
    )
    return pairs.groupBy("tok").agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.count_distinct("f").cast("long").alias("n_files_exact"),
        F.bit_count(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(slot AS INT))"))
        ).cast("long").alias("slots_hit"),
        F.round(
            F.bit_count(
                F.bit_or(
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(slot AS INT))")
                )
            ).cast("double") / 63,
            6,
        ).alias("scan_fraction"),
    )


ORACLE_TEXT_INDEX_SKIPPING = f"""
WITH pairs AS (
  SELECT tok, doc_id, f, f % 63 AS slot
  FROM (
    SELECT doc_id, doc_id // {_BLOOM_DOCS_PER_FILE} AS f,
           unnest(string_split(text, ' ')) AS tok
    FROM documents) t
  WHERE tok IN {_TIDX_PROBES!r})
SELECT tok,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT f) AS BIGINT) AS n_files_exact,
       CAST(bit_count(bit_or(CAST(1 AS BIGINT) << CAST(slot AS INTEGER)))
            AS BIGINT) AS slots_hit,
       round(CAST(bit_count(bit_or(CAST(1 AS BIGINT)
                                   << CAST(slot AS INTEGER))) AS DOUBLE)
             / 63, 6) AS scan_fraction
FROM pairs GROUP BY tok
"""


#: Mid-selectivity probe token for the sidecar-consulted READ (present
#: in some files, absent from others — both pruning and hits exercised).
_TIDX_READ_PROBE = "vector"


def q_layout_bloom_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sidecar-consulted point-lookup READ — the audit→READ closure of
    ``layout_bloom_skipping`` (VERDICT r11 #3).  The audit computed which
    files a probe WOULD hit; this query persists that decision data at
    write time and consumes it to prune a REAL scan:

    1. materialize the documents lake one physical file per 16-doc
       group with a per-file 126-bit bloom + min/max sidecar written in
       the same job (operators/skipping.py::write_with_bloom_sidecar);
    2. plan the probe's file list on the driver FROM the sidecar
       (catalog-sized work, no file opened — the Iceberg/Delta manifest
       shape) and hand Spark only the surviving files;
    3. measure from the pruned scan itself: ``files_opened`` is
       count_distinct(input_file_name()) over the rows actually read.

    The output row hash-proves BOTH closure claims at once: the oracle
    recomputes the bloom plan in SQL (files_planned == files_opened ==
    the audit's files_hit_bloom count) AND computes rows_matched /
    doc_checksum over the FULL table — a match means the pruned read
    missed nothing (bloom = no false negatives).  At 100 TB the scan
    cost is the HIT count (true file + deterministic FPs), not the
    table; the sidecar stays 16 bytes/file.  The
    pruned-plan-consults-the-sidecar-not-minmax half is pinned in
    test_layout.py by tampering a sidecar entry."""
    from fluvio_duck_spark.operators.skipping import (
        read_with_skipping,
        write_with_bloom_sidecar,
    )

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (F.col("doc_id") / _BLOOM_DOCS_PER_FILE).cast("long").alias("f"),
        F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1000003)).alias("k"),
    )
    lake = run_dir("layout_bloom_read", "lake")
    write_with_bloom_sidecar(base, lake, "f", "k")
    pruned, planned, total = read_with_skipping(spark, lake, _BLOOM_PROBE_KEY)
    probe = F.lit(_BLOOM_PROBE_KEY)
    return pruned.withColumn("__file", F.input_file_name()).agg(
        F.count_distinct("__file").cast("long").alias("files_opened"),
        F.count(F.when(F.col("k") == probe, 1)).cast("long")
        .alias("rows_matched"),
        F.sum(F.when(F.col("k") == probe, F.col("doc_id"))).cast("long")
        .alias("doc_checksum"),
    ).select(
        F.lit(total).cast("long").alias("n_files"),
        F.lit(planned).cast("long").alias("files_planned"),
        "files_opened", "rows_matched", "doc_checksum",
    )


ORACLE_BLOOM_READ = f"""
WITH b AS (
  SELECT doc_id, doc_id // {_BLOOM_DOCS_PER_FILE} AS f,
         (doc_id * 2654435761) % 1000003 AS k
  FROM documents),
h AS (
  SELECT f, k, k % 126 AS h1, (k // 126) % 126 AS h2 FROM b),
pf AS (
  SELECT f,
         bit_or((CASE WHEN h1 // 63 = 0 THEN CAST(1 AS BIGINT) << (h1 % 63)
                      ELSE 0 END)
              | (CASE WHEN h2 // 63 = 0 THEN CAST(1 AS BIGINT) << (h2 % 63)
                      ELSE 0 END)) AS w0,
         bit_or((CASE WHEN h1 // 63 = 1 THEN CAST(1 AS BIGINT) << (h1 % 63)
                      ELSE 0 END)
              | (CASE WHEN h2 // 63 = 1 THEN CAST(1 AS BIGINT) << (h2 % 63)
                      ELSE 0 END)) AS w1
  FROM h GROUP BY f),
hit AS (
  SELECT f FROM pf
  WHERE (CASE WHEN {_BLOOM_PROBE_H1 // 63} = 0
              THEN (w0 & (CAST(1 AS BIGINT) << {_BLOOM_PROBE_H1 % 63})) <> 0
              ELSE (w1 & (CAST(1 AS BIGINT) << {_BLOOM_PROBE_H1 % 63})) <> 0
         END)
    AND (CASE WHEN {_BLOOM_PROBE_H2 // 63} = 0
              THEN (w0 & (CAST(1 AS BIGINT) << {_BLOOM_PROBE_H2 % 63})) <> 0
              ELSE (w1 & (CAST(1 AS BIGINT) << {_BLOOM_PROBE_H2 % 63})) <> 0
         END))
SELECT CAST((SELECT count(*) FROM pf) AS BIGINT) AS n_files,
       CAST((SELECT count(*) FROM hit) AS BIGINT) AS files_planned,
       CAST((SELECT count(*) FROM hit) AS BIGINT) AS files_opened,
       CAST((SELECT count(*) FROM b WHERE k = {_BLOOM_PROBE_KEY}) AS BIGINT)
         AS rows_matched,
       CAST((SELECT sum(doc_id) FROM b WHERE k = {_BLOOM_PROBE_KEY})
            AS BIGINT) AS doc_checksum
"""


def q_text_index_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-bitmap-consulted text READ — the audit→READ closure of
    ``text_index_skipping`` (VERDICT r11 #3).  The token→file inverted
    index (63-slot posting bitmap, 8 bytes/token) is persisted at write
    time; a ``text LIKE '%token%'``-class probe plans its file list from
    the bitmap on the driver and Spark opens ONLY slot-matching files —
    min/max and bloom column stats can never prune this predicate.

    The output row hash-proves the closure: the oracle replays the slot
    plan in SQL (files_planned == files_opened == every file whose
    slot aliases a token-bearing file's) and computes rows_matched /
    doc_checksum over the FULL table — a match means the bitmap is
    complete (no false negatives; slot aliasing only adds false hits
    the exact membership predicate removes).  At 100 TB: index state is
    vocab-bounded, scan cost is slots_hit/63 of the table — the audit's
    scan_fraction, now actually bought."""
    from fluvio_duck_spark.operators.skipping import (
        read_with_token_skipping,
        write_with_token_index,
    )

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (F.col("doc_id") / _BLOOM_DOCS_PER_FILE).cast("long").alias("f"),
        "text",
    )
    lake = run_dir("text_index_read", "lake")
    write_with_token_index(base, lake, "f", "text")
    pruned, planned, total, slots = read_with_token_skipping(
        spark, lake, _TIDX_READ_PROBE
    )
    has_tok = F.array_contains(
        F.split(F.col("text"), " "), _TIDX_READ_PROBE
    )
    return pruned.withColumn("__file", F.input_file_name()).agg(
        F.count_distinct("__file").cast("long").alias("files_opened"),
        F.count(F.when(has_tok, 1)).cast("long").alias("rows_matched"),
        F.sum(F.when(has_tok, F.col("doc_id"))).cast("long")
        .alias("doc_checksum"),
    ).select(
        F.lit(total).cast("long").alias("n_files"),
        F.lit(planned).cast("long").alias("files_planned"),
        F.lit(slots).cast("long").alias("slots_hit"),
        "files_opened", "rows_matched", "doc_checksum",
    )


ORACLE_TEXT_INDEX_READ = f"""
WITH base AS (
  SELECT doc_id, doc_id // {_BLOOM_DOCS_PER_FILE} AS f, text
  FROM documents),
allf AS (SELECT DISTINCT f FROM base),
tokf AS (
  SELECT DISTINCT f FROM base
  WHERE list_contains(string_split(text, ' '), '{_TIDX_READ_PROBE}')),
slots AS (SELECT DISTINCT f % 63 AS slot FROM tokf),
planned AS (
  SELECT f FROM allf WHERE f % 63 IN (SELECT slot FROM slots))
SELECT CAST((SELECT count(*) FROM allf) AS BIGINT) AS n_files,
       CAST((SELECT count(*) FROM planned) AS BIGINT) AS files_planned,
       CAST((SELECT count(*) FROM slots) AS BIGINT) AS slots_hit,
       CAST((SELECT count(*) FROM planned) AS BIGINT) AS files_opened,
       CAST((SELECT count(*) FROM base
             WHERE list_contains(string_split(text, ' '),
                                 '{_TIDX_READ_PROBE}')) AS BIGINT)
         AS rows_matched,
       CAST((SELECT sum(doc_id) FROM base
             WHERE list_contains(string_split(text, ' '),
                                 '{_TIDX_READ_PROBE}')) AS BIGINT)
         AS doc_checksum
"""


#: Snapshot time-travel fixture: 4 hash partitions; the merge feed
#: touches ONLY partition 1 (copy-on-write carries the rest by
#: reference); appended keys are original + 1e9 (1e9 % 4 == 0 keeps the
#: partition rule aligned between engines).
_STT_PARTS = 4
_STT_APPEND_SHIFT = 1000000000
_STT_COLS = ["event_id", "event_type", "user_id", "pt"]


def _per_file_version_audits(
    spark: SparkSession,
    root: str,
    versions: list[int],
    cols: list[str],
    file_aggs: dict | None = None,
) -> DataFrame:
    """Physical audit pairs for MANY snapshot versions from ONE scan of
    the distinct live files.

    Reading each version separately scans every carried-over file once
    per referencing version; data files are immutable and the checksum
    fold is a sum mod P, so per-FILE audit pairs combine exactly into
    any version's pair: scan each distinct file once, fold per file,
    fan the per-file rows out through a literal file→versions map
    (catalog-sized, from the manifests), and re-aggregate per version.
    At 100 TB this is "read each live generation once", not "read every
    version's snapshot".  ``file_aggs`` adds per-file aggregate Columns
    whose per-version combination is SUM (e.g. a column's non-NULL
    count).  Files are keyed by basename: part-file names are
    uuid-unique and %-escape-free (partition VALUES may URI-encode in
    ``input_file_name``; the file name itself never does).  All files
    read with the WIDEST declared schema among the requested versions
    (a rollback past an alter can make the newest schema the narrow
    one) — columns a wider schema added NULL-backfill for generations
    whose files lack them, exactly as ``read_version_as_of`` resolves
    them, so per-file sums over such columns contribute the 0 a
    narrow-schema read reports.

    Returns one row per version: (version int, n_rows, checksum,
    <file_aggs sums>)."""
    from fluvio_duck_spark.functions.checksum import (
        CHECKSUM_MODULUS,
        fold_sum,
        row_checksum,
    )
    from fluvio_duck_spark.operators import snapshots as snap

    membership: dict[str, tuple[str, list[int]]] = {}
    for v in versions:
        for e in snap.load_manifest(root, v)["files"]:
            bn = os.path.basename(e["path"])
            membership.setdefault(bn, (e["path"], []))[1].append(v)
    paths = sorted({p for p, _ in membership.values()})
    vmap_sql = "map(" + ", ".join(
        f"'{bn}', array({', '.join(str(v) for v in vs)})"
        for bn, (_, vs) in sorted(membership.items())
    ) + ")"
    schema = None
    for v in sorted(versions):
        s = snap.manifest_schema(root, v)
        if s is not None and (
            schema is None or len(s.fields) >= len(schema.fields)
        ):
            schema = s
    file_aggs = file_aggs or {}
    reader = spark.read if schema is None else spark.read.schema(schema)
    per_file = (
        reader.parquet(*paths)
        .withColumn(
            "__bn", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        .withColumn("__rc", row_checksum(cols))
        .groupBy("__bn")
        .agg(
            F.count("*").cast("long").alias("__fr"),
            fold_sum(F.col("__rc")).alias("__ff"),
            *[a.alias(f"__x_{n}") for n, a in file_aggs.items()],
        )
    )
    return (
        per_file.select(
            F.explode(F.expr(vmap_sql)[F.col("__bn")]).alias("version"),
            "__fr", "__ff",
            *[f"__x_{n}" for n in file_aggs],
        )
        .groupBy("version")
        .agg(
            F.sum("__fr").cast("long").alias("n_rows"),
            # per-file folds are each < P; their DECIMAL-exact sum mod P
            # equals the whole version's fold (mod distributes over +)
            F.pmod(
                F.sum(F.col("__ff").cast("decimal(38,0)")),
                F.lit(CHECKSUM_MODULUS).cast("decimal(38,0)"),
            ).cast("long").alias("checksum"),
            *[
                F.sum(f"__x_{n}").cast("long").alias(n)
                for n in file_aggs
            ],
        )
    )


def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot versioning / time travel over the maintenance surface
    (VERDICT r11 #4, operators/snapshots.py): a manifest-versioned
    events table takes one commit of EVERY mutation kind —

      v1 create → v2 append (parent files carried by reference) →
      v3 partition-scoped copy-on-write MERGE (only partition 1's
      files rewritten) → v4 compaction (commit asserts the audit pair
      is preserved) → v5 rollback to v1 (pointer flip, no data moved)

    — then time-travels back through ALL FIVE versions after the last
    mutation and returns each version's audit pair twice: once measured
    by actually reading ``read_version_as_of(v)`` (count + portable
    checksum fold over the files manifest v lists), once derived from
    the manifest metadata alone (driver-side sum of per-file folds —
    zero table I/O).  The oracle recomputes every version's expected
    state independently in SQL, so a hash match proves simultaneously:
    historical snapshots reproduce exactly under later mutations,
    rollback restores v1 bit-for-bit, compaction changed bytes but not
    content, and the metadata-only audit equals the physical one.  At
    100 TB each commit's cost is bounded by its mutation (COW rewrites
    touched partitions only; the stats scan covers new files only) and
    the manifest stays catalog-sized.  Byte-stability of carried-over
    files is pinned in test_maintenance.py with mtime snapshots."""
    from fluvio_duck_spark.operators import snapshots as snap

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id",
        F.pmod(F.col("event_id"), F.lit(_STT_PARTS)).alias("pt"),
    )
    root = run_dir("snapshot_time_travel", "root")

    snap.create_table(spark, root, ev, "pt", _STT_COLS)
    appended = ev.filter(F.col("event_id") % 11 == 3).select(
        (F.col("event_id") + _STT_APPEND_SHIFT).alias("event_id"),
        F.lit("appended").alias("event_type"),
        "user_id", "pt",
    )
    snap.append(spark, root, appended)
    feed = ev.filter(
        (F.col("pt") == 1) & (F.col("event_id") % 3 != 2)
    ).select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("_op"),
        F.lit("patched").alias("new_type"),
        "pt",
    )
    snap.merge_into(
        spark, root, feed, key="event_id",
        set_cols={"event_type": "new_type"},
    )
    snap.compact(spark, root)
    snap.rollback(root, 1)

    ops = {1: "create", 2: "append", 3: "merge", 4: "compact",
           5: "rollback"}
    # Five separate read_version_as_of aggregates would scan every
    # carried-over file once PER REFERENCING VERSION (v1's generation is
    # live in v1, v2 and v5 → 29 file-scans for 13 distinct files); the
    # per-file audit combines them from ONE scan of the distinct files
    # (see _per_file_version_audits).
    op_case = "CASE version " + " ".join(
        f"WHEN {v} THEN '{op}'" for v, op in ops.items()
    ) + " END"
    audits = {v: snap.manifest_audit(root, v) for v in ops}
    mrows_case = "CASE version " + " ".join(
        f"WHEN {v} THEN CAST({audits[v][0]} AS BIGINT)" for v in ops
    ) + " END"
    mfold_case = "CASE version " + " ".join(
        f"WHEN {v} THEN CAST({audits[v][1]} AS BIGINT)" for v in ops
    ) + " END"
    return (
        _per_file_version_audits(spark, root, list(ops), _STT_COLS)
        .select(
            F.col("version").cast("long").alias("version"),
            F.expr(op_case).alias("op"),
            "n_rows", "checksum",
            F.expr(mrows_case).alias("manifest_rows"),
            F.expr(mfold_case).alias("manifest_checksum"),
        )
        .orderBy("version")
    )


def _snapshot_time_travel_oracle() -> str:
    from fluvio_duck_spark.functions.checksum import checksum_sql

    base = (
        "SELECT event_id, event_type, user_id, "
        f"CAST(event_id % {_STT_PARTS} AS BIGINT) AS pt FROM events"
    )
    v2 = (
        f"{base} UNION ALL "
        f"SELECT event_id + {_STT_APPEND_SHIFT}, 'appended', user_id, "
        f"CAST(event_id % {_STT_PARTS} AS BIGINT) "
        f"FROM events WHERE event_id % 11 = 3"
    )
    # the feed names only ORIGINAL keys (event_id < shift) in partition
    # 1: %3==0 deleted, %3==1 patched; appended rows carry through
    v3 = (
        "SELECT event_id, CASE WHEN event_id < "
        f"{_STT_APPEND_SHIFT} AND pt = 1 AND event_id % 3 = 1 "
        "THEN 'patched' ELSE event_type END AS event_type, user_id, pt "
        f"FROM ({v2}) WHERE NOT (event_id < {_STT_APPEND_SHIFT} "
        "AND pt = 1 AND event_id % 3 = 0)"
    )
    audits = {1: base, 2: v2, 3: v3, 4: v3, 5: base}
    ops = {1: "create", 2: "append", 3: "merge", 4: "compact",
           5: "rollback"}
    branches = []
    for v, expr in audits.items():
        a = checksum_sql(f"({expr})", _STT_COLS, label=f"v{v}")
        branches.append(
            f"SELECT CAST({v} AS BIGINT) AS version, '{ops[v]}' AS op, "
            f"n_rows, checksum, n_rows AS manifest_rows, "
            f"checksum AS manifest_checksum FROM ({a})"
        )
    return "\nUNION ALL\n".join(branches)


def q_snapshot_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two committed versions (Delta CDF's
    ``table_changes``), MANIFEST-PRUNED (operators/snapshots.py::
    snapshot_changes): v1 create → v2 append → v3 COW merge touching
    ONLY partition 1, then the v1→v3 feed.  Because data files are
    immutable, partitions whose manifest file sets are identical
    between the versions are skipped on the driver before any read —
    here the diff scans partition 1's files plus the appended
    generation, never the other three partitions of either snapshot.
    The oracle computes the same feed as a full-outer diff of the two
    independently reconstructed states, so a hash match proves the
    pruned feed ≡ the unpruned one.  At 100 TB the CDC consumer's cost
    follows what the commits touched, not the table."""
    from fluvio_duck_spark.operators import snapshots as snap

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id",
        F.pmod(F.col("event_id"), F.lit(_STT_PARTS)).alias("pt"),
    )
    root = run_dir("snapshot_changes_feed", "root")
    snap.create_table(spark, root, ev, "pt", _STT_COLS)
    appended = ev.filter(F.col("event_id") % 11 == 3).select(
        (F.col("event_id") + _STT_APPEND_SHIFT).alias("event_id"),
        F.lit("appended").alias("event_type"),
        "user_id", "pt",
    )
    snap.append(spark, root, appended)
    feed = ev.filter(
        (F.col("pt") == 1) & (F.col("event_id") % 3 != 2)
    ).select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("_op"),
        F.lit("patched").alias("new_type"),
        "pt",
    )
    snap.merge_into(
        spark, root, feed, key="event_id",
        set_cols={"event_type": "new_type"},
    )
    changes = snap.snapshot_changes(
        spark, root, 1, 3, key="event_id", compare_cols=["event_type"]
    )
    return changes.select(
        "event_id", "change", "old_event_type", "new_event_type"
    )


def _snapshot_changes_oracle() -> str:
    v1 = (
        "SELECT event_id, event_type FROM events"
    )
    v3 = f"""
SELECT event_id,
       CASE WHEN event_id % {_STT_PARTS} = 1 AND event_id % 3 = 1
            THEN 'patched' ELSE event_type END AS event_type
FROM events
WHERE NOT (event_id % {_STT_PARTS} = 1 AND event_id % 3 = 0)
UNION ALL
SELECT event_id + {_STT_APPEND_SHIFT}, 'appended'
FROM events WHERE event_id % 11 = 3
"""
    return f"""
SELECT COALESCE(o.event_id, n.event_id) AS event_id,
       CASE WHEN o.event_id IS NULL THEN 'added'
            WHEN n.event_id IS NULL THEN 'removed'
            WHEN o.event_type IS DISTINCT FROM n.event_type
                 THEN 'changed' END AS change,
       o.event_type AS old_event_type,
       n.event_type AS new_event_type
FROM ({v1}) o FULL OUTER JOIN ({v3}) n ON o.event_id = n.event_id
WHERE (CASE WHEN o.event_id IS NULL THEN 'added'
            WHEN n.event_id IS NULL THEN 'removed'
            WHEN o.event_type IS DISTINCT FROM n.event_type
                 THEN 'changed' END) IS NOT NULL
"""


QUERIES.update({
    "snapshot_time_travel": QuerySpec(
        q_snapshot_time_travel, _snapshot_time_travel_oracle(),
        doc="manifest-versioned table: create/append/COW-merge/compact/"
            "rollback commits, then time-travel reads of ALL five "
            "versions after the last mutation — read-audit == "
            "manifest-metadata audit == the oracle's independent "
            "per-version reconstruction",
    ),
    "snapshot_changes_feed": QuerySpec(
        q_snapshot_changes_feed, _snapshot_changes_oracle(),
        doc="manifest-pruned change data feed (Delta CDF shape) between "
            "two versions: identical-file-set partitions skipped on the "
            "driver before any read; hash-equal to the oracle's "
            "full-outer diff of both reconstructed states",
    ),
})


#: Manifest-stats pruning probes: a base key (v1 point lookup) and its
#: appended twin (v2) — both exist at every SF (event_id is 0..N-1
#: sequential and 14 % 11 == 3 puts 14 in the append feed).
_SPR_BASE_KEY = 14
_SPR_APPEND_KEY = _STT_APPEND_SHIFT + _SPR_BASE_KEY


def q_snapshot_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats-pruned time-travel point lookup — the Iceberg/
    Delta design where per-file column stats live in the COMMIT
    METADATA, joining the round's two themes (snapshot versioning +
    sidecar-consulted reads): every commit of a table created with
    ``stats_col`` records each file's min/max and 126-bit bloom word
    pair (16 extra bytes per manifest entry), and
    ``operators/snapshots.py::read_as_of_pruned`` plans a point
    lookup's file list at ANY version from the manifest alone — zero
    table I/O before the pruned scan, on current or historical data
    alike.

    Fixture: v1 create (4 hash partitions, one file each) → v2 append
    (ids shifted +1e9, 4 more files).  Probe the base key at v1 and the
    appended key at v2: range stats prune across the disjoint id bands
    (the appended generation can never admit a base key and vice
    versa), the bloom prunes the point lookup WITHIN a band where
    min/max can't (every in-band file's range covers the probe).  The
    oracle replays both prunings in SQL over per-(partition, generation)
    groups — exactly the physical file grid — so the hash match proves
    files_planned == files_opened == the SQL plan AND that the pruned
    scan missed nothing (rows_matched / user_checksum computed over the
    FULL reconstruction).  At 100 TB: pruning any snapshot of a
    billion-file table is driver-side set algebra over a catalog-sized
    manifest; the scan cost is the admitted-file count."""
    from fluvio_duck_spark.operators import snapshots as snap

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id",
        F.pmod(F.col("event_id"), F.lit(_STT_PARTS)).alias("pt"),
    )
    root = run_dir("snapshot_pruned_read", "root")
    snap.create_table(
        spark, root, ev, "pt", _STT_COLS, stats_col="event_id"
    )
    appended = ev.filter(F.col("event_id") % 11 == 3).select(
        (F.col("event_id") + _STT_APPEND_SHIFT).alias("event_id"),
        F.lit("appended").alias("event_type"),
        "user_id", "pt",
    )
    snap.append(spark, root, appended)

    outs = []
    for v, probe in ((1, _SPR_BASE_KEY), (2, _SPR_APPEND_KEY)):
        pruned, planned, total = snap.read_as_of_pruned(
            spark, root, v, probe
        )
        hit = F.col("event_id") == probe
        outs.append(
            pruned.withColumn("__file", F.input_file_name()).agg(
                F.count_distinct("__file").cast("long")
                .alias("files_opened"),
                F.count(F.when(hit, 1)).cast("long").alias("rows_matched"),
                F.sum(F.when(hit, F.col("user_id"))).cast("long")
                .alias("user_checksum"),
            ).select(
                F.lit(v).cast("long").alias("version"),
                F.lit(total).cast("long").alias("n_files"),
                F.lit(planned).cast("long").alias("files_planned"),
                "files_opened", "rows_matched", "user_checksum",
            )
        )
    return outs[0].unionAll(outs[1])


def _bloom_bit_sql(h: int) -> str:
    """SQL test for bloom position ``h`` (compile-time constant) against
    the per-file word pair — the same word/shift split the manifest
    stats and ``operators/skipping.py`` use."""
    w = "w0" if h < 63 else "w1"
    return f"(({w} & (CAST(1 AS BIGINT) << {h % 63})) <> 0)"


def _snapshot_pruned_read_oracle() -> str:
    shift = _STT_APPEND_SHIFT
    p1, p2 = _SPR_BASE_KEY, _SPR_APPEND_KEY
    adm1 = (
        f"smin <= {p1} AND {p1} <= smax AND "
        f"{_bloom_bit_sql(p1 % 126)} AND "
        f"{_bloom_bit_sql((p1 // 126) % 126)}"
    )
    adm2 = (
        f"smin <= {p2} AND {p2} <= smax AND "
        f"{_bloom_bit_sql(p2 % 126)} AND "
        f"{_bloom_bit_sql((p2 // 126) % 126)}"
    )
    return f"""
WITH v1 AS (
  SELECT event_id, user_id, event_id % {_STT_PARTS} AS pt, 1 AS gen
  FROM events),
v2 AS (
  SELECT * FROM v1
  UNION ALL
  SELECT event_id + {shift}, user_id, event_id % {_STT_PARTS}, 2
  FROM events WHERE event_id % 11 = 3),
h AS (
  SELECT pt, gen, event_id, user_id,
         event_id % 126 AS h1, (event_id // 126) % 126 AS h2
  FROM v2),
pf AS (
  SELECT pt, gen, min(event_id) AS smin, max(event_id) AS smax,
         bit_or((CASE WHEN h1 // 63 = 0 THEN CAST(1 AS BIGINT) << (h1 % 63)
                      ELSE 0 END)
              | (CASE WHEN h2 // 63 = 0 THEN CAST(1 AS BIGINT) << (h2 % 63)
                      ELSE 0 END)) AS w0,
         bit_or((CASE WHEN h1 // 63 = 1 THEN CAST(1 AS BIGINT) << (h1 % 63)
                      ELSE 0 END)
              | (CASE WHEN h2 // 63 = 1 THEN CAST(1 AS BIGINT) << (h2 % 63)
                      ELSE 0 END)) AS w1
  FROM h GROUP BY pt, gen)
SELECT CAST(1 AS BIGINT) AS version,
       CAST((SELECT count(*) FROM pf WHERE gen = 1) AS BIGINT) AS n_files,
       CAST((SELECT count(*) FROM pf WHERE gen = 1 AND {adm1}) AS BIGINT)
         AS files_planned,
       CAST((SELECT count(*) FROM pf WHERE gen = 1 AND {adm1}) AS BIGINT)
         AS files_opened,
       CAST((SELECT count(*) FROM v1 WHERE event_id = {p1}) AS BIGINT)
         AS rows_matched,
       CAST((SELECT sum(user_id) FROM v1 WHERE event_id = {p1}) AS BIGINT)
         AS user_checksum
UNION ALL
SELECT CAST(2 AS BIGINT),
       CAST((SELECT count(*) FROM pf) AS BIGINT),
       CAST((SELECT count(*) FROM pf WHERE {adm2}) AS BIGINT),
       CAST((SELECT count(*) FROM pf WHERE {adm2}) AS BIGINT),
       CAST((SELECT count(*) FROM v2 WHERE event_id = {p2}) AS BIGINT),
       CAST((SELECT sum(user_id) FROM v2 WHERE event_id = {p2}) AS BIGINT)
"""


#: OPTIMIZE ZORDER clustering dimensions (pre-bucketed 8-bit ints —
#: engine-reproducible, no quantile sampling at plan time)
_SZO_BUCKETS = 256


def q_snapshot_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's ``OPTIMIZE ... ZORDER BY`` as a snapshot commit
    (``operators/snapshots.py::optimize_zorder``) — the last in-place
    maintenance op (Z-order clustering, ``operators/zorder.py``)
    unified under the manifest model: v1 create → v2 append (8 files
    across 4 partitions) → v3 OPTIMIZE, which compacts to one file per
    partition AND Morton-clusters rows within each rewritten file on
    (user bucket, id bucket), riding the rewrite's existing
    per-partition exchange — no extra shuffle, and the commit
    checksum-asserts content preservation before HEAD advances.

    The single output row proves four claims at once against the
    oracle's independent SQL reconstruction: the optimized HEAD's
    physical read-audit equals v2's expected content (clustering moved
    bytes, not data); v1's physical read-audit is untouched (time
    travel survives the rewrite); the file count collapsed 8 → 4; and
    ``sort_violations`` — adjacent-row Morton-key inversions measured
    per physical file from the actual scan — is 0, i.e. the clustering
    REALLY happened on disk (file/row-group min-max stats will prune
    multi-column range predicates on every later read).  At 100 TB:
    OPTIMIZE cost is the rewritten partitions; history stays readable;
    the manifest stays catalog-sized."""
    from fluvio_duck_spark.operators import snapshots as snap
    from fluvio_duck_spark.operators.layout import zorder_key as exact_key

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id",
        F.pmod(F.col("event_id"), F.lit(_STT_PARTS)).alias("pt"),
    )
    root = run_dir("snapshot_optimize_zorder", "root")
    snap.create_table(spark, root, ev, "pt", _STT_COLS)
    appended = ev.filter(F.col("event_id") % 11 == 3).select(
        (F.col("event_id") + _STT_APPEND_SHIFT).alias("event_id"),
        F.lit("appended").alias("event_type"),
        "user_id", "pt",
    )
    snap.append(spark, root, appended)
    files_before = len(snap.load_manifest(root, 2)["files"])
    dims = [
        F.pmod(F.col("user_id"), F.lit(_SZO_BUCKETS)),
        F.pmod(F.col("event_id"), F.lit(_SZO_BUCKETS)),
    ]
    snap.optimize_zorder(spark, root, dims)
    files_after = len(snap.load_manifest(root, 3)["files"])

    from fluvio_duck_spark.functions.checksum import fold_sum, row_checksum

    def read_audit(v: int, prefix: str) -> DataFrame:
        return snap.read_version_as_of(spark, root, v).agg(
            F.count("*").cast("long").alias(f"{prefix}_rows"),
            fold_sum(row_checksum(_STT_COLS)).alias(f"{prefix}_checksum"),
        )

    zk = exact_key(*dims)
    wf = W.partitionBy("__file").orderBy(F.monotonically_increasing_id())
    # head audit + sort-violation scan both read v3: one physical scan
    # serves both (count/fold are row-order-insensitive, so they ride
    # the violation window's per-file exchange unchanged)
    head_and_viol = (
        snap.read_version_as_of(spark, root, 3)
        .withColumn("__file", F.input_file_name())
        .withColumn("__zk", zk)
        .withColumn("__prev", F.lag("__zk").over(wf))
        .agg(
            F.count("*").cast("long").alias("head_rows"),
            fold_sum(row_checksum(_STT_COLS)).alias("head_checksum"),
            F.count(F.when(F.col("__zk") < F.col("__prev"), 1))
            .cast("long").alias("sort_violations"),
        )
    )
    return (
        head_and_viol
        .crossJoin(F.broadcast(read_audit(1, "v1")))
        .select(
            F.lit(files_before).cast("long").alias("files_before"),
            F.lit(files_after).cast("long").alias("files_after"),
            "head_rows", "head_checksum",
            "v1_rows", "v1_checksum",
            "sort_violations",
        )
    )


def _snapshot_optimize_zorder_oracle() -> str:
    from fluvio_duck_spark.functions.checksum import checksum_sql

    base = (
        "SELECT event_id, event_type, user_id, "
        f"CAST(event_id % {_STT_PARTS} AS BIGINT) AS pt FROM events"
    )
    v2 = (
        f"{base} UNION ALL "
        f"SELECT event_id + {_STT_APPEND_SHIFT}, 'appended', user_id, "
        f"CAST(event_id % {_STT_PARTS} AS BIGINT) "
        f"FROM events WHERE event_id % 11 = 3"
    )
    a_head = checksum_sql(f"({v2})", _STT_COLS, label="head")
    a_v1 = checksum_sql(f"({base})", _STT_COLS, label="v1")
    return f"""
SELECT CAST({2 * _STT_PARTS} AS BIGINT) AS files_before,
       CAST({_STT_PARTS} AS BIGINT) AS files_after,
       (SELECT n_rows FROM ({a_head})) AS head_rows,
       (SELECT checksum FROM ({a_head})) AS head_checksum,
       (SELECT n_rows FROM ({a_v1})) AS v1_rows,
       (SELECT checksum FROM ({a_v1})) AS v1_checksum,
       CAST(0 AS BIGINT) AS sort_violations
"""


QUERIES.update({
    "snapshot_pruned_read": QuerySpec(
        q_snapshot_pruned_read, _snapshot_pruned_read_oracle(),
        doc="manifest-stats-pruned time-travel point lookup: per-file "
            "min/max + bloom word pair recorded in every commit's "
            "manifest, file list planned driver-side at any version "
            "with zero table I/O — files_planned == files_opened == "
            "the oracle's SQL replay, result == full reconstruction",
    ),
    "snapshot_optimize_zorder": QuerySpec(
        q_snapshot_optimize_zorder, _snapshot_optimize_zorder_oracle(),
        doc="OPTIMIZE ZORDER as a snapshot commit: compact 8→4 files + "
            "Morton-cluster rows within each file (checksum-asserted "
            "content preservation, prior versions byte-untouched); "
            "sort_violations measured from the physical scan == 0",
    ),
})


#: Schema-evolution fixture geometry: scored appends take ids shifted
#: past every base id; the cross-boundary merge updates partition 2's
#: original rows only.
_SSE_SCORE_MOD = 97
_SSE_SCORE_MUL = 3
_SSE_MERGE_MOD = 1000


def q_snapshot_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Schema evolution under snapshot versioning (VERDICT r12 #5,
    operators/snapshots.py::alter_add_column): Delta's ``ALTER TABLE
    ADD COLUMN`` as a pure METADATA commit —

      v1 create (narrow schema: event_id/event_type/user_id/pt) →
      v2 alter add ``score bigint`` (no data moves: the manifest
      re-lists v1's files verbatim and declares the widened schema) →
      v3 append populating the new column → v4 partition-scoped COW
      merge writing ``score`` into OLD-generation rows of partition 2

    — then reads every version back AFTER all mutations.  Each version
    reads with its own declared schema (``n_cols`` is measured from the
    returned frame): pre-alter time travel keeps the narrow schema;
    post-alter reads NULL-backfill the column for old generations at
    scan time (the parquet reader's by-name resolution — no rewrite,
    no extra pass).  ``score_rows``/``score_sum`` track the column's
    population across the boundary and the 4-column checksum stays
    constant through v3→v4 (the merge touched only the new column).
    The oracle reconstructs all four states independently in SQL.

    At 100 TB this is the difference between evolving a table with a
    metadata write and rewriting 100 TB: the alter commit costs one
    catalog-sized JSON, every historical snapshot stays readable with
    its own schema, and the backfill rides each later scan for free."""
    from fluvio_duck_spark.operators import snapshots as snap

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id",
        F.pmod(F.col("event_id"), F.lit(_STT_PARTS)).alias("pt"),
    )
    root = run_dir("snapshot_schema_evolution", "root")

    snap.create_table(spark, root, ev, "pt", _STT_COLS)          # v1
    snap.alter_add_column(root, "score", "bigint")               # v2
    scored = ev.filter(F.col("event_id") % 7 == 2).select(
        (F.col("event_id") + _STT_APPEND_SHIFT).alias("event_id"),
        F.lit("scored").alias("event_type"),
        "user_id", "pt",
        (F.pmod(F.col("event_id"), F.lit(_SSE_SCORE_MOD))
         * _SSE_SCORE_MUL).cast("long").alias("score"),
    )
    snap.append(spark, root, scored)                             # v3
    feed = ev.filter(
        (F.col("pt") == 2) & (F.col("event_id") % 5 == 1)
    ).select(
        "event_id", F.lit("U").alias("_op"),
        F.pmod(F.col("event_id") * 7, F.lit(_SSE_MERGE_MOD))
        .cast("long").alias("ns"),
        "pt",
    )
    snap.merge_into(spark, root, feed, key="event_id",           # v4
                    set_cols={"score": "ns"})

    ops = {1: "create", 2: "alter", 3: "append", 4: "merge"}
    # One scan of the distinct live files serves all four version
    # audits (see _per_file_version_audits); score_rows/score_sum
    # combine per version as sums of per-file sums — pre-score
    # generations read score as NULL under the widened schema, so their
    # per-file contributions are exactly the 0 the narrow-schema read
    # reported.  n_cols is each version's DECLARED schema width — the
    # metadata statement "pre-alter time travel keeps the narrow
    # schema" — read from the manifest as before, just as a literal.
    n_cols = {
        v: len(snap.manifest_schema(root, v).fields
               if snap.manifest_schema(root, v) is not None
               else snap.read_version_as_of(spark, root, v).columns)
        for v in ops
    }
    op_case = "CASE version " + " ".join(
        f"WHEN {v} THEN '{op}'" for v, op in ops.items()
    ) + " END"
    ncols_case = "CASE version " + " ".join(
        f"WHEN {v} THEN CAST({n_cols[v]} AS BIGINT)" for v in ops
    ) + " END"
    return (
        _per_file_version_audits(
            spark, root, list(ops), _STT_COLS,
            file_aggs={
                "score_rows": F.count("score").cast("long"),
                "score_sum": F.coalesce(F.sum("score"), F.lit(0))
                .cast("long"),
            },
        )
        .select(
            F.col("version").cast("long").alias("version"),
            F.expr(op_case).alias("op"),
            F.expr(ncols_case).alias("n_cols"),
            "n_rows", "score_rows", "score_sum", "checksum",
        )
        .orderBy("version")
    )


def _snapshot_schema_evolution_oracle() -> str:
    from fluvio_duck_spark.functions.checksum import checksum_sql

    base = (
        "SELECT event_id, event_type, user_id, "
        f"CAST(event_id % {_STT_PARTS} AS BIGINT) AS pt FROM events"
    )
    scored = (
        f"SELECT event_id + {_STT_APPEND_SHIFT} AS event_id, "
        "'scored' AS event_type, user_id, "
        f"CAST(event_id % {_STT_PARTS} AS BIGINT) AS pt, "
        f"CAST((event_id % {_SSE_SCORE_MOD}) * {_SSE_SCORE_MUL} "
        "AS BIGINT) AS score "
        "FROM events WHERE event_id % 7 = 2"
    )
    v3 = (
        f"SELECT *, CAST(NULL AS BIGINT) AS score FROM ({base}) "
        f"UNION ALL {scored}"
    )
    # v4: merge writes score into ORIGINAL rows of partition 2 with
    # event_id % 5 = 1 (appended ids sit past the shift, never matched)
    v4 = (
        "SELECT event_id, event_type, user_id, pt, "
        f"CASE WHEN event_id < {_STT_APPEND_SHIFT} AND pt = 2 "
        f"AND event_id % 5 = 1 "
        f"THEN CAST((event_id * 7) % {_SSE_MERGE_MOD} AS BIGINT) "
        f"ELSE score END AS score FROM ({v3})"
    )
    states = {1: (base, 4, False), 2: (base, 5, False),
              3: (v3, 5, True), 4: (v4, 5, True)}
    ops = {1: "create", 2: "alter", 3: "append", 4: "merge"}
    branches = []
    for v, (expr, n_cols, has_score) in states.items():
        a = checksum_sql(f"({expr})", _STT_COLS, label=f"v{v}")
        score_rows = (
            f"(SELECT COUNT(score) FROM ({expr}))" if has_score
            else "CAST(0 AS BIGINT)"
        )
        score_sum = (
            f"(SELECT COALESCE(SUM(score), 0) FROM ({expr}))"
            if has_score else "CAST(0 AS BIGINT)"
        )
        branches.append(
            f"SELECT CAST({v} AS BIGINT) AS version, '{ops[v]}' AS op, "
            f"CAST({n_cols} AS BIGINT) AS n_cols, n_rows, "
            f"CAST({score_rows} AS BIGINT) AS score_rows, "
            f"CAST({score_sum} AS BIGINT) AS score_sum, checksum "
            f"FROM ({a})"
        )
    return "\nUNION ALL\n".join(branches)


QUERIES.update({
    "snapshot_schema_evolution": QuerySpec(
        q_snapshot_schema_evolution, _snapshot_schema_evolution_oracle(),
        doc="ALTER ADD COLUMN as a metadata-only snapshot commit: every "
            "version reads with its own declared schema, old "
            "generations NULL-backfill the new column at scan time, a "
            "post-alter COW merge populates it in old rows — all four "
            "states hash-matched against independent SQL reconstruction",
    ),
})


#: Z-order refresh geometry: 8-bit (hour, user) buckets → 16-bit key;
#: shift 12 → ≤16 z-files per table partition.  Day 20 splits base from
#: the late-arriving delta (which touches ONE event_type partition).
_ZR_MASK = 255
_ZR_FILE_SHIFT = 12
_ZR_SPLIT_DAY = 20
_ZR_DELTA_TYPE = "click"


def q_layout_zorder_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Z-order maintenance as a driver row (VERDICT r10 #7):
    a Z-ordered events lake partitioned by event_type takes a
    late-arriving append touching ONE partition; the refresh re-clusters
    only that partition via dynamic partition overwrite
    (operators/zorder.py::refresh_zordered_partitioned).

    The audit is measured from the REFRESHED physical lake: per
    (event_type, z-file) the row count, distinct physical files
    (must be 1 — file ids are value-derived ``zkey >> shift``, so each
    leaf is exactly one file), dimension envelopes, and an id checksum.
    The oracle computes the audit a FULL rewrite of base+delta would
    produce, purely in SQL — a hash match proves refresh ≡ full
    rewrite, file boundary for file boundary, while only the dirty
    partition's bytes moved (the byte-stability half is pinned in
    test_layout.py with mtime snapshots).
    """
    from fluvio_duck_spark.operators.zorder import (
        refresh_zordered_partitioned,
        write_zordered_exact_partitioned,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.pmod(F.expr("unix_timestamp(ts) div 3600"), F.lit(_ZR_MASK + 1))
        .alias("hb"),
        F.pmod(F.col("user_id"), F.lit(_ZR_MASK + 1)).alias("ub"),
        F.dayofmonth("ts").alias("dom"),
    )
    base = ev.filter(F.col("dom") <= _ZR_SPLIT_DAY).drop("dom")
    delta = ev.filter(
        (F.col("dom") > _ZR_SPLIT_DAY)
        & (F.col("event_type") == _ZR_DELTA_TYPE)
    ).drop("dom")
    lake = run_dir("layout_zorder_refresh", "lake")
    write_zordered_exact_partitioned(
        base, lake, "event_type", ["hb", "ub"], file_shift=_ZR_FILE_SHIFT
    )
    refresh_zordered_partitioned(
        spark, lake, delta, "event_type", ["hb", "ub"],
        file_shift=_ZR_FILE_SHIFT,
    )
    back = spark.read.parquet(lake).withColumn("__f", F.input_file_name())
    return back.groupBy(
        "event_type", F.col("__zfile").cast("long").alias("zfile")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count_distinct("__f").cast("long").alias("n_out_files"),
        F.min("hb").cast("long").alias("min_hb"),
        F.max("hb").cast("long").alias("max_hb"),
        F.min("ub").cast("long").alias("min_ub"),
        F.max("ub").cast("long").alias("max_ub"),
        F.sum("event_id").cast("long").alias("id_checksum"),
    )


def _zorder_refresh_oracle() -> str:
    from fluvio_duck_spark.operators.layout import zorder_sql

    z = zorder_sql("hb", "ub")
    m = _ZR_MASK + 1
    return f"""
WITH ev AS (
  SELECT event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 % {m} AS hb,
         user_id % {m} AS ub,
         day(ts) AS dom
  FROM events),
combined AS (
  SELECT event_type, event_id, hb, ub FROM ev
  WHERE dom <= {_ZR_SPLIT_DAY}
     OR event_type = '{_ZR_DELTA_TYPE}')
SELECT event_type,
       {z} >> {_ZR_FILE_SHIFT} AS zfile,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_out_files,
       CAST(min(hb) AS BIGINT) AS min_hb,
       CAST(max(hb) AS BIGINT) AS max_hb,
       CAST(min(ub) AS BIGINT) AS min_ub,
       CAST(max(ub) AS BIGINT) AS max_ub,
       CAST(sum(event_id) AS BIGINT) AS id_checksum
FROM combined GROUP BY 1, 2
"""


ORACLE_COMPACTION_APPLY = f"""
WITH files AS (
  SELECT event_type, CAST(ts AS DATE) AS file_date,
         CAST(count(*) AS BIGINT) AS rows
  FROM events GROUP BY 1, 2),
b AS (
  SELECT event_type, file_date, rows,
         CAST(floor((sum(least(rows, {_COMPACT_APPLY_TARGET_ROWS})) OVER (
                 PARTITION BY event_type
                 ORDER BY rows DESC, file_date
                 ROWS UNBOUNDED PRECEDING)
                 - least(rows, {_COMPACT_APPLY_TARGET_ROWS}))
               / {_COMPACT_APPLY_TARGET_ROWS}) AS BIGINT) AS bin
  FROM files)
SELECT e.event_type, b.bin,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_out_files,
       CAST(count(DISTINCT b.file_date) AS BIGINT) AS n_src_files,
       CAST(sum(e.event_id) AS BIGINT) AS id_checksum
FROM events e
JOIN b ON e.event_type = b.event_type AND CAST(e.ts AS DATE) = b.file_date
GROUP BY 1, 2
"""


QUERIES.update({
    "layout_zorder_skipping": QuerySpec(
        q_layout_zorder_skipping, _zorder_skipping_oracle(),
        doc="Z-order vs linear layout data-skipping audit: per-file min/max "
            "envelopes + files hit by point probes on both dimensions "
            "(bit-interleave replayed shift-for-shift in the oracle)",
    ),
    "layout_zorder3_skipping": QuerySpec(
        q_layout_zorder3_skipping, _zorder3_skipping_oracle(),
        doc="three-dimensional Z-order vs linear skipping audit (time x "
            "user x value-band): stride-3 Morton interleave from "
            "morton_geometry(3), per-file envelopes + point probes on "
            "all three dimensions, oracle replays the chain exactly",
    ),
    "layout_compaction_plan": QuerySpec(
        q_layout_compaction_plan, ORACLE_COMPACTION_PLAN,
        doc="next-fit-decreasing compaction bin packing as a per-partition "
            "window prefix sum over the file listing (metadata-sized plan)",
    ),
    "layout_compaction_apply": QuerySpec(
        q_layout_compaction_apply, ORACLE_COMPACTION_APPLY,
        doc="plan->execute compaction round trip: fragmented 150-file "
            "events lake physically rewritten one-file-per-bin via the "
            "broadcast file->bin mapping; audit measured from the real "
            "rewrite must equal the pure-SQL plan (n_out_files=1 literal)",
    ),
    "layout_zorder_refresh": QuerySpec(
        q_layout_zorder_refresh, _zorder_refresh_oracle(),
        doc="incremental Z-order maintenance: late-arriving delta folded "
            "into ONE dirty partition via dynamic partition overwrite; "
            "audit of the refreshed physical lake must equal the full "
            "rewrite the oracle computes (value-derived z-file ids)",
    ),
    "layout_bloom_skipping": QuerySpec(
        q_layout_bloom_skipping, ORACLE_BLOOM_SKIPPING,
        doc="point-lookup skipping audit on a hash-distributed key: "
            "126-bit k=2 per-file blooms via bit_or (16 bytes "
            "state/file) vs useless min/max envelopes — bit-exact in "
            "both engines, reports the deterministic FP rate",
    ),
    "text_index_skipping": QuerySpec(
        q_text_index_skipping, ORACLE_TEXT_INDEX_SKIPPING,
        doc="inverted-index skipping audit for text predicates: 63-slot "
            "sharded posting bitmap per token (8 bytes regardless of "
            "file count), probes across the selectivity range, exact "
            "df/file counts vs bitmap popcount",
    ),
    "layout_bloom_read": QuerySpec(
        q_layout_bloom_read, ORACLE_BLOOM_READ,
        doc="sidecar-consulted point-lookup READ (audit->READ closure): "
            "per-file bloom sidecar written with the lake, probe's file "
            "list planned on the driver from the sidecar, files_opened "
            "measured from the pruned scan itself == the SQL bloom plan, "
            "result == full scan (no false negatives)",
    ),
    "text_index_read": QuerySpec(
        q_text_index_read, ORACLE_TEXT_INDEX_READ,
        doc="posting-bitmap-consulted text READ (audit->READ closure): "
            "token->slot bitmap sidecar prunes the scan to slot-matching "
            "files, files_opened == the SQL slot plan, exact membership "
            "predicate makes pruned result == full scan",
    ),
})


# ---------------------------------------------------------------------------
# eval_bradley_terry — arena-style pairwise model ranking (MM iterations)
# ---------------------------------------------------------------------------

_BT_ITERS = 3
#: Ratings are floored here so a pair of never-winning models cannot
#: drive a 0/0 in the MM denominator; with this floor every rounded MM
#: term stays ≤ 1/(2·eps) = 5e5, inside r12's ~9.2e6 domain bound.
_BT_EPS = 1e-06


def _bt_r12(col):
    from fluvio_duck_spark.functions.exact import r12

    return r12(col)


def _bt_r12f(x: float) -> float:
    """``functions/exact.py::r12`` in driver IEEE double ops: floor
    yields an exact integer (Spark: LongType; exact long→double below
    2^53), the divide is one IEEE op — bit-identical to the engine."""
    import math

    return math.floor(x * 1e12 + 0.5) / 1e12


_BT_Q12 = __import__("decimal").Decimal("1e-12")


def _bt_dec12(t: float):
    """Spark's ``CAST(double AS DECIMAL(28,12))`` on the driver:
    shortest round-trip decimal repr (Java ``Double.toString`` ==
    Python ``repr``), then HALF_UP quantize to 12 dp — the exact
    semantics ``Decimal.set(double)`` implements.

    Bit-parity caveat (ADVICE r13): pre-JDK-19 JVMs may emit a
    non-shortest (though round-tripping) ``Double.toString``
    (JDK-4511638), which could in principle flip a HALF_UP tie at the
    12th decimal.  Safe here because the inputs are ``_bt_r12f``
    outputs — already rounded to 12 dp, so they never sit near a 12-dp
    half-way point and extra trailing digits cannot change the
    quantize."""
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(repr(t)).quantize(_BT_Q12, rounding=ROUND_HALF_UP)


def q_eval_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry strength ranking from pairwise comparisons — the
    arena/leaderboard fit an LLM-eval pipeline runs over millions of
    model-vs-model judgments (Elo's batch cousin).  Comparisons are
    derived deterministically from events: per (user, event_type) an
    exact integer engagement score (micro-summed values, order-free),
    then within each user every type pair yields one game won by the
    higher score (ties to the lexicographically first type).

    The MM fit (Hunter 2004): p_i ← W_i / Σ_j n_ij/(p_i+p_j), unrolled
    ``_BT_ITERS`` rounds with 12-dp fixed-point rounding and DECIMAL
    term sums — the pagerank trick, so an ITERATIVE fit gets an exact
    hash-compared oracle.

    Scale shape: one user-keyed shuffle builds per-user scores; the
    within-user pair join fans out C(types,2) ≤ 15 rows per user; one
    aggregation collapses to the |models|² pair table (bounded: dozens
    of rows), collected as model-sized driver state — every MM round is
    then exact driver arithmetic over that TINY table, never
    re-touching the corpus.  At 100 TB of judgments only the first two
    steps see data."""
    ev = load(spark, sf_dir, "events")
    scores = ev.groupBy("user_id", "event_type").agg(
        F.sum(
            F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 1e6 + F.lit(0.5))
            .cast("long")
        ).alias("s")
    )
    a, b = scores.alias("a"), scores.alias("b")
    games = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.event_type") < F.col("b.event_type")))
        .select(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
            (F.col("a.s") >= F.col("b.s")).cast("long").alias("wa"),
        )
    )
    pairs = games.groupBy("ta", "tb").agg(
        F.sum("wa").alias("wa"),
        (F.count("*") - F.sum("wa")).alias("wb"),
        F.count("*").alias("n"),
    )
    # |models|^2-bounded driver state (dozens of rows at ANY corpus
    # scale — only scores→games→pairs touches data): collect it and run
    # the MM fixpoint as driver arithmetic, mirroring the engine
    # semantics op for op so the DuckDB oracle hash is unchanged.  The
    # in-engine form paid two eager 1-row-scale checkpoints plus three
    # rounds of broadcast joins over dozen-row tables — pure fixed
    # overhead (the bpe_fit / kmeans-codebook precedent).
    from decimal import Decimal

    rows = pairs.collect()
    r12f, dec12 = _bt_r12f, _bt_dec12

    # symmetric edge list: (i, j, wins_i_over_j, n_ij) — exact ints
    edges = [(r.ta, r.tb, r.wa, r.n) for r in rows] + [
        (r.tb, r.ta, r.wb, r.n) for r in rows
    ]
    wins: dict = {}
    games_n: dict = {}
    for i, _j, w, n in edges:
        wins[i] = wins.get(i, 0) + w
        games_n[i] = games_n.get(i, 0) + n
    # The MM fixpoint is invariant to scaling every win/game count by a
    # constant, so normalize by the total game mass: all rounded MM
    # quantities then live in O(1) (r12's domain is ~9.2e6 — raw counts
    # at judgment scale would saturate Spark's floor-to-long where
    # DuckDB's floor stays DOUBLE, silently breaking engine parity).
    g = float(sum(n for _i, _j, _w, n in edges))
    nn = {(i, j): r12f(n / g) for i, j, _w, n in edges}
    wn = {i: r12f(w / g) for i, w in wins.items()}
    p = {i: 1.0 for i in games_n}
    for _ in range(_BT_ITERS):
        d: dict = {}
        for (i, j), nnij in nn.items():
            t = r12f(nnij / (p[i] + p[j]))
            d[i] = d.get(i, Decimal(0)) + dec12(t)
            # ^ exact decimal accumulation — order-independent, like
            # the engine's SUM(DECIMAL(28,12))
        p = {
            i: (max(r12f(wn[i] / float(d[i])), _BT_EPS) if d[i] else _BT_EPS)
            for i in p
        }  # float(Decimal) == Spark's decimal→double: correctly rounded.
        # d[i] == 0 (every nn term for a model floors to 0 — possible at
        # extreme judgment scale where n/g < 5e-13) mirrors the engine
        # form's NULL divide-by-zero → GREATEST(..., _BT_EPS) fallback
        # instead of raising ZeroDivisionError (ADVICE r13).
    return spark.createDataFrame(
        [(i, wins[i], games_n[i], p[i]) for i in sorted(p)],
        "event_type STRING, wins BIGINT, games BIGINT, bt_strength DOUBLE",
    )


def _bt_oracle(iters: int = _BT_ITERS) -> str:
    head = """
WITH scores AS (
  SELECT user_id, event_type,
         SUM(CAST(floor(COALESCE(value, 0.0) * 1e6 + 0.5) AS BIGINT)) AS s
  FROM events GROUP BY 1, 2),
games AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         CAST(a.s >= b.s AS BIGINT) AS wa
  FROM scores a JOIN scores b
    ON a.user_id = b.user_id AND a.event_type < b.event_type),
pairs AS (
  SELECT ta, tb, SUM(wa) AS wa, COUNT(*) - SUM(wa) AS wb, COUNT(*) AS n
  FROM games GROUP BY 1, 2),
edges AS (
  SELECT ta AS i, tb AS j, wa AS w, n FROM pairs
  UNION ALL
  SELECT tb, ta, wb, n FROM pairs),
totals AS (
  SELECT i, SUM(w) AS wins, SUM(n) AS games FROM edges GROUP BY i),
g AS (SELECT CAST(SUM(n) AS DOUBLE) AS g FROM edges),
nedges AS (
  SELECT i, j, floor(n / g.g * 1e12 + 0.5) / 1e12 AS nn FROM edges, g),
ntotals AS (
  SELECT i, floor(wins / g.g * 1e12 + 0.5) / 1e12 AS wn FROM totals, g),
r0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS p FROM totals)"""
    its = []
    for k in range(1, iters + 1):
        prev = f"r{k - 1}"
        its.append(f""", d{k} AS (
  SELECT e.i,
         CAST(SUM(CAST(floor(e.nn / (ri.p + rj.p) * 1e12 + 0.5) / 1e12
                       AS DECIMAL(28,12))) AS DOUBLE) AS d
  FROM nedges e JOIN {prev} ri ON e.i = ri.i JOIN {prev} rj ON e.j = rj.i
  GROUP BY e.i
), r{k} AS (
  SELECT t.i,
         GREATEST(floor(t.wn / d.d * 1e12 + 0.5) / 1e12, {_BT_EPS!r}) AS p
  FROM ntotals t JOIN d{k} d ON t.i = d.i
)""")
    return head + "".join(its) + f"""
SELECT t.i AS event_type, CAST(t.wins AS BIGINT) AS wins,
       CAST(t.games AS BIGINT) AS games, r.p AS bt_strength
FROM totals t JOIN r{iters} r ON t.i = r.i"""


QUERIES.update({
    "eval_bradley_terry": QuerySpec(
        q_eval_bradley_terry, _bt_oracle(),
        doc="Bradley-Terry arena ranking: MM iterations on the "
            "models^2-bounded pair table (corpus touched once), "
            "SQL-unrolled exact oracle — the pagerank trick for an "
            "iterative fit",
    ),
})


# ---------------------------------------------------------------------------
# eval_bootstrap_ci — Poisson-bootstrap confidence interval, deterministic
# ---------------------------------------------------------------------------

_BOOT_B = 32          # replicates
_BOOT_SEED = 23
#: Poisson(1) CDF thresholds (exact doubles, shared with the oracle):
#: weight k when u falls in the k-th band — the inverse-CDF draw.
_POIS_CDF = (0.36787944117144233, 0.7357588823428847,
             0.9196986029286058, 0.9810118431238463)


def q_eval_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for a corpus-level metric (mean
    order value) via the POISSON bootstrap — the resampling scheme that
    scales: classic bootstrap materializes B index-resamples of the
    corpus (impossible at 100 TB); Poisson(1) per-row replicate weights
    are independent of n, so all B replicates ride ONE pass as a
    bounded ×B fan-out with map-side partial aggregation.

    Deterministic end to end: the per-(row, replicate) uniform is the
    sampling family's integer LCG keyed by (o_orderkey, replicate), the
    weight is its inverse-CDF Poisson band, replicate means accumulate
    in exact integer cents, and the CI bounds are ORDER STATISTICS of
    the B=32 replicate means (2nd and 31st — the ~93% interval),
    selected from a sorted array rather than interpolated, so both
    engines pick identical values.  Output: one row (n, mean_value,
    ci_lo, ci_hi, n_eff_min) — the leaderboard-significance primitive
    an eval pipeline runs over every metric."""
    orders = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    r = F.col("r").cast("long")
    # the key is pre-reduced mod 1000003 BEFORE the multiply (unlike
    # sampling.uniform_key, whose raw (id+1)*multiplier products overflow
    # int64 past id ~1.15e9 with this replicate-widened multiplier range):
    # (key%M + 1) ≤ 1e6 and the largest multiplier ≈ 8e9, so every
    # product stays < 8e15 < 2^63 at ANY key magnitude, in both engines
    u = (
        F.pmod(
            (F.pmod(F.col("o_orderkey"), F.lit(1000003)) + 1)
            * (F.lit(2654435761) + (F.lit(_BOOT_SEED) + r) * F.lit(98765431).cast("long")),
            F.lit(1000003),
        ).cast("double")
        / F.lit(1000003.0)
    )
    w = (
        F.when(u < _POIS_CDF[0], 0).when(u < _POIS_CDF[1], 1)
        .when(u < _POIS_CDF[2], 2).when(u < _POIS_CDF[3], 3).otherwise(4)
        .cast("long")
    )
    reps = (
        orders.select(cents.alias("c"), F.col("o_orderkey"))
        .select("c", "o_orderkey",
                F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("r"))
        .select("c", "r", w.alias("w"))
        .groupBy("r")
        .agg(
            F.sum(F.col("w") * F.col("c")).alias("wc"),
            F.sum("w").alias("n_eff"),
        )
        .select(
            # n_eff = 0 is possible only for a degenerate tiny corpus;
            # guard the division so ANSI mode cannot raise (both engines
            # emit NULL for that replicate instead)
            F.when(
                F.col("n_eff") > 0,
                F.col("wc").cast("double") / (F.col("n_eff") * 100),
            ).alias("m"),
            "n_eff",
        )
    )
    # B rows -> ONE, via GROUP-BY-less aggregates on both sides so even
    # an empty input yields exactly one (NULL-filled) row — matching the
    # oracle's scalar-aggregate shape row-for-row on any table contents.
    # collect_list SKIPS NULL means (n_eff = 0 replicates); the oracle's
    # list() carries a matching FILTER so ms[i] indexes the same order
    # statistic in both engines even on degenerate tiny corpora.
    stats = reps.agg(
        F.sort_array(F.collect_list("m")).alias("ms"),
        F.min("n_eff").alias("n_eff_min"),
    )
    base = load(spark, sf_dir, "orders").agg(
        F.count("*").alias("n"),
        F.when(
            F.count("*") > 0,
            F.sum(cents).cast("double") / (F.count("*") * 100),
        ).alias("mean_value"),
    )
    return base.crossJoin(F.broadcast(stats)).select(
        "n", "mean_value",
        F.try_element_at("ms", F.lit(2)).alias("ci_lo"),
        F.try_element_at("ms", F.lit(_BOOT_B - 1)).alias("ci_hi"),
        "n_eff_min",
    )


ORACLE_BOOTSTRAP_CI = f"""
WITH reps AS (
  SELECT r,
         SUM(w * c) AS wc, SUM(w) AS n_eff
  FROM (
    SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c, t.r,
           CASE WHEN u < {_POIS_CDF[0]!r} THEN 0
                WHEN u < {_POIS_CDF[1]!r} THEN 1
                WHEN u < {_POIS_CDF[2]!r} THEN 2
                WHEN u < {_POIS_CDF[3]!r} THEN 3
                ELSE 4 END AS w
    FROM (
      SELECT o_orderkey, o_totalprice, r,
             CAST(((o_orderkey % 1000003 + 1)
                   * (2654435761 + ({_BOOT_SEED} + r) * 98765431))
                  % 1000003 AS DOUBLE) / 1000003.0 AS u
      FROM orders, unnest(range(0, {_BOOT_B})) AS t(r)) t) t
  GROUP BY r),
base AS (
  SELECT COUNT(*) AS n,
         CASE WHEN COUNT(*) > 0 THEN
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 100) END AS mean_value
  FROM orders),
ms AS (
  SELECT list_sort(list(CAST(wc AS DOUBLE) / (n_eff * 100))
                   FILTER (WHERE n_eff > 0)) AS ms,
         MIN(n_eff) AS n_eff_min
  FROM reps)
SELECT b.n, b.mean_value, ms.ms[2] AS ci_lo, ms.ms[{_BOOT_B - 1}] AS ci_hi,
       CAST(ms.n_eff_min AS BIGINT) AS n_eff_min
FROM base b, ms
"""


_PERM_B = 64          # sign-flip replicates (p resolution 1/65)
_PERM_SEED = 41


def q_eval_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign-flip permutation test — "is quality classifier A
    actually better than B on the same corpus, or is the gap noise?" —
    the leaderboard-significance primitive for PAIRED per-example
    metrics (the bootstrap CI above handles the unpaired corpus-metric
    case).  Under H0 the per-document difference d_i = a_i − b_i is
    sign-symmetric, so each replicate flips every d_i's sign by a fair
    deterministic coin and the p-value is the fraction of replicate
    statistics at least as extreme as the observed one.

    Scale shape, same scheme as the Poisson bootstrap: sign flips are
    independent of n, so all B replicates ride ONE corpus pass as a
    bounded ×(B+1) fan-out (replicate 0 is the unflipped observation)
    with map-side partial aggregation — no index materialization, no
    per-replicate scan.  Everything is exact integer arithmetic: scores
    in ppm, the per-(doc, replicate) coin is the bootstrap's
    overflow-proof LCG, sums are BIGINT (headroom to ~9e12 ppm-docs;
    switch the fold to DECIMAL beyond), and the p-value is the exact
    dyadic (1 + #{|T_r| ≥ |T_obs|}) / (B + 1) — both engines reproduce
    it bit-for-bit.  Scores: A = whitespace-token density, B =
    lowercase-alpha density (two cheap real quality signals over
    ``documents``).  Output: one row (n_docs, mean_diff_ppm, t_obs,
    p_value, b)."""
    docs = load(spark, sf_dir, "documents")
    # the ppm multiply must be 64-bit BEFORE it happens: a 32-bit
    # 1000000 * size(...) wraps silently (non-ANSI) at >=2148 tokens,
    # while the oracle computes in double — cast to long first (ADVICE r11)
    a = F.floor(
        F.lit(1000000).cast("long")
        * F.size(F.split(F.col("text"), " ")).cast("long")
        / F.length("text")
    ).cast("long")
    b = F.floor(
        F.lit(1000000).cast("long")
        * F.length(F.regexp_replace(F.col("text"), "[^a-z ]", "")).cast("long")
        / F.length("text")
    ).cast("long")
    base = docs.select(F.col("doc_id"), (a - b).alias("d"))
    r = F.col("r").cast("long")
    u = F.pmod(
        (F.pmod(F.col("doc_id"), F.lit(1000003)) + 1)
        * (F.lit(2654435761)
           + (F.lit(_PERM_SEED) + r) * F.lit(98765431).cast("long")),
        F.lit(1000003),
    )
    sign = F.when(F.col("r") == 0, F.lit(1)).otherwise(
        F.when(u * 2 < 1000003, F.lit(-1)).otherwise(F.lit(1))
    ).cast("long")
    reps = (
        base.select(
            "doc_id", "d",
            F.explode(F.sequence(F.lit(0), F.lit(_PERM_B))).alias("r"),
        )
        .select("r", (sign * F.col("d")).alias("sd"))
        .groupBy("r")
        .agg(F.sum("sd").alias("t"), F.count("*").alias("n"))
    )
    # scalar-aggregate shapes on both sides: exactly one output row even
    # on an empty corpus (NULL-filled), matching the oracle row-for-row
    obs = reps.filter(F.col("r") == 0).agg(
        F.max("t").alias("t_obs"), F.max("n").alias("n_docs")
    )
    flips = reps.filter(F.col("r") > 0)
    return (
        flips.crossJoin(F.broadcast(obs))
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            (F.max("t_obs").cast("double") / F.max("n_docs"))
            .alias("mean_diff_ppm"),
            F.max("t_obs").cast("long").alias("t_obs"),
            (
                (F.lit(1) + F.count(
                    F.when(F.abs(F.col("t")) >= F.abs(F.col("t_obs")), 1)
                )).cast("double") / F.lit(_PERM_B + 1)
            ).alias("p_value"),
            F.lit(_PERM_B).cast("long").alias("b"),
        )
    )


ORACLE_PERMUTATION_TEST = f"""
WITH base AS (
  SELECT doc_id,
         CAST(floor(1000000.0 * len(string_split(text, ' '))
                    / length(text)) AS BIGINT)
         - CAST(floor(1000000.0 * length(regexp_replace(text, '[^a-z ]',
                                                        '', 'g'))
                      / length(text)) AS BIGINT) AS d
  FROM documents),
reps AS (
  SELECT r, SUM(s * d) AS t, COUNT(*) AS n
  FROM (
    SELECT d, t.r,
           CASE WHEN t.r = 0 THEN 1
                WHEN ((doc_id % 1000003 + 1)
                      * (2654435761 + ({_PERM_SEED} + t.r) * 98765431))
                     % 1000003 * 2 < 1000003 THEN -1
                ELSE 1 END AS s
    FROM base, unnest(range(0, {_PERM_B + 1})) AS t(r)) x
  GROUP BY r),
obs AS (
  SELECT max(t) AS t_obs, max(n) AS n_docs FROM reps WHERE r = 0)
SELECT (SELECT CAST(n_docs AS BIGINT) FROM obs) AS n_docs,
       (SELECT CAST(t_obs AS DOUBLE) / n_docs FROM obs) AS mean_diff_ppm,
       (SELECT CAST(t_obs AS BIGINT) FROM obs) AS t_obs,
       CAST(1 + count(CASE WHEN abs(t) >= abs((SELECT t_obs FROM obs))
                      THEN 1 END)
            AS DOUBLE) / {_PERM_B + 1} AS p_value,
       CAST({_PERM_B} AS BIGINT) AS b
FROM reps WHERE r > 0
"""


#: McNemar decision thresholds: classifier A = doc has ≥ 40 whitespace
#: tokens, classifier B = doc has ≥ 220 characters.  Disagreement cells
#: are non-empty at every fixture scale (checked sf0.001–sf0.1).
_MCN_A_TOKENS = 40
_MCN_B_CHARS = 220


def q_eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for two binary keep/drop classifiers on the SAME
    documents — the significance primitive for "does switching quality
    gates actually change what we keep?".  Only the DISAGREEMENT cells
    matter (b = A keeps, B drops; c = B keeps, A drops): under marginal
    homogeneity b and c are exchangeable and χ² = (b−c)²/(b+c) is the
    1-df statistic.  One corpus pass, four conditional integer counts
    with map-side combine, a single scalar output row — at 100 TB this
    is a ONE-scan metadata-sized decision, the cheap companion to the
    permutation test (which handles graded scores; this handles the
    binary gate case).  Exact integer cells; the χ² division is the
    only float op, performed identically in both engines."""
    docs = load(spark, sf_dir, "documents")
    a_keep = F.size(F.split(F.col("text"), " ")) >= _MCN_A_TOKENS
    b_keep = F.length("text") >= _MCN_B_CHARS
    cell = lambda pa, pb: F.count(  # noqa: E731 — local plumbing
        F.when(pa & pb, 1)
    ).cast("long")
    agg = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        cell(a_keep, b_keep).alias("both_keep"),
        cell(a_keep, ~b_keep).alias("a_only"),
        cell(~a_keep, b_keep).alias("b_only"),
        cell(~a_keep, ~b_keep).alias("both_drop"),
    )
    diff = F.col("a_only") - F.col("b_only")
    denom = F.col("a_only") + F.col("b_only")
    chi2 = F.round(
        F.when(denom > 0, (diff * diff).cast("double") / denom)
        .otherwise(F.lit(0.0)),
        6,
    )
    return agg.select(
        "n_docs", "both_keep", "a_only", "b_only", "both_drop",
        chi2.alias("chi2"),
        (chi2 > F.lit(3.841459)).alias("significant"),
    )


ORACLE_MCNEMAR = f"""
WITH cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(CASE WHEN a AND b THEN 1 END) AS BIGINT) AS both_keep,
         CAST(count(CASE WHEN a AND NOT b THEN 1 END) AS BIGINT) AS a_only,
         CAST(count(CASE WHEN NOT a AND b THEN 1 END) AS BIGINT) AS b_only,
         CAST(count(CASE WHEN NOT a AND NOT b THEN 1 END) AS BIGINT)
           AS both_drop
  FROM (
    SELECT len(string_split(text, ' ')) >= {_MCN_A_TOKENS} AS a,
           length(text) >= {_MCN_B_CHARS} AS b
    FROM documents) t)
SELECT n_docs, both_keep, a_only, b_only, both_drop,
       round(CASE WHEN a_only + b_only > 0
                  THEN CAST((a_only - b_only) * (a_only - b_only) AS DOUBLE)
                       / (a_only + b_only)
                  ELSE 0.0 END, 6) AS chi2,
       round(CASE WHEN a_only + b_only > 0
                  THEN CAST((a_only - b_only) * (a_only - b_only) AS DOUBLE)
                       / (a_only + b_only)
                  ELSE 0.0 END, 6) > 3.841459 AS significant
FROM cells
"""


QUERIES.update({
    "eval_bootstrap_ci": QuerySpec(
        q_eval_bootstrap_ci, ORACLE_BOOTSTRAP_CI,
        doc="Poisson-bootstrap CI for a corpus metric: B=32 replicates in "
            "ONE pass (deterministic per-(row,replicate) weights, exact "
            "integer-cents means, order-statistic bounds) — the scalable "
            "bootstrap for leaderboard significance",
    ),
    "eval_permutation_test": QuerySpec(
        q_eval_permutation_test, ORACLE_PERMUTATION_TEST,
        doc="paired sign-flip permutation test between two per-document "
            "quality scores: B=64 deterministic-coin replicates in ONE "
            "corpus pass, exact integer folds, exact dyadic p-value",
    ),
    "eval_mcnemar": QuerySpec(
        q_eval_mcnemar, ORACLE_MCNEMAR,
        doc="McNemar's test between two binary keep/drop gates: exact "
            "integer disagreement cells in one scan, 1-df chi-square on "
            "the scalar row",
    ),
})
