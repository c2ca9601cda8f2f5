"""Engine-operator query suite: each reference operator (SURVEY.md §2)
expressed as a (spark_fn, oracle_sql) pair over the TESTDATA tables.

The CDC scenario derives deterministic current/staged/changeset
relations from ``orders``:

  cur = orders where o_orderkey % 10 <> 7          (keys ...7 deleted)
  stg = orders where o_orderkey % 10 <> 3,         (keys ...3 new)
        o_totalprice += 10.0 when o_orderkey % 5 = 0   (updates)
  chg = keys with %10 in (3,7) or %5=0 or %11=0    (%11 -> '0' rows)

so every action class I/U/D/0 occurs. The Spark side runs the REAL
operators from operators/merge.py; the SQL is an independent
re-statement for DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linz_bde_uploader_spark.cache import persist
from linz_bde_uploader_spark.functions.hashing import hash32, sql_hash32
from linz_bde_uploader_spark.functions.timeutil import epoch_micros
from linz_bde_uploader_spark.operators import merge as M
from linz_bde_uploader_spark.plans.tables import load_table

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]

_CDC_CTES = """
cur AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 7),
stg AS (SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 <> 3),
chg AS (SELECT o_orderkey AS key FROM orders
        WHERE o_orderkey % 10 IN (3, 7) OR o_orderkey % 5 = 0
           OR o_orderkey % 11 = 0),
c AS (SELECT cur.* FROM cur JOIN chg ON cur.o_orderkey = chg.key),
s AS (SELECT stg.* FROM stg JOIN chg ON stg.o_orderkey = chg.key),
act AS (
  SELECT COALESCE(c.o_orderkey, s.o_orderkey) AS key,
         CASE WHEN s.o_orderkey IS NULL THEN 'D'
              WHEN c.o_orderkey IS NULL THEN 'I'
              WHEN c.o_custkey IS NOT DISTINCT FROM s.o_custkey
               AND c.o_orderstatus IS NOT DISTINCT FROM s.o_orderstatus
               AND c.o_totalprice IS NOT DISTINCT FROM s.o_totalprice
               AND c.o_orderdate IS NOT DISTINCT FROM s.o_orderdate
               AND c.o_orderpriority IS NOT DISTINCT FROM s.o_orderpriority
              THEN '0' ELSE 'U' END AS action
  FROM c FULL OUTER JOIN s ON c.o_orderkey = s.o_orderkey)
"""


def cdc_frames(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    cur = orders.filter(k % 10 != 7)
    stg = orders.withColumn(
        "o_totalprice",
        F.when(k % 5 == 0, F.col("o_totalprice") + F.lit(10.0))
        .otherwise(F.col("o_totalprice")),
    ).filter(k % 10 != 3)
    chg = orders.filter((k % 10).isin(3, 7) | (k % 5 == 0) | (k % 11 == 0)) \
                .select(k.alias("key"))
    return cur, stg, chg


def q_cdc_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2+J3: one-pass I/U/D/0 action classification."""
    cur, stg, chg = cdc_frames(spark, sf_dir)
    return M.classify_actions(cur, stg, chg, "o_orderkey", ORDER_COLS)


SQL_CDC_CLASSIFY = f"WITH {_CDC_CTES} SELECT key, action FROM act"


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: apply the action set -> merged table state.

    The actions DF (changed keys only — small) is cached exactly as the
    upload driver does: apply_actions broadcasts it into two branches,
    and without the cache each branch would recompute the classify
    3-way join — two full scans of the big tables at 100 TB."""
    cur, stg, chg = cdc_frames(spark, sf_dir)
    actions = persist(M.classify_actions(cur, stg, chg, "o_orderkey",
                                         ORDER_COLS))
    merged = M.apply_actions(cur, stg, actions, "o_orderkey")
    return merged.select(
        F.col("o_orderkey").alias("key"), "o_totalprice", "o_orderstatus")


SQL_CDC_APPLY = f"""WITH {_CDC_CTES}
SELECT o_orderkey AS key, o_totalprice, o_orderstatus FROM cur
WHERE o_orderkey NOT IN (SELECT key FROM act WHERE action IN ('D','U','X'))
UNION ALL
SELECT o_orderkey, o_totalprice, o_orderstatus FROM stg
WHERE o_orderkey IN (SELECT key FROM act WHERE action IN ('I','U','X'))
"""


def q_cdc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-action counts for the stats ledger."""
    cur, stg, chg = cdc_frames(spark, sf_dir)
    actions = M.classify_actions(cur, stg, chg, "o_orderkey", ORDER_COLS)
    return actions.groupBy("action").agg(F.count("*").alias("n"))


SQL_CDC_STATS = f"WITH {_CDC_CTES} SELECT action, COUNT(*) AS n FROM act GROUP BY action"


def q_full_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: full-table diff (-full-incremental), no change list."""
    cur, stg, _ = cdc_frames(spark, sf_dir)
    return M.full_diff(cur, stg, "o_orderkey", ORDER_COLS)


SQL_FULL_DIFF = """
WITH cur AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 7),
stg AS (SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 <> 3)
SELECT key, action FROM (
  SELECT COALESCE(cur.o_orderkey, stg.o_orderkey) AS key,
         CASE WHEN stg.o_orderkey IS NULL THEN 'D'
              WHEN cur.o_orderkey IS NULL THEN 'I'
              WHEN cur.o_custkey IS NOT DISTINCT FROM stg.o_custkey
               AND cur.o_orderstatus IS NOT DISTINCT FROM stg.o_orderstatus
               AND cur.o_totalprice IS NOT DISTINCT FROM stg.o_totalprice
               AND cur.o_orderdate IS NOT DISTINCT FROM stg.o_orderdate
               AND cur.o_orderpriority IS NOT DISTINCT FROM stg.o_orderpriority
              THEN NULL ELSE 'U' END AS action
  FROM cur FULL OUTER JOIN stg ON cur.o_orderkey = stg.o_orderkey)
WHERE action IS NOT NULL
"""


def q_keyswap_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: key-swap repair. Staged customer rows with c_custkey % 97 = 0
    take the NAME of custkey+1 (a unique-value swap); the repair must
    pull each displaced key (custkey+1) into the change set."""
    customer = load_table(spark, sf_dir, "customer")
    cur = customer
    nxt = customer.select(F.col("c_custkey").alias("nk"),
                          F.col("c_name").alias("nname"))
    stg = (
        customer.join(nxt, customer["c_custkey"] + 1 == nxt["nk"], "left")
        .select(
            "c_custkey",
            F.when((F.col("c_custkey") % 97 == 0) & F.col("nk").isNotNull(),
                   F.col("nname")).otherwise(F.col("c_name")).alias("c_name"),
        )
    )
    chg = customer.filter(F.col("c_custkey") % 97 == 0) \
                  .select(F.col("c_custkey").alias("key"))
    return M.fix_key_swaps(stg, cur, chg, "c_custkey", ["c_name"])


SQL_KEYSWAP = """
WITH stg AS (
  SELECT c.c_custkey,
         CASE WHEN c.c_custkey % 97 = 0 AND n.c_custkey IS NOT NULL
              THEN n.c_name ELSE c.c_name END AS c_name
  FROM customer c LEFT JOIN customer n ON n.c_custkey = c.c_custkey + 1),
chg AS (SELECT c_custkey AS key FROM customer WHERE c_custkey % 97 = 0),
displaced AS (
  SELECT DISTINCT cur.c_custkey AS key
  FROM stg JOIN customer cur
    ON stg.c_name = cur.c_name AND stg.c_custkey <> cur.c_custkey
  WHERE cur.c_custkey NOT IN (SELECT key FROM chg))
SELECT key FROM chg UNION ALL SELECT key FROM displaced
"""


def q_tolerance_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: row-count tolerance gate per group (error < ceil(prev*0.2),
    warning < ceil(prev*0.95))."""
    cur, stg, _ = cdc_frames(spark, sf_dir)
    prev = cur.groupBy("o_orderpriority").agg(F.count("*").alias("prev_count"))
    new = stg.groupBy("o_orderpriority").agg(F.count("*").alias("new_count"))
    j = prev.join(new, "o_orderpriority")
    status = (
        F.when(F.col("new_count") < F.ceil(F.col("prev_count") * 0.2), "error")
        .when(F.col("new_count") < F.ceil(F.col("prev_count") * 0.95), "warning")
        .otherwise("ok")
    )
    return j.select("o_orderpriority", "prev_count", "new_count",
                    status.alias("status"))


SQL_TOLERANCE = """
WITH cur AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 7),
stg AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 3),
p AS (SELECT o_orderpriority, COUNT(*) AS prev_count FROM cur GROUP BY 1),
q AS (SELECT o_orderpriority, COUNT(*) AS new_count FROM stg GROUP BY 1)
SELECT p.o_orderpriority, p.prev_count, q.new_count,
       CASE WHEN q.new_count < CAST(ceil(p.prev_count * 0.2) AS BIGINT) THEN 'error'
            WHEN q.new_count < CAST(ceil(p.prev_count * 0.95) AS BIGINT) THEN 'warning'
            ELSE 'ok' END AS status
FROM p JOIN q USING (o_orderpriority)
"""


def q_changeset_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P5: change-table preparation (case-normalize, filter one
    table's rows, project + dedup keys) over an events-derived
    change table."""
    events = load_table(spark, sf_dir, "events")
    chg_table = events.select(F.upper("event_type").alias("tablename"),
                              F.col("user_id").alias("tablekeyvalue"))
    return M.prepare_change_table(chg_table, "click")


SQL_CHANGESET_PREPARE = """
SELECT DISTINCT user_id AS key FROM events
WHERE lower(upper(event_type)) = 'click'
"""


def q_dataset_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2: dataset discovery + watermark pruning — hourly dataset
    ids (VARCHAR(14) style) newer than a watermark."""
    events = load_table(spark, sf_dir, "events")
    ds = events.select(
        F.concat(F.date_format("ts", "yyyyMMddHH"), F.lit("0000")).alias("dataset"))
    return ds.distinct().filter(F.col("dataset") > "20240105000000")


SQL_DATASET_WATERMARK = """
SELECT DISTINCT strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') || '0000' AS dataset
FROM events
WHERE strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') || '0000' > '20240105000000'
"""


def q_event_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-group duration = max(ts)-min(ts) seconds (the
    bde_EventDuration timing-log aggregate)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        ((epoch_micros(F.max("ts")) - epoch_micros(F.min("ts"))) / F.lit(1e6))
        .alias("duration_sec"),
    )


SQL_EVENT_DURATION = """
SELECT event_type, COUNT(*) AS n_events,
       (epoch_us(max(CAST(ts AS TIMESTAMP))) - epoch_us(min(CAST(ts AS TIMESTAMP))))
         / 1000000.0 AS duration_sec
FROM events GROUP BY event_type
"""

ENGINE_QUERIES: dict[str, tuple] = {
    "cdc_classify": (q_cdc_classify, SQL_CDC_CLASSIFY),
    "cdc_apply": (q_cdc_apply, SQL_CDC_APPLY),
    "cdc_stats": (q_cdc_stats, SQL_CDC_STATS),
    "full_diff": (q_full_diff, SQL_FULL_DIFF),
    "keyswap_repair": (q_keyswap_repair, SQL_KEYSWAP),
    "tolerance_check": (q_tolerance_check, SQL_TOLERANCE),
    "changeset_prepare": (q_changeset_prepare, SQL_CHANGESET_PREPARE),
    "dataset_watermark": (q_dataset_watermark, SQL_DATASET_WATERMARK),
    "event_duration": (q_event_duration, SQL_EVENT_DURATION),
}


def q_union_lock_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: 3-branch UNION ... DISTINCT (the lock-holder candidate CTE,
    sql/02-bde_control_functions.sql.in:175-196) re-expressed over the
    events table: users seen via clicks ∪ errors ∪ purchases."""
    events = load_table(spark, sf_dir, "events")

    def branch(kind):
        return events.filter(F.col("event_type") == kind) \
                     .select(F.col("user_id").alias("candidate"))

    return branch("click").union(branch("error")).union(branch("purchase")).distinct()


SQL_UNION_LOCK = """
SELECT user_id AS candidate FROM events WHERE event_type = 'click'
UNION
SELECT user_id FROM events WHERE event_type = 'error'
UNION
SELECT user_id FROM events WHERE event_type = 'purchase'
"""


def q_string_agg_owners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: string_agg(DISTINCT ...) lock-owner diagnostic
    (sql/02-bde_control_functions.sql.in:738) — per nation, the sorted
    distinct market segments of its customers as one string."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation),
                      customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.concat_ws(", ", F.array_sort(F.collect_set("c_mktsegment")))
             .alias("segments"))
    )


SQL_STRING_AGG = """
SELECT n_name,
       string_agg(DISTINCT c_mktsegment, ', ' ORDER BY c_mktsegment) AS segments
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_latest_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: latest-dataset (top-1) selection — `-full` loads only the
    newest level-0 dataset (lib/LINZ/BdeUpload.pm:629,687)."""
    events = load_table(spark, sf_dir, "events")
    ds = events.select(
        F.concat(F.date_format("ts", "yyyyMMddHH"), F.lit("0000")).alias("dataset"))
    return ds.agg(F.max("dataset").alias("latest_dataset"),
                  F.count_distinct("dataset").alias("n_datasets"))


SQL_LATEST_DATASET = """
SELECT max(d) AS latest_dataset, CAST(count(DISTINCT d) AS BIGINT) AS n_datasets
FROM (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') || '0000' AS d FROM events)
"""


def q_active_jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: active-job existence count (bde_uploadIsActive,
    sql/02-bde_control_functions.sql.in:136-159) — per user, count of
    'in-flight' purchase events (value above threshold) and whether
    any exists."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter((F.col("event_type") == "purchase") & (F.col("value") > 90))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_active"))
        .withColumn("is_active", F.col("n_active") > 0)
    )


SQL_ACTIVE_JOBS = """
SELECT user_id, COUNT(*) AS n_active, COUNT(*) > 0 AS is_active
FROM events WHERE event_type = 'purchase' AND value > 90
GROUP BY user_id
"""

def q_stream_continuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    the level-5 start-time continuity / gap detector
    (lib/LINZ/BdeUpload.pm:1070-1100) run as a real availableNow
    stream. Derives a per-(event_type, day) file manifest from the
    events table — table=event_type, dataset=day, START/END = min/max
    event time — and flags day-over-day gaps beyond 0.5h.

    Not SQL-expressible (keyed state store across micro-batches), so
    this entry has no DuckDB oracle: the driver records the weaker
    rows-only check. Deterministic for a given sf_dir.

    The stream sink is a session-lifetime scratch dir and the
    returned DataFrame reads it LAZILY — no driver-side collect, no
    re-serialization through createDataFrame (the manifest is tiny
    here, but a queries() entry should stay collect-free on
    principle: the caller decides what to materialize). A fresh
    scratch dir per call keeps the availableNow checkpoint from
    double-processing re-written source files.
    """
    import tempfile

    from linz_bde_uploader_spark.streaming.events import (
        continuity_check, run_available_now,
    )

    events = load_table(spark, sf_dir, "events")
    manifest = (
        events.groupBy(F.col("event_type").alias("table"),
                       F.date_format("ts", "yyyyMMdd").alias("dataset"))
        .agg(F.min(epoch_micros("ts") / 1e6).alias("start_ts"),
             F.max(epoch_micros("ts") / 1e6).alias("end_ts"))
    )
    work = tempfile.mkdtemp(prefix="continuity-")
    src = f"{work}/src"
    # the manifest is a bounded per-(table, day) summary (one row per
    # dataset) — a single source file is deliberate, not a scale path
    manifest.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(manifest.schema).parquet(src)
    checked = continuity_check(stream, warn_hours=0.5)
    run_available_now(checked, f"{work}/ckpt", f"{work}/out")
    return spark.read.parquet(f"{work}/out")


def q_dataset_continuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The level-5 start-time continuity check as a BATCH plan — the
    hash-checkable projection of ``stream_continuity``. Reference
    semantics (lib/LINZ/BdeUpload.pm:1070-1100): a dataset's START
    must sit within tolerance of the previous dataset's recorded END,
    per table; here that is one ordered window per table over the
    same (table, dataset, start, end) manifest the streaming operator
    consumes — no state store needed when the history is at rest.
    Gap arithmetic stays on exact int64 microseconds until the final
    division, and ``gap_hours`` is rounded to 6 dp on both engines so
    the driver hashes identical floats. The stateful streaming twin
    keeps its rows-only entry (applyInPandasWithState is not
    SQL-expressible); this entry closes the oracle gap."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    manifest = (
        events.groupBy(F.col("event_type").alias("table"),
                       F.date_format("ts", "yyyyMMdd").alias("dataset"))
        .agg(F.min(epoch_micros("ts")).alias("start_us"),
             F.max(epoch_micros("ts")).alias("end_us"))
    )
    # low-cardinality partition key, but cardinality-safe: the window
    # runs over the per-(table, dataset) MANIFEST (one row per dataset
    # directory — metadata scale, thousands of rows), never over event
    # rows, so a group can't exceed the dataset count
    w = Window.partitionBy("table").orderBy("dataset")
    prev_end = F.lag("end_us").over(w)
    raw_gap = F.abs(F.col("start_us") - prev_end) / F.lit(3600000000.0)
    return manifest.select(
        "table", "dataset",
        F.coalesce(F.round(raw_gap, 6), F.lit(0.0)).alias("gap_hours"),
        F.when(prev_end.isNull(), F.lit("ok"))
         .when(raw_gap > 0.5, F.lit("warning"))
         .otherwise(F.lit("ok")).alias("status"),
    )


SQL_DATASET_CONTINUITY = """
WITH m AS (
  SELECT event_type AS "table",
         strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS dataset,
         MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS start_us,
         MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS end_us
  FROM events GROUP BY 1, 2),
g AS (
  SELECT "table", dataset, start_us,
         lag(end_us) OVER (PARTITION BY "table" ORDER BY dataset) AS prev_end
  FROM m)
SELECT "table", dataset,
       COALESCE(round(abs(start_us - prev_end) / 3600000000.0, 6), 0.0)
         AS gap_hours,
       CASE WHEN prev_end IS NULL THEN 'ok'
            WHEN abs(start_us - prev_end) / 3600000000.0 > 0.5 THEN 'warning'
            ELSE 'ok' END AS status
FROM g
"""


ENGINE_QUERIES.update({
    "union_lock_candidates": (q_union_lock_candidates, SQL_UNION_LOCK),
    "string_agg_owners": (q_string_agg_owners, SQL_STRING_AGG),
    "latest_dataset": (q_latest_dataset, SQL_LATEST_DATASET),
    "active_jobs": (q_active_jobs, SQL_ACTIVE_JOBS),
    "stream_continuity": (q_stream_continuity, None),
    "dataset_continuity": (q_dataset_continuity, SQL_DATASET_CONTINUITY),
})


def q_cdc_incremental_agg(spark, sf_dir: str):
    """Incrementally-maintained aggregate through the CDC merge: the
    per-status (count, total price) materialized view updated by the
    action delta algebra (operators/merge.py maintain_aggregate) —
    NEVER recomputed from the merged table. The oracle recomputes the
    same aggregate directly from the merged state, so a hash match
    differentially proves the delta algebra (insert adds, delete
    subtracts, update moves between groups) is exactly equivalent to
    a from-scratch refresh; DECIMAL accumulation makes the equality
    exact rather than within-float-drift. The total is PUBLISHED as
    integer cents: a DECIMAL(38,2) result column degrades to float64
    on the driver's pandas fetch path, and this query's two driver
    greens were 3-rows-of-luck (no total happened to carry a
    trailing-zero cent digit, the one case where Decimal and float
    render apart) — its sibling cdc_minmax_refresh with 6 published
    decimals drew the short straw (ORACLE.md)."""
    cur, stg, chg = cdc_frames(spark, sf_dir)
    actions = persist(M.classify_actions(cur, stg, chg, "o_orderkey",
                                         ORDER_COLS))
    agg = M.maintain_aggregate(cur, stg, actions, "o_orderkey",
                               ["o_orderstatus"], "o_totalprice")
    return agg.select(
        "o_orderstatus", "n", "n_vals",
        F.expr("CAST(total * 100 AS BIGINT)").alias("total_cents"))


SQL_CDC_INCR_AGG = f"""WITH {_CDC_CTES},
merged AS (
  SELECT o_orderstatus, o_totalprice FROM cur
  WHERE o_orderkey NOT IN (SELECT key FROM act WHERE action IN ('D','U','X'))
  UNION ALL
  SELECT o_orderstatus, o_totalprice FROM stg
  WHERE o_orderkey IN (SELECT key FROM act WHERE action IN ('I','U','X')))
SELECT o_orderstatus, COUNT(*) AS n, COUNT(o_totalprice) AS n_vals,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
       AS total_cents
FROM merged GROUP BY o_orderstatus
"""


ENGINE_QUERIES.update({
    "cdc_incremental_agg": (q_cdc_incremental_agg, SQL_CDC_INCR_AGG),
})


def q_cdc_minmax_refresh(spark, sf_dir: str):
    """Partial-refresh maintenance for the NON-self-maintainable
    aggregates: per-status (count, min, max) carried forward from the
    pre-merge view for untouched groups and recomputed from the
    merged state ONLY for groups the action set touches
    (operators/merge.py maintain_extrema — deleting an extremum
    cannot be undone by delta arithmetic, so touched groups rescan).
    The oracle recomputes everything directly from the merged state:
    a hash match proves the carry-forward/recompute split is exactly
    equivalent to a full refresh. Extrema are PUBLISHED as integer
    cents (DECIMAL stays internal): the r7 driver red was the
    DECIMAL(12,2) columns degrading to float64 on the driver's
    pandas fetch path, not the operator — proven by the local
    ``check_oracle --pandas`` emulation reproducing the exact
    driver red/green split (ORACLE.md)."""
    cur, stg, chg = cdc_frames(spark, sf_dir)
    actions = persist(M.classify_actions(cur, stg, chg, "o_orderkey",
                                         ORDER_COLS,
                                         carry_cols=["o_orderstatus"]))
    merged = M.apply_actions(cur, stg, actions, "o_orderkey")
    old = M.extrema_view(cur, ["o_orderstatus"], "o_totalprice")
    mm = M.maintain_extrema(cur, stg, actions, "o_orderkey",
                            ["o_orderstatus"], "o_totalprice",
                            merged, old_extrema=old)
    return mm.select(
        "o_orderstatus", "n",
        F.expr("CAST(vmin * 100 AS BIGINT)").alias("vmin_cents"),
        F.expr("CAST(vmax * 100 AS BIGINT)").alias("vmax_cents"))


SQL_CDC_MINMAX = f"""WITH {_CDC_CTES},
merged AS (
  SELECT o_orderstatus, o_totalprice FROM cur
  WHERE o_orderkey NOT IN (SELECT key FROM act WHERE action IN ('D','U','X'))
  UNION ALL
  SELECT o_orderstatus, o_totalprice FROM stg
  WHERE o_orderkey IN (SELECT key FROM act WHERE action IN ('I','U','X')))
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
         AS vmin_cents,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
         AS vmax_cents
FROM merged GROUP BY o_orderstatus
"""


ENGINE_QUERIES.update({
    "cdc_minmax_refresh": (q_cdc_minmax_refresh, SQL_CDC_MINMAX),
})


def q_cdc_topk_refresh(spark, sf_dir: str):
    """Partial-refresh maintenance for a per-group TOP-K leaderboard
    view (operators/merge.py maintain_topk — the third IVM member:
    count/sum are self-maintainable deltas, min/max recompute touched
    groups, top-k is extrema one rank deeper, since evicting a
    rank-k row needs the unknown rank-k+1). The oracle recomputes the
    leaderboard directly from the merged state: a hash match proves
    carry-forward + touched-group recompute equals a full refresh.
    Values publish as integer cents (ORACLE.md portable types)."""
    cur, stg, chg = cdc_frames(spark, sf_dir)
    actions = persist(M.classify_actions(cur, stg, chg, "o_orderkey",
                                         ORDER_COLS,
                                         carry_cols=["o_orderstatus"]))
    merged = M.apply_actions(cur, stg, actions, "o_orderkey")
    old = M.topk_view(cur, ["o_orderstatus"], "o_orderkey",
                      "o_totalprice", 3)
    tk = M.maintain_topk(cur, stg, actions, "o_orderkey",
                         ["o_orderstatus"], "o_totalprice",
                         merged, k=3, old_topk=old)
    return tk.select(
        "o_orderstatus", "rank", "o_orderkey",
        F.expr("CAST(o_totalprice * 100 AS BIGINT)").alias("value_cents"))


SQL_CDC_TOPK = f"""WITH {_CDC_CTES},
merged AS (
  SELECT o_orderstatus, o_orderkey, o_totalprice FROM cur
  WHERE o_orderkey NOT IN (SELECT key FROM act WHERE action IN ('D','U','X'))
  UNION ALL
  SELECT o_orderstatus, o_orderkey, o_totalprice FROM stg
  WHERE o_orderkey IN (SELECT key FROM act WHERE action IN ('I','U','X'))),
ranked AS (
  SELECT o_orderstatus, o_orderkey,
         CAST(o_totalprice AS DECIMAL(12,2)) AS v,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY CAST(o_totalprice AS DECIMAL(12,2))
                              DESC, o_orderkey) AS rank
  FROM merged)
SELECT o_orderstatus, CAST(rank AS BIGINT) AS rank, o_orderkey,
       CAST(v * 100 AS BIGINT) AS value_cents
FROM ranked WHERE rank <= 3
"""


ENGINE_QUERIES.update({
    "cdc_topk_refresh": (q_cdc_topk_refresh, SQL_CDC_TOPK),
})


def q_cdc_distinct_refresh(spark, sf_dir: str):
    """Partial-refresh maintenance for a per-group COUNT(DISTINCT)
    view (operators/merge.py maintain_distinct — the fourth IVM
    member: distinct counts are the textbook non-self-maintainable
    aggregate, since deleting a row only decrements the count if it
    was the group's last holder of that value, which (n, n_distinct)
    state cannot know). Touched groups recompute from the merged
    state, untouched groups carry forward from the pre-merge view;
    the oracle recomputes everything directly from the merged state,
    so a hash match proves the split equals a full refresh. Published
    columns are BIGINT-only (ORACLE.md portable by construction)."""
    cur, stg, chg = cdc_frames(spark, sf_dir)
    actions = persist(M.classify_actions(cur, stg, chg, "o_orderkey",
                                         ORDER_COLS,
                                         carry_cols=["o_orderstatus"]))
    merged = M.apply_actions(cur, stg, actions, "o_orderkey")
    old = M.distinct_view(cur, ["o_orderstatus"], "o_custkey")
    dc = M.maintain_distinct(cur, stg, actions, "o_orderkey",
                             ["o_orderstatus"], "o_custkey",
                             merged, old_distinct=old)
    return dc.select("o_orderstatus", "n", "n_distinct")


SQL_CDC_DISTINCT = f"""WITH {_CDC_CTES},
merged AS (
  SELECT o_orderstatus, o_custkey FROM cur
  WHERE o_orderkey NOT IN (SELECT key FROM act WHERE action IN ('D','U','X'))
  UNION ALL
  SELECT o_orderstatus, o_custkey FROM stg
  WHERE o_orderkey IN (SELECT key FROM act WHERE action IN ('I','U','X')))
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
FROM merged GROUP BY o_orderstatus
"""


ENGINE_QUERIES.update({
    "cdc_distinct_refresh": (q_cdc_distinct_refresh, SQL_CDC_DISTINCT),
})


def q_cdc_join_refresh(spark, sf_dir: str):
    """Delta maintenance of an enriched JOIN view through the CDC
    merge (operators/merge.py maintain_join — the fifth IVM member,
    and the taxonomy's contrast case: inner-join views are
    SELF-maintainable under fact-side changes given the dimension, so
    the refresh never rescans the merged fact table: stored view minus
    deleted/updated keys, plus the |changes|-bounded staged delta
    joined to the dimension). The oracle recomputes the whole join
    from the merged state, so a hash match differentially proves the
    delta-join rule ΔV = ΔF ⋈ D equals a full re-join. Price publishes
    as integer cents; every other column is BIGINT/string (ORACLE.md
    portable types)."""
    cur, stg, chg = cdc_frames(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    actions = persist(M.classify_actions(cur, stg, chg, "o_orderkey",
                                         ORDER_COLS))
    shape = (customer, "o_custkey", "c_custkey",
             ["o_orderstatus", "o_totalprice"],
             ["c_mktsegment", "c_nationkey"])
    old = M.join_view(cur, "o_orderkey", *shape)
    view = M.maintain_join(cur, stg, actions, "o_orderkey", *shape,
                           old_view=old)
    return view.select(
        "o_orderkey", "o_orderstatus",
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .alias("price_cents"),
        "c_mktsegment", "c_nationkey")


SQL_CDC_JOIN = f"""WITH {_CDC_CTES},
merged AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM cur
  WHERE o_orderkey NOT IN (SELECT key FROM act WHERE action IN ('D','U','X'))
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM stg
  WHERE o_orderkey IN (SELECT key FROM act WHERE action IN ('I','U','X')))
SELECT m.o_orderkey, m.o_orderstatus,
       CAST(CAST(m.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
         AS price_cents,
       c.c_mktsegment, c.c_nationkey
FROM merged m JOIN customer c ON m.o_custkey = c.c_custkey
"""


ENGINE_QUERIES.update({
    "cdc_join_refresh": (q_cdc_join_refresh, SQL_CDC_JOIN),
})


def q_cdc_manifest_refresh(spark, sf_dir: str):
    """Shard-manifest maintenance through the CDC merge — the IVM
    family applied to the pipeline's export artifact: per-shard doc
    counts, char totals, and the order-independent hash checksum of
    docs_shard_manifest are ALL sums of non-null integers, so the
    whole manifest is self-maintainable by one delta union
    (operators/merge.py maintain_sums) — a corpus edit (takedown,
    re-crawl, correction) re-stamps only the touched shards' rows,
    never recomputing corpus-wide checksums. The CDC scenario mirrors
    the orders fixture on documents (keys ...7 deleted, ...3
    inserted, %5 char-count updates, %11 no-op rows); the oracle
    recomputes the manifest directly from the merged state, so a
    hash match differentially proves checksum-subtract/add equals a
    from-scratch re-manifest. All-BIGINT output (ORACLE.md)."""
    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    shard = F.pmod(
        hash32(F.concat(F.lit("sh:"), k.cast("string"))),
        F.lit(16)).cast("bigint").alias("shard")
    cur = docs.filter(k % 10 != 7)
    stg = docs.withColumn(
        "n_chars",
        F.when(k % 5 == 0, F.col("n_chars") + F.lit(5))
        .otherwise(F.col("n_chars"))).filter(k % 10 != 3)
    chg = docs.filter((k % 10).isin(3, 7) | (k % 5 == 0)
                      | (k % 11 == 0)).select(k.alias("key"))
    actions = persist(M.classify_actions(cur, stg, chg, "doc_id",
                                         ["doc_id", "n_chars"]))

    def project(df):
        ck = hash32(F.concat(F.lit("ck:"),
                             F.col("doc_id").cast("string"),
                             F.lit(":"),
                             F.col("n_chars").cast("string")))
        return df.select("doc_id", shard, F.col("n_chars"),
                         ck.cast("long").alias("ck"))

    old = (project(cur).groupBy("shard")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("n_chars").cast("long")).alias("n_chars"),
                F.sum("ck").alias("ck")))
    m = M.maintain_sums(project(cur), project(stg), actions, "doc_id",
                        ["shard"], ["n_chars", "ck"], old_sums=old)
    return m.select("shard", F.col("n").alias("n_docs"),
                    F.col("n_chars").alias("total_chars"),
                    F.col("ck").alias("checksum"))


SQL_CDC_MANIFEST = f"""
WITH cur AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 10 <> 7),
stg AS (SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN n_chars + 5
                    ELSE n_chars END AS n_chars
        FROM documents WHERE doc_id % 10 <> 3),
chg AS (SELECT doc_id AS key FROM documents
        WHERE doc_id % 10 IN (3, 7) OR doc_id % 5 = 0
           OR doc_id % 11 = 0),
c AS (SELECT cur.* FROM cur JOIN chg ON cur.doc_id = chg.key),
s AS (SELECT stg.* FROM stg JOIN chg ON stg.doc_id = chg.key),
act AS (
  SELECT COALESCE(c.doc_id, s.doc_id) AS key,
         CASE WHEN s.doc_id IS NULL THEN 'D'
              WHEN c.doc_id IS NULL THEN 'I'
              WHEN c.n_chars IS NOT DISTINCT FROM s.n_chars THEN '0'
              ELSE 'U' END AS action
  FROM c FULL OUTER JOIN s ON c.doc_id = s.doc_id),
merged AS (
  SELECT doc_id, n_chars FROM cur
  WHERE doc_id NOT IN (SELECT key FROM act WHERE action IN ('D','U','X'))
  UNION ALL
  SELECT doc_id, n_chars FROM stg
  WHERE doc_id IN (SELECT key FROM act WHERE action IN ('I','U','X')))
SELECT CAST({{sh}} % 16 AS BIGINT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM({{ck}}) AS BIGINT) AS checksum
FROM merged
GROUP BY 1
""".format(
    sh=sql_hash32("'sh:' || CAST(doc_id AS VARCHAR)"),
    ck=sql_hash32("'ck:' || CAST(doc_id AS VARCHAR) || ':' "
                  "|| CAST(n_chars AS VARCHAR)"))


ENGINE_QUERIES.update({
    "cdc_manifest_refresh": (q_cdc_manifest_refresh, SQL_CDC_MANIFEST),
})


# ---------------------------------------------------------------- r13
def q_cdc_hll_refresh(spark, sf_dir: str):
    """Incremental maintenance of a distinct-count SKETCH view
    through the CDC merge — the seventh IVM member
    (operators/sketches.py maintain_hll): per-status HLL registers
    for ndv(o_custkey). Insert-only groups absorb the staged rows'
    register delta by max-merge (registers are max-mergeable — no
    rescan); groups that LOSE rows (D/U/X) recompute minmax-style,
    because a removed row may have been a register's max
    contributor. The view is published as the raw register table —
    pure integers, so the oracle (which recomputes registers from
    the merged state directly) hash-matches without a single
    floating-point step; a match proves the max-merge/recompute
    split is exactly equivalent to a full refresh."""
    from linz_bde_uploader_spark.operators import sketches as SK
    cur, stg, chg = cdc_frames(spark, sf_dir)
    actions = persist(M.classify_actions(cur, stg, chg, "o_orderkey",
                                         ORDER_COLS,
                                         carry_cols=["o_orderstatus"]))
    merged = M.apply_actions(cur, stg, actions, "o_orderkey")
    skey = F.col("o_custkey").cast("string")
    old = SK.hll_registers(cur, ["o_orderstatus"], skey)
    return SK.maintain_hll(cur, stg, actions, "o_orderkey",
                           ["o_orderstatus"], skey, merged,
                           old_regs=old)


def _sql_cdc_hll() -> str:
    from linz_bde_uploader_spark.functions.hashing import sql_hash60
    from linz_bde_uploader_spark.operators.sketches import _P52
    return f"""WITH {_CDC_CTES},
merged AS (
  SELECT o_orderstatus, o_custkey FROM cur
  WHERE o_orderkey NOT IN (SELECT key FROM act WHERE action IN ('D','U','X'))
  UNION ALL
  SELECT o_orderstatus, o_custkey FROM stg
  WHERE o_orderkey IN (SELECT key FROM act WHERE action IN ('I','U','X'))),
hashed AS (
  SELECT o_orderstatus,
         {sql_hash60("CAST(o_custkey AS VARCHAR)")} AS h
  FROM merged WHERE o_custkey IS NOT NULL)
SELECT o_orderstatus, h // {_P52} AS idx,
       CAST(MAX(CASE WHEN h % {_P52} = 0 THEN 53
                     ELSE 53 - length(bin(h % {_P52})) END)
            AS BIGINT) AS m
FROM hashed GROUP BY o_orderstatus, h // {_P52}
"""


ENGINE_QUERIES.update({
    "cdc_hll_refresh": (q_cdc_hll_refresh, _sql_cdc_hll()),
})


def q_cdc_cms_refresh(spark, sf_dir: str):
    """Incremental maintenance of a count-min frequency view through
    the CDC merge — the LINEAR branch of the sketch-IVM taxonomy
    (operators/sketches.maintain_cms): counters are sums, so the
    view is FULLY self-maintainable — removed rows' cells subtract,
    added rows' cells add, no recompute branch at any granularity
    (deletes are as cheap as inserts; contrast maintain_hll, whose
    max registers have no inverse). The maintained 4x1024 counter
    table over o_custkey occurrences is published raw; the oracle
    rebuilds it from the merged state, so a hash match proves the
    delta arithmetic exactly equals a full rebuild — pure integers
    end to end."""
    from linz_bde_uploader_spark.operators import sketches as SK
    cur, stg, chg = cdc_frames(spark, sf_dir)
    actions = persist(M.classify_actions(cur, stg, chg, "o_orderkey",
                                         ORDER_COLS))
    skey = F.col("o_custkey").cast("string")
    old = SK.cms_build(cur.select(skey.alias("tok")))
    return SK.maintain_cms(cur, stg, actions, "o_orderkey", skey, old)


def _sql_cdc_cms() -> str:
    from linz_bde_uploader_spark.operators.sketches import (
        CMS_D, sql_cms_counter_expr)
    cells = " UNION ALL ".join(
        f"SELECT {i} AS row, "
        f"{sql_cms_counter_expr(i, 'CAST(o_custkey AS VARCHAR)')} "
        f"AS idx FROM merged WHERE o_custkey IS NOT NULL"
        for i in range(CMS_D))
    return f"""WITH {_CDC_CTES},
merged AS (
  SELECT o_custkey FROM cur
  WHERE o_orderkey NOT IN (SELECT key FROM act WHERE action IN ('D','U','X'))
  UNION ALL
  SELECT o_custkey FROM stg
  WHERE o_orderkey IN (SELECT key FROM act WHERE action IN ('I','U','X'))),
cells AS ({cells})
SELECT row, idx, COUNT(*) AS c FROM cells GROUP BY row, idx
"""


ENGINE_QUERIES.update({
    "cdc_cms_refresh": (q_cdc_cms_refresh, _sql_cdc_cms()),
})
