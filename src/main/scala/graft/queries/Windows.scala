package graft.queries

import graft.Present._

import graft.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function / PTF parity (SURVEY.md §2.7; ref: ql/exec/
  * PTFOperator.java:109 buffers partitions and drives
  * WindowingTableFunction — Spark's Window operator sorts within hash
  * partitions instead, no whole-partition buffering, and Catalyst's
  * WindowGroupLimit pushes ranking limits down like Hive's PTFTopNHash).
  *
  * Plus the streaming-flavored batch shapes (tumbling windows,
  * sessionization) the events table exercises.
  */
object Windows {

  private def t(spark: SparkSession, dir: String): Map[String, DataFrame] =
    Engine.tables(spark, dir)

  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Unique-order window per customer: date + key tiebreak. */
  private val wKey = Window.partitionBy("o_custkey")
    .orderBy(col("o_orderdate"), col("o_orderkey"))

  /** Ranking functions: unique order (row_number) + tied order
    * (rank/dense_rank over priority). */
  def q_window_rank(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir)("orders")
    val wp = Window.partitionBy("o_custkey").orderBy(col("o_orderpriority"))
    o.select(col("o_custkey"), col("o_orderkey"),
        row_number().over(wKey).as("rn"),
        rank().over(wp).as("rk"),
        dense_rank().over(wp).as("drk"))
      .presentSorted("o_custkey", "o_orderkey")
  }

  val q_window_rank_sql: String = """
    SELECT o_custkey, o_orderkey,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn,
           rank() OVER (PARTITION BY o_custkey
                        ORDER BY o_orderpriority) AS rk,
           dense_rank() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderpriority) AS drk
    FROM orders ORDER BY o_custkey, o_orderkey"""

  /** Running total: ROWS UNBOUNDED PRECEDING..CURRENT (exact cents). */
  def q_window_running(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir)("orders")
    o.select(col("o_custkey"), col("o_orderkey"),
        (sum(cents(col("o_totalprice")))
          .over(wKey.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / 100).as("run_total"))
      .presentSorted("o_custkey", "o_orderkey")
  }

  val q_window_running_sql: String = """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE)/100 AS run_total
    FROM orders ORDER BY o_custkey, o_orderkey"""

  /** Sliding ROWS frame (2 preceding .. 1 following) moving average,
    * computed as exact frame-sum / frame-count. */
  def q_window_frame(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir)("orders")
    val f = wKey.rowsBetween(-2, 1)
    o.select(col("o_custkey"), col("o_orderkey"),
        (sum(cents(col("o_totalprice"))).over(f).cast("double") / 100 /
          count(lit(1)).over(f)).as("mv_avg"))
      .presentSorted("o_custkey", "o_orderkey")
  }

  val q_window_frame_sql: String = """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
                OVER w AS DOUBLE)/100 / count(*) OVER w AS mv_avg
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)
    ORDER BY o_custkey, o_orderkey"""

  /** RANGE frame over a numeric day offset: 30-day trailing spend
    * (ref: ValueBoundaryScanner RANGE handling). */
  def q_window_range(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir)("orders")
    val withDays = o.withColumn("days",
      datediff(col("o_orderdate"), lit("1995-01-01").cast("date")))
    val wr = Window.partitionBy("o_custkey").orderBy(col("days"))
      .rangeBetween(-30, 0)
    withDays.select(col("o_custkey"), col("o_orderkey"), col("days"),
        (sum(cents(col("o_totalprice"))).over(wr).cast("double") / 100)
          .as("trail30"))
      .presentSorted("o_custkey", "o_orderkey")
  }

  val q_window_range_sql: String = """
    SELECT o_custkey, o_orderkey,
           date_diff('day', DATE '1995-01-01', o_orderdate::DATE) AS days,
           CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY date_diff('day', DATE '1995-01-01',
                                         o_orderdate::DATE)
                      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                AS DOUBLE)/100 AS trail30
    FROM orders ORDER BY o_custkey, o_orderkey"""

  /** lead/lag with null default + first/last over full frame. */
  def q_window_leadlag(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir)("orders")
    val full = wKey.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    o.select(col("o_custkey"), col("o_orderkey"),
        coalesce(lag(cents(col("o_totalprice")), 1).over(wKey)
          .cast("double") / 100, lit(-1d)).as("prev_price"),
        coalesce(lead(cents(col("o_totalprice")), 1).over(wKey)
          .cast("double") / 100, lit(-1d)).as("next_price"),
        (first(cents(col("o_totalprice"))).over(full).cast("double") / 100)
          .as("first_price"),
        (last(cents(col("o_totalprice"))).over(full).cast("double") / 100)
          .as("last_price"))
      .presentSorted("o_custkey", "o_orderkey")
  }

  val q_window_leadlag_sql: String = """
    SELECT o_custkey, o_orderkey,
           coalesce(CAST(lag(pc) OVER w AS DOUBLE)/100, -1) AS prev_price,
           coalesce(CAST(lead(pc) OVER w AS DOUBLE)/100, -1) AS next_price,
           CAST(first_value(pc) OVER wf AS DOUBLE)/100 AS first_price,
           CAST(last_value(pc) OVER wf AS DOUBLE)/100 AS last_price
    FROM (SELECT *, CAST(round(o_totalprice*100) AS BIGINT) AS pc FROM orders)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_custkey, o_orderkey"""

  /** ntile / percent_rank / cume_dist on a unique total order. */
  def q_window_ntile(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir)("orders")
    o.select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(wKey).as("quartile"),
        percent_rank().over(wKey).as("pr"),
        cume_dist().over(wKey).as("cd"))
      .presentSorted("o_custkey", "o_orderkey")
  }

  val q_window_ntile_sql: String = """
    SELECT o_custkey, o_orderkey,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey"""

  /** Per-group top-k via ranking filter — Catalyst rewrites to
    * WindowGroupLimit (Hive: PTFTopNHash pushdown, ql/exec/PTFTopNHash). */
  def q_window_topk(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir)("orders")
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .presentSorted("o_custkey", "rn")
  }

  val q_window_topk_sql: String = """
    SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      SELECT *, row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    ORDER BY o_custkey, rn"""

  // --------------------------------------------------------------------
  // Event-stream shapes, batch-mode (Hive 2.3 has no stream queries at
  // all — SURVEY.md §2.12).
  // --------------------------------------------------------------------

  /** Tumbling 1-hour window aggregation over event time. */
  def q_events_window(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir)("events")
    e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(cents(col("value"))).cast("double") / 100).as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("total_value"))
      .presentSorted("ws", "event_type")
  }

  val q_events_window_sql: String = """
    SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS ws, event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100
             AS total_value
    FROM events GROUP BY ws, event_type ORDER BY ws, event_type"""

  /** Gap-based sessionization (30 min): lag -> flag -> running sum =
    * session id, then per-session rollup. The whole computation is two
    * window passes over one hash partitioning by user_id — no driver
    * loops, scales linearly with executors. */
  def q_events_sessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir)("events")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) -
      unix_micros(lag(col("ts"), 1).over(w))
    e.withColumn("is_new",
        when(gapUs.isNull || gapUs > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("sess", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
      .presentSorted("user_id", "sess")
  }

  val q_events_sessionize_sql: String = """
    WITH x AS (SELECT user_id, event_id,
                      make_timestamp(epoch_ns(ts) // 1000) AS tsx
               FROM events),
    g AS (SELECT user_id, event_id, tsx,
                 epoch_us(tsx) - lag(epoch_us(tsx))
                   OVER (PARTITION BY user_id ORDER BY tsx, event_id) AS gap
          FROM x),
    s AS (SELECT user_id, tsx,
                 sum(CASE WHEN gap IS NULL OR gap > 1800000000
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY tsx, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess
          FROM g)
    SELECT user_id, CAST(sess AS BIGINT) AS sess, count(*) AS n_events,
           min(tsx) AS start_ts, max(tsx) AS end_ts
    FROM s GROUP BY user_id, sess ORDER BY user_id, sess"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_window_rank" -> (q_window_rank _),
    "q_window_running" -> (q_window_running _),
    "q_window_frame" -> (q_window_frame _),
    "q_window_range" -> (q_window_range _),
    "q_window_leadlag" -> (q_window_leadlag _),
    "q_window_ntile" -> (q_window_ntile _),
    "q_window_topk" -> (q_window_topk _),
    "q_events_window" -> (q_events_window _),
    "q_events_sessionize" -> (q_events_sessionize _))

  def oracleSql: Map[String, String] = Map(
    "q_window_rank" -> q_window_rank_sql,
    "q_window_running" -> q_window_running_sql,
    "q_window_frame" -> q_window_frame_sql,
    "q_window_range" -> q_window_range_sql,
    "q_window_leadlag" -> q_window_leadlag_sql,
    "q_window_ntile" -> q_window_ntile_sql,
    "q_window_topk" -> q_window_topk_sql,
    "q_events_window" -> q_events_window_sql,
    "q_events_sessionize" -> q_events_sessionize_sql)
}
