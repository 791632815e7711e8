package graft.operators

import graft.{QueryDef, Tables}
import graft.QueryDef.withOracle
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sessionization + bounce-rate view (SURVEY.md §2.3 `sessionize_visits`,
  * `bounce_rate_view`; reference AnalyzeVisits BatchWorkflow.java:507-534
  * and bouncesView :536-559).
  *
  * We implement the *intended* gap-based semantics: a visit is a maximal
  * run of pageviews by one (domain, user) with < 15 min between successive
  * views; a bounce is a 1-pageview visit. (The reference's literal code
  * never updates `lastTime` — BatchWorkflow.java:514-527 — making every
  * pageview its own visit; documented divergence per SURVEY.md §7.4.)
  *
  * Shape: window `lag` over (domain, user) ordered by time → gap flags →
  * running sum as session id → per-session aggregate. One shuffle on the
  * (domain, user) grouping keys; no driver-side state. At 100 TB the
  * (domain,user) key space is the user population — high cardinality, so
  * the window partitions stay small and skew-free.
  */
object Sessionize {

  val GapSecs = 900L // 15 min, BatchWorkflow.java:529-533

  /** Per-(keys…) sessions of `df` split on > gapSecs between successive
    * `tsSecs`. Adds `visit_id` (1-based per group), `n_pageviews`,
    * `start_secs`, `end_secs`.
    */
  def sessions(df: DataFrame, keys: Seq[String], tsSecs: Column,
      tieBreak: Column, gapSecs: Long = GapSecs): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tsSecs, tieBreak)
    val newSession = when(
      tsSecs - lag(tsSecs, 1).over(w) > gapSecs || lag(tsSecs, 1).over(w).isNull, 1
    ).otherwise(0)
    df.withColumn("visit_id",
        sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__ts", tsSecs)
      .groupBy(keys.map(col) :+ col("visit_id"): _*)
      .agg(count(lit(1)).as("n_pageviews"),
        min(col("__ts")).as("start_secs"),
        max(col("__ts")).as("end_secs"))
  }

  private val ts = Tables.sql.tsSecs
  private val dom = Tables.sql.domain

  // Shared oracle CTE: per-(domain,user) sessions over events.
  private val sessionsCte =
    s"""WITH pv AS (
       |  SELECT $dom AS domain, user_id, $ts AS ts_secs, event_id FROM events),
       |flagged AS (
       |  SELECT domain, user_id, ts_secs, event_id,
       |         CASE WHEN ts_secs - lag(ts_secs) OVER w > ${GapSecs}
       |                OR lag(ts_secs) OVER w IS NULL THEN 1 ELSE 0 END AS ns
       |  FROM pv WINDOW w AS (PARTITION BY domain, user_id ORDER BY ts_secs, event_id)),
       |sess AS (
       |  SELECT domain, user_id, ts_secs,
       |         sum(ns) OVER (PARTITION BY domain, user_id ORDER BY ts_secs, event_id
       |                       ROWS UNBOUNDED PRECEDING) AS visit_id
       |  FROM flagged),
       |visits AS (
       |  SELECT domain, user_id, visit_id, count(*) AS n_pageviews,
       |         min(ts_secs) AS start_secs, max(ts_secs) AS end_secs
       |  FROM sess GROUP BY domain, user_id, visit_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    withOracle(
      "sessionize_visits",
      s"""$sessionsCte
         |SELECT domain, user_id, CAST(visit_id AS BIGINT) AS visit_id,
         |       n_pageviews, start_secs, end_secs
         |FROM visits ORDER BY domain, user_id, visit_id""".stripMargin) { (s, dir) =>
      sessionizedEvents(s, dir)
        .select(col("domain"), col("user_id"), col("visit_id").cast("long"),
          col("n_pageviews"), col("start_secs"), col("end_secs"))
        .orderBy("domain", "user_id", "visit_id")
    },

    // The NATIVE form of sessionize_visits: Spark's built-in
    // session_window aggregation instead of the lag/cumsum window pair.
    // Boundary semantics verified identical (events exactly GapSecs
    // apart MERGE; one second more splits — the CTE's `> gap` rule), so
    // it shares the oracle. One fewer analytic-window pass: the session
    // assignment happens inside the aggregation (with partial merge)
    // rather than in a pre-pass over the ordered partition; visit_id is
    // recovered from a per-user window over the SESSIONS relation
    // (visit-cardinality-sized, not event-sized).
    withOracle(
      "sessionize_native",
      s"""$sessionsCte
         |SELECT domain, user_id, CAST(visit_id AS BIGINT) AS visit_id,
         |       n_pageviews, start_secs, end_secs
         |FROM visits ORDER BY domain, user_id, visit_id""".stripMargin) { (s, dir) =>
      val pv = Tables.events(s, dir).select(
        graft.functions.UrlFunctions.extractDomain(col("url")).as("domain"),
        col("user_id"), col("ts_secs"))
      val sess = pv
        .groupBy(col("domain"), col("user_id"),
          session_window(timestamp_seconds(col("ts_secs")), s"$GapSecs seconds").as("sw"))
        .agg(count(lit(1)).as("n_pageviews"),
          min(col("ts_secs")).as("start_secs"), max(col("ts_secs")).as("end_secs"))
      sess
        .withColumn("visit_id", row_number().over(
          Window.partitionBy("domain", "user_id").orderBy("start_secs")).cast("long"))
        .select(col("domain"), col("user_id"), col("visit_id"),
          col("n_pageviews"), col("start_secs"), col("end_secs"))
        .orderBy("domain", "user_id", "visit_id")
    },

    // bouncesView: per-domain (visits, bounces). Value order is positionally
    // (num-visits, num-bounces) — the reference's var names at
    // BatchWorkflow.java:413-418 are misleading; SURVEY.md §2.3.
    withOracle(
      "bounce_rate_view",
      s"""$sessionsCte
         |SELECT domain, count(*) AS visits,
         |       CAST(sum(CASE WHEN n_pageviews = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces
         |FROM visits GROUP BY domain ORDER BY domain""".stripMargin) { (s, dir) =>
      sessionizedEvents(s, dir)
        .groupBy("domain")
        .agg(count(lit(1)).as("visits"),
          sum(when(col("n_pageviews") === 1, 1).otherwise(0)).cast("long").as("bounces"))
        .orderBy("domain")
    }
  )

  private def sessionizedEvents(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val pv = Tables.events(s, dir).select(
      graft.functions.UrlFunctions.extractDomain(col("url")).as("domain"),
      col("user_id"), col("ts_secs"), col("event_id"))
    sessions(pv, Seq("domain", "user_id"), col("ts_secs"), col("event_id"))
  }
}
