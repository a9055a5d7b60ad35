package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.pipeline.{Dag, DictionaryRefresh, IncrementalLoad, Retention}

/** What one simulated day did, as seen from outside the program. */
final case class DayRecord(day: Int, sec: Double, loaded: Map[String, Long],
                           loadSec: Double, retentionSec: Double,
                           dictSec: Double, dictReloaded: Boolean,
                           counters: Option[Counters],
                           lakeRowsBefore: Long, lakeRowsAfter: Long,
                           watermarkSec: Double)

/** The reference's `@daily` job over the generated Superset source: the
  * v2 DAG with three parallel incremental loads, the 30-month retention
  * rewrite in its retention hook, then one enrichment read through the
  * `ab_user` dictionary on a simulated clock.
  *
  * The source of day `d` is the history file plus the delta files of days
  * 1..d, so the incremental filter scans a source that keeps growing, as
  * the PostgreSQL table behind the reference does.
  */
final class DailyJob(spark: SparkSession, src: String, lake: String,
                     anchor: Timestamp, retentionMonths: Int, ttlHours: Int,
                     trace: Trace) {
  private val DayMs = 86400000L
  /** Simulated wall clock: end of the current day. */
  @volatile var now: Long = anchor.getTime

  private val logsCols = Seq("id", "action", "user_id", "json", "dttm",
    "dashboard_id", "slice_id", "duration_ms", "referrer")
  val logsCfg = IncrementalLoad.Config("id", "dttm", "dttm", logsCols,
    sourceName = "superset",
    defaults = Map("action" -> "undefined", "user_id" -> -1,
      "json" -> "undefined", "dashboard_id" -> -1, "slice_id" -> -1,
      "duration_ms" -> 0, "referrer" -> "undefined"))
  val usersCfg = IncrementalLoad.Config("id", "changed_on", "changed_on",
    Seq("id", "first_name", "last_name", "username", "email", "password",
      "active", "last_login", "created_on", "changed_on", "login_count",
      "fail_login_count", "created_by_fk", "changed_by_fk"),
    sourceName = "",
    defaults = Map("password" -> "undefined", "active" -> false,
      "login_count" -> 0, "fail_login_count" -> 0, "created_by_fk" -> -1,
      "changed_by_fk" -> -1))
  val dashboardsCfg = IncrementalLoad.Config("id", "changed_on", "changed_on",
    Seq("created_on", "changed_on", "id", "dashboard_title", "position_json",
      "css", "description", "slug", "json_metadata", "certified_by",
      "certification_details", "external_url", "created_by_fk",
      "changed_by_fk", "published", "is_managed_externally", "uuid"),
    sourceName = "",
    defaults = Map("dashboard_title" -> "undefined",
      "position_json" -> "undefined", "css" -> "undefined",
      "description" -> "undefined", "slug" -> "undefined",
      "json_metadata" -> "undefined", "certified_by" -> "undefined",
      "certification_details" -> "undefined", "external_url" -> "undefined",
      "created_by_fk" -> -1, "changed_by_fk" -> -1, "published" -> false,
      "is_managed_externally" -> false,
      "uuid" -> "00000000-0000-0000-0000-000000000000"))

  def path(table: String): String = s"$lake/$table"

  /** Dictionary loads, counted by the loader the benchmark hands in. */
  @volatile var dictLoads = 0L
  var dictGets = 0L

  /** The loader reads and caches the dimension eagerly, so a reload costs
    * its scan and keep-latest inside `DictionaryRefresh.get`, not in the
    * first query that uses it. */
  private def dict(table: String, cols: Seq[String]) =
    new DictionaryRefresh(() => {
      dictLoads += 1
      val dim = IncrementalLoad.readDeduped(spark, path(table), "id",
        "changed_on").select(cols.map(col): _*).cache()
      dim.count()
      dim
    }, ttlHours * 3600L * 1000L, () => now)

  val users: DictionaryRefresh =
    dict("ab_user", Seq("id", "username", "first_name", "active"))
  val dashboards: DictionaryRefresh =
    dict("dashboards", Seq("id", "dashboard_title", "published"))

  def getDim(d: DictionaryRefresh): DataFrame = {
    dictGets += 1
    trace.span("DictionaryRefresh.get")(d.get())
  }

  private def source(table: String, day: Int): DataFrame =
    spark.read.parquet((s"$src/$table/history.parquet" +:
      (1 to day).map(d => f"$src/$table/day_$d%04d.parquet")): _*)

  private var lakeRows = 0L

  /** Run day `d` (0 = cold start over the full history). */
  def runDay(d: Int): DayRecord = {
    now = anchor.getTime + d * DayMs
    val nowTs = new Timestamp(now)
    val dayStart = new Timestamp(now - DayMs)
    val c0 = if (trace.on) Some(trace.counters()) else None
    val t0 = System.nanoTime()
    val jobs = Seq(
      Dag.TableJob("logs", source("logs", d), path("logs"), logsCfg),
      Dag.TableJob("ab_user", source("ab_user", d), path("ab_user"), usersCfg),
      Dag.TableJob("dashboards", source("dashboards", d), path("dashboards"),
        dashboardsCfg))
    var retentionNs = 0L
    val hook = () => {
      val r0 = System.nanoTime()
      trace.span("Retention.rewrite") {
        Retention.rewrite(spark, path("logs"), "dttm", "id", retentionMonths,
          nowTs)
      }
      retentionNs = System.nanoTime() - r0
    }
    val loaded = trace.span("Dag.runV2")(Dag.runV2(spark, jobs, Some(hook)))
    val t1 = System.nanoTime()
    val loadsBefore = dictLoads
    val dim = getDim(users)
    val t2 = System.nanoTime()
    trace.span("enrich") {
      Relational.enrich(
        spark.read.parquet(path("logs")).filter(col("dttm") > lit(dayStart)),
        dim, "user_id", "id", Seq("username"))
        .groupBy("username").count().collect()
    }
    val t3 = System.nanoTime()
    val c1 = if (trace.on) Some(trace.counters()) else None
    // Traced-only side measurements, outside the counter window.
    val before = lakeRows + loaded("logs")
    var wmSec = 0.0
    if (trace.on) trace.extra {
      lakeRows = spark.read.parquet(path("logs")).count()
      val w0 = System.nanoTime()
      trace.span("Relational.watermark")(
        Relational.watermark(spark.read.parquet(path("logs")), "dttm"))
      wmSec = (System.nanoTime() - w0) / 1e9
    }
    DayRecord(d, (t3 - t0) / 1e9, loaded, (t1 - t0 - retentionNs) / 1e9,
      retentionNs / 1e9, (t2 - t1) / 1e9, dictLoads > loadsBefore,
      for (a <- c0; b <- c1) yield b - a, before, lakeRows, wmSec)
  }

  /** Parquet files and bytes under the lake's `logs` table. */
  def lakeShape(): (Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(path("logs"))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var files = 0
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { files += 1; bytes += f.getLen }
    }
    (files, bytes)
  }

  /** The keep-latest view of the logs table, as queries read it. */
  def logsView(): DataFrame =
    trace.span("IncrementalLoad.readDeduped")(
      IncrementalLoad.readDeduped(spark, path("logs"), "id", "dttm"))
}
