package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Sessions, SparkEntry}
import graft.operators.Similarity

/** One timed operation: a simulated day, a query or a kernel run. */
final case class Op(name: String, family: String, pass: Int, sec: Double,
                    ok: Boolean, planSec: Double = 0, exchanges: Int = 0,
                    counters: Option[Counters] = None, cachedRdds: Int = 0)

/** Benchmark JVM: runs one workload over generated inputs and
  * writes a run record (`result.json`) that `run.py` turns into metrics.
  *
  * Usage: perfbench.Main <workload> <inputDir> <outDir> <seconds> <trace> <seed>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, in, out, secondsArg, traceArg, seed) = args
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Sessions.local(4, "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(traceArg == "1", spark, s"$workload-${jvmStart}")
    val run = new Run(spark, trace, in, out, secondsArg.toDouble, seed.toLong)
    val record = workload match {
      case "replicate_daily" => run.replicate()
      case "serve_queries" => run.serve()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val startupSec = (run.sessionReady - jvmStart) / 1000.0
    Files.writeString(Paths.get(s"$out/result.json"), Json.render(
      record ++ Map("jvm_startup_s" -> startupSec)))
    if (trace.on) trace.writeSpans(s"$out/spans.jsonl")
    spark.stop()
  }
}

final class Run(spark: SparkSession, trace: Trace, in: String, out: String,
                seconds: Double, seed: Long) {
  val sessionReady: Long = System.currentTimeMillis()
  private val calib = new Calibration(spark)
  private val heap = new HeapPeak
  private val ops = ArrayBuffer.empty[Op]
  private var setupSec = 0.0
  private var timedNs = 0L
  private var overheadAtStart = 0L

  private def now = System.nanoTime()
  private def secSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Generator settings the workloads need (anchor, days, retention, TTL). */
  private def meta: Map[String, String] = {
    val p = new java.util.Properties
    val r = Files.newBufferedReader(Paths.get(s"$in/rep/meta.properties"))
    try p.load(r) finally r.close()
    p.stringPropertyNames.asScala.map(k => k -> p.getProperty(k)).toMap
  }

  /** Timed phase: `step(i)` runs op batch i until the clock or `more` ends.
    * Calibration probes sit between batches and are excluded from the
    * timed wall.
    */
  private def timed(step: Int => Unit, more: Int => Boolean = _ => true): Unit = {
    calib.probe("pre")
    System.gc()
    overheadAtStart = trace.overheadNs
    var i = 0
    var probed = false
    while (timedNs / 1e9 < seconds && more(i)) {
      val t0 = now
      step(i)
      timedNs += now - t0
      heap.sample()
      if (!probed && timedNs / 1e9 >= seconds / 2) {
        calib.probe(s"mid:after_batch_$i"); probed = true
      }
      i += 1
    }
    calib.probe("post")
  }

  /** Progress line per op in the JVM log. */
  private def log(o: Op): Op = {
    System.err.println(f"[perfbench] pass ${o.pass} ${o.name} ${o.sec}%.3f s ok=${o.ok}")
    o
  }

  private def opRecord(o: Op): Map[String, Any] = Map("name" -> o.name,
    "family" -> o.family, "pass" -> o.pass, "sec" -> o.sec, "ok" -> o.ok,
    "plan_s" -> o.planSec, "exchanges" -> o.exchanges,
    "cached_rdds" -> o.cachedRdds) ++
    o.counters.map(counterRecord).getOrElse(Map.empty)

  private def counterRecord(c: Counters): Map[String, Any] = Map(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "task_run_s" -> c.runNs / 1e9, "task_cpu_s" -> c.cpuNs / 1e9,
    "gc_s" -> c.gcMs / 1e3, "shuffle_write_bytes" -> c.shuffleWrite,
    "shuffle_read_bytes" -> c.shuffleRead, "spill_bytes" -> c.spill,
    "input_rows" -> c.inputRows, "input_bytes" -> c.inputBytes,
    "output_bytes" -> c.outputBytes)

  private def record(extra: Map[String, Any]): Map[String, Any] = {
    Map("setup_s" -> setupSec, "timed_s" -> timedNs / 1e9,
      "heap_peak_mb" -> heap.peakMb, "ops" -> ops.map(opRecord).toSeq,
      "trace_overhead_s" -> (trace.overheadNs - overheadAtStart) / 1e9,
      "codegen_fallbacks" -> trace.codegen.count.sum) ++
      calib.json ++ extra
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def dump(name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$out/dump/$name")

  private def writeOracle(names: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/dump/oracle_sql.json"), Json.render(
      names.filter(sql.contains).map(n => n -> sql(n)).toMap))
  }

  private def newJob(lake: String): (DailyJob, Map[String, String]) = {
    val m = meta
    (new DailyJob(spark, s"$in/rep", lake, Timestamp.valueOf(m("anchor")),
      m("retention_months").toInt, m("ttl_hours").toInt, trace), m)
  }

  // --- replicate_daily ---------------------------------------------------

  def replicate(): Map[String, Any] = {
    val t0 = now
    val (job, m) = newJob(s"$out/lake")
    val cold = job.runDay(0)
    val warmDays = 1
    val warm = (1 to warmDays).map(job.runDay)
    setupSec = secSince(t0)
    val lastDay = m("days").toInt
    val days = ArrayBuffer.empty[DayRecord]
    timed(i => {
      val d = job.runDay(warmDays + 1 + i)
      days += d
      ops += Op(s"day_${d.day}", "day", 0, d.sec, ok = true,
        counters = d.counters,
        cachedRdds = if (trace.on) trace.cachedRdds() else 0)
    }, i => warmDays + 1 + i <= lastDay)
    val lastRun = warmDays + days.size
    val (files, bytes) =
      if (trace.on) trace.extra(job.lakeShape()) else (0, 0L)
    // Untimed output dump: the final keep-latest lake, written by four
    // tasks (it is the largest dump).
    job.logsView().drop("month").write.mode("overwrite")
      .parquet(s"$out/dump/lake_logs_final")
    record(Map(
      "cold_load_s" -> cold.sec, "last_day" -> lastRun,
      "anchor" -> m("anchor"),
      "loaded" -> (Seq(cold) ++ warm ++ days).map(d => Map("day" -> d.day,
        "loaded" -> d.loaded)).toSeq,
      "days" -> days.map(d => Map("day" -> d.day,
        "load_s" -> d.loadSec, "retention_s" -> d.retentionSec,
        "dict_s" -> d.dictSec, "dict_reloaded" -> d.dictReloaded,
        "watermark_s" -> d.watermarkSec,
        "lake_rows_before" -> d.lakeRowsBefore,
        "lake_rows_after" -> d.lakeRowsAfter,
        "delta_rows" -> d.loaded.values.sum)).toSeq,
      "dict_gets" -> job.dictGets, "dict_loads" -> job.dictLoads,
      "lake_files" -> files, "lake_bytes" -> bytes))
  }

  // --- serve_queries -----------------------------------------------------

  /** Exchanges in the plan as executed (adaptive stages included). */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _: ReusedExchangeExec => 0
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum +
      other.subqueries.map(exchanges).sum
  }

  /** Dashboard queries over the lake: the keep-latest logs view joined to
    * a dictionary dimension served from the TTL cache. */
  private def lakeQueries(job: DailyJob, recentFrom: Timestamp)
      : Seq[(String, () => DataFrame)] = {
    def logs = job.logsView().drop("month")
    import graft.operators.Relational.enrich
    Seq(
      "lake_views_by_dashboard" -> (() =>
        enrich(logs, job.getDim(job.dashboards), "dashboard_id", "id",
          Seq("dashboard_title")).groupBy("dashboard_title").count()
          .orderBy("dashboard_title")),
      "lake_published_share" -> (() =>
        enrich(logs, job.getDim(job.dashboards), "dashboard_id", "id",
          Seq("published")).groupBy("published", "action").count()
          .orderBy("published", "action")),
      "lake_actions_by_user" -> (() =>
        enrich(logs, job.getDim(job.users), "user_id", "id", Seq("username"))
          .groupBy("username").agg(count(lit(1)).as("n"),
            max("dttm").as("last_seen")).orderBy("username")),
      "lake_recent_by_first_name" -> (() =>
        enrich(logs.filter(col("dttm") >= lit(recentFrom)),
          job.getDim(job.users), "user_id", "id", Seq("first_name"))
          .groupBy("first_name").agg(count(lit(1)).as("n"),
            sum("duration_ms").as("duration_ms")).orderBy("first_name")),
      "lake_active_monthly" -> (() =>
        enrich(logs, job.getDim(job.users), "user_id", "id", Seq("active"))
          .groupBy(date_trunc("month", col("dttm")).as("month"), col("active"))
          .agg(countDistinct("user_id").as("users"))
          .orderBy("month", "active")))
  }

  /** Rows and schema of the last timed execution of each query. */
  private val results =
    scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]

  /** One query or kernel: build the DataFrame, plan it, collect its rows
    * to the Spark driver as a client would. */
  private def runOp(pass: Int, name: String, fam: String,
                    fn: () => DataFrame): Op = {
    val c0 = if (trace.on) Some(trace.counters()) else None
    val q0 = now
    var plan: SparkPlan = null
    var planSec = 0.0
    val ok = try {
      trace.span(name) {
        val df = fn()
        plan = df.queryExecution.executedPlan
        planSec = secSince(q0)
        results(name) = (df.collect(), df.schema)
      }
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e"); false
    }
    val sec = secSince(q0)
    log(Op(name, fam, pass, sec, ok, planSec,
      if (trace.on && ok) trace.extra(exchanges(plan)) else 0,
      for (a <- c0) yield trace.counters() - a,
      if (trace.on) trace.cachedRdds() else 0))
  }

  /** Untimed: write what the timed runs returned, for the DuckDB checks. */
  private def dumpResults(names: Seq[String]): Unit =
    for (n <- names; (rows, schema) <- results.get(n))
      dump(n, spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))

  /** Reference-parity entries served, with their family: TPC-H shapes,
    * relational operators, window/time-series, dictionary and SCD lookups. */
  private val served = Seq(
    "q1_pricing_summary" -> "tpch", "q3_revenue_topk" -> "tpch",
    "q10_returned_items" -> "tpch", "s2_scan_projection" -> "relational",
    "a4_dedup_latest" -> "relational", "x7_json_extract" -> "relational",
    "w1_running_window" -> "window", "w3_sessionize" -> "window",
    "j1_dict_get_sql" -> "dict_scd", "scd_point_in_time" -> "dict_scd")

  /** Heavy corpus kernels, one per operator family: MinHash clustering,
    * stored-index IVF-PQ search, PageRank, ZCA whitening and a Kneser-Ney
    * language model. */
  private val kernels = Seq(
    "dedup_cluster_canonical" -> "dedup", "ann_ivfpq_indexed_fixed" -> "ann",
    "graph_pagerank" -> "graph", "emb_zca_whiten" -> "embed",
    "text_kneser_ney" -> "text")
  /** The stored index `ann_ivfpq_indexed_fixed` reads. */
  private val builds = Seq("ann_fixed_index_build")
  /** Approximate top-k entries scored for recall@5. */
  private val annEntries = Seq("ann_ivfpq_indexed_fixed")

  /** Recall@5 of each ANN entry's served result against the exact top-k
    * under L2 (the vectors are unit length, so cosine and L2 rank alike). */
  private def recallAt5(fx: String): Map[String, Double] = {
    val emb = graft.Tables.load(spark, fx, "embeddings")
    val exact = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", 5,
      (a, b) => lit(0.0) - graft.functions.VectorExprs.l2DistSq(spark, a, b))
    def topk(rows: Array[Row], schema: StructType): Map[Long, Set[Long]] = {
      val (q, c) = (schema.fieldIndex("query_id"), schema.fieldIndex("cand_id"))
      rows.groupBy(r => r.getAs[Number](q).longValue)
        .map { case (k, rs) => k -> rs.map(_.getAs[Number](c).longValue).toSet }
    }
    val truth = topk(exact.collect(), exact.schema)
    annEntries.flatMap(n => results.get(n).map { case (rows, sch) =>
      val got = topk(rows, sch)
      n -> truth.map { case (q, ids) =>
        got.getOrElse(q, Set.empty[Long]).intersect(ids).size / ids.size.toDouble
      }.sum / truth.size
    }).toMap
  }

  def serve(): Map[String, Any] = {
    val t0 = now
    val fx = s"$in/fx"
    val (job, m) = newJob(s"$out/lake")
    val cold = job.runDay(0)
    val b0 = now
    builds.foreach(n => trace.span(n)(SparkEntry.benchBuilds(n)(spark, fx)))
    val buildSec = secSince(b0)
    // Both dimensions loaded and cached: the timed passes stay in one TTL
    // window, so every lake query is served from the dictionary cache.
    job.getDim(job.users)
    job.getDim(job.dashboards)
    val recentFrom = new Timestamp(job.now - 30L * 86400000L)
    val lake = lakeQueries(job, recentFrom).toMap
    val all = SparkEntry.queries ++ SparkEntry.sweepQueries
    // Seeded fixed order; every pass runs it unchanged.
    val families = (served ++ kernels ++ lake.keys.map(_ -> "lake")).toMap
    val order = new scala.util.Random(seed).shuffle(families.keys.toSeq.sorted)
    val entries: Seq[(String, String, () => DataFrame)] = order.map { n =>
      (n, families(n), lake.getOrElse(n, () => all(n)(spark, fx)))
    }
    setupSec = secSince(t0)
    val dictGetsAtTimed = job.dictGets
    val dictLoadsAtTimed = job.dictLoads
    val dedupSecs = ArrayBuffer.empty[Double]
    timed { pass =>
      entries.foreach { case (n, f, fn) => ops += runOp(pass, n, f, fn) }
      if (trace.on) trace.extra {
        val d0 = now
        materialize(job.logsView())
        dedupSecs += secSince(d0)
      }
    }
    val dictGets = job.dictGets - dictGetsAtTimed
    val dictLoads = job.dictLoads - dictLoadsAtTimed
    val (files, bytes) =
      if (trace.on) trace.extra(job.lakeShape()) else (0, 0L)
    val lakeRows = if (trace.on) trace.extra(job.logsView().count()) else 0L
    // Untimed checks: what the timed runs returned, for the DuckDB oracle
    // compare, and recall@5 of the ANN entries.
    dumpResults(order.filter(n => lake.contains(n) ||
      SparkEntry.oracleSql.contains(n)))
    writeOracle(order)
    record(Map("cold_load_s" -> cold.sec, "last_day" -> 0,
      "loaded" -> Seq(Map("day" -> cold.day, "loaded" -> cold.loaded)),
      "anchor" -> m("anchor"),
      "dict_gets" -> dictGets, "dict_loads" -> dictLoads,
      "read_deduped_s" -> dedupSecs.toSeq,
      "lake_files" -> files, "lake_bytes" -> bytes,
      "lake_rows" -> lakeRows, "index_build_s" -> buildSec,
      "recall" -> recallAt5(fx)))
  }
}
