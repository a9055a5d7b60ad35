package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side counters, summed over every task, stage and job the
  * session runs. A snapshot is an immutable copy; `-` gives the work done
  * between two snapshots.
  */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          runNs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
                          shuffleWrite: Long = 0, shuffleRead: Long = 0,
                          spill: Long = 0, inputRows: Long = 0,
                          inputBytes: Long = 0, outputBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runNs - o.runNs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, inputRows - o.inputRows, inputBytes - o.inputBytes,
    outputBytes - o.outputBytes)
}

/** Listener counting jobs, stages, tasks, task time, CPU, GC, shuffle,
  * spill, input and output.
  */
final class CountingListener extends SparkListener {
  private val f = Array.fill(12)(new LongAdder)

  override def onJobStart(e: SparkListenerJobStart): Unit = f(0).increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    f(1).increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    f(2).increment()
    val m = e.taskMetrics
    if (m != null) {
      f(3).add(m.executorRunTime * 1000000L)
      f(4).add(m.executorCpuTime)
      f(5).add(m.jvmGCTime)
      f(6).add(m.shuffleWriteMetrics.bytesWritten)
      f(7).add(m.shuffleReadMetrics.totalBytesRead)
      f(8).add(m.memoryBytesSpilled + m.diskBytesSpilled)
      f(9).add(m.inputMetrics.recordsRead)
      f(10).add(m.inputMetrics.bytesRead)
      f(11).add(m.outputMetrics.bytesWritten)
    }
  }

  def snapshot: Counters = {
    val v = f.map(_.sum)
    Counters(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10), v(11))
  }
}

/** Counts whole-stage codegen compile failures: Catalyst logs them at
  * ERROR on the CodeGenerator logger ("failed to compile ... grows beyond
  * 64 KB") and falls back to interpreted evaluation.
  */
final class CodegenFallbackAppender
    extends AbstractAppender("perfbench-codegen", null, null, true, null) {
  val count = new LongAdder
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.ERROR))
      count.increment()
}

final case class Span(name: String, start: Long, end: Long, parent: Int,
                      id: Int)

/** The benchmark's tracing: off, every hook is a plain call. On, it keeps
  * spans in memory, owns the listener and the codegen appender, audits
  * cached RDDs, and accounts the main-thread time its own bookkeeping
  * takes (`overheadNs`).
  */
final class Trace(val on: Boolean, spark: SparkSession, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var overhead = 0L
  val listener = new CountingListener
  val codegen = new CodegenFallbackAppender
  if (on) {
    spark.sparkContext.addSparkListener(listener)
    codegen.start()
    val l = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
      .asInstanceOf[Logger]
    l.addAppender(codegen)
  }

  /** One span per outer call into the program. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      val id = spans.size
      spans += Span(name, t0, 0, stack.headOption.getOrElse(-1), id)
      stack = id :: stack
      overhead += System.nanoTime() - t0
      try body
      finally {
        val t1 = System.nanoTime()
        spans(id) = spans(id).copy(end = t1)
        stack = stack.tail
        overhead += System.nanoTime() - t1
      }
    }

  /** Time a traced-only side measurement and book it as trace overhead. */
  def extra[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overhead += System.nanoTime() - t0
  }

  /** Wait until every event posted so far reached the listener, then
    * read the counters. The bus is private to Spark, so this goes
    * through reflection.
    */
  def counters(): Counters = extra {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    listener.snapshot
  }

  /** Cached RDDs still registered after an op. */
  def cachedRdds(): Int = extra(spark.sparkContext.getRDDStorageInfo.length)

  def overheadNs: Long = overhead

  def writeSpans(path: String): Unit = {
    val lines = spans.map { s =>
      Json.render(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

/** Largest JVM heap still in use after a full collection, read
  * between batches of the timed phase (outside the timed wall): the live
  * set the workload keeps, independent of when the collector happens to
  * run. The first collection lets Spark's ContextCleaner see unreferenced
  * broadcasts and shuffles; the pause lets it drop their blocks, so the
  * second collection reads the heap without them.
  */
final class HeapPeak {
  private var peakBytes = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peakBytes) peakBytes = used
  }
  def peakMb: Double = peakBytes / (1024.0 * 1024.0)
}

/** Fixed-cost calibration probe (the engine's Bench probe): CPU-bound,
  * no I/O, no shuffle. Interleaved readings stamp a run as contended.
  */
final class Calibration(spark: SparkSession) {
  val readings = ArrayBuffer.empty[(String, Double)]
  def probe(label: String): Unit = {
    val t0 = System.nanoTime()
    spark.range(64L << 20).selectExpr("bit_xor(xxhash64(id)) AS h")
      .write.format("noop").mode("overwrite").save()
    readings += ((label, (System.nanoTime() - t0) / 1e9))
  }
  def json: Map[String, Any] = {
    val (at, worst) = readings.maxBy(_._2)
    Map("calib_worst_s" -> worst, "calib_worst_at" -> at,
      "calib_readings" -> readings.map { case (l, v) => Seq(l, v) }.toSeq)
  }
}

/** JSON rendering of the run record (Scala maps, sequences, numbers). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}
