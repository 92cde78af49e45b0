package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sink.SnapshotSink

/** Everything the traced run records, taken only from outside the
  * engine: calls into its public API are timed here, and Spark's own
  * public listener and progress events are read. Spans stay in memory
  * and are written out once, when the run ends.
  */
final class Spans {
  import Spans.Span

  private val buf = mutable.ArrayBuffer.empty[Span]

  def record(layer: String, name: String, startNs: Long, endNs: Long,
      parent: String = "", counts: Map[String, Double] = Map.empty): Unit =
    synchronized { buf += Span(layer, name, startNs, endNs, parent, counts) }

  def all: Seq[Span] = synchronized(buf.toList)

  def writeJsonLines(file: File): Unit = {
    val lines = all.map { s =>
      Json.render(Map("layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "counts" -> s.counts))
    }
    Files.write(file.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    ()
  }
}

object Spans {
  final case class Span(layer: String, name: String, startNs: Long, endNs: Long,
      parent: String, counts: Map[String, Double]) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}

/** Counts Spark jobs per streaming micro-batch (the batch
  * id Spark puts in the properties of every job it runs for a batch)
  * and per benchmark span (a property the benchmark sets on its own
  * calling thread around each timed call).
  */
final class JobCounter extends SparkListener {
  private val byBatch = new ConcurrentHashMap[Long, AtomicLong]
  private val bySpan = new ConcurrentHashMap[String, AtomicLong]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop(JobCounter.BatchIdKey).flatMap(_.toLongOption)
      .foreach(b => byBatch.computeIfAbsent(b, _ => new AtomicLong).incrementAndGet())
    prop(JobCounter.SpanKey)
      .foreach(s => bySpan.computeIfAbsent(s, _ => new AtomicLong).incrementAndGet())
  }

  def jobsOfBatch(b: Long): Long = Option(byBatch.get(b)).map(_.get).getOrElse(0L)
  def jobsOfSpan(s: String): Long = Option(bySpan.get(s)).map(_.get).getOrElse(0L)
}

object JobCounter {
  /** Local property Spark's micro-batch engine sets on every job it runs. */
  val BatchIdKey = "streaming.sql.batchId"
  val SpanKey = "perfbench.span"

  def register(spark: SparkSession): JobCounter = {
    val c = new JobCounter
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Runs `body` with every job it starts tagged as span `id`. */
  def tagged[T](spark: SparkSession, id: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }

  /** Listener events arrive asynchronously; give the bus time to drain
    * before counts are read at the end of a run.
    */
  def settle(): Unit = Thread.sleep(1000)
}

/** Streaming progress as Spark reports it: one record per micro-batch,
  * with its phase durations and the wall time its commit completed.
  */
final class ProgressLog extends StreamingQueryListener {
  import ProgressLog.Batch

  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // the trigger started at `timestamp`; the offset commit ends it
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    if (p.numInputRows > 0 || d.contains("addBatch"))
      batches.add(Batch(p.batchId, p.numInputRows, d, start + d.getOrElse("triggerExecution", 0L)))
  }

  def all: Seq[Batch] = batches.asScala.toSeq.sortBy(_.batchId)
  def commitMsOf: Map[Long, Long] = all.map(b => b.batchId -> b.commitMs).toMap
}

object ProgressLog {
  final case class Batch(batchId: Long, rows: Long, durations: Map[String, Long],
      commitMs: Long)
}

/** The micro-batch file lists Spark's file source writes into the
  * checkpoint (`sources/0`): one log file per batch, plus `.compact`
  * files that fold earlier batches together. Every entry names its own
  * batch id, so both kinds read the same way; hidden files (`.crc`)
  * are skipped.
  */
object SourceLog {
  private val PathRe = "\"path\"\\s*:\\s*\"([^\"]*)\"".r
  private val BatchRe = "\"batchId\"\\s*:\\s*([0-9]+)".r

  /** File name (last path segment) → the batch that carried it. */
  def fileToBatch(sourceDir: File): Map[String, Long] = {
    val logs = Option(sourceDir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))
    logs.flatMap { f =>
      Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.flatMap { line =>
        for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }
    }.toMap
  }

  /** Per-file freshness: the commit time of the file's batch minus the
    * time the file was due. Files absent from the log, or whose batch
    * never reported a commit, have no entry.
    */
  def freshnessMs(dueMs: Map[String, Long], fileBatch: Map[String, Long],
      commitMs: Map[Long, Long]): Map[String, Long] =
    dueMs.flatMap { case (f, due) =>
      fileBatch.get(f).flatMap(commitMs.get).map(c => f -> (c - due))
    }
}

/** A delegating [[SnapshotSink]] that times every write into the real
  * sink and records the micro-batch it belongs to, the jobs it ran and
  * the files and bytes it added.
  */
final class TimingSink(inner: graft.sink.ParquetSnapshotSink, root: File,
    spans: Spans, spark: SparkSession) extends SnapshotSink {

  override def write(table: String, df: DataFrame): Unit = {
    val batch = Option(spark.sparkContext.getLocalProperty(JobCounter.BatchIdKey)).getOrElse("")
    val id = s"sink:$table:$batch"
    val (f0, b0) = dataFiles(new File(root, table))
    val t0 = System.nanoTime()
    JobCounter.tagged(spark, id)(inner.write(table, df))
    val t1 = System.nanoTime()
    val (f1, b1) = dataFiles(new File(root, table))
    spans.record("sink", id, t0, t1, parent = s"batch:$batch", counts = Map(
      "files" -> (f1 - f0).toDouble, "bytes" -> (b1 - b0).toDouble))
  }

  override def read(s: SparkSession, table: String): DataFrame = inner.read(s, table)

  /** (parquet data files, their bytes) under a table directory. */
  private def dataFiles(dir: File): (Long, Long) = {
    def walk(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) walk(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }
    val fs = walk(dir)
    (fs.length.toLong, fs.map(_.length).sum)
  }
}

/** Files and bytes the executed plan's scans report reading. */
object ScanMetrics extends AdaptiveSparkPlanHelper {
  def filesAndBytes(df: DataFrame): (Long, Long) = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    val scans = collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics
    }
    def m(ms: Map[String, org.apache.spark.sql.execution.metric.SQLMetric], k: String) =
      ms.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "filesSize")).sum)
  }
}

/** Order statistics over a sample, interpolating between ranks. */
object Stat {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = q * (s.length - 1)
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.length - 1)) - s(lo))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Highest of p95/p90/p75/p50 with at least ten samples beyond it. */
  def tailLevel(n: Int): Double =
    Seq(0.95, 0.90, 0.75).find(q => n * (1 - q) >= 10.0 - 1e-9).getOrElse(0.5)
}

/** Minimal JSON writer for the run's result and span files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
