package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{BenchLock, Sessions}

/** What one workload hands back to [[Main]]. */
final case class Outcome(
    firstTimedMs: Long,
    attempted: Long,
    failed: Long,
    checks: Seq[Check],
    latenciesMs: Seq[Double],
    layer: Map[String, Double],
    notes: Map[String, Any] = Map.empty)

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
    runDir: File, spans: Spans, jobs: Option[JobCounter]) {
  def dir(name: String): File = {
    val d = new File(runDir, name)
    d.mkdirs()
    d
  }
}

/** One benchmark run of one workload in this JVM:
  * `Main <workload> <seed> <seconds> <trace 0|1> <runDir>`.
  * Writes `result.json` (and, traced, `spans.jsonl`) into runDir.
  */
object Main {

  val workloads: Map[String, Ctx => Outcome] = Map(
    "census_live" -> CensusLive.run,
    "dashboard_refresh" -> DashboardRefresh.run,
    "registry_headline" -> RegistryHeadline.run)

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, runDir) = args
    val body = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    // never overlap graft.Bench or another benchmark run on the same host
    val lock = Paths.get(BenchLock.DefaultName)
    val holder = BenchLock.acquireOrDie(lock)
    try {
      val spark = Sessions.local("4", s"perfbench-$workload")
      val traced = trace == "1"
      val ctx = Ctx(spark, seed.toLong, seconds.toInt, traced, new File(runDir),
        new Spans, if (traced) Some(JobCounter.register(spark)) else None)
      phase("session ready")
      val out = body(ctx)
      phase("workload done")
      if (traced) JobCounter.settle()
      write(ctx, out)
      spark.stop()
      phase("stopped")
    } finally BenchLock.release(lock, holder.pid)
  }

  private def write(ctx: Ctx, out: Outcome): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val lat = out.latenciesMs
    val tail = Stat.tailLevel(lat.size)
    val e2e = Map(
      "setup_s" -> (out.firstTimedMs - jvmStart) / 1000.0,
      "op_p50_ms" -> Stat.median(lat),
      "op_tail_ms" -> Stat.quantile(lat, tail),
      "peak_rss_mb" -> peakRssMb)
    val result = Map(
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "checks" -> out.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "samples" -> lat.size,
      "tail_level" -> tail,
      "e2e" -> e2e,
      "layer" -> Layers.complete(out.layer + ("jvm.gc_ms" -> gcMs.toDouble)),
      "notes" -> out.notes)
    Files.write(new File(ctx.runDir, "result.json").toPath,
      Json.render(result).getBytes(StandardCharsets.UTF_8))
    if (ctx.trace) ctx.spans.writeJsonLines(new File(ctx.runDir, "spans.jsonl"))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Logs a phase boundary, in seconds since JVM start, to the run log. */
  def phase(name: String): Unit = {
    val up = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"[perfbench] $up%.1f s: $name")
  }
}
