package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.streaming.Trigger

import graft.schema.CensusRecord
import graft.sink.ParquetSnapshotSink
import graft.stream.{Pipeline, PipelineConfig, Simulator}

/** census_live — open loop at a fixed file rate. One generator thread
  * moves reference-shaped files (3-10 rows, 5 % anomalies) into the
  * watched directory on a schedule, whether or not the pipeline keeps
  * up; `Pipeline.start(fused = true)` ingests them on a short
  * processing-time trigger. Per-row work is negligible, so freshness
  * is set by the per-batch fixed floor.
  */
object CensusLive {
  val FilesPerSecond = 5.0
  val WarmSeconds = 8
  val TriggerMs = 4000L
  val DrainTimeoutMs = 60000L

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val corpus = CensusGen.corpus(2000, ctx.seed)
    warmDrain(ctx, corpus)
    Main.phase("warm-up drain")

    val nWarm = (FilesPerSecond * WarmSeconds).toInt
    val nFiles = nWarm + math.ceil(FilesPerSecond * ctx.seconds).toInt
    val contents = CensusGen.batches(corpus, nFiles, ctx.seed + 1)
    val staging = ctx.dir("live/staging")
    val input = ctx.dir("live/input")
    val ckpt = ctx.dir("live/ckpt")
    val sinkRoot = ctx.dir("live/sink")
    // files are written ahead of time; the generator only renames them
    val files = contents.zipWithIndex.map { case (rows, i) =>
      Simulator.writeBatchCsv(rows, staging.getPath, i.toLong) }
    val rowsOf: Map[String, Vector[CensusRecord]] =
      files.map(_.getName).zip(contents).toMap

    val real = new ParquetSnapshotSink(sinkRoot.getPath)
    val sink = if (ctx.trace) new TimingSink(real, sinkRoot, ctx.spans, spark) else real
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val query = new Pipeline(sink, PipelineConfig(fused = true,
      trigger = Trigger.ProcessingTime(TriggerMs))).start(spark, input.getPath, ckpt.getPath).head

    val t0 = System.currentTimeMillis() + 1000
    val due = files.indices.map(i => t0 + (i * 1000.0 / FilesPerSecond).toLong)
    val lateMs = new Array[Long](nFiles)
    val gen = new Thread(() => files.indices.foreach { i =>
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      Files.move(files(i).toPath, new File(input, files(i).getName).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      lateMs(i) = System.currentTimeMillis() - due(i)
    }, "perfbench-generator")
    gen.start()
    gen.join()
    Main.phase("generator done")

    val sourceLog = new File(ckpt, "fused/sources/0")
    val names = files.map(_.getName)
    def attributed(): (Map[String, Long], Map[Long, Long]) =
      (SourceLog.fileToBatch(sourceLog), progress.commitMsOf)
    val deadline = System.currentTimeMillis() + DrainTimeoutMs
    var (fileBatch, commits) = attributed()
    while (!names.forall(n => fileBatch.get(n).exists(commits.contains)) &&
        System.currentTimeMillis() < deadline && query.exception.isEmpty) {
      Thread.sleep(200)
      val a = attributed(); fileBatch = a._1; commits = a._2
    }
    query.stop()
    spark.streams.removeListener(progress)
    Main.phase("drained")

    val dueOf = names.zip(due).toMap
    val fresh = SourceLog.freshnessMs(dueOf, fileBatch, commits)
    val measured = names.drop(nWarm)
    val latencies = measured.flatMap(fresh.get).map(_.toDouble)
    val uncommitted = names.count(n => !fresh.contains(n))

    val seen: Seq[Seq[CensusRecord]] = fileBatch.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (_, fs) => fs.flatMap { case (f, _) => rowsOf(f) } }
    val checks = CensusChecks.run(spark, real, seen) :+ Check("all_files_committed",
      uncommitted == 0, s"$uncommitted of $nFiles files never committed")
    Main.phase("checked")

    val measuredBatches = measured.flatMap(fileBatch.get).toSet
    val layer = if (ctx.trace) {
      val commitTimes = commits.values.toSeq.filter(_ >= due(nWarm)).sorted
      val fileCommit = names.flatMap(n => fileBatch.get(n).flatMap(commits.get).map(n -> _)).toMap
      val backlog = commitTimes.map { c =>
        names.count(n => dueOf(n) <= c && fileCommit.get(n).forall(_ >= c)) }
      Layers.streaming(ctx, progress.all.filter(b => measuredBatches(b.batchId))) ++ Map(
        "gen.late_ms_max" -> lateMs.max.toDouble,
        "live.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble))
    } else Map.empty[String, Double]

    Outcome(
      firstTimedMs = due(nWarm),
      attempted = measured.size.toLong,
      failed = measured.count(n => !fresh.contains(n)).toLong,
      checks = checks,
      latenciesMs = latencies,
      layer = layer,
      notes = Map("files" -> nFiles, "warm_files" -> nWarm, "batches" -> commits.size,
        "measured_batches" -> measuredBatches.size, "gen_late_ms_max" -> lateMs.max,
        "rows" -> contents.map(_.size).sum,
        "batch_ms" -> progress.all.map(b => s"${b.batchId}:${b.rows}:${b.durations.getOrElse("triggerExecution", 0L)}")))
  }

  /** Untimed warm-up through the same code path into a throwaway sink:
    * one batch drained with `Trigger.AvailableNow`, large enough that
    * the anomaly write runs too.
    */
  def warmDrain(ctx: Ctx, corpus: Vector[CensusRecord]): Unit = {
    val input = ctx.dir("warm/input")
    val wide = Simulator.Config(batchMin = 300, batchMax = 300)
    CensusGen.batches(corpus, 2, ctx.seed + 2, wide).zipWithIndex.foreach { case (rows, i) =>
      Simulator.writeBatchCsv(rows, input.getPath, i.toLong) }
    val sink = new ParquetSnapshotSink(ctx.dir("warm/sink").getPath)
    new Pipeline(sink, PipelineConfig(fused = true, trigger = Trigger.AvailableNow()))
      .start(ctx.spark, input.getPath, ctx.dir("warm/ckpt").getPath)
      .foreach(_.awaitTermination())
  }
}
