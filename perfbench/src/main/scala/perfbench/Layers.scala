package perfbench

/** The per-layer metrics of a traced run, named once here so every
  * workload reports the same set (a layer a workload does not reach
  * reports 0).
  */
object Layers {
  val phases = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
    "commitOffsets", "triggerExecution")
  val tables = Seq("summary_statistics", "anomalies", "age_group_distribution",
    "education_income", "gender_income", "work_hours", "occupation_stats", "raw_data")

  def names: Seq[String] =
    phases.flatMap(p => Seq(s"trigger.${p}_ms.p50", s"trigger.${p}_ms.max")) ++
      Seq("trigger.batches", "trigger.rows_per_batch",
        "pipeline.jobs_per_batch", "pipeline.self_ms") ++
      tables.map(t => s"sink.write_ms.$t") ++
      Seq("sink.jobs_per_write", "sink.files_written", "sink.bytes_written") ++
      DashboardRefresh.callbackNames.map(c => s"read.${c}_ms") ++
      Seq("read.jobs_per_refresh", "read.files_read_per_refresh", "read.bytes_read_per_refresh") ++
      RegistryHeadline.queryNames.flatMap(q => Seq(s"query.${q}_s", s"query.${q}_jobs")) ++
      Seq("gen.late_ms_max", "live.backlog_files_max", "jvm.gc_ms")

  def complete(m: Map[String, Double]): Map[String, Double] =
    names.map(n => n -> m.getOrElse(n, 0.0)).toMap

  /** Trigger phases, pipeline self time and sink writes over the given
    * micro-batches: medians per batch (phases also their max).
    */
  def streaming(ctx: Ctx, batches: Seq[ProgressLog.Batch]): Map[String, Double] = {
    val jobs = ctx.jobs.get
    val sinkSpans = ctx.spans.all.filter(_.layer == "sink")
      .groupBy(_.parent).withDefaultValue(Nil)
    def ofBatch(b: Long) = sinkSpans(s"batch:$b")
    val phase = phases.flatMap { p =>
      val xs = batches.flatMap(_.durations.get(p)).map(_.toDouble)
      Seq(s"trigger.${p}_ms.p50" -> Stat.median(xs), s"trigger.${p}_ms.max" ->
        (if (xs.isEmpty) 0.0 else xs.max))
    }
    val writes = tables.map { t =>
      s"sink.write_ms.$t" -> Stat.median(batches.flatMap(b =>
        ofBatch(b.batchId).filter(_.name.startsWith(s"sink:$t:")).map(_.ms)))
    }
    val spans = batches.flatMap(b => ofBatch(b.batchId))
    (phase ++ writes ++ Seq(
      "trigger.batches" -> batches.size.toDouble,
      "trigger.rows_per_batch" -> Stat.median(batches.map(_.rows.toDouble)),
      "pipeline.jobs_per_batch" -> Stat.median(batches.map(b => jobs.jobsOfBatch(b.batchId).toDouble)),
      "pipeline.self_ms" -> Stat.median(batches.map(b =>
        b.durations.getOrElse("addBatch", 0L) - ofBatch(b.batchId).map(_.ms).sum)),
      "sink.jobs_per_write" -> Stat.median(spans.map(s => jobs.jobsOfSpan(s.name).toDouble)),
      "sink.files_written" -> Stat.median(batches.map(b =>
        ofBatch(b.batchId).map(_.counts("files")).sum)),
      "sink.bytes_written" -> Stat.median(batches.map(b =>
        ofBatch(b.batchId).map(_.counts("bytes")).sum)))).toMap
  }
}
