package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Derive
import graft.read.Dashboard
import graft.schema.CensusRecord
import graft.sink.ParquetSnapshotSink
import graft.stream.{Pipeline, PipelineConfig, Simulator}

/** dashboard_refresh — closed loop, one client. Set-up seeds a sink
  * through the pipeline's own write path (`Pipeline.runBatch`), with
  * `PipelineConfig.clock` spreading the snapshots over two
  * `batch_date` partitions. The client then repeats the seven
  * dashboard callbacks through `read.Dashboard` and
  * `ParquetSnapshotSink.read`/`readSince`. It is the only workload on
  * the sink's read side.
  */
object DashboardRefresh {
  val SeedBatches = 2
  val RowsPerBatch = 2500
  val BaseEpoch = 1700006400.0 // 2023-11-15T00:00Z
  val BatchSpacingS = 24 * 3600.0
  val WindowMinutes = 720
  val WarmRefreshes = 3
  def asOf: Double = BaseEpoch + (SeedBatches - 1) * BatchSpacingS

  type Callback = (SparkSession, ParquetSnapshotSink) => DataFrame

  val callbacks: Seq[(String, Callback)] = Seq(
    "summary_latest" -> ((s, k) =>
      Dashboard.withIncomePct(Dashboard.latest(k.read(s, "summary_statistics"), "timestamp", "avg_age"))
        .select("timestamp", "avg_age", "avg_hours", "count_high_income", "count_low_income",
          "pct_high_income")),
    "income_trend" -> ((s, k) =>
      Dashboard.withIncomePct(k.read(s, "summary_statistics"))
        .select("timestamp", "count_high_income", "count_low_income", "pct_high_income")
        .orderBy("timestamp")),
    "age_distribution" -> ((s, k) =>
      Dashboard.reaggregate(k.read(s, "age_group_distribution"), Seq("age_group"))
        .orderBy(Derive.ageGroupRank(col("age_group")))),
    "education_income" -> ((s, k) =>
      Dashboard.reaggregate(
        Dashboard.filterToTopK(k.read(s, "education_income"), "education", sum(col("count")), 5),
        Seq("education", "income_category"))
        .orderBy("education", "income_category")),
    "gender_income" -> ((s, k) => {
      val g = Dashboard.reaggregate(k.read(s, "gender_income"), Seq("gender", "income_category"))
      g.withColumn("pct", round(Dashboard.percentOfGroup(g, "gender", "total"), 6))
        .orderBy("gender", "income_category")
    }),
    "occupation_latest" -> ((s, k) =>
      Dashboard.topK(Dashboard.argmaxJoinBack(k.read(s, "occupation_stats"), "occupation", "timestamp"),
        Seq("occupation"), sum(col("count")), 10)),
    "anomalies_in_range" -> ((s, k) =>
      Dashboard.timeRange(
        k.readSince(s, "anomalies", asOf - WindowMinutes * 60.0)
          .withColumn("ts", timestamp_seconds(col("timestamp"))),
        "ts", timestamp_seconds(lit(asOf)), Some(WindowMinutes))
        .select("timestamp", "age", "hours_per_week", "z_score")
        .orderBy("timestamp", "age", "hours_per_week")))

  def callbackNames: Seq[String] = callbacks.map(_._1)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val corpus = CensusGen.corpus(2000, ctx.seed)
    val wide = Simulator.Config(batchMin = RowsPerBatch, batchMax = RowsPerBatch)
    val seeded = CensusGen.batches(corpus, SeedBatches, ctx.seed + 3, wide)
    val sink = new ParquetSnapshotSink(ctx.dir("dash/sink").getPath)
    var ts = 0.0
    val pipeline = new Pipeline(sink, PipelineConfig(fused = true, clock = () => ts))
    seeded.zipWithIndex.foreach { case (rows, k) =>
      ts = BaseEpoch + k * BatchSpacingS
      pipeline.runBatch(pipeline.processed(spark.createDataFrame(rows)), k.toLong)
    }
    Main.phase("sink seeded")

    // untimed warm-up refreshes; the first one's answers are checked
    val first = refresh(ctx, sink, record = false).map(_._2)
    (1 until WarmRefreshes).foreach(_ => refresh(ctx, sink, record = false))
    val checks = check(first, seeded)
    Main.phase("warm-up refreshes")

    val firstTimedMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val timings = Iterator.continually(())
      .takeWhile(_ => System.nanoTime() < deadline)
      .map(_ => refresh(ctx, sink, record = ctx.trace)).toVector
    // each refresh is one operation; a throwing callback fails it
    Main.phase("timed refreshes")
    val perRefresh = timings.map(_.map(_._3).sum)
    val failed = timings.count(_.exists(_._2.isEmpty))

    val layer = if (ctx.trace) {
      val spans = ctx.spans.all.filter(_.layer == "read")
      val jobs = ctx.jobs.get
      val byRefresh = spans.groupBy(_.parent).values.toSeq
      callbackNames.map(c => s"read.${c}_ms" -> Stat.median(spans.filter(_.name.startsWith(s"$c#")).map(_.ms)))
        .toMap ++ Map(
        "read.jobs_per_refresh" -> Stat.median(byRefresh.map(_.map(s => jobs.jobsOfSpan(s.name)).sum.toDouble)),
        "read.files_read_per_refresh" -> Stat.median(byRefresh.map(_.map(_.counts("files")).sum)),
        "read.bytes_read_per_refresh" -> Stat.median(byRefresh.map(_.map(_.counts("bytes")).sum)))
    } else Map.empty[String, Double]

    Outcome(firstTimedMs, timings.size.toLong, failed.toLong, checks, perRefresh, layer,
      Map("refreshes" -> timings.size, "seed_rows" -> seeded.map(_.size).sum,
        "refresh_ms" -> perRefresh.map(_.round)))
  }

  private var refreshNo = 0

  /** One full refresh: every callback back to back, each collected as
    * the dashboard would. Returns (callback, rows or None, ms).
    */
  def refresh(ctx: Ctx, sink: ParquetSnapshotSink, record: Boolean)
      : Seq[(String, Option[Seq[Row]], Double)] = {
    refreshNo += 1
    callbacks.map { case (name, cb) =>
      val id = s"$name#$refreshNo"
      val t0 = System.nanoTime()
      var df: DataFrame = null
      val rows = try JobCounter.tagged(ctx.spark, id) {
        df = cb(ctx.spark, sink)
        Some(df.collect().toSeq)
      } catch { case scala.util.control.NonFatal(_) => None }
      val t1 = System.nanoTime()
      if (record) {
        val (files, bytes) = if (df == null) (0L, 0L) else ScanMetrics.filesAndBytes(df)
        ctx.spans.record("read", id, t0, t1, parent = s"refresh:$refreshNo",
          counts = Map("files" -> files.toDouble, "bytes" -> bytes.toDouble))
      }
      (name, rows, (t1 - t0) / 1e6)
    }
  }

  /** Each callback's answer against the same answer recomputed in plain
    * Scala from the seeded rows.
    */
  def check(answers: Seq[Option[Seq[Row]]], seeded: Seq[Seq[CensusRecord]]): Seq[Check] = {
    val stamps = seeded.indices.map(k => BaseEpoch + k * BatchSpacingS)
    val all = seeded.flatten
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    def pct(h: Long, l: Long) = BigDecimal(h * 100.0 / (h + l)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def hl(rows: Seq[CensusRecord]) = {
      val h = rows.count(_.income.contains(1)).toLong
      (h, rows.size - h)
    }
    def rowsOf(name: String) = answers(callbackNames.indexOf(name))

    val summaryLatest = rowsOf("summary_latest").exists { rs =>
      val last = seeded.last
      val (h, l) = hl(last)
      val r = rs.head
      rs.size == 1 && r.getDouble(0) == stamps.last &&
        close(r.getDouble(1), last.map(_.age.get.toDouble).sum / last.size) &&
        close(r.getDouble(2), last.map(_.hours_per_week.get.toDouble).sum / last.size) &&
        r.getLong(3) == h && r.getLong(4) == l && close(r.getDouble(5), pct(h, l))
    }
    val trend = rowsOf("income_trend").exists { rs =>
      rs.size == seeded.size && rs.zip(seeded.zip(stamps)).forall { case (r, (b, t)) =>
        val (h, l) = hl(b)
        r.getDouble(0) == t && r.getLong(1) == h && r.getLong(2) == l && close(r.getDouble(3), pct(h, l))
      }
    }
    val ages = rowsOf("age_distribution").exists { rs =>
      val want = Derive.ageGroupOrder.flatMap { g =>
        val n = all.count(r => Expect.ageGroup(r.age.get) == g)
        if (n > 0) Some(g -> n.toLong) else None
      }
      rs.map(r => r.getString(0) -> r.getLong(1)) == want
    }
    val education = rowsOf("education_income").exists { rs =>
      val top = all.groupBy(_.education.get).toSeq.map { case (e, v) => e -> v.size }
        .sortBy { case (e, n) => (-n, e) }.take(5).map(_._1).toSet
      val want = all.filter(r => top(r.education.get))
        .groupBy(r => (r.education.get, Expect.incomeCategory(r.income.get)))
        .toSeq.map { case ((e, i), v) => (e, i, v.size.toLong) }.sortBy(x => (x._1, x._2))
      rs.map(r => (r.getString(0), r.getString(1), r.getLong(2))) == want
    }
    val gender = rowsOf("gender_income").exists { rs =>
      val byG = all.groupBy(_.gender.get).map { case (g, v) => g -> v.size.toLong }
      val want = all.groupBy(r => (r.gender.get, Expect.incomeCategory(r.income.get)))
        .toSeq.map { case ((g, i), v) => (g, i, v.size.toLong) }.sortBy(x => (x._1, x._2))
      rs.size == want.size && rs.zip(want).forall { case (r, (g, i, n)) =>
        r.getString(0) == g && r.getString(1) == i && r.getLong(2) == n &&
          close(r.getDouble(3), BigDecimal(n * 100.0 / byG(g)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    val occupation = rowsOf("occupation_latest").exists { rs =>
      val latest = all.map(_.occupation.get).distinct.map { o =>
        val k = seeded.lastIndexWhere(_.exists(_.occupation.contains(o)))
        o -> seeded(k).count(_.occupation.contains(o)).toLong
      }
      val want = latest.sortBy { case (o, n) => (-n, o) }.take(10)
      rs.map(r => r.getString(0) -> r.getLong(1)) == want
    }
    val anomalies = rowsOf("anomalies_in_range").exists { rs =>
      val lo = asOf - WindowMinutes * 60.0
      val want = seeded.zip(stamps).filter(_._2 >= lo).flatMap { case (b, t) =>
        Expect.anomalies(b).map { case (key, z) =>
          val f = key.split(",", -1)
          (t, f(0).toInt, f(10).toInt, z)
        }
      }.sortBy(x => (x._1, x._2, x._3, x._4))
      val got = rs.map(r => (r.getDouble(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2, x._3, x._4))
      want.nonEmpty && got.size == want.size && got.zip(want).forall { case (a, b) =>
        a._1 == b._1 && a._2 == b._2 && a._3 == b._3 && close(a._4, b._4) }
    }
    Seq("summary_latest" -> summaryLatest, "income_trend" -> trend, "age_distribution" -> ages,
      "education_income" -> education, "gender_income" -> gender,
      "occupation_latest" -> occupation, "anomalies_in_range" -> anomalies)
      .map { case (n, ok) => Check(s"callback_$n", ok,
        s"${rowsOf(n).map(_.size).getOrElse(-1)} rows") }
  }
}
