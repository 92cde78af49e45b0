package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkEntry

/** registry_headline — closed loop, one query at a time, over the
  * registry's headline queries (`SparkEntry.benchQueries`) that read
  * only the star-schema and events tables, on the corpus `corpus.py`
  * generates from the seed into `<runDir>/corpus`. Each query is
  * forced with a `noop` write after `clearCache` (graft.Bench's
  * protocol). It is the only workload that reaches `queries` and what
  * they call (`functions`, `plans`, `sources`).
  */
object RegistryHeadline {

  /** Fixed so the per-layer metric names stay fixed; each must be a
    * headline query (checked at run time).
    */
  val queryNames: Seq[String] = Seq(
    "a1_global_stats", "w1_zscore_outliers", "w3_latest_per_group",
    "join_3way_region_rollup", "q1_pricing_summary", "q3_top_order_revenue",
    "q5_local_supplier_volume", "t_dtw_monthly", "t_tumbling_window",
    "j2c_asof_native", "w16_topk_agg")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val missing = queryNames.filterNot(SparkEntry.benchQueries.contains)
    require(missing.isEmpty, s"not headline queries: ${missing.mkString(",")}")
    val corpus = ctx.dir("corpus")
    val fns = SparkEntry.queries

    def release(): Unit = {
      graft.queries.DedupQueries.releaseSignatureCache()
      graft.queries.SimilarityQueries.releaseCaches()
      graft.queries.ParityQueries.releaseCaches()
      graft.queries.EventQueries.releaseCaches()
      graft.queries.TextQueries.releaseCaches()
      spark.catalog.clearCache()
    }
    val out = ctx.dir("oracle")
    var pass = 0
    /** One pass: (query, ms or None if it threw). Timed passes force
      * each query with a noop write; the answers pass writes parquet
      * for the oracle comparison instead.
      */
    def runPass(record: Boolean, answers: Boolean = false): Seq[(String, Option[Double])] = {
      pass += 1
      queryNames.map { q =>
        spark.catalog.clearCache()
        val id = s"$q#$pass"
        val t0 = System.nanoTime()
        val ok = try {
          JobCounter.tagged(spark, id) {
            val w = fns(q)(spark, corpus.getPath).write.mode("overwrite")
            if (answers) w.parquet(s"${out.getPath}/$q") else w.format("noop").save()
          }
          true
        } catch { case scala.util.control.NonFatal(_) => false }
        val t1 = System.nanoTime()
        if (record) ctx.spans.record("query", id, t0, t1, parent = s"pass:$pass")
        q -> (if (ok) Some((t1 - t0) / 1e6) else None)
      }
    }

    // two untimed warm-up passes (JIT and codegen land outside the
    // timed passes); the second writes the answers the oracle checks
    runPass(record = false)
    runPass(record = false, answers = true)
    Main.phase("warm-up passes")
    Files.write(new File(out, "oracle_sql.json").toPath,
      Json.render(queryNames.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap)
        .getBytes(StandardCharsets.UTF_8))
    release()
    val firstTimedMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val passes = Iterator.continually(())
      .takeWhile(_ => System.nanoTime() < deadline)
      .map(_ => runPass(record = ctx.trace)).toVector
    Main.phase("timed passes")

    val layer = if (ctx.trace) {
      val spans = ctx.spans.all.filter(_.layer == "query")
      val jobs = ctx.jobs.get
      queryNames.flatMap { q =>
        val mine = spans.filter(_.name.startsWith(s"$q#"))
        Seq(s"query.${q}_s" -> Stat.median(mine.map(_.ms / 1000.0)),
          s"query.${q}_jobs" -> Stat.median(mine.map(s => jobs.jobsOfSpan(s.name).toDouble)))
      }.toMap
    } else Map.empty[String, Double]

    val ops = passes.flatten
    Outcome(firstTimedMs, ops.size.toLong, ops.count(_._2.isEmpty).toLong, Nil,
      passes.map(_.flatMap(_._2).sum), layer,
      Map("passes" -> passes.size, "queries" -> queryNames.size,
        "pass_ms" -> passes.map(_.flatMap(_._2).sum.round)))
  }
}
