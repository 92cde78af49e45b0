package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.read.Dashboard
import graft.schema.{CensusRecord, CensusSchema}
import graft.sink.SnapshotSink
import graft.stream.Simulator

/** The benchmark's own census generator. Rows come from the engine's
  * `Simulator` (its value domains, its 3-10-row file shape and its 5 %
  * anomaly injection), except that the seed corpus draws
  * `hours_per_week` with the adult-census shape (mass at 40, sd 12).
  * `Simulator.generateSeed` draws hours uniformly from 1-99, which caps
  * |z| near 1.75, so no injected anomaly would ever cross the z > 3
  * cut and the anomaly path would go unmeasured.
  */
object CensusGen {

  def corpus(n: Int, seed: Long): Vector[CensusRecord] = {
    val rng = new Random(seed * 31 + 7)
    // the first four rows carry Simulator's hour boundaries 19/20/40/41
    Simulator.generateSeed(n, seed).zipWithIndex.map { case (r, i) =>
      if (i < 4) r
      else r.copy(hours_per_week =
        Some(math.max(1, math.min(99, math.round(40 + 12 * rng.nextGaussian()).toInt))))
    }
  }

  /** `n` batches in the simulator's shape (3-10 rows unless widened). */
  def batches(corpus: Vector[CensusRecord], n: Int, seed: Long,
      cfg: Simulator.Config = Simulator.Config()): Vector[Vector[CensusRecord]] = {
    val rng = new Random(seed)
    Vector.fill(n)(Simulator.sampleBatch(corpus, rng, cfg))
  }
}

/** Plain-Scala recomputation of what the pipeline must produce, written
  * independently of the engine's Spark expressions.
  */
object Expect {
  def ageGroup(a: Int): String =
    if (a < 18) "Under 18" else if (a < 30) "18-29" else if (a < 45) "30-44"
    else if (a < 65) "45-64" else "65+"
  def incomeCategory(i: Int): String =
    if (i == 1) "High Income (>50K)" else "Low Income (<=50K)"
  def workHours(h: Int): String =
    if (h < 20) "Part-time (<20)" else if (h <= 40) "Full-time (20-40)" else "Overtime (>40)"

  private def g[T](o: Option[T]): T = o.get

  /** Group keys of the five count tables, as the sink stores them. */
  val countTables: Seq[(String, Seq[String], CensusRecord => Seq[String])] = Seq(
    ("age_group_distribution", Seq("age_group"), r => Seq(ageGroup(g(r.age)))),
    ("education_income", Seq("education", "income_category"),
      r => Seq(g(r.education), incomeCategory(g(r.income)))),
    ("gender_income", Seq("gender", "income_category"),
      r => Seq(g(r.gender), incomeCategory(g(r.income)))),
    ("work_hours", Seq("work_hours_category"), r => Seq(workHours(g(r.hours_per_week)))),
    ("occupation_stats", Seq("occupation"), r => Seq(g(r.occupation))))

  def counts(rows: Seq[CensusRecord], key: CensusRecord => Seq[String]): Map[Seq[String], Long] =
    rows.groupBy(key).map { case (k, v) => k -> v.size.toLong }

  /** Identity of a row for multiset comparison: all 14 input fields. */
  def rowKey(r: CensusRecord): String = r.productIterator.map {
    case Some(v) => v.toString
    case _ => ""
  }.mkString(",")

  def rowKey(r: Row): String =
    CensusSchema.columns.map(c => Option(r.getAs[Any](c)).map(_.toString).getOrElse("")).mkString(",")

  /** Per-batch two-pass z-score on hours (sample stddev), |z| > cut. */
  def anomalies(batch: Seq[CensusRecord], cut: Double = 3.0): Seq[(String, Double)] = {
    val h = batch.map(r => g(r.hours_per_week).toDouble)
    val n = h.size
    if (n < 2) Nil
    else {
      val m = h.sum / n
      val sd = math.sqrt(h.map(x => (x - m) * (x - m)).sum / (n - 1))
      if (sd <= 0) Nil
      else batch.zip(h).collect { case (r, x) if math.abs((x - m) / sd) > cut =>
        rowKey(r) -> math.abs((x - m) / sd) }
    }
  }
}

final case class Check(name: String, ok: Boolean, detail: String)

/** Output checks on a sink the pipeline wrote, run after the timed
  * region. `batches` are the row groups the pipeline saw as
  * micro-batches.
  */
object CensusChecks {

  def run(spark: SparkSession, sink: SnapshotSink, batches: Seq[Seq[CensusRecord]]): Seq[Check] = {
    val rows = batches.flatten
    val n = rows.size.toLong
    def safely(name: String)(body: => Check): Check =
      try body catch {
        case scala.util.control.NonFatal(e) => Check(name, ok = false, e.toString.take(300))
      }

    val raw = safely("raw_data_rows") {
      val got = sink.read(spark, "raw_data").count()
      Check("raw_data_rows", got == n, s"raw_data $got rows, generated $n")
    }
    val income = safely("summary_income_counts") {
      val r = sink.read(spark, "summary_statistics")
        .agg(sum("count_high_income"), sum("count_low_income")).head()
      val got = r.getLong(0) + r.getLong(1)
      Check("summary_income_counts", got == n, s"high+low $got, generated $n")
    }
    val reagg = Expect.countTables.map { case (table, keys, key) =>
      safely(s"reaggregate_$table") {
        val got = Dashboard.reaggregate(sink.read(spark, table), keys).collect()
          .map(r => keys.map(k => String.valueOf(r.getAs[Any](k))) -> r.getAs[Long]("total")).toMap
        val want = Expect.counts(rows, key)
        Check(s"reaggregate_$table", got == want,
          s"${got.size} groups, expected ${want.size}; equal=${got == want}")
      }
    }
    val anomalies = safely("anomalies_zscore") {
      val want = batches.flatMap(b => Expect.anomalies(b))
      val got = sink.read(spark, "anomalies").select((CensusSchema.columns :+ "z_score").map(col): _*)
        .collect().map(r => Expect.rowKey(r) -> r.getAs[Double]("z_score")).toSeq
      def bag(xs: Seq[(String, Double)]) =
        xs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
      val (gb, wb) = (bag(got), bag(want))
      val same = gb.keySet == wb.keySet && gb.forall { case (k, zs) =>
        val ws = wb(k)
        zs.size == ws.size && zs.zip(ws).forall { case (a, b) => math.abs(a - b) < 1e-9 }
      }
      Check("anomalies_zscore", same && want.nonEmpty,
        s"${got.size} anomaly rows, expected ${want.size} (must be non-empty)")
    }
    Seq(raw, income) ++ reagg :+ anomalies
  }
}
