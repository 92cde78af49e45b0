package graft



import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.Scd2
import graft.stream.Scd2Stream

/** Streaming SCD2 maintenance ≡ the batch build (round-12 verdict
  * ask 7's depth item, the PrioritySampleSpec equality pattern): a
  * change log fed through foreachBatch micro-batches must leave the
  * Maintainer's history IDENTICAL — versions, [valid_from, valid_to),
  * is_current — to Scd2.build over the full log, for ANY sequential
  * batching. scd2_merge's oracle already hash-gates merge ≡ rebuild
  * batch-side, so this equality transitively oracle-gates the
  * streaming twin.
  */
object Scd2StreamSpec {
  // top-level so Spark's product encoder needs no outer-scope instance
  final case class Change(k: Long, v: String, ts: Long, seq: Long)
}

class Scd2StreamSpec extends SparkSpec {
  import Scd2StreamSpec.Change
  import spark.implicits._

  private def toDf(rows: Seq[Change]): DataFrame = rows.toDF("k", "v", "ts", "seq")

  /** Random append-only change log: per key, (ts, seq) strictly
    * increasing; values flip-flop so collapse has real work (repeats
    * that must vanish, alternations that must survive).
    */
  private def randomLog(seed: Long, nKeys: Int, nRows: Int): Seq[Change] = {
    val rnd = new scala.util.Random(seed)
    (1 to nRows).map { i =>
      Change(rnd.nextInt(nKeys).toLong + 1,
        s"v${rnd.nextInt(3)}", (i / 3).toLong, i.toLong)
    }
  }

  private type Version = (Long, String, Long, Option[Long], Boolean, Long)

  private def asTuples(df: DataFrame): Seq[Version] =
    df.collect().toSeq.map { r: Row =>
      (r.getAs[Long]("k"), r.getAs[String]("v"), r.getAs[Long]("valid_from"),
        Option(r.getAs[Any]("valid_to")).map(_.asInstanceOf[Long]),
        r.getAs[Boolean]("is_current"), r.getAs[Long]("version"))
    }.sortBy(t => (t._1, t._6))

  private def runStream(batches: Seq[Seq[Change]], name: String): Seq[Version] = {
    val before = spark.sparkContext.getPersistentRDDs
    val m = new Scd2Stream.Maintainer("k", "v", "ts", "seq")
    val input = MemoryStream[Change](spark)
    val query = input.toDS().writeStream
      .foreachBatch((ds: org.apache.spark.sql.Dataset[Change], id: Long) =>
        m.merge(ds.toDF(), id))
      .outputMode("update").queryName(name).start()
    batches.foreach { b => input.addData(b); query.processAllAvailable() }
    query.stop()
    val hist = m.history().getOrElse(fail("no batches reached the maintainer"))
    val rows = asTuples(hist) // materialize before release
    m.release()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before.keySet,
      s"$name: folds and release() must free every block they persisted")
    rows
  }

  test("any sequential batching reproduces the full-log build exactly") {
    val log = randomLog(seed = 13L, nKeys = 7, nRows = 120)
    val expected = asTuples(
      Scd2.build(toDf(log), "k", "v", "ts", "seq"))
    assert(expected.nonEmpty)

    // three very different batchings of the SAME ordered log
    val cuts3 = Seq(log.take(40), log.slice(40, 45), log.drop(45))
    assert(runStream(cuts3, "scd2s_a") == expected)
    val single = Seq(log)
    assert(runStream(single, "scd2s_b") == expected)
    val rowAtATime = log.grouped(1).toSeq.take(30) :+ log.drop(30)
    assert(runStream(rowAtATime, "scd2s_c") == expected)
  }

  test("a no-op batch (values repeat) adds no versions; a flip-back " +
      "re-opens a new version, never rewrites an old one") {
    val base = Seq(
      Change(1L, "a", 1L, 1L), Change(1L, "a", 2L, 2L), // repeat collapses
      Change(1L, "b", 3L, 3L),
      Change(1L, "a", 4L, 4L)) // flip BACK to a -> version 3, not a merge
    val got = runStream(Seq(base.take(2), base.drop(2)), "scd2s_d")
    assert(got == Seq(
      (1L, "a", 1L, Some(3L), false, 1L),
      (1L, "b", 3L, Some(4L), false, 2L),
      (1L, "a", 4L, None, true, 3L)))
    // untouched-key carry-forward: a later batch touching ONLY key 2
    // leaves key 1's history identical
    val withK2 = runStream(
      Seq(base, Seq(Change(2L, "x", 9L, 9L))), "scd2s_e")
    assert(withK2.filter(_._1 == 1L) == got)
    assert(withK2.filter(_._1 == 2L) == Seq((2L, "x", 9L, None, true, 1L)))
  }

  test("mergeBatch leaves untouched keys byte-identical (no recompute " +
      "of the unaffected dimension majority)") {
    // directly at the operator level: standing has keys 1..4, the
    // batch touches only key 2 - untouched rows must pass through the
    // anti-join arm unchanged
    val standing = Scd2.changePoints(
      toDf((1L to 4L).flatMap(k => Seq(
        Change(k, "a", 1L, k * 10 + 1), Change(k, "b", 2L, k * 10 + 2)))),
      "k", "v", "ts", "seq")
    val batch = toDf(Seq(Change(2L, "c", 5L, 99L)))
    val merged = Scd2Stream.mergeBatch(standing, batch, "k", "v", "ts", "seq")
    val full = Scd2.changePoints(
      toDf((1L to 4L).flatMap(k => Seq(
        Change(k, "a", 1L, k * 10 + 1), Change(k, "b", 2L, k * 10 + 2))) :+
        Change(2L, "c", 5L, 99L)),
      "k", "v", "ts", "seq")
    def s(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sorted
    assert(s(merged) == s(full))
  }
}
