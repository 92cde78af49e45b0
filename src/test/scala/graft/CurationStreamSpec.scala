package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.stream.{CurationStream, StreamingAnn}

/** Fused streaming curation ≡ (batch dedup + batch index build) —
  * round-14 verdict ask 5's twin proof: a vector-arrival stream fed
  * through ONE foreachBatch must leave the Maintainer's postings
  * IDENTICAL to a one-shot `assignCorpus` over the full corpus AND its
  * dup-cluster assignment IDENTICAL to `connectedComponents` over all
  * equal-embedding pairs, for ANY sequential batching — including
  * element-at-a-time, where every cross-batch case occurs (clone
  * arriving after its original, bridging, untouched pass-through).
  *
  * Hand serving geometry (round-14 fixture lesson: synthetic vectors
  * rarely co-cell under the pinned IvfModel — use a geometry the test
  * controls): dim 2, three well-separated centroids; duplicate groups
  * sit near distinct centroids so cell-blocking is exercised both as
  * the positive (co-cell duplicates pair) and the negative (distinct
  * vectors in one cell do NOT pair).
  */
object CurationStreamSpec {
  final case class Vec(vec_id: Long, embedding: Array[Float])
}

class CurationStreamSpec extends SparkSpec {
  import CurationStreamSpec.Vec
  import spark.implicits._

  private val cents = Seq(
    Array(0.0, 0.0), Array(100.0, 100.0), Array(-100.0, 100.0))

  /** 12 vectors: duplicate triple {1,2,3} at cell 0, duplicate pair
    * {10,11} at cell 1, a LATE clone 30 of vector 3, and singles —
    * two of them (4, 5) co-celled with the triple to pin that
    * co-cell-but-unequal never pairs.
    */
  private val corpus: Seq[Vec] = Seq(
    Vec(1L, Array(5f, 6f)), Vec(2L, Array(5f, 6f)), Vec(3L, Array(5f, 6f)),
    Vec(4L, Array(7f, 3f)), Vec(5L, Array(-2f, 9f)),
    Vec(10L, Array(95f, 99f)), Vec(11L, Array(95f, 99f)),
    Vec(20L, Array(-90f, 95f)), Vec(21L, Array(-88f, 91f)),
    Vec(30L, Array(5f, 6f)), // late clone of the {1,2,3} group
    Vec(40L, Array(102f, 98f)), Vec(41L, Array(-95f, 103f)))

  private def corpusDf(vs: Seq[Vec]): DataFrame = vs.toDF("vec_id", "embedding")

  private def postingsMap(df: DataFrame): Map[Long, Long] =
    df.select(col("vec_id"), col("cell").cast("long")).collect()
      .map { r: Row => r.getLong(0) -> r.getLong(1) }.toMap

  private def clusterMap(df: DataFrame): Map[Long, Long] =
    df.collect().map { r: Row =>
      r.getAs[Long]("node") -> r.getAs[Long]("comp")
    }.toMap

  private def runStream(batches: Seq[Seq[Vec]], name: String)
      : (Map[Long, Long], Map[Long, Long]) = {
    val before = spark.sparkContext.getPersistentRDDs
    val m = new CurationStream.Maintainer(cents)
    val input = MemoryStream[Vec](spark)
    val query = input.toDS().writeStream
      .foreachBatch((ds: org.apache.spark.sql.Dataset[Vec], id: Long) =>
        m.ingest(ds.toDF(), id))
      .outputMode("update").queryName(name).start()
    val out = try {
      batches.foreach { b =>
        if (b.nonEmpty) input.addData(b)
        query.processAllAvailable()
      }
      (m.postings.map(postingsMap).getOrElse(Map.empty),
        m.clusters.map(clusterMap).getOrElse(Map.empty))
    } finally {
      query.stop()
      m.release()
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before.keySet,
      s"$name: folds and release() must free every block they persisted")
    out
  }

  private def batchTwin(vs: Seq[Vec]): (Map[Long, Long], Map[Long, Long]) = {
    val df = corpusDf(vs)
    val assigned = StreamingAnn.assignCorpus(df, cents)
    val edges = df.as("a").join(df.as("b"),
        col("a.vec_id") < col("b.vec_id") &&
          col("a.embedding") === col("b.embedding"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    val cc =
      if (edges.isEmpty) Map.empty[Long, Long]
      else clusterMap(Dedup.connectedComponents(edges, "src", "dst"))
    (postingsMap(assigned), cc)
  }

  test("stream == batch twin across three batchings incl. element-at-a-time") {
    val (expPostings, expClusters) = batchTwin(corpus)
    assert(expClusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 30L -> 1L,
      10L -> 10L, 11L -> 10L))
    assert(expPostings.keySet == corpus.map(_.vec_id).toSet)
    // round-16 suite-cost trim: the fixed grouped(4) run retired —
    // multi-vector batches are covered by the random-batching
    // property test below, and each micro-batch fold pays a fixed
    // multi-job floor that made this suite the suite total's #4
    for ((batches, name) <- Seq(
        (Seq(corpus), "cur_one"),
        (corpus.map(Seq(_)), "cur_single"))) {
      val (gotPostings, gotClusters) = runStream(batches, name)
      assert(gotPostings == expPostings, s"$name postings")
      assert(gotClusters == expClusters, s"$name clusters")
    }
  }

  test("late clone attaches under the standing min representative; " +
      "untouched cluster and unmoved postings pass through") {
    // {1,2,3} and {10,11} settle in early batches; 30 (clone of 3)
    // arrives alone two batches later — it must join comp 1 without
    // renaming anything, and {10,11} must be byte-identical untouched
    val batches = Seq(
      corpus.filter(v => v.vec_id <= 5),
      corpus.filter(v => v.vec_id >= 10 && v.vec_id <= 21),
      Seq.empty,
      corpus.filter(_.vec_id == 30L),
      corpus.filter(_.vec_id >= 40))
    val (gotPostings, gotClusters) = runStream(batches, "cur_late")
    val (expPostings, expClusters) = batchTwin(corpus)
    assert(gotClusters == expClusters)
    assert(gotPostings == expPostings)
  }

  test("property: random corpora with planted clone groups match the " +
      "batch twin under random batchings") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 3) {
      // ~20 base vectors scattered around the three centroids, plus
      // clones of a random subset (some cloned twice) under fresh ids
      val base = (1 to 20).map { i =>
        val c = cents(rnd.nextInt(cents.length))
        Vec(i.toLong, Array((c(0) + rnd.nextInt(13) - 6).toFloat,
          (c(1) + rnd.nextInt(13) - 6).toFloat))
      }
      val clones = base.filter(_ => rnd.nextBoolean()).zipWithIndex.flatMap {
        case (v, j) =>
          val twice = rnd.nextInt(3) == 0
          Seq(Vec(100L + 2 * j, v.embedding)) ++
            (if (twice) Seq(Vec(101L + 2 * j, v.embedding)) else Nil)
      }
      val vs = rnd.shuffle(base ++ clones)
      // random batching: split points drawn uniformly
      val batches = {
        val out = Seq.newBuilder[Seq[Vec]]
        var rest = vs
        while (rest.nonEmpty) {
          val k = 1 + rnd.nextInt(math.max(1, rest.length))
          out += rest.take(k); rest = rest.drop(k)
        }
        out.result()
      }
      val (expPostings, expClusters) = batchTwin(vs)
      val (gotPostings, gotClusters) = runStream(batches, s"cur_prop$trial")
      assert(gotPostings == expPostings, s"trial $trial postings")
      assert(gotClusters == expClusters, s"trial $trial clusters")
    }
  }

  test("serving parity: scoreIvf over the maintained postings == over " +
      "the one-shot batch index") {
    val before = spark.sparkContext.getPersistentRDDs
    val m = new CurationStream.Maintainer(cents)
    try {
      corpus.grouped(5).zipWithIndex.foreach { case (b, i) =>
        m.ingest(corpusDf(b), i.toLong)
      }
      val probes = Seq((900L, Array(5f, 5f)), (901L, Array(96f, 98f)))
        .toDF("probe_id", "probe_vec")
      def scored(index: DataFrame): Set[(Long, Long, Double)] =
        StreamingAnn.scoreIvf(probes, index, cents, nprobe = 1)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
      val viaStream = scored(m.postings.get)
      val viaBatch = scored(StreamingAnn.assignCorpus(corpusDf(corpus), cents))
      assert(viaStream == viaBatch && viaStream.nonEmpty)
    } finally m.release()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before.keySet,
      "serving parity: ingest and release() must free every block they persisted")
  }

  test("replay: a re-run batchId folds nothing in the store or the dedup " +
      "cell; a lower batchId throws") {
    // foreachBatch is at-least-once: a failed epoch re-runs with the
    // same batchId. The duplicate pair {1,2} would double the postings
    // and feed the dedup fold the pair's cross edges again on a replay.
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val b0 = corpusDf(corpus.filter(v => v.vec_id <= 2))
    val once = new CurationStream.Maintainer(cents)
    val twice = new CurationStream.Maintainer(cents)
    try {
      once.ingest(b0, 0L)
      twice.ingest(b0, 0L)
      twice.ingest(b0, 0L)
      assert(rows(twice.postings.get) == rows(once.postings.get))
      assert(rows(twice.postings.get).length == 2)
      assert(rows(twice.clusters.get) == rows(once.clusters.get))
      twice.ingest(corpusDf(corpus.filter(_.vec_id == 3L)), 1L)
      val e = intercept[IllegalArgumentException](twice.ingest(b0, 0L))
      assert(e.getMessage.contains("batchId 0") &&
        e.getMessage.contains("batchId 1"), e.getMessage)
    } finally { once.release(); twice.release() }
  }
}
