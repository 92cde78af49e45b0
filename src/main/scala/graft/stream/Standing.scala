package graft.stream

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.ext.Dedup

/** The standing frame of one `foreachBatch` fold, versioned by batchId —
  * the one cell every stream Maintainer keeps its state in.
  *
  * Two cuts per version. An iterated fold needs BOTH:
  *  - lineage: [[Dedup.checkpointed]], so plan depth stays constant at
  *    any stream length (without it batch n replays n−1 folds);
  *  - stats: a fresh leaf, `createDataFrame(cut.rdd, cut.schema)`.
  *    localCheckpoint keeps the source plan's computed statistics, and
  *    a fold whose plan joins multiplies them, so inherited size
  *    estimates grow exponentially in the batch count (SCALING.md,
  *    round 14). The fresh leaf restarts them from the default.
  *
  * Frame lifetime. [[current]] reads the localCheckpoint blocks of the
  * current version, and a localCheckpointed plan cannot recompute lost
  * blocks. The next [[fold]] or [[release]] unpersists them, so a frame
  * read from [[current]], or derived from it, is valid only until then:
  * execute it within the current micro-batch, or snapshot it first.
  * A version also owns the checkpoints its build created (the last
  * connected-components round, a fused arrival scan): every persisted
  * `LogicalRDD` leaf of the build that did not come in with the batch
  * is released once the version is cut. Superseded blocks are released
  * by their own handles, never by sweeping global persistent-RDD state,
  * so concurrent iterative jobs on one SparkContext are safe.
  *
  * Replay. Spark runs foreachBatch at least once: a failed epoch re-runs
  * with the same batchId. A fold at the last folded batchId is a no-op;
  * a lower batchId means the maintainer was reused across queries or
  * checkpoints, and throws. An empty batch folds nothing but counts as
  * folded. Each cell guards itself, so a fused body that failed between
  * two cells replays into the one that has not folded the batch yet.
  */
private[stream] final class Standing extends Serializable {

  @volatile private var version: Option[(DataFrame, RDD[_])] = None
  private var folded = -1L

  def current: Option[DataFrame] = version.map(_._1)

  /** Fold one micro-batch: `build` maps the current frame (None before
    * the first non-empty batch) to the next one.
    */
  def fold(batch: DataFrame, batchId: Long)(build: Option[DataFrame] => DataFrame)
      : Unit = synchronized {
    require(batchId >= folded,
      s"batchId $batchId is below the last folded batchId $folded")
    if (batchId > folded) {
      if (!batch.isEmpty) {
        val next = build(current)
        val (cut, rdd) = Dedup.checkpointed(next)
        val incoming = persistedLeaves(batch).toSet
        val superseded = version.map(_._2).toSeq ++
          persistedLeaves(next).filterNot(incoming)
        version = Some((cut.sparkSession.createDataFrame(cut.rdd, cut.schema), rdd))
        superseded.foreach(_.unpersist(blocking = false))
      }
      folded = batchId
    }
  }

  def release(): Unit = synchronized {
    version.foreach(_._2.unpersist(blocking = false))
    version = None
  }

  private def persistedLeaves(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRDD if l.rdd.getStorageLevel != StorageLevel.NONE => l.rdd
    }.distinct
}
