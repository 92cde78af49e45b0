package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Fused streaming curation: ONE foreachBatch maintains BOTH the IVF
  * postings (the [[IvfServer]] serving index) and the dup-cluster
  * standing state ([[DedupClusterStream]]) from ONE scan of each
  * arrival batch — the round-14 verdict ask 5 composition (ingest →
  * dedup → index with no triple read), and the 100 TB operating shape:
  * a crawl lands once, and the same assignment pass that files each
  * vector into its posting cell also produces the duplicate evidence.
  *
  * The fusion is not just shared IO — the INDEX IS THE BLOCKING
  * STRUCTURE: duplicate candidates are generated by joining arrivals
  * to standing postings on the IVF `cell` the arrivals were just
  * assigned to. For exact duplicates this blocking is COMPLETE by
  * construction (cell assignment is a deterministic function of the
  * embedding, so identical vectors always co-cell — the sim22b
  * LSH-completeness argument, here a one-line theorem), which is what
  * makes the stream ≡ batch twin exact. Near-dup generalizes by
  * adding banding keys next to `cell`; the fold shape is unchanged.
  *
  * Per batch, from the single assigned-arrivals frame:
  *  1. intra-batch edges: equal-embedding pairs within the batch
  *     (a < b), blocked by cell;
  *  2. cross edges: arrival × standing postings, same cell, equal
  *     embedding — every duplicate pair (earlier, later) is emitted
  *     exactly once, when the later one arrives;
  *  3. the dup-cluster fold ([[DedupClusterStream.Maintainer]] —
  *     star contraction + converge-or-throw CC) absorbs the edges;
  *  4. the postings append: standing ∪ assigned-arrivals, cut per
  *     batch by its [[Standing]] cell (an iterated union would
  *     otherwise both deepen the plan and multiply inherited size
  *     stats).
  *
  * Cost per batch is O(|batch| + |candidate pairs| + Δ-connected
  * state) — the standing cluster majority is untouched (the
  * DedupClusterStream argument), and unmoved postings are never
  * rewritten (the IvfHotSwap argument). Twin proof:
  * CurationStreamSpec shows, for ANY batching, postings ≡ one batch
  * `assignCorpus` over the full corpus and clusters ≡ one batch
  * `connectedComponents` over all equal-embedding pairs.
  */
object CurationStream {

  /** Equal-embedding duplicate edges between `newly` (assigned
    * arrivals) and `standing` postings plus within `newly` itself,
    * blocked on the shared IVF cell. Returns (src, dst) vec_id pairs.
    */
  private[stream] def dupEdges(newly: DataFrame, standing: Option[DataFrame]): DataFrame = {
    val intra = newly.as("x").join(newly.as("y"),
        col("x.cell") === col("y.cell") &&
          col("x.vec_id") < col("y.vec_id") &&
          col("x.embedding") === col("y.embedding"))
      .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"))
    standing match {
      case None => intra
      case Some(st) =>
        val cross = newly.as("x").join(st.as("y"),
            col("x.cell") === col("y.cell") &&
              col("x.vec_id") =!= col("y.vec_id") &&
              col("x.embedding") === col("y.embedding"))
          .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"))
        intra.unionAll(cross)
    }
  }

  /** The fused foreachBatch body, shared with
    * [[NearDupCurationStream]]: ONE `scan` of each batch, checkpointed,
    * feeds `dupEdges` (arrivals × the standing store plus within the
    * arrivals) to an inner [[DedupClusterStream.Maintainer]] AND the
    * store append. Store and dedup state are two [[Standing]] cells;
    * the scan's checkpoint belongs to the store's build, so the store
    * cell releases it once the new store version is cut.
    */
  private[stream] abstract class Fused(scan: DataFrame => DataFrame,
      dupEdges: (DataFrame, Option[DataFrame]) => DataFrame) extends Serializable {

    private val dedup = new DedupClusterStream.Maintainer("src", "dst")
    protected val store = new Standing

    def ingest(batch: DataFrame, batchId: Long): Unit =
      store.fold(batch, batchId) { standing =>
        val (newly, _) = Dedup.checkpointed(scan(batch))
        dedup.merge(dupEdges(newly, standing), batchId)
        standing.fold(newly)(_.unionAll(newly))
      }

    /** Current (node → component) duplicate-cluster assignment. */
    def clusters: Option[DataFrame] = dedup.assignments

    def release(): Unit = { store.release(); dedup.release() }
  }

  /** In-session fused standing store. `centroids` is the serving
    * geometry ([[graft.ext.IvfModel]] in production; specs pass a
    * hand geometry).
    */
  final class Maintainer(centroids: Seq[Array[Double]]) extends Fused(
      batch => StreamingAnn.assignCorpus(
        batch.select(col("vec_id").cast("long").as("vec_id"), col("embedding")),
        centroids),
      dupEdges) {

    /** Current servable postings (vec_id, embedding, cell) — feed to
      * [[StreamingAnn.scoreIvf]] exactly like an [[IvfServer]] index.
      */
    def postings: Option[DataFrame] = store.current
  }
}
