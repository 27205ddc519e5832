package graft.ops

import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** The one place a query materializes a shared intermediate: a frame
  * that several branches of the same query consume (a pair graph, a
  * shingle-hash frame, a rank base) goes through [[frame]], which
  * `localCheckpoint()`s it while the query is built. Each consumer then
  * reads the checkpointed rows instead of re-planning the subtree, and
  * the subtree runs once per invocation.
  *
  * Never a cross-run cache: the checkpoint is taken inside query
  * construction and recomputed from parquet on every invocation, and
  * its fresh LogicalRDD cannot be served from the CacheManager to a
  * later run. Its blocks are unreplicated, so on a multi-node cluster an
  * executor loss makes the query unrecoverable; on one node a lost
  * executor is a lost JVM anyway. The blocks are freed when the driver
  * garbage-collects the RDD.
  *
  * Tests see what the checkpoint hides behind a `Scan ExistingRDD` with
  * [[withLazyPlans]].
  */
object Materialize {
  // Non-null only inside withLazyPlans: the frames `frame` was given.
  private val lazyFrames = new ThreadLocal[mutable.Buffer[DataFrame]]

  /** Build with `f` on this thread WITHOUT materializing: [[frame]] is
    * the identity and records each frame it was given. Returns `f`'s
    * result and those frames (the subtrees a normal build would have
    * checkpointed), in call order. Test hook: the returned result
    * re-plans every subtree per consumer.
    */
  private[graft] def withLazyPlans[T](f: => T): (T, Seq[DataFrame]) = {
    val held = mutable.Buffer.empty[DataFrame]
    lazyFrames.set(held)
    try (f, held.toSeq) finally lazyFrames.remove()
  }

  /** Materialize `df` eagerly for this invocation (see object doc). */
  def frame(df: DataFrame): DataFrame = lazyFrames.get match {
    case null => df.localCheckpoint()
    case held => held += df; df
  }
}
