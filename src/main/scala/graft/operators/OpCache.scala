package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Registry for operator-internal caches (the signature frames the
 * dedup/similarity operators persist because they are referenced by
 * several join sides of one plan).
 *
 * A library operator must not leak cached blocks into a long-lived
 * user session: every internal `.cache()` goes through [[cache]] so
 * the caller — or a loop harness like `graft.Verify`/`graft.Bench` —
 * can drop exactly these frames with [[releaseAll]] once the query's
 * terminal action has run. This is the caller-visible handle: it
 * releases ONLY operator-internal caches, never frames the user
 * cached themselves (unlike `spark.catalog.clearCache()`).
 *
 * The registry is PROCESS-wide (one JVM = one driver); applications
 * running multiple concurrent SparkSessions in a single JVM should
 * serialize releaseAll with their query boundaries.
 */
object OpCache {

  private val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val rdds = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

  /** Cache `df` and track it for later [[releaseAll]]. */
  def cache(df: DataFrame): DataFrame = {
    frames.add(df)
    df.cache()
  }

  /**
   * Eager local checkpoint with tracked cleanup: TRUNCATES the logical
   * plan (the result is a scan over materialized partitions), which
   * iterative algorithms need — a loop whose round-n plan references
   * round n−1 more than once otherwise doubles its plan tree every
   * round (exponential analysis cost, driver OOM past ~10 rounds).
   * `.cache()` cannot help there: it dedups execution, not the plan.
   * The checkpointed partitions are registered here so [[releaseAll]]
   * frees them like any operator-internal cache.
   */
  def checkpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    backingRdd(out).foreach(rdds.add)
    out
  }

  /** The cached RDD behind a localCheckpoint'ed frame, if any. */
  private def backingRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Free one tracked frame EARLY (loop rounds that no longer need the
    * previous round's data) — idempotent with the final [[releaseAll]]. */
  def unpersistEager(df: DataFrame): Unit =
    backingRdd(df) match {
      case Some(rdd) => rdd.unpersist(blocking = false)
      case None => df.unpersist(blocking = false)
    }

  /** Unpersist every tracked frame and checkpoint (blocking, so
    * `sparkContext.getPersistentRDDs` is empty on return when no
    * user-level caches exist) and clear the registry. */
  def releaseAll(): Unit = {
    var df = frames.poll()
    while (df != null) {
      df.unpersist(blocking = true)
      df = frames.poll()
    }
    var rdd = rdds.poll()
    while (rdd != null) {
      rdd.unpersist(blocking = true)
      rdd = rdds.poll()
    }
  }

  /** Number of currently tracked cached frames (for tests). */
  private[graft] def trackedCount: Int = frames.size() + rdds.size()
}
