package graft.operators

/**
 * Run independent driver-side actions at the same time. Small runs are
 * overhead-bound — a chain of one-task jobs leaves most task slots idle —
 * so actions that do not depend on each other are submitted side by side
 * and Spark's scheduler fills the idle slots.
 *
 * Each thunk gets its own daemon thread, created by the calling thread
 * for this call: the thread inherits the caller's Spark local properties
 * (job group, scheduler pool, description) and active session, which a
 * shared pool thread created earlier would not.
 */
private[graft] object Concurrently {

  /** Run every thunk, wait for all of them — also when one fails — and
    * return their results in declared order. The first failure in
    * declared order is rethrown, the others added to it as suppressed. */
  def apply[T](thunks: Seq[() => T]): Seq[T] = {
    val results = new Array[Any](thunks.size)
    val failures = new Array[Throwable](thunks.size)
    val threads = thunks.zipWithIndex.map { case (thunk, i) =>
      val t = new Thread(() =>
        try results(i) = thunk()
        catch { case e: Throwable => failures(i) = e },
        s"graft-concurrently-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array() => results.toSeq.asInstanceOf[Seq[T]]
      case Array(first, rest @ _*) =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        throw first
    }
  }
}
