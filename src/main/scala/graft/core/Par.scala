package graft.core

/** Overlap two independent driver-side actions (each typically submits
  * its own Spark jobs): the scheduler happily runs concurrent jobs in
  * one application, and a store ingest's paired table appends (postings
  * + lengths, signatures + sets, edges + totals) otherwise serialize
  * two sub-second fixed-cost writes back to back. A dedicated thread —
  * not a shared pool — so Spark's InheritableThreadLocal job properties
  * are copied from THIS call's thread, and both failure paths join the
  * worker before propagating (a transaction rollback must never race a
  * still-running append). */
private[graft] object Par {
  /** `a` on this thread, `b` on the worker; both results once both are done. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    @volatile var rb: Either[Throwable, B] = null
    val t = new Thread(() =>
      rb = try Right(b) catch { case e: Throwable => Left(e) })
    t.setDaemon(true)
    t.start()
    val ra =
      try a
      catch { case e: Throwable =>
        t.join()
        // keep the worker's failure visible when both arms threw
        rb match { case Left(w) if w ne e => e.addSuppressed(w) case _ => () }
        throw e
      }
    t.join()
    rb match {
      case Right(v) => (ra, v)
      case Left(e)  => throw e
      case null => throw new IllegalStateException(
        "Par.both worker finished without publishing a result")
    }
  }
}
