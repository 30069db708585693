package graft

import graft.sources.StoreTxn

/** Crash convergence of a store write: a kill injected mid-write (at a
  * directory registration, or after every write but before the commit
  * publishes) must leave a root from which a BLIND retry — same call, no
  * external snapshot, no manual cleanup — converges to exactly the state
  * an uncrashed run produces. */
trait CrashMatrix extends SparkSpec {

  override def afterAll(): Unit = {
    StoreTxn.hooks.reset()
    StoreTxn.leaseTtlMs = 60000L
    super.afterAll()
  }

  protected def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Emulate a process death and wait out the corpse's lease. */
  protected def crashAndExpire(body: => Unit, ttlMs: Long = 250L): Unit = {
    StoreTxn.leaseTtlMs = ttlMs
    try {
      intercept[StoreTxn.SimulatedCrash](body)
      Thread.sleep(ttlMs * 8 / 5) // the dead writer's lease heartbeat goes stale
    } finally StoreTxn.hooks.reset()
  }

  /** Run `op` on a copy of `warm` uncrashed, then on further copies
    * crashed at each of its `touches` directory registrations and before
    * its commit, each followed by a blind retry of `op`: every retried
    * store must `observe` as the uncrashed one, and its commit record
    * and its warehouse (tables and sidecars) and state listings must be
    * identical. */
  protected def crashMatrix(warm: String, touches: Int)(op: String => Unit)(
      observe: String => Seq[String]): Unit = {
    def copy(prefix: String) = {
      val root = tmp(prefix)
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(warm),
        new java.io.File(root))
      root
    }
    def state(root: String) = observe(root) ++
      Seq("warehouse", "state").flatMap(d =>
        Option(new java.io.File(root, d).list()).toSeq.flatten.sorted.map(n => s"$d/$n")) :+
      java.nio.file.Files.readString(new java.io.File(root, "_txn/commit").toPath)
    val clean = copy("graft_txn_clean_")
    op(clean)
    val expected = state(clean)
    for (crash <- (1 to touches).map(Some(_)) :+ None) {
      val root = copy("graft_txn_crash_")
      crash match {
        case Some(n) => StoreTxn.hooks.crashAfterTouches = n
        case None => StoreTxn.hooks.crashBeforeCommit = true
      }
      // no other writer runs here, so the dead one's lease may expire fast
      try {
        crashAndExpire(op(root), ttlMs = 50L)
        if (crash.isEmpty) { // `touches` is the whole write set
          val intent = java.nio.file.Files.readString(new java.io.File(root,
            "_txn/intent").toPath).split("\n").filter(_.startsWith("dir\t"))
          assert(intent.length === touches, intent.mkString("; "))
        }
        op(root)
      } finally StoreTxn.leaseTtlMs = 250L
      assert(state(root) === expected, s"crash $crash")
    }
  }
}
