package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** Atomic multi-table commit for the incremental-store family
  * (MinhashStore / SimhashStore / EmbeddingLshStore / IvfStore /
  * Bm25Index / GramIndex / CurationStore).
  *
  * One store ingest appends to SEVERAL tables (BM25: postings +
  * lengths, with N/Σdl in the commit record; signatures + verification
  * sets; hash store + labels + marker). Parquet's output committer makes each single
  * WRITE atomic, but nothing spans the writes — a crash between them
  * used to leave partial multi-table state that only an external
  * snapshot-restore discipline could heal. This object closes that
  * window with a write-ahead intent + physical undo log, per store root:
  *
  *  - before an ingest's FIRST write into any directory, the
  *    transaction snapshots that directory's top-level file names and
  *    persists the snapshot in `_txn/intent` (tmp + atomic rename) —
  *    write-ahead: the intent always covers a directory before the
  *    directory changes;
  *  - the ingest then appends into the LIVE directories exactly as
  *    before — bucketed layouts, bucket-aligned joins and serve plans
  *    are untouched (the epoch-subdirectory alternative would break
  *    them: a union of per-epoch bucketed scans loses its
  *    outputPartitioning, reintroducing the store-side shuffle the
  *    layout exists to avoid);
  *  - commit atomically replaces `_txn/commit` (epoch, versioned-state
  *    pointers, scalar state) and removes the intent.
  *
  * [[recover]] — run on every transaction begin, and by serve paths via
  * [[recoverIfIdle]] — sees a dangling intent and rolls the root BACK:
  * in each snapshotted directory it deletes every top-level entry
  * absent from the snapshot (Spark part files carry unique task UUIDs,
  * so the complement is exactly the crashed ingest's output, including
  * `_temporary` droppings), removes the version directories the
  * crashed transaction wrote, and clears the intent. Every crash
  * window converges under a BLIND retry, no external snapshot:
  *
  *  - crash before the intent publishes: nothing visible changed;
  *  - crash mid-ingest: undo restores the pre-ingest file sets;
  *  - crash after all writes but before commit: undo discards the
  *    completed-but-unpublished ingest and the retry redoes it;
  *  - crash mid-undo: undo is a pure set difference — idempotent — and
  *    reruns on the next open.
  *
  * Overwrite-shaped state cannot be protected by undo-of-new-files —
  * an overwrite DESTROYS the old files — so a transaction writes the new
  * copy of such a directory beside the old one, as a VERSION: the
  * labels, the ranks, a compacted store table and a folded
  * DistinctStore all do. A version of the root-relative directory `rel`
  * is `rel__v<epoch>` (one naming rule, so a version's name starts with
  * its base name); the commit record's version entries are the only
  * pointer from `rel` to its live directory, and [[live]] is the one
  * resolver — the record's version, or `rel` itself before any. Commit
  * publishes the new versions and then garbage-collects every other
  * copy of each published directory (a warehouse table's sidecars with
  * it); a crash between the publish and the GC leaves superseded copies
  * the next commit of the same directory removes. Undo and that GC are
  * the only deletes of a superseded copy. Appends go into the live
  * directory under the undo log, versioned or not. Scalar markers (the
  * curation max-id) ride in the commit record itself, which makes
  * "marker advanced" literally the same event as "ingest committed".
  *
  * A root written in an earlier layout — `active:` alias kvs, version
  * entries not named by their root-relative directory, or a state
  * directory holding `v<n>` versions or `a<n>` DistinctStore deltas — is
  * refused when it is opened ([[recover]]), before anything is written.
  *
  * CONCURRENCY — the family's documented single-writer-per-root
  * contract is now enforced, not assumed: every transaction (and every
  * always-on maintenance sink, via [[acquireSink]]) holds a heartbeat
  * lease file under `_txn/lease`. A second writer fails fast with a
  * clear error while the heartbeat is fresh; a lease whose owner died
  * goes stale after [[leaseTtlMs]] and is stolen by the next writer
  * (which first rolls back the corpse's intent). Transactions nest by
  * JOINING: an inner `transact` on a root with an open transaction
  * (CurationStore's embedded MinhashStore ingest) adds to the same
  * intent and lets the outermost caller commit — one ingest, one epoch,
  * one atomic publish.
  *
  * Scale note: the intent stores file NAMES only — at 10³ committed
  * ingests × 32 bucket files a snapshot is ~1 MB of strings, listed
  * with one directory scan per touched table per ingest; negligible
  * next to the ingest's Spark jobs. On an object store the same design
  * holds (conditional PUT for the lease, manifest listing for the
  * snapshot); a lakehouse table format would subsume this object
  * entirely — the operator logic is unchanged either way.
  */
object StoreTxn {

  /** Thrown by the test-only crash hooks to emulate a process death
    * mid-ingest: [[transact]] performs NO cleanup for it — the intent
    * and lease file stay behind (the heartbeat stops, as a real death
    * would stop it), exactly the state a kill -9 leaves. */
  final class SimulatedCrash private[graft] ()
    extends RuntimeException("simulated crash (test hook)")

  /** Test-only crash injection. `crashAfterTouches = n` kills the
    * in-flight transaction when it registers its n-th directory — i.e.
    * BETWEEN table writes; `crashBeforeCommit` kills it after every
    * write, before the atomic publish. Hooks self-reset on firing. */
  private[graft] object hooks {
    @volatile var crashAfterTouches: Int = Int.MaxValue
    @volatile var crashBeforeCommit: Boolean = false
    def reset(): Unit = { crashAfterTouches = Int.MaxValue; crashBeforeCommit = false }
  }

  /** A lease whose heartbeat is older than this is a dead owner and may
    * be stolen. Writer heartbeats renew at a fifth of it. */
  @volatile private[graft] var leaseTtlMs: Long = 60000L

  private val active = new java.util.concurrent.ConcurrentHashMap[String, Txn]()
  private val jvmSinkLeases = new java.util.concurrent.ConcurrentHashMap[String, Lease]()

  private def canon(root: String): String = new File(root).getCanonicalPath
  private def intentFile(key: String) = new File(key, "_txn/intent")
  private def commitFile(key: String) = new File(key, "_txn/commit")
  private def leaseFile(key: String) = new File(key, "_txn/lease")

  private[graft] final case class DirSnap(rel: String, existed: Boolean,
                                          names: Set[String])
  private final case class Intent(epoch: Long, dirs: Vector[DirSnap],
                                  states: Vector[(String, Long)])
  private final case class Commit(epoch: Long, versions: Map[String, Long],
                                  kv: Map[String, String])

  /** Run `body` as one atomic ingest on `root`. Nested calls join the
    * enclosing transaction (the outermost commits). Acquires the root's
    * writer lease for the duration unless this JVM already holds it as
    * a sink lease. */
  def transact[T](spark: SparkSession, root: String)(body: => T): T = {
    val key = canon(root)
    if (active.containsKey(key)) return body // join the open transaction
    recover(key, failOnLiveForeignWriter = true)
    val lease =
      if (jvmSinkLeases.containsKey(key)) None // sink lease covers us
      else Some(Lease.acquire(leaseFile(key), leaseTtlMs))
    val txn = new Txn(key)
    active.put(key, txn)
    var crashed = false
    try {
      val r = body
      if (hooks.crashBeforeCommit) {
        hooks.reset(); crashed = true; throw new SimulatedCrash
      }
      txn.commit()
      r
    } catch {
      case c: SimulatedCrash =>
        crashed = true; throw c
      case scala.util.control.NonFatal(e) =>
        txn.rollback(); throw e
    } finally {
      active.remove(key)
      lease.foreach(l => if (crashed) l.abandon() else l.release())
    }
  }

  /** The open transaction for `root` — store code inside [[transact]]
    * uses it for versioned state and scalar markers. */
  private[graft] def current(root: String): Txn = {
    val t = active.get(canon(root))
    require(t != null, s"no open StoreTxn for $root — wrap the ingest in transact()")
    t
  }

  /** Register a directory with the open transaction, if any — the hook
    * [[Warehouse.appendBucketed]] calls so general (non-store) bucketed
    * writes stay transaction-free. */
  private[graft] def touchIfActive(root: String, rel: String): Unit =
    Option(active.get(canon(root))).foreach(_.touchPath(rel))

  /** Roll back a dangling intent if its writer is provably dead (no
    * lease, stale lease, or our own sink lease). With
    * `failOnLiveForeignWriter` (write paths) a fresh foreign lease
    * raises; read paths pass false and just read the live state. */
  private def recover(key: String, failOnLiveForeignWriter: Boolean): Unit = {
    requireCurrentLayout(key)
    val intent = intentFile(key)
    if (!intent.exists()) return
    val lease = leaseFile(key)
    val foreignAlive = lease.exists() && !jvmSinkLeases.containsKey(key) &&
      System.currentTimeMillis - lease.lastModified < leaseTtlMs
    if (foreignAlive) {
      if (failOnLiveForeignWriter)
        throw new IllegalStateException(
          s"store root $key has an in-flight ingest by a live writer " +
            s"(lease ${lease.getPath}) — one maintenance writer per store root")
      return
    }
    val rec = readIntent(intent)
    // the commit RECORD is the atomic point: an intent whose epoch the
    // record already names belongs to a transaction that COMMITTED and
    // crashed during cleanup (between the record rename and the intent
    // delete) — roll FORWARD by clearing the intent; undoing here would
    // delete committed data out from under the published record
    if (rec.epoch > readCommit(commitFile(key)).epoch)
      undo(key, rec)
    Files.deleteIfExists(intent.toPath)
    if (!jvmSinkLeases.containsKey(key)) Files.deleteIfExists(lease.toPath)
    ()
  }

  /** Serve-path recovery: heal a dead writer's partial ingest before
    * reading (a crashed BM25 append would otherwise skew df vs N); a
    * LIVE writer's in-flight ingest is left alone. */
  def recoverIfIdle(spark: SparkSession, root: String): Unit = {
    val key = canon(root)
    if (active.containsKey(key)) return // our own open transaction
    recover(key, failOnLiveForeignWriter = false)
  }

  /** Committed scalar state (e.g. the curation max-id marker). Only
    * COMMITTED values are ever visible — a marker is readable iff its
    * whole ingest published. */
  def getKv(root: String, k: String): Option[String] =
    readCommit(commitFile(canon(root))).kv.get(k)

  /** Whether a transaction on `root` is open in this JVM: a
    * [[transact]] now would join it rather than commit. */
  private[graft] def isOpen(root: String): Boolean = active.containsKey(canon(root))

  /** The live directory of the root-relative directory `rel`, as an
    * absolute path: the version the commit record names, or `rel`
    * itself before any transaction published one. */
  def live(root: String, rel: String): String = {
    val key = canon(root)
    s"$key/${readCommit(commitFile(key)).versions.get(rel).fold(rel)(versionRel(rel, _))}"
  }

  /** The one naming rule for versions: `rel`'s version of `epoch`. */
  private def versionRel(rel: String, epoch: Long): String = s"${rel}__v$epoch"

  /** Every copy of `rel` on disk — `rel` itself and each of its
    * versions — as root-relative paths. */
  private[graft] def copies(root: String, rel: String): Seq[String] = {
    val dir = new File(canon(root), rel)
    val version = s"${dir.getName}__v"
    Option(dir.getParentFile.list()).toSeq.flatten
      .filter(n => n == dir.getName ||
        n.startsWith(version) && n.drop(version.length).toLongOption.isDefined)
      .map(n => rel.take(rel.lastIndexOf('/') + 1) + n)
  }

  /** Throws when `key` holds a layout of an earlier format, which
    * [[live]] would not resolve: compaction aliases in the commit
    * record, version entries that do not name their directory, and
    * state directories holding nested `v<n>` versions or `a<n>`
    * DistinctStore deltas. */
  private def requireCurrentLayout(key: String): Unit = {
    val c = readCommit(commitFile(key))
    val nested = Option(new File(key, "state").listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.matches("[av][0-9]+"))
        .map(f => s"state/${d.getName}/${f.getName}"))
    val legacy = c.kv.keys.filter(_.startsWith("active:")).map(k => s"kv $k") ++
      c.versions.keys.filterNot(r => r.startsWith("state/") || r.startsWith("warehouse/"))
        .map(v => s"version entry $v") ++ nested
    require(legacy.isEmpty,
      s"store root $key holds ${legacy.head}, a layout of an earlier format " +
        "— rebuild under a fresh root")
  }

  /** Exclusive long-lived maintenance lease for an always-on sink: held
    * from stream start to termination, so a SECOND sink on the same
    * store root — this process or another — fails fast instead of
    * silently interleaving ingests. Per-ingest transactions inside the
    * sink's micro-batches reuse it. */
  def acquireSink(root: String): SinkLease = {
    val key = canon(root)
    if (jvmSinkLeases.containsKey(key))
      throw new IllegalStateException(
        s"store root $root already has an active maintenance sink in this " +
          "process — one maintenance stream per store")
    val l = Lease.acquire(leaseFile(key), leaseTtlMs)
    jvmSinkLeases.put(key, l)
    new SinkLease(key, l)
  }

  final class SinkLease private[sources] (key: String, lease: Lease) {
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    /** Idempotent — both the query-termination listener and a
      * synchronous finally may call it. */
    def release(): Unit =
      if (released.compareAndSet(false, true)) {
        jvmSinkLeases.remove(key)
        lease.release()
      }
  }

  // ------------------------------------------------------------- txn

  private[graft] final class Txn(key: String) {
    private[graft] val epoch: Long = readCommit(commitFile(key)).epoch + 1
    private val touched = scala.collection.mutable.LinkedHashMap.empty[String, DirSnap]
    private val versionWrites = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    private val kvs = scala.collection.mutable.LinkedHashMap.empty[String, String]

    /** Snapshot `rel` (root-relative) into the intent before its first
      * write in this transaction. Idempotent per directory. The listing
      * is RECURSIVE (entry paths relative to the directory): partitioned
      * tables write into `part=value` subdirectories, and a flat
      * snapshot would silently keep a crashed append's files there. */
    def touchPath(rel: String): Unit = synchronized {
      if (!touched.contains(rel)) {
        // rel itself is a tab-separated FIELD on the intent line — a
        // tab or newline in it breaks the line's arity on recovery and
        // the undo would mis-parse the snapshot
        if (rel.exists(c => c == '\t' || c == '\n'))
          throw new IllegalArgumentException(
            s"store path '$rel' contains an intent-reserved character " +
              "(tab/newline)")
        val dir = new File(key, rel)
        val names = listRecursive(dir)
        // the intent serializes names ','-joined on '\t'-separated
        // lines — a partition value containing either (possible with
        // string partition columns: `lang=a,b`) would deserialize into
        // a DIFFERENT file set and make undo delete the wrong entries;
        // refuse before the snapshot can be corrupted
        names.find(n => n.exists(c => c == ',' || c == '\t' || c == '\n'))
          .foreach(n => throw new IllegalArgumentException(
            s"store path '$n' under $rel contains an intent-reserved " +
              "character (comma/tab/newline) — use partition values " +
              "without them"))
        touched(rel) = DirSnap(rel, dir.exists(), names)
        persistIntent()
        if (hooks.crashAfterTouches != Int.MaxValue) {
          hooks.crashAfterTouches -= 1
          if (hooks.crashAfterTouches <= 0) { hooks.reset(); throw new SimulatedCrash }
        }
      }
    }

    /** The absolute path of this transaction's new version of the
      * root-relative directory `rel` — registered in the intent
      * (write-ahead) so a crashed version is swept; published, and every
      * other copy of `rel` deleted, by commit. */
    def newVersion(rel: String): String = synchronized {
      versionWrites(rel) = epoch
      persistIntent()
      s"$key/${versionRel(rel, epoch)}"
    }

    /** Buffer a scalar for the commit record. Visible only on commit. */
    def putKv(k: String, v: String): Unit = synchronized { kvs(k) = v; () }

    private def persistIntent(): Unit =
      writeAtomic(intentFile(key),
        (s"epoch\t$epoch" +:
          (touched.values.map(d =>
            s"dir\t${d.rel}\t${if (d.existed) 1 else 0}\t${d.names.toSeq.sorted.mkString(",")}").toSeq ++
            versionWrites.map { case (s, e) => s"state\t$s\t$e" }.toSeq)).mkString("\n"))

    private[sources] def commit(): Unit = synchronized {
      val prev = readCommit(commitFile(key))
      val versions = prev.versions ++ versionWrites.keys.map(_ -> epoch)
      writeAtomic(commitFile(key),
        (s"epoch\t$epoch" +:
          (versions.toSeq.sorted.map { case (s, v) => s"v\t$s\t$v" } ++
            (prev.kv ++ kvs).toSeq.sorted.map { case (k, v) => s"kv\t$k\t$v" })).mkString("\n"))
      Files.deleteIfExists(intentFile(key).toPath)
      // GC every other copy of each published directory: the base, the
      // version it replaced, and any a crash after an earlier commit left
      // (readers materialize what they keep, as with an overwrite)
      versionWrites.keys.foreach(rel => copies(key, rel)
        .filter(_ != versionRel(rel, epoch)).foreach(drop(key, _)))
    }

    private[sources] def rollback(): Unit = synchronized {
      undo(key, Intent(epoch, touched.values.toVector, versionWrites.toVector))
      Files.deleteIfExists(intentFile(key).toPath)
      ()
    }
  }

  // ----------------------------------------------------- persistence

  private[sources] def writeAtomic(f: File, content: String): Unit = {
    f.getParentFile.mkdirs()
    val tmp = new File(f.getParentFile, f.getName + ".tmp")
    Files.writeString(tmp.toPath, content)
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def readIntent(f: File): Intent = {
    val lines = Files.readString(f.toPath).split("\n").filter(_.nonEmpty)
    var epoch = 0L
    val dirs = Vector.newBuilder[DirSnap]
    val states = Vector.newBuilder[(String, Long)]
    lines.foreach { l =>
      l.split("\t", -1) match {
        case Array("epoch", e)       => epoch = e.toLong
        case Array("dir", rel, ex, names) =>
          dirs += DirSnap(rel, ex == "1",
            names.split(",").filter(_.nonEmpty).toSet)
        case Array("state", s, e)    => states += (s -> e.toLong)
        case _                       => // ignore unknown lines (forward compat)
      }
    }
    Intent(epoch, dirs.result(), states.result())
  }

  private def readCommit(f: File): Commit = {
    if (!f.exists()) return Commit(0L, Map.empty, Map.empty)
    var epoch = 0L
    val versions = Map.newBuilder[String, Long]
    val kv = Map.newBuilder[String, String]
    Files.readString(f.toPath).split("\n").filter(_.nonEmpty).foreach { l =>
      l.split("\t", -1) match {
        case Array("epoch", e)  => epoch = e.toLong
        case Array("v", s, v)   => versions += (s -> v.toLong)
        case Array("kv", k, v)  => kv += (k -> v)
        case _                  =>
      }
    }
    Commit(epoch, versions.result(), kv.result())
  }

  /** Every entry (file or directory) under `dir`, as paths relative to
    * it, '/'-separated. */
  private def listRecursive(dir: File): Set[String] = {
    if (!dir.exists()) return Set.empty
    val base = dir.toPath
    val out = Set.newBuilder[String]
    def walk(f: File): Unit = Option(f.listFiles()).foreach(_.foreach { c =>
      out += base.relativize(c.toPath).toString.replace(File.separatorChar, '/')
      if (c.isDirectory) walk(c)
    })
    walk(dir)
    out.result()
  }

  /** Physical undo: restore every snapshotted directory to its
    * recursive snapshot (delete entries the snapshot doesn't know,
    * whole subtrees at a time), drop directories that did not exist,
    * and drop this transaction's versions. */
  private def undo(key: String, intent: Intent): Unit = {
    intent.dirs.foreach { snap =>
      val dir = new File(key, snap.rel)
      if (!snap.existed) drop(key, snap.rel)
      else if (dir.exists()) {
        def sweep(f: File, rel: String): Unit =
          if (!snap.names.contains(rel)) rmrf(f) // unknown subtree: all new
          else if (f.isDirectory)
            Option(f.listFiles()).foreach(_.foreach(c =>
              sweep(c, s"$rel/${c.getName}")))
        Option(dir.listFiles()).foreach(_.foreach(c => sweep(c, c.getName)))
      }
    }
    intent.states.foreach { case (rel, e) => drop(key, versionRel(rel, e)) }
  }

  /** Delete the root-relative directory `rel` and, for a warehouse
    * table, its sidecars. */
  private def drop(key: String, rel: String): Unit = {
    rmrf(new File(key, rel))
    if (rel.startsWith("warehouse/"))
      Warehouse.sidecars(key, rel.stripPrefix("warehouse/")).foreach(rmrf)
  }

  /** Delete a file or directory tree; a delete that fails throws. */
  private[graft] def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    Files.deleteIfExists(f.toPath)
    ()
  }

  // ------------------------------------------------------------ lease

  private val jvmId = java.util.UUID.randomUUID().toString

  private[sources] final class Lease(file: File, ttlMs: Long) {
    @volatile private var running = true
    private val hb = new Thread(() => {
      while (running) {
        file.setLastModified(System.currentTimeMillis)
        try Thread.sleep(math.max(ttlMs / 5, 20L))
        catch { case _: InterruptedException => }
      }
    }, s"graft-lease-heartbeat")
    hb.setDaemon(true)
    hb.start()

    def release(): Unit = {
      running = false; hb.interrupt()
      Files.deleteIfExists(file.toPath)
      ()
    }

    /** Simulated kill: stop the heartbeat, LEAVE the file — it goes
      * stale after the TTL, exactly like a dead process's lease. */
    private[sources] def abandon(): Unit = { running = false; hb.interrupt() }
  }

  private[sources] object Lease {
    def acquire(file: File, ttlMs: Long): Lease = {
      file.getParentFile.mkdirs()
      if (file.exists()) {
        val age = System.currentTimeMillis - file.lastModified
        if (age < ttlMs) {
          val owner = try Files.readString(file.toPath).trim
            catch { case _: Exception => "unknown" }
          throw new IllegalStateException(
            s"store root ${file.getParentFile.getParent} is locked by " +
              s"another maintenance writer (heartbeat ${age} ms ago, " +
              s"owner $owner) — one writer per store root; stop it or " +
              s"wait out the ${ttlMs} ms lease")
        }
        Files.deleteIfExists(file.toPath) // stale: owner died — steal
      }
      try Files.createFile(file.toPath) // atomic claim
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(
            s"lost the writer-lease race for ${file.getPath}")
      }
      Files.writeString(file.toPath,
        s"jvm=$jvmId pid=${ProcessHandle.current().pid()}\n")
      new Lease(file, ttlMs)
    }
  }
}
