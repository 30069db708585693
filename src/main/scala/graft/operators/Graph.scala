package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph analysis over an edge list: node degrees and a
  * deterministic fixed-point PageRank — the domain-authority signal a
  * web-scale curation pipeline weighs sources by (Common Crawl ranks
  * hosts this way; C4/RefinedWeb-style cleaning drops or downweights
  * whole hosts, cf. CorpusStats.sourceFilter which gates on in-corpus
  * reputation where this operator gates on the LINK graph).
  *
  * Determinism contract (the library-wide exact-arithmetic idiom, same
  * genus as Clustering's integer centroids and QualityModels'
  * perceptrons): ranks are scaled longs (`rank_fp`, fixed-point with
  * denominator `scale`) and every update is integer multiply / integer
  * floor-division / long sum — order-independent, so the result is
  * bit-reproducible across partitionings AND replayable by an external
  * SQL engine with unrolled iterations (the q154 oracle). Floating
  * point appears only in the final convenience column
  * `rank = rank_fp / scale`, derived scalar-wise from the exact value.
  *
  * Update rule (per iteration, all integer ops, `div` = floor division
  * on the nonnegative domain):
  * {{{
  *   contrib(u→v) = (rank_fp(u) * w(u→v)) div wtot(u)
  *   dshare       = (Σ rank_fp over dangling u) div N
  *   rank_fp'(v)  = ((dampDen-dampNum) * (scale div N)) div dampDen
  *                + (dampNum * (Σ contrib(·→v) + dshare)) div dampDen
  * }}}
  * i.e. r' = (1-d)/N + d·(Σ r/outdeg + danglingMass/N) in fixed point
  * with d = dampNum/dampDen. Floor-division leaks O(1 ulp) of mass per
  * node per round — total mass stays ≤ scale (never grows), which is
  * what bounds every intermediate product (see the overflow guard).
  *
  * Scale shape: the weighted edge list is aggregated once (collapsing
  * parallel edges), joined to its per-source totals, repartitioned by
  * `src` and checkpointed — each iteration then shuffles only the
  * N-row rank table into that fixed layout (one exchange) and rolls
  * contributions up by `dst` (second exchange); the billion-edge side
  * never re-shuffles. Rank lineage is truncated per round via tracked
  * localCheckpoints (the connectedComponents discipline — storage
  * holds the edge list plus two rank tables, superseded blocks are
  * unpersisted eagerly). Per-round driver chatter is ONE job: the
  * 1-row dangling-mass control read (plus the L1 step in tol mode)
  * rides the round's materialization action via a lazy checkpoint
  * mark; N and the max out-weight are read once up front.
  */
object Graph {

  /** Exact a div b on nonnegative longs (IntegralDivide — truncation
    * equals floor here; Spark's `/` would round through binary64). */
  private def idiv(a: Column, b: Column): Column = {
    import graft.functions.expressions.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    ColumnBridge.column(IntegralDivide(
      ColumnBridge.expression(a.cast("long")),
      ColumnBridge.expression(b.cast("long"))))
  }

  /** [[pageRank]]/[[trustRank]]'s small-graph gate: max aggregated edge
    * rows replayed on the driver (≈ 24 MB collected at the default — a
    * broadcast build side's size class; the
    * [[Dedup.connectedComponents]] discipline: a driver-MEMORY bound on
    * an already-materialized count, not a data-scale tuning). */
  private[graft] val DefaultMaxDriverRankEdges: Long = 1L << 20

  /** Both rank routes reject a prior with several rows for one graph
    * node: which row should win is not defined. */
  private def duplicatePriorMsg(label: String): String =
    s"$label: prior has several rows for one node — priors must be node-unique"

  /** DRIVER REPLAY of the rank fixpoint (r13): every update is exact
    * integer arithmetic over the aggregated edge list, so once that
    * list is materialized and small (at most `maxRows` rows), replaying
    * the rounds in memory is bit-identical to the distributed loop — same
    * long multiply / truncating divide / wrapping sum, same
    * driver-side dshare / BigInt-dtel scalars — while saving 2 pinned
    * materializations plus ~2 jobs per iteration (the per-round
    * shuffle-join and its control read). Host graphs are tiny relative
    * to their corpus at any scale (nodes = hosts, not documents);
    * a graph past the gate takes the distributed rounds unchanged.
    * Equivalence is spec-pinned in GraphSpec (driver ≡ distributed,
    * weighted/dangling/warm/tol, both operators).
    *
    * Returns None — fall through to the distributed loop — when the
    * edge list, prior or seed table exceeds the gate (0 always does;
    * each is one bounded [[graft.core.DriverRoute]] collect), when an
    * edge endpoint is null (the distributed join silently drops those
    * contributions; replaying that faithfully is not worth the code), or
    * when the src/dst, seed or prior node types differ from each other
    * (driver Any-equality cannot mirror the join's type coercion). A prior with
    * several rows for one graph node fails here as on the distributed
    * route ([[duplicatePriorMsg]]).
    *
    * `seedsOpt` = Some(distinct seed ids) selects the trustRank update
    * rule; None the pageRank one. */
  private def rankReplay(checkpoint: RoundCheckpoint, eAgg: DataFrame,
                         seedsOpt: Option[DataFrame],
                         prior: Option[DataFrame], iters: Int,
                         dampNum: Long, dampDen: Long, scale: Long,
                         tol: Option[Long], maxRows: Long,
                         label: String): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import scala.collection.mutable
    val spark = eAgg.sparkSession
    val nodeType = eAgg.schema("src").dataType
    if (!graft.core.DriverRoute.sameKeyTypes(Seq(eAgg -> "src", eAgg -> "dst") ++
        seedsOpt.map(s => s -> s.columns.head) ++ prior.map(_ -> "node"): _*))
      return None
    def bounded(df: DataFrame) = graft.core.DriverRoute.collect(df, maxRows)
    val eRows = bounded(eAgg.select("src", "dst", "w")).getOrElse(return None)
    // prior/seeds collect under the same driver-memory bound as the
    // edges; an oversized one routes the whole call distributed
    var priorMap: mutable.HashMap[Any, Long] = null
    val priorDups = mutable.HashSet.empty[Any]
    if (prior.isDefined) bounded(prior.get
        .select(col("node"), col("rank_fp").cast("long"))) match {
      case None => return None
      case Some(rows) =>
        priorMap = mutable.HashMap.empty
        val seen = mutable.HashSet.empty[Any]
        rows.foreach(r => if (!r.isNullAt(0)) {
          if (!seen.add(r.get(0))) priorDups += r.get(0)
          if (!r.isNullAt(1)) priorMap.update(r.get(0), r.getLong(1))
        })
    }
    var seedSet: mutable.HashSet[Any] = null
    seedsOpt.foreach(s => bounded(s) match {
      case None => return None
      case Some(rows) =>
        seedSet = mutable.HashSet.empty
        rows.foreach(r => if (!r.isNullAt(0)) seedSet += r.get(0))
    })
    val wtot = mutable.HashMap.empty[Any, Long]
    val nodeSet = mutable.LinkedHashSet.empty[Any]
    var i = 0
    while (i < eRows.length) {
      val r = eRows(i)
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      val s = r.get(0)
      wtot.update(s, wtot.getOrElse(s, 0L) + r.getLong(2))
      nodeSet += s; nodeSet += r.get(1)
      i += 1
    }
    val trust = seedSet != null
    val n = nodeSet.size.toLong
    require(n > 0, s"$label: empty graph")
    require(!priorDups.exists(nodeSet.contains), duplicatePriorMsg(label))
    val nSeeds = if (trust) nodeSet.iterator.count(seedSet.contains).toLong else 0L
    if (trust) require(nSeeds > 0,
      "trustRank: no seed is a graph node — trust cannot enter")
    val massBound = if (prior.isDefined) 2 * scale else scale
    val maxW = if (wtot.isEmpty) 1L else wtot.valuesIterator.max
    require(maxW <= Long.MaxValue / massBound,
      s"$label: mass bound $massBound * max out-weight=$maxW would " +
        "overflow; lower scale or pre-normalize weights")
    require(dampNum <= Long.MaxValue / (2 * massBound),
      s"$label: dampNum=$dampNum * 2*mass bound=$massBound overflows")
    if (trust) require(nSeeds <= scale,
      s"trustRank: seed count $nSeeds exceeds fixed-point scale $scale")
    else require(n <= scale,
      s"pageRank: node count $n exceeds fixed-point scale $scale; " +
        "raise scale so initR = scale/n stays nonzero")
    val share = if (trust) scale / nSeeds else scale / n // seedShare|initR
    val base = ((dampDen - dampNum) * share) / dampDen
    var rank = mutable.HashMap.empty[Any, Long]
    nodeSet.foreach { nd =>
      val cold = if (!trust || seedSet.contains(nd)) share else 0L
      val v = if (priorMap == null) cold else priorMap.getOrElse(nd, cold)
      require(v >= 0 && v <= scale,
        s"$label: prior rank outside [0, $scale] — priors must come " +
          s"from a $label run at the same scale")
      rank.update(nd, v)
    }
    def danglingSum(m: mutable.HashMap[Any, Long]): Long = {
      var s = 0L
      nodeSet.foreach(nd => if (!wtot.contains(nd)) s += m(nd))
      s
    }
    var dangling = danglingSum(rank)
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      // identical scalars to the distributed loop: dshare is plain Long
      // division, trust's teleport share goes through BigInt
      val extra =
        if (trust) ((BigInt(dangling) * share) / scale).toLong
        else dangling / n
      val in = mutable.HashMap.empty[Any, Long]
      var j = 0
      while (j < eRows.length) {
        val r = eRows(j)
        val s = r.get(0); val d = r.get(1)
        val c = (rank(s) * r.getLong(2)) / wtot(s)
        in.update(d, in.getOrElse(d, 0L) + c)
        j += 1
      }
      var newDangling = 0L
      var l1 = 0L
      val next = mutable.HashMap.empty[Any, Long]
      nodeSet.foreach { nd =>
        val seeded = !trust || seedSet.contains(nd)
        val v = (if (seeded) base else 0L) +
          (dampNum * (in.getOrElse(nd, 0L) +
            (if (seeded) extra else 0L))) / dampDen
        next.update(nd, v)
        if (!wtot.contains(nd)) newDangling += v
        if (tol.isDefined) l1 += math.abs(v - rank(nd))
      }
      rank = next
      dangling = newDangling
      tol.foreach(t => if (l1 <= t) converged = true)
      it += 1
    }
    checkpoint.releasePinned()
    val schema = StructType(Seq(StructField("node", nodeType),
      StructField("rank_fp", LongType), StructField("rank", DoubleType)))
    Some(graft.core.DriverRoute.local(spark, nodeSet.iterator.map(nd =>
      Row(nd, rank(nd), rank(nd).toDouble / scale.toDouble)).toVector, schema))
  }

  /** The persisted RDDs under a checkpointed frame's `LogicalRDD`s: read
    * from the frame itself, not from a diff of the context's persistent
    * RDDs, which under `Par.both` also holds the other leg's checkpoints
    * (whose release would then break that leg's reads). */
  private[operators] def pinnedBy(df: DataFrame): Set[Int] = {
    val persisted = df.sparkSession.sparkContext.getPersistentRDDs
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.filter(persisted.contains).toSet
  }

  /** `df` checkpointed — locally unless `reliable`, now unless `eager` is
    * false — with the RDD ids it pinned ([[pinnedBy]]), so the caller
    * [[release]]s its blocks deterministically instead of leaking one
    * materialized frame per call until ContextCleaner GC. */
  private[operators] def checkpointPinned(df: DataFrame, eager: Boolean = true,
      reliable: Boolean = false): (DataFrame, Set[Int]) = {
    val mat = if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
    (mat, pinnedBy(mat))
  }

  /** Unpersist the RDDs `ids` that are still persisted. */
  private[operators] def release(sc: org.apache.spark.SparkContext,
                                 ids: Set[Int]): Unit =
    ids.foreach(i => sc.getPersistentRDDs.get(i).foreach(_.unpersist(false)))

  /** Per-round materialization for the iterative operators (pageRank
    * here, [[Dedup.connectedComponents]]), with the failure-domain knob:
    *
    *  - `reliableDir = None` (default): `localCheckpoint` — fastest, but
    *    the truncated lineage lives in executor storage, so an executor
    *    loss mid-run FAILS the job. Right for bounded bench runs.
    *  - `Some(dir)`: reliable checkpoint files under `dir` (an
    *    HDFS/object-store path at cluster scale) — each round pays a
    *    second computation plus the file write, and a lost executor
    *    recomputes from the files instead of killing the run. The knob
    *    a 50-iteration convergence run on preemptible nodes wants.
    *    Superseded rounds' checkpoint files are swept by
    *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    *    (GC-driven) or by deleting `dir` after the run.
    *
    * Returns the materialized frame plus the RDD ids the call pinned,
    * so the caller can unpersist superseded rounds deterministically
    * (reliable checkpoints pin nothing — the id set is empty and reads
    * come from the files). */
  private[operators] final class RoundCheckpoint(
      sc: org.apache.spark.SparkContext, reliableDir: Option[String]) {
    reliableDir.foreach(sc.setCheckpointDir)
    def apply(df: DataFrame): (DataFrame, Set[Int]) =
      checkpointPinned(df, reliable = reliableDir.isDefined)
    /** Mark for checkpoint WITHOUT forcing a materialization job: the
      * caller's next action on the frame computes it, persists the
      * blocks, and truncates lineage in that ONE job — the rank loops
      * ride their per-round control aggregate (dangling mass / L1
      * step) on exactly that job, halving per-iteration job
      * submissions. The caller MUST run an action over every partition
      * (an aggregate does) before relying on the frame being pinned.
      * Reliable mode stays eager: a lazy reliable checkpoint would
      * recompute the whole RDD for the file write (RDD.checkpoint's
      * documented behavior for unpersisted lineage), costing more than
      * the job it saves. */
    def lazyMark(df: DataFrame): (DataFrame, Set[Int]) =
      checkpointPinned(df, eager = reliableDir.isDefined, reliable = reliableDir.isDefined)
    /** The one-shot form for frames that live for the whole run (edge
      * list, node table): tracked so [[releasePinned]] can free them
      * when the run's RESULT no longer depends on them — a caller
      * looping pageRank/CC calls (warm-start maintenance, probes)
      * otherwise accumulates one cached edge list per call until the
      * storage pool evicts mid-aggregation (measured: three 100M-edge
      * pageRank calls OOM'd the 10M probe before this). */
    private var pinnedIds: Set[Int] = Set.empty
    def pin(df: DataFrame): DataFrame = {
      val (mat, ids) = apply(df)
      pinnedIds ++= ids
      mat
    }
    /** Unpersist every [[pin]]'d frame — call once the returned result
      * is itself materialized and lineage-free. */
    def releasePinned(): Unit = {
      release(sc, pinnedIds)
      pinnedIds = Set.empty
    }
  }

  /** Weighted in/out degrees per node: (node, out_deg, in_deg,
    * out_weight, in_weight); nodes missing a side report 0. Parallel
    * edges count individually in `*_deg` and sum into `*_weight`. */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String,
              weightCol: Option[String] = None): DataFrame = {
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val out = edges.groupBy(col(srcCol).as("node"))
      .agg(count(lit(1)).as("out_deg"), sum(w).as("out_weight"))
    val in = edges.groupBy(col(dstCol).as("node"))
      .agg(count(lit(1)).as("in_deg"), sum(w).as("in_weight"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_weight"), lit(0L)).as("out_weight"),
        coalesce(col("in_weight"), lit(0L)).as("in_weight"))
  }

  /** Deterministic weighted PageRank, `iters` fixed iterations of the
    * update rule above. Returns (node, rank_fp, rank) for EVERY node
    * appearing as a src or dst (dangling nodes included — they hold the
    * teleport base plus their dshare slice). Edge weights must be
    * nonnegative; parallel edges collapse by weight sum, so
    * `pageRank(e)` ≡ `pageRank(e collapsed with weightCol)` by
    * construction.
    *
    * `prior` warm-starts the iteration from an earlier (node, rank_fp)
    * table — [[EdgeStore]]'s rank-maintenance path. The update is
    * deterministic from ANY start, so the contract is exact, not
    * approximate: on an UNCHANGED graph, `pageRank(e, j, prior =
    * pageRank(e, k))` is bit-identical to `pageRank(e, k + j)`
    * (spec-pinned). On a grown graph it is the exact fixed-iteration
    * run from that start — nodes the prior doesn't cover (new since the
    * prior) start at the uniform initR, nodes the graph no longer has
    * are dropped, and because the damped update is a contraction, a
    * prior near the fixed point needs FEWER iterations to a given
    * tolerance than the uniform start (the fixed-iteration-vs-tolerance
    * tradeoff: callers pinning bit-reproducibility fix `iters`; callers
    * chasing convergence warm-start and iterate to tolerance). Prior
    * ranks must sit in [0, scale] — each is row-local-asserted, and the
    * overflow guards tighten to the warm bound (init mass ≤ 2·scale:
    * prior mass ≤ scale plus ≤ scale of new-node initR; the contraction
    * never grows it).
    *
    * `checkpointDir` switches the per-round lineage cut from
    * localCheckpoint to reliable checkpoint files — see
    * [[RoundCheckpoint]] for the failure-domain/cost tradeoff. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, weightCol: Option[String] = None,
               dampNum: Long = 85L, dampDen: Long = 100L,
               scale: Long = 1L << 30,
               prior: Option[DataFrame] = None,
               checkpointDir: Option[String] = None,
               tol: Option[Long] = None,
               maxDriverEdges: Long = DefaultMaxDriverRankEdges)
      : DataFrame = {
    requireRankParams("pageRank", iters, tol, dampNum, dampDen, scale)
    val checkpoint = new RoundCheckpoint(edges.sparkSession.sparkContext, checkpointDir)
    val eAgg = stagedEdges(checkpoint, edges, srcCol, dstCol, weightCol, "pageRank")
    // SMALL-GRAPH ROUTE (r13): at or under the gate the whole fixpoint
    // replays on the driver, bit-identically — see [[rankReplay]]
    rankReplay(checkpoint, eAgg, None, prior, iters, dampNum, dampDen,
      scale, tol, maxDriverEdges, "pageRank").foreach(df => return df)
    val (outW, contribE, nodes) = rankSides(checkpoint, eAgg)
    val nodesF = checkpoint.pin(nodes
      .select(col("node"), coalesce(col("__o"), lit(false)).as("has_out")))

    val n = nodesF.count() // bounded control read: node count
    require(n > 0, "pageRank: empty graph")
    // overflow guard: cold start keeps mass ≤ scale (it only shrinks);
    // a warm start may begin at ≤ 2·scale (see the prior contract), so
    // its bounds tighten ×2 — fail fast instead of silently wrapping
    // (the zorderValue lesson)
    val massBound = if (prior.isDefined) 2 * scale else scale
    requireNoOverflow(outW, massBound, dampNum, "pageRank")
    // n > scale ⇒ initR = 0 and every rank silently collapses to zero;
    // fail fast like the other fixed-point guards (raise scale instead)
    require(n <= scale,
      s"pageRank: node count $n exceeds fixed-point scale $scale; " +
        "raise scale so initR = scale/n stays nonzero")
    val initR = scale / n
    val base = ((dampDen - dampNum) * initR) / dampDen

    val init = prior match {
      case None => nodesF.withColumn("rank_fp", lit(initR))
      case Some(p) =>
        // nodes the prior misses start uniform; out-of-range prior
        // ranks fail row-locally (no extra job — the assert rides the
        // init materialization the loop pays anyway)
        nodesF.join(
            p.select(col("node"), col("rank_fp").cast("long").as("__pr")),
            Seq("node"), "left")
          .select(col("node"), col("has_out"),
            coalesce(col("__pr"), lit(initR)).as("rank_fp"))
          .filter(assert_true(
            col("rank_fp") >= 0 && col("rank_fp") <= scale,
            lit(s"pageRank: prior rank outside [0, $scale] — priors " +
              "must come from a pageRank run at the same scale")).isNull)
    }
    rankRounds(checkpoint, init, contribE, n, iters, scale, tol, "pageRank") {
      (inSum, dangling) =>
        nodesF.join(inSum, Seq("node"), "left")
          .select(col("node"), col("has_out"),
            (lit(base) + idiv(
              lit(dampNum) * (coalesce(col("__in"), lit(0L)) + lit(dangling / n)),
              lit(dampDen))).as("rank_fp"))
    }
  }

  private def requireRankParams(label: String, iters: Int, tol: Option[Long],
                                dampNum: Long, dampDen: Long, scale: Long): Unit = {
    require(iters >= 0, s"$label iters must be >= 0, got $iters")
    tol.foreach(t => require(t >= 0, s"$label tol must be >= 0, got $t"))
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"$label damping must satisfy 0 <= dampNum <= dampDen, " +
        s"got $dampNum/$dampDen")
    require(scale > 0, s"$label scale must be positive, got $scale")
  }

  /** The (src, dst, w) edge list with parallel edges summed, pinned: it
    * is staged ONCE because outW, both sides of the contrib join, the
    * node table, and the maxW control read all descend from it, and an
    * unmaterialized `edges` pipeline (e.g. hostEdges parsing raw HTML)
    * would otherwise re-run its parse per consumer — measured 4× on the
    * q171 site-graph build (r12). */
  private def stagedEdges(checkpoint: RoundCheckpoint, edges: DataFrame,
      srcCol: String, dstCol: String, weightCol: Option[String],
      label: String): DataFrame = {
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    checkpoint.pin(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("w"))
      .filter(assert_true(col("w") >= 0,
        lit(s"$label: negative edge weight")).isNull)
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      .filter(col("w") > 0))
  }

  /** The rounds' static sides over the staged edges: the per-src
    * out-weights (src, wtot); the contributions (src, dst, w, wtot), the
    * big, per-iteration-reused side — fixed src layout, lineage cut; and
    * every node with `__o` true when it has out-edges (null otherwise). */
  private def rankSides(checkpoint: RoundCheckpoint,
                        eAgg: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val outW = eAgg.groupBy("src").agg(sum(col("w")).as("wtot"))
    val contribE = checkpoint.pin(eAgg.join(outW, "src").repartition(col("src")))
    val nodes = contribE.select(col("src").as("node"))
      .union(contribE.select(col("dst").as("node"))).distinct()
      .join(outW.select(col("src").as("node"), lit(true).as("__o")), Seq("node"), "left")
    (outW, contribE, nodes)
  }

  /** Fail fast where the rounds' largest products would overflow:
    * rank_fp*w ≤ massBound*maxWtot and dampNum*(inSum+dshare) ≤
    * dampNum*2*massBound. */
  private def requireNoOverflow(outW: DataFrame, massBound: Long, dampNum: Long,
                                label: String): Unit = {
    val maxW = outW.agg(coalesce(max(col("wtot")), lit(1L)))
      .first().getLong(0) // bounded control read: max out-weight
    require(maxW <= Long.MaxValue / massBound,
      s"$label: mass bound $massBound * max out-weight=$maxW would " +
        "overflow; lower scale or pre-normalize weights")
    require(dampNum <= Long.MaxValue / (2 * massBound),
      s"$label: dampNum=$dampNum * 2*mass bound=$massBound overflows")
  }

  /** The distributed rounds of [[pageRank]] and [[trustRank]] from `init`
    * (node, has_out, …, rank_fp) over `n` nodes: `step` maps a round's
    * in-flow (node, __in) and dangling mass to the next ranks, for
    * `iters` rounds or until the L1 step is at most `tol`. Returns
    * (node, rank_fp, rank) and releases every pin but the final round's.
    *
    * The dangling-mass control read RIDES each round's materialization
    * job (lazyMark + the aggregate below is the round's ONE action in
    * local-checkpoint mode; reliable mode pays the eager checkpoint's
    * extra job by design) — round k's update consumes the mass
    * computed when round k−1's output materialized, the identical
    * value the old separate per-round aggregate read. In tol mode the
    * L1 step rides the SAME aggregate, so tolerance-chased runs also
    * submit one job per round instead of three. */
  private def rankRounds(checkpoint: RoundCheckpoint, init: DataFrame,
      contribE: DataFrame, n: Long, iters: Int, scale: Long, tol: Option[Long],
      label: String)(step: (DataFrame, Long) => DataFrame): DataFrame = {
    val sc = init.sparkSession.sparkContext
    def danglingOf(c: Column): Column =
      coalesce(sum(when(!col("has_out"), c)), lit(0L))
    var (ranks, prevIds) = checkpoint.lazyMark(init)
    // bounded control read: materializes init and returns its dangling
    // mass and row count in one job — a prior with several rows for one
    // node would duplicate that node
    val init0 = ranks.agg(danglingOf(col("rank_fp")), count(lit(1))).first()
    require(init0.getLong(1) == n, duplicatePriorMsg(label))
    var dangling = init0.getLong(0)
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val inSum = ranks.select(col("node").as("src"), col("rank_fp"))
        .join(contribE, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(idiv(col("rank_fp") * col("w"), col("wtot"))).as("__in"))
      val (mat, ids) = checkpoint.lazyMark(step(inSum, dangling))
      // tolerance mode: stop once the L1 step shrinks to `tol` ulps —
      // `iters` is then the CAP, not the count. The RESULT is still
      // exactly pageRank(edges, k) for the k where the rule fired —
      // every iteration stays exact integer arithmetic — but k is
      // data-dependent, so callers pinning bit-reproducible replay
      // (the q154 oracle) use the fixed-iteration form and convergence
      // chasers (warm-start maintenance on preemptible nodes, with
      // `checkpointDir`) use this one.
      val row = tol match {
        case None => mat.agg(danglingOf(col("rank_fp"))).first()
        case Some(_) =>
          // both rank tables carry the full node universe, so the inner
          // join preserves every row and the dangling sum over it
          // equals the sum over `mat` alone
          mat.select(col("node"), col("has_out"),
              col("rank_fp").as("__n"))
            .join(ranks.select(col("node"), col("rank_fp").as("__o")),
              "node")
            .agg(danglingOf(col("__n")),
              coalesce(sum(abs(col("__n") - col("__o"))), lit(0L)))
            .first()
      }
      dangling = row.getLong(0)
      tol.foreach(t => if (row.getLong(1) <= t) converged = true)
      release(sc, prevIds)
      ranks = mat
      prevIds = ids
      it += 1
    }
    // the final ranks are checkpointed (lineage-free) — the run-scoped
    // edge/node pins can go now, so looped callers (warm-start
    // maintenance) don't accumulate a cached edge list per call
    checkpoint.releasePinned()
    ranks.select(col("node"), col("rank_fp"),
      (col("rank_fp").cast("double") / lit(scale.toDouble)).as("rank"))
  }

  /** Build the HOST-level link graph from crawled pages — the missing
    * first step of the crawl-curation composition (WARC →
    * [[hostEdges]] → [[EdgeStore]] → [[pageRank]]/[[trustRank]] →
    * [[authorityGate]] → curate): one (src, dst, w) edge per ordered
    * host pair, `w` = number of page-links from src-host pages to
    * dst-host URLs. Self-links (same host) are dropped — they carry no
    * cross-host reputation. Hosts come from the RFC-lite
    * [[graft.functions.HtmlFunctions.urlHost]] extraction (lower-cased,
    * port/userinfo stripped), so the whole builder is a codegen'd
    * regex projection + one explode + one aggregation — row-local
    * until the final groupBy's single exchange, and the heavy html
    * column is pruned at the explode projection, never shuffled.
    *
    * Node ids are host STRINGS — [[pageRank]]/[[trustRank]] join on
    * them directly; an [[EdgeStore]] (long-keyed) ingests
    * `xxhash64(host)` with a (hash, host) dimension kept alongside.
    *
    * `siteKey` re-keys each extracted host BEFORE the self-link filter
    * and the aggregation — pass
    * [[graft.functions.HtmlFunctions.registrableDomain]] to build the
    * SITE-level graph (www./m./cdn. subdomains collapse into one node)
    * directly, instead of building the host graph and collapsing after:
    * same result by construction (spec-pinned equivalence — a host
    * self-link is a domain self-link too, and the weight is the
    * page-link count between distinct keys either way), one fewer
    * projection over the extracted edges at crawl scale. Default
    * identity = the raw host graph. */
  def hostEdges(pages: DataFrame, urlCol: String, htmlCol: String,
                siteKey: Column => Column = identity): DataFrame = {
    import graft.functions.HtmlFunctions
    pages
      .select(siteKey(HtmlFunctions.urlHost(col(urlCol))).as("src"),
        explode(HtmlFunctions.outLinks(col(htmlCol))).as("__link"))
      .select(col("src"),
        siteKey(HtmlFunctions.urlHost(col("__link"))).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** Per-target-host anchor-TERM profile from crawled pages — the
    * retrieval-side complement of [[hostEdges]]: anchor text is how the
    * rest of the web describes the TARGET page, so aggregating the
    * terms per destination host yields the anchor-text index a
    * crawl-scale search stack ranks with (feed the output to
    * [[Retrieval]]'s BM25 with host as the document key, next to the
    * [[pageRank]]/[[trustRank]] authority signals). One row per
    * (host, term) with `w` = cross-site occurrence count; SAME-host
    * anchors are dropped like [[hostEdges]]' self-links — site-internal
    * nav text carries no cross-site description. Terms come from
    * [[graft.functions.TextFunctions.tokens]] over the markup-stripped
    * anchor text ([[graft.functions.HtmlFunctions.anchorTexts]]).
    *
    * Scale shape: row-local (regex extract → two explodes) until ONE
    * aggregation exchange on (host, term); the html column is pruned at
    * the first explode projection and never shuffles.
    *
    * `siteKey` re-keys source and target hosts before the same-site
    * filter and the aggregation — [[hostEdges]]' parameter verbatim
    * (pass [[graft.functions.HtmlFunctions.registrableDomain]] for a
    * site-level anchor index; spec-pinned equal to collapsing after). */
  def anchorTerms(pages: DataFrame, urlCol: String, htmlCol: String,
                  siteKey: Column => Column = identity): DataFrame = {
    import graft.functions.{HtmlFunctions, TextFunctions}
    pages
      .select(siteKey(HtmlFunctions.urlHost(col(urlCol))).as("src"),
        explode(HtmlFunctions.anchorTexts(col(htmlCol))).as("__a"))
      .select(col("src"),
        siteKey(HtmlFunctions.urlHost(col("__a.href"))).as("host"),
        explode(TextFunctions.tokens(col("__a.text"))).as("term"))
      .filter(col("src").isNotNull && col("host").isNotNull &&
        col("src") =!= col("host"))
      .groupBy("host", "term").agg(count(lit(1)).as("w"))
  }

  /** TrustRank — personalized PageRank whose teleport distribution
    * concentrates on a trusted SEED set instead of the uniform prior
    * (Gyöngyi/Garcia-Molina/Pedersen, "Combating Web Spam with
    * TrustRank", VLDB 2004): trust flows out of hand-vetted hosts along
    * links, so spam farms that bootstrap rank from their own link mass
    * score near zero — the complement to [[pageRank]]'s popularity
    * signal for curation gating (compose with [[authorityGate]] over
    * these ranks to keep only seed-reachable hosts).
    *
    * Update rule, all integer ops (same determinism contract as
    * [[pageRank]] — bit-reproducible, oracle-replayable):
    * {{{
    *   seedShare   = scale div |seeds ∩ nodes|     (0 for non-seeds)
    *   r⁰(v)       = seedShare(v)
    *   dtel        = (Σ dangling rank · seedShare) div scale
    *   r'(v)       = ((dampDen−dampNum)·seedShare(v)) div dampDen
    *               + (dampNum·(Σ contrib(·→v) + [v∈seeds]·dtel)) div dampDen
    * }}}
    * Mass starts ≤ scale (seeds share it) and only shrinks, which keeps
    * every product inside the [[pageRank]] overflow bounds; the one new
    * intermediate (dangling·seedShare ≤ scale²) is computed driver-side
    * in BigInt, and `scale²` never materializes on executors. Seeds not
    * present in the graph are ignored (they can neither hold nor pass
    * trust); `seeds` must carry unique node ids in `seedCol`.
    *
    * `tol`/`checkpointDir` behave exactly as on [[pageRank]]. Returns
    * (node, rank_fp, rank) for every graph node — non-seed nodes
    * unreachable from any seed converge to 0, which IS the signal. */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
                iters: Int, seeds: DataFrame, seedCol: String,
                weightCol: Option[String] = None,
                dampNum: Long = 85L, dampDen: Long = 100L,
                scale: Long = 1L << 30,
                checkpointDir: Option[String] = None,
                tol: Option[Long] = None,
                prior: Option[DataFrame] = None,
                maxDriverEdges: Long = DefaultMaxDriverRankEdges)
      : DataFrame = {
    requireRankParams("trustRank", iters, tol, dampNum, dampDen, scale)
    val checkpoint = new RoundCheckpoint(edges.sparkSession.sparkContext, checkpointDir)
    val eAgg = stagedEdges(checkpoint, edges, srcCol, dstCol, weightCol, "trustRank")
    // SMALL-GRAPH ROUTE (r13) — the pageRank gate verbatim, with the
    // distinct seed set collected under the same driver-memory bound
    rankReplay(checkpoint, eAgg, Some(seeds.select(col(seedCol)).distinct()),
      prior, iters, dampNum, dampDen, scale, tol, maxDriverEdges, "trustRank")
      .foreach(df => return df)
    val (outW, contribE, nodes) = rankSides(checkpoint, eAgg)
    val nodesF = checkpoint.pin(nodes
      .join(seeds.select(col(seedCol).as("node"), lit(true).as("__s"))
        .distinct(), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("__o"), lit(false)).as("has_out"),
        coalesce(col("__s"), lit(false)).as("is_seed")))

    // bounded control reads: node count + seed∩graph count in one pass
    val cr = nodesF.agg(count(lit(1)),
      sum(when(col("is_seed"), 1L).otherwise(0L))).head()
    val (n, nSeeds) = (cr.getLong(0), cr.getLong(1))
    require(n > 0, "trustRank: empty graph")
    require(nSeeds > 0,
      "trustRank: no seed is a graph node — trust cannot enter")
    // overflow guards mirror pageRank's: cold trust mass stays ≤ scale
    // (it only shrinks), but a warm start on a GROWN graph can carry
    // transient mass up to ~2·scale (prior mass ≤ scale plus new-seed
    // seedShare mass ≤ scale) — the bound tightens ×2 when a prior is
    // set so the guard fails fast instead of silently wrapping
    val massBound = if (prior.isDefined) 2 * scale else scale
    requireNoOverflow(outW, massBound, dampNum, "trustRank")
    require(nSeeds <= scale,
      s"trustRank: seed count $nSeeds exceeds fixed-point scale $scale")
    val seedShare = scale / nSeeds
    val base = ((dampDen - dampNum) * seedShare) / dampDen

    // warm start — the [[pageRank]] prior contract verbatim: exact
    // continuation on an unchanged graph (k cold + j warm ≡ k+j cold,
    // spec-pinned); nodes the prior misses start at THEIR cold init
    // (seedShare for seeds, 0 otherwise); out-of-range priors fail
    // row-locally. On a grown graph the init mass can transiently reach
    // ~2·scale (prior ≤ scale plus new-seed seedShare mass ≤ scale) —
    // covered by the ×2 massBound tightening above.
    val init = prior match {
      case None => nodesF.withColumn("rank_fp",
        when(col("is_seed"), lit(seedShare)).otherwise(lit(0L)))
      case Some(p) =>
        nodesF.join(
            p.select(col("node"), col("rank_fp").cast("long").as("__pr")),
            Seq("node"), "left")
          .select(col("node"), col("has_out"), col("is_seed"),
            coalesce(col("__pr"),
              when(col("is_seed"), lit(seedShare)).otherwise(lit(0L)))
              .as("rank_fp"))
          .filter(assert_true(
            col("rank_fp") >= 0 && col("rank_fp") <= scale,
            lit(s"trustRank: prior rank outside [0, $scale] — priors " +
              "must come from a trustRank run at the same scale")).isNull)
    }
    // the pageRank rounds; the dangling·seedShare product stays a
    // DRIVER-side BigInt scalar (it can exceed Long for large scales),
    // never an executor expression
    rankRounds(checkpoint, init, contribE, n, iters, scale, tol, "trustRank") {
      (inSum, dangling) =>
        val dtel = ((BigInt(dangling) * seedShare) / scale).toLong
        nodesF.join(inSum, Seq("node"), "left")
          .select(col("node"), col("has_out"), col("is_seed"),
            (when(col("is_seed"), lit(base)).otherwise(lit(0L)) + idiv(
              lit(dampNum) * (coalesce(col("__in"), lit(0L)) +
                when(col("is_seed"), lit(dtel)).otherwise(lit(0L))),
              lit(dampDen))).as("rank_fp"))
    }
  }

  /** Authority gate: keep rows of `docs` whose `keyCol` node holds a
    * PageRank strictly above the uniform prior scale div N — i.e. hosts
    * the link graph promotes. The comparison runs on the exact
    * fixed-point rank, so the kept set is deterministic. Pass a
    * precomputed `ranks` (from [[pageRank]]) to amortize the iteration
    * across many gates. */
  def authorityGate(docs: DataFrame, keyCol: String, ranks: DataFrame,
                    minRankFp: Long): DataFrame =
    docs.join(
      ranks.filter(col("rank_fp") > minRankFp)
        .select(col("node").as(keyCol)),
      Seq(keyCol), "left_semi")
}
