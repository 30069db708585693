package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Sketch-accelerated corpus statistics — the operators whose EXACT
  * formulations stop scaling first. At 100 TB the killers are the
  * full-keyspace shuffles: an exact `groupBy(token).count` moves every
  * distinct token through the exchange (billions of keys for a web
  * corpus) even though the consumer wanted only the few thousand heavy
  * ones, and an exact `count_distinct` per group keeps a per-group hash
  * set alive through the aggregation.
  *
  * Two tiers:
  *  - [[heavyHitters]] is sketch-ACCELERATED but EXACT: a count-min
  *    sketch (which only ever over-estimates, so it admits no false
  *    negatives) prunes the shuffle down to candidate keys, and an exact
  *    count over the survivors removes the false positives. Same result
  *    as the naive groupBy — oracle-checkable — at a fraction of the
  *    exchange volume.
  *  - [[approxDistinct]] / [[mergeDistinctSketches]] are approximate by
  *    contract (DataSketches HLL, ±~1% at lgK 12) and buy mergeability:
  *    per-partition/per-day sketches union into any rollup without
  *    re-scanning history — the incremental-distinct path an exact count
  *    cannot offer.
  */
object Sketches {

  /** Exact heavy hitters: every distinct `valueCol` whose row count ≥
    * `threshold`, as (value, cnt) — identical to
    * `groupBy(value).count.filter(_ ≥ threshold)`.
    *
    * Plan: pass 1 folds the corpus into ONE count-min sketch (map-side
    * partial aggregation; the merged sketch is depth×width longs — a
    * bounded single-row control read, ~d·(2e/eps) bytes, not data). Pass
    * 2 re-scans, keeps only rows whose sketch estimate reaches the
    * threshold (estimate ≥ true count always ⇒ every true heavy hitter
    * survives), and exact-counts the survivors. The groupBy exchange
    * carries only candidate rows: true heavy keys + false positives
    * (≈ eps·N collision mass). With eps 1e-4 and a Zipf token table, the
    * shuffle drops from |corpus| rows to the heavy tail only.
    *
    * The estimate probe is a NATIVE codegen expression over the
    * broadcast merged sketch ([[graft.functions.expressions
    * .CmsEstimateGte]]) — one generated call per row on the value's
    * UTF-8 bytes, inside the scan's WholeStageCodegen span. The
    * original Scala-UDF probe was plan-equivalent but paid per-row
    * Tungsten↔JVM conversion over the whole pass-2 scan (the
    * interpreted-fallback genus the ADC kernel measured at ~10×). */
  def heavyHitters(df: DataFrame, valueCol: String, threshold: Long,
                   eps: Double = 1e-4, confidence: Double = 0.99,
                   seed: Int = 42): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val spark = df.sparkSession
    val bytes = df
      .agg(count_min_sketch(col(valueCol).cast("string"),
        lit(eps), lit(confidence), lit(seed)).as("s"))
      .head().getAs[Array[Byte]](0)
    val sketch = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
    val bc = spark.sparkContext.broadcast(sketch)
    import graft.functions.expressions.{ColumnBridge, CmsEstimateGte}
    val vals = df.select(col(valueCol).cast("string").as("value"))
    vals
      .filter(ColumnBridge.column(CmsEstimateGte(
        ColumnBridge.expression(col("value")), bc, threshold)))
      .groupBy("value")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
  }

  /** Per-group approximate distinct count of `valueCol` via DataSketches
    * HLL: (groupCols*, approx_distinct). Approximate by contract —
    * relative error ≈ 1.04/√2^lgK (±1.6% at the default lgK 12) — in
    * exchange for a fixed 2^lgK-byte state per group and mergeability.
    * Rows with a null value are not counted (null is not a member). */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col(valueCol).cast("string"), lit(lgK)))
        .as("approx_distinct"))

  /** Bloom-prefiltered EXACT semi join: left rows whose `leftCol` occurs
    * in right's `rightCol` — identical to `left.join(right, ...,
    * "left_semi")`, but the shuffle carries only rows the bloom filter
    * can't refute. The filter is built from the RIGHT side (one
    * aggregation to a driver-held bitset — ~1.2 MB per million expected
    * items at 1% fpp; `expectedItems` is capped so an oversized build
    * fails fast instead of OOMing the driver), broadcast, and applied
    * as a row-local pre-filter; false positives are removed by the real
    * semi join that follows, false negatives don't exist. Use when the
    * left side is huge and mostly non-matching (decontamination
    * membership, late-arriving fact filtering) — the win is the
    * left-side exchange dropping to the candidate mass. Spark's own
    * runtime row-group filters cover simple cases; this form makes the
    * decision explicit and keeps working where AQE declines. */
  def bloomSemiJoin(left: DataFrame, leftCol: String,
                    right: DataFrame, rightCol: String,
                    expectedItems: Long, fpp: Double = 0.01,
                    maxExpectedItems: Long = 100000000L): DataFrame = {
    val pass = bloomMightContain(left.sparkSession, right, rightCol,
      expectedItems, fpp, maxExpectedItems)
    left.filter(pass(col(leftCol)))
      .join(right.select(col(rightCol).cast("string").as("__bsj_k")),
        col(leftCol).cast("string") === col("__bsj_k"), "left_semi")
  }

  /** Bloom-accelerated EXACT anti join: left rows whose `leftCol` does
    * NOT occur in right. The bloom filter's guarantee runs the other
    * way here — "definitely absent" rows bypass the join entirely and
    * only possible members pay the exact anti join; the union of the
    * two paths is exactly the naive anti join. */
  def bloomAntiJoin(left: DataFrame, leftCol: String,
                    right: DataFrame, rightCol: String,
                    expectedItems: Long, fpp: Double = 0.01,
                    maxExpectedItems: Long = 100000000L): DataFrame = {
    val pass = bloomMightContain(left.sparkSession, right, rightCol,
      expectedItems, fpp, maxExpectedItems)
    val definiteMiss = left.filter(!pass(col(leftCol)))
    val candidates = left.filter(pass(col(leftCol)))
      .join(right.select(col(rightCol).cast("string").as("__bsj_k")),
        col(leftCol).cast("string") === col("__bsj_k"), "left_anti")
    definiteMiss.unionByName(candidates)
  }

  /** The row-local membership probe as a NATIVE codegen expression over
    * the broadcast filter (same rationale as the [[heavyHitters]]
    * probe). NULL values probe `false`: null is not a member, so a
    * null-keyed left row is a definite miss for the semi join and a
    * definite keep for the anti join — the UDF forms' semantics. */
  private def bloomMightContain(spark: SparkSession, right: DataFrame,
                                rightCol: String, expectedItems: Long,
                                fpp: Double, maxExpectedItems: Long)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    require(expectedItems > 0 && expectedItems <= maxExpectedItems,
      s"expectedItems $expectedItems outside (0, $maxExpectedItems] — " +
        "a bigger build side would hold gigabytes on the driver; " +
        "raise maxExpectedItems deliberately or use a plain join")
    val bf = right.select(col(rightCol).cast("string").as("k"))
      .stat.bloomFilter("k", expectedItems, fpp)
    val bc = spark.sparkContext.broadcast(bf)
    import graft.functions.expressions.{BloomMightContainValue, ColumnBridge}
    (c: org.apache.spark.sql.Column) => ColumnBridge.column(
      BloomMightContainValue(ColumnBridge.expression(c.cast("string")), bc))
  }

  /** Per-group EXACT quantiles via linear interpolation (the
    * quantile_cont definition both Spark's `percentile` and DuckDB
    * share): (groupCols*, <name per requested p>). Exact percentile
    * buffers each group's values — correct at any scale where a single
    * group's values fit an executor (TPC-H-ish groups), and the oracle
    * form for [[approxQuantiles]]. */
  def quantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty, "at least one percentile required")
    val aggs = ps.map { case (name, p) =>
      percentile(col(valueCol), lit(p)).as(name)
    }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The 100 TB quantile path: `percentile_approx` (Greenwald-Khanna
    * style) — bounded sketch state per group, mergeable partials, rank
    * error ≤ 1/accuracy. Same output shape as [[quantiles]]; approximate
    * by contract (SketchesSpec pins the error bound). */
  def approxQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                      ps: Seq[(String, Double)],
                      accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty, "at least one percentile required")
    val aggs = ps.map { case (name, p) =>
      percentile_approx(col(valueCol), lit(p), lit(accuracy)).as(name)
    }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group HLL sketches as reusable state: (groupCols*, hll) binary.
    * Persist these per ingest batch/day; any later rollup is a
    * [[mergeDistinctSketches]] over the stored rows — no history
    * re-scan. */
  def distinctSketches(df: DataFrame, groupCols: Seq[String],
                       valueCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol).cast("string"), lit(lgK)).as("hll"))

  /** Union stored sketches up to a coarser grouping and estimate:
    * (groupCols*, approx_distinct). Folding N batch sketches costs N
    * fixed-size rows, not the N batches' raw data. */
  def mergeDistinctSketches(sketches: DataFrame,
                            groupCols: Seq[String]): DataFrame = {
    val grouped =
      if (groupCols.isEmpty) sketches.groupBy()
      else sketches.groupBy(groupCols.map(col): _*)
    grouped.agg(hll_sketch_estimate(hll_union_agg(col("hll")))
      .as("approx_distinct"))
  }

  /** Persisted, APPENDABLE distinct-count store — the cardinality member
    * of the incremental-store family: each batch folds into one
    * per-group HLL sketch row, and [[estimate]] over the accumulated
    * rows carries the same ±1.04/√2^lgK guarantee as the one-shot
    * [[approxDistinct]] over the union (bit-equal while the sketches
    * are still in exact coupon range — SketchesSpec; once in dense HLL
    * mode the union's estimate may differ from the one-shot's by a
    * fraction of the error bound, which DistinctStoreSpec pins against
    * the EXACT count). Serve cost is #appends × #groups fixed-size rows
    * until [[compact]] folds them to #groups, never the batches' raw
    * data: the incremental "distinct tokens per source, corpus to date"
    * a 100 TB ingest cannot afford to re-scan for.
    *
    * The sketch rows live in one plain parquet directory,
    * `state/<name>_hll_sk`, or the version of it the last [[compact]]
    * published ([[graft.sources.StoreTxn.live]]). The [[KeyedStore]]
    * idCol slot carries the GROUP column (the store counts values per
    * group); both column names and lgK are store identity — recorded in
    * the transaction ledger on first append and validated on every
    * later one, so sketches of different geometry or meaning never
    * merge.
    *
    * CRASH SEMANTICS: an append is a single-directory [[graft.sources
    * .StoreTxn]] transaction that adds files to the live directory under
    * the undo log, with the family's commit-record key ledger —
    * [[KeyedStore.ingestOnce]] redelivery skips completed appends, a
    * mid-append crash rolls back on the next open, and
    * [[graft.streaming.Streaming.storeSink]] gives it the same
    * exactly-once streaming maintenance as IvfStore/GramIndex. A
    * [[compact]] writes a new version and publishes it at commit: a
    * crash before the publish leaves the old directory live and
    * untouched, and the commit's GC deletes the folded one. */
  final class DistinctStore(spark: SparkSession, root0: String,
                            name: String, lgK: Int = 12,
                            nBaseBuckets: Int = 32) extends KeyedStore[Unit] {
    protected val wh = new graft.sources.Warehouse(spark, root0)
    private val root = wh.root
    protected def label = s"DistinctStore '$name'"
    // the sketch rows are a plain state directory, not a bucketed table
    private[graft] def tables = Seq.empty[StoreCompaction.TableSpec]
    private val rel = s"state/${name}_hll_sk"
    private val paramKey = s"param:$name:distinct"

    protected def writeBatch(batch: DataFrame, groupCol: String,
                             valueCol: String): Unit = {
      val txn = graft.sources.StoreTxn.current(root)
      // store identity: first append fixes (groupCol, valueCol, lgK)
      val want = s"$groupCol,$valueCol,$lgK"
      graft.sources.StoreTxn.getKv(root, paramKey) match {
        case Some(have) => require(have == want,
          s"DistinctStore '$name' was created with ($have), got ($want)")
        case None => txn.putKv(paramKey, want)
      }
      graft.sources.StoreWriter.append(root,
          graft.sources.StoreTxn.live(root, rel).stripPrefix(s"$root/"))(
        distinctSketches(batch, Seq(groupCol), valueCol, lgK))
    }

    /** The group column and the live sketch rows. */
    private def sketchRows(): (String, DataFrame) = {
      graft.sources.StoreTxn.recoverIfIdle(spark, root)
      val param = graft.sources.StoreTxn.getKv(root, paramKey)
      require(param.isDefined,
        s"DistinctStore '$name' at $root has no appends — append before " +
          "estimating or compacting")
      (param.get.split(',')(0),
        spark.read.parquet(graft.sources.StoreTxn.live(root, rel)))
    }

    /** Per-group estimate over everything appended so far:
      * (groupCol, approx_distinct). */
    def estimate(): DataFrame = {
      val (gcol, rows) = sketchRows()
      mergeDistinctSketches(rows, Seq(gcol))
    }

    /** Whole-store estimate: one (approx_distinct) row. */
    def estimateTotal(): DataFrame =
      mergeDistinctSketches(sketchRows()._2, Seq.empty)

    /** Fold the live rows into ONE sketch row per group, published as a
      * new version — the maintenance pass that keeps an always-on sink's
      * serve cost flat instead of growing with stream age (#appends ×
      * #groups rows → #groups rows). One transaction: see CRASH
      * SEMANTICS. Estimates are unchanged by construction — HLL union
      * is associative. The version is written group-partitioned: a
      * per-URL/per-host store has millions of groups × 2^lgK-byte
      * sketches, and coalesce(1) would funnel GBs through a single
      * writer task; small stores still produce few files (empty
      * partitions emit none). */
    override def compact(): Unit =
      graft.sources.StoreTxn.transact(spark, root) {
        val (gcol, rows) = sketchRows()
        graft.sources.StoreWriter.version(root, rel,
          rows.groupBy(col(gcol)).agg(hll_union_agg(col("hll")).as("hll"))
            .repartition(nBaseBuckets, col(gcol)))
      }
  }
}
