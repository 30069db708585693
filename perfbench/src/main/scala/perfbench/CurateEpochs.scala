package perfbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.{MinhashConfig, Pipeline}

/** Incremental LLM-data curation: one persisted CurationStore fed one bulk
  * epoch and then small id-ordered delta epochs, back to back. The seeded
  * corpus has stated shares of exact duplicates, near duplicates,
  * low-quality and repetitive documents and eval-set overlaps, so every
  * curate stage drops something; duplicates reach back across epochs, so
  * the store's membership state is exercised, not only in-batch dedup. */
final class CurateEpochs(ctx: Ctx) extends Workload {
  import CurateEpochs._

  private val spark = ctx.spark
  private var corpus: Corpus = _
  private var corpusPath: String = _
  private var storeRoot: String = _
  private var eval: DataFrame = _

  private final case class Epoch(bulk: Boolean, docs: Int, wall: Option[Double], cpu: Double,
                                 spanStartMs: Long, spanEndMs: Long)
  private val epochs = mutable.ArrayBuffer.empty[Epoch]
  private val kept = mutable.Set.empty[Long]
  private val retracted = mutable.Set.empty[Long]
  private var ingestedUpTo = 0L // exclusive id bound of what was ingested

  def prepare(): Unit = {
    import spark.implicits._
    corpus = Corpus.generate(ctx.seed)
    corpusPath = s"${ctx.dir("curate_input")}/corpus"
    corpus.docs.toDF("doc_id", "text").repartition(ctx.cores).write.parquet(corpusPath)
    eval = corpus.eval.toDF("text")
    storeRoot = ctx.dir("curate_store")
  }

  def run(deadlineNs: Long): Unit = {
    val store = new Pipeline.CurationStore(spark, storeRoot, "bench", Config,
      Some(eval), "text")
    val docs = spark.read.parquet(corpusPath)
    var lo = 0L
    var e = 0
    while (e < MinEpochs || (System.nanoTime() < deadlineNs && lo < corpus.docs.size)) {
      val bulk = e == 0
      val hi = math.min(corpus.docs.size.toLong, lo + (if (bulk) BulkDocs else DeltaDocs))
      val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val name = if (bulk) "epoch.bulk" else "epoch.delta"
      var delta: Pipeline.CurateDelta = null
      var cpu = Double.NaN
      val startMs = System.currentTimeMillis()
      val wall = ctx.tracer.span(2, name) {
        val c0 = Stats.cpuS()
        val w = ctx.ops.run(3, s"ingest.${name.stripPrefix("epoch.")}") {
          delta = store.ingest(batch, "doc_id", "text")
        }
        if (w.isDefined) cpu = Stats.cpuS() - c0
        // the consumer side of an epoch: read the delta's id sets
        if (w.isDefined) ctx.tracer.span(3, "consume", owner = "operators.Pipeline") {
          kept ++= delta.kept.select("id").collect().map(_.getLong(0))
          retracted ++= delta.retracted.select("id").collect().map(_.getLong(0))
        }
        w
      }
      epochs += Epoch(bulk, (hi - lo).toInt, wall, cpu, startMs, System.currentTimeMillis())
      ingestedUpTo = hi
      lo = hi
      e += 1
    }
  }

  private def deltas = epochs.filterNot(_.bulk).flatMap(_.wall).toSeq
  private def okEpochs = epochs.filter(_.wall.isDefined)
  private def docsPerS = okEpochs.map(_.docs).sum / okEpochs.flatMap(_.wall).sum
  private def inputBytes = corpus.docs.take(ingestedUpTo.toInt)
    .map(_._2.getBytes("UTF-8").length.toLong).sum
  private def storeBytes = Stats.du(new File(storeRoot))

  def endToEnd: Map[String, Double] = Map(
    "first_op_s" -> epochs.head.wall.getOrElse(Double.NaN),
    "op_p50_s" -> Stats.median(deltas),
    "items_per_s" -> docsPerS)

  def named: Map[String, Any] = Map(
    "first_op_cpu_s" -> epochs.head.cpu,
    "op_cpu_p50_s" -> Stats.median(epochs.filterNot(_.bulk).filter(_.wall.isDefined).map(_.cpu).toSeq),
    "bulk_ingest_s" -> epochs.head.wall.getOrElse(Double.NaN),
    "delta_ingest_s" -> Stats.dist(deltas),
    "delta_ingest_p50_s" -> Stats.median(deltas),
    "docs_per_s" -> docsPerS,
    "store_bytes_per_input_byte" -> storeBytes._2.toDouble / inputBytes,
    "epochs" -> epochs.size,
    "docs_ingested" -> ingestedUpTo)

  def layers: Map[String, Double] = {
    val jobs = ctx.tracer.jobs.values().toArray(Array.empty[Tracer.Job]).toSeq
    val jobsPerDelta = epochs.filterNot(_.bulk).map(ep =>
      jobs.count(j => j.startMs >= ep.spanStartMs && j.startMs <= ep.spanEndMs).toDouble)
    val (files, bytes) = storeBytes
    Map(
      "operators.ingest.bulk_s" -> epochs.head.wall.getOrElse(0.0),
      "operators.ingest.delta_s" -> (if (deltas.isEmpty) 0.0 else Stats.median(deltas)),
      "operators.ingest.jobs_per_delta" ->
        (if (jobsPerDelta.isEmpty) 0.0 else Stats.median(jobsPerDelta.toSeq)),
      "sources.store_files" -> files.toDouble,
      "sources.store_bytes" -> bytes.toDouble)
  }

  private var stageDrops: Seq[(String, Long)] = Nil

  def profile: Map[String, Any] = corpus.profile(ingestedUpTo.toInt) ++ Map(
    "bulk_docs" -> BulkDocs, "delta_docs" -> DeltaDocs,
    "batch_stage_survivors" -> stageDrops.toMap)

  // ------------------------------------------------------------- gates

  /** ∪kept − ∪retracted over all epochs must equal the one-shot batch
    * curate of every document those epochs ingested. */
  def gates(): Seq[Gate] = {
    val docs = spark.read.parquet(corpusPath).filter(col("doc_id") < ingestedUpTo)
    val batch = Pipeline.curate(docs, "doc_id", "text", Some(eval), "text", Config,
      withCounts = true)
    stageDrops = batch.stageCounts
    val expected = batch.kept.select("id").collect().map(_.getLong(0)).toSet
    val incremental = (kept -- retracted).toSet
    def same(a: Set[Long]) = (a == expected,
      s"incremental ${a.size} ids, batch ${expected.size}; only incremental " +
        s"${(a -- expected).take(5)}, only batch ${(expected -- a).take(5)}")
    val g = same(incremental)
    val corrupted = if (incremental.isEmpty) Set(-1L) else incremental - incremental.min
    Seq(Gate("curate.incremental_equals_batch", g._1, g._2, !same(corrupted)._1))
  }
}

object CurateEpochs {
  val BulkDocs = 400
  val DeltaDocs = 100
  /** The bulk epoch and two deltas, so the delta median has two samples. */
  val MinEpochs = 3
  val MaxDocs = BulkDocs + 60 * DeltaDocs

  /** The CurationQueries configuration, sized for a small store. */
  val Config: Pipeline.CurateConfig = Pipeline.CurateConfig(
    minQuality = 0.42, maxRepetition = 0.06, repN = 2, deconN = 5,
    minhash = MinhashConfig(shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.5, seed = 7L, nStoreBuckets = 8))

  // stated shares of the generated corpus; the rest is clean text
  val ExactDupShare = 0.08
  val NearDupShare = 0.08
  val LowQualityShare = 0.06
  val RepetitiveShare = 0.05
  val EvalOverlapShare = 0.04
  val EvalTexts = 24

  /** The documents table's vocabulary style: lowercase engine words. */
  private val Vocab = Vector("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "the", "a", "join", "small", "line", "customer",
    "query", "big", "data", "column", "order", "group", "window", "merge", "batch",
    "stream", "filter", "sort", "spark", "vector")

  final class Corpus(val docs: IndexedSeq[(Long, String)], val kinds: IndexedSeq[String],
                     val eval: IndexedSeq[String]) {
    def profile(n: Int): Map[String, Any] = {
      val ks = kinds.take(n)
      Map("docs" -> n, "eval_texts" -> eval.size,
        "mean_doc_bytes" -> docs.take(n).map(_._2.length).sum.toDouble / math.max(1, n),
        "first_doc_id" -> docs.head._1,
        "first_doc_prefix" -> docs.head._2.take(40)) ++
        Seq("clean", "exact_dup", "near_dup", "low_quality", "repetitive", "eval_overlap")
          .map(k => s"share.$k" -> ks.count(_ == k).toDouble / math.max(1, n))
    }
  }

  object Corpus {
    def generate(seed: Long): Corpus = {
      val rnd = new scala.util.Random(seed)
      def words(n: Int) = Vector.fill(n)(Vocab(rnd.nextInt(Vocab.size)))
      val eval = Vector.fill(EvalTexts)(words(30 + rnd.nextInt(30)).mkString(" "))
      val clean = mutable.ArrayBuffer.empty[Vector[String]] // clean docs so far
      val cuts = Seq(ExactDupShare, NearDupShare, LowQualityShare, RepetitiveShare,
        EvalOverlapShare).scanLeft(0.0)(_ + _).tail
      val out = (0 until MaxDocs).map { i =>
        val u = rnd.nextDouble()
        val (kind, toks) =
          if (u < cuts(0) && clean.nonEmpty) "exact_dup" -> clean(rnd.nextInt(clean.size))
          else if (u < cuts(1) && clean.nonEmpty) {
            val src = clean(rnd.nextInt(clean.size))
            val at = rnd.nextInt(src.size)
            "near_dup" -> src.updated(at, Vocab(rnd.nextInt(Vocab.size)))
              .updated((at + src.size / 2) % src.size, Vocab(rnd.nextInt(Vocab.size)))
          }
          else if (u < cuts(2)) "low_quality" -> words(6 + rnd.nextInt(8))
          else if (u < cuts(3)) {
            val a = Vocab(rnd.nextInt(Vocab.size)); val b = Vocab(rnd.nextInt(Vocab.size))
            "repetitive" -> (Vector.fill(20 + rnd.nextInt(10))(Vector(a, b)).flatten ++ words(10))
          }
          else if (u < cuts(4)) {
            val ev = eval(rnd.nextInt(eval.size)).split(" ").toVector
            val from = rnd.nextInt(ev.size - 12)
            val pre = words(20 + rnd.nextInt(20))
            "eval_overlap" -> (pre ++ ev.slice(from, from + 12) ++ words(20))
          }
          else {
            val w = words(45 + rnd.nextInt(40))
            clean += w
            "clean" -> w
          }
        (kind, toks.mkString(" "))
      }
      new Corpus(out.indices.map(i => (i.toLong, out(i)._2)), out.map(_._1), eval)
    }
  }
}
