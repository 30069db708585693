package graft.operators

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import graft.SparkSpec

/** Rank maintenance releases only the pin its own computation left: a
  * checkpoint another thread takes meanwhile (the other leg of a
  * `Par.both`, as in q173) stays readable. */
class GraphStorePinSpec extends SparkSpec {
  import spark.implicits._

  test("rank maintenance keeps a neighbour's checkpoint pinned") {
    val store = new EdgeStore(new graft.sources.Warehouse(spark,
        java.nio.file.Files.createTempDirectory("graft_pin_").toString),
      "g", EdgeStoreConfig(weightCol = Some("w"), nStoreBuckets = 2))
    store.ingest(Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w"), "src", "dst")
    val stop = new AtomicBoolean(false)
    val failure = new AtomicReference[Throwable]()
    // checkpoint, then read the checkpoint again while maintenance runs
    val neighbour = new Thread(() =>
      try while (!stop.get()) {
        val staged = spark.range(0, 64, 1, 2).toDF("id").localCheckpoint(true)
        Thread.sleep(5)
        assert(staged.count() === 64L)
      } catch { case t: Throwable => failure.set(t) })
    neighbour.start()
    try (1 to 6).foreach(_ => store.pageRankMaintain(spark, iters = 2))
    finally { stop.set(true); neighbour.join() }
    assert(failure.get() === null, Option(failure.get()).map(_.getMessage))
  }
}
