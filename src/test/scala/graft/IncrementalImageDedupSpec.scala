package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BatchStore, IncrementalImageDedup}
import TestImages.{bmpOfBits, flip}

/** Cross-batch perceptual dedup store: transitive suppression, replay
  * idempotence, undecodable handling, identical-hash floods, and
  * compaction equivalence.
  */
class IncrementalImageDedupSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("imgstore").toString

  private def batchDf(rows: Seq[(Long, Array[Byte])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "payload")
  }

  private def runBatch(store: String, batchId: Long,
      rows: Seq[(Long, Array[Byte])], maxHamming: Int = 3) =
    IncrementalImageDedup.dhashDedupBatch(
        spark, batchDf(rows), col("id"), col("payload"), store, batchId,
        maxHamming = maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq

  private val base = Seq.tabulate(64)(i => if (i % 3 == 0) 1 else 0)

  test("suppression is transitive across batches through suppressed items") {
    val store = tmpDir()
    // A survives; B within radius of A → suppressed under A; C within
    // radius of B but OUTSIDE A's radius → still suppressed under A,
    // reachable only through suppressed B's stored hash
    val a = bmpOfBits(base)
    val b = bmpOfBits(flip(base, 0, 9, 18))        // hamming(A,B) = 3
    val c = bmpOfBits(flip(base, 0, 9, 18, 27, 36, 45)) // (B,C)=3, (A,C)=6
    assert(runBatch(store, 0, Seq((1L, a))) == Seq((1L, 1L, true)))
    assert(runBatch(store, 1, Seq((2L, b))) == Seq((2L, 1L, false)))
    assert(runBatch(store, 2, Seq((3L, c))) == Seq((3L, 1L, false)),
      "C matches only the suppressed B; it must adopt B's rep (A)")
    val surv = IncrementalImageDedup.survivors(spark, store)
      .collect().map(_.getLong(0)).toSeq
    assert(surv == Seq(1L))
  }

  test("replaying a batch id is idempotent") {
    val store = tmpDir()
    val a = bmpOfBits(base)
    val b = bmpOfBits(flip(base, 5))
    runBatch(store, 0, Seq((1L, a)))
    val first = runBatch(store, 1, Seq((2L, b)))
    val replay = runBatch(store, 1, Seq((2L, b)))
    assert(first == replay && first == Seq((2L, 1L, false)))
    // the store holds exactly one row per item, not duplicated partitions
    val n = spark.read.parquet(store).count()
    assert(n == 2)
  }

  test("undecodable payloads are their own survivors and never match") {
    val store = tmpDir()
    val got = runBatch(store, 0, Seq(
      (1L, "not an image".getBytes("UTF-8")),
      (2L, "also not an image".getBytes("UTF-8")),
      (3L, bmpOfBits(base))))
    assert(got == Seq((1L, 1L, true), (2L, 2L, true), (3L, 3L, true)))
    // a later undecodable payload does not match the earlier ones
    val got2 = runBatch(store, 1, Seq((4L, "junk".getBytes("UTF-8"))))
    assert(got2 == Seq((4L, 4L, true)))
  }

  test("identical-hash floods collapse on both the batch and store side") {
    val store = tmpDir()
    val flat = bmpOfBits(Seq.fill(64)(0))
    // batch 0: 50 identical placeholders → one survivor, 49 suppressed
    val g0 = runBatch(store, 0, (1L to 50L).map((_, flat)))
    assert(g0.count(_._3) == 1 && g0.forall(_._2 == 1L))
    // batch 1: 50 more of the same image → ALL suppressed under the
    // original survivor, via the store's (distinct hash, min rep) row
    val g1 = runBatch(store, 1, (51L to 100L).map((_, flat)))
    assert(g1.forall(r => !r._3 && r._2 == 1L))
  }

  test("compactStore consolidates without changing suppression") {
    val store = tmpDir()
    val a = bmpOfBits(base)
    runBatch(store, 0, Seq((1L, a)))
    runBatch(store, 1, Seq((2L, bmpOfBits(flip(base, 3)))))
    runBatch(store, 2, Seq((3L, bmpOfBits(flip(base, 7)))))
    val before = spark.read.parquet(store)
      .select("media_id", "dh", "rep_id", "survivor")
      .collect().map(_.toSeq).toSet
    BatchStore.compact(spark, store, upToBatch = 1)
    val after = spark.read.parquet(store)
      .select("media_id", "dh", "rep_id", "survivor")
      .collect().map(_.toSeq).toSet
    assert(before == after)
    // and the next batch still suppresses against the compacted store
    val g = runBatch(store, 3, Seq((4L, a)))
    assert(g == Seq((4L, 1L, false)))
  }
}
