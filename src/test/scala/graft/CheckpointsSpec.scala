package graft

import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Dedup}

/** Reliable-checkpoint lifecycle: in cluster mode ([[Checkpoints]] with
  * `spark.graft.reliableCheckpoint=true`) every materialize writes a
  * ReliableCheckpointRDD file-set to durable storage, and the
  * ContextCleaner deletes them only at GC time (and only when
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is on) — so an
  * iterative loop must free superseded file-sets EAGERLY or a long
  * connected-components run accumulates one corpus-sized copy per
  * iteration.
  */
class CheckpointsSpec extends SparkSpec {

  import spark.implicits._

  private def withReliable[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Checkpoints.ReliableCheckpointConf, "true")
    try body(dir)
    finally spark.conf.set(Checkpoints.ReliableCheckpointConf, "false")
  }

  // checkpoint layout: <dir>/<app-uuid>/rdd-<id>/part-*
  private def rddDirs(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .flatMap(u => Option(u.listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith("rdd-"))

  test("free() deletes a superseded reliable-checkpoint file-set eagerly") {
    withReliable { dir =>
      val ck = Checkpoints.materializeFrame(spark.range(0, 1000).toDF("id"))
      assert(ck.count() === 1000)
      assert(rddDirs(dir).nonEmpty, "expected a ReliableCheckpointRDD file-set on disk")
      Checkpoints.freeFrame(ck)
      assert(rddDirs(dir).isEmpty,
        "free() must delete the superseded reliable checkpoint file-set")
    }
  }

  test("freeFrame drops a local checkpoint's blocks from the context") {
    val ck = Checkpoints.materializeFrame(spark.range(0, 1000).toDF("id"))
    assert(ck.count() === 1000)
    val rdd = ck.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id),
      "precondition: a local checkpoint is a persisted RDD")
    Checkpoints.freeFrame(ck)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id),
      "freeFrame left the local checkpoint registered")
  }

  test("connectedComponents under reliable checkpoints leaves at most the live result's file-set") {
    withReliable { dir =>
      // two triangles + a 4-chain: converges in a few iterations, each of
      // which materializes (and must then free) a label file-set
      val pairs = Seq(
        (1L, 2L), (2L, 3L), (1L, 3L),
        (10L, 11L), (11L, 12L), (10L, 12L),
        (20L, 21L), (21L, 22L), (22L, 23L)).toDF("a", "b")
      // the fixpoint entry point, deliberately: the public wrapper's
      // driver-local short-circuit would bypass the iteration file-sets
      // this test exists to account for
      val comp = Dedup.connectedComponentsWithRounds(pairs, col("a"), col("b"))._1
      val reps = comp.groupBy($"cluster_rep").count().collect()
      assert(reps.length === 3)
      // the loop freed every superseded iteration (and the edge list); only
      // the file-set backing the RETURNED labels frame may remain
      assert(rddDirs(dir).size <= 1,
        s"iteration file-sets leaked: ${rddDirs(dir).map(_.getName).mkString(", ")}")
    }
  }
}
