package graft

import graft.tools.StoreBench

/** Every store's frontier loop at a tiny size: the run's equality gate
  * (incremental answer == one-shot answer) must pass on a non-empty
  * answer.
  */
class StoreBenchSpec extends SparkSpec {

  StoreBench.Stores.foreach { store =>
    test(s"${store.name}: frontier answer equals the one-shot answer") {
      val base = java.nio.file.Files.createTempDirectory(s"storebench-${store.name}").toString
      val (inc, one) = StoreBench.frontier(spark, store, base, history = 2000L, arrival = 500L)
      assert(one.contains(inc) && inc.rows > 0)
    }
  }
}
