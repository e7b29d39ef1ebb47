package graft

import org.apache.spark.sql.functions._

import graft.tools.Harness

/** The one structural-counter listener behind Bench's counters and the
  * tools' (BASELINE.md's counters-first rule): snapshots drain the
  * listener bus, so one run's deltas are complete and repeat exactly.
  */
class HarnessSpec extends SparkSpec {

  test("StructListener counts a one-shuffle query and repeats its structure exactly") {
    val listener = Harness.StructListener.attach(spark)
    def run() = listener.measure(
      spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count().collect().length)._2
    val (first, second) =
      try (run(), run()) finally listener.detach()
    assert(first.jobs >= 1 && first.tasks >= 1 && first.stages >= 1)
    assert(first.shuffleWrite > 0 && first.shuffleRead > 0)
    assert(first.stageRetries == 0)
    assert((second.jobs, second.stages, second.tasks) == ((first.jobs, first.stages, first.tasks)))
    // detached: later jobs no longer move the counters
    val after = listener.snapshot()
    spark.range(10).collect()
    assert(listener.snapshot() == after)
  }

  test("Probe dump files repeat byte for byte within one session") {
    val qs = Seq("q_curation_e2e", "q_audio_energy")
    def dumpTo(tag: String): Map[String, String] = {
      val out = java.nio.file.Files.createTempDirectory(tag).toFile
      graft.tools.Probe.dump(spark, "/root/testdata/sf0.001", out.getPath, "plan", qs)
      out.listFiles.toSeq.map(f => f.getName -> new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).toMap
    }
    val first = dumpTo("dump-a")
    assert(first.size == 4 * qs.size, first.keys)
    val second = dumpTo("dump-b")
    first.foreach { case (name, text) =>
      assert(second(name) == text, s"$name differs between two dumps")
    }
  }
}
