package graft

import org.apache.spark.sql.functions._

import graft.operators.BatchStore

/** [[BatchStore.compact]] — the flat (unpartitioned) branch must honor
  * `sortCols` exactly like the partitioned one: each consolidated file
  * internally sorted on the key, so row-group min/max stats stay tight
  * for key-isin skips.
  */
class BatchStoreSpec extends SparkSpec {

  test("compact without partitionCols clusters files on sortCols") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("bstore").toString + "/t"
    val rnd = new scala.util.Random(3L)
    // two batches of shuffled keys — unsorted on disk by construction
    Seq(0L, 1L).foreach { b =>
      rnd.shuffle((0 until 500).toList)
        .map(i => (i.toLong + b * 500, s"v$i")).toDF("k", "v")
        .repartition(3)
        .write.parquet(s"$path/batch=$b")
    }
    BatchStore.compact(spark, path, upToBatch = 1L,
      targetFiles = 2, sortCols = Seq("k"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/batch=1"))
      .map(_.getPath.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
    assert(files.length <= 2 && files.nonEmpty, files.toSeq)
    files.foreach { f =>
      val ks = spark.read.parquet(f).select($"k").as[Long].collect()
      assert(ks.sameElements(ks.sorted), s"file $f not sorted on k")
    }
    // content unchanged
    val all = spark.read.parquet(path).select($"k").as[Long].collect().sorted
    assert(all.toSeq == (0L until 1000L).toSeq)
  }
}

object BatchStoreSpec {

  /** The crash state of a [[BatchStore.commit]] that published its
    * manifest and deleted the live entries but renamed none into place:
    * every child of `path` moves into the stage, and a manifest replacing
    * them all is published. The first heal must restore the content.
    */
  def crashMidSwap(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val st = BatchStore.stage(spark, path)
    val names = st.fs.listStatus(st.root).map(_.getPath.getName).toSeq
    st.fs.mkdirs(st.dir)
    names.foreach(n => require(st.fs.rename(new org.apache.hadoop.fs.Path(st.root, n), st.at(n))))
    BatchStore.publish(BatchStore.Swap(st, names))
  }
}
