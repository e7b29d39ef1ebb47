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
      BatchStore.Tree(targetFiles = 2, sortCols = Seq("k")))
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

  test("a _-named tree inside a store root is invisible to reads of the root") {
    // the LSH store keeps its band index at <store>/_bands and reads its
    // batches as spark.read.parquet(<store>): Spark's file listing must
    // skip the `_` tree, or the two schemas would merge into one read
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("bstore").toString + "/t"
    Seq(1L, 2L).toDF("k").write.parquet(s"$path/batch=0")
    Seq((7L, 7L, 7)).toDF("__b", "__sid", "bucket")
      .write.partitionBy("bucket").parquet(s"$path/_bands/batch=0")
    val read = spark.read.parquet(path)
    assert(read.columns.toSeq == Seq("k", "batch"))
    assert(read.select($"k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val (fs, root) = BatchStore.fsPath(spark, path)
    assert(BatchStore.listBatches(fs, root).map(_._1) == Seq(0L))
    assert(BatchStore.listBatches(fs, root, "_bands").map(_._1) == Seq(0L))
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
