package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Synthetic scale-up of a test-data directory for SF-SCALING evidence
  * (r18, VERDICT r17 item 4): writes `<out>/<table>.parquet` where the
  * row-heavy tables (`lineitem`, `orders`, `documents`) are `k`
  * key-shifted copies of the source and every other table copies
  * through unchanged. Key shifting keeps id-derived semantics sane
  * (doc_id % benchMod slices, distinct doc counts, per-key hashing)
  * while the VALUE distributions replicate exactly — so per-operator
  * cost scales with data volume the way a larger real SF would, without
  * inventing a new generator. This is measurement tooling only: nothing
  * in the query path reads its output unless `SPARK_GRAFT_SF_DIR`
  * points at it.
  *
  * Run: sbt "runMain graft.tools.SfReplica <srcDir> <outDir> <k>"
  */
object SfReplica {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: SfReplica <srcDir> <outDir> <k>")
    val Array(src, out, kStr) = args
    val k = kStr.toInt
    require(k >= 1, s"k must be >= 1, got $k")
    Harness.withSession()(run(_, src, out, k))
  }

  def run(spark: SparkSession, src: String, out: String, k: Int): Unit =
    graft.Tables.all.foreach { t =>
      // raw parquet read/write (events' nanos column round-trips as-is;
      // the normalizing reader in Tables.apply is for QUERY consumers)
      val df = spark.read.parquet(s"$src/$t.parquet")
      val scaled = t match {
        case "documents" => replicate(df, Seq("doc_id"), k)
        case "lineitem" => replicate(df, Seq("l_orderkey"), k)
        case "orders" => replicate(df, Seq("o_orderkey"), k)
        case _ => df
      }
      scaled.write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      println(s"[sfreplica] $t: ${if (scaled eq df) "copied" else s"x$k"}")
    }

  /** `k` copies of `df`, copy i with every id column shifted by
    * i × (max + 1); id columns keep their type. Fails with a message on an
    * empty table (no max to shift by) or a non-integral id column.
    */
  def replicate(df: DataFrame, idCols: Seq[String], k: Int): DataFrame = {
    val maxes = idCols.map { c =>
      val dt = df.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"SfReplica: id column '$c' must be integral, got ${dt.simpleString}")
      val m = df.agg(max(col(c))).head().getAs[Number](0)
      require(m != null, s"SfReplica: cannot replicate an empty table (no max($c))")
      c -> (m.longValue + 1L)
    }.toMap
    (0 until k).map { i =>
      idCols.foldLeft(df) { (acc, c) =>
        acc.withColumn(c, (col(c) + lit(i * maxes(c))).cast(df.schema(c).dataType))
      }
    }.reduce(_ unionAll _)
  }
}
