package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{BatchStore, LakeMerge}

/** A6: the monthly roll-up with resume semantics
  * (`aggregate_monthly_data[_if_needed]`, utils.py:225-253, trigger
  * resilient_etl.py:665-702): concatenate a month of daily data into one
  * monthly artifact, skipping months that already rolled up.
  *
  * Spark shape: the lake is already partitioned by event_date, so "all
  * daily files of a month" is a partition-pruned range scan (the month
  * bounds are literal date predicates — no function over the partition
  * column, so pruning applies); the roll-up itself is a write, not a
  * shuffle. The roll-up is written beside `outPath` and swapped in whole
  * by the [[BatchStore]] commit, so the output exists complete or not at
  * all; skip-if-exists keys on its _SUCCESS marker, the idempotent-resume
  * equivalent of the reference's os.path.exists check.
  */
object MonthlyRollup {

  /** Roll `yearMonth` ("yyyy-MM") up from the lake into `outPath`.
    * Returns true if written, false if skipped (already rolled up).
    */
  def runIfNeeded(spark: SparkSession, lakePath: String, yearMonth: String,
      outPath: String, format: String = "parquet"): Boolean = {
    val st = BatchStore.stage(spark, outPath)
    if (st.fs.exists(new org.apache.hadoop.fs.Path(st.root, "_SUCCESS"))) false
    else {
      val first = LocalDate.parse(s"$yearMonth-01")
      val next = first.plusMonths(1)
      LakeMerge.readLake(spark, lakePath)
        .filter(col(LakeMerge.PartitionCol) >= lit(first.toString).cast("date") &&
          col(LakeMerge.PartitionCol) < lit(next.toString).cast("date"))
        .write.format(format).save(st.dir.toString)
      BatchStore.commit(BatchStore.Swap(st, Seq("")))
      true
    }
  }
}
