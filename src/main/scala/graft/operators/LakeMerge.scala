package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** D3/S5: the idempotent keyed merge write — the reference's Mongo
  * `UpdateOne({_id}, {$set: doc}, upsert=True)` bulk
  * (src/resilient_scraper.py:941-974) re-expressed as
  * last-write-wins-per-key over a date-partitioned Parquet lake with
  * dynamic partition overwrite (SURVEY §4 "the one place our engine writes
  * nontrivial plan logic").
  *
  * Scale shape: only the partitions DATED by the incoming batch are read,
  * merged, and rewritten — the rest of the lake is untouched (the
  * reference's collection-per-day routing, utils.py:567-592, becomes
  * partition pruning). Within those partitions the merge is one shuffle on
  * `_id`. Re-running the same batch is a no-op by construction (same keys,
  * same winner).
  */
object LakeMerge {

  val PartitionCol = "event_date"

  /** Merge `incoming` canonical docs into the lake at `path`, partitioned
    * by event_date = to_date(metadata.created_at). Incoming beats existing
    * on key collision (the `$set` upsert contract); among duplicates within
    * one side, newest `scraped_at` wins with `_id` as final tiebreak.
    *
    * SCOPE: the merge is per-partition — only partitions dated by the
    * incoming batch are read and rewritten. If a re-scraped doc's
    * created_at parses to a DIFFERENT date than its stored copy (e.g. an
    * ingestion-time fallback then, a real timestamp now), the stale copy
    * lives in a partition this merge never touches and survives — a
    * duplicate `_id` across partitions. `crossPartitionDedup = true`
    * closes that hole: it scans the untouched lake's (_id, date) pairs
    * (column-pruned, but still a full-lake scan — the price of the
    * guarantee) for incoming ids, pulls any partition holding a stale copy
    * into the merge, and the LWW window retires the copy. Default off:
    * created_at is immutable for the reference's documents, so the
    * fast path is the common case; [[readLakeLatest]] is the read-time
    * alternative.
    */
  def mergeWrite(spark: SparkSession, incoming: DataFrame, path: String,
      crossPartitionDedup: Boolean = false): Unit = {
    // Checkpoint the batch as well: reprocess/backfill batches are
    // themselves derived FROM the lake, and Spark (rightly) refuses to
    // overwrite a path still referenced by the writing plan. A batch is
    // bounded (one scrape/repair slice), so materializing it is cheap
    // relative to the merge shuffle.
    val inc = Checkpoints.materialize(
      incoming.withColumn(PartitionCol, to_date(col("metadata.created_at"))))

    val (merged, mergedDates) =
      if (!lakeExists(spark, path)) (inc.withColumn("__pri", lit(1)), Array.empty[java.sql.Date])
      else {
        // Only the touched partitions participate in the merge. The date
        // list is partition METADATA (bounded by the batch's date range),
        // not data — collecting it to the driver mirrors the reference's
        // per-day routing loop and enables partition pruning on the read.
        val batchDates = inc.select(col(PartitionCol)).distinct().collect().map(_.getDate(0))
        // crossPartitionDedup: partitions holding a stale copy of an
        // incoming _id under another date join the merge set, so the LWW
        // window below can retire those copies. (_id, date) only — the
        // scan never materializes document payloads.
        val staleDates =
          if (!crossPartitionDedup) Array.empty[java.sql.Date]
          else {
            val (nullB, realB) = batchDates.partition(_ == null)
            val inBatch = col(PartitionCol).isin(realB.toSeq: _*)
            val touched = if (nullB.nonEmpty) inBatch || col(PartitionCol).isNull else inBatch
            spark.read.parquet(path)
              .filter(!coalesce(touched, lit(false)))
              .join(inc.select(col("_id")).distinct(), Seq("_id"), "left_semi")
              .select(col(PartitionCol)).distinct().collect().map(_.getDate(0))
          }
        val dates = batchDates ++ staleDates
        // null event_date (null created_at upstream of nest's fallback)
        // routes to the default partition — isin(null) would evaluate to
        // null and silently EXCLUDE existing null-partition rows from the
        // merge, losing them on the overwrite
        val (nullDates, realDates) = dates.partition(_ == null)
        val datePred = {
          val in = col(PartitionCol).isin(realDates.toSeq: _*)
          if (nullDates.nonEmpty) in || col(PartitionCol).isNull else in
        }
        // Truncate lineage: Spark refuses to overwrite a path that an
        // active plan still reads from; the checkpoint materializes the
        // (pruned, small) affected slice before the write.
        val existing = Checkpoints.materialize(spark.read.parquet(path).filter(datePred))
        (existing.withColumn("__pri", lit(0))
          .unionByName(inc.withColumn("__pri", lit(1))), dates)
      }

    // LWW winner via [[lwwWinners]] — max-over-struct with the batch
    // priority leading, so incoming beats lake on key collision.
    val winnersPlan = lwwWinners(merged, leading = Seq(col("__pri")))
    // In dedup mode the output is consumed twice (emptied-partition
    // collect below, then the write) — materialize it once instead of
    // re-running the whole LWW window per consumer
    val winners =
      if (crossPartitionDedup) Checkpoints.materialize(winnersPlan) else winnersPlan

    // Dynamic overwrite only rewrites partitions PRESENT in the output: a
    // partition whose every row was a retired stale copy produces no
    // output rows and would silently keep its files. In dedup mode, find
    // such emptied partitions (partition metadata, bounded) and drop their
    // directories after the write.
    val emptied: Array[java.sql.Date] =
      if (!crossPartitionDedup) Array.empty
      else {
        val outDates = winners.select(col(PartitionCol)).distinct()
          .collect().map(_.getDate(0)).toSet
        mergedDates.filterNot(outDates.contains).distinct
      }

    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try winners.write.mode("overwrite").partitionBy(PartitionCol).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }

    // The overwrite (above) and this cleanup are two separate filesystem
    // operations with no transaction between them: a crash in the gap —
    // or a filesystem that refuses the delete — would silently resurrect
    // the stale duplicate _id this mode exists to retire on the next
    // read. So a failed delete FAILS the merge loudly; the merge is
    // idempotent (LakeMergeSpec), so the documented recovery for either
    // failure is simply re-running it.
    if (emptied.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { d =>
        val leaf = if (d == null) "__HIVE_DEFAULT_PARTITION__" else d.toString
        val dir = new org.apache.hadoop.fs.Path(root, s"$PartitionCol=$leaf")
        if (!fs.delete(dir, true) && fs.exists(dir)) {
          throw new java.io.IOException(
            s"mergeWrite: could not delete emptied partition $dir — " +
              "stale rows would resurrect; re-run the merge after fixing the filesystem")
        }
      }
    }
  }

  def readLake(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Read-time LWW dedup by `_id` — the query-side alternative to
    * `mergeWrite(crossPartitionDedup = true)` when stale cross-partition
    * copies may exist (see the SCOPE note on [[mergeWrite]]): newest
    * scraped_at wins, same content-hash tiebreak as the merge window.
    * Costs one shuffle on `_id` per read instead of a lake scan per write.
    */
  def readLakeLatest(spark: SparkSession, path: String): DataFrame =
    lwwWinners(readLake(spark, path), leading = Seq.empty)

  /** The ONE LWW winner selection, shared by [[mergeWrite]] (with the
    * batch-priority column leading) and [[readLakeLatest]] (without), so
    * write-time and read-time winners can never drift: newest scraped_at
    * wins, content-hash tiebreak, identical across both surfaces.
    *
    * Shape: max-over-struct aggregate, not a row_number window. Struct
    * min/max plans SORT-based (struct buffers are not hash-aggregable),
    * but the partial side combines map-side — each task ships one
    * candidate per _id it saw, so the shuffle shrinks by the version
    * count, where the window shuffles and sorts every version. Field
    * order encodes the old sort: optional leading priority, scraped_at
    * (max; a null field compares smallest == desc_nulls_last), then
    * bitwise NOT of the content hash — order-reversing on signed longs
    * with no MinValue negation overflow, so max picks the SMALLEST hash,
    * matching the previous ascending tiebreak. Rows tied even on the hash
    * fall through to whole-row comparison instead of task-scheduling
    * order, keeping "same batch, same winner".
    */
  private def lwwWinners(df: DataFrame, leading: Seq[Column]): DataFrame = {
    val dataCols = df.columns.filter(_ != "__pri")
    df.groupBy(col("_id").as("__gid"))
      .agg(max(struct(leading ++ Seq(
        col("metadata.scraped_at").as("__ts"),
        bitwise_not(xxhash64(struct(col("content"), col("metadata"), col("metrics"))))
          .as("__inv"),
        struct(dataCols.map(col).toSeq: _*).as("__row")): _*)).as("__m"))
      .select(col("__m.__row.*"))
  }

  private def lakeExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }
}
