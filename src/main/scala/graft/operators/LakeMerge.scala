package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** D3/S5: the idempotent keyed merge write — the reference's Mongo
  * `UpdateOne({_id}, {$set: doc}, upsert=True)` bulk
  * (src/resilient_scraper.py:941-974) re-expressed as
  * last-write-wins-per-key over a date-partitioned Parquet lake,
  * committed through the [[BatchStore]] swap (SURVEY §4 "the one place
  * our engine writes nontrivial plan logic").
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
    * Commit: the touched partitions' winners are written into the lake's
    * stage (`<path>__next`, invisible to `spark.read.parquet(path)`), one
    * file per partition with rows sorted by `_id` — so the lake's bytes
    * depend only on its content, not on task layout — and swapped in by
    * one [[BatchStore.commit]], which also drops the touched partitions
    * left with no rows. A crash before the manifest lands leaves the lake
    * as it was; after, the next read rolls the swap forward. Because the
    * write never targets a path its plan reads, neither the lake slice nor
    * the winners need materializing; the batch is materialized once, and
    * an `Observation` on that job yields its date set. An empty batch
    * returns without staging or swapping.
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
    val seen = Observation()
    // the batch is materialized once: its transform (and its date set,
    // observed on the same job) must not re-run per consumer
    val inc = Checkpoints.materializeFrame(
      incoming.withColumn(PartitionCol, to_date(col("metadata.created_at")))
        .observe(seen, collect_set(col(PartitionCol)).as("dates"),
          count(when(col(PartitionCol).isNull, 1)).as("nulls")))
    try {
      val observed = seen.get
      val batchDates =
        observed("dates").asInstanceOf[scala.collection.Seq[java.sql.Date]].toSeq ++
          (if (observed("nulls").asInstanceOf[Long] > 0) Seq(null) else Nil)
      if (batchDates.isEmpty) return
      val st = BatchStore.stage(spark, path)
      val lakeExists = st.fs.exists(st.root) && st.fs.listStatus(st.root).exists(
        _.getPath.getName.startsWith(s"$PartitionCol="))
      // crossPartitionDedup: partitions holding a stale copy of an
      // incoming _id under another date join the merge set, so the LWW
      // window below can retire those copies. (_id, date) only — the
      // scan never materializes document payloads.
      val staleDates =
        if (!crossPartitionDedup || !lakeExists) Nil
        else spark.read.parquet(path)
          .filter(!coalesce(inDates(batchDates), lit(false)))
          .join(inc.select(col("_id")).distinct(), Seq("_id"), "left_semi")
          .select(col(PartitionCol)).distinct().collect().map(_.getDate(0)).toSeq
      val dates = batchDates ++ staleDates
      val batch = inc.withColumn("__pri", lit(1))
      val merged =
        if (!lakeExists) batch
        else spark.read.parquet(path).filter(inDates(dates))
          .withColumn("__pri", lit(0)).unionByName(batch)
      // LWW winner via [[lwwWinners]] — max-over-struct with the batch
      // priority leading, so incoming beats lake on key collision
      lwwWinners(merged, leading = Seq(col("__pri")))
        .repartition(col(PartitionCol))
        .sortWithinPartitions(col(PartitionCol), col("_id"))
        .write.partitionBy(PartitionCol).parquet(st.dir.toString)
      // a touched partition with no winner left (every row a retired
      // stale copy) has no stage directory: the swap drops it
      val written = st.fs.listStatus(st.dir).map(_.getPath.getName)
        .filter(_.startsWith(s"$PartitionCol=")).toSeq
      val touched = dates.map(d =>
        s"$PartitionCol=${if (d == null) "__HIVE_DEFAULT_PARTITION__" else d}")
      BatchStore.commit(BatchStore.Swap(st, written, touched.distinct.diff(written)))
    } finally Checkpoints.freeFrame(inc)
  }

  /** The partitions of `dates`. A null date routes to the default
    * partition, which `isin(null)` would silently exclude.
    */
  private def inDates(dates: Seq[java.sql.Date]): Column = {
    val (nulls, real) = dates.partition(_ == null)
    val in = col(PartitionCol).isin(real: _*)
    if (nulls.nonEmpty) in || col(PartitionCol).isNull else in
  }

  /** Read the lake, rolling forward a merge whose commit crashed. */
  def readLake(spark: SparkSession, path: String): DataFrame = {
    val (fs, root) = BatchStore.fsPath(spark, path)
    BatchStore.heal(fs, root)
    spark.read.parquet(path)
  }

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
}
