package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one commit path for persistent writes, and the shared layout
  * discipline of the append-only `batch=<id>` partition stores
  * ([[IncrementalDedup]], [[IncrementalSegmentDedup]],
  * [[IncrementalImageDedup]], [[IncrementalSemDedup]], the [[Retrieval]]
  * index trees and [[IvfIndex]]'s cells tree). [[LakeMerge]], the curated
  * store of [[graft.streaming.StreamingIngest]] and
  * [[graft.pipeline.MonthlyRollup]] commit through the same swap.
  *
  *  - '''Commit''' ([[stage]], [[commit]]): a writer writes the
  *    replacement directories into a stage beside the root
  *    (`<root>__next`, which no read of the root can see), then commits a
  *    [[Swap]]: the directories under the root to replace from the stage
  *    and the ones to drop (`""` names the root itself). The commit
  *    writes ONE manifest (`<root>__manifest`, published by rename, so it
  *    is whole or absent) after the stage write has committed, then rolls
  *    it forward under `swapLock`: delete + rename per replaced
  *    directory, delete per dropped one, then the stage and the manifest
  *    go. Every step is idempotent given the manifest.
  *  - '''Adopt on read''' ([[heal]]): every reader and writer heals on
  *    entry. A manifest means the commit was decided: roll it forward, so
  *    a crash anywhere after the manifest lands reads as the new content.
  *    A stage WITHOUT a manifest is never adopted — it is a write that
  *    did not finish (a crash mid-write leaves `__next/_temporary`), so
  *    the old content stays live and the next [[stage]] clears it.
  *  - '''Layout''': one directory per producer batch, `batch=<id>`,
  *    written with mode=overwrite so a checkpoint-replayed micro-batch
  *    rewrites its own partition instead of appending duplicates.
  *    Nested stores add Hive-style partition subdirs below each batch
  *    dir (`batch=N/cell=M`) for partition-pruned reads.
  *  - '''Replay exclusion''' ([[priorBatchPaths]] / [[readPrior]]): the
  *    pre-batch state is read from the EXPLICIT partition paths with
  *    `batch < batchId`, never via a full-store read + filter. The
  *    overwrite of `batch=<batchId>` deletes files a full-store file
  *    index would reference, so replay safety would otherwise hinge on
  *    static partition pruning keeping them out of the scan — an
  *    optimizer behavior, not a contract. Listing the directories
  *    decouples the write target from the read set by construction and
  *    removes the torn-partition edge (crash mid-write of `batch=N`,
  *    then replay reads partial files of N).
  *  - '''Corruption is loud''': a `batch=` directory whose suffix does
  *    not parse as a long raises, rather than being silently included
  *    or skipped.
  *  - '''Compaction''' ([[compact]]): consolidate every batch with
  *    id <= `upToBatch` into a single partition under the LARGEST
  *    EXISTING id <= `upToBatch` (a fresh id would collide with a
  *    future producer batch, whose overwrite would then replace the
  *    consolidated history wholesale). The swap replaces that one
  *    directory and drops the folded ones; later batches are never
  *    touched. SAFETY CONTRACT: only compact batch ids the producer's
  *    checkpoint has committed past — foreachBatch replays at most the
  *    last uncommitted batch, so `upToBatch = lastBatchId - 1` is always
  *    safe while a stream is live. Row content is untouched; only
  *    physical layout changes.
  */
private[graft] object BatchStore {

  /** JVM-wide mutex for the roll-forward (never held during stage
    * writes). A serving JVM runs reader threads (whose [[heal]] may roll
    * a manifest forward) concurrently with the maintenance thread's
    * [[commit]]; the lock makes each roll-forward one step for every
    * other thread of the JVM. Across JVMs a heal is a write, under the
    * documented single-writer contract.
    */
  private val swapLock = new Object

  /** FileSystem + Path for a store root. */
  def fsPath(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The stage beside `root`: a replacement directory is written under
    * `dir` at the relative path it takes under the root.
    */
  final case class Stage(fs: FileSystem, root: Path) {
    val dir: Path = new Path(root.toString + "__next")
    def at(rel: String): Path = if (rel.isEmpty) dir else new Path(dir, rel)
  }

  /** A staged commit: `replace` moves `stage.at(rel)` to `root/rel`,
    * `drop` deletes `root/rel`; `""` names the root itself.
    */
  final case class Swap(stage: Stage, replace: Seq[String], drop: Seq[String] = Nil)

  private def manifest(root: Path): Path = new Path(root.toString + "__manifest")
  private def manifestTmp(root: Path): Path = new Path(root.toString + "__manifest.tmp")
  private def under(root: Path, rel: String): Path =
    if (rel.isEmpty) root else new Path(root, rel)
  private def clear(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p))
      require(fs.delete(p, true) || !fs.exists(p), s"BatchStore: failed to delete $p")

  /** Heal `path` and clear a stage an unfinished write left behind;
    * returns the empty stage to write into.
    */
  def stage(spark: SparkSession, path: String): Stage = {
    val (fs, root) = fsPath(spark, path)
    heal(fs, root)
    val st = Stage(fs, root)
    clear(fs, st.dir)
    clear(fs, manifestTmp(root))
    st
  }

  /** Publish the swap's manifest and roll it forward. */
  def commit(sw: Swap): Unit = swapLock.synchronized {
    publish(sw)
    rollForward(sw.stage.fs, sw.stage.root)
  }

  /** The commit point: the manifest is written beside the root and
    * renamed into place, so a reader sees it whole or not at all.
    */
  private[graft] def publish(sw: Swap): Unit = {
    val fs = sw.stage.fs
    val tmp = manifestTmp(sw.stage.root)
    val out = fs.create(tmp, true)
    try out.write((sw.replace.map("+" + _) ++ sw.drop.map("-" + _))
      .map(_ + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, manifest(sw.stage.root)),
      s"BatchStore: failed to publish the manifest of ${sw.stage.root}")
  }

  /** Adopt on read: roll forward a commit whose manifest landed. */
  def heal(fs: FileSystem, root: Path): Unit = swapLock.synchronized {
    if (fs.exists(manifest(root))) rollForward(fs, root)
  }

  private def rollForward(fs: FileSystem, root: Path): Unit = {
    val st = Stage(fs, root)
    val in = fs.open(manifest(root))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.filter(_.startsWith("+")).map(_.drop(1)).foreach { rel =>
      val (src, dst) = (st.at(rel), under(root, rel))
      // a replaced directory whose stage copy is gone was moved already
      if (fs.exists(src)) {
        clear(fs, dst)
        if (!fs.exists(dst.getParent)) fs.mkdirs(dst.getParent)
        require(fs.rename(src, dst), s"BatchStore: failed to move $src to $dst")
      }
    }
    lines.filter(_.startsWith("-")).foreach(l => clear(fs, under(root, l.drop(1))))
    // what is left of the stage is the write job's _SUCCESS marker
    clear(fs, st.dir)
    clear(fs, manifest(root))
  }

  /** Delete a store for a fresh build: the root, and a stage or manifest
    * a crashed commit of the previous generation left beside it (a
    * manifest kept would roll forward onto the new tree).
    */
  def reset(spark: SparkSession, path: String): Unit = {
    val (fs, root) = fsPath(spark, path)
    Seq(manifest(root), manifestTmp(root), Stage(fs, root).dir, root).foreach(clear(fs, _))
  }

  /** The COMMITTED subset of [[listBatches]]: batch dirs carrying the
    * job-commit `_SUCCESS` marker. Serving reads that must be atomic
    * against a concurrent producer pin their snapshot to this set — a
    * batch directory exists (and fills with task files) before its job
    * commits, so an unmarked dir is an in-flight or crashed append that
    * a point-in-time read must not see. Maintenance paths (replay
    * exclusion, compaction) keep using [[listBatches]]: they run under
    * the single-writer contract where no in-flight sibling exists, and
    * must still see a crashed batch's dir to overwrite it.
    */
  def committedBatches(fs: FileSystem, p: Path): Seq[(Long, Path)] =
    listBatches(fs, p).filter { case (_, bp) =>
      fs.exists(new Path(bp, "_SUCCESS"))
    }

  /** A maintenance swap completing mid-read can surface in exactly two
    * shapes: the pinned path is gone at PLAN time (AnalysisException
    * PATH_NOT_FOUND) or a file vanishes at EXECUTION time
    * (FileNotFoundException, usually wrapped in a SparkException whose
    * task-failure message embeds the cause class name rather than the
    * cause object). Everything else — empty-store `require`, genuine
    * query bugs, OOM-adjacent failures — is deterministic and retrying
    * it only burns the full backoff schedule before surfacing an error
    * that could never succeed.
    */
  private[graft] def isVanishedPathFailure(e: Throwable): Boolean = {
    var t = e
    var depth = 0
    while (t != null && depth < 16) {
      t match {
        case _: java.io.FileNotFoundException => return true
        case a: org.apache.spark.sql.AnalysisException
            if a.getMessage != null &&
              (a.getMessage.contains("PATH_NOT_FOUND") ||
                a.getMessage.contains("Path does not exist")) => return true
        case _ =>
      }
      val m = t.getMessage
      if (m != null && (m.contains("FileNotFoundException") ||
          m.contains("PATH_NOT_FOUND") ||
          // Spark 4's execution-time shape when a pinned file vanishes
          // mid-scan ("FAILED_READ_FILE.FILE_NOT_EXIST ... File does not
          // exist. It is possible the underlying files have been updated.")
          m.contains("FILE_NOT_EXIST") ||
          // scoped to PATH/FILE contexts: a bare "does not exist" would
          // also match deterministic analysis failures (missing table,
          // missing column) and burn the whole backoff before surfacing
          m.contains("Path does not exist") ||
          m.contains("File does not exist"))) return true
      t = if (t.getCause eq t) null else t.getCause
      depth += 1
    }
    false
  }

  /** Bounded-retry OPTIMISTIC serving read. A serving query pins a
    * committed-batch snapshot, plans against those explicit paths, and
    * executes; a maintenance swap completing mid-read invalidates the
    * pinned paths and surfaces as a transient failure (missing path at
    * plan time, vanished file at execution time). The snapshot-pin makes
    * torn reads IMPOSSIBLE — a race can only fail loudly, never return a
    * state no quiesced index has — so the correct serving response is to
    * re-pin against the healed tree and re-execute. Only the two failure
    * classes the pin can actually produce ([[isVanishedPathFailure]])
    * are retried; anything else is deterministic and rethrown
    * immediately. Linear backoff; rethrows the last failure once
    * `attempts` is exhausted (a persistent failure is a real outage,
    * not a race).
    */
  def servingRead[T](attempts: Int = 10, backoffMs: Long = 100)(body: => T): T = {
    var i = 0
    while (true) {
      try return body
      catch {
        case scala.util.control.NonFatal(e) if isVanishedPathFailure(e) =>
          i += 1
          if (i >= attempts) throw e
          Thread.sleep(backoffMs * i)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Enumerate the store's `batch=` partitions as (id, path), healing a
    * crashed swap first. A suffix that does not parse is a corrupt store
    * and raises loudly.
    */
  def listBatches(fs: FileSystem, p: Path): Seq[(Long, Path)] = {
    heal(fs, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map { s =>
        val suffix = s.getPath.getName.stripPrefix("batch=")
        val id = scala.util.Try(suffix.toLong).getOrElse(
          throw new IllegalStateException(
            s"BatchStore: corrupt store partition '${s.getPath}' — " +
              "batch= suffix is not a long"))
        (id, s.getPath)
      }
  }

  /** The explicit pre-batch read set: every `batch=` path with
    * id < `batchId` (see the object doc for why explicit paths, not a
    * full-store read + filter).
    */
  def priorBatchPaths(
      spark: SparkSession, path: String, batchId: Long): Seq[String] = {
    val (fs, p) = fsPath(spark, path)
    listBatches(fs, p).filter(_._1 < batchId).map(_._2.toString)
  }

  /** Read the pre-batch store state from the explicit prior paths, or an
    * empty frame of `schema` when no prior batch exists. For nested
    * stores, Hive-style subdirs below each batch dir surface as
    * partition columns (include them in `schema` so the empty frame
    * matches). `basePath` anchors partition parsing at the store root:
    * without it, multiple `batch=N` roots that themselves contain
    * partition subdirs trip CONFLICTING_DIRECTORY_STRUCTURES. The read
    * therefore also carries a `batch` partition column and possibly a
    * different column ORDER than `schema` — callers select by name.
    */
  /** Total DATA bytes at rest in the pre-batch partitions (`batch <
    * batchId`) — the driver-side store-size signal a caller's join-plan
    * gate reads (one FS listing, no Spark job; bookkeeping files
    * excluded). 0 for a missing or empty store.
    */
  def priorBytes(spark: SparkSession, path: String, batchId: Long): Long = {
    val (fs, p) = fsPath(spark, path)
    listBatches(fs, p).filter(_._1 < batchId).map { case (_, bp) =>
      val it = fs.listFiles(bp, true)
      var s = 0L
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) s += f.getLen
      }
      s
    }.sum
  }

  def readPrior(
      spark: SparkSession, path: String, batchId: Long,
      schema: StructType): DataFrame = {
    val prior = priorBatchPaths(spark, path, batchId)
    if (prior.nonEmpty) {
      spark.read.option("basePath", path).parquet(prior: _*)
    } else {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** Consolidate every `batch=` partition with id <= `upToBatch` into a
    * single partition of `targetFiles` files under the largest existing
    * id <= `upToBatch`; later partitions stay as they are. A store
    * fed hourly for months carries thousands of tiny partitions whose
    * listing and open costs come to dominate every batch's read — the
    * standard small-files decay of any append-only layout.
    *
    * `partitionCols` preserves a nested layout (`batch=N/cell=M` →
    * `partitionCols = Seq("cell")`): the consolidated batch is
    * re-partitioned by the same columns, so partition-pruned reads
    * survive compaction — and the write is preceded by a SHUFFLE on
    * those columns so each partition value lands in exactly ONE task =
    * ONE file. A bare `partitionBy` write leaves up to one file per
    * INPUT task in every subdir (the whole-history read has many), so
    * compaction would rename the small-files problem, not fix it; the
    * shuffle costs one pass over history, paid at maintenance time for
    * an optimal serving layout (parquet files stay splittable, so a
    * large cell in one file still reads in parallel). `merge`
    * post-processes the consolidated rows (e.g. summing additive
    * per-batch statistics rows).
    *
    * See the object doc for the SAFETY CONTRACT and the commit.
    */
  def compact(
      spark: SparkSession, path: String, upToBatch: Long,
      targetFiles: Int = 8, partitionCols: Seq[String] = Nil,
      merge: DataFrame => DataFrame = identity,
      dataSchema: Option[StructType] = None,
      sortCols: Seq[String] = Nil): Unit =
    compactPrepare(spark, path, upToBatch, targetFiles, partitionCols, merge,
        dataSchema, sortCols)
      .foreach(commit)

  /** Phase 1 of [[compact]]: write the consolidated partition into the
    * stage and return its [[Swap]], or None when there is nothing to
    * compact. Split from the [[commit]] so a MULTI-TREE store
    * ([[Retrieval]]'s postings + stats) can stage every tree first and
    * then commit them back-to-back — the cross-tree window in which a
    * serving read can pin one tree's old snapshot and the other's new one
    * shrinks from a full consolidation write (seconds) to two
    * roll-forwards (milliseconds); the serving retry absorbs it.
    */
  def compactPrepare(
      spark: SparkSession, path: String, upToBatch: Long,
      targetFiles: Int = 8, partitionCols: Seq[String] = Nil,
      merge: DataFrame => DataFrame = identity,
      dataSchema: Option[StructType] = None,
      sortCols: Seq[String] = Nil): Option[Swap] = {
    val (fs, p) = fsPath(spark, path)
    val folded = listBatches(fs, p).filter(_._1 <= upToBatch)
    if (folded.isEmpty) return None
    val target = s"batch=${folded.map(_._1).max}"
    val st = stage(spark, path)
    // `dataSchema` (the store row layout WITHOUT the batch column) lets a
    // tree whose committed partitions can ALL be file-less — a nested
    // store where an empty batch's partitionBy write emits only _SUCCESS,
    // e.g. IncrementalDedup's band index after an all-short seed batch —
    // compact without tripping parquet schema inference on zero footers.
    val rootRead = dataSchema match {
      case Some(s) => spark.read.schema(
        s.add(org.apache.spark.sql.types.StructField(
          "batch", org.apache.spark.sql.types.LongType)))
      case None => spark.read
    }
    val df = merge(rootRead.parquet(path)
      .filter(col("batch") <= upToBatch).drop("batch"))
    val out = st.at(target).toString
    // `sortCols` keeps a consolidated file's rows clustered on the
    // caller's data-column key (e.g. the bucketed cells layout stores
    // `cell` INSIDE `cbk=` files): the sort costs nothing extra — the
    // shuffle is already paid — and preserves the tight per-row-group
    // min/max stats the caller's key-isin filters skip on.
    if (partitionCols.nonEmpty) {
      val rep = df.repartition(partitionCols.map(col): _*)
      val clustered =
        if (sortCols.isEmpty) rep
        else rep.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      clustered.write.partitionBy(partitionCols: _*).parquet(out)
    } else {
      // sortCols clusters the coalesced files too — a flat store's
      // row-group min/max skip key deserves the same treatment as a
      // partitioned one's
      val co = df.coalesce(targetFiles)
      val clustered =
        if (sortCols.isEmpty) co else co.sortWithinPartitions(sortCols.map(col): _*)
      clustered.write.parquet(out)
    }
    Some(Swap(st, Seq(target), folded.map(_._2.getName).filter(_ != target)))
  }
}
