package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one commit path for persistent writes. A store is ONE root
  * directory, and whatever a write changes under it lands through one
  * manifest: a `batch=<id>` append (in every tree it spans), a build's
  * meta, centroid, codebook and batch-0 trees, a compaction's
  * consolidated partition together with the folded ones it drops.
  * Users: the append-only batch stores ([[IncrementalDedup]] with its
  * band index, [[IncrementalSegmentDedup]], [[IncrementalImageDedup]],
  * [[IncrementalSemDedup]]), the indexes ([[Retrieval]], [[IvfIndex]],
  * [[IvfPqIndex]]), [[LakeMerge]], the curated store of
  * [[graft.streaming.StreamingIngest]], [[graft.pipeline.MonthlyRollup]]
  * and the JSON exports of [[graft.sources.TweetJsonSource]].
  *
  *  - '''Commit''' ([[stage]], [[commit]], [[land]]): a writer writes
  *    every path it changes into a stage beside the root (`<root>__next`,
  *    which no read of the root can see), at the relative path it takes
  *    under the root, then commits a [[Swap]]: the paths to replace from
  *    the stage and the ones to drop (`""` names the root itself). The
  *    commit writes ONE manifest (`<root>__manifest`, published by
  *    rename, so it is whole or absent) after the stage write has
  *    committed, then rolls it forward under `swapLock`: delete + rename
  *    per replaced path, delete per dropped one, then the stage and the
  *    manifest go. Every step is idempotent given the manifest. So a
  *    write that spans trees (an index's postings and stats, a store and
  *    its band index) lands in all of them or in none, and a rebuild
  *    replaces exactly its own subtrees: a crashed one leaves the old
  *    index serving. No writer keeps a write order of its own.
  *  - '''Adopt on read''' ([[heal]]): every reader and writer heals on
  *    entry. A manifest means the commit was decided: roll it forward, so
  *    a crash anywhere after the manifest lands reads as the new content.
  *    A stage WITHOUT a manifest is never adopted — it is a write that
  *    did not finish (a crash mid-write leaves `__next/_temporary`), so
  *    the old content stays live and the next [[stage]] clears it.
  *  - '''Layout''': one directory per producer batch, `batch=<id>`, in
  *    each tree of the root (the root itself for a flat store); a
  *    replayed micro-batch replaces its own partition. Nested stores add
  *    Hive-style partition subdirs below each batch dir
  *    (`batch=N/cell=M`) for partition-pruned reads. A second tree inside
  *    a flat store's root takes a `_` name (`_bands`): Spark's file
  *    listing skips `_`-prefixed names, so a read of the root sees only
  *    its batches.
  *  - '''Snapshot pin''' ([[listBatches]]): the listing heals and lists
  *    under `swapLock`, so it never sees a roll-forward half done — a
  *    listed batch is committed in every tree it spans. A serving read
  *    lists once and reads each tree through those explicit paths.
  *  - '''Replay exclusion''' ([[priorBatchPaths]] / [[readPrior]]): the
  *    pre-batch state is read from the EXPLICIT partition paths with
  *    `batch < batchId`, never via a full-store read + filter, so a
  *    replayed batch never reads its own earlier write — by construction,
  *    not by an optimizer's static partition pruning.
  *  - '''Corruption is loud''': a `batch=` directory whose suffix does
  *    not parse as a long raises, rather than being silently included
  *    or skipped.
  *  - '''Compaction''' ([[compact]]): consolidate every batch with
  *    id <= `upToBatch` into a single partition under the LARGEST
  *    EXISTING id <= `upToBatch` (a fresh id would collide with a
  *    future producer batch, whose replace would then drop the
  *    consolidated history wholesale), in every tree of the store. The
  *    swap replaces that one directory per tree and drops the folded
  *    ones; later batches are never touched. SAFETY CONTRACT: only
  *    compact batch ids the producer's checkpoint has committed past —
  *    foreachBatch replays at most the last uncommitted batch, so
  *    `upToBatch = lastBatchId - 1` is always safe while a stream is
  *    live. Row content is untouched; only physical layout changes.
  */
private[graft] object BatchStore {

  /** JVM-wide mutex for the roll-forward and the snapshot listing (never
    * held during stage writes). A serving JVM runs reader threads (whose
    * [[heal]] may roll a manifest forward) concurrently with the
    * maintenance thread's [[commit]]; the lock makes each roll-forward
    * one step for every other thread of the JVM. Across JVMs a heal is a
    * write, under the documented single-writer contract.
    */
  private val swapLock = new Object

  /** FileSystem + Path for a store root. */
  def fsPath(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The stage beside `root`: a replacement path is written under `dir`
    * at the relative path it takes under the root.
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

  /** One write as one commit: `write` fills a fresh stage of `path`,
    * then `replace` and `drop` land through one manifest.
    */
  def land(spark: SparkSession, path: String, replace: Seq[String],
      drop: Seq[String] = Nil)(write: Stage => Unit): Unit = {
    val st = stage(spark, path)
    write(st)
    commit(Swap(st, replace, drop))
  }

  /** The commit point: the manifest is written beside the root and
    * renamed into place, so a reader sees it whole or not at all.
    */
  private[graft] def publish(sw: Swap): Unit = {
    val tmp = manifestTmp(sw.stage.root)
    writeText(sw.stage.fs, tmp,
      (sw.replace.map("+" + _) ++ sw.drop.map("-" + _)).map(_ + "\n").mkString)
    require(sw.stage.fs.rename(tmp, manifest(sw.stage.root)),
      s"BatchStore: failed to publish the manifest of ${sw.stage.root}")
  }

  /** A small text file (a build marker) at `rel` in the stage. */
  def stageText(st: Stage, rel: String, text: String): Unit = writeText(st.fs, st.at(rel), text)

  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
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
      // a replaced path whose stage copy is gone was moved already
      if (fs.exists(src)) {
        clear(fs, dst)
        if (!fs.exists(dst.getParent)) fs.mkdirs(dst.getParent)
        require(fs.rename(src, dst), s"BatchStore: failed to move $src to $dst")
      }
    }
    lines.filter(_.startsWith("-")).foreach(l => clear(fs, under(root, l.drop(1))))
    // what is left of the stage is the write jobs' _SUCCESS markers
    clear(fs, st.dir)
    clear(fs, manifest(root))
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

  /** The store's `batch=` partitions in `tree` (`""` = the root) as
    * (id, path): a snapshot pin — healed and listed under `swapLock`, so
    * no roll-forward is half done in it. A suffix that does not parse is
    * a corrupt store and raises loudly.
    */
  def listBatches(fs: FileSystem, root: Path, tree: String = ""): Seq[(Long, Path)] =
    swapLock.synchronized {
      heal(fs, root)
      val p = under(root, tree)
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

  /** The explicit pre-batch read set: every `batch=` path of `tree` with
    * id < `batchId` (see the object doc for why explicit paths, not a
    * full-store read + filter).
    */
  def priorBatchPaths(
      spark: SparkSession, path: String, batchId: Long, tree: String = ""): Seq[String] = {
    val (fs, p) = fsPath(spark, path)
    listBatches(fs, p, tree).filter(_._1 < batchId).map(_._2.toString)
  }

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

  /** Read the pre-batch state of `tree` from the explicit prior paths,
    * or an empty frame of `schema` when no prior batch exists. For nested
    * stores, Hive-style subdirs below each batch dir surface as
    * partition columns (include them in `schema` so the empty frame
    * matches). `basePath` anchors partition parsing at the tree root:
    * without it, multiple `batch=N` roots that themselves contain
    * partition subdirs trip CONFLICTING_DIRECTORY_STRUCTURES. The read
    * therefore also carries a `batch` partition column and possibly a
    * different column ORDER than `schema` — callers select by name.
    */
  def readPrior(
      spark: SparkSession, path: String, batchId: Long,
      schema: StructType, tree: String = ""): DataFrame = {
    val prior = priorBatchPaths(spark, path, batchId, tree)
    if (prior.nonEmpty) {
      spark.read.option("basePath", under(new Path(path), tree).toString)
        .parquet(prior: _*)
    } else {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** One tree of a [[compact]]ion: its directory under the root (`""` =
    * the root) and the layout of its consolidated partition. `rows`
    * supplies the consolidated rows when they are not the tree's own
    * folded batches (a derived index that may lack legacy batches).
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
    * large cell in one file still reads in parallel). A flat tree
    * coalesces to `targetFiles` files. `sortCols` keeps a consolidated
    * file's rows clustered on the caller's data-column key (e.g. the
    * bucketed cells layout stores `cell` INSIDE `cbk=` files): the sort
    * costs nothing extra — the shuffle is already paid — and preserves
    * the tight per-row-group min/max stats the caller's key-isin filters
    * skip on. `merge` post-processes the consolidated rows (e.g. summing
    * additive per-batch statistics rows).
    */
  final case class Tree(
      rel: String = "", targetFiles: Int = 8, partitionCols: Seq[String] = Nil,
      sortCols: Seq[String] = Nil, merge: DataFrame => DataFrame = identity,
      rows: Option[DataFrame] = None)

  /** Consolidate every `batch=` partition with id <= `upToBatch` into a
    * single partition under the largest existing id <= `upToBatch` of the
    * first tree, in every tree of the store at once (one [[Swap]]); later
    * partitions stay as they are. A store fed hourly for months carries
    * thousands of tiny partitions whose listing and open costs come to
    * dominate every batch's read — the standard small-files decay of any
    * append-only layout. No trees means the flat store at the root. See
    * the object doc for the SAFETY CONTRACT and the commit.
    */
  def compact(spark: SparkSession, path: String, upToBatch: Long, trees: Tree*): Unit = {
    val (fs, root) = fsPath(spark, path)
    val folded = (if (trees.isEmpty) Seq(Tree()) else trees).map(t =>
      t -> listBatches(fs, root, t.rel).filter(_._1 <= upToBatch))
    if (folded.head._2.isEmpty) return
    val target = s"batch=${folded.head._2.map(_._1).max}"
    def rel(t: Tree, name: String) = if (t.rel.isEmpty) name else s"${t.rel}/$name"
    val written = folded.filter { case (t, ps) => ps.nonEmpty || t.rows.nonEmpty }
    land(spark, path, written.map(w => rel(w._1, target)),
      folded.flatMap { case (t, ps) =>
        ps.map(_._2.getName).filter(_ != target).map(rel(t, _)) }) {
      st =>
        written.foreach { case (t, ps) =>
          val df = t.merge(t.rows.getOrElse(
            spark.read.option("basePath", under(root, t.rel).toString)
              .parquet(ps.map(_._2.toString): _*).drop("batch")))
          val out = st.at(rel(t, target)).toString
          if (t.partitionCols.nonEmpty) {
            val rep = df.repartition(t.partitionCols.map(col): _*)
            val clustered =
              if (t.sortCols.isEmpty) rep
              else rep.sortWithinPartitions((t.partitionCols ++ t.sortCols).map(col): _*)
            clustered.write.partitionBy(t.partitionCols: _*).parquet(out)
          } else {
            val co = df.coalesce(t.targetFiles)
            val clustered =
              if (t.sortCols.isEmpty) co else co.sortWithinPartitions(t.sortCols.map(col): _*)
            clustered.write.parquet(out)
          }
        }
    }
  }
}
