package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** Test double: the local filesystem under its own `fault:` scheme. It
  * counts the mutating calls (mkdirs, create, rename, delete) under each
  * armed directory ([[FaultFs.arm]]) and, from that directory's
  * `crashAt`-th call on, throws at every call under it — a process that
  * died at that call makes no further change there, so a writer's
  * cleanup handlers cannot tidy the crash state away. Directories are
  * armed independently, so writers on different directories can crash
  * concurrently. Registered only in the spec session's Hadoop conf
  * ([[FaultFs.install]]); main code has no hook for it.
  */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = FaultFs.Root
  override def getScheme: String = FaultFs.Scheme

  override def mkdirs(f: Path): Boolean = FaultFs.mutate("mkdirs", f)(super.mkdirs(f))
  override def mkdirs(f: Path, p: FsPermission): Boolean =
    FaultFs.mutate("mkdirs", f)(super.mkdirs(f, p))
  override def rename(src: Path, dst: Path): Boolean =
    FaultFs.mutate("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    FaultFs.mutate("delete", f)(super.delete(f, recursive))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultFs.mutate("create", f)(
      super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, p: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultFs.mutate("create", f)(
      super.create(f, p, overwrite, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, p: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultFs.mutate("create", f)(super.createNonRecursive(f, p, flags, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, p: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    FaultFs.mutate("create", f)(super.createNonRecursive(f, p, overwrite, bufferSize,
      replication, blockSize, progress))
}

object FaultFs {
  val Scheme = "fault"
  val Root: URI = URI.create(s"$Scheme:///")

  final class Crash(n: Long) extends java.io.IOException(s"injected crash at mutating call $n")

  /** An armed directory: the mutating calls under it since [[arm]], and
    * their log (`"<op> <path>"`).
    */
  final class Scope private[FaultFs] (val dir: String, crashAt: Long) {
    val calls = new AtomicLong
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]
    private[FaultFs] def covers(p: String): Boolean = p == dir || p.startsWith(dir + "/")
    private[FaultFs] def count(name: String, p: String): Unit = {
      log.add(s"$name $p")
      val n = calls.incrementAndGet()
      if (n >= crashAt) throw new Crash(n)
    }
  }

  private val scopes = new java.util.concurrent.CopyOnWriteArrayList[Scope]
  // a mutating call may recurse (mkdirs creates parents, create makes
  // its parent dir): only the outermost one counts
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private def mutate[T](name: String, path: Path)(op: => T): T = {
    if (depth.get == 0) {
      val p = path.toUri.getPath
      scopes.forEach(s => if (s.covers(p)) s.count(name, p))
    }
    depth.set(depth.get + 1)
    try op finally depth.set(depth.get - 1)
  }

  /** Count the mutating calls under `dir` (a `fault:` path); crash from
    * the `k`-th on.
    */
  def arm(dir: String, k: Long = Long.MaxValue): Scope = {
    val s = new Scope(new Path(dir).toUri.getPath, k)
    scopes.add(s)
    s
  }
  def disarm(s: Scope): Unit = scopes.remove(s): Unit

  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)
  }

  /** A fresh directory under the `fault:` scheme. */
  def tmpDir(tag: String): String =
    s"$Scheme:" + java.nio.file.Files.createTempDirectory(tag).toString
}
