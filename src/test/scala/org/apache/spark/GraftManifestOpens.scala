package org.apache.spark

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, LocalFileSystem, Path}

/** A `file:` filesystem that counts the driver's calls, by path, for
  * the specs that pin how often a verb reads table metadata: opens of
  * snapshot manifests (`_manifests/v<N>.manifest`), and `getFileStatus`
  * (`exists` included), `listStatus` and `open` calls on a table's
  * `_refs` directory and the files under it. Only the outermost call
  * counts, so the status an `open` takes internally is not a second
  * call. A session routes its `file:` paths through it under
  * [[GraftManifestOpens.confs]]. */
class GraftManifestOpens extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    GraftManifestOpens.counted("open", f)(super.open(f, bufferSize))
  override def getFileStatus(f: Path): FileStatus =
    GraftManifestOpens.counted("getFileStatus", f)(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    GraftManifestOpens.counted("listStatus", f)(super.listStatus(f))
}

object GraftManifestOpens {
  /** Session confs that install the counter. The filesystem cache is
    * off, so a `file:` instance created before is not reused. */
  val confs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[GraftManifestOpens].getName,
    "fs.file.impl.disable.cache" -> "true")

  private val ManifestName = raw"v\d+\.manifest".r
  /** (call, path without scheme) → count. */
  private val counts = new ConcurrentHashMap[(String, String), AtomicInteger]()
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private def counted[T](call: String, f: Path)(body: => T): T = {
    if (depth.get == 0) record(call, f)
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }

  private def record(call: String, f: Path): Unit = {
    val p = Path.getPathWithoutSchemeAndAuthority(f).toString
    val manifest = call == "open" && f.getParent != null &&
      f.getParent.getName == "_manifests" && ManifestName.matches(f.getName)
    if ((manifest || p.endsWith("/_refs") || p.contains("/_refs/")) &&
        !Thread.currentThread.getName.startsWith("Executor task launch"))
      counts.computeIfAbsent((call, p), _ => new AtomicInteger()).incrementAndGet()
  }

  /** The driver's opens so far of version `v`'s manifest under `root`
    * (a path without scheme). */
  def of(root: String, v: Long): Int =
    Option(counts.get(("open", s"$root/_manifests/v$v.manifest"))).fold(0)(_.get)

  /** The driver's calls so far on `root`'s `_refs` directory and the
    * paths under it: (call, path relative to `_refs`, "" for the
    * directory itself) → count. */
  def refs(root: String): Map[(String, String), Int] = {
    val dir = s"$root/_refs"
    counts.asScala.collect {
      case ((call, p), n) if p == dir || p.startsWith(s"$dir/") =>
        (call, p.stripPrefix(dir).stripPrefix("/")) -> n.get
    }.toMap
  }
}
