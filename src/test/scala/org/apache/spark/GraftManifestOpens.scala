package org.apache.spark

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}

/** A `file:` filesystem that counts the driver's opens of snapshot
  * manifests (`_manifests/v<N>.manifest`) by path, for the specs that
  * pin how often a verb reads a version. A session routes its `file:`
  * paths through it under [[GraftManifestOpens.confs]]. */
class GraftManifestOpens extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    GraftManifestOpens.record(f)
    super.open(f, bufferSize)
  }
}

object GraftManifestOpens {
  /** Session confs that install the counter. The filesystem cache is
    * off, so a `file:` instance created before is not reused. */
  val confs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[GraftManifestOpens].getName,
    "fs.file.impl.disable.cache" -> "true")

  private val ManifestName = raw"v\d+\.manifest".r
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()

  private def record(f: Path): Unit =
    if (f.getParent != null && f.getParent.getName == "_manifests" &&
        ManifestName.matches(f.getName) &&
        !Thread.currentThread.getName.startsWith("Executor task launch"))
      counts.computeIfAbsent(Path.getPathWithoutSchemeAndAuthority(f).toString,
        _ => new AtomicInteger()).incrementAndGet()

  /** The driver's opens so far of version `v`'s manifest under `root`
    * (a path without scheme). */
  def of(root: String, v: Long): Int =
    Option(counts.get(s"$root/_manifests/v$v.manifest")).fold(0)(_.get)
}
