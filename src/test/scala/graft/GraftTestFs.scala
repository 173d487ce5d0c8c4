package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** A LocalFS-backed Hadoop filesystem under the fake scheme
  * `graftfs:` — lets specs drive the Iceberg publication seam
  * (create → deletes → compact → expire) through a NON-`file:` scheme
  * end to end, the object-store shape the r12 verdict found untested,
  * without needing a real store in the sandbox. Registered through
  * `META-INF/services/org.apache.hadoop.fs.FileSystem` so EVERY
  * `Configuration` resolves it (the writer's internals and the
  * Hadoop-catalog commit build their own configs). Every `open` is
  * recorded, so specs can count the manifest reads a code path makes
  * ([[GraftTestFs.opensDuring]]), and a one-shot hook can run just
  * before a graft manifest is renamed into place
  * ([[GraftTestFs.beforeNextPublish]]). */
class GraftTestFs extends RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    GraftTestFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  // after a hook ran, the rename keeps HDFS semantics (it never replaces
  // an existing file): the hook's writer may have published `dst`, which
  // the local FS's POSIX rename would otherwise silently overwrite
  override def rename(src: Path, dst: Path): Boolean =
    if (GraftTestFs.firePublishHook(dst) && exists(dst)) false
    else super.rename(src, dst)
}

object GraftTestFs {
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val publishHooks = new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()

  /** The paths opened through `graftfs:` while `body` ran (suites running
    * alongside may add their own: filter by the root under test). */
  def opensDuring(body: => Any): Seq[String] = {
    import scala.jdk.CollectionConverters._
    opened.clear()
    body
    opened.asScala.toSeq
  }

  /** Run `hook` once, just before the next manifest of the table whose
    * local directory is `dir` is renamed into place (the commit point of
    * `RenameArbiter`): a racing writer at a deterministic moment. */
  def beforeNextPublish(dir: String)(hook: => Unit): Unit = {
    publishHooks.put(dir.stripSuffix("/"), () => hook)
    ()
  }

  /** Drop an armed hook that never fired. */
  def clearPublishHook(dir: String): Unit = {
    publishHooks.remove(dir.stripSuffix("/"))
    ()
  }

  private def firePublishHook(dst: Path): Boolean = {
    import scala.jdk.CollectionConverters._
    val p = dst.toUri.getPath
    if (!p.endsWith(".manifest") || dst.getParent.getName != "_manifests") false
    else publishHooks.keySet.asScala.find(d => p.startsWith(d + "/"))
      .flatMap(d => Option(publishHooks.remove(d))) match {
      case Some(hook) => hook(); true
      case None => false
    }
  }
}
