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
  * ([[GraftTestFs.opensDuring]]). */
class GraftTestFs extends RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    GraftTestFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object GraftTestFs {
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** The paths opened through `graftfs:` while `body` ran (suites running
    * alongside may add their own: filter by the root under test). */
  def opensDuring(body: => Any): Seq[String] = {
    import scala.jdk.CollectionConverters._
    opened.clear()
    body
    opened.asScala.toSeq
  }
}
