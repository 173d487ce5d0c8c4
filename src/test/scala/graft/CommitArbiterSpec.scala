package graft

import graft.sources.{CommitArbiter, ConditionalPutArbiter, ConditionalPutStore, ManifestTable,
  RenameArbiter}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The pluggable commit seam: ManifestTable's whole protocol must hold
  * when the atomic primitive is a conditional PUT instead of a rename —
  * including under an object store's real failure modes: lost acks (the
  * PUT succeeded, the response didn't arrive), the duplicate PUTs a
  * client retry then produces, and genuine lost races. */
class CommitArbiterSpec extends SparkSpec {

  private def fsOf(root: String): FileSystem =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  /** An object-store fake over the local FS: conditional PUT with a JVM
    * lock for atomicity, plus injected lost acks — every `failEveryNth`-th
    * successful create throws AFTER creating the object, so the caller's
    * retry arrives as a duplicate PUT that must resolve by read-back. */
  private final class FlakyStore(fs: FileSystem, failEveryNth: Int) extends ConditionalPutStore {
    private val lock = new Object
    @volatile var creates = 0
    @volatile var lostAcks = 0
    def putIfAbsent(path: Path, content: Array[Byte]): Boolean = lock.synchronized {
      if (fs.exists(path)) false
      else {
        val tmp = new Path(path.getParent, s".put-${java.util.UUID.randomUUID()}")
        fs.mkdirs(path.getParent)
        val out = fs.create(tmp, false)
        try out.write(content) finally out.close()
        require(fs.rename(tmp, path))
        creates += 1
        if (failEveryNth > 0 && creates % failEveryNth == 0) {
          lostAcks += 1
          throw new java.io.IOException(s"injected lost ack (object WAS created) at $path")
        }
        true
      }
    }
    def read(path: Path): Option[Array[Byte]] = lock.synchronized {
      if (!fs.exists(path)) None
      else {
        val in = fs.open(path)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](8192)
          var n = in.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          Some(buf.toByteArray)
        } finally in.close()
      }
    }
  }

  private def withFlakyRoot[A](failEveryNth: Int)(f: (String, FlakyStore) => A): A = {
    val root = Files.createTempDirectory("arbiter").toString + "/t"
    val store = new FlakyStore(fsOf(root), failEveryNth)
    ManifestTable.installArbiter(root, new ConditionalPutArbiter(store))
    try f(root, store)
    finally ManifestTable.uninstallArbiter(root)
  }

  test("full table lifecycle commits through the conditional-put arbiter under lost acks") {
    withFlakyRoot(failEveryNth = 2) { (root, store) =>
      // every second commit loses its ack — append, merge, delete, compact,
      // exactly-once replay must all still converge
      ManifestTable.append(spark, root, spark.range(100).toDF("id"))
      ManifestTable.append(spark, root, spark.range(100, 200).toDF("id"))
      ManifestTable.merge(spark, root,
        spark.range(150, 250).toDF("id"), Seq("id"))
      ManifestTable.delete(spark, root, col("id") < 50)
      ManifestTable.compact(spark, root)
      assert(ManifestTable.exactlyOnceAppend(spark, root,
        spark.range(250, 260).toDF("id"), "w", 1L).nonEmpty)
      assert(ManifestTable.exactlyOnceAppend(spark, root,
        spark.range(9000).toDF("id"), "w", 1L).isEmpty, "replay must skip")
      val got = ManifestTable.read(spark, root).collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (50L until 260L), "every commit must land exactly once")
      assert(store.lostAcks > 0, "the injection must actually have fired")
    }
  }

  test("duplicate PUT of our own lost-ack write resolves as a win by content read-back") {
    withFlakyRoot(failEveryNth = 1) { (root, store) =>
      // EVERY create loses its ack: publish() must recover each commit via
      // the read-back path (Some(false) → content equality)
      val v1 = ManifestTable.append(spark, root, spark.range(10).toDF("id"))
      assert(v1 == 1L)
      val v2 = ManifestTable.append(spark, root, spark.range(10, 30).toDF("id"))
      assert(v2 == 2L)
      assert(ManifestTable.read(spark, root).count() == 30)
      assert(store.lostAcks >= 2)
    }
  }

  test("a genuine lost race: the loser retries at the next version, no rows lost") {
    withFlakyRoot(failEveryNth = 0) { (root, store) =>
      ManifestTable.append(spark, root, spark.range(10).toDF("id"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fs = (10 to 13).map { i =>
        Future(ManifestTable.append(spark, root,
          spark.range(i * 100L, i * 100L + 10).toDF("id")))
      }
      val versions = fs.map(Await.result(_, 120.seconds))
      assert(versions.toSet.size == 4, "each racer must land its own version")
      assert(ManifestTable.read(spark, root).count() == 50,
        "no committer's files may drop from the lineage")
    }
  }

  test("object-store schemes: refused without an arbiter, admitted with one") {
    val e = intercept[IllegalStateException] {
      ManifestTable.checkCommitScheme(spark, "s3a://bucket/lake/events")
    }
    assert(e.getMessage.contains("not atomic"))
    ManifestTable.installArbiter("s3a://bucket/lake",
      new ConditionalPutArbiter(new FlakyStore(fsOf("/tmp"), 0)))
    try {
      ManifestTable.checkCommitScheme(spark, "s3a://bucket/lake/events") // no throw
      // sibling prefixes stay refused
      intercept[IllegalStateException] {
        ManifestTable.checkCommitScheme(spark, "s3a://bucket/other")
      }
    } finally ManifestTable.uninstallArbiter("s3a://bucket/lake")
  }

  test("torn manifests are impossible: a reader never sees a partial commit") {
    // the arbiter contract says content is fully written before publish
    // returns; verify the fake + arbiter keep it under interleaving by
    // hammering reads during commits
    withFlakyRoot(failEveryNth = 3) { (root, store) =>
      ManifestTable.append(spark, root, spark.range(10).toDF("id"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writer = Future {
        (1 to 5).foreach(i => ManifestTable.append(spark, root,
          spark.range(i * 1000L, i * 1000L + 10).toDF("id")))
      }
      val reader = Future {
        (1 to 20).foreach { _ =>
          val n = ManifestTable.read(spark, root).count()
          assert(n >= 10 && (n - 10) % 10 == 0, s"saw a torn snapshot of $n rows")
        }
      }
      Await.result(writer, 120.seconds); Await.result(reader, 120.seconds)
      assert(ManifestTable.read(spark, root).count() == 60)
    }
  }

  test("RenameArbiter on the local FS: racing publishers of one version, exactly one wins") {
    // exists() stalls after it looks, so both publishers would pass the
    // absent-target check before either renames if the check and the
    // rename were not one atomic step; POSIX rename then overwrites and
    // both report a win
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def exists(f: Path): Boolean = {
        val seen = super.exists(f)
        Thread.sleep(200)
        seen
      }
    }
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val target = new Path(Files.createTempDirectory("rename").toString, "_manifests/v1.manifest")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = Seq("a", "b").map(w =>
      w -> Future(RenameArbiter.publish(fs, target, w.getBytes("UTF-8"))))
    val won = racers.collect { case (w, f) if Await.result(f, 30.seconds) => w }
    assert(won.size == 1, s"publishers that won: $won")
    val published = Files.readAllBytes(java.nio.file.Paths.get(target.toUri.getPath))
    assert(new String(published, "UTF-8") == won.head)
    assert(fs.listStatus(target.getParent).map(_.getPath.getName).toSeq == Seq("v1.manifest"))
  }

  // ---- the concrete Hadoop-FS store (S3A createFile().overwrite(false)
  // shape — what a MinIO/S3 deployment installs)

  test("HadoopConditionalPutStore: conditional create, duplicate PUT, read-back") {
    val dir = Files.createTempDirectory("hstore").toString
    val store = new graft.sources.HadoopConditionalPutStore(fsOf(dir))
    val p = new Path(s"$dir/obj/v1")
    assert(store.read(p).isEmpty)
    assert(store.putIfAbsent(p, "alpha".getBytes("UTF-8")), "first PUT creates")
    assert(!store.putIfAbsent(p, "beta".getBytes("UTF-8")), "second PUT must lose")
    assert(store.read(p).map(new String(_, "UTF-8")).contains("alpha"),
      "the losing PUT must not clobber the committed bytes")
    // arbiter over the store: a retry of OUR OWN bytes resolves as a win,
    // a different writer's bytes as a loss
    val arb = new ConditionalPutArbiter(store)
    val p2 = new Path(s"$dir/obj/v2")
    assert(arb.publish(fsOf(dir), p2, "mine".getBytes("UTF-8")))
    assert(arb.publish(fsOf(dir), p2, "mine".getBytes("UTF-8")), "own duplicate = idempotent win")
    assert(!arb.publish(fsOf(dir), p2, "theirs".getBytes("UTF-8")), "other bytes = lost race")
  }

  test("full ManifestTable lifecycle through the concrete Hadoop store") {
    val root = Files.createTempDirectory("hstore_table").toString + "/t"
    ManifestTable.installArbiter(root,
      new ConditionalPutArbiter(new graft.sources.HadoopConditionalPutStore(fsOf(root))))
    try {
      ManifestTable.append(spark, root, spark.range(100).toDF("id"))
      ManifestTable.append(spark, root, spark.range(100, 150).toDF("id"))
      ManifestTable.merge(spark, root,
        spark.range(140, 160).toDF("id"), Seq("id"))
      assert(ManifestTable.read(spark, root).count() == 160)
      ManifestTable.delete(spark, root, col("id") >= 150)
      assert(ManifestTable.read(spark, root).count() == 150)
      assert(ManifestTable.history(spark, root).count() == 4)
    } finally ManifestTable.uninstallArbiter(root)
  }
}
