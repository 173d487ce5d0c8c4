package graft

import graft.sources.{ConditionalPutArbiter, ConditionalPutStore, ManifestTable}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Row-level DML isolation: MERGE, DELETE and UPDATE (copy-on-write and
  * deletion-vector forms) share one optimistic protocol, pinned here by
  * a property over deterministic two-writer races — writer B runs to
  * completion just before writer A publishes its manifest, under both
  * commit arbiters — plus the protocol's manifest-load and
  * SQL-execution budgets. */
class RowLevelIsolationSpec extends SparkSpec {

  private type Row3 = (Long, Int, Long) // id, k, v

  private def rowsDf(rows: Seq[Row3]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "k", "v").coalesce(1)
  }

  private def tableRows(root: String): Vector[Row3] =
    ManifestTable.read(spark, root).select("id", "k", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toVector.sorted

  // ------------------------------------------------------------ writers

  /** One writer's operation and its effect on the in-memory row model. */
  private sealed trait Op {
    def run(root: String): Unit
    def model(rows: Vector[Row3]): Vector[Row3]
  }

  private final case class Append(rows: Seq[Row3]) extends Op {
    def run(root: String): Unit = { ManifestTable.append(spark, root, rowsDf(rows)); () }
    def model(t: Vector[Row3]): Vector[Row3] = t ++ rows
  }

  /** Keyed upsert on `id`; rows whose `tomb` is true delete their match. */
  private final case class Merge(src: Seq[(Long, Int, Long, Boolean)], tombstones: Boolean)
      extends Op {
    def run(root: String): Unit = {
      val s = spark
      import s.implicits._
      val df = src.toDF("id", "k", "v", "tomb")
      if (tombstones) ManifestTable.merge(spark, root, df, Seq("id"), deleteCol = Some("tomb"))
      else ManifestTable.merge(spark, root, df.drop("tomb"), Seq("id"))
      ()
    }
    def model(t: Vector[Row3]): Vector[Row3] = {
      val keys = src.map(_._1).toSet
      t.filterNot(r => keys(r._1)) ++
        src.filterNot(r => tombstones && r._4).map(r => (r._1, r._2, r._3))
    }
  }

  /** `k = key OR v < below`. */
  private final case class Pred(key: Int, below: Long) {
    def column = col("k") === key || col("v") < below
    def apply(r: Row3): Boolean = r._2 == key || r._3 < below
  }

  private final case class Delete(p: Pred) extends Op {
    def run(root: String): Unit = { ManifestTable.delete(spark, root, p.column); () }
    def model(t: Vector[Row3]): Vector[Row3] = t.filterNot(p(_))
  }

  private final case class Update(p: Pred, add: Long) extends Op {
    def run(root: String): Unit = {
      ManifestTable.update(spark, root, p.column, Map("v" -> (col("v") + add)))
      ()
    }
    def model(t: Vector[Row3]): Vector[Row3] =
      t.map(r => if (p(r)) (r._1, r._2, r._3 + add) else r)
  }

  private case object Compact extends Op {
    def run(root: String): Unit = { ManifestTable.compact(spark, root); () }
    def model(t: Vector[Row3]): Vector[Row3] = t
  }

  /** A random table of ≤ 4 single-file appends (≤ 200 rows) and a random
    * writer drawn from every row-level verb, append and compact. */
  private final class Case(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    val dv: Boolean = rnd.nextBoolean()
    val files: Seq[Seq[Row3]] = {
      var next = 0L
      Seq.fill(2 + rnd.nextInt(3)) {
        Seq.fill(5 + rnd.nextInt(25)) { next += 1; (next, rnd.nextInt(4), next * 10) }
      }
    }
    private val maxId = files.flatten.map(_._1).max
    private def pred() = Pred(rnd.nextInt(4), rnd.nextInt((maxId * 10).toInt / 2).toLong)
    private def ids(n: Int): Seq[Long] =
      rnd.shuffle((1L to maxId + 20).toVector).take(n)
    def writer(): Op = rnd.nextInt(7) match {
      case 0 => Append(ids(1 + rnd.nextInt(5)).map(i => (i, rnd.nextInt(4), 7000 + i)))
      case 1 | 2 =>
        val tomb = rnd.nextBoolean()
        Merge(ids(1 + rnd.nextInt(8)).map(i =>
          (i, rnd.nextInt(4), 9000 + i, tomb && rnd.nextBoolean())), tomb)
      case 3 | 4 => Delete(pred())
      case 5 => Update(pred(), 100000L * (1 + rnd.nextInt(9)))
      case _ => Compact
    }
    val a: Op = writer()
    val b: Op = writer()
  }

  /** An object-store fake whose conditional PUT first runs a one-shot
    * hook — the moment just before a manifest is published. */
  private final class HookedStore(fs: FileSystem) extends ConditionalPutStore {
    private val lock = new Object
    @volatile var hook: Option[() => Unit] = None
    def putIfAbsent(path: Path, content: Array[Byte]): Boolean = {
      val h = hook
      hook = None
      h.foreach(_())
      lock.synchronized {
        if (fs.exists(path)) false
        else {
          val tmp = new Path(path.getParent, s".put-${java.util.UUID.randomUUID()}")
          fs.mkdirs(path.getParent)
          val out = fs.create(tmp, false)
          try out.write(content) finally out.close()
          require(fs.rename(tmp, path))
          true
        }
      }
    }
    def read(path: Path): Option[Array[Byte]] = lock.synchronized {
      if (!fs.exists(path)) None
      else {
        val in = fs.open(path)
        try Some(in.readAllBytes()) finally in.close()
      }
    }
  }

  /** A fresh table root plus a way to arm "run this before the next
    * manifest publish" for it, under one of the two arbiters. */
  private trait Arbiter {
    def withRoot[A](f: (String, (=> Unit) => Unit) => A): A
  }

  private object RenameHooked extends Arbiter {
    def withRoot[A](f: (String, (=> Unit) => Unit) => A): A = {
      val dir = Files.createTempDirectory("rowlevel_rename").toString + "/t"
      try f("graftfs:" + dir, hook => GraftTestFs.beforeNextPublish(dir)(hook))
      finally GraftTestFs.clearPublishHook(dir)
    }
  }

  private object ConditionalPutHooked extends Arbiter {
    def withRoot[A](f: (String, (=> Unit) => Unit) => A): A = {
      val root = Files.createTempDirectory("rowlevel_cput").toString + "/t"
      val store = new HookedStore(
        FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration))
      ManifestTable.installArbiter(root, new ConditionalPutArbiter(store))
      try f(root, hook => store.hook = Some(() => hook))
      finally ManifestTable.uninstallArbiter(root)
    }
  }

  /** Outcome of one race: the ops that committed (in some order) and the
    * final table. A's abort is allowed only for compaction, which
    * refuses to run over a concurrent rewrite. */
  private def race(arbiter: Arbiter, c: Case): (Seq[Op], Vector[Row3], Boolean) =
    arbiter.withRoot { (root, beforePublish) =>
      c.files.foreach(f => ManifestTable.append(spark, root, rowsDf(f)))
      if (c.dv) ManifestTable.setProperty(spark, root, ManifestTable.DvProperty, "true")
      var bRan: Option[scala.util.Try[Unit]] = None
      var armed = true // a hook A never fired must not fire inside B
      beforePublish { if (armed) { armed = false; bRan = Some(scala.util.Try(c.b.run(root))) } }
      val aRan = scala.util.Try(c.a.run(root))
      armed = false
      val raced = bRan.isDefined
      if (!raced) bRan = Some(scala.util.Try(c.b.run(root)))
      aRan.failed.foreach { e =>
        assert(c.a == Compact && e.getMessage.contains("compaction aborted"),
          s"writer A ${c.a} failed: $e")
      }
      bRan.get.failed.foreach(e => fail(s"writer B ${c.b} failed: $e"))
      (Seq(c.a).filter(_ => aRan.isSuccess) :+ c.b, tableRows(root), raced)
    }

  private val Cases = 24

  Seq("RenameArbiter" -> RenameHooked, "ConditionalPutArbiter" -> ConditionalPutHooked)
    .foreach { case (name, arbiter) =>
      test(s"two racing writers under $name: the table is some serial order of the commits") {
        var raced = 0
        (1 to Cases).foreach { seed =>
          val c = new Case(seed.toLong)
          val (committed, got, r) = race(arbiter, c)
          if (r) raced += 1
          val initial = c.files.flatten.toVector
          val serial = committed.permutations.map(_.foldLeft(initial)((t, op) => op.model(t)).sorted)
            .toSeq
          assert(serial.contains(got),
            s"seed $seed (dv=${c.dv}): A=${c.a} B=${c.b} committed $committed — table $got " +
              s"matches no serial order of ${serial.mkString(" / ")}")
        }
        assert(raced >= Cases / 2, s"only $raced of $Cases cases raced")
      }
    }

  test("SQL MERGE narrows its source against the snapshot each attempt commits over") {
    RenameHooked.withRoot { (root, beforePublish) =>
      val s = spark
      import s.implicits._
      ManifestTable.append(spark, root, (0L until 10L).map(i => (i, i * 10)).toDF("id", "v"))
      Seq((5L, 999L), (100L, 1L)).toDF("id", "v").createOrReplaceTempView("race_src")
      // another writer inserts key 100 after the MERGE computed its
      // matched flags and before it publishes
      beforePublish {
        ManifestTable.append(spark, root, Seq((100L, 7L)).toDF("id", "v")); ()
      }
      spark.sql(s"""MERGE INTO graft.`$root` t USING race_src s ON t.id = s.id
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val got = ManifestTable.read(spark, root).as[(Long, Long)].collect().sorted.toSeq
      val base = (0L until 10L).map(i => (i, i * 10))
      // merge-then-append holds both rows for key 100; append-then-merge
      // holds only the appended one (the key is matched, so no insert)
      val serial = Seq((base :+ ((100L, 1L)) :+ ((100L, 7L))).sorted, (base :+ ((100L, 7L))).sorted)
      assert(serial.contains(got), s"no serial order gives $got")
    }
  }

  test("MERGE, DELETE and UPDATE each load the manifest once before their first attempt") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("rowlevel_opens").toString + "/t"
    val root = "graftfs:" + dir
    ManifestTable.append(spark, root, (0L until 40L).map(i => (i, i * 10)).toDF("id", "v"))
    ManifestTable.append(spark, root, (40L until 60L).map(i => (i, i * 10)).toDF("id", "v"))
    def manifestOpens(body: => Any): Int =
      GraftTestFs.opensDuring(body).count(p => p.startsWith(dir) && p.endsWith(".manifest"))
    val merge = manifestOpens(ManifestTable.merge(spark, root,
      Seq((5L, 1L), (70L, 2L)).toDF("id", "v"), Seq("id")))
    val delete = manifestOpens(ManifestTable.delete(spark, root, col("id") === 6L))
    val update = manifestOpens(ManifestTable.update(spark, root, col("id") === 7L,
      Map("v" -> lit(3L))))
    // one load before the first attempt, one for the commit's freshness check
    assert((merge, delete, update) == ((2, 2, 2)),
      s"manifest opens: merge $merge, delete $delete, update $update")
  }

  test("MERGE's SQL executions: keyed MERGE with stats, pure-insert MERGE") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("rowlevel_execs").toString + "/t"
    ManifestTable.append(spark, root, (0L until 100L).map(i => (i, i * 10)).toDF("id", "v"))
    ManifestTable.append(spark, root, (100L until 200L).map(i => (i, i * 10)).toDF("id", "v"))
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        { executions.incrementAndGet(); () }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = { executions.incrementAndGet(); () }
    }
    def count(body: => Any): Int = {
      org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(spark.sparkContext)
      executions.set(0)
      body
      org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(spark.sparkContext)
      executions.get()
    }
    spark.listenerManager.register(listener)
    try {
      val keyed = count(ManifestTable.merge(spark, root,
        Seq((5L, 1L), (150L, 2L), (300L, 3L)).toDF("id", "v"), Seq("id")))
      val inserts = count(ManifestTable.merge(spark, root,
        Seq((500L, 1L), (501L, 2L)).toDF("id", "v"), Seq("id")))
      // keyed: uniqueness check, key bounds, localization, rewrite;
      // pure insert: the localization scan is pruned away by stats
      assert((keyed, inserts) == ((4, 3)), s"SQL executions: keyed $keyed, inserts $inserts")
    } finally spark.listenerManager.unregister(listener)
    assert(ManifestTable.read(spark, root).count() == 203)
  }
}
