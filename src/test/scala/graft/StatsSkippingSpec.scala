package graft

import graft.sources.ManifestTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Per-file column statistics in the manifest (Delta data-skipping
  * parity): collected at stage time, carried across commits with their
  * files, and used by merge localization to skip files whose key range
  * cannot contain a matched key. */
class StatsSkippingSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("stats").toString + "/t"

  /** 4 files, each a contiguous id range of 250 (range-partitioned sort —
    * the layout zorderWrite/compact(zorderBy) produce). */
  private def sortedTable(root: String): Unit = {
    val df = spark.range(1000).toDF("id")
      .withColumn("v", (col("id") * 2).cast("long"))
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
    ManifestTable.append(spark, root, df)
  }

  test("merge localization opens only the files whose key range overlaps the updates") {
    val root = freshRoot()
    sortedTable(root)
    val all = ManifestTable.read(spark, root).inputFiles.length
    assert(all == 4)
    // updates confined to ids 100..119 — one 250-wide range file
    val updates = spark.range(100, 120).toDF("id").withColumn("v", lit(-1L))
    val candidates = ManifestTable.localizationCandidates(spark, root, updates, Seq("id"))
    assert(candidates.length == 1,
      s"stats should prune 3 of 4 range files, got ${candidates.length}")
    // and the merge itself is correct + rewrites only that file
    val before = ManifestTable.read(spark, root).inputFiles.toSet
    ManifestTable.merge(spark, root, updates, Seq("id"))
    val after = ManifestTable.read(spark, root).inputFiles.toSet
    assert(before.intersect(after).size == 3, "three untouched range files carry over")
    val back = ManifestTable.read(spark, root)
    assert(back.filter(col("v") === -1L).count() == 20)
    assert(back.count() == 1000)
  }

  test("updates outside every file's range: no file opened, pure insert") {
    val root = freshRoot()
    sortedTable(root)
    val updates = spark.range(5000, 5010).toDF("id").withColumn("v", lit(7L))
    assert(ManifestTable.localizationCandidates(spark, root, updates, Seq("id")).isEmpty)
    ManifestTable.merge(spark, root, updates, Seq("id"))
    assert(ManifestTable.read(spark, root).count() == 1010)
  }

  test("stats survive carry-over commits and disappear with their files") {
    val root = freshRoot()
    sortedTable(root)
    // an unrelated append must not lose the first commit's stats
    ManifestTable.append(spark, root,
      spark.range(2000, 2100).toDF("id").withColumn("v", lit(0L)).repartition(1))
    val updates = spark.range(100, 120).toDF("id").withColumn("v", lit(-1L))
    val candidates = ManifestTable.localizationCandidates(spark, root, updates, Seq("id"))
    assert(candidates.length == 1, s"carried stats must still prune, got ${candidates.length}")
    // after a delete drops the overlapping file's range entirely, a merge
    // into that range sees no candidates
    ManifestTable.delete(spark, root, col("id") < 250)
    assert(ManifestTable.localizationCandidates(spark, root,
      spark.range(0, 10).toDF("id").withColumn("v", lit(1L)), Seq("id")).isEmpty)
  }

  test("string stats: control characters round-trip escaped; long strings are dropped") {
    val root = freshRoot()
    val df = spark.range(100).toDF("id")
      .withColumn("s", concat(lit("k\t"), lpad(col("id").cast("string"), 3, "0"), lit("\nx")))
    ManifestTable.append(spark, root, df.repartition(1))
    // the table must still read back whole (no torn manifest lines)
    assert(ManifestTable.read(spark, root).count() == 100)
    val updates = spark.range(0, 5).toDF("id")
      .withColumn("s", concat(lit("k\t"), lpad(col("id").cast("string"), 3, "0"), lit("\nx")))
    // prune on the string key: values k\t000..k\t004 are inside the file range
    val c1 = ManifestTable.localizationCandidates(spark, root, updates, Seq("s"))
    assert(c1.length == 1)
    // values beyond the file's max prune everything
    val far = spark.range(0, 5).toDF("id").withColumn("s", lit("zzzz"))
    assert(ManifestTable.localizationCandidates(spark, root, far, Seq("s")).isEmpty)
    // a >64-char string column gets no stats — and is then never pruned
    val root2 = freshRoot()
    ManifestTable.append(spark, root2,
      spark.range(10).toDF("id").withColumn("s", rpad(lit("a"), 100, "b")).repartition(1))
    val u2 = spark.range(10).toDF("id").withColumn("s", lit("zzz"))
    assert(ManifestTable.localizationCandidates(spark, root2, u2, Seq("s")).length == 1,
      "files without stats must never be pruned")
  }

  test("delete localization skips files its predicate provably cannot match") {
    val root = freshRoot()
    sortedTable(root)
    // range predicate: only the first 250-wide file can match
    assert(ManifestTable.deleteCandidates(spark, root, col("id") < 100).length == 1)
    // compound shapes translate too: AND narrows, OR unions, IN points
    assert(ManifestTable.deleteCandidates(spark, root,
      col("id") >= 300 && col("id") < 400).length == 1)
    assert(ManifestTable.deleteCandidates(spark, root,
      col("id") < 100 || col("id") >= 900).length == 2)
    assert(ManifestTable.deleteCandidates(spark, root,
      col("id").isin(10, 600)).length == 2)
    // untranslatable shapes degrade to scanning everything, never skipping
    assert(ManifestTable.deleteCandidates(spark, root,
      pmod(col("id"), lit(7)) === 0).length == 4)
    // and the delete itself only rewrites the file it touched
    val before = ManifestTable.read(spark, root).inputFiles.toSet
    ManifestTable.delete(spark, root, col("id") < 100)
    val after = ManifestTable.read(spark, root).inputFiles.toSet
    assert(before.intersect(after).size == 3, "three out-of-range files carry over")
    assert(ManifestTable.read(spark, root).count() == 900)
  }

  test("exactlyOnceMergeWriter: streaming upsert — duplicates update, replays no-op") {
    val root = freshRoot()
    val write = ManifestTable.exactlyOnceMergeWriter(root, Seq("id"), "cdc", latestBy = Some("seq"))
    def batch(rows: Seq[(Long, Long, String)]) = {
      import spark.implicits._
      rows.toDF("id", "seq", "state")
    }
    // batch 0 bootstraps; contains an in-batch duplicate (id=1) — latest seq wins
    write(batch(Seq((1L, 1L, "a"), (2L, 1L, "a"), (1L, 2L, "b"))), 0L)
    // batch 1: id=2 updates, id=3 inserts
    write(batch(Seq((2L, 3L, "c"), (3L, 3L, "a"))), 1L)
    // crash-recovery replay of batch 1 with DIFFERENT content must be ignored
    write(batch(Seq((2L, 9L, "ZZZ"))), 1L)
    val got = ManifestTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got == Map(1L -> (2L, "b"), 2L -> (3L, "c"), 3L -> (3L, "a")))
  }

  test("empty-string stats round-trip: the manifest line keeps its trailing field") {
    val root = freshRoot()
    // a stats-eligible string column whose min AND max are "" — split on
    // tab without limit -1 would drop the trailing empty field and every
    // later snapshot() would fail to parse the manifest
    ManifestTable.append(spark, root,
      spark.range(10).toDF("id").withColumn("s", lit("")).repartition(1))
    // the table must still accept writes (snapshot parses) and read whole
    ManifestTable.append(spark, root,
      spark.range(10, 20).toDF("id").withColumn("s", lit("x")).repartition(1))
    assert(ManifestTable.read(spark, root).count() == 20)
    // and the empty-string bounds still prune correctly: "" hits only the
    // first file, "zzz" is beyond both maxes and hits nothing
    val emptyProbe = spark.range(3).toDF("id").withColumn("s", lit(""))
    assert(ManifestTable.localizationCandidates(spark, root, emptyProbe, Seq("s")).length == 1)
    val far = spark.range(3).toDF("id").withColumn("s", lit("zzz"))
    assert(ManifestTable.localizationCandidates(spark, root, far, Seq("s")).isEmpty)
  }

  test("timestamp stats skip correctly from a session with a DIFFERENT time zone") {
    val root = freshRoot()
    val df = spark.range(1000).toDF("id")
      .withColumn("ts", expr("timestamp_micros(cast(id * 3600000000 as long))"))
      .withColumn("v", col("id"))
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
    ManifestTable.append(spark, root, df)
    val tzKey = "spark.sql.session.timeZone"
    val old = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/Los_Angeles") // writer used UTC
      // updates confined to one 250-hour range — must localize to 1 file
      // and the merge must REPLACE the matched rows, not duplicate them
      val updates = spark.range(100, 110).toDF("id")
        .withColumn("ts", expr("timestamp_micros(cast(id * 3600000000 as long))"))
        .withColumn("v", lit(-1L))
      val c = ManifestTable.localizationCandidates(spark, root, updates, Seq("ts"))
      assert(c.length == 1, s"TZ-independent timestamp stats must prune 3 of 4, got ${c.length}")
      ManifestTable.merge(spark, root, updates, Seq("ts"))
      val back = ManifestTable.read(spark, root)
      assert(back.count() == 1000, "a mis-skipped file would duplicate matched keys")
      assert(back.filter(col("v") === -1L).count() == 10)
    } finally spark.conf.set(tzKey, old)
  }

  test("includeRemoves fails loud when the partition layout changed inside the range") {
    val root = freshRoot()
    ManifestTable.append(spark, root, rowsWithDay(100), partitionBy = Seq("day"))
    ManifestTable.delete(spark, root, col("id") < 10) // a removal commit
    // layout change: overwrite flattens the table
    ManifestTable.overwrite(spark, root, rowsWithDay(50), overwriteSchema = true)
    val cur = ManifestTable.currentVersion(spark, root).get
    val e = intercept[IllegalStateException] {
      ManifestTable.changesBetween(spark, root, 1, cur, includeRemoves = true).count()
    }
    assert(e.getMessage.contains("layout"))
  }

  private def rowsWithDay(n: Int) =
    spark.range(n).toDF("id")
      .withColumn("day", concat(lit("2024-01-0"), (pmod(col("id"), lit(4)) + 1).cast("string")).cast("date"))
      .withColumn("v", (col("id") * 10).cast("long"))

  // --- read-time data skipping ----------------------------------------

  test("readWhere opens only may-match files: range, compound, IN; degrades soundly") {
    val root = freshRoot()
    sortedTable(root)
    // range: one 250-wide file
    assert(ManifestTable.readCandidates(spark, root, col("id") < 100).length == 1)
    // compound AND narrows to one file; OR unions the two end files
    assert(ManifestTable.readCandidates(spark, root,
      col("id") >= 300 && col("id") < 400).length == 1)
    assert(ManifestTable.readCandidates(spark, root,
      col("id") < 100 || col("id") >= 900).length == 2)
    // IN hits exactly the files containing its points
    assert(ManifestTable.readCandidates(spark, root,
      col("id").isin(10, 600)).length == 2)
    // a predicate mixing a translatable and an opaque conjunct still
    // prunes on the translatable half
    assert(ManifestTable.readCandidates(spark, root,
      col("id") < 100 && pmod(col("v"), lit(7)) === 0).length == 1)
    // untranslatable shapes degrade to opening everything, never skipping
    assert(ManifestTable.readCandidates(spark, root,
      pmod(col("id"), lit(7)) === 0).length == 4)
    // and the filtered read is row-identical to read().filter(pred)
    val pred = col("id") >= 300 && col("id") < 400
    val got = ManifestTable.readWhere(spark, root, pred)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ManifestTable.read(spark, root).filter(pred)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.size == 100)
    // the physical scan really reads only the surviving file
    assert(ManifestTable.readWhere(spark, root, pred).inputFiles.length == 1)
  }

  test("readWhere prunes hive partitions at the manifest layer") {
    val root = freshRoot()
    ManifestTable.append(spark, root, rowsWithDay(100), partitionBy = Seq("day"))
    val total = ManifestTable.read(spark, root).inputFiles.length
    // partition-only conjunct: only day=2024-01-01 files survive
    val c = ManifestTable.readCandidates(spark, root,
      col("day") === lit("2024-01-01").cast("date") && col("v") >= 0)
    assert(c.nonEmpty && c.length < total, s"expected a strict partition prune, got $c")
    assert(c.forall(_.contains("day=2024-01-01")))
    val got = ManifestTable.readWhere(spark, root,
      col("day") === lit("2024-01-01").cast("date")).count()
    assert(got == 25)
    // a disjunction crossing partition and data columns must NOT prune
    // on the partition column (sound degradation)
    val mixed = ManifestTable.readCandidates(spark, root,
      col("day") === lit("2024-01-01").cast("date") || col("v") === 10L)
    assert(mixed.length == total)
  }

  test("null-count skipping: IS NULL / IS NOT NULL / all-null files") {
    // 4 range files over id; v is NULL for ids 250..374 (file 2, HALF
    // null) and for ALL of ids 750..999 (file 4, all-null)
    val root = freshRoot()
    val df = spark.range(1000).toDF("id")
      .withColumn("v", when(
        (col("id") >= 250 && col("id") < 375) || col("id") >= 750,
        lit(null).cast("long")).otherwise(col("id") * 10))
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
    ManifestTable.append(spark, root, df)
    assert(ManifestTable.read(spark, root).inputFiles.length == 4)
    // IS NULL: only the two files that contain nulls
    val nul = ManifestTable.readCandidates(spark, root, col("v").isNull)
    assert(nul.length == 2, s"expected the two null-bearing files, got $nul")
    assert(ManifestTable.readWhere(spark, root, col("v").isNull).count() == 375)
    // IS NOT NULL: the all-null file is out, the half-null file stays
    val notNul = ManifestTable.readCandidates(spark, root, col("v").isNotNull)
    assert(notNul.length == 3, s"the all-null file must be pruned, got $notNul")
    assert(ManifestTable.readWhere(spark, root, col("v").isNotNull).count() == 625)
    // a value comparison cannot match the all-null file either, even
    // though that file stores NO bounds for v: ids 750..999 would carry
    // v in 7500..9990 had they been non-null — no candidate may survive
    assert(ManifestTable.readCandidates(spark, root, col("v") === 7600L).isEmpty)
    // compound: range ∧ not-null still prunes on both dimensions
    val mixed = ManifestTable.readCandidates(spark, root,
      col("v").isNotNull && col("id") >= 500)
    assert(mixed.length == 1, s"file 3 only, got $mixed")
    // rows are never lost to pruning
    assert(ManifestTable.readWhere(spark, root,
      col("v").isNotNull && col("id") >= 500).count() == 250)
  }

  test("4-field stat lines (pre-null-count manifests) degrade soundly") {
    val root = freshRoot()
    sortedTable(root)
    val v = ManifestTable.currentVersion(spark, root).get
    // rewrite the committed manifest with the null/row counts stripped —
    // byte-level simulation of a manifest written before the format grew
    // its count fields
    val mPath = java.nio.file.Paths.get(root, "_manifests", f"v$v%020d.manifest")
    val lines = java.nio.file.Files.readAllLines(mPath).toArray.map(_.toString)
    val truncated = lines.map { l =>
      if (l.startsWith("# stats:")) l.split("\t", -1).take(5).mkString("\t") else l
    }
    java.nio.file.Files.write(mPath, truncated.mkString("\n").getBytes("UTF-8"))
    // local-FS checksum sidecar now mismatches the edited bytes
    java.nio.file.Files.deleteIfExists(
      mPath.getParent.resolve("." + mPath.getFileName.toString + ".crc"))
    // bounds-based pruning still works off the 4-field lines...
    assert(ManifestTable.readCandidates(spark, root, col("id") < 100).length == 1)
    // ...and null-count shapes degrade to opening everything (counts
    // unknown), never to wrong pruning
    assert(ManifestTable.readCandidates(spark, root, col("v").isNull).length == 4)
    assert(ManifestTable.readCandidates(spark, root, col("v").isNotNull).length == 4)
    assert(ManifestTable.readWhere(spark, root, col("id") < 100).count() == 100)
  }

  test("non-deterministic partition conjuncts never prune (sound guard)") {
    val root = freshRoot()
    ManifestTable.append(spark, root, rowsWithDay(100), partitionBy = Seq("day"))
    val total = ManifestTable.read(spark, root).inputFiles.length
    // unix_date(day) < rand() is false for every row AND every partition
    // tuple — but pruning evaluates rand() once per tuple while the
    // row-level re-filter draws per row, so acting on it would be
    // unsound in general; the guard must skip the conjunct entirely
    val nd = ManifestTable.readCandidates(spark, root,
      unix_date(col("day")) < rand())
    assert(nd.length == total,
      s"non-deterministic conjunct must not prune: $nd vs $total files")
    // ... and a deterministic conjunct alongside it still prunes
    val mixed = ManifestTable.readCandidates(spark, root,
      col("day") === lit("2024-01-01").cast("date") && unix_date(col("day")) > rand())
    assert(mixed.nonEmpty && mixed.forall(_.contains("day=2024-01-01")))
    // the guard itself, both verdicts
    val probe = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType)))
    assert(!graft.sources.SkippingKernel.usable(
      graft.sources.SkippingKernel.resolve(spark, col("x") > rand(), probe)))
    assert(graft.sources.SkippingKernel.usable(
      graft.sources.SkippingKernel.resolve(spark, col("x") > 1, probe)))
  }

  test("readWhere on a version pin skips against THAT version's stats") {
    val root = freshRoot()
    sortedTable(root)            // v1: ids 0..999 in 4 range files
    ManifestTable.delete(spark, root, col("id") < 250) // v2 drops file 1
    assert(ManifestTable.readCandidates(spark, root, col("id") < 100).isEmpty)
    val pinned = ManifestTable.readCandidates(spark, root, col("id") < 100, version = Some(1L))
    assert(pinned.length == 1, "the pinned version still holds the pruned-away range")
    assert(ManifestTable.readWhere(spark, root, col("id") < 100, version = Some(1L)).count() == 100)
    assert(ManifestTable.readWhere(spark, root, col("id") < 100).count() == 0)
  }

  test("compacted files get fresh stats; merge pruning still works after compaction") {
    val root = freshRoot()
    sortedTable(root)
    ManifestTable.compact(spark, root, targetFileMb = 1)
    val updates = spark.range(100, 120).toDF("id").withColumn("v", lit(-1L))
    val candidates = ManifestTable.localizationCandidates(spark, root, updates, Seq("id"))
    val total = ManifestTable.read(spark, root).inputFiles.length
    assert(candidates.length <= total)
    ManifestTable.merge(spark, root, updates, Seq("id"))
    val back = ManifestTable.read(spark, root)
    assert(back.filter(col("v") === -1L).count() == 20 && back.count() == 1000)
  }
}
