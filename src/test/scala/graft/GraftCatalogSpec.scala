package graft

import graft.sources.ManifestTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The SQL face: `graft` catalog DDL/DML and time travel resolve onto
  * ManifestTable with the same scan path (pruning + stats skipping) as
  * the DataFrame face. */
class GraftCatalogSpec extends SparkSpec {

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft_wh").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", dir)
    dir
  }

  private def freshPath(): String =
    Files.createTempDirectory("gcat").toString + "/t"

  test("CREATE TABLE / INSERT INTO / SELECT / DROP on warehouse tables") {
    wh
    spark.sql("CREATE TABLE graft.events_t (id BIGINT, kind STRING) PARTITIONED BY (kind)")
    assert(spark.sql("SELECT * FROM graft.events_t").count() == 0, "empty after CREATE")
    spark.sql("INSERT INTO graft.events_t VALUES (1, 'click'), (2, 'view'), (3, 'click')")
    assert(spark.sql("SELECT count(*) AS n FROM graft.events_t").head.getLong(0) == 3)
    // the INSERT was a manifest commit under the declared layout
    val root = s"$wh/events_t"
    assert(ManifestTable.currentVersion(spark, root).isDefined)
    assert(ManifestTable.read(spark, root).columns.toSeq == Seq("id", "kind"))
    spark.sql("INSERT INTO graft.events_t VALUES (4, 'view')")
    assert(spark.sql("SELECT count(*) AS n FROM graft.events_t WHERE kind = 'view'")
      .head.getLong(0) == 2)
    // INSERT OVERWRITE replaces contents, keeps the layout
    spark.sql("INSERT OVERWRITE graft.events_t VALUES (9, 'click')")
    assert(spark.sql("SELECT id FROM graft.events_t").head.getLong(0) == 9)
    assert(ManifestTable.snapshot(spark, root).layout == Seq("kind"))
    // SHOW TABLES sees it; DROP removes data (managed table)
    assert(spark.sql("SHOW TABLES IN graft").collect().map(_.getString(1)).contains("events_t"))
    spark.sql("DROP TABLE graft.events_t")
    assert(!new java.io.File(root).exists())
  }

  test("SELECT VERSION AS OF / TIMESTAMP AS OF time travel") {
    wh
    spark.sql("CREATE TABLE graft.tt (id BIGINT)")
    spark.sql("INSERT INTO graft.tt VALUES (1), (2)")
    val root = s"$wh/tt"
    val v2 = ManifestTable.currentVersion(spark, root).get
    spark.sql("INSERT INTO graft.tt VALUES (3)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.tt").head.getLong(0) == 3)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.tt VERSION AS OF $v2")
      .head.getLong(0) == 2)
    // TIMESTAMP AS OF a future literal = the latest version (the spelling
    // must be a literal: a non-foldable expression defers resolution one
    // iteration and ResolveSQLOnFile then intercepts the graft.* name)
    assert(spark.sql("SELECT count(*) AS n FROM graft.tt TIMESTAMP AS OF '2100-01-01 00:00:00'")
      .head.getLong(0) == 3)
    spark.sql("DROP TABLE graft.tt")
  }

  test("CTAS, ALTER TABLE properties, and RENAME") {
    wh
    spark.sql("CREATE TABLE graft.src AS SELECT id FROM range(10)")
    assert(spark.sql("SELECT sum(id) AS s FROM graft.src").head.getLong(0) == 45)
    spark.sql("ALTER TABLE graft.src SET TBLPROPERTIES ('graft.owner' = 'etl')")
    assert(ManifestTable.properties(spark, s"$wh/src")("graft.owner") == "etl")
    spark.sql("ALTER TABLE graft.src UNSET TBLPROPERTIES ('graft.owner')")
    assert(!ManifestTable.properties(spark, s"$wh/src").contains("graft.owner"))
    // RENAME TO takes an identifier WITHIN the catalog (no catalog prefix)
    spark.sql("ALTER TABLE graft.src RENAME TO dst")
    assert(spark.sql("SELECT count(*) AS n FROM graft.dst").head.getLong(0) == 10)
    assert(!spark.sql("SHOW TABLES IN graft").collect().map(_.getString(1)).contains("src"))
    spark.sql("DROP TABLE graft.dst")
  }

  test("path tables: SELECT on graft.`root`, writes commit, DROP refuses") {
    val root = freshPath()
    ManifestTable.append(spark, root,
      spark.range(20).toDF("id").withColumn("k", (col("id") % 2).cast("int")),
      partitionBy = Seq("k"))
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root`").head.getLong(0) == 20)
    spark.sql(s"INSERT INTO graft.`$root` VALUES (100, 0)")
    assert(ManifestTable.read(spark, root).count() == 21)
    // SQL reads ride the pruned scan path: partition filter prunes files
    val pruned = spark.sql(s"SELECT id FROM graft.`$root` WHERE k = 1")
    assert(pruned.count() == 10)
    // a path table is external: DROP refuses to delete data
    intercept[Exception] { spark.sql(s"DROP TABLE graft.`$root`") }
    assert(ManifestTable.currentVersion(spark, root).isDefined)
  }

  test("SQL DELETE and UPDATE run the copy-on-write verbs, CDC captured") {
    val root = freshPath()
    ManifestTable.append(spark, root,
      spark.range(100).toDF("id").withColumn("v", col("id") * 10))
    ManifestTable.setProperty(spark, root, ManifestTable.CdcProperty, "true")

    spark.sql(s"DELETE FROM graft.`$root` WHERE id >= 90")
    assert(ManifestTable.read(spark, root).count() == 90)
    val vDel = ManifestTable.currentVersion(spark, root).get
    val delFeed = ManifestTable.readChangeFeed(spark, root, vDel - 1, vDel)
    assert(delFeed.filter(col("_change_type") === "delete").count() == 10,
      "SQL DELETE must capture CDC rows like the programmatic verb")

    spark.sql(s"UPDATE graft.`$root` SET v = v + 1 WHERE id < 5")
    val updated = ManifestTable.read(spark, root).filter(col("id") < 5)
      .select(sum("v")).head.getLong(0)
    assert(updated == (0 until 5).map(_ * 10 + 1).sum, "SET evaluated over the OLD row")
    val vUpd = ManifestTable.currentVersion(spark, root).get
    assert(ManifestTable.readChangeFeed(spark, root, vUpd - 1, vUpd)
      .filter(col("_change_type") === "update_postimage").count() == 5)

    // a DELETE with no condition match commits nothing
    val before = ManifestTable.currentVersion(spark, root).get
    spark.sql(s"DELETE FROM graft.`$root` WHERE id > 100000")
    assert(ManifestTable.currentVersion(spark, root).get == before)

    // warehouse-table spelling works identically
    wh
    spark.sql("CREATE TABLE graft.dml_t AS SELECT id FROM range(10)")
    spark.sql("DELETE FROM graft.dml_t WHERE id % 2 = 0")
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml_t").head.getLong(0) == 5)
    spark.sql("UPDATE graft.dml_t SET id = id * 100")
    assert(spark.sql("SELECT min(id) AS m FROM graft.dml_t").head.getLong(0) == 100)
    spark.sql("DROP TABLE graft.dml_t")

    // unsupported subquery shapes fail loud naming the programmatic path
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`$root` WHERE (id, v) IN (SELECT id, v FROM graft.`$root` WHERE v > 500)")
    }
    assert(e.getMessage.contains("ManifestTable"), s"got: ${e.getMessage.take(300)}")
  }

  test("SQL DML subqueries: IN, NOT IN, EXISTS, NOT EXISTS, scalar") {
    import spark.implicits._
    val root = freshPath()
    ManifestTable.append(spark, root,
      spark.range(100).toDF("id").withColumn("v", col("id") * 10))
    // aux keys under a DIFFERENT column name (aid): an unqualified outer
    // reference in the subquery then resolves to the target table, not
    // shadowed by the inner scope
    val aux = freshPath()
    ManifestTable.append(spark, aux,
      Seq(90L, 95L, 99L, 1000L).toDF("aid"))

    // IN (uncorrelated subquery over another graft table)
    spark.sql(s"DELETE FROM graft.`$root` WHERE id IN (SELECT aid FROM graft.`$aux`)")
    assert(ManifestTable.read(spark, root).count() == 97)
    assert(ManifestTable.read(spark, root)
      .filter(col("id").isin(90L, 95L, 99L)).count() == 0)

    // EXISTS with single-equality correlation (+ an inner condition)
    spark.sql(
      s"""UPDATE graft.`$root` SET v = -1
         |WHERE EXISTS (SELECT 1 FROM graft.`$aux` a WHERE a.aid = id AND a.aid < 2000)""".stripMargin)
    // the three matching ids were already deleted, so nothing matches now
    assert(ManifestTable.read(spark, root).filter(col("v") === -1).count() == 0)
    // re-seed a matching row and prove the update fires
    ManifestTable.append(spark, root,
      Seq((1000L, 0L)).toDF("id", "v"))
    spark.sql(
      s"""UPDATE graft.`$root` SET v = -1
         |WHERE EXISTS (SELECT 1 FROM graft.`$aux` a WHERE a.aid = id AND a.aid < 2000)""".stripMargin)
    assert(ManifestTable.read(spark, root).filter(col("v") === -1)
      .select("id").as[Long].collect().toSeq == Seq(1000L))

    // NOT EXISTS deletes the complement
    spark.sql(
      s"DELETE FROM graft.`$root` WHERE NOT EXISTS (SELECT 1 FROM graft.`$aux` a WHERE a.aid = id)")
    assert(ManifestTable.read(spark, root).select("id").as[Long].collect().toSeq == Seq(1000L))

    // scalar subquery in condition AND in SET value
    ManifestTable.append(spark, root, Seq((5L, 50L)).toDF("id", "v"))
    spark.sql(
      s"""UPDATE graft.`$root` SET v = (SELECT max(aid) FROM graft.`$aux`)
         |WHERE id < (SELECT min(aid) FROM graft.`$aux`)""".stripMargin)
    assert(ManifestTable.read(spark, root).filter(col("id") === 5)
      .select("v").as[Long].head() == 1000L)

    // NOT IN: SQL three-valued semantics — a NULL in the subquery values
    // makes NOT IN never-true, so the delete removes nothing
    val nullAux = freshPath()
    ManifestTable.append(spark, nullAux,
      Seq(Some(1000L), None).toDF("aid"))
    spark.sql(s"DELETE FROM graft.`$root` WHERE id NOT IN (SELECT aid FROM graft.`$nullAux`)")
    assert(ManifestTable.read(spark, root).count() == 2,
      "NOT IN over a null-bearing list must delete nothing (SQL semantics)")

    // EMPTY subquery: IN (∅) is FALSE → deletes nothing; NOT IN (∅) is
    // TRUE → deletes everything; EXISTS over a no-match correlation noop
    spark.sql(s"DELETE FROM graft.`$root` WHERE id IN (SELECT aid FROM graft.`$aux` WHERE aid < 0)")
    assert(ManifestTable.read(spark, root).count() == 2, "IN empty deletes nothing")
    spark.sql(
      s"""UPDATE graft.`$root` SET v = 7
         |WHERE EXISTS (SELECT 1 FROM graft.`$aux` a WHERE a.aid = id AND a.aid < 0)""".stripMargin)
    assert(ManifestTable.read(spark, root).filter(col("v") === 7).count() == 0,
      "EXISTS with empty inner matches nothing")
    spark.sql(s"DELETE FROM graft.`$root` WHERE id NOT IN (SELECT aid FROM graft.`$aux` WHERE aid < 0)")
    assert(ManifestTable.read(spark, root).count() == 0, "NOT IN empty deletes everything")
  }

  test("SQL MERGE INTO: upsert, clause narrowing, and tombstone deletes") {
    import spark.implicits._
    val root = freshPath()
    ManifestTable.append(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    Seq((2L, "B"), (4L, "d")).toDF("id", "s").createOrReplaceTempView("m_src")

    // canonical upsert: UPDATE SET * + INSERT *
    spark.sql(s"""MERGE INTO graft.`$root` t USING m_src s ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = ManifestTable.read(spark, root).as[(Long, String)].collect().sortBy(_._1)
    assert(after.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))

    // UPDATE-only: unmatched source rows are NOT inserted
    Seq((4L, "D"), (99L, "zz")).toDF("id", "s").createOrReplaceTempView("m_upd")
    spark.sql(s"""MERGE INTO graft.`$root` t USING m_upd s ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val upd = ManifestTable.read(spark, root).as[(Long, String)].collect().sortBy(_._1)
    assert(upd.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")),
      s"99 must not appear: ${upd.toSeq}")

    // INSERT-only: matched rows untouched
    Seq((4L, "XXX"), (5L, "e")).toDF("id", "s").createOrReplaceTempView("m_ins")
    spark.sql(s"""MERGE INTO graft.`$root` t USING m_ins s ON t.id = s.id
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val ins = ManifestTable.read(spark, root).as[(Long, String)].collect().sortBy(_._1)
    assert(ins.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D"), (5L, "e")))

    // CDC-style: delete tombstones + upsert in one statement; an
    // unmatched row carrying the delete marker still INSERTs (Delta
    // clause semantics: the condition gates only the matched DELETE)
    Seq((1L, "del", true), (5L, "E", false), (6L, "f", false), (7L, "del?", true))
      .toDF("id", "s", "tomb").createOrReplaceTempView("m_cdc")
    spark.sql(s"""MERGE INTO graft.`$root` t USING (SELECT id, s, tomb FROM m_cdc) s ON t.id = s.id
                 |WHEN MATCHED AND s.tomb THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET t.id = s.id, t.s = s.s
                 |WHEN NOT MATCHED THEN INSERT (id, s) VALUES (s.id, s.s)""".stripMargin)
    val cdc = ManifestTable.read(spark, root).as[(Long, String)].collect().sortBy(_._1)
    assert(cdc.toSeq == Seq((2L, "B"), (3L, "c"), (4L, "D"), (5L, "E"), (6L, "f"), (7L, "del?")),
      s"got ${cdc.toSeq}")

    // unsupported shapes fail loud with the programmatic alternative
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO graft.`$root` t USING m_src s ON t.id = s.id
                   |WHEN MATCHED THEN UPDATE SET t.s = concat(s.s, '!')""".stripMargin)
    }
    assert(e.getMessage.contains("keyed upsert"), e.getMessage.take(200))
  }

  test("SQL OPTIMIZE / VACUUM / DESCRIBE HISTORY manage the table lifecycle") {
    import spark.implicits._
    val root = freshPath()
    // many small commits → many small files
    (0 until 4).foreach { i =>
      ManifestTable.append(spark, root,
        spark.range(i * 10, i * 10 + 10).toDF("id")
          .withColumn("k", (col("id") % 2).cast("int")))
    }
    val filesBefore = ManifestTable.read(spark, root)
      .select(org.apache.spark.sql.functions.input_file_name()).distinct().count()

    // OPTIMIZE compacts to fewer files, preserving rows
    val opt = spark.sql(s"OPTIMIZE graft.`$root`").collect()
    assert(opt.length == 1 && opt(0).getString(0) == root)
    assert(ManifestTable.read(spark, root).count() == 40)
    val filesAfter = ManifestTable.read(spark, root)
      .select(org.apache.spark.sql.functions.input_file_name()).distinct().count()
    assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")

    // DESCRIBE HISTORY: newest first, compact marked dataChange=false
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$root`").collect()
    assert(hist.length == 5)
    assert(hist.head.getString(2) == "compact" && !hist.head.getBoolean(3))
    assert(hist.map(_.getLong(0)).toSeq == hist.map(_.getLong(0)).toSeq.sorted.reverse)

    // VACUUM DRY RUN counts reclaimable files without touching them
    val dry = spark.sql(s"VACUUM graft.`$root` RETAIN 0 HOURS DRY RUN").collect()(0)
    assert(dry.getInt(1) > 0 && dry.getBoolean(2))
    assert(spark.sql(s"DESCRIBE HISTORY graft.`$root`").count() == 5, "dry run kept history")

    // real VACUUM reclaims the same count; the table stays readable
    val vac = spark.sql(s"VACUUM graft.`$root` RETAIN 0 HOURS").collect()(0)
    assert(vac.getInt(1) == dry.getInt(1))
    assert(ManifestTable.read(spark, root).count() == 40)

    // ZORDER BY spelling drives clustered compaction
    spark.sql(s"OPTIMIZE graft.`$root` ZORDER BY (id, k)")
    assert(ManifestTable.read(spark, root).count() == 40)
    assert(spark.sql(s"DESCRIBE HISTORY graft.`$root`").head.getString(2).contains("compact"))

    // warehouse-table spelling
    wh
    spark.sql("CREATE TABLE graft.lc AS SELECT id FROM range(10)")
    spark.sql("INSERT INTO graft.lc VALUES (10)")
    // CTAS = create (empty) + write, INSERT = one more → 3 commits
    assert(spark.sql("DESCRIBE HISTORY graft.lc").count() == 3)
    spark.sql("OPTIMIZE graft.lc")
    assert(spark.sql("SELECT count(*) AS n FROM graft.lc").head.getLong(0) == 11)
    spark.sql("DROP TABLE graft.lc")

    // standard SQL is untouched by the parser extension
    assert(spark.sql("SELECT 'OPTIMIZE graft.lc' AS s").head.getString(0).startsWith("OPTIMIZE"))
  }

  test("SQL RESTORE and CREATE TABLE SHALLOW CLONE") {
    val root = freshPath()
    ManifestTable.append(spark, root, spark.range(10).toDF("id"))
    val v1 = ManifestTable.currentVersion(spark, root).get
    ManifestTable.append(spark, root, spark.range(10, 30).toDF("id"))

    // clone the historical version, zero-copy, then diverge it
    val cloneRoot = freshPath()
    val cloneRow = spark.sql(
      s"CREATE TABLE graft.`$cloneRoot` SHALLOW CLONE graft.`$root` VERSION AS OF $v1").collect()(0)
    assert(cloneRow.getString(0) == root && cloneRow.getString(1) == cloneRoot)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$cloneRoot`").head.getLong(0) == 10)
    spark.sql(s"INSERT INTO graft.`$cloneRoot` VALUES (99)")
    assert(ManifestTable.read(spark, cloneRoot).count() == 11)
    assert(ManifestTable.read(spark, root).count() == 30, "clone divergence left source alone")

    // restore the source to v1 as a NEW commit; history stays linear
    val before = ManifestTable.currentVersion(spark, root).get
    val res = spark.sql(s"RESTORE TABLE graft.`$root` TO VERSION AS OF $v1").collect()(0)
    assert(res.getLong(2) > before)
    assert(ManifestTable.read(spark, root).count() == 10)
    assert(spark.sql(s"DESCRIBE HISTORY graft.`$root`").head.getString(2) == "restore")
  }

  test("SQL over a foreign Delta lake: SELECT, pruning, time travel, DV'd reads; writes refused") {
    import spark.implicits._
    // a real Delta log via the mirror write path, then DROP the manifest
    // marker? No — simplest foreign lake: hand-written log over parquet
    val root = java.nio.file.Files.createTempDirectory("gcat_delta").toString + "/t"
    val dir = java.nio.file.Paths.get(root)
    java.nio.file.Files.createDirectories(dir)
    def writeOne(rel: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("gcd").toString + "/o"
      df.coalesce(1).write.parquet(tmp)
      val src = java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).find(_.toString.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(root, rel.split('/'): _*)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.move(src, dst)
    }
    writeOne("k=a/p1.parquet", (0L until 10L).map(Tuple1(_)).toDF("id"))
    writeOne("k=b/p2.parquet", (10L until 20L).map(Tuple1(_)).toDF("id"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType, true)))
    def jstr(s: String) = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JString(s)))
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    def commit(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(logDir.resolve(f"$v%020d.json"),
        (lines.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    commit(0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"cat-delta-fixture","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jstr(schema.json)},"partitionColumns":["k"],"configuration":{},"createdTime":1700000000000}}""",
      s"""{"add":{"path":"k=a/p1.parquet","partitionValues":{"k":"a"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    commit(1, Seq(
      s"""{"add":{"path":"k=b/p2.parquet","partitionValues":{"k":"b"},"size":1,"modificationTime":1,"dataChange":true}}"""))

    // plain SELECT sees the lake; partition filter prunes to one file
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root`").head.getLong(0) == 20)
    val pruned = spark.sql(s"SELECT id FROM graft.`$root` WHERE k = 'b'")
    assert(pruned.collect().map(_.getLong(0)).toSet == (10L until 20L).toSet)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
    }
    assert(scanned.contains(1L), s"expected 1 scanned file, got $scanned")
    // VERSION AS OF pins the Delta snapshot
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root` VERSION AS OF 0")
      .head.getLong(0) == 10)
    // writes against a foreign lake are refused
    intercept[Exception] { spark.sql(s"INSERT INTO graft.`$root` VALUES (99, 'a')") }
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root`").head.getLong(0) == 20)
    // DESCRIBE HISTORY reads the Delta log itself (2 commits, newest first)
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$root`").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 0L))
    assert(hist.forall(_.getBoolean(3)) && hist.head.getLong(4) == 1L)

    // a DV'd foreign lake reads row-correct through the composed plan
    val dvRoot = java.nio.file.Files.createTempDirectory("gcat_dv").toString + "/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dvRoot))
    val tmp2 = java.nio.file.Files.createTempDirectory("gcd2").toString + "/o"
    (0L until 6L).map(Tuple1(_)).toDF("id").coalesce(1)
      .sortWithinPartitions("id").write.parquet(tmp2)
    val src2 = java.nio.file.Files.list(java.nio.file.Paths.get(tmp2)).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).find(_.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(src2, java.nio.file.Paths.get(dvRoot, "d.parquet"))
    val idOnly = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true)))
    val dvLog = java.nio.file.Paths.get(dvRoot, "_delta_log")
    java.nio.file.Files.createDirectories(dvLog)
    java.nio.file.Files.write(dvLog.resolve(f"${0L}%020d.json"), (Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"cat-dv-fixture","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jstr(idOnly.json)},"partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"d.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,""" +
        graft.sources.DeletionVectors.inlineDescriptorJson(Seq(1L, 4L)) + "}}")
      .mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(spark.sql(s"SELECT id FROM graft.`$dvRoot` ORDER BY id").as[Long].collect().toSeq ==
      Seq(0L, 2L, 3L, 5L))
  }

  test("constraints and CDC hold through SQL writes") {
    val root = freshPath()
    ManifestTable.append(spark, root, spark.range(5).toDF("id"))
    ManifestTable.addConstraint(spark, root, "id_nonneg", "id >= 0")
    ManifestTable.setProperty(spark, root, ManifestTable.CdcProperty, "true")
    // constraint enforcement fires inside the SQL INSERT
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` VALUES (-1)")
    }
    assert(e.getMessage != null)
    assert(ManifestTable.read(spark, root).count() == 5, "violating insert committed nothing")
    spark.sql(s"INSERT INTO graft.`$root` VALUES (50)")
    assert(ManifestTable.read(spark, root).count() == 6)
  }
}
