package graft.operators

import graft.QueryDef
import graft.sources.{ManifestTable, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end table-lifecycle operators over [[ManifestTable]] — the
  * reference's idempotent daily load and incremental refresh, exercised
  * through the ACID seam and verified against a plain-SQL oracle
  * (reference: pipeline/airflow/dags/load_data_task.py:117-145 re-runs a
  * day's partition; pipeline/data_ingestion/spark_structured_datastream.py:75-79
  * leans on Delta for schema/versioned reads).
  *
  * Each query BUILDS a manifest table in scratch space from the events
  * parquet, runs the lifecycle operation, reads the result back, and
  * returns a small aggregate — so the driver's oracle compare checks the
  * whole write→commit→read path, not just a transformation. The scratch
  * table is deleted before returning: the (tiny, ≤ #days/#types rows)
  * aggregate is localized first — a bounded collect for temp-dir
  * lifecycle, not a data-path collect.
  */
object TableLifecycle {

  /** Localize a SMALL result so the backing temp table can be deleted
    * before the frame is consumed. Bounded by construction (callers
    * aggregate to ≤ ~100 rows). */
  private[operators] def localize(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows: java.util.List[Row] = java.util.Arrays.asList(df.collect(): _*)
    spark.createDataFrame(rows, df.schema)
  }

  private[operators] def withScratchTable[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString + "/t")
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def dailyEvents(t: Tables): DataFrame =
    t.events.select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      to_date(col("ts")).as("event_date"))

  /** Idempotent daily re-load: write events day-partitioned, then re-run
    * the earliest day with corrected values (×2) through [[ManifestTable
    * .replaceWhere]] — run twice to prove convergence — and aggregate the
    * final table per day. The oracle recomputes the same end state
    * directly over the parquet: any duplicate or lost row from the swap
    * breaks the count/sum hash. */
  def replaceDay(t: Tables): DataFrame = {
    val spark = t.spark
    val events = dailyEvents(t)
    // 1-row bound, driver-side (same pattern as the z-order bounds)
    val day0 = events.agg(min("event_date")).collect()(0).getDate(0)
    withScratchTable("graft_replace_day") { root =>
      ManifestTable.append(spark, root, events, partitionBy = Seq("event_date"))
      val corrected = events.filter(col("event_date") === lit(day0))
        .withColumn("value", col("value") * 2)
      val pred = col("event_date") === lit(day0)
      ManifestTable.replaceWhere(spark, root, corrected, pred)
      ManifestTable.replaceWhere(spark, root, corrected, pred) // idempotent re-run
      val out = ManifestTable.read(spark, root)
        .groupBy("event_date")
        .agg(count("*").as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_date")
      localize(spark, out)
    }
  }

  private val replaceDaySql =
    """WITH base AS (
      |  SELECT event_id, user_id, event_type, value, CAST(ts AS DATE) AS event_date FROM events
      |), d AS (SELECT min(event_date) AS day0 FROM base)
      |SELECT event_date, count(*) AS n_events,
      |  round(sum(CASE WHEN event_date = (SELECT day0 FROM d) THEN value * 2 ELSE value END), 4) AS sum_value
      |FROM base GROUP BY event_date ORDER BY event_date""".stripMargin

  /** Incremental (CDF-style) refresh: append even-id events, compact,
    * append odd-id events, then read ONLY the second batch back through
    * [[ManifestTable.changesBetween]]. The oracle is the odd-id slice —
    * if the diff reader leaked compaction rewrites (the whole first
    * batch again) or missed files, the hash breaks. */
  def incrementalRead(t: Tables): DataFrame = {
    val spark = t.spark
    val events = dailyEvents(t)
    withScratchTable("graft_incremental") { root =>
      val v1 = ManifestTable.append(spark, root, events.filter(col("event_id") % 2 === 0))
      ManifestTable.compact(spark, root)
      val v3 = ManifestTable.append(spark, root, events.filter(col("event_id") % 2 === 1))
      val out = ManifestTable.changesBetween(spark, root, v1, v3)
        .groupBy("event_type")
        .agg(count("*").as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val incrementalReadSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events WHERE event_id % 2 = 1
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Schema evolution round-trip: append the original shape, evolve with
    * an added `vat` column via mergeSchema, and aggregate over the merged
    * table where pre-evolution rows read the new column as NULL. The
    * oracle mirrors the null semantics with a CASE on the batch split. */
  def schemaEvolution(t: Tables): DataFrame = {
    val spark = t.spark
    val events = dailyEvents(t)
    withScratchTable("graft_evolve") { root =>
      ManifestTable.append(spark, root, events.filter(col("event_id") % 2 === 0))
      val evolved = events.filter(col("event_id") % 2 === 1)
        .withColumn("vat", round(col("value") * 0.2, 4))
      ManifestTable.append(spark, root, evolved, mergeSchema = true)
      val out = ManifestTable.read(spark, root)
        .groupBy("event_type")
        .agg(
          count("*").as("n_events"),
          count(col("vat")).as("n_vat"), // NULL for pre-evolution rows
          round(sum("vat"), 4).as("sum_vat"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val schemaEvolutionSql =
    """SELECT event_type, count(*) AS n_events,
      |  count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_vat,
      |  round(sum(CASE WHEN event_id % 2 = 1 THEN round(value * 0.2, 4) END), 4) AS sum_vat
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Keyed MERGE round-trip: seed the table with the non-divisible-by-3
    * ids (day-partitioned), then merge the even-id slice with tripled
    * values — even ids that exist update in place, even ids divisible by
    * 6 (absent from the seed) insert — and run the SAME merge again under
    * one txn mark to prove replay is a no-op. The oracle recomputes the
    * end state directly: any duplicated insert, lost survivor, or
    * double-applied update breaks the count/sum hash. The key covers the
    * partition layout, so the merge takes the partition-pruned
    * localization path. */
  def mergeUpsert(t: Tables): DataFrame = {
    val spark = t.spark
    val events = dailyEvents(t)
    withScratchTable("graft_merge") { root =>
      ManifestTable.append(spark, root, events.filter(col("event_id") % 3 =!= 0),
        partitionBy = Seq("event_date"))
      val updates = events.filter(col("event_id") % 2 === 0)
        .withColumn("value", col("value") * 3)
      ManifestTable.merge(spark, root, updates, Seq("event_id", "event_date"),
        txn = Some("upserter" -> 1L))
      // replayed batch (crash-recovery rerun): must change nothing
      ManifestTable.merge(spark, root, updates, Seq("event_id", "event_date"),
        txn = Some("upserter" -> 1L))
      val out = ManifestTable.read(spark, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val mergeUpsertSql =
    """WITH base AS (
      |  SELECT event_id, event_type, value, CAST(ts AS DATE) AS event_date FROM events)
      |SELECT event_type, count(*) AS n_events,
      |  round(sum(CASE WHEN event_id % 2 = 0 THEN value * 3 ELSE value END), 4) AS sum_value
      |FROM base WHERE event_id % 3 <> 0 OR event_id % 2 = 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** DELETE round-trip, both execution paths: a partition-aligned delete
    * of the earliest day (metadata-only — files dropped, nothing read or
    * rewritten) followed by a row-level predicate delete (copy-on-write
    * rewrite of only the files containing matches). The oracle applies
    * the same two predicates with SQL DELETE semantics (NULL predicate
    * keeps the row — expressed via NOT coalesce(pred, false)). */
  def deleteWhere(t: Tables): DataFrame = {
    val spark = t.spark
    val events = dailyEvents(t)
    val day0 = events.agg(min("event_date")).collect()(0).getDate(0)
    withScratchTable("graft_delete") { root =>
      ManifestTable.append(spark, root, events, partitionBy = Seq("event_date"))
      ManifestTable.delete(spark, root, col("event_date") === lit(day0))
      ManifestTable.delete(spark, root,
        col("event_type") === "click" && col("value") > 50)
      val out = ManifestTable.read(spark, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val deleteWhereSql =
    """WITH base AS (
      |  SELECT event_id, event_type, value, CAST(ts AS DATE) AS event_date FROM events),
      |d AS (SELECT min(event_date) AS day0 FROM base)
      |SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM base
      |WHERE NOT coalesce(event_date = (SELECT day0 FROM d), false)
      |  AND NOT coalesce(event_type = 'click' AND value > 50, false)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** UPDATE round-trip: bulk-correct one event type's values in place
    * (the "fix a bad ingest constant" surgery) — matched rows get
    * value×10, everything else is carried unchanged; the oracle
    * recomputes the end state with a CASE over the same predicate. */
  def updateWhere(t: Tables): DataFrame = {
    val spark = t.spark
    val events = dailyEvents(t)
    withScratchTable("graft_update") { root =>
      ManifestTable.append(spark, root, events, partitionBy = Seq("event_date"))
      ManifestTable.update(spark, root,
        col("event_type") === "error" && col("value") < 100,
        Map("value" -> round(col("value") * 10, 4)))
      val out = ManifestTable.read(spark, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val updateWhereSql =
    """WITH base AS (
      |  SELECT event_id, event_type, value, CAST(ts AS DATE) AS event_date FROM events)
      |SELECT event_type, count(*) AS n_events,
      |  round(sum(CASE WHEN event_type = 'error' AND value < 100
      |                 THEN round(value * 10, 4) ELSE value END), 4) AS sum_value
      |FROM base GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Read-time data skipping round-trip: write the events range-sorted
    * by event_id (tight per-file id ranges, the layout zorderWrite /
    * compact(zorderBy) produce), then read back through
    * [[ManifestTable.readWhere]] with a compound range ∨ point predicate
    * — the scan opens only the files whose committed stats ranges may
    * match (Delta's read-path file skipping; the reference inherits it
    * from format("delta"), load_data_task.py:147). The oracle applies
    * the same predicate over the raw parquet: a mis-skipped file (rows
    * silently dropped) or an unfiltered survivor breaks the hash. */
  def skippingRead(t: Tables): DataFrame =
    skippingReadImpl(t, "graft_skipread", afterBuild = (_, _) => ())

  /** Shared body of [[skippingRead]] / [[checkpointRead]] — one
    * clustered build, cut-point predicate, and aggregate, so the pair
    * can never diverge from their SHARED SQL oracle; `afterBuild` is
    * the variant hook (the checkpoint variant flips the publication
    * property there). */
  private def skippingReadImpl(t: Tables, scratch: String,
      afterBuild: (SparkSession, String) => Unit): DataFrame = {
    val spark = t.spark
    val events = dailyEvents(t)
    // 1-row bound for the predicate's cut points (driver-side, same
    // pattern as replaceDay's day0)
    val b = events.agg(min("event_id"), max("event_id")).collect()(0)
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val (cut1, cut2) = (lo + (hi - lo) / 4, lo + (hi - lo) / 2)
    withScratchTable(scratch) { root =>
      ManifestTable.append(spark, root,
        events.repartitionByRange(8, col("event_id")).sortWithinPartitions("event_id"))
      afterBuild(spark, root)
      val pred = (col("event_id") >= cut1 && col("event_id") < cut2) ||
        col("event_id") === lo
      val out = ManifestTable.readWhere(spark, root, pred)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val skippingReadSql =
    """WITH base AS (
      |  SELECT event_id, event_type, value FROM events),
      |b AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM base)
      |SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM base, b
      |WHERE (event_id >= lo + (hi - lo) // 4 AND event_id < lo + (hi - lo) // 2)
      |   OR event_id = lo
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** [[skippingRead]] through the PARQUET MANIFEST CHECKPOINT: the same
    * clustered build + filtered read, but the table's commit publishes a
    * checkpoint (`graft.checkpoint.minFiles = 1`) and `readWhere` takes
    * the DISTRIBUTED prune path — executors evaluate the may-contain
    * condition over the checkpoint's columnar stats and only surviving
    * file rows reach the driver. Same oracle as any recompute from raw
    * parquet: a wrong prune (dropped file) breaks the hash. */
  def checkpointRead(t: Tables): DataFrame =
    skippingReadImpl(t, "graft_ckptread", afterBuild = (spark, root) => {
      // the property commit itself publishes the checkpoint (same files)
      ManifestTable.setProperty(spark, root,
        ManifestTable.CheckpointMinFilesProperty, "1")
      ()
    })

  /** Null-count skipping round-trip (Delta's nullCount stats): null out
    * `value` for one event type, write clustered by type (so the nulls
    * are file-localized — one all-null file per layout slot), then read
    * back twice through [[ManifestTable.readWhere]]: `IS NOT NULL`
    * (prunes the all-null files) and `IS NULL` (prunes the no-null
    * files), union the per-type aggregates. The oracle applies the same
    * CASE-null over the raw parquet: a mis-skipped file (rows silently
    * dropped by unsound null pruning) breaks the count/sum hash. */
  def nullSkipping(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"),
      when(col("event_type") === "click", lit(null).cast("double"))
        .otherwise(col("value")).as("value"))
    withScratchTable("graft_nullskip") { root =>
      ManifestTable.append(spark, root,
        events.repartitionByRange(8, col("event_type"), col("event_id"))
          .sortWithinPartitions("event_type", "event_id"))
      def agg(pred: org.apache.spark.sql.Column, branch: String) =
        ManifestTable.readWhere(spark, root, pred)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
          .withColumn("branch", lit(branch))
      val out = agg(col("value").isNotNull, "notnull")
        .unionByName(agg(col("value").isNull, "null"))
        .select("branch", "event_type", "n_events", "sum_value")
        .orderBy("branch", "event_type")
      localize(spark, out)
    }
  }

  private val nullSkippingSql =
    """WITH base AS (
      |  SELECT event_type,
      |    CASE WHEN event_type = 'click' THEN NULL ELSE value END AS value
      |  FROM events)
      |SELECT 'notnull' AS branch, event_type, count(*) AS n_events,
      |  round(sum(value), 4) AS sum_value
      |FROM base WHERE value IS NOT NULL GROUP BY event_type
      |UNION ALL
      |SELECT 'null' AS branch, event_type, count(*) AS n_events,
      |  round(sum(value), 4) AS sum_value
      |FROM base WHERE value IS NULL GROUP BY event_type
      |ORDER BY branch, event_type""".stripMargin

  /** Zero-copy SHALLOW CLONE round-trip (Delta `SHALLOW CLONE` +
    * copy-on-write divergence): write the events as a source table
    * clustered by type, [[ManifestTable.shallowClone]] it (one manifest,
    * no data copied), DELETE one event type on the CLONE, then aggregate
    * source and clone per type under distinct branch labels. The oracle
    * recomputes both states straight over the parquet: a clone that
    * leaked the delete back into the source, dropped a shared file, or
    * mis-read the mixed (shared + local) layout breaks the hash. */
  def shallowCloneDiverge(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_clone") { dir =>
      val (src, dst) = (s"$dir/src", s"$dir/dst")
      ManifestTable.append(spark, src,
        events.repartitionByRange(8, col("event_type"), col("event_id"))
          .sortWithinPartitions("event_type", "event_id"))
      ManifestTable.shallowClone(spark, src, dst)
      // the per-file stats cloned with the pointers localize this to the
      // 'click' files; everything else stays shared with the source
      ManifestTable.delete(spark, dst, col("event_type") === "click")
      def agg(root: String, branch: String) =
        ManifestTable.read(spark, root)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
          .withColumn("branch", lit(branch))
      val out = agg(src, "source").unionByName(agg(dst, "clone"))
        .select("branch", "event_type", "n_events", "sum_value")
        .orderBy("branch", "event_type")
      localize(spark, out)
    }
  }

  private val shallowCloneDivergeSql =
    """SELECT 'source' AS branch, event_type, count(*) AS n_events,
      |  round(sum(value), 4) AS sum_value
      |FROM events GROUP BY event_type
      |UNION ALL
      |SELECT 'clone' AS branch, event_type, count(*) AS n_events,
      |  round(sum(value), 4) AS sum_value
      |FROM events WHERE event_type <> 'click' GROUP BY event_type
      |ORDER BY branch, event_type""".stripMargin

  /** Row-level Change Data Feed round-trip (Delta `table_changes`
    * parity): build the events as a CDC-enabled table, run the three
    * mutation verbs — DELETE clicks, UPDATE views (value ×2), MERGE over
    * purchase keys (5 updates + 3 inserts) — then aggregate the captured
    * feed per (change type, commit version). The oracle recomputes every
    * expected change set straight from the parquet: a feed that missed a
    * row, duplicated a pre/post pair, or mis-versioned a commit breaks
    * the count/sum hash. */
  def changeFeed(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_cdf") { root =>
      ManifestTable.append(spark, root, events)                                   // v1
      ManifestTable.setProperty(spark, root, ManifestTable.CdcProperty, "true")   // v2
      ManifestTable.delete(spark, root, col("event_type") === "click")            // v3
      ManifestTable.update(spark, root, col("event_type") === "view",
        Map("value" -> (col("value") * 2)))                                       // v4
      // merge keys: the 5 smallest purchase event_ids (deterministic and
      // oracle-computable); inserts: 3 ids past the table's max
      val purchases = events.filter(col("event_type") === "purchase")
        .orderBy("event_id").limit(5).select(col("event_id"))
      val maxId = events.agg(max("event_id")).collect()(0).getLong(0)
      val updates = purchases.withColumn("event_type", lit("purchase"))
        .withColumn("value", lit(-1.0))
        .unionByName(spark.range(maxId + 1, maxId + 4).toDF("event_id")
          .withColumn("event_type", lit("synthetic"))
          .withColumn("value", lit(0.5)))
      ManifestTable.merge(spark, root, updates, Seq("event_id"))                  // v5
      val out = ManifestTable.readChangeFeed(spark, root, 2L, 5L)
        .groupBy(col("_change_type"), col("_commit_version"))
        .agg(count(lit(1)).as("n_rows"), round(sum("value"), 4).as("sum_value"),
          sum("event_id").as("sum_id"))
        .orderBy("_commit_version", "_change_type")
      localize(spark, out)
    }
  }

  private val changeFeedSql =
    """WITH ev AS (SELECT event_id, event_type, value FROM events),
      |del AS (  -- v3: DELETE clicks
      |  SELECT 'delete' AS _change_type, CAST(3 AS BIGINT) AS _commit_version,
      |    count(*) AS n_rows, round(sum(value), 4) AS sum_value,
      |    CAST(sum(event_id) AS BIGINT) AS sum_id
      |  FROM ev WHERE event_type = 'click'),
      |upre AS ( -- v4: UPDATE views, preimages at original values
      |  SELECT 'update_preimage', CAST(4 AS BIGINT), count(*), round(sum(value), 4),
      |    CAST(sum(event_id) AS BIGINT)
      |  FROM ev WHERE event_type = 'view'),
      |upost AS ( -- v4: postimages doubled
      |  SELECT 'update_postimage', CAST(4 AS BIGINT), count(*), round(sum(value * 2), 4),
      |    CAST(sum(event_id) AS BIGINT)
      |  FROM ev WHERE event_type = 'view'),
      |mkeys AS (SELECT event_id, value FROM ev WHERE event_type = 'purchase'
      |          ORDER BY event_id LIMIT 5),
      |mpre AS ( -- v5: merge preimages carry pre-merge values (purchases untouched by v3/v4)
      |  SELECT 'update_preimage', CAST(5 AS BIGINT), count(*), round(sum(value), 4),
      |    CAST(sum(event_id) AS BIGINT) FROM mkeys),
      |mpost AS (
      |  SELECT 'update_postimage', CAST(5 AS BIGINT), count(*), round(sum(-1.0), 4),
      |    CAST(sum(event_id) AS BIGINT) FROM mkeys),
      |mins AS ( -- v5: 3 synthetic inserts past max id
      |  SELECT 'insert', CAST(5 AS BIGINT), CAST(3 AS BIGINT), round(3 * 0.5, 4),
      |    CAST(3 * (SELECT max(event_id) FROM ev) + 1 + 2 + 3 AS BIGINT))
      |SELECT * FROM del UNION ALL SELECT * FROM upre UNION ALL SELECT * FROM upost
      |UNION ALL SELECT * FROM mpre UNION ALL SELECT * FROM mpost UNION ALL SELECT * FROM mins
      |ORDER BY _commit_version, _change_type""".stripMargin

  /** Delta Lake interop round-trip: materialize the events as a
    * protocol-conformant Delta table (hand-rendered `_delta_log` JSON —
    * protocol, metaData with the Spark schema, add actions over two
    * commits), then read it back through [[graft.sources.DeltaLake]]
    * and aggregate. The reference's silver layer IS this format
    * (load_data_task.py:142,147); the oracle recomputes from the raw
    * parquet, so a mis-replayed log (lost add, leaked remove, wrong
    * schema) breaks the hash. */
  def deltaRead(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    def jstr(s: String): String =
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
        org.json4s.JString(s)))
    withScratchTable("graft_delta") { root =>
      // two commits' worth of data files under the table root
      events.filter(col("event_id") % 2 === 0).write.parquet(s"$root/b0")
      events.filter(col("event_id") % 2 === 1).write.parquet(s"$root/b1")
      def parts(sub: String): Seq[String] = {
        val dir = java.nio.file.Paths.get(root, sub)
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted.map(n => s"$sub/$n")
        finally s.close()
      }
      def addLine(rel: String): String =
        s"""{"add":{"path":${jstr(rel)},"partitionValues":{},"size":1,""" +
          """"modificationTime":1700000000000,"dataChange":true}}"""
      val logDir = java.nio.file.Paths.get(root, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      def commit(v: Long, lines: Seq[String]): Unit =
        java.nio.file.Files.write(logDir.resolve(f"$v%020d.json"),
          (lines.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      commit(0, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"00000000-0000-0000-0000-000000000000","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jstr(events.schema.json)},"partitionColumns":[],"configuration":{},"createdTime":1700000000000}}""") ++
        parts("b0").map(addLine))
      commit(1, parts("b1").map(addLine))
      val out = graft.sources.DeltaLake.read(spark, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val deltaReadSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Delta interop, WRITE direction: build a day-partitioned manifest
    * table from the events, [[graft.sources.DeltaLake.mirror]] it in
    * place after each commit, then read it back THROUGH THE DELTA LOG
    * and aggregate. The oracle recomputes from the raw parquet, so a
    * lost add, leaked remove, or mis-published partition value in the
    * mirrored log breaks the hash. */
  def deltaMirror(t: Tables): DataFrame = {
    val spark = t.spark
    val events = dailyEvents(t)
    withScratchTable("graft_mirror") { root =>
      ManifestTable.append(spark, root,
        events.filter(col("event_id") % 2 === 0), partitionBy = Seq("event_date"))
      graft.sources.DeltaLake.mirror(spark, root)
      ManifestTable.append(spark, root, events.filter(col("event_id") % 2 === 1))
      graft.sources.DeltaLake.mirror(spark, root)
      val out = graft.sources.DeltaLake.read(spark, root)
        .groupBy("event_date")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_date")
      localize(spark, out)
    }
  }

  private val deltaMirrorSql =
    """SELECT CAST(ts AS DATE) AS event_date, count(*) AS n_events,
      |  round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** The `format("graft")` round-trip: write the events day-partitioned
    * through the DataFrameWriter face (two append commits), read them
    * back through `spark.read.format("graft")` with a partition filter —
    * so the driver's oracle checks the whole registered-source path:
    * V1 write modes, `.partitionBy` option transport, the
    * [[graft.sources.GraftFileIndex]] partition pruning, and path-parsed
    * partition values re-typed to DATE. Pruned-away rows or mis-parsed
    * values break the hash. */
  def formatRead(t: Tables): DataFrame = {
    val spark = t.spark
    val events = dailyEvents(t)
    val day0 = events.agg(min("event_date")).collect()(0).getDate(0)
    withScratchTable("graft_format") { root =>
      events.filter(col("event_id") % 2 === 0).write.format("graft")
        .partitionBy("event_date").mode("append").save(root)
      events.filter(col("event_id") % 2 === 1).write.format("graft")
        .partitionBy("event_date").mode("append").save(root)
      val out = spark.read.format("graft").load(root)
        .filter(col("event_date") === lit(day0))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val formatReadSql =
    """WITH base AS (
      |  SELECT event_type, value, CAST(ts AS DATE) AS event_date FROM events
      |), d AS (SELECT min(event_date) AS day0 FROM base)
      |SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM base WHERE event_date = (SELECT day0 FROM d)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The SQL DML face end-to-end under the oracle: INSERT INTO, UPDATE,
    * DELETE, and a three-clause MERGE (tombstone + upsert) run as PURE
    * SQL against a scratch graft table through the `graft` catalog —
    * exercising GraftCatalog resolution, the V1 write fallback,
    * GraftDmlRule's rewrites, and the verbs' constraint/CDC-preserving
    * commit path in one key. The oracle recomputes the same end state
    * algebraically over the raw events: update-before-delete ordering,
    * SQL NULL delete semantics (a NULL predicate keeps the row), and
    * Delta's MERGE clause gating (a matched row whose only applicable
    * clause is the conditioned DELETE vanishes; an unmatched row
    * carrying the delete marker still INSERTs). */
  def sqlDml(t: Tables): DataFrame = {
    val spark = t.spark
    val events = dailyEvents(t)
    withScratchTable("graft_sqldml") { root =>
      ManifestTable.append(spark, root, events.filter(col("event_id") % 3 =!= 0))
      events.filter(col("event_id") % 3 === 0).createOrReplaceTempView("graft_sqldml_ins")
      spark.sql(s"INSERT INTO graft.`$root` SELECT * FROM graft_sqldml_ins")
      spark.sql(s"UPDATE graft.`$root` SET value = value * 2 WHERE event_type = 'click'")
      spark.sql(s"DELETE FROM graft.`$root` WHERE value > 150")
      events.filter(col("event_id") % 7 === 0)
        .withColumn("value", (lit(999) + col("event_id") % 13).cast("double"))
        .createOrReplaceTempView("graft_sqldml_m")
      spark.sql(
        s"""MERGE INTO graft.`$root` t USING graft_sqldml_m s ON t.event_id = s.event_id
           |WHEN MATCHED AND s.value < 1000 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val out = ManifestTable.read(spark, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val sqlDmlSql =
    """WITH base AS (
      |  SELECT event_id, event_type, value FROM events),
      |u AS (SELECT event_id, event_type,
      |        CASE WHEN event_type = 'click' THEN value * 2 ELSE value END AS value
      |      FROM base),
      |d AS (SELECT * FROM u WHERE NOT coalesce(value > 150, FALSE)),
      |m AS (SELECT event_id, event_type, CAST(999 + event_id % 13 AS DOUBLE) AS value
      |      FROM base WHERE event_id % 7 = 0),
      |kept AS (SELECT * FROM d WHERE event_id NOT IN (SELECT event_id FROM m)),
      |merged AS (
      |  SELECT * FROM m
      |  WHERE event_id NOT IN (SELECT event_id FROM d)
      |     OR NOT value < 1000),
      |fin AS (SELECT * FROM kept UNION ALL SELECT * FROM merged)
      |SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Delta deletion-vector read on the correctness board: stage the
    * events as ONE event_id-sorted parquet file under a hand-written
    * Delta log whose `add` carries an inline DV killing physical row
    * indexes 0..99 — in a sorted file those are exactly the 100 smallest
    * event_ids, which the oracle can name in SQL. A mis-decoded bitmap,
    * off-by-one row index, or broken anti-join shifts the aggregate and
    * breaks the hash. */
  def dvRead(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    def jstr(s: String): String =
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
        org.json4s.JString(s)))
    withScratchTable("graft_dv") { root =>
      // one file, rows in event_id order → row index i holds the i-th
      // smallest event_id (single-partition parquet writes preserve
      // iterator order)
      events.coalesce(1).sortWithinPartitions("event_id").write.parquet(s"$root/d0")
      val rel = {
        val dir = java.nio.file.Paths.get(root, "d0")
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(dir)
        try "d0/" + s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq.head
        finally s.close()
      }
      val dv = graft.sources.DeletionVectors.inlineDescriptorJson(0L until 100L)
      val logDir = java.nio.file.Paths.get(root, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"), (Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
        s"""{"metaData":{"id":"00000000-0000-0000-0000-00000000d0d0","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jstr(events.schema.json)},"partitionColumns":[],"configuration":{},"createdTime":1700000000000}}""",
        s"""{"add":{"path":${jstr(rel)},"partitionValues":{},"size":1,""" +
          s""""modificationTime":1700000000000,"dataChange":true,$dv}}""")
        .mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val out = graft.sources.DeltaLake.read(spark, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val dvReadSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events
      |WHERE event_id NOT IN (SELECT event_id FROM events ORDER BY event_id LIMIT 100)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The SQL-only lifecycle loop: build a table in three INSERT-shaped
    * commits, mutate with SQL DELETE, compact with SQL OPTIMIZE, audit
    * with SQL DESCRIBE HISTORY (its deterministic commit count rides in
    * the output), reclaim with SQL VACUUM, and read the final state back
    * through SQL — proving a user needs no Scala for any lifecycle step.
    * The oracle recomputes the end state from the raw parquet. */
  def sqlLifecycle(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_sqllc") { root =>
      ManifestTable.append(spark, root, events.filter(col("event_id") % 3 === 0))
      ManifestTable.append(spark, root, events.filter(col("event_id") % 3 === 1))
      ManifestTable.append(spark, root, events.filter(col("event_id") % 3 === 2))
      spark.sql(s"DELETE FROM graft.`$root` WHERE event_id % 7 = 0")
      spark.sql(s"OPTIMIZE graft.`$root`")
      // 3 appends + delete + compact = 5 retained commits, newest first
      val nCommits = spark.sql(s"DESCRIBE HISTORY graft.`$root`").count()
      spark.sql(s"VACUUM graft.`$root` RETAIN 0 HOURS")
      val out = spark.sql(
        s"""SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
           |FROM graft.`$root` GROUP BY event_type ORDER BY event_type""".stripMargin)
        .withColumn("n_commits", lit(nCommits))
      localize(spark, out)
    }
  }

  private val sqlLifecycleSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value,
      |  CAST(5 AS BIGINT) AS n_commits
      |FROM events WHERE event_id % 7 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Name-based column mapping end-to-end on the correctness board:
    * build a mapped scratch table from half the events, RENAME two
    * columns and DROP one via SQL (metadata-only — zero data rewritten),
    * append under the NEW logical names, row-level DELETE through the
    * renamed predicate, then mirror to Delta and aggregate through
    * [[graft.sources.DeltaLake.read]] — so the oracle hash breaks if the
    * physical-name translation, the stats re-key, the post-rename write
    * path, or the republished Delta mapping mis-resolves a single row. */
  def columnMapping(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(
      col("event_id"), col("event_type"), col("value"), col("user_id"))
    withScratchTable("graft_colmap") { root =>
      ManifestTable.append(spark, root, events.filter(col("event_id") % 2 === 0))
      ManifestTable.enableColumnMapping(spark, root)
      spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN value TO score")
      spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN event_type TO kind")
      ManifestTable.append(spark, root,
        events.filter(col("event_id") % 2 === 1)
          .withColumnRenamed("value", "score")
          .withColumnRenamed("event_type", "kind"))
      spark.sql(s"ALTER TABLE graft.`$root` DROP COLUMN user_id")
      spark.sql(s"DELETE FROM graft.`$root` WHERE event_id % 11 = 0")
      graft.sources.DeltaLake.mirror(spark, root)
      val out = graft.sources.DeltaLake.read(spark, root)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_events"), round(sum("score"), 4).as("sum_score"))
        .orderBy("kind")
      localize(spark, out)
    }
  }

  private val columnMappingSql =
    """SELECT event_type AS kind, count(*) AS n_events,
      |  round(sum(value), 4) AS sum_score
      |FROM events WHERE event_id % 11 <> 0
      |GROUP BY 1 ORDER BY kind""".stripMargin

  /** Per-file Bloom point-lookup indexes on the correctness board: stage
    * the events under a hash-distributed high-cardinality string key (so
    * every file's min/max range spans the key space and stats skipping
    * keeps ALL of them), then read three keys back through `readWhere` —
    * the output row values prove lookup correctness, and the
    * `bloom_pruned` flag proves the sidecar filters actually dropped
    * files that min/max could not (the target keys live in ≤3 of 8
    * files; all-files-false-positive has probability ~1e-14). */
  def bloomSkipping(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("ekey", concat(lit("e-"), col("event_id")))
    withScratchTable("graft_bloom") { root =>
      ManifestTable.append(spark, root, events.limit(0))
      ManifestTable.setProperty(spark, root, "graft.bloom.ekey", "0.01")
      ManifestTable.append(spark, root, events.repartition(8, col("ekey")))
      val pred = col("ekey").isin("e-7", "e-97", "e-123")
      val total = ManifestTable.snapshot(spark, root).files.size
      val opened = ManifestTable.readCandidates(spark, root, pred).size
      val out = ManifestTable.readWhere(spark, root, pred)
        .select(col("ekey"), col("event_type"), round(col("value"), 4).as("value"))
        .orderBy("ekey")
        .withColumn("bloom_pruned", lit(opened < total))
      localize(spark, out)
    }
  }

  private val bloomSkippingSql =
    """SELECT concat('e-', event_id) AS ekey, event_type,
      |  round(value, 4) AS value, TRUE AS bloom_pruned
      |FROM events WHERE event_id IN (7, 97, 123)
      |ORDER BY ekey""".stripMargin

  /** The `graft-delta` STREAMING source end-to-end on the correctness
    * board: build a two-commit Delta lake from the events (mirror write
    * path), run a REAL `Trigger.AvailableNow` streaming query over
    * `readStream.format("graft-delta")` into a memory sink, and
    * aggregate what the stream delivered. The oracle recomputes from the
    * raw parquet — a dropped file, double-served batch, or mis-read
    * partition breaks the hash. */
  def deltaSourceStream(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_deltastream") { root =>
      ManifestTable.append(spark, root, events.filter(col("event_id") % 2 === 0))
      graft.sources.DeltaLake.mirror(spark, root)
      ManifestTable.append(spark, root, events.filter(col("event_id") % 2 =!= 0))
      graft.sources.DeltaLake.mirror(spark, root)
      val sinkName = "graft_ds_mem"
      val q = spark.readStream.format("graft-delta").load(root)
        .writeStream.format("memory").queryName(sinkName)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try require(q.awaitTermination(180000), "stream drain timed out") finally q.stop()
      val out = spark.table(sinkName)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      val localized = localize(spark, out)
      spark.catalog.dropTempView(sinkName)
      localized
    }
  }

  private val deltaSourceStreamSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The Iceberg STREAMING source under the correctness gate: publish
    * the events as an Iceberg v2 table in two snapshots, then a REAL
    * `Trigger.AvailableNow` run of `readStream.format("graft-iceberg")`
    * drains both (sequence-number offsets) into a memory sink whose
    * aggregate the oracle recomputes from the raw parquet. A wrong
    * offset mapping, a missed/double-served file, or a broken
    * sequence-range scan shifts the counts. */
  def icebergSourceStream(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_icestream") { root =>
      graft.sources.IcebergWriter.create(spark, root,
        Seq(events.filter(col("event_id") % 2 === 0)))
      graft.sources.IcebergWriter.append(spark, root,
        Seq(events.filter(col("event_id") % 2 =!= 0)))
      val sinkName = "graft_is_mem"
      val q = spark.readStream.format("graft-iceberg").load(root)
        .writeStream.format("memory").queryName(sinkName)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try require(q.awaitTermination(180000), "stream drain timed out") finally q.stop()
      val out = spark.table(sinkName)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      val localized = localize(spark, out)
      spark.catalog.dropTempView(sinkName)
      localized
    }
  }

  /** PlanSnapshot stage seam (r18) for the two foreign-format stream
    * keys: the streamed per-trigger work is the table scan feeding the
    * sink, and the key's corpus-scale computation is that scan plus
    * the event_type aggregate — recorded here over the BATCH leg of
    * the same published files (the per-trigger plan reads the same
    * relation; the memory sink is a fixture detail). A shuffle growing
    * in this frame is per-trigger cost growing in the deployment. */
  private def foreignSourceStages(publishAndRead: (Tables, DataFrame, String) => DataFrame)
      : (Tables, (String, DataFrame) => Unit) => Unit = (t, f) => {
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_fsplan") { root =>
      f("trigger", publishAndRead(t, events, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value")))
    }
  }

  private val deltaSourceStages = foreignSourceStages { (t, events, root) =>
    ManifestTable.append(t.spark, root, events)
    graft.sources.DeltaLake.mirror(t.spark, root)
    t.spark.read.format("graft-delta").load(root)
  }

  private val icebergSourceStages = foreignSourceStages { (t, events, root) =>
    graft.sources.IcebergWriter.create(t.spark, root, Seq(events))
    t.spark.read.format("graft-iceberg").load(root)
  }

  /** Delta `CONVERT TO DELTA` ON the correctness board (r18, the
    * add_files sibling): write the events as a plain HIVE-partitioned
    * parquet directory (Spark's native writer, `partitionBy` — the
    * exact layout a pre-lakehouse pipeline leaves behind), adopt it in
    * place through [[graft.sources.DeltaLake.convertToDelta]]
    * (metadata-only: one `add` per existing file with partition values
    * parsed from the `c=v` dirs, not a byte rewritten), then read back
    * through the Delta leg — partition columns reconstructed from
    * `partitionValues` — filter, and aggregate. The oracle recomputes
    * from the raw parquet: a missed file, a mis-parsed partition
    * value, or a broken partition-column reconstruction breaks the
    * hash. */
  def deltaConvert(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_deltaconv") { root =>
      events.write.partitionBy("event_type").parquet(s"$root/raw")
      // stats at adoption (r19): the distributed footer pass lands
      // min/max/null-counts in every add, so the adopted table
      // data-skips from commit 0 — Delta's own convert default
      graft.sources.DeltaLake.convertToDelta(spark, s"$root/raw", Seq("event_type"),
        collectStats = true)
      val out = graft.sources.DeltaLake.read(spark, s"$root/raw")
        .filter(col("event_id") % 5 =!= 0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val deltaConvertSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events WHERE event_id % 5 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Iceberg `add_files` migration ON the correctness board (r18,
    * upgraded r19 to the verb's CANONICAL target — a HIVE-partitioned
    * directory, the reference's own silver layout shape
    * (load_data_task.py:117-145)): write the events as Spark-NATIVE
    * hive-partitioned ORC (`partitionBy("event_type")` — the files
    * carry NO partition column and NO field ids), REGISTER them
    * metadata-only through [[graft.sources.IcebergWriter.addFiles]]
    * with `partitionCols` (each file's typed identity tuple parses
    * from its own `event_type=…` path segment) and `collectStats`
    * (the footer pass already opening every file translates min/max/
    * null-counts into Appendix-D manifest bounds), then read back
    * through the foreign-ORC leg — the partition column RECONSTRUCTS
    * from the manifest's typed values, name binding sanctioned by the
    * published `schema.name-mapping.default` — filter, and aggregate.
    * The oracle recomputes from the raw parquet: a mis-registered
    * file, a mis-parsed partition value, a wrong footer count, or a
    * broken partition-column reconstruction breaks the hash.
    *
    * Scale: add_files is METADATA work (one footer read per file,
    * distributed; driver cost bounded by the BATCH — the duplicate
    * guard probes the live set on executors) — the production path for
    * adopting a Hive-heritage ORC directory without a rewrite, after
    * which equality filters prune to one partition and range filters
    * data-skip on the adopted bounds. */
  def icebergAddFiles(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_addfiles") { root =>
      events.sort("event_id").coalesce(2).write.partitionBy("event_type").orc(s"$root/raw")
      val rawPath = new org.apache.hadoop.fs.Path(s"$root/raw")
      val fs = rawPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = graft.sources.FooterStats.listDataFiles(fs, rawPath, Seq(".orc"))
        .map(_.getPath.toUri.getPath).sorted
      graft.sources.IcebergWriter.addFiles(spark, s"$root/t", events.schema, files,
        partitionCols = Seq("event_type"), collectStats = true)
      val out = graft.sources.IcebergTable.read(spark, s"$root/t")
        .filter(col("event_id") % 3 =!= 0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val icebergAddFilesSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events WHERE event_id % 3 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  private val icebergSourceStreamSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Merge-on-read DELETE + UPDATE on the graft format's OWN deletion
    * vectors ([[ManifestTable.DvProperty]], round 9's Delta
    * `delta.enableDeletionVectors` parity): a multi-file scratch table
    * takes a row-level DELETE and an UPDATE that commit ONLY bitmaps and
    * appended update rows — `mor_intact` carries the proof that no
    * pre-existing data file was rewritten or removed into the hashed
    * result — and the DV-aware snapshot read reproduces the survivors
    * row-exactly against the oracle's recomputation from raw parquet.
    * At 100 TB this is the difference between KBs of roaring bitmap and
    * TBs of copy-on-write rewrite per point delete; [[compact]] purges
    * vectors when read amortization flips. */
  def dvMor(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_dvmor") { root =>
      ManifestTable.append(spark, root, events.repartition(8))
      ManifestTable.setProperty(spark, root, ManifestTable.DvProperty, "true")
      val before = ManifestTable.snapshot(spark, root).files.toSet
      ManifestTable.delete(spark, root, col("event_id") % 5 === 2L)
      ManifestTable.update(spark, root, col("event_id") % 5 === 3L,
        Map("value" -> (col("value") * 2)))
      val after = ManifestTable.snapshot(spark, root).files.toSet
      val out = ManifestTable.read(spark, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .withColumn("mor_intact", lit(before.subsetOf(after)))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val dvMorSql =
    """SELECT event_type, count(*) AS n_events,
      |  round(sum(CASE WHEN event_id % 5 = 3 THEN value * 2 ELSE value END), 4) AS sum_value,
      |  true AS mor_intact
      |FROM events WHERE event_id % 5 <> 2
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Generated partition column end-to-end (round 9's Delta
    * `GENERATED ALWAYS AS` parity): a scratch table partitioned by
    * `day GENERATED ALWAYS AS (CAST(ts AS DATE))` takes the events
    * WITHOUT a day column (the write computes it), and a `ts`-range
    * `readWhere` — which prunes `day` partitions via the monotone
    * derivation without the query ever naming them — must reproduce the
    * oracle's recomputation from raw parquet row-exactly. A wrong
    * computed day, a mis-derived bound, or an over-pruned partition all
    * break the hash. */
  def generatedPartition(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("ts"), col("event_type"), col("value"))
    withScratchTable("graft_genpart") { root =>
      ManifestTable.append(spark, root,
        events.limit(0).withColumn("day", col("ts").cast("date")),
        partitionBy = Seq("day"))
      ManifestTable.setProperty(spark, root,
        s"${ManifestTable.GeneratedPrefix}day", "CAST(ts AS DATE)")
      ManifestTable.append(spark, root, events) // no day column: computed in-write
      val minTs = events.agg(min("ts")).head.getTimestamp(0)
      val hi = new java.sql.Timestamp(minTs.getTime + 2L * 86400000L)
      val out = ManifestTable.readWhere(spark, root,
          col("ts") >= lit(minTs) && col("ts") < lit(hi))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val generatedPartitionSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events
      |WHERE ts >= (SELECT min(ts) FROM events)
      |  AND ts < (SELECT min(ts) + INTERVAL 2 DAY FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Iceberg interop on the correctness board: PUBLISH the events as a
    * two-file Iceberg v2 table ([[graft.sources.IcebergWriter]] — files
    * split at the median event_id, each id-sorted), commit a position-
    * delete snapshot killing the first 100 physical rows of the low
    * file (= the 100 smallest event_ids, which the oracle names in
    * SQL) and an equality-delete snapshot on `event_id % 13 = 0`, then
    * READ back through [[graft.sources.IcebergTable]] — manifest-list →
    * manifest → bitmap'd position deletes → grouped equality deletes.
    * A mis-parsed manifest, wrong delete application, or broken
    * field-id resolution shifts the aggregate and breaks the hash. */
  def icebergRead(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_iceberg") { root =>
      val median = (events.count() / 2).toInt
      val ordered = events.orderBy("event_id")
      // limit/offset of the sorted frame: each side stays id-ordered, so
      // physical row index i in the low file holds the i-th smallest id
      graft.sources.IcebergWriter.create(spark, root,
        Seq(ordered.limit(median), ordered.offset(median)))
      val snap = graft.sources.IcebergTable.snapshot(spark, root)
      val lowFile = snap.dataFiles.minBy(e =>
        graft.sources.IcebergTable.decodeBound(e.lower(1), org.apache.spark.sql.types.LongType)
          .get.asInstanceOf[Long])
      graft.sources.IcebergWriter.addPositionDeletes(spark, root,
        Seq(lowFile.path -> (0L until 100L)))
      graft.sources.IcebergWriter.addEqualityDeletes(spark, root,
        localize(spark, events.filter(col("event_id") % 13 === 0).select("event_id").distinct()),
        Seq("event_id"))
      val out = graft.sources.IcebergTable.read(spark, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val icebergReadSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events
      |WHERE event_id NOT IN (SELECT event_id FROM events ORDER BY event_id LIMIT 100)
      |  AND event_id % 13 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The Iceberg WRITE direction on the correctness board: build an
    * event_type-PARTITIONED manifest table, copy-on-write DELETE a
    * slice, publish with [[graft.sources.IcebergWriter.mirror]] (one
    * snapshot referencing the surviving graft files — typed identity
    * partition values, translated bounds stats, name-mapping property),
    * then read back through [[graft.sources.IcebergTable]] — which must
    * serve the partition column FROM THE MANIFEST (hive-layout files
    * don't carry it) and resolve data columns by name (mirrored files
    * embed no field ids). Wrong partition typing, a missed delete, or a
    * broken name-mapping read shifts the aggregate. */
  def icebergMirror(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_icemirror") { root =>
      ManifestTable.append(spark, root, events, partitionBy = Seq("event_type"))
      ManifestTable.delete(spark, root, col("event_id") % 7 === 0)
      graft.sources.IcebergWriter.mirror(spark, root)
      val out = graft.sources.IcebergTable.read(spark, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val icebergMirrorSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events
      |WHERE event_id % 7 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The r11 LAZY foreign-Delta route on the correctness board: build a
    * real mirrored lake (true add sizes/stats), publish a parquet
    * CHECKPOINT, append one post-checkpoint tail commit, then read
    * through `format("graft-delta")` — which resolves via
    * [[graft.sources.DeltaLake.lazySnapshot]]: checkpoint adds stay
    * columnar, executors evaluate the prune, the JSON tail overlays,
    * FileStatuses synthesize from the log. A wrong tail mask, a
    * mis-parsed checkpoint row, or a bad synthesized status shifts the
    * aggregate and breaks the hash. */
  def deltaLazy(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_deltalazy") { root =>
      ManifestTable.append(spark, root, events.filter(col("event_id") % 3 === 0))
      ManifestTable.append(spark, root, events.filter(col("event_id") % 3 === 1))
      graft.sources.DeltaLake.mirror(spark, root)
      graft.sources.DeltaLake.writeCheckpoint(spark, root)
      // tail commit AFTER the checkpoint: the lazy read must overlay it
      ManifestTable.append(spark, root, events.filter(col("event_id") % 3 === 2))
      graft.sources.DeltaLake.mirror(spark, root)
      val out = spark.read.format("graft-delta").load(root)
        .filter(col("event_id") % 5 =!= 0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val deltaLazySql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events
      |WHERE event_id % 5 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The r11 LAZY foreign-Iceberg route on the correctness board: a
    * writer-published v2 table read through `format("graft-iceberg")` —
    * delete-free, so the scan resolves via
    * [[graft.sources.IcebergTable.lazySnapshot]] and EXECUTORS parse
    * and prune the manifests at listFiles time. */
  def icebergLazy(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_icelazy") { root =>
      graft.sources.IcebergWriter.create(spark, root,
        Seq(events.filter(col("event_id") % 2 === 0)))
      graft.sources.IcebergWriter.append(spark, root,
        Seq(events.filter(col("event_id") % 2 =!= 0)))
      val out = spark.read.format("graft-iceberg").load(root)
        .filter(col("event_id") % 7 =!= 0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val icebergLazySql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events
      |WHERE event_id % 7 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The Iceberg CHANGELOG scan on the correctness board
    * ([[graft.sources.IcebergTable.changelog]] — the spec's incremental
    * changelog concept, `table_changes` for Iceberg): build a v2 table
    * as two append snapshots (even event_ids, then odd), an
    * equality-delete snapshot (`event_id % 11 = 0`), and a compaction
    * (`rewriteCompact`, operation=replace), then aggregate the emitted
    * net changes per (commit, change type). The oracle reproduces each
    * commit's contribution straight from `events`; a wrong delete
    * fold, a compaction leaking phantom rows, or a mis-attributed
    * commit shifts a group and breaks the hash. */
  def icebergChangelog(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_icechangelog") { root =>
      graft.sources.IcebergWriter.create(spark, root,
        Seq(events.filter(col("event_id") % 2 === 0)))               // seq 1
      graft.sources.IcebergWriter.append(spark, root,
        Seq(events.filter(col("event_id") % 2 =!= 0)))               // seq 2
      graft.sources.IcebergWriter.addEqualityDeletes(spark, root,
        localize(spark, events.filter(col("event_id") % 11 === 0)
          .select("event_id").distinct()), Seq("event_id"))          // seq 3
      graft.sources.IcebergWriter.rewriteCompact(spark, root)        // seq 4: no change
      val out = graft.sources.IcebergTable.changelog(spark, root)
        .groupBy(col("_commit_seq"), col("_change_type"))
        .agg(count(lit(1)).as("n_rows"), round(sum("value"), 4).as("sum_value"))
        .orderBy("_commit_seq", "_change_type")
      localize(spark, out)
    }
  }

  private val icebergChangelogSql =
    """SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS _commit_seq, 'insert' AS _change_type,
      |         count(*) AS n_rows, round(sum(value), 4) AS sum_value
      |  FROM events WHERE event_id % 2 = 0 HAVING count(*) > 0
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), 'insert', count(*), round(sum(value), 4)
      |  FROM events WHERE event_id % 2 <> 0 HAVING count(*) > 0
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), 'delete', count(*), round(sum(value), 4)
      |  FROM events WHERE event_id % 11 = 0 HAVING count(*) > 0
      |) ORDER BY _commit_seq, _change_type""".stripMargin

  /** Snapshot EXPIRATION on the correctness board (r12): publish two
    * halves, equality-delete a slice, compact into one `replace`
    * snapshot, then [[graft.sources.IcebergWriter.expireSnapshots]]
    * everything but the compacted head — the read AFTER expiry must
    * serve exactly the pre-expiry live rows (GC that eats a referenced
    * file, a manifest, or the delete semantics shifts the aggregate),
    * and the loud `require`s pin that the GC actually reclaimed the
    * replaced data and orphaned delete files. */
  def icebergExpire(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_iceexpire") { root =>
      graft.sources.IcebergWriter.create(spark, root,
        Seq(events.filter(col("event_id") % 2 === 0),
          events.filter(col("event_id") % 2 =!= 0)))          // seq 1
      graft.sources.IcebergWriter.addEqualityDeletes(spark, root,
        localize(spark, events.filter(col("event_id") % 13 === 0)
          .select("event_id").distinct()), Seq("event_id"))   // seq 2
      graft.sources.IcebergWriter.rewriteCompact(spark, root) // seq 3 (replace)
      val (nSnap, nManifests, nFiles) =
        graft.sources.IcebergWriter.expireSnapshots(spark, root, keepLast = 1)
      require(nSnap == 2, s"expected 2 expired snapshots, got $nSnap")
      require(nManifests >= 2 && nFiles >= 3, // 2 replaced data files + 1 eq-delete file
        s"expire must reclaim the replaced files: manifests=$nManifests files=$nFiles")
      val out = graft.sources.IcebergTable.read(spark, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val icebergExpireSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events WHERE event_id % 13 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The V2-checkpoint WRITE direction on the correctness board (r12):
    * mirror two commits, publish a [[graft.sources.DeltaLake
    * .writeCheckpointV2]] checkpoint (UUID-named top + two parquet
    * sidecars), DELETE the pre-checkpoint JSON commit, append a tail
    * commit — the read must replay checkpoint(sidecars) + tail exactly
    * (a mis-written sidecar reference, add split, or checkpointMetadata
    * row shifts the aggregate). */
  def deltaV2Checkpoint(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"))
    withScratchTable("graft_deltav2cp") { root =>
      ManifestTable.append(spark, root, events.filter(col("event_id") % 3 === 0))
      graft.sources.DeltaLake.mirror(spark, root)
      ManifestTable.append(spark, root, events.filter(col("event_id") % 3 === 1))
      graft.sources.DeltaLake.mirror(spark, root)
      // the v2 write upgrades the protocol first (the spec requires the
      // v2Checkpoint feature), so the checkpoint lands at version 2
      val v = graft.sources.DeltaLake.writeCheckpointV2(spark, root, sidecarParts = 2)
      require(v == 2L, s"expected checkpoint at the upgraded delta version 2, got $v")
      // pre-checkpoint history gone: replay MUST come from the v2 layout
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(root, "_delta_log", f"${0L}%020d.json"))
      ManifestTable.append(spark, root, events.filter(col("event_id") % 3 === 2))
      graft.sources.DeltaLake.mirror(spark, root)
      val out = spark.read.format("graft-delta").load(root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  /** Iceberg HIDDEN temporal partitioning end-to-end (r15): publish the
    * events table `days(ts)`-partitioned — the DEFAULT Spark/Flink
    * event-table layout — then read a two-day slice back through the
    * partition-value pruner and aggregate. Timestamp columns carry NO
    * manifest bounds (writer stat set), so the declared day ordinal is
    * the ONLY pruning fact on this table; `IcebergSpec` proves the
    * numFiles=1 pruning both for the open-upper-bound day slice and
    * equality, and pins the spec's epoch-ordinal math. The oracle
    * recomputes the slice straight off the parquet. */
  def icebergTemporal(t: Tables): DataFrame = {
    val spark = t.spark
    val events = t.events.select(col("event_id"), col("event_type"), col("value"), col("ts"))
    // 1-row driver bound (the replaceDay pattern); LocalDate math keeps
    // the day-boundary strings zone-independent, and to_timestamp parses
    // them under the UTC session zone = the spec ordinals' epoch grid
    val day0 = events.agg(min(to_date(col("ts")))).collect()(0).getDate(0).toLocalDate
    withScratchTable("graft_icetemporal") { root =>
      graft.sources.IcebergWriter.create(spark, root, Seq(events),
        transforms = Seq("ts" -> "day"))
      val out = graft.sources.IcebergTable.read(spark, root)
        .filter(col("ts") >= to_timestamp(lit(day0.toString)) &&
          col("ts") < to_timestamp(lit(day0.plusDays(2).toString)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
      localize(spark, out)
    }
  }

  private val icebergTemporalSql =
    """WITH d AS (SELECT min(CAST(ts AS DATE)) AS day0 FROM events)
      |SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events
      |WHERE ts >= (SELECT CAST(day0 AS TIMESTAMP) FROM d)
      |  AND ts < (SELECT CAST(day0 AS TIMESTAMP) + INTERVAL 2 DAY FROM d)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  private val deltaV2CheckpointSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("etl_iceberg_expire", icebergExpire, Some(icebergExpireSql)),
    QueryDef("etl_iceberg_temporal", icebergTemporal, Some(icebergTemporalSql)),
    QueryDef("etl_delta_v2_checkpoint", deltaV2Checkpoint, Some(deltaV2CheckpointSql)),
    QueryDef("etl_iceberg_read", icebergRead, Some(icebergReadSql)),
    QueryDef("etl_iceberg_mirror", icebergMirror, Some(icebergMirrorSql)),
    QueryDef("etl_iceberg_changelog", icebergChangelog, Some(icebergChangelogSql)),
    QueryDef("etl_delta_lazy", deltaLazy, Some(deltaLazySql)),
    QueryDef("etl_iceberg_lazy", icebergLazy, Some(icebergLazySql)),
    QueryDef("etl_iceberg_add_files", icebergAddFiles, Some(icebergAddFilesSql)),
    QueryDef("etl_delta_convert", deltaConvert, Some(deltaConvertSql)),
    QueryDef("etl_sql_dml", sqlDml, Some(sqlDmlSql)),
    QueryDef("etl_dv_read", dvRead, Some(dvReadSql)),
    QueryDef("etl_dv_mor", dvMor, Some(dvMorSql)),
    QueryDef("etl_generated_partition", generatedPartition, Some(generatedPartitionSql)),
    QueryDef("etl_sql_lifecycle", sqlLifecycle, Some(sqlLifecycleSql)),
    QueryDef("etl_column_mapping", columnMapping, Some(columnMappingSql)),
    QueryDef("etl_bloom_skipping", bloomSkipping, Some(bloomSkippingSql)),
    QueryDef("stream_delta_source", deltaSourceStream, Some(deltaSourceStreamSql),
      stages = Some(deltaSourceStages)),
    QueryDef("stream_iceberg_source", icebergSourceStream, Some(icebergSourceStreamSql),
      stages = Some(icebergSourceStages)),
    QueryDef("etl_format_read", formatRead, Some(formatReadSql)),
    QueryDef("etl_skipping_read", skippingRead, Some(skippingReadSql)),
    QueryDef("etl_checkpoint_read", checkpointRead, Some(skippingReadSql)),
    QueryDef("etl_null_skipping", nullSkipping, Some(nullSkippingSql)),
    QueryDef("etl_shallow_clone", shallowCloneDiverge, Some(shallowCloneDivergeSql)),
    QueryDef("etl_change_feed", changeFeed, Some(changeFeedSql)),
    QueryDef("etl_delta_read", deltaRead, Some(deltaReadSql)),
    QueryDef("etl_delta_mirror", deltaMirror, Some(deltaMirrorSql)),
    QueryDef("etl_replace_day", replaceDay, Some(replaceDaySql)),
    QueryDef("etl_incremental_read", incrementalRead, Some(incrementalReadSql)),
    QueryDef("etl_schema_evolution", schemaEvolution, Some(schemaEvolutionSql)),
    QueryDef("etl_merge_upsert", mergeUpsert, Some(mergeUpsertSql)),
    QueryDef("etl_delete_where", deleteWhere, Some(deleteWhereSql)),
    QueryDef("etl_update_where", updateWhere, Some(updateWhereSql))
  )
}
