package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.sources.{DeltaLake, GhArchiveSource, IcebergTable, IcebergWriter, ManifestTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Medallion ingest, one day at a time into one set of tables. A day: its
  * gzipped GH-Archive-shaped hour files stream one file per micro-batch
  * through a watermark dedup into an exactly-once silver append, while
  * the dead-letter reader captures the day's unparseable lines; the gold
  * dims are MERGEd and the day's fact is reloaded with replaceWhere; then
  * the nightly maintenance compacts and checkpoints silver and mirrors
  * silver to Delta and the flat fact to Iceberg (graft's Iceberg writer
  * maps no nested structs). The warmup ingests day 0, which creates the
  * tables; the timed phase runs whole days after it, at least
  * [[Main.MinUnits]], until `--seconds` has passed. */
object Ingest extends Workload {
  /** Days generated: more than a run reaches. */
  val Days = 8
  /** Hour files per day (00:00 to 02:00): a day is mostly per-job and
    * per-commit cost, and this size keeps three days inside a run's
    * budget on 4 cores. */
  val HoursPerDay = 2
  val EventsPerHour = 1500
  /** Shares of repeated, late and truncated lines: chosen so every path
    * (dedup, watermark, dead letters) does work on every day. The
    * repository has no GH-Archive traffic to derive them from: the
    * testdata events hold no duplicate, out-of-order or corrupt row. */
  val DupShare = 0.05
  val LateShare = 0.05
  val CorruptShare = 0.01
  val Actors = 5000
  val Repos = 8000
  val Orgs = 500
  /** Late events trail their hour by at most this much, inside the
    * dedup watermark below. */
  val LateSecs = 300
  val Watermark = "10 minutes"
  val Epoch = 1420070400L // 2015-01-01T00:00:00Z
  val Corrupt = "_corrupt_record"

  /** The generator's ground truth for one day. */
  final case class Day(date: String, dir: File, unique: Long, corrupt: Long, lines: Long,
      bytes: Long, dups: Long, late: Long, actors: mutable.BitSet, repos: mutable.BitSet,
      orgs: mutable.BitSet)

  final case class State(days: Seq[Day], pipeline: Pipeline)

  private def iso(ts: Long) = java.time.Instant.ofEpochSecond(ts).toString

  private def actorJson(kind: String, id: Int) =
    s"""{"id":$id,"login":"$kind$id","gravatar_id":"","avatar_url":"https://avatars.example/$kind/$id",""" +
      s""""url":"https://api.github.com/${kind}s/$kind$id"}"""

  private def eventLine(id: Long, ts: Long, r: java.util.SplittableRandom): (String, Int, Int, Int) = {
    val types = Array("PushEvent", "WatchEvent", "CreateEvent", "IssuesEvent", "ForkEvent")
    // skewed popularity: a few actors and repos carry most events
    val actor = (math.pow(r.nextDouble(), 2) * Actors).toInt
    val repo = (math.pow(r.nextDouble(), 2) * Repos).toInt
    val org = if (r.nextDouble() < 0.2) -1 else r.nextInt(Orgs)
    val orgJson = if (org < 0) "" else s""","org":${actorJson("org", org)}"""
    val line = s"""{"id":"$id","type":"${types(r.nextInt(types.length))}",""" +
      s""""actor":${actorJson("user", actor)},""" +
      s""""repo":{"id":$repo,"name":"owner${repo % 97}/repo$repo","url":"https://api.github.com/repos/r$repo"},""" +
      s""""payload":{"size":${r.nextInt(20)},"ref":"refs/heads/main"},"public":${r.nextInt(10) != 0},""" +
      s""""created_at":"${iso(ts)}"$orgJson}"""
    (line, actor, repo, org)
  }

  /** Writes every day's hour files and returns what a correct pipeline
    * must produce from them. Within a file lines are shuffled (out of
    * order); a share of events land one file late (inside the watermark);
    * a share are repeated, in the same file or, near the hour's end, the
    * next one; a share of lines are truncated JSON. Late and repeated
    * lines stay inside their day, so a day is complete once its own files
    * have streamed. */
  def generate(seed: Long, hourDir: File): Seq[Day] = {
    val r = new java.util.SplittableRandom(seed)
    var id = seed.abs % 1000000L * 1000000L
    (0 until Days).map { d =>
      val dayStart = Epoch + d * 86400L
      val dir = new File(hourDir, f"d$d%02d")
      dir.mkdirs()
      val files = Array.fill(HoursPerDay)(mutable.ArrayBuffer.empty[String])
      val actors = mutable.BitSet(); val repos = mutable.BitSet(); val orgs = mutable.BitSet()
      var dups = 0L; var late = 0L; var corrupt = 0L; var unique = 0L
      for (f <- 0 until HoursPerDay; _ <- 0 until EventsPerHour) {
        val hourStart = dayStart + f * 3600L
        val isLate = f + 1 < HoursPerDay && r.nextDouble() < LateShare
        val ts = if (isLate) hourStart + 3600 - 1 - r.nextInt(LateSecs) else hourStart + r.nextInt(3600)
        id += 1 + r.nextInt(3)
        val (line, a, rp, o) = eventLine(id, ts, r)
        val home = if (isLate) f + 1 else f
        files(home) += line
        if (isLate) late += 1
        unique += 1
        actors += a; repos += rp; if (o >= 0) orgs += o
        if (r.nextDouble() < DupShare) {
          val nearEnd = ts >= hourStart + 3600 - LateSecs
          files(if (nearEnd && home + 1 < HoursPerDay) home + 1 else home) += line
          dups += 1
        }
        if (r.nextDouble() < CorruptShare) {
          files(f) += line.take(10 + r.nextInt(line.length / 2))
          corrupt += 1
        }
      }
      var bytes = 0L
      files.zipWithIndex.foreach { case (lines, f) =>
        val shuffled = lines.toArray
        var i = shuffled.length - 1
        while (i > 0) {
          val j = r.nextInt(i + 1)
          val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
          i -= 1
        }
        // GH Archive publishes each hour as one gzipped JSON-lines file
        val p = new File(dir, f"d$d%02d-h$f%02d.json.gz").toPath
        val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
        try gz.write(shuffled.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        finally gz.close()
        bytes += Files.size(p)
      }
      Day(java.time.LocalDate.ofEpochDay(dayStart / 86400).toString, dir, unique, corrupt,
        files.map(_.size.toLong).sum, bytes, dups, late, actors, repos, orgs)
    }
  }

  /** Input generation only: no graft code runs in this set-up. */
  def setup(ctx: Ctx, dir: File): State =
    State(generate(ctx.seed, new File(dir, "hours")), new Pipeline(ctx, new File(dir, "tables")))

  /** Day 0: creates the tables the timed days continue, on a cold JVM,
    * and compiles every path they take. */
  def warmup(ctx: Ctx, st: State): State = {
    st.pipeline.day(st.days.head)
    st
  }

  /** What one day left for the metrics. */
  final case class DayOut(ms: Double, cpuMs: Double, batchMs: Seq[Double],
      progress: Seq[Map[String, Double]], commitMs: Seq[Double], mergeMs: Seq[Double],
      dimsMs: Double, compactMs: Double, deltaMs: Double, icebergMs: Double,
      filesBefore: Long, filesAfter: Long, streamRows: Long)

  /** The medallion tables, which every day continues. */
  final class Pipeline(ctx: Ctx, out: File) {
    private val spark = ctx.spark
    private def path(n: String) = new File(out, n).getAbsolutePath
    val roots = Map("silver" -> path("silver"), "fact" -> path("fact"), "users" -> path("users"),
      "repos" -> path("repos"), "orgs" -> path("orgs"), "dead" -> path("dead_letter"))
    private val landing = path("landing")
    private val ckpt = path("checkpoint")
    private val commitMs = mutable.ArrayBuffer.empty[Double]
    private val mergeMs = mutable.ArrayBuffer.empty[Double]

    private def commit[T](name: String, merge: Boolean = false)(body: => T): T = {
      val (r, ms) = Main.timeMs(ctx.span("sources.commit", name)(body))
      commitMs += ms
      if (merge) mergeMs += ms
      r
    }

    private def silverDay(d: Day) = ctx.span("sources.meta", "silver.readWhere")(
      ManifestTable.readWhere(spark, roots("silver"), col("day") === d.date))

    private def reloadFact(d: Day, name: String): Unit = {
      val fact = GhArchiveSource.events(silverDay(d)).withColumn("day", lit(d.date))
      commit(name) {
        if (ManifestTable.currentVersion(spark, roots("fact")).isEmpty)
          ManifestTable.append(spark, roots("fact"), fact, partitionBy = Seq("day"))
        else ManifestTable.replaceWhere(spark, roots("fact"), fact, col("day") === d.date)
      }
    }

    /** One day: land its hour files, dead-letter them, stream them into
      * silver, MERGE the gold dims, reload the day's fact, then run the
      * nightly maintenance. */
    def day(d: Day): DayOut = {
      commitMs.clear(); mergeMs.clear()
      val t0 = System.nanoTime()
      val cpu0 = Main.cpuMs()
      Files.createDirectories(new File(landing).toPath)
      d.dir.listFiles().foreach(f => Files.createLink(new File(landing, f.getName).toPath, f.toPath))
      ctx.span("operators", "dead_letters") {
        val dl = GhArchiveSource.readJsonWithDeadLetter(spark, d.dir.getAbsolutePath)
        try dl.bad.coalesce(1).write.mode("append").parquet(roots("dead")) finally dl.release()
      }
      // one hour file per micro-batch, split from unparseable lines the
      // way the dead-letter reader splits them, watermark dedup,
      // exactly-once append
      val progress = ctx.span("streaming", s"silver.${d.date}") {
        val q = spark.readStream
          .schema(GhArchiveSource.schema.add(StructField(Corrupt, StringType)))
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", Corrupt)
          .option("maxFilesPerTrigger", 1)
          .json(landing)
          .filter(col(Corrupt).isNull)
          .drop(Corrupt, "payload", "other")
          .withColumn("created_at", to_timestamp(col("created_at"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
          .withWatermark("created_at", Watermark)
          .dropDuplicatesWithinWatermark("id")
          .withColumn("day", date_format(col("created_at"), "yyyy-MM-dd"))
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            commit("silver.exactlyOnceAppend")(ManifestTable.exactlyOnceAppend(spark,
              roots("silver"), batch, "silver", batchId, partitionBy = Seq("day")))
            ()
          }
          .start()
        q.awaitTermination()
        q.recentProgress.filter(_.numInputRows > 0).toSeq
      }
      val silver = silverDay(d)
      val (_, dimsMs) = Main.timeMs(ctx.span("operators", "gold.dims") {
        Seq("users" -> GhArchiveSource.users _, "repos" -> GhArchiveSource.repos _,
          "orgs" -> GhArchiveSource.organizations _).foreach { case (t, dim) =>
          commit(s"merge.$t", merge = true) {
            if (ManifestTable.currentVersion(spark, roots(t)).isEmpty)
              ManifestTable.append(spark, roots(t), dim(silver))
            else ManifestTable.merge(spark, roots(t), dim(silver), Seq("id"))
          }
        }
      })
      reloadFact(d, "fact.replaceWhere")
      val filesBefore = ManifestTable.detail(spark, roots("silver"))._2
      val (_, compactMs) = Main.timeMs(ctx.span("sources.maint", "compact")(
        ManifestTable.compact(spark, roots("silver"), onlySmallerThanMb = Some(32))))
      ctx.span("sources.maint", "checkpoint")(
        ManifestTable.writeManifestCheckpoint(spark, roots("silver")))
      val filesAfter = ManifestTable.detail(spark, roots("silver"))._2
      val (_, deltaMs) = Main.timeMs(ctx.span("sources.maint", "mirror.delta")(
        DeltaLake.mirror(spark, roots("silver"))))
      val (_, icebergMs) = Main.timeMs(ctx.span("sources.maint", "mirror.iceberg")(
        IcebergWriter.mirror(spark, roots("fact"))))
      DayOut((System.nanoTime() - t0) / 1e6, Main.cpuMs() - cpu0,
        progress.map(_.durationMs.get("triggerExecution").doubleValue),
        progress.map(_.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap),
        commitMs.toList, mergeMs.toList, dimsMs, compactMs, deltaMs, icebergMs, filesBefore,
        filesAfter, progress.map(_.numInputRows).sum)
    }

    /** Replays `d`'s fact reload; true if it left the fact unchanged. */
    def replay(d: Day): Boolean = {
      def factDigest = ManifestTable.readWhere(spark, roots("fact"), col("day") === d.date)
        .agg(count(lit(1)), bit_xor(xxhash64(col("id"), col("actor_id"), col("created_at"))))
        .head().toSeq.mkString(",")
      val before = factDigest
      reloadFact(d, "fact.replay")
      factDigest == before
    }
  }

  /** Parquet data files under a table root, outside its log directories. */
  private def dataFiles(f: File): Seq[File] =
    if (f.isDirectory) {
      if (f.getName.startsWith("_") || f.getName == "metadata") Nil
      else Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles)
    } else if (f.getName.endsWith(".parquet")) Seq(f) else Nil

  private def logBytes(f: File): Long =
    if (!f.isDirectory) 0L
    else Option(f.listFiles()).toSeq.flatten.map { c =>
      if (c.isDirectory && (c.getName.startsWith("_") || c.getName == "metadata")) Main.treeBytes(c)
      else logBytes(c)
    }.sum

  /** One pruned read of a day through a format's read call or SQL: what
    * it returned and, in a traced run, what it cost. */
  final case class DayRead(format: String, rows: Long, metaMs: Double, planMs: Double,
      scan: ScanStats.Scan, files: Long)

  /** Reads `d` back through graft's API, its SQL, the Delta mirror of
    * silver and the Iceberg mirror of the fact, each pruned to the day's
    * partition. A traced run also times planning on a second instance of
    * the query and counts the files the scan opened against the files of
    * the whole snapshot. */
  private def readDay(ctx: Ctx, p: Pipeline, d: Day): Seq[DayRead] = {
    val spark = ctx.spark
    val day = col("day") === d.date
    def frame(format: String): DataFrame = format match {
      case "graft" => ManifestTable.readWhere(spark, p.roots("silver"), day)
      case "sql" => spark.sql(
        s"SELECT * FROM graft.`${p.roots("silver")}` WHERE day = '${d.date}'")
      case "delta" => DeltaLake.read(spark, p.roots("silver")).filter(day)
      case "iceberg" => IcebergTable.read(spark, p.roots("fact")).filter(day)
    }
    def whole(format: String): DataFrame = format match {
      case "graft" | "sql" => ManifestTable.read(spark, p.roots("silver"))
      case "delta" => DeltaLake.read(spark, p.roots("silver"))
      case "iceberg" => IcebergTable.read(spark, p.roots("fact"))
    }
    Seq("graft", "sql", "delta", "iceberg").map { f =>
      val layer = if (f == "sql") "plans" else "sources.meta"
      val (df, metaMs) = Main.timeMs(ctx.span(layer, s"$f.read")(frame(f)).agg(count(lit(1))))
      // collect() runs df's own plan, whose scan metrics ScanStats reads
      val rows = ctx.span("spark", s"$f.execute")(df.collect().head.getLong(0))
      if (!ctx.tracer.enabled) DayRead(f, rows, metaMs, 0.0, ScanStats.Scan(0, 0, 0), 0L)
      else {
        val again = frame(f).agg(count(lit(1)))
        val (_, planMs) = Main.timeMs(again.queryExecution.executedPlan)
        val all = whole(f).agg(count(lit(1)))
        all.collect()
        DayRead(f, rows, metaMs, planMs, ScanStats.of(df), ScanStats.of(all).files)
      }
    }
  }

  def run(ctx: Ctx, st: State): Outcome = {
    val spark = ctx.spark
    val p = st.pipeline
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[DayOut]
    ctx.span("bench", "timed") {
      while (1 + out.size < st.days.size &&
          (out.size < Main.MinUnits || (System.nanoTime() - t0) / 1e9 < ctx.seconds))
        out += p.day(st.days(1 + out.size))
    }
    val ingested = st.days.take(1 + out.size)
    val replayUnchanged = p.replay(ingested.last)
    val reads = readDay(ctx, p, ingested.last)

    // output checks over every day ingested, day 0 included
    val silver = ManifestTable.read(spark, p.roots("silver"))
    val silverIds = silver.select("id").distinct().count()
    val silverRows = silver.count()
    def rows(n: String) = ManifestTable.read(spark, p.roots(n)).count()
    def distinct(f: Day => mutable.BitSet) = ingested.map(f).reduce(_ | _).size.toLong
    val unique = ingested.map(_.unique).sum
    val corrupt = ingested.map(_.corrupt).sum
    val perDay = ManifestTable.read(spark, p.roots("fact")).groupBy("day").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val checks = Seq(
      s"silver distinct ids = unique events ($unique)" -> (silverIds == unique),
      "silver holds no duplicate ids" -> (silverRows == silverIds),
      s"dead letters = corrupt lines ($corrupt)" ->
        (spark.read.parquet(p.roots("dead")).count() == corrupt),
      s"users = distinct actors (${distinct(_.actors)})" -> (rows("users") == distinct(_.actors)),
      s"repos = distinct repos (${distinct(_.repos)})" -> (rows("repos") == distinct(_.repos)),
      s"orgs = distinct orgs (${distinct(_.orgs)})" -> (rows("orgs") == distinct(_.orgs)),
      "fact rows per day = events per day" -> (perDay == ingested.map(d => d.date -> d.unique).toMap),
      s"replayed reload of ${ingested.last.date} changes nothing" -> replayUnchanged,
      "delta mirror = silver" -> (DeltaLake.read(spark, p.roots("silver")).count() == silverRows),
      "iceberg mirror = fact" -> (IcebergTable.read(spark, p.roots("fact")).count() == unique)) ++
      reads.map(r => s"${r.format} read of ${ingested.last.date} = its events " +
        s"(${ingested.last.unique})" -> (r.rows == ingested.last.unique))

    val stored = Seq("silver", "fact", "users", "repos", "orgs", "dead")
      .map(n => Main.treeBytes(new File(p.roots(n)))).sum
    val batchMs = out.flatMap(_.batchMs)
    val prog = out.flatMap(_.progress)
    def progP50(k: String) = Stats.median(prog.map(_.getOrElse(k, 0.0)))
    def dayP50(f: DayOut => Double) = Stats.median(out.map(f))
    val commits = out.flatMap(_.commitMs)
    val added = dataFiles(new File(p.roots("silver")))
    val e2e = Map(
      "throughput_per_s" ->
        Stats.median(out.zip(ingested.tail).map { case (o, d) => d.lines / (o.ms / 1e3) }),
      "latency_ms_p50" -> Stats.median(batchMs),
      "latency_ms_p90" -> Stats.quantile(batchMs, 0.9),
      "cpu_ms_per_op" -> dayP50(o => o.cpuMs / o.batchMs.size),
      "stored_bytes_per_input_byte" -> stored.toDouble / ingested.map(_.bytes).sum)
    val layer = Map(
      "streaming.add_batch_ms_p50" -> progP50("addBatch"),
      "streaming.planning_ms_p50" -> progP50("queryPlanning"),
      "streaming.wal_ms_p50" -> progP50("walCommit"),
      "streaming.rows_kept_ratio" ->
        silver.filter(col("day").isin(ingested.tail.map(_.date): _*)).count().toDouble /
          out.map(_.streamRows).sum,
      "sources.commit.calls" -> commits.size.toDouble,
      "sources.commit.ms_p50" -> Stats.median(commits),
      "sources.commit.ms_p90" -> Stats.quantile(commits, 0.9),
      "sources.commit.merge_s" -> dayP50(_.mergeMs.sum) / 1e3,
      "sources.commit.files_added" -> added.size.toDouble,
      "sources.commit.bytes_added" -> added.map(_.length()).sum.toDouble,
      "sources.maint.compact_s" -> dayP50(_.compactMs) / 1e3,
      "sources.maint.mirror_delta_s" -> dayP50(_.deltaMs) / 1e3,
      "sources.maint.mirror_iceberg_s" -> dayP50(_.icebergMs) / 1e3,
      "sources.maint.files_before" -> out.last.filesBefore.toDouble,
      "sources.maint.files_after" -> out.last.filesAfter.toDouble,
      "sources.maint.log_bytes" -> logBytes(new File(p.roots("silver"))).toDouble,
      "sources.meta.versions" ->
        ManifestTable.currentVersion(spark, p.roots("silver")).getOrElse(0L).toDouble,
      "operators.dims_s" -> dayP50(_.dimsMs) / 1e3,
      "plans.plan_ms_p50.api" -> Stats.median(reads.filter(_.format != "sql").map(_.planMs)),
      "plans.plan_ms_p50.sql" -> reads.filter(_.format == "sql").map(_.planMs).sum,
      "sources.scan.bytes_read" -> reads.map(_.scan.bytes).sum.toDouble,
      "sources.scan.rows_read_per_row_out" ->
        reads.map(_.scan.rows).sum.toDouble / reads.map(_.rows).sum) ++
      reads.filter(_.format != "sql").flatMap { r =>
        val f = r.format
        Seq(s"sources.meta.ms_p50.$f" -> r.metaMs,
          s"sources.scan.files_read.$f" -> r.scan.files.toDouble,
          s"sources.scan.files_total.$f" -> r.files.toDouble,
          s"sources.scan.files_read_ratio.$f" -> r.scan.files.toDouble / math.max(1L, r.files))
      }
    Outcome(e2e, layer, ops = batchMs.size.toLong, opsFailed = 0L, checks,
      Map("days" -> ingested.size, "timed_days" -> out.size, "hour_files" -> ingested.size * HoursPerDay,
        "lines" -> ingested.map(_.lines).sum, "bytes" -> ingested.map(_.bytes).sum,
        "unique_events" -> unique, "dup_lines" -> ingested.map(_.dups).sum,
        "late_events" -> ingested.map(_.late).sum, "corrupt_lines" -> corrupt,
        "dup_share" -> DupShare, "late_share" -> LateShare, "corrupt_share" -> CorruptShare,
        "actors" -> distinct(_.actors), "repos" -> distinct(_.repos), "orgs" -> distinct(_.orgs),
        "micro_batches" -> batchMs.size))
  }
}
