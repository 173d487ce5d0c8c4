package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Locally we run `local[32]`; on a cluster the same settings apply per the
  * brief: AQE handles runtime re-planning (coalescing post-shuffle
  * partitions, skew-join splitting), and broadcast joins are allowed up to
  * 64 MB so every TPC-H-style dimension table short-circuits its shuffle.
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries` for every graft session. */
  val CodegenCacheEntries = 4000

  def builder(appName: String = "graft", master: String = "local[32]"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", true)
      .config("spark.sql.adaptive.coalescePartitions.enabled", true)
      .config("spark.sql.adaptive.skewJoin.enabled", true)
      // let AQE re-plan (coalesce) reads OVER cached relations: the
      // bounded-model persists (NgramLm/funnel lifecycles) otherwise pin
      // every downstream action to the cache's full shuffle-partition
      // fan-out — ~30 one-row tasks per model-sized action (SPARK-39915's
      // switch, off by default only for output-partitioning compat)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", true)
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.parquet.filterPushdown", true)
      // ObjectHashAggregate (collect_list/collect_set — every posting-list
      // build in the dedup suite) falls back to sort-based aggregation
      // after only 128 distinct groups per task (the OSS default), which
      // then spills the ENTIRE aggregation input through the external
      // sorter. Our list-valued groups are bounded by construction (df cap
      // => ≤ ~8 KB per posting), so 8192 in-memory groups is ≤ 64 MB of
      // per-task state — the fallback safety valve stays for true scale,
      // but stops firing at per-task group counts the hash map can hold.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 8192)
      // Codegen cache (whole-stage and expression classes): Spark keeps 100
      // compiled classes by default. One curate pass (gates,
      // Dedup.survivors, BPE packing) generates ~160 and the 174-key board
      // ~2 950, so the LRU evicted every class before its reuse and each
      // pass recompiled them with Janino, mostly on the critical path. A
      // repeated board run adds ~300 classes (literal-specialized code, and
      // whole-stage classes named after a stage id AQE numbered
      // differently); 4000 holds Bench's warmup plus three passes in one
      // JVM (SCALE.md, "Codegen cache"). A class is ~3 KB of bytecode.
      // Static conf, read once when CodeGenerator initialises: a session
      // built outside this builder keeps Spark's default.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      // testdata events.ts is TIMESTAMP(NANOS); surface as long, convert in Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", true)
      // native vector_cosine + CosineFusionRule
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // SQL face: SELECT/INSERT/CREATE on graft.`/path` and graft.<name>
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
