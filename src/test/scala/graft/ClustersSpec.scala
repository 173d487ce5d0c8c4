package graft

import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.SaveMode

import scala.collection.mutable

/** Both connected-components operators against a driver-side union-find
  * over `Dedup.ngramJaccard`'s pairs, on a corpus with every component
  * shape: a long chain (label propagation needs one round per hop), a
  * star whose leaves share nothing with each other, two exact-duplicate
  * cliques and isolated documents. */
class ClustersSpec extends SparkSpec {

  /** Word 3-gram Jaccard of two docs covering token windows of 32 shifted
    * by 15 is 15/45: neighbours pair (τ = 0.2), docs two apart share no
    * shingle. */
  private val ChainLen = 40
  private def words(from: Int, n: Int, tag: String) = (from until from + n).map(i => s"$tag$i")

  private lazy val docs: Seq[(Long, String)] = {
    val chain = (0 until ChainLen).map(i => (100L + i, words(15 * i, 32, "c").mkString(" ")))
    // the center holds three 20-token segments, each leaf one segment
    // plus 5 tokens of its own: J = 18/63 center-leaf, 0 leaf-leaf; the
    // lowest id is a leaf, so its label crosses the center
    val segs = (0 until 3).map(j => words(20 * j, 20, "s"))
    val star = (500L, segs.flatten.mkString(" ")) +:
      segs.zipWithIndex.map { case (s, j) =>
        (490L + 3 * j, (s ++ words(5 * j, 5, "l")).mkString(" "))
      }
    val cliqueA = Seq(700L, 705L, 710L).map(_ -> words(0, 12, "a").mkString(" "))
    val cliqueB = Seq(801L, 803L, 807L, 809L).map(_ -> words(0, 9, "b").mkString(" "))
    val isolated = (0 until 5).map(i => (900L + i, words(0, 20, s"i${i}x").mkString(" ")))
    chain ++ star ++ cliqueA ++ cliqueB ++ isolated
  }

  private lazy val tables: Tables = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("clusters").toString
    docs.map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(3)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    Tables(spark, dir)
  }

  /** doc_id -> min doc_id of its component, by union-find on the pairs. */
  private lazy val expected: Map[Long, Long] = {
    val parent = mutable.Map(docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long = if (parent(x) == x) x else {
      val r = find(parent(x)); parent(x) = r; r
    }
    Dedup.ngramJaccard(tables).collect().foreach { r =>
      val (a, b) = (find(r.getAs[Long]("a")), find(r.getAs[Long]("b")))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    docs.map(d => d._1 -> find(d._1)).toMap
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap

  test("the corpus holds every component shape") {
    val sizes = expected.groupBy(_._2).map { case (rep, m) => rep -> m.size }
    assert(sizes(100L) === ChainLen)
    assert(sizes(490L) === 4)
    assert(sizes(700L) === 3 && sizes(801L) === 4)
    assert((0 until 5).forall(i => sizes(900L + i) == 1))
    assert(sizes.size === 1 + 1 + 2 + 5)
  }

  test("clusters (label propagation) equals union-find over the pairs") {
    assert(labels(Dedup.clusters(tables)) === expected)
  }

  test("clustersStar (star contraction) equals union-find over the pairs") {
    assert(labels(Dedup.clustersStar(tables)) === expected)
  }
}
