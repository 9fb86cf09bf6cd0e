package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.bm25.Bm25
import graft.core.Tables
import graft.dedup.Dedup
import graft.functions.VectorFunctions._
import graft.hybrid.HybridSearch

/** Operators must not leak CacheManager entries: intermediates are
  * localCheckpoint'ed (GC-scoped storage), so a long-lived session running
  * many ad-hoc queries needs no clearCache between requests.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def cachedPlans: Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager match {
      case cm => if (cm.isEmpty) 0 else 1
    }

  test("ad-hoc search operators leave the CacheManager empty") {
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf)
    val corpus = docs
      .join(Tables.embeddings(spark, sf), col("doc_id") === col("vec_id"))
      .select("doc_id", "text", "embedding")
    Bm25.search(spark, docs, Seq("spark", "join"), 5).collect()
    HybridSearch.search(spark, corpus, Seq("spark"),
      hashVectorValues(5L, Tables.EmbeddingDim), 5, 0.6).collect()
    Dedup.minhashLshPairs(docs, 5).collect()
    Dedup.nearDupComponents(docs).count()
    assert(cachedPlans == 0,
      "operator leaked a persisted plan into the CacheManager")
  }

  test("the index relation memo stays bounded across mutation cycles") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_memo").toString
    val coll = new graft.core.VectorDb(spark, root).createCollection("m", 8)
    def batch(gen: Int) = (0 until 40).map(i =>
        (s"id$i", i * 31 + gen, s"word$i word${(i + gen) % 7} cycle$gen"))
      .toDF("id", "k", "text")
      .select(col("id"), hashVector(col("k"), 8).as("vector"), col("text"))
    coll.insertBatch(batch(0))
    val mine = graft.index.IndexStore.slug(s"$root/m")
    def memo = graft.index.IndexStore.memoizedTables.filter(_._1.contains(mine))
    val sizes = (1 to 20).map { gen =>
      coll.upsert(batch(gen))
      coll.searchAnn(hashVectorValues(gen.toLong, 8), 5).collect()
      coll.searchText(Seq(s"cycle$gen", "word3"), 5).collect()
      val m = memo
      assert(m.forall(e => graft.index.IndexStore.ready(spark, e._1)),
        s"cycle $gen: memo holds a non-ready index path: $m")
      m.size
    }
    assert(sizes.forall(_ == sizes.head) && sizes.head > 0,
      s"memo size per cycle: $sizes")
  }
}
