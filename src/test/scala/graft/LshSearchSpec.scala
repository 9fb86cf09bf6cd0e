package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions.hashVectorValues
import graft.index.{IndexStore, LshIndex}
import graft.knn.{Ann, Knn}

/** `LshIndex.search` dedups candidates with a bounded top-(k·Bands) +
  * `distinct` instead of a `dropDuplicates(id)` shuffle. The two forms
  * must agree row for row; the corpus is clustered so most candidates
  * collide with the query in two or more bands — the case the dedup
  * exists for.
  */
class LshSearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val D = 16

  /** 600 vectors around 4 centres (small per-row noise), tag = i % 3. */
  private lazy val corpus: DataFrame = (0 until 600).map { i =>
    val c = hashVectorValues(1L + i % 4, D)
    val noise = hashVectorValues(1000L + i, D)
    (i.toLong, c.zip(noise).map { case (a, b) => a + 0.1 * b }, s"t${i % 3}")
  }.toDF("id", "vec", "tag")

  private lazy val path: String = {
    val p = s"${Files.createTempDirectory("graft_lshsearch")}/lsh"
    IndexStore.ensure(spark, p)(q => LshIndex.build(spark, corpus, "vec",
      "id", D, q, metaCols = Seq("tag")))
    p
  }

  private val qv = hashVectorValues(1L, D).zip(hashVectorValues(77L, D))
    .map { case (a, b) => a + 0.05 * b }

  private def probe(multiProbe: Boolean): Column = {
    val qb = Ann.bandValues(qv, D)
    (0 until Ann.Bands).map { b =>
      col("band_idx") === b &&
        col("band_val").isin(Ann.probeVals(qb(b), multiProbe): _*)
    }.reduce(_ || _)
  }

  /** The pre-change search body, kept verbatim as the reference. */
  private def reference(k: Int, filter: Option[Column],
      multiProbe: Boolean): DataFrame = {
    val base = spark.read.parquet(s"$path/buckets").filter(probe(multiProbe))
    filter.map(base.filter).getOrElse(base)
      .dropDuplicates("id")
      .withColumn("score",
        round(Knn.distance("cosine", col("vec"), typedlit(qv)), 6))
      .select("id", "score")
      .orderBy(col("score"), col("id"))
      .limit(k)
  }

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("the corpus makes most candidates collide in two or more bands") {
    val hits = spark.read.parquet(s"$path/buckets").filter(probe(false))
      .groupBy("id").count().collect().map(_.getLong(1))
    assert(hits.length > 50, s"only ${hits.length} candidates")
    assert(hits.count(_ >= 2) * 2 > hits.length,
      s"${hits.count(_ >= 2)} of ${hits.length} candidates collide twice")
  }

  for (multiProbe <- Seq(false, true); filtered <- Seq(false, true)) {
    test(s"equals the dropDuplicates form (multiProbe=$multiProbe, " +
        s"filter=$filtered)") {
      val filter = if (filtered) Some(col("tag") === "t1") else None
      val candidates = {
        val base = spark.read.parquet(s"$path/buckets")
          .filter(probe(multiProbe))
        filter.map(base.filter).getOrElse(base)
          .select("id").distinct().count().toInt
      }
      // k beyond the candidate count returns every candidate exactly once
      for (k <- Seq(1, 5, 10, 37, candidates + 50)) {
        val got = rows(LshIndex.search(spark, path, "vec", "id", qv, D, k,
          filter, multiProbe = multiProbe))
        assert(got == rows(reference(k, filter, multiProbe)),
          s"k=$k diverged")
        assert(got.size == math.min(k, candidates))
        assert(got.map(_._1).distinct.size == got.size)
      }
    }
  }

  test("the probe plan has no shuffle exchange") {
    val plan = LshIndex.search(spark, path, "vec", "id", qv, D, 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("PartitionFilters: ["), plan)
  }
}
