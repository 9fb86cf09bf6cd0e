package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.bm25.Bm25
import graft.core.{Tables, VectorCollection, VectorDb}
import graft.functions.VectorFunctions
import graft.index.{IndexStore, LshIndex}
import graft.knn.{Ann, Knn}

/** The warm client read path: each immutable generation's data and index
  * relations resolve once (`VectorCollection.df`'s fingerprint-keyed memo,
  * `IndexStore.table`), so a warm read launches only its own query jobs —
  * and a new generation, from any writer, is never served off a memo.
  */
class ReadPathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val D = 16
  private val Words = Seq("spark", "vector", "index", "query", "parquet",
    "graph", "stream", "token", "shard", "cache", "merge", "probe")

  /** `n` rows from `from`: id r<k>, vector = hashVector(k), 6 words of text
    * and a tag. */
  private def docs(from: Int, n: Int): DataFrame = {
    val w = array(Words.map(lit): _*)
    def word(i: Int) =
      element_at(w, ((col("k") * (i + 3) + i) % Words.size + 1).cast("int"))
    spark.range(from, from + n).select(col("id").as("k"))
      .select(concat(lit("r"), col("k")).as("id"),
        VectorFunctions.hashVector(col("k"), D).as("vector"),
        concat_ws(" ", (0 until 6).map(word): _*).as("text"),
        concat(lit("t"), col("k") % 3).as("tag"))
  }

  private def row(id: String, k: Long, text: String): DataFrame =
    Seq((id, k, text)).toDF("id", "k", "text")
      .select(col("id"), VectorFunctions.hashVector(col("k"), D).as("vector"),
        col("text"), lit("t0").as("tag"))

  /** Jobs launched by `body`, counted by job group. The listener bus is
    * asynchronous: a fence job's start event is delivered after every
    * earlier event, so waiting for it makes the count complete. */
  private final class JobCounter extends SparkListener {
    val byGroup = new ConcurrentHashMap[String, AtomicInteger]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      byGroup.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet()
    }
    private var n = 0
    def jobs(body: => Any): Int = {
      val sc = spark.sparkContext
      n += 1
      val g = s"readpath-$n"
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$g-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!byGroup.containsKey(s"$g-fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      Option(byGroup.get(g)).map(_.get).getOrElse(0)
    }
  }

  test("a warm read launches only its own jobs") {
    val root = Files.createTempDirectory("graft_readpath").toString
    val coll = new VectorDb(spark, root).createCollection("w", D)
    coll.insertBatch(docs(0, 2000))
    coll.ensureAnnIndex(); coll.ensureTextIndex(); coll.ensureHybridIndex()
    val qv = VectorFunctions.hashVectorValues(4242L, D)
    val terms = Seq("vector", "probe")
    val reads: Seq[(String, () => DataFrame, Int => Boolean)] = Seq(
      ("search", () => coll.search(qv, 10), _ == 1),
      ("get", () => coll.get(Seq("r1", "r7", "r1999")), _ == 1),
      ("searchAnn", () => coll.searchAnn(qv, 10), _ == 1),
      ("searchAnn+filter",
        () => coll.searchAnn(qv, 10, Some(graft.filter.Eq("tag", "t1"))),
        _ == 1),
      ("searchText", () => coll.searchText(terms, 10), _ <= 6),
      ("searchHybrid", () => coll.searchHybrid(terms, qv, 10), _ <= 6))
    reads.foreach(r => r._2().collect()) // warm-up
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try reads.foreach { case (name, read, ok) =>
      val n = counter.jobs(read().collect())
      assert(ok(n), s"$name launched $n jobs")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("another instance's commits are seen by a warm instance's reads") {
    val root = Files.createTempDirectory("graft_readpath").toString
    val c1 = new VectorDb(spark, root).createCollection("s", D)
    c1.insertBatch(docs(0, 200))
    val c2 = new VectorDb(spark, root).getCollection("s").get
    val qv = VectorFunctions.hashVectorValues(5000L, D)
    val terms = Seq("zanzibar")
    val ids = Seq("n1", "r3", "r4")

    def reads(c: VectorCollection) = (
      c.get(ids).select("id", "text").as[(String, String)].collect().toSet,
      c.search(qv, 5).select("id", "score").as[(String, Double)].collect().toSeq,
      c.searchAnn(qv, 5).as[(String, Double)].collect().toSeq,
      c.searchText(terms, 5).as[(String, Double)].collect().toSeq)
    // the same four reads over a fresh, unmemoized read of the data dir
    def expected() = {
      val d = spark.read.parquet(s"$root/s/data")
      (d.filter(col("id").isin(ids: _*)).select("id", "text")
          .as[(String, String)].collect().toSet,
        Knn.search(d, col("vector"), typedlit(qv), "cosine", 5, idCol = "id")
          .select("id", "score").as[(String, Double)].collect().toSeq,
        Ann.lshSearch(d, "vector", "id", qv, D, 5)
          .as[(String, Double)].collect().toSeq,
        Bm25.search(spark, d.select(col("id").as("doc_id"), col("text")),
          terms, 5).as[(String, Double)].collect().toSeq)
    }
    assert(reads(c1) == expected()) // memoizes every relation c1 reads

    c2.insertBatch(row("n1", 5000L, "zanzibar zanzibar"))
    val ins = reads(c1)
    assert(ins == expected())
    assert(ins._1.map(_._1).contains("n1") && ins._2.head == ("n1", 0.0) &&
      ins._3.head == ("n1", 0.0) && ins._4.map(_._1) == Seq("n1"))

    c2.upsert(row("n1", 7L, "plain").unionByName(row("r3", 5000L, "zanzibar")))
    val ups = reads(c1)
    assert(ups == expected())
    assert(ups._2.head == ("r3", 0.0) && ups._3.head == ("r3", 0.0) &&
      ups._4.map(_._1) == Seq("r3"))

    assert(c2.deleteIds(Seq("r3")) == 1)
    val del = reads(c1)
    assert(del == expected())
    assert(!del._1.map(_._1).contains("r3") && del._4.isEmpty &&
      !del._2.map(_._1).contains("r3"))

    c2.compact(targetFiles = 2)
    assert(reads(c1) == del) // new files, same content
  }

  test("an in-place mutate append is seen by the next LshIndex.search") {
    val emb = Tables.embeddings(spark, SparkTestSession.sf).localCheckpoint()
    val first = emb.filter(col("vec_id") < 30)
    val rest = emb.filter(col("vec_id") >= 30)
    val dim = Tables.EmbeddingDim
    val qv = rest.orderBy("vec_id").select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    val p = s"${Files.createTempDirectory("graft_readpath")}/lsh"
    IndexStore.ensure(spark, p)(q => LshIndex.build(spark, first,
      "embedding", "vec_id", dim, q, compact = true))
    def probe() = LshIndex.search(spark, p, "embedding", "vec_id", qv, dim, 5)
      .collect().toSeq
    val before = probe() // memoizes the bucket relation
    IndexStore.mutate(spark, p)(q => LshIndex.append(spark, rest,
      "embedding", "vec_id", dim, q, compact = true))
    val after = probe()
    assert(after == Ann.lshSearch(emb, "embedding", "vec_id", qv, dim, 5)
      .collect().toSeq)
    assert(after.head.getDouble(1) == 0.0 && after != before)
  }

  test("a new session never receives another session's memoized frame") {
    val emb = Tables.embeddings(spark, SparkTestSession.sf)
    val dim = Tables.EmbeddingDim
    val p = s"${Files.createTempDirectory("graft_readpath")}/lsh"
    IndexStore.ensure(spark, p)(q =>
      LshIndex.build(spark, emb, "embedding", "vec_id", dim, q))
    val a = IndexStore.table(spark, p, "buckets")
    assert(IndexStore.table(spark, p, "buckets") eq a)
    val s2 = spark.newSession()
    val b = IndexStore.table(s2, p, "buckets")
    assert(!(b eq a) && (b.sparkSession eq s2) && (a.sparkSession eq spark))
    assert(IndexStore.table(s2, p, "buckets") eq b)
    val qv = VectorFunctions.hashVectorValues(3L, dim)
    val viaS2 = LshIndex.search(s2, p, "embedding", "vec_id", qv, dim, 5)
    assert(viaS2.sparkSession eq s2)
    assert(viaS2.collect().toSeq ==
      LshIndex.search(spark, p, "embedding", "vec_id", qv, dim, 5)
        .collect().toSeq)
    // an invalidated path is never served off the memo
    IndexStore.invalidate(spark, p)
    assert(!IndexStore.memoizedTables.exists(_._1 == p))
  }
}
