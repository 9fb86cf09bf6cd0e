package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{VectorCollection, VectorDb}
import graft.filter.{And, Eq, Gte, In, Lt, Pred}

/** A metadata filter as the engine sees it (`pred`) and as the oracle
  * applies it (`keep`). */
final case class Filter(pred: Pred, keep: Doc => Boolean)

object Filter {
  /** Filter shape for query `q`, rotating through four shapes whose
    * selectivities span about 2% to 20%: one Zipf category (ranks 2–12),
    * a price band, three years, and a composite And. */
  def forQuery(q: Long): Filter = (q % 4).toInt match {
    case 0 =>
      val cat = f"cat${1 + (q / 4 % 11).toInt}%02d"
      Filter(Eq("category", cat), _.category == cat)
    case 1 =>
      val lo = (q * 37 % 800).toDouble; val hi = lo + 50 * (1 + q / 4 % 4)
      Filter(And(Gte("price", lo), Lt("price", hi)), d => d.price >= lo && d.price < hi)
    case 2 =>
      val ys = Seq(2000, 2008, 2016).map(_ + (q / 4 % 8).toInt)
      Filter(In("year", ys), d => ys.contains(d.year))
    case _ =>
      Filter(And(Eq("category", "cat00"), Gte("year", 2016)),
        d => d.category == "cat00" && d.year >= 2016)
  }
}

/** What one run measured, before it is turned into named metrics. */
final class Outcome {
  val setup = mutable.LinkedHashMap.empty[String, Double] // step -> ms
  var setupS = 0.0
  var recallSum = 0.0
  var recallN = 0
  var storedBytes = 0L
  var indexBytes = 0L
  var userBytes = 0L
  var dataFiles = 0L
  var changelogFiles = 0L
  var loopFrom = 0 // index into client.timed where the measured loop began
  var loopTo = 0
  def addRecall(r: Double): Unit = { recallSum += r; recallN += 1 }
}

/** Shared machinery of the workloads: the collection, the oracle's copy,
  * the client, and the read and write calls with their checks. */
abstract class Workload(val spark: SparkSession, val gen: Gen, val work: String,
    val client: Client) {
  val K = 10
  val BatchQueries = 100
  val dim: Int = gen.dim
  val out = new Outcome
  val corpus = new Corpus(dim)
  private var nextQuery = 0L
  private var nextRow = 0L
  private var pickDraw = 0L
  val db = new VectorDb(spark, s"$work/db")
  var coll: VectorCollection = _

  /** Every (event_type, id) the collection's changelog must hold. */
  val expectedEvents = mutable.HashMap.empty[(String, String), Int]
  val deleted = mutable.LinkedHashSet.empty[String]
  val reembedded = mutable.LinkedHashSet.empty[String]

  def name: String
  def initialRows: Int
  /** Read kinds whose latencies make up read_p50/read_p90. */
  def readKinds: Set[String]
  /** One cycle of the measured loop. */
  def cycle(traced: Boolean): Unit

  private val schema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("vector", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("category", StringType), StructField("price", DoubleType),
    StructField("year", IntegerType), StructField("text", StringType)))

  def frame(ds: Seq[Doc]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(ds.map(d =>
      Row(d.id, d.vector.toSeq, d.category, d.price, d.year, d.text)),
      spark.sparkContext.defaultParallelism), schema)

  def userBytes(d: Doc): Long =
    8L * d.vector.length + d.id.length + d.category.length + 8 + 4 +
      d.text.getBytes("UTF-8").length

  private def timeMs[A](step: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    out.setup(step) = (System.nanoTime() - t0) / 1e6
    r
  }

  /** Generate, load, and build every index the loop reads through. */
  def setUp(): Unit = {
    val t0 = System.nanoTime()
    val docs = timeMs("gen_ms")(gen.docs(0, initialRows))
    nextRow = initialRows
    coll = db.createCollection(name, dim)
    timeMs("load_ms")(coll.insertBatch(frame(docs.toSeq)))
    timeMs("build_ann_ms")(coll.ensureAnnIndex())
    timeMs("build_text_ms")(coll.ensureTextIndex())
    timeMs("build_hybrid_ms")(coll.ensureHybridIndex())
    out.setupS = (System.nanoTime() - t0) / 1e9
    docs.foreach { d => corpus.put(d); expectedEvents(("insert", d.id)) = 1 }
  }

  /** One untimed call of each read kind, so the measured loop starts with
    * the JIT and the engine's per-kind caches warm. */
  def warmUp(): Unit = {
    val saved = client.timed.size
    readKinds.toSeq.sorted.foreach(readOp)
    client.timed.remove(saved, client.timed.size - saved)
    out.recallSum = 0.0; out.recallN = 0
  }

  var cycles = 0
  /** Runs `n` whole cycles, so every run issues the same op sequence. */
  def loop(n: Int, traced: Boolean): Unit = {
    out.loopFrom = client.timed.size
    (1 to n).foreach { _ => cycle(traced); cycles += 1 }
    out.loopTo = client.timed.size
  }

  private def query(): Query = { nextQuery += 1; gen.query(nextQuery) }

  private def picks(n: Int): Seq[String] = {
    pickDraw += 1
    gen.pick(pickDraw, corpus.size, n).map(corpus.idAt)
  }

  def readOp(kind: String): Unit = kind match {
    case "ann" =>
      val q = query()
      client.read("ann")(coll.searchAnn(q.vector.toSeq, K)) { rows =>
        val got = Client.pairs(rows)
        out.addRecall(Oracle.recall(got.map(_._1), corpus.topK(q.vector, K).map(_._1)))
        Oracle.checkApprox(got, corpus, q.vector, K)
      }
    case "ann_filtered" =>
      val q = query(); val f = Filter.forQuery(nextQuery)
      client.read("ann_filtered")(coll.searchAnn(q.vector.toSeq, K, Some(f.pred))) { rows =>
        Oracle.checkApprox(Client.pairs(rows), corpus, q.vector, K, f.keep)
      }
    case "exact" =>
      val q = query()
      client.read("exact")(coll.search(q.vector.toSeq, K).select("id", "score")) { rows =>
        Oracle.checkExact(Client.pairs(rows), corpus, q.vector, K)
      }
    case "text" =>
      val q = query()
      client.read("text")(coll.searchText(q.terms, K)) { rows =>
        Oracle.checkRanked(Client.pairs(rows), corpus, K)
      }
    case "hybrid" =>
      val q = query()
      client.read("hybrid")(coll.searchHybrid(q.terms, q.vector.toSeq, K)
          .select("id", "score")) { rows =>
        Oracle.checkRanked(Client.pairs(rows), corpus, K)
      }
    case "get" =>
      val ids = picks(10)
      client.read("get")(coll.get(ids).select("id", "vector")) { rows =>
        val got = rows.map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
        if (got.keySet != ids.toSet) Some(s"ids ${got.keySet.size} != ${ids.size} asked")
        else ids.collectFirst {
          case id if got(id) != corpus.doc(id).vector.toSeq => s"vector of $id differs"
        }
      }
    case "batch_exact" =>
      val qs = Seq.fill(BatchQueries)(query())
      val qdf = queryFrame(qs, "query_id")
      client.read("batch_exact", BatchQueries)(
          coll.searchBatch(qdf, K).select("query_id", "id", "score")) { rows =>
        perQuery(rows, "query_id", qs)((got, q) => Oracle.checkExact(got, corpus, q.vector, K))
      }
    case "batch_ann" => batchAnn()
  }

  def batchAnn(): Unit = {
    val qs = Seq.fill(BatchQueries)(query())
    val qdf = queryFrame(qs, "qid")
    client.read("batch_ann", BatchQueries)(coll.searchAnnBatch(qdf, K)) { rows =>
      perQuery(rows, "qid", qs) { (got, q) =>
        out.addRecall(Oracle.recall(got.map(_._1), corpus.topK(q.vector, K).map(_._1)))
        Oracle.checkApprox(got, corpus, q.vector, K)
      }
    }
  }

  private def queryFrame(qs: Seq[Query], key: String): DataFrame = {
    import spark.implicits._
    qs.zipWithIndex.map { case (q, i) => (i.toLong, q.vector.toSeq) }.toDF(key, "qvec")
  }

  /** Splits a batch result by query and checks each query's rows in order. */
  private def perQuery(rows: Array[Row], key: String, qs: Seq[Query])(
      check: (Seq[(String, Double)], Query) => Option[String]): Option[String] = {
    val byQ = rows.groupBy(_.getAs[Long](key))
    qs.indices.iterator.map { i =>
      val got = byQ.getOrElse(i.toLong, Array.empty[Row])
        .map(r => r.getAs[String]("id") -> r.getAs[Double]("score")).toSeq
        .sortBy { case (id, s) => (s, id) }
      check(got, qs(i)).map(m => s"query $i: $m")
    }.collectFirst { case Some(m) => m }
  }

  private def logEvents(kind: String, ids: Seq[String]): Unit =
    ids.foreach(id => expectedEvents((kind, id)) = expectedEvents.getOrElse((kind, id), 0) + 1)

  def writeOp(kind: String): Unit = kind match {
    case "insert" =>
      val docs = gen.docs(nextRow, 500); nextRow += 500
      val df = frame(docs.toSeq)
      if (client.write("insert")(coll.insertBatch(df))) {
        docs.foreach(corpus.put); logEvents("insert", docs.map(_.id))
        mutated(docs)
      }
    case "upsert" =>
      val fresh = gen.docs(nextRow, 100); nextRow += 100
      val again = picks(100).map(id => gen.reembed(corpus.doc(id), nextRow))
      val docs = fresh.toSeq ++ again
      val df = frame(docs)
      if (client.write("upsert")(coll.upsert(df))) {
        docs.foreach(corpus.put); logEvents("upsert", docs.map(_.id))
        reembedded ++= again.map(_.id)
        mutated(docs)
      }
    case "delete" =>
      val ids = picks(50)
      val docs = ids.map(corpus.doc)
      var n = -1L
      if (client.write("delete") { n = coll.deleteIds(ids) }) {
        if (n != ids.size) client.fail(s"delete removed $n of ${ids.size}")
        ids.foreach(corpus.remove); logEvents("delete", ids)
        deleted ++= ids; reembedded --= ids
        mutated(docs)
      }
  }

  /** User bytes mutated by the traced run's writes (for write_amp). */
  var mutatedBytes = 0L
  private def mutated(docs: Seq[Doc]): Unit = mutatedBytes += docs.map(userBytes).sum

  /** Explicit index refresh (traced runs): the cost a read would otherwise
    * pay inside its own call after a mutation. */
  def refresh(): Unit = client.refresh(ensureIndexes())

  def ensureIndexes(): Unit = {
    coll.ensureAnnIndex(); coll.ensureTextIndex(); coll.ensureHybridIndex()
  }

  /** End-of-run checks that hold for every workload, plus storage sizes. */
  def finish(): Unit = {
    client.verify("count") {
      val n = coll.count()
      if (n != corpus.size) Some(s"$n rows, ${corpus.size} live") else None
    }
    client.verify("changelog") {
      val got = coll.changelog.groupBy("event_type", "id").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2).toInt).toMap
      val differ = (got.keySet ++ expectedEvents.keySet).count(k => got.get(k) != expectedEvents.get(k))
      if (differ > 0) Some(s"$differ (event, id) pairs differ from the mutations made") else None
    }
    val collDir = new java.io.File(s"$work/db/$name")
    out.storedBytes = Files.bytes(collDir)
    out.indexBytes = Files.bytes(new java.io.File(graft.index.IndexStore.root))
    out.dataFiles = Files.count(new java.io.File(collDir, "data"), ".parquet")
    out.changelogFiles = Files.count(new java.io.File(collDir, "changelog"), ".parquet")
    out.userBytes = (0 until corpus.size).map(i => userBytes(corpus.doc(corpus.idAt(i)))).sum
  }
}

object Files {
  private def walk(f: java.io.File): Iterator[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk)
    else if (f.isFile) Iterator(f) else Iterator.empty
  def bytes(f: java.io.File): Long = walk(f).map(_.length).sum
  def count(f: java.io.File, suffix: String): Long = walk(f).count(_.getName.endsWith(suffix)).toLong
}

/** `serve`: reads only. One cycle is 20 single-query reads in the mix
  * 30% searchAnn, 15% filtered searchAnn, 15% exact search, 15%
  * searchText, 15% searchHybrid, 10% get of 10 ids, then one searchBatch
  * and one searchAnnBatch of 100 queries each. */
final class Serve(spark: SparkSession, gen: Gen, work: String, client: Client,
    rows: Int) extends Workload(spark, gen, work, client) {
  val name = "serve"
  val initialRows: Int = rows
  val readKinds = Set("ann", "ann_filtered", "exact", "text", "hybrid", "get")
  val Rotation = Seq("ann", "text", "exact", "ann", "hybrid", "ann_filtered",
    "ann", "get", "text", "ann", "exact", "hybrid", "ann_filtered", "ann",
    "text", "get", "ann", "hybrid", "exact", "ann_filtered",
    "batch_exact", "batch_ann")

  def cycle(traced: Boolean): Unit = {
    Rotation.foreach(readOp)
    if (traced) refresh() // nothing changed: the no-op cost of ensure*
  }
}

/** `ingest`: rounds of one write and two reads. Writes rotate through
  * insertBatch of 500 new rows, upsert of 200 (100 new, 100 re-embedded)
  * and deleteIds of 50. The two reads of a round are of one kind,
  * rotating searchAnn, searchText, searchHybrid: in the first cycle the
  * insert advances the indexes built in set-up (the incremental path) and
  * the upsert and delete leave them stale, so the first read after each
  * rebuilds its index (the stall) and the second is warm. Of the six
  * reads, p50 is then the mean of the warm text and hybrid reads and p90
  * the mean of the two stalls, whichever of each pair is slower. The run
  * ends with the count, read-back, delete and changelog checks, and a
  * searchAnnBatch recall probe. */
final class Ingest(spark: SparkSession, gen: Gen, work: String, client: Client,
    rows: Int) extends Workload(spark, gen, work, client) {
  val name = "ingest"
  val initialRows: Int = rows
  val readKinds = Set("ann", "text", "hybrid")

  def cycle(traced: Boolean): Unit =
    Seq("insert" -> "ann", "upsert" -> "text", "delete" -> "hybrid").foreach {
      case (w, r) =>
        writeOp(w)
        if (traced) refresh()
        Seq.fill(2)(r).foreach(readOp)
    }

  override def finish(): Unit = {
    super.finish()
    client.verify("upserts read back") {
      val back = coll.get(reembedded.toSeq).select("id", "vector").collect()
        .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      reembedded.find(id => !back.get(id).contains(corpus.doc(id).vector.toSeq))
        .map(id => s"vector of $id")
    }
    client.verify("deletes gone") {
      val ghosts = coll.get(deleted.toSeq).count()
      if (ghosts != 0) Some(s"$ghosts deleted ids still readable") else None
    }
    batchAnn() // recall of the index the mutations leave behind
  }
}
