package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import graft.filter.Pred

/** Parquet-backed vector collection + catalog — the reference's
  * Collection/VectorDB storage layer (jcolano/fastpyvectordb
  * `vectordb_optimized.py:207-818`) re-expressed as table management:
  *
  *   <root>/<name>/config.json      — {name, dimensions, metric}
  *   <root>/<name>/data/…parquet    — current generation
  *
  * Mutations are whole-relation rewrites (insert = union, upsert =
  * anti-join ∪ new, delete = filter) written to a staging dir and
  * atomically renamed over the old generation — Spark cannot overwrite a
  * path it is lazily reading, and at cluster scale the swap is what a
  * table format (Delta/Iceberg) does under the hood; this is the minimal
  * standalone version of the same idea. The reference's id↔label int maps
  * and five hash indexes disappear: ids are just a column, lookups are
  * pushed-down filters.
  *
  * Reads resolve each immutable generation once, as the reference keeps
  * its structures resident: [[VectorCollection.df]] memoizes the data
  * relation keyed by the data dir's fingerprint (part-file names, lengths
  * and mtimes — a commit from anywhere moves it), and the index readers
  * go through `IndexStore.table`, which memoizes a ready index table's
  * relation per (session, index path) until that path is rebuilt,
  * mutated, advanced or invalidated. Index paths are themselves keyed by
  * the data fingerprint, so a new generation never meets an old memo.
  */
final case class CollectionConfig(name: String, dimensions: Int, metric: String) {
  def toJson: String =
    s"""{"name": "$name", "dimensions": $dimensions, "metric": "$metric"}"""
}

object CollectionConfig {
  /** Names are path components and raw JSON string values — restricting
    * them makes toJson/fromJson exact inverses with no escaping layer
    * (a quote or backslash in the name would otherwise write invalid
    * JSON that the regex parser cannot read back). */
  val NameOk = """[A-Za-z0-9_-]+""".r
  private val P = """"(\w+)"\s*:\s*("([^"]*)"|\d+)""".r
  def fromJson(s: String): CollectionConfig = {
    val kv = P.findAllMatchIn(s).map { m =>
      m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))
    }.toMap
    CollectionConfig(kv("name"), kv("dimensions").toInt, kv("metric"))
  }
}

final class VectorCollection(
    val spark: SparkSession, val root: String, val config: CollectionConfig) {

  private def fs = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)
  private def dataPath = new Path(s"$root/${config.name}/data")
  private def stagingPath = new Path(s"$root/${config.name}/data_staging")
  private def oldPath = new Path(s"$root/${config.name}/data_old")
  private def changelogPath = s"$root/${config.name}/changelog"

  /** The live generation's relation, resolved once per generation: the
    * memo key is the data dir's [[graft.index.IndexStore.fingerprint]]
    * (a driver-side listing, no job). Every commit — by this instance,
    * another instance over the same root, or another process — writes
    * new part-file names, so the key moves and the next read resolves
    * the new generation; a warm read skips the listing and footer
    * schema-inference job of `spark.read.parquet`. */
  @volatile private var dfMemo: (String, DataFrame) = null

  def df: DataFrame = {
    recover()
    // a clear contract violation beats the path-not-found the parquet
    // reader would throw (the reference returns [] but a DataFrame needs
    // a schema, which an empty collection doesn't have yet)
    require(fs.exists(dataPath),
      s"collection '${config.name}' is empty — insert rows before reading")
    val fp = graft.index.IndexStore.fingerprint(spark, Seq(dataPath.toString))
    val memo = dfMemo
    if (memo != null && memo._1 == fp) memo._2
    else {
      val d = spark.read.parquet(dataPath.toString)
      dfMemo = (fp, d)
      d
    }
  }

  /** Crash recovery: if a swap died between retiring the old generation
    * and promoting the new one, exactly one of data_old/data_staging holds
    * the surviving generation — restore it. Staging is only trusted when
    * its _SUCCESS marker exists (a first-commit crash mid-write leaves a
    * partial staging dir with no marker — that must not become the live
    * generation); an unmarked staging dir is torn down instead. */
  private def recover(): Unit =
    if (!fs.exists(dataPath)) {
      if (fs.exists(oldPath)) fs.rename(oldPath, dataPath)
      else if (fs.exists(new Path(stagingPath, "_SUCCESS")))
        fs.rename(stagingPath, dataPath)
      else fs.delete(stagingPath, true)
    }

  /** CDC: every mutation appends (collection, event_type, id, ts) rows —
    * the reference's ObservableCollection event emission (realtime.py:
    * 325-442). Consume in batch via [[changelog]] or as a stream via
    * [[changeFeed]] (the file source picks up each appended file as a
    * microbatch).
    */
  private def logEvents(eventType: String, ids: DataFrame): Unit = {
    recoverChangelog()
    ids.select(
        lit(config.name).as("collection"),
        lit(eventType).as("event_type"),
        col("id"),
        current_timestamp().as("ts"))
      .write.mode("append").parquet(changelogPath)
  }

  /** Changelog analog of [[recover]]: a [[trimChangelog]] crash between
    * retiring the live log and promoting the staged one leaves NO log at
    * the live path — the surviving generation is the staged trim when
    * its _SUCCESS marker exists (the write completed before the swap
    * began; promoting finishes the trim), else the retired original
    * (roll back). Without this, every changelog read fails until someone
    * renames the sibling dir back by hand. */
  private def recoverChangelog(): Unit = {
    val live = new Path(changelogPath)
    if (!fs.exists(live)) {
      val staging = new Path(s"$changelogPath.staging")
      val retired = new Path(s"$changelogPath.old")
      if (fs.exists(new Path(staging, "_SUCCESS"))) {
        fs.rename(staging, live)
        fs.delete(retired, true)
      } else if (fs.exists(retired)) fs.rename(retired, live)
    }
  }

  def changelog: DataFrame = {
    recoverChangelog()
    spark.read.parquet(changelogPath)
  }

  /** Trim the CDC changelog to its most recent `keepLast` events (the
    * reference's bounded history buffer, realtime.py:187-190, at
    * collection-storage granularity). The retained tail is written to a
    * staging dir first and swapped in; a crash mid-swap can leave the
    * live path briefly empty, and [[recoverChangelog]] (run by every
    * changelog reader and by the next trim) restores the surviving
    * generation — so readers always see either the old or the new log,
    * never a truncated one. Returns events dropped.
    * NOTE this rewrites history a changeFeed stream has already
    * consumed — run it between streaming restarts, as the reference
    * does with its replay buffer. */
  def trimChangelog(keepLast: Int): Long = {
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    recoverChangelog()
    if (!fs.exists(new Path(changelogPath))) return 0L
    val total = changelog.count()
    val drop = total - keepLast
    if (drop <= 0) return 0L
    val staging = new Path(s"$changelogPath.staging")
    val retired = new Path(s"$changelogPath.old")
    fs.delete(staging, true)
    changelog
      .orderBy(col("ts").desc, col("id").desc)
      .limit(keepLast)
      .write.parquet(staging.toString)
    fs.delete(retired, true)
    require(fs.rename(new Path(changelogPath), retired),
      s"retire failed for $changelogPath")
    if (!fs.rename(staging, new Path(changelogPath))) {
      fs.rename(retired, new Path(changelogPath)) // roll back
      throw new IllegalStateException(s"swap failed for $changelogPath")
    }
    fs.delete(retired, true)
    spark.catalog.refreshByPath(changelogPath)
    drop
  }

  /** Opt-in search-event CDC — the reference's ObservableCollection also
    * emits `search` events alongside the mutation events
    * (realtime.py:58-88, 325-442). Off by default: search is read-only
    * and often high-QPS, so emission is a monitoring concern, not a
    * correctness one. When enabled, every search call appends one
    * (collection, 'search', <kind:k=N>, ts) changelog row, consumable
    * through the same changelog/changeFeed/subscription machinery as
    * the mutation events. */
  @volatile private var searchEventsOn = false
  def enableSearchEvents(on: Boolean = true): Unit = searchEventsOn = on

  private def logSearch(kind: String, k: Int): Unit =
    if (searchEventsOn) {
      import spark.implicits._
      logEvents("search", Seq(s"$kind:k=$k").toDF("id"))
    }

  def changeFeed: DataFrame = {
    recoverChangelog()
    spark.readStream.schema(
      "collection string, event_type string, id string, ts timestamp")
      .parquet(changelogPath)
  }

  def isEmpty: Boolean = { recover(); !fs.exists(dataPath) }

  /** Replace the data generation: write staging, retire the old
    * generation to data_old, promote staging, drop data_old. A crash at
    * any point leaves a recoverable state ([[recover]]) — the previous
    * generation is never deleted before the new one is in place. */
  private def commit(newDf: DataFrame): Unit = {
    fs.delete(stagingPath, true)
    newDf.write.parquet(stagingPath.toString)
    fs.delete(oldPath, true)
    if (fs.exists(dataPath))
      require(fs.rename(dataPath, oldPath), s"retire failed for $dataPath")
    if (!fs.rename(stagingPath, dataPath)) {
      if (fs.exists(oldPath)) fs.rename(oldPath, dataPath) // roll back
      throw new IllegalStateException(s"swap failed for $dataPath")
    }
    fs.delete(oldPath, true)
    // Spark's FileStatusCache keeps the old listing for this path — a
    // reader created after the swap would still see the previous
    // generation's files (observed: stale search hits after upsert).
    spark.catalog.refreshByPath(dataPath.toString)
  }

  /** Batch insert; rejects the whole batch on any duplicate id (the
    * reference's set-intersection check, `vectordb_optimized.py:392-397`).
    *
    * Index maintenance mirrors the reference's per-insert index update
    * (`vectordb_optimized.py:337-365`): a pure insert APPENDS the new
    * rows' bucket entries and moves the index to the new generation's
    * fingerprint — no rebuild. If no ready index exists the advance is a
    * no-op and the next [[searchAnn]] builds lazily.
    */
  def insertBatch(rows: DataFrame): Unit = {
    // One materialization of the caller's plan, reused for the dup check,
    // the commit, every index append, and CDC (localCheckpoint: executor
    // storage, lineage truncated — same pattern as deleteWhere's doomed
    // set). A lazy plan re-evaluated per consumer would let a
    // non-deterministic source (rand/uuid/a re-read of mutable external
    // data) commit one version of the batch and index/log another — the
    // index is then marked ready at the new fingerprint and the wrong
    // stored vectors never self-heal.
    val snap = rows.localCheckpoint()
    val idStats = snap.agg(
      org.apache.spark.sql.functions.count(lit(1)),
      countDistinct(col("id"))).head
    require(idStats.getLong(0) == idStats.getLong(1),
      "duplicate ids within batch")
    if (isEmpty) commit(snap)
    else {
      val dups = snap.join(df, Seq("id"), "left_semi").count()
      require(dups == 0, s"$dups ids already exist")
      // fingerprint paths of the generation being replaced
      val hasText = snap.columns.contains("text")
      val prevAnn = annIndexPath
      val prevText = if (hasText) Some(textIndexPath) else None
      val prevHyb = if (hasText) Some(hybridIndexPath) else None
      commit(df.unionByName(snap))
      // Best-effort: indexes are derived state (advance() already
      // swallows its own failures and leaves the path not-ready, so the
      // next search rebuilds) — a maintenance failure must never make a
      // COMMITTED insert report failure or skip its CDC events. Only
      // indexes that already exist advance; absent ones build lazily.
      if (annKind.isDefined)
        graft.index.IndexStore.advance(spark, prevAnn, annIndexPath)(p =>
          config.metric match {
            case "cosine" =>
              graft.index.LshIndex.append(spark, snap, "vector", "id",
                config.dimensions, p, metaColumns(snap), compact = true)
            case "ip" =>
              graft.index.MipsIndex.append(spark, snap, "vector", "id", p,
                metaColumns(snap), stringIds = true)
            case _ =>
              graft.index.IvfIndex.append(spark, snap, "vector", "id", p,
                metaColumns(snap), stringIds = true)
          })
      def textRows = snap.select(col("id").as("doc_id"), col("text"))
      prevText.foreach(pt =>
        graft.index.IndexStore.advance(spark, pt, textIndexPath)(p =>
          graft.index.Bm25Index.append(spark, textRows, p)))
      prevHyb.foreach(ph =>
        graft.index.IndexStore.advance(spark, ph, hybridIndexPath) { p =>
          snap.select(col("id").as("doc_id"), col("vector").as("embedding"))
            .write.mode("append").parquet(s"$p/vectors")
          graft.index.Bm25Index.append(spark, textRows, p)
        })
    }
    logEvents("insert", snap.select("id"))
  }

  /** Delete-then-insert by id (reference upsert, `:418-423`). Rejects
    * intra-batch duplicate ids: the anti-join∪union below would otherwise
    * append BOTH duplicates and silently break the unique-id invariant
    * (the reference's dict-based upsert cannot express two rows per id).
    */
  def upsert(rows: DataFrame): Unit = {
    // same single-materialization rule as insertBatch: the committed rows
    // and the CDC ids must come from ONE evaluation of the caller's plan
    val snap = rows.localCheckpoint()
    val idStats = snap.agg(
      org.apache.spark.sql.functions.count(lit(1)),
      countDistinct(col("id"))).head
    require(idStats.getLong(0) == idStats.getLong(1),
      "duplicate ids within batch")
    if (isEmpty) commit(snap)
    else commit(df.join(snap.select("id"), Seq("id"), "left_anti")
      .unionByName(snap))
    logEvents("upsert", snap.select("id"))
  }

  /** Delete rows matching the predicate; returns deleted count.
    *
    * The doomed-id set is materialized distributed (localCheckpoint:
    * executor-storage backed, lineage truncated so CDC logging after the
    * generation swap cannot re-read the deleted files) — never collected
    * to the driver, so a delete matching 10⁹ rows stays executor-sized.
    * When nothing matches, the whole-relation rewrite is skipped.
    */
  def deleteWhere(pred: Pred): Long = {
    val doomed = df.filter(coalesce(pred.column, lit(false)))
      .select("id").localCheckpoint()
    val n = doomed.count()
    if (n > 0) {
      commit(df.filter(!coalesce(pred.column, lit(false))))
      logEvents("delete", doomed)
    }
    n
  }

  def deleteIds(ids: Seq[String]): Long = {
    // capture the ids that actually exist BEFORE the rewrite — CDC must
    // not announce deletes for ids that were never in the collection
    val doomed = df.filter(col("id").isin(ids: _*))
      .select("id").localCheckpoint()
    val n = doomed.count()
    if (n > 0) {
      commit(df.filter(!col("id").isin(ids: _*)))
      logEvents("delete", doomed)
    }
    n
  }

  /** Maintenance compaction: rewrite the live generation id-range-
    * clustered into `targetFiles` parquet files (default: sized from the
    * on-disk bytes at ~128 MB/file). A mutation-heavy collection
    * accumulates one small file set per commit; compaction restores scan
    * efficiency and the id clustering gives parquet min/max row-group
    * pruning for point gets. Content-neutral (same rows), and it goes
    * through the same crash-safe generation swap as every mutation — a
    * crash mid-compact recovers to the pre-compact generation. No CDC
    * event (nothing changed logically); derived indexes key on the data
    * fingerprint and rebuild lazily on the next search. */
  def compact(targetFiles: Int = 0): Unit = {
    if (isEmpty) return
    val n =
      if (targetFiles > 0) targetFiles
      else math.max(1, (fs.getContentSummary(dataPath).getLength /
        (128L << 20)).toInt)
    commit(df.repartitionByRange(n, col("id")).sortWithinPartitions("id"))
  }

  /** Collection-level exact search (the reference's `collection.search`,
    * `vectordb_optimized.py:518-560`): metric comes from the collection
    * config, the optional filter applies BEFORE scoring (exact filtered
    * top-k), ties break on id. Expects a `vector` column. */
  def search(queryVec: Seq[Double], k: Int = 10,
      filter: Option[Pred] = None): DataFrame = {
    logSearch("exact", k)
    // raw three-valued predicate: in a positive filter a NULL (missing
    // field) drops the row exactly like false, and staying raw lets the
    // leaves push down to the Parquet scan (coalesce(p, false) would
    // block PushedFilters)
    graft.knn.Knn.search(df, col("vector"),
      org.apache.spark.sql.functions.typedlit(queryVec),
      config.metric, k, filter.map(_.column), idCol = "id")
  }

  /** Batch search over a (query_id, qvec) relation — top-k per query. */
  def searchBatch(queries: DataFrame, k: Int = 10): DataFrame = {
    logSearch("exact_batch", k)
    graft.knn.Knn.searchBatch(df, col("vector"), queries,
      config.metric, k, idCol = "id")
  }

  /** Every column except id/vector — carried into the index bucket rows
    * so [[searchAnn]] filters push down to the index scan. */
  private def metaColumns(d: DataFrame): Seq[String] =
    d.columns.toSeq.filterNot(c => c == "id" || c == "vector")

  /** This collection's ANN index path for the CURRENT data generation:
    * the fingerprint is computed from the live data files, so EVERY
    * committed mutation moves the path and a stale index can never be
    * served — the wiring that makes the persistent index layer follow
    * the collection the way the reference's in-memory indexes follow its
    * mutations (`vectordb_optimized.py:337-365, 467-501`). The index
    * family follows the metric: sign-hyperplane LSH is a cosine family,
    * so cosine collections carry LSH buckets, l2 collections carry an
    * IVF cell layout (k-means Voronoi = native l2 geometry), and ip
    * collections carry the MIPS augmented-cell layout (the L2
    * augmentation turns inner-product order into augmented-L2 order —
    * graft.index.MipsIndex). */
  private def annKind: Option[String] = config.metric match {
    case "cosine" => Some("colllsh")
    case "l2"     => Some("collivf")
    case "ip"     => Some("collmips")
    case _        => None
  }

  private def annIndexPath: String =
    graft.index.IndexStore.path(spark, s"$root/${config.name}",
      annKind.getOrElse("collnone"), Seq(dataPath.toString))

  /** Fixed deterministic IVF geometry for l2 collections (same
    * oracle-friendly codebook family as the testdata IVF paths). */
  private val IvfCells = 16
  private val IvfNprobe = 4

  /** Build-if-absent the collection's persistent ANN index (build once,
    * probe many; rebuilds only when the data generation changed and no
    * incremental advance covered it). Returns the index path. */
  def ensureAnnIndex(): String = {
    val data = df
    config.metric match {
      case "cosine" =>
        // compact bucket layout (r18): collection indexes are rebuilt or
        // advanced on every mutation — the ingest-heavy regime where a
        // 64-dir write per generation is pure small-file overhead
        // (guide §6); probes still prune on band_idx + push band_val
        graft.index.IndexStore.ensure(spark, annIndexPath)(p =>
          graft.index.LshIndex.build(spark, data, "vector", "id",
            config.dimensions, p, metaColumns(data), compact = true))
      case "l2" =>
        graft.index.IndexStore.ensure(spark, annIndexPath)(p =>
          graft.index.IvfIndex.build(spark, data, "vector", "id",
            graft.knn.Ann.fixedIvfModel(IvfCells, config.dimensions), p,
            metaColumns(data), stringIds = true))
      case "ip" =>
        graft.index.IndexStore.ensure(spark, annIndexPath)(p =>
          graft.index.MipsIndex.build(spark, data, "vector", "id",
            IvfCells, p, metaColumns(data), stringIds = true))
      case m =>
        throw new IllegalArgumentException(
          s"no ANN index family for metric '$m' — searchAnn runs exact")
    }
  }

  /** ANN search over the collection's own persistent LSH index: 4-of-64
    * bucket-partition probe + exact rerank; the optional metadata filter
    * applies BEFORE the rerank and pushes down to the index scan (exact
    * filtered top-k — stronger than the reference's over-fetch +
    * post-filter, `vectordb_optimized.py:507-575`). Index freshness is
    * automatic: any mutation changes the data fingerprint, so the next
    * search rebuilds (or, after a pure insert, reuses the
    * incrementally-advanced index).
    *
    * The index family follows the metric ([[annKind]]): cosine probes
    * LSH buckets, l2 probes IVF cells (reranked with the true l2
    * distance), ip probes MIPS augmented cells (reranked with the true
    * dot product). `multiProbe` is the recall knob of every family —
    * 1-bit-flip buckets for LSH, doubled nprobe for IVF/MIPS.
    */
  def searchAnn(queryVec: Seq[Double], k: Int = 10,
      filter: Option[Pred] = None, multiProbe: Boolean = false): DataFrame = {
    logSearch("ann", k)
    config.metric match {
      case "cosine" =>
        graft.index.LshIndex.search(spark, ensureAnnIndex(), "vector",
          "id", queryVec, config.dimensions, k, filter.map(_.column),
          multiProbe = multiProbe)
      case "l2" =>
        graft.index.IvfIndex.search(spark, ensureAnnIndex(), "vector",
          "id", queryVec, if (multiProbe) IvfNprobe * 2 else IvfNprobe, k,
          filter.map(_.column), metric = "l2")
      case "ip" =>
        graft.index.MipsIndex.search(spark, ensureAnnIndex(), "vector",
          "id", queryVec, if (multiProbe) IvfNprobe * 2 else IvfNprobe, k,
          filter.map(_.column))
      case _ =>
        // same (id, score) shape as the indexed paths (Knn directly, not
        // search(), so the ann event above isn't double-logged as exact)
        graft.knn.Knn.search(df, col("vector"),
          org.apache.spark.sql.functions.typedlit(queryVec),
          config.metric, k, filter.map(_.column), idCol = "id")
          .select("id", "score")
    }
  }

  private def textIndexPath: String =
    graft.index.IndexStore.path(spark, s"$root/${config.name}", "collbm25",
      Seq(dataPath.toString))

  private def hybridIndexPath: String =
    graft.index.IndexStore.path(spark, s"$root/${config.name}", "collhyb",
      Seq(dataPath.toString))

  private def requireText(): Unit =
    require(df.columns.contains("text"),
      s"collection '${config.name}' has no 'text' column")

  /** Build-if-absent the collection's persistent BM25 index over its own
    * `text` column (same fingerprint lifecycle as [[ensureAnnIndex]]). */
  def ensureTextIndex(): String = {
    requireText()
    val data = df
    graft.index.IndexStore.ensure(spark, textIndexPath)(p =>
      graft.index.Bm25Index.build(spark,
        data.select(col("id").as("doc_id"), col("text")), p))
  }

  /** Keyword top-k over the collection's own BM25 index; the optional
    * filter applies BEFORE scoring (df and corpus stats recomputed over
    * the allowed subset — `Bm25Index.searchFiltered`). Returns
    * (id, score). */
  def searchText(terms: Seq[String], k: Int = 10,
      filter: Option[Pred] = None): DataFrame = {
    logSearch("text", k)
    val p = ensureTextIndex()
    val res = filter match {
      case Some(f) =>
        graft.index.Bm25Index.searchFiltered(spark, p,
          df.filter(f.column).select(col("id").as("doc_id")), terms, k)
      case None => graft.index.Bm25Index.search(spark, p, terms, k)
    }
    res.withColumnRenamed("doc_id", "id")
  }

  /** Build-if-absent the hybrid layout (materialized vectors table +
    * BM25 postings) over the collection's own rows. */
  def ensureHybridIndex(): String = {
    requireText()
    val data = df
    graft.index.IndexStore.ensure(spark, hybridIndexPath) { p =>
      data.select(col("id").as("doc_id"), col("vector").as("embedding"))
        .write.mode("overwrite").parquet(s"$p/vectors")
      graft.index.Bm25Index.build(spark,
        data.select(col("id").as("doc_id"), col("text")), p)
    }
  }

  /** Weighted vector+keyword blend over the collection's own hybrid
    * index — the reference's HybridSearchEngine surface
    * (`hybrid_search.py:360-477`, cosine similarity by definition) with
    * the index maintained across mutations like [[searchAnn]]'s.
    * Returns (id, vector_score, keyword_score, score). */
  def searchHybrid(terms: Seq[String], queryVec: Seq[Double], k: Int = 10,
      alpha: Double = 0.6, vectorWeight: Option[Double] = None,
      keywordWeight: Option[Double] = None): DataFrame = {
    logSearch("hybrid", k)
    // the blend's vector branch is cosine by definition; silently
    // ranking an l2/ip collection's vectors by cosine would contradict
    // search/searchAnn on the same collection
    require(config.metric == "cosine",
      s"hybrid search blends cosine similarity (reference semantics); " +
        s"collection '${config.name}' is '${config.metric}'")
    graft.hybrid.HybridSearch.searchIndexed(spark, ensureHybridIndex(),
        terms, queryVec, k, alpha, vectorWeight, keywordWeight)
      .withColumnRenamed("doc_id", "id")
  }

  /** Batch ANN over the collection's index: one probe JOIN for the whole
    * (qid, qvec) relation — the cluster-scale form of [[searchAnn]].
    * cosine = LSH bucket equi-join; l2 = distributed IVF probe with
    * dynamic partition pruning over the cell layout (the query relation
    * is never collected to the driver); ip = distributed MIPS
    * augmented-cell probe with true-dot rerank. */
  def searchAnnBatch(queries: DataFrame, k: Int = 10): DataFrame = {
    logSearch("ann_batch", k)
    config.metric match {
      case "cosine" =>
        graft.index.LshIndex.searchBatch(spark, ensureAnnIndex(),
          "vector", "id", queries, config.dimensions, k)
      case "l2" =>
        graft.index.IvfIndex.searchBatchDf(spark, ensureAnnIndex(),
          "vector", "id", queries, IvfNprobe, k, metric = "l2")
      case "ip" =>
        graft.index.MipsIndex.searchBatchDf(spark, ensureAnnIndex(),
          "vector", "id", queries, IvfNprobe, k)
      case _ =>
        // same (qid, id, score) shape and order as the indexed paths
        graft.knn.Knn.searchBatch(df, col("vector"),
            queries.withColumnRenamed("qid", "query_id"), config.metric, k,
            idCol = "id")
          .select(col("query_id").as("qid"), col("id"), col("score"))
          .orderBy("qid", "score", "id")
    }
  }

  def get(ids: Seq[String]): DataFrame = df.filter(col("id").isin(ids: _*))

  /** Retrieve by metadata predicate — the reference client's
    * `collection.get(where=...)` (`tests/test_client.py:172-182`). Same
    * matching semantics as [[deleteWhere]]'s doomed set: `.filter()` drops
    * NULL-valued predicate rows, so a missing metadata field fails every
    * leaf exactly like the reference evaluator; the raw three-valued
    * column keeps the leaves pushable into the Parquet scan. */
  def getWhere(pred: graft.filter.Pred): DataFrame = df.filter(pred.column)

  def peek(n: Int): DataFrame = df.orderBy("id").limit(n)

  def count(): Long = if (isEmpty) 0L else df.count()

  def listIds(limit: Int, offset: Int): Seq[String] =
    df.select("id").orderBy("id").offset(offset).limit(limit)
      .collect().map(_.getString(0)).toSeq
}

/** Collection catalog rooted at a directory (reference VectorDB,
  * `vectordb_optimized.py:746-818`): discovery = subdirs with a
  * config.json. */
final class VectorDb(spark: SparkSession, root: String) {
  private def fs = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  def createCollection(name: String, dimensions: Int,
      metric: String = "cosine"): VectorCollection = {
    // validate on CREATE only — an existing collection whose name predates
    // (or bypasses) this rule must still open via getCollection
    require(CollectionConfig.NameOk.matches(name),
      s"collection name must match [A-Za-z0-9_-]+: '$name'")
    val cfg = CollectionConfig(name, dimensions, metric)
    val cfgPath = new Path(s"$root/$name/config.json")
    val out = fs.create(cfgPath, true)
    out.write(cfg.toJson.getBytes(StandardCharsets.UTF_8))
    out.close()
    new VectorCollection(spark, root, cfg)
  }

  /** Open-or-create (the reference's `get_or_create_collection`,
    * `client.py` surface): an existing collection's stored config wins —
    * the requested dimensions/metric apply only on creation. */
  def getOrCreateCollection(name: String, dimensions: Int,
      metric: String = "cosine"): VectorCollection =
    getCollection(name).getOrElse(createCollection(name, dimensions, metric))

  def getCollection(name: String): Option[VectorCollection] = {
    val cfgPath = new Path(s"$root/$name/config.json")
    if (!fs.exists(cfgPath)) None
    else {
      val in = fs.open(cfgPath)
      val json = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      in.close()
      Some(new VectorCollection(spark, root, CollectionConfig.fromJson(json)))
    }
  }

  def listCollections(): Seq[String] =
    if (!fs.exists(new Path(root))) Nil
    else fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory &&
        fs.exists(new Path(s.getPath, "config.json")))
      .map(_.getPath.getName).sorted

  def dropCollection(name: String): Boolean =
    fs.delete(new Path(s"$root/$name"), true)

  /** Drop every collection under this root (reference `client.reset`). */
  def reset(): Unit = listCollections().foreach(dropCollection)

  /** Liveness probe (reference `client.heartbeat`): nanosecond
    * timestamp, no I/O. */
  def heartbeat(): Long = System.nanoTime()
}
