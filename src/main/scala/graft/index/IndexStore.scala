package graft.index

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistent retrieval-index store: build once, search many times — the
  * reference keeps its BM25 inverted index and quantizer state alive in
  * the process and maintains them incrementally
  * (jcolano/fastpyvectordb `hybrid_search.py:77-117`,
  * `binary_persistence.py:333-385`); the Spark-native equivalent is index
  * tables materialized as Parquet next to the data, rebuilt only when the
  * source generation changes.
  *
  * Layout: `<root>/<dataset-slug>/<kind>_<source-fingerprint>/…tables…`
  * with a `_GRAFT_READY` marker written after the last table — a partial
  * build (crash mid-write, no marker) is torn down and redone, never
  * served. The fingerprint (total length + latest mtime of the source
  * files) makes a regenerated source invalidate the index automatically;
  * stale fingerprints of the same kind are deleted on rebuild.
  *
  * At cluster scale `root` is a durable store path (set GRAFT_INDEX_ROOT);
  * locally it defaults to the JVM tmpdir so read-only testdata dirs are
  * never written to.
  *
  * Resolved relations of ready index tables are memoized ([[table]]):
  * keyed by (session UUID, index path, table name), served only while the
  * in-JVM `built` memo vouches for the index path, and dropped wherever
  * that path's state is — before a build in [[ensure]], for the stale
  * siblings ensure() deletes, in [[mutate]], [[advance]], [[invalidate]]
  * and [[resetMemo]]. A warm probe therefore skips the listing and the
  * footer schema-inference job of `spark.read.parquet`, and the memo
  * holds at most one frame per (session, live index dir, table).
  */
object IndexStore extends org.apache.spark.internal.Logging {
  /** Bump when any index table layout changes — old on-disk indexes from
    * a previous code version must not be read.
    * v2: BM25 postings rows carry dl.
    * v3: LSH bucket rows may carry metadata columns (filtered ANN).
    * v4: IVF cell rows may carry metadata columns (filtered ANN).
    * v5: text keys fold Unicode code points (CharHash kernel replaced the
    *     signed-byte `ascii()` SQL fold, r9) — vectors/keys persisted by
    *     the old fold differ on any non-ASCII text, so pre-v5 indexes
    *     must not be served against kernel-computed query keys. */
  val FormatVersion = 5

  def root: String = sys.env.getOrElse("GRAFT_INDEX_ROOT",
    s"${System.getProperty("java.io.tmpdir")}/graft_indexes/v$FormatVersion")

  private val built = ConcurrentHashMap.newKeySet[String]()
  // Entries are never pruned: removing one while a thread is blocked on
  // it would mint a SECOND lock object for the same path (two builders
  // in one dir). Growth is a map entry per distinct fingerprint path —
  // tens of bytes per mutation, negligible against the mutation itself.
  private val locks = new ConcurrentHashMap[String, Object]()

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Path-component sanitizer shared by every store-rooted layout (index
    * dirs, scratch collection roots) — one definition so they can't
    * drift. */
  def slug(s: String): String = s.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Fail-fast schema gate for incremental appends: the rows about to be
    * appended must carry exactly the stored table's columns and types
    * (names compared as a set, types via `.sql` so nullability doesn't
    * trip it). Without this, an append with different metaCols/id type
    * writes schema-divergent files and later filtered reads silently see
    * nulls for the appended rows instead of failing. */
  def requireAppendSchema(spark: SparkSession, storedPath: String,
      rows: org.apache.spark.sql.DataFrame): Unit = {
    def sig(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType.sql).toMap
    val stored = sig(spark.read.parquet(storedPath).schema)
    val appended = sig(rows.schema)
    require(stored == appended,
      s"append schema mismatch against $storedPath: stored " +
        s"${stored.toSeq.sortBy(_._1).mkString("[", ", ", "]")} vs appended " +
        s"${appended.toSeq.sortBy(_._1).mkString("[", ", ", "]")} — " +
        "append must use the same metaCols and id type the index was built with")
  }

  /** Fingerprint of the source files backing an index: a mix over every
    * file's (path, length, mtime), listed recursively so partitioned
    * sources contribute their part files. Entries are keyed by the full
    * path relative to the source root and sorted before mixing — listing
    * order varies across filesystems, and two files in different
    * subdirectories can share a leaf name. Changes whenever the source
    * generation is rewritten. */
  def fingerprint(spark: SparkSession, sources: Seq[String]): String = {
    var h = 1125899906842597L
    sources.foreach { s =>
      val p = new Path(s)
      val f = fs(spark, s)
      if (f.exists(p)) {
        val base = f.makeQualified(p).toString
        val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        val it = f.listFiles(p, true)
        while (it.hasNext) {
          val st = it.next()
          entries += ((st.getPath.toString.stripPrefix(base),
            st.getLen, st.getModificationTime))
        }
        entries.sortInPlaceBy(_._1).foreach { case (rel, len, mtime) =>
          h = h * 31 + rel.hashCode
          h = h * 31 + len
          h = h * 31 + mtime
        }
      }
    }
    java.lang.Long.toHexString(h)
  }

  def path(spark: SparkSession, dataDir: String, kind: String,
      sources: Seq[String]): String =
    s"$root/${slug(dataDir)}/${kind}_${fingerprint(spark, sources)}"

  def ready(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path, "_GRAFT_READY"))

  /** Build-if-absent: `build` writes the index tables into `path`; the
    * READY marker is created last, so an interrupted build is invisible.
    * Sibling dirs of the same kind with a stale fingerprint are removed.
    * The in-JVM memo skips the filesystem check on the hot path; a
    * per-path JVM lock serializes concurrent builders/mutators in this
    * process. ACROSS processes the store assumes a single writer (the
    * standard batch-index regime — concurrent multi-writer coordination
    * belongs to a table format's transaction log, out of scope here);
    * concurrent READERS of a ready index are always safe because a build
    * never touches a marked directory. */
  private val legacyGcDone = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** One-time (per JVM) cleanup of orphaned store roots (ADVICE r9): a
    * FormatVersion bump orphans the whole previous `graft_indexes/v{k}`
    * root, and the pre-r9 `_bucketed`/`_partitioned` layout roots
    * (superseded by `_bucketed2`/`_partitioned2`) held full bucketed/
    * partitioned copies of orders/lineitem/events per source generation
    * with no deleting code path. Grace-period guarded like every other
    * GC in the store — old-version roots can only be touched by
    * old-version code, which no longer runs from this checkout, so an
    * untouched-past-grace root is provably cold. */
  def gcLegacyRoots(spark: SparkSession): Unit =
    if (legacyGcDone.compareAndSet(false, true)) runLegacyGc(spark)

  /** The one-shot's body, callable directly by the spec (the CAS above
    * makes the public form untestable twice in one JVM). */
  private[graft] def runLegacyGc(spark: SparkSession): Unit = {
      val cutoff = System.currentTimeMillis() - graft.core.LayoutPublish.graceMs
      def graceDelete(p: Path): Unit = try {
        val f = fs(spark, p.toString)
        if (f.exists(p) && f.getFileStatus(p).getModificationTime < cutoff)
          f.delete(p, true)
      } catch { case scala.util.control.NonFatal(t) =>
        logWarning(s"legacy-root gc of $p failed (non-fatal): $t")
      }
      // prior-version roots are siblings only under the DEFAULT versioned
      // tmpdir layout; a user-set GRAFT_INDEX_ROOT has no version siblings
      if (!sys.env.contains("GRAFT_INDEX_ROOT"))
        (1 until FormatVersion).foreach(v =>
          graceDelete(new Path(new Path(root).getParent, s"v$v")))
      Seq("_bucketed", "_partitioned").foreach(n =>
        graceDelete(new Path(s"$root/$n")))
      // pre-r14 decade-cert dump dirs (ADVICE r14): the cert's outTag was
      // a bare "x10" before it was namespaced by base-corpus slug, so
      // runCert's prefix GC never reclaims the legacy `x10_<fp>` dirs —
      // a full-catalog parquet dump each. The legacy shape is x10_ + a
      // fingerprint of UP TO 16 hex chars — Long.toHexString does not
      // zero-pad, so a hash with high zero nibbles yields fewer (ADVICE
      // r15: the {16} match never reclaimed those). Namespaced dirs
      // (x10_root_…_<fp>) still can't match: their slug segment
      // contains non-hex characters and matches() is full-string.
      try {
        val dv = new Path(s"$root/_decade_verify")
        val f = fs(spark, dv.toString)
        if (f.exists(dv))
          f.listStatus(dv).map(_.getPath)
            .filter(_.getName.matches("x10_[0-9a-f]{1,16}"))
            .foreach(graceDelete)
      } catch { case scala.util.control.NonFatal(t) =>
        logWarning(s"legacy decade-dump gc failed (non-fatal): $t")
      }
    }

  def ensure(spark: SparkSession, path: String)(build: String => Unit): String = {
    gcLegacyRoots(spark)
    if (!built.contains(path)) {
      locks.computeIfAbsent(path, _ => new Object).synchronized {
        if (!built.contains(path)) {
          val f = fs(spark, path)
          if (!ready(spark, path)) {
            val parent = new Path(path).getParent
            val kind = new Path(path).getName.takeWhile(_ != '_')
            if (f.exists(parent))
              f.listStatus(parent).filter { st =>
                st.getPath.getName.startsWith(kind + "_") &&
                  st.getPath.getName != new Path(path).getName
              }.foreach { st =>
                // the caller's spelling of the sibling path (listStatus
                // qualifies it), so the memo keys match
                val stale =
                  path.take(path.lastIndexOf('/') + 1) + st.getPath.getName
                built.remove(stale)
                clearState(stale)
                f.delete(st.getPath, true)
              }
            f.delete(new Path(path), true)
            clearState(path)
            build(path)
            f.create(new Path(path, "_GRAFT_READY"), true).close()
            spark.catalog.refreshByPath(path)
          }
          built.add(path)
        }
      }
    }
    path
  }

  /** Drop the READY marker around an in-place index mutation (e.g. an
    * incremental append): a crash mid-mutation then reads as not-ready
    * and the next ensure() rebuilds from scratch. Serialized against
    * ensure() on the same path within this JVM. */
  def mutate(spark: SparkSession, path: String)(change: String => Unit): Unit =
    locks.computeIfAbsent(path, _ => new Object).synchronized {
      val f = fs(spark, path)
      // Drop the memo first: if change() throws, this process must not
      // keep serving the half-mutated index off the memo — the next
      // ensure() re-checks ready() (marker gone) and rebuilds. The
      // relation memo goes too: a frame resolved before the change lists
      // the pre-change files.
      built.remove(path)
      dropTables(path)
      f.delete(new Path(path, "_GRAFT_READY"), false)
      change(path)
      f.create(new Path(path, "_GRAFT_READY"), true).close()
      spark.catalog.refreshByPath(path)
      built.add(path)
    }

  /** Move a ready index forward to a NEW source generation with an
    * incremental change instead of a rebuild: un-mark and rename the
    * `from` dir to the new fingerprint path, run `change` (an append of
    * the delta), re-mark. Returns false (no-op) when `from` has no ready
    * index — the next ensure() on `to` builds from scratch, which is
    * also the recovery story: a crash at ANY point leaves neither path
    * marked ready. Same single-writer-per-process regime as [[ensure]].
    */
  def advance(spark: SparkSession, from: String, to: String)(
      change: String => Unit): Boolean = {
    if (from == to) return ready(spark, from)
    // Both locks up front, in canonical order (a global order makes the
    // two-lock acquisition deadlock-free against any other two-lock
    // advance; ensure() takes single locks only), so a concurrent
    // ensure(to) can never observe the half-moved directory.
    val Seq(l1, l2) = Seq(from, to).sorted
      .map(p => locks.computeIfAbsent(p, _ => new Object))
    l1.synchronized {
      l2.synchronized {
        val f = fs(spark, from)
        if (!ready(spark, from)) false
        else
          // Best-effort by design: the index is derived state and a
          // not-ready path is always rebuilt by the next ensure(), so on
          // ANY failure we leave both paths unmarked and report false
          // instead of throwing into the caller's (already-committed)
          // mutation.
          try {
            built.remove(from)
            clearState(from); clearState(to)
            f.delete(new Path(from, "_GRAFT_READY"), false)
            val toP = new Path(to)
            f.delete(toP, true)
            f.mkdirs(toP.getParent)
            require(f.rename(new Path(from), toP),
              s"advance rename failed: $from -> $to")
            spark.catalog.refreshByPath(to)
            change(to)
            f.create(new Path(to, "_GRAFT_READY"), true).close()
            spark.catalog.refreshByPath(to)
            built.add(to)
            true
          } catch {
            case scala.util.control.NonFatal(e) =>
              logWarning(s"index advance $from -> $to failed " +
                s"(next ensure rebuilds): $e")
              built.remove(to)
              false
          }
      }
    }
  }

  /** Force a rebuild on next ensure (test/benchmark hook). */
  def invalidate(spark: SparkSession, path: String): Unit = {
    built.remove(path)
    clearState(path)
    fs(spark, path).delete(new Path(path), true)
  }

  /** Clear the in-JVM memo only (filesystem untouched). */
  def resetMemo(): Unit = { built.clear(); stateCache.clear(); tables.clear() }

  // ---- resolved relations of ready index tables ([[table]]). Besides the
  // footer schema-inference job, an uncached read of BM25 postings (64
  // term_bucket dirs) pays a parallel listing job — Spark lists in
  // parallel past 32 leaf dirs.
  private val tables = new ConcurrentHashMap[(String, String, String), DataFrame]()

  /** The relation of table `sub` of the index at `indexPath` — memoized
    * per (session, index path, table) while `built` vouches for the path
    * (it was ensured, mutated or advanced by this JVM), otherwise a plain
    * read. A miss resolves under the path's lock (not the map's, which
    * would hold a hash bin across the read's listing job), so a
    * concurrent mutate() cannot leave a frame of the pre-mutation listing
    * behind. */
  def table(spark: SparkSession, indexPath: String, sub: String): DataFrame = {
    def read = spark.read.parquet(s"$indexPath/$sub")
    if (!built.contains(indexPath)) return read
    val session = org.apache.spark.sql.graft.bridge.sessionUuid(spark)
    val key = (session, indexPath, sub)
    val hit = tables.get(key)
    if (hit != null) hit
    else locks.computeIfAbsent(indexPath, _ => new Object).synchronized {
      val again = tables.get(key)
      if (again != null) again
      else if (!built.contains(indexPath)) read
      else { val d = read; tables.put(key, d); d }
    }
  }

  /** The memoized (index path, table) pairs, over all sessions (spec
    * hook). */
  private[graft] def memoizedTables: Seq[(String, String)] =
    tables.keySet.toArray(Array.empty[(String, String, String)])
      .toSeq.map(k => (k._2, k._3))

  private def dropTables(indexPath: String): Unit = {
    tables.keySet.removeIf(_._2 == indexPath); ()
  }

  // ---- tiny driver-side index state (centroids, codebooks, thresholds,
  // augmentation constants): loaded from parquet with a listing + footer
  // read + a small collect job PER PROBE without this memo — a real
  // per-query driver round-trip at scale. Safe to memoize because the
  // state is frozen by design (appends encode against it, never retrain)
  // and every path that is rebuilt, advanced onto, or invalidated has
  // its entries dropped below.
  private val stateCache = new ConcurrentHashMap[String, AnyRef]()

  /** Memoized driver-side index state for `key` (conventionally
    * "<subpath>#<tag>"); `load` runs once per (JVM, key) until the
    * owning index path changes. The loader (a Spark read + collect job,
    * multi-second) deliberately runs OUTSIDE the map's lock: under
    * computeIfAbsent it would hold the hash-bin lock for the whole job —
    * serializing unrelated first-time loads that share a bin, and
    * deadlocking (CHM's recursive-update IllegalStateException) if a
    * loader re-enters cachedState. The cost is a benign duplicate load
    * when two threads race the same cold key; putIfAbsent keeps the
    * winner so both see one canonical value. */
  def cachedState[T <: AnyRef](key: String)(load: => T): T = {
    val hit = stateCache.get(key)
    if (hit != null) return hit.asInstanceOf[T]
    val loaded = load
    val prev = stateCache.putIfAbsent(key, loaded)
    (if (prev != null) prev else loaded).asInstanceOf[T]
  }

  /** Drop memoized driver-side state under `pathPrefix`. Public: every
    * index `build` (mode=overwrite of model state) calls this first, so
    * a DIRECT rebuild at a reused path — without going through
    * ensure()/mutate() — cannot leave a search serving the previous
    * build's centroids/codebooks/thresholds off the memo. */
  def invalidateState(pathPrefix: String): Unit = {
    stateCache.keySet.removeIf(_.startsWith(pathPrefix)); ()
  }
  private def clearState(path: String): Unit = {
    invalidateState(path)
    dropTables(path)
  }
}
