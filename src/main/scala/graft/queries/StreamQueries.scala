package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.core.Tables
import graft.filter.Lt
import graft.stream.ChangeFeed
import graft.stream.ChangeFeed.Subscription

/** Event-stream catalog queries in their batch form (the StreamSpec test
  * proves the same plans run as Structured Streaming with a watermark).
  */
object StreamQueries {
  val qs: Seq[Q] = Seq(
    Q(
      "events_tumbling",
      (s, dir) =>
        ChangeFeed.tumblingCounts(Tables.events(s, dir), "1 hour")
          .orderBy("wstart", "event_type"),
      Some(
        """SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT AS wstart,
          |       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = true
    ),
    Q(
      "events_sliding",
      (s, dir) =>
        ChangeFeed.slidingCounts(Tables.events(s, dir), "1 hour", "30 minutes")
          .orderBy("wstart"),
      // Each event lands in exactly window/slide = 2 sliding windows whose
      // starts are the two 30-min grid points in (ts-1h, ts].
      Some(
        """WITH b AS (
          |  SELECT (floor(epoch(ts) / 1800) * 1800 - i * 1800)::BIGINT AS wstart,
          |         value
          |  FROM events, unnest([0, 1]) t(i))
          |SELECT wstart, count(*) AS n, round(sum(value), 2) AS sum_value
          |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "events_subscription",
      (s, dir) =>
        ChangeFeed.matched(Tables.events(s, dir),
            Subscription(Seq("click", "purchase"), Some(Lt("user_id", 100L))))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
          .orderBy("event_type"),
      Some(
        """SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_value
          |FROM events
          |WHERE event_type IN ('click', 'purchase') AND user_id < 100
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    // gap-based sessionization: a session break is a >30 min silence per
    // user (lag window -> boundary flag -> running session index). The
    // canonical windowed-analytics shape over the event stream.
    Q(
      "events_sessions",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byUser = Window.partitionBy("user_id").orderBy("ts")
        Tables.events(s, dir)
          .withColumn("prev_ts", lag("ts", 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1)
              .otherwise(0))
          .withColumn("sess_id", sum("new_sess").over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
               max("n_events").as("max_session_events"))
          .orderBy("user_id")
      },
      Some(
        """WITH t AS (
          |  SELECT user_id, ts,
          |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          |  FROM events),
          |b AS (
          |  SELECT user_id, ts,
          |         CASE WHEN prev_ts IS NULL
          |                OR floor(epoch(ts))::BIGINT - floor(epoch(prev_ts))::BIGINT > 1800
          |              THEN 1 ELSE 0 END AS new_sess
          |  FROM t),
          |sess AS (
          |  SELECT user_id,
          |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          |  FROM b),
          |per AS (SELECT user_id, sess_id, count(*) AS n_events
          |        FROM sess GROUP BY 1, 2)
          |SELECT user_id, count(*) AS n_sessions,
          |       max(n_events) AS max_session_events
          |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin),
      bench = true
    ),
    // schemaless JSON metadata (the reference's metadata dicts): parse
    // props at query time, filter + aggregate on an extracted field
    Q(
      "events_props_json",
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .filter(col("k").isNotNull && col("k") >= 50)
          .groupBy((col("k") % 10).as("k_mod"))
          .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
          .orderBy("k_mod"),
      Some(
        """SELECT (k % 10) AS k_mod, count(*) AS n,
          |       round(avg(value), 4) AS avg_value
          |FROM (SELECT json_extract_string(props, '$.k')::BIGINT AS k, value
          |      FROM events)
          |WHERE k IS NOT NULL AND k >= 50
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "events_history_tail",
      (s, dir) => ChangeFeed.historyTail(Tables.events(s, dir), 10),
      Some(
        """SELECT event_id, floor(epoch(ts))::BIGINT AS ts_sec, event_type, value
          |FROM events
          |ORDER BY ts_sec DESC, event_id DESC LIMIT 10""".stripMargin)
    ),
    // the EventBus bounded buffer (capacity 8, drop-oldest) replayed to
    // 5 late joiners asking for the last 10 events: each gets min(10, 8)
    // = 8 — the overflow policy visibly truncates the replay — except
    // joiner 0, who joins at the stream's first timestamp when the
    // buffer hasn't filled. Joiner times = quarter-points of the event
    // time span (pure integer arithmetic, oracle-reproducible).
    Q(
      "events_replay",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val joiners = ev
          .agg(min(unix_timestamp(col("ts"))).as("tmin"),
            max(unix_timestamp(col("ts"))).as("tmax"))
          .select(expr("explode(sequence(0, 4))").as("joiner_id"),
            col("tmin"), col("tmax"))
          .select(col("joiner_id"),
            (col("tmin") +
              col("joiner_id") * ((col("tmax") - col("tmin")) / 4)
                .cast("long")).as("jt_sec"))
        ChangeFeed.boundedReplay(ev, capacity = 8, replayN = 10, joiners)
          .orderBy("joiner_id", "replay_rank")
      },
      Some(
        """WITH b AS (
          |  SELECT min(floor(epoch(ts))::BIGINT) AS tmin,
          |         max(floor(epoch(ts))::BIGINT) AS tmax
          |  FROM events),
          |j AS (
          |  SELECT t.k AS joiner_id,
          |         (b.tmin + t.k * ((b.tmax - b.tmin) // 4))::BIGINT AS jt
          |  FROM b, range(0, 5) t(k)),
          |r AS (
          |  SELECT j.joiner_id, e.event_id,
          |         floor(epoch(e.ts))::BIGINT AS ts_sec, e.event_type,
          |         row_number() OVER (
          |           PARTITION BY j.joiner_id
          |           ORDER BY floor(epoch(e.ts))::BIGINT DESC,
          |                    e.event_id DESC) AS replay_rank
          |  FROM j JOIN events e ON floor(epoch(e.ts))::BIGINT <= j.jt)
          |SELECT joiner_id, replay_rank, event_id, ts_sec, event_type
          |FROM r WHERE replay_rank <= 8
          |ORDER BY joiner_id, replay_rank""".stripMargin)
    ),
    // backward as-of join: every click attributed to the user's latest
    // at-or-before view (graft.core.AsOfJoin — union-tag + carry-forward
    // window, ONE shuffle on the key; never a quadratic time-range join).
    // The oracle mirrors the same union+window so tie semantics are
    // identical by construction.
    Q(
      "events_asof",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val views = ev.filter(col("event_type") === "view")
          .select("user_id", "ts", "event_id", "value")
        graft.core.AsOfJoin.asof(clicks, views, "user_id", "ts",
            tieBreak = "event_id", payloadCols = Seq("event_id", "value"),
            prefix = "view_")
          .select(col("event_id"), col("user_id"), col("view_event_id"),
            round(col("view_value"), 6).as("view_value"))
          .orderBy("event_id")
      },
      Some(
        """WITH u AS (
          |  SELECT user_id AS k, ts AS t, 0 AS side, event_id AS tb,
          |         event_id AS r_eid, value AS r_val,
          |         CAST(NULL AS BIGINT) AS l_eid
          |  FROM events WHERE event_type = 'view'
          |  UNION ALL
          |  SELECT user_id, ts, 1, 0, NULL, NULL, event_id
          |  FROM events WHERE event_type = 'click'),
          |m AS (
          |  SELECT *,
          |    last_value(r_eid IGNORE NULLS) OVER w AS view_event_id,
          |    last_value(r_val IGNORE NULLS) OVER w AS view_value
          |  FROM u
          |  WINDOW w AS (PARTITION BY k ORDER BY t, side, tb
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          |SELECT l_eid AS event_id, k AS user_id, view_event_id,
          |       round(view_value, 6) AS view_value
          |FROM m WHERE side = 1 ORDER BY event_id""".stripMargin),
      bench = true
    ),
    // forward as-of: for each error, the user's NEXT view at-or-after it
    // (recovery tracking) — same union+window shape, scanned descending
    Q(
      "events_asof_forward",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val errors = ev.filter(col("event_type") === "error")
          .select("event_id", "user_id", "ts")
        val views = ev.filter(col("event_type") === "view")
          .select("user_id", "ts", "event_id", "value")
        graft.core.AsOfJoin.asofForward(errors, views, "user_id", "ts",
            tieBreak = "event_id", payloadCols = Seq("event_id", "value"),
            prefix = "next_view_")
          .select(col("event_id"), col("user_id"),
            col("next_view_event_id"),
            round(col("next_view_value"), 6).as("next_view_value"))
          .orderBy("event_id")
      },
      Some(
        """WITH u AS (
          |  SELECT user_id AS k, ts AS t, 0 AS side, event_id AS tb,
          |         event_id AS r_eid, value AS r_val,
          |         CAST(NULL AS BIGINT) AS l_eid
          |  FROM events WHERE event_type = 'view'
          |  UNION ALL
          |  SELECT user_id, ts, 1, 9223372036854775807, NULL, NULL, event_id
          |  FROM events WHERE event_type = 'error'),
          |m AS (
          |  SELECT *,
          |    last_value(r_eid IGNORE NULLS) OVER w AS next_view_event_id,
          |    last_value(r_val IGNORE NULLS) OVER w AS next_view_value
          |  FROM u
          |  WINDOW w AS (PARTITION BY k ORDER BY t DESC, side ASC, tb DESC
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          |SELECT l_eid AS event_id, k AS user_id, next_view_event_id,
          |       round(next_view_value, 6) AS next_view_value
          |FROM m WHERE side = 1 ORDER BY event_id""".stripMargin),
      bench = true
    ),
    // time-band range join, binned (graft.core.RangeJoin): views in the
    // 10 minutes BEFORE each error, per user — two covering bins per
    // left row + an equi-join on (key, bin), never a per-key cartesian
    Q(
      "events_band_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val errors = ev.filter(col("event_type") === "error")
          .select("user_id", "ts", "event_id")
        val views = ev.filter(col("event_type") === "view")
          .select("user_id", "ts", "event_id")
        graft.core.RangeJoin.backwardBand(errors, views, "user_id",
            "ts", "ts", deltaSec = 600,
            lCols = Seq("user_id", "event_id"), rCols = Seq("event_id"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_views_before_error"))
          .orderBy("user_id")
      },
      Some(
        """SELECT e.user_id, count(*) AS n_views_before_error
          |FROM events e JOIN events v
          |  ON v.user_id = e.user_id
          | AND e.event_type = 'error' AND v.event_type = 'view'
          | AND v.ts >= e.ts - INTERVAL 600 SECOND AND v.ts < e.ts
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    // a REAL micro-batch Structured Streaming run (not the batch form of
    // the same plan): file source over a multi-file copy of the events
    // table, 2 files per trigger, watermarked tumbling window, memory
    // sink in complete mode — the final table equals the batch aggregate
    // whatever the batch splits, which is what the oracle pins. Bench'd,
    // so the streaming path has a perf signal beyond StreamSpec.
    //
    // State-partition sizing: a streaming agg creates ONE state store
    // per shuffle partition, and every micro-batch commits every store —
    // at the session's width of 32 that is 32 stores × 4 batches of
    // commit/snapshot overhead wrapped around a ~hundred-group
    // aggregate, and it dominated the measured wall (driver-discipline
    // medians 4-6 s, wandering with tmpfs contention). The stream runs
    // on a memoized CHILD session with shuffle width 8 — state sizing
    // is per-query tuning, so it must not mutate the shared session
    // (the sql_ann_topk_pq lesson). At a real deployment's volume the
    // width goes UP for the same reason it goes down here: state
    // partition count should track load, not the session default.
    Q(
      "stream_tumbling_live",
      (s0, dir) => {
        val s = streamChild(s0)
        val src = eventsStreamDir(s, dir)
        val sink = "stream_tumbling_live_sink"
        withScratchCheckpoint(s) { ckpt =>
          val q = s.readStream
            .schema(Tables.events(s, dir).schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
            .select(unix_timestamp(col("window.start")).as("wstart"),
              col("event_type"), col("n"), col("sum_value"))
            .writeStream.format("memory").queryName(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("complete").start()
          try q.processAllAvailable() finally q.stop()
          // materialize the sink's final state: the memory table is a
          // session temp view the NEXT run's query will replace
          s.table(sink).orderBy("wstart", "event_type").localCheckpoint()
        }
      },
      Some(
        """SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT AS wstart,
          |       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = true
    ),
    // strict-order funnel analysis (click → view → purchase): per user,
    // the first click, the first view AFTER it, the first purchase after
    // that — the conversion report every event warehouse runs. Three
    // keyed min-aggregations chained by join-filters, all partitioned on
    // user_id; timestamps compare at full microsecond precision in both
    // engines.
    Q(
      "events_funnel",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val t1 = ev.filter(col("event_type") === "click")
          .groupBy("user_id").agg(min("ts").as("t1"))
        val t2 = ev.filter(col("event_type") === "view").join(t1, "user_id")
          .filter(col("ts") > col("t1"))
          .groupBy("user_id").agg(min("ts").as("t2"))
        val t3 = ev.filter(col("event_type") === "purchase")
          .join(t2, "user_id")
          .filter(col("ts") > col("t2"))
          .groupBy("user_id").agg(min("ts").as("t3"))
        ev.agg(countDistinct("user_id").as("n_users"))
          .crossJoin(broadcast(t1.agg(count(lit(1)).as("n_click"))))
          .crossJoin(broadcast(t2.agg(count(lit(1)).as("n_click_view"))))
          .crossJoin(broadcast(t3.agg(count(lit(1)).as("n_purchase"))))
      },
      Some(
        """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
          |            WHERE event_type = 'click' GROUP BY 1),
          |t2 AS (SELECT e.user_id, min(e.ts) AS t2
          |       FROM events e JOIN t1 USING (user_id)
          |       WHERE e.event_type = 'view' AND e.ts > t1.t1 GROUP BY 1),
          |t3 AS (SELECT e.user_id, min(e.ts) AS t3
          |       FROM events e JOIN t2 USING (user_id)
          |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2
          |       GROUP BY 1)
          |SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
          |       CAST((SELECT count(*) FROM t1) AS BIGINT) AS n_click,
          |       CAST((SELECT count(*) FROM t2) AS BIGINT) AS n_click_view,
          |       CAST((SELECT count(*) FROM t3) AS BIGINT) AS n_purchase"""
          .stripMargin)
    ),
    // REAL stream-stream interval join (the other pillar of Structured
    // Streaming state besides windowed aggs): clicks joined to the same
    // user's purchases within the following 2 hours, both sides
    // watermarked so the join state is bounded — exactly the plan shape
    // a 100 TB event firehose needs (state pruned by watermark, keyed
    // shuffle on user_id). Runs as a genuine multi-micro-batch file
    // stream; the final appended table equals the batch interval join,
    // which is what the oracle pins. The watermark is sized to the
    // REPLAY's event-time disorder: the stream dir is hash-partitioned
    // (not time-ordered), so any batch can carry events from anywhere in
    // the corpus's 30-day span, and a tighter bound would evict click
    // state that a later batch still matches (a live feed would use its
    // true lateness bound instead — the semantics don't change, only the
    // constant).
    Q(
      "stream_interval_join_live",
      (s0, dir) => {
        // TWO state stores per partition (one per side) — width 4 halves
        // the per-batch commit count vs the width-8 aggs child (measured
        // 10.0 → 6.5 → 4.8 s warm at widths 32/8/4; width 2 gains ~0.3 s
        // more but strands parallelism, the rest is fixed micro-batch
        // machinery)
        val s = streamChild(s0, 4)
        val src = eventsStreamDir(s, dir)
        val sink = "stream_interval_join_live_sink"
        val ev = Tables.events(s, dir)
        val schema = ev.schema
        // lateness bound DERIVED from the data's event-time span, same
        // reasoning as stream_asof_live below (VERDICT r9 #3: the
        // hardcoded `31 days` had <1 day of margin against the ~30-day
        // generator window — a wider regen would silently evict rows and
        // break the oracle gate confusingly): the stream dir is
        // hash-partitioned, so any batch can carry events from anywhere
        // in the span, and span + margin is by construction enough for
        // zero watermark drops. 1-row bounded action.
        // span from the per-session memo (r18): one aggregate job per
        // session, not per rep — the bound itself is unchanged
        val (tMin, tMax) = eventsSpanSec(s, dir)
        val latenessSec = (tMax - tMin) + 24L * 3600
        val lateness = s"$latenessSec seconds"
        def side() = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 2).parquet(src)
        val clicks = side().filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("cts"))
          .withWatermark("cts", lateness)
        val purchases = side().filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("pts"))
          .withWatermark("pts", lateness)
        withScratchCheckpoint(s) { ckpt =>
          val q = clicks.join(purchases,
              col("user_id") === col("p_user") &&
                col("cts") <= col("pts") &&
                col("pts") <= col("cts") + expr("interval 2 hours"))
            .select(col("click_id"), col("purchase_id"), col("user_id"),
              (unix_timestamp(col("pts")) - unix_timestamp(col("cts")))
                .as("gap_s"))
            .writeStream.format("memory").queryName(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").start()
          try q.processAllAvailable() finally q.stop()
          s.table(sink).orderBy("click_id", "purchase_id").localCheckpoint()
        }
      },
      Some(
        """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
          |       c.user_id,
          |       floor(epoch(p.ts))::BIGINT - floor(epoch(c.ts))::BIGINT
          |         AS gap_s
          |FROM events c JOIN events p
          |  ON p.user_id = c.user_id
          | AND c.event_type = 'click' AND p.event_type = 'purchase'
          | AND c.ts <= p.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
          |ORDER BY click_id, purchase_id""".stripMargin)
    ),
    // the reference's realtime ANN story (ObservableCollection's
    // insert→search loop, realtime.py:325-442) as Structured Streaming
    // over the persistent LSH index: each micro-batch of arriving
    // vectors APPENDS its bucket rows to the index (incremental
    // maintenance — IndexSpec's append ≡ rebuild law), and a probe
    // after EVERY batch must equal the in-query LSH search over
    // exactly the rows ingested so far (in-engine gate). The returned
    // frame is the final index probe, oracled against the full-table
    // LSH SQL — so the stream-built index provably converges to the
    // batch-built one. At scale this is the serving pattern: writers
    // append bucket partitions, probes prune to Bands partitions,
    // neither blocks the other.
    Q(
      "stream_ann_live",
      (s0, dir) => {
        import graft.index.{IndexStore, LshIndex}
        import graft.knn.Ann
        import graft.functions.VectorFunctions.hashVectorValues
        // no stateful shuffle here (foreachBatch only), but every
        // per-batch job — batch checkpoint, bucket-row append, `seen`
        // union, probes — otherwise schedules at the session's full
        // width over a few hundred rows; width 4 matches the other live
        // entries' child discipline
        val s = streamChild(s0, 4)
        val D = Tables.EmbeddingDim
        val K = 10
        val qv = hashVectorValues(11L, D)
        val emb = Tables.embeddings(s, dir)
        val tmp = graft.core.Scratch.dir("graft_stream_ann")
        val idx = s"$tmp/lsh"
        // multi-file copy so the file source yields genuine micro-batches:
        // 6 files at 2/trigger = 3 batches — one initial build plus TWO
        // incremental appends still prove the append ≡ rebuild law live,
        // and each append is a real partitioned-parquet commit over the
        // ~256 (band_idx, band_val) dirs (~1.2 s of pure file-commit
        // protocol at this row scale — the entry's measured floor is the
        // OPERATOR, not the differential gate; see SURVEY §6.7)
        val src = s"$tmp/src"
        emb.repartition(6).write.parquet(src)
        val stream = s.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", 2).parquet(src)
        var seen: org.apache.spark.sql.DataFrame = null
        var built = false
        var nonEmptyBatches = 0
        val probes = scala.collection.mutable.Buffer[Boolean]()
        def probe(): Unit = {
          val live = LshIndex
            .search(s, idx, "embedding", "vec_id", qv, D, K)
            .collect().toSeq
          val ref = Ann.lshSearch(seen, "embedding", "vec_id", qv, D, K)
            .collect().toSeq
          probes += (live == ref)
        }
        val onBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            Long) => Unit = { (batch, _) =>
          val b = batch.localCheckpoint()
          if (!b.isEmpty) {
            // compact layout (r18, guide §6): every micro-batch append
            // used to leave one small file in each of the 64 bucket dirs
            // (~1.1 s of per-file/commit overhead per batch, measured);
            // the 4-dir band_val-sorted layout is the right shape for an
            // append-per-batch index at any scale — probes are unchanged
            // (band_idx partition-prunes, band_val row-group-skips)
            if (!built) {
              IndexStore.ensure(s, idx)(p =>
                LshIndex.build(s, b, "embedding", "vec_id", D, p,
                  compact = true))
              built = true
            } else IndexStore.mutate(s, idx)(p =>
              LshIndex.append(s, b, "embedding", "vec_id", D, p,
                compact = true))
            seen = if (seen == null) b
              else seen.unionAll(b).localCheckpoint()
            // the mid-stream differential gate used to run EVERY batch —
            // O(batches × corpus) paid by the gate, not the operator
            // (VERDICT r9 #7). Probe the first batch (catches an
            // immediately-divergent build) and then every 3rd; the final
            // full-table differential below plus the DuckDB oracle keep
            // the end-state guarantee exactly as strong.
            if (nonEmptyBatches % 3 == 0) probe()
            nonEmptyBatches += 1
          }
        }
        try {
          val q = stream.writeStream.outputMode("append")
            .option("checkpointLocation", s"$tmp/ckpt")
            .foreachBatch(onBatch).start()
          try q.processAllAvailable() finally q.stop()
          // final full-table differential: the stream-built index must
          // equal the in-query LSH over EVERYTHING ingested (the sampled
          // mid-stream probes only bound divergence earlier)
          probe()
          require(probes.nonEmpty && probes.forall(identity),
            s"stream_ann_live: a probe diverged from the " +
              s"in-query LSH over the ingested rows (${probes.toSeq})")
          // pin the k-row final probe (eager localCheckpoint) so the
          // scratch stream copy + index can be deleted NOW instead of
          // accumulating one full embeddings copy per run in the temp
          // dir (ADVICE r7) — downstream re-plans read the checkpoint
          LshIndex.search(s, idx, "embedding", "vec_id", qv, D, K)
            .localCheckpoint()
        } finally {
          // drop the scratch index's store memos (built flag, memoized
          // bucket relation) with its dir — one per run otherwise
          IndexStore.invalidate(s, idx)
          val p = new org.apache.hadoop.fs.Path(tmp)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
      },
      Some(graft.knn.Ann.lshSearchSql("embeddings", "embedding", "vec_id",
        graft.functions.VectorFunctions.hashVectorSql("11",
          Tables.EmbeddingDim),
        Tables.EmbeddingDim, 10))
    ),
    // [[graft.stream.StreamAsOf]] driven as a REAL multi-micro-batch
    // stream and oracled (promoting it from spec-only): clicks enriched
    // with the same user's latest prior purchase value. The operator is
    // watermark-driven and out-of-order safe, so with a lateness bound
    // covering the replay's full event-time disorder (the stream dir is
    // hash-partitioned, same reasoning as stream_interval_join_live) the
    // appended output is invariant to HOW the files split into batches —
    // which is exactly what makes a DuckDB oracle possible. A far-future
    // sentinel right row on an unused key advances the global watermark
    // past every buffered left so the event-time timeouts flush them
    // (a live feed would use its true lateness bound and drain
    // continuously; the sentinel stands in for the clock advancing).
    Q(
      "stream_asof_live",
      (s0, dir) => {
        import graft.stream.StreamAsOf
        val s = streamChild(s0) // keyed state stores — width 8
        val ev = Tables.events(s, dir)
        // the operator's input relation: rights = purchases carrying
        // `value`, lefts = clicks; event time in epoch seconds (the
        // second-resolution ties this creates are resolved by eid in
        // both engines)
        val rel = ev.filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id").as("k"), col("ts").cast("long").as("t"),
            when(col("event_type") === "click", 1).otherwise(0).as("side"),
            col("event_id").as("eid"), col("value").as("v"))
        // lateness bound DERIVED from the data's event-time span (ADVICE
        // r8: a hardcoded 31 days left <1 day of margin against the
        // generator's ~30-day window — a wider regen would silently drop
        // late rows): the stream dir is hash-partitioned, so any batch
        // can carry events from anywhere in the span, and span + margin
        // is by construction enough for zero watermark drops. The span
        // comes from the per-session memo over ALL events (r18 — a
        // superset of this relation's span, so the lateness is ≥ the
        // former bound: still zero drops, and the sentinel below still
        // clears every buffered left; one aggregate job per session
        // instead of one per rep).
        val (minT, maxT) = eventsSpanSec(s, dir)
        val latenessSec = (maxT - minT) + 3600L
        val tmp = graft.core.Scratch.dir("graft_stream_asof_live")
        try {
          rel.repartition(6).write.parquet(s"$tmp/d0")
          val stream = s.readStream.schema(rel.schema)
            .option("maxFilesPerTrigger", 2).parquet(s"$tmp/d*")
          val sink = "stream_asof_live_sink"
          val q = StreamAsOf.enrich(stream, s"$latenessSec seconds")
            .toDF()
            .writeStream.outputMode("append")
            .option("checkpointLocation", s"$tmp/ckpt")
            .format("memory").queryName(sink).start()
          try {
            q.processAllAvailable()
            // sentinel: wm after this batch = t − lateness ≥ maxT + 1 h,
            // so every buffered left is cleared for emission; the unused
            // key −1 itself never emits (no left rows carry it)
            import s.implicits._
            Seq((-1L, maxT + latenessSec + 7200L, 0, 0L, 0.0))
              .toDF("k", "t", "side", "eid", "v")
              .coalesce(1).write.parquet(s"$tmp/dz")
            q.processAllAvailable()
          } finally q.stop()
          s.table(sink)
            .select(col("eid"), col("k"), col("t"),
              round(col("asof_v"), 4).as("asof_v"))
            .orderBy("eid").localCheckpoint()
        } finally {
          val p = new org.apache.hadoop.fs.Path(tmp)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
      },
      Some(
        """WITH l AS (
          |  SELECT event_id AS eid, user_id AS k,
          |         floor(epoch(ts))::BIGINT AS t
          |  FROM events WHERE event_type = 'click'),
          |r AS (
          |  SELECT user_id AS k, floor(epoch(ts))::BIGINT AS t,
          |         event_id AS eid, value AS v
          |  FROM events WHERE event_type = 'purchase'),
          |m AS (
          |  SELECT l.eid, l.k, l.t, r.v,
          |         row_number() OVER (PARTITION BY l.eid
          |                            ORDER BY r.t DESC, r.eid DESC) AS rn
          |  FROM l LEFT JOIN r ON r.k = l.k AND r.t <= l.t)
          |SELECT eid, k, t, round(v, 4) AS asof_v
          |FROM m WHERE rn = 1 ORDER BY eid""".stripMargin)
    ),
    // [[graft.stream.StatefulDedup]] driven as a real stream and oracled
    // (promoting the custom-state dedup from spec-only): first event per
    // user across micro-batches. First-seen-batch-wins is batch-order
    // DEPENDENT in general, so the source copy is hash-repartitioned ON
    // THE KEY — every key's rows land in one file, hence in one batch,
    // and the emitted row is that key's global min event_id whatever
    // order the batches run. (A live at-scale feed has no such layout
    // guarantee; there the operator's contract is genuinely
    // first-arrival-wins — the layout here pins determinism for the
    // oracle, the same way the interval-join entry pins its lateness.)
    Q(
      "stream_dedup_live",
      (s0, dir) => {
        import graft.stream.StatefulDedup
        val s = streamChild(s0) // keyed state stores — width 8
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"))
        val tmp = graft.core.Scratch.dir("graft_stream_dedup_live")
        try {
          ev.repartition(6, col("user_id")).write.parquet(s"$tmp/src")
          val stream = s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2).parquet(s"$tmp/src")
          val sink = "stream_dedup_live_sink"
          val q = StatefulDedup.firstSeenByKey(stream, "user_id")
            .toDF()
            .writeStream.outputMode("append")
            .option("checkpointLocation", s"$tmp/ckpt")
            .format("memory").queryName(sink).start()
          try q.processAllAvailable() finally q.stop()
          s.table(sink).orderBy("key").localCheckpoint()
        } finally {
          val p = new org.apache.hadoop.fs.Path(tmp)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
      },
      Some(
        """SELECT user_id AS key, min(event_id) AS event_id,
          |       arg_min(event_type, event_id) AS event_type
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
    )
  )

  /** Memoized event-time span of the events table per (session, dir) —
    * the live entries' lateness bounds derive from it, and the table is
    * immutable per dir, so the min/max aggregate is one job per session
    * instead of one per rep (r18 — the same derived-input-metadata memo
    * class as Graph.nodeCount/edgeCount, r17). */
  private val spanCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def eventsSpanSec(s: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Long) =
    spanCache.computeIfAbsent(
      s"${s.sparkContext.applicationId}:$dir", { _ =>
        val mm = Tables.events(s, dir)
          .agg(min(col("ts").cast("long")), max(col("ts").cast("long")))
          .head
        (mm.getLong(0), mm.getLong(1))
      })

  /** Child sessions scoping the streaming state width for the live
    * entries, memoized per parent session (same pattern as the IVF-PQ
    * serving scope in AnnQueries — repeated bench reps reuse one child
    * instead of leaking a session per call). A streaming stateful op
    * creates one state store per shuffle partition and EVERY micro-batch
    * commits every store; at the shared session's width of 32 that
    * commit overhead dominated the measured wall (tumbling r8: 3.9 →
    * 1.8 s at width 8; the interval join keeps TWO stores per partition,
    * so it gains even more). Width tuning is per-query serving state —
    * it must never touch the shared session (the sql_ann_topk_pq
    * lesson; StreamWidthSpec pins the isolation). */
  private val tumblingSessions =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.SparkSession]()

  /** The memoized width-`w` child for a parent session. */
  private def streamChild(s0: org.apache.spark.sql.SparkSession,
      w: Int = 8): org.apache.spark.sql.SparkSession =
    tumblingSessions.computeIfAbsent(
      org.apache.spark.sql.graft.bridge.sessionUuid(s0) + s"#$w",
      _ => {
        val c = s0.newSession()
        c.conf.set("spark.sql.shuffle.partitions", w.toString)
        c
      })

  /** Per-run streaming checkpoint dir under the index-store scratch root,
    * deleted when the run completes — the live entries previously relied
    * on Spark's best-effort temp-checkpoint deletion, which litters /tmp
    * with `Temporary checkpoint location…` residue in the bench tails
    * (VERDICT r8 #4). Explicit location + `finally` delete matches the
    * scratch hygiene of the tmp-dir entries. */
  private def withScratchCheckpoint[T](
      s: org.apache.spark.sql.SparkSession)(f: String => T): T = {
    // per-rep checkpoint: offset/commit logs + state-store deltas are
    // throwaway scratch — fast-scratch root (tmpfs when present), not
    // the persistent index store (r17, see core.Scratch)
    val dir = new org.apache.hadoop.fs.Path(
      graft.core.Scratch.dir("graft_ckpt"))
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    try f(dir.toString) finally fs.delete(dir, true)
  }

  /** Multi-file copy of the events table under the (versioned) store
    * root, keyed by the source fingerprint — the file source then yields
    * a genuine multi-batch stream (the testdata table is one file, which
    * would collapse any maxFilesPerTrigger run into a single batch).
    * Stale-fingerprint siblings are pruned like the scratch collections'. */
  private def eventsStreamDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    import graft.index.IndexStore
    val fp = IndexStore.fingerprint(s, Seq(s"$dir/events.parquet"))
    val root = new org.apache.hadoop.fs.Path(s"${IndexStore.root}/_streams")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prefix = s"${IndexStore.slug(dir)}_"
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        val suffix = n.stripPrefix(prefix)
        if (n.startsWith(prefix) && suffix != fp && suffix.matches("[0-9a-f]+"))
          fs.delete(st.getPath, true)
      }
    val path = s"$root/$prefix$fp"
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")))
      Tables.events(s, dir).repartition(8).write.mode("overwrite").parquet(path)
    path
  }
}
