package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload against the engine's client
  * API (`VectorDb`/`VectorCollection`) on `local[nproc]` and prints one
  * JSON result as its last stdout line.
  *
  * Usage: perfbench.Main --workload serve|ingest|prepare --seed N
  *   --seconds S --trace 0|1 --work DIR [--spans FILE]
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` first runs the
  * loop untraced, then again with the [[Recorder]] attached, probes every
  * op kind the loop did not issue, times the kernel layer, and prints the
  * per-layer metrics. */
object Main {
  val Ops = Seq("ann", "ann_filtered", "exact", "text", "hybrid", "get",
    "insert", "upsert", "delete", "batch_exact", "batch_ann")
  val Reads = Set("ann", "ann_filtered", "exact", "text", "hybrid", "get",
    "batch_exact", "batch_ann")
  // op kinds that run an ensure*Index() inside the call
  val Ensuring = Set("ann", "ann_filtered", "text", "hybrid", "batch_ann", "refresh")
  val Rows = 10000
  /** Nominal length of one loop cycle on a 4-core box: `--seconds` buys
    * ceil(seconds / CycleSeconds) whole cycles, at least one. */
  val CycleSeconds = 20.0

  final class Metrics {
    val values = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
    def json: String = values.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val trace = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // session warm-up (first-job codegen and scheduler start) stays out of setup_s
      spark.range(1000).selectExpr("sum(id)").collect()
      val gen = new Gen(seed)
      val client = new Client(None)
      if (workload == "prepare") { prepare(spark, gen, work); return }
      val w: Workload = workload match {
        case "serve" => new Serve(spark, gen, work, client, Rows)
        case "ingest" => new Ingest(spark, gen, work, client, Rows)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      val cycles = math.max(1, math.ceil(seconds / CycleSeconds).toInt)
      val t0 = System.nanoTime()
      def phase(p: String): Unit =
        System.err.println(f"[perfbench] $p done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
      phase(s"session (JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms)")
      w.setUp(); phase("setup")
      w.warmUp(); phase("warm-up")
      val m = new Metrics
      var correct = true
      if (!trace) {
        w.loop(cycles, traced = false); phase("loop")
        w.finish(); phase("finish")
        endToEnd(w, m)
      } else {
        correct = traced(spark, w, cycles, a.get("spans"), m)
      }
      println(s"""{"env": {"workload": "$workload", "seed": $seed, "trace": ${if (trace) 1 else 0}, """ +
        s""""nproc": $cpus, "master": "local[$cpus]", "rows": $Rows, """ +
        s""""driver_max_heap_bytes": ${Runtime.getRuntime.maxMemory}, """ +
        s""""jdk": "${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}", """ +
        s""""spark": "${spark.version}", "setup_steps_ms": ${w.out.setup.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")}, """ +
        s""""loop_cycles": ${w.cycles}, "loop_p50_ms_by_kind": ${byKind(w)}, """ +
        s""""errors": [${client.errors.map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString(", ")}]}}""")
      val ok = correct && client.failed == 0
      println(s"""{"correct": $ok, "attempted": ${client.attempted}, "failed": ${client.failed}, "metrics": ${m.json}}""")
    } finally spark.stop()
  }

  /** Runs every op kind once on a tiny collection, so that a JVM started
    * with -XX:ArchiveClassesAtExit archives the classes the workloads load
    * (run.py does this once per build; later runs start from the archive). */
  def prepare(spark: SparkSession, gen: Gen, work: String): Unit = {
    val w = new Serve(spark, gen, work, new Client(None), 400)
    w.setUp()
    Ops.foreach(k => if (Reads(k)) w.readOp(k) else w.writeOp(k))
    w.finish()
    println(s"""{"prepared": ${w.client.failed == 0}}""")
  }

  /** Median latency of each op kind in the measured loop(s), for the record. */
  def byKind(w: Workload): String =
    w.client.timed.slice(w.out.loopFrom, w.out.loopTo).groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (k, ts) => f""""$k": ${Stats.percentile(ts.map(_.ms).toSeq, 0.5)}%.1f""" }
      .mkString("{", ", ", "}")

  /** The end-to-end metrics of the measured loop. */
  def endToEnd(w: Workload, m: Metrics): Unit = {
    val loop = w.client.timed.slice(w.out.loopFrom, w.out.loopTo)
    val reads = loop.filter(t => w.readKinds(t.kind)).map(_.ms)
    m("setup_s", "s") = w.out.setupS
    m("read_p50_ms", "ms") = Stats.percentile(reads.toSeq, 0.5)
    m("read_p90_ms", "ms") = Stats.percentile(reads.toSeq, 0.9)
    m("queries_per_s", "1/s") = loop.map(_.queries).sum / (loop.map(_.wallNs).sum / 1e9)
    m("ann_recall_at_10", "ratio") = w.out.recallSum / w.out.recallN
    m("stored_bytes_per_user_byte", "ratio") =
      (w.out.storedBytes + w.out.indexBytes).toDouble / w.out.userBytes
  }

  /** The traced run; returns false if the trace failed its own checks. */
  def traced(spark: SparkSession, w: Workload, cycles: Int,
      spansPath: Option[String], m: Metrics): Boolean = {
    // client time per cycle of the loop that just ran
    def perCycleNs = w.client.timed.slice(w.out.loopFrom, w.out.loopTo)
      .map(_.wallNs).sum.toDouble / cycles
    w.loop(cycles, traced = false)
    val plain = perCycleNs

    // start the traced pass from the state the untraced one started from:
    // every index fresh at the current data generation
    w.ensureIndexes()
    val rec = new Recorder(spark)
    spark.sparkContext.addSparkListener(rec)
    w.client.recorder = Some(rec)
    w.mutatedBytes = 0L
    w.loop(cycles, traced = true)
    val tracedPerCycle = perCycleNs
    val seen = w.client.timed.slice(w.out.loopFrom, w.out.loopTo).map(_.kind).toSet
    Ops.filterNot(seen).foreach { k =>
      if (Reads(k)) w.readOp(k) else { w.writeOp(k); w.refresh() }
    }
    w.client.recorder = None
    rec.drain()

    val k = Kernel.measure(spark, w.coll.df,
      (1 to Kernel.Queries).map(i => w.gen.query(-i).vector))
    k.error.foreach(w.client.fail)
    w.finish()

    val facts = rec.facts()
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, 0.5)
    var ok = true
    Ops.foreach { op =>
      val fs = facts.filter(_.span.kind == op)
      def put(n: String, unit: String, f: OpFacts => Double) =
        m(s"op.$op.$n", unit) = med(fs.map(f))
      put("wall_ms", "ms", _.wallMs)
      put("call_ms", "ms", _.span.callNs / 1e6)
      put("plan_ms", "ms", _.span.planNs / 1e6)
      put("exec_ms", "ms", _.span.execNs / 1e6)
      put("driver_ms", "ms", _.driverMs)
      put("jobs", "count", _.jobs.size.toDouble)
      put("exec_cpu_ms", "ms", _.cpuNs / 1e6)
      put("gc_ms", "ms", _.span.gcMs.toDouble)
      put("io_bytes", "bytes", _.ioBytes.toDouble)
      // spans reconcile: driver time plus the job intervals covers the op
      val wall = fs.map(_.wallMs).sum
      val covered = fs.map(f => f.driverMs + f.jobUnionMs(clip = false)).sum
      if (math.abs(covered - wall) > 0.05 * wall) {
        ok = false
        System.err.println(f"[perfbench] trace of $op does not reconcile: $covered%.1f ms vs wall $wall%.1f ms")
      }
    }
    val writes = facts.filter(f => Set("insert", "upsert", "delete")(f.span.kind))
    m("core.load_ms", "ms") = w.out.setup("load_ms")
    m("core.write_amp", "ratio") = writes.map(_.outBytes).sum.toDouble / math.max(1L, w.mutatedBytes)
    m("core.data_files", "count") = w.out.dataFiles.toDouble
    m("core.changelog_files", "count") = w.out.changelogFiles.toDouble
    Seq("build_ann_ms", "build_text_ms", "build_hybrid_ms").foreach(s =>
      m(s"index.$s", "ms") = w.out.setup(s))
    val refreshes = facts.filter(_.span.kind == "refresh")
    m("index.refresh_ms", "ms") = med(refreshes.map(_.wallMs))
    val ensuring = facts.filter(f => Ensuring(f.span.kind))
    m("index.rebuild_ratio", "ratio") =
      ensuring.count(_.outBytes > 0).toDouble / math.max(1, ensuring.size)
    m("index.stored_bytes", "bytes") = w.out.indexBytes.toDouble
    m("expr.cosine_ns_per_dim", "ns") = k.cosineNsPerDim
    m("expr.jvm_floor_ns_per_dim", "ns") = k.jvmFloorNsPerDim
    m("trace.overhead_pct", "%") = 100.0 * (tracedPerCycle / plain - 1.0)
    spansPath.foreach(p => rec.writeSpans(java.nio.file.Paths.get(p)))
    ok
  }
}
