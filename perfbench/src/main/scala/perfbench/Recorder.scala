package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One client call as the recorder saw it. Times from the benchmark's own
  * clock; `startMs`/`endMs` are epoch milliseconds so they line up with
  * Spark's job timestamps. */
final case class OpSpan(id: Int, kind: String, startMs: Long, endMs: Long,
    wallNs: Long, callNs: Long, planNs: Long, execNs: Long, gcMs: Long)

/** Per-op facts after [[Recorder.drain]]: job intervals and task totals. */
final case class OpFacts(span: OpSpan, jobs: Seq[(Long, Long)], cpuNs: Long,
    ioBytes: Long, outBytes: Long) {
  /** Length of the union of this op's job intervals, optionally clipped
    * to the op's own window. */
  def jobUnionMs(clip: Boolean): Long = {
    val iv = jobs.map { case (s, e) =>
      if (clip) (math.max(s, span.startMs), math.min(e, span.endMs)) else (s, e)
    }.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
  def wallMs: Double = span.wallNs / 1e6
  /** Driver time: the op's wall minus the time some job of it ran. */
  def driverMs: Double = math.max(0.0, wallMs - jobUnionMs(clip = true))
}

/** Traced-run recorder, attached from outside the engine.
  *
  * Every client call runs under its own Spark job group (`pb-<n>`, set
  * with the public `setJobGroup` API), so the listener can attribute
  * jobs, and through their stages each task's metrics, to the call that
  * caused them. Spans (op, call, plan, exec, job) stay in memory and are
  * written out once, when the run ends. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext

  private final class JobRec(val group: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  private final class TaskAgg {
    var cpuNs = 0L; var ioBytes = 0L; var outBytes = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentHashMap[String, TaskAgg]()
  private val ops = mutable.ArrayBuffer.empty[OpSpan]
  private var next = 0

  private def groupOf(props: java.util.Properties): String =
    Option(props).map(_.getProperty("spark.jobGroup.id")).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    if (g != null && g.startsWith("pb-")) {
      jobs.put(e.jobId, new JobRec(g, e.time))
      e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val a = tasks.computeIfAbsent(g, _ => new TaskAgg)
      a.synchronized {
        a.cpuNs += m.executorCpuTime
        a.outBytes += m.outputMetrics.bytesWritten
        a.ioBytes += m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run `body` as one traced op; `body` reports its own call/plan/exec
    * split through the returned phase array (ns). */
  def op[A](kind: String)(body: Array[Long] => A): A = {
    val id = synchronized { next += 1; next }
    sc.setJobGroup(s"pb-$id", kind)
    val phases = new Array[Long](3)
    val gc0 = gcMs
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body(phases)
    finally {
      val wall = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      synchronized {
        ops += OpSpan(id, kind, startMs, endMs, wall, phases(0), phases(1),
          phases(2), gcMs - gc0)
      }
    }
  }

  /** Wait until the listener has seen every event posted so far: a fence
    * job's end event is queued after all earlier events. */
  def drain(): Unit = {
    val g = "pb-fence"
    sc.setJobGroup(g, "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!jobs.values.asScala.exists(j => j.group == g && j.endMs >= 0) &&
        System.nanoTime() < deadline) Thread.sleep(20)
  }

  def facts(): Seq[OpFacts] = {
    val byGroup = jobs.values.asScala.groupBy(_.group)
    synchronized(ops.toList).map { s =>
      val g = s"pb-${s.id}"
      val js = byGroup.getOrElse(g, Nil).map(j => (j.startMs,
        if (j.endMs >= 0) j.endMs else s.endMs)).toSeq
      val t = Option(tasks.get(g)).getOrElse(new TaskAgg)
      OpFacts(s, js, t.cpuNs, t.ioBytes, t.outBytes)
    }
  }

  /** Spans as JSON lines: each op, its call/plan/exec phases and its jobs
    * (parent = the op span's id). */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = facts().flatMap { f =>
      val s = f.span
      val opLine = s"""{"span":"op","id":${s.id},"kind":"${s.kind}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_ns":${s.wallNs},""" +
        s""""gc_ms":${s.gcMs},"exec_cpu_ns":${f.cpuNs},"io_bytes":${f.ioBytes}}"""
      val phases = Seq("call" -> s.callNs, "plan" -> s.planNs, "exec" -> s.execNs)
        .map { case (n, ns) => s"""{"span":"$n","parent":${s.id},"dur_ns":$ns}""" }
      val jobLines = f.jobs.map { case (a, b) =>
        s"""{"span":"job","parent":${s.id},"start_ms":$a,"end_ms":$b}""" }
      opLine +: (phases ++ jobLines)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
