package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kernel layer: the engine's `vec_cosine_distance` SQL function over a
  * DataFrame the benchmark has cached, against a plain JVM loop over the
  * same vectors on as many threads as Spark has cores. Each pass scores
  * every cached row against [[Queries]] query vectors. The Spark figure
  * subtracts a pass that scans the same cache without the kernel, so both
  * are kernel time in ns per vector dimension, from the median of several
  * passes. */
object Kernel {
  val Queries = 16

  final case class Result(cosineNsPerDim: Double, jvmFloorNsPerDim: Double,
      error: Option[String])

  def measure(spark: SparkSession, data: DataFrame, qs: Seq[Array[Double]],
      reps: Int = 7): Result = {
    graft.functions.VectorFunctions.register(spark)
    val cached = data.select("vector").cache()
    try {
      val vecs = cached.collect().map(_.getSeq[Double](0).toArray)
      val dims = vecs.length.toDouble * qs.size * qs.head.length
      val withQ = cached.select(col("vector") +:
        qs.zipWithIndex.map { case (q, i) => typedlit(q.toSeq).as(s"q$i") }: _*)
      val kernel = withQ.select(sum(expr(
        qs.indices.map(i => s"vec_cosine_distance(vector, q$i)").mkString(" + "))))
      val scan = withQ.select(count(col("vector")))
      val (baseNs, _) = median(reps)(scan.head().getLong(0).toDouble)
      val (sparkNs, sparkSum) = median(reps)(kernel.head().getDouble(0))
      val threads = spark.sparkContext.defaultParallelism
      val (jvmNs, jvmSum) = median(reps)(floor(vecs, qs, threads))
      val err =
        if (math.abs(sparkSum - jvmSum) > 1e-9 * dims) Some(s"kernel sum $sparkSum != JVM loop $jvmSum")
        else None
      Result((sparkNs - baseNs) / dims, jvmNs / dims, err)
    } finally cached.unpersist(blocking = true)
  }

  /** One warm-up pass, then the median wall time (ns) of `reps` passes. */
  private def median(reps: Int)(f: => Double): (Double, Double) = {
    val v = f
    val ts = Seq.fill(reps) { val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble }
    (Stats.percentile(ts, 0.5), v)
  }

  /** Sum of cosine distances of every row to every query, the engine
    * kernel's arithmetic in a plain loop, split over `threads` threads. */
  def floor(vecs: Array[Array[Double]], qs: Seq[Array[Double]], threads: Int): Double = {
    val chunk = (vecs.length + threads - 1) / threads
    val parts = new Array[Double](threads)
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        var acc = 0.0
        var r = t * chunk
        val end = math.min(vecs.length, r + chunk)
        while (r < end) {
          val a = vecs(r)
          qs.foreach { q =>
            var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
            while (i < a.length) {
              val x = a(i); val y = q(i)
              dot += x * y; na += x * x; nb += y * y
              i += 1
            }
            acc += 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
          }
          r += 1
        }
        parts(t) = acc
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    parts.sum
  }
}

object Stats {
  /** Linear-interpolated percentile (p in [0, 1]) of unsorted values. */
  def percentile(values: Seq[Double], p: Double): Double = {
    val s = values.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.size - 1) * p
      val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}
