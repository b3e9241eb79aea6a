package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

/** One timed operation: a registry query or an ingest verb. `pass` is
  * the timed pass it ran in; `pair` links the untraced and traced runs of
  * one operation in a traced run (-1 when it ran once). */
final case class Op(id: Int, kind: String, name: String, pass: Int, ms: Double,
    cpuMs: Double, ok: Boolean, traced: Boolean, pair: Int = -1)

/** Per-operation counters of a traced run: codegen deltas and the wall
  * time of the construct phase. */
final case class OpGauges(compiles: Long, compileMs: Double, constructMs: Double)

/** Runs operations in one closed-loop client thread and records them.
  *
  * An operation is the call that produces a DataFrame (a query's
  * `fn(spark, dir)` or an `Ingest` verb) followed by materializing every
  * row of that frame through Spark's `noop` sink, so no column the caller
  * would receive is pruned away. */
final class Runner(val tracer: Option[Tracer]) {
  val ops = ArrayBuffer.empty[Op]
  val gauges = scala.collection.mutable.Map.empty[Int, OpGauges]
  private var pairs = 0

  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs one operation; returns whether it succeeded. In the first pass
    * of a traced run a `repeatable` operation (one that leaves no state
    * behind) runs twice, untraced and traced back to back in alternating
    * order, so the two latencies compare like with like. */
  def run(kind: String, name: String, pass: Int, repeatable: Boolean = true)(
      call: => DataFrame): Boolean =
    if (tracer.isEmpty) once(kind, name, pass, traced = false)(call)
    else if (!repeatable || pass > 0) once(kind, name, pass, traced = true)(call)
    else {
      pairs += 1
      if (pairs % 2 == 0) {
        once(kind, name, pass, traced = false, pairs)(call)
        once(kind, name, pass, traced = true, pairs)(call)
      } else {
        val ok = once(kind, name, pass, traced = true, pairs)(call)
        once(kind, name, pass, traced = false, pairs)(call)
        ok
      }
    }

  private def once(kind: String, name: String, pass: Int, traced: Boolean, pair: Int = -1)(
      call: => DataFrame): Boolean = {
    val id = ops.size
    val tr = tracer.filter(_ => traced)
    val g0 = Gauges.snap()
    var constructNs = 0L
    val cpu0 = Runner.processCpuNanos()
    val t0 = System.nanoTime()
    val ok = try {
      def body(): Unit = {
        val c0 = System.nanoTime()
        val df = tr.fold(call)(_.phase(id, "construct")(call))
        constructNs = System.nanoTime() - c0
        tr.foreach(_.constructed(id, df))
        tr.fold(materialize(df))(_.phase(id, "execute")(materialize(df)))
      }
      tr.fold(body())(_.op(id, s"$kind:$name")(body()))
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $kind $name failed: " +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Runner.processCpuNanos() - cpu0) / 1e6
    if (tr.isDefined) {
      val g1 = Gauges.snap()
      gauges(id) = OpGauges(g1.compiles - g0.compiles, (g1.compileNs - g0.compileNs) / 1e6,
        constructNs / 1e6)
    }
    ops += Op(id, kind, name, pass, ms, cpuMs, ok, tr.isDefined, pair)
    System.err.println(f"[perfbench op] $kind $name ${ms}%.1f ms${if (tr.isDefined) " traced" else ""}${if (ok) "" else " FAILED"}")
    ok
  }

  /** Marks the operations of the last `run` failed: they ran, but the
    * output is wrong. */
  def markFailed(name: String): Unit = ops.indices.reverse.takeWhile(i => ops(i).name == name)
    .foreach(i => ops(i) = ops(i).copy(ok = false))
}

object Runner {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM (Spark's executor threads,
    * the driver, garbage collection and JIT compilation). The kernel
    * leaves out time a virtual CPU was stolen by its host. */
  def processCpuNanos(): Long = os.getProcessCpuTime
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest percentile with at least ten samples beyond it, and the
    * latency there: the 11th-largest sample, but never below the 75th
    * percentile, so with few samples the tail stays in the upper quarter
    * (3rd-largest of 12). Returns (percentile, value, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    val k = math.min(n - 1, math.max(n - 11, math.ceil(0.75 * (n - 1)).toInt))
    (100.0 * k / math.max(1, n - 1), s(k), n)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}
