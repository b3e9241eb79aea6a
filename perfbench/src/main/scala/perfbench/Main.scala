package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: its arguments, set-up accounting and timed loop.
  * Set-up is everything from JVM start to the first timed operation:
  * session start, store set-up and warm-up. */
final class Bench(val spark: SparkSession, args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val dataDir: String = args("data")
  val workDir: String = args("work")

  /** Reference (rows, digest) per query, empty in record mode. */
  val reference: Map[String, (Long, String)] = args.get("ref")
    .filter(p => Files.exists(Paths.get(p)))
    .map(p => Json.readDigests(Files.readString(Paths.get(p)))).getOrElse(Map.empty)
  val recorded = mutable.Map.empty[String, (Long, String)]
  val countMs = mutable.Map.empty[String, Double]

  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  var setupArtifactMs = 0.0
  var timedArtifactMs = 0.0
  var timedPasses = 0
  /** Workload-specific end-to-end metrics, printed beside the result. */
  val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Workload-specific per-layer metrics of a traced run. */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Output checks made outside the timed operations, and those that
    * failed. */
  var checks, failedChecks = 0

  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.1fs] $msg")

  /** Store set-up: a dataset directory of symlinks to the generated
    * tables, whose new path makes the engine derive a fresh private index
    * store, and `build` on it: every artifact the workload's operations
    * read, and their warm-up. Returns the directory. */
  def setupStore(tables: Seq[String])(build: String => Unit): String = {
    val d = Files.createDirectories(Paths.get(workDir, "dataset"))
    tables.foreach { t =>
      Files.createSymbolicLink(d.resolve(s"$t.parquet"), Paths.get(dataDir, s"$t.parquet").toAbsolutePath)
    }
    val g0 = Gauges.snap()
    val t0 = System.nanoTime()
    build(d.toString)
    setupParts("store") = (System.nanoTime() - t0) / 1e9
    setupArtifactMs = (Gauges.snap().artifactNs - g0.artifactNs) / 1e6
    log("store set-up done")
    d.toString
  }

  /** JVM start to the first timed operation. */
  var setupSeconds = 0.0

  /** Timed passes: whole passes until `seconds` have elapsed, at least
    * `minPasses`. */
  def timed(minPasses: Int)(pass: Int => Unit): Unit = {
    setupSeconds = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val g0 = Gauges.snap()
    val jit = ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    val t0 = System.nanoTime()
    var p = 0
    while (p < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass(p)
      log(f"pass $p done at ${(System.nanoTime() - t0) / 1e9}%.1fs")
      p += 1
    }
    timedPasses = p
    extra("timed_jit_compile_s") = ((jit.getTotalCompilationTime - jit0) / 1e3, "s")
    timedArtifactMs = (Gauges.snap().artifactNs - g0.artifactNs) / 1e6
  }
}

object Bench {
  /** Runs the tasks on one thread per core; rethrows the first failure. */
  def parallel(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }
}

object Main {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.Tables.mkSession(s"local[$cpus]", cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val b = new Bench(spark, args)
    b.setupParts("session") = (System.currentTimeMillis() - b.jvmStartMs) / 1e3
    b.log("session ready")
    val tracer = if (b.traced) Some(new Tracer(spark.sparkContext)) else None
    val runner = new Runner(tracer)
    if (b.workload == "ingest") IngestWorkload.run(spark, runner, b)
    else QueryWorkload.run(spark, runner, b)
    tracer.foreach(_.drain())
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val result = Report.build(b, runner, cacheMb)
    Files.writeString(Paths.get(args("out")), result)
    args.get("record").foreach { p =>
      Files.writeString(Paths.get(p), Json.writeDigests(b.recorded.toMap))
    }
    (tracer, args.get("spans")) match {
      case (Some(t), Some(p)) => Files.writeString(Paths.get(p), Report.spansJson(t, runner))
      case _ =>
    }
    b.log("result written")
    spark.stop()
    b.log("session stopped")
  }
}
