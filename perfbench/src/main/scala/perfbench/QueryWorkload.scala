package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._

/** The `report` workload: the SNOWAV-analog report packs (band and total
  * reductions and statistics, time-series windows, basin graphs), every
  * query once per pass in a seed-permuted order. The index store is
  * barely touched. */
object QueryWorkload {
  val packs: Seq[graft.QueryPack] = Seq(Aggregations, Windows, Graphs)

  def names: Seq[String] = packs.flatMap(_.queries.map(_._1)).sorted

  /** Order-insensitive content digest of a frame, taken as an observed
    * metric of an execution that runs anyway: row count plus the sum of
    * per-row hashes. Doubles are compared at 4 decimals, as the oracle
    * compare does. */
  def observeDigest(df: DataFrame, name: String): (DataFrame, Observation) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType =>
        val d = c.cast(DoubleType)
        when(isnan(d), lit("NaN"))
          .otherwise(format_string("%.4f", when(d === 0.0, lit(0.0)).otherwise(d)))
      case ArrayType(et @ (DoubleType | FloatType), _) =>
        concat_ws(",", transform(c, x => norm(x, et)))
      case _ => c.cast(StringType)
    }
    val cells = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      coalesce(norm(col(s"`${f.name}`"), f.dataType), lit("NULL"))
    }
    val obs = Observation(s"digest-$name")
    val h = xxhash64(concat_ws("|", cells: _*)).cast(DecimalType(38, 0))
    (df.observe(obs, count(lit(1)).as("rows"), sum(h).as("h")), obs)
  }

  def digestOf(obs: Observation): (Long, String) = {
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    val h = Option(m("h")).map(v => BigInt(v.asInstanceOf[java.math.BigDecimal].toBigInteger))
      .getOrElse(BigInt(0))
    (rows, (h & ((BigInt(1) << 64) - 1)).toString(16))
  }

  /** Set-up, warm-up with output checks, then the timed passes. An
    * operation of a query whose output check failed counts as failed. */
  def run(spark: SparkSession, runner: Runner, b: Bench): Unit = {
    val all = names
    val fns = graft.SparkEntry.queries
    val hasOracle = graft.SparkEntry.oracleSql.keySet
    val rng = new Random(b.seed)

    // Set-up, which is also the output check: on a fresh store, every
    // query is constructed (building the artifacts it reads) and executed
    // once with its content digest observed. This is artifact builds,
    // code generation and JIT work; it runs on one thread per core.
    val badQueries = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def warm(dir: String, n: String): Unit = try {
      val (df, obs) = observeDigest(fns(n)(spark, dir), n)
      runner.materialize(df)
      val (rows, dg) = digestOf(obs)
      b.recorded.synchronized(b.recorded(n) = (rows, dg))
      b.reference.get(n) match {
        case Some((rRows, rDg)) if rows != rRows || (hasOracle(n) && dg != rDg) =>
          System.err.println(s"[perfbench] output check failed: $n rows=$rows " +
            s"digest=$dg, reference rows=$rRows digest=$rDg")
          badQueries.add(n)
        case None if b.reference.nonEmpty =>
          System.err.println(s"[perfbench] no reference for $n")
          badQueries.add(n)
        case _ =>
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] set-up of $n failed: ${e.getMessage}")
        badQueries.add(n)
    }
    val dir = b.setupStore(Main.Tables)(d => Bench.parallel(rng.shuffle(all).map(n => () => warm(d, n))))

    b.timed(minPasses = 1) { pass =>
      rng.shuffle(all).foreach { n =>
        runner.run("query", n, pass)(fns(n)(spark, dir))
        if (badQueries.contains(n)) runner.markFailed(n)
      }
    }

    // noop minus count() per query, traced runs only
    if (runner.tracer.isDefined) {
      all.foreach { n =>
        val t0 = System.nanoTime()
        try {
          fns(n)(spark, dir).count()
          b.countMs(n) = (System.nanoTime() - t0) / 1e6
        } catch { case _: Throwable => () }
      }
    }
  }
}
