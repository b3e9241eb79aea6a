package perfbench

import scala.jdk.CollectionConverters._

/** Turns a finished run into its result JSON: end-to-end metrics from
  * the untraced operations, per-layer metrics from the traced ones. */
object Report {
  /** Per-layer names only the ingest workload produces; other workloads
    * report them as 0 so every run prints the same set. */
  val IngestLayers: Seq[(String, String)] = Seq(
    "ingest.commit_docs_ms" -> "ms", "ingest.commit_vecs_ms" -> "ms",
    "ingest.replace_docs_ms" -> "ms", "ingest.delete_docs_ms" -> "ms",
    "ingest.probe_minhash_ms" -> "ms", "ingest.probe_ivfcpq_ms" -> "ms",
    "overlay.segments_max" -> "count", "overlay.compact_ms" -> "ms",
    "corpusgen.promote_ms" -> "ms", "store.commit_docs_mb" -> "MB",
    "store.commit_vecs_mb" -> "MB", "store.replace_docs_mb" -> "MB",
    "store.delete_docs_mb" -> "MB", "store.promote_mb" -> "MB")

  def build(b: Bench, r: Runner, cacheMb: Double): String = {
    val ops = r.ops.toSeq
    val failed = ops.count(!_.ok) + b.failedChecks
    val attempted = math.max(1, ops.size + b.checks)
    val plain = ops.filter(o => o.ok && !o.traced)
    val lat = plain.map(_.ms)
    val (tailPct, tailMs, tailN) = Stats.tail(lat)
    val e2e = Seq(
      "setup_s" -> (b.setupSeconds, "s"),
      "ops_per_s" -> (plain.size / (lat.sum / 1e3), "1/s"),
      "op_p50_ms" -> (Stats.median(lat), "ms"),
      "op_tail_ms" -> (tailMs, "ms"),
      "query_geomean_ms" -> (Stats.geomean(
        plain.groupBy(_.name).values.map(os => Stats.median(os.map(_.ms))).toSeq), "ms"),
      // the process CPU clock ticks in 10 ms steps, so this is a mean
      "op_cpu_ms" -> (plain.map(_.cpuMs).sum / math.max(1, plain.size), "ms"))
    val extra = b.extra.toSeq ++ Seq(
      "cache_mb" -> (cacheMb, "MB"),
      "failed_frac" -> (failed.toDouble / attempted, "ratio"),
      "op_tail_pct" -> (tailPct, "percentile"),
      "op_tail_samples" -> (tailN.toDouble, "count"),
      "timed_passes" -> (b.timedPasses.toDouble, "count")) ++
      b.setupParts.toSeq.map { case (k, v) => s"setup.$k" -> (v, "s") }
    val metrics = if (b.traced) layers(b, r) else e2e
    def obj(kv: Seq[(String, (Double, String))]): String = kv.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${obj(metrics)},"end_to_end":${obj(e2e)},"extra":${obj(extra)}}"""
  }

  private def layers(b: Bench, r: Runner): Seq[(String, (Double, String))] = {
    val tr = r.tracer.get
    val ops = r.ops.toSeq.filter(_.traced)
    val passes = math.max(1, ops.map(_.pass).distinct.size).toDouble
    def counts(phases: String*) = for (o <- ops; ph <- phases) yield tr.counts(o.id, ph)
    def perPass(xs: Seq[Double]) = xs.sum / passes
    val both = counts("construct", "execute")
    def phaseMs(name: String) = perPass(both.flatMap(_.phases).collect {
      case (`name`, s, e) => (e - s).toDouble })
    val taskMs = both.map(_.taskNanos / 1e6).sum
    val opMs = ops.map(_.ms).sum
    val g = ops.flatMap(o => r.gauges.get(o.id))

    // noop minus count() per query, against the untraced noop latency
    val plainMedian = r.ops.filter(o => o.ok && !o.traced).groupBy(_.name)
      .map { case (n, os) => n -> Stats.median(os.map(_.ms).toSeq) }
    val gap = b.countMs.toSeq.collect { case (n, c) if plainMedian.contains(n) => plainMedian(n) - c }

    // tracing overhead: traced against untraced latency, summed over the
    // operations that ran as back-to-back pairs and succeeded both times
    val pairs = r.ops.filter(_.pair >= 0).groupBy(_.pair).values
      .filter(p => p.size == 2 && p.forall(_.ok)).toSeq
    def pairMs(traced: Boolean) = pairs.map(_.find(_.traced == traced).get.ms).sum
    val overhead = 100.0 * (pairMs(true) / math.max(1e-9, pairMs(false)) - 1)

    // self time per layer: a phase span minus the catalyst spans inside it
    val cat = tr.catalystSpans()
    val spans = tr.spans.toSeq.filter(_ != null)
    def self(phase: String) = perPass(spans.filter(_.name == phase).map { s =>
      s.ms - cat.filter(_.parent == s.id).map(_.ms).sum })

    Seq(
      "operators.construct_ms" -> (perPass(g.map(_.constructMs)), "ms"),
      "operators.construct_jobs" -> (perPass(counts("construct").map(_.jobs.toDouble)), "count"),
      "catalyst.analysis_ms" -> (phaseMs("analysis"), "ms"),
      "catalyst.optimization_ms" -> (phaseMs("optimization"), "ms"),
      "catalyst.planning_ms" -> (phaseMs("planning"), "ms"),
      "codegen.compiles" -> (perPass(g.map(_.compiles.toDouble)), "count"),
      "codegen.compile_ms" -> (perPass(g.map(_.compileMs)), "ms"),
      "exec.jobs" -> (perPass(both.map(_.jobs.toDouble)), "count"),
      "exec.stages" -> (perPass(both.map(_.stages.toDouble)), "count"),
      "exec.tasks" -> (perPass(both.map(_.tasks.toDouble)), "count"),
      "exec.task_ms" -> (taskMs / passes, "ms"),
      "exec.busy_cores" -> (taskMs / math.max(1e-9, opMs), "cores"),
      "exec.shuffle_write_mb" -> (perPass(both.map(_.shuffleWrite / 1e6)), "MB"),
      "exec.shuffle_read_mb" -> (perPass(both.map(_.shuffleRead / 1e6)), "MB"),
      "exec.spill_mb" -> (perPass(both.map(_.spill / 1e6)), "MB"),
      "exec.materialize_gap_ms" -> (gap.sum, "ms"),
      "tables.artifact_build_ms" -> (b.setupArtifactMs, "ms"),
      "tables.timed_artifact_build_ms" -> (b.timedArtifactMs / math.max(1, b.timedPasses), "ms"),
      "self.operators_ms" -> (self("construct"), "ms"),
      "self.catalyst_ms" -> (perPass(cat.map(_.ms)), "ms"),
      "self.exec_ms" -> (self("execute"), "ms"),
      "trace.overhead_pct" -> (overhead, "%")) ++
      IngestLayers.map { case (n, unit) => n -> b.layers.getOrElse(n, (0.0, unit)) }
  }

  /** Spans as JSON lines, times in ms from the first span. */
  def spansJson(tr: Tracer, r: Runner): String = {
    val all = tr.spans.toSeq.filter(_ != null) ++ tr.catalystSpans()
    val t0 = if (all.isEmpty) 0L else all.map(_.start).min
    all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ms":${Json.num((s.start - t0) / 1e6)},"end_ms":${Json.num((s.end - t0) / 1e6)}}"""
    }.mkString("", "\n", "\n")
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def writeDigests(m: Map[String, (Long, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, (rows, dg)) =>
      s"""  "$k": {"rows": $rows, "digest": "$dg"}""" }.mkString("{\n", ",\n", "\n}\n")

  def readDigests(s: String): Map[String, (Long, String)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
    node.properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap
  }
}
