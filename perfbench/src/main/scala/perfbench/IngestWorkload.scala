package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Ingest

/** Writes beside reads on a private index store.
  *
  * One cycle per pass: commit a seeded 50-row document batch and a 50-row
  * vector batch, replace half of the documents and delete a fifth of
  * them. Each document write is followed by a `minhashDedup` probe of the
  * batch's texts, the vector write by an `annIvfcPq` probe of fresh
  * vectors. A traced run then
  * compacts and promotes the store; these cost 30-40 s together on a
  * 4-core machine at any scale, more than an untraced run may take.
  *
  * Documents are drawn from the corpus vocabulary and vectors are
  * perturbed corpus vectors. All ids fall in one seed-chosen id-hash
  * bucket, so a promote is the incremental fold of one bucket per table.
  * The benchmark keeps its own model of what must be visible. After each
  * cycle's writes, and again after a promote, every live committed text
  * must be found by `exactDedup` and every deleted or replaced text must
  * not; the cycle's ANN probe is scored against a brute-force cosine
  * top-3 over the visible vectors and must reach `RecallFloor`. These
  * checks run outside the timed operations. */
object IngestWorkload {
  val BatchRows = 50
  /** Lowest recall@3 of a cycle's ANN probe that passes its check. */
  val RecallFloor = 0.9
  private val DocIds = 100000000L
  private val VecIds = 200000000L
  private val ProbeVecIds = 300000000L
  private val ProbeShift = 400000000L
  private val CheckIds = 500000000L

  /** The store's id-hash bucket count (CorpusGen's default). */
  private val Buckets = 64

  private val Writes = Seq("commit_docs", "commit_vecs", "replace_docs", "delete_docs")

  def run(spark: SparkSession, runner: Runner, b: Bench): Unit = {
    import spark.implicits._
    val rng = new Random(b.seed)
    val vocab = spark.read.parquet(s"${b.dataDir}/documents.parquet").select("text")
      .as[String].collect().flatMap(_.split(' ')).distinct.sorted
    val baseVecs = spark.read.parquet(s"${b.dataDir}/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()

    def text(): String = Seq.fill(20 + rng.nextInt(20))(vocab(rng.nextInt(vocab.length))).mkString(" ")
    // every id the workload writes falls in one seed-chosen bucket
    val bucket = Math.floorMod(b.seed, Buckets.toLong)
    def ids(base: Long, g: Int): Seq[Long] =
      (0 until BatchRows).map(i => base + Buckets * (g.toLong * BatchRows + i) + bucket)
    def perturbed(ids: Seq[Long]): Seq[(Long, Array[Float])] = ids.map { id =>
      val v = baseVecs(rng.nextInt(baseVecs.length))._2.map(x => x + 0.05f * rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      (id, v.map(_ / n))
    }
    def docsDf(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")
    def vecsDf(rows: Seq[(Long, Array[Float])]): DataFrame = rows.toDF("vec_id", "embedding")

    // the benchmark's model of the standing index
    val live = mutable.LinkedHashMap.empty[Long, String]
    val gone = mutable.ArrayBuffer.empty[String]
    val visibleVecs = mutable.ArrayBuffer.from(baseVecs)
    var prevBatch = Seq.empty[Long]

    val dir = b.setupStore(Seq("documents", "embeddings")) { d =>
      val docs = docsDf(ids(CheckIds, -1).map(_ -> text()))
      val vecs = vecsDf(perturbed(ids(ProbeVecIds, -1)))
      // the calls that build every artifact a commit derives from or the
      // overlay report reads
      Bench.parallel(Seq[() => DataFrame](
        () => Ingest.minhashDedup(spark, d, docs), () => Ingest.substringDedup(spark, d, docs),
        () => Ingest.exactDedup(spark, d, docs), () => Ingest.annIvfcPq(spark, d, vecs),
        () => Ingest.annLshc(spark, d, vecs), () => Ingest.annLsh(spark, d, vecs),
        () => Ingest.annIvfK(spark, d, vecs), () => Ingest.semanticDedup(spark, d, vecs),
        () => Ingest.overlayReport(spark, d)).map(p => () => runner.materialize(p())))
    }
    val indexRoot = Paths.get(sys.env("GRAFT_INDEX_ROOT"))
    def storeBytes(): Long =
      if (!Files.exists(indexRoot)) 0L
      else {
        val s = Files.walk(indexRoot)
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
      }

    val storeMb = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var userBytes = 0L
    var segmentsMax = 0L
    var compactMs, promoteMs = 0.0
    var recallHits, recallTotal = 0L

    def checkVisibility(): Boolean = {
      val expect = live.values.toSeq.map(_ -> true) ++ gone.map(_ -> false)
      val batch = docsDf(expect.zipWithIndex.map { case ((t, _), i) => (CheckIds + i, t) })
      val got = Ingest.exactDedup(spark, dir, batch).select("doc_id", "corpus_dup")
        .as[(Long, Boolean)].collect().toMap
      expect.zipWithIndex.forall { case ((_, want), i) => got.get(CheckIds + i).contains(want) }
    }

    /** Recall@3 of an ANN probe of `probe`, which also counts toward the
      * run's `ann_recall_at3`. */
    def recall(probe: Seq[(Long, Array[Float])]): Double = {
      def cos(a: Array[Float], c: Array[Float]): Double =
        a.indices.map(i => a(i).toDouble * c(i)).sum
      val got = Ingest.annIvfcPq(spark, dir, vecsDf(probe)).select("vec_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      var hits, total = 0L
      probe.foreach { case (id, v) =>
        val truth = visibleVecs.sortBy { case (_, w) => -cos(v, w) }.take(3).map(_._1)
        total += truth.size
        hits += truth.count(n => got((id, n)))
      }
      recallHits += hits
      recallTotal += total
      hits.toDouble / math.max(1L, total)
    }

    def check(what: String)(passed: => Boolean): Unit = {
      b.checks += 1
      if (!passed) {
        System.err.println(s"[perfbench] output check failed: $what")
        b.failedChecks += 1
      }
    }

    def cycle(g: Int): Unit = {
      val docs = ids(DocIds, g).map(_ -> text())
      val vecs = perturbed(ids(VecIds, g))
      val probeVecs = perturbed(ids(ProbeVecIds, g))
      val probeDocsDf = docsDf(docs.map { case (id, t) => (id + ProbeShift, t) })
      val probeVecsDf = vecsDf(probeVecs)
      val prev = if (prevBatch.isEmpty) docs.map(_._1) else prevBatch
      val replaced = prev.take(BatchRows / 2).map(id => id -> text())
      val deleted = prev.slice(BatchRows / 2, BatchRows / 2 + BatchRows / 5)

      // Each write is followed by a probe of the index it changed: the
      // minhash probe after a document write, the IVF-PQ probe after the
      // vector write. In a traced run the probes after the two commits run
      // as untraced and traced pairs.
      val minhashProbe = () => Ingest.minhashDedup(spark, dir, probeDocsDf)
      val ivfcpqProbe = () => Ingest.annIvfcPq(spark, dir, probeVecsDf)
      def write(verb: String, bytes: Long, probe: String, probeCall: () => DataFrame)(
          call: => DataFrame)(after: => Unit): Unit = {
        val s0 = storeBytes()
        if (runner.run("write", verb, g, repeatable = false)(call)) after
        storeMb(verb) += (storeBytes() - s0) / 1e6
        userBytes += bytes
        runner.run("probe", probe, g, repeatable = verb.startsWith("commit"))(probeCall())
      }
      write("commit_docs", docs.map(_._2.length.toLong).sum, "minhash_dedup", minhashProbe)(
        Ingest.commitDocs(spark, dir, docsDf(docs)))(live ++= docs)
      write("commit_vecs", vecs.size * 64L * 4, "ivfcpq", ivfcpqProbe)(
        Ingest.commitVectors(spark, dir, vecsDf(vecs)))(visibleVecs ++= vecs)
      write("replace_docs", replaced.map(_._2.length.toLong).sum, "minhash_dedup", minhashProbe)(
        Ingest.replaceDocs(spark, dir, docsDf(replaced))) {
        replaced.foreach { case (id, t) => gone += live(id); live(id) = t }
      }
      write("delete_docs", 0L, "minhash_dedup", minhashProbe)(
        Ingest.deleteDocs(spark, dir, deleted.toDF("doc_id"))) {
        deleted.foreach(id => gone += live.remove(id).get)
      }
      prevBatch = docs.map(_._1).filterNot(deleted.toSet)
      check(s"visibility after the writes of cycle $g")(checkVisibility())

      // The overlay report, compaction and promote are per-layer
      // measures; compaction and promote cost 30-40 s together on a
      // 4-core machine, more than an untraced run may take, so only a
      // traced run ends with them.
      if (b.traced) {
        segmentsMax = math.max(segmentsMax, Ingest.overlayReport(spark, dir)
          .select("n_segments").as[Int].collect().maxOption.getOrElse(0).toLong)
        runner.run("maintenance", "compact", g, repeatable = false)(Ingest.compact(spark, dir))
        compactMs = runner.ops.last.ms
        val s0 = storeBytes()
        runner.run("maintenance", "promote", g, repeatable = false)(Ingest.promote(spark, dir))
        promoteMs = runner.ops.last.ms
        storeMb("promote") += (storeBytes() - s0) / 1e6
        check(s"visibility after the promote of cycle $g")(checkVisibility())
      }
      check(s"ann recall@3 of cycle $g below $RecallFloor")(recall(probeVecs) >= RecallFloor)
      b.log(s"cycle $g done")
    }

    val store0 = storeBytes()
    b.timed(minPasses = 1)(cycle)
    val passes = b.timedPasses.toDouble
    val ok = runner.ops.filter(_.ok)
    def p50(kind: String) = Stats.median(ok.filter(_.kind == kind).map(_.ms).toSeq)
    b.extra("write_p50_ms") = (p50("write"), "ms")
    b.extra("probe_p50_ms") = (p50("probe"), "ms")
    b.extra("maintenance_s") = ((compactMs + promoteMs) / 1e3, "s")
    b.extra("space_amp") = ((storeBytes() - store0).toDouble / math.max(1L, userBytes), "ratio")
    b.extra("ann_recall_at3") = (recallHits.toDouble / math.max(1L, recallTotal), "ratio")

    def verbMs(name: String) = Stats.median(ok.filter(_.name == name).map(_.ms).toSeq)
    b.layers("ingest.commit_docs_ms") = (verbMs("commit_docs"), "ms")
    b.layers("ingest.commit_vecs_ms") = (verbMs("commit_vecs"), "ms")
    b.layers("ingest.replace_docs_ms") = (verbMs("replace_docs"), "ms")
    b.layers("ingest.delete_docs_ms") = (verbMs("delete_docs"), "ms")
    b.layers("ingest.probe_minhash_ms") = (verbMs("minhash_dedup"), "ms")
    b.layers("ingest.probe_ivfcpq_ms") = (verbMs("ivfcpq"), "ms")
    b.layers("overlay.segments_max") = (segmentsMax.toDouble, "count")
    b.layers("overlay.compact_ms") = (compactMs, "ms")
    b.layers("corpusgen.promote_ms") = (promoteMs, "ms")
    (Writes :+ "promote").foreach { v => b.layers(s"store.${v}_mb") = (storeMb(v) / passes, "MB") }
    require(Report.IngestLayers.forall(l => b.layers.get(l._1).exists(_._2 == l._2)))
  }
}
