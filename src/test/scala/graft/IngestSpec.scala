package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The [[graft.Ingest]] facade's contract, driven two ways per family:
  *
  *  1. FIXTURE EQUIVALENCE — calling the facade with the registry's
  *     deterministic fixture batch (`id % 10 = 7`, i.e. re-ingesting
  *     stored rows) must reproduce the registered `*_delta` query
  *     row-for-row. Those twins are DuckDB-oracle-verified every round,
  *     so equality here chains the facade to the oracle gate.
  *  2. NON-MODULO BATCHES with GENUINELY NEW ids — the facade's
  *     documented use ("an arbitrary batch DataFrame") — asserting the
  *     anti-join contract (the standing corpus a batch dedups against
  *     never includes the batch itself) and each family's semantics on
  *     novel ids: exact copies under fresh ids are flagged against the
  *     corpus, novel content keeps, and every ANN tier finds a shifted
  *     duplicate's original at cosine 1.0.
  */
class IngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.SF
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def docBatch: DataFrame =
    Tables.t(spark, sf, "documents")
      .where(col("doc_id") % 10 === 7).select("doc_id", "text")
  private def vecBatch: DataFrame =
    Tables.t(spark, sf, "embeddings")
      .where(col("vec_id") % 10 === 7).select("vec_id", "embedding")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq,
      s"$what: columns ${got.columns.mkString(",")} vs ${want.columns.mkString(",")}")
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"$what: ${g.size} rows vs ${w.size}; " +
      s"first diff: ${g.zipAll(w, "<none>", "<none>").find(p => p._1 != p._2)}")
  }

  // ---- 1. fixture equivalence: facade(fixture batch) == registered twin ----

  test("exactDedup verdicts aggregate to q_dedup_incremental's fixture report") {
    val verdicts = Ingest.exactDedup(spark, sf, docBatch)
    val withLang = verdicts.join(
      Tables.t(spark, sf, "documents").select("doc_id", "lang"), "doc_id")
    val report = withLang.groupBy("lang")
      .agg(count(lit(1)).as("n_batch"),
        count_if(col("corpus_dup")).as("n_corpus_dup"),
        count_if(col("batch_dup")).as("n_batch_dup"),
        count_if(col("keep")).as("n_new"))
      .orderBy("lang")
    assertSameRows(report, q("q_dedup_incremental"), "exactDedup report")
  }

  test("minhashDedup(fixture batch) == q_dedup_minhash_delta") {
    assertSameRows(Ingest.minhashDedup(spark, sf, docBatch),
      q("q_dedup_minhash_delta"), "minhashDedup")
  }

  test("substringDedup(fixture batch) == q_dedup_substring_delta") {
    assertSameRows(Ingest.substringDedup(spark, sf, docBatch),
      q("q_dedup_substring_delta"), "substringDedup")
  }

  test("semanticDedup(fixture batch) == q_dedup_semantic_delta") {
    assertSameRows(Ingest.semanticDedup(spark, sf, vecBatch),
      q("q_dedup_semantic_delta"), "semanticDedup")
  }

  test("each ANN ingest tier (fixture batch) == its registered delta twin") {
    val tiers: Seq[(String, String)] = Seq(
      "annLsh" -> "q_sim_ann_lsh_delta",
      "annLshc" -> "q_sim_ann_lshc_delta",
      "annIvfK" -> "q_sim_ann_ivf_k_delta",
      "annIvfc" -> "q_sim_ann_ivfc_delta",
      "annIvfPq" -> "q_sim_ann_ivfpq_delta",
      "annIvfcPq" -> "q_sim_ann_ivfc_pq_delta")
    val call: Map[String, DataFrame => DataFrame] = Map(
      "annLsh" -> (b => Ingest.annLsh(spark, sf, b)),
      "annLshc" -> (b => Ingest.annLshc(spark, sf, b)),
      "annIvfK" -> (b => Ingest.annIvfK(spark, sf, b)),
      "annIvfc" -> (b => Ingest.annIvfc(spark, sf, b)),
      "annIvfPq" -> (b => Ingest.annIvfPq(spark, sf, b)),
      "annIvfcPq" -> (b => Ingest.annIvfcPq(spark, sf, b)))
    tiers.foreach { case (m, twin) =>
      assertSameRows(call(m)(vecBatch), q(twin), s"$m vs $twin")
    }
  }

  test("annLshc pins the same spread partition count as q_sim_ann_lshc_delta") {
    // both faces size their one pinned exchange from the session's
    // effective shuffle-partition count, which AQE takes from
    // initialPartitionNum when that is set
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prev = spark.conf.getOption(key)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt + 3
    spark.conf.set(key, n.toString)
    try {
      def pinned(df: DataFrame): Seq[Int] =
        "Exchange hashpartitioning\\(vec_id#\\d+L?, (\\d+)\\), REPARTITION_BY_NUM".r
          .findAllMatchIn(df.queryExecution.executedPlan.toString)
          .map(_.group(1).toInt).toSeq
      val twin = pinned(q("q_sim_ann_lshc_delta"))
      assert(twin == Seq(n), s"delta twin pins $twin, expected $n")
      assert(pinned(Ingest.annLshc(spark, sf, vecBatch)) == twin)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // ---- 2. non-modulo batches with genuinely new ids ----

  test("exactDedup on a non-modulo batch: re-ingest, corpus copy, batch dup, novel") {
    val docs = Tables.t(spark, sf, "documents")
    // a stored doc OUTSIDE the fixture slice whose hash is unique in the
    // corpus (computed, not assumed), re-ingested under its own id
    val hashed = docs.select(col("doc_id"),
      sha2(lower(trim(col("text"))), 256).as("h"))
    val uniq = hashed.withColumn("n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .where(col("n") === 1 && col("doc_id") % 10 =!= 7)
      .orderBy("doc_id").limit(1).collect().head.getLong(0)
    val reIngest = docs.where(col("doc_id") === uniq).select("doc_id", "text")
    // a stored doc's text under a FRESH id -> must flag corpus_dup
    val donor = docs.where(col("doc_id") % 10 === 2)
      .orderBy("doc_id").limit(1).select("text")
    import spark.implicits._
    val copy = donor.select(lit(9000001L).as("doc_id"), col("text"))
    val novel = Seq(
      (9000002L, "graft ingest novel alpha content row"),
      (9000003L, "graft ingest novel alpha content row"), // batch-internal dup
      (9000004L, "graft ingest novel beta unique row")
    ).toDF("doc_id", "text")
    val batch = reIngest.unionByName(copy).unionByName(novel)
    val got = Ingest.exactDedup(spark, sf, batch).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
      .toMap
    assert(got.size == 5)
    // re-ingested stored row: own id anti-joined out, hash unique -> keep
    assert(got(uniq) == ((false, false, true)),
      s"re-ingested stored row self-matched: ${got(uniq)}")
    assert(got(9000001L) == ((true, false, false)), "corpus copy not flagged")
    assert(got(9000002L) == ((false, false, true)), "first of batch pair must keep")
    assert(got(9000003L) == ((false, true, false)), "batch-internal dup not flagged")
    assert(got(9000004L) == ((false, false, true)), "novel content must keep")
  }

  test("exactDedup: a batch row reusing a stored id with NEW text does not hide the stored content") {
    val docs = Tables.t(spark, sf, "documents")
    val hashed = docs.select(col("doc_id"),
      sha2(lower(trim(col("text"))), 256).as("h"))
    // a stored doc whose hash is unique in the corpus (computed, not assumed)
    val uniqRow = hashed.withColumn("n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .where(col("n") === 1).orderBy("doc_id").limit(1).collect().head
    val uniq = uniqRow.getLong(0)
    val oldText = docs.where(col("doc_id") === uniq)
      .select("text").collect().head.getString(0)
    import spark.implicits._
    // the batch UPDATES uniq's content and separately re-submits the OLD
    // text under a fresh id — the old text is still standing in the
    // corpus, so the fresh-id row must flag corpus_dup (the r14 id-only
    // anti-join reported keep here: uniq's presence in the batch removed
    // the stored hash from the corpus view)
    val batch = Seq(
      (uniq, "graft exact dedup replacement text for an existing id"),
      (9000010L, oldText)
    ).toDF("doc_id", "text")
    val got = Ingest.exactDedup(spark, sf, batch).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
      .toMap
    assert(got(uniq) == ((false, false, true)),
      s"replacement text under a stored id must keep: ${got(uniq)}")
    assert(got(9000010L) == ((true, false, false)),
      s"still-standing stored content hidden by an id-reusing batch row: ${got(9000010L)}")
  }

  test("minhash + substring dedup flag exact copies under genuinely new ids") {
    val docs = Tables.t(spark, sf, "documents")
    // 5 corpus docs (outside the fixture slice, >= SUBSTR_W tokens so the
    // substring family sees windows) re-issued under fresh shifted ids
    val donors = docs.where(col("doc_id") % 10 =!= 7
        && size(split(col("text"), " ")) >= 12)
      .orderBy("doc_id").limit(5)
    val shifted = donors.select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val mh = Ingest.minhashDedup(spark, sf, shifted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val donorIds = donors.select("doc_id").collect().map(_.getLong(0)).toSet
    donorIds.foreach { id =>
      assert(mh.exists(p => p._1 == id + 10000000L && p._2 == id && p._3 == 1.0),
        s"shifted copy of $id missing its jac=1.0 original pair")
    }
    assert(mh.forall(p => p._1 >= 10000000L && p._2 < 10000000L),
      "pairs must be batch x corpus")
    val ss = Ingest.substringDedup(spark, sf, shifted).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("dup_ratio")).toMap
    donorIds.foreach { id =>
      assert(ss.get(id + 10000000L).contains(1.0),
        s"shifted copy of $id: dup_ratio ${ss.get(id + 10000000L)} != 1.0")
    }
  }

  test("minhashCapLag(fixture batch) == q_shingle_cap_lag (and is lag-free)") {
    val got = Ingest.minhashCapLag(spark, sf, docBatch)
    assertSameRows(got, q("q_shingle_cap_lag"), "minhashCapLag")
    // fixture batch ⊆ stored corpus ⇒ batch df ≤ corpus df ⇒ zero lag
    val r = got.collect().head
    assert(r.getAs[Long]("n_lagging") == 0L, s"fixture batch lagging: $r")
  }

  test("minhashCapLag measures corpus-novel boilerplate as rebuild lag") {
    import spark.implicits._
    // 60 novel docs sharing one corpus-novel 3-shingle ("zzqa zzqb zzqc"):
    // batch df 60 > MAX_SHINGLE_DF 50 but the persisted corpus hot set has
    // never seen it — exactly the blind spot the report exists to expose
    val batch = (1 to 60).map { i =>
      (9100000L + i, s"zzqa zzqb zzqc unique$i filler$i")
    }.toDF("doc_id", "text")
    val r = Ingest.minhashCapLag(spark, sf, batch).collect().head
    assert(r.getAs[Long]("n_batch_hot") == 1L, s"batch-hot: $r")
    assert(r.getAs[Long]("n_lagging") == 1L, s"lagging: $r")
    assert(r.getAs[Long]("max_lag_df") == 60L, s"max lag df: $r")
    // the union cap drops exactly the 60 rows of the shared shingle —
    // proof the ingest path caps it even though the corpus set cannot
    assert(r.getAs[Long]("n_rows_capped") == 60L, s"rows capped: $r")
    // and the capped ingest itself stays bounded: the boilerplate shingle
    // never rides the signatures, so no batch x corpus candidate storm
    val pairs = Ingest.minhashDedup(spark, sf, batch)
    assert(pairs.where(col("doc_a") >= 9100000L && col("doc_b") >= 9100000L).isEmpty,
      "batch x batch pair leaked into a batch x corpus ingest")
  }

  test("semanticDedup drops shifted duplicate vectors; ANN tiers find their originals at cos 1.0") {
    val e = Tables.t(spark, sf, "embeddings")
    val shifted = e.where(col("vec_id") % 10 === 7)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    // corpus side (anti-join on SHIFTED ids) keeps every original, so each
    // batch vector has an exact duplicate corpus-side
    val sem = Ingest.semanticDedup(spark, sf, shifted).collect()
    assert(sem.nonEmpty && sem.forall(_.getBoolean(2)),
      "every shifted duplicate must be dropped (cos 1.0 >= tau to its original)")
    val tiers: Seq[(String, DataFrame)] = Seq(
      "annLsh" -> Ingest.annLsh(spark, sf, shifted),
      "annLshc" -> Ingest.annLshc(spark, sf, shifted),
      "annIvfK" -> Ingest.annIvfK(spark, sf, shifted),
      "annIvfc" -> Ingest.annIvfc(spark, sf, shifted),
      "annIvfPq" -> Ingest.annIvfPq(spark, sf, shifted),
      "annIvfcPq" -> Ingest.annIvfcPq(spark, sf, shifted))
    val nBatch = shifted.count()
    tiers.foreach { case (name, out) =>
      val top1 = out.collect().filter(_.getInt(3) == 1)
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(top1.keySet.size == nBatch, s"$name: ${top1.size} top-1 rows vs $nBatch")
      top1.foreach { case (vid, (nid, cos)) =>
        assert(cos == 1.0, s"$name: top-1 for $vid is ($nid, $cos), not a cos-1.0 twin")
        assert(nid < 10000000L, s"$name: neighbor $nid is not corpus-side")
      }
    }
  }

  // ---- 3. the COMMIT lifecycle (IndexOverlay round trips) ----
  // On a PRIVATE temp corpus — never the shared sf dir, whose index
  // store (and therefore overlay) is shared with the driver's Verify
  // runs and every other spec's fixture-equality assumption.

  /** One temp dataset dir with both tables: 60 docs × 20 unique tokens
    * (≥ SUBSTR_W windows each, no hot shingles) and 256 random unit
    * vectors (dim 64, the plane/codebook width every vector family
    * assumes). Built once per suite run; each test commits to its own
    * FAMILY namespace implicitly via ids. */
  private lazy val commitDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-commit").toString
    val docs = (0 until 60).map { i =>
      (i.toLong, (0 until 20).map(j => s"cw${i}x$j").mkString(" "), "en")
    }
    docs.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rnd = new scala.util.Random(20260815L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    (0 until 256).map(i => (i.toLong, unit(), i % 10))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("commitDocs round trip: committed docs are corpus-side for every doc ingest family") {
    import spark.implicits._
    val d = commitDir
    val texts = (0 until 5).map { i =>
      (0 until 20).map(j => s"nv${i}x$j").mkString(" ")
    }
    val batch = texts.zipWithIndex
      .map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")
    val r1 = Ingest.commitDocs(spark, d, batch).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // raw + 4 derived families, each with the batch's 5 docs represented
    assert(r1.keySet.exists(_ == "docs_raw") &&
      r1.keySet.exists(_.startsWith("corpus_doc_hashes")) &&
      r1.keySet.exists(_.startsWith("doc_shingles_")) &&
      r1.keySet.exists(_.startsWith("minhash_sigs_")) &&
      r1.keySet.exists(_.startsWith("substr_postings_")),
      s"families committed: ${r1.keySet.mkString(",")}")
    assert(r1("docs_raw") == 5L &&
      r1.forall { case (f, n) => n > 0L || f.startsWith("hot_shingles_") },
      s"segment rows: $r1") // hot set legitimately empty: no boilerplate
    // idempotence: re-committing the same ids appends nothing
    assert(Ingest.commitDocs(spark, d, batch).isEmpty, "re-commit must be a no-op")
    // a LATER batch copying committed content under fresh ids is flagged
    // by every doc family — possible only if the overlay is corpus-side
    val probe = texts.zipWithIndex
      .map { case (t, i) => (2000L + i, t) }.toDF("doc_id", "text")
    val ex = Ingest.exactDedup(spark, d, probe).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((0 until 5).forall(i => ex(2000L + i)),
      s"exactDedup missed committed content: $ex")
    val mh = Ingest.minhashDedup(spark, d, probe).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    (0 until 5).foreach { i =>
      assert(mh.exists(p => p._1 == 2000L + i && p._2 == 1000L + i && p._3 == 1.0),
        s"minhashDedup missed committed twin of ${2000 + i}: ${mh.mkString(",")}")
    }
    val ss = Ingest.substringDedup(spark, d, probe).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("dup_ratio")).toMap
    (0 until 5).foreach { i =>
      assert(ss.get(2000L + i).contains(1.0),
        s"substringDedup dup_ratio for ${2000 + i}: ${ss.get(2000L + i)}")
    }
    // and re-ingesting the COMMITTED rows themselves never self-matches
    val self = Ingest.exactDedup(spark, d, batch).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert((0 until 5).forall(i => self(1000L + i)),
      s"committed rows self-matched on re-ingest: $self")
  }

  test("commitVectors round trip: committed vectors are corpus-side for every vector ingest family", SlowTest) {
    import spark.implicits._
    val d = commitDir
    val rnd = new scala.util.Random(99L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val vecs = (0 until 5).map(i => (5000L + i, unit()))
    val batch = vecs.toDF("vec_id", "embedding")
    val r1 = Ingest.commitVectors(spark, d, batch).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(r1.keySet.exists(_ == "vecs_raw") &&
      r1.keySet.exists(_.startsWith("lshc_own_")) &&
      r1.keySet.exists(_.startsWith("lsh_multi_")) &&
      r1.keySet.exists(_.startsWith("sem2_assign_nc")) &&
      r1.keySet.exists(_.startsWith("sem2_assign_top2_")) &&
      r1.keySet.exists(_ == "ivfk_assign2_top2") &&
      r1.keySet.exists(_.startsWith("pq_codes_wide_")),
      s"families committed: ${r1.keySet.mkString(",")}")
    assert(r1("vecs_raw") == 5L && r1.forall(_._2 > 0L), s"segment rows: $r1")
    assert(Ingest.commitVectors(spark, d, batch).isEmpty, "re-commit must be a no-op")
    // exact copies of the COMMITTED vectors under fresh ids: every ANN
    // tier must surface the committed twin at cos 1.0 (candidates from
    // the committed index family, the score from the committed raw rows)
    val probe = vecs.zipWithIndex
      .map { case ((_, e), i) => (6000L + i, e) }.toDF("vec_id", "embedding")
    val tiers: Seq[(String, DataFrame)] = Seq(
      "annLsh" -> Ingest.annLsh(spark, d, probe),
      "annLshc" -> Ingest.annLshc(spark, d, probe),
      "annIvfK" -> Ingest.annIvfK(spark, d, probe),
      "annIvfc" -> Ingest.annIvfc(spark, d, probe),
      "annIvfPq" -> Ingest.annIvfPq(spark, d, probe),
      "annIvfcPq" -> Ingest.annIvfcPq(spark, d, probe))
    tiers.foreach { case (name, out) =>
      val top1 = out.collect().filter(_.getInt(3) == 1)
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      (0 until 5).foreach { i =>
        assert(top1.get(6000L + i).contains((5000L + i, 1.0)),
          s"$name: top-1 for ${6000 + i} is ${top1.get(6000L + i)}, " +
            s"want the committed twin (${5000 + i}, 1.0)")
      }
    }
    // semantic dedup: a probe identical to a committed vector has a
    // cos-1.0 corpus cell-mate -> dropped
    val sem = Ingest.semanticDedup(spark, d, probe).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert((0 until 5).forall(i => sem(6000L + i)),
      s"semanticDedup kept exact copies of committed vectors: $sem")
  }

  test("committed boilerplate joins the standing capped universe (no permanent rebuild lag)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-hotcommit").toString
    (0 until 30).map(i =>
        (i.toLong, (0 until 20).map(j => s"hb${i}x$j").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // 60 committed docs sharing one corpus-novel 3-shingle: hot within
    // the commit batch (df 60 > 50), unknown to the frozen corpus hot set
    val boiler = (1 to 60).map(i =>
      (5000L + i, s"zzqa zzqb zzqc unique$i filler$i")).toDF("doc_id", "text")
    val rep = Ingest.commitDocs(spark, d, boiler).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val hotFam = rep.keys.find(_.startsWith("hot_shingles_")).get
    assert(rep(hotFam) == 1L, s"commit must publish its novel hot shingle: $rep")
    // a LATER batch with the same boilerplate: pre-r17 this read as
    // rebuild lag FOREVER (the corpus artifact is frozen); now the
    // standing hot set = corpus ∪ committed, so the lag is zero
    val probe = (1 to 60).map(i =>
      (7000L + i, s"zzqa zzqb zzqc uniq$i fill$i")).toDF("doc_id", "text")
    val r = Ingest.minhashCapLag(spark, d, probe).collect().head
    assert(r.getAs[Long]("n_batch_hot") == 1L, s"probe batch-hot: $r")
    assert(r.getAs[Long]("n_lagging") == 0L,
      s"committed boilerplate still reads as rebuild lag: $r")
    // and the capped probe ingest stays bounded: no batch x batch storm
    val pairs = Ingest.minhashDedup(spark, d, probe)
    assert(pairs.where(col("doc_a") >= 7000L && col("doc_b") >= 7000L).isEmpty,
      "batch x batch pair leaked")
  }

  test("overlayReport: live families, stranded geometry, the compaction dial") {
    import spark.implicits._
    // self-contained docs-only corpus: the report must not require the
    // vector artifacts (and must not list vector families as expected)
    val d = java.nio.file.Files.createTempDirectory("graft-ovreport").toString
    (0 until 30).map(i =>
        (i.toLong, (0 until 20).map(j => s"rp${i}x$j").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val batch = (0 until 3).map(i =>
      (1000L + i, (0 until 20).map(j => s"rn${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    Ingest.commitDocs(spark, d, batch)
    // a family committed under OLD geometry (a re-dialed cell size):
    // correctly never read, but the report must surface it as stranded
    IndexOverlay.appendCommitted(spark, d, "sem2_assign_nc7",
      Seq((1L, 2L)).toDF("vec_id", "cell"))
    // and a crashed commit's orphan (published, never manifested)
    IndexOverlay.append(spark, d, "docs_raw",
      Seq((999L, "orphan text")).toDF("doc_id", "text"))
    val rep = Ingest.overlayReport(spark, d).collect()
      .map(r => r.getString(0) ->
        ((r.getBoolean(1), r.getInt(2), r.getLong(3), r.getInt(4),
          Option(r.get(5))))).toMap
    val live = rep.filter(_._2._1).keySet
    assert(live.size == 6 && live.contains("docs_raw"),
      s"live doc families: $live")
    assert(rep("docs_raw") == ((true, 1, 3L, 1, Some(30L))),
      s"docs_raw row: ${rep("docs_raw")} (corpus_rows is the compaction " +
        "dial; the unmanifested append must read as 1 orphan, not as rows)")
    assert(rep("sem2_assign_nc7")._1 == false && rep("sem2_assign_nc7")._3 == 1L,
      s"stranded family not surfaced: ${rep.get("sem2_assign_nc7")}")
    // every live family except the (legitimately empty) hot-shingle set
    // carries the committed batch's rows
    live.filterNot(_.startsWith("hot_shingles_")).foreach { f =>
      assert(rep(f)._3 > 0L, s"$f reports 0 rows")
    }
    // ...and the orphan's rows are invisible to the standing index
    assert(IndexOverlay.read(spark, d, "docs_raw").get
        .where(col("doc_id") === 999L).isEmpty,
      "unmanifested orphan rows leaked into the read view")
  }

  test("deleteDocs retires stored AND committed content from every doc family") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-deldocs").toString
    val texts = (0 until 30).map(i => (0 until 20).map(j => s"dd${i}x$j").mkString(" "))
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") }
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val committedText = (0 until 20).map(j => s"dn0x$j").mkString(" ")
    Ingest.commitDocs(spark, d, Seq((1000L, committedText)).toDF("doc_id", "text"))
    // before deletion: copies of stored doc 5 and committed doc 1000 are
    // both flagged by every family
    def verdicts(): Map[Long, (Boolean, Boolean)] = {
      val probe = Seq((2000L, texts(5)), (2001L, committedText))
        .toDF("doc_id", "text")
      val ex = Ingest.exactDedup(spark, d, probe).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val mh = Ingest.minhashDedup(spark, d, probe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Map(2000L -> ((ex(2000L), mh.contains((2000L, 5L)))),
          2001L -> ((ex(2001L), mh.contains((2001L, 1000L)))))
    }
    val before = verdicts()
    assert(before(2000L) == ((true, true)) && before(2001L) == ((true, true)),
      s"pre-delete flags: $before")
    val rep = Ingest.deleteDocs(spark, d, Seq(5L, 1000L).toDF("doc_id")).collect()
    assert(rep.length == 1 && rep.head.getLong(2) == 2L, s"tombstones: ${rep.toSeq}")
    val after = verdicts()
    assert(after(2000L) == ((false, false)) && after(2001L) == ((false, false)),
      s"post-delete flags (deleted content still corpus-side): $after")
    // idempotent: the ids are no longer visible, so a re-delete is a no-op
    assert(Ingest.deleteDocs(spark, d, Seq(5L, 1000L).toDF("doc_id")).isEmpty)
    val ovr = Ingest.overlayReport(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(3)))).toMap
    assert(ovr("docs_deleted") == ((true, 2L)), s"report: $ovr")
    // sequence semantics (r18): a LATER commit of a deleted id RE-INSERTS
    // it — the new segment's manifest is past the tombstone's, so the row
    // wins; the old content stays retired
    val resText = (0 until 20).map(j => s"rz0x$j").mkString(" ")
    val re = Ingest.commitDocs(spark, d,
      Seq((1000L, resText)).toDF("doc_id", "text")).collect()
    assert(re.exists(r => r.getString(0) == "docs_raw" && r.getLong(2) == 1L),
      s"a deleted id must be re-insertable by a later commit: ${re.toSeq}")
    val reProbe = Seq((3000L, resText), (3001L, committedText))
      .toDF("doc_id", "text")
    val reFlags = Ingest.exactDedup(spark, d, reProbe).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(reFlags(3000L) && !reFlags(3001L),
      s"re-inserted content must be corpus-side, the deleted old content not: $reFlags")
  }

  test("deleteVectors retires stored and committed vectors from every ANN tier and semantic dedup") {
    import spark.implicits._
    val d = commitDir
    // probe = exact copy of STORED vector 3 — found at cos 1.0 everywhere
    val emb3 = Tables.t(spark, d, "embeddings").where(col("vec_id") === 3L)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val probe = Seq((6100L, emb3)).toDF("vec_id", "embedding")
    def tiers(): Seq[(String, Array[(Long, Long, Double)])] = Seq(
      "annLsh" -> Ingest.annLsh(spark, d, probe),
      "annLshc" -> Ingest.annLshc(spark, d, probe),
      "annIvfK" -> Ingest.annIvfK(spark, d, probe),
      "annIvfc" -> Ingest.annIvfc(spark, d, probe),
      "annIvfPq" -> Ingest.annIvfPq(spark, d, probe),
      "annIvfcPq" -> Ingest.annIvfcPq(spark, d, probe))
      .map { case (n, df) => n -> df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) }
    tiers().foreach { case (n, rows) =>
      assert(rows.exists(p => p._2 == 3L && p._3 == 1.0),
        s"$n: stored twin not found pre-delete: ${rows.mkString(",")}")
    }
    // delete the stored vector (and 5000, committed by the earlier test
    // when the full suite runs — tombstoning an absent id is harmless)
    Ingest.deleteVectors(spark, d, Seq(3L, 5000L).toDF("vec_id"))
    tiers().foreach { case (n, rows) =>
      assert(rows.nonEmpty && rows.forall(p => p._2 != 3L && p._2 != 5000L),
        s"$n: deleted vector still served: ${rows.mkString(",")}")
    }
    // semantic dedup: the deleted vector is no longer a cell-mate, so its
    // exact copy must NOT be dropped on its account (any surviving drop
    // witness must be a different, genuinely tau-close corpus vector)
    val sem = Ingest.semanticDedup(spark, d, probe).collect().head
    if (sem.getBoolean(2)) {
      val corp = Tables.t(spark, d, "embeddings")
        .where(col("vec_id") =!= 3L).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      def cos(a: Array[Float], b: Array[Float]): Double = {
        val dot = a.indices.map(i => a(i).toDouble * b(i)).sum
        val na = math.sqrt(a.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
        dot / (na * nb)
      }
      assert(corp.exists(p => cos(p._2, emb3) >= 0.35),
        "dropped with no surviving tau-close corpus witness")
    }
  }

  test("concurrent disjoint commits: publish races retry, no rows dropped") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-conccommit").toString
    (0 until 30).map(i =>
        (i.toLong, (0 until 20).map(j => s"cc${i}x$j").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // warm the artifacts serially so the race below is about APPENDS,
    // not about concurrent first builds (their own atomic-publish path)
    Ingest.exactDedup(spark, d, Seq((1L, "warm")).toDF("doc_id", "text")).count()
    Ingest.minhashDedup(spark, d, Seq((1L, "warm a b c d")).toDF("doc_id", "text")).count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val totals = Await.result(Future.sequence((0 until 4).map { k =>
      Future {
        val batch = (0 until 5).map(i =>
          (9000L + 100L * k + i,
            (0 until 20).map(j => s"cb${k}x${i}x$j").mkString(" ")))
          .toDF("doc_id", "text")
        Ingest.commitDocs(spark, d, batch).collect()
          .filter(_.getString(0) == "docs_raw").map(_.getLong(2)).sum
      }
    }), 300.seconds)
    assert(totals.sum == 20L, s"per-commit raw rows: $totals")
    // every committed row is on disk exactly once, across 4 segments
    val raw = IndexOverlay.read(spark, d, "docs_raw").get
    assert(raw.count() == 20L && raw.select("doc_id").distinct().count() == 20L,
      "a lost publish race dropped or duplicated rows")
    assert(IndexOverlay.segments(d, "docs_raw").size == 4)
    // and the standing index serves all four batches' content
    val probe = Seq((9999L,
      (0 until 20).map(j => s"cb3x4x$j").mkString(" "))).toDF("doc_id", "text")
    assert(Ingest.exactDedup(spark, d, probe).collect().head.getBoolean(1),
      "content committed under concurrency not found")
  }

  test("IndexOverlay: gap-safe naming, manifest-gated reads, typed schema drift") {
    import spark.implicits._
    val d = commitDir
    val fam = "testfam_overlay_contract"
    val (p0, n0) = IndexOverlay.appendCommitted(spark, d, fam,
      Seq((1L, "a")).toDF("id", "v"))
    assert(p0.endsWith("seg_00000") && n0 == 1L)
    // a foreign unmanifested segment (orphan / compacted-away debris)
    // leaves a GAP: the next append must land PAST it (never reuse a
    // name), and reads must NOT see it (manifest-gated visibility)
    val gapPath = p0.stripSuffix("seg_00000") + "seg_00007"
    Seq((7L, "g")).toDF("id", "v").write.parquet(gapPath)
    val (p1, n1) = IndexOverlay.appendCommitted(spark, d, fam,
      Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
    assert(p1.endsWith("seg_00008") && n1 == 2L,
      s"append after a gap landed on $p1 ($n1 rows)")
    // reads union exactly the MANIFESTED segments: 1 + 2 rows; the
    // orphan's row is invisible (crash-atomicity: an un-manifested
    // segment does not exist for readers or the novelty base)
    assert(IndexOverlay.read(spark, d, fam).get.count() == 3L)
    // an empty append publishes nothing and leaves no manifest entry
    val (_, nEmpty) = IndexOverlay.appendCommitted(spark, d, fam,
      Seq.empty[(Long, String)].toDF("id", "v"))
    assert(nEmpty == 0L && IndexOverlay.segments(d, fam).size == 2,
      "an empty append must not mint a visible segment")
    // schema drift is rejected at append, not nulled/coerced at read:
    // renamed column...
    val drift = intercept[IllegalArgumentException] {
      IndexOverlay.append(spark, d, fam, Seq((9L, 9.0)).toDF("id", "other"))
    }
    assert(drift.getMessage.contains("drifts"), drift.getMessage)
    // ...and a TYPE change under the same names (int id vs long id) —
    // the r17 name-set gate let this through to fail later at read
    val typeDrift = intercept[IllegalArgumentException] {
      IndexOverlay.append(spark, d, fam, Seq((9, "i")).toDF("id", "v"))
    }
    assert(typeDrift.getMessage.contains("drifts"), typeDrift.getMessage)
  }

  // ---- 4. COMPACTION (r18): fold, replace path, crash recovery ----

  /** Fresh two-table corpus for the compact tests (the shared commitDir
    * must keep its segment history for the other suites' assumptions). */
  private def freshCorpus(tag: String, nDocs: Int = 30): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag").toString
    (0 until nDocs).map(i =>
        (i.toLong, (0 until 20).map(j => s"$tag${i}x$j").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rnd = new scala.util.Random(tag.hashCode.toLong)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    (0 until 256).map(i => (i.toLong, unit(), i % 10))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("compact: probe-invariant fold to one segment per family; overlay tombstones fold away", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("cpd")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    // two doc commits, one vector commit; then delete a STORED doc (5),
    // a COMMITTED doc (1000), a stored vector (3) and a committed one (5000)
    Ingest.commitDocs(spark, d, (0 until 5).map(i =>
      (1000L + i, mkText(s"ca${i}x"))).toDF("doc_id", "text"))
    Ingest.commitDocs(spark, d, (0 until 5).map(i =>
      (1100L + i, mkText(s"cb${i}x"))).toDF("doc_id", "text"))
    val rnd = new scala.util.Random(4242L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    Ingest.commitVectors(spark, d, (0 until 5).map(i =>
      (5000L + i, unit())).toDF("vec_id", "embedding"))
    Ingest.deleteDocs(spark, d, Seq(5L, 1000L).toDF("doc_id"))
    Ingest.deleteVectors(spark, d, Seq(3L, 5000L).toDF("vec_id"))

    // probe fixtures touching every regime: stored, committed, deleted
    // stored, deleted committed — captured before and after the fold
    val docProbe = Seq(
      (9000L, Tables.t(spark, d, "documents").where(col("doc_id") === 6L)
        .select("text").collect().head.getString(0)),
      (9001L, mkText("ca1x")), (9002L, mkText("cb2x")),
      (9003L, Tables.t(spark, d, "documents").where(col("doc_id") === 5L)
        .select("text").collect().head.getString(0)),
      (9004L, mkText("ca0x"))).toDF("doc_id", "text")
    val vecProbe = (0 until 3).map(i => (9100L + i, unit()))
      .toDF("vec_id", "embedding")
    def snapshot(): Seq[Seq[String]] = Seq(
      rows(Ingest.exactDedup(spark, d, docProbe)),
      rows(Ingest.minhashDedup(spark, d, docProbe)),
      rows(Ingest.substringDedup(spark, d, docProbe)),
      rows(Ingest.annLshc(spark, d, vecProbe)),
      rows(Ingest.annIvfcPq(spark, d, vecProbe)),
      rows(Ingest.semanticDedup(spark, d, vecProbe)))
    val before = snapshot()
    assert(before.head.exists(_.contains("9001,true")),
      s"committed content must read corpus_dup pre-compact: ${before.head}")

    val rep = Ingest.compact(spark, d).collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(3)),
        r.getLong(4))).toList
    // every data family folded into exactly one segment; the doc commits
    // had 2 segments going in
    val repByFam = rep.map(r => r._1 -> r).toMap
    assert(repByFam("docs_raw")._2 == 2 && repByFam("docs_raw")._4 == 9L,
      s"docs_raw fold: ${repByFam("docs_raw")} (10 committed − 1 deleted)")
    assert(repByFam("vecs_raw")._4 == 4L, s"vecs_raw fold: ${repByFam("vecs_raw")}")
    // tombstones: only CORPUS-stored ids survive the fold (the committed
    // ids' rows are physically gone, so their tombstones fold away)
    assert(repByFam("docs_deleted")._4 == 1L && repByFam("vecs_deleted")._4 == 1L,
      s"tombstone GC: ${repByFam("docs_deleted")}, ${repByFam("vecs_deleted")}")
    val ovr = Ingest.overlayReport(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getInt(2), r.getInt(4)))).toMap
    ovr.foreach { case (f, (nSeg, nOrph)) =>
      assert(nSeg <= 1 && nOrph == 0, s"$f after compact: $nSeg segs, $nOrph orphans")
    }
    assert(snapshot() == before, "compact changed probe results")
    // idempotent: a second compact folds 1 -> 1 and probes still agree
    Ingest.compact(spark, d)
    assert(snapshot() == before, "re-compact changed probe results")

    // re-insert after the fold: the deleted COMMITTED id's tombstone
    // folded away (novel again) and a commit re-adds content under the
    // same id
    val re = Ingest.commitDocs(spark, d,
      Seq((1000L, mkText("cz9x"))).toDF("doc_id", "text")).collect()
    assert(re.nonEmpty && re.exists(r =>
        r.getString(0) == "docs_raw" && r.getLong(2) == 1L),
      s"re-commit of a compacted-away id was ${re.toSeq}")
    val reProbe = Ingest.exactDedup(spark, d,
      Seq((9500L, mkText("cz9x"))).toDF("doc_id", "text")).collect().head
    assert(reProbe.getBoolean(1), "re-inserted content not corpus-side")
    // the CORPUS-stored deleted id keeps its tombstone through the fold
    // (its base row must stay hidden) — but a LATER commit re-inserts it
    // too (sequence semantics, r18): new content corpus-side, old retired
    val re5 = Ingest.commitDocs(spark, d,
      Seq((5L, mkText("cy8x"))).toDF("doc_id", "text")).collect()
    assert(re5.exists(r => r.getString(0) == "docs_raw" && r.getLong(2) == 1L),
      s"a corpus-stored deleted id must be re-insertable: ${re5.toSeq}")
    val re5Flags = Ingest.exactDedup(spark, d, Seq(
        (9600L, mkText("cy8x")),
        (9601L, Tables.t(spark, d, "documents").where(col("doc_id") === 5L)
          .select("text").collect().head.getString(0)))
      .toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(re5Flags(9600L) && !re5Flags(9601L),
      s"post-re-insert: new content corpus-side, old base text retired: $re5Flags")
  }

  test("compactIfNeeded counts true-orphan debris toward the segment budget") {
    import spark.implicits._
    val d = freshCorpus("orb")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    Ingest.commitDocs(spark, d, Seq((1000L, mkText("ob"))).toDF("doc_id", "text"))
    // crash debris: three published-but-unmanifested raw segments
    (0 until 3).foreach { k =>
      IndexOverlay.append(spark, d, "docs_raw",
        Seq((2000L + k, mkText(s"dead$k"))).toDF("doc_id", "text"))
    }
    assert(IndexOverlay.orphanSegments(d).getOrElse("docs_raw", 0) == 3)
    // 1 effective + 3 orphans > 3: the budget check must see the debris
    // (it inflates append listings like live segments)
    assert(Ingest.compactIfNeeded(spark, d, maxSegments = 3).nonEmpty,
      "orphan debris must count toward the compaction budget")
    assert(IndexOverlay.orphanSegments(d).values.sum == 0,
      "compact must reclaim the orphans")
    assert(Ingest.compactIfNeeded(spark, d, maxSegments = 3).isEmpty,
      "under budget after the fold")
  }

  test("compact with a grace period keeps the superseded chain scannable for in-flight readers") {
    import spark.implicits._
    val d = freshCorpus("grc")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    Ingest.commitDocs(spark, d, Seq((1000L, mkText("ga"))).toDF("doc_id", "text"))
    Ingest.commitDocs(spark, d, Seq((1001L, mkText("gb"))).toDF("doc_id", "text"))
    val oldSegs = IndexOverlay.segmentsWithSeq(d, "docs_raw").map(_._1)
    assert(oldSegs.size == 2)
    // an in-flight reader: its plan's file listing is pinned to the
    // pre-compact chain at construction time
    val inFlight = spark.read.parquet(oldSegs: _*)
    Ingest.compact(spark, d, retainMillis = 10L * 60 * 1000)
    // new plans see the folded chain...
    assert(IndexOverlay.segmentsWithSeq(d, "docs_raw").size == 1,
      "compact must fold to one effective segment")
    // ...while the in-flight plan still executes: its files are within
    // the grace window, so the flip did not delete them
    assert(inFlight.count() == 2L,
      "pre-compact plan must stay executable within the grace window")
    assert(oldSegs.forall(p => graft.sources.Store.exists(p)),
      "superseded segments must survive gc within the window")
    // past the window (simulated by retain 0) the debris is reclaimed
    IndexOverlay.gc(d, 0L)
    assert(oldSegs.forall(p => !graft.sources.Store.exists(p)),
      "expired superseded segments must be reclaimed")
    // and the standing view never changed
    val vis = operators.LlmPipeline.visibleDocs(spark, d).collect()
      .map(_.getLong(0)).toSet
    assert(vis.contains(1000L) && vis.contains(1001L) && vis.size == 32)
  }

  test("a crashed partial commit is invisible, replayable, and compact reclaims its orphans") {
    import spark.implicits._
    val d = freshCorpus("cra")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    val batch = (0 until 4).map(i => (1000L + i, mkText(s"cr${i}x")))
      .toDF("doc_id", "text")
    // simulate the crash window: the raw segment (and one derived family)
    // published, but the commit died BEFORE its manifest — exactly the
    // state ADVICE r17 flagged as silently-unindexed-forever
    IndexOverlay.append(spark, d, "docs_raw", batch)
    IndexOverlay.append(spark, d, "corpus_doc_hashes",
      batch.select(col("doc_id"),
        operators.Curation.contentHash(col("text")).as("h")))
    // invisible: probes see nothing of the crashed batch
    val pre = Ingest.exactDedup(spark, d,
      Seq((9000L, mkText("cr0x"))).toDF("doc_id", "text")).collect().head
    assert(!pre.getBoolean(1), "crashed partial commit leaked into probes")
    // replayable: the ids still read as novel, so the at-least-once
    // replay commits the batch IN FULL (every family, not a partial diff)
    val rep = Ingest.commitDocs(spark, d, batch).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rep("docs_raw") == 4L,
      s"replay after crash must re-commit all rows: $rep")
    assert(rep.keySet.exists(_.startsWith("minhash_sigs_")),
      s"replay must cover the families the crash missed: ${rep.keySet}")
    val post = Ingest.exactDedup(spark, d,
      Seq((9000L, mkText("cr0x"))).toDF("doc_id", "text")).collect().head
    assert(post.getBoolean(1), "replayed commit not corpus-side")
    // no double-rows: the read view has each id exactly once
    val raw = IndexOverlay.read(spark, d, "docs_raw").get
    assert(raw.count() == 4L && raw.select("doc_id").distinct().count() == 4L)
    // compact reclaims the crash debris
    val orphansBefore = Ingest.overlayReport(spark, d).collect()
      .map(r => r.getInt(4)).sum
    assert(orphansBefore >= 2, s"expected crash orphans on disk: $orphansBefore")
    Ingest.compact(spark, d)
    val after = Ingest.overlayReport(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getInt(2), r.getInt(4))))
    after.foreach { case (f, (nSeg, nOrph)) =>
      assert(nOrph == 0 && nSeg <= 1, s"$f after compact: $nSeg segs, $nOrph orphans")
    }
    assert(Ingest.exactDedup(spark, d,
        Seq((9001L, mkText("cr1x"))).toDF("doc_id", "text"))
      .collect().head.getBoolean(1), "compact lost replayed content")
  }

  test("driftReport sees committed off-distribution vectors; the registered query stays green") {
    import spark.implicits._
    val d = freshCorpus("dft")
    def drift(df: DataFrame): Map[Long, (Long, Double, Boolean)] =
      df.collect().map(r => r.getAs[Number]("cell").longValue() ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val regBefore = drift(SparkEntry.queries("q_index_drift")(spark, d))
    val lcBefore = drift(Ingest.driftReport(spark, d))
    assert(lcBefore == regBefore,
      "with an empty overlay the lifecycle report IS the registered query")
    // commit 200 vectors concentrated on one axis — new-distribution mass
    // that lands in one rank-1 cell and drags its member mean far off the
    // frozen centroid
    val rnd = new scala.util.Random(7L)
    def nearAxis(): Array[Float] = {
      val v = Array.tabulate(64)(k =>
        (if (k == 0) 10.0 else 0.0) + 0.05 * rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    Ingest.commitVectors(spark, d, (0 until 200).map(i =>
      (8000L + i, nearAxis())).toDF("vec_id", "embedding"))
    // the registered (base-only, oracle-gated) query is UNCHANGED...
    assert(drift(SparkEntry.queries("q_index_drift")(spark, d)) == regBefore,
      "registered q_index_drift must never see the overlay")
    // ...while the lifecycle report flips at least one cell stale that
    // the base-only view still calls fresh
    val lcAfter = drift(Ingest.driftReport(spark, d))
    val flipped = lcAfter.filter { case (cell, (_, _, stale)) =>
      stale && !regBefore(cell)._3
    }
    assert(flipped.nonEmpty,
      s"no cell flipped stale under 200 off-distribution commits: $lcAfter")
    // deleting the committed vectors restores the base-only view
    Ingest.deleteVectors(spark, d,
      (0 until 200).map(i => 8000L + i).toDF("vec_id"))
    assert(drift(Ingest.driftReport(spark, d)) == regBefore,
      "tombstoned commits must leave the drift view")
  }

  test("deleteDocs rejects an ambiguous multi-column id frame; accepts one carrying doc_id") {
    import spark.implicits._
    val d = freshCorpus("dla", nDocs = 10)
    val bad = intercept[IllegalArgumentException] {
      Ingest.deleteDocs(spark, d, Seq((1L, "text")).toDF("some_id", "text"))
    }
    assert(bad.getMessage.contains("1-column"), bad.getMessage)
    // a frame CARRYING doc_id among other columns selects it by name —
    // the r17 columns.head would have tombstoned the text column here
    val rep = Ingest.deleteDocs(spark, d,
      Seq(("x", 2L)).toDF("text", "doc_id")).collect()
    assert(rep.length == 1 && rep.head.getLong(2) == 1L, rep.toSeq.toString)
    assert(IndexOverlay.read(spark, d, "docs_deleted").get
        .collect().map(_.getLong(0)).toSeq == Seq(2L),
      "wrong column tombstoned")
  }

  // ---- 5. REPLACE / upsert (r18 sequence semantics) ----

  test("replaceDocs: changed ids swap content atomically, inserts land, identical rows no-op; replay publishes nothing") {
    import spark.implicits._
    val d = freshCorpus("rpd")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    Ingest.commitDocs(spark, d, Seq((1000L, mkText("rav"))).toDF("doc_id", "text"))
    val text6 = Tables.t(spark, d, "documents").where(col("doc_id") === 6L)
      .select("text").collect().head.getString(0)
    val oldText5 = Tables.t(spark, d, "documents").where(col("doc_id") === 5L)
      .select("text").collect().head.getString(0)
    // 5 = corpus-stored CHANGE, 1000 = committed CHANGE, 2000 = INSERT,
    // 6 = identical (must publish nothing for it)
    val batch = Seq((5L, mkText("rn5")), (1000L, mkText("rn1k")),
      (2000L, mkText("rn2k")), (6L, text6)).toDF("doc_id", "text")
    val rep = Ingest.replaceDocs(spark, d, batch).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rep("docs_raw") == 3L, s"write set = 2 changes + 1 insert: $rep")
    // the tombstone covers the whole landing set (2 changes + 1 insert):
    // the insert's tombstone shadows nothing today, but it is what makes
    // a raced same-novel-id replace last-writer-wins (ADVICE r18)
    assert(rep("docs_deleted") == 3L, s"tombstone set = landing ids: $rep")
    // new content corpus-side, superseded content retired, across families
    def flags(probes: Seq[(Long, String)]): Map[Long, Boolean] =
      Ingest.exactDedup(spark, d, probes.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val f = flags(Seq((9000L, mkText("rn5")), (9001L, mkText("rn1k")),
      (9002L, mkText("rn2k")), (9003L, text6),
      (9004L, oldText5), (9005L, mkText("rav"))))
    assert(f == Map(9000L -> true, 9001L -> true, 9002L -> true,
      9003L -> true, 9004L -> false, 9005L -> false),
      s"post-replace exact-dedup view: $f")
    val mh = Ingest.minhashDedup(spark, d,
        Seq((9100L, mkText("rn5"))).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.contains((9100L, 5L)),
      s"minhash index must serve the id's NEW signature: $mh")
    // idempotent: replaying the same upsert batch publishes nothing
    assert(Ingest.replaceDocs(spark, d, batch).isEmpty,
      "replayed replace must find identical content and no-op")
    // the visible view is the upserted state
    val vis = operators.LlmPipeline.visibleDocs(spark, d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(vis(5L) == mkText("rn5") && vis(1000L) == mkText("rn1k") &&
      vis(2000L) == mkText("rn2k") && vis(6L) == text6,
      "visibleDocs must reflect the upsert")
    assert(vis.size == 32, s"30 corpus + 1000 + 2000 = 32 visible ids: ${vis.size}")
  }

  test("replaceVectors re-indexes a changed embedding across every ANN tier", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("rpv")
    val emb3 = Tables.t(spark, d, "embeddings").where(col("vec_id") === 3L)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val rnd = new scala.util.Random(99L)
    val newEmb = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rep = Ingest.replaceVectors(spark, d,
        Seq((3L, newEmb)).toDF("vec_id", "embedding")).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rep("vecs_raw") == 1L && rep("vecs_deleted") == 1L, rep.toString)
    def hitsAt1(probe: Array[Float]): Map[String, Boolean] = Seq(
      "annLsh" -> Ingest.annLsh(spark, d, Seq((9100L, probe)).toDF("vec_id", "embedding")),
      "annLshc" -> Ingest.annLshc(spark, d, Seq((9100L, probe)).toDF("vec_id", "embedding")),
      "annIvfK" -> Ingest.annIvfK(spark, d, Seq((9100L, probe)).toDF("vec_id", "embedding")),
      "annIvfc" -> Ingest.annIvfc(spark, d, Seq((9100L, probe)).toDF("vec_id", "embedding")),
      "annIvfPq" -> Ingest.annIvfPq(spark, d, Seq((9100L, probe)).toDF("vec_id", "embedding")),
      "annIvfcPq" -> Ingest.annIvfcPq(spark, d, Seq((9100L, probe)).toDF("vec_id", "embedding")))
      .map { case (n, df) => n -> df.collect()
        .exists(r => r.getLong(1) == 3L && r.getDouble(2) == 1.0) }.toMap
    val newHits = hitsAt1(newEmb)
    assert(newHits.values.forall(identity),
      s"every tier must serve the REPLACED embedding at cos 1.0: $newHits")
    val oldHits = hitsAt1(emb3)
    assert(oldHits.values.forall(h => !h),
      s"no tier may still serve the superseded embedding at cos 1.0: $oldHits")
    // replay no-ops (array equality through the null-safe change gate)
    assert(Ingest.replaceVectors(spark, d,
      Seq((3L, newEmb)).toDF("vec_id", "embedding")).isEmpty)
  }

  test("replace survives compact: probes invariant, superseded copies leave disk, crash debris is invisible", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("rpc")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    Ingest.replaceDocs(spark, d, Seq(
      (5L, mkText("rc5")), (1500L, mkText("rc15"))).toDF("doc_id", "text"))
    // a second replace of the SAME id exercises tombstone-over-tombstone
    // sequencing (the older replacement row must fall out of the fold)
    Ingest.replaceDocs(spark, d, Seq((5L, mkText("rc5b"))).toDF("doc_id", "text"))
    // crash debris: a replace that died after its invisible appends
    IndexOverlay.append(spark, d, "docs_raw",
      Seq((7L, mkText("dead"))).toDF("doc_id", "text"))
    IndexOverlay.append(spark, d, "docs_deleted", Seq(7L).toDF("doc_id"))
    val probe = Seq((9000L, mkText("rc5b")), (9001L, mkText("rc5")),
      (9002L, mkText("rc15")), (9003L, mkText("dead"))).toDF("doc_id", "text")
    def snap(): Seq[String] = rows(Ingest.exactDedup(spark, d, probe)) ++
      rows(Ingest.minhashDedup(spark, d, probe)) ++
      rows(Ingest.substringDedup(spark, d, probe))
    val before = snap()
    assert(before.exists(_.startsWith("[9000,true")) &&
      before.exists(_.startsWith("[9001,false")) &&
      before.exists(_.startsWith("[9003,false")),
      s"pre-compact: latest replacement visible, older + crashed not: $before")
    Ingest.compact(spark, d)
    assert(snap() == before, "compact changed the post-replace probe view")
    // the fold kept the NEWEST row per replaced id, dropped superseded
    // copies, and retained the corpus-stored id's tombstone
    val raw = IndexOverlay.read(spark, d, "docs_raw").get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(raw == Map(5L -> mkText("rc5b"), 1500L -> mkText("rc15")),
      s"folded docs_raw: $raw")
    assert(IndexOverlay.read(spark, d, "docs_deleted").get.collect()
        .map(_.getLong(0)).toSeq == Seq(5L),
      "only the corpus-stored replaced id keeps a tombstone through the fold")
    // and the lifecycle continues after the fold: replace again
    Ingest.replaceDocs(spark, d, Seq((5L, mkText("rc5c"))).toDF("doc_id", "text"))
    assert(Ingest.exactDedup(spark, d,
        Seq((9100L, mkText("rc5c"))).toDF("doc_id", "text"))
      .collect().head.getBoolean(1), "post-compact replace not corpus-side")
  }

  test("concurrent same-id replaces: manifest order serializes to last-writer-wins, one visible row") {
    import spark.implicits._
    val d = freshCorpus("rcc")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    // warm the doc artifacts serially (the race is about the replaces)
    Ingest.exactDedup(spark, d, Seq((1L, "warm")).toDF("doc_id", "text")).count()
    Ingest.minhashDedup(spark, d, Seq((1L, "warm a b c d")).toDF("doc_id", "text")).count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val texts = (0 until 4).map(k => mkText(s"rw${k}y"))
    Await.result(Future.sequence((0 until 4).map { k =>
      Future {
        Ingest.replaceDocs(spark, d, Seq((5L, texts(k))).toDF("doc_id", "text"))
      }
    }), 300.seconds)
    // exactly ONE visible row for the contended id, and it is whichever
    // writer's manifest published last (sequence rule: the later
    // manifest's tombstone shadows every earlier row, never its own)
    val vis = operators.LlmPipeline.visibleDocs(spark, d)
      .where(col("doc_id") === 5L).collect().map(_.getString(1))
    assert(vis.length == 1 && texts.contains(vis.head),
      s"contended id visible rows: ${vis.length}")
    val winners = IndexOverlay.segmentsWithSeq(d, "docs_raw")
      .sortBy(_._2).map(_._1)
    val lastRow = spark.read.parquet(winners.last).collect()
    assert(lastRow.length == 1 && lastRow.head.getString(1) == vis.head,
      "the visible row must be the LAST manifest's")
    // the fold collapses the contention to one physical row and the
    // probe view is unchanged by it
    val probe = Seq((9000L, vis.head)).toDF("doc_id", "text")
    val before = rows(Ingest.exactDedup(spark, d, probe))
    Ingest.compact(spark, d)
    val raw = IndexOverlay.read(spark, d, "docs_raw").get
      .where(col("doc_id") === 5L).collect()
    assert(raw.length == 1 && raw.head.getString(1) == vis.head,
      s"fold must keep exactly the winner's row: ${raw.length}")
    assert(rows(Ingest.exactDedup(spark, d, probe)) == before,
      "compact changed the post-contention probe view")
  }

  test("concurrent replaces of a NOVEL id: the insert race serializes to last-writer-wins too") {
    import spark.implicits._
    val d = freshCorpus("rcn")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    // warm the doc artifacts serially (the race is about the replaces)
    Ingest.exactDedup(spark, d, Seq((1L, "warm")).toDF("doc_id", "text")).count()
    Ingest.minhashDedup(spark, d, Seq((1L, "warm a b c d")).toDF("doc_id", "text")).count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // id 7000 has NO prior visible row: every racer classifies it as an
    // INSERT (was_visible = false). Tombstoning the whole landing set
    // (ADVICE r18) makes the later manifest shadow the earlier rows
    // anyway — without it, all four rows would stand under one id, and
    // compact's all-column dedup could never collapse the different
    // contents.
    val texts = (0 until 4).map(k => mkText(s"nv${k}y"))
    Await.result(Future.sequence((0 until 4).map { k =>
      Future {
        Ingest.replaceDocs(spark, d, Seq((7000L, texts(k))).toDF("doc_id", "text"))
      }
    }), 300.seconds)
    val vis = operators.LlmPipeline.visibleDocs(spark, d)
      .where(col("doc_id") === 7000L).collect().map(_.getString(1))
    assert(vis.length == 1 && texts.contains(vis.head),
      s"contended NOVEL id must resolve to exactly one visible row: ${vis.toSeq}")
    val winners = IndexOverlay.segmentsWithSeq(d, "docs_raw").sortBy(_._2).map(_._1)
    val lastRow = spark.read.parquet(winners.last).collect()
    assert(lastRow.length == 1 && lastRow.head.getString(1) == vis.head,
      "the visible row must be the LAST manifest's")
    // the fold collapses the race to one physical row with the winner's text
    Ingest.compact(spark, d)
    val raw = IndexOverlay.read(spark, d, "docs_raw").get
      .where(col("doc_id") === 7000L).collect()
    assert(raw.length == 1 && raw.head.getString(1) == vis.head,
      s"fold must keep exactly the winner's row: ${raw.length}")
    // overlay-only id: its tombstones fold away with the race, and the
    // id stays visible with the winner's content
    assert(IndexOverlay.read(spark, d, "docs_deleted").isEmpty,
      "novel-id race tombstones must fold away entirely")
  }

  test("lifecycle model fuzz: a seeded op sequence tracks an in-memory reference model exactly", SlowTest) {
    // MODEL-BASED check of the sequence semantics as a whole: drive a
    // random (seeded, reproducible) interleaving of the four lifecycle
    // verbs against a tiny corpus and assert after EVERY op that the
    // standing visible view equals an in-memory Map the op trivially
    // updates — then that exact-dedup probes agree with the model at the
    // end. Catches interactions no single-scenario test enumerates
    // (replace-after-delete-after-replace, compact mid-sequence,
    // re-insert of compacted-away ids, ...).
    import spark.implicits._
    val d = freshCorpus("fzz", nDocs = 10)
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    val model = scala.collection.mutable.Map.empty[Long, String]
    Tables.t(spark, d, "documents").select("doc_id", "text").collect()
      .foreach(r => model(r.getLong(0)) = r.getString(1))
    val rnd = new scala.util.Random(20260816L)
    val idPool = (0L until 10L) ++ (100L until 110L)
    def someIds(n: Int): Seq[Long] =
      Seq.fill(n)(idPool(rnd.nextInt(idPool.length))).distinct
    def visible(): Map[Long, String] =
      operators.LlmPipeline.visibleDocs(spark, d).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ops = scala.collection.mutable.ArrayBuffer.empty[String]
    for (step <- 0 until 18) {
      rnd.nextInt(4) match {
        case 0 => // commit: inserts ids with no visible row, never edits
          val batch = someIds(3).map(id => (id, mkText(s"c$step-$id-")))
          ops += s"commit(${batch.map(_._1).mkString(",")})"
          Ingest.commitDocs(spark, d, batch.toDF("doc_id", "text"))
          batch.foreach { case (id, tx) =>
            if (!model.contains(id)) model(id) = tx
          }
        case 1 => // replace: upserts every id
          val batch = someIds(3).map(id => (id, mkText(s"r$step-$id-")))
          ops += s"replace(${batch.map(_._1).mkString(",")})"
          Ingest.replaceDocs(spark, d, batch.toDF("doc_id", "text"))
          batch.foreach { case (id, tx) => model(id) = tx }
        case 2 => // delete: removes visible ids, ignores absent
          val ids = someIds(2)
          ops += s"delete(${ids.mkString(",")})"
          Ingest.deleteDocs(spark, d, ids.toDF("doc_id"))
          ids.foreach(model.remove)
        case 3 =>
          ops += "compact"
          Ingest.compact(spark, d)
      }
      assert(visible() == model.toMap,
        s"model diverged after step $step: ${ops.mkString(" -> ")}\n" +
          s"extra=${(visible().keySet -- model.keySet).toSeq.sorted} " +
          s"missing=${(model.keySet -- visible().keySet).toSeq.sorted} " +
          s"wrongText=${visible().filter { case (k, v) => model.get(k).exists(_ != v) }.keys.toSeq.sorted}")
    }
    // the index families agree with the model too: a probe copying each
    // visible text reads corpus_dup, and one copying a superseded text
    // does not
    Ingest.compact(spark, d)
    assert(visible() == model.toMap, "final compact diverged from the model")
    val probes = model.toSeq.sortBy(_._1).take(5).zipWithIndex
      .map { case ((_, tx), i) => (9000L + i, tx) }
    val f = Ingest.exactDedup(spark, d, probes.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(f.values.forall(identity), s"visible texts must probe corpus_dup: $f")
  }

  test("geometryReport: frozen lshc bit dial and sem cell histogram flip stale as commits accumulate") {
    import spark.implicits._
    val d = freshCorpus("geo")
    def rep(): Seq[(String, String, Long, Double, Double, Boolean)] =
      Ingest.geometryReport(spark, d).collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getBoolean(5))).toSeq
    val fresh = rep()
    // three tiers present; trained-k rows mirror driftReport
    assert(fresh.exists(_._1 == "ivfk_centroid"))
    assert(fresh.filter(_._1 == "ivfk_centroid").map(_._3).sum == 256L)
    val l0 = fresh.find(_._1 == "lshc_occupancy").get
    assert(l0._3 == 256L && !l0._6,
      s"fresh lshc occupancy within the frozen dial's budget: $l0")
    assert(!fresh.filter(_._1 == "sem_cell_hist").exists(_._6),
      s"fresh sem cells within the 2c budget: ${fresh.filter(_._1 == "sem_cell_hist")}")
    // quadruple the standing corpus past the frozen dials: nbits stays
    // at persisted-N, so realized bucket occupancy and cell sizes grow
    val rnd = new scala.util.Random(31L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    Ingest.commitVectors(spark, d,
      (0 until 800).map(i => (8000L + i, unit())).toDF("vec_id", "embedding"))
    val after = rep()
    val l1 = after.find(_._1 == "lshc_occupancy").get
    assert(l1._3 == 1056L && l1._4 > l1._5 && l1._6,
      s"lshc occupancy must flip stale once standing N outgrows the frozen bits: $l1")
    assert(after.filter(_._1 == "sem_cell_hist").exists(r => r._6 && r._3 > 0),
      s"sem histogram must show >2c cells: ${after.filter(_._1 == "sem_cell_hist")}")
    // the trained-k tier keeps covering the full standing member set
    assert(after.filter(_._1 == "ivfk_centroid").map(_._3).sum == 1056L)
  }

  test("promote folds commits/replaces/deletes into a fresh generation; overlay empty; probes invariant", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("pro")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    val text3 = Tables.t(spark, d, "documents").where(col("doc_id") === 3L)
      .select("text").collect().head.getString(0)
    // lifecycle activity across both domains: insert, upsert, delete —
    // including deleting a COMMITTED id (1001) and a corpus-stored one (3)
    Ingest.commitDocs(spark, d, Seq((1000L, mkText("pa")), (1001L, mkText("pb")))
      .toDF("doc_id", "text"))
    Ingest.replaceDocs(spark, d, Seq((5L, mkText("pc"))).toDF("doc_id", "text"))
    Ingest.deleteDocs(spark, d, Seq(3L, 1001L).toDF("doc_id"))
    val rnd = new scala.util.Random(7L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val newEmb = unit()
    Ingest.replaceVectors(spark, d, Seq((3L, newEmb)).toDF("vec_id", "embedding"))
    Ingest.commitVectors(spark, d, Seq((5000L, unit())).toDF("vec_id", "embedding"))
    Ingest.deleteVectors(spark, d, Seq(7L).toDF("vec_id"))
    // pre-promote probe snapshot: every doc family + three ANN tiers +
    // the standing views + drift
    val probeD = Seq((9000L, mkText("pa")), (9001L, mkText("pc")),
      (9002L, mkText("pb")), (9003L, text3)).toDF("doc_id", "text")
    val probeV = Seq((9100L, newEmb)).toDF("vec_id", "embedding")
    def snapD(): Seq[String] = rows(Ingest.exactDedup(spark, d, probeD)) ++
      rows(Ingest.minhashDedup(spark, d, probeD)) ++
      rows(Ingest.substringDedup(spark, d, probeD))
    def snapV(): Seq[String] = rows(Ingest.annLshc(spark, d, probeV)) ++
      rows(Ingest.annIvfcPq(spark, d, probeV)) ++
      rows(Ingest.semanticDedup(spark, d, probeV))
    def vis(): Map[Long, String] =
      operators.LlmPipeline.visibleDocs(spark, d).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (beforeD, beforeV, beforeVis) = (snapD(), snapV(), vis())
    val beforeDrift = rows(Ingest.driftReport(spark, d))
    assert(beforeVis.size == 30 && !beforeVis.contains(3L) &&
      beforeVis(5L) == mkText("pc"), "pre-promote standing view")

    val rep = Ingest.promote(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rep.contains(("documents", "table", 30L)), s"promote report: ${rep.toSeq}")
    assert(rep.contains(("embeddings", "table", 256L)), s"promote report: ${rep.toSeq}")
    // overlay returned to EMPTY: no chain, no families, no tombstones
    assert(IndexOverlay.effectiveEntries(d).isEmpty, "chain must be empty")
    assert(IndexOverlay.families(d).isEmpty, "all overlay segment dirs reclaimed")
    val g = CorpusGen.current(d).get
    assert(g.id == 1 && g.artRows.nonEmpty)
    // probe INVARIANCE (frozen geometry: rows moved, never re-derived)
    assert(snapD() == beforeD, "doc probes changed across promote")
    assert(snapV() == beforeV, "vector probes changed across promote")
    assert(vis() == beforeVis, "visibleDocs changed across promote")
    assert(rows(Ingest.driftReport(spark, d)) == beforeDrift,
      "drift members changed across promote")
    // re-promote with nothing new committed is a no-op
    assert(Ingest.promote(spark, d).isEmpty, "no-op promote must publish nothing")
    assert(CorpusGen.current(d).get.id == 1)

    // the lifecycle CONTINUES on the new generation: commit, then
    // delete a PROMOTED id (its base row is now the snapshot)
    Ingest.commitDocs(spark, d, Seq((3000L, mkText("pz"))).toDF("doc_id", "text"))
    assert(Ingest.exactDedup(spark, d, Seq((9200L, mkText("pz")))
        .toDF("doc_id", "text")).collect().head.getBoolean(1),
      "post-promote commit must be corpus-side")
    Ingest.deleteDocs(spark, d, Seq(1000L).toDF("doc_id"))
    val v2 = vis()
    assert(!v2.contains(1000L) && v2.contains(3000L) && v2.size == 30,
      s"post-promote lifecycle view: ${v2.size}")
    assert(!Ingest.exactDedup(spark, d, Seq((9201L, mkText("pa")))
        .toDF("doc_id", "text")).collect().head.getBoolean(1),
      "deleting a promoted id must retire its content from probes")
    // and a second promotion folds the new state into generation 2
    Ingest.promote(spark, d)
    assert(CorpusGen.current(d).get.id == 2)
    assert(IndexOverlay.effectiveEntries(d).isEmpty && vis() == v2,
      "second promote must fold the post-promote lifecycle state")
  }

  test("promote heals stranded-geometry commits: vanished docs rejoin every probe", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("phl")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    val txt = mkText("hs0")
    // simulate a commit made under an OLD geometry dial: the raw rows
    // are manifested, but the derived rows went to since-renamed
    // families which stopped being read — exactly what a re-dial leaves
    val (p, n) = IndexOverlay.append(spark, d, "docs_raw",
      Seq((4000L, txt)).toDF("doc_id", "text"))
    IndexOverlay.publishManifest(spark, d, Seq(("docs_raw", p, n)), full = false)
    IndexOverlay.appendCommitted(spark, d, "minhash_sigs_k9x9df99",
      Seq((4000L, 1L)).toDF("doc_id", "sig"))
    val probe = Seq((9100L, txt)).toDF("doc_id", "text")
    // pre-promote: the doc is visible raw-side but VANISHED from probes
    assert(operators.LlmPipeline.visibleDocs(spark, d).where(col("doc_id") === 4000L)
      .count() == 1L, "raw row must be visible")
    assert(!Ingest.exactDedup(spark, d, probe).collect().head.getBoolean(1),
      "stranded doc must be invisible to exact dedup before the heal")
    assert(Ingest.minhashDedup(spark, d, probe).isEmpty,
      "stranded doc must be invisible to minhash before the heal")
    Ingest.promote(spark, d)
    // healed: re-derived from the snapshot under CURRENT geometry
    assert(Ingest.exactDedup(spark, d, probe).collect().head.getBoolean(1),
      "promote must heal the exact-dedup view")
    val mh = Ingest.minhashDedup(spark, d, probe).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.contains((9100L, 4000L)), s"promote must heal the minhash view: $mh")
    val ss = Ingest.substringDedup(spark, d, probe).collect()
    assert(ss.nonEmpty && ss.head.getLong(0) == 9100L,
      "promote must heal the substring-postings view")
    // the stranded old-geometry family left disk with the folded overlay
    assert(IndexOverlay.families(d).isEmpty,
      "stranded families are garbage after the fold")
  }

  test("promote with a grace period keeps the folded overlay scannable for in-flight readers", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("pgr")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    Ingest.commitDocs(spark, d, Seq((1000L, mkText("ka"))).toDF("doc_id", "text"))
    Ingest.commitDocs(spark, d, Seq((1001L, mkText("kb"))).toDF("doc_id", "text"))
    val oldSegs = IndexOverlay.segmentsWithSeq(d, "docs_raw").map(_._1)
    val inFlight = spark.read.parquet(oldSegs: _*) // plan pinned pre-flip
    Ingest.promote(spark, d, retainMillis = 10L * 60 * 1000)
    // the flip retired the chain (new plans read the generation)...
    assert(CorpusGen.current(d).get.id == 1)
    assert(IndexOverlay.effectiveEntries(d).isEmpty)
    // ...but the retired manifests + segments survive the grace window
    // (retiredAt for below-watermark manifests = the generation flip)
    assert(inFlight.count() == 2L,
      "pre-promote plan must stay executable within the grace window")
    assert(oldSegs.forall(p => graft.sources.Store.exists(p)))
    // past the window the folded overlay is reclaimed entirely
    IndexOverlay.gc(d, 0L)
    assert(oldSegs.forall(p => !graft.sources.Store.exists(p)))
    assert(IndexOverlay.families(d).isEmpty)
    val vis = operators.LlmPipeline.visibleDocs(spark, d).collect()
      .map(_.getLong(0)).toSet
    assert(vis.contains(1000L) && vis.contains(1001L) && vis.size == 32)
  }

  test("post-promote re-dial fallback: gen-0 artifacts restrict to snapshot ids (deleted ids cannot resurface)", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("rdl")
    // warm the doc-hash artifact (it covers ALL 30 source ids), delete
    // one corpus-stored id, promote: the tombstone folds away because
    // the snapshot physically excludes the row
    assert(operators.Curation.corpusDocHashes(spark, d)
      .where(col("doc_id") === 4L).count() == 1L)
    Ingest.deleteDocs(spark, d, Seq(4L).toDF("doc_id"))
    Ingest.promote(spark, d)
    assert(IndexOverlay.effectiveEntries(d).isEmpty, "tombstone folded away")
    // a family minted AFTER the promotion (what a re-dial leaves): the
    // generation lacks it, so the base falls back to the gen-0 artifact
    // — which still carries the deleted id's rows and MUST be filtered
    // to snapshot ids, or the delete silently un-happens in that probe
    val fallback = operators.LlmPipeline.genArtDoc(spark, d,
      "corpus_doc_hashes_newdial")(operators.Curation.corpusDocHashes(spark, d))
    assert(fallback.where(col("doc_id") === 4L).isEmpty,
      "deleted-then-promoted id resurfaced through the gen-0 fallback")
    assert(fallback.count() == 29L, "the other snapshot ids all pass through")
    // the family promote DID write is served from the generation
    assert(operators.LlmPipeline.genArtDoc(spark, d,
        operators.Curation.famDocHashes)(operators.Curation.corpusDocHashes(spark, d))
      .count() == 29L)
  }

  test("driftReport counts a replaced vector once, with its new embedding") {
    import spark.implicits._
    val d = freshCorpus("rdf")
    def members(df: DataFrame): Long =
      df.agg(sum(col("n_members"))).collect().head.getLong(0)
    val baseTotal = members(Ingest.driftReport(spark, d))
    assert(baseTotal == 256L, s"fresh corpus members: $baseTotal")
    // replace one vector with strongly off-distribution mass
    val nearAxis = {
      val v = Array.tabulate(64)(k => if (k == 0) 1.0f else 0.0f)
      v
    }
    Ingest.replaceVectors(spark, d, Seq((3L, nearAxis)).toDF("vec_id", "embedding"))
    val after = Ingest.driftReport(spark, d)
    // still 256 members: the old embedding left the drift view when the
    // new one entered — an all-tombstone anti-join would count 255, a
    // shadow-blind union 257
    assert(members(after) == 256L,
      s"replaced vector must drift-count exactly once: ${members(after)}")
  }

  test("promote detects a commit racing the fold and re-folds: rows never double (enforced writer contract)", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("prc")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    Ingest.commitDocs(spark, d, Seq((1000L, mkText("ra"))).toDF("doc_id", "text"))
    // inject a commit into the window between the promote's watermark
    // read and its fold construction: the racer's manifest id is ABOVE
    // the watermark, so the un-enforced contract folded its rows into
    // the generation AND left its manifest standing in the chain —
    // doubled rows, silently, forever (VERDICT r19 task 3)
    var fired = false
    operators.LlmPipeline.promoteEntryHook = _ => if (!fired) {
      fired = true
      Ingest.commitDocs(spark, d,
        Seq((1001L, mkText("rb"))).toDF("doc_id", "text"))
    }
    try Ingest.promote(spark, d)
    finally operators.LlmPipeline.promoteEntryHook = _ => ()
    assert(fired, "the race seam must have run")
    val dup = operators.LlmPipeline.visibleDocs(spark, d)
      .groupBy("doc_id").agg(count(lit(1)).as("n")).where(col("n") > 1)
      .collect()
    assert(dup.isEmpty, s"doubled ids after a raced promote: ${dup.toSeq}")
    val vis = operators.LlmPipeline.visibleDocs(spark, d).collect()
      .map(_.getLong(0)).toSet
    assert(vis.contains(1000L) && vis.contains(1001L) && vis.size == 32,
      s"the retry must fold BOTH commits: ${vis.size}")
    // the racer was folded by the retried attempt, not left in the chain
    assert(IndexOverlay.effectiveEntries(d).isEmpty,
      "retried fold must retire the racing manifest")
    assert(CorpusGen.current(d).get.tableRows("documents") == 32L)
  }

  test("applyDocChangelog rejects a null op loudly instead of silently cancelling the id's real operation") {
    import spark.implicits._
    val d = freshCorpus("nop", nDocs = 10)
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    // the null-op row carries the MAX ord: under the un-guarded reduction
    // it WINS the final-op-per-id rank, then silently drops from both
    // apply branches — cancelling the real upsert below it (ADVICE r19)
    val changes = Seq(
      (1000L, mkText("va"), "upsert", 1L),
      (1000L, mkText("vb"), null.asInstanceOf[String], 2L)
    ).toDF("doc_id", "text", "op", "ord")
    // the gate rides the reduction's own materialization (raise_error
    // guard column — no extra count() action per apply), so the failure
    // surfaces as the job's exception chain
    val e = intercept[Throwable] { Ingest.applyDocChangelog(spark, d, changes) }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("changelog op must be 'upsert' or 'delete'"), msgs)
    assert(!operators.LlmPipeline.visibleDocs(spark, d).collect()
      .map(_.getLong(0)).contains(1000L), "nothing may land from a malformed feed")
  }

  test("compact right after a promote honors the grace window (empty-overlay branch forwards retainMillis)", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("cgr", nDocs = 10)
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    Ingest.commitDocs(spark, d, Seq((1000L, mkText("ga"))).toDF("doc_id", "text"))
    val oldSegs = IndexOverlay.segmentsWithSeq(d, "docs_raw").map(_._1)
    val inFlight = spark.read.parquet(oldSegs: _*) // plan pinned pre-flip
    Ingest.promote(spark, d, retainMillis = 10L * 60 * 1000)
    assert(oldSegs.forall(graft.sources.Store.exists))
    // maintenance compact on the just-promoted (EMPTY-overlay) store:
    // before the fix this branch called gc with NO retain and deleted
    // the grace-retained chain inside the window (ADVICE r19)
    Ingest.compact(spark, d, 10L * 60 * 1000)
    assert(oldSegs.forall(graft.sources.Store.exists),
      "empty-branch compact deleted the grace-retained chain")
    assert(inFlight.count() == 1L,
      "pre-promote plan must stay executable within the window")
    // the shared-store auto-coalesce overload exists and keeps the window
    assert(Ingest.compactIfNeeded(spark, d, 32, 10L * 60 * 1000).isEmpty)
    assert(oldSegs.forall(graft.sources.Store.exists))
    // a plain (no-grace) compact past the window reclaims everything
    Ingest.compact(spark, d)
    assert(oldSegs.forall(p => !graft.sources.Store.exists(p)))
  }

  test("promoteReport + promoteIfNeeded: the cadence dial triggers the fold from chain metadata", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("pif", nDocs = 20)
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    // nothing committed: nothing to suggest, nothing to promote
    assert(Ingest.promoteIfNeeded(spark, d, maxOverlayRatio = 0.05).isEmpty)
    val r0 = Ingest.promoteReport(spark, d).collect().head
    assert(r0.getAs[Long]("overlay_rows") == 0L &&
      !r0.getAs[Boolean]("promote_suggested"))
    // one committed doc = 1/20 of the corpus: over a 5% dial, under 10%
    Ingest.commitDocs(spark, d, Seq((1000L, mkText("pa"))).toDF("doc_id", "text"))
    val r1 = Ingest.promoteReport(spark, d, maxOverlayRatio = 0.05).collect().head
    assert(r1.getAs[Long]("overlay_rows") == 1L &&
      r1.getAs[Long]("corpus_rows") == 276L && // 20 docs + 256 vectors
      r1.getAs[Boolean]("promote_suggested") == false,
      s"1/276 must not clear a 5% dial: $r1")
    assert(Ingest.promoteIfNeeded(spark, d, maxOverlayRatio = 0.05).isEmpty)
    // a dial the standing overlay DOES clear triggers the fold
    val rep = Ingest.promoteIfNeeded(spark, d, maxOverlayRatio = 0.003)
    assert(rep.nonEmpty, "0.36% overlay must clear a 0.3% dial")
    assert(IndexOverlay.effectiveEntries(d).isEmpty && CorpusGen.current(d).get.id == 1)
    // the fold recorded its measured cost; the report now carries the
    // cost model and a fresh store suggests nothing
    val r2 = Ingest.promoteReport(spark, d).collect().head
    assert(!r2.isNullAt(r2.fieldIndex("last_promote_s")) &&
      r2.getAs[Double]("last_promote_s") > 0.0, s"stats row: $r2")
    assert(r2.getAs[Long]("last_folded_rows") == 1L)
    assert(!r2.isNullAt(r2.fieldIndex("est_promote_s")))
    assert(r2.getAs[Long]("overlay_rows") == 0L &&
      !r2.getAs[Boolean]("promote_suggested"))
  }

  test("partial promote folds only touched buckets: untouched buckets carry by reference, probes invariant", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("ppb")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    // first promote: full fold into gen 1 (nothing to reference yet)
    Ingest.commitDocs(spark, d, Seq((1000L, mkText("fa"))).toDF("doc_id", "text"))
    Ingest.promote(spark, d)
    val g1 = CorpusGen.current(d).get
    assert(g1.id == 1 && g1.nbuckets > 0)
    assert(g1.tblB("documents").nonEmpty &&
      g1.tblB("documents").forall(_.path.startsWith(g1.path)),
      "a first promote writes every bucket itself")
    val nb = g1.nbuckets
    val probeD = Seq((9000L, mkText("fa"))).toDF("doc_id", "text")
    def snap(): Seq[String] = rows(Ingest.exactDedup(spark, d, probeD)) ++
      rows(Ingest.minhashDedup(spark, d, probeD)) ++
      rows(Ingest.substringDedup(spark, d, probeD))
    val before = snap()

    // second promote folds ONE new doc: exactly its bucket is rewritten
    // into gen 2; every other bucket — and the whole untouched VECTOR
    // domain — is a reference into gen 1 (VERDICT r19 task 2)
    Ingest.commitDocs(spark, d, Seq((2000L, mkText("fb"))).toDF("doc_id", "text"))
    Ingest.promote(spark, d)
    val g2 = CorpusGen.current(d).get
    assert(g2.id == 2 && g2.nbuckets == nb)
    val touched = (2000L % nb).toInt
    val refs2 = g2.tblB("documents")
    assert(refs2.find(_.bucket == touched).exists(_.path.startsWith(g2.path)),
      s"the touched bucket must be rewritten into gen 2: $refs2")
    val carried = refs2.filter(_.bucket != touched)
    assert(carried.nonEmpty && carried.forall(_.path.startsWith(g1.path)),
      s"untouched buckets must carry by reference: $carried")
    assert(g2.tblB("embeddings").nonEmpty &&
      g2.tblB("embeddings").forall(_.path.startsWith(g1.path)),
      "an untouched domain must carry ENTIRELY by reference")
    assert(g2.artB.nonEmpty && g2.artB.forall { case (f, refs) =>
      refs.forall(r => r.path.startsWith(g1.path) || r.path.startsWith(g2.path)) })
    // gc kept gen 1 alive exactly because gen 2 references into it
    assert(graft.sources.Store.exists(g1.path),
      "referenced gen-1 buckets must survive gcGens")
    // probe-INVARIANCE across the partial fold, and the fold is complete
    assert(snap() == before, "probes changed across a partial promote")
    val vis = operators.LlmPipeline.visibleDocs(spark, d).collect()
      .map(_.getLong(0)).toSet
    assert(vis.contains(1000L) && vis.contains(2000L) && vis.size == 32)

    // a DELETE in a carried bucket rewrites exactly that bucket next time
    Ingest.deleteDocs(spark, d, Seq(1000L).toDF("doc_id"))
    Ingest.promote(spark, d)
    val vis3 = operators.LlmPipeline.visibleDocs(spark, d).collect()
      .map(_.getLong(0)).toSet
    assert(!vis3.contains(1000L) && vis3.size == 31)
    assert(!Ingest.exactDedup(spark, d, Seq((9100L, mkText("fa")))
        .toDF("doc_id", "text")).collect().head.getBoolean(1),
      "deleted content must leave probes after the partial fold")
    // unreferenced generations are swept once nothing points into them
    val g3 = CorpusGen.current(d).get
    val live = (g3.tblB.values.flatten ++ g3.artB.values.flatten)
      .map(_.path).toSet
    assert(!graft.sources.Store.exists(g2.path) ||
      live.exists(_.startsWith(g2.path)),
      "a generation nothing references must be swept")
  }

  test("retrain re-dials stale geometry from the promoted snapshot; probes cover standing ids, deleted ids absent", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("rtr")
    val rnd = new scala.util.Random(77L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // 4× the standing corpus past the frozen dials, and delete one
    // stored vector — the retrained geometry must exclude it physically
    val committed = (0 until 800).map(i => (8000L + i, unit()))
    Ingest.commitVectors(spark, d, committed.toDF("vec_id", "embedding"))
    Ingest.deleteVectors(spark, d, Seq(3L).toDF("vec_id"))
    def rep(): Seq[(String, String, Long, Double, Double, Boolean)] =
      Ingest.geometryReport(spark, d).collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getBoolean(5))).toSeq
    val stale = rep()
    assert(stale.find(_._1 == "lshc_occupancy").get._6,
      s"4× commit must flip the lshc dial stale: $stale")
    assert(stale.filter(_._1 == "sem_cell_hist").exists(_._6),
      "4× commit must overflow sem cells")

    // THE VERB (VERDICT r19 task 1) — promote + re-dial + eager
    // re-derive + atomic epoch flip, in one call
    val minted = Ingest.retrain(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(minted.contains(("epoch", "geometry", 1L)), s"minted: $minted")
    assert(minted.contains(("emb_count", "dial", 1055L)), // 256 + 800 − 1
      s"the dial N must be the STANDING count: $minted")
    assert(IndexOverlay.effectiveEntries(d).isEmpty &&
      CorpusGen.current(d).get.id == 1,
      "retrain must fold the overlay into a snapshot first")
    assert(GeomEpoch.epoch(d) == 1)
    // every re-derived assignment artifact covers the full snapshot
    assert(minted.count(m => m._2 == "artifact" && m._1.endsWith("__g1")) >= 13)
    Seq("ivfk_assign_sqrtn__g1", "sem2_assign_nc64__g1").foreach { st =>
      assert(minted.find(_._1 == st).get._3 == 1055L, s"$st must cover the snapshot")
    }

    // the SAME rows the commits flipped stale are fresh under the re-dial
    val fresh = rep()
    val l1 = fresh.find(_._1 == "lshc_occupancy").get
    assert(l1._3 == 1055L && !l1._6, s"retrained lshc dial must be fresh: $l1")
    assert(!fresh.filter(_._1 == "sem_cell_hist").exists(_._6),
      s"retrained sem cells must fit the 2c budget: ${fresh.filter(_._1 == "sem_cell_hist")}")
    assert(fresh.filter(_._1 == "ivfk_centroid").map(_._3).sum == 1055L,
      "retrained trained-k must cover every standing member")

    // probes COVER the standing ids under the new dials: a shifted copy
    // of a COMMITTED-then-promoted vector finds its original at cos 1.0
    val probe = Seq((9500L, committed.head._2)).toDF("vec_id", "embedding")
    Seq("annLshc" -> Ingest.annLshc(spark, d, probe),
        "annIvfc" -> Ingest.annIvfc(spark, d, probe),
        "annIvfcPq" -> Ingest.annIvfcPq(spark, d, probe)).foreach {
      case (name, out) =>
        val top1 = out.collect().filter(_.getInt(3) == 1)
          .map(r => (r.getLong(1), r.getDouble(2)))
        assert(top1.sameElements(Seq((8000L, 1.0))),
          s"$name after retrain: ${top1.toSeq} (committed id not covered)")
    }
    assert(Ingest.semanticDedup(spark, d, Seq((9501L, committed(1)._2))
        .toDF("vec_id", "embedding")).collect().forall(_.getBoolean(2)),
      "semantic dedup must drop a copy of a committed-then-promoted vector")
    // ...and the DELETED id is absent from the retrained geometry
    val emb3 = Tables.t(spark, d, "embeddings").where(col("vec_id") === 3L)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val hits3 = Ingest.annLshc(spark, d,
        Seq((9502L, emb3)).toDF("vec_id", "embedding")).collect()
      .map(_.getLong(1)).toSet
    assert(!hits3.contains(3L), s"deleted id resurfaced after retrain: $hits3")

    // the lifecycle continues under the new epoch: a fresh commit
    // derives under the re-dialed families and probes see it
    Ingest.commitVectors(spark, d, Seq((20000L, unit())).toDF("vec_id", "embedding"))
    assert(operators.LlmPipeline.visibleVecs(spark, d).count() == 1056L)
    val rep2 = Ingest.overlayReport(spark, d).where(col("live")).collect()
      .map(_.getString(0)).toSet
    assert(rep2.exists(_.endsWith("__g1")),
      s"post-retrain commits must land in epoch families: $rep2")
    // a second retrain stacks: epoch 2, folding the new commit first
    val m2 = Ingest.retrain(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(m2.contains(("epoch", "geometry", 2L)) &&
      m2.contains(("emb_count", "dial", 1056L)), s"second retrain: $m2")
    assert(GeomEpoch.epoch(d) == 2 && CorpusGen.current(d).get.id == 2)
  }

  test("the full lifecycle runs with the index store on a NON-local FileSystem (testdfs)", SlowTest) {
    import spark.implicits._
    // point the index ROOT (artifacts, overlay chain, generations) at the
    // testdfs scheme: every publish in commit → replace → delete →
    // compact → promote now takes the rename-as-commit path with no OS
    // lock — the deployment shape of the 100 TB target (VERDICT r19
    // task 5). The dataset itself stays local; only store I/O moves.
    val root = java.nio.file.Files.createTempDirectory("graft-dfsroot").toString
    System.setProperty("graft.index.root", s"testdfs:$root")
    try {
      val d = freshCorpus("dfl", nDocs = 10)
      val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
      assert(!graft.sources.Store.isLocal(Tables.indexDir(d)))
      Ingest.commitDocs(spark, d, Seq((1000L, mkText("da")), (1001L, mkText("db")))
        .toDF("doc_id", "text"))
      Ingest.replaceDocs(spark, d, Seq((3L, mkText("dc"))).toDF("doc_id", "text"))
      Ingest.deleteDocs(spark, d, Seq(1001L).toDF("doc_id"))
      def vis(): Map[Long, String] =
        operators.LlmPipeline.visibleDocs(spark, d).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      val v1 = vis()
      assert(v1.size == 11 && v1(3L) == mkText("dc") && !v1.contains(1001L))
      // probe + compact + promote, all against the non-local store
      assert(Ingest.exactDedup(spark, d, Seq((9000L, mkText("da")))
        .toDF("doc_id", "text")).collect().head.getBoolean(1))
      Ingest.compact(spark, d)
      assert(vis() == v1, "compact must be probe-invariant on testdfs")
      Ingest.promote(spark, d)
      assert(CorpusGen.current(d).get.id == 1 &&
        IndexOverlay.effectiveEntries(d).isEmpty)
      assert(vis() == v1, "promote must be probe-invariant on testdfs")
      assert(Ingest.promote(spark, d).isEmpty, "replayed promote no-ops on testdfs")
      // and the RETRAIN verb runs on the non-local store too: epoch
      // publish, stage purge/build and snapshot reads all take the
      // rename-as-commit path
      val minted = Ingest.retrain(spark, d).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(minted.contains(("epoch", "geometry", 1L)) && GeomEpoch.epoch(d) == 1,
        s"retrain on testdfs: $minted")
      assert(vis() == v1, "doc content invariant across a vector retrain")
    } finally System.clearProperty("graft.index.root")
  }

  test("post-retrain promote: re-dialed families fold fully into the gen; un-epoched doc buckets still carry by reference", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("rpp", nDocs = 20)
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    val rnd = new scala.util.Random(55L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    Ingest.commitDocs(spark, d, Seq((1000L, mkText("ya"))).toDF("doc_id", "text"))
    Ingest.retrain(spark, d) // folds the commit (gen 1), flips epoch 1
    val g1 = CorpusGen.current(d).get
    assert(g1.id == 1 && GeomEpoch.epoch(d) == 1)
    assert(!g1.artB.keySet.exists(_.endsWith("__g1")),
      "the pre-retrain generation carries only epoch-0 family names")
    // a vector commit lands in __g1 families; the next promote must fold
    // those FULLY (nothing to reference) while the untouched DOC side
    // carries entirely by reference
    Ingest.commitVectors(spark, d, Seq((9000L, unit())).toDF("vec_id", "embedding"))
    Ingest.promote(spark, d)
    val g2 = CorpusGen.current(d).get
    val epochFams = g2.artB.keys.filter(_.endsWith("__g1")).toSeq
    assert(epochFams.size >= 6, s"re-dialed families must be in the gen: ${g2.artB.keys}")
    epochFams.foreach { f =>
      assert(g2.artB(f).forall(_.path.startsWith(g2.path)),
        s"$f folded fully: every bucket written into gen 2")
    }
    assert(g2.tblB("documents").forall(_.path.startsWith(g1.path)),
      "untouched doc buckets carry by reference across the retrain boundary")
    // the promoted __g1 artifacts serve probes (committed id covered)
    val vis = operators.LlmPipeline.visibleVecs(spark, d).count()
    assert(vis == 257L)
    val probe = Seq((9600L, unit())).toDF("vec_id", "embedding")
    assert(Ingest.annLshc(spark, d, probe).count() > 0L)
  }

  test("a crashed retrain's partial next-epoch artifacts are purged and rebuilt, never reused", SlowTest) {
    import spark.implicits._
    val d = freshCorpus("rcr", nDocs = 10)
    // fake crashed-retrain debris: a marker-complete dir squatting on a
    // next-epoch stage name with the WRONG content (memoizedOnDisk would
    // happily serve it — the retrain must purge by suffix first)
    val junk = s"${Tables.indexDir(d)}/ivfk_centroids_sqrtn_lloyd1__g1"
    Seq((1L, "junk")).toDF("bogus_a", "bogus_b").write.parquet(junk)
    assert(graft.sources.Store.exists(s"$junk/_SUCCESS"))
    Ingest.retrain(spark, d)
    assert(GeomEpoch.epoch(d) == 1)
    val rebuilt = spark.read.parquet(junk)
    assert(rebuilt.columns.toSet == Set("cell", "centroid"),
      s"crashed debris must be purged and retrained: ${rebuilt.columns.toSeq}")
    assert(rebuilt.count() == 16L, // ⌈√256⌉ trained-k cells
      "the rebuilt quantizer must carry the standing-N dial")
  }
}
