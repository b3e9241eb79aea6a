package graft.operators

import graft.{QueryPack, Tables}
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators — the steps a training-data pipeline runs
  * AROUND dedup/similarity (LlmPipeline): benchmark decontamination,
  * stratified downsampling, repetition-based quality filtering, context-
  * window sequence packing, and near-duplicate graph clustering. No SNOWAV
  * analog (upstream has no text ops); these extend the §3B #42–46 family.
  *
  * Scale notes (100 TB):
  * - q_decontaminate: the benchmark shingle set is FIXED-SIZE (eval suites
  *   are ~10⁴ docs regardless of corpus size), so the overlap check is a
  *   size-gated broadcast semi-join — one narrow map-side pass over the
  *   corpus, no corpus shuffle at any scale.
  * - q_sample_stratified / q_quality_repetition: embarrassingly parallel —
  *   per-row hash filters and per-doc aggregates (map-side combinable).
  * - q_pack_sequences: one shuffle on the stratum key for the running-sum
  *   window; bin ids are pure integer arithmetic off the cumsum (no
  *   driver-side bin state).
  * - q_dedup_cluster: alternating large-star/small-star contraction over
  *   the (already-near-dup-filtered) pair graph — O(log n) rounds in the
  *   worst case, independent of component diameter; per-round driver state
  *   is ONE scalar, and non-convergence fails loudly (asserted fixpoint +
  *   star-forest structure check) instead of emitting wrong labels.
  */
object Curation extends QueryPack {

  /** Context-window size (tokens) for q_pack_sequences. */
  private val CTX = 512

  /** Benchmark membership: doc_id ≡ 0 (mod 97) — a deterministic stand-in
    * for "this doc is in an eval suite", mirrored verbatim in the oracle. */
  private val BENCH_MOD = 97

  /** Sample size for q_sample_weighted. */
  private val SAMPLE_K = 200

  /** Per-stratum sample size for q_sample_per_key. */
  private val SAMPLE_PER_KEY = 3

  /** q_text_boilerplate dials: a bigram recurring in ≥ BOILER_DF docs of
    * one source is template text; docs with > BOILER_FRAC of their
    * bigrams templated are flagged (fixture-calibrated so the sf0.01
    * gate sees both verdicts: 88 flagged / 412 clean). */
  private val BOILER_DF = 4
  private val BOILER_FRAC = 0.2

  /** All (non-distinct) bigrams of an already-materialized tokens column —
    * unlike [[LlmPipeline.shingles]] this keeps duplicates, because
    * repetition scoring needs the full multiset. */
  private[operators] def bigramsAll(tk: Column): Column =
    when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1),
        i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): each round relinks every node toward the minimum of its
    * neighborhood, halving tree heights, so the edge set converges to
    * disjoint stars (every node → its component minimum) in O(log n)
    * rounds — vs. the Θ(diameter) rounds of plain min-label propagation.
    * Driver holds one scalar per round (the changed-edge count); all data
    * stays distributed.
    *
    * Convergence is ASSERTED, twice: the loop must reach a round that
    * changes nothing before `maxIter`, and the final edge set must be
    * structurally a star forest (roots never appear as children; each
    * child has exactly one root). A graph that somehow failed to converge
    * fails loudly instead of emitting wrong labels — the round-7/8 defect
    * was a silent 25-iteration exit.
    *
    * Input: (src, dst) pairs, any orientation, self-loops ignored.
    * Output: (doc_id, lbl) for every node incident to an edge, where lbl
    * is the component's minimum node id. Exposed for the deep-path-graph
    * fixture test (CurationSpec). */
  private[graft] def connectedComponents(edgesIn: DataFrame, maxIter: Int = 40): DataFrame = {
    val spark = edgesIn.sparkSession
    // canonical undirected edge list: (u < v), distinct
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v")).distinct()
    // Materialize = cut the plan at an explicitly-persisted RDD (wrapped
    // back as a LogicalRDD): same lineage truncation localCheckpoint
    // gives (each round's plan would otherwise NEST the previous round's
    // ~4×, so analysis cost grows exponentially), but with a REAL
    // unpersist handle — Dataset.unpersist is a CacheManager no-op for
    // checkpoint blocks, which silently accumulated O(rounds × |edges|)
    // executor storage. Freeing the previous round as soon as the next is
    // materialized keeps residency at O(|edges|). (On a real cluster:
    // reliable checkpoint + the same explicit lifecycle.)
    def materialize(df: DataFrame):
        (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.count()
      (spark.createDataFrame(rdd, df.schema), rdd)
    }
    val nodes = edgesIn.select(col("src").as("doc_id"))
      .union(edgesIn.select(col("dst").as("doc_id"))).distinct().persist()
    var (edges, edgesRdd) =
      materialize(canon(edgesIn.select(col("src").as("u"), col("dst").as("v"))))
    nodes.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: from each node u, relink every LARGER neighbor v to
      // m(u) = min(Γ(u) ∪ {u}) — smaller neighbors keep their edge to u
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lmins = sym.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      val (ls, lsRdd) = materialize(canon(sym.join(lmins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))))
      // small-star: orient each edge toward its larger endpoint; from each
      // node u, relink u and all its (smaller) neighbors to m = min(Γ⁻(u))
      val oriented = ls.select(col("v").as("big"), col("u").as("small"))
      val smins = oriented.groupBy("big").agg(min(col("small")).as("m"))
      val (ss, ssRdd) = materialize(canon(
        oriented.join(smins, "big").select(col("small").as("u"), col("m").as("v"))
          .union(smins.select(col("big").as("u"), col("m").as("v")))))
      // fixpoint ⟺ the round changed nothing (set equality; both sides are
      // canonical+distinct so two anti-join counts decide it)
      val changed = ss.join(edges, Seq("u", "v"), "left_anti").count() +
        edges.join(ss, Seq("u", "v"), "left_anti").count()
      lsRdd.unpersist(blocking = false)
      edgesRdd.unpersist(blocking = false)
      edges = ss
      edgesRdd = ssRdd
      converged = changed == 0
      iter += 1
    }
    require(converged,
      s"connectedComponents did not reach a fixpoint within $maxIter star rounds")
    // structural check: at the fixpoint the edges MUST form disjoint stars
    // (u = component min). Any violation means wrong labels — fail loudly.
    val rootsAsChildren = edges.select("v").intersect(edges.select("u")).count()
    val multiParent = edges.groupBy("v").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).count()
    require(rootsAsChildren == 0 && multiParent == 0,
      s"connectedComponents fixpoint is not a star forest " +
        s"(roots-as-children=$rootsAsChildren, multi-parent=$multiParent)")
    // materialize the labels, then release every intermediate this run
    // pinned (nodes + the final edge snapshot): the one persisted copy
    // that survives is the result itself, which the memoizing caller
    // fronts with its own cache
    val (result, _) = materialize(
      nodes.join(edges.select(col("v").as("doc_id"), col("u").as("parent")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("parent"), col("doc_id")).as("lbl")))
    nodes.unpersist(blocking = false)
    edgesRdd.unpersist(blocking = false)
    result
  }

  /** Connected components of the near-dup pair graph (q_dedup_near's
    * jac ≥ 0.8 pairs) — [[connectedComponents]] over those edges,
    * memoized so Bench's warmup+N passes and the two consumer queries
    * share one fixpoint run. */
  /** Normalized content hash the exact-dedup family keys on. */
  private[graft] def contentHash(text: Column): Column =
    sha2(lower(trim(text)), 256)

  /** Overlay family name of the committed (doc_id, h) rows — shared by
    * the doc COMMIT step (the docs derivation) and the
    * exact-dedup corpus side below. Same key as the base stage: the
    * hash recipe has no tunable geometry. */
  private[graft] val famDocHashes = "corpus_doc_hashes"

  /** FULL-corpus (doc_id, h) exact-hash index as a persisted artifact:
    * built once over every stored document, published atomically,
    * reloaded from parquet by later sessions. Keeping doc_id (not a
    * pre-collapsed distinct hash set) is what lets every consumer scope
    * its own corpus view with a narrow anti-join/filter — the registered
    * q_dedup_incremental drops the fixture batch (doc_id % 10 = 7),
    * [[graft.Ingest.exactDedup]] drops whatever ids the ARBITRARY batch
    * carries — so re-ingesting any stored row never self-matches its own
    * hash. Two narrow columns (int64 + 32-byte hash); never rebuilt per
    * ingest. ONE owning call site per memo stage (Tables.guardStage). */
  private[graft] def corpusDocHashes(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d, "corpus_doc_hashes") {
      Tables.t(s, d, "documents")
        .select(col("doc_id"), contentHash(col("text")).as("h"))
    }

  /** Exact-dedup ingest worker ([[graft.Ingest.exactDedup]]): per-doc
    * verdicts for an arbitrary batch (doc_id, text) against the
    * persisted corpus hash index — `corpus_dup` (normalized content hash
    * already in the standing corpus), `batch_dup` (a lower-id batch doc
    * carries the same hash), `keep` (neither). Only 32-byte hashes cross
    * the shuffle; the corpus side is the [[corpusDocHashes]] artifact
    * with the batch's own (doc_id, h) ROWS anti-joined out (ADVICE r14:
    * excluding by id alone let a batch row that REUSES a stored id with
    * different text hide the stored content's hash, so a second batch
    * doc equal to that still-standing text read keep instead of
    * corpus_dup). Only the exact re-ingested row is excluded, so
    * re-ingesting a stored row still cannot self-match while every
    * hash actually standing in the corpus keeps its vote; the index is
    * never rebuilt per ingest. Aggregating these verdicts per language
    * reproduces q_dedup_incremental's report for the fixture batch
    * (IngestSpec). */
  private[graft] def ingestExactDedup(s: SparkSession, d: String,
      batch: DataFrame): DataFrame = {
    val b = batch.withColumn("h", contentHash(col("text")))
    val corpusH = LlmPipeline.standing(s, d, LlmPipeline.DocHashes)
      .join(b.select("doc_id", "h"), Seq("doc_id", "h"), "left_anti")
      .select("h").distinct()
    val w = Window.partitionBy("h").orderBy("doc_id")
    b.withColumn("rn", row_number().over(w))
      .join(corpusH.withColumn("in_corpus", lit(true)), Seq("h"), "left")
      .select(col("doc_id"),
        col("in_corpus").isNotNull.as("corpus_dup"),
        (col("rn") > 1).as("batch_dup"),
        (col("rn") === 1 && col("in_corpus").isNull).as("keep"))
      .orderBy("doc_id")
  }

  private def clusterLabels(s: SparkSession, d: String): DataFrame =
    Tables.memoized(s, d, "cluster_labels") {
      val pairs = LlmPipeline.queries.toMap.apply("q_dedup_near")(s, d)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      connectedComponents(pairs)
    }

  /** Per-doc 5-gram shingle stream, memoized + repartitioned like
    * LlmPipeline.docShingles: the consumers (bench set, hit counts,
    * per-doc totals, the Bloom artifact build) would otherwise each
    * re-run the tokenize+shingle chain — and on the single-row-group
    * testdata file, single-threaded. At 100 TB this is the same
    * "materialize the shingle stream once per run" choice as the k=3
    * dedup universe. ONE call site so the memo stage key has one owner. */
  private def sh5Shingles(s: SparkSession, d: String): DataFrame =
    Tables.memoized(s, d, "sh5_shingles") {
      t(s, d, "documents").repartition(col("doc_id"))
        .withColumn("toks", LlmPipeline.toks(col("text")))
        .select(col("doc_id"),
          explode(LlmPipeline.shingles(col("toks"), 5)).as("shingle"))
    }

  /** Benchmark-shingle Bloom filter, persisted like every other index
    * artifact (1-row binary parquet; fpp folded into the stage key). The
    * sizing `count()` and the build aggregate run once per corpus; every
    * later session loads the bytes back. ~9.6 bits/item at fpp=0.02, so
    * the eval-suite universe stays a few MB of broadcast bits at any
    * corpus size. */
  private def benchBloomBytes(s: SparkSession, d: String): Array[Byte] =
    Tables.memoizedOnDisk(s, d, s"decontam_bloom_m${BENCH_MOD}_k5_fpp02") {
      import s.implicits._
      val bench = sh5Shingles(s, d).where(col("doc_id") % BENCH_MOD === 0)
        .select("shingle").distinct()
      val agg = new graft.functions.BloomBuild(bench.count(), 0.02)
      bench.as[String].select(agg.toColumn).toDF("bloom")
    }.head().getAs[Array[Byte]]("bloom")

  def queries: Seq[(String, Fn)] = Seq(
    // Benchmark decontamination: flag training docs sharing any 5-gram with
    // the benchmark set. The benchmark shingle universe is fixed-size →
    // size-gated broadcast; the corpus side is a single narrow pass.
    "q_decontaminate" -> ((s, d) => {
      val sh5 = sh5Shingles(s, d)
      val bench = sh5.where(col("doc_id") % BENCH_MOD === 0)
        .select("shingle").distinct()
      val train = sh5.where(col("doc_id") % BENCH_MOD =!= 0)
      val nsh = train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      // shingles are per-doc distinct by construction, so count(*) after
      // the inner join IS the number of distinct contaminated shingles
      val hits = train.join(maybeBroadcast(bench), Seq("shingle"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      hits.join(nsh, Seq("doc_id"))
        .withColumn("contam_frac", r4(col("n_hits") / col("n_shingles")))
        .select("doc_id", "n_hits", "n_shingles", "contam_frac")
        .orderBy("doc_id")
    }),

    // Decontamination, runtime-Bloom-prefiltered — the 100 TB plan shape.
    // The persisted filter (a few MB of bits for an eval-suite universe of
    // any practical size) rides the corpus scan as a codegen'd per-row
    // predicate, so ~(1 - fpp) of clean rows die BEFORE the confirm join's
    // hash probe / shuffle; the exact join over the survivors restores
    // exactness (Bloom has no false negatives), which is why this query
    // shares q_decontaminate's oracle verbatim. Same pattern as Spark's
    // InjectRuntimeFilter, but against a persisted index artifact instead
    // of a per-query subquery — reusable across every run of the pipeline.
    "q_decontaminate_bloom" -> ((s, d) => {
      val sh5 = sh5Shingles(s, d)
      val bloom = benchBloomBytes(s, d)
      val bench = sh5.where(col("doc_id") % BENCH_MOD === 0)
        .select("shingle").distinct()
      val train = sh5.where(col("doc_id") % BENCH_MOD =!= 0)
      val nsh = train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val survivors = train.where(
        org.apache.spark.sql.graftx.BloomExprs.bloomMightContain(bloom, col("shingle")))
      val hits = survivors.join(maybeBroadcast(bench), Seq("shingle"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      hits.join(nsh, Seq("doc_id"))
        .withColumn("contam_frac", r4(col("n_hits") / col("n_shingles")))
        .select("doc_id", "n_hits", "n_shingles", "contam_frac")
        .orderBy("doc_id")
    }),

    // Stratified deterministic downsampling: per-language keep rates over
    // the md5 hash bucket of doc_id — reproducible across engines, cluster
    // sizes, and reruns; the filter is a pure per-row predicate (pushable,
    // no shuffle before the report agg).
    "q_sample_stratified" -> ((s, d) => {
      val rate = when(col("lang") === "en", 50)
        .when(col("lang") === "zh", 10).otherwise(25)
      val keep = h60(col("doc_id").cast(StringType)) % 100 < rate
      t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"), count_if(keep).as("n_sampled"))
        .withColumn("rate_real", r4(col("n_sampled") / col("n_total")))
        .orderBy("lang")
    }),

    // Priority-sampling (Efraimidis–Spirakis A-ES) weighted sampling
    // WITHOUT replacement: each doc draws key = ln(u)/w from a
    // deterministic per-doc uniform u (md5 bucket, reproducible across
    // engines/cluster sizes/reruns) and weight w = n_chars; the K largest
    // keys are the sample — inclusion probability ∝ weight, single pass.
    // Fully data-parallel: the key is a per-row projection and selection
    // is ONE TakeOrderedAndProject (map-side partial top-K per partition;
    // ~K rows cross to the final at any corpus size — no corpus shuffle).
    // The key is pre-rounded (4dp on the ×1e6 scale) with a doc_id
    // tiebreak so the cut line is engine-portable.
    "q_sample_weighted" -> ((s, d) => {
      val u = (h60(col("doc_id").cast(StringType)) % 1000000 + 0.5) / 1000000.0
      val key = r4(log(u) * 1000000.0 / col("n_chars"))
      t(s, d, "documents")
        .where(col("n_chars") > 0)
        .select(col("doc_id"), col("lang"), col("n_chars"), key.as("es_key"))
        .orderBy(col("es_key").desc, col("doc_id"))
        .limit(SAMPLE_K)
    }),

    // Per-key deterministic sample: the K lowest-md5-priority docs per
    // language — the "show me a few examples from every stratum" op a
    // data team runs constantly. The rank filter is the single-
    // row_number pattern the injected optimizer rule rewrites into the
    // map-side-heap TopKPerKey plan, so at ANY corpus size at most
    // K rows per key per partition reach the shuffle — a bounded,
    // reproducible per-stratum sample with no corpus sort and no rand()
    // (md5 priority is identical across engines, reruns, and cluster
    // sizes).
    "q_sample_per_key" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy(col("pri"), col("doc_id"))
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          (h60(col("doc_id").cast(StringType)) % 1000000).as("pri"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= SAMPLE_PER_KEY)
        .orderBy("lang", "rn")
    }),

    // Within-doc repetition scoring (Gopher-style quality rule): the
    // fraction of tokens claimed by the most frequent token / bigram.
    // Two exploded aggs, both map-side combinable; no joins across docs.
    "q_quality_repetition" -> ((s, d) => {
      val tokd = t(s, d, "documents")
        .select(col("doc_id"), LlmPipeline.toks(col("text")).as("tk"))
      val tokTop = tokd.select(col("doc_id"), explode(col("tk")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max(col("c")).as("max_tok"), sum(col("c")).cast(IntegerType).as("n_tokens"))
      val biTop = tokd.select(col("doc_id"), explode(bigramsAll(col("tk"))).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("max_bg"), sum(col("c")).as("n_bg"))
      tokTop.join(biTop, Seq("doc_id"), "left") // 1-token docs have no bigrams
        .select(col("doc_id"), col("n_tokens"),
          r4(col("max_tok") / col("n_tokens")).as("top_tok_ratio"),
          coalesce(r4(col("max_bg") / col("n_bg")), lit(0.0)).as("top_bigram_ratio"))
        .withColumn("repetitive", col("top_bigram_ratio") > 0.2)
        .orderBy("doc_id")
    }),

    // Boilerplate/template detection — the curation rule that strips
    // crawl chrome ("click here to subscribe…"): a phrase bigram is
    // boilerplate when it recurs in ≥ BOILER_DF docs of the SAME
    // source (templates are per-site), and a doc is flagged when
    // boilerplate phrases claim > BOILER_FRAC of its distinct bigrams.
    // Two shuffles at any scale: the (source, bigram) document-
    // frequency aggregate, and the size-gated join of the high-df
    // phrase table back onto the bigram stream (the phrase table is
    // vocabulary-scale — broadcast when small, shuffle join when not).
    "q_text_boilerplate" -> ((s, d) => {
      val sh = t(s, d, "documents").repartition(col("doc_id"))
        .withColumn("toks", LlmPipeline.toks(col("text")))
        .select(col("doc_id"), col("source"),
          explode(LlmPipeline.shingles(col("toks"), 2)).as("shingle"))
      val boiler = sh.groupBy("source", "shingle").agg(count(lit(1)).as("df"))
        .where(col("df") >= BOILER_DF)
        .select(col("source"), col("shingle"), lit(true).as("is_boiler"))
      sh.join(maybeBroadcast(boiler), Seq("source", "shingle"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          count_if(col("is_boiler").isNotNull).as("n_boiler"))
        .withColumn("boiler_frac", r4(col("n_boiler") / col("n_shingles")))
        .withColumn("flagged", col("n_boiler") / col("n_shingles") > BOILER_FRAC)
        .orderBy("doc_id")
    }),

    // Context-window sequence packing: docs are laid head-to-tail per
    // language in doc_id order; a doc's bin is the CTX-token window its
    // first token lands in. One shuffle (the per-stratum running sum);
    // bin assignment is integer arithmetic — no driver-side packing state.
    "q_pack_sequences" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          size(LlmPipeline.toks(col("text"))).cast(LongType).as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("seq_id", expr(s"(cum - n_tok) div $CTX"))
        .groupBy("lang", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("lang", "seq_id")
    }),

    // Domain-mixture rebalancing: downsample over-represented languages so
    // realized proportions hit a target mixture (en 40%, others 15%). The
    // per-stratum budget is INTEGER-exact — desired_l = min over strata m
    // of (w_l·n_m) div w_m, i.e. the largest integer allocation proportional
    // to the weights that no stratum can exceed — so both engines derive
    // identical thresholds with no float boundary risk. Row selection is
    // the deterministic md5 bucket (reproducible across engines / cluster
    // sizes / reruns). Cost: one count agg + a #langs² driver-size cross
    // join + one broadcast-joined per-row filter — no corpus shuffle.
    "q_mix_domains" -> ((s, d) => {
      val weight = when(col("lang") === "en", 40).otherwise(15)
      val counts = t(s, d, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .withColumn("w", weight)
      // bounded by #languages (5 rows) — forced broadcast is safe at any
      // corpus scale, as is the #langs² cross join below
      val stats = counts.as("a").crossJoin(broadcast(counts.as("b")))
        .select(col("a.lang").as("lang"), col("a.n").as("n_total"),
          col("a.w").as("weight"),
          expr("(a.w * b.n) div b.w").as("cap"))
        .groupBy("lang", "n_total", "weight")
        .agg(min(col("cap")).as("n_desired"))
        .withColumn("thr", expr("(n_desired * 1000000) div n_total"))
      val keep = h60(col("doc_id").cast(StringType)) % 1000000 < col("thr")
      t(s, d, "documents")
        .join(broadcast(stats), Seq("lang"))
        .groupBy("lang", "weight", "n_total", "n_desired")
        .agg(count_if(keep).as("n_kept"))
        .withColumn("rate_real", r4(col("n_kept") / col("n_total")))
        .select("lang", "weight", "n_total", "n_desired", "n_kept", "rate_real")
        .orderBy("lang")
    }),

    // Incremental dedup — dedup a new crawl batch (doc_id ≡ 7 mod 10, the
    // deterministic stand-in for "newly arrived") against the existing
    // corpus AND within itself: the production shape where the corpus is
    // already deduped and only the delta is processed. Only 32-byte content
    // hashes cross the shuffle for the corpus check; at 100 TB the corpus
    // hash set is a bucketed index (zero-shuffle joins, SinkSpec) with a
    // bloom prefilter (PlanSpec's runtime bloom pruning) in front.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("h", sha2(lower(trim(col("text"))), 256))
      val isBatch = col("doc_id") % 10 === 7
      val corpusH = corpusDocHashes(s, d).where(!isBatch)
        .select("h").distinct().withColumn("in_corpus", lit(true))
      val w = Window.partitionBy("h").orderBy("doc_id")
      docs.where(isBatch)
        .withColumn("rn", row_number().over(w))
        .join(corpusH, Seq("h"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_batch"),
          count_if(col("in_corpus").isNotNull).as("n_corpus_dup"),
          count_if(col("rn") > 1).as("n_batch_dup"),
          count_if(col("rn") === 1 && col("in_corpus").isNull).as("n_new"))
        .orderBy("lang")
    }),

    // Near-dup graph clustering: connected components over q_dedup_near's
    // pairs — the step that turns pairwise matches into keep-one-per-cluster
    // decisions. cluster_id = min doc_id in the component.
    "q_dedup_cluster" -> ((s, d) => {
      val labels = clusterLabels(s, d)
      val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("n_members"))
      labels.join(maybeBroadcast(sizes), Seq("lbl"))
        .select(col("doc_id"), col("lbl").as("cluster_id"), col("n_members"))
        .orderBy("doc_id")
    }),

    // Canonical-doc selection: within each near-dup cluster keep the
    // highest-quality member (q_text_quality's score; ties → min doc_id).
    // The step AFTER clustering in a real dedup pipeline — emit one
    // representative, drop the rest. The rank-1 filter is the idiomatic
    // row_number pattern the injected optimizer rule rewrites into the
    // map-side-heap TopKPerKey plan; cluster membership is graph-sized
    // (near-dup docs only), so the quality join touches a corpus-fraction.
    "q_dedup_canonical" -> ((s, d) => {
      val labels = clusterLabels(s, d)
      val docsQ = t(s, d, "documents")
        .withColumn("toks", LlmPipeline.toks(col("text")))
        .select(col("doc_id"),
          r4(least(lit(1.0), col("n_chars") / 200.0) *
            (size(array_distinct(col("toks"))).cast(DoubleType) / size(col("toks"))))
            .as("quality"))
      val sized = labels.select(col("doc_id"), col("lbl").as("cluster_id"))
        .join(docsQ, "doc_id")
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("quality").desc, col("doc_id").asc)
      val members = sized.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      sized.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).drop("rn")
        .join(maybeBroadcast(members), "cluster_id")
        .select("cluster_id", "doc_id", "quality", "n_members")
        .orderBy("cluster_id")
    }),

    // Quality-budget curve: docs and token mass per quality decile with
    // top-down cumulative totals — the threshold sweep a data team runs
    // to pick its quality cutoff ("how many tokens survive at q ≥ x?").
    // One map-side-combinable agg collapses the corpus to ≤10 bin rows;
    // the unpartitioned cumulative window is bounded by the bin count,
    // never the corpus. Quality is r4-rounded BEFORE binning so the
    // decile edges are decided on identical 4dp doubles in both engines.
    "q_quality_budget" -> ((s, d) => {
      val tk = LlmPipeline.toks(col("text"))
      val binned = t(s, d, "documents")
        .withColumn("toks", tk)
        .withColumn("q", r4(least(lit(1.0), col("n_chars") / 200.0) *
          (size(array_distinct(col("toks"))).cast(DoubleType) / size(col("toks")))))
        .withColumn("bin", least(floor(col("q") * 10), lit(9L)).cast(LongType))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks")).cast(LongType)).as("n_tokens"))
      val w = Window.orderBy(col("bin").desc)
      binned
        .withColumn("cum_docs", sum(col("n_docs")).over(w))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .orderBy("bin")
    }),

    // Corpus health report: the per-(source, lang) dashboard a data team
    // reads before a training run — volume, token mass, exact-dup rate,
    // mean quality. ONE pass over the corpus (every measure is map-side
    // combinable off per-row expressions; the dup count is
    // count − approxless exact distinct of the content hash, which is the
    // same one-shuffle agg). Composes the per-row definitions already
    // oracle-checked in q_text_quality / q_dedup_exact.
    "q_corpus_report" -> ((s, d) => {
      val tk = LlmPipeline.toks(col("text"))
      t(s, d, "documents")
        .withColumn("toks", tk)
        .withColumn("h", sha2(lower(trim(col("text"))), 256))
        .withColumn("quality",
          least(lit(1.0), col("n_chars") / 200.0) *
            (size(array_distinct(col("toks"))).cast(DoubleType) / size(col("toks"))))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks")).cast(LongType)).as("n_tokens"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"),
          r4(avg(col("quality"))).as("mean_quality"))
        .orderBy("source", "lang")
    }),

    // Deterministic 90/5/5 train/val/test split by md5 bucket of doc_id —
    // reproducible across engines, cluster sizes, and reruns (the property
    // a training-data split MUST have so re-materializing the corpus never
    // leaks val/test docs into train). Pure per-row predicate + one agg.
    "q_split_train" -> ((s, d) => {
      val bucket = pmod(Tables.h60(col("doc_id").cast(StringType)), lit(100))
      t(s, d, "documents")
        .withColumn("split", when(bucket < 90, "train")
          .when(bucket < 95, "val").otherwise("test"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars_total"))
        .orderBy("split", "source")
    }),

    // Weighted PageRank over the nation trade graph (customer nation →
    // supplier nation, edge weight = lineitem count), PR_ITERS damped
    // iterations from a uniform start. The iterative dataflow is the
    // scale pattern: the edge list is built ONCE (the only corpus-scale
    // shuffles — fact join + edge aggregate — are memoized), each
    // iteration is rank ⋈ edges + one groupBy(dst) whose per-term
    // contribution is cast to DECIMAL(38,18) so the sum is exact and
    // order-independent — double addition across engines/partitionings
    // would drift, and PageRank COMPOUNDS iteration error. Ranks stay
    // keyed by node (maybeBroadcast: node count ≪ edge count at any
    // scale, but nothing relies on it). Dangling mass is not
    // redistributed (every fixture nation has out-edges; documented
    // simplification, as in the original formulation).
    "q_graph_pagerank" -> ((s, d) => {
      val edges = Tables.memoized(s, d, "pagerank_nation_edges") {
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(maybeBroadcast(t(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(maybeBroadcast(t(s, d, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
          .agg(count(lit(1)).as("w"))
          .withColumn("wout", sum("w").over(Window.partitionBy("src")))
      }
      val nodes = t(s, d, "nation").select(col("n_nationkey").as("node"))
      val nN = nodes.agg(count(lit(1)).as("n_nodes"))
      val d18 = DecimalType(38, 18)
      var ranks = nodes.crossJoin(broadcast(nN)) // 1-row aggregate
        .select(col("node"), (lit(1.0) / col("n_nodes")).as("r"), col("n_nodes"))
      for (_ <- 1 to PR_ITERS) {
        val contrib = maybeBroadcast(ranks)
          .join(edges, col("node") === col("src"))
          .groupBy(col("dst"))
          .agg(sum((col("r") * col("w") / col("wout")).cast(d18)).as("c"))
        ranks = ranks.join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(1.0) - lit(PR_DAMP)) / col("n_nodes") +
              lit(PR_DAMP) * coalesce(col("c").cast(DoubleType), lit(0.0)) as "r",
            col("n_nodes"))
      }
      ranks.select(col("node").as("n_nationkey"), r4(col("r")).as("pagerank"))
        .orderBy("n_nationkey")
    }),
  )

  /** PageRank dials (q_graph_pagerank): damping and unrolled iteration
    * count — the oracle unrolls the same PR_ITERS CTE stages. */
  private val PR_DAMP = 0.85
  private val PR_ITERS = 3

  private val shingles5Sql =
    """CASE WHEN len(string_split(text,' ')) >= 5 THEN
      | list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-4),
      |   i -> string_split(text,' ')[i]||' '||string_split(text,' ')[i+1]||' '||
      |        string_split(text,' ')[i+2]||' '||string_split(text,' ')[i+3]||' '||
      |        string_split(text,' ')[i+4]))
      | ELSE [] END""".stripMargin

  /** End-to-end curated-corpus materialization — the artifact a training
    * run actually reads. In ONE plan: exact-dedup keep (min doc_id per
    * content hash), quality floor, deterministic md5-bucket split
    * assignment; written partitioned by split with doc_id range-clustering
    * inside each split. `numFiles` is the TOTAL range-partition count
    * across all splits (range boundaries follow the (split, doc_id) key,
    * so most tasks own one split slice; a boundary task may write two
    * split directories). Within each split the per-file doc_id footer
    * ranges are disjoint, which is what scan skipping needs. Re-running is
    * idempotent: same input → byte-identical keeper set, split labels, and
    * file layout (Overwrite mode).
    *
    * 100 TB: every step is one shuffle (the hash window) plus the range
    * exchange the clustered layout needs anyway; nothing is driver-side.
    */
  def materializeCorpus(s: SparkSession, d: String, outDir: String,
      minQuality: Double = 0.3, numFiles: Int = 4): Unit = {
    val docs = t(s, d, "documents")
      .withColumn("toks", LlmPipeline.toks(col("text")))
      .withColumn("h", sha2(lower(trim(col("text"))), 256))
      .withColumn("quality",
        least(lit(1.0), col("n_chars") / 200.0) *
          (size(array_distinct(col("toks"))).cast(DoubleType) / size(col("toks"))))
    val keep = Window.partitionBy("h").orderBy(col("doc_id").asc)
    val bucket = pmod(Tables.h60(col("doc_id").cast(StringType)), lit(100))
    docs
      .withColumn("rn", row_number().over(keep)).where(col("rn") === 1)
      .where(col("quality") >= minQuality)
      .withColumn("split", when(bucket < 90, "train")
        .when(bucket < 95, "val").otherwise("test"))
      .select("doc_id", "text", "lang", "source", "n_chars", "quality", "split")
      .repartitionByRange(numFiles, col("split"), col("doc_id"))
      .sortWithinPartitions(col("split"), col("doc_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("split").parquet(outDir)
  }

  def oracle: Seq[(String, String)] = Seq(
    "q_decontaminate" ->
      s"""WITH sh AS (SELECT doc_id, unnest($shingles5Sql) AS shingle FROM documents),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $BENCH_MOD = 0),
         |train AS (SELECT * FROM sh WHERE doc_id % $BENCH_MOD <> 0),
         |nsh AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY 1),
         |hits AS (SELECT t.doc_id, count(*) AS n_hits
         |         FROM train t JOIN bench b USING (shingle) GROUP BY 1)
         |SELECT h.doc_id, h.n_hits, n.n_shingles,
         | ${r4sql("CAST(h.n_hits AS DOUBLE) / n.n_shingles")} AS contam_frac
         |FROM hits h JOIN nsh n USING (doc_id) ORDER BY doc_id""".stripMargin,
    // bloom-prefilter + exact confirm ≡ the exact join — same oracle
    "q_decontaminate_bloom" ->
      s"""WITH sh AS (SELECT doc_id, unnest($shingles5Sql) AS shingle FROM documents),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $BENCH_MOD = 0),
         |train AS (SELECT * FROM sh WHERE doc_id % $BENCH_MOD <> 0),
         |nsh AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY 1),
         |hits AS (SELECT t.doc_id, count(*) AS n_hits
         |         FROM train t JOIN bench b USING (shingle) GROUP BY 1)
         |SELECT h.doc_id, h.n_hits, n.n_shingles,
         | ${r4sql("CAST(h.n_hits AS DOUBLE) / n.n_shingles")} AS contam_frac
         |FROM hits h JOIN nsh n USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_sample_weighted" ->
      s"""SELECT doc_id, lang, n_chars,
         | ${r4sql("ln((('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 1000000 + 0.5)" +
                   " / 1000000.0) * 1000000.0 / n_chars")} AS es_key
         |FROM documents WHERE n_chars > 0
         |ORDER BY es_key DESC, doc_id LIMIT $SAMPLE_K""".stripMargin,
    "q_sample_stratified" ->
      s"""SELECT lang, n_total, n_sampled,
         | ${r4sql("CAST(n_sampled AS DOUBLE) / n_total")} AS rate_real
         |FROM (
         |  SELECT lang, count(*) AS n_total,
         |   count(*) FILTER (WHERE
         |     ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 <
         |     CASE WHEN lang = 'en' THEN 50 WHEN lang = 'zh' THEN 10 ELSE 25 END
         |   ) AS n_sampled
         |  FROM documents GROUP BY lang)
         |ORDER BY lang""".stripMargin,
    "q_sample_per_key" ->
      s"""WITH p AS (
         |  SELECT lang, doc_id,
         |   ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000000 AS pri
         |  FROM documents),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rn
         |  FROM p)
         |SELECT lang, doc_id, pri, rn FROM r
         |WHERE rn <= $SAMPLE_PER_KEY ORDER BY lang, rn""".stripMargin,
    "q_quality_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |tt AS (
        |  SELECT doc_id, max(c) AS max_tok, CAST(sum(c) AS INT) AS n_tokens FROM (
        |    SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2) GROUP BY 1),
        |bg0 AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS bg
        |  FROM documents),
        |bt AS (
        |  SELECT doc_id, max(c) AS max_bg, sum(c) AS n_bg FROM (
        |    SELECT doc_id, bg, count(*) AS c FROM bg0 GROUP BY 1, 2) GROUP BY 1)
        |SELECT tt.doc_id, tt.n_tokens,
        | CAST(round(CAST(CAST(tt.max_tok AS DOUBLE) / tt.n_tokens AS DECIMAL(38,6)), 4) AS DOUBLE) AS top_tok_ratio,
        | COALESCE(CAST(round(CAST(CAST(bt.max_bg AS DOUBLE) / bt.n_bg AS DECIMAL(38,6)), 4) AS DOUBLE), 0.0) AS top_bigram_ratio,
        | COALESCE(CAST(round(CAST(CAST(bt.max_bg AS DOUBLE) / bt.n_bg AS DECIMAL(38,6)), 4) AS DOUBLE), 0.0) > 0.2 AS repetitive
        |FROM tt LEFT JOIN bt ON tt.doc_id = bt.doc_id
        |ORDER BY tt.doc_id""".stripMargin,
    "q_text_boilerplate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, source, unnest(
         |   CASE WHEN len(string_split(text,' ')) >= 2 THEN
         |    list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-1),
         |      i -> string_split(text,' ')[i]||' '||string_split(text,' ')[i+1]))
         |   ELSE [] END) AS shingle
         |  FROM documents),
         |df AS (SELECT source, shingle, count(*) AS df FROM sh GROUP BY 1, 2),
         |b AS (SELECT source, shingle FROM df WHERE df >= $BOILER_DF),
         |per AS (
         |  SELECT sh.doc_id, count(*) AS n_shingles, count(b.shingle) AS n_boiler
         |  FROM sh LEFT JOIN b ON sh.source = b.source AND sh.shingle = b.shingle
         |  GROUP BY 1)
         |SELECT doc_id, n_shingles, n_boiler,
         | ${r4sql("CAST(n_boiler AS DOUBLE) / n_shingles")} AS boiler_frac,
         | CAST(n_boiler AS DOUBLE) / n_shingles > $BOILER_FRAC AS flagged
         |FROM per ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH d AS (
         |  SELECT lang, doc_id,
         |   CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT lang, doc_id, n_tok,
         |   CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM d)
         |SELECT lang, (cum - n_tok) // $CTX AS seq_id, count(*) AS n_docs,
         | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         | min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM c GROUP BY 1, 2 ORDER BY lang, seq_id""".stripMargin,
    "q_mix_domains" ->
      s"""WITH c AS (
         |  SELECT lang, count(*) AS n,
         |   CASE WHEN lang = 'en' THEN 40 ELSE 15 END AS w
         |  FROM documents GROUP BY 1),
         |d AS (
         |  SELECT a.lang, a.n AS n_total, a.w AS weight,
         |   min((a.w * b.n) // b.w) AS n_desired
         |  FROM c a, c b GROUP BY 1, 2, 3),
         |t AS (SELECT *, (n_desired * 1000000) // n_total AS thr FROM d),
         |k AS (
         |  SELECT doc.lang,
         |   count(*) FILTER (WHERE
         |     ('0x'||substr(md5(doc.doc_id::VARCHAR),1,15))::BIGINT % 1000000 < t.thr
         |   ) AS n_kept
         |  FROM documents doc JOIN t USING (lang) GROUP BY 1)
         |SELECT t.lang, t.weight, t.n_total, t.n_desired, k.n_kept,
         | ${r4sql("CAST(k.n_kept AS DOUBLE) / t.n_total")} AS rate_real
         |FROM t JOIN k USING (lang) ORDER BY lang""".stripMargin,
    "q_dedup_incremental" ->
      """WITH d AS (
        |  SELECT doc_id, lang, sha256(lower(trim(text))) AS h FROM documents),
        |b AS (
        |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        |  FROM d WHERE doc_id % 10 = 7),
        |c AS (SELECT DISTINCT h FROM d WHERE doc_id % 10 <> 7)
        |SELECT b.lang, count(*) AS n_batch,
        | count(*) FILTER (WHERE c.h IS NOT NULL) AS n_corpus_dup,
        | count(*) FILTER (WHERE rn > 1) AS n_batch_dup,
        | count(*) FILTER (WHERE rn = 1 AND c.h IS NULL) AS n_new
        |FROM b LEFT JOIN c ON b.h = c.h
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE pairs AS (
         |${LlmPipeline.oracle.toMap.apply("q_dedup_near")}
         |),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS doc_id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.doc_id = e.dst),
         |lbl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
         |SELECT doc_id, cluster_id,
         | count(*) OVER (PARTITION BY cluster_id) AS n_members
         |FROM lbl ORDER BY doc_id""".stripMargin,
    "q_dedup_canonical" ->
      s"""WITH RECURSIVE pairs AS (
         |${LlmPipeline.oracle.toMap.apply("q_dedup_near")}
         |),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS doc_id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.doc_id = e.dst),
         |lbl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         |q AS (
         |  SELECT doc_id,
         |   CAST(round(CAST(least(1.0, n_chars/200.0)
         |     * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |        / len(string_split(text,' '))) AS DECIMAL(38,6)), 4) AS DOUBLE) AS quality
         |  FROM documents),
         |ranked AS (
         |  SELECT l.cluster_id, l.doc_id, q.quality,
         |   count(*) OVER (PARTITION BY l.cluster_id) AS n_members,
         |   row_number() OVER (PARTITION BY l.cluster_id
         |     ORDER BY q.quality DESC, l.doc_id ASC) AS rn
         |  FROM lbl l JOIN q USING (doc_id))
         |SELECT cluster_id, doc_id, quality, n_members
         |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "q_quality_budget" ->
      """WITH q AS (
        |  SELECT CAST(round(CAST(least(1.0, n_chars/200.0)
        |    * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |       / len(string_split(text,' '))) AS DECIMAL(38,6)), 4) AS DOUBLE) AS q,
        |   len(string_split(text,' ')) AS ntok
        |  FROM documents),
        |b AS (
        |  SELECT least(CAST(floor(q*10) AS BIGINT), 9) AS bin,
        |   count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
        |  FROM q GROUP BY 1)
        |SELECT bin, n_docs, n_tokens,
        | CAST(sum(n_docs) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_docs,
        | CAST(sum(n_tokens) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_tokens
        |FROM b ORDER BY bin""".stripMargin,
    "q_corpus_report" ->
      """SELECT source, lang, count(*) AS n_docs,
        | CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens,
        | count(*) - count(DISTINCT sha256(lower(trim(text)))) AS n_dup_docs,
        | CAST(round(CAST(avg(least(1.0, n_chars/200.0)
        |   * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |      / len(string_split(text,' ')))) AS DECIMAL(38,6)), 4) AS DOUBLE) AS mean_quality
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "q_split_train" ->
      """WITH b AS (
        |  SELECT source, n_chars,
        |   ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 90 THEN 'train'
        |            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
        | source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM b GROUP BY 1, 2 ORDER BY split, source""".stripMargin,
    // every constant is CAST(... AS DOUBLE) so each engine runs the same
    // IEEE op sequence; contribution sums ride exact DECIMAL(38,18)
    "q_graph_pagerank" -> {
      val iters = (1 to PR_ITERS).map { i =>
        val p = s"r${i - 1}"
        s"""r$i AS (
           |  SELECT n.node,
           |   (CAST(1.0 AS DOUBLE) - CAST($PR_DAMP AS DOUBLE)) / n.n_nodes +
           |    CAST($PR_DAMP AS DOUBLE) * coalesce(CAST(c.c AS DOUBLE), CAST(0.0 AS DOUBLE)) AS r,
           |   n.n_nodes
           |  FROM $p n
           |  LEFT JOIN (SELECT ew.dst, sum(CAST($p.r * ew.w / ew.wout AS DECIMAL(38,18))) AS c
           |             FROM $p JOIN ew ON $p.node = ew.src GROUP BY 1) c
           |  ON n.node = c.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2),
         |ew AS (SELECT src, dst, w, sum(w) OVER (PARTITION BY src) AS wout FROM e),
         |nn AS (SELECT count(*) AS n_nodes FROM nation),
         |r0 AS (SELECT n_nationkey AS node, CAST(1.0 AS DOUBLE) / nn.n_nodes AS r, nn.n_nodes
         |       FROM nation CROSS JOIN nn),
         |$iters
         |SELECT node AS n_nationkey, ${r4sql("r")} AS pagerank
         |FROM r$PR_ITERS ORDER BY n_nationkey""".stripMargin
    },
  )
}
