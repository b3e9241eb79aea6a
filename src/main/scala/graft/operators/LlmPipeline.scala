package graft.operators

import graft.{CorpusGen, GeomEpoch, IndexOverlay, QueryPack, Tables}
import graft.Tables._
import graft.multimodal.Media
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-data-pipeline operators — SURVEY.md §3B #42–46 plus the north-star
  * extensions (BASELINE.json): the operations a large-scale training-data
  * pipeline needs, expressed Spark-first over the `documents` and
  * `embeddings` tables. No SNOWAV analog (upstream has no text/vector ops);
  * these generalize its mask→reduce pipeline to content dedup/search.
  *
  * Portability backbone: every hash is md5-hex (identical on Spark and
  * DuckDB); numeric hashes take the first 15 hex digits as a 60-bit BIGINT
  * (`conv(...,16,10)` ↔ `('0x'||...)::BIGINT` — parity verified). MinHash
  * signatures are md5-hex string minima, so string ordering — identical on
  * both engines — replaces modular arithmetic.
  *
  * Scale notes (100 TB):
  * - Exact shingle Jaccard (q_dedup_near) self-joins on shingle — correct
  *   but quadratic in hot shingles; it is the small-scale oracle of truth.
  * - The scale path is q_dedup_minhash: fixed-size signatures (one narrow
  *   row per doc), LSH band buckets as the join key — shuffle cost is
  *   O(#docs × #bands), candidates only then verified exactly. Skewed
  *   buckets (boilerplate docs) are handled by AQE skew-join or salting.
  * - q_sim_knn blocks on `label` (the IVF coarse-quantizer analog: probe
  *   one cell); q_baseline_ann_lsh derives sign-bit buckets from broadcast
  *   hyperplanes — both avoid the all-pairs cross join.
  * - simhash is one groupBy over exploded tokens (map-side combinable) +
  *   a blocked pair join; at 100 TB the pair join would block on band
  *   prefixes of the simhash, same LSH idea.
  */
object LlmPipeline extends QueryPack {

  private val SIM_BITS = 32
  private val MINHASH_K = 8
  private val LSH_PLANES = 8
  /** Multi-table LSH (q_sim_ann_lsh_multi): OR of [[LSH_TABLES]]
    * independent tables of [[LSH_TABLE_BITS]] sign bits each. Fewer bits
    * per table → coarser buckets → higher per-table collision probability;
    * OR-ing tables multiplies recall while each table's candidate set
    * stays N²/2^bits in expectation. Plane ids start at [[LSH_PLANES]] so
    * the tables are independent of the single-table query's hyperplanes. */
  private val LSH_TABLES = 4
  private val LSH_TABLE_BITS = 4
  /** Constant-occupancy LSH (q_sim_ann_lshc) — the linear-class re-dial
    * of the fixed-bucket family (VERDICT r14 task 1), built the way the
    * constant-cell IVF tier was: instead of a FIXED [[LSH_TABLE_BITS]]
    * (bucket count independent of N ⇒ expected occupancy N/2^bits ⇒
    * candidate volume N²/B), the per-table bit count GROWS with the
    * persisted corpus count so expected bucket occupancy stays pinned at
    * [[LSHC_CELL]]: nbits = the smallest b with 2^b ≥ ⌈N/c⌉ (an integer
    * formula on both engines — floating log2 of exact powers of two is
    * off-by-ulp hazardous). Candidate volume is then O(N · tables ·
    * probes · c) with tables and probes CONSTANT — the linear class.
    *
    * Probe expansion must not grow with nbits (full hamming-1 would add
    * a log N factor and breach the linear contract at the 4× embedding
    * step: (1+nbits) probes grew 5→7 across sf0.01→0.1, a 1.4× on top of
    * 4×, outside growth^1.2). So probes are the TARGETED multiprobe of
    * Lv et al.: each query flips, per table, only the [[LSHC_T]] sign
    * bits with the smallest |dot| margin (the bits most likely wrong)
    * plus the pair of the two smallest — 1 + T + 1 bucket lookups per
    * table, a constant, recovering most of hamming-1's recall because
    * single-bit errors concentrate on small-margin planes. Plane ids
    * live at [[LSHC_BASE]] + tb·32 + j (stride 32 = the nbits ceiling,
    * 2^32 buckets/table ≈ 4.3e9 · c vectors — past 100 TB) so re-dials
    * never collide with the fixed-bucket family's planes.
    *
    * Small-corpus saturation: the per-query candidate ceiling
    * tables·probes·c ≈ 3k EXCEEDS N at the bench SFs (500/2k vectors),
    * so there the candidate set is ≈ the whole corpus and shuffle-growth
    * audits read ≈N — q_sim_ann_lshc_cands emits that saturation per
    * corpus as data, and LlmSpec measures the flat candidates/query at
    * unsaturated N (8k → 32k, ratio ≈ 1.0). */
  private val LSHC_CELL = 64
  private val LSHC_BASE = 100
  private val LSHC_T = 4
  /** lshc's own table count — the recall dial of the constant-occupancy
    * family. Constant-occupancy LSH pays the classic LSH trade: with
    * nbits = log₂(N/c), a fixed-similarity pair's per-table collision
    * probability is p^nbits = (N/c)^(log₂ p) — it DECAYS (slowly,
    * polynomially with a small exponent) as the corpus grows, so tables
    * is the dial that buys it back (cost linear in tables, recall
    * 1−(1−P)^tables). Measured curve at sf0.1 (RECALL.json): 4 tables /
    * c=32 → 0.72; 8 tables / c=64 → the shipped dial. The same decay is
    * why q_sim_ann_ivfc re-measures recall per SF (1.0 → 0.918 across
    * sf0.01→0.1 at constant NP). */
  private val LSHC_TABLES = 8
  /** Cells probed per query vector in multi-probe IVF (q_sim_ann_ivf_mp). */
  private val NPROBE = 3

  /** q_index_drift staleness threshold: a trained-k cell whose one-step
    * Lloyd residual (1 − cosine of frozen centroid vs current member
    * mean) exceeds this is flagged for retraining. 0.04 sits mid-range
    * on the near-uniform synthetic embeddings (sf0.001 residuals span
    * 0–0.085), so the report exercises both outcomes. */
  private val DRIFT_TAU = 0.04

  /** Denylist pattern for q_text_redact — word-boundary alternation, valid
    * under both Java regex (Spark) and RE2 (DuckDB) with identical
    * semantics for ASCII word chars. */
  private val REDACT_PAT = "\\b(customer|order|value)\\b"

  /** Hot-shingle document-frequency cap for the near-dup family (τ=0.8,
    * k=3): shingles appearing in more than this many documents are dropped
    * from the shingle universe BEFORE any pair join. A shingle shared by f
    * documents yields f·(f−1)/2 join rows, so one boilerplate header at
    * 100 TB (f ~ 10⁸) is a quadratic scale-killer; a df>50 shingle also
    * carries no near-dup signal at τ=0.8 (it matches everything). Trade-off,
    * documented: a cluster of >50 near-identical documents has ALL its
    * shingles capped and becomes invisible to the near family — which is
    * why exact dedup (q_dedup_exact, content-hash, cap-free) runs first in
    * the pipeline, and why the cap is a constant of the universe definition
    * (applied identically to q_dedup_near, q_dedup_minhash signatures AND
    * verification, and the oracle SQL — consistency keeps the LSH-recall
    * invariant in LlmSpec exact). */
  private val MAX_SHINGLE_DF = 50

  /** Semantic-dedup similarity threshold (q_dedup_semantic). Calibrated to
    * the synthetic embeddings, whose within-cell cosines top out ≈0.45 —
    * real deployments run 0.95+; the operator shape is threshold-agnostic. */
  private val SEM_TAU = 0.35

  // Broadcast policy: every O(#docs/#vectors)-growing derived table in
  // this family routes through Tables.maybeBroadcast (size-gated hint,
  // shuffled-join fallback — the round-3/4 `weak` marks); forced
  // broadcast() remains only on provably bounded tables (IVF centroids,
  // the 1-row corpus-count agg), with the bound documented at the call
  // site. PlanSpec asserts the shuffle-join fallback when gated off.

  /** Space-tokenization (documents.text is clean lowercase space-separated).
    * Shared with the Curation pack. */
  private[operators] def toks(c: Column): Column = split(c, " ")

  /** Distinct k-token shingles over an ALREADY-MATERIALIZED tokens column.
    *
    * The tokens MUST be hoisted into their own projection column first:
    * referencing `split(text)` inside the transform lambda re-splits the
    * whole text per element access (no common-subexpression elimination
    * across lambda scopes — measured 6.5s vs 1.0s for the sf0.1 corpus). */
  private[operators] def shingles(tk: Column, k: Int): Column = {
    val idx = sequence(lit(1), size(tk) - (k - 1))
    val mk = transform(idx, i =>
      concat_ws(" ", (0 until k).map(o => element_at(tk, i + o)): _*))
    when(size(tk) >= k, array_distinct(mk)).otherwise(array().cast(ArrayType(StringType)))
  }

  /** Memoized persisted intermediates — the shared [[Tables.memoized]]
    * store (one copy per dataset; Bench passes and sibling queries reuse
    * it; see that scaladoc for the eager-count race rationale). */
  private def cached(s: SparkSession, d: String, stage: String)(mk: => DataFrame): DataFrame =
    Tables.memoized(s, d, stage)(mk)

  /** ONE pinned narrow exchange that parallelizes an ANN query's whole
    * tail — the q_sim_ann_lshc shape (guide §2.5 "input skew"),
    * generalized: every probe/bucket/assignment artifact here reads back
    * as a single scan partition at fixture scale (one small parquet file
    * ≪ maxPartitionBytes; the in-memory memo then pins that layout), so
    * the multi-million-row candidate join + DISTINCT + cosine/ADC rerank
    * hanging BELOW it single-threads while 31 cores idle. Repartitioning
    * the narrow frame by the query id spreads the blowup: the broadcast
    * candidate join preserves the partitioning alias-aware, hash(qid)
    * satisfies the clustered distribution of both the (qid, nid)
    * DISTINCT (subset rule) and the TopK heaps, so the entire heavy tail
    * runs in-stage off this one ~MB exchange — the §8 discipline (shuffle
    * the lightweight proxy, never the expanded pairs). The partition
    * count is PINNED (user-specified counts are exempt from AQE
    * coalescing): AQE's size-based coalesce sees only the tiny probe
    * bytes, not the expansion below, and would fold the exchange back to
    * one partition (measured 3.1 → 5.7 s on lshc at sf0.1). The count
    * comes from the session's shuffle-partition conf — the deployment's
    * scale dial, never a local constant. */
  private def spread(df: DataFrame, key: String = "vec_id"): DataFrame =
    df.repartition(
      org.apache.spark.sql.graftx.Sizing.numShufflePartitions(df), col(key))

  /** Width of one MinHash signature slice in hex chars: 8 → each slice is
    * a 32-bit min statistic. [[MINHASH_K]]·[[MINHASH_SLICE]] must not
    * exceed 2 × 32 (two md5 digests feed the slices). */
  private val MINHASH_SLICE = 8
  private val MINHASH_SALT = "graft:"
  // two md5 digests feed the K slices; exceeding their 2×32 hex chars
  // would silently WRAP `i % slicesPerHash` in minhashSigAggs and
  // duplicate slices — a smaller effective hash family than the banding
  // math assumes, with no visible failure (review r9)
  require(MINHASH_K * MINHASH_SLICE <= 64,
    s"MINHASH_K=$MINHASH_K × MINHASH_SLICE=$MINHASH_SLICE exceeds the 2×32 hex chars two md5s provide")

  /** The K min-slice aggregate expressions of the few-permutation MinHash
    * signature (see q_dedup_minhash). Slices i ∈ [0,4) come from
    * md5(shingle), slices i ∈ [4,8) from the salted md5; each is
    * [[MINHASH_SLICE]] hex chars. Exposed for the large-doc
    * non-degeneracy test (LlmSpec). */
  private[graft] def minhashSigAggs: Seq[Column] =
    (0 until MINHASH_K).map { i =>
      val slicesPerHash = 32 / MINHASH_SLICE
      val h = if (i < slicesPerHash) md5(col("shingle"))
        else md5(concat(lit(MINHASH_SALT), col("shingle")))
      min(substring(h, MINHASH_SLICE * (i % slicesPerHash) + 1, MINHASH_SLICE))
        .as(s"sig$i")
    }

  /** Distinct k-shingle set with the [[MAX_SHINGLE_DF]] hot-shingle cap
    * applied: shingles whose document frequency exceeds `maxDf` are removed
    * via a left-anti join against the (tiny by construction) hot set. The
    * df agg is map-side combinable; the anti-join's build side holds ONLY
    * the capped shingles, so it stays broadcastable at any corpus size.
    * Public for the bounded-pairs fixture test (LlmSpec). */
  def cappedShingles(docs: DataFrame, k: Int, maxDf: Int): DataFrame = {
    val raw = rawShingles(docs, k)
    val hot = shingleDfs(raw).where(col("df") > maxDf).select("shingle")
    raw.join(hot, Seq("shingle"), "left_anti")
  }

  /** Exploded distinct (doc_id, shingle) rows, pre-cap. ONE definition
    * shared with q_shingle_cap_report so the observability query can
    * never drift from the universe the dedup family actually uses. */
  private def rawShingles(docs: DataFrame, k: Int): DataFrame = docs
    .withColumn("toks", toks(col("text")))
    .select(col("doc_id"), explode(shingles(col("toks"), k)).as("shingle"))

  /** Per-shingle document frequency — the cap's one df definition. */
  private def shingleDfs(raw: DataFrame): DataFrame =
    raw.groupBy("shingle").agg(count(lit(1)).as("df"))

  /** The corpus-wide hot-shingle set (df > [[MAX_SHINGLE_DF]] over the
    * FULL stored documents table — the same universe [[docShingles]]
    * caps on) as a persisted artifact: tiny by construction (only
    * shingles hotter than the cap), broadcastable at any corpus size.
    * [[ingestMinhashDedup]] anti-joins an arbitrary batch's raw shingles
    * against THIS set (unioned with the batch-local hot set, so
    * corpus-novel boilerplate is capped too), and batch signatures take
    * the cap the corpus signature artifact was built with —
    * re-ingesting stored rows reproduces q_dedup_minhash_delta exactly
    * (IngestSpec). The residual rebuild lag (the corpus artifact learns
    * a batch-novel hot shingle only at the next rebuild) is emitted as
    * data by q_shingle_cap_lag / [[ingestShingleCapLag]]. */
  private[graft] def hotShingleSet(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d, s"hot_shingles_k3df$MAX_SHINGLE_DF") {
      shingleDfs(rawShingles(t(s, d, "documents").repartition(col("doc_id")), k = 3))
        .where(col("df") > MAX_SHINGLE_DF).select("shingle")
    }

  /** (doc_id, shingle) exploded distinct capped 3-shingles, persisted: every
    * dedup query reads this set 2–3 times (signatures, intersection,
    * counts) — caching beats recomputing the split+transform+explode+
    * distinct chain. Tiny relative to the corpus (≈ tokens × 3 strings); at
    * 100 TB this is the one intermediate worth materializing (or
    * checkpointing) per run. */
  private def docShingles(s: SparkSession, d: String): DataFrame =
    cached(s, d, "shingles") {
      // repartition first: the testdata tables are single-row-group parquet
      // files, so the scan is ONE task — without the explicit exchange all
      // shingling+hashing below would run single-threaded. (At 100 TB the
      // scan has natural parallelism and this becomes a no-op tuning choice.)
      cappedShingles(t(s, d, "documents").repartition(col("doc_id")),
        k = 3, maxDf = MAX_SHINGLE_DF)
    }

  /** Per-doc distinct-shingle counts. */
  private def shingleCounts(ds: DataFrame): DataFrame =
    ds.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))

  /** Memoized pairwise shingle-intersection counts (doc_a < doc_b) off the
    * capped shingle self-join — the one expensive stage q_dedup_near and
    * q_dedup_containment share (they differ only in the closed-form score
    * applied to (|∩|, |A|, |B|)). Bounded by the df cap at
    * maxDf·(maxDf−1)/2 rows per shingle. */
  private def pairIntersections(s: SparkSession, d: String): DataFrame =
    cached(s, d, "pair_inter") {
      val ds = docShingles(s, d)
      ds.as("sa")
        .join(ds.as("sb"), col("sa.shingle") === col("sb.shingle") &&
          col("sa.doc_id") < col("sb.doc_id"))
        .groupBy(col("sa.doc_id").as("doc_a"), col("sb.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
    }

  /** Memoized per-doc 32-bit simhash signatures (doc_id, lang, simhash):
    * one exploded-token pass, map-side-combinable bit sums. Shared by
    * q_dedup_simhash (lang-blocked truth pairs) and
    * q_dedup_simhash_banded (the banded scale path). */
  private def simTable(s: SparkSession, d: String): DataFrame =
    cached(s, d, "simhash_sim") {
      val tok = t(s, d, "documents")
        .repartition(col("doc_id")) // single-row-group file → parallelize tokenize+hash
        .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("tok"))
        .withColumn("th", h60(col("tok")))
      val bitAggs = (0 until SIM_BITS).map(j =>
        sum(when(shiftright(col("th"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$j"))
      tok.groupBy("doc_id", "lang").agg(bitAggs.head, bitAggs.tail: _*)
        .withColumn("simhash",
          (0 until SIM_BITS).map(j =>
            when(col(s"s$j") >= 0, shiftleft(lit(1L), j)).otherwise(0L))
            .reduce(_ + _))
        .select("doc_id", "lang", "simhash")
    }

  /** Per-doc MinHash signature table — THE per-corpus dedup index a real
    * pipeline builds once and keeps. Disk-backed (stage name encodes k,
    * slice width, and the df cap so any retuning mints a new artifact);
    * the band self-join reads it from both sides within a session, and
    * the delta query filters the SAME artifact for its corpus side. */
  private def minhashSigs(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d,
      s"minhash_sigs_k${MINHASH_K}x${MINHASH_SLICE}df$MAX_SHINGLE_DF") {
      val aggs = minhashSigAggs
      docShingles(s, d).groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    }

  /** LSH band rows (doc_id, band, bucket) off a signature table: bands of
    * 2 adjacent slices, bucket = md5 of their concatenation — a stack
    * generator, zero joins/shuffles. */
  private def minhashBands(sigs: DataFrame): DataFrame = {
    val stackArgs = (0 until MINHASH_K / 2).map(j =>
      s"$j, md5(concat(sig${2 * j}, sig${2 * j + 1}))").mkString(", ")
    sigs.select(col("doc_id"),
      expr(s"stack(${MINHASH_K / 2}, $stackArgs)").as(Seq("band", "bucket")))
  }

  /** jac = |∩| / (|A|+|B|−|∩|) given per-pair intersections + per-doc counts. */
  private def jaccardFromInter(inter: DataFrame, cnt: DataFrame): DataFrame =
    inter
      .join(cnt.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(cnt.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("jac", r4(col("inter") / (col("na") + col("nb") - col("inter"))))

  /** Cosine similarity — native codegen expression (one fused loop, no
    * per-pair array allocation; see graft.functions.CosineSimilarityExpr). */
  private def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftx.VectorExprs.cosineSim(a, b)

  /** Deterministic hyperplane component for plane p, dim d (1-based):
    * v = (H(p:d) % 1000) / 500 - 1 ∈ [-1, 1), where H is the md5-based
    * 60-bit hash — bit-identical to the oracle's SQL formula (parity of
    * `conv(md5)` vs `('0x'||md5)::BIGINT` verified). Planes are a pure
    * function of (p, d), so they are computed driver-side and inlined as
    * literals: no generator joins, no shuffle — at scale these 8×64 doubles
    * ride along in the task closure like any broadcast variable. */
  private def planeValJvm(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.take(15), 16) % 1000).toDouble / 500.0 - 1.0
  }

  /** Sign-bit LSH bucket id per vector: one projection, zero joins.
    * The dot product is rounded to 4dp before the sign test on BOTH engines
    * (ADVICE r01): Spark folds the terms sequentially while DuckDB sums an
    * unordered GROUP BY, so an unrounded value within a few ulps of zero
    * could flip the bucket bit between engines. */
  private def lshBuckets(s: SparkSession, d: String): DataFrame =
    // disk-backed like the multi-table index: the single-bucket and
    // bit-flip-probe queries each read it from both join sides
    Tables.memoizedOnDisk(s, d, s"lsh_single_o$LSH_PLANES") {
      val bucket = (0 until LSH_PLANES).map { p =>
        val plane = typedlit((1 to 64).map(planeValJvm(p, _)))
        val dot = aggregate(zip_with(col("embedding"), plane, (x, v) => x * v),
          lit(0.0), (acc, x) => acc + x)
        when(r4(dot) > 0, lit(1L << p)).otherwise(0L)
      }.reduce(_ + _)
      t(s, d, "embeddings")
        .select(col("vec_id"), col("label"), bucket.as("bucket"))
    }

  /** One (vec_id, table, bucket) row per vector per LSH table: the
    * LSH_TABLES × LSH_TABLE_BITS hyperplanes are pure functions of the
    * global plane id (offset past the single-table query's planes), so —
    * like [[lshBuckets]] — bucket assignment is a single narrow
    * projection plus an explode: zero joins, zero shuffles. */
  private[graft] def lshMultiBuckets(s: SparkSession, d: String): DataFrame =
    // disk-backed: the candidate self-join reads BOTH sides of this narrow
    // (vec_id, tb, bucket) index — uncached, each side would recompute the
    // LSH_TABLES × LSH_TABLE_BITS hyperplane dot products. This small-int
    // table IS the persisted index artifact of the corpus: built once,
    // published atomically, reloaded from parquet by every later session
    // (stage name encodes the table geometry so retuning mints a new
    // artifact).
    Tables.memoizedOnDisk(s, d,
      s"lsh_multi_${LSH_TABLES}x${LSH_TABLE_BITS}o$LSH_PLANES") {
      lshMultiBucketsPlan(t(s, d, "embeddings"))
    }

  /** Bucket assignment for an arbitrary vector set — the hyperplanes are a
    * pure function of the global plane id, so the SAME projection buckets
    * the standing corpus (disk-backed above), a fresh ingest batch
    * (q_sim_ann_lsh_delta), and a streaming micro-batch
    * (Streams.annAgainstIndex) identically. `keep` carries payload
    * columns through the explode (the streaming path keeps the query
    * embedding — a stream cannot join back to itself to refetch it); the
    * index build keeps nothing so the persisted artifact stays narrow. */
  private[graft] def lshMultiBucketsPlan(e: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val tables = (0 until LSH_TABLES).map { tb =>
      val bucket = (0 until LSH_TABLE_BITS).map { j =>
        val plane = typedlit((1 to 64).map(planeValJvm(LSH_PLANES + tb * LSH_TABLE_BITS + j, _)))
        val dot = aggregate(zip_with(col("embedding"), plane, (x, v) => x * v),
          lit(0.0), (acc, x) => acc + x)
        when(r4(dot) > 0, lit(1L << j)).otherwise(0L)
      }.reduce(_ + _)
      struct(lit(tb).as("tb"), bucket.as("bucket"))
    }
    val kept = keep.map(col)
    e.select(col("vec_id") +: kept :+ explode(array(tables: _*)).as("tbk"): _*)
      .select(col("vec_id") +: kept :+ col("tbk.tb").as("tb") :+ col("tbk.bucket").as("bucket"): _*)
  }

  /** Per-session scalar memo for tiny artifact-derived dials (corpus
    * count, max cell size). The value itself lives in a 1-row persisted
    * parquet artifact (warm-store read = one footer-sized job); this map
    * makes every LATER plan construction in the session zero-job —
    * registered queries stay cheap on explain/plan-only paths (ADVICE
    * r14: eager gates in query builders). Keyed by (SESSION, dir, stage)
    * via [[SessionMemo]], matching the reader memo (ADVICE r15: a
    * dir-only key served a stale N/max-cell to any later session that
    * regenerated the corpus at the same path — silently freezing the
    * lshc nbits dial and the semantic skew gate). */
  private val scalarMemo = new graft.SessionMemo[java.lang.Long]
  private def memoizedScalar(s: SparkSession, d: String, stage: String)(mk: => Long): Long =
    scalarMemo.get(s, d, stage)(java.lang.Long.valueOf(mk)).longValue()

  /** Epoch-qualified stage/family key ([[graft.GeomEpoch.key]]):
    * identity at epoch 0 — every existing artifact path, overlay family
    * name and registered plan unchanged — `name__gE` after the Eth
    * [[graft.Ingest.retrain]]. */
  private def gk(d: String, name: String): String = GeomEpoch.key(d, name)

  /** GEOMETRY-TRAINING input for the vector index builders: the source
    * table at epoch 0 (the gen-0 build every registered query shares),
    * the PROMOTED corpus snapshot — base ∪ committed − deleted at
    * retrain time — at epoch ≥ 1 (retrain-on-the-merged-corpus). Only
    * [[graft.Ingest.retrain]] evaluates this at epoch ≥ 1: it builds
    * every epoch stage EAGERLY against the snapshot current at the
    * retrain, so no epoch artifact is ever lazily trained against a
    * LATER generation. */
  private def trainVecs(s: SparkSession, d: String): DataFrame =
    if (GeomEpoch.epoch(d) == 0) t(s, d, "embeddings") else corpusVecs(s, d)

  /** Persisted corpus vector count — the N every N-derived index dial
    * (constant-occupancy LSH bit count, batch-size gates) reads instead
    * of re-counting the corpus: built once as a 1-row artifact beside
    * the other index artifacts, then JVM-memoized per dir. At epoch ≥ 1
    * the dial N is the epoch's recorded STANDING count (the snapshot
    * the geometry retrained on — [[graft.GeomEpoch]]), not the frozen
    * gen-0 count. */
  private[graft] def embCount(s: SparkSession, d: String): Long =
    GeomEpoch.current(d) match {
      case Some(ep) => ep.embCount
      case None =>
        memoizedScalar(s, d, "emb_count") {
          Tables.memoizedOnDisk(s, d, "emb_count") {
            t(s, d, "embeddings").agg(count(lit(1)).as("n"))
          }.head().getLong(0)
        }
    }

  /** Persisted corpus document count — [[embCount]]'s shape for the doc
    * table, so [[ingestOverlayReport]]'s compaction dial reads a 1-row
    * artifact instead of running a corpus-table count per call (VERDICT
    * r17). */
  private[graft] def docCount(s: SparkSession, d: String): Long =
    memoizedScalar(s, d, "doc_count") {
      Tables.memoizedOnDisk(s, d, "doc_count") {
        t(s, d, "documents").agg(count(lit(1)).as("n"))
      }.head().getLong(0)
    }

  /** Constant-occupancy bit count: smallest b ≥ 1 with 2^b ≥ ⌈N/c⌉.
    * Integer-exact (no floating log2 — log2(2^k) can land at k±ulp and
    * flip the ceil between engines); the oracle mirrors it as
    * `min(j) WHERE (1 << j) >= K` over a 0..32 series. */
  private[graft] def lshcNbits(n: Long): Int = {
    val k = (n + LSHC_CELL - 1) / LSHC_CELL
    if (k <= 1L) 1 else math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(k - 1))
  }

  /** Constant-occupancy LSH probe rows for an arbitrary vector set: one
    * (vec_id, tb, bucket, own) row per table for the vector's OWN bucket
    * (own = true — these rows are the index side) plus its targeted
    * multiprobe flips (own = false): the [[LSHC_T]] planes with the
    * smallest |rounded dot| (ties by plane id — both engines rank the
    * identical r4 doubles) flipped singly, and the two smallest flipped
    * together. All hyperplanes are pure functions of the global plane id,
    * so the SAME projection buckets the standing corpus, an ingest batch,
    * and the oracle's SQL mirror identically. Dots are computed once in a
    * narrow pre-projection and shared by the sign test and the margin
    * ranking (the fold HOFs are interpreted — duplicating them doubles
    * execution cost). Zero joins, zero shuffles: nbits·tables dot
    * products and a T-element sort per vector, then an explode. */
  private[graft] def lshcProbesPlan(e: DataFrame, nbits: Int): DataFrame = {
    val t0 = math.min(LSHC_T, nbits)
    // r22: the r21 single-Generate form inlined bucket+rank+mask code for
    // ALL tables into one generate_doConsume method — at nbits ≥ 8 that
    // method overflows the JVM's 64 KB bytecode limit, janino fails, and
    // EVERY fresh-probe execution (the delta query, ingest facades,
    // retrain) re-attempted the doomed compile and fell back to
    // interpreted eval (observed: repeated CodeGenerator ERRORs + ~1.4 s
    // of non-stage wall per q_sim_ann_lshc_delta execution). Splitting
    // per table — explode the (tb, dots) pairs FIRST, then compute one
    // table's bucket/probe expressions over its 1/TABLES-sized dot array
    // — keeps each generated method small, so the whole path stays
    // whole-stage codegen. Identical (vec_id, tb, bucket, own) rows: the
    // dots are the same r4 doubles, per-table expressions unchanged.
    val dotCols = (0 until LSHC_TABLES).map { tb =>
      array((0 until nbits).map { j =>
        val plane = typedlit((1 to 64).map(planeValJvm(LSHC_BASE + tb * 32 + j, _)))
        r4(aggregate(zip_with(col("embedding"), plane, (x, v) => x * v),
          lit(0.0), (acc, x) => acc + x))
      }: _*).as(s"lds_$tb")
    }
    val withDots = e.select(col("vec_id") +: dotCols: _*)
    val perTbl = withDots.select(col("vec_id"),
      posexplode(array((0 until LSHC_TABLES).map(tb => col(s"lds_$tb")): _*))
        .as(Seq("tb", "dots")))
    val dots = (0 until nbits).map(j => element_at(col("dots"), j + 1))
    val bucket = dots.zipWithIndex.map { case (dj, j) =>
      when(dj > 0, lit(1L << j)).otherwise(lit(0L)) }.reduce(_ + _)
    val ranked = sort_array(array(dots.zipWithIndex.map { case (dj, j) =>
      struct(abs(dj).as("ad"), lit(j).as("j")) }: _*))
    val masks = (0 until t0).map { i =>
      call_function("shiftleft", lit(1L), element_at(ranked, i + 1).getField("j")) }
    def p(b: Column, own: Boolean) =
      struct(b.as("bucket"), lit(own).as("own"))
    val singles = masks.map(m => p(bucket.bitwiseXOR(m), own = false))
    val dbl = if (nbits >= 2)
      Seq(p(bucket.bitwiseXOR(masks(0).bitwiseOR(masks(1))), own = false))
    else Seq.empty
    perTbl
      .select(col("vec_id"), col("tb"),
        explode(array(p(bucket, own = true) +: (singles ++ dbl): _*)).as("pk"))
      .select(col("vec_id"), col("tb"),
        col("pk.bucket").as("bucket"), col("pk.own").as("own"))
  }

  /** The persisted constant-occupancy LSH index + probe artifact: own
    * rows (own = true) are the corpus bucket index; probe rows are each
    * vector's precomputed targeted flips. One artifact, one build scan —
    * the stage name carries (tables, nbits) so a corpus-count change
    * that re-dials nbits mints a new artifact instead of silently
    * reusing stale geometry. */
  private[graft] def lshcProbes(s: SparkSession, d: String): DataFrame = {
    val nbits = lshcNbits(embCount(s, d))
    Tables.memoizedOnDisk(s, d, gk(d, s"lshc_${LSHC_TABLES}x${nbits}c$LSHC_CELL")) {
      lshcProbesPlan(trainVecs(s, d), nbits)
    }
  }

  /** IVF coarse-quantizer training: centroid per label cell as
    * dimension-wise means via exact decimal sums — deterministic under
    * any partitioning. Disk-backed: the trained quantizer is the
    * smallest, most reusable index artifact (here 10×64 doubles). At
    * 100 TB it trains on a sample and broadcasts. */
  private def ivfCentroids(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d, "ivf_centroids_lbl") {
      val e = t(s, d, "embeddings")
      // dimension-wise means: posexplode → decimal-sum/count per (label, d)
      val comp = e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg((sum(col("x").cast(DEC)).cast(DoubleType) / count(lit(1))).as("m"))
      comp.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          f => f.getField("m")).as("centroid"))
        .select(col("label").as("cell"), col("centroid"))
    }

  /** Rounded cosine of every vector against every centroid — a narrow map
    * over the vector table (centroids force-broadcast: bounded by cell
    * count, not corpus size). In-JVM memoized (not disk-backed): a cold
    * session building BOTH the assignment and probe-list artifacts shares
    * one scoring pass; once the artifacts exist it is never evaluated. */
  private def ivfScored(s: SparkSession, d: String): DataFrame =
    cached(s, d, "ivf_scored_lbl") {
      val dotc = aggregate(zip_with(col("embedding"), col("centroid"), (x, v) => x * v),
        lit(0.0), (acc, x) => acc + x)
      val na = sqrt(aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x * x))
      val nb = sqrt(aggregate(col("centroid"), lit(0.0), (acc, x) => acc + x * x))
      t(s, d, "embeddings").crossJoin(broadcast(ivfCentroids(s, d)))
        .select(col("vec_id"), col("cell"), r4(dotc / (na * nb)).as("ccos"))
    }

  /** Rank-1 cell ASSIGNMENT index: (vec_id, cell), the narrow artifact the
    * single-probe query self-joins — vectors do NOT ride it (they join
    * back by id only for surviving candidate pairs, like the LSH path).
    * Split from the probe list (round-7 task 5): the k=1 heap shuffles
    * one row per vector and q_baseline_ann_ivf no longer pays the NPROBE
    * ranking it never used. */
  private def ivfAssign(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d, "ivf_assign_lbl") {
      org.apache.spark.sql.graftx.TopK.topKPerKey(ivfScored(s, d),
          keyNames = Seq("vec_id"), orderBy = Seq("ccos" -> false, "cell" -> true),
          k = 1, rankName = "arnk")
        .select(col("vec_id"), col("cell"))
    }

  /** Top-NPROBE PROBE-LIST index for the multi-probe query:
    * (vec_id, cell, arnk). Its arnk=1 rows coincide with [[ivfAssign]] by
    * construction (same total order), so the two artifacts are consistent. */
  private def ivfProbes(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d, s"ivf_probes_lbl_np$NPROBE") {
      org.apache.spark.sql.graftx.TopK.topKPerKey(ivfScored(s, d),
          keyNames = Seq("vec_id"), orderBy = Seq("ccos" -> false, "cell" -> true),
          k = NPROBE, rankName = "arnk")
        .select(col("vec_id"), col("cell"), col("arnk"))
    }

  /** TRAINED-k IVF quantizer (q_sim_ann_ivf_k): cell count is DATA-bound
    * — k = ⌈√N⌉ — not schema-bound like the 10-label quantizer above
    * (the missing dial of rounds 7–8). Init is a deterministic md5-bucket
    * sample: the k vectors with the smallest md5("ivfk:"||vec_id) become
    * seeds, cell id = the seed's rank in that md5 order. The seed set is
    * a total-order property of the DATA, so init is order-independent
    * under any partitioning, and one Lloyd refinement (assign-to-seed →
    * dimension-wise decimal-mean) turns seeds into trained centroids —
    * both steps engine-portable, mirrored CTE-for-CTE in the oracle.
    *
    * Scale: the artifact is ⌈√N⌉ × 64 doubles (N = 10⁹ → ~31.6k rows,
    * ~16 MB) — k ∝ √N is exactly the growth rate that keeps a forced
    * centroid broadcast safe at any corpus size, which is why it is the
    * standard IVF dial (cells shrink as √N while the probed fraction
    * √k/k = N^(-1/4) falls). The driver-side count() sizing k runs once,
    * inside the build-once training path — never in the per-query path. */
  private def ivfKCentroids(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d, gk(d, "ivfk_centroids_sqrtn_lloyd1")) {
      val e = trainVecs(s, d)
      val k = math.ceil(math.sqrt(e.count().toDouble)).toInt
      val seeds = e
        .select(col("vec_id"), col("embedding"),
          md5(concat(lit("ivfk:"), col("vec_id").cast(StringType))).as("mk"))
        .orderBy("mk").limit(k)
        // k rows total — the unpartitioned rank window is bounded by √N
        .select(col("embedding").as("seed"),
          row_number().over(org.apache.spark.sql.expressions.Window.orderBy("mk"))
            .as("cell"))
      val init = e.crossJoin(broadcast(seeds))
        .select(col("vec_id"), col("cell"),
          r4(cosine(col("embedding"), col("seed"))).as("scos"))
      val assign0 = org.apache.spark.sql.graftx.TopK.topKPerKey(init,
          keyNames = Seq("vec_id"), orderBy = Seq("scos" -> false, "cell" -> true),
          k = 1, rankName = "irnk")
        .select(col("vec_id"), col("cell"))
      val comp = e.join(assign0, "vec_id")
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg((sum(col("x").cast(DEC)).cast(DoubleType) / count(lit(1))).as("m"))
      comp.groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          f => f.getField("m")).as("centroid"))
    }

  /** Rounded cosine of every vector against every trained-k centroid —
    * same narrow-map shape (and cold-build memo) as [[ivfScored]],
    * quantizer swapped. */
  /** Cell count of the trained-k quantizer, JVM-memoized per (dir,
    * epoch): the delta queries derive their probe fan np = 2⌈√k⌉ from
    * it at PLAN CONSTRUCTION, and before this memo each construction
    * re-ran `centroids.count()` as a fresh Spark job — pure per-query
    * scheduling latency on a √N-row artifact whose count is fixed until
    * a retrain mints a new epoch key. */
  private def ivfKNumCells(s: SparkSession, d: String): Long =
    memoizedScalar(s, d, gk(d, "ivfk_ncells")) { ivfKCentroids(s, d).count() }

  private def ivfKScored(s: SparkSession, d: String): DataFrame =
    cached(s, d, gk(d, "ivfk_scored_sqrtn")) {
      val dotc = aggregate(zip_with(col("embedding"), col("centroid"), (x, v) => x * v),
        lit(0.0), (acc, x) => acc + x)
      val na = sqrt(aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x * x))
      val nb = sqrt(aggregate(col("centroid"), lit(0.0), (acc, x) => acc + x * x))
      trainVecs(s, d).crossJoin(broadcast(ivfKCentroids(s, d)))
        .select(col("vec_id"), col("cell"), r4(dotc / (na * nb)).as("ccos"))
    }

  /** Rank-1 assignment index over the trained-k quantizer. */
  private def ivfKAssign(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d, gk(d, "ivfk_assign_sqrtn")) {
      org.apache.spark.sql.graftx.TopK.topKPerKey(ivfKScored(s, d),
          keyNames = Seq("vec_id"), orderBy = Seq("ccos" -> false, "cell" -> true),
          k = 1, rankName = "arnk")
        .select(col("vec_id"), col("cell"))
    }

  /** Probe-list index over the trained-k quantizer: nprobe is data-bound
    * too, 2⌈√k⌉ cells per query (k = 23 → 10 probes; the probed corpus
    * fraction still decays as N^(-1/4)). The doubling is the round-10
    * recall dial — measured recall@3 vs exhaustive was 0.56 at ⌈√k⌉,
    * and FAISS practice is to trade linear candidate volume for recall
    * until the rerank dominates. */
  private def ivfKProbes(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d, gk(d, "ivfk_probes_2sqrtk")) {
      val n = trainVecs(s, d).count()
      val np = 2 * math.ceil(math.sqrt(math.ceil(math.sqrt(n.toDouble)))).toInt
      org.apache.spark.sql.graftx.TopK.topKPerKey(ivfKScored(s, d),
          keyNames = Seq("vec_id"), orderBy = Seq("ccos" -> false, "cell" -> true),
          k = np, rankName = "arnk")
        .select(col("vec_id"), col("cell"))
    }

  /** Top-2 DATABASE-side assignment for SEARCH candidate generation: a
    * database vector near a cell boundary is findable from either
    * adjoining cell, which closes the classic IVF blind spot (query and
    * its true neighbor quantized to different cells). Doubles the index
    * rows and the expected candidate volume — the recall/cost dial FAISS
    * exposes as dual-assignment replication. Rank-1 [[ivfKAssign]] stays
    * the source of truth for drift/dedup semantics (one owner cell per
    * vector). */
  private def ivfKAssign2(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d, gk(d, "ivfk_assign2_top2")) {
      org.apache.spark.sql.graftx.TopK.topKPerKey(ivfKScored(s, d),
          keyNames = Seq("vec_id"), orderBy = Seq("ccos" -> false, "cell" -> true),
          k = 2, rankName = "arnk")
        .select(col("vec_id"), col("cell"))
    }

  /** Rounded cosine of an arbitrary vector set against the frozen
    * trained-k centroids — the ingest-side scoring plan (manual dot/norm:
    * centroids are double arrays, embeddings float). The SAME expression
    * shape as [[ivfKScored]], so a fresh batch ranks cells identically to
    * the corpus-build pass. */
  private def ivfKScorePlan(e: DataFrame, cents: DataFrame): DataFrame = {
    val dotc = aggregate(zip_with(col("embedding"), col("centroid"), (x, v) => x * v),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(col("centroid"), lit(0.0), (acc, x) => acc + x * x))
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"), r4(dotc / (na * nb)).as("ccos"))
  }

  /** Top-`k` cells for an arbitrary vector set against the frozen
    * quantizer (k = 1 → rank-1 assignment; k = nprobe → probe list). */
  private def ivfKCellsFor(e: DataFrame, cents: DataFrame, k: Int): DataFrame =
    org.apache.spark.sql.graftx.TopK.topKPerKey(ivfKScorePlan(e, cents),
        keyNames = Seq("vec_id"), orderBy = Seq("ccos" -> false, "cell" -> true),
        k = k, rankName = "arnk")
      .select(col("vec_id"), col("cell"))

  /** Target cell SIZE for the semantic-dedup quantizer (members per
    * cell, not cell count). Semantic dedup compares all pairs WITHIN a
    * cell, so cell size — not cell count — is the quantity that must stay
    * constant as the corpus grows: k = ⌈N/c⌉ cells of expected size c
    * give O(N·c) total pair volume (linear in N), where the ⌈√N⌉ dial
    * the ANN family uses would give √N-sized cells and O(N^1.5) pairs —
    * fine for candidate generation, a scale-killer for pairwise dedup.
    * Production dials c to 1–4k (pair volume per cell stays a few
    * million, one task's work); the test corpus (500–2k vectors) uses 64
    * so the gated SFs exercise 8–32 real cells instead of degenerating
    * to k ≤ 2 ≈ all-pairs. */
  private val SEM_CELL = 64

  /** TWO-LEVEL constant-cell-size quantizer for semantic dedup — the
    * hierarchical (coarse→fine) formulation that keeps BOTH costs linear
    * at k_total ∝ N:
    *
    *  - k_total = ⌈N/c⌉ fine cells of expected size c bound the dedup
    *    pair join at O(N·c);
    *  - a FLAT assignment against k_total centroids would itself cost
    *    O(N·k_total) = O(N²/c) cosines — the same quadratic the pair
    *    join was cured of. The two-level scheme scores each vector
    *    against k1 = ⌈√k_total⌉ coarse centroids, then only against its
    *    own coarse cell's ⌈n_g/c⌉ sub-centroids: O(N·√k_total) total,
    *    the IMI/hierarchical-k-means shape production vector stores use.
    *
    * Both levels reuse the deterministic recipe ([[ivfKCentroids]]):
    * md5-ranked seeds (salts "semc:"/"semf:"), rank-1 init assignment,
    * one decimal-mean Lloyd step — coarse over the corpus, fine WITHIN
    * each coarse cell (seed rank and Lloyd partition both scoped by g).
    * The final cell id is g·1,000,000 + j, mirrored in the oracle. The
    * fine-centroid artifact is k_total rows — data-proportional, so it
    * rides joins size-gated ([[Tables.maybeBroadcast]]), keyed on g
    * (equi-join, never a cross join). */
  private def semCoarseCentroids(s: SparkSession, d: String,
      c: Int = SEM_CELL): DataFrame =
    Tables.memoizedOnDisk(s, d, gk(d, s"sem2_coarse_nc${c}_lloyd1")) {
      val e = trainVecs(s, d)
      val kTot = math.ceil(e.count().toDouble / c).toInt
      val k1 = math.ceil(math.sqrt(kTot.toDouble)).toInt
      val seeds = e
        .select(col("vec_id"), col("embedding"),
          md5(concat(lit("semc:"), col("vec_id").cast(StringType))).as("mk"))
        .orderBy("mk").limit(k1)
        // k1 = √(N/c) rows — the unpartitioned rank window is tiny
        .select(col("embedding").as("seed"),
          row_number().over(org.apache.spark.sql.expressions.Window.orderBy("mk"))
            .as("g"))
      val init = e.crossJoin(broadcast(seeds)) // √(N/c) rows: broadcast-safe
        .select(col("vec_id"), col("g"),
          r4(cosine(col("embedding"), col("seed"))).as("scos"))
      val assign0 = org.apache.spark.sql.graftx.TopK.topKPerKey(init,
          keyNames = Seq("vec_id"), orderBy = Seq("scos" -> false, "g" -> true),
          k = 1, rankName = "irnk")
        .select(col("vec_id"), col("g"))
      val comp = e.join(assign0, "vec_id")
        .select(col("g"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("g", "dim")
        .agg((sum(col("x").cast(DEC)).cast(DoubleType) / count(lit(1))).as("m"))
      comp.groupBy("g")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          f => f.getField("m")).as("centroid"))
    }

  /** Rounded cosine of a vector set against a (key, centroid) frame,
    * joined on `joinKeys` (empty → gated cross join): the one scoring
    * expression shape every sem-quantizer stage shares (manual dot/norm:
    * centroids are double arrays, embeddings float). */
  private def semScore(e: DataFrame, cents: DataFrame,
      joinKeys: Seq[String], out: String): DataFrame = {
    val dotc = aggregate(zip_with(col("embedding"), col("centroid"), (x, v) => x * v),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(col("centroid"), lit(0.0), (acc, x) => acc + x * x))
    val joined = if (joinKeys.isEmpty) e.join(maybeBroadcast(cents), lit(true))
      else e.join(maybeBroadcast(cents), joinKeys)
    joined.select((e.columns.filterNot(_ == "embedding").map(col) ++
      cents.columns.filter(c => !joinKeys.contains(c) && c != "centroid").map(col) :+
      r4(dotc / (na * nb)).as(out)).toIndexedSeq: _*)
  }

  /** Coarse (level-1) assignment of the whole corpus: (vec_id, g). */
  private def semCoarseAssign(s: SparkSession, d: String,
      c: Int = SEM_CELL): DataFrame =
    Tables.memoizedOnDisk(s, d, gk(d, s"sem2_coarse_assign_nc$c")) {
      val scored = semScore(trainVecs(s, d).select(col("vec_id"), col("embedding")),
        semCoarseCentroids(s, d, c), Seq.empty, "ccos")
      org.apache.spark.sql.graftx.TopK.topKPerKey(scored,
          keyNames = Seq("vec_id"), orderBy = Seq("ccos" -> false, "g" -> true),
          k = 1, rankName = "arnk")
        .select(col("vec_id"), col("g"))
    }

  /** Fine (level-2) centroids, trained WITHIN each coarse cell: seed rank
    * j is the md5 order within g, seed count ⌈n_g/c⌉ — exactly enough
    * sub-cells for that cell's membership to average size c. */
  private def semFineCentroids(s: SparkSession, d: String,
      c: Int = SEM_CELL): DataFrame =
    Tables.memoizedOnDisk(s, d, gk(d, s"sem2_fine_nc${c}_lloyd1")) {
      val wg = trainVecs(s, d).join(semCoarseAssign(s, d, c), "vec_id")
        .select(col("vec_id"), col("g"), col("embedding"))
      val byG = org.apache.spark.sql.expressions.Window.partitionBy("g")
      val seeds = wg
        .withColumn("mk", md5(concat(lit("semf:"), col("vec_id").cast(StringType))))
        .withColumn("j", row_number().over(byG.orderBy("mk")))
        .withColumn("ng", count(lit(1)).over(byG))
        // integer ceil-divide keeps both engines exact (no float ceil)
        .where(col("j") <= expr(s"(ng + ${c - 1}) div $c"))
        .select(col("g"), col("j"), col("embedding").as("seed"))
      val init = wg.join(maybeBroadcast(seeds), "g")
        .select(col("vec_id"), col("g"), col("j"),
          r4(cosine(col("embedding"), col("seed"))).as("scos"))
      val assign0 = org.apache.spark.sql.graftx.TopK.topKPerKey(init,
          keyNames = Seq("vec_id"), orderBy = Seq("scos" -> false, "j" -> true),
          k = 1, rankName = "irnk")
        .select(col("vec_id"), col("g"), col("j"))
      val comp = trainVecs(s, d).join(assign0, "vec_id")
        .select(col("g"), col("j"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("g", "j", "dim")
        .agg((sum(col("x").cast(DEC)).cast(DoubleType) / count(lit(1))).as("m"))
      comp.groupBy("g", "j")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          f => f.getField("m")).as("centroid"))
    }

  /** Assign an arbitrary vector set through BOTH levels of the frozen
    * quantizer: coarse rank-1, then fine rank-1 within that coarse cell
    * only (an equi-join on g — each vector meets ~⌈n_g/c⌉ = O(√k_total)
    * sub-centroids, never the full fine table). Shared by the corpus
    * assignment and the ingest delta, so a fresh batch ranks cells
    * identically to the corpus-build pass. */
  private def semCellsFor(s: SparkSession, d: String, eIn: DataFrame,
      c: Int = SEM_CELL): DataFrame = {
    val g1 = org.apache.spark.sql.graftx.TopK.topKPerKey(
        semScore(eIn.select(col("vec_id"), col("embedding")),
          semCoarseCentroids(s, d, c), Seq.empty, "ccos"),
        keyNames = Seq("vec_id"), orderBy = Seq("ccos" -> false, "g" -> true),
        k = 1, rankName = "arnk")
      .select(col("vec_id"), col("g"))
    val withG = eIn.select(col("vec_id"), col("embedding")).join(g1, "vec_id")
    val scored = semScore(withG, semFineCentroids(s, d, c), Seq("g"), "fcos")
    org.apache.spark.sql.graftx.TopK.topKPerKey(scored,
        keyNames = Seq("vec_id"), orderBy = Seq("fcos" -> false, "j" -> true),
        k = 1, rankName = "arnk")
      .select(col("vec_id"),
        (col("g").cast(LongType) * 1000000L + col("j")).as("cell"))
  }

  /** Rank-1 two-level assignment index over the corpus — the persisted
    * artifact q_dedup_semantic's within-cell pair join and the ingest
    * delta both probe. */
  /** Max cell size of the persisted rank-1 assignment — the semantic
    * skew gate's ONLY input, persisted as a 1-row artifact beside the
    * assignment index (q_dedup_semantic_cells emits the same histogram
    * in full as data) and JVM-memoized per dir so repeated plan
    * constructions in a session read no Spark at all. */
  private def semMaxCell(s: SparkSession, d: String): Long =
    memoizedScalar(s, d, gk(d, s"sem2_cellmax_nc$SEM_CELL")) {
      Tables.memoizedOnDisk(s, d, gk(d, s"sem2_cellmax_nc$SEM_CELL")) {
        semAssign(s, d).groupBy("cell").agg(count(lit(1)).as("n"))
          .agg(max(col("n")).as("max_n"))
      }.head().getLong(0)
    }

  private def semAssign(s: SparkSession, d: String, c: Int = SEM_CELL): DataFrame =
    Tables.memoizedOnDisk(s, d, gk(d, s"sem2_assign_nc$c")) {
      semCellsFor(s, d, trainVecs(s, d), c)
    }

  /** One pass of the oversize guard that q_dedup_semantic_cells flags:
    * every cell whose membership exceeds 4·c is re-quantized INTERNALLY —
    * its own members seed k_sub = ⌈n/c⌉ sub-centroids (md5-ranked, salt
    * "sems:", the [[semFineCentroids]] recipe one level deeper: rank-1
    * init + one decimal-mean Lloyd step), and members reassign to
    * sub-cell id cell·1000 + q (≤999 sub-cells per pass; apply
    * recursively in the pathological case of a still-oversized
    * sub-cell). Cells within bound pass through UNTOUCHED — on corpora
    * with balanced cells (every measured SF; the histogram query emits
    * the evidence) this is the identity — while under skew it restores
    * the O(N·c) pair bound instead of eating the quadratic blowup
    * inside one giant cell. Pure function of (vectors, assignment): the
    * spec drives it with a deliberately skewed synthetic corpus; the
    * production path persists the split assignment as the artifact.
    * Geometry-degenerate giant cells (mass near-duplication — every
    * member the same point, so no quantizer can separate them) are
    * [[semCapVerdicts]]'s job instead: splitting those would LOSE true
    * τ-pairs. */
  def semSplitOversized(vecs: DataFrame, assign: DataFrame, c: Int): DataFrame = {
    val byCell = org.apache.spark.sql.expressions.Window.partitionBy("cell")
    // Cell sizes come off the NARROW assignment alone (two int columns),
    // never a window over the embedding payload: the oversized-cell set
    // is ≤ k rows and broadcasts, so within-bound members pass through
    // with a map-side anti-join and the embeddings join only the
    // oversized minority (on balanced corpora: nothing at all).
    val bigCells = assign.groupBy("cell").agg(count(lit(1)).as("n"))
      .where(col("n") > 4 * c)
    val ok = assign.select(col("vec_id"), col("cell"))
      .join(maybeBroadcast(bigCells.select("cell")), Seq("cell"), "left_anti")
      .select(col("vec_id"), col("cell"))
    val big = assign.select(col("vec_id"), col("cell"))
      .join(maybeBroadcast(bigCells), "cell")
      .join(vecs.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"), col("n"))
    val seeds = big
      .withColumn("mk", md5(concat(lit("sems:"), col("vec_id").cast(StringType))))
      .withColumn("q", row_number().over(byCell.orderBy("mk")))
      .where(col("q") <= expr(s"(n + ${c - 1}) div $c"))
      .select(col("cell"), col("q"), col("embedding").as("seed"))
    val init = big.select(col("vec_id"), col("cell"), col("embedding"))
      .join(maybeBroadcast(seeds), "cell")
      .select(col("vec_id"), col("cell"), col("q"),
        r4(cosine(col("embedding"), col("seed"))).as("scos"))
    val assign0 = org.apache.spark.sql.graftx.TopK.topKPerKey(init,
        keyNames = Seq("vec_id"), orderBy = Seq("scos" -> false, "q" -> true),
        k = 1, rankName = "irnk")
      .select(col("vec_id"), col("q"))
    val comp = big.select(col("vec_id"), col("cell"), col("embedding"))
      .join(assign0, "vec_id")
      .select(col("cell"), col("q"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("cell", "q", "dim")
      .agg((sum(col("x").cast(DEC)).cast(DoubleType) / count(lit(1))).as("m"))
    val cents = comp.groupBy("cell", "q")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        f => f.getField("m")).as("centroid"))
    val scored = semScore(big.select(col("vec_id"), col("cell"), col("embedding")),
      cents, Seq("cell"), "scos")
    val split = org.apache.spark.sql.graftx.TopK.topKPerKey(scored,
        keyNames = Seq("vec_id"), orderBy = Seq("scos" -> false, "q" -> true),
        k = 1, rankName = "frnk")
      .select(col("vec_id"), (col("cell") * 1000L + col("q")).as("cell"))
    ok.unionByName(split)
  }

  /** Linear fast-drop for geometry-degenerate giant cells — the
    * duplicate-heavy skew [[semSplitOversized]] cannot (and must not)
    * split: when a cell is huge because its members are all
    * near-identical, pairwise comparison is O(n²) in exactly the cell
    * where the answer is obvious. Anchor on the cell's mean instead:
    * every member whose cosine to the centroid clears
    * cap = cos(arccos(τ)/2) is PROVABLY within τ of every other such
    * member (angles: ∠(a,b) ≤ ∠(a,m) + ∠(m,b) ≤ 2·(arccos(τ)/2)), so
    * all but the min-id of the cap group drop with ZERO pair joins —
    * O(n) per cell. Sound, not complete: members below the cap keep
    * their pairwise path (the normal within-cell join, now over a
    * bounded remainder). Returns (vec_id, cell, dropped) for the cap
    * groups' members; the spec proves soundness (every drop has a
    * τ-witness) on an exact-duplicate fixture. */
  def semCapVerdicts(vecs: DataFrame, assign: DataFrame, tau: Double): DataFrame = {
    val byCell = org.apache.spark.sql.expressions.Window.partitionBy("cell")
    // +1e-4 absorbs semScore's 4dp rounding: a true cosine just under the
    // cap can round up by ≤5e-5, which would void the triangle bound
    val cap = math.cos(math.acos(tau) / 2.0) + 1e-4
    val wc = assign.select(col("vec_id"), col("cell"))
      .join(vecs.select(col("vec_id"), col("embedding")), "vec_id")
    val comp = wc
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg((sum(col("x").cast(DEC)).cast(DoubleType) / count(lit(1))).as("m"))
    val cents = comp.groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        f => f.getField("m")).as("centroid"))
    semScore(wc, cents, Seq("cell"), "ccos")
      .where(col("ccos") >= cap)
      .withColumn("keeper", min(col("vec_id")).over(byCell))
      .select(col("vec_id"), col("cell"),
        (col("vec_id") =!= col("keeper")).as("dropped"))
  }

  /** Full-corpus semantic-dedup verdicts with the oversize guard ON THE
    * PATH (VERDICT r11 task 5): the within-cell pair join consumes the
    * guard's split assignment, and the fast-drop verdicts from
    * still-oversized degenerate cells are unioned into the output
    * WITHOUT entering the pair join. On corpora whose cells all sit
    * within the 4·c bound (every measured SF — q_dedup_semantic_cells
    * emits the histogram as data) the guard is the IDENTITY: no cell
    * splits, zero fast verdicts, value-identical output to the unguarded
    * plan — which is why the DuckDB oracle, which mirrors the unguarded
    * plan, stays hash-green — and since r14 that identity is taken
    * LITERALLY: the persisted max-cell-size artifact ([[semMaxCell]], a
    * 1-row read, JVM-memoized — never a per-invocation job) detects skew
    * first, and the balanced case runs the
    * unguarded broadcast plan verbatim at zero guard cost. Under
    * planted skew (LlmSpec drives a giant near-duplicate cell through
    * the REGISTERED query) the quadratic
    * core resolves in O(n) cap verdicts instead of n² pair rows. Sound
    * but not complete under skew: every guard drop carries a τ-witness
    * (the cap triangle bound), while a below-cap vector whose only
    * τ-witnesses were cap-dropped members is kept — the documented
    * guard trade. */
  def semanticDedupGuarded(s: SparkSession, d: String): DataFrame = {
    val assign = semAssign(s, d)
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    // Skew gate (VERDICT r13 task 1, r14 task 3): the branch dial is the
    // max cell size of the persisted rank-1 assignment — read from a
    // 1-row artifact built beside the assignment itself and JVM-memoized
    // per dir, so on the warm store plan construction launches ZERO
    // Spark jobs (the r14 wiring ran an eager groupBy().isEmpty on every
    // invocation, including explain/plan-only paths). The branch is
    // frozen at construction time like every other artifact-derived dial
    // (memoizedOnDisk corpora are immutable per index build — a corpus
    // swap under the same dir mints stale artifacts across the board,
    // not just here). On every balanced corpus the guard is the proven
    // identity, so when no cell exceeds 4·c we take the unguarded
    // broadcast plan verbatim at zero guard cost; split/cap stages build
    // only when an oversized cell actually exists.
    val anyOversized = semMaxCell(s, d) > 4L * SEM_CELL
    if (!anyOversized) {
      val withCell = e
        .join(maybeBroadcast(assign.select(col("vec_id"), col("cell"))), "vec_id")
        .select(col("vec_id"), col("cell"), col("embedding"))
      val dup = withCell.as("a").join(maybeBroadcast(withCell.as("b")),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .where(r4(cosine(col("a.embedding"), col("b.embedding"))) >= SEM_TAU)
        .select(col("b.vec_id").as("vec_id")).distinct()
      withCell
        .join(maybeBroadcast(dup.withColumn("hit", lit(true))), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("hit"), lit(false)).as("dropped"))
    } else {
      val (a1, fast) = semOversizeGuard(e, assign, SEM_CELL, SEM_TAU)
      val fdrop = fast.where(col("dropped"))
        .select(col("vec_id"), lit(true).as("fhit"))
      val withCell = a1.join(e, "vec_id")
        .select(col("vec_id"), col("cell"), col("embedding"))
      // cap-dropped members are excluded from BOTH sides of the pair join —
      // that removal is what bounds the degenerate cell at O(n)
      val joinSide = withCell
        .join(maybeBroadcast(fdrop), Seq("vec_id"), "left_anti")
      val dup = joinSide.as("a").join(maybeBroadcast(joinSide.as("b")),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .where(r4(cosine(col("a.embedding"), col("b.embedding"))) >= SEM_TAU)
        .select(col("b.vec_id").as("vec_id")).distinct()
      withCell
        .join(maybeBroadcast(dup.withColumn("hit", lit(true))), Seq("vec_id"), "left")
        .join(maybeBroadcast(fdrop), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          (coalesce(col("hit"), lit(false)) ||
            coalesce(col("fhit"), lit(false))).as("dropped"))
    }
  }

  /** The full oversize-guard recipe, composed: one geometric split pass,
    * then the cap fast-drop on any cell STILL over bound. The two
    * failure modes partition cleanly — a giant cell is either diverse
    * (the sub-quantizer separates it; [[semSplitOversized]]) or
    * duplicate-degenerate (no quantizer can; [[semCapVerdicts]] drops
    * all but one of the near-identical mass in O(n)) — so after this,
    * every cell is either ≤4·c or has its quadratic core already
    * resolved by cap verdicts, and the within-cell pair join runs on
    * bounded cells plus bounded cap remainders. Returns (split
    * assignment, fast-drop verdicts for still-oversized cells). */
  def semOversizeGuard(vecs: DataFrame, assign: DataFrame, c: Int,
      tau: Double): (DataFrame, DataFrame) = {
    val a1 = semSplitOversized(vecs, assign, c)
    val still = a1.groupBy("cell").agg(count(lit(1)).as("n"))
      .where(col("n") > 4 * c).select("cell")
    val fast = semCapVerdicts(vecs, a1.join(maybeBroadcast(still), "cell"), tau)
    (a1, fast)
  }

  /** Corpus side of the ingest-delta probe: the persisted rank-1
    * assignment joined back to its vectors, optionally filtered (the
    * delta excludes the batch's own ids — the standing corpus is the
    * keeper set by definition). */
  def semanticCorpus(s: SparkSession, d: String, keep: Column): DataFrame =
    t(s, d, "embeddings")
      .join(maybeBroadcast(semAssign(s, d).where(keep)), "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"))

  /** Batch core of semantic-dedup ingest: verdicts for an ARBITRARY
    * vector batch against the frozen two-level quantizer and a corpus
    * assignment index. Each batch vector takes its cell fresh
    * ([[semCellsFor]] — O(batch·√k_total) centroid scores) and is
    * dropped iff ANY corpus cell-mate clears [[SEM_TAU]] (corpus wins;
    * no id ordering). O(batch·c) cell-mate comparisons per call,
    * independent of corpus size. Shared by q_dedup_semantic_delta and
    * the streaming face
    * [[graft.streaming.Streams.semanticDedupAgainstIndex]] — identical
    * verdicts however ingest rows are split into micro-batches, because
    * nothing here depends on batch composition (StreamingSpec proves
    * the split invariance). */
  def semanticVerdicts(s: SparkSession, d: String, batchVecs: DataFrame,
      corpus: DataFrame): DataFrame = {
    val batch = semCellsFor(s, d, batchVecs)
      .join(batchVecs.select(col("vec_id"), col("embedding")), "vec_id")
    val dup = batch.as("a").join(maybeBroadcast(corpus.as("b")),
        col("a.cell") === col("b.cell"))
      .where(r4(cosine(col("a.embedding"), col("b.embedding"))) >= SEM_TAU)
      .select(col("a.vec_id").as("vec_id")).distinct()
    batch
      .join(maybeBroadcast(dup.withColumn("hit", lit(true))), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("hit"), lit(false)).as("dropped"))
  }

  /** Top-2 fine-cell assignment of the corpus (search face): rank-1 is
    * the OWNER cell (the keeper-bookkeeping artifact above), rank-2 adds
    * the runner-up fine cell within the same coarse group — the same
    * top-2-assignment dial that closed the ANN cell-boundary blind spot
    * in round 10 (RECALL ivf_k 0.56 → 0.94), here aimed at the measured
    * q_dedup_semantic_recall gap (τ-pairs straddling a cell boundary are
    * invisible to the rank-1 pair join). ≤ 2 rows per vector, so the
    * within-cell pair volume stays O(N·c) with a ≤4× constant. */
  private def semAssign2(s: SparkSession, d: String, c: Int = SEM_CELL): DataFrame =
    Tables.memoizedOnDisk(s, d, gk(d, s"sem2_assign_top2_nc$c")) {
      semAssign2For(s, d, trainVecs(s, d), c)
    }

  /** Top-2 fine-cell assignment of an ARBITRARY vector set against the
    * frozen two-level quantizer — the [[semAssign2]] artifact body
    * factored over its input (the [[semCellsFor]] pattern), so a commit
    * batch ([[commitVecFamilies]]) ranks cells identically to the
    * corpus-build pass. */
  private def semAssign2For(s: SparkSession, d: String, e: DataFrame,
      c: Int = SEM_CELL): DataFrame = {
    val g1 = org.apache.spark.sql.graftx.TopK.topKPerKey(
        semScore(e.select(col("vec_id"), col("embedding")),
          semCoarseCentroids(s, d, c), Seq.empty, "ccos"),
        keyNames = Seq("vec_id"), orderBy = Seq("ccos" -> false, "g" -> true),
        k = 1, rankName = "arnk")
      .select(col("vec_id"), col("g"))
    val withG = e.select(col("vec_id"), col("embedding")).join(g1, "vec_id")
    val scored = semScore(withG, semFineCentroids(s, d, c), Seq("g"), "fcos")
    org.apache.spark.sql.graftx.TopK.topKPerKey(scored,
        keyNames = Seq("vec_id"), orderBy = Seq("fcos" -> false, "j" -> true),
        k = 2, rankName = "arnk")
      .select(col("vec_id"),
        (col("g").cast(LongType) * 1000000L + col("j")).as("cell"),
        col("arnk"))
  }

  /** Fixed probe count of the constant-cell ANN ([[ivfcProbes]]) — the
    * N-INDEPENDENT dial that buys recall at NP·c candidate rows per
    * query. Measured dial curve at sf0.1 (vs exhaustive, RECALL.json):
    * NP=4/2 groups 0.45 → 8/3 0.54→0.65 → 12/4 0.79 → 16/5 0.886 →
    * 20/5 MEASURED 0.9183 (r14, RECALL_sf0.1_r14.json — the lift that
    * clears the 0.9 bar the rest of the production tier meets; the dial
    * is N-independent so it costs +25% candidate rows at ANY corpus
    * size, no class change).
    * On this deliberately structure-free synthetic corpus recall tracks
    * probed mass (~2.5–4× concentration above it); clustered real-world
    * embeddings concentrate far harder, which is what lets production
    * IVF run NP ≪ k. */
  private val IVFC_NP = 20

  /** Coarse fan of the constant-cell probe list: each query expands its
    * top-[[IVFC_G]] coarse groups before ranking fine cells — the same
    * boundary-closing dial as top-2 assignment, one level up. Constant,
    * N-independent. */
  private val IVFC_G = 5

  /** Probe list of the constant-cell ANN: each query ranks the fine
    * cells of its TOP-2 coarse groups (closing the coarse boundary the
    * way top-2 assignment closes the fine one) and keeps the overall
    * top-[[IVFC_NP]] by fine-centroid cosine. Per query: k1 = √(N/c)
    * coarse scores + ~2·√k_total fine scores scoped by the g equi-join,
    * then NP·c candidate rows — NP and c both constants, so total
    * candidate volume is O(N·NP·c), LINEAR in N (the SCALING_r11
    * follow-up: the √N-dial family measures N^1.75 in shuffle bytes;
    * this is the same-recipe variant whose dials do not grow with N). */
  /** Probe list for an ARBITRARY vector set against the frozen two-level
    * quantizer — the scoring chain [[ivfcProbes]] runs corpus-wide and
    * the ingest delta runs batch-only (identical expressions, so batch
    * probes ≡ the corpus probe list restricted to batch ids). */
  private def ivfcProbesFor(s: SparkSession, d: String, eIn: DataFrame): DataFrame = {
    val e = eIn.select(col("vec_id"), col("embedding"))
    val g2 = org.apache.spark.sql.graftx.TopK.topKPerKey(
        semScore(e, semCoarseCentroids(s, d), Seq.empty, "ccos"),
        keyNames = Seq("vec_id"), orderBy = Seq("ccos" -> false, "g" -> true),
        k = IVFC_G, rankName = "grnk")
      .select(col("vec_id"), col("g"))
    val scored = semScore(e.join(g2, "vec_id"), semFineCentroids(s, d),
      Seq("g"), "fcos")
    org.apache.spark.sql.graftx.TopK.topKPerKey(scored,
        keyNames = Seq("vec_id"),
        orderBy = Seq("fcos" -> false, "g" -> true, "j" -> true),
        k = IVFC_NP, rankName = "prnk")
      .select(col("vec_id"),
        (col("g").cast(LongType) * 1000000L + col("j")).as("cell"))
  }

  private def ivfcProbes(s: SparkSession, d: String): DataFrame =
    cached(s, d, gk(d, s"ivfc_probes_np$IVFC_NP")) {
      ivfcProbesFor(s, d, trainVecs(s, d))
    }

  /** Product-quantization geometry: [[PQ_M]] subspaces of [[PQ_SUBDIM]]
    * dims, [[PQ_K]] codes per subspace — a vector compresses to 8 nibble
    * codes (4 bytes vs 256), and approximate distances are sums of
    * per-subspace code distances (ADC). */
  private val PQ_M = 8
  private val PQ_SUBDIM = 8
  private val PQ_K = 16
  /** Exact-rerank shortlist per query: ADC ranks candidates cheaply, then
    * the top [[PQ_RERANK]] touch full-precision vectors. 10 → 100 in
    * round 10: ADC's nibble-coarse distances misrank true top-3 neighbors
    * deep into the candidate list often enough to cap recall (RECALL.json
    * r9: ivfpq 0.31 vs ivf_k 0.56 on the SAME candidates; depth 50 still
    * measured only 0.69 — the gap was ADC ordering, not candidates).
    * Rerank cost stays O(PQ_RERANK·dim) per query — bounded, and tiny
    * against the candidate-generation volume at any corpus size.
    * 100 → 200 in round 11 paired with the iterated-Lloyd codebooks:
    * measured recall@3 vs exhaustive was 0.84 (lloyd1/rerank100) → 0.87
    * (lloyd4/rerank100); the candidate-set ceiling (ivf_k on identical
    * probes, full-precision throughout) is 0.94. 200 → 800 in round 14,
    * MEASURED at sf0.1 (RECALL_sf0.1_r14.json curve): ivfc_pq 0.789
    * (200) → 0.879 (400) → 0.916 (800) ≈ its 0.918 candidate ceiling
    * (ivfc full-precision on the same probes); ivfpq 0.800 → 0.876 →
    * 0.894 ≈ its 0.894 ivf_k ceiling. On this deliberately
    * structure-free corpus ADC ordering is noisy enough that the knee
    * sits near the candidate ceiling; clustered real-world embeddings
    * saturate the curve far earlier, so 800 is the conservative
    * bench-corpus setting of an N-INDEPENDENT dial (cost unchanged in
    * class: O(PQ_RERANK·dim) per query). */
  private val PQ_RERANK = 800
  require(PQ_M * PQ_SUBDIM == 64, s"PQ geometry must tile the 64-dim embeddings")

  /** (vec_id, m, sub) — the M 8-dim subvectors of each embedding, doubles.
    * A narrow projection (scan-side explode, zero joins). */
  private def pqSubvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(array((0 until PQ_M).map(m =>
        transform(slice(col("embedding"), m * PQ_SUBDIM + 1, PQ_SUBDIM),
          x => x.cast(DoubleType))): _*))
      .as(Seq("m", "sub")))

  /** Rounded squared L2 between two equal-length double arrays. */
  private def sqDist(a: Column, b: Column): Column =
    r4(aggregate(zip_with(a, b, (x, v) => (x - v) * (x - v)),
      lit(0.0), (acc, x) => acc + x))

  /** Lloyd refinement iterations for the PQ codebooks. r10 trained ONE
    * step and measured ivfpq recall@3 = 0.84 vs 0.94 for the
    * full-precision ivf_k path on the same candidates — the residual gap
    * is ADC misranking from coarse codebooks, so the dial that moves it
    * is codebook quality, not candidate volume. Each iteration is one
    * assign (N·M·K rounded L2s) + one decimal-mean recompute — training
    * cost only, amortized across every query by the persisted artifact;
    * the iteration count is part of the memo stage name so retuning
    * mints a new artifact. */
  private val PQ_LLOYD = 4

  /** PQ codebook training (disk-backed): PQ_K seed vectors by md5 rank
    * (the same deterministic md5-bucket sample discipline as the
    * trained-k IVF), then [[PQ_LLOYD]] Lloyd steps per subspace
    * independently — assignment by rounded squared L2, refined centroid
    * = dimension-wise decimal mean; a code whose cluster empties drops
    * out of the next codebook (both engines compute this identically).
    * The artifact is M×K×SUBDIM doubles (8×16×8 here) — constant-size,
    * broadcast-safe at any corpus scale. */
  private def pqCodebooks(s: SparkSession, d: String): DataFrame = {
    val cb = pqCodebooksArtifact(s, d)
    // Density invariant (ADVICE r21): [[pqDtableWidePlan]] indexes the wide
    // ADC row POSITIONALLY (subspace m's code c at slot m·K+c), which
    // requires every subspace codebook dense with exactly PQ_K codes 1..K.
    // A Lloyd cluster CAN empty (duplicate seed vectors on a dedup-heavy
    // corpus empty a cluster via the c-ASC tie-break); a gap would silently
    // shift every later slot and corrupt ADC ranking on ungated serving
    // paths. Fail fast per epoch instead — one JVM-memoized count of the
    // ~M·K-row parquet artifact per (session, dir, epoch).
    val nCodes = memoizedScalar(s, d, gk(d, "pq_cb_density")) { cb.count() }
    require(nCodes == PQ_M.toLong * PQ_K,
      s"PQ codebooks not dense: $nCodes (m,c) rows, expected ${PQ_M * PQ_K} — " +
        "a Lloyd cluster emptied; positional ADC slots would shift")
    cb
  }

  private def pqCodebooksArtifact(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d, gk(d, s"pq_codebooks_m${PQ_M}k${PQ_K}_lloyd$PQ_LLOYD")) {
      val e = trainVecs(s, d)
      val seeds = e
        .select(col("vec_id"), col("embedding"),
          md5(concat(lit("pq:"), col("vec_id").cast(StringType))).as("mk"))
        .orderBy("mk").limit(PQ_K)
        .select(col("embedding").as("seed"),
          row_number().over(org.apache.spark.sql.expressions.Window.orderBy("mk"))
            .as("c"))
      val subseeds = seeds.select(col("c"), posexplode(array((0 until PQ_M).map(m =>
          transform(slice(col("seed"), m * PQ_SUBDIM + 1, PQ_SUBDIM),
            x => x.cast(DoubleType))): _*))
        .as(Seq("m", "scent")))
      val eSub = pqSubvectors(e)
      val cb0 = subseeds.select(col("m"), col("c"), col("scent").as("centroid"))
      (1 to PQ_LLOYD).foldLeft(cb0) { (cb, _) =>
        val sd = eSub.join(broadcast(cb), "m")
          .select(col("vec_id"), col("m"), col("c"),
            sqDist(col("sub"), col("centroid")).as("sd"))
        val assign = org.apache.spark.sql.graftx.TopK.topKPerKey(sd,
            keyNames = Seq("vec_id", "m"), orderBy = Seq("sd" -> true, "c" -> true),
            k = 1, rankName = "r0")
          .select("vec_id", "m", "c")
        eSub.join(assign, Seq("vec_id", "m"))
          .select(col("m"), col("c"), posexplode(col("sub")).as(Seq("i", "x")))
          .groupBy("m", "c", "i")
          .agg((sum(col("x").cast(DEC)).cast(DoubleType) / count(lit(1))).as("v"))
          .groupBy("m", "c")
          .agg(transform(array_sort(collect_list(struct(col("i"), col("v")))),
            f => f.getField("v")).as("centroid"))
      }
    }

  /** PQ code index (disk-backed): (vec_id, m, code) — argmin over the
    * refined codebooks, the 4-byte-per-vector compressed corpus. */
  private def pqCodes(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d, gk(d, s"pq_codes_m${PQ_M}k${PQ_K}_lloyd$PQ_LLOYD")) {
      val cb = pqCodebooks(s, d)
      val sd = pqSubvectors(trainVecs(s, d)).join(broadcast(cb), "m")
        .select(col("vec_id"), col("m"), col("c"), sqDist(col("sub"), col("centroid")).as("sd"))
      org.apache.spark.sql.graftx.TopK.topKPerKey(sd,
          keyNames = Seq("vec_id", "m"), orderBy = Seq("sd" -> true, "c" -> true),
          k = 1, rankName = "r0")
        .select(col("vec_id"), col("m"), col("c").as("code"))
    }

  /** Codes pivoted WIDE — one row per corpus vector with its M nibble
    * columns — so the ADC stage never multiplies candidate rows. */
  private def pqCodesWide(s: SparkSession, d: String): DataFrame =
    cached(s, d, gk(d, "pq_codes_wide")) {
      pqCodes(s, d).groupBy(col("vec_id").as("nid"))
        .pivot("m", 0 until PQ_M)
        .agg(first(col("code")))
        .select(col("nid") +: (0 until PQ_M).map(m => col(s"$m").as(s"c_$m")): _*)
    }

  /** ADC distance table for a query set: one scalar per (query vector,
    * subspace, code) — FAISS's per-query lookup table, relationally.
    * M×K rows per query vector; query-set-bounded, so broadcastable in
    * any serving/ingest regime (size-gated for the self-benchmark). */
  private def pqDtablePlan(e: DataFrame, cb: DataFrame): DataFrame =
    pqSubvectors(e)
      .select(col("vec_id").as("qid"), col("m"), col("sub"))
      .join(broadcast(cb), "m")
      .select(col("qid"), col("m"), col("code"), sqDist(col("sub"), col("centroid")).as("sd"))

  /** Unsafe-row estimate of one WIDE ADC distance-table row: qid + the
    * M×K scalars as one double array (header + 8-byte slots + array
    * payload). */
  private val PQ_DTABLE_WIDE_ROW_BYTES = PQ_M * PQ_K * 8L + 48L

  /** [[pqDtablePlan]] pivoted WIDE — one row per QUERY vector carrying
    * its full M×K ADC lookup table as a single double array in (m, code)
    * order (codes are 1-based, so subspace m's code c sits at array slot
    * m·K + c). The narrow (qid, m, code, sd) form joined the candidate
    * set once per subspace — M broadcast-hash probes (each its own
    * BroadcastExchange job) per candidate row; this form makes the ADC
    * stage ONE equi-join by qid plus M constant-index `element_at`
    * lookups per candidate — identical doubles, identical left-to-right
    * add order, 1/M-th the join work and M−1 fewer broadcast builds per
    * execution (guide §2.4 / §3.1). */
  private def pqDtableWidePlan(dtable: DataFrame): DataFrame =
    dtable.groupBy("qid")
      .agg(array_sort(collect_list(struct(col("m"), col("code"), col("sd")))).as("t"))
      .select(col("qid"), transform(col("t"), x => x.getField("sd")).as("sds"))

  /** Size-gated broadcast for a PER-BATCH ADC distance table (ADVICE
    * r14): the table is O(batch·M·K) rows BY CONSTRUCTION, but a fresh
    * batch plan has no Catalyst size estimate, so the generic
    * [[maybeBroadcast]] always declines it (the r13 8×-sort-merge-fold
    * regression) while an UNCONDITIONAL broadcast() hint would ship an
    * arbitrarily large batch's table past the driver broadcast limit
    * instead of degrading. This gate prices the table from the one
    * number that determines it — the batch row count — and hints only
    * when estRows·M·K·40B fits the session broadcast budget; above it
    * the ADC fold degrades to shuffled joins (correct, linear, no OOM).
    * Registered deltas pass the exact fixture size from the persisted
    * corpus count; facades estimate rows from Catalyst's batch-plan
    * bytes (filter-over-scan stats overshoot, which only declines
    * EARLIER — the safe direction). */
  private[graft] def maybeBroadcastDtable(dtable: DataFrame, estBatchRows: Long): DataFrame = {
    val thresh = org.apache.spark.sql.graftx.Sizing.broadcastThreshold(dtable)
    // Compare by DIVISION (ADVICE r15): the saturated unknown-stats
    // estimate (~2^55 rows) times ~1 KB/row wraps mod 2^64 to a small
    // negative, which would pass a `product <= thresh` check and
    // force-broadcast exactly the arbitrarily-large case the gate exists
    // to decline. rows <= thresh/rowBytes cannot overflow.
    if (thresh > 0 && estBatchRows <= thresh / PQ_DTABLE_WIDE_ROW_BYTES)
      broadcast(dtable)
    else dtable
  }

  /** Conservative row-count estimate for an embedding batch from its
    * optimized-plan size: a (vec_id, embedding[64]) row is ≥ 256 bytes
    * in Catalyst stats, so bytes/256 over-counts rows when stats are
    * inflated (filters keep the child's size) and the gate declines
    * early rather than late. Unknown stats (default huge sizeInBytes)
    * saturate to Long.MaxValue → never broadcast → shuffled fallback. */
  private def estBatchRows(batch: DataFrame): Long = {
    val rows = org.apache.spark.sql.graftx.Sizing.estimatedBytes(batch) / 256
    if (rows > BigInt(Long.MaxValue)) Long.MaxValue else math.max(1L, rows.toLong)
  }

  /** Corpus-wide ADC distance table, memoized — the ONE owning call site
    * for the `pq_dtable` stage. Both full-corpus PQ tiers (trained-k
    * q_sim_ann_ivfpq and constant-cell q_sim_ann_ivfc_pq) rank against
    * the IDENTICAL table, so sharing one memo deduplicates the compute;
    * it is also what the stage-ownership guard ([[Tables.memoized]])
    * requires — two call sites each building `cached(…, "pq_dtable")`
    * made whichever ran second throw (r12 regression, VERDICT r12 #1). */
  private def pqCorpusDtable(s: SparkSession, d: String): DataFrame =
    cached(s, d, "pq_dtable") {
      pqDtableWidePlan(pqDtablePlan(t(s, d, "embeddings"),
        pqCodebooks(s, d).select(col("m"), col("c").as("code"), col("centroid"))))
    }

  /** Per-batch ADC distance table, pivoted WIDE and size-gated
    * ([[maybeBroadcastDtable]]) on the caller's row estimate. */
  private def pqBatchDtable(s: SparkSession, d: String, e: DataFrame,
      estRows: Long): DataFrame =
    maybeBroadcastDtable(pqDtableWidePlan(pqDtablePlan(e,
      pqCodebooks(s, d).select(col("m"), col("c").as("code"), col("centroid")))), estRows)

  /** The shuffle-free ADC shortlist of the PQ tiers: the WIDE per-query
    * distance table ([[pqDtableWidePlan]]) hash-joins once by qid onto
    * UNEXPANDED candidate (qid, nid) rows; the approximate distance is
    * then M constant-index array lookups summed as a column expression —
    * never an aggregation, never a per-subspace join (the r21
    * restructure: the M-level (qid, nibble) join fold paid M broadcast
    * builds + M hash-probe passes per execution; the one-join form
    * computes the SAME sd_0+…+sd_{M−1} doubles in one codegen stage. The
    * exploded-candidate shuffle-agg form measured 1.9 s vs 1.4 s at
    * sf0.1; naive per-candidate vector math was 14× worse again). Only
    * the ADC shortlist touches full-precision vectors, in
    * [[annExactTop3]]. */
  private def pqAdcRerank(cands: DataFrame, codesWide: DataFrame,
      dtableWide: DataFrame, qVecs: DataFrame, nVecs: DataFrame): DataFrame = {
    // codes are 1-based (row_number seeds), so subspace m's lookup slot
    // in the (m, code)-ordered wide array is m·K + c_m; the left-to-right
    // reduce reproduces the fold's sd_0+…+sd_{M−1} addition order exactly
    val adc = cands.join(maybeBroadcast(codesWide), "nid")
      .join(maybeBroadcast(dtableWide), "qid")
      .select(col("qid"), col("nid"),
        r4((0 until PQ_M).map(m =>
            element_at(col("sds"), col(s"c_$m") + lit(m * PQ_K)))
          .reduce(_ + _)).as("adist"))
    val shortlist = org.apache.spark.sql.graftx.TopK.topKPerKey(adc,
        keyNames = Seq("qid"), orderBy = Seq("adist" -> true, "nid" -> true),
        k = PQ_RERANK, rankName = "arnk")
      .select("qid", "nid")
    annExactTop3(shortlist, qVecs, nVecs)
  }

  /** Window width (tokens) for substring-level dedup: a token position is
    * "duplicated" iff some [[SUBSTR_W]]-token window covering it occurs in
    * ≥ 2 distinct documents. This is the fixed-width rolling-window
    * surrogate for suffix-array ExactSubstr dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", §4.1,
    * which uses a 50-TOKEN threshold): every duplicated span of length
    * ≥ W is found exactly (it contains a duplicated W-window), spans
    * shorter than W are ignored by design — the same semantics as the
    * paper's threshold, at O(total tokens) postings instead of a suffix
    * array, and embarrassingly shuffle-parallel by window hash. */
  private val SUBSTR_W = 8

  /** (doc_id, n_toks, start, gh) — every width-[[SUBSTR_W]] token window,
    * keyed by its md5. Disk-backed: the postings table IS the substring
    * index (O(total tokens) rows — the same asymptotic footprint as the
    * suffix array it replaces), built once and probed by both the full
    * corpus query and the per-ingest delta. The transform+posexplode pair
    * is scan-side (zero joins); md5 runs once per window before the hash
    * shuffle, so the exchange carries 32-hex keys, never window text. */
  private[graft] def substrPostings(s: SparkSession, d: String): DataFrame =
    Tables.memoizedOnDisk(s, d, s"substr_postings_w$SUBSTR_W") {
      substrGramsPlan(t(s, d, "documents")
        .repartition(col("doc_id"))) // single-row-group file → parallelize windowing
    }

  /** The window projection alone — a pure generator/map plan, so it is
    * valid on a STREAMING frame too: streaming.Streams.substrDupAgainstIndex
    * windows each incoming micro-batch with this exact plan before probing
    * the persisted postings index. */
  private[graft] def substrGramsPlan(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .where(size(col("tk")) >= SUBSTR_W)
      .select(col("doc_id"), size(col("tk")).cast(LongType).as("n_toks"),
        posexplode(transform(
            sequence(lit(0), size(col("tk")) - lit(SUBSTR_W)),
            i => md5(concat_ws(" ", slice(col("tk"), i + lit(1), lit(SUBSTR_W))))))
          .as(Seq("start", "gh")))

  /** Collapse duplicated window starts to per-doc span stats. Interval
    * union is ONE gaps-and-islands window pass (partitioned by doc —
    * never a global sort): a start strictly beyond the running max stop
    * opens a new island, islands aggregate to disjoint spans, spans to
    * per-doc duplicated-token counts. Per-doc window volume is bounded by
    * the doc's own window count, so the pass scales with documents, not
    * with the corpus pair structure. */
  private def substrSpanStats(marked: DataFrame): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("start")
    val isl = marked
      .withColumn("stop", col("start") + lit(SUBSTR_W - 1))
      .withColumn("prev_max", max(col("stop"))
        .over(byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("new_isl",
        when(col("prev_max").isNull || col("start") > col("prev_max"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_isl"))
        .over(byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    isl.groupBy("doc_id", "island")
      .agg(max(col("n_toks")).as("n_toks"), min(col("start")).as("s"),
        max(col("stop")).as("e"), count(lit(1)).as("ng"))
      .groupBy("doc_id")
      .agg(max(col("n_toks")).as("n_toks"), sum(col("ng")).as("dup_grams"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))
      .select(col("doc_id"), col("n_toks"),
        (col("n_toks") - lit(SUBSTR_W - 1L)).as("n_grams"),
        col("dup_grams"), col("n_spans"), col("dup_tokens"),
        r4(col("dup_tokens").cast(DoubleType) / col("n_toks")).as("dup_ratio"))
      .orderBy("doc_id")
  }

  // ===== Ingest facade workers (public API surface: graft.Ingest) =====
  // One entry point per delta family, each taking an ARBITRARY batch
  // DataFrame instead of the registry's deterministic vec_id/doc_id
  // %10=7 stand-in. Corpus side = the family's PERSISTED index artifact,
  // anti-joined against the batch's own ids (so re-ingesting stored rows
  // — the fixture shape — matches the registered delta queries exactly,
  // and genuinely new ids probe the full index). Batch-side derivations
  // (shingles, signatures, probe cells, ADC tables) are computed FRESH
  // from the given frame at O(batch) cost — the corpus is never
  // rescanned, never rescored.

  /** Near-dup (MinHash+LSH) ingest: batch docs (doc_id, text) vs the
    * persisted signature index → verified (doc_a=batch, doc_b=corpus,
    * jac ≥ 0.8) pairs. Batch shingles take the CORPUS-wide hot-shingle
    * cap — an anti-join against the persisted [[hotShingleSet]]
    * artifact — so batch signatures, verification intersections, and
    * jaccard denominators all live in the same capped universe the
    * corpus index was built in, and re-ingesting stored rows reproduces
    * q_dedup_minhash_delta exactly (IngestSpec). */
  /** Corpus-side reader for the INGEST paths only: base artifact ∪
    * committed overlay segments ([[graft.IndexOverlay]]). Registered
    * queries read the bases directly — on a never-committed dataset the
    * two are the same plan (withOverlay returns `base` untouched), so
    * the oracle gate and the zero-job plan-construction contract are
    * untouched: the overlay-ABSENT cost is one driver-side directory
    * stat. With commits on disk, plan construction adds the driver-side
    * manifest-chain read (µs-scale file reads) and a single-file footer
    * schema inference — never a distributed footer-merge job (ADVICE
    * r17: the previous mergeSchema read launched one per plan; schema
    * agreement is now enforced at append instead). */
  private def ov(s: SparkSession, d: String, family: String, base: DataFrame): DataFrame =
    IndexOverlay.withOverlay(s, d, family, base)

  /** Hard ceiling for hinting the tombstone set onto a broadcast: ids are
    * single longs (~tens of bytes each as a BHJ relation), so 2M rows is
    * well inside any executor's broadcast budget while covering every
    * plausible pre-compaction tombstone set — past it, deletes should be
    * compacted away, not broadcast. */
  private val DELETED_BROADCAST_MAX = 2L * 1000 * 1000

  /** Anti-join `df` against the ids of the given tombstone SEGMENTS
    * (none → identity). The broadcast decision comes from the chain's
    * recorded row counts — an exact upper bound on the distinct-id
    * count — because Catalyst's estimate through distinct-over-parquet
    * can be inflated/unknown, and a declined broadcast here would
    * silently degrade every corpus-side probe on a dataset with deletes
    * to a shuffled anti-join (VERDICT r17). */
  private def minusTombSegs(s: SparkSession, df: DataFrame, idCol: String,
      tombs: Seq[(String, Int, Long)]): DataFrame =
    if (tombs.isEmpty) df
    else {
      val del = s.read.parquet(tombs.map(_._1): _*)
      val sel = del.select(col(del.columns.head).as(idCol)).distinct()
      val n = tombs.map(_._3).sum
      df.join(
        if (n <= DELETED_BROADCAST_MAX) broadcast(sel) else maybeBroadcast(sel),
        Seq(idCol), "left_anti")
    }

  /** Tombstone filter for the BASE artifact (and any other pre-overlay
    * frame): anti-join against EVERY effective tombstone segment of
    * `delFam` — the base is older than any manifest, so every tombstone
    * shadows it. Identity when nothing was ever deleted, so existing
    * plans are untouched. Overlay segments must NOT use this — their
    * shadow set depends on their manifest id ([[overlayVisible]]). */
  private[graft] def minusDeleted(s: SparkSession, d: String, base: DataFrame,
      idCol: String, delFam: String): DataFrame =
    minusTombSegs(s, base, idCol, IndexOverlay.segmentsWithSeq(d, delFam))

  /** The VISIBLE overlay rows of a family under the manifest chain's
    * sequence-ordered tombstones (None when nothing was committed): a
    * tombstone segment in manifest `m` shadows row segments from
    * EARLIER manifests only (id < m) — never its own manifest's
    * co-published rows — so a row committed after a delete is visible
    * (re-insert) and an atomic same-manifest tombstone+rows publish is
    * a replace ([[ingestReplaceDocs]]).
    *
    * Shape: a family's segments read as ONE multi-path scan whose rows
    * recover their manifest id through a literal segment-name → seq map
    * over the scan's `_metadata.file_path` (tombstones likewise), and
    * visibility is ONE broadcast anti-join with the non-equi conjunct
    * `tombstone._seq > row._seq` — each segment file is scanned exactly
    * once, in one scan node, and the plan holds one join however many
    * replaces/deletes the chain accumulated. (Two rejected cuts, both
    * measured by `graft.CommitBench`'s sweeps: grouping row segments by
    * tombstone SUFFIX made R replaces re-read O(R²) tombstone files —
    * probe 1.6 s → 18.5 s across 1 → 32 un-compacted replaces; a union
    * of per-segment scans with `lit(seq)` columns made EVERY
    * multi-segment store pay R scan nodes — the plain 64-commit probe
    * regressed 2.4 s → 21 s. The single-scan shape keeps both curves
    * within the segment budget's shallow slope.) */
  private def overlayVisible(s: SparkSession, d: String, family: String,
      idCol: String, delFam: String): Option[DataFrame] = {
    val segs = IndexOverlay.segmentsWithSeq(d, family)
    if (segs.isEmpty) None
    else {
      val rows = segScanWithSeq(s, segs)
      val tombs = IndexOverlay.segmentsWithSeq(d, delFam)
      if (tombs.isEmpty) Some(rows.drop("_seq"))
      else {
        val t = segScanWithSeq(s, tombs)
        val tombSeq = t.select(col(t.columns.head).as(idCol),
          col("_seq").as("_tseq"))
        val n = tombs.map(_._3).sum
        val shadowed = rows.join(
          if (n <= DELETED_BROADCAST_MAX) broadcast(tombSeq)
          else maybeBroadcast(tombSeq),
          rows(idCol) === tombSeq(idCol) && col("_tseq") > col("_seq"),
          "left_anti")
        Some(shadowed.drop("_seq"))
      }
    }
  }

  /** One multi-path scan over `segs` plus a `_seq` column: the owning
    * manifest id, recovered per row by looking the file's `seg_NNNNN`
    * path component up in a literal map (a miss — impossible while the
    * scan paths and the map come from the same chain read — fails loud
    * rather than silently un-shadowing the row). */
  private def segScanWithSeq(s: SparkSession,
      segs: Seq[(String, Int, Long)]): DataFrame = {
    val df = s.read.parquet(segs.map(_._1): _*)
    val segToSeq = map(segs.flatMap { case (p, sq, _) =>
      Seq(lit(graft.sources.Store.name(p)), lit(sq)) }.toIndexedSeq: _*)
    // anchored to the file's PARENT component (ADVICE r18): the segment
    // dir is always the parquet file's parent, while a dataset rooted
    // under a path that itself contains a seg_N component would match
    // a first-occurrence pattern and look up the wrong (or a colliding)
    // segment name
    val sq = element_at(segToSeq,
      regexp_extract(col("_metadata.file_path"), "/(seg_\\d+)/[^/]+$", 1))
    df.withColumn("_seq", coalesce(sq,
      raise_error(lit("overlay read: no manifest seq for a scanned segment file"))))
  }

  /** Seq-aware corpus-side reader: (base − every tombstone) ∪ visible
    * overlay rows, aligned to the base's column set by name (an overlay
    * segment missing a base column fails analysis loudly rather than
    * nulling). */
  private def ovSeq(s: SparkSession, d: String, family: String,
      base: DataFrame, idCol: String, delFam: String): DataFrame = {
    val b = minusDeleted(s, d, base, idCol, delFam)
    overlayVisible(s, d, family, idCol, delFam) match {
      case Some(o) => b.unionByName(o.select(base.columns.map(col).toIndexedSeq: _*))
      case None    => b
    }
  }

  /** Doc-family corpus-side reader: base ∪ overlay, minus tombstoned
    * doc ids (sequence-ordered — see [[overlayVisible]]). */
  private[graft] def ovDoc(s: SparkSession, d: String, family: String,
      base: DataFrame): DataFrame =
    ovSeq(s, d, family, base, "doc_id", famDocsDeleted)

  /** Vector-family corpus-side reader — `idCol` names the vector-id
    * column in this family's shape (`vec_id`, or `nid` for the wide PQ
    * codes). */
  private def ovVec(s: SparkSession, d: String, family: String,
      base: DataFrame, idCol: String = "vec_id"): DataFrame =
    ovSeq(s, d, family, base, idCol, famVecsDeleted)

  // ---- promoted-corpus generation plumbing (r19, [[CorpusGen]]) ----

  /** Ingest-path corpus TABLE view: the latest promoted snapshot when
    * one exists, else the source table's standing columns. Registered
    * queries never read this — the oracle gate reads the source tables
    * directly, and on a never-promoted store this IS the source table
    * (one directory listing of overhead). */
  private[graft] def corpusDocs(s: SparkSession, d: String): DataFrame =
    CorpusGen.table(s, d, "documents").getOrElse(
      t(s, d, "documents").select(col("doc_id"), col("text")))

  private[graft] def corpusVecs(s: SparkSession, d: String): DataFrame =
    CorpusGen.table(s, d, "embeddings").getOrElse(
      t(s, d, "embeddings").select(col("vec_id"), col("embedding")))

  /** Gen-aware BASE artifact of an ingest family: the promoted artifact
    * when the current generation carries it; identity (the gen-0
    * artifact) on a never-promoted store. A generation that predates
    * the family — a post-promote re-dial minted a new geometry name —
    * falls back to the gen-0 artifact RESTRICTED to snapshot ids:
    * deleted-then-promoted ids must not resurface through the old
    * artifact (their tombstones were folded away), while
    * committed-then-promoted rows stay missing from this family until
    * the next [[ingestPromote]] heals it. */
  private def genArt(s: SparkSession, d: String, family: String,
      idCol: String, table: String, tableIdCol: String)(
      gen0: => DataFrame): DataFrame =
    CorpusGen.artifact(s, d, family).getOrElse {
      CorpusGen.table(s, d, table) match {
        case Some(snap) =>
          gen0.join(snap.select(col(tableIdCol).as(idCol)), Seq(idCol), "left_semi")
        case None => gen0
      }
    }

  private[graft] def genArtDoc(s: SparkSession, d: String, family: String)(
      gen0: => DataFrame): DataFrame =
    genArt(s, d, family, "doc_id", "documents", "doc_id")(gen0)

  private def genArtVec(s: SparkSession, d: String, family: String,
      idCol: String = "vec_id")(gen0: => DataFrame): DataFrame =
    genArt(s, d, family, idCol, "embeddings", "vec_id")(gen0)

  // The STANDING corpus-side view per index family — gen-aware base
  // (promoted artifact, else gen-0) ∪ visible overlay rows under the
  // chain's sequence-ordered tombstones. These are what every ingest
  // probe reads corpus-side AND what [[ingestPromote]] folds into the
  // next generation (the fold is by construction exactly the view, so
  // promotion is probe-invariant). Each view pins ONE generation
  // snapshot for its whole construction ([[CorpusGen.pinned]], ADVICE
  // r19): the gen-aware base and the chain's watermark filter must read
  // the SAME generation, or a promote flipping between the two reads
  // yields a base-old/chain-new plan missing every folded row.
  private[operators] def stdDocHashes(s: SparkSession, d: String): DataFrame =
    CorpusGen.pinned(d) { ovDoc(s, d, Curation.famDocHashes,
      genArtDoc(s, d, Curation.famDocHashes)(Curation.corpusDocHashes(s, d))) }
  private def stdHotShingles(s: SparkSession, d: String): DataFrame =
    CorpusGen.pinned(d) { ov(s, d, famHotShingles,
      CorpusGen.artifact(s, d, famHotShingles).getOrElse(hotShingleSet(s, d))) }
  private def stdDocShingles(s: SparkSession, d: String): DataFrame =
    CorpusGen.pinned(d) { ovDoc(s, d, famDocShingles,
      genArtDoc(s, d, famDocShingles)(docShingles(s, d))) }
  private def stdMinhashSigs(s: SparkSession, d: String): DataFrame =
    CorpusGen.pinned(d) { ovDoc(s, d, famMinhashSigs,
      genArtDoc(s, d, famMinhashSigs)(minhashSigs(s, d))) }
  private def stdSubstrPostings(s: SparkSession, d: String): DataFrame =
    CorpusGen.pinned(d) { ovDoc(s, d, famSubstrPostings,
      genArtDoc(s, d, famSubstrPostings)(substrPostings(s, d))) }
  private def stdLshcOwn(s: SparkSession, d: String, nbits: Int): DataFrame =
    CorpusGen.pinned(d) { ovVec(s, d, famLshcOwn(d, nbits),
      genArtVec(s, d, famLshcOwn(d, nbits))(lshcProbes(s, d).where(col("own"))
        .select(col("vec_id"), col("tb"), col("bucket")))) }
  private def stdLshMulti(s: SparkSession, d: String): DataFrame =
    CorpusGen.pinned(d) { ovVec(s, d, famLshMulti,
      genArtVec(s, d, famLshMulti)(lshMultiBuckets(s, d))) }
  private def stdSemAssign(s: SparkSession, d: String): DataFrame =
    CorpusGen.pinned(d) { ovVec(s, d, famSemAssign(d),
      genArtVec(s, d, famSemAssign(d))(semAssign(s, d))) }
  private def stdSemAssign2(s: SparkSession, d: String): DataFrame =
    CorpusGen.pinned(d) { ovVec(s, d, famSemAssign2(d),
      genArtVec(s, d, famSemAssign2(d))(semAssign2(s, d))) }
  private def stdIvfkAssign2(s: SparkSession, d: String): DataFrame =
    CorpusGen.pinned(d) { ovVec(s, d, famIvfkAssign2(d),
      genArtVec(s, d, famIvfkAssign2(d))(ivfKAssign2(s, d))) }
  private def stdPqCodesWide(s: SparkSession, d: String): DataFrame =
    CorpusGen.pinned(d) { ovVec(s, d, famPqCodesWide(d),
      genArtVec(s, d, famPqCodesWide(d), "nid")(pqCodesWide(s, d)), "nid") }

  // Overlay FAMILY names — geometry-encoded exactly like the base stage
  // keys they shadow (ADVICE r16): a re-dial (new nbits, new cell size,
  // new PQ dials) changes the family name with the base stage, so stale
  // segments committed under old geometry simply stop being read.
  private[graft] def famDocsRaw = "docs_raw"
  private[graft] def famVecsRaw = "vecs_raw"
  private[graft] def famDocsDeleted = "docs_deleted"
  private[graft] def famVecsDeleted = "vecs_deleted"
  private def famHotShingles = s"hot_shingles_k3df$MAX_SHINGLE_DF"
  private def famDocShingles = s"doc_shingles_k3df$MAX_SHINGLE_DF"
  private def famMinhashSigs = s"minhash_sigs_k${MINHASH_K}x${MINHASH_SLICE}df$MAX_SHINGLE_DF"
  private def famSubstrPostings = s"substr_postings_w$SUBSTR_W"
  private def famLshcOwn(d: String, nbits: Int) =
    gk(d, s"lshc_own_${LSHC_TABLES}x${nbits}c$LSHC_CELL")
  private def famLshMulti = s"lsh_multi_${LSH_TABLES}x${LSH_TABLE_BITS}o$LSH_PLANES"
  private def famSemAssign(d: String) = gk(d, s"sem2_assign_nc$SEM_CELL")
  private def famSemAssign2(d: String) = gk(d, s"sem2_assign_top2_nc$SEM_CELL")
  private def famIvfkAssign2(d: String) = gk(d, "ivfk_assign2_top2")
  private def famPqCodesWide(d: String) =
    gk(d, s"pq_codes_wide_m${PQ_M}k${PQ_K}_lloyd$PQ_LLOYD")

  private[graft] def ingestMinhashDedup(s: SparkSession, d: String,
      batch: DataFrame): DataFrame = {
    val bids = batch.select("doc_id")
    val bshRaw = rawShingles(batch.select(col("doc_id"), col("text"))
      .repartition(col("doc_id")), k = 3)
    // Cap universe = corpus hot set ∪ BATCH-LOCAL hot set (ADVICE r14):
    // the corpus set alone leaves a boilerplate-heavy batch whose hot
    // shingles are corpus-NOVEL uncapped, growing its signature/verify
    // joins without bound. The batch-local set costs one O(batch)
    // map-side-combinable aggregate; for any re-ingest of stored rows it
    // is a SUBSET of the corpus set (batch df ≤ corpus df over the same
    // rows), so the registered-delta twin equality (IngestSpec) is
    // untouched. The residual blind spot — the CORPUS index only learns
    // a batch-novel hot shingle at the next rebuild — is emitted as data
    // by [[ingestShingleCapLag]] / q_shingle_cap_lag.
    val batchHot = shingleDfs(bshRaw)
      .where(col("df") > MAX_SHINGLE_DF).select("shingle")
    // standing hot set = frozen corpus artifact ∪ COMMITTED batches' novel
    // hot shingles (overlay of the same stage) — so a probe of a doc
    // content-identical to a committed one caps in the SAME universe the
    // commit capped in, and boilerplate that arrived via commit cannot
    // re-enter later batches' signatures
    val bsh = bshRaw
      .join(maybeBroadcast(stdHotShingles(s, d)),
        Seq("shingle"), "left_anti")
      .join(maybeBroadcast(batchHot), Seq("shingle"), "left_anti")
    val aggs = minhashSigAggs
    val batchBands = minhashBands(bsh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*))
    val corpusBands = minhashBands(
      stdMinhashSigs(s, d).join(bids, Seq("doc_id"), "left_anti"))
    val cands = batchBands.as("ba")
      .join(maybeBroadcast(corpusBands.as("bb")), col("ba.band") === col("bb.band") &&
        col("ba.bucket") === col("bb.bucket"))
      .select(col("ba.doc_id").as("doc_a"), col("bb.doc_id").as("doc_b"))
      .distinct()
    val csh = stdDocShingles(s, d)
      .join(bids, Seq("doc_id"), "left_anti")
    val withA = bsh.join(maybeBroadcast(cands), col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("shingle"))
    val inter = withA.as("wa")
      .join(csh.as("sb"), col("wa.shingle") === col("sb.shingle") &&
        col("wa.doc_b") === col("sb.doc_id"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(shingleCounts(bsh).withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "na"), "doc_a")
      .join(shingleCounts(csh).withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("jac", r4(col("inter") / (col("na") + col("nb") - col("inter"))))
      .where(col("jac") >= 0.8)
      .select("doc_a", "doc_b", "jac")
      .orderBy("doc_a", "doc_b")
  }

  /** Rebuild-lag observability for the minhash ingest cap (VERDICT r14
    * task 4): [[ingestMinhashDedup]] caps batch shingles against the
    * persisted corpus hot set PLUS the batch-local hot set, so nothing
    * hot rides a batch's signatures — but a batch-novel hot shingle
    * stays invisible to the CORPUS hot-set artifact until the next
    * index rebuild. This emits that blind spot's magnitude as a 1-row
    * query result per batch (the q_shingle_cap_report convention
    * applied to the ingest facade): n_batch_hot (shingles hot within
    * the batch), n_lagging (of those, not yet in the corpus hot set —
    * the rebuild lag), max_lag_df (the worst lagging shingle's batch
    * df), n_rows_capped (batch rows the union cap drops). All
    * aggregates are 1-row; the hot sets are bounded by construction. */
  private[graft] def ingestShingleCapLag(s: SparkSession, d: String,
      batch: DataFrame): DataFrame = {
    val bshRaw = rawShingles(batch.select(col("doc_id"), col("text"))
      .repartition(col("doc_id")), k = 3)
    val bhot = shingleDfs(bshRaw).where(col("df") > MAX_SHINGLE_DF)
    // the standing hot set includes committed batches' novel hot
    // shingles (overlay), so committed boilerplate no longer reads as
    // lag — the residual lag is what only the next FULL rebuild learns
    val standingHot = stdHotShingles(s, d)
    val lag = bhot.join(maybeBroadcast(standingHot), Seq("shingle"), "left_anti")
    val hotAgg = bhot.agg(count(lit(1)).as("n_batch_hot"))
    val lagAgg = lag.agg(count(lit(1)).as("n_lagging"),
      coalesce(max(col("df")), lit(0L)).as("max_lag_df"))
    val capped = bshRaw.join(maybeBroadcast(
        bhot.select("shingle").union(standingHot).distinct()),
        Seq("shingle"), "left_semi")
      .agg(count(lit(1)).as("n_rows_capped"))
    // three 1-row aggregates — forced broadcast is safe at any scale
    hotAgg.crossJoin(broadcast(lagAgg)).crossJoin(broadcast(capped))
  }

  /** Substring-dedup ingest: batch docs' width-[[SUBSTR_W]] windows
    * (computed fresh, O(batch tokens)) probed against the persisted
    * postings index → per-doc duplicated-span stats, batch docs only. */
  private[graft] def ingestSubstringDedup(s: SparkSession, d: String,
      batch: DataFrame): DataFrame = {
    val bids = batch.select("doc_id")
    val bposts = substrGramsPlan(batch.select(col("doc_id"), col("text"))
      .repartition(col("doc_id")))
    val corpusGh = stdSubstrPostings(s, d)
      .join(bids, Seq("doc_id"), "left_anti")
      .select("gh").distinct()
    substrSpanStats(bposts.join(corpusGh, "gh"))
  }

  /** Semantic-dedup ingest: batch vectors (vec_id, embedding) assigned
    * fresh against the frozen two-level quantizer, dropped iff any
    * corpus cell-mate clears [[SEM_TAU]] (corpus wins). O(batch·c). */
  private[graft] def ingestSemanticDedup(s: SparkSession, d: String,
      batch: DataFrame): DataFrame = {
    val b = batch.select(col("vec_id"), col("embedding"))
    val corpus = visibleVecs(s, d)
      .join(b.select("vec_id"), Seq("vec_id"), "left_anti")
      .join(maybeBroadcast(stdSemAssign(s, d)), "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"))
    semanticVerdicts(s, d, b, corpus).orderBy("vec_id")
  }

  /** The exact-cosine top-3 rerank every ANN tier ends in: candidate
    * (qid, nid) pairs look up query vectors in `qVecs` and neighbor
    * vectors in `nVecs` (the same table for the registered faces; the
    * caller's batch and the standing corpus for the ingest facades). */
  private def annExactTop3(cands: DataFrame, qVecs: DataFrame,
      nVecs: DataFrame): DataFrame = {
    val pairs = cands
      .join(maybeBroadcast(qVecs.select(col("vec_id"), col("embedding")).as("ea")),
        col("qid") === col("ea.vec_id"))
      .join(maybeBroadcast(nVecs.select(col("vec_id"), col("embedding")).as("eb")),
        col("nid") === col("eb.vec_id"))
      .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"),
        r4(cosine(col("ea.embedding"), col("eb.embedding"))).as("cos"))
    org.apache.spark.sql.graftx.TopK.topKPerKey(pairs,
        keyNames = Seq("vec_id"),
        orderBy = Seq("cos" -> false, "neighbor_id" -> true),
        k = 3, rankName = "rnk")
      .orderBy("vec_id", "rnk")
  }

  /** The narrow (qid, nid) candidate join of every ANN tier: probe rows
    * meet the broadcast-gated postings on `keys` (probe column → postings
    * column). Wide vectors never ride it — they join back per surviving
    * candidate in [[annExactTop3]]. `excludeSelf` drops self-pairs when
    * the probing vectors are the indexed corpus itself. */
  private def annCands(probes: DataFrame, postings: DataFrame,
      keys: Seq[(String, String)], excludeSelf: Boolean): DataFrame = {
    val on = keys.map { case (p, q) => col(s"a.$p") === col(s"b.$q") } ++
      (if (excludeSelf) Seq(col("a.vec_id") =!= col("b.vec_id")) else Nil)
    probes.as("a").join(maybeBroadcast(postings.as("b")), on.reduce(_ && _))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"))
  }

  /** The three faces of an ANN tier: the corpus-wide registered query,
    * its registered `_delta` twin (batch = `vec_id % 10 = 7`), and the
    * [[graft.Ingest]] facade over a caller's batch. */
  private object AnnFace extends Enumeration { val Registry, Delta, Facade = Value }

  /** One ANN tier, stated once; [[annRegistry]], [[annDelta]] and
    * [[annFacade]] derive its faces. `probes` is the persisted corpus-wide
    * probe list and `probesFor` the same probe plan over any vector set
    * (identical expressions, so a batch probes exactly as the corpus
    * build did). `postings` is the base postings artifact and
    * `stdPostings` its overlay-aware standing view, joined on `keys`.
    * `pq` ranks candidates by PQ-ADC before the exact rerank. `spread`
    * names the faces whose probe rows take the [[spread]] exchange. */
  private case class AnnTier(
      probes: (SparkSession, String) => DataFrame,
      probesFor: (SparkSession, String, DataFrame) => DataFrame,
      postings: (SparkSession, String) => DataFrame,
      stdPostings: (SparkSession, String) => DataFrame,
      keys: Seq[String], pq: Boolean, spread: Set[AnnFace.Value])

  /** Candidates → (PQ-ADC shortlist →) exact rerank for one face. The
    * faces differ only in the probing vectors, how the corpus side
    * excludes them, and where the rerank reads vectors; `codes` and
    * `dtable` are evaluated by PQ tiers only. A PQ tier builds its
    * distance table (training the codebooks on a cold store) BEFORE its
    * probe and postings artifacts: concurrent cold callers (the other
    * tiers, semantic dedup) then build different artifacts at once
    * instead of racing to build the shared quantizer twice. */
  private def annSearch(tier: AnnTier, face: AnnFace.Value, probes: => DataFrame,
      postings: => DataFrame, qVecs: DataFrame, nVecs: DataFrame,
      codes: => DataFrame, dtable: => DataFrame): DataFrame = {
    val rerank: DataFrame => DataFrame =
      if (tier.pq) { val dt = dtable; pqAdcRerank(_, codes, dt, qVecs, nVecs) }
      else annExactTop3(_, qVecs, nVecs)
    rerank(annCands(if (tier.spread(face)) spread(probes) else probes,
      postings, tier.keys.map(k => k -> k),
      excludeSelf = face == AnnFace.Registry).distinct())
  }

  private def annRegistry(tier: AnnTier): Fn = (s, d) => {
    val e = t(s, d, "embeddings")
    annSearch(tier, AnnFace.Registry, tier.probes(s, d), tier.postings(s, d),
      e, e, pqCodesWide(s, d), pqCorpusDtable(s, d))
  }

  private def annDelta(tier: AnnTier): Fn = (s, d) => {
    val isBatch = col("vec_id") % 10 === 7
    val e = t(s, d, "embeddings")
    annSearch(tier, AnnFace.Delta, tier.probesFor(s, d, e.where(isBatch)),
      tier.postings(s, d).where(!isBatch), e, e,
      pqCodesWide(s, d).where(!(col("nid") % 10 === 7)),
      // size-gated on the EXACT fixture batch size from the persisted
      // corpus count (see maybeBroadcastDtable)
      pqBatchDtable(s, d, e.where(isBatch), embCount(s, d) / 10 + 1))
  }

  private def annFacade(tier: AnnTier)(s: SparkSession, d: String,
      batch: DataFrame): DataFrame = {
    val b = batch.select(col("vec_id"), col("embedding"))
    val ids = b.select("vec_id")
    annSearch(tier, AnnFace.Facade, tier.probesFor(s, d, b),
      tier.stdPostings(s, d).join(ids, Seq("vec_id"), "left_anti"),
      b, visibleVecs(s, d).join(ids, Seq("vec_id"), "left_anti"),
      stdPqCodesWide(s, d).join(b.select(col("vec_id").as("nid")), Seq("nid"), "left_anti"),
      // an arbitrary facade batch can exceed the broadcast budget:
      // oversized tables degrade to shuffled joins
      pqBatchDtable(s, d, b, estBatchRows(b)))
  }

  /** Multi-table LSH (dial tier; [[lshcTier]] is the LSH scale pick). */
  private val lshTier = AnnTier(lshMultiBuckets, (_, _, e) => lshMultiBucketsPlan(e),
    lshMultiBuckets, stdLshMulti, Seq("tb", "bucket"), pq = false,
    spread = Set(AnnFace.Registry, AnnFace.Delta))

  /** Constant-occupancy LSH: probes and own-bucket postings under the
    * FROZEN geometry (nbits from the persisted corpus count). */
  private val lshcTier = AnnTier(lshcProbes,
    (s, d, e) => lshcProbesPlan(e, lshcNbits(embCount(s, d))),
    (s, d) => lshcProbes(s, d).where(col("own"))
      .select(col("vec_id"), col("tb"), col("bucket")),
    (s, d) => stdLshcOwn(s, d, lshcNbits(embCount(s, d))),
    Seq("tb", "bucket"), pq = false, spread = AnnFace.values)

  /** Trained-k IVF: probe cells ranked against the frozen centroids
    * (np = 2⌈√k⌉), postings the top-2 corpus assignment. */
  private val ivfKTier = AnnTier(ivfKProbes,
    (s, d, e) => ivfKCellsFor(e, ivfKCentroids(s, d),
      2 * math.ceil(math.sqrt(ivfKNumCells(s, d).toDouble)).toInt),
    ivfKAssign2, stdIvfkAssign2, Seq("cell"), pq = false,
    spread = Set(AnnFace.Registry))

  /** Constant-cell IVF (the 100 TB scale pick): probes against the
    * frozen two-level quantizer, postings its top-2 corpus assignment. */
  private val ivfcTier = AnnTier(ivfcProbes, ivfcProbesFor,
    (s, d) => semAssign2(s, d).select(col("vec_id"), col("cell")),
    (s, d) => stdSemAssign2(s, d).select(col("vec_id"), col("cell")),
    Seq("cell"), pq = false, spread = Set.empty)

  private val ivfPqTier = ivfKTier.copy(pq = true,
    spread = Set(AnnFace.Registry, AnnFace.Delta))
  private val ivfcPqTier = ivfcTier.copy(pq = true,
    spread = Set(AnnFace.Registry, AnnFace.Delta))

  private[graft] def ingestAnnLsh(s: SparkSession, d: String, batch: DataFrame): DataFrame =
    annFacade(lshTier)(s, d, batch)
  private[graft] def ingestAnnLshc(s: SparkSession, d: String, batch: DataFrame): DataFrame =
    annFacade(lshcTier)(s, d, batch)
  private[graft] def ingestAnnIvfK(s: SparkSession, d: String, batch: DataFrame): DataFrame =
    annFacade(ivfKTier)(s, d, batch)
  private[graft] def ingestAnnIvfc(s: SparkSession, d: String, batch: DataFrame): DataFrame =
    annFacade(ivfcTier)(s, d, batch)
  private[graft] def ingestAnnIvfPq(s: SparkSession, d: String, batch: DataFrame): DataFrame =
    annFacade(ivfPqTier)(s, d, batch)
  private[graft] def ingestAnnIvfcPq(s: SparkSession, d: String, batch: DataFrame): DataFrame =
    annFacade(ivfcPqTier)(s, d, batch)

  /** Overlay rows a DOC commit appends per index family
    * ([[graft.Ingest.commitDocs]]): each frame is the batch's rows under
    * the corresponding base artifact's recipe with geometry FROZEN —
    * identical expressions to the per-batch probe plans, so committed
    * rows are exactly what [[ingestMinhashDedup]] etc. would have
    * computed batch-side for the same rows. `novel` must already be
    * id-novel and parquet-backed (the commit step publishes the raw
    * segment first and derives from the read-back, so a nondeterministic
    * user frame cannot make the families disagree).
    *  - corpus_doc_hashes: the exact-dedup (doc_id, h) rows
    *    ([[Curation.contentHash]]).
    *  - hot_shingles: the batch's STANDING-NOVEL hot shingles — the cap
    *    learns committed boilerplate immediately instead of at the next
    *    full rebuild (the committed set IS the lag q_shingle_cap_lag
    *    would otherwise report forever; the corpus artifact itself
    *    stays frozen).
    *  - doc_shingles: the capped universe (standing hot set ∪ this
    *    batch's hot set anti-joined out).
    *  - minhash_sigs: signatures over that capped universe.
    *  - substr_postings: width-[[SUBSTR_W]] window hashes. */
  private[graft] def commitDocFamilies(s: SparkSession, d: String,
      novel: DataFrame): Seq[(String, DataFrame)] = {
    val docs = novel.select(col("doc_id"), col("text")).repartition(col("doc_id"))
    val bshRaw = rawShingles(docs, k = 3)
    val batchHot = shingleDfs(bshRaw)
      .where(col("df") > MAX_SHINGLE_DF).select("shingle")
    val standingHot = stdHotShingles(s, d)
    val bsh = bshRaw
      .join(maybeBroadcast(standingHot), Seq("shingle"), "left_anti")
      .join(maybeBroadcast(batchHot), Seq("shingle"), "left_anti")
    val aggs = minhashSigAggs
    Seq(
      Curation.famDocHashes -> docs.select(col("doc_id"),
        Curation.contentHash(col("text")).as("h")),
      famHotShingles -> batchHot
        .join(maybeBroadcast(standingHot), Seq("shingle"), "left_anti"),
      famDocShingles -> bsh,
      famMinhashSigs -> bsh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*),
      famSubstrPostings -> substrGramsPlan(docs))
  }

  /** Overlay rows a VECTOR commit appends per index family
    * ([[graft.Ingest.commitVectors]]) — the frozen-geometry assignment
    * of `novel` under every persisted ANN/dedup index recipe:
    * constant-occupancy LSH own-buckets (bit dial from the FROZEN
    * persisted corpus count), multi-table LSH buckets, rank-1 and top-2
    * two-level quantizer cells, trained-k IVF top-2 cells, and PQ nibble
    * codes against the frozen codebooks. O(batch) each; the corpus-side
    * artifacts are never touched. */
  private[graft] def commitVecFamilies(s: SparkSession, d: String,
      novel: DataFrame): Seq[(String, DataFrame)] = {
    val b = novel.select(col("vec_id"), col("embedding"))
    val cb = pqCodebooks(s, d)
    val sd = pqSubvectors(b).join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("c"),
        sqDist(col("sub"), col("centroid")).as("sd"))
    val codes = org.apache.spark.sql.graftx.TopK.topKPerKey(sd,
        keyNames = Seq("vec_id", "m"), orderBy = Seq("sd" -> true, "c" -> true),
        k = 1, rankName = "r0")
      .select(col("vec_id"), col("m"), col("c").as("code"))
    val codesWide = codes.groupBy(col("vec_id").as("nid"))
      .pivot("m", 0 until PQ_M)
      .agg(first(col("code")))
      .select(col("nid") +: (0 until PQ_M).map(m => col(s"$m").as(s"c_$m")): _*)
    val nbits = lshcNbits(embCount(s, d))
    Seq(
      famLshcOwn(d, nbits) -> lshcProbesPlan(b, nbits)
        .where(col("own")).select(col("vec_id"), col("tb"), col("bucket")),
      famLshMulti -> lshMultiBucketsPlan(b),
      famSemAssign(d) -> semCellsFor(s, d, b),
      famSemAssign2(d) -> semAssign2For(s, d, b),
      famIvfkAssign2(d) -> ivfKCellsFor(b, ivfKCentroids(s, d), 2),
      famPqCodesWide(d) -> codesWide)
  }

  /** COMMIT step of the doc-ingest lifecycle ([[graft.Ingest.commitDocs]]):
    * make the batch's id-novel rows part of the standing corpus for every
    * LATER ingest call, at O(batch) cost, by appending overlay segments
    * ([[graft.IndexOverlay]]) — the raw rows first (published atomically,
    * then re-read so every derived family is computed from the same
    * deterministic parquet), then one segment per doc index family under
    * frozen geometry ([[commitDocFamilies]]).
    *
    * EAGER — a commit is an ACTION with side effects, not a query
    * builder; it runs Spark jobs (one write per family — the raw write
    * IS the novelty check's execution, VERDICT r17: no separate isEmpty
    * pre-job re-running the anti-join). Id-novelty is judged against
    * the ids currently VISIBLE (corpus ∪ committed − seq-effective
    * tombstones, [[visibleDocs]]): re-committing any batch is a no-op
    * (idempotent), a commit never changes a standing row's content
    * (that is [[ingestReplaceDocs]]'s verb), and committing a DELETED
    * id re-inserts it — the new segment's manifest is later than the
    * tombstone's, so the row simply wins (r18 seq semantics; before,
    * tombstones were permanent until compaction). Batch-internal id
    * duplicates collapse deterministically to the min-text row (an id
    * names ONE visible row in the standing index). CRASH-ATOMIC across
    * families (ADVICE r17): every family segment is appended invisibly
    * first and ONE manifest publish flips them all visible — a crash
    * mid-commit leaves only orphan dirs (GC'd by [[ingestCompact]]),
    * the ids still read as novel, and an at-least-once replay
    * re-commits the batch in full. Returns the (family, segment,
    * n_rows) report of what is actually on disk — empty when nothing
    * was novel. */
  private[graft] def ingestCommitDocs(s: SparkSession, d: String,
      batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("text")
    val novel = batch.select(col("doc_id"), col("text"))
      .join(visibleDocs(s, d).select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
    publishCommit(s, d, famDocsRaw, novel, commitDocFamilies(s, d, _))
  }

  /** The standing index's current (doc_id, text) view — corpus ∪
    * committed raw rows, under sequence-ordered tombstones: the novelty
    * base for commits, the change detector for replaces, the
    * visibility guard for deletes. */
  private[graft] def visibleDocs(s: SparkSession, d: String): DataFrame =
    CorpusGen.pinned(d) { ovDoc(s, d, famDocsRaw, corpusDocs(s, d)) }

  /** [[visibleDocs]] for vectors: the standing (vec_id, embedding). */
  private[graft] def visibleVecs(s: SparkSession, d: String): DataFrame =
    CorpusGen.pinned(d) { ovVec(s, d, famVecsRaw, corpusVecs(s, d)) }

  /** Shared publish tail of the commit verbs: append `novel` as the raw
    * family's segment (the write IS the emptiness check), derive every
    * index family from the published parquet, and flip them all visible
    * through ONE manifest — all-or-nothing for readers and the novelty
    * base. */
  private def publishCommit(s: SparkSession, d: String, rawFam: String,
      novel: DataFrame,
      derive: DataFrame => Seq[(String, DataFrame)]): DataFrame = {
    val (rawPath, nRaw) = IndexOverlay.append(s, d, rawFam, novel)
    commitReport(s,
      if (nRaw == 0L) { IndexOverlay.discardSegment(rawPath); Seq.empty }
      else {
        val pub = s.read.parquet(rawPath)
        val segs = (rawFam, rawPath, nRaw) +:
          derive(pub).flatMap { case (fam, df) =>
            val (p, n) = IndexOverlay.append(s, d, fam, df)
            if (n == 0L) { IndexOverlay.discardSegment(p); None }
            else Some((fam, p, n))
          }
        IndexOverlay.publishManifest(s, d, segs, full = false)
        segs
      })
  }

  /** REPLACE (upsert) step of the doc-ingest lifecycle
    * ([[graft.Ingest.replaceDocs]]): make the batch's rows THE standing
    * content for their ids — changed ids swap content, unseen ids
    * insert, unchanged ids are a no-op — in ONE atomic manifest. The
    * mechanism is the manifest chain's sequence rule: the old rows (base
    * or earlier-manifest overlay rows, in the raw family and every
    * derived index family alike) are shadowed by a tombstone segment
    * co-published WITH the replacement segments, whose own manifest the
    * tombstone does not reach — so readers flip from old content to new
    * atomically, and a crash mid-replace leaves only invisible orphans
    * for an at-least-once replay to redo in full. Works for
    * corpus-stored ids too (the base row is shadowed; the source
    * parquet is never touched). Idempotent: replaying a replace finds
    * every id already visible with identical content and publishes
    * nothing. Returns the commit report; the tombstone family's row
    * counts what was superseded. */
  private[graft] def ingestReplaceDocs(s: SparkSession, d: String,
      batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("text")
    val b = batch.select(col("doc_id"), col("text"))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
    val cur = visibleDocs(s, d).withColumnRenamed("text", "cur_text")
    val cls = b.join(cur, Seq("doc_id"), "left")
      .where(col("cur_text").isNull || !(col("text") <=> col("cur_text")))
      .select(col("doc_id"), col("text"), col("cur_text").isNotNull.as("was_visible"))
    replaceVia(s, d, famDocsRaw, famDocsDeleted, "doc_id", cls,
      commitDocFamilies(s, d, _))
  }

  /** [[ingestReplaceDocs]] for vectors ([[graft.Ingest.replaceVectors]]):
    * changed embeddings swap (every ANN/dedup family re-derives the id
    * under frozen geometry), unseen ids insert, identical embeddings
    * no-op. */
  private[graft] def ingestReplaceVectors(s: SparkSession, d: String,
      batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(hash(col("embedding")))
    val b = batch.select(col("vec_id"), col("embedding"))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
    val cur = visibleVecs(s, d).withColumnRenamed("embedding", "cur_embedding")
    val cls = b.join(cur, Seq("vec_id"), "left")
      .where(col("cur_embedding").isNull ||
        !(col("embedding") <=> col("cur_embedding")))
      .select(col("vec_id"), col("embedding"),
        col("cur_embedding").isNotNull.as("was_visible"))
    replaceVia(s, d, famVecsRaw, famVecsDeleted, "vec_id", cls,
      commitVecFamilies(s, d, _))
  }

  /** Replace tail. `cls` is the change CLASSIFICATION — the batch's
    * changed ∪ novel rows, each tagged `was_visible` (⇒ its standing
    * copy must be superseded). It is materialized ONCE with an eager
    * localCheckpoint — the single corpus-side pass a replace executes
    * (the r17 "plan executed twice" lesson applied forward: without it
    * the visibility join would run again for the tombstone's semi-join)
    * — then everything downstream reads the O(batch) pinned result: the
    * raw segment appends the (id, payload) columns, the tombstone
    * appends EVERY landing id, the derived families compute from the
    * published raw parquet, and ONE manifest flips rows + tombstone
    * visible together (sequence rule: the co-published tombstone
    * shadows every OLDER copy of those ids, never the replacements).
    *
    * The tombstone covers every id that lands — not just the
    * `was_visible` ones (ADVICE r18): when two replaces race on an id
    * with NO prior visible row, both classify it as an insert, and
    * was_visible-only tombstones would leave BOTH rows standing (two
    * different contents under one id, uncollapsible by compact's
    * dedup). A tombstone that shadows nothing is harmless — it reaches
    * only manifests older than its own — so tombstoning the whole
    * landing set makes the insert race last-writer-wins exactly like
    * the update race, at the cost of a few extra id rows per publish. */
  private def replaceVia(s: SparkSession, d: String, rawFam: String,
      delFam: String, idCol: String, cls: DataFrame,
      derive: DataFrame => Seq[(String, DataFrame)]): DataFrame = {
    val pinned = cls.localCheckpoint() // eager: the one visibility pass
    val (rawPath, nRaw) = IndexOverlay.append(s, d, rawFam,
      pinned.drop("was_visible"))
    if (nRaw == 0L) {
      IndexOverlay.discardSegment(rawPath)
      return commitReport(s, Seq.empty)
    }
    val pub = s.read.parquet(rawPath)
    val superseded = pinned.select(idCol)
    val (tombPath, nTomb) = IndexOverlay.append(s, d, delFam, superseded)
    val extra =
      if (nTomb == 0L) { IndexOverlay.discardSegment(tombPath); Nil }
      else Seq((delFam, tombPath, nTomb))
    val segs = extra ++ ((rawFam, rawPath, nRaw) +:
      derive(pub).flatMap { case (fam, df) =>
        val (p, n) = IndexOverlay.append(s, d, fam, df)
        if (n == 0L) { IndexOverlay.discardSegment(p); None }
        else Some((fam, p, n))
      })
    IndexOverlay.publishManifest(s, d, segs, full = false)
    commitReport(s, segs)
  }

  /** COMMIT step of the vector-ingest lifecycle
    * ([[graft.Ingest.commitVectors]]) — [[ingestCommitDocs]]'s contract
    * over the vector families ([[commitVecFamilies]]). Batch-internal id
    * duplicates collapse deterministically to the row whose embedding
    * hashes lowest. */
  private[graft] def ingestCommitVectors(s: SparkSession, d: String,
      batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(hash(col("embedding")))
    val novel = batch.select(col("vec_id"), col("embedding"))
      .join(visibleVecs(s, d).select("vec_id"), Seq("vec_id"), "left_anti")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
    publishCommit(s, d, famVecsRaw, novel, commitVecFamilies(s, d, _))
  }

  private def commitReport(s: SparkSession,
      rows: Seq[(String, String, Long)]): DataFrame = {
    import s.implicits._
    rows.toDF("family", "segment", "n_rows")
  }

  /** DELETE (tombstone) step of the ingest lifecycle
    * ([[graft.Ingest.deleteDocs]]): retire currently-VISIBLE ids from
    * the standing index. Appends the visible ids among `ids` to the
    * tombstone family; under the manifest chain's sequence rule the new
    * tombstone shadows every standing copy — corpus-stored rows and
    * committed overlay rows alike — without touching source data, while
    * a LATER commit of the same id re-inserts it (r18; tombstones are
    * no longer permanent-until-compaction). Ids with no visible row are
    * skipped (deleting the absent is a no-op, not a pre-emptive block),
    * which also makes re-running a delete publish nothing (idempotent).
    * Compaction physically drops deleted overlay rows and folds
    * overlay-only ids' tombstones away; corpus-stored ids keep a
    * tombstone as long as their base row must stay hidden. The one
    * non-id-keyed family, the hot-shingle cap, is NOT retracted by
    * deletes (a cap can only be conservative; the next rebuild
    * re-derives it). EAGER; returns the commit report shape. */
  private[graft] def ingestDeleteIds(s: SparkSession, d: String,
      ids: DataFrame, idCol: String, delFam: String,
      visibleIds: DataFrame): DataFrame = {
    // take the expected id column when present; otherwise demand an
    // unambiguous 1-column frame — silently tombstoning whatever column
    // happened to be first would retire WRONG ids until the next
    // regeneration (ADVICE r17)
    val idsSel =
      if (ids.columns.contains(idCol)) ids.select(col(idCol))
      else {
        require(ids.columns.length == 1,
          s"deleteIds: pass a 1-column id frame or one carrying '$idCol'; " +
            s"got (${ids.columns.mkString(", ")})")
        ids.select(col(ids.columns.head).as(idCol))
      }
    val fresh = idsSel.distinct().join(visibleIds, Seq(idCol), "left_semi")
    // the write is the emptiness check (one execution of the dedup plan);
    // appendCommitted publishes the 1-entry manifest only for live ids
    val (p, n) = IndexOverlay.appendCommitted(s, d, delFam, fresh)
    commitReport(s, if (n == 0L) Seq.empty else Seq((delFam, p, n)))
  }

  /** Overlay observability ([[graft.Ingest.overlayReport]]) — the
    * q_index_drift convention applied to the commit store: one row per
    * overlay family ON DISK with its published segment/row counts,
    * whether it is LIVE under the current frozen geometry (a re-dialed
    * base strands old-geometry families — they stop being read, which
    * is correct but otherwise silent: committed rows quietly missing
    * from later probes would look like an ingest bug), and for the raw
    * families the standing corpus size — overlay/corpus row ratio is
    * THE compaction dial (when committed rows are a meaningful fraction
    * of the corpus, [[ingestCompact]] or regenerate), and n_segments is
    * the OTHER dial (per-probe plan cost grows with the chain; fold past
    * the measured segment budget — DESIGN.md §0.-6). `n_orphan_segments`
    * counts published-but-unmanifested dirs (crashed commits /
    * un-GC'd compaction inputs — invisible to reads, reclaimed by the
    * next compact). Segment/row statistics come from the manifest
    * chain and corpus sizes from the persisted 1-row count artifacts,
    * so on a warm store this runs ZERO Spark jobs (VERDICT r17 — the
    * per-family count jobs and the per-call corpus count are gone). */
  private[graft] def ingestOverlayReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hasDocs = graft.sources.Store.exists(s"$d/documents.parquet")
    val hasVecs = graft.sources.Store.exists(s"$d/embeddings.parquet")
    val current: Set[String] =
      (if (hasDocs) Set(famDocsRaw, famDocsDeleted, Curation.famDocHashes,
        famHotShingles, famDocShingles, famMinhashSigs, famSubstrPostings)
       else Set.empty[String]) ++
      (if (hasVecs) Set(famVecsRaw, famVecsDeleted,
        famLshcOwn(d, lshcNbits(embCount(s, d))),
        famLshMulti, famSemAssign(d), famSemAssign2(d), famIvfkAssign2(d),
        famPqCodesWide(d)) else Set.empty[String])
    val eff = IndexOverlay.effectiveEntries(d).groupBy(_.family)
    val rows = IndexOverlay.families(d).map { fam =>
      val es = eff.getOrElse(fam, Seq.empty)
      val manifested = es.map(_.seg).toSet
      val orphans = IndexOverlay.segDirsOnDisk(d, fam)
        .count(f => !manifested.contains(f.name))
      // current-generation snapshot size when promoted (from the gen
      // meta — still zero jobs); the frozen gen-0 count otherwise
      val gen = CorpusGen.current(d)
      val corpusRows: Option[Long] =
        if (fam == famDocsRaw && hasDocs)
          Some(gen.flatMap(_.tableRows.get("documents")).getOrElse(docCount(s, d)))
        else if (fam == famVecsRaw && hasVecs)
          Some(gen.flatMap(_.tableRows.get("embeddings")).getOrElse(embCount(s, d)))
        else None
      (fam, current.contains(fam), es.size, es.map(_.rows).sum, orphans, corpusRows)
    }
    rows.toDF("family", "live", "n_segments", "n_rows",
        "n_orphan_segments", "corpus_rows")
      .orderBy("family")
  }

  /** COMPACT the overlay ([[graft.Ingest.compact]]) — the fold-back
    * quarter of the lifecycle (VERDICT r17): bound per-probe cost (every
    * `ov()` read unions every manifested segment, every append attempt
    * lists them) without the O(corpus) regeneration. Per family, all
    * effective segments coalesce into ONE holding exactly the VISIBLE
    * rows under the chain's sequence rule — deleted rows and the
    * superseded copies behind a replace/re-insert physically leave
    * disk — and the tombstone sets shrink to corpus-stored ids only: a
    * base row must stay hidden whether its id was deleted or replaced
    * (its newest row rides the same `_full` manifest, which the folded
    * tombstone does not shadow), while an overlay-only id's tombstone
    * folds away with its rows. Stranded-geometry
    * families are carried through, not dropped: a dial change back to
    * old geometry would make their name live again.
    *
    * PROBE-INVARIANT by construction: rows are moved, never re-derived —
    * re-deriving (e.g. minhash signatures from raw docs) could land in a
    * different capped-shingle universe than the per-batch commits used,
    * silently changing probe results. The one row-level transform is an
    * all-column dedup, identity on a well-formed overlay (each commit's
    * rows are id-novel) and the healer for crash/same-id-race duplicates
    * (exact twins collapse).
    *
    * Crash-safe via the manifest chain: new segments publish invisibly,
    * ONE `_full` manifest flips the chain atomically (readers never see
    * doubled or missing rows), and only then is the old state
    * garbage-collected — a crash before the flip leaves orphans for the
    * next compact; after it, only un-GC'd garbage. EXCLUSIVE writer, no
    * in-flight readers (the GC deletes dirs a long-running old-chain
    * plan could still be scanning — [[graft.IndexOverlay.gc]]).
    *
    * EAGER; O(overlay rows + tombstones), never O(corpus) — except the
    * tombstone fold's semi-join against the corpus ID COLUMN (a
    * single-column scan, and only when tombstones exist). Returns one
    * row per effective family: (family, n_segments_in, n_rows_in,
    * segment, n_rows) — `segment` null when the family folded to
    * nothing. */
  private[graft] def ingestCompact(s: SparkSession, d: String,
      retainMillis: Long = 0L): DataFrame = {
    val eff = IndexOverlay.effectiveEntries(d).groupBy(_.family)
    if (eff.isEmpty) {
      // nothing committed: just reclaim crashed-commit orphans — under the
      // SAME grace window as the full fold (ADVICE r19: a compact right
      // after a promote must not delete grace-retained retired manifests
      // inside the window the promote promised in-flight readers)
      IndexOverlay.gc(d, retainMillis)
      return commitCompactReport(s, Seq.empty)
    }
    val delDoc = IndexOverlay.read(s, d, famDocsDeleted)
      .map(df => df.select(col("doc_id")).distinct())
    val delVec = IndexOverlay.read(s, d, famVecsDeleted)
      .map(df => df.select(col("vec_id")).distinct())
    val tombFams = Set(famDocsDeleted, famVecsDeleted)
    val dataOut = eff.keys.filterNot(tombFams).toSeq.sorted.map { fam =>
      // the fold keeps exactly the VISIBLE rows under the chain's
      // sequence rule — a replaced/re-inserted id keeps its newest row
      // (an all-tombstone anti-join would drop it), the superseded
      // copies and deleted rows leave disk; distinct() is identity on a
      // well-formed overlay and the healer for crash/race duplicates
      val cols = IndexOverlay.read(s, d, fam).get.columns.toSet
      val delFam =
        if (cols("doc_id")) famDocsDeleted
        else if (cols("vec_id") || cols("nid")) famVecsDeleted
        else "" // non-id-keyed (hot-shingle cap): a set, dedup only
      val idCol =
        if (cols("doc_id")) "doc_id" else if (cols("vec_id")) "vec_id" else "nid"
      val folded =
        if (delFam.isEmpty) IndexOverlay.read(s, d, fam).get.distinct()
        else overlayVisible(s, d, fam, idCol, delFam).get.distinct()
      (fam, IndexOverlay.append(s, d, fam, folded))
    }
    // tombstone fold LAST (their new content must reflect what the data
    // families above were filtered with): keep corpus-stored ids only —
    // a base row must stay hidden whether its id was deleted or
    // replaced/re-inserted (the newest row rides the SAME full manifest,
    // which the folded tombstone does not shadow), while an id that
    // lived only in the overlay is physically gone now, so its
    // tombstone folds away and the id is novel again
    val tombOut = Seq(
      (famDocsDeleted, delDoc, "doc_id"),
      (famVecsDeleted, delVec, "vec_id")).flatMap {
      case (fam, del, idCol) => del.map { ids =>
        // "corpus-stored" means the CURRENT generation's snapshot when
        // one exists (a promoted id's base row is in the snapshot, not
        // the source parquet)
        val corpusIds =
          if (idCol == "doc_id") corpusDocs(s, d).select(col(idCol))
          else corpusVecs(s, d).select(col(idCol))
        (fam, IndexOverlay.append(s, d, fam,
          ids.join(corpusIds, Seq(idCol), "left_semi")))
      }
    }
    val out = dataOut ++ tombOut
    IndexOverlay.publishManifest(s, d,
      out.collect { case (fam, (p, n)) if n > 0L => (fam, p, n) }, full = true)
    out.collect { case (_, (p, 0L)) => p }.foreach(IndexOverlay.discardSegment)
    IndexOverlay.gc(d, retainMillis)
    commitCompactReport(s, out.map { case (fam, (p, n)) =>
      val before = eff.getOrElse(fam, Seq.empty)
      (fam, before.size, before.map(_.rows).sum,
        if (n > 0L) p else null, n)
    })
  }

  private def commitCompactReport(s: SparkSession,
      rows: Seq[(String, Int, Long, String, Long)]): DataFrame = {
    import s.implicits._
    rows.toDF("family", "n_segments_in", "n_rows_in", "segment", "n_rows")
      .orderBy("family")
  }

  /** PROMOTE the standing state into a fresh corpus GENERATION
    * ([[graft.Ingest.promote]], VERDICT r18 task 1 — the verb that lets
    * the overlay return to EMPTY): fold base ∪ visible overlay −
    * tombstones into new base artifacts and corpus snapshots under
    * [[CorpusGen]], flip atomically (the generation's watermark retires
    * every overlay manifest in the same publish — no window of doubled
    * or missing rows), then reclaim the retired chain and the previous
    * generation (grace-period-aware, like compaction's GC).
    *
    * FROZEN-GEOMETRY flavor (the documented pick): per index family the
    * promoted artifact is EXACTLY the standing corpus-side view the
    * probes read (the std* readers) — rows are moved, never re-derived,
    * so promotion is PROBE-INVARIANT by the same construction as
    * [[ingestCompact]]'s fold; hyperplanes, centroids, codebooks and
    * the persisted-N bit dial keep reading gen-0 artifacts, and
    * [[graft.Ingest.geometryReport]] says when frozen geometry has
    * drifted past usefulness. The RETRAIN flavor is promote + a re-dial:
    * new geometry mints new family/stage names whose artifacts then
    * derive from the PROMOTED snapshot (recall must be re-measured —
    * RECALL.json protocol).
    *
    * HEAL (VERDICT r18 task 2): any standing raw id MISSING from a
    * family's fold — a commit made under an older geometry dial left
    * its derived rows in stranded families which stopped being read —
    * is re-derived from the snapshot under the CURRENT geometry via the
    * commit recipes ([[commitDocFamilies]]/[[commitVecFamilies]]) and
    * unioned into the promoted artifact, so previously-vanished
    * committed docs rejoin every probe. On a well-formed store the heal
    * sets are empty and promotion is a pure fold.
    *
    * Sequencing contract: EXCLUSIVE writer, like compact — and since
    * r20 the contract is ENFORCED, not just documented (VERDICT r19
    * task 3): the watermark is re-read AFTER the generation publish,
    * and if a commit landed a manifest above the entry watermark while
    * the fold ran — a manifest the fold MAY have read (plan
    * construction and the flip are not one atomic step) but the flip
    * did not retire, i.e. potentially doubled rows — the suspect
    * generation is rolled back (deleted before any GC ran, so the
    * previous state is fully intact) and the fold RETRIES under a
    * fresh watermark that includes the racing commit. Bounded retries;
    * a store with a commit landing inside every attempt stays loud
    * instead of silently doubling. A no-commits store (watermark
    * unchanged since the last promotion) is a no-op returning an empty
    * report. EAGER; O(corpus) — this is the rebuild-shaped verb,
    * amortized across the commits it folds; cost measured in
    * CommitBench. Returns one row per promoted object: (family,
    * kind∈table|artifact, n_rows). */
  private[graft] def ingestPromote(s: SparkSession, d: String,
      retainMillis: Long = 0L,
      nbuckets: Int = CorpusGen.DEFAULT_BUCKETS): DataFrame = {
    var attempts = 0
    var out: Option[DataFrame] = None
    while (out.isEmpty) {
      out = ingestPromoteOnce(s, d, retainMillis, nbuckets)
      attempts += 1
      if (out.isEmpty && attempts >= 8) throw new IllegalStateException(
        s"promote of '$d' lost $attempts consecutive races against " +
          "concurrent commits — quiesce the committing writer and re-run")
    }
    out.get
  }

  /** Test seam (VERDICT r19 task 3): invoked right after the promote
    * watermark is read and before the fold plans are constructed — the
    * window where a racing commit's manifest is read by the fold but
    * not retired by the flip. Production value is a no-op. */
  private[graft] var promoteEntryHook: String => Unit = _ => ()

  /** One promote attempt: Some(report) on success / clean no-op, None
    * when a racing commit was detected after the flip (the caller
    * re-folds under a watermark that includes it). */
  /** One per-family fold unit: the folded standing view, its heal id
    * column (None = self-completing), the physical id column (empty =
    * SET-shaped, written whole), the previous generation's bucket refs
    * carried forward verbatim, and whether the fold is PARTIAL (touched
    * buckets only — heal scope shrinks with it). */
  private final case class FamFold(fam: String, folded: DataFrame,
    healCol: Option[String], idCol: String,
    carried: Seq[CorpusGen.BRef], partial: Boolean)

  private def ingestPromoteOnce(s: SparkSession, d: String,
      retainMillis: Long, nbuckets: Int): Option[DataFrame] = {
    import s.implicits._
    val hasDocs = graft.sources.Store.exists(s"$d/documents.parquet")
    val hasVecs = graft.sources.Store.exists(s"$d/embeddings.parquet")
    val wm = math.max(IndexOverlay.maxManifestId(d), CorpusGen.watermark(d))
    if (wm == CorpusGen.watermark(d))
      return Some(Seq.empty[(String, String, Long)].toDF("family", "kind", "n_rows"))
    promoteEntryHook(d)
    val t0 = System.nanoTime()
    // folded overlay volume, for the cadence stats below — raw-family
    // rows from the manifest chain (driver-side metadata, zero jobs)
    val ovRowsIn = IndexOverlay.effectiveEntries(d)
      .filter(e => e.family == famDocsRaw || e.family == famVecsRaw)
      .map(_.rows).sum
    val prev = CorpusGen.current(d)
    val nextId = prev.map(_.id + 1).getOrElse(1)
    // the bucket dial is fixed at the FIRST promotion — a row's bucket
    // must never move, or carried-forward refs would misplace it
    val nb = prev.map(_.nbuckets).filter(_ > 0).getOrElse(nbuckets)
    val nbits = if (hasVecs) lshcNbits(embCount(s, d)) else 0
    // plain numeric-id bucketing: engine-portable, stable forever, and
    // prunable at the PATH level (each bucket is its own dir)
    def bkt(c: Column): Column = pmod(c, lit(nb.toLong)).cast(IntegerType)

    // ---- TOUCHED buckets per domain (VERDICT r19 task 2): every id the
    // overlay mentions — committed/replaced raw rows, tombstones — and
    // therefore every heal candidate (stranded ids are committed ids).
    // One tiny distinct over O(overlay) rows per domain; ≤ nb values.
    def touchedOf(rawFam: String, delFam: String): Set[Int] = {
      val parts = Seq(rawFam, delFam).flatMap(f => IndexOverlay.read(s, d, f)
        .map(df => df.select(col(df.columns.head).cast(LongType).as("id"))))
      parts.reduceOption(_ unionByName _) match {
        case Some(u) => u.select(bkt(col("id")).as("b")).distinct()
          .collect().map(_.getInt(0)).toSet
        case None => Set.empty
      }
    }
    val touchedD = if (hasDocs) touchedOf(famDocsRaw, famDocsDeleted) else Set.empty[Int]
    val touchedV = if (hasVecs) touchedOf(famVecsRaw, famVecsDeleted) else Set.empty[Int]

    // fold plan per family: PARTIAL (prev-gen bucket refs pruned to the
    // touched set + untouched refs carried forward) when the previous
    // generation carries bucket refs for it; FULL otherwise (first
    // promote, legacy layout, or a family minted since — e.g. by a
    // retrain re-dial — where there is nothing to reference)
    def fold(fam: String, touched: Set[Int], idCol: String,
        healCol: Option[String], isDoc: Boolean,
        full: => DataFrame): FamFold =
      CorpusGen.artifactBuckets(s, d, fam, touched) match {
        case Some(base) =>
          val carried = prev.get.artB.getOrElse(fam, Nil)
            .filterNot(r => touched.contains(r.bucket))
          val view = if (isDoc) ovDoc(s, d, fam, base)
            else ovVec(s, d, fam, base, idCol)
          FamFold(fam, view, healCol, idCol, carried, partial = true)
        case None => FamFold(fam, full, healCol, idCol, Nil, partial = false)
      }

    // rank-1 drift assignment: no overlay family of its own — base rows
    // carry over tomb-filtered (no rescoring), overlay members assign
    // fresh under the frozen centroids ([[driftMembers]]'s semantics,
    // partial-fold shape)
    def foldAssign1(): FamFold =
      CorpusGen.artifactBuckets(s, d, famIvfkAssign1(d), touchedV) match {
        case Some(baseAsg) =>
          val base = minusDeleted(s, d, baseAsg, "vec_id", famVecsDeleted)
          val view = overlayVisible(s, d, famVecsRaw, "vec_id", famVecsDeleted) match {
            case Some(ovRaw) => base.unionByName(ivfKCellsFor(
              ovRaw.select(col("vec_id"), col("embedding")), ivfKCentroids(s, d), 1))
            case None => base
          }
          val carried = prev.get.artB.getOrElse(famIvfkAssign1(d), Nil)
            .filterNot(r => touchedV.contains(r.bucket))
          FamFold(famIvfkAssign1(d), view, None, "vec_id", carried, partial = true)
        case None => FamFold(famIvfkAssign1(d),
          driftMembers(s, d).select(col("vec_id"), col("cell")),
          None, "vec_id", Nil, partial = false)
      }

    // all fold views constructed under ONE pinned generation snapshot
    // (base refs and chain watermark must agree — ADVICE r19)
    val (docFolds, vecFolds, tblDoc, tblVec) = CorpusGen.pinned(d) {
      val dFolds: Seq[FamFold] = if (!hasDocs) Nil else Seq(
        fold(Curation.famDocHashes, touchedD, "doc_id", Some("doc_id"),
          isDoc = true, stdDocHashes(s, d)),
        FamFold(famHotShingles, stdHotShingles(s, d).distinct(),
          None, "", Nil, partial = false), // SET-shaped: always whole
        fold(famDocShingles, touchedD, "doc_id", Some("doc_id"),
          isDoc = true, stdDocShingles(s, d)),
        fold(famMinhashSigs, touchedD, "doc_id", Some("doc_id"),
          isDoc = true, stdMinhashSigs(s, d)),
        fold(famSubstrPostings, touchedD, "doc_id", Some("doc_id"),
          isDoc = true, stdSubstrPostings(s, d)))
      val vFolds: Seq[FamFold] = if (!hasVecs) Nil else Seq(
        fold(famLshcOwn(d, nbits), touchedV, "vec_id", Some("vec_id"),
          isDoc = false, stdLshcOwn(s, d, nbits)),
        fold(famLshMulti, touchedV, "vec_id", Some("vec_id"),
          isDoc = false, stdLshMulti(s, d)),
        fold(famSemAssign(d), touchedV, "vec_id", Some("vec_id"),
          isDoc = false, stdSemAssign(s, d)),
        fold(famSemAssign2(d), touchedV, "vec_id", Some("vec_id"),
          isDoc = false, stdSemAssign2(s, d)),
        fold(famIvfkAssign2(d), touchedV, "vec_id", Some("vec_id"),
          isDoc = false, stdIvfkAssign2(s, d)),
        fold(famPqCodesWide(d), touchedV, "nid", Some("nid"),
          isDoc = false, stdPqCodesWide(s, d)),
        foldAssign1())
      // snapshot-table folds: the standing view over the touched base
      // buckets only (overlay ids all fall in touched buckets), plus the
      // untouched refs carried forward
      def tbl(name: String, idCol: String, rawFam: String,
          fullView: => DataFrame, touched: Set[Int]): (DataFrame, Seq[CorpusGen.BRef], Boolean) =
        CorpusGen.tableBuckets(s, d, name, touched) match {
          case Some(base) =>
            val carried = prev.get.tblB.getOrElse(name, Nil)
              .filterNot(r => touched.contains(r.bucket))
            val view = if (idCol == "doc_id") ovDoc(s, d, rawFam, base)
              else ovVec(s, d, rawFam, base)
            (view, carried, true)
          case None => (fullView, Nil, false)
        }
      val tD = if (hasDocs)
        Some(tbl("documents", "doc_id", famDocsRaw, visibleDocs(s, d), touchedD))
      else None
      val tV = if (hasVecs)
        Some(tbl("embeddings", "vec_id", famVecsRaw, visibleVecs(s, d), touchedV))
      else None
      (dFolds, vFolds, tD, tV)
    }

    val genPath = CorpusGen.publish(d, nextId, wm, nb) { tmp =>
      val tables = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val arts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val tbRefs = scala.collection.mutable.ArrayBuffer.empty[(String, CorpusGen.BRef)]
      val abRefs = scala.collection.mutable.ArrayBuffer.empty[(String, CorpusGen.BRef)]

      // bucketed write: one dir per non-empty bucket, one file per
      // bucket (the repartition groups each bucket into one task)
      def writeBucketed(tmpDir: String, out: DataFrame,
          idCol: String): Seq[CorpusGen.BRef] = {
        out.withColumn("_bkt", bkt(col(idCol)))
          .repartition(col("_bkt"))
          .write.partitionBy("_bkt").parquet(tmpDir)
        graft.sources.Store.list(tmpDir)
          .filter(f => f.isDir && f.name.startsWith("_bkt="))
          .map(f => CorpusGen.BRef(f.name.stripPrefix("_bkt=").toInt,
            graft.sources.Store.parquetRowCount(f.path), f.path))
      }

      def writeFams(snapTouched: DataFrame, snapAll: DataFrame, snapId: String,
          folds: Seq[FamFold], noTouch: Boolean,
          derive: DataFrame => Seq[(String, DataFrame)]): Unit = {
        // per-family heal set: standing ids the fold does not cover — a
        // PARTIAL fold can only miss ids in its touched buckets
        // (untouched refs carry verbatim), a FULL fold heals over the
        // whole snapshot
        val missing: Map[String, DataFrame] = folds.collect {
          case FamFold(fam, folded, Some(c), _, _, partial)
              if !(partial && noTouch) =>
            val scope = if (partial) snapTouched else snapAll
            fam -> scope
              .join(folded.select(col(c).as(snapId)).distinct(),
                Seq(snapId), "left_anti")
              .select(snapId)
        }.toMap
        // one derive pass over the union of all heal sets (pinned — the
        // anti-joins above are the only corpus-side passes they run)
        val healIds = missing.values.reduceOption(_ union _)
          .map(_.distinct().localCheckpoint())
        val derived: Map[String, DataFrame] = healIds match {
          case Some(ids) if !ids.isEmpty =>
            derive(snapAll.join(ids, Seq(snapId), "left_semi")).toMap
          case _ => Map.empty
        }
        folds.foreach { case FamFold(fam, folded, healCol, idCol, carried, partial) =>
          val out = (healCol, derived.get(fam)) match {
            case (Some(c), Some(dv)) =>
              folded.unionByName(
                dv.join(missing(fam).select(col(snapId).as(c)), Seq(c), "left_semi")
                  .select(folded.columns.map(col).toIndexedSeq: _*))
            case _ => folded
          }
          if (idCol.isEmpty) { // set-shaped: whole artifact, no refs
            out.write.parquet(s"$tmp/art/$fam")
            arts += fam -> graft.sources.Store.parquetRowCount(s"$tmp/art/$fam")
          } else if (partial && noTouch) {
            // nothing in this domain moved: carry every ref, zero jobs
            arts += fam -> carried.map(_.rows).sum
            abRefs ++= carried.map(fam -> _)
          } else {
            val fresh = writeBucketed(s"$tmp/art/$fam", out, idCol)
            val all = fresh ++ carried
            if (all.isEmpty) graft.sources.Store.delete(s"$tmp/art/$fam")
            else { // a 0-row family is DROPPED from the meta: readers
              // then fall back to gen-0 ∩ snapshot = empty, correctly
              arts += fam -> all.map(_.rows).sum
              abRefs ++= all.map(fam -> _)
            }
          }
        }
      }

      // write one snapshot table; returns (touched-bucket read-back,
      // full-snapshot read-back) — heal scope and heal derive both read
      // the DISK fold (deterministic parquet, never the live plan)
      def writeTable(name: String, idCol: String, noTouch: Boolean,
          plan: (DataFrame, Seq[CorpusGen.BRef], Boolean)): (DataFrame, DataFrame) = {
        val (view, carried, partial) = plan
        val fresh =
          if (partial && noTouch) Seq.empty[CorpusGen.BRef] // zero jobs
          else writeBucketed(s"$tmp/tables/$name", view, idCol)
        tables += name -> (fresh ++ carried).map(_.rows).sum
        tbRefs ++= (fresh ++ carried).map(name -> _)
        val touchedBack =
          if (fresh.nonEmpty) s.read.parquet(s"$tmp/tables/$name").drop("_bkt")
          else s.read.parquet(carried.map(_.path): _*).where(lit(false))
        val all =
          if (carried.isEmpty) touchedBack
          else touchedBack.unionByName(s.read.parquet(carried.map(_.path): _*))
        (touchedBack, all)
      }

      if (hasDocs) {
        val (snapT, snapA) =
          writeTable("documents", "doc_id", touchedD.isEmpty, tblDoc.get)
        writeFams(snapT, snapA, "doc_id", docFolds, touchedD.isEmpty,
          commitDocFamilies(s, d, _))
      }
      if (hasVecs) {
        val (snapT, snapA) =
          writeTable("embeddings", "vec_id", touchedV.isEmpty, tblVec.get)
        writeFams(snapT, snapA, "vec_id", vecFolds, touchedV.isEmpty,
          commitVecFamilies(s, d, _))
      }
      (tables.toSeq, arts.toSeq, tbRefs.toSeq, abRefs.toSeq)
    }
    // ENFORCE the exclusive-writer contract (VERDICT r19 task 3): if a
    // commit landed a manifest above the entry watermark while the fold
    // ran, the fold may have read it (construction raced the landing)
    // while the flip did not retire it — doubled rows. Nothing has been
    // GC'd yet, so deleting the suspect generation restores the exact
    // pre-promote state (previous gen + full chain); the caller retries
    // under a watermark that includes the racer. The window between the
    // publish and this rollback is the documented residual: a reader
    // sampling the suspect gen inside it sees the doubled rows the old
    // code served FOREVER.
    if (IndexOverlay.maxManifestId(d) > wm) {
      graft.sources.Store.delete(genPath)
      graft.sources.Store.delete(s"$genPath.lock")
      return None
    }
    // the flip retired every manifest ≤ wm and superseded the previous
    // generation; reclaim both outside the grace window
    IndexOverlay.gc(d, retainMillis)
    CorpusGen.gcGens(d, retainMillis)
    val g = CorpusGen.current(d).get
    // cadence stats for [[ingestPromoteReport]]'s cost model (VERDICT
    // r19 task 6): what this fold cost and what it folded — a tiny
    // observability overwrite, not lifecycle state (losing it only
    // blanks the estimate column until the next promote)
    CorpusGen.writePromoteStats(d,
      sec = (System.nanoTime() - t0) / 1e9,
      overlayRows = ovRowsIn,
      corpusRows = g.tableRows.values.sum)
    Some((g.tableRows.toSeq.sorted.map { case (n, r) => (n, "table", r) } ++
      g.artRows.toSeq.sorted.map { case (n, r) => (n, "artifact", r) })
      .toDF("family", "kind", "n_rows"))
  }

  /** Promote-cadence observability ([[graft.Ingest.promoteReport]],
    * VERDICT r19 task 6): ONE row of the dials the promote decision
    * needs, all driver-side metadata (chain + gen meta + the stats file
    * the last promote wrote — zero Spark jobs on a warm store):
    * standing overlay rows (raw families, seq-effective), corpus rows
    * (current generation's snapshot, else the gen-0 count artifacts),
    * their ratio, the chain's manifest count, the LAST promote's
    * measured wall seconds and the rows it folded, and an estimate for
    * promoting NOW — the measured fold is O(corpus + overlay), so the
    * estimate scales the last cost by standing total rows (the honest
    * model for the monolithic fold; the r20 partial fold makes the
    * estimate conservative). `promote_suggested` applies the caller's
    * `maxOverlayRatio` — the same shape as [[graft.Ingest
    * .compactIfNeeded]]'s segment budget, so a commit-driven pipeline
    * drives BOTH dials from reports instead of eyeballs. */
  private[graft] def ingestPromoteReport(s: SparkSession, d: String,
      maxOverlayRatio: Double): DataFrame = {
    import s.implicits._
    val hasDocs = graft.sources.Store.exists(s"$d/documents.parquet")
    val hasVecs = graft.sources.Store.exists(s"$d/embeddings.parquet")
    val ovRows = IndexOverlay.effectiveEntries(d)
      .filter(e => e.family == famDocsRaw || e.family == famVecsRaw)
      .map(_.rows).sum
    val nManifests = IndexOverlay.effectiveEntriesSeq(d).map(_._1).distinct.size
    val gen = CorpusGen.current(d)
    val corpusRows =
      gen.map(_.tableRows.values.sum).getOrElse(
        (if (hasDocs) docCount(s, d) else 0L) +
          (if (hasVecs) embCount(s, d) else 0L))
    val ratio =
      if (corpusRows == 0L) (if (ovRows > 0L) Double.PositiveInfinity else 0.0)
      else ovRows.toDouble / corpusRows
    val stats = CorpusGen.readPromoteStats(d)
    val est = stats.map { case (sec, _, lastCorpus) =>
      if (lastCorpus == 0L) sec
      else sec * (corpusRows + ovRows).toDouble / lastCorpus }
    Seq((ovRows, corpusRows, ratio, nManifests,
        stats.map(_._1), stats.map(_._2), est,
        ovRows > 0L && ratio >= maxOverlayRatio))
      .toDF("overlay_rows", "corpus_rows", "overlay_ratio", "n_manifests",
        "last_promote_s", "last_folded_rows", "est_promote_s",
        "promote_suggested")
  }

  /** RETRAIN the vector geometry ([[graft.Ingest.retrain]], VERDICT r19
    * task 1 — the callable remedy [[ingestGeometryReport]] prescribes):
    *
    *  1. [[ingestPromote]] folds the standing state — base ∪ committed −
    *     deleted — into a fresh corpus snapshot (no-op when already
    *     clean), so the training set IS the merged corpus and the
    *     overlay is EMPTY at the re-dial (no id can strand).
    *  2. Every vector geometry stage re-trains EAGERLY from that
    *     snapshot under the NEXT epoch's names ([[graft.GeomEpoch]]):
    *     the data-bound dials re-derive from the standing count —
    *     lshc nbits from standing N, ⌈√N⌉ trained-k cells, ⌈N/c⌉
    *     semantic cells — and the trained geometry (hyperplane buckets,
    *     centroids, two-level quantizer, PQ codebooks) plus every
    *     corpus assignment artifact re-derives over the snapshot, so
    *     probes cover ALL standing ids (committed-then-promoted ones
    *     included) and deleted ids are physically absent.
    *  3. One atomic epoch publish FLIPS the store: stage keys and
    *     overlay family names resolve to `__gE` from here on. Segments
    *     committed under the old geometry strand (correct and visible
    *     in [[ingestOverlayReport]], like any re-dial; the next promote
    *     heals stragglers), and later commits derive under the new
    *     dials.
    *
    * Probe results are NOT invariant across a retrain — that is the
    * point (new geometry, re-measure recall: the RECALL.json protocol
    * re-runs against the retrained store; LlmSpec bounds the registered
    * recall queries, IngestSpec asserts post-retrain coverage). Doc
    * families and the N-independent multi-table LSH keep their names —
    * no dial of theirs derives from N. EXCLUSIVE writer like promote; a
    * crash before the flip leaves the old epoch fully readable, and the
    * re-run purges the partial next-epoch artifacts (they may predate
    * commits the re-run's promote folds) before rebuilding. EAGER;
    * O(corpus) training cost, measured in CommitBench beside promote.
    * Returns the minted inventory: the epoch + re-derived dials, and
    * one row per artifact with its footer-exact row count. */
  private[graft] def ingestRetrain(s: SparkSession, d: String,
      retainMillis: Long = 0L): DataFrame = {
    import s.implicits._
    require(graft.sources.Store.exists(s"$d/embeddings.parquet"),
      s"retrain re-dials VECTOR geometry and '$d' has no embeddings table")
    ingestPromote(s, d, retainMillis)
    val gen = CorpusGen.current(d)
    val standingN = gen.flatMap(_.tableRows.get("embeddings"))
      .getOrElse(embCount(s, d))
    val standingDocs = gen.flatMap(_.tableRows.get("documents")).getOrElse(
      if (graft.sources.Store.exists(s"$d/documents.parquet")) docCount(s, d)
      else 0L)
    val next = GeomEpoch.Ep(GeomEpoch.epoch(d) + 1, standingN, standingDocs,
      gen.map(_.id).getOrElse(0))
    // a crashed retrain's partial artifacts trained on an OLDER snapshot:
    // purge and rebuild (the epoch was never published, no reader ever
    // resolved these names); drop this session's memos of them too
    if (GeomEpoch.purgePartial(d, next.epoch)) Tables.evictMemoized(s, Some(d))
    val minted: Seq[String] = GeomEpoch.withEpoch(d, next) {
      val nbits = lshcNbits(embCount(s, d))
      lshcProbes(s, d)
      ivfKCentroids(s, d); ivfKAssign(s, d); ivfKAssign2(s, d); ivfKProbes(s, d)
      semCoarseCentroids(s, d); semCoarseAssign(s, d); semFineCentroids(s, d)
      semAssign(s, d); semAssign2(s, d); semMaxCell(s, d)
      pqCodebooks(s, d); pqCodes(s, d)
      Seq(
        gk(d, s"lshc_${LSHC_TABLES}x${nbits}c$LSHC_CELL"),
        gk(d, "ivfk_centroids_sqrtn_lloyd1"), gk(d, "ivfk_assign_sqrtn"),
        gk(d, "ivfk_assign2_top2"), gk(d, "ivfk_probes_2sqrtk"),
        gk(d, s"sem2_coarse_nc${SEM_CELL}_lloyd1"),
        gk(d, s"sem2_coarse_assign_nc$SEM_CELL"),
        gk(d, s"sem2_fine_nc${SEM_CELL}_lloyd1"),
        gk(d, s"sem2_assign_nc$SEM_CELL"),
        gk(d, s"sem2_assign_top2_nc$SEM_CELL"),
        gk(d, s"sem2_cellmax_nc$SEM_CELL"),
        gk(d, s"pq_codebooks_m${PQ_M}k${PQ_K}_lloyd$PQ_LLOYD"),
        gk(d, s"pq_codes_m${PQ_M}k${PQ_K}_lloyd$PQ_LLOYD"))
    }
    GeomEpoch.publish(d, next)
    (Seq(("epoch", "geometry", next.epoch.toLong),
      ("emb_count", "dial", standingN),
      ("lshc_nbits", "dial", lshcNbits(standingN).toLong)) ++
      minted.map(st => (st, "artifact",
        graft.sources.Store.parquetRowCount(s"${Tables.indexDir(d)}/$st"))))
      .toDF("family", "kind", "n_rows")
  }

  /** Lifecycle-aware index drift ([[graft.Ingest.driftReport]]):
    * q_index_drift's frozen-centroid residual computed over
    * base ∪ COMMITTED − deleted vectors. The registered query measures
    * the BASE corpus only (correct for the oracle gate — registered
    * plans must never see the overlay), but committed batches are
    * exactly the new-distribution data that should drive a rebuild
    * (VERDICT r17): off-distribution commits flip cells stale HERE
    * while the registered query stays green. Committed members take
    * their rank-1 cell fresh under the frozen centroids — bit-identical
    * to what [[ivfKAssign]] would have assigned them — at O(committed·k)
    * cost; the base side reads the persisted assignment artifact. */
  /** Frozen-centroid residual over an arbitrary member set
    * (cell, embedding): per trained-k cell, how far one more Lloyd step
    * would move the frozen centroid given these members (drift =
    * 1 − cosine of frozen centroid vs current member mean); a cell is
    * stale when it drifted past [[DRIFT_TAU]] or lost every member. The
    * member-mean agg is the same decimal-mean shape as training,
    * map-side combinable, k×dims result rows at any corpus size. Shared
    * by the registered q_index_drift (base members) and
    * [[ingestDriftReport]] (base ∪ committed − deleted). */
  private def ivfDriftFrom(cents: DataFrame, members: DataFrame): DataFrame = {
    val comp = members
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg((sum(col("x").cast(DEC)).cast(DoubleType) / count(lit(1))).as("m"),
        count(lit(1)).as("nm"))
    val meansNow = comp.groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        f => f.getField("m")).as("mean_now"),
        max(col("nm")).as("nm"))
    val dot = aggregate(zip_with(col("centroid"), col("mean_now"), (x, v) => x * v),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(col("centroid"), lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(col("mean_now"), lit(0.0), (acc, x) => acc + x * x))
    cents.join(meansNow, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("nm"), lit(0L)).as("n_members"),
        r4(lit(1.0) - dot / (na * nb)).as("drift"))
      .withColumn("stale",
        col("n_members") === 0 || col("drift") > DRIFT_TAU)
      .orderBy("cell")
  }

  /** Name of the rank-1 trained-k assignment as a GENERATION artifact:
    * promote folds the standing member assignment under it so the drift
    * view keeps covering promoted rows (there is no overlay family for
    * rank-1 — committed members assign fresh from raw). Matches the
    * gen-0 stage key. */
  private[graft] def famIvfkAssign1(d: String) = gk(d, "ivfk_assign_sqrtn")

  /** The standing drift MEMBER set — (vec_id, cell, embedding) over
    * base ∪ committed − deleted under frozen trained-k centroids: base
    * members read the persisted (gen-aware) assignment, shadowed by
    * every tombstone; overlay members must be the seq-VISIBLE rows — an
    * all-tombstone anti-join would drop replaced/re-inserted vectors
    * from the drift view — and take rank-1 cells fresh under the frozen
    * centroids (bit-identical to what the build would assign). Shared
    * by [[ingestDriftReport]] and [[ingestPromote]] (which persists
    * (vec_id, cell) as the next generation's [[famIvfkAssign1]]). */
  private def driftMembers(s: SparkSession, d: String): DataFrame = CorpusGen.pinned(d) {
    val cents = ivfKCentroids(s, d)
    val base = minusDeleted(s, d,
      corpusVecs(s, d)
        .join(genArtVec(s, d, famIvfkAssign1(d))(ivfKAssign(s, d)), "vec_id")
        .select(col("vec_id"), col("cell"), col("embedding")),
      "vec_id", famVecsDeleted)
    overlayVisible(s, d, famVecsRaw, "vec_id", famVecsDeleted) match {
      case Some(ovRaw) =>
        val o = ovRaw.select(col("vec_id"), col("embedding"))
        base.unionByName(o.join(ivfKCellsFor(o, cents, 1), "vec_id")
          .select(col("vec_id"), col("cell"), col("embedding")))
      case None => base
    }
  }

  private[graft] def ingestDriftReport(s: SparkSession, d: String): DataFrame =
    ivfDriftFrom(ivfKCentroids(s, d),
      driftMembers(s, d).select(col("cell"), col("embedding")))

  /** GEOMETRY staleness across all three crowned vector tiers
    * ([[graft.Ingest.geometryReport]], VERDICT r18 task 6): frozen
    * geometry is the lifecycle's documented trade — commits/replaces
    * derive under the dials the corpus build froze — and this report is
    * the rebuild trigger for each dial, over the STANDING member set
    * (base ∪ committed − deleted), one row per
    * (tier, key, n_members, metric, threshold, stale):
    *
    *  - `ivfk_centroid` — [[ingestDriftReport]]'s frozen-centroid
    *    residual per trained-k cell (metric = drift, threshold =
    *    [[DRIFT_TAU]]; stale also when a cell lost every member).
    *  - `lshc_occupancy` — the constant-occupancy LSH bit dial: nbits is
    *    frozen at the PERSISTED corpus count, so the realized mean
    *    occupancy (standing N / 2^nbits) grows past the design cell
    *    size [[LSHC_CELL]] as commits accumulate; stale once it exceeds
    *    2c (the point where [[lshcNbits]] would have minted more bits —
    *    candidate volume per probe has doubled).
    *  - `sem_cell_hist` — the semantic quantizer's cell-SIZE histogram
    *    (buckets of the constant-cell dial c = [[SEM_CELL]]): one row
    *    per occupancy bucket with the cell count and the largest cell;
    *    a non-empty bucket past 2c is stale — the O(N·c) pair bound the
    *    dedup tier advertises has locally doubled.
    *
    * EAGER report like [[ingestDriftReport]], O(standing members). */
  private[graft] def ingestGeometryReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ivf = ingestDriftReport(s, d).select(
      lit("ivfk_centroid").as("tier"),
      concat(lit("cell="), col("cell").cast(StringType)).as("key"),
      col("n_members"),
      col("drift").cast(DoubleType).as("metric"),
      lit(DRIFT_TAU).as("threshold"),
      col("stale"))
    val frozen = lshcNbits(embCount(s, d))
    val nVis = visibleVecs(s, d).count()
    val occ = nVis.toDouble / (1L << frozen)
    val lshc = Seq(("lshc_occupancy", s"nbits=$frozen", nVis, occ,
        2.0 * LSHC_CELL, occ > 2.0 * LSHC_CELL))
      .toDF("tier", "key", "n_members", "metric", "threshold", "stale")
    val sizes = stdSemAssign(s, d).groupBy("cell").agg(count(lit(1)).as("sz"))
    val bucket = when(col("sz") <= SEM_CELL, "(0,c]")
      .when(col("sz") <= 2 * SEM_CELL, "(c,2c]")
      .when(col("sz") <= 4 * SEM_CELL, "(2c,4c]")
      .otherwise("(4c,inf)")
    val sem = sizes.withColumn("bucket", bucket)
      .groupBy("bucket").agg(count(lit(1)).as("n_cells"), max(col("sz")).as("max_sz"))
      .select(lit("sem_cell_hist").as("tier"), col("bucket").as("key"),
        col("n_cells").as("n_members"),
        col("max_sz").cast(DoubleType).as("metric"),
        lit(2.0 * SEM_CELL).as("threshold"),
        (col("max_sz") > 2 * SEM_CELL).as("stale"))
    ivf.unionByName(lshc).unionByName(sem).orderBy("tier", "key")
  }

  /** The q_dedup_semantic_recall computation at an arbitrary cell-size
    * dial `c` — shared verbatim by the registered query (c = SEM_CELL)
    * and the production-cell-size measurement (LlmSpec drives c = 1024
    * over a synthetic near-duplicate corpus; DESIGN.md §0.-4(5) carries
    * both measured points). Truth is the label-blocked τ-pair join; the
    * visibility checks are narrow id joins against the rank-1 and top-2
    * assignments of the c-dial quantizer. */
  private[graft] def semanticRecallReport(s: SparkSession, d: String,
      c: Int): DataFrame = {
    val e = t(s, d, "embeddings")
    val a = semAssign(s, d, c)
    val truth = e.as("x").join(maybeBroadcast(e.as("y")),
        col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id"))
      .where(r4(cosine(col("x.embedding"), col("y.embedding"))) >= SEM_TAU)
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
    val caught = truth
      .join(maybeBroadcast(a.select(col("vec_id").as("va"), col("cell").as("ca"))), "va")
      .join(maybeBroadcast(a.select(col("vec_id").as("vb"), col("cell").as("cb"))), "vb")
      .where(col("ca") === col("cb"))
    // multiprobe visibility: a pair meets if the TOP-2 cell sets of its
    // ends intersect (the q_dedup_semantic_mp pair-join membership test);
    // ≤2 assignment rows per end ⇒ ≤4 join rows per pair before distinct
    val a2 = semAssign2(s, d, c)
    val caughtMp = truth
      .join(maybeBroadcast(a2.select(col("vec_id").as("va"), col("cell").as("ca"))), "va")
      .join(maybeBroadcast(a2.select(col("vec_id").as("vb"), col("cell").as("cb"))), "vb")
      .where(col("ca") === col("cb"))
      .select("va", "vb").distinct()
    // three 1-row aggregates — the bounded-crossJoin pattern
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
      .crossJoin(caughtMp.agg(count(lit(1)).as("n_caught_mp")))
      .select(col("n_truth"), col("n_caught"),
        r4(col("n_caught").cast(DoubleType) / col("n_truth")).as("cell_recall"),
        col("n_caught_mp"),
        r4(col("n_caught_mp").cast(DoubleType) / col("n_truth")).as("mp_recall"))
  }

  def queries: Seq[(String, Fn)] = Seq(
    // #42 exact dedup by normalized content hash; keeper = min doc_id.
    "q_dedup_exact" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("h", sha2(lower(trim(col("text"))), 256))
        .groupBy("h")
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .where(col("n_copies") > 1)
        .orderBy("h")),

    // Dedup APPLICATION: keep one copy per content hash (min doc_id wins)
    // and report the shrink per language — the filter step a training
    // pipeline actually runs after q_dedup_exact identifies groups. One
    // window pass, no join back to the corpus.
    "q_dedup_keep" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(sha2(lower(trim(col("text"))), 256))
        .orderBy(col("doc_id").asc)
      t(s, d, "documents")
        .withColumn("rn", row_number().over(w))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_before"),
          count_if(col("rn") === 1).as("n_after"))
        .orderBy("lang")
    }),

    // #43 exact near-dup: 3-token shingle Jaccard >= 0.8 over the
    // df-capped shingle universe (the truth oracle for the MinHash scale
    // path below). The MAX_SHINGLE_DF cap bounds the self-join at
    // maxDf·(maxDf−1)/2 rows per shingle regardless of corpus size —
    // without it one boilerplate shingle makes this quadratic (VERDICT r4
    // item 2, the scale-killer).
    "q_dedup_near" -> ((s, d) => {
      val ds = docShingles(s, d)
      // intersection counts straight off the shingle self-join — no
      // distinct-pairs pass, no second all-pairs join; memoized, shared
      // with q_dedup_containment
      val inter = pairIntersections(s, d)
      jaccardFromInter(inter, shingleCounts(ds))
        .where(col("jac") >= 0.8)
        .select("doc_a", "doc_b", "jac")
        .orderBy("doc_a", "doc_b")
    }),

    // Containment near-dup: cont = |∩| / min(|A|,|B|) over the same capped
    // shingle universe. Catches QUOTE INCLUSION — a short doc fully embedded
    // in a long one — which symmetric Jaccard dilutes toward 0 (a 20-shingle
    // doc inside a 200-shingle doc has jac ≤ 0.1 but cont = 1.0). Same
    // maxDf·(maxDf−1)/2-bounded self-join as q_dedup_near; shares its
    // memoized shingle set, so running both costs one extra agg+join, not a
    // second shingling pass.
    "q_dedup_containment" -> ((s, d) => {
      val ds = docShingles(s, d)
      val inter = pairIntersections(s, d)
      val cnt = shingleCounts(ds)
      inter
        .join(cnt.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
        .join(cnt.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
        .withColumn("cont", r4(col("inter") / least(col("na"), col("nb"))))
        .where(col("cont") >= 0.9)
        .select("doc_a", "doc_b", "cont")
        .orderBy("doc_a", "doc_b")
    }),

    // Substring-level dedup (ExactSubstr at fixed window width): per-doc
    // duplicated-SPAN report — which token ranges of each document also
    // occur verbatim in another document. Doc-level dedup (exact/near
    // above) misses partial duplication: a unique doc that embeds a 40%
    // verbatim excerpt keeps all its tokens; this query prices the
    // excerpt. Shape: postings groupBy(window hash) finds cross-doc
    // windows, an id-only join marks duplicated starts, and a per-doc
    // gaps-and-islands pass unions overlapping windows into disjoint
    // spans — O(total tokens) shuffle rows end to end, no pair join at
    // all (the window hash is the rendezvous, exactly the suffix-array
    // role). dup_ratio is the fraction of the doc's tokens a training
    // pipeline would cut (or downweight) under ExactSubstr policy.
    "q_dedup_substring" -> ((s, d) => {
      val p = substrPostings(s, d)
      val dup = p.groupBy("gh")
        .agg(count_distinct(col("doc_id")).as("ndocs"))
        .where(col("ndocs") >= 2)
        .select("gh")
      substrSpanStats(p.join(dup, "gh"))
    }),

    // Ingest face of substring dedup: a new crawl batch (doc_id%10=7, the
    // family convention) against the STANDING corpus's persisted postings
    // index — a batch position is duplicated iff its window already
    // exists corpus-side (within-batch repeats are the next full pass's
    // job, mirroring q_dedup_minhash_delta's cross-side contract). Cost
    // per ingest: O(batch windows) probe rows against the hash-bucketed
    // index, independent of corpus size; the span union then runs on
    // batch docs only.
    "q_dedup_substring_delta" -> ((s, d) => {
      val p = substrPostings(s, d)
      val corpusGh = p.where(col("doc_id") % 10 =!= 7).select("gh").distinct()
      substrSpanStats(p.where(col("doc_id") % 10 === 7).join(corpusGh, "gh"))
    }),

    // MinHash(k=8) + LSH(4 bands × 2 rows): candidates share a band bucket;
    // exact Jaccard verification only on candidates. The 100 TB dedup path.
    // Physical shape: signature rows are FIXED-SIZE (8 md5 minima, no
    // per-doc payload — the round-3/4 `weak` collect_set(shingle) column is
    // gone, so the agg buffer and every row downstream is O(k), not
    // O(document)); bands expand via a stack generator; candidate pairs
    // (tiny by construction — bounded by bucket collisions) join back
    // against the capped shingle set twice to count intersections, and
    // Jaccard is arithmetic over the counts. Per-stage memory is bounded:
    // no array column ever holds a document's shingles.
    "q_dedup_minhash" -> ((s, d) => {
      // shares the memoized capped shingle set with q_dedup_near; the
      // groupBy below reuses its doc_id hash partitioning — no extra shuffle
      val ds = docShingles(s, d)
      // few-permutation hashing: TWO md5s per shingle (one salted), the K
      // hash family is their K disjoint 8-hex-char slices (avalanche makes
      // slices independent across shingles) — 4× less hashing on the hot
      // map side for the same banding statistics. Each slice is a 32-bit
      // min statistic: a doc needs ~2^32 shingles to saturate it, vs 2^16
      // under the old 4-hex slicing where large docs got degenerate
      // near-zero signatures and band buckets collided en masse (the
      // round-8 `weak` mark; non-degeneracy asserted in LlmSpec).
      // Candidates are still verified exactly, so a weaker slice can only
      // add candidates, never wrong pairs.
      val sigs = minhashSigs(s, d)
      val bands = minhashBands(sigs)
      val cands = bands.as("ba")
        .join(maybeBroadcast(bands.as("bb")), col("ba.band") === col("bb.band") &&
          col("ba.bucket") === col("bb.bucket") && col("ba.doc_id") < col("bb.doc_id"))
        .select(col("ba.doc_id").as("doc_a"), col("bb.doc_id").as("doc_b"))
        .distinct()
      // verify: |∩| by joining candidates to doc_a's shingles, then
      // matching doc_b's copy of each shingle — mirrors the oracle's
      // cands-filtered jaccardTail; cost is O(candidate pairs × shingles
      // per doc), never all-pairs
      val withA = ds.join(maybeBroadcast(cands), col("doc_id") === col("doc_a"))
        .select(col("doc_a"), col("doc_b"), col("shingle"))
      val inter = withA.as("wa")
        .join(ds.as("sb"), col("wa.shingle") === col("sb.shingle") &&
          col("wa.doc_b") === col("sb.doc_id"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      jaccardFromInter(inter, shingleCounts(ds))
        .where(col("jac") >= 0.8)
        .select("doc_a", "doc_b", "jac")
        .orderBy("doc_a", "doc_b")
    }),

    // Incremental NEAR-dup: a new crawl batch (doc_id%10=7, the
    // q_dedup_incremental convention) against the STANDING corpus via the
    // persisted signature index — the delta shape a 100 TB pipeline runs
    // per ingest instead of re-deduping the world. Corpus side: the SAME
    // disk-backed minhash_sigs artifact q_dedup_minhash built, filtered;
    // batch side: signatures computed fresh (the index cannot contain an
    // incoming batch). Cost per ingest is O(batch bands + collisions),
    // never O(corpus²); candidates verified exactly like the full query,
    // so precision is 1 by construction.
    "q_dedup_minhash_delta" -> ((s, d) => {
      val ds = docShingles(s, d)
      val isBatch = col("doc_id") % 10 === 7
      val corpusBands = minhashBands(minhashSigs(s, d).where(!isBatch))
      val aggs = minhashSigAggs
      val batchBands = minhashBands(
        ds.where(isBatch).groupBy("doc_id").agg(aggs.head, aggs.tail: _*))
      // no doc_a < doc_b constraint: the sides are disjoint by definition
      val cands = batchBands.as("ba")
        .join(maybeBroadcast(corpusBands.as("bb")), col("ba.band") === col("bb.band") &&
          col("ba.bucket") === col("bb.bucket"))
        .select(col("ba.doc_id").as("doc_a"), col("bb.doc_id").as("doc_b"))
        .distinct()
      val withA = ds.join(maybeBroadcast(cands), col("doc_id") === col("doc_a"))
        .select(col("doc_a"), col("doc_b"), col("shingle"))
      val inter = withA.as("wa")
        .join(ds.as("sb"), col("wa.shingle") === col("sb.shingle") &&
          col("wa.doc_b") === col("sb.doc_id"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      jaccardFromInter(inter, shingleCounts(ds))
        .where(col("jac") >= 0.8)
        .select("doc_a", "doc_b", "jac")
        .orderBy("doc_a", "doc_b")
    }),

    // Hot-shingle cap observability: the MAX_SHINGLE_DF blind spot AS DATA
    // — how many shingles the cap removes, how many (doc, shingle) rows
    // that drops, and how many documents are touched. A data team sizing
    // the near-dup family's coverage reads this BEFORE trusting its pair
    // lists (the capped universe is documented to miss >maxDf boilerplate
    // clusters; exact dedup runs first as the mitigation). One df agg +
    // one bounded semi-join — no pair join, corpus-linear.
    "q_shingle_cap_report" -> ((s, d) => {
      // same rawShingles/shingleDfs derivation cappedShingles applies, so
      // the report describes exactly the hot set the dedup family drops
      val raw = rawShingles(t(s, d, "documents").repartition(col("doc_id")), 3)
      val dfs = shingleDfs(raw)
      val hot = dfs.where(col("df") > MAX_SHINGLE_DF)
      val total = dfs.agg(count(lit(1)).as("n_shingles_distinct"))
      val hotAgg = hot.agg(count(lit(1)).as("n_shingles_capped"),
        coalesce(sum(col("df")), lit(0L)).as("n_rows_dropped"))
      // hot is bounded by construction (few shingles can exceed the df
      // cap); the semi-join side is the broadcastable hot set
      val affected = raw.join(maybeBroadcast(hot.select("shingle")),
          Seq("shingle"), "left_semi")
        .agg(count_distinct(col("doc_id")).as("n_docs_affected"))
      // three 1-row aggregates — forced broadcast is safe at any scale
      total.crossJoin(broadcast(hotAgg)).crossJoin(broadcast(affected))
    }),

    // Minhash-ingest rebuild lag as data (the [[ingestShingleCapLag]]
    // scaladoc carries the design): for the fixture batch, how many
    // batch-hot shingles the corpus hot-set artifact does not know yet.
    // The fixture batch is a subset of the stored corpus, so n_lagging
    // is structurally 0 here (batch df ≤ corpus df) — the QUERY is the
    // per-ingest observability hook; IngestSpec drives a corpus-novel
    // boilerplate batch through the same helper and sees the lag > 0.
    "q_shingle_cap_lag" -> ((s, d) =>
      ingestShingleCapLag(s, d, t(s, d, "documents").where(col("doc_id") % 10 === 7))),

    // SimHash(32-bit) near-dup: token-frequency-weighted sign bits, pairs
    // (blocked by lang) with hamming distance <= 6.
    "q_dedup_simhash" -> ((s, d) => {
      val sim = simTable(s, d)
      // size-gated broadcast of the right side: the join key `lang` has only
      // 5 values, so a shuffled join uses 5 of 32 tasks — the hint keeps the
      // pair generation parallel while the table fits the broadcast budget;
      // past it the shuffled join (plus AQE skew splitting) takes over
      sim.as("a")
        .join(maybeBroadcast(sim.as("b")), col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
        .withColumn("hamming",
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast(LongType))
        .where(col("hamming") <= 6)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("hamming"))
        .orderBy("doc_a", "doc_b")
    }),

    // SimHash banded dedup — the 100 TB shape for the query above. The
    // lang-blocked pair join is still quadratic WITHIN a language at
    // corpus scale; pigeonhole fixes it exactly: if two 32-bit simhashes
    // differ in ≤ 6 bits, then splitting them into 7 bands leaves at
    // least one band identical — so joining on (band index, band value,
    // lang) generates a candidate set that PROVABLY contains every
    // hamming≤6 pair (recall 1.0, not approximate), and the exact hamming
    // check then prunes false candidates. Join-key cardinality is
    // 7 bands × band values × langs instead of 5 langs; candidates are
    // bounded by band-bucket collisions, never all-pairs. Result rows are
    // identical to q_dedup_simhash by construction (asserted in LlmSpec
    // and by the oracle).
    "q_dedup_simhash_banded" -> ((s, d) => {
      val sim = simTable(s, d) // shared memoized signature table
      val stackArgs = (0 until 7).map(j =>
        s"$j, shiftright(simhash, ${j * 5}) & 31").mkString(", ")
      val bands = sim.selectExpr("doc_id", "lang", "simhash",
        s"stack(7, $stackArgs) as (band, bv)")
      bands.as("a")
        .join(maybeBroadcast(bands.as("b")), col("a.band") === col("b.band") &&
          col("a.bv") === col("b.bv") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast(LongType)
            .as("hamming"))
        .where(col("hamming") <= 6)
        .distinct() // a pair can collide in several bands
        .orderBy("doc_a", "doc_b")
    }),

    // Embedding-cosine near-dup: pairs within label with cos >= 0.99.
    "q_dedup_embcos" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      // label has 10 values — size-gated broadcast for map-side pair
      // generation (shuffled-join fallback above the broadcast budget);
      // one narrow exchange parallelizes the pair join (see spread)
      spread(e).as("a").join(maybeBroadcast(e.as("b")), col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos", r4(cosine(col("a.embedding"), col("b.embedding"))))
        .where(col("cos") >= 0.99)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
        .orderBy("vec_a", "vec_b")
    }),

    // SemDeDup-style semantic dedup: the CONSTANT-CELL-SIZE quantizer
    // assignment ([[semAssign]], k = ⌈N/c⌉ cells of expected size c =
    // SEM_CELL) scopes the pairwise cosine comparison to WITHIN-CELL
    // pairs, and a vector is dropped when a lower-id cell-mate sits above
    // the similarity threshold (greedy min-id keeper — deterministic,
    // single pass, no fixpoint). This is the 100 TB shape for embedding
    // dedup: expected pair volume is k·c²/2 = O(N·c) — LINEAR in N for
    // fixed c — where the ⌈√N⌉ ANN dial would give O(N^1.5) (the r10
    // scale `weak`, closed here). It reuses the PERSISTED sem assignment
    // index — cross-cell near-dups are the accepted recall trade (same
    // blind spot the SemDeDup recipe documents). q_dedup_embcos above is
    // the label-blocked truth path; SEM_TAU is calibrated to this
    // synthetic corpus (within-cell cosines top out ≈0.45; real
    // deployments dial 0.95+). Every vector gets a verdict row, so
    // downstream keeps/drops by a narrow semi-join. Cell-size balance is
    // observable data, not an assumption: q_dedup_semantic_cells below
    // emits the per-cell membership histogram — and since r13 the
    // oversize guard is IN the registered plan ([[semanticDedupGuarded]]):
    // identity on balanced corpora (oracle mirrors the unguarded plan and
    // stays hash-green), O(n) cap resolution under planted skew.
    "q_dedup_semantic" -> ((s, d) =>
      semanticDedupGuarded(s, d).orderBy("vec_id")),

    // Multiprobe semantic dedup: the pair join runs over the TOP-2 cell
    // assignment (owner + runner-up fine cell), so a τ-pair that
    // straddles one cell boundary still meets in the runner-up cell of
    // either side — directly closing the measured cross-cell blind spot
    // (q_dedup_semantic_recall: only 0.35/0.14 of τ-pairs share a rank-1
    // cell at sf0.01/sf0.1). Recall is strictly ≥ the rank-1 query's by
    // construction (rank-1 pairs are a subset — LlmSpec asserts the
    // dropped-set superset); cost stays O(N·c) with a ≤4× constant from
    // the doubled assignment. Output contract matches q_dedup_semantic:
    // one row per vector with its OWNER cell and the drop verdict.
    "q_dedup_semantic_mp" -> ((s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val withCell = e.join(maybeBroadcast(semAssign2(s, d)), "vec_id")
      val dup = withCell.as("a").join(maybeBroadcast(withCell.as("b")),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .where(r4(cosine(col("a.embedding"), col("b.embedding"))) >= SEM_TAU)
        .select(col("b.vec_id").as("vec_id")).distinct()
      e.join(maybeBroadcast(semAssign2(s, d).where(col("arnk") === 1)
          .select("vec_id", "cell")), "vec_id")
        .join(maybeBroadcast(dup.withColumn("hit", lit(true))), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("hit"), lit(false)).as("dropped"))
        .orderBy("vec_id")
    }),

    // Semantic-dedup ingest delta: each batch vector (vec_id%10=7) is
    // assigned its cell FRESH against the frozen constant-cell-size
    // quantizer and dropped iff ANY corpus cell-mate sits at/above
    // SEM_TAU — corpus always wins (no id ordering: the standing corpus
    // is the keeper set by definition). Per ingest: O(batch × c)
    // comparisons against the PERSISTED assignment index — c constant, so
    // per-ingest cost no longer grows with corpus size at all;
    // batch-internal duplicates are q_dedup_semantic's job on the next
    // full pass (documented ingest trade). Batch core shared with the
    // streaming face (graft.streaming.Streams.semanticDedupAgainstIndex).
    "q_dedup_semantic_delta" -> ((s, d) => {
      val isBatch = col("vec_id") % 10 === 7
      val e = t(s, d, "embeddings")
      semanticVerdicts(s, d,
          e.where(isBatch).select(col("vec_id"), col("embedding")),
          semanticCorpus(s, d, !isBatch))
        .orderBy("vec_id")
    }),

    // Semantic-dedup cell-size histogram: the O(N·c) complexity claim of
    // q_dedup_semantic assumes cells stay NEAR the target size c — this
    // emits the evidence as data (q_index_drift shape): per-cell member
    // count, its pair volume n·(n−1)/2, and whether the cell exceeds the
    // oversize bound (4·c — the dial at which a production run splits
    // the cell with a sub-quantizer rather than eat a 16× pair blowup:
    // [[semSplitOversized]] for diverse cells, [[semCapVerdicts]] for
    // the duplicate-degenerate ones, both spec-driven). An operator
    // whose scale contract can be read off a query result is auditable;
    // one whose balance is asserted in a comment is not.
    "q_dedup_semantic_cells" -> ((s, d) =>
      semAssign(s, d).groupBy("cell")
        .agg(count(lit(1)).as("n_members"))
        .select(col("cell"), col("n_members"),
          // `div`, not `/`: integral division keeps the BIGINT type (and
          // exactness at 10⁹-member counts) the oracle's `//` has
          expr("n_members * (n_members - 1) div 2").as("n_pairs"),
          (col("n_members") > 4 * SEM_CELL).as("oversized"))
        .orderBy("cell")),

    // Semantic-dedup RECALL audit — the cross-cell blind spot as a
    // number, not a comment: of all τ-pairs under the label-blocked
    // truth definition (q_dedup_embcos's, the corpus-scale-tractable
    // truth path), what fraction lands within one quantizer cell and is
    // therefore visible to q_dedup_semantic? Truth generation is the
    // label-blocked pair join (bounded like q_dedup_embcos — never
    // all-pairs); the cell check is two narrow id joins against the
    // persisted assignment. One row out: the SemDeDup recipe's
    // documented trade, re-measured on every corpus so a quantizer
    // regression (worse cells ⇒ more cross-cell misses) surfaces in the
    // gate instead of hiding behind a hash-green verdict table.
    // Absolute value is corpus- and τ-dependent: at this fixture's
    // τ = 0.35 the "pairs" are merely similar (not near-duplicate), so
    // many straddle cell boundaries (measured 0.35 at sf0.01); real
    // deployments at τ ≥ 0.95 compare near-identical vectors that
    // quantize together far more often. The tracked signal is the
    // round-over-round TREND, not the absolute.
    "q_dedup_semantic_recall" -> ((s, d) => semanticRecallReport(s, d, SEM_CELL)),

    // #44 brute-force top-5 cosine neighbors, blocked by label (IVF-style:
    // label = coarse cell, probe within cell). Top-k via the custom
    // TopKPerKey plan: the candidate pairs are generated map-side by the
    // broadcast join, so the k-bounded heaps also run map-side and only
    // ≤5 rows per vec_id per partition reach the shuffle — the window
    // formulation would shuffle every pair.
    "q_sim_knn" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      // one narrow exchange parallelizes the in-cell pair join (see spread)
      val pairs = spread(e).as("a").join(maybeBroadcast(e.as("b")), col("a.label") === col("b.label") &&
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
          r4(cosine(col("a.embedding"), col("b.embedding"))).as("cos"))
      org.apache.spark.sql.graftx.TopK.topKPerKey(pairs,
          keyNames = Seq("vec_id"),
          orderBy = Seq("cos" -> false, "neighbor_id" -> true),
          k = 5, rankName = "rnk")
        .orderBy("vec_id", "rnk")
    }),

    // ANN scale path: sign-bit LSH buckets from deterministic broadcast
    // hyperplanes; top-3 within bucket. Recall vs q_sim_knn is asserted in
    // scalatest; oracle checks the full bucket+rank pipeline.
    "q_baseline_ann_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding"))
      val b = lshBuckets(s, d)
      val withVec = b.join(e, b("vec_id") === e("id")).drop("id")
      val pairs = withVec.as("a")
        .join(maybeBroadcast(withVec.as("b")), col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("vec_id"), col("a.bucket").as("bucket"),
          col("b.vec_id").as("neighbor_id"),
          r4(cosine(col("a.embedding"), col("b.embedding"))).as("cos"))
      // map-side k-bounded heaps (see q_sim_knn)
      org.apache.spark.sql.graftx.TopK.topKPerKey(pairs,
          keyNames = Seq("vec_id"),
          orderBy = Seq("cos" -> false, "neighbor_id" -> true),
          k = 3, rankName = "rnk")
        .orderBy("vec_id", "rnk")
    }),

    // Bit-flip multi-probe LSH — the single-TABLE recall dial,
    // complementing the multi-table OR below: each QUERY vector probes
    // its own bucket plus the LSH_PLANES buckets at hamming distance 1
    // (the likeliest misses under sign-bit LSH: a near neighbor that
    // escaped the bucket usually disagreed on exactly one plane), while
    // database vectors stay in their one bucket. Recall rises 5×
    // (0.101 vs 0.020 @3 vs exhaustive, sf0.001) for planes+1 probe rows
    // per query and ZERO extra index state — vs ×TABLES bucket rows for
    // q_sim_ann_lsh_multi. Candidates are id-only and distinct by
    // construction (a query's probe buckets are distinct XOR masks; a
    // database vector lives in exactly one bucket), so no DISTINCT pass.
    "q_baseline_ann_lsh_probe" -> ((s, d) => {
      val b = lshBuckets(s, d).select(col("vec_id"), col("bucket"))
      val masks = lit(0L) +: (0 until LSH_PLANES).map(p => lit(1L << p))
      val probes = b.select(col("vec_id"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(m)): _*)).as("pbucket"))
      val e = t(s, d, "embeddings")
      annExactTop3(annCands(probes, b, Seq("pbucket" -> "bucket"), excludeSelf = true), e, e)
    }),

    // Multi-table LSH: LSH_TABLES independent tables of LSH_TABLE_BITS
    // sign bits each, candidates OR'd across tables — the standard fix
    // for single-table LSH's recall collapse (a true neighbor only needs
    // to collide in ONE table; P(hit) = 1−(1−p^bits)^tables). The
    // cross-table OR is one DISTINCT on the 16-byte (qid, nid) rows, so at
    // 100 TB the wide vectors never ride the bucket join or the dedup
    // shuffle.
    "q_sim_ann_lsh_multi" -> annRegistry(lshTier),

    // Multi-table LSH WITH bit-flip multiprobe — the canonical
    // production LSH composition (FAISS/E2LSH "multiprobe" over L
    // tables): each query probes, in EVERY table, its own bucket plus
    // the LSH_TABLE_BITS buckets at hamming distance 1 — recall of
    // (1+bits)·tables bucket lookups for the index cost of `tables`
    // tables (probe expansion is query-side only; the persisted index
    // is unchanged). Candidate volume ≈ (1+bits)× q_sim_ann_lsh_multi's,
    // still zero all-pairs terms; the union across tables/probes dedups
    // on narrow id-pairs before any wide-vector work. Measured recall@3
    // vs exhaustive tracked per-round in RECALL.json beside the single
    // techniques it composes.
    "q_sim_ann_lsh_mp" -> ((s, d) => {
      val b = lshMultiBuckets(s, d)
      val masks = lit(0L) +: (0 until LSH_TABLE_BITS).map(j => lit(1L << j))
      // spread BEFORE the probe explode: the exchange carries the narrow
      // per-table bucket rows, the ×(bits+1) expansion and the candidate
      // join + DISTINCT + rerank all run under the pinned layout
      val probes = spread(b).select(col("vec_id"), col("tb"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(m)): _*)).as("pbucket"))
      val e = t(s, d, "embeddings")
      annExactTop3(annCands(probes, b, Seq("tb" -> "tb", "pbucket" -> "bucket"),
        excludeSelf = true).distinct(), e, e)
    }),

    // Vector-ingest delta — completes the per-ingest trilogy (exact hash
    // → q_dedup_incremental, text near-dup → q_dedup_minhash_delta,
    // vector ANN → here): a new embedding batch (vec_id%10=7) finds its
    // top-3 corpus neighbors by bucketing FRESH against the same
    // deterministic hyperplanes and probing the PERSISTED multi-table
    // LSH index for the standing corpus. Per ingest: O(batch buckets +
    // collisions).
    "q_sim_ann_lsh_delta" -> annDelta(lshTier),

    // Constant-occupancy LSH — the linear-class re-dial of the LSH
    // family (the LSHC_* scaladoc carries the design): per-table bit
    // count grows with the PERSISTED corpus count so expected bucket
    // occupancy is pinned at LSHC_CELL, and probe expansion is the
    // TARGETED multiprobe (flip the LSHC_T smallest-|margin| bits + the
    // smallest pair — constant 1+T+1 lookups/table, never the
    // nbits-growing hamming-1 ball). Candidate volume O(N·tables·probes·c)
    // with every dial N-independent — the linear class the fixed-bucket
    // q_sim_ann_lsh_mp (N²/B) cannot reach. Without the spread exchange
    // the DISTINCT and the TopK heaps each re-shuffled the full candidate
    // set (22 MB at sf0.1; the probe rows are ~2 MB).
    "q_sim_ann_lshc" -> annRegistry(lshcTier),

    // Constant-occupancy LSH candidate-volume report — the saturation
    // evidence as data (the q_dedup_semantic_cells convention): the
    // EXACT pre-distinct candidate volume of q_sim_ann_lshc, computed
    // from narrow per-(table,bucket) counts off the persisted artifact
    // (Σ own·probe bucket products − the N·tables own-row self matches —
    // never materializing a pair), beside the dial ceiling
    // tables·probes·c. At any corpus with ceiling ≥ N the candidate set
    // is necessarily ≈ the whole corpus (`saturated` = true at both
    // bench SFs: 3 k ceiling vs N = 500/2000), so shuffle-growth audits
    // there measure corpus growth, not the dial class — the linear
    // contract is the CEILING's N-independence, proven at unsaturated N
    // in LlmSpec (candidates/query flat across 8k → 32k vectors).
    "q_sim_ann_lshc_cands" -> ((s, d) => {
      val pr = lshcProbes(s, d)
      val nbits = lshcNbits(embCount(s, d))
      val probesPerTable = 1 + math.min(LSHC_T, nbits) + (if (nbits >= 2) 1 else 0)
      val ownC = pr.where(col("own")).groupBy("tb", "bucket")
        .agg(count(lit(1)).as("n_own"))
      val probeC = pr.groupBy("tb", "bucket").agg(count(lit(1)).as("n_probe"))
      val prod = ownC.join(probeC, Seq("tb", "bucket"))
        .agg(coalesce(sum(col("n_own") * col("n_probe")), lit(0L)).as("matched"))
      val nv = t(s, d, "embeddings").agg(count(lit(1)).as("n_vectors"))
      nv.crossJoin(broadcast(prod)) // two 1-row aggregates
        .select(col("n_vectors"),
          lit(nbits).as("nbits"),
          lit(LSHC_TABLES.toLong * probesPerTable * LSHC_CELL).as("dial_ceiling"),
          (col("matched") - col("n_vectors") * LSHC_TABLES).as("cand_rows"),
          r4((col("matched") - col("n_vectors") * LSHC_TABLES)
            .cast(DoubleType) / col("n_vectors")).as("cands_per_query"),
          (lit(LSHC_TABLES.toLong * probesPerTable * LSHC_CELL) >= col("n_vectors"))
            .as("saturated"))
    }),

    // Constant-occupancy LSH ingest delta: a new embedding batch
    // (vec_id%10=7) probes under the FROZEN geometry and meets only the
    // persisted own-bucket index — O(batch·tables·probes·c) per ingest,
    // the corpus never re-bucketed.
    "q_sim_ann_lshc_delta" -> annDelta(lshcTier),

    // True IVF ANN: train a coarse quantizer (centroid per label cell,
    // dimension-wise mean via exact decimal sums — deterministic under any
    // partitioning), re-assign every vector to its nearest centroid
    // (rounded cosine, label tie-break), then probe only within the
    // assigned cell. Completes the IVF/LSH pair of ANN scale paths: at
    // 100 TB the quantizer trains on a sample, centroids broadcast
    // (here 10×64 doubles), assignment is a narrow map, and the pair join
    // touches one cell per query vector. Its output carries the cell, so
    // it keeps its own rerank tail.
    "q_baseline_ann_ivf" -> ((s, d) => {
      // probe within the assigned (rank-1) cell only. Candidate
      // generation is narrow-id-only off the persisted assignment index:
      // the self-join emits (query, neighbor, cell) id triples and the
      // wide vectors join back ONLY for candidates — at 100 TB the
      // embeddings never ride the cell self-join (same discipline as the
      // multi-table LSH path). All sides size-gated.
      val assigned = ivfAssign(s, d)
      // one narrow exchange parallelizes the in-cell pair join (see spread)
      val cands = spread(assigned).as("a")
        .join(maybeBroadcast(assigned.as("b")), col("a.cell") === col("b.cell") &&
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("qid"), col("a.cell").as("cell"),
          col("b.vec_id").as("nid"))
      val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val pairs = cands
        .join(maybeBroadcast(e.as("ea")), col("qid") === col("ea.vec_id"))
        .join(maybeBroadcast(e.as("eb")), col("nid") === col("eb.vec_id"))
        .select(col("qid").as("vec_id"), col("cell"), col("nid").as("neighbor_id"),
          r4(cosine(col("ea.embedding"), col("eb.embedding"))).as("cos"))
      org.apache.spark.sql.graftx.TopK.topKPerKey(pairs,
          keyNames = Seq("vec_id"),
          orderBy = Seq("cos" -> false, "neighbor_id" -> true),
          k = 3, rankName = "rnk")
        .orderBy("vec_id", "rnk")
    }),

    // Multi-probe IVF: same trained quantizer, but each QUERY vector
    // probes its NPROBE nearest cells while database vectors stay in
    // their rank-1 cell — FAISS's `nprobe` knob re-expressed relationally.
    // This is THE recall/cost dial of an IVF index at scale: candidate
    // volume grows linearly in NPROBE (still zero all-pairs terms) and
    // recall climbs toward exhaustive as NPROBE → #cells. Pairs are
    // generated once per (query, neighbor): the probe side's cells are
    // distinct by construction and the database side appears in exactly
    // one cell, so no DISTINCT pass is needed.
    "q_sim_ann_ivf_mp" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      annExactTop3(annCands(spread(ivfProbes(s, d)), ivfAssign(s, d),
        Seq("cell" -> "cell"), excludeSelf = true), e, e)
    }),

    // Trained-k IVF: both dials data-bound — k = ⌈√N⌉ cells trained from
    // a deterministic md5-bucket seed sample + one Lloyd step, 2⌈√k⌉
    // probes per query (see ivfKCentroids). Measured recall@3 vs
    // exhaustive at sf0.001: 0.579, vs 0.247 (label-cell ivf) and 0.549
    // (label-cell multi-probe) — finer, geometry-trained cells buy more
    // recall per probed row (tracked per-round in RECALL.json). The
    // DISTINCT drops a top-2-assigned neighbor matching two probe cells
    // of the same query before any wide vector is touched.
    "q_sim_ann_ivf_k" -> annRegistry(ivfKTier),

    // Constant-cell IVF — the 100 TB re-dialing of q_sim_ann_ivf_k,
    // reusing the semantic family's PERSISTED two-level k = N/c quantizer
    // (coarse+fine centroids, top-2 corpus assignment) as the search
    // index: probes are the top-NP fine cells across the query's top
    // coarse groups, NP and cell size c both N-INDEPENDENT constants, so
    // candidate volume is O(N·NP·c) — the linear class in the
    // SCALING_r11 shuffle audit, vs N^1.75 for the √N-dial family.
    "q_sim_ann_ivfc" -> annRegistry(ivfcTier),

    // Constant-cell IVF ingest delta: a new embedding batch (vec_id%10=7)
    // ranks its probe cells FRESH against the frozen coarse+fine
    // centroids and meets only the PERSISTED top-2 corpus assignment —
    // O(batch·NP·c) work per ingest, the corpus never rescored.
    "q_sim_ann_ivfc_delta" -> annDelta(ivfcTier),

    // Trained-k IVF ingest delta — the full-precision twin of
    // q_sim_ann_ivfpq_delta: a new embedding batch (vec_id%10=7) ranks
    // its 2⌈√k⌉ probe cells FRESH against the frozen centroid artifact
    // and meets only the PERSISTED top-2 corpus assignment — O(batch ×
    // cell) work per ingest, the corpus never rescored.
    "q_sim_ann_ivf_k_delta" -> annDelta(ivfKTier),

    // Index-lifecycle drift monitor — the retrain trigger that closes the
    // build → persist → delta-ingest loop. Per trained-k cell: how far
    // would ONE more Lloyd step move the frozen centroid, given the
    // corpus and the PERSISTED rank-1 assignment (drift = 1 − cosine of
    // frozen centroid vs current member mean)? A cell is stale when it
    // drifted past threshold or lost every member (dead cell). Reads
    // only the two disk artifacts + embeddings; the member-mean agg is
    // the same decimal-mean shape as training, map-side combinable, k×64
    // result rows at any corpus size.
    "q_index_drift" -> ((s, d) =>
      // BASE-corpus members only: the oracle gate must never see the
      // overlay. The lifecycle-aware twin over base ∪ committed − deleted
      // is the [[ingestDriftReport]] facade method (same residual helper).
      ivfDriftFrom(ivfKCentroids(s, d),
        t(s, d, "embeddings").join(ivfKAssign(s, d), "vec_id")
          .select(col("cell"), col("embedding")))),

    // IVF-PQ with ADC scoring — the standard large-scale vector-search
    // composition: the trained-k IVF narrows candidates, then
    // PRODUCT-QUANTIZED distances rank them — each database vector is its
    // 8 nibble codes, approximate distance = Σ of per-subspace
    // (query-subvector − codebook-centroid)² — and only the ADC shortlist
    // (PQ_RERANK) gets exact-cosine reranked for the final top-3. The
    // subspace math happens ONCE per (query, subspace, code) in the ADC
    // DISTANCE TABLE (FAISS's per-query lookup table, relationally), so the
    // candidate volume never multiplies any vector arithmetic. (The naive
    // per-candidate compute was measured 14× slower at sf0.1: 10.8 s →
    // this shape.)
    "q_sim_ann_ivfpq" -> annRegistry(ivfPqTier),

    // IVF-PQ ingest delta — the production property that makes PQ worth
    // its training cost: codebooks and the corpus code index are FROZEN
    // artifacts; a new embedding batch (vec_id%10=7) computes its own
    // probe cells and ADC distance table (O(batch × M×K) scalars) and
    // probes the PERSISTED corpus assignment + nibble index.
    "q_sim_ann_ivfpq_delta" -> annDelta(ivfPqTier),

    // Constant-cell IVF-PQ — the memory-economy tier re-dialed for the
    // linear class: PQ's 4-byte codes + ADC ranking, but candidates come
    // from the PERSISTED k = N/c two-level quantizer q_sim_ann_ivfc probes
    // instead of the √N-dial trained-k index, so total candidate volume is
    // O(N·NP·c) at PQ's memory price. Every artifact is frozen and shared
    // with q_sim_ann_ivfc and q_sim_ann_ivfpq.
    "q_sim_ann_ivfc_pq" -> annRegistry(ivfcPqTier),

    // Constant-cell IVF-PQ ingest delta: a new embedding batch
    // (vec_id%10=7) ranks its probe cells FRESH against the frozen
    // coarse+fine centroids, computes its own ADC distance table, and
    // probes only the PERSISTED top-2 corpus assignment + nibble index —
    // O(batch·NP·c) work per ingest with N-independent dials.
    "q_sim_ann_ivfc_pq_delta" -> annDelta(ivfcPqTier),

    // End-to-end training-data pipeline — the composition a real corpus
    // run executes: exact-dedup keepers → quality filter → deterministic
    // 50% hash sample → per-language summary. The point is operator
    // COMPOSITION under one optimized plan: the keeper selection
    // (row_number = 1 over the content hash) is rewritten by
    // RewriteRankFilterToTopK into the map-side-heap TopKPerKey plan
    // (asserted in PlanSpec), the quality/sample predicates collapse into
    // one filter, and the final agg is map-side combinable. One job, two
    // shuffles (keeper grouping, final agg) regardless of corpus size.
    "q_pipeline_e2e" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(sha2(lower(trim(col("text"))), 256))
        .orderBy(col("doc_id").asc)
      val tk = col("toks")
      val diversity = size(array_distinct(tk)).cast(DoubleType) / size(tk)
      val quality = least(lit(1.0), col("n_chars") / 200.0) * diversity
      t(s, d, "documents")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .withColumn("toks", toks(col("text")))
        .withColumn("q", r4(quality))
        .where(col("q") >= 0.35 &&
          pmod(h60(col("doc_id").cast("string")), lit(100)) < 50)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks"))).as("n_tokens"),
          r4(sum(col("q").cast(DEC)).cast(DoubleType) / count(lit(1))).as("mean_quality"))
        .orderBy("lang")
    }),

    // #45 corpus term frequencies, top 50.
    "q_text_stats" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(toks(col("text"))).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(50)),

    // Heavy hitters via the Misra–Gries sketch (graftx.HeavyHittersAgg):
    // frequent tokens from ONE pass with O(k) memory per partial and a
    // ≤k-counter shuffle per partition — replaces the full
    // groupBy(token).count() token-cardinality shuffle when only the
    // frequent tail matters at 100 TB. No oracle by design (sketch
    // family); MG bounds vs exact counts asserted in HeavyHittersSpec.
    "q_text_heavyhitters" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(toks(col("text"))).as("tok"))
        .agg(org.apache.spark.sql.graftx.HeavyHittersAgg
          .heavyHitters(col("tok"), 64).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("item"), col("e.est").as("est"))
        .orderBy(col("est").desc, col("item").asc)
        .limit(20)),

    // EXACT-MODE Misra–Gries twin: with capacity ≥ the corpus's distinct
    // token count, MG never decrements, so every `est` IS the exact
    // frequency — which makes the sketch's whole merge/eviction machinery
    // hash-checkable against a plain GROUP BY oracle (VERDICT r9 item 6).
    // The synthetic corpus has a fixed 31-token vocabulary (measured at
    // sf0.001/0.01/0.1); 4096 leaves three orders of headroom. On a real
    // open-vocabulary corpus this query degrades gracefully to the
    // approximate contract of q_text_heavyhitters above — the exactness
    // precondition (capacity ≥ |vocab|) is the documented boundary.
    "q_text_heavyhitters_exact" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(toks(col("text"))).as("tok"))
        .agg(org.apache.spark.sql.graftx.HeavyHittersAgg
          .heavyHitters(col("tok"), 4096).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("item"), col("e.est").as("est"))
        .orderBy(col("est").desc, col("item").asc)
        .limit(20)),

    // Inverse document frequency: document frequency per term over distinct
    // per-doc tokens, idf = ln(N/df); top 50 commonest terms. The corpus
    // count rides along as a broadcast scalar (crossJoin with a 1-row agg),
    // never a driver-side collect. Analog of the TF-IDF weighting pass a
    // training-data pipeline runs before quality filtering.
    "q_text_idf" -> ((s, d) => {
      val docTok = t(s, d, "documents")
        .select(col("doc_id"), explode(array_distinct(toks(col("text")))).as("tok"))
      val n = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      docTok.groupBy("tok").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .select(col("tok"), col("df"),
          r4(log(col("n_docs").cast(DoubleType) / col("df"))).as("idf"))
        .orderBy(col("df").desc, col("tok").asc)
        .limit(50)
    }),

    // Bigram frequencies (all occurrences, not per-doc distinct): the
    // n-gram language-model statistics pass. Top 30.
    "q_text_bigrams" -> ((s, d) => {
      val tk = col("toks")
      val mk = transform(sequence(lit(1), size(tk) - 1), i =>
        concat_ws(" ", element_at(tk, i), element_at(tk, i + 1)))
      val bigrams = when(size(tk) >= 2, mk).otherwise(array().cast(ArrayType(StringType)))
      t(s, d, "documents")
        .repartition(col("doc_id")) // single-row-group file → parallelize the explode
        .withColumn("toks", toks(col("text")))
        .select(explode(bigrams).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(30)
    }),

    // Token counting: whitespace tokens + BPE-ish regex segments.
    "q_text_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          size(toks(col("text"))).as("n_ws"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe"),
          col("n_chars"))
        .orderBy("doc_id")),

    // Language-ID heuristic: English-stopword ratio (documents carry a
    // ground-truth lang column for scoring downstream).
    "q_text_langid" -> ((s, d) => {
      val markers = Seq("the", "a", "of", "and", "to", "in")
      val tk = col("toks")
      val ratio = size(filter(tk, w => w.isin(markers: _*))).cast(DoubleType) / size(tk)
      t(s, d, "documents")
        .withColumn("toks", toks(col("text")))
        .select(col("doc_id"), col("lang"), r4(ratio).as("stop_ratio"),
          when(ratio > 0.05, "en").otherwise("other").as("pred_lang"))
        .orderBy("doc_id")
    }),

    // Quality scoring: length, mean token length, lexical diversity.
    "q_text_quality" -> ((s, d) => {
      val tk = col("toks")
      val nTok = size(tk)
      val meanLen = (col("n_chars") - (nTok - 1)).cast(DoubleType) / nTok
      val diversity = size(array_distinct(tk)).cast(DoubleType) / nTok
      t(s, d, "documents")
        .withColumn("toks", toks(col("text")))
        .select(col("doc_id"), col("n_chars"), nTok.as("n_tokens"),
          r4(meanLen).as("mean_tok_len"), r4(diversity).as("diversity"),
          r4(least(lit(1.0), col("n_chars") / 200.0) * diversity).as("quality"))
        .orderBy("doc_id")
    }),

    // Document fingerprint: winnowing-style minimum md5 over 5-token
    // shingles (hex-string min is engine-portable).
    "q_text_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("toks", toks(col("text")))
        .select(col("doc_id"),
          array_min(transform(shingles(col("toks"), 5), sh => md5(sh))).as("fp"))
        .orderBy("doc_id")),

    // Denylist redaction — the masking step a curation pipeline runs
    // before release (PII scrubbing, blocked terms): every word-boundary
    // match of the denylist pattern is replaced by a mask token, with a
    // per-document hit count to audit redaction volume. A pure per-row
    // regex map: narrow, whole-stage codegen, no shuffle before the
    // output sort — at 100 TB this runs at scan speed. Real-PII patterns
    // (emails, phone numbers) are the same machinery with a different
    // pattern constant; the synthetic corpus contains none, so the
    // denylist targets live vocabulary to keep the op observable.
    "q_text_redact" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          regexp_count(col("text"), lit(REDACT_PAT)).cast(LongType).as("n_hits"),
          sha2(regexp_replace(col("text"), REDACT_PAT, "<MASK>"), 256).as("h_redacted"))
        .orderBy("doc_id")),

    // Edit-distance similarity: levenshtein over bounded-length strings
    // (source labels) — the char-level near-dup family complementing the
    // token-level Jaccard ops. Pairs within distance 2.
    "q_text_editdist" -> ((s, d) => {
      val src = t(s, d, "documents").select(col("source")).distinct()
      src.as("a").join(maybeBroadcast(src.as("b")),
          col("a.source") < col("b.source"))
        .withColumn("dist", levenshtein(col("a.source"), col("b.source")))
        .where(col("dist") <= 2)
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"), col("dist"))
        .orderBy("src_a", "src_b")
    }),

    // #46 multimodal join: text ⋈ vectors, mixed string+array projection.
    "q_multimodal_join" -> ((s, d) =>
      t(s, d, "documents")
        .join(t(s, d, "embeddings"), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("label"), size(col("embedding")).as("dim"),
          r4(sqrt(aggregate(col("embedding"), lit(0.0), (s0, x) => s0 + x * x))).as("l2_norm"))
        .orderBy("doc_id")),

    // Multimodal decode pipeline through the typed mapPartitions path
    // (graft.multimodal.Media): binary payload → lazy frame iterator →
    // per-media stats. The stub codec chunks ASCII bytes, so the oracle
    // reproduces it exactly with substr+generate_series — the decode
    // plumbing itself is hash-checked.
    "q_multimodal_frames" -> ((s, d) =>
      graft.multimodal.Media.frameStats(s, t(s, d, "documents"))),

    // Perceptual-hash near-dup over decoded media frames: a 32-bit
    // average-hash of the first frame — bit j set iff byte_j ≥ frame mean,
    // computed INTEGER-exactly as 32·byte_j ≥ Σbytes so no float boundary
    // can flip a bit between engines. Collision groups within a lang block
    // are the near-dup report (the aHash analog of q_dedup_simhash for
    // media payloads; with a real codec the same shape runs on decoded
    // pixel bytes). Pure per-row hash + one agg — no pair join at all, so
    // the op is corpus-linear at any scale.
    //
    // Character-unit caveat: "byte_j" is really CHARACTER j — Spark's
    // ascii() and DuckDB's ord() both return the first CODEPOINT of a
    // char-indexed substring, so the two engines agree on ANY text, but
    // the value equals the raw byte only for ASCII payloads (true of this
    // fixture and of real decoded-pixel bytes, which arrive as BinaryType
    // and never take this path). Multibyte text hashes per-codepoint —
    // deterministic and engine-portable, just not a byte-level aHash.
    "q_multimodal_phash" -> ((s, d) => {
      val codes = (0 until Media.FRAME_BYTES).map(j =>
        ascii(substring(col("text"), j + 1, 1)))
      val total = codes.reduce(_ + _)
      val phash = (0 until Media.FRAME_BYTES).map(j =>
        when(codes(j) * Media.FRAME_BYTES >= total, lit(1L << j)).otherwise(0L))
        .reduce(_ + _)
      val hashed = t(s, d, "documents")
        .repartition(col("doc_id")) // single-row-group testdata parallelizer
        // first-FULL-frame semantics: a doc shorter than one frame has no
        // frame to hash — and engines disagree on out-of-range bytes
        // (Spark ascii('')=0 vs DuckDB ord('')=-1), so the guard is also
        // what keeps the oracle compare exact for any fixture
        .where(length(col("text")) >= Media.FRAME_BYTES)
        .select(col("doc_id").as("media_id"), col("lang"), phash.as("phash"))
      // collision-group size via ONE window pass (single shuffle on the
      // (lang, phash) key) instead of a groupBy + join back
      val wg = org.apache.spark.sql.expressions.Window.partitionBy("lang", "phash")
      hashed.withColumn("n_dups", count(lit(1)).over(wg))
        .where(col("n_dups") > 1)
        .select("media_id", "lang", "phash", "n_dups")
        .orderBy("media_id")
    }),

    // Opaque-binary plumbing: text→bytes with typed metadata; hashes and
    // byte lengths flow through BinaryType columns. (The mapPartitions
    // decode stub lives in graft.multimodal, scalatest-covered.)
    "q_multimodal_binary" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("bytes", col("text").cast(BinaryType))
        .withColumn("meta", struct(col("lang"), col("source")))
        .select(col("doc_id"),
          length(col("bytes")).as("n_bytes"),
          md5(col("text")).as("content_hash"),
          lower(hex(substring(col("bytes"), 1, 8))).as("head_hex"),
          col("meta.lang").as("m_lang"), col("meta.source").as("m_source"))
        .orderBy("doc_id")),
  )

  // ---- oracle SQL ----

  private val shinglesSql3 =
    """CASE WHEN len(string_split(text,' ')) >= 3 THEN
      | list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-2),
      |   i -> string_split(text,' ')[i]||' '||string_split(text,' ')[i+1]||' '||string_split(text,' ')[i+2]))
      | ELSE [] END""".stripMargin

  /** Capped shingle universe (mirrors [[cappedShingles]] + MAX_SHINGLE_DF):
    * `ds` is the name every downstream fragment joins against. */
  private val docShinglesCtes =
    s"""ds0 AS (SELECT doc_id, unnest($shinglesSql3) AS shingle FROM documents),
       |ds AS (
       |  SELECT ds0.doc_id, ds0.shingle FROM ds0
       |  JOIN (SELECT shingle FROM ds0 GROUP BY shingle
       |        HAVING count(*) <= $MAX_SHINGLE_DF) ok USING (shingle))""".stripMargin

  /** Candidate-verified Jaccard tail over the capped shingle set `ds`;
    * `pairPred` constrains the pair orientation (a<b for symmetric
    * dedup, batch/corpus for the delta query). */
  private def jaccardTailSqlFor(pairPred: String): String =
    s"""inter AS (
       |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_inter
       |  FROM ds sa JOIN ds sb ON sa.shingle = sb.shingle AND $pairPred
       |  WHERE (sa.doc_id, sb.doc_id) IN (SELECT (doc_a, doc_b) FROM cands)
       |  GROUP BY 1, 2),
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY 1)
       |SELECT i.doc_a, i.doc_b,
       | CAST(round(CAST(CAST(i.n_inter AS DOUBLE)/(ca.n_sh + cb.n_sh - i.n_inter) AS DECIMAL(38,6)), 4) AS DOUBLE) AS jac
       |FROM inter i JOIN cnt ca ON i.doc_a = ca.doc_id JOIN cnt cb ON i.doc_b = cb.doc_id
       |WHERE CAST(round(CAST(CAST(i.n_inter AS DOUBLE)/(ca.n_sh + cb.n_sh - i.n_inter) AS DECIMAL(38,6)), 4) AS DOUBLE) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  private val jaccardTailSql = jaccardTailSqlFor("sa.doc_id < sb.doc_id")

  private val simhashTermsSql: String = {
    val sums = (0 until SIM_BITS).map(j =>
      s"sum(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(",\n   ")
    val bits = (0 until SIM_BITS).map(j =>
      s"CASE WHEN s$j >= 0 THEN (1::BIGINT << $j) ELSE 0 END").mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, lang,
       |   ('0x'||substr(md5(unnest(string_split(text,' '))),1,15))::BIGINT AS th
       |  FROM documents),
       |sums AS (
       |  SELECT doc_id, lang,
       |   $sums
       |  FROM tok GROUP BY doc_id, lang),
       |sim AS (SELECT doc_id, lang, $bits AS simhash FROM sums)""".stripMargin
  }

  /** sigs + bands CTEs shared by the full and delta minhash oracles. */
  private val minhashBandsCte: String = {
    val slicesPerHash = 32 / MINHASH_SLICE
    val sigs = (0 until MINHASH_K).map { i =>
      val h = if (i < slicesPerHash) "md5(shingle)"
        else s"md5('$MINHASH_SALT'||shingle)"
      s"min(substr($h, ${MINHASH_SLICE * (i % slicesPerHash) + 1}, $MINHASH_SLICE)) AS sig$i"
    }.mkString(", ")
    val bandRows = (0 until MINHASH_K / 2).map(j =>
      s"SELECT doc_id, $j AS band, md5(sig${2 * j}||sig${2 * j + 1}) AS bucket FROM sigs")
      .mkString("\n  UNION ALL ")
    s"""sigs AS (SELECT doc_id, $sigs FROM ds GROUP BY doc_id),
       |bands AS (
       |  $bandRows)""".stripMargin
  }

  private val minhashSigsSql: String =
    s"""$minhashBandsCte,
       |cands AS (
       |  SELECT DISTINCT ba.doc_id AS doc_a, bb.doc_id AS doc_b
       |  FROM bands ba JOIN bands bb
       |   ON ba.band = bb.band AND ba.bucket = bb.bucket AND ba.doc_id < bb.doc_id)""".stripMargin

  /** Delta variant: batch (doc_id%10=7) bands probe corpus bands only. */
  private val minhashDeltaSql: String =
    s"""$minhashBandsCte,
       |cands AS (
       |  SELECT DISTINCT ba.doc_id AS doc_a, bb.doc_id AS doc_b
       |  FROM bands ba JOIN bands bb
       |   ON ba.band = bb.band AND ba.bucket = bb.bucket
       |  WHERE ba.doc_id % 10 = 7 AND bb.doc_id % 10 <> 7)""".stripMargin

  private val lshBucketSql: String =
    s"""planes AS (
       |  SELECT p, d,
       |   (('0x'||substr(md5(p||':'||d),1,15))::BIGINT % 1000)/500.0 - 1.0 AS v
       |  FROM generate_series(0, ${LSH_PLANES - 1}) tp(p), generate_series(1, 64) td(d)),
       |comps AS (
       |  SELECT e.vec_id, e.label, pl.p,
       |   sum(CAST(e.embedding[pl.d] AS DOUBLE) * pl.v) AS dot
       |  FROM embeddings e JOIN planes pl ON true
       |  GROUP BY 1, 2, 3),
       |buckets AS (
       |  SELECT vec_id, label,
       |   CAST(sum(CASE WHEN CAST(round(CAST(dot AS DECIMAL(38,6)), 4) AS DOUBLE) > 0
       |            THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM comps GROUP BY 1, 2)""".stripMargin

  private val cosSql =
    "CAST(round(CAST(list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS DECIMAL(38,6)), 4) AS DOUBLE)"

  /** Multi-table LSH bucket CTEs (mirrors [[lshMultiBucketsPlan]]) —
    * shared by the full self-join and the ingest-delta oracles. */
  private val lshMultiBucketsCte: String =
    s"""mplanes AS (
       |  SELECT t.tb AS tb, j.j AS j, td.d AS d,
       |   (('0x'||substr(md5(($LSH_PLANES + t.tb*$LSH_TABLE_BITS + j.j)||':'||td.d),1,15))::BIGINT % 1000)/500.0 - 1.0 AS v
       |  FROM generate_series(0, ${LSH_TABLES - 1}) t(tb),
       |       generate_series(0, ${LSH_TABLE_BITS - 1}) j(j),
       |       generate_series(1, 64) td(d)),
       |mcomps AS (
       |  SELECT e.vec_id, pl.tb, pl.j,
       |   sum(CAST(e.embedding[pl.d] AS DOUBLE) * pl.v) AS dot
       |  FROM embeddings e JOIN mplanes pl ON true
       |  GROUP BY 1, 2, 3),
       |mbuckets AS (
       |  SELECT vec_id, tb,
       |   CAST(sum(CASE WHEN CAST(round(CAST(dot AS DECIMAL(38,6)), 4) AS DOUBLE) > 0
       |            THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM mcomps GROUP BY 1, 2)""".stripMargin

  /** Constant-occupancy LSH CTE chain (mirrors [[lshcProbesPlan]] stage
    * for stage): nbits = smallest b with 2^b ≥ ⌈count(*)/c⌉ (integer-
    * exact — no floating log2), per-(vec,table) rounded plane dots,
    * own-bucket sign sum, margin ranking by (|dot|, plane id), and the
    * targeted probe set: own bucket + [[LSHC_T]] single flips + the
    * smallest-pair double flip. The 0..31 bit series is generated fixed
    * and filtered by nbits (DuckDB table functions reject subquery
    * args); 32 bits = the same ceiling the Spark plane-id stride
    * encodes. */
  private val lshcCtesSql: String =
    s"""lk AS (SELECT CAST(ceil(count(*) / ${LSHC_CELL}.0) AS BIGINT) AS k FROM embeddings),
       |lnb AS (SELECT GREATEST(1, min(j.j)) AS nbits
       |  FROM generate_series(0, 32) j(j) WHERE (1::BIGINT << j.j) >= (SELECT k FROM lk)),
       |lplanes AS (
       |  SELECT t.tb AS tb, j.j AS j, td.d AS d,
       |   (('0x'||substr(md5(($LSHC_BASE + t.tb*32 + j.j)||':'||td.d),1,15))::BIGINT % 1000)/500.0 - 1.0 AS v
       |  FROM generate_series(0, ${LSHC_TABLES - 1}) t(tb),
       |       generate_series(0, 31) j(j),
       |       generate_series(1, 64) td(d)
       |  WHERE j.j < (SELECT nbits FROM lnb)),
       |lcomps AS (
       |  SELECT e.vec_id, pl.tb, pl.j,
       |   CAST(round(CAST(sum(CAST(e.embedding[pl.d] AS DOUBLE) * pl.v) AS DECIMAL(38,6)), 4) AS DOUBLE) AS dot
       |  FROM embeddings e JOIN lplanes pl ON true
       |  GROUP BY 1, 2, 3),
       |lbuckets AS (
       |  SELECT vec_id, tb,
       |   CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM lcomps GROUP BY 1, 2),
       |lranked AS (
       |  SELECT vec_id, tb, j,
       |   row_number() OVER (PARTITION BY vec_id, tb ORDER BY abs(dot) ASC, j ASC) AS r
       |  FROM lcomps),
       |lprobes AS (
       |  SELECT vec_id, tb, bucket FROM lbuckets
       |  UNION ALL
       |  SELECT b.vec_id, b.tb, xor(b.bucket, 1::BIGINT << r.j)
       |  FROM lbuckets b JOIN lranked r
       |   ON b.vec_id = r.vec_id AND b.tb = r.tb AND r.r <= $LSHC_T
       |  UNION ALL
       |  SELECT b.vec_id, b.tb, xor(b.bucket, (1::BIGINT << r1.j) | (1::BIGINT << r2.j))
       |  FROM lbuckets b
       |  JOIN lranked r1 ON b.vec_id = r1.vec_id AND b.tb = r1.tb AND r1.r = 1
       |  JOIN lranked r2 ON b.vec_id = r2.vec_id AND b.tb = r2.tb AND r2.r = 2)""".stripMargin

  /** Rerank tail over an `mcands(qid, nid)` candidate set: exact cosine,
    * top-3 per query. */
  private val lshCandRerankTailSql: String =
    s"""SELECT vec_id, neighbor_id, cos, rnk FROM (
       |  SELECT c.qid AS vec_id, c.nid AS neighbor_id, $cosSql AS cos,
       |   CAST(row_number() OVER (PARTITION BY c.qid
       |     ORDER BY $cosSql DESC, c.nid ASC) AS INT) AS rnk
       |  FROM mcands c
       |  JOIN embeddings a ON c.qid = a.vec_id
       |  JOIN embeddings b ON c.nid = b.vec_id)
       |WHERE rnk <= 3
       |ORDER BY vec_id, rnk""".stripMargin

  /** Shared IVF CTE chain: quantizer training, per-vector cell scoring,
    * and the ranked cell list (mirrors [[ivfCells]]). `assigned` is the
    * rank-1 cell; `probes` the top-NPROBE list. */
  private val ivfCtesSql: String =
    s"""comp AS (
       |  SELECT label, t.d AS dim,
       |   CAST(sum(CAST(embedding[t.d] AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS m
       |  FROM embeddings, generate_series(1, 64) t(d)
       |  GROUP BY label, t.d),
       |cent AS (
       |  SELECT label AS cell, list(m ORDER BY dim) AS centroid
       |  FROM comp GROUP BY label),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |   CAST(round(CAST(list_cosine_similarity(
       |     list_transform(e.embedding, x -> CAST(x AS DOUBLE)), c.centroid)
       |    AS DECIMAL(38,6)), 4) AS DOUBLE) AS ccos
       |  FROM embeddings e CROSS JOIN cent c),
       |probes AS (
       |  SELECT vec_id, embedding, cell, arnk FROM (
       |    SELECT vec_id, embedding, cell,
       |     row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell ASC) AS arnk
       |    FROM scored)
       |  WHERE arnk <= $NPROBE),
       |assigned AS (
       |  SELECT vec_id, embedding, cell FROM probes WHERE arnk = 1)""".stripMargin

  /** Trained-k IVF CTE chain (mirrors [[ivfKCentroids]]/[[ivfKScored]]
    * stage for stage): k and nprobe derived from count(*), seeds by md5
    * rank, init rank-1 assignment, decimal-mean Lloyd step, final
    * ranking against the trained centroids. */
  private val ivfkCtesSql: String =
    s"""nk AS (
       |  SELECT CAST(ceil(sqrt(count(*))) AS INT) AS k,
       |   2 * CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS INT) AS np
       |  FROM embeddings),
       |seeds AS (
       |  SELECT embedding AS seed,
       |   CAST(row_number() OVER (ORDER BY md5('ivfk:'||vec_id)) AS INT) AS cell
       |  FROM embeddings
       |  QUALIFY cell <= (SELECT k FROM nk)),
       |iassign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, s.cell,
       |     row_number() OVER (PARTITION BY e.vec_id
       |       ORDER BY CAST(round(CAST(list_cosine_similarity(
       |           list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
       |           list_transform(s.seed, x -> CAST(x AS DOUBLE)))
       |          AS DECIMAL(38,6)), 4) AS DOUBLE) DESC, s.cell ASC) AS irnk
       |    FROM embeddings e CROSS JOIN seeds s)
       |  WHERE irnk = 1),
       |kcomp AS (
       |  SELECT a.cell, t.d AS dim,
       |   CAST(sum(CAST(e.embedding[t.d] AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS m
       |  FROM embeddings e JOIN iassign a USING (vec_id), generate_series(1, 64) t(d)
       |  GROUP BY a.cell, t.d),
       |kcent AS (SELECT cell, list(m ORDER BY dim) AS centroid FROM kcomp GROUP BY cell),
       |kranked AS (
       |  SELECT vec_id, embedding, cell,
       |   CAST(row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell ASC)
       |    AS INT) AS arnk
       |  FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |     CAST(round(CAST(list_cosine_similarity(
       |       list_transform(e.embedding, x -> CAST(x AS DOUBLE)), c.centroid)
       |      AS DECIMAL(38,6)), 4) AS DOUBLE) AS ccos
       |    FROM embeddings e CROSS JOIN kcent c)),
       |kassigned AS (SELECT vec_id, embedding, cell FROM kranked WHERE arnk = 1),
       |kassigned2 AS (SELECT vec_id, embedding, cell FROM kranked WHERE arnk <= 2),
       |kprobes AS (
       |  SELECT vec_id, embedding, cell FROM kranked
       |  WHERE arnk <= (SELECT np FROM nk))""".stripMargin

  /** Two-level constant-cell-size semantic quantizer CTE chain (mirrors
    * [[semCoarseCentroids]]→[[semCoarseAssign]]→[[semFineCentroids]]→
    * [[semAssign]] stage for stage): k1 = ⌈√⌈N/c⌉⌉ coarse cells (seeds by
    * md5('semc:') rank, rank-1 init, decimal-mean Lloyd), corpus coarse
    * assignment, ⌈n_g/c⌉ fine seeds PER coarse cell by md5('semf:') rank
    * within g, within-cell init + Lloyd, final rank-1 within the
    * vector's own coarse cell; cell id = g·1,000,000 + j. */
  private val semCtesSql: String =
    s"""smk AS (
       |  SELECT CAST(ceil(sqrt(ceil(count(*) / ${SEM_CELL}.0))) AS INT) AS k1
       |  FROM embeddings),
       |cseeds AS (
       |  SELECT embedding AS seed,
       |   CAST(row_number() OVER (ORDER BY md5('semc:'||vec_id)) AS INT) AS g
       |  FROM embeddings
       |  QUALIFY g <= (SELECT k1 FROM smk)),
       |ciassign AS (
       |  SELECT vec_id, g FROM (
       |    SELECT e.vec_id, s.g,
       |     row_number() OVER (PARTITION BY e.vec_id
       |       ORDER BY CAST(round(CAST(list_cosine_similarity(
       |           list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
       |           list_transform(s.seed, x -> CAST(x AS DOUBLE)))
       |          AS DECIMAL(38,6)), 4) AS DOUBLE) DESC, s.g ASC) AS irnk
       |    FROM embeddings e CROSS JOIN cseeds s)
       |  WHERE irnk = 1),
       |ccomp AS (
       |  SELECT a.g, t.d AS dim,
       |   CAST(sum(CAST(e.embedding[t.d] AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS m
       |  FROM embeddings e JOIN ciassign a USING (vec_id), generate_series(1, 64) t(d)
       |  GROUP BY a.g, t.d),
       |ccent AS (SELECT g, list(m ORDER BY dim) AS centroid FROM ccomp GROUP BY g),
       |cassign AS (
       |  SELECT vec_id, g FROM (
       |    SELECT e.vec_id, c.g,
       |     row_number() OVER (PARTITION BY e.vec_id
       |       ORDER BY CAST(round(CAST(list_cosine_similarity(
       |           list_transform(e.embedding, x -> CAST(x AS DOUBLE)), c.centroid)
       |          AS DECIMAL(38,6)), 4) AS DOUBLE) DESC, c.g ASC) AS arnk
       |    FROM embeddings e CROSS JOIN ccent c)
       |  WHERE arnk = 1),
       |wg AS (
       |  SELECT e.vec_id, a.g, e.embedding
       |  FROM embeddings e JOIN cassign a USING (vec_id)),
       |fseeds AS (
       |  SELECT g, j, embedding AS seed FROM (
       |    SELECT g, embedding,
       |     CAST(row_number() OVER (PARTITION BY g
       |       ORDER BY md5('semf:'||vec_id)) AS INT) AS j,
       |     count(*) OVER (PARTITION BY g) AS ng
       |    FROM wg)
       |  WHERE j <= (ng + ${SEM_CELL - 1}) // ${SEM_CELL}),
       |fiassign AS (
       |  SELECT vec_id, g, j FROM (
       |    SELECT w.vec_id, w.g, s.j,
       |     row_number() OVER (PARTITION BY w.vec_id
       |       ORDER BY CAST(round(CAST(list_cosine_similarity(
       |           list_transform(w.embedding, x -> CAST(x AS DOUBLE)),
       |           list_transform(s.seed, x -> CAST(x AS DOUBLE)))
       |          AS DECIMAL(38,6)), 4) AS DOUBLE) DESC, s.j ASC) AS irnk
       |    FROM wg w JOIN fseeds s ON w.g = s.g)
       |  WHERE irnk = 1),
       |fcomp AS (
       |  SELECT a.g, a.j, t.d AS dim,
       |   CAST(sum(CAST(e.embedding[t.d] AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS m
       |  FROM embeddings e JOIN fiassign a USING (vec_id), generate_series(1, 64) t(d)
       |  GROUP BY a.g, a.j, t.d),
       |fcent AS (SELECT g, j, list(m ORDER BY dim) AS centroid
       |  FROM fcomp GROUP BY g, j),
       |sassignedR AS (
       |  SELECT vec_id, embedding, cell, arnk FROM (
       |    SELECT w.vec_id, w.embedding,
       |     CAST(w.g AS BIGINT) * 1000000 + f.j AS cell,
       |     row_number() OVER (PARTITION BY w.vec_id
       |       ORDER BY CAST(round(CAST(list_cosine_similarity(
       |           list_transform(w.embedding, x -> CAST(x AS DOUBLE)), f.centroid)
       |          AS DECIMAL(38,6)), 4) AS DOUBLE) DESC, f.j ASC) AS arnk
       |    FROM wg w JOIN fcent f ON w.g = f.g)
       |  WHERE arnk <= 2),
       |sassigned AS (
       |  SELECT vec_id, embedding, cell FROM sassignedR WHERE arnk = 1)""".stripMargin

  /** Oracle mirror of [[ivfcProbesFor]] over the full corpus (the delta
    * restricts by batch id downstream — the scoring chain ranks every
    * vector identically, so batch probes ≡ this list filtered):
    * top-[[IVFC_G]] coarse groups per query, then the overall
    * top-[[IVFC_NP]] fine cells by fine-centroid cosine. Expects the
    * [[semCtesSql]] block in scope. */
  private val ivfcProbeCtesSql: String =
    s"""qg2 AS (
       |  SELECT vec_id, g FROM (
       |    SELECT e.vec_id, c.g,
       |     row_number() OVER (PARTITION BY e.vec_id
       |       ORDER BY CAST(round(CAST(list_cosine_similarity(
       |           list_transform(e.embedding, x -> CAST(x AS DOUBLE)), c.centroid)
       |          AS DECIMAL(38,6)), 4) AS DOUBLE) DESC, c.g ASC) AS grnk
       |    FROM embeddings e CROSS JOIN ccent c)
       |  WHERE grnk <= $IVFC_G),
       |qprobes AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT q.vec_id, CAST(q.g AS BIGINT) * 1000000 + f.j AS cell,
       |     row_number() OVER (PARTITION BY q.vec_id
       |       ORDER BY CAST(round(CAST(list_cosine_similarity(
       |           list_transform(e.embedding, x -> CAST(x AS DOUBLE)), f.centroid)
       |          AS DECIMAL(38,6)), 4) AS DOUBLE) DESC, q.g ASC, f.j ASC) AS prnk
       |    FROM qg2 q JOIN embeddings e USING (vec_id) JOIN fcent f ON q.g = f.g)
       |  WHERE prnk <= $IVFC_NP)""".stripMargin

  /** PQ CTE chain (mirrors [[pqCodebooks]]/[[pqCodes]] stage for stage):
    * md5-ranked seeds, then [[PQ_LLOYD]] per-subspace Lloyd iterations
    * (rounded-L2 assignment + decimal-mean recompute) GENERATED as one
    * CTE block per iteration, nibble-code encoding against the final
    * codebooks. The loop count is the same constant both engines read,
    * so the chains stay stage-for-stage identical at any T. */
  private val pqCtesSql: String = {
    val iters = (1 to PQ_LLOYD).map { tt =>
      val prev = if (tt == 1) "pcb0" else s"pcb${tt - 1}"
      s"""psd$tt AS (
         |  SELECT es.vec_id, es.m, cb.c,
         |   CAST(round(CAST(sum(power(es.sub[i.i] - cb.centroid[i.i], 2)) AS DECIMAL(38,6)), 4) AS DOUBLE) AS sd
         |  FROM esub es JOIN $prev cb ON es.m = cb.m, generate_series(1, $PQ_SUBDIM) i(i)
         |  GROUP BY es.vec_id, es.m, cb.c),
         |passign$tt AS (
         |  SELECT vec_id, m, c FROM psd$tt
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY sd ASC, c ASC) = 1),
         |pcomp$tt AS (
         |  SELECT a.m, a.c, i.i,
         |   CAST(sum(CAST(es.sub[i.i] AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS v
         |  FROM esub es JOIN passign$tt a USING (vec_id, m), generate_series(1, $PQ_SUBDIM) i(i)
         |  GROUP BY a.m, a.c, i.i),
         |pcb$tt AS (SELECT m, c, list(v ORDER BY i) AS centroid FROM pcomp$tt GROUP BY m, c)""".stripMargin
    }.mkString(",\n")
    s"""pseeds AS (
       |  SELECT embedding AS seed,
       |   CAST(row_number() OVER (ORDER BY md5('pq:'||vec_id)) AS INT) AS c
       |  FROM embeddings
       |  QUALIFY c <= $PQ_K),
       |pcb0 AS (
       |  SELECT s.c, t.m,
       |   list_transform(list_slice(s.seed, $PQ_SUBDIM*t.m+1, $PQ_SUBDIM*t.m+$PQ_SUBDIM),
       |     x -> CAST(x AS DOUBLE)) AS centroid
       |  FROM pseeds s, generate_series(0, ${PQ_M - 1}) t(m)),
       |esub AS (
       |  SELECT e.vec_id, t.m,
       |   list_transform(list_slice(e.embedding, $PQ_SUBDIM*t.m+1, $PQ_SUBDIM*t.m+$PQ_SUBDIM),
       |     x -> CAST(x AS DOUBLE)) AS sub
       |  FROM embeddings e, generate_series(0, ${PQ_M - 1}) t(m)),
       |$iters,
       |pcb AS (SELECT m, c, centroid FROM pcb$PQ_LLOYD),
       |psdE AS (
       |  SELECT es.vec_id, es.m, cb.c,
       |   CAST(round(CAST(sum(power(es.sub[i.i] - cb.centroid[i.i], 2)) AS DECIMAL(38,6)), 4) AS DOUBLE) AS sd
       |  FROM esub es JOIN pcb cb ON es.m = cb.m, generate_series(1, $PQ_SUBDIM) i(i)
       |  GROUP BY es.vec_id, es.m, cb.c),
       |pcodes AS (
       |  SELECT vec_id, m, c AS code FROM psdE
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY sd ASC, c ASC) = 1)""".stripMargin
  }

  /** ADC + exact-rerank oracle tail (mirrors [[pqAdcRerank]]): expects a
    * `pqcands(qid, nid)` CTE in scope; per-subspace code distances, their
    * rounded sum, ADC top-[[PQ_RERANK]] shortlist, exact cosine top-3. */
  private val pqAdcTailSql: String =
    s""",subd AS (
       |  SELECT c.qid, c.nid, k.m,
       |   CAST(round(CAST(sum(power(es.sub[i.i] - cb.centroid[i.i], 2)) AS DECIMAL(38,6)), 4) AS DOUBLE) AS sd
       |  FROM pqcands c
       |  JOIN pcodes k ON c.nid = k.vec_id
       |  JOIN pcb cb ON cb.m = k.m AND cb.c = k.code
       |  JOIN esub es ON es.vec_id = c.qid AND es.m = k.m,
       |  generate_series(1, $PQ_SUBDIM) i(i)
       |  GROUP BY c.qid, c.nid, k.m),
       |adc AS (
       |  SELECT qid, nid,
       |   CAST(round(CAST(sum(sd) AS DECIMAL(38,6)), 4) AS DOUBLE) AS adist
       |  FROM subd GROUP BY qid, nid),
       |shortlist AS (
       |  SELECT qid, nid FROM adc
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adist ASC, nid ASC) <= $PQ_RERANK)
       |SELECT vec_id, neighbor_id, cos, rnk FROM (
       |  SELECT t.qid AS vec_id, t.nid AS neighbor_id, $cosSql AS cos,
       |   CAST(row_number() OVER (PARTITION BY t.qid
       |     ORDER BY $cosSql DESC, t.nid ASC) AS INT) AS rnk
       |  FROM shortlist t
       |  JOIN embeddings a ON t.qid = a.vec_id
       |  JOIN embeddings b ON t.nid = b.vec_id)
       |WHERE rnk <= 3
       |ORDER BY vec_id, rnk""".stripMargin

  /** Oracle mirror of [[substrPostings]]: every width-[[SUBSTR_W]] token
    * window keyed by md5 (generate_series is stop-inclusive, matching
    * Spark's `sequence`; both engines join tokens with a single space
    * before hashing). */
  private val substrGramsSql: String =
    s"""stoks AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |  WHERE len(string_split(text, ' ')) >= $SUBSTR_W),
       |sgpos AS (
       |  SELECT doc_id, len(tk) AS n_toks, tk,
       |   unnest(generate_series(0, len(tk) - $SUBSTR_W)) AS start
       |  FROM stoks),
       |sgrams AS (
       |  SELECT doc_id, n_toks, start,
       |   md5(array_to_string(tk[start + 1 : start + $SUBSTR_W], ' ')) AS gh
       |  FROM sgpos)""".stripMargin

  /** Oracle mirror of [[substrSpanStats]] — expects a
    * `smark(doc_id, n_toks, start, stop)` CTE of duplicated window starts. */
  private val substrSpanSql: String =
    s"""sw1 AS (
       |  SELECT *, max(stop) OVER (PARTITION BY doc_id ORDER BY start
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM smark),
       |sw2 AS (SELECT *, CASE WHEN prev_max IS NULL OR start > prev_max
       |    THEN 1 ELSE 0 END AS new_isl FROM sw1),
       |sw3 AS (SELECT *, sum(new_isl) OVER (PARTITION BY doc_id ORDER BY start
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM sw2),
       |sspans AS (
       |  SELECT doc_id, max(n_toks) AS n_toks, island,
       |   min(start) AS s, max(stop) AS e, count(*) AS ng
       |  FROM sw3 GROUP BY doc_id, island)
       |SELECT doc_id, CAST(max(n_toks) AS BIGINT) AS n_toks,
       | CAST(max(n_toks) - ${SUBSTR_W - 1} AS BIGINT) AS n_grams,
       | CAST(sum(ng) AS BIGINT) AS dup_grams,
       | CAST(count(*) AS BIGINT) AS n_spans,
       | CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
       | ${r4sql("CAST(sum(e - s + 1) AS DOUBLE) / max(n_toks)")} AS dup_ratio
       |FROM sspans GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def oracle: Seq[(String, String)] = Seq(
    "q_dedup_exact" ->
      """SELECT sha256(lower(trim(text))) AS h, min(doc_id) AS keeper,
        | count(*) AS n_copies
        |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY h""".stripMargin,
    "q_dedup_keep" ->
      """SELECT lang, count(*) AS n_before,
        | count(*) FILTER (WHERE rn = 1) AS n_after
        |FROM (
        |  SELECT lang,
        |   row_number() OVER (PARTITION BY sha256(lower(trim(text)))
        |     ORDER BY doc_id ASC) AS rn
        |  FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_dedup_near" ->
      s"""WITH $docShinglesCtes,
         |cands AS (
         |  SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
         |  FROM ds sa JOIN ds sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id),
         |$jaccardTailSql""".stripMargin,
    "q_dedup_containment" ->
      s"""WITH $docShinglesCtes,
         |inter AS (
         |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_inter
         |  FROM ds sa JOIN ds sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
         |  GROUP BY 1, 2),
         |cnt AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY 1)
         |SELECT i.doc_a, i.doc_b,
         | ${r4sql("CAST(i.n_inter AS DOUBLE) / least(ca.n_sh, cb.n_sh)")} AS cont
         |FROM inter i JOIN cnt ca ON i.doc_a = ca.doc_id JOIN cnt cb ON i.doc_b = cb.doc_id
         |WHERE ${r4sql("CAST(i.n_inter AS DOUBLE) / least(ca.n_sh, cb.n_sh)")} >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_substring" ->
      s"""WITH $substrGramsSql,
         |sdupg AS (SELECT gh FROM sgrams GROUP BY gh
         |  HAVING count(DISTINCT doc_id) >= 2),
         |smark AS (
         |  SELECT g.doc_id, g.n_toks, g.start, g.start + ${SUBSTR_W - 1} AS stop
         |  FROM sgrams g JOIN sdupg USING (gh)),
         |$substrSpanSql""".stripMargin,
    "q_dedup_substring_delta" ->
      s"""WITH $substrGramsSql,
         |scgh AS (SELECT DISTINCT gh FROM sgrams WHERE doc_id % 10 <> 7),
         |smark AS (
         |  SELECT g.doc_id, g.n_toks, g.start, g.start + ${SUBSTR_W - 1} AS stop
         |  FROM sgrams g JOIN scgh USING (gh)
         |  WHERE g.doc_id % 10 = 7),
         |$substrSpanSql""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $docShinglesCtes,
         |$minhashSigsSql,
         |$jaccardTailSql""".stripMargin,
    "q_dedup_minhash_delta" ->
      s"""WITH $docShinglesCtes,
         |$minhashDeltaSql,
         |${jaccardTailSqlFor("sa.doc_id % 10 = 7 AND sb.doc_id % 10 <> 7")}""".stripMargin,
    "q_shingle_cap_report" ->
      s"""WITH ds0 AS (SELECT doc_id, unnest($shinglesSql3) AS shingle FROM documents),
         |dfs AS (SELECT shingle, count(*) AS df FROM ds0 GROUP BY 1),
         |hot AS (SELECT * FROM dfs WHERE df > $MAX_SHINGLE_DF)
         |SELECT
         | (SELECT count(*) FROM dfs) AS n_shingles_distinct,
         | (SELECT count(*) FROM hot) AS n_shingles_capped,
         | (SELECT COALESCE(CAST(sum(df) AS BIGINT), 0) FROM hot) AS n_rows_dropped,
         | (SELECT count(DISTINCT ds0.doc_id) FROM ds0 JOIN hot USING (shingle))
         |   AS n_docs_affected""".stripMargin,
    "q_shingle_cap_lag" ->
      s"""WITH bs AS (SELECT doc_id, unnest($shinglesSql3) AS shingle
         |  FROM documents WHERE doc_id % 10 = 7),
         |bdfs AS (SELECT shingle, count(*) AS df FROM bs GROUP BY 1),
         |bhot AS (SELECT * FROM bdfs WHERE df > $MAX_SHINGLE_DF),
         |cs AS (SELECT doc_id, unnest($shinglesSql3) AS shingle FROM documents),
         |chot AS (SELECT shingle FROM cs GROUP BY shingle
         |  HAVING count(*) > $MAX_SHINGLE_DF),
         |lag AS (SELECT b.shingle, b.df FROM bhot b
         |  LEFT JOIN chot c USING (shingle) WHERE c.shingle IS NULL)
         |SELECT
         | (SELECT count(*) FROM bhot) AS n_batch_hot,
         | (SELECT count(*) FROM lag) AS n_lagging,
         | (SELECT COALESCE(CAST(max(df) AS BIGINT), 0) FROM lag) AS max_lag_df,
         | (SELECT count(*) FROM bs JOIN
         |   (SELECT shingle FROM chot UNION SELECT shingle FROM bhot) u
         |   USING (shingle)) AS n_rows_capped""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH $simhashTermsSql
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_simhash_banded" ->
      s"""WITH $simhashTermsSql,
         |bands AS (
         |  SELECT doc_id, lang, simhash, t.j AS band, (simhash >> (t.j*5)) & 31 AS bv
         |  FROM sim, generate_series(0, 6) t(j))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM bands a JOIN bands b
         | ON a.band = b.band AND a.bv = b.bv AND a.lang = b.lang
         |  AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_embcos" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, $cosSql AS cos
         |FROM embeddings a JOIN embeddings b
         | ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE $cosSql >= 0.99
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q_dedup_semantic" ->
      s"""WITH $semCtesSql,
         |sdup AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM sassigned a JOIN sassigned b
         |   ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${r4sql("""list_cosine_similarity(
         |      list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
         |      list_transform(b.embedding, x -> CAST(x AS DOUBLE)))""")} >= $SEM_TAU)
         |SELECT k.vec_id, k.cell, (s.vec_id IS NOT NULL) AS dropped
         |FROM sassigned k LEFT JOIN sdup s ON k.vec_id = s.vec_id
         |ORDER BY k.vec_id""".stripMargin,
    "q_dedup_semantic_mp" ->
      s"""WITH $semCtesSql,
         |sdup2 AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM sassignedR a JOIN sassignedR b
         |   ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${r4sql("""list_cosine_similarity(
         |      list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
         |      list_transform(b.embedding, x -> CAST(x AS DOUBLE)))""")} >= $SEM_TAU)
         |SELECT k.vec_id, k.cell, (s.vec_id IS NOT NULL) AS dropped
         |FROM sassigned k LEFT JOIN sdup2 s ON k.vec_id = s.vec_id
         |ORDER BY k.vec_id""".stripMargin,
    "q_dedup_semantic_delta" ->
      s"""WITH $semCtesSql,
         |bq AS (SELECT vec_id, embedding, cell FROM sassigned WHERE vec_id % 10 = 7),
         |sdup AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM bq a JOIN sassigned b
         |   ON a.cell = b.cell AND b.vec_id % 10 <> 7
         |  WHERE ${r4sql("""list_cosine_similarity(
         |      list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
         |      list_transform(b.embedding, x -> CAST(x AS DOUBLE)))""")} >= $SEM_TAU)
         |SELECT k.vec_id, k.cell, (s.vec_id IS NOT NULL) AS dropped
         |FROM bq k LEFT JOIN sdup s ON k.vec_id = s.vec_id
         |ORDER BY k.vec_id""".stripMargin,
    "q_dedup_semantic_cells" ->
      s"""WITH $semCtesSql
         |SELECT cell, count(*) AS n_members,
         | count(*) * (count(*) - 1) // 2 AS n_pairs,
         | (count(*) > ${4 * SEM_CELL}) AS oversized
         |FROM sassigned GROUP BY cell ORDER BY cell""".stripMargin,
    "q_dedup_semantic_recall" ->
      s"""WITH $semCtesSql,
         |truthp AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM embeddings a JOIN embeddings b
         |   ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE $cosSql >= $SEM_TAU),
         |caught AS (
         |  SELECT t.va FROM truthp t
         |  JOIN sassigned x ON t.va = x.vec_id
         |  JOIN sassigned y ON t.vb = y.vec_id
         |  WHERE x.cell = y.cell),
         |caughtmp AS (
         |  SELECT DISTINCT t.va, t.vb FROM truthp t
         |  JOIN sassignedR x ON t.va = x.vec_id
         |  JOIN sassignedR y ON t.vb = y.vec_id
         |  WHERE x.cell = y.cell)
         |SELECT (SELECT count(*) FROM truthp) AS n_truth,
         | (SELECT count(*) FROM caught) AS n_caught,
         | ${r4sql("CAST((SELECT count(*) FROM caught) AS DOUBLE) / (SELECT count(*) FROM truthp)")} AS cell_recall,
         | (SELECT count(*) FROM caughtmp) AS n_caught_mp,
         | ${r4sql("CAST((SELECT count(*) FROM caughtmp) AS DOUBLE) / (SELECT count(*) FROM truthp)")} AS mp_recall""".stripMargin,
    "q_sim_knn" ->
      s"""SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, $cosSql AS cos,
         | CAST(row_number() OVER (PARTITION BY a.vec_id
         |   ORDER BY $cosSql DESC, b.vec_id ASC) AS INT) AS rnk
         |FROM embeddings a JOIN embeddings b
         | ON a.label = b.label AND a.vec_id <> b.vec_id
         |QUALIFY rnk <= 5
         |ORDER BY vec_id, rnk""".stripMargin,
    "q_baseline_ann_lsh" ->
      s"""WITH $lshBucketSql,
         |wv AS (
         |  SELECT b.vec_id, b.bucket, e.embedding
         |  FROM buckets b JOIN embeddings e ON b.vec_id = e.vec_id)
         |SELECT a.vec_id AS vec_id, a.bucket AS bucket, b.vec_id AS neighbor_id,
         | $cosSql AS cos,
         | CAST(row_number() OVER (PARTITION BY a.vec_id
         |   ORDER BY $cosSql DESC, b.vec_id ASC) AS INT) AS rnk
         |FROM wv a JOIN wv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
         |QUALIFY rnk <= 3
         |ORDER BY vec_id, rnk""".stripMargin,
    "q_baseline_ann_lsh_probe" ->
      s"""WITH $lshBucketSql,
         |masks AS (SELECT CAST(0 AS BIGINT) AS mask UNION ALL
         |          SELECT CAST(1 AS BIGINT) << p FROM generate_series(0, ${LSH_PLANES - 1}) tm(p)),
         |pprobes AS (
         |  SELECT vec_id, xor(bucket, mask) AS pbucket
         |  FROM buckets CROSS JOIN masks),
         |pcands AS (
         |  SELECT p.vec_id AS qid, b.vec_id AS nid
         |  FROM pprobes p JOIN buckets b
         |   ON p.pbucket = b.bucket AND p.vec_id <> b.vec_id)
         |SELECT vec_id, neighbor_id, cos, rnk FROM (
         |  SELECT c.qid AS vec_id, c.nid AS neighbor_id, $cosSql AS cos,
         |   CAST(row_number() OVER (PARTITION BY c.qid
         |     ORDER BY $cosSql DESC, c.nid ASC) AS INT) AS rnk
         |  FROM pcands c
         |  JOIN embeddings a ON c.qid = a.vec_id
         |  JOIN embeddings b ON c.nid = b.vec_id)
         |WHERE rnk <= 3
         |ORDER BY vec_id, rnk""".stripMargin,
    "q_sim_ann_lsh_multi" ->
      s"""WITH $lshMultiBucketsCte,
         |mcands AS (
         |  SELECT DISTINCT ba.vec_id AS qid, bb.vec_id AS nid
         |  FROM mbuckets ba JOIN mbuckets bb
         |   ON ba.tb = bb.tb AND ba.bucket = bb.bucket AND ba.vec_id <> bb.vec_id)
         |$lshCandRerankTailSql""".stripMargin,
    "q_sim_ann_lsh_mp" ->
      s"""WITH $lshMultiBucketsCte,
         |mprobes AS (
         |  SELECT b.vec_id, b.tb, xor(b.bucket, m.m) AS pbucket
         |  FROM mbuckets b,
         |   (SELECT 0::BIGINT AS m UNION ALL
         |    SELECT (1::BIGINT << j.j) FROM generate_series(0, ${LSH_TABLE_BITS - 1}) j(j)) m),
         |mcands AS (
         |  SELECT DISTINCT pa.vec_id AS qid, pb.vec_id AS nid
         |  FROM mprobes pa JOIN mbuckets pb
         |   ON pa.tb = pb.tb AND pa.pbucket = pb.bucket AND pa.vec_id <> pb.vec_id)
         |$lshCandRerankTailSql""".stripMargin,
    "q_sim_ann_lsh_delta" ->
      s"""WITH $lshMultiBucketsCte,
         |mcands AS (
         |  SELECT DISTINCT ba.vec_id AS qid, bb.vec_id AS nid
         |  FROM mbuckets ba JOIN mbuckets bb
         |   ON ba.tb = bb.tb AND ba.bucket = bb.bucket
         |  WHERE ba.vec_id % 10 = 7 AND bb.vec_id % 10 <> 7)
         |$lshCandRerankTailSql""".stripMargin,
    "q_sim_ann_lshc" ->
      s"""WITH $lshcCtesSql,
         |mcands AS (
         |  SELECT DISTINCT pa.vec_id AS qid, pb.vec_id AS nid
         |  FROM lprobes pa JOIN lbuckets pb
         |   ON pa.tb = pb.tb AND pa.bucket = pb.bucket AND pa.vec_id <> pb.vec_id)
         |$lshCandRerankTailSql""".stripMargin,
    "q_sim_ann_lshc_delta" ->
      s"""WITH $lshcCtesSql,
         |mcands AS (
         |  SELECT DISTINCT pa.vec_id AS qid, pb.vec_id AS nid
         |  FROM lprobes pa JOIN lbuckets pb
         |   ON pa.tb = pb.tb AND pa.bucket = pb.bucket
         |  WHERE pa.vec_id % 10 = 7 AND pb.vec_id % 10 <> 7)
         |$lshCandRerankTailSql""".stripMargin,
    "q_sim_ann_lshc_cands" ->
      s"""WITH $lshcCtesSql,
         |ownc AS (SELECT tb, bucket, count(*) AS n_own FROM lbuckets GROUP BY 1, 2),
         |probec AS (SELECT tb, bucket, count(*) AS n_probe FROM lprobes GROUP BY 1, 2),
         |prod AS (SELECT COALESCE(CAST(sum(n_own * n_probe) AS BIGINT), 0) AS matched
         |  FROM ownc JOIN probec USING (tb, bucket)),
         |nv AS (SELECT count(*) AS n_vectors FROM embeddings),
         |pp AS (SELECT CAST(nbits AS INT) AS nbits,
         |   1 + LEAST($LSHC_T, nbits) + CASE WHEN nbits >= 2 THEN 1 ELSE 0 END AS ppt
         |  FROM lnb)
         |SELECT nv.n_vectors, pp.nbits,
         | CAST($LSHC_TABLES * pp.ppt * $LSHC_CELL AS BIGINT) AS dial_ceiling,
         | prod.matched - nv.n_vectors * $LSHC_TABLES AS cand_rows,
         | ${r4sql(s"CAST(prod.matched - nv.n_vectors * $LSHC_TABLES AS DOUBLE) / nv.n_vectors")} AS cands_per_query,
         | ($LSHC_TABLES * pp.ppt * $LSHC_CELL >= nv.n_vectors) AS saturated
         |FROM nv, prod, pp""".stripMargin,
    "q_baseline_ann_ivf" ->
      s"""WITH $ivfCtesSql
         |SELECT vec_id, cell, neighbor_id, cos, rnk FROM (
         |  SELECT a.vec_id AS vec_id, a.cell AS cell, b.vec_id AS neighbor_id,
         |   $cosSql AS cos,
         |   CAST(row_number() OVER (PARTITION BY a.vec_id
         |     ORDER BY $cosSql DESC, b.vec_id ASC) AS INT) AS rnk
         |  FROM assigned a JOIN assigned b
         |   ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |WHERE rnk <= 3
         |ORDER BY vec_id, rnk""".stripMargin,
    "q_sim_ann_ivf_mp" ->
      s"""WITH $ivfCtesSql
         |SELECT vec_id, neighbor_id, cos, rnk FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |   $cosSql AS cos,
         |   CAST(row_number() OVER (PARTITION BY a.vec_id
         |     ORDER BY $cosSql DESC, b.vec_id ASC) AS INT) AS rnk
         |  FROM probes a JOIN assigned b
         |   ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |WHERE rnk <= 3
         |ORDER BY vec_id, rnk""".stripMargin,
    "q_sim_ann_ivf_k" ->
      s"""WITH $ivfkCtesSql,
         |kcands AS (
         |  SELECT DISTINCT p.vec_id AS qid, q.vec_id AS nid
         |  FROM kprobes p JOIN kassigned2 q
         |   ON p.cell = q.cell AND p.vec_id <> q.vec_id)
         |SELECT vec_id, neighbor_id, cos, rnk FROM (
         |  SELECT c.qid AS vec_id, c.nid AS neighbor_id,
         |   $cosSql AS cos,
         |   CAST(row_number() OVER (PARTITION BY c.qid
         |     ORDER BY $cosSql DESC, c.nid ASC) AS INT) AS rnk
         |  FROM kcands c JOIN embeddings a ON c.qid = a.vec_id
         |   JOIN embeddings b ON c.nid = b.vec_id)
         |WHERE rnk <= 3
         |ORDER BY vec_id, rnk""".stripMargin,
    "q_sim_ann_ivfc" ->
      s"""WITH $semCtesSql,
         |$ivfcProbeCtesSql,
         |iccands AS (
         |  SELECT DISTINCT p.vec_id AS qid, q.vec_id AS nid
         |  FROM qprobes p JOIN sassignedR q
         |   ON p.cell = q.cell AND p.vec_id <> q.vec_id)
         |SELECT vec_id, neighbor_id, cos, rnk FROM (
         |  SELECT c.qid AS vec_id, c.nid AS neighbor_id,
         |   $cosSql AS cos,
         |   CAST(row_number() OVER (PARTITION BY c.qid
         |     ORDER BY $cosSql DESC, c.nid ASC) AS INT) AS rnk
         |  FROM iccands c JOIN embeddings a ON c.qid = a.vec_id
         |   JOIN embeddings b ON c.nid = b.vec_id)
         |WHERE rnk <= 3
         |ORDER BY vec_id, rnk""".stripMargin,
    // batch probes ≡ the corpus probe list restricted to batch ids (the
    // qprobes chain scores every vector identically), corpus side of the
    // candidate join excludes the batch
    "q_sim_ann_ivfc_delta" ->
      s"""WITH $semCtesSql,
         |$ivfcProbeCtesSql,
         |icdcands AS (
         |  SELECT DISTINCT p.vec_id AS qid, q.vec_id AS nid
         |  FROM qprobes p JOIN sassignedR q
         |   ON p.cell = q.cell
         |  WHERE p.vec_id % 10 = 7 AND q.vec_id % 10 <> 7)
         |SELECT vec_id, neighbor_id, cos, rnk FROM (
         |  SELECT c.qid AS vec_id, c.nid AS neighbor_id,
         |   $cosSql AS cos,
         |   CAST(row_number() OVER (PARTITION BY c.qid
         |     ORDER BY $cosSql DESC, c.nid ASC) AS INT) AS rnk
         |  FROM icdcands c JOIN embeddings a ON c.qid = a.vec_id
         |   JOIN embeddings b ON c.nid = b.vec_id)
         |WHERE rnk <= 3
         |ORDER BY vec_id, rnk""".stripMargin,
    // batch probes ≡ the corpus probe index restricted to batch ids (same
    // scoring expression, same np), so kprobes filtered by vec_id%10=7
    // mirrors the Spark side's fresh ivfKCellsFor scoring exactly
    "q_sim_ann_ivf_k_delta" ->
      s"""WITH $ivfkCtesSql,
         |kdcands AS (
         |  SELECT DISTINCT p.vec_id AS qid, q.vec_id AS nid
         |  FROM kprobes p JOIN kassigned2 q
         |   ON p.cell = q.cell
         |  WHERE p.vec_id % 10 = 7 AND q.vec_id % 10 <> 7)
         |SELECT vec_id, neighbor_id, cos, rnk FROM (
         |  SELECT c.qid AS vec_id, c.nid AS neighbor_id,
         |   $cosSql AS cos,
         |   CAST(row_number() OVER (PARTITION BY c.qid
         |     ORDER BY $cosSql DESC, c.nid ASC) AS INT) AS rnk
         |  FROM kdcands c JOIN embeddings a ON c.qid = a.vec_id
         |   JOIN embeddings b ON c.nid = b.vec_id)
         |WHERE rnk <= 3
         |ORDER BY vec_id, rnk""".stripMargin,
    "q_index_drift" ->
      s"""WITH $ivfkCtesSql,
         |newcomp AS (
         |  SELECT a.cell, t.d AS dim,
         |   CAST(sum(CAST(e.embedding[t.d] AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS m,
         |   count(*) AS nm
         |  FROM embeddings e JOIN kassigned a USING (vec_id), generate_series(1, 64) t(d)
         |  GROUP BY a.cell, t.d),
         |newmean AS (
         |  SELECT cell, list(m ORDER BY dim) AS mean_now, max(nm) AS n_members
         |  FROM newcomp GROUP BY cell)
         |SELECT c.cell, COALESCE(n.n_members, 0) AS n_members,
         | ${r4sql("1.0 - list_cosine_similarity(c.centroid, n.mean_now)")} AS drift,
         | (COALESCE(n.n_members, 0) = 0 OR
         |  ${r4sql("1.0 - list_cosine_similarity(c.centroid, n.mean_now)")} > $DRIFT_TAU) AS stale
         |FROM kcent c LEFT JOIN newmean n USING (cell)
         |ORDER BY c.cell""".stripMargin,
    "q_sim_ann_ivfpq" ->
      s"""WITH $ivfkCtesSql,
         |$pqCtesSql,
         |pqcands AS (
         |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
         |  FROM kprobes a JOIN kassigned2 b
         |   ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |$pqAdcTailSql""".stripMargin,
    "q_sim_ann_ivfpq_delta" ->
      s"""WITH $ivfkCtesSql,
         |$pqCtesSql,
         |pqcands AS (
         |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
         |  FROM kprobes a JOIN kassigned2 b
         |   ON a.cell = b.cell
         |  WHERE a.vec_id % 10 = 7 AND b.vec_id % 10 <> 7)
         |$pqAdcTailSql""".stripMargin,
    // constant-cell candidates (the q_sim_ann_ivfc chain: two-level
    // quantizer probes × top-2 assignment) ranked by the SAME ADC tail as
    // the trained-k PQ oracle — candidate generation and scoring compose
    // independently on both engines
    "q_sim_ann_ivfc_pq" ->
      s"""WITH $semCtesSql,
         |$ivfcProbeCtesSql,
         |$pqCtesSql,
         |pqcands AS (
         |  SELECT DISTINCT p.vec_id AS qid, q.vec_id AS nid
         |  FROM qprobes p JOIN sassignedR q
         |   ON p.cell = q.cell AND p.vec_id <> q.vec_id)
         |$pqAdcTailSql""".stripMargin,
    // batch probes ≡ the corpus probe list restricted to batch ids (the
    // qprobes chain scores every vector identically); corpus side of the
    // candidate join excludes the batch, matching the Spark side's
    // semAssign2/pqCodesWide batch filters
    "q_sim_ann_ivfc_pq_delta" ->
      s"""WITH $semCtesSql,
         |$ivfcProbeCtesSql,
         |$pqCtesSql,
         |pqcands AS (
         |  SELECT DISTINCT p.vec_id AS qid, q.vec_id AS nid
         |  FROM qprobes p JOIN sassignedR q
         |   ON p.cell = q.cell
         |  WHERE p.vec_id % 10 = 7 AND q.vec_id % 10 <> 7)
         |$pqAdcTailSql""".stripMargin,
    "q_pipeline_e2e" ->
      """WITH keep AS (
        |  SELECT doc_id, lang, text, n_chars FROM (
        |    SELECT doc_id, lang, text, n_chars,
        |     row_number() OVER (PARTITION BY sha256(lower(trim(text)))
        |       ORDER BY doc_id ASC) AS rn
        |    FROM documents)
        |  WHERE rn = 1),
        |scored AS (
        |  SELECT lang, doc_id, len(string_split(text,' ')) AS n_tok,
        |   CAST(round(CAST(least(1.0, n_chars/200.0)
        |     * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |        / len(string_split(text,' '))) AS DECIMAL(38,6)), 4) AS DOUBLE) AS q
        |  FROM keep)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        | CAST(round(CAST(CAST(sum(CAST(q AS DECIMAL(38,6))) AS DOUBLE) / count(*)
        |   AS DECIMAL(38,6)), 4) AS DOUBLE) AS mean_quality
        |FROM scored
        |WHERE q >= 0.35
        | AND ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 < 50
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_stats" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 50""".stripMargin,
    // exact because MG capacity (4096) ≥ |vocab| (31) — see the query's
    // Scaladoc; the est column hash-matches plain exact counts
    "q_text_heavyhitters_exact" ->
      """SELECT item, est FROM (
        |  SELECT tok AS item, count(*) AS est FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok)
        |ORDER BY est DESC, item ASC LIMIT 20""".stripMargin,
    "q_text_idf" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tok, count(*) AS df,
        | CAST(round(CAST(ln(CAST(n_docs AS DOUBLE) / count(*)) AS DECIMAL(38,6)), 4) AS DOUBLE) AS idf
        |FROM dt CROSS JOIN n
        |GROUP BY tok, n_docs ORDER BY df DESC, tok ASC LIMIT 50""".stripMargin,
    "q_text_bigrams" ->
      """SELECT bigram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(
        |    generate_series(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS bigram
        |  FROM documents)
        |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 30""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        | CAST(len(string_split(text,' ')) AS INT) AS n_ws,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe,
        | n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_langid" ->
      """SELECT doc_id, lang,
        | CAST(round(CAST(CAST(len(list_filter(string_split(text,' '),
        |   w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |   / len(string_split(text,' ')) AS DECIMAL(38,6)), 4) AS DOUBLE) AS stop_ratio,
        | CASE WHEN CAST(len(list_filter(string_split(text,' '),
        |   w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |   / len(string_split(text,' ')) > 0.05 THEN 'en' ELSE 'other' END AS pred_lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id, n_chars,
        | CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
        | CAST(round(CAST(CAST(n_chars - (len(string_split(text,' ')) - 1) AS DOUBLE)
        |   / len(string_split(text,' ')) AS DECIMAL(38,6)), 4) AS DOUBLE) AS mean_tok_len,
        | CAST(round(CAST(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |   / len(string_split(text,' ')) AS DECIMAL(38,6)), 4) AS DOUBLE) AS diversity,
        | CAST(round(CAST(least(1.0, n_chars/200.0)
        |   * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |      / len(string_split(text,' '))) AS DECIMAL(38,6)), 4) AS DOUBLE) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      """SELECT doc_id,
        | list_min(list_transform(
        |   CASE WHEN len(string_split(text,' ')) >= 5 THEN
        |    list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-4),
        |     i -> string_split(text,' ')[i]||' '||string_split(text,' ')[i+1]||' '||
        |          string_split(text,' ')[i+2]||' '||string_split(text,' ')[i+3]||' '||
        |          string_split(text,' ')[i+4]))
        |    ELSE [] END, sh -> md5(sh))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_redact" ->
      s"""SELECT doc_id, lang,
         | CAST(len(regexp_extract_all(text, '$REDACT_PAT')) AS BIGINT) AS n_hits,
         | sha256(regexp_replace(text, '$REDACT_PAT', '<MASK>', 'g')) AS h_redacted
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_editdist" ->
      """WITH src AS (SELECT DISTINCT source FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b,
        | CAST(levenshtein(a.source, b.source) AS INT) AS dist
        |FROM src a JOIN src b ON a.source < b.source
        |WHERE levenshtein(a.source, b.source) <= 2
        |ORDER BY src_a, src_b""".stripMargin,
    "q_multimodal_join" ->
      """SELECT doc_id, lang, source, n_chars, label,
        | CAST(len(embedding) AS INT) AS dim,
        | CAST(round(CAST(sqrt(list_sum(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS DECIMAL(38,6)), 4) AS DOUBLE) AS l2_norm
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,
    "q_multimodal_frames" ->
      """WITH idx AS (
        |  SELECT doc_id, lang, text,
        |   unnest(generate_series(1, CAST(ceil(len(text)/32.0) AS INT))) AS i
        |  FROM documents)
        |SELECT doc_id AS media_id, count(*) AS n_frames,
        | CAST(sum(len(substr(text, (i-1)*32+1, 32))) AS BIGINT) AS total_bytes,
        | min(md5(substr(text, (i-1)*32+1, 32))) AS min_frame_hash, lang
        |FROM idx GROUP BY doc_id, lang ORDER BY media_id""".stripMargin,
    "q_multimodal_binary" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        | md5(text) AS content_hash,
        | lower(hex(encode(substr(text, 1, 8)))) AS head_hex,
        | lang AS m_lang, source AS m_source
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_phash" -> {
      val codesSql = (0 until Media.FRAME_BYTES).map(j =>
        s"ord(substr(text, ${j + 1}, 1))")
      val totalSql = codesSql.mkString(" + ")
      val phashSql = (0 until Media.FRAME_BYTES).map(j =>
        s"CASE WHEN ${codesSql(j)} * ${Media.FRAME_BYTES} >= total THEN (1::BIGINT << $j) ELSE 0 END")
        .mkString(" + ")
      s"""WITH h AS (
         |  SELECT doc_id AS media_id, lang, total, $phashSql AS phash
         |  FROM (SELECT doc_id, lang, text, $totalSql AS total FROM documents
         |        WHERE len(text) >= ${Media.FRAME_BYTES})),
         |g AS (
         |  SELECT lang, phash, count(*) AS n_dups FROM h
         |  GROUP BY lang, phash HAVING count(*) > 1)
         |SELECT h.media_id, h.lang, h.phash, g.n_dups
         |FROM h JOIN g ON h.lang = g.lang AND h.phash = g.phash
         |ORDER BY media_id""".stripMargin
    },
  )
}
