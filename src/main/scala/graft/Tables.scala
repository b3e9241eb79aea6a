package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared table loaders + determinism helpers.
  *
  * Upstream analog: SNOWAV reads daily NetCDF rasters + a topo file and
  * stores long-form results in SQL (see SURVEY.md §1–2; upstream
  * `snowav/database/models.py::Results` [U] — /root/reference was empty at
  * survey time, so citations use the SURVEY.md §0 [U] scheme). Here the
  * driver-provided parquet star schema stands in for those inputs
  * (/root/repo/FIXTURES.md).
  */
object Tables {
  type Fn = (SparkSession, String) => DataFrame

  /** Reader memo: `spark.read.parquet` runs a driver-side schema-
    * inference job on EVERY call ("parquet at Tables.scala" in the job
    * log), so before this memo a bench pass paid ~1–3 tiny scheduled
    * jobs per query CONSTRUCTION (≈2,000 across Bench's four passes of
    * the 201-query registry) — pure plan-latency, no data read. The
    * source tables are written by other tools (no Spark footer schema),
    * hence the memo; parquet the engine writes itself (index artifacts,
    * overlay segments, corpus generations) is read job-free through
    * [[readStored]] instead, memo or not.
    *
    * Sharing CONVENTIONS (ADVICE r15) — the memo is only sound because:
    *  - A source dir is IMMUTABLE within a session: nothing in this repo
    *    overwrites a table path it later re-reads through [[t]] (the same
    *    convention every memoizedOnDisk artifact relies on; writers use
    *    /tmp sink dirs or the token-versioned index store). A same-path
    *    rewrite would be invisible behind the memo's InMemoryFileIndex.
    *  - Callers never disambiguate with `df("col")` on a [[t]]-derived
    *    frame: two `t` calls now return ONE Dataset, so self-joins must
    *    alias (`.as("b")` + `col("b.x")`) — audited repo-wide in r15/r16
    *    (q_anomaly_seasonal was the single latent case, fixed in r15).
    * Keyed by a weakly-referenced session ([[SessionMemo]]) so tests
    * with fresh sessions never alias and dead sessions can be evicted. */
  private val readerMemo = new SessionMemo[DataFrame]

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    readerMemo.get(s, dir, name)(tUncached(s, dir, name))

  private def tUncached(s: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped in two parquet encodings across driver
    // testdata generations: TIMESTAMP(NANOS), which Spark 4 rejects
    // (PARQUET_TYPE_ILLEGAL) unless read as a nanos-since-epoch LONG via
    // spark.sql.legacy.parquet.nanosAsLong (set by mkSession/Verify/Bench),
    // and plain TIMESTAMP(MICROS), which surfaces as TIMESTAMP_NTZ.
    // Normalize BOTH to session-TZ (UTC) TimestampType at µs precision —
    // exactly DuckDB's view of the same file, so oracles agree — by
    // dispatching on the type the scan actually produced.
    if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/$name.parquet")
      val tsNorm = raw.schema("ts").dataType match {
        case LongType => expr("timestamp_micros(ts div 1000)")
        case _        => col("ts").cast(TimestampType)
      }
      raw.withColumn("ts", tsNorm)
    } else s.read.parquet(s"$dir/$name.parquet")
  }

  /** Session factory shared by Verify/Bench/tests — one place for the
    * configs the engine's correctness depends on. */
  def mkSession(master: String, shufflePartitions: String): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // size the broadcast policy to this box (128 GiB): a ~10 MB fact
      // side (orders at sf0.1) should broadcast rather than shuffle both
      // sides; on a production cluster this is a deployment knob and
      // genuinely-large sides still sort-merge
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      // AQE stays ON (Spark 4 default) unless explicitly disabled — it is
      // the 100 TB posture (runtime coalescing, skew-join splitting). The
      // env knob exists to quantify its per-stage scheduling latency on
      // small-sf latency benchmarks (each materialized query stage is a
      // separate job in local mode).
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // JVM-wide whole-stage-codegen CLASS cache (static conf, default
      // 100 entries): sized for a handful of hot queries, not a
      // 201-operator suite — one registry pass generates ~2000 codegen
      // units, so at the default every query re-janino-compiles ALL its
      // classes on EVERY execution (r22 measured: q_assoc_rules 1.25 s
      // solo vs 2.66 s interleaved with six other queries — the delta is
      // recompilation, not compute). 4096 holds the whole registry; the
      // compiled code lives in the JIT code cache either way (already
      // sized at 1g in build.sbt). Scale-independent: any long-lived
      // session serving this many distinct operators needs the same dial.
      .config("spark.sql.codegen.cache.maxEntries", staticConfs("spark.sql.codegen.cache.maxEntries"))
      // registers native expressions (cosine_sim) with the SQL registry
      .config("spark.sql.extensions", staticConfs("spark.sql.extensions"))
      // bucketed-table catalog (Sinks.writeBucketed) — keep out of the repo
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    val s = b.getOrCreate()
    staticConfMismatches(s).foreach(m => org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"static conf not in effect (getOrCreate returned an existing session): $m"))
    s
  }

  /** Static confs the engine's cost or behaviour depends on. An existing
    * session that `getOrCreate` returns keeps its own values for these
    * silently, so [[mkSession]] reads them back. */
  private[graft] val staticConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.extensions" -> "org.apache.spark.sql.graftx.GraftExtensions")

  /** `key=actual (wanted expected)` for each of `want` the session does
    * not carry. */
  private[graft] def staticConfMismatches(s: SparkSession,
      want: Map[String, String] = staticConfs): Seq[String] =
    want.toSeq.sorted.collect {
      case (k, v) if !s.conf.getOption(k).contains(v) =>
        s"$k=${s.conf.getOption(k).getOrElse("<unset>")} (wanted $v)"
    }

  val DEC: DecimalType = DecimalType(38, 6)

  /** Size-gated broadcast hint: hint only when Catalyst's size estimate for
    * the optimized plan fits the session's `autoBroadcastJoinThreshold`;
    * otherwise leave the plan alone (shuffled join; AQE may still convert
    * back to broadcast at runtime from observed sizes).
    *
    * Use this for any join side whose size scales with the DATA (facts,
    * per-document/per-vector derived tables, `customer`-like dims that grow
    * with SF). A forced `broadcast()` hint bypasses the threshold entirely
    * and OOMs the driver at 100 TB; forced hints remain appropriate only
    * for provably bounded tables (calendar dims, geography dims, quantizer
    * centroids) — document the bound at the call site. */
  def maybeBroadcast(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftx.Sizing
    val thresh = Sizing.broadcastThreshold(df)
    if (thresh > 0 && Sizing.estimatedBytes(df) <= thresh) broadcast(df) else df
  }

  /** Exact, order-independent sum of a double expression: round each value
    * to DECIMAL(38,6), sum exactly, return DOUBLE.
    *
    * Double addition is non-associative, so a plain `sum(double)` differs
    * between Spark's parallel partial aggregation and DuckDB's scan order in
    * last-ulp ways that break the driver's hash compare (SURVEY.md §7
    * "float determinism" — the top-ranked silent-failure risk). Decimal
    * addition is exact and associative, so any partitioning gives the same
    * result; per-row double→decimal rounding is identical on both engines.
    * At 100 TB this costs one decimal column per measure in the partial
    * aggregate — no extra shuffle, still map-side combinable.
    */
  def dsum(c: Column): Column = sum(c.cast(DEC)).cast(DoubleType)

  /** Windowed variant of [[dsum]] for running/moving sums. */
  def dsumOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum(c.cast(DEC)).over(w).cast(DoubleType)

  /** Round to 4dp — part of every oracle-checked query's contract
    * (SURVEY.md §3B determinism rule).
    *
    * Routed through DECIMAL(38,6): Spark's `round(double, n)` converts via
    * `Double.toString` (shortest decimal repr) while DuckDB rounds the
    * binary value, so doubles whose shortest repr sits exactly on a
    * half-boundary (e.g. "…24395") round differently (observed ~5e-4/row
    * at sf0.001). Double→DECIMAL(38,6) then exact decimal rounding agrees
    * on both engines; oracle mirror:
    * `CAST(round(CAST(x AS DECIMAL(38,6)), 4) AS DOUBLE)`. */
  def r4(c: Column): Column = round(c.cast(DEC), 4).cast(DoubleType)

  /** Oracle-side mirror of [[r4]]. */
  def r4sql(expr: String): String =
    s"CAST(round(CAST($expr AS DECIMAL(38,6)), 4) AS DOUBLE)"

  /** Memoized persisted intermediate, keyed by (session, dir, stage) —
    * the ONE copy of the memoize-persist-eager-count pattern every query
    * pack shares (shingle sets, signatures, LSH/IVF indexes, quantized
    * embeddings, corpus count tables). Eager `count()`: pair-join
    * consumers read the cache from concurrently-scheduled stages, and a
    * lazily-populated cache would race and compute the whole lineage
    * twice. Keying by dir bounds storage to one copy per dataset and lets
    * Bench's warmup+N passes reuse it. */
  private val memoStore =
    scala.collection.concurrent.TrieMap[(SparkSession, String, String), DataFrame]()
  def memoized(s: SparkSession, d: String, stage: String)(mk: => DataFrame): DataFrame = {
    guardStage(stage)
    memoStore.getOrElseUpdate((s, d, stage), { val df = mk.persist(); df.count(); df })
  }

  /** Stage-key uniqueness guard (VERDICT r8 minor): every stage string is
    * OWNED by the one call site (builder `file:line`) that first used it —
    * a second pack accidentally reusing the name would otherwise silently
    * read the first pack's cached table. Checked on every call;
    * driver-side stack peek only, no job. Forwarder frames (Tables
    * itself, the packs' one-line `cached` helpers) are skipped so the
    * recorded owner is the real builder. */
  private val stageOwner = scala.collection.concurrent.TrieMap[String, String]()
  private def guardStage(stage: String): Unit = {
    val site = new Throwable().getStackTrace
      .find { e =>
        val c = e.getClassName
        !c.startsWith("graft.Tables") && !c.startsWith("java.lang.") &&
          e.getMethodName != "cached"
      }
      .map(e => s"${e.getFileName}:${e.getLineNumber}").getOrElse("?")
    val owner = stageOwner.getOrElseUpdate(stage, site)
    require(owner == site,
      s"memo stage '$stage' is owned by $owner but was requested from $site — " +
        "stage keys must be globally unique (prefix with the pack name)")
  }

  /** Evict memoized intermediates: unpersist the cached data and forget
    * the entries for `s` (optionally only dataset `d`). The hook a
    * long-lived session calls between datasets/pipelines so index caches
    * don't accumulate executor storage forever (ADVICE r7). Disk-backed
    * artifacts ([[memoizedOnDisk]]) survive eviction and reload lazily. */
  def evictMemoized(s: SparkSession, d: Option[String] = None): Unit =
    memoStore.keys
      .filter { case (ks, kd, _) => ks == s && d.forall(_ == kd) }
      .foreach { k => memoStore.remove(k).foreach(_.unpersist()) }

  /** Artifact-layout version: bump when a persisted index's schema or
    * defining constants change so stale artifacts from an older code
    * version can never be read back. */
  private val ARTIFACT_VERSION = "v2" // v2 (r18): overlay reads are gated
  // by the manifest chain — a v1 store's bare segments would turn silently
  // invisible, so the layout change mints fresh index dirs instead

  /** Per-dataset content token: md5 over the sorted (name, length, mtime)
    * of the dataset's parquet files. Folded into every derived-store path
    * so regenerating a fixture IN PLACE mints a fresh artifact directory —
    * without it, a _SUCCESS-bearing store built from the old data would be
    * served forever (review r9). Cached per JVM: the sources of a dataset
    * are assumed stable within a session. */
  private val tokenCache = scala.collection.concurrent.TrieMap[String, String]()
  private[graft] def dataToken(d: String): String =
    tokenCache.getOrElseUpdate(d, {
      // through the Hadoop FileSystem layer, so a dataset dir on HDFS
      // tokens exactly like a local one (r19 store port)
      val files = graft.sources.Store.list(d)
        .filter(f => f.isDir || f.name.endsWith(".parquet"))
        .sortBy(_.name)
        .map { f =>
          // directory-shaped tables (the layout real datasets have) fold
          // in as name:mtime — a rewrite bumps the directory mtime, which
          // is enough to mint a new artifact path
          if (f.isDir) s"${f.name}/:${f.mtime}"
          else s"${f.name}:${f.len}:${f.mtime}"
        }
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(files.mkString("|").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
    })

  /** Root of every per-dataset index store. A deployment knob (the
    * `graft.index.root` system property, else env `GRAFT_INDEX_ROOT`; the
    * property is set inside the JVM, so it wins over the inherited env): the
    * artifacts, overlay chain and corpus generations must live on
    * SHARED storage at the stated 100 TB target (an HDFS/object-store
    * path), not a node-local /tmp — the whole store layer already runs
    * on the Hadoop FileSystem API ([[graft.sources.Store]], r19), and
    * the r20 non-local publish tests drive this knob at a non-`file`
    * scheme. Default stays the local path the sandbox uses. */
  private def indexRoot: String =
    sys.props.get("graft.index.root")
      .orElse(sys.env.get("GRAFT_INDEX_ROOT"))
      .getOrElse("/tmp/graft-index")

  private[graft] def indexDir(d: String): String =
    s"$indexRoot/$ARTIFACT_VERSION/${d.replaceAll("[^A-Za-z0-9.]", "_")}-${dataToken(d)}"

  /** Disk-backed [[memoized]] — for the per-corpus INDEX ARTIFACTS a real
    * 100 TB pipeline builds once and reuses across runs (minhash
    * signatures, LSH tables, IVF assignments, corpus hash sets). First
    * call computes and publishes parquet atomically
    * ([[graft.sources.Sinks.publishAtomic]] — concurrent sessions race
    * benignly); every later call IN ANY SESSION loads from parquet, so
    * the artifact's lifecycle finally outlives the JVM. The in-memory
    * memo still fronts the parquet read within a session. Callers must
    * fold every semantics-defining constant into `stage` (e.g.
    * `minhash_sigs_k8x8`) so parameter changes mint a new artifact. */
  /** Wall time spent BUILDING disk artifacts (first build+publish only —
    * a later call that finds the marker adds ~µs). Bench reads this to
    * itemize one-time index-build cost separately from steady-state query
    * time (VERDICT r9: a cold Bench session otherwise buries every first
    * build inside whatever query happened to trigger it). Only the
    * OUTERMOST build on a thread records (its window already contains any
    * nested artifact builds its plan triggers — e.g. an assignment index
    * forcing the centroid build — so per-call accumulation would double
    * count nested time). */
  val artifactBuildNanos = new java.util.concurrent.atomic.AtomicLong
  private val buildDepth = new ThreadLocal[Integer] { override def initialValue = 0 }

  def memoizedOnDisk(s: SparkSession, d: String, stage: String)(mk: => DataFrame): DataFrame =
    memoized(s, d, s"disk:$stage") {
      val path = s"${indexDir(d)}/$stage"
      val t0 = System.nanoTime()
      buildDepth.set(buildDepth.get + 1)
      try graft.sources.Sinks.publishAtomic(path)(tmp => mk.write.parquet(tmp))
      finally {
        buildDepth.set(buildDepth.get - 1)
        if (buildDepth.get == 0) artifactBuildNanos.addAndGet(System.nanoTime() - t0)
      }
      readStored(s, path)
    }

  /** The one reader for parquet the engine wrote itself: the schema
    * comes from the Spark footer, driver-side
    * ([[graft.sources.Store.parquetSparkSchema]]), so constructing the
    * read starts no schema-inference job — the overlay is re-read at
    * every ingest plan construction, where that job was a fixed cost of
    * every call. Without such a footer (another writer's files, a
    * partitioned dir) it is a plain `read.parquet`. The paths of one call
    * share one schema (a family's segments pass the append drift gate,
    * an artifact's buckets come from one write), so the first path's
    * footer speaks for all. */
  def readStored(s: SparkSession, paths: String*): DataFrame =
    graft.sources.Store.parquetSparkSchema(paths.head) match {
      case Some(schema) => s.read.schema(schema).parquet(paths: _*)
      case None => s.read.parquet(paths: _*)
    }

  /** 60-bit portable numeric hash of a string column: first 15 hex digits
    * of md5 as a BIGINT. Identical on both engines
    * (`conv(substring(md5(x),1,15),16,10)` ↔ `('0x'||substr(md5(x),1,15))::BIGINT`);
    * backbone of deterministic sampling and the text-dedup family. */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Epoch seconds as BIGINT (floor), mirrored in oracle SQL as
    * `CAST(floor(epoch(ts)) AS BIGINT)`. Events carry microsecond
    * components, so second-truncation must be explicit on both engines.
    * Parquet ms-timestamps surface as TIMESTAMP_NTZ, which has no direct
    * long cast — route through TimestampType (session TZ is pinned UTC). */
  def tsec(c: Column): Column = c.cast(TimestampType).cast(LongType)
}

/** Per-session memo for plan-construction-time values keyed
  * (dir, stage), with an eviction story (ADVICE r15 — the r15 TrieMap
  * keyed by the session itself pinned every SparkSession for the JVM
  * lifetime):
  *  - the OUTER map holds its SparkSession keys WEAKLY, so a session no
  *    longer referenced elsewhere can be collected along with its memo;
  *  - the INNER values are SOFT references. This matters beyond memory:
  *    a memoized DataFrame strongly references its session, so a strong
  *    value would resurrect the key through the value chain and defeat
  *    the weak keying entirely. Soft values clear under heap pressure,
  *    which both bounds the cache and unpins dead sessions; a cleared
  *    entry just rebuilds (one schema-inference/footer job — the
  *    pre-memo cost, paid only after the JVM was genuinely short of
  *    memory).
  * Values must be cheap to rebuild and deterministic for (session, dir,
  * stage) — logical plans and 1-row artifact scalars, not persisted
  * data (that is [[Tables.memoized]]'s job, with its explicit evict). */
private[graft] final class SessionMemo[V <: AnyRef] {
  private val maps = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, String), java.lang.ref.SoftReference[V]]]())

  def get(s: SparkSession, dir: String, stage: String)(mk: => V): V = {
    val m = maps.computeIfAbsent(s,
      _ => scala.collection.concurrent.TrieMap.empty)
    val k = (dir, stage)
    m.get(k).flatMap(r => Option(r.get)).getOrElse {
      // benign race: a concurrent builder's duplicate is identical and
      // last-write-wins — same idempotence the old getOrElseUpdate had
      val v = mk
      m.put(k, new java.lang.ref.SoftReference(v))
      v
    }
  }
}

/** One logical group of SparkEntry queries with their DuckDB oracles. */
trait QueryPack {
  def queries: Seq[(String, Tables.Fn)]
  /** DuckDB SQL producing the same rows/schema; keys ⊆ queries' keys.
    * Keys intentionally absent here get the driver's rows-only check. */
  def oracle: Seq[(String, String)]
}
