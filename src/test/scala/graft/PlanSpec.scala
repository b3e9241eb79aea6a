package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB design contract (SURVEY.md §5):
  * filters/projections reach the parquet scan, dimension joins broadcast,
  * aggregates partial-aggregate, top-k avoids a global sort. */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.SF)
    df.collect() // an action on THIS plan finalizes its AQE (count() builds a different plan)
    df.queryExecution.executedPlan.toString
  }

  test("q_scan_pruned pushes filter and prunes columns at the scan") {
    val p = plan("q_scan_pruned")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double"), p)
  }

  test("q_join_broadcast uses BroadcastHashJoin for both dims") {
    val p = plan("q_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_join_multi broadcasts dims and shuffles facts once") {
    val p = plan("q_join_multi")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_agg_hash is a hash aggregate with map-side partials") {
    val p = plan("q_agg_hash")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), "no partial aggregation: " + p)
    assert(p.contains("*("), "no whole-stage-codegen stage markers: " + p)
  }

  test("q_topk_per_key plans the custom partial/final pair with the heap stage map-side") {
    val p = plan("q_topk_per_key")
    assert(p.contains("TopKPerKeyPartial"), p)
    assert(p.contains("TopKPerKeyFinal"), p)
    // partial must sit BELOW the exchange (map-side): in the plan string the
    // final/exchange lines print before the deeper partial line
    val exch = p.indexOf("Exchange hashpartitioning")
    val part = p.indexOf("TopKPerKeyPartial")
    val fin = p.indexOf("TopKPerKeyFinal")
    assert(fin < exch && exch < part,
      s"expected Final < Exchange < Partial ordering, got $fin/$exch/$part in\n$p")
  }

  test("q_topk_per_key rows are identical to the row_number formulation") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val custom = SparkEntry.queries("q_topk_per_key")(spark, TestSpark.SF).collect()
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val viaWindow = Tables.t(spark, TestSpark.SF, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk")
      .collect()
    assert(custom.length == viaWindow.length)
    assert(custom.toSeq == viaWindow.toSeq)
  }

  test("optimizer rule rewrites row_number<=k filter into TopKPerKey") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val df = Tables.t(spark, TestSpark.SF, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyFinal"), s"rule did not fire:\n$p")
    assert(!p.contains("WindowExec") && !p.contains(" Window "), s"window survived:\n$p")
    // row-identical to the unrewritten reference (rank() defeats the rule)
    val ref = Tables.t(spark, TestSpark.SF, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", rank().over(w))
      .withColumn("rn2", row_number().over(w))
      .where(col("rn2") <= 3).drop("rn")
      .withColumnRenamed("rn2", "rn")
      .orderBy("o_custkey", "rn").collect()
    assert(df.collect().toSeq == ref.toSeq)
  }

  test("optimizer rule: strict bound and residual conjuncts both handled") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    // rn < 4 ≡ k = 3; the extra conjunct must survive as a residual Filter
    val df = Tables.t(spark, TestSpark.SF, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") < 4 && col("o_totalprice") > 50000.0)
      .orderBy("o_custkey", "rn")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyFinal"), s"strict-bound rewrite did not fire:\n$p")
    val ref = Tables.t(spark, TestSpark.SF, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .withColumn("guard", lit(1)) // defeats the pass-through-Project match
      .where(col("rn") < 4 && col("o_totalprice") > 50000.0)
      .drop("guard")
      .orderBy("o_custkey", "rn").collect()
    assert(ref.nonEmpty && df.collect().toSeq == ref.toSeq)
  }

  test("optimizer rule leaves multi-function windows alone (q_window_rank)") {
    val p = plan("q_window_rank")
    assert(!p.contains("TopKPerKey"), p)
    assert(p.contains("Window"), p)
  }

  test("topKPerKey edge cases: k larger than any group, and k = 1") {
    import org.apache.spark.sql.graftx.TopK
    val orders = Tables.t(spark, TestSpark.SF, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val big = TopK.topKPerKey(orders, Seq("o_custkey"),
      Seq("o_orderkey" -> true), k = 1000000)
    assert(big.count() == orders.count()) // nothing dropped when k >= group size
    val one = TopK.topKPerKey(orders, Seq("o_custkey"),
      Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 1)
    assert(one.count() == orders.select("o_custkey").distinct().count())
    // rank column is always 1
    assert(one.select("rnk").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("TopKPerKey memory guard: identical rows when the key cap forces pass-through") {
    // maxKeysPerPartition=1 trips the guard on almost every key — rows for
    // overflow keys stream through the partial stage unfiltered and the
    // final stage must still rank exactly
    val base = SparkEntry.queries("q_topk_per_key")(spark, TestSpark.SF)
      .collect().map(_.toString).toSeq
    try {
      spark.conf.set("spark.graft.topk.maxKeysPerPartition", "1")
      val guarded = SparkEntry.queries("q_topk_per_key")(spark, TestSpark.SF)
        .collect().map(_.toString).toSeq
      assert(guarded == base)
    } finally spark.conf.unset("spark.graft.topk.maxKeysPerPartition")
  }

  test("rewrite knob off: rank filter plans through native WindowGroupLimit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def q = {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.t(spark, TestSpark.SF, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }
    val withRewrite = q.collect().map(_.toString).toSeq
    try {
      spark.conf.set("spark.graft.topk.rewrite.enabled", "false")
      val df = q
      val nativeRows = df.collect().map(_.toString).toSeq
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("TopKPerKey"), s"rewrite fired with the knob off:\n$p")
      assert(p.contains("WindowGroupLimit"), s"native group-limit path missing:\n$p")
      assert(nativeRows == withRewrite)
    } finally spark.conf.unset("spark.graft.topk.rewrite.enabled")
  }

  test("q_topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_join_range broadcasts the bands dim (nested loop, no cartesian shuffle)") {
    val p = plan("q_join_range")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_baseline_ann_lsh pair join is broadcast in the final plan (no sort-merge)") {
    // The pair join's Catalyst size estimate (a join output) can overshoot
    // the size gate, so maybeBroadcast declines the hint — and AQE converts
    // the join back to broadcast at runtime from observed sizes. Assert on
    // the FINAL plan section: the initial (pre-AQE) plan may show the
    // sort-merge fallback by design.
    val p = plan("q_baseline_ann_lsh").split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_sim_ann_lsh_multi: bucket assignment is scan-side (no join), topk heaps map-side") {
    val p = plan("q_sim_ann_lsh_multi").split("== Initial Plan ==").head
    // the hyperplane projections ride in the task closure as literals (no
    // join against a plane table), and the (vec_id, tb, bucket) index is
    // memoized — both sides of the candidate self-join read the cache
    // rather than recomputing the dot products
    assert(p.contains("TopKPerKeyPartial"), p)
    assert(p.contains("TopKPerKeyFinal"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q_sim_ann_lshc: persisted probe artifact both sides, no sort-merge, map-side heaps") {
    val p = plan("q_sim_ann_lshc").split("== Initial Plan ==").head
    // candidates come from the one persisted (vec_id, tb, bucket, own)
    // artifact read on BOTH join sides (probe rows vs own rows) — the
    // nbits·tables hyperplane dots are never recomputed at query time;
    // the candidate and vector joins broadcast, and the rerank runs
    // through the partial heaps
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"), p)
    // partitioning reuse (r15): the ONE hash exchange is the narrow
    // probe-row repartition by query id; the candidate DISTINCT and the
    // TopK heaps inherit it alias-aware and must NOT re-shuffle the
    // candidate set (22 MB -> ~2 MB at sf0.1)
    val hashExch = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExch <= 1, s"tail re-shuffles the candidate set ($hashExch hash exchanges):\n$p")
  }

  test("q_sim_ann_ivf_mp probes through the cached cell ranking with map-side heaps") {
    val p = plan("q_sim_ann_ivf_mp").split("== Initial Plan ==").head
    assert(p.contains("TopKPerKeyFinal"), p)
    assert(p.contains("InMemoryTableScan"), p) // shared ivf_cells artifact, not recomputed
  }

  test("q_baseline_ann_lsh_probe: probe expansion stays broadcast with map-side heaps") {
    val p = plan("q_baseline_ann_lsh_probe").split("== Initial Plan ==").head
    // the 9-bucket probe explode is scan-side; every pair/vector join is
    // hash-broadcast and the rerank runs through the partial heaps
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"), p)
  }

  test("q_sim_ann_ivf_k: trained-k candidates are id-only joins with map-side heaps") {
    val p = plan("q_sim_ann_ivf_k").split("== Initial Plan ==").head
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p) // persisted assign/probe artifacts
  }

  test("q_sim_ann_ivfpq: shuffle-free ADC — broadcast nibble joins, no aggregation, map-side heaps") {
    val p = plan("q_sim_ann_ivfpq").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the ADC distance is a projected sum of element_at lookups into the
    // WIDE per-query distance array joined ONCE by qid (r21 — formerly M
    // per-subspace joins), NOT an aggregation over exploded candidate
    // rows: any agg keyed by the (qid, nid) pair must be the id-only
    // candidate DEDUP (functions=[] — the top-2 assignment can hand the
    // same pair to two probe cells), never a distance-computing
    // aggregate (the cached codes-pivot build lineage inside
    // InMemoryRelation legitimately contains its own aggs), and
    // shortlist/top-3 both run through the partial/final heap plan
    val pairAggs =
      "HashAggregate\\(keys=\\[qid#\\d+L, nid#\\d+L[^\n]*".r.findAllIn(p).toList
    assert(pairAggs.forall(_.contains("functions=[]")),
      s"distance-computing aggregate keyed by (qid, nid):\n${pairAggs.mkString("\n")}\n$p")
    assert(p.contains("element_at"), p) // the wide-array ADC lookups
    // exactly M element_at lookups feed the summed adist projection, and
    // the narrow per-subspace slice joins are GONE from the query body
    // (c_0..c_7 appear only as join-free projection inputs)
    assert(!p.contains("sd_0"), s"narrow per-subspace ADC slices resurfaced:\n$p")
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"), p)
  }

  test("q_dedup_semantic: pair join scoped by the cached assignment, no cartesian") {
    val p = plan("q_dedup_semantic").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("InMemoryTableScan"), p) // persisted quantizer index, not recomputed
  }

  test("q_dedup_semantic_recall: label-blocked truth join, id joins off the persisted index") {
    val p = plan("q_dedup_semantic_recall").split("== Initial Plan ==").head
    // truth pairs come from an equi-join on label (never all-pairs); the
    // cell check joins narrow ids against the cached assignment; the only
    // nested-loop joins are the 1-row-aggregate crosses (n_truth ×
    // n_caught × n_caught_mp — bounded by construction)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
  }

  test("q_dedup_semantic_mp: top-2 pair join off the persisted assignment, one cell exchange") {
    val p = plan("q_dedup_semantic_mp").split("== Initial Plan ==").head
    // the top-2 assignment artifact broadcasts into the embeddings scan;
    // the pair join is a single cell-keyed shuffle (SMJ/SHJ — never
    // cartesian), and candidates dedup before the verdict left join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("InMemoryTableScan"), p) // persisted top-2 index, not recomputed
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_ml_kmeans: K-row broadcast scoring into map-side heaps, no window") {
    val p = plan("q_ml_kmeans").split("== Initial Plan ==").head
    // centroids come from the persisted artifact (not retrained) and ride
    // a BOUNDED broadcast cross (≤K rows); rank-1 runs through the
    // map-side-heap TopKPerKey plan, never a per-vector window sort
    assert(p.contains("InMemoryTableScan"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"), p)
    assert(!p.contains("WindowExec"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_text_bpe_pairs: one corpus-scale shuffle (word count), partial aggs throughout") {
    val p = plan("q_text_bpe_pairs").split("== Initial Plan ==").head
    // word counts and pair counts both partial-aggregate map-side; top-20
    // is TakeOrderedAndProject, not a global sort
    assert("partial_".r.findAllIn(p).nonEmpty, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q_dedup_minhash_delta: no cartesian, candidate joins broadcast, index cached") {
    val p = plan("q_dedup_minhash_delta").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("InMemoryTableScan"), p) // corpus side reads the sig artifact
  }

  test("q_join_range_binned is a HASH join on the bin id (no nested loop)") {
    val p = plan("q_join_range_binned").split("== Initial Plan ==").head
    // the whole point of the rewrite: the interval predicate becomes an
    // equi-join on __bin with a residual filter — BNLJ must be gone
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q_sim_knn pair join is broadcast with the codegen cosine expression") {
    val p = plan("q_sim_knn")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("cosine_sim"), p)
  }

  test("q_window_cumsum shuffles exactly once (window + presentation sort share the key)") {
    // AdaptiveSparkPlan.toString prints the final AND the initial plan —
    // count exchanges in the final section only
    val p = plan("q_window_cumsum")
    val fin = p.split("== Initial Plan ==").head
    // one exchange for the window partitioning; the final orderBy is a range
    // exchange — but no additional hash exchange may appear
    assert("Exchange hashpartitioning".r.findAllIn(fin).size == 1, fin)
  }

  test("streaming-window batch twins shuffle exactly once (VERDICT r9: pin vs load noise)") {
    // tumbling/sliding: one hash exchange for the windowed groupBy, with
    // map-side partial aggregation; the presentation orderBy is a range
    // exchange, never a second hash. session: one hash exchange on
    // user_id shared by BOTH window passes and the groupBy (same key —
    // Catalyst reuses the partitioning), so r8→r9's 3× wall-time swing
    // can only be load, not a plan regression.
    for (q <- Seq("q_window_tumbling", "q_window_sliding", "q_window_session")) {
      val fin = plan(q).split("== Initial Plan ==").head
      val n = "Exchange hashpartitioning".r.findAllIn(fin).size
      assert(n == 1, s"$q: expected exactly 1 hash exchange, got $n in\n$fin")
      assert(fin.contains("partial_"), s"$q: no map-side partial aggregation in\n$fin")
    }
  }

  test("q_sql_scalar_subquery is decorrelated (no per-row subquery in plan)") {
    val p = plan("q_sql_scalar_subquery")
    // decorrelation rewrites to an aggregate + outer join; a surviving
    // correlated subquery would show as ScalarSubquery in the physical plan
    assert(!p.contains("ScalarSubquery"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("dedup/ANN broadcast hints are size-gated: shuffle-join fallback when gated off") {
    // With the broadcast budget disabled, maybeBroadcast must NOT hint —
    // the plan falls back to a shuffled join (the 100 TB-safe shape) and
    // produces identical rows. A forced broadcast() would ignore the
    // threshold and keep BroadcastHashJoin here.
    val onRows = SparkEntry.queries("q_dedup_simhash")(spark, TestSpark.SF)
      .collect().map(_.toString).sorted.toSeq
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q_dedup_simhash")(spark, TestSpark.SF)
      val offRows = df.collect().map(_.toString).sorted.toSeq
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(offRows == onRows, "gated-off plan changed the result rows")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_dedup_minhash signature rows carry no per-document shingle payload") {
    val df = SparkEntry.queries("q_dedup_minhash")(spark, TestSpark.SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("collect_set"), s"O(document) agg buffer back in the plan:\n$p")
  }

  test("q_pipeline_e2e: keeper selection is rewritten to the TopKPerKey plan") {
    // the row_number=1 dedup step inside the composed pipeline must get
    // the map-side-heap physical plan via the injected optimizer rule
    val p = plan("q_pipeline_e2e")
    assert(p.contains("TopKPerKeyFinal"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("runtime bloom filter prunes the probe side of a selective fact-fact join") {
    // the shuffle-side analog of DPP: the selective orders filter seeds a
    // bloom filter that is applied to lineitem BEFORE its shuffle, so
    // non-matching fact rows never ship. Thresholds tuned down to fire at
    // test scale; broadcast disabled to force the shuffled join the
    // optimization targets.
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables.t(spark, TestSpark.SF, "lineitem").select("l_orderkey", "l_quantity")
      val ord = Tables.t(spark, TestSpark.SF, "orders")
        .where(col("o_orderstatus") === "P").select("o_orderkey")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val n = j.collect().head.getLong(0)
      assert(n > 0)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), s"no probe-side bloom predicate:\n$p")
      assert(p.contains("bloom_filter_agg"), s"no creation-side bloom agg:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_join_dpp: fact scan carries a runtime dynamicpruning partition filter") {
    // The qualifying months are only known after filtering the dim, so the
    // pruning must be DYNAMIC: a runtime IN-subquery in the partitioned
    // fact scan's PartitionFilters (reusing the dim broadcast). Static
    // pruning alone would read all ~80 month directories.
    val p = plan("q_join_dpp")
    assert(p.contains("dynamicpruning"), p)
  }

  test("q_join_salted joins on the composite (key, salt) pair") {
    val p = plan("q_join_salted")
    assert(p.contains("__salt"), s"salted join collapsed to a plain join:\n$p")
  }

  test("q_agg_hash filter is pushed to the parquet scan") {
    val p = plan("q_agg_hash")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q_text_bm25 never shuffles the corpus: broadcast stats + direct top-k") {
    val p = plan("q_text_bm25")
    assert(p.contains("TakeOrderedAndProject"), s"top-k is not TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastExchange"), s"1-row stats not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // the only row exchange is the 1-row stats gather — never a
    // hash-partitioned corpus shuffle
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus rows crossed a hash-partitioned exchange:\n$p")
  }

  test("q_profile_table: every census pass scans exactly its one column") {
    val p = plan("q_profile_table")
    // per-column union strategy: each scan's ReadSchema is single-column
    // (columnar I/O reads 1/11th of the table per pass), never the
    // full-width row
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"), p)
    assert(p.contains("ReadSchema: struct<l_quantity:double>"), p)
    assert(p.contains("ReadSchema: struct<l_returnflag:string>"), p)
    assert(!p.contains("l_shipdate"), s"unprofiled column read:\n$p")
  }

  test("q_cdc_merge: both latest-per-key sides rewrite to TopKPerKey") {
    val p = plan("q_cdc_merge")
    assert("TopKPerKeyPartial".r.findAllIn(p).size >= 2,
      s"expected the injected rn<=1 rewrite on base AND delta:\n$p")
    assert(!p.contains("WindowExec"), s"row_number window survived the rewrite:\n$p")
    assert(p.contains("FullOuter"), p)
  }

  test("q_agg_kmv: the sketch's k-smallest stage is the map-side heap plan") {
    val p = plan("q_agg_kmv")
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"), p)
    val exch = p.indexOf("Exchange hashpartitioning")
    val part = p.indexOf("TopKPerKeyPartial")
    assert(exch >= 0 && part > exch,
      s"partial heap stage must sit below the exchange:\n$p")
  }

  test("q_assoc_rules: apriori prune broadcasts; the only nested loop is the 1-row total") {
    val p = plan("q_assoc_rules")
    assert(!p.contains("CartesianProduct"), p)
    // frequent-item semi-side and the basket-total scalar both fit broadcast
    // at test sf; the pair self-join is an equi join on the basket key
    assert(p.contains("BroadcastHashJoin"), p)
    // count in the FINAL plan only (the AQE string repeats operators in
    // its "Initial Plan" section)
    val finalPlan = p.split("== Initial Plan ==").head
    assert("BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size <= 1,
      s"only the 1-row basket-total join may nested-loop:\n$p")
  }

  test("q_table_diff: the full-outer shuffle carries fingerprints, not payloads") {
    val p = plan("q_table_diff")
    assert(p.contains("FullOuter"), p)
    // md5 is computed in the scan-side projection (below the exchange), so
    // only (key, fp) cross the wire — payload columns never ride the shuffle
    val exch = p.indexOf("Exchange hashpartitioning(o_orderkey")
    val proj = p.lastIndexOf("md5")
    assert(exch >= 0 && proj > exch,
      s"fingerprint projection must sit below the join exchange:\n$p")
  }

  test("q_graph_pagerank: edge build is cached; rank joins never cartesian") {
    val p = plan("q_graph_pagerank")
    assert(p.contains("InMemoryTableScan"),
      s"memoized edge table must be read from cache:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_skew_report: each key histogram scans exactly its key column") {
    val p = plan("q_skew_report")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"), p)
    assert(p.contains("ReadSchema: struct<l_partkey:bigint>"), p)
    assert(p.contains("ReadSchema: struct<l_suppkey:bigint>"), p)
    assert(!p.contains("l_quantity"), s"non-key column read:\n$p")
  }

  test("q_anomaly_seasonal: schema-bounded baseline broadcasts; scoring stays narrow") {
    val p = plan("q_anomaly_seasonal")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle for the baseline join:\n$p")
  }

  test("q_dedup_substring: dup-mark join broadcasts ids; one doc exchange feeds windows AND aggs") {
    val p = plan("q_dedup_substring")
    val finalPlan = p.split("== Initial Plan ==").head
    // the duplicated-hash set joins back as a broadcast of 32-hex ids —
    // never a shuffle of the postings against themselves, and no pair join
    assert(finalPlan.contains("BroadcastHashJoin"), p)
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), p)
    // gaps-and-islands (2 windows) + both per-doc aggregates all ride ONE
    // hashpartitioning(doc_id) exchange; the only other hash exchanges are
    // the gh-rendezvous agg and the artifact build's doc repartition
    val docExch = "Exchange hashpartitioning\\(doc_id".r.findAllIn(finalPlan).size
    assert(docExch <= 1, s"windows+aggs must share one doc_id exchange:\n$p")
  }

  test("q_dedup_semantic (balanced corpus): skew gate stays narrow, pair join broadcasts") {
    // r14 contract (VERDICT r13 #1): on a corpus with no oversized cell
    // the guard is one narrow groupBy(cell).count() and the registered
    // plan is the unguarded broadcast pair join — no full-frame window
    // over the embedding payload, no sort-merge self-join. A regression
    // here re-adds a full-corpus wide shuffle to every dedup run.
    val p = plan("q_dedup_semantic").split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"pair join lost its broadcast:\n$p")
    assert(!p.contains("WindowExec"),
      s"cell sizing must come from the narrow count, not a window:\n$p")
  }

  test("q_sim_ann_ivfc_pq_delta: batch ADC table broadcasts into the one-join stage") {
    // r14 contract, r21 shape: the per-ingest ADC distance table is
    // O(batch·M·K) scalars by construction, pivoted to one WIDE row per
    // batch vector and carried by an explicit broadcast hint — without
    // it the fresh plan has no size estimate and the ADC stage
    // re-shuffles the candidate set by qid (the r13 10.88 MB anomaly,
    // one level instead of eight since the r21 wide-array restructure).
    val p = plan("q_sim_ann_ivfc_pq_delta").split("== Initial Plan ==").head
    assert(!p.contains("SortMergeJoin"), s"ADC join fell off broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("element_at"), s"wide-array ADC lookups missing:\n$p")
    assert(!p.contains("sd_0"), s"narrow per-subspace ADC slices resurfaced:\n$p")
  }

  test("PQ ADC broadcast gate declines a saturated row estimate (no 64-bit wrap)") {
    // ADVICE r15: with unknown Catalyst stats estBatchRows saturates to
    // ~2^55, and the old `rows * M * K * 40 <= thresh` product wrapped
    // mod 2^64 to a small NEGATIVE — force-broadcasting exactly the
    // arbitrarily-large case the gate exists to decline. The division
    // form cannot overflow; assert both directions of the gate.
    val s = spark
    import s.implicits._
    val dtable = Seq((1L, 0, 0, 0.0)).toDF("qid", "m", "code", "sd")
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    for (huge <- Seq(Long.MaxValue, Long.MaxValue / 256))
      assert(!hinted(operators.LlmPipeline.maybeBroadcastDtable(dtable, huge)),
        s"saturated estimate $huge must NOT broadcast")
    assert(hinted(operators.LlmPipeline.maybeBroadcastDtable(dtable, 100L)),
      "a small bounded batch must still get the hint")
  }

  test("overlay-present ingest plans keep the broadcast shape (no sort-merge regression)") {
    // r17: with commits AND tombstones on disk, the ANN ingest corpus
    // side becomes (base ∪ overlay) ⟕̸ deleted — all three legs must
    // still ride broadcast joins: the overlay and tombstone sets are
    // O(committed)/O(deleted), and a sort-merge fallback here would
    // re-shuffle the candidate set at every ingest.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("graft-ovplan").toString
    val rnd = new scala.util.Random(7L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    (0 until 256).map(i => (i.toLong, unit(), i % 10))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    Ingest.commitVectors(s, d, (0 until 5).map(i => (5000L + i, unit()))
      .toDF("vec_id", "embedding"))
    Ingest.deleteVectors(s, d, Seq(3L).toDF("vec_id"))
    val probe = Seq((6000L, unit())).toDF("vec_id", "embedding")
    for ((face, ann) <- Seq(
        "annLsh" -> Ingest.annLsh _, "annLshc" -> Ingest.annLshc _,
        "annIvfK" -> Ingest.annIvfK _, "annIvfc" -> Ingest.annIvfc _,
        "annIvfPq" -> Ingest.annIvfPq _, "annIvfcPq" -> Ingest.annIvfcPq _)) {
      val df = ann(s, d, probe)
      df.collect() // finalize AQE on THIS plan
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("SortMergeJoin"),
        s"$face: overlay/tombstone leg fell off broadcast:\n$p")
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
        s"$face: expected candidate + rerank + tombstone broadcasts:\n$p")
    }
    // r18: the tombstone anti-join must ride an EXPLICIT hint derived
    // from the manifest chain's exact deleted count — Catalyst's own
    // estimate through distinct-over-parquet can be inflated/unknown and
    // would silently decline, degrading every post-delete probe to a
    // shuffled anti-join (VERDICT r17)
    val tomb = operators.LlmPipeline.minusDeleted(s, d,
      Tables.t(s, d, "embeddings").select("vec_id", "embedding"),
      "vec_id", operators.LlmPipeline.famVecsDeleted)
    val hints = tomb.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.nonEmpty,
      "bounded tombstone set did not get the explicit broadcast hint")
    assert(tomb.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      s"post-delete probe plan: ${tomb.queryExecution.executedPlan}")
  }

  test("post-replace probe plans: the seq-shadow anti-joins ride broadcast") {
    // r18 sequence semantics: after a replace the corpus side is (base
    // ⟕̸ all tombstones) ∪ (overlay ⟕̸ tombstones on the non-equi
    // `tombstone._seq > row._seq`). Both anti-joins must ride broadcasts
    // hinted from the manifest chain's exact counts; a sort-merge
    // fallback would shuffle the corpus side at every probe on any
    // store with a replace in its history.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("graft-rpplan").toString
    (0 until 30).map(i =>
        (i.toLong, (0 until 20).map(j => s"rp${i}x$j").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    Ingest.commitDocs(s, d, Seq((1000L, mkText("pa"))).toDF("doc_id", "text"))
    // replace a corpus-stored AND the committed id: the commit's segment
    // now sits in an older shadow group than the replacement's
    Ingest.replaceDocs(s, d, Seq(
      (5L, mkText("pb")), (1000L, mkText("pc"))).toDF("doc_id", "text"))
    val probe = Seq((9000L, mkText("pb"))).toDF("doc_id", "text")
    val df = Ingest.exactDedup(s, d, probe)
    df.collect() // finalize AQE on THIS plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      s"a shadow-group anti-join fell off broadcast:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected base + older-group tombstone anti-joins on broadcast:\n$p")
  }

  test("promoted-store ANN probes keep the broadcast shape (no sort-merge regression)", SlowTest) {
    // the r19 generation readers swap every corpus-side base from the
    // gen-0 artifacts to the promoted parquet — which carries no
    // precomputed stats a prior plan relied on — so the ANN ingest legs
    // must still ride broadcasts after a promote, exactly like the
    // overlay-present test above pins for the pre-promote shape
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("graft-promann").toString
    val rnd = new scala.util.Random(11L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    (0 until 256).map(i => (i.toLong, unit(), i % 10))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    Ingest.commitVectors(s, d, (0 until 5).map(i => (5000L + i, unit()))
      .toDF("vec_id", "embedding"))
    Ingest.deleteVectors(s, d, Seq(3L).toDF("vec_id"))
    Ingest.promote(s, d)
    val probe = Seq((6000L, unit())).toDF("vec_id", "embedding")
    val df = Ingest.annIvfc(s, d, probe)
    df.collect() // finalize AQE on THIS plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      s"a promoted-base leg fell off broadcast:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected candidate + rerank broadcasts on the promoted store:\n$p")
  }

  test("post-promote probe plans drop to the ONE-BRANCH base shape (no union, no tombstone anti-join)") {
    // r19 promotion claim, pinned structurally: after Ingest.promote
    // the standing view is a single scan of the generation snapshot —
    // no base∪overlay union and no tombstone anti-join survive in the
    // plan, however many commits/replaces/deletes the folded history
    // held. This is the whole point of the verb: a year of streaming
    // commits must not leave probes paying a two-branch plan forever.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("graft-promplan").toString
    (0 until 30).map(i =>
        (i.toLong, (0 until 20).map(j => s"pp${i}x$j").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val mkText = (tag: String) => (0 until 20).map(j => s"$tag$j").mkString(" ")
    Ingest.commitDocs(s, d, Seq((1000L, mkText("qa"))).toDF("doc_id", "text"))
    Ingest.replaceDocs(s, d, Seq((5L, mkText("qb"))).toDF("doc_id", "text"))
    Ingest.deleteDocs(s, d, Seq(3L).toDF("doc_id"))
    val before = operators.LlmPipeline.visibleDocs(s, d)
      .queryExecution.executedPlan.toString
    assert(before.contains("Union") && before.contains("Join"),
      s"pre-promote standing view should be the two-branch shadowed plan:\n$before")
    Ingest.promote(s, d)
    val vis = operators.LlmPipeline.visibleDocs(s, d)
    val after = vis.queryExecution.executedPlan.toString
    assert(!after.contains("Union") && !after.contains("Join"),
      s"post-promote standing view must be one branch, no joins:\n$after")
    // and it is the promoted snapshot being scanned, not the source table
    val roots = vis.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(roots.nonEmpty && roots.forall(_.contains("/gens/gen_")),
      s"post-promote scan must read the generation snapshot: $roots")
    assert(vis.count() == 30L) // 30 − deleted 3 + committed 1000
  }

  // ---- r22 optimization anchors (VERDICT r21 item 2 + this round) ----

  test("spread family: ONE pinned narrow exchange, tail inherits it (no candidate re-shuffle)") {
    // the r21 spread() queries whose after-shape had no committed
    // evidence: the only hash exchange in the final plan is the narrow
    // probe/assignment repartition by query id; the candidate join,
    // DISTINCT and TopK heaps all run in-stage below it
    for (q <- Seq("q_sim_knn", "q_baseline_ann_ivf", "q_sim_ann_lsh_delta",
        "q_sim_ann_ivf_mp", "q_sim_ann_lsh_multi", "q_sim_ann_ivf_k",
        "q_sim_ann_lshc_delta", "q_dedup_embcos")) {
      val p = plan(q).split("== Initial Plan ==").head
      val hashExch = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashExch <= 1,
        s"$q: tail re-shuffles the candidate set ($hashExch hash exchanges):\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$q:\n$p")
    }
  }

  test("q_assoc_rules r22: shuffle-hash self-join off one shared okey exchange, no corpus broadcast") {
    val p = plan("q_assoc_rules").split("== Initial Plan ==").head
    // the pair self-join must be the co-partitioned shuffled-hash form:
    // a BroadcastHashJoin here would be the r21 shape that collected the
    // whole frequent-basket frame to the driver per execution
    assert(p.contains("ShuffledHashJoin"), s"self-join not shuffled-hash:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    // exactly one corpus-scale exchange: the pinned okey repartition,
    // materialized once and shared by both self-join sides, freq and
    // nBaskets (AQE stage reuse dedupes the identical subtrees)
    val spreads = "REPARTITION_BY_COL".r.findAllIn(p).size
    assert(spreads <= 1,
      s"okey spread materialized $spreads times (stage reuse broken):\n$p")
  }

  test("q_graph_degree_dist: both sides share the ONE pair-dedup exchange (reuse fires)") {
    val p = plan("q_graph_degree_dist").split("== Initial Plan ==").head
    // ONE (l_partkey, l_suppkey) dedup exchange total in the final plan:
    // the supplier side must reuse the part side's materialized stage,
    // not recompute the corpus-scale distinct
    // a ReusedExchange line textually repeats the exchange it points at,
    // so count only lines that ARE the exchange, not references to it
    val dedupExch = p.linesIterator.count(l =>
      "Exchange hashpartitioning\\(l_partkey#\\d+L?, l_suppkey".r.findFirstIn(l).isDefined &&
        !l.contains("ReusedExchange"))
    assert(dedupExch <= 1,
      s"pair-dedup exchange materialized $dedupExch times:\n$p")
    assert(p.contains("ReusedExchange"),
      s"supplier side did not reuse the part side's dedup exchange:\n$p")
  }

  test("q_ml_naive_bayes r22: fused scoring — no exchange between aggregation and argmax") {
    val p = plan("q_ml_naive_bayes").split("== Initial Plan ==").head
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"), p)
    // the argmax heaps inherit the cached doc-token partitioning through
    // the fused aggregate and the classes broadcast join: the plan slice
    // from TopKPerKeyFinal down to TopKPerKeyPartial must cross no
    // exchange (the r21 shape re-shuffled twice here)
    val fin = p.indexOf("TopKPerKeyFinal"); val part = p.indexOf("TopKPerKeyPartial")
    assert(fin >= 0 && part > fin, p)
    val between = p.substring(fin, part)
    assert(!between.contains("Exchange"),
      s"argmax re-shuffles the scored frame:\n$between")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("lshcProbesPlan r22: per-table two-Generate shape (codegen stays under the 64 KB method limit)") {
    // the r21 single-Generate form overflowed the JVM bytecode limit at
    // nbits >= 8 and fell back to interpreted eval on every fresh-probe
    // execution; the split shape explodes (tb, dots) pairs first
    val df = operators.LlmPipeline.lshcProbesPlan(
      Tables.t(spark, TestSpark.SF, "embeddings"), 8)
    val gens = df.queryExecution.executedPlan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.size == 2, s"expected posexplode+explode pair:\n${df.queryExecution.executedPlan}")
  }
}
