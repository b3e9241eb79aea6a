package graft.operators

import graft.{QueryPack, Tables}
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over a data-derived edge list — the triangle census and
  * bounded-hop reachability a curation pipeline runs on citation/link/trade
  * graphs (q_graph_pagerank in Curation and the connected-components engine
  * in q_dedup_cluster are the other members of this family). SNOWAV has no
  * graph analog (SURVEY.md §0 [U] scheme); these are the [A]-class additions
  * a 100 TB pipeline needs for link-graph quality signals.
  *
  * The graph: nation-to-nation trade edges (customer nation → supplier
  * nation, weighted by lineitem count, self-loops dropped), SPARSIFIED to
  * each source's top-[[TOP_OUT]] out-edges by weight. Sparsification is the
  * scale move: a similarity/interaction graph is near-complete at corpus
  * scale, and every downstream algorithm (triangles, BFS, clustering
  * coefficients) is priced by edge count — top-k-per-node caps degree, so
  * the triangle join's blowup is bounded by k², not by the hottest node's
  * raw degree. The ranking window is exactly the TopKPerKey shape (map-side
  * heaps thin the shuffle; the RewriteRankFilterToTopK rule picks it up).
  *
  * Scale notes (100 TB):
  * - The edge build is the ONLY corpus-scale work (fact join + one
  *   groupBy); it is memoized across both queries. Everything downstream
  *   operates on the |V|·k edge table.
  * - q_graph_triangles joins edges-to-edges twice with the a<b<c total
  *   order, so each triangle is generated exactly once and the join never
  *   explores both orientations of an edge. With degree capped at k by
  *   construction, candidate paths per edge ≤ k — linear in |E|.
  * - q_graph_reach enumerates walks instead of iterating a frontier: with
  *   out-degree ≤ k, one source has at most Σ_{h≤H} k^h walks of length
  *   ≤ H ([[REACH_HOPS]]; 121 rows for k = 3, H = 4) at ANY scale, so
  *   min(hops) over the hop-labelled walks is the BFS label with no
  *   per-hop distinct or anti-join. It is one plan: each hop joins the
  *   walk rows to the edge table, and nothing runs while it is built.
  *   Unreached nodes never appear (no dense |V| state). The k^H bound is
  *   the price: a much deeper hop bound needs a per-hop distinct again.
  *   The oracle is a DuckDB recursive CTE with the same hop bound.
  */
object Graphs extends QueryPack {

  /** Out-degree cap of the sparsified graph (ties broken by dst asc). */
  private val TOP_OUT = 3

  /** BFS hop bound for q_graph_reach (and the oracle CTE's recursion
    * depth). The fixture's labels saturate at hop 2; running to 4 also
    * pins that longer walks add no smaller label. */
  private val REACH_HOPS = 4

  /** BFS source node (nation 0 exists at every sf tier). */
  private val REACH_SRC = 0

  /** Directed sparsified edge list (src, dst), top-[[TOP_OUT]] by weight
    * per src. Memoized: both queries and the spec share one build. */
  private[graft] def edges(s: SparkSession, d: String): DataFrame =
    Tables.memoized(s, d, "graphs_trade_edges_top3") {
      val raw = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(maybeBroadcast(t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(maybeBroadcast(t(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .where(col("c_nationkey") =!= col("s_nationkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      val rn = row_number().over(
        Window.partitionBy("src").orderBy(col("w").desc, col("dst").asc))
      raw.withColumn("rn", rn).where(col("rn") <= TOP_OUT).select("src", "dst")
    }

  def queries: Seq[(String, Fn)] = Seq(

    // Triangle census with per-node participation counts. Undirect the
    // sparsified edges (least/greatest + distinct), then the classic
    // ordered two-hop join: e1=(a,b), e2=(b,c), e3=(a,c) with a<b<c —
    // each triangle materializes exactly once. Per-node counts explode
    // each triangle to its three corners and aggregate; nodes in no
    // triangle report 0 via a left join from the nation dim (broadcast:
    // node dim ≪ edges at any scale).
    "q_graph_triangles" -> ((s, d) => {
      val ue = edges(s, d)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val tri = ue.as("e1")
        .join(ue.as("e2"), col("e1.b") === col("e2.a"))
        .join(ue.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val perNode = tri
        .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      t(s, d, "nation").select(col("n_nationkey").as("node"))
        .join(maybeBroadcast(perNode), Seq("node"), "left")
        .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
        .orderBy("node")
    }),

    // Bounded-hop BFS from REACH_SRC: minimum hop count per reachable
    // node within REACH_HOPS hops, as min(hops) over every walk of length
    // ≤ REACH_HOPS (see the scale note: ≤ 121 walk rows). Hop 1 starts
    // from the source's own edges, so the source row at hop 0 is the
    // only literal. The oracle's recursive CTE computes the same thing
    // (UNION-dedup on (node, hops), then min per node).
    "q_graph_reach" -> ((s, d) => {
      val e = edges(s, d)
      val eb = maybeBroadcast(e) // one build side, reused by every hop
      val hop1 = e.where(col("src") === REACH_SRC).select(col("dst").as("node"), lit(1).as("hops"))
      val walks = (2 to REACH_HOPS).scanLeft(hop1) { (prev, h) =>
        prev.join(eb, col("node") === col("src")).select(col("dst").as("node"), lit(h).as("hops"))
      }
      val src = s.range(1).select(lit(REACH_SRC).cast("bigint").as("node"), lit(0).as("hops"))
      (src +: walks).reduce(_ unionAll _)
        .groupBy("node").agg(min(col("hops")).as("hops"))
        .orderBy("node")
    }),

    // Degree distribution of the part–supplier bipartite graph: how many
    // parts have exactly d distinct suppliers (and the reverse) — the
    // first diagnostic run on ANY large graph, and the input to every
    // degree-capped sparsification decision (see [[edges]]'s scale
    // note). Two shuffles per side: a distinct-count keyed by the node
    // (corpus-scale, map-side combinable) and a count keyed by degree
    // (|V| rows). The histogram itself is degree-bounded, never
    // node-bounded.
    "q_graph_degree_dist" -> ((s, d) => {
      // ONE shared (part, supplier) distinct pass feeds both sides (r21):
      // the per-side `countDistinct(other)` planned two independent
      // full-corpus distinct aggregations — two scans, two corpus-scale
      // (key, other) dedup exchanges. Dedup the edge set once; each
      // side's degree is then a plain count over the deduped pairs
      // (identical by definition on the null-free fixture keys — the
      // oracle gate pins it), and the two branches share the SAME
      // canonical dedup exchange, which ReuseExchange materializes once
      // (guide §2.4: two operations keyed the same way share one
      // exchange). Corpus-scale work halves; the degree/histogram aggs
      // downstream are |V|- and degree-bounded.
      // NOT-NULL keys (ADVICE r21): countDistinct(other) excludes a null
      // partner while the pair-count counts it; the fixture keys are never
      // null (TPC-H schema), so the filters are row-identity here — they
      // pin the rewrite's equivalence on arbitrary data and match the
      // q_assoc_rules discipline (they also canonicalize both consumers
      // identically, reinforcing the shared-exchange reuse).
      val pairs = t(s, d, "lineitem")
        .where(col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      def side(tag: String, key: String) = pairs
        .groupBy(col(key).as("node"))
        .agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .select(lit(tag).as("side"), col("degree"), col("n_nodes"))
      side("part", "l_partkey")
        .unionAll(side("supplier", "l_suppkey"))
        .orderBy("side", "degree")
    }),
  )

  private val edgesSql =
    s"""raw AS (
       |  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE c_nationkey <> s_nationkey
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      row_number() OVER (PARTITION BY src ORDER BY w DESC, dst ASC) AS rn
       |    FROM raw)
       |  WHERE rn <= $TOP_OUT)""".stripMargin

  def oracle: Seq[(String, String)] = Seq(
    "q_graph_triangles" ->
      s"""WITH $edgesSql,
         |ue AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM ue e1
         |  JOIN ue e2 ON e2.a = e1.b
         |  JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b),
         |corners AS (
         |  SELECT x AS node FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri),
         |per_node AS (SELECT node, count(*) AS n FROM corners GROUP BY 1)
         |SELECT n_nationkey AS node, coalesce(n, 0) AS n_triangles
         |FROM nation LEFT JOIN per_node ON n_nationkey = node
         |ORDER BY node""".stripMargin,
    "q_graph_reach" ->
      s"""WITH RECURSIVE $edgesSql,
         |r(node, hops) AS (
         |  SELECT CAST($REACH_SRC AS BIGINT), 0
         |  UNION
         |  SELECT e.dst, r.hops + 1
         |  FROM r JOIN edges e ON e.src = r.node
         |  WHERE r.hops < $REACH_HOPS)
         |SELECT node, min(hops) AS hops FROM r GROUP BY node ORDER BY node""".stripMargin,
    "q_graph_degree_dist" ->
      """WITH p AS (
        |  SELECT l_partkey AS node, count(DISTINCT l_suppkey) AS degree
        |  FROM lineitem GROUP BY 1),
        |s AS (
        |  SELECT l_suppkey AS node, count(DISTINCT l_partkey) AS degree
        |  FROM lineitem GROUP BY 1),
        |h AS (
        |  SELECT 'part' AS side, degree, count(*) AS n_nodes FROM p GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'supplier', degree, count(*) FROM s GROUP BY 1, degree)
        |SELECT side, degree, n_nodes FROM h ORDER BY side, degree""".stripMargin,
  )
}
