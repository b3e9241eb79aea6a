package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Structural invariants for the graph pack (the oracle pins exact values;
  * these pin the ALGORITHMIC properties on the fixture graph). */
class GraphsSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val d = TestSpark.SF

  private def asL(r: org.apache.spark.sql.Row, i: Int): Long =
    r.getAs[Number](i).longValue

  private lazy val edges = operators.Graphs.edges(s, d)
    .collect().map(r => (asL(r, 0), asL(r, 1))).toSet

  test("sparsified edges: no self loops, out-degree ≤ 3") {
    assert(edges.forall { case (a, b) => a != b })
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size)
    assert(outDeg.values.forall(_ <= 3), s"out-degrees: ${outDeg.toMap}")
  }

  test("q_graph_triangles matches brute force over the collected edge set") {
    val ue = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val nodes = ue.flatMap(e => Seq(e._1, e._2))
    val brute = (for {
      a <- nodes; b <- nodes if a < b; c <- nodes if b < c
      if ue((a, b)) && ue((b, c)) && ue((a, c))
    } yield (a, b, c)).toSet
    val perNodeBrute = brute.toSeq.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = SparkEntry.queries("q_graph_triangles")(s, d)
      .collect().map(r => asL(r, 0) -> asL(r, 1)).toMap
    assert(got.values.sum == 3L * brute.size, "corner sum must be 3×triangles")
    perNodeBrute.foreach { case (n, c) => assert(got(n) == c, s"node $n") }
    assert(got.filterNot(kv => perNodeBrute.contains(kv._1)).values.forall(_ == 0L))
  }

  test("q_graph_reach is a valid BFS: min-hop labels, frontier-consistent") {
    val got = SparkEntry.queries("q_graph_reach")(s, d)
      .collect().map(r => asL(r, 0) -> asL(r, 1).toInt).toMap
    assert(got(0L) == 0, "source at hop 0")
    assert(got.values.forall(h => h >= 0 && h <= 4))
    // every node at hop h>0 has a predecessor at exactly h-1 (first
    // discovery), and no edge shortcuts a label by ≥2 (BFS optimality)
    got.filter(_._2 > 0).foreach { case (n, h) =>
      assert(edges.exists { case (a, b) => b == n && got.get(a).contains(h - 1) },
        s"node $n at hop $h lacks an (h-1)-predecessor")
    }
    edges.foreach { case (a, b) =>
      (got.get(a), got.get(b)) match {
        case (Some(ha), Some(hb)) => assert(hb <= ha + 1, s"edge ($a,$b) shortcuts BFS")
        case (Some(_), None) => fail(s"reached $a has unreached successor $b")
        case _ => ()
      }
    }
  }

  test("q_graph_reach equals a plain BFS over the collected edges") {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = Map(0L -> 0)
    var frontier = Set(0L)
    for (h <- 1 to 4) {
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)).filterNot(dist.contains)
      dist ++= frontier.map(_ -> h)
    }
    val got = SparkEntry.queries("q_graph_reach")(s, d)
      .collect().map(r => asL(r, 0) -> asL(r, 1).toInt).toSeq
    assert(got == dist.toSeq.sortBy(_._1))
  }
}
