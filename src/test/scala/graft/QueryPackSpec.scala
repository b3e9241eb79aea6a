package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query executes at sf0.001; non-vacuous row counts; the
  * oracle map stays in sync with the query map. */
class QueryPackSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Queries allowed to return 0 rows at sf0.001 (duplicates/overlaps only
    * materialize at larger scale factors — verified non-empty at sf0.01 by
    * the driver gate). */
  private val mayBeEmpty = Set("q_dedup_exact", "q_dedup_embcos", "q_except",
    "q_dedup_near", "q_dedup_minhash", "q_dedup_simhash")

  /** Queries intentionally absent from oracleSql (engine-specific values). */
  // sketch family: bounds asserted in scalatest instead of a hash oracle;
  // q_text_bpe_encode applies the SEQUENTIAL trainer's merge list (not
  // single-query SQL) — statistics oracle-pinned via q_text_bpe_pairs,
  // semantics via BpeSpec (losslessness, convention, determinism)
  // q_profile_histogram_approx: sketch-bounds twin of the hash-checked
  // exact histogram (≤1-bin-shift bound in PropertySpec); q_text_
  // heavyhitters has its exact-mode twin q_text_heavyhitters_exact
  // hash-checked instead
  private val noOracle =
    Set("q_agg_approx_distinct", "q_agg_approx_percentile", "q_text_heavyhitters",
      "q_text_bpe_encode", "q_profile_histogram_approx")

  test("oracle keys ⊆ query keys, and only justified omissions") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"orphan oracles: ${o.diff(q)}")
    assert(q.diff(o) == noOracle, s"unexpected oracle omissions: ${q.diff(o).diff(noOracle)}")
  }

  test("mkSession's static confs are in effect, and a mismatch is reported") {
    assert(Tables.staticConfMismatches(spark).isEmpty,
      Tables.staticConfMismatches(spark).mkString("; "))
    val planted = Tables.staticConfs.updated("spark.sql.codegen.cache.maxEntries", "100")
    assert(Tables.staticConfMismatches(spark, planted) ==
      Seq("spark.sql.codegen.cache.maxEntries=4096 (wanted 100)"))
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val n = fn(spark, TestSpark.SF).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }
}
