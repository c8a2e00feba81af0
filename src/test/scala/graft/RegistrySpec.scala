package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry consistency: every oracle references a registered query,
  * and the set of rows-only queries (no oracle) is exactly the
  * documented approximate / non-portable-hash set — an entry registered
  * rows-only by mistake would otherwise silently drop a query from the
  * oracle gate.
  */
class RegistrySpec extends AnyFunSuite {

  private val RowsOnlyByDesign = Set(
    "q_approx_distinct",       // HLL estimate — no DuckDB twin
    "q_approx_percentile",     // GK quantile sketch — no DuckDB twin
    "q_hll_sketch",            // mergeable sketch values
    // q_knn_quantized graduated to the full oracle in round 12 (its
    // int8 pipeline is deterministic — "approximate" only vs brute
    // force); q_knn_ivf_exact was born graded; the former ml.KMeans
    // tiers (q_knn_ivf, q_knn_ivf_pruned, q_knn_quantized_ivf)
    // graduated in round 14 when their coarse quantizer switched to
    // the gated fixed-point Lloyd at √N cells; q_knn_graph and
    // q_knn_graph_nnd graduated in round 15 when mix31 replaced
    // xxhash64 in the builders and the whole build+search chain was
    // re-derived in SQL (the last approximate family under the gate).
    "q_minhash_signatures_xx", // xxhash64 not reproducible in DuckDB
    "q_minhash_lsh_pairs_xx")

  test("every oracle key names a registered query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("rows-only queries are exactly the documented set") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly === RowsOnlyByDesign,
      s"unexpected rows-only: ${rowsOnly -- RowsOnlyByDesign}; " +
        s"missing: ${RowsOnlyByDesign -- rowsOnly}")
  }

  test("query names follow the q_ convention") {
    SparkEntry.queries.keys.foreach(n => assert(n.startsWith("q_"), n))
  }

  test("Verify rejects a wrong argument count with its usage, before building a session") {
    Seq(Array.empty[String], Array("sf"), Array("sf", "out", "q_topk", "extra")).foreach { args =>
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage === Verify.Usage)
    }
  }
}
