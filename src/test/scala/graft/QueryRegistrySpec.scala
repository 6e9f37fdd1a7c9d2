package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QuerySpec, RowsOnly}

/** The driver contract's shape, checked without a Spark session: every
  * query is defined once in the registry, and it either carries a DuckDB
  * oracle or is rows-only for a stated reason. */
class QueryRegistrySpec extends AnyFunSuite {

  private val specs = SparkEntry.specs
  private val rowsOnly = specs.collect { case QuerySpec(name, _, RowsOnly(_)) => name }.toSet

  test("354 queries, each name defined once") {
    assert(specs.size === 354)
    assert(specs.map(_.name).distinct.size === specs.size)
    assert(SparkEntry.queries.keySet === specs.map(_.name).toSet)
  }

  test("the rows-only queries are exactly the eight without an oracle, each with a reason") {
    assert(rowsOnly === Set("q_ann_ivf", "q_approx_profile", "q_compression_ratio",
      "q_embedding_neardup", "q_fingerprints", "q_minhash_pairs",
      "q_multimodal_features", "q_simhash_pairs"))
    specs.collect { case QuerySpec(name, _, RowsOnly(reason)) => assert(reason.trim.nonEmpty, name) }
  }

  test("every other query has one non-blank oracle") {
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet -- rowsOnly)
    assert(SparkEntry.oracleSql.size === 346)
    SparkEntry.oracleSql.foreach { case (name, text) => assert(text.trim.nonEmpty, name) }
  }
}
