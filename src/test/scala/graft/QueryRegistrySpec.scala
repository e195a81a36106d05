package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry.{Query, registryOf}

/** The query registry: one entry per name, each oracle attached to its
  * query, and the name-keyed maps derived from it. */
class QueryRegistrySpec extends AnyFunSuite {

  private val empty: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame

  test("a duplicate query name is rejected at construction") {
    val e = intercept[IllegalArgumentException](
      registryOf(Query("a", empty), Query("b", empty), Query("a", empty, oracle = Some("SELECT 1"))))
    assert(e.getMessage.contains("duplicate query names: a"), e.getMessage)
    assert(registryOf(Query("a", empty), Query("b", empty)).map(_.name) == Seq("a", "b"))
  }

  test("queries, oracleSql and the bench set all derive from the registry") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 118 && SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.size == 84)
    assert(SparkEntry.oracleSql.keySet.subsetOf(names.toSet))
    assert(SparkEntry.registry.filterNot(_.benched).map(_.name) == Seq("s01_stream_window"))
  }

  test("a failed query reports its exception class and the frame that threw") {
    val e = try { Option.empty[Int].get; null } catch { case t: Throwable => t }
    val line = Verify.failure(e)
    assert(line.startsWith("java.util.NoSuchElementException: None.get (at "), line)
    assert(line.contains("scala.None$.get("), line)
  }
}
