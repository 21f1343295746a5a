package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.suite.Query

/** Guards on the query catalogue: one definition per query name, and name
  * selections that reject names no query declares.
  */
class QueryCatalogueSpec extends AnyFunSuite {

  private def declared(name: String) =
    Query(name, (s, _) => s.emptyDataFrame, s"SELECT '$name' AS name")

  test("folding families that share query names throws, naming every shared name") {
    val e = intercept[IllegalArgumentException](Query.catalogue(
      Seq(declared("q_a"), declared("q_b"), declared("q_c")),
      Seq(declared("q_b"), declared("q_d"), declared("q_a"))))
    assert(e.getMessage.contains("q_a, q_b"), e.getMessage)
    assert(!e.getMessage.contains("q_c") && !e.getMessage.contains("q_d"), e.getMessage)
  }

  test("folding families with distinct names keeps every query, in family order") {
    val all = Query.catalogue(Seq(declared("q_b"), declared("q_a")), Seq(declared("q_c")))
    assert(all.map(_.name) == Seq("q_b", "q_a", "q_c"))
  }

  test("select rejects names that match no declared query, listing each once") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q1_pricing", "q_typo", "q_nope", "q_typo")))
    assert(e.getMessage.contains("q_typo, q_nope"), e.getMessage)
    assert(!e.getMessage.contains("q1_pricing"), e.getMessage)
  }

  test("select narrows to the named queries, or keeps all of them when none is named") {
    val two = SparkEntry.select(Seq("q1_pricing", "q_ohlc_1m"))
    assert(two.keySet == Set("q1_pricing", "q_ohlc_1m"))
    assert(two("q_ohlc_1m").oracle == SparkEntry.oracleSql("q_ohlc_1m"))
    assert(SparkEntry.select(Nil).keySet == SparkEntry.queries.keySet)
  }

  test("Verify and Bench reject an unknown query name before they start Spark") {
    val out = Files.createTempDirectory("graft_select").resolve("out")
    val v = intercept[IllegalArgumentException](
      Verify.main(Array("/root/testdata/sf0.001", out.toString, "q_typo")))
    assert(v.getMessage.contains("q_typo"), v.getMessage)
    assert(!Files.exists(out), "Verify wrote its output directory before rejecting the name")
    Files.delete(out.getParent)
    val b = intercept[IllegalArgumentException](Bench.main(Array("q_typo")))
    assert(b.getMessage.contains("q_typo"), b.getMessage)
  }

  test("Verify's JSON artifacts list their keys sorted, with strings escaped") {
    val json = Verify.jsonObject(Seq("q_b" -> "x\ty", "q_a" -> "say \"hi\"\\\n"))
    assert(json == """{"q_a": "say \"hi\"\\\n","q_b": "x\ty"}""")
  }
}
