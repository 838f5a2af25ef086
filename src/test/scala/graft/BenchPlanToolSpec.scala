package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The contracts of the Bench and PlanTool mains, checked without a Spark
 * session: the shape of Bench's result line and PlanTool's query-name
 * resolution. */
class BenchPlanToolSpec extends AnyFunSuite {

  private def line(results: Bench.Timings, hResults: Bench.Timings) =
    Bench.resultLine(results, hResults, loadStart = 0.25, loadEnd = 3.5,
      cpus = 4, sfDir = "/data/sf0.01")

  test("Bench result line is a single JSON object carrying the contract fields") {
    val text = line(Seq("q01_agg" -> Some(0.5), "q02_filter" -> Some(0.25)),
      Seq("h01_tpch" -> Some(1.0)))
    assert(!text.contains("\n"))
    val obj = parse(text) match {
      case o: JObject => o
      case other => fail(s"not a JSON object: $other")
    }
    val keys = obj.obj.map(_._1).toSet
    Seq("value", "errors", "queries", "h_total", "h_errors", "h_queries",
      "loadavg_start", "loadavg_end", "cpus", "sf").foreach { k =>
      assert(keys.contains(k), s"missing $k in $text")
    }
    Seq("contended", "retried", "outliers_first_pass", "outliers_remeasured")
      .foreach(k => assert(!keys.contains(k), s"stale field $k in $text"))
    assert(obj \ "value" === JDouble(0.75))
    assert(obj \ "errors" === JInt(0))
    assert(obj \ "queries" \ "q02_filter" === JDouble(0.25))
    assert(obj \ "h_total" === JDouble(1.0))
    assert(obj \ "h_errors" === JInt(0))
    assert(obj \ "loadavg_start" === JDouble(0.25))
    assert(obj \ "loadavg_end" === JDouble(3.5))
    assert(obj \ "cpus" === JInt(4))
    assert(obj \ "sf" === JString("/data/sf0.01"))
  }

  test("a failed query renders as \"error\" and is counted in errors") {
    val obj = parse(line(Seq("q01_agg" -> Some(0.5), "d04_dedup_ngram" -> None),
      Seq("h01_tpch" -> None, "h02_tpch" -> None, "h03_tpch" -> Some(2.0))))
    assert(obj \ "queries" \ "d04_dedup_ngram" === JString("error"))
    assert(obj \ "errors" === JInt(1))
    assert(obj \ "value" === JDouble(0.5))
    assert(obj \ "h_queries" \ "h01_tpch" === JString("error"))
    assert(obj \ "h_errors" === JInt(2))
    assert(obj \ "h_total" === JDouble(2.0))
  }

  test("PlanTool resolves the timed surface and rejects a typo, naming every unknown") {
    val all = PlanTool.resolve(None)
    assert(all.size === 36 && all.forall(SparkEntry.queries.contains))
    assert(PlanTool.resolve(Some("q01_agg,h05_tpch")) === Seq("q01_agg", "h05_tpch"))
    val err = intercept[IllegalArgumentException](
      PlanTool.resolve(Some("q01_agg,q01_aggg,h99_tpch")))
    assert(err.getMessage.endsWith("unknown query names: q01_aggg, h99_tpch"))
    intercept[IllegalArgumentException](PlanTool.resolve(Some(",")))
  }
}
