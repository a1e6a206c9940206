package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness never times a failure: a query that throws is
  * reported in `errors` and left out of the timings. Its output line is
  * valid JSON whatever the sf dir or the numbers hold.
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("timeQueries reports a throwing query as an error, never as a time") {
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "q_ok" -> ((s, _) => s.range(10).toDF()),
      "q_throws" -> ((_, _) => throw new IllegalStateException("no such table")),
      "q_fails_in_job" -> ((s, _) =>
        s.range(10).filter("raise_error(concat('bad row ', id)) IS NULL").toDF()))
    val (trails, errors) = Bench.timeQueries(spark, "unused", queries)
    assert(trails.keySet == Set("q_ok"))
    assert(trails("q_ok").size == 2 && trails("q_ok").forall(_ >= 0))
    assert(errors.keySet == Set("q_throws", "q_fails_in_job"))
    assert(errors("q_throws").contains("no such table"))
    assert(errors("q_fails_in_job").contains("bad row"))
  }

  test("the result line parses as JSON for an sf dir with a quote and backslash") {
    val sfDir = "/data/sf\"0.1\\x"
    val line = Bench.resultLine(sfDir, Double.NaN, 12.5, 100L, 40L, 20L,
      Seq(3.0, 2.5), Seq(2.0, Double.PositiveInfinity, 2.2),
      Map("q_a" -> 1.5, "kg_pipeline_e2e" -> 2.2), Map("q_a" -> Seq(1.5, 1.6)),
      Map("q_b" -> "java.lang.IllegalStateException: bad \"x\""))
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(j.get("sf").asText == sfDir)
    assert(j.get("value").isNull && j.get("kg_run_sec").get(1).isNull)
    assert(j.get("total_sec").asDouble == 12.5 && j.get("kg_triples").asLong == 40L)
    assert(j.get("queries").get("q_a").asDouble == 1.5)
    assert(j.get("query_trails").get("q_a").size == 2)
    assert(j.get("errors").get("q_b").asText.endsWith("bad \"x\""))
    val keys = Set("metric", "value", "unit", "total_sec", "kg_turns", "kg_triples",
      "kg_convs", "kg_warmup_sec", "kg_run_sec", "queries", "query_trails", "errors", "sf")
    assert(j.fieldNames().asScala.toSet == keys)
  }
}
