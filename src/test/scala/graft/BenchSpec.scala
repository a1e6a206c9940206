package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness never times a failure: a query that throws is
  * reported in `errors` and left out of the timings.
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
}
