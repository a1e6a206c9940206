package perfbench

import java.io.File

/** Benchmark entry point: one workload, one seed, one JSON record as the
  * last line of stdout.
  *
  * {{{
  * perfbench.Main --workload build|incremental|edit|serve|dedup --seed N
  *   --seconds S --trace 0|1 --work DIR --fixtures DIR [--scale full|tiny] [--corrupt 1]
  * }}}
  */
object Main {
  val Workloads: Map[String, (org.apache.spark.sql.SparkSession, Args) => Result] = Map(
    "build" -> BuildWorkload.run,
    "incremental" -> IncrementalWorkload.run("append"),
    "edit" -> IncrementalWorkload.run("edit"),
    "serve" -> ServeWorkload.run,
    "dedup" -> DedupWorkload.run)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    Args(workload, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")).getAbsolutePath, new File(need("fixtures")).getAbsolutePath,
      kv.getOrElse("scale", "full") match {
        case "full" => Sizes.full
        case "tiny" => Sizes.tiny
        case s => throw new IllegalArgumentException(s"unknown scale $s")
      },
      kv.get("corrupt").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Common.delete(a.work)
    Common.mkdirs(a.work)
    val spark = Common.session(a.work)
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try {
        val r = Workloads(a.workload)(spark, a)
        println(r.json)
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${a.workload} could not be measured:")
          e.printStackTrace()
          1
      } finally {
        spark.stop()
        Common.delete(a.work)
      }
    // the HTTP server's handler pool is not daemon; end the JVM explicitly
    System.exit(code)
  }
}
