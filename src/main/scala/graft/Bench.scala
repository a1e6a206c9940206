package graft

import graft.app.KgBuild
import graft.model.RunConfig
import graft.source.TranscriptGen
import graft.util.Json
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.{Failure, Try}

/** Benchmark main (driver contract): runs the headline end-to-end KG build
  * (extract → link → canonicalize → materialize-shaped counts) plus every
  * SparkEntry query, printing ONE JSON line.
  *
  * Headline metric (BASELINE.json): end-to-end triples/sec over the seeded
  * transcript table, sized to the sf directory (sf0.1 → 2000 conversations ≈
  * 57k turns; same generator as the correctness suite so extraction density
  * is realistic, unlike the word-bag documents table).
  */
object Bench {

  def convsForSf(sfDir: String): Long = {
    val sf = raw"sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.01)
    math.max(20L, (sf * 20000).toLong)
  }

  def buildSession(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    // One task per core (overridable): conversations are iid and each
    // partition holds hundreds of thousands of them, so partitions are
    // balanced by the law of large numbers and finer tasks only add
    // scheduling + cache-locality overhead (measured: 4x partitions made the
    // 200k-conv build 27% slower at local[8]).
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // small bench parquet files otherwise land in ONE scan partition and
    // every narrow pass (signature computation, mention scans) runs
    // single-threaded; at production scale file counts make this moot
    .config("spark.sql.files.minPartitionNum", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One end-to-end KG build; returns (turns, relationInstances, seconds). */
  def kgBuildOnce(spark: SparkSession, numConvs: Long): (Long, Long, Double) = {
    import org.apache.spark.sql.functions._
    val turns = TranscriptGen.table(spark, numConvs).toDF()
    val t0 = System.nanoTime()
    val g = KgBuild.buildGraph(turns, RunConfig(runKey = s"kg-build:bench-$numConvs"))
    // force the full DAG: edges covers chunk+extract+link+canon+assembly
    // (kept as two actions for cross-round comparability; a fused
    // single-action variant measured no reliable win)
    g.edges.count()
    val nTriples = g.relations.count()
    val dt = (System.nanoTime() - t0) / 1e9
    val nTurns = turns.count()
    // drop the build's cached intermediates so repeated builds in one JVM
    // don't accumulate cache and thrash GC
    g.release()
    spark.catalog.clearCache()
    (nTurns, nTriples, dt)
  }

  /** Warm up until the full-size build time STABILIZES (two consecutive
    * full-size builds within 15%), capped at maxWarmups builds total.
    * A fixed warm-up count is not enough: whole-stage-codegen classes keep
    * C2-compiling across the first several builds (at 200k convs,
    * local[32], total JIT time still climbed 146→162 s across builds 2..5
    * while wall time fell 46→17 s), so an early "measured" run is really
    * still a warm-up. Returns all warm-up times for emission in the bench
    * artifact.
    */
  def warmUntilStable(spark: SparkSession, numConvs: Long, maxWarmups: Int = 6): Seq[Double] = {
    val ts = scala.collection.mutable.ArrayBuffer[Double]()
    ts += kgBuildOnce(spark, math.max(numConvs / 4, 10L))._3 // cold-start pass, quarter size
    var prev = Double.NaN
    while (ts.size < maxWarmups) {
      val t = kgBuildOnce(spark, numConvs)._3
      ts += t
      if (!prev.isNaN && math.abs(t - prev) / math.min(t, prev) < 0.15) return ts.toSeq
      prev = t
    }
    ts.toSeq
  }

  /** Runs each query twice (forced with `count()`) and returns the
    * wall-time trails of the queries that succeeded both times, and the
    * first error of each query that threw. A failed query is never timed:
    * it appears only in the errors.
    */
  def timeQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : (Map[String, Seq[Double]], Map[String, String]) = {
    val runs = queries.map { case (name, fn) =>
      name -> (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val r = Try(fn(spark, sfDir).count())
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        r.map(_ => dt)
      }
    }
    val errors = runs.flatMap { case (name, rs) =>
      rs.collectFirst { case Failure(e) => name -> e.toString }
    }.toMap
    val trails = runs.collect { case (name, rs) if !errors.contains(name) =>
      name -> rs.map(_.get)
    }.toMap
    (trails, errors)
  }

  /** The one JSON line `main` prints; `queries` maps each query name (and
    * `kg_pipeline_e2e`) to its seconds. A non-finite number prints as null.
    */
  def resultLine(sfDir: String, triplesPerSec: Double, totalSec: Double,
      turns: Long, triples: Long, convs: Long, warmupSecs: Seq[Double],
      runSecs: Seq[Double], queries: Map[String, Double],
      trails: Map[String, Seq[Double]], errors: Map[String, String]): String =
    Json.obj(
      "metric" -> Json.str("end-to-end triples/sec (extract->link->canonicalize->materialize)"),
      "value" -> Json.num(triplesPerSec),
      "unit" -> Json.str("triples/sec"),
      "total_sec" -> Json.num(totalSec),
      "kg_turns" -> turns.toString,
      "kg_triples" -> triples.toString,
      "kg_convs" -> convs.toString,
      "kg_warmup_sec" -> Json.nums(warmupSecs),
      "kg_run_sec" -> Json.nums(runSecs),
      "queries" -> Json.obj(queries.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "query_trails" -> Json.obj(trails.toSeq.map { case (k, ts) => k -> Json.nums(ts) }: _*),
      "errors" -> Json.obj(errors.toSeq.map { case (k, e) => k -> Json.str(e) }: _*),
      "sf" -> Json.str(sfDir))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = buildSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // Headline throughput measures a 10x-size build: at the query-suite size
    // (2k convs at sf0.1) a warm build is ~2 s of work and fixed per-job
    // overhead dominates the ratio. Adaptive warm-up (see warmUntilStable),
    // then the MEDIAN of three measured runs — and all per-run times are
    // emitted, so a host-contention-degraded run is self-evident in the
    // artifact instead of silently becoming the headline (BENCH_r02's single
    // measured run recorded 127.6 s for a build the repo's ScalingBench does
    // 10x more of in 18.9 s).
    val numConvs = convsForSf(sfDir)
    val headlineConvs = numConvs * 10
    val warmups = warmUntilStable(spark, headlineConvs)
    val measured = (1 to 3).map(_ => kgBuildOnce(spark, headlineConvs))
    val runSecs = measured.map(_._3)
    val kgSec = runSecs.sorted.apply(runSecs.size / 2) // median
    val (nTurns, nTriples, _) = measured.head
    val triplesPerSec = nTriples / kgSec

    // Per-query WARM discipline (round-4 finding: a single cold-JIT,
    // steal-exposed execution checked a 42.5 s outlier in as the number of
    // record for a query whose warm floor is ~4 s). Each query runs TWICE
    // in-JVM; the min is the reported number and the full trail is emitted,
    // so a contaminated execution is self-evident in the artifact instead of
    // silently becoming the headline — same policy kg_run_sec already has.
    val (trails, errors) = timeQueries(spark, sfDir, SparkEntry.queries.toSeq)
    val results = trails.map { case (name, ts) => name -> ts.min }
    val total = results.values.sum + kgSec
    println(resultLine(sfDir, triplesPerSec, total, nTurns, nTriples, headlineConvs,
      warmups, runSecs, results + ("kg_pipeline_e2e" -> kgSec), trails, errors))
    spark.stop()
  }
}
