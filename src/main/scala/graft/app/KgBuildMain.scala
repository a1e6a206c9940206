package graft.app

import graft.materialize.Materializer
import graft.model.{ChunkProfile, RunConfig}
import graft.qa.QaEvaluator.{QaResult, QaThresholds}
import graft.source.TranscriptGen
import graft.util.Json
import org.apache.spark.sql.SparkSession

/** spark-submit entrypoint — the engine's analog of the reference CLI
  * (ref:scripts/kg_build.py → ref:src/fancyrag/cli/kg_build_main.py:27-168),
  * with the same shape of flags: source selection, profile/chunking
  * overrides, QA thresholds, reset, and our resume/partitioning knobs.
  *
  * Usage (all flags optional):
  *   spark-submit --class graft.app.KgBuildMain graft.jar \
  *     --input <parquet path of transcripts | synth:<numConvs>> \
  *     --out <output dir> \
  *     --profile text|markdown|code \
  *     --chunk-size N --overlap N \
  *     --partitions N --salt N \
  *     --run-key KEY \
  *     --reset            (wipe output first — ref MATCH(n) DETACH DELETE)
  *     --max-missing-embeddings N --max-orphan-chunks N
  *     --max-checksum-mismatches N --max-semantic-orphans N
  */
object KgBuildMain {

  /** `--key value` pairs; non-flag tokens JOIN the preceding flag's value
    * (so a multi-word `--question Who founded Acme Corp?` survives sbt's
    * whitespace re-splitting of the runMain line). The old fixed-stride
    * sliding(2, 2) silently shifted every flag after the first multi-token
    * value off its pair.
    */
  def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var key: Option[String] = None
    args.foreach { t =>
      if (t.startsWith("--")) { key = Some(t.drop(2)); m.getOrElseUpdate(key.get, "") }
      else key.foreach(k => m(k) = if (m(k).isEmpty) t else m(k) + " " + t)
    }
    m.filter(_._2.nonEmpty).toMap
  }

  /** The run-log artifact (ref:src/fancyrag/kg/pipeline.py:1489-1546): one
    * JSON object whose every string goes through [[Json]], so a run key
    * holding a quote, backslash or newline still writes valid JSON.
    */
  def runLog(cfg: RunConfig, qa: QaResult): String = {
    def obj(m: Map[String, Long]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"run_key":${Json.str(cfg.runKey)},"status":${Json.str(qa.status)},""" +
      s""""git_commit":${Json.str(cfg.gitCommit.getOrElse("unknown"))},""" +
      s""""counts":${obj(qa.counts)},"anomalies":${obj(qa.anomalies)}}"""
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val out = a.getOrElse("out", "/tmp/graft-kg-out")
    // spark-submit injects spark.master via system property; default to
    // local mode for sandbox runs
    val spark = SparkSession.builder()
      .config("spark.master",
        sys.props.getOrElse("spark.master", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .appName("graft-kg-build")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = ChunkProfile.presets(a.getOrElse("profile", "text"))
    val profile = base.copy(
      chunkSize = a.get("chunk-size").map(_.toInt).getOrElse(base.chunkSize),
      overlap = a.get("overlap").map(_.toInt).getOrElse(base.overlap))
    // F9: stamp the engine's git SHA into semantic props + the run log
    // (ref:src/fancyrag/kg/pipeline.py:471-487); absent outside a checkout
    val gitCommit = scala.util.Try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD").start()
      val sha = new String(p.getInputStream.readAllBytes()).trim
      p.waitFor()
      sha
    }.toOption.filter(s => s.matches("[0-9a-f]{40}"))
    val cfg = RunConfig(
      runKey = a.getOrElse("run-key", s"kg-build:${java.util.UUID.nameUUIDFromBytes(a.toString.getBytes)}"),
      profile = profile,
      numPartitions = a.get("partitions").map(_.toInt).getOrElse(32),
      saltBuckets = a.get("salt").map(_.toInt).getOrElse(8),
      minCandidateSupport = a.get("min-candidate-support").map(_.toInt).getOrElse(2),
      gitCommit = gitCommit)
    val thresholds = QaThresholds(
      maxMissingEmbeddings = a.get("max-missing-embeddings").map(_.toLong).getOrElse(0L),
      maxOrphanChunks = a.get("max-orphan-chunks").map(_.toLong).getOrElse(0L),
      maxChecksumMismatches = a.get("max-checksum-mismatches").map(_.toLong).getOrElse(0L),
      maxSemanticOrphans = a.get("max-semantic-orphans").map(_.toLong).getOrElse(0L))

    if (a.contains("reset")) Materializer.reset(spark, out)

    // source-mode switch (S4, ref:src/fancyrag/kg/phases.py:117-177):
    //   synth:<numConvs>       seeded synthetic transcript table
    //   dir:<path>[:<glob>]    directory of text files (one file = one doc)
    //   file:<path>            single text file
    //   <path>                 parquet transcript table
    val input = a.getOrElse("input", "synth:200")
    val turns =
      if (input.startsWith("synth:")) TranscriptGen.table(spark, input.drop(6).toLong).toDF()
      else if (input.startsWith("dir:")) {
        val parts = input.drop(4).split(":", 2)
        val glob = if (parts.length > 1) parts(1) else "*.txt"
        graft.source.FileSource.asTurns(
          graft.source.FileSource.readDirectory(spark, parts(0), glob))
      } else if (input.startsWith("file:"))
        graft.source.FileSource.asTurns(
          graft.source.FileSource.readFile(spark, input.drop(5)))
      else spark.read.parquet(input)

    val qa = KgBuild.run(spark, turns, cfg, out, thresholds)
    val log = runLog(cfg, qa)
    println(log)
    // artifact names pass the filesystem-safe sanitizer (F5); per-run copies
    // live under a run-key-derived directory like the reference's per-source
    // artifact dirs (ref:src/fancyrag/kg/pipeline.py:614-626)
    val runDir = s"$out/artifacts/run-${graft.qa.Sanitizer.fsSafe(cfg.runKey)}"
    Seq(s"$out/artifacts", runDir).foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    Seq(s"$out/artifacts", runDir).foreach { d =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$d/run_log.json"),
        graft.qa.Sanitizer.scrubText(log))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$d/qa_report.md"),
        graft.qa.QaEvaluator.reportMarkdown(qa))
    }
    spark.stop()
    if (qa.status != "pass") sys.exit(2)
  }
}
