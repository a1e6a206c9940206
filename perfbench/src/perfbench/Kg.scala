package perfbench

import java.nio.charset.StandardCharsets

import graft.app.KgBuild
import graft.canon.Resolver
import graft.chunk.ConvStage
import graft.functions.Embeddings
import graft.link.EntityLinker
import graft.materialize.Materializer
import graft.model.{RunConfig, Triple}
import graft.qa.IncrementalQa
import graft.qa.QaEvaluator.QaResult
import graft.source.TranscriptGen
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import Common.force

/** A seeded transcript corpus written where the program reads it. */
final case class Corpus(dir: String, turns: Long, textBytes: Long,
    golden: Set[Triple], relationInstances: Long)

/** What a graph check compares: the QA gate's counts and the triple set. */
final case class GraphSummary(status: String, counts: Map[String, Long], triples: Set[Triple])

/** Inputs, checks and the traced form of `KgBuild.run`, shared by the
  * `build` and `incremental` workloads.
  */
object Kg {

  val NumPartitions: Int = RunConfig(runKey = "").numPartitions

  /** Writes the turns of the given conversations (edited where `edit` says)
    * as parquet and returns the corpus facts the checks need.
    */
  def writeCorpus(spark: SparkSession, dir: String, convIds: Seq[Long],
      edit: Long => Boolean = _ => false): Corpus = {
    import spark.implicits._
    val gold = convIds.map(TranscriptGen.conversation)
    val turns = gold.flatMap(_.map(_.turn)).map { t =>
      if (edit(convIndex(t.conv_id))) t.copy(text = editedText(t.text)) else t
    }
    turns.toDS().repartition(4).write.mode(SaveMode.Overwrite).parquet(dir)
    Corpus(dir, turns.size.toLong,
      turns.map(_.text.getBytes(StandardCharsets.UTF_8).length.toLong).sum,
      gold.flatMap(_.flatMap(_.triples)).toSet,
      gold.map(_.map(_.triples.size.toLong).sum).sum)
  }

  /** The edit the incremental workload applies to every turn of one
    * partition: a correction note appended to the text, as a user editing
    * a transcript would leave it.
    */
  def editedText(text: String): String = text + " (corrected)"

  def convIndex(convId: String): Long = convId.stripPrefix("conv-").toLong

  /** The program's partition of each conversation index. */
  def partIds(spark: SparkSession, ids: Seq[Long]): Map[Long, Int] = {
    import spark.implicits._
    ids.toDF("i")
      .withColumn("conv_id", format_string("conv-%06d", col("i")))
      .select(col("i"), Materializer.partId("conv_id", NumPartitions).as("p"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  def read(spark: SparkSession, c: Corpus): DataFrame = spark.read.parquet(c.dir)

  /** QA's verdict on a run, with the anomalies that made it fail. */
  def qaFailure(qa: QaResult): Option[String] =
    if (qa.status == "pass") None
    else Some(s"QA ${qa.status}, then rollback: " +
      qa.anomalies.filter(_._2 != 0).toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(", "))

  def config(runKey: String): RunConfig = RunConfig(runKey = runKey)

  /** The graph a finished run left in `outDir`, read as the server reads it. */
  def summarize(spark: SparkSession, outDir: String, qa: QaResult): GraphSummary = {
    val nodes = Materializer.mergeRows(spark.read.parquet(s"$outDir/nodes"), Seq("id"))
    val edges = Materializer.mergeRows(spark.read.parquet(s"$outDir/edges"),
      Seq("src", "dst", "rel_type"))
    val triples = KgBuild.tripleView(nodes, edges).collect()
      .map(r => Triple(r.getString(0), r.getString(1), r.getString(2))).toSet
    GraphSummary(qa.status, qa.counts, triples)
  }

  /** `KgBuild.run` decomposed into calls on each layer's public entry
    * point, in run()'s order, each forced with a noop sink inside its span.
    * The forced chunk, functions, canon and link outputs are not reused by
    * `buildGraph`, which recomputes them: the `app.build` span therefore
    * includes that recomputation, and the duplicated work shows as tracing
    * overhead. The writes repeat run()'s, so the run's graph must equal an
    * untraced run's; the workloads check that it does.
    */
  def tracedRun(spark: SparkSession, tr: Tracer, op: Int, turns: DataFrame, cfg: RunConfig,
      outDir: String): (QaResult, Map[String, Double]) = {
    val (checks, pending, nonEmpty) = tr.span("materialize", op, "inputChecksums+completedPartitions") {
      KgBuild.recoverPendingRollback(spark, outDir)
      val checks = Materializer.inputChecksums(turns, cfg.numPartitions, cfg.inputVersionCol)
        .persist(MEMORY_AND_DISK)
      force(checks)
      val done = Materializer.completedPartitions(spark, outDir, "nodes", checks)
      val pending = turns
        .withColumn("part_id", Materializer.partId("conv_id", cfg.numPartitions))
        .join(done, Seq("part_id"), "left_anti")
        .drop("part_id")
        .persist(MEMORY_AND_DISK)
      force(pending)
      (checks, pending, !pending.isEmpty)
    }
    var ratios = Map.empty[String, Double]
    if (nonEmpty) {
      val arts = tr.span("chunk", op, "ConvStage.artifacts") {
        val a = ConvStage.artifacts(pending, cfg.profile)
        force(a.toDF())
        a.toDF()
      }
      tr.span("functions", op, "Embeddings.withEmbedding") {
        val chunksRaw = arts.select(explode(col("chunks")).as("c")).select(col("c.text"))
        force(Embeddings.withEmbedding(chunksRaw, "text", KgBuild.EmbeddingDim))
      }
      val gaz = tr.span("canon", op, "Resolver.canonicalEntities") {
        val c = Resolver.canonicalEntities(spark)
        force(c)
        c
      }
      // dictionary and candidate mentions, as buildGraph links them
      val mentions = arts.select(explode(concat(col("mentions"), col("candidates"))).as("m"))
        .select(col("m.m.*"))
      tr.span("link", op, "EntityLinker.link") {
        val linked = EntityLinker.link(mentions, "norm", "mention_id", gaz, cfg.saltBuckets)
          .persist(MEMORY_AND_DISK)
        force(linked)
        val r = linked.agg(count(lit(1)), count(col("canon_norm"))).first()
        ratios += "link.linked_ratio" ->
          (if (r.getLong(0) == 0) 0.0 else r.getLong(1).toDouble / r.getLong(0))
        linked.unpersist()
      }
      arts.unpersist()
      val (g, nodes, edges) = tr.span("app.build", op, "KgBuild.buildGraph") {
        val g = KgBuild.buildGraph(pending, cfg)
        val nodes = g.nodes.persist(MEMORY_AND_DISK)
        val edges = g.edges.persist(MEMORY_AND_DISK)
        force(nodes)
        force(edges)
        (g, nodes, edges)
      }
      tr.span("materialize", op, "writeWithManifest+mergeUpsert") {
        val pendingIds: Seq[Int] = nodes.select("part_id").distinct()
          .collect().map(_.getInt(0)).toSeq
        ratios += "materialize.rebuilt_partitions" -> pendingIds.size.toDouble / cfg.numPartitions
        Materializer.writeWithManifest(edges, outDir, "edges", cfg, checks)
        Materializer.stamp(g.chunks, cfg)
          .write.mode(SaveMode.Append).partitionBy("part_id").parquet(s"$outDir/chunks")
        Materializer.stamp(g.turnChecksums, cfg)
          .write.mode(SaveMode.Append).partitionBy("part_id").parquet(s"$outDir/turn_checksums")
        edges.groupBy(col("part_id"), col("rel_type"))
          .agg(count(lit(1)).as("rows"))
          .withColumn("run_key", lit(cfg.runKey))
          .write.mode(SaveMode.Append).parquet(s"$outDir/_metrics")
        val existingPending = Materializer.readParquetIfPresent(spark, s"$outDir/nodes") match {
          case Some(prior) => prior.filter(col("part_id").isin(pendingIds: _*))
          case None => nodes.limit(0)
        }
        val nodesOut = Materializer.mergeUpsert(existingPending, nodes, Seq("part_id", "id"))
          .localCheckpoint()
        Materializer.writeWithManifest(nodesOut, outDir, "nodes", cfg, checks,
          dynamicOverwrite = true)
        nodes.unpersist(); edges.unpersist(); g.release()
      }
    } else ratios += "materialize.rebuilt_partitions" -> 0.0
    pending.unpersist(); checks.unpersist()
    val qa = tr.span("qa", op, "IncrementalQa.evaluate") {
      val qa = IncrementalQa.evaluate(spark, outDir, turns, cfg)
      if (qa.status == "fail") KgBuild.rollbackRun(spark, outDir, Seq(cfg.runKey))
      qa
    }
    (qa, ratios)
  }
}
