package graft.qa

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ingestion QA — the engine's self-verifying gate, mirroring the reference's
  * IngestionQaEvaluator (ref:src/fancyrag/qa/evaluator.py:91-268) and its
  * Cypher count/anti-join helpers (ref:src/fancyrag/db/neo4j_queries.py:183-297).
  * Default thresholds are all-zero (ref:src/fancyrag/cli/kg_build_main.py:81-110);
  * any anomaly above threshold fails the run, which triggers rollback
  * (ref:src/fancyrag/kg/phases.py:418-420).
  */
object QaEvaluator {

  final case class QaThresholds(
      maxMissingEmbeddings: Long = 0,
      maxOrphanChunks: Long = 0,
      maxChecksumMismatches: Long = 0,
      maxSemanticOrphans: Long = 0
  )

  final case class QaResult(
      status: String, // "pass" | "fail"
      counts: Map[String, Long],
      anomalies: Map[String, Long],
      tokenStats: Map[String, Double],
      tokenHistogram: Seq[(String, Long)]
  )

  /** Fixed token-histogram bins (ref:src/fancyrag/qa/evaluator.py:94). */
  val bins: Seq[Int] = Seq(64, 128, 256, 512, 1024, 2048)

  /** Markdown QA report — the artifact of ref:src/fancyrag/qa/report.py:17-62,
    * scrubbed through the sanitizer before writing.
    */
  def reportMarkdown(r: QaResult): String = {
    def table(rows: Seq[(String, String)]): String =
      "| metric | value |\n|---|---|\n" +
        rows.map { case (k, v) => s"| ${Sanitizer.scrubText(k)} | $v |" }.mkString("\n")
    s"""# Ingestion QA report
       |
       |Status: **${r.status}**
       |
       |## Counts
       |${table(r.counts.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })}
       |
       |## Anomalies
       |${table(r.anomalies.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })}
       |
       |## Token stats
       |${table(r.tokenStats.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })}
       |
       |## Token histogram
       |${table(r.tokenHistogram.map { case (k, v) => k -> v.toString })}
       |""".stripMargin
  }

  /** Token estimate = max(1, ceil(len/4)) (ref:src/fancyrag/qa/evaluator.py:352-358). */
  def tokenEstimate = greatest(lit(1), ceil(length(col("text")) / 4)).cast("long")

  def tokenBucket = {
    val t = tokenEstimate
    bins.foldRight(lit(">2048")) { (b, acc) => when(t <= b, lit(s"<=$b")).otherwise(acc) }
  }

  /** Orphan chunks: chunk nodes with no incoming HAS_CHUNK
    * (ref:src/fancyrag/db/neo4j_queries.py:221-238) — left_anti join.
    */
  def orphanChunks(chunks: DataFrame, edges: DataFrame): DataFrame =
    chunks
      .withColumn("__node_id", concat(lit("chunk:"), col("chunk_uid")))
      .join(
        edges.filter(col("rel_type") === "HAS_CHUNK")
          .select(col("dst").as("__node_id")),
        Seq("__node_id"), "left_anti")
      .drop("__node_id")

  /** Per-turn text-equality invariant (BASELINE.json input_hint): recompute
    * sha256 of the source turns and join against the checksums persisted at
    * ingest; any mismatch is an anomaly
    * (reference analog ref:src/fancyrag/db/neo4j_queries.py:241-261).
    */
  def checksumMismatches(sourceTurns: DataFrame, storedChecksums: DataFrame): DataFrame =
    sourceTurns
      // null ≡ "" — must match ConvStage.artifacts' normalization boundary,
      // or every null source row would flag as a checksum mismatch
      .select(col("conv_id"), col("turn_idx"),
        sha2(coalesce(col("text"), lit("")), 256).as("expected"))
      .join(storedChecksums.select(col("conv_id"), col("turn_idx"), col("checksum").as("stored")),
        Seq("conv_id", "turn_idx"), "inner")
      .filter(coalesce(col("stored"), lit("")) =!= col("expected"))

  /** Orphan semantic entities: entity nodes with no edge in either direction
    * (ref:src/fancyrag/db/neo4j_queries.py:283-297).
    */
  def orphanEntities(entityNodes: DataFrame, edges: DataFrame): DataFrame = {
    val endpoints = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
    entityNodes.join(endpoints, Seq("id"), "left_anti")
  }

  /** The histogram's fixed bucket labels, in the emitted (string-sorted)
    * order — known at compile time, so the histogram can ride the single
    * chunk-pass aggregate as one conditional-sum column per bucket instead
    * of a second groupBy scan.
    */
  private val bucketLabels: Seq[String] = (bins.map(b => s"<=$b") :+ ">2048").sorted

  /** The chunk-pass aggregates, named as QA partials name them: counts, token
    * and character totals, the token max, missing embeddings, and one
    * `hist:<bucket>` count per histogram bucket. Every one is a sum except
    * `tok_max`, so per-partition values merge by summing (max for
    * `tok_max`).
    */
  def chunkAggs: Seq[Column] = {
    val t = tokenEstimate
    val bucket = tokenBucket
    Seq(
      count(lit(1)).as("chunks"),
      sum(t).as("tok_total"),
      max(t).as("tok_max"),
      sum(length(col("text"))).as("chars_total"),
      sum(when(col("embedding").isNull || size(col("embedding")) === 0, 1L)
        .otherwise(0L)).as("missing_emb")) ++
      bucketLabels.map(b => sum(when(bucket === b, 1L).otherwise(0L)).as(s"hist:$b"))
  }

  /** Schema-labeled entity nodes: labels beyond the bare __Entity__
    * catch-all. Those arise from relation/mention patterns and must be
    * connected; data-derived candidates (label __Entity__ only) carry
    * chunk_uids provenance, not edges, so they are not orphan anomalies.
    */
  def schemaEntity(labels: Column): Column =
    array_contains(labels, "__Entity__") && size(array_distinct(labels)) > 1

  /** Semantic relations, selected by provenance property rather than a
    * hardcoded type list (P7; ref:queries/hybrid_retrieval.cypher:6).
    */
  def semanticEdge: Column = col("props").getItem("semantic_source").isNotNull

  /** The gate's verdict from its measured parts: `chunk` holds the
    * [[chunkAggs]] values by name (absent = 0), `labels`/`rels` the node
    * label and relationship counts.
    */
  def verdict(
      chunk: Map[String, Long],
      labels: Map[String, Long],
      rels: Map[String, Long],
      orphans: Long,
      mismatches: Long,
      semOrphans: Long,
      thresholds: QaThresholds
  ): QaResult = {
    def stat(name: String): Long = chunk.getOrElse(name, 0L)
    val missingEmb = stat("missing_emb")
    val pass = missingEmb <= thresholds.maxMissingEmbeddings &&
      orphans <= thresholds.maxOrphanChunks &&
      mismatches <= thresholds.maxChecksumMismatches &&
      semOrphans <= thresholds.maxSemanticOrphans
    val chunks = stat("chunks")
    QaResult(
      status = if (pass) "pass" else "fail",
      counts = labels.map { case (k, v) => s"label:$k" -> v } ++
        rels.map { case (k, v) => s"rel:$k" -> v },
      anomalies = Map(
        "missing_embeddings" -> missingEmb,
        "orphan_chunks" -> orphans,
        "checksum_mismatches" -> mismatches,
        "semantic_orphans" -> semOrphans),
      tokenStats = Map(
        "total" -> stat("tok_total").toDouble,
        "max" -> stat("tok_max").toDouble,
        "mean" -> (if (chunks == 0) 0.0 else stat("tok_total").toDouble / chunks),
        "chars_total" -> stat("chars_total").toDouble),
      // absent = no row, the shape of a groupBy over the buckets
      tokenHistogram = bucketLabels.map(b => b -> stat(s"hist:$b")).filter(_._2 > 0))
  }

  /** QA gate, fused into exactly THREE Spark actions (the gate runs after
    * every build; at corpus scale each extra action is another full table
    * scan — the unfused form cost ~8):
    *   1. ONE aggregation pass over chunks: [[chunkAggs]];
    *   2. ONE pass over nodes ∪ edges for label/relationship counts;
    *   3. the three anomaly anti-joins batched into a single action (their
    *      1-row counts cross-joined and collected together).
    * QaEvaluatorSpec pins the action count with AQE off (1 action = 1 job).
    * This is the reference evaluation over whole tables; run() gates through
    * [[IncrementalQa]], which is pinned equal to it.
    */
  def evaluate(
      sourceTurns: DataFrame,
      storedChecksums: DataFrame,
      chunks: DataFrame, // with embedding column
      nodes: DataFrame,
      edges: DataFrame,
      thresholds: QaThresholds = QaThresholds()
  ): QaResult = {
    // ---- action 1: the fused chunk pass ----
    val aggs = chunkAggs
    val statsRow = chunks.agg(aggs.head, aggs.tail: _*).collect()(0)
    val chunkStats = statsRow.schema.fieldNames.zipWithIndex.collect {
      case (name, i) if !statsRow.isNullAt(i) => name -> statsRow.getLong(i)
    }.toMap

    // ---- action 2: label + relationship counts in one union pass ----
    val kindCounts = nodes
      .select(explode(col("labels")).as("key"), lit("label").as("kind"))
      .unionByName(edges.select(col("rel_type").as("key"), lit("rel").as("kind")))
      .groupBy("kind", "key").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val labelCounts = kindCounts.collect { case ("label", k, n) => k -> n }.toMap
    val edgeCounts = kindCounts.collect { case ("rel", k, n) => k -> n }.toMap

    // ---- action 3: the three anomaly anti-joins, batched ----
    val anomalyRow = orphanChunks(chunks, edges).agg(count(lit(1)).as("orphans"))
      .crossJoin(checksumMismatches(sourceTurns, storedChecksums)
        .agg(count(lit(1)).as("mismatches")))
      .crossJoin(orphanEntities(nodes.filter(schemaEntity(col("labels"))),
          edges.filter(semanticEdge))
        .agg(count(lit(1)).as("sem_orphans")))
      .collect()(0)

    verdict(chunkStats, labelCounts, edgeCounts,
      orphans = anomalyRow.getAs[Long]("orphans"),
      mismatches = anomalyRow.getAs[Long]("mismatches"),
      semOrphans = anomalyRow.getAs[Long]("sem_orphans"),
      thresholds)
  }
}
