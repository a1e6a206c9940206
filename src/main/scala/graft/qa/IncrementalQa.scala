package graft.qa

import graft.materialize.Materializer
import graft.model.RunConfig
import graft.qa.QaEvaluator.{QaResult, QaThresholds}
import graft.util.Determinism
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Incremental QA: evaluate the gate from per-partition PARTIAL AGGREGATES
  * cached on disk, recomputing only the partitions whose files changed —
  * so a run over one changed partition scans one partition's data files
  * plus compact summary tables, instead of re-aggregating the full
  * accumulated graph (the round-5 verdict's "history-scaled per-run cost"
  * finding: at 10^12 turns the full-table QA re-aggregation dominates every
  * incremental ingest).
  *
  * Safety model: `_qa_cache/partials` is a PURE CACHE keyed by a content
  * fingerprint of each stage partition's file listing (names + lengths —
  * parquet writers always create fresh uuid filenames, so any rewrite,
  * append, or rollback changes the fingerprint). A stale, missing, or
  * half-written cache is never trusted — mismatched rows are recomputed
  * from the data — which is why this needs NO write-ahead markers and has
  * zero interplay with the rollback/crash-safety machinery: the worst a
  * crash can do is force a recompute.
  *
  * Exactness (pinned by ResumeSpec equality tests): every QA component is
  * either partition-decomposable or reconstructed from compact per-partition
  * sets —
  *   - chunk stats / histogram / missing embeddings: chunk_uid binds to one
  *     conversation, hence one partition, so per-partition sums (max for
  *     tok_max) equal the global aggregate over the deduplicated table;
  *   - orphan chunks + checksum mismatches: conversation-local by
  *     construction (a chunk's HAS_CHUNK edge and a turn's stored checksum
  *     carry the same conv_id) — per-partition counts sum;
  *   - node label counts: doc:/chunk: ids are partition-unique (counts sum);
  *     ent: ids recur across partitions, so the cache keeps the per-partition
  *     ENTITY ID SET (vocab-bounded, not turn-scale) and the combine counts
  *     labels over the distinct union — exactly what mergeRows-then-explode
  *     produced;
  *   - rel counts: edges with a doc:/chunk: src are partition-unique after
  *     partition-local key dedup (counts sum); ent:-src edges go through a
  *     distinct-union of their (src, dst, rel_type) keys (pair-vocab-bounded);
  *   - semantic orphans: schema-labeled entity ids minus the distinct union
  *     of per-partition semantic-edge endpoint sets.
  *
  * The checksum-mismatch partial is valid under run()'s invalidation
  * contract: a source partition can only change together with its stage
  * partitions being rebuilt (manifest checksums gate completion), which
  * changes the fingerprint and forces the recompute against the current
  * source. Standalone callers outside that contract should use
  * [[QaEvaluator.evaluate]].
  */
object IncrementalQa {

  private val CachePath = "_qa_cache/partials"

  /** (part_id -> fingerprint) for one partitioned stage dir; empty when the
    * stage does not exist. Fingerprint = mix of the sorted (name, length)
    * listing of the partition directory.
    */
  private[graft] def partitionFingerprints(
      spark: SparkSession, stageDir: String): Map[Int, String] = {
    val p = new org.apache.hadoop.fs.Path(stageDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("part_id="))
      .map { st =>
        val pid = st.getPath.getName.stripPrefix("part_id=").toInt
        val files = fs.listStatus(st.getPath).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .map(f => (f.getPath.getName, f.getLen))
          .sortBy(_._1)
        val h = files.foldLeft(0x6a09e667f3bcc909L) { case (acc, (n, l)) =>
          Determinism.mix64(acc ^ Determinism.mix(n.hashCode.toLong, l))
        }
        pid -> java.lang.Long.toHexString(h)
      }
      .toMap
  }

  private def mixFp(a: String, b: String): String = s"$a:$b"

  /** QA over the materialized graph, incremental by partition fingerprint.
    * Result is EXACTLY [[QaEvaluator.evaluate]]'s over the same tables.
    */
  def evaluate(
      spark: SparkSession,
      outDir: String,
      sourceTurns: DataFrame,
      cfg: RunConfig,
      thresholds: QaThresholds = QaThresholds()
  ): QaResult = {
    import spark.implicits._

    val fpChunks = partitionFingerprints(spark, s"$outDir/chunks")
    val fpChecks = partitionFingerprints(spark, s"$outDir/turn_checksums")
    val fpNodes = partitionFingerprints(spark, s"$outDir/nodes")
    val fpEdges = partitionFingerprints(spark, s"$outDir/edges")

    // Desired cache keys: (group, part_id, fp). The orphan group depends on
    // BOTH the chunks and edges listings of its partition.
    val want: Seq[(String, Int, String)] =
      fpChunks.toSeq.map { case (p, f) => ("chunk", p, f) } ++
        fpChunks.toSeq.map { case (p, f) =>
          ("orphan", p, mixFp(f, fpEdges.getOrElse(p, "-")))
        } ++
        fpChecks.toSeq.map { case (p, f) => ("checksum", p, f) } ++
        fpNodes.toSeq.map { case (p, f) => ("node", p, f) } ++
        fpEdges.toSeq.map { case (p, f) => ("edge", p, f) }
    val wantDf = want.toDF("group", "part_id", "fp")

    val cacheDir = s"$outDir/$CachePath"
    val cached = Materializer.readParquetIfPresent(spark, cacheDir)
    val validOld = cached match {
      case Some(c) => c.join(broadcast(wantDf), Seq("group", "part_id", "fp"), "left_semi")
      case None => emptyPartials(spark)
    }
    val cachedKeys: Set[(String, Int, String)] = cached match {
      case Some(c) => c.select("group", "part_id", "fp").distinct()
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
      case None => Set.empty
    }
    val stale: Map[String, Seq[Int]] = want
      .filterNot(cachedKeys.contains)
      .groupBy(_._1).map { case (g, ks) => g -> ks.map(_._2).sorted }

    def pruned(stage: String, parts: Seq[Int]): DataFrame =
      spark.read.parquet(s"$outDir/$stage").filter(col("part_id").isin(parts: _*))
    def withFp(df: DataFrame, group: String, fpOf: Int => String): DataFrame = {
      val fpMap = map(stale.getOrElse(group, Nil)
        .flatMap(p => Seq(lit(p), lit(fpOf(p)))): _*)
      df.withColumn("group", lit(group)).withColumn("fp", fpMap(col("part_id")))
    }
    val none = lit(null).cast("string")
    def partial(kind: String, a: Column = none, b: Column = none, c: Column = none,
        n: Column = lit(0L)): Seq[Column] =
      Seq(col("part_id"), lit(kind).as("kind"), a.as("a"), b.as("b"), c.as("c"), n.as("n"))

    val fresh = scala.collection.mutable.ArrayBuffer[DataFrame]()

    // ---- chunk stats partials: QaEvaluator's chunk-pass aggregates per
    //      partition, one scan, melted into one `stat` row per aggregate ----
    stale.get("chunk").filter(_.nonEmpty).foreach { parts =>
      val aggs = QaEvaluator.chunkAggs
      val agg = pruned("chunks", parts).dropDuplicates("chunk_uid")
        .groupBy("part_id").agg(aggs.head, aggs.tail: _*)
      val stats = agg.columns.filter(_ != "part_id")
        .map(sn => struct(lit(sn).as("a"), col(sn).as("n")))
      val melted = agg.select(col("part_id"), explode(array(stats: _*)).as("s"))
        .select(partial("stat", a = col("s.a"), n = col("s.n")): _*)
      fresh += withFp(melted, "chunk", fpChunks)
    }

    // ---- orphan-chunk partials ----
    stale.get("orphan").filter(_.nonEmpty).foreach { parts =>
      val ch = pruned("chunks", parts).dropDuplicates("chunk_uid")
      val ed = pruned("edges", parts.filter(fpEdges.contains))
      val orph = QaEvaluator.orphanChunks(ch, ed)
        .groupBy("part_id").agg(count(lit(1)).as("n"))
      // partitions with zero orphans still need a cache row
      val base = parts.toDF("part_id")
        .join(orph, Seq("part_id"), "left")
        .select(partial("orphans", n = coalesce(col("n"), lit(0L))): _*)
      fresh += withFp(base, "orphan",
        p => mixFp(fpChunks(p), fpEdges.getOrElse(p, "-")))
    }

    // ---- checksum-mismatch partials ----
    stale.get("checksum").filter(_.nonEmpty).foreach { parts =>
      val stored = pruned("turn_checksums", parts)
        .dropDuplicates("conv_id", "turn_idx")
      val src = sourceTurns
        .withColumn("part_id", Materializer.partId("conv_id", cfg.numPartitions))
        .filter(col("part_id").isin(parts: _*))
      val mism = QaEvaluator
        .checksumMismatches(src.drop("part_id"), stored.drop("part_id"))
        .withColumn("part_id", Materializer.partId("conv_id", cfg.numPartitions))
        .groupBy("part_id").agg(count(lit(1)).as("n"))
      val base = parts.toDF("part_id")
        .join(mism, Seq("part_id"), "left")
        .select(partial("mismatches", n = coalesce(col("n"), lit(0L))): _*)
      fresh += withFp(base, "checksum", fpChecks)
    }

    // ---- node partials: non-entity label counts + entity id/label sets ----
    stale.get("node").filter(_.nonEmpty).foreach { parts =>
      val nd = pruned("nodes", parts)
      val nonEnt = nd.filter(!col("id").startsWith("ent:"))
        .select(col("part_id"), explode(col("labels")).as("a"))
        .groupBy("part_id", "a").agg(count(lit(1)).as("n"))
        .select(partial("label", a = col("a"), n = col("n")): _*)
      val ent = nd.filter(col("id").startsWith("ent:"))
        .select(partial("ent", a = col("id"), b = to_json(col("labels"))): _*)
      fresh += withFp(nonEnt.unionByName(ent), "node", fpNodes)
    }

    // ---- edge partials: partition-unique rel counts + semantic key /
    //      endpoint sets ----
    stale.get("edge").filter(_.nonEmpty).foreach { parts =>
      val ed = pruned("edges", parts)
      val dist = ed.select("part_id", "src", "dst", "rel_type")
        .dropDuplicates("part_id", "src", "dst", "rel_type")
      val nonEnt = dist.filter(!col("src").startsWith("ent:"))
        .groupBy("part_id", "rel_type").agg(count(lit(1)).as("n"))
        .select(partial("rel", a = col("rel_type"), n = col("n")): _*)
      val semKeys = dist.filter(col("src").startsWith("ent:"))
        .select(partial("semkey", a = col("src"), b = col("dst"), c = col("rel_type")): _*)
      val endpoints = ed.filter(QaEvaluator.semanticEdge)
        .select(col("part_id"), explode(array(col("src"), col("dst"))).as("a"))
        .filter(col("a").startsWith("ent:"))
        .dropDuplicates("part_id", "a")
        .select(partial("endpoint", a = col("a")): _*)
      fresh += withFp(nonEnt.unionByName(semKeys).unionByName(endpoints), "edge", fpEdges)
    }

    val order = Seq("group", "part_id", "fp", "kind", "a", "b", "c", "n").map(col)
    val partials = (Seq(validOld.select(order: _*)) ++
      fresh.map(_.select(order: _*)))
      .reduce(_.unionByName(_))
      // eager: the cache overwrite below replaces the files validOld reads
      .localCheckpoint()
    partials.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(cacheDir)

    // ---- combine ----
    val statRows = partials.filter(col("kind").isin("stat", "orphans", "mismatches",
        "label", "rel"))
      .groupBy("kind", "a").agg(sum("n").as("sum_n"), max("n").as("max_n"))
      .collect()
    def sums(kind: String): Map[String, Long] = statRows
      .filter(_.getString(0) == kind).map(r => r.getString(1) -> r.getLong(2)).toMap
    val chunkStats = statRows.filter(_.getString(0) == "stat").map { r =>
      r.getString(1) -> (if (r.getString(1) == "tok_max") r.getLong(3) else r.getLong(2))
    }.toMap

    val labelsType = ArrayType(StringType)
    val entities = partials.filter(col("kind") === "ent").dropDuplicates("a")
      .select(col("a").as("id"), from_json(col("b"), labelsType).as("labels"))
    val entLabels = entities.select(explode(col("labels")).as("label"))
      .groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val semRels = partials.filter(col("kind") === "semkey")
      .dropDuplicates("a", "b", "c")
      .groupBy("c").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // semantic orphans: schema-labeled entities with no semantic edge in
    // either direction (distinct unions of the compact sets)
    val endpointIds = partials.filter(col("kind") === "endpoint")
      .select(col("a").as("id")).distinct()
    val semOrphans = entities.filter(QaEvaluator.schemaEntity(col("labels")))
      .select("id").join(endpointIds, Seq("id"), "left_anti").count()

    def plus(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] =
      (x.keySet ++ y.keySet).map(k => k -> (x.getOrElse(k, 0L) + y.getOrElse(k, 0L))).toMap
    QaEvaluator.verdict(chunkStats,
      labels = plus(sums("label"), entLabels),
      rels = plus(sums("rel"), semRels),
      orphans = sums("orphans").values.sum,
      mismatches = sums("mismatches").values.sum,
      semOrphans = semOrphans,
      thresholds)
  }

  private def emptyPartials(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Int, String, String, String, String, String, Long)]
      .toDF("group", "part_id", "fp", "kind", "a", "b", "c", "n")
  }
}
