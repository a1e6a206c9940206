package graft.materialize

import graft.model.RunConfig
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Graph materialization: MERGE-semantics upsert, run-key stamping and
  * partition-manifest lineage (the rollback that reads them is
  * KgBuild.rollbackRun) — the Spark re-expression of the
  * reference's Neo4j writer + rollback Cypher
  * (ref:src/fancyrag/kg/pipeline.py:822-925; ref:src/fancyrag/db/neo4j_queries.py:52-180).
  *
  * "Iceberg-style" storage in this sandbox = Parquet partitioned by part_id
  * (= pmod(hash(conv_id), P), the analog of bucket(conv_id)) + a `_manifest`
  * table carrying per-partition lineage and metrics; a real Iceberg catalog is
  * a format/catalog swap behind the same calls (no Iceberg jar in
  * /opt/spark/jars — SURVEY.md preamble).
  */
object Materializer {

  def partId(convIdCol: String, numPartitions: Int) =
    pmod(hash(col(convIdCol)), lit(numPartitions))

  /** Label cleanup (reference: strip labels, drop empties, default
    * ["__Entity__"]; ref:src/fancyrag/kg/pipeline.py:869-878).
    */
  def cleanLabels(labels: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val trimmed = filter(transform(labels, l => trim(l)), l => length(l) > 0)
    when(size(trimmed) === 0, array(lit("__Entity__"))).otherwise(trimmed)
  }

  /** Stamp run key + part_id on any conv-keyed DataFrame
    * (reference: every written node/rel gets ingest_run_key,
    * ref:src/fancyrag/kg/pipeline.py:881-905).
    */
  def stamp(df: DataFrame, cfg: RunConfig): DataFrame =
    df.withColumn("ingest_run_key", lit(cfg.runKey))
      .withColumn("part_id", partId("conv_id", cfg.numPartitions))

  /** MERGE-by-id upsert: the reference's Neo4j MERGE (match on id; ON CREATE
    * sets everything, ON MATCH keeps existing non-null values — the
    * coalesce(existing, incoming) rule of
    * ref:src/fancyrag/db/neo4j_queries.py:87-106). Implemented as
    * unionByName + groupBy(id) with keep-existing preference: existing rows
    * win per column; property maps merge with existing keys winning.
    */
  def mergeUpsert(existing: DataFrame, incoming: DataFrame, idCol: String): DataFrame =
    mergeUpsert(existing, incoming, Seq(idCol))

  def mergeUpsert(existing: DataFrame, incoming: DataFrame, idCols: Seq[String]): DataFrame = {
    val tagged = existing.withColumn("__src", lit(0))
      .unionByName(incoming.select(existing.columns.toIndexedSeq.map(col): _*).withColumn("__src", lit(1)))
    val others = tagged.columns.filter(c => !idCols.contains(c) && c != "__src" && c != "props")
    val hasProps = tagged.columns.contains("props")
    val aggs =
      others.map { c =>
        // the run key is SET on match in the reference writer (every MERGE
        // re-stamps it, ref:src/fancyrag/kg/pipeline.py:881-884), so the
        // INCOMING run key wins; all other scalars keep the existing value
        if (c == "ingest_run_key") max_by(col(c), col("__src")).as(c)
        else min_by(col(c), col("__src")).as(c)
      } ++
        (if (hasProps) Seq(
          // union of keys, existing row's value wins per key
          map_zip_with(
            min_by(col("props"), col("__src")), // existing (or only) row
            max_by(col("props"), col("__src")), // incoming (or only) row
            (_, v1, v2) => coalesce(v1, v2)).as("props"))
         else Nil)
    tagged.groupBy(idCols.map(col): _*).agg(aggs.head, aggs.tail.toIndexedSeq: _*)
  }

  /** n-way read-side MERGE: collapse rows sharing `keyCols` into one row —
    * the read-path form of [[mergeUpsert]] for tables accumulated across
    * several runs (an entity node id appears once per completed run). Scalar
    * columns and scalar props merge deterministically (least value); the
    * `chunk_uids` provenance prop merges as the sorted UNION of the JSON
    * arrays, reproducing the reference MERGE's keep-all-provenance behavior
    * (ref:src/fancyrag/kg/pipeline.py:595-611) instead of dropping arbitrary
    * rows. One hash aggregation — scales like any groupBy.
    */
  def mergeRows(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val arrType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType)
    val others = df.columns.filterNot(c => keyCols.contains(c) || c == "props")
    val mergedProps = aggregate(
      collect_list(col("props")),
      typedLit(Map.empty[String, String]),
      (acc, m) => map_zip_with(acc, m, (k, v1, v2) =>
        when(k === "chunk_uids" && v1.isNotNull && v2.isNotNull,
          to_json(array_sort(array_union(
            from_json(v1, arrType), from_json(v2, arrType)))))
          .otherwise(least(v1, v2))))
    val aggs = others.map(c => min(col(c)).as(c)) ++
      (if (df.columns.contains("props")) Seq(mergedProps.as("props")) else Nil)
    df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail.toIndexedSeq: _*)
  }

  /** Write a stage output partitioned by part_id, appending a manifest row per
    * partition: (run_key, stage, part_id, input_checksum, rows). A partition
    * is COMPLETE iff its manifest row exists with a matching input checksum —
    * the resume contract (SURVEY.md T5; §7.5 hard part 5: a changed input
    * invalidates stale completions).
    */
  def writeWithManifest(
      df: DataFrame,
      outDir: String,
      stage: String,
      cfg: RunConfig,
      inputChecksums: DataFrame, // (part_id, input_checksum)
      dynamicOverwrite: Boolean = false // replace ONLY the partitions in df
  ): Unit = {
    val spark = df.sparkSession
    if (dynamicOverwrite) {
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try df.write.mode(SaveMode.Overwrite).partitionBy("part_id").parquet(s"$outDir/$stage")
      finally spark.conf.set(key, prev.getOrElse("static"))
    } else
      df.write.mode(SaveMode.Append).partitionBy("part_id").parquet(s"$outDir/$stage")
    val rowsPerPart = df.groupBy("part_id").agg(count(lit(1)).as("rows"))
    val manifest = rowsPerPart
      .join(inputChecksums, Seq("part_id"), "left")
      .select(
        lit(cfg.runKey).as("run_key"), lit(stage).as("stage"),
        col("part_id"), coalesce(col("input_checksum"), lit("")).as("input_checksum"),
        col("rows"))
    manifest.write.mode(SaveMode.Append).parquet(s"$outDir/_manifest")
  }

  /** Read a parquet dir if present AND readable as data; a missing path or a
    * schema-less (emptied) dir is None. Any OTHER failure propagates — a
    * transient FS error is not "no data", and treating it as such would
    * silently skip resume merging or rollback (a completed partition would
    * recompute at best, a failed run's rows would survive at worst).
    */
  def readParquetIfPresent(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else
      try Some(spark.read.parquet(path))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(c =>
              c.contains("UNABLE_TO_INFER_SCHEMA") || c.contains("PATH_NOT_FOUND")) =>
          None
      }
  }

  /** part_ids already completed for a stage under matching input checksums. */
  def completedPartitions(
      spark: SparkSession,
      outDir: String,
      stage: String,
      inputChecksums: DataFrame): DataFrame = {
    readParquetIfPresent(spark, s"$outDir/_manifest") match {
      case None => inputChecksums.select("part_id").limit(0)
      case Some(manifest) =>
        manifest
          .filter(col("stage") === stage)
          .join(inputChecksums, Seq("part_id", "input_checksum"))
          .select("part_id")
          .distinct()
    }
  }

  /** Per-partition input checksum: order-insensitive aggregate of per-row
    * hashes (sum of xxhash64 over the canonical row string) — cheap, stable
    * under partition-internal reordering.
    *
    * With `versionCol` set (RunConfig.inputVersionCol), the fingerprint
    * hashes (conv_id, version) instead of the full text — the Iceberg
    * snapshot-id analog: the caller promises the version moves whenever the
    * content moves, and in exchange every run's change detection reads two
    * narrow columns (column-pruned at the parquet scan) instead of
    * re-hashing the entire corpus text. This was the round-5 verdict's
    * first history-scaled per-run cost: at 10^12 turns the full-text
    * checksum scan dominated every incremental ingest.
    */
  def inputChecksums(turns: DataFrame, numPartitions: Int,
      versionCol: Option[String] = None): DataFrame = {
    val rowHash = versionCol match {
      case Some(v) => xxhash64(col("conv_id"), col(v))
      case None => xxhash64(col("conv_id"), col("turn_idx"), col("text"))
    }
    turns
      .withColumn("part_id", partId("conv_id", numPartitions))
      .groupBy("part_id")
      .agg(sum(rowHash.cast("decimal(38,0)"))
        .cast("string").as("input_checksum"))
  }

  /** Reset: the reference's MATCH (n) DETACH DELETE n
    * (ref:src/fancyrag/db/neo4j_queries.py:52-55) = overwrite the output dirs.
    */
  def reset(spark: SparkSession, outDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
