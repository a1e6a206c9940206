package graft

import java.nio.file.Files

import graft.app.KgBuild
import graft.materialize.Materializer
import graft.model.RunConfig
import graft.source.TranscriptGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Resume + rollback semantics (FIXTURES.md §7, SURVEY.md T5):
  * a killed run resumes without recomputing completed partitions and the
  * final output equals an uninterrupted run's.
  */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  val NumConvs = 12L
  lazy val cfg = RunConfig(runKey = "kg-build:resume-test", numPartitions = 4)

  private def tripleSet(dir: String): Set[(String, String, String)] = {
    val nodes = spark.read.parquet(s"$dir/nodes").dropDuplicates("id")
    val edges = spark.read.parquet(s"$dir/edges")
    KgBuild.tripleView(nodes, edges).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
  }

  test("kill-after-partial-run resumes only pending partitions; output identical") {
    val turns = TranscriptGen.table(spark, NumConvs).toDF().cache()
    val full = Files.createTempDirectory("graft-full").toString
    val part = Files.createTempDirectory("graft-part").toString

    // uninterrupted run
    val qaFull = KgBuild.run(spark, turns, cfg, full)
    assert(qaFull.status == "pass")

    // simulate a killed run: first pass only saw 2 of 4 partitions' convs
    val partIds = turns
      .withColumn("part_id", Materializer.partId("conv_id", cfg.numPartitions))
    val firstHalf = partIds.filter(col("part_id") < 2).drop("part_id")
    KgBuild.run(spark, firstHalf, cfg, part)
    val manifestAfterKill = spark.read.parquet(s"$part/_manifest")
      .filter(col("stage") === "nodes")
      .select("part_id").distinct().count()
    assert(manifestAfterKill == 2)

    // resume with the FULL input: completed partitions must be skipped
    KgBuild.run(spark, turns, cfg, part)
    val manifest = spark.read.parquet(s"$part/_manifest")
      .filter(col("stage") === "nodes")
      .groupBy("part_id").count()
    // each partition completed exactly once (no recompute of the first half)
    assert(manifest.filter(col("count") > 1).count() == 0)
    assert(manifest.count() == 4)

    assert(tripleSet(part) == tripleSet(full))
  }

  test("a changed input checksum invalidates the completed partition") {
    val turns = TranscriptGen.table(spark, 6L).toDF().cache()
    val dir = Files.createTempDirectory("graft-inval").toString
    KgBuild.run(spark, turns, cfg, dir)
    // mutate one conversation's text => its partition checksum changes
    val mutated = turns.withColumn("text",
      when(col("conv_id") === "conv-000002", concat(col("text"), lit(" EDITED")))
        .otherwise(col("text")))
    val checks = Materializer.inputChecksums(mutated, cfg.numPartitions)
    val done = Materializer.completedPartitions(spark, dir, "nodes", checks)
    val changedPartId = mutated.filter(col("conv_id") === "conv-000002")
      .select(Materializer.partId("conv_id", cfg.numPartitions).as("p"))
      .distinct().collect().head.getInt(0)
    assert(!done.collect().map(_.getInt(0)).contains(changedPartId))
  }

  test("per-partition metrics rows are written alongside the manifest") {
    val turns = TranscriptGen.table(spark, 8L).toDF().cache()
    val dir = Files.createTempDirectory("graft-metrics").toString
    KgBuild.run(spark, turns, cfg, dir)
    val metrics = spark.read.parquet(s"$dir/_metrics")
    assert(metrics.columns.toSet == Set("part_id", "rel_type", "rows", "run_key"))
    // metrics row totals agree with the materialized edge table
    val fromMetrics = metrics.groupBy("rel_type")
      .agg(sum("rows").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromEdges = spark.read.parquet(s"$dir/edges")
      .groupBy("rel_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromMetrics == fromEdges)
  }

  test("extreme long-conversation skew: a 10k-turn conversation completes and stays correct") {
    import spark.implicits._
    // one monster conversation + a few normal ones — the fused group pass
    // must handle the hot group in one task without spilling over limits
    val monster = graft.source.TranscriptGen.conversation(0L).map(_.turn) // ~hot conv
    val big = (0 until 10000).map { i =>
      val t = monster(i % monster.size)
      t.copy(conv_id = "conv-monster", turn_idx = i)
    }
    val normal = (1L to 4L).flatMap(c => graft.source.TranscriptGen.conversation(c).map(_.turn))
    val turns = (big ++ normal).toDF()
    val g = KgBuild.buildGraph(turns, cfg)
    val mism = graft.qa.QaEvaluator.checksumMismatches(turns, g.turnChecksums).count()
    assert(mism == 0)
    assert(g.chunks.filter(col("conv_id") === "conv-monster").count() > 100)
    assert(g.triples.count() > 0)
    spark.catalog.clearCache()
  }

  test("node write path is MERGE-clean on disk: recompute keeps content stable, no dup ids") {
    val turns = TranscriptGen.table(spark, 8L).toDF().cache()
    val dir = Files.createTempDirectory("graft-compact").toString
    KgBuild.run(spark, turns, cfg, dir)
    def snapshot() = spark.read.parquet(s"$dir/nodes")
      .drop("ingest_run_key") // re-stamped per run by MERGE (SET-on-match semantics)
      .collect().map(_.toString).sorted.toSeq
    val before = snapshot()
    // no duplicate (part_id, id) rows on disk — MERGE-clean without read-side dedupe
    assert(spark.read.parquet(s"$dir/nodes")
      .groupBy("part_id", "id").count().filter(col("count") > 1).count() == 0)
    // force full recompute: drop the completion manifest, rerun under a new key
    val fs = new org.apache.hadoop.fs.Path(s"$dir/_manifest")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_manifest"), true)
    KgBuild.run(spark, turns, cfg.copy(runKey = "kg-build:resume-test-rerun"), dir)
    assert(snapshot() == before, "recompute must leave node content unchanged")
    assert(spark.read.parquet(s"$dir/nodes")
      .groupBy("part_id", "id").count().filter(col("count") > 1).count() == 0)
  }

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listFiles(dir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(dir)
    if (!fs.exists(p)) Set.empty
    else {
      val it = fs.listFiles(p, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().getPath.toString
      b.result()
    }
  }

  test("QA fail -> rollback -> retry -> pass: graph identical to an uninterrupted run") {
    val turns = TranscriptGen.table(spark, 10L).toDF().cache()
    val clean = Files.createTempDirectory("graft-gate-clean").toString
    val dir = Files.createTempDirectory("graft-gate").toString
    assert(KgBuild.run(spark, turns, cfg.copy(runKey = "kg:gate-clean"), clean).status == "pass")

    // force the gate to fail (thresholds an all-green graph can't meet)
    val qaBad = KgBuild.run(spark, turns, cfg.copy(runKey = "kg:gate-bad"), dir,
      graft.qa.QaEvaluator.QaThresholds(maxMissingEmbeddings = -1))
    assert(qaBad.status == "fail")
    // rollback ran: no row of the failed run survives in any stage, and the
    // partitioned stage dirs keep their part_id= layout (no bare data files
    // at the root that would break partition discovery on the retry)
    KgBuild.PartitionedStages.foreach { stage =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$stage")
      if (fsOf(dir).exists(p)) {
        fsOf(dir).listStatus(p).foreach { st =>
          assert(!(st.isFile && st.getPath.getName.endsWith(".parquet")),
            s"$stage: unpartitioned data file ${st.getPath} after rollback")
        }
        val remaining = try spark.read.parquet(p.toString)
          .filter(col("ingest_run_key") === "kg:gate-bad").count()
        catch { case _: Throwable => 0L } // empty dir = rolled back
        assert(remaining == 0, s"$stage still holds failed-run rows")
      }
    }
    // the failed run's completion markers are gone (retry must recompute)
    val manifest = spark.read.parquet(s"$dir/_manifest")
    assert(manifest.count() == 0, "rolled-back partitions kept completion rows")

    // retry into the SAME directory with sane thresholds
    val qa2 = KgBuild.run(spark, turns, cfg.copy(runKey = "kg:gate-retry"), dir)
    assert(qa2.status == "pass")
    assert(tripleSet(dir) == tripleSet(clean))
    assert(spark.read.parquet(s"$dir/nodes")
      .groupBy("part_id", "id").count().filter(col("count") > 1).count() == 0)
    // completedPartitions resolves every NON-EMPTY partition for a
    // same-input rerun (a hash partition with no conversations never gets a
    // manifest row)
    val checks = Materializer.inputChecksums(turns, cfg.numPartitions)
    val nonEmptyParts = turns
      .select(Materializer.partId("conv_id", cfg.numPartitions)).distinct().count()
    assert(Materializer.completedPartitions(spark, dir, "nodes", checks).count() ==
      nonEmptyParts)
  }

  test("targeted rollback: a 1-partition failed run rewrites only that partition") {
    import spark.implicits._
    val turns = TranscriptGen.table(spark, 12L).toDF().cache()
    val dir = Files.createTempDirectory("graft-rbtgt").toString
    assert(KgBuild.run(spark, turns, cfg.copy(runKey = "kg:tgt-a"), dir).status == "pass")

    // extra conversations confined to ONE partition: probe candidate ids
    val hotPart = 1
    val extraIds = (0 until 100).map(i => s"conv-extra-$i").toDF("conv_id")
      .withColumn("p", Materializer.partId("conv_id", cfg.numPartitions))
      .collect().filter(_.getInt(1) == hotPart).map(_.getString(0)).take(2).toSeq
    assert(extraIds.size == 2)
    val extraTurns = extraIds.zipWithIndex.flatMap { case (id, i) =>
      graft.source.TranscriptGen.conversation(100L + i).map(_.turn.copy(conv_id = id))
    }.toDF()
    val before = KgBuild.PartitionedStages.map { s =>
      s -> (0 until cfg.numPartitions).map(p => p -> listFiles(s"$dir/$s/part_id=$p")).toMap
    }.toMap

    // failed run touching only hotPart
    val qaBad = KgBuild.run(spark, turns.unionByName(extraTurns),
      cfg.copy(runKey = "kg:tgt-bad"), dir,
      graft.qa.QaEvaluator.QaThresholds(maxMissingEmbeddings = -1))
    assert(qaBad.status == "fail")

    // every untouched partition's files are bit-for-bit the same listing;
    // rollback cost scaled with the failed run, not the table
    KgBuild.PartitionedStages.foreach { s =>
      (0 until cfg.numPartitions).filter(_ != hotPart).foreach { p =>
        assert(listFiles(s"$dir/$s/part_id=$p") == before(s)(p),
          s"untouched partition $s/part_id=$p was rewritten")
      }
    }
    // no failed-run rows anywhere; touched partition's completion rows gone
    assert(spark.read.parquet(s"$dir/nodes")
      .filter(col("ingest_run_key") === "kg:tgt-bad").count() == 0)
    val manifest = spark.read.parquet(s"$dir/_manifest")
    assert(manifest.filter(col("run_key") === "kg:tgt-bad").count() == 0)
    assert(manifest.filter(col("part_id") === hotPart).count() == 0,
      "touched partition must lose ALL completion rows (MERGE re-stamp semantics)")

    // retry the same widened input: recomputes exactly hotPart, passes, and
    // matches a from-scratch run over the widened input
    val qa2 = KgBuild.run(spark, turns.unionByName(extraTurns),
      cfg.copy(runKey = "kg:tgt-retry"), dir)
    assert(qa2.status == "pass")
    val freshDir = Files.createTempDirectory("graft-rbtgt-fresh").toString
    assert(KgBuild.run(spark, turns.unionByName(extraTurns),
      cfg.copy(runKey = "kg:tgt-fresh"), freshDir).status == "pass")
    assert(tripleSet(dir) == tripleSet(freshDir))
  }

  test("mid-rollback crash: marker replay recovers — no false-complete partition, kept rows survive") {
    import spark.implicits._
    val turns = TranscriptGen.table(spark, 12L).toDF().cache()
    val dir = Files.createTempDirectory("graft-rbcrash").toString
    assert(KgBuild.run(spark, turns, cfg.copy(runKey = "kg:crash-a"), dir).status == "pass")

    // widen the input inside ONE partition so the "failed" run touches only it
    val hotPart = 1
    val extraIds = (0 until 100).map(i => s"conv-xtra-$i").toDF("conv_id")
      .withColumn("p", Materializer.partId("conv_id", cfg.numPartitions))
      .collect().filter(_.getInt(1) == hotPart).map(_.getString(0)).take(2).toSeq
    assert(extraIds.size == 2)
    val extraTurns = extraIds.zipWithIndex.flatMap { case (id, i) =>
      graft.source.TranscriptGen.conversation(200L + i).map(_.turn.copy(conv_id = id))
    }.toDF()
    val widened = turns.unionByName(extraTurns).cache()
    assert(KgBuild.run(spark, widened, cfg.copy(runKey = "kg:crash-bad"), dir)
      .status == "pass")

    // Simulate: QA declared kg:crash-bad failed and the compensating
    // rollback CRASHED mid-flight, at the worst reachable state under the
    // marker-first/manifest-first ordering:
    //   marker written, manifest invalidated, nodes fully swapped, and the
    //   edges swap interrupted BETWEEN delete and rename (kept rows exist
    //   only in edges.rbtmp). chunks/turn_checksums untouched.
    val badKeys = Seq("kg:crash-bad")
    val touched = spark.read.parquet(s"$dir/_manifest")
      .filter(col("run_key") === "kg:crash-bad")
      .select("part_id").distinct().collect().map(_.getInt(0)).toSeq.sorted
    assert(touched == Seq(hotPart))
    KgBuild.writeRollbackMarker(spark, dir, badKeys, touched)
    KgBuild.invalidateManifest(spark, dir, badKeys, touched)
    KgBuild.rollbackStagePartitions(spark, dir, "nodes",
      badKeys.toDF("ingest_run_key"), touched)
    val edgesPath = s"$dir/edges"
    val keptEdges = spark.read.parquet(edgesPath)
      .filter(col("part_id") === hotPart &&
        col("ingest_run_key") =!= "kg:crash-bad")
      .localCheckpoint() // detach from the files we are about to delete
    assert(keptEdges.count() > 0, "fixture: partition must hold kept good-run rows")
    keptEdges.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("part_id").parquet(s"$edgesPath.rbtmp")
    fsOf(dir).delete(new org.apache.hadoop.fs.Path(s"$edgesPath/part_id=$hotPart"), true)

    // THE invariant the reordering buys: at every crash point, the touched
    // partition has NO surviving completion row (recompute, never skip)
    val midManifest = spark.read.parquet(s"$dir/_manifest")
    assert(midManifest.filter(col("part_id") === hotPart).count() == 0,
      "crash window exposed a false-complete partition")
    // and the crash really did leave half-cleaned stages behind
    assert(spark.read.parquet(s"$dir/chunks")
      .filter(col("ingest_run_key") === "kg:crash-bad").count() > 0)

    // next run replays the marker, restores the staged kept rows, recomputes
    val qa = KgBuild.run(spark, widened, cfg.copy(runKey = "kg:crash-retry"), dir)
    assert(qa.status == "pass")
    assert(!fsOf(dir).exists(new org.apache.hadoop.fs.Path(s"$dir/_rollback_pending")))
    KgBuild.PartitionedStages.foreach { stage =>
      assert(!fsOf(dir).exists(new org.apache.hadoop.fs.Path(s"$dir/$stage.rbtmp")),
        s"$stage.rbtmp left behind")
      assert(spark.read.parquet(s"$dir/$stage")
        .filter(col("ingest_run_key") === "kg:crash-bad").count() == 0,
        s"$stage still holds crashed-rollback run rows")
    }
    // full triple set: identical to an uninterrupted fresh run on the same input
    val freshDir = Files.createTempDirectory("graft-rbcrash-fresh").toString
    assert(KgBuild.run(spark, widened, cfg.copy(runKey = "kg:crash-fresh"), freshDir)
      .status == "pass")
    assert(tripleSet(dir) == tripleSet(freshDir))
    assert(spark.read.parquet(s"$dir/nodes")
      .groupBy("part_id", "id").count().filter(col("count") > 1).count() == 0)
  }

  test("rollback removes exactly the bad run's rows") {
    import spark.implicits._
    val turns = TranscriptGen.table(spark, 6L).toDF().cache()
    val dir = Files.createTempDirectory("graft-rb").toString
    KgBuild.run(spark, turns, cfg, dir)
    val before = spark.read.parquet(s"$dir/nodes").count()
    assert(before > 0)
    KgBuild.rollbackStage(spark, dir, "nodes", Seq(cfg.runKey).toDF("ingest_run_key"))
    // a fully-rolled-back partitioned stage has no data files left at all
    // (the layout-preserving rewrite emits no partition dirs for zero rows)
    val remaining =
      try spark.read.parquet(s"$dir/nodes").count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    assert(remaining == 0)
  }

  private def fullQa(dir: String, turns: org.apache.spark.sql.DataFrame,
      thresholds: graft.qa.QaEvaluator.QaThresholds = graft.qa.QaEvaluator.QaThresholds()) = {
    val allNodes = Materializer.mergeRows(spark.read.parquet(s"$dir/nodes"), Seq("id"))
    val allEdges = Materializer.mergeRows(
      spark.read.parquet(s"$dir/edges"), Seq("src", "dst", "rel_type"))
    val allChunks = spark.read.parquet(s"$dir/chunks").dropDuplicates("chunk_uid")
    val allChecksums = spark.read.parquet(s"$dir/turn_checksums")
      .dropDuplicates("conv_id", "turn_idx")
    graft.qa.QaEvaluator.evaluate(turns, allChecksums, allChunks, allNodes, allEdges, thresholds)
  }

  test("version-column fingerprinting detects changes without reading the text") {
    import org.apache.spark.sql.functions.{col => c}
    val turns = TranscriptGen.table(spark, 8L).toDF()
      .withColumn("src_version", lit(1L)).cache()
    val cfgV = cfg.copy(runKey = "kg:ver-1", inputVersionCol = Some("src_version"))
    val dir = Files.createTempDirectory("graft-vercol").toString
    assert(KgBuild.run(spark, turns, cfgV, dir).status == "pass")

    // bumping one conversation's version invalidates exactly its partition
    val bumped = turns.withColumn("src_version",
      when(c("conv_id") === "conv-000002", lit(2L)).otherwise(lit(1L)))
    val checks = Materializer.inputChecksums(bumped, cfg.numPartitions, Some("src_version"))
    val done = Materializer.completedPartitions(spark, dir, "nodes", checks)
      .collect().map(_.getInt(0)).toSet
    val changedPart = bumped.filter(c("conv_id") === "conv-000002")
      .select(Materializer.partId("conv_id", cfg.numPartitions).as("p"))
      .distinct().collect().head.getInt(0)
    val allParts = turns
      .select(Materializer.partId("conv_id", cfg.numPartitions).as("p"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(!done.contains(changedPart), "bumped version must invalidate its partition")
    assert(done == allParts - changedPart, "unbumped partitions must stay complete")

    // the Iceberg-snapshot-analog contract: the fingerprint scan reads ONLY
    // (conv_id, version) — the corpus text column never leaves the parquet
    // footer (at 10^12 turns the full-text checksum scan was the last
    // per-run cost that grew with the history)
    val pdir = Files.createTempDirectory("graft-vercol-pq").toString + "/turns"
    bumped.write.parquet(pdir)
    val plan = Materializer
      .inputChecksums(spark.read.parquet(pdir), cfg.numPartitions, Some("src_version"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("src_version") && !readSchema.contains("text"),
      s"fingerprint scan must not read the text column: $readSchema")
  }

  test("incremental QA equals full QA — fresh run, appended partition, changed partition") {
    val turns = TranscriptGen.table(spark, 12L).toDF().cache()
    val dir = Files.createTempDirectory("graft-incqa").toString
    val c = cfg.copy(runKey = "kg:incqa-1")

    // fresh run (cache seeded from scratch)
    assert(KgBuild.run(spark, turns, c, dir).status == "pass")
    val inc1 = graft.qa.IncrementalQa.evaluate(spark, dir, turns, c)
    assert(inc1 == fullQa(dir, turns), "fresh-run incremental QA diverged from full QA")

    // second run: one conversation's text changes -> exactly one partition
    // is invalidated and rebuilt; the incremental evaluation must recompute
    // just its partials yet still equal the full evaluation
    val mutated = turns.withColumn("text",
      when(col("conv_id") === "conv-000003", concat(col("text"), lit(" CHANGED")))
        .otherwise(col("text"))).cache()
    assert(KgBuild.run(spark, mutated, c.copy(runKey = "kg:incqa-2"), dir).status == "pass")
    val inc2 = graft.qa.IncrementalQa.evaluate(spark, dir, mutated, c)
    assert(inc2 == fullQa(dir, mutated), "changed-partition incremental QA diverged from full QA")
  }

  test("incremental QA recomputes the orphan partial when only a partition's edges change") {
    val turns = TranscriptGen.table(spark, 12L).toDF().cache()
    val dir = Files.createTempDirectory("graft-incqa-edges").toString
    val c = cfg.copy(runKey = "kg:incqa-edges")
    assert(KgBuild.run(spark, turns, c, dir).status == "pass")

    // rewrite one partition's edges without its HAS_CHUNK rows; its chunks
    // (and so the chunk-keyed partials) stay as they are
    val part = spark.read.parquet(s"$dir/chunks").select("part_id").distinct()
      .orderBy("part_id").head().getInt(0)
    val edgeDir = s"$dir/edges/part_id=$part"
    val kept = spark.read.parquet(edgeDir).filter(col("rel_type") =!= "HAS_CHUNK")
      .localCheckpoint()
    kept.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(edgeDir)
    val partChunks = spark.read.parquet(s"$dir/chunks").filter(col("part_id") === part)
      .dropDuplicates("chunk_uid").count()
    assert(partChunks > 0)

    val qa = graft.qa.IncrementalQa.evaluate(spark, dir, turns, c)
    assert(qa.anomalies("orphan_chunks") == partChunks,
      "a cached orphan partial survived a change to its partition's edges")
    assert(qa.status == "fail")
    assert(qa == fullQa(dir, turns), "edges-only incremental QA diverged from full QA")
  }

  test("incremental run over one changed partition scans only that partition's stage files") {
    // 40 conversations (including the hot 20x one) so the unchanged
    // partitions' bulk clearly dominates the footer/listing slack
    val turns = TranscriptGen.table(spark, 40L).toDF().cache()
    val dir = Files.createTempDirectory("graft-incscan").toString
    assert(KgBuild.run(spark, turns, cfg.copy(runKey = "kg:scan-1"), dir).status == "pass")

    // change a conversation OUTSIDE the hot conv-0's partition, so the
    // unchanged bulk (which includes the 20x monster conversation) clearly
    // dominates the delta and the byte budget can discriminate
    val partOf: String => Int = c => spark.range(1)
      .withColumn("conv_id", lit(c))
      .select(Materializer.partId("conv_id", cfg.numPartitions).as("p"))
      .collect().head.getInt(0)
    val hotPart = partOf("conv-000000")
    val changedConv = (1 until 40).map(i => f"conv-$i%06d")
      .find(c => partOf(c) != hotPart).get
    val mutated = turns.withColumn("text",
      when(col("conv_id") === changedConv, concat(col("text"), lit(" CHANGED")))
        .otherwise(col("text"))).cache()
    val changedPart = mutated.filter(col("conv_id") === changedConv)
      .select(Materializer.partId("conv_id", cfg.numPartitions).as("p"))
      .distinct().collect().head.getInt(0)
    val filesBefore = KgBuild.PartitionedStages.map { s =>
      s -> listFiles(s"$dir/$s/part_id=$changedPart").size
    }.toMap
    def dirBytes(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = fsOf(dir)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }
    def fsBytesRead: Long = {
      import scala.jdk.CollectionConverters._
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
    }
    val changedBytesBefore = KgBuild.PartitionedStages
      .map(s => dirBytes(s"$dir/$s/part_id=$changedPart")).sum
    val smallTablesBefore = Seq("_manifest", "_metrics", "_qa_cache")
      .map(t => dirBytes(s"$dir/$t")).sum

    // capture every executed file scan during the second run
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          fileScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          fileScans(s.plan)
      }.flatten
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        fileScans(qe.executedPlan).foreach { f =>
          f.relation.location.rootPaths.headOption.foreach { rp =>
            scans.add(rp.toString -> f.metrics("numFiles").value)
          }
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val bytesBefore = fsBytesRead
    try {
      assert(KgBuild.run(spark, mutated, cfg.copy(runKey = "kg:scan-2"), dir).status == "pass")
      // listener bus is async: wait for the captured scan set to stabilize
      var last = -1
      var same = 0
      var iters = 0
      while (same < 3 && iters < 50) {
        Thread.sleep(200)
        if (scans.size == last) same += 1 else { same = 0; last = scans.size }
        iters += 1
      }
    } finally spark.listenerManager.unregister(listener)
    val bytesAfter = fsBytesRead
    val changedBytesAfter = KgBuild.PartitionedStages
      .map(s => dirBytes(s"$dir/$s/part_id=$changedPart")).sum
    val smallTablesAfter = Seq("_manifest", "_metrics", "_qa_cache")
      .map(t => dirBytes(s"$dir/$t")).sum
    val unchangedBytes = KgBuild.PartitionedStages.flatMap { s =>
      (0 until cfg.numPartitions).filter(_ != changedPart)
        .map(p => dirBytes(s"$dir/$s/part_id=$p"))
    }.sum
    // The budget allows each delta-partition file and compact side table to
    // be read a few times over (the QA partials read chunks twice and edges
    // three times; the cache is read for key listing and again for the
    // merge), plus footer/listing slack — but NOT the unchanged partitions'
    // bulk, which is asserted to dominate the slack so a history-scaled
    // read cannot hide inside the budget.
    val slack = 64L << 10
    val byteBudget = 3 * math.max(changedBytesBefore, changedBytesAfter) +
      2 * (smallTablesBefore + smallTablesAfter) + slack
    assert(unchangedBytes > slack * 2,
      s"test vacuous: unchanged partitions hold only $unchangedBytes bytes")
    // self-check that the budget DISCRIMINATES: had the run additionally
    // read the unchanged partitions' bulk, it would have failed
    assert(byteBudget < (bytesAfter - bytesBefore) + unchangedBytes,
      s"budget $byteBudget too loose to catch a full-history read " +
        s"(honest=${bytesAfter - bytesBefore} + unchanged=$unchangedBytes)")
    info(s"bytesRead=${bytesAfter - bytesBefore} budget=$byteBudget " +
      s"changed=${math.max(changedBytesBefore, changedBytesAfter)} " +
      s"small=${smallTablesBefore + smallTablesAfter} unchanged=$unchangedBytes")

    import scala.jdk.CollectionConverters._
    // 1. Every CAPTURED executed scan of a stage dir opened no more files
    //    than the changed partition holds. (AQE's empty-relation elimination
    //    can drop an already-executed subtree from the final plan — e.g. the
    //    zero-mismatch checksum join — so absence of a captured scan is not
    //    proof of absence; the bytes bound below covers those.)
    KgBuild.PartitionedStages.foreach { stage =>
      val bound = math.max(filesBefore(stage),
        listFiles(s"$dir/$stage/part_id=$changedPart").size)
      val totalFiles = (0 until cfg.numPartitions)
        .map(p => listFiles(s"$dir/$stage/part_id=$p").size).sum
      assert(totalFiles > bound, s"$stage: test vacuous — one partition holds all files")
      scans.asScala
        .filter(p => p._1.contains(dir) && p._1.contains(s"/$stage"))
        .foreach { case (path, n) =>
          assert(n <= bound,
            s"a scan of $path read $n files; the changed partition holds only " +
              s"$bound — a history-scaled read survived in the incremental path")
        }
    }
    // 2. TOTAL filesystem bytes read during the run are bounded by the
    //    changed partition + the compact side tables (manifest, metrics, QA
    //    cache) + footer/listing slack — far below the unchanged partitions'
    //    bulk, which a history-scaled read would have pulled in.
    assert(bytesAfter - bytesBefore <= byteBudget,
      s"run over one changed partition read ${bytesAfter - bytesBefore} bytes; " +
        s"delta-scaled budget is $byteBudget (unchanged partitions hold " +
        s"$unchangedBytes) — a history-scaled read survived")
  }
}
