package graft.app

import graft.canon.Resolver
import graft.chunk.ConvStage
import graft.functions.Embeddings
import graft.link.EntityLinker
import graft.materialize.Materializer
import graft.model.RunConfig
import graft.qa.{IncrementalQa, QaEvaluator}
import graft.qa.QaEvaluator.{QaResult, QaThresholds}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end KG construction: chunk -> extract -> link -> canonicalize ->
  * materialize, with QA gating and manifest-based resume — the Spark
  * re-expression of the reference's run_pipeline
  * (ref:src/fancyrag/kg/pipeline.py:1344-1546; DAG form
  * ref:pipelines/kg_ingest.yaml:40-94: splitter → embedder → extractor →
  * writer → resolver_exact).
  */
object KgBuild {

  final case class GraphTables(
      chunks: DataFrame, // chunk rows + embedding
      turnChecksums: DataFrame, // (conv_id, turn_idx, checksum)
      relations: DataFrame, // linked (conv_id, turn_idx, subj/pred/obj canon)
      nodes: DataFrame, // NodeRow-shaped
      edges: DataFrame, // EdgeRow-shaped
      triples: DataFrame, // distinct (subj, pred, obj) by canonical name
      // Releases the cached intermediates (fused per-conversation pass +
      // canonical table) once the caller has materialized what it needs.
      // Library operators must not leak storage into a long-lived session;
      // spark.catalog.clearCache() remains the blunt fallback.
      release: () => Unit = () => (),
      // Diagnostics: the measured-hot canon norms whose provenance
      // aggregation ran two-phase (empty = single-phase everywhere). Lets
      // tests assert the two-phase path was actually exercised end-to-end
      // instead of passing vacuously on a flat corpus.
      hotProvNorms: Seq[String] = Nil
  )

  val SemanticSource = "graft.kg_build.deterministic.v1"
  val EmbeddingDim = 64

  /** Pure-transform graph construction (no writes).
    *
    * Shuffle layout: ONE exchange on conv_id (the fused ConvStage groupByKey)
    * carries all per-conversation work — assembly, chunking, turn→chunk map,
    * checksums, extraction, anaphora; before the fusion the same work took 5
    * separate exchanges of the full turn set. Linking is broadcast (no
    * shuffle); only the entity-provenance groupBy and the final dedup add
    * exchanges, both over much smaller derived tables. This is the explicit
    * partition-by-conv_id the north_star's skew note calls for — a
    * conversation is the bounded unit of work, so partitions stay balanced at
    * any scale. Intermediates are persisted; callers drop them via the
    * returned [[GraphTables.release]] handle once the tables are consumed.
    */
  def buildGraph(turns: DataFrame, cfg: RunConfig): GraphTables = {
    val spark = turns.sparkSession

    // ---- fused per-conversation pass: ONE shuffle computes assembly,
    //      chunking, turn->chunk map, checksums, extraction, anaphora ----
    val artsDs = ConvStage.artifacts(turns, cfg.profile)
    val arts = artsDs.toDF()

    val chunksRaw = arts.select(col("conv_id"), explode(col("chunks")).as("c"))
      .select(col("conv_id"), col("c.chunk_uid"), col("c.seq"), col("c.index"),
        col("c.text"), col("c.checksum"), col("c.start"), col("c.end"),
        col("c.turn_idxs"))
    val chunks = Embeddings.withEmbedding(chunksRaw.drop("turn_idxs"), "text", EmbeddingDim)
    val turnChecksums = arts
      .select(col("conv_id"), explode(col("turn_checksums")).as("tc"))
      .select(col("conv_id"), col("tc.turn_idx"), col("tc.checksum"))
    // Mentions carry their containing chunk_uid out of the fused pass
    // (ConvStage.MentionOut) — entity provenance needs no turn→chunk join.
    val gazMentions = arts.select(explode(col("mentions")).as("m"))
      .select(col("m.m.*"), col("m.chunk_uid"))
    val relCands = arts.select(col("conv_id"), col("doc_checksum"),
      explode(col("rels")).as("r"))
      .select(col("conv_id"), col("doc_checksum"), col("r.turn_idx"),
        col("r.subj_norm"), col("r.pred"), col("r.obj_norm"), col("r.chunk_uid"))

    // ---- canonicalize: gazetteer CC fixpoint UNION data-derived candidates --
    // Out-of-dictionary candidate mentions that recur >= minCandidateSupport
    // become canonical entities in their own right (SURVEY X5: unmatched
    // mentions are candidate entities, not dropped). Candidate norms have no
    // alias-linkage evidence by construction (nothing connects two distinct
    // OOD norms), so their CC closure is the identity and is skipped; the
    // distributed fixpoint still resolves the gazetteer alias chains and the
    // minhash dedup graphs.
    val candMentions = arts.select(explode(col("candidates")).as("m"))
      .select(col("m.m.*"), col("m.chunk_uid"))
    val gazCanon = Resolver.canonicalEntities(spark)
    val mentions = gazMentions.unionByName(candMentions)
    // ONE vocab-sized aggregate feeds every per-norm decision the build
    // makes: candidate-entity support (candCanon below), the shuffled-link
    // heavy hitters, AND the provenance heavy hitters. Before round 6 those
    // were three separate measurement jobs — the provenance pass alone
    // re-scanned the persisted artifacts through the link join every build
    // (the round-5 verdict's documented fixed cost: bench e2e 4.93→5.50 s,
    // headline 206k→163-182k triples/s). The shuffle here moves one row per
    // (map partition, distinct norm) — partial aggregation — exactly like
    // EntityLinker.heavyHitters did, but once instead of up to three times,
    // and with no extra arts scan since candCanon needed this aggregate
    // anyway.
    val normStats = mentions
      .groupBy(col("norm"))
      .agg(
        count(lit(1)).as("__n"),
        count(when(col("label") === "__Candidate__", lit(1))).as("__n_cand"),
        min(when(col("label") === "__Candidate__", col("surface"))).as("__cand_name"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val candCanon = normStats
      .filter(col("__n_cand") >= cfg.minCandidateSupport)
      // A candidate's NORM can collide with a gazetteer norm even though its
      // SURFACE escaped the (case-sensitive) gazetteer scanner — e.g. the
      // all-caps case-variant "GLOBEX INC" normalizes to the dictionary norm
      // "globex inc". Without this anti-join the union would carry two
      // canonical rows for one norm and the left link join would fan out:
      // every mention/relation on that norm links twice (duplicate entity
      // nodes, doubled provenance). Colliding candidates fold into the
      // existing gazetteer row simply by being dropped here — the link join
      // resolves their norm through the gazetteer entry.
      .join(gazCanon.select(col("norm")), Seq("norm"), "left_anti")
      .select(col("norm"), col("norm").as("canon_norm"),
        col("__cand_name").as("canon_name"), lit("__Entity__").as("label"))
    val canonical = gazCanon
      .unionByName(candCanon)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Size-gate the linker's broadcast with an EXACT bound, not a hint-forced
    // guess: this count() doubles as the materialization of the persisted
    // canonical table (it feeds three link joins, so the scan is not wasted
    // work) and decides broadcast vs shuffled-salted join. The canonical side
    // is unbounded (it unions data-derived candidates), so an unconditional
    // broadcast hint would be an OOM at corpus scale — see EntityLinker's
    // scaladoc for the two regimes.
    val broadcastCanonical = canonical.count() <= cfg.broadcastCanonicalLimit

    // ---- skew measurement (link + provenance), driver-side off normStats --
    // Shuffled-regime link contract: salt only measured-hot probe keys in all
    // three link joins (mention norms and relation subj/obj norms come from
    // the same scans of the same turns, so one measurement covers all three
    // probes). Provenance contract: route only measured-hot canon groups
    // through the two-phase salted aggregation (see cappedProvenanceAgg).
    // Both hot sets derive from normStats: per-norm counts ARE the link
    // probe's distribution, and per-canon counts fold from them through the
    // STATIC gazetteer closure (driver-resident, ~240 rows; data-derived
    // candidates are their own canon), so no distributed pass over mentions
    // or linked mentions is needed. Semantics are pinned to
    // EntityLinker.heavyHitters by ExtractorSpec/PipelineSpec: same
    // total/parallelism threshold, same (count desc, key) order, same 64-key
    // cap. Under broadcast nothing partitions, so the link side is neither
    // measured nor salted.
    val parallelism = spark.sessionState.conf.numShufflePartitions
    val (hotNorms: Option[Seq[String]], hotProvNorms: Seq[String]) = {
      val gazMap = Resolver.canonicalNormMap(spark)
      val isGaz = col("norm").isin(gazMap.keys.toSeq: _*)
      // A mention links iff its norm is a gazetteer norm (colliding
      // candidates link through the gazetteer row) or a candidate norm at
      // support — linkedN is that mention count, 0 for norms that drop out.
      val linkedN = when(isGaz || col("__n_cand") >= cfg.minCandidateSupport,
        col("__n")).otherwise(lit(0L))
      val totals = normStats
        .agg(sum(col("__n")).as("ta"), sum(linkedN).as("tl")).first()
      val totAll = if (totals.isNullAt(0)) 0L else totals.getLong(0)
      val totLinked = if (totals.isNullAt(1)) 0L else totals.getLong(1)
      val thrAll = math.max(totAll / math.max(parallelism, 1), 1L)
      val thrLinked = math.max(totLinked / math.max(parallelism, 1), 1L)
      // Bounded collect: every gazetteer norm (dictionary-sized — needed to
      // fold canon-group counts exactly) plus norms over either threshold
      // (at most `parallelism` keys can exceed a total/parallelism bound).
      val hotRows = normStats
        .filter(isGaz || col("__n") > thrAll || linkedN > thrLinked)
        .select(col("norm"), col("__n"), linkedN.as("__ln"))
        .collect()
      val linkHot = hotRows.filter(_.getLong(1) > thrAll)
        .sortBy(r => (-r.getLong(1), r.getString(0)))
        .take(64).map(_.getString(0)).toSeq
      val provHot = hotRows
        .groupBy(r => gazMap.getOrElse(r.getString(0), r.getString(0)))
        .map { case (canon, rs) => canon -> rs.map(_.getLong(2)).sum }
        .filter(_._2 > math.max(thrLinked, cfg.saltProvenanceFloor)).toSeq
        .sortBy { case (canon, n) => (-n, canon) }
        .take(64).map(_._1)
      (if (broadcastCanonical) None else Some(linkHot), provHot)
    }
    normStats.unpersist()
    val linkSalt =
      if (broadcastCanonical) cfg.saltBuckets
      else math.max(cfg.saltBuckets, parallelism)
    val linkedMentions = EntityLinker
      .link(mentions, "norm", "mention_id", canonical, linkSalt,
        broadcastBuild = broadcastCanonical, hotKeys = hotNorms)
      .filter(col("canon_norm").isNotNull)
    val relsWithId = relCands.withColumn("rel_id",
      xxhash64(col("conv_id"), col("turn_idx"), col("subj_norm"), col("pred"), col("obj_norm")))
    val subjLinked = EntityLinker
      .link(relsWithId, "subj_norm", "rel_id", canonical, linkSalt,
        broadcastBuild = broadcastCanonical, hotKeys = hotNorms)
      .withColumnRenamed("canon_norm", "subj_canon_norm")
      .withColumnRenamed("canon_name", "subj_name")
      .withColumnRenamed("canon_label", "subj_label")
    val relations = EntityLinker
      .link(subjLinked, "obj_norm", "rel_id", canonical, linkSalt,
        broadcastBuild = broadcastCanonical, hotKeys = hotNorms)
      .withColumnRenamed("canon_norm", "obj_canon_norm")
      .withColumnRenamed("canon_name", "obj_name")
      .withColumnRenamed("canon_label", "obj_label")
      .filter(col("subj_canon_norm").isNotNull && col("obj_canon_norm").isNotNull)

    // ---- nodes ----
    def entId(label: org.apache.spark.sql.Column, norm: org.apache.spark.sql.Column) =
      concat(lit("ent:"), label, lit(":"), norm)

    val docNodes = arts.select(
      concat(lit("doc:"), col("conv_id")).as("id"),
      array(lit("Document")).as("labels"),
      col("conv_id").as("name"),
      map(lit("n_turns"), col("n_turns").cast("string")).as("props"),
      col("conv_id"))
    val chunkNodes = chunks.select(
      concat(lit("chunk:"), col("chunk_uid")).as("id"),
      array(lit("Chunk")).as("labels"),
      col("chunk_uid").as("name"),
      map(
        lit("seq"), col("seq").cast("string"),
        lit("index"), col("index").cast("string"),
        lit("checksum"), col("checksum")).as("props"),
      col("conv_id"))
    // entity provenance: sorted chunk_uids of the chunks whose turns mention
    // the entity (ref:_annotate_semantic_graph, pipeline.py:568-611);
    // the chunk_uid rode out of the fused pass on each mention row
    // (ConvStage.MentionOut), so provenance costs ZERO joins here — before
    // round 5 this was a shuffle join of two turn-scale tables
    // (linkedMentions x exploded turn→chunk map) on (conv_id, turn_idx).
    val mentionChunks = linkedMentions
    // git-SHA provenance stamp on semantic nodes/edges (F9,
    // ref:src/fancyrag/kg/pipeline.py:471-487) — only when the caller
    // resolved one, so the engine stays config-free by default
    val gitProp: Seq[org.apache.spark.sql.Column] =
      cfg.gitCommit.toSeq.flatMap(sha => Seq(lit("git_commit"), lit(sha)))
    // Provenance-skew contract (saltProvenanceFloor): collect_set does
    // not shrink under partial aggregation (its partial state IS the set),
    // so a stop entity's (canon, chunk_uid) pairs would all funnel through
    // one reducer before maxProvenanceChunkUids could apply. hotProvNorms
    // (measured above, off the same normStats aggregate that sized the
    // canonical table) marks the canon groups hot enough to straggle a
    // reducer; ONLY those groups' rows route through
    // [[cappedProvenanceAgg]]'s two-phase salted form. Relation endpoints
    // come from the same extraction pass over the same turns, so the one
    // measurement covers the semantic-edge aggregation too — a PROXY there:
    // edge groups key on (src, dst, rel_type), so a group hot only at the
    // RELATION level (both endpoints individually cool but one (subj, obj)
    // pair dominating) escapes the salt and keeps single-reducer collect_set
    // behavior. That group's state is still bounded by the cooler endpoint's
    // mention count (every relation row carries both endpoints, so
    // |group| <= min(endpoint counts) <= thrLinked for unsalted groups);
    // correctness is unaffected either way (PipelineSpec parity).
    val entityHot =
      if (hotProvNorms.isEmpty) None
      else Some(col("canon_norm").isin(hotProvNorms: _*))
    val edgeHot =
      if (hotProvNorms.isEmpty) None
      else Some(col("subj_canon_norm").isin(hotProvNorms: _*) ||
        col("obj_canon_norm").isin(hotProvNorms: _*))
    val entityNodes = cappedProvenanceAgg(
      mentionChunks,
      Seq(col("canon_label") -> "canon_label",
        col("canon_norm") -> "canon_norm",
        col("canon_name") -> "canon_name"),
      "chunk_uid", Seq("conv_id"), cfg.maxProvenanceChunkUids,
      entityHot, parallelism)
      .select(
        entId(col("canon_label"), col("canon_norm")).as("id"),
        array_distinct(array(col("canon_label"), lit("__Entity__"))).as("labels"),
        col("canon_name").as("name"),
        map(Seq(
          lit("semantic_source"), lit(SemanticSource),
          lit("chunk_uids"), to_json(col("chunk_uids"))) ++ gitProp: _*).as("props"),
        col("conv_id"))
    val nodes = Materializer.stamp(
      docNodes.unionByName(chunkNodes).unionByName(entityNodes), cfg)
      .drop("conv_id")

    // ---- edges ----
    val hasChunk = chunks.select(
      concat(lit("doc:"), col("conv_id")).as("src"),
      concat(lit("chunk:"), col("chunk_uid")).as("dst"),
      lit("HAS_CHUNK").as("rel_type"),
      map(lit("seq"), col("seq").cast("string")).as("props"),
      col("conv_id"))
    // chunk_uid is on the mention row (fused pass); the isNotNull filter
    // keeps the old inner-join semantics (a turn outside any chunk emits no
    // INGESTED_BY edge).
    val ingestedBy = linkedMentions
      .filter(col("canon_label") === "Operator" && col("chunk_uid").isNotNull)
      .select(
        concat(lit("chunk:"), col("chunk_uid")).as("src"),
        entId(col("canon_label"), col("canon_norm")).as("dst"),
        lit("INGESTED_BY").as("rel_type"),
        map(Seq(lit("semantic_source"), lit(SemanticSource)) ++ gitProp: _*).as("props"),
        col("conv_id"))
    // Semantic relationships carry full provenance like the reference's
    // _annotate_semantic_graph (ref:src/fancyrag/kg/pipeline.py:595-611):
    // sorted chunk_uids of the supporting chunks, the source document's
    // checksum, and the git commit — and are aggregated on the MERGE key
    // (src, dst, rel_type) so one relationship row carries the union of its
    // evidence (the writer's Neo4j MERGE semantics,
    // ref:src/fancyrag/db/neo4j_queries.py:108). chunk_uid and doc_checksum
    // rode out of the fused per-conversation pass, so this costs ONE
    // aggregation exchange, not extra joins.
    val semanticEdges = cappedProvenanceAgg(
      relations,
      Seq(entId(col("subj_label"), col("subj_canon_norm")) -> "src",
        entId(col("obj_label"), col("obj_canon_norm")) -> "dst",
        col("pred") -> "rel_type"),
      "chunk_uid", Seq("turn_idx", "doc_checksum", "conv_id"),
      cfg.maxProvenanceChunkUids, edgeHot, parallelism)
      .withColumnRenamed("doc_checksum", "document_checksum")
      .select(
        col("src"), col("dst"), col("rel_type"),
        map(Seq(
          lit("semantic_source"), lit(SemanticSource),
          lit("turn_idx"), col("turn_idx").cast("string"),
          lit("chunk_uids"), to_json(col("chunk_uids")),
          lit("document_checksum"), col("document_checksum")) ++ gitProp: _*).as("props"),
        col("conv_id"))
    val edges = Materializer.stamp(
      hasChunk.unionByName(ingestedBy).unionByName(semanticEdges), cfg)
      .drop("conv_id")

    val triples = relations
      .select(col("subj_name").as("subj"), col("pred"), col("obj_name").as("obj"))
      .distinct()

    GraphTables(chunks, turnChecksums, relations, nodes, edges, triples,
      release = () => { artsDs.unpersist(); canonical.unpersist(); () },
      hotProvNorms = hotProvNorms)
  }

  /** Capped provenance aggregation:
    * `slice(array_sort(collect_set(uid)), 1, cap)` per group plus `min` of
    * each companion column — executed as one hash aggregation when `hot` is
    * None, or in two phases when measured-hot groups exist: rows matching
    * `hot` are pre-aggregated per `pmod(xxhash64(uid), saltBuckets)` bucket
    * first, so no single reducer ever holds a stop entity's full uid set
    * (collect_set's partial state is the set itself — map-side combine does
    * not bound it; the salt does, at |group|/saltBuckets per reducer).
    *
    * Outputs are BYTE-IDENTICAL either way (pinned by PipelineSpec): the
    * bucket is a function of the uid, so every one of the globally smallest
    * `cap` uids has fewer than `cap` smaller uids in its own bucket and
    * survives the bucket-local slice; sorting the merged buckets and slicing
    * again yields exactly the global result, and min-of-bucket-mins is the
    * min. Cold groups keep salt 0 and emit one phase-1 row, so the second
    * exchange adds |groups| + |hot| x saltBuckets rows, each at most `cap`
    * uids — vocab-sized, not corpus-sized.
    *
    * @param groupCols (expression, output name) pairs — expressions may be
    *                  computed (e.g. the entity-id concat); phase 2 groups
    *                  by the output names
    * @param hot       boolean predicate over `rows` marking measured-hot
    *                  groups (see EntityLinker.heavyHitters); None = single
    *                  phase (measured flat, or salting disabled)
    */
  private[graft] def cappedProvenanceAgg(
      rows: DataFrame,
      groupCols: Seq[(org.apache.spark.sql.Column, String)],
      uidCol: String,
      minCols: Seq[String],
      cap: Int,
      hot: Option[org.apache.spark.sql.Column],
      saltBuckets: Int): DataFrame = {
    val groupExprs = groupCols.map { case (c, n) => c.as(n) }
    val mins = minCols.map(c => min(col(c)).as(c))
    hot match {
      case None =>
        rows.groupBy(groupExprs: _*)
          .agg(slice(array_sort(collect_set(col(uidCol))), 1, cap)
            .as("chunk_uids"), mins: _*)
      case Some(pred) =>
        val buckets = math.max(saltBuckets, 2)
        rows
          .withColumn("__psalt",
            when(pred, pmod(xxhash64(col(uidCol)), lit(buckets.toLong)))
              .otherwise(lit(0L)))
          .groupBy(groupExprs :+ col("__psalt"): _*)
          .agg(slice(array_sort(collect_set(col(uidCol))), 1, cap)
            .as("__part_uids"), mins: _*)
          .groupBy(groupCols.map(p => col(p._2)): _*)
          .agg(
            // array_distinct defends the merge against a `hot` predicate
            // that is not constant within a group (the same uid would then
            // land in two buckets and its duplicate could displace a
            // legitimate uid inside the cap). Both call sites pass
            // group-key-derived predicates, so this is belt-and-braces at
            // |hot| x S x cap cost, not a correctness dependency.
            slice(array_distinct(
              array_sort(flatten(collect_list(col("__part_uids"))))), 1, cap)
              .as("chunk_uids"),
            mins: _*)
    }
  }

  /** Materializing run with manifest-based resume and QA gating.
    * Only partitions whose manifest rows are missing or whose input checksum
    * changed are (re)computed; QA evaluates the union of all completed
    * partitions and a failure rolls the current run key back
    * (ref:src/fancyrag/kg/phases.py:359-430).
    */
  def run(
      spark: SparkSession,
      turns: DataFrame,
      cfg: RunConfig,
      outDir: String,
      thresholds: QaThresholds = QaThresholds()): QaResult = {
    // A crash inside a previous run's compensating rollback leaves a
    // write-ahead marker (see rollbackRun); replay it to a clean state
    // BEFORE reading the manifest, or the interrupted rollback's
    // half-cleaned stages would feed resume and QA.
    recoverPendingRollback(spark, outDir)
    val checks = Materializer.inputChecksums(turns, cfg.numPartitions, cfg.inputVersionCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val done = Materializer.completedPartitions(spark, outDir, "nodes", checks)
    val pending = turns
      .withColumn("part_id", Materializer.partId("conv_id", cfg.numPartitions))
      .join(done, Seq("part_id"), "left_anti")
      .drop("part_id")
      .persist(StorageLevel.MEMORY_AND_DISK)

    if (!pending.isEmpty) {
      val g = buildGraph(pending, cfg)
      val nodes = g.nodes.persist(StorageLevel.MEMORY_AND_DISK)
      val edges = g.edges.persist(StorageLevel.MEMORY_AND_DISK)
      Materializer.writeWithManifest(edges, outDir, "edges", cfg, checks)
      val chunksOut = Materializer.stamp(g.chunks, cfg)
      chunksOut.write.mode(SaveMode.Append).partitionBy("part_id")
        .parquet(s"$outDir/chunks")
      Materializer.stamp(g.turnChecksums, cfg)
        .write.mode(SaveMode.Append).partitionBy("part_id")
        .parquet(s"$outDir/turn_checksums")
      // per-partition metrics rows (north rule: per-partition lineage AND
      // metrics): edge counts by type per part_id for this run
      edges
        .groupBy(col("part_id"), col("rel_type"))
        .agg(count(lit(1)).as("rows"))
        .withColumn("run_key", lit(cfg.runKey))
        .write.mode(SaveMode.Append).parquet(s"$outDir/_metrics")
      // nodes last: its manifest row is the completion marker for the
      // partition. The write is a per-partition MERGE compaction: incoming
      // rows upsert into whatever a crashed earlier attempt left in the SAME
      // (pending) partitions, and only those partitions are replaced (dynamic
      // partition overwrite) — so on-disk node state is MERGE-clean per
      // partition without relying on read-side dedupe. Safe because every
      // replaced partition is pending (no completion manifest row), hence
      // recomputable: a crash mid-overwrite just recomputes it again.
      val nodesPath = s"$outDir/nodes"
      // The pending part ids are known and bounded (<= numPartitions):
      // filtering the prior table with a literal isin makes the read
      // STATICALLY partition-pruned — the semi-join form scanned every
      // partition's files to keep at most the pending ones (a
      // history-scaled read on an incremental run).
      val pendingIds: Seq[Int] = nodes.select("part_id").distinct()
        .collect().map(_.getInt(0)).toSeq
      val existingPending = Materializer.readParquetIfPresent(spark, nodesPath) match {
        case Some(prior) => prior.filter(col("part_id").isin(pendingIds: _*))
        case None => nodes.limit(0)
      }
      // localCheckpoint (eager) detaches the merged plan from the parquet
      // files the dynamic overwrite is about to replace — without it the
      // write would delete its own lazy input
      val nodesOut = Materializer.mergeUpsert(existingPending, nodes, Seq("part_id", "id"))
        .localCheckpoint()
      Materializer.writeWithManifest(nodesOut, outDir, "nodes", cfg, checks,
        dynamicOverwrite = true)
      nodes.unpersist(); edges.unpersist(); g.release()
    }
    pending.unpersist(); checks.unpersist()

    // QA over the full materialized graph, read through the MERGE view:
    //  - nodes merge per id (union of chunk_uids provenance across runs —
    //    the reference writer's MERGE keep-existing semantics, SURVEY.md S6;
    //    dropDuplicates would keep an arbitrary row and lose provenance);
    //  - edges merge per (src, dst, rel_type) — the reference MERGEs a
    //    relationship on exactly that key (ref:src/fancyrag/db/neo4j_queries.py:108),
    //    which also makes a crash-window recompute (edges appended twice
    //    before the nodes manifest row landed) invisible at read;
    //  - chunks / turn_checksums dedupe on their natural keys for the same
    //    crash-window reason.
    // IncrementalQa evaluates that gate from fingerprint-keyed per-partition
    // partials, so an incremental run's QA cost scales with the delta, not
    // the accumulated history; ResumeSpec pins it equal to
    // QaEvaluator.evaluate over the merged tables.
    val qa = IncrementalQa.evaluate(spark, outDir, turns, cfg, thresholds)
    if (qa.status == "fail") rollbackRun(spark, outDir, Seq(cfg.runKey))
    qa
  }

  /** Stage directories written `.partitionBy("part_id")` (run() + the
    * Materializer's manifest writer). `_manifest`/`_metrics` carry a part_id
    * COLUMN but are small unpartitioned tables.
    */
  val PartitionedStages: Seq[String] = Seq("nodes", "edges", "chunks", "turn_checksums")

  /** Targeted compensating rollback of failed run(s) — the Spark form of the
    * reference's run-key-scoped delete (ref:src/fancyrag/db/neo4j_queries.py:122-180),
    * which likewise touches only the failed run's rows, never the whole graph.
    *
    * Cost scales with the FAILED RUN, not the accumulated table: the failed
    * run's `_manifest` rows name exactly the part_ids it wrote (bounded by
    * numPartitions), and only those partition directories are read
    * (partition-pruned scan), filtered, and swapped. A 1-partition run over a
    * 100-partition table rewrites 1 partition.
    *
    * Manifest invalidation is deliberately WIDER than the bad run keys: the
    * node MERGE re-stamps matched rows with the incoming run key
    * (SET-on-match, Materializer.mergeUpsert), so rolling back run B from a
    * partition also removes rows that an earlier run A contributed and B
    * re-stamped. A surviving "A complete" manifest row would then let the next
    * run skip a partition whose data is gone — silent loss with a false pass.
    * Every completion row of a TOUCHED partition is therefore dropped,
    * forcing recompute of exactly those partitions.
    *
    * Crash safety is by WRITE-AHEAD INTENT + ordering, not luck:
    *  1. a `_rollback_pending` marker (bad keys + touched part_ids) lands
    *     atomically before anything is mutated — [[recoverPendingRollback]]
    *     replays the whole (idempotent) rollback at the next run() if the
    *     JVM dies anywhere inside it;
    *  2. the `_manifest` completion rows are dropped FIRST, data second —
    *     so a crash mid-rollback can only leave touched partitions
    *     UNDER-claimed (recompute; always safe), never a false-complete
    *     partition over deleted data;
    *  3. the per-partition swap restores any staged-but-unrenamed partition
    *     from a leftover `.rbtmp` tree before re-filtering (see
    *     [[rollbackStagePartitions]]), so kept good-run rows survive a crash
    *     between delete and rename.
    */
  def rollbackRun(spark: SparkSession, outDir: String, badRunKeys: Seq[String]): Unit = {
    // Bounded collect: one int per (stage, part_id) the failed run completed.
    // A transient manifest read failure propagates (readParquetIfPresent):
    // it must not be mistaken for "no manifest = nothing to roll back",
    // which would silently skip the compensating delete entirely.
    val touched: Seq[Int] = Materializer.readParquetIfPresent(spark, s"$outDir/_manifest") match {
      case Some(m) => m.filter(col("run_key").isin(badRunKeys: _*))
        .select("part_id").distinct().collect().map(_.getInt(0)).toSeq.sorted
      case None => Seq.empty
    }
    writeRollbackMarker(spark, outDir, badRunKeys, touched)
    executeRollback(spark, outDir, badRunKeys, touched)
    clearRollbackMarker(spark, outDir)
  }

  /** The marker-bracketed body of [[rollbackRun]]; idempotent, so
    * [[recoverPendingRollback]] can replay it verbatim after a crash.
    */
  private[graft] def executeRollback(spark: SparkSession, outDir: String,
      badRunKeys: Seq[String], touched: Seq[Int]): Unit = {
    import spark.implicits._
    // 1. Invalidate completion rows BEFORE touching any data: over-
    //    invalidation only forces recompute, while the reverse order could
    //    leave a surviving completion row over already-deleted data if the
    //    JVM dies between the two (false-complete partition = silent loss).
    invalidateManifest(spark, outDir, badRunKeys, touched)
    // 2. Swap-rewrite only the touched partitions of each data stage.
    val bad = badRunKeys.toDF("ingest_run_key")
    if (touched.nonEmpty) PartitionedStages.foreach { stage =>
      rollbackStagePartitions(spark, outDir, stage, bad, touched)
    }
    // 3. _metrics rows are per-run observability records: only the failed
    //    run's own rows are lies; earlier runs' metrics describe writes that
    //    happened.
    rollbackStageFiltered(spark, outDir, "_metrics",
      df => df.filter(!col("run_key").isin(badRunKeys: _*)))
  }

  /** Step 1 of [[executeRollback]]: drop every completion row of the bad
    * runs AND of every touched partition (see [[rollbackRun]]'s wide-
    * invalidation rationale). Package-visible so the crash test can stage
    * the exact "invalidated but data not yet swapped" window.
    */
  private[graft] def invalidateManifest(spark: SparkSession, outDir: String,
      badRunKeys: Seq[String], touched: Seq[Int]): Unit =
    if (Materializer.readParquetIfPresent(spark, s"$outDir/_manifest").isDefined)
      rollbackStageFiltered(spark, outDir, "_manifest",
        df => df.filter(!(col("run_key").isin(badRunKeys: _*) ||
          col("part_id").isin(touched: _*))))

  private def rollbackMarkerPath(outDir: String) =
    new org.apache.hadoop.fs.Path(s"$outDir/_rollback_pending")

  /** Atomically (write-tmp + rename) persist the rollback intent: line 1 =
    * URL-encoded bad run keys (tab-separated), line 2 = touched part_ids
    * (comma-separated). Package-visible so the crash test can stage one.
    */
  private[graft] def writeRollbackMarker(spark: SparkSession, outDir: String,
      badRunKeys: Seq[String], touched: Seq[Int]): Unit = {
    val fs = rollbackMarkerPath(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$outDir/_rollback_pending.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      (badRunKeys.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString("\t") + "\n" +
        touched.mkString(",") + "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = rollbackMarkerPath(outDir)
    if (fs.exists(dst)) fs.delete(dst, false)
    fs.rename(tmp, dst)
  }

  private[graft] def clearRollbackMarker(spark: SparkSession, outDir: String): Unit = {
    val p = rollbackMarkerPath(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** If a previous rollback crashed mid-flight, its `_rollback_pending`
    * marker survives — replay the full rollback (idempotent) and only then
    * clear the marker. Called at every run() start.
    */
  def recoverPendingRollback(spark: SparkSession, outDir: String): Unit = {
    val p = rollbackMarkerPath(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.split("\n", -1)
    val keys = lines.headOption.map(_.split("\t").toSeq.filter(_.nonEmpty)
      .map(java.net.URLDecoder.decode(_, "UTF-8"))).getOrElse(Seq.empty)
    val touched = lines.lift(1).map(_.split(",").toSeq.filter(_.nonEmpty).map(_.toInt))
      .getOrElse(Seq.empty)
    if (keys.nonEmpty) executeRollback(spark, outDir, keys, touched)
    clearRollbackMarker(spark, outDir)
  }

  /** Swap-rewrite of ONLY the touched part_id directories of one partitioned
    * stage: read the touched partitions (pruned), drop the bad runs' rows,
    * stage the kept rows to a tmp tree, then per-partition delete+rename.
    * The kept data is fully on disk before any original partition is removed.
    *
    * Self-healing on entry: a leftover `.rbtmp` tree means a previous swap
    * crashed. Partition deletes only start after the tmp write completed, and
    * each partition is deleted and immediately renamed — so at most one
    * partition can be staged-in-tmp with its destination already deleted.
    * Restoring exactly those (dst missing, tmp part present) before dropping
    * the tmp tree re-enters the kept rows, and the replayed filter is a
    * no-op on them. Never loses kept rows, at any crash point.
    */
  private[graft] def rollbackStagePartitions(spark: SparkSession, outDir: String,
      stage: String, bad: DataFrame, touched: Seq[Int]): Unit = {
    val path = s"$outDir/$stage"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return
    val tmp = new org.apache.hadoop.fs.Path(s"$path.rbtmp")
    if (fs.exists(tmp)) {
      fs.listStatus(tmp).filter(_.getPath.getName.startsWith("part_id=")).foreach { st =>
        val dst = new org.apache.hadoop.fs.Path(s"$path/${st.getPath.getName}")
        if (!fs.exists(dst)) fs.rename(st.getPath, dst)
      }
      fs.delete(tmp, true)
    }
    // a previous full rollback can leave the dir with no data files at all
    // (schema unreadable) — nothing to rewrite then
    val srcOpt = Materializer.readParquetIfPresent(spark, path)
    if (srcOpt.isEmpty) return
    val kept = srcOpt.get
      .filter(col("part_id").isin(touched: _*)) // partition-pruned
      .join(bad, Seq("ingest_run_key"), "left_anti")
    // Preserves the partitioned layout (round-3 finding: an unpartitioned
    // rewrite here corrupted the next run's resume + MERGE compaction).
    kept.write.mode(SaveMode.Overwrite).partitionBy("part_id").parquet(tmp.toString)
    touched.foreach { pid =>
      val dst = new org.apache.hadoop.fs.Path(s"$path/part_id=$pid")
      fs.delete(dst, true)
      val src = new org.apache.hadoop.fs.Path(s"$path.rbtmp/part_id=$pid")
      if (fs.exists(src)) fs.rename(src, dst)
    }
    fs.delete(tmp, true)
  }

  /** Read-filter-rewrite rollback of one whole stage directory. Kept as the
    * generic per-stage API (and for the small unpartitioned `_manifest` /
    * `_metrics` tables); [[rollbackRun]] is the targeted production path.
    */
  def rollbackStage(spark: SparkSession, outDir: String, stage: String, bad: DataFrame,
      keyCol: String = "ingest_run_key"): Unit =
    rollbackStageFiltered(spark, outDir, stage,
      df => df.join(bad.toDF(keyCol), Seq(keyCol), "left_anti"))

  /** Whole-stage rewrite keeping `keep(src)`'s rows. The rewrite preserves an
    * on-disk `part_id=` partitioned layout (round-3 finding: losing it made
    * the next run's partition discovery read the mixed tree as unpartitioned,
    * dropping part_id values and corrupting resume + MERGE compaction).
    *
    * Crash recovery on entry: the filtered tree is fully staged at
    * `<path>.tmp` before the original is deleted, so a crash between delete
    * and rename leaves (missing path, complete tmp) — finish the rename. A
    * crash mid-tmp-write leaves (path intact, stale tmp) — the overwrite
    * below replaces the stale tmp.
    */
  private def rollbackStageFiltered(spark: SparkSession, outDir: String, stage: String,
      keep: DataFrame => DataFrame): Unit = {
    val path = s"$outDir/$stage"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val staged = new org.apache.hadoop.fs.Path(s"$path.tmp")
    if (!fs.exists(p)) {
      if (fs.exists(staged)) fs.rename(staged, p) else return
    }
    val kept = keep(spark.read.parquet(path))
      .persist(StorageLevel.MEMORY_AND_DISK)
    kept.count() // force before overwriting the source
    val partitionedLayout = fs.listStatus(p)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("part_id="))
    val w = kept.write.mode(SaveMode.Overwrite)
    (if (partitionedLayout) w.partitionBy("part_id") else w).parquet(s"$path.tmp")
    kept.unpersist()
    fs.delete(p, true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$path.tmp"), p)
  }

  /** The (subj, pred, obj) triple view over materialized tables — the
    * P/R-scored artifact (SURVEY.md §1.4).
    */
  def tripleView(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val names = nodes.select(col("id"), col("name"))
    edges
      // entity-to-entity semantic relations — selected structurally (both
      // endpoints are entities), not by a hardcoded predicate list (P7)
      .filter(QaEvaluator.semanticEdge &&
        col("src").startsWith("ent:") && col("dst").startsWith("ent:"))
      .join(names.withColumnRenamed("name", "subj"), col("src") === col("id")).drop("id")
      .join(names.withColumnRenamed("name", "obj"), col("dst") === col("id")).drop("id")
      .select(col("subj"), col("rel_type").as("pred"), col("obj"))
      .distinct()
  }
}
