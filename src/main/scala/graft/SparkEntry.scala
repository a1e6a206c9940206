package graft

import graft.app.KgBuild
import graft.canon.Resolver
import graft.chunk.{Chunker, ChunkStage}
import graft.extract.Extractor
import graft.model.{ChunkProfile, RunConfig}
import graft.operators.{Ann, Dedup, Multimodal, Retrieval, Sampling, TextAnalysis}
import graft.source.{TranscriptDeriver, TranscriptGen}
import graft.util.Inputs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions for oracle parity with DuckDB:
  *   - all output column names lowercase, aliased identically on both sides;
  *   - no raw floating-point aggregates: sums are computed over
  *     decimal-cast inputs (exact arithmetic in both engines), avgs are
  *     rounded decimals;
  *   - no timestamp outputs (tz/precision semantics differ) — epochs instead;
  *   - every query ends in a deterministic orderBy.
  */
object SparkEntry {

  // The driver tables are single-row-group parquet files, so a plain read
  // scans on ONE task and serializes every per-row expression above it
  // (guide §2.5 unsplittable-input skew). Queries whose SCAN STAGE is
  // compute-bound per row (digest windows, all-pairs cosine, gram builds,
  // multi-regex feature extraction) read through a size-gated hash-spread
  // (Inputs.parquetSpread; A/B-measured wins, e.g. q_fingerprint 0.95→0.54 s,
  // q_cosine_neardup 1.14→0.58 s); shuffle-bound queries keep the plain read
  // because the extra exchange is pure overhead there (A/B-measured: the
  // ngram prefix-join pipeline pays +0.4-0.9 s spread, q_sessionize +0.5 s).
  // At production scale the size gate leaves every reader untouched.
  private def docs(s: SparkSession, dir: String) = s.read.parquet(s"$dir/documents.parquet")
  private def docsSpread(s: SparkSession, dir: String) = Inputs.parquetSpread(s, s"$dir/documents.parquet", "doc_id")
  private def lineitem(s: SparkSession, dir: String) = s.read.parquet(s"$dir/lineitem.parquet")
  private def orders(s: SparkSession, dir: String) = s.read.parquet(s"$dir/orders.parquet")
  private def customer(s: SparkSession, dir: String) = s.read.parquet(s"$dir/customer.parquet")
  private def events(s: SparkSession, dir: String) = s.read.parquet(s"$dir/events.parquet")
  private def embeddings(s: SparkSession, dir: String) = s.read.parquet(s"$dir/embeddings.parquet")
  private def embeddingsSpread(s: SparkSession, dir: String) = Inputs.parquetSpread(s, s"$dir/embeddings.parquet", "vec_id")

  /** Flagship: full KG construction (chunk → extract → link → canonicalize)
    * over the seeded synthetic transcript table; returns the (subj, pred, obj)
    * triple view. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val turns = TranscriptGen.table(spark, 20L).toDF()
    KgBuild.buildGraph(turns, RunConfig(runKey = "kg-build:entry")).triples
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- KG pipeline stages over DERIVED transcripts (oracle-checkable) ----
    "kg_turns" -> ((s, d) =>
      TranscriptDeriver.turns(s, d)
        .select("conv_id", "turn_idx", "role", "text")
        .orderBy("conv_id", "turn_idx")),
    "kg_turn_checksums" -> ((s, d) =>
      TranscriptDeriver.turns(s, d)
        .select(col("conv_id"), col("turn_idx"), sha2(col("text"), 256).as("checksum"))
        .orderBy("conv_id", "turn_idx")),
    "kg_doc_assembly" -> ((s, d) => {
      // W2: stable (conv_id, turn_idx)-ordered reassembly must round-trip the
      // document text (turn boundaries are exact 240-char windows).
      ChunkStage.documents(TranscriptDeriver.turns(s, d))
        .select(col("conv_id"), sha2(col("doc_text"), 256).as("doc_checksum"),
          col("n_turns"))
        .orderBy("conv_id")
    }),
    "kg_turn_offsets" -> ((s, d) =>
      ChunkStage.turnOffsets(TranscriptDeriver.turns(s, d))
        .select("conv_id", "turn_idx", "start_off")
        .orderBy("conv_id", "turn_idx")),

    // ---- KG pipeline stages over DERIVED transcripts, oracle-verified:
    //      the REAL chunker (exact mode), the REAL dictionary scanner and
    //      relation-rule machinery (term schema), and the REAL CC resolver,
    //      each mirrored by ANSI SQL. The approximate-chunker/gazetteer/
    //      anaphora path stays covered by kg_triples_synth (rows-only) and
    //      the sbt golden P/R suite. ----
    "kg_chunks" -> ((s, d) =>
      ChunkStage.chunks(TranscriptDeriver.turns(s, d),
        ChunkProfile("exact", 600, 120, approximate = false))
        .select(col("conv_id"), col("index").as("idx"), col("chunk_uid"),
          col("checksum"), col("start").as("start_off"), col("end").as("end_off"))
        .orderBy("conv_id", "idx")),
    "kg_mentions" -> ((s, d) => {
      import s.implicits._
      val ex = Extractor.termExtractor(gazetteerTerms)
      TranscriptDeriver.turns(s, d)
        .select("conv_id", "turn_idx", "text").as[(String, Int, String)]
        .mapPartitions(_.flatMap { case (c, t, x) => ex.scanMentions(c, t, x) })
        .toDF()
        .groupBy(col("conv_id"), col("turn_idx"), col("norm"))
        .agg(count(lit(1)).as("n"))
        .orderBy("conv_id", "turn_idx", "norm")
    }),
    "kg_triples" -> ((s, d) => {
      import s.implicits._
      // term-schema relation rule: adjacent dictionary terms -> NEXT_TO,
      // via the same scanner + connector-rule machinery as the gazetteer path
      val ex = Extractor.termExtractor(gazetteerTerms)
      TranscriptDeriver.turns(s, d)
        .select("conv_id", "turn_idx", "text").as[(String, Int, String)]
        .mapPartitions(_.flatMap { case (c, t, x) =>
          ex.sameTurnRels(c, t, x, ex.scanMentions(c, t, x))
        })
        .toDF()
        .select(col("subj_norm").as("subj"), col("pred"),
          col("obj_norm").as("obj"))
        .groupBy("subj", "pred", "obj")
        .agg(count(lit(1)).as("n"))
        .orderBy("subj", "pred", "obj")
    }),
    "kg_triples_synth" -> ((s, _) => {
      val turns = TranscriptGen.table(s, 30L).toDF()
      KgBuild.buildGraph(turns, RunConfig(runKey = "kg-build:verify"))
        .triples.orderBy("subj", "pred", "obj")
    }),
    "kg_canonical_entities" -> ((s, _) =>
      Resolver.canonicalEntities(s)
        .orderBy("norm")),

    // ---- classic operator coverage with oracles (SURVEY.md §2.3/2.4/2.5) ----
    "q1_agg" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q_join_inner" -> ((s, d) =>
      orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("c_mktsegment")),
    "q_join_anti" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),
    "q_join_semi" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d).filter(col("o_totalprice") > 100000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")),
    "q_window_topk" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"))
        .orderBy("o_custkey", "rn")
    }),
    "q_dedup_exact" -> ((s, d) =>
      docs(s, d)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
        .orderBy("text_hash")),
    "q_token_stats" -> ((s, d) =>
      docs(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(greatest(lit(1), ceil(length(col("text")) / 4)).cast("long")).as("tokens_total"),
          max(greatest(lit(1), ceil(length(col("text")) / 4)).cast("long")).as("tokens_max"))
        .orderBy("lang")),
    "q_token_hist" -> ((s, d) => {
      val t = greatest(lit(1), ceil(length(col("text")) / 4)).cast("long")
      val bucket = Seq(64, 128, 256, 512, 1024, 2048)
        .foldRight(lit(">2048")) { (b, acc) => when(t <= b, lit(f"<=$b%04d")).otherwise(acc) }
      docs(s, d)
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),
    "q_sessionize" -> ((s, d) => {
      // gap-based sessionization (30 min) via lag + cumulative sum
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
        .withColumn("session_seq", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"))
        .agg(max(col("session_seq")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),
    "q_event_windows" -> ((s, d) =>
      // tumbling 5-minute windows keyed by epoch bucket (streaming-agg shape)
      events(s, d)
        .groupBy((floor(unix_timestamp(col("ts")) / 300) * 300).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,3)")).cast("double").as("v"))
        .orderBy("window_start", "event_type")),

    // ---- set ops / multi-dim aggregates (SURVEY.md §2.4/2.6 extras) ----
    "q_set_ops" -> ((s, d) => {
      // custkeys with an open order but no finished order: INTERSECT/EXCEPT
      val open = orders(s, d).filter(col("o_orderstatus") === "O").select("o_custkey")
      val finished = orders(s, d).filter(col("o_orderstatus") === "F").select("o_custkey")
      open.intersect(open).except(finished)
        .withColumnRenamed("o_custkey", "custkey")
        .orderBy("custkey")
    }),
    "q_rollup" -> ((s, d) =>
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"))
        .orderBy("returnflag", "linestatus")),
    "q_approx_distinct" -> ((s, d) =>
      // sketch aggregate (HLL): the sketch value is engine-specific, so the
      // oracle checks the exact column plus the sketch's ACCURACY CONTRACT
      // (within 5% of exact at rsd=0.01) as a boolean
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")).cast("double") <=
            col("exact_parts").cast("double") * 0.05).as("approx_within_5pct"))
        .orderBy("l_returnflag")),

    // ---- entity-linking join shape with oracle (J7 demo over sf tables) ----
    "q_gazetteer_join" -> ((s, d) => {
      import s.implicits._
      val dict = gazetteerTerms.toDF("term")
      TranscriptDeriver.turns(s, d)
        .join(broadcast(dict), instr(col("text"), col("term")) > 0)
        .groupBy(col("term"))
        .agg(count(lit(1)).as("n_turn_mentions"),
          countDistinct(col("conv_id")).as("n_convs"))
        .orderBy("term")
    }),

    // ---- training-data curation operators ----
    // MinHash clusters are a stochastic structure the oracle can't recompute,
    // but their defining INVARIANT is SQL-checkable: all members of an
    // exact-duplicate text group must share one cluster, and the cluster rep
    // (min id of the cluster) can never exceed the group's min id. Group
    // sizes and min ids are verified value-exact; the invariants ride as
    // contract booleans (the q_approx_distinct pattern).
    "q_dedup_minhash" -> ((s, d) => {
      val clusters = Dedup.minhashClusters(docs(s, d), "doc_id", "text", threshold = 0.5)
      docs(s, d).select(md5(col("text")).as("text_hash"), col("doc_id").as("id"))
        .join(clusters, Seq("id"))
        .groupBy(col("text_hash"))
        .agg(
          count(lit(1)).as("n_members"),
          min(col("id")).as("min_id"),
          (countDistinct(col("cluster_rep")) === 1).as("same_cluster"),
          (max(col("cluster_rep")) <= min(col("id"))).as("rep_le_min"))
        .orderBy("text_hash")
    }),
    "q_dedup_simhash" -> ((s, d) =>
      // md5-token-hash variant (oracle-verifiable); the mix64 production
      // simhash + pigeonhole banding stays sbt-tested (OperatorsSpec)
      Dedup.withSimhashMd5(docs(s, d), "doc_id", "text")
        .orderBy("id")),
    "q_dedup_ngram" -> ((s, d) => {
      // duplicate-injected corpus so exact-Jaccard pair finding has hits
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val dupes = base.withColumn("doc_id", col("doc_id") + 1000000)
      Dedup.ngramJaccardPairs(base.unionByName(dupes), "doc_id", "text",
        n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")
    }),
    // The n-gram-Jaccard SCALE path: hashed gram keys (8-byte chains) through
    // the posting/prefix/verify joins; values identical to the string path,
    // so it shares q_dedup_ngram's value-exact oracle and gets its own
    // bench entry (the q_decontaminate_hashed pattern).
    "q_dedup_ngram_hashed" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val dupes = base.withColumn("doc_id", col("doc_id") + 1000000)
      Dedup.ngramJaccardPairs(base.unionByName(dupes), "doc_id", "text",
        n = 3, threshold = 0.8, hashGrams = true)
        .orderBy("id_a", "id_b")
    }),
    "q_ann_brute" -> ((s, d) => {
      val emb = embeddings(s, d)
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), 5)
        .withColumn("score", round(col("score"), 4))
        .orderBy("query_id", "rank")
    }),
    // ANN candidate sets are engine-specific; the ACCURACY CONTRACT is the
    // oracle-checkable artifact: recall@5 vs the in-engine brute-force top-k
    // (itself hash-exact vs the DuckDB oracle via q_ann_brute) emitted as a
    // boolean per query. The LSH/IVF structure is deterministic, so the
    // contract is stable run to run (measured min recall 0.6 at sf0.01/sf0.1).
    "q_ann_lsh" -> ((s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 8)
      val lsh = Ann.lshTopK(emb, queries, 5, nBits = 32, bands = 8)
        .select("query_id", "vec_id")
      val brute = Ann.bruteForceTopK(emb, queries, 5).select("query_id", "vec_id")
      val hits = lsh.join(brute, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hits"), lit(0L)) >= 3).as("recall_at_5_ge_06"))
        .orderBy("query_id")
    }),
    // Same contract for IVF, driven through the build-once/query-many split
    // (buildIvfIndex + ivfQuery) — the driver query exercises the index path.
    "q_ann_ivf" -> ((s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 8)
      val index = Ann.buildIvfIndex(emb, nCells = 16)
      val ivf = Ann.ivfQuery(index, emb, queries, 5, nProbe = 8)
        .select("query_id", "vec_id").localCheckpoint()
      index.release()
      val brute = Ann.bruteForceTopK(emb, queries, 5).select("query_id", "vec_id")
      val hits = ivf.join(brute, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hits"), lit(0L)) >= 3).as("recall_at_5_ge_06"))
        .orderBy("query_id")
    }),
    // Same contract for PQ (the compressed-domain ANN scale path: 16×5-bit
    // codes per 64-dim vector, ADC scan + exact rerank), driven through the
    // build-once/query-many split. Measured min recall 0.8 at sf0.01/sf0.1
    // with m=16, k=32, refine=8 (ContractProbe); contract at 0.6 for margin.
    "q_ann_pq" -> ((s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 8)
      val index = Ann.buildPqIndex(emb, m = 16, k = 32)
      val pq = Ann.pqQuery(index, emb, queries, 5, refine = 8)
        .select("query_id", "vec_id").localCheckpoint()
      index.release()
      val brute = Ann.bruteForceTopK(emb, queries, 5).select("query_id", "vec_id")
      val hits = pq.join(brute, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hits"), lit(0L)) >= 3).as("recall_at_5_ge_06"))
        .orderBy("query_id")
    }),
    // Same contract for the IVFADC composition (IVF coarse cells + residual
    // PQ codes, the standard 100 TB layout): ADC scan restricted to probed
    // cells, exact rerank. Measured recall@5 at sf0.01/sf0.1 with nCells=16,
    // m=16, k=32, nProbe=8, refine=8: min 0.6, most queries 0.8-1.0
    // (ContractProbe) — deterministic structure, so the 0.6 contract is
    // stable run to run.
    "q_ann_ivfpq" -> ((s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 8)
      val index = Ann.buildIvfPqIndex(emb, nCells = 16, m = 16, k = 32)
      val ivfpq = Ann.ivfPqQuery(index, emb, queries, 5, nProbe = 8, refine = 8)
        .select("query_id", "vec_id").localCheckpoint()
      index.release()
      val brute = Ann.bruteForceTopK(emb, queries, 5).select("query_id", "vec_id")
      val hits = ivfpq.join(brute, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hits"), lit(0L)) >= 3).as("recall_at_5_ge_06"))
        .orderBy("query_id")
    }),
    // The LSH-found pair set is engine-specific, but two things are not:
    // the EXACT count of all pairs at the threshold (cross-engine all-pairs
    // cosine — a genuine large-scale verification of the cosine kernel), and
    // the operator's precision=1.0 guarantee (every emitted pair re-verified
    // against the exact set; the anti-join count must be 0).
    "q_cosine_neardup" -> ((s, d) => {
      val emb = embeddingsSpread(s, d)
      val found = Ann.cosineNearDupPairs(emb, threshold = 0.2, nBits = 32, bands = 2)
        .select("id_a", "id_b")
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("__ea"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("__eb"))
      val exact = a.join(b, col("id_a") < col("id_b"))
        .filter(Ann.cosine(col("__ea"), col("__eb")) >= 0.2)
        .select("id_a", "id_b")
      val outside = found.join(exact, Seq("id_a", "id_b"), "left_anti")
      exact.agg(count(lit(1)).as("n_exact_pairs"))
        .crossJoin(outside.agg(count(lit(1)).as("n_emitted_outside_exact")))
        .select(col("n_exact_pairs"), col("n_emitted_outside_exact"),
          (col("n_emitted_outside_exact") === 0).as("emitted_subset_ok"))
    }),
    // Deterministic train/val/test split (md5 oracle variant; the xxhash64
    // scale path is sbt-tested for partition/ordering invariance) — every
    // per-row assignment value-exact cross-engine.
    "q_train_split" -> ((s, d) =>
      Sampling.withSplitMd5(docs(s, d), "doc_id")
        .select("doc_id", "split")
        .orderBy("doc_id")),
    // Token-budget batch packing (training-data assembly): shard-parallel
    // window cumsum; batches never split a doc, overfill bounded by one doc.
    "q_pack_batches" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), x => length(x) > 0))
          .cast("long").as("n_tokens"))
      Sampling.packBatches(toks, "doc_id", "n_tokens", budget = 2000L, numShards = 4)
        .select("doc_id", "shard", "batch_in_shard")
        .orderBy("doc_id")
    }),
    // Eval-set decontamination (GPT-3 n-gram overlap rule): train docs that
    // share an 8-gram with the doc_id%10==0 eval slice, per-row exact.
    "q_decontaminate" -> ((s, d) => {
      val all = docsSpread(s, d).select(col("doc_id"), col("text"))
      val evalSet = all.filter(col("doc_id") % 10 === 0)
      Dedup.ngramContamination(all, evalSet, "doc_id", "text", n = 8)
        .orderBy("id")
    }),
    // The decontamination SCALE path: identical semantics with grams
    // collapsed to 8-byte xxhash64 longs right after the explode, so the
    // shuffle/join/aggregate move 8 bytes per gram instead of ~50-char
    // strings. Value-equal to q_decontaminate (a cross-gram collision is
    // ~2^-64), so it shares the same value-exact oracle — and gets its own
    // bench entry so the claimed win is measured, not argued.
    "q_decontaminate_hashed" -> ((s, d) => {
      val all = docsSpread(s, d).select(col("doc_id"), col("text"))
      val evalSet = all.filter(col("doc_id") % 10 === 0)
      Dedup.ngramContamination(all, evalSet, "doc_id", "text", n = 8, hashGrams = true)
        .orderBy("id")
    }),
    // Boilerplate-line removal over a corpus with an injected universal
    // footer: the operator must drop exactly the footer (df = |docs|) and
    // any doc lines duplicated beyond maxDf, per-row exact.
    "q_boilerplate" -> ((s, d) => {
      val corpus = docs(s, d).select(col("doc_id"),
        concat_ws("\n", col("text"), lit("(c) 2026 example corp - all rights reserved"))
          .as("text"))
      TextAnalysis.removeBoilerplateLines(corpus, "doc_id", "text", maxDf = 2)
        .orderBy("id")
    }),
    "q_lang_id" -> ((s, d) =>
      TextAnalysis.withLangId(docsSpread(s, d), "text")
        .groupBy("lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang_pred")),
    "q_text_quality" -> ((s, d) =>
      TextAnalysis.withQuality(docsSpread(s, d), "text")
        .select("doc_id", "n_chars", "n_tokens", "alpha_ratio", "punct_ratio",
          "digit_ratio", "stopword_ratio", "quality_score_ppm")
        .orderBy("doc_id")),
    "q_token_counts" -> ((s, d) =>
      TextAnalysis.withTokenCounts(docsSpread(s, d), "text")
        .select("doc_id", "n_ws_tokens", "n_bpe_tokens", "n_est_tokens")
        .orderBy("doc_id")),
    "q_fingerprint" -> ((s, d) =>
      // md5-window variant: same winnowing shape, oracle-verifiable values
      // (the xxhash64 default stays the scale path, sbt-tested)
      TextAnalysis.withFingerprintMd5(docsSpread(s, d), "text")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")),
    "q_multimodal_features" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.mediaFromDocs(docs(s, d))).toDF()
        .select("media_id", "kind", "n_bytes", "frames_sampled")
        .orderBy("media_id")),

    // ---- retrieval surface (R1-R3 + J6) ----
    // Hybrid runs the REAL fusion operator over a chunk view of the driver's
    // documents+embeddings tables, so the whole path (cosine top-k, sqrt-norm
    // fulltext, over-fetch, full-outer fusion, max-normalize, final top-k)
    // is value-verified by the DuckDB oracle.
    "q_retrieval_hybrid" -> ((s, d) => {
      val emb = embeddings(s, d)
      val corpus = docs(s, d)
        .join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id").cast("string").as("chunk_uid"), col("text"),
          col("embedding"))
      val qv = emb.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      Retrieval.hybridVec(corpus, qv, HybridQueryText, 5)
        .withColumn("score_ppm",
          floor(col("score") * 1e6 + 0.5).cast("long"))
        .select("chunk_uid", "score_ppm")
        .orderBy("chunk_uid")
    }),
    // J6 over a DERIVED term graph, value-verified: mentions bind to the
    // first chunk covering their turn (ConvStage.perConversation's rule),
    // the REAL semanticExpansion does the undirected 1-hop collect — all
    // mirrored in SQL. (The gazetteer-KG expansion path is covered
    // end-to-end by AskSpec, including the inbound-relation case.)
    "q_semantic_expansion" -> ((s, d) => {
      import s.implicits._
      val ex = Extractor.termExtractor(gazetteerTerms)
      // ONE narrow pass over documents.parquet derives every graph row with
      // ZERO shuffles before the (tiny) distinct/aggregate stages: a derived
      // conversation IS one document row (TranscriptDeriver cuts fixed
      // 240-char turns out of it), so turn derivation, document reassembly,
      // exact chunking, the min-index turn→chunk binding, and the fused
      // mention+relation scan are all conversation-local. They are computed
      // here with the SAME primitives the distributed operators wrap
      // (Chunker.split/chunkUid, DictExtractor.scanMentions/sameTurnRels —
      // the operator under test remains the REAL
      // Retrieval.semanticExpansion), where the previous form ran the
      // fixture construction as five distributed stages (documents groupBy,
      // chunk flatMap, offsets window, turn→chunk range join, mention⋈chunk
      // join) whose exchanges dominated the query's floor. The branch point
      // is persisted, its three consumers eagerly materialized, then
      // RELEASED — the minhashClusters release-handle pattern, so the query
      // leaks no storage into a long-lived session.
      val scanned = docs(s, d).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (docId, text0) =>
          val text = if (text0 == null) "" else text0
          val convId = s"conv-$docId"
          val nTurns = math.max(1, math.ceil(text.length / 240.0).toInt)
          val turnTexts = (0 until nTurns).map { t =>
            text.substring(math.min(t * 240, text.length),
              math.min(t * 240 + 240, text.length))
          }
          val docText = turnTexts.mkString("\n")
          val offsets = new Array[Int](nTurns)
          var acc = 0
          var t = 0
          while (t < nTurns) { offsets(t) = acc; acc += turnTexts(t).length + 1; t += 1 }
          val chunks = Chunker.split(docText, 600, 120, approximate = false)
          val uids = chunks.map(rc => Chunker.chunkUid(convId, rc.index, rc.text))
          // first (min-index) chunk covering each turn's start offset —
          // chunk coverage is contiguous and offsets are monotone, so one
          // forward sweep finds it, as ConvStage.perConversation does
          val turnChunk = new Array[String](nTurns)
          var ti = 0
          chunks.foreach { rc =>
            while (ti < nTurns && offsets(ti) >= rc.start && offsets(ti) < rc.end) {
              turnChunk(ti) = uids(rc.index); ti += 1
            }
          }
          val out = Seq.newBuilder[(String, String, String)]
          if (docId >= 0 && docId < 10) uids.foreach(u => out += (("m", u, null)))
          var k = 0
          while (k < nTurns) {
            val ms = ex.scanMentions(convId, k, turnTexts(k))
            val cuid = turnChunk(k)
            // a turn outside any chunk (empty doc) binds no entity↔chunk
            // pair — the old inner join against turn→chunk dropped it too
            if (cuid != null) ms.foreach(m => out += (("ec", m.norm, cuid)))
            ex.sameTurnRels(convId, k, turnTexts(k), ms).foreach { r =>
              out += (("r", r.subj_norm, r.obj_norm.orNull))
            }
            k += 1
          }
          out.result()
        })
        .toDF("kind", "a", "b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val entChunkPairs = scanned.filter(col("kind") === "ec")
        .select(col("a").as("norm"), col("b").as("chunk_uid")).distinct()
        .localCheckpoint()
      val relPairs = scanned.filter(col("kind") === "r")
        .select(col("a").as("subj_norm"), col("b").as("obj_norm")).distinct()
        .localCheckpoint()
      val matches = scanned.filter(col("kind") === "m")
        .select(col("a").as("chunk_uid"))
        .localCheckpoint()
      scanned.unpersist()
      val nodes = entChunkPairs.groupBy("norm")
        .agg(array_sort(collect_set(col("chunk_uid"))).as("chunk_uids"))
        .select(concat(lit("ent:"), col("norm")).as("id"),
          array(lit("Term"), lit("__Entity__")).as("labels"),
          col("norm").as("name"),
          map(lit("semantic_source"), lit("derived"),
            lit("chunk_uids"), to_json(col("chunk_uids"))).as("props"))
      val edges = relPairs.select(
        concat(lit("ent:"), col("subj_norm")).as("src"),
        concat(lit("ent:"), col("obj_norm")).as("dst"),
        lit("NEXT_TO").as("rel_type"),
        map(lit("semantic_source"), lit("derived")).as("props"))
      Retrieval.semanticExpansion(matches, nodes, edges)
        .select(col("chunk_uid"),
          array_join(array_sort(col("semantic_nodes")), ",").as("nodes_list"),
          array_join(array_sort(transform(col("semantic_relationships"),
            r => concat_ws("|", r.getField("src"), r.getField("rel_type"),
              r.getField("dst")))), ",").as("rels_list"))
        .orderBy("chunk_uid")
    })
  )

  val gazetteerTerms: Seq[String] = Seq(
    "spark", "join", "window", "filter", "merge",
    "vector", "stream", "hash", "agg", "query")

  val HybridQueryText = "spark join window filter merge"

  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (approximate chunker, regex extraction, CC fixpoint) → rows-only check.
    */
  def oracleSql: Map[String, String] = {
    val turnsCte = TranscriptDeriver.oracleTurnsCte
    // Shared by q_decontaminate and q_decontaminate_hashed: the hashed path
    // is value-equal by construction (xxhash64 key collision ~2^-64), so
    // both are held to the same per-row-exact oracle.
    val decontaminateSql =
      """WITH tk AS (
        |  SELECT doc_id AS id,
        |         list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                     x -> len(x) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT id, list_distinct(list_transform(
        |        generate_series(0, greatest(len(toks) - 8, 0)),
        |        i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' '))) AS grams FROM tk),
        |tr AS (SELECT id, unnest(grams) AS gram FROM g),
        |ev AS (SELECT DISTINCT gram FROM (SELECT unnest(grams) AS gram FROM g WHERE id % 10 = 0))
        |SELECT id, CAST(count(DISTINCT gram) AS BIGINT) AS n_shared_grams
        |FROM tr JOIN ev USING (gram) GROUP BY id ORDER BY id""".stripMargin
    val ngramJaccardSql =
      """WITH base AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |tk AS (SELECT id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks FROM base),
        |g AS (SELECT id, list_distinct(list_transform(
        |        generate_series(0, greatest(len(toks) - 3, 0)),
        |        i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))) AS grams FROM tk),
        |p AS (SELECT id, len(grams) AS n_grams, unnest(grams) AS gram FROM g),
        |d AS (SELECT gram, count(*) AS df FROM p GROUP BY 1),
        |pr AS (SELECT p.*, d.df, row_number() OVER (PARTITION BY id ORDER BY d.df, p.gram) AS pos
        |       FROM p JOIN d USING (gram)),
        |pf AS (SELECT id, gram, n_grams FROM pr WHERE pos <= n_grams - ceil(0.8 * n_grams) + 1),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |         FROM pf a JOIN pf b USING (gram)
        |         WHERE a.id < b.id
        |           AND CAST(least(a.n_grams, b.n_grams) AS DOUBLE) >=
        |               0.8 * CAST(greatest(a.n_grams, b.n_grams) AS DOUBLE)),
        |v AS (SELECT c.id_a, c.id_b,
        |        len(list_intersect(ga.grams, gb.grams)) AS shared,
        |        len(ga.grams) AS na, len(gb.grams) AS nb
        |      FROM cand c JOIN g ga ON ga.id = c.id_a JOIN g gb ON gb.id = c.id_b)
        |SELECT id_a, id_b, shared / CAST(na + nb - shared AS DOUBLE) AS jaccard
        |FROM v WHERE shared / CAST(na + nb - shared AS DOUBLE) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin
    Map(
      "kg_turns" ->
        s"WITH $turnsCte SELECT conv_id, turn_idx, role, text FROM turns ORDER BY conv_id, turn_idx",
      "kg_turn_checksums" ->
        s"WITH $turnsCte SELECT conv_id, turn_idx, sha256(text) AS checksum FROM turns ORDER BY conv_id, turn_idx",
      "kg_doc_assembly" ->
        s"""WITH $turnsCte
           |SELECT conv_id,
           |       sha256(string_agg(text, chr(10) ORDER BY turn_idx)) AS doc_checksum,
           |       CAST(count(*) AS INT) AS n_turns
           |FROM turns GROUP BY conv_id ORDER BY conv_id""".stripMargin,
      "kg_turn_offsets" ->
        s"""WITH $turnsCte
           |SELECT conv_id, turn_idx,
           |       CAST(coalesce(sum(length(text) + 1) OVER (
           |         PARTITION BY conv_id ORDER BY turn_idx
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS start_off
           |FROM turns ORDER BY conv_id, turn_idx""".stripMargin,
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          |       count(*) AS cnt
          |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q_join_inner" ->
        """SELECT c_mktsegment, count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_join_anti" ->
        """SELECT c_custkey, c_name FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |ORDER BY c_custkey""".stripMargin,
      "q_join_semi" ->
        """SELECT c_custkey FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
          |ORDER BY c_custkey""".stripMargin,
      "q_window_topk" ->
        """SELECT o_custkey, rn, o_orderkey FROM (
          |  SELECT o_custkey, o_orderkey,
          |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders) t
          |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
      "q_dedup_exact" ->
        """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_doc_id
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_token_stats" ->
        """SELECT lang, count(*) AS n_docs,
          |       CAST(sum(CAST(greatest(1, ceil(length(text) / 4.0)) AS BIGINT)) AS BIGINT) AS tokens_total,
          |       max(CAST(greatest(1, ceil(length(text) / 4.0)) AS BIGINT)) AS tokens_max
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_token_hist" ->
        """WITH t AS (SELECT CAST(greatest(1, ceil(length(text) / 4.0)) AS BIGINT) AS tok FROM documents)
          |SELECT CASE WHEN tok <= 64 THEN '<=0064' WHEN tok <= 128 THEN '<=0128'
          |            WHEN tok <= 256 THEN '<=0256' WHEN tok <= 512 THEN '<=0512'
          |            WHEN tok <= 1024 THEN '<=1024' WHEN tok <= 2048 THEN '<=2048'
          |            ELSE '>2048' END AS bucket,
          |       count(*) AS n
          |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_sessionize" ->
        """WITH e AS (
          |  SELECT user_id, event_id, ts,
          |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          |  FROM events),
          |s AS (
          |  SELECT user_id, event_id, ts,
          |         CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
          |  FROM e),
          |c AS (
          |  SELECT user_id,
          |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          |  FROM s)
          |SELECT user_id, CAST(max(session_seq) AS BIGINT) AS n_sessions, count(*) AS n_events
          |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_event_windows" ->
        """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start, event_type,
          |       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS v
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q_set_ops" ->
        """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
          |INTERSECT
          |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
          |EXCEPT
          |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          |ORDER BY custkey""".stripMargin,
      "q_rollup" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          |       coalesce(l_linestatus, 'ALL') AS linestatus,
          |       count(*) AS n
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY returnflag, linestatus""".stripMargin,
      "q_gazetteer_join" -> {
        val vals = gazetteerTerms.map(t => s"('$t')").mkString(", ")
        s"""WITH $turnsCte, dict(term) AS (VALUES $vals)
           |SELECT term, count(*) AS n_turn_mentions,
           |       count(DISTINCT conv_id) AS n_convs
           |FROM turns, dict
           |WHERE contains(text, term)
           |GROUP BY term ORDER BY term""".stripMargin
      },
      "q_ann_brute" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
          |s AS (
          |  SELECT q.query_id, e.vec_id,
          |    list_sum(list_transform(list_zip(e.embedding, q.q_emb),
          |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
          |    / sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
          |         * list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS score
          |  FROM embeddings e, q),
          |r AS (SELECT query_id, vec_id, score,
          |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
          |      FROM s)
          |SELECT query_id, CAST(rn AS INT) AS rank, vec_id, round(score, 4) AS score
          |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,
      "q_text_quality" ->
        """WITH f AS (
          |  SELECT doc_id,
          |    CAST(length(text) AS BIGINT) AS n_chars,
          |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
          |    round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / greatest(length(text), 1), 6) AS alpha_ratio,
          |    round(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) / greatest(length(text), 1), 6) AS punct_ratio,
          |    round(length(regexp_replace(text, '[^0-9]', '', 'g')) / greatest(length(text), 1), 6) AS digit_ratio,
          |    round(coalesce(list_sum(list_transform(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
          |        t -> CASE WHEN t IN ('the','and','of','to','is','in','that','it','was','for') THEN 1 ELSE 0 END)), 0)
          |      / greatest(CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0)) AS DOUBLE), 1.0), 6) AS stopword_ratio
          |  FROM documents)
          |SELECT doc_id, n_chars, n_tokens, alpha_ratio, punct_ratio, digit_ratio, stopword_ratio,
          |  CAST(floor((least(n_tokens / 100.0, 1.0) * 0.3 + alpha_ratio * 0.3 +
          |        stopword_ratio * 2.0 * 0.2 + (1.0 - least(digit_ratio * 5, 1.0)) * 0.2) * 1e6 + 0.5) AS BIGINT) AS quality_score_ppm
          |FROM f ORDER BY doc_id""".stripMargin,
      "q_token_counts" ->
        """SELECT doc_id,
          |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens,
          |  CAST(coalesce(list_sum(list_transform(
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0),
          |    w -> CAST(ceil(length(regexp_replace(w, '[^a-zA-Z0-9]', '', 'g')) / 4.0) AS BIGINT)
          |       + length(regexp_replace(w, '[a-zA-Z0-9]', '', 'g')))), 0) AS BIGINT) AS n_bpe_tokens,
          |  CAST(greatest(1, ceil(length(text) / 4.0)) AS BIGINT) AS n_est_tokens
          |FROM documents ORDER BY doc_id""".stripMargin,

      // ---- round-2 oracle expansion ----
      "q_lang_id" -> {
        val hitCols = TextAnalysis.stopwords.keys.toSeq.sorted.map { l =>
          val words = TextAnalysis.stopwords(l).map(sq).mkString(", ")
          s"list_sum(list_transform(toks, x -> CASE WHEN x IN ($words) THEN 1 ELSE 0 END)) AS h_$l"
        }.mkString(",\n  ")
        s"""WITH t AS (SELECT regexp_split_to_array(lower(text), '[^a-z0-9'']+') AS toks FROM documents),
           |h AS (SELECT
           |  $hitCols
           |FROM t),
           |b AS (SELECT h_en, h_de, h_fr, h_es, greatest(h_en, h_de, h_fr, h_es) AS best FROM h),
           |p AS (SELECT CASE WHEN best IS NULL OR best = 0 THEN 'und'
           |             WHEN h_fr = best THEN 'fr' WHEN h_es = best THEN 'es'
           |             WHEN h_en = best THEN 'en' ELSE 'de' END AS lang_pred FROM b)
           |SELECT lang_pred, count(*) AS n FROM p GROUP BY 1 ORDER BY 1""".stripMargin
      },
      "q_approx_distinct" ->
        """SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
          |       TRUE AS approx_within_5pct
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
      // ANN accuracy contracts: recall@5 >= 0.6 vs brute force must hold for
      // every query (deterministic LSH/IVF structure on frozen data; measured
      // min recall 0.6 at both sf0.01 and sf0.1).
      "q_ann_lsh" ->
        """SELECT vec_id AS query_id, TRUE AS recall_at_5_ge_06
          |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
      "q_ann_ivf" ->
        """SELECT vec_id AS query_id, TRUE AS recall_at_5_ge_06
          |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
      "q_ann_pq" ->
        """SELECT vec_id AS query_id, TRUE AS recall_at_5_ge_06
          |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
      "q_ann_ivfpq" ->
        """SELECT vec_id AS query_id, TRUE AS recall_at_5_ge_06
          |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
      "q_boilerplate" ->
        """WITH ls AS (
          |  SELECT doc_id AS id,
          |         string_split(text || chr(10) || '(c) 2026 example corp - all rights reserved',
          |                      chr(10)) AS lines
          |  FROM documents),
          |l AS (SELECT id, unnest(range(1, len(lines) + 1)) AS pos,
          |             unnest(lines) AS line FROM ls),
          |d AS (SELECT line, count(DISTINCT id) AS df FROM l GROUP BY 1),
          |k AS (SELECT l.id, l.pos, l.line FROM l JOIN d USING (line) WHERE d.df <= 2),
          |a AS (SELECT id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
          |             count(*) AS n_kept FROM k GROUP BY id)
          |SELECT ls.id,
          |       coalesce(a.clean_text, '') AS clean_text,
          |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept_lines,
          |       CAST(len(ls.lines) - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped_lines
          |FROM ls LEFT JOIN a USING (id) ORDER BY id""".stripMargin,
      "q_pack_batches" ->
        """WITH t AS (
          |  SELECT doc_id,
          |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
          |                              x -> len(x) > 0)) AS BIGINT) AS n_tokens
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS shard,
          |         sum(n_tokens) OVER (PARTITION BY doc_id % 4 ORDER BY doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
          |           AS cum_before
          |  FROM t)
          |SELECT doc_id, shard,
          |       CAST(floor(cum_before / 2000.0) AS BIGINT) AS batch_in_shard
          |FROM c ORDER BY doc_id""".stripMargin,
      "q_decontaminate" -> decontaminateSql,
      "q_decontaminate_hashed" -> decontaminateSql,
      // u = first 8 hex chars of md5(id) as a 32-bit int (nibble-parsed, the
      // simhash trick); thresholds = round(cum_fraction * 2^32), mirrored
      // exactly from Sampling.assignment
      "q_train_split" ->
        """WITH h AS (
          |  SELECT doc_id,
          |         CAST(list_sum(list_transform(range(1, 9),
          |           i -> (strpos('0123456789abcdef',
          |                   substr(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8),
          |                          CAST(i AS INT), 1)) - 1)
          |                * power(16, 8 - i))) AS BIGINT) AS u
          |  FROM documents)
          |SELECT doc_id,
          |       CASE WHEN u < 3435973837 THEN 'train'
          |            WHEN u < 3865470566 THEN 'val'
          |            ELSE 'test' END AS split
          |FROM h ORDER BY doc_id""".stripMargin,
      // Cross-engine ALL-PAIRS cosine count at the threshold (the exact set),
      // plus the operator's precision contract: zero emitted pairs outside it.
      "q_cosine_neardup" ->
        """WITH e AS (
          |  SELECT vec_id, embedding,
          |         list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
          |  FROM embeddings)
          |SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
          |       CAST(0 AS BIGINT) AS n_emitted_outside_exact,
          |       TRUE AS emitted_subset_ok
          |FROM e a JOIN e b ON a.vec_id < b.vec_id
          |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
          |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
          |      / sqrt(a.nrm * b.nrm) >= 0.2""".stripMargin,
      // MinHash-cluster invariants per exact-duplicate text group: group
      // sizes and min ids are value-exact; same-cluster and rep<=min ride as
      // contract booleans (the cluster labels themselves are engine-specific).
      "q_dedup_minhash" ->
        """SELECT md5(text) AS text_hash, count(*) AS n_members,
          |       min(doc_id) AS min_id,
          |       TRUE AS same_cluster, TRUE AS rep_le_min
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      // The synthetic-KG build is seeded and deterministic with measured
      // P/R = 1.0, so the oracle is the golden triple set itself (known by
      // construction from the generator) — a row-level exact comparison of
      // the whole extract->link->canonicalize pipeline output.
      "kg_triples_synth" -> {
        val golden = graft.source.TranscriptGen.goldenTriples(30L).toSeq
          .sortBy(t => (t.subj, t.pred, t.obj))
          .map(t => s"(${sq(t.subj)}, ${sq(t.pred)}, ${sq(t.obj)})")
          .mkString(",\n")
        s"""SELECT subj, pred, obj FROM (VALUES
           |$golden) AS golden(subj, pred, obj)
           |ORDER BY subj, pred, obj""".stripMargin
      },
      "kg_canonical_entities" -> {
        // the DuckDB side recomputes the connected-components closure with
        // WITH RECURSIVE over the same alias-chain edges the Resolver consumes
        val edges = (graft.extract.Gazetteer.aliasChainEdges ++
          graft.extract.Gazetteer.aliasRows.map(r => (r._1, r._1)))
          .map { case (u, v) => s"(${sq(u)}, ${sq(v)})" }.mkString(", ")
        val heads = graft.extract.Gazetteer.aliasRows
          .filter(r => graft.extract.Gazetteer.normalize(r._2) == r._1)
          .map(r => s"(${sq(r._1)}, ${sq(r._2)})").mkString(", ")
        val labels = graft.extract.Gazetteer.aliasRows.map(r => (r._1, r._3)).distinct
          .map { case (n, l) => s"(${sq(n)}, ${sq(l)})" }.mkString(", ")
        s"""WITH RECURSIVE
           |edges(u, v) AS (VALUES $edges),
           |sym(u, v) AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
           |nodes(n) AS (SELECT DISTINCT u FROM sym),
           |reach(n, m) AS (
           |  SELECT n, n FROM nodes
           |  UNION
           |  SELECT r.n, s.v FROM reach r JOIN sym s ON r.m = s.u),
           |rep AS (SELECT n AS member, min(m) AS rep FROM reach GROUP BY n),
           |heads(head_norm, display) AS (VALUES $heads),
           |lbl(norm, label) AS (VALUES $labels),
           |repdisp AS (
           |  SELECT r.rep AS rep, coalesce(min(h.display), r.rep) AS canon_name
           |  FROM rep r LEFT JOIN heads h ON r.member = h.head_norm
           |  GROUP BY r.rep)
           |SELECT r.member AS norm, r.rep AS canon_norm, d.canon_name,
           |       coalesce(l.label, '__Entity__') AS label
           |FROM rep r JOIN repdisp d ON r.rep = d.rep
           |LEFT JOIN lbl l ON r.member = l.norm
           |ORDER BY norm""".stripMargin
      },
      "q_dedup_ngram" -> ngramJaccardSql,
      "q_dedup_ngram_hashed" -> ngramJaccardSql,
      "q_fingerprint" ->
        """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks FROM documents)
          |SELECT doc_id,
          |  CASE WHEN len(toks) = 0 THEN '0'
          |       ELSE list_min(list_transform(generate_series(0, greatest(len(toks) - 8, 0)),
          |              i -> md5(array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ')))) END AS fingerprint
          |FROM t ORDER BY doc_id""".stripMargin,
      "kg_chunks" ->
        s"""WITH $turnsCte,
           |docs AS (SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS doc_text
           |         FROM turns GROUP BY conv_id),
           |c AS (
           |  SELECT conv_id, CAST(i AS INT) AS idx,
           |         CAST(i * 480 AS INT) AS start_off,
           |         CAST(least(i * 480 + 600, length(doc_text)) AS INT) AS end_off,
           |         substr(doc_text, CAST(i * 480 + 1 AS BIGINT), 600) AS chunk_text
           |  FROM docs, LATERAL unnest(generate_series(0,
           |         CAST(CASE WHEN length(doc_text) <= 600 THEN 0
           |              ELSE ceil((length(doc_text) - 600) / 480.0) END AS BIGINT))) AS t(i))
           |SELECT conv_id, idx,
           |       sha256(conv_id || ':' || CAST(idx AS VARCHAR) || ':' || sha256(chunk_text)) AS chunk_uid,
           |       sha256(chunk_text) AS checksum, start_off, end_off
           |FROM c ORDER BY conv_id, idx""".stripMargin,
      "kg_mentions" -> {
        // Token-split equality counting, NOT '\b'-regex counting: the scanner
        // uses ASCII-alnum boundaries ('_' is a boundary) while RE2's '\b'
        // treats '_' as a word char, and consuming boundary classes undercount
        // adjacent hits ("agg agg"). Splitting on the scanner's exact boundary
        // class and counting token equality is faithful by construction.
        val vals = gazetteerTerms.map(t => s"(${sq(t)})").mkString(", ")
        s"""WITH $turnsCte, dict(term) AS (VALUES $vals),
           |m AS (SELECT conv_id, turn_idx, term,
           |        len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
           |              x -> x = term)) AS n
           |      FROM turns, dict)
           |SELECT conv_id, turn_idx, term AS norm, CAST(n AS BIGINT) AS n
           |FROM m WHERE n > 0 ORDER BY conv_id, turn_idx, norm""".stripMargin
      },
      "kg_triples" -> {
        val vals = gazetteerTerms.map(t => s"(${sq(t)})").mkString(", ")
        s"""WITH $turnsCte, dict(term) AS (VALUES $vals),
           |tk AS (SELECT conv_id, turn_idx,
           |         list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) AS toks
           |       FROM turns),
           |pairs AS (
           |  SELECT toks[CAST(i AS INT)] AS tok_a, toks[CAST(i AS INT) + 1] AS tok_b
           |  FROM tk, LATERAL unnest(generate_series(1, len(toks) - 1)) AS g(i)),
           |hits AS (
           |  SELECT a.term AS subj, b.term AS obj
           |  FROM pairs p
           |  JOIN dict a ON regexp_matches(p.tok_a, '(^|[^a-zA-Z0-9])' || a.term || '$$')
           |  JOIN dict b ON regexp_matches(p.tok_b, '^' || b.term || '([^a-zA-Z0-9]|$$)'))
           |SELECT subj, 'NEXT_TO' AS pred, obj, count(*) AS n
           |FROM hits GROUP BY 1, 2, 3 ORDER BY subj, obj""".stripMargin
      },
      "q_dedup_simhash" -> {
        // 60-bit simhash: token hash = first 15 hex chars of md5, parsed via
        // strpos arithmetic; one vote term per bit
        val hexParse =
          "CAST(list_sum(list_transform(generate_series(1, 15), " +
            "i -> CAST(strpos('0123456789abcdef', substr(md5(tok), CAST(i AS INT), 1)) - 1 AS BIGINT) " +
            "<< (4 * (15 - CAST(i AS INT))))) AS BIGINT)"
        val bitTerms = (0 until 60).map { b =>
          s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 " +
            s"THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END"
        }.mkString("\n       + ")
        s"""WITH t AS MATERIALIZED (
           |  SELECT doc_id,
           |    list_transform(
           |      list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0),
           |      tok -> $hexParse) AS hs
           |  FROM documents)
           |SELECT doc_id AS id,
           |  CAST($bitTerms AS BIGINT) AS simhash
           |FROM t ORDER BY id""".stripMargin
      },
      "q_multimodal_features" ->
        """SELECT doc_id AS media_id,
          |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
          |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |  CAST(CASE CAST(doc_id % 3 AS INT)
          |       WHEN 2 THEN greatest(1, octet_length(encode(text)) // 1024)
          |       WHEN 1 THEN greatest(1, octet_length(encode(text)) // 4096)
          |       ELSE 1 END AS INT) AS frames_sampled
          |FROM documents ORDER BY media_id""".stripMargin,
      "q_semantic_expansion" -> {
        val vals = gazetteerTerms.map(t => s"(${sq(t)})").mkString(", ")
        s"""WITH $turnsCte,
           |docs AS (SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS doc_text
           |         FROM turns GROUP BY conv_id),
           |c AS (
           |  SELECT conv_id, CAST(i AS INT) AS idx,
           |         CAST(i * 480 AS INT) AS c_start,
           |         CAST(least(i * 480 + 600, length(doc_text)) AS INT) AS c_end,
           |         sha256(conv_id || ':' || CAST(i AS VARCHAR) || ':' ||
           |           sha256(substr(doc_text, CAST(i * 480 + 1 AS BIGINT), 600))) AS chunk_uid
           |  FROM docs, LATERAL unnest(generate_series(0,
           |         CAST(CASE WHEN length(doc_text) <= 600 THEN 0
           |              ELSE ceil((length(doc_text) - 600) / 480.0) END AS BIGINT))) AS t(i)),
           |offs AS (
           |  SELECT conv_id, turn_idx,
           |         CAST(coalesce(sum(length(text) + 1) OVER (
           |           PARTITION BY conv_id ORDER BY turn_idx
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS t_off
           |  FROM turns),
           |t2c AS (
           |  SELECT o.conv_id, o.turn_idx, arg_min(c.chunk_uid, c.idx) AS chunk_uid
           |  FROM offs o JOIN c ON o.conv_id = c.conv_id
           |   AND o.t_off >= c.c_start AND o.t_off < c.c_end
           |  GROUP BY o.conv_id, o.turn_idx),
           |dict(term) AS (VALUES $vals),
           |ment AS (
           |  SELECT DISTINCT t.conv_id, t.turn_idx, d.term
           |  FROM turns t, dict d
           |  WHERE list_contains(regexp_split_to_array(t.text, '[^a-zA-Z0-9]+'), d.term)),
           |ec AS (SELECT DISTINCT m.term, tc.chunk_uid
           |       FROM ment m JOIN t2c tc USING (conv_id, turn_idx)),
           |tk AS (SELECT conv_id, turn_idx,
           |         list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) AS toks
           |       FROM turns),
           |pairs AS (
           |  SELECT toks[CAST(i AS INT)] AS tok_a, toks[CAST(i AS INT) + 1] AS tok_b
           |  FROM tk, LATERAL unnest(generate_series(1, len(toks) - 1)) AS g(i)),
           |ed AS (
           |  SELECT DISTINCT a.term AS subj, b.term AS obj
           |  FROM pairs p
           |  JOIN dict a ON regexp_matches(p.tok_a, '(^|[^a-zA-Z0-9])' || a.term || '$$')
           |  JOIN dict b ON regexp_matches(p.tok_b, '^' || b.term || '([^a-zA-Z0-9]|$$)')),
           |mch AS (SELECT chunk_uid FROM c WHERE conv_id IN (${(0 until 10).map(i => sq(s"conv-$i")).mkString(", ")})),
           |anch AS (SELECT DISTINCT m.chunk_uid, e.term FROM mch m JOIN ec e USING (chunk_uid)),
           |rl AS (SELECT DISTINCT a.chunk_uid, ed.subj, ed.obj
           |       FROM anch a JOIN ed ON a.term = ed.subj OR a.term = ed.obj),
           |n AS (SELECT chunk_uid,
           |        array_to_string(list_sort(list_distinct(list(term))), ',') AS nodes_list
           |      FROM anch GROUP BY 1),
           |r AS (SELECT chunk_uid,
           |        array_to_string(list_sort(list_distinct(
           |          list('ent:' || subj || '|NEXT_TO|ent:' || obj))), ',') AS rels_list
           |      FROM rl GROUP BY 1)
           |SELECT n.chunk_uid, n.nodes_list, coalesce(r.rels_list, '') AS rels_list
           |FROM n LEFT JOIN r USING (chunk_uid) ORDER BY chunk_uid""".stripMargin
      },
      "q_retrieval_hybrid" -> {
        val qToks = HybridQueryText.toLowerCase.split("[^a-z0-9']+").filter(_.nonEmpty).distinct
        val hits = qToks.map(t => s"CASE WHEN list_contains(toks, ${sq(t)}) THEN 1.0 ELSE 0.0 END")
          .mkString(" + ")
        s"""WITH corpus AS (
           |  SELECT CAST(d.doc_id AS VARCHAR) AS chunk_uid, d.text, e.embedding
           |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
           |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
           |sv AS (
           |  SELECT chunk_uid,
           |    list_sum(list_transform(list_zip(c.embedding, q.q_emb),
           |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           |    / sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
           |         * list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS score_vector
           |  FROM corpus c, q),
           |vtop AS (SELECT chunk_uid, score_vector FROM (
           |  SELECT chunk_uid, score_vector,
           |         row_number() OVER (ORDER BY score_vector DESC, chunk_uid) AS rn FROM sv) t
           |  WHERE rn <= 20),
           |sf AS (
           |  SELECT chunk_uid, ($hits) / sqrt(1.0 + len(toks)) AS score_fulltext
           |  FROM (SELECT chunk_uid,
           |          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
           |        FROM corpus) t),
           |ftop AS (SELECT chunk_uid, score_fulltext FROM (
           |  SELECT chunk_uid, score_fulltext,
           |         row_number() OVER (ORDER BY score_fulltext DESC, chunk_uid) AS rn
           |  FROM sf WHERE score_fulltext > 0) t
           |  WHERE rn <= 20),
           |j AS (
           |  SELECT coalesce(v.chunk_uid, f.chunk_uid) AS chunk_uid,
           |         coalesce(v.score_vector, 0.0) AS score_vector,
           |         coalesce(f.score_fulltext, 0.0) AS score_fulltext
           |  FROM vtop v FULL OUTER JOIN ftop f ON v.chunk_uid = f.chunk_uid),
           |m AS (SELECT greatest(max(score_vector), 1e-12) AS vmax,
           |             greatest(max(score_fulltext), 1e-12) AS fmax FROM j),
           |fused AS (
           |  SELECT chunk_uid, score_vector / m.vmax + score_fulltext / m.fmax AS score
           |  FROM j, m),
           |top AS (SELECT chunk_uid, score FROM (
           |  SELECT chunk_uid, score, row_number() OVER (ORDER BY score DESC, chunk_uid) AS rn
           |  FROM fused) t WHERE rn <= 5)
           |SELECT chunk_uid, CAST(floor(score * 1e6 + 0.5) AS BIGINT) AS score_ppm
           |FROM top ORDER BY chunk_uid""".stripMargin
      }
    )
  }
}
