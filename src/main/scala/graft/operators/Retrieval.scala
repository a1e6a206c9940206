package graft.operators

import graft.functions.Embeddings
import graft.qa.QaEvaluator
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval surface over the materialized chunk table — the engine's analog
  * of the reference's serving path (ref:src/fancyrag/mcp/runtime.py:30-233):
  * vector top-k (R1), fulltext top-k (R2), hybrid fusion with per-source
  * max-normalized scores (R3/A9/J9), and semantic 1-hop expansion (J6).
  * Index-free: brute-force at eval scale; the LSH path in [[Ann]] is the
  * scale-out variant.
  */
object Retrieval {

  /** R1: cosine top-k of chunks against an embedded query string. */
  def vectorTopK(chunks: DataFrame, queryText: String, k: Int, dim: Int): DataFrame =
    vectorTopKVec(chunks, Embeddings.embed(queryText, dim).toSeq, k)

  /** R1 with an explicit query vector (e.g. precomputed embeddings). */
  def vectorTopKVec(chunks: DataFrame, qv: Seq[Float], k: Int): DataFrame = {
    val qCol = array(qv.map(v => lit(v.toDouble)): _*)
    chunks
      .withColumn("score_vector", Ann.cosine(col("embedding"), qCol))
      .orderBy(col("score_vector").desc, col("chunk_uid"))
      .limit(k)
      .select("chunk_uid", "text", "score_vector")
  }

  /** R2: fulltext scoring = distinct query-token hits with Lucene-style
    * inverse-sqrt length norm (the reference delegates to a Lucene index,
    * ref:scripts/create_fulltext_index.py:94-97; Lucene's classic norm is
    * 1/sqrt(fieldLength)). hits and token counts are integers and sqrt is
    * correctly rounded per IEEE 754, so the score is bit-deterministic across
    * engines — which is what lets the DuckDB oracle verify hybrid fusion
    * end-to-end (a log-based dampener would differ in the last ulp).
    */
  def fulltextScore(textCol: Column, queryText: String): Column = {
    val qToks = queryText.toLowerCase.split("[^a-z0-9']+").filter(_.nonEmpty).distinct
    val toks = filter(split(lower(textCol), "[^a-z0-9']+"), t => length(t) > 0)
    val hits = qToks.map(t => when(array_contains(toks, t), 1.0).otherwise(0.0))
      .reduceOption(_ + _).getOrElse(lit(0.0))
    hits / sqrt(lit(1.0) + size(toks).cast("double"))
  }

  def fulltextTopK(chunks: DataFrame, queryText: String, k: Int): DataFrame =
    chunks
      .withColumn("score_fulltext", fulltextScore(col("text"), queryText))
      .filter(col("score_fulltext") > 0)
      .orderBy(col("score_fulltext").desc, col("chunk_uid"))
      .limit(k)
      .select("chunk_uid", "text", "score_fulltext")

  /** R3: hybrid fusion. Over-fetch k*ratio from each source
    * (ref:src/fancyrag/mcp/runtime.py:120-127), full-outer join per chunk
    * (J9), max-normalize per source (A9, 0-guarded), fuse, final top-k.
    * Normalization uses a scalar aggregate broadcast back onto the candidate
    * set — NOT an unpartitioned window (which moves the whole candidate set
    * to one partition and spams WindowExec warnings). For many queries at
    * once use [[hybridBatch]].
    */
  def hybrid(chunks: DataFrame, queryText: String, k: Int,
      ratio: Int = 4, dim: Int = 64): DataFrame =
    hybridVec(chunks, Embeddings.embed(queryText, dim).toSeq, queryText, k, ratio)

  /** R3 with an explicit query vector. */
  def hybridVec(chunks: DataFrame, qv: Seq[Float], queryText: String, k: Int,
      ratio: Int = 4): DataFrame = {
    val vec = vectorTopKVec(chunks, qv, k * ratio)
      .select(col("chunk_uid"), col("text").as("t_v"), col("score_vector"))
    val ft = fulltextTopK(chunks, queryText, k * ratio)
      .select(col("chunk_uid"), col("text").as("t_f"), col("score_fulltext"))
    val joined = vec.join(ft, Seq("chunk_uid"), "full_outer")
      .select(col("chunk_uid"), coalesce(col("t_v"), col("t_f")).as("text"),
        coalesce(col("score_vector"), lit(0.0)).as("score_vector"),
        coalesce(col("score_fulltext"), lit(0.0)).as("score_fulltext"))
    val maxes = joined.agg(
      greatest(max(col("score_vector")), lit(1e-12)).as("__vmax"),
      greatest(max(col("score_fulltext")), lit(1e-12)).as("__fmax"))
    joined.crossJoin(broadcast(maxes))
      .withColumn("score",
        col("score_vector") / col("__vmax") + col("score_fulltext") / col("__fmax"))
      .orderBy(col("score").desc, col("chunk_uid"))
      .limit(k)
      .select("chunk_uid", "text", "score", "score_vector", "score_fulltext")
  }

  /** R3 batched over N queries in one plan: `queries` is a (small) DataFrame
    * (query_id, q_emb array<float>, q_text string), broadcast against the
    * chunk table; every window is PARTITIONED by query_id so the plan scales
    * with both corpus size and query count.
    */
  def hybridBatch(chunks: DataFrame, queries: DataFrame, k: Int,
      ratio: Int = 4): DataFrame = {
    val toks = filter(split(lower(col("text")), "[^a-z0-9']+"), t => length(t) > 0)
    val qToks = filter(split(lower(col("q_text")), "[^a-z0-9']+"), t => length(t) > 0)
    val scored = chunks.select(col("chunk_uid"), col("text"), col("embedding"))
      .crossJoin(broadcast(queries.select(col("query_id"), col("q_emb"),
        array_distinct(qToks).as("q_toks"))))
      .withColumn("score_vector", Ann.cosine(col("embedding"), col("q_emb")))
      .withColumn("score_fulltext",
        size(array_intersect(array_distinct(toks), col("q_toks"))).cast("double") /
          sqrt(lit(1.0) + size(toks).cast("double")))
    val wV = Window.partitionBy("query_id")
      .orderBy(col("score_vector").desc, col("chunk_uid"))
    val wF = Window.partitionBy("query_id")
      .orderBy(col("score_fulltext").desc, col("chunk_uid"))
    val fetched = scored
      .withColumn("rv", row_number().over(wV))
      .withColumn("rf", row_number().over(wF))
      .filter(col("rv") <= k * ratio || (col("score_fulltext") > 0 && col("rf") <= k * ratio))
    val maxes = fetched.groupBy("query_id").agg(
      greatest(max(col("score_vector")), lit(1e-12)).as("__vmax"),
      greatest(max(when(col("rf") <= k * ratio, col("score_fulltext"))
        .otherwise(lit(0.0))), lit(1e-12)).as("__fmax"))
    val wS = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("chunk_uid"))
    fetched.join(broadcast(maxes), Seq("query_id"))
      .withColumn("score",
        when(col("rv") <= k * ratio, col("score_vector")).otherwise(lit(0.0)) / col("__vmax") +
          when(col("rf") <= k * ratio, col("score_fulltext")).otherwise(lit(0.0)) / col("__fmax"))
      .withColumn("rank", row_number().over(wS))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "chunk_uid", "score")
  }

  /** R4: fetch a node by id, with the embedding stripped from what the caller
    * sees (ref:src/fancyrag/mcp/runtime.py:40-43,63-74,236-272).
    */
  def fetchById(nodes: DataFrame, id: String): DataFrame =
    nodes.filter(col("id") === id).drop("embedding")

  /** J5: enrich matched chunks with their document (left outer — matches
    * without a known document survive; ref:scripts/ask_qdrant.py:43-57
    * OPTIONAL MATCH (doc:Document)-[:HAS_CHUNK]->(node)).
    */
  def withDocument(matches: DataFrame, chunks: DataFrame): DataFrame =
    matches.join(
      chunks.select(col("chunk_uid"), col("conv_id").as("document")),
      Seq("chunk_uid"), "left_outer")

  /** J6: 1-hop semantic expansion of matched chunks — entities mentioned in
    * the chunk plus their semantic relations in BOTH directions, collected
    * DISTINCT per chunk. The reference traverses the relationship UNDIRECTED
    * and constrains the FAR endpoint to an entity node:
    * `(entity)-[rel {semantic_source}]-(target:__Entity__)`
    * (ref:scripts/ask_qdrant.py:259-292; ref:queries/hybrid_retrieval.cypher:6),
    * selecting relations by their semantic_source property, not by a
    * hardcoded type list. Both endpoints are therefore semi-joined against
    * the entity node set here — KgBuild also stamps semantic_source on
    * chunk→entity INGESTED_BY provenance edges, which must NOT flood the
    * expansion (their chunk endpoint is not an entity).
    */
  def semanticExpansion(matches: DataFrame, nodes: DataFrame, edges: DataFrame): DataFrame = {
    val entityNodes = nodes
      .filter(array_contains(col("labels"), "__Entity__"))
      .select(col("id").as("ent_id"), col("name").as("ent_name"),
        col("props").getItem("chunk_uids").as("chunk_uids_json"))
    // entity -> chunk binding via provenance chunk_uids
    val entChunks = entityNodes
      .select(col("ent_id"), col("ent_name"),
        explode(from_json(col("chunk_uids_json"),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
          .as("chunk_uid"))
    val entIds = entityNodes.select(col("ent_id").as("__eid"))
    val semEdges = edges
      .filter(QaEvaluator.semanticEdge)
      .select(col("src"), col("rel_type"), col("dst"))
      .join(entIds, col("src") === col("__eid"), "left_semi")
      .join(entIds, col("dst") === col("__eid"), "left_semi")
    val anchored = matches.select("chunk_uid").join(entChunks, Seq("chunk_uid"))
    // Undirected traversal as ONE join: each edge is keyed by both endpoints
    // (the edge table doubles — it is the filtered SEMANTIC edge set, not the
    // full graph), so the anchor set and the `matches` plan beneath it are
    // evaluated once instead of three times (outgoing + incoming + final).
    // collect_set dedups the self-loop double-emission.
    val undirected = semEdges
      .select(col("src").as("ent_id"), col("src"), col("rel_type"), col("dst"))
      .unionByName(semEdges
        .select(col("dst").as("ent_id"), col("src"), col("rel_type"), col("dst")))
    anchored
      .join(undirected, Seq("ent_id"), "left_outer")
      .groupBy("chunk_uid")
      .agg(
        collect_set(col("ent_name")).as("semantic_nodes"),
        collect_set(when(col("rel_type").isNotNull,
          struct(col("src"), col("rel_type"), col("dst")))).as("semantic_relationships"))
  }
}
