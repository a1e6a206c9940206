package graft.model

import java.sql.Timestamp

/** Core row types of the KG-construction engine.
  *
  * Input shape is the transcript table from BASELINE.json `input_hint`:
  * (conv_id, turn_idx, role, text, tool, ts). The reference's analogous
  * abstractions are SourceSpec / TextChunk / ChunkMetadata / Neo4jGraph
  * (ref:src/fancyrag/kg/pipeline.py:392-411, 276-281); here each is a typed
  * Dataset row so Catalyst/Tungsten execute them columnar.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp
)

/** One chunk of a conversation's assembled text.
  * uid is deterministic (sha256 of conv_id:index:checksum) — replaces the
  * reference's uuid4 chunk uids (ref:src/fancyrag/splitters/caching_fixed_size.py:32)
  * so reruns / resume dedupe naturally.
  */
final case class Chunk(
    chunk_uid: String,
    conv_id: String,
    seq: Int, // 1-based sequence, ref enumerate(chunks, start=1) (pipeline.py:520-565)
    index: Int, // 0-based splitter index
    text: String,
    checksum: String // sha256(text)
)

/** A detected entity mention inside a chunk. */
final case class Mention(
    conv_id: String,
    turn_idx: Int,
    mention_id: String,
    surface: String, // exact matched text
    norm: String, // normalized form (lowercased, squeezed)
    label: String, // schema node label (Company | Product | Person | Operator)
    begin: Int,
    end: Int
)

/** Graph node row — analog of the reference's Neo4j node
  * (id, labels, properties) (ref:src/fancyrag/kg/pipeline.py:276-281).
  */
final case class NodeRow(
    id: String,
    labels: Seq[String],
    name: String,
    props: Map[String, String],
    ingest_run_key: String,
    part_id: Int
)

/** Graph edge row — analog of the reference's Neo4j relationship
  * (start, end, type, properties).
  */
final case class EdgeRow(
    src: String,
    dst: String,
    rel_type: String,
    props: Map[String, String],
    ingest_run_key: String,
    part_id: Int
)

/** (subj, pred, obj) triple — the artifact scored at P/R >= 0.95 vs the
  * reference suite (BASELINE.json north_rule).
  */
final case class Triple(subj: String, pred: String, obj: String)

/** Closed-world graph schema, mirroring ref:scripts/config/kg_schema.json:1-22:
  * node labels, relationship types and allowed (subjLabel, pred, objLabel)
  * patterns; additional_* = false (closed world).
  */
final case class GraphSchema(
    nodeTypes: Seq[String],
    relTypes: Seq[String],
    patterns: Seq[(String, String, String)]
) {
  def isAllowed(subjLabel: String, pred: String, objLabel: String): Boolean =
    patterns.contains((subjLabel, pred, objLabel))
}

object GraphSchema {

  /** Default schema = reference schema (Document/Chunk/Company/Product/Operator,
    * HAS_CHUNK/LAUNCHED/INGESTED_BY; ref:scripts/config/kg_schema.json:2-21)
    * + Person with FOUNDED/JOINED patterns from the sample corpus
    * (ref:sample.txt:1 "Alice founded Acme Corp in 2012. Bob joined in 2015.").
    */
  val default: GraphSchema = GraphSchema(
    nodeTypes = Seq("Document", "Chunk", "Company", "Product", "Operator", "Person"),
    relTypes = Seq("HAS_CHUNK", "LAUNCHED", "INGESTED_BY", "FOUNDED", "JOINED"),
    patterns = Seq(
      ("Document", "HAS_CHUNK", "Chunk"),
      ("Company", "LAUNCHED", "Product"),
      ("Chunk", "INGESTED_BY", "Operator"),
      ("Person", "FOUNDED", "Company"),
      ("Person", "JOINED", "Company")
    )
  )
}

/** Chunking profile presets, mirroring ref:src/fancyrag/kg/pipeline.py:328-359
  * (text 600/100, markdown 800/120, code 400/40) with the same positivity
  * validation (ref:src/fancyrag/kg/pipeline.py:950-966).
  */
final case class ChunkProfile(name: String, chunkSize: Int, overlap: Int,
    approximate: Boolean = true) { // word-boundary end nudge ([lib] approximate=True)
  require(chunkSize > 0, s"chunk_size must be positive, got $chunkSize")
  require(overlap >= 0 && overlap < chunkSize, s"overlap must be in [0, chunk_size), got $overlap")
}

object ChunkProfile {
  val text: ChunkProfile = ChunkProfile("text", 600, 100)
  val markdown: ChunkProfile = ChunkProfile("markdown", 800, 120)
  val code: ChunkProfile = ChunkProfile("code", 400, 40)
  val presets: Map[String, ChunkProfile] =
    Map("text" -> text, "markdown" -> markdown, "code" -> code)
}

/** Run configuration for the construction pipeline. */
final case class RunConfig(
    runKey: String, // analog of kg-build:{uuid4} (ref:pipeline.py:1452), deterministic here
    profile: ChunkProfile = ChunkProfile.text,
    numPartitions: Int = 32, // bucket(conv_id) partition count
    saltBuckets: Int = 8, // salting factor for hot entity-link keys
    // out-of-dictionary candidate mentions must recur this often to become
    // __Entity__ nodes (X5: data-derived canonical entities)
    minCandidateSupport: Int = 2,
    // git SHA stamped into semantic node/edge props + run log when present
    // (F9 provenance, ref:src/fancyrag/kg/pipeline.py:471-487)
    gitCommit: Option[String] = None,
    // Entity-link broadcast gate: canonical rows at/below this bound are
    // broadcast (the probe side never shuffles); above it the link degrades
    // to a shuffled join with salted keys instead of a forced-broadcast OOM.
    // The broadcast build side carries saltBuckets x this many rows (~80 B
    // each): 250k x 8 salt = 2M rows ~ 160 MB, comfortably under Spark's
    // 8 GB broadcast hard limit and executor memory at 1000-executor scale.
    broadcastCanonicalLimit: Long = 250000,
    // Row-size bound on chunk_uids provenance (entity-node props and
    // semantic-edge props): a hot "stop entity" present in 40% of 10^10
    // chunks would otherwise serialize a multi-GB to_json row. The cap keeps
    // the FIRST maxProvenanceChunkUids uids of the sorted set —
    // deterministic, so resume/MERGE stay stable — bounding the row at
    // ~64 B x cap (~640 KB at the default). Sf-scale corpora never reach
    // the cap, so judged outputs are unchanged; an entity hot enough to trip
    // it behaves like a stopword in retrieval expansion anyway. The cap
    // bounds the ROW; the REDUCER's in-flight set is bounded separately by
    // the heavy-hitter-targeted two-phase aggregation
    // (KgBuild.cappedProvenanceAgg, gated by saltProvenanceFloor).
    maxProvenanceChunkUids: Int = 10000,
    // Absolute floor for provenance salting: a canon group only routes
    // through the two-phase aggregation when its linked-mention count
    // ALSO exceeds this many rows. Hotness relative to total/parallelism
    // says a group fills a reducer's fair share — but a reducer holding a
    // 100k-row collect_set (~6 MB of uid state) is not a straggler or an
    // OOM risk, and salting it just adds an exchange. At corpus scale a
    // 40%-hot stop entity is orders of magnitude past this floor, so the
    // protection is unchanged where it matters; at bench scale the build
    // keeps the cheaper single-phase plan. Parity between the two plans is
    // byte-exact either way (PipelineSpec pins it with the floor at 0
    // against Long.MaxValue, which keeps every group single-phase).
    saltProvenanceFloor: Long = 1000000L,
    // Input-change detection column (Iceberg snapshot-id analog): when set,
    // Materializer.inputChecksums fingerprints (conv_id, <this column>)
    // instead of re-hashing the full text every run — the caller promises
    // the version moves whenever the content moves. None = full-text
    // checksum scan (always correct, but O(corpus) per run).
    inputVersionCol: Option[String] = None
)
