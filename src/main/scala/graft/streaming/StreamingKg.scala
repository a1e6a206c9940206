package graft.streaming

import graft.extract.Extractor
import graft.model.Turn
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming face of the construction pipeline: transcripts arrive
  * as an unbounded stream and triples are emitted incrementally.
  *
  * The reference is batch-only (SURVEY.md §2.10); this module exists because
  * a transcript table at 10^12-turn scale is fed continuously in practice.
  * Two pieces:
  *
  *  - stateless extraction: the gazetteer/pattern extractor is a narrow map,
  *    so it streams as-is;
  *  - stateful cross-turn anaphora: the "joined in <year>" rule needs the
  *    most recent prior Company mention PER CONVERSATION — carried across
  *    micro-batches with flatMapGroupsWithState keyed by conv_id (the
  *    streaming form of the running variable in ConvStage.perConversation).
  *
  * Ordering caveat: within a micro-batch turns are sorted by turn_idx; across
  * micro-batches the source must deliver a conversation's turns in order
  * (true for append-only transcript logs partitioned by conv_id).
  */
object StreamingKg {

  final case class ConvState(lastCompanyNorm: String) // "" = none yet

  final case class StreamedRel(
      conv_id: String,
      turn_idx: Int,
      subj_norm: String,
      pred: String,
      obj_norm: String
  )

  def extractRelations(conv: String, turns: Iterator[Turn],
      state: GroupState[ConvState]): Iterator[StreamedRel] = {
    val sorted = turns.toSeq.sortBy(_.turn_idx)
    var last = state.getOption.map(_.lastCompanyNorm).filter(_.nonEmpty)
    val out = Seq.newBuilder[StreamedRel]
    sorted.foreach { t =>
      // null ≡ "" — same normalization boundary as ConvStage.artifacts
      val e = Extractor.extractTurn(t.conv_id, t.turn_idx,
        if (t.text == null) "" else t.text)
      val companyHere = e.mentions.filter(_.label == "Company")
        .sortBy(_.begin).lastOption.map(_.norm)
      e.rels.foreach { r =>
        val obj = if (r.anaphora) last else r.obj_norm
        obj.foreach(o => out += StreamedRel(t.conv_id, t.turn_idx, r.subj_norm, r.pred, o))
      }
      if (companyHere.isDefined) last = companyHere
    }
    state.update(ConvState(last.getOrElse("")))
    out.result().iterator
  }

  /** Streaming relation extraction over a (possibly unbounded) turns Dataset. */
  def relationStream(turns: Dataset[Turn]): Dataset[StreamedRel] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(extractRelations)
  }

  final case class DocRow(doc_id: Long, text: String)
  final case class SeenDoc(firstId: Long)

  /** Streaming exact dedup for continuous training-data ingest: emits only
    * the FIRST document seen per content checksum, across micro-batches.
    * Within a micro-batch the lowest doc_id wins (same keep-lowest-id
    * contract as the batch operator, Dedup.exactDedup); once a checksum has
    * emitted, later arrivals are dropped forever.
    *
    * Scale shape: state is keyed by sha-256 of the text and holds ONE long
    * per distinct document ever seen — the streaming analog of the batch
    * hash-groupBy, with the state store (RocksDB in production) playing the
    * role of the shuffle. Near-dup (minhash) dedup is deliberately NOT
    * offered as a streaming operator: its candidate join needs all prior
    * band buckets, which is a batch join against the accumulated corpus,
    * not per-key state.
    */
  def dedupFirstSeen(sha: String, rows: Iterator[DocRow],
      state: GroupState[SeenDoc]): Iterator[DocRow] = {
    if (state.exists || !rows.hasNext) Iterator.empty
    else {
      val first = rows.minBy(_.doc_id)
      state.update(SeenDoc(first.doc_id))
      Iterator.single(first)
    }
  }

  /** Streaming face of exact dedup over a (doc_id, text) stream. */
  def dedupStream(docs: Dataset[DocRow]): Dataset[DocRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .groupByKey(d => graft.util.Determinism.sha256(if (d.text == null) "" else d.text))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(dedupFirstSeen)
  }

  /** Watermarked tumbling-window mention counts — the windowed-aggregation
    * shape (late data beyond 10 minutes dropped).
    */
  def mentionCountsByWindow(turns: Dataset[Turn]): Dataset[_] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns
      .flatMap(t => Extractor.extractTurn(t.conv_id, t.turn_idx, t.text)
        .mentions.map(m => (m.label, t.ts)))
      .toDF("label", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("label"))
      .count()
  }
}
