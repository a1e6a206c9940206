package graft

import java.sql.Timestamp

import graft.chunk.ConvStage
import graft.model.{ChunkProfile, Turn}
import graft.streaming.StreamingKg
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming: incremental extraction with cross-micro-batch
  * per-conversation state (anaphora carried by flatMapGroupsWithState).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def ts(i: Int) = new Timestamp(1700000000000L + i * 60000L)

  test("stateful streaming: anaphoric JOINED binds across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val query = StreamingKg.relationStream(input.toDS())
      .writeStream.format("memory").queryName("rels")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: establishes lastCompany for conv c1
      input.addData(Turn("c1", 0, "user", "Ada Lovelace founded Globex in 2001.", None, ts(0)))
      query.processAllAvailable()
      // batch 2: anaphora in a LATER micro-batch must see Globex from state
      input.addData(Turn("c1", 1, "user", "Bob Marsh joined in 2003.", None, ts(1)))
      query.processAllAvailable()
      val rows = spark.table("rels")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4)))
      assert(rows.contains(("c1", 0, "ada lovelace", "FOUNDED", "globex")))
      assert(rows.contains(("c1", 1, "bob marsh", "JOINED", "globex")),
        s"state not carried across batches: ${rows.mkString(";")}")
    } finally query.stop()
  }

  test("streaming matches batch extraction on a replayed conversation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val turns = graft.source.TranscriptGen.conversation(5L).map(_.turn)
    val input = MemoryStream[Turn]
    val query = StreamingKg.relationStream(input.toDS())
      .writeStream.format("memory").queryName("rels2")
      .outputMode(OutputMode.Append()).start()
    try {
      // feed in two chunks to cross a micro-batch boundary mid-conversation
      val (a, b) = turns.splitAt(turns.size / 2)
      input.addData(a); query.processAllAvailable()
      input.addData(b); query.processAllAvailable()
      val streamed = spark.table("rels2")
        .select("subj_norm", "pred", "obj_norm")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val batch = ConvStage.perConversation(turns.head.conv_id,
        turns.map(t => (t.turn_idx, t.text)), ChunkProfile.text)
        .rels.map(r => (r.subj_norm, r.pred, r.obj_norm)).toSet
      assert(streamed == batch)
    } finally query.stop()
  }

  test("streaming exact dedup: first-seen wins within and across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingKg.DocRow]
    val query = StreamingKg.dedupStream(input.toDS())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: in-batch duplicate (7 vs 3 -> 3 wins) + a unique doc
      input.addData(
        StreamingKg.DocRow(7L, "alpha text"),
        StreamingKg.DocRow(3L, "alpha text"),
        StreamingKg.DocRow(5L, "beta text"))
      query.processAllAvailable()
      // batch 2: cross-batch duplicate of both + one new doc
      input.addData(
        StreamingKg.DocRow(1L, "alpha text"), // later arrival loses to state
        StreamingKg.DocRow(9L, "beta text"),
        StreamingKg.DocRow(8L, "gamma text"))
      query.processAllAvailable()
      val rows = spark.table("dedup")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((3L, "alpha text"), (5L, "beta text"), (8L, "gamma text")),
        s"got $rows")
    } finally query.stop()
  }

  test("watermarked windowed mention counts run end-to-end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val query = StreamingKg.mentionCountsByWindow(input.toDS())
      .writeStream.format("memory").queryName("wins")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        Turn("c1", 0, "user", "Acme Corp launched HoverBoard X on 2024-01-01.", None, ts(0)),
        Turn("c1", 1, "user", "Grace Hopper joined Acme Corp.", None, ts(10)))
      query.processAllAvailable()
      val total = spark.table("wins").agg(org.apache.spark.sql.functions.sum("count"))
        .collect()(0).getLong(0)
      assert(total == 4) // Acme Corp, HoverBoard X, Grace Hopper, Acme Corp
    } finally query.stop()
  }
}
