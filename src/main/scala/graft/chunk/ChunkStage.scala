package graft.chunk

import graft.model.ChunkProfile
import graft.util.Determinism
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed chunking stage.
  *
  * One "document" = one conversation (BASELINE.json input_hint): its text is
  * the turns' texts joined by "\n" under stable (conv_id, turn_idx) ordering —
  * the determinism the reference gets from sorted source discovery
  * (ref:src/fancyrag/kg/pipeline.py:491-499) and that the per-turn
  * text-equality invariant depends on.
  *
  * Shuffle budget: ONE hash exchange on conv_id feeds both the document
  * assembly (groupBy) and the turn-offset window; conversations are bounded
  * (a window's state is one conversation), so this layout survives 100x
  * scale-up — more conversations mean more partitions, not bigger ones.
  */
object ChunkStage {

  final case class ChunkRow(
      chunk_uid: String,
      conv_id: String,
      seq: Int,
      index: Int,
      text: String,
      checksum: String,
      start: Int,
      end: Int
  )

  /** Per-conversation assembled document text (columnar: collect_list +
    * array_sort gives stable ordering without a sort-shuffle).
    */
  def documents(turns: DataFrame): DataFrame =
    turns
      .groupBy("conv_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("turn_idx"), col("text")))),
            x => x.getField("text")),
          "\n").as("doc_text"),
        count(lit(1)).cast("int").as("n_turns"))

  /** Chunk rows with (start, end) offsets into the assembled text.
    * seq is 1-based (reference enumerate(chunks, start=1),
    * ref:src/fancyrag/kg/pipeline.py:520-565); index is the 0-based splitter
    * index; uid is the deterministic sha256 uid (Chunker.chunkUid).
    */
  def chunks(turns: DataFrame, profile: ChunkProfile): DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._
    documents(turns)
      .select("conv_id", "doc_text")
      .as[(String, String)]
      .flatMap { case (conv, text) =>
        Chunker.split(text, profile.chunkSize, profile.overlap, profile.approximate).map { rc =>
          ChunkRow(Chunker.chunkUid(conv, rc.index, rc.text), conv,
            rc.index + 1, rc.index, rc.text, Determinism.sha256(rc.text),
            rc.start, rc.end)
        }
      }
      .toDF()
  }

  /** Start offset of each turn inside its conversation's assembled text:
    * sum(length(text) + 1) over prior turns (the +1 is the "\n" joiner).
    */
  def turnOffsets(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    turns.withColumn("start_off",
      coalesce(sum(length(col("text")) + 1).over(w), lit(0L)).cast("int"))
  }
}
