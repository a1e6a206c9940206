package perfbench

import java.util.SplittableRandom

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import Common._

/** `dedup`: the n-gram Jaccard (string and hashed grams) and minhash
  * operators over a seeded word-bag corpus with injected near-duplicates.
  */
object DedupWorkload {

  /** The 31-word vocabulary and 10 to 100 word lengths of the suite's
    * documents table.
    */
  val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch dup").split(" ").toIndexedSeq
  val CopyOffset = 1000000L
  /** Passes per run at least: a pass takes ~6 s, so a run's median rests
    * on three samples rather than one or two.
    */
  val MinPasses = 3
  val NgramThreshold = 0.8
  val MinhashThreshold = 0.5

  /** Documents plus shifted-id copies of a seeded tenth of them; half the
    * copies get one word changed. Returns the unedited (original, copy)
    * id pairs, which every n-gram run must find.
    */
  def writeDocs(spark: SparkSession, dir: String, seed: Long, n: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    val rnd = new SplittableRandom(seed)
    val docs = (0 until n).map { i =>
      i.toLong -> Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    }
    val copied = rnd.ints(n.toLong / 10, 0, n).toArray.distinct.sorted.toSeq
    val edited = copied.filter(_ => rnd.nextBoolean()).toSet
    val copies = copied.map { i =>
      val words = docs(i)._2.split(" ")
      if (edited(i)) {
        val at = rnd.nextInt(words.length)
        words(at) = Vocab((Vocab.indexOf(words(at)) + 1 + rnd.nextInt(Vocab.size - 1)) % Vocab.size)
      }
      (i + CopyOffset) -> words.mkString(" ")
    }
    (docs ++ copies).toDF("doc_id", "text").repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(dir)
    copied.filterNot(edited).map(i => (i.toLong, i + CopyOffset))
  }

  /** One pass: each operator's output, and each call's wall time. */
  final case class Pass(ngram: Map[(Long, Long), Double], hashed: Map[(Long, Long), Double],
      clusters: DataFrame, times: Seq[Double])

  def pairs(df: DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  def pass(docs: DataFrame, span: (String, () => Unit) => Unit): Pass = {
    var ngram, hashed, clusters: DataFrame = null
    val times = Seq[(String, () => Unit)](
      "Dedup.ngramJaccardPairs" -> (() => {
        ngram = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, NgramThreshold); force(ngram) }),
      "Dedup.ngramJaccardPairs(hashGrams)" -> (() => {
        hashed = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, NgramThreshold, hashGrams = true)
        force(hashed) }),
      "Dedup.minhashClusters" -> (() => {
        clusters = Dedup.minhashClusters(docs, "doc_id", "text", threshold = MinhashThreshold)
        force(clusters) })
    ).map { case (call, body) => timed(span(call, body))._2 }
    Pass(pairs(ngram), pairs(hashed), clusters, times)
  }

  /** Exact-text groups whose members do not share one cluster or whose
    * cluster rep exceeds the group's smallest id, plus ids missing from or
    * repeated in the clusters.
    */
  def minhashViolations(docs: DataFrame, clusters: DataFrame): Long = {
    val groups = docs.select(sha2(col("text"), 256).as("h"), col("doc_id").as("id"))
      .join(clusters, Seq("id"), "left")
      .groupBy("h")
      .agg((countDistinct(col("cluster_rep")) === 1 && count(col("cluster_rep")) === count(lit(1)))
        .as("same_cluster"),
        (max(col("cluster_rep")) <= min(col("id"))).as("rep_le_min"))
    val bad = groups.filter(!col("same_cluster") || !col("rep_le_min")).count()
    bad + math.abs(clusters.count() - clusters.select("id").distinct().count()) +
      math.abs(docs.count() - clusters.count())
  }

  def run(spark: SparkSession, a: Args): Result = {
    val dir = s"${a.work}/documents"
    val (copies, setupS) = Setup.repeat(_ => writeDocs(spark, dir, a.seed, a.sizes.dedupDocs))
    val docs = spark.read.parquet(dir)
    val nDocs = docs.count()
    val untraced: (String, () => Unit) => Unit = (_, body) => body()
    pass(docs, untraced) // warm-up
    val ops = new Ops
    def check(label: String, p: Pass, corrupt: Boolean): Seq[String] = {
      val hashed = Corrupt.pairs(a, corrupt, p.hashed)
      Checks.dedup(p.ngram, hashed, copies, minhashViolations(docs, p.clusters))
    }
    if (a.trace) {
      val plain = ops.attempt("untraced pass")(pass(docs, untraced))(_ => None)
      val tr = new Tracer(spark)
      val traced = ops.attempt("traced pass")(
        pass(docs, (call, body) => tr.span("operators.dedup", 1, call)(body())))(_ => None)
      val sigs = tr.span("operators.dedup", 2, "Dedup.signatures") {
        val s = Dedup.signatures(docs, "doc_id", "text").persist()
        force(s)
        s
      }
      tr.span("operators.dedup", 2, "Dedup.minhashPairs")(
        force(Dedup.minhashPairs(sigs, 64, 16, MinhashThreshold)))
      sigs.unpersist()
      // the pass's wall, including collecting its pairs, is what the spans cover
      val extras = for ((p, _) <- plain; (t, tracedS) <- traced) yield {
        ops.checked("untraced pass", p.times.sum, check("untraced pass", p, corrupt = false))
        ops.checked("traced pass", t.times.sum, check("traced pass", t, corrupt = false) ++
          (if (t.ngram == p.ngram && t.hashed == p.hashed) Nil
           else Seq("traced pairs differ from the untraced pass's")))
        Map(
          "operators.dedup.ngram_s" -> t.times(0),
          "operators.dedup.ngram_hashed_s" -> t.times(1),
          "operators.dedup.minhash_s" -> t.times(2),
          "trace.coverage" -> tr.coveredS(1) / tracedS,
          "trace.overhead_s" -> (t.times.sum - p.times.sum))
      }
      tr.write(s"${a.work}/../trace-dedup-${a.seed}.jsonl")
      return ops.result(Extras.metrics(tr, extras.getOrElse(Map.empty)))
    }

    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var heap = 0.0
    var i = 0
    while (i < MinPasses || System.nanoTime() < deadline) {
      ops.attempt(s"pass $i")(pass(docs, untraced))(_ => None).foreach { case (p, _) =>
        heap = math.max(heap, liveHeapMb())
        ops.checked(s"pass $i", p.times.sum, check(s"pass $i", p, corrupt = i == 0))
      }
      i += 1
    }
    ops.result(EndToEnd(setupS, ops, nDocs, heap))
  }
}
