package graft

import graft.app.KgBuild
import graft.model.RunConfig
import graft.operators.{Ann, Dedup, Retrieval}
import graft.source.{TranscriptDeriver, TranscriptGen}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._

/** Scratch diagnostics (not part of the driver contract): dump
  * explain("formatted") for the headline pipelines — the source for the plan
  * audit in PLANS.md and `plans/`.
  *
  * Usage: runMain graft.PlanDump [name ...]   (no names: every plan)
  */
object PlanDump {

  /** Every physical operator one run of `plan` executes: descends through
    * adaptive wrappers, query stages and cached relations, and visits each
    * cached relation's plan ONCE however many scans read it (the cache is
    * built once). A reused exchange is a leaf: it reads the output of an
    * exchange that ran elsewhere in the plan.
    */
  private[graft] def executedNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => Seq(r)
      case s: InMemoryTableScanExec =>
        s +: (if (seenCaches.add(s.relation.cacheBuilder)) walk(s.relation.cachedPlan) else Nil)
      case other => other +: other.children.flatMap(walk)
    }
    walk(plan)
  }

  /** Exchanges (shuffle and broadcast) one run of `plan` executes. */
  private[graft] def exchangeCount(plan: SparkPlan): Int =
    executedNodes(plan).count(_.isInstanceOf[Exchange])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Bench.buildSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")
    def wanted(name: String): Boolean = args.isEmpty || args.contains(name)
    def dump(name: String, df: => DataFrame): Unit = if (wanted(name)) {
      println(s"\n===== PLAN: $name =====")
      println(df.queryExecution.explainString(FormattedMode))
    }
    // An operator's internal plan (before it materializes its result), run
    // first so the adaptive plan printed is the final one, with the number
    // of exchanges that run executed.
    def dumpInternal(name: String, built: => (DataFrame, Seq[DataFrame])): Unit =
      if (wanted(name)) {
        val (df, cached) = built
        df.collect()
        val plan = df.queryExecution.executedPlan
        println(s"\n===== PLAN: $name =====")
        println(s"exchanges: ${exchangeCount(plan)}")
        println(df.queryExecution.explainString(FormattedMode))
        cached.foreach(_.unpersist())
      }
    lazy val turns = TranscriptGen.table(spark, 10L).toDF()
    dump("kg_build_edges",
      KgBuild.buildGraph(turns, RunConfig(runKey = "kg:plandump")).edges)
    lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    dump("lsh_topk", Ann.lshTopK(emb, emb.filter(col("vec_id") < 4), 5))
    if (wanted("pq_query")) {
      val pqIdx = Ann.buildPqIndex(emb, m = 16, k = 32)
      dump("pq_query", Ann.pqQuery(pqIdx, emb, emb.filter(col("vec_id") < 4), 5, refine = 8))
      pqIdx.release()
    }
    lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // the q_dedup_ngram input: the documents plus a shifted-id copy of each
    lazy val withCopies = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    dumpInternal("dedup_ngram",
      Dedup.ngramJaccardPlan(withCopies, "doc_id", "text", 3, 0.8, hashGrams = false))
    dumpInternal("dedup_ngram_hashed",
      Dedup.ngramJaccardPlan(withCopies, "doc_id", "text", 3, 0.8, hashGrams = true))
    dumpInternal("dedup_minhash",
      Dedup.minhashClustersPlan(docs, "doc_id", "text", 64, 5, 16, 0.5))
    if (wanted("hybrid")) {
      val corpus = docs.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id").cast("string").as("chunk_uid"), col("text"), col("embedding"))
      val qv = emb.filter(col("vec_id") === 0).select("embedding").collect()(0).getSeq[Float](0)
      dump("hybrid", Retrieval.hybridVec(corpus, qv, "spark join", 5))
    }
    dump("derived_turns", TranscriptDeriver.turns(spark, sfDir))
    spark.stop()
  }
}
