package graft.canon

import graft.extract.Gazetteer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Canonicalization: connected-components alias resolution over same-entity
  * equivalence edges, run as iterative DataFrame self-joins to a fixpoint
  * (BASELINE.json north_star; generalization of the reference's
  * [lib] SinglePropertyExactMatchResolver configured at
  * ref:pipelines/kg_ingest.yaml:69-77 — exact match is the 1-edge case,
  * transitive alias chains need the closure).
  *
  * Algorithm: min-label propagation. label(n) starts as n; each round every
  * node takes the min of its own label and its neighbors' labels; converged
  * when no label changes. Rounds = O(component diameter) (alias chains are
  * short); each round is one shuffle join + aggregation, with
  * `localCheckpoint` truncating lineage so plans stay O(1) per round
  * (SURVEY.md §4.2).
  */
object Resolver {

  /** Edge bound under which the closure runs driver-side. A CC fixpoint
    * round costs several eager jobs (two joins + checkpoint + convergence
    * count), so on small graphs the distributed path is pure fixed overhead
    * — measured ~2-4 s per minhash-dedup call at bench scale for graphs of
    * a few hundred edges. 200k string edges is ~tens of MB on the driver;
    * the result is identical either way (the member→min-of-component map is
    * unique), which OperatorsSpec/ResolverSpec and the WITH RECURSIVE
    * oracle pin cross-path.
    */
  private val DriverCcMaxEdges = 200000

  /** Connected components over undirected string edges.
    *
    * Each round combines min-label propagation (take the min of the
    * neighbors' labels) with POINTER JUMPING (then take the label of your
    * label), so chains collapse in O(log diameter) rounds rather than
    * O(diameter) — Dedup.minhashClusters feeds this arbitrary near-dup graphs
    * whose component diameter is unbounded, where plain propagation could
    * exhaust maxIter. Exhausting maxIter with changes still pending throws
    * rather than silently returning wrong cluster reps.
    *
    * The path is chosen by ONE bounded collect of at most DriverCcMaxEdges + 1
    * edges: a small graph is closed driver-side from the rows that collect
    * brought back, with no separate count job. The trade-off: an over-bound
    * graph ships DriverCcMaxEdges + 1 edge rows to the driver once, and drops
    * them, before it falls back to the distributed fixpoint. Callers that
    * know their graph is large can skip the probe entirely via
    * [[connectedComponentsDistributed]].
    *
    * @return DataFrame(member, rep) covering every node that appears in any
    *         edge; rep = lexicographic min of the component.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // Null endpoints carry no linkage evidence and would NPE the driver-side
    // union-find (getString) — drop them up front on both paths.
    val e = edges.toDF("u", "v")
      .filter(col("u").isNotNull && col("v").isNotNull)
    driverComponents(e).getOrElse(connectedComponentsDistributed(e, maxIter))
  }

  /** The driver-side union-find closure of `e`, or None when `e` has more
    * than DriverCcMaxEdges edges (the collected rows are unreachable once
    * this returns, so the distributed path does not run beside them).
    */
  private def driverComponents(e: DataFrame): Option[DataFrame] = {
    val probe = e.limit(DriverCcMaxEdges + 1).collect()
    if (probe.length > DriverCcMaxEdges) return None
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    probe.foreach { row =>
      val (u, v) = (row.getString(0), row.getString(1))
      parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(ru) = rv
    }
    val members = parent.keys.toSeq
    val minOfRoot = scala.collection.mutable.HashMap.empty[String, String]
    members.foreach { m =>
      val r = find(m)
      val cur = minOfRoot.get(r)
      if (cur.isEmpty || m < cur.get) minOfRoot(r) = m
    }
    val spark = e.sparkSession
    import spark.implicits._
    Some(members.sorted.map(m => (m, minOfRoot(find(m)))).toDF("member", "rep"))
  }

  /** The distributed pointer-jumping fixpoint (package-visible so tests can
    * pin cross-path equivalence with the driver fast path above).
    */
  private[graft] def connectedComponentsDistributed(
      edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    // Reliable checkpoint dir for the FINAL labels (lazily defaulted): each
    // round's localCheckpoint is released as soon as the next round lands,
    // and a localCheckpoint cannot back the returned DataFrame once released
    // (truncated lineage = no recompute path), so the final table takes one
    // reliable ids-only checkpoint write instead. Net effect: NOTHING stays
    // in sc.getPersistentRDDs after this function returns (pinned by
    // ResolverSpec); the bounded checkpoint files live until JVM exit — at
    // production scale the checkpoint dir is cluster storage with retention.
    // The driver-local temp default is only valid on local[*] masters: on a
    // real cluster, executors would write reliable checkpoint files into
    // their OWN non-shared local paths, silently corrupting the returned
    // checkpoint-backed labels table. There the caller must point
    // sc.setCheckpointDir at cluster storage (HDFS/object store) — fail
    // fast with that instruction rather than return unreadable data.
    if (sc.getCheckpointDir.isEmpty) {
      if (sc.master.startsWith("local"))
        sc.setCheckpointDir(
          java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString)
      else
        throw new IllegalStateException(
          "connectedComponents needs a RELIABLE checkpoint dir on a cluster " +
            s"master (${sc.master}): call sc.setCheckpointDir(<shared fs path>) " +
            "first — a driver-local temp dir is not visible to executors")
    }
    def ckpt(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = df.localCheckpoint()
      (out, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    def release(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(true)))

    val e = edges.toDF("u", "v")
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var (labels, labelIds) = ckpt(
      sym.select(col("u").as("member")).distinct()
        .withColumn("rep", col("member")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborMin = sym
        .join(labels, sym("u") === labels("member"))
        .groupBy(col("v").as("member"))
        .agg(min("rep").as("nmin"))
      val stepped = labels
        .join(neighborMin, Seq("member"), "left")
        .select(col("member"), least(col("rep"), coalesce(col("nmin"), col("rep"))).as("rep"))
      // pointer jumping: rep := label(rep); reps are themselves members by
      // construction, so the lookup join always resolves
      val lookup = stepped.select(col("member").as("r_member"), col("rep").as("r_rep"))
      val (next, nextIds) = ckpt(stepped
        .join(lookup, stepped("rep") === lookup("r_member"), "left")
        .select(stepped("member"),
          least(stepped("rep"), coalesce(col("r_rep"), stepped("rep"))).as("rep")))
      val changed = next
        .join(labels.withColumnRenamed("rep", "prev"), Seq("member"))
        .filter(col("rep") =!= col("prev"))
        .limit(1).count()
      // the previous round's checkpoint blocks are dead once `changed` is
      // computed — release them instead of accumulating one label table per
      // round for the whole fixpoint
      release(labelIds)
      labels = next
      labelIds = nextIds
      converged = changed == 0
      iter += 1
    }
    sym.unpersist(blocking = true)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds (graph diameter" +
          s" > 2^$maxIter is impossible — this indicates a bug, not a big graph)")
    val out = labels.checkpoint() // eager, reliable — survives the release below
    release(labelIds)
    out
  }

  /** The canonical entity Dataset: (norm, canon_norm, canon_name, label) for
    * every known surface norm. Built from the gazetteer CHAIN edges (so the
    * closure is genuinely needed), with the display name chosen by a
    * deterministic preference rule: the component member that is a designated
    * head surface; out-of-dictionary components fall back to the rep norm.
    * This table is small (broadcast side of the entity-linking join).
    */
  def canonicalEntities(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // The gazetteer is static, so the CC fixpoint result is too: memoize the
    // (tiny) resolved table per JVM and rebuild a local DataFrame from it.
    // The CC implementation itself stays fully distributed — it is reused on
    // real data by Dedup.minhashClusters and the entity-canon stage.
    cachedCanonical match {
      case Some(rows) => return rows.toDF("norm", "canon_norm", "canon_name", "label")
      case None => ()
    }
    val chainEdges = Gazetteer.aliasChainEdges.toDF("u", "v")
    // singleton entities (no alias) still need a row: self-edges
    val selfEdges = Gazetteer.aliasRows.map(r => (r._1, r._1)).toDF("u", "v")
    val cc = connectedComponents(chainEdges.union(selfEdges))
    val aliasLabels = Gazetteer.aliasRows.toDF("norm", "head_name", "label")
    val heads = Gazetteer.aliasRows
      .filter(r => Gazetteer.normalize(r._2) == r._1) // alias that IS the head
      .map(r => (r._1, r._2))
      .toDF("head_norm", "display")
    val repDisplay = cc
      .join(heads, cc("member") === heads("head_norm"), "left")
      .groupBy("rep")
      .agg(min("display").as("canon_name"))
      .select(col("rep"), coalesce(col("canon_name"), col("rep")).as("canon_name"))
    val resolved = cc.join(repDisplay, "rep")
      .join(aliasLabels.select("norm", "label").distinct(), cc("member") === col("norm"), "left")
      .select(
        col("member").as("norm"),
        col("rep").as("canon_norm"),
        col("canon_name"),
        coalesce(col("label"), lit("__Entity__")).as("label"))
    // Size contract for this collect: the input is ONLY the static Gazetteer
    // object (|aliasRows| ≈ 240 rows, fixed at compile time) — data-derived
    // candidate entities never flow through here (KgBuild keeps candCanon
    // distributed), so the driver-side materialization is bounded by the
    // dictionary, not the corpus.
    val rows = resolved.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSeq
    cachedCanonical = Some(rows)
    rows.toDF("norm", "canon_norm", "canon_name", "label")
  }

  /** Driver-local (norm -> canon_norm) map of the static gazetteer closure —
    * the same memoized rows [[canonicalEntities]] serves as a DataFrame.
    * Bounded by the dictionary (~240 rows), so holding it on the driver is
    * free; KgBuild uses it to fold per-norm mention counts into per-canon
    * counts without a second distributed pass (data-derived candidates are
    * their own canon, so the static map is the complete mapping).
    */
  def canonicalNormMap(spark: SparkSession): Map[String, String] = {
    canonicalEntities(spark)
    cachedCanonical.get.map(r => r._1 -> r._2).toMap
  }

  @volatile private var cachedCanonical: Option[Seq[(String, String, String, String)]] = None
}
