package perfbench

import graft.model.Triple

/** Output checks. Each returns the problems it found; empty means correct. */
object Checks {

  val MinPrecisionRecall = 0.95

  def precisionRecall(emitted: Set[Triple], golden: Set[Triple]): (Double, Double) = {
    val tp = (emitted intersect golden).size.toDouble
    (if (emitted.isEmpty) 0.0 else tp / emitted.size,
      if (golden.isEmpty) 0.0 else tp / golden.size)
  }

  /** A fresh build: QA passes, the triples match the generator's golden set,
    * and the graph is the same as an earlier build of the same input.
    */
  def build(s: GraphSummary, golden: Set[Triple], first: Option[GraphSummary]): Seq[String] = {
    val (p, r) = precisionRecall(s.triples, golden)
    val pr =
      if (p >= MinPrecisionRecall && r >= MinPrecisionRecall) Nil
      else Seq(f"triple precision $p%.4f / recall $r%.4f below $MinPrecisionRecall")
    status(s) ++ pr ++ first.toSeq.flatMap(f => sameGraph(s, f, "an earlier build"))
  }

  def status(s: GraphSummary): Seq[String] =
    if (s.status == "pass") Nil else Seq(s"QA status ${s.status}")

  /** Two graphs agree on every QA count and on the triple set. */
  def sameGraph(s: GraphSummary, ref: GraphSummary, refName: String): Seq[String] = {
    val counts = (s.counts.keySet ++ ref.counts.keySet).toSeq.sorted
      .filter(k => s.counts.get(k) != ref.counts.get(k))
      .map(k => s"count $k ${s.counts.get(k).orNull} vs ${ref.counts.get(k).orNull} in $refName")
    val missing = ref.triples -- s.triples
    val extra = s.triples -- ref.triples
    val triples =
      if (missing.isEmpty && extra.isEmpty) Nil
      else Seq(s"triple set differs from $refName: ${missing.size} missing " +
        s"(${missing.take(2).mkString(", ")}), ${extra.size} extra (${extra.take(2).mkString(", ")})")
    counts ++ triples
  }

  /** The dedup operators: both n-gram paths find the same pairs with the
    * same Jaccard values, every unedited copy is found, and the minhash
    * clusters keep their invariants.
    */
  def dedup(stringPairs: Map[(Long, Long), Double], hashedPairs: Map[(Long, Long), Double],
      exactCopies: Seq[(Long, Long)], minhashViolations: Long): Seq[String] = {
    val differ = (stringPairs.keySet ++ hashedPairs.keySet).count { k =>
      (stringPairs.get(k), hashedPairs.get(k)) match {
        case (Some(a), Some(b)) => math.abs(a - b) > 1e-9
        case _ => true
      }
    }
    val notFound = exactCopies.filterNot(stringPairs.contains)
    (if (differ == 0) Nil else Seq(s"$differ pairs differ between the string and hashed n-gram paths")) ++
      (if (notFound.isEmpty) Nil
       else Seq(s"${notFound.size} unedited copies not found, e.g. ${notFound.head}")) ++
      (if (minhashViolations == 0) Nil
       else Seq(s"$minhashViolations exact-text groups break same_cluster or rep_le_min"))
  }
}
