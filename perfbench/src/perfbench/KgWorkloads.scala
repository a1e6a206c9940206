package perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import graft.app.KgBuild
import graft.source.TranscriptGen
import org.apache.spark.sql.SparkSession

import Common._

/** Extra per-layer figures that are ratios, coverage or overhead rather
  * than per-layer totals. Every run prints all of them; a workload that does
  * not measure one prints 0.
  */
object Extras {
  val All: Seq[(String, String)] = Seq(
    "link.linked_ratio" -> "ratio",
    "materialize.bytes_written_per_input_byte" -> "ratio",
    "materialize.rebuilt_partitions" -> "ratio",
    "app.ask.records_per_result" -> "ratio",
    "app.ask.http_gap_ms" -> "ms",
    "operators.dedup.ngram_s" -> "s",
    "operators.dedup.ngram_hashed_s" -> "s",
    "operators.dedup.minhash_s" -> "s",
    "trace.coverage" -> "ratio",
    "trace.overhead_s" -> "s")

  def metrics(tr: Tracer, values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"undeclared extras $unknown")
    tr.layerMetrics() ++ All.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }
}

object EndToEnd {
  /** The end-to-end metrics every workload prints with tracing off:
    * `op_cpu_s`, the median CPU seconds the JVM spent on one op that
    * succeeded; `work_per_cpu_s`, `work` units of one op divided by that;
    * `setup_s`, the median CPU seconds of the repeated set-up;
    * `live_heap_mb`, the largest live heap after an op. With no successful
    * op the first two are left out.
    */
  def apply(setupS: Double, ops: Ops, work: Double, heapMb: Double): Seq[Metric] =
    ops.medianCpu.toSeq.flatMap(c =>
      Seq(Metric("op_cpu_s", c, "s"), Metric("work_per_cpu_s", work / c, "1/s"))) ++
      Seq(Metric("setup_s", setupS, "s"), Metric("live_heap_mb", heapMb, "MB"))
}

/** `build`: a fresh `KgBuild.run` of a seeded corpus into an empty dir. */
object BuildWorkload {

  def run(spark: SparkSession, a: Args): Result = {
    val rnd = new SplittableRandom(a.seed)
    val start = 1L + rnd.nextLong(5000000L)
    // Conversations from the seeded start until their turns reach the
    // target, so every seed gives the build the same amount of text.
    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    var total = 0L
    while (total < a.sizes.buildTurns) {
      total += TranscriptGen.numTurns(start + ids.size)
      ids += start + ids.size
    }
    val (corpus, setupS) = Setup.repeat(_ => Kg.writeCorpus(spark, s"${a.work}/input", ids.toSeq))
    val turns = Kg.read(spark, corpus)
    // One untimed build, so the measured ones run on compiled code. It is
    // also the first repetition every measured build must equal.
    val warmDir = s"${a.work}/warmup"
    val (warmQa, warmS) = timed(KgBuild.run(spark, turns, Kg.config("kg-build:warmup"), warmDir))
    System.err.println(f"[perfbench] set-up $setupS%.3f s, warm-up $warmS%.3f s")
    val warm = Kg.summarize(spark, warmDir, warmQa)
    delete(warmDir)
    val ops = new Ops
    if (a.trace) return traced(spark, a, corpus, ops)

    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var heap = 0.0
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      val out = s"${a.work}/out-$i"
      ops.attempt(s"build $i")(KgBuild.run(spark, turns, Kg.config(s"kg-build:bench-$i"), out))(
        Kg.qaFailure).foreach { case (qa, dt) =>
        heap = math.max(heap, liveHeapMb())
        val s = Corrupt.summary(a, i == 0, Kg.summarize(spark, out, qa))
        ops.checked(s"build $i", dt, Checks.build(s, corpus.golden, Some(warm)))
      }
      delete(out)
      i += 1
    }
    ops.result(EndToEnd(setupS, ops, corpus.relationInstances, heap))
  }

  /** One untraced and one traced build of the same corpus, whose graphs
    * must be equal; then the serving layers over the traced build's graph.
    */
  private def traced(spark: SparkSession, a: Args, corpus: Corpus, ops: Ops): Result = {
    val turns = Kg.read(spark, corpus)
    val plain = ops.attempt("untraced build")(
      KgBuild.run(spark, turns, Kg.config("kg-build:untraced"), s"${a.work}/plain"))(Kg.qaFailure)
    val tr = new Tracer(spark)
    val out = s"${a.work}/traced"
    val traced = ops.attempt("traced build")(
      Kg.tracedRun(spark, tr, 1, turns, Kg.config("kg-build:traced"), out))(r => Kg.qaFailure(r._1))
    val extras = for ((p, plainS) <- plain; ((qa, ratios), tracedS) <- traced) yield {
      val ref = Kg.summarize(spark, s"${a.work}/plain", p)
      val s = Kg.summarize(spark, out, qa)
      ops.checked("untraced build", plainS, Checks.build(ref, corpus.golden, None))
      ops.checked("traced build", tracedS,
        Checks.build(s, corpus.golden, None) ++ Checks.sameGraph(s, ref, "the untraced build"))
      ratios ++ Map(
        "materialize.bytes_written_per_input_byte" -> dataBytes(out).toDouble / corpus.textBytes,
        "trace.coverage" -> tr.coveredS(1) / tracedS,
        "trace.overhead_s" -> (tracedS - plainS))
    }
    // The serving layers, over the graph the traced build wrote.
    val serving = ServeWorkload.traceLayers(spark, tr, out, ServeWorkload.entityIds(spark, out), a.seed, ops)
      .filter(_._1.startsWith("app.ask."))
    tr.write(s"${a.work}/../trace-build-${a.seed}.jsonl")
    ops.result(Extras.metrics(tr, extras.getOrElse(Map.empty) ++ serving))
  }
}

/** `incremental` and `edit`: one op, repeated, on a copy of a built graph.
  * The base graph is a fixed window of conversations; the seed picks one
  * partition. `append` adds seeded conversations that all fall in that
  * partition, about 1/32 of the corpus; `edit` changes the text of every
  * turn of that partition's conversations.
  */
object IncrementalWorkload {

  val BaseStart = 7000000L

  final case class Op(kind: String, input: Corpus, deltaTurns: Long, deltaBytes: Long)

  def baseIds(a: Args): Seq[Long] = (BaseStart until BaseStart + a.sizes.incrConvs).toSeq

  def prepare(spark: SparkSession, a: Args, kind: String): Op = {
    val rnd = new SplittableRandom(a.seed)
    val part = rnd.nextInt(Kg.NumPartitions)
    val ids = baseIds(a)
    def turns(convs: Seq[Long]) = convs.map(i => TranscriptGen.conversation(i).map(_.turn))
    kind match {
      case "append" =>
        val want = math.max(1, a.sizes.incrConvs / Kg.NumPartitions)
        // Conversations past the base window, kept when they fall in
        // `part`: about one in NumPartitions does.
        var from = BaseStart + a.sizes.incrConvs + rnd.nextInt(1000000)
        var extra = Seq.empty[Long]
        while (extra.size < want) {
          val window = (from until from + want * Kg.NumPartitions * 4L).toSeq
          val parts = Kg.partIds(spark, window)
          extra ++= window.filter(parts(_) == part).take(want - extra.size)
          from += window.size
        }
        val added = turns(extra).flatten
        Op(kind, Kg.writeCorpus(spark, s"${a.work}/input", ids ++ extra), added.size,
          added.map(_.text.getBytes(StandardCharsets.UTF_8).length.toLong).sum)
      case "edit" =>
        val inPart = Kg.partIds(spark, ids).collect { case (i, p) if p == part => i }.toSet
        val changed = turns(ids.filter(inPart.contains)).flatten
        Op(kind, Kg.writeCorpus(spark, s"${a.work}/input", ids, inPart.contains), changed.size,
          changed.map(t => Kg.editedText(t.text).getBytes(StandardCharsets.UTF_8).length.toLong).sum)
    }
  }

  def run(kind: String)(spark: SparkSession, a: Args): Result = {
    val pristine = Fixtures.graph(spark, a, "incremental-base", baseIds(a))
    val dir = s"${a.work}/op"
    val (op, setupS) = Setup.repeat { _ =>
      val op = prepare(spark, a, kind)
      copyTree(pristine, dir)
      op
    }
    // The graph every op must leave: a fresh build of the same input. As
    // the run's first build it also brings the JVM to compiled code.
    val freshDir = s"${a.work}/fresh"
    val freshQa = KgBuild.run(spark, Kg.read(spark, op.input), Kg.config(s"kg-build:fresh-$kind"), freshDir)
    require(freshQa.status == "pass", s"a fresh build of the $kind input failed QA")
    val fresh = Kg.summarize(spark, freshDir, freshQa)
    delete(freshDir)
    val ops = new Ops
    if (a.trace) return traced(spark, a, op, pristine, fresh, ops)

    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var heap = 0.0
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      if (i > 0) copyTree(pristine, dir)
      ops.attempt(s"$kind $i")(
        KgBuild.run(spark, Kg.read(spark, op.input), Kg.config(s"kg-build:$kind-$i"), dir))(
        Kg.qaFailure).foreach { case (qa, dt) =>
        heap = math.max(heap, liveHeapMb())
        val s = Corrupt.summary(a, i == 0, Kg.summarize(spark, dir, qa))
        ops.checked(s"$kind $i", dt,
          Checks.status(s) ++ Checks.sameGraph(s, fresh, "a fresh build of the same input"))
      }
      i += 1
    }
    if (heap == 0.0) heap = liveHeapMb()
    ops.result(EndToEnd(setupS, ops, op.deltaTurns, heap))
  }

  /** An untraced and a traced op from copies of the same graph; when both
    * succeed their graphs must be equal.
    */
  private def traced(spark: SparkSession, a: Args, op: Op, pristine: String, fresh: GraphSummary,
      ops: Ops): Result = {
    val plainDir = s"${a.work}/op"
    val plain = ops.attempt(s"untraced ${op.kind}")(KgBuild.run(spark, Kg.read(spark, op.input),
      Kg.config(s"kg-build:${op.kind}-untraced"), plainDir))(Kg.qaFailure)
    val tr = new Tracer(spark)
    val dir = s"${a.work}/traced"
    copyTree(pristine, dir)
    val before = dataBytes(dir)
    val traced = ops.attempt(s"traced ${op.kind}")(Kg.tracedRun(spark, tr, 1, Kg.read(spark, op.input),
      Kg.config(s"kg-build:${op.kind}-traced"), dir))(r => Kg.qaFailure(r._1))
    val extras = for ((p, plainS) <- plain; ((qa, ratios), tracedS) <- traced) yield {
      val ref = Kg.summarize(spark, plainDir, p)
      ops.checked(s"untraced ${op.kind}", plainS, Checks.sameGraph(ref, fresh, "a fresh build"))
      ops.checked(s"traced ${op.kind}", tracedS,
        Checks.sameGraph(Kg.summarize(spark, dir, qa), ref, s"the untraced ${op.kind}"))
      ratios ++ Map(
        "materialize.bytes_written_per_input_byte" ->
          math.max(0L, dataBytes(dir) - before).toDouble / op.deltaBytes,
        "trace.coverage" -> tr.coveredS(1) / tracedS,
        "trace.overhead_s" -> (tracedS - plainS))
    }
    tr.write(s"${a.work}/../trace-${op.kind}-${a.seed}.jsonl")
    ops.result(Extras.metrics(tr, extras.getOrElse(Map.empty)))
  }
}

/** Deliberate damage for the benchmark's own negative tests. */
object Corrupt {
  def summary(a: Args, here: Boolean, s: GraphSummary): GraphSummary =
    if (a.corrupt && here && s.triples.nonEmpty) s.copy(triples = s.triples - s.triples.minBy(_.toString))
    else s

  def pairs(a: Args, here: Boolean, p: Map[(Long, Long), Double]): Map[(Long, Long), Double] =
    if (a.corrupt && here && p.nonEmpty) {
      val ((x, y), j) = p.minBy(_._1)
      p - ((x, y)) + ((x, y + 1) -> j)
    } else p
}
