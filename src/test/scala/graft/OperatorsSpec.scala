package graft

import graft.operators.{Ann, Dedup, Multimodal, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog and then runs far away " * 5
  lazy val docs = Seq(
    (0L, base),
    (1L, base), // exact dup of 0
    (2L, base.replace("lazy", "sleepy")), // near-dup of 0
    (3L, "completely different content about spark window aggregation " * 6),
    (4L, "unrelated short text")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val d = Dedup.exact(docs, "doc_id", "text")
    assert(d.count() == 4)
    assert(d.filter(col("n_copies") === 2 && col("keep_id") === 0).count() == 1)
  }

  test("minhash: identical texts get identical signatures; near-dups cluster") {
    val s0 = Dedup.minhashSignature(base, 64, 5)
    assert(s0.sameElements(Dedup.minhashSignature(base, 64, 5)))
    val clusters = Dedup.minhashClusters(docs, "doc_id", "text", threshold = 0.6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(0L) == clusters(1L), "exact dups must cluster")
    assert(clusters(0L) == clusters(2L), "near-dups must cluster")
    assert(clusters(3L) != clusters(0L) && clusters(4L) != clusters(0L))
  }

  test("minhash clustering survives a massive exact-duplicate group (skew hazard)") {
    import spark.implicits._
    // 3000 identical docs would blow the band self-join up by N^2 without the
    // exact-dup collapse; with it, LSH sees ONE representative
    val heavy = (0L until 3000L).map(i => (i, base)) ++ Seq(
      (9000L, base.replace("lazy", "sleepy")),
      (9001L, "something else entirely different here " * 5))
    val t0 = System.nanoTime()
    val clusters = Dedup.minhashClusters(heavy.toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dt = (System.nanoTime() - t0) / 1e9
    assert(clusters.size == 3002)
    assert((0L until 3000L).forall(i => clusters(i) == 0L), "exact dups must share cluster 0")
    assert(clusters(9000L) == 0L, "near-dup joins the exact-dup cluster via its rep")
    assert(clusters(9001L) == 9001L)
    assert(dt < 60, s"skewed clustering too slow: $dt s")
  }

  test("minhash cluster rep is the NUMERIC min doc id (not lexicographic)") {
    import spark.implicits._
    // ids straddling a digit-count boundary: lexicographic min of {45, 100}
    // would be "100" — the contract is the numeric min, 45
    val d = Seq((45L, base), (100L, base + " tail"), (7L, "different thing entirely " * 5))
      .toDF("doc_id", "text")
    val clusters = Dedup.minhashClusters(d, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(45L) == 45L && clusters(100L) == 45L, clusters.toString)
    assert(clusters(7L) == 7L)
  }

  test("minhash clustering fails loudly on negative doc ids (zero-pad contract)") {
    import spark.implicits._
    // NEAR-duplicates (not identical): exact-dup collapse must not swallow
    // the pair, so the pad guard on the CC edge actually evaluates
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val docs = Seq((-1L, base + "tail one"), (2L, base + "tail two"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.minhashClusters(docs, "doc_id", "text", threshold = 0.1).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("negative doc id") ||
      Option(e.getCause).exists(_.getMessage.contains("negative doc id")),
      s"expected the negative-id raise_error, got: $e")
  }

  test("dedup operators release their cached intermediates (no storage leak)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minhashClusters(docs, "doc_id", "text", threshold = 0.6).collect()
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5).collect()
    // the eager localCheckpoint of each RESULT may remain (released on GC);
    // the five cached INTERMEDIATES (withSha/reps/sigs/pairs/grams) must not
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2,
      s"dedup operators leaked ${leaked.size} persistent RDDs (expected <=2 result checkpoints)")
  }

  test("simhash: hamming 0 for identical, banding finds all pairs within maxDist") {
    assert(Dedup.simhash(base) == Dedup.simhash(base))
    val sdocs = Seq(
      (0L, base),
      (1L, base),
      (2L, base + " appended"), // one extra token -> small hamming
      (3L, "completely different content about spark window aggregation " * 6)
    ).toDF("doc_id", "text")
    val texts = Map(0L -> base, 1L -> base, 2L -> (base + " appended"),
      3L -> "completely different content about spark window aggregation " * 6)
    def ham(a: Long, b: Long) =
      java.lang.Long.bitCount(Dedup.simhash(texts(a)) ^ Dedup.simhash(texts(b)))
    val maxDist = math.max(3, ham(0L, 2L)) // banding recall guarantee is what we test
    val pairs = Dedup.simhashPairs(Dedup.withSimhash(sdocs, "doc_id", "text"), maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.exists { case (a, b, h) => a == 0L && b == 1L && h == 0 })
    assert(pairs.exists { case (a, b, h) => a == 0L && b == 2L && h == ham(0L, 2L) })
    // exhaustive ground truth: banding found exactly the pairs within maxDist
    val expected = (for {
      a <- texts.keys; b <- texts.keys if a < b && ham(a, b) <= maxDist
    } yield (a, b)).toSet
    assert(pairs.map(p => (p._1, p._2)) == expected)
  }

  test("simhashMd5: in-place scan equals the hex-format/parse reference") {
    // reference = the pre-round-6 formulation: split("\\s+"), md5 hex string,
    // parseLong of the first 15 hex chars — the optimized form must be
    // value-identical (it is the same 60 digest bits, read without the
    // per-byte String.format round-trip that dominated the noop floor)
    def reference(text: String): Long = {
      val votes = new Array[Int](60)
      val md = java.security.MessageDigest.getInstance("MD5")
      text.split("\\s+").iterator.filter(_.nonEmpty).foreach { tok =>
        md.reset()
        val hex = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(b => f"$b%02x").mkString.substring(0, 15)
        val h = java.lang.Long.parseLong(hex, 16)
        var b = 0
        while (b < 60) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
      }
      var out = 0L
      var b = 0
      while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    }
    val cases = Seq(
      "", " ", "  \t\n\f\r  ", "one", " leading and  double  gaps ",
      "tab\tsep\nnewline\rcr\fffvt", "unicode café naïve 中文",
      "repeated repeated repeated tokens tokens", base,
      "trailing space ", " nbsp is not regex-whitespace")
    cases.foreach { t =>
      assert(Dedup.simhashMd5(t) == reference(t), s"simhashMd5 diverged on: '$t'")
    }
  }

  test("ngram jaccard: exact similarity on candidate pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => b == 3L })
  }

  test("prefix-filtered ngram jaccard equals brute-force all-pairs (exactness property)") {
    import graft.util.Determinism
    // seeded random corpus over a small vocabulary: lots of shared grams,
    // overlapping documents at every similarity level
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val corpus = (0L until 40L).map { i =>
      val len = 12 + Determinism.draw(20, i, 1L)
      val words = (0 until len).map(j => vocab(Determinism.draw(vocab.size, i, j.toLong, 2L)))
      (i, words.mkString(" "))
    }
    def gramsOf(t: String): Set[String] = {
      val toks = t.split("\\s+").filter(_.nonEmpty)
      (0 to math.max(toks.length - 3, 0)).map(k => toks.slice(k, k + 3).mkString(" ")).toSet
    }
    for (threshold <- Seq(0.3, 0.5, 0.8)) {
      val expected = (for {
        (a, ta) <- corpus; (b, tb) <- corpus if a < b
        ga = gramsOf(ta); gb = gramsOf(tb)
        inter = (ga intersect gb).size.toDouble
        j = inter / (ga.size + gb.size - inter) if j >= threshold
      } yield ((a, b), j)).toMap
      val got = Dedup.ngramJaccardPairs(corpus.toDF("doc_id", "text"), "doc_id", "text",
        n = 3, threshold = threshold)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(got == expected,
        s"t=$threshold missing=${(expected.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- expected.keySet).take(5)}")
    }
  }

  test("hashed-gram jaccard pairs equal the string path (scale-path equality)") {
    import spark.implicits._
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "totally different words entirely here now"),
      (4L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    def rows(hash: Boolean) =
      Dedup.ngramJaccardPairs(base, "doc_id", "text", n = 2, threshold = 0.4,
        hashGrams = hash)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    assert(rows(true) == rows(false))
    assert(rows(true).nonEmpty)
  }

  test("ngramJaccardPairs computes document frequency and the id-partitioned prefix once") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.Count
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def hashedOn(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
      case _ => Nil
    }
    for (hashGrams <- Seq(false, true)) {
      // AQE and broadcasts off: the static plan is the one that runs, with
      // every join shuffled, so each exchange in it is one stage.
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (nodes, cached) =
        try {
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val (plan, cached) = Dedup.ngramJaccardPlan(docs, "doc_id", "text", 3, 0.5, hashGrams)
          (PlanDump.executedNodes(plan.queryExecution.executedPlan), cached)
        } finally {
          spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
        }
      cached.foreach(_.unpersist())
      val dfWindows = nodes.collect {
        case w: WindowExec if w.windowExpression.exists(_.find(_.isInstanceOf[Count]).isDefined) => w
      }
      val gramAggregates = nodes.collect {
        case a: BaseAggregateExec if a.groupingExpressions.exists(_.references.exists(_.name == "gram")) => a
      }
      val exchanges = nodes.collect { case e: ShuffleExchangeExec => hashedOn(e) }
      val mode = if (hashGrams) "hashed" else "string"
      assert(dfWindows.size == 1 && gramAggregates.isEmpty,
        s"$mode: document frequency must come from one window over the gram exchange")
      assert(exchanges.count(_ == Seq("id")) == 1,
        s"$mode: the posting must cross the id-partitioned prefix exchange once")
      // one gram exchange under the df window, one for the self-join; the
      // join's second side reuses the first side's
      assert(exchanges.count(_ == Seq("gram")) == 2, s"$mode: $exchanges")
      assert(nodes.exists(_.isInstanceOf[ReusedExchangeExec]), s"$mode: self-join side not reused")
    }
  }

  test("minhashClusters runs a pinned number of Spark jobs") {
    // AQE on (the session default): each query stage is one job, so this
    // pins the operator's stage count. The input is fixed, so the count is.
    val sc = spark.sparkContext
    try {
      sc.setJobGroup("minhash-jobs", "minhashClusters job-count pin")
      Dedup.minhashClusters(docs, "doc_id", "text", threshold = 0.6)
    } finally sc.clearJobGroup()
    val jobs = sc.statusTracker.getJobIdsForGroup("minhash-jobs").length
    assert(jobs == 14, s"minhashClusters ran $jobs jobs")
  }

  test("term-schema scanner is equivalent to word-boundary regex counting") {
    val terms = Seq("spark", "join", "agg", "query")
    val ex = graft.extract.Extractor.termExtractor(terms)
    val texts = Seq(
      "spark join agg", "spark  join", "spark, join", "sparkjoin spark",
      "agg agg agg", "query.", "'query' spark9 agg spark_x", "", "the spark")
    texts.zipWithIndex.foreach { case (t, i) =>
      val scanned = ex.scanMentions("c", i, t).groupBy(_.norm).view.mapValues(_.size).toMap
      val rx = terms.map { term =>
        term -> ("(?<![A-Za-z0-9])" + term + "(?![A-Za-z0-9])").r.findAllIn(t).size
      }.filter(_._2 > 0).toMap
      assert(scanned == rx, s"text '$t': scanner=$scanned regex=$rx")
    }
  }

  lazy val vecs = {
    val rows = (0L until 50L).map { i =>
      (i, graft.functions.Embeddings.embed(s"document number $i with topic ${i % 5}", 32))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("brute-force ANN: self is rank-1 with cosine ~1") {
    val q = vecs.filter(col("vec_id") < 3)
    val top = Ann.bruteForceTopK(vecs, q, 5)
    val r1 = top.filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    (0L until 3L).foreach { i =>
      assert(r1(i)._1 == i, s"query $i rank1 should be itself")
      assert(math.abs(r1(i)._2 - 1.0) < 1e-9)
    }
  }

  test("LSH ANN: recall@5 vs brute force is high on clustered vectors") {
    val q = vecs.filter(col("vec_id") < 10)
    val brute = Ann.bruteForceTopK(vecs, q, 5).select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(vecs, q, 5, nBits = 16, bands = 8).select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
    // self must always be found (identical signature in every band)
    (0L until 10L).foreach(i => assert(lsh.contains((i, i))))
  }

  test("IVF ANN: recall@5 vs brute force is high; self always found") {
    val q = vecs.filter(col("vec_id") < 10)
    val brute = Ann.bruteForceTopK(vecs, q, 5).select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(vecs, q, 5, nCells = 8, nProbe = 3).select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    // a query vector's own cell is always its top probe -> self always found
    (0L until 10L).foreach(i => assert(ivf.contains((i, i))))
    // determinism: same centroids, same result
    val again = Ann.ivfTopK(vecs, q, 5, nCells = 8, nProbe = 3).select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivf)
  }

  test("IVF index build/query split: one index serves repeated query batches, parity with one-shot") {
    val q1 = vecs.filter(col("vec_id") < 5)
    val q2 = vecs.filter(col("vec_id") >= 5 && col("vec_id") < 10)
    val index = Ann.buildIvfIndex(vecs, nCells = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b1 = rows(Ann.ivfQuery(index, vecs, q1, 5, nProbe = 3))
    val b2 = rows(Ann.ivfQuery(index, vecs, q2, 5, nProbe = 3))
    // the same index answers both batches; results match the one-shot path
    val oneShot = rows(Ann.ivfTopK(vecs, vecs.filter(col("vec_id") < 10), 5,
      nCells = 8, nProbe = 3))
    assert((b1 ++ b2) == oneShot)
    index.release()
  }

  test("PQ ANN: recall@5 vs brute force is high; deterministic; split parity") {
    val q = vecs.filter(col("vec_id") < 10)
    val brute = Ann.bruteForceTopK(vecs, q, 5).select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = rows(Ann.pqTopK(vecs, q, 5, m = 8, nCodewords = 8, refine = 4))
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.5, s"PQ recall too low: $recall")
    // determinism: same sample -> same codebooks -> same result
    val again = rows(Ann.pqTopK(vecs, q, 5, m = 8, nCodewords = 8, refine = 4))
    assert(again == pq)
    // build/query split: one index serves repeated batches, parity w/ one-shot
    val index = Ann.buildPqIndex(vecs, m = 8, k = 8)
    val b1 = rows(Ann.pqQuery(index, vecs, q.filter(col("vec_id") < 5), 5, refine = 4))
    val b2 = rows(Ann.pqQuery(index, vecs,
      q.filter(col("vec_id") >= 5), 5, refine = 4))
    assert((b1 ++ b2) == pq)
    index.release()
  }

  test("IVFADC: residual-PQ recall beats the cell restriction's cost; split parity; round-trip") {
    val q = vecs.filter(col("vec_id") < 10)
    val brute = Ann.bruteForceTopK(vecs, q, 5).select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = rows(Ann.ivfPqTopK(vecs, q, 5, nCells = 8, m = 8, nCodewords = 8,
      nProbe = 4, refine = 4))
    val recall = (brute intersect one).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVFADC recall too low: $recall")
    // determinism + build/query split parity + parquet round-trip
    val index = Ann.buildIvfPqIndex(vecs, nCells = 8, m = 8, k = 8)
    val b1 = rows(Ann.ivfPqQuery(index, vecs, q.filter(col("vec_id") < 5), 5,
      nProbe = 4, refine = 4))
    val b2 = rows(Ann.ivfPqQuery(index, vecs, q.filter(col("vec_id") >= 5), 5,
      nProbe = 4, refine = 4))
    assert((b1 ++ b2) == one)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqidx").toString
    Ann.saveIvfPqIndex(index, dir)
    val loaded = Ann.loadIvfPqIndex(spark, dir)
    assert(rows(Ann.ivfPqQuery(loaded, vecs, q, 5, nProbe = 4, refine = 4)) == one)
    index.release(); loaded.release()
  }

  test("IVF and PQ indexes round-trip through parquet with query parity") {
    val q = vecs.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString
    val ivf = Ann.buildIvfIndex(vecs, nCells = 8)
    Ann.saveIvfIndex(ivf, s"$dir/ivf")
    val ivf2 = Ann.loadIvfIndex(spark, s"$dir/ivf")
    assert(rows(Ann.ivfQuery(ivf2, vecs, q, 5, nProbe = 3)) ==
      rows(Ann.ivfQuery(ivf, vecs, q, 5, nProbe = 3)))
    ivf.release(); ivf2.release()
    val pq = Ann.buildPqIndex(vecs, m = 8, k = 8)
    Ann.savePqIndex(pq, s"$dir/pq")
    val pq2 = Ann.loadPqIndex(spark, s"$dir/pq")
    assert(rows(Ann.pqQuery(pq2, vecs, q, 5, refine = 4)) ==
      rows(Ann.pqQuery(pq, vecs, q, 5, refine = 4)))
    pq.release(); pq2.release()
  }

  test("cosine near-dup pairs finds duplicate embeddings") {
    val withDup = vecs.union(Seq((99L,
      graft.functions.Embeddings.embed("document number 0 with topic 0", 32)))
      .toDF("vec_id", "embedding"))
    val pairs = Ann.cosineNearDupPairs(withDup, 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 99L)))
  }

  test("train/val/test split: deterministic, partition-invariant, fraction-accurate") {
    import graft.operators.Sampling
    val ids = (0L until 2000L).map(i => Tuple1(i)).toDF("doc_id")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val one = asMap(Sampling.withSplit(ids.repartition(1), "doc_id"))
    val seven = asMap(Sampling.withSplit(ids.repartition(7), "doc_id"))
    assert(one == seven, "assignment must not depend on partition layout")
    val n = one.size.toDouble
    val frac = one.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.8) < 0.05 &&
      math.abs(frac("val") - 0.1) < 0.03 && math.abs(frac("test") - 0.1) < 0.03,
      s"fractions off: $frac")
    // md5 oracle variant: same invariants, same split names
    val md5a = asMap(Sampling.withSplitMd5(ids.repartition(3), "doc_id"))
    val md5b = asMap(Sampling.withSplitMd5(ids.repartition(8), "doc_id"))
    assert(md5a == md5b)
    assert(md5a.values.toSet.subsetOf(Set("train", "val", "test")))
  }

  test("batch packing: budget boundary starts a new batch, docs never split") {
    import graft.operators.Sampling
    // one shard (numShards=1), budget 10: docs of 4+4 fill 8, the 5-token doc
    // starts after cum_before=8 < 10 (overfill allowed), next starts batch 1
    val d = Seq((0L, 4L), (1L, 4L), (2L, 5L), (3L, 2L))
      .toDF("doc_id", "n_tokens")
    val got = Sampling.packBatches(d, "doc_id", "n_tokens", budget = 10L, numShards = 1)
      .select("doc_id", "batch_in_shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L), got.toString)
    // duplicate ids make "the preceding documents" ambiguous — must raise,
    // not pack nondeterministically among the tied rows
    val dup = Seq((0L, 4L), (1L, 4L), (1L, 5L)).toDF("doc_id", "n_tokens")
    val e = intercept[Exception] {
      Sampling.packBatches(dup, "doc_id", "n_tokens", budget = 10L, numShards = 1)
        .collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("duplicate id"),
      s"expected a duplicate-id raise, got: ${e.getMessage}")
  }

  test("ngram contamination flags train docs overlapping the eval set") {
    import graft.operators.Dedup
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated text about spark catalyst planning"),
      (3L, "a quick brown fox jumps over something else entirely"))
      .toDF("doc_id", "text")
    val evalSet = Seq((100L, "the quick brown fox jumps over a fence"))
      .toDF("doc_id", "text")
    val hits = Dedup.ngramContamination(train, evalSet, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(1L) && hits.contains(3L) && !hits.contains(2L), hits.toString)
    // the hashed scale path counts identically
    val hashed = Dedup.ngramContamination(train, evalSet, "doc_id", "text",
      n = 4, hashGrams = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashed == hits, s"hashed=$hashed string=$hits")
  }

  test("boilerplate removal drops corpus-frequent lines, keeps order, never loses docs") {
    import graft.operators.TextAnalysis
    val footer = "all rights reserved"
    val d = Seq(
      (1L, s"alpha one\n$footer\nalpha two"),
      (2L, s"beta line\n$footer"),
      (3L, s"$footer"), // all-boilerplate doc must survive with empty text
      (4L, s"gamma a\ngamma b"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplateLines(d, "doc_id", "text", maxDf = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("alpha one\nalpha two", 2L, 1L)), got(1L).toString)
    assert(got(2L) == (("beta line", 1L, 1L)))
    assert(got(3L) == (("", 0L, 1L)))
    assert(got(4L) == (("gamma a\ngamma b", 2L, 0L)))
  }

  test("language id picks the stopword-matching language") {
    val df = Seq(
      (1L, "the cat sat on the mat and it was happy for hours"),
      (2L, "der hund ist nicht mit der katze und das ist gut"),
      (3L, "le chat est dans la maison et les oiseaux pour une heure"),
      (4L, "xqz zzz qqq")
    ).toDF("id", "text")
    val got = TextAnalysis.withLangId(df, "text")
      .select("id", "lang_pred").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "fr" && got(4L) == "und")
  }

  test("quality score is bounded and ranks clean text above junk") {
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and it was good for everyone involved in that story."),
      (2L, "11111 2222 333 !!!! @@@@ 0000000 9999")
    ).toDF("id", "text")
    val q = TextAnalysis.withQuality(df, "text")
      .select("id", "quality_score_ppm").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q.values.forall(v => v >= 0L && v <= 1000000L))
    assert(q(1L) > q(2L))
  }

  test("token counts: ws, bpe-ish, and reference estimate") {
    val df = Seq((1L, "hello world, this is a supercalifragilistic test")).toDF("id", "text")
    val r = TextAnalysis.withTokenCounts(df, "text").collect()(0)
    assert(r.getAs[Long]("n_ws_tokens") == 7)
    assert(r.getAs[Long]("n_bpe_tokens") > 7) // long word splits into pieces
    assert(r.getAs[Long]("n_est_tokens") == math.ceil(48 / 4.0).toLong)
  }

  test("fingerprint: equal for identical text, differs for different text") {
    val df = Seq((1L, base), (2L, base), (3L, "something else entirely here now ok " * 4))
      .toDF("id", "text")
    val fp = TextAnalysis.withFingerprint(df, "text")
      .select("id", "fingerprint")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("multimodal plumbing: deterministic features, correct byte counts") {
    val media = Multimodal.syntheticMedia(spark, 30L)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 30)
    feats.foreach { f =>
      assert(f.feature.length == 8)
      assert(f.n_bytes >= 64)
      if (f.kind == "video") assert(f.frames_sampled >= 1)
    }
    // determinism
    val again = Multimodal.extractFeatures(media).collect()
    assert(feats.sortBy(_.media_id).zip(again.sortBy(_.media_id))
      .forall { case (a, b) => a.feature.sameElements(b.feature) })
  }
}
