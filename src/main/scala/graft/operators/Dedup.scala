package graft.operators

import graft.canon.Resolver
import graft.util.Determinism
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for training-data pipelines.
  *
  * Exact dedup is a hash-groupBy; near-dup families follow the standard
  * sketch → band → bucket-join → verify → connected-components shape so the
  * candidate-pair step is a co-partitioned equi-join (never an all-pairs
  * product), which is what survives 100 TB:
  *   - MinHash+LSH: exact-text groups collapsed by one aggregate, per-rep
  *     signature (narrow mapPartitions), band keys, self-join on
  *     (band_idx, band_hash), similarity-verify on signatures, cluster with
  *     the same CC closure used for entity canonicalization.
  *   - SimHash: 64-bit weighted-token fingerprint; pigeonhole banding on
  *     4x16-bit keys guarantees recall for hamming distance <= 3.
  *   - n-gram Jaccard (exact): prefix-filtered inverted-index self-join,
  *     verified on full gram sets.
  * Each shuffle and broadcast stage of an operator runs once per call:
  * tables read twice are cached and released before the operator returns
  * (`plans/dedup` holds the executed plans with their exchange counts).
  */
object Dedup {

  /** Exact dedup: representative (min id) per identical normalized text. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("text_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---------------- MinHash ----------------

  /** Character-shingle MinHash signature; pure and deterministic. */
  def minhashSignature(text: String, numHashes: Int, shingle: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (text.length >= shingle) {
      var i = 0
      while (i + shingle <= text.length) {
        // rolling base hash of the shingle
        var h = 0x2545f4914f6cdd1dL
        var j = i
        while (j < i + shingle) { h = Determinism.mix64(h ^ text.charAt(j).toLong); j += 1 }
        var k = 0
        while (k < numHashes) {
          val hk = Determinism.mix64(h ^ (k.toLong * 0x9e3779b97f4a7c15L))
          if (hk < sig(k)) sig(k) = hk
          k += 1
        }
        i += 1
      }
    }
    sig
  }

  /** (id, sig) signatures — a narrow pass, no shuffle. */
  def signatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, shingle: Int = 5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        (id, minhashSignature(if (t == null) "" else t, numHashes, shingle))
      })
      .toDF("id", "sig")
  }

  /** Candidate pairs via banded LSH + signature-estimated Jaccard verify.
    * bands * rowsPerBand must equal numHashes. Returns (id_a, id_b, est_jaccard)
    * with id_a < id_b, est >= threshold.
    *
    * Only (id, band_hash) travels through the exploded self-join — carrying
    * both full 64-long signatures through the shuffle multiplied its bytes
    * ×bands×2; signatures are re-attached once per surviving candidate pair.
    */
  def minhashPairs(sigs: DataFrame, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { bi =>
      struct(lit(bi).as("band_idx"),
        xxhash64(slice(col("sig"), bi * rows + 1, rows), lit(bi)).as("band_hash"))
    }
    val banded = sigs
      .select(col("id"), explode(array(bandCols: _*)).as("band"))
      .select(col("id"),
        col("band.band_idx").as("band_idx"), col("band.band_hash").as("band_hash"))
    val a = banded.select(col("band_idx"), col("band_hash"), col("id").as("id_a"))
    val b = banded.select(col("band_idx"), col("band_hash"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / size(col("sig_a")))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Full MinHash-LSH dedup: cluster near-duplicates, keep min id per cluster.
    * Returns (id, cluster_rep).
    *
    * Stage shape — each stage runs once per call:
    *   1. one aggregate per exact-text group (sha2 of the text) gives the
    *      group's rep id and rep text together, cached;
    *   2. signatures of the reps, cached (read by the band self-join and
    *      both signature joins of [[minhashPairs]]);
    *   3. the near-dup pairs feed only the connected-components step, whose
    *      driver fast path collects them in one bounded collect;
    *   4. every member maps to its cluster through its group: the groups
    *      left-joined to the (small) components, then joined to the members
    *      on the text hash.
    */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, shingle: Int = 5, bands: Int = 16,
      threshold: Double = 0.7): DataFrame =
    materialize(minhashClustersPlan(df, idCol, textCol, numHashes, shingle, bands, threshold))

  /** Eagerly materializes an operator's plan (its small result rows,
    * disk-backed), then RELEASES the tables the plan cached — a library
    * operator must not leak storage memory into a long-lived session.
    * localCheckpoint also truncates the multi-join lineage for downstream
    * consumers.
    */
  private def materialize(built: (DataFrame, Seq[DataFrame])): DataFrame = {
    val (plan, cached) = built
    val result = plan.localCheckpoint()
    cached.foreach(_.unpersist())
    result
  }

  /** The unmaterialized (id, cluster_rep) plan of [[minhashClusters]] and the
    * tables it caches. Runs the connected-components step eagerly (its
    * driver fast path collects the near-dup edges). Package-visible so tests
    * and PlanDump can inspect the physical plan.
    */
  private[graft] def minhashClustersPlan(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingle: Int, bands: Int, threshold: Double): (DataFrame, Seq[DataFrame]) = {
    // Collapse EXACT duplicates first (hash groupBy): identical texts share
    // every band hash, so a group of N exact dups would otherwise blow the
    // band self-join up by N² — the dominant skew hazard on boilerplate-heavy
    // corpora. The rep of each text group (min id) is also the min over the
    // whole group, so mapping members back through their rep yields exactly
    // the clustering the naive form would produce.
    val withSha = df.select(col(idCol).cast("long").as("id"),
      col(textCol).as("__text"), sha2(coalesce(col(textCol), lit("")), 256).as("__sha"))
    // One aggregate yields each group's rep id AND its text: ids are unique,
    // so the struct min is decided by the id alone. Null ids are skipped
    // (like min(id)); a group with no non-null id has no rep and drops out.
    val reps = withSha.groupBy("__sha")
      .agg(min(when(col("id").isNotNull, struct(col("id"), col("__text")))).as("rep"))
      .filter(col("rep").isNotNull)
      .select(col("__sha"), col("rep.id").as("rep_id"), col("rep.__text").as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val sigs = signatures(reps, "rep_id", "text", numHashes, shingle)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = minhashPairs(sigs, numHashes, bands, threshold)
    // The CC fixpoint only needs the reps that are IN a near-dup pair —
    // a tiny graph on real corpora. Singleton reps (the overwhelming
    // majority at scale) keep themselves through the left join below
    // instead of riding every fixpoint round as self-edges.
    // Ids are ZERO-PADDED for the string-keyed CC so its lexicographic-min
    // rep IS the numeric min — the operator's contract is "cluster_rep =
    // lowest doc id in the cluster" (keep-lowest-id dedup; requires
    // non-negative ids, like every id column in this engine).
    // The non-negative-id assumption is ENFORCED, not just documented: a
    // negative id's zero-pad sorts wrongly ("-…05" < "-…10") and would
    // silently elect a wrong cluster rep — fail loudly instead.
    val pad = (c: org.apache.spark.sql.Column) =>
      when(c < 0, raise_error(concat(
        lit("minhashClusters: negative doc id breaks the zero-padded CC key: "),
        c.cast("string"))).cast("string"))
        .otherwise(format_string("%020d", c))
    val pairEdges = pairs
      .select(pad(col("id_a")).as("u"), pad(col("id_b")).as("v"))
    val clustered = Resolver.connectedComponents(pairEdges)
      .select(col("member").cast("long").as("rep_id"), col("rep").cast("long").as("cluster_rep"))
    val shaClusters = reps.select(col("__sha"), col("rep_id"))
      .join(clustered, Seq("rep_id"), "left")
      .select(col("__sha"), coalesce(col("cluster_rep"), col("rep_id")).as("cluster_rep"))
    // map every member through its exact-text group
    val result = withSha.select(col("id"), col("__sha"))
      .join(shaClusters, "__sha")
      .select(col("id"), col("cluster_rep"))
    (result, Seq(reps, sigs))
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash over whitespace tokens. */
  def simhash(text: String): Long = {
    val votes = new Array[Int](64)
    var start = -1
    var i = 0
    val n = text.length
    while (i <= n) {
      val ws = i == n || text.charAt(i).isWhitespace
      if (!ws && start < 0) start = i
      if (ws && start >= 0) {
        var h = 0x6a09e667f3bcc909L
        var j = start
        while (j < i) { h = Determinism.mix64(h ^ text.charAt(j).toLong); j += 1 }
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
        start = -1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def withSimhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, simhash(if (t == null) "" else t)) })
      .toDF("id", "simhash")
  }

  /** 60-bit SimHash with an md5-based token hash (first 15 hex chars) —
    * value-verifiable by the SQL oracle, since md5 exists in both engines.
    * Same voting semantics as [[simhash]]; prefer the mix64 variant (no
    * digest allocation) on the 100 TB path.
    */
  def simhashMd5(text: String): Long = {
    val votes = new Array[Int](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = text.length
    // Tokenization is exactly split("\\s+") (regex \s = [ \t\n\x0B\f\r]):
    // maximal runs of non-\s chars — but scanned in place, because the split
    // + per-byte f"%02x" + parseLong form of this function spent ~2.5 s of
    // its 4.2 s noop floor at sf0.1 inside java.lang.String.format (16
    // locale-aware format calls per token). The 60-bit value is unchanged:
    // the first 15 hex chars of an md5 digest ARE the top 60 bits of its
    // first 8 bytes read big-endian (OperatorsSpec pins equality to the
    // string-formatting reference on adversarial inputs).
    @inline def isWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')
    var i = 0
    var start = -1
    while (i <= n) {
      val ws = i == n || isWs(text.charAt(i))
      if (!ws && start < 0) start = i
      if (ws && start >= 0) {
        md.reset()
        val d = md.digest(
          text.substring(start, i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val h = (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
        var b = 0
        while (b < 60) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
        start = -1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def withSimhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, simhashMd5(if (t == null) "" else t)) })
      .toDF("id", "simhash")
  }

  /** Near-dup pairs with hamming(simhash) <= maxDist, found by pigeonhole
    * banding: split 64 bits into (maxDist+1) bands; any pair within maxDist
    * must agree exactly on at least one band — so the bucket join has full
    * recall and the hamming check is only run inside buckets.
    *
    * Scale note: a PAIR-emitting contract is inherently quadratic in the
    * size of an exact-duplicate group (N identical texts legitimately form
    * C(N,2) zero-distance pairs). For cluster-level output on
    * boilerplate-heavy corpora use [[minhashClusters]], which collapses
    * exact duplicates before banding.
    */
  def simhashPairs(hashed: DataFrame, maxDist: Int = 3): DataFrame = {
    val nBands = maxDist + 1
    val width = 64 / nBands
    val bandCols = (0 until nBands).map { bi =>
      struct(lit(bi).as("bidx"),
        shiftright(col("simhash"), bi * width)
          .bitwiseAND(lit((1L << width) - 1)).as("bkey"))
    }
    val banded = hashed
      .select(col("id"), col("simhash"), explode(array(bandCols: _*)).as("band"))
      .select(col("id"), col("simhash"),
        col("band.bidx").as("band_idx"), col("band.bkey").as("band_key"))
    val a = banded.select(col("band_idx"), col("band_key"),
      col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("band_idx"), col("band_key"),
      col("id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  // ---------------- n-gram Jaccard (exact, for verify/eval) ----------------

  /** Lowercased whitespace tokens of a text column. ALWAYS materialize this
    * through its own projection before feeding it to a gram lambda:
    * higher-order functions evaluate interpreted, and a non-attribute `toks`
    * expression inside the per-position lambda is RE-EVALUATED per gram
    * position — the regex split would run O(tokens) times per row (measured
    * 6x the whole gram build at sf0.1). Against a plain column attribute the
    * lambda is just an array read, and Catalyst's CollapseProject leaves the
    * boundary alone because the alias is referenced from non-cheap
    * expressions more than once.
    */
  private def tokArray(textCol: String): org.apache.spark.sql.Column =
    filter(split(lower(col(textCol)), "\\s+"), x => length(x) > 0)

  /** Distinct word n-gram strings from a MATERIALIZED token-array column;
    * texts shorter than n tokens yield their single partial gram. Shared by
    * [[ngramJaccardPairs]] and [[ngramContamination]] (and mirrored verbatim
    * by their DuckDB oracles).
    */
  private def gramsFromToks(toks: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))

  /** Distinct HASHED n-gram keys from a MATERIALIZED token-HASH column:
    * a gram key is the xxhash64 chain over its n token hashes — no gram
    * string is ever constructed. Equal grams ⇔ equal token sequences ⇔ equal
    * chains; distinct chains collide at ~2^-64. Everything downstream
    * (distinct, explode, shuffle, join, aggregate) moves 8-byte longs.
    */
  private def hashedGramsFromTokHashes(th: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    array_distinct(
      transform(sequence(lit(0), greatest(size(th) - n, lit(0))),
        i => aggregate(slice(th, i + 1, lit(n)), lit(42L), (acc, h) => xxhash64(acc, h))))

  /** Exact word n-gram Jaccard pairs at `threshold`, with PREFIX-FILTERED
    * candidate generation (AllPairs/PPJoin principle, Bayardo et al. WWW'07):
    * under a consistent global gram order (document frequency asc, gram asc —
    * rarest first), any pair with Jaccard >= t must share a gram inside both
    * docs' prefixes of length |g| - ceil(t*|g|) + 1, so only those prefix
    * grams enter the inverted-index self-join. This bounds the join by the
    * prefix posting lists instead of the full ones — the round-1 unbounded
    * version was quadratic in hot-gram df (64.9 s at sf0.1, the slowest bench
    * query; a common 3-gram alone yields O(df²) pairs). The result is still
    * EXACT: no pair at threshold can be lost (prefix-filter guarantee), and
    * surviving candidates verify true Jaccard over their FULL gram sets.
    *
    * Stage shape — each stage runs once per call:
    *   1. the per-doc distinct gram arrays, cached (read by the posting and
    *      by both verify joins);
    *   2. the posting (id, n_grams, gram) exchanged by gram, where a window
    *      count gives each gram's document frequency;
    *   3. the same rows exchanged by id, where a row_number window keeps each
    *      doc's rarest-first prefix; the prefix table is cached, so both
    *      sides of the gram self-join read it and the sides' identical gram
    *      exchanges run once (the second is reused);
    *   4. the candidate distinct, then the two verify joins against the
    *      cached gram arrays (AQE broadcasts them while they are small).
    * No broadcast hints: at vocabulary or corpus scale every join falls back
    * to a shuffle, and the gram exchange that feeds the df window is the one
    * a shuffled df join would have needed anyway.
    *
    * hashGrams = true is the 100 TB path (same construction as
    * [[ngramContamination]]): gram keys are 8-byte token-hash chains, never
    * strings, so the posting explode, df window, prefix self-join, and the
    * final gram-set intersect all move longs. Jaccard VALUES are unchanged
    * (gram equality ⇔ chain equality w.h.p., so set cardinalities match) —
    * the hashed path shares the string path's value-exact oracle; the
    * prefix-filter guarantee needs only a CONSISTENT global gram order,
    * which (df asc, hash asc) provides just as (df asc, gram asc) did.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, hashGrams: Boolean = false): DataFrame =
    materialize(ngramJaccardPlan(df, idCol, textCol, n, threshold, hashGrams))

  /** The unmaterialized plan of [[ngramJaccardPairs]] and the tables it
    * caches (the caller releases them once the plan has run). Package-visible
    * so tests and PlanDump can inspect the physical plan.
    */
  private[graft] def ngramJaccardPlan(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, hashGrams: Boolean): (DataFrame, Seq[DataFrame]) = {
    val grams = (if (hashGrams)
      df.select(col(idCol).cast("long").as("id"),
        transform(tokArray(textCol), t => xxhash64(t)).as("__th"))
        .select(col("id"), hashedGramsFromTokHashes(col("__th"), n).as("grams"))
    else
      df.select(col(idCol).cast("long").as("id"), tokArray(textCol).as("__toks"))
        .select(col("id"), gramsFromToks(col("__toks"), n).as("grams")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Document frequency comes from the exchange that partitions the posting
    // by gram (a window count), and the rarest-first prefix from the one that
    // partitions it by id — the posting crosses each exchange once. The
    // prefix is cached so both self-join sides read one computation.
    val prefix = grams
      .select(col("id"), size(col("grams")).as("n_grams"), explode(col("grams")).as("gram"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("gram")))
      .withColumn("pos", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("gram"))))
      .filter(col("pos") <= col("n_grams") - ceil(lit(threshold) * col("n_grams")) + 1)
      .select(col("gram"), col("id"), col("n_grams"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // AllPairs length filter: jaccard >= t implies |A∩B| <= min(|A|,|B|) and
    // |A∩B| >= t*max(|A|,|B|), so min >= t*max — provably lossless, and it
    // prunes the candidate explosion among same-gram docs of incompatible
    // sizes before the distinct/verify stages.
    val (na, nb) = (col("a.n_grams"), col("b.n_grams"))
    val pairs = prefix.as("a").join(prefix.as("b"), col("a.gram") === col("b.gram"))
      .filter(col("a.id") < col("b.id") &&
        least(na, nb).cast("double") >= lit(threshold) * greatest(na, nb).cast("double"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val verified = pairs
      .join(grams.select(col("id").as("id_a"), col("grams").as("grams_a")), Seq("id_a"))
      .join(grams.select(col("id").as("id_b"), col("grams").as("grams_b")), Seq("id_b"))
      .withColumn("shared", size(array_intersect(col("grams_a"), col("grams_b"))))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (size(col("grams_a")) + size(col("grams_b")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    (verified, Seq(grams, prefix))
  }

  /** Eval-set decontamination (the GPT-3 n-gram overlap rule): training
    * documents that share at least one word n-gram with ANY eval document,
    * with the count of distinct shared grams as the contamination signal.
    *
    * Scale shape: ids+grams-only equi-join on the gram string — the eval
    * side (benchmarks: thousands of docs) is deliberately unhinted, so AQE
    * broadcasts its distinct-gram set while it is small and degrades to a
    * shuffled join if someone passes an eval set that isn't. No text or
    * gram arrays travel past the explode.
    */
  def ngramContamination(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 13, hashGrams: Boolean = false): DataFrame = {
    // hashGrams = true is the 100 TB path: gram keys are 8-byte token-hash
    // chains built WITHOUT constructing gram strings at all
    // ([[hashedGramsFromTokHashes]]), so both the per-row gram work and everything
    // downstream (distinct, explode, shuffle, join, aggregate) move longs
    // instead of ~6n-char strings. A cross-gram hash collision could
    // overcount by 1 in ~2^-64 — the string form stays the oracle variant
    // (q_decontaminate), and OperatorsSpec pins the two paths equal.
    def gramRows(src: DataFrame, keep: Seq[String]): DataFrame = {
      val keepCols = keep.map(col)
      if (hashGrams)
        src.select(keepCols :+
          transform(tokArray(textCol), t => xxhash64(t)).as("__th"): _*)
          .select(keepCols :+
            explode(hashedGramsFromTokHashes(col("__th"), n)).as("gram"): _*)
      else
        src.select(keepCols :+ tokArray(textCol).as("__toks"): _*)
          .select(keepCols :+ explode(gramsFromToks(col("__toks"), n)).as("gram"): _*)
    }
    val trainGrams = gramRows(
      train.select(col(idCol).cast("long").as("id"), col(textCol)), Seq("id"))
    val evalGrams = gramRows(eval.select(col(textCol)), Seq.empty).distinct()
    // (id, gram) is unique by construction here — gramArray is per-doc
    // distinct and the eval side is globally distinct — so a plain count is
    // the distinct-gram count without the count_distinct expand.
    trainGrams.join(evalGrams, Seq("gram"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared_grams"))
  }
}
