package graft.extract

import java.util.regex.Pattern

import graft.model.Mention
import graft.util.Determinism

/** Deterministic mention detection + per-turn relation-candidate extraction.
  *
  * Replaces the reference's per-chunk LLM extraction
  * (ref:src/fancyrag/kg/pipeline.py:665-756; [lib] LLMEntityRelationExtractor
  * with the closed schema of ref:scripts/config/kg_schema.json) with a
  * compiled gazetteer regex applied once per partition — the broadcast
  * dictionary / mapPartitions design of BASELINE.json's north_star. The
  * pattern rules mirror the sample corpus the reference's schema was written
  * for (ref:sample.txt:1, ref:docs/samples/pilot.txt:1):
  *
  *   Person  "founded"  Company  -> FOUNDED
  *   Company "launched" Product  -> LAUNCHED
  *   Person  "joined"   Company  -> JOINED
  *   Person  "joined in <year>"  -> JOINED with anaphoric object = the most
  *       recent prior turn's Company mention (extractTurn marks the
  *       candidate; ConvStage.perConversation resolves it in turn order —
  *       the cross-turn rule of SURVEY.md W2).
  */
object Extractor {

  final case class RelCand(
      conv_id: String,
      turn_idx: Int,
      subj_norm: String,
      pred: String,
      obj_norm: Option[String],
      anaphora: Boolean
  )

  final case class ExtractedTurn(
      conv_id: String,
      turn_idx: Int,
      mentions: Seq[Mention],
      rels: Seq[RelCand],
      candidates: Seq[Mention] // out-of-dictionary candidate mentions (X5)
  )

  /** The gazetteer extraction schema: every surface form of every dictionary
    * group, plus the sample-corpus connector rules
    * (ref:sample.txt:1, ref:docs/samples/pilot.txt:1 →
    * ref:scripts/config/kg_schema.json:14-18 patterns).
    */
  lazy val gazetteerEntries: Seq[(String, String, String)] = {
    def entries(groups: Seq[Seq[String]], label: String) =
      groups.flatMap(g => g.map(s => (s, Gazetteer.normalize(s), label)))
    entries(Gazetteer.companies, "Company") ++
      entries(Gazetteer.products, "Product") ++
      entries(Gazetteer.persons, "Person") ++
      entries(Gazetteer.operators, "Operator")
  }

  val gazetteerRules: Map[(String, String, String), String] = Map(
    ("Person", "founded", "Company") -> "FOUNDED",
    ("Company", "launched", "Product") -> "LAUNCHED",
    ("Person", "joined", "Company") -> "JOINED")

  /** Default extractor over the gazetteer schema. Equivalence of its scanner
    * to the alternation regex is property-tested (ExtractorSpec).
    */
  lazy val default: DictExtractor = new DictExtractor(gazetteerEntries, gazetteerRules)

  /** A flat single-word-term schema (each term is its own norm, label "Term",
    * adjacency rule Term+Term -> NEXT_TO) — used to oracle-verify the scanner
    * and rule machinery with SQL-expressible dictionaries over the driver's
    * document tables.
    */
  def termExtractor(terms: Seq[String]): DictExtractor =
    new DictExtractor(terms.map(t => (t, t, "Term")),
      Map(("Term", "", "Term") -> "NEXT_TO"))

  private lazy val mentionPattern: Pattern = {
    val alts = gazetteerEntries.map(_._1).sortBy(-_.length).map(Pattern.quote)
    Pattern.compile("(?<![A-Za-z0-9])(?:" + alts.mkString("|") + ")(?![A-Za-z0-9])")
  }

  private lazy val surfaceToEntry: Map[String, (String, String)] =
    gazetteerEntries.map(e => e._1 -> (e._2, e._3)).toMap

  @inline private def isWordChar(c: Char): Boolean = DictExtractor.isWordChar(c)

  private val joinedInYear = Pattern.compile(" joined in \\d{4}")

  /** Fast gazetteer scan — see [[DictExtractor.scanMentions]]. */
  private def scanMentions(convId: String, turnIdx: Int, text: String): Seq[Mention] =
    default.scanMentions(convId, turnIdx, text)

  /** Regex-based reference matcher — kept as the equivalence oracle for
    * scanMentions (used by tests only).
    */
  private[graft] def regexMentions(convId: String, turnIdx: Int, text: String): Seq[Mention] = {
    val m = mentionPattern.matcher(text)
    val ms = Seq.newBuilder[Mention]
    while (m.find()) {
      val surf = m.group()
      val (norm, label) = surfaceToEntry(surf)
      val id = Determinism.sha256(s"$convId:$turnIdx:${m.start()}").take(16)
      ms += Mention(conv_id = convId, turn_idx = turnIdx, mention_id = id,
        surface = surf, norm = norm, label = label, begin = m.start(), end = m.end())
    }
    ms.result()
  }

  @inline private def isUpperAscii(c: Char): Boolean = c >= 'A' && c <= 'Z'

  /** Out-of-dictionary candidate mentions: runs of >= 2 consecutive
    * capitalized words (each >= 2 chars, single-space separated) that do not
    * overlap a gazetteer match. The reference's LLM extractor emits entities
    * beyond any dictionary (SURVEY.md X5); this NER-style heuristic is the
    * deterministic analog — candidates that recur become `__Entity__` nodes
    * (KgBuild filters by RunConfig.minCandidateSupport), so the engine can
    * link more than what's in the static dictionary.
    */
  private[graft] def scanCandidates(convId: String, turnIdx: Int, text: String,
      taken: Seq[Mention]): Seq[Mention] = {
    val out = Seq.newBuilder[Mention]
    def overlapsTaken(s: Int, e: Int): Boolean =
      taken.exists(m => s < m.end && e > m.begin)
    var runStart = -1
    var runEnd = -1
    var runWords = 0
    def flush(): Unit = {
      if (runWords >= 2 && !overlapsTaken(runStart, runEnd)) {
        val surf = text.substring(runStart, runEnd)
        val id = Determinism.sha256(s"$convId:$turnIdx:$runStart:cand").take(16)
        out += Mention(conv_id = convId, turn_idx = turnIdx, mention_id = id,
          surface = surf, norm = Gazetteer.normalize(surf), label = "__Candidate__",
          begin = runStart, end = runEnd)
      }
      runStart = -1; runEnd = -1; runWords = 0
    }
    val n = text.length
    var i = 0
    while (i < n) {
      if (isWordChar(text.charAt(i)) && (i == 0 || !isWordChar(text.charAt(i - 1)))) {
        var e = i
        while (e < n && isWordChar(text.charAt(e))) e += 1
        val cap = isUpperAscii(text.charAt(i)) && e - i >= 2
        // a run continues only across exactly one space
        val contiguous = runStart >= 0 && i == runEnd + 1 && text.charAt(runEnd) == ' '
        if (cap && contiguous) { runEnd = e; runWords += 1 }
        else if (cap) { flush(); runStart = i; runEnd = e; runWords = 1 }
        else flush()
        i = e
      } else i += 1
    }
    flush()
    out.result()
  }

  /** Pure per-turn extraction (unit-testable without Spark). */
  def extractTurn(convId: String, turnIdx: Int, text: String): ExtractedTurn = {
    val mentions = scanMentions(convId, turnIdx, text)
    val rels = Seq.newBuilder[RelCand]
    // same-turn rules: consecutive mention pairs with a verb connector between
    rels ++= default.sameTurnRels(convId, turnIdx, text, mentions)
    // cross-turn anaphora: "<Person> joined in <year>" with no Company mention
    if (mentions.count(_.label == "Company") == 0) {
      mentions.filter(_.label == "Person").foreach { p =>
        if (joinedInYear.matcher(text).region(p.end, text.length).lookingAt())
          rels += RelCand(convId, turnIdx, p.norm, "JOINED", None, anaphora = true)
      }
    }
    ExtractedTurn(convId, turnIdx, mentions, rels.result(),
      scanCandidates(convId, turnIdx, text, mentions))
  }
}
