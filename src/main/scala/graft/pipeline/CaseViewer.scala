package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.Py

/** Data operations of the interactive case viewers
  * (`/root/reference/single_case_knowledge_graph.py`,
  * `/root/reference/case_selection_knowledge_graph.py`). The Dash UI layer
  * is out of scope; what a user queries through it is mapped here. The
  * viewers carry their OWN party/lawyer parsers with semantics that differ
  * from the KG importer's ([[KgJob.parseMultipleParties]] /
  * [[KgJob.parseLawyerSegment]]) — e.g. a party stoplist, a >2-length
  * gate, and a firm filter that drops names containing 'Ltd' or 'Co' —
  * so they are ported separately, quirks preserved. */
object CaseViewer {

  /** `clean_text` (`single_case_knowledge_graph.py:54-58`): None for
    * blank/'unknown' (lowercase compare on the RAW string — " unknown "
    * survives as "unknown"), else trimmed. */
  def cleanText(text: String): Option[String] = {
    if (text == null || Py.strip(text).isEmpty || text.toLowerCase(java.util.Locale.ROOT) == "unknown") None
    else Some(Py.strip(text))
  }

  /** `parse_parties` (`single_case_knowledge_graph.py:60-83`): '|' split,
    * pre-clean gate (len > 2, stoplist), generic ordinal strip `^\d+\w*\s+`,
    * paren/role removal, post-clean gate (len > 2). */
  def parseParties(partyString: String): Seq[String] = {
    if (partyString == null || partyString.isEmpty) return Seq.empty
    val stoplist = Set("whether the", "Defendant", "Plaintiff")
    val raw = if (partyString.contains("|")) partyString.split('|').toSeq
              else Seq(partyString)
    raw.flatMap { p0 =>
      val p1 = Py.strip(p0)
      if (p1.nonEmpty && p1.length > 2 && !stoplist.contains(p1)) {
        var p = Py.sub("""^\d+\w*\s+""", "", p1)
        p = Py.sub("""\s*\([^)]*\)\s*""", "", p)
        p = Py.sub("""\s*(Plaintiff|Defendant|plaintiff|defendant)\s*""", "", p)
        p = Py.strip(p)
        if (p.nonEmpty && p.length > 2) Some(p) else None
      } else None
    }
  }

  /** `parse_lawyers` (`single_case_knowledge_graph.py:85-120`): (name, type)
    * pairs — lawyers via `(Mr|Ms|Miss) name` with the viewer's lookahead and
    * a > 5 length gate; firms via instructed-by / parenthesized patterns
    * with the viewer's quirk of DROPPING any firm whose name contains 'Ltd'
    * or 'Co' (so "Wong & Co" never becomes a node here). Duplicates are
    * kept, as in the reference (no dedupe across patterns). */
  def parseLawyers(lawyerString: String): Seq[(String, String)] = {
    if (lawyerString == null || lawyerString.isEmpty) return Seq.empty
    val out = Seq.newBuilder[(String, String)]
    for (g <- Py.findAllGroups("""(Mr|Ms|Miss)\s+([A-Za-z\s]+?)(?=,|\s+\(|$)""", lawyerString)) {
      val full = Py.strip(s"${g(0)} ${g(1)}")
      if (full.length > 5) out += ((full, "lawyer"))
    }
    for (p <- Seq("""instructed by ([^,]+?)(?=,|for|$)""", """\(([^)]+)\)""");
         f0 <- Py.findAll(p, lawyerString)) {
      val f = Py.strip(f0)
      if (f.nonEmpty && f.length > 3 && !f.contains("Ltd") && !f.contains("Co"))
        out += ((f, "law_firm"))
    }
    out.result()
  }

  final case class ViewerNode(id: String, label: String, nodeType: String,
                              color: String, size: Int, props: Map[String, String])
  final case class ViewerEdge(source: String, target: String, label: String,
                              edgeType: String)

  /** The viewer's node palette (`single_case_knowledge_graph.py:29-39`). */
  private val nodeColors = Map(
    "Case" -> "#1f77b4", "Plaintiff" -> "#2ca02c", "Defendant" -> "#d62728",
    "Judge" -> "#9467bd", "Court" -> "#7f7f7f", "Lawyer" -> "#8c564b",
    "LawFirm" -> "#e377c2", "Amount" -> "#ff7f0e")

  /** `create_case_graph` (`single_case_knowledge_graph.py:122-326`): the
    * one-case node/edge assembly behind the single-case viewer, built from
    * the VIEWER'S parsers above (not KgJob's). Quirks preserved:
    *
    *  - the court label always appends "..." after the 30-char slice, even
    *    when the name is shorter (`:225`);
    *  - lawyer node ids use the index into the PRE-dedupe concatenated
    *    lawyer list (`for i, lawyer in enumerate(all_lawyers)` after the
    *    seen-set skip), so ids can be sparse (`:261-264`);
    *  - a missing case_number labels the case "案件\nUnknown", but an empty
    *    string stays empty (dict.get default semantics, `:129`);
    *  - amount node props carry the LABEL text, not the raw value (`:311`).
    *
    * Per-case and inherently tiny (a viewer screen), so this is a pure
    * function; [[caseGraphFor]] lifts it over a records DataFrame. */
  def caseGraph(caseData: Map[String, String]): (Seq[ViewerNode], Seq[ViewerEdge]) = {
    val nodes = Seq.newBuilder[ViewerNode]
    val edges = Seq.newBuilder[ViewerEdge]
    def get(k: String, default: String = ""): String =
      caseData.getOrElse(k, default)

    nodes += ViewerNode("case", s"案件\n${get("case_number", "Unknown")}",
      "Case", nodeColors("Case"), 80, caseData)

    val plaintiffs = parseParties(get("plaintiff"))
    plaintiffs.zipWithIndex.foreach { case (p, i) =>
      nodes += ViewerNode(s"plaintiff_$i", s"原告\n$p", "Plaintiff",
        nodeColors("Plaintiff"), 60, Map("name" -> p, "role" -> "plaintiff"))
      edges += ViewerEdge(s"plaintiff_$i", "case", "参与案件", "INVOLVES")
    }
    val defendants = parseParties(get("defendant"))
    defendants.zipWithIndex.foreach { case (d, i) =>
      nodes += ViewerNode(s"defendant_$i", s"被告\n$d", "Defendant",
        nodeColors("Defendant"), 60, Map("name" -> d, "role" -> "defendant"))
      edges += ViewerEdge(s"defendant_$i", "case", "参与案件", "INVOLVES")
    }
    for (i <- plaintiffs.indices; j <- defendants.indices)
      edges += ViewerEdge(s"plaintiff_$i", s"defendant_$j", "起诉", "SUES")

    cleanText(get("judge")).foreach { judge =>
      nodes += ViewerNode("judge", s"法官\n$judge", "Judge",
        nodeColors("Judge"), 50, Map("name" -> judge, "role" -> "judge"))
      edges += ViewerEdge("case", "judge", "审理法官", "JUDGED_BY")
    }
    cleanText(get("court_name")).foreach { court =>
      // Python's court[:30] slices CODE POINTS; String.take counts UTF-16
      // units and could split a surrogate pair on astral-plane input
      val cut = court.substring(0,
        court.offsetByCodePoints(0, math.min(30, court.codePointCount(0, court.length))))
      nodes += ViewerNode("court", s"法院\n$cut...", "Court",
        nodeColors("Court"), 45, Map("name" -> court, "type" -> "court"))
      edges += ViewerEdge("case", "court", "审理法院", "HEARD_IN")
    }

    val allLawyers =
      parseLawyers(get("plaintiff_lawyer")).map { case (n, t) => (n, t, "plaintiff") } ++
      parseLawyers(get("defendant_lawyer")).map { case (n, t) => (n, t, "defendant") } ++
      parseLawyers(get("lawyer_segment")).map { case (n, t) => (n, t, "unknown") }
    val seen = scala.collection.mutable.Set.empty[String]
    allLawyers.zipWithIndex.foreach { case ((name, lType, side), i) =>
      if (seen.add(name)) {
        val isLawyer = lType == "lawyer"
        nodes += ViewerNode(s"lawyer_$i",
          if (isLawyer) s"律师\n$name" else s"律师事务所\n$name",
          if (isLawyer) "Lawyer" else "LawFirm",
          nodeColors(if (isLawyer) "Lawyer" else "LawFirm"), 40,
          Map("name" -> name, "type" -> lType, "side" -> side))
        edges += ViewerEdge(s"lawyer_$i", "case", "参与案件", "REPRESENTS")
      }
    }

    for ((amountType, label) <-
           cleanText(get("claim_amount")).map(a => ("claim", s"申请金额\n$a")).toSeq ++
           cleanText(get("judgment_amount")).map(a => ("judgment", s"判决金额\n$a"))) {
      nodes += ViewerNode(s"amount_$amountType", label, "Amount",
        nodeColors("Amount"), 35, Map("type" -> amountType, "amount" -> label))
      edges += ViewerEdge("case", s"amount_$amountType", "涉及金额", "INVOLVES_AMOUNT")
    }
    (nodes.result(), edges.result())
  }

  /** One-case graph for the record matching `fileName` (the viewer's case
    * selection): collects the single selected row — a screenful by
    * definition — and assembles driver-side like the reference. */
  def caseGraphFor(records: DataFrame, fileName: String)
      : Option[(Seq[ViewerNode], Seq[ViewerEdge])] = {
    val rows = records.filter(col("file_name") === fileName).limit(1).collect()
    rows.headOption.map { row =>
      val m = row.schema.fieldNames.flatMap { f =>
        Option(row.getAs[Any](f)).map(v => f -> v.toString)
      }.toMap
      caseGraph(m)
    }
  }

  private val tableColumns = Seq(
    "case_number", "file_name", "trial_date", "case_type",
    "judgment_result", "language")

  /** The cases table (`case_selection_knowledge_graph.py:44-58`): the six
    * display columns with '' defaults. */
  def casesTable(records: DataFrame): DataFrame =
    records.select(tableColumns.map(c =>
      coalesce(col(c).cast("string"), lit("")).as(c)): _*)

  /** `search_cases` (`case_selection_knowledge_graph.py:559-588`):
    * case-insensitive substring match across the six search fields,
    * returning table rows. */
  def searchCases(records: DataFrame, term: String): DataFrame = {
    if (term == null || term.isEmpty) return casesTable(records)
    val fields = Seq("case_number", "file_name", "plaintiff", "defendant",
      "judge", "case_type")
    // the term lowers in the default locale on purpose: Spark's `lower`
    // (UTF8String.toLowerCase) lowers the fields it is matched against so
    val cond = fields.map(f =>
      lower(coalesce(col(f).cast("string"), lit(""))).contains(term.toLowerCase))
      .reduce(_ || _)
    casesTable(records.filter(cond))
  }
}
