package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.Py

/** The knowledge graph as two relations (SURVEY.md §2.3/§3.4):
  * `nodes(type, name, props)` and `edges(src_type, src_name, rel_type,
  * dst_type, dst_name)` — replacing the reference's per-row Neo4j bolt
  * writes (`knowledge_graph/data_importer.py:115-374`). Entity identity is
  * `(type, name)` after `dropDuplicates` (the relational form of the
  * reference's entity cache, `data_importer.py:238-250`). */
object KgJob {

  /** `parse_multiple_parties` (`data_importer.py:42-71`) as a pure function:
    * split on '|', strip ordinal/role decorations. */
  def parseMultipleParties(partyString: String): Seq[String] = {
    if (partyString == null || Py.strip(partyString).isEmpty) return Seq.empty
    val raw = if (partyString.contains("|")) partyString.split('|').toSeq
              else Seq(partyString)
    raw.flatMap { p0 =>
      var p = Py.strip(p0)
      if (p.nonEmpty) {
        p = Py.sub("""^\d+st\s+""", "", p)
        p = Py.sub("""^\d+nd\s+""", "", p)
        p = Py.sub("""^\d+rd\s+""", "", p)
        p = Py.sub("""^\d+th\s+""", "", p)
        p = Py.sub("""\s*\([^)]*\)\s*""", "", p)
        p = Py.sub("""\s*(Plaintiff|Defendant|plaintiff|defendant)\s*""", "", p)
        p = Py.strip(p)
        if (p.nonEmpty && p.length > 1) Some(p) else None
      } else None
    }
  }

  /** `parse_lawyer_segment` (`data_importer.py:73-113`): lawyers
    * (Mr/Ms/Miss + name) and law firms from the segment text. */
  def parseLawyerSegment(segment: String): (Seq[String], Seq[String]) = {
    if (segment == null || segment.isEmpty) return (Seq.empty, Seq.empty)
    val lawyers = scala.collection.mutable.LinkedHashSet.empty[String]
    val firms = scala.collection.mutable.LinkedHashSet.empty[String]
    for (part0 <- Py.resplit("""\|""", segment)) {
      val part = Py.strip(part0)
      if (part.nonEmpty) {
        for (g <- Py.findAllGroups("""(Mr|Ms|Miss)\s+([A-Za-z\s]+?)(?=,|\s+instructed|\s+of|\s+for|$)""", part))
          lawyers += Py.strip(s"${g(0)} ${g(1)}")
        for (p <- Seq("""instructed by ([^,]+?)(?=,|for|$)""",
                      """of ([^,]+?)(?=,|for|$)""",
                      """\(([^)]+)\)""");
             f0 <- Py.findAll(p, part)) {
          val f = Py.strip(f0)
          if (f.nonEmpty && f.length > 3) firms += f
        }
      }
    }
    (lawyers.toSeq, firms.toSeq)
  }

  private val parsePartiesUdf = udf(parseMultipleParties _)
  /** One parse per lawyer segment: struct(_1 lawyers, _2 firms). */
  private val parseLawyerSegmentUdf = udf(parseLawyerSegment _)

  /** `clean_field` (`data_importer.py:120-123`): blank / whitespace-only /
    * 'unknown' (case-insensitive) → "", else trimmed. */
  private def cleanField(c: Column): Column = {
    val raw = coalesce(c.cast("string"), lit(""))
    when(trim(raw) === "" || lower(raw) === "unknown", lit("")).otherwise(trim(raw))
  }

  /** Column access tolerant of narrower record schemas (tests and partial
    * pipelines feed records without every extraction field). */
  private def fieldOr(records: DataFrame, name: String): Column =
    if (records.columns.contains(name)) col(name) else lit("")

  /** Case node id (`data_importer.py:126-133`): cleaned case_number, else
    * cleaned file_name, else a synthesized id. The reference uses Python's
    * run-dependent `f"case_{hash(str(case_data))}"[:16]`; the stable
    * replacement promised in SURVEY.md §2.8 is a 16-char `case_<md5-prefix>`
    * over the record's fields, deterministic across runs and executors. */
  private def caseKey(records: DataFrame): Column = {
    val fields = Seq("case_number", "file_name", "court_name", "judge",
      "plaintiff", "defendant", "lawyer", "trial_date", "case_type",
      "judgment_result", "claim_amount", "judgment_amount", "language",
      "document_type")
    val stable = concat(lit("case_"),
      substring(md5(concat_ws("", fields.map(f => cleanField(fieldOr(records, f))): _*)), 1, 11))
    val cn = cleanField(fieldOr(records, "case_number"))
    val fn = cleanField(fieldOr(records, "file_name"))
    when(cn =!= "", cn).when(fn =!= "", fn).otherwise(stable)
  }

  /** `config.CASE_TYPES` / `config.JUDGMENT_RESULTS`
    * (`knowledge_graph/config.py:57-77`) — the Chinese display names
    * attached to Case nodes. Lookups key on the RAW field value, exactly
    * like the reference's `.get(case_data.get(...), '')`. */
  private val caseTypesCn = Map(
    "Trust Dispute" -> "信托纠纷", "Commercial Dispute" -> "商业纠纷",
    "Debt Recovery" -> "债务追讨", "Contract Dispute" -> "合同纠纷",
    "Civil Action" -> "民事诉讼", "Appeal" -> "上诉",
    "Mareva Injunction Discharge Application" -> "马瑞华禁制令撤销申请",
    "Setting Aside Application" -> "撤销申请",
    "Amendment Application" -> "修正申请",
    "Miscellaneous Proceedings" -> "杂项法律程序")
  private val judgmentResultsCn = Map(
    "Win" -> "胜诉", "Lose" -> "败诉", "Appeal Dismissed" -> "上诉被驳回",
    "Plaintiff Withdrawn" -> "原告撤诉", "unknown" -> "未知")

  private def cnLookup(m: Map[String, String], c: Column): Column =
    coalesce(element_at(typedlit(m), coalesce(c.cast("string"), lit(""))), lit(""))

  /** Records → exploded per-case entity view (cached intermediate). */
  private def entityView(records: DataFrame): DataFrame =
    records.select(
      caseKey(records).as("case_key"),
      cleanField(fieldOr(records, "file_name")).as("file_name"),
      cleanField(col("court_name")).as("court_name"),
      cleanField(col("judge")).as("judge"),
      parsePartiesUdf(col("plaintiff")).as("plaintiffs"),
      parsePartiesUdf(col("defendant")).as("defendants"),
      parseLawyerSegmentUdf(col("lawyer")).as("lawyer_segment"),
      lower(coalesce(col("lawyer"), lit(""))).as("lawyer_segment_lc"),
      caseProps(records).as("case_props"))
      // both fields read the one parse: the optimizer does not inline a
      // UDF column into two readers, so it still runs once per row
      .withColumn("lawyers", col("lawyer_segment._1"))
      .withColumn("firms", col("lawyer_segment._2"))
      .drop("lawyer_segment")

  /** Case-node property map (`data_importer.py:135-155`): every extraction
    * field clean_field'd, plus the _cn display-name lookups on the raw
    * values; `file_name` falls back to the resolved case id. */
  private def caseProps(records: DataFrame): Column = {
    def f(n: String): Column = cleanField(fieldOr(records, n))
    map(
      lit("case_number"), caseKey(records),
      lit("file_name"), when(f("file_name") =!= "", f("file_name")).otherwise(caseKey(records)),
      lit("trial_date"), f("trial_date"),
      lit("case_type"), f("case_type"),
      lit("case_type_cn"), cnLookup(caseTypesCn, fieldOr(records, "case_type")),
      lit("judgment_result"), f("judgment_result"),
      lit("judgment_result_cn"), cnLookup(judgmentResultsCn, fieldOr(records, "judgment_result")),
      lit("claim_amount"), f("claim_amount"),
      lit("judgment_amount"), f("judgment_amount"),
      lit("language"), f("language"),
      lit("document_type"), f("document_type"),
      lit("court_name"), f("court_name"),
      lit("judge"), f("judge"),
      lit("plaintiff"), f("plaintiff"),
      lit("defendant"), f("defendant"))
  }

  /** Nodes: Case, Court, Judge, Plaintiff, Defendant, Lawyer, LawFirm with
    * their reference property maps (`data_importer.py:135-234`), deduped on
    * (type, name) — the relational form of the reference's entity cache,
    * which only creates a node the first time a (type, name) is seen
    * (`data_importer.py:238-250`). Documented deviation: the reference's
    * tiebreak is its ingest ITERATION order, which a DataFrame doesn't
    * carry; the winner here is chosen by CANONICAL lexicographic
    * `file_name` order — deterministic across runs/executors, but when the
    * same (type, name) appears in multiple files the surviving props can
    * differ from a reference run. */
  def nodes(records: DataFrame): DataFrame = {
    val ev = entityView(records)
    val cases = ev.select(lit("Case").as("type"), col("case_key").as("name"),
      col("case_props").as("props"), col("file_name"))
    def roleProps(role: String): Column =
      map(lit("name"), col("name"), lit("role"), lit(role))
    def typeProps(t: String): Column =
      map(lit("name"), col("name"), lit("type"), lit(t))
    val courts = ev.filter(col("court_name") =!= "")
      .select(lit("Court").as("type"), col("court_name").as("name"), col("file_name"))
      .withColumn("props", typeProps("court"))
    val judges = ev.filter(col("judge") =!= "")
      .select(lit("Judge").as("type"), col("judge").as("name"), col("file_name"))
      .withColumn("props", roleProps("judge"))
    val plaintiffs = ev.select(explode(col("plaintiffs")).as("name"), col("file_name"))
      .select(lit("Plaintiff").as("type"), col("name"), col("file_name"))
      .withColumn("props", roleProps("plaintiff"))
    val defendants = ev.select(explode(col("defendants")).as("name"), col("file_name"))
      .select(lit("Defendant").as("type"), col("name"), col("file_name"))
      .withColumn("props", roleProps("defendant"))
    val lawyers = ev.select(explode(col("lawyers")).as("name"), col("file_name"))
      .select(lit("Lawyer").as("type"), col("name"), col("file_name"))
      .withColumn("props", roleProps("lawyer"))
    val firms = ev.select(explode(col("firms")).as("name"), col("file_name"))
      .select(lit("LawFirm").as("type"), col("name"), col("file_name"))
      .withColumn("props", typeProps("law_firm"))

    val all = cases.select("type", "name", "props", "file_name")
      .unionByName(courts.select("type", "name", "props", "file_name"))
      .unionByName(judges.select("type", "name", "props", "file_name"))
      .unionByName(plaintiffs.select("type", "name", "props", "file_name"))
      .unionByName(defendants.select("type", "name", "props", "file_name"))
      .unionByName(lawyers.select("type", "name", "props", "file_name"))
      .unionByName(firms.select("type", "name", "props", "file_name"))
    // dedupe on (type, name); canonical lexicographic file_name tiebreak
    // (NOT reference insertion order — see the scaladoc deviation note)
    val w = Window.partitionBy(col("type"), col("name"))
      .orderBy(col("file_name"))
    all.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("type"), col("name"), col("props"))
  }

  /** One edge row's columns: `(src_type, src_name, rel_type, dst_type,
    * dst_name)`. */
  private def edge(srcType: String, src: Column, rel: String, dstType: String,
                   dst: Column): Seq[Column] =
    Seq(lit(srcType).as("src_type"), src.as("src_name"), lit(rel).as("rel_type"),
      lit(dstType).as("dst_type"), dst.as("dst_name"))

  /** Edges: HEARD_IN, JUDGED_BY, INVOLVES_PLAINTIFF, INVOLVES_DEFENDANT,
    * and the per-case plaintiff×defendant SUES cross product
    * (`data_importer.py:252-295`) — an equi-join on case_key carrying a
    * local cross product, expressed as explode × explode. */
  def edges(records: DataFrame): DataFrame = {
    val ev = Materialize.cache(entityView(records))
    val heardIn = ev.filter(col("court_name") =!= "")
      .select(edge("Case", col("case_key"), "HEARD_IN", "Court", col("court_name")): _*)
    val judgedBy = ev.filter(col("judge") =!= "")
      .select(edge("Case", col("case_key"), "JUDGED_BY", "Judge", col("judge")): _*)
    val invP = ev.select(col("case_key"), explode(col("plaintiffs")).as("p"))
      .select(edge("Case", col("case_key"), "INVOLVES_PLAINTIFF", "Plaintiff", col("p")): _*)
    val invD = ev.select(col("case_key"), explode(col("defendants")).as("d"))
      .select(edge("Case", col("case_key"), "INVOLVES_DEFENDANT", "Defendant", col("d")): _*)
    // SUES: per-case local cross product — both explodes stay on the same
    // row (no join/shuffle needed at all).
    val sues = ev
      .select(col("case_key"), explode(col("plaintiffs")).as("p"), col("defendants"))
      .select(col("p"), explode(col("defendants")).as("d"))
      .select(edge("Plaintiff", col("p"), "SUES", "Defendant", col("d")): _*)
    // REPRESENTED_BY (`data_importer.py:306-322`): lawyer → party, gated on
    // the lawyer segment mentioning the party's role (the reference's
    // coarse 'plaintiff'/'defendant' substring check).
    def representedBy(roleWord: String, partiesCol: String, dstType: String): DataFrame =
      ev.filter(col("lawyer_segment_lc").contains(roleWord))
        .select(explode(col("lawyers")).as("l"), col(partiesCol))
        .select(col("l"), explode(col(partiesCol)).as("p"))
        .select(edge("Lawyer", col("l"), "REPRESENTED_BY", dstType, col("p")): _*)
    val repP = representedBy("plaintiff", "plaintiffs", "Plaintiff")
    val repD = representedBy("defendant", "defendants", "Defendant")
    // WORKS_FOR (`data_importer.py:324-329`): lawyer → firm, per case.
    val worksFor = ev
      .select(explode(col("lawyers")).as("l"), col("firms"))
      .select(col("l"), explode(col("firms")).as("f"))
      .select(edge("Lawyer", col("l"), "WORKS_FOR", "LawFirm", col("f")): _*)
    heardIn.unionByName(judgedBy).unionByName(invP).unionByName(invD)
      .unionByName(sues).unionByName(repP).unionByName(repD)
      .unionByName(worksFor)
  }

  /** `query_nodes` (`graph_database.py:139-168`): optional label filter +
    * property-equality filters + limit, over the nodes relation. */
  def queryNodes(nodes: DataFrame, label: Option[String] = None,
                 properties: Map[String, String] = Map.empty,
                 limit: Int = 100): DataFrame = {
    val byLabel = label.fold(nodes)(l => nodes.filter(col("type") === l))
    val byProps = properties.foldLeft(byLabel) { case (df, (k, v)) =>
      df.filter(element_at(col("props"), k) === v)
    }
    byProps.limit(limit)
  }

  /** `query_relationships` (`graph_database.py:170-202`): optional
    * relationship-type filter + limit. */
  def queryRelationships(edges: DataFrame, relType: Option[String] = None,
                         limit: Int = 100): DataFrame =
    relType.fold(edges)(t => edges.filter(col("rel_type") === t)).limit(limit)

  /** Visualizer subgraph (`visualizer.py:178-283`): select nodes — by type,
    * or by Case-property conditions (case_type / judgment_result equality,
    * any-prop-contains search) — with the display columns (label truncated
    * `[:17] + "..."` past 20 chars, class-based size), then the edges whose
    * BOTH endpoints were selected, capped at 2×limit.
    *
    * Documented deviation: the reference's Cypher puts the property WHERE
    * on an `OPTIONAL MATCH (c:Case)` after `MATCH (n)`, which makes the
    * filter vacuous (every n survives with c = null); this implements the
    * evident intent — the conditions select Case nodes. */
  def subgraph(nodes: DataFrame, edges: DataFrame,
               nodeType: Option[String] = None,
               caseType: Option[String] = None,
               judgmentResult: Option[String] = None,
               searchTerm: Option[String] = None,
               limit: Int = 200): (DataFrame, DataFrame) = {
    val base = nodeType match {
      case Some(t) => nodes.filter(col("type") === t)
      case None =>
        val conds = Seq(
          caseType.map(v => element_at(col("props"), "case_type") === v),
          judgmentResult.map(v => element_at(col("props"), "judgment_result") === v),
          searchTerm.map { s =>
            col("name").contains(s) ||
              exists(map_values(col("props")), _.contains(s))
          }).flatten
        if (conds.isEmpty) nodes
        else nodes.filter(col("type") =!= "Case" || conds.reduce(_ && _))
    }
    val size = when(col("type") === "Case", 50)
      .when(col("type").isin("Judge", "Court"), 40)
      .when(col("type").isin("Lawyer", "LawFirm"), 35)
      .otherwise(30)
    val display = when(length(col("name")) > 20,
      concat(substring(col("name"), 1, 17), lit("..."))).otherwise(col("name"))
    val selected = base.limit(limit)
      .withColumn("display_label", display)
      .withColumn("size", size)

    val sel = selected.select(col("type"), col("name")).distinct()
    val subEdges = edges
      .join(sel.withColumnRenamed("type", "src_type")
        .withColumnRenamed("name", "src_name"), Seq("src_type", "src_name"), "left_semi")
      .join(sel.withColumnRenamed("type", "dst_type")
        .withColumnRenamed("name", "dst_name"), Seq("dst_type", "dst_name"), "left_semi")
      .limit(limit * 2)
    (selected, subEdges)
  }

  /** A7 — node/relationship statistics
    * (`knowledge_graph/graph_database.py:204-238`). */
  def nodeStatistics(nodes: DataFrame): DataFrame =
    nodes.groupBy("type").agg(count(lit(1)).as("count")).orderBy(desc("count"))

  def relationshipStatistics(edges: DataFrame): DataFrame =
    edges.groupBy("rel_type").agg(count(lit(1)).as("count")).orderBy(desc("count"))

  /** J2/W2 — similar-case scoring: self-join + per-case top-10
    * (`knowledge_graph/graph_database.py:240-271`). Similarity =
    * 0.4·[case_type eq] + 0.2·[court eq] + 0.2·[result eq] +
    * 0.2·[|claim−claim| < 1e6].
    *
    * Scale shape: for any threshold > 0.6, case_type equality is a
    * NECESSARY condition — the other three terms sum to at most
    * 0.2+0.2+0.2 = 0.6, so no pair with differing case_type can reach the
    * threshold. The join is therefore a shuffled (or AQE-broadcast, when
    * one side is small — size-based, never forced) EQUI-join on case_type
    * instead of the N² theta cross product. For threshold <= 0.6 the
    * necessary condition doesn't hold and the reference's full pairwise
    * comparison is the semantics, so the theta join is kept on that path
    * (a consumer asking for sub-0.6 similarity is asking for ~all pairs). */
  def similarCases(cases: DataFrame, threshold: Double = 0.7): DataFrame = {
    val a = cases.select(
      col("case_key").as("a_key"), col("case_type").as("a_ct"),
      col("court_name").as("a_court"), col("judgment_result").as("a_jr"),
      col("claim_value").as("a_cv"))
    val b = cases.select(
      col("case_key").as("b_key"), col("case_type").as("b_ct"),
      col("court_name").as("b_court"), col("judgment_result").as("b_jr"),
      col("claim_value").as("b_cv"))

    val sim =
      when(col("a_ct") === col("b_ct"), 0.4).otherwise(0.0) +
      when(col("a_court") === col("b_court"), 0.2).otherwise(0.0) +
      when(col("a_jr") === col("b_jr"), 0.2).otherwise(0.0) +
      when(abs(col("a_cv") - col("b_cv")) < 1000000, 0.2).otherwise(0.0)

    val joined =
      if (threshold > 0.6)
        a.join(b, col("a_ct") === col("b_ct") && col("a_key") =!= col("b_key"))
      else
        a.join(b, col("a_key") =!= col("b_key"))

    val w = Window.partitionBy(col("a_key"))
      .orderBy(desc("similarity"), col("b_key"))
    joined
      .withColumn("similarity", sim)
      .filter(col("similarity") >= threshold)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .drop("rn")
  }
}
