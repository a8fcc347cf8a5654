package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Decontaminate

/** Test-set decontamination: shingle overlap detection, per-doc shingle
  * dedup, the document-frequency cap, and test-split exclusion. */
class DecontaminateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-decontam-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import org.apache.spark.sql.functions.col

  test("shingles are per-doc distinct and need k tokens") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b c"),     // windows repeat: a b c a / b c a b / ...
      (2L, "x y z"),                 // only 3 tokens: no 4-shingle
      (3L, "")
    ).toDF("doc_id", "text")
    val sh = Decontaminate.shingles(docs, 4).collect()
    assert(!sh.exists(_.getLong(0) == 2L) && !sh.exists(_.getLong(0) == 3L))
    val doc1 = sh.filter(_.getLong(0) == 1L).map(_.getString(1))
    assert(doc1.length == doc1.distinct.length)
    assert(doc1.length == 3)  // a-b-c-a / b-c-a-b / c-a-b-a? no: 3 distinct of 6 windows
  }

  test("token_shingles_md5 kernel == composed normalize/split/slice/join/md5 form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // raw inputs incl. messy whitespace (the kernel normalizes in its own
    // byte walk and must match the trim(regexp_replace(\s+))-then-split
    // composed chain), repeats, CJK tokens, exactly-k / fewer-than-k
    // tokens, single char, all-whitespace, empty
    val texts = Seq(
      "a b c a b c a b c", "the quick brown fox jumps over the lazy dog",
      "早 安 世界 早 安 世界 再見", "one two three four", "one two three",
      "x", "", " \t\n\f\r ", "a  b\tc d e", " a b\nc d", "a b c d ",
      "nb sp inside token stays one two three",
      ("tok " * 50).trim) ++
      (0 until 20).map(i => new scala.util.Random(i).alphanumeric.take(80)
        .mkString.replaceAll("(.{6})", "$1 ").trim)
    for (k <- Seq(2, 4)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "raw")
      val kernel = df.select(col("doc_id"),
        graft.plans.TextHashExprs.token_shingles_md5(col("raw"), lit(k)).as("sh"))
      val nt = trim(regexp_replace(col("raw"), "\\s+", " "))
      val composed = df
        .select(col("doc_id"), nt.as("nt"))
        .select(col("doc_id"), col("nt"), split(col("nt"), " ").as("toks"))
        .select(col("doc_id"),
          when(col("nt") =!= "" && size(col("toks")) >= k,
            array_distinct(transform(
              sequence(lit(0), size(col("toks")) - k),
              i => md5(array_join(slice(col("toks"), i + 1, lit(k)), " ")))))
            .otherwise(array().cast("array<string>")).as("sh"))
      val a = kernel.orderBy("doc_id").collect().map(_.getSeq[String](1))
      val b = composed.orderBy("doc_id").collect().map(_.getSeq[String](1))
      assert(a.length == b.length)
      a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
        assert(x == y, s"k=$k doc=$i: $x != $y")
      }
    }
  }

  test("a training doc sharing a 4-shingle with a test doc is flagged; others are not") {
    import spark.implicits._
    val docs = Seq(
      (0L, "held out test sequence words tail one"),          // test split (0 % 97 == 0)
      (5L, "prefix held out test sequence suffix"),           // shares "held out test sequence"
      (6L, "completely different training content here now")  // clean
    ).toDF("doc_id", "text")
    val hit = Decontaminate.contaminated(docs, 4, 97L, 50L).collect()
    assert(hit.map(_.getLong(0)).toSet == Set(5L))
    val r = hit.head
    assert(r.getLong(1) == 1 && r.getLong(2) == 1)
  }

  test("the DF cap silences ubiquitous shingles") {
    import spark.implicits._
    val common = "the same four tokens"
    val docs = ((0L, common) +: (1L to 5L).map(i => (i, s"$common plus doc$i filler")))
      .toDF("doc_id", "text")
    // shingle "the same four tokens" appears in all 5 training docs
    val loose = Decontaminate.contaminated(docs, 4, 97L, 50L).collect()
    assert(loose.length == 5)
    val capped = Decontaminate.contaminated(docs, 4, 97L, 4L).collect()
    // df=5 > cap=4: the only shared shingle is dropped -> nothing flagged
    assert(capped.forall(_.getLong(1) == 0) || capped.isEmpty)
  }

  test("test docs never flag themselves or each other") {
    import spark.implicits._
    val docs = Seq(
      (0L, "shared quad of tokens alpha"),
      (97L, "shared quad of tokens beta")
    ).toDF("doc_id", "text")
    assert(Decontaminate.contaminated(docs, 4, 97L, 50L).collect().isEmpty)
  }

  test("audit names the test doc and counts the shared shingles per pair") {
    import spark.implicits._
    val docs = Seq(
      (0L, "held out test sequence words tail one"),   // test doc A
      (97L * 2, "another probe quad entirely separate"), // test doc B
      // shares "held out test sequence" with A AND "another probe quad
      // entirely" with B; two distinct shingles with A via the longer run
      (5L, "held out test sequence words then another probe quad entirely"),
      (6L, "clean training content with no overlap at all")
    ).toDF("doc_id", "text")
    val audit = Decontaminate.contaminationAudit(docs, 4, 97L, 50L)
      .orderBy(col("doc_id"), col("test_doc_id")).collect()
    assert(audit.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((5L, 0L), (5L, 194L)))
    val vsA = audit.find(_.getLong(1) == 0L).get
    // "held out test sequence" + "out test sequence words" = 2 shared
    assert(vsA.getLong(2) == 2, s"expected 2 shared shingles vs doc 0, got $vsA")
    assert(vsA.getString(3).nonEmpty)
    // grouping the audit by doc reproduces `contaminated`'s doc set
    val fromAudit = audit.map(_.getLong(0)).toSet
    val flagged = Decontaminate.contaminated(docs, 4, 97L, 50L)
      .collect().map(_.getLong(0)).toSet
    assert(fromAudit == flagged)
  }

  test("plan: equi-joins only, no cartesian") {
    import spark.implicits._
    val docs = Seq((0L, "a b c d e"), (1L, "a b c d f")).toDF("doc_id", "text")
    val p = Decontaminate.contaminated(docs, 4, 97L, 50L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }
}
