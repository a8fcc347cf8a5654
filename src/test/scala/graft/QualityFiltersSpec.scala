package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.QualityFilters

/** Gopher-rule quality signals: hand-computed expectations per rule,
  * null/empty tolerance, and the conjunction semantics of `passes`. */
class QualityFiltersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-quality-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def signals(text: String): Row = {
    import spark.implicits._
    QualityFilters.gopherSignals(Seq((1L, text)).toDF("doc_id", "text"))
      .select("word_count", "mean_word_len", "symbol_word_ratio",
        "alpha_word_ratio", "n_stopwords", "passes")
      .collect()(0)
  }

  test("a clean long document passes every rule") {
    val good = ("the quick brown fox jumps over and beyond lazy dogs " * 5).trim
    val r = signals(good)
    assert(r.getLong(0) == 50)
    assert(r.getDouble(1) > 3.0 && r.getDouble(1) < 10.0)
    assert(r.getDouble(2) == 0.0)
    assert(r.getDouble(3) == 1.0)
    assert(r.getLong(4) == 2)            // distinct stopwords: the, and
    assert(r.getBoolean(5))
  }

  test("word count bounds: short docs fail") {
    val r = signals("the and a short doc")
    assert(r.getLong(0) == 5 && !r.getBoolean(5))
  }

  test("symbol ratio counts # and ellipses per word") {
    val r = signals("a# b... c… d e f g h i j")   // 3 symbols / 10 words
    assert(r.getLong(0) == 10)
    assert(r.getDouble(2) == 0.3)
    assert(!r.getBoolean(5))
  }

  test("alpha-word ratio: numeric tokens drag it down") {
    val r = signals("12 34 56 78 word")           // 1 alpha / 5 words
    assert(r.getDouble(3) == 0.2)
  }

  test("stopword count is distinct types, case-insensitive") {
    val r = signals("The THE the and AND nothing else here")
    assert(r.getLong(4) == 2)
  }

  private def repetition(text: String): Row = {
    import spark.implicits._
    QualityFilters.repetitionSignals(Seq((1L, text)).toDF("doc_id", "text"))
      .select("dup_line_frac", "top_2gram", "top_2gram_count",
        "top_2gram_frac", "passes_repetition")
      .collect()(0)
  }

  test("gopher_signals kernel == composed builtin form, trap inputs included") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the EXACT composed form the kernel replaced (kept here as the
    // independent reference implementation)
    def occurrences(c: org.apache.spark.sql.Column, sub: String) =
      (length(c) - length(replace(c, lit(sub), lit("")))) / sub.length
    val nt = trim(regexp_replace(coalesce(col("text"), lit("")), "\\s+", " "))
    val toks = split(nt, " ")
    val n = when(nt === "", 0).otherwise(size(toks))
    val meanLen = when(n === 0, lit(0.0))
      .otherwise((length(nt) - (n - 1)).cast("double") / n)
    val symbols = occurrences(nt, "#") + occurrences(nt, "...") + occurrences(nt, "…")
    val symbolRatio = when(n === 0, lit(0.0)).otherwise(symbols.cast("double") / n)
    val alphaWords = regexp_count(nt, lit("(?:^| )[^ ]*[A-Za-z]"))
    val alphaRatio = when(n === 0, lit(0.0)).otherwise(alphaWords.cast("double") / n)
    val stopAlt = QualityFilters.stopwords.mkString("|")
    val nStop = size(array_distinct(regexp_extract_all(
      lower(nt), lit(s"(?:^| )($stopAlt)(?= |$$)"), lit(1))))
    val passes = n >= 50 && n <= 100000 &&
      meanLen >= 3.0 && meanLen <= 10.0 && symbolRatio <= 0.1 &&
      alphaRatio >= 0.8 && nStop >= 2

    val texts: Seq[String] = Seq(
      null, "", " \t\n\f\r ", "word", "a", "THE The the tHe",
      "iſ THE", "İn the", "K and", "Σ the and",          // case-fold traps
      "dots.... here ...... and #tags## …… mixed.…#",
      "nb sp stays inside token the and",            // U+00A0 not \s
      "早安 世界 the and of to", "x" * 300,
      ("the quick brown fox jumps over and beyond lazy dogs " * 6).trim,
      "num3er5 only 12345 67890 the and", "consec the and of to a in is that") ++
      (0 until 40).map { i =>
        val r = new scala.util.Random(500 + i)
        (0 until 30).map { _ =>
          val w = r.nextInt(6) match {
            case 0 => QualityFilters.stopwords(r.nextInt(8))
            case 1 => r.alphanumeric.take(1 + r.nextInt(8)).mkString
            case 2 => Seq("...", "#", "…", "..", "....")(r.nextInt(5))
            case 3 => Seq("iſ", "İs", "Σto", "ſ", "ﬁn")(r.nextInt(5))
            case 4 => "早" * (1 + r.nextInt(3))
            case _ => r.alphanumeric.take(3).mkString + Seq(" ", "\t", "\n")(r.nextInt(3)) +
              r.alphanumeric.take(3).mkString
          }
          w
        }.mkString(Seq(" ", "  ", "\t", " \n ")(r.nextInt(4)))
      }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val composed = df.select(col("doc_id"), n.cast("long").as("wc"),
      meanLen.as("ml"), symbolRatio.as("sr"), alphaRatio.as("ar"),
      nStop.cast("long").as("ns"), passes.as("p"))
    // gopherSignals rounds for output; compare the UNROUNDED kernel
    // struct (what `passes` consumes) against the unrounded composed form
    val kraw = df.select(col("doc_id"),
        graft.plans.QualityExprs.gopher_signals(coalesce(col("text"), lit(""))).as("g"))
      .select(col("doc_id"), col("g.word_count").as("wc"),
        col("g.mean_raw").as("ml"), col("g.symbol_raw").as("sr"),
        col("g.alpha_raw").as("ar"), col("g.n_stopwords").as("ns"),
        (col("g.word_count") >= 50 && col("g.word_count") <= 100000 &&
          col("g.mean_raw") >= 3.0 && col("g.mean_raw") <= 10.0 &&
          col("g.symbol_raw") <= 0.1 && col("g.alpha_raw") >= 0.8 &&
          col("g.n_stopwords") >= 2).as("p"))
    val a = composed.orderBy("doc_id").collect()
    val b = kraw.orderBy("doc_id").collect()
    a.zip(b).foreach { case (x, y) =>
      assert(x == y, s"doc ${x.getLong(0)}: composed=$x kernel=$y " +
        s"text=${texts(x.getLong(0).toInt)}")
    }
  }

  test("gopher signals ignore the JVM default locale (tr-TR case fold)") {
    // under tr-TR, "İN".toLowerCase is "in" (a stopword); the
    // locale-independent fold gives "i̇n" (dotted) and matches nothing
    val text = "İN İS ÇAY cats sleep on warm mats"
    def both(): (Row, String) =
      (signals(text), graft.plans.QualityExprs.gopherSignals(
        org.apache.spark.unsafe.types.UTF8String.fromString(text)).toString)
    val saved = java.util.Locale.getDefault
    val root = try { java.util.Locale.setDefault(java.util.Locale.ROOT); both() }
      finally java.util.Locale.setDefault(saved)
    val tr = try { java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR")); both() }
      finally java.util.Locale.setDefault(saved)
    assert(root._1.getAs[Long]("n_stopwords") == 0L)
    assert(tr == root)
  }

  test("repetition: a looping 2-gram dominates and fails the bound") {
    val r = repetition("a b a b a b")        // "a b" x3, chars 3*3/11
    assert(r.getString(1) == "a b" && r.getLong(2) == 3)
    assert(r.getDouble(3) == math.rint(9.0 / 11 * 10000) / 10000)
    assert(!r.getBoolean(4))
  }

  test("repetition: all-unique 2-grams tie-break lexicographically and pass") {
    // 12 distinct tokens: every 2-gram count is 1, smallest is "aa bb";
    // coverage 5/35 <= 0.2 so the doc passes
    val r = repetition("aa bb cc dd ee ff gg hh ii jj kk ll")
    assert(r.getString(1) == "aa bb" && r.getLong(2) == 1)
    assert(r.getDouble(3) <= 0.2)
    assert(r.getBoolean(4))
  }

  test("repetition: duplicate lines counted, blanks ignored") {
    val r = repetition("same line\n\nsame line\nother line\n  \nsame line")
    // 4 non-blank lines, 2 distinct -> dup fraction 0.5
    assert(r.getDouble(0) == 0.5)
    assert(!r.getBoolean(4))
  }

  test("repetition: single-token and empty docs yield empty top gram") {
    assert(repetition("solo").getString(1) == "")
    assert(repetition("").getString(1) == "")
    assert(repetition("").getBoolean(4))
  }

  test("null and empty text yield zero signals, no crash") {
    import spark.implicits._
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, null: String), Row(2L, "  "))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
    val rows = QualityFilters.gopherSignals(df)
      .select("doc_id", "word_count", "passes").collect()
    assert(rows.forall(r => r.getLong(1) == 0 && !r.getBoolean(2)))
  }
}
