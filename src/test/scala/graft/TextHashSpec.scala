package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TextHashExprs

/** The native text-hash expressions must be bit-identical to the composed
  * builtin forms they replaced (seeded md5 votes/minima, substring-shingle
  * md5 min/max) — including on non-ASCII input, where the shingle slide
  * must count code points exactly like the builtin substring. */
class TextHashSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-texthash-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def df = {
    import spark.implicits._
    TextHashExprs.register(spark)
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog 42"),
      (2L, "short"),
      (3L, ""),
      (4L, "aaaa aaaa aaaa aaaa"),
      // non-ASCII: multi-byte code points must slide like substring()
      (5L, "香港特別行政區高等法院原訟法庭民事訴訟判案書 mixed ascii 123"),
      (6L, "ascii then 中文 then ascii again")
    ).toDF("doc_id", "text")
  }

  test("simhash16 equals the filter/md5 builtin composition") {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val n = size(col("toks"))
    val reference = (0 until 16).map { b =>
      val pos = size(filter(col("toks"),
        tk => md5(concat(lit(s"$b#"), tk)).substr(lit(1), lit(1)) >= lit("8")))
      when(pos * 2 >= n, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val rows = df.withColumn("toks", toks).filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        TextHashExprs.simhash16(col("toks")).as("got"), reference.as("want"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}"))
  }

  test("simhash16 returns NULL on an empty token array (no misleading 0xFFFF)") {
    // the GROUP BY form it replaced emitted no row for zero-token docs; the
    // registered SQL function must not hand unfiltered callers all-ones
    val rows = df.withColumn("toks",
        filter(split(col("text"), " "), _ => lit(false)))
      .select(TextHashExprs.simhash16(col("toks")).as("h"))
      .collect()
    assert(rows.nonEmpty && rows.forall(_.isNullAt(0)))
  }

  test("minhash_sig equals array_min over a transform of seeded md5") {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val rows = df.withColumn("toks", toks).filter(size(col("toks")) > 0)
      .withColumn("sig", TextHashExprs.minhash_sig(col("toks"), lit(4)))
      .select(col("doc_id") +: (0 until 4).flatMap(k => Seq(
        element_at(col("sig"), k + 1).as(s"got_$k"),
        array_min(transform(col("toks"),
          tk => md5(concat(lit(s"$k#"), tk)))).as(s"want_$k"))): _*)
      .collect()
    rows.foreach { r =>
      (0 until 4).foreach(k =>
        assert(r.getAs[String](s"got_$k") == r.getAs[String](s"want_$k"),
          s"doc ${r.getLong(0)} hash $k"))
    }
  }

  test("minhash_sig over heavy repeats == over the distinct set == the builtin form") {
    import spark.implicits._
    TextHashExprs.register(spark)
    // hashing each distinct token once must not change any minimum
    val r = new scala.util.Random(4242)
    val vocab = Seq("the", "court", "appeal", "hk", "2021", "plaintiff", "x")
    val texts = Seq(
      ("the cat sat " * 300) + "dog",
      "same same same same same",
      "unique tokens only here 1 2 3") ++
      (0 until 20).map(_ => (0 until 400).map(_ => vocab(r.nextInt(vocab.size))).mkString(" "))
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .withColumn("toks", toks)
      .select(col("doc_id"), size(col("toks")).as("n"),
        size(array_distinct(col("toks"))).as("nd"),
        TextHashExprs.minhash_sig(col("toks"), lit(8)).as("rep"),
        TextHashExprs.minhash_sig(array_distinct(col("toks")), lit(8)).as("dis"),
        array((0 until 8).map(k => array_min(transform(col("toks"),
          tk => md5(concat(lit(s"$k#"), tk))))): _*).as("want"))
      .collect()
    assert(rows.exists(r => r.getInt(1) > 10 * r.getInt(2)), "fixture must repeat heavily")
    rows.foreach { r =>
      val rep = r.getSeq[String](3)
      assert(rep == r.getSeq[String](4), s"doc ${r.getLong(0)}: repeats vs distinct")
      assert(rep == r.getSeq[String](5), s"doc ${r.getLong(0)}: kernel vs builtin")
    }
  }

  test("property: all three expressions equal their builtin forms on random unicode") {
    import spark.implicits._
    // seeded generator over an alphabet that stresses every byte width:
    // ASCII, 2-byte (é/ß), 3-byte CJK, 4-byte emoji (surrogate pair in
    // UTF-16, one code point for the byte slide), combining mark, newline
    val alphabet: IndexedSeq[String] = (
      ('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString) ++
      Seq(" ", " ", " ", ".", ",", "\n", "\t", "é", "ß", "中", "文", "法",
        "院", "́", new String(Character.toChars(0x1F600)))
    )
    val rnd = new scala.util.Random(42)
    val rows = (1L to 80L).map { i =>
      val len = rnd.nextInt(200)
      (i, (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString)
    }
    val df = rows.toDF("doc_id", "text")

    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val nt = lower(regexp_replace(col("text"), "\\s+", " "))
    val n = size(col("toks"))
    val refSimhash = (0 until 16).map { b =>
      val pos = size(filter(col("toks"),
        tk => md5(concat(lit(s"$b#"), tk)).substr(lit(1), lit(1)) >= lit("8")))
      when(pos * 2 >= n, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val refHashes = transform(
      sequence(lit(1), greatest(length(col("nt")) - 7, lit(1))),
      i => md5(col("nt").substr(i, lit(8))))

    val checked = df
      .withColumn("toks", toks).withColumn("nt", nt)
      .withColumn("mm", TextHashExprs.shingle_minmax(col("nt"), lit(8)))
      .withColumn("sig", TextHashExprs.minhash_sig(col("toks"), lit(3)))
      .select(col("doc_id"),
        (size(col("toks")) === 0 ||
          TextHashExprs.simhash16(col("toks")) === refSimhash).as("sim_ok"),
        (col("mm.mn") <=> array_min(refHashes) &&
          col("mm.mx") <=> array_max(refHashes)).as("sh_ok"),
        (size(col("toks")) === 0 ||
          (element_at(col("sig"), 1) <=> array_min(transform(col("toks"),
            tk => md5(concat(lit("0#"), tk)))))).as("mh_ok"))
      .collect()
    checked.foreach { r =>
      assert(r.getBoolean(1), s"simhash mismatch doc ${r.getLong(0)}")
      assert(r.getBoolean(2), s"shingle mismatch doc ${r.getLong(0)}")
      assert(r.getBoolean(3), s"minhash mismatch doc ${r.getLong(0)}")
    }
  }

  test("shingle_minmax equals the substring/md5 fold, including non-ASCII") {
    val nt = lower(regexp_replace(col("text"), "\\s+", " "))
    val hashes = transform(
      sequence(lit(1), greatest(length(col("nt")) - 7, lit(1))),
      i => md5(col("nt").substr(i, lit(8))))
    val rows = df.withColumn("nt", nt)
      .withColumn("mm", TextHashExprs.shingle_minmax(col("nt"), lit(8)))
      .select(col("doc_id"),
        col("mm.mn").as("got_mn"), col("mm.mx").as("got_mx"),
        array_min(hashes).as("want_mn"), array_max(hashes).as("want_mx"))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[String]("got_mn") == r.getAs[String]("want_mn"), s"mn doc ${r.getLong(0)}")
      assert(r.getAs[String]("got_mx") == r.getAs[String]("want_mx"), s"mx doc ${r.getLong(0)}")
    }
  }

  test("char_ngrams equals the transform/substr builtin form, all n") {
    for (n <- Seq(1, 3, 8)) {
      val builtin = when(length(col("text")) >= n,
        transform(sequence(lit(1), length(col("text")) - (n - 1)),
          i => col("text").substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))
      val rows = df
        .select(col("doc_id"),
          TextHashExprs.char_ngrams(col("text"), lit(n)).as("got"),
          builtin.as("want"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n doc ${r.getLong(0)}")
      }
    }
    // astral plane: surrogate pairs count as ONE codepoint per position
    import spark.implicits._
    val astral = Seq((7L, "a\ud83d\ude00b")).toDF("doc_id", "text")
    val got = astral
      .select(TextHashExprs.char_ngrams(col("text"), lit(2)))
      .collect()(0).getSeq[String](0)
    assert(got == Seq("a\ud83d\ude00", "\ud83d\ude00b"))
  }

  test("window_hashes equals xxhash64-over-substr, incl. non-ASCII") {
    val w = 8
    val t = coalesce(col("text"), lit(""))
    val builtin = when(length(t) >= w,
      transform(sequence(lit(1), length(t) - (w - 1)),
        i => struct(i.as("pos"), xxhash64(substring(t, i, lit(w))).as("h"))))
      .otherwise(array().cast("array<struct<pos:int,h:bigint>>"))
    val rows = df.select(col("doc_id"),
        TextHashExprs.window_hashes(t, lit(w)).as("got"), builtin.as("want"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"doc ${r.getLong(0)}")
    }
  }

  test("windows_at equals per-position substr; remove_intervals equals the fold") {
    val w = 8
    val t = coalesce(col("text"), lit(""))
    // positions 1, 3, and one near the end of each text
    val ps = array(lit(1), lit(3), greatest(length(t) - 2, lit(1)))
    val rows = df.select(col("doc_id"),
        TextHashExprs.windows_at(t, ps, lit(w)).as("got"),
        transform(ps, p => struct(p.as("pos"),
          substring(t, p, lit(w)).as("s"))).as("want"),
        TextHashExprs.remove_intervals(t, sort_array(ps), lit(w)).as("got_rm"),
        aggregate(sort_array(ps),
          struct(lit(1).as("cur"), lit("").as("acc")),
          (st, p) => struct(
            greatest(st("cur"), p + w).as("cur"),
            concat(st("acc"),
              when(p > st("cur"), substring(t, st("cur"), p - st("cur")))
                .otherwise(lit(""))).as("acc")),
          st => concat(st("acc"),
            when(length(t) >= st("cur"),
              substring(t, st("cur"), length(t) - st("cur") + 1))
              .otherwise(lit("")))).as("want_rm"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"windows_at doc ${r.getLong(0)}")
      assert(r.getString(3) == r.getString(4), s"remove_intervals doc ${r.getLong(0)}")
    }
  }

  test("ws_normalize equals the regexp_replace/trim/lower compositions, all flags") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.plans.TextHashExprs.register(spark)
    // traps: case-fold specials (ſ K İ Σ incl. final-sigma position),
    // non-ASCII whitespace (NBSP must NOT collapse), leading/trailing and
    // interior runs of every Java-\s char, all-whitespace, empty
    val texts = Seq(
      "", " ", " \t\n\f\r ", "plain", "  lead", "trail  ",
      " both \t sides ", "Upper CASE ſtraße İstanbul KΣLVIN ΟΔΟΣ",
      "nb sp stays", "早安  世界", "a\rb\nc\td",
      "ΣΙΓΜΑ ΤΕΛΟΣ", "x  y   z") ++
      (0 until 30).map { i =>
        val r = new scala.util.Random(700 + i)
        (0 until 12).map(_ => Seq("Tok", "ſs", "İi", "K", "Σ", "早", " ", "\t", "\n", "#")(
          r.nextInt(10))).mkString(Seq("", " ", "  ", "\t")(r.nextInt(4)))
      }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
    for (doTrim <- Seq(true, false); doLower <- Seq(true, false)) {
      var ref: org.apache.spark.sql.Column = regexp_replace(col("t"), "\\s+", " ")
      if (doTrim) ref = trim(ref)
      if (doLower) ref = lower(ref)
      val rows = df.select(col("doc_id"),
          graft.plans.TextHashExprs.ws_normalize(col("t"), doTrim, doLower).as("a"),
          ref.as("b"))
        .collect()
      rows.foreach(r => assert(r.getString(1) == r.getString(2),
        s"trim=$doTrim lower=$doLower doc ${r.getLong(0)}: " +
          s"'${r.getString(1)}' != '${r.getString(2)}'"))
    }
    // null propagation
    val nr = spark.sql("SELECT ws_normalize(CAST(NULL AS STRING), true, true) AS x")
      .collect()(0)
    assert(nr.isNullAt(0))
  }

  test("ascii_tokens equals regexp_extract_all(lower(text), '[a-z0-9]+')") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.plans.TextHashExprs.register(spark)
    // traps: İ lowers to "i̇" (its ASCII 'i' must tokenize), ſ -> 's',
    // K (Kelvin) -> 'k', digits, punctuation runs, CJK, empty
    val texts = Seq(
      "Hello, World 123!", "", "...", "早安世界", "İstanbul ſtreet K9",
      "a1b2c3", "UPPER lower MiXeD", "tabs\tand\nnewlines",
      "ΣΙΓΜΑ nonascii ǅungla") ++
      (0 until 30).map { i =>
        val r = new scala.util.Random(800 + i)
        (0 until 40).map(_ => Seq("A", "z", "9", " ", ",", "早", "İ", "ſ", "#", ".")(
          r.nextInt(10))).mkString
      }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
    val rows = df.select(col("doc_id"),
        graft.plans.TextHashExprs.ascii_tokens(col("t")).as("a"),
        regexp_extract_all(lower(col("t")), lit("[a-z0-9]+"), lit(0)).as("b"))
      .collect()
    rows.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2),
      s"doc ${r.getLong(0)}: ${r.getSeq[String](1)} != ${r.getSeq[String](2)}"))
    val nr = spark.sql("SELECT ascii_tokens(CAST(NULL AS STRING)) AS x").collect()(0)
    assert(nr.isNullAt(0))
  }

  test("norm_md5 equals md5(trim(regexp_replace(text, \\s+, ' ')))") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.plans.TextHashExprs.register(spark)
    val texts = Seq(
      "plain text here", "", " \t\n\f\r ", "  leading and  trailing\t",
      "早安\n世界  mixed\tascii", "nb sp stays", "x",
      "multi\r\nline\r\ntext with  runs") ++
      (0 until 20).map(i => new scala.util.Random(900 + i).alphanumeric
        .take(60).mkString.replaceAll("(.{5})", "$1 "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
    val rows = df.select(col("doc_id"),
        graft.plans.TextHashExprs.norm_md5(col("t")).as("a"),
        md5(trim(regexp_replace(col("t"), "\\s+", " "))).as("b"))
      .collect()
    rows.foreach(r => assert(r.getString(1) == r.getString(2),
      s"doc ${r.getLong(0)}"))
  }

  test("top_2gram equals the explode/groupBy/window rank, ties included") {
    import spark.implicits._
    TextHashExprs.register(spark)
    // fixture exercises: a dominating repeat, an all-unique tie (the
    // binary-smallest gram must win), single-token/empty null cases, and
    // multi-byte tokens
    val docs = Seq(
      (1L, "spam ham spam ham spam ham spam"),
      (2L, "all grams here are unique words only"),
      (3L, "one"),
      (4L, ""),
      (5L, "中文 词 中文 词 中文 mixed ascii"),
      (6L, "z z a a z z")
    ).toDF("doc_id", "nt")
    val ref = {
      val grams = docs.filter(col("nt") =!= "")
        .select(col("doc_id"), split(col("nt"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("toks")) - 2),
          i => array_join(slice(col("toks"), i + 1, lit(2)), " "))).as("gram"))
      val counts = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        .orderBy(col("cnt").desc, col("gram"))
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("gram"), col("cnt"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    }
    val got = docs
      .select(col("doc_id"), TextHashExprs.top_2gram(col("nt")).as("tg"))
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null
          else (r.getStruct(1).getString(0), r.getStruct(1).getLong(1)))
      }.toMap
    assert(got(3L) == null && got(4L) == null)
    ref.foreach { case (id, want) => assert(got(id) == want, s"doc $id") }
    assert(ref.keySet == got.filter(_._2 != null).keySet)
  }
}
