package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.PiiOps
import graft.plans.PiiExprs

/** PII detection/redaction: pattern pins per class (the RE2-compatible
  * patterns shared verbatim with the DuckDB oracle), ISO/IEC 7812 Luhn
  * vectors (kernel vs Spark's builtin `luhn_check`), the documented
  * sequential redaction semantics, and kernel == native-expression
  * equivalence through a real plan. */
class PiiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-pii-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ---------------------------------------------------------------- classes

  test("email pattern: conventional forms match, bare hosts do not") {
    assert(PiiOps.redact("mail a.b+c_d@sub.example.co.uk now")
      == "mail <EMAIL> now")
    assert(PiiOps.redact("not an email: a@b or x@y.") == "not an email: a@b or x@y.")
  }

  test("phone pattern requires separators — contiguous runs are not phones") {
    assert(PiiOps.redact("call 555-867-5309") == "call <PHONE>")
    assert(PiiOps.redact("call 555.867.5309") == "call <PHONE>")
    assert(PiiOps.redact("call 555 867 5309") == "call <PHONE>")
    assert(PiiOps.redact("id 5558675309 stays") == "id 5558675309 stays")
  }

  test("ipv4 pattern enforces octet ranges and digit boundaries") {
    assert(PiiOps.redact("at 10.0.3.21 and 255.255.255.255")
      == "at <IP> and <IP>")
    assert(PiiOps.redact("not 256.1.1.1") == "not 256.1.1.1")
    assert(PiiOps.redact("not 1234.1.1.1") == "not 1234.1.1.1")
  }

  test("card pattern: contiguous 13-19 digits or 4-4-4-4 grouping; 20+ is not a card") {
    assert(PiiOps.redact("pay 4111111111111111") == "pay <CARD>")
    assert(PiiOps.redact("pay 4111 1111 1111 1111 ok") == "pay <CARD> ok")
    assert(PiiOps.redact("pay 5500-0055-5555-5559 ok") == "pay <CARD> ok")
    assert(PiiOps.redact("ref 12345678901234567890 stays") // 20 digits
      == "ref 12345678901234567890 stays")
    assert(PiiOps.redact("iban-ish 1234567890123 goes") == "iban-ish <CARD> goes")
  }

  test("redaction is sequential (email, card, ip, phone) and total") {
    assert(PiiOps.redact("u9@h.io pays 4111111111111111 from 10.0.0.1 call 555-867-5309")
      == "<EMAIL> pays <CARD> from <IP> call <PHONE>")
    // Luhn-invalid runs are still redacted (privacy over-approximation)
    assert(PiiOps.redact("pay 4111111111111112") == "pay <CARD>")
    // a phone is not claimed inside a grouped card
    assert(PiiOps.redact("4111 1111 1111 1111") == "<CARD>")
    assert(PiiOps.redact(null) == null)
    assert(PiiOps.redact("") == "")
    assert(PiiOps.redact("no pii here") == "no pii here")
  }

  // ------------------------------------------------------------------- luhn

  test("Luhn vectors: kernel and Spark builtin agree") {
    val vectors = Seq(
      "4111111111111111" -> true,
      "4111111111111112" -> false,
      "5500005555555559" -> true,
      "340000000000009" -> true,
      "1234567890123" -> false)
    vectors.foreach { case (d, want) => assert(PiiOps.luhn(d) == want, d) }
    assert(!PiiOps.luhn(""))
    assert(!PiiOps.luhn(null))
    assert(!PiiOps.luhn("4111a11111111111"))
    // the distributed path uses the builtin — pin the agreement
    import spark.implicits._
    val got = vectors.map(_._1).toDF("d")
      .select(col("d"), call_function("luhn_check", col("d")).as("ok"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    vectors.foreach { case (d, want) => assert(got(d) == want, s"builtin $d") }
  }

  // ------------------------------------------------- expression via a plan

  test("pii_redact expression matches the kernel through a real plan") {
    import spark.implicits._
    val texts = Seq(
      "u9@h.io pays 4111111111111111 from 10.0.0.1 call 555-867-5309",
      "no pii at all",
      "edge 4111 1111 1111 1111 and x@y.zz",
      "")
    val got = texts.toDF("t")
      .select(col("t"), PiiExprs.pii_redact(col("t")).as("r"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    texts.foreach(t => assert(got(t) == PiiOps.redact(t), t))
  }

  test("expression is null-safe") {
    graft.plans.NativeFunctions.register(spark)
    val r = spark.sql("SELECT pii_redact(CAST(NULL AS STRING)) AS x").collect()(0)
    assert(r.isNullAt(0))
  }

  test("pii_stats kernel == composed builtin counts + luhn filter + redact md5") {
    import spark.implicits._
    val texts = Seq(
      "u9@h.io pays 4111111111111111 from 10.0.0.1 call 555-867-5309",
      "no pii at all", "",
      "two mails a@b.cc c@d.ee one bad card 4111111111111112",
      "grouped 5500 0055 5555 5559 and 4111 1111 1111 1111 ips 1.2.3.4 256.1.1.1",
      "phones 555-123-4567 555.123.4567 555 123 4567 5551234567",
      "longrun 12345678901234567890 is not a card but 1234567890123 is",
      "mixed 中文 text with café u@例え.jp and 4242424242424242")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t2")
    val cards = regexp_extract_all(col("t2"), lit(PiiOps.CardRe), lit(0))
    val composed = df.select(col("doc_id"),
      size(regexp_extract_all(col("t2"), lit(PiiOps.EmailRe), lit(0))).cast("long").as("n_email"),
      size(regexp_extract_all(col("t2"), lit(PiiOps.PhoneRe), lit(0))).cast("long").as("n_phone"),
      size(regexp_extract_all(col("t2"), lit(PiiOps.Ipv4Re), lit(0))).cast("long").as("n_ip"),
      size(cards).cast("long").as("n_card"),
      size(filter(cards, x =>
        call_function("luhn_check",
          regexp_replace(x, lit("[^0-9]"), lit(""))))).cast("long").as("n_card_valid"),
      md5(PiiExprs.pii_redact(col("t2"))).as("md5_redacted"))
    val fused = df.select(col("doc_id"), PiiExprs.pii_stats(col("t2")).as("ps"))
      .select(col("doc_id"), col("ps.n_email"), col("ps.n_phone"), col("ps.n_ip"),
        col("ps.n_card"), col("ps.n_card_valid"),
        md5(col("ps.redacted")).as("md5_redacted"))
    val a = composed.orderBy("doc_id").collect().map(_.toSeq)
    val b = fused.orderBy("doc_id").collect().map(_.toSeq)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"doc $i: $x != $y")
    }
    // null-safe
    graft.plans.NativeFunctions.register(spark)
    val r = spark.sql("SELECT pii_stats(CAST(NULL AS STRING)) AS x").collect()(0)
    assert(r.isNullAt(0))
  }
}
