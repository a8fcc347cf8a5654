package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** One argument of a [[Scalar]] function: its Catalyst type (an array
  * type matches any `containsNull`) and whether it must be a literal. */
final case class Arg(dataType: DataType, literal: Boolean = false)

/** One SQL function of the engine: its name, the object whose `register`
  * installs it, and the expression it builds from its arguments. */
sealed trait NativeFunction {
  def name: String
  def owner: AnyRef
  def expressionClass: Class[_ <: Expression]
  def build(children: Seq[Expression]): Expression
  def info: ExpressionInfo = new ExpressionInfo(expressionClass.getName, name)
}

/** A function served by [[NativeExpr]]: a null-safe call of the static
  * kernel `owner.method`, whose JVM parameter types are the Java types of
  * `args`. `nullOnNonNull` marks a kernel that may return null for
  * non-null input (not a feed, unknown form, ...): the expression is then
  * nullable and its generated code re-checks the result, where a plain
  * assignment would leave `isNull = false` and NPE downstream under
  * whole-stage codegen (CodegenNullSpec). A primitive result is then
  * returned boxed. */
final case class Scalar(
    name: String, owner: AnyRef, method: String, args: Seq[Arg], result: DataType,
    nullOnNonNull: Boolean = false) extends NativeFunction {
  def expressionClass: Class[_ <: Expression] = classOf[NativeExpr]
  def build(children: Seq[Expression]): Expression = NativeExpr(name, children)
  /** The class generated code calls: a Scala object's static forwarders. */
  def kernelClass: String = owner.getClass.getName.stripSuffix("$")
}

/** A function whose expression has its own class and codegen. */
final case class Bespoke(
    name: String, owner: AnyRef, expressionClass: Class[_ <: Expression],
    builder: Seq[Expression] => Expression) extends NativeFunction {
  def build(children: Seq[Expression]): Expression = builder(children)
}

/** A [[Bespoke]] expression's `prettyName` is the name of its table entry. */
trait BespokeName extends Expression {
  override def prettyName: String = NativeFunctions.bespokeName(getClass)
}

/** Every native Catalyst function of the engine, one entry each. Both
  * install paths read this table: [[GraftExtensions]] (session
  * extensions) and each kernel object's `register(spark)`, which installs
  * the entries it owns. Each function's reasoning and exact semantics are
  * documented on its kernel method. */
object NativeFunctions {

  private val str = Arg(StringType)
  private val bin = Arg(BinaryType)
  private val int = Arg(IntegerType)
  private val litInt = Arg(IntegerType, literal = true)
  private val litBool = Arg(BooleanType, literal = true)
  private val strs = Arg(ArrayType(StringType))
  private val ints = Arg(ArrayType(IntegerType))

  private def struct(nullable: Boolean, fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable) })
  private def arrayOf(t: DataType): ArrayType = ArrayType(t, containsNull = false)

  val all: Seq[NativeFunction] = Seq(
    Scalar("clean_margin_index", CleanMarginIndexExpr, "evalUtf8", Seq(str), StringType),

    // text-hash / dedup family (TextHashExprs)
    Bespoke("simhash16", TextHashExprs, classOf[SimHash16Expr], e => SimHash16Expr(e.head)),
    Scalar("minhash_sig", TextHashExprs, "minhashSig", Seq(strs, litInt),
      ArrayType(StringType, containsNull = true)),
    Scalar("shingle_minmax", TextHashExprs, "shingleMinMax", Seq(str, litInt),
      struct(nullable = true, "mn" -> StringType, "mx" -> StringType)),
    Scalar("char_ngrams", TextHashExprs, "charNgrams", Seq(str, int), arrayOf(StringType)),
    Scalar("window_hashes", TextHashExprs, "windowHashes", Seq(str, int),
      arrayOf(struct(nullable = false, "pos" -> IntegerType, "h" -> LongType))),
    Scalar("windows_at", TextHashExprs, "windowsAt", Seq(str, ints, int),
      arrayOf(struct(nullable = false, "pos" -> IntegerType, "s" -> StringType))),
    Scalar("remove_intervals", TextHashExprs, "removeIntervals", Seq(str, ints, int), StringType),
    Scalar("top_2gram", TextHashExprs, "top2gram", Seq(str),
      struct(nullable = false, "gram" -> StringType, "cnt" -> LongType), nullOnNonNull = true),
    Scalar("token_shingles_md5", TextHashExprs, "tokenShinglesMd5", Seq(str, litInt),
      arrayOf(StringType)),
    Scalar("norm_md5", TextHashExprs, "normMd5", Seq(str), StringType),
    Scalar("ws_normalize", TextHashExprs, "wsNormalize", Seq(str, litBool, litBool), StringType),
    Scalar("ascii_tokens", TextHashExprs, "asciiTokens", Seq(str), arrayOf(StringType)),

    // URL keys (UrlExprs)
    Scalar("url_canonicalize", UrlExprs, "canonUtf8", Seq(str), StringType),
    Scalar("url_registrable_domain", UrlExprs, "domainUtf8", Seq(str), StringType),
    Scalar("url_host_reversed", UrlExprs, "reverseUtf8", Seq(str), StringType),
    Scalar("url_host", UrlExprs, "hostUtf8", Seq(str), StringType, nullOnNonNull = true),

    // robots.txt (RobotsExprs)
    Scalar("robots_allowed", RobotsExprs, "allowed", Seq(str, str, str), BooleanType),
    Scalar("robots_crawl_delay", RobotsExprs, "delay", Seq(str, str), DoubleType,
      nullOnNonNull = true),

    // charsets (CharsetExprs)
    Scalar("charset_sniff", CharsetExprs, "sniffB", Seq(bin), StringType),
    Scalar("charset_decode", CharsetExprs, "decodeB", Seq(bin), StringType),
    Scalar("charset_decode_as", CharsetExprs, "decodeAsB", Seq(bin, str), StringType),
    Scalar("charset_encode", CharsetExprs, "encodeAsB", Seq(str, str), BinaryType),
    Scalar("fix_mojibake", CharsetExprs, "fixB", Seq(str), StringType),

    // PII (PiiExprs)
    Scalar("pii_redact", PiiExprs, "redactU", Seq(str), StringType),
    Scalar("pii_stats", PiiExprs, "statsU", Seq(str),
      struct(nullable = false, "n_email" -> LongType, "n_phone" -> LongType, "n_ip" -> LongType,
        "n_card" -> LongType, "n_card_valid" -> LongType, "redacted" -> StringType)),

    // office containers (OfficeExprs)
    Scalar("office_kind", OfficeExprs, "kindB", Seq(bin), StringType, nullOnNonNull = true),
    Scalar("office_text", OfficeExprs, "textB", Seq(bin), StringType, nullOnNonNull = true),

    // Unicode normalization (UnicodeNorm)
    Scalar("unicode_norm", UnicodeNorm, "norm", Seq(str, str), StringType, nullOnNonNull = true),
    Scalar("norm_key", UnicodeNorm, "key", Seq(str), StringType),

    // feeds (FeedExprs)
    Scalar("feed_kind", FeedExprs, "kindS", Seq(str), StringType, nullOnNonNull = true),
    Scalar("feed_entries", FeedExprs, "entriesS", Seq(str), arrayOf(FeedExprs.entrySchema),
      nullOnNonNull = true),

    Scalar("gopher_signals", QualityExprs, "gopherSignals", Seq(str),
      struct(nullable = false, "word_count" -> LongType, "mean_raw" -> DoubleType,
        "symbol_raw" -> DoubleType, "alpha_raw" -> DoubleType, "n_stopwords" -> LongType)),
    Bespoke("vec_dot", VecExprs, classOf[VecDotExpr], e => VecDotExpr(e(0), e(1))),
    Bespoke("topk_min", TopKMinAgg, classOf[TopKMinAgg], TopKMinAgg.fromExprs))

  private lazy val scalars: Map[String, Scalar] =
    all.collect { case s: Scalar => s.name -> s }.toMap

  private lazy val bespokeNames: Map[Class[_], String] =
    all.collect { case b: Bespoke => b.expressionClass -> b.name }.toMap

  def scalar(name: String): Scalar = scalars(name)
  def bespokeName(c: Class[_]): String = bespokeNames(c)

  /** Install the entries `owner` holds into this session. A name already
    * registered (by an earlier call or by [[GraftExtensions]]) is left as
    * it is: query builders call this defensively, and each replacement
    * would log a `SimpleFunctionRegistry` WARN. */
  def register(spark: SparkSession, owner: AnyRef): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { f =>
      if ((f.owner eq owner) && !reg.functionExists(FunctionIdentifier(f.name)))
        reg.registerFunction(FunctionIdentifier(f.name), f.info, f.build _)
    }
  }
}

/** The Catalyst expression of every [[Scalar]] table entry. It evaluates
  * its arguments left to right and returns null as soon as one is null;
  * otherwise it calls the entry's kernel, from generated code as a static
  * call inside whole-stage codegen, and from interpreted eval through
  * reflection on the same method. Its generated Java is what the unary,
  * binary and ternary bases' `defineCodeGen` / `nullSafeCodeGen` emit for
  * that static call, and `prettyName`, `sql` and `toString` print the SQL
  * name, so plan strings and generated column names read `name(args)`. */
case class NativeExpr(name: String, children: Seq[Expression]) extends Expression {

  @transient private lazy val fn: Scalar = NativeFunctions.scalar(name)

  override def prettyName: String = name
  override protected def flatArguments: Iterator[Any] = children.iterator
  override def dataType: DataType = fn.result
  override def nullable: Boolean = fn.nullOnNonNull || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult = {
    def accepts(a: Arg, c: Expression): Boolean = ((a.dataType, c.dataType) match {
      case (ArrayType(want, _), ArrayType(got, _)) => want == got
      case (want, got) => want == got
    }) && (!a.literal || c.foldable)
    if (children.length == fn.args.length && fn.args.zip(children).forall((accepts _).tupled))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name requires (" +
      fn.args.map(a => (if (a.literal) "literal " else "") + a.dataType.simpleString)
        .mkString(", ") +
      s"), got (${children.map(_.dataType.simpleString).mkString(", ")})")
  }

  @transient private lazy val kernel: java.lang.reflect.Method =
    fn.owner.getClass.getMethod(fn.method,
      fn.args.map(a => CodeGenerator.javaClass(a.dataType)): _*)

  override def eval(input: InternalRow): Any = {
    val values = new Array[AnyRef](children.length)
    var i = 0
    while (i < values.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      values(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try kernel.invoke(fn.owner, values: _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val call = s"${fn.kernelClass}.${fn.method}(${gens.map(_.value).mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    val resultCode =
      if (!fn.nullOnNonNull) s"${ev.value} = $call;"
      else if (CodeGenerator.isPrimitiveType(dataType)) {
        val boxed = ctx.freshName(fn.method)
        s"""java.lang.${CodeGenerator.boxedType(dataType)} $boxed = $call;
           |if ($boxed == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $boxed.${javaType}Value(); }""".stripMargin
      } else s"""
      ${ev.value} = $call;
      ${ev.isNull} = ${ev.value} == null;
    """
    val init = s"$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (!nullable) {
      val childCode = gens.map(g => s"\n        ${g.code}").mkString
      ev.copy(code = code"""$childCode
        $init
        $resultCode""", isNull = FalseLiteral)
    } else if (gens.length == 1) {
      val g = gens.head
      ev.copy(code = code"""
        ${g.code}
        boolean ${ev.isNull} = ${g.isNull};
        $init
        ${ctx.nullSafeExec(children.head.nullable, g.isNull)(resultCode)}
      """)
    } else {
      // each argument is evaluated only when the ones before it are non-null
      val nullSafeEval = gens.zip(children).foldRight(s"""
              ${ev.isNull} = false; // resultCode could change nullability.
              $resultCode
            """) { case ((g, c), inner) =>
        g.code.toString + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $init
        $nullSafeEval
      """)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeExpr = copy(children = newChildren)
}
