package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sgml.{ParseResult, ParserConfig, SgmlParser}
import graft.SgmlExtract
import graft.SgmlExtract.ParserSlot

/** Native Catalyst expression for the extraction kernel:
  * `extract_spans(spans_array [, dialect [, space [, boilerplate
  * [, max_errors, max_doc_chars]]]])` →
  * `struct<spans: array<span>, errors: array<err>>`. The one Spark path
  * into the parser: the typed `SgmlExtract.extract` is a view over it.
  *
  * Why an Expression and not a typed `mapPartitions` (SURVEY.md §7.6):
  * inputs arrive as Catalyst `ArrayData`/`UTF8String` straight off the
  * vectorized Parquet reader and results are built as `InternalRow`s —
  * the `Dataset[Doc]`/`Dataset[Extracted]` encoder round-trip (a measured
  * GC hotspot at 32 cores: per-row Seq + case-class materialization) is
  * skipped entirely. The parse itself cannot be code-generated, so this
  * is a `CodegenFallback` leaf; everything around it stays in
  * whole-stage codegen.
  *
  * Reference lifecycle mirrored per SURVEY.md §3 E1 (`sgml2pl.c —
  * pl_new_sgml_parser / pl_sgml_parse` [V]); one parser per thread,
  * reset per row (same reuse discipline as the reference's handle API).
  */
case class ExtractSpansExpr(
    child: Expression,
    dialect: String,
    space: String,
    maxErrors: Int = 100,
    boilerplate: Boolean = false,
    maxDocChars: Int = 64 << 20)
  extends UnaryExpression with CodegenFallback {

  import ExtractSpansExpr._

  override def prettyName: String = "extract_spans"

  override def dataType: DataType = OutType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if st.fieldNames.contains("kind") && st.fieldNames.contains("text") &&
           st.fieldNames.contains("media_ref") && st.fieldNames.contains("offset") =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"extract_spans expects array<struct<kind,text,media_ref,offset>>, got ${other.sql}")
  }

  @transient private lazy val idx: (Int, Int, Int, Int, Int) = {
    val st = child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    (st.fieldIndex("kind"), st.fieldIndex("text"),
      st.fieldIndex("media_ref"), st.fieldIndex("offset"), st.size)
  }

  @transient private lazy val cfg: ParserConfig =
    SgmlExtract.Config(dialect = dialect, space = space, maxErrors = maxErrors,
      maxDocChars = maxDocChars, boilerplate = boilerplate).toParserConfig

  // One parser slot per thread: expression instances can be shared across
  // the tasks of a local-mode executor, and the parser is stateful.
  //
  // Input decode: `UTF8String.toString` per text span. An allocation-free
  // reused char[] decode measured 5-15% SLOWER (interleaved A/B at
  // local[32], 4×7-core local-cluster and single-threaded): JDK compact
  // strings make the scan read 1 byte/char vs the char[] path's 2, and
  // String's UTF-8 decoder is intrinsified — both outweigh the per-doc
  // allocation, which the young-gen collector absorbs.
  @transient private lazy val slots: ThreadLocal[ParserSlot] =
    ThreadLocal.withInitial(() => new ParserSlot(cfg))

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val arr = v.asInstanceOf[ArrayData]
    slots.get().parse(feed(_, arr))(toRow)(errorRow)
  }

  private def feed(p: SgmlParser, arr: ArrayData): Unit = {
    val (kindI, textI, refI, offI, nFields) = idx
    val nIn = arr.numElements()
    var i = 0
    while (i < nIn) {
      val row = arr.getStruct(i, nFields)
      if (row != null) {
        val kind = row.getUTF8String(kindI)
        val off = if (row.isNullAt(offI)) 0 else row.getInt(offI)
        if (kind != null && MediaKind.equals(kind)) {
          val ref = row.getUTF8String(refI)
          p.media(if (ref == null) null else ref.toString, off)
        } else {
          val t = row.getUTF8String(textI)
          if (t != null) p.feed(t.toString, off)
        }
      }
      i += 1
    }
  }

  private def toRow(r: ParseResult): InternalRow = {
    val spans = r.spans(cfg)
    val spanRows = new Array[Any](spans.length)
    var j = 0
    while (j < spans.length) {
      val s = spans(j)
      spanRows(j) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(s.kind),
        if (s.text == null) null else UTF8String.fromString(s.text),
        if (s.media_ref == null) null else UTF8String.fromString(s.media_ref),
        s.offset))
      j += 1
    }
    val errRows = new Array[Any](r.errors.length)
    j = 0
    while (j < r.errors.length) {
      val e = r.errors(j)
      errRows(j) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(e.code), e.off, UTF8String.fromString(e.detail)))
      j += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(spanRows), new GenericArrayData(errRows)))
  }

  private def errorRow(t: Throwable): InternalRow =
    new GenericInternalRow(Array[Any](
      new GenericArrayData(Array.empty[Any]),
      new GenericArrayData(Array[Any](new GenericInternalRow(Array[Any](
        UTF8String.fromString("internal-error"), 0,
        UTF8String.fromString(ParserSlot.detail(t))))))))

  override protected def withNewChildInternal(newChild: Expression): ExtractSpansExpr =
    copy(child = newChild)
}

object ExtractSpansExpr {
  private val MediaKind = UTF8String.fromString("media")

  val SpanType: StructType = StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType),
    StructField("offset", IntegerType, nullable = false)))
  val ErrType: StructType = StructType(Seq(
    StructField("code", StringType),
    StructField("offset", IntegerType, nullable = false),
    StructField("detail", StringType)))
  val OutType: StructType = StructType(Seq(
    StructField("spans", ArrayType(SpanType)),
    StructField("errors", ArrayType(ErrType))))

  private val Dialects = graft.sgml.Dialect.all.map(_.name) :+ "html"
  private val Spaces = Seq("preserve", "sgml", "default", "remove", "strict")

  private def litStr(e: Expression, what: String, valid: Seq[String]): String = e match {
    case Literal(v: UTF8String, StringType) =>
      val s = v.toString.toLowerCase
      if (!valid.contains(s)) throw new IllegalArgumentException(
        s"extract_spans: unknown $what '$s' (expected one of ${valid.mkString(", ")})")
      s
    case other => throw new IllegalArgumentException(
      s"extract_spans: $what must be a string literal, got $other")
  }

  private def litBool(e: Expression, what: String): Boolean = e match {
    case Literal(b: java.lang.Boolean, BooleanType) => b
    case other => throw new IllegalArgumentException(
      s"extract_spans: $what must be a boolean literal, got $other")
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(i: java.lang.Integer, IntegerType) if i >= 0 => i
    case other => throw new IllegalArgumentException(
      s"extract_spans: $what must be a non-negative int literal, got $other")
  }

  /** Builder used by the function registry: 1-4 or 6 args. */
  def fromArgs(args: Seq[Expression]): ExtractSpansExpr = args match {
    case Seq(c)       => ExtractSpansExpr(c, "html4", "preserve")
    case Seq(c, d)    => ExtractSpansExpr(c, litStr(d, "dialect", Dialects), "preserve")
    case Seq(c, d, s) => ExtractSpansExpr(c, litStr(d, "dialect", Dialects),
                                             litStr(s, "space", Spaces))
    case Seq(c, d, s, b) => ExtractSpansExpr(c, litStr(d, "dialect", Dialects),
      litStr(s, "space", Spaces), boilerplate = litBool(b, "boilerplate"))
    case Seq(c, d, s, b, me, mc) => ExtractSpansExpr(c, litStr(d, "dialect", Dialects),
      litStr(s, "space", Spaces), litInt(me, "max_errors"), litBool(b, "boilerplate"),
      litInt(mc, "max_doc_chars"))
    case _ => throw new IllegalArgumentException("extract_spans(spans[, dialect[, space" +
      "[, boilerplate[, max_errors, max_doc_chars]]]]) takes 1-4 or 6 arguments")
  }

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[ExtractSpansExpr].getName, "extract_spans")

  /** Late registration on an existing session (tests / REPL convenience;
    * production sessions use `spark.sql.extensions=graft.GraftExtensions`). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.registerFunction(FunctionIdentifier("extract_spans"), info, fromArgs _)
  }
}

/** `SparkSessionExtensions` entry point — enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("extract_spans"),
      ExtractSpansExpr.info, ExtractSpansExpr.fromArgs _))
  }
}
