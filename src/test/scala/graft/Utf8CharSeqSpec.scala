package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, rng}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ExtractSpansExpr
import graft.sgml._

/** The kernel's UTF-8 decode (`UTF8String.toString` per text span inside
  * `extract_spans`) must agree with a parse of the JDK-decoded String on
  * all VALID input: 1- to 4-byte code points, supplementary planes as
  * surrogate pairs. */
class Utf8CharSeqSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val config = SgmlExtract.Config(dialect = "html4", space = "preserve")
  private val cfg = config.toParserConfig

  private def forAll[A](gen: Gen[A], n: Int = 500)(f: A => Unit): Unit = {
    var seed = rng.Seed(42L)
    (0 until n).foreach { _ =>
      val a = gen.pureApply(Gen.Parameters.default, seed)
      f(a)
      seed = seed.next
    }
  }

  private val genCodePoint: Gen[Int] = Gen.frequency(
    6 -> Gen.choose(0x20, 0x7E), // ASCII
    2 -> Gen.choose(0x80, 0x7FF), // 2-byte
    2 -> Gen.choose(0x800, 0xD7FF), // 3-byte below surrogates
    1 -> Gen.choose(0xE000, 0xFFFD), // 3-byte above surrogates
    1 -> Gen.choose(0x10000, 0x10FFFF)) // 4-byte (surrogate pairs)

  private val genText: Gen[String] =
    Gen.chooseNum(0, 200).flatMap(n => Gen.listOfN(n, genCodePoint))
      .map(cps => new String(cps.toArray.flatMap(Character.toChars), 0,
        cps.map(Character.charCount).sum))

  private def docOf(payload: String) = s"<html><body><p>$payload</body></html>"

  // A Spark string column holds UTF-8, and the tokenizer's per-char error
  // details ("bad-name-char" and the like) can be one half of a surrogate
  // pair, which UTF-8 encodes as '?'. Expected details take the same trip.
  private def utf8(s: String) =
    if (s == null) null
    else new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.UTF_8)

  test("decode ≡ new String(bytes, UTF_8) for all valid input, with reuse") {
    import spark.implicits._
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    forAll(genText) { s =>
      docs += Doc(s"d${docs.size}", Seq(InSpan("text", docOf(s), null, 0)))
    }
    // one partition: every doc goes through the same reused parser
    val got = SgmlExtract.extractDf(docs.toSeq.toDS().coalesce(1).toDF(), config)
      .as[Extracted].collect().map(e => e.doc_id -> e).toMap
    assert(got.size == docs.size)
    docs.foreach { d =>
      val want = SgmlExtract.parseDoc(d, cfg)
      assert(got(d.doc_id) == want.copy(errors = want.errors.map(e => e.copy(detail = utf8(e.detail)))),
        d.doc_id)
    }
  }

  test("parse through the array path ≡ parse of the String") {
    val expr = ExtractSpansExpr(
      BoundReference(0, ArrayType(ExtractSpansExpr.SpanType), nullable = true),
      "html4", "preserve")
    forAll(genText, n = 200) { payload =>
      val doc = docOf(payload)
      val span = InternalRow(UTF8String.fromString("text"), UTF8String.fromString(doc), null, 0)
      val out = expr.eval(InternalRow(new GenericArrayData(Array[Any](span))))
        .asInstanceOf[InternalRow]
      def str(r: InternalRow, i: Int) = Option(r.getUTF8String(i)).map(_.toString).orNull
      def rows(i: Int, n: Int) = { val a = out.getArray(i); (0 until a.numElements()).map(a.getStruct(_, n)) }
      val want = SgmlParser.parse(doc, cfg)
      assert(rows(0, 4).map(r => Span(str(r, 0), str(r, 1), str(r, 2), r.getInt(3))) == want.spans(cfg))
      assert(rows(1, 3).map(r => ParseErr(str(r, 0), r.getInt(1), str(r, 2))) ==
        want.errors.map(e => e.copy(detail = utf8(e.detail))))
    }
  }
}
