package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.SgmlExtract.ParserSlot
import graft.sgml._

/** The one recover site around a parse: a non-fatal throw (or a stack
  * overflow) becomes the caller's error result and replaces the parser;
  * fatal errors propagate. */
class ParserSlotSpec extends AnyFunSuite {

  private val cfg = SgmlExtract.Config(dialect = "html4", space = "preserve").toParserConfig

  private def spansOf(slot: ParserSlot, text: String): Either[String, Seq[String]] =
    slot.parse(_.feed(text, 0))(r => Right(r.spans(cfg).map(_.text)): Either[String, Seq[String]])(
      e => Left(ParserSlot.detail(e)))

  test("a clean parse reuses the parser") {
    val slot = new ParserSlot(cfg)
    val p = slot.parser
    assert(spansOf(slot, "<p>a") == Right(Seq("a")))
    assert(spansOf(slot, "<p>b") == Right(Seq("b")))
    assert(slot.parser eq p)
  }

  test("a RuntimeException yields an error result and a fresh parser") {
    val slot = new ParserSlot(cfg)
    val p = slot.parser
    val r = slot.parse[Either[String, Unit]](_ => throw new RuntimeException("boom"))(
      _ => Right(()))(e => Left(ParserSlot.detail(e)))
    assert(r == Left("boom"))
    assert(slot.parser ne p)
    assert(spansOf(slot, "<p>after") == Right(Seq("after")))
  }

  test("a StackOverflowError yields an error result named by its class") {
    val slot = new ParserSlot(cfg)
    val p = slot.parser
    val r = slot.parse[Either[String, Unit]](_ => throw new StackOverflowError())(
      _ => Right(()))(e => Left(ParserSlot.detail(e)))
    assert(r == Left("java.lang.StackOverflowError"))
    assert(slot.parser ne p)
  }

  test("an OutOfMemoryError propagates") {
    val slot = new ParserSlot(cfg)
    intercept[OutOfMemoryError] {
      slot.parse[Unit](_ => throw new OutOfMemoryError())(_ => ())(_ => ())
    }
  }

  test("feedSpans: media passes through, null text is skipped") {
    val slot = new ParserSlot(cfg)
    val spans = slot.parse { p =>
      SgmlExtract.feedSpans(p, Seq(InSpan("text", "<p>x", null, 0),
        InSpan("text", null, null, 4), InSpan("media", "", "m.png", 5),
        InSpan("text", "y", null, 6)))
    }(_.spans(cfg).map(s => (s.kind, s.text, s.media_ref)))(e => throw e)
    assert(spans == Seq(("text", "x", null), ("media", "", "m.png"), ("text", "y", null)))
  }
}
