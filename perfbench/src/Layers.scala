package perfbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

import graft.SgmlExtract
import graft.functions.ExtractSpansExpr
import graft.sgml._

/** The extract kernel split into cumulative in-JVM legs over one fixed
  * sample of a workload's documents, each leg calling one more public
  * layer than the one before:
  *
  *   decode   — span array read + `UTF8String.toString`
  *   tokenize — + `Tokenizer` into a counting sink
  *   tree     — + `TreeBuilder` (through `SgmlParser` reset/feed/finish)
  *   emit     — + `ParseResult.spans`
  *   row      — `ExtractSpansExpr.eval`: all of the above + the Catalyst row build
  *
  * A layer's self time is its leg minus the leg before. Every leg runs on
  * `threads` threads pulling documents from a shared counter, so it is
  * timed under the same core contention as a Spark pass. */
final class Layers(sample: Array[InternalRow], spansType: DataType, threads: Int) {

  private val config = SgmlExtract.Config(dialect = "html4", space = "preserve")
  private val cfg = config.toParserConfig
  private val Media = UTF8String.fromString("media")
  // contract column order: (doc_id, spans)
  private def spansOf(row: InternalRow): ArrayData = row.getArray(1)

  /** Per-thread state of a leg; `apply` handles one doc and returns a
    * value folded into a sink so the JIT cannot drop the work. Each leg
    * has its own copy of the span loop, so no call site in it sees more
    * than one leg's types (a shared loop would go megamorphic and slow
    * every leg but the expression's). */
  type Leg = () => InternalRow => Long

  val decode: Leg = () => { row =>
    val arr = spansOf(row)
    var acc = 0L
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getStruct(i, 4)
      if (Media.equals(s.getUTF8String(0))) {
        val ref = s.getUTF8String(2)
        acc += (if (ref == null) 0 else ref.toString.length)
      } else {
        val t = s.getUTF8String(1)
        if (t != null) acc += t.toString.length
      }
      i += 1
    }
    acc
  }

  val tokenize: Leg = () => {
    val holder = new DtdHolder(HtmlDtd.dtd)
    val log = new ErrorLog(cfg.maxErrors)
    var events = 0L
    val tok = new Tokenizer(cfg, holder, _ => events += 1, log)
    row => {
      holder.dtd = HtmlDtd.dtd; log.reset(); tok.reset(); events = 0
      val arr = spansOf(row)
      var i = 0
      while (i < arr.numElements()) {
        val s = arr.getStruct(i, 4)
        val off = if (s.isNullAt(3)) 0 else s.getInt(3)
        if (Media.equals(s.getUTF8String(0))) {
          val ref = s.getUTF8String(2)
          tok.media(if (ref == null) null else ref.toString, off)
        } else {
          val t = s.getUTF8String(1)
          if (t != null) { tok.setOffset(off); tok.feed(t.toString) }
        }
        i += 1
      }
      tok.finish()
      events
    }
  }

  /** `SgmlParser` reset → feed/media → finish over one doc's spans. */
  private def parse(p: SgmlParser, row: InternalRow): ParseResult = {
    p.reset()
    val arr = spansOf(row)
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getStruct(i, 4)
      val off = if (s.isNullAt(3)) 0 else s.getInt(3)
      if (Media.equals(s.getUTF8String(0))) {
        val ref = s.getUTF8String(2)
        p.media(if (ref == null) null else ref.toString, off)
      } else {
        val t = s.getUTF8String(1)
        if (t != null) p.feed(t.toString, off)
      }
      i += 1
    }
    p.finish()
  }

  val tree: Leg = () => {
    val p = new SgmlParser(cfg)
    row => parse(p, row).content.length.toLong
  }

  val emit: Leg = () => {
    val p = new SgmlParser(cfg)
    row => parse(p, row).spans(cfg).length.toLong
  }

  val rowBuild: Leg = () => {
    val e = ExtractSpansExpr(BoundReference(1, spansType, nullable = true), "html4", "preserve")
    row => e.eval(row).asInstanceOf[InternalRow].getArray(0).numElements().toLong
  }

  /** One timed sweep: wall seconds, and busy seconds summed over the
    * threads (each thread's time from its first doc to its last). */
  final case class Timing(wall: Double, busy: Double)

  /** `rounds` sweeps of the sample on `n` threads. */
  def sweep(leg: Leg, n: Int, rounds: Int): Timing = {
    val next = new AtomicInteger(0)
    val total = rounds * sample.length
    val sink = new java.util.concurrent.atomic.AtomicLong(0)
    val busyNs = new java.util.concurrent.atomic.AtomicLong(0)
    val workers = (0 until n).map { _ =>
      new Thread(() => {
        val f = leg()
        val t0 = System.nanoTime()
        var acc = 0L
        var i = next.getAndIncrement()
        while (i < total) { acc += f(sample(i % sample.length)); i = next.getAndIncrement() }
        busyNs.addAndGet(System.nanoTime() - t0)
        sink.addAndGet(acc)
      })
    }
    val t0 = System.nanoTime()
    workers.foreach(_.start())
    workers.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    if (sink.get() == Long.MinValue) println("") // keep the work observable
    Timing(wall, busyNs.get() / 1e9)
  }

  /** Median per-sweep timing of each leg on `n` threads, over `reps`
    * rounds that take every leg in turn (so drift in JIT or heap state
    * lands on all legs alike), each measurement at least `minSecs` long,
    * after one untimed measurement per leg. Busy time is a leg's cost:
    * unlike wall time it does not depend on how the last few (possibly
    * huge) docs happen to fall across threads. */
  def median(legs: Seq[(String, Leg)], reps: Int, n: Int = threads,
      minSecs: Double = 0.2): Map[String, Timing] = {
    val rounds = legs.map { case (name, leg) =>
      val once = sweep(leg, n, 1).wall
      val r = math.max(1, math.ceil(minSecs / math.max(once, 1e-6)).toInt)
      sweep(leg, n, r)
      name -> r
    }.toMap
    val ts = (1 to reps).flatMap(_ => legs.map { case (name, leg) => name -> sweep(leg, n, rounds(name)) })
    ts.groupBy(_._1).map { case (name, xs) =>
      name -> Timing(Stats.median(xs.map(_._2.wall)) / rounds(name),
        Stats.median(xs.map(_._2.busy)) / rounds(name))
    }
  }

  /** UTF-8 bytes of the sample's text spans. */
  def textBytes: Long = sample.map { row =>
    val arr = spansOf(row)
    (0 until arr.numElements()).map { i =>
      val s = arr.getStruct(i, 4)
      if (!Media.equals(s.getUTF8String(0)) && !s.isNullAt(1)) s.getUTF8String(1).numBytes.toLong else 0L
    }.sum
  }.sum

  /** Per-doc work counts of the sample (untimed): tokenizer events, top
    * level tree nodes plus descendants, parse errors and output spans. */
  def counts(): Map[String, Double] = {
    val tok = tokenize()
    val p = new SgmlParser(cfg)
    var events, nodes, errors, spans = 0L
    sample.foreach { row =>
      events += tok(row)
      val r = parse(p, row)
      nodes += countNodes(r.content)
      errors += r.errors.length
      spans += r.spans(cfg).length
    }
    val n = sample.length.toDouble
    Map("events" -> events / n, "nodes" -> nodes / n, "errors" -> errors / n, "spans" -> spans / n)
  }

  private def countNodes(top: IndexedSeq[Node]): Long = {
    var n = 0L
    val stack = scala.collection.mutable.Stack[Node](top: _*)
    while (stack.nonEmpty) {
      n += 1
      stack.pop() match {
        case e: Node.Elem => e.children.foreach(stack.push)
        case _ =>
      }
    }
    n
  }

  /** Per-document span digest straight from `SgmlParser`, for checking the
    * shipped expression path against the kernel. */
  def kernelDigests(): Map[String, Long] = {
    val p = new SgmlParser(cfg)
    sample.map { row =>
      row.getUTF8String(0).toString ->
        Stats.spanDigest(parse(p, row).spans(cfg).map(s => (s.kind, s.text, s.media_ref, s.offset)))
    }.toMap
  }
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: collection.Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.max(0, math.min(s.length - 1, math.ceil(p * s.length).toInt - 1)))
  }

  def spanDigest(spans: Iterable[(String, String, String, Int)]): Long = {
    var h = 0xcbf29ce484222325L
    def add(s: String): Unit = {
      if (s == null) h = (h ^ 0x1ff) * 0x100000001b3L
      else { var i = 0; while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 } }
      h = (h ^ 0xff) * 0x100000001b3L
    }
    spans.foreach { case (k, t, m, o) => add(k); add(t); add(m); h = (h ^ o) * 0x100000001b3L }
    h
  }
}
