package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** What a generated corpus holds; written as `_corpus.json` beside the
  * parquet files so a later run can verify instead of regenerate. */
final case class Manifest(
    workload: String, seed: Long, docs: Long, textBytes: Long,
    digest: String, exactDups: Long, nearDups: Long) {
  def toJson: String = Json.obj(
    "workload" -> workload, "seed" -> seed, "docs" -> docs,
    "text_bytes" -> textBytes, "digest" -> digest,
    "planted" -> Json.Raw(Json.obj(
      "exact_dup_share" -> Corpus.ExactDupShare,
      "near_dup_share" -> Corpus.NearDupShare,
      "exact_dups" -> exactDups, "near_dups" -> nearDups)))
}

/** Seeded corpus generator for the three workloads. Every document is a
  * pure function of (workload, seed, index), so generation parallelises
  * over any number of tasks and the same seed always yields the same
  * content. The parse engine only ever sees the parquet written here. */
object Corpus {

  val Workloads = Seq("extract_small", "extract_large", "curate")

  /** Files per corpus: fixed, so the at-rest layout does not depend on
    * the machine that generated it. */
  val Files = 32
  val ExactDupShare = 0.10
  val NearDupShare = 0.10

  /** Documents per workload at scale 1: about a second per four-core
    * extract pass for the extract workloads; `curate` is small because
    * `Pipeline.run`'s cost at this size is mostly per-job overhead, and a
    * run has to fit several passes. */
  def docsFor(workload: String): Int = workload match {
    case "extract_small" => 100000
    case "extract_large" => 256 // a multiple of Files (see `rank`)
    case "curate"        => 2500
  }

  // ---- text ---------------------------------------------------------------

  private val Tech = Array("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "join", "vector", "customer", "page", "index", "cache",
    "shard", "node", "token", "parse", "tree", "span", "markup", "record")
  private val Stop: Array[Array[String]] = Array(
    Array("the", "a", "and", "of", "to", "in", "is", "it", "that"),
    Array("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    Array("le", "la", "les", "et", "est", "un", "une", "dans"),
    Array("el", "los", "las", "es", "un", "una", "que", "por"))
  private val Named = Array("&amp;", "&lt;", "&gt;", "&quot;", "&nbsp;",
    "&copy;", "&eacute;", "&mdash;", "&uuml;", "&ccedil;")
  private val Numeric = Array("&#233;", "&#x4E2D;", "&#8364;", "&#x2014;", "&#169;")

  private def mix(z0: Long): Long = { // SplitMix64 finaliser
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def salt(workload: String): Long = workload match {
    case "extract_small" => 0x5111L
    case "extract_large" => 0x1a26eL
    case "curate"        => 0xc0a7eL
  }

  private def rng(workload: String, seed: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ salt(workload)) + i))

  /** Words of one document: ~44-580 chars like the sf0.1 documents table,
    * in one of five languages (zh docs are CJK and fail the quality gate,
    * as do docs under ten words). */
  private def words(r: SplittableRandom): Array[String] = {
    val lang = r.nextInt(20) match {
      case k if k < 8  => 0
      case k if k < 11 => 1
      case k if k < 14 => 2
      case k if k < 17 => 3
      case _           => 4 // zh
    }
    val n = 6 + r.nextInt(85)
    Array.fill(n) {
      if (lang == 4) {
        val len = 2 + r.nextInt(3)
        val sb = new java.lang.StringBuilder(len)
        var k = 0
        while (k < len) { sb.append((0x4e00 + r.nextInt(400)).toChar); k += 1 }
        sb.toString
      } else if (r.nextInt(5) == 0) Stop(lang)(r.nextInt(Stop(lang).length))
      else Tech(r.nextInt(Tech.length))
    }
  }

  private def join(ws: Array[String], from: Int, until: Int): String =
    ws.slice(from, until).mkString(" ")

  /** Small html4 document split around one interleaved media span, in one
    * of five seed-chosen templates; every template omits at least one
    * `</p>` or `</li>`. */
  private def smallParts(r: SplittableRandom, ws: Array[String]): (String, String) = {
    val n = ws.length
    val a = n / 3
    val b = 2 * n / 3
    val text =
      if (r.nextInt(10) == 0 && n > 2) join(ws, 0, 1) + " &amp; " + join(ws, 1, n)
      else join(ws, 0, n)
    r.nextInt(5) match {
      case 0 => ("<html><body><p>" + text, "<p>tail</body></html>")
      case 1 => (s"<html><head><title>${join(ws, 0, 2)}</title></head><body><p>${join(ws, 0, b)}",
        s"<p>${join(ws, b, n)}</body></html>")
      case 2 => (s"<body><div class=c${r.nextInt(9)}><p>${join(ws, 0, a)}<br>",
        s"${join(ws, a, n)}</div>")
      case 3 => (s"<p>${join(ws, 0, a)} <b>${join(ws, a, b)}</b>",
        s" <p>${join(ws, b, n)}")
      case _ => (s"<html><body><ul><li>${join(ws, 0, a)}<li>",
        s"${join(ws, a, b)}</ul><p>${join(ws, b, n)}</body></html>")
    }
  }

  /** One row of the contract table `(doc_id, spans array<struct<kind,
    * text, media_ref, offset>>)`: markup `a`, a media span, markup `b`. */
  private def interleaved(id: String, a: String, b: String): Row = Row(id, Seq(
    Row("text", a, null, 0),
    Row("media", "", s"asset_$id.bin", a.length),
    Row("text", b, null, a.length)))

  private def smallDoc(seed: Long, i: Long, id: String): Row = {
    val r = rng("extract_small", seed, i)
    val (a, b) = smallParts(r, words(r))
    interleaved(id, a, b)
  }

  // ---- extract_large --------------------------------------------------------

  val LargeMin = 20 * 1024
  val LargeMax = 2 * 1024 * 1024
  private val Alpha = 1.1

  /** Heavy-tailed (Pareto, alpha 1.1) size of the doc at size-rank `q`,
    * sampled by stratum so the corpus total barely moves with the seed
    * while its tail still reaches 2 MiB. */
  def largeSize(q: Int, n: Int, jitter: Double): Int = {
    val u = (q + jitter) / n
    math.min(LargeMax.toDouble, LargeMin / math.pow(1 - u, 1 / Alpha)).toInt
  }

  private def phrase(r: SplittableRandom, sb: java.lang.StringBuilder, n: Int): Unit = {
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      r.nextInt(40) match {
        case 0 => sb.append(Named(r.nextInt(Named.length)))
        case 1 => sb.append(Numeric(r.nextInt(Numeric.length)))
        case 2 => sb.append("<b>").append(Tech(r.nextInt(Tech.length))).append("</b>")
        case 3 => sb.append("<a href=\"/p/").append(r.nextInt(10000)).append("\">")
            .append(Tech(r.nextInt(Tech.length))).append("</a>")
        case 4 => sb.append(Stop(0)(r.nextInt(Stop(0).length)))
        case _ => sb.append(Tech(r.nextInt(Tech.length)))
      }
      k += 1
    }
  }

  /** Large html4 page: paragraphs with omitted `</p>`, lists with omitted
    * `</li>`, tables with omitted `</tr>`/`</td>` and implied `<tbody>`,
    * comments, headings, images, named and numeric entity references. */
  private def largeMarkup(r: SplittableRandom, target: Int): String = {
    val sb = new java.lang.StringBuilder(target + 4096)
    sb.append("<!DOCTYPE HTML PUBLIC \"-//W3C//DTD HTML 4.01//EN\">\n")
      .append("<html><head><title>")
    phrase(r, sb, 4)
    sb.append("</title></head><body>\n")
    while (sb.length < target) {
      r.nextInt(10) match {
        case 0 | 1 | 2 | 3 =>
          sb.append("<p>"); phrase(r, sb, 20 + r.nextInt(60)); sb.append('\n')
        case 4 =>
          sb.append("<ul>")
          for (_ <- 0 until 2 + r.nextInt(8)) { sb.append("\n<li>"); phrase(r, sb, 3 + r.nextInt(8)) }
          sb.append("\n</ul>\n")
        case 5 =>
          sb.append("<table border=1>")
          val cols = 2 + r.nextInt(4)
          for (_ <- 0 until 2 + r.nextInt(6)) {
            sb.append("\n<tr>")
            for (_ <- 0 until cols) { sb.append("<td>"); phrase(r, sb, 1 + r.nextInt(4)) }
          }
          sb.append("\n</table>\n")
        case 6 =>
          sb.append("<!-- "); phrase(r, sb, 5 + r.nextInt(10)); sb.append(" -->\n")
        case 7 =>
          sb.append("<h2>"); phrase(r, sb, 3 + r.nextInt(5)); sb.append("</h2>\n")
        case 8 =>
          sb.append("<div class=\"box\"><p>"); phrase(r, sb, 10 + r.nextInt(30)); sb.append("</div>\n")
        case _ =>
          sb.append("<p><img src=\"/img/").append(r.nextInt(100000))
            .append(".png\" alt=\"").append(Tech(r.nextInt(Tech.length))).append("\"> ")
          phrase(r, sb, 10 + r.nextInt(20)); sb.append('\n')
      }
    }
    sb.append("</body></html>\n").toString
  }

  private def largeDoc(seed: Long, i: Long, rank: Int, n: Int, id: String): Row = {
    val r = rng("extract_large", seed, i)
    val page = largeMarkup(r, largeSize(rank, n, r.nextDouble()))
    // split at a tag boundary near the middle for the interleaved media span
    val cut = page.indexOf('<', page.length / 2) match { case -1 => page.length; case k => k }
    interleaved(id, page.substring(0, cut), page.substring(cut))
  }

  /** Size rank of doc `i`: doc ranks are dealt round-robin over the
    * corpus files (file `f` holds ranks f, f + Files, f + 2 Files, ...), so
    * every file, and every fourth file, holds the same spread of sizes
    * whatever the seed; which file holds the very largest docs is fixed. */
  private def rank(i: Long, n: Int): Int = {
    val perFile = n / Files
    ((i % perFile) * Files + i / perFile).toInt
  }

  // ---- curate ---------------------------------------------------------------

  /** Curate docs: originals first; then exact copies of a seed-chosen
    * original (`<orig_id>~x<i>`), then edited copies (`<orig_id>~n<i>`:
    * about one word in twenty replaced). A copy's id sorts after its
    * original's, so dedup keeps the original. */
  private def curateDoc(seed: Long, i: Long, n: Long): Row = {
    val nExact = math.round(n * ExactDupShare)
    val nNear = math.round(n * NearDupShare)
    val nOrig = n - nExact - nNear
    def orig(j: Long): (String, Array[String], SplittableRandom) = {
      val r = rng("curate", seed, j)
      (f"c$j%08d", words(r), r)
    }
    if (i < nOrig) {
      val (id, ws, r) = orig(i)
      val (a, b) = smallParts(r, ws)
      interleaved(id, a, b)
    } else {
      val pick = rng("curate", seed, i)
      val (oid, ws, r) = orig(pick.nextLong(nOrig))
      if (i < nOrig + nExact) {
        val id = s"$oid~x$i"
        val (a, b) = smallParts(r, ws)
        interleaved(id, a, b)
      } else {
        val id = s"$oid~n$i"
        val edited = ws.clone()
        for (_ <- 0 until math.max(1, edited.length / 20))
          edited(pick.nextInt(edited.length)) = Tech(pick.nextInt(Tech.length))
        val (a, b) = smallParts(r, edited)
        interleaved(id, a, b)
      }
    }
  }

  /** Docs generated at `scale`: a whole number per corpus file. */
  def docCount(workload: String, scale: Double = 1.0): Int =
    math.max(1L, math.round(docsFor(workload) * scale / Files)).toInt * Files

  /** The contract input schema. */
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", IntegerType, nullable = false)))))))

  // ---- generate / verify ----------------------------------------------------

  /** Generate the corpus for (workload, seed) at `scale` × the default
    * doc count and write it as parquet under `dir`, then verify it. */
  def generate(spark: SparkSession, workload: String, seed: Long, scale: Double,
      dir: String): Manifest = {
    val n = docCount(workload, scale)
    val ws = workload
    val rows = spark.sparkContext.range(0L, n.toLong, 1L, Files).map { i =>
      ws match {
        case "extract_small" => smallDoc(seed, i, f"s$i%08d")
        case "extract_large" => largeDoc(seed, i, rank(i, n), n, f"l$i%06d")
        case _               => curateDoc(seed, i, n.toLong)
      }
    }
    spark.createDataFrame(rows, Schema).write.mode("overwrite").parquet(dir)
    val m = digest(spark.read.parquet(dir), workload, seed)
    writeManifest(dir, m)
    m
  }

  /** Content digest of an at-rest corpus: an order-free XOR of per-doc
    * xxhash64 over doc_id and spans, with the doc count. Same seed, same
    * digest, whatever the file layout. */
  def digest(corpus: DataFrame, workload: String, seed: Long): Manifest = {
    import org.apache.spark.sql.functions._
    def n(p: String) = sum(when(col("doc_id").contains(p), 1L).otherwise(0L))
    val r = corpus.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("spans"))),
      sum(expr("aggregate(spans, 0L, (a, s) -> a + if(s.kind = 'text', octet_length(s.text), 0))")),
      n("~x"), n("~n")).collect()(0)
    Manifest(workload, seed, r.getLong(0), r.getLong(2), f"${r.getLong(1)}%016x-${r.getLong(0)}%d",
      r.getLong(3), r.getLong(4))
  }

  def manifestFile(dir: String) = new java.io.File(dir, "_corpus.json") // "_": skipped by parquet readers

  private def writeManifest(dir: String, m: Manifest): Unit =
    java.nio.file.Files.writeString(manifestFile(dir).toPath, m.toJson + "\n")

  /** The recorded manifest of `dir` if it was generated for exactly this
    * (workload, seed) at full size; its digest is re-checked by the caller. */
  def recorded(dir: String, workload: String, seed: Long): Option[String] = {
    val f = manifestFile(dir)
    if (!f.exists()) None
    else {
      val s = java.nio.file.Files.readString(f.toPath)
      if (s.contains(s""""workload":"$workload"""") && s.contains(s""""seed":$seed,""") &&
          s.contains(s""""docs":${docCount(workload)},"""))
        Some(s) else None
    }
  }
}
