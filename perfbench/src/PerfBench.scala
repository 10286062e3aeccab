package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Pipeline, SgmlExtract}
import graft.ops.{Dedup, TextOps}

/** Seeded, layer-by-layer benchmark of the extraction engine.
  *
  * {{{
  * PerfBench run --workload W --seed N --seconds S --trace 0|1 --cores C --work DIR
  * PerfBench gen --workload W --seeds N,M,... --scale X --work DIR
  * }}}
  * `run` prints, as its last stdout line, one JSON object
  * `{"correct","attempted","failed","metrics"}`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. Everything
  * else it measured (per-pass times, warm-up, calibration, the trace
  * spans) goes to `DIR/result-W-seedN-traceT.json`. Exits 1 when any
  * output check fails. `gen` writes one corpus per listed seed, each in
  * its own directory, and prints their manifests, one per line.
  */
object PerfBench {

  val ExtractCfg = SgmlExtract.Config(dialect = "html4", space = "preserve")
  /** Documents in the fixed sample behind the in-JVM legs and the
    * kernel-vs-expression check. */
  val SampleDocs = Map("extract_small" -> 2000, "extract_large" -> 40, "curate" -> 2000)

  val KeepCorpora = 12

  final case class Opts(mode: String, workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: String, scale: Double, seeds: Seq[Long])

  private def parseArgs(args: Array[String]): Opts = {
    val kv = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(args.headOption.getOrElse(""), kv.getOrElse("workload", ""),
      kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("cores", "1").toInt,
      kv.getOrElse("work", ".bench_build/perfbench/work"), kv.getOrElse("scale", "1").toDouble,
      kv.getOrElse("seeds", "").split(",").filter(_.nonEmpty).map(_.toLong).toSeq)
    require(Set("run", "gen").contains(o.mode), s"unknown mode '${o.mode}'")
    require(Corpus.Workloads.contains(o.workload), s"unknown workload '${o.workload}'")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args)
    val ok =
      if (o.mode == "gen") {
        val spark = session(o.cores, o.work)
        try o.seeds.zipWithIndex.foreach { case (seed, k) =>
          println(Corpus.generate(spark, o.workload, seed, o.scale,
            new File(o.work, s"gen/${o.workload}-$k").getPath).toJson)
        } finally spark.stop()
        true
      } else new Run(o).run()
    System.exit(if (ok) 0 else 1)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The FNV-1a calibration loop of `graft.Bench` (fixed single-thread
    * CPU work): run before and after a workload, it flags a contended run
    * without changing any metric. */
  def calibrationSecs(): Double = {
    var h = 0xcbf29ce484222325L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 100000000L) { h = (h ^ i) * 0x100000001b3L; i += 1 }
    val secs = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.print("")
    secs
  }

  def peakRssMb(): Double = {
    val kb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "")).getOrElse("")
    if (kb.isEmpty) 0.0 else kb.toDouble / 1024
  }

  /** Restart the kernel's peak-RSS counter (Linux `clear_refs` 5). */
  def resetPeakRss(): Unit =
    try java.nio.file.Files.writeString(new File("/proc/self/clear_refs").toPath, "5")
    catch { case _: java.io.IOException => () }

  def now(): Long = System.nanoTime()
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def du(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }
}

/** One benchmark run of one workload. */
final class Run(o: PerfBench.Opts) {
  import PerfBench._

  private val w = o.workload
  private val work = new File(o.work).getAbsoluteFile
  private val corpusDir = new File(work, s"corpus/$w-seed${o.seed}").getPath
  private val outRoot = new File(work, s"out/$w")
  private val tracer = new Tracer(o.trace)
  private val stats = new TaskStats
  private val details = mutable.LinkedHashMap.empty[String, Any]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failedDocs = 0L
  private var spark: SparkSession = _
  private var manifest: Manifest = _

  private val phases = mutable.LinkedHashMap.empty[String, Double]

  /** Wall time of one phase of the run, kept in the result record. */
  private def phase[A](name: String)(body: => A): A = {
    val t0 = now()
    try body finally phases(name) = since(t0)
  }

  private def fail(msg: String, docs: Long): Unit = {
    failures += msg; failedDocs += docs
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
  }

  private def open(cores: Int): Unit = {
    if (spark != null) spark.stop()
    spark = session(cores, work.getPath)
    spark.sparkContext.addSparkListener(stats)
  }

  private def corpus(): DataFrame = spark.read.parquet(corpusDir)

  /** Input of one extract job: some corpus files, the docs and text bytes
    * they hold, and the output digest of the first pass over them. */
  private final class Input(val read: () => DataFrame, val docs: Long, val bytes: Long) {
    var digest: Option[String] = None
  }
  private lazy val whole = new Input(() => corpus(), manifest.docs, manifest.textBytes)

  /** Every fourth corpus file: the input of the one-core job, so that job
    * costs about one four-core pass of the whole corpus. */
  private lazy val quarter: Input = {
    val files = corpusFiles.zipWithIndex.collect { case (f, i) if i % 4 == 0 => f }
    val m = Corpus.digest(spark.read.parquet(files: _*), w, o.seed)
    new Input(() => spark.read.parquet(files: _*), m.docs, m.textBytes)
  }

  private def corpusFiles: Seq[String] =
    new File(corpusDir).listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq

  // ---- workloads' jobs ------------------------------------------------------

  /** Split the at-rest corpus into about four input partitions per core
    * (as `graft.Bench` does), so every core has work at any corpus size. */
  private def sizeSplits(): Unit = {
    val bytes = du(new File(corpusDir))
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      math.max(1L << 20, bytes / (4L * o.cores)).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
  }

  private val internalError: Column =
    size(filter(col("errors"), e => e.getField("code") === "internal-error")).cast("long")

  /** The extract job: `extractDf` over `in`, reduced to doc count, span
    * count, an order-free output digest and the count of internal-error
    * rows. Returns the wall seconds; checks the output. */
  private def extractPass(in: Input): Double = {
    val t0 = now()
    val r = SgmlExtract.extractDf(in.read(), ExtractCfg)
      .agg(count(lit(1)), sum(size(col("spans")).cast("long")),
        bit_xor(xxhash64(col("doc_id"), col("spans"), col("errors"))), sum(internalError))
      .collect()(0)
    val secs = since(t0)
    val docs = r.getLong(0)
    val digest = f"${r.getLong(2)}%016x-${r.getLong(1)}%d"
    attempted += in.docs
    if (docs != in.docs) fail(s"extract: $docs docs out, ${in.docs} in", in.docs)
    else if (r.getLong(3) != 0) fail(s"extract: ${r.getLong(3)} internal-error rows", r.getLong(3))
    else if (in.digest.exists(_ != digest))
      fail(s"extract: output digest $digest differs from ${in.digest.get}", in.docs)
    in.digest = Some(digest)
    secs
  }

  /** `Pipeline.run` into a fresh directory, then its output checks. */
  private def curatePass(k: Int): (Double, Long) = {
    val out = new File(outRoot, s"pass-$k")
    rmrf(out)
    stats.reset(spark.sparkContext)
    val t0 = now()
    Pipeline.run(spark, corpusDir, out.getPath, Pipeline.Config(), runId = s"bench-$k",
      resume = false)
    val secs = since(t0)
    val tasks = stats.snapshot(spark.sparkContext)
    attempted += manifest.docs
    // the parse ran in this pass: a stage read every input doc and wrote output
    val parseRan = tasks.groupBy(_.stage).values.exists { ts =>
      ts.nonEmpty && ts.map(_.recordsRead).sum == manifest.docs && ts.map(_.bytesWritten).sum > 0
    }
    val extracted = spark.read.parquet(new File(out, "extracted").getPath)
      .agg(count(lit(1)), sum(internalError)).collect()(0)
    val c = spark.read.parquet(new File(out, "curated").getPath)
      .agg(count(lit(1)), count_distinct(md5(col("text"))),
        sum(when(col("doc_id").contains("~x"), 1L).otherwise(0L)))
      .collect()(0)
    val curated = c.getLong(0)
    if (!parseRan) fail("curate: the extract stage did not run", manifest.docs)
    else if (extracted.getLong(0) != manifest.docs)
      fail(s"curate: ${extracted.getLong(0)} docs extracted, ${manifest.docs} in", manifest.docs)
    else if (extracted.getLong(1) != 0)
      fail(s"curate: ${extracted.getLong(1)} internal-error rows", extracted.getLong(1))
    else if (c.getLong(1) != curated)
      fail(s"curate: ${curated - c.getLong(1)} duplicate texts survive", manifest.docs)
    else if (c.getLong(2) != 0)
      fail(s"curate: ${c.getLong(2)} planted exact duplicates survive", manifest.docs)
    rmrf(out)
    (secs, curated)
  }

  /** Repeat `pass` for at least `minPasses` and until `budget` seconds
    * have gone; returns every pass time. */
  private def timed(budget: Double, minPasses: Int)(pass: Int => Double): Seq[Double] = {
    val t0 = now()
    val xs = mutable.ArrayBuffer.empty[Double]
    while (xs.size < minPasses || since(t0) < budget) xs += pass(xs.size)
    xs.toSeq
  }

  /** Warm up until pass time settles: the last three passes within 5% of
    * their median, after at least `minPasses`, or `budget` seconds. */
  private def warmUp(budget: Double, minPasses: Int = 3)(pass: Int => Double): Seq[Double] = {
    val t0 = now()
    val xs = mutable.ArrayBuffer.empty[Double]
    def settled = xs.size >= math.max(3, minPasses) && {
      val last = xs.takeRight(3)
      val m = Stats.median(last)
      last.forall(x => math.abs(x - m) <= 0.05 * m)
    }
    while (!settled && (xs.size < minPasses || since(t0) < budget)) xs += pass(xs.size)
    xs.toSeq
  }

  // ---- set-up ---------------------------------------------------------------

  /** Generate the corpus unless this (workload, seed) is already at rest;
    * keeps the last `KeepCorpora` corpora of the workload. */
  private def ensureCorpus(): Double = {
    val t0 = now()
    if (Corpus.recorded(corpusDir, w, o.seed).isEmpty) {
      Option(new File(work, "corpus").listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith(s"$w-seed")).sortBy(-_.lastModified()).drop(KeepCorpora - 1)
        .foreach(rmrf)
      open(o.cores)
      Corpus.generate(spark, w, o.seed, 1.0, corpusDir)
      spark.stop(); spark = null
    }
    since(t0)
  }

  /** One set-up: session start, function registration and first use of
    * the expression on a slice of the corpus, and corpus verification
    * against its manifest. */
  private def setUp(): Double = {
    val t0 = now()
    open(o.cores)
    sizeSplits()
    SgmlExtract.extractDf(spark.read.parquet(corpusFiles.take(2): _*), ExtractCfg)
      .agg(sum(size(col("spans")))).collect()
    val m = Corpus.digest(corpus(), w, o.seed)
    val rec = Corpus.recorded(corpusDir, w, o.seed).getOrElse("")
    if (!rec.contains(s""""digest":"${m.digest}"""")) {
      fail(s"corpus digest ${m.digest} does not match its manifest", m.docs)
    }
    manifest = m
    since(t0)
  }

  // ---- run --------------------------------------------------------------------

  def run(): Boolean = {
    val calPre = calibrationSecs()
    val genS = phase("generate")(ensureCorpus())
    val setups = phase("setup")((1 to 3).map(_ => setUp()))
    details += "gen_s" -> genS
    details += "setup_reps_s" -> setups
    details += "corpus" -> Json.Raw(manifest.toJson)
    val metrics =
      if (failures.nonEmpty) Map.empty[String, (Double, String)]
      else if (o.trace) traced()
      else endToEnd(Stats.median(setups))
    spark.stop()
    details += "calibration" -> Map("pre_s" -> calPre, "post_s" -> calibrationSecs())
    details += "failures" -> failures.toSeq
    details += "phase_s" -> phases
    val result = Json.obj(
      "correct" -> failures.isEmpty, "attempted" -> math.max(1L, attempted),
      "failed" -> math.max(failedDocs, if (failures.nonEmpty) 1L else 0L),
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Json.Raw(Json.obj("value" -> v, "unit" -> u))
      }: _*)))
    details += "result" -> Json.Raw(result)
    if (o.trace) details += "spans" -> Json.Raw(tracer.toJson)
    java.nio.file.Files.writeString(
      new File(work, s"result-$w-seed${o.seed}-trace${if (o.trace) 1 else 0}.json").toPath,
      Json.value(details) + "\n")
    if (failures.isEmpty) println(result)
    failures.isEmpty
  }

  /** End-to-end metrics, tracing off. */
  private def endToEnd(setupS: Double): Map[String, (Double, String)] = {
    val s = o.seconds
    val curate = w == "curate"
    val pass: Int => Double = if (curate) k => curatePass(k)._1 else _ => extractPass(whole)
    val warm = phase("warmup") {
      val xs = warmUp(s, if (curate) 2 else 3)(pass)
      if (curate) warmUp(s / 4)(_ => extractPass(whole))
      xs
    }
    resetPeakRss()
    val passes = phase("passes")(timed(if (curate) 0.5 * s else 0.7 * s, if (curate) 4 else 3)(pass))
    val extractN =
      if (curate) phase("extract_passes")(timed(0.15 * s, 5)(_ => extractPass(whole))) else passes
    val rss = peakRssMb()
    phase("sample_check")(sampleCheck())
    // the same extract job on one core: over a quarter of an extract
    // corpus (about one four-core pass), over all of the small curate one
    val oneIn = if (curate) whole else quarter
    val one = phase("one_core") {
      open(1)
      sizeSplits()
      extractPass(oneIn)
      timed(0.3 * s, 2)(_ => extractPass(oneIn))
    }
    val passS = Stats.median(passes)
    val oneS = Stats.median(one)
    details += "warmup_s" -> warm
    details += "pass_s" -> passes
    details += "extract_pass_s" -> extractN
    details += "extract_1core_pass_s" -> one
    Map(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (passS, "s"),
      "docs_per_s" -> (manifest.docs / passS, "1/s"),
      "mb_per_s" -> (manifest.textBytes / 1e6 / passS, "MB/s"),
      "docs_per_s_1core" -> (oneIn.docs / oneS, "1/s"),
      // by bytes: a quarter's docs need not match the whole corpus's mix
      "scaling_eff" -> ((whole.bytes / Stats.median(extractN)) / (o.cores * oneIn.bytes / oneS), "ratio"),
      "ok_frac" -> (1.0 - failedDocs.toDouble / math.max(1L, attempted), "ratio"),
      "peak_rss_mb" -> (rss, "MB"))
  }

  // ---- checks -----------------------------------------------------------------

  private def sampleFilter: Column = {
    val mod = math.max(1L, manifest.docs / SampleDocs(w))
    pmod(xxhash64(col("doc_id")), lit(mod)) === 0
  }

  /** The fixed sample of the corpus as Catalyst rows `(doc_id, spans)`. */
  private def sampleRows(): Array[InternalRow] =
    corpus().select("doc_id", "spans").filter(sampleFilter)
      .queryExecution.toRdd.map(_.copy()).collect()

  private def spansType = corpus().schema("spans").dataType

  /** The shipped expression path and the in-JVM kernel agree, doc by doc,
    * on the sample. */
  private def sampleCheck(rows: Array[InternalRow] = sampleRows()): Unit = {
    val kernel = new Layers(rows, spansType, 1).kernelDigests()
    val shipped = SgmlExtract.extractDf(corpus().filter(sampleFilter), ExtractCfg)
      .select(col("doc_id"), col("spans")).collect().map { r =>
        r.getString(0) -> Stats.spanDigest(r.getSeq[org.apache.spark.sql.Row](1).map { s =>
          (s.getString(0), s.getString(1), s.getString(2), s.getInt(3))
        })
      }.toMap
    attempted += kernel.size
    val bad = kernel.count { case (id, d) => !shipped.get(id).contains(d) }
    if (bad > 0 || shipped.size != kernel.size)
      fail(s"sample: $bad of ${kernel.size} docs differ between extractDf and SgmlParser",
        math.max(bad, 1).toLong)
    details += "sample_docs" -> kernel.size
  }

  // ---- traced run -------------------------------------------------------------

  private def taskMetrics(prefix: String, tasks: Seq[TaskStats#Task]): Map[String, Double] = {
    val run = math.max(1L, tasks.map(_.runMs).sum).toDouble
    Map(
      s"$prefix.task_ms_p50" -> Stats.pct(tasks.map(_.durMs.toDouble), 0.5),
      s"$prefix.task_ms_max" -> tasks.map(_.durMs.toDouble).maxOption.getOrElse(0.0),
      s"$prefix.task_count" -> tasks.size.toDouble,
      s"$prefix.gc_frac" -> tasks.map(_.gcMs).sum / run,
      s"$prefix.cpu_frac" -> tasks.map(_.cpuNs).sum / 1e6 / run)
  }

  /** Per-layer metrics from one traced run. */
  private def traced(): Map[String, (Double, String)] = {
    val s = o.seconds
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val extractStep: Int => Double = _ => extractPass(whole)
    phase("warmup") {
      warmUp(s / 2)(extractStep)
      if (w == "curate") warmUp(s / 4, 2)(k => curatePass(k)._1)
    }

    // tracing overhead: the same pass without and with the listener +
    // spans, alternating so drift in either direction cancels
    val plain = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[Double]
    val passTasks = mutable.ArrayBuffer.empty[Map[String, Double]]
    phase("passes")(timed(0.4 * s, 6) { k =>
      if (k % 2 == 0) { plain += extractStep(k); plain.last }
      else {
        stats.reset(spark.sparkContext)
        tracedPasses += tracer.span("extract.pass")(extractStep(k))
        passTasks += taskMetrics("extract", stats.snapshot(spark.sparkContext))
        tracedPasses.last
      }
    })
    val passS = Stats.median(plain)
    out("trace.overhead_frac") = (Stats.median(tracedPasses) / passS - 1, "ratio")
    passTasks.head.keys.foreach { k =>
      out(k) = (Stats.median(passTasks.map(_(k)).toSeq), if (k.contains("_ms_")) "ms" else
        if (k.endsWith("count")) "count" else "ratio")
    }

    // scan: every input column read and decoded by the parquet reader, no parse
    val touchAll = expr("aggregate(spans, 0L, (a, s) -> a + octet_length(s.kind) + " +
      "coalesce(octet_length(s.text), 0) + coalesce(octet_length(s.media_ref), 0) + s.offset)")
    val scans = phase("scan")((1 to 3).map { _ =>
      val t0 = now()
      tracer.span("scan")(corpus().agg(count(col("doc_id")), sum(touchAll)).collect())
      since(t0)
    })
    out("scan.s") = (Stats.median(scans), "s")
    // the parquet files it reads (the reader's own bytesRead counter misses
    // most page reads on a local filesystem)
    out("scan.bytes") = (corpusFiles.map(f => new File(f).length()).sum.toDouble, "bytes")

    // sgml + functions legs over the sample, in-JVM
    val rows = phase("sample")(sampleRows())
    phase("sample_check")(sampleCheck(rows))
    val layers = new Layers(rows, spansType, o.cores)
    val n = rows.length.toDouble
    val reps = 3
    val legSecs = phase("legs")(tracer.span("legs")(layers.median(Seq("decode" -> layers.decode,
      "tokenize" -> layers.tokenize, "tree" -> layers.tree, "emit" -> layers.emit,
      "row" -> layers.rowBuild), reps)))
    val kernel1 = phase("kernel_1t")(tracer.span("kernel.1t")(
      layers.median(Seq("row" -> layers.rowBuild), reps, 1)))("row").wall
    val kernelN = phase("kernel_nt")(tracer.span("kernel.nt")(
      layers.median(Seq("row" -> layers.rowBuild), reps)))("row").wall
    val counts = phase("counts")(layers.counts())
    // busy ns per doc: thread time summed over threads ÷ docs
    def ns(leg: String) = legSecs(leg).busy * 1e9 / n
    out("sgml.decode.ns_per_doc") = (ns("decode"), "ns")
    out("sgml.tokenize.ns_per_doc") = (ns("tokenize") - ns("decode"), "ns")
    out("sgml.tree.ns_per_doc") = (ns("tree") - ns("tokenize"), "ns")
    out("sgml.emit.ns_per_doc") = (ns("emit") - ns("tree"), "ns")
    out("functions.row_build.ns_per_doc") = (ns("row") - ns("emit"), "ns")
    out("functions.legs_over_kernel") = (legSecs("row").wall / kernelN, "ratio")
    out("sgml.tokenize.events_per_doc") = (counts("events"), "count")
    out("sgml.tree.nodes_per_doc") = (counts("nodes"), "count")
    out("sgml.tree.errors_per_doc") = (counts("errors"), "count")
    out("sgml.emit.spans_per_doc") = (counts("spans"), "count")
    out("sgml.kernel.docs_per_s_1t") = (n / kernel1, "1/s")
    out("sgml.kernel.docs_per_s_nt") = (n / kernelN, "1/s")
    // scaled by bytes: the sample's size mix need not be the corpus's
    out("extract.spark_overhead_s") = (passS - whole.bytes * kernelN / layers.textBytes, "s")
    details += "extract_pass_s" -> plain
    details += "extract_traced_pass_s" -> tracedPasses
    details += "leg_s" -> legSecs.map { case (k, t) => k -> Map("wall" -> t.wall, "busy" -> t.busy) }

    // curate legs: Pipeline.run's stages rebuilt as materialised prefixes
    out ++= phase("curate_legs")(curateLegs())
    out.toMap
  }

  /** `Pipeline.run`'s stages as cumulative prefixes built from public
    * calls, each materialised before the next so every leg times only its
    * own stage: extract → quality → exact → fuzzy → lang → write. On the
    * `curate` workload the final count must equal `Pipeline.run`'s. On the
    * extract workloads the legs run over the sample docs, limited to
    * documents of at most 64 Ki chars (the quality stage's span
    * concatenation is quadratic in a document's span count). */
  private def curateLegs(): Map[String, (Double, String)] = {
    val cfg = Pipeline.Config()
    val out = new File(outRoot, "legs")
    rmrf(out)
    val input =
      if (w == "curate") corpus()
      else corpus().filter(sampleFilter).filter(
        expr("aggregate(spans, 0L, (a, s) -> a + coalesce(length(s.text), 0)) <= 65536"))
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val legTasks = mutable.ArrayBuffer.empty[TaskStats#Task]
    def leg[A](name: String)(body: => A): A = {
      stats.reset(spark.sparkContext)
      val t0 = now()
      val r = tracer.span(s"curate.$name")(body)
      m(s"curate.$name.s") = (since(t0), "s")
      val ts = stats.snapshot(spark.sparkContext)
      legTasks ++= ts
      if (name == "exact") m("curate.exact.shuffle_bytes") = (ts.map(_.shuffleWrite).sum.toDouble, "bytes")
      r
    }
    val extractedPath = new File(out, "extracted").getPath
    leg("extract")(SgmlExtract.extractDf(input, cfg.extract).write.parquet(extractedPath))
    val extracted = spark.read.parquet(extractedPath)
    val nIn = extracted.count()
    val quality = TextOps.withQuality(extracted.select(col("doc_id"),
        expr("aggregate(spans, '', (acc, sp) -> acc || sp.text)").as("text"),
        size(col("errors")).as("n_errors")))
      .filter(col("is_quality") && col("n_errors") === 0)
      .select("doc_id", "text", "n_words").persist()
    val nQ = leg("quality")(quality.count())
    val exact = quality
      .withColumn("__rn", row_number().over(Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn").persist()
    val nE = leg("exact")(exact.count())
    val banded = Dedup.bandsOf(exact, "doc_id", "text").persist()
    val pairs = Dedup.verifiedPairsFromBands(banded, exact, "doc_id", "text",
      cfg.minJaccard, cfg.maxBucket).persist()
    val survivors = exact.join(pairs.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"),
      "left_anti").persist()
    val nF = leg("fuzzy")(survivors.count())
    val curated = TextOps.withLangId(survivors)
      .select(col("doc_id"), col("text"), col("predicted_lang"), col("n_words")).persist()
    val nL = leg("lang")(curated.count())
    val curatedPath = new File(out, "curated").getPath
    leg("write")(curated.write.parquet(curatedPath))
    val verified = pairs.count()
    val candidates = banded.groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= cfg.maxBucket)
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b")).distinct().count()
    m("curate.quality.dropped") = ((nIn - nQ).toDouble, "count")
    m("curate.exact.dropped") = ((nQ - nE).toDouble, "count")
    m("curate.fuzzy.dropped") = ((nE - nF).toDouble, "count")
    m("curate.fuzzy.candidate_pairs") = (candidates.toDouble, "count")
    m("curate.fuzzy.verified_pairs") = (verified.toDouble, "count")
    m("curate.fuzzy.verify_ratio") = (verified.toDouble / math.max(1L, candidates), "ratio")
    m("curate.write.bytes") = (du(new File(curatedPath)).toDouble, "bytes")
    m("curate.spill_bytes") = (legTasks.map(_.spill).sum.toDouble, "bytes")
    Seq(curated, survivors, pairs, banded, exact, quality).foreach(_.unpersist())
    rmrf(out)
    if (w == "curate") {
      val (_, runCurated) = curatePass(0)
      details += "curate_counts" -> Map("legs" -> nL, "pipeline_run" -> runCurated)
      if (runCurated != nL) fail(s"curate legs keep $nL docs, Pipeline.run keeps $runCurated", nIn)
    }
    m.toMap
  }
}
