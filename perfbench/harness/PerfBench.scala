package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.{Engine, SparkEntry}
import graft.pipeline.{Corpus, Graph, Staged, Stages, XmlDocs}

/** One timed operation: a landed file, or one query of the mix. */
final case class Op(name: String, family: String, seconds: Double, traced: Boolean, ok: Boolean)

/** Benchmark harness for one workload in one fresh JVM.
  *
  * A run is: untimed input preparation, [[PerfBench.Reps]] set-up
  * repetitions (each from cold benchmark-owned caches, warm-up
  * included), then a closed loop of timed operations until `--seconds`
  * have passed. The program under test is only called through its public
  * functions. Everything the run measures goes to `<work>/result.json`;
  * `perfbench/run.py` checks correctness and prints the metrics.
  *
  * The harness keeps its wall time under `--budget-s` from JVM start: it
  * drops set-up repetitions and ends the timed loop early rather than
  * being killed, so a slow program still reports what it measured.
  *
  * Usage: perfbench.PerfBench --workload pipeline|curation_mix --seed N
  *   --seconds S --trace 0|1 --budget-s S --work DIR --data DIR --cores N
  *   (--docs-per-file N | --queries a,b,c)
  */
object PerfBench {

  /** Set-up repetitions per run; `setup_s` takes their median. */
  val Reps = 3

  /** Files each pipeline set-up lands through the stream before timing:
    * the first file of a fresh checkpoint pays the stream's start-up.
    */
  val WarmFiles = 1

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = new Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val cores = a("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val result =
      try new Run(spark, a, cores, jvmStartMs, sessionS).execute()
      finally spark.stop()
    Files.write(Paths.get(a("work"), "result.json"), result.getBytes(UTF_8))
  }

  // ---- small helpers -------------------------------------------------

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete()
    ()
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum

  def toJson(v: AnyRef): String = {
    implicit val formats: Formats = DefaultFormats
    Serialization.write(v)
  }

  /** Renders the corpus of the tables under `data` as XML via the
    * program's own writer, then splits it under `dest` into files of
    * `perFile` documents each; `seed` sets document order and so which
    * documents share a file. Returns the files' (path, document count)
    * in landing order.
    */
  def renderCorpus(spark: SparkSession, data: String, scratch: String, dest: String,
      perFile: Int, seed: Long): Seq[(File, Int)] = {
    rmrf(new File(scratch)); rmrf(new File(dest))
    XmlDocs.writeCorpusXml(Corpus.flatDocs(spark, data), Corpus.indexTriples(spark, data), scratch)
    val docRe = "(?s)<document>.*?</document>".r
    val docs = Option(new File(scratch).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)
      .flatMap(f => docRe.findAllIn(new String(Files.readAllBytes(f.toPath), UTF_8)))
    val shuffled = new Random(seed).shuffle(docs.toSeq)
    new File(dest).mkdirs()
    val files = shuffled.grouped(perFile).zipWithIndex.map { case (group, i) =>
      val f = new File(dest, f"part-$i%04d.xml")
      Files.write(f.toPath, group.mkString("<root>\n", "\n", "\n</root>\n").getBytes(UTF_8))
      (f, group.size)
    }.toSeq
    rmrf(new File(scratch))
    files
  }
}

final class Run(spark: SparkSession, a: PerfBench.Args, cores: Int, jvmStartMs: Long,
    sessionS: Double) {
  import PerfBench._

  private val work = a("work")
  private val data = a("data")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val trace = a("trace") == "1"
  private val budgetS = a("budget-s").toDouble
  private val tracer = new Tracer(spark, cores)
  private val engine = new Engine(spark)
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.LinkedHashMap.empty[String, Any]
  private val stageCacheDir = new File(sys.props("graft.stagecache.dir"))
  private val streamScratch = new File(sys.env("SPARK_GRAFT_STREAM_SCRATCH"))

  private def sinceStartS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** Whether work of about `s` seconds, then the rest of the run (the
    * timed region and about `s` more for the finish), still fits in the
    * budget.
    */
  private def affords(s: Double): Boolean = sinceStartS + 2 * s + seconds < budgetS

  /** Drop every benchmark-owned cache so the next set-up starts cold:
    * the in-JVM stage memos, persisted blocks, the on-disk stage cache
    * and the stream scratch (staged stream sources, checkpoints).
    */
  private def clearCaches(): Unit = {
    Stages.clear()
    Staged.clear()
    spark.catalog.clearCache()
    rmrf(stageCacheDir)
    Option(streamScratch.listFiles()).getOrElse(Array.empty).foreach(rmrf)
  }

  def execute(): String = {
    val workload = a("workload")
    val w: Workload = workload match {
      case "pipeline" => new PipelineWorkload
      case "curation_mix" => new MixWorkload
      case other => sys.error(s"unknown workload $other")
    }
    w.prepare()
    val (cg0n, cg0ms) = tracer.codegen
    // Set-up repetitions, each timed from cleared caches up to the first
    // timed operation. Traced runs leave the last repetition untraced,
    // so setup overhead = rep(n-1) - rep(n).
    val repS = mutable.ArrayBuffer.empty[Double]
    val warmS = mutable.ArrayBuffer.empty[Double]
    while (repS.size < Reps && (repS.isEmpty || affords(repS.max))) {
      val rep = repS.size + 1
      val traceRep = trace && rep != Reps
      tracer.attach(traceRep)
      clearCaches()
      val (warm, s) = secs(tracer.span(s"setup $rep")(w.setup(rep)))
      repS += s
      warmS += warm
      if (traceRep) tracer.quiesce()
    }
    val (cg1n, cg1ms) = tracer.codegen
    val (h0, m0) = Staged.diskCacheStats

    // Timed region: closed loop of units (an op, or a pass of the mix).
    // Traced runs alternate traced and untraced units.
    tracer.attach(false)
    if (trace) tracer.quiesce()
    tracer.resetTotals()
    var unit = 0
    var lastS = 0.0
    var tracedWall = 0.0
    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    def more = unit < 1 || (trace && unit < 2) ||
      (elapsed < seconds && sinceStartS + 2 * lastS < budgetS)
    while (w.hasMore && more) {
      val traced = trace && unit % 2 == 0
      if (traced) { tracer.attach(true); tracer.collecting = true }
      lastS = secs(tracer.span(s"unit $unit")(w.unit(unit, traced)))._2
      if (traced) {
        tracedWall += lastS
        tracer.quiesce()
        tracer.collecting = false
        tracer.attach(false)
      } else if (trace) Thread.sleep(300)
      unit += 1
    }
    val timedWall = elapsed
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)
    val (cg2n, cg2ms) = tracer.codegen
    val (h1, m1) = Staged.diskCacheStats

    if (trace) {
      val tracedOps = ops.count(_.traced)
      layers ++= tracer.layerTotals(tracedOps)
      layers("exec.overhead_s") = tracer.overheadS(tracedWall, tracedOps)
      layers("setup.session_s") = sessionS
      layers("setup.first_s") = repS.head
      layers("setup.warmup_s") = warmS.sorted.apply(warmS.size / 2)
      layers("codegen.setup_compilations") = (cg1n - cg0n).toDouble
      layers("codegen.setup_compile_s") = (cg1ms - cg0ms) / 1000.0
      val perOp = math.max(ops.size, 1).toDouble
      layers("codegen.compilations") = (cg2n - cg1n) / perOp
      layers("codegen.compile_s") = (cg2ms - cg1ms) / 1000.0 / perOp
      layers("staged.disk_hits") = (h1 - h0) / perOp
      layers("staged.disk_misses") = (m1 - m0) / perOp
      layers("staged.disk_mb") = dirBytes(stageCacheDir) / (1024.0 * 1024.0)
      layers("storage.cached_mb") = cachedMb
      layers("jvm.heap_peak_mb") = tracer.heapPeakMb
      if (repS.size == Reps) layers("trace.overhead.setup_s") = repS(Reps - 2) - repS(Reps - 1)
      tracer.attach(true)
      tracer.span("stage breakdown")(w.stageBreakdown())
      tracer.attach(false)
    }
    w.finish()
    if (trace) Files.write(Paths.get(work, "spans.json"),
      toJson(tracer.spans.synchronized(tracer.spans.toList)).getBytes(UTF_8))
    toJson(Map(
      "workload" -> workload,
      "session_s" -> sessionS,
      "setup_reps_s" -> repS.toList,
      "timed_wall_s" -> timedWall,
      "ops" -> ops.toList,
      "layers" -> layers.toMap,
      "checks" -> checks.toMap,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)))
  }

  private trait Workload {
    /** Untimed input preparation, once per run. */
    def prepare(): Unit = ()
    /** One set-up repetition from cold caches, warm-up included.
      * Returns the seconds of its warm-up part.
      */
    def setup(rep: Int): Double
    def hasMore: Boolean = true
    def unit(i: Int, traced: Boolean): Unit
    def stageBreakdown(): Unit = ()
    def finish(): Unit = ()
  }

  private def record(name: String, family: String, traced: Boolean)(body: => Boolean): Unit = {
    val (ok, s) = secs(try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    })
    ops += Op(name, family, s, traced, ok)
  }

  /** Self time of each Engine stage: every stage is forced with the
    * `noop` sink over the previous stage's persisted output.
    */
  private def breakdown(xml: String): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val docs = engine.ingest(xml).persist()
    layers("pipeline.ingest_s") = secs(tracer.span("ingest")(noop(docs)))._2
    val enriched = engine.enrich(docs).persist()
    layers("pipeline.enrich_s") = secs(tracer.span("enrich")(noop(enriched)))._2
    val (nodes, edges) = engine.graph(docs)
    val (n, e) = (nodes.persist(), edges.persist())
    layers("pipeline.graph_s") = secs(tracer.span("graph") { noop(n); noop(e) })._2
    val out = s"$work/breakdown"
    layers("pipeline.sink_s") = secs(tracer.span("sink") {
      enriched.write.mode("overwrite").json(s"$out/documents")
      Graph.writeGraph(n, e, out)
    })._2
    Seq(docs, enriched, n, e).foreach(_.unpersist(true))
    rmrf(new File(out))
  }

  /** The reference job over one seeded corpus, as a batch and then as a
    * stream. Preparation renders the corpus into files. Each set-up runs
    * `Engine.run` over all of them (the batch backfill) and lands the
    * first [[PerfBench.WarmFiles]] files through `Engine.runIncremental`
    * into a fresh sink and checkpoint. Each timed op lands one more file
    * and runs the AvailableNow query to termination.
    */
  private final class PipelineWorkload extends Workload {
    private val xml = s"$work/xml"
    private val batchOut = s"$work/batch_out"
    private val landing = new File(s"$work/landing")
    private val out = s"$work/inc_out"
    private val ckpt = s"$work/inc_ckpt"
    private var files: Seq[(File, Int)] = Nil
    private var next = 0
    private var landedDocs = 0L
    private var batchesOk = true
    private var counts = (0L, 0L, 0L)
    private val batchS = mutable.ArrayBuffer.empty[Double]
    private val parsesPerDoc = mutable.ArrayBuffer.empty[Double]

    /** Land the next file and run the query to termination. Every batch
      * must commit, and its input rows must be a whole number of passes
      * over the file's documents (each re-execution of the batch parses
      * the file again).
      */
    private def ingestNext(traced: Boolean): Boolean = {
      val (f, n) = files(next)
      next += 1
      Files.copy(f.toPath, landing.toPath.resolve(f.getName))
      landedDocs += n
      val q = engine.runIncremental(landing.getPath, out, ckpt)
      q.awaitTermination()
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      val rows = batches.map(_.numInputRows).sum
      val committed = batches.nonEmpty &&
        batches.forall(p => new File(s"$ckpt/commits/${p.batchId}").exists())
      val ok = q.exception.isEmpty && rows > 0 && rows % n == 0 && committed
      if (!ok) System.err.println(s"[perfbench] ${f.getName}: $rows rows for $n documents, " +
        s"committed=$committed, exception=${q.exception}")
      if (traced) parsesPerDoc += rows.toDouble / n
      batchesOk &&= ok
      ok
    }

    override def prepare(): Unit =
      files = renderCorpus(spark, data, s"$work/xml_raw", xml, a("docs-per-file").toInt, seed)

    def setup(rep: Int): Double = {
      Seq(landing, new File(out), new File(ckpt), new File(batchOut)).foreach(rmrf)
      landing.mkdirs()
      next = 0
      landedDocs = 0
      batchesOk = true
      val (c, s) = secs(tracer.span("engine_run")(engine.run(xml, batchOut)))
      counts = c
      batchS += s
      secs(tracer.span("warmup")((1 to WarmFiles).foreach(_ => ingestNext(traced = false))))._2
    }

    override def hasMore: Boolean = next < files.size

    def unit(i: Int, traced: Boolean): Unit =
      record("file", "stream", traced)(ingestNext(traced))

    /** Stage self times over the whole corpus, then one traced
      * `Engine.run` for its action and XML scan counts.
      */
    override def stageBreakdown(): Unit = {
      breakdown(xml)
      tracer.resetTotals()
      tracer.collecting = true
      tracer.span("engine_run")(engine.run(xml, s"$work/batch_traced"))
      tracer.quiesce()
      tracer.collecting = false
      val t = tracer.layerTotals(1)
      layers("pipeline.actions") = t("plan.actions")
      layers("pipeline.xml_scans") = t("plan.xml_scans")
      layers("pipeline.batch_s") = batchS.sorted.apply(batchS.size / 2)
      layers("stream.xml_parses") =
        if (parsesPerDoc.isEmpty) 0.0 else parsesPerDoc.sum / parsesPerDoc.size
      rmrf(new File(s"$work/batch_traced"))
    }

    override def finish(): Unit = {
      checks("documents_in_corpus") = files.map(_._2).sum
      checks("batch_counts") = Seq(counts._1, counts._2, counts._3)
      checks("sink") = batchOut
      val oracles = SparkEntry.oracleSql
      checks("oracle_nodes") = oracles("pipeline_graph_nodes")
      checks("oracle_edges") = oracles("pipeline_graph_edges")
      checks("documents_landed") = landedDocs
      checks("stream_sink") = out
      checks("all_batches_committed") = batchesOk
    }
  }

  /** A fixed list of inventory queries in a seeded order per pass, each
    * forced with count() like the inventory bench does. Each set-up is
    * one pass from a cold stage cache: it builds the stages and is the
    * warm-up pass. The first one also takes each query's row count as
    * the reference every timed count must equal.
    */
  private final class MixWorkload extends Workload {
    private val names = a("queries").split(",").toSeq
    // A query's family is its name prefix (dedup_, sim_, text_, ...).
    private val families = names.map(n => n -> n.takeWhile(_ != '_')).toMap
    private val queries = SparkEntry.queries
    private val refCounts = mutable.Map.empty[String, Long]
    private val results = s"$work/results"

    def setup(rep: Int): Double = secs(names.foreach { n =>
      tracer.span(n) {
        try {
          val c = queries(n)(spark, data).count()
          if (rep == 1) refCounts(n) = c
        } catch {
          case e: Throwable => System.err.println(s"[perfbench] $n failed in setup: $e")
        }
        ()
      }
    })._2

    def unit(i: Int, traced: Boolean): Unit =
      new Random(seed * 1000 + i).shuffle(names).foreach { n =>
        record(n, families(n), traced) {
          tracer.span(n)(queries(n)(spark, data).count()) == refCounts.getOrElse(n, -1L)
        }
      }

    /** Writes each query's result once, after the timed region, for the
      * oracle comparison in run.py, which also checks its row count
      * against the reference.
      */
    override def finish(): Unit = {
      names.foreach { n =>
        try queries(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$results/$n")
        catch {
          case e: Throwable => System.err.println(s"[perfbench] $n failed writing its result: $e")
        }
      }
      val sql = SparkEntry.oracleSql
      checks("results") = results
      checks("oracles") = names.flatMap(n => sql.get(n).map(n -> _)).toMap
      checks("reference_counts") = refCounts.toMap
      checks("queries") = names
      if (trace) for (f <- Seq("dedup", "sim", "text", "multimodal", "stream")) {
        val ts = ops.filter(_.family == f).map(_.seconds).sorted
        layers(s"queries.${f}_p50_s") = if (ts.isEmpty) 0.0 else ts(ts.size / 2)
      }
    }
  }
}
