package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Corpus, XmlDocs}
import graft.streaming.StreamRuns

/** The user-facing Engine facade end-to-end on reference-shaped XML:
  * batch run produces documents + graph, re-run is idempotent, and the
  * incremental (streaming) variant, fed one file per run, writes the
  * same documents, nodes and edges while parsing each file once and
  * reusing the generated classes of earlier runs.
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def stageXml(tag: String): String = {
    val docs = Corpus.flatDocs(spark, sf).orderBy("documentID").limit(60)
    val trip = Corpus.indexTriples(spark, sf)
      .join(docs.select("documentID"), Seq("documentID"))
    val dir = StreamRuns.fresh(tag)
    XmlDocs.writeCorpusXml(docs, trip, s"$dir/corpus.xml")
    dir
  }

  test("batch run: documents + partitioned graph, idempotent re-run") {
    val xmlDir = stageXml("engine-batch")
    val out = StreamRuns.fresh("engine-out")
    val engine = new Engine(spark)
    val (d, n, e) = engine.run(s"$xmlDir/*.xml", out)
    assert(d == 60 && n > 0 && e > 0)
    // MERGE idempotency (SURVEY §2.3-7): same input, same graph.
    val (d2, n2, e2) = engine.run(s"$xmlDir/*.xml", out)
    assert((d2, n2, e2) == ((d, n, e)))
    // Partitioned sink layout (O29).
    assert(new java.io.File(s"$out/nodes").listFiles()
      .exists(_.getName.startsWith("label=")))
  }

  /** Sink tables as distinct rows: the stream sink appends a node or
    * edge once per batch that emits it, the batch sink once in all.
    */
  private def sink(out: String, schema: StructType): Seq[DataFrame] = Seq(
    spark.read.schema(schema).json(s"$out/documents"),
    spark.read.parquet(s"$out/nodes"),
    spark.read.parquet(s"$out/edges")).map(_.distinct())

  /** One landed file's stream run: input rows per batch, codegen
    * compilations while it ran, and the RDDs persisted once it ended
    * that were not persisted before it started.
    */
  private case class FileRun(docs: Int, batchRows: Seq[Long],
      compilations: Long, leakedRdds: Set[Int])

  private def persistedRdds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** The 60-doc corpus split into 3 files of 20, each landed and run
    * through `runIncremental` on one checkpoint, then `run` over the
    * same files.
    */
  private lazy val perFile = {
    val corpusDir = new java.io.File(stageXml("engine-files"), "corpus.xml")
    val docRe = "(?s)<document>.*?</document>".r
    val docs = corpusDir.listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
      .flatMap(f => docRe.findAllIn(new String(Files.readAllBytes(f.toPath), UTF_8)))
    assert(docs.length == 60)
    val landing = StreamRuns.fresh("engine-landing")
    val out = StreamRuns.fresh("engine-files-out")
    val engine = new Engine(spark)
    val runs = docs.grouped(20).zipWithIndex.map { case (group, i) =>
      Files.write(Paths.get(landing, s"part-$i.xml"),
        group.mkString("<root>\n", "\n", "\n</root>\n").getBytes(UTF_8))
      val before = persistedRdds
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = engine.runIncremental(landing, out, s"$out/_ckpt")
      q.awaitTermination()
      FileRun(group.length,
        q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled,
        persistedRdds -- before)
    }.toList
    val batchOut = StreamRuns.fresh("engine-files-batch")
    engine.run(s"$landing/*.xml", batchOut)
    (runs, out, batchOut)
  }

  test("per-file incremental sink equals the batch run over the same files") {
    val (runs, out, batchOut) = perFile
    assert(runs.map(_.batchRows.size) == Seq(1, 1, 1))
    val schema = spark.read.json(s"$batchOut/documents").schema
    sink(out, schema).zip(sink(batchOut, schema))
      .zip(Seq("documents", "nodes", "edges")).foreach { case ((streamed, batch), name) =>
        assert(streamed.count() > 0, name)
        assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
          s"$name differ between the stream and the batch sink")
      }
  }

  test("files 2 and 3: one parse, no recompilation, nothing left persisted") {
    val (runs, _, _) = perFile
    runs.zipWithIndex.foreach { case (r, i) =>
      assert(r.leakedRdds.isEmpty, s"file ${i + 1} left RDDs ${r.leakedRdds} persisted")
    }
    runs.zipWithIndex.drop(1).foreach { case (r, i) =>
      // Each batch's input rows count every parse of its file.
      assert(r.batchRows == Seq(r.docs.toLong), s"file ${i + 1}: ${r.batchRows}")
      assert(r.compilations <= 5, s"file ${i + 1} compiled ${r.compilations} classes")
    }
  }
}
