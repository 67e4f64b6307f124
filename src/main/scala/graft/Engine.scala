package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{Classify, Graph, NestedEnrich, XmlDocs}

/** User-facing facade: the reference's whole surface
  * (`run_pipeline.py <dir> [files…]`, run_pipeline.py:34-77) as one
  * object. A reference user switches by calling `run` (batch) or
  * `runIncremental` (per-file streaming ≙ the reference's
  * ProcessPoolExecutor fan-out, run_pipeline.py:105-109) — the four
  * subprocess stages and their disk IPC collapse into one plan per
  * batch:
  *
  *   ingest (xml_to_json) -> enrich + URIs (json_classification,
  *   generate_uri) -> graph build + partitioned sink (json_to_db).
  *
  * Both entry points write through one batch writer, [[writeBatch]]:
  * the document model and the classify maps are persisted for the
  * batch and unpersisted when it is written, so each batch's XML is
  * parsed once and each classify map built once across the three
  * sinks. A micro-batch is processed on this Engine's session, not on
  * the stream's: every `StreamingQuery` runs on a cloned session with
  * its own class loader, and Spark keys its generated-class cache by
  * (class loader, code), so a batch planned on the clone recompiled
  * every generated class at each stream start.
  */
final class Engine(
    spark: SparkSession,
    classifier: Classify.Classifier = Classify.RuleClassifier) {

  /** Stage 1 (O1-O8): XML corpus → nested document model (B1). */
  def ingest(path: String): DataFrame =
    XmlDocs.toDocModel(XmlDocs.read(spark, path))

  /** Stages 2-3 (O12-O24): classify, precedence, convert names, URIs. */
  def enrich(docs: DataFrame): DataFrame =
    NestedEnrich.addUris(NestedEnrich.enrich(docs, classifier))

  /** Stage 4 (O25-O29): labeled property graph from the doc model. */
  def graph(docs: DataFrame): (DataFrame, DataFrame) = graphOf(docs, identity)

  /** [[graph]], passing each classify map through `keep` as it is built. */
  private def graphOf(docs: DataFrame, keep: DataFrame => DataFrame)
      : (DataFrame, DataFrame) = {
    val flat = XmlDocs.toFlatDocs(docs)
    val triples = XmlDocs.toTriples(docs)
    val known = keep(Classify.knownEntities(flat))
    val api = keep(Classify.apiMap(Classify.allTerms(triples), known, classifier))
    val labeled = keep(Classify.labelTriples(triples, known, api))
    (Graph.nodes(flat, labeled), Graph.edges(flat, labeled))
  }

  /** Writes one batch of documents — enriched JSON under
    * `outDir/documents`, the partitioned graph under `outDir/nodes` and
    * `outDir/edges` — with save mode `mode`, and returns the enriched
    * documents' schema. The nested model's known entities (every
    * author and recipient) and the flat view's (first author and
    * recipient only) stay separate maps: they label multi-author
    * documents differently.
    */
  private def writeBatch(docs: DataFrame, outDir: String, mode: String): StructType = {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    val keep = (df: DataFrame) => { held += df.persist(); df }
    try {
      val model = keep(docs)
      val known = keep(NestedEnrich.knownEntities(model))
      val api = keep(Classify.apiMap(
        Classify.allTerms(XmlDocs.toTriples(model)), known, classifier))
      val enriched = NestedEnrich.addUris(
        NestedEnrich.enrich(model, classifier, maps = Some((known, api))))
      enriched.write.mode(mode).json(s"$outDir/documents")
      val (nodes, edges) = graphOf(model, keep)
      Graph.writeGraph(nodes, edges, outDir, mode)
      enriched.schema
    } finally held.foreach(_.unpersist(blocking = true))
  }

  /** Full batch pipeline: enriched doc-model JSON + partitioned graph
    * parquet under outDir; returns (docs, nodes, edges) row counts.
    */
  def run(xmlPath: String, outDir: String): (Long, Long, Long) = {
    val schema = writeBatch(ingest(xmlPath), outDir, "overwrite")
    (spark.read.schema(schema).json(s"$outDir/documents").count(),
      spark.read.parquet(s"$outDir/nodes").count(),
      spark.read.parquet(s"$outDir/edges").count())
  }

  /** Incremental variant: each micro-batch of newly arriving XML files
    * goes through the same batch writer as [[run]], on this Engine's
    * session (see the class doc); graph deltas append to the sink
    * (MERGE-keyed dedup happens inside each batch; cross-batch
    * idempotency = downstream dropDuplicates on read, the documented
    * lakehouse-MERGE stand-in — SURVEY §1.3).
    */
  def runIncremental(xmlDir: String, outDir: String, checkpoint: String,
      filesPerTrigger: Int = 1): StreamingQuery =
    spark.readStream
      .format("xml")
      .option("rowTag", "document")
      .option("maxFilesPerTrigger", filesPerTrigger)
      .schema(XmlDocs.xmlSchema)
      .load(xmlDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (raw: DataFrame, _: Long) =>
        val rows = spark.createDataFrame(raw.rdd, raw.schema)
        writeBatch(XmlDocs.toDocModel(rows), outDir, "append")
        ()
      }
      .start()
}

/** CLI mirror of `python3 run_pipeline.py <dir> [files…]`
  * (run_pipeline.py:117-123): `graft.RunPipeline <xmlDirOrFile> <outDir>
  * [--incremental]`. With a directory and no explicit files, globs
  * *.xml (O31, run_pipeline.py:98-102).
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.RunPipeline <xmlDirOrFile> <outDir> [--incremental]")
    val (in, outDir) = (args(0), args(1))
    val spark = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val path =
      if (new java.io.File(in).isDirectory) s"$in/*.xml" else in
    val engine = new Engine(spark)
    if (args.contains("--incremental")) {
      val q = engine.runIncremental(path, outDir, s"$outDir/_checkpoint")
      q.awaitTermination()
    } else {
      val (d, n, e) = engine.run(path, outDir)
      println(s"""{"documents":$d,"nodes":$n,"edges":$e}""")
    }
  }
}
