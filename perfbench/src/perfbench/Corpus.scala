package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CacheScope, Tables}
import graft.operators.{Bm25, CorpusIndex, Ivf, Pretrain}
import Main.median

/** The write side of `rag_serve`: the serving artifacts of the RAG stack,
  * built cold.
  *
  * Every engine store is keyed by a string that starts with the data dir,
  * and memoized per JVM. A build therefore reads its documents through a
  * fresh copy of the data dir (`corpus-<n>`), so no store or once-per-JVM
  * guard of an earlier build can turn it into a hit.
  */
final class Corpus(a: Main.Args, spark: SparkSession, trace: Trace) {
  private var n = 0

  final case class Artifacts(liveDocs: DataFrame, model: Ivf.IvfModel,
                             emb: DataFrame, chunkModel: Ivf.IvfModel,
                             chunks: DataFrame, postings: DataFrame,
                             liveIds: IndexedSeq[Long])

  /** A private copy of the documents table: a cold key space. */
  def freshDir(): String = {
    val d = new File(a.work, s"corpus-$n")
    n += 1
    d.mkdirs()
    Files.copy(new File(a.data, "documents.parquet").toPath,
      new File(d, "documents.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
    d.getPath
  }

  def probe(dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id") % 100 === 0)

  /** Pretrain.buildState → CorpusIndex.build → materializedChunks →
    * buildChunkIndexFrom → Bm25.materializedPostings, every store cold. */
  def build(dir: String): Artifacts = {
    val scope = CacheScope.global
    val docs0 = Tables.documentsWithClones(spark, dir)
    val pr = probe(dir)
    val st = trace.span("pretrain.build_state") {
      Pretrain.buildState(dir + "#pretrain", docs0, pr, scope)
    }
    val b = trace.span("corpusindex.build") {
      CorpusIndex.build(docs0, pr, dir + "#pretrain", dir + "#docidx", scope = scope)
    }
    // the live corpus, written once as the client's own table so requests
    // read it instead of re-deriving gated ∖ doomed each time
    val livePath = dir + "/live_docs"
    st.gated.join(b.doomed.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(livePath)
    val liveDocs = spark.read.parquet(livePath)
    val chunks = trace.span("corpusindex.chunks") {
      CorpusIndex.materializedChunks(dir + "#chunkstore", liveDocs)
    }
    val chunkModel = trace.span("ivf.chunk_index") {
      CorpusIndex.buildChunkIndexFrom(dir + "#chunkidx", chunks)._1
    }
    val postings = trace.span("bm25.postings") {
      Bm25.materializedPostings(dir + "#postings", liveDocs)
    }
    CacheScope.global.release()
    val ids = liveDocs.select("doc_id").collect().map(_.getLong(0)).sorted.toIndexedSeq
    Artifacts(liveDocs, b.model, b.emb, chunkModel, chunks, postings, ids)
  }
}

/** Per-layer metrics from named spans: median seconds and jobs per call. */
object Layers {
  def spans(rep: Main.Report, agg: Map[String, Trace#Agg],
            names: Seq[(String, String)]): Unit =
    names.foreach { case (span, metric) =>
      val g = agg.get(span)
      rep.put(metric + "_s", g.map(x => median(x.wallS)).getOrElse(0.0), "s")
      rep.put(metric + "_jobs", g.map(x => median(x.jobs.map(_.toDouble))).getOrElse(0.0), "count")
    }
}
