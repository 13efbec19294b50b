package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.CacheScope
import graft.operators.{Bm25, Similarity}
import Main.{median, secs}

/** `rag_serve`: the read side, closed loop with one client.
  *
  * Set-up builds the serving artifacts cold (Corpus.build). The request
  * sequence is then drawn from the seed over live doc ids, cycling through
  * the five serving forms, and the set engine (`*All`) answers every drawn
  * id of a form in one plan — the expected answers, computed before the
  * clock starts. The timed phase serves whole cycles of that sequence, as many
  * as fit into --seconds and at least one; a request collects its answer and releases the thread's CacheScope.
  *
  * No request is served before the clock: the first cycle is each form's
  * first call over warm stores, as a freshly started server sees it. One
  * warm-up request per form was tried and made runs less steady (spread
  * of requests/s across seeds 0.18 against 0.02), because the timed calls
  * then land while the JIT is still compiling the serving path.
  */
final class Serve(a: Main.Args, spark: SparkSession, trace: Trace) extends Workload {
  import spark.implicits._
  private val corpus = new Corpus(a, spark, trace)
  private var art: corpus.Artifacts = _
  private val kinds = Seq("rag_hybrid", "topk_text", "rm3", "maxsim", "rag_mmr")
  private val maxCycles = 8
  private val k = 10
  private var plan: IndexedSeq[(String, Long)] = IndexedSeq.empty
  private var expect: Map[String, Map[Long, Seq[String]]] = Map.empty
  private var texts: Map[Long, String] = Map.empty
  private val served = mutable.ArrayBuffer.empty[(String, Long, Double, Seq[String])]
  private var p50Ms = 0.0

  override def ops: Long = served.size.toLong

  override def setup(r: Int): Unit = {
    art = trace.span("build") { corpus.build(corpus.freshDir()) }
    texts = art.liveDocs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  private def post = Some(art.postings)

  /** One request: the answer rows, each rendered as a string. */
  private def request(kind: String, id: Long): Seq[String] = {
    val df: DataFrame = kind match {
      case "rag_hybrid" => Bm25.ragContextHybrid(art.liveDocs, art.model, art.emb,
        art.chunkModel, art.chunks, id, coarseK = 20, poolK = 20, tokenBudget = 600L,
        postings = post)
      case "topk_text" =>
        // the doc's own text as the query; the doc itself is dropped from
        // the answer, which then must equal topKAll's self-excluding rank
        Bm25.topKText(art.liveDocs, texts(id), k + 1, postings = post)
      case "rm3" => Bm25.topKRm3(art.liveDocs, id, k, postings = post)
      case "maxsim" => Bm25.maxSimRerank(art.liveDocs, id, k, postings = post)
      case "rag_mmr" => Similarity.ragContextMmr(art.model, art.emb, art.chunkModel,
        art.chunks, id, coarseK = 20, poolK = 20, selectK = 8, tokenBudget = 600L)
    }
    val rows = df.collect().toSeq
    trace.span("cachescope.release") { CacheScope.global.release() }
    if (kind == "topk_text")
      rows.filter(_.getAs[Long]("doc_id") != id).take(k).zipWithIndex.map { case (r, i) =>
        s"${r.getAs[Long]("doc_id")}|${i + 1}|${r.getAs[Long]("score_q")}"
      }.sorted
    else render(rows)
  }

  /** Rows as strings of their name-sorted columns, `query_id` left out. */
  private def render(rows: Seq[Row]): Seq[String] = rows.map { r =>
    r.schema.fieldNames.filter(_ != "query_id").sorted
      .map(f => String.valueOf(r.get(r.fieldIndex(f)))).mkString("|")
  }.sorted

  /** Draws the request sequence and computes the set-engine answers. */
  override def prepareCheck(): Unit = {
    val rng = new scala.util.Random(a.seed)
    plan = (0 until maxCycles).flatMap(_ =>
      kinds.map(kind => kind -> art.liveIds(rng.nextInt(art.liveIds.size))))
    def ids(kind: String) = plan.filter(_._1 == kind).map(_._2).distinct.toDF("query_id")
    def byQuery(df: DataFrame): Map[Long, Seq[String]] =
      df.collect().toSeq.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) => q -> render(rs) }
    // five independent plans, off the clock: run them side by side, each
    // thread releasing its own CacheScope
    val plans: Seq[(String, () => DataFrame)] = Seq(
      "rag_hybrid" -> (() => Bm25.ragContextHybridAll(art.liveDocs, art.model, art.emb,
        art.chunkModel, art.chunks, ids("rag_hybrid"), coarseK = 20, poolK = 20,
        tokenBudget = 600L, postings = post)),
      "topk_text" -> (() => Bm25.topKAll(art.liveDocs, ids("topk_text"), k, postings = post)),
      "rm3" -> (() => Bm25.topKRm3All(art.liveDocs, ids("rm3"), k, postings = post)),
      "maxsim" -> (() => Bm25.maxSimRerankAll(art.liveDocs, ids("maxsim"), k,
        postings = post)),
      "rag_mmr" -> (() => Similarity.ragContextMmrAll(art.model, art.emb, art.chunkModel,
        art.chunks, ids("rag_mmr"), coarseK = 20, poolK = 20, selectK = 8,
        tokenBudget = 600L)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(plans.size)
    try {
      val futures = plans.map { case (kind, plan) =>
        kind -> pool.submit(() => try byQuery(plan()) finally CacheScope.global.release())
      }
      expect = futures.map { case (kind, f) => kind -> f.get() }.toMap
    } finally pool.shutdown()
  }

  override def measure(rep: Main.Report): Unit = {
    val t0 = System.nanoTime()
    // whole cycles, the first always, then each next one only while it
    // fits into --seconds at the pace of the last
    var cycleS = 0.0
    plan.grouped(kinds.size).takeWhile(_ => served.isEmpty || secs(t0) + cycleS <= a.seconds)
      .foreach { cycle =>
        val c0 = System.nanoTime()
        cycle.foreach { case (kind, id) =>
          val t = System.nanoTime()
          val ans = trace.span(kind, served.size.toLong) { request(kind, id) }
          served += ((kind, id, secs(t), ans))
          System.err.println(f"perfbench: request $kind $id ${secs(t) * 1000}%.1f ms")
        }
        cycleS = secs(c0)
      }
    val wall = secs(t0)
    rep.attempted = served.size.toLong
    p50Ms = median(served.map(_._3 * 1000).toSeq)
    rep.put("latency_p50_ms", p50Ms, "ms")
    rep.put("ops_per_s", served.size / wall, "1/s")
  }

  /** Every answer equals the set engine's for its id, and no store is
    * built while serving. */
  override def check(rep: Main.Report, timed: Phase): Unit = {
    served.foreach { case (kind, id, _, ans) =>
      if (ans != expect(kind).getOrElse(id, Nil)) {
        rep.failed += 1
        rep.fail(s"$kind($id): single form ${ans.take(2)} vs set engine " +
          s"${expect(kind).getOrElse(id, Nil).take(2)}")
      }
    }
    if (timed.dirs > 0) rep.fail(s"${timed.dirs} store dirs created while serving")
  }

  override def layers(rep: Main.Report, ph: Phases): Unit = {
    val built = trace.report(ph.setup.span)
    rep.put("build_s", built.get("build").map(x => median(x.wallS)).getOrElse(0.0), "s")
    Layers.spans(rep, built, Seq("pretrain.build_state", "corpusindex.build",
      "corpusindex.chunks", "ivf.chunk_index", "bm25.postings").map(n => n -> n))
    rep.put("stores.build_dirs_created", ph.setup.dirs.toDouble, "count")
    rep.put("stores.build_mb_written", ph.setup.mb, "MB")
    val timed = trace.report(ph.timed.span)
    Layers.spans(rep, timed, Seq("rag_hybrid" -> "bm25.rag_hybrid",
      "topk_text" -> "bm25.topk_text", "rm3" -> "bm25.rm3", "maxsim" -> "bm25.maxsim",
      "rag_mmr" -> "similarity.rag_mmr"))
    rep.put("cachescope.release_s",
      timed.get("cachescope.release").map(x => median(x.wallS)).getOrElse(0.0), "s")
    rep.put("stores.serve_dirs_created", ph.timed.dirs.toDouble, "count")
    rep.put("latency_max_ms", served.map(_._3 * 1000).max, "ms")
    rep.put("trace.latency_p50_ms", p50Ms, "ms")
  }
}
