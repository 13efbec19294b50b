package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.Partitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import graft.Tables
import graft.operators.SalesClean
import graft.sources.SalesFixture
import graft.streaming.Streams
import Main.{median, secs}

/** `sales_ingest`: the reference's own path, open loop.
  *
  * Dirty sales CSVs (SalesFixture.dirty over the seeded `lineitem`) are cut
  * into files whose sizes and land order the seed mixes, then land one by
  * one on a fixed schedule in a watched directory while
  * readSalesCsvStream → cleanStream → salesSink consumes them. The op is
  * one file, timed from its scheduled land time to the commit of the
  * micro-batch that read it.
  */
final class Ingest(a: Main.Args, spark: SparkSession, trace: Trace) extends Workload {
  private val periodMs = 1000L
  private val nFiles = math.max(3, (a.seconds * 1000 / periodMs).toInt)
  private val warmFiles = 2
  private val root = new File(a.work, "ingest")
  private val stage = new File(root, "stage")
  private val rng = new scala.util.Random(a.seed)

  private var landNames: IndexedSeq[String] = IndexedSeq.empty
  private val sched = mutable.Map.empty[String, Long]
  private val landed = mutable.Map.empty[String, Long]
  private var committed = Map.empty[String, Long]
  private var progress: Seq[StreamingQueryProgress] = Nil
  private var inputBytes = 0L
  private var runDir: File = _

  override def ops: Long = nFiles.toLong
  override def setupReps: Int = 3

  /** Cuts the dirty rows of `lineitem` into `n` files with seed-drawn
    * sizes, written by Spark's CSV writer (one partition per file). */
  private def writeFiles(lineitem: DataFrame, dir: File, n: Int, prefix: String): IndexedSeq[File] = {
    val dirty = SalesFixture.dirty(lineitem)
    val total = dirty.count()
    // every seed cuts the same ladder of relative sizes, in its own order,
    // so seeds differ in rows and land order but not in how much work the
    // median file is
    val weights = rng.shuffle((0 until n).map(i => 0.3 + 1.4 * i / math.max(1, n - 1))).toArray
    val cuts = weights.scanLeft(0.0)(_ + _).map(c => (c / weights.sum * total).toLong)
    val cutsB = spark.sparkContext.broadcast(cuts)
    val ranked = dirty.withColumn("rk",
      (row_number().over(org.apache.spark.sql.expressions.Window.orderBy("sales_id")) - 1)
        .cast("long"))
    val rows = ranked.drop("sales_id").rdd.keyBy { r =>
      val rk = r.getLong(r.fieldIndex("rk"))
      val c = cutsB.value
      math.max(0, java.util.Arrays.binarySearch(c, rk) match {
        case i if i >= 0 => math.min(i, n - 1)
        case i => -i - 2
      })
    }.partitionBy(new Partitioner {
      def numPartitions: Int = n
      def getPartition(k: Any): Int = k.asInstanceOf[Int]
    }).values
    val schema = ranked.drop("sales_id").schema
    val tmp = new File(dir, prefix + "-w")
    spark.createDataFrame(rows, schema).drop("rk")
      .write.option("header", "true").csv(tmp.getPath)
    val parts = tmp.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.toIndexedSeq.zipWithIndex.map { case (p, i) =>
      val f = new File(dir, f"$prefix-$i%03d.csv")
      Files.move(p.toPath, f.toPath)
      f
    }
  }

  /** Inputs are cut once; each repetition then streams the two warm-up
    * files through a fresh query, paying planning, codegen and file-sink
    * set-up before the clock starts. */
  override def setup(r: Int): Unit = {
    val warmStage = new File(root, "warm")
    if (r == 0) {
      val lineitem = Tables.lineitem(spark, a.data)
      writeFiles(lineitem.filter(col("l_orderkey") % 20 === 0), warmStage, warmFiles, "warm")
      val files = writeFiles(lineitem, stage, nFiles, "sales")
      // land order mixed by the seed
      landNames = rng.shuffle(files.map(_.getName))
      inputBytes = files.map(_.length()).sum
    }
    val dir = new File(root, s"setup$r")
    val watch = new File(dir, "watch")
    watch.mkdirs()
    warmStage.listFiles().filter(_.getName.endsWith(".csv"))
      .foreach(f => Files.copy(f.toPath, new File(watch, f.getName).toPath))
    val q = Streams.salesSink(Streams.cleanStream(
        Streams.readSalesCsvStream(spark, watch.getPath)),
      new File(dir, "out").getPath, new File(dir, "ckpt").getPath).start()
    q.processAllAvailable()
    q.stop()
  }

  override def measure(rep: Main.Report): Unit = {
    runDir = new File(root, "run")
    val watch = new File(runDir, "watch")
    watch.mkdirs()
    val ckpt = new File(runDir, "ckpt")
    val span = if (trace.enabled) Some(trace.open("streams")) else None
    val bind = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        span.foreach(s => trace.bindGroup(e.runId.toString, s))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(bind)
    val q = trace.span("streams.start") {
      Streams.salesSink(Streams.cleanStream(
          Streams.readSalesCsvStream(spark, watch.getPath)),
        new File(runDir, "out").getPath, ckpt.getPath).start()
    }
    val t0 = System.currentTimeMillis() + 200
    val gen = new Thread(() => {
      landNames.zipWithIndex.foreach { case (name, i) =>
        val at = t0 + i * periodMs
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(new File(stage, name).toPath, new File(watch, name).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        sched(name) = at
        landed(name) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    // every file has landed: wait until the stream has committed them all
    q.processAllAvailable()
    progress = q.recentProgress.toSeq
    q.stop()
    spark.streams.removeListener(bind)
    span.foreach(trace.close)
    committed = commitTimes(ckpt)
    dataBatches.foreach(p => System.err.println(
      s"perfbench: batch ${p.batchId} rows ${p.numInputRows} durations ${p.durationMs}"))
    landNames.foreach(n => System.err.println(
      s"perfbench: file $n sched ${sched(n)} landed ${landed(n)} committed ${committed.get(n)}"))
    rep.attempted = nFiles
    rep.failed += nFiles - latencies.size
    rep.put("latency_p50_ms", median(latencies), "ms")
    val rows = progress.map(_.numInputRows).sum
    val busyS = dataBatches.map(p => dur(p, "triggerExecution")).sum / 1000.0
    rep.put("ops_per_s", if (busyS > 0) rows / busyS else 0.0, "1/s")
  }

  private def dataBatches = progress.filter(_.numInputRows > 0)

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** File → batch id, from the file source's log in the checkpoint. */
  private def committedFiles(ckpt: File): Map[String, Long] = {
    val log = new File(ckpt, "sources/0")
    val pat = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Option(log.listFiles()).getOrElse(Array.empty[File])
      .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
      .flatMap { f =>
        try scala.io.Source.fromFile(f).getLines().toList
        catch { case _: Throwable => Nil }
      }
      .flatMap(l => pat.findFirstMatchIn(l).map(m =>
        new File(new java.net.URI(m.group(1)).getPath).getName -> m.group(2).toLong))
      .toMap
  }

  /** File → commit time (trigger start plus trigger duration of its batch). */
  private def commitTimes(ckpt: File): Map[String, Long] = {
    val end = progress.map(p => p.batchId ->
      (java.time.Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution").toLong)).toMap
    committedFiles(ckpt).flatMap { case (f, b) => end.get(b).map(f -> _) }
  }

  override def layers(rep: Main.Report, ph: Phases): Unit = {
    val b = dataBatches
    def p50(k: String) = median(b.map(dur(_, k)))
    rep.put("streams.batches", b.size.toDouble, "count")
    rep.put("streams.trigger_ms_p50", p50("triggerExecution"), "ms")
    rep.put("streams.latest_offset_ms", p50("latestOffset"), "ms")
    rep.put("streams.query_planning_ms", p50("queryPlanning"), "ms")
    rep.put("streams.wal_commit_ms", p50("walCommit"), "ms")
    rep.put("streams.add_batch_ms", p50("addBatch"), "ms")
    val out = new File(runDir, "out")
    val parts = Option(out.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
    rep.put("sink.files", parts.length.toDouble, "count")
    rep.put("sink.bytes_per_input_byte",
      parts.map(_.length()).sum.toDouble / math.max(1L, inputBytes), "ratio")
    rep.put("salesclean.rows_out", spark.read.parquet(out.getPath).count().toDouble, "count")
    // backlog: files landed but not yet committed, sampled at each land
    val backlog = landNames.map { n =>
      val t = landed(n)
      landNames.count(m => landed(m) <= t && committed.get(m).forall(_ > t))
    }
    rep.put("streams.backlog_files_max", backlog.max.toDouble, "count")
    rep.put("generator.lag_max_s",
      landNames.map(n => landed(n) - sched(n)).max / 1000.0, "s")
    rep.put("latency_max_ms", latencies.max, "ms")
    rep.put("trace.latency_p50_ms", median(latencies), "ms")
    Layers.spans(rep, trace.report(ph.check.span), Seq("query.sales_clean" -> "query.sales_clean"))
  }

  /** Scheduled land → commit, per committed file. */
  private def latencies: Seq[Double] =
    landNames.flatMap(n => committed.get(n).map(c => (c - sched(n)).toDouble))

  /** The sink, minus `processed_at`, must hold exactly the rows the batch
    * pipeline makes of the same landed files: same multiset, so nothing is
    * lost and nothing is committed twice. The landed files cut the whole
    * dirty table, so the registered batch query `sales_clean` over the
    * seeded `lineitem` must hold the same rows too; run.py checks that
    * query against its DuckDB twin. */
  override def check(rep: Main.Report, timed: Phase): Unit = {
    val sink = Main.digest(
      spark.read.parquet(new File(runDir, "out").getPath).drop("processed_at"))
    val batch = Main.digest(SalesClean.cleanDeterministic(
      SalesClean.readCsv(spark, new File(runDir, "watch").getPath)))
    val reg = trace.span("query.sales_clean") {
      Main.dumpQuery(spark, a, rep, "sales_clean")
    }
    val registered = Main.digest(spark.read.parquet(reg).drop("sales_id"))
    for ((what, d) <- Seq("batch clean of the landed files" -> batch,
                          "registered sales_clean" -> registered)
         if d._1 != sink._1 || d._2.compareTo(sink._2) != 0) {
      rep.fail(s"sink holds ${sink._1} rows (digest ${sink._2}), $what ${d._1} (${d._2})")
      rep.failed = rep.attempted
    }
  }
}
