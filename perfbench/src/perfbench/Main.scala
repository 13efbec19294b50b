package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** One benchmark run inside one JVM: set up, measure, check.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR --out FILE --cpus N
  *
  * `--data` holds the seeded tables (perfbench/gen.py); `--work` is this
  * run's scratch root, also the JVM's `java.io.tmpdir`, so every store the
  * engine writes lands under it. The run writes its raw figures to `--out`
  * as JSON; run.py adds the DuckDB checks and prints the result line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        out: String, cpus: Int)

  /** Collected figures of a run: metrics by name with unit, op counts,
    * check failures (one line each), the registered queries whose results
    * run.py compares with their DuckDB twins, and the host record. */
  final class Report {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val oracle = mutable.ArrayBuffer.empty[String]
    val host = mutable.LinkedHashMap.empty[String, String]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def fail(msg: String): Unit = failures += msg
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Progress line in the run log: phase name and seconds since start. */
  def phase(name: String, t0: Long): Unit =
    System.err.println(f"perfbench: $name done at ${secs(t0)}%.2f s")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("work"), m("out"),
      m.getOrElse("cpus", "4").toInt)
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work + "/spark-local")
      .config("spark.sql.warehouse.dir", a.work + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Every directory under `root`, and the bytes of every file there. */
  def walk(root: File): (Set[String], Long) = {
    val dirs = mutable.Set.empty[String]
    var bytes = 0L
    def go(f: File): Unit =
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach { c =>
        if (c.isDirectory) { dirs += c.getPath; go(c) } else bytes += c.length()
      }
    go(root)
    (dirs.toSet, bytes)
  }

  /** Order-independent content digest of a frame: row count and the sum
    * of per-row xxhash64 over the name-sorted columns cast to string. */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted
    val row = concat_ws("\u0001",
      cols.toIndexedSeq.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val r = df.select(xxhash64(row).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  def load1(): (Double, Double) = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    (os.getSystemLoadAverage, Runtime.getRuntime.availableProcessors.toDouble)
  }

  /** Heap in use after full collections. Spark drops broadcast and
    * shuffle blocks from its cleaner thread once their owners are
    * collected, so the heap is read after three collect-then-wait rounds. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rep = new Report
    val (loadBefore, nproc) = load1()
    rep.host("nproc") = nproc.toInt.toString
    rep.host("local_n") = a.cpus.toString
    rep.host("load_before") = f"$loadBefore%.2f"
    rep.host("max_heap_mb") = (Runtime.getRuntime.maxMemory() / 1048576).toString
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = secs(t0)
    val trace = new Trace(spark)
    trace.enabled = a.trace
    if (a.trace) trace.register()
    val w: Workload = a.workload match {
      case "sales_ingest" => new Ingest(a, spark, trace)
      case "rag_serve" => new Serve(a, spark, trace)
      case other => sys.error(s"unknown workload $other")
    }
    phase("session", t0)
    val tmp = new File(a.work, "tmp")
    // a phase as a span, with the store dirs and bytes it left under tmp
    def inPhase(name: String)(body: => Unit): Phase = {
      val (d0, b0) = walk(tmp)
      val s = trace.open(name)
      try body finally trace.close(s)
      val (d1, b1) = walk(tmp)
      Phase(s.id, (d1 -- d0).size, (b1 - b0) / 1e6, (s.end - s.start) / 1000.0)
    }
    // set-up may run several times; the median repetition is reported, on
    // top of the one session start the JVM pays
    val setups = (0 until w.setupReps).map(r => inPhase("setup")(w.setup(r)))
    rep.put("setup_s", sessionS + median(setups.map(_.wallS)), "s")
    phase("setup", t0)
    w.prepareCheck()
    phase("prepare check", t0)
    val timed = inPhase("workload") {
      trace.rootSpan = trace.currentId
      trace.selfNs.set(0L)
      w.measure(rep)
    }
    val selfMs = trace.selfNs.get() / 1e6
    phase("measure", t0)
    rep.put("retained_heap_mb", retainedHeapMb(), "MB")
    val checked = inPhase("check")(w.check(rep, timed))
    phase("check", t0)
    if (a.trace) {
      w.layers(rep, Phases(setups.last, timed, checked))
      sparkLayer(rep, trace.report(timed.span)("workload"), w.ops)
      rep.put("trace.self_ms_per_op", selfMs / math.max(1L, w.ops), "ms")
      Files.write(Paths.get(a.work, "spans.jsonl"), trace.spanRecords.asJava)
      trace.unregister()
    }
    val (loadAfter, _) = load1()
    rep.host("load_after") = f"$loadAfter%.2f"
    write(a, rep)
    spark.stop()
  }

  /** `spark.*` counters of the timed phase, per op. */
  def sparkLayer(rep: Report, agg: Trace#Agg, ops: Long): Unit = {
    val n = math.max(1L, ops).toDouble
    rep.put("spark.jobs", agg.jobs.sum / n, "count")
    rep.put("spark.stages", agg.stages / n, "count")
    rep.put("spark.tasks", agg.tasks / n, "count")
    rep.put("spark.task_cpu_s", agg.cpuS / n, "s")
    rep.put("spark.gc_s", agg.gcS / n, "s")
    rep.put("spark.shuffle_write_mb", agg.shuffleMb / n, "MB")
    rep.put("spark.spill_mb", agg.spillMb / n, "MB")
    rep.put("spark.driver_s", agg.driverS / n, "s")
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(a: Args, rep: Report): Unit = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val metrics = rep.metrics.map { case (k, (v, u)) =>
      s"${jstr(k)}: {${jstr("value")}: ${num(v)}, ${jstr("unit")}: ${jstr(u)}}"
    }.mkString("{", ", ", "}")
    val host = rep.host.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ", ", "}")
    val json =
      s"""{"attempted": ${rep.attempted}, "failed": ${rep.failed},
         | "failures": ${rep.failures.map(jstr).mkString("[", ", ", "]")},
         | "oracle": ${rep.oracle.map(jstr).mkString("[", ", ", "]")},
         | "host": $host,
         | "metrics": $metrics}""".stripMargin
    Files.writeString(Paths.get(a.out), json)
  }

  /** Writes registered query `q` over the run's data, and its DuckDB twin,
    * under `oracle/` for run.py; returns the result's path. */
  def dumpQuery(spark: SparkSession, a: Args, rep: Report, q: String): String = {
    val out = new File(a.work, "oracle")
    val path = new File(out, q).getPath
    SparkEntry.queries(q)(spark, a.data).coalesce(1).write.mode("overwrite").parquet(path)
    Files.writeString(Paths.get(out.getPath, q + ".sql"), SparkEntry.oracleSql(q))
    rep.oracle += q
    path
  }
}

/** One phase of a run: its span, the store dirs and megabytes it left
  * under the run's tmp root, and its wall time. */
final case class Phase(span: Long, dirs: Int, mb: Double, wallS: Double)

/** The last set-up, the timed phase and the check phase of a run. */
final case class Phases(setup: Phase, timed: Phase, check: Phase)

/** A workload: set-up (repeatable), the timed phase, the per-layer view of
  * a traced run, and the output checks. */
trait Workload {
  def setupReps: Int = 1
  def setup(rep: Int): Unit
  /** Untimed work the output checks need before the timed phase. */
  def prepareCheck(): Unit = ()
  def measure(rep: Main.Report): Unit
  /** Ops completed in the timed phase (the per-op divisor). */
  def ops: Long
  def layers(rep: Main.Report, ph: Phases): Unit
  def check(rep: Main.Report, timed: Phase): Unit
}
