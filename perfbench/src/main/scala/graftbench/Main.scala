package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: one workload in one fresh JVM.
  *
  *   graftbench.Main <workload> <inputs> <work> <slots> <seconds> <trace> <seed> [setup-only]
  *
  * Prints `READY <cpu ns>` once the session is up and the inputs are
  * registered (the end of set-up), then runs a cold pass and warm passes for
  * `seconds`, and writes `<work>/result.json`. Each pass writes its
  * outputs under `<work>/pass_<n>`; the last pass's outputs are kept for
  * the checks. Every call into the program goes through
  * its public API; the benchmark only times and labels those calls.
  */
object Main {

  final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
                  val slots: Int, val seed: Long) {
    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer[String]()
    val facts = scala.collection.mutable.LinkedHashMap[String, Double]()
    def sc = spark.sparkContext

    /** One operation: a call into `layer`, counted and, when tracing, a span. */
    def op[T](layer: String, name: String)(body: Span => T): Option[T] = {
      attempted += 1
      val t0 = System.nanoTime()
      try Some(Trace.span(sc, layer, name)(body))
      catch {
        case e: Throwable =>
          failed += 1
          failures += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          None
      } finally System.err.println(f"perfbench: $layer%s.$name%s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

    /** Full materialization of every output column (no column pruning). */
    def run(s: Span, df: DataFrame): Long = Trace.plan(s, df).queryExecution.toRdd.count()

    /** Writes `df` as parquet, as a pipeline stage would. */
    def write(s: Span, df: DataFrame, path: String): Unit =
      Trace.plan(s, df).write.mode("overwrite").parquet(path)
  }

  trait Workload {
    def setup(c: Ctx): Unit
    def pass(c: Ctx, p: Int): Unit
    /** Bytes the pass left on disk. */
    def outputBytes(c: Ctx, p: Int): Long
    def afterPass(c: Ctx, p: Int): Unit
    /** Traced runs only: direct calls into the layers the pass reaches
      * only through another layer's function. */
    def probes(c: Ctx): Unit
    /** Untimed, after the passes: write what the checks need beside
      * `result.json`. */
    def check(c: Ctx, lastPass: Int): Unit = ()
  }

  /** A JSON string literal. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all threads. Unlike wall time it does not grow
    * when the host takes the CPUs away (steal) or other processes run. */
  def cpuNs(): Long = os.getProcessCpuTime

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val Array(name, inputs, work, slotsS, secondsS, traceS, seedS) = args.take(7)
    val setupOnly = args.length > 7 && args(7) == "setup-only"
    val slots = slotsS.toInt
    val traced = traceS == "1"
    val workload: Workload = name match {
      case "etl_templates" => EtlTemplates
      case "curation_corpus" => CurationCorpus
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Ctx(spark, inputs, work, slots, seedS.toLong)
    val listener = new SpanListener
    var listening = false
    def listen(on: Boolean): Unit = if (on != listening) {
      if (on) spark.sparkContext.addSparkListener(listener)
      else spark.sparkContext.removeSparkListener(listener)
      listening = on
    }
    if (traced) { Trace.enabled = true; listen(true) }
    workload.setup(c)
    println(s"READY ${cpuNs()}")
    System.out.flush()
    if (setupOnly) { spark.stop(); return }

    def settle(): Unit = { spark.catalog.clearCache(); System.gc(); Thread.sleep(50) }
    // Traced runs alternate traced and untraced warm passes, so the cost
    // of tracing is measured in the same JVM. Pass 1 is an untraced
    // warm-up that neither side counts, since it still pays for JIT
    // compilation, and the seed's parity picks which kind runs first.
    val passCpuS = ArrayBuffer[Double]()
    def timedPass(p: Int, withTrace: Boolean): Double = {
      Trace.pass = p
      Trace.enabled = withTrace
      listen(withTrace)
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      workload.pass(c, p)
      val wall = (System.nanoTime() - t0) / 1e9
      passCpuS += (cpuNs() - c0) / 1e9
      if (withTrace) listener.drain(spark.sparkContext)
      wall
    }

    val passS = ArrayBuffer[Double]()
    val passTraced = ArrayBuffer[Boolean]()
    val outBytes = ArrayBuffer[Long]()
    val budgetNs = (secondsS.toDouble * 1e9).toLong
    var p = 0
    var warmStart = 0L
    // pass 0 is the cold pass; warm passes run until `seconds` of them
    // have been measured (at least one, and, when traced, the warm-up and
    // one of each kind)
    val minPasses = if (traced) 4 else 2
    while (p < minPasses || System.nanoTime() - warmStart < budgetNs) {
      if (p > 0) settle()
      if (p == 1) warmStart = System.nanoTime()
      val withTrace = traced && p > 1 && (p + c.seed) % 2 == 0
      passS += timedPass(p, withTrace)
      passTraced += withTrace
      outBytes += workload.outputBytes(c, p)
      workload.afterPass(c, p)
      p += 1
    }
    val lastPass = p - 1
    Trace.pass = -1
    if (traced) {
      Trace.enabled = true
      listen(true)
      settle()
      workload.probes(c)
      listener.drain(spark.sparkContext)
      Trace.enabled = false
    }
    settle()
    workload.check(c, lastPass)
    c.facts("last_pass") = lastPass

    val json = new StringBuilder
    def nums(xs: Iterable[Any]) = xs.mkString("[", ",", "]")
    json ++= s"""{"attempted":${c.attempted},"failed":${c.failed},"""
    json ++= s""""failures":${c.failures.map(q).mkString("[", ",", "]")},"""
    json ++= s""""pass_s":${nums(passS)},"pass_cpu_s":${nums(passCpuS)},"""
    json ++= s""""pass_traced":${nums(passTraced)},"""
    json ++= s""""output_bytes":${nums(outBytes)},"slots":$slots,"""
    json ++= s""""facts":${c.facts.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")},"""
    json ++= s""""spans":["""
    json ++= Trace.spans.map { s =>
      s"""{"id":${s.id},"layer":${q(s.layer)},"name":${q(s.name)},"parent":${s.parent},""" +
        s""""pass":${s.pass},"start_ns":${s.start},"end_ns":${s.end},"self_ns":${Trace.selfNs(s)},""" +
        s""""plan_ns":${s.planNs},"jobs":${s.jobs},"tasks":${s.tasks},"task_ms":${s.taskMs},""" +
        s""""shuffle_bytes":${s.shuffleBytes},"spill_bytes":${s.spillBytes},"gc_ms":${s.gcMs}}"""
    }.mkString(",")
    json ++= s"""],"peak_rss_mb":${peakRssMb()}}"""
    Files.writeString(Paths.get(work, "result.json"), json.toString)
    spark.stop()
  }
}
