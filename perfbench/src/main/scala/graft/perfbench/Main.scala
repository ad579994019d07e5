package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark JVM. `perfbench/run.py` builds and launches it; it runs one
  * workload and writes every measurement, output checksum and span to the
  * JSON file named by `--out`. run.py checks outputs against the goldens
  * and prints the result line.
  *
  * {{{
  *   --workload crawl|store_queries|setup  --seed N
  *   --trace 0|1  --scratch DIR  --out FILE  [--data DIR]
  *   [--uninterrupted]      crawl without the restart (golden recording)
  *   [--inject-failure]     add a query that throws (self-test)
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, trace: Boolean,
      scratch: String, out: String, data: String, uninterrupted: Boolean, injectFailure: Boolean)

  def parseArgs(argv: Array[String]): Args = {
    val flags = Set("--uninterrupted", "--inject-failure")
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      if (flags(argv(i))) { kv(argv(i)) = "1"; i += 1 }
      else {
        require(i + 1 < argv.length, s"missing value for ${argv(i)}")
        kv(argv(i)) = argv(i + 1); i += 2
      }
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong,
      need("--trace") == "1", need("--scratch"), need("--out"), kv.getOrElse("--data", ""),
      kv.contains("--uninterrupted"), kv.contains("--inject-failure"))
  }

  /** Shared state of one benchmark process. */
  final class Ctx(val args: Args, val tracer: Tracer) {
    val threads: Int = Runtime.getRuntime.availableProcessors()
    val out = mutable.LinkedHashMap.empty[String, Any]
    val listener = new StageListener
    var spark: SparkSession = _

    /** Run `body` with the stage listener attached, tracing on, and the
      * codegen compile-time counter sampled around it. */
    def traced[T](body: => T): (T, Double) = {
      listener.clear()
      spark.sparkContext.addSparkListener(listener)
      val cg0 = CodeGenerator.compileTime
      try (body, (CodeGenerator.compileTime - cg0) / 1e6)
      finally {
        StageListener.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def newSession(threads: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.locality.wait", "0")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set-up = build a session and run one small shuffle on it. The JVM's
    * start and the moment the session is ready are recorded as epoch
    * milliseconds; run.py measures `setup_s` from its launch of the JVM to
    * `setup_ready_ms`. */
  private def setup(ctx: Ctx): Unit = {
    ctx.spark = newSession(ctx.threads, s"${ctx.args.scratch}/spark-local")
    ctx.spark.range(0, 200000, 1, ctx.threads)
      .groupBy((org.apache.spark.sql.functions.col("id") % 97).as("k")).count().collect()
    ctx.out("setup_ready_ms") = System.currentTimeMillis()
    ctx.out("jvm_start_ms") = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    ctx.out("spark_version") = ctx.spark.version
    ctx.out("jdk_version") = System.getProperty("java.runtime.version")
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val tracer = new Tracer(s"${args.workload}-${args.seed}-${ProcessHandle.current().pid()}",
      args.trace)
    val ctx = new Ctx(args, tracer)
    ctx.out("workload") = args.workload
    ctx.out("seed") = args.seed
    ctx.out("threads") = ctx.threads
    ctx.out("trace") = args.trace
    var code = 0
    try {
      tracer.span("workload") {
        tracer.span("setup")(setup(ctx))
        args.workload match {
          case "crawl" => CrawlWorkload.run(ctx)
          case "store_queries" => QueryWorkload.run(ctx)
          case "setup" => () // set-up only: run.py records the class-data archive with it
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        tracer.span("teardown")(ctx.spark.stop())
      }
    } catch {
      case e: Throwable =>
        code = 1
        ctx.out("error") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      ctx.out("peak_rss_mb") = peakRssMb()
      if (args.trace) writeSpans(ctx)
      val w = new java.io.PrintWriter(args.out, "UTF-8")
      try w.println(Json.render(ctx.out)) finally w.close()
    }
    sys.exit(code)
  }

  /** CPU time this JVM has used so far, all threads, in seconds. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** `VmHWM` of this JVM, in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Spans with self time, plus the share of the workload span that its
    * children cover. */
  private def writeSpans(ctx: Ctx): Unit = {
    val t = ctx.tracer
    ctx.out("run_id") = t.runId
    t.spans.find(_.name == "workload").foreach { root =>
      ctx.out("span_coverage") = t.covered(root, t.children(root.id)).toDouble / (root.end - root.start)
    }
    ctx.out("spans") = t.spans.sortBy(_.start).map { s =>
      mutable.LinkedHashMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> t.selfTime(s))
    }
  }
}
