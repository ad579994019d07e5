package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `store_queries`: every non-crawl `SparkEntry.queries` entry (the set
  * `graft.Bench` times), each fully evaluated by an order-independent
  * checksum aggregation, in an order drawn from the seed. The pass ends
  * with `SparkEntry.cleanupTempDirs()`, which removes the ANN indexes and
  * mini-crawls the queries memoized. */
object QueryWorkload {
  import Main.{Ctx, median}

  /** Queries that run the crawler; the crawl workloads measure it. */
  val CrawlQueries = Set("q_crawl_e2e", "q_store_archetypes", "q_crawl_progress",
    "q_queue_histogram", "q_media_edges", "q_graph_map", "q_speed_histogram")

  val Dedup = Set("q_simhash_pairs", "q_simhash_pairs_synth", "q_minhash_pairs",
    "q_minhash_pairs_synth", "q_ngram_jaccard", "q_exact_dedup", "q_embedding_neardup",
    "q_embedding_neardup_exact", "q_fingerprint", "q_fingerprint_synth")
  val CrawlKernels = Set("q_burl_normalize", "q_url_hash", "q_robots_check", "q_dup_segments",
    "q_filter_dsl", "q_sieve_first_seen", "q_politeness_rank", "q_host_budget",
    "q_span_digest", "q_parse_spans", "q_charset")

  def group(q: String): String =
    if (Dedup(q)) "dedup"
    else if (q.startsWith("q_ann_")) "ann"
    else if (CrawlKernels(q)) "crawl_kernels"
    else "store_scan"

  val Groups = Seq("dedup", "ann", "crawl_kernels", "store_scan")

  type Query = (SparkSession, String) => DataFrame

  def queries(injectFailure: Boolean): Seq[(String, Query)] = {
    val qs = SparkEntry.queries.toSeq.filterNot(q => CrawlQueries(q._1)).sortBy(_._1)
    if (!injectFailure) qs
    else qs :+ ("q_forced_failure" -> ((_: SparkSession, _: String) =>
      throw new IllegalStateException("forced failure")))
  }

  /** Order-independent content checksum: sum of per-row xxhash64 over all
    * columns, with the row count. */
  def checksum(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
      .cast("decimal(38,0)").as("h")).agg(count(lit(1)), sum("h")).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  /** One query evaluation: wall time and output, or the error it threw. */
  final case class Eval(name: String, wall: Double, rows: Long, checksum: String, error: String)

  def run(ctx: Ctx): Unit = {
    val a = ctx.args
    val t = ctx.tracer
    val spark = ctx.spark
    val order = new scala.util.Random(a.seed).shuffle(queries(a.injectFailure))

    // The evaluation that is timed is the checksum aggregation itself, so
    // every timed evaluation is also checked, with no second evaluation.
    def pass(): Seq[Eval] = order.map { case (name, fn) =>
      t.span(s"query.$name") {
        val t0 = System.nanoTime()
        try {
          val (rows, chk) = checksum(fn(spark, a.data))
          Eval(name, (System.nanoTime() - t0) / 1e9, rows, chk, null)
        } catch {
          case e: Throwable => Eval(name, (System.nanoTime() - t0) / 1e9, -1, null,
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }

    // One pass per process, the first of its JVM, as the driver's single
    // pass of `graft.Bench` runs.
    val c0 = Main.processCpuS()
    var layers: Map[String, Double] = Map.empty
    val evals =
      if (!a.trace) pass()
      else {
        var passSpan: Span = null
        val (r, codegenMs) = ctx.traced {
          val r = t.span("pass")(pass())
          passSpan = t.spans.last
          r
        }
        layers = SparkLayers.of(ctx, passSpan, "query.", codegenMs) ++ groupLayers(ctx, passSpan)
        r
      }
    val cpuS = Main.processCpuS() - c0
    t.span("cleanup")(SparkEntry.cleanupTempDirs())

    ctx.out("pass") = mutable.LinkedHashMap(
      "order" -> evals.map(_.name),
      "walls_s" -> mutable.LinkedHashMap(evals.map(e => e.name -> e.wall): _*),
      "outputs" -> mutable.LinkedHashMap(evals.filter(_.error == null)
        .map(e => e.name -> mutable.LinkedHashMap("rows" -> e.rows, "checksum" -> e.checksum)): _*),
      "errors" -> mutable.LinkedHashMap(evals.filter(_.error != null).map(e => e.name -> e.error): _*))

    val ok = evals.filter(_.error == null)
    val walls = ok.map(_.wall)
    val m = mutable.LinkedHashMap.empty[String, Any]
    def metric(name: String, unit: String, v: Double, samples: Int) =
      m(name) = mutable.LinkedHashMap("value" -> v, "unit" -> unit, "samples" -> samples)
    metric("job_s", "s", walls.sum, 1)
    metric("job_cpu_s", "s", cpuS, 1)
    // queries per second at the geometric-mean query time (the TPC-H power
    // metric's summary): every query weighs the same, however long it runs,
    // unlike job_s, which the few slowest queries dominate
    metric("throughput_per_s", "1/s", 1.0 / math.exp(walls.map(math.log).sum / walls.size),
      walls.size)
    metric("step_s_p50", "s", median(walls), walls.size)
    metric("step_s_max", "s", walls.max, walls.size)
    Groups.foreach { g =>
      val ws = ok.filter(e => group(e.name) == g).map(_.wall)
      metric(s"${g}_s", "s", ws.sum, ws.size)
    }
    ctx.out("metrics") = m

    if (a.trace) {
      val l = mutable.LinkedHashMap.empty[String, Double]
      l ++= layers
      ok.foreach(e => l(s"query.${e.name}_s") = e.wall)
      val urls = t.span("kernel.inputs") {
        spark.read.parquet(s"${a.data}/events.parquet")
          .select(concat(lit("http://h"), (col("user_id") % 40).cast("string"),
            lit(".example/p"), (col("event_id") % 500).cast("string")).as("url"))
          .distinct().orderBy("url").limit(Kernels.MaxPages).collect().map(_.getString(0))
      }
      l ++= t.span("kernels")(Kernels.run(ctx, Kernels.fromStore(ctx, urls, a.seed)))
      ctx.out("layers") = l
    }
  }

  /** Shuffle, spill and executor CPU of the stages submitted inside each
    * group's query spans. */
  private def groupLayers(ctx: Ctx, passSpan: Span): Map[String, Double] = {
    val t = ctx.tracer
    val stages = ctx.listener.synchronized(ctx.listener.stages.toSeq)
    val qSpans = t.spans.filter(s => s.name.startsWith("query.") && s.start >= passSpan.start &&
      s.end <= passSpan.end).toSeq
    Groups.flatMap { g =>
      val spans = qSpans.filter(s => group(s.name.stripPrefix("query.")) == g)
      val st = stages.filter(x => spans.exists(s => s.start <= x.submitted * 1000000L &&
        x.submitted * 1000000L <= s.end))
      Seq(s"analytics.$g.shuffle_bytes" -> st.map(x => x.shuffleWrite + x.shuffleRead).sum.toDouble,
        s"analytics.$g.spill_bytes" -> st.map(_.spill).sum.toDouble,
        s"analytics.$g.exec_cpu_s" -> st.map(_.cpuNs).sum / 1e9)
    }.toMap
  }
}
