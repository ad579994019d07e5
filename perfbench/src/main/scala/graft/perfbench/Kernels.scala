package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Burl, MurmurHash3Bubing, Robots}
import graft.frontier.{CrawlConfig, Crawler, Sieve}
import graft.functions.topk_heads
import graft.parse.HtmlParser
import graft.synth.SyntheticWeb

/** Kernel pass of a traced run: each layer's public entry point timed on
  * inputs taken from the workload's own outputs. Driver-side kernels run
  * on one thread; Spark kernels use the whole session. Rates are the
  * median of `Reps` timed passes after one warm-up pass. */
object Kernels {
  import Main.{Ctx, median}

  val Reps = 3
  /** Upper bound on pages fed to the driver-side kernels. */
  val MaxPages = 20000

  final case class Inputs(urls: Array[String], web: SyntheticWeb.Config,
      frontier: DataFrame, seen: DataFrame, probeThreshold: Long)

  /** Trace URLs, frontier and seen store of a finished crawl in `workDir`. */
  def fromCrawl(ctx: Ctx, cfg: CrawlConfig, workDir: String): Inputs = {
    val c = new Crawler(ctx.spark, workDir, cfg)
    val urls = c.trace().where(!col("isRobots")).select("url").limit(MaxPages)
      .collect().map(_.getString(0))
    Inputs(urls, cfg.web, c.frontierState(), c.seenHashes(), cfg.probeThreshold)
  }

  /** URLs of the store's crawl-shaped event stream, with a frontier and a
    * seen store built from them (half of the URLs already seen). */
  def fromStore(ctx: Ctx, urls: Array[String], seed: Long): Inputs = {
    val spark = ctx.spark
    import spark.implicits._
    val rows = urls.zipWithIndex.map { case (u, i) =>
      (u, MurmurHash3Bubing.hashString(u), MurmurHash3Bubing.hashString(Burl.host(u)), i.toLong)
    }
    val frontier = rows.toSeq.toDF("url", "urlHash", "hostHash", "seq").localCheckpoint()
    val seen = frontier.where(col("seq") % 2 === 0).select("urlHash").localCheckpoint()
    Inputs(urls, SyntheticWeb.Config(seed = seed), frontier, seen, CrawlConfig().probeThreshold)
  }

  private def rate(n: Long)(body: => Unit): Double = {
    body
    median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      body
      n / ((System.nanoTime() - t0) / 1e9)
    })
  }

  def run(ctx: Ctx, in: Inputs): Map[String, Double] = {
    val t = ctx.tracer
    val spark = ctx.spark
    import spark.implicits._
    val out = mutable.LinkedHashMap.empty[String, Double]
    val urls = in.urls
    var pages: Array[String] = null
    t.span("kernel.synth") {
      out("synth.render_pages_per_s") = rate(urls.length) {
        pages = urls.map(u => SyntheticWeb.pageHtml(u, in.web))
      }
    }
    var parsed: Array[HtmlParser.Result] = null
    t.span("kernel.parse") {
      out("parse.pages_per_s") = rate(urls.length) {
        parsed = urls.indices.map(i => HtmlParser.parse(urls(i), pages(i))).toArray
      }
      out("parse.links_per_page") = parsed.map(_.links.size).sum.toDouble / math.max(urls.length, 1)
    }
    val links = parsed.iterator.flatMap(_.links).take(200000).toArray
    t.span("kernel.burl") {
      out("core.burl_parse_per_s") = rate(links.length) {
        var i = 0; while (i < links.length) { Burl.parse(links(i)); i += 1 }
      }
    }
    val hashes = new Array[Long](links.length)
    t.span("kernel.murmur") {
      out("core.murmur_per_s") = rate(links.length) {
        var i = 0; while (i < links.length) { hashes(i) = MurmurHash3Bubing.hashString(links(i)); i += 1 }
      }
    }
    t.span("kernel.robots") {
      val filters = mutable.HashMap.empty[String, Array[String]]
      val hostsAndPaths = links.flatMap { l =>
        val h = Burl.host(l)
        if (h == null) None else Some((h, Burl.pathAndQuery(l)))
      }
      hostsAndPaths.foreach { case (h, _) =>
        filters.getOrElseUpdate(h, Robots.parse(SyntheticWeb.robotsContent(h, in.web), "*"))
      }
      val fs = hostsAndPaths.map(hp => filters(hp._1))
      out("core.robots_allowed_per_s") = rate(hostsAndPaths.length) {
        var i = 0; while (i < fs.length) { Robots.allowed(fs(i), hostsAndPaths(i)._2); i += 1 }
      }
    }

    // Spark kernels
    val candidates = t.span("kernel.inputs") {
      val linkParent = parsed.indices.flatMap(i => parsed(i).links.indices.map(j => (i.toLong, j)))
        .take(hashes.length)
      linkParent.zip(hashes).map { case ((p, j), h) => (h, p, j) }
        .toDF("urlHash", "parentSeq", "linkIdx").localCheckpoint()
    }
    val nCand = candidates.count()
    val seen = in.seen.localCheckpoint()
    val nSeen = seen.count()
    t.span("kernel.sieve_probe") {
      // which of newUrlsScanProbe's paths these inputs take, from the same
      // bound it decides on and the exact present set
      val upper = nCand + math.ceil(nSeen * Sieve.BatchBloomFpp).toLong
      val present = seen.join(candidates.select("urlHash").distinct(), Seq("urlHash"), "left_semi")
        .count()
      ctx.out("kernel_sieve_probe") = mutable.LinkedHashMap[String, Any](
        "candidates" -> nCand, "seen" -> nSeen, "present_upper" -> upper, "present" -> present,
        "probe_threshold" -> in.probeThreshold, "branch" ->
          (if (upper <= in.probeThreshold) "fused broadcast anti-join"
           else if (present <= in.probeThreshold) "materialize+count present, broadcast anti-join"
           else "materialize+count present, bank-split shuffle anti-join"))
      // the seen-store bloom bank, as the crawler keeps it; the probe needs
      // it when the batch's present set is above the broadcast limit
      val bank = Seq(spark.sparkContext.broadcast(Sieve.seenBloom(seen, nSeen)))
      out("sieve.scan_probe_rows_per_s") = rate(nCand) {
        Sieve.newUrlsScanProbe(candidates, seen, Seq("parentSeq", "linkIdx"), bank,
          _.localCheckpoint(), in.probeThreshold, nCand, nSeen).count()
      }
    }
    t.span("kernel.bloom_build") {
      out("sieve.bloom_build_rows_per_s") = rate(nSeen) {
        Sieve.bloomAggParallel(seen, "urlHash", math.max(nSeen, 1024L), 0.01, ctx.threads)
      }
    }
    t.span("kernel.topk_heads") {
      val f = in.frontier.select("hostHash", "seq", "url", "urlHash").localCheckpoint()
      out("functions.topk_heads_rows_per_s") = rate(f.count()) {
        f.groupBy("hostHash").agg(topk_heads(col("seq"), col("url"), col("urlHash"), 12))
          .write.format("noop").mode("overwrite").save()
      }
    }
    t.span("kernel.flag_duplicates") {
      val pagesDf = parsed.indices.map(i => (i.toLong, parsed(i).digest)).toDF("seq", "digest")
        .localCheckpoint()
      val stored = pagesDf.where(col("seq") % 2 === 0).select("digest").localCheckpoint()
      out("dedup.flag_rows_per_s") = rate(parsed.length) {
        Crawler.flagDuplicates(pagesDf, stored, probe = true)
          .write.format("noop").mode("overwrite").save()
      }
    }
    out.toMap
  }
}
