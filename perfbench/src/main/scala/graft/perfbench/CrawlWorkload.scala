package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.frontier.{CrawlConfig, Crawler, Sieve}
import graft.synth.SyntheticWeb

/** The `crawl` workload: one crawl of the seed's synthetic web from an
  * empty work dir, stopped after `RestartAfter` rounds; a fresh `Crawler`
  * resumes it from the committed snapshot. */
object CrawlWorkload {
  import Main.{Ctx, median}

  /** Rounds the first `Crawler` runs before a fresh one resumes the crawl. */
  val RestartAfter = 1

  /** One crawl of the seed's synthetic web with every frontier byway on:
    * docs store and digest dedup, transient failures (the exception state
    * machine), a commit every round, and a restart that resumes from the
    * committed snapshot. `bloomMinSeen` is below the seed count, so every
    * round's sieve gate runs `Sieve.newUrlsScanProbe` with the bloom bank.
    * Round 1 fetches the seed pages; its batch bound (candidates + seen ×
    * fpp ≈ 50k) is below `probeThreshold`, so the seen scan fuses into one
    * broadcast anti-join. Round 2 fans out to `burst` pages per host; its
    * bound (≈ 190k) is above the threshold, so the sieve materializes and
    * counts the present set first. See [[sieveRounds]]. Robots are off:
    * with them on, round 1 fetches only robots.txt files and the fan-out
    * needs a third round, which does not fit the run budget. */
  def config(seed: Long, threads: Int): CrawlConfig = CrawlConfig(
    web = SyntheticWeb.Config(sites = 20000, degree = 40, maxDepth = 4, seed = seed,
      failEvery = 16),
    nSeeds = 2000,
    hostDelay = 1, ipDelay = 1, burst = 8,
    maxRounds = 2,
    robotsEnabled = false,
    storeDocs = true,
    bloomMinSeen = 1000L,
    probeThreshold = 100000L,
    checkpointEvery = 1,
    statePartitions = threads)

  /** The sieve gate's path in one round, derived from the same figures the
    * crawler decides on: the seen size at the round's start (its `maxSeq`)
    * and the batch size. */
  final case class SieveRound(round: Int, dedupIn: Long, dedupOut: Long, seenAtStart: Long,
      presentUpper: Long, branch: String)

  def sieveRounds(cfg: CrawlConfig, seen: Long, perRound: Seq[(Int, Long, Long)]): Seq[SieveRound] = {
    // seen grows by exactly each round's dedup_out, so the seen size at a
    // round's start is the final size minus the rounds from it on
    val after = perRound.scanRight(0L)(_._3 + _).tail
    perRound.zip(after).map { case ((r, in, out), later) =>
      val start = seen - out - later
      val upper = in + math.ceil(start * Sieve.BatchBloomFpp).toLong
      val branch =
        if (start < cfg.bloomMinSeen) "anti-join, no bloom bank"
        else if (upper <= cfg.probeThreshold) "scan-probe, fused broadcast anti-join"
        else if (start <= cfg.probeThreshold)
          "scan-probe, materialize+count present (<= seen <= threshold), broadcast anti-join"
        else "scan-probe, materialize+count present, broadcast or bank-split anti-join"
      SieveRound(r, in, out, start, upper, branch)
    }
  }

  /** What one crawl produced and how long its parts took. */
  final case class CrawlResult(wall: Double, cpuS: Double, initS: Double, roundWalls: Seq[Double],
      snapshotS: Double, resumeS: Option[Double], processed: Long, roundLoopS: Double, bytes: Long,
      dirBytes: Map[String, Long], seen: Long, traceRows: Long, traceChecksum: String,
      counts: Map[String, Long], sieve: Seq[SieveRound])

  def dirSize(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirSize).sum).getOrElse(0L)

  /** Run `crawler` with its round hook recording round boundaries as spans. */
  private def runTraced(ctx: Ctx, crawler: Crawler, firstRound: Int): Unit = {
    val t = ctx.tracer
    val bounds = mutable.ArrayBuffer.empty[Long]
    crawler.roundCounter = () => { bounds += t.now(); 0L }
    val t0 = t.now()
    crawler.run()
    val t1 = t.now()
    if (bounds.isEmpty) t.record("snapshot", t0, t1)
    else {
      if (firstRound == 1) t.record("init", t0, bounds.head)
      bounds.grouped(2).zipWithIndex.foreach { case (b, i) =>
        t.record(s"round[${firstRound + i}]", b.head, b.last)
      }
      t.record("snapshot", bounds.last, t1)
    }
  }

  def crawlOnce(ctx: Ctx, cfg: CrawlConfig, workDir: String, restart: Boolean): CrawlResult = {
    val spark = ctx.spark
    val t = ctx.tracer
    val t0 = System.nanoTime()
    val c0 = Main.processCpuS()
    val first = new Crawler(spark, workDir, if (restart) cfg.copy(maxRounds = RestartAfter) else cfg)
    runTraced(ctx, first, 1)
    val (last, resumeS) =
      if (!restart) (first, None)
      else {
        val r0 = System.nanoTime()
        val second = t.span("restart")(new Crawler(spark, workDir, cfg))
        t.span("resume")(runTraced(ctx, second, RestartAfter + 1))
        val restartS = (System.nanoTime() - r0) / 1e9 - second.roundWalls.map(_._3).sum -
          second.snapshotWall
        (second, Some(restartS + second.roundWalls.headOption.map(_._3).getOrElse(0.0)))
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpuS = Main.processCpuS() - c0
    val rounds = (first.roundWalls ++ (if (last ne first) last.roundWalls else Nil)).map(_._3).toSeq

    t.span("verify") {
      val m = last.metrics()
      val tot = m.agg(sum("fetched"), sum("robots_fetched"), sum("failed"), sum("links_out"),
        sum("dedup_in"), sum("dedup_out"), sum("duplicates")).collect()(0)
      val names = Seq("fetched", "robots_fetched", "failed", "links_out", "dedup_in",
        "dedup_out", "duplicates")
      val counts = names.zipWithIndex.map { case (n, i) =>
        n -> (if (tot.isNullAt(i)) 0L else tot.getLong(i)) }.toMap
      val perRound = m.groupBy("round").agg(sum("dedup_in"), sum("dedup_out")).orderBy("round")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      val tr = last.trace()
      val chk = tr.select(xxhash64(col("round"), col("seq"), col("url"), col("status"))
          .cast("decimal(38,0)").as("h")).agg(sum("h"), count(lit(1))).collect()(0)
      val seen = last.seenHashes().count()
      val dir = new java.io.File(workDir)
      val dirBytes = Option(dir.listFiles()).map(_.map(f => f.getName -> dirSize(f)).toMap)
        .getOrElse(Map.empty)
      CrawlResult(wall, cpuS, first.initWall, rounds, last.snapshotWall, resumeS,
        counts("fetched") + counts("dedup_in"), rounds.sum, dirSize(dir), dirBytes, seen, chk.getLong(1),
        Option(chk.getDecimal(0)).map(_.toString).getOrElse("0"), counts, sieveRounds(cfg, seen, perRound))
    }
  }

  def run(ctx: Ctx): Unit = {
    val a = ctx.args
    val t = ctx.tracer
    val cfg = config(a.seed, ctx.threads)
    val workDir = s"${a.scratch}/crawl"
    val restart = !a.uninterrupted
    // One crawl per process, the first of its JVM, as `graft.Main crawl`
    // and `graft.Bench` run it.
    var layers: Map[String, Double] = Map.empty
    val r =
      if (!a.trace) crawlOnce(ctx, cfg, workDir, restart)
      else {
        var crawlSpan: Span = null
        val (r, codegenMs) = ctx.traced {
          val r = t.span("crawl")(crawlOnce(ctx, cfg, workDir, restart))
          crawlSpan = t.spans.last
          r
        }
        layers = SparkLayers.of(ctx, crawlSpan, "round[", codegenMs)
        r
      }

    ctx.out("crawl") = resultJson(r)
    ctx.out("probe_threshold") = cfg.probeThreshold
    val m = mutable.LinkedHashMap.empty[String, Any]
    def metric(name: String, unit: String, v: Double, samples: Int = 1) =
      m(name) = mutable.LinkedHashMap("value" -> v, "unit" -> unit, "samples" -> samples)
    metric("job_s", "s", r.wall)
    metric("job_cpu_s", "s", r.cpuS)
    metric("throughput_per_s", "1/s", r.processed / r.roundLoopS)
    metric("step_s_p50", "s", median(r.roundWalls), r.roundWalls.size)
    metric("step_s_max", "s", r.roundWalls.max, r.roundWalls.size)
    metric("init_s", "s", r.initS)
    metric("snapshot_s", "s", r.snapshotS)
    r.resumeS.foreach(metric("resume_s", "s", _))
    metric("bytes_per_url", "B", r.bytes.toDouble / r.seen)
    ctx.out("metrics") = m

    if (a.trace) {
      val l = mutable.LinkedHashMap.empty[String, Double]
      l ++= layers
      r.counts.foreach { case (k, v) =>
        val mod = k match {
          case "dedup_in" | "dedup_out" => "sieve"
          case "duplicates" => "dedup"
          case _ => "crawler"
        }
        l(s"$mod.$k") = v.toDouble
      }
      l("sieve.pass_ratio") = ratio(r.counts("dedup_out"), r.counts("dedup_in"))
      l("dedup.dup_ratio") = ratio(r.counts("duplicates"), r.counts("fetched"))
      l("sieve.dedup_in_last_round") = r.sieve.lastOption.map(_.dedupIn).getOrElse(0L).toDouble
      l("crawler.output_bytes") = r.bytes.toDouble
      l("commit.state_bytes") = r.dirBytes.getOrElse("state", 0L).toDouble
      l ++= t.span("kernels")(Kernels.run(ctx, Kernels.fromCrawl(ctx, cfg, workDir)))
      ctx.out("layers") = l
    }
  }

  def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  private def resultJson(r: CrawlResult) = mutable.LinkedHashMap[String, Any](
    "wall_s" -> r.wall, "cpu_s" -> r.cpuS, "init_s" -> r.initS, "round_walls_s" -> r.roundWalls,
    "snapshot_s" -> r.snapshotS, "resume_s" -> r.resumeS, "processed" -> r.processed,
    "round_loop_s" -> r.roundLoopS, "bytes" -> r.bytes, "dir_bytes" -> r.dirBytes,
    "seen" -> r.seen, "trace_rows" -> r.traceRows, "trace_checksum" -> r.traceChecksum,
    "counts" -> r.counts, "sieve_rounds" -> r.sieve.map(x => mutable.LinkedHashMap[String, Any](
      "round" -> x.round, "dedup_in" -> x.dedupIn, "dedup_out" -> x.dedupOut,
      "seen_at_start" -> x.seenAtStart, "present_upper" -> x.presentUpper, "branch" -> x.branch)))
}
