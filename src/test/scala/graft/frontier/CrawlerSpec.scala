package graft.frontier

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.synth.SyntheticWeb

/** End-to-end slice (SURVEY.md §7.2): crawl R rounds over the synthetic
  * graph and compare the full fetch trace and URL-seen membership against
  * the single-threaded oracle loop — the BASELINE equivalence ("matching
  * the reference crawl ordering and URL-seen set under the same seed list
  * + politeness budget"). Also: resume-from-checkpoint and parallelism-
  * independence. */
class CrawlerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cfg = CrawlConfig(
    web = SyntheticWeb.Config(sites = 40, degree = 4, maxDepth = 2, seed = 42L),
    nSeeds = 6,
    hostDelay = 2,
    ipDelay = 1,
    burst = 2,
    maxUrlsPerHost = 12,
    maxRounds = 7,
    statePartitions = 4)

  private def tempDir(tag: String): String =
    Files.createTempDirectory(s"graft-crawl-$tag").toString

  private def collectTrace(c: Crawler): Seq[(Int, Long, String, Boolean, Int)] = {
    import org.apache.spark.sql.functions._
    c.trace().select(col("round"), col("seq"), col("url"), col("isRobots"), col("status"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getBoolean(3), r.getInt(4)))
      .toSeq.sortBy(t => (t._1, t._2, t._3))
  }

  test("spark crawl == single-threaded oracle (trace + seen set)") {
    val dir = tempDir("oracle")
    val crawler = new Crawler(spark, dir, cfg)
    crawler.run()
    assertOracleParity(crawler, cfg)
  }

  test("bloom on/off produce identical crawls") {
    val d1 = tempDir("bloomOn")
    val d2 = tempDir("bloomOff")
    // bloomMinSeen=1 forces the bank + fused batch-bloom/delta-bloom path
    // even at spec scale (the default 50k gate would skip blooms entirely
    // on a tiny crawl and the test would compare identical code paths)
    val c1 = new Crawler(spark, d1,
      cfg.copy(bloomMinSeen = 1L, bloomExpected = 4096L, maxRounds = 4))
    val c2 = new Crawler(spark, d2, cfg.copy(bloomMinSeen = Long.MaxValue, maxRounds = 4))
    c1.run(); c2.run()
    assert(collectTrace(c1) == collectTrace(c2))
  }

  test("aggressive compaction + tombstone fold + bloom consolidation preserve the crawl") {
    val d1 = tempDir("gcAggressive")
    val d2 = tempDir("gcDefault")
    // every state-GC path fires constantly: tombstone compaction every ~50
    // rows, delta-union fold at 2 parts, bloom bank consolidated (and the
    // dropped broadcasts unpersisted) every 2 deltas — all performance-
    // shape knobs, so the crawl must be byte-identical to the default
    val c1 = new Crawler(spark, d1, cfg.copy(
      bloomMinSeen = 1L, bloomExpected = 4096L, bloomMaxDeltas = 2,
      tombstoneCompactRows = 50L, tombstoneFoldParts = 2,
      checkpointEvery = 99, maxRounds = 5))
    val c2 = new Crawler(spark, d2, cfg.copy(maxRounds = 5))
    c1.run(); c2.run()
    assert(collectTrace(c1) == collectTrace(c2))
  }

  test("resume from snapshot checkpoint continues identically") {
    val dFull = tempDir("full")
    val dSplit = tempDir("split")
    val full = new Crawler(spark, dFull, cfg.copy(maxRounds = 5))
    full.run()

    // run 2 rounds, then resume with a FRESH Crawler instance to 5
    val part1 = new Crawler(spark, dSplit, cfg.copy(maxRounds = 2))
    part1.run()
    assert(part1.lastCompleteRound() == 2)
    val part2 = new Crawler(spark, dSplit, cfg.copy(maxRounds = 5))
    part2.run()

    assert(collectTrace(full) == collectTrace(part2))
    val seenFull = full.seenHashes().collect().map(_.getLong(0)).toSet
    val seenSplit = part2.seenHashes().collect().map(_.getLong(0)).toSet
    assert(seenFull == seenSplit)
  }

  test("parallelism independence: shuffle partitions do not change the crawl") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val d1 = tempDir("p1")
    val d17 = tempDir("p17")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val c1 = new Crawler(spark, d1, cfg.copy(maxRounds = 4, statePartitions = 1))
      c1.run()
      spark.conf.set("spark.sql.shuffle.partitions", "17")
      val c17 = new Crawler(spark, d17, cfg.copy(maxRounds = 4, statePartitions = 17))
      c17.run()
      assert(collectTrace(c1) == collectTrace(c17))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  private def assertOracleParity(crawler: Crawler, c: CrawlConfig,
      gates: OracleCrawler.Gates = OracleCrawler.Gates()): Unit = {
    val sparkTrace = collectTrace(crawler)
    val (oracleTrace0, oracleSeen) = OracleCrawler.run(c, gates)
    val oracleTrace = oracleTrace0
      .map(t => (t.round, t.seq, t.url, t.isRobots, t.status))
      .sortBy(t => (t._1, t._2, t._3))
    assert(sparkTrace.size == oracleTrace.size,
      s"trace sizes differ: spark=${sparkTrace.size} oracle=${oracleTrace.size}")
    sparkTrace.zip(oracleTrace).zipWithIndex.foreach { case ((s, o), i) =>
      assert(s == o, s"trace row $i differs: spark=$s oracle=$o")
    }
    assert(crawler.seenHashes().collect().map(_.getLong(0)).toSet == oracleSeen)
  }

  test("per-class exception state machine: spark == oracle with mixed failures") {
    // 1/4 of pages fail 1-3 times with a class drawn from the 4-class
    // table (two killer classes): exercises retry backoff, URL drop on
    // exhausted non-killer, and host purge on killer/robots errors
    val failCfg = cfg.copy(web = cfg.web.copy(failEvery = 4), maxRounds = 12)
    val dir = tempDir("retries")
    val crawler = new Crawler(spark, dir, failCfg)
    crawler.run()
    val sparkTrace = collectTrace(crawler)
    assert(sparkTrace.exists(_._5 == 0), "expected exception rows (status 0) in trace")
    import org.apache.spark.sql.functions._
    val classes = crawler.trace().where(col("excClass").isNotNull)
      .select("excClass").distinct().collect().map(_.getString(0)).toSet
    assert(classes.size >= 2, s"expected multiple exception classes, got $classes")
    assertOracleParity(crawler, failCfg)
  }

  test("fetchFilter gate drops URLs at fetch time: spark == oracle") {
    val f = cfg.copy(fetchFilter = "not URLMatchesRegex(.*/3/.*)", maxRounds = 6)
    val dir = tempDir("fetchf")
    val crawler = new Crawler(spark, dir, f)
    crawler.run()
    val fetched = collectTrace(crawler).filterNot(_._4).map(_._3)
    assert(!fetched.exists(_.matches(".*/3/.*")), "fetch-filtered URL was fetched")
    // the unfiltered crawl does fetch such URLs (the gate is load-bearing)
    val dirU = tempDir("fetchu")
    val cu = new Crawler(spark, dirU, cfg.copy(maxRounds = 6))
    cu.run()
    assert(collectTrace(cu).filterNot(_._4).map(_._3).exists(_.matches(".*/3/.*")))
    assertOracleParity(crawler, f,
      OracleCrawler.Gates(fetchOk = u => !u.matches(".*/3/.*")))
  }

  test("parse/follow/store response gates: spark == oracle") {
    val f = cfg.copy(
      parseFilter = "not URLMatchesRegex(.*/2/.*)",
      followFilter = "not URLMatchesRegex(.*/0/.*)",
      storeFilter = "not URLMatchesRegex(.*/1/.*)",
      maxRounds = 6)
    val dir = tempDir("gates")
    val crawler = new Crawler(spark, dir, f)
    crawler.run()
    import org.apache.spark.sql.functions._
    // store gate: no /1/ docs in the store
    assert(crawler.docs().where(col("doc_id").rlike("/1/")).count() == 0)
    // parse gate: /2/ pages carry no spans and a 16-hex binary digest
    val parsed2 = crawler.docs().where(col("doc_id").rlike("/2/"))
    if (parsed2.count() > 0)
      assert(parsed2.where(size(col("spans")) > 0 || length(col("digest")) =!= 16).count() == 0)
    assertOracleParity(crawler, f, OracleCrawler.Gates(
      parseOk = u => !u.matches(".*/2/.*"),
      followOk = u => !u.matches(".*/0/.*"),
      storeOk = u => !u.matches(".*/1/.*")))
  }

  test("adaptive front sizing grows on saturation: spark == oracle") {
    val f = cfg.copy(initialFrontSize = 2, frontGrowth = 2, maxRounds = 7)
    val dir = tempDir("front")
    val crawler = new Crawler(spark, dir, f)
    crawler.run()
    // the tiny front must bite: round sizes differ from the unbounded run
    val dirU = tempDir("frontu")
    val cu = new Crawler(spark, dirU, cfg.copy(maxRounds = 7))
    cu.run()
    assert(collectTrace(crawler) != collectTrace(cu), "front cap had no effect")
    assertOracleParity(crawler, f)
  }

  test("ip-blacklisted hosts are never enqueued") {
    val probe = tempDir("ipbl-probe")
    val cp = new Crawler(spark, probe, cfg.copy(maxRounds = 5))
    cp.run()
    val seedHosts = (0 until cfg.nSeeds)
      .map(i => graft.core.Burl.host(graft.synth.SyntheticWeb.seedUrl(i, cfg.web))).toSet
    val nonSeed = collectTrace(cp).map(t => graft.core.Burl.host(t._3))
      .distinct.filterNot(seedHosts)
    assert(nonSeed.nonEmpty)
    val victimIp = graft.core.Burl.ipOfHost(nonSeed.head, cfg.ipSpace)
    val dir = tempDir("ipbl")
    val c = new Crawler(spark, dir, cfg.copy(maxRounds = 5, blacklistIps = Seq(victimIp)))
    c.run()
    val visitedNonSeed = collectTrace(c).map(t => graft.core.Burl.host(t._3))
      .distinct.filterNot(seedHosts)
    assert(!visitedNonSeed.exists(h => graft.core.Burl.ipOfHost(h, cfg.ipSpace) == victimIp),
      "ip-blacklisted host was visited")
  }

  test("checkpointEvery > 1 (in-memory state threading) crawls identically") {
    val d1 = tempDir("ck1")
    val d3 = tempDir("ck3")
    val c1 = new Crawler(spark, d1, cfg.copy(maxRounds = 5, checkpointEvery = 1))
    val c3 = new Crawler(spark, d3, cfg.copy(maxRounds = 5, checkpointEvery = 3))
    c1.run(); c3.run()
    assert(collectTrace(c1) == collectTrace(c3))
    assert(c3.lastCompleteRound() == 5) // forced final snapshot
  }

  test("blacklisted hosts are never enqueued or fetched") {
    val probe = tempDir("bl-probe")
    val cp = new Crawler(spark, probe, cfg.copy(maxRounds = 5))
    cp.run()
    // pick a host the unrestricted crawl discovered via links (non-seed);
    // robots fetches count as visits too
    val seedHosts = (0 until cfg.nSeeds)
      .map(i => graft.core.Burl.host(graft.synth.SyntheticWeb.seedUrl(i, cfg.web))).toSet
    val visited = collectTrace(cp).map(t => graft.core.Burl.host(t._3)).distinct
    val nonSeed = visited.filterNot(seedHosts)
    assert(nonSeed.nonEmpty, s"no non-seed hosts discovered: $visited")
    val victim = nonSeed.head
    val dir = tempDir("bl")
    val c = new Crawler(spark, dir, cfg.copy(maxRounds = 5,
      blacklistHosts = Seq(victim)))
    c.run()
    val hosts = collectTrace(c).map(t => graft.core.Burl.host(t._3)).distinct
    assert(!hosts.contains(victim), s"blacklisted $victim was visited")
  }

  test("body truncation flags docs and caps span text") {
    val dir = tempDir("trunc")
    val c = new Crawler(spark, dir, cfg.copy(maxRounds = 4, maxBodyChars = 40))
    c.run()
    import org.apache.spark.sql.functions._
    val docs = c.docs()
    assert(docs.where(col("truncated")).count() > 0, "expected truncated docs")
    val maxChars = docs.select(max(aggregate(
      transform(col("spans"), s => length(s.getField("text"))),
      lit(0), (a, x) => a + x))).collect()(0).getInt(0)
    assert(maxChars <= 40)
  }

  test("robotsEnabled=false (bench semantics): spark == oracle") {
    val f = cfg.copy(robotsEnabled = false, maxRounds = 5)
    val dir = tempDir("robotsoff")
    val crawler = new Crawler(spark, dir, f)
    crawler.run()
    val t = collectTrace(crawler)
    assert(t.nonEmpty && !t.exists(_._4), "robots fetch in a robots-off crawl")
    assertOracleParity(crawler, f)
  }

  test("binary (parse-gated) digest is host-seeded (BinaryParser.java:75-81)") {
    val f = cfg.copy(parseFilter = "false", maxRounds = 3)
    val dir = tempDir("binseed")
    val c = new Crawler(spark, dir, f)
    c.run()
    val row = c.docs().select("doc_id", "digest").collect().head
    val url = row.getString(0)
    val host = graft.core.Burl.host(url)
    val html = SyntheticWeb.pageHtml(url, f.web)
    assert(row.getString(1) ==
      f"${graft.core.MurmurHash3Bubing.hashString(host + "\u0000" + html)}%016x",
      "binary digest must hash host + NUL + body")
    assert(row.getString(1) != f"${graft.core.MurmurHash3Bubing.hashString(html)}%016x",
      "binary digest must not be body-only")
    assertOracleParity(c, f, OracleCrawler.Gates(parseOk = _ => false))
  }

  test("link-typed scheduleFilter: SameHost() gates cross-host links, spark == oracle") {
    val f = cfg.copy(scheduleFilter = "SameHost() and URLShorterThan(2048)", maxRounds = 6)
    val dir = tempDir("samehost")
    val crawler = new Crawler(spark, dir, f)
    crawler.run()
    // links never leave a host: every fetch is on a seed host
    val seedHosts = (0 until cfg.nSeeds)
      .map(i => graft.core.Burl.host(SyntheticWeb.seedUrl(i, cfg.web))).toSet
    val hosts = collectTrace(crawler).map(t => graft.core.Burl.host(t._3)).toSet
    assert(hosts.subsetOf(seedHosts), s"cross-host link scheduled: ${hosts -- seedHosts}")
    // the unfiltered crawl DOES leave the seed hosts (the gate is load-bearing)
    val dirU = tempDir("samehost-u")
    val cu = new Crawler(spark, dirU, cfg.copy(maxRounds = 6))
    cu.run()
    assert((collectTrace(cu).map(t => graft.core.Burl.host(t._3)).toSet -- seedHosts).nonEmpty)
    assertOracleParity(crawler, f, OracleCrawler.Gates(
      scheduleOk = (src, dst) =>
        graft.core.Burl.host(src) == graft.core.Burl.host(dst) && dst.length < 2048))
  }

  test("ipDelayFactor scales per-IP delay with hosts sharing the IP: spark == oracle") {
    // tiny ipSpace forces many hosts per IP so the factor bites
    val f = cfg.copy(ipDelayFactor = 2.0, knownAgents = 4, ipSpace = 8, maxRounds = 7)
    val dir = tempDir("ipfactor")
    val crawler = new Crawler(spark, dir, f)
    crawler.run()
    val dirU = tempDir("ipfactor-u")
    val cu = new Crawler(spark, dirU, f.copy(ipDelayFactor = 0.0))
    cu.run()
    assert(collectTrace(crawler) != collectTrace(cu), "ipDelayFactor had no effect")
    assertOracleParity(crawler, f)
  }

  test("all-disallowed head windows still progress (zero-fetch rounds commit drops)") {
    val f = cfg.copy(fetchFilter = "false", maxRounds = 10)
    val dir = tempDir("alldrop")
    val crawler = new Crawler(spark, dir, f)
    val rounds = crawler.run()
    val t = collectTrace(crawler)
    assert(t.nonEmpty && t.forall(_._4), "only robots should ever be fetched")
    // the frontier drains (windows drop k' heads per visit) instead of
    // repeating identical empty rounds until maxRounds
    assert(rounds < 10, s"crawl did not drain: ran $rounds rounds")
    assertOracleParity(crawler, f, OracleCrawler.Gates(fetchOk = _ => false))
  }

  test("fetch gate + exceptions + budget: spark == oracle") {
    val f = cfg.copy(
      web = cfg.web.copy(failEvery = 4),
      fetchFilter = "not URLMatchesRegex(.*/3/.*)",
      maxUrlsPerHost = 9, maxRounds = 9)
    val dir = tempDir("gates-exc-budget")
    val crawler = new Crawler(spark, dir, f)
    crawler.run()
    assertOracleParity(crawler, f, OracleCrawler.Gates(fetchOk = u => !u.matches(".*/3/.*")))
  }

  test("docs carry digests; duplicates are flagged deterministically") {
    val dir = tempDir("docs")
    val crawler = new Crawler(spark, dir, cfg.copy(maxRounds = 5))
    crawler.run()
    val docs = crawler.docs()
    assert(docs.count() > 0)
    import org.apache.spark.sql.functions._
    // digest is a 32-hex-char md5 string
    assert(docs.where(length(col("digest")) =!= 32).count() == 0)
    // root page and /index.html have identical content -> at least one dup
    // is possible; at minimum the flag column must be consistent:
    val firstPerDigest = docs.groupBy("digest").count()
    assert(firstPerDigest.count() <= docs.count())
    // metrics exist with per-partition lineage
    val m = crawler.metrics()
    assert(m.count() > 0)
    assert(m.columns.contains("partition_id"))
  }
}
