package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Burl, FilterDsl, Robots}
import graft.functions._
import graft.model._
import graft.parse.HtmlParser
import graft.synth.SyntheticWeb

/** Per-exception-class scheduling rule (reference per-class tables,
  * `ParsingThread.java:75-116`): `wait` in virtual rounds (backoff is
  * `wait << retries`), `maxRetries` before the URL is dropped, `killer`
  * = exhausting retries purges the whole host. */
case class ExcRule(waitRounds: Long, maxRetries: Int, killer: Boolean)

/** Crawl configuration. Politeness delays are in *virtual rounds*: the
  * reference's wall-clock `schemeAuthorityDelay`/`ipDelay`
  * (`StartupConfiguration`, `ParsingThread.java:271-274,317`) become
  * round-stamped virtual time (`now = round`), which preserves the
  * scheduling ORDER — the quantity BASELINE requires — independent of
  * wall-clock jitter and parallelism (SURVEY.md §7.4). */
case class CrawlConfig(
    web: SyntheticWeb.Config = SyntheticWeb.Config(),
    nSeeds: Int = 8,
    hostDelay: Long = 2,
    ipDelay: Long = 1,
    /** keep-alive burst: URLs fetched per host per round (FetchingThread.java:298,390) */
    burst: Int = 1,
    /** per-host head-window slack beyond `burst`: robots-disallowed /
      * fetch-filtered URLs among the first `burst + headSlack` heads are
      * skipped within the same round (the reference skips them one at a
      * time at the queue head); a pathological host with more consecutive
      * disallowed heads defers the rest to later rounds */
    headSlack: Int = 8,
    /** per-host URL budget (maxUrlsPerSchemeAuthority, Frontier.java:615-618) */
    maxUrlsPerHost: Long = Long.MaxValue,
    maxRounds: Int = 8,
    /** schedule filter DSL applied per outlink (StartupConfiguration.java:182-184);
      * media refs (.jpg) are excluded from scheduling like the reference's
      * stock configs do */
    scheduleFilter: String =
      "( SchemeEquals(http) or SchemeEquals(https) ) and URLShorterThan(2048) " +
        "and DuplicateSegmentsLessThan(3) and not PathEndsWithOneOf(.jpg)",
    /** fetch filter DSL applied to URLs about to be fetched
      * (FetchingThread.java:300-303); failing URLs are discarded */
    fetchFilter: String = "true",
    /** parse filter: responses failing it are not parsed — binary digest,
      * no links, no spans (ParsingThread.java:359) */
    parseFilter: String = "true",
    /** follow filter: responses failing it contribute no outlinks
      * (ParsingThread.java:343 NULL_LINK_RECEIVER) */
    followFilter: String = "true",
    /** store filter: responses failing it are not written to the docs
      * store (ParsingThread.java:398) */
    storeFilter: String = "true",
    /** blacklisted hosts, dropped at enqueue time before the sieve
      * (FrontierEnqueuer / blacklist gates, ParsingThread.java:186-195) */
    blacklistHosts: Seq[String] = Nil,
    /** blacklisted synthetic IP ids (ip_of_host space) — the reference's
      * IP blacklist (FetchingThread.java:310-347, DNSThread.java:81-93) */
    blacklistIps: Seq[Long] = Nil,
    /** per-exception-class wait/retry/killer tables (ParsingThread.java:75-116) */
    exceptionRules: Map[String, ExcRule] = Map(
      "socket_timeout" -> ExcRule(waitRounds = 1, maxRetries = 4, killer = false),
      "connection_closed" -> ExcRule(waitRounds = 1, maxRetries = 2, killer = false),
      "unknown_host" -> ExcRule(waitRounds = 2, maxRetries = 1, killer = true),
      "ssl_unverified" -> ExcRule(waitRounds = 1, maxRetries = 0, killer = true)),
    /** rule for exception classes absent from `exceptionRules` (the
      * reference's defaultReturnValue: 1h wait, 5 retries, non-killer) */
    exceptionDefault: ExcRule = ExcRule(waitRounds = 1, maxRetries = 3, killer = false),
    /** body truncation (responseBodyMaxByteSize, FetchData.java:313,331-332):
      * the raw markup is cut at this many chars BEFORE parsing (the
      * reference truncates the response stream) */
    maxBodyChars: Int = Int.MaxValue,
    /** adaptive front sizing (Frontier.java:824-835): at most this many
      * IPs in flight per round, doubled whenever a round saturates it;
      * Long.MaxValue = unbounded (the saturation-benchmark setting) */
    initialFrontSize: Long = Long.MaxValue,
    frontGrowth: Int = 2,
    /** false = hosts start with robotsDone (benchmark mode) */
    robotsEnabled: Boolean = true,
    /** false = skip the docs/digests store writes AND the duplicate-page
      * link gate (frontier-only benchmark; the north metric is URLs
      * scheduled+deduped/sec — the store is the WARC-sink side) */
    storeDocs: Boolean = true,
    bloomFpp: Double = 0.03,
    /** consolidate the per-round delta blooms into one full filter built
      * distributed from the seen table once this many deltas accumulate */
    bloomMaxDeltas: Int = 12,
    bloomExpected: Long = 4L << 20,
    /** below this seen-size the bloom prefilter is skipped (anti-join alone
      * is cheaper than building + broadcasting the filter); Long.MaxValue
      * turns the bloom bank off */
    bloomMinSeen: Long = 50000L,
    /** candidate batches at or below this size probe the seen table via a
      * broadcast hash set (scan, no shuffle); above it, sort-merge anti-join */
    probeThreshold: Long = 2L << 20,
    ipSpace: Long = 1L << 20,
    /** multi-agent IP-delay attenuation (StartupConfiguration.java:213-226,
      * ParsingThread.java:271-274): with k hosts sharing an IP the
      * effective per-IP delay is max(ipDelay, ipDelay * ipDelayFactor *
      * knownAgents * k/(k+1)); inert at the reference default (factor 0)
      * and in single-agent runs (knownAgents 1), exactly like BUbiNG */
    ipDelayFactor: Double = 0.0,
    knownAgents: Int = 1,
    /** state-snapshot cadence in rounds (1 = commit every round, the
      * Iceberg per-round-commit analog) */
    checkpointEvery: Int = 1,
    /** shuffle/write parallelism for the state tables */
    statePartitions: Int = 32,
    /** compact the frontier (drop tombstoned rows) once this many
      * tombstones accumulate (WorkbenchVirtualizer.java:132-143 GC analog) */
    tombstoneCompactRows: Long = 2L << 20,
    /** fold the lazy tombstone-delta union chain once it has this many
      * parts (plan-size hygiene between compactions) */
    tombstoneFoldParts: Int = 32,
    logRounds: Boolean = false,
    /** storage level for in-memory state blocks between snapshots */
    stateStorage: String = "MEMORY_AND_DISK")

/** One URL selected for fetching this round. `attempt` = how many times
  * this host's current problem has been attempted (0 when the host is
  * clean) — drives the deterministic failure model. */
case class FetchUnit(
    url: String,
    schemeAuthority: String,
    host: String,
    pathQuery: String,
    urlHash: Long,
    hostHash: Long,
    ipHash: Long,
    seq: Long,
    isRobots: Boolean,
    attempt: Int)

/** The frontier + fetch scheduler: BUbiNG's Agent/Frontier/Workbench loop
  * re-expressed as an iterative batch DAG over snapshot-checkpointed state
  * tables (SURVEY.md §3.2 "Spark reading").
  *
  * One round =
  * {{{
  *   heads    = frontier.groupBy(hostHash).agg(topk_heads(k'))   // ONE pass,
  *              // partial-agg: shuffle = k' narrow rows per host, no sort
  *   selected = hosts ⋈ heads ⋈ ips  (politeness windows, rank-1 per IP,
  *              adaptive front cap)
  *   fetched  = selected heads -> render+parse HTML (typed Dataset map:
  *              HtmlParser links/spans/digest), exception state machine
  *   newUrls  = links |> scheduleFilter |> sieve (bloom + anti-join,
  *              first-enqueue order) |> budget
  *   state'   = append frontier delta; tombstone consumed rows; update
  *              hosts/ips via broadcast of the per-round host aggregate
  * }}}
  *
  * Per-round cost: one linear scan of the frontier (the heads
  * aggregation — CPU-parallel, shuffle ∝ hosts·k') plus work ∝ the
  * selected burst and the new-link batch. No full-frontier sort, window,
  * or join-back remains on the round path.
  *
  * That heads aggregation is the one O(frontier)-per-round term; BASELINE.md
  * records the measurement that retired the incremental per-host top-K
  * alternative (slower at every scale measured).
  *
  * State layout under `workDir` (the Iceberg-snapshot analog):
  * {{{
  *   state/round=N/{frontier,hosts,ips,scalars}          (snapshots)
  *   seen/round=N, docs/round=N, digests/round=N,
  *   trace/round=N, metrics/round=N                      (append-only)
  * }}}
  * Between snapshots the state tables are threaded in memory
  * (`localCheckpoint` truncates lineage); `run()` resumes from the last
  * complete snapshot and deterministically re-executes rounds after it.
  */
object Crawler {

  /** Digest-keyed exact-duplicate flags for one round's parsed pages:
    * within-batch (smaller seq wins) + across-rounds against the
    * accumulated digests store. With `probe` (bounded bursts — the normal
    * case) the store is probed via a broadcast of the burst's digest set:
    * ONE scan of the store, no shuffle — a left-outer join against the big
    * store side would otherwise sort-merge-shuffle the ENTIRE accumulated
    * digests table every round (at a real crawl's 10^9-docs store, a
    * per-round full-table shuffle). Above the threshold, SMJ. */
  private[graft] def flagDuplicates(pages: DataFrame, digestsSeen: DataFrame,
      probe: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val firstDigest = pages.groupBy("digest").agg(min("seq").as("__minSeq"))
    val withBatch = pages
      .join(firstDigest, Seq("digest"))
      .withColumn("__dupInBatch", col("seq") > col("__minSeq"))
    val withAcross =
      if (probe) {
        val present = digestsSeen
          .join(broadcast(pages.select("digest").distinct()), Seq("digest"), "left_semi")
        withBatch.join(
          broadcast(present.select(col("digest"), lit(true).as("__dupAcross"))),
          Seq("digest"), "left")
      } else withBatch.join(
        digestsSeen.select(col("digest"), lit(true).as("__dupAcross")),
        Seq("digest"), "left")
    withAcross.withColumn("is_duplicate",
      col("__dupInBatch") || coalesce(col("__dupAcross"), lit(false)))
  }

  /** Shared daemon pool for the concurrent per-round actions. */
  private[frontier] lazy val actionPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-round-action")
        t.setDaemon(true)
        t
      }))
}

class Crawler(spark: SparkSession, workDir: String, cfg: CrawlConfig) {
  import spark.implicits._

  // TopKHeads is a TypedImperativeAggregate: keep it hash-based up to a
  // sane number of distinct hosts per partition, then let it fall back to
  // the memory-safe in-partition sort-based aggregation (the default
  // threshold of 128 keys would force the sort fallback immediately)
  spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
  // each round compiles ~200 distinct codegen units; the default 100-entry
  // codegen cache THRASHES across rounds and re-Janino-compiles the whole
  // loop every round (round-varying scalars are plan references via
  // ref_long, so the sources are cache-stable) — this is a static JVM-wide
  // conf, set it before the first session when running standalone
  try spark.conf.set("spark.sql.codegen.cache.maxEntries", "10000")
  catch { case _: org.apache.spark.sql.AnalysisException => () } // static conf set too late: harness sets it at session build
  // bloom_agg (the fused filter builds) is clamped by the runtime-filter
  // size caps (default 4M items / 67M bits — far below a crawl's
  // per-round deltas); raise them so the fused filters keep their sized
  // fpp instead of silently degrading. The caps also govern Spark's own
  // InjectRuntimeFilter for every query on the session, so the raise is
  // SCOPED to run() (set before the first round, restored after the last)
  // rather than left session-wide for harness-shared sessions.
  private val bloomCapKeys = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> (256L << 20).toString,
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> (8L << 30).toString)
  private def withRaisedBloomCaps[T](body: => T): T = {
    val prev = bloomCapKeys.map { case (k, v) =>
      val old = spark.conf.getOption(k); spark.conf.set(k, v); k -> old
    }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val stateLevel = org.apache.spark.storage.StorageLevel.fromString(cfg.stateStorage)
  private def lc(df: DataFrame): DataFrame = df.localCheckpoint(true, stateLevel)

  /** Run independent Spark ACTIONS concurrently from driver threads: the
    * round's sinks and state materializations form independent DAG
    * branches, and per-job fixed latency (scheduling + codegen + task
    * launch) is the local-mode wall-clock floor — overlapping the jobs
    * turns a sum of latencies into a max. Output DATA is unchanged
    * (branches share only already-materialized caches). */
  private def inParallel(tasks: (() => Unit)*): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_()); return }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = Crawler.actionPool
    val fs = tasks.map(t => Future(t()))
    fs.foreach(Await.result(_, Duration.Inf))
  }

  /** Dependency-driven overlap: run `gate` on the calling thread while the
    * `independent` actions run concurrently; the moment `gate` completes,
    * start `dependents` (which consume the gate's output) WITHOUT waiting
    * for the independent branches. The r4 two-phase barrier made the
    * rank/seen/bloom branches (which need only the sieve output) wait for
    * the docs sink, host-state, and tombstone branches as well — every
    * phase tail ran one branch alone while the rest of the executor sat
    * idle; this removes the barrier that caused it. Output data is
    * unchanged (branches share only already-materialized caches, and
    * dependents are submitted by the thread that ran the gate). */
  private def inParallelStaged(independent: Seq[() => Unit], gate: () => Unit,
      dependents: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = Crawler.actionPool
    val indep = independent.map(t => Future(t()))
    gate()
    val deps = dependents.map(t => Future(t()))
    (indep ++ deps).foreach(Await.result(_, Duration.Inf))
  }

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(workDir), spark.sparkContext.hadoopConfiguration)

  private def stateDir(round: Int, table: String) = f"$workDir/state/round=$round%05d/$table"
  private def appendDir(table: String, round: Int) = f"$workDir/$table/round=$round%05d"

  private def exists(path: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(path))

  /** parallel pre-merge width for the per-round bloom aggregations (see
    * Sieve.bloomAggParallel): one group per state partition spreads the
    * OR work across the executor (measured: 8 groups still left 2.3 s
    * serial-ish merge stages per round at 16t); the driver-side final
    * merge stays ≤ statePartitions filters — a fixed, cluster-size-
    * independent cost */
  private val bloomMergeGroups = math.max(1, cfg.statePartitions)

  /** heads window size: burst + slack for same-round robots/fetch-filter
    * skips at the queue head */
  private val kHeads = math.max(1, cfg.burst + cfg.headSlack)

  private val gatesTrivial =
    cfg.parseFilter == "true" && cfg.followFilter == "true" && cfg.storeFilter == "true"

  /** In-memory state threaded between rounds (lineage truncated via
    * localCheckpoint); rebuilt from the last parquet snapshot on resume. */
  private case class LiveState(round: Int, maxSeq: Long, frontSize: Long,
      frontier: DataFrame, hosts: DataFrame, ips: DataFrame,
      seen: DataFrame, digests: DataFrame,
      /** append-only frontier: fetched/dropped rows are tombstoned by hash
        * and physically removed only at compaction/snapshot. `tombstones`
        * is a lazy union of per-round lc'd deltas (`tombParts` of them —
        * folded when the chain gets long); only deltas are ever
        * re-materialized, never the accumulated set. */
      tombstones: DataFrame, pendingRows: Long, tombRows: Long,
      tombParts: Int = 0)
  private var live: Option[LiveState] = None

  // ---------------- initialization (round 0) ----------------

  /** Seed the crawl: normalize seeds, sieve them (dedup), write round-0 state. */
  def init(): Unit = {
    val seeds = (0 until cfg.nSeeds)
      .map(i => (SyntheticWeb.seedUrl(i, cfg.web), i)) // explicit seed-list order
      .toDF("spec", "linkIdx")
    val candidates = seeds
      .withColumn("url", burl_parse(col("spec")))
      .where(col("url").isNotNull)
      .withColumn("parentSeq", lit(-1L))
      .withColumn("urlHash", murmur64(col("url")))
      .select("url", "urlHash", "parentSeq", "linkIdx")

    val emptySeen = spark.emptyDataset[Long].toDF("urlHash")
    val parts = math.max(1, cfg.statePartitions)
    val (newUrls, _) = Sieve.assignSeq(
      Sieve.newUrls(candidates, emptySeen, Seq("parentSeq", "linkIdx")).transform(lc),
      Seq("parentSeq", "linkIdx"), startSeq = -1L, // seqs from 0
      Sieve.linearBuckets(col("linkIdx"), 0, cfg.nSeeds - 1L, parts * 8))

    val frontier = toFrontier(newUrls).transform(lc)
    frontier.select("urlHash").write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("seen", 0))
    val hosts = newHostsFrom(frontier, emptyHosts).transform(lc)
    val ips = newIpsFrom(frontier, emptyIps).transform(lc)
    val maxSeq = frontier.count()
    val st = LiveState(0, maxSeq, cfg.initialFrontSize, frontier, hosts, ips,
      frontier.select("urlHash").transform(lc), emptyDigests,
      emptyTombstones, pendingRows = maxSeq, tombRows = 0L)
    writeState(st)
    live = Some(st)
  }

  private def emptyHosts = spark.emptyDataset[HostState].toDF
  private def emptyIps = spark.emptyDataset[IpState].toDF
  private def emptyDigests = Seq.empty[String].toDF("digest")
  private def emptyTombstones = Seq.empty[Long].toDF("urlHash")

  /** Narrow frontier row: url + hashes + seq (hostHash keys the visit
    * state = murmur64(schemeAuthority), BubingJob.java:47-52). */
  private def toFrontier(newUrls: DataFrame): DataFrame =
    newUrls.select(
      col("url"),
      col("urlHash"),
      murmur64(burl_scheme_authority(col("url"))).as("hostHash"),
      ip_of_host(burl_host(col("url")), cfg.ipSpace).as("ipHash"),
      col("seq"))

  private def newHostsFrom(frontierDelta: DataFrame, hosts: DataFrame): DataFrame =
    frontierDelta.groupBy("hostHash")
      .agg(min("url").as("__u"), first("ipHash").as("ipHash"))
      .join(hosts.select("hostHash"), Seq("hostHash"), "left_anti")
      .select(
        burl_scheme_authority(col("__u")).as("schemeAuthority"),
        col("hostHash"), col("ipHash"),
        lit(0L).as("nextFetch"), lit(0L).as("stored"),
        lit(!cfg.robotsEnabled).as("robotsDone"), lit(false).as("purged"),
        lit(0).as("retries"), lit(null).cast("string").as("lastError"),
        lit(null).cast("array<string>").as("robotsPrefixes"))

  private def newIpsFrom(frontierDelta: DataFrame, ips: DataFrame): DataFrame =
    frontierDelta.select("ipHash").distinct()
      .join(ips.select("ipHash"), Seq("ipHash"), "left_anti")
      .withColumn("nextFetch", lit(0L))
      .select("ipHash", "nextFetch")

  /** Snapshot `st` as round `st.round` (frontier compacted). */
  private def writeState(st: LiveState): Unit = {
    val round = st.round
    val frontier = compactFrontier(st.frontier, st.tombstones, st.tombRows)
    // Frontier and hosts are laid out by hostHash — the reference's
    // agent-assignment function (BubingJob.java:47-52); at cluster scale
    // this becomes Iceberg bucket partitioning so the per-round
    // frontier/hosts joins are co-partitioned (SURVEY.md §4).
    inParallel(
      () => frontier.repartition(cfg.statePartitions, col("hostHash"))
        .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(stateDir(round, "frontier")),
      () => st.hosts.repartition(math.max(1, cfg.statePartitions / 4), col("hostHash"))
        .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(stateDir(round, "hosts")),
      () => st.ips.repartition(math.max(1, cfg.statePartitions / 4), col("ipHash"))
        .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(stateDir(round, "ips")))
    // scalars LAST: its _SUCCESS is the snapshot-completeness marker.
    // Readers select scalars by name, so extra columns of older snapshots
    // (headsK) are ignored.
    Seq((st.maxSeq, round, st.frontSize))
      .toDF("maxSeq", "round", "frontSize")
      .coalesce(1).write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(stateDir(round, "scalars"))
  }

  /** Append-only tables are round=N partition dirs: one partition-
    * discovering scan with pruning, not a union of per-round reads. */
  private def readSeen(uptoRound: Int): DataFrame =
    spark.read.parquet(s"$workDir/seen")
      .where(col("round") <= uptoRound).select("urlHash")

  private def readDigests(uptoRound: Int): DataFrame = {
    if (!exists(s"$workDir/digests")) emptyDigests
    else spark.read.parquet(s"$workDir/digests")
      .where(col("round") <= uptoRound).select("digest")
  }

  private def loadState(round: Int): LiveState = {
    val sc = spark.read.parquet(stateDir(round, "scalars")).collect()(0)
    val maxSeq = sc.getAs[Long]("maxSeq")
    val frontSize = sc.getAs[Long]("frontSize")
    val frontier = spark.read.parquet(stateDir(round, "frontier"))
    LiveState(round, maxSeq, frontSize, frontier,
      spark.read.parquet(stateDir(round, "hosts")),
      spark.read.parquet(stateDir(round, "ips")),
      readSeen(round), readDigests(round),
      emptyTombstones, pendingRows = frontier.count(), tombRows = 0L)
  }

  // ---------------- bloom bank (broadcast-refreshed URL-seen filter) ----------------

  /** Per-round delta blooms, each built DISTRIBUTED over that round's
    * (small) new-hash delta; consolidated into one full-capacity filter
    * (again distributed, from the seen table) every `bloomMaxDeltas`
    * rounds. No driver-side row collection anywhere (north_rule
    * "broadcast-refreshed bloom URL-seen set"). Each filter is BROADCAST
    * ONCE when built and the broadcast handles are reused across rounds —
    * re-broadcasting the whole bank (tens of MB) every round was a
    * measurable per-round driver serialization + executor re-fetch cost.
    * Dropped handles are unpersisted eagerly (executor copies of the
    * tens-of-MB consolidated filter would otherwise linger until
    * driver-side GC let the ContextCleaner reclaim them). */
  private var bloomBank: Vector[org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]] = Vector.empty
  private var bloomRound: Int = -1

  /** Drop the current bank, releasing executor copies now (non-blocking). */
  private def clearBloomBank(): Unit = {
    bloomBank.foreach(_.unpersist(blocking = false))
    bloomBank = Vector.empty
  }

  private def bloomFilters(state: LiveState)
      : Seq[org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]] = {
    if (state.maxSeq < cfg.bloomMinSeen) return Nil
    if (bloomRound != state.round || bloomBank.isEmpty) {
      // cold start / resume: one consolidated filter from the seen table,
      // sized by the ACTUAL seen row count (maxSeq counts every sieved
      // row), capped at cfg.bloomExpected. Sizing by the configured
      // whole-crawl capacity built a ~58 MB filter when seen held ~1-2 M
      // hashes: full-capacity per-partition partials merged at build time
      // (partitions × 58 MB of allocation + OR traffic), a 58 MB
      // broadcast, and — the real cost — every candidate URL of the
      // widest per-round stream probing a DRAM-resident bitset instead of
      // a cache-resident one (the LLC-capacity contention term of the
      // BASELINE floor model). Exactness is unchanged either way: the
      // bloom only prefilters the exact anti-join, so a smaller filter
      // admits a few % more rows to the exact path and zero result change.
      // The periodic consolidation (extendBloom) re-sizes the same way as
      // the crawl grows.
      clearBloomBank()
      val expected = math.max(1024L, math.min(state.maxSeq, cfg.bloomExpected))
      bloomBank = Vector(spark.sparkContext.broadcast(
        state.seen.stat.bloomFilter("urlHash", expected, cfg.bloomFpp)))
      bloomRound = state.round
    }
    bloomBank
  }

  /** Record this round's delta bloom (built distributed, fused onto the
    * seen write via an observed bloom_agg; null = empty delta) and
    * consolidate when the bank is long. */
  private def extendBloom(delta: org.apache.spark.util.sketch.BloomFilter,
      round: Int): Unit = {
    if (bloomRound >= 0 && bloomBank.nonEmpty) {
      if (delta != null)
        bloomBank :+= spark.sparkContext.broadcast(delta)
      if (bloomBank.size > cfg.bloomMaxDeltas) clearBloomBank() // rebuild next round
    }
    bloomRound = round
  }

  private def maxRoundIn(dir: String, complete: String => Boolean): Int = {
    if (!exists(dir)) return -1
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("round=") => s.stripPrefix("round=").toInt }
      .filter(r => complete(f"$dir/round=$r%05d"))
      .foldLeft(-1)(math.max)
  }

  /** Last round with a complete state snapshot, or -1. */
  def lastCompleteRound(): Int =
    maxRoundIn(s"$workDir/state", d => exists(s"$d/scalars/_SUCCESS"))

  /** Last round with trace appends or a snapshot (>= lastCompleteRound). */
  private def lastAppendRound(): Int =
    math.max(maxRoundIn(s"$workDir/trace", _ => true), lastCompleteRound())

  // ---------------- per-class exception rule columns ----------------

  private def ruleCol(c: Column, f: ExcRule => Long): Column =
    cfg.exceptionRules.foldLeft(lit(f(cfg.exceptionDefault))) {
      case (acc, (name, rule)) => when(c === name, lit(f(rule))).otherwise(acc)
    }
  private def killerCol(c: Column): Column =
    cfg.exceptionRules.foldLeft(lit(cfg.exceptionDefault.killer)) {
      case (acc, (name, rule)) => when(c === name, lit(rule.killer)).otherwise(acc)
    }

  // ---------------- one round ----------------

  /** Execute round `round` (state `round-1` from memory or snapshot).
    * Returns the number of fetch attempts. */
  def runRound(round: Int): Long = {
    val prev = round - 1
    val st = live.filter(_.round == prev).getOrElse(loadState(prev))
    // pending view: append-only frontier minus tombstoned (fetched/dropped)
    // rows; broadcast anti-join = scan-side filter, no frontier shuffle
    val frontier =
      if (st.tombRows == 0) st.frontier
      else st.frontier.join(broadcast(st.tombstones), Seq("urlHash"), "left_anti")
    val hosts = st.hosts
    val ips = st.ips
    val seen = st.seen
    val maxSeq = st.maxSeq
    val now = round.toLong

    // --- politeness selection (SURVEY.md §2.5 workbench) ---
    // ONE pass over the frontier: per-host head window (k' smallest seqs)
    // via hash aggregation with map-side combine — the shuffle carries at
    // most k' narrow rows per host per partition; no window sort, no
    // full-frontier ordering. Priority = head seq (FIFO per host,
    // VisitState.java:284-304); the inner join doubles as the
    // has-pending-work filter.
    val heads = frontier.groupBy("hostHash")
      .agg(topk_heads(col("seq"), col("url"), col("urlHash"), kHeads).as("heads"))

    val nowC = ref_long(now, "now")
    val ipReady = ips.where(col("nextFetch") <= nowC).select("ipHash")
    val eligible = hosts
      .where(!col("purged") && col("nextFetch") <= nowC)
      .join(heads, Seq("hostHash")) // inner: only hosts with pending work
      .join(ipReady.hint("broadcast"), Seq("ipHash"), "left_semi")
      .withColumn("priority", element_at(col("heads"), 1).getField("seq"))
    // one host per IP per round (one VisitState in flight per
    // WorkbenchEntry, ParsingThread.java:271-274); priority (= a seq) is
    // globally unique, so the rank-1 choice is total without tiebreaks —
    // computed as a min-by AGGREGATION (map-side partial combine), not a
    // window sort
    val hostRow = struct(col("hostHash"), col("schemeAuthority"),
      col("retries"), col("lastError"), col("robotsPrefixes"),
      col("robotsDone"), col("heads"))
    val rank1 = eligible
      .groupBy("ipHash")
      .agg(min(struct(col("priority"), hostRow.as("r"))).as("w"))
      .select(col("ipHash"), col("w.priority").as("priority"),
        col("w.r.hostHash").as("hostHash"),
        col("w.r.schemeAuthority").as("schemeAuthority"),
        col("w.r.retries").as("retries"), col("w.r.lastError").as("lastError"),
        col("w.r.robotsPrefixes").as("robotsPrefixes"),
        col("w.r.robotsDone").as("robotsDone"), col("w.r.heads").as("heads"))
    // adaptive front sizing (Frontier.java:824-835): cap the in-flight IP
    // set; grown in the commit phase when a round saturates it
    val frontActive = st.frontSize < Long.MaxValue
    // cached: the selection pipeline (heads agg + rank-1) feeds both the
    // robots and the page branch — without the cache the frontier
    // aggregation would execute once per branch
    val selected =
      (if (frontActive)
        rank1.orderBy("priority").limit(math.min(st.frontSize, Int.MaxValue.toLong).toInt)
      else rank1).cache()

    // robots.txt jumps the host queue (VisitState.java:193-216)
    val attemptCol =
      when(col("lastError").isNull, lit(0)).otherwise(col("retries") + 1).as("attempt")
    val robotsHosts = selected.where(!col("robotsDone"))
    val pageHosts = selected.where(col("robotsDone"))

    val robotsUnits = robotsHosts.select(
      concat(col("schemeAuthority"), lit("/robots.txt")).as("url"),
      col("schemeAuthority"),
      burl_host(col("schemeAuthority")).as("host"),
      lit("/robots.txt").as("pathQuery"),
      murmur64(concat(col("schemeAuthority"), lit("/robots.txt"))).as("urlHash"),
      col("hostHash"), col("ipHash"),
      lit(-1L).as("seq"),
      lit(true).as("isRobots"),
      attemptCol)

    // head-window fetch gate: robots prefixes (riding on the host row — no
    // robots join) + fetchFilter; disallowed heads are dropped in-round,
    // first `burst` survivors are fetched. The heads array is ALREADY
    // seq-sorted, so the burst is an array filter + slice — no per-host
    // window, no exchange.
    def headKeep(h: Column): Column = {
      val u = h.getField("url")
      (col("robotsPrefixes").isNull ||
        respects_robots(burl_path_query(u), col("robotsPrefixes"))) &&
        FilterDsl.compile(cfg.fetchFilter, FilterDsl.urlContext(u))
    }
    // with robots off and a trivial fetch filter the head gate cannot drop
    // anything: skip the per-head predicate work entirely (bench path)
    val windowGatesActive = cfg.robotsEnabled || cfg.fetchFilter != "true"
    val gated =
      if (windowGatesActive) pageHosts
        .withColumn("__kept", filter(col("heads"), h => headKeep(h)))
        .withColumn("__dropped", filter(col("heads"), h => !headKeep(h)))
      else pageHosts
        .withColumn("__kept", col("heads"))
        .withColumn("__dropped", slice(col("heads"), lit(1), lit(0)))
    val disallowed = gated
      .select(explode(col("__dropped")).as("h")).select(col("h.urlHash").as("urlHash"))
    /** hosts whose ENTIRE head window was disallowed this round: they did
      * consume their window, so their nextFetch advances like a fetch
      * (otherwise an all-disallowed window repeats forever); mirrored in
      * OracleCrawler.windowOnly */
    val windowOnlyHosts = gated
      .where(size(col("__kept")) === 0 && size(col("__dropped")) > 0)
      .select("hostHash")
    val pageUnits = gated
      .select(col("hostHash"), col("schemeAuthority"), col("ipHash"),
        col("retries"), col("lastError"),
        explode(slice(col("__kept"), 1, cfg.burst)).as("h"))
      .select(col("h.url").as("url"), col("schemeAuthority"),
        burl_host(col("h.url")).as("host"),
        burl_path_query(col("h.url")).as("pathQuery"),
        col("h.urlHash").as("urlHash"), col("hostHash"), col("ipHash"),
        col("h.seq").as("seq"), lit(false).as("isRobots"), attemptCol)

    // oversplit ONLY the fetch stage: page render+parse cost is lognormal
    // per host, so at partitions==threads the heaviest tasks leave cores
    // idle at the stage tail; 4x granularity lets the scheduler pack.
    // The repartition shuffles just the (small) unit rows, and the finer
    // layout carries through to the equally-heavy link-parse stage that
    // reads the cached fetch batch.
    val units = robotsUnits.unionByName(pageUnits)
      .repartition(cfg.statePartitions * 4, col("urlHash"))
      .as[FetchUnit]

    // --- synthetic fetch + REAL parse (typed Dataset map; pure functions):
    // the page is rendered to markup and run through HtmlParser — links,
    // spans, and digest come from the markup, as in the reference
    // ParsingThread -> HTMLParser path ---
    val webCfg = cfg.web
    val maxBody = cfg.maxBodyChars
    val rnd = round
    val fetched0: Dataset[FetchResult] = units.map { u =>
      val exc = SyntheticWeb.fetchExceptionAt(u.url, u.attempt, webCfg)
      if (exc != null) {
        FetchResult(u.url, u.urlHash, u.schemeAuthority, u.host, u.hostHash, u.ipHash,
          u.seq, 0, u.isRobots, exc, truncated = false, contentType = null,
          digest = null, binaryDigest = null, robotsPrefixes = null,
          spans = Nil, links = Nil, round = rnd)
      } else if (u.isRobots) {
        val prefixes = Robots.parse(SyntheticWeb.robotsContent(u.host, webCfg), "graft").toSeq
        FetchResult(u.url, u.urlHash, u.schemeAuthority, u.host, u.hostHash, u.ipHash,
          u.seq, 200, isRobots = true, excClass = null, truncated = false,
          contentType = "text/plain", digest = null, binaryDigest = null,
          robotsPrefixes = prefixes, spans = Nil, links = Nil, round = rnd)
      } else {
        val status = SyntheticWeb.status(u.url, webCfg)
        if (status == 200) {
          val raw = SyntheticWeb.pageHtml(u.url, webCfg)
          val truncated = raw.length > maxBody
          val html = if (truncated) raw.substring(0, maxBody) else raw
          val pr = HtmlParser.parse(u.url, html)
          // binary (non-parsed) digest is host-seeded (BinaryParser.java:75-81
          // hashes host + NUL + body): identical bodies on DIFFERENT hosts
          // stay distinct unless crossAuthorityDuplicates
          val bin = f"${graft.core.MurmurHash3Bubing.hashString(u.host + "\u0000" + html)}%016x"
          var nb = 0L
          var nm = 0
          pr.spans.foreach { s =>
            nb += s.text.length
            if (s.kind == "media") nm += 1
          }
          FetchResult(u.url, u.urlHash, u.schemeAuthority, u.host, u.hostHash, u.ipHash,
            u.seq, status, isRobots = false, excClass = null, truncated = truncated,
            contentType = "text/html", digest = pr.digest, binaryDigest = bin,
            robotsPrefixes = null, spans = pr.spans, links = pr.links, round = rnd,
            nBytes = nb, nMedia = nm, nLinks = pr.links.size,
            guessedCharset = pr.guessedCharset)
        } else {
          FetchResult(u.url, u.urlHash, u.schemeAuthority, u.host, u.hostHash, u.ipHash,
            u.seq, status, isRobots = false, excClass = null, truncated = false,
            contentType = "text/html", digest = null, binaryDigest = null,
            robotsPrefixes = null, spans = Nil, links = Nil, round = rnd)
        }
      }
    }.cache()

    // an exception aborts the host's keep-alive burst: results after the
    // first failing seq are voided (urls stay pending) — the reference
    // processes a visit state's burst sequentially and stops on error
    val fetched: DataFrame =
      if (webCfg.failEvery <= 0) fetched0.toDF
      else {
        val failCut = fetched0.toDF.where(col("excClass").isNotNull)
          .groupBy("hostHash").agg(min("seq").as("__failSeq"))
        fetched0.toDF.join(broadcast(failCut), Seq("hostHash"), "left")
          .where(col("__failSeq").isNull || col("seq") <= col("__failSeq"))
          .drop("__failSeq")
      }

    // ONE job: the trace sink (the crawl-ordering artifact; round =
    // partition dir) materializes the fetch cache AND carries the round
    // scalars via an Observation riding the write — the separate
    // statistics pass over the cached batch is fused away. Zero-fetch
    // rounds write an empty trace partition (harmless to readers).
    val traceObs = org.apache.spark.sql.Observation()
    fetched
      .select(col("seq"), col("url"), col("isRobots"), col("status"), col("excClass"),
        col("nLinks"))
      .observe(traceObs, count(lit(1)).as("cnt"),
        min("seq").as("lo"), max("seq").as("hi"),
        sum("nLinks").as("nl")) // raw-outlink upper bound, sizes the batch bloom
      .drop("nLinks")
      .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("trace", round))
    val obsRow = traceObs.get
    val fetchedCount = obsRow("cnt").asInstanceOf[Long]
    val linksUpper = obsRow("nl") match {
      case null => 0L
      case l: java.lang.Long => l.longValue()
    }
    if (fetchedCount == 0) {
      // a politeness wait, or the head gate dropped URLs: then commit the
      // window tombstones and advance the all-disallowed hosts' nextFetch,
      // or the identical empty round would repeat until maxRounds
      // (mirrored in OracleCrawler)
      val (disLc, disRows) =
        if (windowGatesActive) { val d = lc(disallowed); (d, d.count()) } else (null, 0L)
      val hostsNext =
        if (disRows == 0) hosts
        else hosts
          .join(broadcast(windowOnlyHosts.withColumn("__wo", lit(true))), Seq("hostHash"), "left")
          .withColumn("nextFetch", when(coalesce(col("__wo"), lit(false)),
            ref_long(now + cfg.hostDelay, "nowHostDelay")).otherwise(col("nextFetch")))
          .drop("__wo")
      live = Some(commit(foldTombstones(st, disLc, disRows).copy(round = round, hosts = hostsNext),
        hostsMem = if (disRows == 0) hosts else lc(hostsNext), ipsMem = ips))
      bloomRound = round
      fetched0.unpersist(); selected.unpersist()
      return 0
    }

    // --- response filter gates (parse/follow/store, ParsingThread.java:343,359,398) ---
    val pages0 = fetched.where(!col("isRobots") && col("status") === 200)
    val emptySpans = lit(null).cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    val pages =
      if (gatesTrivial) pages0.withColumn("__store", lit(true))
      else {
        val respCtx = FilterDsl.urlContext(col("url")).copy(
          contentType = Some(col("contentType")),
          status = Some(col("status")),
          text = Some(array_join(transform(col("spans"), s => s.getField("text")), " ")),
          digest = Some(col("digest")),
          isHttpResponse = Some(lit(true)))
        pages0
          .withColumn("__parse", FilterDsl.compile(cfg.parseFilter, respCtx))
          .withColumn("__follow", FilterDsl.compile(cfg.followFilter, respCtx))
          .withColumn("__store", FilterDsl.compile(cfg.storeFilter, respCtx))
          .withColumn("digest", when(col("__parse"), col("digest")).otherwise(col("binaryDigest")))
          .withColumn("spans", when(col("__parse"), col("spans")).otherwise(emptySpans))
          .withColumn("links",
            when(col("__parse") && col("__follow"), col("links"))
              .otherwise(lit(null).cast("array<string>")))
      }

    // --- store: digest-keyed exact duplicate detection + docs sink ---
    // (digests cover ALL parsed pages; the store filter gates only the sink)
    val digestsSeen = st.digests
    val (linkSources, docs, newDigests) = if (cfg.storeDocs) {
      val flagged = Crawler
        .flagDuplicates(pages, digestsSeen, probe = fetchedCount <= cfg.probeThreshold)
        .cache()
      val nd = flagged.where(!col("is_duplicate")).select("digest").distinct()
      // duplicate pages contribute no outlinks (ParsingThread.java:408-410)
      (flagged.where(!col("is_duplicate")), flagged, nd)
    } else (pages, pages.limit(0), emptyDigests)

    // independent sinks + the link-batch materialization, overlapped
    var duplicates = 0L
    var dedupIn = 0L

    // --- outlink extraction -> schedule filter -> sieve (SURVEY.md §3.2) ---
    // link-typed schedule-filter context (the reference filters
    // Filter<Link> over (source, target), ParsingThread.java:181-184,
    // Link.java:26-39): the parent host column rides along only when the
    // DSL actually references it — burl_host per link is hot-path cost
    val linkTyped = cfg.scheduleFilter.contains("SameHost")
    val rawLinks = linkSources
      .select((col("seq").as("parentSeq") +:
        (if (linkTyped) Seq(burl_host(col("url")).as("srcHost")) else Nil)) :+
        posexplode(coalesce(col("links"), array())).as(Seq("linkIdx", "spec")): _*)
    val hostBlacklistGate =
      if (cfg.blacklistHosts.isEmpty) lit(true)
      else !burl_host(col("url")).isin(cfg.blacklistHosts: _*)
    val ipBlacklistGate =
      if (cfg.blacklistIps.isEmpty) lit(true)
      else !ip_of_host(burl_host(col("url")), cfg.ipSpace).isin(cfg.blacklistIps: _*)
    val schedCtx0 = FilterDsl.urlContext(col("url"))
    val schedCtx =
      if (linkTyped) schedCtx0.copy(srcHost = Some(col("srcHost")), dstHost = schedCtx0.host)
      else schedCtx0
    val parsedLinks = rawLinks
      .withColumn("url", burl_parse(col("spec")))
      .where(col("url").isNotNull)
      .where(FilterDsl.compile(cfg.scheduleFilter, schedCtx))
      .where(hostBlacklistGate && ipBlacklistGate)
      .withColumn("urlHash", murmur64(col("url")))
      .select("url", "urlHash", "parentSeq", "linkIdx")
      .cache()

    // --- per-host state machine (reference ParsingThread.java:253-312) ---
    val hostAgg = fetched.groupBy("hostHash").agg(
      sum(when(!col("isRobots") && col("excClass").isNull && col("status") === 200, 1L)
        .otherwise(0L)).as("__stored"),
      sum(when(!col("isRobots") && col("excClass").isNull, 1L).otherwise(0L)).as("__done"),
      max(col("isRobots") && col("excClass").isNull).as("__robotsFetched"),
      min(when(col("excClass").isNotNull,
        struct(col("seq"), col("excClass"), col("urlHash"), col("isRobots")))).as("__exc"),
      first(when(col("isRobots") && col("excClass").isNull, col("robotsPrefixes")),
        ignoreNulls = true).as("__prefixes"))

    val excC = col("__exc").getField("excClass")
    val excIsRobots = coalesce(col("__exc").getField("isRobots"), lit(false))
    val touched = col("__touched")
    // any non-exception fetch this round clears lastError BEFORE the
    // exception is classified (bursts are seq-ordered; voided results sit
    // after the exception, successes before it)
    val anyOk = coalesce(col("__done"), lit(0L)) > 0 || coalesce(col("__robotsFetched"), lit(false))
    val lastAfterOk = when(anyOk, lit(null).cast("string")).otherwise(col("lastError"))
    // reference retry-counter quirk (ParsingThread.java:282-289): reset
    // only when the previous class was null; a class SWITCH keeps retries
    val retriesNew = when(excC.isNull, col("retries"))
      .when(lastAfterOk.isNull, lit(0))
      .when(lastAfterOk === excC, col("retries") + 1)
      .otherwise(col("retries"))
    val waitC = ruleCol(excC, _.waitRounds)
    val maxRetC = ruleCol(excC, _.maxRetries.toLong)
    val killC = killerCol(excC)
    val retryable = retriesNew < maxRetC
    // purge: killer class exhausted, or ANY repeated robots error
    // (ParsingThread.java:299-302), or the per-host budget reached
    val purgeByExc = excC.isNotNull && !retryable && (killC || excIsRobots)
    val dropUrl = excC.isNotNull && !retryable && !killC && !excIsRobots

    // all transition columns are computed against the ORIGINAL host row in
    // one select (no withColumn chains — later columns must not see
    // earlier overwrites)
    val nowRef = ref_long(now, "now")
    val hostDelayRef = ref_long(now + cfg.hostDelay, "nowHostDelay")
    val backoff = nowRef + waitC * pow(lit(2.0), retriesNew.cast("double")).cast("long")
    val storedNew = col("stored") + coalesce(col("__stored"), lit(0L))
    // all-disallowed-window hosts consumed their window without a fetch:
    // their nextFetch advances like a fetch (disjoint from hostAgg — such
    // a host produced no fetch units)
    val hostsBase =
      if (windowGatesActive)
        hosts.join(broadcast(windowOnlyHosts.withColumn("__wo", lit(true))), Seq("hostHash"), "left")
      else hosts.withColumn("__wo", lit(false))
    val hostsU = hostsBase
      .join(broadcast(hostAgg.withColumn("__touched", lit(true))), Seq("hostHash"), "left")
      .select(
        col("schemeAuthority"), col("hostHash"), col("ipHash"),
        when(touched.isNull,
            when(coalesce(col("__wo"), lit(false)), hostDelayRef).otherwise(col("nextFetch")))
          .when(excC.isNull, hostDelayRef)
          .when(retryable, backoff)
          .otherwise(hostDelayRef).as("nextFetch"),
        storedNew.as("stored"),
        (col("robotsDone") || coalesce(col("__robotsFetched"), lit(false))).as("robotsDone"),
        (col("purged") || coalesce(touched && purgeByExc, lit(false)) ||
          storedNew >= cfg.maxUrlsPerHost).as("purged"),
        when(touched.isNull, col("retries"))
          .when(excC.isNull, when(anyOk, lit(0)).otherwise(col("retries")))
          .otherwise(retriesNew).as("retries"),
        when(touched.isNull, col("lastError"))
          .when(excC.isNull || !retryable, lit(null).cast("string"))
          .otherwise(excC).as("lastError"),
        coalesce(col("__prefixes"), col("robotsPrefixes")).as("robotsPrefixes"),
        coalesce(touched, lit(false)).as("__t"),
        coalesce(touched && dropUrl, lit(false)).as("__drop"),
        when(coalesce(touched && dropUrl, lit(false)),
          col("__exc").getField("urlHash")).as("__dropHash"))
      .cache()

    val droppedUrls = hostsU.where(col("__drop")).select(col("__dropHash").as("urlHash"))
    val hostCols = Seq("schemeAuthority", "hostHash", "ipHash", "nextFetch", "stored",
      "robotsDone", "purged", "retries", "lastError", "robotsPrefixes")

    // --- state deltas ---
    // completed page URLs (any real HTTP status) leave the frontier;
    // exception URLs stay (retry) unless dropped; disallowed heads leave
    val completedUrls = fetched
      .where(!col("isRobots") && col("excClass").isNull).select("urlHash")
    val tombstoneDelta = completedUrls.unionByName(disallowed).unionByName(droppedUrls)

    val blooms = bloomFilters(st)
    // delta blooms extend an EXISTING bank (cold-start rounds build the
    // consolidated filter instead next round)
    val wantDeltaBloom = bloomRound >= 0 && bloomBank.nonEmpty
    // parentSeq bounds of this round's links drive the deterministic rank
    // buckets (from the trace-write Observation's scalars)
    val (loSeq, hiSeq) = obsRow("lo") match {
      case null => (0L, 0L)
      case l: java.lang.Long => (l.longValue(), obsRow("hi").asInstanceOf[Long])
    }

    // --- overlapped round tail, DEPENDENCY-driven (no phase barrier):
    // the sinks, host/tomb state folds, and the SIEVE CHAIN are mutually
    // independent DAG branches; the rank chain, seen append, and delta
    // bloom need ONLY the materialized sieve output. r3/r4 ran these as
    // two barriered phases, so the rank/seen/bloom start also waited on
    // the docs sink and the state folds — each phase tail ran its longest
    // branch alone while the rest of the executor idled (the r4 floor
    // decomposition pins occupancy — 0.64 at 16t vs 0.84 at 4t — as the
    // one engine-controllable efficiency term). Here the dependents
    // launch the moment the sieve gate completes. ---
    var sievedInput: DataFrame = null
    var tombs: LiveState = null
    var sieved: DataFrame = null
    var sieveOut = 0L
    var newDelta: DataFrame = null
    inParallelStaged(independent = Seq(
      // (the trace sink already ran — it doubles as the fetch-cache
      // materialization job, with the round scalars observed on it)
      // robots store sink (the robots WARC stream,
      // ParsingThread.java:325-327): every robots.txt response
      () => if (cfg.storeDocs) fetched
        .where(col("isRobots"))
        .select(col("url"), col("schemeAuthority"), col("status"),
          col("excClass"), col("robotsPrefixes"))
        .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("robots_fetches", round)),
      () => if (cfg.storeDocs) {
        // the duplicates telemetry rides the docs write as an observed
        // aggregate BELOW the store filter (all flagged pages flow through
        // the metrics point) — no separate count job over the batch
        val dupObs = org.apache.spark.sql.Observation()
        docs
          .observe(dupObs,
            sum(col("is_duplicate").cast("long")).as("dups"))
          .where(col("__store"))
          .select(col("url").as("doc_id"), col("schemeAuthority"), col("spans"),
            col("digest"), col("status"), col("is_duplicate"), col("truncated"),
            col("guessedCharset").as("guessed_charset"),
            size(coalesce(col("links"), array())).as("n_links"),
            // external outdegree: links whose host differs from the page's.
            // DELIBERATE DEVIATION from ParsingThread.java:386-389, which
            // counts a null-host (unparseable-host) link as external
            // (!currentHost.equals(null-host) is true); here `=!=` is
            // null-false, so such links are EXCLUDED — chosen for ANSI-SQL
            // oracle expressibility (null-safe inequality round-trips
            // through DuckDB; the reference's null-is-external does not)
            size(filter(coalesce(col("links"), array()),
              l => burl_host(l) =!= burl_host(col("url"))))
              .as("n_links_ext")) // round = partition dir
          .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("docs", round))
        duplicates = dupObs.get("dups") match {
          case null => 0L
          case l: java.lang.Long => l.longValue()
        }
        newDigests.write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("digests", round))
      },
      // the tombstone DELTA fold, independent of the sieve (its dropped-URL
      // part materializes the hostsU cache + hostAgg broadcast)
      () => {
        val deltaLc = lc(tombstoneDelta)
        tombs = foldTombstones(st, deltaLc, deltaLc.count()) // cheap: counts the lc'd blocks
      }),
      // link batch + sieve (the GATE): the seen store is only ever
      // SCANNED, never shuffled/sorted/broadcast (scan-probe; the r2 SMJ
      // path re-shuffled all accumulated seen hashes every round). The
      // candidate count and the batch bloom come out of ONE aggregation
      // over the link cache (bloom_agg riding the count job) — separately
      // they cost two full passes over the widest per-round stream.
      gate = () => {
        if (blooms.nonEmpty) {
          val (c, bb) = Sieve.bloomAggParallel(parsedLinks, "urlHash",
            math.max(linksUpper, 1024L), Sieve.BatchBloomFpp, bloomMergeGroups)
          dedupIn = c
          sievedInput = Sieve.newUrlsScanProbe(parsedLinks, seen,
            Seq("parentSeq", "linkIdx"), blooms, lc,
            broadcastLimit = cfg.probeThreshold,
            candidateCount = dedupIn, seenCount = maxSeq,
            prebuiltBatchBloom = bb)
        } else {
          dedupIn = parsedLinks.count()
          sievedInput = Sieve
            .newUrls(parsedLinks, seen, Seq("parentSeq", "linkIdx"), Nil,
              broadcastProbe = dedupIn <= cfg.probeThreshold)
            .transform(lc)
        }
      },
      // rank assignment + frontier delta (the sequential rank chain),
      // the seen append, and the delta bloom — all three consume only
      // sievedInput and start the moment the gate completes
      dependents = Seq(
      () => {
        // 8x-oversplit buckets: parentSeq density is uneven (popular hosts
        // sit at low seqs), so fine-grained monotone buckets keep the rank
        // window's tasks balanced. First new seq is exactly maxSeq (dense
        // continuation of enqueue order).
        val r = Sieve.assignSeq(
          sievedInput, Seq("parentSeq", "linkIdx"), startSeq = maxSeq - 1L,
          Sieve.linearBuckets(col("parentSeq"), loSeq, hiSeq, math.max(8, cfg.statePartitions * 8)))
        sieved = r._1
        sieveOut = r._2
        // budget: enforced at sieve exit like Frontier.append (Frontier.java:810-814)
        val newFrontierAll = toFrontier(sieved.select("url", "urlHash", "seq"))
        val newFrontier = (if (cfg.maxUrlsPerHost == Long.MaxValue) newFrontierAll
          else {
            val withStored = newFrontierAll
              .join(hosts.select("hostHash", "stored"), Seq("hostHash"), "left")
              .na.fill(0L, Seq("stored"))
            val k = math.min(cfg.maxUrlsPerHost, Int.MaxValue.toLong).toInt
            Ranking.topKPerKey(withStored, "hostHash", Seq("seq"), k, rankCol = "__r")
              .where(col("stored") + col("__r") <= cfg.maxUrlsPerHost)
              .drop("__r", "stored")
          })
        // (measured: repartitioning the delta by hostHash here costs more
        // shuffle bytes than the heads aggregation's partial buffers save
        // — the delta rows outnumber hosts; the frontier is re-clustered
        // by hostHash only at compaction/snapshot)
        newDelta = lc(newFrontier.select(st.frontier.columns.map(col): _*))
      },
      // seen append: ALL sieved urls (even budget-dropped ones are "seen"
      // — the reference sieve recorded them before append()'s budget
      // re-check)
      () => sievedInput.select("urlHash")
        .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("seen", round)),
      // per-round DELTA bloom (sized by dedupIn, an upper bound on the
      // delta): a plain bloom_agg AGGREGATION job over the lc'd sieve
      // output — partial filters merge executor-side through the
      // aggregation exchange and ONE merged filter reaches the driver.
      // (An Observation on the seen write was tried and reverted: observed
      // metrics ship every task's full-size partial buffer in its task
      // result, O(tasks x filterSize) to the driver — at cluster partition
      // counts that exceeds maxResultSize; this shape scales, and the job
      // overlaps the rank chain in this phase anyway.)
      () => {
        if (wantDeltaBloom && dedupIn > 0) {
          val (_, bf) = Sieve.bloomAggParallel(sievedInput, "urlHash",
            math.max(dedupIn, 1024L), cfg.bloomFpp, bloomMergeGroups)
          extendBloom(bf, round)
        } else extendBloom(null, round)
      }))

    val dedupOut =
      if (cfg.maxUrlsPerHost == Long.MaxValue) sieveOut else newDelta.count()

    val hostsNext = hostsU.select(hostCols.map(col): _*)
      .unionByName(newHostsFrom(newDelta, hosts))
    // touched IPs from the (cached) host aggregate instead of a fresh
    // scan+distinct of `fetched`: selection is rank-1 per IP, so touched
    // hosts already have pairwise-distinct IPs
    val ipTouched = hostsU.where(col("__t")).select("ipHash")
    val ipsBase = ips
      .join(broadcast(ipTouched.withColumn("__hit", lit(true))), Seq("ipHash"), "left")
    val ipsUpdated =
      if (cfg.knownAgents > 1 && cfg.ipDelayFactor != 0) {
        // multi-agent IP-delay model (ParsingThread.java:271-274): delay
        // scales with the pre-round count k of non-purged hosts on the IP
        val kCounts = hosts.where(!col("purged"))
          .join(broadcast(ipTouched), Seq("ipHash"), "left_semi")
          .groupBy("ipHash").agg(count(lit(1)).as("__k"))
        val k = coalesce(col("__k"), lit(1L)).cast("double")
        val delayEff = greatest(lit(cfg.ipDelay),
          (lit(cfg.ipDelay * cfg.ipDelayFactor * cfg.knownAgents) * k / (k + lit(1.0)))
            .cast("long"))
        ipsBase.join(broadcast(kCounts), Seq("ipHash"), "left")
          .withColumn("nextFetch",
            when(col("__hit"), ref_long(now, "now") + delayEff).otherwise(col("nextFetch")))
          .drop("__k")
      } else ipsBase
        .withColumn("nextFetch",
          when(col("__hit"), ref_long(now + cfg.ipDelay, "nowIpDelay")).otherwise(col("nextFetch")))
    val ipsNext = ipsUpdated
      .drop("__hit")
      .unionByName(newIpsFrom(newDelta, ips))

    // --- per-partition lineage + metrics (north_rule): per-partition rows
    // carry only per-partition quantities; round-global quantities live on
    // ONE partition_id=-1 row ---
    val perPartition = fetched
      .withColumn("partition_id", spark_partition_id())
      .groupBy("partition_id")
      .agg(count(lit(1)).as("fetched"),
        sum(when(col("isRobots") && col("excClass").isNull, 1L).otherwise(0L)).as("robots_fetched"),
        sum(when(col("status") === 200 && !col("isRobots"), 1L).otherwise(0L)).as("parsed"),
        sum(when(col("excClass").isNotNull, 1L).otherwise(0L)).as("failed"),
        // bytes + media-span + link counters (reference Frontier
        // transferredBytes / contentType-class counters) come from the
        // fetch-map-precomputed scalars: aggregating the raw spans/links
        // columns here forced a full decompression of the fat columns of
        // the cached fetch batch just for telemetry
        sum("nLinks").cast("long").as("links_out"),
        sum("nBytes").cast("long").as("bytes_fetched"),
        sum("nMedia").cast("long").as("media_spans"))
      .na.fill(0L, Seq("bytes_fetched", "media_spans"))
      .withColumn("dedup_in", lit(0L))
      .withColumn("dedup_out", lit(0L))
      .withColumn("duplicates", lit(0L))
    val globalRow = Seq((-1, 0L, 0L, 0L, 0L, 0L, 0L, 0L, dedupIn, dedupOut, duplicates))
      .toDF("partition_id", "fetched", "robots_fetched", "parsed", "failed",
        "links_out", "bytes_fetched", "media_spans", "dedup_in", "dedup_out", "duplicates")
    val metricsOut = perPartition
      .select("partition_id", "fetched", "robots_fetched", "parsed", "failed",
        "links_out", "bytes_fetched", "media_spans", "dedup_in", "dedup_out", "duplicates")
      .unionByName(globalRow) // round = partition dir

    // --- commit: snapshot on cadence, thread state in memory otherwise ---
    // all state materializations + the metrics sink are independent
    val snapDue = snapshotDue(round)
    var hNextMem: DataFrame = null
    var iNextMem: DataFrame = null
    var digestsLc: DataFrame = null
    var selHosts = 0L
    inParallel(
      () => metricsOut.write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("metrics", round)),
      () => if (!snapDue) hNextMem = hostsNext.transform(lc),
      () => if (!snapDue) iNextMem = ipsNext.transform(lc),
      () => if (cfg.storeDocs) digestsLc = newDigests.transform(lc),
      () => if (frontActive) selHosts = fetched.select("hostHash").distinct().count())

    // adaptive front growth: a saturated round doubles the cap
    val frontSizeNext =
      if (!frontActive) st.frontSize
      else if (selHosts >= st.frontSize) {
        val grown = st.frontSize * cfg.frontGrowth
        if (grown > 0) grown else Long.MaxValue
      } else st.frontSize
    live = Some(commit(tombs.copy(round = round, maxSeq = maxSeq + sieveOut,
        frontSize = frontSizeNext, frontier = st.frontier.unionByName(newDelta),
        hosts = hostsNext, ips = ipsNext,
        seen = seen.unionByName(sievedInput.select("urlHash")),
        digests = if (cfg.storeDocs) st.digests.unionByName(digestsLc) else st.digests,
        pendingRows = tombs.pendingRows + dedupOut),
      hostsMem = hNextMem, ipsMem = iNextMem))

    fetched0.unpersist(); selected.unpersist()
    parsedLinks.unpersist(); hostsU.unpersist()
    if (cfg.storeDocs) docs.unpersist()
    fetchedCount
  }

  private def snapshotDue(round: Int): Boolean =
    cfg.checkpointEvery <= 1 || round % cfg.checkpointEvery == 0

  /** Append a round's lc'd tombstone delta (`deltaRows` rows) to the lazy
    * union chain and take its rows out of the pending count. Only deltas
    * (∝ burst) are ever materialized; re-materializing the accumulated set
    * every round would be a copy that grows with the crawl. A chain of
    * `tombstoneFoldParts` parts is folded into one block (plan-size
    * hygiene: politeness-heavy crawls accumulate many small deltas between
    * compactions). An empty delta leaves the state as it is. */
  private def foldTombstones(st: LiveState, deltaLc: DataFrame, deltaRows: Long): LiveState =
    if (deltaRows == 0) st
    else {
      val fold = st.tombParts >= cfg.tombstoneFoldParts
      val chain = st.tombstones.unionByName(deltaLc)
      st.copy(tombstones = if (fold) lc(chain) else chain,
        tombParts = if (fold) 1 else st.tombParts + 1,
        tombRows = st.tombRows + deltaRows, pendingRows = st.pendingRows - deltaRows)
    }

  /** Commit a round's next state, for fetch and zero-fetch rounds alike. On
    * the snapshot cadence the state is written (frontier compacted) and read
    * back. Otherwise the frontier is compacted in memory once
    * `tombstoneCompactRows` tombstones accumulate, or else carried forward
    * with its lazy tombstone chain; `hostsMem`/`ipsMem` are the materialized
    * tables carried when no snapshot is written. */
  private def commit(next: LiveState, hostsMem: => DataFrame, ipsMem: => DataFrame): LiveState = {
    val round = next.round
    val cleared = next.copy(tombstones = emptyTombstones, tombRows = 0L, tombParts = 0)
    if (snapshotDue(round)) {
      writeState(next)
      cleared.copy(frontier = spark.read.parquet(stateDir(round, "frontier")),
        hosts = spark.read.parquet(stateDir(round, "hosts")),
        ips = spark.read.parquet(stateDir(round, "ips")))
    } else if (next.tombRows >= cfg.tombstoneCompactRows)
      // amortized GC; re-spread by hostHash: the SMJ output would
      // otherwise collapse to shuffle.partitions partitions whose
      // per-partition distinct-host counts push the heads aggregation
      // into its sort-based fallback (and hostHash layout lets the next
      // heads groupBy skip its exchange entirely)
      cleared.copy(frontier = compactFrontier(next.frontier, next.tombstones, next.tombRows)
          .repartition(cfg.statePartitions * 4, col("hostHash")).transform(lc),
        hosts = hostsMem, ips = ipsMem)
    else next.copy(hosts = hostsMem, ips = ipsMem)
  }

  /** frontier ∖ tombstones for compaction/snapshot: bloom-prefiltered,
    * DISTRIBUTED exact anti-join (no driver-built broadcast: at compaction
    * the tombstone set is millions of rows and the driver-side hash-relation
    * build is a non-scaling cost; the per-round pending view keeps the
    * broadcast because between compactions the set stays small). A plain
    * sort-merge anti-join sorts and shuffles the WHOLE frontier to delete a few
    * percent of its rows; instead probe a bloom built over the tombstone
    * hashes (one cheap pass over the lc'd deltas): rows the filter
    * rejects are definitely live and never shuffle, and only the
    * maybe-tombstoned slice (true hits + fpp of the rest) pays the exact
    * anti-join. Membership stays EXACT — false positives just ride the
    * anti-join. The frontier inputs are lc'd/parquet so the two-predicate
    * double scan re-reads cache/columnar blocks, not recomputed plans.
    * Shuffle volume drops from O(frontier) to O(tombstones + fpp·frontier)
    * — the same scan-probe shape the sieve uses against the seen store.
    * The broadcast filter (~1.2 MB/M tombstones at 1% fpp) is dropped
    * with the session; compaction fires once per `tombstoneCompactRows`
    * (and once at the final snapshot), so handles don't accumulate. */
  private def compactFrontier(frontier: DataFrame, tombstones: DataFrame,
      tombRows: Long): DataFrame = {
    if (tombRows <= 0) frontier
    else {
      val (_, bf) = Sieve.bloomAggParallel(tombstones, "urlHash",
        math.max(tombRows, 1024L), CompactBloomFpp, bloomMergeGroups)
      if (bf == null) frontier
      else {
        val hit = might_contain_bank(col("urlHash"),
          Seq(spark.sparkContext.broadcast(bf)))
        frontier.where(!hit).unionByName(
          frontier.where(hit)
            .join(tombstones.hint("shuffle_merge"), Seq("urlHash"), "left_anti"))
      }
    }
  }

  /** fpp of the compaction prefilter: false positives only divert rows to
    * the exact anti-join, so this trades filter size against the maybe-
    * slice's shuffle volume (1% of the frontier). */
  private val CompactBloomFpp = 0.01

  /** Force a snapshot of the current live state (used at end of run). */
  private def snapshotLive(): Unit = live.foreach { st =>
    if (!exists(stateDir(st.round, "scalars") + "/_SUCCESS")) writeState(st)
  }

  /** Run (or resume) the crawl up to cfg.maxRounds; returns rounds executed.
    * A round with zero fetches is a politeness wait, not necessarily the
    * end: the crawl is drained only when the frontier itself is empty. */
  /** (round, fetched, wall-sec) per executed round — bench/probe telemetry
    * for the fixed-cost-vs-round-size analysis. */
  val roundWalls = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
  /** Optional monotonic counter sampled at round boundaries (bench wiring:
    * cumulative executorRunTime ms from a SparkListener). roundRunMs(i) is
    * the delta across round i — the per-round occupancy numerator. Listener
    * events are posted asynchronously, so a tail of a round's stages can
    * smear into the next sample; the smear is a few ms against multi-second
    * rounds and is disclosed where the numbers are published. */
  var roundCounter: () => Long = () => 0L
  val roundRunMs = scala.collection.mutable.ArrayBuffer.empty[Long]
  /** wall seconds of the outside-the-round-loop phases (probe/bench
    * telemetry): seed init and the final forced snapshot. */
  var initWall = 0.0
  var snapshotWall = 0.0

  def run(): Int = withRaisedBloomCaps {
    var round = lastCompleteRound()
    if (round < 0) {
      val ti = System.nanoTime()
      init(); round = 0
      initWall = (System.nanoTime() - ti) / 1e9
    }
    var executed = 0
    var drained = false
    while (round < cfg.maxRounds && !drained) {
      round += 1
      val t0 = System.nanoTime()
      val c0 = roundCounter()
      val n = runRound(round)
      val wall = (System.nanoTime() - t0) / 1e9
      roundWalls += ((round, n, wall))
      roundRunMs += roundCounter() - c0
      if (cfg.logRounds)
        println(f"[crawler] round=$round fetched=$n wall=$wall%.1fs")
      executed += 1
      if (n == 0)
        drained = live.forall(_.pendingRows <= 0)
    }
    val ts = System.nanoTime()
    snapshotLive()
    snapshotWall = (System.nanoTime() - ts) / 1e9
    executed
  }

  /** The crawl-order trace: (round, seq, url, isRobots, status, excClass),
    * ordered. One partition-discovering scan (round = partition column). */
  def trace(): DataFrame = {
    if (!exists(s"$workDir/trace"))
      Seq.empty[(Int, Long, String, Boolean, Int, String)]
        .toDF("round", "seq", "url", "isRobots", "status", "excClass")
    else spark.read.parquet(s"$workDir/trace")
      .where(col("round") <= lastAppendRound())
      .select("round", "seq", "url", "isRobots", "status", "excClass")
      .orderBy("round", "seq")
  }

  /** All stored docs so far (single pruned scan; round = partition col). */
  def docs(): DataFrame =
    spark.read.parquet(s"$workDir/docs")
      .where(col("round") <= lastAppendRound())

  /** Final URL-seen membership (hashes). */
  def seenHashes(): DataFrame = readSeen(lastAppendRound())

  /** Frontier state table at the last snapshot. */
  def frontierState(): DataFrame =
    spark.read.parquet(stateDir(lastCompleteRound(), "frontier"))

  /** Hosts state table at the last snapshot. */
  def hostsState(): DataFrame =
    spark.read.parquet(stateDir(lastCompleteRound(), "hosts"))

  /** All per-round metrics (single pruned scan; round = partition col). */
  def metrics(): DataFrame = {
    if (!exists(s"$workDir/metrics")) spark.emptyDataset[RoundMetrics].toDF
    else spark.read.parquet(s"$workDir/metrics")
      .where(col("round") <= lastAppendRound())
      .select("round", "partition_id", "fetched", "robots_fetched", "parsed",
        "failed", "links_out", "bytes_fetched", "media_spans",
        "dedup_in", "dedup_out", "duplicates")
  }

  /** All stored robots.txt responses (the robots WARC stream analog;
    * single pruned scan, round = partition col). */
  def robotsFetches(): DataFrame = {
    if (!exists(s"$workDir/robots_fetches"))
      Seq.empty[(String, String, Int, String, Seq[String], Int)]
        .toDF("url", "schemeAuthority", "status", "excClass", "robotsPrefixes", "round")
    else spark.read.parquet(s"$workDir/robots_fetches")
      .where(col("round") <= lastAppendRound())
  }
}
