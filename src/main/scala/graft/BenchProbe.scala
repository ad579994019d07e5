package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.frontier.{CrawlConfig, Crawler}
import graft.synth.SyntheticWeb

/** Diagnostic main for the frontier-scaling work: runs the bench crawl at
  * one parallelism level and prints aggregate task metrics (CPU vs GC vs
  * shuffle vs spill), so 8-vs-32-thread regressions can be attributed
  * instead of guessed at. Not part of the driver contract.
  *
  * Usage: runMain graft.BenchProbe <threads> <seeds> [workBase]
  */
object BenchProbe {

  final class MetricsListener extends SparkListener {
    @volatile var runTime = 0L
    @volatile var cpuTime = 0L // ns
    @volatile var gcTime = 0L
    @volatile var shuffleWrite = 0L
    @volatile var shuffleRead = 0L
    @volatile var memSpill = 0L
    @volatile var diskSpill = 0L
    @volatile var inputBytes = 0L
    @volatile var outputBytes = 0L
    @volatile var serTime = 0L
    @volatile var deserTime = 0L
    @volatile var shuffleWriteTime = 0L // ns
    @volatile var shuffleFetchWait = 0L
    @volatile var stages = 0L
    val perStage = mutable.ArrayBuffer.empty[(String, Long, Long, Long, Long, Int)]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val m = sc.stageInfo.taskMetrics
      val wallMs = (for {
        s <- sc.stageInfo.submissionTime; e <- sc.stageInfo.completionTime
      } yield e - s).getOrElse(0L)
      if (m != null) {
        perStage += ((sc.stageInfo.name.take(70), wallMs, m.executorRunTime,
          m.executorCpuTime / 1000000, m.shuffleWriteMetrics.writeTime / 1000000,
          sc.stageInfo.numTasks))
        runTime += m.executorRunTime
        cpuTime += m.executorCpuTime
        gcTime += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        inputBytes += m.inputMetrics.bytesRead
        outputBytes += m.outputMetrics.bytesWritten
        serTime += m.resultSerializationTime
        deserTime += m.executorDeserializeTime
        shuffleWriteTime += m.shuffleWriteMetrics.writeTime
        shuffleFetchWait += m.shuffleReadMetrics.fetchWaitTime
        stages += 1
      }
    }
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long, String)] // id, start, end, site
    private val jobStart = mutable.Map.empty[Int, (Long, String)]
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val site = Option(js.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
      jobStart(js.jobId) = (js.time, site)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(je.jobId).foreach { case (t0, site) =>
        jobs += ((je.jobId, t0, je.time, site))
      }
    }
    /** Sequential job timeline with driver-side gaps (plan/optimize/collect
      * time between jobs) — gaps are where a non-scaling wall floor hides. */
    def timeline(minMs: Long): String = synchronized {
      val sorted = jobs.sortBy(_._2).toVector
      val sb = new StringBuilder
      var lastEnd = 0L
      var gapTotal = 0L
      var jobTotal = 0L
      for ((id, s, e, site) <- sorted) {
        val gap = if (lastEnd == 0) 0 else s - lastEnd
        if (gap > 0) gapTotal += gap
        jobTotal += e - s
        if (e - s >= minMs || gap >= minMs)
          sb.append(f"  job=$id%4d dur=${(e - s) / 1000.0}%6.2fs gapBefore=${gap / 1000.0}%6.2fs  $site%n")
        lastEnd = math.max(lastEnd, e)
      }
      sb.append(f"  TOTAL jobs=${sorted.size} jobTime=${jobTotal / 1000.0}%.1fs driverGaps=${gapTotal / 1000.0}%.1fs%n")
      sb.toString
    }
    def topStages(n: Int): String = synchronized {
      val byWall = perStage.sortBy(-_._2).take(n)
      byWall.map { case (name, w, r, c, sw, nt) =>
        f"  wall=${w / 1000.0}%6.1fs run=${r / 1000.0}%7.1fs cpu=${c / 1000.0}%7.1fs shufW=${sw / 1000.0}%6.1fs tasks=$nt%4d  $name"
      }.mkString("\n")
    }
    /** serial hotspots: stages whose task count is below `threads` — each
      * runs with idle cores; sum(wall × idle-fraction) bounds the
      * occupancy these stages alone give away. */
    def serialStages(threads: Int, n: Int): String = synchronized {
      val ser = perStage.filter(_._6 < threads).sortBy(-_._2)
      // if nt tasks run concurrently, (threads - nt) cores idle for the
      // stage's wall — an upper bound on what these stages give away
      // (concurrent jobs may fill the gap; the timeline shows whether)
      val idleCoreMs = ser.map { case (_, w, _, _, _, nt) =>
        w.toDouble * (threads - nt) }.sum
      val head = ser.take(n).map { case (name, w, r, _, _, nt) =>
        f"  wall=${w / 1000.0}%6.1fs run=${r / 1000.0}%7.1fs tasks=$nt%4d  $name"
      }.mkString("\n")
      head + f"\n  TOTAL sub-$threads-task stages=${ser.size} " +
        f"wall=${ser.map(_._2).sum / 1000.0}%.1fs idleCoreSec(bound)=${idleCoreMs / 1000.0}%.1fs"
    }
    def report(wall: Double): String = {
      f"""wall=$wall%.1fs stages=$stages
         |  executorRunTime=${runTime / 1000.0}%.1fs cpuTime=${cpuTime / 1e9}%.1fs gcTime=${gcTime / 1000.0}%.1fs
         |  runMinusCpu(wait/gc/io)=${(runTime - cpuTime / 1000000) / 1000.0}%.1fs
         |  shuffleWrite=${shuffleWrite / 1e9}%.2fGB (writeTime=${shuffleWriteTime / 1e9}%.1fs) shuffleRead=${shuffleRead / 1e9}%.2fGB (fetchWait=${shuffleFetchWait / 1000.0}%.1fs)
         |  spill mem=${memSpill / 1e9}%.2fGB disk=${diskSpill / 1e9}%.2fGB
         |  input=${inputBytes / 1e9}%.2fGB output=${outputBytes / 1e9}%.2fGB serTime=${serTime / 1000.0}%.1fs deserTime=${deserTime / 1000.0}%.1fs
         |""".stripMargin
    }
  }

  def main(args: Array[String]): Unit = {
    val threads = args(0).toInt
    val seeds = args(1).toInt
    val workBase = "/dev/shm/graft-probe"
    val localDir = s"/dev/shm/graft-probe-spark-$threads"
    val builder = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graft-probe-$threads")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.locality.wait", "0")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    // trailing args: k=v spark conf overrides, plus storage=<level> for the
    // crawler state storage
    var storage = "DISK_ONLY"
    var stateParts = threads
    var sites = 2000000
    var degree = 20
    var depth = 3
    var burst = 8
    var rounds = 4
    var store = false
    var robots = false
    args.drop(2).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      k match {
        case "storage" => storage = v
        case "stateParts" => stateParts = v.toInt
        case "sites" => sites = v.toInt
        case "degree" => degree = v.toInt
        case "depth" => depth = v.toInt
        case "burst" => burst = v.toInt
        case "rounds" => rounds = v.toInt
        case "store" => store = v.toBoolean // docs/digests store ON
        case "robots" => robots = v.toBoolean
        case _ => builder.config(k, v)
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    val cfg = CrawlConfig(
      web = SyntheticWeb.Config(sites = sites, degree = degree, maxDepth = depth),
      nSeeds = seeds,
      hostDelay = 1, ipDelay = 1, burst = burst,
      maxRounds = rounds,
      robotsEnabled = robots,
      storeDocs = store,
      bloomExpected = 64L << 20,
      checkpointEvery = 99,
      statePartitions = stateParts,
      logRounds = true,
      stateStorage = storage)
    val work = s"$workBase-$threads-${System.currentTimeMillis()}"
    val crawler = new Crawler(spark, work, cfg)
    val t0 = System.nanoTime()
    crawler.run()
    val wall = (System.nanoTime() - t0) / 1e9
    val m = crawler.metrics().agg(
      org.apache.spark.sql.functions.sum("fetched"),
      org.apache.spark.sql.functions.sum("dedup_in")).collect()(0)
    val processed = m.getLong(0) + m.getLong(1)
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    println(s"[probe] codegen: compiles=${cg.METRIC_COMPILATION_TIME.getCount} " +
      s"totalCompileMs=${cg.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum}")
    println(s"[probe] threads=$threads processed=$processed rate=${(processed / wall).toLong}/s")
    // per-round (urls, wall) pairs: the fixed-cost-vs-round-size evidence —
    // fit wall_round = a + b*urls_round across burst settings to expose
    // the per-round fixed job cost a at this thread count
    val dedupInByRound = crawler.metrics().where(
        org.apache.spark.sql.functions.col("partition_id") === -1)
      .select("round", "dedup_in").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    crawler.roundWalls.foreach { case (r, fetched, w) =>
      val urls = fetched + dedupInByRound.getOrElse(r, 0L)
      println(f"[probe] round=$r urls=$urls wall=$w%.2fs burst=$burst")
    }
    val roundSum = crawler.roundWalls.map(_._3).sum
    println(f"[probe] initWall=${crawler.initWall}%.2fs snapshotWall=${crawler.snapshotWall}%.2fs " +
      f"roundSum=$roundSum%.2fs otherWall=${wall - roundSum - crawler.initWall - crawler.snapshotWall}%.2fs")
    println(listener.report(wall))
    println("[probe] top stages by wall:")
    println(listener.topStages(14))
    println(s"[probe] serial (sub-$threads-task) stages by wall:")
    println(listener.serialStages(threads, 12))
    println("[probe] job timeline (>=400ms):")
    println(listener.timeline(400))
    try {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(work)).deleteRecursively() // tmpfs hygiene
    } catch { case _: Exception => () }
    spark.stop()
  }
}
