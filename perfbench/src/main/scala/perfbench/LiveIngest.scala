package perfbench

import graft.etl.{Clean, RedsetSchema}
import graft.pipeline.RedsetPipeline
import graft.queries.{QDef, RedsetFixture}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One micro-batch as its query's progress event reports it. */
final case class Batch(query: String, queryId: String, batchId: Long,
                       startMs: Long, durations: Map[String, Long], rows: Long) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  def seconds: Double = durations.getOrElse("triggerExecution", 0L) / 1e3
  def ms(keys: String*): Long = keys.map(durations.getOrElse(_, 0L)).sum
}

/** Collects every micro-batch progress event and every query death. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()
  val deaths = new ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add(Batch(p.name, p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => deaths.add(s"${e.id}: ${x.take(300)}"))
  def of(query: String): Seq[Batch] =
    batches.asScala.filter(_.query == query).toSeq.sortBy(_.batchId)
}

/** `live_ingest`: one generator thread writes Redset wire-record files
  * into a directory that both shipped streaming queries read through
  * `Streams.jsonFileSource`: the live Aggregate View (`liveRun`) and the
  * incremental Expert View (`expertRunIncremental`).
  *
  * An untimed warm-up drains the first file. Phase 1 drains a backlog
  * published at once. Phase 2 is an open loop: one file every
  * [[OpenPeriodS]] seconds, each timed from when it was due. Rows are
  * counted at the generator.
  */
object LiveIngest {
  val RowsPerFile = 400
  /** Files drained before the timed phases, so they run on warm queries. */
  val WarmupFiles = 1
  val BacklogFiles = 2
  /** Seconds between files in phase 2: a rate below the drain rate. */
  val OpenPeriodS = 6

  /** Phase 2 publishes a file every [[OpenPeriodS]] s for `seconds` s. */
  def openFiles(seconds: Int): Int = (seconds + OpenPeriodS - 1) / OpenPeriodS
  val Live = "redset_live"
  val Expert = "redset_expert_inc"

  /** Set-up: the wire files, one JSON record per line. Row contents are
    * fixed; the seed decides which rows land in which file.
    */
  def generate(spark: SparkSession, seed: Long, nFiles: Int,
               stageDir: Path): Seq[Path] = {
    val n = RowsPerFile * nFiles
    val events = spark.range(1, n + 1).select(
      col("id").as("event_id"),
      (pmod(xxhash64(col("id"), lit(1)), lit(200L)) + 1).as("user_id"),
      element_at(
        array(Seq("purchase", "purchase", "view", "view", "view", "click",
          "click", "click", "error", "login").map(lit): _*),
        (pmod(xxhash64(col("id"), lit(2)), lit(10L)) + 1).cast("int")).as("event_type"),
      timestamp_seconds(lit(1704067200L) + col("id") * 3 +
        pmod(xxhash64(col("id"), lit(3)), lit(600L))).as("ts"))
    val raw = events.selectExpr(
      RedsetFixture.rawExprs("date_format(ts, 'yyyy-MM-dd HH:mm:ss')"): _*)
    val lines = raw.select(col("query_id"), to_json(struct(raw.columns.toIndexedSeq.map(col): _*)))
      .collect().map(r => r.getString(0) -> r.getString(1)).sortBy(_._1.toLong)
    val order = new scala.util.Random(seed).shuffle(lines.indices.toVector)
    Files.createDirectories(stageDir)
    order.grouped(RowsPerFile).zipWithIndex.map { case (idx, k) =>
      val p = stageDir.resolve(f"part-$k%05d.json")
      Files.writeString(p, idx.map(i => lines(i)._2).mkString("", "\n", "\n"))
      p
    }.toVector
  }

  def run(cfg: Config): Result = {
    val work = Paths.get(cfg.workDir)
    val trace = new Trace(cfg.trace)
    // Set-up, timed: session start and input generation, three times over;
    // the last set-up is the one the run uses.
    def setup(i: Int): (SparkSession, Seq[Path], Double) = {
      val t0 = Clock.now()
      val s = Session.start(cfg.cores, cfg.workDir)
      s.conf.set("spark.sql.streaming.checkpointLocation", s"${cfg.workDir}/ckpt$i")
      val files = generate(s, cfg.seed, WarmupFiles + BacklogFiles + openFiles(cfg.seconds),
        work.resolve(s"stage$i"))
      (s, files, Clock.secs(t0, Clock.now()))
    }
    val setups = (0 until 3).map { i =>
      val r = setup(i)
      if (i < 2) r._1.stop()
      r
    }
    val (spark, files, _) = setups.last
    val ckptDir = work.resolve(s"ckpt${setups.size - 1}")
    val setupS = Stats.median(setups.map(_._3))
    val input = Files.createDirectories(work.resolve("input"))
    val log = new ProgressLog
    spark.streams.addListener(log)
    val counters = if (cfg.trace) {
      val c = new Counters; spark.sparkContext.addSparkListener(c); Some(c)
    } else None
    val sc = spark.sparkContext
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val budgetMs = (cfg.seconds * 8 + 60) * 1000L
    def waitFor(n: Int, deadlineMs: Long): Boolean = {
      def done = Seq(Live, Expert).forall(q => log.of(q).size >= n)
      while (!done && log.deaths.isEmpty && System.currentTimeMillis() < deadlineMs)
        Thread.sleep(20)
      done
    }

    // Files enter the watched directory by atomic rename, with strictly
    // increasing modification times so the source reads them in order.
    var lastMtime = 0L
    val movedMs = new Array[Long](files.size)
    def publish(k: Int): Unit = {
      val dst = input.resolve(files(k).getFileName)
      Files.move(files(k), dst, StandardCopyOption.ATOMIC_MOVE)
      val now = System.currentTimeMillis()
      lastMtime = (lastMtime + 1) max now
      Files.setLastModifiedTime(dst, FileTime.fromMillis(lastMtime))
      movedMs(k) = now
    }
    val dueMs = new Array[Long](files.size)
    val backlogFiles = WarmupFiles until WarmupFiles + BacklogFiles
    val openLoopFiles = WarmupFiles + BacklogFiles until files.size

    // Warm-up, untimed: both queries start and drain the first file, so the
    // timed phases run on a warm JVM and on queries past their first batch.
    val warmId = trace.newId()
    val warmStart = Clock.now()
    val live = RedsetPipeline.liveRun(Streams.jsonFileSource(spark, input.toString), Live)
    val expert = RedsetPipeline.expertRunIncremental(Streams.jsonFileSource(spark, input.toString),
      work.resolve("staging").toString, work.resolve("output").toString, queryName = Expert)
    (0 until WarmupFiles).foreach { k => publish(k); dueMs(k) = movedMs(k) }
    if (!waitFor(WarmupFiles, System.currentTimeMillis() + budgetMs))
      failures += "warm-up file not drained"
    counters.foreach(_.drained(sc)(_.takePrefix("")))
    val warmEnd = Clock.now()
    val warmupS = Clock.secs(warmStart, warmEnd)
    trace.add(warmId, 0, "phase", "warm_up", warmStart, warmEnd)

    val mark0 = if (cfg.trace) org.apache.spark.perfbench.SparkInternals.rddIdMark(sc) else 0
    val gc0 = Jvm.gcMs

    // Phase 1: drain a backlog published at once.
    val runId = trace.newId()
    val phase1Id = trace.newId()
    val p1Start = Clock.now()
    val p1StartMs = System.currentTimeMillis()
    backlogFiles.foreach { k => publish(k); dueMs(k) = movedMs(k) }
    if (!waitFor(backlogFiles.end, p1StartMs + budgetMs)) failures += "backlog not drained"
    val drainedAtMs = Seq(Live, Expert).flatMap(q => log.of(q).take(backlogFiles.end).lastOption)
      .map(_.endMs).foldLeft(p1StartMs)(_ max _)
    val p1End = Clock.now()
    trace.add(phase1Id, runId, "phase", "backlog", p1Start, p1End)

    // Phase 2: open loop at a fixed rate, each file timed from when it was due.
    val phase2Id = trace.newId()
    val p2Start = Clock.now()
    val p2StartMs = System.currentTimeMillis()
    val gen = new Thread(() => {
      openLoopFiles.foreach { k =>
        dueMs(k) = p2StartMs + (k - openLoopFiles.start) * OpenPeriodS * 1000L
        val wait = dueMs(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        publish(k)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    if (!waitFor(files.size, System.currentTimeMillis() + budgetMs))
      failures += "open loop not drained"
    val p2End = Clock.now()
    trace.add(phase2Id, runId, "phase", "open_loop", p2Start, p2End)
    trace.add(runId, 0, "run", cfg.workload, p1Start, p2End)
    log.deaths.asScala.foreach(d => failures += s"query died: $d")

    // Which file each batch read, from each query's file-source log.
    def fileBatches(q: String): Map[String, Long] = {
      val dir = ckptDir.resolve(q).resolve("sources").resolve("0")
      if (!Files.isDirectory(dir)) Map.empty
      else Files.list(dir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.matches("[0-9]+(\\.compact)?"))
        .flatMap(p => Files.readAllLines(p).asScala.drop(1))
        .flatMap { l =>
          val path = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1))
          val b = "\"batchId\":([0-9]+)".r.findFirstMatchIn(l).map(_.group(1).toLong)
          for (p <- path; bb <- b) yield p.split('/').last -> bb
        }.toMap
    }
    val batchOf = Seq(Live, Expert).map(q => q -> fileBatches(q)).toMap
    val endOf = Seq(Live, Expert).map(q => q -> log.of(q).map(b => b.batchId -> b.endMs).toMap).toMap
    /** When the later of the two queries committed the batch that read file k. */
    def committedMs(k: Int): Option[Long] = {
      val name = files(k).getFileName.toString
      val ends = Seq(Live, Expert).map(q => batchOf(q).get(name).flatMap(endOf(q).get))
      if (ends.forall(_.isDefined)) Some(ends.flatten.max) else None
    }
    val missing = files.indices.filter(committedMs(_).isEmpty)
    if (missing.nonEmpty) failures += s"${missing.size} file(s) never committed by both queries"
    val fresh = openLoopFiles.flatMap(k => committedMs(k).map(c => (c - dueMs(k)) / 1e3))
    val lateness = openLoopFiles.map(k => (movedMs(k) - dueMs(k)) / 1e3)
    val ingestRate = RowsPerFile * BacklogFiles / ((drainedAtMs - p1StartMs) / 1e3)

    // Output check: stop the queries, then compare their views with the
    // batch functions over the same rows, through the gate runner.
    live.stop(); expert.stop()
    val viewDigests = Seq("expert_output_table", "expert_freshness", "expert_workload",
      "live_leaderboard", "live_top_users", "live_type_dist", "live_panel")
      .map(v => v -> scala.util.Try(Digest.of(spark.table(s"global_temp.$v"))).getOrElse("missing")).toMap
    val (liveRdds, liveMb) = Session.persisted(spark)
    val heapMb = Jvm.heapMb
    val gcS = (Jvm.gcMs - gc0) / 1e3
    val mark1 = if (cfg.trace) org.apache.spark.perfbench.SparkInternals.rddIdMark(sc) else 0
    val streamWork = counters.map(_.drained(sc)(c => c.takePrefix("stream/") ++ Map("unkeyed" -> c.take(Counters.Unkeyed))))
    val ckptCreated = counters.map(_.drained(sc)(_.storedBetween(mark0, mark1))).getOrElse(0)
    Session.sweep(spark)

    def raw(paths: Seq[String]): DataFrame =
      spark.read.schema(RedsetSchema.rawSchema).json(paths: _*)
    val allPaths = files.map(f => input.resolve(f.getFileName).toString)
    val lastFile = batchOf(Live).toSeq.sortBy(-_._2).headOption
      .map(f => input.resolve(f._1).toString).getOrElse(allPaths.last)
    def flat = RedsetPipeline.flattened(raw(allPaths))
    def lastClean = Clean(raw(Seq(lastFile)))
    val checks = Seq[(String, SparkSession => DataFrame)](
      "expert_output_table" -> (_ => RedsetPipeline.outputTable(flat)),
      "expert_freshness" -> (_ => RedsetPipeline.freshnessProblems(flat)),
      "expert_workload" -> (_ => RedsetPipeline.tablesWorkloadCount(flat)),
      "live_leaderboard" -> (_ => RedsetPipeline.compileLeaderboard(lastClean)),
      "live_top_users" -> (_ => RedsetPipeline.topUsers(lastClean)),
      "live_type_dist" -> (_ => RedsetPipeline.queryTypeDistribution(lastClean)),
      "live_panel" -> (_ => RedsetPipeline.scalarPanel(lastClean)))
    val runner = new GateRunner(spark, viewDigests, counters, trace)
    val checkId = trace.newId()
    val checkStart = Clock.now()
    val checkCalls = checks.map { case (n, f) =>
      runner.call(QDef(n, (s: SparkSession, _: String) => f(s), None), "", checkId)
    }
    trace.add(checkId, 0, "phase", "output_check", checkStart, Clock.now())
    checkCalls.foreach { case (g, _) => g.failure.foreach(f => failures += s"view ${g.name}: $f") }

    if (cfg.trace) {
      val phaseOf = (ms: Long) =>
        if (ms < p1StartMs) warmId else if (ms < p2StartMs) phase1Id else phase2Id
      Seq(Live, Expert).foreach { q =>
        log.of(q).foreach { b =>
          val w = streamWork.flatMap(_.get(s"stream/${b.queryId}/${b.batchId}"))
          trace.add(trace.newId(), phaseOf(b.endMs), "micro_batch", s"$q/${b.batchId}",
            p1Start + (b.startMs - p1StartMs) * 1000000L,
            p1Start + (b.endMs - p1StartMs) * 1000000L,
            Json.obj("rows_reported" -> b.rows, "jobs" -> w.map(_.jobs).getOrElse(0L),
              "duration_ms" -> b.durations))
        }
      }
      trace.write(Paths.get(cfg.traceFile))
    }
    spark.stop()

    val attempted = 2 * files.size + checks.size
    val failedBatches = 2 * files.size - Seq(Live, Expert).map(q => log.of(q).size min files.size).sum
    val failedViews = checkCalls.count(!_._1.ok)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "throughput_per_s" -> (ingestRate, "1/s"),
      "latency_p50_s" -> (Stats.quantile(fresh, 0.5), "s"),
      "latency_p90_s" -> (Stats.quantile(fresh, 0.9), "s"))
    val notes = Seq(
      f"${files.size} files x $RowsPerFile rows; warm-up $WarmupFiles file(s); backlog $BacklogFiles files drained in ${(drainedAtMs - p1StartMs) / 1e3}%.2f s; " +
        f"open loop ${openLoopFiles.size} files one per $OpenPeriodS s",
      f"setup times: ${setups.map(s => f"${s._3}%.2f").mkString(", ")} s; warm-up $warmupS%.2f s",
      f"freshness s: ${fresh.map(x => f"$x%.2f").mkString(", ")}",
      f"generator lateness: max ${if (lateness.isEmpty) 0.0 else lateness.max}%.3f s",
      s"rows reported by progress: live ${log.of(Live).map(_.rows).sum}, expert ${log.of(Expert).map(_.rows).sum}; generated ${RowsPerFile * files.size}") ++
      failures.map(f => s"FAILED $f")
    val layer = if (!cfg.trace) Seq.empty else {
      val sw = streamWork.get
      val all = sw.values.foldLeft(new Work)(_ += _)
      // the timed phases' batches: one file per batch, warm-up files first
      val byQuery = (q: String) => log.of(q).drop(WarmupFiles)
      def jobsPerBatch(q: String): Double =
        Stats.mean(byQuery(q).map(b => sw.get(s"stream/${b.queryId}/${b.batchId}").map(_.jobs).getOrElse(0L).toDouble))
      val exp = byQuery(Expert).map(_.seconds)
      val quarter = (exp.size / 4) max 1
      val both = byQuery(Live) ++ byQuery(Expert)
      val wallS = Clock.secs(p1Start, p2End)
      val backlog = (WarmupFiles until files.size).map { k =>
        files.indices.count(j => movedMs(j) <= movedMs(k) && committedMs(j).forall(_ > movedMs(k)))
      }
      val checkWork = checkCalls.flatMap(_._2)
      val stages = all.stages.toDouble
      Seq(
        "build.s" -> (checkCalls.map(_._1.buildS).sum, "s"),
        "build.jobs" -> (checkWork.map(_.phases("build").jobs).sum.toDouble, "count"),
        "plan.s" -> (checkCalls.map(_._1.planS).sum, "s"),
        "exec.s" -> (checkCalls.map(_._1.execS).sum, "s"),
        "exec.jobs" -> (checkWork.map(_.phases("exec").jobs).sum.toDouble, "count"),
        "spark.jobs" -> (all.jobs.toDouble, "count"),
        "spark.stages" -> (stages, "count"),
        "spark.tasks" -> (all.tasks.toDouble, "count"),
        "spark.single_task_stage_frac" -> (if (stages > 0) all.singleTaskStages / stages else 0.0, "ratio"),
        "spark.core_util" -> (all.runMs / 1e3 / (wallS * cfg.cores), "ratio"),
        "spark.executor_cpu_s" -> (all.cpuNs / 1e9, "s"),
        "spark.shuffle_read_mb" -> (all.shuffleReadBytes / 1e6, "MB"),
        "spark.shuffle_write_mb" -> (all.shuffleWriteBytes / 1e6, "MB"),
        "spark.spill_mb" -> (all.spillBytes / 1e6, "MB"),
        "driver.outside_jobs_s" -> (checkWork.map(_.outsideJobsS).sum, "s"),
        "io.files_written" -> (all.filesWritten.toDouble, "count"),
        "io.mb_written" -> (all.bytesWritten / 1e6, "MB"),
        "ckpt.created" -> (ckptCreated.toDouble, "count"),
        "ckpt.live_after_gate" -> (liveRdds.toDouble, "count"),
        "ckpt.live_mb_after_gate" -> (liveMb, "MB"),
        "driver.gc_s" -> (gcS, "s"),
        "driver.heap_mb" -> (heapMb, "MB"),
        "source.list_s" -> (Stats.mean(both.map(_.ms("latestOffset", "getBatch") / 1e3)), "s"),
        "source.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble, "count"),
        "live.batch_s_p50" -> (Stats.median(byQuery(Live).map(_.seconds)), "s"),
        "live.jobs_per_batch" -> (jobsPerBatch(Live), "count"),
        "expert.batch_s_p50" -> (Stats.median(exp), "s"),
        "expert.jobs_per_batch" -> (jobsPerBatch(Expert), "count"),
        "expert.batch_growth" -> (Stats.median(exp.takeRight(quarter)) / Stats.median(exp.take(quarter)), "ratio"),
        "stream.commit_s" -> (Stats.mean(both.map(_.ms("walCommit", "commitOffsets") / 1e3)), "s"),
        "sink.files_written" -> (all.filesWritten.toDouble, "count"),
        "sink.mb_written" -> (all.bytesWritten / 1e6, "MB"),
        "warmup.s" -> (warmupS, "s"),
        "pipeline.build_s" -> (checkCalls.map(_._1.buildS).sum, "s"),
        "pipeline.exec_s" -> (checkCalls.map(_._1.execS).sum, "s"),
        "pipeline.jobs" -> (checkWork.map(_.phases.values.map(_.jobs).sum).sum.toDouble, "count"))
    }
    // A failure no batch or view accounts for (a dead warm-up) still fails the run.
    val failed = (failedBatches + failedViews).max(if (failures.nonEmpty) 1 else 0)
    Result(attempted, failed, e2e, layer, notes)
  }
}
