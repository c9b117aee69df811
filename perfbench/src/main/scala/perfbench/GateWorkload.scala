package perfbench

import graft.SparkEntry
import graft.queries.QDef
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** One gate workload: its gates, whether each pass reads its own copy of
  * the tables, and about how long one warm pass takes, which sets the
  * number of timed passes in a run.
  */
final case class GateSet(gates: Seq[String], freshTables: Boolean, passSeconds: Int)

/** Gate families, the modules that own them, and the two gate workloads. */
object Families {
  val Module: Map[String, String] = Map(
    "a" -> "events", "fa" -> "events", "w" -> "events", "o" -> "events",
    "u" -> "events", "j" -> "events", "x" -> "events", "f" -> "events",
    "st" -> "events", "sk" -> "sketch", "q" -> "tpch", "redset" -> "pipeline",
    "c" -> "curation", "d" -> "dedup", "g" -> "graph", "t" -> "text",
    "sim" -> "sim", "mm" -> "multimodal")

  /** The refresh loop: events (window, interval join), sketch and TPC-H
    * gates, re-run over the same tables.
    */
  val Dashboard = GateSet(Seq("w5_sessionization", "j4b_interval_join_bucketed",
    "sk2_count_min_topk", "q8_market_share"),
    freshTables = false, passSeconds = 5)

  /** The curation batch: build-heavy gates that run memoised drives,
    * driver-side solves and store writes, across the six curation families.
    * Each pass reads fresh tables, so every drive runs again.
    */
  val Curation = GateSet(Seq("c23_curation_funnel",
    "d4_jaccard_pairs", "g1_pagerank",
    "t21_bpe_train_merges", "sim3_ann_ivf", "mm9_image_text_dedup"),
    freshTables = true, passSeconds = 10)

  val Workloads: Map[String, GateSet] = Map("dashboard" -> Dashboard, "curation" -> Curation)

  val Modules: Seq[String] = Seq("events", "pipeline", "sketch", "tpch",
    "curation", "dedup", "graph", "text", "sim", "multimodal")

  /** `a12_x` → a, `sim3b` → sim, `redset_panel` → redset. */
  def of(gate: String): String = gate.takeWhile(_.isLetter)

  /** The named gates from `SparkEntry.all`; a missing name is an error. */
  def gates(names: Seq[String]): Seq[QDef] = {
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, sys.error(s"no gate named $n")))
  }
}

/** One gate call: build (`QDef.spark`), plan (`executedPlan` of the
  * digest frame) and exec (the digest action over every output column).
  */
final case class GateCall(name: String, buildS: Double, planS: Double,
                          execS: Double, digest: Option[String],
                          error: Option[String], expected: Option[String]) {
  def wallS: Double = buildS + planS + execS
  def ok: Boolean = error.isEmpty && digest.isDefined && digest == expected
  def failure: Option[String] =
    error.orElse(if (ok) None
      else Some(s"digest ${digest.getOrElse("-")} != expected ${expected.getOrElse("(none)")}"))
}

/** Per-gate counts gathered in a traced run. */
final case class GateCounts(phases: Map[String, Work], outsideJobsS: Double,
                            ckptCreated: Int, ckptLive: Int, ckptLiveMb: Double,
                            gcS: Double, heapMb: Double)

/** Runs gates one at a time from a single client (closed loop). Failures
  * are loud: a gate that throws or whose digest does not match the
  * expected one is a failure and is never timed as a fast gate.
  */
final class GateRunner(spark: SparkSession, expected: Map[String, String],
                       counters: Option[Counters], trace: Trace) {
  private val sc = spark.sparkContext
  private var seq = 0

  /** Runs gate `q` over the tables in `dir`. */
  def call(q: QDef, dir: String, parent: Int): (GateCall, Option[GateCounts]) = {
    seq += 1
    val key = s"gate/$seq"
    val traced = counters.isDefined
    def phase(p: String): Unit = if (traced) sc.setLocalProperty(Counters.KeyProp, s"$key/$p")
    val mark0 = if (traced) org.apache.spark.perfbench.SparkInternals.rddIdMark(sc) else 0
    counters.foreach(_.scope = s"$key/other")
    val gc0 = Jvm.gcMs
    val wall0 = System.currentTimeMillis()
    val t0 = Clock.now()
    var t1 = t0; var t2 = t0; var t3 = t0
    var digest: Option[String] = None
    var error: Option[String] = None
    try {
      phase("build")
      val df = q.spark(spark, dir)
      t1 = Clock.now(); phase("plan")
      val d = Digest.frame(df)
      d.queryExecution.executedPlan
      t2 = Clock.now(); phase("exec")
      digest = Some(Digest.render(d.collect().head))
      t3 = Clock.now()
    } catch {
      case NonFatal(e) =>
        error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        // the phase that threw ends now; the phases after it take no time
        val tf = Clock.now()
        if (t1 == t0) t1 = tf
        if (t2 == t0) t2 = tf
        if (t3 == t0) t3 = tf
    } finally if (traced) sc.setLocalProperty(Counters.KeyProp, null)
    val wall1 = System.currentTimeMillis()
    val g = GateCall(q.name, Clock.secs(t0, t1), Clock.secs(t1, t2),
      Clock.secs(t2, t3), digest, error, expected.get(q.name))
    val counts = counters.map { c =>
      val mark1 = org.apache.spark.perfbench.SparkInternals.rddIdMark(sc)
      val (liveRdds, liveMb) = Session.persisted(spark)
      val heapMb = Jvm.heapMb
      c.drained(sc) { c =>
        val phases = Seq("build", "plan", "exec", "other").map(p => p -> c.take(s"$key/$p")).toMap
        val all = phases.values.foldLeft(new Work)(_ += _)
        val outside = ((wall1 - wall0) - all.coveredMs(wall0, wall1)).max(0L) / 1e3
        GateCounts(phases, outside, c.storedBetween(mark0, mark1),
          liveRdds, liveMb, (Jvm.gcMs - gc0) / 1e3, heapMb)
      }
    }
    if (trace.enabled) {
      val id = trace.newId()
      trace.add(id, parent, "gate", q.name, t0, t3,
        counts.map(k => Json.obj("ok" -> g.ok, "ckpt_live" -> k.ckptLive,
          "ckpt_created" -> k.ckptCreated, "outside_jobs_s" -> k.outsideJobsS))
          .getOrElse(Json.obj()))
      Seq(("build", t0, t1), ("plan", t1, t2), ("exec", t2, t3)).foreach { case (p, a, b) =>
        if (b > a) trace.add(trace.newId(), id, p, q.name, a, b,
          counts.map(k => workJson(k.phases(p))).getOrElse(Json.obj()))
      }
    }
    Session.sweep(spark)
    (g, counts)
  }

  private def workJson(w: Work) = Json.obj("jobs" -> w.jobs, "stages" -> w.stages,
    "tasks" -> w.tasks, "executor_run_s" -> w.runMs / 1e3,
    "executor_cpu_s" -> w.cpuNs / 1e9, "shuffle_read_bytes" -> w.shuffleReadBytes,
    "shuffle_write_bytes" -> w.shuffleWriteBytes, "files_written" -> w.filesWritten)
}

/** The `curation` (batch over fresh tables) and `dashboard` (refresh loop)
  * workloads.
  */
object GateWorkload {

  final case class Pass(calls: Seq[(GateCall, Option[GateCounts])], wallS: Double)

  val TableNames: Seq[String] = Seq("lineitem", "orders", "customer", "part",
    "supplier", "nation", "region", "events", "documents", "embeddings")

  def run(cfg: Config): Result = {
    val set = Families.Workloads(cfg.workload)
    val expected = Expected.load(cfg.expectedFile)
    val trace = new Trace(cfg.trace)
    // Set-up, timed three times over: a fresh session and every table's
    // footer (its schema). Gate order comes from the seed.
    val gates = new scala.util.Random(cfg.seed).shuffle(Families.gates(set.gates))
    def setup(): (SparkSession, Double) = {
      val t0 = Clock.now()
      val s = Session.start(cfg.cores, cfg.workDir)
      TableNames.foreach(t => graft.Tables.table(s, cfg.dataDir, t).schema)
      (s, Clock.secs(t0, Clock.now()))
    }
    val setups = (1 to 3).map { i =>
      val r = setup()
      if (i < 3) r._1.stop()
      r
    }
    val spark = setups.last._1
    val setupS = Stats.median(setups.map(_._2))
    val counters = if (cfg.trace) {
      val c = new Counters; spark.sparkContext.addSparkListener(c); Some(c)
    } else None
    val runner = new GateRunner(spark, expected, counters, trace)
    // A curation pass reads its own copy of the tables, so every memoised
    // per-input drive runs again, as in a fresh batch job; dashboard passes
    // refresh over the same tables.
    var copies = 0
    def passDir(): String = if (!set.freshTables) cfg.dataDir else {
      copies += 1
      val d = Files.createDirectories(Paths.get(cfg.workDir, s"tables-$copies"))
      TableNames.foreach(t => Files.copy(Paths.get(cfg.dataDir, s"$t.parquet"), d.resolve(s"$t.parquet")))
      d.toString
    }
    val runId = trace.newId()
    def pass(label: String, parent: Int): Pass = {
      val dir = passDir()
      val id = trace.newId()
      val t0 = Clock.now()
      val calls = gates.map(q => runner.call(q, dir, id))
      val t1 = Clock.now()
      trace.add(id, parent, "pass", label, t0, t1)
      Pass(calls, Clock.secs(t0, t1))
    }
    // One untimed pass warms the JVM (and, for the dashboard, its caches).
    val warmPass = pass("warm-up", 0)

    // Timed: whole passes, closed loop, one per `passSeconds` of the run's
    // seconds. A fixed count keeps every run's work the same.
    val runStart = Clock.now()
    val passes = (0 until (cfg.seconds / set.passSeconds).max(1)).map(i => pass(s"timed-$i", runId))
    val runEnd = Clock.now()
    trace.add(runId, 0, "run", cfg.workload, runStart, runEnd)
    spark.stop()

    val timed = passes.flatMap(_.calls)
    val all = warmPass.calls ++ timed
    val failures = all.flatMap { case (g, _) => g.failure.map(g.name -> _) }.distinct
    val okLat = timed.collect { case (g, _) if g.ok => g.wallS }
    val timedWall = passes.map(_.wallS).sum
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "throughput_per_s" -> (okLat.size / timedWall, "1/s"),
      "latency_p50_s" -> (Stats.quantile(okLat, 0.5), "s"),
      "latency_p90_s" -> (Stats.quantile(okLat, 0.9), "s"))
    val notes = Seq(
      f"setup times: ${setups.map(x => f"${x._2}%.2f").mkString(", ")} s; warm-up pass ${warmPass.wallS}%.2f s",
      f"${gates.size} gates per pass, ${passes.size} timed pass(es), ${okLat.size} latency samples, timed wall $timedWall%.2f s",
      f"pass walls: ${passes.map(p => f"${p.wallS}%.2f").mkString(", ")} s") ++
      failures.map { case (n, f) => s"FAILED $n: $f" }
    val layer = if (!cfg.trace) Seq.empty else
      gateLayers(passes, cfg.cores) :+ ("warmup.s" -> (warmPass.wallS, "s"))
    if (cfg.trace) trace.write(Paths.get(cfg.traceFile))
    Result(attempted = all.size, failed = all.count(!_._1.ok),
      e2e = e2e, layer = layer, notes = notes,
      digests = all.map { case (g, _) => g.name -> g.digest.getOrElse("ERROR") }.toMap)
  }

  /** Per-layer metrics, each a mean per timed pass (counts are per pass). */
  private def gateLayers(passes: Seq[Pass], cores: Int): Seq[(String, (Double, String))] = {
    val n = passes.size.toDouble
    val calls = passes.flatMap(_.calls)
    val counts = calls.flatMap(_._2)
    def per(f: GateCounts => Double): Double = counts.map(f).sum / n
    def phase(p: String)(f: Work => Double): Double = per(k => f(k.phases(p)))
    def total(f: Work => Double): Double = per(k => k.phases.values.map(f).sum)
    val wall = passes.map(_.wallS).sum / n
    val stages = total(_.stages.toDouble)
    val base = Seq(
      "build.s" -> (calls.map(_._1.buildS).sum / n, "s"),
      "build.jobs" -> (phase("build")(_.jobs.toDouble), "count"),
      "plan.s" -> (calls.map(_._1.planS).sum / n, "s"),
      "exec.s" -> (calls.map(_._1.execS).sum / n, "s"),
      "exec.jobs" -> (phase("exec")(_.jobs.toDouble), "count"),
      "spark.jobs" -> (total(_.jobs.toDouble), "count"),
      "spark.stages" -> (stages, "count"),
      "spark.tasks" -> (total(_.tasks.toDouble), "count"),
      "spark.single_task_stage_frac" ->
        (if (stages > 0) total(_.singleTaskStages.toDouble) / stages else 0.0, "ratio"),
      "spark.core_util" -> (total(_.runMs / 1e3) / (wall * cores), "ratio"),
      "spark.executor_cpu_s" -> (total(_.cpuNs / 1e9), "s"),
      "spark.shuffle_read_mb" -> (total(_.shuffleReadBytes / 1e6), "MB"),
      "spark.shuffle_write_mb" -> (total(_.shuffleWriteBytes / 1e6), "MB"),
      "spark.spill_mb" -> (total(_.spillBytes / 1e6), "MB"),
      "driver.outside_jobs_s" -> (per(_.outsideJobsS), "s"),
      "io.files_written" -> (total(_.filesWritten.toDouble), "count"),
      "io.mb_written" -> (total(_.bytesWritten / 1e6), "MB"),
      "ckpt.created" -> (per(_.ckptCreated.toDouble), "count"),
      "ckpt.live_after_gate" -> (per(_.ckptLive.toDouble), "count"),
      "ckpt.live_mb_after_gate" -> (per(_.ckptLiveMb), "MB"),
      "driver.gc_s" -> (per(_.gcS), "s"),
      "driver.heap_mb" -> (if (counts.isEmpty) 0.0 else counts.map(_.heapMb).max, "MB"))
    val modules = Families.Modules.flatMap { m =>
      val mine = calls.filter { case (g, _) => Families.Module(Families.of(g.name)) == m }
      Seq(
        s"$m.build_s" -> (mine.map(_._1.buildS).sum / n, "s"),
        s"$m.exec_s" -> (mine.map(_._1.execS).sum / n, "s"),
        s"$m.jobs" -> (mine.flatMap(_._2).map(_.phases.values.map(_.jobs).sum).sum / n, "count"))
    }
    base ++ modules
  }
}
