package perfbench

import java.nio.file.{Files, Paths}

final case class Config(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, cores: Int, dataDir: String,
                        workDir: String, expectedFile: String,
                        traceFile: String, digestsFile: Option[String])

/** What one run reports: end-to-end or per-layer metrics, failures, and
  * human-readable notes printed before the result line.
  */
final case class Result(attempted: Int, failed: Int,
                        e2e: Seq[(String, (Double, String))],
                        layer: Seq[(String, (Double, String))],
                        notes: Seq[String],
                        digests: Map[String, String] = Map.empty)

/** Every metric a run reports, in output order, with its unit. A run
  * reports all of them; a layer that a workload does not exercise reads 0.
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "throughput_per_s" -> "1/s", "latency_p50_s" -> "s", "latency_p90_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "build.s" -> "s", "build.jobs" -> "count", "plan.s" -> "s", "exec.s" -> "s",
    "exec.jobs" -> "count", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.single_task_stage_frac" -> "ratio",
    "spark.core_util" -> "ratio", "spark.executor_cpu_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "driver.outside_jobs_s" -> "s",
    "io.files_written" -> "count", "io.mb_written" -> "MB",
    "ckpt.created" -> "count", "ckpt.live_after_gate" -> "count",
    "ckpt.live_mb_after_gate" -> "MB", "driver.gc_s" -> "s",
    "driver.heap_mb" -> "MB", "warmup.s" -> "s") ++
    Families.Modules.flatMap(m =>
      Seq(s"$m.build_s" -> "s", s"$m.exec_s" -> "s", s"$m.jobs" -> "count")) ++ Seq(
    "source.list_s" -> "s", "source.backlog_files_max" -> "count",
    "live.batch_s_p50" -> "s", "live.jobs_per_batch" -> "count",
    "expert.batch_s_p50" -> "s", "expert.jobs_per_batch" -> "count",
    "expert.batch_growth" -> "ratio", "stream.commit_s" -> "s",
    "sink.files_written" -> "count", "sink.mb_written" -> "MB") ++
    EndToEnd.map { case (n, u) => s"traced.$n" -> u }
}

/** Expected gate digests: one `name<TAB>digest` line per gate. */
object Expected {
  def load(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).toArray(Array.empty[String]).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(n, d) => n -> d }.toMap

  def write(path: String, digests: Map[String, String]): Unit =
    Files.writeString(Paths.get(path),
      digests.toSeq.sortBy(_._1).map { case (n, d) => s"$n\t$d" }.mkString("", "\n", "\n"))
}

/** Entry point of one benchmark run; `perfbench/run.py` builds and calls it.
  *
  * Prints notes, then one line `PERFBENCH <json>` with the run's result.
  * Args: workload seed seconds trace(0|1) cores dataDir workDir
  * expectedFile traceFile [digestsOut].
  */
object Main {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("digest")) digestDirs(args(1), args.drop(2).toSeq)
    else run(args)

  /** `digest <dir> <name>...`: the digest of each parquet output `<dir>/<name>`
    * (as `graft.Verify` writes them), one `name<TAB>digest` line each.
    */
  private def digestDirs(dir: String, names: Seq[String]): Unit = {
    val spark = Session.start(2, Files.createTempDirectory("perfbench").toString)
    names.foreach { n =>
      val d = scala.util.Try(Digest.of(spark.read.parquet(s"$dir/$n"))).getOrElse("missing")
      println(s"$n\t$d")
    }
    spark.stop()
  }

  private def run(args: Array[String]): Unit = {
    val cfg = Config(args(0), args(1).toLong, args(2).toInt, args(3) == "1",
      args(4).toInt, args(5), args(6), args(7), args(8), args.lift(9))
    val r = cfg.workload match {
      case "dashboard" | "curation" => GateWorkload.run(cfg)
      case "live_ingest" => LiveIngest.run(cfg)
      case w => sys.error(s"unknown workload $w")
    }
    cfg.digestsFile.foreach(Expected.write(_, r.digests))
    r.notes.foreach(n => println(s"[perfbench] $n"))
    val measured = (if (cfg.trace) r.layer ++ r.e2e.map { case (k, v) => s"traced.$k" -> v }
                    else r.e2e).toMap
    val metrics = (if (cfg.trace) Metrics.PerLayer else Metrics.EndToEnd).map { case (k, u) =>
      // A metric with no samples (every gate failed) reads 0; `correct`
      // is false then.
      k -> Json.obj("value" -> measured.get(k).map(_._1).filterNot(_.isNaN)
        .getOrElse(0.0), "unit" -> u)
    }
    println("PERFBENCH " + Json(Json.obj(
      "correct" -> (r.failed == 0), "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> Json.obj(metrics: _*))))
    System.out.flush()
    // Streaming and shutdown threads must not keep the JVM alive.
    sys.exit(0)
  }
}
