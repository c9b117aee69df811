package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: `local[cores]`, shuffle partitions =
  * cores and the session conf of `graft.Bench`; every `spark.graft.*`
  * knob stays at its default. Scratch space stays under `workDir`.
  */
object Session {
  def start(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.worker.ui.retainedExecutors", "10")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** How many RDDs are still persisted, and their stored MB. */
  def persisted(s: SparkSession): (Int, Double) = {
    val sc = s.sparkContext
    val ids = sc.getPersistentRDDs.keySet
    (ids.size, sc.getRDDStorageInfo.filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  /** Drops every persisted RDD, as `graft.Bench` does after each query. */
  def sweep(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
}
