package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** Spark work counted for one trace key (a gate phase or a micro-batch). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var singleTaskStages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var filesWritten = 0L
  var bytesWritten = 0L
  /** (start ms, end ms) of every finished job. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; singleTaskStages += o.singleTaskStages
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; filesWritten += o.filesWritten
    bytesWritten += o.bytesWritten; jobSpans ++= o.jobSpans
    this
  }

  /** Milliseconds of `[from, to]` covered by at least one job. */
  def coveredMs(from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    jobSpans.map { case (s, e) => (s max from, e min to) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - (s max reach); reach = e }
      }
    covered
  }
}

/** Counts Spark work from outside the program: one SparkListener that
  * files every job, stage, task and SQL write under the trace key its
  * job carried. A gate phase sets the key through the local property
  * [[Counters.KeyProp]]; micro-batch jobs are keyed by the streaming
  * query id and batch id Spark itself attaches. Work that carries no key
  * goes to [[scope]].
  *
  * Events arrive on Spark's listener thread; readers call [[drained]]
  * first, which waits for the bus to empty.
  */
final class Counters extends SparkListener {
  import Counters._

  private val work = mutable.HashMap.empty[String, Work]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val jobKey = mutable.HashMap.empty[Int, (String, Long)]
  private val execKey = mutable.HashMap.empty[Long, String]
  /** RDD ids that stored at least one block (checkpoints and persists). */
  private val storedRdds = mutable.HashSet.empty[Int]

  /** Where work with no key of its own is filed. */
  @volatile var scope: String = Unkeyed

  private def at(key: String): Work = work.getOrElseUpdate(key, new Work)

  private def keyOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      Option(p.getProperty(KeyProp)).orElse(
        Option(p.getProperty(StreamQueryProp)).map { q =>
          s"stream/$q/${Option(p.getProperty(StreamBatchProp)).getOrElse("?")}"
        })
    }.getOrElse(scope)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = keyOf(e.properties)
    at(key).jobs += 1
    jobKey(e.jobId) = (key, e.time)
    e.stageIds.foreach(stageKey(_) = key)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execKey.getOrElseUpdate(id.toLong, key))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case (key, start) =>
      at(key).jobSpans += ((start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    at(stageKey.getOrElse(e.stageId, scope)).tasks += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val w = at(stageKey.getOrElse(info.stageId, scope))
    w.stages += 1
    if (info.numTasks == 1) w.singleTaskStages += 1
    Option(info.taskMetrics).foreach { m =>
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case RDDBlockId(rddId, _) if e.blockUpdatedInfo.storageLevel.isValid =>
        storedRdds += rddId
      case _ =>
    }
  }

  /** SQL writes report files and bytes as driver-side metric updates. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case u: SparkListenerDriverAccumUpdates =>
        val w = at(execKey.getOrElse(u.executionId, scope))
        u.accumUpdates.foreach { case (id, v) =>
          SparkInternals.accumulatorName(id) match {
            case Some("number of written files") => w.filesWritten += v
            case Some("written output") => w.bytesWritten += v
            case _ =>
          }
        }
      case _ =>
    }
  }

  /** Waits for the listener bus, then runs `f` over a consistent view. */
  def drained[T](sc: org.apache.spark.SparkContext)(f: Counters => T): T = {
    SparkInternals.drainListeners(sc)
    synchronized(f(this))
  }

  /** Removes and returns the work filed under `key` (empty if none). */
  def take(key: String): Work = work.remove(key).getOrElse(new Work)

  /** Removes and returns every key starting with `prefix`. */
  def takePrefix(prefix: String): Map[String, Work] = {
    val ks = work.keys.filter(_.startsWith(prefix)).toList
    ks.map(k => k -> work.remove(k).get).toMap
  }

  /** RDDs in `[from, until)` that stored blocks. */
  def storedBetween(from: Int, until: Int): Int =
    storedRdds.count(id => id >= from && id < until)
}

object Counters {
  /** Local property naming the trace key of a gate phase's jobs. */
  val KeyProp = "perfbench.key"
  val StreamQueryProp = "sql.streaming.queryId"
  val StreamBatchProp = "streaming.sql.batchId"
  val Unkeyed = "unkeyed"
}
