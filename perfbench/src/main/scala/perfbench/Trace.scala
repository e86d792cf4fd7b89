package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Outside-in per-layer tracing. Every layer call runs inside a Spark job
  * group named after the layer; a listener registered by the benchmark
  * attributes each job, its tasks' metrics and its active interval to that
  * group. A layer may be entered several times (one span each); its numbers
  * are summed over its spans. */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val aggs = mutable.LinkedHashMap[String, Agg]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobGroup = mutable.HashMap[Int, (String, Long)]()
  private val spans = mutable.ArrayBuffer[(String, Long, Long)]()
  private val sequences = mutable.LinkedHashMap[String, Double]()
  @volatile private var drained = false

  private def agg(layer: String): Agg = aggs.getOrElseUpdate(layer, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupProperty)))
      .getOrElse(Unattributed)
    jobGroup(e.jobId) = g -> e.time
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      if (g == DrainGroup) drained = true
      else {
        val a = agg(g)
        a.jobs += 1
        a.intervals += (start -> e.time)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).filter(_ != DrainGroup).foreach { g =>
      val a = agg(g)
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
  }

  /** Runs one call of `layer` in its job group and records its span. */
  def layer[A](name: String)(body: => A): A = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.clearJobGroup()
      synchronized { spans += ((name, t0, t1)) }
    }
  }

  /** Times a sequence of layer calls; the traced end-to-end time is the sum
    * of the sequences, so work done between sequences (checks, counters) is
    * not part of it. */
  def sequence[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally synchronized { sequences(name) = (System.nanoTime() - t0) / 1e9 }
  }

  def sequenceS(name: String): Double = synchronized(sequences.getOrElse(name, 0.0))
  def sequencesS: Double = synchronized(sequences.values.sum)

  /** Waits until the listener has seen every event posted so far: events
    * reach a listener in order, so once a marker job's end arrives, all
    * earlier jobs' task and job events have been processed. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    drained = false
    sc.setJobGroup(DrainGroup, DrainGroup, interruptOnCancel = false)
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(20)
    require(drained, "trace listener did not drain within 30 s")
  }

  /** Per-layer summary over all spans of the layer. */
  def summary(layer: String, cores: Int): LayerStats = synchronized {
    val mySpans = spans.filter(_._1 == layer).map(s => s._2 -> s._3).toSeq
    val wallMs = mySpans.map { case (a, b) => b - a }.sum
    val a = aggs.getOrElse(layer, new Agg)
    val covered = mySpans.map { case (s0, s1) =>
      unionLength(a.intervals.toSeq.map { case (j0, j1) => math.max(j0, s0) -> math.min(j1, s1) })
    }.sum
    LayerStats(
      wallS = wallMs / 1000.0,
      taskCpuS = a.cpuNs / 1e9,
      busyFrac = if (wallMs == 0) 0.0 else a.runMs.toDouble / (wallMs * cores),
      driverOnlyS = math.max(0L, wallMs - covered) / 1000.0,
      jobs = a.jobs,
      shuffleMb = a.shuffleWrite / 1e6,
      spillMb = a.spill / 1e6)
  }

}

object Trace {
  private val Unattributed = "(none)"
  /** The sequence holding the batch run and its resume. */
  val Replay = "replay"
  private val JobGroupProperty = "spark.jobGroup.id"
  private val DrainGroup = "perfbench-drain"

  private final class Agg {
    var jobs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  final case class LayerStats(wallS: Double, taskCpuS: Double, busyFrac: Double,
      driverOnlyS: Double, jobs: Long, shuffleMb: Double, spillMb: Double)

  /** Total length covered by a set of (start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}
