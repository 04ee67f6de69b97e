package whbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Task counters summed over the jobs of one span. */
final class Tally {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = ArrayBuffer[Long]()

  def minus(o: Tally): Tally = {
    val t = new Tally
    t.jobs = jobs - o.jobs; t.tasks = tasks - o.tasks; t.runMs = runMs - o.runMs
    t.cpuNs = cpuNs - o.cpuNs; t.inputBytes = inputBytes - o.inputBytes
    t.inputRecords = inputRecords - o.inputRecords
    t.shuffleWriteBytes = shuffleWriteBytes - o.shuffleWriteBytes
    t.spillBytes = spillBytes - o.spillBytes
    t.taskMs ++= taskMs // skew is read from the span's own tasks
    t
  }

  def plus(o: Tally): Tally = {
    val t = new Tally
    t.jobs = jobs + o.jobs; t.tasks = tasks + o.tasks; t.runMs = runMs + o.runMs
    t.cpuNs = cpuNs + o.cpuNs; t.inputBytes = inputBytes + o.inputBytes
    t.inputRecords = inputRecords + o.inputRecords
    t.shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes
    t.spillBytes = spillBytes + o.spillBytes
    t.taskMs ++= taskMs ++= o.taskMs
    t
  }

  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** One timed region: a call into a layer, as seen from the benchmark. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's recorder, held entirely in memory until the run ends.
  *
  * Each span runs under its own job group, and a `SparkListener` sums the
  * task metrics of that group's jobs. Jobs a streaming query runs are keyed
  * by query id and batch id instead. With tracing off, [[span]] only runs
  * its body, and no listener is registered.
  */
final class Probe(spark: SparkSession, val tracing: Boolean) extends SparkListener {
  private val sc = spark.sparkContext
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val tallies = new ConcurrentHashMap[String, Tally]()
  val spans = ArrayBuffer[Span]()
  /** Progress of every streaming trigger that read rows, in arrival order. */
  val progress = ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  if (tracing) {
    sc.addSparkListener(this)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.synchronized { progress += e.progress }
    })
  }

  private def tally(key: String): Tally = tallies.computeIfAbsent(key, _ => new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val batch = Option(p).flatMap(q => Option(q.getProperty("streaming.sql.batchId")))
    val key = batch match {
      case Some(b) => Probe.streamKey(p.getProperty("sql.streaming.queryId"), b.toLong)
      case None => Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
        .getOrElse("untagged")
    }
    val t = tally(key)
    t.synchronized { t.jobs += 1 }
    e.stageIds.foreach(s => stageKey.put(s, key))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = tally(Option(stageKey.get(e.stageId)).getOrElse("untagged"))
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRecords += m.inputMetrics.recordsRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.taskMs += e.taskInfo.duration
      }
    }
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = if (tracing) org.apache.spark.WhbenchBus.drain(sc)

  /** Runs `body` as span `name`; traced, its jobs run in job group `name`. */
  def span[T](name: String, parent: String = "")(body: => T): T = {
    if (!tracing) body
    else {
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        spans.synchronized { spans += Span(name, parent, t0, t1) }
      }
    }
  }

  /** Seconds and task counters of the last span called `name`. */
  def read(name: String): (Double, Tally) = {
    drain()
    val s = spans.synchronized { spans.reverseIterator.find(_.name == name) }
      .getOrElse(throw new IllegalStateException(s"no span $name"))
    (s.seconds, Option(tallies.get(name)).getOrElse(new Tally))
  }

  def streamTally(queryId: String, batchId: Long): Tally = {
    drain()
    Option(tallies.get(Probe.streamKey(queryId, batchId))).getOrElse(new Tally)
  }
}

object Probe {
  def streamKey(queryId: String, batchId: Long): String = s"stream/$queryId/$batchId"

  /** Generic per-layer metrics of one layer's share of one operation. */
  def layer(prefix: String, seconds: Double, t: Tally, cores: Int): Map[String, Double] =
    Map(
      s"$prefix.self_s" -> seconds,
      s"$prefix.jobs" -> t.jobs.toDouble,
      s"$prefix.tasks" -> t.tasks.toDouble,
      s"$prefix.task_cpu_s" -> t.cpuNs / 1e9,
      s"$prefix.busy_pct" ->
        (if (seconds > 0) 100.0 * t.runMs / 1000.0 / (seconds * cores) else 0.0),
      s"$prefix.task_skew" -> t.skew)
}

/** Heap used after each collection, and total collection time. */
object Jvm {
  @volatile private var peak = 0L
  private lazy val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private lazy val installed: Unit = gcBeans.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peak) peak = used
        }
      }, null, null)
    case _ =>
  }

  def install(): Unit = installed
  def resetPeak(): Unit = peak = 0L
  def peakMb: Double = peak / 1048576.0
  def gcSeconds: Double = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
}
