package ragbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-layer engine counters, read from outside the program: a
  * `SparkListener` credits every finished stage to the layer whose call
  * submitted the job. The layer travels as a thread-local Spark property
  * set by [[Meter.layer]] around each call into the program, so jobs
  * started from a streaming query's own thread are credited correctly
  * and the asynchronous listener bus cannot mis-assign them.
  */
final class LayerCounters {
  val cpuNs = new AtomicLong
  val runMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val tasks = new AtomicLong
  val jobs = new AtomicLong
  val stages = new AtomicLong

  def snapshot: Map[String, Double] = Map(
    "exec_cpu_s" -> cpuNs.get / 1e9,
    "exec_run_s" -> runMs.get / 1e3,
    "shuffle_bytes" -> (shuffleRead.get + shuffleWrite.get).toDouble,
    "spill_bytes" -> spill.get.toDouble,
    "tasks" -> tasks.get.toDouble,
    "jobs" -> jobs.get.toDouble,
    "stages" -> stages.get.toDouble)
}

final class LayerListener extends SparkListener {
  val layers = new ConcurrentHashMap[String, LayerCounters]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()

  def counters(layer: String): LayerCounters =
    layers.computeIfAbsent(layer, _ => new LayerCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val l = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Meter.LayerKey)))
      .getOrElse("unattributed")
    e.stageIds.foreach(stageLayer.put(_, l))
    counters(l).jobs.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val c = counters(Option(stageLayer.remove(info.stageId))
      .getOrElse("unattributed"))
    val m = info.taskMetrics
    c.stages.incrementAndGet()
    c.tasks.addAndGet(info.numTasks.toLong)
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.runMs.addAndGet(m.executorRunTime)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** One traced interval: `key` names the question batch, update tick or
  * kernel pass it belongs to. Spans stay in memory until the run ends.
  */
final case class Span(id: Long, parent: Long, name: String, key: String,
    startNs: Long, endNs: Long)

final class Meter(sc: SparkContext) {
  /** Record spans; off in untraced windows. */
  @volatile var tracing = false
  val listener = new LayerListener
  sc.addSparkListener(listener)

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** Credit the jobs `body` starts to `name`, and record a span around it
    * when tracing. The layer property is restored afterwards, so nested
    * calls credit the innermost layer.
    */
  def layer[T](name: String, key: String = "")(body: => T): T = {
    val prevLayer = sc.getLocalProperty(Meter.LayerKey)
    sc.setLocalProperty(Meter.LayerKey, name)
    try {
      if (!tracing) body
      else {
        val id = ids.incrementAndGet()
        val parent = current.get
        current.set(id)
        val t0 = System.nanoTime()
        try body
        finally {
          spans.add(Span(id, parent, name, key, t0, System.nanoTime()))
          current.set(parent)
        }
      }
    } finally sc.setLocalProperty(Meter.LayerKey, prevLayer)
  }

  /** Block until every event posted so far reached the listener. */
  def drain(): Unit = org.apache.spark.RagbenchAccess.drainListeners(sc)

  def snapshot(): Map[String, Map[String, Double]] = {
    drain()
    import scala.jdk.CollectionConverters._
    listener.layers.asScala.map { case (k, v) => k -> v.snapshot }.toMap
  }
}

object Meter {
  val LayerKey = "ragbench.layer"

  /** Per-layer counter deltas between two snapshots. */
  def delta(a: Map[String, Map[String, Double]],
      b: Map[String, Map[String, Double]]): Map[String, Map[String, Double]] =
    b.map { case (l, m) =>
      val base = a.getOrElse(l, Map.empty)
      l -> m.map { case (k, v) => k -> (v - base.getOrElse(k, 0.0)) }
    }
}
