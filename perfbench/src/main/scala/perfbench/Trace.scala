package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records lines for run.py on stdout. Every record is one JSON object on a
  * line starting with `@@PB `, so stray engine output on stdout is ignored. */
object Out {
  private val out = new java.io.PrintStream(
    new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.println("@@PB " + json(Map("kind" -> kind) ++ fields))
  }
}

/** Wall clock in epoch seconds with nanoTime resolution: spans, task
  * intervals and generator stamps are all compared on this one axis. */
object Clock {
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9
}

/** Spans and engine counters for the traced run. Everything is observed from
  * outside the engine: spans wrap calls into the engine's public functions,
  * counters come from Spark's public listener interfaces. Records are
  * emitted raw; run.py does the attribution and the statistics. */
final class Tracer(spark: SparkSession) {
  private val nextSpan = new AtomicInteger(1)
  private val current = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  /** Nanoseconds spent inside this tracer's callbacks (its own cost). */
  val callbackNs = new AtomicLong
  private val storage = new ConcurrentHashMap[String, java.lang.Long]
  private val storageNow = new AtomicLong
  val storagePeak = new AtomicLong
  @volatile private var attached = false

  private def timedCallback(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(ev: SparkListenerJobStart): Unit = timedCallback {
      Out.emit("job", "id" -> ev.jobId, "t" -> ev.time / 1e3)
    }
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = timedCallback {
      Out.emit("stage", "id" -> ev.stageInfo.stageId, "tasks" -> ev.stageInfo.numTasks,
        "t" -> Clock.now())
    }
    override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = timedCallback {
      val i = ev.taskInfo
      val m = ev.taskMetrics
      if (m != null) Out.emit("task",
        "stage" -> ev.stageId, "start" -> i.launchTime / 1e3, "end" -> i.finishTime / 1e3,
        "run_s" -> m.executorRunTime / 1e3, "cpu_s" -> m.executorCpuTime / 1e9,
        "gc_s" -> m.jvmGCTime / 1e3,
        "in_bytes" -> m.inputMetrics.bytesRead, "in_rows" -> m.inputMetrics.recordsRead,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onBlockUpdated(ev: SparkListenerBlockUpdated): Unit = timedCallback {
      val b = ev.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        val old = Option(storage.put(b.blockId.name, size)).map(_.longValue).getOrElse(0L)
        val now = storageNow.addAndGet(size - old)
        storagePeak.accumulateAndGet(now, (a, c) => math.max(a, c))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timedCallback {
        Out.emit("qe", "t" -> Clock.now(), "func" -> funcName,
          "plan_s" -> qe.tracker.phases.values.map(_.durationMs).sum / 1e3,
          "non_codegen" -> Tracer.nonCodegenNodes(qe.executedPlan))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = synchronized {
    if (!attached) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      attached = true
    }
  }

  def detach(): Unit = synchronized {
    if (attached) {
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      attached = false
    }
  }

  def isAttached: Boolean = attached

  /** Block until every queued listener event is delivered
    * (`LiveListenerBus.waitUntilEmpty`, private[spark] but public in bytecode). */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  /** Times `f` as a span nested under the calling thread's open span. Spans
    * are recorded whether or not the listeners are attached: they cost two
    * clock reads. */
  def span[T](name: String)(f: => T): T = {
    val id = nextSpan.getAndIncrement()
    val parent = current.get.headOption.getOrElse(0)
    current.set(id :: current.get)
    val t0 = Clock.now()
    try f finally {
      current.set(current.get.tail)
      Out.emit("span", "id" -> id, "parent" -> parent, "name" -> name,
        "start" -> t0, "end" -> Clock.now(), "traced" -> attached)
    }
  }
}

object Tracer {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def gcSeconds(): Double = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakBytes(): Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Plan nodes that run outside whole-stage code generation, not counting
    * exchanges, stage wrappers, columnar scans and write commands. */
  def nonCodegenNodes(root: SparkPlan): Int = {
    val infra = Set("ColumnarToRowExec", "FileSourceScanExec", "BatchScanExec",
      "InMemoryTableScanExec", "LocalTableScanExec", "RDDScanExec",
      "OverwriteByExpressionExec", "AppendDataExec", "WriteFilesExec",
      "DataWritingCommandExec", "ExecutedCommandExec", "CollectMetricsExec",
      "AQEShuffleReadExec", "ReusedExchangeExec", "ReusedSubqueryExec",
      "SubqueryBroadcastExec", "ResultQueryStageExec", "WriteToDataSourceV2Exec")
    def walk(p: SparkPlan, inCodegen: Boolean): Int = p.getClass.getSimpleName match {
      case "AdaptiveSparkPlanExec" =>
        walk(p.asInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
          .executedPlan, false)
      case n if n.endsWith("QueryStageExec") && n != "ResultQueryStageExec" =>
        walk(p.asInstanceOf[org.apache.spark.sql.execution.adaptive.QueryStageExec].plan, false)
      case "WholeStageCodegenExec" => p.children.map(walk(_, true)).sum
      case "InputAdapter" => p.children.map(walk(_, false)).sum
      case n if n.endsWith("ExchangeExec") => p.children.map(walk(_, false)).sum
      case n => (if (inCodegen || infra(n)) 0 else 1) + p.children.map(walk(_, inCodegen)).sum
    }
    scala.util.Try(walk(root, false)).getOrElse(-1)
  }
}
