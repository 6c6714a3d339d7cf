package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the id of the span
  * open on the same thread when this one started (-1 at the root); `ref` is
  * the batch or query number the span serves (-1 when none). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      ref: Long, startNs: Long, endNs: Long)

/** Spark-side counters of one layer, summed over the jobs submitted under
  * it (the `perfbench.layer` local property, which stream threads inherit
  * from the thread that started them). */
final class LayerCounters {
  val jobs, stages, tasks, cpuNs, gcMs, shuffleBytes = new LongAdder
  /** Slowest task per stage, summed: the part of the layer's time that
    * parallel tasks cannot hide. */
  val criticalMs = new LongAdder
}

/** Per-layer aggregate of streaming progress reports. */
final class StreamCounters {
  var batches, rowsIn, rowsEmitted = 0L
  var triggerMs, planningMs, addBatchMs, walCommitMs, stateCommitMs = 0L
  var stateRows, stateMemBytes = 0L
}

/** The traced run's recorder: spans in memory (written out at the end), and
  * listeners on Spark's public listener interfaces. Disabled, it records
  * nothing and `span` is a plain call. */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](layer: String, name: String, ref: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(-1), layer, name, ref,
          t0, System.nanoTime()))
        open.set(stack)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  // ---- Spark job/stage/task counters per layer ---------------------------
  val layers = new ConcurrentHashMap[String, LayerCounters]
  private val stageLayer = new ConcurrentHashMap[Int, String]
  private val stageMaxMs = new ConcurrentHashMap[Int, java.lang.Long]
  def counters(layer: String): LayerCounters =
    layers.computeIfAbsent(layer, _ => new LayerCounters)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val layer = Option(e.properties).flatMap(p =>
        Option(p.getProperty(LayerProperty))).getOrElse("other")
      counters(layer).jobs.increment()
      e.stageIds.foreach(stageLayer.put(_, layer))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(stageLayer.getOrDefault(e.stageId, "other"))
      c.tasks.increment()
      stageMaxMs.merge(e.stageId, e.taskInfo.duration, (a, b) => math.max(a, b))
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs.add(m.executorCpuTime)
        c.gcMs.add(m.jvmGCTime)
        c.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val c = counters(stageLayer.getOrDefault(id, "other"))
      c.stages.increment()
      Option(stageMaxMs.remove(id)).foreach(ms => c.criticalMs.add(ms))
    }
  }

  // ---- streaming progress per layer ---------------------------------------
  private val queryLayer = new ConcurrentHashMap[java.util.UUID, String]
  val streams = new ConcurrentHashMap[String, StreamCounters]
  /** Name the layer a started streaming query belongs to. */
  def streamLayer(id: java.util.UUID, layer: String): Unit =
    queryLayer.put(id, layer)

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val layer = queryLayer.getOrDefault(p.id, "other")
      val c = streams.computeIfAbsent(layer, _ => new StreamCounters)
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      c.synchronized {
        // idle progress reports repeat the last batch and carry no input
        if (p.numInputRows > 0) {
          c.batches += 1
          c.rowsIn += p.numInputRows
          c.triggerMs += d("triggerExecution")
          c.planningMs += d("queryPlanning")
          c.addBatchMs += d("addBatch")
          c.walCommitMs += d("walCommit")
          p.stateOperators.foreach { s =>
            c.rowsEmitted += s.numRowsUpdated
            c.stateCommitMs += s.commitTimeMs
            c.stateRows = s.numRowsTotal
            c.stateMemBytes = s.memoryUsedBytes
          }
        }
      }
    }
  }

  // ---- planning time of batch query executions ----------------------------
  /** (analysis + optimization + planning ms, wall-clock start ms) per
    * successful query execution; attributed to a layer by its start time. */
  private val planned = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty)
        planned.add((phases.values.map(p => p.endTimeMs - p.startTimeMs).sum,
          phases.values.map(_.startTimeMs).min))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Register the listeners on a new session (traced runs only). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(progressListener)
    spark.listenerManager.register(qeListener)
  }

  /** Forget everything recorded so far (a repeated set-up keeps only the
    * last repetition's trace). */
  def reset(): Unit = {
    spans.clear(); layers.clear(); stageLayer.clear(); stageMaxMs.clear()
    queryLayer.clear(); streams.clear(); planned.clear()
  }

  /** Planning ms of query executions that started inside a span of `layer`. */
  def planningMs(layer: String): Long = {
    val zero = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val windows = allSpans.filter(_.layer == layer)
      .map(s => (zero + s.startNs / 1000000L, zero + s.endNs / 1000000L))
    planned.asScala.collect {
      case (ms, start) if windows.exists { case (a, b) => start >= a - 1 && start <= b } => ms
    }.sum
  }

  // ---- codegen, measured around spans on the driver thread ---------------
  def codegen[T](layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val ns0 = CodeGenerator.compileTime
      val n0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try body
      finally {
        val c = codegenTotals.getOrElseUpdate(layer, Array(0L, 0L))
        c(0) += CodeGenerator.compileTime - ns0
        c(1) += org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
      }
    }
  /** layer -> (compile ns, classes compiled) */
  val codegenTotals = mutable.Map.empty[String, Array[Long]]

  // ---- counts the workloads hand over at layer boundaries -----------------
  var trainingRecords = 0L
  var sgdKeysUpdated = 0L
  var entryQueries = 0L
  var entryFailed = 0L
  var predictRequests = 0L
  var predictFailed = 0L
  var predictLookups = 0L
  val lateness = new Samples(1 << 10)

  def storeGets(store: graft.streaming.ServingStore.FactorStore): Long = store match {
    case c: CountingStore => c.gets.sum()
    case _ => 0L
  }
  def storePuts(store: graft.streaming.ServingStore.FactorStore): Long = store match {
    case c: CountingStore => c.puts.sum()
    case _ => 0L
  }

  /** Fold open-loop phases into the predict layer; `lookups` is the store
    * reads they made. */
  def predictLayer(loops: Seq[LoopStats], lookups: Long): Unit = {
    loops.foreach { s =>
      predictRequests += s.attempted
      predictFailed += s.failed + s.dropped
      val l = s.lateness.sorted
      var i = 0
      while (i < l.length) { lateness.add(l(i)); i += 1 }
    }
    predictLookups += lookups
  }

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover, summed over the layer's spans (ms). */
  def selfMs: Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  /** Spans as JSON lines, for the trace file written at the end of a run. */
  def spansJson: String = allSpans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
      s""""ref":${s.ref},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("\n")
}

object Trace {
  val LayerProperty = "perfbench.layer"

  /** Run `body` with Spark jobs it submits (and streams it starts)
    * attributed to `layer`. */
  def inLayer[T](spark: SparkSession, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LayerProperty)
    sc.setLocalProperty(LayerProperty, layer)
    try body finally sc.setLocalProperty(LayerProperty, prev)
  }

  /** Total length of the union of intervals. */
  def union(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
