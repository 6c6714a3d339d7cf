package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge

final case class Opts(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: String, cpus: Int) {
  def dataDir: String = s"$work/data"
}

/** One benchmark run in one JVM, on the inputs run.py generated: set up
  * several times (the median is `setup_s`), run the workload's timed
  * window, check its outputs, and write `result.json` for run.py.
  *
  * Usage: Main --workload serve|batch-suite --seed N
  *             --seconds S --trace 0|1 --work DIR */
object Main {

  val Names = Seq("serve", "batch-suite")
  /** Set-ups per run; the median is `setup_s`. The first pays the JVM's
    * cold start; batch-suite's set-up is short, so it takes more. */
  def setupReps(workload: String): Int = if (workload == "serve") 3 else 5
  /** Layers that record spans, each reported with its self time. */
  val SpanLayers = Seq("setup", "sources", "kafkaio", "consumer", "training",
    "sgd", "evaluator", "predict", "entry", "window")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv.getOrElse("workload", "")
    require(Names.contains(workload), s"--workload must be one of ${Names.mkString(", ")}")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(math.min(4, Runtime.getRuntime.availableProcessors))
    val o = Opts(workload, kv("seed").toLong, kv("seconds").toInt,
      kv.get("trace").contains("1"), kv("work"), cpus)
    val r = new Result
    run(o, r)
    Files.writeString(Paths.get(s"${o.work}/result.json"), r.json)
  }

  /** Heap in use after full collections, once Spark's listeners have
    * caught up (their status stores are part of what the run retains). */
  def liveHeapMb(spark: org.apache.spark.sql.SparkSession): Double = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  def run(o: Opts, r: Result): Unit = {
    val trace = new Trace(o.trace)
    val clock0 = System.nanoTime()
    def wall(): String = f"${(System.nanoTime() - clock0) / 1e9}%.1f s"
    val tables = new java.io.File(o.dataDir).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

    val setupS = new scala.collection.mutable.ArrayBuffer[Double]
    var s: Lifecycle.Setup = null
    (1 to setupReps(o.workload)).foreach { rep =>
      if (s != null) s.stop()
      trace.reset()
      val t0 = System.nanoTime()
      s = trace.span("setup", "setup", rep) {
        Lifecycle.setup(o.cpus, o.work, o.dataDir, tables,
          withModel = o.workload != "batch-suite", trace, rep)
      }
      setupS += (System.nanoTime() - t0) / 1e9
    }
    r.metric("setup_s", Stats.median(setupS.toSeq), "s")
    r.notes += f"setup_s: median of ${setupS.map(x => f"$x%.3f").mkString(", ")}"
    s.feed.foreach { f =>
      val (ok, detail) = Lifecycle.storeGate(s.spark, f, s.store)
      r.gate("store_equals_latest_per_key_after_setup", ok, detail)
    }
    val heapSetup = liveHeapMb(s.spark)

    r.notes += s"set-up done at ${wall()}"
    val (gcMs0, gcN0) = gcTotals
    trace.span("window", o.workload) {
      o.workload match {
        case "serve" => Workloads.serve(o, s, r, trace)
        case "batch-suite" => Workloads.batchSuite(o, s, r, trace)
      }
    }
    r.notes += s"window and gates done at ${wall()}"
    val (gcMs1, gcN1) = gcTotals
    r.metric("heap_peak_mb", math.max(heapSetup, liveHeapMb(s.spark)), "MB")
    if (o.trace) {
      PerfbenchBridge.drainListeners(s.spark.sparkContext)
      layers(s, r, trace, gcMs1 - gcMs0, gcN1 - gcN0)
      Files.writeString(Paths.get(s"${o.work}/spans.jsonl"), trace.spansJson)
    }
    s.stop()
  }

  /** Per-layer metrics of a traced run. Every layer is reported on every
    * workload; a layer the workload does not use reads 0. */
  def layers(s: Lifecycle.Setup, r: Result, t: Trace,
             gcMs: Long, gcCount: Long): Unit = {
    def spanMs(layer: String, name: String) =
      t.allSpans.filter(x => x.layer == layer && x.name == name)
        .map(x => (x.endNs - x.startNs) / 1e6).sum
    def c(layer: String) = t.counters(layer)
    def st(layer: String) = t.streams.getOrDefault(layer, new StreamCounters)
    def perBatch(x: Double, n: Long) = if (n == 0) 0.0 else x / n

    r.layer("sources.load_ms", spanMs("sources", "load"), "ms")
    r.layer("sources.rows", s.rows.values.sum.toDouble, "count")

    r.layer("training.fit_ms", spanMs("training", "fit"), "ms")
    r.layer("training.export_ms", spanMs("training", "export"), "ms")
    r.layer("training.records", t.trainingRecords.toDouble, "count")

    r.layer("kafkaio.publish_calls", s.feed.map(_.publishCalls).getOrElse(0L).toDouble, "count")
    r.layer("kafkaio.records", s.feed.map(_.published.size).getOrElse(0).toDouble, "count")
    r.layer("kafkaio.publish_ms", spanMs("kafkaio", "publish"), "ms")

    val con = st("consumer")
    r.layer("consumer.batches", con.batches.toDouble, "count")
    r.layer("consumer.rows_in", con.rowsIn.toDouble, "count")
    r.layer("consumer.rows_emitted", con.rowsEmitted.toDouble, "count")
    r.layer("consumer.trigger_ms", con.triggerMs.toDouble, "ms")
    r.layer("consumer.planning_ms", con.planningMs.toDouble, "ms")
    r.layer("consumer.add_batch_ms", con.addBatchMs.toDouble, "ms")
    r.layer("consumer.wal_commit_ms", con.walCommitMs.toDouble, "ms")
    r.layer("consumer.state_rows", con.stateRows.toDouble, "count")
    r.layer("consumer.state_mem_bytes", con.stateMemBytes.toDouble, "bytes")
    r.layer("consumer.state_commit_ms", con.stateCommitMs.toDouble, "ms")
    r.layer("consumer.jobs_per_batch", perBatch(c("consumer").jobs.sum().toDouble, con.batches), "count")

    val cs = s.served.asInstanceOf[CountingStore]
    val sgd = st("sgd")
    r.layer("store.gets", cs.gets.sum().toDouble, "count")
    r.layer("store.hit_ratio", cs.hitRatio, "ratio")
    r.layer("store.get_ns_total", cs.getNs.sum().toDouble, "ns")
    r.layer("store.puts", cs.puts.sum().toDouble, "count")
    r.layer("store.put_ns_total", cs.putNs.sum().toDouble, "ns")
    r.layer("store.put_ms_per_batch",
      perBatch(cs.putNs.sum() / 1e6, con.batches + sgd.batches), "ms")
    r.layer("store.keys", s.store.size.toDouble, "count")
    r.layer("store.bytes", s.store.bytes.toDouble, "bytes")

    val late = t.lateness.sorted
    r.layer("predict.requests", t.predictRequests.toDouble, "count")
    r.layer("predict.failed", t.predictFailed.toDouble, "count")
    r.layer("predict.lookups_per_request", perBatch(t.predictLookups.toDouble, t.predictRequests), "count")
    r.layer("predict.gen_late_p99_us",
      if (Stats.supports(late.length, 99.0)) Stats.percentile(late, 99.0) / 1e3 else 0.0, "us")
    r.layer("predict.gen_late_max_ms", if (late.isEmpty) 0.0 else late.last / 1e6, "ms")

    r.layer("sgd.batches", sgd.batches.toDouble, "count")
    r.layer("sgd.ratings", sgd.rowsIn.toDouble, "count")
    r.layer("sgd.trigger_ms", sgd.triggerMs.toDouble, "ms")
    r.layer("sgd.planning_ms", sgd.planningMs.toDouble, "ms")
    r.layer("sgd.add_batch_ms", sgd.addBatchMs.toDouble, "ms")
    r.layer("sgd.jobs_per_batch", perBatch(c("sgd").jobs.sum().toDouble, sgd.batches), "count")
    r.layer("sgd.task_cpu_ms", c("sgd").cpuNs.sum() / 1e6, "ms")
    r.layer("sgd.shuffle_bytes", c("sgd").shuffleBytes.sum().toDouble, "bytes")
    r.layer("sgd.keys_updated", t.sgdKeysUpdated.toDouble, "count")

    val ev = st("evaluator")
    r.layer("evaluator.batches", ev.batches.toDouble, "count")
    r.layer("evaluator.rows", ev.rowsIn.toDouble, "count")
    r.layer("evaluator.trigger_ms", ev.triggerMs.toDouble, "ms")
    r.layer("evaluator.jobs_per_batch", perBatch(c("evaluator").jobs.sum().toDouble, ev.batches), "count")

    val e = c("entry")
    val cg = t.codegenTotals.getOrElse("entry", Array(0L, 0L))
    r.layer("entry.queries", t.entryQueries.toDouble, "count")
    r.layer("entry.failed", t.entryFailed.toDouble, "count")
    r.layer("entry.planning_ms", t.planningMs("entry").toDouble, "ms")
    r.layer("entry.codegen_ms", cg(0) / 1e6, "ms")
    r.layer("entry.codegen_classes", cg(1).toDouble, "count")
    r.layer("entry.jobs", e.jobs.sum().toDouble, "count")
    r.layer("entry.stages", e.stages.sum().toDouble, "count")
    r.layer("entry.tasks", e.tasks.sum().toDouble, "count")
    r.layer("entry.task_cpu_ms", e.cpuNs.sum() / 1e6, "ms")
    r.layer("entry.gc_ms", e.gcMs.sum().toDouble, "ms")
    r.layer("entry.shuffle_bytes", e.shuffleBytes.sum().toDouble, "bytes")
    r.layer("entry.critical_path_ms", e.criticalMs.sum().toDouble, "ms")

    r.layer("jvm.gc_ms", gcMs.toDouble, "ms")
    r.layer("jvm.gc_count", gcCount.toDouble, "count")
    r.layer("jvm.heap_peak_mb", r.metrics("heap_peak_mb")._1, "MB")

    val self = t.selfMs
    SpanLayers.foreach(l => r.layer(s"$l.self_ms", self.getOrElse(l, 0.0), "ms"))
    r.layer("trace.spans", t.allSpans.size.toDouble, "count")
  }
}
