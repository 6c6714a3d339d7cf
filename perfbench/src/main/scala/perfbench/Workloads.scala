package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{AlsScoring, Ratings, Training}
import graft.plans.Checkpoints
import graft.streaming.{PredictService, ServingStore, SgdUpdater, StreamingEvaluator}

/** ALS pair reads: uniform user and item ids from a range 5% wider than
  * the model on each side, so about one read in ten misses a key and is
  * answered from the MEAN fallback. */
final class AlsPairs(svc: PredictService, seed: Long, users: Int, items: Int)
    extends Request {
  private val rnd = new SplittableRandom(seed)
  private var u, i = 0L
  var sink = 0.0
  def prepare(): Unit = {
    u = 1L + rnd.nextInt((users * 1.05).toInt)
    i = 1L + rnd.nextInt((items * 1.05).toInt)
  }
  def send(): Boolean = svc.predictPair(u, i) match {
    case Some(p) => sink += p; true
    case None => false
  }
}

/** Sparse SVM reads in the reference's SVMPredictRandom shape: 10-100% of
  * `maxFeatures` features, ids uniform over the weight table, values
  * uniform in [-1, 1); one store lookup per feature. */
final class SvmVectors(svc: PredictService, seed: Long, features: Int,
                       maxFeatures: Int) extends Request {
  private val rnd = new SplittableRandom(seed)
  private var x: Map[Long, Double] = Map.empty
  var sink = 0.0
  def prepare(): Unit = {
    val lo = math.max(1, maxFeatures / 10)
    val nf = lo + rnd.nextInt(maxFeatures - lo + 1)
    x = Iterator.fill(nf)((1L + rnd.nextInt(features), rnd.nextDouble() * 2 - 1)).toMap
  }
  def send(): Boolean = { sink += svc.predictSparse(x); true }
}

object Workloads {

  /** JIT warm-up before the timed reads: 200k ALS reads at the heavy rate
    * (the first 200k reads of a fresh JVM run about 2x slower). */
  val WarmupNs = 1000000000L
  /** Read rates (requests/s): the read phase's nominal and heavy ALS rates,
    * its SVM rate, and the reader beside the update phase's writers. */
  val AlsNominal = 50000.0
  val AlsHeavy = 200000.0
  val SvmRate = 10000.0
  val UpdateReaderRate = 10000.0
  val SvmMaxFeatures = 100

  /** Update-phase sizes: model records per publish, ratings per SGD batch
    * and per evaluator batch, and the evaluator's batch count. */
  val PublishBatch = 2000
  val SgdBatch = 2000
  val SgdBatches = 3
  val EvalBatch = 5000
  val EvalBatches = 2
  val SgdLr = 0.001
  val SgdLambda = 0.01

  /** The batch-suite queries: every query of AlsPack, ModelCodec, SvmPack,
    * ServePack, GeneratorPack and TrainPack, by name. */
  val Suite: Seq[String] = Seq(
    "q01_mse", "q02_codec_roundtrip", "q03_state_keys", "q04_mean_vector",
    "q05_range_partition", "q07_point_lookup", "q08_mean_fallback",
    "q09_sparse_predict", "q10_pair_predict", "q16_latest_per_key",
    "q17_sgd_step", "q18_als_generator", "q19_svm_generator",
    "q24_als_train", "q25_svm_train", "q49_svm_wire_codec", "q171_ndcg",
    "q209_negative_sampling")

  private def secs(ns: Long): Double = ns / 1e9

  /** An open-loop reader on its own thread, sending until `endAt`. */
  final class Reader(name: String, gaps: Iterator[Long], req: Request,
                     start: Long, endAt: () => Long) {
    val stats = new LoopStats
    private val t = new Thread(() => OpenLoop.run(gaps, start, endAt, req, stats), name)
    t.setDaemon(true)
    t.start()
    def join(): LoopStats = { t.join(); stats }
  }

  /** Open-loop run on a reader thread, blocking until it ends. */
  def openLoop(name: String, rate: Double, seed: Long, req: Request,
               durationNs: Long): LoopStats = {
    val start = System.nanoTime() + 1000000L
    new Reader(name, OpenLoop.poissonGaps(rate, seed), req, start,
      () => start + durationNs).join()
  }

  /** Served ALS answers equal `AlsScoring.predictions` on sampled pairs
    * present in the model; absent pairs must be answered by the fallback. */
  def predictGate(s: Lifecycle.Setup, svc: PredictService, seed: Long, r: Result): Unit = {
    val spark = s.spark
    import spark.implicits._
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val pairs = Array.fill(2000)((1L + rnd.nextInt((s.rows("customer") * 1.05).toInt),
      1L + rnd.nextInt((s.rows("part") * 1.05).toInt)))
    val (uf, itf) = ServingStore.factorFrames(spark, s.store)
    val batch = AlsScoring.predictions(pairs.toSeq.toDF("user_id", "item_id"), uf, itf)
      .select("user_id", "item_id", "prediction").collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    var hits, wrong = 0
    pairs.foreach { case (u, i) =>
      val got = svc.predictPair(u, i)
      batch.get((u, i)) match {
        case Some(p) =>
          hits += 1
          if (!got.exists(g => math.abs(g - p) <= 1e-9 * math.max(1.0, math.abs(p)))) wrong += 1
        case None => if (got.isEmpty) wrong += 1
      }
    }
    r.gate("predict_equals_batch_scoring", wrong == 0 && hits > pairs.length / 2,
      s"$hits of ${pairs.length} sampled pairs in the model, $wrong answers differ")
  }

  // ---- serve: the read phase (Spark idle), then the update phase ---------

  def serve(o: Opts, s: Lifecycle.Setup, r: Result, trace: Trace): Unit = {
    val svc = new PredictService(s.served, s.store.get("MEAN-U"))
    trace.span("window", "read phase") { readPhase(o, s, r, trace, svc) }
    trace.span("window", "update phase") { updatePhase(o, s, r, trace, svc) }
    predictGate(s, svc, o.seed, r)
  }

  /** Open-loop reads with nothing else running: ALS pairs at the nominal
    * and the heavy rate, then sparse SVM vectors. */
  def readPhase(o: Opts, s: Lifecycle.Setup, r: Result, trace: Trace,
                svc: PredictService): Unit = {
    val (u, i) = (s.rows("customer").toInt, s.rows("part").toInt)
    // JIT warm-up, outside the timed window
    openLoop("warmup-als", AlsHeavy, o.seed + 1, new AlsPairs(svc, o.seed + 2, u, i), WarmupNs)
    openLoop("warmup-svm", SvmRate, o.seed + 3,
      new SvmVectors(svc, o.seed + 4, i, SvmMaxFeatures), WarmupNs / 3)
    val win = o.seconds * 1000000000L
    val gets0 = trace.storeGets(s.served)
    val nominal = trace.span("predict", "als nominal") {
      openLoop("als-nominal", AlsNominal, o.seed + 5, new AlsPairs(svc, o.seed + 6, u, i), win * 4 / 10)
    }
    val heavy = trace.span("predict", "als heavy") {
      openLoop("als-heavy", AlsHeavy, o.seed + 7, new AlsPairs(svc, o.seed + 8, u, i), win * 3 / 10)
    }
    val svm = trace.span("predict", "svm") {
      openLoop("svm", SvmRate, o.seed + 9,
        new SvmVectors(svc, o.seed + 10, i, SvmMaxFeatures), win * 3 / 10)
    }
    val all = Seq(nominal, heavy, svm)
    all.foreach(r.count)
    r.timing("als", "us", nominal.latencyWithMissing, Seq(99.0))
    val h = heavy.latencyWithMissing
    Stats.summary(h).at(h, 99.0).filter(_ != Long.MaxValue)
      .foreach(v => r.metric("als_p99_heavy_us", v / 1e3, "us"))
    r.notes += s"als_heavy: n=${h.length}, ${heavy.missing} missing"
    r.timing("svm", "us", svm.latencyWithMissing, Seq(99.0))
    Seq("als" -> nominal, "als_heavy" -> heavy, "svm" -> svm).foreach((r.lateness _).tupled)
    trace.predictLayer(all, trace.storeGets(s.served) - gets0)
  }

  /** The lifecycle beside one open-loop reader: train, publish, update
    * online with SGD, evaluate. */
  def updatePhase(o: Opts, s: Lifecycle.Setup, r: Result, trace: Trace,
                  svc: PredictService): Unit = {
    val spark = s.spark
    val feed = s.feed.get
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    // seeded three-way split of the rating fact: 20% train, 20% streamed
    // through SGD, 20% held out for the evaluator
    val ratings = Ratings.ratings(spark, o.dataDir)
    val bucket = pmod(xxhash64(lit(o.seed), col("user_id"), col("item_id"), col("rating")), lit(10L))
    def lines(lo: Int, hi: Int, n: Int): Array[String] =
      ratings.filter(bucket >= lo && bucket < hi)
        .orderBy(xxhash64(lit(o.seed + 1), col("user_id"), col("item_id"), col("rating")),
          col("user_id"), col("item_id"), col("rating"))
        .limit(n)
        .select(concat_ws(",", col("user_id"), col("item_id"), col("rating")))
        .as[String].collect()
    val train = ratings.filter(bucket < 2)
    val sgdLines = lines(2, 4, SgdBatches * SgdBatch)
    val evalLines = lines(4, 6, EvalBatches * EvalBatch)

    val winStart = System.nanoTime()
    val gets0 = trace.storeGets(s.served)
    // one reader beside the writers for the whole window
    val readerEnd = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    val reader = new Reader("reader", OpenLoop.poissonGaps(UpdateReaderRate, o.seed + 5),
      new AlsPairs(svc, o.seed + 6, s.rows("customer").toInt, s.rows("part").toInt), winStart,
      () => readerEnd.get)

    // train: ALS fit, then factor export and MEAN rows as wire records
    val t0 = System.nanoTime()
    val (uf, itf) = trace.span("training", "fit") {
      Trace.inLayer(spark, "training") {
        Training.alsTrain(train, rank = 8, maxIter = 3, blocks = o.cpus, seed = o.seed)
      }
    }
    val records = trace.span("training", "export") {
      Trace.inLayer(spark, "training") {
        Training.alsExport(uf, itf).unionAll(Training.meanExport(uf, itf)).as[String].collect()
      }
    }
    r.metric("train_s", secs(System.nanoTime() - t0), "s")
    r.notes += f"update phase: trained at ${secs(System.nanoTime() - winStart)}%.1f s"
    r.attempted += 1
    trace.trainingRecords = records.length

    // publish: fixed-size batches, closed loop, each timed to visibility
    val publishVisible = new Samples(64)
    records.grouped(PublishBatch).zipWithIndex.foreach { case (batch, b) =>
      val expect = batch.map(Lifecycle.parseRecord).toIndexedSeq
      val p0 = System.nanoTime()
      feed.publish(batch.toIndexedSeq, ref = b + 1)
      trace.span("consumer", "visible", b + 1) { Lifecycle.awaitValues(s.store, expect) }
      publishVisible.add(System.nanoTime() - p0)
      feed.query.processAllAvailable()
      r.attempted += 1
    }
    val (storeOk, storeDetail) = Lifecycle.storeGate(spark, feed, s.store)
    r.gate("store_equals_latest_per_key_after_publish", storeOk, storeDetail)
    r.timing("publish_visible", "ms", publishVisible.sorted, Seq(90.0))
    r.notes += f"update phase: published at ${secs(System.nanoTime() - winStart)}%.1f s"

    // online update: SGD micro-batches, closed loop
    val sgdIn = MemoryStream[String]
    val sgd = Trace.inLayer(spark, "sgd") {
      SgdUpdater.updateLoop(spark, sgdIn.toDF(), s.served, SgdLr, SgdLambda)
    }
    trace.streamLayer(sgd.id, "sgd")
    val updateVisible = new Samples(64)
    val puts0 = trace.storePuts(s.served)
    var b = 0
    while (b < SgdBatches) {
      val batch = sgdLines.slice(b * SgdBatch, (b + 1) * SgdBatch)
      val keys = batch.flatMap { l =>
        val f = l.split(","); Seq(s"${f(0)}-U", s"${f(1)}-I") }.distinct.toIndexedSeq
      val before = keys.map(k => s.store.get(k).orNull)
      val u0 = System.nanoTime()
      trace.span("kafkaio", "publish ratings", b) { sgdIn.addData(batch.toIndexedSeq) }
      trace.span("sgd", "visible", b) { Lifecycle.awaitReplaced(s.store, keys, before) }
      updateVisible.add(System.nanoTime() - u0)
      sgd.processAllAvailable()
      r.attempted += 1
      b += 1
    }
    sgd.stop()
    trace.sgdKeysUpdated = trace.storePuts(s.served) - puts0
    r.timing("update_visible", "ms", updateVisible.sorted, Seq(90.0))
    r.notes += f"update phase: updated at ${secs(System.nanoTime() - winStart)}%.1f s"

    // evaluation: held-out ratings scored against the final store
    val evalIn = MemoryStream[String]
    val mses = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]
    val ev = Trace.inLayer(spark, "evaluator") {
      StreamingEvaluator.mseStream(spark, evalIn.toDF(), s.served,
        (_, mse, n) => mses.add((mse, n)))
    }
    trace.streamLayer(ev.id, "evaluator")
    var evalNs = 0L
    evalLines.grouped(EvalBatch).zipWithIndex.foreach { case (batch, i) =>
      val e0 = System.nanoTime()
      trace.span("evaluator", "batch", i) {
        evalIn.addData(batch.toIndexedSeq)
        ev.processAllAvailable()
      }
      evalNs += System.nanoTime() - e0
      r.attempted += 1
    }
    ev.stop()
    readerEnd.set(System.nanoTime())
    val stats = reader.join()
    import scala.jdk.CollectionConverters._
    val evals = mses.asScala.toSeq
    val n = evals.map(_._2).sum
    r.metric("eval_ratings_per_s", n / secs(evalNs), "1/s")
    val mseFinal = evals.map { case (m, k) => m * k }.sum / n
    r.metric("mse_final", mseFinal, "rating2")
    r.count(stats)
    r.timing("als_update", "us", stats.latencyWithMissing, Seq(99.0))
    r.lateness("als_update", stats)
    trace.predictLayer(Seq(stats), trace.storeGets(s.served) - gets0)

    // gates: MSE over the final store snapshot, served answers
    val (fu, fi) = ServingStore.factorFrames(spark, s.store)
    val held = evalLines.toSeq.map { l =>
      val f = l.split(","); (f(0).toLong, f(1).toLong, f(2).toDouble) }
      .toDF("user_id", "item_id", "rating")
    val mu = s.store.get("MEAN-U").get
    val mi = s.store.get("MEAN-I").get
    val batchMse = AlsScoring.mse(AlsScoring.predictionsWithFallback(held, fu, fi,
      array(mu.toSeq.map(lit): _*), array(mi.toSeq.map(lit): _*))).collect()(0)
    val (bm, bn) = (batchMse.getDouble(0), batchMse.getLong(1))
    r.gate("mse_final_equals_batch_mse",
      bn == n && math.abs(bm - mseFinal) <= 1e-9 * math.max(1.0, bm),
      f"streamed $mseFinal%.9f over $n ratings, batch $bm%.9f over $bn")
  }

  // ---- batch-suite --------------------------------------------------------

  def batchSuite(o: Opts, s: Lifecycle.Setup, r: Result, trace: Trace): Unit = {
    val spark = s.spark
    val queries = SparkEntry.queries
    val missing = Suite.filterNot(queries.contains)
    require(missing.isEmpty, s"suite queries not in SparkEntry.queries: ${missing.mkString(", ")}")
    // the cold pass writes each result for run.py's oracle digest check,
    // so the output checked is the output timed; warm passes use noop
    val out = s"${o.work}/suite-out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def pass(tag: String): Double = Suite.map { q =>
      val t0 = System.nanoTime()
      val ok = trace.span("entry", q, 0) {
        trace.codegen("entry") {
          Trace.inLayer(spark, "entry") {
            try {
              val w = queries(q)(spark, o.dataDir).write.mode("overwrite")
              if (tag == "cold") w.parquet(s"$out/$q") else w.format("noop").save()
              true
            } catch { case e: Exception =>
              System.err.println(s"[perfbench] $q $tag failed: ${e.getMessage}")
              false
            }
          }
        }
      }
      val dt = secs(System.nanoTime() - t0)
      perQuery.getOrElseUpdate(q, ArrayBuffer.empty) += dt
      Checkpoints.sweep(spark)
      r.attempted += 1
      if (!ok) { r.failed += 1; trace.entryFailed += 1 }
      dt
    }.sum
    val winStart = System.nanoTime()
    r.metric("suite_cold_s", pass("cold"), "s")
    val warm = ArrayBuffer(pass("warm"))
    while (System.nanoTime() - winStart < o.seconds * 1000000000L) warm += pass("warm")
    r.metric("suite_warm_s", Stats.median(warm.toSeq), "s")
    r.notes += s"suite_warm_s: median of ${warm.size} warm passes"
    trace.entryQueries = Suite.size * (1 + warm.size)
    perQuery.foreach { case (q, ts) =>
      r.notes += s"$q: " + ts.map(t => f"$t%.3f").mkString("cold ", " s, warm ", " s") }

    Suite.foreach { q =>
      val sql = SparkEntry.oracleSql.getOrElse(q,
        throw new IllegalStateException(s"$q has no oracle SQL"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/$q.sql"), sql)
    }
    r.extra("suite_out") = out
    r.extra("suite_queries") = Suite.mkString(",")
  }
}
