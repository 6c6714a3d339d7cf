package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{AlsScoring, Ratings}
import graft.streaming._

/** End-to-end serve loop (SURVEY.md §7.3) driven by MemoryStream — no Kafka
  * needed: records → latest-per-key state → ServingStore → predict, then the
  * SGD feedback loop updating the store.
  */
class StreamingServeSpec extends SparkSpec {
  import spark.implicits._

  private def rec(id: Long, kind: String, fs: Double*): String =
    s"$id,$kind,${fs.map(f => f"$f%.6f").mkString(";")}"

  test("consumer keeps latest record per key across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val store = ServingStore.factorStore()
    val q = ModelConsumer.serveTo(spark, in.toDF(), store)
    try {
      in.addData(rec(1, "U", 0.1, 0.2), rec(2, "U", 0.3, 0.4))
      q.processAllAvailable()
      assert(store.get("1-U").get.toSeq === Seq(0.1, 0.2))
      assert(store.get("2-U").get.toSeq === Seq(0.3, 0.4))
      assert(store.get("9-U").isEmpty)

      // second batch: overwrite key 1, add item key; latest wins
      in.addData(rec(1, "U", 0.9, 0.8), rec(5, "I", 1.0, 2.0))
      q.processAllAvailable()
      assert(store.get("1-U").get.toSeq === Seq(0.9, 0.8))
      assert(store.get("5-I").get.toSeq === Seq(1.0, 2.0))
      assert(store.size === 3)
    } finally q.stop()
  }

  test("within one batch the highest-seq record wins per key") {
    val parsed = Seq(
      ("1-U", 10L, Array(1.0)), ("1-U", 11L, Array(2.0)),
      ("2-U", 5L, Array(3.0))).toDF("key", "seq", "factors")
    val latest = ModelConsumer.latestPerKeyBatch(parsed)
      .select("key", "factors").as[(String, Array[Double])].collect().toMap
    assert(latest("1-U").toSeq === Seq(2.0))
    assert(latest("2-U").toSeq === Seq(3.0))
  }

  test("predict service: pair dot product, absent keys, mean fallback") {
    val store = ServingStore.factorStore()
    store.put("7-U", Array(1.0, 2.0))
    store.put("3-I", Array(0.5, 0.25))
    val svc = new PredictService(store)
    assert(svc.predictPair(7, 3).get === 1.0 * 0.5 + 2.0 * 0.25)
    assert(svc.predictPair(7, 99).isEmpty) // UnknownKeyOrNamespace -> empty
    val withMean = new PredictService(store, meanVector = Some(Array(1.0, 1.0)))
    assert(withMean.predictPair(7, 99).get === 3.0) // 1*1 + 2*1
  }

  test("predict service: sparse SVM accumulation skips absent features") {
    val store = ServingStore.factorStore()
    store.put("10-W", Array(2.0))
    store.put("11-W", Array(-1.0))
    val svc = new PredictService(store)
    assert(svc.predictSparse(Map(10L -> 3.0, 11L -> 4.0, 12L -> 100.0)) === 2.0)
    assert(svc.classify(Map(10L -> 3.0)) === 1)
    assert(svc.classify(Map(11L -> 3.0)) === -1)
  }

  test("MEAN rows flow through the consumer under their literal state key") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val store = ServingStore.factorStore()
    val q = ModelConsumer.serveTo(spark, in.toDF(), store)
    try {
      in.addData("MEAN,U,0.500000;0.600000", rec(3, "U", 0.1, 0.2))
      q.processAllAvailable()
      assert(store.get("MEAN-U").get.toSeq === Seq(0.5, 0.6))
      assert(store.get("3-U").get.toSeq === Seq(0.1, 0.2))
    } finally q.stop()
  }

  test("SGD with MEAN fallback onboards a user missing from the model") {
    implicit val sqlCtx = spark.sqlContext
    val store = ServingStore.factorStore()
    store.put("MEAN-U", Array(0.5, 0.5))
    store.put("MEAN-I", Array(0.5, 0.5))
    store.put("7-I", Array(1.0, 2.0)) // item exists; user 42 does not
    val in = MemoryStream[String]
    val q = SgdUpdater.updateLoop(spark, in.toDF(), store, lr = 0.1)
    try {
      in.addData("42,7,4.0")
      q.processAllAvailable()
    } finally q.stop()
    // user 42 was onboarded from MEAN: u' = mean + lr*err*i
    val u = store.get("42-U").get
    val err = 4.0 - (0.5 * 1.0 + 0.5 * 2.0)
    assert(math.abs(u(0) - (0.5 + 0.1 * err * 1.0)) < 1e-9)
    assert(math.abs(u(1) - (0.5 + 0.1 * err * 2.0)) < 1e-9)
    // the item side updated against the mean user vector
    assert(store.get("7-I").isDefined)
  }

  test("streaming evaluator reports per-batch MSE with MEAN fallback") {
    implicit val sqlCtx = spark.sqlContext
    val store = ServingStore.factorStore()
    store.put("1-U", Array(1.0, 0.0))
    store.put("7-I", Array(2.0, 0.0))
    store.put("MEAN-U", Array(0.5, 0.5))
    store.put("MEAN-I", Array(0.5, 0.5))
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
    val in = MemoryStream[String]
    val q = StreamingEvaluator.mseStream(spark, in.toDF(), store,
      (b, m, n) => results.synchronized { results += ((b, m, n)) })
    try {
      // known pair: pred 2.0, err 1.0; unknown user 99: mean·7-I = 1.0, err 1.0
      in.addData("1,7,3.0", "99,7,2.0")
      q.processAllAvailable()
    } finally q.stop()
    val (_, mse, n) = results.synchronized(results.head)
    assert(n === 2L)
    assert(math.abs(mse - 1.0) < 1e-9)
  }

  test("streaming evaluator falls back per side: only MEAN-U served") {
    implicit val sqlCtx = spark.sqlContext
    val store = ServingStore.factorStore()
    store.put("MEAN-U", Array(0.5, 0.25))
    store.put("7-I", Array(2.0, 4.0))
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
    val in = MemoryStream[String]
    val q = StreamingEvaluator.mseStream(spark, in.toDF(), store,
      (b, m, n) => results.synchronized { results += ((b, m, n)) })
    try {
      // unknown user 99 is scored with MEAN-U·7-I = 0.5*2 + 0.25*4 = 2.0
      in.addData("99,7,3.5")
      q.processAllAvailable()
    } finally q.stop()
    val rows = results.synchronized(results.toList)
    assert(rows.size === 1, s"expected one reported batch, got $rows")
    val (_, mse, n) = rows.head
    assert(n === 1L)
    val err = 3.5 - (0.5 * 2.0 + 0.25 * 4.0)
    assert(math.abs(mse - err * err) < 1e-12)
  }

  test("one updateLoop micro-batch writes exactly SgdUpdater.userStep's vectors") {
    implicit val sqlCtx = spark.sqlContext
    val store = ServingStore.factorStore()
    Ratings.userFactors(spark, sf0).collect()
      .foreach(r => store.put(s"${r.getLong(0)}-U", r.getSeq[Double](1).toArray))
    Ratings.itemFactors(spark, sf0).collect()
      .foreach(r => store.put(s"${r.getLong(0)}-I", r.getSeq[Double](1).toArray))
    val batch = Ratings.ratings(spark, sf0).limit(500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val lr = 0.01
    val lambda = 0.1
    // the step the loop must reproduce, from the same snapshot and ratings
    val (userF, itemF) = ServingStore.factorFrames(spark, store)
    val expected = SgdUpdater.userStep(
      batch.toDF("user_id", "item_id", "rating"), userF, itemF, lr, lambda)
      .as[(Long, Array[Double])].collect().toMap
    assert(expected.keySet === batch.map(_._1).toSet)

    val in = MemoryStream[String]
    val q = SgdUpdater.updateLoop(spark, in.toDF(), store, lr, lambda)
    try {
      in.addData(batch.map { case (u, i, r) => s"$u,$i,$r" })
      q.processAllAvailable()
    } finally q.stop()
    expected.foreach { case (u, want) =>
      val got = store.get(s"$u-U").get
      assert(got.length === want.length)
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 1e-12, s"user $u: streamed $g, userStep $w")
      }
    }
  }

  test("poison records do not kill the serve or SGD queries") {
    implicit val sqlCtx = spark.sqlContext
    val store = ServingStore.factorStore()
    store.put("MEAN-U", Array(0.5, 0.5))
    store.put("MEAN-I", Array(0.5, 0.5))
    val in = MemoryStream[String]
    val q = ModelConsumer.serveTo(spark, in.toDF(), store)
    try {
      in.addData("5,U", "garbage", rec(1, "U", 0.1, 0.2))
      q.processAllAvailable() // truncated + garbage records skipped
      assert(store.get("1-U").get.toSeq === Seq(0.1, 0.2))
    } finally q.stop()

    val rIn = MemoryStream[String]
    val sgd = SgdUpdater.updateLoop(spark, rIn.toDF(), store, lr = 0.1)
    try {
      rIn.addData("abc,2,3.0", "1,2,notanumber", "3,4,2.0")
      sgd.processAllAvailable() // malformed rating lines dropped
      assert(store.get("3-U").isDefined, "valid row must still update")
      assert(store.get("abc-U").isEmpty)
    } finally sgd.stop()
  }

  test("LCG stays in range for ids beyond 2^33 (SF-100k key space)") {
    import graft.functions.Portable
    val big = Seq(15000000000L, 8400000001L, Long.MaxValue / 2).toDF("id")
    val vals = big.select(Portable.lcgUnit(col("id"), 1).as("u"))
      .as[Double].collect()
    vals.foreach(u => assert(u >= 0.0 && u < 1.0, s"lcgUnit out of range: $u"))
  }

  test("SGD feedback loop through the store decreases MSE") {
    implicit val sqlCtx = spark.sqlContext
    val store = ServingStore.factorStore()
    // seed the store with the deterministic fixture model at sf0.001
    val uf = Ratings.userFactors(spark, sf0).collect()
    val itf = Ratings.itemFactors(spark, sf0).collect()
    uf.foreach(r => store.put(s"${r.getLong(0)}-U", r.getSeq[Double](1).toArray))
    itf.foreach(r => store.put(s"${r.getLong(0)}-I", r.getSeq[Double](1).toArray))

    def mseNow(): Double = {
      val snap = ServingStore.snapshotDF(spark, store)
      val u = snap.filter(col("key").endsWith("-U"))
        .select(split(col("key"), "-").getItem(0).cast("long").as("user_id"),
          col("factors").as("uf"))
      val i = snap.filter(col("key").endsWith("-I"))
        .select(split(col("key"), "-").getItem(0).cast("long").as("item_id"),
          col("factors").as("itf"))
      AlsScoring.mse(AlsScoring.predictions(Ratings.ratings(spark, sf0), u, i))
        .collect()(0).getDouble(0)
    }

    val before = mseNow()
    val in = MemoryStream[String]
    val q = SgdUpdater.updateLoop(spark, in.toDF(), store, lr = 1e-4)
    try {
      val lines = Ratings.ratings(spark, sf0).limit(2000)
        .collect().map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)}")
      in.addData(lines.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val after = mseNow()
    assert(after < before, s"SGD step should reduce MSE: before=$before after=$after")
  }

  test("store byte budget: loud rejection at the cap, updates re-weigh") {
    // budget for ~2 small entries; the third distinct key must be REFUSED
    // with an explicit error (not an OOM), while replacing an existing
    // key re-weighs: a shrinking update frees budget, a growing one can
    // itself trip the cap
    val entry = TrieMapServingStore.defaultWeigh("1-U", Array(0.1, 0.2))
    val small = TrieMapServingStore.defaultWeigh("3-U", Array(0.5))
    val store = ServingStore.factorStore(maxBytes = 2 * entry + small)
    store.put("1-U", Array(0.1, 0.2))
    store.put("2-U", Array(0.3, 0.4))
    assert(store.bytes === 2 * entry)
    val e = intercept[IllegalStateException] { store.put("3-U", Array(0.5, 0.6)) }
    assert(e.getMessage.contains("over budget"))
    assert(e.getMessage.contains("3-U"))
    assert(store.size === 2) // rejected put left the store untouched
    // same-size replace fits exactly; growing the value does not
    store.put("1-U", Array(0.7, 0.8))
    assert(store.get("1-U").get.toSeq === Seq(0.7, 0.8))
    intercept[IllegalStateException] { store.put("1-U", Array.fill(64)(0.0)) }
    // shrink 1-U, freeing room for the key that was rejected before
    store.put("1-U", Array(0.9))
    store.put("3-U", Array(0.5))
    assert(store.size === 3)
    assert(store.bytes <= store.maxBytes)
  }
}
