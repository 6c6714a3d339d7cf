package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{ModelCodec, Ratings, SvmPack, Training}
import graft.sources.Tables
import graft.streaming.{KafkaIO, ModelConsumer, ServingStore, TrieMapServingStore}

/** The Spark session every workload runs in: `graft.Bench`'s settings
  * (one shuffle partition per core, AQE coalescing floor 64k, no UI), with
  * every scratch path under the run's work directory. */
object Session {
  def start(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** The model topic: a MemoryStream twin of the Kafka wire schema, consumed
  * by `KafkaIO.serveFromLines` (ModelConsumer latest-per-key state, upserted
  * into the store each micro-batch). Offsets are assigned here in publish
  * order, as a single-partition broker would. */
final class ModelFeed(spark: SparkSession, store: ServingStore.FactorStore,
                      checkpointDir: String, trace: Trace) {
  private implicit val sqlCtx: SQLContext = spark.sqlContext
  import spark.implicits._

  private val in =
    MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, Timestamp, Int)]
  val query = Trace.inLayer(spark, "consumer") {
    KafkaIO.serveFromLines(spark, KafkaIO.projectRecords(in.toDF().toDF(
      KafkaIO.wireSchema.fieldNames.toIndexedSeq: _*)), store, checkpointDir)
  }
  trace.streamLayer(query.id, "consumer")

  /** Every record published so far with its offset, for the store gate. */
  val published = new ArrayBuffer[(String, Long)]
  var publishCalls = 0L

  def publish(records: Seq[String], ref: Long): Unit =
    trace.span("kafkaio", "publish", ref) {
      val ts = new Timestamp(System.currentTimeMillis())
      val rows = records.map { r =>
        val off = published.size.toLong
        published += ((r, off))
        (Array.emptyByteArray, r.getBytes(UTF_8), "models", 0, off, ts, 0)
      }
      in.addData(rows)
      publishCalls += 1
    }

  def stop(): Unit = query.stop()
}

object Lifecycle {

  /** "id,KIND,f1;…" -> ("id-KIND", factors), the consumer's own parse. */
  def parseRecord(r: String): (String, Array[Double]) = {
    val p = r.split(",", 3)
    (s"${p(0)}-${p(1)}", p(2).split(";").map(_.toDouble))
  }

  /** Poll until every key holds the expected vector (by value). */
  def awaitValues(store: ServingStore.FactorStore,
                  expected: IndexedSeq[(String, Array[Double])],
                  timeoutNs: Long = 60000000000L): Unit = {
    val deadline = System.nanoTime() + timeoutNs
    var i = 0
    while (i < expected.length) {
      val (k, v) = expected(i)
      if (store.get(k).exists(java.util.Arrays.equals(_, v))) i += 1
      else {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"key $k not visible after ${timeoutNs / 1e9} s")
        LockSupport.parkNanos(50000L)
      }
    }
  }

  /** Poll until every key holds a different vector object than `before`. */
  def awaitReplaced(store: ServingStore.FactorStore, keys: IndexedSeq[String],
                    before: IndexedSeq[Array[Double]],
                    timeoutNs: Long = 60000000000L): Unit = {
    val deadline = System.nanoTime() + timeoutNs
    var i = 0
    while (i < keys.length) {
      if (store.get(keys(i)).exists(_ ne before(i))) i += 1
      else {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"key ${keys(i)} not updated after ${timeoutNs / 1e9} s")
        LockSupport.parkNanos(50000L)
      }
    }
  }

  /** The fixture model as wire records: `Ratings` user and item factors,
    * their MEAN rows, and `SvmPack.weights` as one-element "fid,W,w"
    * records (the key PredictService.predictSparse reads). */
  def fixtureRecords(spark: SparkSession, dir: String): Array[String] = {
    import spark.implicits._
    val uf = Ratings.userFactors(spark, dir)
    val itf = Ratings.itemFactors(spark, dir)
    Training.alsExport(uf, itf)
      .unionAll(Training.meanExport(uf, itf))
      .unionAll(SvmPack.weights(spark, dir).select(ModelCodec.encodeRecord(
        col("feature_id"), lit("W"), array(col("w"))).as("record")))
      .as[String].collect()
  }

  /** Store gate: the store equals `ModelConsumer.latestPerKeyBatch` of every
    * record published on the feed. */
  def storeGate(spark: SparkSession, feed: ModelFeed,
                store: TrieMapServingStore[String, Array[Double]]): (Boolean, String) = {
    import spark.implicits._
    val expected = ModelConsumer.latestPerKeyBatch(ModelConsumer.parse(
      feed.published.toSeq.toDF("value", "offset"), seqCol = Some("offset")))
      .select("key", "factors").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    val snap = store.snapshot
    val wrong = expected.count { case (k, v) =>
      !snap.get(k).exists(java.util.Arrays.equals(_, v)) }
    (snap.size == expected.size && wrong == 0,
      s"${snap.size} keys served, ${expected.size} expected, $wrong differ")
  }

  /** Set-up as a user pays it: session start, table load and, for the
    * serving workloads, the initial model load through the feed into a
    * fresh store. */
  final class Setup(val spark: SparkSession,
                    val store: TrieMapServingStore[String, Array[Double]],
                    val served: ServingStore.FactorStore,
                    val feed: Option[ModelFeed], val rows: Map[String, Long]) {
    def stop(): Unit = { feed.foreach(_.stop()); spark.stop() }
  }

  def setup(cpus: Int, work: String, dataDir: String, tables: Seq[String],
            withModel: Boolean, trace: Trace, rep: Int): Setup = {
    val spark = Session.start(cpus, work)
    trace.attach(spark)
    val rows = trace.span("sources", "load") {
      Trace.inLayer(spark, "sources") {
        tables.map(t => t -> Tables.table(spark, dataDir, t).count()).toMap
      }
    }
    val store = ServingStore.factorStore()
    val served = if (trace.enabled) new CountingStore(store) else store
    val feed = if (!withModel) None else {
      val feed = new ModelFeed(spark, served, s"$work/checkpoint/model-$rep", trace)
      val records = trace.span("kafkaio", "fixture records") {
        Trace.inLayer(spark, "kafkaio") { fixtureRecords(spark, dataDir) }
      }
      trace.span("consumer", "initial model load") {
        feed.publish(records.toIndexedSeq, ref = 0)
        awaitValues(store, records.iterator.map(parseRecord).toIndexedSeq)
        feed.query.processAllAvailable()
      }
      Some(feed)
    }
    new Setup(spark, store, served, feed, rows)
  }
}
