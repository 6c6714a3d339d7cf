package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.operators.Selection
import graft.streaming.{ModelConsumer, ServingStore, StreamingQuota}

/** Fault-tolerance envelope of the serve loop (SURVEY.md §2.9): state
  * backend selection (reference: ALSKafkaConsumer.java:54-65 memory/fs/
  * rocksdb flag) and restart-with-checkpoint recovery (reference:
  * checkpoint every 60s + fixed-delay restart, ALSKafkaConsumer.java:44-51).
  */
class StateBackendSpec extends SparkSpec {
  import spark.implicits._

  private def rec(id: Long, kind: String, fs: Double*): String =
    s"$id,$kind,${fs.map(f => f"$f%.6f").mkString(";")}"

  test("consumer state survives under the RocksDB state store provider") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[String]
      val store = ServingStore.factorStore()
      val q = ModelConsumer.serveTo(spark, in.toDF(), store)
      try {
        in.addData(rec(1, "U", 0.1), rec(2, "U", 0.2))
        q.processAllAvailable()
        in.addData(rec(1, "U", 0.9))
        q.processAllAvailable()
        assert(store.get("1-U").get.toSeq === Seq(0.9))
        assert(store.size === 2)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("a stateful operator runs under the RocksDB provider with batch parity") {
    // the consumer keeps no operator state, so the provider is exercised
    // through StreamingQuota.enforce (flatMapGroupsWithState)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, String)]
      val q = StreamingQuota.enforce(in.toDF().toDF("doc_id", "domain"), cap = 2)
        .writeStream.format("memory").queryName("quota_rocksdb").start()
      try {
        in.addData((1L, "a"), (2L, "a"), (10L, "b"))
        q.processAllAvailable()
        in.addData((3L, "a"), (11L, "b"), (12L, "b"))
        q.processAllAvailable()
        val ops = q.lastProgress.stateOperators
        assert(ops.nonEmpty && ops.forall(_.customMetrics.keySet.asScala
          .exists(_.startsWith("rocksdb"))), "state must live in RocksDB")
        val got = spark.table("quota_rocksdb")
          .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
        assert(got === Seq((1L, "a", 1), (2L, "a", 2), (10L, "b", 1), (11L, "b", 2)))
        val batch = Selection.domainCap(
          Seq((1L, "a"), (2L, "a"), (3L, "a"), (10L, "b"), (11L, "b"), (12L, "b"))
            .toDF("doc_id", "domain"),
          "domain", Seq(col("doc_id")), cap = 2)
          .select("doc_id").as[Long].collect().sorted.toSeq
        assert(got.map(_._1) === batch)
      } finally q.stop()
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("restart from checkpoint preserves latest-per-key state") {
    val ckpt = Files.createTempDirectory("ckpt").toFile.getAbsolutePath
    val dir = Files.createTempDirectory("recov").toFile.getAbsolutePath
    val store = ServingStore.factorStore()

    // first incarnation: ingest one file, then "fail" (stop)
    val q1 = ModelConsumer.serveTo(spark,
      graft.sources.Tables.textStream(spark, dir), store, Some(ckpt))
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.txt"),
      rec(1, "U", 0.1) + "\n" + rec(2, "U", 0.2) + "\n")
    q1.processAllAvailable()
    q1.stop()
    assert(store.get("1-U").get.toSeq === Seq(0.1))

    // second incarnation, same checkpoint: only the new file is replayed,
    // and state carried in the checkpoint still wins on stale seq
    Files.writeString(java.nio.file.Paths.get(s"$dir/b.txt"),
      rec(1, "U", 0.7) + "\n" + rec(3, "I", 0.3) + "\n")
    val q2 = ModelConsumer.serveTo(spark,
      graft.sources.Tables.textStream(spark, dir), store, Some(ckpt))
    try {
      q2.processAllAvailable()
      assert(store.get("1-U").get.toSeq === Seq(0.7))
      assert(store.get("2-U").get.toSeq === Seq(0.2))
      assert(store.get("3-I").get.toSeq === Seq(0.3))
    } finally q2.stop()
  }
}
