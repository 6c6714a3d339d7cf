package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{KafkaIO, ModelConsumer, ServingStore}

/** The consumer through its public wirings ([[ModelConsumer.serveTo]],
  * [[KafkaIO.serveFromLines]]): latest-wins by sequence within and across
  * micro-batches, idempotent replay, and no operator state. */
class ModelConsumerSpec extends SparkSpec {
  import spark.implicits._

  /** A (value, offset) record stream served into a fresh store. */
  private def served(
      body: (MemoryStream[(String, Long)], ServingStore.FactorStore, StreamingQuery) => Unit)
      : Unit = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val store = ServingStore.factorStore()
    val dir = java.nio.file.Files.createTempDirectory("consumer").toString
    val q = KafkaIO.serveFromLines(spark, in.toDF().toDF("value", "offset"), store, dir)
    try body(in, store, q) finally q.stop()
  }

  test("within one micro-batch the higher offset wins even when it comes first") {
    served { (in, store, q) =>
      in.addData(("7,U,0.900000;0.800000", 11L), ("7,U,0.100000;0.200000", 10L),
        ("8,I,0.300000", 3L), ("8,I,0.400000", 4L))
      q.processAllAvailable()
      assert(store.get("7-U").get.toSeq === Seq(0.9, 0.8))
      assert(store.get("8-I").get.toSeq === Seq(0.4))
    }
  }

  test("re-adding an identical batch leaves the store's values and size unchanged") {
    served { (in, store, q) =>
      val batch = Seq(("1,U,0.100000", 0L), ("2,U,0.200000", 1L), ("1,U,0.300000", 2L))
      in.addData(batch)
      q.processAllAvailable()
      val before = store.snapshot.map { case (k, v) => k -> v.toSeq }
      in.addData(batch)
      q.processAllAvailable()
      assert(store.snapshot.map { case (k, v) => k -> v.toSeq } === before)
      assert(store.size === 2)
      assert(store.get("1-U").get.toSeq === Seq(0.3))
    }
  }

  test("the consumer keeps no operator state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val store = ServingStore.factorStore()
    val q = ModelConsumer.serveTo(spark, in.toDF(), store)
    try {
      in.addData("1,U,0.100000", "MEAN,U,0.500000")
      q.processAllAvailable()
      in.addData("1,U,0.200000")
      q.processAllAvailable()
      assert(store.get("1-U").get.toSeq === Seq(0.2))
      assert(q.recentProgress.nonEmpty)
      assert(q.recentProgress.forall(_.stateOperators.isEmpty))
    } finally q.stop()
  }
}
