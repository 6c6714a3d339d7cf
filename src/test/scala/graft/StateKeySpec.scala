package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.ModelCodec
import graft.streaming.{ServingStore, SgdUpdater}

/** The "id-KIND" state key has one owner, ModelCodec: the key a consumer
  * derives from a wire record, the key a point read builds, the key the
  * SGD loop writes and the id the factor tables read back all agree. */
class StateKeySpec extends SparkSpec {
  import spark.implicits._

  private def eval(c: Column): String =
    spark.range(1).select(c).as[String].collect().head

  test("string and Column keys equal the key derived from the wire record") {
    for (id <- Seq(7L, 8400000001L); kind <- Seq(ModelCodec.User, ModelCodec.Item)) {
      val rec = ModelCodec.encodeRecord(lit(id), lit(kind), array(lit(0.5), lit(0.25)))
      assert(eval(ModelCodec.stateKey(rec)) === ModelCodec.key(id, kind))
      assert(eval(ModelCodec.key(lit(id), kind)) === ModelCodec.key(id, kind))
    }
    val w = ModelCodec.encodeSvmRecord(lit(42L), lit(-1.5))
    assert(eval(ModelCodec.svmStateKey(w)) === ModelCodec.key(42L, ModelCodec.Weight))
    assert(eval(ModelCodec.key(lit(42L), ModelCodec.Weight)) ===
      ModelCodec.key(42L, ModelCodec.Weight))
  }

  test("MEAN keys equal the key derived from the exported MEAN records") {
    for ((kind, meanKey) <- Seq(ModelCodec.User -> ModelCodec.MeanUser,
                                ModelCodec.Item -> ModelCodec.MeanItem)) {
      val rec = ModelCodec.encodeRecord(lit(ModelCodec.MeanId), lit(kind), array(lit(0.5)))
      assert(eval(ModelCodec.stateKey(rec)) === meanKey)
    }
  }

  test("idOfKey reads back the numeric id of its own kind only") {
    val keys = Seq(ModelCodec.key(7L, ModelCodec.User),
      ModelCodec.key(7L, ModelCodec.Item), ModelCodec.MeanUser).toDF("key")
    val ids = keys.select(ModelCodec.idOfKey(col("key"), ModelCodec.User))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(ids === Seq(Some(7L), None, None))
  }

  test("factorFrames recovers the id of a key written by updateLoop") {
    implicit val sqlCtx = spark.sqlContext
    val store = ServingStore.factorStore()
    store.put(ModelCodec.MeanUser, Array(0.5, 0.5))
    store.put(ModelCodec.key(7L, ModelCodec.Item), Array(1.0, 2.0))
    val in = MemoryStream[String]
    val q = SgdUpdater.updateLoop(spark, in.toDF(), store, lr = 0.1)
    try {
      in.addData("8400000001,7,4.0") // user unknown: onboarded from MEAN-U
      q.processAllAvailable()
    } finally q.stop()
    val written = store.get(ModelCodec.key(8400000001L, ModelCodec.User)).get
    val (userF, itemF) = ServingStore.factorFrames(spark, store)
    val users = userF.as[(Long, Array[Double])].collect()
    assert(users.map(_._1).toSeq === Seq(8400000001L))
    assert(users.head._2.toSeq === written.toSeq)
    assert(itemF.as[(Long, Array[Double])].collect().map(_._1).toSeq === Seq(7L))
  }
}
