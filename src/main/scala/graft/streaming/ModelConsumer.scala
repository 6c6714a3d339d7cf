package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.ModelCodec

/** The model-serving consumer (SURVEY.md §2.9): a stream of
  * `"id,KIND,f1;f2;…"` model records becomes latest-value-per-key in a
  * [[ServingStore]], upserted each micro-batch.
  *
  * Reference: ALSKafkaConsumer.java:67-92 / SVMKafkaConsumer.java:68-92 —
  * Kafka source → rebalance → parse map → `keyBy(0)` →
  * `asQueryableState("ALS_MODEL", ValueStateDescriptor)`; each record
  * overwrites its key's `ValueState`, which is the served model.
  *
  * Spark re-design: the store is the served model, kept once. A
  * micro-batch is one stateless stage (parse, collect) and a
  * `foreachBatch` sink that puts a record only when its sequence (Kafka
  * offset) is at least the last one applied to its key. A replayable,
  * offset-tracked source plus this idempotent upsert give exactly-once
  * output with no operator state (Structured Streaming, SIGMOD 2018).
  */
object ModelConsumer {

  /** Parse a raw record stream into (key, seq, factors). For Kafka pass
    * seqCol="offset" so within-batch order per key is the log order — the
    * same guarantee Flink gets from per-partition FIFO. Sources without an
    * offset get seq=0: later BATCHES overwrite earlier ones, but the winner
    * among same-key records WITHIN one batch is undefined (no source order
    * exists to honor) — same as the reference under cross-partition reads. */
  def parse(lines: DataFrame, seqCol: Option[String] = None): DataFrame =
    lines.withColumn("seq", seqCol.fold(lit(0L))(c => col(c).cast("long"))).select(
      ModelCodec.stateKey(col("value")).as("key"),
      col("seq"),
      ModelCodec.parseFactors(col("value")).as("factors"))
      // poison tolerance: a record with a missing payload OR a corrupt
      // factor component ("1,U,1.0;x;2.0" → [1.0, null, 2.0]) is dropped —
      // a null element would NPE the primitive-array encoder downstream
      .filter(col("factors").isNotNull &&
        !exists(col("factors"), f => f.isNull))

  /** Batch twin of the consumer — max_by(seq) per key, what the store
    * holds after one micro-batch. Used by the oracle-checked q16. */
  def latestPerKeyBatch(parsed: DataFrame): DataFrame =
    parsed.groupBy(col("key"))
      .agg(max_by(col("factors"), col("seq")).as("factors"),
        max(col("seq")).as("seq"))

  /** The one stream→store wiring: parse (`seqCol` as the per-key
    * sequence, see [[parse]]) and upsert latest-per-key each micro-batch.
    * File and memory sources pass no seqCol; the Kafka path
    * ([[KafkaIO.serveFromLines]]) passes "offset". The sequence guard
    * lives as long as the query, which covers every replay: Spark re-runs
    * only the uncommitted batch with the same offsets, and Kafka gives a
    * re-sent record a new, higher offset. `checkpointLocation` gives the
    * reference's checkpoint/restart envelope (ALSKafkaConsumer.java:44-51).
    * The checkpoint restores offsets only, so a fresh in-memory store after
    * a process restart is rebuilt by replaying the compacted topic from
    * `earliest` under a new checkpoint. */
  def serveTo(spark: SparkSession, lines: DataFrame,
              store: ServingStore.FactorStore,
              checkpointDir: Option[String] = None,
              seqCol: Option[String] = None): StreamingQuery = {
    import spark.implicits._
    val applied = TrieMap.empty[String, Long]
    ServingStore.eachBatch(parse(lines, seqCol).as[(String, Long, Array[Double])],
        checkpointDir) { (batch, _) =>
      batch.collect().foreach { case (key, seq, factors) =>
        if (applied.get(key).forall(_ <= seq)) {
          applied.update(key, seq)
          store.put(key, factors)
        }
      }
    }
  }
}
