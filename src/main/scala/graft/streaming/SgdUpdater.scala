package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFunctions._
import graft.operators.{AlsScoring, ModelCodec}

/** Online matrix-factorization SGD over the served model (SURVEY.md §2.9,
  * §7.2 step 5).
  *
  * Reference: als-ms/SGD.java:160-217 — per rating, fetch user/item vectors
  * from queryable state (mean-vector fallback when absent,
  * SGD.java:142-147,227), compute the prediction error, apply an axpy-style
  * update to both vectors, and emit the updated records back to Kafka —
  * which feeds the consumer's state: a feedback loop.
  *
  * Spark re-design: per-record RPC+update becomes a *mini-batch* gradient
  * step as pure dataflow — each micro-batch joins against a snapshot of the
  * model, aggregates per-key gradients (one partial-agg shuffle per side),
  * and upserts the updated vectors into the [[ServingStore]], closing the
  * same loop at micro-batch granularity. Gradients within a batch are
  * computed from the same snapshot (the reference tolerates stale reads the
  * same way — SURVEY.md §7.4).
  *
  * Update rule per key (lr = learning rate, λ = L2 regularization):
  *   u' = u + lr * ( Σ_ratings err·i  −  λ·u )   with err = r − u·i
  * and symmetrically for items.
  */
object SgdUpdater {

  /** One mini-batch SGD step for the USER side: returns updated
    * (user_id, uf). Only ratings whose user and item are both in the model
    * take part. */
  def userStep(ratings: DataFrame, userF: DataFrame, itemF: DataFrame,
               lr: Double, lambda: Double = 0.0): DataFrame =
    step(AlsScoring.scored(ratings, userF, itemF), userF,
      "user_id", "uf", "itf", None, lr, lambda)

  /** The gradient step of one side from a scored batch, against that
    * side's own factor table `own` (keyCol, vecCol). Σ err·other per key
    * in ONE aggregation: the graft_vecsum TypedImperativeAggregate keeps a
    * mutable k-dim buffer per key with map-side combine — no posexplode
    * row blow-up, no second shuffle. Then u' = u + lr*(grad − λ·u); with a
    * mean, a key absent from the model starts from it (cold-start
    * onboarding, SGD.java:219-234). */
  private def step(scored: DataFrame, own: DataFrame, keyCol: String,
                   vecCol: String, otherVecCol: String, mean: Option[Column],
                   lr: Double, lambda: Double): DataFrame = {
    val grads = scored
      .select(col(keyCol),
        scale(col(otherVecCol), col("rating") - col("prediction")).as("g"))
      .groupBy(col(keyCol))
      .agg(vecSum(col("g")).as("grad"))
    AlsScoring.lookup(grads, own, keyCol, vecCol, mean)
      .select(col(keyCol),
        zip_with(col(vecCol), col("grad"),
          (u, g) => u + lit(lr) * (g - lit(lambda) * u)).as(vecCol))
  }

  /** Wire a rating-record stream into the feedback loop: each micro-batch
    * is scored against the store snapshot once, takes one SGD step per
    * side, and upserts the updated vectors under their state keys. */
  def updateLoop(spark: SparkSession, ratingLines: DataFrame,
                 store: ServingStore.FactorStore,
                 lr: Double, lambda: Double = 0.0,
                 checkpointDir: Option[String] = None): StreamingQuery =
    ServingStore.eachBatch(ratingLines, checkpointDir) { (batch, _) =>
      val b = ServingStore.scoreRatings(batch, store)
      // one scored join per batch, shared by both gradient sides
      val scored = b.scored.persist(StorageLevel.MEMORY_AND_DISK)
      def side(own: DataFrame, id: String, vec: String, other: String,
               kind: String, mean: Option[Column]) =
        step(scored, own, id, vec, other, mean, lr, lambda)
          .select(ModelCodec.key(col(id), kind).as("key"), col(vec).as("factors"))
      try ServingStore.upsertBatch(store,
        side(b.userF, "user_id", "uf", "itf", ModelCodec.User, b.meanU)
          .unionAll(side(b.itemF, "item_id", "itf", "uf", ModelCodec.Item, b.meanI)))
      finally scored.unpersist()
    }
}
