package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Prediction + evaluation as pure dataflow (SURVEY.md §3.3).
  *
  * The reference computes predictions by per-record RPC into Flink queryable
  * state (als-ms/MSE.java:122-159, flink-queryable-client/ALSPredict.java:65-83)
  * — an index-nested-loop join against a remote KV store. Re-expressed here
  * as broadcast equi-joins + a dot-product expression: one Catalyst plan, no
  * side effects, shuffle-free on the fact side when the model dims broadcast.
  */
object AlsScoring {

  /** J2/J5: score every rating with dot(userFactors, itemFactors).
    * Model tables are broadcast — at 100 TB fact scale the model stays
    * ~O(users+items) and this remains a map-side join. A side given a
    * mean vector falls back to it for keys the model lacks, the
    * reference's per-lookup `orElse(MEAN)` (als-ms/SGD.java:142-147,227);
    * a side without one drops the rating. */
  def scored(ratings: DataFrame, userF: DataFrame, itemF: DataFrame,
             meanU: Option[Column] = None, meanI: Option[Column] = None): DataFrame =
    lookup(lookup(ratings, userF, "user_id", "uf", meanU),
      itemF, "item_id", "itf", meanI)
      .withColumn("prediction", dot(col("uf"), col("itf")))

  def predictions(ratings: DataFrame, userF: DataFrame, itemF: DataFrame): DataFrame =
    scored(ratings, userF, itemF)

  def predictionsWithFallback(ratings: DataFrame, userF: DataFrame,
                              itemF: DataFrame, meanU: Column, meanI: Column): DataFrame =
    scored(ratings, userF, itemF, Some(meanU), Some(meanI))

  /** The model lookup as a join: `base` against the broadcast `table` on
    * `key`. Without a mean the join is inner; with one it is left-outer
    * and a missing `vec` becomes the mean. */
  def lookup(base: DataFrame, table: DataFrame, key: String, vec: String,
             mean: Option[Column]): DataFrame = mean match {
    case Some(m) => base.join(broadcast(table), Seq(key), "left_outer")
      .withColumn(vec, coalesce(col(vec), m))
    case None => base.join(broadcast(table), key)
  }

  /** A4: mean squared error of (rating, prediction). MSE.java:52-69.
    * Squared via multiplication (not pow) so each row's error term is
    * bit-identical to the oracle's `(r-p)*(r-p)`. */
  def mse(preds: DataFrame): DataFrame = {
    val err = col("rating") - col("prediction")
    preds.agg(
      avg(err * err).as("mse"),
      count(lit(1)).as("n"))
  }
}
