package graft.streaming

import graft.operators.ModelCodec

/** Point-prediction against the served model — the Spark analog of the
  * reference's query clients (SURVEY.md §2.3 J1/J4/J5).
  *
  * Reference: ALSPredict.java:65-83 fetches the user and item state keys
  * and dot-products; SVMPredict.java:63-85 fetches one weight per feature
  * and accumulates; RangePartitionSVMPredict.java:56-106 amortizes lookups
  * per `featureId/range` bucket. Missing keys are `Optional.empty`
  * (QueryClientHelper.java:135-137) with an optional mean-vector fallback
  * (SGD.java:144-147).
  *
  * Here the store is in-process, so a "point query" is a map read; the
  * *batch* form of the same semantics is a broadcast join
  * (graft.operators.AlsScoring) — at scale the joins are the hot path and
  * this class is the interactive/serving face.
  */
final class PredictService(store: ServingStore.FactorStore,
                           meanVector: Option[Array[Double]] = None) {

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** J5: ALS pair prediction. None iff a side is absent and no fallback. */
  def predictPair(userId: Long, itemId: Long): Option[Double] = {
    val u = store.get(ModelCodec.key(userId, ModelCodec.User)).orElse(meanVector)
    val i = store.get(ModelCodec.key(itemId, ModelCodec.Item)).orElse(meanVector)
    for (uv <- u; iv <- i) yield dot(uv, iv)
  }

  /** A6: SVM sparse prediction Σ w_f * x_f over (featureId -> value) pairs;
    * absent features contribute 0 (the reference skips them too). Weights
    * live under the feature's weight key with a 1-element factor array. */
  def predictSparse(features: Map[Long, Double]): Double =
    features.iterator.map { case (fid, x) =>
      store.get(ModelCodec.key(fid, ModelCodec.Weight)).map(_.head * x).getOrElse(0.0)
    }.sum

  /** Signed class decision, threshold 0 (SVMPredict.java:80-85). */
  def classify(features: Map[Long, Double]): Int =
    if (predictSparse(features) >= 0) 1 else -1
}
