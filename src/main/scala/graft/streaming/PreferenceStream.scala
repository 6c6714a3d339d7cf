package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming preference-pair maintenance — the online face of the q195
  * DPO-pair assembly for continuous ingest: as scored documents arrive,
  * each (source, lang) prompt group keeps its running best and worst
  * member, and RE-EMITS the group's pair whenever the pair changes (delta
  * emit) — downstream preference training
  * always holds the freshest (chosen, rejected) per group without any
  * batch rebuild.
  *
  * State per group is two (id, quality) extremes plus a count — O(1),
  * bounded by group cardinality, never needs a watermark. Tie-breaks
  * mirror the batch operator exactly (chosen: max quality then min id;
  * rejected: min quality then min id), so once every arrival is in, the
  * emitted frontier equals the batch q195 aggregation on the same rows —
  * batch≡stream parity is spec-asserted, order-independent by induction
  * (max/min folds are commutative).
  */
object PreferenceStream {

  case class ScoredDoc(source: String, lang: String, doc_id: Long, qual: Double)
  case class PairState(n: Long, chosenId: Long, qMax: Double,
                       rejectedId: Long, qMin: Double)
  case class PairOut(source: String, lang: String,
                     chosen_id: Long, rejected_id: Long, margin: Double)

  /** scored docs stream (source, lang, doc_id, qual) → pair updates.
    * Emits one row per group per micro-batch IFF the group's pair
    * (members or margin) changed and is valid (n >= 2, margin > 0). */
  def pairs(docs: DataFrame): Dataset[PairOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.selectExpr("source", "lang", "doc_id", "qual").as[ScoredDoc]
      .groupByKey(d => (d.source, d.lang))
      .flatMapGroupsWithState[PairState, PairOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, String), rows: Iterator[ScoredDoc],
         state: GroupState[PairState]) =>
          val prev = state.getOption
          var st = prev.getOrElse(
            PairState(0L, -1L, Double.NegativeInfinity,
              -1L, Double.PositiveInfinity))
          rows.foreach { d =>
            // chosen: max (qual, -id); rejected: min (qual, id) — the
            // exact batch tie-breaks, folded one arrival at a time
            val ch =
              if (d.qual > st.qMax ||
                (d.qual == st.qMax && d.doc_id < st.chosenId))
                (d.doc_id, d.qual) else (st.chosenId, st.qMax)
            val rj =
              if (d.qual < st.qMin ||
                (d.qual == st.qMin && d.doc_id < st.rejectedId))
                (d.doc_id, d.qual) else (st.rejectedId, st.qMin)
            st = PairState(st.n + 1, ch._1, ch._2, rj._1, rj._2)
          }
          state.update(st)
          val valid = st.n >= 2 && st.qMax > st.qMin
          val changed = prev.forall(p =>
            p.chosenId != st.chosenId || p.rejectedId != st.rejectedId ||
              p.qMax != st.qMax || p.qMin != st.qMin)
          if (valid && changed)
            Iterator(PairOut(key._1, key._2,
              st.chosenId, st.rejectedId, st.qMax - st.qMin))
          else Iterator.empty
      }
  }
}
