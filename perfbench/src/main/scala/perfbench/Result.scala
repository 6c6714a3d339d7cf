package perfbench

import scala.collection.mutable

/** Everything one run measured and checked, written to `result.json` for
  * run.py. End-to-end metrics and per-layer metrics are kept apart; notes
  * carry the sample counts and supported percentiles behind each timing. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  val gates = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val extra = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = (value, unit)
  def gate(name: String, ok: Boolean, detail: String): Unit =
    gates += ((name, ok, detail))

  def count(s: LoopStats): Unit = {
    attempted += s.attempted + s.dropped
    failed += s.failed + s.dropped
  }

  /** Report a timing sample (ns) as `<name>_p50_<unit>` and, for each
    * percentile in `named` that the sample supports, `<name>_pNN_<unit>`;
    * the note states n, and the highest supported percentile. Missing
    * answers are in the sample as +inf and make a percentile that reaches
    * them unreportable. */
  def timing(name: String, unit: String, sorted: Array[Long],
             named: Seq[Double]): Unit = {
    val div = unit match { case "us" => 1e3; case "ms" => 1e6; case "s" => 1e9 }
    val s = Stats.summary(sorted)
    def fmt(p: Double) = if (p == p.floor) f"p${p.toInt}" else s"p$p"
    def put(p: Double, v: Long): Unit =
      if (v != Long.MaxValue) metric(s"${name}_${fmt(p)}_$unit", v / div, unit)
      else notes += s"${name}_${fmt(p)}_$unit: reaches missing answers"
    if (s.n > 0) put(50.0, Stats.percentile(sorted, 50.0))
    named.foreach { p =>
      s.at(sorted, p) match {
        case Some(v) => put(p, v)
        case None => notes += s"${name}_${fmt(p)}_$unit: unsupported, n=${s.n} " +
          s"leaves fewer than ${Stats.MinBeyond} samples beyond it"
      }
    }
    notes += (if (s.topP > 0) f"$name: n=${s.n}, highest supported ${fmt(s.topP)} = ${s.top / div}%.3f $unit"
              else s"$name: n=${s.n}, no percentile has ${Stats.MinBeyond} samples beyond it")
  }

  /** Note how late the open-loop generator issued a phase's requests. */
  def lateness(name: String, s: LoopStats): Unit = {
    val l = s.lateness.sorted
    if (l.nonEmpty) notes += f"$name: generator late p50 ${Stats.percentile(l, 50.0) / 1e3}%.1f us, " +
      f"p99 ${Stats.percentile(l, 99.0) / 1e3}%.1f us, max ${l.last / 1e6}%.3f ms over ${l.length} sends"
  }

  def json: String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    def ms(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    val gs = gates.map { case (n, ok, d) =>
      s"{\"name\":${Json.str(n)},\"ok\":$ok,\"detail\":${Json.str(d)}}" }.mkString("[", ",", "]")
    val ex = extra.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":${ms(metrics)},""" +
      s""""layers":${ms(layers)},"notes":${notes.map(Json.str).mkString("[", ",", "]")},""" +
      s""""gates":$gs,"extra":$ex}"""
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
