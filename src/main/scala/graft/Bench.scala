package graft

import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The suite bench: every [[SparkEntry.queries]] entry, in sorted name
  * order, timed cold and then warm into a noop sink (noop materializes
  * every output column; `count()` would let Catalyst prune them). Queries
  * whose cold failed or hit the deadline get one retry pass after the
  * suite. Prints one JSON line on stdout ([[summaryLine]]); the full
  * per-query record goes to BENCH_DETAIL.json.
  *
  * Env (all optional): `SPARK_GRAFT_SF_DIR` (default: the sf0.1 test data);
  * `SPARK_GRAFT_CPUS` (see [[Sessions]]); `SPARK_GRAFT_CONF="k=v;k=v"`,
  * extra session confs for perf experiments; `SPARK_GRAFT_ONLY=q1,q2`
  * restricts the query set; `SPARK_GRAFT_REPEAT=N` runs each query N-1
  * warm times after its cold (default 2, 1 turns warm off);
  * `SPARK_GRAFT_DEADLINE_S` caps one execution (default 120). */
object Bench {

  type Query = (SparkSession, String) => DataFrame

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line, so each
    * measurement records the host CPU-steal share it ran under. Only the
    * first 8 fields (user nice system idle iowait irq softirq steal) are
    * summed: guest/guest_nice are already folded into user/nice on Linux,
    * so a full-line sum double-counts them and understates the steal
    * share. (-1, -1) when unreadable (non-Linux). */
  private[graft] def cpuSteal(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Throwable => (-1L, -1L) }

  /** One measured execution: seconds, or -1 failed / -2 deadline. `steal`
    * is its steal share in percent (-1 unreadable); `stealJ`/`jiffies` are
    * the raw /proc/stat deltas, so the run-level share is jiffy-weighted
    * (a 1-s query at 0 % must not offset a 90-s query at 4 %). */
  private[graft] final case class Exec(secs: Double, steal: Double = -1.0,
                                       stealJ: Long = 0L, jiffies: Long = 0L) {
    def ok: Boolean = secs >= 0
  }

  /** One query's outcome. `retry` ran only because `first` failed; `warm`
    * is the best warm seconds after the successful cold, -1 when none. */
  private[graft] final case class Result(name: String, first: Exec,
                                         retry: Option[Exec], warm: Double) {
    def cold: Exec = retry.getOrElse(first)
  }

  /** The one retry pass: a query whose first cold failed or hit the
    * deadline runs once more through `rerun` (its cold, then its warm runs
    * when that cold succeeds). Queries that succeeded are never re-run. */
  private[graft] def withRetries(firstPass: Seq[(String, (Exec, Double))],
                                 rerun: String => (Exec, Double)): Seq[Result] =
    firstPass.map {
      case (name, (first, warm)) if first.ok => Result(name, first, None, warm)
      case (name, (first, _)) =>
        val (retry, warm) = rerun(name)
        Result(name, first, Some(retry), warm)
    }

  private def fmt(v: Double) = f"$v%.3f"
  private def entry(k: String, v: Double) = "\"" + k + "\":" + fmt(v)
  private def jmap(vs: Seq[(String, Double)]) =
    vs.map { case (k, v) => entry(k, v) }.mkString("{", ",", "}")

  /** Fields shared by the stdout line and BENCH_DETAIL.json. `value` is
    * the cold total, -1 when any query is still failed after its retry (a
    * silently partial sum under-reports). `first_value` sums the first
    * pass's successful colds, with its failures named in `first_failed`. */
  private def totals(rs: Seq[Result]): String = {
    val nFailed = rs.count(!_.cold.ok)
    val value = if (nFailed > 0) -1.0 else rs.map(_.cold.secs).sum
    val warm = rs.map(_.warm).filter(_ >= 0).sum
    val first = rs.filter(_.first.ok).map(_.first.secs).sum
    val firstFailed =
      rs.filterNot(_.first.ok).map("\"" + _.name + "\"").mkString("[", ",", "]")
    val jiffies = rs.map(_.cold.jiffies).sum
    val steal =
      if (jiffies <= 0) -1.0 else 100.0 * rs.map(_.cold.stealJ).sum / jiffies
    s""""metric":"total","value":${fmt(value)},"warm_value":${fmt(warm)},""" +
      s""""unit":"sec","n_queries":${rs.size},"n_failed":$nFailed,""" +
      s""""n_retried":${rs.count(_.retry.nonEmpty)},"first_value":${fmt(first)},""" +
      s""""first_failed":$firstFailed,"steal_pct":${fmt(steal)}"""
  }

  /** The one stdout line: [[totals]] plus the slowest queries' cold
    * seconds. Bench consumers parse only the last ~2 KB of stdout, so the
    * query map is capped at `budget` chars and the line plus sbt's trailing
    * `[success] ...` banner stay inside that tail. */
  private[graft] def summaryLine(rs: Seq[Result], sfDir: String,
                                 budget: Int = 600): String = {
    val slowest = rs.sortBy(-_.cold.secs).map(r => entry(r.name, r.cold.secs))
    val ends = slowest.scanLeft(0)(_ + _.length + 1).tail
    val kept = slowest.zip(ends).takeWhile(_._2 <= budget).map(_._1)
    s"""{${totals(rs)},"queries":${kept.mkString("{", ",", "}")},""" +
      s""""sf":"$sfDir","detail":"BENCH_DETAIL.json"}"""
  }

  /** BENCH_DETAIL.json: [[totals]] plus every query's headline cold,
    * first-pass cold, best warm, headline steal share and retry cold. */
  private[graft] def detail(rs: Seq[Result], sfDir: String): String = {
    def all(f: Result => Double) = jmap(rs.map(r => r.name -> f(r)))
    val retries = jmap(rs.flatMap(r => r.retry.map(r.name -> _.secs)))
    s"""{${totals(rs)},"queries":${all(_.cold.secs)},""" +
      s""""first":${all(_.first.secs)},"warm":${all(_.warm)},""" +
      s""""steal":${all(_.cold.steal)},"retry":$retries,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = Sessions.local(extra)
    def envInt(key: String) = sys.env.get(key).flatMap(_.toIntOption)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val repeat = envInt("SPARK_GRAFT_REPEAT").getOrElse(2)
    val deadlineS = envInt("SPARK_GRAFT_DEADLINE_S").getOrElse(120)
    // One-time session warm-up outside the timed region: analyzer/optimizer
    // rules, shuffle + noop-sink machinery, codegen plumbing and the parquet
    // read/write stack via a throwaway file (~4.5 s, otherwise billed to
    // whichever query runs first). It touches no test table, so each
    // query's file listing and footer reads stay inside its own timing.
    spark.range(16).repartition(2).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()
    val warmDir =
      s"${System.getProperty("java.io.tmpdir")}/graft-warm/w.parquet"
    spark.range(64).selectExpr("id", "cast(id as double) d", "cast(id as string) s")
      .write.mode("overwrite").parquet(warmDir)
    spark.read.parquet(warmDir).write.format("noop").mode("overwrite").save()
    // sorted name order: a deterministic run order, so one-time costs land
    // on the same query in every run
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // One execution on its own thread under a job group: past the deadline
    // the group is cancelled and the run moves on, so one pathological
    // query cannot eat the whole run's time budget. The hermetic sweep after every
    // execution starts the next one from a clean session.
    def execute(name: String, tag: String, fn: Query): Exec = {
      val group = s"bench-$name-$tag"
      val pool = Executors.newSingleThreadExecutor(
        (r: Runnable) => { val t = new Thread(r, group); t.setDaemon(true); t })
      val (steal0, jiffies0) = cpuSteal()
      val t0 = System.nanoTime()
      val task = pool.submit(new Callable[Unit] {
        def call(): Unit = {
          spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          finally spark.sparkContext.clearJobGroup()
        }
      })
      val secs =
        try { task.get(deadlineS, TimeUnit.SECONDS); (System.nanoTime() - t0) / 1e9 }
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelJobGroup(group)
            System.err.println(
              s"[bench] $name $tag FAILED-SLOW: exceeded ${deadlineS}s deadline")
            // let the cancelled job unwind so its tasks do not overlap the
            // next execution's timing
            try task.get(15, TimeUnit.SECONDS)
            catch { case _: Throwable => System.err.println(
              s"[bench] $name $tag still unwinding after 15s grace") }
            -2.0
          case e: Throwable =>
            System.err.println(s"[bench] $name $tag FAILED: " +
              s"${Option(e.getCause).getOrElse(e).getMessage}")
            -1.0
        }
      pool.shutdownNow()
      val (steal1, jiffies1) = cpuSteal()
      graft.plans.Checkpoints.sweep(spark)
      val e =
        if (steal0 < 0 || steal1 < 0 || jiffies1 <= jiffies0) Exec(secs)
        else Exec(secs, 100.0 * (steal1 - steal0) / (jiffies1 - jiffies0),
          steal1 - steal0, jiffies1 - jiffies0)
      if (e.ok) System.err.println(
        f"[bench] $name $tag: $secs%.2f s (host steal ${e.steal}%.1f%%)")
      e
    }
    // a cold, then (when it succeeds) the best of its warm runs, -1 if none
    def timed(name: String, tag: String, fn: Query): (Exec, Double) = {
      val cold = execute(name, tag, fn)
      val warms = if (!cold.ok) Nil
        else (2 to repeat).map(r => execute(name, s"warm$r", fn)).filter(_.ok)
      (cold, warms.map(_.secs).minOption.getOrElse(-1.0))
    }

    val firstPass = selected.map { case (name, fn) => name -> timed(name, "cold", fn) }
    val fns = selected.toMap
    val results = withRetries(firstPass, name => timed(name, "retry", fns(name)))
    try {
      val w = new java.io.PrintWriter("BENCH_DETAIL.json")
      try w.println(detail(results, sfDir)) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    println(summaryLine(results, sfDir))
    spark.stop()
  }
}
