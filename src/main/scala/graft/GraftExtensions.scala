package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.expressions.{AcHits, BlockHash, BloomBuildAgg, BloomProbe, CmsLookup, DeflateRatio, DotProduct, FoldAccents, LcsLen, PqSubDists, TokenStats, VectorSumAgg, VocabHits, WordNgrams}

/** SparkSessionExtensions entry point — makes the engine's native
  * expressions available to pure-SQL users:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT graft_dot(a.vec, b.vec) FROM ...
  *
  * Scala users get the same expressions through
  * [[graft.functions.VectorFunctions]] without any session config.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** One SQL function: its name, expression class, arity, and a builder
    * that receives exactly `arity` arguments. */
  final case class Fn(name: String, cls: Class[_ <: Expression], arity: Int,
                      build: Seq[Expression] => Expression)

  /** Accept ARRAY<FLOAT|DOUBLE>: insert the cast the analyzer would. */
  private def doubles(e: Expression): Expression = Cast(e, ArrayType(DoubleType))

  /** The elements of a literal string array (None for a null element);
    * empty for a null array. */
  private def literalStrings(e: Expression, fn: String, what: String): Seq[Option[String]] = {
    require(e.foldable, s"$fn requires a literal $what")
    Option(e.eval(null).asInstanceOf[ArrayData]).toSeq.flatMap(arr =>
      (0 until arr.numElements()).map(i =>
        if (arr.isNullAt(i)) None else Some(arr.getUTF8String(i).toString)))
  }

  val table: Seq[Fn] = Seq(
    Fn("graft_dot", classOf[DotProduct], 2, a => DotProduct(doubles(a(0)), doubles(a(1)))),
    Fn("graft_vecsum", classOf[VectorSumAgg], 1, a => VectorSumAgg(doubles(a(0)))),
    Fn("graft_ngrams", classOf[WordNgrams], 2, a => WordNgrams(a(0), a(1))),
    Fn("graft_token_stats", classOf[TokenStats], 1, a => TokenStats(a(0))),
    Fn("graft_zratio", classOf[DeflateRatio], 1, a => DeflateRatio(a(0))),
    Fn("graft_cms_probe", classOf[CmsLookup], 2, a => CmsLookup(a(0), a(1))),
    Fn("graft_blockhash", classOf[BlockHash], 2, a => BlockHash(a(0), a(1))),
    Fn("graft_bloom_agg", classOf[BloomBuildAgg], 3, a => BloomBuildAgg(a(0), a(1), a(2))),
    Fn("graft_bloom_probe", classOf[BloomProbe], 2, a => BloomProbe(a(0), a(1))),
    Fn("graft_pq_subdists", classOf[PqSubDists], 3, a => {
      require(a(2).foldable, "graft_pq_subdists requires a literal m")
      val m = a(2).eval(null) match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"graft_pq_subdists m must be an integer literal, got $other")
      }
      PqSubDists(doubles(a(0)), doubles(a(1)), m)
    }),
    Fn("graft_fold_accents", classOf[FoldAccents], 1, a => FoldAccents(a(0))),
    Fn("graft_lcs", classOf[LcsLen], 2, a => LcsLen(a(0), a(1))),
    Fn("graft_ac_hits", classOf[AcHits], 2, a => {
      val pats = literalStrings(a(1), "graft_ac_hits", "pattern array")
      require(pats.nonEmpty, "graft_ac_hits requires at least one pattern")
      AcHits(a(0), pats.map { p =>
        require(p.isDefined, "graft_ac_hits patterns must be non-null")
        p.get
      })
    }),
    Fn("graft_vocab_hits", classOf[VocabHits], 2, a =>
      VocabHits(a(0), literalStrings(a(1), "graft_vocab_hits", "vocabulary array").flatten)))

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    table.map { f =>
      (FunctionIdentifier(f.name), new ExpressionInfo(f.cls.getName, f.name),
        (args: Seq[Expression]) => {
          require(args.length == f.arity, s"${f.name} takes exactly ${f.arity} " +
            (if (f.arity == 1) "argument" else "arguments"))
          f.build(args)
        })
    }

  /** Register the native functions on an existing session (for sessions
    * built without the spark.sql.extensions config — tests, Verify, Bench).
    * Idempotent and conf-free: column builders auto-call this, so it must
    * not have session-wide side effects beyond the registry. */
  def register(spark: SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident)) {
        registry.registerFunction(ident, info, builder)
      }
    }
  }

  /** Full session preparation: functions + the session conf the engine's
    * sources rely on (the driver events table carries TIMESTAMP(NANOS)).
    * Called once per session at a deliberate setup point — the
    * SparkEntry.queries wrapper and the test/CLI session builders — NOT
    * from column builders. */
  def prepareSession(spark: SparkSession): Unit = {
    register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }
}
