package graft

/** The SQL function table: every entry checks its arity, and the two
  * literal-array functions keep their null and empty-array policies. */
class GraftExtensionsSpec extends SparkSpec {

  private def failure(sql: String): String = {
    val e = intercept[Throwable](spark.sql(sql).collect())
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
  }

  test("every function rejects the wrong arity, naming itself") {
    assert(GraftExtensions.table.map(_.name).distinct.size === GraftExtensions.table.size)
    GraftExtensions.table.foreach { f =>
      val args = Seq.fill(f.arity + 1)("1").mkString(", ")
      val msg = failure(s"SELECT ${f.name}($args)")
      assert(msg.contains(s"${f.name} takes exactly ${f.arity}"), msg)
    }
  }

  test("graft_ac_hits rejects empty or null patterns") {
    assert(failure("SELECT graft_ac_hits('a b', CAST(array() AS ARRAY<STRING>))")
      .contains("graft_ac_hits requires at least one pattern"))
    assert(failure("SELECT graft_ac_hits('a b', CAST(NULL AS ARRAY<STRING>))")
      .contains("graft_ac_hits requires at least one pattern"))
    assert(failure("SELECT graft_ac_hits('a b', array('a', NULL))")
      .contains("graft_ac_hits patterns must be non-null"))
  }

  test("graft_vocab_hits tolerates a null array and null elements") {
    def hits(vocab: String): Int =
      spark.sql(s"SELECT graft_vocab_hits(array('a', 'b', 'a'), $vocab)").head().getInt(0)
    assert(hits("CAST(NULL AS ARRAY<STRING>)") === 0)
    assert(hits("array('a', NULL)") === 2)
  }
}
