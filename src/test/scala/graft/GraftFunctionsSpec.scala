package graft

/** Every native function GraftExtensions injects is also reachable from
  * SQL after the imperative [[GraftFunctions.register]].
  */
class GraftFunctionsSpec extends SparkSpec {

  private val calls = Seq(
    "graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D))",
    "graft_sorted_intersect_count(array(1L, 2L), array(2L, 3L))",
    "graft_simhash64(array('a', 'b'))",
    "graft_simhash_bits(array(1L, 2L))",
    "graft_shingle_hashes('hello')",
    "graft_gram_counts('hello')",
    "graft_int_array_match_count(array(1, 2), array(1, 3))",
    "graft_md5_shingle_hashes('hello')",
    "graft_md5_hashes(array('a', 'b'))")

  test("register makes every extension-injected function resolve in spark.sql") {
    GraftFunctions.register(spark)
    val unresolved = calls.filterNot { call =>
      scala.util.Try(spark.sql(s"SELECT $call AS v").collect())
        .toOption.exists(rows => rows.length == 1 && !rows.head.isNullAt(0))
    }
    assert(unresolved.isEmpty, s"not callable from SQL: ${unresolved.mkString("; ")}")
  }
}
