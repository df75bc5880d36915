package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.SparkSessionExtensions

/** GraftExtensions loaded through the REAL `spark.sql.extensions`
  * conf: the shared test session's SparkContext is created with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (SparkSpec), so
  * everything asserted here reached the session the same way a
  * cluster deploy would wire it. */
class GraftExtensionsSpec extends SparkSpec {

  test("conf-injected graft_cosine_sim is callable from SQL, no register() call") {
    // NOTE: no Column entry point (which registers the function) runs
    // first — resolution must come from the extensions injection alone.
    val v = spark.sql(
      """SELECT graft_cosine_sim(
        |         array(CAST(3.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |         array(CAST(3.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
      .collect()(0).getDouble(0)
    assert(math.abs(v - 1.0) < 1e-12)
  }

  test("EVERY SQL-advertised native function resolves from the " +
    "extensions bundle alone — a cluster wired with the conf gets the " +
    "full surface, not the 3-function subset") {
    // each call exercises the function end-to-end from SQL text
    val row = spark.sql(
      """SELECT graft_word_ngrams(array('a','b','c'), 2) AS wng,
        |       graft_char_ngrams('abcd', 3) AS cng,
        |       graft_levenshtein_capped('kitten', 'sitting', 10) AS lev""".stripMargin)
      .collect()(0)
    assert(row.getSeq[String](0) == Seq("a b", "b c"))
    assert(row.getSeq[String](1) == Seq("abc", "bcd"))
    assert(row.getInt(2) == 3)
    // nearest_centroid's builder takes pre-folded LITERAL centroid
    // arrays (a Column-API contract SQL text cannot spell) — assert
    // the bundle resolves the identifier rather than invoking it
    assert(spark.sql("DESCRIBE FUNCTION graft_nearest_centroid")
      .collect().nonEmpty)
    // and the AGGREGATE resolves through the bundle too
    val agg = spark.sql(
      """SELECT graft_topk_agg(CAST(v AS DOUBLE), CAST(i AS BIGINT), 2) AS t
        |FROM VALUES (1.0, 1), (3.0, 2), (2.0, 3) AS d(v, i)""".stripMargin)
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(agg.map(_.getLong(1)) == Seq(2L, 3L))
  }

  test("conf-injected function surfaces the corrupt-embedding NULL guards") {
    val rows = spark.sql(
      """SELECT graft_cosine_sim(array(CAST(1.0 AS FLOAT)),
        |                        array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS mismatch,
        |       graft_cosine_sim(array(CAST(0.0 AS FLOAT)),
        |                        array(CAST(1.0 AS FLOAT))) AS zero_norm""".stripMargin)
      .collect()(0)
    assert(rows.isNullAt(0), "length mismatch must be NULL, not a truncated score")
    assert(rows.isNullAt(1), "zero norm must be NULL, not NaN")
  }

  test("wrong arity is a clean analysis error naming the signature, " +
    "not an IndexOutOfBoundsException") {
    Seq(
      "SELECT graft_cosine_sim(array(CAST(1.0 AS FLOAT)))",
      """SELECT graft_cosine_sim(array(CAST(1.0 AS FLOAT)),
        |array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))""".stripMargin
    ).foreach { sql =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql))
      assert(e.getMessage.contains("graft_cosine_sim"), sql)
      assert(e.getMessage.contains("requires 2 parameters"), e.getMessage)
    }
  }

  test("bundle is instantiable by class name, as Spark's loader does it") {
    val ext = Class.forName("graft.plans.GraftExtensions")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    ext(new SparkSessionExtensions) // must not throw
  }
}
