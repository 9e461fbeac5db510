package graft

/** SQL-surface access to the native functions on a PLAIN session via
  * GraftFunctions.registerAll (the driver's session shape). */
class SqlFunctionsSpec extends SparkSpec {

  test("registerAll exposes every native function to spark.sql") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql("""
      SELECT
        legacy_charset_decode('ﾴ￺ﾸￕ', 'Big5') AS decoded,
        vector_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS dot,
        jaccard_sim(array('a','b','c'), array('b','c','d')) AS jac,
        token_shingles('one two three four', 3) AS sh,
        token_ngrams('one two one two', 2) AS ng,
        minhash_sig('one two three four five', 3, 8) AS sig,
        simhash16('one two three four five') AS sh16
    """).head()
    assert(r.getString(0) == "測試")
    assert(r.getDouble(1) == 11.0)
    assert(r.getDouble(2) == 0.5)
    assert(r.getSeq[String](3) == Seq("one two three", "two three four"))
    // multiset semantics: the repeated "one two" gram is KEPT
    assert(r.getSeq[String](4) == Seq("one two", "two one", "one two"))
    assert(r.getSeq[String](5).length == 8)
    assert(r.getLong(6) >= 0L && r.getLong(6) < (1L << 16))
  }

  test("simhash16(NULL) is 0 on every surface: SQL, Column API, Dedup") {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // SQL surface
    assert(spark.sql("SELECT simhash16(CAST(NULL AS STRING)) AS fp").head().getLong(0) == 0L)
    // Column-API surface and the dedup operator surface agree
    val row = Seq((Option.empty[String], "x")).toDF("t", "pad")
      .select(
        GraftFunctions.simhash16(col("t")).as("api"),
        graft.dedup.Dedup.simhash16(col("t")).as("dedup"),
        GraftFunctions.simhash16(lit(null).cast("string")).as("apiLit"))
      .head()
    assert(row.getLong(0) == 0L && row.getLong(1) == 0L && row.getLong(2) == 0L)
  }

  test("SQL functions validate their literal arguments") {
    GraftFunctions.registerAll(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT legacy_charset_decode('x', upper('big5'))").head()
    }
    assert(e.getMessage.contains("string literal"))
  }

  test("DESCRIBE FUNCTION prints each registered function's usage") {
    GraftFunctions.registerAll(spark)
    GraftFunctions.builders.foreach { case (name, usage, _) =>
      val lines = spark.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
      assert(lines.contains(s"Usage: $usage"), s"$name: ${lines.mkString(" | ")}")
    }
  }
}
