package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The resolved-plan cache behind [[Tables]]: memoization, explicit
  * invalidation for in-session rewrites (the ScaleSmoke pattern), and
  * the rewrite hazard the cache would otherwise create. */
class TablesSpec extends SparkSpec {

  test("plan cache memoizes per (session, dir, table); invalidate serves the rewritten dir") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tables-cache").toString
    spark.range(5).select(col("id").as("k"))
      .write.parquet(s"$dir/t.parquet")

    val a = Tables(spark, dir, "t")
    assert(a.count() == 5)
    assert(Tables(spark, dir, "t") eq a,
      "second read must return the SAME cached frame (one driver-side " +
        "listing + schema resolution per table, the catalog contract)")

    // in-session rewrite: without invalidation the cached plan pins
    // the pre-rewrite file listing and schema (stale rows at best,
    // deleted-file read failures at worst) — the harness that rewrites
    // must call invalidate, exactly as ScaleSmoke's synthesized tables
    // do. The rewrite adds a column: the re-read resolves its schema
    // from the new footers.
    spark.range(12).select(col("id").as("k"), (col("id") * 2).as("v"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    Tables.invalidate(dir)
    val b = Tables(spark, dir, "t")
    assert(!(b eq a), "invalidate must drop the dir's cached plans")
    assert(b.count() == 12, "the re-read must serve the rewritten files")
    assert(b.columns.toSeq == Seq("k", "v"), "and their new schema")
    assert(b.agg(sum("v")).head().getLong(0) == 132L)
  }

  test("rowCount reads the exact count from parquet footers") {
    // the catalog-statistics read that sizes adaptive LSH dials must
    // equal a full count() for every driver table shape (single-file
    // tables here; the directory branch lists *.parquet parts)
    val dir = "/root/testdata/sf0.001"
    Seq("embeddings", "documents", "events").foreach { t =>
      assert(Tables.rowCount(spark, dir, t) == Tables(spark, dir, t).count(),
        s"footer count of $t must equal count()")
    }
  }

  test("resolving a table launches no Spark job") {
    // a fresh dir, so the plan cache is cold and the read resolves
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tables-jobs").toString
    spark.range(20).select(col("id").as("k"), col("id").cast("string").as("s"))
      .write.parquet(s"$dir/t.parquet")
    val run = CpuMeter.measure(spark.sparkContext)(Tables(spark, dir, "t").schema)
    assert((run.jobs, run.jobsOutsideSql) == ((0L, 0L)),
      s"table resolution must read its schema on the driver: $run")
    assert(run.value.fieldNames.toSeq == Seq("k", "s"))
  }

  test("footer schema equals Spark's inference for every driver table") {
    // pyarrow-written single files; events carries TIMESTAMP(NANOS),
    // so the loader's confs (set by any Tables read) must be in force
    // for the inferring side too
    val dir = "/root/testdata/sf0.001"
    Tables(spark, dir, "region")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      val p = s"$dir/$t.parquet"
      assert(Tables.footerSchema(spark, p) == spark.read.parquet(p).schema,
        s"footer schema of $t must equal inference")
    }
  }

  test("footer schema equals inference on a Spark-written multi-part dir") {
    // Spark's footers carry its own row schema, NOT NULLs included;
    // file-source reads make top-level fields nullable, and so must
    // the footer read. Three parts plus the _SUCCESS marker.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tables-spark").toString
    val p = s"$dir/t.parquet"
    spark.range(0, 30, 1, 3)
      .select(col("id").as("k"),
        to_timestamp_ntz(timestamp_seconds(col("id") * 3600)).as("at"),
        when(col("id") % 2 === 0, col("id").cast("string")).as("s"))
      .write.parquet(p)
    assert(new java.io.File(s"$p/_SUCCESS").exists)
    assert(new java.io.File(p).list().count(_.endsWith(".parquet")) == 3)
    Tables(spark, dir, "t")
    val inferred = spark.read.parquet(p).schema
    assert(Tables.footerSchema(spark, p) == inferred)
    assert(inferred("k").nullable && inferred("at").dataType ==
      org.apache.spark.sql.types.TimestampNTZType, inferred)
    // and the loader folds the NTZ column like an inferred one
    val t = Tables(spark, dir, "t")
    assert(t.schema("at").dataType == org.apache.spark.sql.types.TimestampType)
    assert(t.count() == 30)
  }

  test("a path with no footer fails as inference does") {
    // an emptied dir (only a _SUCCESS marker) and a missing path each
    // raise the same error condition spark.read.parquet raises
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tables-empty").toString
    spark.range(0).select(col("id"), col("id").as("p"))
      .write.partitionBy("p").parquet(s"$dir/empty")
    assert(new java.io.File(s"$dir/empty").list().toSeq.filterNot(_.startsWith("."))
      == Seq("_SUCCESS"))
    Seq(s"$dir/empty", s"$dir/missing").foreach { p =>
      val ours = intercept[org.apache.spark.sql.AnalysisException](
        Tables.readParquet(spark, p))
      val spark0 = intercept[org.apache.spark.sql.AnalysisException](
        spark.read.parquet(p))
      assert(ours.getCondition == spark0.getCondition, s"$p: $ours vs $spark0")
      assert(ours.getMessage == spark0.getMessage)
    }
  }

  test("a known-schema open of a missing path fails as spark.read does") {
    // a standing structure's open passes its DDL: the one getFileStatus
    // on the driver must raise spark.read's PATH_NOT_FOUND, message and
    // all; an existing dir resolves to the relation spark.read builds
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tables-known").toString
    val schema = StructType.fromDDL("id LONG, __batch LONG")
    val missing = s"$dir/missing"
    val ours = intercept[org.apache.spark.sql.AnalysisException](
      Tables.readParquet(spark, missing, Some(schema)))
    val spark0 = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.schema(schema).parquet(missing))
    assert(ours.getCondition == "PATH_NOT_FOUND")
    assert(ours.getCondition == spark0.getCondition, s"$ours vs $spark0")
    assert(ours.getMessage == spark0.getMessage)

    val p = s"$dir/t"
    spark.range(6).withColumn("__batch", col("id") % 2).write
      .partitionBy("__batch").parquet(p)
    val read = Tables.readParquet(spark, p, Some(schema))
    assert(read.queryExecution.analyzed.sameResult(
      spark.read.schema(schema).parquet(p).queryExecution.analyzed))
    assert(read.schema == schema && read.where(col("__batch") === 1).count() == 3)
  }

  test("the footer read runs under the session's Hadoop conf (encrypted footer)") {
    // the crypto factory lives in the session conf, as it must for
    // spark.read to decrypt; a footer opened under any other conf has
    // no keys for an encrypted footer
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tables-crypto").toString
    val p = s"$dir/t.parquet"
    val session = Map(
      "parquet.crypto.factory.class" ->
        "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory",
      "parquet.encryption.kms.client.class" -> classOf[Base64Kms].getName)
    session.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      spark.range(10).select(col("id").as("k"), col("id").cast("string").as("s"))
        .write.option("parquet.encryption.uniform.key", "k0").parquet(p)
      val inferred = spark.read.parquet(p).schema
      assert(Tables.footerSchema(spark, p) == inferred)
      assert(Tables.readParquet(spark, p).count() == 10)
      assert(Tables.rowCount(spark, dir, "t") == 10)
    } finally session.keys.foreach(spark.conf.unset)
    // and the footer really is encrypted: without the factory, no read
    intercept[org.apache.spark.SparkException](spark.read.parquet(p).schema)
  }

  test("resolving tables starts no thread per open") {
    // load-immune pin for Spark's existence check, which starts a
    // fresh thread pool on every read: count JVM thread starts over
    // fresh resolutions, by footer and by known schema
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tables-threads").toString
    val n = 10
    (0 until n).foreach(i => spark.range(3).write.parquet(s"$dir/t$i.parquet"))
    val schema = StructType.fromDDL("id LONG")
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    val before = threads.getTotalStartedThreadCount
    (0 until n).foreach { i =>
      Tables(spark, dir, s"t$i")
      Tables.readParquet(spark, s"$dir/t$i.parquet", Some(schema))
    }
    val started = threads.getTotalStartedThreadCount - before
    assert(started < 2 * n, s"$started thread starts over ${2 * n} resolutions")
  }

  test("invalidate reaches registered family caches and unpersists their frames") {
    // the family objects memoize persisted frames DERIVED from a
    // dir's files (signatures, fingerprints, normalized wire);
    // invalidate(dir) must drop those too or a rewritten dir keeps
    // serving pre-rewrite derivations — and must unpersist, or the
    // executor block cache keeps the stale bytes alive
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tables-derived").toString
    val m = Tables.registerSessionCache(scala.collection.concurrent
      .TrieMap.empty[(org.apache.spark.sql.SparkSession, String),
        org.apache.spark.sql.DataFrame])
    try {
      val df = spark.range(3).toDF("k").persist()
      df.count()
      m.put((spark, dir), df)
      m.put((spark, s"$dir-other"), df)
      Tables.invalidate(dir)
      assert(m.keySet == Set((spark, s"$dir-other")),
        "only the invalidated dir's entries may drop")
      assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "the dropped entry's frame must unpersist")
      m.remove((spark, s"$dir-other"))
      ()
    } finally
      // a throwaway registrant must deregister, or its sweep closures
      // (holding the map) outlive the test in the global registry
      Tables.deregisterSessionCache(m)
  }
}

/** A toy KMS for the encrypted-footer case: a key "wraps" to its
  * base64 text, so any reader with this client unwraps it. */
class Base64Kms extends org.apache.parquet.crypto.keytools.KmsClient {
  def initialize(conf: org.apache.hadoop.conf.Configuration, id: String,
      url: String, token: String): Unit = ()
  def wrapKey(key: Array[Byte], master: String): String =
    java.util.Base64.getEncoder.encodeToString(key)
  def unwrapKey(wrapped: String, master: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(wrapped)
}
