package graft

import scala.jdk.CollectionConverters._

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
    // tables here; the directory cases below read every data file the
    // file index lists, whatever its extension)
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
      assert(Tables.readParquet(spark, p).schema == spark.read.parquet(p).schema,
        s"footer schema of $t must equal inference")
    }
  }

  test("footer schema equals inference on a Spark-written multi-part dir") {
    // Spark's footers carry its own row schema, NOT NULLs included;
    // file-source reads make every field nullable, and so must the
    // open. Three parts plus the _SUCCESS marker.
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
    assert(Tables.readParquet(spark, p).schema == inferred)
    assert(inferred("k").nullable && inferred("at").dataType ==
      org.apache.spark.sql.types.TimestampNTZType, inferred)
    // and the loader types the NTZ column TimestampType
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
      assert(Tables.readParquet(spark, p).schema == inferred)
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

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `path` opens through [[Tables]] as `spark.read.parquet` reads it:
    * the same schema, the same rows, and a footer row count equal to
    * them. Returns the schema. */
  private def readsAsSpark(dir: String, name: String): StructType = {
    val p = s"$dir/$name.parquet"
    val spark0 = spark.read.parquet(p)
    val ours = Tables.readParquet(spark, p)
    assert(ours.schema == spark0.schema)
    val n = spark0.count()
    assert(ours.count() == n && Tables.rowCount(spark, dir, name) == n)
    assert(ours.collect().map(_.toString).sorted sameElements
      spark0.collect().map(_.toString).sorted)
    spark0.schema
  }

  private def copy(from: java.io.File, to: String): Unit = {
    java.nio.file.Files.copy(from.toPath, java.nio.file.Paths.get(to)); ()
  }

  private def parts(p: String): Seq[java.io.File] =
    new java.io.File(p).listFiles().toSeq.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  test("a table whose parts lack the .parquet extension reads as spark.read does") {
    // Hive / MapReduce `part-m-00000` parts: every non-hidden file is a
    // data file. A nested NOT NULL field checks nullability as well.
    val dir = tmp("graft-tables-noext")
    val p = s"$dir/t.parquet"
    spark.range(0, 30, 1, 3).select(col("id").as("k"),
      struct(col("id").as("a"), lit("x").as("b")).as("st")).write.parquet(p)
    parts(p).zipWithIndex.foreach { case (f, i) =>
      assert(f.renameTo(new java.io.File(f"$p/part-m-$i%05d")))
    }
    assert(parts(p).isEmpty)
    readsAsSpark(dir, "t")
    assert(Tables(spark, dir, "t").count() == 30)
  }

  test("summary files: _common_metadata, else _metadata, gives the schema; no rows are read from them") {
    // footers of two other tables stand in for the summaries, so the
    // schema shows which file inference picked; each holds one row
    // that a scan or a footer count must not see
    val dir = tmp("graft-tables-summary")
    val p = s"$dir/t.parquet"
    spark.range(0, 20, 1, 2).toDF("k").write.parquet(p)
    spark.range(1).select(col("id").as("k"), lit(1.0).as("m")).write.parquet(s"$dir/m")
    spark.range(1).select(col("id").as("k"), lit("x").as("c")).write.parquet(s"$dir/c")
    copy(parts(s"$dir/m").head, s"$p/_metadata")
    assert(readsAsSpark(dir, "t").fieldNames.toSeq == Seq("k", "m"))
    copy(parts(s"$dir/c").head, s"$p/_common_metadata")
    assert(readsAsSpark(dir, "t").fieldNames.toSeq == Seq("k", "c"))
  }

  test("a file still being copied (._COPYING_) is skipped as spark.read skips it") {
    // named to sort before every part, so it would be the footer read
    // and would add its row if the listing kept it
    val dir = tmp("graft-tables-copying")
    val p = s"$dir/t.parquet"
    spark.range(0, 30, 1, 3).toDF("k").write.parquet(p)
    spark.range(1).select(col("id").as("k"), lit("x").as("c")).write.parquet(s"$dir/c")
    copy(parts(s"$dir/c").head, s"$p/part-0.parquet._COPYING_")
    assert(readsAsSpark(dir, "t").fieldNames.toSeq == Seq("k"))
  }

  test("a naive timestamp read as TimestampType carries the stored micros in every zone and reader") {
    // before the Gregorian switch, just before 1900, inside New York's
    // 2021 spring-forward gap, and the last micro of 9999
    val micros = Seq(-15000000000000000L, -2208988800000001L,
      1615689000000000L, 253402300799999999L)
    val dir = tmp("graft-tables-ntz")
    val p = s"$dir/t.parquet"
    val zoneKey = "spark.sql.session.timeZone"
    val vecKey = "spark.sql.parquet.enableVectorizedReader"
    val (zone0, vec0) = (spark.conf.get(zoneKey), spark.conf.getOption(vecKey))
    try {
      spark.conf.set(zoneKey, "UTC")
      spark.createDataFrame(micros.map(Tuple1(_))).toDF("m")
        .select(col("m"), timestamp_micros(col("m")).cast("timestamp_ntz").as("at"))
        .coalesce(1).write.parquet(p)
      val fold = expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', at)")
      for (zone <- Seq("UTC", "America/New_York"); vec <- Seq("true", "false")) {
        spark.conf.set(zoneKey, zone)
        spark.conf.set(vecKey, vec)
        Tables.invalidate(dir)
        val t = Tables(spark, dir, "t")
        assert(t.schema("at").dataType == org.apache.spark.sql.types.TimestampType)
        val read = t.select(col("m"), unix_micros(col("at"))).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        val folded = spark.read.parquet(p).select(col("m"), fold).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        assert(read == micros.sorted.map(m => (m, m)), s"$zone vectorized=$vec")
        // the old NTZ fold agrees, but for the value inside the session
        // zone's DST gap: its timestampdiff moves that value by the gap
        val inGap = (r: (Long, Long)) => zone != "UTC" && r._1 == 1615689000000000L
        assert(folded.filterNot(inGap) == read.filterNot(inGap), s"$zone vectorized=$vec")
      }
    } finally {
      spark.conf.set(zoneKey, zone0)
      vec0.fold(spark.conf.unset(vecKey))(spark.conf.set(vecKey, _))
      Tables.invalidate(dir)
    }
  }

  test("a table of naive timestamps plans no Project over its scan") {
    val dir = tmp("graft-tables-ntz-plan")
    spark.range(3).select(
      to_timestamp_ntz(timestamp_seconds(col("id") * 60)).as("at"),
      to_timestamp_ntz(timestamp_seconds(col("id"))).as("bt"))
      .write.parquet(s"$dir/t.parquet")
    val t = Tables(spark, dir, "t")
    assert(t.schema.map(_.dataType).distinct ==
      Seq(org.apache.spark.sql.types.TimestampType))
    Seq(t.queryExecution.analyzed, t.queryExecution.optimizedPlan).foreach { plan =>
      assert(plan.collect { case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }
        .isEmpty, plan.treeString)
    }
    assert(t.select(unix_micros(col("at"))).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(0L, 60000000L, 120000000L))
  }

  test("a cold open lists each directory once") {
    // a counting local file system under its own scheme: every
    // listStatus call, keyed by the directory listed
    val dir = tmp("graft-tables-listing")
    spark.range(0, 30, 1, 3).toDF("k").write.parquet(s"$dir/t.parquet")
    // quarantine-shaped: k=v dirs two levels deep
    spark.range(12).select(col("id").as("k"),
      (col("id") % 2).as("__batch_id"),
      when(col("id") % 3 === 0, "a").otherwise("b").as("__reason"))
      .write.partitionBy("__batch_id", "__reason").parquet(s"$dir/q")
    def dirs(p: String): Set[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try walk.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .map(_.toString).toSet finally walk.close()
    }
    // a session conf reaches every Hadoop conf the session makes
    // (the `spark.hadoop.` prefix is read only when a context starts)
    val implKey = s"fs.${CountingFs.Scheme}.impl"
    spark.conf.set(implKey, classOf[CountingFs].getName)
    def lists(open: => Unit): Map[String, Int] = {
      CountingFs.lists.clear()
      open
      CountingFs.lists.asScala.map { case (k, v) => k -> v.intValue }.toMap
    }
    val fs = s"${CountingFs.Scheme}://"
    try {
      val schema = StructType.fromDDL("k LONG, __batch_id INT, __reason STRING")
      val opens = Seq(
        "Tables(...) of a 3-part dir" -> (dirs(s"$dir/t.parquet"),
          lists { Tables(spark, s"$fs$dir", "t"); () }),
        "readParquet of a partitioned dir" -> (dirs(s"$dir/q"),
          lists { Tables.readParquet(spark, s"$fs$dir/q"); () }),
        "readParquet of a partitioned dir, schema known" -> (dirs(s"$dir/q"),
          lists { Tables.readParquet(spark, s"$fs$dir/q", Some(schema)); () }))
      opens.foreach { case (what, (expected, seen)) =>
        assert(expected.size > 1 || what.startsWith("Tables"))
        assert(seen == expected.map(_ -> 1).toMap, s"$what: listStatus calls per dir")
      }
      assert(Tables(spark, s"$fs$dir", "t").count() == 30)
      assert(Tables.readParquet(spark, s"$fs$dir/q").where(col("__reason") === "a").count() == 4)
    } finally {
      spark.conf.unset(implKey)
      Tables.invalidate(s"$fs$dir")
    }
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

/** A local file system under its own scheme that counts `listStatus`
  * calls per directory (every listing Hadoop and Spark make goes
  * through it), for the one-listing pin. */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${CountingFs.Scheme}:///")
  override def getScheme: String = CountingFs.Scheme
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFs.lists.merge(p.toUri.getPath.stripSuffix("/"), 1,
      (a: Integer, b: Integer) => Integer.valueOf(a + b))
    super.listStatus(p)
  }
}

object CountingFs {
  val Scheme = "countfs"
  val lists = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}
