package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loader for the driver test data (TESTDATA.md). */
object Tables {

  /**
   * The driver's parquet timestamps have shifted shape across
   * regenerations: TIMESTAMP(NANOS) (which Spark 4 refuses unless the
   * legacy nanos-as-long read path is on) and plain `timestamp[us]`
   * with no zone (which Spark reads as TIMESTAMP_NTZ — a type
   * `unix_micros` and friends reject). Normalize both to session-TZ
   * TimestampType here so every downstream operator sees one timestamp
   * type regardless of which writer produced the file. The NTZ→LTZ
   * conversion is expressed ZONE-INDEPENDENTLY: the naive value's
   * micros-since-epoch are computed by NTZ-domain arithmetic
   * (timestampdiff against the NTZ epoch — no session zone in the
   * expression) and re-wrapped via timestamp_micros, so the result
   * carries the UTC reading of the naive column no matter what the
   * session zone is at ACTION time — matching how DuckDB treats the
   * same naive column in the oracle. (A plain NTZ→LTZ cast would be
   * correct only under a UTC session zone at execution, an invariant
   * a caller could silently break between plan build and action;
   * entry points pin UTC for downstream FORMATTING, but correctness
   * here does not depend on it, so the loader no longer mutates the
   * session zone itself.)
   *
   * The normalization folds over TOP-LEVEL fields only: the driver
   * tables are flat (TESTDATA.md), and no nested struct/array carries
   * a timestamp. Guarded by an assertion rather than a recursive
   * rewrite so a future regeneration that nests one fails loudly here
   * instead of downstream in a unix_micros-style consumer.
   */
  /** Resolved-plan cache — what a SQL catalog does for a registered
    * table: the frame (plan + file listing + normalized schema) is
    * built once per (session, dir, table) and re-executed per action;
    * DATA is re-read by every job, only the driver-side listing + ONE
    * footer schema read ([[footerSchema]]: the first summary file,
    * else the first data part) + normalization fold is amortized —
    * no Spark job and no thread pool, a median ~7 ms per sf0.001
    * driver table in a warm JVM on 4 vCPUs (~74 ms for all ten), where
    * the job-launching `spark.read.parquet` inference takes ~80 ms.
    * Sound here because the driver test tables are immutable files;
    * mutable standing structures go through [[graft.sources
    * .StandingStore]], which lists per open by design. */
  private val planCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]

  /** Registry of every session-keyed cache in the query layer (this
    * one plus the family objects' memoized frames/roots). An entry
    * keyed by a STOPPED session pins its plans, file listings, and
    * SparkContext on the heap forever in a JVM that cycles sessions
    * (notebook/server use) — so every plan-cache MISS sweeps the
    * registered caches of stopped-session entries. Registration
    * returns the map, keeping the declarations one-liners; entries
    * carry the cache's identity so a non-singleton registrant (a
    * spec's throwaway map) can deregister instead of appending
    * closures to a global list forever. */
  private val registeredCaches = new java.util.concurrent
    .CopyOnWriteArrayList[(AnyRef, () => Unit, String => Unit)]()

  private[graft] def registerSessionCache[V](
      m: scala.collection.concurrent.TrieMap[(SparkSession, String), V])
      : scala.collection.concurrent.TrieMap[(SparkSession, String), V] = {
    // every registered cache's String key is the source dir, so
    // [[invalidate]] can drop derived frames built from a rewritten
    // dir's files, not just the raw plans; persisted frames unpersist
    // so the executor cache doesn't keep serving pre-rewrite blocks
    registeredCaches.add((m,
      () => m.keys.filter(_._1.sparkContext.isStopped).foreach(m.remove),
      dir => m.keys.filter(_._2 == dir).foreach(k => m.remove(k).foreach {
        case df: DataFrame => df.unpersist(); ()
        case _             => ()
      })))
    m
  }

  private[graft] def deregisterSessionCache(m: AnyRef): Unit = {
    val it = registeredCaches.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e._1 eq m) { registeredCaches.remove(e); () }
    }
  }

  private[graft] def sweepStoppedSessions(): Unit = {
    planCache.keys.filter(_._1.sparkContext.isStopped).foreach(planCache.remove)
    val it = registeredCaches.iterator()
    while (it.hasNext) it.next()._2.apply()
  }

  /** Drop cached state under `dir` — the plan cache freezes a dir's
    * file listing at first read, and the registered family caches
    * memoize persisted frames and scratch roots DERIVED from those
    * files, so a harness that REWRITES a dir in-session (ScaleSmoke's
    * synthesized 10× tables) must invalidate or later reads serve the
    * pre-rewrite listing (stale rows at best, deleted-file read
    * failures at worst). The driver contract dirs
    * (`/root/testdata/sf*`) are immutable and never need this. */
  private[graft] def invalidate(dir: String): Unit = {
    planCache.keys.filter(_._2 == dir).foreach(planCache.remove)
    val it = registeredCaches.iterator()
    while (it.hasNext) it.next()._3.apply(dir)
  }

  /** Sweep pacing: a per-read walk of every registered cache would
    * tax the hot query-build path for an event (a session stopping)
    * that is rare by construction, but sweeping ONLY on plan-cache
    * misses would pin a stopped session forever in a JVM whose
    * surviving sessions run fully warm (no further misses). So: every
    * miss sweeps (a cycled session's first reads all miss, prompt by
    * construction), and hits sweep at most once a minute. Seeded from
    * nanoTime at class load: the nanoTime origin is arbitrary (may be
    * negative), so a 0 seed would make the FIRST paced sweep's timing
    * arbitrary — possibly immediate, possibly minutes late. */
  private val lastSweepNanos =
    new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
  private val SweepIntervalNanos = 60L * 1000L * 1000L * 1000L

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val now = System.nanoTime()
    val last = lastSweepNanos.get
    if (now - last > SweepIntervalNanos &&
        lastSweepNanos.compareAndSet(last, now))
      sweepStoppedSessions()
    planCache.getOrElseUpdate((spark, sfDir, name), {
      sweepStoppedSessions()
      build(spark, sfDir, name)
    })
  }

  /** Exact row count of a driver table from parquet FOOTER metadata —
    * the catalog-statistics read (O(files) driver-side metadata, no
    * job, no scan) that sizes data-adaptive dials (LSH plane counts).
    * `df.count()` per probe batch re-scans the corpus for a number the
    * files already carry; at 100 TB that is a full pass per dial read.
    * Recomputed from the input files on every call (nothing is keyed
    * on the data), so a rewritten dir is always read fresh. Exactness:
    * footer row counts are definitional for plain parquet — Spark's
    * own count() fast path reads the same metadata. */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    footers(spark, s"$sfDir/$name.parquet")(_.parts)
      .map(_.getParquetMetadata.getBlocks.asScala.map(_.getRowCount).sum).sum

  /** Read a parquet path as `spark.read.schema(s).parquet(path)` does,
    * where `s` is the given `schema` (a standing structure's known
    * DDL) or else is resolved on the DRIVER from one footer
    * ([[footerSchema]]) — no Spark job. `spark.read.parquet` infers the
    * same schema through `mergeSchemasInParallel`, which launches a job
    * per read even for a one-file table: the fixed per-call cost a
    * catalog that already knows the schema never pays. The relation
    * also skips Spark's own existence check, which starts a fresh
    * thread pool on every read to stat one path
    * ([[GraftShims.parquetRelation]]). This read has already stat'ed
    * the path on the driver thread (the footer listing, or one
    * `getFileStatus` when the schema is given), and that stat raises
    * the `PATH_NOT_FOUND` the check would, with the same message.
    * Partition columns (`k=v` directories) stay path-inferred by the
    * file index, as they are under inference, or take the given
    * schema's types. */
  private[graft] def readParquet(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val resolved = schema match {
      case Some(known) =>
        val root = new Path(path)
        status(root.getFileSystem(spark.sessionState.newHadoopConf()), root)
        known
      case None => footerSchema(spark, path)
    }
    GraftShims.parquetRelation(spark, path, resolved)
  }

  /** The schema Spark's non-merging parquet inference would resolve
    * for `path`, read from the footer it would pick: the first summary
    * file (`_common_metadata`, else `_metadata`) if there is one, else
    * the first data part in path order. Converted by Spark's own
    * `readSchemaFromFooter` under the session's CURRENT parquet confs
    * (so `nanosAsLong`/`inferTimestampNTZ` must be set before the
    * call), and top-level fields made nullable as file-source reads
    * make them (a Spark-written footer keeps its `NOT NULL`s). No
    * footer to read fails as inference does: `PATH_NOT_FOUND` for a
    * missing path, `UNABLE_TO_INFER_SCHEMA` for one with no parts. */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    val footer = footers(spark, path)(l => (l.summaries ++ l.parts).take(1))
      .headOption.getOrElse(throw new AnalysisException(
        "UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val schema = ParquetFileFormat.readSchemaFromFooter(footer, converter)
    StructType(schema.fields.map(_.copy(nullable = true)))
  }

  /** A parquet path's files as Spark's file index sees them: summary
    * files (`_common_metadata` first, then `_metadata`) and the
    * `*.parquet` data parts, each in path order. */
  private final case class Listing(summaries: Seq[FileStatus], parts: Seq[FileStatus])

  private val SummaryNames = Seq("_common_metadata", "_metadata")

  /** List `path` (a file, or a directory walked through its `k=v`
    * partition dirs, skipping every other `_`- or `.`-prefixed name
    * — `_SUCCESS`, `.crc`s, staging dirs) and open the footers of the
    * files `pick` chooses. The one driver-side listing behind
    * [[rowCount]] and [[footerSchema]]. */
  private def footers(spark: SparkSession, path: String)(
      pick: Listing => Seq[FileStatus]): Seq[Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(name: String): Boolean =
      name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    def walk(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { c =>
        val n = c.getPath.getName
        if (c.isDirectory) { if (hidden(n)) Nil else walk(c.getPath) }
        else if (SummaryNames.contains(n) || (!hidden(n) && n.endsWith(".parquet"))) Seq(c)
        else Nil
      }
    val top = status(fs, root)
    val files = if (top.isDirectory) walk(top.getPath) else Seq(top)
    val (summaries, parts) = files.sortBy(_.getPath.toString)
      .partition(f => SummaryNames.contains(f.getPath.getName))
    val listing = Listing(
      summaries.sortBy(f => SummaryNames.indexOf(f.getPath.getName)), parts)
    // read options over the session's conf: without them parquet builds
    // them over a fresh `Configuration`, which re-parses Hadoop's default
    // XML resources on every open and misses the session's settings
    // (an encrypted footer's crypto factory among them)
    pick(listing).map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf, st.getPath).build())
      try new Footer(st.getPath, r.getFooter) finally r.close()
    }
  }

  /** `root`'s status, or the `PATH_NOT_FOUND` `spark.read` raises for a
    * missing path. */
  private def status(fs: FileSystem, root: Path): FileStatus =
    try fs.getFileStatus(root) catch {
      case _: java.io.FileNotFoundException => throw new AnalysisException(
        "PATH_NOT_FOUND", Map("path" -> fs.makeQualified(root).toString))
    }

  private def build(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // nanosAsLong is a READ-path necessity (Spark 4 refuses
    // TIMESTAMP(NANOS) parquet without it), not a display preference,
    // so setting it per load is correct. The session TIME ZONE is NOT
    // set here: the normalization below is zone-independent, and a
    // loader that silently overrode the caller's display zone on every
    // table read would be a hidden side effect (every entry point —
    // Verify/Bench/Smoke/specs — pins UTC itself for formatting).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Read naive `timestamp[us]` parquet columns directly as session
    // TimestampType instead of TIMESTAMP_NTZ: the stored int64 micros
    // ARE the "UTC reading of the naive column" the NTZ fold below
    // computes (verified value-identical on every driver table), and
    // skipping the fold keeps the column a plain scan attribute — so
    // predicates on ts/l_shipdate/o_orderdate reach the parquet
    // PushedFilters (row-group min/max skipping at scale; the fold
    // hid them behind a timestamp_micros(timestampdiff(..)) projection
    // no filter can push through) and every events/lineitem scan drops
    // a per-row rewrite. The NTZ branch below stays as the safety net
    // for a caller that flips the conf back. Both confs are set BEFORE
    // the footer schema is converted, which reads them.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case LongType if f.name == "ts" =>
          acc.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          acc.withColumn(f.name, timestamp_micros(expr(
            s"timestampdiff(MICROSECOND, " +
              s"TIMESTAMP_NTZ'1970-01-01 00:00:00', `${f.name}`)")))
        case t =>
          require(!hasNestedNtz(t),
            s"Tables: nested TIMESTAMP_NTZ in $name.$f — flat-schema " +
              "normalization assumption violated; extend the rewrite")
          acc
      }
    }
  }

  /** True when a non-top-level type tree contains TIMESTAMP_NTZ. */
  private def hasNestedNtz(t: DataType): Boolean = t match {
    case TimestampNTZType => true
    case s: StructType => s.fields.exists(f => hasNestedNtz(f.dataType))
    case a: ArrayType => hasNestedNtz(a.elementType)
    case m: MapType => hasNestedNtz(m.keyType) || hasNestedNtz(m.valueType)
    case _ => false
  }
}
