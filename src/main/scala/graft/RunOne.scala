package graft

/** Run a comma-separated list of SparkEntry queries once each and time
  * them — the single-query A/B tool (Bench remains the harness: its
  * min-of-3 is the number that counts; a first run in a fresh JVM pays
  * ~0.3 s codegen/JIT). Usage:
  * `runMain graft.RunOne q_a,q_b [sfDir] [reps]`.
  *
  * Validation and output rendering live in [[parse]]/[[line]] — the
  * seams RunOneSpec drives (same pattern as FsckMain.cli: main adds
  * only the session and exit, so the spec'd behavior IS the shipped
  * behavior). A typo'd query name fails loudly with the known-names
  * list instead of a bare NoSuchElementException mid-session. */
object RunOne {

  private[graft] val usage =
    "usage: runMain graft.RunOne <q_name>[,<q_name>...] [sfDir] [reps]"

  /** Validate args into (names, sfDir, reps) or a loud error message.
    * Every name must be a SparkEntry.queries key (unknowns are listed
    * next to the full catalog), sfDir must be a directory, reps a
    * positive int — all checked BEFORE a session spins up. */
  private[graft] def parse(
      args: Array[String]): Either[String, (Seq[String], String, Int)] = {
    if (args.length < 1 || args.length > 3)
      return Left(usage)
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (names.isEmpty) return Left(usage)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      return Left(s"unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
        s"${unknown.mkString(", ")}\nknown: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    if (!new java.io.File(sfDir).isDirectory)
      return Left(s"sfDir is not a directory: $sfDir")
    val reps = if (args.length > 2) args(2).toIntOption else Some(1)
    reps match {
      case Some(r) if r >= 1 => Right((names, sfDir, r))
      case _ => Left(s"reps must be a positive int, got: ${args(2)}")
    }
  }

  /** One output row. Locale-pinned (Locale.ROOT): the wall/cpu columns
    * are what a triage habit greps and a comma-decimal default locale
    * would silently break the format the spec pins. `jobs` and
    * `shuffle_records` are the load-immune counters; `jobs_outside_sql`
    * counts the rep's jobs run outside any SQL execution (schema
    * inference, listings): fixed per-call cost no query plan shows. */
  private[graft] def line(name: String, rep: Int,
      run: CpuMeter.Run[Long]): String =
    String.format(java.util.Locale.ROOT,
      "[runone] %-28s rep%d %6.2f s  cpu %6.2f s  rows=%d  jobs=%d  " +
        "shuffle_records=%d  jobs_outside_sql=%d",
      name, rep, run.wallS, run.cpuS, run.value, run.jobs,
      run.shuffleRecords, run.jobsOutsideSql)

  def main(args: Array[String]): Unit = {
    val (names, sfDir, reps) = parse(args) match {
      case Left(msg) => System.err.println(msg); sys.exit(2)
      case Right(cfg) => cfg
    }
    val spark = Harness.session()
    // same triage signal as Bench's queries_cpu: executor task CPU per
    // rep, so a wall spike on a loaded box is tellable apart from a
    // work regression right in the A/B output
    names.foreach { name =>
      (1 to reps).foreach { i =>
        val run = CpuMeter.measure(spark.sparkContext)(
          SparkEntry.queries(name)(spark, sfDir).count())
        println(line(name, i, run))
      }
    }
    spark.stop()
  }
}
