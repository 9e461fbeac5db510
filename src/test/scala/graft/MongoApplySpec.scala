package graft

import graft.sinks.MongoApply

/** Shared-JVM in-memory document store: what a deployment's thin
  * MongoCollection adapter looks like behind the DocumentStore seam. */
object InMemoryMongo {
  private val dbs = scala.collection.concurrent.TrieMap
    .empty[String, scala.collection.concurrent.TrieMap[String, String]]
  def open(name: String): MongoApply.DocumentStore = {
    val m = dbs.getOrElseUpdate(
      name, scala.collection.concurrent.TrieMap.empty[String, String])
    new MongoApply.DocumentStore {
      def replaceOne(id: String, docJson: String): Unit = { m.put(id, docJson); () }
      def close(): Unit = ()
    }
  }
  def contents(name: String): Map[String, String] =
    dbs.get(name).map(_.toMap).getOrElse(Map.empty)
}

/** W15: ReplaceOne-by-_id document sink over the pluggable store. */
class MongoApplySpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    (0L, """{"_id":"a","v":1}"""),
    (1L, """{"_id":"b","v":1}"""),
    (2L, """{"_id":"a","v":2}"""), // later offset wins the collapse
    (3L, null: String), // tombstone → dropped (RecordIsTombstone filter)
    (4L, """{"no_id":true}""")) // id strategy failure → counted, skipped

  test("ReplaceOne by _id: LWW collapse, tombstones dropped, missing ids counted") {
    val cfg = MongoApply.Config(() => InMemoryMongo.open("m1"))
    val stats = MongoApply.applyBatch(
      rows.toDF("offset", "value_json"), "value_json", "offset", cfg)
    assert(stats == MongoApply.MongoStats(
      replaced = 2, tombstonesDropped = 1, missingId = 1))
    assert(InMemoryMongo.contents("m1") == Map(
      "a" -> """{"_id":"a","v":2}""",
      "b" -> """{"_id":"b","v":1}"""))
  }

  test("replay is idempotent (ReplaceOne upsert of the same doc is a no-op)") {
    val cfg = MongoApply.Config(() => InMemoryMongo.open("m2"))
    val df = rows.toDF("offset", "value_json")
    MongoApply.applyBatch(df, "value_json", "offset", cfg)
    val again = MongoApply.applyBatch(df, "value_json", "offset", cfg)
    assert(again.replaced == 2)
    assert(InMemoryMongo.contents("m2") == Map(
      "a" -> """{"_id":"a","v":2}""",
      "b" -> """{"_id":"b","v":1}"""))
  }

  test("streaming: Debezium Mongo envelopes reach the store across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.CdcStream.mongoWriter(
      mem.toDF().toDF("offset", "env"), "env", "offset",
      MongoApply.Config(() => InMemoryMongo.open("ms1")))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-mongo-ckpt").toString)
      .start()
    try {
      mem.addData(
        (0L, """{"after":"{\"_id\":{\"$oid\":\"a1\"},\"v\":1}","op":"c","ts_ms":0}"""),
        (1L, """{"after":"{\"_id\":{\"$oid\":\"b2\"},\"v\":1}","op":"c","ts_ms":1}"""))
      q.processAllAvailable()
      mem.addData(
        (2L, """{"after":"{\"_id\":{\"$oid\":\"a1\"},\"v\":2}","op":"u","ts_ms":2}"""),
        (3L, """{"after":null,"op":"d","ts_ms":3}""")) // delete → dropped
      q.processAllAvailable()
    } finally q.stop()
    assert(InMemoryMongo.contents("ms1") == Map(
      """{"$oid":"a1"}""" -> """{"_id":{"$oid":"a1"},"v":2}""",
      """{"$oid":"b2"}""" -> """{"_id":{"$oid":"b2"},"v":1}"""))
  }

  test("the ReplaceOne loop runs on the LWW exchange: one shuffle, hashed by _id") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    val loops = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "foreachPartition") loops.synchronized { loops += qe; () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val cfg = MongoApply.Config(() => InMemoryMongo.open("m4"))
    // the meter drains the listener bus after the body, so the
    // ReplaceOne loop's execution has reached the listener
    try CpuMeter.measure(spark.sparkContext) {
      spark.listenerManager.register(listener)
      MongoApply.applyBatch(
        rows.toDF("offset", "value_json"), "value_json", "offset", cfg)
    } finally spark.listenerManager.unregister(listener)
    assert(loops.size == 1, s"one ReplaceOne loop per batch, got ${loops.size}")
    val plan = loops.head.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = PlanInspect.flatten(plan).collect {
      case e: ShuffleExchangeLike => e.outputPartitioning
    }
    assert(exchanges.size == 1, s"one exchange (the LWW window's), got:\n$plan")
    assert(exchanges.forall {
      case h: HashPartitioning => h.references.exists(_.name == "__id")
      case _ => false
    }, s"the exchange must hash by __id, got $exchanges")
  }

  test("custom id field routes documents by that field") {
    val cfg = MongoApply.Config(() => InMemoryMongo.open("m3"), idField = "ID")
    MongoApply.applyBatch(
      Seq((0L, """{"ID":"x","v":9}""")).toDF("offset", "value_json"),
      "value_json", "offset", cfg)
    assert(InMemoryMongo.contents("m3") == Map("x" -> """{"ID":"x","v":9}"""))
  }
}
