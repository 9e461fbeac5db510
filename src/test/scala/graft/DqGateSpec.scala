package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.pipeline.DqGate
import graft.streaming.EventTimeOps
import graft.pipeline.DqGate.{Rule, Verdict}

/** The declarative dq gate: verdict counting (incl. the null-counts-
  * as-violation contract), uniqueness, and the streaming face routing
  * pass/fail micro-batches with their verdicts. */
class DqGateSpec extends SparkSpec {
  import spark.implicits._

  private val rules = Seq(
    Rule("id_not_null", col("id").isNull),
    Rule("v_positive", DqGate.notSatisfied(col("v") > 0.0)))

  test("verdicts count violations per rule over one scan") {
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 2.0), (2L, -1.0), (null, 3.0), (3L, null), (3L, 5.0))
      .toDF("id", "v")
    val got = DqGate.verdicts(df, rules, Some(("id_unique", "id")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq == Seq(
      ("id_not_null", 1L, false),
      ("id_unique", 1L, false),     // 4 non-null ids, 3 distinct
      ("v_positive", 2L, false)))   // -1.0 AND the null v both violate
  }

  test("verdicts require at least one rule and distinct rule names") {
    intercept[IllegalArgumentException] {
      DqGate.verdicts(Seq((1, 1)).toDF("id", "v"), Nil, None)
    }
    intercept[IllegalArgumentException] {
      DqGate.verdicts(Seq((1, 1)).toDF("id", "v"),
        rules, Some(("id_not_null", "id"))) // collides with a rule name
    }
  }

  test("an empty batch passes every rule with zero violations") {
    // sum over zero rows is NULL — an ungated coalesce would hand the
    // streaming collect NULL verdicts and kill the query on a no-data
    // micro-batch
    val empty = Seq.empty[(java.lang.Long, java.lang.Double)].toDF("id", "v")
    val got = DqGate.verdicts(empty, rules, Some(("id_unique", "id")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq == Seq(
      ("id_not_null", 0L, true),
      ("id_unique", 0L, true),
      ("v_positive", 0L, true)))
  }

  test("streaming gate routes pass and fail batches with their verdicts") {
    val schema = StructType.fromDDL("id BIGINT, v DOUBLE")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val routed = mutable.ArrayBuffer[(Long, Boolean, Long, Seq[Verdict])]()
    val q = EventTimeOps.persistedBatches(mem.toDF()) { (batch, batchId) =>
      val vs = DqGate.collectVerdicts(batch, rules, Some(("id_unique", "id")))
      routed += ((batchId, vs.forall(_.pass), batch.count(), vs))
    }.start()
    try {
      mem.addData(Row(1L, 1.0), Row(2L, 2.0))          // clean
      q.processAllAvailable()
      mem.addData(Row(3L, 3.0), Row(3L, -4.0), Row(null, 5.0)) // dup+neg+null
      q.processAllAvailable()
    } finally q.stop()
    assert(routed.size == 2)
    val (_, pass1, n1, _) = routed(0)
    assert(pass1 && n1 == 2L)
    val (_, pass2, n2, vs2) = routed(1)
    assert(!pass2 && n2 == 3L)
    val byName = vs2.map(v => v.constraint -> v).toMap
    assert(byName("id_not_null").violations == 1L)
    assert(byName("id_unique").violations == 1L)
    assert(byName("v_positive").violations == 1L)
  }

  test("batch q_dq_orders and the shared rule set agree") {
    import graft.analytics.ProfileQueries
    val sf = "/root/testdata/sf0.001"
    val viaQuery = SparkEntry.queries("q_dq_orders")(spark, sf).collect()
    val viaGate = DqGate.verdicts(Tables(spark, sf, "orders"),
      ProfileQueries.OrderRules, Some(("orderkey_unique", "o_orderkey")))
      .collect()
    assert(viaQuery.sameElements(viaGate))
    assert(viaQuery.forall(_.getBoolean(2)), "clean TPC-H batch must pass")
  }
}
