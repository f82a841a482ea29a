package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PlanDiff

/** `PlanDiff.normalize` maps two dumps of one plan, made in different runs,
  * hosts and core counts, to the same text, and keeps what tells plans
  * apart.
  */
class PlanDiffSuite extends AnyFunSuite {

  test("normalize removes every run-dependent id, path and counter") {
    val a =
      """(1) Scan parquet spark_catalog.default.lineitem_bkt_1a2b3c_b32
        |Output [2]: [l_partkey#123L, l_quantity#45]
        |Location: InMemoryFileIndex [file:/tmp/graft-wh1/lineitem_bkt_1a2b3c_b32]
        |(2) Scan ExistingRDD MapPartitionsRDD[42] at localCheckpoint at Dedup.scala:123
        |(3) Project [transform(v#7, lambdafunction((x_11#8 + 1), x_11#8, false)) AS w#9]
        |(4) BroadcastExchange [plan_id=57] Broadcast(94)
        |(5) Scan events_tbkt_9f_b4""".stripMargin
    val b =
      """(1) Scan parquet spark_catalog.default.lineitem_bkt_77aa01_b4
        |Output [2]: [l_partkey#9L, l_quantity#10]
        |Location: InMemoryFileIndex [file:/other/wh/lineitem_bkt_77aa01_b4]
        |(2) Scan ExistingRDD MapPartitionsRDD[7] at localCheckpoint at Dedup.scala:130
        |(3) Project [transform(v#1, lambdafunction((x_13#2 + 1), x_13#2, false)) AS w#3]
        |(4) BroadcastExchange [plan_id=12] Broadcast(79)
        |(5) Scan events_tbkt_c0_b32""".stripMargin
    assert(PlanDiff.normalize(a) == PlanDiff.normalize(b))
    assert(PlanDiff.normalize(a).contains("lineitem_bkt_H_bN"))
  }

  test("normalize keeps operators, columns and counts") {
    val plan = "HashAggregate(keys=[l_partkey#1L], functions=[percentile(l_quantity#2, 0.5)])"
    val other = "HashAggregate(keys=[l_orderkey#1L], functions=[percentile(l_quantity#2, 0.5)])"
    assert(PlanDiff.normalize(plan) != PlanDiff.normalize(other))
    assert(PlanDiff.normalize("SelectedBucketsCount: 32 out of 32") ==
      "SelectedBucketsCount: 32 out of 32")
    assert(PlanDiff.normalize("hashpartitioning(k_1#5, 4)") == "hashpartitioning(k_1#N, 4)")
  }
}
