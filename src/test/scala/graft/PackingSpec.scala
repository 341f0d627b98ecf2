package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Packing

/** Two-pass partition-offset cumsum (the scale-safe sequence-packing
  * primitive): output must equal the naive single-partition global window
  * exactly, while the plan keeps the window PARTITIONED (no "move all
  * rows to one task" WindowExec).
  */
class PackingSpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  test("globalCumsum equals the global-window cumsum exactly") {
    val rng = new scala.util.Random(11)
    val df = (1L to 5000L).map(i => (i, rng.nextInt(100).toLong))
      .toDF("k", "v").repartition(7) // scrambled input partitioning
    val twoPass = Packing.globalCumsum(df, col("k"), col("v"), "cum", 8)
      .select("k", "cum").as[(Long, Long)].collect().sortBy(_._1)
    val w = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val global = df.withColumn("cum", sum(col("v")).over(w))
      .select("k", "cum").as[(Long, Long)].collect().sortBy(_._1)
    assert(twoPass.sameElements(global))
  }

  test("plan has no unpartitioned WindowExec (single-task sort)") {
    val df = (1L to 100L).map(i => (i, i)).toDF("k", "v")
    val out = Packing.globalCumsum(df, col("k"), col("v"), "cum", 4)
    val plan = out.queryExecution.executedPlan.toString
    // The naive formulation plans `Window [... ] windowspecdefinition(k ASC`
    // with an empty partition spec; ours always partitions by __pid.
    assert(plan.contains("__pid"),
      s"expected a __pid-partitioned window in:\n$plan")
    val unpartitioned = "Window \\[[^\\]]*\\], \\[\\]".r
    assert(unpartitioned.findFirstIn(plan).isEmpty,
      s"found an unpartitioned Window in:\n$plan")
  }

  test("handles empty input and single-row input") {
    val empty = Seq.empty[(Long, Long)].toDF("k", "v")
    val emptyOut = Packing.globalCumsum(empty, col("k"), col("v"), "cum")
    assert(emptyOut.count() == 0)
    // The empty-offsets path must not degrade the dtype (an argless map()
    // types as map<string,string> and would coerce cum to DOUBLE).
    assert(emptyOut.schema("cum").dataType ==
      org.apache.spark.sql.types.LongType)
    val one = Seq((5L, 42L)).toDF("k", "v")
    val row = Packing.globalCumsum(one, col("k"), col("v"), "cum")
      .select("cum").as[Long].head()
    assert(row == 42L)
  }
}
