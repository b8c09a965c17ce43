package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RoundsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def one = spark.range(1).select(lit(0L).as("v"))
  private def inc(df: org.apache.spark.sql.DataFrame) = df.select((col("v") + 1L).as("v"))

  test("run: a step that never settles runs exactly max rounds and reports no convergence") {
    var steps = 0
    var settles = Vector.empty[Int]
    val (out, converged) = Rounds.run(one, 5) { (df, _) => steps += 1; Some(inc(df)) } {
      (_, round) => settles :+= round; false
    }
    assert(steps == 5 && settles == Vector(1, 2, 3, 4, 5) && !converged)
    assert(out.head().getLong(0) == 5L)
  }

  test("run: a step that settles at round k runs exactly k times") {
    var steps = 0
    val (out, converged) = Rounds.run(one, 10) { (df, _) => steps += 1; Some(inc(df)) } {
      (df, _) => df.head().getLong(0) == 3L
    }
    assert(steps == 3 && converged && out.head().getLong(0) == 3L)
  }

  test("run: a step with nothing left to change ends the loop on the current frame") {
    var steps = 0
    var settles = 0
    val (out, converged) = Rounds.run(one, 10) { (df, round) =>
      steps += 1
      if (round == 3) None else Some(inc(df))
    } { (_, _) => settles += 1; false }
    assert(steps == 3 && settles == 2 && converged && out.head().getLong(0) == 2L)
  }

  test("fixed: exactly n rounds, each result checkpointed (plan is one scan of the last round)") {
    var rounds = Vector.empty[Int]
    val out = Rounds.fixed(one, 4) { (df, round) => rounds :+= round; inc(df) }
    assert(rounds == Vector(1, 2, 3, 4) && out.head().getLong(0) == 4L)
    // a checkpointed frame's logical plan is a leaf over the materialized RDD
    assert(out.queryExecution.logical.children.isEmpty)
  }
}
