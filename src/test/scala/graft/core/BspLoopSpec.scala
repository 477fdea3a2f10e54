package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Graph

/** The BSP chassis itself: the pinned posture and its restore, the
  * NULL-metric guard, the stop rule, and one step capture per step. */
class BspLoopSpec extends AnyFunSuite with SparkSpec {

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val PartKey = "spark.sql.shuffle.partitions"

  private def frame(parts: Int): DataFrame =
    spark.range(0, 20, 1, parts).toDF("v").localCheckpoint()

  private def posture: (String, String) =
    (spark.conf.get(AqeKey), spark.conf.get(PartKey))

  /** A counter loop: each step adds one to the single row's `v` and
    * observes the new value. */
  private def counter(maxSteps: Int, stopAt: Long): BspLoop.Outcome =
    BspLoop.iterate("count", spark.range(1).select(lit(0L).as("v")).localCheckpoint(),
        maxSteps) { (state, _) =>
      BspLoop.Step(state.select((col("v") + 1L).as("v")), Seq(max(col("v"))),
        done = _.head >= stopAt)
    }

  private def value(o: BspLoop.Outcome): Long = o.state.head().getLong(0)

  private def captured(body: => Unit): Seq[(String, Int)] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    BspLoop.stepSink = Some((label, step, _) => seen += ((label, step)))
    try body
    finally BspLoop.stepSink = None
    seen.toSeq
  }

  test("pinned runs with AQE off at the widest input's width and restores both settings") {
    val before = posture
    val (a, b) = (frame(3), frame(5))
    val inside = BspLoop.pinned(spark, a, b)(posture)
    assert(inside == ("false", "5"))
    assert(posture == before)
  }

  test("pinned restores both settings when the body throws") {
    val before = posture
    intercept[ArithmeticException] {
      BspLoop.pinned(spark, frame(2))(throw new ArithmeticException("body failed"))
    }
    assert(posture == before)
  }

  test("iterate runs every step pinned to the widest of init and inputs, then restores") {
    val before = posture
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    BspLoop.iterate("posture", frame(2), 2, frame(6)) { (state, _) =>
      seen += posture
      BspLoop.Step(state)
    }
    assert(seen == Seq(("false", "6"), ("false", "6")))
    assert(posture == before)
    intercept[IllegalStateException] {
      BspLoop.iterate("throws", frame(2), 2) { (_, _) =>
        throw new IllegalStateException("step failed")
      }
    }
    assert(posture == before)
  }

  test("checkpointObserved fails loudly on a NULL metric") {
    val empty = spark.range(0).toDF("v")
    val e = intercept[IllegalStateException] {
      BspLoop.checkpointObserved(empty, sum(col("v")))
    }
    assert(e.getMessage.contains("NULL"))
    val (_, Seq(n)) = BspLoop.checkpointObserved(empty, count(lit(1)))
    assert(n == 0L)
  }

  test("iterate stops on the first step whose predicate fires") {
    val o = counter(maxSteps = 10, stopAt = 3)
    assert((o.steps, o.stopped, value(o)) == (3, true, 3L))
    val atBudget = counter(maxSteps = 3, stopAt = 3)
    assert((atBudget.steps, atBudget.stopped, value(atBudget)) == (3, true, 3L))
  }

  test("iterate never runs past its budget and reports the predicate unfired") {
    val o = counter(maxSteps = 2, stopAt = 3)
    assert((o.steps, o.stopped, value(o)) == (2, false, 2L))
    val none = counter(maxSteps = 0, stopAt = 3)
    assert((none.steps, none.stopped, value(none)) == (0, false, 0L))
  }

  test("stepSink gets exactly one (label, step) per step, fixed-count and converging") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("node")
    val path = Seq(0L -> 1L, 1L -> 2L, 2L -> 3L).toDF("src", "dst")
    val lpa = captured(Graph.labelPropagationMinTie(path, nodes, 3).collect())
    assert(lpa == Seq(("lpa", 1), ("lpa", 2), ("lpa", 3)))
    // min label 0 reaches node 3 in three steps; the fourth changes
    // nothing and stops the loop well inside its budget
    val cc = captured(Graph.connectedComponentsMinLabel(path, nodes, 50).collect())
    assert(cc == (1 to 4).map(("cc", _)))
    val counted = captured(counter(maxSteps = 10, stopAt = 3))
    assert(counted == (1 to 3).map(("count", _)))
  }
}
