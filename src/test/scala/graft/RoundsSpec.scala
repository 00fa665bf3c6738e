package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Citations

/** The shared round loop ([[Rounds]]): cut lifecycle, the convergence
  * contract, and the observer seam's guarantees — job-free unless asked,
  * once per round, confined to the observing thread. */
class RoundsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val sf = "/root/testdata/sf0.001"

  private def isCut(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  test("superseded cuts are released: persisted RDDs stay O(one iterate) over 10 rounds") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val init = Citations.edges(spark, sf).localCheckpoint()
    val rows = init.count()
    val held = scala.collection.mutable.ArrayBuffer[Int]()
    val last = Rounds.run("swap", 10, init, owned = Seq(init)) { (r, e) =>
      val c = r.cut(e.select(col("dst").as("src"), col("src").as("dst")))
      held += sc.getPersistentRDDs.size - before
      c
    }
    // inside a round: the previous round's cut plus this round's
    assert(held.size == 10 && held.forall(_ <= 2), s"persisted per round: $held")
    // after the loop only the returned state's cut is left
    assert(sc.getPersistentRDDs.size - before == 1)
    assert(last.count() == rows) // init itself was released after round 1
    Blocks.release(last)
  }

  test("reaching the cap without a stop throws when convergence is required") {
    val e = intercept[IllegalStateException] {
      Rounds.run("spin", 3, 0, converge = true)((_, s) => s + 1)
    }
    assert(e.getMessage == "spin did not converge in 3 rounds; raise the cap")
    // a stopped loop returns its state; without the contract the cap is fine
    assert(Rounds.run("spin", 3, 0, converge = true) { (r, s) =>
      if (s == 1) r.stop(); s + 1 } == 2)
    assert(Rounds.run("spin", 3, 0)((_, s) => s + 1) == 3)
  }

  test("the observer sees each round's un-cut frame once and runs no job unless counted") {
    // every evaluation of a round's frame bumps `evals`, one per row
    val evals = spark.sparkContext.longAccumulator("round-evals")
    val touch = udf { (s: String) => evals.add(1); s }
    val init = Citations.edges(spark, sf).localCheckpoint()
    val rows = init.count()
    def loop(): Unit = Blocks.release(Rounds.run("touch", 3, init) { (r, e) =>
      r.cut(e.select(touch(col("src")).as("src"), col("dst")))
    })

    val seen = scala.collection.mutable.ArrayBuffer[(String, Int, Boolean)]()
    Rounds.observe((op, i, df, _) => seen += ((op, i, isCut(df))))(loop())
    assert(seen == Seq(("touch", 1, false), ("touch", 2, false), ("touch", 3, false)))
    // observing alone added no evaluation: each round's cut ran its frame once
    assert(evals.value == 3 * rows)

    evals.reset()
    val counts = scala.collection.mutable.ArrayBuffer[Long]()
    Rounds.observe((_, _, _, n) => counts += n())(loop())
    assert(counts == Seq(rows, rows, rows))
    // the count scanned the materialized cut, not the round's tree again
    assert(evals.value == 3 * rows)
  }

  test("an observer set on one thread does not see a loop on another thread") {
    val frame = spark.range(3).toDF()
    val seen = new ConcurrentLinkedQueue[String]()
    def loop(op: String): Int =
      Rounds.run(op, 2, 0) { (r, s) => r.show(frame, () => 0L); s + 1 }
    Rounds.observe((op, _, _, _) => seen.add(op)) {
      val other = new Thread(() => loop("other"))
      other.start()
      other.join()
      loop("mine")
    }
    assert(seen.asScala.toSeq == Seq("mine", "mine"))
  }
}
