package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused spec for the r16 size-aware [[Blocks.pinnedCut]] internals:
  * the cut must (a) keep the hash partitioning visible downstream,
  * (b) derive its partition count from real leaf bytes / target with
  * the floor clamp, (c) remove the downstream exchange on the pinned
  * key, (d) fall back to `shuffle.partitions`, never the floor, when no
  * leaf size is known, (e) read its byte confs with units, and (f) never
  * change results. */
class PinnedCutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def src = (1 to 1000).map(i => (s"k${i % 97}", i)).toDF("k", "v")

  test("pinned cut keeps hash partitioning visible at the floor count") {
    val cut = Blocks.pinnedCut(src.repartition(col("k")))
    cut.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val hp = l.outputPartitioning
        assert(hp.isInstanceOf[HashPartitioning],
          s"expected HashPartitioning, got $hp")
        // tiny frame -> the floor (default 4)
        assert(hp.numPartitions == 4, s"expected floor 4, got $hp")
      case other => fail(s"checkpoint did not produce a LogicalRDD: $other")
    }
    Blocks.release(cut)
  }

  test("cut width scales with leaf bytes over the target") {
    // a LocalRelation's stats are exact; a ~28 kB frame over a 1 kB
    // target must size well above the floor and match cutPartitions
    withConf("spark.graft.cut.partitionBytes" -> "1024") {
      val df = src.repartition(col("k"))
      val n = Blocks.cutPartitions(df)
      assert(n > 4, s"expected byte-derived width over the floor, got $n")
      val cut = Blocks.pinnedCut(df)
      assert(cut.rdd.getNumPartitions == n,
        s"materialized ${cut.rdd.getNumPartitions} partitions, sized $n")
      Blocks.release(cut)
    }
  }

  test("downstream aggregate on the pinned key plans zero exchanges") {
    val cut = Blocks.pinnedCut(src.repartition(col("k")))
    val agg = cut.groupBy(col("k")).agg(count(lit(1)))
    agg.collect()
    val finalPlan = agg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange h"))
    assert(exchanges == 0, s"expected 0 exchanges, plan:\n$finalPlan")
    Blocks.release(cut)
  }

  test("pinned and plain cuts produce identical rows") {
    val a = Blocks.pinnedCut(src.repartition(col("k")))
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
      .collect().map(_.toString).sorted
    val b = src.repartition(col("k")).localCheckpoint()
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("unknown-size frames fall back to the session shuffle partitions") {
    // no sizeable leaf: an unpersisted-RDD-backed frame would be the
    // real case; emulate by asking for a frame whose only leaf is a
    // released checkpoint
    val cp = src.localCheckpoint()
    Blocks.release(cp)
    // release is async: wait until the blocks are actually gone
    val rddId = cp.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.id
      case other => fail(s"not a LogicalRDD: $other")
    }
    val deadline = System.nanoTime() + 5000000000L
    while (spark.sparkContext.getRDDStorageInfo
             .exists(i => i.id == rddId && i.memSize + i.diskSize > 0) &&
           System.nanoTime() < deadline) Thread.sleep(50)
    // shuffle.partitions off the floor (4), so a floor landing shows
    withConf("spark.sql.shuffle.partitions" -> "7") {
      val n = Blocks.cutPartitions(cp.repartition(col("k")))
      assert(n == 7, s"expected fallback to session shuffle partitions, got $n")
    }
  }

  test("an unknown-size relation leaf falls back to the session shuffle partitions") {
    // a non-file relation (JDBC-style) reports defaultSizeInBytes: no idea
    val rel = new BaseRelation with TableScan {
      val sqlContext: SQLContext = spark.sqlContext
      val schema: StructType = StructType(Seq(StructField("k", StringType)))
      def buildScan(): RDD[Row] = spark.sparkContext.parallelize(Seq(Row("a")))
    }
    assert(rel.sizeInBytes == Long.MaxValue)
    withConf("spark.sql.shuffle.partitions" -> "7") {
      val n = Blocks.cutPartitions(spark.baseRelationToDataFrame(rel)
        .repartition(col("k")))
      assert(n == 7, s"an unknown size must not clamp to the 262144 cap, got $n")
    }
  }

  test("byte confs are read with units and never throw") {
    val df = src.repartition(col("k"))
    // "1k" is 1024 bytes: the same width as the plain-digits spelling
    val plain = withConf("spark.graft.cut.partitionBytes" -> "1024")(Blocks.cutPartitions(df))
    val unit = withConf("spark.graft.cut.partitionBytes" -> "1k")(Blocks.cutPartitions(df))
    assert(plain > 4 && unit == plain, s"1024 -> $plain, 1k -> $unit")
    // 64m parses (the old digit parse threw on the suffix) and this tiny
    // frame lands on the floor under it
    assert(withConf("spark.graft.cut.partitionBytes" -> "64m")(Blocks.cutPartitions(df)) == 4)
    // malformed values fall back to the defaults instead of failing the cut
    assert(withConf("spark.graft.cut.partitionBytes" -> "lots",
      "spark.graft.cut.minPartitions" -> "few")(Blocks.cutPartitions(df)) == 4)
    assert(Blocks.bytesConf(spark, "spark.graft.no.such.key", 5L) == 5L)
  }
}
