package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}

/** Co-located joins via bucketing — the pre-shuffle that makes repeated
  * large-table equi-joins shuffle-free at 100 TB: both sides written
  * `bucketBy(k, key)`, so the join reads matching buckets directly and the
  * plan contains NO shuffle exchange (SortMergeJoin over bucketed scans).
  */
class BucketingSpec extends SparkSpec {

  import spark.implicits._

  // AQE final plans hide subtrees inside QueryStageExec LEAF nodes
  // (ResultQueryStage / ShuffleQueryStage), so plain collect() sees nothing —
  // descend into each stage's plan explicitly.
  private def countShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
    p match {
      case _: ShuffleQueryStageExec => 1
      case _: ShuffleExchangeLike => 1
      case a: AdaptiveSparkPlanExec => countShuffles(a.executedPlan)
      case q: QueryStageExec => countShuffles(q.plan)
      case other => other.children.map(countShuffles).sum
    }

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // force AQE to finalize the executed plan
    countShuffles(df.queryExecution.executedPlan)
  }

  test("partition-pruned scan touches only matching partition directories") {
    val root = tmpDir("part-prune") + "/t"
    (1L to 300L).map(i => (s"d${i % 3}", i)).toDF("day", "v")
      .write.partitionBy("day").parquet(root)
    val filtered = spark.read.parquet(root).filter(col("day") === "d1")
    val scans = filtered.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // the pruning must happen at PLAN time (partition filters, not a
    // post-scan filter): only day=d1 files remain in the selected partitions
    val files = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(files.nonEmpty && files.forall(_.contains("day=d1")),
      s"scan still touches: ${files.filterNot(_.contains("day=d1")).take(3)}")
    assert(filtered.count() == 100)
  }

  test("bucketed-by-key tables join with zero shuffle exchanges") {
    val load = new graft.etl.Load(tmpDir("bucket-wh"))
    val left = (1L to 1000L).map(i => (i % 100, i)).toDF("k", "lv")
    val right = (1L to 500L).map(i => (i % 100, -i)).toDF("k", "rv")
    assert(load.writeBucketed(left, "bkt_left", 8, Seq("k")) == 1000L)
    assert(load.writeBucketed(right, "bkt_right", 8, Seq("k")) == 500L)
    // broadcast would make ANY small join exchange-free — disable it so the
    // zero-shuffle result below is attributable to bucketing alone
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_left")
        .join(spark.table("bkt_right"), "k")
      assert(shuffleCount(joined) == 0,
        "bucketed join must read matching buckets directly, not re-shuffle")
      // and an aggregation on the bucket key needs no exchange either
      val agged = spark.table("bkt_left").groupBy("k").agg(sum("lv"))
      assert(shuffleCount(agged) == 0)
      // correctness: identical to the plain (shuffling) join
      val plain = left.join(right, "k")
      assert(joined.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)
      assert(shuffleCount(plain) > 0) // the unbucketed baseline DOES shuffle
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }
}
