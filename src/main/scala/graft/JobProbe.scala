package graft

import org.apache.spark.scheduler._

/** Dev-only profiler (OPTIMIZATION_r15): run named catalog queries twice
  * under the shared session (`Session`) and print ONE line per Spark job —
  * start offset, duration, #tasks, and the callsite/description — so a
  * multi-job query's wall time decomposes into its job ledger. This is
  * the measure-first tool the optimization guide §1 asks for when the UI
  * is disabled: per-job wall time tells apart "one slow stage" from
  * "thirty 100 ms jobs" (per-job overhead), which the bench median alone
  * cannot.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.JobProbe q1 [q2 ...]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-jobprobe")
    // jobId -> (submit ns, ntasks, description)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    @volatile var t0 = System.nanoTime()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        val nt = js.stageInfos.map(_.numTasks).sum
        val names = js.stageInfos.map(_.name.takeWhile(_ != '(')).distinct
          .mkString("|")
        jobs.put(js.jobId, (System.nanoTime(), nt, s"$desc [$names]"))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (s, nt, d) =>
          val off = (s - t0) / 1e9; val dur = (System.nanoTime() - s) / 1e9
          lines.add((s, f"  job ${je.jobId}%3d  +$off%7.3fs  ${dur}%7.3fs  tasks=$nt%4d  $d"))
        }
      }
    })
    // Same warmup + prewarm as Bench so first-compile cost stays out.
    Warmup(spark, sfDir)
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { r =>
        spark.catalog.clearCache()
        Session.drainEvents(spark)
        lines.clear(); jobs.clear()
        t0 = System.nanoTime()
        val t = System.nanoTime()
        val df = fn(spark, sfDir)
        val tb = (System.nanoTime() - t) / 1e9
        df.count()
        val dt = (System.nanoTime() - t) / 1e9
        Session.drainEvents(spark)
        println(f"== $name run $r: $dt%.3f s (construct $tb%.3f s), ${lines.size} jobs")
        import scala.jdk.CollectionConverters._
        lines.asScala.toSeq.sortBy(_._1).foreach(l => println(l._2))
      }
    }
    spark.stop()
  }
}
