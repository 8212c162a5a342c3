package graft.streaming

import graft.SparkSpec

/** `Main` end to end: both modes, one AvailableNow run each, over the
  * shared streaming fixtures.
  */
class StreamMainSpec extends SparkSpec {

  import spark.implicits._

  test("Main: both modes run every sink to completion; empty input keeps " +
      "nothing; a bad mode word fails with the usage line") {
    def committed(dir: String): Long = spark.read.parquet(dir).count()

    val events = tmpDir("main-events")
    StreamFixtures.write(events, StreamFixtures.events ++ StreamFixtures.sequenceEvents)
    val eventsOut = tmpDir("main-events-out")
    Main.job(Array("events", events, eventsOut))(spark)
    Seq("window_counts", "sessions", "first_arrivals", "sequence_matches",
      "last_touch", "twap", "holt", "latest_events", "user_counts",
      "hourly_users").foreach { name =>
      assert(committed(s"$eventsOut/$name") > 0, s"no committed rows under $name")
    }

    val docs = tmpDir("main-docs")
    StreamFixtures.write(docs, StreamFixtures.dedupFiles)
    val docsOut = tmpDir("main-docs-out")
    Main.job(Array("documents", docs, docsOut))(spark)
    Seq("dedup/out", "oov/report", "perplexity/report", "drift/report", "pmi",
      "token_cms", "pmi_top", "token_heavy_hitters").foreach { name =>
      assert(committed(s"$docsOut/$name") > 0, s"no committed rows under $name")
    }
    // the survivors StreamOpsSpec's cross-batch dedup case expects
    assert(spark.read.parquet(s"$docsOut/dedup/out").select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L, 13L, 23L))

    val emptyOut = tmpDir("main-empty-out")
    Main.job(Array("documents", tmpDir("main-empty"), emptyOut))(spark)
    assert(!new java.io.File(s"$emptyOut/dedup/out").exists)

    val bad = intercept[IllegalArgumentException] {
      Main.job(Array("document", docs, docsOut))
    }
    assert(bad.getMessage == Main.Usage)
  }
}
