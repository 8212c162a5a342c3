package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Relational utilities not covered by the oracle catalog. */
class RelationalSpec extends SparkSpec {

  import spark.implicits._

  test("saltedEquiJoin equals the plain join on skewed data") {
    // 90% of left rows share one hot key
    val left = (1 to 500).map(i => (if (i % 10 == 0) i.toLong else 7L, s"v$i"))
      .toDF("k", "payload")
    val right = (1L to 60L).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = left.join(right, Seq("k"))
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    val salted = Relational.saltedEquiJoin(left, right, Seq("k"), salts = 8)
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("saltedEquiJoin spreads a hot key across salt partitions") {
    val left = (1 to 400).map(i => (7L, s"v$i")).toDF("k", "payload")
    val salts = left.withColumn("_salt",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(8)))
      .select("_salt").distinct().count()
    assert(salts > 4) // content-hash salt actually disperses the hot key
  }

  test("asofJoin: latest right row at or before each left ts; null when none") {
    val left = Seq((1L, 10L, "c1"), (1L, 20L, "c2"), (1L, 5L, "c0"), (2L, 50L, "c3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0, 1L), (1L, 10L, 200.0, 2L), (1L, 15L, 300.0, 3L))
      .toDF("k", "t", "v", "rid")
    val out = Relational.asofJoin(left, right, Seq("k"), "t", "t",
        Seq("v"), rightTie = Seq("rid"))
      .select("tag", "v").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("c0").isEmpty)          // before any right row
    assert(out("c1").contains(200.0))  // simultaneous right row matches; tie → rid 2
    assert(out("c2").contains(300.0))  // most recent, not first
    assert(out("c3").isEmpty)          // key with no right rows
  }

  test("asofJoinForward: earliest right row at or after each left ts") {
    val left = Seq((1L, 10L, "c1"), (1L, 20L, "c2"), (1L, 5L, "c0"), (2L, 50L, "c3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0, 1L), (1L, 10L, 200.0, 2L), (1L, 15L, 300.0, 3L))
      .toDF("k", "t", "v", "rid")
    val out = Relational.asofJoinForward(left, right, Seq("k"), "t", "t",
        Seq("v"), rightTie = Seq("rid"))
      .select("tag", "v").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("c0").contains(100.0))  // next is the t=10 pair; tie → rid 1
    assert(out("c1").contains(100.0))  // simultaneous right row matches
    assert(out("c2").isEmpty)          // after every right row
    assert(out("c3").isEmpty)          // key with no right rows
  }

  test("asofJoinNearest: closest right row either way; gap ties go backward") {
    val left = Seq(
      (1L, 10L, "c1"),  // simultaneous right rows at 10 → backward gap 0; tie rid 2
      (1L, 13L, "c2"),  // back at 10 (gap 3) vs fwd at 14 (gap 1) → forward
      (1L, 20L, "c3"),  // only backward candidates → backward to 14, gap 6
      (1L, 4L,  "c4"),  // only forward candidates → forward to 10, gap 6; tie rid 1
      (1L, 12L, "c5"),  // gap 2 BOTH ways (10 vs 14) → tie goes backward
      (2L, 50L, "c6"))  // key with no right rows → all null
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0, 1L), (1L, 10L, 200.0, 2L),
      (1L, 14L, 300.0, 3L)).toDF("k", "t", "v", "rid")
    val out = Relational.asofJoinNearest(left, right, Seq("k"), "t", "t",
        Seq("v"), rightTie = Seq("rid"))
      .select("tag", "v", "asof_dir", "asof_gap").collect()
      .map(r => r.getString(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(out("c1") == ((Some(200.0), Some("backward"), Some(0L))))
    assert(out("c2") == ((Some(300.0), Some("forward"), Some(1L))))
    assert(out("c3") == ((Some(300.0), Some("backward"), Some(6L))))
    assert(out("c4") == ((Some(100.0), Some("forward"), Some(6L))))
    assert(out("c5") == ((Some(200.0), Some("backward"), Some(2L))))
    assert(out("c6") == ((None, None, None)))
  }

  test("asofJoinNearest: a NULL right value is returned from the NEAREST " +
      "row (value and gap describe the same row — merge_asof semantics)") {
    val left = Seq((1L, 11L, "c1")).toDF("k", "t", "tag")
    // nearest right row (t=10, gap 1) has v=NULL; a farther row (t=2)
    // has a real value — per-column ignoreNulls carry would leak 7.0
    val right = Seq((1L, 2L, Some(7.0), 1L), (1L, 10L, None, 2L))
      .toDF("k", "t", "v", "rid")
    val r = Relational.asofJoinNearest(left, right, Seq("k"), "t", "t",
        Seq("v"), rightTie = Seq("rid"))
      .select("v", "asof_dir", "asof_gap").collect().head
    assert(r.isNullAt(0), "NULL value of the nearest row must survive")
    assert(r.getString(1) == "backward" && r.getLong(2) == 1L)
  }

  test("asofJoinNearest tolerance: out-of-bound candidates are dropped " +
      "per direction BEFORE the nearest pick") {
    val left = Seq(
      (1L, 100L, "inb"),   // back at 95 (gap 5, in), fwd at 130 (gap 30, out) → backward
      (1L, 128L, "fwd"),   // back at 95 (gap 33, out), fwd at 130 (gap 2, in) → forward
      (1L, 300L, "none"))  // nearest is 130 (gap 170, out) → no match
      .toDF("k", "t", "tag")
    val right = Seq((1L, 95L, 1.0, 1L), (1L, 130L, 2.0, 2L))
      .toDF("k", "t", "v", "rid")
    val out = Relational.asofJoinNearest(left, right, Seq("k"), "t", "t",
        Seq("v"), rightTie = Seq("rid"), toleranceSec = Some(10L))
      .select("tag", "v", "asof_dir", "asof_gap").collect()
      .map(r => r.getString(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(out("inb") == ((Some(1.0), Some("backward"), Some(5L))))
    assert(out("fwd") == ((Some(2.0), Some("forward"), Some(2L))))
    assert(out("none") == ((None, None, None)))
  }

  test("binnedRangeJoin equals the naive range join, exactly once per pair") {
    // negative coordinates, intervals spanning 1..many bins, touching
    // endpoints (half-open), and points outside every interval
    val points = Seq((-250L, "p0"), (-1L, "p1"), (0L, "p2"), (99L, "p3"),
      (100L, "p4"), (350L, "p5"), (1000L, "p6")).toDF("p", "ptag")
    val ivs = Seq((-300L, -100L, "iA"), (-50L, 100L, "iB"), (0L, 1000L, "iC"),
      (90L, 110L, "iD"), (2000L, 3000L, "iE")).toDF("lo", "hi", "itag")
    val naive = points.join(ivs, col("p") >= col("lo") && col("p") < col("hi"))
      .select("ptag", "itag").as[(String, String)].collect().sorted.toSeq
    assert(naive.nonEmpty && naive.distinct == naive)
    // bin width much smaller than some intervals → multi-bin explode paths
    for (w <- Seq(1L, 7L, 100L, 10000L)) {
      val binned = Relational.binnedRangeJoin(points, ivs,
          col("p"), col("lo"), col("hi"), binWidth = w)
        .select("ptag", "itag").as[(String, String)].collect().sorted.toSeq
      assert(binned == naive, s"binWidth=$w: $binned != $naive")
    }
  }

  test("intervalOverlapJoin equals the naive overlap join, exactly once") {
    val as = Seq((-300L, -100L, "a0"), (-150L, 60L, "a1"), (0L, 1000L, "a2"),
      (500L, 501L, "a3"), (2000L, 2600L, "a4")).toDF("alo", "ahi", "atag")
    val bs = Seq((-200L, -180L, "b0"), (50L, 600L, "b1"), (999L, 2001L, "b2"),
      (-1000L, 3000L, "b3")).toDF("blo", "bhi", "btag")
    val naive = as.join(bs, col("alo") < col("bhi") && col("blo") < col("ahi"))
      .select("atag", "btag").as[(String, String)].collect().sorted.toSeq
    assert(naive.nonEmpty && naive.distinct == naive)
    for (w <- Seq(1L, 13L, 250L, 100000L)) {
      val binned = Relational.intervalOverlapJoin(as, bs,
          col("alo"), col("ahi"), col("blo"), col("bhi"), binWidth = w)
        .select("atag", "btag").as[(String, String)].collect().sorted.toSeq
      assert(binned == naive, s"binWidth=$w: $binned != $naive")
    }
  }

  test("snapshotDiff classifies insert/update/delete, drops unchanged, null-safe values") {
    val oldSnap = Seq(
      (1L, Some(10.0)),   // unchanged → dropped
      (2L, Some(20.0)),   // value changes → update
      (3L, Some(30.0)),   // gone → delete
      (4L, None),         // null → value appears → update (null-safe)
      (5L, None)          // null → null → unchanged, dropped
    ).toDF("k", "v")
    val newSnap = Seq(
      (1L, Some(10.0)), (2L, Some(25.0)), (4L, Some(40.0)), (5L, None),
      (6L, Some(60.0))  // new key → insert
    ).toDF("k", "v")
    val got = Relational.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("v"))
      .select("k", "change").as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "update", 3L -> "delete", 4L -> "update",
      6L -> "insert"))
  }

  test("funnel: strict progression, inclusive gap edge, exclusive same-instant") {
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val events = Seq(
      // u1 completes: signup@100, view@200 (within gap), click@200+300=500
      (1L, ts(100), "signup"), (1L, ts(200), "view"), (1L, ts(500), "click"),
      // u2: view at the EXACT gap edge (100+300) → included; click at the
      // SAME instant as its view → excluded (strict >)
      (2L, ts(100), "signup"), (2L, ts(400), "view"), (2L, ts(400), "click"),
      // u3: view BEFORE signup only → never progresses
      (3L, ts(100), "signup"), (3L, ts(50), "view"),
      // u4: view beyond the gap → drops at step 2
      (4L, ts(100), "signup"), (4L, ts(401), "view")
    ).toDF("user_id", "ts", "event_type")
    val got = EventOps.funnel(events, Seq("signup", "view", "click"), 300L)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("signup", 1L, 4L), ("view", 2L, 2L), ("click", 3L, 1L)))
  }

  test("joinCardinalityEstimate: exact at key resolution, upper bound under " +
      "collisions, strategy verdicts") {
    val left = (Seq.fill(90)(7L) ++ (1L to 10L)).toDF("k")
    val right = (1L to 20L).map(k => (k, s"d$k")).toDF("k", "name")
    // collision-free bucket count → the estimate IS the exact size
    val r = Relational.joinCardinalityEstimate(left, col("k"), right, col("k"),
      buckets = 1 << 20, broadcastRowLimit = 0L, skewShareBpLimit = 2000L)
      .collect().head
    assert(r.getAs[Long]("left_rows") == 100L)
    assert(r.getAs[Long]("right_rows") == 20L)
    assert(r.getAs[Long]("est_pairs") == 100L)
    assert(r.getAs[Long]("exact_pairs") == 100L)
    assert(r.getAs[Long]("err_bp") == 0L)
    // hot key 7 carries 91 of the 100 pairs → 9100 bp ≥ limit
    assert(r.getAs[Long]("skew_share_bp") == 9100L)
    assert(r.getAs[String]("strategy") == "salted_shuffle")
    // a generous row budget flips the verdict to broadcast
    val b = Relational.joinCardinalityEstimate(left, col("k"), right, col("k"),
      buckets = 1 << 20, broadcastRowLimit = 1000L).collect().head
    assert(b.getAs[String]("strategy") == "broadcast")
    // ONE bucket = the coarsest histogram: est degrades to |L|·|R|, still
    // an upper bound, and the overshoot is reported honestly
    val c = Relational.joinCardinalityEstimate(left, col("k"), right, col("k"),
      buckets = 1, broadcastRowLimit = 0L, skewShareBpLimit = 99999L)
      .collect().head
    assert(c.getAs[Long]("est_pairs") == 2000L)
    assert(c.getAs[Long]("exact_pairs") == 100L)
    assert(c.getAs[Long]("err_bp") == 190000L)
    assert(c.getAs[String]("strategy") == "shuffle")
    // disjoint key sets: exact 0 → err undefined (NULL), not a crash
    val d = Relational.joinCardinalityEstimate(
      Seq(100L, 101L).toDF("k"), col("k"), right, col("k"),
      buckets = 1 << 20, broadcastRowLimit = 0L).collect().head
    assert(d.getAs[Long]("exact_pairs") == 0L)
    assert(d.isNullAt(d.fieldIndex("err_bp")))
    assert(d.getAs[String]("strategy") == "shuffle")
  }

  test("sequenceMatch: guard segments, inclusive bound, nearest-then") {
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val events = Seq(
      // u1: signup@100 → purchase@200 (gap 100); error@300 splits;
      //     signup@400 → purchase@700 at the EXACT bound (400+300)
      (1L, 1L, ts(100), "signup"), (1L, 2L, ts(200), "purchase"),
      (1L, 3L, ts(300), "error"),
      (1L, 4L, ts(400), "signup"), (1L, 5L, ts(700), "purchase"),
      // u2: error strictly between → rejected despite being in-bound
      (2L, 6L, ts(100), "signup"), (2L, 7L, ts(150), "error"),
      (2L, 8L, ts(200), "purchase"),
      // u3: purchase beyond the bound → rejected
      (3L, 9L, ts(100), "signup"), (3L, 10L, ts(500), "purchase"),
      // u4: two signups share the same NEXT purchase — both match
      (4L, 11L, ts(100), "signup"), (4L, 12L, ts(150), "signup"),
      (4L, 13L, ts(250), "purchase"),
      // u5: same-second guard ordered before the purchase by event_id
      //     still splits the segment → rejected
      (5L, 14L, ts(100), "signup"), (5L, 15L, ts(200), "error"),
      (5L, 16L, ts(200), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = EventOps.sequenceMatch(events, "signup", "purchase", "error", 300L)
      .select("user_id", "first_event_id", "first_sec", "then_sec", "gap_sec")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 100L, 200L, 100L),
      (1L, 4L, 400L, 700L, 300L),
      (4L, 11L, 100L, 250L, 150L),
      (4L, 12L, 150L, 250L, 100L)))
    intercept[IllegalArgumentException] {
      EventOps.sequenceMatch(events, "signup", "purchase", "error", -1L)
    }
  }

  test("attributionLastTouch: latest in-window touch wins, bound is " +
      "inclusive, no-touch and stale go direct, same-second by event_id") {
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val wk = 604800L
    val events = Seq(
      // u1: click then view → view (latest marketing wins)
      (1L, 1L, ts(10), "click", 0.0), (1L, 2L, ts(20), "view", 0.0),
      (1L, 3L, ts(25), "purchase", 19.99),
      // u2: EXACTLY at the window bound → still credited
      (2L, 4L, ts(10), "click", 0.0),
      (2L, 5L, ts(10 + wk), "purchase", 5.0),
      // u3: one second past the bound → direct
      (3L, 6L, ts(10), "click", 0.0),
      (3L, 7L, ts(11 + wk), "purchase", 5.0),
      // u4: no touch at all → direct
      (4L, 8L, ts(5), "purchase", 2.5),
      // u5: same-second view with SMALLER event_id precedes → credited
      (5L, 50L, ts(30), "view", 0.0), (5L, 51L, ts(30), "purchase", 1.0),
      // u6: same-second view with LARGER event_id follows → direct
      (6L, 60L, ts(30), "purchase", 1.0), (6L, 61L, ts(30), "view", 0.0),
      // u7: a non-marketing event between touch and purchase does not
      //     reset the carry; ts and type come from the same (view) row
      (7L, 70L, ts(10), "click", 0.0), (7L, 71L, ts(15), "view", 0.0),
      (7L, 72L, ts(18), "error", 0.0), (7L, 73L, ts(20), "purchase", 3.0)
    ).toDF("user_id", "event_id", "ts", "event_type", "value")
    val got = EventOps.attributionLastTouch(events)
      .select(col("user_id"), col("event_id"), col("value_c"), col("channel"))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 3L, 1999L, "view"), (2L, 5L, 500L, "click"),
      (3L, 7L, 500L, "direct"), (4L, 8L, 250L, "direct"),
      (5L, 51L, 100L, "view"), (6L, 60L, 100L, "direct"),
      (7L, 73L, 300L, "view")))
    intercept[IllegalArgumentException] {
      EventOps.attributionLastTouch(events, convType = "click")
    }
    // gap_sec: credited conversions carry touch→conversion seconds
    // (u1 view@20 → purchase@25; u2 exactly the window), direct rows null
    val gaps = EventOps.attributionLastTouch(events)
      .select(col("event_id"), col("gap_sec"))
      .as[(Long, Option[Long])].collect().toMap
    assert(gaps(3L).contains(5L))
    assert(gaps(5L).contains(wk))
    assert(gaps(7L).isEmpty && gaps(8L).isEmpty)
  }

  test("associationRules: confidence and lift exact in bp, directed both " +
      "ways, thresholds prune, partition-invariant") {
    // baskets: B1{1,2} B2{1,2} B3{1,3} B4{2} → N=4; freq 1→3, 2→3, 3→1
    // pairs: (1,2)=2, (1,3)=1
    // 1→2: conf 2/3 = 6666bp, lift (2·4)/(3·3) = 8888bp (10⁴·8/9)
    // 2→1: same by symmetry of s and freqs
    // 1→3: conf 1/3 = 3333bp, lift 4/3 = 13333bp
    // 3→1: conf 1/1 = 10000bp, lift 4/3 = 13333bp
    val df = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L),
      (3L, 3L), (4L, 2L)).toDF("bk", "it")
    def run(d: org.apache.spark.sql.DataFrame, minSup: Long, minConf: Long) =
      Relational.associationRules(d, "bk", "it", minSup, minConf)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val want = Set(
      (1L, 2L, 2L, 6666L, 8888L), (2L, 1L, 2L, 6666L, 8888L),
      (1L, 3L, 1L, 3333L, 13333L), (3L, 1L, 1L, 10000L, 13333L))
    assert(run(df, 1L, 0L) == want)
    assert(run(df.repartition(5), 1L, 0L) == want)
    // minSupport=2 keeps only the (1,2) rules; minConf=7000 keeps 3→1
    assert(run(df, 2L, 0L) ==
      Set((1L, 2L, 2L, 6666L, 8888L), (2L, 1L, 2L, 6666L, 8888L)))
    assert(run(df, 1L, 7000L) == Set((3L, 1L, 1L, 10000L, 13333L)))
    intercept[IllegalArgumentException] {
      Relational.associationRules(df, "bk", "it", minConfBp = 10001L)
    }
  }

  test("itemRecommendations: exact cos2 scores, k-bounded, symmetric, " +
      "minSupport prunes, partition-invariant") {
    // baskets: B1{1,2,3} B2{1,2} B3{1,3} B4{2,4}
    // freq: 1→3 2→3 3→2 4→1; support: (1,2)=2 (1,3)=2 (2,3)=1 (2,4)=1
    // cos²·10⁸: (1,2) 4e8/9 = 44444444; (1,3) 4e8/6 = 66666666;
    //           (2,3) 1e8/6 = 16666666; (2,4) 1e8/3 = 33333333
    val df = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 3L), (4L, 2L), (4L, 4L)).toDF("bk", "it")
    def run(d: org.apache.spark.sql.DataFrame, minSup: Long) =
      Relational.itemRecommendations(d, "bk", "it", k = 2, minSupport = minSup)
        .as[(Long, Long, Long, Long)].collect().toSet
    val want = Set(
      (1L, 1L, 3L, 66666666L), (1L, 2L, 2L, 44444444L),
      (2L, 1L, 1L, 44444444L), (2L, 2L, 4L, 33333333L),
      (3L, 1L, 1L, 66666666L), (3L, 2L, 2L, 16666666L),
      (4L, 1L, 2L, 33333333L))
    assert(run(df, 1L) == want)
    assert(run(df.repartition(7), 1L) == want, "partitioning moved a rec")
    // minSupport=2 keeps only the support-2 edges
    assert(run(df, 2L) == Set(
      (1L, 1L, 3L, 66666666L), (1L, 2L, 2L, 44444444L),
      (2L, 1L, 1L, 44444444L), (3L, 1L, 1L, 66666666L)))
    intercept[IllegalArgumentException] {
      Relational.itemRecommendations(df, "bk", "it", minSupport = 0L)
    }
  }

  test("paretoFrontier2D: incremental fold ≡ full rebuild (frontier is an " +
      "online-maintainable view)") {
    // pseudo-random 2-D points in 2 groups, folded in 3 batches
    val pts = (1L to 300L).map(i =>
      (s"g${i % 2}", (i * 37) % 50, (i * 61) % 50, i))
    val df = pts.toDF("grp", "x", "y", "id")
    val full = Relational.paretoFrontier2D(df, "x", "y", Seq("grp"))
      .as[(String, Long, Long, Long)].collect().toSet
    val batches = (0 to 2).map(i => df.filter(col("id") % 3 === i))
    val folded = batches.tail.foldLeft(
        Relational.paretoFrontier2D(batches.head, "x", "y", Seq("grp"))) {
        (st, b) => Relational.paretoFrontier2D(st.unionByName(b),
          "x", "y", Seq("grp"))
      }.as[(String, Long, Long, Long)].collect().toSet
    assert(folded == full)
  }

  test("weightedPercentilesBy: crossing row exact, zero weights never " +
      "cross, duplicate values merge, partition-invariant, negatives raise") {
    // group a: (v, w) = (1,2), (2,1)+(2,2) [same value from two rows],
    // (25,0) [zero weight], (30,5). W = 10; cum = 2, 5, 5, 10.
    //   p1   thr=1  → v=1      p50 thr=5  → v=2 (cum 5 ≥ 5, prev 2 < 5;
    //   the zero-weight 25 has cum−wc = 5, NOT < 5 — can't cross)
    //   p75  thr=8  → v=30     p100 thr=10 → v=30
    // group b single row sanity.
    val df = Seq(("a", 1L, 2L), ("a", 2L, 1L), ("a", 2L, 2L),
      ("a", 25L, 0L), ("a", 30L, 5L), ("b", 7L, 3L))
      .toDF("g", "v", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      Relational.weightedPercentilesBy(d, Seq("g"), col("v"), col("w"),
        Seq(1L, 5000L, 7500L, 10000L))
        .as[(String, Long, Long)].collect().toSeq
    val want = Seq(("a", 1L, 1L), ("a", 5000L, 2L), ("a", 7500L, 30L),
      ("a", 10000L, 30L), ("b", 1L, 7L), ("b", 5000L, 7L),
      ("b", 7500L, 7L), ("b", 10000L, 7L))
    assert(run(df) == want)
    assert(run(df.repartition(5)) == want, "partitioning moved a quantile")
    intercept[Exception] {
      Relational.weightedPercentilesBy(
        Seq(("a", 1L, -1L)).toDF("g", "v", "w"),
        Seq("g"), col("v"), col("w"), Seq(5000L)).collect()
    }
    intercept[IllegalArgumentException] {
      Relational.weightedPercentilesBy(df, Seq("g"), col("v"), col("w"),
        Seq(0L))
    }
  }

  test("paretoFrontier2D: dominance with ties and duplicates, grouped, " +
      "partition-invariant, and the plan is join-free with one shuffle") {
    // group g: frontier staircase (1,9),(3,5),(5,2). (3,9) is dominated
    // by (1,9) (smaller x, equal y); (4,5) by (3,5) (same y, smaller x);
    // (5,2) appears TWICE — exact duplicates dominate neither, BOTH stay;
    // (6,2) is dominated by those duplicates. group h is independent.
    val rows = Seq(
      ("g", 1L, 9L, 1L), ("g", 3L, 5L, 2L), ("g", 5L, 2L, 3L),
      ("g", 3L, 9L, 4L), ("g", 4L, 5L, 5L),
      ("g", 5L, 2L, 6L), ("g", 6L, 2L, 7L),
      ("h", 9L, 9L, 8L) // lone row is always on its group's frontier
    ).toDF("grp", "x", "y", "id")
    val want = Set(("g", 1L, 9L, 1L), ("g", 3L, 5L, 2L), ("g", 5L, 2L, 3L),
      ("g", 5L, 2L, 6L), ("h", 9L, 9L, 8L))
    def run(d: org.apache.spark.sql.DataFrame) =
      Relational.paretoFrontier2D(d, "x", "y", Seq("grp"))
        .select(col("grp"), col("x"), col("y"), col("id"))
        .as[(String, Long, Long, Long)].collect().toSet
    assert(run(rows) == want)
    assert(run(rows.repartition(7)) == want, "partitioning moved the frontier")
    // ungrouped: global frontier over both groups
    assert(Relational.paretoFrontier2D(rows, "x", "y").select(col("id"))
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 6L))
    // scale contract: no join anywhere, exactly one (group-hash) exchange
    // (descend through the AQE wrapper — collect() does not)
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          shuffles(a.executedPlan)
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
        case _ => 0
      }.sum
    val plan = Relational.paretoFrontier2D(rows, "x", "y", Seq("grp"))
      .queryExecution.executedPlan
    assert(plan.toString.indexOf("Join") < 0, "skyline must be join-free")
    assert(shuffles(plan) == 1, "expected exactly one shuffle")
    // null dims raise instead of silently dropping
    val withNull = Seq(("g", Some(1L), 2L)).toDF("grp", "x", "y")
      .union(Seq(("g", None: Option[Long], 3L)).toDF("grp", "x", "y"))
    intercept[Exception] {
      Relational.paretoFrontier2D(withNull, "x", "y", Seq("grp")).collect()
    }
  }

  test("attributionLinear: equal split exact with remainder to latest, " +
      "no-touch direct, bound inclusive, same-second by event_id") {
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val wk = 604800L
    val events = Seq(
      // u1: 1003c over 2 touches → 501 each, +1 remainder to the LATEST
      (1L, 1L, ts(10), "click", 0.0), (1L, 2L, ts(20), "view", 0.0),
      (1L, 3L, ts(25), "purchase", 10.03),
      // u2: no touch → one direct row, full value
      (2L, 4L, ts(5), "purchase", 2.5),
      // u3: touch AT the bound is in, one second before it is out → n=1
      (3L, 5L, ts(9), "click", 0.0), (3L, 6L, ts(10), "view", 0.0),
      (3L, 7L, ts(10 + wk), "purchase", 1.0),
      // u4: 100c over 3 touches → 33+33+34, remainder to the latest
      (4L, 8L, ts(1), "click", 0.0), (4L, 9L, ts(2), "click", 0.0),
      (4L, 10L, ts(3), "view", 0.0), (4L, 11L, ts(4), "purchase", 1.0),
      // u5: same-second touch with larger event_id does NOT qualify
      (5L, 20L, ts(30), "purchase", 1.0), (5L, 21L, ts(30), "view", 0.0)
    ).toDF("user_id", "event_id", "ts", "event_type", "value")
    val got = EventOps.attributionLinear(events)
      .select(col("conv_id"), col("channel"),
        coalesce(col("mk_id"), lit(-1L)), col("credit_c"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == Set(
      (3L, "click", 1L, 501L), (3L, "view", 2L, 502L),
      (4L, "direct", -1L, 250L),
      (7L, "view", 6L, 100L),
      (11L, "click", 8L, 33L), (11L, "click", 9L, 33L),
      (11L, "view", 10L, 34L),
      (20L, "direct", -1L, 100L)))
    // per-conversion credits sum exactly to the conversion value
    val sums = EventOps.attributionLinear(events).groupBy(col("conv_id"))
      .agg(sum(col("credit_c")).as("s"), first(col("value_c")).as("v"))
      .filter(col("s") =!= col("v")).count()
    assert(sums == 0L, "credit split lost cents")
  }

  test("outlierFlags: integer cross-multiplication matches the float definition") {
    // group g: values 0,0,0,0,100 (cents) — mean 20, pop-σ = 40; at 1.5σ
    // (threshold 60) only the 100 is beyond. group h: uniform, none flagged
    // at 1.8σ… use k10=15 throughout and verify each flag against a float
    // reference computed the textbook way.
    val df = Seq(("g", 0L), ("g", 0L), ("g", 0L), ("g", 0L), ("g", 100L),
      ("h", 10L), ("h", 20L), ("h", 30L)).toDF("grp", "c")
    val got = Relational.outlierFlags(df, Seq("grp"), col("c"), k10 = 15)
      .select(col("grp"), col("c").cast("long"), col("is_outlier"))
      .as[(String, Long, Boolean)].collect().toSet
    def ref(vals: Seq[Long], x: Long): Boolean = {
      val n = vals.size.toDouble
      val mu = vals.sum / n
      val sigma = math.sqrt(vals.map(v => (v - mu) * (v - mu)).sum / n)
      math.abs(x - mu) > 1.5 * sigma
    }
    val g = Seq(0L, 0L, 0L, 0L, 100L); val h = Seq(10L, 20L, 30L)
    val expect = g.map(x => ("g", x, ref(g, x))).toSet ++
      h.map(x => ("h", x, ref(h, x))).toSet
    assert(got == expect)
    assert(got.count(_._3) == 1) // exactly the planted 100
  }

  test("commonSpanPairs finds verbatim n-token overlaps and caps boilerplate spans") {
    val quote = "to be or not to be that is"        // 8 tokens, shared verbatim
    val boiler = "all rights reserved license text body goes here now" // 9 tokens, in EVERY doc
    val docs = Seq(
      (1L, s"alpha beta $quote gamma delta $boiler"),
      (2L, s"completely different words precede $quote and follow after $boiler"),
      (3L, s"nothing in common with others at all whatsoever $boiler"),
      (4L, s"another unrelated document full of its own content $boiler")
    ).toDF("doc_id", "text")
    // maxDf=3 excludes the boilerplate span (df=4); the quote (df=2) stays
    val got = Dedup.commonSpanPairs(docs, 8, maxDf = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("twapCents: LOCF integral, burst under-weighting vs AVG, zero-span " +
      "and single-event users excluded") {
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val events = Seq(
      // u1: 1.00 held 100 s, then 3.00 held 900 s (last event bounds the
      // span) → (100·100 + 300·900) div 1000 = 280 cents — a plain AVG
      // of the three samples would say 233
      (1L, 10L, ts(0), "view", 1.0),
      (1L, 11L, ts(100), "view", 3.0),
      (1L, 12L, ts(1000), "view", 5.0),
      // u2: a 2-second burst of 9.00s, then 1.00 held 998 s
      // → (900·1 + 900·1 + 100·998) div 1000 = 101 — a plain AVG of the
      // four samples would say 500
      (2L, 20L, ts(0), "view", 9.0),
      (2L, 21L, ts(1), "view", 9.0),
      (2L, 22L, ts(2), "view", 1.0),
      (2L, 23L, ts(1000), "view", 1.0),
      // u3: single event — no interval, excluded
      (3L, 30L, ts(50), "view", 4.0),
      // u4: two events in the SAME second — zero span, excluded
      (4L, 40L, ts(70), "view", 2.0),
      (4L, 41L, ts(70), "view", 8.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val got = EventOps.twapCents(events)
      .as[(Long, Long, Long)].collect()
      .map { case (u, t, s) => u -> ((t, s)) }.toMap
    assert(got == Map(1L -> ((280L, 1000L)), 2L -> ((101L, 1000L))))
  }

  test("funnelSessions: conversion only counts inside one session") {
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val events = Seq(
      // u1: signup and view in the SAME session (gap 100 ≤ 300)
      (1L, ts(1000), 1L, "signup"), (1L, ts(1100), 2L, "view"),
      // u2: view lands in a NEW session (gap 1000 > 300) → no conversion
      (2L, ts(1000), 3L, "signup"), (2L, ts(2000), 4L, "view"),
      // u3: second signup opens a second session, converts there too
      (3L, ts(1000), 5L, "signup"), (3L, ts(1050), 6L, "view"),
      (3L, ts(9000), 7L, "signup"), (3L, ts(9100), 8L, "view")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = EventOps.funnelSessions(events, Seq("signup", "view"), 300L)
      .as[(String, Long, Long)].collect().toSeq
    // sessions with a signup: u1×1, u2×1, u3×2 = 4; converting: u1, u3×2 = 3
    assert(got == Seq(("signup", 1L, 4L), ("view", 2L, 3L)))
  }

  test("outlierFlagsMad matches the float MAD rule and resists masking") {
    // group A: one huge outlier inflates σ enough that the z-score at
    // 1.5σ misses the second, smaller outlier — MAD flags both
    val vals = (0 until 40).map(i => 95L + i % 11) ++
      Seq(98L, 102L, 103L, 500L, 100000L)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, "A", v) }
      .toDF("id", "g", "cents")
    val mad = Relational.outlierFlagsMad(df, Seq("g"), col("cents"), k10 = 30)
      .select("id", "is_outlier").as[(Long, Boolean)].collect().toMap
    val z = Relational.outlierFlags(df, Seq("g"), col("cents"), k10 = 15)
      .select("id", "is_outlier").as[(Long, Boolean)].collect().toMap
    val i500 = vals.indexOf(500L).toLong
    val iHuge = vals.indexOf(100000L).toLong
    assert(mad(i500) && mad(iHuge), "MAD must flag both outliers")
    assert(z(iHuge) && !z(i500), "z-score is masked by the huge outlier")
    // brute-force check of the exact rule: median=100, deviations sorted →
    // MAD via nearest-rank; every flag must equal 10·|x−med| > 30·MAD
    val med = vals.sorted.apply(math.floor(0.5 * (vals.size - 1)).toInt)
    val devs = vals.map(v => math.abs(v - med)).sorted
    val madV = devs(math.floor(0.5 * (devs.size - 1)).toInt)
    vals.zipWithIndex.foreach { case (v, i) =>
      assert(mad(i.toLong) == (math.abs(v - med) * 10 > madV * 30), s"id=$i")
    }
  }

  test("bloomPrunedJoin equals the plain join and actually prunes pre-join") {
    val fact = (1L to 2000L).map(i => (i % 400, s"f$i")).toDF("k", "payload")
    val dim = (0L to 399L by 20).map(k => (k, s"d$k")).toDF("k", "name") // 5%
    val plain = fact.join(dim, Seq("k"))
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    val pruned = Relational.bloomPrunedJoin(fact, dim, "k")
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    assert(pruned == plain && plain.nonEmpty)
    // the filter ALONE must discard most fact rows pre-join: 20 of 400
    // keys are in the dim side → 100 true matches of 2000 rows; fpp at
    // these sizes is ~1e-4, so false positives should add ~0
    val survivors = fact.filter(Relational.bloomMightContain(dim, "k")).count()
    assert(survivors >= 100 && survivors <= 140, s"survivors=$survivors")
    // no false NEGATIVES ever: every true match survives the filter
    assert(survivors >= plain.size)
  }

  test("firstPerKey keeps the deterministic survivor") {
    val df = Seq((1L, "b", 10), (1L, "a", 20), (2L, "c", 5))
      .toDF("id", "tag", "v")
    val out = Relational.firstPerKey(df, Seq("id"), Seq(col("tag").asc))
      .select("id", "tag").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (2L, "c")))
  }

  test("equiDepthHistogram matches the rank formula incl. boundary-straddling ties") {
    // n=10, k=4 → bucket rank ranges [1,3] [4,5] [6,8] [9,10]; the five
    // copies of 2.0 (ranks 2..6) straddle THREE buckets
    val df = (Seq(1.0) ++ Seq.fill(5)(2.0) ++ Seq(3.0, 3.0, 4.0, 5.0))
      .toDF("v")
    val out = Relational.equiDepthHistogram(df, col("v"), 4)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 3L, 1.0, 2.0),   // ranks 1-3: 1.0, 2.0, 2.0
      (1L, 2L, 2.0, 2.0),   // ranks 4-5: 2.0, 2.0
      (2L, 3L, 2.0, 3.0),   // ranks 6-8: 2.0, 3.0, 3.0
      (3L, 2L, 4.0, 5.0)))  // ranks 9-10
    // sizes always sum to n, for an n not divisible by k too
    val df2 = (1 to 11).map(_.toDouble).toDF("v")
    val sizes = Relational.equiDepthHistogram(df2, col("v"), 4)
      .select("n_rows").as[Long].collect().toSeq
    assert(sizes.sum == 11L && sizes.forall(s => s == 2L || s == 3L))
  }

  test("gapFillHourly carries values across gaps and flags them") {
    import java.sql.Timestamp
    // epoch-built timestamps: hour math independent of the JVM timezone
    val base = 1704067200L // 2024-01-01T00:00:00Z, a multiple of 3600
    def ts(h: Int, m: Int) = new Timestamp((base + h * 3600L + m * 60L) * 1000)
    // user 1: hours 0 (two events), 3; hours 1-2 are gaps carrying 3.50
    val ev = Seq((1L, ts(0, 10), 1.25), (1L, ts(0, 40), 2.25),
        (1L, ts(3, 5), 9.0), (2L, ts(5, 0), 4.0))
      .toDF("user_id", "ts", "value")
    val out = EventOps.gapFillHourly(ev)
      .select(col("user_id"), col("hour_ts"), col("filled_value"), col("is_gap"))
      .as[(Long, Long, Double, Boolean)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      (1L, base, 3.5, false),
      (1L, base + 3600, 3.5, true),
      (1L, base + 7200, 3.5, true),
      (1L, base + 10800, 9.0, false),
      (2L, base + 18000, 4.0, false)))
  }

  test("decayedCounts: exact power-of-two day weights") {
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // type a: 2 events newest day (10000 each) + 1 event 2 days old (2500)
    val ev = Seq(("a", ts(3)), ("a", ts(3)), ("a", ts(1)), ("b", ts(2)))
      .toDF("event_type", "ts")
    val m = EventOps.decayedCounts(ev)
      .select("event_type", "decayed_bp", "n_events")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // reference day is the GLOBAL max day, so b's single event ages 1 day
    assert(m == Map("a" -> ((22500L, 3L)), "b" -> ((5000L, 1L))))
  }

  test("basketPairs: canonical pairs, support counts, duplicate lines collapse") {
    val df = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),      // basket 1: 3 items → 3 pairs
      (2L, 20L), (2L, 10L), (2L, 10L),      // basket 2: dup line collapses
      (3L, 40L))                            // singleton: no pairs
      .toDF("o", "p")
    val got = Relational.basketPairs(df, "o", "p")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((10L, 20L, 2L), (10L, 30L, 1L), (20L, 30L, 1L)))
  }

  test("basketPairs equals a naive driver-side pair count — duplicate " +
      "lines, a NULL basket, NULL items, empty input and a 300-item basket") {
    val rnd = new scala.util.Random(1307)
    val hot = (0 until 300).map(i => (Option(1000L), Option(i.toLong)))
    val base = Seq.fill(600)((Option(rnd.nextInt(80).toLong), Option(rnd.nextInt(500).toLong)))
    val lines = rnd.shuffle(base ++ base.take(100) ++
      Seq.fill(30)((Option.empty[Long], Option(rnd.nextInt(40).toLong))) ++
      Seq.fill(30)((Option(rnd.nextInt(80).toLong), Option.empty[Long])) ++ hot)
    def naive(ls: Seq[(Option[Long], Option[Long])]): Set[(Long, Long, Long)] =
      ls.groupBy(_._1).values.toSeq.flatMap { basket =>
        val items = basket.flatMap(_._2).distinct.sorted
        for (i <- items.indices; j <- i + 1 until items.size) yield (items(i), items(j))
      }.groupBy(identity).map { case ((a, b), n) => (a, b, n.size.toLong) }.toSet
    def pairs(ls: Seq[(Option[Long], Option[Long])]) =
      Relational.basketPairs(ls.toDF("o", "p"), "o", "p")
        .as[(Long, Long, Long)].collect()
    val want = naive(lines)
    val got = pairs(lines)
    assert(got.length == want.size && got.toSet == want)
    assert(want.exists(_._3 > 1) && want.size > 44850)
    val hotPairs = pairs(hot)
    assert(hotPairs.length == 44850 && hotPairs.forall(p => p._1 < p._2 && p._3 == 1L))
    assert(pairs(Seq.empty).isEmpty)
  }

  test("basketPairs: the basket stage runs at the shuffle parallelism, not " +
      "the one task AQE would coalesce a few-KB grouping shuffle to") {
    val parts = spark.sessionState.conf.numShufflePartitions
    assume(parts > 1)
    // one input split, so only the fanned basket stage can reach `parts` tasks
    val df = spark.range(0, 2000, 1, 1)
      .select((col("id") / 5).cast("long").as("o"), (col("id") % 97).as("p"))
    val (n, jobs) = jobsDuring(Relational.basketPairs(df, "o", "p").count())
    assert(n > 0)
    val tasks = jobs.flatMap(_.stageInfos).map(s => s.stageId -> s.numTasks).toMap
    assert(tasks.values.toSet == Set(1, parts), s"tasks per stage: $tasks")
  }

  test("basket edge index: append-then-read ≡ full rebuild") {
    // 9 baskets across 3 ingest batches (whole baskets per batch — the
    // documented contract); overlapping pairs across batches so the
    // consolidating sum is load-bearing: (10,20) appears in all 3 batches.
    val rows = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L),
      (3L, 40L),
      (4L, 10L), (4L, 20L), (4L, 40L),
      (5L, 20L), (5L, 30L),
      (6L, 50L),
      (7L, 10L), (7L, 20L),
      (8L, 30L), (8L, 40L), (8L, 50L),
      (9L, 10L))
    val all = rows.toDF("o", "p")
    def batch(m: Long) = rows.filter(_._1 % 3 == m).toDF("o", "p")
    val dir = tmpDir("basket-edges")
    Relational.writeBasketEdges(batch(0), dir, "o", "p")
    Relational.appendToBasketEdges(batch(1), dir, "o", "p")
    Relational.appendToBasketEdges(batch(2), dir, "o", "p")
    val want = Relational.basketPairs(all, "o", "p")
      .as[(Long, Long, Long)].collect().toSet
    val got = Relational.readBasketEdges(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    // appends leave per-batch partial rows; the read folds them per pair
    assert(spark.read.parquet(dir).count() > want.size)
  }

  test("abLift: hand 2x2 contingency, bp rates, and chi-square") {
    import java.sql.Timestamp
    val t0 = new Timestamp(0L)
    // arm0 (even users): 0 converts, 2 converts; arm1 (odd): 1 and 3 don't
    val ev = Seq(
      (0L, "purchase"), (0L, "click"), (2L, "purchase"),
      (1L, "click"), (3L, "view"))
      .map { case (u, t) => (u, t, t0) }.toDF("user_id", "event_type", "ts")
    val r = EventOps.abLift(ev, "purchase").collect().head
    // a=2 b=0 c=0 d=2 n=4: chi2 = 4·(4−0)² / (2·2·2·2) = 4.0
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)   // n0, c0
    assert(r.getLong(2) == 2L && r.getLong(3) == 0L)   // n1, c1
    assert(r.getLong(4) == 10000L && r.getLong(5) == 0L)
    assert(r.getLong(6) == 10000L)                     // lift_bp
    assert(r.getDouble(7) == 4.0)
    // degenerate: nobody converts → chi2 NULL, lift 0
    val none = EventOps.abLift(ev.filter($"event_type" =!= "purchase"),
      "purchase").collect().head
    assert(none.isNullAt(7) && none.getLong(6) == 0L)
  }

  test("abCuped: hand-computed theta and adjusted lift; zero-variance null") {
    import java.sql.Timestamp
    val pre = Timestamp.valueOf("2024-01-10 00:00:00")
    val post = Timestamp.valueOf("2024-01-20 00:00:00")
    // (user, pre-cents, post-cents): arm0 = {u0: (100,300), u2: (200,500)},
    // arm1 = {u1: (100,200), u3: (300,500)}
    val ev = Seq(
      (0L, "purchase", pre, 1.00), (0L, "purchase", post, 3.00),
      (2L, "purchase", pre, 2.00), (2L, "purchase", post, 5.00),
      (1L, "purchase", pre, 1.00), (1L, "purchase", post, 2.00),
      (3L, "purchase", pre, 3.00), (3L, "purchase", post, 5.00),
      (0L, "click", pre, 99.0) // non-conversion events are ignored
    ).toDF("user_id", "event_type", "ts", "value")
    val r = EventOps.abCuped(ev, "purchase", "2024-01-16 00:00:00")
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)       // n0, n1
    assert(r.getLong(2) == 300L && r.getLong(3) == 400L)   // sum_x0/1
    assert(r.getLong(4) == 800L && r.getLong(5) == 700L)   // sum_y0/1
    // theta = (4·300000 − 700·1500)/(4·150000 − 700²) = 150000/110000
    val theta = r.getDouble(6)
    assert(math.abs(theta - 1.363636) < 1e-9, s"theta=$theta")
    assert(math.abs(r.getDouble(7) - 50.0) < 1e-9)         // raw lift
    // adj = 50 − θ·(150 − 200) = 50 + 50·θ
    assert(math.abs(r.getDouble(8) - (50.0 + 50.0 * theta)) < 1e-6)
    // all users identical pre-period → var(x)=0 → theta and adj NULL
    val flat = EventOps.abCuped(
      ev.withColumn("value", when(col("ts") === pre, 1.0)
        .otherwise(col("value"))), "purchase", "2024-01-16 00:00:00")
      .collect().head
    assert(flat.isNullAt(6) && flat.isNullAt(8) &&
      math.abs(flat.getDouble(7) - 50.0) < 1e-9)
  }

  test("abCupedBy: each segment row equals abCuped on that segment alone") {
    val ev = graft.tables.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val seg = expr("(user_id div 2) % 3").cast("long")
    val by = EventOps.abCupedBy(ev, "purchase", "2024-01-16 00:00:00", seg)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(by.keySet == Set(0L, 1L, 2L))
    for (s <- by.keys) {
      val solo = EventOps.abCuped(ev.filter(seg === s),
        "purchase", "2024-01-16 00:00:00").collect().head.toSeq
      assert(by(s) == solo, s"segment $s diverges from the solo run")
    }
  }

  test("abPower: hand-computed mde and required n; zero-delta null") {
    // arm0 (even users): y = 300, 100; arm1 (odd): y = 200, 400.
    // pooled s2 = ((300-200)^2+(100-200)^2 + (200-300)^2+(400-300)^2)/2
    //           = 20000;  delta = 200 - 300 = -100
    val ev = Seq((0L, 3.00), (2L, 1.00), (1L, 2.00), (3L, 4.00))
      .toDF("user_id", "value").withColumn("event_type", lit("purchase"))
    val r = EventOps.abPower(ev, "purchase").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 200.0 && r.getDouble(3) == 300.0)
    assert(r.getDouble(4) == -100.0)
    assert(r.getDouble(5) == 20000.0)
    val z = 2.801585
    assert(math.abs(r.getDouble(6) - z * math.sqrt(20000.0)) < 1e-6)
    assert(r.getLong(7) ==
      math.ceil(2.0 * 20000.0 * (z * z) / (100.0 * 100.0)).toLong)
    // both arms identical means → delta 0 → no finite required n
    val flat = EventOps.abPower(
      ev.withColumn("value", lit(2.0)), "purchase").collect().head
    assert(flat.getDouble(4) == 0.0 && flat.isNullAt(7))
  }

  test("abSequential: hand-computed mSPRT log-lambda; zero-variance null") {
    val ev = Seq((0L, 3.00), (2L, 1.00), (1L, 2.00), (3L, 4.00))
      .toDF("user_id", "value").withColumn("event_type", lit("purchase"))
    val r = EventOps.abSequential(ev, "purchase", tauSq = 10000.0)
      .collect().head
    // V = s2·(1/2+1/2) = 20000; ratio = 2/3 (6dp 0.666667);
    // llr = 0.5·ln(0.666667) + (-100)²·10⁴/(2·20000·30000)
    val llr = math.floor((0.5 * math.log(0.666667)
      + 100.0 * 100.0 * 10000.0 / (2.0 * 20000.0 * 30000.0)) * 1e6 + 0.5) / 1e6
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == -100.0)
    assert(r.getDouble(3) == 20000.0)
    assert(math.abs(r.getDouble(4) - llr) < 1e-9, s"llr=${r.getDouble(4)}")
    // llr < 0 here → evidence favors the null → p clamps to 1
    assert(r.getDouble(5) == 1.0)
    // zero variance → V = 0 → NULL readout (delta still reported)
    val flat = EventOps.abSequential(
      ev.withColumn("value", lit(2.0)), "purchase").collect().head
    assert(flat.isNullAt(3) && flat.isNullAt(4) && flat.isNullAt(5))
    // negative prior scale is a caller bug, not a NULL
    intercept[IllegalArgumentException] {
      EventOps.abSequential(ev, "purchase", tauSq = -1.0)
    }
  }

  test("bootstrapLifts: b-stable replicate series; CI = nearest-rank picks") {
    val ev = graft.tables.Tables.load(spark, "/root/testdata/sf0.001",
      "events")
    def lifts(b: Int) = EventOps.bootstrapLifts(ev, "purchase", b)
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    val l8 = lifts(8)
    val l16 = lifts(16)
    // replicate r's weights never depend on how many replicates exist:
    // growing b EXTENDS the series, the shared prefix is bit-identical
    assert(l8 == l16.filter(_._1 < 8) && l16.size == 16)
    // deterministic "randomness": a re-run reproduces every lift
    assert(lifts(8) == l8)
    // CI picks are exactly the repo's nearest-rank convention over the
    // sorted replicate lifts
    val all = EventOps.bootstrapLifts(ev, "purchase", 32)
      .collect().flatMap(r => Option(r.get(1)).map(_.asInstanceOf[Double]))
      .sorted
    def rank(q: Double) = all(math.floor(q * (all.length - 1)).toInt)
    val ci = EventOps.abBootstrapCI(ev, "purchase", 32).collect().head
    assert(ci.getLong(0) == all.length)
    assert(ci.getDouble(1) == rank(0.025))
    assert(ci.getDouble(2) == rank(0.5))
    assert(ci.getDouble(3) == rank(0.975))
    assert(ci.getDouble(1) <= ci.getDouble(2) &&
      ci.getDouble(2) <= ci.getDouble(3))
  }

  test("abSrm: exact chi2 on arm counts, flag at the 95% critical value") {
    def ev(users: Seq[Long]) = users.map(u => (u, "click"))
      .toDF("user_id", "event_type")
    // 3 even vs 2 odd: chi2 = (3-2)^2/5 = 0.2 — balanced enough
    val ok = EventOps.abSrm(ev(Seq(0L, 2L, 4L, 1L, 3L))).collect().head
    assert(ok.getLong(0) == 3L && ok.getLong(1) == 2L)
    assert(ok.getLong(2) == 6000L)
    assert(ok.getDouble(3) == 0.2 && !ok.getBoolean(4))
    // 10 even vs 1 odd: chi2 = 81/11 = 7.3636… > 3.841459 — SRM fires
    val bad = EventOps.abSrm(ev((0L to 18L by 2) :+ 1L)).collect().head
    assert(bad.getDouble(3) == math.floor(81.0 / 11.0 * 1e6 + 0.5) / 1e6)
    assert(bad.getBoolean(4))
  }

  test("cusumAlerts: prefix-min identity reproduces the CUSUM recurrence") {
    import java.sql.Timestamp
    def t(i: Int) = new Timestamp(i * 1000L)
    // type A, k=10c: d = [2,-2,5,10,-5] → S = [2,0,5,15,10] → alerts at
    // S>5: events 4 (15) and 5 (10). Type B dips BELOW zero first —
    // d = [-5,20] → recurrence S = [0,20], NOT the raw prefix sum 15:
    // the max(0,·) reset is exactly what the least(0, prefix-min) term
    // reproduces. Independent per type.
    val ev = Seq(
      (1L, t(1), "A", 0.12), (2L, t(2), "A", 0.08), (3L, t(3), "A", 0.15),
      (4L, t(4), "A", 0.20), (5L, t(5), "A", 0.05),
      (6L, t(1), "B", 0.05), (7L, t(2), "B", 0.30))
      .toDF("event_id", "ts", "event_type", "value")
    val got = EventOps.cusumAlerts(ev, driftCents = 10L, threshCents = 5L)
      .select(col("event_id"), col("s")).as[(Long, Long)].collect().toMap
    assert(got == Map(4L -> 15L, 5L -> 10L, 7L -> 20L))
  }

  test("groupTrend: hand-computed slopes, intercepts, and degenerate-x null") {
    val df = Seq(
      // g "up": y = 2x exactly → slope 2, intercept 0
      ("up", 0L, 0L), ("up", 1L, 2L), ("up", 2L, 4L),
      // g "down": y = 10 − 3x → slope −3, intercept 10
      ("down", 0L, 10L), ("down", 1L, 7L), ("down", 3L, 1L),
      // g "flatx": all x equal → denominator 0 → NULL coefficients
      ("flatx", 5L, 1L), ("flatx", 5L, 9L))
      .toDF("g", "x", "y")
    val rows = Relational.groupTrend(df, Seq("g"), col("x"), col("y"))
      .select(col("g"), col("n"), col("slope"), col("intercept"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(rows("up") == ((3L, Some(2.0), Some(0.0))))
    assert(rows("down") == ((3L, Some(-3.0), Some(10.0))))
    assert(rows("flatx") == ((2L, None, None)))
  }

  test("groupCorrelation: perfect, anti, uncorrelated, and zero-variance null") {
    val df = Seq(
      ("pos", 1L, 2L), ("pos", 2L, 4L), ("pos", 3L, 6L),     // r = 1
      ("neg", 1L, 6L), ("neg", 2L, 4L), ("neg", 3L, 2L),     // r = -1
      ("flat", 1L, 5L), ("flat", 2L, 5L), ("flat", 3L, 5L))  // var(y)=0 → null
      .toDF("g", "x", "y")
    val rows = Relational.groupCorrelation(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2))))).toMap
    assert(rows("pos") == ((3L, Some(1.0))))
    assert(rows("neg") == ((3L, Some(-1.0))))
    assert(rows("flat") == ((3L, None)))
    // hand value: (1,1),(2,3),(3,2) → num=3·13−6·6=3, dx=3·14−36=6,
    // dy=3·14−36=6 → r = 3/6 = 0.5
    val half = Relational.groupCorrelation(
        Seq(("h", 1L, 1L), ("h", 2L, 3L), ("h", 3L, 2L)).toDF("g", "x", "y"),
        Seq("g"), col("x"), col("y"))
      .collect().head.getDouble(2)
    assert(half == 0.5)
  }

  test("rankNormalizeBp: strictly-below bp, ties share, nulls survive") {
    val df = Seq(Some(10L), Some(10L), Some(20L), Some(30L), None)
      .toDF("v")
    val got = Relational.rankNormalizeBp(df, col("v"))
      .select(col("v"), col("rank_bp"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    // n = 4 non-null rows: 10 → 0 below → 0; 20 → 2 → 5000; 30 → 3 → 7500
    assert(got == Set(
      (Some(10L), Some(0L)), (Some(20L), Some(5000L)),
      (Some(30L), Some(7500L)), (None, None)))
  }

  test("rankNormalizeBpBy: each group ranks against its own distribution") {
    val df = Seq(
      ("a", Some(10L)), ("a", Some(20L)), ("a", Some(20L)), ("a", Some(40L)),
      ("b", Some(10L)), ("b", Some(99L)), ("b", None))
      .toDF("g", "v")
    val got = Relational.rankNormalizeBpBy(df, Seq("g"), col("v"))
      .select(col("g"), col("v"), col("rank_bp"))
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSet
    // group a (n=4): 10→0; 20→1 below→2500 (both tied rows); 40→3→7500
    // group b (n=2): 10→0; 99→1→5000; null survives as null
    assert(got == Set(
      ("a", Some(10L), Some(0L)), ("a", Some(20L), Some(2500L)),
      ("a", Some(40L), Some(7500L)),
      ("b", Some(10L), Some(0L)), ("b", Some(99L), Some(5000L)),
      ("b", None, None)))
  }

  test("groupTrend: noisy points match the closed-form least-squares fit") {
    // (0,1),(1,3),(2,4),(3,4): n=4 Σx=6 Σy=12 Σxx=14 Σxy=23
    // slope = (4·23−6·12)/(4·14−36) = 20/20 = 1; intercept = (12·14−6·23)/20 = 1.5
    val df = Seq((0L, 1L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("x", "y")
      .withColumn("g", lit("g"))
    val r = Relational.groupTrend(df, Seq("g"), col("x"), col("y"))
      .select(col("slope"), col("intercept")).collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.5)
  }

  test("autoJoin: every routing returns exactly the plain inner join — " +
      "rows AND column order — including the flipped-salt arm") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      (df.columns.toSeq, df.collect().map(_.toSeq).toSet)
    val left = ((1 to 300).map(_ => 1) ++ (2 to 50))
      .toDF("k").withColumn("lv", col("k") * 2)
    val right = (1 to 50).flatMap(k => Seq.fill(3)(k))
      .toDF("k").withColumn("rv", col("k") * 7)
    val plainLR = canon(left.join(right, Seq("k")))
    // left-hotter salted arm
    val (s1, st1) = Relational.autoJoinWithStrategy(
      left, right, Seq("k"), broadcastRowLimit = 10, salts = 4)
    assert(st1 == "salted_shuffle" && canon(s1) == plainLR)
    // flipped arm: the HOT side is on the right → saltedEquiJoin runs
    // flipped and the re-select must restore plain-join column order
    val plainRL = canon(right.join(left, Seq("k")))
    val (s2, st2) = Relational.autoJoinWithStrategy(
      right, left, Seq("k"), broadcastRowLimit = 10, salts = 4)
    assert(st2 == "salted_shuffle" && canon(s2) == plainRL)
    // broadcast arm (tiny right), and multi-key plain arm
    val tiny = Seq((1, "x"), (2, "y")).toDF("k", "tag")
    val (b, st3) = Relational.autoJoinWithStrategy(left, tiny, Seq("k"))
    assert(st3 == "broadcast" && canon(b) == canon(left.join(tiny, Seq("k"))))
    val l2 = (1 to 40).map(i => (i % 5, i % 3, i)).toDF("a", "b", "lv")
    val r2 = (1 to 40).map(i => (i % 5, i % 3, i * 10)).toDF("a", "b", "rv")
    val (m, st4) = Relational.autoJoinWithStrategy(
      l2, r2, Seq("a", "b"), broadcastRowLimit = 10)
    assert(st4 == "shuffle" && canon(m) == canon(l2.join(r2, Seq("a", "b"))))
    // overlapping non-key names are rejected up front, not mis-selected
    intercept[IllegalArgumentException] {
      Relational.autoJoin(left, left, Seq("k"))
    }
  }

  test("autoJoin3: order chosen by measured intermediates, result ≡ the " +
      "plain chain under both orders — rows AND column order") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      (df.columns.toSeq, df.collect().map(_.toSeq).toSet)
    // fact a (fan-out 10 per k1), mid b (k1 → k2), small dim c:
    // est |a⋈b| = 500 dwarfs est |b⋈c| = 50 → join b⋈c first
    val a = (1 to 50).flatMap(k => (1 to 10).map(i => (k, i)))
      .toDF("k1", "av")
    val b = (1 to 50).map(k => (k, k % 7)).toDF("k1", "k2")
    val c = (0 to 6).map(k => (k, s"seg$k")).toDF("k2", "cv")
    val plain = canon(a.join(b, Seq("k1")).join(c, Seq("k2")))
    val (r1, o1) = Relational.autoJoin3WithOrder(a, b, c,
      Seq("k1"), Seq("k2"))
    assert(o1.startsWith("bc_first:"), s"expected bc_first, got $o1")
    assert(canon(r1) == plain)
    // mirrored shape: tiny a, fat c-side fan-out → ab joins first
    val a2 = (0 to 6).map(k => (k, s"seg$k")).toDF("k1", "av")
    val b2 = (1 to 50).map(k => (k % 7, k)).toDF("k1", "k2")
    val c2 = (1 to 50).flatMap(k => (1 to 10).map(i => (k, i)))
      .toDF("k2", "cv")
    val plain2 = canon(a2.join(b2, Seq("k1")).join(c2, Seq("k2")))
    val (r2, o2) = Relational.autoJoin3WithOrder(a2, b2, c2,
      Seq("k1"), Seq("k2"))
    assert(o2.startsWith("ab_first:"), s"expected ab_first, got $o2")
    assert(canon(r2) == plain2)
    // chain-shape contract: keysBC must live on b
    intercept[IllegalArgumentException] {
      Relational.autoJoin3(a, b, c, Seq("k1"), Seq("nope"))
    }
  }

  test("autoJoin3WithOrder: buckets = 0 is rejected before any histogram runs") {
    val a = Seq((1, 1)).toDF("k1", "av")
    val b = Seq((1, 2)).toDF("k1", "k2")
    val c = Seq((2, "x")).toDF("k2", "cv")
    val e = intercept[IllegalArgumentException] {
      Relational.autoJoin3WithOrder(a, b, c, Seq("k1"), Seq("k2"), buckets = 0)
    }
    assert(e.getMessage.contains("buckets must be >= 1"), e.getMessage)
  }

  test("holtForecastBp: hand-traced recurrence, truncation-toward-zero on " +
      "the negative trend step, same-second event_id order, single event") {
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val events = Seq(
      // u1: 1.00 then 2.00 — l₂ = (5000·2e6 + 5000·1e6) div 1e4 = 1500000,
      // b₂ = (3000·500000) div 1e4 = 150000, forecast = l + 3b = 1950000
      (1L, 10L, ts(0), "view", 1.0),
      (1L, 11L, ts(100), "view", 2.0),
      // u2: single event — l = v·10⁴, b = 0
      (2L, 20L, ts(0), "view", 4.0),
      // u3: SAME second, event_id order decides which value is "first":
      // 31 carries 1.00, 30 carries 3.00 → order is (30: 3.00, 31: 1.00)
      (3L, 31L, ts(50), "view", 1.0),
      (3L, 30L, ts(50), "view", 3.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val got = EventOps.holtForecastBp(events)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((2L, 1500000L, 150000L, 1950000L)))
    assert(got(2L) == ((1L, 4000000L, 0L, 4000000L)))
    // u3 if order were (1.00, 3.00): l=2e6, b=+3e5; correct (3.00, 1.00):
    // l = (5000·1e6 + 5000·3e6) div 1e4 = 2000000, b = 3000·(2e6−3e6)
    // div 1e4 = −300000
    assert(got(3L) == ((2L, 2000000L, -300000L, 1100000L)))
    // truncation toward zero on a non-divisible NEGATIVE numerator:
    // α=β=3333 bp, 2.00 then 1.00: l₂ = (3333·1e6 + 6667·2e6) div 1e4
    // = 1666700, Δl = −333300, b₂ = (3333·−333300) div 1e4 =
    // −1110888900 div 1e4 = −111088 (floor division would say −111089)
    val dec = Seq((9L, 1L, ts(0), "view", 2.0), (9L, 2L, ts(10), "view", 1.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val g9 = EventOps.holtForecastBp(dec, alphaBp = 3333, betaBp = 3333)
      .as[(Long, Long, Long, Long, Long)].collect()(0)
    assert(g9._3 == 1666700L && g9._4 == -111088L)
  }

  test("holtBacktestBp: walk-forward error scored against the PRIOR state, " +
      "single event unscored (null MAE)") {
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val events = Seq(
      // u1: 1.00, 2.00, 4.00 —
      //  t2: forecast 1e6, err += |2e6 − 1e6| = 1e6; l→1.5e6, b→1.5e5
      //  t3: forecast 1.65e6, err += |4e6 − 1.65e6| = 2.35e6
      //  total 3.35e6, MAE = 3.35e6 div 2 = 1675000
      (1L, 1L, ts(0), "view", 1.0),
      (1L, 2L, ts(10), "view", 2.0),
      (1L, 3L, ts(20), "view", 4.0),
      (2L, 4L, ts(0), "view", 9.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val got = EventOps.holtBacktestBp(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(got(1L) == ((3L, 3350000L, Some(1675000L))))
    assert(got(2L) == ((1L, 0L, None)))
  }

  test("attributionDecay: exact proportional split, remainder to the " +
      "LATEST touch, weight floor keeps ancient touches at credit 0 not 0/0") {
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val d = 86400L
    val events = Seq(
      // u1: conv 1.01 at day 3; click age 1d (w=5000), view age 3d
      // (w=1250) → bases 80/20, remainder 1 to the click (latest)
      (1L, 10L, ts(0), "view", 0.0),
      (1L, 11L, ts(2 * d), "click", 0.0),
      (1L, 12L, ts(3 * d), "purchase", 1.01),
      // u2: no touches → direct, full value
      (2L, 20L, ts(0), "purchase", 5.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val got = EventOps.attributionDecay(events).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(5))).toSet
    assert(got == Set((1L, "click", 81L), (1L, "view", 20L),
      (2L, "direct", 500L)))
    // weight floor: halfLife 1 s, window huge — a touch 100 half-lives
    // old still weighs 1 (not 0), earning exact credit 0 next to a
    // full-weight recent touch, and the split never divides by zero
    val floorCase = Seq(
      (3L, 30L, ts(0), "view", 0.0),
      (3L, 31L, ts(999), "click", 0.0),
      (3L, 32L, ts(1000), "purchase", 1.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val f = EventOps.attributionDecay(floorCase, windowSec = 10000L,
        halfLifeSec = 1L).collect()
      .map(r => (r.getString(3), r.getLong(5))).toSet
    assert(f == Set(("click", 100L), ("view", 0L)))
  }

  test("intervalCoverage: overlaps merge, duplicates free, gap accounting") {
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val events = Seq(
      // u1: [0,300)∪[100,400) merge to 400 covered; [1000,1300) after a
      // 600 s gap → 700 covered, 2 segments
      (1L, 1L, ts(0), "view", 0.0),
      (1L, 2L, ts(100), "view", 0.0),
      (1L, 3L, ts(1000), "view", 0.0),
      // u2: duplicate second adds nothing
      (2L, 4L, ts(70), "view", 0.0),
      (2L, 5L, ts(70), "view", 0.0),
      // u3: back-to-back touching intervals ([0,300) then start 300)
      // stay ONE segment (start == pmax is not a gap: > not ≥)
      (3L, 6L, ts(0), "view", 0.0),
      (3L, 7L, ts(300), "view", 0.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val got = EventOps.intervalCoverage(events)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((3L, 700L, 2L, 600L)))
    assert(got(2L) == ((2L, 300L, 1L, 0L)))
    assert(got(3L) == ((2L, 600L, 1L, 0L)))
  }
}
