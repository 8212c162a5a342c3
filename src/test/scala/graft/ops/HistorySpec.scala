package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class HistorySpec extends SparkSpec {

  import spark.implicits._

  // (key, ts, tb, attr) event logs; ts as long keeps assertions exact.
  private def log(rows: Seq[(String, Long, Long, String)]): DataFrame =
    rows.toDF("k", "ts", "tb", "a")

  private def hist(df: DataFrame): DataFrame =
    History.scd2FromEvents(df, Seq("k"), col("ts"), col("tb"), col("a"))

  private def rows(h: DataFrame): Seq[(String, String, Long, Option[Long], Boolean)] =
    h.select(col("k"), col("attr_val"), col("valid_from"), col("valid_to"),
        col("is_current"))
      .as[(String, String, Long, Option[Long], Boolean)]
      .collect().sortBy(r => (r._1, r._3, r._4.getOrElse(Long.MaxValue))).toSeq

  test("scd2FromEvents collapses runs into versioned rows with a valid_to chain") {
    val h = rows(hist(log(Seq(
      ("c1", 10L, 1L, "A"), ("c1", 20L, 2L, "A"), ("c1", 30L, 3L, "B"),
      ("c1", 40L, 4L, "A"), ("c2", 5L, 5L, "X")))))
    assert(h == Seq(
      ("c1", "A", 10L, Some(30L), false),
      ("c1", "B", 30L, Some(40L), false),
      ("c1", "A", 40L, None, true),
      ("c2", "X", 5L, None, true)))
  }

  test("NULL attribute values form runs too (first event, transitions both ways)") {
    val h = hist(log(Seq(("c1", 10L, 1L, "A"))).unionByName(
      Seq(("c1", 20L, 2L), ("c1", 25L, 3L)).toDF("k", "ts", "tb")
        .withColumn("a", lit(null).cast("string"))
      .unionByName(log(Seq(("c1", 30L, 4L, "B"), ("c2", 1L, 5L, null))))))
    val got = h.select(col("attr_val"), col("valid_from")).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).sortBy(_._2).toSeq
    assert(got == Seq((None, 1L), (Some("A"), 10L), (None, 20L), (Some("B"), 30L)))
  }

  test("same-ts run starts are ordered by the tiebreak") {
    val h = rows(hist(log(Seq(
      ("c1", 10L, 1L, "A"), ("c1", 10L, 2L, "B"), ("c1", 20L, 3L, "B")))))
    assert(h == Seq(
      ("c1", "A", 10L, Some(10L), false),
      ("c1", "B", 10L, None, true)))
  }

  test("scd2Merge equals the full recompute across extension, change, new and untouched keys") {
    val before = Seq(
      ("ext", 10L, 1L, "A"), ("ext", 20L, 2L, "A"),   // batch extends run A
      ("chg", 10L, 3L, "A"), ("chg", 30L, 4L, "B"),   // batch changes B→C
      ("idle", 10L, 5L, "Z"))                          // not in batch
    val batch = Seq(
      ("ext", 50L, 6L, "A"),                           // same attr → extend
      ("chg", 60L, 7L, "C"), ("chg", 70L, 8L, "C"),
      ("new", 55L, 9L, "N"), ("new", 65L, 10L, "M"))   // unseen key
    val merged = History.scd2Merge(hist(log(before)), log(batch),
      Seq("k"), col("ts"), col("tb"), col("a"))
    assert(rows(merged) == rows(hist(log(before ++ batch))))
  }

  test("scd2Merge leaves untouched keys' rows intact and extension keeps valid_from") {
    val before = Seq(("ext", 10L, 1L, "A"), ("idle", 10L, 2L, "Z"))
    val merged = History.scd2Merge(hist(log(before)),
      log(Seq(("ext", 99L, 3L, "A"))),
      Seq("k"), col("ts"), col("tb"), col("a"))
    assert(rows(merged) == Seq(
      ("ext", "A", 10L, None, true),     // extended run keeps its valid_from
      ("idle", "Z", 10L, None, true)))
  }

  test("pointInTimeJoin equals the half-open interval lookup incl boundaries") {
    // versions: c1 = A@[10,30) B@[30,∞); c2 = X@[5,∞); "ghost" has no history
    val h = hist(log(Seq(
      ("c1", 10L, 1L, "A"), ("c1", 30L, 2L, "B"), ("c2", 5L, 3L, "X"))))
    val facts = Seq(
      ("c1", 100L, 5L),    // before first version → NULL
      ("c1", 101L, 10L),   // exactly at first valid_from → A
      ("c1", 102L, 29L),   // inside [10,30) → A
      ("c1", 103L, 30L),   // exactly at the version boundary → B (half-open)
      ("c1", 104L, 99L),   // beyond last → current B
      ("c2", 105L, 7L),    // single-version key → X
      ("ghost", 106L, 50L) // no history → NULL
    ).toDF("k", "fact_id", "fts")
    val out = History.pointInTimeJoin(facts, h, Seq("k"), col("fts"))
      .select(col("fact_id"), col("pit_attr"))
      .as[(Long, Option[String])].collect().toMap
    assert(out == Map(
      100L -> None, 101L -> Some("A"), 102L -> Some("A"), 103L -> Some("B"),
      104L -> Some("B"), 105L -> Some("X"), 106L -> None))
    // facts frame passes through row-for-row (columns + count preserved)
    val enriched = History.pointInTimeJoin(facts, h, Seq("k"), col("fts"))
    assert(enriched.count() == facts.count())
    assert(enriched.columns.toSeq == facts.columns.toSeq :+ "pit_attr")
  }
}
