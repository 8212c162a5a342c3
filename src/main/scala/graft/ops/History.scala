package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) history over an append-only change
  * log: collapse each key's consecutive runs of an identical attribute
  * value into one versioned row `(key…, attr_val, valid_from, valid_to,
  * is_current)`, and MERGE new batches into stored history touching only
  * the keys the batch mentions.
  *
  * Reference analogue: the full-refresh dimension loads — every run drops
  * and rewrites `agents`/`weapons`/… wholesale (`etl/pipeline.py:246-262`),
  * so attribute history is lost and each run pays a full rewrite. The
  * warehouse-standard alternative (Kimball's type-2 dimension) keeps every
  * version with a validity interval; at 100 TB the interesting part is the
  * INCREMENTAL merge, which is why `scd2Merge`'s contract is proven by
  * hash-equality against the full-recompute closure (oracle
  * `scd2_merge_incremental`), the same proof pattern as
  * `Dedup.mergeClusters`.
  *
  * Scale shape: every shuffle is keyed on the dimension key — one window
  * pass marks run starts (no global window; per-key sort only), a filter
  * keeps them (no groupBy needed: a run's first event IS its version row),
  * and a second keyed window chains `valid_to = lead(valid_from)`. The
  * merge recomputes runs over (seed rows + batch) ONLY for keys present in
  * the batch — O(batch + touched history), never O(dimension) — and
  * passes every untouched key through untouched.
  */
object History {

  /** Internal event shape: keys…, _ts, _tb, attr_val. */
  private def events(df: DataFrame, keys: Seq[String], ts: Column,
                     tiebreak: Column, attr: Column): DataFrame =
    df.select(keys.map(col) :+ ts.as("_ts") :+ tiebreak.as("_tb") :+
      attr.as("attr_val"): _*)

  private def collapse(ev: DataFrame, keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    val w = Window.partitionBy(keyCols: _*).orderBy(col("_ts"), col("_tb"))
    // Run start = first event of the key, or any attr change. The
    // row_number guard (not lag-IS-NULL) keeps a NULL attr in the first
    // event from silently dropping the run; `<=>` is null-safe so NULL→X
    // and X→NULL transitions are changes, NULL→NULL is not.
    val starts = ev
      .withColumn("_chg", row_number().over(w) === 1 ||
        !(lag(col("attr_val"), 1).over(w) <=> col("attr_val")))
      .filter(col("_chg"))
    // Two runs of one key can start on the same _ts (tie broken by _tb),
    // so the chain window orders by BOTH — same total order as `w`.
    val w2 = Window.partitionBy(keyCols: _*).orderBy(col("_ts"), col("_tb"))
    starts
      .select(keyCols :+ col("attr_val") :+ col("_ts").as("valid_from") :+
        lead(col("_ts"), 1).over(w2).as("valid_to") :+ col("_tb"): _*)
      .withColumn("is_current", col("valid_to").isNull)
      .drop("_tb")
  }

  /** Build a type-2 history from scratch. `tiebreak` must make `(ts,
    * tiebreak)` unique per key — run structure (and therefore output) is
    * deterministic only under a total per-key event order.
    */
  def scd2FromEvents(log: DataFrame, keys: Seq[String], ts: Column,
                     tiebreak: Column, attr: Column): DataFrame =
    collapse(events(log, keys, ts, tiebreak, attr), keys)

  /** Merge a batch of NEW events into stored history. Equivalent to
    * `scd2FromEvents` over the full log — proven by the oracle — PROVIDED
    * the batch is append-only per key: every batch event must sort after
    * every already-ingested event of its key (the usual CDC contract; a
    * date-partitioned ingest satisfies it by construction). Late events
    * that violate it need a key-scoped rebuild, not this merge.
    *
    * Only keys present in the batch are reprocessed: their closed rows
    * pass through unchanged (intervals before the current one are
    * immutable under append-only input), and the current row is collapsed
    * to a SEED event carrying its `(valid_from, attr_val)` so a batch
    * whose first value equals the current attr EXTENDS the current run
    * rather than opening a spurious version.
    */
  def scd2Merge(history: DataFrame, batch: DataFrame, keys: Seq[String],
                ts: Column, tiebreak: Column, attr: Column): DataFrame = {
    val ev = events(batch, keys, ts, tiebreak, attr)
    // batch keys are small relative to the dimension by assumption (that
    // is the point of the merge) — broadcast them explicitly so the huge
    // history side never shuffles for the touched/untouched split
    val batchKeys = broadcast(ev.select(keys.map(col): _*).distinct())
    val untouched = history.join(batchKeys, keys, "left_anti")
    val touched = history.join(batchKeys, keys, "left_semi")
    val closed = touched.filter(!col("is_current"))
    // Seed _tb below any real tiebreak: the seed's _ts (= current
    // valid_from) already sorts before every batch event per the
    // append-only contract, so the seed only needs to win same-frame ties.
    val current = touched.filter(col("is_current"))
    val seed = current
      .select(keys.map(col) :+ col("valid_from").as("_ts") :+
        lit(null).cast(ev.schema("_tb").dataType).as("_tb") :+
        col("attr_val"): _*)
    // Replay guard: drop batch events STRICTLY BEFORE the key's current
    // valid_from — they are already reflected in the closed rows, and
    // re-collapsing them against the seed would re-emit closed versions as
    // duplicates. This makes a crash-replay of an already-merged batch
    // idempotent (the one unsupported corner: an attr CHANGE at exactly
    // the current valid_from's timestamp replayed across the boundary —
    // give events unique, increasing timestamps per key and it cannot
    // arise). Events at or after valid_from re-collapse into the seed's
    // run with no effect. One extra keyed join against the (small)
    // current-row set.
    val evKept = ev.join(
        current.select(keys.map(col) :+ col("valid_from").as("_seed_ts"): _*),
        keys, "left_outer")
      .filter(col("_seed_ts").isNull || col("_ts") >= col("_seed_ts"))
      .drop("_seed_ts")
    val merged = collapse(seed.unionByName(evKept), keys)
    untouched.unionByName(closed).unionByName(merged)
  }

  /** Point-in-time (as-of) enrichment of a fact stream from an SCD2
    * history WITHOUT a range join: version rows and facts merge into one
    * per-key ordered stream (a version row sorts BEFORE any fact sharing
    * its timestamp, so a fact at exactly `valid_from` sees the version
    * that starts there), a running `last(attr, ignoreNulls)` carries the
    * governing version forward, and fact rows are filtered back out with
    * the looked-up attr in `outCol`. Result is row-for-row the facts
    * frame plus `outCol`, equal to the half-open interval join
    * `valid_from <= ts < valid_to` (the oracle runs that definition).
    *
    * Scale shape: ONE shuffle keyed on the dimension key plus a per-key
    * sort — no interval-join explosion, no per-fact history probe, no
    * broadcast requirement on either side. This is the standard warehouse
    * trick for fact×SCD2 lookups at any fact:dimension ratio.
    *
    * Facts whose ts precede their key's first version (or whose key has
    * no history) get NULL. `history.valid_from` must be unique per key
    * (SCD2 guarantees it) — duplicate version timestamps would make the
    * tie order, and therefore the lookup, nondeterministic.
    */
  def pointInTimeJoin(facts: DataFrame, history: DataFrame,
                      keys: Seq[String], factTs: Column,
                      outCol: String = "pit_attr"): DataFrame = {
    val keyCols = keys.map(col)
    val dim = history
      .select(keyCols :+ col("valid_from").as("_pit_ts") :+
        col("attr_val").as("_pit_attr"): _*)
      .withColumn("_is_fact", lit(0))
    val f = facts.withColumn("_pit_ts", factTs).withColumn("_is_fact", lit(1))
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("_pit_ts"), col("_is_fact"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(f, allowMissingColumns = true)
      .withColumn(outCol, last(col("_pit_attr"), ignoreNulls = true).over(w))
      .filter(col("_is_fact") === 1)
      .drop("_pit_ts", "_is_fact", "_pit_attr")
  }
}
