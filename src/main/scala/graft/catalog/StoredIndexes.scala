package graft.catalog

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Vectors}
import graft.tables.Tables.load

/** Session-scoped stored-index cache backing the `dedup_incremental_*_indexed`
  * bench twins. The non-indexed incremental queries necessarily rebuild the
  * corpus index from text per run (the DuckDB oracle must replay
  * construction), so their bench numbers measure index-build + probe. These
  * twins measure the STEADY STATE a production ingest loop actually runs:
  * the corpus index is built ONCE per session (here, per (session, sf-dir) —
  * `Bench` prewarms it outside the timed region), persisted to parquet, and
  * the read-back frames kept warm (MEMORY_ONLY — an ingest loop probing
  * every few minutes would hold them exactly like this; evicted blocks
  * lazily re-read parquet, never re-shingle text). The timed query then pays
  * only batch shingling + probe joins — the cost profile
  * `Dedup.minHashIncrementalIndexed`/`Vectors.cosineIncrementalIndexed`
  * exist to deliver. The cluster-label table extends the same story to
  * incremental CLUSTERING: `mergeClusters` against stored labels is the
  * steady-state operation; rebuilding the corpus labels per run is not.
  *
  * The twins use the STEADY-STATE split (2% batch vs 98% corpus —
  * documents: doc_id % 50, embeddings: vec_id % 70), where the contrast
  * against rebuild-from-text is structural, not noise: the `% 5`/`% 7`
  * splits of the original incremental queries make the batch 14-20% of the
  * corpus, so index build is a minority cost there. Each twin has a
  * rebuild-from-text sibling at the SAME split (`*_small`) so the bench
  * comparison is apples-to-apples.
  *
  * Cache lifetime: entries are keyed on the OWNING SparkSession itself
  * through a weak-keyed identity map — not an identity hash code, which is
  * reused after GC and would let a later colliding session receive frames
  * bound to a dead one — and every access first purges entries whose
  * session has stopped (their persisted blocks died with the session; the
  * map must not pin the frames). Index temp directories are deleted by a
  * JVM shutdown hook.
  */
object StoredIndexes {

  /** Batch modulus of the steady-state split over `documents.doc_id`. */
  val DocMod = 50
  /** Batch modulus of the steady-state split over `embeddings.vec_id`. */
  val VecMod = 70

  // weak keys + reference equality (SparkSession does not override equals):
  // a stopped-and-dropped session's entry vanishes with it instead of
  // leaking persisted frames for the rest of the JVM
  private val built = new java.util.WeakHashMap[
    SparkSession, ConcurrentHashMap[String, Seq[DataFrame]]]()

  private val tempDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  sys.addShutdownHook {
    tempDirs.forEach(root => graft.etl.Load.deleteLocalTree(root))
  }

  private def newTempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }

  /** Shutdown-cleaned scratch dir for catalog queries that materialize
    * per-call state (the incremental-maintenance rebuild siblings) — a
    * raw `createTempDirectory` there would leak an edge-table-sized dir
    * per bench repeat until reboot.
    */
  def newScratchDir(prefix: String): String = newTempDir(prefix)

  private def cacheFor(s: SparkSession): ConcurrentHashMap[String, Seq[DataFrame]] =
    built.synchronized {
      val it = built.entrySet.iterator
      while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
      var c = built.get(s)
      if (c == null) { c = new ConcurrentHashMap[String, Seq[DataFrame]](); built.put(s, c) }
      c
    }

  /** Stored MinHash index frames (shingle sets, banded keys) for `dir`'s
    * steady-state corpus split, built + persisted on first use (thread-safe;
    * one build per session × dir).
    */
  def minHash(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val v = cacheFor(s).computeIfAbsent(s"$dir|minhash", _ => {
      val d = newTempDir("graft-mh-index-")
      Dedup.writeMinHashIndex(
        load(s, dir, "documents").filter(col("doc_id") % DocMod =!= 0), d)
      val (toks, banded) = Dedup.readMinHashIndex(s, d)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(toks.persist(mem), banded.persist(mem))
    })
    (v(0), v(1))
  }

  /** Stored sign-LSH embedding index frames for `dir`'s steady-state split. */
  def cosine(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val v = cacheFor(s).computeIfAbsent(s"$dir|cosine", _ => {
      val d = newTempDir("graft-cos-index-")
      Vectors.writeCosineIndex(
        load(s, dir, "embeddings").filter(col("vec_id") % VecMod =!= 0), d)
      val (normed, banded) = Vectors.readCosineIndex(s, d)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(normed.persist(mem), banded.persist(mem))
    })
    (v(0), v(1))
  }

  /** Stored IVF index (centroids, cell-partitioned inverted lists) over
    * `dir`'s FULL embeddings corpus — `sim_ann_ivf`'s query runs against
    * the whole corpus, so its stored twin indexes the same. Centroids are
    * persisted warm (tiny, broadcast at probe time); the LISTS frame is
    * deliberately NOT persisted: the probe's whole point is the
    * plan-time-pruned read of only the probed `cell=` directories.
    */
  def ivf(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val v = cacheFor(s).computeIfAbsent(s"$dir|ivf", _ => {
      val d = newTempDir("graft-ivf-index-")
      Vectors.writeIvfIndex(load(s, dir, "embeddings"), d)
      val (cents, lists) = Vectors.readIvfIndex(s, d)
      Seq(cents.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY), lists)
    })
    (v(0), v(1))
  }

  // Bloom sketch bytes per corpus dir — plain bytes, no session-bound
  // resources to leak, so a simple dir-keyed map (not the weak session
  // cache) is correct: a second session over the same dir reuses them.
  private val blooms = new ConcurrentHashMap[String, Array[Byte]]()

  /** Stored content-digest table + its Bloom sketch over `dir`'s
    * steady-state corpus split — the probe state
    * `Dedup.exactIncrementalBloom` consults before touching the table.
    * The digest table is built once per session × dir (parquet + warm
    * read-back like the other stored state); the sketch is built once
    * per DIR (bytes carry no session resources), sized from the table's
    * ACTUAL row count at 10 bits/digest (fpp ≈ 0.8% at any corpus
    * scale) — a fixed sizing would silently degrade to double-digit fpp
    * the first time a bigger corpus dir comes through, and the count is
    * one cheap aggregate over the already-warm frame, paid once.
    */
  def digestBloom(s: SparkSession, dir: String): (DataFrame, Array[Byte]) = {
    val dig = cacheFor(s).computeIfAbsent(s"$dir|digests", _ => {
      val d = newTempDir("graft-digests-")
      Dedup.contentDigests(
          load(s, dir, "documents").filter(col("doc_id") % DocMod =!= 0))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(d)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(s.read.parquet(d).persist(mem))
    }).head
    val bloom = blooms.computeIfAbsent(dir, _ => {
      val n = math.max(dig.count(), 1L)
      Dedup.digestBloom(dig, n, 10L * n)
    })
    (dig, bloom)
  }

  /** Stored near-dup CLUSTER LABELS `(doc_id, cluster_rep)` over `dir`'s
    * steady-state corpus split — the state table incremental clustering
    * maintains. Built once per session × dir (full `nearDupClusters` over
    * the corpus — the bootstrap pass a production pipeline also pays once),
    * persisted to parquet and read back warm, so a timed
    * `mergeClusters(labels, batchPairs)` measures ONLY the merge: probe
    * pairs → rep edges → affected-component union-find → one re-label join.
    */
  def clusterLabels(s: SparkSession, dir: String): DataFrame =
    cacheFor(s).computeIfAbsent(s"$dir|labels", _ => {
      val d = newTempDir("graft-labels-")
      Dedup.nearDupClusters(
          load(s, dir, "documents").filter(col("doc_id") % DocMod =!= 0), 0.5)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(d)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(s.read.parquet(d).persist(mem))
    }).head

  /** Stored partial-aggregate state (`ops/IncrAgg`) over `dir`'s orders:
    * 16 ingest batches' mergeable partials, built in ONE scan (the batch
    * id rides along as an extra grouping key) and written
    * batch-partitioned — the table an incremental-aggregation loop
    * maintains. The `agg_incremental_state_stored` twin then times ONLY
    * `mergeState` over these groups × batches rows; its rebuild sibling
    * (`agg_incremental_state`) necessarily re-derives partials from raw
    * orders so the oracle can replay construction.
    */
  def aggState(s: SparkSession, dir: String): DataFrame =
    cacheFor(s).computeIfAbsent(s"$dir|aggstate", _ => {
      val d = newTempDir("graft-aggstate-")
      graft.ops.IncrAgg.partialState(
          load(s, dir, "orders")
            .withColumn("_b", pmod(col("o_orderkey"), lit(16))),
          Seq("_b", "o_orderstatus"),
          graft.ops.Exact.cents(col("o_totalprice")), col("o_custkey"))
        .withColumnRenamed("_b", "batch")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("batch").parquet(d)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(graft.ops.IncrAgg.readState(s, d).persist(mem))
    }).head

  /** Stored DSIR language-model table `(b, ct, cr)` over `dir`'s documents
    * (target = `doc_id % 7 = 0` seed slice, background = the rest) — the
    * fixed-size state a production data-selection loop trains once and
    * scores every incoming batch against. The `curate_dsir_select_indexed`
    * twin times ONLY batch gram hashing + the broadcast LM join + top-k;
    * its rebuild sibling (`curate_dsir_select`) re-derives both LMs from
    * text so the oracle can replay construction.
    */
  def dsirLm(s: SparkSession, dir: String): DataFrame =
    cacheFor(s).computeIfAbsent(s"$dir|dsirlm", _ => {
      val d = newTempDir("graft-dsirlm-")
      val docs = load(s, dir, "documents")
      graft.ops.Curate.dsirLm(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(d)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(s.read.parquet(d).persist(mem))
    }).head

  /** Stored span-digest index `(id, h)` over `dir`'s documents with
    * `doc_id % mod =!= 0` — the corpus side of the common-span probe and
    * the novelty monitor (`mod` mirrors each rebuild sibling's split so
    * the `_indexed` twin shares its oracle verbatim). 16-byte digests
    * only; corpus text is read once per session at build.
    */
  def spanIdx(s: SparkSession, dir: String, mod: Int): DataFrame =
    cacheFor(s).computeIfAbsent(s"$dir|span$mod", _ => {
      val d = newTempDir("graft-spanidx-")
      graft.ops.Dedup.writeSpanIndex(
        load(s, dir, "documents").filter(col("doc_id") % mod =!= 0), d, 8)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(s.read.parquet(d).persist(mem))
    }).head

  /** Stored DBSCAN clustering `(vec_id, role, cluster_rep)` over `dir`'s
    * steady-state embedding corpus split (vec_id % 70 ≠ 0, matching the
    * cosine index above) — the labeling an assign-only classifier probes.
    * Built once per session × dir, persisted to parquet and read back
    * warm; the `vector_dbscan_assign` twin then pays only batch banding +
    * the index probe + one keyed min.
    */
  def dbscanLabels(s: SparkSession, dir: String): DataFrame =
    cacheFor(s).computeIfAbsent(s"$dir|dbscan", _ => {
      val d = newTempDir("graft-dbscan-")
      Vectors.dbscanCosine(
          load(s, dir, "embeddings").filter(col("vec_id") % VecMod =!= 0),
          0.4, 2)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(d)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(s.read.parquet(d).persist(mem))
    }).head

  /** Stored JOIN+agg view partials (`ops/Ivm`) over `dir`'s full sales
    * corpus: `γ_(o_orderstatus, c_mktsegment)(count, Σ revenue-units)
    * (lineitem ⋈ orders ⋈ customer)` — the materialized view a delta-
    * maintenance loop keeps current. Built once per session × dir (the
    * bootstrap full join+agg a production pipeline also pays once),
    * persisted to parquet and read back warm, so the timed
    * `ivm_join_agg_stored` twin pays ONLY the delta joins + the
    * view-sized merge; its rebuild sibling (`ivm_join_agg`) re-derives
    * the base view per run.
    */
  def ivmView(s: SparkSession, dir: String): DataFrame =
    cacheFor(s).computeIfAbsent(s"$dir|ivmview", _ => {
      val d = newTempDir("graft-ivmview-")
      val l = load(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
      val oc = load(s, dir, "orders")
        .join(broadcast(load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("c_mktsegment"))
      graft.ops.Ivm.viewPartial(
          l.join(oc, col("l_orderkey") === col("o_orderkey")),
          Seq("o_orderstatus", "c_mktsegment"),
          graft.ops.Exact.revenueUnits(col("l_extendedprice"),
            col("l_discount")))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(d)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(s.read.parquet(d).persist(mem))
    }).head

  /** Force all stored-state builds and warm the read-back frames — the
    * bench warmup hook that keeps the timed `*_indexed` queries probe-only.
    */
  /** Bucketed co-located fact tables: orders and lineitem written ONCE per
    * (session, sf-dir) as bucketed tables on the join key (o_orderkey /
    * l_orderkey, same bucket count), the layout a warehouse maintains so
    * its hot fact-fact join never shuffles. The catalog's bucketed-join
    * twin (`join_bucketed_colocated`) then measures the steady-state
    * zero-exchange probe, not the one-time layout write (prewarmed by
    * Bench like the other stored state). Table names carry an sf-dir
    * suffix so multiple corpora can coexist in one session catalog.
    */
  def bucketedSales(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val v = cacheFor(s).computeIfAbsent(s"$dir|bucketed_sales", _ => {
      val wh = newTempDir("graft-bkt-")
      val ld = new graft.etl.Load(wh)
      // md5 of the full dir path, not String.hashCode — a 32-bit hash
      // collision between two corpus dirs would make the second build
      // silently overwrite the first's catalog tables.
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
      val on = s"graft_bkt_orders_$sfx"
      val ln = s"graft_bkt_lineitem_$sfx"
      ld.writeBucketed(load(s, dir, "orders"), on, 8, Seq("o_orderkey"))
      ld.writeBucketed(load(s, dir, "lineitem"), ln, 8, Seq("l_orderkey"))
      Seq(s.table(on), s.table(ln))
    })
    (v(0), v(1))
  }

  /** Stored co-purchase edge table `(item_a, item_b, support)` over
    * `dir`'s lineitem — the graph every basket/graph query walks.
    * `basket_pair_support`, `basket_components`, `graph_lpa_communities`
    * and `basket_clustering_coeff` each rebuild it inside their own timed
    * run (their oracles must replay construction); their `_indexed` twins
    * read THIS frame, so the timed cost is the graph algorithm itself —
    * the steady state of a pipeline that maintains the edge list
    * incrementally (`Relational.appendToBasketEdges` folds each ingest
    * batch of whole orders in at delta cost; the read below is the
    * consolidating keyed sum, cached warm, so probes see one row per
    * pair regardless of how many appends accumulated). Stored UNFILTERED;
    * support thresholds are a filter on the warm frame.
    */
  def basketEdges(s: SparkSession, dir: String): DataFrame =
    cacheFor(s).computeIfAbsent(s"$dir|basket_edges", _ => {
      val d = newTempDir("graft-basket-")
      graft.ops.Relational.writeBasketEdges(
        load(s, dir, "lineitem"), d, "l_orderkey", "l_partkey")
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(graft.ops.Relational.readBasketEdges(s, d).persist(mem))
    }).head

  /** Stored item→basket-count table `(_it, freq)` over `dir`'s lineitem —
    * the denominator half of the co-purchase index next to `basketEdges`
    * (cosine and confidence/lift both divide by it). Item-sized;
    * maintained like the edges by summing per-batch partials. The
    * `basket_item_recs_indexed` twin reads THIS plus the edge frame, so
    * its timed cost is scoring + the k-bounded top-k — never the
    * distinct + self-join rebuild.
    */
  def itemFreq(s: SparkSession, dir: String): DataFrame =
    cacheFor(s).computeIfAbsent(s"$dir|item_freq", _ => {
      val d = newTempDir("graft-itemfreq-")
      graft.ops.Relational.itemBasketFreq(
          load(s, dir, "lineitem"), "l_orderkey", "l_partkey")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(d)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(s.read.parquet(d).persist(mem))
    }).head

  /** Stored BPE segmented vocabulary `(w, n, seq)` over `dir`'s documents
    * at the catalog's merge budget (`TextQueries.BpeK`) — the apply table
    * a tokenizer pipeline trains ONCE. The `text_bpe_apply_indexed` twin
    * times ONLY per-doc collapse + one vocab-sized join; its rebuild
    * sibling (`text_bpe_apply`) re-runs the K-round training loop so the
    * unrolled-CTE oracle can replay construction.
    */
  def bpeVocab(s: SparkSession, dir: String): DataFrame =
    cacheFor(s).computeIfAbsent(s"$dir|bpe_vocab", _ => {
      val d = newTempDir("graft-bpevocab-")
      // bpeVocabulary returns a lazy localCheckpoint, not a CacheManager
      // entry — there is nothing to unpersist (the r15 `v.unpersist()`
      // here was a no-op); the write materializes it and dropping the
      // reference lets the ContextCleaner reclaim the blocks.
      val v = graft.ops.Text.bpeVocabulary(
        load(s, dir, "documents"), TextQueries.BpeK)
      v.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(d)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(s.read.parquet(d).persist(mem))
    }).head

  /** Stored PQ index (trained codebook + per-vector codes) over `dir`'s
    * embeddings — the steady state behind sim_pq_adc_topk_indexed:
    * production trains and encodes ONCE, every probe pays only the
    * m-lookup ADC scan against the stored 4-bit codes. Both frames are
    * config/corpus-code-sized (m·k rows; rows × m codes) and persisted
    * warm like the other session-cached indexes.
    */
  def pq(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val v = cacheFor(s).computeIfAbsent(s"$dir|pq", _ => {
      val d = newTempDir("graft-pq-index-")
      val emb = load(s, dir, "embeddings")
      graft.ops.ProductQuantizer.train(emb)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$d/codebook")
      val cb = s.read.parquet(s"$d/codebook")
      graft.ops.ProductQuantizer.encode(emb, cb)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$d/codes")
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      Seq(cb.persist(mem), s.read.parquet(s"$d/codes").persist(mem))
    })
    (v(0), v(1))
  }

  def prewarm(s: SparkSession, dir: String): Unit = {
    val (t, b) = minHash(s, dir); t.count(); b.count()
    digestBloom(s, dir)._1.count()
    val (n, c) = cosine(s, dir); n.count(); c.count()
    clusterLabels(s, dir).count()
    ivf(s, dir)._1.count()
    aggState(s, dir).count()
    ivmView(s, dir).count()
    dbscanLabels(s, dir).count()
    dsirLm(s, dir).count()
    bucketedSales(s, dir)._1.count()
    spanIdx(s, dir, 7).count()
    spanIdx(s, dir, 10).count()
    basketEdges(s, dir).count()
    itemFreq(s, dir).count()
    bpeVocab(s, dir).count()
    val (pcb, pcodes) = pq(s, dir); pcb.count(); pcodes.count()
    // run (and memoize) the geometry pre-flights too — the timed probes
    // then start straight at candidate generation, like an ingest loop's
    // steady-state iterations after its first batch
    Dedup.minHashPreflight(t, b, 16, 8, 3)
    Vectors.cosinePreflight(n, c, 2, 16, 64)
    ()
  }
}
