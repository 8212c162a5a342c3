package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parsed Public Suffix List rules, bucketed by the shape the
  * registrable-domain column rule consumes. Label counts are the rule's
  * dispatch key, so suffixes arrive pre-sorted by length: exact 2-label
  * (`co.uk`, `github.io`), exact 3-label (`s3.amazonaws.com`,
  * `blogspot.co.uk`), single-label wildcards (`*.ck` → `ck`), and the
  * 2-label exception names that cancel a wildcard (`!www.ck` → `www.ck`).
  * `unsupported` records every rule the column path does NOT express
  * (4+-label suffixes, multi-label wildcards like `*.compute.amazonaws
  * .com`, deep exceptions) — surfaced, never silently dropped, so a
  * caller loading the FULL PSL can see exactly what coverage it bought.
  */
final case class PslRules(
    exact2: Seq[String],
    exact3: Seq[String],
    wildcardTlds: Seq[String],
    exceptions: Seq[String],
    unsupported: Seq[String])

/** Public Suffix List loader + the PSL-aware registrable-domain rule.
  *
  * `Url.registrableDomain` keeps its deliberately tiny pinned default —
  * the catalog oracles stay stable on it — while this object gives the
  * production path: parse a real PSL-format file (publicsuffix.org), or
  * the bundled snapshot subset (`public_suffix_snapshot.dat`, ~170 rules
  * covering the `github.io`/`blogspot.com`/`co.nz` class a pretraining
  * crawl hits immediately), and constant-fold the rules into the same
  * narrow codegen'd column arithmetic. No UDFs, no join — at ~10 k full-
  * PSL entries the `isin` lowers to an `InSet` hash probe per row, which
  * is the broadcast-a-tiny-dim decision made for free.
  *
  * PSL semantics implemented (the publicsuffix.org algorithm restricted
  * to the rule shapes below; everything else lands in `unsupported`):
  *   - longest matching suffix wins (3-label exact > 2-label exact >
  *     single-label wildcard > implicit 1-label default);
  *   - `*.tld` wildcards make every 2-label suffix under `tld` public;
  *   - `!name` exceptions cancel the wildcard for that exact name;
  *   - a host that IS a bare public suffix passes through unchanged
  *     (the `Url.registrableDomain` convention), as do bracketed IP
  *     literals and hosts of ≤ 2 labels.
  */
object Psl {

  val SnapshotResource = "/graft/public_suffix_snapshot.dat"

  /** Parse PSL-format lines: strip comments (`//`) and blanks, take each
    * rule up to the first whitespace (the PSL spec's rule), lowercase.
    */
  /** Label alphabet a well-formed PSL rule may use after the `!`/`*.`
    * marker is stripped: letters and digits of ANY script, dot, dash —
    * the real publicsuffix.org list carries its IDN rules as raw
    * U-labels (the xn-- punycode forms appear only in comments), so an
    * ASCII-only alphabet would silently drop them and resolve hosts
    * under those suffixes to the wrong apex. What stays excluded is
    * exactly the dangerous residue: quotes (which would break out of
    * the single-quoted SQL IN-lists the oracle twin interpolates rule
    * strings into — belt alongside sqlIn's escaping), whitespace,
    * control characters, and punctuation that no hostname label can
    * carry. Offenders route to `unsupported` (subset parser) or are
    * dropped (parseFull) instead of entering the rule buckets.
    * `Psl.load` accepts arbitrary files, so this is input validation.
    * Matching is by the parsed form: a U-label rule matches U-label
    * hosts — normalize hosts to the same form (IDNA) upstream if a
    * corpus mixes encodings.
    */
  private val WellFormedLabels = "^[\\p{L}\\p{N}.-]+$".r

  def parse(lines: Iterator[String]): PslRules = {
    val e2 = Seq.newBuilder[String]; val e3 = Seq.newBuilder[String]
    val wc = Seq.newBuilder[String]; val ex = Seq.newBuilder[String]
    val un = Seq.newBuilder[String]
    lines.foreach { raw =>
      val line = raw.trim.takeWhile(!_.isWhitespace).toLowerCase
      if (line.nonEmpty && !line.startsWith("//")) {
        val body =
          if (line.startsWith("!")) line.drop(1)
          else if (line.startsWith("*.")) line.drop(2) else line
        if (WellFormedLabels.findFirstIn(body).isEmpty) un += line
        else if (line.startsWith("!")) {
          val name = line.drop(1)
          if (name.count(_ == '.') == 1) ex += name else un += line
        } else if (line.startsWith("*.")) {
          val tail = line.drop(2)
          if (!tail.contains('.') && tail.nonEmpty) wc += tail else un += line
        } else line.count(_ == '.') match {
          case 0 => () // single-label TLD: the implicit default rule
          case 1 => e2 += line
          case 2 => e3 += line
          case _ => un += line
        }
      }
    }
    PslRules(e2.result().distinct, e3.result().distinct,
      wc.result().distinct, ex.result().distinct, un.result().distinct)
  }

  /** The bundled snapshot (classpath resource) — parsed once per JVM. */
  lazy val snapshot: PslRules = {
    val in = getClass.getResourceAsStream(SnapshotResource)
    require(in != null, s"missing classpath resource $SnapshotResource")
    try parse(scala.io.Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }

  /** Production path: parse a full PSL file from disk (the driver ships
    * it next to the job; ~10 k rules parse in milliseconds).
    */
  def load(path: String): PslRules = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try parse(src.getLines()) finally src.close()
  }

  // isin() over an empty list is vacuously false, but spell it lit(false)
  // so an empty bucket contributes NO branch work at all.
  private def inSet(c: Column, vals: Seq[String]): Column =
    if (vals.isEmpty) lit(false) else c.isin(vals: _*)

  /** Registrable domain (eTLD+1) of a lowercased host under `rules` —
    * the PSL-aware generalization of `Url.registrableDomain`. Pure
    * split/element_at/InSet column arithmetic; branch conditions carry
    * their own size guards so no out-of-range `element_at` ever
    * evaluates (CaseWhen short-circuits per row).
    */
  def registrableDomain(hostCol: Column,
                        rules: PslRules = snapshot): Column = {
    val parts = split(hostCol, "\\.")
    def lastN(n: Int): Column =
      concat_ws(".", (n to 1 by -1).map(i => element_at(parts, -i)): _*)
    val (last2, last3, last4) = (lastN(2), lastN(3), lastN(4))
    val tld = element_at(parts, -1)
    when(hostCol.startsWith("[") || size(parts) <= 2, hostCol)
      .when(inSet(last2, rules.exceptions), last2)
      .when(size(parts) >= 4 && inSet(last3, rules.exact3), last4)
      .when(inSet(last3, rules.exact3), hostCol) // bare 3-label suffix
      .when(inSet(last2, rules.exact2), last3)
      .when(inSet(tld, rules.wildcardTlds), last3)
      .otherwise(last2)
  }

  // Belt to parse()'s braces: double any single quote so an adversarial
  // rule string can never terminate the literal it is interpolated into.
  private def sqlIn(e: String, vals: Seq[String]): String =
    if (vals.isEmpty) "FALSE"
    else s"$e IN (${vals.map(v => s"'${v.replace("'", "''")}'").mkString(", ")})"

  /** DuckDB replay of `registrableDomain(h, rules)` — the catalog emits
    * this from the SAME parsed rules, so the suffix set cannot drift
    * between engines. (DuckDB list indexing is NULL-safe out of range;
    * the length guards keep the branches aligned with the Spark rule
    * anyway.)
    */
  def registrableDomainSql(h: String, rules: PslRules = snapshot): String = {
    def lastN(n: Int): String =
      (n to 1 by -1).map(i => s"(string_split($h, '.'))[-$i]")
        .mkString(" || '.' || ")
    val (last2, last3, last4) = (lastN(2), lastN(3), lastN(4))
    val len = s"len(string_split($h, '.'))"
    s"""CASE WHEN $h LIKE '[%' OR $len <= 2 THEN $h
       |  WHEN ${sqlIn(last2, rules.exceptions)} THEN $last2
       |  WHEN $len >= 4 AND ${sqlIn(last3, rules.exact3)} THEN $last4
       |  WHEN ${sqlIn(last3, rules.exact3)} THEN $h
       |  WHEN ${sqlIn(last2, rules.exact2)} THEN $last3
       |  WHEN ${sqlIn(s"(string_split($h, '.'))[-1]", rules.wildcardTlds)}
       |    THEN $last3
       |  ELSE $last2
       |END""".stripMargin
  }

  // ------------------------------------------------------------------
  // FULL PSL: the longest-suffix-match JOIN path. The CaseWhen above is
  // the fast subset (≤3-label exacts, 1-label wildcards, 2-label
  // exceptions); the general publicsuffix.org algorithm needs rules of
  // ANY label count (`*.compute.amazonaws.com`,
  // `s3.dualstack.us-east-1.amazonaws.com`, `!city.kawasaki.jp`), which
  // a per-shape CaseWhen cannot express without a branch per rule. The
  // general form: explode each host into its ≤K trailing-label candidate
  // suffixes (K = the rule table's max key length, 5 for the real PSL),
  // broadcast-join the tiny rule table once per candidate length (K
  // shuffle-FREE broadcast hash joins, no explode/groupBy round-trip per
  // host), and resolve precedence per the spec — exception rules prevail
  // outright, otherwise the rule with the most labels — as pure column
  // arithmetic over the matched flags. O(K·n) row work, rule table
  // broadcast once, works unchanged at 10 k rules.
  // ------------------------------------------------------------------

  /** One aggregated full-PSL rule row: `key` is the rule's literal label
    * suffix (the `*.`/`!` marker stripped), `keyLabels` its label count,
    * and the three flags record which rule KINDS carry this key —
    * a key can in principle be both an exact rule and an exception.
    * Semantics per kind for a host whose trailing `keyLabels` labels
    * equal `key` (public-suffix label count `ps`):
    *   exact     → ps = keyLabels
    *   wildcard  → ps = keyLabels + 1 (requires host labels ≥ that)
    *   exception → ps = keyLabels − 1, prevails over everything
    */
  final case class PslRule(key: String, keyLabels: Int,
                           exact: Boolean, wildcard: Boolean,
                           exception: Boolean)

  /** Parse PSL-format lines into the general rule table — EVERY
    * well-formed rule shape, nothing routed to `unsupported` (the whole
    * point of the join path). Ill-formed rules (chars outside the
    * hostname alphabet, bare `*.`/`!`) are dropped; single-label exact
    * rules (the real PSL enumerates every TLD) are kept — they resolve
    * to ps = 1, the implicit default, so they cost one broadcast row and
    * change nothing, but keeping them means a full publicsuffix.org file
    * round-trips losslessly.
    */
  def parseFull(lines: Iterator[String]): Seq[PslRule] = {
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[String, (Boolean, Boolean, Boolean)]
    def add(key: String, e: Boolean, w: Boolean, x: Boolean): Unit = {
      val (pe, pw, px) = acc.getOrElse(key, (false, false, false))
      acc(key) = (pe || e, pw || w, px || x)
    }
    lines.foreach { raw =>
      val line = raw.trim.takeWhile(!_.isWhitespace).toLowerCase
      if (line.nonEmpty && !line.startsWith("//")) {
        val body =
          if (line.startsWith("!")) line.drop(1)
          else if (line.startsWith("*.")) line.drop(2) else line
        if (body.nonEmpty && WellFormedLabels.findFirstIn(body).isDefined) {
          if (line.startsWith("!")) add(body, e = false, w = false, x = true)
          else if (line.startsWith("*.")) add(body, e = false, w = true, x = false)
          else add(body, e = true, w = false, x = false)
        }
      }
    }
    acc.iterator.map { case (k, (e, w, x)) =>
      PslRule(k, k.count(_ == '.') + 1, e, w, x)
    }.toSeq
  }

  private def resource(path: String): Seq[String] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing classpath resource $path")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  val SnapshotExtResource = "/graft/public_suffix_snapshot_ext.dat"

  /** The bundled FULL-format snapshot: the subset snapshot plus the
    * general-shape extension rules, through the general parser.
    */
  lazy val snapshotFull: Seq[PslRule] = parseFull(
    (resource(SnapshotResource) ++ resource(SnapshotExtResource)).iterator)

  /** Registrable domain under the FULL PSL algorithm, as `outCol` on
    * `df`. K broadcast hash joins (one per rule label count — all tiny,
    * all shuffle-free, whole-stage codegen around them), then the
    * precedence fold:
    *   ps = longest matching exception's (labels − 1) if any exception
    *        matched, else max over matches of exact→labels /
    *        wildcard→labels+1 (wildcard only when the host actually HAS
    *        the extra label), else 1 (the implicit `*` default);
    *   domain = host unchanged when it IS a bare public suffix (or a
    *            bracketed IP literal — `Url.registrableDomain`'s
    *            conventions), else the trailing ps+1 labels.
    * Candidate suffixes are null when the host is too short — a null
    * equi-join key matches nothing, which is exactly the guard
    * `element_at` needs anyway.
    */
  def withRegistrableDomainFull(df: DataFrame, hostCol: Column,
                                outCol: String,
                                rules: Seq[PslRule] = snapshotFull): DataFrame = {
    require(rules.nonEmpty, "empty PSL rule table")
    val spark = df.sparkSession
    import spark.implicits._
    val maxK = rules.map(_.keyLabels).max
    val parts = split(hostCol, "\\.")
    def lastN(k: Int): Column =
      concat_ws(".", (k to 1 by -1).map(i => element_at(parts, -i)): _*)
    var cur = df.withColumn("__n", size(parts))
    for (k <- 1 to maxK)
      cur = cur.withColumn(s"__c$k", when(col("__n") >= k, lastN(k)))
    for (k <- 1 to maxK) {
      val rk = rules.filter(_.keyLabels == k)
      cur =
        if (rk.isEmpty)
          cur.withColumn(s"__e$k", lit(null).cast("boolean"))
            .withColumn(s"__w$k", lit(null).cast("boolean"))
            .withColumn(s"__x$k", lit(null).cast("boolean"))
        else {
          val rdf = rk.map(r => (r.key, r.exact, r.wildcard, r.exception))
            .toDF(s"__k$k", s"__e$k", s"__w$k", s"__x$k")
          cur.join(broadcast(rdf), cur(s"__c$k") === rdf(s"__k$k"), "left")
            .drop(s"__k$k")
        }
    }
    // longest-first coalesce = max over matches, with no engine-specific
    // greatest()-vs-NULL semantics to trip the oracle twin
    val excPs = coalesce(
      (maxK to 1 by -1).map(k => when(col(s"__x$k"), lit(k - 1))): _*)
    val normPs = coalesce(
      ((maxK + 1) to 2 by -1).map { v =>
        val exactHit =
          if (v <= maxK) coalesce(col(s"__e$v"), lit(false)) else lit(false)
        val wildHit = coalesce(col(s"__w${v - 1}"), lit(false)) &&
          col("__n") >= v
        when(exactHit || wildHit, lit(v))
      } :+ lit(1): _*)
    val ps = coalesce(excPs, normPs)
    val domain = when(hostCol.startsWith("[") || col("__n") <= ps, hostCol)
      .otherwise(array_join(slice(parts, col("__n") - ps, ps + lit(1)), "."))
    val helpers = Seq("__n") ++ (1 to maxK).flatMap(k =>
      Seq(s"__c$k", s"__e$k", s"__w$k", s"__x$k"))
    cur.withColumn(outCol, domain).drop(helpers: _*)
  }

  private def sqlQ(v: String): String = s"'${v.replace("'", "''")}'"

  /** DuckDB replay of `withRegistrableDomainFull` — the SAME K left
    * joins over a VALUES rule table built from the SAME parsed rules,
    * the same longest-first coalesce precedence, the same slice
    * arithmetic. Returns a complete relation (parenthesize to nest):
    * `SELECT <keep cols>, <outCol> FROM <srcRel> ...`. Lines never BEGIN
    * with `|`/`||` (catalog stripMargin interpolation trap).
    */
  def registrableDomainFullSql(srcRel: String, hostExpr: String,
                               keep: Seq[String], outCol: String,
                               rules: Seq[PslRule] = snapshotFull): String = {
    require(rules.nonEmpty, "empty PSL rule table")
    val maxK = rules.map(_.keyLabels).max
    val keepList = keep.mkString(", ")
    val cands = (1 to maxK).map { k =>
      s"CASE WHEN __n >= $k THEN array_to_string(" +
        s"list_slice(__parts, __n - ${k - 1}, __n), '.') END AS __c$k"
    }.mkString(",\n    ")
    val base =
      s"SELECT $keepList, $hostExpr AS __host,\n" +
      s"    string_split($hostExpr, '.') AS __parts,\n" +
      s"    len(string_split($hostExpr, '.')) AS __n\n" +
      s"  FROM $srcRel"
    val withCands = s"SELECT *,\n    $cands\n  FROM ($base) __b0"
    val joinFlags = (1 to maxK).map { k =>
      val rk = rules.filter(_.keyLabels == k)
      if (rk.isEmpty)
        (s"CAST(NULL AS BOOLEAN) AS __e$k, CAST(NULL AS BOOLEAN) AS __w$k," +
          s" CAST(NULL AS BOOLEAN) AS __x$k", "")
      else {
        val vals = rk.map(r =>
          s"(${sqlQ(r.key)}, ${r.exact}, ${r.wildcard}, ${r.exception})")
          .mkString(", ")
        (s"__r$k.e AS __e$k, __r$k.w AS __w$k, __r$k.x AS __x$k",
          s"  LEFT JOIN (VALUES $vals) __r$k(k, e, w, x)" +
            s" ON __b.__c$k = __r$k.k\n")
      }
    }
    val flagCols = joinFlags.map(_._1).mkString(",\n    ")
    val joins = joinFlags.map(_._2).mkString
    val joined =
      s"SELECT __b.*,\n    $flagCols\n  FROM ($withCands) __b\n$joins"
    val excPs = (maxK to 1 by -1)
      .map(k => s"CASE WHEN __x$k THEN ${k - 1} END").mkString(", ")
    val normPs = (((maxK + 1) to 2 by -1).map { v =>
      val exactHit = if (v <= maxK) s"coalesce(__e$v, FALSE)" else "FALSE"
      s"CASE WHEN $exactHit OR (coalesce(__w${v - 1}, FALSE)" +
        s" AND __n >= $v) THEN $v END"
    } :+ "1").mkString(", ")
    val withPs =
      s"SELECT *, coalesce(coalesce($excPs), coalesce($normPs)) AS __ps\n" +
      s"  FROM ($joined) __j"
    s"SELECT $keepList,\n" +
    s"  CASE WHEN __host LIKE '[%' OR __n <= __ps THEN __host\n" +
    s"    ELSE array_to_string(list_slice(__parts, __n - __ps, __n), '.')\n" +
    s"  END AS $outCol\n" +
    s"FROM ($withPs) __p"
  }
}
