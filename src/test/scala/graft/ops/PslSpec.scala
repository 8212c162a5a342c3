package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** ops/Psl — PSL-format parsing + the PSL-aware registrable-domain rule.
  * The `curate_domain_psl` catalog oracle proves the rule end-to-end over
  * the md5 host fixture (both engines consuming the SAME parsed snapshot);
  * these pin the parser buckets and the rule's precedence edges by hand.
  */
class PslSpec extends SparkSpec {

  import spark.implicits._

  test("parse: buckets by rule shape, strips comments/whitespace, " +
      "lowercases, dedups, and surfaces unsupported shapes") {
    val rules = Psl.parse(Iterator(
      "// comment", "", "  ", "com", "CO.UK ", "co.uk",
      "s3.amazonaws.com", "*.ck", "!www.ck",
      "blogspot.co.uk",
      "a.b.c.d",                 // 4-label exact: unsupported
      "*.compute.amazonaws.com", // multi-label wildcard: unsupported
      "!city.deep.kobe.jp"))     // deep exception: unsupported
    assert(rules.exact2 == Seq("co.uk"))
    assert(rules.exact3 == Seq("s3.amazonaws.com", "blogspot.co.uk"))
    assert(rules.wildcardTlds == Seq("ck"))
    assert(rules.exceptions == Seq("www.ck"))
    assert(rules.unsupported ==
      Seq("a.b.c.d", "*.compute.amazonaws.com", "!city.deep.kobe.jp"))
  }

  test("snapshot resource parses with zero unsupported rules and covers " +
      "the github.io/co.nz class") {
    val s = Psl.snapshot
    assert(s.unsupported.isEmpty, s"snapshot has unexpressible rules: ${s.unsupported}")
    assert(s.exact2.contains("github.io") && s.exact2.contains("co.nz") &&
      s.exact2.contains("blogspot.com") && s.exact3.contains("s3.amazonaws.com"))
    assert(s.wildcardTlds == Seq("ck") && s.exceptions == Seq("www.ck"))
    assert(s.exact2.size + s.exact3.size + s.wildcardTlds.size > 150)
  }

  private def domains(hs: Seq[String]): Seq[String] =
    hs.toDF("h").select(Psl.registrableDomain(col("h")).as("d"))
      .as[String].collect().toSeq

  test("registrableDomain(snapshot): longest suffix wins, wildcards and " +
      "exceptions apply, bare suffixes and IP literals pass through") {
    val cases = Seq(
      "www.example.com"          -> "example.com",  // implicit 1-label
      "user.github.io"           -> "user.github.io",
      "a.b.user.github.io"       -> "user.github.io",
      "github.io"                -> "github.io",    // bare suffix
      "shop.example.co.nz"       -> "example.co.nz",
      "blog7.blogspot.com"       -> "blog7.blogspot.com",
      "me.blogspot.co.uk"        -> "me.blogspot.co.uk", // 3-label beats co.uk
      "blogspot.co.uk"           -> "blogspot.co.uk",    // bare 3-label suffix
      "bucket.s3.amazonaws.com"  -> "bucket.s3.amazonaws.com",
      "x.bucket.s3.amazonaws.com" -> "bucket.s3.amazonaws.com",
      "foo.example.ck"           -> "foo.example.ck", // *.ck wildcard
      "a.foo.example.ck"         -> "foo.example.ck",
      "foo.www.ck"               -> "www.ck",         // !www.ck exception
      "www.ck"                   -> "www.ck",
      "deep.a.site.co.uk"        -> "site.co.uk",
      "localhost"                -> "localhost",
      "[::1]"                    -> "[::1]")
    val got = domains(cases.map(_._1))
    cases.zip(got).foreach { case ((h, want), d) =>
      assert(d == want, s"$h → $d, want $want")
    }
  }

  test("a full-PSL-format file loads through the same parser (loader " +
      "path) and a custom rule set overrides the snapshot") {
    val f = java.io.File.createTempFile("psl", ".dat")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath,
      "// test psl\nexample\ncustom.zz\n*.ww\n!ok.ww\n")
    val r = Psl.load(f.getAbsolutePath)
    assert(r.exact2 == Seq("custom.zz") && r.wildcardTlds == Seq("ww") &&
      r.exceptions == Seq("ok.ww"))
    // under the SNAPSHOT the suffix is unknown → default last-2 rule
    assert(domains(Seq("a.b.custom.zz")) == Seq("custom.zz"))
    val got = Seq("a.b.custom.zz", "x.y.ww", "sub.ok.ww")
      .toDF("h").select(Psl.registrableDomain(col("h"), r).as("d"))
      .as[String].collect().toSeq
    assert(got == Seq("b.custom.zz", "x.y.ww", "ok.ww"))
  }

  // ---- full-PSL join path -------------------------------------------

  test("parseFull: keeps EVERY well-formed rule shape (1-label TLDs, " +
      "4+-label exacts, multi-label wildcards, deep exceptions), merges " +
      "kinds per key, drops ill-formed lines") {
    val r = Psl.parseFull(Iterator(
      "// c", "", "com", "co.uk", "s3.dualstack.us-east-1.amazonaws.com",
      "*.compute.amazonaws.com", "!city.kawasaki.jp", "*.kawasaki.jp",
      "CO.UK", "bad'quote.zz", "*.", "!",
      "公司.cn")) // IDN U-label rule, as the real list spells them
    val byKey = r.map(x => x.key -> x).toMap
    assert(byKey("公司.cn").exact && byKey("公司.cn").keyLabels == 2)
    assert(byKey("com").keyLabels == 1 && byKey("com").exact)
    assert(byKey("co.uk").exact && byKey("co.uk").keyLabels == 2)
    assert(byKey("s3.dualstack.us-east-1.amazonaws.com").keyLabels == 5)
    assert(byKey("compute.amazonaws.com").wildcard &&
      byKey("compute.amazonaws.com").keyLabels == 3)
    assert(byKey("city.kawasaki.jp").exception)
    assert(byKey("kawasaki.jp").wildcard)
    assert(!byKey.contains("bad'quote.zz") && !byKey.contains(""))
    assert(r.size == 7)
  }

  test("snapshotFull covers the general shapes the CaseWhen subset " +
      "routes to unsupported") {
    val keys = Psl.snapshotFull.map(_.key).toSet
    assert(keys.contains("compute.amazonaws.com") &&
      keys.contains("s3.dualstack.us-east-1.amazonaws.com") &&
      keys.contains("kawasaki.jp") && keys.contains("city.kawasaki.jp"))
    // and the whole subset snapshot rides along
    assert(keys.contains("github.io") && keys.contains("co.nz") &&
      keys.contains("ck") && keys.contains("www.ck"))
  }

  private def domainsFull(hs: Seq[String]): Seq[String] =
    Psl.withRegistrableDomainFull(hs.toDF("h"), col("h"), "d")
      .select(col("d")).as[String].collect().toSeq

  test("withRegistrableDomainFull: general rules resolve correctly AND " +
      "diverge from the CaseWhen subset path exactly where the subset " +
      "lacks the rule shape") {
    val cases = Seq(
      // shapes both paths express — identical answers
      "www.example.com"            -> "example.com",
      "a.b.user.github.io"         -> "user.github.io",
      "x.bucket.s3.amazonaws.com"  -> "bucket.s3.amazonaws.com",
      "a.foo.example.ck"           -> "foo.example.ck",
      "foo.www.ck"                 -> "www.ck",
      "github.io"                  -> "github.io", // bare suffix
      "[::1]"                      -> "[::1]",
      "localhost"                  -> "localhost",
      // general shapes — ONLY the join path gets these right
      "ec2-1-2-3.us-west-2.compute.amazonaws.com"
        -> "ec2-1-2-3.us-west-2.compute.amazonaws.com",
      "foo.city.kawasaki.jp"       -> "city.kawasaki.jp",
      "a.b.kawasaki.jp"            -> "a.b.kawasaki.jp",
      "cdn.s3.dualstack.us-east-1.amazonaws.com"
        -> "cdn.s3.dualstack.us-east-1.amazonaws.com",
      // bare wildcard-made suffix passes through; one-below-wildcard too
      "us-west-2.compute.amazonaws.com"
        -> "us-west-2.compute.amazonaws.com",
      "kawasaki.jp"                -> "kawasaki.jp")
    val got = domainsFull(cases.map(_._1))
    cases.zip(got).foreach { case ((h, want), d) =>
      assert(d == want, s"$h → $d, want $want")
    }
    // the divergence is REAL: the subset CaseWhen gives a different
    // (wrong-ish) apex for each general-shape host
    val diverge = Seq("ec2-1-2-3.us-west-2.compute.amazonaws.com",
      "foo.city.kawasaki.jp", "a.b.kawasaki.jp",
      "cdn.s3.dualstack.us-east-1.amazonaws.com")
    val subset = domains(diverge)
    assert(subset == Seq("amazonaws.com", "kawasaki.jp", "kawasaki.jp",
      "amazonaws.com"))
    val full = domainsFull(diverge)
    diverge.indices.foreach(i => assert(full(i) != subset(i),
      s"${diverge(i)}: expected divergence, both gave ${full(i)}"))
  }

  test("withRegistrableDomainFull: exception prevails over wildcard AND " +
      "exact; longest rule wins among exact/wildcard; wildcard needs the " +
      "extra label present") {
    val rules = Psl.parseFull(Iterator(
      "zz", "b.zz", "*.b.zz", "!ex.b.zz", "c.b.zz"))
    val got = Psl.withRegistrableDomainFull(
      Seq("x.b.zz",        // exact b.zz → ps 2 → x.b.zz
        "q.x.b.zz",        // wildcard *.b.zz (ps 3) beats exact b.zz → whole
        "q.ex.b.zz",       // exception !ex.b.zz → ps 2 → ex.b.zz
        "w.c.b.zz",        // exact c.b.zz (ps 3) → whole (4 labels)
        "v.w.c.b.zz",      // wildcard+exact both at 3 labels → ps max = 4
        "b.zz"             // bare public suffix → unchanged
      ).toDF("h"), col("h"), "d", rules)
      .select(col("d")).as[String].collect().toSeq
    assert(got == Seq("x.b.zz", "q.x.b.zz", "ex.b.zz", "w.c.b.zz",
      "w.c.b.zz", "b.zz"))
  }
}
