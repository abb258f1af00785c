package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Public-Suffix-List-backed registrable domain ("eTLD+1") — the
  * identity key a crawl pipeline rolls up on. The two-label
  * approximation ([[Url.registrableDomain]]) merges every UK site
  * into `co.uk` and every GitHub Pages site into `github.io`; the PSL
  * algorithm (publicsuffix.org — public data + a published matching
  * algorithm) fixes exactly that.
  *
  * Matching algorithm (publicsuffix.org/list/, verbatim semantics):
  * a rule matches a host when the host ends with the rule's labels;
  * exception rules (`!www.ck`) take priority and name a registrable
  * domain directly; otherwise the PREVAILING rule is the longest
  * match, where a wildcard `*.ck` matches any `<label>.ck`; with no
  * match the implicit default rule `*` applies (the bare TLD is the
  * public suffix). The registrable domain is the public suffix plus
  * one label — NULL when the host IS a public suffix.
  *
  * The rule table here is an embedded SNAPSHOT SUBSET of the list
  * (ICANN section staples + the high-traffic private-section
  * entries), suitable for this container's zero-egress build; a
  * production deploy swaps [[Psl.snapshotLines]] for the full
  * published file — same parser, same kernel, and table size only
  * changes the one plan-reference constant (the ~240 KB full list is
  * still model-sized). Entries follow the list's own line syntax so
  * the swap is a file paste.
  */
object Psl {

  /** Snapshot subset of publicsuffix.org (retrieved list syntax:
    * plain rule, `*.` wildcard, `!` exception). ICANN staples first,
    * then private-section platform suffixes.
    */
  val snapshotLines: Seq[String] = Seq(
    // generic TLDs
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz",
    "io", "co", "ai", "app", "dev", "xyz", "me", "tv", "cc",
    // ccTLDs with flat registration
    "de", "fr", "it", "nl", "es", "se", "no", "fi", "dk", "pl", "ch",
    "at", "be", "ca", "us", "ru", "cn", "jp", "kr", "in", "br", "mx",
    "ar", "cl", "za", "nz", "sg", "hk", "tw", "tr", "ir", "ua", "cz",
    "gr", "pt", "ro", "hu", "il", "uk", "au", "eu", "is", "ie",
    // United Kingdom second-level
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk",
    "ac.uk", "gov.uk", "nhs.uk", "police.uk", "sch.uk",
    // Australia
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    // Japan second-level + the city wildcards with their exceptions
    "co.jp", "ne.jp", "or.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    "*.kawasaki.jp", "*.kitakyushu.jp", "*.kobe.jp", "*.nagoya.jp",
    "*.sapporo.jp", "*.sendai.jp", "*.yokohama.jp",
    "!city.kawasaki.jp", "!city.kitakyushu.jp", "!city.kobe.jp",
    "!city.nagoya.jp", "!city.sapporo.jp", "!city.sendai.jp",
    "!city.yokohama.jp",
    // other common second-level registries
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "ac.in", "edu.in",
    "gov.in", "res.in",
    "co.nz", "net.nz", "org.nz", "ac.nz", "govt.nz", "school.nz",
    "co.za", "net.za", "org.za", "gov.za", "ac.za", "web.za",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar",
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk",
    "co.kr", "ne.kr", "or.kr", "re.kr", "go.kr", "ac.kr",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw",
    "co.il", "net.il", "org.il", "ac.il", "gov.il",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl",
    "com.ru", "net.ru", "org.ru",
    // wildcard-only TLDs (every second-level name is a registry)
    "*.ck", "!www.ck", "*.bd", "*.er", "*.fk", "*.mm", "*.np", "*.pg",
    // private section: hosting-platform suffixes a crawl sees constantly
    "github.io", "gitlab.io", "gitbook.io", "blogspot.com",
    "wordpress.com", "tumblr.com", "herokuapp.com", "netlify.app",
    "vercel.app", "web.app", "firebaseapp.com", "azurewebsites.net",
    "cloudfront.net", "s3.amazonaws.com", "pages.dev", "workers.dev",
    "repl.co", "glitch.me", "neocities.org", "readthedocs.io",
    "surge.sh", "onrender.com", "fly.dev",
  )

  /** Parsed rule table, shipped to executors once as a plan-reference
    * constant (java HashSets: O(1) probes from generated code).
    */
  final class Rules(lines: Seq[String]) extends Serializable {
    val normal = new java.util.HashSet[String]()
    val wildcards = new java.util.HashSet[String]()   // base after "*."
    val exceptions = new java.util.HashSet[String]()  // rule after "!"
    var maxLabels = 1
    lines.foreach { raw =>
      val line = raw.trim.toLowerCase(java.util.Locale.ROOT)
      if (line.nonEmpty && !line.startsWith("//")) {
        val labels = line.count(_ == '.') + 1
        if (line.startsWith("!")) {
          exceptions.add(line.substring(1))
          maxLabels = math.max(maxLabels, labels)
        } else if (line.startsWith("*.")) {
          wildcards.add(line.substring(2))
          maxLabels = math.max(maxLabels, labels)
        } else {
          normal.add(line)
          maxLabels = math.max(maxLabels, labels)
        }
      }
    }
  }

  /** The embedded snapshot, parsed once per JVM. */
  lazy val snapshot: Rules = new Rules(snapshotLines)

  /** Column API: registrable domain of a HOST column (already
    * extracted/lowercased by the caller, e.g. `parse_url(url, 'HOST')`
    * — the kernel lowercases defensively anyway). NULL for hosts that
    * are themselves public suffixes, empty, or malformed.
    */
  def registrableDomain(host: Column, rules: Rules = snapshot): Column =
    Kernel.column("graft_psl_domain", PslKernel, "registrable", StringType,
      Seq(host), Seq(StringType), Seq(rules), returnNullable = true)
}

/** Registrable domain of a host under a LITERAL PSL rule table (a
  * plan-reference constant, the [[BpeSegmentKernel]] model-constant
  * pattern), inside whole-stage codegen via one static kernel call;
  * nullable output (a host that IS a public suffix has no registrable
  * domain).
  */
object PslKernel {
  /** publicsuffix.org matching over a parsed [[Psl.Rules]] table.
    * Returns null for: empty host, a host with empty labels
    * (`a..b`, leading/double dots), or a host that IS a public
    * suffix (no registrable domain exists).
    */
  def registrable(hostU: UTF8String, psl: Psl.Rules): UTF8String = {
    var h = hostU.toString.toLowerCase(java.util.Locale.ROOT)
    if (h.endsWith(".")) h = h.substring(0, h.length - 1) // FQDN root dot
    if (h.isEmpty) return null
    val labels = h.split('.')
    val n = labels.length
    var i = 0
    while (i < n) { if (labels(i).isEmpty) return null; i += 1 }

    @inline def suffix(k: Int): String = {
      val sb = new java.lang.StringBuilder()
      var j = n - k
      while (j < n) {
        if (j > n - k) sb.append('.')
        sb.append(labels(j))
        j += 1
      }
      sb.toString
    }

    // exception rules take priority over everything: the exception IS
    // the registrable domain (its public suffix is the rule minus its
    // leftmost label)
    val kMax = math.min(n, psl.maxLabels)
    var k = 1
    while (k <= kMax) {
      val s = suffix(k)
      if (psl.exceptions.contains(s)) return UTF8String.fromString(s)
      k += 1
    }
    // prevailing rule = longest match; implicit default rule "*" → 1
    var p = 1
    k = 1
    while (k <= math.min(n, psl.maxLabels)) {
      val s = suffix(k)
      if (psl.normal.contains(s)) p = math.max(p, k)
      if (k >= 2 && psl.wildcards.contains(suffix(k - 1))) p = math.max(p, k)
      k += 1
    }
    if (n <= p) null else UTF8String.fromString(suffix(p + 1))
  }
}
