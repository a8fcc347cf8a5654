package graft.pipeline

import java.util.Locale
import java.util.regex.Pattern

/** Robots Exclusion Protocol (RFC 9309) evaluation — the crawl-pipeline
  * operator between URL canonicalization and fetching/extraction: given a
  * site's `robots.txt`, a crawler product token, and a URL path, decide
  * whether the fetch is allowed (plus the de-facto `Crawl-delay`
  * politeness hint, which is not in the RFC but is emitted by a large
  * share of real sites and consumed by every major crawler).
  *
  * Semantics, all from the public spec:
  *  - groups: one or more consecutive `User-agent:` lines share the rule
  *    block that follows (RFC 9309 §2.2.1); a later group naming the same
  *    agent MERGES with the earlier one (§2.2.1 "combine into one group");
  *  - group selection: case-insensitive product-token equality; if no
  *    group names the agent, the `*` group applies; if neither exists,
  *    everything is allowed;
  *  - rule match: `Allow`/`Disallow` values are path-prefix patterns with
  *    `*` (any octet sequence) and a trailing `$` (end anchor) (§2.2.3);
  *    an EMPTY pattern matches nothing (an empty `Disallow:` is the
  *    classic allow-all idiom);
  *  - decision: the MOST SPECIFIC matching rule wins, specificity = octet
  *    length of the raw pattern; on a tie the least restrictive (Allow)
  *    rule wins (§2.2.2); no matching rule → allowed; unparseable input
  *    or lines → ignored (robots.txt is untrusted web content: the
  *    evaluator is total and never throws).
  *
  * Paths are compared byte-literally: inputs are expected canonical
  * (percent-encoding normalization is [[UrlOps.canonicalize]]'s job,
  * upstream of this operator).
  *
  * Scale shape: one robots.txt per SITE is joined/broadcast onto millions
  * of that site's URLs, so the same text is evaluated by many rows per
  * partition. Parsing and regex-compiling per row would dominate; a
  * bounded per-JVM cache keyed by (robots text, agent) makes the hot path
  * a cached-rule scan. The cache clears itself past a bound instead of
  * evicting (robots texts per executor are few — bounded by sites per
  * partition — so clearing is a correctness-neutral safety valve).
  */
object RobotsOps {

  /** One Allow/Disallow rule: raw pattern (for specificity), compiled
    * matcher, and polarity. */
  final case class Rule(allow: Boolean, pattern: String, re: Pattern) {
    def matches(path: String): Boolean = {
      val m = re.matcher(path)
      m.lookingAt()
    }
  }

  /** The rules + crawl-delay that apply to one agent. */
  final case class Policy(rules: Array[Rule], crawlDelay: Option[Double])

  private val EmptyPolicy = Policy(Array.empty, None)

  /** `*` → `.*`, trailing `$` → end anchor, everything else literal; the
    * whole pattern anchors at the path START (prefix semantics), so the
    * compiled form is used with `lookingAt`. */
  private def compilePattern(p: String): Pattern = {
    val anchored = p.endsWith("$")
    val body = if (anchored) p.dropRight(1) else p
    val rx = body.split("\\*", -1).map(Pattern.quote).mkString(".*")
    Pattern.compile(rx + (if (anchored) "$" else ""))
  }

  /** Parse the policy for `agent` out of a robots.txt body. Total: any
    * input yields a policy (garbage lines are skipped per the RFC's
    * parse-what-you-can stance). */
  def parse(robots: String, agent: String): Policy = {
    if (robots == null || agent == null) return EmptyPolicy
    val want = agent.trim.toLowerCase(Locale.ROOT)
    // collect (uaTokens, rules, delay) groups, then merge the applicable ones
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[(List[String], scala.collection.mutable.ArrayBuffer[(Boolean, String)], Option[Double])]
    var uas: List[String] = Nil
    var cur: scala.collection.mutable.ArrayBuffer[(Boolean, String)] = null
    var delay: Option[Double] = None
    var collectingUa = false
    def closeGroup(): Unit = {
      // a group with UA lines but NO rules still exists (it means
      // allow-all for that agent, and its presence stops the fallthrough
      // to the `*` group)
      if (uas.nonEmpty) groups += ((uas,
        if (cur == null) scala.collection.mutable.ArrayBuffer.empty else cur,
        delay))
      uas = Nil; cur = null; delay = None
    }
    robots.split("\r\n|\r|\n", -1).foreach { raw =>
      val line = raw.indexOf('#') match {
        case -1 => raw
        case i  => raw.substring(0, i)
      }
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase(Locale.ROOT)
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (!collectingUa) { closeGroup(); collectingUa = true }
            uas = value.toLowerCase(Locale.ROOT) :: uas
          case "allow" | "disallow" if uas.nonEmpty =>
            collectingUa = false
            if (cur == null) cur = scala.collection.mutable.ArrayBuffer.empty
            if (value.nonEmpty) cur += ((key == "allow", value))
          case "crawl-delay" if uas.nonEmpty =>
            collectingUa = false
            if (cur == null) cur = scala.collection.mutable.ArrayBuffer.empty
            try { val d = value.toDouble; if (!d.isNaN && d >= 0) delay = Some(d) }
            catch { case _: NumberFormatException => }
          case _ => // unknown/misplaced directive: skip (sitemap, junk, …)
        }
      }
    }
    closeGroup()
    def policyFor(p: String => Boolean): Option[Policy] = {
      val hit = groups.filter(_._1.exists(p))
      if (hit.isEmpty) None
      else Some(Policy(
        hit.flatMap(_._2).toArray.map { case (a, pat) =>
          Rule(a, pat, compilePattern(pat))
        },
        hit.flatMap(_._3).headOption))
    }
    policyFor(_ == want).orElse(policyFor(_ == "*")).getOrElse(EmptyPolicy)
  }

  // -------------------------------------------------------- bounded cache
  private val cacheBound = 4096
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Policy]()

  private def cached(robots: String, agent: String): Policy = {
    val key = (robots, agent)
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      if (cache.size() >= cacheBound) cache.clear()
      val p = parse(robots, agent)
      cache.put(key, p)
      p
    }
  }

  /** RFC 9309 §2.2.2 decision for one path. */
  def isAllowed(robots: String, agent: String, path: String): Boolean = {
    if (path == null) return true
    val policy = cached(robots, agent)
    var best: Rule = null
    var bestLen = -1
    var i = 0
    while (i < policy.rules.length) {
      val r = policy.rules(i)
      if (r.matches(path)) {
        val len = r.pattern.length
        // longer wins; on equal length Allow beats Disallow
        if (len > bestLen || (len == bestLen && r.allow && !best.allow)) {
          best = r; bestLen = len
        }
      }
      i += 1
    }
    best == null || best.allow
  }

  /** The agent's crawl-delay in seconds, if its group declares one. */
  def crawlDelay(robots: String, agent: String): Option[Double] =
    cached(robots, agent).crawlDelay
}
