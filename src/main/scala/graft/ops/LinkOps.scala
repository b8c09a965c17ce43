package graft.ops

import graft.kernel.{ExtractKernel, HtmlDom}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.control.NonFatal

/** Web-graph operators over the Common-Crawl-style north-rule table:
  * outlink extraction (`<a href>` + RFC-3986-style reference resolution),
  * host-graph aggregation, and an integral fixed-iteration PageRank over
  * the host graph — the quality/centrality signal web-scale corpus
  * curation uses alongside the per-document filters (host reputation as a
  * selection feature; cf. the host-level prioritization discussion in the
  * Common Crawl / RefinedWeb lineage).
  *
  * Scale shape: extraction is map-only (the HTML parse rides the same
  * per-partition kernel discipline as ExtractPipeline); the host graph is
  * a payload-free (src_host, dst_host) hash aggregation; PageRank shuffles
  * only (node:string, rank:long) pairs per iteration, one [[Rounds]]
  * round each.
  * Ranks use scaled-integer arithmetic (`DIV`) end to end, so a DuckDB
  * replay of the same iteration ladder is engine-exact — no float
  * accumulation order can flip a rank.
  */
object LinkOps {

  /** Resolve an href against a base url, RFC 3986 §5.2-style (the subset
    * a crawler needs): absolute http/https pass through; protocol-relative
    * (`//h/p`) take the base scheme; root-relative (`/p`) take the base
    * authority; path-relative merge with the base path and have dot
    * segments removed; fragment-only refs and non-http(s) schemes
    * (mailto:, javascript:, data:, ...) resolve to None. Fragments are
    * stripped from every result; queries are kept. */
  def resolveUrl(base: String, href0: String): Option[String] = {
    val href = {
      val h = href0.trim
      val f = h.indexOf('#')
      if (f >= 0) h.substring(0, f) else h
    }
    if (href.isEmpty) return None // fragment-only or empty
    val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*):".r
    val baseM = "^(https?)://([^/?#]+)([^?#]*)".r.findFirstMatchIn(base)
    SchemeRe.findFirstMatchIn(href) match {
      case Some(m) =>
        val sch = m.group(1).toLowerCase
        if (sch == "http" || sch == "https") Some(href) else None
      case None =>
        baseM.flatMap { bm =>
          val (scheme, auth, bpath) = (bm.group(1), bm.group(2), bm.group(3))
          if (href.startsWith("//")) Some(s"$scheme:$href")
          else if (href.startsWith("/")) Some(s"$scheme://$auth${removeDotSegments(href)}")
          else {
            // merge: drop the base path's last segment, append the ref
            val dir = bpath.lastIndexOf('/') match {
              case -1 => "/"
              case i  => bpath.substring(0, i + 1)
            }
            Some(s"$scheme://$auth${removeDotSegments(dir + href)}")
          }
        }
    }
  }

  /** RFC 3986 §5.2.4 dot-segment removal over a path (query preserved). */
  private def removeDotSegments(pathAndQuery: String): String = {
    val qAt = pathAndQuery.indexOf('?')
    val (path, query) =
      if (qAt >= 0) (pathAndQuery.substring(0, qAt), pathAndQuery.substring(qAt))
      else (pathAndQuery, "")
    val out = new scala.collection.mutable.ArrayBuffer[String]
    val trailingSlash = path.endsWith("/") || path.endsWith("/.") || path.endsWith("/..")
    path.split("/").foreach {
      case "" | "." => ()
      case ".."     => if (out.nonEmpty) out.remove(out.length - 1)
      case seg      => out += seg
    }
    val joined = "/" + out.mkString("/")
    (if (trailingSlash && joined != "/") joined + "/" else joined) + query
  }

  /** Parse one payload's DOM and walk it — shared by every byte-level
    * entry point. Gzip-transparent: a Content-Encoding-compressed body is
    * inflated with the kernel's strict decode, then must carry the HTML
    * magic. Never throws — the extraction kernel's contract: a null,
    * non-HTML or corrupt-gzip payload, and markup that breaks the parse or
    * the walk, yields `empty`. */
  private def onDom[A](payload: Array[Byte], empty: A)(walk: HtmlDom.Element => A): A =
    Option(payload).flatMap(p => ExtractKernel.decodePayload(p).toOption)
      .filter(b => b != null && ExtractKernel.looksLikeHtml(b))
      .fold(empty) { b =>
        try walk(HtmlDom.parse(HtmlDom.decodeBytes(b)))
        catch { case NonFatal(_) => empty }
      }

  /** Outlinks of one payload: every `<a href>` in document order, resolved
    * against the document's effective base (`<base href>` honored);
    * non-HTML payloads (PDF, images, garbled bytes) yield none. Delegates
    * to [[artifactsOfDom]] — the anchor table's dst sequence IS the
    * outlink sequence, so the two can never diverge. Never throws. */
  def outlinksOf(baseUrl: String, payload: Array[Byte]): Seq[String] =
    onDom(payload, Seq.empty[String])(artifactsOfDom(baseUrl, _)._1.map(_._1))

  /** (src, dst) outlink edges for every document — map-only, one kernel
    * pass per partition, no shuffle. */
  def extractLinks(df: DataFrame, urlCol: String = "url",
      payloadCol: String = "html"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(urlCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .flatMap { case (u, p) => outlinksOf(u, p).map(d => (u, d)) }
      .toDF("src", "dst")
  }

  /** Anchor-text cap: anchors can wrap whole nav blocks, and the anchor
    * table is a corpus-sized relation — bound the string payload. */
  val MaxAnchorChars = 120

  /** ONE walk over an already-parsed DOM harvesting everything the
    * web-graph family needs from a page: (dst, anchor-text) pairs in
    * document order (anchors' dst sequence IS the outlink sequence — same
    * element, same resolution) plus the lowercased robots meta directives.
    * This is the fused-pass worker (graft.pipeline.WebPipeline): a
    * composed corpus job used to re-parse each HTML payload up to 3× —
    * extraction, outlinks/anchors, meta-robots — and the DOM parse is the
    * dominant per-page CPU at 100 TB. [[anchorsOf]] and [[metaRobots]]
    * delegate here so the separate-pass operators can never diverge from
    * the fused pass. May throw on a broken DOM — byte-level callers wrap
    * (the never-throw contract lives one level up). */
  def artifactsOfDom(baseUrl: String,
      root: HtmlDom.Element): (Vector[(String, String)], Vector[String]) = {
    // raw hrefs first: `<base href>` (the FIRST base element, HTML spec
    // §4.2.3 — browsers apply it document-wide, including links that
    // precede it) rebases every reference, so resolution happens after
    // the walk against the effective base
    val raw = mutable.ArrayBuffer.empty[(String, String)] // (href, anchor text)
    val robots = Vector.newBuilder[String]
    var baseHref = ""
    // anchor text comes from the same walk, so nested (unclosed) anchors
    // cost no re-walk: text under `hidden` open hidden elements goes to
    // levels(hidden), and an anchor's text is what its level gained while
    // it was open
    val levels = mutable.ArrayBuffer(new TextLevel)
    var hidden = 0
    val reading = mutable.ArrayBuffer.empty[(Int, Int)] // (anchor, offset) per open `<a href>`
    HtmlDom.walk(root, e => {
      e.tag match {
        case "a" => e.attrs.get("href").foreach { h =>
          reading += ((raw.length, levels(hidden).open())); raw += ((h, ""))
        }
        case "br" => levels(hidden).append(" ")
        case "base" if baseHref.isEmpty => baseHref = e.attrs.getOrElse("href", "")
        case "meta" if e.attrs.get("name").exists(_.equalsIgnoreCase("robots")) =>
          e.attrs.get("content").foreach(
            _.toLowerCase.split("[,\\s]+").foreach(t => if (t.nonEmpty) robots += t))
        case t if HtmlDom.HiddenTags(t) =>
          hidden += 1
          if (levels.length == hidden) levels += new TextLevel
        case _ =>
      }
      true
    }, t => levels(hidden).append(t), e =>
      // the hidden elements entered inside an anchor are left before it,
      // so `hidden` is the anchor's level again
      if (e.tag == "a" && e.attrs.contains("href")) {
        val (i, from) = reading.remove(reading.length - 1)
        raw(i) = (raw(i)._1, levels(hidden).close(from))
      } else if (HtmlDom.HiddenTags(e.tag)) hidden -= 1)
    val effBase = effectiveBase(baseUrl, baseHref)
    val anchors = raw.toVector.flatMap { case (h, a) => resolveUrl(effBase, h).map(d => (d, a)) }
    (anchors, robots.result())
  }

  /** The visible text of one level of [[artifactsOfDom]]'s walk while
    * anchors read it: entities decoded, whitespace collapsed as text is
    * appended ([[HtmlDom.collapseWs]] of all of it, with a trailing run
    * held back until more text follows). */
  private final class TextLevel {
    private val sb = new java.lang.StringBuilder
    private var pendingWs = false
    private var readers = 0

    /** An anchor starts reading: its offset. */
    def open(): Int = { readers += 1; sb.length }

    def append(raw: String): Unit = if (readers > 0) HtmlDom.decodeEntities(raw).foreach { c =>
      if (HtmlDom.isCollapsedWs(c)) pendingWs = true
      else { if (pendingWs && sb.length > 0) sb.append(' '); pendingWs = false; sb.append(c) }
    }

    /** The anchor that opened at `from` stops reading: its text, capped at
      * [[MaxAnchorChars]]. A space at `from` began the text or preceded
      * it; the cap backs off one char rather than split a surrogate pair. */
    def close(from: Int): String = {
      val start = if (from < sb.length && sb.charAt(from) == ' ') from + 1 else from
      var end = math.min(sb.length, start + MaxAnchorChars)
      if (end < sb.length && Character.isHighSurrogate(sb.charAt(end - 1))) end -= 1
      val text = sb.substring(start, end)
      readers -= 1
      if (readers == 0) { sb.setLength(0); pendingWs = false }
      text
    }
  }

  /** The document-wide resolution base: the first `<base href>` resolved
    * against the page url (a relative base is itself a reference, RFC
    * 3986 §5.1.2); absent or unresolvable → the page url. */
  private def effectiveBase(pageUrl: String, baseHref: String): String =
    if (baseHref.isEmpty) pageUrl
    else resolveUrl(pageUrl, baseHref).getOrElse(pageUrl)

  /** (dst, anchor-text) pairs of one payload: every `<a href>` in document
    * order with a resolvable http(s) target, paired with the normalized
    * visible text under the anchor element (entities decoded, whitespace
    * collapsed — [[HtmlDom.visibleText]]), capped at [[MaxAnchorChars]].
    * Image-only links yield an empty string. Never throws — same contract
    * as [[outlinksOf]]. */
  def anchorsOf(baseUrl: String, payload: Array[Byte]): Seq[(String, String)] =
    onDom(payload, Seq.empty[(String, String)])(artifactsOfDom(baseUrl, _)._1)

  /** (src, dst, anchor) rows for every document — the anchor-text corpus
    * (the classic web-scale signal for target-page description / query-
    * document training pairs). Map-only, one kernel pass per partition. */
  def extractAnchors(df: DataFrame, urlCol: String = "url",
      payloadCol: String = "html"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(urlCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .flatMap { case (u, p) => anchorsOf(u, p).map { case (d, a) => (u, d, a) } }
      .toDF("src", "dst", "anchor")
  }

  /** Per-target anchor-text aggregation: for every link TARGET url —
    * (dst, n_anchors, n_texts, top_anchor, top_anchor_n, n_src_hosts),
    * where top_anchor is the most frequent anchor text (ties broken by
    * lexicographically smallest). How the web describes each page — the
    * inlink-text feature sheet for target-page quality/description.
    *
    * Scale shape: popular urls have millions of inlinks, so the top-text
    * pick must NOT be a per-dst window over raw anchors. Two hash
    * aggregations instead: (dst, anchor) pre-counts (map-side combined),
    * then per-dst `min(struct(-count, anchor))` — an ordinary agg whose
    * struct ordering IS "count desc, anchor asc". n_src_hosts is a third
    * payload-free (dst, host) distinct-count pass. Nothing wider than a
    * capped anchor string crosses any shuffle; no windows anywhere. */
  def anchorSummary(anchors: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", anchorCol: String = "anchor"): DataFrame = {
    val cnt = anchors
      .groupBy(col(dstCol).as("dst"), col(anchorCol).as("anchor"))
      .agg(count(lit(1)).as("__c"))
    val top = cnt.groupBy("dst")
      .agg(sum(col("__c")).as("n_anchors"),
        count(lit(1)).as("n_texts"),
        min(struct((-col("__c")).as("nc"), col("anchor").as("a"))).as("__t"))
      .select(col("dst"), col("n_anchors"), col("n_texts"),
        col("__t.a").as("top_anchor"), (-col("__t.nc")).as("top_anchor_n"))
    val hosts = anchors
      .select(col(dstCol).as("dst"), hostOf(col(srcCol)).as("__h"))
      .distinct()
      .groupBy("dst").agg(count(lit(1)).as("n_src_hosts"))
    top.join(hosts, Seq("dst"))
  }

  /** Authority component of an http(s) url ('' for anything else). */
  def hostOf(url: Column): Column =
    regexp_extract(url, "^https?://([^/?#]+)", 1)

  /** Cross-host link graph: (src_host, dst_host, n_links), same-host
    * edges dropped. Payload-free hash aggregation — partial (map-side)
    * combine makes this a counts-only shuffle at any corpus size. */
  def hostGraph(links: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame =
    links
      .select(hostOf(col(srcCol)).as("src_host"), hostOf(col(dstCol)).as("dst_host"))
      .filter(col("src_host") =!= col("dst_host") &&
        col("src_host") =!= lit("") && col("dst_host") =!= lit(""))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"))

  /** Domain blocklist filtering (the UT1/RefinedWeb-style URL filter):
    * drop documents whose url host equals a blocked domain OR is a
    * subdomain of one. Each host explodes into its dot-suffixes
    * (`a.b.example` → `a.b.example`, `b.example`, `example` — bounded by
    * the label count, ≤ ~6 rows/doc), the suffixes semi-join the
    * blocklist, and matching urls anti-join out. Both joins carry
    * (url, suffix) strings only — no payload shuffle — and a small
    * blocklist broadcasts under AQE, making the whole filter map-side. */
  def filterBlockedHosts(df: DataFrame, urlCol: String, blocklist: DataFrame,
      domainCol: String = "domain"): DataFrame = {
    val host = hostOf(col(urlCol))
    val labels = split(host, "\\.")
    val sufs = transform(sequence(lit(0), size(labels) - 1),
      i => array_join(slice(labels, i + 1, size(labels)), "."))
    val blockedUrls = df
      .select(col(urlCol).as("__u"), explode(sufs).as("__suf"))
      .join(blocklist.select(col(domainCol).as("__suf")), Seq("__suf"), "left_semi")
      .select(col("__u").as(urlCol))
      .distinct()
    df.join(blockedUrls, Seq(urlCol), "left_anti")
  }

  /** Robots meta directives of one payload: the comma/whitespace-split,
    * lowercased tokens of every `<meta name="robots" content="...">` in
    * the document head or body (crawlers honor all of them; name match is
    * case-insensitive). Non-HTML payloads yield none. Never throws. */
  def metaRobots(payload: Array[Byte]): Seq[String] =
    // baseUrl is irrelevant to the robots harvest; the shared walk keeps
    // this byte-identical with the fused pass
    onDom(payload, Seq.empty[String])(artifactsOfDom("https://x.invalid/", _)._2)

  /** Crawl-policy filter: drop documents whose HTML declares
    * `<meta name="robots">` with a `noindex` or `none` directive — the
    * page author's opt-out that a responsible corpus pipeline honors
    * (RFC 9309's meta-tag companion convention). Map-only: one kernel
    * parse per row, no shuffle; non-HTML payloads are kept (the directive
    * only exists in HTML). Typed `Dataset.filter`, not a UDF — same
    * zero-UDF discipline as the rest of the library. */
  def filterNoindex(df: DataFrame, payloadCol: String = "html"): DataFrame = {
    val idx = df.schema.fieldIndex(payloadCol)
    df.filter { (r: org.apache.spark.sql.Row) =>
      val p = if (r.isNullAt(idx)) null else r.getAs[Array[Byte]](idx)
      !metaRobots(p).exists(t => t == "noindex" || t == "none")
    }
  }

  /** Recrawl consolidation: one row per url — the LATEST warc_ts wins —
    * plus the revisit count. Payload discipline: the group-by carries
    * (url, ts) only; callers re-attach payloads by joining the winning
    * (url, latest_ts) pair back to the snapshot (payloads cross the wire
    * once, for winners only — the same attach-survivors-last shape as the
    * dedup ops). */
  def latestVersionPerUrl(df: DataFrame, urlCol: String = "url",
      tsCol: String = "warc_ts"): DataFrame =
    df.select(col(urlCol).as("url"), col(tsCol).as("__ts"))
      .groupBy("url")
      .agg(max(col("__ts")).as("latest_ts"), count(lit(1)).as("n_versions"))

  /** Snapshot change MAGNITUDE — how much a page changed between
    * consecutive crawls, not just whether it changed. crawlDelta and
    * recrawlSchedule see digests, so a one-character edit and a full
    * rewrite look identical; recrawl prioritization and incremental
    * re-extraction both want the graded signal (re-extract and re-index
    * a rewritten page first; a footer-year edit can wait).
    *
    * Per consecutive (prev, curr) version pair of each url: the integral
    * token-overlap of [[graft.ops.TextOps.extractionQuality]] — multiset
    * intersection of the lowercased QaTokenSplit token bags, ppm ratios
    * via the same truncating DIV — plus `change_ppm = 10⁶ − f1_ppm` (0 =
    * byte-identical text, 10⁶ = fully rewritten).
    *
    * Output: (url, ts_ms, prev_ts_ms, n_curr, n_prev, n_inter,
    * precision_ppm [inter/curr], recall_ppm [inter/prev], f1_ppm,
    * change_ppm) — one row per revisit (a url's FIRST version has no
    * pair and emits nothing).
    *
    * Scale shape: the lag window is url-keyed and sorts each url's own
    * handful of versions (the sessionize/recrawlSchedule bound); text
    * moves ONCE into that url-partitioned shuffle — the honest cost of
    * co-locating the pair — and the overlap pass itself is the map-only
    * typed kernel, never a (doc, token) shuffle. */
  def snapshotChangeMagnitude(snaps: DataFrame, urlCol: String = "url",
      tsCol: String = "warc_ts", textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k1")).orderBy(col("k2"))
    val pairs = snaps
      .select(col(urlCol).cast("string").as("k1"),
        unix_millis(col(tsCol)).as("k2"), col(textCol).cast("string").as("a"))
      .withColumn("b", lag(col("a"), 1).over(w))
      .withColumn("k3", lag(col("k2"), 1).over(w))
      .filter(col("k3").isNotNull)
    val counted = TextOps.tokenOverlapRows(pairs.select("k1", "k2", "k3", "a", "b"))
    TextOps.withOverlapPpm(counted, "n_a", "n_b")
      .withColumn("change_ppm", lit(1000000L) - col("f1_ppm"))
      .select(col("k1").as("url"), col("k2").as("ts_ms"), col("k3").as("prev_ts_ms"),
        col("n_a").as("n_curr"), col("n_b").as("n_prev"), col("n_inter"),
        col("precision_ppm"), col("recall_ppm"), col("f1_ppm"), col("change_ppm"))
  }

  /** Adaptive recrawl scheduling from revisit history — the change-rate
    * estimation problem of Cho & Garcia-Molina (TOIT 2003, "Estimating
    * frequency of change"), in the repo's exact integral form: per url,
    * order the observed snapshots by time, count digest transitions
    * between consecutive versions, and set the next revisit interval to
    * the OBSERVED mean time between changes (`span DIV n_changes` — the
    * naive 1/λ̂ estimator), doubled-backoff when nothing ever changed
    * (`2 × mean gap`), `baseIntervalSec` when there is only one
    * observation, always clamped to [min, max]. Everything is integer
    * seconds and truncating DIV, so an independent engine replays it
    * bit-for-bit (the Poisson-MLE log refinement is deliberately out of
    * scope — libm ln does not cross engines).
    *
    * Output: (url, n_versions, n_changes, span_sec, change_ratio_ppm,
    * next_interval_sec, next_crawl_sec).
    *
    * Scale shape: only (url, ts: 8 B, digest: comparable) ever shuffles —
    * payloads stay behind whatever digest pass feeds this (crawlDelta's
    * hash-for-payload equivalence). The per-url lag window sorts each
    * url's own handful of versions (revisit counts are small by
    * definition of a crawl cadence), the same per-key window bound as
    * sessionization; the final agg is a hash agg on url. */
  def recrawlSchedule(history: DataFrame, urlCol: String = "url",
      tsCol: String = "warc_ts", digestCol: String = "digest",
      baseIntervalSec: Long = 86400L, minIntervalSec: Long = 3600L,
      maxIntervalSec: Long = 604800L): DataFrame = {
    require(minIntervalSec <= maxIntervalSec && minIntervalSec > 0,
      s"need 0 < min <= max, got [$minIntervalSec, $maxIntervalSec]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("url").orderBy(col("ts_sec"), col("__d"))
    val marked = history.select(col(urlCol).as("url"),
        unix_seconds(col(tsCol).cast("timestamp")).as("ts_sec"),
        col(digestCol).as("__d"))
      .withColumn("__prev", lag(col("__d"), 1).over(w))
      .withColumn("__chg",
        when(col("__prev").isNotNull && col("__prev") =!= col("__d"), 1L)
          .otherwise(0L))
    marked.groupBy("url").agg(
        count(lit(1)).as("n_versions"),
        sum("__chg").as("n_changes"),
        (max("ts_sec") - min("ts_sec")).as("span_sec"),
        max("ts_sec").as("__last_sec"))
      .withColumn("change_ratio_ppm",
        when(col("n_versions") >= 2,
          expr("(n_changes * 1000000L) DIV (n_versions - 1)")).otherwise(lit(0L)))
      .withColumn("next_interval_sec",
        greatest(lit(minIntervalSec), least(lit(maxIntervalSec),
          when(col("n_versions") < 2, lit(baseIntervalSec))
            .when(col("n_changes") === 0,
              expr("(span_sec DIV (n_versions - 1)) * 2L"))
            .otherwise(expr("span_sec DIV n_changes")))))
      .withColumn("next_crawl_sec", col("__last_sec") + col("next_interval_sec"))
      .select("url", "n_versions", "n_changes", "span_sec",
        "change_ratio_ppm", "next_interval_sec", "next_crawl_sec")
  }

  /** Crawl-snapshot delta — the incremental-ingest classifier a recurring
    * crawl pipeline runs before reprocessing: every url in either snapshot
    * is labeled `new` (only in B), `deleted` (only in A), `changed`
    * (payload digest differs) or `unchanged`.
    *
    * Scale shape: the full-outer join on url carries ONLY (url, 8-byte
    * xxhash64 digest) per side — payloads never shuffle, so two 100-TB
    * snapshots diff as a urls+digests join. Digest equality stands in for
    * payload equality (collision odds 2^-64 per pair — the same
    * hash-for-text equivalence the dedup oracles pin). */
  def crawlDelta(a: DataFrame, b: DataFrame, keyCol: String = "url",
      payloadCol: String = "text"): DataFrame = {
    val ah = a.select(col(keyCol).as("url"), xxhash64(col(payloadCol)).as("__ha"))
    val bh = b.select(col(keyCol).as("url"), xxhash64(col(payloadCol)).as("__hb"))
    ah.join(bh, Seq("url"), "full_outer")
      .select(col("url"),
        when(col("__ha").isNull, lit("new"))
          .when(col("__hb").isNull, lit("deleted"))
          .when(col("__ha") === col("__hb"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Parse a robots.txt body (the RFC 9309 subset a corpus pipeline
    * enforces): the (path_prefix, is_allow) rules of the group that
    * governs `agent`. Group selection follows the RFC's most-specific
    * rule — if any group's `User-agent` line equals `agent`
    * (case-insensitive), ONLY those groups apply; otherwise the `*`
    * groups do. Consecutive `User-agent` lines share one group; `#`
    * comments are stripped; `Allow`/`Disallow` with an empty value are
    * no-ops (RFC 9309 §2.2.2); unknown fields (Sitemap, Crawl-delay) are
    * ignored. Scope narrowing, documented: a bare TRAILING `*` is
    * dropped (equivalent to the prefix without it); rules still
    * containing the RFC wildcards `*` or `$` after that are SKIPPED —
    * real-world rules are overwhelmingly plain path prefixes, and a
    * skipped rule fails open exactly like an unknown field. Never
    * throws. */
  def parseRobotsTxt(text: String, agent: String = "*"): Seq[(String, Boolean)] =
    chosenRobotsGroups(text, agent).flatMap(_._2)

  /** Group-scoped `Crawl-delay` of the group governing `agent` (the
    * Bing/Yandex extension field — group-scoped like Allow/Disallow,
    * unlike the non-group Sitemap). Integer seconds only; a non-integer
    * or negative value is ignored fail-open, exactly like an unknown
    * field (real-world fractional delays exist but an exact-integral
    * pipeline rounds policy, not data). First defined value among the
    * chosen groups wins. Never throws. */
  def crawlDelayOf(text: String, agent: String = "*"): Option[Long] =
    chosenRobotsGroups(text, agent).flatMap(_._3).headOption

  /** The groups governing `agent` under RFC 9309's most-specific rule,
    * each as (agents, rules, crawl-delay). */
  private def chosenRobotsGroups(text: String, agent: String)
      : Vector[(Set[String], Vector[(String, Boolean)], Option[Long])] = {
    if (text == null) return Vector.empty
    val groups = Vector.newBuilder[(Set[String], Vector[(String, Boolean)], Option[Long])]
    var agents = Set.empty[String]
    var rules = Vector.empty[(String, Boolean)]
    var delay: Option[Long] = None
    var sawRule = false
    def flush(): Unit = {
      if (agents.nonEmpty) groups += ((agents, rules, delay))
      agents = Set.empty; rules = Vector.empty; delay = None; sawRule = false
    }
    for (raw <- text.linesIterator) {
      val line = raw.takeWhile(_ != '#').trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val field = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            if (sawRule) flush()
            agents += value.toLowerCase
          case "allow" | "disallow" =>
            sawRule = true
            val p = if (value.endsWith("*")) value.dropRight(1) else value
            if (p.nonEmpty && !p.contains('*') && !p.contains('$'))
              rules :+= ((p, field == "allow"))
          case "crawl-delay" =>
            // group field; like allow/disallow it pins the open group
            sawRule = true
            if (delay.isEmpty) delay = value.toLongOption.filter(_ >= 0L)
          case _ => () // Sitemap/unknown: non-group lines (RFC 9309 §2.2.4)
        }
      }
    }
    flush()
    val a = agent.toLowerCase
    val all = groups.result()
    val exact = if (a == "*") Vector.empty else all.filter(_._1.contains(a))
    if (exact.nonEmpty) exact else all.filter(_._1.contains("*"))
  }

  /** Per-host politeness fetch budgets from a (host, robots-body) table:
    * delay = the governing group's Crawl-delay (else `defaultDelaySec`,
    * floored at 1 s), budget = `windowSec DIV delay` fetches per window —
    * integer math end to end, map-only. A host whose delay exceeds the
    * window gets budget 0 (fetch nothing this window), the honest
    * reading. Output: (host, crawl_delay_sec, max_fetches). */
  def hostFetchBudgets(robots: DataFrame, windowSec: Long,
      defaultDelaySec: Long, hostCol: String = "host",
      bodyCol: String = "body"): DataFrame = {
    require(windowSec > 0L && defaultDelaySec > 0L,
      s"window and default delay must be positive, got $windowSec/$defaultDelaySec")
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol).cast("string"), col(bodyCol).cast("string"))
      .as[(String, String)]
      .map { case (h, b) =>
        val d = math.max(1L, crawlDelayOf(b).getOrElse(defaultDelaySec))
        (h, d, windowSec / d)
      }
      .toDF("host", "crawl_delay_sec", "max_fetches")
  }

  /** Politeness-capped frontier: each host contributes at most its fetch
    * budget, rows chosen by the deterministic sample order — the
    * per-window fetch list a polite crawler actually issues. Delegates to
    * the bounded-histogram variable-cap selector (no per-host sort; a
    * zero-budget or budget-less host contributes nothing). */
  def politeFrontier(frontier: DataFrame, budgets: DataFrame,
      idCol: String = "id", hostCol: String = "host"): DataFrame =
    TextOps.capPerStratumVariable(frontier, idCol, hostCol,
      budgets.select(col("host").as(hostCol), col("max_fetches").as("cap")))

  /** `Sitemap:` declarations of a robots.txt body — the sitemaps.org
    * discovery mechanism (a NON-group field, RFC 9309 §2.2.4: it applies
    * regardless of user-agent and may appear anywhere in the file). The
    * protocol requires an absolute URL; only http(s) values qualify
    * (the crawler fetches them), and exact duplicates collapse keeping
    * first position. Field match is case-insensitive ("Sitemap",
    * "SITEMAP", "sitemap" all appear in the wild). Never throws. */
  def sitemapsOfRobots(text: String): Seq[String] = {
    if (text == null) return Nil
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    for (raw <- text.linesIterator) {
      val line = raw.takeWhile(_ != '#').trim
      val colon = line.indexOf(':')
      if (colon > 0 && line.substring(0, colon).trim.equalsIgnoreCase("sitemap")) {
        val v = line.substring(colon + 1).trim
        val lower = v.toLowerCase
        if (lower.startsWith("http://") || lower.startsWith("https://")) seen += v
      }
    }
    seen.toVector
  }

  /** (host, sitemap_url) per robots.txt body — map-only sitemap
    * discovery over a (host, body) robots table; feeds [[parseSitemap]]
    * /[[sitemapRecrawl]] with the per-host sitemap fetch list. */
  def discoverSitemaps(robots: DataFrame, hostCol: String = "host",
      bodyCol: String = "body"): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol).cast("string"), col(bodyCol).cast("string"))
      .as[(String, String)]
      .flatMap { case (h, b) => sitemapsOfRobots(b).map(u => (h, u)) }
      .toDF("host", "sitemap_url")
  }

  /** Crawl-policy filter over a parsed robots-rules table — the RFC 9309
    * allow/disallow decision per document url: among the url's host's
    * rules whose path prefix matches, the LONGEST wins; at equal length
    * Allow wins; no matching rule (or an unknown host) is allowed.
    * `rules` columns: (host, prefix, is_allow) — the dumped output of
    * [[parseRobotsTxt]] over each host's /robots.txt payload.
    *
    * Scale shape: the decision join carries (url, host, path) strings
    * against a rules table bounded by hosts × rules-per-file (robots
    * files are small) — AQE broadcasts it when small, and no payload
    * ever shuffles. Longest-match is ONE max(struct) hash agg over the
    * matching (url, rule) pairs — never a per-url sort — and the corpus
    * drops the losers via a left anti join on the (typically small)
    * disallowed url set. */
  def filterByRobots(df: DataFrame, urlCol: String, rules: DataFrame): DataFrame = {
    val rawPath = regexp_extract(col(urlCol), "^https?://[^/?#]+(/[^?#]*)?", 1)
    val withPath = df.select(col(urlCol).as("__u"), hostOf(col(urlCol)).as("host"),
      when(length(rawPath) === 0, lit("/")).otherwise(rawPath).as("__p"))
    val winners = withPath
      .join(rules.select(col("host"), col("prefix"), col("is_allow")), Seq("host"))
      .filter(col("__p").startsWith(col("prefix")))
      .groupBy("__u")
      .agg(max(struct(length(col("prefix")).as("l"), col("is_allow").as("a"),
        col("prefix").as("p"))).as("w"))
    val disallowed = winners.filter(!col("w.a")).select(col("__u").as(urlCol))
    df.join(disallowed, Seq(urlCol), "left_anti")
  }

  /** Redirect-chain resolution — the url-canonicalization step a crawl
    * consolidation runs before dedup/recrawl bookkeeping (301/302 chains,
    * http→https hops, short-link fan-ins): map every redirect SOURCE url
    * to its chain's final destination. Multi-edges collapse to the
    * lexicographically smallest destination per source (deterministic);
    * self-loops are dropped up front. One row per source: (url,
    * final_url, hops, status) with status 'resolved' (final_url is not
    * itself a source; hops = EXACT chain length) or 'cycle' (the chain
    * never leaves the source set; final_url = '' and hops = 0 — no
    * nullable columns, the cross-engine-oracle discipline).
    *
    * Scale design: DISTANCE DOUBLING over the edge subgraph only — the
    * pointer table holds redirect sources, a sliver of the corpus. Each
    * round joins the pointer table with itself once; ptr(v) jumps to
    * ptr(ptr(v)) and hop counts ADD, so a chain of length L resolves in
    * O(log L) rounds (`maxRounds` = 12 covers chains to 4096 — anything
    * longer is flagged with the cycles, which is what an operator should
    * do with a pathological redirect chain). Rounds shuffle only
    * (string, string, long) rows; convergence — no pointer jumped this
    * round — is one agg over the just-checkpointed table. */
  def resolveRedirects(edges0: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxRounds: Int = 12): DataFrame = {
    val edges = edges0
      .select(col(srcCol).cast("string").as("url"), col(dstCol).cast("string").as("nxt"))
      .filter(col("url") =!= col("nxt") && col("url").isNotNull && col("nxt").isNotNull)
      .groupBy("url").agg(min(col("nxt")).as("nxt"))
    // the pointer table carries the previous round's `jumped` flag; every
    // select below names its columns, so the flag never leaks further
    val (ptr, _) = Rounds.run(edges.withColumn("hops", lit(1L)).localCheckpoint(true),
        maxRounds) { (ptr, _) =>
      val b = ptr.select(col("url").as("b_url"), col("nxt").as("b_nxt"),
        col("hops").as("b_hops"))
      Some(ptr.join(b, ptr("nxt") === b("b_url"), "left")
        .select(col("url"),
          coalesce(col("b_nxt"), col("nxt")).as("nxt"),
          (col("hops") + coalesce(col("b_hops"), lit(0L))).as("hops"),
          col("b_url").isNotNull.as("jumped")))
    } { (stepped, _) =>
      !stepped.agg(coalesce(max(col("jumped")), lit(false))).first().getBoolean(0)
    }
    val srcs = ptr.select(col("url").as("s_url"))
    ptr.join(srcs, ptr("nxt") === srcs("s_url"), "left")
      .select(col("url"),
        when(col("s_url").isNull, col("nxt")).otherwise(lit("")).as("final_url"),
        when(col("s_url").isNull, col("hops")).otherwise(lit(0L)).as("hops"),
        when(col("s_url").isNull, lit("resolved")).otherwise(lit("cycle")).as("status"))
  }

  /** Fixed-iteration PageRank with scaled-integer arithmetic: ranks start
    * at `scale` (1.0), each round every node keeps 15% teleport mass and
    * receives 85% of the integer-divided contributions of its in-
    * neighbors:
    *
    *   rank' = (15·scale) DIV 100  +  (85 · Σ_in (rank_src DIV outdeg)) DIV 100
    *
    * Unweighted over DISTINCT cross-edges. Dangling-node mass is dropped
    * (the standard simplification); ranks therefore UNDER-estimate but the
    * ORDER matches float PageRank on non-degenerate graphs, and every
    * operation is integral so a SQL replay is bit-exact. PageRank is
    * [[trustRank]] with every node a seed; both run [[seededRank]]. */
  def pageRank(edges0: DataFrame, srcCol: String = "src_host",
      dstCol: String = "dst_host", iterations: Int = 5,
      scale: Long = 1000000L): DataFrame =
    seededRank(edges0, srcCol, dstCol, iterations, scale)(_.withColumn("is_seed", lit(true)))

  /** Fixed-iteration TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004)
    * with the same scaled-integer arithmetic as [[pageRank]]: PageRank
    * whose teleport mass lands ONLY on a curated seed set of trusted
    * hosts, so trust propagates outward along links and spam farms —
    * reachable mostly from other spam — score near zero however densely
    * they interlink. The standard web-spam demotion signal; curation
    * pairs it with pageRank (high rank + low trust ⇒ spam mass).
    *
    *   rank'(n) = [n ∈ seeds] · (15·scale) DIV 100
    *            + (85 · Σ_in (rank_src DIV outdeg)) DIV 100
    *
    * Ranks start at `scale` on seeds, 0 elsewhere; nodes unreachable from
    * the seed set stay exactly 0 (integral arithmetic — no float seep).
    * The seed flag rides the node table (one extra boolean), seeds join
    * once up front. */
  def trustRank(edges0: DataFrame, seeds: DataFrame,
      srcCol: String = "src_host", dstCol: String = "dst_host",
      seedCol: String = "node", iterations: Int = 5,
      scale: Long = 1000000L): DataFrame = {
    val seedSet = seeds.select(col(seedCol).cast("string").as("node")).distinct()
    seededRank(edges0, srcCol, dstCol, iterations, scale) { nodes =>
      nodes.join(seedSet.withColumn("__s", lit(true)), Seq("node"), "left")
        .select(col("node"), coalesce(col("__s"), lit(false)).as("is_seed"))
    }.withColumnRenamed("rank", "trust")
  }

  /** The DISTINCT cross-edges `(src, dst)`, persisted (the caller
    * unpersists), and their node set `(node)` — the graph [[seededRank]]
    * and [[hits]] iterate over, once their shared bounds on `iterations`
    * and `scale` hold. */
  private def crossGraph(edges0: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, scale: Long): (DataFrame, DataFrame) = {
    require(iterations >= 1 && scale >= 100L, "need iterations >= 1, scale >= 100")
    val edges = edges0
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
    (edges, nodes)
  }

  /** The [[trustRank]] ladder with seeds marked by `flagSeeds`, which adds
    * an `is_seed` column to the node set. Per round: one join on src + one
    * hash agg on dst over (string, long) rows only. Output `(node, rank)`. */
  private def seededRank(edges0: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, scale: Long)(flagSeeds: DataFrame => DataFrame): DataFrame = {
    val (edges, nodeSet) = crossGraph(edges0, srcCol, dstCol, iterations, scale)
    val nodes = flagSeeds(nodeSet).localCheckpoint(true)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = edges.join(outdeg, Seq("src")).persist()
    val init = nodes.select(col("node"),
      when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("rank"))
    val ranks = Rounds.fixed(init, iterations) { (ranks, _) =>
      val inSum = withDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("rank DIV outdeg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("in_sum"))
      nodes.join(inSum, Seq("node"), "left")
        .select(col("node"),
          (when(col("is_seed"), lit(15L * scale / 100L)).otherwise(lit(0L)) +
            expr("(85 * coalesce(in_sum, 0L)) DIV 100")).as("rank"))
    }
    edges.unpersist()
    withDeg.unpersist()
    ranks
  }

  /** Fixed-iteration HITS (Kleinberg 1999) with scaled-integer arithmetic
    * — the hubs/authorities complement to [[pageRank]]: a good HUB links
    * to many good authorities, a good AUTHORITY is linked from many good
    * hubs. Corpus curation uses the authority axis as a quality prior
    * (directory/spam farms score high-hub low-authority; canonical
    * sources the reverse) — a different signal than PageRank's single
    * centrality score.
    *
    * Each round over the DISTINCT cross-edge set:
    *
    *   auth_raw(n) = Σ_{(s,n)∈E} hub(s);   auth = (auth_raw·scale) DIV max(auth_raw)
    *   hub_raw(n)  = Σ_{(n,d)∈E} auth(d);  hub  = (hub_raw·scale)  DIV max(hub_raw)
    *
    * Max-normalization (the standard L∞ variant) replaces the float L2
    * norm so every operation is integral and a SQL iteration-ladder
    * replay is bit-exact; the per-round max is one tiny aggregate
    * crossJoined back (1 row — AQE broadcasts it, no collect). Hubs
    * start at `scale`; nodes with no in-edges (pure hubs) hold auth 0,
    * no out-edges (pure authorities) hold hub 0.
    *
    * Scale shape: each half-round (auth, then hub) is one [[Rounds]]
    * round over the `(node, hub, auth)` table — one join on the edge
    * endpoint + one hash agg, all rows (string, long) only, payload
    * never enters.
    * Overflow bound: raw sums ≤ indeg_max·scale, and the normalization
    * multiply needs raw·scale < 2⁶³ → indeg_max < 2⁶³/scale² (≈9.2M at
    * the default scale; pass a smaller scale for denser graphs). */
  def hits(edges0: DataFrame, srcCol: String = "src_host",
      dstCol: String = "dst_host", iterations: Int = 5,
      scale: Long = 1000000L): DataFrame = {
    val (edges, nodeSet) = crossGraph(edges0, srcCol, dstCol, iterations, scale)
    val init = nodeSet.localCheckpoint(true)
      .select(col("node"), lit(scale).as("hub"), lit(0L).as("auth"))
    val out = Rounds.fixed(init, 2 * iterations) { (scores, half) =>
      // odd half-rounds sum hubs along in-edges into auth, even ones
      // sum authorities along out-edges into hub
      val (from, to, in, updated) =
        if (half % 2 == 1) ("src", "dst", "hub", "auth") else ("dst", "src", "auth", "hub")
      val raw = scores.select(col("node"), col(in))
        .join(edges.join(scores.select(col("node").as(from), col(in)), Seq(from))
          .groupBy(col(to).as("node")).agg(sum(col(in)).as("raw")),
          Seq("node"), "left")
        .select(col("node"), col(in), coalesce(col("raw"), lit(0L)).as("raw"))
      raw.crossJoin(raw.agg(max(col("raw")).as("__mx")))
        .select(col("node"), col(in),
          when(col("__mx") > 0, expr(s"(raw * $scale) DIV __mx"))
            .otherwise(lit(0L)).as(updated))
    }.select("node", "hub", "auth")
    edges.unpersist()
    out
  }

  /** As-of join — the temporal join Spark lacks natively: for each probe
    * row (key, probe ts), attach the LATEST version row with version_ts ≤
    * probe_ts for the same key (and nothing, when no version predates the
    * probe). The crawl-archive workhorse: "which snapshot of this url was
    * live when the link/anchor/citation was observed", replay-consistent
    * joins of any event stream against a versioned table.
    *
    * Plan: tag-union both sides into one (key, ts, tag, payload) relation,
    * ONE key-partitioned window ordered by (ts, tag) — versions sort
    * before probes at equal ts, so ties match "at-or-before" — and
    * `last(version_payload, ignoreNulls)` carries the newest preceding
    * version forward; probes filter back out with their match attached.
    * One shuffle, one sort — the honest as-of cost (a range-join would
    * rescan versions per probe; a plain join + groupBy would shuffle
    * every (probe × older-version) pair). Version payloads ride the
    * shuffle once — callers pick slim `payloadCols`. Contract: versions
    * unique per (key, version_ts); null probe timestamps emit null
    * matches (they sort first).
    * Output: every probe column, then `version_ts` + `payloadCols` from
    * the matched version (null on miss). */
  def asOfJoin(probes: DataFrame, versions: DataFrame, keyCol: String,
      probeTsCol: String, versionTsCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val probeCols = probes.columns.toSeq
    val vStruct = struct(
      (col(versionTsCol).as("__vts") +: payloadCols.map(col)): _*)
    val v0 = versions.select(col(keyCol).as("__k"),
      col(versionTsCol).as("__ts"), lit(0).as("__tag"), vStruct.as("__vp"))
    val p = probes.select(col(keyCol).as("__k"), col(probeTsCol).as("__ts"),
      lit(1).as("__tag"), lit(null).cast(v0.schema("__vp").dataType).as("__vp"),
      struct(probeCols.map(col): _*).as("__pp"))
    val v = v0.withColumn("__pp", lit(null).cast(p.schema("__pp").dataType))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__k").orderBy(col("__ts"), col("__tag"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    p.unionByName(v.select(p.columns.map(col): _*))
      .withColumn("__m", last(col("__vp"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(probeCols.map(c => col(s"__pp.$c").as(c)) ++
        Seq(col("__m.__vts").as("version_ts")) ++
        payloadCols.map(c => col(s"__m.$c").as(c)): _*)
  }

  /** PSL-lite multi-label public suffixes: the high-traffic subset of the
    * Public Suffix List's ICANN section plus a few ubiquitous private
    * hosting entries. Host-level aggregation that treats `blog.foo.co.uk`
    * and `shop.foo.co.uk` as different "sites" but `foo.co.uk` and
    * `bar.co.uk` as the same would mis-scope caps, reputation and mirror
    * grouping; the registered domain (eTLD+1) is the right rollup key.
    * A full PSL (~9k rules incl. wildcards/exceptions) would ship as a
    * broadcast table; this literal subset keeps the expression codegen'd
    * and the oracle replayable, and the function documents the contract.
    * (Interpolated into the DuckDB oracle — one constant, two engines.) */
  val MultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "co.kr", "or.kr", "co.in", "co.nz", "org.nz", "net.nz",
    "com.br", "org.br", "net.br", "com.cn", "net.cn", "org.cn",
    "com.mx", "com.ar", "com.tr", "com.tw", "com.sg", "com.hk",
    "github.io", "gitlab.io", "blogspot.com", "wordpress.com",
    "herokuapp.com")

  /** Registered domain (eTLD+1) of a host: last 3 labels when the last 2
    * form a listed multi-label public suffix, else last 2, else (single
    * label / empty) the host itself. Pure Column algebra — codegen'd,
    * no UDF; IPv4 hosts deterministically roll to their last two octets
    * (documented oddity — a crawl keyed on IPs should roll by IP before
    * this). */
  def registeredDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val nl = size(labels)
    val last2 = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val last3 = concat_ws(".",
      element_at(labels, -3), element_at(labels, -2), element_at(labels, -1))
    when(nl >= 3 && last2.isin(MultiLabelSuffixes: _*), last3)
      .when(nl >= 2, last2)
      .otherwise(host)
  }

  /** Crawler-trap detection: per (host, URL template), how many distinct
    * urls were fetched and how many distinct CONTENTS they produced — the
    * signal that separates an infinite URL space (calendar pages, session
    * ids, faceted-search explosions: thousands of urls, a handful of
    * contents) from a legitimately large section. Crawl scheduling prunes
    * flagged templates from the frontier; curation drops their near-void
    * documents wholesale.
    *
    * The URL template is the path+query with every digit run collapsed to
    * `N` — `/cal?d=20260819` and `/cal?d=20260820` share a template, the
    * standard trap normalization. A template is flagged when it holds
    * ≥ `minUrls` urls AND its distinct-content-per-url ratio is ≤
    * `maxContentRatioPpm` (few contents spread over many urls).
    *
    * Scale shape: text reduces map-side to its md5 digest — the aggregate
    * shuffles (host, template, url, 32-char digest) rows only, and the
    * two distinct-counts are one hash aggregate (Spark rewrites multi-
    * distinct over the same group into an expand — 2× the slim rows, no
    * extra pass over payloads).
    * Output: (host, url_pattern, n_urls, n_contents, content_ratio_ppm,
    * is_trap). */
  def crawlTraps(df: DataFrame, urlCol: String, textCol: String,
      minUrls: Long = 20L, maxContentRatioPpm: Long = 200000L): DataFrame =
    df.select(hostOf(col(urlCol)).as("host"),
        regexp_replace(
          regexp_extract(col(urlCol), "^https?://[^/?#]+(.*)$", 1),
          "[0-9]+", "N").as("url_pattern"),
        col(urlCol).as("__u"), md5(col(textCol)).as("__d"))
      .filter(col("host") =!= "")
      .groupBy("host", "url_pattern")
      .agg(countDistinct(col("__u")).as("n_urls"),
        countDistinct(col("__d")).as("n_contents"))
      .withColumn("content_ratio_ppm", expr("n_contents * 1000000 DIV n_urls"))
      .withColumn("is_trap",
        col("n_urls") >= minUrls && col("content_ratio_ppm") <= maxContentRatioPpm)

  /** First-wins page metadata of one parsed DOM: (title, description,
    * canonical). title = normalized visible text of the first `<title>`;
    * description = the first `<meta name=description>` content
    * (whitespace-collapsed; entities were decoded at attribute parse);
    * canonical = the first `<link rel=canonical>` href resolved against
    * the page url ([[resolveUrl]] — http(s)-only, fragment stripped).
    * `rel` is an HTML space-separated token list, matched
    * case-insensitively. Absent fields are '' (the no-nullable-columns
    * oracle discipline). May throw on a broken DOM — byte-level callers
    * wrap, like [[artifactsOfDom]]. */
  def pageMetaOfDom(baseUrl: String, root: HtmlDom.Element): (String, String, String) = {
    var title = ""; var desc = ""; var canonHref: Option[String] = None
    var baseHref = ""
    HtmlDom.walk(root, e => {
      if (e.tag == "title" && title.isEmpty)
        title = HtmlDom.visibleText(e)
      else if (e.tag == "base" && baseHref.isEmpty)
        baseHref = e.attrs.getOrElse("href", "")
      else if (e.tag == "meta" && desc.isEmpty &&
          e.attrs.get("name").exists(_.equalsIgnoreCase("description")))
        desc = HtmlDom.collapseWs(e.attrs.getOrElse("content", ""))
      else if (e.tag == "link" && canonHref.isEmpty &&
          e.attrs.get("rel").exists(_.toLowerCase.split("\\s+").contains("canonical")))
        canonHref = Some(e.attrs.getOrElse("href", ""))
      true
    })
    // canonical resolves against the document-wide <base href> too (the
    // same first-base rule as artifactsOfDom)
    val canon = canonHref
      .flatMap(resolveUrl(effectiveBase(baseUrl, baseHref), _)).getOrElse("")
    (title, desc, canon)
  }

  /** Never-throw byte-level wrapper for [[pageMetaOfDom]]; non-HTML
    * payloads (PDF, image, garbled) carry no DOM metadata → ("","",""). */
  def pageMetaOf(baseUrl: String, payload: Array[Byte]): (String, String, String) =
    onDom(payload, ("", "", ""))(pageMetaOfDom(baseUrl, _))

  /** (url, title, description, canonical) per document — the page-metadata
    * sheet a crawl pipeline extracts alongside the content (titles for
    * retrieval training pairs, descriptions for snippet features,
    * rel=canonical for duplicate consolidation). Map-only, one kernel
    * parse per row, one output row per input row. */
  def extractPageMeta(df: DataFrame, urlCol: String = "url",
      payloadCol: String = "html"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(urlCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .map { case (u, p) =>
        val (t, d, c) = pageMetaOf(u, p)
        (u, t, d, c)
      }
      .toDF("url", "title", "description", "canonical")
  }

  /** Bitext candidate mining — the parallel-corpus prep step (CCMatrix/
    * CCAligned lineage, simplified to its exact relational core): given
    * translation-pair EDGES (normally [[extractAlternates]]' hreflang
    * declarations or [[hreflangClusters]] members) and the doc table,
    * emit normalized candidate pairs whose languages differ and whose
    * token counts pass a Gale–Church-style length-ratio gate —
    * cross-multiplied (`n_a·100 ≤ n_b·maxLenRatioPct` both ways), so the
    * gate is division-free and engine-exact. Edges are normalized
    * (least/greatest + distinct) so mutual declarations yield one row;
    * empty docs never pair.
    *
    * Scale shape: token counts are a map-only projection; the edge table
    * joins two (url, lang, 8 B count) projections — text never moves.
    * Output: (url_a, url_b, lang_a, lang_b, n_tokens_a, n_tokens_b). */
  def bitextCandidates(docs: DataFrame, edges: DataFrame,
      maxLenRatioPct: Long = 200L, urlCol: String = "url",
      langCol: String = "lang", textCol: String = "text"): DataFrame = {
    require(maxLenRatioPct >= 100L, s"ratio gate below 100% rejects everything: $maxLenRatioPct")
    val toks = docs.select(col(urlCol).cast("string").as("__u"),
      col(langCol).cast("string").as("__lang"),
      TextOps.tokenCount(col(textCol)).as("__n"))
    val norm = edges.select(col("url").cast("string").as("u1"),
        col("alt_url").cast("string").as("u2"))
      .filter(col("u1") =!= col("u2"))
      .select(least(col("u1"), col("u2")).as("url_a"),
        greatest(col("u1"), col("u2")).as("url_b"))
      .distinct()
    norm
      .join(toks.select(col("__u").as("url_a"), col("__lang").as("lang_a"),
        col("__n").as("n_tokens_a")), Seq("url_a"))
      .join(toks.select(col("__u").as("url_b"), col("__lang").as("lang_b"),
        col("__n").as("n_tokens_b")), Seq("url_b"))
      .filter(col("lang_a") =!= col("lang_b"))
      .filter(col("n_tokens_a") > 0L && col("n_tokens_b") > 0L)
      .filter(col("n_tokens_a") * 100L <= col("n_tokens_b") * maxLenRatioPct &&
        col("n_tokens_b") * 100L <= col("n_tokens_a") * maxLenRatioPct)
      .select("url_a", "url_b", "lang_a", "lang_b", "n_tokens_a", "n_tokens_b")
  }

  /** Block-level tags for main-content extraction. Sectioning containers
    * (header/nav/aside/footer) are included so a link-only nav bar becomes
    * a LEAF block with ~100% link density — classified boilerplate by the
    * same rule as everything else, not special-cased by tag name. */
  private val BlockTags = Set(
    "p", "li", "h1", "h2", "h3", "h4", "h5", "h6", "td", "th", "pre",
    "blockquote", "dd", "dt", "figcaption", "caption", "div", "article",
    "section", "header", "footer", "nav", "aside")

  /** Leaf-block features of one parsed DOM, in document order: a block is
    * a [[BlockTags]] element with NO block-tag descendant (nested
    * containers defer to their innermost blocks), emitted when its
    * normalized visible text is non-empty. Features are integral —
    * n_chars (visible chars), n_link_chars (visible chars under `<a>`
    * descendants, each anchor subtree counted once), n_words (tokens of
    * the collapsed text) — so the downstream classification is
    * engine-exact. One walk; a leaf block is emitted as it is left. Text
    * outside any block (rare, stray body text) is out of scope, the
    * jusText convention. */
  def blocksOfDom(root: HtmlDom.Element): Vector[(String, String, Long, Long, Long)] = {
    val out = Vector.newBuilder[(String, String, Long, Long, Long)]
    def linkCharsOf(e: HtmlDom.Element): Long = {
      var total = 0L
      HtmlDom.walk(e, el => {
        if (el.tag == "a") total += HtmlDom.visibleText(el).length
        el.tag != "a"
      })
      total
    }
    // the block element entered last: one that is still `last` when it is
    // left has no block-tag descendant
    var last: HtmlDom.Element = null
    HtmlDom.walk(root, e => {
      if (BlockTags.contains(e.tag)) last = e
      !HtmlDom.HiddenTags(e.tag)
    }, leave = e => if (e eq last) {
      val text = HtmlDom.visibleText(e)
      if (text.nonEmpty) {
        val words = 1L + text.count(_ == ' ')
        out += ((e.tag, text, text.length.toLong, linkCharsOf(e), words))
      }
    })
    out.result()
  }

  /** (url, block_no, tag, text, n_chars, n_link_chars, n_words) for every
    * document — map-only, one kernel parse per row, gzip-transparent,
    * never throws (non-HTML payloads yield no blocks). */
  def extractBlocks(df: DataFrame, urlCol: String = "url",
      payloadCol: String = "html"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(urlCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .flatMap { case (u, p) =>
        val blocks = onDom(p, Vector.empty[(String, String, Long, Long, Long)])(blocksOfDom)
        blocks.zipWithIndex.map { case ((tag, text, nc, nl, nw), i) =>
          (u, i.toLong, tag, text, nc, nl, nw)
        }
      }
      .toDF("url", "block_no", "tag", "text", "n_chars", "n_link_chars", "n_words")
  }

  /** jusText-style content/boilerplate classification over a block table
    * — pure Column algebra, division-free (the link-density test is a
    * cross-multiplication, so an independent engine replays it exactly):
    * content ⇔ n_words ≥ minWords ∧ n_link_chars·10^6 ≤ maxLinkPpm·n_chars. */
  def classifyBlocks(blocks: DataFrame, minWords: Long = 10L,
      maxLinkPpm: Long = 300000L): DataFrame =
    blocks.withColumn("is_content",
      col("n_words") >= minWords &&
        col("n_link_chars") * 1000000L <= lit(maxLinkPpm) * col("n_chars"))

  /** Main-content text per document: the content blocks (per
    * [[classifyBlocks]]) joined in block order with blank lines — the
    * boilerplate-stripped training text of the CCNet/RefinedWeb lineage.
    * One row per input url with at least one block: (url, main_text,
    * n_content_blocks, n_blocks). Scale shape: blocks are map-side; the
    * per-url assembly is one hash agg over (url, block_no, text) with the
    * q_page_assembly sorted-struct concat — no per-url window. */
  def mainContent(df: DataFrame, urlCol: String = "url",
      payloadCol: String = "html", minWords: Long = 10L,
      maxLinkPpm: Long = 300000L): DataFrame = {
    val classified = classifyBlocks(extractBlocks(df, urlCol, payloadCol),
      minWords, maxLinkPpm)
    classified.groupBy("url")
      .agg(
        concat_ws("\n\n",
          transform(
            array_sort(collect_list(when(col("is_content"),
              struct(col("block_no"), col("text"))))),
            s => s.getField("text"))).as("main_text"),
        sum(when(col("is_content"), 1L).otherwise(0L)).as("n_content_blocks"),
        count(lit(1)).as("n_blocks"))
  }

  /** WAT envelope JSON of one payload — the Common Crawl metadata-sidecar
    * shape ([[graft.sources.Warc.watJson]] subset: warc headers + head
    * title + the Links array). ONE `HtmlDom.parse` feeds both the title
    * walk and the link walk (the parse is the dominant per-page CPU; the
    * two walks over the parsed tree are cheap) — the fused-pass
    * discipline. Non-HTML / broken payloads yield an empty-title,
    * empty-links envelope; never throws. */
  def watOf(url: String, tsMillis: Long, payload: Array[Byte]): String = {
    val (title, links) = onDom(payload, ("", Seq.empty[String])) { root =>
      (pageMetaOfDom(url, root)._1, artifactsOfDom(url, root)._1.map(_._1))
    }
    graft.sources.Warc.watJson(url, tsMillis, title, links)
  }

  /** Corpus → WAT sidecar archive files `(file_id, data, data_gz)` —
    * completes the Common Crawl format triple next to the WARC reader and
    * the WET writer. The envelope JSON is computed MAP-SIDE before the
    * file shuffle, so the HTML payload never moves — only (url, ts, json)
    * reaches the writer task; file assignment and deterministic in-file
    * ordering are [[graft.sources.Warc.writeWetTable]]'s (xxhash64(url)
    * mod nFiles, url order). Null urls are dropped, null timestamps
    * epoch-0, like the WET writer. */
  def watFilesOf(docs: DataFrame, nFiles: Int, urlCol: String = "url",
      tsCol: String = "warc_ts", payloadCol: String = "html"): DataFrame = {
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col(urlCol).isNotNull)
      .select(col(urlCol).cast("string"),
        coalesce(unix_millis(col(tsCol).cast("timestamp")), lit(0L)),
        col(payloadCol),
        pmod(xxhash64(col(urlCol).cast("string")), lit(nFiles.toLong)))
      .as[(String, Long, Array[Byte], Long)]
      .map { case (u, ms, p, fid) => (u, ms, watOf(u, ms, p), fid) }
      .groupByKey(_._4)
      .mapGroups { (fid, it) =>
        val rows = it.map(r => (r._1, r._2, r._3)).toVector.sortBy(_._1)
        (fid, graft.sources.Warc.buildWatFile(rows, gzip = false, s"graft-$fid.warc.wat"),
          graft.sources.Warc.buildWatFile(rows, gzip = true, s"graft-$fid.warc.wat"))
      }.toDF("file_id", "data", "data_gz")
  }

  /** rel=canonical duplicate consolidation — the crawl-side dedup step
    * that runs BEFORE any content hashing: pages declaring the same
    * canonical target collapse to one representative. Effective key =
    * the declared canonical url, or the page's own url when none is
    * declared (most pages); the kept member is the canonical page itself
    * when it is in the group, else the lexicographically smallest url
    * (deterministic, engine-replayable). One row per canonical group:
    * (canonical_url, kept_url, n_members).
    *
    * Scale shape: one hash aggregation over (key, url) string pairs —
    * payloads never shuffle (callers re-attach them to kept_url by join,
    * the attach-survivors-last shape of the dedup family). The self-first
    * pick is a `min(struct(url != key, url))` — boolean false < true —
    * NOT a per-group window, so a million-member duplicate group (a
    * template site declaring one canonical everywhere) costs one combiner
    * path, never a single-task sort. */
  def canonicalConsolidate(meta: DataFrame, urlCol: String = "url",
      canonicalCol: String = "canonical"): DataFrame = {
    val key = when(col(canonicalCol) === "", col(urlCol)).otherwise(col(canonicalCol))
    meta.select(key.as("canonical_url"), col(urlCol).as("__u"))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_members"),
        min(struct((col("__u") =!= col("canonical_url")).as("nk"),
          col("__u").as("u"))).as("__kept"))
      .select(col("canonical_url"), col("__kept.u").as("kept_url"),
        col("n_members"))
  }

  /** hreflang alternate declarations of one payload: (hreflang, url) for
    * every `<link rel="alternate" hreflang=... href=...>` — the
    * multilingual-cluster signal (translated variants of one page
    * declare each other; search-engine hreflang semantics). hreflang is
    * lowercased (BCP 47 tags compare case-insensitively; `x-default`
    * passes through), hrefs resolve against the document-wide base
    * ([[effectiveBase]], same first-base rule as the link walk),
    * exact (hreflang, url) duplicates collapse keeping first position.
    * Gzip-transparent, never throws. */
  def alternatesOf(baseUrl: String, payload: Array[Byte]): Seq[(String, String)] =
    onDom(payload, Seq.empty[(String, String)]) { root =>
      val raw = Vector.newBuilder[(String, String)]
      var baseHref = ""
      HtmlDom.walk(root, e => {
        if (e.tag == "base" && baseHref.isEmpty)
          baseHref = e.attrs.getOrElse("href", "")
        else if (e.tag == "link" &&
            e.attrs.get("rel").exists(_.toLowerCase.split("\\s+").contains("alternate")) &&
            e.attrs.contains("hreflang"))
          raw += ((e.attrs("hreflang").trim.toLowerCase,
            e.attrs.getOrElse("href", "")))
        true
      })
      val eff = effectiveBase(baseUrl, baseHref)
      val seen = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
      raw.result().foreach { case (l, h) =>
        if (l.nonEmpty) resolveUrl(eff, h).foreach(u => seen += ((l, u)))
      }
      seen.toVector
    }

  /** (url, hreflang, alt_url) rows for every document — map-only, the
    * hreflang edge table. */
  def extractAlternates(df: DataFrame, urlCol: String = "url",
      payloadCol: String = "html"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(urlCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .flatMap { case (u, p) => alternatesOf(u, p).map { case (l, a) => (u, l, a) } }
      .toDF("url", "hreflang", "alt_url")
  }

  /** Multilingual page clusters from the hreflang edge table: connected
    * components over the (url, alt_url) graph (declarations are often
    * ASYMMETRIC in the wild — one variant lists all siblings, the others
    * none — so the symmetric-transitive closure IS the cluster), one row
    * per participating url: (url, cluster_url, langs) where cluster_url
    * is the lexicographic minimum of the cluster (the stable
    * representative, like [[canonicalConsolidate]]) and langs is the
    * sorted comma-joined set of hreflang tags under which the url is
    * declared ('' when only ever a source, never a target).
    *
    * Scale shape: rides [[DedupOps.connectedComponents]] (edge-subgraph
    * iteration, pointer jumping, O(log diameter) rounds) over
    * xxhash64(url) node ids — string labels would break the monotone
    * label-sum convergence check, so urls translate to 64-bit ids at the
    * boundary and back via one join (the digest-equality evidential
    * class: a 64-bit collision would merge two clusters — the birthday
    * bound makes stray collisions EXPECTED once the participating-url
    * set passes ~2^32, so at full 10^12-corpus scale this is a grouping
    * signal, not a correctness-critical key; a run that needs exactness
    * there should assign collision-free dense ids first — same call as
    * the dedup digests). Cluster size is bounded by a site's language
    * count — no hot-key risk. */
  def hreflangClusters(alts: DataFrame, urlCol: String = "url",
      langCol: String = "hreflang", altCol: String = "alt_url"): DataFrame = {
    val e = alts.select(col(urlCol).as("u"), col(altCol).as("a"))
    val nodes = e.select(col("u").as("url")).union(e.select(col("a").as("url")))
      .distinct()
    val labeled = graft.ops.DedupOps.connectedComponents(
      nodes.select(xxhash64(col("url")).as("nid")), "nid",
      e.select(xxhash64(col("u")).as("id_a"), xxhash64(col("a")).as("id_b")))
    val urlLabels = nodes.join(labeled, xxhash64(col("url")) === col("id"))
      .select(col("url"), col("cluster_id"))
    val reps = urlLabels.groupBy("cluster_id").agg(min("url").as("cluster_url"))
    val langs = alts.groupBy(col(altCol).as("url"))
      .agg(array_join(array_sort(collect_set(col(langCol))), ",").as("langs"))
    urlLabels.join(reps, Seq("cluster_id"))
      .join(langs, Seq("url"), "left")
      .select(col("url"), col("cluster_url"),
        coalesce(col("langs"), lit("")).as("langs"))
  }

  /** `s` trimmed, read as an ISO-8601 datetime with offset (Atom, full
    * W3C datetime), else by `other`, else the epoch-0 sentinel. */
  private def timestampOf(s: String, other: String => java.time.Instant): java.sql.Timestamp = {
    val t = s.trim
    java.sql.Timestamp.from(
      try java.time.OffsetDateTime.parse(t).toInstant
      catch { case _: Exception => try other(t) catch { case _: Exception => java.time.Instant.EPOCH } })
  }

  /** Visible text of the first `tag` child of `e`; '' when none. */
  private def childText(e: HtmlDom.Element, tag: String): String =
    e.children.collectFirst {
      case c: HtmlDom.Element if c.tag == tag => HtmlDom.visibleText(c)
    }.getOrElse("")

  /** Parse a sitemap.xml body (sitemaps.org protocol): `<urlset>` page
    * entries and `<sitemapindex>` child-sitemap references, each as
    * (loc, lastmod, isIndex). loc is the normalized visible text of the
    * first `<loc>` child (entities decoded — XML-escaped `&amp;` urls
    * come back literal), http(s)-only; lastmod accepts the W3C datetime
    * profile the protocol specifies (date-only → midnight UTC, full
    * ISO-8601 with offset → that instant), absent/unparsable → the
    * epoch-0 sentinel (no nullable columns, the cross-engine-oracle
    * discipline). The shared lenient DOM parser handles the XML prolog
    * and unknown tags; junk bodies yield no entries. Never throws. */
  def parseSitemap(xml: String): Seq[(String, java.sql.Timestamp, Boolean)] = {
    def parseLastmod(s: String) = timestampOf(s,
      java.time.LocalDate.parse(_).atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
    val out = Vector.newBuilder[(String, java.sql.Timestamp, Boolean)]
    try HtmlDom.walk(HtmlDom.parse(xml), e => {
      val entry = e.tag == "url" || e.tag == "sitemap"
      if (entry) {
        val loc = childText(e, "loc")
        if (loc.startsWith("http://") || loc.startsWith("https://"))
          out += ((loc, parseLastmod(childText(e, "lastmod")), e.tag == "sitemap"))
      }
      !entry
    })
    catch { case NonFatal(_) => () }
    out.result()
  }

  /** RSS 2.0 / Atom feed parser — the third discovery channel next to
    * outlinks and sitemaps (feeds surface NEW urls hours before either;
    * a recurring crawl polls them for the freshness frontier). One item
    * per `<item>` (RSS: `<link>` text, `<title>`, RFC 1123 `<pubDate>`)
    * or `<entry>` (Atom: first `<link href>` attr, `<title>`, ISO-8601
    * `<updated>`): (item_url, title, published). http(s) locations only;
    * unparseable dates → epoch 0 (the sitemap lastmod sentinel
    * convention — never "fresh" by construction); title text is
    * entity-decoded and whitespace-collapsed by the shared DOM walk.
    * Never throws.
    *
    * Lenient-parser note: `link` is an HTML VOID tag in [[HtmlDom]] (its
    * RSS text child would detach as a sibling), so feed bytes pre-rewrite
    * `link` → `feedlink` before the parse — attributes (Atom href)
    * survive the rename untouched. */
  def parseFeed(xml: String): Seq[(String, String, java.sql.Timestamp)] = {
    def ts(s: String) = timestampOf(s, java.time.ZonedDateTime.parse(_,
      java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME).toInstant)
    def childLinkHref(e: HtmlDom.Element): String =
      e.children.collectFirst {
        case c: HtmlDom.Element if c.tag == "feedlink" && c.attrs.contains("href") =>
          c.attrs("href")
      }.getOrElse("")
    val out = Vector.newBuilder[(String, String, java.sql.Timestamp)]
    val rewritten = xml.replaceAll("(?i)<(/?)link([\\s>/])", "<$1feedlink$2")
    try HtmlDom.walk(HtmlDom.parse(rewritten), e => {
      val (loc, date) = e.tag match {
        case "item"  => (childText(e, "feedlink").trim, "pubdate")
        case "entry" => (childLinkHref(e).trim, "updated")
        case _       => ("", "")
      }
      if (loc.startsWith("http://") || loc.startsWith("https://"))
        out += ((loc, childText(e, "title"), ts(childText(e, date))))
      e.tag != "item" && e.tag != "entry"
    })
    catch { case NonFatal(_) => () }
    out.result()
  }

  /** Sitemap-driven recrawl scheduling — what a recurring crawl does with
    * the hosts' published sitemaps: each page entry is classified `new`
    * (not in the current snapshot — fetch it), `stale` (sitemap lastmod
    * is strictly newer than our crawl timestamp — refetch it) or dropped
    * (we already have a copy at least as fresh); child-sitemap references
    * surface as `index` rows (the follow-up fetch list). One row per
    * scheduled url: (url, status, lastmod).
    *
    * Scale shape: ONE left join of (loc, lastmod) pairs against the
    * snapshot's (url, warc_ts) projection — payloads never shuffle at any
    * snapshot size, and the classification is a map-side CASE. Epoch-0
    * lastmod sentinels (absent `<lastmod>`) are never `stale` by
    * construction — strictly older than any real crawl timestamp. */
  def sitemapRecrawl(entries: DataFrame, snapshot: DataFrame,
      urlCol: String = "url", tsCol: String = "warc_ts"): DataFrame = {
    val snap = snapshot.select(col(urlCol).as("__u"), col(tsCol).as("__ts"))
    entries.join(snap, entries("loc") === snap("__u"), "left")
      .select(col("loc").as("url"),
        when(col("is_index"), lit("index"))
          .when(col("__u").isNull, lit("new"))
          .when(col("lastmod") > col("__ts"), lit("stale")).as("status"),
        col("lastmod"))
      .filter(col("status").isNotNull)
  }

  /** Crawl-frontier generation — the next-batch URL selection a recurring
    * crawl runs over the current snapshot: outlink targets not yet in the
    * corpus, prioritized by inlink count, with crawl policy (robots.txt
    * rules, domain blocklist) enforced and a per-host politeness cap so
    * no single host dominates the batch.
    *
    * Stages (all payload-free — nothing wider than a url string crosses
    * any shuffle):
    *   1. candidate counts: links grouped by dst (map-side-combined);
    *   2. undiscovered: anti-join against the corpus url set;
    *   3. robots.txt enforcement ([[filterByRobots]] — RFC 9309
    *      longest-match over the per-host rules table);
    *   4. domain blocklist ([[filterBlockedHosts]] — equals-or-subdomain
    *      suffix join);
    *   5. per-host top-k by inlink count ([[TextOps.topKPerStratum]] —
    *      bounded-histogram cutoff, ties by url; a host with millions of
    *      candidates never sorts in one task).
    * Output: (url, host, n_inlinks), the selected frontier. */
  def crawlFrontier(corpusUrls: DataFrame, links: DataFrame,
      rules: DataFrame, blocklist: DataFrame, perHostK: Long,
      urlCol: String = "url", dstCol: String = "dst"): DataFrame = {
    val cand = links.groupBy(col(dstCol).as("url"))
      .agg(count(lit(1)).as("n_inlinks"))
      .join(corpusUrls.select(col(urlCol).as("url")), Seq("url"), "left_anti")
    val allowed = filterBlockedHosts(
      filterByRobots(cand, "url", rules), "url", blocklist)
      .withColumn("host", hostOf(col("url")))
    TextOps.topKPerStratum(allowed, "url", "host", col("n_inlinks"), perHostK)
      .select("url", "host", "n_inlinks")
  }
}
