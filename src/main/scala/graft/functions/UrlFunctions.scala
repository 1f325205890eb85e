package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.functions.udf

/** URL canonicalization — the reference's dedup key for articles and SERP
  * results (reference `src/url_utils.py:5-47`: scheme/host lowercase, strip
  * `www.`, collapse `//` in path, drop tracking params (`utm_*`, `gaa_*`,
  * gclid/fbclid/...), sort remaining query pairs, drop `;params` + fragment;
  * url_hash = sha256 of the normalized form; hostname per
  * `src/risk_rules.py:64-69`). Parsing delegates to [[PyUrl]] — a faithful
  * CPython `urlparse` port — because the reference's behavior on messy
  * real-world URLs (spaces, underscores, IDN hosts, scheme-less strings) is
  * defined by Python's string-splitting tolerance, not RFC-strict
  * `java.net.URI`.
  *
  * Implemented as Scala UDFs: the logic (query-pair parse/sort/encode) is
  * beyond native expressions. These sit on the *ingest* path (once per row at
  * write time, persisted as `url_hash`), not in hot read queries, so the
  * codegen fence a UDF creates is paid where it doesn't matter.
  */
object UrlFunctions {

  private val TrackingParams = Set(
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "igshid", "mc_cid", "mc_eid", "vero_id",
    "gaa_at", "gaa_n", "gaa_ts", "gaa_sig")

  /** Port of `normalize_url` (`src/url_utils.py:12-40`): `urlparse` →
    * default scheme http, lowercase netloc (userinfo/port kept), strip one
    * leading `www.`, collapse `//+` in path, drop params, filter+sort+re-encode
    * query, drop fragment, `urlunparse`. */
  def normalizeUrlImpl(url: String): String = {
    if (url == null) return ""
    val trimmed = url.trim
    if (trimmed.isEmpty) return ""
    val parsed =
      try PyUrl.urlparse(trimmed)
      catch { case _: PyUrl.InvalidUrlException => return "" }

    val scheme = if (parsed.scheme.isEmpty) "http" else parsed.scheme
    var netloc = parsed.netloc.toLowerCase(java.util.Locale.ROOT)
    if (netloc.startsWith("www.")) netloc = netloc.substring(4)
    val path = parsed.path.replaceAll("//+", "/")

    val pairs = PyUrl.parseQsl(parsed.query)
      .filterNot { case (k, _) =>
        TrackingParams.contains(k) || k.startsWith("utm_") || k.startsWith("gaa_")
      }
      .sorted(PyUrl.pairOrdering) // Python sorts by code point, not UTF-16
    PyUrl.urlunsplit(scheme, netloc, path, PyUrl.urlencode(pairs), "")
  }

  /** Port of `url_hash` (`src/url_utils.py:43-47`): sha256 hex of normalized. */
  def urlHashImpl(url: String): String = {
    val n = normalizeUrlImpl(url)
    if (n.isEmpty) ""
    else MessageDigest.getInstance("SHA-256")
      .digest(n.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** Port of `hostname` (`src/risk_rules.py:64-69`) — NB the reference does
    * `host.replace("www.", "")` (all occurrences), replicated faithfully;
    * `urlparse` raising (invalid bracketed host) maps to "" per the
    * reference's `except Exception`. */
  def hostnameImpl(url: String): String = {
    try PyUrl.hostnameOf(Option(url).getOrElse("")).replace("www.", "")
    catch { case _: Exception => "" }
  }

  val normalizeUrl = udf(normalizeUrlImpl _)
  val urlHash = udf(urlHashImpl _)
  val hostName = udf(hostnameImpl _)
}
