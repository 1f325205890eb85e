package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.functions.udf

/** Entity/sector lookup-normalization and fuzzy scoring (reference K6:
  * `dashboard_app/app.py:964-1094`). Parity notes:
  *
  *  - `normalizeLookupText`: casefold, `&` -> " and ", non-alnum -> space,
  *    optional trailing company-suffix-token strip (`app.py:964-975`,
  *    suffix set `app.py:130-134`).
  *  - `sequenceMatcherRatio` is a faithful reimplementation of CPython
  *    difflib's Ratcliff–Obershelp `SequenceMatcher.ratio()` INCLUDING the
  *    autojunk rule (elements occurring in >1% of a b-side longer than 199
  *    chars are excluded from matching anchors) — `ratio` parity matters
  *    because resolution thresholds (0.84/0.88/0.82 with 0.015/0.01/0.02
  *    runner-up margins, `app.py:1204-1217`) sit near real score values.
  *  - `scoreLookupCandidate` reproduces the tier ladder
  *    (ticker/name/alias exact 1.0..0.982, prefix/contains 0.955..0.93,
  *    else max fuzzy ratio — `app.py:1002-1060`).
  */
object TextLookup {

  val CompanySuffixTokens: Set[String] = Set(
    "inc", "incorporated", "corp", "corporation", "co", "company", "companies",
    "group", "holding", "holdings", "llc", "ltd", "limited", "plc", "sa",
    "ag", "nv", "lp", "llp", "the")

  def normalizeLookupText(text: String, stripCompanySuffixes: Boolean = false): String = {
    val value = Option(text).getOrElse("").trim.toLowerCase(java.util.Locale.ROOT)
    if (value.isEmpty) return ""
    val replaced = value.replace("&", " and ")
    val spaced = replaced.replaceAll("[^a-z0-9]+", " ")
    var tokens = spaced.split(" ").filter(_.nonEmpty).toList
    if (stripCompanySuffixes) {
      while (tokens.nonEmpty && CompanySuffixTokens.contains(tokens.last))
        tokens = tokens.init
    }
    tokens.mkString(" ")
  }

  def singularizeLookupToken(token: String): String = {
    if (token == null || token.isEmpty) token
    else if (token.endsWith("ies") && token.length > 3) token.dropRight(3) + "y"
    else if (token.endsWith("ses") && token.length > 3) token.dropRight(2)
    else if (token.endsWith("s") && token.length > 3 &&
      !token.endsWith("ss") && !token.endsWith("us") && !token.endsWith("is"))
      token.dropRight(1)
    else token
  }

  /** difflib.SequenceMatcher(None, a, b).ratio() over characters. */
  def sequenceMatcherRatio(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val la = a.length
    val lb = b.length
    if (la + lb == 0) return 1.0 // difflib: 2*0/0 would ZeroDivide; callers never hit

    // b2j with autojunk: drop "popular" elements (> 1% of b, len(b) >= 200)
    // from the index ONLY. CPython keeps `bpopular` separate from `bjunk`
    // (difflib.__chain_b) — with no isjunk arg the junk set stays EMPTY, so
    // isbjunk is false for popular chars and the junk-extension loops in
    // find_longest_match never fire.
    val b2j = mutable.HashMap.empty[Char, mutable.ArrayBuffer[Int]]
    var j = 0
    while (j < lb) {
      b2j.getOrElseUpdate(b.charAt(j), mutable.ArrayBuffer.empty[Int]) += j
      j += 1
    }
    if (lb >= 200) {
      val ntest = lb / 100 + 1
      b2j.keys.toList.foreach { ch =>
        if (b2j(ch).length > ntest) b2j.remove(ch)
      }
    }

    def findLongestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      var besti = alo; var bestj = blo; var bestsize = 0
      var j2len = mutable.HashMap.empty[Int, Int]
      var i = alo
      while (i < ahi) {
        val newj2len = mutable.HashMap.empty[Int, Int]
        b2j.get(a.charAt(i)).foreach { js =>
          val it = js.iterator
          var break = false
          while (it.hasNext && !break) {
            val jj = it.next()
            if (jj >= blo) {
              if (jj >= bhi) break = true
              else {
                val k = j2len.getOrElse(jj - 1, 0) + 1
                newj2len(jj) = k
                if (k > bestsize) { besti = i - k + 1; bestj = jj - k + 1; bestsize = k }
              }
            }
          }
        }
        j2len = newj2len
        i += 1
      }
      // extension loops: bjunk is empty (no isjunk param), so difflib's
      // second (junk) extension pass is a no-op — only this pair remains
      while (besti > alo && bestj > blo &&
        a.charAt(besti - 1) == b.charAt(bestj - 1)) { besti -= 1; bestj -= 1; bestsize += 1 }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
        a.charAt(besti + bestsize) == b.charAt(bestj + bestsize)) bestsize += 1
      (besti, bestj, bestsize)
    }

    var matches = 0
    val queue = mutable.Stack((0, la, 0, lb))
    while (queue.nonEmpty) {
      val (alo, ahi, blo, bhi) = queue.pop()
      val (i, jj, k) = findLongestMatch(alo, ahi, blo, bhi)
      if (k > 0) {
        matches += k
        if (alo < i && blo < jj) queue.push((alo, i, blo, jj))
        if (i + k < ahi && jj + k < bhi) queue.push((i + k, ahi, jj + k, bhi))
      }
    }
    2.0 * matches / (la + lb)
  }

  /** Candidate score ladder (`app.py:1002-1060`). Returns (score, matchType).
    * `isCompany` selects company-suffix stripping + ticker tiers. */
  def scoreLookupCandidate(
      query: String,
      entityName: String,
      alias: String,
      ticker: String,
      isCompany: Boolean): (Double, String) = {
    val queryRaw = Option(query).getOrElse("").trim
    val queryLower = queryRaw.toLowerCase(java.util.Locale.ROOT)
    val queryFull = normalizeLookupText(queryRaw)
    val queryBase = normalizeLookupText(queryRaw, stripCompanySuffixes = isCompany)
    if (queryRaw.isEmpty || queryFull.isEmpty) return (0.0, "")

    val name = Option(entityName).getOrElse("").trim
    val al = Option(alias).getOrElse("").trim
    val tk = Option(ticker).getOrElse("").trim
    val nameFull = normalizeLookupText(name)
    val nameBase = normalizeLookupText(name, stripCompanySuffixes = isCompany)
    val aliasFull = normalizeLookupText(al)
    val aliasBase = normalizeLookupText(al, stripCompanySuffixes = isCompany)

    if (isCompany && tk.nonEmpty && queryLower == tk.toLowerCase(java.util.Locale.ROOT)) return (1.0, "ticker_exact")
    if (queryLower == name.toLowerCase(java.util.Locale.ROOT)) return (0.995, "name_exact")
    if (al.nonEmpty && queryLower == al.toLowerCase(java.util.Locale.ROOT)) return (0.992, "alias_exact")
    if (queryFull == nameFull) return (0.99, "name_normalized")
    if (al.nonEmpty && queryFull == aliasFull) return (0.988, "alias_normalized")
    if (queryBase.nonEmpty && queryBase == nameBase) return (0.985, "name_base")
    if (aliasBase.nonEmpty && queryBase.nonEmpty && queryBase == aliasBase)
      return (0.982, "alias_base")

    if (queryBase.length >= 4 && nameBase.startsWith(queryBase)) return (0.955, "name_prefix")
    if (aliasBase.nonEmpty && queryBase.length >= 4 && aliasBase.startsWith(queryBase))
      return (0.95, "alias_prefix")
    if (queryBase.length >= 4 && nameBase.contains(queryBase)) return (0.935, "name_contains")
    if (aliasBase.nonEmpty && queryBase.length >= 4 && aliasBase.contains(queryBase))
      return (0.93, "alias_contains")

    val scores = mutable.ArrayBuffer.empty[(Double, String)]
    if (nameBase.nonEmpty) {
      scores += ((sequenceMatcherRatio(queryBase, nameBase), "name_fuzzy"))
      scores += ((sequenceMatcherRatio(queryFull, nameFull), "name_fuzzy"))
    }
    if (aliasBase.nonEmpty) {
      scores += ((sequenceMatcherRatio(queryBase, aliasBase), "alias_fuzzy"))
      scores += ((sequenceMatcherRatio(queryFull, aliasFull), "alias_fuzzy"))
    }
    if (isCompany && tk.nonEmpty)
      scores += ((sequenceMatcherRatio(queryLower, tk.toLowerCase(java.util.Locale.ROOT)), "ticker_fuzzy"))

    if (scores.isEmpty) (0.0, "") else scores.maxBy(_._1)
  }

  /** `normalized_sector_keys` (`app.py:988-999`): normalized + singularized
    * variants, deduped in order. */
  def normalizedSectorKeys(text: String): Seq[String] = {
    val normalized = normalizeLookupText(text)
    if (normalized.isEmpty) Seq.empty
    else {
      val singular = normalized.split(" ").map(singularizeLookupToken).mkString(" ")
      Seq(normalized, singular).distinct
    }
  }

  /** `_score_sector_candidate` (`app.py:1067-1094`): exact 1.0, normalized
    * 0.99, singular 0.985, prefix 0.955, contains 0.94, else best fuzzy. */
  def scoreSectorCandidate(query: String, sector: String): (Double, String) = {
    val queryRaw = Option(query).getOrElse("").trim
    val sectorRaw = Option(sector).getOrElse("").trim
    if (queryRaw.isEmpty || sectorRaw.isEmpty) return (0.0, "")
    if (queryRaw.toLowerCase(java.util.Locale.ROOT) == sectorRaw.toLowerCase(java.util.Locale.ROOT)) return (1.0, "sector_exact")
    val queryKeys = normalizedSectorKeys(queryRaw)
    val sectorKeys = normalizedSectorKeys(sectorRaw)
    if (queryKeys.isEmpty || sectorKeys.isEmpty) return (0.0, "")
    if (queryKeys.head == sectorKeys.head) return (0.99, "sector_normalized")
    if (queryKeys.length > 1 && queryKeys(1) == sectorKeys.last)
      return (0.985, "sector_singular")
    var best = (0.0, "")
    for (qk <- queryKeys; sk <- sectorKeys) {
      if (qk.length >= 4 && sk.startsWith(qk) && 0.955 > best._1)
        best = (0.955, "sector_prefix")
      if (qk.length >= 4 && sk.contains(qk) && 0.94 > best._1)
        best = (0.94, "sector_contains")
      val ratio = sequenceMatcherRatio(qk, sk)
      if (ratio > best._1) best = (ratio, "sector_fuzzy")
    }
    best
  }

  /** `resolve_sector_lookup` margin rule (`app.py:1204-1217`): accept top
    * candidate at >= 0.82 unless a runner-up is within 0.02 (waived when the
    * top is >= 0.99). */
  def resolveWithMargin(
      scored: Seq[(String, Double)],
      threshold: Double = 0.82,
      margin: Double = 0.02): Option[(String, Double)] = {
    val sorted = scored.sortBy(-_._2)
    sorted.headOption.filter(_._2 >= threshold).filter { top =>
      top._2 >= 0.99 || sorted.drop(1).headOption.forall(_._2 < top._2 - margin)
    }
  }

  val seqRatioUdf = udf(sequenceMatcherRatio _)
}
