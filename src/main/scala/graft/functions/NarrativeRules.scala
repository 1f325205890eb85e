package graft.functions

import java.util.regex.Pattern

/** Narrative tag classification kernels (reference K1/K2:
  * `dashboard_app/narrative_runtime.py:6-445`). Rule version "v3". The
  * pattern sets and tag priority orders are the reference's — classification
  * parity requires identical regexes; the implementation (single compiled
  * battery applied per row, struct result) is Spark-idiomatic.
  */
object NarrativeRules {

  val RuleVersion = "v3"
  val MinNegTopStories = 2
  val OtherMinSupport = 2

  val CrisisTags: Seq[String] = Seq(
    "Workforce Reductions", "Accidents & Disasters", "Data Breaches",
    "Activist Investor Interest", "Legal & Regulatory", "Unforced Errors",
    "Labor Disputes", "CEO Departures (firings, resignations)", "Fraud", "Other")
  val NonCrisisTags: Seq[String] =
    Seq("Rebranding", "Mergers and acquisitions", "Planned Executive Turnover")

  val TagGroups: Map[String, String] =
    CrisisTags.map(_ -> "crisis").toMap ++ NonCrisisTags.map(_ -> "non_crisis").toMap
  val TagOrder: Map[String, Int] =
    (CrisisTags ++ NonCrisisTags).zipWithIndex.toMap

  private def ci(p: String) = Pattern.compile(p, Pattern.CASE_INSENSITIVE)

  private val workforceTerms = Seq(
    "\\blayoff(s)?\\b", "\\blays?\\s+off\\b", "\\blaid\\s+off\\b",
    "\\bjob cuts?\\b", "\\bworkforce reduction(?:s)?\\b", "\\bworkforce cuts?\\b",
    "\\bheadcount reduction(?:s)?\\b", "\\bstaff reduction(?:s)?\\b",
    "\\brestructuring plan\\b", "\\bdownsiz(?:e|ing)\\b", "\\bright[- ]siz(?:e|ing)\\b",
    "\\bredundanc(?:y|ies)\\b", "\\bfurlough(?:s|ed|ing)?\\b",
    "\\bposition eliminations?\\b").mkString("|")

  val WorkforceRe: Pattern = ci(workforceTerms)

  val LowPriorityCrisisBlockerRe: Pattern = ci(
    "\\b(data breach(?:es)?|cyber(?:attack|attacks|breach|breaches)|ransomware|" +
      "hack(?:ed|s|ing)?|fraud|embezzl(?:e|ement)|briber(?:y|ies)|corruption|" +
      "indict(?:ed|ment|ments)?|guilty|convicted|subpoena(?:s)?|charge(?:d|s)?|" +
      "chapter\\s+11|bankrupt(?:cy|cies)|default(?:s|ed|ing)?|insolven(?:t|cy)|" +
      "delinquen(?:t|cy)|miss(?:es|ed|ing)\\s+payments?|fatal(?:ity|ities)|" +
      "death(?:s)?|killed|injur(?:y|ies)|explosion(?:s)?|fire(?:s)?|crash(?:es|ed)?|" +
      "collapse(?:d|s)?|contamination|chemical spill|oil spill|gas leak|" +
      "toxic release|hazmat|recall(?:s|ed|ing)?)\\b")
  val LowPriorityLegalEnforcementRe: Pattern = ci(
    "\\b(class[- ]action|lawsuit(?:s)?|legal action|attorney general|sec\\b|doj\\b|" +
      "ftc\\b|cfpb\\b|eeoc\\b|nlrb\\b|investigat(?:e|es|ed|ing|ion)|probe(?:s|d)?|" +
      "unlawful(?:ly)?|illegal(?:ly)?|discrimination|retaliation)\\b")
  val LowPriorityTariffContextRe: Pattern = ci(
    "\\b(tariff(?:s)?|trade dispute(?:s)?|trade war|trade polic(?:y|ies)|" +
      "import dut(?:y|ies)|customs dut(?:y|ies)|trade barrier(?:s)?|import lev(?:y|ies))\\b")
  val LowPriorityTariffLegalRe: Pattern = ci(
    "\\b(lawsuit(?:s)?|legal action|sue(?:s|d|ing)?|court challenge|" +
      "complaint(?:s)?|petition(?:s|ed|ing)?|appeal(?:s|ed|ing)?)\\b")
  val LowPriorityTariffBlockerRe: Pattern = ci(
    "\\b(class[- ]action|attorney general|sec\\b|doj\\b|ftc\\b|cfpb\\b|epa\\b|fda\\b|" +
      "osha\\b|eeoc\\b|nlrb\\b|investigat(?:e|es|ed|ing|ion)|probe(?:s|d)?|" +
      "misconduct|antitrust|sanction(?:s|ed)?|penalt(?:y|ies))\\b")
  val LowPriorityDelayActionRe: Pattern = ci(
    "\\b(delay(?:s|ed|ing)?|postpon(?:e|es|ed|ing|ement)|" +
      "push(?:es|ed|ing)?\\s+back|slipp(?:ed|ing|age))\\b")
  val LowPriorityDelayContextRe: Pattern = ci(
    "\\b(ai chip(?:s)?|chip(?:s)?|semiconductor(?:s)?|robotaxi|launch|rollout|" +
      "release|production|product roadmap|timeline|platform|model(?:s)?|program)\\b")
  val LowPriorityDelayBlockerRe: Pattern = ci(
    "\\b(recall(?:s|ed|ing)?|safety|fatal(?:ity|ities)|death(?:s)?|injur(?:y|ies)|" +
      "fda\\b|osha\\b)\\b")
  val LowPriorityFeeContextRe: Pattern = ci(
    "\\b(commission(?: fee)?s?|app store (?:fee|fees|commission)|take rate|" +
      "developer fee(?:s)?|marketplace fee(?:s)?|platform fee(?:s)?)\\b")
  val LowPriorityFeeActionRe: Pattern = ci(
    "\\b(reduc(?:e|es|ed|ing)|cut(?:s|ting)?|lower(?:s|ed|ing)|" +
      "slash(?:es|ed|ing)?|trim(?:s|med|ming))\\b")
  val LowPriorityDebtContextRe: Pattern = ci(
    "\\b(debt|notes?|bonds?|maturit(?:y|ies)|credit facility|term loan|" +
      "capital structure|liabilit(?:y|ies) management|debt exchange|exchange offer)\\b")
  val LowPriorityDebtActionRe: Pattern = ci(
    "\\b(refinanc(?:e|es|ed|ing)|exchange(?:s|d|ing)?|extend(?:s|ed|ing)?|" +
      "reduce(?:s|d|ing)?|repay(?:s|ment|ing)?|retir(?:e|es|ed|ing)|" +
      "issu(?:e|es|ed|ing)|offer(?:s|ed|ing)?|amend(?:s|ed|ing)?|swap(?:s|ped|ping)?)\\b")
  val LowPriorityDebtBlockerRe: Pattern = ci(
    "\\b(default(?:s|ed|ing)?|distress(?:ed)?|delinquen(?:t|cy)|insolven(?:t|cy)|" +
      "bankrupt(?:cy|cies)|chapter\\s+11|miss(?:es|ed|ing)\\s+payments?|" +
      "restructuring support agreement)\\b")
  val LowPriorityStoreContextRe: Pattern = ci(
    "\\b(store(?:s)?|location(?:s)?|restaurant(?:s)?|branch(?:es)?|outlet(?:s)?|" +
      "shop(?:s)?|office(?:s)?|club(?:s)?|pharmacies|pharmacy|retail locations?)\\b")
  val LowPriorityStoreActionRe: Pattern = ci("\\bclos(?:e|es|ed|ing|ure|ures)\\b")

  val RebrandingRe: Pattern = ci(
    "\\b(rebrand(?:ing|ed|s)?|brand refresh|new logo|renam(?:e|ed|ing)|" +
      "new brand identity|brand overhaul)\\b")
  val MnaRe: Pattern = ci(
    "\\b(merger(?:s)?|acquisition(?:s)?|acquire(?:d|s|ing)?|buyout|takeover|" +
      "merge(?:s|d|r|ing)?|spinoff|spin-off)\\b")
  val PlannedExecRe: Pattern = ci(
    "\\b(retire(?:s|d|ment|ing)?|succession plan(?:ning)?|planned succession|" +
      "planned transition|step(?:ping)? down|to step down|will step down|" +
      "named successor|successor)\\b")
  val PlannedExecExcludeRe: Pattern = ci(
    "\\b(fired|firing|ousted|forced out|amid|scandal|probe|investigat(?:e|es|ed|ing|ion)|" +
      "lawsuit|indict(?:ed|ment)?|charged|fraud|misconduct)\\b")
  val AccidentRe: Pattern = ci(
    "\\b(accident(?:s)?|explosion(?:s)?|fire(?:s)?|disaster(?:s)?|fatal(?:ity|ities)|" +
      "injur(?:y|ies)|crash(?:es|ed)?|derailment|collapse(?:d|s)?|plant incident|" +
      "chemical spill|oil spill|gas leak|toxic release|hazmat|contamination|" +
      "industrial incident|site shutdown|evacuat(?:e|ed|ion))\\b")
  val DataBreachRe: Pattern = ci(
    "\\b(data breach(?:es)?|cyber(?:attack|attacks)|ransomware|hack(?:ed|s|ing)?|" +
      "security breach(?:es)?|data leak(?:s|ed|ing)?|expos(?:e|ed|ure|ing)|" +
      "unauthori[sz]ed access|stolen data|compromised (?:accounts?|systems?|credentials)|" +
      "malware|phishing|ddos|privacy incident|zero[- ]day|vulnerabilit(?:y|ies))\\b")
  val ActivistInvestorRe: Pattern = ci(
    "\\b(activist investor(?:s)?|activist hedge fund(?:s)?|proxy (?:fight|battle|contest)|" +
      "dissident shareholder(?:s)?|board seat(?:s)?|board representation|" +
      "nominat(?:e|es|ed|ing) (?:director|directors)|shareholder campaign|campaign letter|" +
      "schedule 13d|13d filing|push(?:ing)? for (?:a sale|breakup|spin-?off|board changes?))\\b")
  val LegalRe: Pattern = ci(
    "\\b(attorney general|lawsuit(?:s)?|legal action|regulator(?:y)?|regulatory|" +
      "investigat(?:e|es|ed|ing|ion)|probe(?:s|d)?|settle(?:ment|s|d|ing)?|fine(?:d|s|ing)?|" +
      "charged|indict(?:ed|ment)?|class[- ]action|subpoena(?:s)?|consent (?:order|decree)|" +
      "injunction|violat(?:ion|ions)|non[- ]compliance|sec\\b|doj\\b|ftc\\b|cfpb\\b|" +
      "epa\\b|fda\\b|osha\\b|eeoc\\b|nlrb\\b|cpsc\\b)\\b")
  val UnforcedRe: Pattern = ci(
    "\\b(backlash|boycott(?:s|ed|ing)?|tone[- ]deaf|ad campaign|advertising campaign|" +
      "public apology|apolog(?:y|ies|ize|ized|izing)|controversial comment(?:s)?|" +
      "executive comment(?:s)?|social media post|pr disaster|gaffe|offensive (?:remark|remarks|post)|" +
      "insensitive (?:remark|remarks|post)|walked back|deleted post|viral backlash)\\b")
  val LaborRe: Pattern = ci(
    "\\b(strike(?:s|d|ing)?|walkout(?:s)?|labor dispute(?:s)?|union dispute(?:s)?|" +
      "picket(?:ing)?|collective bargaining|contract talks?|lockout(?:s)?|work stoppage(?:s)?|" +
      "unionization drive|organizing drive|unfair labor practice(?:s)?|nlrb charge(?:s)?|contract impasse)\\b")
  val CeoDepartRe: Pattern = ci(
    "\\b(ceo\\s+(?:resign(?:s|ed|ing|ation)?|step(?:s|ped)? down|depart(?:s|ed|ure)|" +
      "fired|ouste?d|removed)|chief executive\\s+(?:resign(?:s|ed|ing|ation)?|step(?:s|ped)? down|" +
      "fired|ouste?d|removed)|resign(?:s|ed|ing|ation)? as ceo|ouste?d ceo|fired ceo)\\b")
  val CeoDepartExcludeRe: Pattern = ci(
    "\\b(retire(?:s|d|ment|ing)?|succession plan(?:ning)?|planned succession|" +
      "planned transition|named successor|interim ceo)\\b")
  val FraudRe: Pattern = ci(
    "\\b(fraud|embezzl(?:e|ed|ing|ement)|briber(?:y|ies)|corruption|ponzi|accounting fraud|" +
      "falsif(?:y|ied|ication)|misappropriation|insider trading|securities fraud|wire fraud|" +
      "mail fraud|money laundering|kickback(?:s)?|tax evasion|false claims|bid rigging)\\b")

  /** RE2-compatible source string for SQL oracles: the battery uses only
    * `\b`, alternation, non-capturing groups and char classes (no
    * lookaround), so DuckDB's regexp_matches accepts the exact same pattern
    * with an inline case-insensitivity flag. */
  def sqlPattern(p: Pattern): String = "(?i)" + p.pattern()

  private def hit(p: Pattern, hay: String): Boolean = p.matcher(hay).find()

  private def haystack(title: String, snippet: String, url: String, source: String): String =
    Seq(title, snippet, source, url).map(Option(_).getOrElse(""))
      .filter(_.nonEmpty).mkString(" ").trim

  /** K2 `is_low_priority_business_story` (`narrative_runtime.py:263-340`):
    * six suppressor patterns, each context+action minus blockers. */
  def isLowPriorityBusinessStory(title: String, snippet: String = "",
      url: String = "", source: String = ""): Boolean = {
    val hay = haystack(title, snippet, url, source)
    if (hay.isEmpty) return false
    val tariff = hit(LowPriorityTariffContextRe, hay) && hit(LowPriorityTariffLegalRe, hay) &&
      !hit(LowPriorityTariffBlockerRe, hay) && !hit(LowPriorityCrisisBlockerRe, hay)
    val workforce = hit(WorkforceRe, hay) &&
      !hit(LowPriorityCrisisBlockerRe, hay) && !hit(LowPriorityLegalEnforcementRe, hay)
    val delay = hit(LowPriorityDelayActionRe, hay) && hit(LowPriorityDelayContextRe, hay) &&
      !hit(LowPriorityDelayBlockerRe, hay) && !hit(LowPriorityCrisisBlockerRe, hay)
    val fee = hit(LowPriorityFeeActionRe, hay) && hit(LowPriorityFeeContextRe, hay) &&
      !hit(LowPriorityCrisisBlockerRe, hay)
    val debt = hit(LowPriorityDebtActionRe, hay) && hit(LowPriorityDebtContextRe, hay) &&
      !hit(LowPriorityDebtBlockerRe, hay) && !hit(LowPriorityCrisisBlockerRe, hay)
    val store = hit(LowPriorityStoreActionRe, hay) && hit(LowPriorityStoreContextRe, hay) &&
      !hit(LowPriorityCrisisBlockerRe, hay) && !hit(LowPriorityLegalEnforcementRe, hay)
    tariff || workforce || delay || fee || debt || store
  }

  case class NarrativeResult(
      primaryTag: Option[String],
      primaryGroup: Option[String],
      tags: Seq[String],
      isCrisis: Option[Boolean],
      ruleVersion: String = RuleVersion)

  private val Empty = NarrativeResult(None, None, Seq.empty, None)

  /** K1 `classify_narrative_tags` (`narrative_runtime.py:364-445`): gate on
    * negative sentiment + not finance-routine + not low-priority; match the
    * crisis battery in fixed priority order (first crisis hit wins primary),
    * else non-crisis, else optional `Other` fallback. */
  def classifyNarrativeTags(
      title: String,
      snippet: String = "",
      url: String = "",
      source: String = "",
      sentiment: String = null,
      financeRoutine: java.lang.Boolean = null,
      allowOtherFallback: Boolean = true): NarrativeResult = {
    val sentimentL = Option(sentiment).getOrElse("").trim.toLowerCase(java.util.Locale.ROOT)
    if (sentimentL.nonEmpty && sentimentL != "negative") return Empty
    if (financeRoutine != null && financeRoutine.booleanValue()) return Empty

    val hay = Seq(title, snippet, source, url).map(Option(_).getOrElse(""))
      .mkString(" ").trim
    if (hay.isEmpty) return Empty
    if (isLowPriorityBusinessStory(title, snippet, url, source)) return Empty

    val nonCrisis = Seq(
      (RebrandingRe, "Rebranding", None),
      (MnaRe, "Mergers and acquisitions", None),
      (PlannedExecRe, "Planned Executive Turnover", Some(PlannedExecExcludeRe))
    ).collect {
      case (re, tag, None) if hit(re, hay) => tag
      case (re, tag, Some(ex)) if hit(re, hay) && !hit(ex, hay) => tag
    }

    val crisis = Seq(
      (FraudRe, "Fraud", None),
      (DataBreachRe, "Data Breaches", None),
      (CeoDepartRe, "CEO Departures (firings, resignations)", Some(CeoDepartExcludeRe)),
      (WorkforceRe, "Workforce Reductions", None),
      (LaborRe, "Labor Disputes", None),
      (AccidentRe, "Accidents & Disasters", None),
      (ActivistInvestorRe, "Activist Investor Interest", None),
      (UnforcedRe, "Unforced Errors", None),
      (LegalRe, "Legal & Regulatory", None)
    ).collect {
      case (re, tag, None) if hit(re, hay) => tag
      case (re, tag, Some(ex)) if hit(re, hay) && !hit(ex, hay) => tag
    }

    if (crisis.nonEmpty)
      NarrativeResult(Some(crisis.head), Some("crisis"),
        (crisis ++ nonCrisis).distinct, Some(true))
    else if (nonCrisis.nonEmpty)
      NarrativeResult(Some(nonCrisis.head), Some("non_crisis"),
        nonCrisis.distinct, Some(false))
    else if (allowOtherFallback)
      NarrativeResult(Some("Other"), Some("crisis"), Seq("Other"), Some(true))
    else Empty
  }
}
