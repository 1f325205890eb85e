"""Correctness gate: the 7 gold tables recomputed in DuckDB from the
generated bronze (plus what a run ingested or edited) and compared with the
gold parquet the run wrote, by order-independent digests; likewise the
answers of the point-read probes (`dailyCounts`, `serpFeatureSeries`,
`negativeSummary`), restated as filters over the recomputed gold.

The SQL restates the reference's materialized views
(`sql/*_mv.sql`, ported in `graft.gold.GoldTables`) and the endpoints'
filters (`graft.api.Api`) in DuckDB.
"""
import glob
import os

import duckdb

GOLD = ["serp_feature_daily", "serp_feature_control_daily", "serp_feature_daily_index",
        "serp_feature_control_daily_index", "article_daily_counts", "serp_daily_counts",
        "negative_summary"]

BRONZE = ["companies", "ceos", "articles", "company_article_mentions",
          "ceo_article_mentions", "company_article_mentions_daily",
          "ceo_article_mentions_daily", "company_article_overrides", "ceo_article_overrides",
          "serp_runs", "serp_results", "serp_result_overrides", "serp_feature_items",
          "serp_feature_item_overrides", "serp_feature_url_overrides"]


def neg_pct(n, t, scale):
    """round(n / t, scale) half-up, rendered as decimal(38,6) text."""
    q = f"CAST(((2 * {n} * {10 ** scale} + {t}) // (2 * {t})) * {10 ** (6 - scale)} AS BIGINT)"
    return (f"CASE WHEN {t} > 0 THEN printf('%d.%06d', {q} // 1000000, {q} % 1000000) "
            f"ELSE '0.000000' END")


SQL = {
    "article_daily_counts": f"""
WITH b AS (
  SELECT m.date, c.id, c.name,
         coalesce(o.override_sentiment_label, m.sentiment_label) AS eff
  FROM company_article_mentions_daily m
  JOIN companies c ON m.company_id = c.id
  LEFT JOIN company_article_overrides o
    ON m.company_id = o.company_id AND m.article_id = o.article_id),
bb AS (
  SELECT date, id, name, count_if(eff = 'positive') AS pos, count_if(eff = 'neutral') AS neu,
         count_if(eff = 'negative') AS neg, count(*) AS total
  FROM b GROUP BY date, id, name),
c AS (
  SELECT m.date, e.id, e.name AS ceo_name, e.alias, co.id AS cid, co.name AS company_name,
         coalesce(o.override_sentiment_label, m.sentiment_label) AS eff
  FROM ceo_article_mentions_daily m
  JOIN ceos e ON m.ceo_id = e.id
  JOIN companies co ON e.company_id = co.id
  LEFT JOIN ceo_article_overrides o ON m.ceo_id = o.ceo_id AND m.article_id = o.article_id),
cc AS (
  SELECT date, id, ceo_name, alias, cid, company_name, count_if(eff = 'positive') AS pos,
         count_if(eff = 'neutral') AS neu, count_if(eff = 'negative') AS neg,
         count(*) AS total
  FROM c GROUP BY date, id, ceo_name, alias, cid, company_name)
SELECT date, 'brand' AS entity_type, id AS entity_id, id AS company_id,
       NULL::VARCHAR AS ceo_id, name AS entity_name, name AS company, '' AS ceo, '' AS alias,
       pos AS positive, neu AS neutral, neg AS negative, total,
       {neg_pct('neg', 'total', 6)} AS neg_pct
FROM bb
UNION ALL
SELECT date, 'ceo', id, cid, id, ceo_name, company_name, ceo_name, coalesce(alias, ''),
       pos, neu, neg, total, {neg_pct('neg', 'total', 1)}
FROM cc""",

    "serp_daily_counts": """
WITH j AS (
  SELECT r.entity_type, r.company_id, r.ceo_id, CAST(r.run_at AS DATE) AS date,
         coalesce(o.override_control_class, s.llm_control_class, s.control_class) AS ctl,
         coalesce(o.override_sentiment_label, s.llm_sentiment_label, s.sentiment_label)
           AS sent
  FROM serp_runs r
  JOIN serp_results s ON s.serp_run_id = r.id
  LEFT JOIN serp_result_overrides o ON o.serp_result_id = s.id)
SELECT date, 'brand' AS entity_type, c.id AS entity_id, c.id AS company_id,
       NULL::VARCHAR AS ceo_id, c.name AS entity_name, c.name AS company, '' AS ceo,
       count(*) AS total, count_if(ctl = 'controlled') AS controlled,
       count_if(sent = 'negative') AS negative_serp, count_if(sent = 'neutral') AS neutral_serp,
       count_if(sent = 'positive') AS positive_serp
FROM j JOIN companies c ON j.company_id = c.id
WHERE j.entity_type = 'company'
GROUP BY date, c.id, c.name
UNION ALL
SELECT date, 'ceo', e.id, co.id, e.id, e.name, co.name, e.name,
       count(*), count_if(ctl = 'controlled'), count_if(sent = 'negative'),
       count_if(sent = 'neutral'), count_if(sent = 'positive')
FROM j JOIN ceos e ON j.ceo_id = e.id JOIN companies co ON e.company_id = co.id
WHERE j.entity_type = 'ceo'
GROUP BY date, e.id, e.name, co.id, co.name""",

    "serp_feature_daily": """
SELECT date, entity_type, entity_id, entity_name, feature_type, count(*) AS total_count,
       count_if(eff_sentiment = 'positive') AS positive_count,
       count_if(eff_sentiment = 'neutral') AS neutral_count,
       count_if(eff_sentiment = 'negative') AS negative_count
FROM eff GROUP BY date, entity_type, entity_id, entity_name, feature_type""",

    "serp_feature_control_daily": """
SELECT date, entity_type, entity_id, entity_name, feature_type,
       count_if(eff_control IS NOT NULL) AS total_count,
       count_if(eff_control = 'controlled') AS controlled_count
FROM eff GROUP BY date, entity_type, entity_id, entity_name, feature_type""",

    "serp_feature_daily_index": """
SELECT date, entity_type, feature_type, count(*) AS total_count,
       count_if(eff_sentiment = 'positive') AS positive_count,
       count_if(eff_sentiment = 'neutral') AS neutral_count,
       count_if(eff_sentiment = 'negative') AS negative_count
FROM eff GROUP BY date, entity_type, feature_type""",

    "serp_feature_control_daily_index": """
SELECT date, entity_type, feature_type,
       count_if(eff_control IS NOT NULL) AS total_count,
       count_if(eff_control = 'controlled') AS controlled_count
FROM eff GROUP BY date, entity_type, feature_type""",

    "negative_summary": """
WITH u AS (
  SELECT m.date, c.id AS company_id, c.name AS company, '' AS ceo,
         coalesce(o.override_sentiment_label, m.sentiment_label) AS sentiment, a.title,
         cm.llm_risk_label, 'brand' AS article_type
  FROM company_article_mentions_daily m
  JOIN company_article_mentions cm
    ON m.company_id = cm.company_id AND m.article_id = cm.article_id
  JOIN companies c ON m.company_id = c.id
  JOIN articles a ON m.article_id = a.id
  LEFT JOIN ns_company_article_overrides o
    ON m.company_id = o.company_id AND m.article_id = o.article_id
  UNION ALL
  SELECT m.date, co.id, co.name, coalesce(e.name, ''),
         coalesce(o.override_sentiment_label, m.sentiment_label), a.title,
         em.llm_risk_label, 'ceo'
  FROM ceo_article_mentions_daily m
  JOIN ceo_article_mentions em ON m.ceo_id = em.ceo_id AND m.article_id = em.article_id
  JOIN ceos e ON m.ceo_id = e.id
  JOIN companies co ON e.company_id = co.id
  JOIN articles a ON m.article_id = a.id
  LEFT JOIN ns_ceo_article_overrides o ON m.ceo_id = o.ceo_id AND m.article_id = o.article_id)
SELECT date, company_id, company, ceo, article_type,
       count_if(sentiment = 'negative') AS negative_count,
       count_if(llm_risk_label = 'crisis_risk') AS crisis_risk_count,
       CASE WHEN count_if(sentiment = 'negative') > 0 THEN array_to_string(list_slice(
         list_sort(list(title) FILTER (WHERE sentiment = 'negative' AND title IS NOT NULL)),
         1, 3), ' | ') END AS top_headlines
FROM u GROUP BY date, company_id, company, ceo, article_type""",
}

EFFECTIVE_ITEMS = """
CREATE OR REPLACE TEMP VIEW eff AS
SELECT i.*,
       coalesce(io.override_sentiment_label, uo.override_sentiment_label,
                i.llm_sentiment_label, i.sentiment_label) AS eff_sentiment,
       coalesce(io.override_control_class, uo.override_control_class,
                i.llm_control_class, i.control_class) AS eff_control
FROM serp_feature_items i
LEFT JOIN serp_feature_item_overrides io ON i.id = io.serp_feature_item_id
LEFT JOIN serp_feature_url_overrides uo
  ON i.entity_type = uo.entity_type AND i.entity_id = uo.entity_id
 AND i.feature_type = uo.feature_type AND i.url_hash = uo.url_hash"""


POINT = {"dailyCounts": "article_daily_counts", "serpFeatureSeries": "serp_feature_daily",
         "negativeSummary": "negative_summary"}
SERIES_MAX_DAYS = 365  # graft.api.ApiLimits.SeriesMaxDays


def probe_sql(p):
    """A point-read probe as a filter over the recomputed gold table, as
    `graft.api.Api` states it; None for the insight endpoints."""
    if p["ep"] not in POINT:
        return None
    where = []
    if p["ep"] != "negativeSummary":
        kind = p["kind"]
        where.append("entity_type IN ('brand', 'company')" if kind in ("brand", "company")
                     else f"entity_type = '{kind}'")
        days = min(max(int(p["days"]), 1), SERIES_MAX_DAYS)
        where.append(f"date >= DATE '{p['as_of']}' - INTERVAL {days} DAY")
    if p.get("cid"):
        where.append(f"company_id = '{p['cid']}'")
    if p["ep"] == "serpFeatureSeries":
        where.append(f"lower(entity_name) = lower('{p['name']}')")
        if p.get("features"):
            where.append("feature_type IN (" +
                         ", ".join(f"'{f}'" for f in p["features"]) + ")")
    if p["ep"] == "negativeSummary":
        where.append(f"date = DATE '{p['date']}'")
        where.append("(negative_count > 0 OR crisis_risk_count > 0)")
    return f"SELECT * FROM want_{POINT[p['ep']]} WHERE " + " AND ".join(where)


def digest(con, relation):
    """(rows, sum, sum) over 32-bit slices of each row's md5, columns sorted
    by name and rendered as text: independent of row order."""
    cols = sorted(c[0] for c in con.execute(f"DESCRIBE {relation}").fetchall())
    text = ", ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '\\N')" for c in cols)
    row = con.execute(f"""
        SELECT count(*),
               coalesce(sum(('0x' || substr(h, 1, 8))::BIGINT), 0),
               coalesce(sum(('0x' || substr(h, 9, 8))::BIGINT), 0)
        FROM (SELECT md5(concat_ws(chr(31), {text})) AS h FROM {relation})""").fetchone()
    return f"{row[0]}:{row[1]}:{row[2]}"


def expected(data, ingested_days=(), edits=(), probes=()):
    """Digests of the 7 gold tables recomputed from bronze, after ingesting
    `ingested_days` (from the generator's truth rows) and applying `edits`
    (the editor plan's entries), and of each probe's answer over them (None
    for an insight probe). Article edits leave negative_summary stale, as
    `OverrideRefresh.Dependencies` does."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in BRONZE:
        con.execute(f"CREATE TEMP VIEW base_{t} AS SELECT * FROM read_parquet('{data}/bronze/{t}.parquet')")
    days = ", ".join(f"DATE '2025-01-01' + INTERVAL {int(d)} DAY" for d in ingested_days)
    extra = {t: "" for t in BRONZE}
    if days:
        con.execute(f"CREATE TEMP VIEW ta AS SELECT * FROM read_parquet('{data}/truth/articles.parquet') WHERE date IN ({days})")
        con.execute(f"CREATE TEMP VIEW ts AS SELECT * FROM read_parquet('{data}/truth/serps.parquet') WHERE date IN ({days})")
        for kind, prefix, key in (("brand", "company", "company_id"), ("ceo", "ceo", "ceo_id")):
            extra[f"{prefix}_article_mentions_daily"] = f"""UNION ALL BY NAME
              SELECT date, entity_id AS {key}, article_key AS article_id, sentiment_label,
                     control_class, false AS finance_routine, false AS uncertain
              FROM ta WHERE entity_type = '{kind}'"""
            extra[f"{prefix}_article_mentions"] = f"""UNION ALL BY NAME
              SELECT entity_id AS {key}, article_key AS article_id, sentiment_label,
                     control_class, llm_risk_label
              FROM ta WHERE entity_type = '{kind}'"""
        extra["articles"] = "UNION ALL BY NAME SELECT article_key AS id, title FROM ta"
        extra["serp_runs"] = """UNION ALL BY NAME
          SELECT DISTINCT run_key AS id, entity_type, company_id,
                 CASE WHEN entity_type = 'ceo' THEN entity_id END AS ceo_id,
                 CAST(date AS TIMESTAMP) + INTERVAL 12 HOUR AS run_at
          FROM ts"""
        extra["serp_results"] = """UNION ALL BY NAME
          SELECT run_key || '|' || rank AS id, run_key AS serp_run_id, rank, sentiment_label,
                 control_class, llm_sentiment_label
          FROM ts"""
    rows = {t: [] for t in BRONZE}
    for e in edits:
        label = e["label"]
        if e["mention_type"] == "company_article":
            rows["company_article_overrides"].append(
                f"SELECT '{e['entity_id']}' AS company_id, '{e['article_id']}' AS article_id, '{label}' AS override_sentiment_label")
        elif e["mention_type"] == "ceo_article":
            rows["ceo_article_overrides"].append(
                f"SELECT '{e['entity_id']}' AS ceo_id, '{e['article_id']}' AS article_id, '{label}' AS override_sentiment_label")
        elif e["mention_type"] == "serp_feature_item":
            rows["serp_feature_item_overrides"].append(
                f"SELECT '{e['item_id']}' AS serp_feature_item_id, '{label}' AS override_sentiment_label")
        else:
            rows["serp_result_overrides"].append(
                f"SELECT '{e['result_id']}' AS serp_result_id, '{label}' AS override_sentiment_label")
    for t in BRONZE:
        edited = "".join(f" UNION ALL BY NAME {r}" for r in rows[t])
        con.execute(f"CREATE TEMP VIEW {t} AS SELECT * FROM base_{t} {extra[t]}{edited}")
    for t in ("company_article_overrides", "ceo_article_overrides"):
        con.execute(f"CREATE TEMP VIEW ns_{t} AS SELECT * FROM base_{t}")
    con.execute(EFFECTIVE_ITEMS)
    out = {}
    for t in GOLD:
        con.execute(f"CREATE TEMP VIEW want_{t} AS {SQL[t]}")
        out[t] = digest(con, f"want_{t}")
    answers = []
    for i, p in enumerate(probes):
        sql = probe_sql(p)
        if sql is not None:
            con.execute(f"CREATE TEMP VIEW want_probe{i} AS {sql}")
        answers.append(None if sql is None else digest(con, f"want_probe{i}"))
    con.close()
    return out, answers


def actual(gold, answers, n_probes):
    """Digests of the gold parquet a run wrote and of its `n_probes` probe
    answers (one parquet directory each under `answers`)."""
    con = duckdb.connect()
    out = {}
    for t in GOLD:
        con.execute(f"CREATE TEMP VIEW got_{t} AS SELECT * FROM read_parquet("
                    f"'{gold}/{t}/*/*.parquet', hive_partitioning = true)")
        out[t] = digest(con, f"got_{t}")
    got = []
    for i in range(n_probes):
        if not os.path.exists(f"{answers}/{i}/_SUCCESS"):
            got.append("no answer")
        elif not glob.glob(f"{answers}/{i}/*.parquet"):
            got.append("0:0:0")
        else:
            con.execute(f"CREATE TEMP VIEW got_probe{i} AS SELECT * FROM read_parquet("
                        f"'{answers}/{i}/*.parquet')")
            got.append(digest(con, f"got_probe{i}"))
    con.close()
    return out, got
