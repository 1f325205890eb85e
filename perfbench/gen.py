"""Seeded generator for the reference schema (`graft.gold.Schemas`).

Writes, under one directory per (size, seed):

  bronze/<table>.parquet   the history the gold layer is built from
  modal/day_NNN/*.csv      one day's modal CSVs per new day (brand/ceo
                           articles, brand/ceo SERPs), for the ingest path
  truth/<table>.parquet    what ingesting those CSVs must add to bronze
                           (used only by the oracle)
  serving.json             the override editor's plan, with the value
                           each edit must make visible, and the reader's
                           request sequence (Zipf entity skew)
  probes.json              the fixed probe set the correctness gate digests
  MANIFEST.json            sha256 of every file above

Per entity-day rates: 6 brand articles, 2 CEO articles, one SERP run of
10 results, 12 SERP feature items over 4 feature types. About 1.5% of
mentions, results and feature items carry an override row.
"""
import csv
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # companies (and as many CEOs), history days, modal days
    "nightly": (40, 14, 1),
    "serving": (30, 7, 0),
}
START = dt.date(2025, 1, 1)
SENTS = np.array(["positive", "neutral", "negative"])
CTLS = np.array(["controlled", "uncontrolled"])
FEATURES = np.array(["top_stories_items", "people_also_ask", "videos", "perspectives"])
RISKS = np.array(["crisis_risk", "routine_financial", "reputational", "none"])
SECTORS = np.array(["Industrials", "Tech", "Retail", "Energy", "Health", "Finance"])
ARTICLES_PER_BRAND, ARTICLES_PER_CEO, RESULTS_PER_RUN, ITEMS_PER_FEATURE = 6, 2, 10, 3
OVERRIDE_RATE = 0.015
GEN_VERSION = "6"


def sha(s):
    return hashlib.sha256(s.encode()).hexdigest()


def day(i):
    return START + dt.timedelta(days=int(i))


def pick(rng, arr, n, p=None, null_rate=0.0):
    out = arr[rng.choice(len(arr), size=n, p=p)].astype(object)
    if null_rate:
        out[rng.random(n) < null_rate] = None
    return out


def write(path, cols):
    """One parquet file; all-null columns are typed as strings and the
    rank/position columns as int32, as `graft.gold.Schemas` declares."""
    arrays = {}
    for k, v in cols.items():
        a = pa.array(v)
        if pa.types.is_null(a.type):
            a = a.cast(pa.string())
        if k in ("rank", "position"):
            a = a.cast(pa.int32())
        arrays[k] = a
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(arrays), path)


def ts(d, hour):
    return dt.datetime(d.year, d.month, d.day, hour, tzinfo=dt.timezone.utc)


class World:
    """Entities plus the seeded per-row label draws."""

    def __init__(self, n, seed):
        self.rng = np.random.default_rng(seed)
        self.n = n
        self.cid = [f"co-{i:05d}" for i in range(n)]
        self.cname = [f"Company {i:05d} Holdings" for i in range(n)]
        self.eid = [f"ceo-{i:05d}" for i in range(n)]
        self.ename = [f"Chief Person{i:05d}" for i in range(n)]
        self.sector = pick(self.rng, SECTORS, n)

    def labels(self, n, sent_null=0.05):
        r = self.rng
        return dict(
            sent=pick(r, SENTS, n, p=[0.3, 0.45, 0.25], null_rate=sent_null),
            ctl=pick(r, CTLS, n, p=[0.4, 0.6]),
            llm_sent=pick(r, SENTS, n, p=[0.3, 0.4, 0.3], null_rate=0.5),
            llm_ctl=pick(r, CTLS, n, null_rate=0.7),
            risk=pick(r, RISKS, n, p=[0.1, 0.2, 0.2, 0.5]),
        )


def articles_block(w, days, salt):
    """Mention rows for `days` (brand then ceo), one article per mention."""
    rows = []
    for kind, per, ids in (("brand", ARTICLES_PER_BRAND, w.cid),
                           ("ceo", ARTICLES_PER_CEO, w.eid)):
        d, e, j = np.meshgrid(days, np.arange(w.n), np.arange(per), indexing="ij")
        d, e, j = d.ravel(), e.ravel(), j.ravel()
        lab = w.labels(len(d))
        url = [f"https://news{(x * 7 + k) % 13}.example.com/{kind}/{ids[x]}/{dd}/{k}-{salt}"
               for dd, x, k in zip(d, e, j)]
        title = [f"{kind} story {dd}-{k} on {ids[x]} #{w.rng.integers(1000)}"
                 for dd, x, k in zip(d, e, j)]
        rows.append(dict(kind=kind, day=d, ent=e, url=url, title=title, **lab))
    return rows


def history(w, n_days, out):
    days = np.arange(n_days)
    r = w.rng
    write(f"{out}/bronze/companies.parquet", {
        "id": w.cid, "name": w.cname, "ticker": [f"T{i:04d}" for i in range(w.n)],
        "sector": list(w.sector), "websites": [f"company{i:05d}.com" for i in range(w.n)],
        "favorite": list(r.random(w.n) < 0.1)})
    write(f"{out}/bronze/ceos.parquet", {
        "id": w.eid, "name": w.ename, "company_id": w.cid,
        "alias": [None if i % 3 else f"P{i}" for i in range(w.n)],
        "favorite": list(r.random(w.n) < 0.1)})

    blocks = articles_block(w, days, "h")
    art = {"id": [], "canonical_url": [], "title": [], "publisher": [], "snippet": [],
           "published_at": [], "first_seen_at": [], "last_seen_at": [], "source": []}
    for b in blocks:
        ids = w.cid if b["kind"] == "brand" else w.eid
        aid = [sha(u) for u in b["url"]]
        dates = [day(x) for x in b["day"]]
        key = "company_id" if b["kind"] == "brand" else "ceo_id"
        prefix = "company" if b["kind"] == "brand" else "ceo"
        ent = [ids[x] for x in b["ent"]]
        n = len(aid)
        art["id"] += aid
        art["canonical_url"] += b["url"]
        art["title"] += b["title"]
        art["publisher"] += ["Example News"] * n
        art["snippet"] += [None] * n
        art["published_at"] += [ts(x, 6) for x in dates]
        art["first_seen_at"] += [ts(x, 7) for x in dates]
        art["last_seen_at"] += [ts(x, 7) for x in dates]
        art["source"] += ["google_rss"] * n
        fin = list(r.random(n) < 0.05)
        unc = list(r.random(n) < 0.1)
        write(f"{out}/bronze/{prefix}_article_mentions_daily.parquet", {
            "date": dates, key: ent, "article_id": aid, "sentiment_label": list(b["sent"]),
            "control_class": list(b["ctl"]), "finance_routine": fin, "uncertain": unc})
        write(f"{out}/bronze/{prefix}_article_mentions.parquet", {
            key: ent, "article_id": aid, "sentiment_label": list(b["sent"]),
            "control_class": list(b["ctl"]), "finance_routine": fin, "uncertain": unc,
            "llm_sentiment_label": list(b["llm_sent"]), "llm_risk_label": list(b["risk"]),
            "llm_control_class": list(b["llm_ctl"]),
            "llm_severity": [None] * n})
        sel = np.flatnonzero(r.random(n) < OVERRIDE_RATE)
        ov = list(pick(r, SENTS, len(sel), null_rate=0.1))
        write(f"{out}/bronze/{prefix}_article_overrides.parquet", {
            key: [ent[i] for i in sel], "article_id": [aid[i] for i in sel],
            "override_sentiment_label": ov,
            "override_relevant": [True] * len(sel),
            "override_control_class": list(pick(r, CTLS, len(sel), null_rate=0.5)),
            "note": ["seeded"] * len(sel), "edited_by": ["analyst"] * len(sel),
            "edited_at": [ts(START, 1)] * len(sel)})
        b["aid"], b["ent_id"], b["ov"] = aid, ent, dict(zip(sel.tolist(), ov))
    write(f"{out}/bronze/articles.parquet", art)

    # serp runs: one per entity-day; results RESULTS_PER_RUN per run
    runs = {"id": [], "entity_type": [], "company_id": [], "ceo_id": [],
            "query_text": [], "provider": [], "run_at": []}
    for kind in ("company", "ceo"):
        for d in days:
            for e in range(w.n):
                ent = w.cid[e] if kind == "company" else w.eid[e]
                runs["id"].append(sha(f"run|{kind}|{ent}|{d}"))
                runs["entity_type"].append(kind)
                runs["company_id"].append(w.cid[e])
                runs["ceo_id"].append(None if kind == "company" else w.eid[e])
                runs["query_text"].append(w.cname[e] if kind == "company" else w.ename[e])
                runs["provider"].append("serpapi")
                runs["run_at"].append(ts(day(d), 12))
    write(f"{out}/bronze/serp_runs.parquet", runs)
    nr = len(runs["id"])
    run_idx = np.repeat(np.arange(nr), RESULTS_PER_RUN)
    rank = np.tile(np.arange(1, RESULTS_PER_RUN + 1), nr)
    n = len(run_idx)
    lab = w.labels(n)
    url = [f"https://site{(i * 31) % 97}.example.org/r/{i}" for i in range(n)]
    rid = [sha(f"res|{runs['id'][ri]}|{k}") for ri, k in zip(run_idx, rank)]
    results = {
        "id": rid, "serp_run_id": [runs["id"][i] for i in run_idx], "rank": list(rank.astype(np.int32)),
        "url": url, "url_hash": [sha(u) for u in url], "title": [f"result {i}" for i in range(n)],
        "snippet": [None] * n, "domain": [f"site{(i * 31) % 97}.example.org" for i in range(n)],
        "published_date": [runs["run_at"][i].date() for i in run_idx],
        "sentiment_label": list(lab["sent"]), "control_class": list(lab["ctl"]),
        "finance_routine": [False] * n, "llm_sentiment_label": list(lab["llm_sent"]),
        "llm_risk_label": [None] * n, "llm_control_class": list(lab["llm_ctl"])}
    write(f"{out}/bronze/serp_results.parquet", results)
    sel = np.flatnonzero(r.random(n) < OVERRIDE_RATE)
    ov = list(pick(r, SENTS, len(sel), null_rate=0.1))
    write(f"{out}/bronze/serp_result_overrides.parquet", {
        "serp_result_id": [rid[i] for i in sel],
        "override_sentiment_label": ov,
        "override_control_class": list(pick(r, CTLS, len(sel), null_rate=0.5)),
        "note": ["seeded"] * len(sel), "edited_by": ["analyst"] * len(sel),
        "edited_at": [ts(START, 1)] * len(sel)})
    serp = dict(run_idx=run_idx, runs=runs, rid=rid, lab=lab, ov=dict(zip(sel.tolist(), ov)))

    # serp feature items: ITEMS_PER_FEATURE per feature type per entity-day;
    # urls come from a small per-(entity, feature) pool so url overrides
    # apply across days
    items = {k: [] for k in ["id", "date", "entity_type", "entity_id", "entity_name",
                             "feature_type", "item_type", "title", "snippet", "url",
                             "domain", "published_date", "position", "url_hash",
                             "sentiment_label", "llm_sentiment_label", "llm_control_class",
                             "control_class", "finance_routine", "source"]}
    for kind in ("brand", "ceo"):
        for d in days:
            for e in range(w.n):
                ent = w.cid[e] if kind == "brand" else w.eid[e]
                name = w.cname[e] if kind == "brand" else w.ename[e]
                for f in FEATURES:
                    for p in range(ITEMS_PER_FEATURE):
                        u = f"https://feed{e % 17}.example.net/{ent}/{f}/{r.integers(8)}"
                        items["id"].append(f"it-{kind}-{e}-{d}-{f}-{p}")
                        items["date"].append(day(d))
                        items["entity_type"].append(kind)
                        items["entity_id"].append(ent)
                        items["entity_name"].append(name)
                        items["feature_type"].append(str(f))
                        items["item_type"].append("item")
                        items["title"].append(f"{f} {p} for {name} on {d}")
                        items["snippet"].append(None)
                        items["url"].append(u)
                        items["domain"].append(f"feed{e % 17}.example.net")
                        items["published_date"].append(day(d))
                        items["position"].append(p + 1)
                        items["url_hash"].append(sha(u))
                        items["finance_routine"].append(False)
                        items["source"].append("serpapi")
    n = len(items["id"])
    lab = w.labels(n, sent_null=0.1)
    items["sentiment_label"] = list(lab["sent"])
    items["llm_sentiment_label"] = list(lab["llm_sent"])
    items["llm_control_class"] = list(lab["llm_ctl"])
    items["control_class"] = list(lab["ctl"])
    items["position"] = list(np.array(items["position"], dtype=np.int32))
    write(f"{out}/bronze/serp_feature_items.parquet", items)
    sel = np.flatnonzero(r.random(n) < OVERRIDE_RATE)
    ov = list(pick(r, SENTS, len(sel), null_rate=0.1))
    write(f"{out}/bronze/serp_feature_item_overrides.parquet", {
        "serp_feature_item_id": [items["id"][i] for i in sel],
        "override_sentiment_label": ov,
        "override_control_class": list(pick(r, CTLS, len(sel), null_rate=0.5)),
        "note": ["seeded"] * len(sel), "edited_by": ["analyst"] * len(sel),
        "edited_at": [ts(START, 1)] * len(sel)})
    keys = sorted({(items["entity_type"][i], items["entity_id"][i], items["feature_type"][i],
                    items["url_hash"][i]) for i in range(n)})
    usel = [keys[i] for i in np.flatnonzero(r.random(len(keys)) < 0.01)]
    uov_sent = list(pick(r, SENTS, len(usel), null_rate=0.2))
    write(f"{out}/bronze/serp_feature_url_overrides.parquet", {
        "entity_type": [k[0] for k in usel], "entity_id": [k[1] for k in usel],
        "feature_type": [k[2] for k in usel], "url_hash": [k[3] for k in usel],
        "override_sentiment_label": uov_sent,
        "override_control_class": list(pick(r, CTLS, len(usel), null_rate=0.5)),
        "edited_at": [ts(START, 1)] * len(usel)})
    uov = {k: s for k, s in zip(usel, uov_sent)}
    feat = dict(items=items, ov=dict(zip(sel.tolist(), ov)), uov=uov)
    return blocks, serp, feat


def modal_days(w, first, count, out):
    """Modal CSVs for days first..first+count-1 plus the rows their ingest
    must add to bronze. About 1% of rows are invalid (blank title, blank
    url or unknown entity) and must be dropped by the ingest."""
    r = w.rng
    truth = {k: [] for k in ["date", "entity_type", "entity_id", "company_id",
                             "article_key", "sentiment_label", "control_class",
                             "llm_risk_label", "title"]}
    serp_truth = {k: [] for k in ["date", "entity_type", "entity_id", "company_id",
                                  "run_key", "rank", "sentiment_label", "control_class",
                                  "llm_sentiment_label"]}
    for t in range(first, first + count):
        d = day(t)
        ddir = f"{out}/modal/day_{t:03d}"
        os.makedirs(ddir, exist_ok=True)
        for b in articles_block(w, np.array([t]), f"m{t}"):
            kind = b["kind"]
            n = len(b["url"])
            bad = r.random(n)
            lines = []
            for i in range(n):
                e = b["ent"][i]
                company = "Unknown Co" if 0.005 <= bad[i] < 0.01 else w.cname[e]
                title = b["title"][i] if bad[i] >= 0.005 else ""
                sent = b["sent"][i] or ""
                ctl = "true" if b["ctl"][i] == "controlled" else "false"
                risk = b["risk"][i]
                row = [company, title, b["url"][i], "Example News", "", sent, ctl, "false",
                       "false", risk, "", f"{d}T06:00:00Z"]
                if kind == "ceo":
                    row.insert(1, w.ename[e])
                lines.append(row)
                if bad[i] >= 0.01:
                    truth["date"].append(d)
                    truth["entity_type"].append(kind)
                    truth["entity_id"].append(w.cid[e] if kind == "brand" else w.eid[e])
                    truth["company_id"].append(w.cid[e])
                    truth["article_key"].append(b["url"][i])
                    truth["sentiment_label"].append(b["sent"][i])
                    truth["control_class"].append(b["ctl"][i])
                    truth["llm_risk_label"].append(risk)
                    truth["title"].append(b["title"][i])
            header = ["company", "title", "url", "source", "snippet", "sentiment",
                      "controlled", "finance_routine", "uncertain", "llm_label",
                      "llm_severity", "published_at"]
            if kind == "ceo":
                header.insert(1, "ceo")
            write_csv(f"{ddir}/{kind}_articles.csv", header, lines)
        for kind in ("brand", "ceo"):
            n = w.n * RESULTS_PER_RUN
            lab = w.labels(n)
            bad = r.random(n)
            lines = []
            for i in range(n):
                e, k = divmod(i, RESULTS_PER_RUN)
                url = f"https://site{(e * 7 + k) % 97}.example.org/m/{t}/{kind}/{e}/{k}"
                if bad[i] < 0.01:
                    url = ""
                sent = lab["sent"][i] or ""
                ctl = "true" if lab["ctl"][i] == "controlled" else "false"
                llm = lab["llm_sent"][i] or ""
                row = [w.cname[e], f"serp {t} {kind} {e} {k}", url, "", "serpapi", str(k + 1),
                       sent, ctl, "false", llm, str(d)]
                if kind == "ceo":
                    row.insert(1, w.ename[e])
                lines.append(row)
                if bad[i] >= 0.01:
                    serp_truth["date"].append(d)
                    serp_truth["entity_type"].append("company" if kind == "brand" else "ceo")
                    serp_truth["entity_id"].append(w.cid[e] if kind == "brand" else w.eid[e])
                    serp_truth["company_id"].append(w.cid[e])
                    serp_truth["run_key"].append(f"{kind}|{e}|{t}")
                    serp_truth["rank"].append(k + 1)
                    serp_truth["sentiment_label"].append(lab["sent"][i])
                    serp_truth["control_class"].append(lab["ctl"][i])
                    serp_truth["llm_sentiment_label"].append(lab["llm_sent"][i])
            header = ["company", "title", "url", "snippet", "source", "position",
                      "sentiment", "controlled", "finance_routine", "llm_label",
                      "published_date"]
            if kind == "ceo":
                header.insert(1, "ceo")
            write_csv(f"{ddir}/{kind}_serps.csv", header, lines)
    write(f"{out}/truth/articles.parquet", truth)
    write(f"{out}/truth/serps.parquet", serp_truth)


def write_csv(path, header, rows):
    with open(path, "w", newline="") as fh:
        wr = csv.writer(fh)
        wr.writerow(header)
        wr.writerows(rows)


def zipf_cdf(n, s=1.1):
    p = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(p / p.sum())


def request_plan(w, n_days, seed, count, eps):
    """A seeded request sequence cycling through `eps`; entities are
    Zipf(1.1)-skewed and windows stay within the reference's lookback caps
    (365 d series, 180 d trend/anomalies, 90 d screen)."""
    r = np.random.default_rng(seed + 7919 * len(eps))
    cdf = zipf_cdf(2 * w.n)
    perm = r.permutation(2 * w.n)
    last = day(n_days - 1)
    seq = []
    for i in range(count):
        e = int(perm[np.searchsorted(cdf, r.random())])
        kind, x = ("brand", e) if e < w.n else ("ceo", e - w.n)
        ent = w.cid[x] if kind == "brand" else w.eid[x]
        name = w.cname[x] if kind == "brand" else w.ename[x]
        ep = eps[i % len(eps)]
        req = {"ep": ep, "kind": kind, "id": ent, "cid": w.cid[x], "name": name}
        if ep == "dailyCounts":
            req["days"] = int(r.choice([30, 90, 365]))
        elif ep == "serpFeatureSeries":
            req["days"] = int(r.choice([30, 90]))
            req["features"] = [] if r.random() < 0.5 else [str(r.choice(FEATURES))]
        elif ep == "negativeSummary":
            req["date"] = str(last - dt.timedelta(days=int(r.integers(min(30, n_days)))))
        elif ep == "anomalies":
            req["days"] = int(r.choice([30, 90, 180]))
        elif ep == "screen":
            req["days"] = int(r.choice([7, 30, 90]))
            req["metric"] = str(r.choice(["article_negative_count",
                                          "serp_uncontrolled_count",
                                          "top_stories_negative_count"]))
        seq.append(req)
    return seq


def probe_plan(w, last):
    """The fixed probe set whose answers the correctness gate digests: every
    endpoint, entities and windows fixed, answered as of `last`."""
    d, prev = str(last), str(last - dt.timedelta(days=1))
    probes = [
        {"ep": "dailyCounts", "kind": "brand", "cid": w.cid[0], "days": 30},
        {"ep": "dailyCounts", "kind": "ceo", "cid": w.cid[1], "days": 7},
        {"ep": "dailyCounts", "kind": "brand", "days": 3},
        {"ep": "serpFeatureSeries", "kind": "brand", "name": w.cname[2], "days": 30},
        {"ep": "serpFeatureSeries", "kind": "ceo", "name": w.ename[3], "days": 30,
         "features": ["top_stories_items"]},
        {"ep": "negativeSummary", "date": d},
        {"ep": "negativeSummary", "cid": w.cid[4], "date": prev},
        {"ep": "trendSummary", "kind": "brand", "id": w.cid[0], "cid": w.cid[0]},
        {"ep": "trendSummary", "kind": "ceo", "id": w.eid[1], "cid": w.cid[1]},
        # an entity the default seed flags on the day before the last
        {"ep": "anomalies", "kind": "brand", "id": w.cid[14], "cid": w.cid[14], "days": 90},
        {"ep": "screen", "kind": "brand", "metric": "article_negative_count", "days": 7},
        {"ep": "screen", "kind": "ceo", "metric": "serp_uncontrolled_count", "days": 30},
    ]
    for p in probes:
        p["as_of"] = d
    return probes


def edit_plan(w, n_days, blocks, serp, feat, seed, count=400):
    """The editor's plan: 40% article, 40% serp-feature-item and 20%
    serp-result edits. Each edit targets a row without an override, gives
    it a sentiment other than its effective one, and states the value the
    endpoint serving that table must show afterwards."""
    r = np.random.default_rng(seed + 104729)
    last = n_days - 1

    # article_daily_counts cells: (kind, entity, day) -> label counts
    art = {}
    art_rows = []
    for b in blocks:
        for i, raw in enumerate(b["sent"]):
            key = (b["kind"], b["ent_id"][i], int(b["day"][i]))
            eff = b["ov"].get(i) or raw if i in b["ov"] else raw
            c = art.setdefault(key, {"positive": 0, "neutral": 0, "negative": 0})
            if eff is not None:
                c[eff] += 1
            if i not in b["ov"] and b["day"][i] > last - 28:
                art_rows.append((b, i, eff))

    # serp_feature_daily cells: (kind, entity, feature, day) -> label counts
    items = feat["items"]
    fcells, item_rows = {}, []
    for i in range(len(items["id"])):
        k = (items["entity_type"][i], items["entity_id"][i], items["feature_type"][i],
             items["url_hash"][i])
        base = feat["uov"].get(k) or items["llm_sentiment_label"][i] or items["sentiment_label"][i]
        eff = (feat["ov"].get(i) or base) if i in feat["ov"] else base
        d = (items["date"][i] - START).days
        key = (items["entity_type"][i], items["entity_id"][i], items["feature_type"][i], d)
        c = fcells.setdefault(key, {"positive": 0, "neutral": 0, "negative": 0})
        if eff is not None:
            c[eff] += 1
        if i not in feat["ov"] and d > last - 28:
            item_rows.append((i, eff, key))

    # serp negatives over each entity's last 7 observation days
    runs, lab = serp["runs"], serp["lab"]
    neg7, res_rows = {}, []
    for i, ri in enumerate(serp["run_idx"]):
        d = (runs["run_at"][ri].date() - START).days
        if d <= last - 7:
            continue
        base = lab["llm_sent"][i] or lab["sent"][i]
        eff = (serp["ov"].get(i) or base) if i in serp["ov"] else base
        kind = "brand" if runs["entity_type"][ri] == "company" else "ceo"
        ent = runs["company_id"][ri] if kind == "brand" else runs["ceo_id"][ri]
        neg7[(kind, ent)] = neg7.get((kind, ent), 0) + (eff == "negative")
        if i not in serp["ov"]:
            res_rows.append((i, eff, kind, ent, runs["company_id"][ri], d))

    def other(eff):
        return str(r.choice([s for s in SENTS if s != eff]))

    used = set()
    edits = []
    # article, item, article, item, result: the slow serp-result confirm
    # comes last in each cycle of five, so it never delays the next edit
    pattern = ["article", "serp_feature_item", "article", "serp_feature_item", "serp_result"]
    while len(edits) < count:
        kind_of_edit = pattern[len(edits) % len(pattern)]
        if kind_of_edit == "article":
            b, i, eff = art_rows[int(r.integers(len(art_rows)))]
            if ("a", b["kind"], i) in used:
                continue
            used.add(("a", b["kind"], i))
            new = other(eff)
            key = (b["kind"], b["ent_id"][i], int(b["day"][i]))
            c = art[key]
            if eff is not None:
                c[eff] -= 1
            c[new] += 1
            ent = b["ent_id"][i]
            cid = ent if b["kind"] == "brand" else w.cid[w.eid.index(ent)]
            edits.append({
                "type": "article",
                "mention_type": "company_article" if b["kind"] == "brand" else "ceo_article",
                "kind": b["kind"], "entity_id": ent, "cid": cid,
                "article_id": b["aid"][i], "date": str(day(key[2])), "label": new,
                "expect": dict(c)})
        elif kind_of_edit == "serp_feature_item":
            i, eff, key = item_rows[int(r.integers(len(item_rows)))]
            if ("f", i) in used:
                continue
            used.add(("f", i))
            new = other(eff)
            c = fcells[key]
            if eff is not None:
                c[eff] -= 1
            c[new] += 1
            edits.append({
                "type": "serp_feature_item", "mention_type": "serp_feature_item",
                "kind": key[0], "entity_id": key[1], "name": items["entity_name"][i],
                "feature": key[2], "item_id": items["id"][i], "date": str(day(key[3])),
                "label": new, "expect": dict(c)})
        else:
            i, eff, kind, ent, cid, d = res_rows[int(r.integers(len(res_rows)))]
            if ("r", i) in used:
                continue
            used.add(("r", i))
            new = "negative" if eff != "negative" else str(r.choice(["positive", "neutral"]))
            neg7[(kind, ent)] += (new == "negative") - (eff == "negative")
            edits.append({
                "type": "serp_result", "mention_type": "serp_result",
                "kind": kind, "entity_id": ent, "cid": cid, "result_id": serp["rid"][i],
                "date": str(day(d)), "label": new,
                "expect": {"serp_negative_count_7d": neg7[(kind, ent)]}})
    return {"as_of": str(day(last)), "edits": edits}


def generate(size, seed, out):
    n, n_days, n_modal = SIZES[size]
    w = World(n, seed)
    blocks, serp, feat = history(w, n_days, out)
    if n_modal:
        modal_days(w, n_days, n_modal, out)
        last = day(n_days + n_modal - 1)
    else:
        last = day(n_days - 1)
        plan = edit_plan(w, n_days, blocks, serp, feat, seed)
        plan["reader"] = request_plan(
            w, n_days, seed, 2000, ["dailyCounts", "serpFeatureSeries", "negativeSummary"])
        plan["insight"] = request_plan(w, n_days, seed, 9, ["trendSummary", "anomalies", "screen"])
        with open(f"{out}/serving.json", "w") as fh:
            json.dump(plan, fh)
    with open(f"{out}/probes.json", "w") as fh:
        json.dump(probe_plan(w, last), fh)
    manifest = {}
    for root, _, files in os.walk(out):
        for f in sorted(files):
            p = os.path.join(root, f)
            rel = os.path.relpath(p, out)
            if rel != "MANIFEST.json":
                manifest[rel] = file_digest(p)
    meta = {"size": size, "seed": seed, "companies": n, "ceos": n, "days": n_days,
            "modal_days": n_modal, "version": GEN_VERSION, "files": manifest}
    with open(f"{out}/MANIFEST.json", "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    return meta


def file_digest(path):
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def verify(out):
    """True when the cached inputs under `out` match their manifest."""
    try:
        with open(f"{out}/MANIFEST.json") as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None
    if meta.get("version") != GEN_VERSION:
        return None
    for rel, digest in meta["files"].items():
        p = os.path.join(out, rel)
        if not os.path.isfile(p) or file_digest(p) != digest:
            return None
    return meta
