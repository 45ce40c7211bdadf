"""Seeded input generator for the GA pipeline benchmark.

Writes, for one workload, the files the engine reads and a `truth.json` with
the counts the output checks compare against. The same seed always gives
byte-identical files. Nothing here imports the engine: the truth is computed
independently from the generated hits.

    python3 perfbench/gen.py --workload raw_to_enriched --seed 1 --out DIR

Layout under DIR:
  raw/part-NNNNN.json        Firehose records {recordId, data}, data =
                             base64(JSON envelope), body = percent-encoded
                             GA Measurement-Protocol query string
  enriched/year=Y/month=M/day=D/part-NNNNN.json
                             enriched hits (the StreamingIngestJob output
                             shape) in the JSONL layout DailyJob reads
  history.json               30 days of persisted sessions (JSONL of the
                             47-column history schema)
  truth.json                 sizes and expected counts
"""

import argparse
import base64
import csv
import datetime as dt
import ipaddress
import json
import os
import random
import re
from functools import lru_cache
from urllib.parse import quote

# Sizes. A full measurement (4 + 22 runs per workload, two warm passes a
# run) must end within 3420 s on a 4-core box, so these are far below a
# production day; BENCHMARK.md gives the reasoning.
RAW_RECORDS = 20_000
RAW_FILES = 4
DAILY_HITS = 20_000
HISTORY_DAYS = 30
FILES_PER_DAY = 4

JOB_DATE = dt.date(2024, 3, 15)
SESSION_GAP_MS = 30 * 60 * 1000
MALFORMED_SHARE = 0.005
LATE_SHARE = 0.02  # visitors whose session starts before midnight of the day

BOT_RE = re.compile(
    r"(bot|crawler|spider|slurp|archiver|mediapartners|facebookexternalhit)",
    re.IGNORECASE)

# (weight, user agent, enriched device columns). Bots make ~5% of visitors.
USER_AGENTS = [
    (24, "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/122.0.0.0 Safari/537.36",
     ("Chrome", "122.0", "Windows", "10", "desktop", False)),
    (18, "Mozilla/5.0 (iPhone; CPU iPhone OS 17_3 like Mac OS X) AppleWebKit/605.1.15 "
         "(KHTML, like Gecko) Version/17.3 Mobile/15E148 Safari/604.1",
     ("Mobile Safari", "17.3", "iOS", "17.3", "mobile", True)),
    (14, "Mozilla/5.0 (Linux; Android 14; SM-S918B) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/121.0.6167.178 Mobile Safari/537.36",
     ("Chrome Mobile", "121.0", "Android", "14", "mobile", True)),
    (8, "Mozilla/5.0 (X11; Linux x86_64; rv:123.0) Gecko/20100101 Firefox/123.0",
     ("Firefox", "123.0", "Linux", "", "desktop", False)),
    (7, "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 "
        "(KHTML, like Gecko) Version/17.2 Safari/605.1.15",
     ("Safari", "17.2", "Mac OS X", "10.15.7", "desktop", False)),
    (6, "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/122.0.0.0 Safari/537.36 Edg/122.0.2365.66",
     ("Edge", "122.0", "Windows", "10", "desktop", False)),
    (5, "Mozilla/5.0 (Linux; Android 13; SAMSUNG SM-A536B) AppleWebKit/537.36 "
        "(KHTML, like Gecko) SamsungBrowser/23.0 Chrome/115.0.0.0 Mobile Safari/537.36",
     ("Samsung Internet", "23.0", "Android", "13", "mobile", True)),
    (5, "Mozilla/5.0 (iPad; CPU OS 16_6 like Mac OS X) AppleWebKit/605.1.15 "
        "(KHTML, like Gecko) Version/16.6 Mobile/15E148 Safari/604.1",
     ("Mobile Safari", "16.6", "iOS", "16.6", "tablet", False)),
    (4, "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 "
        "(KHTML, like Gecko) Mobile/15E148 [FBAN/FBIOS;FBAV/449.0.0.38.108]",
     ("Facebook", "449.0.0", "iOS", "17.1", "mobile", True)),
    (2, "curl/8.5.0", ("curl", "8.5.0", "Other", "", "desktop", False)),
    (2, "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)", None),
    (1, "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)", None),
    (1, "Mozilla/5.0 (compatible; AhrefsBot/7.0; +http://ahrefs.com/robot/)", None),
    (1, "facebookexternalhit/1.1 (+http://www.facebook.com/externalhit_uatext.php)", None),
]

# (weight, landing-page query, referrer): direct, organic, email, paid,
# referral, social and affiliate arrivals
LANDINGS = [
    (30, "", None),
    (20, "", "https://www.google.com/search?q=running+shoes"),
    (12, "?utm_source=newsletter&utm_medium=email&utm_campaign=spring_sale", None),
    (10, "?gclid=Cj0KCQiA2KitBhCIARIsAPPMEhL", None),
    (10, "", "https://blog.partner-site.com/reviews/2024/best-bags"),
    (8, "?utm_source=facebook&utm_medium=social&utm_campaign=brand", None),
    (5, "", "https://www.bing.com/search?q=leather+bag"),
    (5, "?utm_source=affiliate%20net&utm_medium=cpc&utm_campaign=q1", None),
]

SECTIONS = ["shoes", "bags", "jackets", "accessories", "sale", "new-in"]
PRODUCTS = [("SKU-%04d" % i, "Product %d" % i,
             ["Acme", "Globex", "Initech", "Umbrella"][i % 4],
             SECTIONS[i % len(SECTIONS)], "%d.%02d" % (9 + (i * 7) % 180, (i * 13) % 100))
            for i in range(1, 241)]
EVENTS = [("video", "play", "hero"), ("newsletter", "signup", "footer"),
          ("ui", "click", "size-guide"), ("search", "submit", "header")]


def weighted(rng, table):
    total = sum(t[0] for t in table)
    x = rng.random() * total
    for row in table:
        x -= row[0]
        if x < 0:
            return row
    return table[-1]


def ip_to_int(s):
    return int(ipaddress.IPv4Address(s))


class Geo:
    """The checked-in geo dimension and an exact range lookup."""

    def __init__(self, path):
        with open(path, newline="") as f:
            self.rows = list(csv.DictReader(f))
        self.ranges = [(ip_to_int(r["start_ip"]), ip_to_int(r["end_ip"]), r)
                       for r in self.rows]
        # ranges that contain no other range's addresses, so one lookup hits once
        self.single = [r for r in self.ranges
                       if sum(1 for o in self.ranges
                              if o[0] <= r[1] and r[0] <= o[1]) == 1]

    def lookup(self, anon_ip):
        try:
            n = ip_to_int(anon_ip)
        except ValueError:
            return []
        return [r for (s, e, r) in self.ranges if s <= n <= e]


@lru_cache(maxsize=None)
def pct(s):
    return quote(s, safe="")


def anonymize(ip):
    if ip.find(".") >= 1:
        return ".".join(ip.split(".")[:3]) + ".0"
    if ip.find(":") >= 1:
        return ":".join(ip.split(":")[:3] + ["0000"] * 5)
    return "0.0.0.0"


class Visitor:
    def __init__(self, rng, geo, idx, seed, geo_misses):
        self.cid = "%d.%d" % (rng.randrange(10**8, 10**9), 1700000000 + seed * 100000 + idx)
        self.ua = weighted(rng, USER_AGENTS)
        x = rng.random() if geo_misses else 0.0
        if x < 0.80:
            s, e, _ = rng.choice(geo.single)
            self.ip = str(ipaddress.IPv4Address(rng.randint(s, e)))
        elif x < 0.92:  # IPv4 outside every range: a geo miss
            while True:
                cand = "198.51.%d.%d" % (rng.randrange(256), rng.randrange(1, 255))
                if not geo.lookup(anonymize(cand)):
                    self.ip = cand
                    break
        else:
            self.ip = "2001:db8:%x:%x::%x" % (rng.randrange(65536), rng.randrange(65536),
                                              rng.randrange(1, 65536))
        self.uid = "user-%d" % idx if rng.random() < 0.1 else None
        self.anon_ip = anonymize(self.ip)
        self.geo = geo.lookup(self.anon_ip)
        self.is_bot = BOT_RE.search(self.ua[1]) is not None


def day_start_ms(day):
    return int(dt.datetime(day.year, day.month, day.day,
                           tzinfo=dt.timezone.utc).timestamp() * 1000)


def session_hits(rng, start_ms, purchase, timing_start):
    """One session: a list of (recv_ms, params) with in-session gaps < 30 min."""
    landing = weighted(rng, LANDINGS)
    section = rng.choice(SECTIONS)
    base = "https://shop.example.com"
    hits = []
    t = start_ms

    def page(path, query="", dr=None, title="Shop"):
        p = {"t": "pageview", "dl": base + path + query, "dt": title}
        if dr:
            p["dr"] = dr
        return p

    if timing_start:  # a timing hit opens the session; the pipeline drops it
        hits.append((t, {"t": "timing", "utc": "load", "utv": "dom", "utt": "812"}))
        t += rng.randint(1000, 20000)
    hits.append((t, page("/c/%s" % section, landing[1], landing[2], "Category %s" % section)))
    for _ in range(rng.randint(1, 9)):
        t += rng.randint(5_000, 8 * 60_000)
        x = rng.random()
        if x < 0.70:
            sku = rng.choice(PRODUCTS)
            hits.append((t, page("/p/%s" % sku[0].lower(), title=sku[1])))
        elif x < 0.88:
            ec, ea, el = rng.choice(EVENTS)
            hits.append((t, {"t": "event", "ec": ec, "ea": ea, "el": el, "ev": "1",
                             "dl": base + "/c/" + section}))
        else:
            hits.append((t, {"t": "timing", "utc": "xhr", "utv": "cart", "utt": "95"}))
    if purchase:
        t += rng.randint(5_000, 120_000)
        hits.append((t, page("/checkout/cart", title="Warenkorb & Kasse")))
        items = rng.sample(PRODUCTS, rng.randint(1, 3))
        ti = "T%d-%d" % (t, rng.randrange(10**6))
        rev = sum(float(p[4]) for p in items)
        t += rng.randint(5_000, 60_000)
        ev = {"t": "event", "ec": "ecommerce", "ea": "purchase", "pa": "purchase",
              "ti": ti, "tr": "%.2f" % rev, "tt": "%.2f" % (rev * 0.19), "ts": "4.90",
              "cu": "EUR", "dl": base + "/checkout/done"}
        for i, p in enumerate(items, start=1):
            ev.update({"pr%did" % i: p[0], "pr%dnm" % i: p[1], "pr%dbr" % i: p[2],
                       "pr%dca" % i: p[3], "pr%dpr" % i: p[4], "pr%dqt" % i: "1"})
        hits.append((t, ev))
        t += rng.randint(100, 2000)
        hits.append((t, {"t": "transaction", "ti": ti, "tr": "%.2f" % rev, "ts": "4.90",
                         "tt": "%.2f" % (rev * 0.19), "cu": "EUR", "tcc": "SPRING10"}))
        for p in items:
            t += rng.randint(10, 500)
            hits.append((t, {"t": "item", "ti": ti, "in": p[1], "ip": p[4], "iq": "1",
                             "ic": p[0], "iv": p[3], "cu": "EUR"}))
    return hits


def visitor_day(rng, day, late):
    """All hits of one visitor received on `day`, as (recv_ms, params).
    A late visitor's first session starts before midnight of `day`: its
    early hits arrived after midnight, so they sit in this day's partition."""
    d0 = day_start_ms(day)
    n_sessions = 1 + (rng.random() < 0.45) + (rng.random() < 0.15)
    t = d0 - rng.randint(5, 25) * 60_000 if late else d0 + rng.randint(0, 14 * 3600_000)
    hits = []
    for _ in range(n_sessions):
        sess = session_hits(rng, t, purchase=rng.random() < 0.12,
                            timing_start=rng.random() < 0.01)
        hits.extend(sess)
        t = sess[-1][0] + rng.randint(SESSION_GAP_MS + 60_000, 3 * 3600_000)
        if t >= d0 + 86_400_000 - 3600_000:
            break
    return [(t, p) for (t, p) in hits if t < d0 + 86_400_000]


def day_hits(rng, geo, day, target, seed, visitor_offset, geo_misses):
    """Hits of one day (~target), each a dict with the envelope and body params.
    The first visitor of every day buys, so all six export tables get rows."""
    out = []
    idx = visitor_offset
    visitors = []
    while len(out) < target:
        v = Visitor(rng, geo, idx, seed, geo_misses)
        idx += 1
        late = rng.random() < LATE_SHARE
        hs = visitor_day(rng, day, late)
        if not visitors:
            d0 = day_start_ms(day) + 9 * 3600_000
            hs = session_hits(rng, d0, purchase=True, timing_start=False)
            ec, ea, el = EVENTS[0]
            hs.append((hs[0][0] + 1000, {"t": "event", "ec": ec, "ea": ea, "el": el,
                                         "ev": "1", "dl": "https://shop.example.com/"}))
        visitors.append(v)
        for t, p in hs:
            out.append((v, t, p))
    out.sort(key=lambda h: (h[1], h[0].cid))
    hits = []
    for n, (v, t, p) in enumerate(out):
        params = {"v": "1", "tid": "UA-12345678-1", "cid": v.cid, "ds": "web",
                  "ul": "de-de", "sr": "1920x1080", "vp": "1280x720", "je": "0",
                  "de": "UTF-8", "sd": "24-bit"}
        if v.uid:
            params["uid"] = v.uid
        params.update(p)
        hits.append({"message_id": "m-%d-%s-%07d" % (seed, day.strftime("%Y%m%d"), n),
                     "trace_id": "Root=1-%08x-%024x" % (t // 1000, n),
                     "received_at_apig": str(t), "visitor": v, "params": params})
    return hits, idx


def enriched_row(h):
    """A hit as the enrichment stage writes it. Enriched days hold no human
    geo misses: GaPipeline.exportTable casts geo_city_id to int, and the
    '(not set)' an enrichment miss writes there fails that cast (a known
    open defect, see perfbench/BENCHMARK.md)."""
    v = h["visitor"]
    anon = v.anon_ip
    row = {"message_id": h["message_id"], "trace_id": h["trace_id"],
           "system_source": "ga", "system_version": "1",
           "received_at_apig": h["received_at_apig"], "ip": anon,
           "user_agent": v.ua[1]}
    for k, val in h["params"].items():
        if val != "":
            row["body_" + k] = val
    if v.is_bot:
        row["device_is_bot"] = True
        return row
    name, ver, os_name, os_ver, dtype, mobile = v.ua[2]
    row.update({"device_is_bot": False, "device_is_mobile": mobile,
                "device_client_name": name, "device_client_version": ver,
                "device_os_name": os_name, "device_os_version": os_ver,
                "device_device_type": dtype, "device_device_input": "(not set)",
                "device_device_info": "(not set)"})
    hit = v.geo
    for c in ["geo_sub_continent", "geo_metro", "geo_network_domain",
              "geo_network_location"]:
        row[c] = "(not set)"
    if hit:
        r = hit[0]
        for c in ["continent", "continent_code", "country", "country_iso", "region",
                  "city", "city_id", "postal_code", "timezone"]:
            row["geo_" + c] = r[c]
        row["geo_latitude"] = float(r["latitude"])
        row["geo_longitude"] = float(r["longitude"])
    else:
        for c in ["continent", "continent_code", "country", "country_iso", "region",
                  "city", "city_id", "postal_code", "timezone"]:
            row["geo_" + c] = "(not set)"
    return row


def sessions_started_on(hits, day):
    """Sessions whose first hit is on `day` and is not a timing hit: the
    rows the daily sessions table holds (a timing hit that opens a session
    is dropped after flagging, and takes the session start with it)."""
    by_cid = {}
    for h in hits:
        by_cid.setdefault(h["visitor"].cid, []).append(h)
    d0 = day_start_ms(day)
    n = 0
    for hs in by_cid.values():
        hs.sort(key=lambda h: (int(h["received_at_apig"]), h["message_id"]))
        prev = None
        for h in hs:
            t = int(h["received_at_apig"])
            if (prev is None or t - prev >= SESSION_GAP_MS) and \
                    h["params"]["t"] not in ("timing", "adtiming") and \
                    d0 <= t // 1000 * 1000 < d0 + 86_400_000:
                n += 1
            prev = t
    return n


def write_jsonl(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def write_enriched_day(out, hits, day):
    d = os.path.join(out, "enriched", "year=%04d" % day.year, "month=%02d" % day.month,
                     "day=%02d" % day.day)
    rows = [enriched_row(h) for h in hits]
    per = (len(rows) + FILES_PER_DAY - 1) // FILES_PER_DAY
    for i in range(FILES_PER_DAY):
        write_jsonl(os.path.join(d, "part-%05d.json" % i), rows[i * per:(i + 1) * per])


def gen_raw(rng, geo, seed, out):
    hits, _ = day_hits(rng, geo, JOB_DATE, RAW_RECORDS, seed, 0, geo_misses=True)
    hits = hits[:RAW_RECORDS]
    records = []
    bots = geo_miss = malformed = 0
    for h in hits:
        v = h["visitor"]
        env = {"system_source": "ga", "system_version": "1",
               "message_id": h["message_id"], "trace_id": h["trace_id"],
               "received_at_apig": h["received_at_apig"], "ip": v.ip,
               "user_agent": v.ua[1],
               "body": "&".join(pct(k) + "=" + pct(val) for k, val in h["params"].items())}
        x = rng.random()
        if x < MALFORMED_SHARE / 2:
            data = "!!not-base64::" + h["message_id"]
            malformed += 1
        elif x < MALFORMED_SHARE:
            data = base64.b64encode(b'{"message_id": "' + h["message_id"].encode()
                                    + b'", "body": ').decode()
            malformed += 1
        else:
            data = base64.b64encode(json.dumps(env).encode()).decode()
        records.append({"recordId": "r-%d-%07d" % (seed, len(records)), "data": data})
        if data.startswith("!!") or x < MALFORMED_SHARE:
            geo_miss += 1  # no envelope: ip "0.0.0.0", no UA, so not a bot
        elif v.is_bot:
            bots += 1
        elif not v.geo:
            geo_miss += 1
    per = (len(records) + RAW_FILES - 1) // RAW_FILES
    for i in range(RAW_FILES):
        write_jsonl(os.path.join(out, "raw", "part-%05d.json" % i),
                    records[i * per:(i + 1) * per])
    return {"records": len(records), "hits": len(records), "bots": bots,
            "geo_miss": geo_miss, "malformed": malformed}


def history_rows(rng, visitors_today, extra, seed):
    """Past sessions: most of today's visitors plus others not seen today."""
    rows = []
    day0 = day_start_ms(JOB_DATE)
    sources = [("(direct)", "(none)"), ("google", "organic"), ("newsletter", "email"),
               ("google", "paid"), ("partner-site", "referral"), ("facebook", "social")]
    cids = [c for c in visitors_today if rng.random() < 0.7] + \
        ["%d.%d" % (rng.randrange(10**8, 10**9), 1600000000 + seed * 100000 + i)
         for i in range(extra)]
    for cid in cids:
        n = rng.randint(1, 4)
        starts = sorted(day0 - rng.randint(3600, HISTORY_DAYS * 86400) * 1000
                        for _ in range(n))
        path = []
        for k, st in enumerate(starts, start=1):
            src, med = rng.choice(sources)
            path.append(src)
            ts = dt.datetime.fromtimestamp(st // 1000, dt.timezone.utc)
            wo_direct = [p for p in path if p != "(direct)"]
            rows.append({
                "fullVisitorId": cid, "visitId": "%040x" % rng.getrandbits(160),
                "userId": "", "visitNumber": k, "visitStartTime": st,
                "date": int(ts.strftime("%Y%m%d")), "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                "trafficSource_campaign": "(not set)", "trafficSource_source": src,
                "trafficSource_medium": med, "trafficSource_keyword": "(not set)",
                "trafficSource_ad_content": "(not set)",
                "geoNetwork_country": "Germany", "geoNetwork_city": "Berlin",
                "device_browser": "Chrome", "device_isMobile": False,
                "device_deviceCategory": "desktop", "totals_transactionRevenue": "",
                "landingPage": "/c/shoes", "hits_type": "PAGE",
                "touchpoints": list(path), "touchpoints_wo_direct": wo_direct,
                "first_touchpoint": path[0],
                "last_touchpoint": wo_direct[-1] if wo_direct else "(direct)"})
    return rows


def gen_daily(rng, geo, seed, out):
    hits, _ = day_hits(rng, geo, JOB_DATE, DAILY_HITS, seed, 0, geo_misses=False)
    write_enriched_day(out, hits, JOB_DATE)
    cids = sorted({h["visitor"].cid for h in hits})
    hist = history_rows(rng, cids, len(cids) // 2, seed)
    write_jsonl(os.path.join(out, "history.json"), hist)
    return {"hits": len(hits), "sessions": sessions_started_on(hits, JOB_DATE),
            "history_rows": len(hist), "visitors": len(cids)}


GENERATORS = {"raw_to_enriched": gen_raw, "daily_export": gen_daily}


def generate(workload, seed, out, geo_csv):
    """Writes the workload's inputs under `out`; returns the truth dict."""
    rng = random.Random(seed)
    geo = Geo(geo_csv)
    os.makedirs(out, exist_ok=True)
    truth = GENERATORS[workload](rng, geo, seed, out)
    truth.update({"workload": workload, "seed": seed, "job_date": JOB_DATE.isoformat()})
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--geo", default="fixtures/geo/ip_ranges.csv")
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out, a.geo)


if __name__ == "__main__":
    main()
