"""Seeded generator of one enriched GA day, with its ground truth.

Writes sparse JSONL in the enriched-hit shape of FIXTURES.md F2 (the
``hit_schema`` the daily CLI reads): envelope, ``body_*``, ``geo_*``
and ``device_*`` keys, only the keys a hit uses. It follows the knobs
of ``testing.fixtures.enriched_hits_day`` at scale:

- per-visitor hit gaps under 30 min, and session gaps over and at
  exactly 30 min (a gap of exactly 30 min starts a new session);
- timing/adtiming hits, which the pipeline drops after sessionizing;
- enhanced-ecommerce events with product slots, purchases with
  revenue, transaction and item hits;
- UTM, gclid, search-referrer, partner-referrer and direct entries;
- about 1% of hits from bots.

:func:`ground_truth` recomputes in plain Python, from the generated
hits alone, the row count each of the six daily marts must have.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from collections import Counter, defaultdict
from zoneinfo import ZoneInfo

GAP_MS = 30 * 60 * 1000
DROPPED_TYPES = {"timing", "adtiming"}
UNPIVOT_PARAMS = ["ca", "cc", "id", "nm", "pr", "qt", "va"]
TZ = ZoneInfo("Europe/Berlin")

SHOP = "https://shop.example"
PAGES = ["/", "/shoes", "/shoes/running", "/socks", "/cart", "/checkout",
         "/account", "/sale/summer", "/help/shipping", "/blog/care"]
PRODUCTS = [("SKU-%03d" % i, name, cat, "%.2f" % price)
            for i, (name, cat, price) in enumerate([
                ("Runner", "Shoes", 89.9), ("Trail", "Shoes", 119.0),
                ("Sprint", "Shoes", 74.5), ("Wool", "Socks", 12.99),
                ("Ankle", "Socks", 7.99), ("Cap", "Apparel", 19.0),
                ("Shirt", "Apparel", 29.5), ("Laces", "Accessories", 3.49),
            ])]
DEVICES = [
    ("Chrome", "126.0", "Windows", "10", "desktop", False,
     "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Chrome/126.0"),
    ("Firefox", "127.0", "Linux", "", "desktop", False,
     "Mozilla/5.0 (X11; Linux x86_64; rv:127.0) Firefox/127.0"),
    ("Mobile Safari", "17.5", "iOS", "17.5", "mobile", True,
     "Mozilla/5.0 (iPhone; CPU iPhone OS 17_5) Mobile Safari/604.1"),
    ("Chrome Mobile", "126.0", "Android", "14", "mobile", True,
     "Mozilla/5.0 (Linux; Android 14) Chrome/126.0 Mobile"),
]
GEOS = [
    ("Europe", "Western Europe", "Germany", "Berlin", 52.52, 13.40),
    ("Europe", "Western Europe", "France", "Paris", 48.86, 2.35),
    ("Europe", "Northern Europe", "United Kingdom", "London", 51.51, -0.13),
    ("Americas", "Northern America", "United States", "New York", 40.71, -74.01),
]


def _midnight_ms(date: str) -> int:
    d = dt.date.fromisoformat(date)
    return int(dt.datetime(d.year, d.month, d.day, tzinfo=TZ).timestamp() * 1000)


def visitor_pool(seed: int, n: int) -> list[str]:
    """GA client ids shared by every day made from ``seed``."""
    rng = random.Random(f"visitors:{seed}")
    return [f"{rng.randrange(10**9, 2 * 10**9)}.{1560000000 + i}"
            for i in range(n)]


class _DayWriter:
    def __init__(self, seed: int, date: str):
        self.rng = random.Random(f"day:{seed}:{date}")
        self.prefix = f"{seed}-{date}"
        self.hits: list[dict] = []

    def hit(self, visitor: dict, ms: int, body_t: str, **kw) -> None:
        seq = len(self.hits)
        h = {
            "system_source": "ga",
            "system_version": "1",
            "message_id": f"{self.prefix}-{seq:07d}",
            "trace_id": f"Root=1-{seq:08x}-{self.prefix}",
            "received_at_apig": str(ms),
            "ip": visitor["ip"],
            "user_agent": visitor["ua"],
            "body_v": "1",
            "body_tid": "UA-142371309-1",
            "body_cid": visitor["cid"],
            "body_t": body_t,
            "body_dl": SHOP + self.rng.choice(PAGES),
            "body_ul": "en-gb",
            "body_de": "UTF-8",
            "body_sd": "24-bit",
            "body_sr": visitor["sr"],
            "body_je": "0",
        }
        h.update(visitor["enriched"])
        h.update(kw)
        self.hits.append(h)

    def visitor(self, cid: str, bot: bool) -> dict:
        rng = self.rng
        ip = f"198.51.{rng.randrange(256)}.0"
        if bot:
            return {"cid": cid, "ip": ip, "sr": "1024x768",
                    "ua": "Googlebot/2.1 (+http://www.google.com/bot.html)",
                    "enriched": {
                        "device_client_name": "Googlebot",
                        "device_device_type": "(not set)",
                        "device_is_mobile": False, "device_is_bot": True,
                        "geo_country": "(not set)",
                        "geo_continent": "(not set)",
                    }}
        name, ver, os_name, os_ver, dtype, mobile, ua = rng.choice(DEVICES)
        cont, sub, country, city, lat, lon = rng.choice(GEOS)
        return {"cid": cid, "ip": ip, "ua": ua,
                "sr": "390x844" if mobile else "1920x1080",
                "enriched": {
                    "device_client_name": name, "device_client_version": ver,
                    "device_os_name": os_name, "device_os_version": os_ver,
                    "device_device_type": dtype, "device_is_mobile": mobile,
                    "device_is_bot": False,
                    "geo_continent": cont, "geo_sub_continent": sub,
                    "geo_country": country, "geo_city": city,
                    "geo_latitude": lat, "geo_longitude": lon,
                }}

    def entry(self) -> dict:
        """Landing-hit keys for one session's traffic source."""
        rng = self.rng
        page = SHOP + rng.choice(PAGES[:3])
        r = rng.random()
        if r < 0.25:
            src = rng.choice(["newsletter", "partner", "spring_mail"])
            return {"body_dl": page + f"?utm_source={src}&utm_medium=email"
                    f"&utm_campaign=sale&utm_term=shoes&utm_content=v{rng.randrange(3)}"}
        if r < 0.40:
            return {"body_dl": page + f"?gclid=Cj0KCQ{rng.randrange(10**6)}"}
        if r < 0.60:
            return {"body_dl": page, "body_dr": "https://www.google.com/"}
        if r < 0.75:
            return {"body_dl": page,
                    "body_dr": "https://partner.example/page?x=1"}
        return {"body_dl": page}

    def products(self, n: int) -> dict:
        kw = {}
        for i, (sku, name, cat, price) in enumerate(self.rng.sample(PRODUCTS, n)):
            kw.update({f"body_pr{i}id": sku, f"body_pr{i}nm": name,
                       f"body_pr{i}ca": cat, f"body_pr{i}pr": price,
                       f"body_pr{i}qt": str(self.rng.randrange(1, 4))})
        return kw

    def session(self, v: dict, ms: int, end_ms: int) -> int:
        """One session from ``ms``; returns the last hit's time."""
        rng = self.rng
        if rng.random() < 0.03:
            # a timing hit opens the session: it sets the boundary but
            # is dropped, so no session row may come from it
            self.hit(v, ms, "timing")
            ms += rng.randrange(1000, 60_000)
        self.hit(v, ms, "pageview", **self.entry())
        for _ in range(min(int(rng.expovariate(1 / 7)), 40)):
            step = (GAP_MS - 1 if rng.random() < 0.02
                    else rng.randrange(1000, 25 * 60 * 1000))
            if ms + step > end_ms:
                break
            ms += step
            r = rng.random()
            if r < 0.52:
                self.hit(v, ms, "pageview")
            elif r < 0.70:
                self.hit(v, ms, "event", body_ec="ui",
                         body_ea=rng.choice(["click", "scroll", "play"]),
                         body_el=rng.choice(["banner", "menu", "video"]),
                         body_ev=str(rng.randrange(1, 100)))
            elif r < 0.80:
                pa = rng.choice(["detail", "add", "checkout", "purchase"])
                kw = self.products(rng.randrange(1, 4))
                if pa == "purchase":
                    kw.update(body_tr="%.2f" % rng.uniform(10, 300),
                              body_ti=f"T-{len(self.hits)}", body_cu="EUR")
                self.hit(v, ms, "event", body_ec="ecommerce", body_ea=pa,
                         body_pa=pa, **kw)
            elif r < 0.84:
                ti = f"T-{len(self.hits)}"
                self.hit(v, ms, "transaction", body_ti=ti,
                         body_tr="%.2f" % rng.uniform(10, 300),
                         body_ts="4.90", body_tt="7.97", body_cu="EUR")
                for _ in range(rng.randrange(1, 3)):
                    ms += rng.randrange(1000, 5000)
                    sku, name, cat, price = rng.choice(PRODUCTS)
                    self.hit(v, ms, "item", body_ti=ti, body_ic=sku,
                             body_in=name, body_iv=cat, body_ip=price,
                             body_iq=str(rng.randrange(1, 4)))
            elif r < 0.94:
                self.hit(v, ms, "timing")
            else:
                self.hit(v, ms, "adtiming")
        return ms


def make_day(seed: int, date: str, visitors: list[str], n_hits: int) -> list[dict]:
    """Exactly ``n_hits`` hits on ``date`` (Europe/Berlin), time-ordered,
    from the first visitors of ``visitors`` that it takes to reach them.
    Every 200th visitor is a bot."""
    w = _DayWriter(seed, date)
    rng = w.rng
    day0 = _midnight_ms(date)
    start, end = day0 + 30 * 60 * 1000, day0 + 23 * 3600 * 1000
    for i, cid in enumerate(visitors):
        if len(w.hits) >= n_hits:
            break
        bot = i % 200 == 0
        v = w.visitor(cid, bot)
        ms = rng.randrange(start, day0 + 12 * 3600 * 1000)
        if bot:
            # about 30 pageviews per bot, over and under the session gap
            for _ in range(30):
                w.hit(v, ms, "pageview")
                ms += rng.choice([20_000, GAP_MS, 45 * 60 * 1000])
                if ms > end:
                    break
            continue
        for _ in range(rng.randrange(1, 4)):
            ms = w.session(v, ms, end)
            ms += GAP_MS if rng.random() < 0.3 else rng.randrange(
                GAP_MS + 60_000, 5 * 3600 * 1000)
            if ms > end:
                break
    if len(w.hits) < n_hits:
        raise ValueError(f"{len(visitors)} visitors made only "
                         f"{len(w.hits)} of {n_hits} hits")
    hits = w.hits[:n_hits]
    hits.sort(key=lambda h: (int(h["received_at_apig"]), h["message_id"]))
    return hits


def write_day(hits: list[dict], out_dir: str, n_files: int = 8) -> None:
    """Spread the hits round-robin over ``n_files`` JSONL part files."""
    os.makedirs(out_dir, exist_ok=True)
    files = [open(os.path.join(out_dir, f"part-{i:05d}.jsonl"), "w")
             for i in range(n_files)]
    try:
        for i, h in enumerate(hits):
            files[i % n_files].write(json.dumps(h) + "\n")
    finally:
        for f in files:
            f.close()


def _n_products(h: dict) -> int:
    slots = {k[7:-2] for k, v in h.items()
             if k.startswith("body_pr") and k[-2:] in UNPIVOT_PARAMS
             and v is not None}
    return len(slots)


def ground_truth(hits: list[dict]) -> dict:
    """Hits per type, sessions, and the row count of every daily mart.

    Sessions follow the pipeline's rule on all hits of a visitor in
    (time, message_id) order: the first hit, or a gap of at least 30
    min, opens one. Timing/adtiming hits are then dropped, so a session
    they open has no session row. Each hit yields one export row per
    populated product slot, or one row when it has none.
    """
    by_visitor = defaultdict(list)
    for h in hits:
        by_visitor[h["body_cid"]].append(
            (int(h["received_at_apig"]), h["message_id"], h))
    marts = Counter({m: 0 for m in ("sessions", "pageviews", "events",
                                     "products", "transactions", "items")})
    sessions = 0
    for rows in by_visitor.values():
        rows.sort(key=lambda r: r[:2])
        prev = None
        for ms, _, h in rows:
            new = prev is None or ms - prev >= GAP_MS
            prev = ms
            sessions += new
            t = h["body_t"]
            if t in DROPPED_TYPES:
                continue
            n_prod = _n_products(h)
            if new:
                marts["sessions"] += max(1, n_prod)
            if t == "pageview":
                marts["pageviews"] += max(1, n_prod)
            elif t == "event":
                if n_prod:
                    marts["products"] += n_prod
                else:
                    marts["events"] += 1
            elif t == "transaction":
                marts["transactions"] += max(1, n_prod)
            elif t == "item":
                marts["items"] += max(1, n_prod)
    return {
        "hits": len(hits),
        "hits_by_type": dict(Counter(h["body_t"] for h in hits)),
        "sessions": sessions,
        "marts": dict(marts),
    }
