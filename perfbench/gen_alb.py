"""Seeded ALB access-log generator for the ``elb_pipeline`` workload.

Writes one directory of gzip ALB log files (the shape of an ALB S3
prefix), a geo-cache parquet covering most of the client-IP population,
and ``tallies.json`` with the counts the pipeline's sinks must reproduce.
Everything is derived from the seed alone: the same seed gives
byte-identical files and tallies.

Properties (defaults): ~200k lines in 32 ``.gz`` files, a Zipf client-IP
population of 5k IPs of which 90% sit in the geo cache, timestamps over
2 days, ~1% malformed lines, ~10% bot user agents, ~8% 4xx/5xx.

    python3 perfbench/gen_alb.py --seed 7 --out .perfbench_work/alb-7
"""

from __future__ import annotations

import argparse
import bisect
import gzip
import itertools
import json
import os
import random
import subprocess
import sys
from datetime import datetime, timedelta, timezone

LINES = 60_000
FILES = 16
IPS = 5_000
CACHED_SHARE = 0.90
MALFORMED_SHARE = 0.01
BOT_SHARE = 0.10
ERROR_SHARE = 0.08
SPAN_DAYS = 2
ZIPF_S = 1.1

_BASE = datetime(2025, 5, 26, 0, 0, 0, tzinfo=timezone.utc)

_BROWSER_UAS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/137.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.4 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:126.0) Gecko/20100101 Firefox/126.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_5 like Mac OS X) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.5 Mobile/15E148 Safari/604.1",
    "curl/8.5.0",
]
# Each matches the parser's bot test: bot|spider|crawler|python-urllib.
_BOT_UAS = [
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
    "Mozilla/5.0 (compatible; Baiduspider/2.0; +http://www.baidu.com/search/spider.html)",
    "Mozilla/5.0 (compatible; SemrushBot/7~bl; +http://www.semrush.com/bot.html)",
    "python-urllib/3.12",
    "Sogou web crawler/4.0",
]
_OK_STATUSES = [200, 200, 200, 200, 201, 204, 301, 302, 304]
_ERROR_STATUSES = [400, 401, 403, 404, 404, 404, 429, 500, 502, 503, 504]
_METHODS = ["GET", "GET", "GET", "GET", "POST", "PUT", "DELETE"]
_PATHS = [
    "/", "/api/items", "/api/items/17", "/api/users/42", "/api/search",
    "/static/app.js", "/static/css/site.css", "/health", "/login", "/checkout/cart",
]
_HOSTS = ["app.example.com", "api.example.com", "beta.example.com"]
_GEO = [
    ("United States", "US", "CA", "California", "San Jose", 37.33, -121.89, "Comcast"),
    ("United States", "US", "VA", "Virginia", "Ashburn", 39.04, -77.49, "Amazon.com"),
    ("Germany", "DE", "HE", "Hesse", "Frankfurt", 50.11, 8.68, "Deutsche Telekom"),
    ("United Kingdom", "GB", "ENG", "England", "London", 51.51, -0.13, "BT"),
    ("France", "FR", "IDF", "Ile-de-France", "Paris", 48.86, 2.35, "Orange"),
    ("Japan", "JP", "13", "Tokyo", "Tokyo", 35.69, 139.69, "NTT"),
    ("India", "IN", "MH", "Maharashtra", "Mumbai", 19.08, 72.88, "Reliance Jio"),
    ("Brazil", "BR", "SP", "Sao Paulo", "Sao Paulo", -23.55, -46.63, "Vivo"),
    ("Canada", "CA", "ON", "Ontario", "Toronto", 43.65, -79.38, "Rogers"),
    ("Australia", "AU", "NSW", "New South Wales", "Sydney", -33.87, 151.21, "Telstra"),
    ("Netherlands", "NL", "NH", "North Holland", "Amsterdam", 52.37, 4.90, "KPN"),
    ("Singapore", "SG", "01", "Central Singapore", "Singapore", 1.29, 103.85, "Singtel"),
]


def _ip_population(rng: random.Random, n: int) -> list[str]:
    seen: set[str] = set()
    ips: list[str] = []
    while len(ips) < n:
        ip = (f"{rng.randrange(1, 224)}.{rng.randrange(256)}."
              f"{rng.randrange(256)}.{rng.randrange(1, 255)}")
        if ip not in seen:
            seen.add(ip)
            ips.append(ip)
    return ips


def _line(rng: random.Random, ts: datetime, ip: str, status: int, ua: str) -> str:
    t = ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    timeout = rng.random() < 0.005
    rpt, tpt, resppt = (
        ("-1", "-1", "-1") if timeout else
        (f"{rng.random() * 0.005:.3f}", f"{rng.random() * 0.8:.3f}",
         f"{rng.random() * 0.002:.3f}")
    )
    host = rng.choice(_HOSTS)
    url = f"https://{host}:443{rng.choice(_PATHS)}"
    if rng.random() < 0.3:
        url += f"?page={rng.randrange(50)}"
    return (
        f"h2 {t} app/bench-lb/5f1c2a {ip}:{rng.randrange(1024, 65536)} "
        f"172.31.{rng.randrange(256)}.{rng.randrange(1, 255)}:80 {rpt} {tpt} {resppt} "
        f"{status} {status} {rng.randrange(40, 2000)} {rng.randrange(100, 50000)} "
        f'"{rng.choice(_METHODS)} {url} HTTP/2.0" "{ua}" '
        f"TLS_AES_128_GCM_SHA256 TLSv1.3 "
        f"arn:aws:elasticloadbalancing:us-west-2:123456789012:targetgroup/bench/0a1b2c3d "
        f'"Root=1-{rng.randrange(1 << 32):08x}-{rng.randrange(1 << 48):012x}" '
        f'"{host}" "session-reused" {rng.randrange(3)} {t} "waf,forward" "-" "-" '
        f'"172.31.0.1:80" "{status}" "-" "-" TID_{rng.randrange(1 << 64):016x}'
    )


def _malformed(rng: random.Random, ts: datetime, ip: str) -> tuple[str, str]:
    """A line the parser must drop: either too few fields (counted by the
    parser's ``lines_rejected``) or a well-shaped line whose timestamp
    does not parse (dropped by the timestamp gate)."""
    if rng.random() < 0.5:
        t = ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
        return "arity", f"h2 {t} app/bench-lb/5f1c2a {ip}:443 truncated line"
    good = _line(rng, ts, ip, 200, _BROWSER_UAS[0])
    fields = good.split(" ", 2)
    return "timestamp", f"{fields[0]} 2025-13-45T99:99:99Z {fields[2]}"


def generate(out_dir: str, seed: int, lines: int = LINES, files: int = FILES,
             ips: int = IPS) -> dict:
    """Write ``out_dir/logs/*.gz``, ``out_dir/geo_cache.parquet`` and
    ``out_dir/tallies.json``; return the tallies."""
    rng = random.Random(f"perfbench-alb:{seed}")
    population = _ip_population(rng, ips)
    cached = set(rng.sample(population, int(round(CACHED_SHARE * ips))))
    cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(ips)))

    span_us = SPAN_DAYS * 86_400 * 1_000_000
    offsets = sorted(rng.randrange(span_us) for _ in range(lines))
    tallies = {
        "seed": seed, "lines": lines, "files": files, "ips": ips,
        "lines_rejected_arity": 0, "lines_rejected_timestamp": 0,
        "lines_kept": 0, "error_rows": 0, "bot_rows": 0,
        "unk_rows": 0, "cached_rows": 0,
    }
    body: list[str] = []
    for off in offsets:
        ts = _BASE + timedelta(microseconds=off)
        ip = population[bisect.bisect_left(cum, rng.random() * cum[-1])]
        if rng.random() < MALFORMED_SHARE:
            kind, text = _malformed(rng, ts, ip)
            tallies[f"lines_rejected_{kind}"] += 1
            body.append(text)
            continue
        is_error = rng.random() < ERROR_SHARE
        is_bot = rng.random() < BOT_SHARE
        status = rng.choice(_ERROR_STATUSES if is_error else _OK_STATUSES)
        ua = rng.choice(_BOT_UAS if is_bot else _BROWSER_UAS)
        body.append(_line(rng, ts, ip, status, ua))
        tallies["lines_kept"] += 1
        tallies["error_rows"] += is_error
        tallies["bot_rows"] += is_bot
        if ip in cached:
            tallies["cached_rows"] += 1
        else:
            tallies["unk_rows"] += 1

    log_dir = os.path.join(out_dir, "logs")
    os.makedirs(log_dir, exist_ok=True)
    per_file = -(-lines // files)
    for i in range(files):
        chunk = body[i * per_file:(i + 1) * per_file]
        stamp = (_BASE + timedelta(minutes=5 * i)).strftime("%Y%m%dT%H%MZ")
        name = f"123456789012_elasticloadbalancing_us-west-2_app.bench-lb_{stamp}_{i:04d}.log.gz"
        with open(os.path.join(log_dir, name), "wb") as raw:
            # mtime=0 and no embedded name: same seed, same bytes
            with gzip.GzipFile(filename="", mode="wb", fileobj=raw, mtime=0,
                               compresslevel=5) as gz:
                gz.write(("\n".join(chunk) + "\n").encode())

    _write_geo_cache(os.path.join(out_dir, "geo_cache.parquet"), sorted(cached), rng)
    with open(os.path.join(out_dir, "tallies.json"), "w") as fh:
        json.dump(tallies, fh, indent=1, sort_keys=True)
    return tallies


def _write_geo_cache(path: str, ips: list[str], rng: random.Random) -> None:
    """One ``success`` row per cached IP, in the program's cache schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [_GEO[rng.randrange(len(_GEO))] for _ in ips]
    fetched = datetime(2025, 5, 25, 12, 0, 0)
    table = pa.table({
        "query": ips,
        "status": ["success"] * len(ips),
        "message": pa.array([None] * len(ips), pa.string()),
        "country": [r[0] for r in rows],
        "countryCode": [r[1] for r in rows],
        "region": [r[2] for r in rows],
        "regionName": [r[3] for r in rows],
        "city": [r[4] for r in rows],
        "lat": [r[5] for r in rows],
        "lon": [r[6] for r in rows],
        "isp": [r[7] for r in rows],
        "api_fetch_timestamp": pa.array([fetched] * len(ips), pa.timestamp("us", tz="UTC")),
    })
    pq.write_table(table, path)


def ensure(out_dir: str, seed: int) -> dict:
    """Generate once per seed, in a child process so the generator's
    memory stays out of the caller's peak RSS; reuse a complete earlier
    generation (``tallies.json`` is written last)."""
    done = os.path.join(out_dir, "tallies.json")
    if not os.path.exists(done):
        subprocess.run([sys.executable, os.path.abspath(__file__), "--seed", str(seed),
                        "--out", out_dir], check=True, stdout=subprocess.DEVNULL)
    with open(done) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.out, args.seed), sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
