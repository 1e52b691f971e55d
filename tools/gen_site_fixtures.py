#!/usr/bin/env python3
"""Site-graph fixtures + golden crawl traces (stdlib only; outputs committed).

Implements the reference crawler's per-URL semantics (crawler.py:24-46,55-69)
under the canonical deterministic serialization of SURVEY.md §A.1:
level-synchronous BFS; within an epoch, URLs are fetched in lexicographic
(code-point) order of the epoch's deduplicated frontier. Final sets
(visited / all_links / links.txt) are bit-exact vs the unmodified reference
semantics; the trace is exact under the pinned tie-break.

Extensions (north_rule, no reference counterpart — contract defined here and
mirrored by the engine):
  - politeness budget B: per epoch, per host (lowercased, sans port), only the
    first B frontier URLs in lexicographic order are fetched; the rest carry
    over to the next epoch's frontier.
  - robots: rules parsed from the page at https://<host>/robots.txt, agent
    group '*' only; longest-path-prefix match wins, allow wins ties, no rule
    → allowed. Disallowed URLs are dropped at scheduling time (never fetched,
    never traced; recorded as suppressed so they are not rescheduled).

Outputs per scenario under src/test/resources/sites/<name>/:
  pages.tsv   url \t html_b64   (the pages table; missing url = dead link)
  config.json {domain, budget, seed_url}
  trace.txt / visited.txt / links.txt / frontier_epochs.txt
"""
import base64
import html.parser
import io
import json
import os
import sys
from urllib.parse import urljoin, urlparse

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "src/test/resources/sites")


# ---- reference per-URL semantics (crawler.py:24-46) -------------------------
class LinkParser(html.parser.HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.hrefs = []

    def _tag(self, tag, attrs):
        if tag == "a":
            d = {}
            for k, v in attrs:
                d[k] = v if v is not None else ""
            if "href" in d:
                self.hrefs.append(d["href"])

    def handle_starttag(self, tag, attrs):
        self._tag(tag, attrs)

    def handle_startendtag(self, tag, attrs):
        self._tag(tag, attrs)


def extract_clean_links(page_url, html_bytes):
    """crawler.py:32-42: parse, urljoin, scheme filter, clean rebuild → set."""
    p = LinkParser()
    try:
        p.feed(html_bytes.decode("utf-8"))
        p.close()
    except Exception:
        return set()
    links = set()
    for href in p.hrefs:
        full = urljoin(page_url, href)
        parsed = urlparse(full)
        if parsed.scheme in ("http", "https"):
            clean = f"{parsed.scheme}://{parsed.netloc}{parsed.path}"
            if parsed.query:
                clean += f"?{parsed.query}"
            links.add(clean)
    return links


def is_valid(url, domain):
    return urlparse(url).netloc.endswith(domain)


def host_key(url):
    n = urlparse(url).netloc
    n = n.rsplit("@", 1)[-1]
    return n.split(":")[0].lower()


# ---- robots (RFC 9309-lite, '*' group only) ---------------------------------
# per-epoch politeness window: a host with crawl-delay d gets at most
# max(1, floor(EPOCH_WINDOW_SEC / d)) fetches per epoch (min with any
# configured budget). Mirrored by CrawlEngine.CrawlDelayWindowSec.
EPOCH_WINDOW_SEC = 60.0


def parse_robots_full(body):
    """→ (rules, crawl_delay) for agent group '*'. rules = list of
    (path_prefix, allow). crawl_delay = the LAST crawl-delay value in the
    '*' group that Python float() accepts (None otherwise). A crawl-delay
    line closes a user-agent run exactly like a rule line (it is a group
    member line, unlike sitemap-class records which are ignored entirely).
    """
    rules = []
    delay = None
    in_star = False
    seen_ua_since_rules = True
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if seen_ua_since_rules:
                in_star = in_star or value == "*"
            else:
                in_star = value == "*"
                seen_ua_since_rules = True
        elif field in ("allow", "disallow"):
            seen_ua_since_rules = False
            if in_star and value:
                rules.append((value, field == "allow"))
        elif field == "crawl-delay":
            seen_ua_since_rules = False
            if in_star:
                try:
                    delay = float(value)
                except ValueError:
                    pass
    return rules, delay


def parse_robots(body):
    """→ list of (path_prefix, allow: bool) for agent group '*'."""
    return parse_robots_full(body)[0]


def robots_allowed(url, rules):
    path = urlparse(url).path or "/"
    best = None
    for prefix, allow in rules:
        if path.startswith(prefix):
            if best is None or len(prefix) > len(best[0]) or (
                    len(prefix) == len(best[0]) and allow):
                best = (prefix, allow)
    return True if best is None else best[1]


# ---- canonical-serialization crawl ------------------------------------------
def crawl(pages, domain, budget=None, seeds=None, depth_priority=False):
    """Frontier rows are (priority, url), scheduled in (priority, url) order.
    priority = 0 everywhere in trace-match mode (the reference's FIFO makes
    constant priority exact); with depth_priority, priority = discovery
    depth, so budget-deferred older URLs outrank newly discovered ones.
    A URL reachable at several depths keeps the MINIMUM. The visit trace is
    serialized per §A.1 as (epoch, url) regardless of scheduling priority.
    """
    seeds = seeds or [f"https://{domain}"]
    robots_rules = {}  # host → rules
    robots_delay = {}  # host → crawl-delay (valid, > 0 only)
    for url, body in pages.items():
        p = urlparse(url)
        if p.path == "/robots.txt":
            rules, delay = parse_robots_full(body.decode("utf-8"))
            robots_rules[host_key(url)] = rules
            if delay is not None and delay > 0:
                robots_delay[host_key(url)] = delay

    def allowed(u):
        return robots_allowed(u, robots_rules.get(host_key(u), []))

    def host_budget(h):
        """Effective per-epoch budget for host h: the configured budget
        tightened by crawl-delay (delay d ⇒ max(1, floor(window/d))
        fetches per epoch). None = unbounded."""
        eff = budget
        d = robots_delay.get(h)
        if d is not None:
            db = max(1, int(EPOCH_WINDOW_SEC // d))
            eff = db if eff is None else min(eff, db)
        return eff

    visited = []
    visited_set = set()
    suppressed = set()  # robots-blocked, never rescheduled
    all_links = set()
    frontier = []  # sorted list of (priority, url)
    for seed in sorted(set(seeds)):
        if allowed(seed):
            frontier.append((0, seed))
        else:
            suppressed.add(seed)
    epochs = []
    epoch_idx = 0
    while frontier:
        epochs.append([u for _, u in frontier])
        if budget is not None or robots_delay:
            taken = {}
            fetch_now, defer = [], []
            for pu in frontier:  # frontier already (priority, url)-sorted
                h = host_key(pu[1])
                b = host_budget(h)
                if b is None or taken.get(h, 0) < b:
                    taken[h] = taken.get(h, 0) + 1
                    fetch_now.append(pu)
                else:
                    defer.append(pu)
        else:
            fetch_now, defer = frontier, []
        next_level = {}  # url → discovery priority
        epoch_visited = []
        for _, url in fetch_now:
            if url in visited_set:
                continue
            epoch_visited.append(url)
            visited_set.add(url)
            body = pages.get(url)
            links = extract_clean_links(url, body) if body is not None else set()
            for link in sorted(links):
                all_links.add(link)
                if is_valid(link, domain) and link not in visited_set:
                    if allowed(link):
                        next_level[link] = (epoch_idx + 1) if depth_priority else 0
                    else:
                        suppressed.add(link)
        visited.extend(sorted(epoch_visited))  # §A.1 (epoch, url) trace order
        merged = {}
        for p, u in defer:
            merged[u] = min(merged.get(u, p), p)
        for u, p in next_level.items():
            merged[u] = min(merged.get(u, p), p)
        frontier = sorted((p, u) for u, p in merged.items()
                          if u not in visited_set and u not in suppressed)
        epoch_idx += 1
    return visited, sorted(all_links), epochs


# ---- site builders -----------------------------------------------------------
def page(links, title="t", extra=""):
    body = "".join(f'<a href="{h}">l</a>' for h in links)
    return (f'<html><head><meta charset="utf-8"><title>{title}</title></head>'
            f"<body>{extra}{body}</body></html>").encode("utf-8")


def site_basic():
    d = "example.com"
    pages = {
        f"https://{d}": page(["/a", "/b", "/a", "dead.html", "#frag-only"]),
        f"https://{d}/a": page(["/b", "/c/d", "../up", "https://other.org/x",
                                "/a?q=1", "/a?q=1#f"]),
        f"https://{d}/b": page(["/", "/a", "/c/d", "mailto:x@y.z",
                                "javascript:void(0)", ""]),
        f"https://{d}/c/d": page(["../a", "./e;param", "e/f/../g",
                                  "//example.com/pp", "?q=2"]),
        f"https://{d}/c/e": page(["/loop"]),  # ;param stripped → /c/e
        f"https://{d}/c/g": page([]),
        f"https://{d}/pp": page(["/a", "/b"]),
        f"https://{d}/c/d?q=2": page(["/deep"]),
        f"https://{d}/a?q=1": page([]),
        f"https://{d}/loop": page(["/loop", "/"]),
        f"https://{d}/deep": page(["/deep2"]),
        f"https://{d}/deep2": page([]),
        # note: https://example.com/ (slash) is a DIFFERENT url than the seed
        f"https://{d}/": page(["/a"]),
        f"https://{d}/up": page([]),
    }
    return d, pages, None


def site_quirks():
    d = "example.com"
    pages = {
        f"https://{d}": page([
            "https://example.com:443/port",        # port → endswith fails → off-domain
            "https://evilexample.com/super",       # superstring host → IN domain (quirk)
            "https://Example.com/case",            # case-sensitive → off-domain
            "https://sub.example.com/s",           # subdomain → in-domain
            "HTTP://example.com/SchemeCase",       # scheme lowercased, netloc kept
            "//example.com/proto",                 # protocol-relative
            "x y",                                 # space in path (kept verbatim)
        ]),
        "https://evilexample.com/super": page(["/super2"]),
        "https://evilexample.com/super2": page([]),
        "https://sub.example.com/s": page(["t", "/s"]),
        "https://sub.example.com/t": page([]),
        "http://example.com/SchemeCase": page([]),
        f"https://{d}/proto": page([]),
        f"https://{d}/x%20y": page([]),  # note: 'x y' stays 'x y' — absent on purpose
        f"https://{d}/x y": page([]),    # this one matches the verbatim path
    }
    return d, pages, None


def site_budget():
    d = "example.com"
    # one hot host: seed fans out to 6 pages; budget 2 → 3 epochs to drain
    links = [f"/p/{i}" for i in range(6)]
    pages = {f"https://{d}": page(links)}
    for i in range(6):
        pages[f"https://{d}/p/{i}"] = page([f"/p/{i}/child"])
        pages[f"https://{d}/p/{i}/child"] = page([])
    pages[f"https://sub.{d}/s0"] = page([])
    pages[f"https://{d}/p/0"] = page([f"/p/0/child", f"https://sub.{d}/s0"])
    return d, pages, 2


def site_robots():
    d = "example.com"
    robots = "\n".join([
        "User-agent: *",
        "Disallow: /private/",
        "Allow: /private/ok",
        "Disallow: /tmp",
        "",
        "User-agent: other-bot",
        "Disallow: /",
    ]).encode("utf-8")
    pages = {
        f"https://{d}/robots.txt": robots,
        f"https://{d}": page(["/private/a", "/private/ok1", "/pub",
                              "/tmpfile", "/tmp/x"]),
        f"https://{d}/private/a": page(["/never"]),
        f"https://{d}/private/ok1": page(["/pub2"]),
        f"https://{d}/pub": page(["/private/b"]),
        f"https://{d}/pub2": page([]),
        f"https://{d}/tmpfile": page([]),  # Disallow:/tmp is a prefix → blocked
        f"https://{d}/tmp/x": page([]),
    }
    return d, pages, None


def site_delay():
    """crawl-delay tightens per-host budgets with NO configured budget:
    apex has Crawl-delay 30 (→ 2 fetches/epoch), slow.example.com has
    Crawl-delay 60 (→ 1/epoch), fast.example.com has no robots (unbounded).
    Multi-epoch deferral driven purely by the robots crawl-delay column."""
    d = "example.com"
    apex_robots = "\n".join([
        "User-agent: *",
        "Crawl-delay: 30",
        "Disallow: /blocked",
    ]).encode("utf-8")
    slow_robots = b"User-agent: *\nCrawl-delay: 60\n"
    pages = {
        f"https://{d}/robots.txt": apex_robots,
        f"https://slow.{d}/robots.txt": slow_robots,
        f"https://{d}": page([f"/a{i}" for i in range(5)] +
                             [f"https://slow.{d}/s{i}" for i in range(3)] +
                             [f"https://fast.{d}/f{i}" for i in range(4)] +
                             ["/blocked1"]),
    }
    for i in range(5):
        pages[f"https://{d}/a{i}"] = page([])
    for i in range(3):
        pages[f"https://slow.{d}/s{i}"] = page([f"/s{i}x"])
        pages[f"https://slow.{d}/s{i}x"] = page([])
    for i in range(4):
        pages[f"https://fast.{d}/f{i}"] = page([])
    pages[f"https://{d}/blocked1"] = page(["/never"])
    return d, pages, None


def site_delayfloor():
    """crawl-delay edge cases pinned as a committed scenario:
    - apex Crawl-delay 6.666666666666667: Python 60.0 // d == 8.0 but the
      ROUNDED double quotient 60.0/d rounds to 9.0 — an engine computing
      floor(window/d) fetches one extra URL per epoch and diverges here;
    - nan.example.com Crawl-delay nan: float('nan') parses but nan > 0 is
      False, so NO cap (Spark orders NaN > 0 — an engine without the isnan
      guard caps this host at 1/epoch and diverges);
    - inf.example.com Crawl-delay inf: int(60.0 // inf) == 0 → budget
      max(1, 0) == 1 (one fetch per epoch).
    """
    d = "example.com"
    pages = {
        f"https://{d}/robots.txt":
            b"User-agent: *\nCrawl-delay: 6.666666666666667\n",
        f"https://nan.{d}/robots.txt": b"User-agent: *\nCrawl-delay: nan\n",
        f"https://inf.{d}/robots.txt": b"User-agent: *\nCrawl-delay: inf\n",
        f"https://{d}": page([f"/a{i:02d}" for i in range(11)] +
                             [f"https://nan.{d}/n{i}" for i in range(4)] +
                             [f"https://inf.{d}/i{i}" for i in range(3)]),
    }
    for i in range(11):
        pages[f"https://{d}/a{i:02d}"] = page([])
    for i in range(4):
        pages[f"https://nan.{d}/n{i}"] = page([f"/n{i}x"])
        pages[f"https://nan.{d}/n{i}x"] = page([])
    for i in range(3):
        pages[f"https://inf.{d}/i{i}"] = page([])
    return d, pages, None


def site_multiseed():
    """Two seeds on different hosts reaching partly-disjoint islands —
    the north_star's 'seed list' shape."""
    d = "example.com"
    pages = {
        f"https://{d}": page(["/i1", "/shared"]),
        f"https://{d}/i1": page(["/i2"]),
        f"https://{d}/i2": page([]),
        f"https://{d}/shared": page([f"https://h2.{d}/j2"]),
        f"https://h2.{d}/start": page(["/j1", f"https://{d}/shared"]),
        f"https://h2.{d}/j1": page(["/j2"]),
        f"https://h2.{d}/j2": page([]),
        f"https://{d}/island": page(["/unreachable"]),  # no seed reaches this
    }
    seeds = [f"https://{d}", f"https://h2.{d}/start"]
    return d, pages, None, seeds


def site_combo():
    """budget=1 + robots + subdomains + dead links + off-domain together —
    the feature-interaction scenario (deferral across epochs while robots
    suppression and scope quirks are active)."""
    d = "example.com"
    robots = "\n".join([
        "User-agent: *",
        "Disallow: /blocked/",
        "Allow: /blocked/but-ok",
    ]).encode("utf-8")
    pages = {
        f"https://{d}/robots.txt": robots,
        f"https://sub.{d}/robots.txt": b"User-agent: *\nDisallow: /sub-secret\n",
        f"https://{d}": page(["/a", "/b", "/blocked/x", "/blocked/but-ok1",
                              f"https://sub.{d}/s1", f"https://sub.{d}/s2",
                              "https://other.org/ext", "dead1"]),
        f"https://{d}/a": page(["/c", "/d", f"https://sub.{d}/sub-secret2"]),
        f"https://{d}/b": page(["/c", "/blocked/y"]),
        f"https://{d}/c": page([]),
        f"https://{d}/d": page(["/a", "/e;params", "?q=1"]),
        f"https://{d}/e": page([]),
        f"https://{d}/blocked/but-ok1": page(["/f"]),
        f"https://{d}/f": page([]),
        f"https://sub.{d}/s1": page(["t1", "/s3"]),
        f"https://sub.{d}/s2": page([]),
        f"https://sub.{d}/s3": page([]),
        f"https://sub.{d}/t1": page([]),
    }
    return d, pages, 1


def site_priority():
    """budget=1 + depth priority: /z2 (depth 1, deferred) must be fetched
    BEFORE the lexicographically smaller /a2 (depth 2) — differentiates real
    priority-queue scheduling from the constant-priority lex degenerate."""
    d = "example.com"
    pages = {
        f"https://{d}": page(["/z1", "/z2"]),
        f"https://{d}/z1": page(["/a2", "/z3"]),
        f"https://{d}/z2": page(["/a2"]),  # a2 reachable at depths 2 and 3 → keeps 2
        f"https://{d}/a2": page([]),
        f"https://{d}/z3": page([]),
    }
    return d, pages, 1, [f"https://{d}"], True


def site_astral():
    """Astral-plane (non-BMP) URLs under budget=1: code-point order puts
    /pz < /p￿ < /p\U0001f600 — UTF-16 code-unit order would schedule the
    emoji URL before U+FFFF. Exercises crawler.py:94's code-point sort
    through scheduling, trace, and links.txt."""
    d = "example.com"
    emo = "\U0001F600"
    ff = "￿"
    pages = {
        f"https://{d}": page([f"/p{emo}", f"/p{ff}", "/pz", f"/q{emo}x"]),
        f"https://{d}/p{emo}": page(["/deep"]),
        f"https://{d}/p{ff}": page([]),
        f"https://{d}/pz": page([f"/r{emo}{ff}"]),
        f"https://{d}/q{emo}x": page([]),
        f"https://{d}/deep": page([]),
        f"https://{d}/r{emo}{ff}": page([]),
    }
    return d, pages, 1


def make_fuzz_site(seed, lo=14, hi=22):
    """Seeded-random site: random graph over 3 in-domain hosts + quirk hosts,
    messy href spellings (relative, protocol-relative, ;params, fragments,
    entity-encoded queries, empty href, mailto noise), random budget /
    robots / depth-priority / seed count. Every href form is validated by
    urljoin+clean against its intended target so the graph is well-defined;
    some anchors use NBSP attribute separators (Python-\\s tag whitespace),
    exercising the engine's exotic-whitespace tokenizer dialect in-crawl.
    """
    import random
    r = random.Random(seed)
    d = "example.com"
    hosts = [d, f"sub.{d}", f"h2.{d}"]
    quirks = ["evilexample.com/super",       # superstring host → IN domain
              "other.org/ext",               # off-domain
              f"{d}:8443/port"]              # port → endswith fails
    n = r.randint(lo, hi)
    targets = []
    for i in range(n):
        h = r.choice(hosts)
        kind = r.random()
        if kind < 0.3:
            path = f"/p{i}"
        elif kind < 0.5:
            path = f"/dir{i % 3}/p{i}"
        elif kind < 0.7:
            path = f"/q{i}?a=1&b={i}"
        else:
            path = f"/p{i} sp"              # space kept verbatim in path
        targets.append(f"https://{h}{path}")
    dead = [f"https://{d}/dead{i}" for i in range(2)]

    def clean(u):
        p = urlparse(u)
        c = f"{p.scheme}://{p.netloc}{p.path}"
        return c + (f"?{p.query}" if p.query else "")

    def spell(page_url, target):
        """A random href string that cleans to `target` from `page_url`."""
        p = urlparse(target)
        cands = [target,
                 "//" + p.netloc + p.path + (f"?{p.query}" if p.query else ""),
                 target + "#frag%d" % r.randint(0, 9)]
        if urlparse(page_url).netloc == p.netloc:
            rel = p.path + (f"?{p.query}" if p.query else "")
            cands += [rel, rel + "#f"]
            if "?" not in rel and " " not in rel:
                cands.append(rel + ";param")   # ;params stripped by clean
        if p.query:
            cands.append(target.replace("&", "&amp;"))  # entity-decoded attr
        href = r.choice(cands)
        return href if clean(urljoin(page_url, href)) == target else target

    pages = {}
    for t in targets:
        out = r.sample(targets, k=min(len(targets), r.randint(0, 5)))
        hrefs = [spell(t, o) for o in out]
        if r.random() < 0.25:
            hrefs.append(r.choice(dead))
        if r.random() < 0.3:
            hrefs.append("https://" + r.choice(quirks))
        if r.random() < 0.2:
            hrefs.append(r.choice(["mailto:a@b.c", "javascript:void(0)", ""]))
        r.shuffle(hrefs)
        # some anchors use NBSP/em-space as the attr separator (Python \s)
        sep_anchors = "".join(
            f'<a\u00a0href="{h}"\u2003id="x">l</a>' if r.random() < 0.3
            else f'<a href="{h}">l</a>' for h in hrefs)
        pages[t] = (f'<html><head><meta charset="utf-8"></head>'
                    f"<body>{sep_anchors}</body></html>").encode("utf-8")
    # seeds: root always exists; maybe a second-island seed
    pages[f"https://{d}"] = page([spell(f"https://{d}", t)
                                  for t in r.sample(targets, k=min(4, len(targets)))])
    seeds = [f"https://{d}"]
    if r.random() < 0.5:
        seeds.append(r.choice([t for t in targets if " " not in t]))
    if r.random() < 0.6:
        prefixes = sorted({urlparse(t).path[:r.randint(2, 6)]
                           for t in r.sample(targets, k=3)})
        lines = ["User-agent: *"]
        for pref in prefixes:
            lines.append(("Allow: " if r.random() < 0.3 else "Disallow: ") + pref)
        if r.random() < 0.4:  # crawl-delay → per-host budget tightening
            # pool includes nan (no cap: nan > 0 is False), inf (cap 1), and
            # long-decimal delays where floor(window/d) of the ROUNDED double
            # quotient differs from Python's fmod-corrected floordiv
            # (60.0 // 6.666666666666667 == 8.0, not 9.0)
            lines.append("Crawl-delay: " + r.choice(
                ["1", "12.5", "30", "45", "60", "90", "0", "-2", "abc",
                 "nan", "inf", "6.666666666666667", "3.1578947368421053"]))
        pages[f"https://{r.choice(hosts)}/robots.txt"] = "\n".join(lines).encode()
    budget = r.choice([None, 1, 2, 3])
    depth_priority = budget is not None and r.random() < 0.5
    return d, pages, budget, seeds, depth_priority


def write_scenario(sdir, domain, pages, budget, seeds, depth_priority):
    visited, links, epochs = crawl(pages, domain, budget, seeds, depth_priority)
    os.makedirs(sdir, exist_ok=True)
    with open(os.path.join(sdir, "pages.tsv"), "w") as f:
        for url in sorted(pages):
            f.write(url + "\t" +
                    base64.b64encode(pages[url]).decode("ascii") + "\n")
    with open(os.path.join(sdir, "config.json"), "w") as f:
        json.dump({"domain": domain, "budget": budget,
                   "seed_url": f"https://{domain}", "seeds": seeds,
                   "depth_priority": depth_priority}, f)
    with open(os.path.join(sdir, "trace.txt"), "w", encoding="utf-8") as f:
        for u in visited:
            f.write(u + "\n")
    with open(os.path.join(sdir, "visited.txt"), "w", encoding="utf-8") as f:
        for u in sorted(visited):
            f.write(u + "\n")
    with open(os.path.join(sdir, "links.txt"), "w", encoding="utf-8") as f:
        for u in links:  # bit-exact save_links format (crawler.py:93-97)
            f.write(f"{u}\n")
    with open(os.path.join(sdir, "frontier_epochs.txt"), "w", encoding="utf-8") as f:
        for i, ep in enumerate(epochs):
            for u in ep:
                f.write(f"{i}\t{u}\n")
    return visited, links, epochs


def soak(n, seed0, outdir, lo=14, hi=22):
    """Uncommitted bulk scenarios for graft.tools.SoakCheck: N random sites
    under outdir/<seed>/ — same format as the committed fixtures. lo/hi set
    the page-count range (bigger graphs → deeper BFS, more deferral epochs).
    """
    for s in range(seed0, seed0 + n):
        domain, pages, budget, seeds, dp = make_fuzz_site(s, lo=lo, hi=hi)
        v, l, e = write_scenario(os.path.join(outdir, f"soak{s}"),
                                 domain, pages, budget, seeds, dp)
        print(f"soak{s}: {len(v)} visited, {len(l)} links, {len(e)} epochs, "
              f"budget={budget} dp={dp} seeds={len(seeds)}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--soak":
        extra = [int(x) for x in sys.argv[5:7]]
        soak(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4], *extra)
        return
    scenarios = {
        "basic": site_basic,
        "quirks": site_quirks,
        "budget2": site_budget,
        "robots": site_robots,
        "delay": site_delay,
        "delayfloor": site_delayfloor,
        "combo": site_combo,
        "multiseed": site_multiseed,
        "priority": site_priority,
        "astral": site_astral,
    }
    for i, seed in enumerate([1001, 1002, 1003, 1004], start=1):
        scenarios[f"fuzz{i}"] = (lambda s: (lambda: make_fuzz_site(s)))(seed)
    # two larger graphs: deeper BFS under small budgets, more epochs
    scenarios["fuzz5"] = lambda: make_fuzz_site(1005, lo=40, hi=60)
    scenarios["fuzz6"] = lambda: make_fuzz_site(1006, lo=55, hi=80)
    for name, builder in scenarios.items():
        out_tuple = builder()
        depth_priority = False
        if len(out_tuple) == 5:
            domain, pages, budget, seeds, depth_priority = out_tuple
        elif len(out_tuple) == 4:
            domain, pages, budget, seeds = out_tuple
        else:
            domain, pages, budget = out_tuple
            seeds = [f"https://{domain}"]
        visited, links, epochs = write_scenario(
            os.path.join(OUT, name), domain, pages, budget, seeds,
            depth_priority)
        print(f"{name}: {len(visited)} visited, {len(links)} links, {len(epochs)} epochs")


if __name__ == "__main__":
    main()
