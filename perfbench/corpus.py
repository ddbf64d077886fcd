"""Seeded input generators for the three benchmark workloads.

Everything here is pure Python and derives from ``(workload, seed)``
through one ``random.Random``: the seed changes host names, page ids and
link order, never the workload's shape (host count, Zipf split, page
sizes, rule set).  Each generator returns a :class:`Corpus` holding the
page rows, the rule storage and what the checks need (seed URLs, the
crawl budget, or per-page expected outputs for ``extract_mixed``).

Pages are written as parquet with pyarrow only, so generating inputs
never touches Spark and stays out of every timed or set-up figure.
"""

from __future__ import annotations

import json
import random
import re
import string
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, List, Optional, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from uniparser_spark.testgen import BASE_EPOCH, build_storage, detail_html, detail_url, host_name, list_url, zipf_counts

# Input sizes per workload; ``smoke`` shrinks every workload to seconds.
SIZES = {
    "crawl_bulk": {"full": {"hosts": 32, "details": 4000}, "smoke": {"hosts": 2, "details": 12}},
    "crawl_polite": {"full": {"hosts": 6, "details": 320}, "smoke": {"hosts": 2, "details": 16}},
    "extract_mixed": {"full": {"pages": 1000}, "smoke": {"pages": 40}},
}
BULK_LIST_SIZE = 200  # links per bulk list page, as testgen's default
POLITE_LIST_SIZE = 20  # links per polite list page (~1.3 KB; details ~0.6 KB)
POLITE_SIBLINGS = 6  # sibling links per polite detail page
POLITE_ROUNDS = 3  # budget = hot host's pages / this; the crawl takes one round more

_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
).split()


@dataclass
class Corpus:
    workload: str
    seed: int
    pages: List[Tuple[str, str]]  # (url, body) in generation order
    storage: Dict[str, dict]
    seeds: List[str] = field(default_factory=list)
    budget: Optional[int] = None
    # extract_mixed: url -> (rule_name, expected result dict | None,
    # expected error kind | None)
    expected: Dict[str, tuple] = field(default_factory=dict)
    raw_html: Dict[str, bytes] = field(default_factory=dict)  # non-UTF-8 bodies

    @property
    def storage_json(self) -> str:
        return json.dumps(self.storage)

    def body_bytes(self, url: str, body: str) -> bytes:
        return self.raw_html.get(url) or body.encode("utf-8")


def host_names(rng: random.Random, n: int) -> List[str]:
    token = "".join(rng.choice(string.ascii_lowercase) for _ in range(5))
    tld = rng.choice(["example.org", "example.net", "example.com"])
    return [f"{token}{i:02d}.{tld}" for i in range(n)]


def page_ids(rng: random.Random, n: int) -> List[int]:
    return sorted(rng.sample(range(10**6), n))


def _rule(name: str, regex: str, host: str, parse_rules: list, callback: Optional[str] = None) -> dict:
    rule = {
        "name": name,
        "request_args": {"method": "get", "url": f"https://{host}/"},
        "parse_rules": [
            {"name": n, "chain_rules": chain, "child_rules": []} for n, chain in parse_rules
        ],
        "regex": regex,
    }
    if callback:
        rule["input_callback"] = callback
    return rule


def _absolutize(host: str) -> list:
    return ["re", "^/?", f"@https://{host}/"]


def _list_regex(host: str) -> str:
    return f"^https://{re.escape(host)}/(list-\\d+/)?$"


def _item_regex(host: str) -> str:
    return f"^https://{re.escape(host)}/item-\\d+/$"


# -------------------------------------------------------------- crawl_bulk


def crawl_bulk(seed: int, size: str = "full") -> Corpus:
    """testgen's corpus under seeded host names, page ids and link
    order: Zipf-sized hosts whose paginated list pages link ~20 KB
    detail pages, testgen's list/detail rules.  Unbounded budget: the
    list pages, then the details, then a round that finds the frontier
    empty; no politeness ranking."""
    cfg = SIZES["crawl_bulk"][size]
    rng = random.Random(f"crawl_bulk:{seed}")
    hosts = host_names(rng, cfg["hosts"])
    generic = build_storage(len(hosts))
    pages, seeds, storage = [], [], {}
    for i, (host, cnt) in enumerate(zip(hosts, zipf_counts(len(hosts), cfg["details"]))):
        ids = page_ids(rng, cnt)
        rng.shuffle(ids)  # link order differs from id order
        for p in range(max(1, -(-cnt // BULK_LIST_SIZE))):
            chunk = ids[p * BULK_LIST_SIZE : (p + 1) * BULK_LIST_SIZE]
            # testgen.list_html's markup, over seeded ids in shuffled order
            rows = "\n".join(
                f'<tr><td>{k}</td><td>meta</td><td><a class="pep" href="/item-{k:06d}/">Item {k}</a></td></tr>'
                for k in chunk
            )
            url = list_url(host, p)
            seeds.append(url)
            pages.append((url, f"<html><head><title>Index of {host}</title></head>\n<body>\n<table>\n{rows}\n</table>\n</body></html>"))
        pages.extend((detail_url(host, k), detail_html(host, k)) for k in ids)
        # testgen's rules for host i, moved to the seeded host name
        storage[host] = json.loads(json.dumps(generic[host_name(i)]).replace(host_name(i), host))
    return Corpus("crawl_bulk", seed, pages, storage, seeds=seeds, budget=10**9)


# ------------------------------------------------------------ crawl_polite


def crawl_polite(seed: int, size: str = "full") -> Corpus:
    """Small link-dense pages: each detail links to several siblings and
    back to its list page, so most discovered links are already seen or
    pending.  The binding per-host budget stretches the hot host over
    ``POLITE_ROUNDS`` + 1 rounds."""
    cfg = SIZES["crawl_polite"][size]
    rng = random.Random(f"crawl_polite:{seed}")
    hosts = host_names(rng, cfg["hosts"])
    counts = zipf_counts(len(hosts), cfg["details"])
    pages, seeds, storage = [], [], {}
    for host, cnt in zip(hosts, counts):
        ids = page_ids(rng, cnt)
        rng.shuffle(ids)
        n_lists = max(1, -(-cnt // POLITE_LIST_SIZE))
        for p in range(n_lists):
            chunk = ids[p * POLITE_LIST_SIZE : (p + 1) * POLITE_LIST_SIZE]
            links = "\n".join(f'<li><a class="item" href="/item-{k:06d}/">Item {k}</a></li>' for k in chunk)
            url = list_url(host, p)
            seeds.append(url)
            pages.append((url, f"<html><body><h1>Index {p} of {host}</h1>\n<ul>\n{links}\n</ul>\n</body></html>"))
        for pos, k in enumerate(ids):
            sibs = rng.sample(ids, min(POLITE_SIBLINGS, cnt))
            home = list_url(host, pos // POLITE_LIST_SIZE)[len(f"https://{host}") :]
            links = [f'<a class="rel" href="/item-{s:06d}/">Item {s}</a>' for s in sibs]
            links.insert(rng.randrange(len(links) + 1), f'<a class="rel" href="{home}">Back</a>')
            body = (
                f"<html><head><title>Item {k}</title></head><body>\n"
                f'<h1 class="t">Item {k} on {host}</h1>\n'
                f"<p>Short page {k} with a few words: {' '.join(rng.sample(_WORDS, 8))}.</p>\n"
                f'<div class="rel">\n{chr(10).join(links)}\n</div>\n</body></html>'
            )
            pages.append((f"https://{host}/item-{k:06d}/", body))
        storage[host] = {
            "host": host,
            "crawler_rules": {
                "list": _rule("list", _list_regex(host), host, [
                    ("__request__", [["css", "a.item", "@href"], _absolutize(host)]),
                ], callback="html"),
                "detail": _rule("detail", _item_regex(host), host, [
                    ("title", [["css", "h1.t", "$text"], ["python", "getitem", "[0]"]]),
                    ("__request__", [["css", "div.rel a", "@href"], _absolutize(host)]),
                ], callback="html"),
            },
        }
    hot = counts[0] + max(1, -(-counts[0] // POLITE_LIST_SIZE))
    budget = max(2, -(-hot // POLITE_ROUNDS))
    return Corpus("crawl_polite", seed, pages, storage, seeds=seeds, budget=budget)


# ----------------------------------------------------------- extract_mixed

# share of pages per kind (the remainder is malformed)
_MIX = (("dom_shared", 0.35), ("dom_plain", 0.15), ("regex", 0.25), ("json", 0.20))


def _dom_fields(host: str) -> list:
    return [
        ("title", [["css", "h1.page-title", "$text"], ["python", "getitem", "[0]"]]),
        ("ts", [["css1", "span.ts", "$text"]]),
        ("keys", [["xpath", "//table[@class='meta-table']//th", "$text"]]),
        ("values", [["xpath", "//table[@class='meta-table']//td/text()", ""]]),
        ("nav", [["css", "ul.nav a", "@href"], _absolutize(host)]),
        ("lead", [["css", "p.para", "$text"], ["python", "getitem", "[0]"]]),
    ]


def _dom_expected(host: str, k: int, html: str) -> dict:
    lead = re.search(r'<p class="para" id="p0">(.*?)</p>', html).group(1)
    return {
        "title": f"Item {k} \u2013 synthetic page on {host}",
        "ts": str(BASE_EPOCH + k),
        "keys": [f"key{j}" for j in range(20)],
        "values": [f"value-{(k + j) % 97}" for j in range(20)],
        "nav": [f"https://{host}/section-{j}/" for j in range(24)],
        "lead": re.sub(r"<[^>]+>", "", lead),
    }


def _regex_page(rng: random.Random, k: int) -> Tuple[str, dict]:
    orders = [str(rng.randrange(10**5, 10**6)) for _ in range(40)]
    skus = ["".join(rng.choice(string.ascii_uppercase + string.digits) for _ in range(6)) for _ in range(40)]
    total = f"{rng.randrange(100, 99999) / 100:.2f}"
    lines = [
        f"line {i}: Order #{o} shipped, SKU-{s} x{i % 7 + 1}; {' '.join(_WORDS[i % 20 : i % 20 + 4])}"
        for i, (o, s) in enumerate(zip(orders, skus))
    ]
    lines.insert(len(lines) // 2, f"invoice {k} total: {total} EUR")
    body = "<pre>\n" + "\n".join(lines * 3) + "\n</pre>"
    return body, {"orders": orders * 3, "total": total, "skus": skus * 3}


def _json_page(rng: random.Random, k: int) -> dict:
    return {
        "kind": "item",
        "id": k,
        "name": " ".join(rng.sample(_WORDS, 3)),
        "price": rng.randrange(100, 99999) / 100,
        "tags": [{"name": w, "weight": rng.randrange(100)} for w in rng.sample(_WORDS, 6)],
        "specs": {f"spec{j}": "".join(rng.sample(string.ascii_lowercase, 10)) for j in range(40)},
    }


def extract_mixed(seed: int, size: str = "full") -> Corpus:
    """One host per page kind: multi-field CSS+XPath rules on testgen's
    ~20 KB detail pages with and without input_callback DOM sharing, regex-only text
    pages, JSON pages (loader json -> jmespath with an ``__object__``
    rebinding and a ``__schema__`` check) and malformed pages whose
    expected output is an error value."""
    n = SIZES["extract_mixed"][size]["pages"]
    rng = random.Random(f"extract_mixed:{seed}")
    hosts = dict(zip(("dom_shared", "dom_plain", "regex", "json", "norule"), host_names(rng, 5)))
    storage = {}
    for kind in ("dom_shared", "dom_plain"):
        host = hosts[kind]
        storage[host] = {"host": host, "crawler_rules": {"article": _rule(
            "article", _item_regex(host), host, _dom_fields(host),
            callback="html" if kind == "dom_shared" else None)}}
    storage[hosts["regex"]] = {"host": hosts["regex"], "crawler_rules": {"invoice": _rule(
        "invoice", _item_regex(hosts["regex"]), hosts["regex"], [
            ("orders", [["re", r"Order #(\d+)", "$1"]]),
            ("total", [["re", r"total: ([0-9.]+)", "#1"]]),
            ("skus", [["re", r"SKU-([A-Z0-9]{6})", "$1"]]),
        ])}}
    storage[hosts["json"]] = {"host": hosts["json"], "crawler_rules": {"item": _rule(
        "item", _item_regex(hosts["json"]), hosts["json"], [
            ("__object__", [["loader", "json", ""]]),
            ("__schema__", [["jmespath", "kind == 'item'", ""]]),
            ("id", [["jmespath", "id", ""]]),
            ("price", [["jmespath", "price", ""]]),
            ("tags", [["jmespath", "tags[].name", ""]]),
        ])}}

    corpus = Corpus("extract_mixed", seed, [], storage)
    kinds = []
    for kind, share in _MIX:
        kinds += [kind] * int(n * share)
    n_bad = n - len(kinds)
    kinds += [("bad_json", "bad_utf8", "norule")[i % 3] for i in range(n_bad)]
    rng.shuffle(kinds)
    for k, kind in zip(page_ids(rng, n), kinds):
        host = hosts[{"bad_json": "json", "bad_utf8": "dom_shared"}.get(kind, kind)]
        url = f"https://{host}/item-{k:06d}/"
        if kind in ("dom_shared", "dom_plain"):
            body = detail_html(host, k)
            expected = ("article", {"article": _dom_expected(host, k, body)}, None)
        elif kind == "regex":
            body, fields = _regex_page(rng, k)
            expected = ("invoice", {"invoice": fields}, None)
        elif kind == "json":
            obj = _json_page(rng, k)
            body = json.dumps(obj)
            expected = ("item", {"item": {
                "__object__": obj, "__schema__": True, "id": obj["id"], "price": obj["price"],
                "tags": [t["name"] for t in obj["tags"]],
            }}, None)
        elif kind == "bad_json":
            body = json.dumps(_json_page(rng, k))[: 200]
            expected = ("item", None, "InvalidSchemaError")
        elif kind == "bad_utf8":
            body = detail_html(host, k)
            cut = rng.randrange(100, len(body) - 100)
            corpus.raw_html[url] = body[:cut].encode() + b"\xff\xfe" + body[cut:].encode()
            expected = (None, None, "DecodeError")
        else:  # norule: a host without any rule
            body, expected = "<html><body>orphan</body></html>", (None, None, "RuleNotFoundError")
        corpus.pages.append((url, body))
        corpus.expected[url] = expected
    return corpus


GENERATORS = {"crawl_bulk": crawl_bulk, "crawl_polite": crawl_polite, "extract_mixed": extract_mixed}


def write_pages(corpus: Corpus, path: Path, n_files: int) -> int:
    """Write the page table as ``n_files`` parquet files of equal row
    count; returns the body bytes written.  Crawl tables are sorted by
    url (the sort order a production page table carries, which lets the
    seed round's In filter prune row groups) and carry a ``text``
    column; the extraction table spreads every host evenly over the
    files and carries the binary ``html`` column with ``text`` null, so
    every page goes through the decode path."""
    path.mkdir(parents=True, exist_ok=True)
    crawl = corpus.workload != "extract_mixed"
    rows = sorted(corpus.pages)
    per = -(-len(rows) // n_files)
    total = 0
    for i in range(n_files):
        # crawl tables: contiguous url ranges; the extraction table:
        # every n-th row, so each file holds the same mix of page kinds
        # (hosts) whatever the seed
        chunk = rows[i * per : (i + 1) * per] if crawl else rows[i::n_files]
        if not chunk:
            break
        urls = [u for u, _ in chunk]
        if crawl:
            bodies = [b for _, b in chunk]
            table = pa.table({"url": urls, "text": bodies})
            total += sum(len(b.encode()) for b in bodies)
        else:
            raw = [corpus.body_bytes(u, b) for u, b in chunk]
            table = pa.table({
                "url": urls,
                "html": pa.array(raw, pa.binary()),
                "text": pa.nulls(len(chunk), pa.string()),
            })
            total += sum(len(b) for b in raw)
        pq.write_table(table, path / f"part-{i:03d}.parquet", row_group_size=64)
    return total
