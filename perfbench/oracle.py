"""Expected outputs and output checks, computed without Spark.

Crawls: ``crawl.simulator.simulate_crawl`` walks the same generated
pages with one shared seen set.  From it come the per-URL records (the
memoized result of each page, without the attached ``__result__``
children), the seen set, the nested results per seed, and the links
that :func:`expected_rounds` replays through a pure-Python model of the
round loop (per-host budget, scheduling order, first discovery wins)
to give the round in which each URL must be crawled.
"""

from __future__ import annotations

import json
import os
import pickle
import sys
import traceback
from collections import defaultdict
from typing import Dict, List, Optional, Tuple
from urllib.parse import urlparse

REQUEST_KEY, RESULT_KEY = "__request__", "__result__"


def canon(obj) -> str:
    return json.dumps(obj, sort_keys=True, default=repr)


def _links(requests) -> Optional[List[str]]:
    # the engine keeps truthy list entries and wraps a scalar
    if requests is None:
        return None
    if isinstance(requests, (list, tuple)):
        return [str(u) for u in requests if u]
    return [str(requests)]


_WALK: dict = {}  # storage and pages, handed to forked oracle workers


def _walk(url: str) -> Tuple[str, dict]:
    from uniparser_spark.crawl.simulator import simulate_crawl

    seen: dict = {}
    result = simulate_crawl(_WALK["storage"], _WALK["pages"], url, seen=seen, max_depth=len(_WALK["pages"]))
    return canon(result), seen


def _fork_map(fn, items: list, workers: int) -> list:
    """``[fn(x) for x in items]`` over ``workers`` forked children, each
    sending its share back pickled through a pipe.  Plain forks leave
    nothing outside the process tree (a multiprocessing pool would create
    semaphores under /dev/shm)."""
    children = []
    for k in range(workers):
        r, w = os.pipe()
        pid = os.fork()
        if pid == 0:
            os.close(r)
            code = 0
            try:
                with os.fdopen(w, "wb") as out:
                    pickle.dump([fn(x) for x in items[k::workers]], out)
            except BaseException:  # noqa: BLE001 - reported by the parent as missing data
                traceback.print_exc()
                code = 1
            os._exit(code)
        os.close(w)
        children.append((pid, r))
    shares = []
    for pid, r in children:
        with os.fdopen(r, "rb") as fh:
            shares.append(fh.read())
        os.waitpid(pid, 0)
    out = [None] * len(items)
    for k, data in enumerate(shares):
        out[k::workers] = pickle.loads(data)  # a failed child sent nothing: EOFError
    return out


def simulate(corpus) -> dict:
    from uniparser_spark.rules import JSONRuleStorage

    _WALK.update(storage=JSONRuleStorage(**corpus.storage), pages=dict(corpus.pages))
    # the engine has no depth limit: the walk may go as deep as the
    # link graph (one level per page at most)
    sys.setrecursionlimit(max(sys.getrecursionlimit(), 4 * len(corpus.pages) + 1000))
    nested, seen = {}, {}
    if corpus.workload == "crawl_bulk":
        # list pages link each detail once, so the walks from different
        # seeds share no page and can run apart, one per core; only a
        # tree serializes in linear time
        walks = _fork_map(_walk, corpus.seeds, len(os.sched_getaffinity(0)))
        for url, (result, walked) in zip(corpus.seeds, walks):
            nested[url] = result
            seen.update(walked)
    else:
        from uniparser_spark.crawl.simulator import simulate_crawl

        for url in corpus.seeds:
            simulate_crawl(_WALK["storage"], _WALK["pages"], url, seen=seen, max_depth=len(corpus.pages))
    _WALK.clear()
    records = {}
    for url, result in seen.items():
        (name, payload), = result.items()
        raw = {name: {k: v for k, v in payload.items() if k != RESULT_KEY}}
        records[url] = [name, canon(raw), _links(payload.get(REQUEST_KEY))]
    return {"nested": nested, "records": records}


def expected_crawl(corpus) -> dict:
    """Simulated crawl plus the expected round of every URL."""
    out = simulate(corpus)
    links = {u: rec[2] for u, rec in out["records"].items()}
    out["rounds"] = expected_rounds(corpus.seeds, links, corpus.budget)
    return out


def expected_rounds(seeds: List[str], links: Dict[str, Optional[List[str]]], budget: int) -> Dict[str, int]:
    """Round of each URL under the engine's documented scheduling:
    per host at most ``budget`` URLs a round in order (priority desc,
    depth, discovered round, parent url, list index, url); candidates of
    a round keep their first discovery by (depth, parent, list index)
    and are dropped when already seen or still pending."""
    # entry: (neg_priority, depth, discovered_round, parent, list_index, url)
    pending = [(0.0, 0, 0, "", i, u) for i, u in enumerate(dict.fromkeys(seeds))]
    seen: Dict[str, int] = {}
    rnd = 0
    while pending:
        by_host: Dict[str, list] = defaultdict(list)
        for e in pending:
            by_host[urlparse(e[5]).netloc].append(e)
        scheduled, deferred = [], []
        for entries in by_host.values():
            entries.sort()
            scheduled += entries[:budget]
            deferred += entries[budget:]
        for e in scheduled:
            seen[e[5]] = rnd
        found: Dict[str, Tuple[int, str, int]] = {}
        for e in scheduled:
            for i, child in enumerate(links.get(e[5]) or []):
                key = (e[1] + 1, e[5], i)
                if child not in found or key < found[child]:
                    found[child] = key
        waiting = {e[5] for e in deferred}
        pending = deferred + [
            (0.0, d, rnd + 1, parent, i, u)
            for u, (d, parent, i) in found.items()
            if u not in seen and u not in waiting
        ]
        rnd += 1
    return seen


def check_crawl(eng, corpus, expected: dict) -> Tuple[int, List[str]]:
    """Compare a finished crawl with the oracle: every record (rule,
    result, no error), the round it was crawled in, the seen set, and
    for tree-shaped link graphs the nested results per seed.  Returns
    (pages attempted, failing URLs)."""
    want = expected["records"]
    rows = eng.records().select("url", "rule_name", "result", "error", "round").collect()
    bad = set()
    got = {}
    for r in rows:
        if r["url"] in got:
            bad.add(r["url"])  # crawled twice
        got[r["url"]] = r
    bad.update(set(got) ^ set(want))
    for url in set(got) & set(want):
        r, (name, result, _) = got[url], want[url]
        if (
            r["error"] is not None
            or r["rule_name"] != name
            or r["result"] is None
            or canon(json.loads(r["result"])) != result
            or r["round"] != expected["rounds"].get(url)
        ):
            bad.add(url)
    seen = {r["url_canon"] for r in eng.seen().select("url_canon").collect()}
    bad.update(seen ^ set(want))
    if corpus.workload == "crawl_bulk":
        # list pages link each detail once: the nested results are a tree
        for url, result in zip(corpus.seeds, eng.assemble_results(corpus.seeds)):
            if canon(result) != expected["nested"].get(url):
                bad.add(url)
    return len(want), sorted(bad)


def check_extract(rows, corpus) -> Tuple[int, List[str]]:
    """Compare extraction rows (url, rule_name, result, error) with the
    generator's expected value or error kind for each page."""
    bad, got = set(), {}
    for r in rows:
        if r["url"] in got:
            bad.add(r["url"])
        got[r["url"]] = r
    bad.update(set(got) ^ set(corpus.expected))
    for url in set(got) & set(corpus.expected):
        r, (name, result, error_kind) = got[url], corpus.expected[url]
        if r["rule_name"] != name:
            bad.add(url)
        elif error_kind is None:
            if r["error"] is not None or r["result"] is None or json.loads(r["result"]) != result:
                bad.add(url)
        elif r["result"] is not None or (r["error"] or "").split(":")[0] != error_kind:
            bad.add(url)
    return len(corpus.expected), sorted(bad)


