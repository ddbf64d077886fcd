"""Layer replays for the traced run.

Each replay times calls into one layer's public functions on the
workload's own inputs: single-core DOM build, chain execution on a
pre-built DOM or object, ``parse_one`` (L0), an identity
``mapInPandas`` over the same columns (L1), ``extract_pages`` into a
noop sink (L2), and for crawls ``schedule_batch`` and the seen-set
anti-join and Bloom filter replayed on the run's own state snapshots.
"""

from __future__ import annotations

import time
from pathlib import Path
from typing import Callable, Dict, List, Sequence

RECORDS_SCHEMA = "url string, depth int, requests array<string>"
SAMPLE = 256  # pages the single-core replays cycle through, evenly spaced


def _rate(fn: Callable[[object], object], items: Sequence, seconds: float) -> float:
    """Items per second of ``fn`` over ``items``, repeating whole
    passes until ``seconds`` have passed (at least one pass)."""
    done, t0 = 0, time.perf_counter()
    while True:
        for item in items:
            fn(item)
        done += len(items)
        wall = time.perf_counter() - t0
        if wall >= seconds:
            return done / wall


def python_layers(corpus, seconds: float) -> Dict[str, float]:
    """dom / chains / parse_one rates, single core, in this process, on
    an evenly spaced sample of the workload's pages."""
    from uniparser_spark.chains import apply_input_callback, run_crawler_rule
    from uniparser_spark.dom import parse_html
    from uniparser_spark.engine.extract import compile_ruleset, parse_one

    ruleset = compile_ruleset(corpus.storage_json)
    pages = [(u, b) for u, b in corpus.pages if u not in corpus.raw_html]
    pages = pages[:: max(1, len(pages) // SAMPLE)]
    dom_pages = [b for u, b in pages if (r := ruleset.find(u)) is not None and _has_dom_step(r)]
    ruled = []
    for url, body in pages:
        rule = ruleset.find(url)
        if rule is not None:
            context = {"request_args": {"method": "get", "url": url}, "url": url}
            ruled.append((apply_input_callback(body, context, rule.get("input_callback")), rule, url))

    def chain(item):
        obj, rule, url = item
        try:
            run_crawler_rule(obj, rule, context={"request_args": {"method": "get", "url": url}, "url": url})
        except Exception:  # noqa: BLE001 - a failed page is an error value, as in parse_one
            pass

    return {
        "dom.parse_html_pages_per_s": _rate(parse_html, dom_pages, seconds),
        "chains.rule_pages_per_s": _rate(chain, ruled, seconds),
        "extract.parse_one_pages_per_s": _rate(lambda p: parse_one(ruleset, p[0], p[1]), pages, seconds),
    }


def _has_dom_step(rule) -> bool:
    dom_ops = {"css", "css1", "xpath", "se", "se1", "selectolax", "selectolax1"}
    return any(step[0] in dom_ops for pr in rule["parse_rules"] for step in pr["chain_rules"])


def spark_extract_layers(spark, pages, corpus, body_cols: List[str], group: Callable[[str], None]) -> Dict[str, float]:
    """L1 identity mapInPandas and L2 extract_pages, each one pass into
    a noop sink over the whole page table."""
    from uniparser_spark.engine.extract import extract_pages

    cols = pages.select("url", *body_cols)
    n = len(corpus.pages)

    def identity(batches):
        yield from batches

    def timed(name: str, df) -> float:
        group(f"replay:{name}:0")
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        return n / (time.perf_counter() - t0)

    html_col = "html" if "html" in body_cols else None
    return {
        "extract.arrow_identity_pages_per_s": timed("L1", cols.mapInPandas(identity, schema=cols.schema)),
        "extract.udf_pages_per_s": timed("L2", extract_pages(cols, corpus.storage_json, html_col=html_col)),
    }


def frontier_layers(spark, state: Path, budget: int, group: Callable[[str], None]) -> Dict[str, float]:
    """schedule_batch over every frontier snapshot, the seen-set
    anti-join over every round's candidates, and the Bloom build and
    probe on the round with the most candidates."""
    from pyspark.sql import Observation, functions as F

    from uniparser_spark.crawl.engine import FRONTIER_SCHEMA, SEEN_SCHEMA
    from uniparser_spark.frontier.politeness import schedule_batch
    from uniparser_spark.frontier.seen import BloomSeenFilter, add_url_keys

    def run(df, name: str, **aggs) -> tuple:
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"), *[a.alias(k) for k, a in aggs.items()])
        group(name)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        got = obs.get
        return wall, int(got["n"]), {k: int(got[k] or 0) for k in aggs}

    rounds = sorted(int(p.name[1:]) for p in (state / "frontier").iterdir())
    sched_wall = sched_rows = sched_yes = 0
    for k in rounds:
        pending = spark.read.schema(FRONTIER_SCHEMA).parquet(str(state / "frontier" / f"r{k}"))
        wall, n, agg = run(schedule_batch(pending, default_budget=budget), f"replay:schedule:{k}",
                           yes=F.sum(F.col("scheduled").cast("int")))
        sched_wall, sched_rows, sched_yes = sched_wall + wall, sched_rows + n, sched_yes + agg["yes"]

    # the seen anti-join on every round's candidates; the Bloom filter,
    # which the engine only engages past 1M seen URLs, on the round with
    # the most candidates
    anti_wall = cand_rows = fresh_rows = 0
    biggest = (0, None, None)
    for k in sorted(int(p.name[1:]) for p in (state / "records").iterdir()):
        records = spark.read.schema(RECORDS_SCHEMA).parquet(str(state / "records" / f"r{k}"))
        exploded = records.filter(F.col("requests").isNotNull()).select(
            F.posexplode("requests").alias("list_index", "url"))
        candidates = add_url_keys(exploded).select("url_hash", "url_canon")
        seen = spark.read.schema(SEEN_SCHEMA).parquet(
            *[str(state / "seen" / f"r{j}") for j in range(k + 2) if (state / "seen" / f"r{j}").exists()])
        _, n_cand, _ = run(candidates, f"replay:candidates:{k}")
        if n_cand:
            wall, _, agg = run(candidates.join(seen.select("url_hash"), "url_hash", "left_anti"),
                               f"replay:antijoin:{k}", fresh=F.count(F.lit(1)))
            anti_wall, cand_rows, fresh_rows = anti_wall + wall, cand_rows + n_cand, fresh_rows + agg["fresh"]
            biggest = max(biggest, (n_cand, candidates, seen), key=lambda b: b[0])
    build_wall = probe_wall = passed = 0
    n_cand, candidates, seen = biggest
    if n_cand:
        bloom = BloomSeenFilter()
        group("replay:bloom_build")
        t0 = time.perf_counter()
        bits = bloom.build(seen).cache()
        bits.count()
        build_wall = time.perf_counter() - t0
        probe_wall, _, agg = run(bloom.probe(candidates, bits), "replay:bloom_probe",
                                 new=F.sum((~F.col("maybe_seen")).cast("int")))
        passed = agg["new"]
        bits.unpersist()
    return {
        "politeness.schedule_rows_per_s": sched_rows / sched_wall if sched_wall else 0.0,
        "politeness.scheduled_share": sched_yes / sched_rows if sched_rows else 0.0,
        "seen.antijoin_rows_per_s": cand_rows / anti_wall if anti_wall else 0.0,
        "seen.fresh_share": fresh_rows / cand_rows if cand_rows else 0.0,
        "seen.bloom_build_s": build_wall,
        "seen.bloom_filter_rows_per_s": n_cand / probe_wall if probe_wall else 0.0,
        "seen.bloom_pass_share": passed / n_cand if n_cand else 0.0,
    }
