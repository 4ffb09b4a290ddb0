"""Seeded input generators. Every workload's inputs are made here from
the seed alone and written as files; the program under test receives
only those files. Each generator returns the plain-Python record the
output checks replay, plus a summary (sizes, planted rates, mix, and a
digest of the written files)."""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import CONFIG, digest, file_digest

ETL_BASE = datetime(2024, 3, 1)
# HTTP status the fixture transport returns per outcome; -1 makes
# make_fixture_transport raise TimeoutError.
OUTCOME_STATUS = {"success": 200, "not_found": 404, "server_error": 503, "timeout": -1,
                  "too_large": 200}
TOO_LARGE_BODY = "x " * 500_001  # just over the 1 MB content cap

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "sha", "do", "gri",
              "an", "el", "or", "us", "ba", "ce", "fu", "hy"]


def _words(n_words: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    out, seen = [], set()
    while len(out) < n_words:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _write_jsonl(path: str, rows) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")


# -- etl_daily -----------------------------------------------------------


def run_ts(day: int) -> datetime:
    return ETL_BASE + timedelta(days=day, hours=23)


def gen_etl(seed: int, out: str, days: int | None = None,
            messages_per_day: int | None = None) -> dict:
    """A Telegram channel history fed one day at a time. Day ``d``'s
    scrape artifact holds that day's new messages plus a re-scrape of
    part of the previous day's (views updated), so the message upsert
    sees real conflicts. Links recur across days; each link has a fixed
    fetch outcome drawn from the configured mix."""
    cfg = CONFIG["etl"]
    days = days or cfg["days"]
    per_day = messages_per_day or cfg["messages_per_day"]
    rng = random.Random(seed)
    vocab = _words(400, seed)
    outcomes_names = list(cfg["outcome_mix"])
    weights = [cfg["outcome_mix"][k] for k in outcomes_names]
    os.makedirs(os.path.join(out, "raw"), exist_ok=True)

    links: list[str] = []
    outcome: dict[str, str] = {}
    body: dict[str, str] = {}
    success_links: list[str] = []
    feed: list[list[dict]] = []
    next_id = 1
    prev: list[dict] = []
    for d in range(days):
        rows = []
        for _ in range(per_day):
            date = ETL_BASE + timedelta(days=d, seconds=rng.randrange(0, 23 * 3600))
            words = " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 16)))
            text = words
            if rng.random() < cfg["link_share"]:
                if links and rng.random() < cfg["recurring_link_share"]:
                    # recent-biased recurrence
                    url = links[-1 - min(int(rng.expovariate(1 / 60)), len(links) - 1)]
                else:
                    url = (f"https://telegra.ph/{rng.choice(vocab).title()}-{len(links):05d}"
                           f"-{date.month:02d}-{date.day:02d}")
                    links.append(url)
                    kind = rng.choices(outcomes_names, weights)[0]
                    outcome[url] = kind
                    if kind == "success":
                        if success_links and rng.random() < cfg["duplicate_body_share"]:
                            body[url] = body[rng.choice(success_links)]
                        else:
                            n = len(success_links)
                            body[url] = (
                                f"<html><head><title>Post {n} – Telegraph</title>"
                                f'<meta property="twitter:description" content="about {n}">'
                                f'<meta property="article:published_time" '
                                f'content="{date:%Y-%m-%d}T08:00:00+0000"></head><body>'
                                f'<header class="tl_article_header"><h1>Post {n}</h1></header>'
                                f"<p>{' '.join(rng.choice(vocab) for _ in range(rng.randint(30, 120)))}</p>"
                                "</body></html>"
                            )
                        success_links.append(url)
                text = f"{words} {url}{rng.choice(['', ',', '.', ''])} #{rng.choice(vocab)}"
            rows.append({
                "message_id": next_id,
                "date": date.strftime("%Y-%m-%d %H:%M:%S"),
                "text": text,
                "views": rng.randint(1, 5000),
                "forwards": rng.randint(0, 50),
            })
            next_id += 1
        replay = rng.sample(prev, int(cfg["replay_share"] * len(prev)))
        rows += [dict(r, views=r["views"] + rng.randint(1, 300)) for r in replay]
        prev = rows[:per_day]
        feed.append(rows)
        _write_jsonl(os.path.join(out, "raw", f"day-{d:03d}.json"), rows)

    with open(os.path.join(out, "responses.jsonl"), "w", encoding="utf-8") as f:
        for url in links:
            kind = outcome[url]
            f.write(json.dumps({"url": url, "status": OUTCOME_STATUS[kind],
                                "body": body.get(url), "too_large": kind == "too_large"}) + "\n")
    files = [os.path.join(out, "raw", n) for n in os.listdir(os.path.join(out, "raw"))]
    files.append(os.path.join(out, "responses.jsonl"))
    mix = {k: sum(1 for v in outcome.values() if v == k) for k in outcomes_names}
    return {
        "feed": feed,
        "outcome": outcome,
        "body": body,
        "summary": {
            "days": days,
            "messages": next_id - 1,
            "feed_rows": sum(len(r) for r in feed),
            "links": len(links),
            "fetch_mix": mix,
            "duplicate_bodies": len(success_links) - len(set(body.values())),
            "digest": file_digest(files),
        },
    }


def load_responses(out: str) -> dict:
    """url -> (status, body) for ``make_fixture_transport``; every
    too-large entry shares one body object so the pickled transport
    carries it once."""
    responses = {}
    with open(os.path.join(out, "responses.jsonl"), encoding="utf-8") as f:
        for line in f:
            r = json.loads(line)
            b = TOO_LARGE_BODY if r["too_large"] else (r["body"] or "")
            responses[r["url"]] = (r["status"], b)
    return responses


# -- dedup_corpus ----------------------------------------------------------


def _near_dup_clusters(rng: np.random.Generator, n: int, rate: float, sizes) -> list[list[int]]:
    """Partition ``rate * n`` ids into clusters of 2..k members
    (every member but the first is a planted copy of the first)."""
    ids = rng.permutation(n)
    clusters, i, budget = [], 0, int(rate * n)
    planted = 0
    while planted < budget and i + sizes[1] <= n:
        size = int(rng.integers(sizes[0], sizes[1] + 1))
        clusters.append([int(x) for x in ids[i:i + size]])
        planted += size - 1
        i += size
    return clusters


def gen_documents(seed: int, n: int, out_path: str, cfg: dict) -> dict:
    rng = np.random.default_rng(seed)
    vocab = np.array(_words(cfg["vocab"], seed + 7))
    # Zipf-like token frequencies, as in natural text
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    p /= p.sum()
    lo, hi = cfg["doc_tokens"]
    toks = [rng.choice(len(vocab), size=int(rng.integers(lo, hi + 1)), p=p) for _ in range(n)]
    clusters = _near_dup_clusters(rng, n, cfg["near_dup_doc_rate"], cfg["cluster_size"])
    for c in clusters:
        base = toks[c[0]]
        for m in c[1:]:
            t = base.copy()
            k = max(1, int(round(cfg["doc_edit_share"] * len(t))))
            t[rng.choice(len(t), size=k, replace=False)] = rng.choice(len(vocab), size=k, p=p)
            toks[m] = t
    text = [" ".join(vocab[t]) for t in toks]
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    pq.write_table(table, out_path)
    return {"text": text, "clusters": clusters}


def gen_embeddings(seed: int, n: int, out_path: str, cfg: dict) -> dict:
    rng = np.random.default_rng(seed + 1)
    dim = cfg["dim"]
    vec = rng.standard_normal((n, dim))
    clusters = _near_dup_clusters(rng, n, cfg["near_dup_vec_rate"], cfg["cluster_size"])
    for c in clusters:
        for m in c[1:]:
            vec[m] = vec[c[0]] + cfg["vec_noise"] * rng.standard_normal(dim)
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, cfg["labels"], n).astype(np.int32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(table, out_path)
    return {"vec": vec, "labels": labels, "clusters": clusters}


def gen_dedup(seed: int, out: str, docs: int | None = None, vectors: int | None = None) -> dict:
    cfg = CONFIG["dedup"]
    os.makedirs(out, exist_ok=True)
    d = gen_documents(seed, docs or cfg["docs"], os.path.join(out, "documents.parquet"), cfg)
    e = gen_embeddings(seed, vectors or cfg["vectors"], os.path.join(out, "embeddings.parquet"), cfg)
    n_docs, n_vecs = len(d["text"]), len(e["vec"])
    return {
        "docs": d,
        "vecs": e,
        "summary": {
            "documents": n_docs,
            "vectors": n_vecs,
            "dim": cfg["dim"],
            "planted_doc_copies": sum(len(c) - 1 for c in d["clusters"]),
            "planted_vec_copies": sum(len(c) - 1 for c in e["clusters"]),
            "near_dup_doc_rate": cfg["near_dup_doc_rate"],
            "near_dup_vec_rate": cfg["near_dup_vec_rate"],
            "digest": file_digest([os.path.join(out, f) for f in
                                   ("documents.parquet", "embeddings.parquet")]),
        },
    }


# -- catalog (TPC-H-like star schema + events + LLM-data tables) -----------


def gen_catalog(seed: int, out: str, scale: float) -> dict:
    """The catalog's ten tables at scale factor ``scale`` (0.1 gives
    600k lineitem rows), with the column names, types and value
    domains of the catalog's fixture tables."""
    cfg = CONFIG["dedup"]
    rng = np.random.default_rng(seed + 2)
    os.makedirs(out, exist_ok=True)
    n_cust, n_ord, n_part, n_supp = (int(15000 * scale / 0.1), int(150000 * scale / 0.1),
                                     int(20000 * scale / 0.1), int(1000 * scale / 0.1))
    n_cust, n_ord, n_part, n_supp = max(n_cust, 50), max(n_ord, 200), max(n_part, 50), max(n_supp, 10)
    n_events, n_users = max(int(100000 * scale / 0.1), 300), max(int(1500 * scale / 0.1), 20)
    epoch = np.datetime64("1995-01-01")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    write("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    write("customer", {"c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                       "c_acctbal": money(-999.99, 9999.99, n_cust),
                       "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist()})
    write("supplier", {"s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                       "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
    types = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    write("part", {"p_partkey": pa.array(pk, pa.int64()),
                   "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                                         noun[rng.integers(0, 8, n_part)])],
                   "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                   "p_type": types[rng.integers(0, 6, n_part)].tolist(),
                   "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                   "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)})
    odate = epoch + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    write("orders", {"o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                     "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                     "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)].tolist(),
                     "o_totalprice": money(1000, 500000, n_ord),
                     "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
                     "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                  "5-LOW"])[rng.integers(0, 5, n_ord)].tolist()})
    n_li = n_ord * 4
    lok = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = odate[lok] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    write("lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n_events).astype("timedelta64[us]"))
    write("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(["signup", "purchase", "view", "click", "error"])[
            rng.integers(0, 5, n_events)].tolist(),
        "value": np.round(rng.exponential(50, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    n_docs, n_vecs = max(int(5000 * scale / 0.1), 100), max(int(2000 * scale / 0.1), 100)
    gen_documents(seed + 3, n_docs, os.path.join(out, "documents.parquet"), cfg)
    gen_embeddings(seed + 3, n_vecs, os.path.join(out, "embeddings.parquet"), cfg)
    files = [os.path.join(out, f) for f in os.listdir(out)]
    return {"summary": {"scale": scale, "lineitem": n_li, "orders": n_ord, "documents": n_docs,
                        "vectors": n_vecs, "digest": file_digest(files)}}


# -- stream_ingest -----------------------------------------------------------


def gen_stream(seed: int, n_files: int) -> dict:
    """The file schedule for the open-loop generator: file ``i`` is due
    at ``i * file_interval_s`` and carries message upserts (keyed,
    partitioned by ``part``, ordered by ``seq``) and documents for the
    near-dup index. One file is delivered twice in a row on purpose."""
    cfg = CONFIG["stream"]
    dcfg = CONFIG["dedup"]
    rng = random.Random(seed + 4)
    nrng = np.random.default_rng(seed + 4)
    vocab = np.array(_words(dcfg["vocab"], seed + 5))
    files = []
    seq, doc_id = 0, 0
    texts: dict[int, str] = {}
    planted: list[tuple[int, int]] = []
    for i in range(n_files):
        msgs = []
        for _ in range(cfg["rows_per_file"]):
            seq += 1
            key = rng.randrange(cfg["key_space"])
            msgs.append({"id": key, "part": key % cfg["partitions"], "seq": seq,
                         "payload": f"p{seq}"})
        docs = []
        for _ in range(cfg["docs_per_file"]):
            if texts and rng.random() < dcfg["near_dup_doc_rate"]:
                src = rng.choice(list(texts)[-200:])
                text = texts[src]  # exact re-post: always detectable
                planted.append((src, doc_id))
            else:
                text = " ".join(vocab[nrng.integers(0, len(vocab), rng.randint(20, 60))])
            texts[doc_id] = text
            docs.append({"doc_id": doc_id, "text": text})
            doc_id += 1
        files.append({"msgs": msgs, "docs": docs})
    # file ``replay`` is delivered twice in a row: the at-least-once
    # re-delivery the idempotent sinks are built for
    schedule = list(range(n_files))
    replay = min(cfg["replay_file"], n_files - 1)
    schedule.insert(replay + 1, replay)
    return {"files": files, "schedule": schedule, "texts": texts, "planted": planted,
            "summary": {"files": n_files, "deliveries": len(schedule),
                        "replayed_file": replay, "rows_per_file": cfg["rows_per_file"],
                        "docs_per_file": cfg["docs_per_file"],
                        "planted_exact_reposts": len(planted),
                        "digest": digest([json.dumps(files, sort_keys=True),
                                          json.dumps(schedule)])}}
