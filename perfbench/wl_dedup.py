"""dedup_corpus: the LLM-data dedup ladder on a seeded corpus with
planted near-duplicate clusters, each tier once per pass, read-only.

Text tiers run on shared scans (one persisted token table and one
hashed shingle table feed SimHash, n-gram Jaccard, MinHash-LSH and
prefix Jaccard). Vector tiers run as the registered catalog queries
(semantic_dedup, semantic_dedup_2l, hard_negatives, knn_join) on the
corpus directory. Each tier is timed as construction + collect; its
output is checked afterwards in NumPy/Python: exact tiers must return
exactly the pairs at or over the threshold, approximate tiers a subset
of them with recall on the planted pairs at or above a floor."""

from __future__ import annotations

import hashlib
import os
import time
from collections import defaultdict
from itertools import combinations

import numpy as np

import gen
from common import CONFIG, median, settle, span
from tracing import fit_cost_model, op_metric, verify_yield

TEXT_TIERS = ["token_scan", "shingle_scan", "simhash", "jaccard", "minhash", "prefix"]
VECTOR_TIERS = ["semantic_dedup", "semantic_dedup_2l", "hard_negatives", "knn_join"]
SEMANTIC_THRESHOLD = 0.4  # the registered queries' threshold
KNN_QUERIES, KNN_K = 5, 5  # the registered knn_join: 5 lowest ids, k=5
HARDNEG_K = 3


def shingle_set(text: str, n: int = 3) -> frozenset:
    toks = [t.lower() for t in text.split()]
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def simhash(text: str) -> int:
    sums = [0] * 60
    for tok in (t.lower() for t in text.split()):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        for b in range(60):
            sums[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(60) if sums[b] > 0)


def jaccard_truth(texts: list[str], threshold: float) -> dict:
    """Every pair with shingle-set Jaccard >= threshold, via an inverted
    index (exact: a pair with J > 0 shares a shingle)."""
    sets = [shingle_set(t) for t in texts]
    index = defaultdict(list)
    for i, s in enumerate(sets):
        for sh in s:
            index[sh].append(i)
    common = defaultdict(int)
    for ids in index.values():
        if 1 < len(ids) <= 500:
            for a, b in combinations(ids, 2):
                common[(a, b)] += 1
        elif len(ids) > 500:  # boilerplate shingle: count it pairwise below
            raise ValueError("corpus has a shingle shared by >500 documents")
    out = {}
    for (a, b), c in common.items():
        j = c / (len(sets[a]) + len(sets[b]) - c)
        if j >= threshold:
            out[(a, b)] = j
    return out


class DedupCorpus:
    name = "dedup_corpus"
    census_prefix = "dedup"

    def prepare(self, ctx) -> dict:
        self.cfg = CONFIG["dedup"]
        self.corpus = os.path.join(ctx.work, "corpus")
        self.log = gen.gen_dedup(ctx.seed, self.corpus)
        self.warm = os.path.join(ctx.work, "warm_corpus")
        gen.gen_dedup(ctx.seed + 1000, self.warm, docs=self.cfg["warmup_docs"],
                      vectors=self.cfg["warmup_vectors"])
        return self.log["summary"]

    def _pass(self, ctx, corpus: str, keep: bool, tiers=None) -> list:
        from pasta_pipeline_spark.operators.text_dedup import (
            _shingle_table, jaccard_pairs, minhash_lsh_pairs, prefix_jaccard_pairs,
            simhash_pairs, token_table)
        from pasta_pipeline_spark.operators.util import release_cached_deps
        from pasta_pipeline_spark.queries.catalog import REGISTRY

        spark, th = ctx.spark, self.cfg["jaccard_threshold"]
        docs = spark.read.parquet(os.path.join(corpus, "documents.parquet"))
        ops = []

        def run(name, make, scan=False):
            if tiers is not None and name not in tiers:
                return None
            settle(spark)
            layer = "queries.catalog" if name in VECTOR_TIERS else "bench"
            with span(ctx, f"{layer}.{name}", layer):
                return timed(name, make, scan)

        def timed(name, make, scan):
            t0 = time.perf_counter()
            df = make()
            t1 = time.perf_counter()
            if scan:
                df.write.format("noop").mode("overwrite").save()
                rows = None
            else:
                rows = df.collect()
                release_cached_deps(df)
            t2 = time.perf_counter()
            ops.append({"op": name, "kind": "vector" if name in VECTOR_TIERS else "text",
                        "s": t2 - t0, "construct_s": t1 - t0, "action_s": t2 - t1,
                        "rows": [tuple(r) for r in rows] if keep and rows is not None else None})
            return df

        toks = run("token_scan", lambda: token_table(docs, "doc_id", "text").persist(), scan=True)
        sh = run("shingle_scan",
                 lambda: _shingle_table(docs, "doc_id", "text", 3, token_frame=toks).persist(),
                 scan=True)
        run("simhash", lambda: simhash_pairs(docs, "doc_id", "text", max_hamming=3, token_frame=toks))
        run("jaccard", lambda: jaccard_pairs(docs, "doc_id", "text", n=3, threshold=th,
                                             shingle_table=sh))
        run("minhash", lambda: minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_hashes=64,
                                                 bands=16, threshold=th, shingle_table=sh))
        run("prefix", lambda: prefix_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=th,
                                                   shingle_table=sh))
        for df in (sh, toks):
            if df is not None:
                df.unpersist()
        for q in VECTOR_TIERS:
            run(q, lambda q=q: REGISTRY[q].spark_fn(spark, corpus))
        return ops

    def warmup(self, ctx) -> None:
        """Only the shared scans, on a tiny corpus: the session's first
        jobs and Python workers start here. Each tier's own first-time
        cost stays in the measured pass, as it does for a dedup job run
        once per corpus."""
        self._pass(ctx, self.warm, keep=False, tiers=("token_scan", "shingle_scan"))

    def reset(self, ctx) -> None:
        pass  # read-only workload

    def measure(self, ctx, seconds: float, plan: list | None = None) -> dict:
        """Whole passes over every tier until ``seconds`` have passed
        (at least one; or as many passes as ``plan`` holds)."""
        n_plan = None if plan is None else len(plan) // (len(TEXT_TIERS) + len(VECTOR_TIERS))
        ops, passes, start = [], 0, time.perf_counter()
        while passes == 0 or (n_plan is None and time.perf_counter() - start < seconds) or (
                n_plan is not None and passes < n_plan):
            for o in self._pass(ctx, self.corpus, keep=passes == 0):
                o["pass"] = passes
                ops.append(o)
            passes += 1
        return {"ops": ops, "passes": passes}

    # -- output checks ---------------------------------------------------

    def check(self, ctx, p: dict) -> None:
        texts = self.log["docs"]["text"]
        vec = self.log["vecs"]["vec"].astype(np.float64)
        labels = self.log["vecs"]["labels"]
        th = self.cfg["jaccard_threshold"]
        truth = jaccard_truth(texts, th)
        planted = {(min(a, b), max(a, b)) for c in self.log["docs"]["clusters"]
                   for a, b in combinations(c, 2)}
        planted_ok = {pr for pr in planted if pr in truth}
        self.recall = {}
        first = {o["op"]: o for o in p["ops"] if o["pass"] == 0}
        for o in p["ops"]:
            o["ok"], o["detail"] = True, None
        for name, o in first.items():
            rows = o["rows"]
            if rows is None:
                continue
            err = None
            if name in ("jaccard", "prefix", "minhash"):
                got = {(a, b): j for a, b, j in rows}
                bad = [pr for pr, j in got.items() if pr not in truth or abs(truth[pr] - j) > 1e-9]
                if bad:
                    err = f"{len(bad)} emitted pairs fail J>={th}: {bad[:3]}"
                elif name != "minhash" and set(got) != set(truth):
                    err = f"missed {len(set(truth) - set(got))} pairs with J>={th}"
                self.recall[name] = len(planted_ok & set(got)) / max(len(planted_ok), 1)
                if err is None and name == "minhash" and self.recall[name] < self.cfg["text_recall_floor"]:
                    err = f"planted-pair recall {self.recall[name]:.3f} < {self.cfg['text_recall_floor']}"
            elif name == "simhash":
                sig = {}
                bad = []
                for a, b, h in rows:
                    for i in (a, b):
                        if i not in sig:
                            sig[i] = simhash(texts[i])
                    if bin(sig[a] ^ sig[b]).count("1") != h or h > 3:
                        bad.append((a, b, h))
                if bad:
                    err = f"{len(bad)} pairs fail hamming<=3 re-check: {bad[:3]}"
                self.recall[name] = len(planted_ok & {(a, b) for a, b, _ in rows}) / max(len(planted_ok), 1)
            elif name in ("semantic_dedup", "semantic_dedup_2l"):
                err = self._check_semantic(name, rows, vec)
            elif name == "hard_negatives":
                err = self._check_hardneg(rows, vec, labels)
            elif name == "knn_join":
                err = self._check_knn(rows, vec)
            if err:
                o["ok"], o["detail"] = False, err

    def _check_semantic(self, name, rows, vec) -> str | None:
        kept = dict(rows)
        if sorted(kept) != list(range(len(vec))):
            return "output ids differ from the corpus ids"
        sims = vec @ vec.T
        err = []
        for i, k in kept.items():
            if k == 0 and not (sims[i, :i] >= SEMANTIC_THRESHOLD - 1e-6).any():
                err.append(i)
        if err:
            return f"{len(err)} dropped ids have no smaller-id neighbour at cos>={SEMANTIC_THRESHOLD}: {err[:3]}"
        copies = [m for c in self.log["vecs"]["clusters"] for m in sorted(c)[1:]]
        recall = sum(1 for m in copies if kept[m] == 0) / max(len(copies), 1)
        self.recall[name] = recall
        if recall < self.cfg["semantic_recall_floor"]:
            return f"planted-copy recall {recall:.3f} < {self.cfg['semantic_recall_floor']}"
        return None

    def _check_hardneg(self, rows, vec, labels) -> str | None:
        by_anchor = defaultdict(list)
        for a, rnk, neg, neg_label, cos_sc in rows:
            if labels[neg] != neg_label or labels[a] == neg_label or a == neg:
                return f"anchor {a}: negative {neg} label {neg_label} invalid"
            true = np.floor(float(vec[a] @ vec[neg]) * 1e6)
            if abs(true - cos_sc) > 1:
                return f"anchor {a}: cos_sc {cos_sc} != {true}"
            by_anchor[a].append((rnk, cos_sc))
        for a, rs in by_anchor.items():
            rs.sort()
            if [r for r, _ in rs] != list(range(1, len(rs) + 1)) or len(rs) > HARDNEG_K or any(
                    rs[i][1] < rs[i + 1][1] for i in range(len(rs) - 1)):
                return f"anchor {a}: ranks not in cosine order: {rs}"
        return None

    def _check_knn(self, rows, vec) -> str | None:
        sims = vec[:KNN_QUERIES] @ vec.T
        for q in range(KNN_QUERIES):
            got = sorted((r for r in rows if r[0] == q), key=lambda r: (-r[2], r[1]))
            want = sorted(range(len(vec)), key=lambda j: (-sims[q, j], j))[:KNN_K]
            if [r[1] for r in got] != want or any(abs(r[2] - sims[q, r[1]]) > 1e-6 for r in got):
                return f"query {q}: neighbours {[r[1] for r in got]} != {want}"
        return None

    # -- metrics ------------------------------------------------------------

    def e2e(self, p: dict) -> dict:
        n_docs, n_vecs = self.log["summary"]["documents"], self.log["summary"]["vectors"]
        text = [sum(o["s"] for o in p["ops"] if o["pass"] == k and o["kind"] == "text")
                for k in range(p["passes"])]
        vect = [sum(o["s"] for o in p["ops"] if o["pass"] == k and o["kind"] == "vector")
                for k in range(p["passes"])]
        out = {
            "dedup.text_s": (median(text), "s", len(text)),
            "dedup.vec_s": (median(vect), "s", len(vect)),
            "dedup.text_docs_per_s": (n_docs / median(text), "docs/s", len(text)),
            "dedup.vec_per_s": (n_vecs / median(vect), "vectors/s", len(vect)),
        }
        for name, r in sorted(getattr(self, "recall", {}).items()):
            out[f"dedup.{name}.planted_recall"] = (r, "ratio", 1)
        return out

    # -- traced run -----------------------------------------------------------

    def instrument(self, tracer) -> None:
        from pasta_pipeline_spark.operators import negatives, similarity, text_dedup

        for a in ("token_table", "_shingle_table", "simhash_pairs", "jaccard_pairs",
                  "minhash_lsh_pairs", "prefix_jaccard_pairs"):
            tracer.wrap(text_dedup, a, "operators.text_dedup")
        for a in ("semantic_dedup", "semantic_dedup_clustered", "knn_join"):
            tracer.wrap(similarity, a, "operators.similarity")
        tracer.wrap(negatives, "hard_negative_mining", "operators.negatives")

    def layers(self, p: dict, tracer) -> dict:
        per = {o["op"]: o["s"] for o in p["ops"] if o["pass"] == 0}
        rows = {o["op"]: o["rows"] for o in p["ops"] if o["pass"] == 0}
        ops = [o for s in tracer.spans for o in (s.ops or [])]
        catalog = [o for o in p["ops"] if o["op"] in VECTOR_TIERS]
        model, self.model_detail = fit_cost_model(tracer, [
            (f"{'queries.catalog' if o['op'] in VECTOR_TIERS else 'bench'}.{o['op']}", o["s"])
            for o in p["ops"]])
        catalog_q = {f"catalog.q.{q}_s": median([o["s"] for o in catalog if o["op"] == q])
                     for q in VECTOR_TIERS}
        python_bytes = (op_metric(ops, "", "data sent to Python workers")
                        + op_metric(ops, "", "data returned from Python workers"))
        return {
            "dedup.token_s": per.get("token_scan", 0.0),
            "dedup.shingle_s": per.get("shingle_scan", 0.0),
            "dedup.simhash_s": per.get("simhash", 0.0),
            "dedup.jaccard_s": per.get("jaccard", 0.0),
            "dedup.minhash_s": per.get("minhash", 0.0),
            "dedup.prefix_s": per.get("prefix", 0.0),
            "dedup.minhash.verify_yield": verify_yield(
                len(rows["minhash"]), tracer.ops_of("operators.text_dedup.minhash_lsh_pairs")),
            "dedup.semantic_s": per.get("semantic_dedup", 0.0),
            "dedup.semantic_2l_s": per.get("semantic_dedup_2l", 0.0),
            "dedup.hardneg_s": per.get("hard_negatives", 0.0),
            "dedup.knn_s": per.get("knn_join", 0.0),
            "dedup.semantic.verify_yield": verify_yield(
                sum(1 for _, k in rows["semantic_dedup"] if k == 0),
                tracer.ops_of("operators.similarity.semantic_dedup"),
                skip_rows=len(rows["semantic_dedup"])),
            "dedup.hardneg.verify_yield": verify_yield(
                len(rows["hard_negatives"]), tracer.ops_of("operators.negatives.hard_negative_mining")),
            "dedup.python_bytes": python_bytes,
            "catalog.construct_s": sum(o["construct_s"] for o in catalog),
            "catalog.action_s": sum(o["action_s"] for o in catalog),
            **catalog_q,
            **model,
        }
