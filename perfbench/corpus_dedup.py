"""corpus_dedup: the LLM-data dedup and similarity operators over a seeded
corpus with planted duplicates.

A job is one pass over the corpus, each step forced by an action:
``exact_dedup`` → ``minhash_candidate_pairs`` → ``ngram_jaccard_prefix_pairs``
→ ``cdc_chunk_stats`` → ``connected_components`` on the prefix-join pair
graph → ``kmeans_centroids`` + ``kmeans_ivf_topk`` over seeded embeddings.
It is execution-bound and builds no pipeline and no rules.

The corpus has several languages, each with its own synthetic vocabulary,
so unrelated documents share (almost) no word 3-shingles. A seeded share
of documents gets byte-identical copies and another share gets a variant
with one word replaced: those families are the ground truth for every
check (exact groups, near-duplicate pairs, components).
"""

from __future__ import annotations

import os
import random

from perfbench.harness import sha

LANGS = ("en", "fr", "sw", "ha")
N_BASE = 450
EXACT_SHARE = 0.08
NEAR_SHARE = 0.10
VOCAB = 4000
N_VECTORS = 2000
DIM = 16
N_CENTERS = 8
QUERY_EVERY = 50
NGRAM_TAU = 0.5
MINHASH_TAU = 0.6
MINHASH_MIN_RECALL = 0.85

_SYLLABLES = {
    "en": ["th", "er", "an", "in", "st", "ou", "ea", "ng", "or", "al", "ic", "ow"],
    "fr": ["le", "de", "ou", "en", "qu", "eu", "ai", "on", "re", "es", "oi", "an"],
    "sw": ["ma", "ki", "wa", "ni", "ku", "ta", "za", "mu", "ya", "ha", "li", "pa"],
    "ha": ["da", "ka", "ba", "sa", "gi", "yi", "ra", "tsa", "wu", "na", "ce", "fa"],
}


def shingles(text: str, n: int = 3) -> set[str]:
    """Python twin of ``operators.dedup.word_shingles``."""
    words = text.lower().strip(" ").split()
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def components(pairs) -> dict[int, int]:
    """Union-find over pairs: node → smallest id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class Workload:
    name = "corpus_dedup"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.pairs_seen = 0

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = random.Random(self.ctx.seed)
        vocab = {}
        for lang, syl in _SYLLABLES.items():
            words: set[str] = set()
            while len(words) < VOCAB:
                words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
            vocab[lang] = sorted(words)

        docs: list[tuple[str, str]] = []  # (text, lang); family members adjacent
        families: list[list[int]] = []
        near: list[tuple[int, int]] = []
        for _ in range(N_BASE):
            lang = rng.choice(LANGS)
            words = [rng.choice(vocab[lang]) for _ in range(rng.randint(30, 60))]
            text = " ".join(words)
            base = len(docs)
            docs.append((text, lang))
            r = rng.random()
            if r < EXACT_SHARE:
                for _ in range(rng.randint(1, 2)):
                    docs.append((text, lang))
                families.append(list(range(base, len(docs))))
            elif r < EXACT_SHARE + NEAR_SHARE:
                i = rng.randrange(len(words))
                edited = list(words)
                edited[i] = rng.choice([w for w in vocab[lang][:50] if w != words[i]])
                docs.append((" ".join(edited), lang))
                near.append((base, len(docs) - 1))
        # shuffle ids so family members are not neighbours in the scan
        order = list(range(len(docs)))
        rng.shuffle(order)
        doc_id = {pos: i for i, pos in enumerate(order)}
        texts = [None] * len(docs)
        langs = [None] * len(docs)
        for pos, (text, lang) in enumerate(docs):
            texts[doc_id[pos]], langs[doc_id[pos]] = text, lang
        self.n_docs = len(docs)

        # ground truth
        self.exact_groups = {
            min(doc_id[p] for p in fam): len(fam) for fam in families
        }
        truth = set()
        for fam in families:
            ids = sorted(doc_id[p] for p in fam)
            truth |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]}
        self.near_j = {}
        for a, b in near:
            ia, ib = sorted((doc_id[a], doc_id[b]))
            self.near_j[(ia, ib)] = jaccard(texts[ia], texts[ib])
        self.truth_ngram = truth | {p for p, j in self.near_j.items() if j >= NGRAM_TAU}
        self.truth_minhash = truth | {p for p, j in self.near_j.items() if j >= MINHASH_TAU}
        self.truth_cc = components(self.truth_ngram)
        self.bytes_total = sum(len(t) for t in texts)
        self.bytes_distinct = sum(len(t) for t in set(texts))

        os.makedirs(os.path.join(self.ctx.work, "input"), exist_ok=True)
        self.corpus_path = os.path.join(self.ctx.work, "input", "corpus.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(len(texts)), pa.int64()),
                    "text": texts,
                    "lang": langs,
                }
            ),
            self.corpus_path,
        )
        # clustered vectors; every query (id % QUERY_EVERY == 0) gets a
        # planted near-twin, which must come back as its nearest neighbour
        # (the search excludes the query itself)
        nrng = np.random.default_rng(self.ctx.seed)
        centers = nrng.normal(0, 4, (N_CENTERS, DIM))
        vecs = centers[nrng.integers(0, N_CENTERS, N_VECTORS)] + nrng.normal(0, 1, (N_VECTORS, DIM))
        queries = np.arange(0, N_VECTORS, QUERY_EVERY)
        twins = vecs[queries] + nrng.normal(0, 1e-3, (len(queries), DIM))
        twin_ids = N_VECTORS + 1 + QUERY_EVERY * np.arange(len(queries))
        self.twin_of = dict(zip(queries.tolist(), twin_ids.tolist()))
        self.emb_path = os.path.join(self.ctx.work, "input", "embeddings.parquet")
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(list(range(N_VECTORS)) + twin_ids.tolist(), pa.int64()),
                    "embedding": pa.array(np.vstack([vecs, twins]).tolist(), pa.list_(pa.float64())),
                }
            ),
            self.emb_path,
        )

    def install_trace(self) -> None:
        from hiv_data_integration_spark.operators import dedup, similarity

        t = self.tracer
        for fn in (
            "exact_dedup",
            "minhash_candidate_pairs",
            "ngram_jaccard_prefix_pairs",
            "cdc_chunk_stats",
            "connected_components",
        ):
            t.wrap(dedup, fn, f"operators.dedup.{fn}.build")
        t.wrap(similarity, "kmeans_centroids", "operators.similarity.kmeans")
        t.wrap(similarity, "kmeans_ivf_topk", "operators.similarity.topk.build")

    # -- one job -----------------------------------------------------------
    def run_job(self, job: int) -> dict:
        from pyspark.sql import functions as F

        from hiv_data_integration_spark.operators import dedup, similarity
        from hiv_data_integration_spark.operators.textops import fingerprint

        spark, span, n = self.spark, self.tracer.span, self.ctx.cores
        corpus = spark.read.parquet(self.corpus_path)
        out: dict = {}
        with span("operators.dedup.exact_dedup"):
            out["exact"] = dedup.exact_dedup(corpus, fingerprint(F.col("text")), "doc_id").collect()
        with span("operators.dedup.minhash_candidate_pairs"):
            out["minhash"] = dedup.minhash_candidate_pairs(
                corpus, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
                jaccard_threshold=MINHASH_TAU, partitions=n,
            ).collect()
        with span("operators.dedup.ngram_jaccard_prefix_pairs"):
            out["ngram"] = dedup.ngram_jaccard_prefix_pairs(
                corpus, "doc_id", "text", shingle_n=3, jaccard_threshold=NGRAM_TAU,
                block_cols=["lang"], partitions=n,
            ).collect()
        with span("operators.dedup.cdc_chunk_stats"):
            out["cdc"] = dedup.cdc_chunk_stats(corpus, window=8, divisor=64).collect()
        with span("operators.dedup.connected_components"):
            edges = spark.createDataFrame(
                [(r["id_a"], r["id_b"]) for r in out["ngram"]], "id_a long, id_b long"
            )
            out["cc"] = dedup.connected_components(edges).collect()
        emb = spark.read.parquet(self.emb_path)
        centroids = similarity.kmeans_centroids(emb, n_clusters=N_CENTERS, iters=3)
        with span("operators.similarity.topk"):
            queries = emb.filter(F.col("vec_id") % QUERY_EVERY == 0)
            out["topk"] = similarity.kmeans_ivf_topk(
                queries, emb, centroids, k=3, nprobe=2
            ).collect()
        return out

    def check(self, job: int, out: dict) -> list[str]:
        errors = []
        exact = out["exact"]
        groups = {r["canonical_id"]: r["n_copies"] for r in exact if r["n_copies"] > 1}
        if groups != self.exact_groups or sum(r["n_copies"] for r in exact) != self.n_docs:
            errors.append(f"exact groups: {len(groups)} vs {len(self.exact_groups)} planted")
        got = {(r["id_a"], r["id_b"]) for r in out["ngram"]}
        if got != self.truth_ngram:
            errors.append(
                f"prefix pairs: {len(got - self.truth_ngram)} unexpected, "
                f"{len(self.truth_ngram - got)} missing"
            )
        got = {(r["id_a"], r["id_b"]) for r in out["minhash"]}
        recall = len(got & self.truth_minhash) / len(self.truth_minhash)
        if got - self.truth_minhash or recall < MINHASH_MIN_RECALL:
            errors.append(f"minhash pairs: {len(got - self.truth_minhash)} unexpected, recall {recall:.3f}")
        (cdc,) = out["cdc"]
        if cdc["bytes_total"] != self.bytes_total or not (
            cdc["n_distinct_chunks"] <= cdc["n_chunks"] and cdc["bytes_stored"] <= self.bytes_distinct
        ):
            errors.append(f"cdc stats {cdc.asDict()} (text bytes {self.bytes_total})")
        cc = {r["id"]: r["component"] for r in out["cc"]}
        if cc != self.truth_cc:
            errors.append(f"components: {len(set(cc.items()) ^ set(self.truth_cc.items()))} differ")
        by_query: dict[int, list] = {}
        for r in out["topk"]:
            by_query.setdefault(r["query_id"], []).append(r)
        if set(by_query) != set(self.twin_of) or any(
            len(rs) != 3 or min(rs, key=lambda r: r["rank"])["neighbor_id"] != self.twin_of[q]
            for q, rs in by_query.items()
        ):
            errors.append("top-k: a query is missing, short, or its twin is not rank 1")
        self.pairs_seen += len(out["ngram"])
        return errors

    def digest(self, out: dict) -> str:
        return sha(
            f"{key}:{sorted(tuple(r) for r in rows)}" for key, rows in sorted(out.items())
        )

    def input_digest(self) -> str:
        chunks = []
        for path in (self.corpus_path, self.emb_path):
            with open(path, "rb") as fh:
                chunks.append(fh.read())
        return sha(chunks)

    def input_rows(self, job: int) -> int:
        return self.n_docs

    def sizes(self) -> dict:
        return {
            "documents": self.n_docs,
            "languages": len(LANGS),
            "exact_groups": len(self.exact_groups),
            "near_pairs": len(self.near_j),
            "text_bytes": self.bytes_total,
            "vectors": N_VECTORS,
            "dim": DIM,
        }

    def layer_metrics(self, n_jobs: int) -> dict:
        return {"operators.dedup.pairs": self.pairs_seen / n_jobs}
