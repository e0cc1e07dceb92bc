"""``curation``: LLM-data curation calls over seeded documents and embeddings.

Pipelines: ``normalize_text``, ``text_stats``, ``quality_filter``,
``dedup_exact``, ``dedup_clusters`` (MinHash-LSH pairs, then connected
components), ``winnow_pairs``, ``embedding_near_dup`` and
``semantic_dedup``; then probe
batches against indexes built at set-up (``ivf_topk_indexed``,
``bm25_topk_indexed``, ``dedup_against_index``).

Checks recompute each reported pair's exact Jaccard (character 5-grams
for MinHash, winnowing fingerprints for winnow) or cosine in numpy and
require it to meet the threshold; recall of the planted near-duplicates
is printed.
"""

from __future__ import annotations

import os
import re
import sys

import numpy as np
import pyarrow.parquet as pq

from perfbench.common import Op, Workload
from perfbench.inputs import VOCAB

MINHASH_T = 0.8
WINNOW_T = 0.5
COSINE_T = 0.95
PROBES = 2  # probe batches per index and round
IVF_K = 5


def _grams(text: str, n: int = 5) -> set:
    return {text[i:i + n] for i in range(max(len(text) - n + 1, 1))}


def _jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def _winnow(text: str, k: int = 8, window: int = 16, mod: int = 1_000_000_007) -> set:
    """Winnowing fingerprints as ``functions.text.winnowed_fingerprints``
    defines them: Rabin-Karp k-gram hashes, minimum of each window."""
    codes = np.array([ord(c) for c in text] or [0], dtype=np.int64)
    n_h = max(len(codes) - k + 1, 1)
    h = np.zeros(n_h, dtype=np.int64)
    for j in range(min(k, len(codes))):
        h = (h * 31 + codes[j:j + n_h]) % mod
    w = min(window, n_h)
    n_w = max(n_h - window + 1, 1)
    return {int(h[i:i + w].min()) for i in range(n_w)}


def _fp_text(text: str) -> str:
    """What ``functions.text.fingerprint`` hashes: trimmed, lower-cased,
    whitespace-collapsed text."""
    return re.sub(r"\s+", " ", text.strip(" ").lower())


def _norm_text(text: str) -> str:
    """``normalize_text`` with its defaults."""
    t = re.sub(r"[^a-z0-9A-Z\s]", " ", text.lower(), flags=re.ASCII)
    return re.sub(r"\s+", " ", t).strip(" ")


class Curation(Workload):
    name = "curation"
    round_s = 5.0

    def register(self) -> None:
        P, spark = self.P, self.spark
        self.docs = P.load_table(spark, "documents", self.inp.root)
        self.emb = P.load_table(spark, "embeddings", self.inp.root)
        self.docs.schema, self.emb.schema  # resolve the footers once
        self.n_docs = self.inp.tables["documents"]["rows"]
        self.n_vecs = self.inp.tables["embeddings"]["rows"]
        self.idx = os.path.join(self.dir, "indexes")
        r = self.rng
        self.queries = [sorted(r.sample(VOCAB[2:], 3)) for _ in range(PROBES)]
        self.residues = r.sample(range(97), PROBES)
        self._py = None

    def build(self) -> None:
        P, docs = self.P, self.docs
        cut = self.inp.params["doc_offset"] + int(self.n_docs * 0.6)
        P.build_ivf_index(self.emb, os.path.join(self.idx, "ivf"), n_clusters=16)
        P.build_text_index(docs, os.path.join(self.idx, "bm25"))
        P.build_dedup_index(docs.filter(docs.doc_id < cut), os.path.join(self.idx, "digests"))

    # -- numpy-side truth ---------------------------------------------------

    def py(self) -> dict:
        if self._py is None:
            d = pq.read_table(os.path.join(self.inp.root, "documents.parquet"),
                              columns=["doc_id", "text"])
            e = pq.read_table(os.path.join(self.inp.root, "embeddings.parquet"),
                              columns=["vec_id", "embedding"])
            vecs = np.array(e.column("embedding").to_pylist(), dtype=np.float64)
            vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
            texts = dict(zip(d.column("doc_id").to_pylist(), d.column("text").to_pylist()))
            self._py = {
                "text": texts,
                "vec": dict(zip(e.column("vec_id").to_pylist(), vecs)),
                "grams": {},
                "winnow": {},
            }
        return self._py

    def _gram(self, doc_id):
        g = self.py()["grams"]
        if doc_id not in g:
            g[doc_id] = _grams(self.py()["text"][doc_id])
        return g[doc_id]

    def _cos(self, a, b) -> float:
        v = self.py()["vec"]
        return float(v[a] @ v[b])

    # -- helpers ------------------------------------------------------------

    def _load(self, name: str):
        with self.runner.span("sources.load_table", "sources"):
            return self.P.load_table(self.spark, name, self.inp.root)

    def _call(self, name: str, fn, *args, **kw):
        with self.runner.span(f"functions.{name}", "functions"):
            return fn(*args, **kw)

    def _collect(self, df):
        with self.runner.span("spark.collect", "spark"):
            return [tuple(r) for r in df.collect()]

    def _observe_lsh(self, holder: dict):
        def observe():
            stats = getattr(holder.get("df"), "bucket_stats", None)
            if stats is not None:
                s = stats.get()
                self.runner.count("functions.lsh_buckets", s["total_buckets"])
            self.runner.count("functions.lsh_verified", holder.get("n", 0))
            from pyarrow_ops_spark.functions import dedup

            cc = getattr(dedup.connected_components, "last_stats", None)
            if holder.get("cc") and cc:
                self.runner.count("functions.cc_rounds", cc.get("iterations", 0))
        return observe

    # -- ops ----------------------------------------------------------------

    def round_ops(self) -> list[Op]:
        nd, nv = self.n_docs, self.n_vecs
        cl, wn, en, sd = {"cc": True}, {}, {}, {"cc": True}
        ops = [
            Op("normalize_text", nd, self.normalize, self.normalize_oracle),
            Op("text_stats", nd, self.text_stats, self.text_stats_oracle),
            Op("quality_filter", nd, self.quality, self.quality_oracle),
            Op("dedup_exact", nd, self.dedup_exact, self.dedup_exact_oracle),
            Op("dedup_clusters", nd, lambda: self.clusters(cl), self.pair_recall,
               invariant=self.clusters_ok, canon=sorted, observe=self._observe_lsh(cl)),
            Op("winnow_pairs", nd, lambda: self.winnow(wn), None,
               invariant=self.winnow_ok, canon=sorted, observe=self._observe_lsh(wn)),
            Op("embedding_near_dup", nv, lambda: self.emb_near(en), self.vec_recall,
               invariant=self.vec_dups_ok, canon=sorted, observe=self._observe_lsh(en)),
            Op("semantic_dedup", nv, lambda: self.semdedup(sd), None,
               invariant=self.vec_dups_ok, canon=sorted, observe=self._observe_lsh(sd)),
        ]
        for j in range(PROBES):
            ops += [
                Op(f"ivf_probe_{j}", nv, lambda j=j: self.ivf_probe(j), None,
                   invariant=self.ivf_ok, canon=sorted),
                Op(f"bm25_probe_{j}", nd, lambda j=j: self.bm25_probe(j), None,
                   invariant=lambda got, j=j: self.bm25_ok(got, j), canon=sorted),
                Op(f"digest_probe_{j}", nd // 3, lambda j=j: self.digest_probe(j),
                   lambda got, j=j: self.digest_oracle(got, j), canon=sorted),
            ]
        return ops

    def warmup(self) -> None:
        """Every pipeline once, and the first probe batch of each index."""
        for op in self.round_ops():
            if not op.kind.endswith(tuple(f"_{j}" for j in range(1, PROBES))):
                self._run(op, timed=False)

    def normalize(self):
        from pyspark.sql import functions as F

        docs = self._load("documents")
        norm = self._call("normalize_text", self.P.normalize_text, "text")
        out = docs.select(norm.alias("n")).agg(
            F.count_distinct("n").alias("distinct"), F.sum(F.length("n")).alias("chars"))
        return self._collect(out)

    def normalize_oracle(self, got) -> None:
        norms = [_norm_text(t) for t in self.py()["text"].values()]
        want = [(len(set(norms)), sum(len(n) for n in norms))]
        if got != want:
            raise AssertionError(f"normalize_text (distinct, chars) {got} != {want}")

    def text_stats(self):
        from pyspark.sql import functions as F

        st = self._call("text_stats", self.P.text_stats, self._load("documents"))
        return self._collect(st.agg(F.count("*"), F.sum("n_tokens"), F.sum("n_chars_actual")))

    def text_stats_oracle(self, got) -> None:
        texts = self.py()["text"].values()
        want = [(len(texts), sum(len(re.split(r"\s+", t.strip(" "))) for t in texts),
                 sum(len(t) for t in texts))]
        if got != want:
            raise AssertionError(f"text_stats (rows, tokens, chars) {got} != {want}")

    def quality(self):
        q = self._call("quality_filter", self.P.quality_filter, self._load("documents"))
        return self._collect(q.groupBy("keep", "reject_reason").count())

    def quality_oracle(self, got) -> None:
        texts = self.py()["text"].values()
        short = sum(1 for t in texts if len(re.split(r"\s+", t.strip(" "))) < 16)
        kept = sum(n for keep, _, n in got if keep)
        if sum(n for *_, n in got) != len(texts) or kept > len(texts) - short:
            raise AssertionError(f"quality_filter kept {kept} of {len(texts)}, "
                                 f"{short} are below 16 tokens")

    def dedup_exact(self):
        from pyspark.sql import functions as F

        d = self._call("dedup_exact", self.P.dedup_exact, self._load("documents"))
        return self._collect(d.agg(F.count("*"), F.sum("doc_id")))

    def dedup_exact_oracle(self, got) -> None:
        first: dict = {}
        for i, t in self.py()["text"].items():
            k = _fp_text(t)
            first[k] = min(first.get(k, i), i)
        want = [(len(first), sum(first.values()))]
        if got != want:
            raise AssertionError(f"dedup_exact (rows, id sum) {got} != {want}")

    def pair_recall(self, rows) -> None:
        dup = {d for d, _ in rows}
        planted = [(a, b) for a, b in self.inp.params["planted_doc_pairs"]
                   if _jaccard(self._gram(a), self._gram(b)) >= MINHASH_T]
        hit = sum(1 for _, b in planted if b in dup)
        print(f"  dedup_clusters recall of planted near-duplicates: {hit}/{len(planted)}",
              file=sys.stderr)

    def clusters(self, holder):
        from pyspark.sql import functions as F

        c = self._call("dedup_clusters", self.P.dedup_clusters, self._load("documents"),
                       MINHASH_T)
        holder["df"] = c
        rows = self._collect(c.filter(F.col("is_duplicate")).select("doc_id", "canonical_id"))
        holder["n"] = len(rows)
        return rows

    def clusters_ok(self, rows) -> None:
        members: dict = {}
        for d, c in rows:
            members.setdefault(c, {c}).add(d)
        for d, c in rows:
            if c >= d:
                raise AssertionError(f"doc {d} has canonical {c} >= itself")
            best = max(round(_jaccard(self._gram(d), self._gram(m)), 4)
                       for m in members[c] if m != d)
            if best < MINHASH_T:
                raise AssertionError(f"doc {d} has no member of cluster {c} at "
                                     f"Jaccard >= {MINHASH_T} (best {best})")

    def winnow(self, holder):
        pairs = self._call("winnow_pairs", self.P.winnow_pairs, self._load("documents"),
                           WINNOW_T)
        holder["df"] = pairs
        rows = self._collect(pairs)
        holder["n"] = len(rows)
        return rows

    def winnow_ok(self, rows) -> None:
        fps = self.py()["winnow"]
        texts = self.py()["text"]
        for a, b, j in rows:
            for x in (a, b):
                if x not in fps:
                    fps[x] = _winnow(texts[x])
            exact = round(_jaccard(fps[a], fps[b]), 4)
            if abs(exact - j) > 1e-4 or exact < WINNOW_T:
                raise AssertionError(f"winnow pair ({a}, {b}) reports {j}, exact {exact}")

    def emb_near(self, holder):
        from pyspark.sql import functions as F

        out = self._call("embedding_near_dup", self.P.embedding_near_dup,
                         self._load("embeddings"), COSINE_T, method="lsh", dim=64)
        holder["df"] = out
        rows = self._collect(out.filter(F.col("is_duplicate")).select("vec_id", "canonical_id"))
        holder["n"] = len(rows)
        return rows

    def semdedup(self, holder):
        from pyspark.sql import functions as F

        out = self._call("semantic_dedup", self.P.semantic_dedup, self._load("embeddings"),
                         COSINE_T)
        holder["df"] = out
        rows = self._collect(out.filter(F.col("is_duplicate")).select("vec_id", "canonical_id"))
        holder["n"] = len(rows)
        return rows

    def vec_dups_ok(self, rows) -> None:
        members: dict = {}
        for v, c in rows:
            members.setdefault(c, {c}).add(v)
        for v, c in rows:
            best = max(self._cos(v, m) for m in members[c] if m != v)
            if best < COSINE_T - 1e-6:
                raise AssertionError(f"vector {v} has no member of cluster {c} at cosine "
                                     f">= {COSINE_T} (best {best:.4f})")

    def vec_recall(self, rows) -> None:
        dup = {v for v, _ in rows}
        planted = self.inp.params["planted_vec_pairs"]
        hit = sum(1 for _, b in planted if b in dup)
        print(f"  embedding_near_dup recall of planted near-duplicates: {hit}/{len(planted)}",
              file=sys.stderr)

    def ivf_probe(self, j: int):
        from pyspark.sql import functions as F

        emb = self._load("embeddings")
        q = emb.filter(F.col("vec_id") % 97 == self.residues[j])
        out = self._call("ivf_topk_indexed", self.P.ivf_topk_indexed, self.spark,
                         os.path.join(self.idx, "ivf"), q, k=IVF_K)
        return self._collect(out)

    def ivf_ok(self, rows) -> None:
        per_q: dict = {}
        for q, v, sim in rows:
            per_q[q] = per_q.get(q, 0) + 1
            exact = round(self._cos(q, v), 4)
            if abs(exact - sim) > 2e-4:
                raise AssertionError(f"ivf ({q}, {v}) reports {sim}, exact cosine {exact}")
        if not per_q or max(per_q.values()) > IVF_K:
            raise AssertionError(f"ivf returned {per_q and max(per_q.values())} rows per query")

    def bm25_probe(self, j: int):
        out = self._call("bm25_topk_indexed", self.P.bm25_topk_indexed, self.spark,
                         os.path.join(self.idx, "bm25"), " ".join(self.queries[j]), k=10)
        return self._collect(out)

    def bm25_ok(self, rows, j: int) -> None:
        terms = set(self.queries[j])
        if len(rows) != 10:
            raise AssertionError(f"bm25 returned {len(rows)} rows, expected 10")
        for doc_id, score in rows:
            words = set(_norm_text(self.py()["text"][doc_id]).split(" "))
            if score <= 0 or not words & terms:
                raise AssertionError(f"bm25 doc {doc_id} (score {score}) has no query term")

    def digest_probe(self, j: int):
        from pyspark.sql import functions as F

        batch = self._load("documents").filter(F.col("doc_id") % 3 == j)
        out = self._call("dedup_against_index", self.P.dedup_against_index, batch,
                         os.path.join(self.idx, "digests"))
        return [r[0] for r in self._collect(out.select("doc_id"))]

    def digest_oracle(self, got, j: int) -> None:
        texts = self.py()["text"]
        cut = self.inp.params["doc_offset"] + int(self.n_docs * 0.6)
        indexed = {_fp_text(t) for i, t in texts.items() if i < cut}
        want = sorted(i for i, t in texts.items() if i % 3 == j and _fp_text(t) not in indexed)
        if sorted(got) != want:
            raise AssertionError(f"dedup_against_index kept {len(got)} docs, expected {len(want)}")
