"""Seeded input generators for the three workloads.

Every table is synthesised from the seed alone (numpy PCG64), in the
schemas of the engine's star-schema test data (``lineitem``, ``orders``,
``customer``, ``part``, ``supplier``, ``nation``, ``region``, ``events``,
``documents``, ``embeddings``). Key columns carry a seed-derived offset,
so two seeds never share keys. Generated files are cached under
``perfbench/_work/inputs/<workload>-v<GEN_VERSION>-s<seed>/`` and reused
when the same seed runs again.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.ipc as ipc
import pyarrow.parquet as pq

GEN_VERSION = 3

# relational: one sf0.1-sized star schema
N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_PARTS = 20_000
N_SUPPLIERS = 1_000
N_EVENTS = 100_000
N_USERS = 1_500
# curation
N_DOCS = 3_000
N_VECS = 1_500
DIM = 64
N_CENTERS = 50  # topics; members of one sit at cosine about 0.5 to each other
# streaming
N_STREAM_FILES = 48
ROWS_PER_FILE = 6_000

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["almond", "azure", "blush", "coral", "forest", "ivory", "khaki",
          "linen", "navy", "olive", "plum", "rose", "sienna", "tan", "wheat"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
VOCAB = (
    "a the data spark table stream batch join group filter sort hash key "
    "value row column scan query order customer part line vector window "
    "merge agg fast slow big small index shard token text model train "
    "eval score rank cache spill shuffle stage task job plan node"
).split()
# The long tail of the document vocabulary: two-syllable pseudo-words. Word
# frequency follows Zipf's law over VOCAB and then these, so the common words
# are VOCAB's (queries draw from them) and most 5-grams are rare, as in text.
_SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
WORDS = VOCAB + [a + b for a in _SYLLABLES for b in _SYLLABLES[:50]]
_WORD_CDF = np.cumsum(1.0 / np.arange(1, len(WORDS) + 1))
_WORD_CDF /= _WORD_CDF[-1]
LANGS = ["en", "en", "de", "fr", "es", "zh"]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000


@dataclass
class InputSet:
    """Where one workload's generated inputs live, and their sizes."""

    workload: str
    seed: int
    root: str
    tables: dict = field(default_factory=dict)  # name -> {rows, bytes}
    params: dict = field(default_factory=dict)  # workload-specific facts
    gen_s: float = 0.0
    cached: bool = False

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    @property
    def total_rows(self) -> int:
        return sum(t["rows"] for t in self.tables.values())


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write_parquet(root: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(root, f"{name}.parquet"), compression="zstd")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _events(rng: np.random.Generator, n: int, id_offset: int, user_offset: int) -> dict:
    """Event-time-ordered user events over 30 days."""
    ts = EPOCH_US + np.sort(rng.integers(0, 30 * DAY_US, n))
    etype = rng.integers(0, len(EVENT_TYPES), n)
    return {
        "event_id": id_offset + np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": user_offset + rng.integers(0, N_USERS, n),
        "event_type": np.array(EVENT_TYPES, dtype=object)[etype],
        "value": np.round(rng.gamma(2.0, 30.0, n), 2),
    }


def _gen_relational(seed: int, root: str, params: dict) -> None:
    rng = _rng(seed, 1)
    off = (seed % 997 + 1) * 10_000_000  # disjoint key ranges per seed
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })
    custkey = off + np.arange(N_CUSTOMERS, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k}" for k in custkey],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, N_CUSTOMERS)],
    })
    suppkey = off + np.arange(N_SUPPLIERS, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": suppkey,
        "s_name": [f"Supplier#{k}" for k in suppkey],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIERS), 2),
    })
    partkey = off + np.arange(N_PARTS, dtype=np.int64)
    c3 = rng.integers(0, len(COLORS), (N_PARTS, 3))
    part = pa.table({
        "p_partkey": partkey,
        "p_name": [" ".join(COLORS[j] for j in row) for row in c3],
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (N_PARTS, 2))],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"],
                           dtype=object)[rng.integers(0, 5, N_PARTS)],
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, N_PARTS), 2),
    })
    orderkey = off + np.arange(N_ORDERS, dtype=np.int64)
    odate = EPOCH_US - 10 * 365 * DAY_US + rng.integers(0, 7 * 365, N_ORDERS) * DAY_US
    orders = pa.table({
        "o_orderkey": orderkey,
        "o_custkey": custkey[rng.integers(0, N_CUSTOMERS, N_ORDERS)],
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(800, 500_000, N_ORDERS), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, N_ORDERS)],
    })
    lines = rng.integers(1, 8, N_ORDERS)  # 1..7 lines per order, mean 4
    n_li = int(lines.sum())
    oidx = np.repeat(np.arange(N_ORDERS), lines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    # the skewed key: 20 hot parts carry 1 % of the line items each, the rest
    # spread uniformly (many small hot keys keep the work per seed steady)
    pidx = rng.integers(0, N_PARTS, n_li)
    is_hot = rng.random(n_li) < 0.20
    pidx[is_hot] = rng.choice(N_PARTS, 20, replace=False)[rng.integers(0, 20, is_hot.sum())]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": orderkey[oidx],
        "l_partkey": partkey[pidx],
        "l_suppkey": suppkey[rng.integers(0, N_SUPPLIERS, n_li)],
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"], dtype=object)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"], dtype=object)[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[oidx] + rng.integers(1, 122, n_li) * DAY_US),
    })
    ev = _events(rng, N_EVENTS, off, off)
    srcs = np.array(["web", "app", "api", "batch"], dtype=object)[rng.integers(0, 4, N_EVENTS)]
    ks = rng.integers(0, 100, N_EVENTS)
    ws = np.round(rng.uniform(0, 10, N_EVENTS), 2)
    ev["ts"] = _ts(ev["ts"])
    ev["props"] = [
        json.dumps({"k": int(k), "src": s, "w": float(w)}) for k, s, w in zip(ks, srcs, ws)
    ]
    for name, t in [("region", region), ("nation", nation), ("customer", customer),
                    ("supplier", supplier), ("part", part), ("orders", orders),
                    ("lineitem", lineitem), ("events", pa.table(ev))]:
        _write_parquet(root, name, t)
    params["key_offset"] = off


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [WORDS[i] for i in np.searchsorted(_WORD_CDF, rng.random(n))]


def _doc_text(rng: np.random.Generator, n_words: int) -> str:
    words = _words(rng, n_words)
    # sprinkle punctuation so normalization has work to do
    for i in rng.integers(0, n_words, max(1, n_words // 12)):
        words[i] = words[i] + rng.choice([",", ".", "!", ";"])
    return " ".join(words)


def _gen_curation(seed: int, root: str, params: dict) -> None:
    rng = _rng(seed, 2)
    off = (seed % 997 + 1) * 1_000_000
    texts: list[str] = []
    planted: list[tuple[int, int]] = []  # (original, near-duplicate) positions
    exact = 0
    for i in range(N_DOCS):
        r = rng.random()
        if i > 50 and r < 0.08:  # near-duplicate: a few word edits of an earlier doc
            src = int(rng.integers(0, i))
            words = texts[src].split(" ")
            edits = rng.integers(0, len(words), 1 + len(words) // 40)
            for j, w in zip(edits, _words(rng, len(edits))):
                words[j] = w
            texts.append(" ".join(words))
            planted.append((src, i))
        elif i > 50 and r < 0.10:  # exact copy, sometimes re-cased
            src = int(rng.integers(0, i))
            texts.append(texts[src].upper() if rng.random() < 0.3 else texts[src])
            exact += 1
        elif r > 0.97:  # low-quality: short or symbol-heavy
            texts.append(" ".join(["#$%"] * int(rng.integers(2, 20))))
        else:
            texts.append(_doc_text(rng, int(rng.integers(12, 90))))
    doc_id = off + np.arange(N_DOCS, dtype=np.int64)
    documents = pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{j}" for j in rng.integers(0, 20, N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (N_CENTERS, DIM))
    label = rng.integers(0, N_CENTERS, N_VECS)
    vecs = centers[label] + rng.normal(0, 1, (N_VECS, DIM))
    vplanted = []
    for i in range(50, N_VECS):
        if rng.random() < 0.05:  # near-duplicate embedding
            src = int(rng.integers(0, i))
            vecs[i] = vecs[src] + rng.normal(0, 0.01, DIM)
            label[i] = label[src]
            vplanted.append((src, i))
    vecs = vecs.astype(np.float32)
    vec_id = off + np.arange(N_VECS, dtype=np.int64)
    embeddings = pa.table({
        "vec_id": vec_id,
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    _write_parquet(root, "documents", documents)
    _write_parquet(root, "embeddings", embeddings)
    params.update(
        doc_offset=off,
        planted_doc_pairs=[(int(doc_id[a]), int(doc_id[b])) for a, b in planted],
        planted_vec_pairs=[(int(vec_id[a]), int(vec_id[b])) for a, b in vplanted],
        exact_copies=exact,
    )


def _gen_streaming(seed: int, root: str, params: dict) -> None:
    rng = _rng(seed, 3)
    off = (seed % 997 + 1) * 10_000_000
    n = N_STREAM_FILES * ROWS_PER_FILE
    ev = _events(rng, n, off, off)
    table = pa.table({
        "event_id": ev["event_id"],
        "user_id": ev["user_id"],
        "event_type": ev["event_type"],
        "value": ev["value"],
        "ts_us": ev["ts"].astype(np.int64),
    })
    files = os.path.join(root, "files")
    os.makedirs(files)
    for i in range(N_STREAM_FILES):
        chunk = table.slice(i * ROWS_PER_FILE, ROWS_PER_FILE)
        with ipc.new_file(os.path.join(files, f"part-{i:05d}.arrow"), chunk.schema) as w:
            w.write_table(chunk)
    params.update(key_offset=off, files=N_STREAM_FILES, rows_per_file=ROWS_PER_FILE)


_GENERATORS = {
    "relational": _gen_relational,
    "curation": _gen_curation,
    "streaming": _gen_streaming,
}


def _describe(root: str) -> dict:
    out = {}
    for name in sorted(os.listdir(root)):
        p = os.path.join(root, name)
        if name.endswith(".parquet"):
            out[name[: -len(".parquet")]] = {
                "rows": pq.ParquetFile(p).metadata.num_rows,
                "bytes": os.path.getsize(p),
            }
        elif os.path.isdir(p):
            files = sorted(os.listdir(p))
            rows = 0
            for f in files:
                with ipc.open_file(os.path.join(p, f)) as r:
                    rows += sum(r.get_batch(i).num_rows for i in range(r.num_record_batches))
            out[name] = {
                "rows": rows,
                "bytes": sum(os.path.getsize(os.path.join(p, f)) for f in files),
            }
    return out


def generate(workload: str, seed: int, work_dir: str) -> InputSet:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``."""
    base = os.path.join(work_dir, "inputs")
    os.makedirs(base, exist_ok=True)
    root = os.path.join(base, f"{workload}-v{GEN_VERSION}-s{seed}")
    meta_path = os.path.join(root, "_meta.json")
    t0 = time.perf_counter()
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        return InputSet(workload, seed, os.path.join(root, "data"), meta["tables"],
                        meta["params"], time.perf_counter() - t0, cached=True)
    shutil.rmtree(root, ignore_errors=True)
    data = os.path.join(root, "data")
    os.makedirs(data)
    params: dict = {}
    _GENERATORS[workload](seed, data, params)
    tables = _describe(data)
    with open(meta_path + ".tmp", "w") as f:
        json.dump({"tables": tables, "params": params}, f)
    os.replace(meta_path + ".tmp", meta_path)
    return InputSet(workload, seed, data, tables, params, time.perf_counter() - t0)
