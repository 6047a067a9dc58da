"""Seeded input generator for the benchmark.

Every table and request list is a pure function of (workload, seed): the
same seed yields byte-identical parquet files and the same request
sequence. The engine only ever sees what this module writes.

Tables follow the fixture schemas (documents, embeddings, events), so the
library's declared keys and their DuckDB oracles run on them unchanged.
The corpus is shaped for the behaviour the keys depend on:
  - a Zipf vocabulary, so token frequencies are skewed like real text;
  - planted near-duplicate clusters with known pairwise Jaccard, the
    ground truth for the dedup keys;
  - clustered embeddings whose cluster id is stored as `label`;
  - events with one power user and a heavy-tailed value column.
"""
import json
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.38, 0.16, 0.16, 0.15, 0.15]
N_SOURCES = 20
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
DIM = 64
VOCAB = 4000
JACCARD_MIN = 0.9  # the dedup keys' pair threshold

# Sizes per workload. `lookup` matches the reference fixture's row counts.
# `pipeline` is smaller: its cold pass derives every session memo, and
# each key is already well above the per-query fixed cost at this size.
SIZES = {
    "warm": dict(docs=300, emb=200, events=2000),
    "lookup": dict(docs=5000, emb=2000, events=0),
    "pipeline": dict(docs=1200, emb=500, events=20000),
}

_SYL = ["ka", "lo", "mi", "re", "tu", "sa", "ne", "po", "di", "gu",
        "ba", "fe", "ti", "ro", "za", "ve", "ju", "ce", "ma", "ho"]


def vocabulary():
    """Pronounceable lowercase ASCII words, one per rank."""
    words = []
    for i in range(VOCAB):
        w, j = "", i + len(_SYL)
        while j:
            w += _SYL[j % len(_SYL)]
            j //= len(_SYL)
        words.append(w)
    return np.array(words, dtype=object)


def _zipf_p():
    p = 1.0 / np.power(np.arange(VOCAB) + 2.7, 1.1)
    return p / p.sum()


def _rng(seed, stream):
    return np.random.default_rng([int(seed), sum(map(ord, stream))])


def token_docs(rng, n, first_id):
    """`n` token-id lists with planted near-duplicate clusters.

    About a tenth of the documents are near copies of a cluster's base
    document: each copy replaces one token or appends one. Returns the
    token lists and, per document, its cluster id (-1 for singletons)."""
    zp = _zipf_p()
    lens = rng.integers(30, 90, size=n)
    flat = rng.choice(VOCAB, size=int(lens.sum()), p=zp)
    offs = np.concatenate([[0], np.cumsum(lens)])
    toks = [flat[offs[i]:offs[i + 1]].tolist() for i in range(n)]
    cluster = np.full(n, -1, dtype=np.int64)
    n_clusters = max(1, n // 40)
    bases = rng.choice(n, size=n_clusters, replace=False)
    taken = np.zeros(n, dtype=bool)
    taken[bases] = True
    for c, b in enumerate(bases):
        cluster[b] = first_id + b
        size = int(rng.integers(2, 6))
        free = np.flatnonzero(~taken)
        members = rng.choice(free, size=min(size, len(free)), replace=False)
        for m in members:
            t = list(toks[b])
            if rng.random() < 0.5:
                t[int(rng.integers(0, len(t)))] = int(rng.integers(0, VOCAB))
            else:
                t.append(int(rng.integers(0, VOCAB)))
            toks[m] = t
            taken[m] = True
            cluster[m] = first_id + b
    return toks, cluster


def documents_table(rng, n, first_id, langs=LANGS, lang_p=LANG_P):
    words = vocabulary()
    toks, cluster = token_docs(rng, n, first_id)
    text = [" ".join(words[t]) for t in toks]
    lang = np.array(langs, dtype=object)[rng.choice(len(langs), size=n, p=lang_p)]
    source = np.array([f"src{i}" for i in rng.integers(0, N_SOURCES, size=n)],
                      dtype=object)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    return table, toks, cluster


def embeddings_table(rng, n, first_id, k=20):
    centers = rng.normal(size=(k, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, k, size=n).astype(np.int32)
    vecs = (centers[label] + rng.normal(scale=0.12, size=(n, DIM))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def events_table(rng, n):
    gaps = rng.integers(1, 180, size=n).astype(np.int64) * 1_000_000
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = start + np.cumsum(gaps)
    power = rng.random(n) < 0.25
    tail = np.minimum(rng.zipf(1.6, size=n), 499)
    user = np.where(power, 0, tail).astype(np.int64)
    value = np.round(rng.pareto(1.5, size=n) * 10.0, 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
    etype = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), size=n)]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array(etype, pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def round4(x):
    """Half-up rounding of a double's shortest decimal form, as Spark's
    round(x, 4) and DuckDB's decimal round do it."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def planted_pairs(toks, cluster, ids):
    """Exact token-set Jaccard for every within-cluster pair that reaches
    the dedup threshold, as (doc_a, doc_b, jaccard) with doc_a < doc_b."""
    by = {}
    for i, c in enumerate(cluster):
        if c >= 0:
            by.setdefault(int(c), []).append(i)
    out = []
    for members in by.values():
        members.sort(key=lambda i: ids[i])
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = set(toks[members[x]]), set(toks[members[y]])
                j = round4(len(a & b) / len(a | b))
                if j >= JACCARD_MIN:
                    out.append((int(ids[members[x]]), int(ids[members[y]]), j))
    out.sort()
    return out


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_tables(rng, out_dir, size, first_id=0):
    docs, toks, cluster = documents_table(rng, size["docs"], first_id)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(embeddings_table(rng, size["emb"], first_id),
           os.path.join(out_dir, "embeddings.parquet"))
    if size.get("events"):
        _write(events_table(rng, size["events"]), os.path.join(out_dir, "events.parquet"))
    return docs, toks, cluster


def lookup_pools(rng, docs, n_emb):
    """The distinct requests the lookup stream draws from, by page of the
    reference app: one facet per search, or one similarity probe."""
    words = vocabulary()
    n_chars = docs.column("n_chars").to_numpy()
    pools = {
        "lang": [{"op": "buscar", "lang": l} for l in LANGS],
        "source": [{"op": "buscar", "source": f"src{i}"} for i in range(N_SOURCES)],
        "n_chars": [{"op": "buscar", "n_chars": int(v)}
                    for v in rng.choice(n_chars, size=10, replace=False)],
        "texto": [{"op": "buscar", "texto": " ".join(words[rng.integers(200, 1500, size=2)])}
                  for _ in range(12)],
        "similares": [{"op": "similares", "doc": int(d), "lo": float(lo), "hi": float(lo + 15)}
                      for d, lo in zip(rng.integers(0, n_emb, size=12),
                                       rng.choice([40, 55, 70, 80], size=12))],
        "distinct_sorted": [{"op": "distinct_sorted"}],
        "graph_node_ids": [{"op": "graph_node_ids"}],
    }
    return pools


# Requests of each kind per block of 20: the stream is a sequence of
# blocks, each a seeded shuffle of this mix, so every stretch of the
# stream carries the same mix whatever the seed.
LOOKUP_MIX = {"lang": 4, "source": 3, "n_chars": 2, "texto": 4,
              "similares": 5, "distinct_sorted": 1, "graph_node_ids": 1}
LOOKUP_BLOCK = sum(LOOKUP_MIX.values())


def lookup_stream(rng, pools, n_blocks):
    """The distinct requests (in pool order) and a seeded stream of
    indices into them, `n_blocks` blocks of LOOKUP_MIX."""
    distinct, first = [], {}
    for k in LOOKUP_MIX:
        first[k] = len(distinct)
        distinct += pools[k]
    block = [k for k, n in LOOKUP_MIX.items() for _ in range(n)]
    stream = []
    for _ in range(n_blocks):
        for k in rng.permutation(block):
            stream.append(first[k] + int(rng.integers(0, len(pools[k]))))
    return distinct, stream


def probe_requests(rng, pools):
    """One request of each lookup kind."""
    return [pools[k][int(rng.integers(0, len(pools[k])))] for k in LOOKUP_MIX]


# The heavy document keys: the custom pairwise operators (SelfPairwise in
# dedup_simhash, GridPairwise in sim_edges_grid), the session-memo keys
# (dedup_near, dedup_simhash, pipe_vocab) and the skewed events key
# (ts_mad_anomaly).
PIPELINE_KEYS = ["dedup_near", "dedup_simhash", "pipe_vocab", "sim_edges_grid",
                 "ts_mad_anomaly"]
# Each pass after the cold one runs the keys in the next of these seeded
# orders, so that no one order of the keys (and of the code each
# generates) decides the pass times of a run.
N_ORDERS = 200
# The keys that keep session memos, re-asked by the staleness probe.
MEMO_KEYS = ["dedup_near", "dedup_simhash", "pipe_vocab"]


def _write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, indent=0)


def _replacement(rng, work, n):
    """The in-place replacement of the data's documents used by the
    staleness probe: another corpus, with a sixth language, so every
    documents answer changes. It is three times the largest documents
    file it replaces, so whether a reader still holding the old file's
    length reads it does not depend on the seed."""
    rep, toks, cluster = documents_table(rng, n, 0, langs=LANGS + ["pt"],
                                         lang_p=[0.3, 0.14, 0.14, 0.14, 0.14, 0.14])
    _write(rep, os.path.join(work, "replacement", "documents.parquet"))
    _write_json(planted_pairs(toks, cluster, rep.column("doc_id").to_numpy()),
                os.path.join(work, "replacement", "planted_pairs.json"))
    return os.path.join(work, "replacement", "documents.parquet"), rep


def _stale_probe(rng, probe, docs, rep):
    """The staleness probe with its n_chars search pointed at a length
    that both the data and its replacement contain, so that the search
    has an answer on each and the two differ whatever the seed. (A length
    the replacement lacks has an empty answer, which a stale reader can
    return by chance.)"""
    both = np.intersect1d(docs.column("n_chars").to_numpy(), rep.column("n_chars").to_numpy())
    return [dict(q, n_chars=int(rng.choice(both))) if "n_chars" in q else q for q in probe]


def generate(workload, seed, work):
    """Write every input of one run under `work` and return the plan the
    benchmark program reads (also written as work/plan.json)."""
    os.makedirs(work, exist_ok=True)
    write_tables(_rng(seed, "warm"), os.path.join(work, "warm"), SIZES["warm"])
    plan = {"workload": workload, "warm": os.path.join(work, "warm")}
    rng = _rng(seed, workload)
    if workload == "lookup":
        size = SIZES["lookup"]
        docs, _, _ = write_tables(rng, os.path.join(work, "data"), size)
        pools = lookup_pools(rng, docs, size["emb"])
        distinct, stream = lookup_stream(rng, pools, 1000)
        probe = probe_requests(rng, pools)
        replacement, rep = _replacement(rng, work, 3 * size["docs"])
        plan.update(data=os.path.join(work, "data"), distinct=distinct, stream=stream,
                    block=LOOKUP_BLOCK, probe=_stale_probe(rng, probe, docs, rep),
                    replacement=replacement)
    elif workload == "pipeline":
        size = SIZES["pipeline"]
        docs, toks, cluster = write_tables(rng, os.path.join(work, "data"), size)
        _write_json(planted_pairs(toks, cluster, docs.column("doc_id").to_numpy()),
                    os.path.join(work, "data", "planted_pairs.json"))
        pools = lookup_pools(rng, docs, size["emb"])
        requests = probe_requests(rng, pools)
        probe = probe_requests(rng, pools)
        replacement, rep = _replacement(rng, work, 3 * size["docs"])
        orders = _rng(seed, "orders")
        plan.update(data=os.path.join(work, "data"),
                    requests=requests + [{"op": "key", "key": k} for k in PIPELINE_KEYS],
                    orders=[orders.permutation(len(PIPELINE_KEYS)).tolist()
                            for _ in range(N_ORDERS)],
                    probe=_stale_probe(rng, probe, docs, rep) +
                    [{"op": "key", "key": k} for k in MEMO_KEYS],
                    replacement=replacement)
    else:
        raise ValueError(f"unknown workload {workload}")
    _write_json(plan, os.path.join(work, "plan.json"))
    return plan
