"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet files. The shapes follow the repository's
synthetic test schemas (FIXTURES.md): a TPC-H-like star (customer,
orders) plus an `events` stream, a 31-word `documents` corpus and unit
64-d `embeddings` with random labels.

The bulk tables are built Amplify-style: one seeded base block,
replicated with per-replica id offsets, so per-key history is the same
in every replica and the work grows linearly with the replica count.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Sizes per workload. examplegen_bulk: the spine is replicas x orders_base
# orders. operator_mix: the declared queries read sf0.01-sized documents,
# embeddings and events; the transform chain reads corpus_replicas x
# corpus_base documents, gated against a held-out history slice.
SIZES = {
    "examplegen_bulk": dict(customers_base=2000, orders_base=12000,
                            events_base=16000, replicas=4),
    "operator_mix": dict(documents=500, embeddings=500, events=10000,
                         users=150, corpus_base=500, corpus_replicas=4,
                         history=400),
}

DAY_US = 86_400_000_000
# 1995-01-01T00:00:00Z and 2024-01-01T00:00:00Z in epoch microseconds.
EPOCH_1995_US = 788_918_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us", tz="UTC"))


def _write(out_dir, name, cols, parts=1):
    """Write `name.parquet`; with parts > 1, a directory of that many
    files split on row order (one per replica, as a Spark job writes an
    amplified table), so scans get one partition per file."""
    t = pa.table(cols)
    if parts == 1:
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    else:
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        step = -(-t.num_rows // parts)
        for i in range(parts):
            pq.write_table(t.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"))
    return t.num_rows


def _unique_times(rng, n, start_us, span_us):
    """n strictly increasing, seed-jittered timestamps over the span,
    returned in random order: unique, so no key can hold two rows at
    one instant and every point-in-time answer is unambiguous."""
    step = span_us // n
    t = start_us + np.arange(n, dtype=np.int64) * step + rng.integers(0, step, n)
    return rng.permutation(t)


def _texts(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos:pos + ln]))
        pos += ln
    return out


def _replicate(base, reps, offset, id_cols):
    """Amplify.offsetIds in numpy: replica r adds r * offset to each id."""
    out = {}
    for c, v in base.items():
        if c in id_cols:
            out[c] = np.concatenate([np.asarray(v) + r * offset for r in range(reps)])
        elif isinstance(v, np.ndarray):
            out[c] = np.concatenate([v] * reps)
        else:
            out[c] = list(v) * reps
    return out


def examplegen_bulk(rng, out_dir, sz):
    nc, no, ne, reps = (sz["customers_base"], sz["orders_base"],
                        sz["events_base"], sz["replicas"])
    # The replica id offset is seed-chosen (always above the base id range).
    offset = int(10 ** 6 * (1 + rng.integers(0, 9)))
    span = int(6.5 * 365 * DAY_US)
    customer = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    }
    orders = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [STATUS[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, no), 2),
        "o_orderdate": _unique_times(rng, no, EPOCH_1995_US, span),
        "o_orderpriority": [PRIORITY[i] for i in rng.integers(0, 5, no)],
    }
    events = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _unique_times(rng, ne, EPOCH_1995_US, span),
        "user_id": rng.integers(0, nc, ne).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    customer = _replicate(customer, reps, offset, {"c_custkey"})
    orders = _replicate(orders, reps, offset, {"o_orderkey", "o_custkey"})
    events = _replicate(events, reps, offset, {"event_id", "user_id"})
    orders["o_orderdate"] = _ts(orders["o_orderdate"])
    events["ts"] = _ts(events["ts"])
    return {
        "customer": _write(out_dir, "customer", customer, reps),
        "orders": _write(out_dir, "orders", orders, reps),
        "events": _write(out_dir, "events", events, reps),
    }


def _documents(rng, n, first_id=0):
    texts = _texts(rng, n)
    return {
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _rotate(text, k):
    w = text.split()
    k %= len(w)
    return " ".join(w[k:] + w[:k])


def _corpus(rng, out_dir, sz):
    base, reps, nh = sz["corpus_base"], sz["corpus_replicas"], sz["history"]
    history = _documents(rng, nh, first_id=10 ** 9)
    docs = _documents(rng, base)
    # Replica r rotates each text by (r // 2) times a seed-chosen word
    # offset: odd replicas are exact copies of the one before (work for
    # dedup_exact), and a rotation keeps all but a couple of shingles,
    # so the even ones are near- but not exact duplicates. Every fifth
    # base doc copies a history doc, which the minhash gate (fitted on
    # history) must drop in every replica.
    rot = int(rng.integers(1, 5))
    copy = np.arange(base) % 5 == 0
    src = rng.integers(0, nh, base)
    docs["text"] = [history["text"][src[i]] if copy[i] else t
                    for i, t in enumerate(docs["text"])]
    texts = []
    for r in range(reps):
        texts += [_rotate(t, (r // 2) * rot) for t in docs["text"]]
    out = _replicate({k: v for k, v in docs.items() if k != "text"}, reps,
                     base, {"doc_id"})
    # Sentences shorter than the quality gate (5 tokens) exercise its drop.
    short = rng.random(len(texts)) < 0.02
    out["text"] = [" ".join(t.split()[:3]) if s else t for t, s in zip(texts, short)]
    out["n_chars"] = np.array([len(t) for t in out["text"]], dtype=np.int64)
    os.makedirs(os.path.join(out_dir, "history"), exist_ok=True)
    _write(os.path.join(out_dir, "history"), "documents", history)
    return {"corpus": _write(out_dir, "corpus", out, reps), "history": nh}


def operator_mix(rng, out_dir, sz):
    nd, nv, ne, nu = sz["documents"], sz["embeddings"], sz["events"], sz["users"]
    emb = rng.normal(0.0, 1.0, (nv, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    }
    span = 30 * DAY_US
    t = np.sort(_unique_times(rng, ne, EPOCH_2024_US, span))
    events = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(t),
        "user_id": rng.integers(0, nu, ne).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    return {
        "documents": _write(out_dir, "documents", _documents(rng, nd)),
        "embeddings": _write(out_dir, "embeddings", embeddings),
        "events": _write(out_dir, "events", events),
        **_corpus(rng, out_dir, sz),
    }


GENERATORS = {
    "examplegen_bulk": examplegen_bulk,
    "operator_mix": operator_mix,
}


def generate(workload, seed, out_dir):
    """Write the workload's tables under out_dir; return {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    return GENERATORS[workload](rng, out_dir, SIZES[workload])
