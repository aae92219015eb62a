"""Seeded input generators for the lakebench workloads.

Every table and op sequence is a pure function of the seed and the
workload parameters, made before the program starts. Tables follow the
schemas of the TPC-H-style `lineitem` and `orders` tables and of the
`documents` and `embeddings` tables that graft's training-data queries
read; near-duplicate documents and vectors are planted so that the
dedup stages have work to do.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FLAGS = ["A", "N", "R"]
STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = ("a the batch part spark line column order small sort fast value scan hash slow "
         "group agg filter query big key window row table stream merge data join "
         "vector customer delta log commit file page index cache plan stage task "
         "shuffle").split()
EPOCH_1992 = 8035  # days from 1970-01-01 to 1992-01-01


def _dates(rng, n):
    return pa.array(EPOCH_1992 + rng.integers(0, 2500, n), pa.int32()).cast(pa.date32())


def lineitem(rng, n_orders, first_key=1):
    """Rows ordered by l_orderkey, 1-7 lines per order."""
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    keys = np.repeat(np.arange(first_key, first_key + n_orders, dtype=np.int64), lines)
    linenumber = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    return pa.table({
        "l_orderkey": keys,
        "l_partkey": rng.integers(1, 20001, n, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1001, n, dtype=np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(FLAGS)[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": _dates(rng, n),
    })


def orders(rng, keys):
    n = len(keys)
    return pa.table({
        "o_orderkey": np.asarray(keys, dtype=np.int64),
        "o_custkey": rng.integers(1, 15001, n, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(STATUS)[rng.integers(0, 3, n)]),
        "o_totalprice": np.round(rng.uniform(850.0, 500000.0, n), 2),
        "o_orderdate": _dates(rng, n),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def documents(rng, n):
    """Documents over a Zipf-like vocabulary (common words plus a long
    tail); ~15% are copies of an earlier original with 1-3 words replaced,
    so near-duplicate groups are small and known."""
    vocab = np.array(VOCAB + [f"w{j}" for j in range(4000)])
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    texts, originals = [], []
    for i in range(n):
        if originals and rng.random() < 0.15:
            words = texts[originals[rng.integers(0, len(originals))]].split(" ")
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(rng.choice(vocab, rng.integers(8, 90), p=weights))
            originals.append(i)
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64):
    """Unit-ish float vectors; ~15% are small perturbations of an earlier one."""
    vecs = rng.normal(0.0, 0.13, (n, dim)).astype(np.float32)
    for i in range(10, n):
        if rng.random() < 0.15:
            vecs[i] = vecs[rng.integers(0, i)] + rng.normal(0.0, 0.004, dim).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


# ---- per-workload plans ------------------------------------------------

def read_ops(rng, n, commits, keys_per_batch, tt_min=1):
    """Reads in blocks of ten with a fixed mix, shuffled within the block:
    five point keys, three narrow key ranges and two single-partition key
    ranges; two of the ten time-travel to an older version in
    [tt_min, commits - 2]. A fixed mix keeps the cost profile the same from
    seed to seed. Keys are drawn from the rows present at the version
    read."""
    ops = []
    while len(ops) < n:
        preds = ["point"] * 5 + ["range"] * 3 + ["part"] * 2
        tts = [True] * 2 + [False] * 8
        rng.shuffle(preds)
        rng.shuffle(tts)
        for pred, tt in zip(preds, tts):
            v = int(rng.integers(tt_min, commits - 1)) if tt else -1
            top = (v + 1 if tt else commits) * keys_per_batch
            k = int(rng.integers(1, top + 1))
            if pred == "point":
                ops.append({"v": v, "pred": "point", "lo": k, "hi": k})
            elif pred == "range":
                ops.append({"v": v, "pred": "range", "lo": k, "hi": k + 20})
            else:
                ops.append({"v": v, "pred": "part", "lo": k, "hi": k + 200,
                            "flag": FLAGS[int(rng.integers(0, 3))]})
    return ops[:n]


def plan_reads(rng, work, p):
    c, kpb = p["commits"], p["keys_per_batch"]
    batches = [_write(lineitem(rng, kpb, first_key=b * kpb + 1),
                      f"{work}/in/lineitem/b{b:04d}.parquet") for b in range(c)]
    return {"batches": batches}, {
        "warmup": read_ops(rng, p["warmup_ops"], c, kpb, p["tt_min_version"]),
        "reads": read_ops(rng, p["ops"], c, kpb, p["tt_min_version"]),
    }


def plan_ingest(rng, work, p):
    n = p["rows"]
    base = orders(rng, np.arange(n))
    a_base, b_base = 10 * n, 20 * n
    n_app, n_merge = p["append_batches"], p["merge_batches"]
    ar = p["append_rows"]
    appends = orders(rng, a_base + np.arange(n_app * ar))
    appends = appends.append_column("batch", pa.array(np.repeat(np.arange(n_app), ar).astype(np.int32)))
    merges, mb = [], []
    for b in range(n_merge):
        # updates clustered in a key window (a CDC batch touches a few
        # files), plus new keys in writer B's own range
        lo = int(rng.integers(0, n - 4000))
        upd = rng.choice(np.arange(lo, lo + 4000), p["merge_updates"], replace=False)
        new = b_base + b * p["merge_inserts"] + np.arange(p["merge_inserts"])
        keys = np.sort(np.concatenate([upd, new]))
        merges.append(orders(rng, keys))
        mb.append(np.full(len(keys), b, dtype=np.int32))
    merges = pa.concat_tables(merges).append_column("batch", pa.array(np.concatenate(mb)))
    writer_b = []
    for i in range(p["writer_b_ops"]):
        if (i + 1) % p["optimize_every"] == 0:
            writer_b.append({"op": "optimize"})
        elif i % 2 == 0:
            writer_b.append({"op": "merge", "src": i % n_merge})
        else:
            lo = int(rng.integers(0, n - p["delete_width"]))
            writer_b.append({"op": "delete", "lo": lo, "hi": lo + p["delete_width"] - 1})
    reader = [int(k) for k in np.where(rng.random(p["reads"]) < 0.8,
                                       rng.integers(0, n, p["reads"]),
                                       a_base + rng.integers(0, 4 * ar, p["reads"]))]
    inputs = {
        "orders": _write(base, f"{work}/in/orders.parquet"),
        "appends": _write(appends, f"{work}/in/appends.parquet"),
        "merges": _write(merges, f"{work}/in/merges.parquet"),
    }
    ops = {
        "warmup": {"append": n_app - 1,
                   "writer_b": [{"op": "merge", "src": n_merge - 1},
                                {"op": "delete", "lo": 0, "hi": p["delete_width"] - 1},
                                {"op": "optimize"}],
                   "reads": [int(k) for k in rng.integers(0, n, 3)]},
        "writer_a": list(range(n_app - 1)),
        "writer_b": writer_b,
        "reader": reader,
    }
    return inputs, ops


DEDUP_STAGES = ["q_quality_filter", "q_minhash_signatures", "q_near_dedup",
                "q_dup_clusters", "q_simhash_near_dup", "q_embed_near_dup",
                "q_contamination", "q_pack_sequences"]


def plan_dedup(rng, work, p):
    inputs = {
        "documents": _write(documents(rng, p["documents"]), f"{work}/in/documents.parquet"),
        "embeddings": _write(embeddings(rng, p["embeddings"]), f"{work}/in/embeddings.parquet"),
    }
    return inputs, {"stages": DEDUP_STAGES}


PLANNERS = {
    "point_reads": plan_reads,
    "large_log_reads": plan_reads,
    "ingest_mix": plan_ingest,
    "dedup_pipeline": plan_dedup,
}


def make_plan(workload, seed, work, params):
    rng = np.random.default_rng(seed)
    inputs, ops = PLANNERS[workload](rng, work, params)
    return inputs, ops
