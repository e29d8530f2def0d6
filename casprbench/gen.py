"""Seeded input generators for casprbench.

Every draw comes from one random.Random seeded from the run's --seed, and
rows are written in generation order to a fixed number of parquet files,
so one seed always yields byte-identical files. The program under test
reads only the tables written here; the truth tables ride beside them for
the output checks. The shape constants mirror casprbench.Params (Scala).
"""
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

PRED_EPOCH_S = 1717200000  # 2024-06-01T00:00:00Z, Params.PredTs
HISTORY_DAYS = 90
SEQ_LEN = 10
MAX_CARDINALITY = 30000
SHINGLE_N = 3
TAU = 0.5
MAX_BUCKET = 200
# admission truth keeps only clear cases: a planted copy at exact Jaccard
# >= 0.85 collides in a 16x4 banding with probability 1 - 7e-6, and
# unrelated docs sit near 0
CLEAR_DUP = 0.85
FILES = 4

EVENTS = {
    "embed_batch": dict(entities=4000, mean_events=3 * SEQ_LEN, items=45000,
                        profile=True),
    "train_ae": dict(entities=2000, mean_events=SEQ_LEN // 2, items=50,
                     profile=False),
}


def write(columns, schema, path):
    table = pa.table(columns, schema=schema)
    os.makedirs(path)
    n = table.num_rows
    for i in range(FILES):
        lo, hi = n * i // FILES, n * (i + 1) // FILES
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def quantile(sorted_counts, q):
    return sorted_counts[min(len(sorted_counts) - 1, int(q * len(sorted_counts)))]


def events(spec, seed, out):
    """Event log (+ entity profile). Event counts per entity are lognormal
    shares of a fixed total, so the tail is heavy and every seed has the
    same row count. A third of events fall outside the history window;
    none falls within half a day of a window edge, so the in-window entity
    set is unambiguous."""
    rng = random.Random(seed * 1000003 + 1)
    n_ent, total = spec["entities"], spec["entities"] * spec["mean_events"]
    w = [rng.lognormvariate(0, 1) for _ in range(n_ent)]
    w_sum = sum(w)
    counts = [1 + int(x / w_sum * (total - n_ent)) for x in w]
    for u in range(total - sum(counts)):
        counts[u] += 1
    cols = {k: [] for k in ("user_id", "event_id", "ts", "channel", "item",
                            "amount", "dwell")}
    outside = in_window_entities = 0
    in_window_items = set()
    for u, n in enumerate(counts):
        any_in = False
        for _ in range(n):
            out_of_window = rng.random() < 1 / 3
            days = (HISTORY_DAYS + 0.5 + rng.random() * 300 if out_of_window
                    else 0.5 + rng.random() * (HISTORY_DAYS - 1))
            item = f"i{int(spec['items'] * rng.random() ** 2)}"
            cols["user_id"].append(u)
            cols["event_id"].append(len(cols["event_id"]))
            cols["ts"].append((PRED_EPOCH_S - int(days * 86400)) * 1_000_000)
            cols["channel"].append(f"c{int(6 * rng.random() * rng.random())}")
            cols["item"].append(item)
            cols["amount"].append(round(rng.lognormvariate(3, 1), 2))
            cols["dwell"].append(rng.expovariate(1 / 30))
            if out_of_window:
                outside += 1
            else:
                any_in = True
                in_window_items.add(item)
        in_window_entities += any_in
    write(cols, pa.schema([
        ("user_id", pa.int64()), ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")), ("channel", pa.string()),
        ("item", pa.string()), ("amount", pa.float64()),
        ("dwell", pa.float64())]), os.path.join(out, "events"))
    if spec["profile"]:
        prng = random.Random(seed * 1000003 + 2)
        write({"user_id": list(range(n_ent)),
               "segment": [1 + prng.randrange(5) for _ in range(n_ent)],
               "tenure": [prng.random() for _ in range(n_ent)]},
              pa.schema([("user_id", pa.int64()), ("segment", pa.int32()),
                         ("tenure", pa.float64())]),
              os.path.join(out, "profile"))
    s = sorted(counts)
    return {"rows": total, "entities": n_ent,
            "entities_in_window": in_window_entities,
            "events_per_entity_p50": quantile(s, 0.5),
            "events_per_entity_p99": quantile(s, 0.99),
            "outside_window_frac": outside / total,
            "item_cardinality_in_window": len(in_window_items),
            "max_cardinality_cap": MAX_CARDINALITY, "seq_len": SEQ_LEN}


def shingles(text, n=SHINGLE_N):
    """Distinct lowercased, whitespace-split word n-grams: the benchmark's
    own shingle rule (Params.shingles applies it to returned pairs)."""
    w = text.lower().split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a, b):
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def corpus(seed, out):
    """Word-level corpus: planted near-duplicate clusters (an original plus
    1-3 copies with 1-4 word edits each), one boilerplate cluster of
    identical docs larger than the bucket cap, and random singletons; ~20%
    of the non-boilerplate docs form the new batch."""
    rng = random.Random(seed * 1000003 + 3)
    total, clusters, boiler = 8000, 300, MAX_BUCKET + 100

    def word():
        return f"w{int(5000 * rng.random() ** 2)}"

    def doc(n):
        return [word() for _ in range(n)]

    def edit(d, edits):
        d = list(d)
        for _ in range(edits):
            i, op = rng.randrange(len(d)), rng.randrange(4)
            if op == 0:
                d.insert(i, word())
            elif op == 1 and len(d) > 30:
                del d[i]
            else:
                d[i] = word()
        return d

    docs = []  # (text, cluster): -1 singleton, -2 boilerplate
    for c in range(clusters):
        orig = doc(40 + rng.randrange(41))
        docs.append((" ".join(orig), c))
        for _ in range(1 + rng.randrange(3)):
            docs.append((" ".join(edit(orig, 1 + rng.randrange(4))), c))
    boiler_text = " ".join(doc(50))
    docs += [(boiler_text, -2)] * boiler
    while len(docs) < total:
        docs.append((" ".join(doc(40 + rng.randrange(41))), -1))
    rng.shuffle(docs)  # ids carry no structure
    in_batch = [c != -2 and rng.random() < 0.2 for _, c in docs]

    sh = [shingles(t) for t, _ in docs]
    members = {}
    for i, (_, c) in enumerate(docs):
        if c >= 0:
            members.setdefault(c, []).append(i)
    pairs, admit = [], []
    for c in sorted(members):
        base = [i for i in members[c] if not in_batch[i]]
        pairs += [(i, j) for i in base for j in base
                  if i < j and jaccard(sh[i], sh[j]) >= TAU]
        for i in members[c]:
            if in_batch[i]:
                best = max((jaccard(sh[i], sh[j]) for j in base), default=0.0)
                if best >= CLEAR_DUP:
                    admit.append((i, True))
                elif not base:
                    admit.append((i, False))
    admit += [(i, False) for i, (_, c) in enumerate(docs)
              if in_batch[i] and c == -1]

    doc_schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    for name, flag in (("base", False), ("batch", True)):
        ids = [i for i in range(total) if in_batch[i] == flag]
        write({"doc_id": ids, "text": [docs[i][0] for i in ids]}, doc_schema,
              os.path.join(out, name))
    write({"doc_a": [a for a, _ in pairs], "doc_b": [b for _, b in pairs]},
          pa.schema([("doc_a", pa.int64()), ("doc_b", pa.int64())]),
          os.path.join(out, "truth_pairs"))
    write({"doc_id": [i for i, _ in admit], "dup": [d for _, d in admit]},
          pa.schema([("doc_id", pa.int64()), ("dup", pa.bool_())]),
          os.path.join(out, "truth_admit"))
    n_batch = sum(in_batch)
    return {"rows": total, "base_docs": total - n_batch, "batch_docs": n_batch,
            "planted_clusters": clusters, "planted_pairs": len(pairs),
            "admit_truth_dup": sum(d for _, d in admit),
            "admit_truth_novel": sum(not d for _, d in admit),
            "largest_bucket": boiler, "max_bucket_cap": MAX_BUCKET}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` under `out` (unless already
    there) and return the input properties actually produced."""
    meta = os.path.join(out, "_meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(out, ignore_errors=True)  # drop a half-written set
        os.makedirs(out)
        props = (corpus(seed, out) if workload == "near_dup"
                 else events(EVENTS[workload], seed, out))
        with open(meta, "w") as f:
            json.dump(props, f, sort_keys=True)
    with open(meta) as f:
        return json.load(f)
