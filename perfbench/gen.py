"""Seeded input generation for the lake benchmark.

Everything the engine is fed is made here from the workload seed; the same
seed gives byte-identical inputs. Three input families:

* ``events/day=NN.parquet`` -- one file per source day in the raw shape the
  pipeline ingests (event_id, ts, user_id, event_type, value, props), the
  shape of the sf0.x ``events`` table.
* ``batch/day=NN.parquet`` -- the keyed batch MERGEd into the five table
  layouts on day NN: that day's new events plus seeded corrections of
  earlier events (same key, new value, higher ``rev``).
* ``corpus/{documents,embeddings}.parquet`` -- the LLM-data corpus the
  operator registry reads, in the shape of the sf0.x tables.

``manifest.tsv`` lists, per day, the raw row count (counted here, apart
from the engine, for the audit-log check), the batch row count and the
user erased that day; ``batch.tsv`` repeats every batch row as text, for
the benchmark's own model of the tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAYS = 30
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the data spark table row column key value join group order sort "
         "filter scan merge batch stream window agg query fast slow big small "
         "part line customer hash vector").split()
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.44, 0.13, 0.14, 0.14, 0.15]


def events(rng, events_per_day, users):
    """Raw events for every day, event ids dense and increasing."""
    days = []
    next_id = 0
    for d in range(DAYS):
        n = int(events_per_day * rng.uniform(0.97, 1.03))
        ts = np.sort(rng.integers(0, DAY_US, n)) + EPOCH_US + d * DAY_US
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        days.append({
            "event_id": ids,
            "ts": ts,
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": rng.integers(0, len(EVENT_TYPES), n),
            "value": np.round(rng.gamma(2.0, 25.0, n), 2),
            "k": rng.integers(0, 100, n),
        })
    return days


def write_raw(day, path):
    t = pa.table({
        "event_id": pa.array(day["event_id"], pa.int64()),
        "ts": pa.array(day["ts"], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(day["user_id"], pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in day["event_type"]]),
        "value": pa.array(day["value"], pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in day["k"]]),
    })
    pq.write_table(t, path)


def keyed(day_idx, day):
    return {
        "event_id": day["event_id"],
        "user_id": day["user_id"],
        "event_type": np.array([EVENT_TYPES[i] for i in day["event_type"]], dtype=object),
        "value": day["value"],
        "day": np.full(len(day["event_id"]), day_idx, dtype=np.int32),
        "rev": np.full(len(day["event_id"]), day_idx, dtype=np.int64),
    }


def write_keyed(cols, path):
    t = pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(list(cols["event_type"]), pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "day": pa.array(cols["day"], pa.int32()),
        "rev": pa.array(cols["rev"], pa.int64()),
    })
    pq.write_table(t, path)


def batches(rng, days, correction_share):
    """Day d's batch = its own events (rev d) + corrections of earlier
    events: same key, user, type and day, a new value, rev d."""
    out = []
    for d, day in enumerate(days):
        own = keyed(d, day)
        if d == 0:
            out.append(own)
            continue
        n_fix = max(1, int(len(day["event_id"]) * correction_share))
        src = rng.integers(0, d, n_fix)
        fix = {k: [] for k in own}
        seen = set()
        for sd in src:
            prev = days[sd]
            i = int(rng.integers(0, len(prev["event_id"])))
            eid = int(prev["event_id"][i])
            if eid in seen:
                continue
            seen.add(eid)
            fix["event_id"].append(eid)
            fix["user_id"].append(int(prev["user_id"][i]))
            fix["event_type"].append(EVENT_TYPES[prev["event_type"][i]])
            fix["value"].append(round(float(prev["value"][i]) + float(rng.uniform(1, 50)), 2))
            fix["day"].append(int(sd))
            fix["rev"].append(d)
        merged = {}
        for k in own:
            merged[k] = np.concatenate([np.asarray(own[k]), np.asarray(fix[k], dtype=np.asarray(own[k]).dtype)])
        out.append(merged)
    return out


def corpus(rng, n_docs, n_vecs, dim=64, labels=10):
    """Documents and embeddings whose make-up is the same for every seed:
    exactly 8% exact and 8% near duplicates, the same multiset of document
    lengths, languages and labels; only the content and its order vary."""
    kind = np.zeros(n_docs, dtype=int)  # 0 fresh, 1 exact dup, 2 near dup
    k = n_docs * 8 // 100
    kind[n_docs - 2 * k:n_docs - k] = 1
    kind[n_docs - k:] = 2
    kind[10:] = rng.permutation(kind[10:])
    lengths = rng.permutation(np.arange(n_docs) % 60 + 20)
    texts = []
    for i in range(n_docs):
        if kind[i] == 1:
            texts.append(texts[int(rng.integers(0, i))])
        elif kind[i] == 2:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), lengths[i])))
    langs = np.repeat(np.arange(len(LANGS)), np.round(np.array(LANG_P) * n_docs).astype(int))
    langs = rng.permutation(np.resize(langs, n_docs))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in langs]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0, 1, (labels, dim))
    lab = rng.permutation(np.arange(n_vecs) % labels)
    vecs = centers[lab] + rng.normal(0, 0.8, (n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array([row.astype(np.float32) for row in vecs], pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32)),
    })
    return docs, emb


def generate(out, seed, workload, sizes):
    """Write the inputs ``workload`` needs under ``out``."""
    rng = np.random.default_rng(seed)
    if workload == "corpus_ops":
        os.makedirs(f"{out}/corpus", exist_ok=True)
        docs, emb = corpus(rng, sizes["documents"], sizes["embeddings"])
        pq.write_table(docs, f"{out}/corpus/documents.parquet")
        pq.write_table(emb, f"{out}/corpus/embeddings.parquet")
        return
    days = events(rng, sizes["events_per_day"], sizes["users"])
    keyed_batches = batches(rng, days, sizes["correction_share"])
    os.makedirs(f"{out}/events", exist_ok=True)
    os.makedirs(f"{out}/batch", exist_ok=True)
    erase = rng.integers(0, sizes["users"], DAYS)
    with open(f"{out}/manifest.tsv", "w") as f, open(f"{out}/batch.tsv", "w") as rows:
        for d in range(DAYS):
            b = keyed_batches[d]
            write_raw(days[d], f"{out}/events/day={d:02d}.parquet")
            write_keyed(b, f"{out}/batch/day={d:02d}.parquet")
            f.write(f"{d}\t{len(days[d]['event_id'])}\t"
                    f"{len(b['event_id'])}\t{int(erase[d])}\n")
            for i in range(len(b["event_id"])):
                rows.write(f"{b['event_id'][i]}\t{b['user_id'][i]}\t{b['event_type'][i]}\t"
                           f"{float(b['value'][i])!r}\t{b['day'][i]}\t{b['rev'][i]}\n")
