"""Seeded input generators. The program under test only ever sees what
these functions write or return; the same seed gives the same bytes."""
import hashlib
import os
import random
import zlib

import numpy as np


def chain(bodies):
    """SHA-256 chain over record bodies in order: h' = sha256(h || body)."""
    h = b""
    for b in bodies:
        h = hashlib.sha256(h + b).digest()
    return h.hex()


def live_bodies(seed, n, size):
    """`n` record bodies of `size` seeded-random bytes for live_tail."""
    rng = random.Random(f"live_tail/{seed}")
    return [rng.randbytes(size) for _ in range(n)]


def poisson_offsets(seed, spans):
    """Send offsets (s), in order, of requests arriving as a Poisson
    process: for each (start, length, n) span, n arrival times drawn
    uniformly in [start, start + length), which is a Poisson process
    conditioned on its count. A fixed period would phase-lock with a
    reader whose poll cycle is close to it, and latency would then
    depend on the phase each run happens to start in."""
    rng = random.Random(f"live_tail-schedule/{seed}")
    return [t for start, length, n in spans
            for t in sorted(start + rng.random() * length for _ in range(n))]


def seq_digest(records):
    """Order-free digest of (seq_num, body) records, as the JVM computes
    it over the connector scan: the sum and the xor of
    crc32(seq_num as 8 big-endian bytes || body)."""
    total = xor = 0
    for seq, body in records:
        h = zlib.crc32(seq.to_bytes(8, "big") + body)
        total += h
        xor ^= h
    return total, xor


def bulk_inputs(seed, out_dir, fan_streams, fan_body, deep_streams,
                deep_per_round, deep_body, rounds):
    """Writes fanout.bin (one record per fan-out stream) and deep.bin
    (every deep round back to back); returns the expected record count
    and seq digest of each deep stream. Deep record i goes to stream
    `deep-(i % deep_streams)`, in file order."""
    rng = random.Random(f"bulk_ingest/{seed}")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "fanout.bin"), "wb") as f:
        f.write(rng.randbytes(fan_streams * fan_body))
    n = deep_per_round * rounds
    data = rng.randbytes(n * deep_body)
    with open(os.path.join(out_dir, "deep.bin"), "wb") as f:
        f.write(data)
    view = memoryview(data)
    expected = {}
    for s in range(deep_streams):
        records = ((seq, bytes(view[i * deep_body:(i + 1) * deep_body]))
                   for seq, i in enumerate(range(s, n, deep_streams)))
        total, xor = seq_digest(records)
        expected[f"deep-{s}"] = {"records": len(range(s, n, deep_streams)),
                                 "sum": total, "xor": xor}
    return expected


VOCAB = ("a the data stream spark query table column row key value join "
         "group order sort filter merge hash scan batch window agg part line "
         "customer big small fast slow vector").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def analytics_corpus(seed, out_dir, docs, events, vectors):
    """Writes documents, events and embeddings parquet tables with the
    schemas of the repo's sf testdata (see FIXTURES.md): word-salad
    documents with exact and near duplicates, a month of events, and
    unit-norm 64-d vectors around 10 cluster centres."""
    import duckdb
    import pandas as pd
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # documents: ~2% exact copies and ~8% one-word edits of earlier docs
    texts = []
    for i in range(docs):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.10:
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    documents = pd.DataFrame({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    gaps = rng.exponential(30 * 86400e6 / events, size=events)
    ts_us = (np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
             + np.cumsum(gaps).astype(np.int64))
    ev = pd.DataFrame({
        "event_id": np.arange(events, dtype=np.int64),
        "ts": pd.to_datetime(ts_us, unit="us"),
        "user_id": rng.integers(0, 1500, size=events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=events),
        "value": np.round(rng.exponential(40.0, size=events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=events)],
    })

    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, size=vectors)
    v = centres[labels] + 0.6 * rng.normal(size=(vectors, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pd.DataFrame({
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": [row.tolist() for row in v],
        "label": labels.astype(np.int32),
    })

    con = duckdb.connect()
    for name, df, select in [
            ("documents", documents, "*"),
            ("events", ev, "* REPLACE (CAST(ts AS TIMESTAMP) AS ts)"),
            ("embeddings", emb,
             "vec_id, CAST(embedding AS FLOAT[]) AS embedding, label")]:
        con.register("src", df)
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY (SELECT {select} FROM src) TO '{path}' (FORMAT PARQUET)")
        con.unregister("src")
    con.close()
