"""Seeded input generators for the workload benchmark.

Two generators, both pure functions of the seed (numpy's PCG64), both
cached on disk per seed by the caller:

* ``write_bronze`` -- Warsaw-feed bronze polls: one ``{"result":[...]}``
  JSON file per poll under ``WAW/year=/month=/day=``. Each poll carries
  a fleet snapshot with the feed's dirt injected at stated rates (see
  the rate table below for which rates SURVEY.md section 1.4 measured
  and which are guesses): stale re-polled pings (duplicate
  ``(VehicleNumber, Time)`` keys, a few with conflicting payloads),
  out-of-bbox coordinates, malformed ``Time`` strings, empty ``Lines``,
  previous-day pings and GPS jumps past the 70 km/h anomaly cut. Every
  record has the 6th field ``Brigade``, as every sampled record does.
* ``write_corpus`` -- ``documents.parquet`` + ``embeddings.parquet`` in
  the sf-directory layout ``graft.Tables`` reads. Calibrated to the
  sf0.1 fixture's shape (30-word vocabulary with the two English
  stopwords, 10-100 tokens, 41% ``en``, 5% " dup"-suffixed near
  duplicates, a handful of exact copies, ``source = src<doc_id % 20>``
  so ``src0`` is the arriving batch) so every curation-audit stage
  fires in about sf0.1's proportions.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY = (2026, 2, 23)

# Dirt rates, per record. Measured in SURVEY.md section 1.4 (93 files,
# 132,380 records):
STALE_RATE = 0.20        # re-polled unchanged ping; 28,286 redundant rows
CONFLICT_RATE = 3 / 55_739  # same (vehicle, Time) key, different position
OUT_OF_BBOX_RATE = 0.024    # 3,149 records
# Guesses: section 1.4 found no malformed Time and no empty Lines (the
# silver filters for them are kept, so the benchmark feeds them a
# little), and it gives no rate for stale-clock dates or GPS jumps.
MALFORMED_TIME_RATE = 0.004
EMPTY_LINES_RATE = 0.004
PREV_DAY_RATE = 0.03
GPS_JUMP_RATE = 0.01     # in-bbox jump that the speed cut removes

POLL_INTERVAL_S = 15

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_DUP_RATE = 0.05
EXACT_DUP_RATE = 0.0016
N_SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10


def _clock(sec_of_day):
    s = int(sec_of_day)
    return "%02d:%02d:%02d" % (s // 3600, (s // 60) % 60, s % 60)


def bronze_polls(seed, n_polls, n_vehicles, start_sec=8 * 3600):
    """Yield ``(file_name, json_text)`` for ``n_polls`` consecutive
    polls of a ``n_vehicles`` fleet, fully determined by ``seed``."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_lines = max(4, n_vehicles // 8)
    lines = np.array(["%d" % (100 + i) if i % 5 else "L-%d" % i
                      for i in range(n_lines)])
    line_of = rng.integers(0, n_lines, n_vehicles)
    vno = np.array(["%d" % v for v in rng.choice(np.arange(1000, 10000),
                                                 n_vehicles, replace=False)])
    brigade = rng.integers(1, 40, n_vehicles)
    lat = rng.uniform(52.08, 52.32, n_vehicles)
    lon = rng.uniform(20.7, 21.3, n_vehicles)
    # heading as a per-vehicle unit step; ~5-11 m/s
    ang = rng.uniform(0, 2 * np.pi, n_vehicles)
    spd = rng.uniform(5.0, 11.0, n_vehicles)
    last = [None] * n_vehicles
    y, m, d = DAY
    date = "%04d-%02d-%02d" % DAY
    prev_date = "%04d-%02d-%02d" % (y, m, d - 1)
    for p in range(n_polls):
        t_poll = start_sec + p * POLL_INTERVAL_S
        ang += rng.normal(0, 0.3, n_vehicles)
        step_m = spd * POLL_INTERVAL_S
        lat = np.clip(lat + np.sin(ang) * step_m / 111_000.0, 52.02, 52.38)
        lon = np.clip(lon + np.cos(ang) * step_m / 68_000.0, 20.52, 21.48)
        u = rng.random((n_vehicles, 8))
        lag = rng.integers(0, 10, n_vehicles)
        recs = []
        for v in range(n_vehicles):
            if u[v, 0] < 0.05:      # vehicle absent from this poll
                continue
            if last[v] is not None and u[v, 1] < STALE_RATE:
                rec = dict(last[v])
                if u[v, 2] < CONFLICT_RATE / STALE_RATE:
                    rec["Lat"] = round(rec["Lat"] + 0.0004, 6)
            else:
                la, lo = round(float(lat[v]), 6), round(float(lon[v]), 6)
                if u[v, 3] < GPS_JUMP_RATE:
                    la = round(min(52.39, la + 0.01), 6)
                rec = {"Lines": str(lines[line_of[v]]),
                       "VehicleNumber": str(vno[v]),
                       "Lat": la, "Lon": lo,
                       "Time": "%s %s" % (date, _clock(t_poll - lag[v]))}
                r = u[v, 4]
                if r < OUT_OF_BBOX_RATE:
                    rec["Lon"] = round(1.23 + u[v, 5], 6)
                elif r < OUT_OF_BBOX_RATE + MALFORMED_TIME_RATE:
                    rec["Time"] = "%s 25:%02d:xx" % (date, p % 60)
                elif r < OUT_OF_BBOX_RATE + MALFORMED_TIME_RATE + EMPTY_LINES_RATE:
                    rec["Lines"] = " "
                elif r < (OUT_OF_BBOX_RATE + MALFORMED_TIME_RATE
                          + EMPTY_LINES_RATE + PREV_DAY_RATE):
                    rec["Time"] = "%s %s" % (prev_date, _clock(t_poll - lag[v]))
                last[v] = rec
            recs.append(dict(rec, Brigade=str(brigade[v])))
        name = "WAW_%04d%02d%02d_%s.json" % (y, m, d, _clock(t_poll).replace(":", ""))
        yield name, json.dumps({"result": recs}, separators=(",", ":"))


def bronze_day_dir(root):
    y, m, d = DAY
    return os.path.join(root, "WAW", "year=%04d" % y, "month=%02d" % m,
                        "day=%02d" % d)


def write_bronze(root, seed, n_polls, n_vehicles, start_sec=8 * 3600):
    """Write the polls under ``root/WAW/year=/month=/day=``; returns
    (files, records)."""
    day_dir = bronze_day_dir(root)
    os.makedirs(day_dir, exist_ok=True)
    n_rec = 0
    for name, text in bronze_polls(seed, n_polls, n_vehicles, start_sec):
        with open(os.path.join(day_dir, name), "w") as f:
            f.write(text)
        n_rec += text.count('"VehicleNumber"')
    return n_polls, n_rec


def n_vectors(n_docs):
    return max(EMB_LABELS * 4, int(n_docs * 0.4))


def write_corpus(root, seed, n_docs):
    """Write ``documents.parquet`` and ``embeddings.parquet`` (0.4
    vectors per document, unit-norm, 10 weak clusters) under ``root``."""
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(root, exist_ok=True)
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    texts, off = [], 0
    for n in lens:
        texts.append(" ".join(vocab[words[off:off + n]]))
        off += n
    # near duplicates: a copy of another document plus one token;
    # exact duplicates: a verbatim copy (at least eight, so the stage
    # fires at every size even after the earlier stages take some)
    kind = rng.random(n_docs)
    src = rng.integers(0, n_docs, n_docs)
    exact = set(rng.choice(n_docs, max(8, int(n_docs * EXACT_DUP_RATE)), replace=False).tolist())
    for i in range(n_docs):
        j = int(src[i])
        if j == i:
            continue
        if i in exact:
            texts[i] = texts[j]
        elif kind[i] < NEAR_DUP_RATE:
            texts[i] = texts[j] + " dup"
    lang = rng.choice(LANGS, n_docs, p=LANG_P)
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": lang.tolist(),
        "source": ["src%d" % (i % N_SOURCES) for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(docs, os.path.join(root, "documents.parquet"))

    n_vec = n_vectors(n_docs)
    centers = rng.normal(0, 1, (EMB_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, EMB_LABELS, n_vec)
    raw = centers[label] * 0.6 + rng.normal(0, 1, (n_vec, EMB_DIM))
    emb = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    vecs = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    pq.write_table(vecs, os.path.join(root, "embeddings.parquet"))
    return n_docs, int(sum(len(t.encode()) for t in texts))
