"""Seeded input generator for the perfbench workloads.

The same seed always yields byte-identical inputs. The engine only ever sees
the files written here; every size below is a module constant, and the reason
for it sits next to it.

Layout written under ``<dir>``:

ingest_serve
    history.parquet        initial landing load, committed during set-up
    batches/bNNNNN.parquet the landing batches handed over one per commit
    requests.json          the reads issued after each commit
curation_batch
    corpus/documents.parquet, corpus/embeddings.parquet  (testdata layout)
    probes.json            the probe set of the multi-probe top-k stage

Landing files use the all-string ``Schemas.landing`` layout: ``_id``,
``DATETIME`` and the 33 measure and percentage columns, every one a string.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FUELS = ["GAS", "COAL", "NUCLEAR", "WIND", "WIND_EMB", "HYDRO",
         "IMPORTS", "BIOMASS", "OTHER", "SOLAR", "STORAGE"]
DERIVED = ["GENERATION", "CARBON_INTENSITY", "LOW_CARBON", "ZERO_CARBON",
           "RENEWABLE", "FOSSIL"]
PERCS = [c + "_perc" for c in FUELS + ["GENERATION", "LOW_CARBON",
                                       "ZERO_CARBON", "RENEWABLE", "FOSSIL"]]
LANDING_COLS = ["_id", "DATETIME"] + FUELS + DERIVED + PERCS

# Upper bounds (MW) of each fuel's uniform draw. Values are whole numbers,
# like the reference feed, so GENERATION and its hourly sums are exact.
FUEL_MAX = {"GAS": 15000, "COAL": 3000, "NUCLEAR": 6000, "WIND": 15000,
            "WIND_EMB": 2000, "HYDRO": 1000, "IMPORTS": 8000,
            "BIOMASS": 3000, "OTHER": 500, "SOLAR": 8000, "STORAGE": 1500}
EPOCH = np.datetime64("2023-01-01T00:00:00")
SLOT = np.timedelta64(30, "m")  # one landing row per half hour, _id-th slot

# Defect mix of every landing row. The kinds are the reference's own test
# cases (FIXTURES.md section 3, after tests/test_transform.py): lenient casts
# ("not-a-date" timestamp, non-numeric cell), an inconsistent percentage,
# missing key values, and the two keep-last dedup cases (same _id, same
# DATETIME). Each has a single, deterministic outcome in the transform, so
# the oracle can replay it. The rates are NOT the reference's: it publishes
# none, so they are unverified choices, set so that the history carries
# every kind many times over.
P_NULL_ID = 0.015        # dropped (null key)
P_BAD_TS = 0.015         # unparseable DATETIME -> null -> dropped
P_BAD_NUM = 0.02         # one measure cell not a number -> null -> 0.0
P_BAD_PERC = 0.05        # one fuel _perc off by > tolerance -> repaired
P_DUP = 0.01             # exact duplicate row inside the batch
P_TS_CLASH = 0.01        # DATETIME of another row -> keep-last by _id
P_LATE_RESEND = 0.01     # the row sent again, 30-90 min later -> keep-last by DATETIME
BAD_TS = ["", "not-a-date", "n/a", "2023/01/01 00:00:00", "2023-01-01 00:00:00"]
BAD_NUM = ["n/a", "", "--", "abc"]

# ingest_serve. One commit is one scheduled run of the reference: it runs
# hourly (conf/config.json:10, BASELINE.md) over half-hourly rows, so a
# batch holds 2 new slots. The reference loads its history once, then
# follows it with keyset pages; re-sent rows are handled by keep-last dedup
# and upsert (SURVEY.md section 2.10), but how many arrive per run is not
# published, so INGEST_RESENT_PER_BATCH and the skew of re-sent _ids toward
# recent ones (geometric, mean RESEND_MEAN_BACK slots back) are unverified
# choices. The history is 120 days (5 760 rows), not the reference's
# ~300 000 rows (README.md:15): an unverified choice that keeps the cold
# initial commit inside the set-up budget. 60 batches cover more commits
# than a run reaches on a 4-core host (a longer run hands the batches over
# again, which the keep-last oracle also replays).
INGEST_HISTORY_ROWS = 48 * 120
INGEST_NEW_PER_BATCH = 2
INGEST_RESENT_PER_BATCH = 2
RESEND_MEAN_BACK = 48
INGEST_BATCHES = 60
# The reads after each commit. The reference dashboard re-reads its table
# only when max(_id) moves (src/app/utils/data_loader.py:36-55), which the
# VersionedCache probe on the Tx version reproduces, and resamples at 30m,
# 1h or 1d, three of its UI intervals (conf/config.json:11). Everything
# else is an unverified choice: four reads per commit, all inside the last
# four weeks; a chart (the first read after a commit, so it misses the
# cache), a hash-pruned point lookup of 5 _ids, a second chart (a cache
# hit), then in turn a rollup read, a zone-map range read of up to 3 days,
# or a time-travel read 1-5 commits back; chart ranges of 1-14 days. The
# mix of kinds is fixed per cycle and only the seed's parameters vary, which
# keeps cycles comparable.
INGEST_READS = [["dash", "point", "dash", k] for k in ("rollup", "range", "travel")]
EVERY = ["30m", "1h", "1d"]
# curation_batch: 500 base documents (the query layer adds its planted
# copies on top, as q73/q176 do) and 1000 64-d embeddings around 16
# centres (unverified choices). A warm job is then about 6 s on 4 cores,
# mostly fixed per-stage cost, so a 12 s window holds two or three jobs.
CURATION_DOCS = 500
CURATION_NEAR_DUP = 0.12
CURATION_VOCAB = 400
CURATION_VECS = 1000
CURATION_DIM = 64
CURATION_PROBES = 8


def _fmt_ts(ids):
    return np.datetime_as_string(EPOCH + ids.astype("timedelta64[m]") * 30,
                                 unit="s").astype(object)


def landing_rows(rng, ids):
    """Typed-clean landing rows for `ids`, as string columns (no defects)."""
    n = len(ids)
    vals = {f: rng.integers(0, FUEL_MAX[f] + 1, n) for f in FUELS}
    vals["GAS"] = vals["GAS"] + 1000  # GENERATION > 0: no 0/0 percentages
    gen = sum(vals[f] for f in FUELS)
    low = sum(vals[f] for f in ["NUCLEAR", "WIND", "WIND_EMB", "HYDRO",
                                "BIOMASS", "SOLAR"])
    zero = sum(vals[f] for f in ["NUCLEAR", "WIND", "WIND_EMB", "HYDRO",
                                 "SOLAR"])
    ren = sum(vals[f] for f in ["WIND", "WIND_EMB", "HYDRO", "BIOMASS",
                                "SOLAR"])
    vals.update(GENERATION=gen, LOW_CARBON=low, ZERO_CARBON=zero,
                RENEWABLE=ren, FOSSIL=vals["GAS"] + vals["COAL"],
                CARBON_INTENSITY=rng.integers(20, 351, n))
    cols = {"_id": ids.astype(str).astype(object), "DATETIME": _fmt_ts(ids)}
    for c in FUELS + DERIVED:
        cols[c] = vals[c].astype(str).astype(object)
    for c in PERCS:
        pct = np.round(vals[c[:-5]] / gen * 100.0, 1)
        cols[c] = np.char.mod("%.1f", pct).astype(object)
    return cols


def with_defects(rng, cols):
    """Apply the fixed defect mix; returns the (possibly longer) columns."""
    n = len(cols["_id"])
    out = {c: v.copy() for c, v in cols.items()}
    # a DATETIME clash copies another row's timestamp; it runs first so the
    # copied value is always a valid one
    clash = np.flatnonzero(rng.random(n) < P_TS_CLASH)
    for i in clash:
        out["DATETIME"][i] = cols["DATETIME"][rng.integers(0, n)]
    for i in np.flatnonzero(rng.random(n) < P_BAD_NUM):
        c = FUELS[rng.integers(0, len(FUELS))] if rng.random() < 0.5 else \
            DERIVED[rng.integers(0, len(DERIVED))]
        out[c][i] = BAD_NUM[rng.integers(0, len(BAD_NUM))]
    for i in np.flatnonzero(rng.random(n) < P_BAD_PERC):
        c = FUELS[rng.integers(0, len(FUELS))] + "_perc"
        out[c][i] = "%.1f" % (float(out[c][i]) + rng.uniform(2.0, 20.0))
    for i in np.flatnonzero(rng.random(n) < P_BAD_TS):
        out["DATETIME"][i] = BAD_TS[rng.integers(0, len(BAD_TS))]
    for i in np.flatnonzero(rng.random(n) < P_NULL_ID):
        out["_id"][i] = None
    dup = np.flatnonzero(rng.random(n) < P_DUP)
    late = np.flatnonzero(rng.random(n) < P_LATE_RESEND)
    copies = {c: v[late].copy() for c, v in out.items()}
    shift = rng.integers(1, 4, len(late)).astype("timedelta64[m]") * 30
    copies["DATETIME"] = np.datetime_as_string(
        cols["DATETIME"][late].astype("datetime64[s]") + shift, unit="s").astype(object)
    out = {c: np.concatenate([v, v[dup], copies[c]]) for c, v in out.items()}
    # empty strings stand for "cell present but blank"; None is a null cell
    return out


def write_landing(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tbl = pa.table({c: pa.array(list(cols[c]), type=pa.string())
                    for c in LANDING_COLS})
    pq.write_table(tbl, path)


def resent_ids(rng, newest, k, span):
    """k distinct already-sent ids, skewed toward the newest ones."""
    back = np.unique(np.minimum(rng.geometric(1.0 / RESEND_MEAN_BACK, 4 * k), span) - 1)
    rng.shuffle(back)
    return np.sort(newest - back[:k]).astype(np.int64)


def batch_cols(rng, next_id, n_new, n_resent):
    new = np.arange(next_id, next_id + n_new, dtype=np.int64)
    old = resent_ids(rng, next_id - 1, n_resent, next_id)
    return with_defects(rng, landing_rows(rng, np.concatenate([new, old])))


def dash_request(rng, lo_slot, hi_slot):
    """A dashboard read: a date range of 1-14 days inside [lo, hi] slots."""
    days = int(rng.integers(1, 15))
    width = days * 48
    start = int(rng.integers(lo_slot, max(lo_slot + 1, hi_slot - width)))
    every = EVERY[rng.integers(0, len(EVERY))]
    cols = FUELS if rng.random() < 0.5 else [f + "_perc" for f in FUELS]
    return {"kind": "dash", "every": every, "start": slot_ts(start),
            "end": slot_ts(start + width), "cols": cols}


def slot_ts(slot):
    return str(np.datetime_as_string(EPOCH + SLOT * int(slot), unit="s")).replace("T", " ")


def read_request(rng, kind, top):
    """One read over the four weeks of slots before `top`."""
    lo = top - 48 * 28
    if kind == "dash":
        return dash_request(rng, lo, top)
    if kind == "point":
        return {"kind": "point",
                "ids": sorted(int(i) for i in rng.choice(np.arange(lo, top), 5, replace=False))}
    start = int(rng.integers(lo, top - 48 * 3))
    if kind == "range":
        return {"kind": "range", "start": slot_ts(start),
                "end": slot_ts(start + int(rng.integers(12, 48 * 3)))}
    if kind == "rollup":
        return {"kind": "rollup", "start": slot_ts(start),
                "end": slot_ts(start + 48 * int(rng.integers(1, 8)))}
    return {"kind": "travel", "back": int(rng.integers(1, 6)), "start": slot_ts(lo),
            "end": slot_ts(lo + 48 * 14)}


def gen_ingest(rng, d):
    hist = np.arange(0, INGEST_HISTORY_ROWS, dtype=np.int64)
    write_landing(f"{d}/history.parquet", with_defects(rng, landing_rows(rng, hist)))
    next_id = INGEST_HISTORY_ROWS
    for b in range(INGEST_BATCHES):
        write_landing(f"{d}/batches/b{b:05d}.parquet",
                      batch_cols(rng, next_id, INGEST_NEW_PER_BATCH,
                                 INGEST_RESENT_PER_BATCH))
        next_id += INGEST_NEW_PER_BATCH
    reqs = []
    for b in range(INGEST_BATCHES):
        top = INGEST_HISTORY_ROWS + (b + 1) * INGEST_NEW_PER_BATCH
        reqs += [read_request(rng, k, top) for k in INGEST_READS[b % len(INGEST_READS)]]
    with open(f"{d}/requests.json", "w") as f:
        json.dump({"reads_per_commit": len(INGEST_READS[0]),
                   "rows_per_batch": INGEST_NEW_PER_BATCH + INGEST_RESENT_PER_BATCH,
                   "requests": reqs}, f)


def gen_curation(rng, d):
    os.makedirs(f"{d}/corpus", exist_ok=True)
    vocab = np.array([f"w{i}" for i in range(CURATION_VOCAB)], dtype=object)
    zipf = 1.0 / np.arange(1, CURATION_VOCAB + 1) ** 1.1
    zipf /= zipf.sum()
    texts, originals = [], []
    for i in range(CURATION_DOCS):
        if originals and rng.random() < CURATION_NEAR_DUP:
            # near-duplicate of an earlier original: a few tokens replaced
            # (copies of copies would chain clusters and add CC rounds)
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = vocab[rng.choice(CURATION_VOCAB, p=zipf)]
        else:
            toks = list(vocab[rng.choice(CURATION_VOCAB, int(rng.integers(25, 70)), p=zipf)])
            originals.append(i)
        texts.append(" ".join(toks))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(CURATION_DOCS, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(["en"] * CURATION_DOCS, type=pa.string()),
        "source": pa.array([f"src{i % 5}" for i in range(CURATION_DOCS)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), f"{d}/corpus/documents.parquet")
    centres = rng.normal(0.0, 1.0, (16, CURATION_DIM))
    label = rng.integers(0, 16, CURATION_VECS)
    emb = (centres[label] + rng.normal(0.0, 0.35, (CURATION_VECS, CURATION_DIM))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(CURATION_VECS, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }), f"{d}/corpus/embeddings.parquet")
    probes = sorted(int(p) for p in rng.choice(np.arange(1, CURATION_VECS), CURATION_PROBES, replace=False))
    with open(f"{d}/probes.json", "w") as f:
        json.dump({"probes": probes}, f)


GENERATORS = {"ingest_serve": gen_ingest, "curation_batch": gen_curation}


def generate(workload, seed, d):
    """Write the inputs of `workload` for `seed` into directory `d`."""
    rng = np.random.default_rng([seed, list(GENERATORS).index(workload)])
    GENERATORS[workload](rng, d)
