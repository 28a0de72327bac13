"""Seeded input generator for the graft benchmark.

Every workload's inputs come from one `numpy` PCG64 stream seeded by
`--seed`, so the same seed gives byte-identical tables and the same
digest.  The tables use the schemas of the repo's test data (TESTDATA.md):

  events    (event_id BIGINT, ts TIMESTAMP[us], user_id BIGINT,
             event_type STRING, value DOUBLE, props STRING)
  documents (doc_id BIGINT, text STRING, lang STRING, source STRING,
             n_chars BIGINT)

The traffic profile is fitted to that test data: the values below were
measured with DuckDB on the sf0.1 tables (100 000 events, 5 000
documents) and agree with sf0.01 and sf0.001 (README.md, "Inputs").

  events_per_key  pk skew: `user_id` draws `events / events_per_key`
                  keys.  Measured 66.7 (1 500 keys per 100 000 events),
                  drawn uniformly: the busiest key holds 1.46x the mean,
                  as a uniform draw gives, so `zipf_s` = 0 (weight
                  rank^-s; a larger s skews last-writer-wins, state size
                  and dispatch)
  mix             I/U/D mix through event_type (signup=I, error=D,
                  click/view/purchase=U): measured 0.20/0.60/0.20
  props_pad       `props` payload: measured `{"k": N}`, N uniform in
                  0..99 (8-9 characters); `props_pad` > 0 appends that
                  many characters (codec bytes)
  value_mean      `value` ~ exponential, 2 decimals: measured mean 49.9
  gap_s_mean      `ts` gaps ~ exponential: measured mean 25.9 s
                  (30 days over 100 000 events), events in ts order
  rate            open-loop stream rate, rows/s, in `slice_ms` slices
  words           documents draw tokens uniformly from the test data's
                  30 words
  len_tokens      document length, uniform: measured 10..100 tokens
  langs           measured `lang` shares
  near_dup        share of documents that copy another document and
                  append the token "dup": measured 0.049 (244 of 5 000
                  documents are the later member of a word-3-gram
                  Jaccard >= 0.5 pair; 218 of the 256 pairs score 1.0)
  sources         `source` is uniform over src0..src(n-1): measured 20
  bench_share     share of `src0`, the benchmark suite decontamination
                  checks against: measured 0.05.  The test data plants
                  no copied runs: with its 30-word vocabulary, 99.6% of
                  the other documents already share >= 10% of their
                  word 3-grams with src0, so contamination follows from
                  the vocabulary and this share
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROFILES = {
    # batch changelog + the open-loop stream plan and drain backlog
    "changefeed": dict(events=25_000, events_per_key=66.7, zipf_s=0.0,
                       mix=(0.20, 0.60, 0.20), props_pad=0,
                       value_mean=49.9, gap_s_mean=25.9,
                       rate=4_000, slice_ms=100,
                       backlog_slices=20, backlog_rows=2_000),
    "curation_cold": dict(docs=1_000, len_tokens=(10, 100), near_dup=0.049,
                          sources=20, bench_share=0.05,
                          langs={"en": 0.412, "zh": 0.151, "es": 0.149,
                                 "fr": 0.148, "de": 0.140}),
}

# warm-up inputs: same shapes, smaller. The timed workloads warm up on
# their timed inputs; these feed the stream's warm-up drain and the
# curation set-up pass.
WARMUP = {
    "changefeed": dict(events=2_000, backlog_slices=4),
    "curation_cold": dict(docs=200),
}

EVENT_TYPES = np.array(["signup", "click", "view", "purchase", "error"])
WORDS = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window"])
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _letters(rng, n):
    return (rng.integers(0, 26, n, dtype=np.uint8) + 97).tobytes().decode()


def _keys(rng, n, p):
    """`user_id` over `n / events_per_key` keys, rank r drawn with
    weight r^-zipf_s; the rank->key map is a seeded permutation."""
    users = max(1, round(n / p["events_per_key"]))
    w = 1.0 / np.arange(1, users + 1) ** p["zipf_s"]
    ranks = rng.choice(users, size=n, p=w / w.sum())
    return rng.permutation(users)[ranks].astype(np.int64)


def _event_types(rng, n, mix):
    ins, upd, dele = mix
    p = [ins, upd / 3, upd / 3, upd / 3, dele]
    return EVENT_TYPES[rng.choice(5, size=n, p=p)]


def _props(rng, n, pad):
    ks = rng.integers(0, 100, n).tolist()
    if not pad:
        return [f'{{"k": {k}}}' for k in ks]
    text = _letters(rng, n * pad)
    return [f'{{"k": {k}, "s": "{text[i * pad:(i + 1) * pad]}"}}'
            for i, k in enumerate(ks)]


def events_table(rng, n, first_id, p, ts_us=None):
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    if ts_us is None:
        gaps = rng.exponential(p["gap_s_mean"] * 1e6, n).astype(np.int64)
        ts_us = T0_US + np.cumsum(gaps + 1)
    cols = {
        "event_id": pa.array(ids),
        "ts": pa.array(ts_us.astype("datetime64[us]")),
        "user_id": pa.array(_keys(rng, n, p)),
        "event_type": pa.array(_event_types(rng, n, p["mix"])),
        "value": pa.array(np.round(rng.exponential(p["value_mean"], n), 2)),
        "props": pa.array(_props(rng, n, p["props_pad"])),
    }
    return pa.table(cols)


def documents_table(rng, p):
    """Documents of uniform words and length; a `near_dup` share copies
    another (non-copy) document and appends "dup", with its own lang and
    source.  Returns the table and the planted pairs (lower id first)."""
    n = p["docs"]
    lo, hi = p["len_tokens"]
    lens = rng.integers(lo, hi + 1, n)
    dup = np.zeros(n, dtype=bool)
    dup[rng.choice(n, size=round(n * p["near_dup"]), replace=False)] = True
    originals = np.flatnonzero(~dup)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in lens.tolist()]
    planted = []
    for i in np.flatnonzero(dup).tolist():
        src = int(rng.choice(originals))
        texts[i] = texts[src] + " dup"
        planted.append((min(src, i), max(src, i)))
    langs = list(p["langs"])
    w = np.array([p["langs"][k] for k in langs])
    lang = np.array(langs)[rng.choice(len(langs), size=n, p=w / w.sum())]
    k = p["sources"]
    sw = np.full(k, (1 - p["bench_share"]) / (k - 1))
    sw[0] = p["bench_share"]
    source = np.array([f"src{i}" for i in range(k)])[rng.choice(k, size=n, p=sw)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return table, sorted(planted)


class Digest:
    """sha256 over every generated table's content, column by column."""

    def __init__(self):
        self.h = hashlib.sha256()

    def add(self, name, table):
        self.h.update(name.encode())
        for c in table.column_names:
            self.h.update(c.encode())
            col = table.column(c).combine_chunks()
            if pa.types.is_string(col.type):
                for v in col.to_pylist():
                    self.h.update(v.encode())
                    self.h.update(b"\0")
            else:
                self.h.update(col.to_numpy(zero_copy_only=False).tobytes())

    def hexdigest(self):
        return self.h.hexdigest()[:16]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def generate(workload, seed, out, warmup=False, seconds=10.0):
    """Write `workload`'s inputs for `seed` under `out`; return the
    manifest (also written to `out/manifest.json`). The stream's
    open-loop plan covers the run's `seconds`."""
    p = dict(PROFILES[workload])
    if warmup:
        p.update(WARMUP[workload])
    rng = np.random.Generator(np.random.PCG64(seed))
    d = Digest()
    man = {"workload": workload, "seed": seed, "profile": p}
    if workload == "changefeed":
        t = events_table(rng, p["events"], 0, p)
        d.add("events", t)
        _write(t, f"{out}/events.parquet")
        # open-loop rows for `seconds`: `ts` is stamped when the
        # generator thread in the harness writes the slice, so the plan
        # carries a slice id; ids continue after the batch changelog's
        per = p["rate"] * p["slice_ms"] // 1000
        n_open = 0 if warmup else per * int(seconds * 1000 // p["slice_ms"])
        first = p["events"]
        plan = events_table(rng, n_open, first, p, ts_us=np.zeros(n_open, dtype=np.int64))
        plan = plan.drop(["ts"]).append_column(
            "slice", pa.array(np.arange(n_open, dtype=np.int64) // per))
        d.add("plan", plan)
        _write(plan, f"{out}/stream_plan.parquet")
        first += n_open
        for s in range(p["backlog_slices"]):
            t = events_table(rng, p["backlog_rows"], first, p)
            first += p["backlog_rows"]
            d.add(f"backlog{s}", t)
            _write(t, f"{out}/backlog/events.parquet/slice-{s:05d}.parquet")
        man.update(events=p["events"], slice_ms=p["slice_ms"], slice_rows=per,
                   open_rows=n_open, backlog_rows=p["backlog_rows"] * p["backlog_slices"])
    else:
        t, planted = documents_table(rng, p)
        d.add("documents", t)
        _write(t, f"{out}/documents.parquet")
        man.update(docs=t.num_rows, planted=planted)
    man["digest"] = d.hexdigest()
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(man, f)
    return man
